"""Spatial joins: bbox prefilter, point-in-polygon, cell-ring kNN.

Spark-first strategy per SURVEY.md §2.D:

- D1/D2 bbox join: the polygon side is tiny (a query layer) ->
  ``broadcast()`` + plain min/max range predicates. At 100 TB the
  image-side bbox columns double as Iceberg/parquet min-max skipping
  keys, so the same predicates prune files before any scan.
- D3 polygon clip: two-stage — (1) cheap bbox predicate (pushed to the
  scan), (2) exact ray-casting PIP in an Arrow-batched pandas UDF.
  Optionally a cell-cover equi-join replaces (1) when polygons are
  many (cover cells pre-computed driver-side per polygon).
- D6 kNN: index points by cell, probe expanding Chebyshev rings; the
  candidate set is joined cell-to-cell (shuffle equi-join, never a
  cross join), then ``row_number`` over (query, dist2) takes top-k.
  The ring guarantee: stop expanding once the k-th best candidate is
  closer than the nearest possible point of the next unexplored ring.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from ..functions import cells, geometry


def _rings_bbox(rings: list) -> tuple:
    """(min_lon, min_lat, max_lon, max_lat) over ALL rings — a flattened
    MultiPolygon ring list (normalize_geometry output) puts disjoint
    shells after index 0, so a shells-only bbox would drop their points
    (bug class fixed once in clip_points; every clip operator must use
    this shared helper, not re-derive the box)."""
    allv = np.vstack([np.asarray(r, dtype=np.float64) for r in rings])
    return (float(allv[:, 0].min()), float(allv[:, 1].min()),
            float(allv[:, 0].max()), float(allv[:, 1].max()))


def pip_contains_udf(rings: list):
    """Vectorized point-in-polygon predicate UDF for a FIXED polygon
    (broadcast by closure — the reference's single-request clip shape,
    test2.py:258-272)."""
    rings_arr = [np.asarray(r, dtype=np.float64) for r in rings]

    @F.pandas_udf(BooleanType())
    def contains(lon: pd.Series, lat: pd.Series) -> pd.Series:
        inside = geometry.points_in_polygon(lon.to_numpy(), lat.to_numpy(), rings_arr)
        return pd.Series(inside)

    return contains


# rings with at most this many non-horizontal edges total clip via the
# literal codegen predicate (no Python crossing); bigger geometries fall
# back to the Arrow kernel (codegen size and JVM constant-pool bounds)
_PIP_LITERAL_MAX_EDGES = 64


def _count_pip_edges(rings: list) -> int:
    total = 0
    for ring in rings:
        r = geometry.close_ring(ring)
        for (xi, yi), (xj, yj) in zip(r[:-1], r[1:]):
            if yi != yj:
                total += 1
    return total


def _pip_literal_pred(rings: list, lon_col: str, lat_col: str,
                      seed_col: str | None = None):
    """Even-odd ray-cast against a FIXED small ring list as a LITERAL
    whole-stage-codegen predicate — no Python workers, no Arrow hop,
    no per-row ring-array walking (a boxed lambda evaluation over a
    rings column was measured GC-bound, see :func:`cell_cover_join`;
    here every coordinate is a compiled double literal).

    Bit-compatible with :func:`..functions.geometry.points_in_polygon`:
    per edge the crossing abscissa evaluates the identical float64
    expression ``(xj-xi)*(y-yi)/(yj-yi)+xi`` (the edge deltas are
    python-float differences — the same IEEE subtraction numpy does),
    horizontal edges are skipped, and summing crossings over all rings
    then testing oddness equals the kernel's XOR chain. This is also
    literally the engine twin of the oracle's ``_raycast_sql``.

    Callers evaluate it above a :func:`_pip_barrier` projection and
    pass that projection's column as ``seed_col``: the crossing sum is
    seeded with ``seed_col * 0`` (provably zero, never folded or
    split), so the predicate REQUIRES the barrier column — column
    pruning cannot drop it, the nondeterministic Project survives, and
    the filter stays above it reading materialized lon/lat columns
    instead of substituted derived trees."""
    x, y = F.col(lon_col), F.col(lat_col)
    # pmod(barrier, 1) == 0 always but is not algebraically simplified
    # (Spark 4 folds `x * 0`, which silently removed the barrier
    # reference and resurrected the pushdown — r7 plans)
    total = F.pmod(F.col(seed_col), F.lit(1)) if seed_col else F.lit(0).cast("long")
    for ring in rings:
        r = geometry.close_ring(ring)
        for (xi, yi), (xj, yj) in zip(r[:-1], r[1:]):
            xi, yi, xj, yj = float(xi), float(yi), float(xj), float(yj)
            if yi == yj:
                continue
            cond = (
                ((F.lit(yi) > y) != (F.lit(yj) > y))
                & (x < F.lit(xj - xi) * (y - F.lit(yi)) / F.lit(yj - yi) + F.lit(xi))
            )
            total = total + F.when(cond, F.lit(1)).otherwise(F.lit(0))
    return (total % 2) == 1


_PIP_BARRIER_COL = "__pip_barrier"


def _pip_barrier(df: DataFrame) -> DataFrame:
    """Append a nondeterministic throwaway column, making this Project a
    PREDICATE-PUSHDOWN BARRIER: filters above it cannot be pushed below
    (the optimizer refuses to push through a projection with
    nondeterministic fields). Needed because the literal ray-cast
    references lon/lat once per edge — pushed through a derived-column
    projection (the _pts expressions), the optimizer substitutes the
    whole lon/lat trees into EVERY edge term and codegen'd Filter
    conditions get no common-subexpression elimination: measured 3.1s
    vs 0.19s at sf0.1. Guarding the PREDICATE does not work — Spark 4
    happily pushes nondeterministic predicates through a deterministic
    Project (verified in r7 plans); the nondeterminism must sit in the
    projection itself. Callers drop the column right after the clip, so a
    caller column of the same name is refused, never reused or dropped."""
    if _PIP_BARRIER_COL in df.columns:
        raise ValueError(f"input already has a column named {_PIP_BARRIER_COL!r}, "
                         "which the polygon clip uses internally")
    return df.withColumn(_PIP_BARRIER_COL, F.monotonically_increasing_id())


def clip_points(points: DataFrame, rings: list, lon_col: str = "longitude", lat_col: str = "latitude") -> DataFrame:
    """Exact polygon clip of a point table: bbox predicate (Catalyst,
    pushed to the scan) then exact PIP refinement — the engine form of
    ``rasterio.mask.mask(..., crop=True)`` center containment
    (test2.py:1272). Small fixed rings refine via the literal codegen
    ray-cast (zero Python crossings); large ones via the Arrow kernel.
    Both evaluate the identical IEEE expression tree (bit-equal,
    test-asserted)."""
    min_lon, min_lat, max_lon, max_lat = _rings_bbox(rings)
    boxed = points.filter(
        (F.col(lon_col) >= min_lon) & (F.col(lon_col) <= max_lon)
        & (F.col(lat_col) >= min_lat) & (F.col(lat_col) <= max_lat)
    )
    if _count_pip_edges(rings) <= _PIP_LITERAL_MAX_EDGES:
        return (
            _pip_barrier(boxed)
            .filter(_pip_literal_pred(rings, lon_col, lat_col,
                                      seed_col=_PIP_BARRIER_COL))
            .drop(_PIP_BARRIER_COL)
        )
    return boxed.filter(pip_contains_udf(rings)(F.col(lon_col), F.col(lat_col)))


def clip_points_union(points: DataFrame, polygons: list,
                      lon_col: str = "longitude", lat_col: str = "latitude") -> DataFrame:
    """D7: clip against the UNION of several polygons (each a ring list)
    — the reference's turf-union-then-clip flow (slope.js:406-427) with
    union semantics fused into the predicate: overall-bbox prefilter
    (Catalyst, scan-pushed) then OR-of-even-odd PIP refinement in one
    Arrow pass. No merged geometry is materialized; overlapping regions
    are counted once."""
    min_lon, min_lat, max_lon, max_lat = _rings_bbox(
        [r for p in polygons for r in p]
    )
    boxed = points.filter(
        (F.col(lon_col) >= min_lon) & (F.col(lon_col) <= max_lon)
        & (F.col(lat_col) >= min_lat) & (F.col(lat_col) <= max_lat)
    )
    if sum(_count_pip_edges(p) for p in polygons) <= _PIP_LITERAL_MAX_EDGES:
        pred = _pip_literal_pred(polygons[0], lon_col, lat_col,
                                 seed_col=_PIP_BARRIER_COL)
        for p in polygons[1:]:  # union == OR of per-polygon even-odd
            pred = pred | _pip_literal_pred(p, lon_col, lat_col,
                                            seed_col=_PIP_BARRIER_COL)
        return _pip_barrier(boxed).filter(pred).drop(_PIP_BARRIER_COL)
    polys_arr = [[np.asarray(r, dtype=np.float64) for r in p] for p in polygons]

    @F.pandas_udf(BooleanType())
    def contains(lon: pd.Series, lat: pd.Series) -> pd.Series:
        inside = geometry.points_in_union(lon.to_numpy(), lat.to_numpy(), polys_arr)
        return pd.Series(inside)

    return boxed.filter(contains(F.col(lon_col), F.col(lat_col)))


def clip_points_multi(points: DataFrame, polygons: dict[str, list],
                      lon_col: str = "longitude", lat_col: str = "latitude",
                      tag_col: str = "poly") -> DataFrame:
    """Clip ONE point scan against SEVERAL tagged polygons in a single
    Arrow pass: returns the points columns + ``tag_col``, one row per
    (point, containing polygon) — the same output as unioning
    ``clip_points`` per polygon, at 1/len(polygons) the scan cost.

    Shape: overall-bbox Catalyst prefilter (pushed to the scan), then
    one pandas UDF evaluates every polygon's own bbox short-circuit +
    exact even-odd PIP and emits the matching tags as an array;
    ``explode`` drops non-members. Right for a HANDFUL of query
    polygons (the reference's request shapes — each polygon's rings
    ride the UDF closure); for 10^5-polygon layers use
    ``cell_cover_join``, which meets on a cell key instead of
    broadcasting geometry.

    ``polygons`` maps tag -> ring list (shell + holes, every ring a
    point list)."""
    from pyspark.sql.types import ArrayType, StringType

    items = [
        (tag, [np.asarray(r, dtype=np.float64) for r in rings], _rings_bbox(rings))
        for tag, rings in polygons.items()
    ]
    mnx = min(b[0] for _, _, b in items)
    mny = min(b[1] for _, _, b in items)
    mxx = max(b[2] for _, _, b in items)
    mxy = max(b[3] for _, _, b in items)

    boxed = points.filter(
        (F.col(lon_col) >= mnx) & (F.col(lon_col) <= mxx)
        & (F.col(lat_col) >= mny) & (F.col(lat_col) <= mxy)
    )
    if sum(_count_pip_edges(r) for _, r, _ in items) <= _PIP_LITERAL_MAX_EDGES:
        # literal codegen membership per polygon, one row per (point,
        # tag) via a broadcast cross join with the tiny tag table and a
        # single CASE-dispatched parity filter. Deliberately NO
        # explode(array(when(...)))) — expressions inside a Generate
        # re-evaluate per output row, interpreted (the measured r6
        # trap), and array_compact rewrites to a CodegenFallback
        # ArrayFilter that drops the whole projection to interpreted
        # eval; this form is end-to-end whole-stage codegen. The filter
        # references both join sides, so it cannot be pushed below the
        # join into the (possibly derived) point projection.
        tags_df = F.broadcast(points.sparkSession.createDataFrame(
            [(tag,) for tag, _, _ in items], f"{tag_col} string"))
        pred = F.lit(False)
        for tag, rings, (bx0, by0, bx1, by1) in items:
            own_box = (
                (F.col(lon_col) >= bx0) & (F.col(lon_col) <= bx1)
                & (F.col(lat_col) >= by0) & (F.col(lat_col) <= by1)
            )
            pred = F.when(
                F.col(tag_col) == tag,
                own_box & _pip_literal_pred(rings, lon_col, lat_col),
            ).otherwise(pred)
        return boxed.crossJoin(tags_df).filter(pred)

    @F.pandas_udf(ArrayType(StringType()))
    def tags(lon: pd.Series, lat: pd.Series) -> pd.Series:
        x, y = lon.to_numpy(), lat.to_numpy()
        out: list[list] = [[] for _ in range(len(x))]
        for tag, rings, (bx0, by0, bx1, by1) in items:
            m = (x >= bx0) & (x <= bx1) & (y >= by0) & (y <= by1)
            if not m.any():
                continue
            inside = np.zeros(len(x), dtype=bool)
            inside[m] = geometry.points_in_polygon(x[m], y[m], rings)
            for i in np.flatnonzero(inside):
                out[i].append(tag)
        return pd.Series(out)

    return boxed.withColumn(tag_col, F.explode(tags(F.col(lon_col), F.col(lat_col))))


def cell_cover_join(points: DataFrame, polygons: DataFrame,
                    level: int = 8,
                    lon_col: str = "longitude", lat_col: str = "latitude",
                    max_layer_rows: int = 250_000) -> DataFrame:
    """Point-in-polygon join for LARGE polygon sets: cell-cover equi-join
    + exact PIP refinement.

    ``bbox_join``/``clip_points`` broadcast the polygons — right for the
    reference's one-request shapes, wrong for 10^5+ polygon layers. Here
    both sides meet on a Z-order cell key instead:

    1. each polygon explodes (Arrow UDF) to the ``level`` cells covering
       its bbox — narrow rows (cell, polygon_id, interior); cells wholly
       inside the polygon are pre-classified so their points skip the
       ray-cast entirely (exact work = boundary cells);
    2. each point gets its cell id in pure codegen
       (:func:`cells.cell_id_col`);
    3. a shuffle equi-join on the cell produces candidates — each point
       only ever meets polygons whose cover shares its cell, so the
       pair count is output-shaped, not |points| x |polygons|; the
       candidate rows stay geometry-free (cell, polygon_id, interior);
    4. exact ray-cast over the boundary-cell candidates only, in the
       vectorized numpy kernel. Ring geometry is resolved inside the
       kernel from a Spark broadcast variable ({polygon_id: parsed
       ndarrays}, one copy per worker), so neither the JVM rows nor the
       Arrow transfer ever hold a per-row geometry string (~250 B/row
       of pure allocator+transfer garbage before; GC time was the
       dominant cost of this stage at 32 cores,
       BENCH/r06_diag_heap.json). Interior-cell rows short-circuit
       inside the kernel (no ray-cast — one boolean copy).

    Hot cells (dense tiles) are ordinary join skew — AQE skew-join or
    ``salted_repartition`` on the cell key applies. Returns the points
    columns + ``polygon_id`` (a point duplicates per containing polygon,
    exactly like a SQL join).

    ``polygons`` needs (polygon_id, geojson, min_lon, min_lat,
    max_lon, max_lat) — the ``synth.polygons_df`` shape. The layer is
    materialized with ONE small driver job at call time, capped at
    ``max_layer_rows`` (raises above it).

    Measured negative results, deleted — do not rebuild them:

    - r06 adaptive per-polygon cover levels (``level=None``): shrank
      the boundary band ~10x, but every candidate still crossed Arrow
      (11.8M -> 10.0M) while the point side's per-level explode
      multiplied the join's probe side 4x — slower at 8 cores (5.8/7.0
      vs 4.9/5.1 s) and at 32 (12-14 vs 4.7 s), BENCH/r06_inversion_ab.json;
    - r06 pure-Catalyst parity ray-cast over JVM-parsed ring arrays
      (zero Python stages): its boxed per-edge lambda evaluation made
      more JVM garbage than this kernel — 14.5-14.8 s vs 4.6-6.6 s,
      BENCH/r06_diag_cell_cover_scorer.json;
    - r07 per-polygon_id LITERAL codegen parity dispatch: the predicate
      restructures the join and lands in a substituted join condition
      — 2.76 s vs 1.69 s at 32 cores, OPTIMIZATION_r07.md.
    """
    import json as _json

    # the polygon layer is broadcast-small by construction (it rode a
    # broadcast join before this refactor) — collecting it once on the
    # driver is the same O(|polygons|) bound, and the broadcast variable
    # deserializes ONCE per worker instead of shipping geometry per row.
    # limit()+1 bounds the driver exposure BEFORE materializing anything:
    # one job either returns the whole layer or proves it's over the cap.
    # rings are parsed in Python, as the cover stage does, so corrupt
    # GeoJSON raises the decoder's own error
    taken = polygons.select(
        "polygon_id", "geojson").limit(max_layer_rows + 1).collect()
    if len(taken) > max_layer_rows:
        raise ValueError(
            f"polygon layer exceeds max_layer_rows={max_layer_rows} for "
            f"the driver-collected broadcast; split the layer or raise "
            f"the cap")
    cand, lon_col, lat_col = cell_cover_candidates(
        points, polygons, level, lon_col, lat_col)
    rings_map = {
        r[0]: [np.asarray(rr, dtype=np.float64)
               for rr in _json.loads(r[1])["coordinates"]]
        for r in taken
    }
    bc = points.sparkSession.sparkContext.broadcast(rings_map)

    @F.pandas_udf(BooleanType())
    def pip_pair(lon: pd.Series, lat: pd.Series, pid: pd.Series,
                 interior: pd.Series) -> pd.Series:
        out = interior.to_numpy(dtype=bool).copy()  # interior rows are in
        x, y = lon.to_numpy(), lat.to_numpy()
        pend = ~out
        rm = bc.value
        for p in pid[pend].unique():
            m = pend & (pid == p).to_numpy()
            out[m] = geometry.points_in_polygon(x[m], y[m], rm[p])
        return pd.Series(out)

    # ONE scan, ONE join, ONE Arrow pass over 4 slim columns. A
    # split-union (interior rows bypassing Python) was measured to plan
    # the candidate join TWICE — AQE re-optimizes the union branches
    # independently and exchange reuse missed (r06_diag_phase.json:
    # reused_exchange false) — and a double scan is the wrong trade at
    # 100 TB; interior rows now cost ~26 transferred bytes each instead
    # of a second pass over the whole candidate subtree.
    return (
        cand.filter(pip_pair(F.col(lon_col), F.col(lat_col),
                             F.col("polygon_id"), F.col("interior")))
        .drop("cell", "interior")
    )


def cell_cover_candidates(points: DataFrame, polygons: DataFrame,
                          level: int = 8,
                          lon_col: str = "longitude",
                          lat_col: str = "latitude"):
    """The candidate-generation stages of :func:`cell_cover_join`
    (polygon cell cover at ``level`` -> point cell key -> cell
    equi-join -> bbox prune), without the final PIP refinement —
    factored out so the candidate phase can be timed and counted on its
    own. Returns (candidates, lon_col, lat_col); candidate rows carry
    the points columns plus (cell, polygon_id, interior) and no
    geometry."""
    import json as _json

    from ..functions import cells as _cells

    def cover(pdf_iter):
        for pdf in pdf_iter:
            rows = {"cell": [], "polygon_id": [], "interior": [],
                    "bx0": [], "by0": [], "bx1": [], "by1": []}
            for r in pdf.itertuples(index=False):
                cover_cells = _cells.cover_bbox(
                    r.min_lon, r.min_lat, r.max_lon, r.max_lat, level
                )
                rings_list = [np.asarray(rr, dtype=np.float64)
                              for rr in _json.loads(r.geojson)["coordinates"]]
                # interior-cell shortcut (SURVEY D3): cells wholly inside
                # skip the per-point ray-cast at join time — exact work is
                # O(boundary cells), not O(polygon area)
                boxes = np.array([_cells.cell_bounds(int(c)) for c in cover_cells])
                interior = geometry.classify_cells_interior(boxes, rings_list)
                nc = len(cover_cells)
                rows["cell"].extend(cover_cells.tolist())
                rows["polygon_id"].extend([r.polygon_id] * nc)
                rows["interior"].extend(interior.tolist())
                # the polygon's exact bbox rides on each cover row so the
                # join can drop bbox-outside candidates in codegen BEFORE
                # the PIP kernel: cover cells are coarse, so most boundary-
                # cell points are outside the polygon bbox and can never
                # be PIP-inside (zero crossings) — filtering them is
                # result-preserving and shrinks the Arrow transfer
                rows["bx0"].extend([r.min_lon] * nc)
                rows["by0"].extend([r.min_lat] * nc)
                rows["bx1"].extend([r.max_lon] * nc)
                rows["by1"].extend([r.max_lat] * nc)
            yield pd.DataFrame(rows)

    # (cell, polygon_id, interior, bbox) only — the rings geometry would
    # otherwise be duplicated into every covering-cell row and shuffled
    # cover-size times; the PIP kernel reads it from a broadcast variable
    poly_cells = polygons.mapInPandas(
        cover, "cell long, polygon_id string, interior boolean, "
               "bx0 double, by0 double, bx1 double, by1 double"
    )
    if "cell" in points.columns:
        # the join key must never silently clobber a caller column
        raise ValueError("column 'cell' already present")
    pts = points.withColumn(
        "cell", _cells.cell_id_col(F.col(lon_col), F.col(lat_col), level)
    )
    cand = (
        pts.join(poly_cells, "cell")
        # bbox prune (codegen, before the PIP kernel): a point outside the
        # polygon's bbox has zero ray crossings, so dropping it cannot
        # change the join result; interior-cell rows skip the test
        .filter(
            F.col("interior")
            | ((F.col(lon_col) >= F.col("bx0")) & (F.col(lon_col) <= F.col("bx1"))
               & (F.col(lat_col) >= F.col("by0")) & (F.col(lat_col) <= F.col("by1")))
        )
        .drop("bx0", "by0", "bx1", "by1")
    )
    return cand, lon_col, lat_col


def bbox_join(images: DataFrame, polygons: DataFrame, how: str = "inner") -> DataFrame:
    """Which images intersect which polygons — the reference's file-level
    prefilter (test2.py:94-110) and the catalog's ``findFilesInBounds``
    (doesSamples.py:488-494), as a broadcast range join."""
    p = F.broadcast(polygons.select(
        "polygon_id",
        F.col("min_lon").alias("p_min_lon"), F.col("min_lat").alias("p_min_lat"),
        F.col("max_lon").alias("p_max_lon"), F.col("max_lat").alias("p_max_lat"),
    ))
    cond = (
        (images["min_lon"] <= p["p_max_lon"]) & (images["max_lon"] >= p["p_min_lon"])
        & (images["min_lat"] <= p["p_max_lat"]) & (images["max_lat"] >= p["p_min_lat"])
    )
    return images.join(p, cond, how)


def knn_join(
    points: DataFrame,
    queries: DataFrame,
    k: int = 1,
    level: int = 14,
    max_ring: int = 2,
    point_cols: tuple = ("longitude", "latitude"),
    query_cols: tuple = ("lon", "lat"),
    num_partitions: int | None = None,
) -> DataFrame:
    """k-nearest-points per query via cell-ring expansion (SURVEY.md D6;
    reference semantics = the JS min-distance reduce emitted by the pyc
    ``tiff_processor_enhanced``: kNN with k=1 over all points).

    Plan shape: points get a cell id (pure codegen); each query emits its
    ring-0..max_ring candidate cell ids (small pandas UDF + explode);
    candidates come from a cell equi-join (shuffle hash join on int64
    keys — never a cross join); top-k via ``row_number`` on
    (dist2, image_id, pixel_idx) for deterministic ties.

    Guarantee: a result row is exact if its dist is <= the nearest
    possible distance of the first UNsearched ring; rows are flagged
    ``exact`` accordingly (queries in empty neighborhoods widen with
    ``max_ring``).
    """
    plon, plat = point_cols
    qlon, qlat = query_cols
    # cells are 360/2^L wide but only 180/2^L tall; the ring-search
    # guarantee must use the SMALLER dimension (a nearer point can hide in
    # the first unsearched ring at distance max_ring * cell_h)
    cell_min_deg = 180.0 / (1 << level)

    spark = points.sparkSession
    n_parts = num_partitions or spark.sparkContext.defaultParallelism
    pts = points.withColumn("_cell", cells.cell_id_col(F.col(plon), F.col(plat), level))
    # The planner picks the broadcast side of the cell join from size
    # estimates (spark.sql.autoBroadcastJoinThreshold, 10 MB by default).
    # On a large point table it broadcasts the candidate cells, and the
    # join inherits the POINTS side's partitioning — a single-file
    # parquet scan would make the whole fan-out single-task. Co-locate
    # points by cell across n_parts tasks (at real scale the table is
    # already written cell-partitioned and this is a no-op repartition).
    # A point table under the threshold may be broadcast itself, keyed by
    # _cell, on every call: perfbench spatial_query's cached 8-image
    # table (estimated at 7.1 MB) is, for a one-query frame built with
    # createDataFrame; its cached 48-query frame gets the candidates
    # broadcast.
    if points.rdd.getNumPartitions() < n_parts:
        pts = pts.repartition(n_parts, "_cell")

    def ring_cells(pdf_iter):
        for pdf in pdf_iter:
            qx, qy = cells.tile_xy(pdf[qlon].to_numpy(), pdf[qlat].to_numpy(), level)
            rows = []
            for qid, x, y in zip(pdf["query_id"], qx, qy):
                ring = cells.k_ring_xy(int(x), int(y), level, max_ring)
                rows.append({"query_id": qid, "_cells": ring.tolist()})
            yield pd.DataFrame(rows)

    # no repartition here: the candidate-cell side (a few ring cells per
    # query) is either broadcast or the streamed side of a broadcast
    # join — a shuffle in front of either is pure wasted wall-clock
    # (plan-verified: Exchange feeding BroadcastExchange, r07 plans)
    cand_cells = (
        queries.select("query_id", qlon, qlat)
        .mapInPandas(ring_cells, "query_id string, _cells array<long>")
        .select("query_id", F.explode("_cells").alias("_cell"))
    )
    q = queries.select("query_id", F.col(qlon).alias("_qlon"), F.col(qlat).alias("_qlat"))
    id_cols = [c for c in points.columns if c in ("image_id", "pixel_idx", "band")]
    cand = (
        cand_cells.join(pts, "_cell")
        .join(F.broadcast(q), "query_id")
        .withColumn(
            "dist2",
            (F.col(plon) - F.col("_qlon")) * (F.col(plon) - F.col("_qlon"))
            + (F.col(plat) - F.col("_qlat")) * (F.col(plat) - F.col("_qlat")),
        )
        # slim before the window shuffle: only ids + rank key cross the wire
        .select("query_id", *id_cols, plon, plat, "dist2")
    )
    order = [F.col("dist2"), *[F.col(c) for c in id_cols if c in ("image_id", "pixel_idx")]]
    w = Window.partitionBy("query_id").orderBy(*order)
    topk = (
        cand.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
    )
    # exactness: kth dist must be within the guaranteed-searched radius
    # (max_ring ring's nearest edge, conservatively max_ring * min(cell
    # width, cell height) — the height is the binding dimension)
    guard = (max_ring * cell_min_deg) ** 2
    return (
        topk.withColumn("exact", F.col("dist2") <= F.lit(guard))
        .drop("_cell", "_qlon", "_qlat")
    )


def classify_clip_geometry(rings: list) -> str:
    """D4 trigger classification (test2.py:1264-1357), re-expressed as
    DATA conditions: the reference's 4-rung try/except ladder fires on
    rasterio exceptions, which deterministic numpy kernels don't throw —
    what actually varies is the GEOMETRY's usability.

    - 'clip':   shell has >= 3 distinct finite vertices and nonzero
                bbox area -> exact PIP is well-defined (reference rung 1;
                rung 2, mask without crop, has IDENTICAL membership for a
                point table — crop only changes raster extent).
    - 'window': degenerate shell (collinear/duplicate vertices are fine
                for bbox purposes) whose bbox is finite with positive
                extent on at least one axis -> bbox-window sample
                (reference rung 3, the pixel-window read).
    - 'center': nothing usable (empty, non-finite everywhere, or
                zero-extent bbox) -> the D5 center-square sample
                (reference rung 4).

    Usability is judged over ALL rings (a NaN hole poisons the PIP
    kernel's bbox prefilter just like a NaN shell — the reference's
    mask() would throw on either, so both must fall through), the shell
    must additionally enclose nonzero area (collinear >= 3-vertex shells
    clip to nothing; the ladder's job is to fall to the window instead),
    and the window bbox spans every ring's FINITE coordinates (the
    _rings_bbox multi-shell invariant).
    """
    return _classify_and_bbox(rings)[0]


def _classify_and_bbox(rings: list) -> tuple[str, tuple | None]:
    """(rung, finite-coords bbox or None) — shared by the public
    classifier and the ladder so both use identical geometry logic."""
    nonempty = [np.asarray(r, dtype=np.float64).reshape(-1, 2)
                for r in (rings or []) if len(r)]
    if not nonempty:
        return "center", None
    allv = np.vstack(nonempty)
    finite = allv[np.isfinite(allv).all(axis=1)]
    bbox = None
    if len(finite):
        bbox = (float(finite[:, 0].min()), float(finite[:, 1].min()),
                float(finite[:, 0].max()), float(finite[:, 1].max()))
    shell = nonempty[0]
    shell_ok = bool(np.isfinite(shell).all())
    if shell_ok:
        closed = shell if not np.array_equal(shell[0], shell[-1]) else shell[:-1]
        shell_ok = (
            len(np.unique(closed, axis=0)) >= 3
            and abs(geometry.signed_area(shell)) > 0.0
        )
    if shell_ok and len(finite) == len(allv):
        return "clip", bbox
    if bbox is not None and (bbox[2] > bbox[0] or bbox[3] > bbox[1]):
        return "window", bbox
    return "center", bbox


def clip_fallback_ladder(points: DataFrame, rings: list,
                         lon_col: str = "longitude", lat_col: str = "latitude",
                         frac: float = 0.1,
                         extent: tuple | None = None) -> tuple[DataFrame, str]:
    """D4: the reference's clip fallback ladder as an engine operator —
    returns (clipped points, rung applied). Rung selection is the
    driver-side geometry classification above (no data scan); only the
    'center' rung needs the data extent to place the D5 square, exactly
    like the reference reads the raster's own bounds for its final
    fallback — pass ``extent`` = (min_lon, min_lat, max_lon, max_lat)
    when the caller already holds it, else one tiny 4-value aggregate
    runs."""
    rung, bbox = _classify_and_bbox(rings)
    if rung == "clip":
        return clip_points(points, rings, lon_col=lon_col, lat_col=lat_col), rung
    if rung == "window":
        mnx, mny, mxx, mxy = bbox
        boxed = points.filter(
            (F.col(lon_col) >= mnx) & (F.col(lon_col) <= mxx)
            & (F.col(lat_col) >= mny) & (F.col(lat_col) <= mxy)
        )
        return boxed, rung
    if extent is None:
        b = points.agg(
            F.min(lon_col), F.max(lon_col), F.min(lat_col), F.max(lat_col)
        ).collect()[0]
        if b[0] is None:
            return points.limit(0), "center"
        extent = (b[0], b[2], b[1], b[3])
    ring = geometry.center_sample_ring(extent, frac)
    return clip_points(points, [ring.tolist()], lon_col=lon_col, lat_col=lat_col), "center"
