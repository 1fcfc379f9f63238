"""Spatial joins: bbox prefilter, point-in-polygon, cell-ring kNN.

Spark-first strategy per SURVEY.md §2.D:

- D1/D2 bbox join: the polygon side is tiny (a query layer) ->
  ``broadcast()`` + plain min/max range predicates. At 100 TB the
  image-side bbox columns double as Iceberg/parquet min-max skipping
  keys, so the same predicates prune files before any scan.
- D3 polygon clip: every point-in-polygon operator runs one kernel
  against a driver-side polygon layer (:func:`_cover_match`): a point
  meets only the polygons whose bbox cover holds its cell, found by
  binary search; interior cells settle without a ray-cast (as in Raster
  Intervals) and the rest is ray-cast per polygon.
  :func:`clip_points`, :func:`clip_points_union` and
  :func:`clip_points_multi` run it over their 1 to N polygons as one
  scalar Arrow UDF of the coordinates behind an overall-bbox Catalyst
  filter (pushed to the scan): only the two coordinate columns cross
  into Python, and Catalyst prunes the rest as usual.
  :func:`cell_cover_join` runs it in one ``mapInArrow`` over a collected
  layer frame. No join, no shuffle, no pandas UDF and no code generated
  per polygon.
- D6 kNN: key points by row-major tile id and probe each query's
  Chebyshev ring square. :func:`knn_join` has the shape of
  :func:`cell_cover_join`: the driver sorts every query's ring cells
  into one index, one ``mapInArrow`` over the points finds
  their queries by binary search and keeps each query's best rows per
  batch, then ``row_number`` over (query, dist2) takes top-k. No join,
  so never a cross join. The ring guarantee: a row is exact when the
  k-th best candidate is closer than the nearest possible point of the
  first unsearched ring.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, BooleanType, IntegerType, LongType, StructField,
                               StructType)

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


# the clip operators' cover level: cell_cover_join's default
_CLIP_LEVEL = 8


def _clip(points: DataFrame, polygons: list, lon_col: str, lat_col: str,
          tag_col: str | None = None, tags: list | None = None) -> DataFrame:
    """The clip operators' plan: the overall bbox of ``polygons`` (each a
    ring list) as a Catalyst filter, which the scan can prune on, then
    :func:`_cover_match` over them at :data:`_CLIP_LEVEL` as a scalar
    Arrow UDF of ``(lon_col, lat_col)``. Without a ``tag_col`` the UDF is
    a keep mask, so each matched point comes once and no column is
    added; with one it is the list of the polygons holding the point,
    exploded into one row per (point, polygon) tagged from ``tags``.
    The UDF reads only the coordinates: Spark keeps the other columns on
    the JVM side, and Catalyst prunes what the caller does not read."""
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf

    if tag_col is not None and tag_col in points.columns:
        raise ValueError(f"points already have a column named {tag_col!r}, "
                         "which the point-in-polygon pass emits")
    rings = [[geometry.close_ring(r) for r in p] for p in polygons]
    box = np.array([_rings_bbox(p) for p in rings], dtype=np.float64).reshape(-1, 4)
    boxed = points.filter(
        (F.col(lon_col) >= float(box[:, 0].min())) & (F.col(lon_col) <= float(box[:, 2].max()))
        & (F.col(lat_col) >= float(box[:, 1].min())) & (F.col(lat_col) <= float(box[:, 3].max()))
    )
    index = _cover_index(rings, box, _CLIP_LEVEL)
    if tag_col is None:
        def keep(lon, lat):
            pt = _cover_match(index, _coords(lon), _coords(lat), _CLIP_LEVEL)[1]
            mask = np.zeros(len(lon), dtype=bool)
            mask[pt] = True
            return pa.array(mask)

        return boxed.filter(arrow_udf(keep, BooleanType())(lon_col, lat_col))
    owner = index[1]

    def hits(lon, lat):
        _, pt, ent = _cover_match(index, _coords(lon), _coords(lat), _CLIP_LEVEL)
        # pt is non-decreasing: point i's polygons are pt's run of value i
        offsets = np.searchsorted(pt, np.arange(len(lon) + 1)).astype(np.int32)
        return pa.ListArray.from_arrays(pa.array(offsets), pa.array(owner[ent]))

    # polygon positions cross back, not tags: ints leave Python and enter
    # the JVM cheaper than strings, and the JVM looks the tag up
    pos = F.explode(arrow_udf(hits, ArrayType(IntegerType()))(lon_col, lat_col))
    return boxed.select("*", pos.alias(tag_col)).withColumn(
        tag_col, F.array(*map(F.lit, tags))[F.col(tag_col)])


def _coords(col) -> np.ndarray:
    """An Arrow coordinate column as float64 numpy; a null becomes NaN."""
    import pyarrow as pa

    return col.cast(pa.float64()).to_numpy(zero_copy_only=False)


def clip_points(points: DataFrame, rings: list, lon_col: str = "longitude", lat_col: str = "latitude") -> DataFrame:
    """Exact polygon clip of a point table: the engine form of
    ``rasterio.mask.mask(..., crop=True)`` center containment
    (test2.py:1272). The bbox predicate (Catalyst, pushed to the scan),
    then the cover kernel over a one-polygon layer as a keep mask; the
    rows are the points inside ``rings`` (shell + holes, even-odd), each
    once, with no column added."""
    return _clip(points, [rings], lon_col, lat_col)


def clip_points_union(points: DataFrame, polygons: list,
                      lon_col: str = "longitude", lat_col: str = "latitude") -> DataFrame:
    """D7: clip against the UNION of several polygons (each a ring list)
    — the reference's turf-union-then-clip flow (slope.js:406-427). No
    merged geometry is materialized: the cover kernel's keep mask over
    the N polygons holds a point once however many members contain it,
    so overlapping regions count once (stacking every ring into one
    even-odd polygon would XOR an overlap out)."""
    return _clip(points, polygons, lon_col, lat_col)


def clip_points_multi(points: DataFrame, polygons: dict[str, list],
                      lon_col: str = "longitude", lat_col: str = "latitude",
                      tag_col: str = "poly") -> DataFrame:
    """Clip ONE point scan against SEVERAL tagged polygons in a single
    pass: the points columns + ``tag_col``, one row per (point,
    containing polygon) — the rows of ``clip_points`` per polygon,
    tagged and unioned, at one scan. ``polygons`` maps tag -> ring list
    (shell + holes, every ring a point list). A points column named
    ``tag_col`` is refused."""
    return _clip(points, list(polygons.values()), lon_col, lat_col, tag_col, list(polygons))


_MAX_LAYER_ROWS = 250_000


def cell_cover_join(points: DataFrame, polygons: DataFrame,
                    level: int = 8,
                    lon_col: str = "longitude", lat_col: str = "latitude",
                    max_layer_rows: int = _MAX_LAYER_ROWS) -> DataFrame:
    """Point-in-polygon join for LARGE polygon sets: one Arrow pass over
    the points against a cell-cover index of the layer.

    A point only meets the polygons whose cover holds its cell, so the
    pair count is output-shaped, not |points| x |polygons|:

    1. the driver collects the layer (one job, capped at
       ``max_layer_rows``, raises above it), covers each polygon's bbox
       with ``level`` cells (:func:`cells.cover_bbox`) and flags the
       cells wholly inside it (:func:`geometry.classify_cells_interior`);
       the pass's closure holds the sorted cover cells, each cell's
       polygon and flag, and the polygons' ids, rings and bboxes;
    2. one ``mapInArrow`` over the points (:func:`_cover_batches`) gives
       each point its cell id (:func:`cells.cell_id`), expands it to its
       cover entries by binary search, drops the pairs outside the
       polygon's bbox, ray-casts the boundary-cell pairs per polygon
       (interior-cell pairs skip it), and emits the matches by ``take``.

    The clip operators (:func:`clip_points` and its kin) run the same
    kernel (:func:`_cover_match`) over polygons the caller already holds
    on the driver, as a scalar Arrow UDF of the coordinates.

    Returns the points columns + ``polygon_id`` (a point duplicates per
    containing polygon, like a SQL join); a points column named
    ``polygon_id`` is refused, and a null, NaN or infinite coordinate
    never joins. Every points column crosses into Python and Catalyst
    cannot prune through the pass: select what the caller reads first.
    ``polygons`` needs (polygon_id, geojson, min_lon, min_lat, max_lon,
    max_lat) — the ``synth.polygons_df`` shape.

    A/B against the plan it replaced (a cover ``mapInPandas``, a
    broadcast hash join on the cell and an ``ArrowEvalPython`` PIP
    filter over whole candidate rows), 4 cores: per ``spatial_query``
    call 3 jobs, 6 tasks, 1.35 s CPU and no GC instead of 5, 13, 3.53 s
    and 0.9 s GC; ``spatial_query`` pass CPU medians 8.39 -> 6.74 s
    (10/10 interleaved pairs) and 9.69 -> 7.77 s (8/10, a noisier
    batch); same rows at sf0.001-sf0.1.

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
      — 2.76 s vs 1.69 s at 32 cores, OPTIMIZATION_r07.md;
    - a split-union that sent only boundary-cell candidates through
      Python planned the candidate join twice (r06_diag_phase.json:
      reused_exchange false);
    - a driver-built ``LocalRelation`` cover for the equi-join: ~0.2 s,
      inside noise.
    """
    layer, id_field = _collect_layer(polygons, max_layer_rows)
    return _cover_pass(points, layer, level, lon_col, lat_col, id_field)


def cell_cover_candidates(points: DataFrame, polygons: DataFrame,
                          level: int = 8,
                          lon_col: str = "longitude",
                          lat_col: str = "latitude"):
    """:func:`cell_cover_join`'s pass without the ray-cast: every
    (point, polygon) pair whose cells meet and whose point is inside the
    polygon's bbox, so the candidate phase can be counted on its own.
    Returns (candidates, lon_col, lat_col); candidate rows are ``cell``,
    the points columns, ``polygon_id`` and ``interior``, and a points
    column of any of those names is refused."""
    layer, id_field = _collect_layer(polygons, _MAX_LAYER_ROWS)
    return _cover_pass(points, layer, level, lon_col, lat_col, id_field, exact=False), lon_col, lat_col


def _collect_layer(polygons: DataFrame, max_layer_rows: int) -> tuple:
    """((ids, rings, bboxes), ``polygon_id`` field) of a layer frame
    (polygon_id, geojson, min_lon, min_lat, max_lon, max_lat), collected
    in one job. The rings are parsed here, so corrupt GeoJSON raises the
    decoder's own error, a degenerate ring ``close_ring``'s, and a
    polygon without rings a ``ValueError``."""
    import json

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    id_field = StructField("polygon_id", polygons.schema["polygon_id"].dataType)
    # one job: coalesce(1) keeps the limit from planning a second,
    # partition-scanning job; limit()+1 proves the cap before anything
    # larger is materialized
    taken = polygons.select("polygon_id", "geojson", "min_lon", "min_lat", "max_lon", "max_lat") \
        .coalesce(1).limit(max_layer_rows + 1).collect()
    if len(taken) > max_layer_rows:
        raise ValueError(
            f"polygon layer exceeds max_layer_rows={max_layer_rows} for "
            f"the driver-collected index; split the layer or raise "
            f"the cap")
    rings = [[geometry.close_ring(r) for r in json.loads(g)["coordinates"]] for _, g, *_ in taken]
    empty = [r[0] for r, rr in zip(taken, rings) if not rr]
    if empty:
        raise ValueError(f"polygon {empty[0]!r} has no rings")
    box = np.array([r[2:] for r in taken], dtype=np.float64).reshape(-1, 4)
    ids = pa.array([r[0] for r in taken], to_arrow_type(id_field.dataType))
    return (ids, rings, box), id_field


def _cover_pass(points: DataFrame, layer: tuple, level: int, lon_col: str, lat_col: str,
                id_field: StructField, exact: bool = True) -> DataFrame:
    """:func:`cell_cover_join`'s ``mapInArrow``: ``points`` against
    ``layer`` = (ids, rings, bboxes) of the polygons on the driver.

    It emits the points columns plus ``id_field`` per matched (point,
    polygon) pair or, without ``exact``, every candidate pair with its
    ``cell`` first and its ``interior`` flag last. A points column of an
    emitted name is refused. The index rides in the pass's closure, not
    in an explicit broadcast, which would leave one driver temp file
    behind per call. PySpark broadcasts a pickled closure above its 1 MB
    threshold itself, which leaves such a file too: only an index under
    it leaves none."""
    ids, rings, box = layer
    emitted = [id_field.name] + ([] if exact else ["cell", "interior"])
    clash = [c for c in emitted if c in points.columns]
    if clash:
        raise ValueError(f"points already have a column named {clash[0]!r}, "
                         "which the point-in-polygon pass emits")
    fields = [*points.schema.fields, id_field]
    if not exact:
        fields = [StructField("cell", LongType()), *fields, StructField("interior", BooleanType())]
    index = _cover_index(rings, box, level)
    return points.mapInArrow(
        lambda batches: _cover_batches(batches, index, ids, lon_col, lat_col, level,
                                       id_field.name, exact),
        StructType(fields))


def _rect_index(x0, x1, y0, y1, key):
    """Sorted (cell, owner) of one inclusive tile rectangle per owner,
    ``[x0, x1] x [y0, y1]``, with ``key(tx, ty)`` the cell id: cells run
    x-major within a rectangle, equal cells keep owner order, and a
    rectangle with ``x1 < x0`` or ``y1 < y0`` is empty. The index of both
    :func:`_cover_index` (bbox covers) and :func:`knn_join` (ring squares),
    built without a loop over the owners."""
    nx = np.maximum(x1 - x0 + 1, 0)
    ny = np.maximum(y1 - y0 + 1, 0)
    cnt = nx * ny
    owner = np.repeat(np.arange(len(cnt), dtype=np.int32), cnt)
    j = np.arange(len(owner)) - np.repeat(np.cumsum(cnt) - cnt, cnt)
    h = ny[owner]
    cid = key(x0[owner] + j // h, y0[owner] + j % h)
    order = np.argsort(cid, kind="stable")
    return cid[order], owner[order]


def _probe(index_cells, cid):
    """(row, entry) pairs: each of ``cid`` against every equal cell of the
    sorted ``index_cells``, by two binary searches and no loop."""
    lo = np.searchsorted(index_cells, cid, "left")
    n = np.searchsorted(index_cells, cid, "right") - lo
    row = np.repeat(np.arange(len(cid)), n)
    return row, np.arange(len(row)) - np.repeat(np.cumsum(n) - n, n) + np.repeat(lo, n)


def _runs(idx, key):
    """``idx`` grouped by ``key[idx]`` (one stable argsort): one array per
    key value, for a kernel called once per polygon."""
    idx = idx[np.argsort(key[idx], kind="stable")]
    return [r for r in np.split(idx, np.flatnonzero(np.diff(key[idx])) + 1) if len(r)]


def _cover_index(rings: list, box: np.ndarray, level: int) -> tuple:
    """The driver half of :func:`_cover_match`: (sorted cover cells, each
    cell's polygon, its interior flag, polygon rings, polygon bboxes) of
    a layer of closed ring lists and their (n, 4) bboxes.

    Every polygon's bbox cover (:func:`cells.cover_bbox`) is one tile
    rectangle; all of them come from one :func:`cells.tile_xy` call and
    :func:`_rect_index`. Only the cells strictly inside the extent of a
    polygon's vertices go to :func:`geometry.classify_cells_interior`,
    one call per polygon that has any: every other cell has a corner
    outside the polygon or touches an edge's bbox, so the classifier
    rejects it. That is every edge cell of a cover, whose bbox is the
    vertex extent, and every cell of a cover one or two cells wide."""
    tx, ty = cells.tile_xy(box[:, [0, 2]], box[:, [1, 3]], level)
    cover, owner = _rect_index(tx[:, 0], tx[:, 1], ty[:, 1], ty[:, 0],
                               lambda gx, gy: cells.xy_to_cell(gx, gy, level))
    # each polygon's vertex extent; fmin/fmax skip a NaN vertex, whose
    # edges never cross a ray nor overlap a cell
    verts = [r for rr in rings for r in rr]
    lo = np.full((len(rings), 2), np.inf)
    hi = np.full((len(rings), 2), -np.inf)
    if verts:
        of = np.repeat(np.arange(len(rings)), [sum(len(r) for r in rr) for rr in rings])
        verts = np.concatenate(verts)
        np.fmin.at(lo, of, verts)
        np.fmax.at(hi, of, verts)
    cb = np.column_stack(cells.cell_bounds(cover))
    inner = np.flatnonzero((cb[:, 0] > lo[owner, 0]) & (cb[:, 1] > lo[owner, 1])
                           & (cb[:, 2] < hi[owner, 0]) & (cb[:, 3] < hi[owner, 1]))
    interior = np.zeros(len(cover), dtype=bool)
    for run in _runs(inner, owner):
        interior[run] = geometry.classify_cells_interior(cb[run], rings[owner[run[0]]])
    return cover, owner, interior, rings, box


def _cover_match(index: tuple, x: np.ndarray, y: np.ndarray, level: int,
                 exact: bool = True) -> tuple:
    """The one point-in-polygon kernel: (cell of every point, point,
    cover entry) of each (point, polygon) pair of the coordinates
    ``x``, ``y`` that matches against ``index`` (:func:`_cover_index`),
    point non-decreasing. Without ``exact``, every candidate pair: the
    ray-cast is skipped."""
    cover, owner, interior, rings, bbox = index
    cid = cells.cell_id(x, y, level)
    pt, ent = _probe(cover, cid)
    poly, px, py = owner[ent], x[pt], y[pt]
    box = bbox[poly]
    # inclusive polygon-bbox prune: a point outside the bbox is outside
    # the polygon, and an interior cell lies inside the bbox. It also
    # drops the NaN (or null), infinite and off-grid coordinates that
    # the tile clamp puts on an edge cell
    keep = (px >= box[:, 0]) & (px <= box[:, 2]) & (py >= box[:, 1]) & (py <= box[:, 3])
    if exact:
        for run in _runs(np.flatnonzero(keep & ~interior[ent]), poly):
            keep[run] = geometry.points_in_polygon(px[run], py[run], rings[poly[run[0]]])
    sel = np.flatnonzero(keep)
    return cid, pt[sel], ent[sel]


def _cover_batches(batches, index: tuple, ids, lon_col: str, lat_col: str, level: int,
                   id_col: str, exact: bool):
    """:func:`_cover_pass`'s body: points batches -> matched (point,
    polygon) rows by ``take``, the polygon's id from ``ids``."""
    import pyarrow as pa

    owner, interior = index[1], index[2]
    for b in batches:
        cid, pt, ent = _cover_match(index, _coords(b.column(lon_col)), _coords(b.column(lat_col)),
                                    level, exact)
        out = b.take(pt)
        cols = [*out.columns, ids.take(owner[ent])]
        names = [*out.schema.names, id_col]
        if not exact:
            cols = [pa.array(cid[pt]), *cols, pa.array(interior[ent])]
            names = ["cell", *names, "interior"]
        yield pa.RecordBatch.from_arrays(cols, names=names)


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
) -> DataFrame:
    """k-nearest-points per query via cell-ring expansion (SURVEY.md D6;
    reference semantics = the JS min-distance reduce emitted by the pyc
    ``tiff_processor_enhanced``: kNN with k=1 over all points).

    Plan shape: one Arrow pass over the points against a driver-built
    ring index, then the top-k window.

    1. the driver collects ``query_id`` and the query coordinates (one
       job), drops a query with a null coordinate, and builds every
       query's clipped Chebyshev square of
       radius ``max_ring`` around its row-major tile
       (:func:`cells.tile_xy`, the twin of :func:`cells.tile_id_col`),
       sorted by cell (:func:`_rect_index`); the pass's closure holds
       the cells, their query, the query coordinates and ids: at most
       (2·max_ring+1)² × 12 bytes plus ~20 bytes and the id per query
       (~320 bytes at the defaults);
    2. one ``mapInArrow`` over ``points.select(*id_cols, lon, lat)``
       (:func:`_knn_batches`) expands each point to the queries whose
       square holds its tile by binary search, computes ``dist2`` and
       keeps, per query and batch, every row that can still rank <= k;
    3. ``row_number`` over (query_id; dist2, image_id, pixel_idx, band)
       takes the top k, with deterministic ties.

    No join, no broadcast exchange and no co-location shuffle: the only
    Exchange is the window's, over at most ~k rows per query and batch.
    Against the plan it replaced (ring cells exploded in codegen and
    broadcast-hash-joined to the streamed points, which were
    repartitioned when under-partitioned), 4 cores, ``op_probe.py
    spatial_query``: per 48-query call 1.94 -> 1.26 s CPU (JIT 0.98 ->
    0.54 s, driver 0.12 -> 0.04 s), per one-query request 1.85 -> 1.14
    s, both still 3 jobs and 9 tasks; ``q_knn`` at sf0.1: see CHANGES.md.

    Guarantee: a result row is exact if its dist is <= the nearest
    possible distance of the first UNsearched ring; rows are flagged
    ``exact`` accordingly (queries in empty neighborhoods widen with
    ``max_ring``). A query with a null lon or lat returns no rows, and a
    point with a null coordinate is never a neighbour; a NaN or infinite
    coordinate lands on the tile Spark's clamp gives it. ``k < 1`` and
    ``max_ring < 0`` raise ``ValueError``.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import DoubleType

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if max_ring < 0:
        raise ValueError(f"max_ring must be >= 0, got {max_ring}")
    plon, plat = point_cols
    qlon, qlat = query_cols
    # cells are 360/2^L wide but only 180/2^L tall; the ring-search
    # guarantee must use the SMALLER dimension (a nearer point can hide in
    # the first unsearched ring at distance max_ring * cell_h)
    cell_min_deg = 180.0 / (1 << level)

    id_type = queries.schema["query_id"].dataType
    rows = [r for r in queries.select("query_id", qlon, qlat).collect()
            if r[1] is not None and r[2] is not None]
    qx = np.array([r[1] for r in rows], dtype=np.float64)
    qy = np.array([r[2] for r in rows], dtype=np.float64)
    index = (*_ring_index(qx, qy, level, max_ring), qx, qy,
             pa.array([r[0] for r in rows], to_arrow_type(id_type)))

    id_cols = [c for c in points.columns if c in ("image_id", "pixel_idx", "band")]
    schema = StructType([StructField("query_id", id_type),
                         *[points.schema[c] for c in (*id_cols, plon, plat)],
                         StructField("dist2", DoubleType())])
    cand = points.select(*id_cols, plon, plat).mapInArrow(
        lambda batches: _knn_batches(batches, index, plon, plat, level, k), schema)
    # ties: image_id and pixel_idx in the caller's column order, then the
    # band, so a multi-band pixel ranks in band order, not shuffle order
    order = ["dist2", *[c for c in id_cols if c != "band"]]
    if "band" in id_cols:
        order.append("band")
    w = Window.partitionBy("query_id").orderBy(*order)
    topk = (
        cand.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
    )
    # exactness: kth dist must be within the guaranteed-searched radius
    # (max_ring ring's nearest edge, conservatively max_ring * min(cell
    # width, cell height) — the height is the binding dimension)
    guard = (max_ring * cell_min_deg) ** 2
    return topk.withColumn("exact", F.col("dist2") <= F.lit(guard))


def _ring_index(qx, qy, level: int, max_ring: int) -> tuple:
    """Sorted (cell, query) of every query's Chebyshev square of radius
    ``max_ring`` around its tile, clipped to the grid (the squares of
    :func:`cells.k_ring_xy`), keyed row-major ``tile_x * 2^level +
    tile_y``."""
    n = 1 << level
    tx, ty = cells.tile_xy(qx, qy, level)
    return _rect_index(np.maximum(tx - max_ring, 0), np.minimum(tx + max_ring, n - 1),
                       np.maximum(ty - max_ring, 0), np.minimum(ty + max_ring, n - 1),
                       lambda gx, gy: gx * n + gy)


def _knn_batches(batches, index: tuple, lon_col: str, lat_col: str, level: int, k: int):
    """:func:`knn_join`'s body: points batches -> (query_id, point
    columns, dist2) candidate rows against ``index`` = (sorted ring
    cells, their query, query lon, query lat, query ids)."""
    import pyarrow as pa

    ring, owner, qx, qy, ids = index
    n = 1 << level
    for b in batches:
        lon, lat = b.column(lon_col), b.column(lat_col)
        x = lon.cast(pa.float64()).to_numpy(zero_copy_only=False)
        y = lat.cast(pa.float64()).to_numpy(zero_copy_only=False)
        tx, ty = cells.tile_xy(x, y, level)
        cid = tx * n + ty
        if lon.null_count or lat.null_count:  # Arrow -> numpy made them NaN
            cid[(lon.is_null().to_numpy(zero_copy_only=False)
                 | lat.is_null().to_numpy(zero_copy_only=False))] = -1
        pt, ent = _probe(ring, cid)
        q = owner[ent]
        dx, dy = x[pt] - qx[q], y[pt] - qy[q]
        d2 = dx * dx + dy * dy  # Spark's (p - q) * (p - q) + ..., bit for bit
        sel = _within_k(q, d2, k)
        out = b.take(pt[sel])
        yield pa.RecordBatch.from_arrays([ids.take(q[sel]), *out.columns, pa.array(d2[sel])],
                                         names=["query_id", *out.schema.names, "dist2"])


def _within_k(group, value, k: int):
    """Indices of the rows whose ``value`` is at most the k-th smallest of
    their ``group``, NaN last and equal to NaN as Spark orders a double:
    the rows that rank < k plus every row tied with the k-th. A row it
    drops has k rows of its own batch strictly nearer, so it ranks > k
    in the window whatever the tie order."""
    if not len(group):
        return np.zeros(0, dtype=np.int64)
    order = np.lexsort((value, group))
    g, v = group[order], value[order]
    start = np.flatnonzero(np.r_[True, g[1:] != g[:-1]])
    size = np.diff(np.r_[start, len(g)])
    kth = np.repeat(v[start + np.minimum(size, k) - 1], size)
    return order[(v <= kth) | np.isnan(kth)]


def _classify_and_bbox(rings: list) -> tuple[str, tuple | None]:
    """(rung, finite-coords bbox or None): the D4 trigger classification
    (test2.py:1264-1357), re-expressed as DATA conditions: the
    reference's 4-rung try/except ladder fires on rasterio exceptions,
    which deterministic numpy kernels don't throw — what actually varies
    is the GEOMETRY's usability.

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
