"""Driver-contract query registry: queries() + oracle_sql().

Each entry exercises one (or a few) operators from SURVEY.md §2 over the
driver's parquet tables at ``sf_dir``. Cross-engine determinism rules
used throughout (Spark must value-hash-equal DuckDB):

- every derived float is computed with an IDENTICAL IEEE expression tree
  on both sides (same literals, same association), so doubles are
  bit-identical;
- sums/aggregates only ever run over exactly-representable values
  (integer-valued doubles, int64), so they are order-independent;
- any genuinely fractional result is floor-quantized to int64
  (``*_e6``/``*_e12`` columns) on both sides;
- DuckDB ``SUM(BIGINT)`` returns HUGEINT -> always ``CAST(... AS BIGINT)``.

The derived point table ("pts") maps lineitem rows to a deterministic
8x8 mosaic of 32x32-pixel images over the reference's golden Delhi box
(slope.js:158-167), giving the spatial operators an oracle-checkable
playground at any sf. The raster-decode pipeline itself (binary ->
pixels) cannot be expressed in DuckDB SQL; those entries are registered
without an oracle (the driver records rows-only checks) and are instead
verified row-for-row against the numpy reference oracle in pytest
(tests/test_extract.py).
"""

from __future__ import annotations

import json
from collections.abc import Callable
from functools import lru_cache as _lru_cache

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import cells
from ..operators import dedup, joins, similarity, text, tiling
from ..sources import synth

# ---------------------------------------------------------------------------
# shared derived tables
# ---------------------------------------------------------------------------

_PTS_SQL = """
    SELECT
        l_orderkey * 10 + l_linenumber                          AS point_id,
        (l_orderkey * 10 + l_linenumber) % 64                   AS image_id,
        ((l_orderkey * 10 + l_linenumber) % 64) % 8             AS imgx,
        CAST(FLOOR(((l_orderkey * 10 + l_linenumber) % 64) / 8) AS BIGINT) AS imgy,
        l_partkey % 32                                          AS prow,
        l_suppkey % 32                                          AS pcol,
        77.0e0 + (((l_orderkey * 10 + l_linenumber) % 64) % 8) * 0.064e0
             + ((l_suppkey % 32) + 0.5e0) * 0.002e0                 AS lon,
        28.5e0 - CAST(FLOOR(((l_orderkey * 10 + l_linenumber) % 64) / 8) AS BIGINT) * 0.064e0
             - ((l_partkey % 32) + 0.5e0) * 0.002e0                 AS lat,
        l_quantity                                              AS z,
        CASE WHEN (l_partkey + l_suppkey) % 10 <> 0 THEN TRUE ELSE FALSE END AS valid
    FROM lineitem
"""


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _pts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _PTS_SQL — identical expression trees."""
    li = _load(spark, sf_dir, "lineitem")
    pid = F.col("l_orderkey") * 10 + F.col("l_linenumber")
    image_id = pid % 64
    imgx = image_id % 8
    imgy = F.floor(image_id / 8).cast("long")
    prow = F.col("l_partkey") % 32
    pcol = F.col("l_suppkey") % 32
    lon = F.lit(77.0) + imgx * F.lit(0.064) + (pcol + F.lit(0.5)) * F.lit(0.002)
    lat = F.lit(28.5) - imgy * F.lit(0.064) - (prow + F.lit(0.5)) * F.lit(0.002)
    return li.select(
        pid.alias("point_id"),
        image_id.alias("image_id"),
        imgx.alias("imgx"),
        imgy.alias("imgy"),
        prow.alias("prow"),
        pcol.alias("pcol"),
        lon.alias("lon"),
        lat.alias("lat"),
        F.col("l_quantity").alias("z"),
        ((F.col("l_partkey") + F.col("l_suppkey")) % 10 != 0).alias("valid"),
    )


def _values_sql(rows, cols: str) -> str:
    body = ", ".join("(" + ", ".join(map(str, r)) + ")" for r in rows)
    return f"SELECT * FROM (VALUES {body}) AS t({cols})"


def _rings(pid: str) -> list:
    return next(p["rings"] for p in synth.polygons() if p["polygon_id"] == pid)


def _dlit(x: float) -> str:
    """DOUBLE literal for DuckDB: bare decimals parse as DECIMAL (exact
    arithmetic!), so force scientific notation -> DOUBLE."""
    s = repr(float(x))
    return s if ("e" in s or "E" in s or "inf" in s or "nan" in s) else s + "e0"


def _raycast_sql(rings: list, xcol: str, ycol: str) -> str:
    """SQL mirror of functions.geometry.points_in_polygon — the SAME
    crossing formula, edge by edge, with DOUBLE literals so both engines
    evaluate bit-identical float arithmetic."""
    terms = []
    for ring in rings:
        r = [tuple(map(float, p)) for p in ring]
        if r[0] != r[-1]:
            r.append(r[0])
        for (xi, yi), (xj, yj) in zip(r[:-1], r[1:]):
            if yi == yj:
                continue  # numpy UDF skips horizontal edges too
            terms.append(
                f"(CASE WHEN (({_dlit(yi)} > {ycol}) <> ({_dlit(yj)} > {ycol})) AND "
                f"({xcol} < ({_dlit(xj - xi)}) * ({ycol} - {_dlit(yi)}) / ({_dlit(yj - yi)}) + {_dlit(xi)}) "
                f"THEN 1 ELSE 0 END)"
            )
    return "((" + " + ".join(terms) + ") % 2 = 1)"


_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}


def _register(name: str, sql: str | None = None):
    def deco(fn):
        _QUERIES[name] = fn
        if sql is not None:
            _ORACLES[name] = sql
        return fn

    return deco


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)


# ---------------------------------------------------------------------------
# A/B/C: scan-project-filter-sample pipeline over the derived mosaic
# ---------------------------------------------------------------------------

@_register(
    "affine_extract",
    f"""
    WITH pts AS ({_PTS_SQL})
    SELECT point_id, image_id,
           CAST(FLOOR(lon * 1000000.0e0) AS BIGINT) AS lon_e6,
           CAST(FLOOR(lat * 1000000.0e0) AS BIGINT) AS lat_e6,
           CAST(z AS BIGINT) AS elev
    FROM pts WHERE valid
    """,
)
def q_affine_extract(spark, sf_dir):
    """B1/B2/B4/B6: pixel->world affine + NoData-style validity filter."""
    return (
        _pts(spark, sf_dir)
        .filter("valid")
        .select(
            "point_id", "image_id",
            F.floor(F.col("lon") * 1e6).cast("long").alias("lon_e6"),
            F.floor(F.col("lat") * 1e6).cast("long").alias("lat_e6"),
            F.col("z").cast("long").alias("elev"),
        )
    )


@_register(
    "stride_sample",
    f"""
    WITH pts AS ({_PTS_SQL}),
    numbered AS (
        -- point_id alone is not unique (duplicate orderkey+linenumber rows
        -- exist); order by every output-relevant column so tied rows are
        -- interchangeable and the kept multiset is engine-independent
        SELECT image_id, point_id, lon, lat, z,
               ROW_NUMBER() OVER (PARTITION BY image_id ORDER BY point_id, prow, pcol, z) AS rn
        FROM pts
    )
    SELECT image_id, point_id,
           CAST(FLOOR(lon * 1000000.0e0) AS BIGINT) AS lon_e6,
           CAST(FLOOR(lat * 1000000.0e0) AS BIGINT) AS lat_e6
    FROM numbered WHERE (rn - 1) % 7 = 0
    """,
)
def q_stride_sample(spark, sf_dir):
    """C1/C2: deterministic per-image stride sampling (modulo filter on
    the per-image ordinal, doesSamples.py:73-89 semantics)."""
    pts = _pts(spark, sf_dir)
    w = Window.partitionBy("image_id").orderBy("point_id", "prow", "pcol", "z")
    return (
        pts.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") - 1) % 7 == 0)
        .select(
            "image_id", "point_id",
            F.floor(F.col("lon") * 1e6).cast("long").alias("lon_e6"),
            F.floor(F.col("lat") * 1e6).cast("long").alias("lat_e6"),
        )
    )


def _pyramid_leg_sql(level: int) -> str:
    """One zoom level of the pyramid oracle, recomputed INDEPENDENTLY
    from the points (floor at that level's scale) — the Spark side
    instead merges children 4->1, so a match proves the child-merge
    derivation, not just the arithmetic."""
    n = f"{float(1 << level)!r}e0"
    return f"""
    SELECT 'pyramid' AS kind, CAST({level} AS BIGINT) AS level,
           CAST(FLOOR(((lon + 180.0e0) / 360.0e0) * {n}) AS BIGINT) AS tile_x,
           CAST(FLOOR(((90.0e0 - lat) / 180.0e0) * {n}) AS BIGINT) AS tile_y,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(-1 AS BIGINT) AS n_images,
           CAST(SUM(z) AS BIGINT) AS sum_elev,
           CAST(MIN(z) AS BIGINT) AS min_elev,
           CAST(MAX(z) AS BIGINT) AS max_elev
    FROM base GROUP BY tile_x, tile_y
    """


_TILE_ASSIGN_SQL = f"""
    WITH pts AS ({_PTS_SQL}),
    base AS (
        SELECT lon, lat, image_id, CAST(z AS BIGINT) AS z
        FROM pts WHERE valid
    )
    SELECT 'assign' AS kind, CAST(12 AS BIGINT) AS level,
           CAST(FLOOR(((lon + 180.0e0) / 360.0e0) * 4096.0e0) AS BIGINT) AS tile_x,
           CAST(FLOOR(((90.0e0 - lat) / 180.0e0) * 4096.0e0) AS BIGINT) AS tile_y,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(COUNT(DISTINCT image_id) AS BIGINT) AS n_images,
           CAST(SUM(z) AS BIGINT) AS sum_elev,
           CAST(MIN(z) AS BIGINT) AS min_elev,
           CAST(MAX(z) AS BIGINT) AS max_elev
    FROM base GROUP BY tile_x, tile_y
    {"".join("UNION ALL" + _pyramid_leg_sql(lv) for lv in range(12, 5, -1))}
    """


@_register("tile_assign", _TILE_ASSIGN_SQL)
def q_tile_assign(spark, sf_dir):
    """Tiling tagged union: kind='assign' is the level-12 tile
    assignment + per-tile rollup (engine Column twin, pure codegen —
    the north rule's tile-assignment identity); kind='pyramid' is the
    multi-resolution mosaic pyramid (tiling.tile_pyramid, zoom levels
    12..6): the point table is aggregated once at level 12 and every
    coarser level merges its four children JVM-side. The oracle
    recomputes each level independently from the points, so a hash
    match proves the 4->1 child-merge derivation. Pyramid rows carry
    n_images = -1: distinct counts are NOT decomposable across a child
    merge (an image spans many child tiles) and the contract records
    that honestly rather than smuggling in a per-level repass."""
    return _tile_rollups(_pts(spark, sf_dir).filter("valid"))


def _tile_rollups(pts: DataFrame) -> DataFrame:
    """q_tile_assign's two legs over a (lon, lat, z, image_id) table."""
    z = F.col("z").cast("long")
    # ONE point-table aggregation shared by both legs: per-(tile, image)
    # partials feed the assign rollup (count of non-NULL partial ids ==
    # COUNT(DISTINCT image_id); int64 sums/min/max merge losslessly) AND
    # the pyramid's finest level — the point table shuffles once, not
    # once per leg. A NULL image_id group keeps its points in n_points
    # and the pyramid, as the oracle's COUNT(*) does.
    base = (
        pts.select(
            cells.tile_x_col(F.col("lon"), 12).alias("tile_x"),
            cells.tile_y_col(F.col("lat"), 12).alias("tile_y"),
            z.alias("v"), "image_id",
        )
        .groupBy("tile_x", "tile_y", "image_id")
        .agg(
            F.count("*").alias("n_points"),
            F.sum("v").alias("sum_v"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
        )
        .localCheckpoint(eager=False)
    )
    assign = (
        base.groupBy("tile_x", "tile_y")
        .agg(
            F.sum("n_points").alias("n_points"),
            F.count("image_id").alias("n_images"),
            F.sum("sum_v").alias("sum_elev"),
            F.min("min_v").alias("min_elev"),
            F.max("max_v").alias("max_elev"),
        )
        .select(
            F.lit("assign").alias("kind"),
            F.lit(12).cast("long").alias("level"),
            "tile_x", "tile_y", "n_points", "n_images",
            "sum_elev", "min_elev", "max_elev",
        )
    )
    pyr = tiling.tile_pyramid(
        None, "zc", finest=12, coarsest=6,
        partials=base.select("tile_x", "tile_y", "n_points",
                             "sum_v", "min_v", "max_v"),
    ).select(
        F.lit("pyramid").alias("kind"),
        F.col("level").cast("long").alias("level"),
        "tile_x", "tile_y", "n_points",
        F.lit(-1).cast("long").alias("n_images"),
        F.col("sum_v").alias("sum_elev"),
        F.col("min_v").alias("min_elev"),
        F.col("max_v").alias("max_elev"),
    )
    return assign.unionByName(pyr)


# ---------------------------------------------------------------------------
# D: spatial joins
# ---------------------------------------------------------------------------

def _zonal_agg(clipped: DataFrame, *group_cols: str) -> DataFrame:
    """Shared zonal aggregation (min/max/cnt/mean_e6/std_pop_e6 over the
    integer z column) — ONE copy of the expression trees the zonal
    oracles mirror."""
    zl = F.col("z").cast("long")
    g = clipped.groupBy(*group_cols).agg(
        F.min(zl).alias("min_z"),
        F.max(zl).alias("max_z"),
        F.count("*").alias("cnt"),
        F.sum(zl).alias("sum_z"),
        F.sum(zl * zl).alias("sum_z2"),
    )
    mean = F.col("sum_z").cast("double") / F.col("cnt").cast("double")
    var = F.col("sum_z2").cast("double") / F.col("cnt").cast("double") - mean * mean
    return g.select(
        *group_cols, "min_z", "max_z", "cnt",
        F.floor(mean * 1e6).cast("long").alias("mean_e6"),
        F.floor(F.sqrt(var) * 1e6).cast("long").alias("std_pop_e6"),
    )


def _zonal_sql(polygon_id: str) -> str:
    pip = _raycast_sql(_rings(polygon_id), "lon", "lat")
    return f"""
    WITH pts AS ({_PTS_SQL}),
    clipped AS (SELECT * FROM pts WHERE valid AND {pip}),
    g AS (
        SELECT image_id,
               MIN(CAST(z AS BIGINT)) AS min_z,
               MAX(CAST(z AS BIGINT)) AS max_z,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(CAST(z AS BIGINT)) AS BIGINT) AS sum_z,
               CAST(SUM(CAST(z AS BIGINT) * CAST(z AS BIGINT)) AS BIGINT) AS sum_z2
        FROM clipped GROUP BY image_id
    )
    SELECT image_id, min_z, max_z, cnt,
           CAST(FLOOR((CAST(sum_z AS DOUBLE) / CAST(cnt AS DOUBLE)) * 1000000.0e0) AS BIGINT) AS mean_e6,
           CAST(FLOOR(SQRT(CAST(sum_z2 AS DOUBLE) / CAST(cnt AS DOUBLE)
                - (CAST(sum_z AS DOUBLE) / CAST(cnt AS DOUBLE)) * (CAST(sum_z AS DOUBLE) / CAST(cnt AS DOUBLE)))
                * 1000000.0e0) AS BIGINT) AS std_pop_e6
    FROM g
    """


# the three D3/E1 clip fixtures as ONE driver row (registry is capped at
# 50 driver-checked queries; merging same-shaped variants keeps every
# contract in every CORRECTNESS file): axis-aligned golden Delhi box,
# non-axis-aligned convex pentagon, concave polygon with a hole
_ZONAL_SUITE = [
    ("box", "poly_0000"),
    ("pentagon", "poly_0003"),
    ("concave_hole", "poly_0005"),
]


def _zonal_suite_sql() -> str:
    parts = [
        f"SELECT '{tag}' AS poly, * FROM ({_zonal_sql(pid)})"
        for tag, pid in _ZONAL_SUITE
    ]
    return " UNION ALL ".join(parts)


@_register("zonal_stats_polys", _zonal_suite_sql())
def q_zonal_stats_polys(spark, sf_dir):
    """D3/E1: per-image min/max/mean/std_pop/count (population std,
    numpy ddof=0) under three PIP clip fixtures — golden Delhi box,
    non-axis-aligned convex pentagon (exact ray-casting semantics), and
    a concave polygon with a hole (even-odd PIP). All three clips run in
    ONE Arrow pass over ONE point scan (joins.clip_points_multi) — the
    shape that holds when the input is 100 TB and the fixtures are a
    request's query layer; the oracle stays the 3-way UNION of
    independent single-polygon clips, so the fused pass is verified
    equal to the per-polygon semantics."""
    pts = _pts(spark, sf_dir).filter("valid")
    tagged = joins.clip_points_multi(
        pts, {tag: _rings(pid) for tag, pid in _ZONAL_SUITE},
        lon_col="lon", lat_col="lat",
    )
    return _zonal_agg(tagged, "poly", "image_id")


def _poly_values_sql() -> str:
    rows = []
    for p in synth.polygons():
        import numpy as np

        shell = np.asarray(p["rings"][0], dtype=float)
        rows.append(
            f"('{p['polygon_id']}', {_dlit(shell[:, 0].min())}, {_dlit(shell[:, 1].min())}, "
            f"{_dlit(shell[:, 0].max())}, {_dlit(shell[:, 1].max())})"
        )
    return "(VALUES " + ", ".join(rows) + ") AS p(polygon_id, p_min_lon, p_min_lat, p_max_lon, p_max_lat)"


@_register(
    "bbox_join",
    f"""
    WITH pts AS ({_PTS_SQL}),
    img AS (
        SELECT image_id,
               77.0e0 + imgx * 0.064e0 AS min_lon, 77.0e0 + imgx * 0.064e0 + 0.064e0 AS max_lon,
               28.5e0 - imgy * 0.064e0 - 0.064e0 AS min_lat, 28.5e0 - imgy * 0.064e0 AS max_lat
        FROM pts GROUP BY image_id, imgx, imgy
    )
    SELECT image_id, polygon_id FROM img
    JOIN {_poly_values_sql()}
      ON min_lon <= p_max_lon AND max_lon >= p_min_lon
     AND min_lat <= p_max_lat AND max_lat >= p_min_lat
    """,
)
def q_bbox_join(spark, sf_dir):
    """D1/D2: image-bbox x polygon-bbox broadcast range join (the
    reference's file prefilter / catalog findFilesInBounds)."""
    pts = _pts(spark, sf_dir)
    img = pts.groupBy("image_id", "imgx", "imgy").agg(F.lit(1).alias("_one")).select(
        "image_id",
        (F.lit(77.0) + F.col("imgx") * 0.064).alias("min_lon"),
        (F.lit(77.0) + F.col("imgx") * 0.064 + F.lit(0.064)).alias("max_lon"),
        (F.lit(28.5) - F.col("imgy") * 0.064 - F.lit(0.064)).alias("min_lat"),
        (F.lit(28.5) - F.col("imgy") * 0.064).alias("max_lat"),
    )
    polys = synth.polygons_df(spark)
    return joins.bbox_join(img, polys).select("image_id", "polygon_id")


@_register(
    "knn",
    f"""
    WITH pts AS ({_PTS_SQL}),
    q AS (
        SELECT CAST(c_custkey AS VARCHAR) AS query_id,
               77.0e0 + (c_custkey % 100) * 0.005e0 AS qlon,
               28.0e0 + (c_custkey % 71) * 0.007e0 AS qlat
        FROM customer WHERE c_custkey % 15 = 0
    ),
    scored AS (
        SELECT q.query_id, p.point_id,
               ((p.lon - q.qlon) * (p.lon - q.qlon)) + ((p.lat - q.qlat) * (p.lat - q.qlat)) AS dist2
        FROM q, pts p WHERE p.valid
    ),
    ranked AS (
        SELECT query_id, point_id, dist2,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist2, point_id) AS knn_rank
        FROM scored
    )
    SELECT query_id, point_id, CAST(knn_rank AS INT) AS knn_rank,
           CAST(FLOOR(dist2 * 1000000000000.0e0) AS BIGINT) AS dist2_e12
    FROM ranked WHERE knn_rank <= 3
    """,
)
def q_knn(spark, sf_dir):
    """D6: kNN (k=3) via cell-ring expansion + row_number — checked
    against the exhaustive SQL scan."""
    pts = _pts(spark, sf_dir).filter("valid").select(
        F.col("point_id").alias("pixel_idx"), "lon", "lat"
    )
    cust = _load(spark, sf_dir, "customer").filter(F.col("c_custkey") % 15 == 0).select(
        F.col("c_custkey").cast("string").alias("query_id"),
        (F.lit(77.0) + (F.col("c_custkey") % 100) * F.lit(0.005)).alias("qlon"),
        (F.lit(28.0) + (F.col("c_custkey") % 71) * F.lit(0.007)).alias("qlat"),
    )
    out = joins.knn_join(
        pts, cust, k=3, level=14, max_ring=2,
        point_cols=("lon", "lat"), query_cols=("qlon", "qlat"),
    )
    return out.select(
        "query_id",
        F.col("pixel_idx").alias("point_id"),
        F.col("knn_rank").cast("int").alias("knn_rank"),
        F.floor(F.col("dist2") * 1e12).cast("long").alias("dist2_e12"),
    )


# ---------------------------------------------------------------------------
# E/F: aggregates, rollups, sorts, unions, dedup
# ---------------------------------------------------------------------------

@_register(
    "catalog_rollup",
    f"""
    WITH pts AS ({_PTS_SQL})
    SELECT image_id,
           CAST(COUNT(*) AS BIGINT) AS points,
           CAST(FLOOR(MIN(lon) * 1000000.0e0) AS BIGINT) AS min_lon_e6,
           CAST(FLOOR(MAX(lon) * 1000000.0e0) AS BIGINT) AS max_lon_e6,
           CAST(FLOOR(MIN(lat) * 1000000.0e0) AS BIGINT) AS min_lat_e6,
           CAST(FLOOR(MAX(lat) * 1000000.0e0) AS BIGINT) AS max_lat_e6,
           CAST(MIN(z) AS BIGINT) AS min_z,
           CAST(MAX(z) AS BIGINT) AS max_z,
           CAST(FLOOR(COUNT(*) * 0.1e0) AS BIGINT) AS est_kb
    FROM pts WHERE valid
    GROUP BY ROLLUP (image_id)
    """,
)
def q_catalog_rollup(spark, sf_dir):
    """E3/E4/A12/A13/B14: per-image catalog entries + grand-total
    overall_bounds row via ROLLUP; est_kb is the reference's 0.1 KB/point
    size estimate (test.py:447)."""
    pts = _pts(spark, sf_dir).filter("valid")
    return pts.rollup("image_id").agg(
        F.count("*").alias("points"),
        F.floor(F.min("lon") * 1e6).cast("long").alias("min_lon_e6"),
        F.floor(F.max("lon") * 1e6).cast("long").alias("max_lon_e6"),
        F.floor(F.min("lat") * 1e6).cast("long").alias("min_lat_e6"),
        F.floor(F.max("lat") * 1e6).cast("long").alias("max_lat_e6"),
        F.min("z").cast("long").alias("min_z"),
        F.max("z").cast("long").alias("max_z"),
        F.floor(F.count("*") * 0.1).cast("long").alias("est_kb"),
    )


@_register(
    "sparsity",
    f"""
    WITH pts AS ({_PTS_SQL}),
    g AS (
        SELECT image_id,
               CAST(SUM(CASE WHEN valid THEN 1 ELSE 0 END) AS BIGINT) AS valid_pixels,
               CAST(COUNT(*) AS BIGINT) AS total_pixels
        FROM pts GROUP BY image_id
    )
    SELECT image_id, valid_pixels, total_pixels,
           CAST(FLOOR(CAST(valid_pixels AS DOUBLE) / CAST(total_pixels AS DOUBLE) * 1000000.0e0) AS BIGINT) AS valid_ratio_e6,
           CASE WHEN CAST(valid_pixels AS DOUBLE) / CAST(total_pixels AS DOUBLE) < 0.1e0
                THEN 'sparse' ELSE 'dense' END AS data_sparsity
    FROM g
    """,
)
def q_sparsity(spark, sf_dir):
    """B11/E2: valid/total counts + the reference's 10 % sparsity label
    (test.py:94)."""
    pts = _pts(spark, sf_dir)
    g = pts.groupBy("image_id").agg(
        F.sum(F.when(F.col("valid"), 1).otherwise(0)).cast("long").alias("valid_pixels"),
        F.count("*").alias("total_pixels"),
    )
    ratio = F.col("valid_pixels").cast("double") / F.col("total_pixels").cast("double")
    return g.select(
        "image_id", "valid_pixels", "total_pixels",
        F.floor(ratio * 1e6).cast("long").alias("valid_ratio_e6"),
        F.when(ratio < 0.1, "sparse").otherwise("dense").alias("data_sparsity"),
    )


@_register(
    "union_lineage",
    f"""
    WITH pts AS ({_PTS_SQL}),
    u AS (
        SELECT 'low' AS source_file, image_id, z FROM pts WHERE valid AND z < 10
        UNION ALL
        SELECT 'high' AS source_file, image_id, z FROM pts WHERE valid AND z >= 40
    )
    SELECT source_file, image_id, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(z AS BIGINT)) AS BIGINT) AS sum_z
    FROM u GROUP BY source_file, image_id
    """,
)
def q_union_lineage(spark, sf_dir):
    """F3/A11: union with a lineage column (the combined-file output)."""
    pts = _pts(spark, sf_dir).filter("valid")
    low = pts.filter(F.col("z") < 10).select(F.lit("low").alias("source_file"), "image_id", "z")
    high = pts.filter(F.col("z") >= 40).select(F.lit("high").alias("source_file"), "image_id", "z")
    return low.unionByName(high).groupBy("source_file", "image_id").agg(
        F.count("*").alias("n"),
        F.sum(F.col("z").cast("long")).alias("sum_z"),
    )


@_register(
    "dedup_keys",
    """
    SELECT DISTINCT o_orderkey % 50 AS file_key FROM orders
    """,
)
def q_dedup_keys(spark, sf_dir):
    """F4/A1: dropDuplicates (the reference's list(set(files)))."""
    return _load(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 50).alias("file_key")
    ).dropDuplicates()


@_register(
    "sort_enumerate",
    f"""
    WITH pts AS ({_PTS_SQL}),
    img AS (SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n FROM pts GROUP BY image_id)
    SELECT image_id, n,
           CAST(ROW_NUMBER() OVER (ORDER BY image_id) AS BIGINT) AS file_seq
    FROM img
    """,
)
def q_sort_enumerate(spark, sf_dir):
    """F1/F2/F5: deterministic ordering + enumerate-files analog."""
    img = _pts(spark, sf_dir).groupBy("image_id").agg(F.count("*").alias("n"))
    w = Window.orderBy("image_id")
    return img.withColumn("file_seq", F.row_number().over(w).cast("long"))


@_register(
    "coord_swap_repair",
    f"""
    WITH pts AS ({_PTS_SQL}),
    corrupted AS (
        SELECT point_id,
               CASE WHEN point_id % 7 = 0 THEN lat ELSE lon END AS lon2,
               CASE WHEN point_id % 7 = 0 THEN lon ELSE lat END AS lat2
        FROM pts
    ),
    repaired AS (
        SELECT point_id,
               CASE WHEN lon2 < lat2 THEN lat2 ELSE lon2 END AS lon3,
               CASE WHEN lon2 < lat2 THEN lon2 ELSE lat2 END AS lat3
        FROM corrupted
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN lon3 >= 70.0e0 AND lon3 <= 90.0e0 AND lat3 >= 20.0e0 AND lat3 <= 35.0e0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_in_expected_range
    FROM repaired
    """,
)
def q_coord_swap_repair(spark, sf_dir):
    """B9: the reference's lat/lon swap-repair heuristic
    (test2.py:1071-1091) as a when/otherwise column rule."""
    pts = _pts(spark, sf_dir)
    corrupted = pts.select(
        "point_id",
        F.when(F.col("point_id") % 7 == 0, F.col("lat")).otherwise(F.col("lon")).alias("lon2"),
        F.when(F.col("point_id") % 7 == 0, F.col("lon")).otherwise(F.col("lat")).alias("lat2"),
    )
    swapped = F.col("lon2") < F.col("lat2")
    repaired = corrupted.select(
        "point_id",
        F.when(swapped, F.col("lat2")).otherwise(F.col("lon2")).alias("lon3"),
        F.when(swapped, F.col("lon2")).otherwise(F.col("lat2")).alias("lat3"),
    )
    ok = (
        (F.col("lon3") >= 70.0) & (F.col("lon3") <= 90.0)
        & (F.col("lat3") >= 20.0) & (F.col("lat3") <= 35.0)
    )
    return repaired.agg(
        F.count("*").alias("n_total"),
        F.sum(F.when(ok, 1).otherwise(0)).cast("long").alias("n_in_expected_range"),
    )


@_register(
    "rescale_u8",
    """
    SELECT p_partkey,
           CAST(FLOOR(((CAST(p_partkey % 256 AS DOUBLE) / 255.0e0) * (800.0e0 - 200.0e0) + 200.0e0) * 1000000.0e0) AS BIGINT) AS rescaled_e6
    FROM part
    """,
)
def q_rescale_u8(spark, sf_dir):
    """B8: uint8 -> original-range rescale (test2.py:1479-1486)."""
    return _load(spark, sf_dir, "part").select(
        "p_partkey",
        F.floor(
            ((F.col("p_partkey") % 256).cast("double") / F.lit(255.0)
             * (F.lit(800.0) - F.lit(200.0)) + F.lit(200.0)) * 1e6
        ).cast("long").alias("rescaled_e6"),
    )


@_register(
    "layer_pattern_match",
    """
    SELECT p.p_partkey, l.category, l.term
    FROM part p
    JOIN (VALUES ('size', 'small'), ('size', 'large'), ('temp', 'cold'), ('temp', 'hot'),
                 ('kind', 'widget'), ('kind', 'gadget')) AS l(category, term)
      ON contains(lower(p.p_name), l.term)
    """,
)
def q_layer_pattern_match(spark, sf_dir):
    """B13: config-driven fuzzy layer-name matching
    (layer_pattern_manager.py:116-154) as a broadcast contains-join."""
    part = _load(spark, sf_dir, "part")
    lex = spark_lexicon(part.sparkSession)
    return part.join(
        F.broadcast(lex), F.lower(part["p_name"]).contains(lex["term"])
    ).select("p_partkey", "category", "term")


def spark_lexicon(spark):
    return spark.createDataFrame(
        [("size", "small"), ("size", "large"), ("temp", "cold"), ("temp", "hot"),
         ("kind", "widget"), ("kind", "gadget")],
        "category string, term string",
    )


_PATTERN_CONFIG = {
    "layer_pattern_config": {
        "size_patterns": {"small": ["small", "std"], "large": ["large", "wide"]},
        "temp_patterns": {"cold": ["cold", "ice"], "hot": ["hot", "warm"]},
    },
    "fallback_patterns": ["mosaic", "composite"],
    "case_sensitive": False,
}
_PATTERN_LAYERS = [
    "arctic_ice_map", "std_grid", "wide_scan", "warm_zone",
    "global_mosaic", "city_composite", "plain_small_tile",
]


def _pattern_fallback_sql() -> str:
    """SQL replay of the config-driven matcher: the same flattened
    priority rows (operators.patterns.pattern_rows) as a VALUES table,
    the same contains-joins, the same (group, layer, term) ordering."""
    from ..operators import patterns as _patterns

    pat_vals = ", ".join(
        f"({g}, {t}, {'CAST(NULL AS VARCHAR)' if s is None else repr(s)}, {m!r})"
        for g, t, s, m in _patterns.pattern_rows(_PATTERN_CONFIG)
    )
    avail_vals = ", ".join(f"({i}, {a!r})" for i, a in enumerate(_PATTERN_LAYERS))
    return f"""
    WITH pats(group_prio, term_idx, search_term, match_term) AS (VALUES {pat_vals}),
    avail(layer_idx, layer_name) AS (VALUES {avail_vals}),
    cand AS (
        SELECT p.p_partkey, pats.group_prio, avail.layer_idx, pats.term_idx, avail.layer_name
        FROM part p, pats, avail
        WHERE (pats.search_term IS NULL OR contains(lower(p.p_name), pats.search_term))
          AND contains(avail.layer_name, pats.match_term)
    ),
    ranked AS (
        SELECT p_partkey, layer_name,
               ROW_NUMBER() OVER (PARTITION BY p_partkey
                                  ORDER BY group_prio, layer_idx, term_idx, layer_name) AS rn
        FROM cand
    )
    SELECT p_partkey, layer_name AS matched_layer FROM ranked WHERE rn = 1
    """


@_register("layer_pattern_fallback", _pattern_fallback_sql())
def q_layer_pattern_fallback(spark, sf_dir):
    """B13+: the CONFIG-DRIVEN pattern matcher with the fallback ladder
    (layer_pattern_manager.py:116-154): part names that hit a configured
    (category, search_term) resolve through its match terms in
    available-layer order; names that hit nothing fall back to the
    'mosaic'/'composite' ladder. One broadcast contains-join + one
    priority aggregate."""
    from ..operators import patterns as _patterns

    part = _load(spark, sf_dir, "part").select(
        "p_partkey", F.lower(F.col("p_name")).alias("requested_layer")
    )
    out = _patterns.match_layers(part, _PATTERN_LAYERS, _PATTERN_CONFIG)
    return out.select("p_partkey", "matched_layer")


# ---------------------------------------------------------------------------
# sinks: exact formatting
# ---------------------------------------------------------------------------

@_register(
    "csv_format",
    f"""
    WITH pts AS ({_PTS_SQL})
    SELECT point_id, printf('%.6f,%.6f,%.2f', lon, lat, z) AS csv_line
    FROM pts WHERE valid AND image_id = 0
    """,
)
def q_csv_format(spark, sf_dir):
    """A7: exact %.6f CSV row formatting (doesSamples.py:101)."""
    pts = _pts(spark, sf_dir).filter("valid").filter(F.col("image_id") == 0)
    return pts.select(
        "point_id",
        F.format_string("%.6f,%.6f,%.2f", "lon", "lat", "z").alias("csv_line"),
    )


@_register(
    "compressed_csv_lines",
    f"""
    WITH pts AS ({_PTS_SQL}),
    c AS (
        SELECT point_id,
               CAST(FLOOR(lon * 100.0e0 + 0.5e0) AS BIGINT) AS lc,
               CAST(FLOOR(lat * 100.0e0 + 0.5e0) AS BIGINT) AS bc,
               CAST(FLOOR(z * 100.0e0 + 0.5e0) AS BIGINT) AS zc
        FROM pts WHERE image_id = 2
    )
    SELECT point_id,
           (CASE WHEN lc < 0 THEN '-' ELSE '' END) ||
           printf('%d.%02d,', abs(lc) // 100, abs(lc) % 100) ||
           (CASE WHEN bc < 0 THEN '-' ELSE '' END) ||
           printf('%d.%02d,', abs(bc) // 100, abs(bc) % 100) ||
           (CASE WHEN zc < 0 THEN '-' ELSE '' END) ||
           printf('%d.%02d', abs(zc) // 100, abs(zc) % 100) AS csv_line
    FROM c
    """,
)
def q_compressed_csv_lines(spark, sf_dir):
    """A9: the compressed sink's x,y,z 2-dp row formatting
    (thiswillcompress.py:59-71, to_csv float_format='%.2f') — ALL pixels,
    no validity filter (the compressed path never filters NoData).

    Cross-engine note: printf('%.2f') is NOT portable — Java rounds the
    double's shortest decimal repr HALF_UP while C rounds the exact
    binary value — so this entry quantizes to integer cents (explicit
    half-up, identical IEEE expression both sides) and assembles the
    string from integers. The gzip/NPZ/grid envelope bytes themselves
    are golden-tested against the reference-shaped pandas/numpy output
    in tests/test_sinks_compressed.py."""
    pts = _pts(spark, sf_dir).filter(F.col("image_id") == 2)
    cents = lambda col: F.floor(F.col(col) * 100.0 + 0.5).cast("long")  # noqa: E731
    c = pts.select(
        "point_id", cents("lon").alias("lc"), cents("lat").alias("bc"), cents("z").alias("zc")
    )
    # sign handled explicitly: DIV/% on negatives differ between engines
    # (Spark truncates toward zero, DuckDB floors), and '%d.%02d' would
    # render '-1.-23'; abs + sign prefix is portable and correct
    def part(col):
        return F.concat(
            F.when(F.col(col) < 0, F.lit("-")).otherwise(F.lit("")),
            F.format_string("%d.%02d", F.expr(f"abs({col}) DIV 100"), F.expr(f"abs({col}) % 100")),
        )

    return c.select(
        "point_id",
        F.concat(part("lc"), F.lit(","), part("bc"), F.lit(","), part("zc")).alias("csv_line"),
    )


@_register(
    "geojson_format",
    f"""
    WITH pts AS ({_PTS_SQL}),
    fmt AS (
        SELECT point_id,
               printf('%.6f', lon) AS slon, printf('%.6f', lat) AS slat,
               CAST(z AS VARCHAR) AS tz
        FROM pts WHERE valid AND image_id = 1
    ),
    trimmed AS (
        SELECT point_id, tz,
               CASE WHEN regexp_replace(slon, '0+$', '') LIKE '%.' THEN regexp_replace(slon, '0+$', '') || '0' ELSE regexp_replace(slon, '0+$', '') END AS tlon,
               CASE WHEN regexp_replace(slat, '0+$', '') LIKE '%.' THEN regexp_replace(slat, '0+$', '') || '0' ELSE regexp_replace(slat, '0+$', '') END AS tlat
        FROM fmt
    )
    SELECT point_id,
           '{{"type":"Feature","geometry":{{"type":"Point","coordinates":[' || tlon || ',' || tlat || ',' || tz || ']}}}}' AS feature
    FROM trimmed
    """,
)
def q_geojson_format(spark, sf_dir):
    """B12/A6: GeoJSON point-feature string assembly with the reference's
    compact separators and trimmed floats (completePixleOutput.py:99-128)."""
    from ..operators import sinks

    pts = _pts(spark, sf_dir).filter("valid").filter(F.col("image_id") == 1)
    return pts.select(
        "point_id",
        sinks.geojson_feature_col("lon", "lat", "z").alias("feature"),
    )


_FAR_RING = [[10.0, 10.0], [11.0, 10.0], [11.0, 11.0], [10.0, 11.0], [10.0, 10.0]]


# D4 fixtures: a degenerate two-distinct-vertex "polygon" (window rung)
# and its bbox literals, used identically in the Spark ladder call and
# the oracle predicate
_D4_DEGENERATE_RING = [[77.05, 28.05], [77.35, 28.35], [77.05, 28.05]]


def _zonal_null_fallback_sql() -> str:
    corners = ", ".join(
        f"({i}, {sx}, {sy})" for i, (sx, sy) in enumerate(
            [(-1, -1), (1, -1), (1, 1), (-1, 1), (-1, -1)])
    )
    return f"""
    WITH pts AS ({_PTS_SQL}),
    v AS (SELECT * FROM pts WHERE valid),
    clip AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v
        WHERE {_raycast_sql([_FAR_RING], 'lon', 'lat')}
    ),
    b AS (SELECT MIN(lon) AS mnl, MAX(lon) AS mxl,
                 MIN(lat) AS mnb, MAX(lat) AS mxb FROM v),
    geom AS (
        SELECT (mnl + mxl) / 2.0e0 AS cx, (mnb + mxb) / 2.0e0 AS cy,
               least(mxl - mnl, mxb - mnb) * 0.1e0 / 2.0e0 AS h
        FROM b
    )
    SELECT 'clip_count' AS kind, 0 AS idx, n AS x_e6, CAST(0 AS BIGINT) AS y_e6
    FROM clip
    UNION ALL
    SELECT 'ring', c.i,
           CAST(FLOOR((g.cx + c.sx * g.h) * 1000000.0e0 + 0.5e0) AS BIGINT),
           CAST(FLOOR((g.cy + c.sy * g.h) * 1000000.0e0 + 0.5e0) AS BIGINT)
    FROM geom g, (VALUES {corners}) AS c(i, sx, sy)
    UNION ALL
    SELECT 'd4_clip', 0, CAST(COUNT(*) AS BIGINT), CAST(0 AS BIGINT)
    FROM v WHERE {_raycast_sql(_rings('poly_0000'), 'lon', 'lat')}
    UNION ALL
    SELECT 'd4_window', 0, CAST(COUNT(*) AS BIGINT), CAST(0 AS BIGINT)
    FROM v WHERE lon >= 77.05e0 AND lon <= 77.35e0
            AND lat >= 28.05e0 AND lat <= 28.35e0
    UNION ALL
    SELECT 'd4_center', 0, CAST(COUNT(*) AS BIGINT), CAST(0 AS BIGINT)
    FROM v, geom g
    WHERE v.lon >= g.cx - g.h AND v.lon < g.cx + g.h
      AND v.lat >= g.cy - g.h AND v.lat < g.cy + g.h
    """


@_register("zonal_null_fallback", _zonal_null_fallback_sql())
def q_zonal_null_fallback(spark, sf_dir):
    """D5 + D4 in one driver row (registry capped at 50 queries).

    D5 half (test2.py:1246-1256, 1463-1473): a query polygon that misses
    the raster entirely -> the clip yields 0 rows (the "Null" sentinel
    trigger) and the engine substitutes the reference's center-sample
    square (side 0.1 * min(extent), exact vertex order and arithmetic),
    emitted from geometry.center_sample_ring.

    D4 half (test2.py:1264-1357): the clip FALLBACK LADDER
    (joins.clip_fallback_ladder) exercised end-to-end, one row per rung —
    a valid polygon takes the exact-PIP rung ('d4_clip'), a degenerate
    two-vertex polygon falls to the bbox-window rung ('d4_window'), and
    a non-finite polygon falls to the D5 center-square rung
    ('d4_center'). The oracle replays each rung's membership predicate
    from the same data (the center square reduces to the half-open
    [c-h, c+h) box — verified equal to the ray-cast in tests)."""
    from ..functions import geometry as geometry_fns

    pts = _pts(spark, sf_dir).filter("valid")
    n_clip = joins.clip_points(pts, [_FAR_RING], lon_col="lon", lat_col="lat").count()
    b = pts.agg(
        F.min("lon"), F.max("lon"), F.min("lat"), F.max("lat")
    ).collect()[0]
    import math

    rows: list = [("clip_count", 0, int(n_clip), 0)]
    if b[0] is None:
        # mirror the oracle on an all-invalid table: NULL bounds make the
        # ring coordinates NULL (5 rows of NULLs from the cross join)
        rows += [("ring", i, None, None) for i in range(5)]
    else:
        ring = geometry_fns.center_sample_ring((b[0], b[2], b[1], b[3]), 0.1)
        rows += [
            ("ring", i, math.floor(x * 1e6 + 0.5), math.floor(y * 1e6 + 0.5))
            for i, (x, y) in enumerate(ring)
        ]
    ladder_fixtures = [
        ("d4_clip", _rings("poly_0000"), "clip"),
        ("d4_window", [_D4_DEGENERATE_RING], "window"),
        ("d4_center", [[[float("nan"), float("nan")]] * 4], "center"),
    ]
    extent = None if b[0] is None else (b[0], b[2], b[1], b[3])
    for kind, rings, want_rung in ladder_fixtures:
        clipped, rung = joins.clip_fallback_ladder(
            pts, rings, lon_col="lon", lat_col="lat", frac=0.1, extent=extent
        )
        if rung != want_rung:  # not assert: must survive python -O
            raise RuntimeError(f"{kind}: ladder took {rung}, want {want_rung}")
        rows.append((kind, 0, int(clipped.count()), 0))
    return spark.createDataFrame(rows, "kind string, idx int, x_e6 long, y_e6 long")


def _stats_merge_quirk_sql() -> str:
    return f"""
    WITH pts AS ({_PTS_SQL}),
    v AS (SELECT * FROM pts
          WHERE valid AND ({_raycast_sql(_rings('poly_0003'), 'lon', 'lat')})),
    per AS (
        SELECT image_id,
               MIN(CAST(z AS BIGINT)) AS mn, MAX(CAST(z AS BIGINT)) AS mx,
               CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(CAST(z AS BIGINT)) AS BIGINT) AS sz,
               CAST(SUM(CAST(z AS BIGINT) * CAST(z AS BIGINT)) AS BIGINT) AS sz2
        FROM v GROUP BY image_id
    ),
    f AS (SELECT * FROM per ORDER BY image_id LIMIT 1),
    agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_images,
                   MIN(mn) AS mn, MAX(mx) AS mx FROM per)
    SELECT a.n_images, a.mn AS min_z, a.mx AS max_z, f.c AS count,
           CAST(FLOOR(CAST(f.sz AS DOUBLE) / f.c * 1000000.0e0) AS BIGINT) AS mean_e6,
           CAST(FLOOR(SQRT(CAST(f.sz2 AS DOUBLE) / f.c
                - (CAST(f.sz AS DOUBLE) / f.c) * (CAST(f.sz AS DOUBLE) / f.c))
                * 1000000.0e0) AS BIGINT) AS std_e6
    FROM agg a, f
    """


@_register("stats_merge_quirk", _stats_merge_quirk_sql())
def q_stats_merge_quirk(spark, sf_dir):
    """E5, hard-oracle form: the reference's cross-file stats merge
    keeps the FIRST file's mean/std/count and only widens min/max
    (test2.py:162-179). Per-image zonal stats are computed distributed
    (exact int64 sums), folded in image order through the REAL
    zonal.combine_stats_reference_quirk; the oracle replays the fold as
    first-row-by-image-id SQL. Integer-valued z makes every sum exact,
    so mean/std are bit-identical doubles on both sides."""
    import math

    from ..operators import zonal as zonal_ops

    pts = _pts(spark, sf_dir).filter("valid")
    clipped = joins.clip_points(pts, _rings("poly_0003"), lon_col="lon", lat_col="lat")
    zb = F.col("z").cast("long")
    per = clipped.groupBy("image_id").agg(
        F.min(zb).alias("mn"), F.max(zb).alias("mx"),
        F.count("*").alias("c"),
        F.sum(zb).alias("sz"), F.sum(zb * zb).alias("sz2"),
    ).collect()
    rows = []
    for r in sorted(per, key=lambda r: r["image_id"]):
        mean = r["sz"] / r["c"]
        var = r["sz2"] / r["c"] - mean * mean
        rows.append({"min": r["mn"], "max": r["mx"], "count": r["c"],
                     "mean": mean, "std_pop": math.sqrt(var)})
    schema = "n_images long, min_z long, max_z long, count long, mean_e6 long, std_e6 long"
    if not rows:
        # mirror the oracle: its cross join with an empty first-row CTE
        # yields zero rows for an empty clip
        return spark.createDataFrame([], schema)
    merged = zonal_ops.combine_stats_reference_quirk(rows)
    out = (len(per), merged["min"], merged["max"], merged["count"],
           math.floor(merged["mean"] * 1e6), math.floor(merged["std_pop"] * 1e6))
    return spark.createDataFrame([out], schema)


_GEOM_CASES = {
    "poly_hole": {"type": "Polygon", "coordinates": [
        [[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]],
        [[1, 1], [2, 1], [2, 2], [1, 2], [1, 1]],
    ]},
    "multi": {"type": "MultiPolygon", "coordinates": [
        [[[0, 0], [1, 0], [1, 1], [0, 0]]],
        [[[5, 5], [6, 5], [6, 6], [5, 5]]],
    ]},
    "feature": {"type": "Feature", "properties": {}, "geometry": {
        "type": "Polygon", "coordinates": [[[2, 2], [3, 2], [3, 3], [2, 2]]]}},
    "fc_first_only": {"type": "FeatureCollection", "features": [
        {"type": "Feature", "geometry": {"type": "Polygon",
         "coordinates": [[[7, 7], [8, 7], [8, 8], [7, 7]]]}},
        {"type": "Feature", "geometry": {"type": "Polygon",
         "coordinates": [[[9, 9], [10, 9], [10, 10], [9, 9]]]}},
    ]},
    "canvas": [{"type": "Polygon",
                "coordinates": [[[11, 11], [12, 11], [12, 12], [11, 11]]]},
               [11, 11, 12, 12]],
}

# HAND-WRITTEN expectations (deliberately not derived from the code
# under test): (case, ring_idx, pt_idx, x, y). The FeatureCollection
# case lists ONLY the first feature's ring — the reference quirk
# (test2.py:258-262); the MultiPolygon flattens both shells.
_GEOM_EXPECT = (
    [("poly_hole", 0, i, x, y) for i, (x, y) in enumerate(
        [(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)])]
    + [("poly_hole", 1, i, x, y) for i, (x, y) in enumerate(
        [(1, 1), (2, 1), (2, 2), (1, 2), (1, 1)])]
    + [("multi", 0, i, x, y) for i, (x, y) in enumerate(
        [(0, 0), (1, 0), (1, 1), (0, 0)])]
    + [("multi", 1, i, x, y) for i, (x, y) in enumerate(
        [(5, 5), (6, 5), (6, 6), (5, 5)])]
    + [("feature", 0, i, x, y) for i, (x, y) in enumerate(
        [(2, 2), (3, 2), (3, 3), (2, 2)])]
    + [("fc_first_only", 0, i, x, y) for i, (x, y) in enumerate(
        [(7, 7), (8, 7), (8, 8), (7, 7)])]
    + [("canvas", 0, i, x, y) for i, (x, y) in enumerate(
        [(11, 11), (12, 11), (12, 12), (11, 11)])]
)


@_register(
    "geometry_normalize",
    _values_sql(
        [(f"'{c}'", r, p, x * 1_000_000, y * 1_000_000)
         for c, r, p, x, y in _GEOM_EXPECT],
        "case_id, ring_idx, pt_idx, x_e6, y_e6",
    ),
)
def q_geometry_normalize(spark, sf_dir):
    """D8, hard-oracle form: geometry normalization as a distributed
    operator over a column of GeoJSON strings — Polygon-with-hole,
    MultiPolygon (flattened shells), Feature unwrap, FeatureCollection
    FIRST-feature-only quirk, and the canvas [geometry, bounds] format
    (test2.py:256-272, get_raster_stats_direct.py:39-52). Oracle is a
    hand-written VALUES table, not a replay."""
    from ..functions import geometry as geometry_fns

    src = spark.createDataFrame(
        [(k, json.dumps(v)) for k, v in sorted(_GEOM_CASES.items())],
        "case_id string, geojson string",
    ).repartition(4)

    def run(batches):
        import math

        for pdf in batches:
            out = {k: [] for k in ("case_id", "ring_idx", "pt_idx", "x_e6", "y_e6")}
            for case_id, doc in zip(pdf["case_id"], pdf["geojson"]):
                rings = geometry_fns.normalize_geometry(json.loads(doc))
                for ri, ring in enumerate(rings):
                    for pi, (x, y) in enumerate(ring):
                        out["case_id"].append(case_id)
                        out["ring_idx"].append(ri)
                        out["pt_idx"].append(pi)
                        out["x_e6"].append(math.floor(x * 1e6))
                        out["y_e6"].append(math.floor(y * 1e6))
            yield pd.DataFrame(out)

    return src.mapInPandas(
        run, "case_id string, ring_idx int, pt_idx int, x_e6 long, y_e6 long"
    )


def _fixed_sql(expr: str, digits: int = 6) -> str:
    """DuckDB twin of sinks.fixed_point_col: half-up quantize to
    10^digits, assemble '<sign><int>.<frac>' from integers (portable —
    printf('%.Nf') rounds differently across engines)."""
    scale = 10 ** digits
    q = f"CAST(FLOOR(({expr}) * {scale}.0e0 + 0.5e0) AS BIGINT)"
    return (
        f"(CASE WHEN {q} < 0 THEN '-' ELSE '' END) || "
        f"printf('%d.%0{digits}d', abs({q}) // {scale}, abs({q}) % {scale})"
    )


def _analyze_report_sql() -> str:
    f6 = lambda e: _fixed_sql(e, 6)  # noqa: E731
    return f"""
    WITH pts AS ({_PTS_SQL}),
    per_img AS (
        SELECT image_id, CAST(COUNT(*) AS BIGINT) AS nv,
               MIN(lon) AS mnl, MAX(lon) AS mxl,
               MIN(lat) AS mnb, MAX(lat) AS mxb
        FROM pts WHERE valid GROUP BY image_id
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nf, CAST(SUM(nv) AS BIGINT) AS nv FROM per_img),
    hdr AS (
        SELECT CAST(0 AS BIGINT) AS line_no, 'TIFF ANALYSIS MASTER REPORT' AS line FROM tot
        UNION ALL SELECT 1, repeat('=', 50) FROM tot
        UNION ALL SELECT 2, 'Total files analyzed: ' || CAST(nf AS VARCHAR) FROM tot
        UNION ALL SELECT 3, 'Total valid points: ' || format('{{:,}}', nv) FROM tot
    ),
    body AS (
        SELECT CAST(3 + ROW_NUMBER() OVER (ORDER BY image_id) AS BIGINT) AS line_no,
               '  ' || CAST(image_id AS VARCHAR) || ': ' || format('{{:,}}', nv)
               || ' valid points bounds=(' || {f6('mnl')} || ',' || {f6('mnb')}
               || ')...(' || {f6('mxl')} || ',' || {f6('mxb')} || ')' AS line
        FROM per_img
    )
    SELECT line_no, line FROM hdr UNION ALL SELECT line_no, line FROM body
    """


@_register("analyze_report_lines", _analyze_report_sql())
def q_analyze_report_lines(spark, sf_dir):
    """A10, hard-oracle form: the master analyze report
    (test.py:366-515) as deterministic (line_no, line) rows — header,
    50-char ruler, thousands-separated totals, one bounds line per
    image — built entirely in Catalyst by sinks.analyze_report_df."""
    from ..operators import extract, sinks

    pts = _pts(spark, sf_dir).filter("valid").select(
        "image_id",
        F.col("lon").alias("longitude"),
        F.col("lat").alias("latitude"),
        F.col("z").alias("elevation"),
    )
    return sinks.analyze_report_df(extract.analyze_images(pts))


def _json_envelope_sql() -> str:
    f6 = lambda e: _fixed_sql(e, 6)  # noqa: E731
    f2 = lambda e: _fixed_sql(e, 2)  # noqa: E731
    head = '{"metadata":{"source_file":"'  # plain str: braces literal, survives the f-string interpolation below
    return f"""
    WITH pts AS ({_PTS_SQL}),
    f AS (
        SELECT image_id, point_id, lon, lat, z,
               {f6('lon')} AS slon, {f6('lat')} AS slat, {f2('z')} AS sz
        FROM pts WHERE valid
    ),
    agg AS (
        SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n,
               string_agg(slon, ',' ORDER BY point_id, slon, slat, sz) AS lons,
               string_agg(slat, ',' ORDER BY point_id, slon, slat, sz) AS lats,
               string_agg(sz, ',' ORDER BY point_id, slon, slat, sz) AS zs,
               MIN(lon) AS mnl, MAX(lon) AS mxl,
               MIN(lat) AS mnb, MAX(lat) AS mxb,
               MIN(z) AS mnz, MAX(z) AS mxz
        FROM f GROUP BY image_id
    )
    SELECT CAST(image_id AS VARCHAR) AS image_id,
           '{head}' || CAST(image_id AS VARCHAR)
           || '","output_crs":"EPSG:4326","frontend_points":' || CAST(n AS VARCHAR)
           || ',"bounds":{{"min_longitude":' || {f6('mnl')}
           || ',"max_longitude":' || {f6('mxl')}
           || ',"min_latitude":' || {f6('mnb')}
           || ',"max_latitude":' || {f6('mxb')}
           || ',"min_elevation":' || {f2('mnz')}
           || ',"max_elevation":' || {f2('mxz')}
           || '}}}},"data":{{"longitude":[' || lons
           || '],"latitude":[' || lats
           || '],"elevation":[' || zs || ']}}}}' AS envelope
    FROM agg
    """


@_register("json_envelope", _json_envelope_sql())
def q_json_envelope(spark, sf_dir):
    """A8, hard-oracle form: the struct-of-arrays JSON envelope
    (doesSamples.py:108-133) per image as ONE compact JSON string —
    metadata (source_file, output_crs, frontend_points, bounds) then
    parallel data arrays in point order — built by the single-aggregate
    sinks.json_envelope_rows with engine-portable fixed-point floats."""
    from ..operators import sinks

    pts = _pts(spark, sf_dir).filter("valid").select(
        "image_id", "point_id",
        F.col("lon").alias("longitude"),
        F.col("lat").alias("latitude"),
        F.col("z").alias("elevation"),
    )
    return sinks.json_envelope_rows(pts, group_col="image_id", order_col="point_id")


# ---------------------------------------------------------------------------
# documents: dedup + text analysis
# ---------------------------------------------------------------------------

@_register(
    "dedup_exact",
    """
    SELECT md5(text) AS content_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def q_dedup_exact(spark, sf_dir):
    """Dedup/exact: md5 hash-groupBy."""
    docs = _load(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs)


@_register(
    "ngram_jaccard",
    """
    WITH pos AS (
        SELECT doc_id, source, text,
               unnest(generate_series(1, greatest(length(text) - 3, 1))) AS i
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id, source, substr(text, CAST(i AS INT), 4) AS shingle
        FROM pos
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS set_size FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source = b.source AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    scored AS (
        SELECT doc_a, doc_b, n_inter,
               sa.set_size + sb.set_size - n_inter AS n_union
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
    )
    SELECT doc_a, doc_b, n_inter, CAST(n_union AS BIGINT) AS n_union,
           CAST(FLOOR(CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE) * 1000000.0e0) AS BIGINT) AS jaccard_e6
    FROM scored
    WHERE CAST(FLOOR(CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE) * 1000000.0e0) AS BIGINT) >= 300000
    """,
)
def q_ngram_jaccard(spark, sf_dir):
    """Dedup/n-gram: exact 4-gram Jaccard pairs >= 0.3, blocked by source
    (one bucket-grid pass: a kernel per (source, bucket pair) cell)."""
    docs = _load(spark, sf_dir, "documents")
    return dedup.jaccard_pairs(docs, n=4, threshold_e6=300_000, block_col="source")


@_register(
    "text_quality",
    f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_len,
           CAST(FLOOR(CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) * 1000000.0e0) AS BIGINT) AS alpha_ratio_e6,
           CAST(FLOOR(CAST(length(text) - length(regexp_replace(text, ' ', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) * 1000000.0e0) AS BIGINT) AS space_ratio_e6,
           CAST(FLOOR(CAST(len(list_filter(string_split(text, ' '), x -> x IN {text.STOPWORDS!r})) AS DOUBLE)
                / CAST(len(string_split(text, ' ')) AS DOUBLE) * 1000000.0e0) AS BIGINT) AS stop_ratio_e6,
           CAST(FLOOR(CAST(length(regexp_replace(text, ' ', '', 'g')) AS DOUBLE)
                / CAST(len(string_split(text, ' ')) AS DOUBLE) * 1000000.0e0) AS BIGINT) AS mean_tok_len_e6
    FROM documents
    """,
)
def q_text_quality(spark, sf_dir):
    """Text/quality: length, alpha ratio, space ratio, stopword ratio,
    mean token length (all built-in expressions)."""
    docs = _load(spark, sf_dir, "documents")
    return text.with_quality(docs).select(
        "doc_id", "n_len", "alpha_ratio_e6", "space_ratio_e6",
        "stop_ratio_e6", "mean_tok_len_e6",
    )


def _langid_sql() -> str:
    score_exprs = []
    for lang, markers in text.LANG_MARKERS.items():
        score_exprs.append(
            f"CAST(len(list_filter(string_split(lower(text), ' '), x -> x IN {markers!r})) AS BIGINT) AS score_{lang}"
        )
    langs = list(text.LANG_MARKERS)
    best = "GREATEST(" + ", ".join(f"score_{la}" for la in langs) + ")"
    pred = "'und'"
    for la in reversed(langs):
        pred = f"CASE WHEN score_{la} = {best} THEN '{la}' ELSE {pred} END"
    return f"""
    WITH scored AS (SELECT doc_id, {', '.join(score_exprs)} FROM documents)
    SELECT doc_id, {', '.join(f'score_{la}' for la in langs)},
           CASE WHEN {best} <= 0 THEN 'und' ELSE {pred} END AS pred_lang
    FROM scored
    """


@_register("langid", _langid_sql())
def q_langid(spark, sf_dir):
    """Text/language-ID: marker-lexicon scoring + argmax."""
    docs = _load(spark, sf_dir, "documents")
    return text.with_langid(docs).select(
        "doc_id", *[f"score_{la}" for la in text.LANG_MARKERS], "pred_lang"
    )


@_register(
    "token_count",
    f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '{text.TOKEN_REGEX}')) AS BIGINT) AS re_tokens
    FROM documents
    """,
)
def q_token_count(spark, sf_dir):
    """Text/tokens: whitespace + regex-piece token counts."""
    docs = _load(spark, sf_dir, "documents")
    return text.with_token_counts(docs).select("doc_id", "ws_tokens", "re_tokens")


# ---------------------------------------------------------------------------
# embeddings: similarity search
# ---------------------------------------------------------------------------

_QVEC_SQL = "list_transform(embedding, v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000.0) AS BIGINT))"


_BRUTE_TOPK_SQL = f"""
    WITH q AS (
        SELECT vec_id, {_QVEC_SQL} AS qv FROM embeddings
    ),
    qn AS (
        SELECT vec_id, qv,
               CAST(list_dot_product(list_transform(qv, v -> CAST(v AS DOUBLE)), list_transform(qv, v -> CAST(v AS DOUBLE))) AS BIGINT) AS n2
        FROM q
    ),
    pairs AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               CAST(list_dot_product(list_transform(a.qv, v -> CAST(v AS DOUBLE)), list_transform(b.qv, v -> CAST(v AS DOUBLE))) AS BIGINT) AS dot_q,
               a.n2 AS na, b.n2 AS nb
        FROM qn a, qn b WHERE a.vec_id <> b.vec_id
    ),
    scored AS (
        SELECT query_id, neighbor_id, dot_q,
               CAST(FLOOR(CAST(dot_q AS DOUBLE) / SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) * 1000000.0e0) AS BIGINT) AS cos_e6
        FROM pairs
    ),
    ranked AS (
        SELECT query_id, neighbor_id, dot_q, cos_e6,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_e6 DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, dot_q, cos_e6, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """


@_register(
    "ann_brute_topk",
    f"""
    WITH topk AS ({_BRUTE_TOPK_SQL})
    SELECT 'broadcast' AS mode, * FROM topk
    UNION ALL
    SELECT 'blocked' AS mode, * FROM topk
    """,
)
def q_ann_brute_topk(spark, sf_dir):
    """Similarity/brute-force, BOTH physical strategies in one tagged
    union checked against one exact SQL answer:

    - mode='broadcast': corpus through the driver + per-batch numpy
      matmul — the labeled baseline, right up to a few million rows;
    - mode='blocked': brute_topk_blocked's (query-batch x corpus-block)
      grid — local per-cell top-k + global window, no driver collect,
      no broadcast — the 10^9-row exact-top-k path. Must be
      bit-identical to the broadcast leg (both floor-quantize before
      scoring and share the IEEE expression tree)."""
    emb = _load(spark, sf_dir, "embeddings")
    return (
        similarity.brute_topk(emb, k=5)
        .select(F.lit("broadcast").alias("mode"), "*")
        .unionByName(
            similarity.brute_topk_blocked(emb, k=5, n_blocks=4)
            .select(F.lit("blocked").alias("mode"), "*")
        )
    )


def _neardup_sql(threshold: int,
                 corpus_sql: str = "SELECT vec_id, embedding FROM embeddings") -> str:
    return f"""
    WITH corpus AS ({corpus_sql}),
    q AS (SELECT vec_id, {_QVEC_SQL} AS qv FROM corpus),
    qn AS (
        SELECT vec_id, qv,
               CAST(list_dot_product(list_transform(qv, v -> CAST(v AS DOUBLE)), list_transform(qv, v -> CAST(v AS DOUBLE))) AS BIGINT) AS n2
        FROM q
    ),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               CAST(list_dot_product(list_transform(a.qv, v -> CAST(v AS DOUBLE)), list_transform(b.qv, v -> CAST(v AS DOUBLE))) AS BIGINT) AS dot_q,
               a.n2 AS na, b.n2 AS nb
        FROM qn a, qn b WHERE a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, dot_q,
           CAST(FLOOR(CAST(dot_q AS DOUBLE) / SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) * 1000000.0e0) AS BIGINT) AS cos_e6
    FROM pairs
    WHERE CAST(FLOOR(CAST(dot_q AS DOUBLE) / SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) * 1000000.0e0) AS BIGINT) >= {threshold}
    """


# the lsh_routed mode needs qualifying pairs to exist at a near-dup
# threshold: the synthetic embeddings have NO natural pairs >= 0.9, so
# the corpus is augmented with exact copies of the first 50 vectors
# (id + 1000000). Exact dups share identical quantized signatures, so
# the LSH candidate stage finds them with structural (not probabilistic)
# certainty — the driver row is deterministic; probabilistic near-dup
# recall is exercised by the planted-noise test in tests/test_plans.py.
_PLANTED_CORPUS_SQL = (
    "SELECT vec_id, embedding FROM embeddings UNION ALL "
    "SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id < 50"
)

_NEARDUP_MERGED_SQL = f"""
    SELECT 'broadcast' AS mode, * FROM ({_neardup_sql(400_000)})
    UNION ALL
    SELECT 'blocked' AS mode, * FROM ({_neardup_sql(400_000)})
    UNION ALL
    SELECT 'lsh_routed' AS mode, * FROM ({_neardup_sql(950_000, _PLANTED_CORPUS_SQL)})
    """


@_register("embed_neardup", _NEARDUP_MERGED_SQL)
def q_embed_neardup(spark, sf_dir):
    """Similarity/near-dup: quantized-cosine threshold pairs under all
    THREE physical strategies in one tagged union (one driver row; the
    registry is capped at 50 checked queries):

    - ``broadcast`` (>= 0.4): corpus-broadcast integer matmul, no
      cartesian in the plan;
    - ``blocked`` (>= 0.4): blocked-Gram-matrix 100 TB path (hash-block
      shuffle + per-block-pair exact matmul; no broadcast, no driver
      collect — plan-asserted in tests/test_plans.py). Same sub-oracle
      as broadcast: the two strategies must be bit-identical;
    - ``lsh_routed`` (>= 0.95, the mode='auto' routing for near-dup
      thresholds): hyperplane-LSH candidates + exact verify over the
      embeddings augmented with 50 planted exact dups (id + 1000000),
      checked against the exhaustive SQL join on the same corpus.
    """
    emb = _load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    bc = similarity.cosine_pairs(emb, threshold_e6=400_000, mode="broadcast")
    bl = similarity.cosine_pairs_blocked(emb, threshold_e6=400_000, n_blocks=4)
    planted = emb.unionAll(
        emb.filter(F.col("vec_id") < 50)
        .select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    )
    # mode='auto' at threshold >= 0.9 must route through the LSH path
    ls = similarity.cosine_pairs(planted, threshold_e6=950_000, mode="auto")
    return (
        bc.select(F.lit("broadcast").alias("mode"), "*")
        .unionAll(bl.select(F.lit("blocked").alias("mode"), "*"))
        .unionAll(ls.select(F.lit("lsh_routed").alias("mode"), "*"))
    )


# ---------------------------------------------------------------------------
# events: windowed aggregation (batch form)
# ---------------------------------------------------------------------------

@_register(
    "distinct_values",
    f"""
    WITH pts AS ({_PTS_SQL})
    SELECT image_id,
           CAST(COUNT(DISTINCT CAST(z AS BIGINT)) AS BIGINT) AS n_distinct,
           CAST(MIN(CAST(z AS BIGINT)) AS BIGINT) AS min_v,
           CAST(MAX(CAST(z AS BIGINT)) AS BIGINT) AS max_v
    FROM pts WHERE valid GROUP BY image_id
    """,
)
def q_distinct_values(spark, sf_dir):
    """E6: unique-value probe (the reference's np.unique diagnostics,
    test2.py:1006-1021) as exact distinct aggregation."""
    pts = _pts(spark, sf_dir).filter("valid")
    zl = F.col("z").cast("long")
    return pts.groupBy("image_id").agg(
        F.countDistinct(zl).alias("n_distinct"),
        F.min(zl).alias("min_v"),
        F.max(zl).alias("max_v"),
    )


@_register(
    "events_hourly",
    """
    SELECT CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS hour_bucket,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 100.0e0) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events GROUP BY 1, 2
    """,
)
def q_events_hourly(spark, sf_dir):
    """G-analog (batch form of the streaming rollup): hourly tumbling
    window + per-type counts/sums."""
    ev = _load(spark, sf_dir, "events")
    return ev.groupBy(
        F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("hour_bucket"),
        "event_type",
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.floor(F.col("value") * 100.0).cast("long")).alias("sum_cents"),
    )


# ---------------------------------------------------------------------------
# rows-only entries (non-SQL-expressible: raster decode, LSH, streaming)
# ---------------------------------------------------------------------------

@_register("raster_extract_valid")
def q_raster_extract_valid(spark, sf_dir):
    """A3/B1-B6 full pipeline on the synthetic Iceberg-shaped image table
    (binary decode not SQL-expressible; oracle equality in pytest)."""
    from ..operators import extract

    images = synth.images_df(spark, "xs")
    return extract.extract_points(images, valid_only=True)


@_register("raster_zonal_delhi")
def q_raster_zonal_delhi(spark, sf_dir):
    """D3/E1 on real decoded rasters with the golden Delhi polygon."""
    from ..operators import extract, zonal

    images = synth.images_df(spark, "xs")
    pts = extract.extract_points(images, valid_only=True)
    return zonal.zonal_stats(pts, [synth.GOLDEN_DELHI_RING], "poly_0000")


@_register("raster_tile_catalog")
def q_raster_tile_catalog(spark, sf_dir):
    """Tiling + catalog rollup over decoded rasters, aggregated inside
    the extract pass (same path as ``Converter.tiles``)."""
    from ..operators import extract

    images = synth.images_df(spark, "xs")
    return tiling.tile_histogram_from_partials(extract.extract_partials(images, 12))


_JACCARD_NOBLOCK_SQL = """
    WITH pos AS (
        SELECT doc_id, text,
               unnest(generate_series(1, greatest(length(text) - 3, 1))) AS i
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 4) AS shingle
        FROM pos
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS set_size FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    scored AS (
        SELECT doc_a, doc_b, n_inter,
               sa.set_size + sb.set_size - n_inter AS n_union
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
    )
    SELECT doc_a, doc_b, n_inter, CAST(n_union AS BIGINT) AS n_union,
           CAST(FLOOR(CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE) * 1000000.0e0) AS BIGINT) AS jaccard_e6
    FROM scored
    WHERE CAST(FLOOR(CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE) * 1000000.0e0) AS BIGINT) >= 300000
"""


@_register(
    "minhash_lsh_pairs",
    f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({_JACCARD_NOBLOCK_SQL}),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    cc(doc_id, label) AS (
        SELECT DISTINCT u, u FROM edges
        UNION
        SELECT e.u, cc.label FROM cc JOIN edges e ON e.v = cc.doc_id
        WHERE cc.label < e.u
    ),
    comp AS (SELECT doc_id, MIN(label) AS component FROM cc GROUP BY doc_id),
    csize AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
              FROM comp GROUP BY component)
    SELECT 'pair' AS kind, doc_a, doc_b, n_inter, n_union, jaccard_e6
    FROM pairs
    UNION ALL
    SELECT 'component' AS kind, comp.doc_id AS doc_a,
           comp.component AS doc_b, csize.cluster_size AS n_inter,
           CAST(0 AS BIGINT) AS n_union, CAST(0 AS BIGINT) AS jaccard_e6
    FROM comp JOIN csize USING (component)
    UNION ALL
    SELECT 'keeplist' AS kind, d.doc_id AS doc_a,
           COALESCE(comp.component, d.doc_id) AS doc_b,
           CAST(CASE WHEN comp.component IS NULL
                       OR comp.component = d.doc_id
                THEN 1 ELSE 0 END AS BIGINT) AS n_inter,
           CAST(0 AS BIGINT) AS n_union, CAST(0 AS BIGINT) AS jaccard_e6
    FROM documents d LEFT JOIN comp ON comp.doc_id = d.doc_id
    """,
)
def q_minhash_lsh_pairs(spark, sf_dir):
    """Dedup/MinHash-LSH + duplicate clusters, tagged union (kind).

    kind='pair': MinHash-LSH in its FULL-RECALL configuration (64
    one-row bands: a pair is a candidate iff ANY of 64 minhashes
    collide; for J >= 0.3 the miss probability is (1-J)^64 <= 1.2e-10,
    and the exact array_intersect verify makes precision 1) — so the
    output equals the exact all-pairs Jaccard answer and the driver can
    hash-check it against plain SQL. The operator's default (16 bands x
    4 rows) is the production S-curve at threshold 0.5; this leg
    hard-verifies the signature/band/bucket/verify machinery end to end.

    kind='component': the pairs fed through
    dedup.connected_components — every clustered doc labeled with its
    component's min id (doc_b) and cluster size (n_inter); the oracle
    replays the clustering as a recursive min-label closure CTE, so
    the Pregel-style iteration is hash-checked against an independent
    algorithm, not a code twin.

    kind='keeplist': dedup.keep_list — the end-to-end deliverable a
    training-data pipeline consumes: EVERY document decided keep
    (n_inter=1) or drop (0), doc_b = the surviving min-id cluster
    member (own id for singletons and survivors). The oracle is the
    same component CTE left-joined back to the full documents table."""
    docs = _load(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, n=4, num_hashes=64, bands=64, threshold_e6=300_000
    ).localCheckpoint(eager=False)
    comps = dedup.connected_components(pairs).localCheckpoint(eager=False)
    keeps = dedup.keep_list(docs, components=comps)
    return (
        pairs.select(F.lit("pair").alias("kind"), "*")
        .unionByName(comps.select(
            F.lit("component").alias("kind"),
            F.col("id").alias("doc_a"),
            F.col("component").alias("doc_b"),
            F.col("cluster_size").alias("n_inter"),
            F.lit(0).cast("long").alias("n_union"),
            F.lit(0).cast("long").alias("jaccard_e6"),
        ))
        .unionByName(keeps.select(
            F.lit("keeplist").alias("kind"),
            F.col("doc_id").alias("doc_a"),
            F.col("survivor").alias("doc_b"),
            F.col("keep").cast("long").alias("n_inter"),
            F.lit(0).cast("long").alias("n_union"),
            F.lit(0).cast("long").alias("jaccard_e6"),
        ))
    )


def _duck_horner(base: int) -> str:
    """DuckDB twin of text._horner_col: identical fold, identical BIGINT
    arithmetic (h*base+c < 2^39 — exact in both engines)."""
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(range(1, length(text)+1), i -> CAST(ord(substr(text, CAST(i AS INT), 1)) AS BIGINT))), "
        f"(h, c) -> (h * {base} + c) % 2147483647)"
    )


def _simhash_sql(max_hamming: int = 3) -> str:
    """Full SQL replay of the simhash algorithm (dedup.with_simhash +
    pigeonhole band join): md5-60-bit token hashes, per-bit majority
    vote, band equi-join, exact Hamming verify. Every step is integer-
    exact, so the two engines agree bit-for-bit."""
    nbits = dedup.SIMHASH_BITS
    bands = dedup._band_slices(nbits, max_hamming + 1)
    bsums = ", ".join(f"CAST(SUM((h >> {k}) & 1) AS BIGINT) AS b{k}" for k in range(nbits))
    votes = " + ".join(
        f"CASE WHEN b{k}*2 >= n_tok THEN CAST({1 << k} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for k in range(nbits)
    )
    band_vals = ", ".join(f"({i}, {lo}, {w})" for i, (lo, w) in enumerate(bands))
    return f"""
    WITH tok AS (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        FROM documents
    ),
    th AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM tok),
    v AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok, {bsums} FROM th GROUP BY doc_id),
    sim0 AS (SELECT doc_id, ({votes}) AS simhash FROM v),
    sim AS (
        SELECT d.doc_id, COALESCE(s.simhash, 0) AS simhash
        FROM documents d LEFT JOIN sim0 s ON s.doc_id = d.doc_id
    ),
    banded AS (
        SELECT doc_id, simhash, bb.band, (simhash >> bb.lo) & ((1 << bb.w) - 1) AS band_bits
        FROM sim, (VALUES {band_vals}) AS bb(band, lo, w)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS sim_a, b.simhash AS sim_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.band_bits = b.band_bits AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, sim_a, sim_b, CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= {max_hamming}
    """


_PHASH_DUP_IDS = [f"img_{i:08d}" for i in range(4)]
# planted near-duplicates at CONTROLLED Hamming distances (bit masks
# flip low bits only, never bit 63, so int64 sign is preserved): 2 and
# 3 exercise multi-band candidate generation, 10 sits exactly ON the
# threshold, 11 must be EXCLUDED by the exact verify — together they
# prove the pigeonhole join's recall AND its cutoff, not just
# exact-duplicate equality
_PHASH_NEAR = [
    ("near2_img_00000000", "img_00000000", (1 << 5) | (1 << 23)),
    ("near3_img_00000001", "img_00000001", (1 << 0) | (1 << 17) | (1 << 33)),
    ("near10_img_00000002", "img_00000002", sum(1 << b for b in range(40, 50))),
    ("far11_img_00000003", "img_00000003", sum(1 << b for b in range(40, 51))),
]


@_lru_cache(maxsize=1)
def _xs_phashes() -> tuple:
    """(ids, phashes) of the xs corpus, generated once per process —
    both the oracle replay and the query construction need them, and
    regenerating the corpus (grids + DCT + codec encode) per call is
    pure repeated work."""
    import numpy as np

    n, sizes = synth.SCALES["xs"]
    pdf = synth.generate_pandas(np.arange(n), n, sizes)
    return tuple(pdf["image_id"]), tuple(int(x) for x in pdf["phash"])


def _phash_planted(ids: list, ph: list) -> list[tuple]:
    """(id, phash) rows to append to the xs corpus — shared by the
    engine side and the brute-force replay so both see the same data."""
    out = []
    for dup in _PHASH_DUP_IDS:
        out.append((f"dup_{dup}", ph[ids.index(dup)]))
    for new_id, base_id, mask in _PHASH_NEAR:
        out.append((new_id, ph[ids.index(base_id)] ^ mask))
    return out


def _phash_pairs_rows(max_hamming: int = 10) -> list[tuple]:
    """Independent brute-force replay of the image phash near-dup leg:
    ALL O(n^2) Hamming distances over the xs corpus plus the planted
    exact/near duplicates, single-process — a different algorithm from
    the engine's pigeonhole band join, so a match proves the band
    join's exact-recall theorem (and its threshold cutoff) in
    practice."""
    xs_ids, xs_ph = _xs_phashes()
    ids, ph = list(xs_ids), list(xs_ph)
    for new_id, val in _phash_planted(ids, ph):
        ids.append(new_id)
        ph.append(val)
    rows = []
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            h = bin((ph[i] ^ ph[j]) & ((1 << 64) - 1)).count("1")
            if h <= max_hamming:
                (a, sa), (b, sb) = sorted(((ids[i], ph[i]), (ids[j], ph[j])))
                rows.append((f"'{a}'", f"'{b}'", sa, sb, h))
    return sorted(rows)


def _simhash_union_sql() -> str:
    phash_leg = _values_sql(
        _phash_pairs_rows(), "doc_a, doc_b, sim_a, sim_b, hamming")
    return f"""
    SELECT 'text' AS kind,
           CAST(doc_a AS VARCHAR) AS doc_a, CAST(doc_b AS VARCHAR) AS doc_b,
           sim_a, sim_b, hamming
    FROM ({_simhash_sql(3)})
    UNION ALL
    SELECT 'phash' AS kind, doc_a, doc_b,
           CAST(sim_a AS BIGINT) AS sim_a, CAST(sim_b AS BIGINT) AS sim_b,
           CAST(hamming AS INT) AS hamming
    FROM ({phash_leg})
    """


@_register("simhash_pairs", _simhash_union_sql())
def q_simhash_pairs(spark, sf_dir):
    """Hamming near-dup tagged union over the shared pigeonhole band
    join (dedup.hamming_pairs — exact recall by theorem):

    - kind='text': SimHash Hamming<=3 pairs on the documents table; the
      oracle replays the whole algorithm in SQL.
    - kind='phash': 64-bit perceptual-hash Hamming<=10 pairs over the
      xs image corpus plus four planted exact duplicates (ids
      dup_img_*) — image dedup without ever shuffling image bytes; the
      oracle is an independent brute-force all-pairs replay, so the
      match proves the band join finds EVERY pair, not just the
      planted ones."""
    docs = _load(spark, sf_dir, "documents")
    # doc ids are BIGINT, image ids strings: pin both legs to string or
    # the union would coerce the image ids to numbers (runtime cast error)
    text = dedup.simhash_pairs(docs, max_hamming=3).select(
        F.lit("text").alias("kind"),
        F.col("doc_a").cast("string").alias("doc_a"),
        F.col("doc_b").cast("string").alias("doc_b"),
        "sim_a", "sim_b", "hamming")
    imgs = synth.images_df(spark, "xs").select("image_id", "phash")
    xs_ids, xs_ph = _xs_phashes()
    planted = spark.createDataFrame(
        _phash_planted(list(xs_ids), list(xs_ph)),
        "image_id string, phash long")
    phash = dedup.phash_pairs(imgs.unionByName(planted),
                              max_hamming=10).select(
        F.lit("phash").alias("kind"),
        "doc_a", "doc_b", "sim_a", "sim_b", "hamming")
    return text.unionByName(phash)


@_register(
    "doc_fingerprint",
    f"""
    SELECT doc_id,
           ({_duck_horner(131)} * 2147483648 + {_duck_horner(257)}) AS fingerprint
    FROM documents
    """,
)
def q_doc_fingerprint(spark, sf_dir):
    """Text/fingerprint: dual 31-bit rolling Horner hash packed to 62
    bits — pure Catalyst built-ins, SQL-replayed by the oracle."""
    docs = _load(spark, sf_dir, "documents")
    return text.with_fingerprint(docs).select("doc_id", "fingerprint")


# dim-192 widening of the dim-64 embeddings, exact in IEEE doubles in
# both engines (negate and *0.5 are exact), so the wide-wire leg below
# needs no new data: qv_wide = floor-quantize(concat(v, -v, v/2))
_QVEC_WIDE_SQL = (
    "list_transform(list_concat(list_concat("
    "list_transform(embedding, v -> CAST(v AS DOUBLE)), "
    "list_transform(embedding, v -> -CAST(v AS DOUBLE))), "
    "list_transform(embedding, v -> CAST(v AS DOUBLE) * 0.5e0)), "
    "v -> CAST(FLOOR(v * 1000.0) AS BIGINT))"
)


def _lsh_topk_sql(k: int = 5, n_tables: int = 4, n_planes: int = 16,
                  dim: int = 64, qv_sql: str = _QVEC_SQL) -> str:
    """Full SQL replay of the LSH-ANN algorithm: the hyperplanes are
    seeded and integer-quantized (similarity.lsh_planes_int), the sign
    test and the cosine re-rank are exact integer/IEEE-identical
    expressions, so both engines compute the SAME approximate result —
    the oracle checks the algorithm, not just its aspiration."""
    import numpy as np  # noqa: F401  (planes literal generation)

    from ..operators.similarity import lsh_planes_int

    P = lsh_planes_int(n_tables, n_planes, dim)
    vals = ", ".join(
        f"({t}, {j}, [{', '.join(str(int(v)) for v in P[t, j])}])"
        for t in range(n_tables)
        for j in range(n_planes)
    )
    return f"""
    WITH q AS (SELECT vec_id, {qv_sql} AS qv FROM embeddings),
    planes(t, j, p) AS (VALUES {vals}),
    sig AS (
        SELECT q.vec_id, planes.t,
               CAST(SUM(CASE WHEN list_dot_product(
                        list_transform(q.qv, v -> CAST(v AS DOUBLE)),
                        list_transform(planes.p, v -> CAST(v AS DOUBLE))) > 0
                   THEN (1 << planes.j) ELSE 0 END) AS BIGINT) AS bucket
        FROM q, planes GROUP BY q.vec_id, planes.t
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
        FROM sig a JOIN sig b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
    ),
    qn AS (
        SELECT vec_id, qv,
               CAST(list_dot_product(list_transform(qv, v -> CAST(v AS DOUBLE)), list_transform(qv, v -> CAST(v AS DOUBLE))) AS BIGINT) AS n2
        FROM q
    ),
    scored AS (
        SELECT c.query_id, c.neighbor_id,
               CAST(list_dot_product(list_transform(a.qv, v -> CAST(v AS DOUBLE)), list_transform(b.qv, v -> CAST(v AS DOUBLE))) AS BIGINT) AS dot_q,
               a.n2 AS na, b.n2 AS nb
        FROM cand c JOIN qn a ON a.vec_id = c.query_id JOIN qn b ON b.vec_id = c.neighbor_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, dot_q,
               CAST(FLOOR(CAST(dot_q AS DOUBLE) / SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) * 1000000.0e0) AS BIGINT) AS cos_e6,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY CAST(FLOOR(CAST(dot_q AS DOUBLE) / SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) * 1000000.0e0) AS BIGINT) DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, dot_q, cos_e6, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {k}
    """


@_register(
    "ann_lsh_topk",
    f"""
    SELECT 'd64' AS wire_tag, * FROM ({_lsh_topk_sql()})
    UNION ALL
    SELECT 'd192' AS wire_tag, * FROM (
        {_lsh_topk_sql(dim=192, qv_sql=_QVEC_WIDE_SQL)})
    """,
)
def q_ann_lsh_topk(spark, sf_dir):
    """Similarity/LSH: random-hyperplane buckets -> exact re-rank, as a
    tagged union over BOTH re-rank wires. The planes are
    integer-quantized and seeded, so the DuckDB oracle replays the full
    algorithm bit-for-bit (hard-verifying the bucket join + re-rank
    machinery, approximation included).

    wire_tag='d64': the parquet embeddings as-is — dim 64 resolves to
    the array wire (JVM zip_with scoring).

    wire_tag='d192': the same vectors widened 3x with exact IEEE ops
    (concat(v, -v, v*0.5) — negate and halve are exact in doubles, so
    the oracle widens identically) — dim 192 resolves to the BINARY
    wire (width-tagged int16 blobs + Arrow kernel), putting the
    wide-vector shuffle path under the driver's hash gate;
    tests/test_plans.py asserts the plan really took it."""
    emb = _load(spark, sf_dir, "embeddings")
    narrow = similarity.lsh_topk(emb, k=5)
    wide_vec = F.concat(
        F.transform("embedding", lambda v: v.cast("double")),
        F.transform("embedding", lambda v: -v.cast("double")),
        F.transform("embedding", lambda v: v.cast("double") * F.lit(0.5)),
    )
    wide = emb.select("vec_id", wide_vec.alias("embedding"))
    widel = similarity.lsh_topk(wide, k=5, dim=192)
    return (
        narrow.select(F.lit("d64").alias("wire_tag"), "*")
        .unionByName(widel.select(F.lit("d192").alias("wire_tag"), "*"))
    )


_IVF_MERGED_SQL = f"""
    SELECT t.trainer, s.query_id, s.neighbor_id, s.dot_q, s.cos_e6, s.rank
    FROM ({_BRUTE_TOPK_SQL}) s
    CROSS JOIN (VALUES ('sample'), ('distributed')) t(trainer)
    """


@_register("ann_ivf_topk", _IVF_MERGED_SQL)
def q_ann_ivf_topk(spark, sf_dir):
    """Similarity/IVF in its EXHAUSTIVE-PROBE exact mode (n_probe =
    n_centroids): every list is probed, so the assignment/probe-join/
    re-rank machinery must reproduce the exact brute-force top-k — the
    oracle is the plain SQL exhaustive scan. BOTH trainers ride in one
    tagged union (one driver row; registry capped at 50 queries):

    - ``sample``: deterministic driver-side k-means on a bounded sample;
    - ``distributed``: full-corpus Lloyd trainer (Arrow partial-sum
      DataFrame jobs — the 10^9-vector path; nothing but
      (n_centroids x dim) partials transits the driver).

    Production recall at n_probe << n_centroids (default 10 -> recall@5
    = 0.88 at sf0.1) is measured in bench.py (ann_ivf_recall_at_5)."""
    emb = _load(spark, sf_dir, "embeddings")
    sample = similarity.ivf_topk(emb, k=5, n_centroids=16, n_probe=16)
    dist = similarity.ivf_topk(
        emb, k=5, n_centroids=16, n_probe=16, train="distributed", kmeans_iters=2
    )
    return (
        sample.select(F.lit("sample").alias("trainer"), "*")
        .unionAll(dist.select(F.lit("distributed").alias("trainer"), "*"))
    )


_SESSIONS_SQL = """
    WITH ev AS (
        SELECT user_id, ts, epoch_us(ts) AS tus,
               CAST(FLOOR(value * 100.0e0) AS BIGINT) AS cents
        FROM events
    ),
    lagged AS (
        SELECT *, CASE WHEN LAG(tus) OVER w IS NULL
                            OR tus - LAG(tus) OVER w > 1800 * 1000000
                       THEN 1 ELSE 0 END AS is_new
        FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tus)
    ),
    isl AS (
        SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY tus
                                    ROWS UNBOUNDED PRECEDING) AS sid
        FROM lagged
    ),
    s AS (
        SELECT user_id, sid,
               MIN(tus) AS start_us, MAX(tus) AS end_us,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM isl GROUP BY user_id, sid
    ),
    mx AS (SELECT user_id, MAX(sid) AS max_sid FROM s GROUP BY user_id)
    SELECT s.user_id, CAST(s.start_us AS BIGINT) AS start_us,
           CAST(s.end_us AS BIGINT) AS end_us, s.n_events,
           s.sum_cents, (s.sid <> mx.max_sid) AS closed
    FROM s JOIN mx ON s.user_id = mx.user_id
"""


@_register("stateful_sessions", _SESSIONS_SQL)
def q_stateful_sessions(spark, sf_dir):
    """Custom stateful streaming (applyInPandasWithState gap sessionizer)
    run to completion via AvailableNow; returns the session table.

    HARD oracle despite being a stateful streaming op: with a
    single-file AvailableNow source the query drains in ONE batch, so
    the emitted table is exactly per-user gaps-and-islands
    sessionization (30-min gap) plus one closed=false snapshot of each
    user's final session — both expressible as SQL window functions.
    This pins the stateful operator's semantics, not just its row
    count."""
    import shutil
    import tempfile

    from ..streaming import incremental

    d = tempfile.mkdtemp(prefix="sess_")
    import os

    ev_dir = f"{d}/events"
    os.makedirs(ev_dir, exist_ok=True)
    shutil.copy(f"{sf_dir}/events.parquet", f"{ev_dir}/events.parquet")
    q = incremental.sessionize_stateful(
        spark, ev_dir, f"{d}/out", f"{d}/ck", gap_seconds=1800
    )
    q.awaitTermination(600)
    return spark.read.parquet(f"{d}/out").select(
        "user_id",
        F.unix_micros("session_start").alias("start_us"),
        F.unix_micros("session_end").alias("end_us"),
        "n_events", "sum_cents", "closed",
    )


def _media_oracle_sql(n: int = 64, feat_dim: int = 8) -> str:
    """VALUES oracle for media_features: the synthetic media table and the
    stub decoder are both deterministic, so the expected rows are computed
    here (driver-side numpy, same code path the UDF runs) and inlined.
    What the driver then verifies is the DISTRIBUTED plumbing: mapInPandas
    batching, Arrow transfer, posexplode, quantization — against these
    precomputed values."""
    import numpy as np

    from ..operators import multimodal

    import math

    rows = []
    for mid, mt, fmt, buf, *_rest in multimodal.synth_media_rows(n):
        buf = bytes(buf)
        try:
            img = multimodal.decode_media(buf, mt, fmt)
            edges = np.linspace(0, img.shape[0], feat_dim + 1).astype(int)
            feats = [float(img[edges[k]:max(edges[k + 1], edges[k] + 1)].mean()) for k in range(feat_dim)]
            ok = "TRUE"
        except NotImplementedError:
            feats = [0.0] * feat_dim
            ok = "FALSE"
        for d, v in enumerate(feats):
            rows.append(
                f"('{mid}', CAST({d} AS INT), CAST({math.floor(v * 1e6)} AS BIGINT), "
                f"CAST({len(buf)} AS BIGINT), {ok})"
            )
    return (
        "SELECT media_id, dim, value_e6, n_bytes, ok FROM (VALUES "
        + ", ".join(rows)
        + ") AS m(media_id, dim, value_e6, n_bytes, ok)"
    )


@_register("media_features", _media_oracle_sql())
def q_media_features(spark, sf_dir):
    """Multimodal plumbing: binary decode -> pooled features (stub codec,
    real Spark plumbing), exploded to scalar driver-sortable columns
    (media_id, dim, value_e6, n_bytes, ok)."""
    from ..operators import multimodal

    media = multimodal.synth_media_df(spark, 64)
    feats = multimodal.extract_features(media)
    return feats.select(
        "media_id", "n_bytes", "ok", F.posexplode("feature").alias("dim", "value")
    ).select(
        "media_id",
        F.col("dim").cast("int").alias("dim"),
        F.floor(F.col("value") * 1e6).cast("long").alias("value_e6"),
        F.col("n_bytes").cast("long").alias("n_bytes"),
        "ok",
    )


# one source of truth for the media digest parameters: the oracle
# builders and the registered queries must agree or the gate fails in a
# way that looks like an operator bug
_MEDIA_N = 64
_MEDIA_RESIZE_HW = (8, 8)
_MEDIA_FRAME_EVERY = 10


def _media_resize_oracle_sql(n: int = _MEDIA_N,
                             hw: tuple = _MEDIA_RESIZE_HW) -> str:
    """VALUES oracle for media_resize: single-process replay of the
    block-mean resize over the deterministic synthetic media rows."""
    from ..operators import multimodal

    out_h, out_w = hw
    vals = []
    for (mid, mt, fmt, buf, _w, _h, _nf, _sr) in multimodal.synth_media_rows(n):
        try:
            img = multimodal.decode_media(bytes(buf), mt, fmt)
            small = multimodal.block_mean_resize(img, out_h, out_w)
            vals.append((f"'{mid}'", out_w, out_h, int(small.sum()), "TRUE"))
        except NotImplementedError:
            vals.append((f"'{mid}'", 0, 0, 0, "FALSE"))
    return _values_sql(vals, "media_id, width, height, pix_sum, ok")


@_register("media_resize", _media_resize_oracle_sql())
def q_media_resize(spark, sf_dir):
    """Multimodal resize plumbing: decode -> block-mean downsample to
    8x8 -> re-encode (stub codec, real distributed plumbing); digest
    columns (dims + exact pixel sum of the resized bytes) vs a
    single-process replay. Poison-pill rows surface as ok=false."""
    from ..operators import multimodal

    media = multimodal.synth_media_df(spark, _MEDIA_N)
    resized = multimodal.resize_media(media, *_MEDIA_RESIZE_HW)

    def digest(batches):
        import numpy as np

        for pdf in batches:
            pdf = pdf.copy()
            pdf["pix_sum"] = [
                int(np.frombuffer(b, dtype=np.uint8).sum()) if len(b) else 0
                for b in pdf["resized"]
            ]
            yield pdf[["media_id", "width", "height", "pix_sum", "ok"]]

    return resized.mapInPandas(
        digest, "media_id string, width int, height int, pix_sum long, ok boolean"
    )


def _media_frames_oracle_sql(n: int = _MEDIA_N, every_n: int = _MEDIA_FRAME_EVERY) -> str:
    """VALUES oracle for media_frame_sample: single-process replay of
    the SAME per-row sampler the Spark kernel runs
    (multimodal._sample_frames_row — real AVI container parse for avi
    rows, metadata-stride slicing for stub formats), byte-sum digest
    per sampled frame."""
    from ..operators import multimodal

    vals = []
    for (mid, mt, fmt, buf, _w, _h, n_frames, _sr) in multimodal.synth_media_rows(n):
        if mt != "video":
            continue
        for idx, fb in multimodal._sample_frames_row(bytes(buf), fmt, n_frames, every_n):
            vals.append((f"'{mid}'", idx, len(fb), sum(fb)))
    return _values_sql(vals, "media_id, frame_idx, n_bytes, byte_sum")


@_register("media_frame_sample", _media_frames_oracle_sql())
def q_media_frame_sample(spark, sf_dir):
    """Multimodal frame sampling: video rows -> every-10th-frame slices
    (one-to-many mapInPandas, the raster extractor's explode shape);
    per-frame byte-count + exact byte-sum digest vs replay."""
    from ..operators import multimodal

    media = multimodal.synth_media_df(spark, _MEDIA_N)
    frames = multimodal.sample_frames(media, every_n=_MEDIA_FRAME_EVERY)

    def digest(batches):
        import numpy as np

        for pdf in batches:
            pdf = pdf.copy()
            pdf["n_bytes"] = [len(b) for b in pdf["frame_bytes"]]
            pdf["byte_sum"] = [
                int(np.frombuffer(b, dtype=np.uint8).sum()) if len(b) else 0
                for b in pdf["frame_bytes"]
            ]
            yield pdf[["media_id", "frame_idx", "n_bytes", "byte_sum"]]

    return frames.mapInPandas(
        digest, "media_id string, frame_idx int, n_bytes long, byte_sum long"
    )


# ---------------------------------------------------------------------------
# A2: multi-root search with pattern ladder + caps
# ---------------------------------------------------------------------------

_MR_CATALOG_SQL = """
    SELECT source AS root,
           source || '/' ||
           (CASE WHEN doc_id % 7 = 0 THEN 'slope_' ELSE 'doc_' END) ||
           lpad(CAST(doc_id AS VARCHAR), 8, '0') ||
           (CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN '.tif'
                 WHEN 1 THEN '.tiff' ELSE '.txt' END) AS path
    FROM documents
"""

# ---------------------------------------------------------------------------
# A5: WCS/WMS fetch-ladder fixtures (sources/wcs.py) — every decision the
# ladder makes offline (per-rung URL construction, response
# classification, full-ladder fall-through, REST path resolution) run
# THROUGH the Spark plan and checked against HAND-PINNED literals in the
# oracle's VALUES below (test2.py:286-992, get_raster_stats_clean.py:
# 83-134). Fixture numbers are chosen so every float operation is
# exactly representable (77.0-0.5 = 76.5, 700000.0-0.5 = 699999.5),
# making the URL strings engine-independent constants. The oracle is
# NOT a code replay — a behavioral regression in wcs.py goes red here.
# ---------------------------------------------------------------------------

_WCS_CASES = [
    "u_geo", "u_utm",
    "c_ok_201", "c_status_404", "c_xml_exception", "c_tiff_100", "c_tiff_wms",
    "l_first_ok", "l_fallthrough_111", "l_wms_last", "l_all_fail",
    "r_abs", "r_rel_hit", "r_rel_miss", "r_store_name",
]

_WCS_RUNGS = ["wcs-2.0.1", "wcs-1.1.1", "wcs-1.0.0", "wms-1.3.0"]


def _wcs_case_rows(case: str) -> list[tuple]:
    """One fixture case -> (kind, root_priority, root, path) rows.

    Executor-side (pickled into the mapInPandas kernel of
    q_multi_root_scan) so the driver row exercises the REAL distributed
    code path of sources/wcs.py, with the HTTP transport replaced by the
    same injected-callable seam production uses."""
    from ..sources import wcs as _wcs

    base = "http://gs/geoserver"
    geo_bbox = (77.0, 28.0, 78.0, 29.0)
    if case.startswith("u_"):
        if case == "u_geo":
            urls = _wcs.getcoverage_urls(base, "dem_delhi", geo_bbox,
                                         native_crs="EPSG:4326", buffer=0.5)
        else:
            urls = _wcs.getcoverage_urls(
                base, "slope_utm43",
                (700000.0, 3100000.0, 705000.0, 3105000.0),
                native_crs="EPSG:32643", buffer=0.5)
        return [("url", i, f"{case}:{rung}", url)
                for i, (rung, url) in enumerate(urls)]
    if case.startswith("c_"):
        rung, status, ct, body = {
            "c_ok_201": ("wcs-2.0.1", 200, "image/geotiff", b"II*\x00tiff!"),
            "c_status_404": ("wcs-2.0.1", 404, "text/xml", b"<err/>"),
            "c_xml_exception": ("wcs-1.1.1", 200,
                                "application/vnd.ogc.se_xml",
                                b"<ServiceException/>"),
            "c_tiff_100": ("wcs-1.0.0", 200, "application/tiff", b"II*\x00abc"),
            # the '*tiff*' content-type leniency is 1.0.0-ONLY; the same
            # type on the WMS rung must be rejected
            "c_tiff_wms": ("wms-1.3.0", 200, "application/tiff", b"II*\x00abc"),
        }[case]
        try:
            body_out = _wcs.classify_response(rung, status, ct, body)
            outcome = f"accept:{len(body_out)}"
        except ValueError as e:
            outcome = ("reject_status" if "status" in str(e)
                       else "reject_content")
        return [("classify", status, f"{case}:{rung}", outcome)]
    if case.startswith("l_"):
        # per-rung canned response mode: None = 200 image/geotiff
        fail_modes = {
            "l_first_ok": {},
            "l_fallthrough_111": {"wcs-2.0.1": "http404"},
            "l_wms_last": {"wcs-2.0.1": "http404", "wcs-1.1.1": "xml200",
                           "wcs-1.0.0": "http404"},
            "l_all_fail": {r: "http404" for r in _WCS_RUNGS},
        }[case]

        def canned(url: str) -> tuple[int, str, bytes]:
            rung = ("wms-1.3.0" if "service=WMS" in url else
                    "wcs-2.0.1" if "version=2.0.1" in url else
                    "wcs-1.1.1" if "version=1.1.1" in url else "wcs-1.0.0")
            mode = fail_modes.get(rung)
            if mode == "http404":
                return 404, "text/html", b"not found"
            if mode == "xml200":  # 200 + service exception -> fall through
                return 200, "application/vnd.ogc.se_xml", b"<ServiceException/>"
            return 200, "image/geotiff", b"II*\x00data"

        try:
            rung, _body = _wcs.fetch_coverage(canned, base, "dem_delhi",
                                              geo_bbox, buffer=0.5)
            return [("ladder", _WCS_RUNGS.index(rung), case, rung)]
        except RuntimeError:
            return [("ladder", -1, case, "error:all_rungs_failed")]
    if case == "r_store_name":
        name = _wcs.store_name_from_coverage(
            {"coverage": {"store": {"name": "useruploads:dem_store"}}})
        return [("resolve", 0, case, name)]
    store = {
        "r_abs": {"coverageStore": {"url": "file:///srv/gsdata/dem/dem_delhi.tif"}},
        "r_rel_hit": {"coverageStore": {"url": "file:dem/dem_delhi.tif"}},
        "r_rel_miss": {"coverageStore": {"url": "dem/nowhere.tif"}},
    }[case]
    # injected exists() recognizes only the fixture path, so a stray
    # GEOSERVER_DATA_DIR in the executor env cannot perturb the result
    path = _wcs.resolve_store_path(
        store, data_dirs=["/opt/none", "/srv/gsdata"],
        exists=lambda p: p == "/srv/gsdata/dem/dem_delhi.tif")
    return [("resolve", 0, case, path)]


_WCS_LADDER_VALUES_SQL = """
        (VALUES
    ('url', 0, 'u_geo:wcs-2.0.1', 'http://gs/geoserver/wcs?service=WCS&version=2.0.1&request=GetCoverage&coverageId=useruploads:dem_delhi&subset=Long(76.5,78.5)&subset=Lat(27.5,29.5)&format=image/geotiff&outputCRS=EPSG:4326'),
    ('url', 1, 'u_geo:wcs-1.1.1', 'http://gs/geoserver/wcs?service=WCS&version=1.1.1&request=GetCoverage&identifier=useruploads:dem_delhi&BoundingBox=76.5,27.5,78.5,29.5,EPSG:4326&format=image/geotiff&GridCS=EPSG:4326&GridType=urn:ogc:def:method:WCS:1.1:2dSimpleGrid'),
    ('url', 2, 'u_geo:wcs-1.0.0', 'http://gs/geoserver/wcs?service=WCS&version=1.0.0&request=GetCoverage&coverage=useruploads:dem_delhi&bbox=76.5,27.5,78.5,29.5&crs=EPSG:4326&response_crs=EPSG:4326&format=GeoTIFF&width=1024&height=1024'),
    ('url', 3, 'u_geo:wms-1.3.0', 'http://gs/geoserver/wms?service=WMS&version=1.3.0&request=GetMap&layers=useruploads:dem_delhi&bbox=27.5,76.5,29.5,78.5&width=1024&height=1024&crs=EPSG:4326&format=image/geotiff&styles='),
    ('url', 0, 'u_utm:wcs-2.0.1', 'http://gs/geoserver/wcs?service=WCS&version=2.0.1&request=GetCoverage&coverageId=useruploads:slope_utm43&subset=E(699999.5,705000.5)&subset=N(3099999.5,3105000.5)&format=image/geotiff&outputCRS=EPSG:32643'),
    ('url', 1, 'u_utm:wcs-1.1.1', 'http://gs/geoserver/wcs?service=WCS&version=1.1.1&request=GetCoverage&identifier=useruploads:slope_utm43&BoundingBox=699999.5,3099999.5,705000.5,3105000.5,EPSG:32643&format=image/geotiff&GridCS=EPSG:32643&GridType=urn:ogc:def:method:WCS:1.1:2dSimpleGrid'),
    ('url', 2, 'u_utm:wcs-1.0.0', 'http://gs/geoserver/wcs?service=WCS&version=1.0.0&request=GetCoverage&coverage=useruploads:slope_utm43&bbox=699999.5,3099999.5,705000.5,3105000.5&crs=EPSG:32643&response_crs=EPSG:32643&format=GeoTIFF&width=1024&height=1024'),
    ('url', 3, 'u_utm:wms-1.3.0', 'http://gs/geoserver/wms?service=WMS&version=1.3.0&request=GetMap&layers=useruploads:slope_utm43&bbox=699999.5,3099999.5,705000.5,3105000.5&width=1024&height=1024&crs=EPSG:32643&format=image/geotiff&styles='),
    ('classify', 200, 'c_ok_201:wcs-2.0.1', 'accept:9'),
    ('classify', 404, 'c_status_404:wcs-2.0.1', 'reject_status'),
    ('classify', 200, 'c_xml_exception:wcs-1.1.1', 'reject_content'),
    ('classify', 200, 'c_tiff_100:wcs-1.0.0', 'accept:7'),
    ('classify', 200, 'c_tiff_wms:wms-1.3.0', 'reject_content'),
    ('ladder', 0, 'l_first_ok', 'wcs-2.0.1'),
    ('ladder', 1, 'l_fallthrough_111', 'wcs-1.1.1'),
    ('ladder', 3, 'l_wms_last', 'wms-1.3.0'),
    ('ladder', -1, 'l_all_fail', 'error:all_rungs_failed'),
    ('resolve', 0, 'r_abs', '/srv/gsdata/dem/dem_delhi.tif'),
    ('resolve', 0, 'r_rel_hit', '/srv/gsdata/dem/dem_delhi.tif'),
    ('resolve', 0, 'r_rel_miss', 'dem/nowhere.tif'),
    ('resolve', 0, 'r_store_name', 'dem_store')
        ) AS w(kind, root_priority, root, path)
"""


@_register(
    "multi_root_scan",
    f"""
    WITH cat AS ({_MR_CATALOG_SQL}),
    roots AS (
        SELECT * FROM (VALUES (0, 'src3'), (1, 'src1'), (2, 'no_such_root'),
                              (3, 'src5')) AS r(root_priority, root)
    ),
    hits AS (
        SELECT DISTINCT r.root_priority, r.root, c.path
        FROM cat c JOIN roots r ON c.root = r.root
        WHERE c.path LIKE '%.tif' OR c.path LIKE '%.tiff'
           OR c.path LIKE '%slope%.tif%'
    ),
    capped AS (
        SELECT root_priority, root, path,
               ROW_NUMBER() OVER (PARTITION BY root ORDER BY path) AS rn
        FROM hits
    )
    (SELECT 'scan' AS kind, CAST(root_priority AS INT) AS root_priority,
           root, path
    FROM capped WHERE rn <= 8
    ORDER BY root_priority, path LIMIT 20)
    UNION ALL
    (SELECT 'cap5' AS kind, CAST(root_priority AS INT) AS root_priority,
            root, path
     FROM hits ORDER BY root_priority, path LIMIT 5)
    UNION ALL
    (SELECT 'cap2' AS kind, CAST(root_priority AS INT) AS root_priority,
            root, path
     FROM hits WHERE path LIKE '%.tif'
     ORDER BY root_priority, path LIMIT 2)
    UNION ALL
    SELECT kind, CAST(root_priority AS INT) AS root_priority, root, path
    FROM {_WCS_LADDER_VALUES_SQL}
    """,
)
def q_multi_root_scan(spark, sf_dir):
    """A2 + A5, tagged union (kind column).

    kind='scan': multi-root glob search with per-root + global caps
    (test2.py:45-89). The documents table doubles as a distributed file
    catalog: (source, derived filename). One root in the priority list
    does not exist and contributes nothing, files matching several
    patterns dedupe, and both caps are deterministic (sorted before
    the head — the reference's unordered set()[:5] made reproducible).

    kind='cap5'/'cap2': the C3 file-count limit as its own contract
    (test2.py:89 ``[:5]``, test.py:540 analyze-first-2 ``[:2]``): a
    global head cap with NO per-root cap, over the full pattern ladder
    (cap5, the reference's default latency cap) and over the single
    '*.tif' pattern (cap2, the analyze-preview path). The reference
    slices an unordered ``set()``; the engine sorts by (root_priority,
    path) first so which files survive is deterministic — Spark executes
    orderBy+limit as a TakeOrdered, no full sort.

    kind='url'/'classify'/'ladder'/'resolve': every offline decision of
    the A5 WCS/WMS fetch ladder (sources/wcs.py; test2.py:286-992,
    get_raster_stats_clean.py:83-134) computed executor-side over the
    fixture cases and checked against hand-pinned VALUES literals in
    the oracle — see _wcs_case_rows."""
    from ..sources import multiroot

    docs = _load(spark, sf_dir, "documents")
    cat = docs.select(
        F.col("source").alias("root"),
        F.concat(
            F.col("source"), F.lit("/"),
            F.when(F.col("doc_id") % 7 == 0, F.lit("slope_")).otherwise(F.lit("doc_")),
            F.lpad(F.col("doc_id").cast("string"), 8, "0"),
            F.when((F.col("doc_id") % 3).cast("int") == 0, F.lit(".tif"))
            .when((F.col("doc_id") % 3).cast("int") == 1, F.lit(".tiff"))
            .otherwise(F.lit(".txt")),
        ).alias("path"),
    )
    # the three glob legs share ONE match join + dedup (r7): the full
    # pattern-ladder hit set is checkpointed and each cap policy reuses
    # it — cap2's narrower '*.tif' hit set is the same frame filtered by
    # that pattern's LIKE (dedup commutes with the row filter)
    mr_roots = ["src3", "src1", "no_such_root", "src5"]
    mr_patterns = ["*.tif", "*.tiff", "*slope*.tif*"]
    hits3 = multiroot.multi_root_hits(
        cat, mr_roots, mr_patterns
    ).localCheckpoint(eager=False)
    hits_tif = hits3.filter(
        F.col("path").like(multiroot.glob_to_like("*.tif")))
    scan = multiroot.multi_root_scan(
        cat, roots=mr_roots, patterns=mr_patterns,
        per_root_cap=8, cap=20, hits=hits3,
    ).select(F.lit("scan").alias("kind"), "root_priority", "root", "path")

    # C3 file-count limit as its own rows: global cap only (default 5 =
    # the reference's [:5]) and the analyze-preview [:2] over one pattern
    cap5 = multiroot.multi_root_scan(
        cat, roots=mr_roots, patterns=mr_patterns, hits=hits3,
    ).select(F.lit("cap5").alias("kind"), "root_priority", "root", "path")
    cap2 = multiroot.multi_root_scan(
        cat, roots=mr_roots, patterns=["*.tif"], cap=2, hits=hits_tif,
    ).select(F.lit("cap2").alias("kind"), "root_priority", "root", "path")

    def wcs_kernel(batches):
        for pdf in batches:
            rows = []
            for case in pdf["case"]:
                rows.extend(_wcs_case_rows(case))
            if rows:
                yield pd.DataFrame(
                    rows, columns=["kind", "root_priority", "root", "path"]
                )

    # 15 fixed fixture cases seeded from a pandas frame: Arrow
    # createDataFrame slices it into a few real partitions (one row
    # group each), so the python tasks run in PARALLEL with no
    # repartition shuffle — measured 0.27s vs 0.46s for the old
    # repartition(1) single-worker collapse and 3.5s for coalesce(1)
    # (which chains 32 parallelize slices through one sequential
    # Python-runner handshake)
    ladder = spark.createDataFrame(
        pd.DataFrame({"case": list(_WCS_CASES)})
    ).mapInPandas(
        wcs_kernel, "kind string, root_priority int, root string, path string"
    )
    return scan.unionByName(cap5).unionByName(cap2).unionByName(ladder)


# ---------------------------------------------------------------------------
# raster digest queries: hard VALUES oracles for the decode pipeline
# ---------------------------------------------------------------------------
#
# The three rows-only raster entries above cannot be expressed in DuckDB
# SQL (binary decode). These digest twins make the pipeline's RESULT
# driver-checkable anyway: every aggregate is an exactly-representable
# int64 (counts, sums of floor-quantized coordinates), so it is
# order-independent and engine-independent, and the expected values are
# replayed once at import time through the same per-image kernel the
# Arrow pass uses (cheap: 32 images of 16x16). The digest therefore
# hard-verifies the DISTRIBUTED plumbing (no lost/duplicated rows, tile
# assignment, PIP clip, aggregation) against a single-process replay;
# the decode math itself is independently verified row-for-row against
# the pure-numpy reference oracle in tests/test_extract.py.

# bbox strictly inside the golden Delhi cluster, chosen so images in
# BOTH CRS families (EPSG:4326 and the UTM zones) are partially
# windowed — a window-mapping error (off-by-one row, curved-edge dip)
# changes the digest
GOLDEN_WINDOW_BBOX = (77.05, 28.04, 77.42, 28.42)  # 12 full + 9 partial xs images


def _raster_digest_rows():
    """Single-process replay of the xs extraction, shared by the four
    digest oracles: (image_id, band, tile_id, in_delhi, lon_e6, lat_e6,
    elev_cents, in_window) per point."""
    import math

    import numpy as np

    from ..functions import cells as _cells
    from ..functions import geometry as _geometry
    from ..operators.extract import _extract_image

    n, sizes = synth.SCALES["xs"]
    pdf = synth.generate_pandas(np.arange(n), n, sizes)
    out = []
    for img in pdf.to_dict("records"):
        for band, bi, bl, bb, bz in _extract_image(
            img["image_id"], img["bytes"], img["w"], img["h"], img["fmt"],
            tuple(img["transform"]), img["crs"], img["band_count"],
            True, None, None, True,
        ):
            tx, ty = _cells.tile_xy(bl, bb, 12)
            tile = tx * (1 << 12) + ty
            inside = _geometry.points_in_polygon(bl, bb, [synth.GOLDEN_DELHI_RING])
            # windowed-read contract (A4): extract_points(bbox=...) IS
            # full-extract-then-filter (inclusive mask on ROUNDED output)
            # — so the replay's window membership is exactly this mask
            wmn_lon, wmn_lat, wmx_lon, wmx_lat = GOLDEN_WINDOW_BBOX
            in_win = (
                (bl >= wmn_lon) & (bl <= wmx_lon)
                & (bb >= wmn_lat) & (bb <= wmx_lat)
            )
            for k in range(len(bi)):
                out.append((
                    img["image_id"], int(band), int(tile[k]), bool(inside[k]),
                    math.floor(bl[k] * 1e6), math.floor(bb[k] * 1e6),
                    math.floor(bz[k] * 100.0), bool(in_win[k]),
                ))
    return out


def _raster_suite_rows() -> list[tuple]:
    """All nine decode-pipeline digest contracts as ONE long-format row
    set (variant, key, m1..m5); unused metric slots are 0. One VALUES
    oracle -> one driver row covers every contract (the driver checks at
    most 50 queries per round). Variants and their metric layout:

    - ``extract`` (A3/B1-B6): key 'image/band'; m1=n, m2=sum_lon_e6,
      m3=sum_lat_e6, m4=sum_elev_cents.
    - ``tile``: key tile_id; m1=n_points, m2=n_images, m4=sum_elev_cents.
    - ``zonal`` (D3): key 'image/band'; m1=n, m2=min_elev_cents,
      m3=max_elev_cents, m4=sum_elev_cents.
    - ``window`` (A4, test2.py:1322-1338): key 'image/band'; same layout
      as extract, over the pushed-down golden-window bbox read.
    - ``stride`` (C1+C2, doesSamples.py:73-89,145-148): sample_cap
      stride THEN geojson-cap re-stride; extract layout plus
      m5=sum_pixel_idx (pins WHICH pixels were sampled).
    - ``force`` (C4, the pyc force_extract switch): valid_only=False;
      m1=n, m5=sum_pixel_idx (floor(NODATA_F32*100) would overflow
      int64, so elevation stays out by design).
    - ``empty_enum`` (B7+A12, willOnlyStoreValidPoints.py:74-95): key
      image_id; m1=per-image valid count over the FULL catalog —
      all-NoData images (i%16==7) appear with 0.
    - ``overview`` (r6, extract.build_overviews): NoData-aware integer
      box-filter pyramid; key 'image/band/level'; m1=n_valid, m2=w,
      m3=h, m4=sum_cents.
    - ``terrain`` (r6, terrain.terrain_points): Horn slope/aspect over
      interior pixels with full valid neighborhoods; key 'image/band';
      m1=n_ok, m2=sum_slope_centideg, m3=max_slope_centideg,
      m4=sum_aspect_centideg, m5=sum_pixel_idx.
    """
    import math

    import numpy as np

    from ..operators.extract import _extract_image

    rows: list[tuple] = []

    pts = _raster_digest_rows()
    per_img: dict[tuple, list] = {}
    per_tile: dict[int, list] = {}
    per_zonal: dict[tuple, list] = {}
    per_window: dict[tuple, list] = {}
    for s, band, tile, inside, lon6, lat6, zc, in_win in pts:
        per_img.setdefault((s, band), []).append((lon6, lat6, zc))
        per_tile.setdefault(tile, []).append((s, zc))
        if inside:
            per_zonal.setdefault((s, band), []).append(zc)
        if in_win:
            per_window.setdefault((s, band), []).append((lon6, lat6, zc))
    for (s, band), v in sorted(per_img.items()):
        rows.append((f"'extract'", f"'{s}/{band}'", len(v), sum(x[0] for x in v),
                     sum(x[1] for x in v), sum(x[2] for x in v), 0))
    for t, v in sorted(per_tile.items()):
        rows.append((f"'tile'", f"'{t}'", len(v), len({x[0] for x in v}), 0,
                     sum(x[1] for x in v), 0))
    for (s, band), v in sorted(per_zonal.items()):
        rows.append((f"'zonal'", f"'{s}/{band}'", len(v), min(v), max(v), sum(v), 0))
    for (s, band), v in sorted(per_window.items()):
        rows.append((f"'window'", f"'{s}/{band}'", len(v), sum(x[0] for x in v),
                     sum(x[1] for x in v), sum(x[2] for x in v), 0))

    n, sizes = synth.SCALES["xs"]
    pdf = synth.generate_pandas(np.arange(n), n, sizes)
    stride: dict[tuple, list] = {}
    force: dict[tuple, list] = {}
    enum_counts: dict[str, int] = {}
    for img in pdf.to_dict("records"):
        args = (img["image_id"], img["bytes"], img["w"], img["h"], img["fmt"],
                tuple(img["transform"]), img["crs"], img["band_count"])
        enum_counts[img["image_id"]] = 0
        for band, bi, bl, bb, bz in _extract_image(*args, True, 64, 20, True):
            for k in range(len(bi)):
                stride.setdefault((img["image_id"], band), []).append((
                    int(bi[k]), math.floor(bl[k] * 1e6), math.floor(bb[k] * 1e6),
                    math.floor(bz[k] * 100.0)))
        for band, bi, bl, bb, bz in _extract_image(*args, False, None, None, True):
            force.setdefault((img["image_id"], band), []).extend(int(v) for v in bi)
        for band, bi, bl, bb, bz in _extract_image(*args, True, None, None, True):
            enum_counts[img["image_id"]] += len(bi)
    for (s, band), v in sorted(stride.items()):
        rows.append((f"'stride'", f"'{s}/{band}'", len(v), sum(x[1] for x in v),
                     sum(x[2] for x in v), sum(x[3] for x in v),
                     sum(x[0] for x in v)))
    for (s, band), v in sorted(force.items()):
        rows.append((f"'force'", f"'{s}/{band}'", len(v), 0, 0, 0, sum(v)))
    for s, c in sorted(enum_counts.items()):
        rows.append((f"'empty_enum'", f"'{s}'", c, 0, 0, 0, 0))

    # overview (r6): NoData-aware integer box-filter pyramid per band —
    # key 'image/band/level'; m1=n_valid, m2=w, m3=h, m4=sum_cents.
    # Replays the SAME kernel the operator maps (extract.iter_overviews);
    # the kernel itself is pinned to hand-computed fixtures in
    # tests/test_extract.py.
    from ..operators.extract import iter_overviews as _iter_ov

    for img in pdf.to_dict("records"):
        for band, lv, p, nv in _iter_ov(
                img["bytes"], img["fmt"], img["w"], img["h"],
                img["band_count"], 3):
            rows.append((
                f"'overview'", f"'{img['image_id']}/{band}/{lv}'",
                int(nv.sum()), p.shape[1], p.shape[0], int(p[nv].sum()), 0,
            ))

    # terrain (r6): Horn slope/aspect — key 'image/band'; m1=n_ok,
    # m2=sum_slope_centideg, m3=max_slope_centideg,
    # m4=sum_aspect_centideg, m5=sum_pixel_idx (pins WHICH interior
    # pixels survived the NoData-neighborhood rule).
    from ..operators.terrain import iter_terrain as _iter_tr

    for img in pdf.to_dict("records"):
        w = img["w"]
        for band, slope, aspect, ok in _iter_tr(
                img["bytes"], img["fmt"], w, img["h"],
                img["band_count"], list(img["transform"])):
            if not ok.any():
                continue
            sc = np.floor(slope * 100.0).astype(np.int64)[ok]
            ac = np.floor(aspect * 100.0).astype(np.int64)[ok]
            rr, cc = np.nonzero(ok)
            idx = (rr + 1) * w + (cc + 1)
            rows.append((
                f"'terrain'", f"'{img['image_id']}/{band}'",
                int(ok.sum()), int(sc.sum()), int(sc.max()),
                int(ac.sum()), int(idx.sum()),
            ))
    return rows


_RASTER_SUITE_SQL = _values_sql(
    _raster_suite_rows(), "variant, key, m1, m2, m3, m4, m5"
)

def _as_suite(df: DataFrame, variant: str, key_cols: list, metrics: list) -> DataFrame:
    """Map a digest frame onto the unified (variant, key, m1..m5) layout."""
    key = key_cols[0].cast("string") if len(key_cols) == 1 else F.concat_ws(
        "/", *[c.cast("string") for c in key_cols]
    )
    cols = [F.lit(variant).alias("variant"), key.alias("key")]
    for i in range(5):
        m = metrics[i] if i < len(metrics) and metrics[i] is not None else F.lit(0)
        cols.append(m.cast("long").alias(f"m{i + 1}"))
    return df.select(*cols)


@_register("raster_digest_suite", _RASTER_SUITE_SQL)
def q_raster_digest_suite(spark, sf_dir):
    """The nine decode-pipeline digest contracts (extract, tile, zonal,
    window, stride, force, empty_enum, overview, terrain — layout in
    _raster_suite_rows)
    as one tagged long-format union, hard-checked against the
    single-process replay VALUES oracle. Every aggregate is an
    exactly-representable int64, so the comparison is order- and
    engine-independent; the decode math itself is verified row-for-row
    against the pure-numpy oracle in tests/test_extract.py."""
    from ..operators import extract, joins

    imgs = synth.images_df(spark, "xs")
    ib = [F.col("image_id"), F.col("band").cast("int").alias("band")]
    lon6 = F.sum(F.floor(F.col("longitude") * 1e6))
    lat6 = F.sum(F.floor(F.col("latitude") * 1e6))
    cents = F.floor(F.col("elevation") * 100.0)

    pts = extract.extract_points(imgs, valid_only=True)
    ext = pts.groupBy(*ib).agg(
        F.count("*").alias("n"), lon6.alias("slon"), lat6.alias("slat"),
        F.sum(cents).alias("sz"),
    )
    parts = [_as_suite(ext, "extract", [F.col("image_id"), F.col("band")],
                       [F.col("n"), F.col("slon"), F.col("slat"), F.col("sz")])]

    tile = tiling.assign_tiles(pts, 12).groupBy("tile_id").agg(
        F.count("*").alias("n"), F.countDistinct("image_id").alias("ni"),
        F.sum(cents).alias("sz"),
    )
    parts.append(_as_suite(tile, "tile", [F.col("tile_id")],
                           [F.col("n"), F.col("ni"), None, F.col("sz")]))

    zonal = (
        joins.clip_points(pts, [synth.GOLDEN_DELHI_RING])
        .groupBy(*ib).agg(
            F.count("*").alias("n"), F.min(cents).alias("mn"),
            F.max(cents).alias("mx"), F.sum(cents).alias("sz"),
        )
    )
    parts.append(_as_suite(zonal, "zonal", [F.col("image_id"), F.col("band")],
                           [F.col("n"), F.col("mn"), F.col("mx"), F.col("sz")]))

    win = (
        extract.extract_points(imgs, valid_only=True, bbox=GOLDEN_WINDOW_BBOX)
        .groupBy(*ib).agg(
            F.count("*").alias("n"), lon6.alias("slon"), lat6.alias("slat"),
            F.sum(cents).alias("sz"),
        )
    )
    parts.append(_as_suite(win, "window", [F.col("image_id"), F.col("band")],
                           [F.col("n"), F.col("slon"), F.col("slat"), F.col("sz")]))

    stride = (
        extract.extract_points(imgs, valid_only=True, sample_cap=64, geojson_cap=20)
        .groupBy(*ib).agg(
            F.count("*").alias("n"), lon6.alias("slon"), lat6.alias("slat"),
            F.sum(cents).alias("sz"), F.sum("pixel_idx").alias("spx"),
        )
    )
    parts.append(_as_suite(stride, "stride", [F.col("image_id"), F.col("band")],
                           [F.col("n"), F.col("slon"), F.col("slat"), F.col("sz"),
                            F.col("spx")]))

    force = (
        extract.extract_points(imgs, valid_only=False)
        .groupBy(*ib).agg(
            F.count("*").alias("n"), F.sum("pixel_idx").alias("spx"),
        )
    )
    parts.append(_as_suite(force, "force", [F.col("image_id"), F.col("band")],
                           [F.col("n"), None, None, None, F.col("spx")]))

    enum = (
        imgs.select("image_id")
        .join(pts.groupBy("image_id").agg(F.count("*").alias("n")),
              "image_id", "left")
        .na.fill({"n": 0})
    )
    parts.append(_as_suite(enum, "empty_enum", [F.col("image_id")], [F.col("n")]))

    ov = extract.build_overviews(imgs, levels=3)
    parts.append(_as_suite(
        ov, "overview",
        [F.col("image_id"), F.col("band"), F.col("level")],
        [F.col("n_valid"), F.col("w"), F.col("h"), F.col("sum_cents")]))

    from ..operators import terrain as _terrain

    tr = _terrain.terrain_points(imgs).groupBy("image_id", "band").agg(
        F.count("*").alias("n_ok"),
        F.sum("slope_centideg").alias("ssl"),
        F.max("slope_centideg").alias("msl"),
        F.sum("aspect_centideg").alias("sas"),
        F.sum("pixel_idx").alias("spx"),
    )
    parts.append(_as_suite(
        tr, "terrain", [F.col("image_id"), F.col("band")],
        [F.col("n_ok"), F.col("ssl"), F.col("msl"), F.col("sas"),
         F.col("spx")]))

    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


# ---------------------------------------------------------------------------
# D7: union-of-polygons zonal stats (overlap-safe)
# ---------------------------------------------------------------------------

def _zonal_union_sql(polygon_ids: list[str]) -> str:
    pips = " OR ".join(f"({_raycast_sql(_rings(p), 'lon', 'lat')})" for p in polygon_ids)
    return f"""
    WITH pts AS ({_PTS_SQL}),
    clipped AS (SELECT * FROM pts WHERE valid AND ({pips})),
    g AS (
        SELECT image_id,
               MIN(CAST(z AS BIGINT)) AS min_z,
               MAX(CAST(z AS BIGINT)) AS max_z,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(CAST(z AS BIGINT)) AS BIGINT) AS sum_z
        FROM clipped GROUP BY image_id
    )
    SELECT image_id, min_z, max_z, cnt, sum_z FROM g
    """


@_register("zonal_stats_union", _zonal_union_sql(["poly_0002", "poly_0003"]))
def q_zonal_stats_union(spark, sf_dir):
    """D7: zonal stats over the UNION of two OVERLAPPING polygons
    (small box poly_0002 sits inside pentagon poly_0003's extent) — the
    reference's turf-union-then-clip flow (slope.js:406-427): the clip
    keeps each point once, however many members contain it, so the
    overlap region counts once (even-odd ring stacking would XOR it
    out)."""
    pts = _pts(spark, sf_dir).filter("valid")
    clipped = joins.clip_points_union(
        pts, [_rings("poly_0002"), _rings("poly_0003")], lon_col="lon", lat_col="lat"
    )
    zl = F.col("z").cast("long")
    return clipped.groupBy("image_id").agg(
        F.min(zl).alias("min_z"),
        F.max(zl).alias("max_z"),
        F.count("*").alias("cnt"),
        F.sum(zl).alias("sum_z"),
    )


# ---------------------------------------------------------------------------
# D1-at-scale: cell-cover polygon join (many-polygon path)
# ---------------------------------------------------------------------------

def _cover_join_sql() -> str:
    selects = []
    for p in synth.polygons():
        pip = _raycast_sql(p["rings"], "lon", "lat")
        selects.append(f"""
        SELECT '{p["polygon_id"]}' AS polygon_id,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(z AS BIGINT)) AS BIGINT) AS sum_z
        FROM pts WHERE valid AND ({pip})
        HAVING COUNT(*) > 0""")
    u = " UNION ALL ".join(selects)
    return f"WITH pts AS ({_PTS_SQL}) {u}"


@_register("cell_cover_join", _cover_join_sql())
def q_cell_cover_join(spark, sf_dir):
    """D1/D3 at large polygon cardinality: polygons explode to covering
    Z-order cells, each point meets the polygons whose cover holds its
    cell (output-shaped pair count — never |points| x |polygons|),
    exact ray-cast refine, all in one Arrow pass over the points.
    The broadcast bbox join stays for the reference's single-request
    shapes; this is the 10^5-polygon-layer plan."""
    # the join's Arrow pass hides from Catalyst which columns are read
    # above it, so the unused _pts columns are pruned here
    pts = _pts(spark, sf_dir).filter("valid").select("lon", "lat", "z")
    polys = synth.polygons_df(spark)
    joined = joins.cell_cover_join(pts, polys, lon_col="lon", lat_col="lat")
    return joined.groupBy("polygon_id").agg(
        F.count("*").alias("n"),
        F.sum(F.col("z").cast("long")).alias("sum_z"),
    )


@_register(
    "events_windowed",
    """
    SELECT CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start_s,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 100.0e0) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events
    GROUP BY 1, 2
    """,
)
def q_events_windowed(spark, sf_dir):
    """G: the watermarked tumbling-window aggregation
    (streaming.incremental.windowed_event_counts) run in batch mode —
    identical plan to the readStream form (watermark is a no-op on
    bounded input), giving the streaming operator a hard SQL oracle.
    Timestamps cross the engine boundary as epoch-seconds longs (raw
    TIMESTAMP rendering is not canonicalization-safe between engines)."""
    from ..streaming import incremental

    ev = _load(spark, sf_dir, "events")
    return incremental.windowed_event_counts(ev).select(
        F.unix_timestamp("window_start").cast("long").alias("window_start_s"),
        "event_type", "n", "sum_cents",
    )


# ---------------------------------------------------------------------------
# B10: geometry buffer (edge-normal offset + miter join)
# ---------------------------------------------------------------------------

def _buffer_fixtures() -> list[tuple]:
    """Every synth polygon ring (convex, non-axis-aligned, concave with
    hole) plus an L-shaped reflex fixture that exercises the miter join
    at a concave vertex — the case where naive vertex-normal offsetting
    is provably wrong (tests/test_geometry.py counterexample)."""
    fixtures = [
        (p["polygon_id"], i, [list(map(float, pt)) for pt in ring])
        for p in synth.polygons()
        for i, ring in enumerate(p["rings"])
    ]
    fixtures.append(("concave_L", 0, [
        [0.0, 0.0], [4.0, 0.0], [4.0, 1.0], [1.0, 1.0], [1.0, 3.0], [0.0, 3.0],
    ]))
    return fixtures


def _buffer_oracle_sql() -> str:
    import math

    from ..functions import geometry as _geometry

    rows = []
    for pid, ridx, ring in _buffer_fixtures():
        out = _geometry.buffer_ring(ring, 0.001)
        for vi, (x, y) in enumerate(out):
            rows.append((f"'{pid}'", ridx, vi,
                         math.floor(x * 1e6), math.floor(y * 1e6)))
    return _values_sql(rows, "polygon_id, ring_idx, vertex_idx, x_e6, y_e6")


@_register("geometry_buffer", _buffer_oracle_sql())
def q_geometry_buffer(spark, sf_dir):
    """B10 (test2.py:275-277, polygon.buffer(0.001)): outward offset of
    every fixture ring by the reference's boundary-tolerance distance,
    vertices emitted fixed-point e6 against a single-process replay
    VALUES oracle. Runs as a distributed Arrow pass over a ring frame
    (one ring per row — the shape a polygon-layer table has at scale);
    the kernel itself (miter joins, reflex vertices, CW/CCW orientation)
    is brute-force-verified in tests/test_geometry.py."""
    import json as _json

    def kernel(batches):
        import math

        from ..functions import geometry as _geometry

        for pdf in batches:
            out = {"polygon_id": [], "ring_idx": [], "vertex_idx": [],
                   "x_e6": [], "y_e6": []}
            for pid, ridx, rj in zip(pdf["polygon_id"], pdf["ring_idx"],
                                     pdf["ring_json"]):
                buf = _geometry.buffer_ring(_json.loads(rj), 0.001)
                for vi, (x, y) in enumerate(buf):
                    out["polygon_id"].append(pid)
                    out["ring_idx"].append(int(ridx))
                    out["vertex_idx"].append(vi)
                    out["x_e6"].append(math.floor(x * 1e6))
                    out["y_e6"].append(math.floor(y * 1e6))
            yield pd.DataFrame(out)

    rings = spark.createDataFrame(
        [(pid, ridx, _json.dumps(ring)) for pid, ridx, ring in _buffer_fixtures()],
        "polygon_id string, ring_idx int, ring_json string",
    )
    return rings.mapInPandas(
        kernel,
        "polygon_id string, ring_idx int, vertex_idx int, x_e6 long, y_e6 long",
    )
