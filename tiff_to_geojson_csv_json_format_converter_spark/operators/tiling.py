"""Tile assignment, skew-aware repartitioning, catalog rollup.

The engine's "tiling" output (BASELINE.json north_rule) assigns every
point a hierarchical cell id (functions.cells). Assignment is pure
integer arithmetic in whole-stage codegen — zero Python, zero shuffle.

Skew: the synthetic layout concentrates ~80 % of images in a few Delhi
cells. Writing or joining partitioned by raw cell id would hot-spot one
task, so ``salted_repartition`` spreads each hot cell over
``salt_buckets`` subpartitions (pmod(hash(image_id), salt)) while AQE's
skew-join splitting handles the join-side residual (SURVEY.md §4).

The catalog rollup reproduces the reference master catalog
(doesSamples.py:351-466, completePixleOutput.py:284-468): per-image
bounds + counts, folded into overall bounds — one aggregation query;
the grand-total row is the catalog's ``overall_bounds``. Over a fresh
``extract.extract_points`` frame it rolls up the per-image summaries
folded inside the extract pass instead of the points.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import cells
from . import extract

DEFAULT_LEVEL = 12


def assign_tiles(points: DataFrame, level: int = DEFAULT_LEVEL,
                 lon_col: str = "longitude", lat_col: str = "latitude") -> DataFrame:
    """Add ``cell_id`` (morton, hierarchical) and ``tile_id`` (row-major)
    columns — pure codegen, no UDF."""
    return points.withColumn(
        "cell_id", cells.cell_id_col(F.col(lon_col), F.col(lat_col), level)
    ).withColumn(
        "tile_id", cells.tile_id_col(F.col(lon_col), F.col(lat_col), level)
    )


def salted_repartition(df: DataFrame, key: str = "cell_id", salt_buckets: int = 8,
                       num_partitions: int | None = None) -> DataFrame:
    """Repartition by (key, salt) to split hot cells across tasks —
    explicit salting for the dense-tile skew the north rule calls out."""
    # the salt must vary WITHIN a key group or it splits nothing: hash a
    # second column when one exists, else a per-row id (placement-only —
    # no determinism requirement attaches to partition assignment)
    if "image_id" in df.columns:
        salt = F.pmod(F.xxhash64("image_id"), F.lit(salt_buckets))
    else:
        salt = F.pmod(F.monotonically_increasing_id(), F.lit(salt_buckets))
    df = df.withColumn("_salt", salt)
    parts = [F.col(key), F.col("_salt")]
    out = df.repartition(num_partitions, *parts) if num_partitions else df.repartition(*parts)
    return out.drop("_salt")


def tile_histogram(points: DataFrame, level: int = DEFAULT_LEVEL) -> DataFrame:
    """Points per tile — the skew diagnostic + the tile manifest."""
    return (
        assign_tiles(points, level)
        .groupBy("tile_id")
        .agg(F.count("*").alias("n_points"), F.countDistinct("image_id").alias("n_images"))
    )


def tile_histogram_from_partials(partials: DataFrame) -> DataFrame:
    """:func:`tile_histogram` over ``extract.extract_partials`` rows (tile
    level fixed by the partials): ``n`` sums to the point count, and
    ``countDistinct`` over the (image, tile) rows keeps the null- and
    duplicate-id semantics of the point form.

    ``countDistinct`` plans two aggregation stages, the first clustered
    by (tile_id, image_id), the second by tile_id, and each would get its
    own shuffle. Hash-partitioning the partials by ``tile_id`` first
    satisfies both, so the plan has one Exchange instead of two. Skipping
    the map-side partial aggregation loses nothing: the rows are already
    folded per (image, tile)."""
    return partials.repartition("tile_id").groupBy("tile_id").agg(
        F.sum("n").alias("n_points"), F.countDistinct("image_id").alias("n_images"))


def tile_pyramid(points: DataFrame, value_col: str, finest: int = 12,
                 coarsest: int = 6, lon_col: str = "longitude",
                 lat_col: str = "latitude",
                 distinct_col: str | None = None,
                 partials: DataFrame | None = None) -> DataFrame:
    """Multi-resolution mosaic pyramid (map-tile zoom levels): per-tile
    stats at every level in [coarsest, finest], long format
    (level, tile_x, tile_y, n_points, sum_v, min_v, max_v).

    The 100 TB shape is the point: the point table is aggregated ONCE,
    at the finest level (the only full-size shuffle); every coarser
    level then merges its four children (``tile >> 1`` — exact, because
    ``floor(u * 2^L) == floor(u * 2^(L+1)) >> 1`` for the IEEE
    power-of-two scaling the tile formula uses), so the whole pyramid
    costs ~1/3 extra on top of the finest level (geometric series),
    instead of one full pass per zoom level. Only decomposable
    aggregates survive a child merge — count/sum/min/max here;
    EXACT distinct counts deliberately do NOT appear (an image spans
    many child tiles, so per-child distinct counts cannot be merged;
    see the driver contract's -1 sentinel). ``distinct_col`` is the
    at-scale answer: a DataSketches HLL sketch of that column is built
    once at the finest level (``hll_sketch_agg``) and MERGED up the
    pyramid (``hll_union_agg``) — sketches are decomposable where the
    exact count is not — with the estimate exposed per tile as
    ``approx_distinct`` (estimation error ~1-2% at the default
    lgConfigK=12, far under typical tile-stat needs).

    Every level is ``localCheckpoint(eager=False)``'d so the final
    union reads each level's shuffle output once instead of
    re-deriving the chain per branch — union branches get NO exchange
    reuse (r6 finding, re-verified r7: a checkpoint-free pyramid plans
    14 scans / 56 exchanges). Checkpointing only the finest few levels
    measured within noise of checkpoint-all in r7. The value column
    must already be integral (callers pass floor-scaled cents) so sums
    stay exact int64 at any scale.

    ``partials``: a pre-aggregated finest-level frame (tile_x, tile_y,
    n_points, sum_v, min_v, max_v — several rows per tile allowed,
    e.g. per-image partials) to merge up INSTEAD of aggregating
    ``points``; lets a caller that already pays a finest-level
    aggregation (tile_assign's per-(tile, image) rollup) share that
    one point-table shuffle with the pyramid. count/sum/min/max merge
    losslessly from partials; ``distinct_col`` is unsupported here
    (per-partial sketches of a column the partials no longer carry).
    """
    if coarsest < 0 or finest < coarsest:
        raise ValueError(f"bad level range [{coarsest}, {finest}]")
    if partials is not None and distinct_col is not None:
        raise ValueError("distinct_col is not supported with partials")
    base_cols = ["n_points", "sum_v", "min_v", "max_v"]
    first_aggs = [
        F.count("*").alias("n_points"), F.sum("v").alias("sum_v"),
        F.min("v").alias("min_v"), F.max("v").alias("max_v"),
    ]
    merge_aggs = [
        F.sum("n_points").alias("n_points"), F.sum("sum_v").alias("sum_v"),
        F.min("min_v").alias("min_v"), F.max("max_v").alias("max_v"),
    ]
    sel = [
        cells.tile_x_col(F.col(lon_col), finest).alias("tile_x"),
        cells.tile_y_col(F.col(lat_col), finest).alias("tile_y"),
        F.col(value_col).cast("long").alias("v"),
    ]
    if distinct_col is not None:
        sel.append(F.col(distinct_col).alias("d"))
        first_aggs.append(F.hll_sketch_agg("d").alias("hll"))
        merge_aggs.append(F.hll_union_agg("hll").alias("hll"))
        base_cols = base_cols + ["hll"]

    def finish(df, level):
        cols = [F.lit(level).alias("level"), "tile_x", "tile_y"] + base_cols
        out = df.select(*cols)
        if distinct_col is not None:
            out = out.withColumn(
                "approx_distinct", F.hll_sketch_estimate("hll"))
        return out.localCheckpoint(eager=False)

    if partials is not None:
        lvl = finish(
            partials.groupBy("tile_x", "tile_y").agg(*merge_aggs), finest,
        )
    else:
        lvl = finish(
            points.select(*sel).groupBy("tile_x", "tile_y").agg(*first_aggs),
            finest,
        )
    out = lvl
    for level in range(finest - 1, coarsest - 1, -1):
        lvl = finish(
            lvl.groupBy(
                F.shiftright("tile_x", 1).alias("tile_x"),
                F.shiftright("tile_y", 1).alias("tile_y"),
            ).agg(*merge_aggs),
            level,
        )
        out = out.unionByName(lvl)
    return out if distinct_col is None else out.drop("hll")


def catalog_rollup(points: DataFrame) -> DataFrame:
    """Per-image catalog entries plus the grand-total overall_bounds row
    (``rollup``): image_id = NULL row carries the catalog fold the
    reference accumulates imperatively at doesSamples.py:403-408.

    Over an untouched, uncached default ``extract.extract_points`` frame
    (``extract.source_images``, the rule ``zonal.zonal_stats`` follows)
    it rolls up the per-images-row ``extract.extract_summaries`` rows with
    points (``n > 0``: a zero-point image adds no group) instead, so only
    those rows leave the Python workers: the same rows, since counts add
    up and the summary bounds follow Spark's min/max."""
    images = extract.source_images(points)
    if images is None:
        rows, count, col = points, F.count("*"), lambda agg, c: c
    else:
        rows, count = extract.extract_summaries(images).filter(F.col("n") > 0), F.sum("n")
        col = lambda agg, c: f"{agg}_{c}"
    return (
        rows.rollup("image_id")
        .agg(
            count.alias("points"),
            *(getattr(F, agg)(col(agg, c)).alias(f"{agg}_{c}") for agg, c in extract._BOUNDS),
        )
        .withColumn("is_overall", F.col("image_id").isNull())
    )
