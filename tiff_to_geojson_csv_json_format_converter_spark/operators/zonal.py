"""Zonal statistics: per-(polygon, image, band) aggregates of clipped pixels.

The reference's Django endpoint (test2.py:1359-1505,
get_raster_stats_clean.py:148-173) computes numpy min/max/mean/std/count
over the polygon-masked pixels, with two contract quirks preserved here:

- std is POPULATION std (numpy default ddof=0) -> ``stddev_pop``
- empty intersections yield the string sentinel ``"Null"``
  (test2.py:1463-1473); the engine returns an empty stats row set and
  the response formatter emits the sentinel.

Two plans, picked from the input by :func:`zonal_stats`:

- row path (any points frame): ``joins.clip_points`` (the bbox
  predicate, then the cover kernel as one scalar Arrow UDF of the
  boxed points' coordinates) -> groupBy agg. One shuffle, map-side
  partial aggregation.
- in-extract path (an untouched, uncached default
  ``extract.extract_points`` frame, see ``extract.source_images``): the
  extract driver (``extract._extract_fold``) windows each image to the
  polygon's bbox and keeps the points inside the bbox; this module's
  emit clips them with ``geometry.points_in_polygon``, the PIP kernel
  the cover kernel runs on its boundary cells, and folds each (image,
  band) to n, sum, M2, min and max, so O(images x bands) rows cross into the
  JVM instead of every point. The JVM merges the partial rows of a key
  (several images rows may share an id) with the k-way form of Chan et
  al.'s pairwise update. Same rows as the row path: count, min and max
  exactly, mean and std_pop up to summation order.
"""

from __future__ import annotations

import functools
import json

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import geometry
from . import extract, joins

# the in-extract path's partial row: one per (image row, band) with points
# inside the polygon; m2 is the sum of squared deviations from s / n
_PARTIALS_SCHEMA = ("image_id string, band int, n long, s double, m2 double, "
                    "mn double, mx double")


def zonal_stats(points: DataFrame, rings: list, polygon_id: str = "poly") -> DataFrame:
    """points (POINTS_SCHEMA) x one polygon -> per-(image, band) stats.

    ``points`` picks the plan: an untouched, uncached default
    ``extract_points`` frame is clipped and folded inside the extract
    pass, any other frame takes the row path (module docstring)."""
    images = extract.source_images(points)
    if images is not None:
        stats = _zonal_in_extract(images, rings)
    else:
        stats = joins.clip_points(points, rings).groupBy("image_id", "band").agg(
            F.min("elevation").alias("min"),
            F.max("elevation").alias("max"),
            F.avg("elevation").alias("mean"),
            F.stddev_pop("elevation").alias("std_pop"),
            F.count("*").alias("count"),
        )
    return (
        stats.withColumn("polygon_id", F.lit(polygon_id))
        .select("polygon_id", "image_id", "band", "min", "max", "mean", "std_pop", "count")
    )


def _zonal_in_extract(images: DataFrame, rings: list) -> DataFrame:
    """Per-(image_id, band) min/max/mean/std_pop/count of the valid points
    of ``images`` inside ``rings``, folded inside the extract pass."""
    rings_arr = [np.asarray(r, dtype=np.float64) for r in rings]
    # the polygon bbox's pixel window: an image the bbox misses decodes
    # nothing, a small polygon on a large image extracts ~the overlap
    parts = extract._extract_fold(images, _PARTIALS_SCHEMA,
                                  functools.partial(_emit_zonal, rings_arr),
                                  bbox=joins._rings_bbox(rings))
    # k-way Chan merge: M2 = sum(m2_i) + sum(n_i * (mean_i - mean)^2); the
    # key's mean comes first (a window over the aggregate's own
    # partitioning), so a key with one partial row keeps its m2 exactly
    key = Window.partitionBy("image_id", "band")
    dev = F.col("s") / F.col("n") - F.col("mean")
    return (
        parts.withColumn("mean", F.sum("s").over(key) / F.sum("n").over(key))
        .groupBy("image_id", "band")
        .agg(
            F.min("mn").alias("min"),
            F.max("mx").alias("max"),
            F.max("mean").alias("mean"),
            F.sum(F.col("m2") + F.col("n") * dev * dev).alias("m2"),
            F.sum("n").alias("count"),
        )
        .withColumn("std_pop", F.sqrt(F.col("m2") / F.col("count")))
    )


def _emit_zonal(rings_arr: list, row, bands):
    """The in-extract path's emit: one _PARTIALS_SCHEMA row per band with
    points inside the polygon. The extract driver already kept the
    points inside the polygon's bbox; ``points_in_polygon`` over all of
    them is what the cover kernel decides per point, so both paths keep
    the same points."""
    for band, _, lon, lat, z in bands:
        z = z[geometry.points_in_polygon(lon, lat, rings_arr)]
        if len(z):
            s = float(z.sum())
            d = z - s / len(z)
            yield [band], [len(z)], [s], [float(d @ d)], [float(z.min())], [float(z.max())]


def combine_stats_reference_quirk(stats_rows: list[dict]) -> dict:
    """The reference's cross-file merge keeps the FIRST file's mean/std
    AND count, and only widens min/max (test2.py:162-179 — its merge
    branch never touches mean/std/count). Reproduced faithfully as a
    documented quirk for contract parity."""
    if not stats_rows:
        return {}
    combined = dict(stats_rows[0])
    for r in stats_rows[1:]:
        combined["min"] = min(combined["min"], r["min"])
        combined["max"] = max(combined["max"], r["max"])
    return combined


def stats_response(stats_df: DataFrame, layer_name: str, geometry_type: str = "Polygon") -> str:
    """Serialize to the HTTP contract of SIMPLE_FRONTEND_INTEGRATION.md:153-179
    (``{status, layer, min_max: {band_i: {...}|"Null"}, ...}``)."""
    rows = [r.asDict() for r in stats_df.collect()]
    # several per-image rows may share a band (zonal_stats output is per
    # (image, band)): fold them deterministically in image_id order with
    # the reference's merge rule instead of letting collect order pick
    # the winner (api.zonal_response pre-merges the same way)
    by_band: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: str(r.get("image_id", ""))):
        by_band.setdefault(int(r["band"]), []).append(r)
    min_max: dict = {}
    for band, grp in by_band.items():
        merged = combine_stats_reference_quirk(grp) if len(grp) > 1 else grp[0]
        min_max[f"band_{band + 1}"] = {
            "min": merged["min"], "max": merged["max"], "mean": merged["mean"],
            "std": merged["std_pop"], "count": merged["count"], "data_type": "float32",
        }
    if not min_max:
        min_max["band_1"] = "Null"  # empty-intersection sentinel (test2.py:1463-1473)
    return json.dumps(
        {"status": "success", "layer": layer_name, "min_max": min_max,
         "geometry_type": geometry_type, "method": "spark_zonal"},
        separators=(",", ":"),
    )
