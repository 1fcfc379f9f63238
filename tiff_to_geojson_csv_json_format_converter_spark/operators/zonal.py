"""Zonal statistics: per-(polygon, image, band) aggregates of clipped pixels.

The reference's Django endpoint (test2.py:1359-1505,
get_raster_stats_clean.py:148-173) computes numpy min/max/mean/std/count
over the polygon-masked pixels, with two contract quirks preserved here:

- std is POPULATION std (numpy default ddof=0) -> ``stddev_pop``
- empty intersections yield the string sentinel ``"Null"``
  (test2.py:1463-1473); the engine returns an empty stats row set and
  the response formatter emits the sentinel.

Plan: clip (bbox predicate + PIP UDF) -> groupBy agg. One shuffle,
map-side partial aggregation; the polygon is broadcast by closure.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import joins


def zonal_stats(points: DataFrame, rings: list, polygon_id: str = "poly") -> DataFrame:
    """points (POINTS_SCHEMA) x one polygon -> per-(image, band) stats."""
    clipped = joins.clip_points(points, rings)
    return (
        clipped.groupBy("image_id", "band")
        .agg(
            F.min("elevation").alias("min"),
            F.max("elevation").alias("max"),
            F.avg("elevation").alias("mean"),
            F.stddev_pop("elevation").alias("std_pop"),
            F.count("*").alias("count"),
        )
        .withColumn("polygon_id", F.lit(polygon_id))
        .select("polygon_id", "image_id", "band", "min", "max", "mean", "std_pop", "count")
    )


def zonal_stats_fused(images: DataFrame, rings: list, polygon_id: str = "poly") -> DataFrame:
    """FUSED decode -> clip -> per-(image, band) partial stats in one
    Arrow pass (the O(pixels)->O(images) shuffle shrink; see
    extract.extract_partials). The polygon rides in by closure
    (broadcast); per-image bbox pre-check skips decode entirely for
    non-overlapping images — the reference's file prefilter, fused."""
    import numpy as np

    from ..functions import geometry as _geometry
    from . import extract as _extract

    rings_arr = [np.asarray(r, dtype=np.float64) for r in rings]
    # prefilter bbox over ALL rings: normalize_geometry flattens
    # MultiPolygon parts into one ring list, so rings[0] alone would
    # skip images that overlap only a later disjoint shell
    allv = np.vstack(rings_arr)
    p_bbox = (allv[:, 0].min(), allv[:, 1].min(), allv[:, 0].max(), allv[:, 1].max())
    cols = ["image_id", "bytes", "w", "h", "fmt", "transform", "crs", "band_count",
            "min_lon", "min_lat", "max_lon", "max_lat"]
    src = images.select(*cols)
    schema = ("image_id string, band int, n long, s double, s2 double, "
              "mn double, mx double")

    def run(batches):
        import pyarrow as pa

        for batch in batches:
            tbl = batch.to_pydict()
            rows = []
            for j in range(batch.num_rows):
                i_bbox = (tbl["min_lon"][j], tbl["min_lat"][j], tbl["max_lon"][j], tbl["max_lat"][j])
                if not _geometry.bbox_intersects(i_bbox, p_bbox):
                    continue  # bbox prefilter: skip the decode entirely
                # window pushdown: only the polygon-bbox pixel window is
                # extracted — points outside it cannot be in the polygon,
                # so the PIP result is unchanged while a small polygon on
                # a large raster decodes/transforms ~overlap, not ~image
                win = _extract.bbox_pixel_window(
                    tbl["transform"][j], tbl["crs"][j], tbl["w"][j], tbl["h"][j],
                    (p_bbox[0], p_bbox[1], p_bbox[2], p_bbox[3]),
                )
                for band, bi, bl, bb, bz in _extract._extract_image(
                    tbl["image_id"][j], tbl["bytes"][j], tbl["w"][j], tbl["h"][j],
                    tbl["fmt"][j], tbl["transform"][j], tbl["crs"][j],
                    tbl["band_count"][j], True, None, None, True, window=win,
                ):
                    if len(bi) == 0:
                        continue
                    inside = _geometry.points_in_polygon(bl, bb, rings_arr)
                    z = bz[inside]
                    if len(z) == 0:
                        continue
                    rows.append((tbl["image_id"][j], band, len(z),
                                 float(z.sum()), float((z * z).sum()),
                                 float(z.min()), float(z.max())))
            if rows:
                cols_t = list(zip(*rows))
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(cols_t[0], type=pa.string()),
                        pa.array(cols_t[1], type=pa.int32()),
                        pa.array(cols_t[2], type=pa.int64()),
                        pa.array(cols_t[3], type=pa.float64()),
                        pa.array(cols_t[4], type=pa.float64()),
                        pa.array(cols_t[5], type=pa.float64()),
                        pa.array(cols_t[6], type=pa.float64()),
                    ],
                    names=["image_id", "band", "n", "s", "s2", "mn", "mx"],
                )

    partials = src.mapInArrow(run, schema)
    g = partials.groupBy("image_id", "band").agg(
        F.sum("n").alias("count"),
        F.sum("s").alias("s"), F.sum("s2").alias("s2"),
        F.min("mn").alias("min"), F.max("mx").alias("max"),
    )
    mean = F.col("s") / F.col("count")
    var = F.col("s2") / F.col("count") - mean * mean
    return (
        g.withColumn("polygon_id", F.lit(polygon_id))
        .withColumn("mean", mean)
        .withColumn("std_pop", F.sqrt(F.greatest(var, F.lit(0.0))))
        .select("polygon_id", "image_id", "band", "min", "max", "mean", "std_pop", "count")
    )


def zonal_stats_multi(points: DataFrame, polygons: list[dict]) -> DataFrame:
    """Many polygons at once: unioned per-polygon clips (each polygon's
    bbox predicate still prunes independently). For large polygon layers
    prefer the cell-cover equi-join in ``tiling.cover_join``."""
    if not polygons:
        return points.sparkSession.createDataFrame(
            [],
            "polygon_id string, image_id string, band int, min double, "
            "max double, mean double, std_pop double, count long",
        )
    parts = [zonal_stats(points, p["rings"], p["polygon_id"]) for p in polygons]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


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
