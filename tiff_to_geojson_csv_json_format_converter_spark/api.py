"""User-facing converter API: everything the reference's scripts do,
as one class over the images table.

Script-parity map:
- ``analyze()``                <- test.py / analyzeAndCreateOnlyReadme
  (metadata + bounds, master report, no data files)
- ``convert(mode='valid')``    <- willOnlyStoreValidPoints.py
- ``convert(mode='sampled')``  <- doesSamples.py (100k/10k caps)
- ``convert(mode='full')``     <- completePixleOutput.py
- ``zonal_response(geometry)`` <- test2.py / get_raster_stats_* endpoint
- ``nearest(queries)``         <- pyc getElevation JS (kNN k=1)
- ``catalog()``                <- create_master_catalog

Where the GeoJSON goes: ``convert()`` has one builder,
``sinks.geojson_collection_docs``, which assembles each image id's
FeatureCollection in the executors. The driver streams the finished
documents with ``toLocalIterator()`` and writes each to
``<id>_wgs84.geojson``; it never assembles a feature.

Where the points go: ``tiles()``, ``catalog()``, ``analyze()`` and
``zonal_response()`` only need aggregates, so they aggregate inside the
extract pass and only O(images x groups) rows cross into the JVM. One
extract driver serves them all, each with its own per-image emit:
``extract.extract_summaries`` folds one row per images row (count and
bounds), ``extract.extract_partials`` one count per image and tile, and
``zonal.zonal_stats`` over a fresh ``extract.extract_points`` frame one
row per image and band inside the polygon. ``points()``, ``convert()``
and ``nearest()`` still materialize every point.

Where the catalog goes: ``catalog()`` collects the per-images-row
summaries in one Spark job, with no shuffle, then merges a repeated id's
rows and sorts the entries on the driver (``sinks.catalog_document``),
as the reference's loop over the files does. ``convert(mode='valid')``
builds its ``master_catalog.json`` the same way (its points frame is a
fresh extract of the images, ``sinks.master_catalog``) and reads which
files have data from that catalog instead of listing the points'
distinct ids.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import geometry
from .operators import extract, joins, sinks, tiling, zonal
from .sources import synth, tiff_dir


class Converter:
    def __init__(self, spark: SparkSession, images: DataFrame):
        self.spark = spark
        self.images = images

    # -- constructors --------------------------------------------------------

    @classmethod
    def from_tiff_dir(cls, spark: SparkSession, path: str) -> "Converter":
        return cls(spark, tiff_dir.read_tiff_dir(spark, path))

    @classmethod
    def from_synthetic(cls, spark: SparkSession, scale: str = "xs") -> "Converter":
        return cls(spark, synth.images_df(spark, scale))

    # -- pipelines ------------------------------------------------------------

    def points(self, mode: str = "valid") -> DataFrame:
        if mode == "valid":  # willOnlyStoreValidPoints.py
            return extract.extract_points(self.images, valid_only=True)
        if mode == "sampled":  # doesSamples.py caps
            return extract.extract_points(
                self.images, valid_only=False,
                sample_cap=extract.MAX_FRONTEND_POINTS,
            )
        if mode == "full":  # completePixleOutput.py
            return extract.extract_points(self.images, valid_only=False)
        raise ValueError(f"unknown mode {mode!r}")

    def analyze(self) -> DataFrame:
        """Per-image metadata incl. sparsity (test.py:83-95)."""
        agg = extract.analyze_summaries(extract.extract_summaries(self.images))
        # valid_pixels counts points across ALL bands — the denominator
        # must too, or multi-band images inflate the percentage
        totals = self.images.select(
            "image_id",
            (F.col("w") * F.col("h") * F.col("band_count")).alias("total_pixels"),
        )
        out = totals.join(agg, "image_id", "left").na.fill({"valid_pixels": 0})
        pct = F.col("valid_pixels").cast("double") / F.col("total_pixels").cast("double")
        return out.withColumn(
            "valid_percentage", pct * 100.0
        ).withColumn(
            "has_valid_data", F.col("valid_pixels") > 0
        ).withColumn(
            "data_sparsity", F.when(pct < 0.1, "sparse").otherwise("dense")
        )

    def convert(self, out_dir: str, mode: str = "sampled") -> dict:
        """Write per-image GeoJSON (+CSV for sampled mode) files + master
        catalog + combined CSV, mirroring the reference converters'
        on-disk contract."""
        os.makedirs(out_dir, exist_ok=True)
        pts = self.points(mode)
        # sampled mode adds the GeoJSON cap (doesSamples.py:145-150)
        geo_pts = pts if mode != "sampled" else extract.extract_points(
            self.images, valid_only=False, sample_cap=extract.MAX_FRONTEND_POINTS,
            geojson_cap=extract.MAX_GEOJSON_POINTS,
        )
        docs = sinks.geojson_collection_docs(geo_pts.filter(F.col("band") == 0), self.images)
        written = []
        for row in docs.toLocalIterator():
            p = os.path.join(out_dir, f"{row['image_id']}_wgs84.geojson")
            with open(p, "w", encoding="utf-8") as f:
                f.write(row["doc"])
            written.append(p)
        # combined CSV with lineage (completePixleOutput.py:252-282)
        sinks.write_csv_per_image(pts, os.path.join(out_dir, "combined_csv"))
        # master catalog (doesSamples.py:351-466)
        cat = sinks.master_catalog(pts, self.images)
        with open(os.path.join(out_dir, "master_catalog.json"), "w") as f:
            json.dump(cat, f, indent=2)
        # all-NoData info files (willOnlyStoreValidPoints.py:80-94).
        # O(files) driver-side collect, like the reference's local-file
        # writes and the analyze-report sink class (sinks.py carries the
        # same note): rows here are one per IMAGE (metadata only, no
        # pixels), so the collect is catalog-sized, not data-sized. At
        # true 10^8-file scale route this through a distributed text
        # sink keyed by image_id instead. The catalog just built over the
        # same valid points already says which files have data.
        if mode == "valid":
            have = {f["source_tiff"] for f in cat["files"] if f["has_valid_data"]}
            for r in self.images.select("image_id", "w", "h", "crs").collect():
                if r["image_id"] not in have:
                    p = os.path.join(out_dir, f"{r['image_id']}.info.txt")
                    with open(p, "w") as f:
                        f.write(
                            "TIFF FILE ANALYSIS - NO VALID DATA\n" + "=" * 50 + "\n\n"
                            f"Source file: {r['image_id']}\n"
                            f"Dimensions: {r['w']} x {r['h']}\n"
                            f"Original CRS: {r['crs']}\n\n"
                            "STATUS: NO GEOJSON FILE CREATED\n"
                            "REASON: All pixels contain NoData/infinity values\n"
                        )
        return {"geojson_files": written, "catalog": cat}

    def zonal_response(self, geometry_obj, layer_name: str = "layer") -> str:
        """The HTTP endpoint contract (test2.py:198-1526)."""
        rings = geometry.normalize_geometry(geometry_obj)
        pts = extract.extract_points(self.images, valid_only=True)
        stats = zonal.zonal_stats(pts, rings, layer_name)
        # reference merge quirk (test2.py:162-179): keep the FIRST file's
        # mean/std/count (first in image_id order — deterministic via
        # min_by, never F.first after a shuffle) and only widen min/max
        merged = stats.groupBy("band").agg(
            F.min("min").alias("min"), F.max("max").alias("max"),
            F.min_by("mean", "image_id").alias("mean"),
            F.min_by("std_pop", "image_id").alias("std_pop"),
            F.min_by("count", "image_id").alias("count"),
        )
        return zonal.stats_response(merged, layer_name)

    def nearest(self, queries: DataFrame, k: int = 1) -> DataFrame:
        pts = extract.extract_points(self.images, valid_only=True)
        return joins.knn_join(pts, queries, k=k)

    def catalog(self) -> dict:
        return sinks.catalog_document(extract.extract_summaries(self.images))

    def tiles(self, level: int = tiling.DEFAULT_LEVEL) -> DataFrame:
        return tiling.tile_histogram_from_partials(
            extract.extract_partials(self.images, level)
        )
