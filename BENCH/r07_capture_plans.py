#!/usr/bin/env python
"""Capture .explain('formatted') for every headline bench query path into
plans/r07/<query>_<tag>.txt  (tag = before/after, argv[1])."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TAG = sys.argv[1] if len(sys.argv) > 1 else "before"
ONLY = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "plans", "r07")
os.makedirs(OUT, exist_ok=True)


def main():
    from tiff_to_geojson_csv_json_format_converter_spark.operators import (
        extract, similarity, tiling, zonal,
    )
    from tiff_to_geojson_csv_json_format_converter_spark.plans import entry_queries
    from tiff_to_geojson_csv_json_format_converter_spark.plans.session import get_spark
    from tiff_to_geojson_csv_json_format_converter_spark.sources import synth

    spark = get_spark(app_name="r07-plans", master=f"local[{CPUS}]",
                      shuffle_partitions=max(CPUS, 8))
    spark.sparkContext.setLogLevel("ERROR")

    qs = entry_queries.queries()
    heads = [
        "affine_extract", "stride_sample", "tile_assign", "zonal_stats_polys",
        "knn", "catalog_rollup", "dedup_exact", "ngram_jaccard",
        "ann_brute_topk", "events_hourly", "cell_cover_join",
        "zonal_stats_union", "multi_root_scan", "embed_neardup",
    ]
    dfs = {}
    for name in heads:
        if ONLY is None or name in ONLY:
            dfs[name] = qs[name](spark, SF_DIR)

    if ONLY is None or "raster_extract" in ONLY or "raster_zonal_join" in ONLY:
        images = synth.images_df(spark, "m", n_images=64, num_partitions=CPUS * 2)
        dfs["raster_extract"] = extract.extract_points(images, valid_only=True)
        dfs["raster_zonal_join"] = zonal.zonal_stats(
            extract.extract_points(images, valid_only=True),
            [synth.GOLDEN_DELHI_RING], "poly_0000")
        dfs["raster_tile_fused"] = tiling.tile_histogram_from_partials(extract.extract_partials(images, 12))

    if ONLY is None or "ann_ivf_distributed" in ONLY:
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        dfs["ann_ivf_distributed"] = similarity.ivf_topk(
            emb, k=5, n_centroids=16, train="distributed", kmeans_iters=2)

    for name, df in dfs.items():
        path = os.path.join(OUT, f"{name}_{TAG}.txt")
        with open(path, "w") as f:
            f.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
        print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    main()
