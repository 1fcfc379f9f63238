#!/usr/bin/env python
"""Quick per-query timer mirroring bench.py's methodology (best-of-3
count(), per-query host probe stamp) for a SUBSET of queries — the
iteration loop for round-7 optimization. Usage:
  python BENCH/r07_quick.py ngram_jaccard,knn[,...]
Special names: raster_extract, raster_zonal_join, raster_tile_fused,
ann_ivf_distributed (same construction as bench.py).
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
NAMES = sys.argv[1].split(",") if len(sys.argv) > 1 else ["ngram_jaccard"]
REPS = int(os.environ.get("R07_REPS", "3"))


def main():
    import bench

    from tiff_to_geojson_csv_json_format_converter_spark.operators import (
        extract, similarity, tiling, zonal,
    )
    from tiff_to_geojson_csv_json_format_converter_spark.plans import entry_queries
    from tiff_to_geojson_csv_json_format_converter_spark.plans.session import get_spark
    from tiff_to_geojson_csv_json_format_converter_spark.sources import synth

    spark = get_spark(app_name="r07-quick", master=f"local[{CPUS}]",
                      shuffle_partitions=max(CPUS, 8))
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").limit(1).count()
    spark.range(0, 1000, numPartitions=CPUS).selectExpr("sum(id)").collect()
    probe = bench.make_host_probe()
    qs = entry_queries.queries()

    images = None
    out, probes = {}, {}
    for name in NAMES:
        probes[name] = round(probe() / bench.PROBE_REF_SEC, 2)
        if name.startswith("raster_") or name == "__images__":
            if images is None:
                images = synth.images_df(spark, "m", n_images=256,
                                         num_partitions=CPUS * 2).cache()
                images.count()
                extract.extract_points(images.limit(8)).count()
        if name == "raster_extract":
            fn = lambda: extract.extract_points(images, valid_only=True).count()
        elif name == "raster_zonal_join":
            fn = lambda: zonal.zonal_stats(
                extract.extract_points(images, valid_only=True),
                [synth.GOLDEN_DELHI_RING], "poly_0000").count()
        elif name == "raster_tile_fused":
            fn = lambda: tiling.tile_histogram_from_partials(extract.extract_partials(images, 12)).count()
        elif name == "ann_ivf_distributed":
            emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
            fn = lambda: similarity.ivf_topk(
                emb, k=5, n_centroids=16, train="distributed", kmeans_iters=2
            ).select("query_id", "neighbor_id").count()
        else:
            fn = (lambda nm: lambda: qs[nm](spark, SF_DIR).count())(name)
        best = float("inf")
        for _ in range(REPS):
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        out[name] = round(best, 3)
        print(f"  {name}: {best:.3f}s @probe {probes[name]}", flush=True)
    print(json.dumps({"queries": out, "probe": probes}))
    spark.stop()


if __name__ == "__main__":
    main()
