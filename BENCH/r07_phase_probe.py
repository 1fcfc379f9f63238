#!/usr/bin/env python
"""Phase decomposition for the round-7 optimization targets (noop-sink
isolation per the optimization guide §1.4). Not part of the frozen
bench contract — numbers cited in OPTIMIZATION_r07.md."""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
WHICH = set(sys.argv[1].split(",")) if len(sys.argv) > 1 else None


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(label, fn, out, reps=2):
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    out[label] = round(best, 3)
    print(f"  {label}: {best:.3f}s", flush=True)


def main():
    from pyspark.sql import functions as F

    from tiff_to_geojson_csv_json_format_converter_spark.operators import (
        dedup, joins, similarity,
    )
    from tiff_to_geojson_csv_json_format_converter_spark.plans import entry_queries
    from tiff_to_geojson_csv_json_format_converter_spark.plans.session import get_spark
    from tiff_to_geojson_csv_json_format_converter_spark.sources import synth

    spark = get_spark(app_name="r07-phase", master=f"local[{CPUS}]",
                      shuffle_partitions=max(CPUS, 8))
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").limit(1).count()
    spark.range(0, 1000, numPartitions=CPUS).selectExpr("sum(id)").collect()

    out = {}

    if WHICH is None or "ngram" in WHICH:
        print("ngram_jaccard phases:", flush=True)
        docs = entry_queries._load(spark, SF_DIR, "documents")

        def per_doc_only():
            sc = dedup.CacheScope()
            try:
                pairs = dedup.jaccard_pairs(
                    docs, n=4, threshold_e6=300_000, block_col="source", scope=sc)
                # materialize ONLY the cached per-doc table
                sc._dfs[0].count()
            finally:
                sc.release()
        timed("ngram.per_doc", per_doc_only, out)

        def cand_only():
            sc = dedup.CacheScope()
            try:
                pairs = dedup.jaccard_pairs(
                    docs, n=4, threshold_e6=300_000, block_col="source", scope=sc)
                # full pipeline
                noop(pairs)
            finally:
                sc.release()
        timed("ngram.full", cand_only, out)

    if WHICH is None or "knn" in WHICH:
        print("knn phases:", flush=True)
        pts = entry_queries._pts(spark, SF_DIR).filter("valid").select(
            F.col("point_id").alias("pixel_idx"), "lon", "lat")
        cust = entry_queries._load(spark, SF_DIR, "customer").filter(
            F.col("c_custkey") % 15 == 0).select(
            F.col("c_custkey").cast("string").alias("query_id"),
            (F.lit(77.0) + (F.col("c_custkey") % 100) * F.lit(0.005)).alias("qlon"),
            (F.lit(28.0) + (F.col("c_custkey") % 71) * F.lit(0.007)).alias("qlat"))
        full = joins.knn_join(pts, cust, k=3, level=14, max_ring=2,
                              point_cols=("lon", "lat"), query_cols=("qlon", "qlat"))
        timed("knn.full", lambda: noop(full), out)
        n_cand = [0]

        def cand():
            # candidate join only (strip the window): re-derive the cand subtree
            level, max_ring, n_parts = 14, 2, CPUS
            from tiff_to_geojson_csv_json_format_converter_spark.functions import cells
            import pandas as pd
            p2 = pts.withColumn("_cell", cells.cell_id_col(F.col("lon"), F.col("lat"), level))
            p2 = p2.repartition(n_parts, "_cell")

            def ring_cells(pdf_iter):
                for pdf in pdf_iter:
                    qx, qy = cells.tile_xy(pdf["qlon"].to_numpy(), pdf["qlat"].to_numpy(), level)
                    rows = []
                    for qid, x, y in zip(pdf["query_id"], qx, qy):
                        ring = cells.k_ring_xy(int(x), int(y), level, max_ring)
                        rows.append({"query_id": qid, "_cells": ring.tolist()})
                    yield pd.DataFrame(rows)
            cc = (cust.select("query_id", "qlon", "qlat")
                  .mapInPandas(ring_cells, "query_id string, _cells array<long>")
                  .select("query_id", F.explode("_cells").alias("_cell")))
            cand_df = cc.join(p2, "_cell")
            n_cand[0] = cand_df.count()
        timed("knn.cand_join_count", cand, out)
        out["knn.n_candidates"] = n_cand[0]

    if WHICH is None or "cell" in WHICH:
        print("cell_cover phases:", flush=True)
        pts_cc = entry_queries._pts(spark, SF_DIR).filter("valid")
        polys = synth.polygons_df(spark)
        n_cand = [0]

        def cand():
            c, _, _ = joins.cell_cover_candidates(pts_cc, polys, 8, "lon", "lat")
            n_cand[0] = c.count()
        timed("cell.cand_count", cand, out)
        out["cell.n_candidates"] = n_cand[0]
        full = joins.cell_cover_join(pts_cc, polys, lon_col="lon", lat_col="lat")
        timed("cell.full_join", lambda: noop(full), out)
        q = entry_queries.queries()["cell_cover_join"](spark, SF_DIR)
        timed("cell.query", lambda: q.count(), out)

    if WHICH is None or "ivf" in WHICH:
        print("ivf phases:", flush=True)
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        timed("ivf.kmeans_train", lambda: similarity.spherical_kmeans_distributed(
            emb, 16, 2, "vec_id", "embedding"), out)
        full = lambda: similarity.ivf_topk(
            emb, k=5, n_centroids=16, train="distributed", kmeans_iters=2
        ).select("query_id", "neighbor_id").count()
        timed("ivf.full", full, out)
        # candidate volume
        full_df = similarity.ivf_topk(emb, k=5, n_centroids=16, train="sample")
        timed("ivf.sample_train_full", lambda: full_df.count(), out)

    if WHICH is None or "multiroot" in WHICH:
        print("multi_root phases:", flush=True)
        q = entry_queries.queries()["multi_root_scan"](spark, SF_DIR)
        timed("multiroot.query", lambda: q.count(), out)

    if WHICH is None or "tile" in WHICH:
        q = entry_queries.queries()["tile_assign"](spark, SF_DIR)
        timed("tile_assign.query", lambda: q.count(), out)

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
