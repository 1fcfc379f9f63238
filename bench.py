#!/usr/bin/env python
"""Benchmark harness: headline engine queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., ...extras}

Extras include the BASELINE.json target metrics: pixel-to-coordinate
extraction rows/sec and spatial-join+tile images/sec on the synthetic
image+caption table.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "affine_extract",
    "stride_sample",
    "tile_assign",
    "zonal_stats_polys",  # r04: merged box+pentagon+concave_hole union
    "knn",
    "catalog_rollup",
    "dedup_exact",
    "ngram_jaccard",
    "ann_brute_topk",
    "events_hourly",
    # round-2 operators
    "cell_cover_join",
    "zonal_stats_union",
    "multi_root_scan",
    # round-3 operators (r04: embed_neardup is the merged
    # broadcast+blocked+lsh_routed union)
    "embed_neardup",
]


# Host-capability reference for the probe kernel below, measured in a
# quiet window on this sandbox VM (2026-08-17, best of 20 back-to-back
# single-process runs). The probe/ref ratio stamped next to each query
# says how degraded the shared host was AT THAT MOMENT: ~1.0 = quiet,
# >>1 = the documented bursty external tenant was active, and the
# query's wall-clock should be read with that multiplier in mind.
# (BENCH_r03's raster_extract 3.9x mystery was exactly this gap in the
# evidence chain — the suite numbers carried no host annotation.)
PROBE_REF_SEC = 0.20


def make_host_probe():
    """Bare single-process run of the SAME extraction kernel the flagship
    measures (decode -> affine -> reproject -> tile), no Spark, no JVM:
    a pure host-speed sample. ~0.2 s per call in a quiet window."""
    import numpy as np

    from tiff_to_geojson_csv_json_format_converter_spark.functions import cells as _cells
    from tiff_to_geojson_csv_json_format_converter_spark.operators.extract import _extract_image
    from tiff_to_geojson_csv_json_format_converter_spark.sources import synth as _synth

    records = _synth.generate_pandas(np.arange(32), 4096, [128, 256]).to_dict("records")

    def probe() -> float:
        t0 = time.perf_counter()
        for img in records:
            for _b, bi, bl, bb, _z in _extract_image(
                img["image_id"], img["bytes"], img["w"], img["h"], img["fmt"],
                img["transform"], img["crs"], img["band_count"], True, None, None, True,
            ):
                _cells.tile_xy(bl, bb, 12)
        return time.perf_counter() - t0

    probe()  # warm numpy/code paths so the first stamped ratio is honest
    return probe


def bench_blocked_cosine(spark, cpus: int) -> dict:
    """Blocked-Gram-matrix near-dup at a corpus size where the
    single-broadcast strategy would need a >= 2 GB driver collect +
    broadcast (rows x dim x 8 bytes of int64-quantized vectors): proof
    the blocked path runs where the broadcast one cannot. The corpus is
    generated DISTRIBUTED (seeded per-row rng, 20 planted duplicate
    pairs); the timed window includes generation, quantization, the
    block shuffle, and every block-pair matmul. The planted-pair count
    is asserted, so this is a correctness check at scale too."""
    import numpy as np
    import pandas as pd

    from tiff_to_geojson_csv_json_format_converter_spark.operators import similarity

    # corpus SHAPE matters: the >=2 GB-broadcast claim scales with
    # rows x dim, but the pairwise matmul work scales with rows^2 x dim
    # — so a wide-dim / few-rows corpus proves "past any sane single
    # broadcast" at ~7x less compute than the square shape, keeping this
    # entry a bench line instead of the suite's dominant cost
    nvec = int(os.environ.get("SPARK_GRAFT_BLOCKED_ROWS", "2048"))
    dim = int(os.environ.get("SPARK_GRAFT_BLOCKED_DIM", "131072"))
    n_blocks = int(os.environ.get("SPARK_GRAFT_BLOCKED_B", "2"))
    planted = 20

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            vecs = []
            for i in ids:
                # last `planted` ids replay an early seed -> exact dup pairs
                seed = int(i) if i < nvec - planted else int(i) - (nvec - planted)
                vecs.append(
                    np.random.default_rng(seed).normal(size=dim).astype(np.float32)
                )
            yield pd.DataFrame({"vec_id": ids, "embedding": vecs})

    corpus = spark.range(nvec, numPartitions=cpus).mapInPandas(
        gen, "vec_id long, embedding array<float>"
    )
    # single run, reported OUTSIDE the suite total: this entry is a
    # capability proof (the blocked path RUNS where a broadcast cannot),
    # not a steady-state operator timing — the sf0.1-scale timing of the
    # same operator is the embed_neardup_blocked suite entry. On this
    # sandbox the wall is host-bound, not plan-bound: the VM lazy-pages
    # fresh memory at ~50 MB/s and its shuffle path moves ~25-100 MB/s
    # (measured via phase decomposition; disk itself does 2.3 GB/s), so
    # ~2-4 GB of corpus movement costs ~60-130 s regardless of plan
    # shape. See PLANS.md 'blocked cosine' for the full breakdown.
    t0 = time.perf_counter()
    n_pairs = similarity.cosine_pairs_blocked(
        corpus, threshold_e6=999_000, n_blocks=n_blocks
    ).count()
    dt = time.perf_counter() - t0
    if n_pairs != planted:
        raise AssertionError(f"blocked near-dup found {n_pairs} pairs, expected {planted}")
    return {
        "sec": round(dt, 3),
        "corpus_rows": nvec,
        "dim": dim,
        "n_blocks": n_blocks,
        "quantized_corpus_gb": round(nvec * dim * 8 / 1e9, 2),
        "pairs_found": n_pairs,
    }


def bench_ivf_distributed(spark, sf_dir: str) -> dict:
    """Production-shape IVF (distributed full-corpus k-means trainer,
    n_probe << n_centroids) timed at bench scale, with measured
    recall@5 against the exact brute-force top-k — the
    quality-vs-throughput number an ANN deployment actually tracks."""
    from pyspark.sql import functions as F

    from tiff_to_geojson_csv_json_format_converter_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    k = 5
    # timed run = the library-DEFAULT n_probe (reported below straight
    # from the function signature): the out-of-the-box path a user gets
    # must be the one whose recall the bench reports (>= 0.8 with margin
    # by the recall/probe curve the default was chosen from)
    t0 = time.perf_counter()
    ivf = similarity.ivf_topk(
        emb, k=k, n_centroids=16, train="distributed", kmeans_iters=2
    ).select("query_id", "neighbor_id").cache()
    n_ivf = ivf.count()
    dt = time.perf_counter() - t0
    truth = similarity.brute_topk(emb, k=k).select("query_id", "neighbor_id").cache()
    n_truth = truth.count()
    hits = ivf.join(truth, ["query_id", "neighbor_id"]).count()
    ivf.unpersist()
    # recall/probe curve: the accuracy-throughput dial (n_probe ->
    # fraction of lists scanned); n_probe == n_centroids is exact by
    # construction and is the driver-checked mode
    curve = {}
    for np_ in (2, 4, 16):
        cand = similarity.ivf_topk(
            emb, k=k, n_centroids=16, n_probe=np_, train="distributed",
            kmeans_iters=2,
        ).select("query_id", "neighbor_id")
        curve[f"recall_at_5_probe{np_}"] = round(
            cand.join(truth, ["query_id", "neighbor_id"]).count() / max(n_truth, 1), 4
        )
    truth.unpersist()
    import inspect

    default_probe = inspect.signature(similarity.ivf_topk).parameters["n_probe"].default
    return {
        "sec": round(dt, 3),
        "recall_at_5": round(hits / max(n_truth, 1), 4),
        **curve,
        "ivf_pairs": n_ivf,
        "truth_pairs": n_truth,
        "n_probe": default_probe,
        "n_centroids": 16,
        "train": "distributed",
    }


def bench_rerank_wire(spark, cpus: int) -> dict:
    """The wide-vector re-rank wire, measured: the SAME candidate set
    exact-scored over the ``array<long>`` + zip_with transport vs the
    width-tagged int16 binary wire (exact_rerank_topk), at a real
    embedding dim (768). Both runs return bit-identical rows; the delta
    is pure transport cost — array cells pay per-element
    UnsafeArrayData <-> Arrow conversion on both shuffle sides, the
    binary wire one opaque memcpy at 4x fewer bytes.

    Broadcast joins are disabled for this entry (conf saved/restored):
    at bench scale AQE would broadcast the 2048-row vector side and
    neither wire would cross a shuffle — but a 100 TB corpus never
    broadcasts, and the shuffle plan is the one this wire exists for.
    Measured on this host the gap GROWS with pair volume and SHRINKS
    with idle cores (1.2x at 8k pairs / 8 cores, 2.2x at 131k / 8
    cores, 1.4x at 262k / 32 cores — at 32 cores the sandbox job is
    partly scheduler-bound) — the sandbox numbers are the conservative
    floor of the 10x+ per-element-conversion delta measured on
    GB-scale shuffles (PLANS.md 'Blocked cosine')."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from tiff_to_geojson_csv_json_format_converter_spark.operators import similarity

    nvec = int(os.environ.get("SPARK_GRAFT_WIRE_ROWS", "2048"))
    dim = int(os.environ.get("SPARK_GRAFT_WIRE_DIM", "768"))
    fanout = int(os.environ.get("SPARK_GRAFT_WIRE_FANOUT", "128"))

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            vecs = [
                np.random.default_rng(int(i)).normal(size=dim).astype(np.float32)
                for i in ids
            ]
            yield pd.DataFrame({"vec_id": ids, "embedding": vecs})

    corpus = spark.range(nvec, numPartitions=cpus).mapInPandas(
        gen, "vec_id long, embedding array<float>"
    ).cache()
    corpus.count()
    cand = (
        spark.range(nvec, numPartitions=cpus)
        .select(
            F.col("id").alias("query_id"),
            F.explode(F.sequence(F.lit(1), F.lit(fanout))).alias("o"),
        )
        .select("query_id", ((F.col("query_id") + F.col("o")) % nvec).alias("neighbor_id"))
    )
    saved = {
        k: spark.conf.get(k, None)
        for k in ("spark.sql.autoBroadcastJoinThreshold",
                  "spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
    for k in saved:
        spark.conf.set(k, "-1")
    timings = {}
    try:
        # best-of-2 per wire, A-B-B-A order: a single-run A-then-B
        # measurement conflates warmup/drift with the wire delta
        for wire in ("array", "binary", "binary", "array"):
            t0 = time.perf_counter()
            n = similarity.exact_rerank_topk(
                corpus, cand, k=5, wire=wire
            ).count()
            dt = round(time.perf_counter() - t0, 3)
            key = f"{wire}_sec"
            timings[key] = min(timings.get(key, dt), dt)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    corpus.unpersist()
    return {
        **timings,
        "speedup": round(timings["array_sec"] / max(timings["binary_sec"], 1e-9), 2),
        "pairs": nvec * fanout,
        "dim": dim,
        "topk_rows": n,
    }


def bench_scaled_suite(spark, sf_dir: str, cpus: int, host_probe, mult: int = 4) -> dict:
    """Scale-shaped variants of the five multi-second suite queries at
    ``mult``x their input size — the sf0.1 suite is majority sub-second
    and scheduler-bound, so THESE are the timings that carry plan-shape
    signal round over round. Inputs are scaled without changing workload
    shape:

    - points (knn / cell_cover): each point explodes to ``mult``
      jittered replicas (new point_ids) — join and refine work scale
      linearly, candidate structure preserved.
    - documents (ngram_jaccard): per-replica alphabet rotation
      (F.translate) keeps in-replica near-dup structure but destroys
      cross-replica shingle overlap — pair count scales ~linearly, no
      quadratic dup-group blowup.
    - embeddings (ivf / neardup): ``mult``x fresh seeded-random vectors
      (NOT copies — copies would plant n^2 exact-dup pairs).

    Timed best-of-3 with the same per-query host probe as the headline
    suite; reported under a separate JSON key so round-over-round
    comparison of the headline table survives."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from tiff_to_geojson_csv_json_format_converter_spark.operators import (
        dedup, joins, similarity,
    )
    from tiff_to_geojson_csv_json_format_converter_spark.plans import entry_queries
    from tiff_to_geojson_csv_json_format_converter_spark.sources import synth

    timings: dict[str, float] = {}
    probes: dict[str, float] = {}

    def best_of(name, fn, reps: int = 3):
        probes[name] = round(host_probe() / PROBE_REF_SEC, 2)
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    rep = F.explode(F.sequence(F.lit(0), F.lit(mult - 1))).alias("r")

    # --- points x mult (jittered replicas, fresh point_ids)
    pts = entry_queries._pts(spark, sf_dir).filter("valid")
    pts_m = (
        pts.select("*", rep)
        .withColumn("lon", F.col("lon") + F.col("r") * F.lit(1e-4))
        .withColumn("point_id", F.col("point_id") * mult + F.col("r"))
        .drop("r")
    )

    cust = entry_queries._load(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 15 == 0
    ).select(
        F.col("c_custkey").cast("string").alias("query_id"),
        (F.lit(77.0) + (F.col("c_custkey") % 100) * F.lit(0.005)).alias("qlon"),
        (F.lit(28.0) + (F.col("c_custkey") % 71) * F.lit(0.007)).alias("qlat"),
    )
    best_of("knn", lambda: joins.knn_join(
        pts_m.select(F.col("point_id").alias("pixel_idx"), "lon", "lat"),
        cust, k=3, level=14, max_ring=2,
        point_cols=("lon", "lat"), query_cols=("qlon", "qlat"),
    ).count())

    polys = synth.polygons_df(spark)
    best_of("cell_cover_join", lambda: joins.cell_cover_join(
        pts_m.select("lon", "lat", "z"), polys, lon_col="lon", lat_col="lat"
    ).groupBy("polygon_id").agg(
        F.count("*").alias("n"), F.sum(F.col("z").cast("long")).alias("sum_z")
    ).count())

    # --- documents x mult (alphabet rotation per replica)
    alpha = "abcdefghijklmnopqrstuvwxyz"
    docs = entry_queries._load(spark, sf_dir, "documents")
    text_col = F.col("text")
    for r in range(1, mult):
        rot = alpha[r:] + alpha[:r]
        text_col = F.when(F.col("r") == r, F.translate("text", alpha, rot)).otherwise(text_col)
    docs_m = (
        docs.select("doc_id", "source", "text", rep)
        .withColumn("doc_id", F.col("doc_id") * mult + F.col("r"))
        .withColumn("text", text_col)
        .drop("r")
    )
    best_of("ngram_jaccard", lambda: dedup.jaccard_pairs(
        docs_m, n=4, threshold_e6=300_000, block_col="source"
    ).count())

    # --- embeddings x mult (fresh seeded vectors)
    n_emb = entry_queries._load(spark, sf_dir, "embeddings").count()
    dim = 64

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            vecs = [
                np.random.default_rng(1_000_000 + int(i)).normal(size=dim).astype(np.float32)
                for i in ids
            ]
            yield pd.DataFrame({"vec_id": ids, "embedding": vecs})

    emb_m = spark.range(n_emb * mult, numPartitions=cpus).mapInPandas(
        gen, "vec_id long, embedding array<float>"
    ).cache()
    emb_m.count()
    best_of("ann_ivf_distributed", lambda: similarity.ivf_topk(
        emb_m, k=5, n_centroids=16, train="distributed", kmeans_iters=2
    ).count())
    best_of("embed_neardup", lambda: similarity.cosine_pairs(
        emb_m, threshold_e6=950_000, mode="lsh"
    ).count())
    emb_m.unpersist()

    return {
        "mult": mult,
        "queries": timings,
        "host_probe_ratio": probes,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_images = int(os.environ.get("SPARK_GRAFT_BENCH_IMAGES", "256"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from tiff_to_geojson_csv_json_format_converter_spark.operators import extract, tiling, zonal
    from tiff_to_geojson_csv_json_format_converter_spark.plans import entry_queries
    from tiff_to_geojson_csv_json_format_converter_spark.plans.session import get_spark
    from tiff_to_geojson_csv_json_format_converter_spark.sources import synth

    spark = get_spark(
        app_name="bench", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 8)
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warm the session once (JVM codegen, python workers, file listing) so
    # per-query timings measure the queries, not cold-start constants
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1).count()
    spark.range(0, 1000, numPartitions=cpus).selectExpr("sum(id)").collect()

    qs = entry_queries.queries()
    timings: dict[str, float] = {}
    probe_ratios: dict[str, float] = {}
    total = 0.0
    host_probe = make_host_probe()

    def probed(name: str) -> None:
        """Stamp the host's instantaneous speed next to this query: one
        bare-kernel probe run, recorded as probe_sec / quiet-window ref.
        Outside every timed window."""
        probe_ratios[name] = round(host_probe() / PROBE_REF_SEC, 2)

    def best_of(fn, reps: int = 3) -> float:
        """Steady-state wall-clock: best of three back-to-back runs. This
        host is a noisy shared VM (identical runs vary up to 6x); the
        first run additionally pays codegen + cache materialization.
        Best-of-2 proved too shallow to dodge multi-second tenant bursts
        (BENCH_r03); three reps + the per-query probe ratio make a burst
        visible instead of silently inflating the record."""
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        return best

    for name in HEADLINE:
        probed(name)
        dt = best_of(lambda: qs[name](spark, sf_dir).count())
        timings[name] = round(dt, 3)
        total += dt

    # BASELINE.json target metrics on the synthetic image+caption table.
    # Scale "m" sizes (64/256 px) so decode+transform dominates, not
    # per-image overhead; generation is materialized OUTSIDE the timed
    # window; points are extracted once then queried (the realistic shape).
    images = synth.images_df(spark, "m", n_images=n_images, num_partitions=cpus * 2)
    images = images.cache()
    n_imgs = images.count()
    total_px = images.selectExpr("sum(w * h * band_count)").collect()[0][0]

    extract.extract_points(images.limit(8)).count()  # warm python workers
    n_pts = extract.extract_points(images, valid_only=True).count()
    probed("raster_extract")
    t_extract = best_of(lambda: extract.extract_points(images, valid_only=True).count())
    timings["raster_extract"] = round(t_extract, 3)
    total += t_extract

    # end-to-end spatial join over a fresh extract frame: zonal_stats
    # clips and folds inside the extract pass (the plan a user runs)
    probed("raster_zonal_join")
    t_zonal = best_of(
        lambda: zonal.zonal_stats(
            extract.extract_points(images, valid_only=True),
            [synth.GOLDEN_DELHI_RING], "poly_0000",
        ).count()
    )
    timings["raster_zonal_join"] = round(t_zonal, 3)
    total += t_zonal

    # the scale-shaped fused tile variant (partial agg inside the Arrow pass)
    probed("raster_tile_fused")
    timings["raster_tile_fused"] = round(best_of(
        lambda: tiling.tile_histogram_from_partials(
            extract.extract_partials(images, 12)).count()
    ), 3)
    total += timings["raster_tile_fused"]

    images.unpersist()

    blocked_info = None
    if os.environ.get("SPARK_GRAFT_BENCH_BLOCKED", "1") != "0":
        # capability proof, NOT part of the suite total (see its docstring):
        # reported in the extras as cosine_blocked
        blocked_info = bench_blocked_cosine(spark, cpus)

    ivf_info = None
    if os.environ.get("SPARK_GRAFT_BENCH_IVF", "1") != "0":
        probed("ann_ivf_distributed")
        ivf_info = bench_ivf_distributed(spark, sf_dir)
        timings["ann_ivf_distributed"] = ivf_info["sec"]
        total += ivf_info["sec"]

    wire_info = None
    if os.environ.get("SPARK_GRAFT_BENCH_WIRE", "1") != "0":
        probed("rerank_wire_768")
        wire_info = bench_rerank_wire(spark, cpus)

    scaled_info = None
    if os.environ.get("SPARK_GRAFT_BENCH_SCALED", "1") != "0":
        scaled_info = bench_scaled_suite(
            spark, sf_dir, cpus, host_probe,
            mult=int(os.environ.get("SPARK_GRAFT_SCALED_MULT", "4")),
        )
    ratios = list(probe_ratios.values())
    out = {
        "metric": "headline query suite wall-clock",
        "value": round(total, 3),
        "unit": "sec",
        "methodology": (
            "per-query best-of-3 back-to-back runs; host speed stamped per "
            "query via a bare-kernel probe (ratio vs quiet-window ref "
            f"{PROBE_REF_SEC}s — ~1.0 quiet, >1 = shared-host tenant burst "
            "inflating that query's wall-clock)"
        ),
        "host_probe": {
            "ref_sec": PROBE_REF_SEC,
            "per_query_ratio": probe_ratios,
            "min_ratio": round(min(ratios), 2),
            "max_ratio": round(max(ratios), 2),
        },
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "bench_images": n_imgs,
        "bench_pixels": int(total_px),
        "extract_rows_per_sec": int(n_pts / t_extract),
        "extract_pixels_per_sec": int(total_px / t_extract),
        "spatial_join_images_per_sec": round(n_imgs / t_zonal, 2),
    }
    if blocked_info is not None:
        out["cosine_blocked"] = blocked_info
    if ivf_info is not None:
        out["ann_ivf_recall_at_5"] = ivf_info["recall_at_5"]
        out["ann_ivf_distributed"] = ivf_info
    if wire_info is not None:
        out["rerank_wire_768"] = wire_info
    if scaled_info is not None:
        out["scaled_4x"] = scaled_info
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
