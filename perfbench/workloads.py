"""The four benchmark workloads. Each one builds its seeded inputs (the
timed set-up), builds its oracles (untimed), and runs passes of library
calls whose every output is checked.

Span names are the library layer each call enters; they are the keys of
the per-layer metrics.
"""

from __future__ import annotations

import inspect
import os
import shutil
import statistics

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tiff_to_geojson_csv_json_format_converter_spark import api
from tiff_to_geojson_csv_json_format_converter_spark.functions import cells
from tiff_to_geojson_csv_json_format_converter_spark.operators import (
    dedup, extract, joins, similarity, sinks, tiling, zonal,
)
from tiff_to_geojson_csv_json_format_converter_spark.plans.catalog import ParquetCatalog
from tiff_to_geojson_csv_json_format_converter_spark.sources import synth

import inputs

RING = synth.GOLDEN_DELHI_RING


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Workload:
    """One workload: ``setup_inputs`` is the program set-up (repeatable,
    timed into setup_s), ``build_oracle`` the independent expectations,
    ``run_pass`` one pass of checked operations through ``ops``."""

    name = ""
    ids = None            # image ids, for the raster workloads
    kernel_points = None  # oracle points the kernel rates run on

    def __init__(self, spark, seed: int, tracer, ops, workdir: str):
        self.spark, self.seed, self.tracer, self.ops = spark, seed, tracer, ops
        self.workdir = workdir
        self.cpus = spark.sparkContext.defaultParallelism
        self._cached = []

    def _cache(self, df):
        df = df.cache()
        self._cached.append(df)
        return df

    def release(self):
        for df in self._cached:
            df.unpersist(blocking=True)
        self._cached = []

    def _images(self, ids):
        with self.tracer.span("sources.synth.images_df") as sp:
            df = self._cache(inputs.images_df(self.spark, ids, self.cpus))
            sp["rows"] = df.count()
        return df

    def extra_probes(self, pass_id: int) -> None:
        """Traced-run-only calls made outside the pass timer."""

    def after_pass(self, pass_id: int) -> None:
        """Clean-up after a pass, outside the pass timer."""

    def trace_probes(self, pass_id: int) -> None:
        """Traced-run-only operations of layers this workload's passes do
        not enter, run once after the traced passes."""

    def sizes(self) -> dict:
        raise NotImplementedError

    def detail(self) -> dict:
        raise NotImplementedError


class IngestTiles(Workload):
    name = "ingest_tiles"
    N_IMAGES = 96

    def setup_inputs(self):
        self.ids = inputs.image_ids(self.seed, self.N_IMAGES)
        self.images = self._images(self.ids)
        self.conv = api.Converter(self.spark, self.images)

    def build_oracle(self):
        pts = self.kernel_points = inputs.oracle_points(self.ids)
        self.pixels = inputs.image_pixels(self.ids)
        self.n_valid = len(pts["z"])
        self.with_points = set(pts["image"].tolist())
        self.zonal_want = inputs.oracle_stats(pts, [RING])
        tx, ty = cells.tile_xy(pts["lon"], pts["lat"], tiling.DEFAULT_LEVEL)
        self.n_tiles = len(np.unique(tx.astype(np.int64) * (1 << 32) + ty.astype(np.int64)))
        self.bounds = (pts["lon"].min(), pts["lon"].max(), pts["lat"].min(), pts["lat"].max(),
                       pts["z"].min(), pts["z"].max())

    def _check_tiles(self, rows):
        return len(rows) == self.n_tiles and sum(r["n_points"] for r in rows) == self.n_valid

    def _check_catalog(self, cat):
        ob = cat["overall_bounds"]
        return (cat["total_files"] == self.N_IMAGES
                and sum(f["frontend_points"] for f in cat["files"]) == self.n_valid
                and (ob["min_x"], ob["max_x"], ob["min_y"], ob["max_y"], ob["min_z"], ob["max_z"]) == self.bounds)

    def _check_rollup(self, rows):
        overall = [r for r in rows if r["is_overall"]]
        per_image = [r for r in rows if not r["is_overall"]]
        return (len(overall) == 1 and overall[0]["points"] == self.n_valid
                and {r["image_id"] for r in per_image} == self.with_points
                and overall[0]["min_elevation"] == self.bounds[4]
                and overall[0]["max_elevation"] == self.bounds[5])

    def _check_zonal(self, rows):
        got = {(r["image_id"], r["band"]): r.asDict() for r in rows}
        return inputs.stats_match(got, self.zonal_want)

    def run_pass(self, p):
        op = self.ops.run
        op("operators.extract.extract_points", lambda: self.conv.points("valid").count(),
           lambda n: n == self.n_valid, p, rows=lambda n: n)
        op("operators.tiling.tile_histogram", lambda: self.conv.tiles().collect(),
           self._check_tiles, p)
        op("api.Converter.catalog", self.conv.catalog, self._check_catalog, p,
           rows=lambda c: len(c["files"]))
        op("operators.zonal.zonal_stats",
           lambda: zonal.zonal_stats(self.conv.points("valid"), [RING], "delhi").collect(),
           self._check_zonal, p)

    def trace_probes(self, p):
        self.ops.run("operators.tiling.catalog_rollup",
                     lambda: tiling.catalog_rollup(self.conv.points("valid")).collect(), self._check_rollup, p)
        # the writers run on as many images as the geo_export workload has
        geo = GeoExport(self.spark, self.seed, self.tracer, self.ops, self.workdir)
        ids = self.ids[:GeoExport.N_IMAGES]
        geo.use_images(ids, self.images.where(F.col("image_id").isin([f"img_{int(i):08d}" for i in ids])))
        geo.build_oracle()
        geo.run_pass(p)
        geo.after_pass(p)

    def sizes(self):
        return {"images": self.N_IMAGES, "pixels": self.pixels, "points": self.n_valid, "polygons": 1}

    def detail(self):
        t = self.ops.median_times()
        return {
            "points_per_s": (self.n_valid / t["operators.extract.extract_points"], "1/s"),
            "images_per_s": (self.N_IMAGES / (t["operators.tiling.tile_histogram"]
                                              + t["operators.zonal.zonal_stats"]), "1/s"),
        }


class SpatialQuery(Workload):
    name = "spatial_query"
    N_IMAGES = 8
    N_QUERIES = 48
    K_MAX = 4
    REQUESTS_PER_PASS = 2

    def setup_inputs(self):
        self.ids = inputs.image_ids(self.seed, self.N_IMAGES)
        images = self._images(self.ids)
        with self.tracer.span("setup.points_table") as sp:
            self.points = self._cache(extract.extract_points(images, valid_only=True))
            sp["rows"] = self.points.count()
        self.polys = inputs.polygon_layer(self.seed)
        self.polys_df = self._cache(inputs.polygons_df(self.spark, self.polys))
        self.queries = inputs.knn_queries(self.seed, self.N_QUERIES)
        self.queries_df = self._cache(self.spark.createDataFrame(
            [(q["query_id"], q["lon"], q["lat"], q["k"]) for q in self.queries],
            "query_id string, lon double, lat double, k int"))
        # request mix: every non-spanning polygon of the layer, and seeded points
        self.req_polys = [p for p in self.polys if p["polygon_id"] != self.polys[-1]["polygon_id"]]
        self.req_points = inputs.knn_queries(self.seed, 12, stream=6)
        self.req_counter = 0

    def build_oracle(self):
        pts = self.kernel_points = inputs.oracle_points(self.ids)
        self.pixels = inputs.image_pixels(self.ids)
        self.n_valid = len(pts["z"])
        self.cover_want = {}
        for p in self.polys:
            st = inputs.oracle_stats(pts, p["rings"])
            n = sum(s["count"] for s in st.values())
            if n:
                self.cover_want[p["polygon_id"]] = n
        # knn_join's exactness guard: max_ring cells of the smaller cell side
        knn = inspect.signature(joins.knn_join).parameters
        self.guard = (knn["max_ring"].default * 180.0 / (1 << knn["level"].default)) ** 2
        self.knn_truth = inputs.knn_oracle(pts, self.queries, self.K_MAX)
        self.req_zonal_want = {p["polygon_id"]: inputs.response_oracle(inputs.oracle_stats(pts, p["rings"]))
                               for p in self.req_polys}
        self.req_knn_truth = inputs.knn_oracle(pts, self.req_points, 1)
        self.inexact_rows = 0
        self.knn_rows = 0

    def _check_cover(self, rows):
        return {r["polygon_id"]: r["n"] for r in rows} == self.cover_want

    def _check_knn(self, rows):
        ok, checked, inexact = inputs.knn_matches(rows, self.queries, self.knn_truth, self.guard)
        self.knn_rows += checked
        self.inexact_rows += inexact
        return ok

    def _zonal_request(self, poly):
        stats = zonal.zonal_stats(self.points, poly["rings"], poly["polygon_id"])
        return zonal.stats_response(stats, "layer")

    def _knn_request(self, q):
        qdf = self.spark.createDataFrame([(q["query_id"], q["lon"], q["lat"])],
                                         "query_id string, lon double, lat double")
        return joins.knn_join(self.points, qdf, k=1).collect()

    def run_pass(self, p):
        op = self.ops.run
        op("operators.joins.cell_cover_join",
           lambda: joins.cell_cover_join(self.points, self.polys_df)
           .groupBy("polygon_id").count().withColumnRenamed("count", "n").collect(),
           self._check_cover, p, rows=lambda rows: sum(r["n"] for r in rows))
        op("operators.joins.knn_join",
           lambda: joins.knn_join(self.points, self.queries_df, k=self.K_MAX).collect(),
           self._check_knn, p)
        for _ in range(self.REQUESTS_PER_PASS):
            j = self.req_counter
            self.req_counter += 1
            if j % 2 == 0:
                poly = self.req_polys[(j // 2) % len(self.req_polys)]
                op("request.zonal", lambda: self._zonal_request(poly),
                   lambda body: inputs.response_matches(body, self.req_zonal_want[poly["polygon_id"]]),
                   p, rows=lambda body: 1)
            else:
                q = dict(self.req_points[(j // 2) % len(self.req_points)], k=1)
                op("request.knn", lambda: self._knn_request(q),
                   lambda rows: inputs.knn_matches(rows, [q], self.req_knn_truth, self.guard)[0], p)

    def extra_probes(self, pass_id):
        def candidates():
            cand, _, _ = joins.cell_cover_candidates(self.points, self.polys_df)
            return cand.count()
        self.ops.run("operators.joins.cell_cover_candidates", candidates,
                     lambda n: n >= sum(self.cover_want.values()), pass_id, rows=lambda n: n)

    def trace_probes(self, p):
        cap = CaptionDedup(self.spark, self.seed, self.tracer, self.ops, self.workdir)
        cap.setup_inputs()
        cap.build_oracle()
        cap.run_pass(p)

    def sizes(self):
        return {"images": self.N_IMAGES, "pixels": self.pixels, "points": self.n_valid,
                "polygons": len(self.polys), "queries": self.N_QUERIES,
                "requests": self.REQUESTS_PER_PASS}

    def detail(self):
        t = self.ops.median_times()
        lat = sorted(self.ops.times["request.zonal"] + self.ops.times["request.knn"])
        pct, tail = _tail(lat)
        return {
            "cover_join_s": (t["operators.joins.cell_cover_join"], "s"),
            "knn_batch_s": (t["operators.joins.knn_join"], "s"),
            "request_p50_ms": (1000 * _median(lat), "ms"),
            "request_tail_ms": (1000 * tail, "ms"),
            "request_tail_pct": (pct, "%"),
            "request_samples": (len(lat), "count"),
        }


def _tail(sorted_lat):
    """The highest percentile with at least ten samples beyond it."""
    n = len(sorted_lat)
    if n < 11:
        return 0.0, (sorted_lat[-1] if sorted_lat else 0.0)
    rank = n - 10  # samples strictly above index rank-1: exactly ten
    return 100.0 * rank / n, sorted_lat[rank - 1]


class GeoExport(Workload):
    name = "geo_export"
    N_IMAGES = 16

    def setup_inputs(self):
        ids = inputs.image_ids(self.seed, self.N_IMAGES, stream=1)
        self.use_images(ids, self._images(ids))

    def use_images(self, ids, images):
        self.ids, self.images = ids, images
        self.conv = api.Converter(self.spark, images)
        self.bytes_written = []

    def build_oracle(self):
        pts = self.kernel_points = inputs.oracle_points(self.ids)
        self.pixels = inputs.image_pixels(self.ids)
        self.n_valid = len(pts["z"])
        self.with_points = sorted(set(pts["image"].tolist()))
        self.features = {
            f"img_{int(i):08d}": inputs.sampled_feature_count(
                synth.image_params(int(i), len(self.ids), inputs.IMAGE_SIZES)["size"],
                extract.MAX_FRONTEND_POINTS, extract.MAX_GEOJSON_POINTS)
            for i in self.ids
        }

    def _check_convert(self, res):
        import json
        n = len(self.ids)
        if len(res["geojson_files"]) != n or res["catalog"]["total_files"] != n:
            return False
        for path in res["geojson_files"]:
            with open(path) as f:
                doc = json.load(f)
            img = doc["metadata"]["source_file"]
            n = len(doc["features"])
            if n != self.features[img] or n != doc["metadata"]["geojson_points"] \
                    or n > extract.MAX_FRONTEND_POINTS:
                return False
        return True

    def _check_manifest(self, rows):
        return len(rows) == len(self.ids) * len(sinks.COMPRESSED_FORMATS) and all(
            os.path.getsize(r["path"]) == r["n_bytes"] for r in rows)

    def _check_partitioned(self, res, root):
        progress = pq.read_table(os.path.join(root, "_progress")).column("n_rows").to_pylist()
        return sorted(res["written"]) == self.with_points and sum(progress) == self.n_valid

    def run_pass(self, p):
        op = self.ops.run
        root = os.path.join(self.workdir, f"export-{p}")
        shutil.rmtree(root, ignore_errors=True)
        op("api.Converter.convert",
           lambda: self.conv.convert(os.path.join(root, "convert"), mode="sampled"),
           self._check_convert, p, rows=lambda r: len(r["geojson_files"]))
        op("operators.sinks.write_compressed_outputs",
           lambda: sinks.write_compressed_outputs(self.images, os.path.join(root, "compressed")).collect(),
           self._check_manifest, p)
        cat_root = os.path.join(root, "catalog")
        op("plans.catalog.run_partitioned_job",
           lambda: ParquetCatalog(self.spark, cat_root).run_partitioned_job(
               self.conv.points("valid"), "image_id", f"snap-{p}"),
           lambda res: self._check_partitioned(res, cat_root), p, rows=lambda r: len(r["written"]))
        self.pending_cleanup = root

    def after_pass(self, p):
        root = self.pending_cleanup
        total = 0
        for dirpath, _, files in os.walk(root):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        if p >= 0:
            self.bytes_written.append(total)
        shutil.rmtree(root, ignore_errors=True)

    def sizes(self):
        return {"images": len(self.ids), "pixels": self.pixels, "points": self.n_valid}

    def detail(self):
        t = self.ops.median_times()
        writers = (t["api.Converter.convert"] + t["operators.sinks.write_compressed_outputs"]
                   + t["plans.catalog.run_partitioned_job"])
        return {
            "export_pixels_per_s": (self.pixels / writers, "1/s"),
            "bytes_written_per_pixel": (_median(self.bytes_written) / self.pixels, "B"),
        }


class CaptionDedup(Workload):
    name = "caption_dedup"
    N_BASE_DOCS = 250
    DOC_REPLICAS = 4
    N_VECTORS = 1000
    SHINGLE = 4
    JACCARD_E6 = 500_000
    COSINE_E6 = 950_000
    TOPK = 5

    def setup_inputs(self):
        self.docs = inputs.documents(self.seed, self.N_BASE_DOCS, self.DOC_REPLICAS)
        self.vecs, self.planted = inputs.embeddings(self.seed, self.N_VECTORS)
        with self.tracer.span("setup.corpus") as sp:
            self.docs_df = self._cache(self.spark.createDataFrame(
                [(d["doc_id"], d["source"], d["text"]) for d in self.docs],
                "doc_id long, source string, text string").repartition(self.cpus))
            self.emb_df = self._cache(self.spark.createDataFrame(
                [(i, v.tolist()) for i, v in enumerate(self.vecs)],
                "vec_id long, embedding array<float>").repartition(self.cpus))
            sp["rows"] = self.docs_df.count() + self.emb_df.count()

    def build_oracle(self):
        self.dedup_want = inputs.dedup_oracle(self.docs)
        self.jaccard_want = inputs.jaccard_oracle(self.docs, self.SHINGLE, self.JACCARD_E6)
        self.cos = inputs.cosine_e6(inputs.quantized(self.vecs))
        iu = np.triu_indices(self.N_VECTORS, 1)
        hit = self.cos[iu] >= self.COSINE_E6
        self.cos_want = set(zip(iu[0][hit].tolist(), iu[1][hit].tolist()))
        if not self.planted <= self.cos_want:
            raise AssertionError("a planted near copy is below the cosine threshold")
        truth = similarity.brute_topk(self.emb_df, k=self.TOPK).collect()
        self.topk_want = {}
        for r in truth:
            self.topk_want.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        self.recall = []

    def _check_dedup(self, rows):
        return {r["content_hash"]: (r["keeper_id"], r["n_copies"]) for r in rows} == self.dedup_want

    def _jaccard(self):
        with dedup.CacheScope() as scope:
            return dedup.jaccard_pairs(self.docs_df, n=self.SHINGLE, threshold_e6=self.JACCARD_E6,
                                       block_col="source", scope=scope).select("doc_a", "doc_b").collect()

    def _check_cosine(self, rows):
        # LSH may miss pairs near the threshold; the planted near copies must all be found
        got = {(r["id_a"], r["id_b"]) for r in rows}
        return self.planted <= got <= self.cos_want and len(got) == len(rows) and all(
            self.cos[r["id_a"], r["id_b"]] == r["cos_e6"] for r in rows)

    def _check_ivf(self, rows):
        by_q = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r)
        if len(by_q) != self.N_VECTORS:
            return False
        hits = 0
        for q, rs in by_q.items():
            if sorted(r["rank"] for r in rs) != list(range(1, self.TOPK + 1)):
                return False
            if any(r["neighbor_id"] == q or self.cos[q, r["neighbor_id"]] != r["cos_e6"] for r in rs):
                return False
            hits += len({r["neighbor_id"] for r in rs} & self.topk_want[q])
        self.recall.append(hits / (self.TOPK * self.N_VECTORS))
        return True

    def run_pass(self, p):
        op = self.ops.run
        op("operators.dedup.exact_dedup", lambda: dedup.exact_dedup(self.docs_df).collect(),
           self._check_dedup, p)
        op("operators.dedup.jaccard_pairs", self._jaccard,
           lambda rows: {(r["doc_a"], r["doc_b"]) for r in rows} == self.jaccard_want
           and len(rows) == len(self.jaccard_want), p)
        op("operators.similarity.cosine_pairs",
           lambda: similarity.cosine_pairs(self.emb_df, threshold_e6=self.COSINE_E6, mode="lsh").collect(),
           self._check_cosine, p)
        op("operators.similarity.ivf_topk",
           lambda: similarity.ivf_topk(self.emb_df, k=self.TOPK, train="distributed").collect(),
           self._check_ivf, p)

    def sizes(self):
        return {"docs": len(self.docs), "vectors": self.N_VECTORS,
                "jaccard_pairs": len(self.jaccard_want), "cosine_pairs": len(self.cos_want),
                "planted_cosine_pairs": len(self.planted)}

    def detail(self):
        t = self.ops.median_times()
        return {
            "dedup_docs_per_s": (len(self.docs) / (t["operators.dedup.exact_dedup"]
                                                   + t["operators.dedup.jaccard_pairs"]), "1/s"),
            "ann_vectors_per_s": (self.N_VECTORS / (t["operators.similarity.cosine_pairs"]
                                                    + t["operators.similarity.ivf_topk"]), "1/s"),
            "recall_at_5": (_median(self.recall), "1"),
        }


WORKLOADS = {w.name: w for w in (IngestTiles, SpatialQuery, GeoExport, CaptionDedup)}
