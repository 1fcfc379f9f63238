"""Operator-semantics tests: dedup families on planted near-duplicates,
similarity search vs numpy oracle, text metrics vs Python oracle,
multimodal plumbing shapes."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tiff_to_geojson_csv_json_format_converter_spark.operators import (
    dedup, multimodal, similarity, text,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the query engine "
    "scans a partitioned table and joins the result with a broadcast side"
)


@pytest.fixture(scope="module")
def planted_docs(spark):
    """40 docs: 30 unique word-salads + 5 near-dup pairs (1-word edits)
    + an exact duplicate pair."""
    rng = np.random.default_rng(11)
    vocab = BASE.split()
    rows = []
    did = 0
    for i in range(30):
        words = rng.choice(vocab, 30).tolist()
        rows.append((did, " ".join(words), "src0")); did += 1
    for i in range(5):
        words = rng.choice(vocab, 40).tolist()
        a = " ".join(words)
        words2 = list(words); words2[3] = "EDITED"
        rows.append((did, a, "src1")); did += 1
        rows.append((did, " ".join(words2), "src1")); did += 1
    rows.append((did, BASE, "src2")); did += 1
    rows.append((did, BASE, "src2")); did += 1
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def _py_jaccard(a: str, b: str, n: int) -> float:
    sa = {a[i:i + n] for i in range(max(len(a) - n + 1, 1))}
    sb = {b[i:i + n] for i in range(max(len(b) - n + 1, 1))}
    return len(sa & sb) / len(sa | sb)


class TestDedup:
    def test_connected_components_chain_and_islands(self, spark):
        """A 5-chain, a triangle, and an isolated pair: min-label
        propagation must converge to each component's min id with the
        right sizes (the chain needs several rounds — exercises the
        fixed-point loop, not just diameter-1 cliques)."""
        pairs = spark.createDataFrame(
            [(10, 11), (11, 12), (12, 13), (13, 14),   # chain of 5
             (20, 21), (21, 22), (20, 22),             # triangle
             (30, 31)],                                # pair
            "doc_a long, doc_b long",
        )
        got = dedup.connected_components(pairs).toPandas()
        comp = dict(zip(got["id"], got["component"]))
        size = dict(zip(got["id"], got["cluster_size"]))
        assert {comp[i] for i in (10, 11, 12, 13, 14)} == {10}
        assert {comp[i] for i in (20, 21, 22)} == {20}
        assert comp[30] == comp[31] == 30
        assert size[14] == 5 and size[22] == 3 and size[31] == 2
        assert len(got) == 10  # singletons never enter the pair graph

    def test_connected_components_nonconvergence_raises(self, spark):
        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(10)], "doc_a long, doc_b long"
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            dedup.connected_components(chain, max_iters=2)

    def test_connected_components_doubling_beats_diameter(self, spark):
        """Pointer doubling: a 33-chain (diameter 32) must converge in
        far fewer than 32 rounds — 6 label rounds + 1 confirmation is
        enough under the doubling recurrence (naive min-neighbor
        propagation would raise here)."""
        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(32)], "doc_a long, doc_b long"
        )
        got = dedup.connected_components(chain, max_iters=7).toPandas()
        assert set(got["component"]) == {0} and len(got) == 33

    def test_keep_list_decisions(self, spark):
        """keep_list over clusters {10..12}, {20,21} plus singletons 5
        and 99: min-id member kept, others dropped pointing at it,
        singletons kept pointing at themselves."""
        pairs = spark.createDataFrame(
            [(10, 11), (11, 12), (20, 21)], "doc_a long, doc_b long"
        )
        docs = spark.createDataFrame(
            [(i,) for i in (5, 10, 11, 12, 20, 21, 99)], "doc_id long"
        )
        got = dedup.keep_list(docs, pairs).toPandas()
        dec = {r.doc_id: (r.survivor, r.keep) for r in got.itertuples()}
        assert dec == {
            5: (5, True), 10: (10, True), 11: (10, False), 12: (10, False),
            20: (20, True), 21: (20, False), 99: (99, True),
        }

    def test_keep_list_requires_an_input(self, spark):
        docs = spark.createDataFrame([(1,)], "doc_id long")
        with pytest.raises(ValueError, match="pairs.*components"):
            dedup.keep_list(docs)

    def test_exact_dedup_finds_the_duplicate_pair(self, spark, planted_docs):
        out = dedup.exact_dedup(planted_docs).toPandas()
        dups = out[out["n_copies"] > 1]
        assert len(dups) == 1 and dups.iloc[0]["n_copies"] == 2

    def test_jaccard_pairs_match_python_oracle(self, spark, planted_docs):
        got = dedup.jaccard_pairs(planted_docs, n=4, threshold_e6=600_000).toPandas()
        docs = {r["doc_id"]: r["text"] for r in planted_docs.collect()}
        want = set()
        ids = sorted(docs)
        for i in ids:
            for j in ids:
                if i < j and _py_jaccard(docs[i], docs[j], 4) >= 0.6:
                    want.add((i, j))
        assert set(zip(got["doc_a"], got["doc_b"])) == want
        assert len(want) >= 6  # the 5 near-dup pairs + exact pair found
        for _, r in got.iterrows():
            assert r["jaccard_e6"] == int(np.floor(r["n_inter"] / r["n_union"] * 1e6))

    def test_jaccard_pairs_persists_nothing(self, spark, planted_docs):
        """jaccard_pairs caches nothing: no RDD is persisted once the
        frame is built, after it is collected, or after its (no-effect)
        CacheScope closes, with or without a scope passed."""
        def persisted():
            return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

        baseline = persisted()  # other tests in the shared session may cache
        # shifted ids: a plan no other test built
        corpus = planted_docs.withColumn("doc_id", planted_docs["doc_id"] + 1000)
        for with_scope in (False, True):
            with dedup.CacheScope() as scope:
                df = dedup.jaccard_pairs(corpus, n=4, threshold_e6=600_000,
                                         scope=scope if with_scope else None)
                assert persisted() - baseline == set()
                assert len(df.collect()) >= 6
                assert persisted() - baseline == set()
            assert persisted() - baseline == set()

    def test_pair_operators_run_no_job_when_built(self, spark, spark_jobs, planted_docs):
        """Building either dedup pair operator's frame runs no Spark job
        (no count of the corpus at composition); its rows are unchanged."""
        for build in (
            lambda: dedup.jaccard_pairs(planted_docs, n=4, threshold_e6=600_000, block_col="source"),
            lambda: dedup.minhash_lsh_pairs(planted_docs, n=4, threshold_e6=600_000),
        ):
            df, n_jobs = spark_jobs(build)
            assert n_jobs == 0
            assert len(df.collect()) >= 6

    def test_minhash_lsh_recall_on_planted_dups(self, spark, planted_docs):
        exact = dedup.jaccard_pairs(planted_docs, n=4, threshold_e6=600_000).toPandas()
        lsh = dedup.minhash_lsh_pairs(planted_docs, n=4, threshold_e6=600_000).toPandas()
        exact_pairs = set(zip(exact["doc_a"], exact["doc_b"]))
        lsh_pairs = set(zip(lsh["doc_a"], lsh["doc_b"]))
        # precision 1 by construction (exact verify); recall 1 on these
        # high-similarity planted pairs with 16 bands x 4 rows
        assert lsh_pairs <= exact_pairs or not exact_pairs
        assert lsh_pairs == exact_pairs

    def test_simhash_finds_exact_and_near_dups(self, spark, planted_docs):
        pairs = dedup.simhash_pairs(planted_docs, max_hamming=6).toPandas()
        found = set(zip(pairs["doc_a"], pairs["doc_b"]))
        assert (40, 41) in found  # exact duplicate pair: hamming 0
        ham0 = pairs[(pairs["doc_a"] == 40) & (pairs["doc_b"] == 41)]["hamming"].iloc[0]
        assert ham0 == 0

    def test_hamming_pairs_negative_hashes_and_threshold(self, spark):
        """64-bit phashes use the int64 sign bit: unsigned band shifts
        must handle negative values, and the exact verify must cut at
        the threshold — checked against a brute-force expectation."""
        vals = {
            "a": -1,                       # all 64 bits set
            "b": -1 ^ 0b101,               # hamming(a,b)=2
            "c": -1 ^ ((1 << 11) - 1),     # hamming(a,c)=11 > 10: out
            "d": 7,                        # far from all
        }
        df = spark.createDataFrame(list(vals.items()),
                                   "image_id string, phash long")
        got = dedup.phash_pairs(df, max_hamming=10).toPandas()
        brute = {
            tuple(sorted((x, y)))
            for x in vals for y in vals if x < y
            and bin(((vals[x] ^ vals[y]) & ((1 << 64) - 1))).count("1") <= 10
        }
        # (a,b)=2 and (b,c)=9 are in; (a,c)=11 is cut by the threshold
        assert set(zip(got["doc_a"], got["doc_b"])) == brute == {
            ("a", "b"), ("b", "c")}
        ham = dict(zip(zip(got["doc_a"], got["doc_b"]), got["hamming"]))
        assert ham == {("a", "b"): 2, ("b", "c"): 9}
        # returned hashes are the original int64 values, sign intact
        row = got[got["doc_a"] == "a"].iloc[0]
        assert {row["sim_a"], row["sim_b"]} == {vals["a"], vals["b"]}
        # max_hamming=0 = exact-duplicate mode: ONE full-width 64-bit
        # band (the all-ones mask doesn't fit a long literal — must not
        # crash) and only identical hashes pair up
        df0 = spark.createDataFrame(
            [("a", -1), ("b", -1), ("c", 7)], "image_id string, phash long")
        got0 = dedup.phash_pairs(df0, max_hamming=0).toPandas()
        assert set(zip(got0["doc_a"], got0["doc_b"])) == {("a", "b")}
        assert (got0["hamming"] == 0).all()


class TestSimilarity:
    def test_brute_topk_matches_numpy(self, spark):
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        got = similarity.brute_topk(emb, k=3).toPandas()
        pdf = emb.toPandas()
        V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        Q = np.floor(V * 1000.0).astype(np.int64)
        ids = pdf["vec_id"].to_numpy()
        dots = Q @ Q.T
        n2 = np.diag(dots).astype(np.float64)
        for qi in range(min(20, len(ids))):
            cos = dots[qi] / np.sqrt(n2[qi] * n2)
            cos_e6 = np.floor(cos * 1e6).astype(np.int64)
            mask = ids != ids[qi]
            cand = np.flatnonzero(mask)
            key = np.lexsort((ids[cand], -cos_e6[cand]))
            want = [(int(ids[cand[k]]), int(cos_e6[cand[k]])) for k in key[:3]]
            sub = got[got["query_id"] == ids[qi]].sort_values("rank")
            assert list(zip(sub["neighbor_id"], sub["cos_e6"])) == want

    def test_ivf_topk_scores_are_correct_for_returned_pairs(self, spark):
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        got = similarity.ivf_topk(emb, k=3).toPandas()
        assert (got.groupby("query_id")["rank"].min() == 1).all()
        assert set(got["query_id"]) == set(r[0] for r in emb.select("vec_id").collect())
        pdf = emb.toPandas().set_index("vec_id")
        for _, r in got.head(20).iterrows():
            a = np.floor(np.asarray(pdf.loc[r["query_id"], "embedding"], dtype=np.float64) * 1000).astype(np.int64)
            b = np.floor(np.asarray(pdf.loc[r["neighbor_id"], "embedding"], dtype=np.float64) * 1000).astype(np.int64)
            assert r["dot_q"] == int(a @ b)

    def test_lsh_topk_scores_are_correct_for_returned_pairs(self, spark):
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        got = similarity.lsh_topk(emb, k=3).toPandas()
        assert (got.groupby("query_id")["rank"].min() == 1).all()
        pdf = emb.toPandas().set_index("vec_id")
        for _, r in got.head(30).iterrows():
            a = np.floor(np.asarray(pdf.loc[r["query_id"], "embedding"], dtype=np.float64) * 1000).astype(np.int64)
            b = np.floor(np.asarray(pdf.loc[r["neighbor_id"], "embedding"], dtype=np.float64) * 1000).astype(np.int64)
            assert r["dot_q"] == int(a @ b)

    def test_rerank_binary_wire_bit_equal_to_array_wire(self, spark):
        """The int16 binary wire and the array<long>+zip_with wire must
        produce IDENTICAL rows from one candidate frame — same
        quantization, same IEEE scoring tree — at dim 64 and dim 192."""
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        wide = emb.select("vec_id", F.concat(
            "embedding", F.transform("embedding", lambda v: -v),
            F.transform("embedding", lambda v: v * F.lit(0.5)),
        ).alias("embedding"))
        n = emb.count()
        cand = spark.range(n).select(
            F.col("id").alias("query_id"),
            F.explode(F.sequence(F.lit(1), F.lit(12))).alias("o"),
        ).select("query_id", ((F.col("query_id") * 7 + F.col("o") * 13) % n).alias("neighbor_id"))
        cols = ["query_id", "neighbor_id", "dot_q", "cos_e6", "rank"]
        for vecs in (emb, wide):
            arr, binw = (
                similarity.exact_rerank_topk(vecs, cand, k=3, wire=w).toPandas()
                .sort_values(["query_id", "rank"]).reset_index(drop=True)[cols]
                for w in ("array", "binary")
            )
            assert len(arr) > 2 * n and arr.equals(binw)

    def test_ivf_grouped_rerank_partial_probe_matches_numpy(self, spark):
        """The grouped posting-list re-rank at n_probe < n_centroids,
        over a fixed centroid matrix, equals the exact re-rank of every
        probed candidate: member list = nearest centroid, probed lists =
        the n_probe nearest, self excluded, ordered (cos_e6 desc, id asc)."""
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        k, n_probe = 3, 2
        rng = np.random.default_rng(5)
        C = rng.normal(size=(6, 64))
        C /= np.linalg.norm(C, axis=1, keepdims=True)
        got = similarity._ivf_grouped_rerank(emb, C, k, n_probe, "vec_id", "embedding") \
            .toPandas().sort_values(["query_id", "rank"])
        pdf = emb.toPandas()
        ids = pdf["vec_id"].to_numpy()
        X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        sims = (X / np.linalg.norm(X, axis=1, keepdims=True)) @ C.T
        member = np.argmax(sims, axis=1)
        probed = np.argsort(-sims, axis=1)[:, :n_probe]
        Q = np.floor(X * 1000.0).astype(np.int64)
        dots = Q @ Q.T
        n2 = np.diag(dots).astype(np.float64)
        want = []
        for i in np.argsort(ids):
            cand = np.flatnonzero(np.isin(member, probed[i]) & (ids != ids[i]))
            cos_e6 = np.floor(dots[i, cand] / np.sqrt(n2[i] * n2[cand]) * 1e6).astype(np.int64)
            for rank, j in enumerate(np.lexsort((ids[cand], -cos_e6))[:k], 1):
                want.append((ids[i], ids[cand[j]], dots[i, cand[j]], cos_e6[j], rank))
        assert len(set(member)) > n_probe  # some lists are not probed
        cols = ["query_id", "neighbor_id", "dot_q", "cos_e6", "rank"]
        assert list(map(tuple, got[cols].to_numpy())) == want

    def test_lsh_declared_dim_must_match_vectors(self, spark):
        """A declared LSH dim that is not the vectors' width is refused
        with both widths named, not a numpy shape error."""
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        wide = emb.select("vec_id", F.concat("embedding", "embedding", "embedding").alias("embedding"))
        with pytest.raises(Exception, match="LSH dim 64 does not match the vector width 192"):
            similarity.lsh_topk(wide, k=5).collect()

    def test_brute_topk_blocked_bit_equal_to_broadcast(self, spark):
        """The no-driver-collect grid decomposition must reproduce the
        broadcast baseline exactly, including tie-breaks, at a block
        count that does not divide the corpus evenly."""
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        cols = ["query_id", "neighbor_id", "dot_q", "cos_e6", "rank"]
        a = similarity.brute_topk(emb, k=4).toPandas() \
            .sort_values(["query_id", "rank"]).reset_index(drop=True)
        b = similarity.brute_topk_blocked(emb, k=4, n_blocks=3, n_qbatches=2) \
            .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
        assert a[cols].equals(b[cols])

    def test_binary_wire_refuses_nonfinite_embeddings(self, spark):
        """NaN on the binary wire must raise loudly, never cast to
        INT64_MIN garbage dots."""
        emb = spark.createDataFrame(
            [(0, [0.5, float("nan")]), (1, [0.1, 0.2])],
            "vec_id long, embedding array<double>",
        )
        cand = spark.createDataFrame([(0, 1)], "query_id long, neighbor_id long")
        # the wrapper type varies (Py4JJavaError vs PythonException)
        # with the execution path — pin only the message
        with pytest.raises(Exception, match="non-finite embedding"):
            similarity.exact_rerank_topk(emb, cand, k=1, wire="binary").collect()

    def test_rerank_auto_wire_routes_wide_dims_to_binary(self, spark):
        """dim >= 128 auto-routes to the binary wire; results still match
        a numpy exact re-rank of the same candidates."""
        rng = np.random.default_rng(7)
        dim = 192
        V = rng.normal(size=(40, dim))
        V = V / np.linalg.norm(V, axis=1, keepdims=True)
        emb = spark.createDataFrame(
            [(i, [float(x) for x in V[i]]) for i in range(len(V))],
            "vec_id long, embedding array<double>",
        )
        got = similarity.lsh_topk(emb, k=2, dim=dim).toPandas()
        Q = np.floor(V * 1000).astype(np.int64)
        for _, r in got.head(25).iterrows():
            a, b = Q[int(r["query_id"])], Q[int(r["neighbor_id"])]
            assert r["dot_q"] == int(a @ b)
            want = int(np.floor(
                float(a @ b) / np.sqrt(float(a @ a) * float(b @ b)) * 1e6))
            assert r["cos_e6"] == want


class TestText:
    def test_quality_matches_python(self, spark):
        rows = [(0, "the cat sat on a mat"), (1, "zzz!!! 123 aaa")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = text.with_quality(df).toPandas().set_index("doc_id")
        s = rows[0][1]
        toks = s.split(" ")
        stop = sum(1 for w in toks if w in text.STOPWORDS)
        assert out.loc[0, "n_len"] == len(s)
        assert out.loc[0, "stop_ratio_e6"] == int(np.floor(stop / len(toks) * 1e6))
        alpha = sum(1 for ch in s if "a" <= ch <= "z")
        assert out.loc[0, "alpha_ratio_e6"] == int(np.floor(alpha / len(s) * 1e6))

    def test_langid_pred(self, spark):
        rows = [(0, "the fast query"), (1, "data row column table stuff"), (2, "xyzzy plugh")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = text.with_langid(df).toPandas().set_index("doc_id")
        assert out.loc[1, "pred_lang"] == "dat"
        assert out.loc[2, "pred_lang"] == "und"

    def test_fingerprint_deterministic_and_content_sensitive(self, spark):
        df = spark.createDataFrame([(0, "abc"), (1, "abc"), (2, "abd")], "doc_id long, text string")
        out = text.with_fingerprint(df).toPandas().set_index("doc_id")
        assert out.loc[0, "fingerprint"] == out.loc[1, "fingerprint"]
        assert out.loc[0, "fingerprint"] != out.loc[2, "fingerprint"]


class TestMultimodal:
    def test_feature_extraction_plumbing(self, spark):
        media = multimodal.synth_media_df(spark, 30)
        feats = multimodal.extract_features(media).toPandas()
        assert len(feats) == 30
        ok = feats[feats["ok"]]
        notok = feats[~feats["ok"]]
        # images (png/jpeg/fake), audio (wav), and the DIB + MJPEG
        # thirds of the video rows decode; only the mp4-stub third
        # refuses (and doesn't crash)
        assert len(ok) == 27
        assert len(notok) == 3
        assert set(notok["media_id"]) == {
            f"media_{i:05d}" for i in range(30)
            if i % 3 == 2 and (i // 3) % 3 == 2
        }
        assert all(len(f) == 8 for f in feats["feature"])

    def test_block_mean_resize_equals_bruteforce(self):
        """Independent check of the resize kernel: naive double-loop
        block mean over the same edge grid, several shapes including
        non-divisible sizes and non-square outputs. Without this, the
        media_resize driver oracle (which replays the SAME kernel)
        would be tautological."""
        rng = np.random.default_rng(11)
        for (h, w), (oh, ow) in [((16, 16), (8, 8)), ((24, 24), (8, 8)),
                                 ((17, 23), (5, 7)), ((8, 8), (8, 8)),
                                 ((3, 9), (4, 2))]:
            img = rng.integers(0, 255, (h, w)).astype(np.uint8)
            got = multimodal.block_mean_resize(img, oh, ow)
            ry = np.linspace(0, h, oh + 1).astype(int)
            rx = np.linspace(0, w, ow + 1).astype(int)
            want = np.zeros((oh, ow), dtype=np.uint8)
            for i in range(oh):
                for j in range(ow):
                    # empty row/col range (upsampling) -> nearest fill:
                    # the sample at the block-start index (the kernel's
                    # documented contract)
                    rr = slice(ry[i], ry[i + 1]) if ry[i] < ry[i + 1] else slice(ry[i], ry[i] + 1)
                    cc = slice(rx[j], rx[j + 1]) if rx[j] < rx[j + 1] else slice(rx[j], rx[j] + 1)
                    blk = img[rr, cc].astype(np.int64)
                    want[i, j] = blk.sum() // blk.size
            assert got.shape == (oh, ow) and got.dtype == np.uint8
            assert np.array_equal(got, want), (h, w, oh, ow)

    def test_resize_poison_pill_rows_do_not_kill_tasks(self, spark):
        """Corrupt bytes in a decodable format yield ok=false rows, not
        task failures (empty fake/gray8 buffer -> reshape ValueError)."""
        rows = [("poison", "image", "fake/gray8", bytearray(b""), 0, 0, 0, 0),
                ("fine", "image", "fake/gray8",
                 bytearray(bytes(range(16))), 4, 4, 0, 0)]
        media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
        out = {r["media_id"]: r for r in multimodal.resize_media(media, 2, 2).collect()}
        assert out["poison"]["ok"] is False
        assert out["fine"]["ok"] is True
        feats = {r["media_id"]: r for r in multimodal.extract_features(media).collect()}
        assert feats["poison"]["ok"] is False

    def test_frame_sampling_stride(self, spark):
        media = multimodal.synth_media_df(spark, 30)
        frames = multimodal.sample_frames(media, every_n=10).toPandas()
        vids = 30 // 3
        assert len(frames) == vids * 3  # 30 frames / stride 10
        assert sorted(frames["frame_idx"].unique()) == [0, 10, 20]


class TestPatternMatching:
    """Config-driven layer patterns (layer_pattern_manager.py parity):
    the distributed operator must equal the reference-faithful loop."""

    CONFIG = {
        "layer_pattern_config": {
            "location_patterns": {"delhi": ["delhi", "mosaic", "ncr"]},
            "terrain_patterns": {"elevation": ["elevation", "dem", "mosaic"]},
        },
        "fallback_patterns": ["mosaic", "composite"],
        "case_sensitive": False,
    }
    AVAILABLE = ["ncr_survey", "delhi_DEM", "global_mosaic", "city_composite"]

    def test_operator_equals_reference_loop(self, spark):
        from tiff_to_geojson_csv_json_format_converter_spark.operators import patterns

        requests = [
            "delhi_elevation",   # delhi pattern: 'delhi' in delhi_DEM? case-insensitive yes -> but ncr_survey (idx0) matches 'ncr' later in list; 'delhi' tried first per layer
            "ELEVATION_map",     # terrain pattern
            "unrelated_layer",   # fallback -> global_mosaic
            "nothing",           # fallback -> global_mosaic
        ]
        df = spark.createDataFrame(
            [(i, r) for i, r in enumerate(requests)], "req_id int, requested_layer string"
        )
        got = {
            r["req_id"]: r["matched_layer"]
            for r in patterns.match_layers(df, self.AVAILABLE, self.CONFIG).collect()
        }
        for i, req in enumerate(requests):
            want = patterns.match_layer(self.CONFIG, req, self.AVAILABLE)
            assert got.get(i) == want, f"{req}: {got.get(i)} != {want}"

    def test_no_match_rows_dropped(self, spark):
        from tiff_to_geojson_csv_json_format_converter_spark.operators import patterns

        cfg = {"layer_pattern_config": {"c": {"zz": ["zz"]}}, "fallback_patterns": [],
               "case_sensitive": False}
        df = spark.createDataFrame([(0, "nothing")], "req_id int, requested_layer string")
        assert patterns.match_layers(df, self.AVAILABLE, cfg).count() == 0
        assert patterns.match_layer(cfg, "nothing", self.AVAILABLE) is None

    def test_config_management_roundtrip(self):
        from tiff_to_geojson_csv_json_format_converter_spark.operators import patterns

        cfg = patterns.load_config()
        patterns.add_pattern(cfg, "location_patterns", "pune", ["pune", "mosaic"])
        assert patterns.match_layer(cfg, "pune_dem", ["x_pune_y"]) == "x_pune_y"
        patterns.remove_pattern(cfg, "location_patterns", "pune")
        patterns.remove_fallback(cfg, "mosaic")
        patterns.remove_fallback(cfg, "composite")
        assert patterns.match_layer(cfg, "pune_dem", ["x_pune_y"]) is None
        patterns.add_fallback(cfg, "pune")
        assert patterns.match_layer(cfg, "anything", ["x_pune_y"]) == "x_pune_y"


# ---------------------------------------------------------------------------
# A2 multi-root scan
# ---------------------------------------------------------------------------

def test_glob_to_like():
    from tiff_to_geojson_csv_json_format_converter_spark.sources import multiroot

    assert multiroot.glob_to_like("*.tif") == "%.tif"
    assert multiroot.glob_to_like("slope?.tif*") == "slope_.tif%"
    assert multiroot.glob_to_like("a_b%c") == "a\\_b\\%c"


def test_multi_root_scan_semantics(spark):
    from tiff_to_geojson_csv_json_format_converter_spark.sources import multiroot

    cat = spark.createDataFrame(
        [
            ("rootA", "rootA/slope_001.tif"),   # matches *.tif AND *slope*.tif*
            ("rootA", "rootA/notes.txt"),
            ("rootA", "rootA/b.tiff"),
            ("rootB", "rootB/zz.tif"),
            ("rootB", "rootB/aa.tif"),
            ("rootC", "rootC/ignored.tif"),     # root not searched
        ],
        "root string, path string",
    )
    out = multiroot.multi_root_scan(
        cat,
        roots=["rootB", "rootA", "missing"],
        patterns=["*.tif", "*.tiff", "*slope*.tif*"],
        per_root_cap=1,
        cap=5,
    ).collect()
    # rootB has priority 0 -> its lexicographically-first match first;
    # per-root cap keeps 1 per root; missing root contributes nothing;
    # the multi-pattern match of slope_001.tif appears at most once.
    assert [(r.root, r.path) for r in out] == [
        ("rootB", "rootB/aa.tif"),
        ("rootA", "rootA/b.tiff"),
    ]
    # global cap: without per-root cap, cap=3 keeps priority order head
    out2 = multiroot.multi_root_scan(
        cat, roots=["rootB", "rootA"], patterns=["*.tif*"], cap=3
    ).collect()
    assert [r.path for r in out2] == ["rootB/aa.tif", "rootB/zz.tif", "rootA/b.tiff"]


def test_ivf_distributed_training_exact_in_exhaustive_mode(spark):
    """Full-corpus Lloyd training: with n_probe == n_centroids the IVF
    result is exact top-k regardless of centroids — verifies the
    distributed trainer end-to-end against the brute-force oracle."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = similarity.ivf_topk(
        emb, k=3, n_centroids=4, n_probe=4, kmeans_iters=2, train="distributed"
    ).toPandas()
    want = similarity.brute_topk(emb, k=3).toPandas()
    key = lambda d: sorted(map(tuple, d[["query_id", "rank", "neighbor_id"]].to_numpy()))
    assert key(got) == key(want)


def _jaccard_corpus(name):
    if name == "adversarial":  # empty, sub-n, exact dups, near-dups, disjoint
        return [
            (0, "", "s"), (1, "ab", "s"), (2, "abcabc", "s"), (3, "abcabc", "s"),
            (4, "abcabd", "s"), (5, "xyzxyzxyz", "s"), (6, "abcxyz", "s"),
            (7, "aaaaaaaa", "s"), (8, "aaabaaab", "s"), (9, "the quick brown fox", "s"),
            (10, "the quick brown fax", "s"), (11, "zzzz", "t"),  # other block
            (12, "zzzz", "t"), (13, "abcabc", "t"),
        ]
    if name == "hot_shingle":  # one long substring, so its shingles are in every set
        hot, rng = "abcdefghijklmnopqrstuvwxyz0123456789", np.random.default_rng(7)
        return [(i, hot + " " + " ".join(rng.choice(BASE.split(), int(rng.integers(1, 12)))), "s")
                for i in range(24)]
    if name == "nulls":
        return [(0, "the quick brown fox", "s"), (1, "the quick brown fax", "s"),
                (2, None, "s"), (3, None, "s"), (4, "zzzz", None), (5, "zzzz", None),
                (6, None, None), (7, "the quick brown fox", "t"),
                (None, "the quick brown fox", "s")]
    # cross_bucket: one block of many near-dups, so their pairs span
    # documents of different hash buckets
    return [(i, BASE[: 40 + 3 * (i % 5)] + " " + str(i % 3), "s") for i in range(30)]


_BRUTEFORCE_CASES = [
    pytest.param(t, corpus, block_col,
                 id=str(t) if (corpus, block_col) == ("adversarial", "source")
                 else f"{corpus}-{block_col}-{t}")
    for corpus, block_col in [
        ("adversarial", "source"), ("adversarial", None), ("hot_shingle", "source"),
        ("nulls", "source"), ("nulls", None), ("cross_bucket", "source"),
    ]
    for t in (300_000, 500_000, 800_000)
]


@pytest.mark.parametrize("threshold_e6,corpus,block_col", _BRUTEFORCE_CASES)
def test_jaccard_pairs_equals_bruteforce(spark, threshold_e6, corpus, block_col):
    """The cell pass must reproduce the naive all-pairs answer exactly,
    with the oracle SQL's semantics: a null id, a null text or (when
    blocking) a null block is no document."""
    n = 3
    docs = _jaccard_corpus(corpus)
    frame = spark.createDataFrame(docs, "doc_id long, text string, source string")
    got = dedup.jaccard_pairs(frame, n=n, threshold_e6=threshold_e6, block_col=block_col).toPandas()
    got_set = {(r.doc_a, r.doc_b): (r.n_inter, r.n_union, r.jaccard_e6)
               for r in got.itertuples(index=False)}

    def shingle_set(t):
        return {t[i:i + n] for i in range(max(len(t) - n + 1, 1))}

    want = {}
    for i, (ida, ta, sa) in enumerate(docs):
        for idb, tb, sb in docs[i + 1:]:
            if None in (ida, idb, ta, tb):
                continue
            if block_col and (sa is None or sa != sb):
                continue
            A, B = shingle_set(ta), shingle_set(tb)
            inter = len(A & B)
            union = len(A | B)
            j_e6 = int(np.floor(inter / union * 1e6))
            if j_e6 >= threshold_e6:
                lo, hi = min(ida, idb), max(ida, idb)
                want[(lo, hi)] = (inter, union, j_e6)
    assert got_set == want, (sorted(got_set), sorted(want))
    if corpus == "cross_bucket":
        b = dedup._bucket("doc_id", dedup._n_buckets(spark))
        bucket = dict(frame.select("doc_id", b.alias("b")).collect())
        assert {bucket[a] != bucket[b] for a, b in want} == {True, False}


def test_null_text_is_no_document(spark):
    """A null text has no shingles, so it pairs with nothing, and with a
    block a null block pairs with nothing: jaccard_pairs equals the
    registered ngram_jaccard oracle SQL run by DuckDB, and
    minhash_lsh_pairs (no block) finds only the two real pairs."""
    import duckdb

    from tiff_to_geojson_csv_json_format_converter_spark.plans import entry_queries

    fox = BASE
    rows = [(1, "s", fox), (2, "s", fox + " x"), (3, "s", None), (4, "s", None),
            (5, None, "zzzz"), (6, None, "zzzz")]
    documents = pd.DataFrame(rows, columns=["doc_id", "source", "text"])
    con = duckdb.connect()
    con.register("documents", documents)
    want = sorted(con.execute(entry_queries.oracle_sql()["ngram_jaccard"]).fetchall())
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = sorted(tuple(r) for r in dedup.jaccard_pairs(
        docs, n=4, threshold_e6=300_000, block_col="source").collect())
    assert got == want and [r[:2] for r in want] == [(1, 2)]
    lsh = dedup.minhash_lsh_pairs(docs, n=4, num_hashes=64, bands=64, threshold_e6=300_000)
    assert sorted((r.doc_a, r.doc_b) for r in lsh.collect()) == [(1, 2), (5, 6)]


def test_jaccard_pairs_keep_ids_above_2_53(spark):
    """Pair ids above 2^53 must reach the verify kernel and the output
    exactly: float64 cannot hold 2^53 + 1 or 2^53 + 3."""
    ida, idb = 2**53 + 1, 2**53 + 3
    docs = spark.createDataFrame(
        [(ida, BASE), (idb, BASE + " again"), (7, "zzzz unrelated text")],
        "doc_id long, text string",
    )
    got = dedup.jaccard_pairs(docs, n=4, threshold_e6=500_000).collect()
    assert [(r.doc_a, r.doc_b) for r in got] == [(ida, idb)]
