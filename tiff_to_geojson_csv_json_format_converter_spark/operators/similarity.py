"""Similarity search over the embeddings table (array<float> column).

Every operator quantizes vectors to int64 (``floor(v*1000)``) so dot
products are EXACT integers, and scores a pair as
``FLOOR(dot / SQRT(f64(na) * f64(nb)) * 1e6)`` — order-independent,
engine-portable, and oracle-checkable. Each operator has one path:

- ``with_quantized``: the Catalyst form of the quantization (``qvec``
  plus its exact squared norm ``qnorm2``).
- ``brute_topk``: exact self top-k. The corpus is collected once and
  broadcast as a float64 matrix; each Arrow batch of queries is scored
  with one matmul and keeps its per-query top-k.
- ``brute_topk_blocked``: the same rows without the driver collect — a
  (query batch x corpus block) grid of local top-k cells, then a global
  window.
- ``cosine_pairs``: threshold near-dup pairs. ``broadcast`` matmuls each
  batch against the broadcast corpus; ``lsh`` is
  :func:`cosine_pairs_lsh`; ``auto`` picks ``lsh`` at high thresholds,
  otherwise counts the corpus and picks ``broadcast`` or
  :func:`cosine_pairs_blocked`.
- ``cosine_pairs_blocked``: hash-block Gram matrix, one exact matmul per
  block pair, nothing through the driver.
- ``cosine_pairs_lsh``: hyperplane-LSH bucket candidates, exact JVM
  verify.
- ``exact_rerank_topk``: exact re-rank of candidate pairs plus the
  per-query window, over the ``array`` (JVM) or ``binary`` (Arrow) wire.
- ``ivf_topk``: coarse centroid lists (sample or distributed k-means),
  then one grouped posting-list re-rank.
- ``lsh_topk``: hyperplane-LSH bucket candidates, then
  ``exact_rerank_topk`` on the wire the declared ``dim`` selects.

The shared kernels: :func:`_exact_scores` (guarded exact matmul and the
FLOOR score), :func:`_local_topk` (per-query selection),
:func:`_rank_topk` (global window), :func:`_lsh_signatures` (bucket
rows) and :func:`_jvm_exact_scores` (JVM verify joins).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_LOCAL_SCHEMA = "query_id long, neighbor_id long, dot_q long, cos_e6 long"
_TOPK_SCHEMA = _LOCAL_SCHEMA + ", rank int"
_TOPK_COLS = ["query_id", "neighbor_id", "dot_q", "cos_e6", "rank"]
_PAIRS_SCHEMA = "id_a long, id_b long, dot_q long, cos_e6 long"

# lsh_topk re-ranks on the binary wire from this declared dim up: below
# it the JVM zip_with dot is cheap, above it per-element array
# conversion across the candidate shuffle dominates (PLANS.md)
_BINARY_WIRE_MIN_DIM = 128


def with_quantized(df: DataFrame, vec_col: str = "embedding", scale: int = 1000) -> DataFrame:
    """Add int64-quantized vector + its exact squared norm (built-ins)."""
    q = F.transform(F.col(vec_col), lambda v: F.floor(v.cast("double") * scale).cast("long"))
    df = df.withColumn("qvec", q)
    norm2 = F.aggregate("qvec", F.lit(0).cast("long"), lambda acc, v: acc + v * v)
    return df.withColumn("qnorm2", norm2)


def _broadcast_corpus(df: DataFrame, id_col: str, vec_col: str, scale: int):
    """The quantized ``(id, qvec)`` frame, and its corpus collected once
    and broadcast as ``(ids, float64 matrix)`` — None for an empty
    corpus. float64 holds every quantized value exactly, so no batch
    converts the corpus again."""
    qdf = with_quantized(df, vec_col, scale).select(F.col(id_col).alias("id"), "qvec")
    corpus = qdf.toPandas()
    if len(corpus) == 0:
        return qdf, None
    sc = df.sparkSession.sparkContext
    M = np.stack(corpus["qvec"].to_numpy()).astype(np.float64)
    return qdf, (sc.broadcast(corpus["id"].to_numpy()), sc.broadcast(M))


def brute_topk(df: DataFrame, k: int = 5, id_col: str = "vec_id",
               vec_col: str = "embedding", scale: int = 1000) -> DataFrame:
    """Exact self top-k by quantized cosine. Corpus -> driver -> broadcast
    numpy matrix; queries stream through in Arrow batches (one matmul per
    batch). Ties broken by neighbor id ascending; self excluded."""
    qdf, corpus = _broadcast_corpus(df, id_col, vec_col, scale)
    if corpus is None:
        return df.sparkSession.createDataFrame([], _TOPK_SCHEMA)
    b_ids, b_M = corpus

    def topk(batches):
        ids, M = b_ids.value, b_M.value
        for pdf in batches:
            Q = np.stack(pdf["qvec"].to_numpy()).astype(np.float64)
            yield _local_topk(pdf["id"].to_numpy(), Q, ids, M, k)

    return qdf.mapInPandas(topk, _TOPK_SCHEMA)


def brute_topk_blocked(df: DataFrame, k: int = 5, id_col: str = "vec_id",
                       vec_col: str = "embedding", scale: int = 1000,
                       n_blocks: int = 4, n_qbatches: int | None = None) -> DataFrame:
    """Exact self top-k WITHOUT the driver collect — the shape that
    survives a corpus too large to broadcast (the :func:`brute_topk`
    baseline ships the whole matrix through the driver; fine to a few
    million rows, impossible at 10^9).

    Grid decomposition (the top-k analog of
    :func:`cosine_pairs_blocked`): queries hash into QB batches, corpus
    into B blocks; every (batch, block) cell is one group holding
    O(n/QB + n/B) packed rows, scored with ONE matmul; each group emits
    only its per-query local top-k (k rows per query per block — any
    global top-k neighbor lives in some block and is inside that
    block's local top-k under the same (cos desc, id asc) order, so
    the global window over the union is exact). Shuffle volume =
    corpus x QB + queries x B of int16-packed cells; nothing transits
    the driver; output is bit-identical to brute_topk (same quantize +
    IEEE scoring tree; asserted in tests and by the shared driver
    oracle)."""
    B = max(int(n_blocks), 1)
    QB = max(int(n_qbatches if n_qbatches is not None else n_blocks), 1)
    # ONE scan + ONE pack pass: both replica sets explode out of a
    # single concat of (qb, cb, side) structs — two union branches
    # would plan two independent subtrees and run the pack UDF (the
    # most expensive pre-shuffle pass) twice over the full input
    cb_own = F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).cast("int")
    qb_own = F.pmod(F.xxhash64(F.col(id_col)), F.lit(QB)).cast("int")
    grid = F.concat(
        F.transform(
            F.sequence(F.lit(0), F.lit(QB - 1)),
            lambda q: F.struct(q.cast("int").alias("qb"), cb_own.alias("cb"),
                               F.lit("c").alias("side")),
        ),
        F.transform(
            F.sequence(F.lit(0), F.lit(B - 1)),
            lambda c: F.struct(qb_own.alias("qb"), c.cast("int").alias("cb"),
                               F.lit("q").alias("side")),
        ),
    )
    rep = (
        df.select(
            F.col(id_col).alias("id"),
            _pack_vec_udf(scale)(F.col(vec_col)).alias("pvec"),
            F.explode(grid).alias("g"),
        )
        .select(F.col("g.qb").alias("qb"), F.col("g.cb").alias("cb"),
                F.col("g.side").alias("side"), "id", "pvec")
    )

    # ~2 tasks per core, capped at 2x the cell count: python tasks pay a
    # worker round-trip each (measured ~0.3-0.4s on this host), so both
    # unbounded 4x inflation and per-cell partitions waste wall-clock;
    # the kernel already tolerates co-located cells
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    local = rep.repartition(
        max(min(2 * n_parts, 2 * QB * B), 1), "qb", "cb"
    ).mapInPandas(_bucketed_kernel(["qb", "cb"], _side_cell_topk(k)), _LOCAL_SCHEMA)
    return _rank_topk(local, k)


def cosine_pairs(df: DataFrame, threshold_e6: int = 950_000, id_col: str = "vec_id",
                 vec_col: str = "embedding", scale: int = 1000,
                 mode: str = "auto", broadcast_max_rows: int = 1_000_000,
                 block_rows: int = 500_000,
                 lsh_route_threshold_e6: int = 900_000) -> DataFrame:
    """Embedding near-dup pairs: quantized cosine >= threshold, no
    cartesian product anywhere in the plan. Every emitted pair is
    EXACT-verified (no false positives in any mode); RECALL is
    mode-dependent: ``broadcast`` is exhaustive (recall 1), while the
    ``lsh`` route — the auto default at thresholds >= 0.9 — is
    candidate-based (recall >= 0.9988 per pair at cos 0.95 with the
    default tables; see :func:`cosine_pairs_lsh`). Callers needing
    guaranteed recall 1 at high thresholds call
    :func:`cosine_pairs_blocked` directly.

    An exact threshold join at moderate thresholds (the registered query
    runs 0.4, where qualifying pairs are NOT high-cosine planted dups, so
    no LSH family reaches recall 1) is inherently O(n^2) COMPUTE — the
    design question is where that quadratic work lives. A crossJoin puts
    it in the shuffle (n^2 rows over the wire: a hard 100 TB killer).

    - ``broadcast`` (small corpora): the int64-quantized matrix is
      collected once and broadcast; each Arrow batch of rows does ONE
      matmul against it and emits only qualifying pairs. Zero join, zero
      extra shuffle — but the corpus transits the driver.
    - ``lsh``: :func:`cosine_pairs_lsh`.
    - ``auto`` routes by threshold first: at genuine near-dup thresholds
      (``threshold_e6 >= lsh_route_threshold_e6``, default 0.9)
      qualifying pairs are rare and angularly tight, which is exactly
      where hyperplane-LSH candidate generation + exact verify does the
      same job with candidate-bounded (not n^2) compute — so auto routes
      to ``lsh`` without ever counting the corpus. Below the route
      threshold auto counts the corpus and picks ``broadcast`` while it
      fits under ``broadcast_max_rows``, else
      :func:`cosine_pairs_blocked` with B = ceil(n / block_rows) blocks
      (identical output, nothing through the driver).

    NOTE (laziness): the sub-threshold auto decision runs ``df.count()``
    at CALL time, executing the full upstream DAG once before the real
    job consumes it again. Cache ``df`` before calling with
    ``mode='auto'`` when the upstream is expensive, or pick the path
    explicitly (``broadcast``, ``lsh`` or :func:`cosine_pairs_blocked`)
    to keep the operator fully lazy.
    """
    if mode not in ("auto", "broadcast", "lsh"):
        raise ValueError(f"unknown mode {mode!r}")
    if mode == "auto" and threshold_e6 >= lsh_route_threshold_e6:
        import warnings

        warnings.warn(
            "cosine_pairs(mode='auto') routed to LSH (threshold_e6="
            f"{threshold_e6} >= {lsh_route_threshold_e6}): recall is "
            "probabilistic (>=0.998 at 0.95 by the banding math), not "
            "exhaustive. Pass mode='broadcast' or call "
            "cosine_pairs_blocked for exact pairs.",
            stacklevel=2,
        )
        mode = "lsh"
    if mode == "lsh":
        return cosine_pairs_lsh(
            df, threshold_e6, id_col=id_col, vec_col=vec_col, scale=scale
        )
    if mode == "auto":
        n = df.count()
        if n > broadcast_max_rows:
            return cosine_pairs_blocked(
                df, threshold_e6, id_col=id_col, vec_col=vec_col, scale=scale,
                n_blocks=max(1, -(-n // max(block_rows, 1))),
            )
    qdf, corpus = _broadcast_corpus(df, id_col, vec_col, scale)
    if corpus is None:
        return df.sparkSession.createDataFrame([], _PAIRS_SCHEMA)
    b_ids, b_M = corpus

    def pairs(batches):
        ids, M = b_ids.value, b_M.value
        for pdf in batches:
            Q = np.stack(pdf["qvec"].to_numpy()).astype(np.float64)
            qids = pdf["id"].to_numpy()
            dots, cos_e6 = _exact_scores(Q, M)
            keep = (cos_e6 >= threshold_e6) & (qids[:, None] < ids[None, :])
            r, c = np.nonzero(keep)
            yield pd.DataFrame({
                "id_a": qids[r], "id_b": ids[c],
                "dot_q": dots[r, c], "cos_e6": cos_e6[r, c],
            })

    return qdf.mapInPandas(pairs, _PAIRS_SCHEMA)


_WIRE_WIDTHS = {2: "<i2", 4: "<i4", 8: "<i8"}


def _pack_vec_udf(scale: int):
    """Pandas UDF: array<float> -> width-tagged BINARY cell.

    ``q = floor(float64(v) * scale)`` (the same IEEE expression tree as
    with_quantized's Catalyst form), then 1 header byte (2/4/8) + the
    ints at the narrowest width that holds the row's extremes — int16
    for unit-norm-ish embeddings at scale 1000. The binary wire is the
    measured 10x+ win over ``array`` cells for wide vectors: one opaque
    memcpy per cell instead of per-element UnsafeArrayData <-> Arrow
    conversion on both shuffle sides, at 4x fewer bytes than raw floats
    (PLANS.md 'Blocked cosine').

    Non-finite values (NaN/inf — real corpora have them) raise
    ValueError LOUDLY: floor(NaN) would cast to INT64_MIN and produce
    plausible-looking garbage dots. (The array wire's Catalyst cast
    turns the same element into NULL, nulling the pair's dot — either
    way the vector is unusable, but this path refuses instead of
    silently diverging from that.)"""

    @F.pandas_udf("binary")
    def pack(col: pd.Series) -> pd.Series:
        return pd.Series(_pack_rows(col, scale), dtype=object)

    return pack


def _pack_rows(col, scale: int) -> list:
    """The pack kernel body of :func:`_pack_vec_udf`, callable from any
    Arrow kernel that already holds the vectors (e.g. the IVF
    assignment pass packs in the same sweep instead of paying a second
    Arrow pass + join to attach vectors)."""
    out = []
    for v in col:
        q = np.floor(np.asarray(v, dtype=np.float64) * scale)
        if q.size and not np.isfinite(q).all():
            raise ValueError(
                "non-finite embedding value (NaN/inf) on the binary "
                "wire — clean the corpus or use wire='array'"
            )
        lo, hi = q.min() if q.size else 0.0, q.max() if q.size else 0.0
        if -32768.0 <= lo and hi <= 32767.0:
            out.append(b"\x02" + q.astype("<i2").tobytes())
        elif -2147483648.0 <= lo and hi <= 2147483647.0:
            out.append(b"\x04" + q.astype("<i4").tobytes())
        else:
            out.append(b"\x08" + q.astype("<i8").tobytes())
    return out


def _unpack_f64(col) -> np.ndarray:
    """Width-tagged int blobs -> ONE preallocated f64 matrix, row by
    row. One output allocation + row-sized temps (not a chain of
    block-sized stack/astype temps): on lazy-paging hosts
    (firecracker-style VMs) first-touch faults on GB-scale mmap'd
    temps dominate wall-clock ~40x over the arithmetic (measured:
    40 s vs 1 s for a 2 GB elementwise op). f64 holds every quantized
    value exactly, which is all the BLAS fast path needs."""
    vals = col.to_numpy()
    n = len(vals)
    if n == 0:
        return np.empty((0, 0), dtype=np.float64)
    d = (len(vals[0]) - 1) // vals[0][0]
    out = np.empty((n, d), dtype=np.float64)
    for i, v in enumerate(vals):
        out[i] = np.frombuffer(v, dtype=_WIRE_WIDTHS[v[0]], offset=1)
    return out


def _exact_scores(A: np.ndarray, Bm: np.ndarray, rowwise: bool = False):
    """The exact scoring block shared by every numpy kernel: quantized
    int dots ``dots`` and ``cos_e6 = FLOOR(dot / SQRT(f64(na) * f64(nb))
    * 1e6)`` — the same IEEE expression tree as the JVM verify and the
    SQL oracle. Dots and squared norms go through float64 BLAS while
    every product and partial sum fits the 53-bit integer window
    (qmax^2 * dim < 2^53 — then einsum/matmul and rint are exact),
    falling back to int64 otherwise. ONE implementation so the
    bit-equality contract between strategies cannot drift. ``rowwise``
    scores A[i]·Bm[i] (paired rows); otherwise the full A @ Bm.T Gram.
    Passing the SAME array as both sides reuses its norms."""
    qmax = max(float(np.abs(A).max()), float(np.abs(Bm).max()), 1.0)
    if qmax * qmax * A.shape[1] < 2.0**53:
        na = np.einsum("ij,ij->i", A, A)
        nb = na if Bm is A else np.einsum("ij,ij->i", Bm, Bm)
        dots_f = np.einsum("ij,ij->i", A, Bm) if rowwise else A @ Bm.T
        dots = np.rint(dots_f).astype(np.int64)
    else:
        Ai = A.astype(np.int64)
        Bi = Ai if Bm is A else Bm.astype(np.int64)
        na = np.einsum("ij,ij->i", Ai, Ai).astype(np.float64)
        nb = na if Bm is A else np.einsum("ij,ij->i", Bi, Bi).astype(np.float64)
        dots = np.einsum("ij,ij->i", Ai, Bi) if rowwise else Ai @ Bi.T
        dots_f = dots.astype(np.float64)
    denom = np.sqrt(na * nb) if rowwise else np.sqrt(na[:, None] * nb[None, :])
    return dots, np.floor(dots_f / denom * 1e6).astype(np.int64)


def _local_topk(qids: np.ndarray, Q: np.ndarray, cids: np.ndarray,
                C: np.ndarray, k: int) -> pd.DataFrame:
    """Each query's top-k among the corpus rows ``(cids, C)``: exact
    scores, self excluded, ordered by (cos_e6 desc, neighbor id asc),
    ranked from 1. The one per-query selector: the broadcast top-k
    emits it as is, the grid and IVF cells as the local top-k their
    global window re-ranks. Empty on either side yields no rows."""
    if len(qids) == 0 or len(cids) == 0:
        return pd.DataFrame({c: pd.Series(dtype="int32" if c == "rank" else "int64")
                             for c in _TOPK_COLS})
    dots, cos_e6 = _exact_scores(Q, C)
    rows, sels = [], []
    for r in range(len(qids)):
        cand = np.flatnonzero(cids != qids[r])
        sel = cand[np.lexsort((cids[cand], -cos_e6[r, cand]))[:k]]
        rows.append(np.full(len(sel), r))
        sels.append(sel)
    r, c = np.concatenate(rows), np.concatenate(sels)
    return pd.DataFrame({
        "query_id": qids[r].astype(np.int64),
        "neighbor_id": cids[c].astype(np.int64),
        "dot_q": dots[r, c],
        "cos_e6": cos_e6[r, c],
        "rank": np.concatenate([np.arange(1, len(s) + 1, dtype=np.int32) for s in sels]),
    })


def _side_cell_topk(k: int):
    """Group kernel over side-tagged packed rows (``side`` 'q' for
    queries, 'c' for corpus; ``id``, ``pvec``): the local top-k of each
    query in the group against the group's corpus rows."""

    def cell(pdf: pd.DataFrame) -> pd.DataFrame:
        qs = pdf[pdf["side"] == "q"]
        cs = pdf[pdf["side"] == "c"]
        return _local_topk(
            qs["id"].to_numpy(), _unpack_f64(qs["pvec"]),
            cs["id"].to_numpy(), _unpack_f64(cs["pvec"]), k,
        ).drop(columns="rank")

    return cell


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Global per-query top-k of scored pairs by (cos_e6 desc,
    neighbor_id asc) — exact over any union of local top-k's under the
    same order."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_e6"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*_TOPK_COLS)
    )


def _bucketed_kernel(keys: list, cell_fn):
    """Group delivery via repartition-on-key + mapInPandas with
    in-kernel bucketing, NOT groupBy().applyInPandas(): grouped-map
    materializes each group as one giant Arrow batch (it honors only
    maxRecordsPerBatch), which for GB-scale groups costs a fresh
    GB-sized JVM buffer per group — measured 2-5x slower than the
    streamed 4 MB batches mapInPandas uses for the same bytes.
    Hash-repartition guarantees every key group lands whole in exactly
    one partition; collisions can co-locate several groups in one task,
    so the kernel buffers only PACKED rows (object references) and
    releases each group after processing — per-task peak memory is the
    partition's packed bytes + ONE unpacked group, not every
    co-located group's matrices at once."""

    def kernel(batches):
        frames: dict = {}
        for pdf in batches:
            for key, sub in pdf.groupby(keys, sort=False):
                frames.setdefault(key, []).append(sub)
        for key in list(frames):
            chunks = frames.pop(key)  # release packed rows as we go
            pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
            yield cell_fn(pdf)

    return kernel


def _jvm_exact_scores(qdf: DataFrame, cand: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Candidate pairs ``(a_col, b_col)`` joined to both sides' quantized
    vectors (``qdf``: id, qvec, qnorm2) and scored JVM-side: the exact
    ``aggregate(zip_with(...))`` dot as ``dot_q`` and the FLOOR score as
    ``cos_e6`` — whole-stage codegen, no Python."""
    qa = qdf.select(F.col("id").alias(a_col), F.col("qvec").alias("va"),
                    F.col("qnorm2").alias("na"))
    qb = qdf.select(F.col("id").alias(b_col), F.col("qvec").alias("vb"),
                    F.col("qnorm2").alias("nb"))
    dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y),
                      F.lit(0).cast("long"), lambda acc, v: acc + v)
    return (
        cand.join(qa, a_col).join(qb, b_col)
        .withColumn("dot_q", dot)
        .withColumn(
            "cos_e6",
            F.floor(
                F.col("dot_q").cast("double")
                / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double"))
                * 1e6
            ).cast("long"),
        )
    )


def exact_rerank_topk(df: DataFrame, cand: DataFrame, k: int,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      scale: int = 1000, *, wire: str) -> DataFrame:
    """Exact quantized-cosine re-rank of candidate pairs + per-query
    top-k — the final stage of :func:`lsh_topk`. ``cand`` holds
    (query_id, neighbor_id) columns.

    ``wire`` ('array' or 'binary') picks how vectors reach the scoring
    join:

    - ``'array'``: int64 ``qvec`` arrays scored JVM-side with
      ``aggregate(zip_with(...))`` — whole-stage-codegen friendly and
      the right shape at small dims (the per-element lambda costs
      ~dim virtual calls per pair).
    - ``'binary'``: width-tagged int16/32/64 blobs (one opaque memcpy
      per cell across the shuffle) scored in one vectorized Arrow
      kernel — the wide-vector path: ``array`` cells pay per-element
      conversion on both shuffle sides, measured 10x+ slower at
      real embedding dims (PLANS.md 'Blocked cosine').

    Both wires floor-quantize BEFORE any transport, compute the
    identical IEEE expression tree
    ``FLOOR(dot / SQRT(f64(na) * f64(nb)) * 1e6)`` on exact integers,
    and are therefore bit-equal (asserted in tests/test_ops.py)."""
    if wire not in ("array", "binary"):
        raise ValueError(f"unknown wire {wire!r}")
    if wire == "binary":
        packed = df.select(
            F.col(id_col).alias("id"),
            _pack_vec_udf(scale)(F.col(vec_col)).alias("pvec"),
        )
        pa = packed.select(F.col("id").alias("query_id"), F.col("pvec").alias("pa"))
        pb = packed.select(F.col("id").alias("neighbor_id"), F.col("pvec").alias("pb"))
        joined = cand.join(pa, "query_id").join(pb, "neighbor_id")

        def score(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                dots, cos_e6 = _exact_scores(
                    _unpack_f64(pdf["pa"]), _unpack_f64(pdf["pb"]), rowwise=True
                )
                yield pd.DataFrame({
                    "query_id": pdf["query_id"].to_numpy().astype(np.int64),
                    "neighbor_id": pdf["neighbor_id"].to_numpy().astype(np.int64),
                    "dot_q": dots,
                    "cos_e6": cos_e6,
                })

        scored = joined.mapInPandas(score, _LOCAL_SCHEMA)
    else:
        qdf = with_quantized(df, vec_col, scale).select(
            F.col(id_col).alias("id"), "qvec", "qnorm2"
        )
        scored = _jvm_exact_scores(qdf, cand, "query_id", "neighbor_id")
    return _rank_topk(scored, k)


def cosine_pairs_blocked(df: DataFrame, threshold_e6: int = 950_000,
                         id_col: str = "vec_id", vec_col: str = "embedding",
                         scale: int = 1000, *, n_blocks: int) -> DataFrame:
    """Blocked-Gram-matrix exact cosine threshold pairs — the shape that
    survives a corpus too large for any single broadcast or driver
    collect.

    The corpus is hash-partitioned into B = ``n_blocks`` blocks
    (``pmod(xxhash64(id), B)``); every unordered pair of vectors lives
    in exactly one of the B(B+1)/2 unordered block pairs. Each vector
    row is replicated to the B block-pair groups it participates in
    (tagged side 'a'/'b', or 's' on the diagonal), and one group per
    block pair stacks its two bounded matrices, runs ONE exact integer
    matmul (float64 BLAS fast path, see _exact_scores), and emits only
    qualifying (min_id, max_id) pairs — each produced exactly once.

    Cost model: shuffle volume = corpus x B (each row to B groups),
    per-task memory = 2 blocks = O(2 * n / B * dim), parallelism =
    B(B+1)/2 groups. Nothing transits the driver; there is no broadcast,
    no cartesian, and no collect anywhere in the plan (asserted in
    tests/test_plans.py). Output is bit-identical to the broadcast path:
    the kernel's ``floor(float64(v) * scale)`` is the same IEEE
    expression tree as with_quantized's Catalyst form (element widths
    are preserved by the pack step, so float->double stays exact).

    Wire format: vectors are quantized ONCE upstream of the replicating
    explode (``q = floor(float64(v) * scale)``, the same IEEE expression
    tree as everywhere else) and cross the shuffle as width-tagged
    BINARY cells — 1 header byte (2/4/8) + the ints at the narrowest
    width that holds the block's extremes (int16 for unit-norm-ish
    embeddings at scale 1000). Two reasons, both measured on this class
    of pipeline: (a) ``array<float>`` cells pay per-element
    UnsafeArrayData <-> Arrow conversion on both shuffle sides — 10x+
    slower than the same bytes as one opaque binary memcpy; (b) int16
    packing is 4x fewer wire bytes than the raw floats and 8x fewer
    than shipping int64 ``qvec`` arrays. The pack/unpack passes are
    linear and shuffle-free; exactness is untouched because the floor
    happens before the wire and the ints ride exactly.
    """
    B = int(n_blocks)
    pack = _pack_vec_udf(scale)

    rep = (
        df.select(F.col(id_col).alias("id"), pack(F.col(vec_col)).alias("vec"))
        .withColumn("b", F.pmod(F.xxhash64(F.col("id")), F.lit(B)).cast("int"))
        .withColumn("o", F.explode(F.sequence(F.lit(0), F.lit(B - 1))))
        .withColumn("bi", F.least("b", "o"))
        .withColumn("bj", F.greatest("b", "o"))
        .withColumn(
            "side",
            F.when(F.col("b") < F.col("o"), F.lit("a"))
            .when(F.col("b") > F.col("o"), F.lit("b"))
            .otherwise(F.lit("s")),
        )
        .select("bi", "bj", "side", "id", "vec")
    )
    out_cols = ["id_a", "id_b", "dot_q", "cos_e6"]

    def block_pair(pdf: pd.DataFrame) -> pd.DataFrame:
        diag = (pdf["side"] == "s").any()
        a = pdf if diag else pdf[pdf["side"] == "a"]
        b = pdf if diag else pdf[pdf["side"] == "b"]
        if len(a) == 0 or len(b) == 0:
            return pd.DataFrame({c: pd.Series(dtype="int64") for c in out_cols})
        A = _unpack_f64(a["vec"])
        # the same array twice on the diagonal reuses its norms
        dots, cos_e6 = _exact_scores(A, A if diag else _unpack_f64(b["vec"]))
        ida = a["id"].to_numpy()
        idb = b["id"].to_numpy()
        keep = cos_e6 >= threshold_e6
        if diag:
            # diagonal block: both sides are the same set — dedupe by id order
            keep &= ida[:, None] < idb[None, :]
        r, c = np.nonzero(keep)
        # off-diagonal blocks hold DISJOINT id sets, so (min, max) ordering
        # keeps each unordered pair exactly once without dropping any
        return pd.DataFrame({
            "id_a": np.minimum(ida[r], idb[c]),
            "id_b": np.maximum(ida[r], idb[c]),
            "dot_q": dots[r, c],
            "cos_e6": cos_e6[r, c],
        })

    # group delivery via _bucketed_kernel (see its docstring for the
    # grouped-map-vs-mapInPandas memory discipline); ~2 tasks per core,
    # capped at 2x the group count — python tasks cost a worker
    # round-trip each, and the kernel tolerates co-located groups
    n_groups = B * (B + 1) // 2
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    return rep.repartition(
        max(min(2 * n_parts, 2 * n_groups), 1), "bi", "bj"
    ).mapInPandas(_bucketed_kernel(["bi", "bj"], block_pair), _PAIRS_SCHEMA)


def _lsh_signatures(qdf: DataFrame, n_tables: int, n_planes: int, seed: int,
                    dim: int | None = None) -> DataFrame:
    """``(id, table, bucket)`` rows of ``qdf``'s ``(id, qvec)``: the
    sign bits of ``qvec . plane`` against :func:`lsh_planes_int` planes
    (exact int64 dots, every table in one matmul), packed per table.
    The planes are built from the declared ``dim`` or, without one,
    lazily in the kernel from the first batch's width — no driver job
    at call time. A vector of another width raises ValueError."""
    declared = lsh_planes_int(n_tables, n_planes, dim, seed) if dim else None
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    def buckets(batches):
        P = declared
        for pdf in batches:
            V = np.stack(pdf["qvec"].to_numpy()).astype(np.int64)
            ids = pdf["id"].to_numpy().astype(np.int64)
            if P is None:
                P = lsh_planes_int(n_tables, n_planes, V.shape[1], seed)
            d = P.shape[2]
            if V.shape[1] != d:
                raise ValueError(
                    f"LSH dim {d} does not match the vector width {V.shape[1]}"
                )
            bits = (V @ P.reshape(-1, d).T) > 0  # (rows, tables*planes)
            vals = (
                bits.reshape(len(ids), n_tables, n_planes).astype(np.int64) * weights
            ).sum(axis=2)  # (rows, tables)
            yield pd.DataFrame({
                "id": np.repeat(ids, n_tables),
                "table": np.tile(np.arange(n_tables, dtype=np.int32), len(ids)),
                "bucket": vals.ravel(),
            })

    return qdf.select("id", "qvec").mapInPandas(buckets, "id long, table int, bucket long")


def cosine_pairs_lsh(df: DataFrame, threshold_e6: int = 950_000,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     scale: int = 1000, n_tables: int = 16, n_planes: int = 10,
                     seed: int = 42, dim: int | None = None) -> DataFrame:
    """High-threshold near-dup pairs via hyperplane-LSH candidates +
    EXACT quantized-cosine verify — the default routing for
    ``cosine_pairs(mode='auto')`` at thresholds >= 0.9.

    Why: at near-dup thresholds on 10^9 vectors, both exact strategies
    (broadcast matmul, blocked Gram) spend O(n^2) COMPUTE to keep a
    handful of pairs. Qualifying pairs there are angularly tight
    (cos >= 0.9 means angle <= 25.8 deg), which is the regime where
    random-hyperplane bucketing concentrates them into shared buckets:
    candidate generation becomes ``n_tables`` equi-joins on
    (table, bucket) — shuffle and compute bounded by bucket sizes, no
    all-pairs anything, no explode fan-out (plan-asserted in
    tests/test_plans.py).

    Exactness: every CANDIDATE pair is verified with the identical
    integer quantized dot + FLOOR(cos*1e6) expression tree as the
    broadcast/blocked paths, so no false positives ever. Recall is
    probabilistic (1 - (1 - p^n_planes)^n_tables with
    p = 1 - theta/pi): with the defaults (16 tables x 10 planes),
    >= 0.9988 per pair at cos 0.95 and >= 1 - 2e-7 at cos 0.99 —
    deterministic for a fixed seed, and verified equal to the blocked
    path on planted dups in tests. Callers needing guaranteed recall 1
    at these thresholds must pay the quadratic and use
    :func:`cosine_pairs_blocked`.

    Fully lazy: when ``dim`` is not given, the (seeded, deterministic)
    plane tensor is materialized inside the signature kernel from the
    first batch's vector width — no driver-side job runs at call time.
    """
    qdf = with_quantized(df, vec_col, scale).select(
        F.col(id_col).alias("id"), "qvec", "qnorm2"
    )
    sig = _lsh_signatures(qdf, n_tables, n_planes, seed, dim)
    a = sig.select(F.col("id").alias("id_a"), "table", "bucket")
    b = sig.select(F.col("id").alias("id_b"), "table", "bucket")
    cand = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates()
    )
    return (
        _jvm_exact_scores(qdf, cand, "id_a", "id_b")
        .filter(F.col("cos_e6") >= threshold_e6)
        .select("id_a", "id_b", "dot_q", "cos_e6")
    )


def spherical_kmeans_distributed(df: DataFrame, n_centroids: int, iters: int,
                                 id_col: str, vec_col: str):
    """Distributed spherical k-means: Lloyd iterations as DataFrame jobs.

    Per iteration: broadcast centroids -> one Arrow pass emits per-BATCH
    partial sums (centroid, sum_vec, n) -> element-wise array reduction
    per centroid (``aggregate``/``zip_with``, pure JVM) -> tiny
    (n_centroids x dim) collect -> renormalize. Shuffle volume is
    O(batches x centroids x dim), never O(rows); this trains on the FULL
    corpus where the sample trainer caps at 4096 rows. Init is the first
    n_centroids DISTINCT vectors by id (duplicate init vectors tie every
    argmax to the lowest index, permanently starving the duplicates);
    clusters that receive no points are reseeded from a deterministic
    perturbation of the largest cluster's centroid, so the effective
    codebook never silently shrinks.
    """
    import numpy as np

    # over-fetch so duplicate vectors can be skipped deterministically;
    # ESCALATE the window when a duplicate-heavy prefix (near-dup shards
    # sorted by ingest id) yields too few distinct directions — but CAP
    # the escalation: init must stay O(bounded) driver memory (the
    # function's own guarantee), so beyond the cap the perturbation
    # padding below is the documented fallback, repaired per-iteration
    # by the empty-cluster reseed
    limit = max(4 * n_centroids, 64)
    max_fetch = max(64 * n_centroids, 65_536)
    seen: list = []
    while True:
        init = df.select(id_col, vec_col).orderBy(id_col).limit(limit).toPandas()
        V0 = np.stack(init[vec_col].to_numpy()).astype(np.float64)
        V0 = V0 / np.maximum(np.linalg.norm(V0, axis=1, keepdims=True), 1e-12)
        seen = []
        for v in V0:
            if not any(np.array_equal(v, s) for s in seen):
                seen.append(v)
            if len(seen) == n_centroids:
                break
        if len(seen) >= n_centroids or len(init) < limit or limit >= max_fetch:
            break  # enough distinct, corpus exhausted, or cap reached
        limit = min(limit * 8, max_fetch)
    C = np.stack(seen)
    dim = C.shape[1]
    while len(C) < n_centroids:
        # corpus has fewer distinct directions than centroids: pad with
        # deterministic perturbations (renormalized) of the first vector
        e = np.zeros(dim)
        e[len(C) % dim] = 1e-4
        pad = C[0] + e
        C = np.vstack([C, pad / np.linalg.norm(pad)])
    spark = df.sparkSession
    for _ in range(iters):
        b_C = spark.sparkContext.broadcast(C)

        def partials(batches):
            CC = b_C.value
            for pdf in batches:
                X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
                assign = np.argmax(Xn @ CC.T, axis=1)
                rows = []
                for c in np.unique(assign):
                    m = Xn[assign == c]
                    rows.append((int(c), m.sum(axis=0).tolist(), len(m)))
                yield pd.DataFrame(rows, columns=["centroid", "sum_vec", "n"])

        parts = df.select(id_col, vec_col).mapInPandas(
            partials, "centroid int, sum_vec array<double>, n long"
        )
        zero = F.array([F.lit(0.0)] * dim)
        agg = (
            parts.groupBy("centroid")
            .agg(
                F.aggregate(
                    F.collect_list("sum_vec"), zero,
                    lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
                ).alias("sum_vec"),
                F.sum("n").alias("n"),
            )
            .collect()
        )
        b_C.unpersist()
        counts = np.zeros(len(C), dtype=np.int64)
        biggest_sum = None
        for r in agg:
            s = np.asarray(r["sum_vec"], dtype=np.float64)
            nrm = np.linalg.norm(s)
            counts[r["centroid"]] = r["n"]
            if nrm > 1e-12:
                C[r["centroid"]] = s / nrm
            if biggest_sum is None or r["n"] > biggest_sum[0]:
                biggest_sum = (r["n"], s)
        # reseed clusters that received no points: a deterministic
        # perturbation of the LARGEST cluster's (unnormalized) mean —
        # next iteration it peels points off that cluster instead of
        # freezing a stale centroid forever
        if biggest_sum is not None:
            for c in np.flatnonzero(counts == 0):
                e = np.zeros(dim)
                e[int(c) % dim] = 1e-3 * (1 + int(c) // dim)
                v = biggest_sum[1] / max(np.linalg.norm(biggest_sum[1]), 1e-12) + e
                C[c] = v / np.linalg.norm(v)
    return C


def ivf_topk(df: DataFrame, k: int = 5, n_centroids: int = 16, n_probe: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding", seed: int = 42,
             kmeans_iters: int = 3, train: str = "sample") -> DataFrame:
    """IVF (inverted-file) approximate top-k: vectors are assigned to the
    nearest of ``n_centroids`` coarse centroids; each query probes its
    ``n_probe`` nearest centroid lists and exact-reranks only those
    candidates.

    The ``n_probe=10`` default is chosen from the measured recall/probe
    curve on the sf0.1 bench embeddings (recall@5 = 0.35/0.55/0.80/0.84/
    0.88/1.0 at n_probe 2/4/8/9/10/16): a recall-sensitive training
    pipeline should get >= 0.8 recall out of the box WITH margin (the
    curve's knee sits right at 8, so 8 would gate at ~0.80 exactly);
    callers tune DOWN for speed once they've measured their own corpus.

    ``train='sample'`` (default): deterministic driver-side spherical
    k-means on a bounded 4096-row sample — cheap, reproducible, fine for
    coarse quantization. ``train='distributed'``: full-corpus Lloyd
    iterations as DataFrame jobs (see spherical_kmeans_distributed) —
    the 10^9-vector path. Recall/exactness properties are identical
    either way (probing is what bounds recall; with
    n_probe == n_centroids the result is exact regardless of training).

    The re-rank is grouped by posting list: the assignment Arrow pass
    emits each vector once as a packed binary member row of its own
    list plus ``n_probe`` packed query replicas; one kernel per
    (list, query-sub-bucket) scores the (queries x members) cell with
    ONE exact matmul and emits only its per-query local top-k, so
    vectors cross the shuffle O(n * (1 + n_probe)) times instead of
    once per candidate PAIR (n * n_probe * avg_list_len), and the
    global window ranks n * n_probe * k rows instead of every
    candidate. Any global top-k neighbor lives in exactly one probed
    list and survives that list's local top-k under the same
    (cos desc, id asc) order, so the result is the exact re-rank of
    every probed candidate (same quantize + IEEE scoring tree; asserted
    in tests).
    """
    if train == "distributed":
        C = spherical_kmeans_distributed(df, n_centroids, kmeans_iters, id_col, vec_col)
    else:
        sample = df.select(id_col, vec_col).limit(4096).toPandas()
        V = np.stack(sample[vec_col].to_numpy()).astype(np.float64)
        V = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
        rng = np.random.default_rng(seed)
        C = V[rng.choice(len(V), size=min(n_centroids, len(V)), replace=False)]
        for _ in range(kmeans_iters):  # spherical k-means, deterministic
            assign = np.argmax(V @ C.T, axis=1)
            for c in range(len(C)):
                m = V[assign == c]
                if len(m):
                    mean = m.mean(axis=0)
                    C[c] = mean / max(np.linalg.norm(mean), 1e-12)
    return _ivf_grouped_rerank(df, C, k, n_probe, id_col, vec_col)


def _ivf_grouped_rerank(df: DataFrame, C: np.ndarray, k: int, n_probe: int,
                        id_col: str, vec_col: str, scale: int = 1000) -> DataFrame:
    """The IVF re-rank over centroids ``C``: each vector's member list is
    its nearest centroid, its probed lists the ``n_probe`` nearest; one
    scoring cell per (posting list, query sub-bucket), local top-k, then
    the global window. See :func:`ivf_topk`'s docstring for the cost
    model.

    Query rows are sub-bucketed ``id % S`` with members replicated to
    every sub-bucket so one hot list spreads over S tasks; S adapts to
    the session's parallelism (S=1 once n_centroids >= 2*cores, the
    100 TB regime where lists outnumber tasks anyway)."""
    spark = df.sparkSession
    b_C = spark.sparkContext.broadcast(C)
    n_centroids = len(C)
    n_parts = spark.sparkContext.defaultParallelism
    S = max(1, -(-2 * n_parts // max(n_centroids, 1)))

    def assign_pack(batches):
        CC = b_C.value
        for pdf in batches:
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            order = np.argsort(-(Xn @ CC.T), axis=1)
            ids = pdf[id_col].to_numpy().astype(np.int64)
            packed = _pack_rows(pdf[vec_col], scale)
            npb = min(n_probe, order.shape[1])
            out = {"side": [], "list_id": [], "sub": [], "id": [], "pvec": []}
            for i in range(len(ids)):
                own = int(order[i, 0])
                for s in range(S):  # member row -> every sub-bucket
                    out["side"].append("c")
                    out["list_id"].append(own)
                    out["sub"].append(s)
                    out["id"].append(int(ids[i]))
                    out["pvec"].append(packed[i])
                qs = int(ids[i]) % S
                for j in range(npb):  # query replica per probed list
                    out["side"].append("q")
                    out["list_id"].append(int(order[i, j]))
                    out["sub"].append(qs)
                    out["id"].append(int(ids[i]))
                    out["pvec"].append(packed[i])
            yield pd.DataFrame(out)

    rep = df.select(id_col, vec_col).mapInPandas(
        assign_pack, "side string, list_id int, sub int, id long, pvec binary"
    )
    local = rep.repartition(
        max(min(2 * n_parts, n_centroids * S), 1), "list_id", "sub"
    ).mapInPandas(_bucketed_kernel(["list_id", "sub"], _side_cell_topk(k)), _LOCAL_SCHEMA)
    return _rank_topk(local, k)


def lsh_planes_int(n_tables: int = 4, n_planes: int = 16, dim: int = 64,
                   seed: int = 42, scale: int = 1000) -> np.ndarray:
    """Seeded random hyperplanes, QUANTIZED to int64 (floor(p*scale)) so
    the sign test ``qvec . plane > 0`` is exact integer arithmetic —
    bit-reproducible across engines (the DuckDB oracle replays the whole
    LSH algorithm from these same literals)."""
    rng = np.random.default_rng(seed)
    planes = rng.normal(size=(n_tables, n_planes, dim))
    return np.floor(planes * scale).astype(np.int64)


def lsh_topk(df: DataFrame, k: int = 5, n_planes: int = 16, id_col: str = "vec_id",
             vec_col: str = "embedding", dim: int = 64, seed: int = 42,
             n_tables: int = 4) -> DataFrame:
    """Approximate top-k: random-hyperplane signatures (n_tables
    independent tables of n_planes bits, integer-quantized planes x
    integer-quantized vectors — fully deterministic), candidates =
    bucket collisions in any table, exact quantized-cosine re-rank.
    Recall grows with n_tables; all joins are equi-joins on
    (table, bucket). ``dim`` must be the vectors' width: it sizes the
    planes and picks the re-rank wire (binary from dim 128) without a
    probe job; a vector of another width raises ValueError."""
    qdf = with_quantized(df, vec_col).select(F.col(id_col).alias("id"), "qvec")
    sig = _lsh_signatures(qdf, n_tables, n_planes, seed, dim)
    a = sig.select(F.col("id").alias("query_id"), "table", "bucket")
    b = sig.select(F.col("id").alias("neighbor_id"), "table", "bucket")
    cand = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates()
    )
    wire = "binary" if dim >= _BINARY_WIRE_MIN_DIM else "array"
    return exact_rerank_topk(df, cand, k, id_col=id_col, vec_col=vec_col, wire=wire)
