"""Deduplication operators for the documents table.

Four families, each a first-class engine operator:

- exact:      md5 content hash -> groupBy (one shuffle; map-side combine)
- n-gram Jaccard: exact set similarity via an inverted shingle index
  (explode -> equi-join on (block, shingle) -> group by pair). The
  blocking column bounds the join fan-out at scale.
- MinHash+LSH: signature pandas UDF -> band/bucket equi-join ->
  candidate pairs verified with exact Jaccard (the scale path: no
  pairwise work outside colliding buckets).
- SimHash: 64-bit token-majority hash; Hamming-<=r pairs found by the
  pigeonhole band trick ((r+1) bands, equi-join per band).

All shingle/token expansion uses built-in sequence/transform/explode
(JVM codegen); only the signature computations are (Arrow-batched)
pandas UDFs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_P61 = (1 << 61) - 1


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct content with the
    minimal id as keeper and the duplicate count."""
    return (
        df.withColumn("content_hash", F.md5(F.col(text_col)))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("n_copies"),
        )
    )


def shingles(df: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text",
             extra_cols: tuple = ()) -> DataFrame:
    """Distinct character n-gram shingles per doc — pure built-ins:
    sequence -> transform(substring) -> array_distinct -> explode."""
    arr = F.expr(
        f"array_distinct(transform(sequence(1, greatest(length({text_col}) - {n - 1}, 1)),"
        f" i -> substr({text_col}, i, {n})))"
    )
    return df.select(id_col, *extra_cols, F.explode(arr).alias("shingle"))


class CacheScope:
    """Owner-managed lifetime for multi-consumer cached intermediates.

    Operators that cache a relation consumed several times downstream
    (``jaccard_pairs``'s per-doc prefix table) register it here instead
    of leaking a session-lifetime cache; the owner releases everything
    at once::

        with CacheScope() as scope:
            pairs = jaccard_pairs(docs, scope=scope).collect()
        # all caches registered by the call are unpersisted here

    Re-entrant and idempotent; usable as a plain object too
    (call :meth:`release` explicitly, e.g. from a finally block).
    """

    def __init__(self):
        self._dfs: list[DataFrame] = []

    def cache(self, df: DataFrame) -> DataFrame:
        df = df.cache()
        self._dfs.append(df)
        return df

    def release(self) -> None:
        while self._dfs:
            self._dfs.pop().unpersist()

    def __enter__(self) -> "CacheScope":
        return self

    def __exit__(self, *exc) -> bool:
        self.release()
        return False


def _verify_jaccard_blocked(cand: DataFrame, sets_df: DataFrame,
                            threshold_e6: int, n_docs: int,
                            block_rows: int = 500_000) -> DataFrame:
    """Exact Jaccard verification of candidate pairs against per-doc
    distinct-shingle sets, as a BLOCK-PAIR grouped Arrow kernel.

    Why not the per-pair ``array_intersect`` join: Spark's ArrayIntersect
    rebuilds a hash set of one operand per ROW, so verifying 540k
    candidates against ~176-element sets costs ~95M boxed hash inserts —
    measured ~5s of ngram_jaccard's 6s at sf0.1 while the joins
    themselves cost ~1s. Here each doc's set crosses the shuffle B times
    (its hash bucket meets every other bucket once), pairs cross once as
    two ids, and one kernel per unordered bucket pair sorts each set
    once then counts intersections with vectorized ``searchsorted``
    (one call per doc_a over its concatenated partners).

    Scale shape (same proof as cosine_pairs_blocked): per-task memory is
    two buckets of sets (bounded by ``block_rows``), no broadcast, no
    driver collect, everything equi-keyed on (bi, bj). B additionally
    floors at ~sqrt(2 * parallelism) so small corpora still spread over
    the cores. Output is bit-identical to the array_intersect form: the
    same integer counts feed the same FLOOR(ni/nu*1e6) IEEE tree.

    ``cand``: (doc_a, doc_b) — already deduplicated. ``sets_df``:
    (doc_id, sh_set array<long>) with one row per doc, sets distinct.
    """
    from .similarity import _bucketed_kernel

    spark = cand.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    b_floor = int(np.ceil(np.sqrt(2 * max(n_parts, 1))))
    B = max(-(-max(n_docs, 1) // max(block_rows, 1)), b_floor, 1)
    id_t = cand.schema["doc_a"].dataType.simpleString()

    # the sets ride the B-way replication shuffle AND the Arrow boundary
    # as ONE binary memcpy per row: as array<long> cells the same bytes
    # pay per-element UnsafeArrayData<->Arrow conversion on both sides —
    # measured 14.8s of pure delivery (no-op kernel) at 4x vs <2s packed
    # (the engine's standing binary-wire rule, PLANS.md 'Blocked
    # cosine'). Shingle hashes are full-range int64, so the blob is
    # fixed-width '<i8' with no width tag.
    sets_id_col = sets_df.columns[0]

    def pack_sets(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "doc_a": pdf[sets_id_col],
                "blob": [np.asarray(a, dtype=np.int64).tobytes()
                         for a in pdf["sh_set"].to_numpy()],
            })

    packed = sets_df.mapInPandas(pack_sets, f"doc_a {id_t}, blob binary")
    ba = F.pmod(F.xxhash64("doc_a"), F.lit(B)).cast("int")
    bb = F.pmod(F.xxhash64("doc_b"), F.lit(B)).cast("int")
    rep_pairs = cand.select(
        F.least(ba, bb).alias("bi"), F.greatest(ba, bb).alias("bj"),
        "doc_a", "doc_b",
        F.lit(None).cast("binary").alias("blob"),
    )
    # set rows repeat their own id as doc_b (the kernel tells them apart
    # by the blob): a null there would make pandas read the whole doc_b
    # column as float64 and corrupt ids above 2^53
    rep_sets = (
        packed
        .withColumn("b", F.pmod(F.xxhash64("doc_a"), F.lit(B)).cast("int"))
        .withColumn("o", F.explode(F.sequence(F.lit(0), F.lit(B - 1))))
        .select(
            F.least("b", "o").alias("bi"), F.greatest("b", "o").alias("bj"),
            "doc_a", F.col("doc_a").alias("doc_b"), "blob",
        )
    )
    out_schema = (f"doc_a {id_t}, doc_b {id_t}, n_inter long, "
                  "n_union long, jaccard_e6 long")
    out_cols = ["doc_a", "doc_b", "n_inter", "n_union", "jaccard_e6"]

    def cell(pdf: pd.DataFrame) -> pd.DataFrame:
        # Fully batched intersection counting. An earlier version looped
        # per doc_a with per-iteration fromiter/concatenate/searchsorted;
        # its ~30-50us fixed cost per doc_a scaled with docs x groups and
        # dominated at 4x input (measured 19s vs ~8s for the JVM
        # array_intersect). This version does ONE vocab remap + ONE
        # element gather per kernel group, then a tight per-doc_a loop of
        # bitmap set / gather / reduceat — the per-element work is a
        # direct O(1) bitmap probe (no log factor) and the loop body is
        # ~6 numpy calls on views.
        is_set = pdf["blob"].notna().to_numpy()
        prows = pdf[~is_set]
        if not len(prows):
            return pd.DataFrame({c: [] for c in out_cols})
        srows = pdf[is_set]
        docs = srows["doc_a"].to_numpy()
        set_arrs = [np.frombuffer(b, dtype="<i8") for b in srows["blob"].to_numpy()]
        lens = np.fromiter((len(a) for a in set_arrs), dtype=np.int64,
                           count=len(set_arrs))
        flat = np.concatenate(set_arrs) if set_arrs else np.empty(0, np.int64)
        vocab = np.unique(flat)
        codes = np.searchsorted(vocab, flat).astype(np.int32)
        offs = np.concatenate([[0], np.cumsum(lens)])
        doc2i = {d: i for i, d in enumerate(docs)}
        pa = prows["doc_a"].to_numpy()
        pb = prows["doc_b"].to_numpy()
        order = np.argsort(pa, kind="stable")
        pa_s, pb_s = pa[order], pb[order]
        pai = np.fromiter((doc2i[d] for d in pa_s), dtype=np.int64, count=len(pa_s))
        pbi = np.fromiter((doc2i[d] for d in pb_s), dtype=np.int64, count=len(pb_s))
        # gather every pair's partner-set codes in one pass (grouped
        # arange over the per-pair slice ranges)
        pl = lens[pbi]
        p_ends = np.cumsum(pl)
        p_starts = p_ends - pl
        within = np.arange(p_ends[-1], dtype=np.int64) - np.repeat(p_starts, pl)
        elem_codes = codes[np.repeat(offs[pbi], pl) + within]
        # doc_a run bounds over the sorted pairs
        bounds = np.flatnonzero(pa_s[1:] != pa_s[:-1]) + 1
        r_starts = np.concatenate([[0], bounds])
        r_stops = np.concatenate([bounds, [len(pa_s)]])
        mask = np.zeros(len(vocab), dtype=bool)
        ni_all = np.empty(len(pa_s), dtype=np.int64)
        for s, e in zip(r_starts.tolist(), r_stops.tolist()):
            ai = pai[s]
            acodes = codes[offs[ai]:offs[ai + 1]]
            mask[acodes] = True
            hit = mask[elem_codes[p_starts[s]:p_ends[e - 1]]]
            ni_all[s:e] = np.add.reduceat(
                hit.astype(np.int64), p_starts[s:e] - p_starts[s])
            mask[acodes] = False
        nu_all = lens[pai] + pl - ni_all
        # the SAME IEEE expression tree as the SQL oracle:
        # FLOOR(CAST(ni AS DOUBLE) / CAST(nu AS DOUBLE) * 1e6)
        j_all = np.floor(
            ni_all.astype(np.float64) / nu_all.astype(np.float64) * 1e6
        ).astype(np.int64)
        keep = j_all >= threshold_e6
        return pd.DataFrame({
            "doc_a": pa_s[keep],
            "doc_b": pb_s[keep],
            "n_inter": ni_all[keep],
            "n_union": nu_all[keep],
            "jaccard_e6": j_all[keep],
        })

    # partition count: ~2 tasks per core (python tasks pay a worker
    # round-trip each, so 4x-groups inflation wastes wall-clock), capped
    # at 2x the group count so tiny grids don't spray empty tasks
    # (16-cell grid measured: 32 partitions 0.81s vs 64 -> 1.2-1.7s).
    # Measured at sf0.1 (36 groups, 32 cores): 64 partitions 3.2s vs
    # 36 -> 7.3s (straggler tail) and 144 -> 4.3s (handshake overhead).
    n_groups = B * (B + 1) // 2
    n_partitions = max(min(2 * n_parts, 2 * n_groups), 1)
    return rep_pairs.unionByName(rep_sets).repartition(
        n_partitions, "bi", "bj"
    ).mapInPandas(_bucketed_kernel(["bi", "bj"], cell), out_schema)


def jaccard_pairs(df: DataFrame, n: int = 3, threshold_e6: int = 500_000,
                  id_col: str = "doc_id", text_col: str = "text",
                  block_col: str | None = None,
                  scope: CacheScope | None = None) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs >= threshold (scaled 1e6),
    via PREFIX FILTERING — the exact similarity-join algorithm that
    survives hot shingles (a plain document-frequency cap cannot: on
    dense vocabularies some qualifying pairs share ONLY hot shingles).

    Theorem (AllPairs/PPJoin family): order every doc's shingles by a
    global canonical order (ascending document frequency, rarest first);
    with prefix length ``|A| - ceil(t*|A|) + 1``, any pair with
    J(A,B) >= t must share its canonically-smallest common shingle in
    BOTH prefixes. So the self-join runs over prefixes only — hot
    shingles (high df) sort to the END of each doc and drop out of most
    prefixes, exactly where the quadratic blow-up lived. A size filter
    (J <= min/max sizes) prunes further. Candidates are then verified
    via array_intersect on the full shingle-set arrays (JVM built-in),
    so the output equals the naive all-pairs answer.

    Shingles are carried as xxhash64 LONGS end-to-end: set sizes,
    intersections and Jaccard are invariant under any injective
    renaming of shingles, and a 64-bit collision WITHIN one compared
    pair's union (the only event that could change a count) has
    probability ~|A∪B|²/2⁶⁵ < 1e-13 per pair. The win is large: long
    arrays shrink the verify shuffle ~4x and array_intersect drops
    string hashing (measured at sf0.1/t=0.3: verify stage 40.1s -> 5.4s,
    identical 245,964 output rows vs the string-set run and vs the
    string-based all-pairs SQL oracle).

    Plan: one groupBy(shingle) for df, one groupBy(doc) building the
    (ordered set, prefix) arrays, a prefix equi-join producing DISTINCT
    candidate pairs, and an O(candidates) verify join — vs the old
    inverted-index plan's O(sum df^2) join + pair-count shuffle
    (measured at sf0.1: 47.7M join rows -> 19.8M, and the groupBy-pair
    shuffle replaced by a 0.58M-pair verify).

    ``block_col`` (e.g. source/domain) additionally confines candidates
    to equal blocks — the standard web-pipeline blocking strategy.

    ``scope``: a :class:`CacheScope` that owns the lifetime of the
    cached per-doc prefix table (4 downstream consumers). Pass one when
    looping over many corpora — ``with CacheScope() as s:
    jaccard_pairs(df, scope=s).collect()`` leaves no cached relations
    behind. Without a scope the cache is session-lifetime (Spark evicts
    LRU under memory pressure; one-shot driver queries rely on this).
    """
    extra = [block_col] if block_col else []
    spark = df.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    # single-file parquet sources arrive in one partition; spread docs
    # before the (embarrassingly parallel) shingling explode
    sh = shingles(df.repartition(n_parts), n, id_col, text_col, tuple(extra)) \
        .withColumn("sh64", F.xxhash64("shingle")).drop("shingle")
    # document frequency per shingle as a WINDOW count, not
    # groupBy+join: the join form plans the shingle explode TWICE (the
    # aggregate side is an independent subtree) and pays two exchanges
    # on sh64 where the window pays one (guide §2.4 — two operations
    # keyed the same way share one exchange). Same values: count over
    # partitionBy(sh64) == the joined groupBy(sh64) count.
    dfw = Window.partitionBy("sh64")
    # ceil(t*size) in exact integer arithmetic
    t_size = (F.lit(threshold_e6) * F.col("set_size") + F.lit(999_999)) / F.lit(1_000_000)
    per_doc = (
        sh.withColumn("df", F.count("*").over(dfw))
        .groupBy(id_col, *extra)
        .agg(F.sort_array(F.collect_list(F.struct("df", "sh64"))).alias("ordered"))
        .withColumn("set_size", F.size("ordered").cast("long"))
        .withColumn("prefix_len", (F.col("set_size") - F.floor(t_size) + 1).cast("int"))
        .withColumn("sh_set", F.transform("ordered", lambda x: x["sh64"]))
        .withColumn("prefix", F.slice("sh_set", 1, F.col("prefix_len")))
        .drop("ordered")
    )
    per_doc = scope.cache(per_doc) if scope is not None else per_doc.cache()
    a = per_doc.select(
        F.col(id_col).alias("doc_a"), *extra,
        F.col("set_size").alias("size_a"),
        F.posexplode("prefix").alias("pos_a", "sh64"),
    )
    b = per_doc.select(
        F.col(id_col).alias("doc_b"), *extra,
        F.col("set_size").alias("size_b"),
        F.posexplode("prefix").alias("pos_b", "sh64"),
    )
    # PPJoin positional filter: at the canonically-FIRST common shingle
    # (positions p_a, p_b), every other common element lies after it in
    # both docs, so |A∩B| <= 1 + min(|A|-p_a-1, |B|-p_b-1); J >= t needs
    # |A∩B|*(1e6+t_e6) >= t_e6*(|A|+|B|). The bound is monotone over
    # later collision rows, so filtering EVERY collision row is sound:
    # a qualifying pair always keeps its first-collision row.
    ubound = F.lit(1) + F.least(
        F.col("size_a") - F.col("pos_a") - 1, F.col("size_b") - F.col("pos_b") - 1
    )
    cand = (
        a.join(b, ["sh64", *extra])
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            # size filter: J <= min(|A|,|B|)/max(|A|,|B|)
            & (F.col("size_a") * 1_000_000 >= F.lit(threshold_e6) * F.col("size_b"))
            & (F.col("size_b") * 1_000_000 >= F.lit(threshold_e6) * F.col("size_a"))
            & (ubound * (1_000_000 + threshold_e6) >= F.lit(threshold_e6) * (F.col("size_a") + F.col("size_b")))
        )
        .select("doc_a", "doc_b")
        .dropDuplicates()
    )
    # one cheap metadata-ish count over the INPUT sizes the verify grid
    # (ceil(n/block_rows), floored at ~sqrt(2*parallelism)); the blocked
    # kernel verify replaces the per-pair array_intersect join — see
    # _verify_jaccard_blocked for the measured why
    n_docs = df.count()
    sets_df = per_doc.select(id_col, "sh_set")
    return _verify_jaccard_blocked(cand, sets_df, threshold_e6, n_docs)


# --- MinHash + LSH -----------------------------------------------------------

def _shingle_hashes(text: str, n: int) -> np.ndarray:
    """Deterministic 61-bit polynomial hashes of the distinct n-grams."""
    if not text or len(text) < n:
        return np.zeros(1, dtype=np.uint64)
    codes = np.frombuffer(text.encode("utf-8", "ignore"), dtype=np.uint8).astype(np.uint64)
    if len(codes) < n:
        return np.zeros(1, dtype=np.uint64)
    h = np.zeros(len(codes) - n + 1, dtype=np.uint64)
    for j in range(n):
        h = (h * np.uint64(1_000_003) + codes[j : len(codes) - n + 1 + j]) % np.uint64(_P61)
    return np.unique(h)


def minhash_signatures(df: DataFrame, n: int = 5, num_hashes: int = 64,
                       id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """MinHash signatures: shingle -> 61-bit hash -> num_hashes
    multiply-add permutations in Z_2^64 (a_i odd; natural uint64 wrap —
    a standard universal-ish family), min per permutation. numpy
    broadcasting over (shingles x hashes); Python sees batches only."""
    rng = np.random.default_rng(42)
    A = (rng.integers(0, 1 << 62, num_hashes, dtype=np.int64).astype(np.uint64) << np.uint64(1)) | np.uint64(1)
    B = rng.integers(0, 1 << 62, num_hashes, dtype=np.int64).astype(np.uint64)

    def sig(batches):
        old = np.seterr(over="ignore")
        try:
            for pdf in batches:
                sigs = []
                for text in pdf[text_col]:
                    h = _shingle_hashes(text, n)
                    val = A[None, :] * h[:, None] + B[None, :]  # uint64 wrap
                    sigs.append(val.min(axis=0).astype(np.int64).tolist())
                yield pd.DataFrame({id_col: pdf[id_col], "signature": sigs})
        finally:
            np.seterr(**old)

    return df.select(id_col, text_col).mapInPandas(sig, f"{id_col} long, signature array<long>")


def minhash_lsh_pairs(df: DataFrame, n: int = 5, num_hashes: int = 64, bands: int = 16,
                      threshold_e6: int = 500_000, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """LSH candidate pairs (band-bucket equi-join) verified with exact
    Jaccard — output identical to ``jaccard_pairs`` restricted to pairs
    LSH recalled. At threshold 0.5 with 16 bands x 4 rows recall is
    ~1 for true near-dups."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, n, num_hashes, id_col, text_col)
    banded = sigs.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.slice("signature", b * rows_per_band + 1, rows_per_band),
            )
        ).alias("band", "band_sig"),
    ).withColumn(
        "bucket",
        F.xxhash64(F.col("band"), F.concat_ws(",", F.transform("band_sig", lambda v: v.cast("string")))),
    )
    a = banded.select(F.col(id_col).alias("doc_a"), "bucket")
    b = banded.select(F.col(id_col).alias("doc_b"), "bucket")
    cand = (
        a.join(b, "bucket")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates()
    )
    # verify ONLY the candidates: per-doc distinct shingle arrays joined to
    # each candidate pair, exact |A∩B| via array_intersect (JVM built-in).
    # No all-pairs work ever happens — this is the 100 TB-shaped plan.
    # shingles carried as xxhash64 longs (same trick as jaccard_pairs:
    # long-array intersect is ~7x cheaper than string sets; counts are
    # invariant under injective renaming, collision odds < 1e-13/pair)
    sets = df.select(
        id_col,
        F.expr(
            f"transform(array_distinct(transform(sequence(1, greatest(length({text_col}) - {n - 1}, 1)),"
            f" i -> substr({text_col}, i, {n}))), s -> xxhash64(s))"
        ).alias("sh_set"),
    )
    # blocked-kernel verify (see _verify_jaccard_blocked): the shingle
    # transform also now evaluates ONCE into the replicated set frame
    # instead of once per join side
    return _verify_jaccard_blocked(cand, sets, threshold_e6, df.count())


# --- SimHash -----------------------------------------------------------------

SIMHASH_BITS = 60  # lower 60 bits of md5 per token: engine-portable


def with_simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """60-bit SimHash over whitespace tokens (with multiplicity), computed
    ENTIRELY in Catalyst built-ins — no Python anywhere:

        token hash   = first 15 hex chars of md5(token) -> int64 (60 bits)
        per-bit vote = 2 * sum(bit_k over tokens) >= n_tokens
        simhash      = sum(vote_k << k)

    Plan shape: explode tokens (no shuffle) -> groupBy(doc) with 61
    map-side-combined sums (one slim row per doc crosses the wire).
    Token-less docs keep simhash 0 via the left join. The identical
    computation is ANSI-SQL-expressible, so the DuckDB oracle replays
    the whole algorithm bit-for-bit."""
    tok = (
        df.select(id_col, F.explode(F.split(F.col(text_col), " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .withColumn("h", F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long"))
    )
    aggs = [
        F.sum(F.shiftrightunsigned(F.col("h"), k).bitwiseAND(F.lit(1))).alias(f"b{k}")
        for k in range(SIMHASH_BITS)
    ] + [F.count("*").alias("n_tok")]
    votes = tok.groupBy(id_col).agg(*aggs)
    sim = F.lit(0).cast("long")
    for k in range(SIMHASH_BITS):
        sim = sim + F.when(F.col(f"b{k}") * 2 >= F.col("n_tok"), F.lit(1 << k).cast("long")).otherwise(F.lit(0).cast("long"))
    computed = votes.select(id_col, sim.alias("simhash"))
    return df.select(id_col).join(computed, id_col, "left").na.fill({"simhash": 0})


def _band_slices(total_bits: int, bands: int) -> list[tuple[int, int]]:
    """Partition [0, total_bits) into ``bands`` contiguous chunks
    (pigeonhole needs every bit covered by exactly one band)."""
    base, extra = divmod(total_bits, bands)
    out, lo = [], 0
    for b in range(bands):
        w = base + (1 if b < extra else 0)
        out.append((lo, w))
        lo += w
    return out


def hamming_pairs(df: DataFrame, hash_col: str, id_col: str, bits: int,
                  max_hamming: int = 3) -> DataFrame:
    """All pairs with Hamming(hash) <= r via the pigeonhole band join:
    split the ``bits`` bits into r+1 bands; any pair within Hamming r
    MUST agree exactly on >=1 band (pigeonhole THEOREM — candidate
    recall is exactly 1, not probabilistic), so the equi-join on
    (band, band_bits) + exact Hamming verify is an exact operator. The
    shared core of text simhash (60-bit) and image phash (64-bit)
    near-dup; hashes with the top bit set (negative int64) are handled
    via unsigned shifts. Returns (doc_a, doc_b, sim_a, sim_b, hamming)
    with doc_a < doc_b."""
    bands = max_hamming + 1

    def band_col(lo: int, w: int):
        shifted = F.shiftrightunsigned(hash_col, lo)
        if w >= 64:
            # full-width band (max_hamming=0 on a 64-bit hash): the
            # all-ones mask does not fit a long literal, and masking a
            # 64-bit value with all 64 bits is the identity anyway
            return shifted
        return shifted.bitwiseAND(F.lit((1 << w) - 1))

    banded = df.select(
        id_col, F.col(hash_col).alias("_h"),
        F.posexplode(
            F.array(*[band_col(lo, w) for lo, w in _band_slices(bits, bands)])
        ).alias("band", "band_bits"),
    )
    a = banded.select(F.col(id_col).alias("doc_a"), F.col("_h").alias("sim_a"), "band", "band_bits")
    b = banded.select(F.col(id_col).alias("doc_b"), F.col("_h").alias("sim_b"), "band", "band_bits")
    cand = (
        a.join(b, ["band", "band_bits"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sim_a", "sim_b")
        .dropDuplicates()
    )
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return cand.withColumn("hamming", ham.cast("int")).filter(F.col("hamming") <= max_hamming)


def simhash_pairs(df: DataFrame, max_hamming: int = 3, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Near-dup TEXT pairs with Hamming(simhash) <= r — with_simhash +
    the shared pigeonhole band join (:func:`hamming_pairs`)."""
    return hamming_pairs(with_simhash(df, id_col, text_col), "simhash",
                         id_col, SIMHASH_BITS, max_hamming)


def phash_pairs(images: DataFrame, max_hamming: int = 10,
                id_col: str = "image_id",
                hash_col: str = "phash") -> DataFrame:
    """Near-dup IMAGE pairs by perceptual-hash Hamming distance — the
    image-corpus dedup a multimodal training pipeline runs before
    anything expensive touches pixel data. The phash is 64-bit
    (synth.phash64 / sources.tiff_dir compute it at ingest), so the
    pair join never moves image bytes: r+1 pigeonhole bands over the
    int64 column, exact recall by theorem, exact Hamming verify."""
    return hamming_pairs(images.select(id_col, hash_col), hash_col,
                         id_col, 64, max_hamming)


def connected_components(pairs: DataFrame, a_col: str = "doc_a",
                         b_col: str = "doc_b",
                         max_iters: int = 25) -> DataFrame:
    """Near-dup pairs -> duplicate CLUSTERS: every vertex labeled with
    its connected component's minimum id — the step a training-data
    dedup pipeline actually needs (pairs alone don't say which docs to
    keep; the canonical survivor per cluster is the min-id member).

    Pregel-style iterative min-label propagation: each round every
    vertex takes min(own label, neighbors' labels) via one equi-join +
    one groupBy, followed by one pointer-doubling hop (label <-
    label(label): every label value is itself a vertex id, so a self
    equi-join shortcuts each vertex to its current root's label);
    convergence when the label sum stops falling (labels only ever
    decrease under both steps, so an unchanged sum == a fixed point;
    summed as DECIMAL(38,0) — a plain int64 sum wraps silently under
    Spark's non-ANSI arithmetic for xxhash64-magnitude ids, and a wrap
    that lands on the previous value would terminate early with wrong
    labels). The doubling hop makes rounds O(log diameter) — the
    reachable-label distance better-than-doubles per round — so the
    ``max_iters`` guard (2^25-diameter component) is unreachable for
    any physical input; near-dup clusters are quasi-cliques (diameter
    1-3) and still converge in 2-4 rounds, now paying one extra cheap
    equi-join each. The published alternating small-star/large-star
    algorithm (Kiveris et al., "Connected Components in MapReduce",
    SOCC'14) remains the documented swap-in if per-round shuffle volume
    on the edge frame ever dominates.

    Each round localCheckpoints the label frame: iterative plans
    otherwise double in depth per round and the driver's analysis time
    dominates past ~10 rounds.

    Returns (id, component, cluster_size) for every vertex that appears
    in ``pairs`` (singleton docs never enter the pair graph; callers
    wanting them keep-all by definition).
    """
    edges = pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
    edges = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).dropDuplicates().localCheckpoint(eager=False)
    labels = edges.select(F.col("u").alias("id")).dropDuplicates() \
                  .withColumn("label", F.col("id"))
    prev_sum = None
    for _ in range(max_iters):
        nbr = (
            edges.join(labels.select(F.col("id").alias("v"),
                                     F.col("label").alias("vlabel")), "v")
            .groupBy("u").agg(F.min("vlabel").alias("nmin"))
        )
        stepped = (
            labels.join(nbr.select(F.col("u").alias("id"), "nmin"), "id", "left")
            .select("id", F.least(
                F.col("label"),
                F.coalesce(F.col("nmin"), F.col("label"))
            ).alias("label"))
            # `stepped` feeds BOTH sides of the doubling join below —
            # without a checkpoint the edges-join + min-aggregate
            # subtree is planned twice and recomputed whenever
            # ReuseExchange doesn't match (AQE re-optimization can
            # diverge the two copies), doubling the dominant per-round
            # cost
            .localCheckpoint(eager=False)
        )
        # pointer doubling: label <- label(label). Every label IS a
        # vertex id present in `stepped`, so the left join always hits;
        # kept left + coalesce so a (impossible) miss degrades, never
        # drops rows.
        lbl2 = stepped.select(F.col("id").alias("lbl_id"),
                              F.col("label").alias("lbl2"))
        labels = (
            stepped.join(lbl2, stepped["label"] == lbl2["lbl_id"], "left")
            .select("id", F.least(
                F.col("label"),
                F.coalesce(F.col("lbl2"), F.col("label"))
            ).alias("label"))
            .localCheckpoint(eager=False)
        )
        cur_sum = labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            "(pathological high-diameter component — use small/large-star)"
        )
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return (
        labels.join(sizes, "label")
        .select("id", F.col("label").alias("component"),
                F.col("cluster_size").cast("long"))
    )


def keep_list(docs: DataFrame, pairs: DataFrame | None = None, *,
              components: DataFrame | None = None, id_col: str = "doc_id",
              max_iters: int = 25) -> DataFrame:
    """The end-to-end dedup deliverable: a keep/drop decision for EVERY
    document. Near-dup pairs -> connected components -> survivor
    selection: each cluster keeps its minimum-id member, every other
    member is dropped and points at the survivor it duplicates;
    documents that never entered the pair graph are singletons and kept.

    Pass either ``pairs`` (clusters are computed via
    :func:`connected_components`, forwarding ``max_iters``) or a
    precomputed ``components`` frame (id, component, ...) to reuse one
    clustering across several consumers.

    Returns (doc_id, survivor, keep): ``survivor`` is the retained
    min-id cluster member (own id for kept docs), ``keep`` is the
    boolean decision. The corpus-side step is one equi-join of the full
    document table against the (small) clustered-vertex frame — the
    10^12-row table is never shuffled beyond that join's own exchange,
    and the drop-list consumer is a simple ``filter(~keep)``.
    """
    if components is None:
        if pairs is None:
            raise ValueError("keep_list needs `pairs` or `components`")
        components = connected_components(pairs, max_iters=max_iters)
    comp = components.select(F.col("id").alias(id_col),
                             F.col("component").alias("__survivor"))
    survivor = F.coalesce(F.col("__survivor"), F.col(id_col))
    return (
        docs.select(id_col).join(comp, id_col, "left")
        .select(
            id_col,
            survivor.alias("survivor"),
            (survivor == F.col(id_col)).alias("keep"),
        )
    )
