"""Deduplication operators for the documents table.

Four families, each a first-class engine operator:

- exact:      md5 content hash -> groupBy (one shuffle; map-side combine)
- n-gram Jaccard: exact set similarity in one pass over a bucket grid
  (shingle sets -> replicate each doc to the cells of its hash bucket
  -> one repartition on (block, cell) -> one kernel per cell counting
  every pair's intersection). The blocking column splits the cells.
- MinHash+LSH: signature pandas UDF -> band/bucket equi-join ->
  candidate pairs verified with exact Jaccard on the same bucket grid
  (the scale path: no pairwise work outside colliding buckets).
- SimHash: 64-bit token-majority hash; Hamming-<=r pairs found by the
  pigeonhole band trick ((r+1) bands, equi-join per band).

All shingle/token expansion uses built-in sequence/transform/explode
(JVM); only the signatures, the set packing and the per-cell pair
counting are (Arrow-batched) pandas UDFs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StructField, StructType

from .similarity import _bucketed_kernel

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


def _shingle_set(n: int, text_col: str):
    """The distinct character n-grams of ``text_col`` as xxhash64 longs,
    in codegen: sequence -> transform(xxhash64(substr)) ->
    array_distinct (over longs: cheaper than over the strings). NULL for
    a NULL text, which is no document (without the guard ``greatest``
    skips the NULL length and every null text gets the set
    {xxhash64(NULL)} = {42}).

    Sizes, intersections and Jaccard are invariant under any injective
    renaming of shingles; a 64-bit collision within one compared pair's
    union (the only event that could change a count) has probability
    ~|A∪B|²/2⁶⁵ < 1e-13 per pair."""
    return F.when(F.col(text_col).isNotNull(), F.expr(
        f"array_distinct(transform(sequence(1, greatest(length({text_col}) - {n - 1}, 1)),"
        f" i -> xxhash64(substr({text_col}, i, {n}))))"))


class CacheScope:
    """No effect: no dedup operator caches anything any more.
    ``jaccard_pairs`` still accepts ``scope=`` (and this class still
    works as a context manager) only for callers that pass one."""

    def __enter__(self) -> "CacheScope":
        return self

    def __exit__(self, *exc) -> bool:
        return False


_PAIRS_COLS = ["doc_a", "doc_b", "n_inter", "n_union", "jaccard_e6"]


def _bucket(col: str, n_buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def _n_buckets(spark) -> int:
    """B = ceil(sqrt(2 * defaultParallelism)): the B(B+1)/2 cells of the
    bucket grid spread over the cores with no count of the input."""
    return int(np.ceil(np.sqrt(2 * max(spark.sparkContext.defaultParallelism, 1))))


def _replicated_sets(sets_df: DataFrame, id_col: str, keys: list, B: int) -> DataFrame:
    """The bucket grid both dedup pair operators verify on. Each row of
    ``sets_df`` (``id_col``, ``*keys``, ``sh_set`` array<long>) becomes
    one ``blob`` and is replicated to the B cells ``(*keys, min(b, o),
    max(b, o))``, o in 0..B-1, of its own bucket b = pmod(xxhash64(id),
    B): every pair of documents with equal keys meets in exactly one
    cell.

    The sets ride the replication shuffle AND the Arrow boundary as ONE
    binary memcpy per row: as array<long> cells the same bytes pay
    per-element UnsafeArrayData<->Arrow conversion on both sides
    (measured 14.8s of pure delivery at 4x vs <2s packed; PLANS.md
    'Blocked cosine'). Shingle hashes are full-range int64, so the blob
    is fixed-width '<i8' with no width tag.

    Returns the grid (``*keys, bi, bj, b, doc_a, blob``)."""
    schema = sets_df.schema
    packed_schema = StructType([schema[k] for k in keys] + [
        StructField("doc_a", schema[id_col].dataType, False),
        StructField("blob", BinaryType()),
    ])

    def pack(batches):
        for pdf in batches:
            out = pdf[keys].copy()
            out["doc_a"] = pdf[id_col]
            out["blob"] = [np.asarray(a, dtype=np.int64).tobytes() for a in pdf["sh_set"].to_numpy()]
            yield out

    return (
        sets_df.select(*keys, id_col, "sh_set").mapInPandas(pack, packed_schema)
        .withColumn("b", _bucket("doc_a", B))
        .withColumn("o", F.explode(F.sequence(F.lit(0), F.lit(B - 1))))
        .select(*keys, F.least("b", "o").alias("bi"), F.greatest("b", "o").alias("bj"),
                "b", "doc_a", "blob")
    )


def _run_cells(grid: DataFrame, keys: list, cell, id_t: str) -> DataFrame:
    """One hash repartition on the cell, then one kernel call per cell;
    ~2 tasks per core (python tasks pay a worker round-trip each)."""
    n_partitions = 2 * max(grid.sparkSession.sparkContext.defaultParallelism, 1)
    cell_keys = [*keys, "bi", "bj"]
    return grid.repartition(n_partitions, *cell_keys).mapInPandas(
        _bucketed_kernel(cell_keys, cell),
        f"doc_a {id_t}, doc_b {id_t}, n_inter long, n_union long, jaccard_e6 long")


def _decode_sets(blobs) -> tuple[np.ndarray, np.ndarray]:
    """Packed sets -> (vocabulary codes of every element, set offsets)."""
    arrs = [np.frombuffer(b, dtype="<i8") for b in blobs]
    lens = np.fromiter(map(len, arrs), dtype=np.int64, count=len(arrs))
    codes = np.unique(np.concatenate(arrs), return_inverse=True)[1]
    return codes, np.concatenate([[0], np.cumsum(lens)])


def _scored_pairs(ids: np.ndarray, codes: np.ndarray, offs: np.ndarray,
                  pai: np.ndarray, pbi: np.ndarray, threshold_e6: int) -> pd.DataFrame:
    """Exact Jaccard of the set pairs (``pai``, ``pbi``) (indices into
    ``ids`` and the decoded sets; ``pai`` sorted), as output rows
    (min id, max id, n_inter, n_union, jaccard_e6) at or above
    ``threshold_e6``.

    |A∩B| by a vocabulary bitmap: per run of one ``pai``, set A's bits,
    probe the gathered codes of that run's partners (memory ~ one run's
    partner elements, not pairs x set size), sum per partner, clear.
    Each element is one O(1) probe and the loop body is a few numpy
    calls on views."""
    if not len(pai):
        return pd.DataFrame({c: [] for c in _PAIRS_COLS})
    lens = np.diff(offs)
    mask = np.zeros(int(codes.max()) + 1, dtype=bool)
    ni = np.empty(len(pai), dtype=np.int64)
    runs = (np.flatnonzero(pai[1:] != pai[:-1]) + 1).tolist()
    for s, e in zip([0, *runs], [*runs, len(pai)]):
        acodes = codes[offs[pai[s]]:offs[pai[s] + 1]]
        mask[acodes] = True
        pb = pbi[s:e]
        pl = lens[pb]
        ends = np.cumsum(pl)
        starts = ends - pl
        hits = np.concatenate([[0], np.cumsum(
            mask[codes[np.repeat(offs[pb] - starts, pl) + np.arange(ends[-1])]])])
        ni[s:e] = hits[ends] - hits[starts]
        mask[acodes] = False
    nu = lens[pai] + lens[pbi] - ni
    # the SAME IEEE expression tree as the SQL oracle:
    # FLOOR(CAST(ni AS DOUBLE) / CAST(nu AS DOUBLE) * 1e6)
    with np.errstate(divide="ignore", invalid="ignore"):
        j = np.floor(ni.astype(np.float64) / nu.astype(np.float64) * 1e6)
    keep = (nu > 0) & (j >= threshold_e6)
    a, b = ids[pai[keep]], ids[pbi[keep]]
    return pd.DataFrame({
        "doc_a": np.minimum(a, b), "doc_b": np.maximum(a, b),
        "n_inter": ni[keep], "n_union": nu[keep], "jaccard_e6": j[keep].astype(np.int64),
    })


def _verify_jaccard_blocked(cand: DataFrame, sets_df: DataFrame,
                            threshold_e6: int) -> DataFrame:
    """Exact Jaccard verification of candidate pairs on the bucket grid
    of :func:`_replicated_sets`: each doc's set crosses the shuffle B
    times, each pair once as two ids into the one cell of its two
    buckets, and :func:`_scored_pairs` counts the cell's candidates.

    Why not the per-pair ``array_intersect`` join: Spark's ArrayIntersect
    rebuilds a hash set of one operand per ROW (measured ~5s of
    ngram_jaccard's 6s at sf0.1 for 540k candidates). Per-task memory is
    two buckets of sets, no broadcast, no driver collect. Output equals
    the array_intersect form: the same integer counts feed the same
    FLOOR(ni/nu*1e6) IEEE tree.

    ``cand``: (doc_a, doc_b), doc_a < doc_b, deduplicated. ``sets_df``:
    (doc_id, sh_set array<long>) with one row per doc, sets distinct."""
    id_col = sets_df.columns[0]
    B = _n_buckets(cand.sparkSession)
    grid = _replicated_sets(sets_df, id_col, [], B)
    id_t = cand.schema["doc_a"].dataType.simpleString()
    ba, bb = _bucket("doc_a", B), _bucket("doc_b", B)
    rep_pairs = cand.select(
        F.least(ba, bb).alias("bi"), F.greatest(ba, bb).alias("bj"),
        "doc_a", "doc_b", F.lit(None).cast("binary").alias("blob"),
    )
    # set rows repeat their own id as doc_b (the kernel tells them apart
    # by the blob): a null there would make pandas read the whole doc_b
    # column as float64 and corrupt ids above 2^53
    rep_sets = grid.drop("b").withColumn("doc_b", F.col("doc_a"))

    def cell(pdf: pd.DataFrame) -> pd.DataFrame:
        is_set = pdf["blob"].notna().to_numpy()
        prows, srows = pdf[~is_set], pdf[is_set]
        if not len(prows):
            return pd.DataFrame({c: [] for c in _PAIRS_COLS})
        ids = srows["doc_a"].to_numpy()
        codes, offs = _decode_sets(srows["blob"].to_numpy())
        doc2i = {d: i for i, d in enumerate(ids.tolist())}
        pa, pb = prows["doc_a"].to_numpy(), prows["doc_b"].to_numpy()
        order = np.argsort(pa, kind="stable")
        pai = np.fromiter((doc2i[d] for d in pa[order].tolist()), dtype=np.int64, count=len(pa))
        pbi = np.fromiter((doc2i[d] for d in pb[order].tolist()), dtype=np.int64, count=len(pb))
        return _scored_pairs(ids, codes, offs, pai, pbi, threshold_e6)

    return _run_cells(rep_pairs.unionByName(rep_sets), [], cell, id_t)


def jaccard_pairs(df: DataFrame, n: int = 3, threshold_e6: int = 500_000,
                  id_col: str = "doc_id", text_col: str = "text",
                  block_col: str | None = None,
                  scope: CacheScope | None = None) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs >= threshold (scaled 1e6),
    (doc_a, doc_b, n_inter, n_union, jaccard_e6) with doc_a < doc_b, as
    ONE pass: partition first, then join locally ("Distributed
    Similarity Joins over Top-K Rankings", EDBT 2020).

    1. each document's xxhash64 shingle set in codegen
       (:func:`_shingle_set`); a null id, text or block is no document
       and is dropped, as the oracle's joins and ``a.doc_id < b.doc_id``
       drop them;
    2. the set is packed and replicated to the grid cells of its own
       hash bucket (:func:`_replicated_sets`);
    3. one hash repartition on the cell, the plan's only Exchange;
    4. one kernel per cell scores every pair of the cell exactly:
       a < b within one bucket, every cross pair of two buckets, each
       pair met in exactly one cell (:func:`_scored_pairs`).

    No index, prefix or candidate table, so no hot-shingle blow-up: the
    work is all pairs within each block times the set size, pruned by
    the size filter J <= min(|A|,|B|)/max(|A|,|B|) before counting.
    ``block_col`` (e.g. source/domain) confines pairs to equal blocks,
    the standard web-pipeline blocking strategy, and multiplies the
    cells by the number of blocks.

    ``scope`` has no effect (nothing is cached); see :class:`CacheScope`.
    """
    keys = [block_col] if block_col else []
    # drop before the sets: a filter on the set column would evaluate
    # the (interpreted) higher-order shingle expression twice
    docs = df.na.drop(subset=[id_col, text_col, *keys]) \
        .select(id_col, *keys, _shingle_set(n, text_col).alias("sh_set"))
    grid = _replicated_sets(docs, id_col, keys, _n_buckets(df.sparkSession))
    id_t = df.schema[id_col].dataType.simpleString()

    def cell(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["doc_a"].to_numpy()
        codes, offs = _decode_sets(pdf["blob"].to_numpy())
        bi = pdf["bi"].iat[0]
        if bi == pdf["bj"].iat[0]:
            pai, pbi = np.triu_indices(len(ids), 1)
        else:
            b = pdf["b"].to_numpy()
            x, y = np.flatnonzero(b == bi), np.flatnonzero(b != bi)
            pai, pbi = np.repeat(x, len(y)), np.tile(y, len(x))
        lens = np.diff(offs)
        la, lb = lens[pai], lens[pbi]
        fits = np.minimum(la, lb) * 1_000_000 >= threshold_e6 * np.maximum(la, lb)
        return _scored_pairs(ids, codes, offs, pai[fits], pbi[fits], threshold_e6)

    return _run_cells(grid, keys, cell, id_t)


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
    ~1 for true near-dups. A null id or text is no document and is
    dropped."""
    df = df.na.drop(subset=[id_col, text_col])
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
    # verify ONLY the candidates (see _verify_jaccard_blocked): no
    # all-pairs work ever happens
    sets = df.select(id_col, _shingle_set(n, text_col).alias("sh_set"))
    return _verify_jaccard_blocked(cand, sets, threshold_e6)


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
