"""Deduplication operators over the `documents` table.

LLM-training-data dedup family, Spark-first:

- exact:        md5(normalized text) hash-groupBy. One shuffle on a
                uniform 128-bit key — no hot spots at 100 TB.
- ngram Jaccard: word-3-gram shingle inverted index self-join. The
                all-pairs form is quadratic in colliding docs; the
                LSH form below is the scale path.
- MinHash LSH:  k=16 permutations over 60-bit md5 shingle hashes,
                4 bands x 4 rows; band-bucket join yields candidates,
                exact Jaccard verifies. Shuffle keys are (band, sig)
                — uniform by construction.
- SimHash:      60-bit sign-aggregated token hashes; 4x15-bit bands
                give COMPLETE recall for hamming <= 3 (pigeonhole),
                so the banded pair query is exact, not approximate.

Thresholds are integer cross-multiplications (5*common >= 4*union for
tau = 0.8): no float compare can drift between engines.

All hashes derive from md5 (the one hash primitive Spark and DuckDB
share), so every operator here has a bit-exact DuckDB oracle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..datamodel import load_table
from ..functions.text import (
    md5_long,
    normalize,
    shingles_from_tokens,
    tokens,
)
from ..sources.bucketing import write_bucketed

# MinHash parameters (shared with the SQL oracle below).
P = 2_147_483_647  # Mersenne prime 2^31-1: products stay inside int64
K = 16             # permutations
R = 4              # rows per band
NB = K // R        # bands
A = [(37 * (j + 1) ** 2 + 101 * (j + 1) + 7) % P for j in range(K)]
B = [(91 * (j + 1) ** 3 + 53) % P for j in range(K)]

SIMHASH_BITS = 60
SIM_BANDS = 4
SIM_BAND_BITS = SIMHASH_BITS // SIM_BANDS  # 15
SIM_HAM_MAX = SIM_BANDS - 1  # banding guarantees recall for <= 3

JACCARD_NUM, JACCARD_DEN = 4, 5  # tau = 0.8

#: Document-frequency cap on inverted-index shingles. A shingle shared
#: by d documents contributes O(d^2) candidate pairs, so one hot
#: boilerplate shingle shared by 10^6 docs is a 10^12-pair join — the
#: difference between finishing and not at 100 TB. Shingles with
#: DF > cap are dropped from CANDIDATE GENERATION only; the verify
#: step always uses the full uncapped shingle sets, so surviving
#: pairs carry exact Jaccard counts. Standard stop-shingle guard
#: (cf. stop-words in inverted indexes).
#:
#: Recall bound + escape hatch: the cap alone would emit NO pair
#: between two docs whose shared shingles are ALL above the cap — the
#: boilerplate-heavy regime where every shingle of a mass-replicated
#: doc is hot. Each doc therefore also keeps its RARE_KEEP_PER_DOC
#: lowest-DF shingles in the index regardless of the cap
#: (deterministic (df, sh) order), so such clusters still collide on
#: their least-common shingles. Pair blowup stays bounded by the TRUE
#: answer: an escape shingle kept by d docs means those d docs are
#: mutually near-identical (it is each one's rarest shingle), and any
#: all-PAIRS query over a d-doc near-dup cluster inherently emits
#: O(d^2) rows — dedup_clusters / dedup_keep_canonical are the
#: cluster-shaped (linear-output) form for that regime at 100 TB.
MAX_SHINGLE_DF = 64
RARE_KEEP_PER_DOC = 3

#: Hard ceiling on the wedge-join row count in dedup_graph_stats.
#: 10^10 wedge rows is ~minutes of join work on a 1000-executor
#: cluster — a sane cap for a diagnostic query; past it the guard
#: fails fast with the exact count instead of launching the join.
WEDGE_BUDGET = 10_000_000_000


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _shingle_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, sh): distinct word-3-gram shingles per document.

    Two-stage projection: tokens land in a column first so the shingle
    lambda indexes a bound array instead of re-splitting the text per
    element (see shingles_from_tokens)."""
    toks = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    return toks.select(
        "doc_id",
        F.explode(shingles_from_tokens(F.col("toks"))).alias("sh"),
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: canonical (min) doc_id per normalized-text hash.

    Window over the hash instead of groupBy+self-join: one shuffle on a
    uniform 128-bit key and md5 is computed once per row (the join form
    shuffles the hashed relation twice and re-evaluates the hash)."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    hashed = docs.select(
        "doc_id", F.md5(normalize(F.col("text"))).alias("content_hash")
    )
    w = Window.partitionBy("content_hash")
    return hashed.select(
        "doc_id",
        F.min("doc_id").over(w).alias("canonical_id"),
        F.count("*").over(w).alias("group_size"),
    )


#: doc_id % MOD == NEW_REM marks the 'newly ingested batch' — the
#: deterministic stand-in for a daily delivery in dedup_incremental.
INCR_MOD, INCR_NEW_REM = 10, 9


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: which documents of the NEW batch are
    content-novel vs the existing corpus, and which are replays. The
    daily-delivery shape: at 100 TB you never re-cluster the corpus —
    you hash the (small) new batch and probe the corpus hash index.

    One LEFT SEMI-style aggregation: corpus hashes are distinct-
    reduced before the join (map-side combine shrinks them to unique
    hashes), the new batch joins left to mark replays. Output: one row
    per new-batch doc with is_novel + the matched corpus doc count."""
    docs = _docs(spark, sf_dir)
    hashed = docs.select(
        "doc_id", F.md5(normalize(F.col("text"))).alias("content_hash")
    )
    is_new = (F.col("doc_id") % INCR_MOD) == INCR_NEW_REM
    corpus = (
        hashed.filter(~is_new)
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_corpus_docs"))
    )
    return (
        hashed.filter(is_new)
        .join(corpus, "content_hash", "left")
        .select(
            "doc_id",
            F.col("n_corpus_docs").isNull().cast("int").alias("is_novel"),
            F.coalesce("n_corpus_docs", F.lit(0)).alias("n_corpus_docs"),
        )
    )


def _verified_pairs(pairs: DataFrame, sh: DataFrame) -> DataFrame:
    """Attach exact shingle-overlap counts to candidate id pairs and
    keep those meeting the integer Jaccard threshold.

    Verify via per-doc shingle ARRAYS + array_intersect, not a second
    explode-join: the candidate set is orders of magnitude smaller
    than the shingle relation, so joining it (AQE broadcasts it)
    against one grouped array per doc beats shuffling every (doc,
    shingle) row again — ~1.7x on this stage at sf0.1, and the gap
    widens with corpus size."""
    arrs = sh.groupBy("doc_id").agg(
        F.collect_list("sh").alias("shs"), F.count("*").alias("c")
    )
    a1 = arrs.select(
        F.col("doc_id").alias("doc_id_1"), F.col("shs").alias("shs1"),
        F.col("c").alias("shingles_1"),
    )
    a2 = arrs.select(
        F.col("doc_id").alias("doc_id_2"), F.col("shs").alias("shs2"),
        F.col("c").alias("shingles_2"),
    )
    common = F.size(F.array_intersect(F.col("shs1"), F.col("shs2"))).cast("long")
    return (
        pairs.join(a1, "doc_id_1")
        .join(a2, "doc_id_2")
        .withColumn("common_shingles", common)
        .filter(
            JACCARD_DEN * F.col("common_shingles")
            >= JACCARD_NUM
            * (F.col("shingles_1") + F.col("shingles_2") - F.col("common_shingles"))
        )
        .select("doc_id_1", "doc_id_2", "common_shingles", "shingles_1", "shingles_2")
    )


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs n-gram Jaccard >= 0.8 via shingle inverted index.

    The shingle relation feeds the index join AND the verify join —
    localCheckpoint materializes it once (shingling+md5 run a single
    time) and, unlike persist(), the blocks are released when the
    returned DataFrame is garbage-collected instead of staying pinned
    in the CacheManager until an explicit unpersist. The inverted
    index is DF-capped (MAX_SHINGLE_DF) before the self-join so a hot
    shingle can't blow up the candidate pair count, with each doc's
    RARE_KEEP_PER_DOC lowest-DF shingles kept unconditionally as the
    recall escape hatch for all-shingles-hot boilerplate clusters
    (see the constant's docstring for the bound)."""
    from pyspark.sql import Window

    sh = _shingle_rows(_docs(spark, sf_dir)).localCheckpoint(eager=True)
    dfs = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    wdoc = Window.partitionBy("doc_id").orderBy("df", "sh")
    # r20 (guide §2.3/§2.4, the minhash merged-aggregation lesson —
    # VERDICT r19 item 5): the per-doc verify arrays used to be a
    # SEPARATE groupBy(doc_id) shuffle of the raw shingle relation
    # inside _verified_pairs. The DF-cap window already hash-partitions
    # the joined (sh, df) relation by doc_id, so a groupBy(doc_id)
    # stacked on the window output needs NO new exchange — one pass
    # yields the capped index shingles (collect_list skips the
    # when()-nulled hot ones) AND the full verify array/count. The
    # checkpoint then holds ONE row per doc instead of re-running the
    # join+window subtree once per self-join side downstream.
    keep = (F.col("df") <= MAX_SHINGLE_DF) | (
        F.col("rk") <= RARE_KEEP_PER_DOC
    )
    per_doc = (
        sh.join(dfs, "sh")
        .withColumn("rk", F.row_number().over(wdoc))
        .groupBy("doc_id")
        .agg(
            F.collect_list(F.when(keep, F.col("sh"))).alias("idx_shs"),
            F.collect_list("sh").alias("shs"),
            F.count(F.lit(1)).alias("c"),
        )
        .localCheckpoint(eager=True)
    )
    idx = per_doc.select("doc_id", F.explode("idx_shs").alias("sh"))
    s1 = idx.select(F.col("doc_id").alias("doc_id_1"), "sh")
    s2 = idx.select(F.col("doc_id").alias("doc_id_2"), "sh")
    pairs = (
        s1.join(s2, "sh")
        .filter(F.col("doc_id_1") < F.col("doc_id_2"))
        .select("doc_id_1", "doc_id_2")
        .distinct()
    )
    a1 = per_doc.select(
        F.col("doc_id").alias("doc_id_1"), F.col("shs").alias("shs1"),
        F.col("c").alias("shingles_1"),
    )
    a2 = per_doc.select(
        F.col("doc_id").alias("doc_id_2"), F.col("shs").alias("shs2"),
        F.col("c").alias("shingles_2"),
    )
    common = F.size(
        F.array_intersect(F.col("shs1"), F.col("shs2"))
    ).cast("long")
    return (
        pairs.join(a1, "doc_id_1")
        .join(a2, "doc_id_2")
        .withColumn("common_shingles", common)
        .filter(
            JACCARD_DEN * F.col("common_shingles")
            >= JACCARD_NUM
            * (
                F.col("shingles_1")
                + F.col("shingles_2")
                - F.col("common_shingles")
            )
        )
        .select(
            "doc_id_1", "doc_id_2", "common_shingles",
            "shingles_1", "shingles_2",
        )
    )


def _minhash_signatures(sh: DataFrame) -> DataFrame:
    h32 = (md5_long(F.col("sh")) % P).alias("h")
    hs = sh.select("doc_id", h32)
    aggs = [
        F.min((F.lit(A[j]) * F.col("h") + F.lit(B[j])) % P).alias(f"m{j}")
        for j in range(K)
    ]
    return hs.groupBy("doc_id").agg(*aggs)


def _minhash_bands_r(sig: DataFrame, r: int) -> DataFrame:
    """(doc_id, band, key) rows banding the K-wide signature at r rows
    per band (K // r bands) — the generalized form behind the
    registered r=4 banding, the band sweep's swept configs, and the
    r=8 scale point. A non-divisor r would silently drop the trailing
    K % r permutations from the signature — fail loudly instead.
    ValueError, not assert: ``python -O`` strips asserts, silently
    restoring the exact failure mode this guard exists to prevent."""
    if K % r != 0:
        raise ValueError(f"rows-per-band {r} must divide K={K}")
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "_", *[F.col(f"m{b * r + j}").cast("string") for j in range(r)]
            ).alias("key"),
        )
        for b in range(K // r)
    ]
    return sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bk")
    ).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def _minhash_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, band, key) rows from a minhash-signature frame — the
    shared banding used by the LSH query, the incremental probe, and
    the materialized corpus band index (all three MUST band
    identically or probes silently miss collisions)."""
    return _minhash_bands_r(sig, R)


def minhash_bands_for(docs: DataFrame) -> DataFrame:
    """Bands for an arbitrary document set. MinHash signatures are
    per-document, so banding a subset equals filtering the full
    banding — the property that makes the corpus index appendable one
    delivery at a time."""
    return _minhash_bands(_minhash_signatures(_shingle_rows(docs)))


def _minhash_per_doc(sh: DataFrame) -> DataFrame:
    """ONE groupBy(doc_id) computing the minhash signature AND the
    verify-side shingle array/count together (r19, guide §2.4): the
    old shape aggregated the exploded shingle relation twice (16
    min-aggs for signatures, collect_list for verify) behind a
    localCheckpoint of the raw (doc_id, shingle-string) rows. Merging
    the two aggregations removes one full shuffle of the shingle
    relation and the fat checkpoint of its exploded form — the
    checkpoint now holds one row per DOC (signature + shingle set),
    computed in a single pass. Candidate generation and verify both
    read this relation. Output-identical (signatures and arrays are
    unchanged; collect_list order was already join-irrelevant)."""
    h = md5_long(F.col("sh")) % P
    return sh.groupBy("doc_id").agg(
        *[
            F.min((F.lit(A[j]) * h + F.lit(B[j])) % P).alias(f"m{j}")
            for j in range(K)
        ],
        F.collect_list("sh").alias("shs"),
        F.count("*").alias("c"),
    )


def _minhash_bands_packed(sig: DataFrame) -> DataFrame:
    """(doc_id, band, k0, k1) banding with EXACT integer keys: each
    band's 4 mins pack pairwise as m*P + m' (injective — every m < P),
    so the band self-join compares two BIGINTs instead of a ~40-char
    concat string (r19, guide §2.3 narrower shuffle keys: ~16 bytes
    vs ~40+ per band row at every corpus scale). Identical candidate
    set by construction — (band, k0, k1) equality <=> the 4-min tuple
    equality <=> the string-key equality the persisted-index paths
    still use (their on-disk key format is unchanged)."""
    structs = [
        F.struct(
            F.lit(b).alias("band"),
            (F.col(f"m{b * R}") * P + F.col(f"m{b * R + 1}")).alias("k0"),
            (F.col(f"m{b * R + 2}") * P + F.col(f"m{b * R + 3}")).alias("k1"),
        )
        for b in range(NB)
    ]
    return sig.select(
        "doc_id", F.explode(F.array(*structs)).alias("bk")
    ).select("doc_id", "bk.band", "bk.k0", "bk.k1")


def _banded_verified(per_doc: DataFrame) -> tuple:
    """(candidate pairs, a1, a2) from the merged per-doc relation —
    the shared candidate+verify scaffolding of q_dedup_minhash_lsh and
    dedup_containment (one banding serves both measures)."""
    bands = _minhash_bands_packed(per_doc)
    b1 = bands.select(F.col("doc_id").alias("doc_id_1"), "band", "k0", "k1")
    b2 = bands.select(F.col("doc_id").alias("doc_id_2"), "band", "k0", "k1")
    cand = (
        b1.join(b2, ["band", "k0", "k1"])
        .filter(F.col("doc_id_1") < F.col("doc_id_2"))
        .select("doc_id_1", "doc_id_2")
        .distinct()
    )
    a1 = per_doc.select(
        F.col("doc_id").alias("doc_id_1"), F.col("shs").alias("shs1"),
        F.col("c").alias("shingles_1"),
    )
    a2 = per_doc.select(
        F.col("doc_id").alias("doc_id_2"), F.col("shs").alias("shs2"),
        F.col("c").alias("shingles_2"),
    )
    return cand, a1, a2


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates (4 bands x 4 rows), exact-verified.
    Single merged per-doc aggregation + packed integer band keys (see
    _minhash_per_doc / _minhash_bands_packed); localCheckpoint over
    persist for the shared per-doc relation: same compute-once
    materialization, no pinned cache after the result is released
    (see q_dedup_ngram_jaccard)."""
    sh = _shingle_rows(_docs(spark, sf_dir))
    per_doc = _minhash_per_doc(sh).localCheckpoint(eager=True)
    cand, a1, a2 = _banded_verified(per_doc)
    common = F.size(F.array_intersect(F.col("shs1"), F.col("shs2"))).cast("long")
    return (
        cand.join(a1, "doc_id_1")
        .join(a2, "doc_id_2")
        .withColumn("common_shingles", common)
        .filter(
            JACCARD_DEN * F.col("common_shingles")
            >= JACCARD_NUM
            * (F.col("shingles_1") + F.col("shingles_2") - F.col("common_shingles"))
        )
        .select("doc_id_1", "doc_id_2", "common_shingles", "shingles_1", "shingles_2")
    )


#: SINGLE-pass simhash: one aggregate over the token-hash array with a
#: 60-element bit-count accumulator, then one fold packing majority
#: bits into the hash. Still no explode / no shuffle (the groupBy
#: formulation shuffles |tokens| rows to recombine what was already
#: row-local) — but, critically, ONE traversal: the previous form
#: spelled each bit as its own `aggregate(hs, ...)`, i.e. 60 separate
#: interpreted folds over the same array per row — measured 3.9 s vs
#: 1.5 s at sf0.1 for identical output. Majority test `2*count >
#: n_tokens` ≡ the ±1-sum-positive rule.
def _sim_counts(col: str) -> str:
    # r19: the per-token accumulator step is transform-with-index over
    # acc — ONE array op per token instead of the old three
    # (sequence + transform + zip_with allocated two scratch arrays per
    # token before combining). Interpreted-HOF cost is per array op:
    # measured 0.80 s → 0.62 s for the simhash projection at sf0.1,
    # bit-identical output (guide §1 measure-first; §4 "per-task work").
    return (
        f"aggregate({col}, array_repeat(0, {SIMHASH_BITS}), (acc, h) -> "
        f"transform(acc, (a, i) -> a + CAST((h >> i) & 1 AS INT)))"
    )


def _sim_pack(col: str) -> str:
    """Majority-bit pack over the token-hash array column ``col``.

    A function, not a word-substituted string: the wide fingerprint's
    second half builds the same expression over ``hs2``, and deriving
    it by regex from a fixed ``hs`` literal would silently change
    semantics if an identifier named ``hs`` ever entered the
    expression (ADVICE r14). ``col`` must not collide with the lambda
    variables (acc, h, c, i, a, b)."""
    return (
        f"aggregate(transform({_sim_counts(col)}, "
        f"(c, i) -> IF(2 * c > size({col}), CAST(1 AS BIGINT) << i, "
        f"CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (a, b) -> a | b)"
    )


_SIM_COUNTS = _sim_counts("hs")
_SIM_PACK = _sim_pack("hs")


# ---------------------------------------------------------------------------
# r20 (guide §4.2, the r19 ANN-kernel pattern applied to simhash): the
# per-token simhash fold moves from an interpreted HOF fold (HOFs never
# enter whole-stage codegen; cost is per array op per element) to a
# whole-batch numpy int64 pandas UDF. Arithmetic is UNCHANGED — bit
# counts, the majority test and the bit-OR pack are exact integer ops;
# the expression builders above stay as the executable reference the
# parity tests (tests/test_dedup_kernels_r20.py) compare against.
# Measured (interleaved noop fragments, sf0.1): fold 0.62 s -> kernel
# 0.31 s on the simhash projection (hash-only floor 0.26 s — the fold
# itself dropped ~7x). The kernel is returned NON-DETERMINISTIC (pure —
# an optimizer fence, guide §4.4) so filters are never pushed below the
# ArrowEvalPython node and the batch kernel never evaluates twice.
#
# Tried and REVERTED (r20): the same treatment for minhash — a
# zero-shuffle per-doc form (shingle arrays + interpreted md5
# transform + numpy K-min kernel) replacing explode + groupBy. 11-13 s
# vs 1.2 s at sf0.1: the expensive element op is the md5 HASH, which
# explode keeps in whole-stage codegen but an array transform()
# evaluates interpreted per element (~10x). The r13 lesson holds even
# with a vectorized fold: the shuffle is the cheap part.
# ---------------------------------------------------------------------------

_SIM_PACK_KERNEL = None


def pd_simhash_pack():
    """pandas UDF: distinct-token-hash array -> packed majority
    simhash — `_sim_pack()`'s exact numpy twin. Bit counting is one
    unpackbits over the little-endian int64 view (every md5_long value
    is < 2^60, nonneg) + one segmented add.reduceat; majority test
    `2*count > n_tokens` and the bit-OR pack are the same integer ops
    the SQL fold runs. Empty array -> 0, NULL -> NULL (aggregate()
    semantics).

    Call restriction: the kernel is returned ``asNondeterministic()``
    (the optimizer fence described above), so call it only from a
    Project or a Filter (``select``/``withColumn``/``filter``). To
    aggregate, join or window on the fingerprint, project it into a
    column first (as `_simhash_df` does) and use that column: Spark's
    analyzer rejects a nondeterministic expression inside a join
    condition (INVALID_NON_DETERMINISTIC_EXPRESSIONS) or an aggregate
    function's arguments, far from this definition."""
    global _SIM_PACK_KERNEL
    if _SIM_PACK_KERNEL is not None:
        return _SIM_PACK_KERNEL

    @F.pandas_udf("bigint")
    def k(hs: pd.Series) -> pd.Series:
        import numpy as np

        n = len(hs)
        out = np.zeros(n, dtype=np.int64)
        null = np.zeros(n, dtype=bool)
        keep_i: list = []
        keep_a: list = []
        for i, a in enumerate(hs.tolist()):
            if a is None:
                null[i] = True
            elif len(a):
                keep_i.append(i)
                keep_a.append(np.asarray(a, dtype=np.int64))
        if keep_a:
            lens = np.fromiter(
                (len(a) for a in keep_a), dtype=np.int64,
                count=len(keep_a),
            )
            flat = np.concatenate(keep_a)
            bits = np.unpackbits(
                flat.view(np.uint8).reshape(-1, 8),
                axis=1,
                bitorder="little",
            )[:, :SIMHASH_BITS]
            starts = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            counts = np.add.reduceat(
                bits, starts, axis=0, dtype=np.int64
            )
            maj = (2 * counts) > lens[:, None]
            shifts = np.arange(SIMHASH_BITS, dtype=np.int64)
            out[np.asarray(keep_i, dtype=np.int64)] = (
                maj.astype(np.int64) << shifts
            ).sum(axis=1)
        if null.any():
            res = pd.Series(out).astype("object")
            res[null] = None
            return res
        return pd.Series(out)

    _SIM_PACK_KERNEL = k.asNondeterministic()
    return _SIM_PACK_KERNEL


def _simhash_df(docs: DataFrame) -> DataFrame:
    toks = F.array_distinct(tokens(F.col("text")))
    hs = F.transform(toks, md5_long)
    return docs.select("doc_id", hs.alias("hs")).select(
        "doc_id", pd_simhash_pack()(F.col("hs")).alias("simhash")
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document."""
    return _simhash_df(_docs(spark, sf_dir))


#: Corpus size above which the 60-bit pair relation must not feed the
#: graph consumers. Each 15-bit band admits ~n^2/2/2^15 RANDOM
#: candidate collisions, so the candidate volume passes linear-in-n
#: right around n = 2^16 docs and is quadratic beyond it — measured:
#: 334M candidates / 105 s at 500k docs, where the 120-bit relation
#: (q_dedup_simhash_wide_pairs, 4 x 30-bit bands) stayed near-linear
#: at 1.5M / 14 s (SCALEUP100_r14.json). The swap is an EXPLICIT
#: caller decision, never automatic: hamming <= 3 of 120 bits is a
#: stricter similarity than <= 3 of 60, so the cluster relation
#: genuinely changes (near-exact template duplicates survive; the
#: moderate-edit recall band narrows).
SIMHASH_WIDE_THRESHOLD_DOCS = 1 << 16

#: per-sf_dir doc counts for the guard below — the count() is a
#: parquet metadata-only job, but the six registered graph consumers
#: each pay it once per call at bench time. Keyed on (realpath,
#: mtime_ns, size) of documents.parquet — NOT the raw path string —
#: so a corpus rewritten in place at the same path gets a fresh
#: count instead of a stale guard verdict (r17 ADVICE fix).
_GUARD_COUNT_CACHE: dict = {}


def _guard_cache_key(sf_dir: str):
    import os as _os

    p = _os.path.realpath(_os.path.join(sf_dir, "documents.parquet"))
    try:
        st = _os.stat(p)
        return (p, st.st_mtime_ns, st.st_size)
    except OSError:
        return (p, None, None)


def _guarded_doc_count(spark: SparkSession, sf_dir: str) -> int:
    key = _guard_cache_key(sf_dir)
    n = _GUARD_COUNT_CACHE.get(key)
    if n is None:
        n = _docs(spark, sf_dir).count()
        _GUARD_COUNT_CACHE[key] = n
    return n


def q_dedup_simhash_pairs(
    spark: SparkSession, sf_dir: str, *, unguarded: bool = False
) -> DataFrame:
    """Pairs with simhash hamming distance <= 3. 4x15-bit banding makes
    this exact (any pair within hamming 3 shares >= 1 intact band).

    Guarded like the exact-cosine path: refuses corpora above
    SIMHASH_WIDE_THRESHOLD_DOCS (where the 15-bit bands' random
    candidate term goes quadratic — see the constant) unless
    ``unguarded=True`` is passed explicitly, pointing the caller to
    q_dedup_simhash_wide_pairs instead. The count() is a parquet
    metadata-only job, so the guard costs no scan.

    The simhash relation is materialized (localCheckpoint) BEFORE the
    band explode: Catalyst collapses projections through Generate, so
    a lazy simhash column is re-evaluated once per band row per join
    side — 8 evaluations of a fold that is ~40% of the whole query's
    work (measured 25 s vs 5 s at sf0.1)."""
    if not unguarded:
        n = _guarded_doc_count(spark, sf_dir)
        if n > SIMHASH_WIDE_THRESHOLD_DOCS:
            raise ValueError(
                f"dedup_simhash_pairs bands 4x15 bits and the corpus "
                f"has {n} docs (> {SIMHASH_WIDE_THRESHOLD_DOCS}): the "
                f"random band-collision term n^2/2^15 is super-linear "
                f"here (measured 334M candidates at 500k docs). Use "
                f"q_dedup_simhash_wide_pairs (4x30-bit bands, same "
                f"radius) — the graph consumers take pairs_fn — or "
                f"pass unguarded=True to force the quadratic path."
            )
    sim = _simhash_df(_docs(spark, sf_dir)).localCheckpoint(eager=True)
    bands = sim.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(
                            f"(simhash >> {b * SIM_BAND_BITS}) & {(1 << SIM_BAND_BITS) - 1}"
                        ).alias("key"),
                    )
                    for b in range(SIM_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    b1 = bands.select(
        F.col("doc_id").alias("doc_id_1"), F.col("simhash").alias("sim1"), "band", "key"
    )
    b2 = bands.select(
        F.col("doc_id").alias("doc_id_2"), F.col("simhash").alias("sim2"), "band", "key"
    )
    # each qualifying pair is emitted by its FIRST matching band only:
    # a pair that also collides in an earlier band is dropped here, so
    # the global pair set is exact without any distinct() shuffle
    mask = (1 << SIM_BAND_BITS) - 1
    earlier_band_match = F.expr(
        " OR ".join(
            f"(band > {j} AND ((sim1 >> {j * SIM_BAND_BITS}) & {mask}) = "
            f"((sim2 >> {j * SIM_BAND_BITS}) & {mask}))"
            for j in range(SIM_BANDS - 1)
        )
    )
    return (
        b1.join(b2, ["band", "key"])
        .filter(F.col("doc_id_1") < F.col("doc_id_2"))
        .filter(~earlier_band_match)
        .withColumn(
            "hamming",
            F.bit_count(F.col("sim1").bitwiseXOR(F.col("sim2"))).cast("int"),
        )
        .filter(F.col("hamming") <= SIM_HAM_MAX)
        .select("doc_id_1", "doc_id_2", "hamming")
    )


MAX_CC_ITERS = 30
MAX_STAR_ROUNDS = 64  # star-CC is O(log n) rounds: 64 covers any n

#: Edge-count budget under which the star loop finishes on the driver
#: with exact union-find instead of spending ~4 more fixed-overhead
#: shuffle rounds confirming convergence. Two BIGINTs per edge ->
#: ~16 MB at the cap — the same order as a broadcast-join threshold,
#: and bounded the same way: the decision uses the EXACT edge count
#: the loop's convergence checksum already computes each round, so a
#: graph that never contracts below the cap keeps running distributed
#: rounds (never an unbounded collect). On dense near-dup graphs one
#: large-star/small-star round contracts edges by ~100x, so at any
#: corpus size the tail of the computation fits long before the
#: O(log n) round bound is reached.
DRIVER_CC_MAX_EDGES = 1_000_000


def _union_find_labels(edge_rows) -> dict:
    """Exact min-label union-find over collected (a, b) edges — the
    driver-side finisher for star CC tails. Returns {node: min id
    reachable}; identical by construction to the distributed fixpoint
    (both compute min over the connectivity relation)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min id keeps the root the component minimum
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {x: find(x) for x in parent}


def _sym_edges(pairs: DataFrame) -> DataFrame:
    """Both directions of an undirected pair list."""
    return pairs.select(
        F.col("doc_id_1").alias("src"), F.col("doc_id_2").alias("dst")
    ).union(
        pairs.select(
            F.col("doc_id_2").alias("src"), F.col("doc_id_1").alias("dst")
        )
    )


def connected_components_star(
    nodes: DataFrame,
    pairs: DataFrame,
    driver_finish_max_edges: int = DRIVER_CC_MAX_EDGES,
    pairs_canonical: bool = False,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    O(log n) rounds regardless of graph DIAMETER, unlike min-label
    propagation whose round count IS the diameter. Two shuffles per
    round (one groupBy per star op); at 100 TB this is the difference
    between ~30 rounds on a pathological chain graph and ~6.

    large-star: every node's strictly-larger neighbors are rewired to
    its smallest neighbor-or-self. small-star: every node's
    smaller-or-equal neighbors (and itself) are rewired to its
    smallest neighbor. At fixpoint the edge set is one star per
    component rooted at the component minimum.

    Hybrid tail: star rounds contract the edge set geometrically, and
    once its EXACT count (already computed each round by the
    convergence checksum) fits ``driver_finish_max_edges``, the
    remaining ~4 fixed-overhead rounds are replaced by one collect +
    exact min-label union-find. Both star ops preserve (a) the
    connectivity relation and (b) every non-isolated node's presence
    in the edge set, so union-find on ANY intermediate edge set yields
    the original component minima. The budget is a hard bound like a
    broadcast-join threshold — a graph that never contracts under it
    just keeps running distributed rounds; pass 0 to force the pure
    distributed fixpoint.

    nodes: (doc_id); pairs: (doc_id_1, doc_id_2) undirected.
    ``pairs_canonical=True`` asserts the input is already distinct with
    doc_id_1 < doc_id_2 (true for every pair finder in this module) and
    skips one full-edge-set canonicalization shuffle.
    Returns (doc_id, cluster_id)."""

    def _driver_finish(pdf) -> DataFrame:
        from pyspark.sql.types import StructField, StructType

        labels = _union_find_labels(
            zip(pdf["a"].tolist(), pdf["b"].tolist())
        )
        id_type = nodes.schema["doc_id"].dataType
        lbl = nodes.sparkSession.createDataFrame(
            list(labels.items()),
            StructType(
                [
                    StructField("doc_id", id_type),
                    StructField("root", id_type),
                ]
            ),
        )
        return nodes.join(F.broadcast(lbl), "doc_id", "left").select(
            "doc_id",
            F.coalesce(F.col("root"), F.col("doc_id")).alias("cluster_id"),
        )
    if pairs_canonical:
        edges_lazy = pairs.select(
            F.col("doc_id_2").alias("a"), F.col("doc_id_1").alias("b")
        )
    else:
        edges_lazy = (
            pairs.select(
                F.greatest("doc_id_1", "doc_id_2").alias("a"),
                F.least("doc_id_1", "doc_id_2").alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
    # r19 fast path (guide §1.2/§2.4 — fewer jobs on the common tail):
    # when the WHOLE edge set fits the driver budget, one bounded
    # limit(budget+1) collect replaces the old
    # checkpoint-materialize → checksum → toPandas sequence (three
    # jobs → one). The limit is the same hard bound the checksum
    # decision enforced: if budget+1 rows come back the graph is too
    # big, the probe is discarded (it cost a truncated scan —
    # CollectLimit stops early), and the distributed loop below runs
    # exactly as before, checkpoint + checksum discipline intact.
    # r20 (ADVICE): persist around the probe — limit() cannot stop
    # early through the distinct shuffle / pair-finding pipeline, so
    # WITHOUT the persist an overflowing probe (edge set > budget) ran
    # the entire upstream computation twice (once discarded, once for
    # the checkpoint). Persist keeps the fast path at one job (the
    # probe itself materializes the blocks) and makes the overflow
    # path's checkpoint read back cached partitions instead of
    # recomputing; edges are two BIGINTs/row, so the cache write is
    # noise. Unpersist is unconditional — _driver_finish consumes the
    # collected pandas probe, never edges_lazy.
    if 0 < driver_finish_max_edges:
        edges_lazy = edges_lazy.persist()
        try:
            probe = edges_lazy.limit(
                driver_finish_max_edges + 1
            ).toPandas()
            if len(probe) <= driver_finish_max_edges:
                return _driver_finish(probe)
            edges = edges_lazy.localCheckpoint(eager=True)
        finally:
            edges_lazy.unpersist()
    else:
        edges = edges_lazy.localCheckpoint(eager=True)

    def _checksum(e: DataFrame):
        # set-identity of the (distinct) edge set: count + XOR of row
        # hashes — order-independent and overflow-free under ANSI mode
        return e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.expr("bit_xor(xxhash64(a, b))"), F.lit(0)
            ).alias("h"),
        ).collect()[0]

    prev = _checksum(edges)
    for _ in range(MAX_STAR_ROUNDS):
        # large-star over the symmetric view: for node u with
        # m = min(N(u) ∪ {u}), every neighbor v > u re-attaches to m.
        # Each undirected edge {a,b} (a>b) is emitted exactly once,
        # from the perspective of its smaller endpoint.
        sym = _sym_edges(
            edges.select(
                F.col("a").alias("doc_id_1"), F.col("b").alias("doc_id_2")
            )
        )
        m_of = sym.groupBy("src").agg(F.min("dst").alias("mn")).select(
            "src", F.least(F.col("mn"), F.col("src")).alias("m")
        )
        # no checkpoint and no dedup between the stars: the round's
        # lineage is truncated once after small-star, whose final
        # distinct canonicalizes the set anyway (duplicate pairs don't
        # change star semantics); within-round duplicate subplans
        # collapse via ReusedExchange
        edges = (
            sym.filter(F.col("dst") > F.col("src"))
            .join(m_of, "src")
            .select(F.col("dst").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
        )
        # small-star over the min-directed view: node u's smaller
        # neighbors (and u itself) all re-attach to min(N_small(u)).
        m_small = edges.groupBy("a").agg(F.min("b").alias("m"))
        edges = (
            edges.join(m_small, "a")
            .filter(F.col("b") != F.col("m"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .union(m_small.select(F.col("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        cur = _checksum(edges)
        if (cur["n"], cur["h"]) == (prev["n"], prev["h"]):
            break
        prev = cur
        if 0 < driver_finish_max_edges and cur["n"] <= driver_finish_max_edges:
            return _driver_finish(edges.toPandas())
    star = edges.select(
        F.col("a").alias("doc_id"), F.col("b").alias("root")
    )
    return nodes.join(star, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("root"), F.col("doc_id")).alias("cluster_id"),
    )


def connected_components(nodes: DataFrame, pairs: DataFrame) -> DataFrame:
    """Label every node with the min node id reachable through pairs.

    Pregel-style min-label propagation: each iteration is one
    distributed join+groupBy (no driver-side graph), iterating to a
    fixpoint. Near-dup clusters have tiny diameters, so this converges
    in a handful of rounds at one shuffle each; if the diameter
    exceeds MAX_CC_ITERS (adversarial chain-shaped graphs), the
    partially-propagated labels CONTRACT the graph and the
    O(log n)-round star algorithm finishes it — never a silent
    unconverged result, never a failure.

    nodes: (doc_id); pairs: (doc_id_1, doc_id_2) undirected.
    Returns (doc_id, cluster_id).
    """
    edges = (
        pairs.select(F.col("doc_id_1").alias("src"), F.col("doc_id_2").alias("dst"))
        .union(
            pairs.select(
                F.col("doc_id_2").alias("src"), F.col("doc_id_1").alias("dst")
            )
        )
        .persist()
    )
    # localCheckpoint (not persist): each iteration must TRUNCATE the
    # logical plan, or lineage depth grows linearly and plan
    # processing blows the JVM stack long before data size matters.
    labels = nodes.select(
        "doc_id", F.col("doc_id").alias("cluster_id")
    ).localCheckpoint(eager=True)
    prev_sum = None
    for _ in range(MAX_CC_ITERS):
        nbr_min = (
            edges.join(
                labels.select(
                    F.col("doc_id").alias("src"), F.col("cluster_id").alias("lbl")
                ),
                "src",
            )
            .groupBy("dst")
            .agg(F.min("lbl").alias("nbr_min"))
            .select(F.col("dst").alias("doc_id"), "nbr_min")
        )
        new_labels = (
            labels.join(nbr_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("nbr_min"), F.col("cluster_id")),
                ).alias("cluster_id"),
            )
            .localCheckpoint(eager=True)
        )
        # convergence test: the label set is unchanged iff its set
        # checksum is — one cheap aggregate instead of the old-vs-new
        # shuffle join + count this used to pay every round
        new_sum = new_labels.agg(
            F.coalesce(
                F.expr("bit_xor(xxhash64(doc_id, cluster_id))"), F.lit(0)
            ).alias("h")
        ).collect()[0]["h"]
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        # Cap exhausted without a fixpoint: graph diameter exceeds
        # MAX_CC_ITERS. The labels so far are still a valid PARTIAL
        # contraction (every node's label is reachable from it), so
        # contract the graph by them and let the O(log n)-round star
        # algorithm finish — no silent unconverged result, no failure.
        import logging

        logging.getLogger(__name__).warning(
            "min-label CC hit the %d-iteration cap; finishing with "
            "large-star/small-star on the contracted graph",
            MAX_CC_ITERS,
        )
        lbl_src = labels.select(
            F.col("doc_id").alias("src"), F.col("cluster_id").alias("l1")
        )
        lbl_dst = labels.select(
            F.col("doc_id").alias("dst"), F.col("cluster_id").alias("l2")
        )
        contracted = (
            edges.join(lbl_src, "src")
            .join(lbl_dst, "dst")
            .filter(F.col("l1") != F.col("l2"))
            .select(
                F.col("l1").alias("doc_id_1"), F.col("l2").alias("doc_id_2")
            )
            .distinct()
        )
        meta = connected_components_star(
            labels.select(F.col("cluster_id").alias("doc_id")).distinct(),
            contracted,
        ).select(
            F.col("doc_id").alias("cluster_id"),
            F.col("cluster_id").alias("final_id"),
        )
        labels = labels.join(meta, "cluster_id").select(
            "doc_id", F.col("final_id").alias("cluster_id")
        )
    edges.unpersist()
    return labels


def q_dedup_clusters(
    spark: SparkSession, sf_dir: str, *, pairs_fn=None
) -> DataFrame:
    """Connected components over the simhash near-dup graph: every doc
    labeled with the min doc_id reachable through hamming<=3 pairs —
    the canonicalization step a dedup pipeline runs after pair finding.
    Oracle: DuckDB recursive CTE enumerating reachability.

    ``pairs_fn`` selects the pair relation (default: the registered
    60-bit q_dedup_simhash_pairs). Above SIMHASH_WIDE_THRESHOLD_DOCS
    callers must pass q_dedup_simhash_wide_pairs — the 60-bit banding
    goes quadratic in random candidates there (see the constant)."""
    return connected_components(
        _docs(spark, sf_dir).select("doc_id"),
        (pairs_fn or q_dedup_simhash_pairs)(spark, sf_dir),
    )


def q_dedup_clusters_star(
    spark: SparkSession, sf_dir: str, *, pairs_fn=None
) -> DataFrame:
    """Same clustering as dedup_clusters, computed by the alternating
    large-star/small-star algorithm instead of min-label propagation —
    the O(log n)-round engine for diameter-unbounded graphs, kept
    under the identical reachability oracle so both CC engines are
    driver-verified. ``pairs_fn`` as in q_dedup_clusters."""
    return connected_components_star(
        _docs(spark, sf_dir).select("doc_id"),
        (pairs_fn or q_dedup_simhash_pairs)(spark, sf_dir),
        pairs_canonical=True,
    )


def q_dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The filtered corpus itself: only the canonical (min-id) survivor
    of each exact-duplicate group — what a training pipeline actually
    feeds downstream. Pure window + filter: the dedup decision never
    leaves the executor that computed it."""
    docs = _docs(spark, sf_dir)
    hashed = docs.select(
        "doc_id", "lang", "source",
        F.md5(normalize(F.col("text"))).alias("content_hash"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("content_hash")
    return (
        hashed.withColumn("canonical_id", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("canonical_id"))
        .select("doc_id", "lang", "source")
    )


COSINE_TAU = 0.45  # synthetic embeddings top out near 0.5

#: Hard ceiling for the exact all-pairs cosine path. crossJoin is
#: O(n^2): 10^5 rows is ~5x10^9 pairs — already hours; anything past
#: that would never finish. The guard makes the quadratic path
#: unreachable by accident at scale.
EXACT_COSINE_MAX_ROWS = 100_000


def q_dedup_embedding_cosine(
    spark: SparkSession, sf_dir: str, *, exact: bool = False
) -> DataFrame:
    """Near-duplicate id pairs by embedding cosine >= tau — EXACT
    all-pairs crossJoin, the oracle-able twin of the LSH scale path.

    Guarded: refuses corpora above EXACT_COSINE_MAX_ROWS unless
    ``exact=True`` is passed explicitly, pointing the caller to
    q_dedup_embedding_lsh instead. The count() is a parquet
    metadata-only job, so the guard costs no scan."""
    from ..functions.vector import as_double_vec, cosine, norm

    emb = load_table(spark, sf_dir, "embeddings")
    if not exact:
        n = emb.count()
        if n > EXACT_COSINE_MAX_ROWS:
            raise ValueError(
                f"dedup_embedding_cosine is O(n^2) and the corpus has "
                f"{n} rows (> {EXACT_COSINE_MAX_ROWS}). Use "
                f"q_dedup_embedding_lsh for scale, or pass exact=True "
                f"to force the quadratic path."
            )
    from ..functions.layout import ensure_min_parallelism

    v = as_double_vec(F.col("embedding"))
    e = emb.select("vec_id", v.alias("v"), norm(v).alias("nrm"))
    # the crossJoin streams its left side: spread it before the O(n^2)
    # fan-out when the scan has too few row groups (functions/layout.py;
    # 12.7 -> 3.9 s at sf0.1 on 4 vCPUs)
    e1 = ensure_min_parallelism(
        e.select(
            F.col("vec_id").alias("vec_id_1"), F.col("v").alias("v1"),
            F.col("nrm").alias("n1"),
        )
    )
    e2 = e.select(
        F.col("vec_id").alias("vec_id_2"), F.col("v").alias("v2"), F.col("nrm").alias("n2")
    )
    return (
        e1.crossJoin(e2)
        .filter(F.col("vec_id_1") < F.col("vec_id_2"))
        .withColumn(
            "cos",
            cosine(F.col("v1"), F.col("v2"), F.col("n1"), F.col("n2")),
        )
        .filter(F.col("cos") >= COSINE_TAU)
        .select("vec_id_1", "vec_id_2")
    )


def _emb_lsh_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id_1, vec_id_2, cos) for every LSH candidate pair — the
    shared heavy pass of q_dedup_embedding_lsh and the τ sweep: the
    (table, bucket) collision join plus ONE exact-cosine verify; the
    threshold is applied by the caller."""
    from ..functions.vector import as_double_vec, cosine, norm
    from .similarity import _bucketed

    emb = load_table(spark, sf_dir, "embeddings")
    v = as_double_vec(F.col("embedding"))
    e = emb.select("vec_id", v.alias("v"), norm(v).alias("nrm"))
    b = _bucketed(e)
    b1 = b.select(F.col("vec_id").alias("vec_id_1"), "table", "bucket")
    b2 = b.select(F.col("vec_id").alias("vec_id_2"), "table", "bucket")
    cand = (
        b1.join(b2, ["table", "bucket"])
        .filter(F.col("vec_id_1") < F.col("vec_id_2"))
        .select("vec_id_1", "vec_id_2")
        .distinct()
    )
    a1 = e.select(
        F.col("vec_id").alias("vec_id_1"), F.col("v").alias("v1"),
        F.col("nrm").alias("n1"),
    )
    a2 = e.select(
        F.col("vec_id").alias("vec_id_2"), F.col("v").alias("v2"),
        F.col("nrm").alias("n2"),
    )
    return (
        cand.join(a1, "vec_id_1")
        .join(a2, "vec_id_2")
        .select(
            "vec_id_1",
            "vec_id_2",
            cosine(
                F.col("v1"), F.col("v2"), F.col("n1"), F.col("n2")
            ).alias("cos"),
        )
    )


def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH scale path for embedding near-dup: candidate pairs
    collide in >=1 of the L hyperplane hash tables (similarity.PLANES
    — same deterministic construction), then exact cosine >= tau
    verifies. At 100 TB the (table, bucket) join replaces the
    quadratic crossJoin; recall rises with L."""
    return (
        _emb_lsh_scored(spark, sf_dir)
        .filter(F.col("cos") >= COSINE_TAU)
        .select("vec_id_1", "vec_id_2")
    )


def q_dedup_graph_stats(
    spark: SparkSession, sf_dir: str, *, pairs_fn=None
) -> DataFrame:
    """Structure metrics of the simhash near-dup graph — edges,
    wedges, triangles — the density diagnostics that tell a dedup
    pipeline whether its clusters are tight cliques (true duplicates)
    or sprawling chains (threshold too loose).

    Degree-ordered node-iterator triangle counting (the MapReduce
    classic): orient every edge toward its higher-(degree, id)
    endpoint, enumerate wedges at each node's out-neighbors, close
    them against the directed edge set. Orientation bounds every
    node's out-degree by O(sqrt(|E|)), so the wedge join cannot blow
    up on a hub the way naive a<b orientation does — the property
    that matters when one boilerplate doc has 10^6 near-dups.

    ``pairs_fn`` as in q_dedup_clusters: pass
    q_dedup_simhash_wide_pairs above SIMHASH_WIDE_THRESHOLD_DOCS."""
    pairs = (
        (pairs_fn or q_dedup_simhash_pairs)(spark, sf_dir)
        .select("doc_id_1", "doc_id_2")
        .localCheckpoint(eager=True)
    )
    sym = _sym_edges(pairs)
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    e = pairs.join(
        deg.select(F.col("src").alias("doc_id_1"), F.col("deg").alias("d1")),
        "doc_id_1",
    ).join(
        deg.select(F.col("src").alias("doc_id_2"), F.col("deg").alias("d2")),
        "doc_id_2",
    )
    fwd = (F.col("d1") < F.col("d2")) | (
        (F.col("d1") == F.col("d2")) & (F.col("doc_id_1") < F.col("doc_id_2"))
    )
    d = e.select(
        F.when(fwd, F.col("doc_id_1")).otherwise(F.col("doc_id_2")).alias("u"),
        F.when(fwd, F.col("doc_id_2")).otherwise(F.col("doc_id_1")).alias("v"),
        F.when(fwd, F.col("d2")).otherwise(F.col("d1")).alias("dv"),
    ).localCheckpoint(eager=True)
    # Wedge-budget guard: the wedge join emits EXACTLY
    # sum_u C(outdeg(u), 2) rows, computable as a scalar aggregate
    # over the (already materialized) oriented edges before paying for
    # the join. Degree ordering bounds each out-degree by O(sqrt(E)),
    # but a dense boilerplate-heavy corpus can still push the total
    # past what a cluster should spend on a diagnostic — fail fast
    # with the exact number instead of launching an over-budget join.
    n_wedges_exact = (
        d.groupBy("u")
        .agg(F.count(F.lit(1)).alias("od"))
        .agg(
            F.sum(
                F.col("od").cast("decimal(38,0)") * (F.col("od") - 1)
            ).alias("tw")
        )
        .collect()[0][0]
    )
    n_wedges_exact = int(n_wedges_exact or 0) // 2
    if n_wedges_exact > WEDGE_BUDGET:
        raise RuntimeError(
            f"dedup_graph_stats: oriented near-dup graph has "
            f"{n_wedges_exact} wedges (> budget {WEDGE_BUDGET}). The "
            "wedge join would emit that many rows. Tighten the simhash "
            "threshold (SIM_HAM_MAX), run on an edge sample, or raise "
            "WEDGE_BUDGET deliberately."
        )
    w1 = d.select("u", F.col("v").alias("a"), F.col("dv").alias("da"))
    w2 = d.select("u", F.col("v").alias("b"), F.col("dv").alias("db"))
    ordered = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    wedges = w1.join(w2, "u").filter(ordered)
    closing = d.select(
        F.col("u").alias("a"), F.col("v").alias("b"), F.lit(1).alias("m")
    )
    # one pass over the wedge join: count every wedge, and count the
    # closed ones via the left-join match flag — not two separate
    # aggregations that each re-run the join
    counted = wedges.join(closing, ["a", "b"], "left").agg(
        F.count(F.lit(1)).alias("n_wedges"),
        F.count("m").alias("n_triangles"),
    )
    return pairs.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(counted)


PR_TOTAL = 10**12      # total initial mass, integer "mass units"
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100
PR_ITERS = 3


def q_dedup_pagerank(
    spark: SparkSession, sf_dir: str, *, pairs_fn=None
) -> DataFrame:
    """Damped PageRank-style centrality over the simhash near-dup
    graph — the graph-analytics companion to the CC queries: which
    documents sit at the center of boilerplate clusters (a centrality-
    based canonical-keep policy, vs dedup_keep_canonical's min-id).

    EXACT INTEGER formulation so the approximate-structure-free oracle
    holds bit-for-bit: initial mass = TOTAL div n (per doc), each of
    the fixed {PR_ITERS} rounds computes
    mass'(v) = base + (85 * sum_in(mass(u) div deg(u))) div 100 with
    base = (15 * (TOTAL div n)) div 100. All divisions are positive
    integer floors — both engines agree; floor remainders and dangling
    mass simply leak (this is a centrality ORDERING, not a stochastic
    distribution; determinism is the requirement).

    Scale shape: symmetric edge list + degrees checkpointed ONCE
    (lineage truncation per the iterative-loop rule); each round is
    the classic two-shuffle join-aggregate (edges⋈mass on u, groupBy
    v) over a mass table of one row per doc. Rounds are FIXED (K=3),
    not run to convergence — the unrolled DuckDB oracle mirrors the
    exact same K.

    ``pairs_fn`` as in q_dedup_clusters: pass
    q_dedup_simhash_wide_pairs above SIMHASH_WIDE_THRESHOLD_DOCS."""
    docs = _docs(spark, sf_dir).select("doc_id")
    pairs = (pairs_fn or q_dedup_simhash_pairs)(spark, sf_dir)
    sym = pairs.select(
        F.col("doc_id_1").alias("u"), F.col("doc_id_2").alias("v")
    ).unionAll(
        pairs.select(F.col("doc_id_2").alias("u"), F.col("doc_id_1").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    edges = sym.join(deg, "u").localCheckpoint(eager=True)
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    mass = docs.crossJoin(F.broadcast(n_docs)).select(
        "doc_id",
        F.expr(f"CAST({PR_TOTAL} AS BIGINT) div n_docs").alias("mass"),
        F.expr(
            f"(CAST({PR_DAMP_DEN - PR_DAMP_NUM} AS BIGINT)"
            f" * ({PR_TOTAL} div n_docs)) div {PR_DAMP_DEN}"
        ).alias("base"),
    ).localCheckpoint(eager=True)
    for _ in range(PR_ITERS):
        contrib = edges.join(
            mass.select(F.col("doc_id").alias("u"), "mass"), "u"
        ).select(F.col("v").alias("doc_id"), F.expr("mass div deg").alias("c"))
        insum = contrib.groupBy("doc_id").agg(F.sum("c").alias("insum"))
        mass = (
            mass.select("doc_id", "base")
            .join(insum, "doc_id", "left")
            .select(
                "doc_id",
                "base",
                F.expr(
                    f"base + ({PR_DAMP_NUM} *"
                    f" COALESCE(insum, CAST(0 AS BIGINT)))"
                    f" div {PR_DAMP_DEN}"
                ).alias("mass"),
            )
            .localCheckpoint(eager=True)
        )
    # degrees for the output come from the CHECKPOINTED edges (which
    # carry deg per row), not the pre-checkpoint `deg` DataFrame —
    # using `deg` here would re-run the whole simhash-pair pipeline
    # once more at output time, defeating the checkpoint
    out_deg = edges.select(F.col("u").alias("doc_id"), "deg").distinct()
    return (
        mass.join(out_deg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("deg"), F.lit(0)).cast("long").alias("degree"),
            F.col("mass").cast("long").alias("mass_scaled"),
        )
    )


def q_corpus_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the integer-ppm fraction of a document's
    distinct 3-gram shingles that occur in NO other document — the
    inverse of the boilerplate signal (`text_repetition` measures
    repetition WITHIN a doc; this measures uniqueness ACROSS the
    corpus; low novelty + high DF marks template text, high novelty
    marks memorization-risk one-off content).

    Shape: one shingle pass (shared relation checkpointed), DF counts
    (map-side combinable groupBy on the shingle — the same heavy
    reduce the jaccard index pays), join back, per-doc aggregate.
    Documents too short to shingle surface with n_shingles=0 and are
    vacuously novel (ppm=1e6) — the convention both engines encode."""
    docs = _docs(spark, sf_dir)
    sh = _shingle_rows(docs).localCheckpoint(eager=True)
    dfs = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        sh.join(dfs, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("df") == 1).cast("long")).alias("n_unique"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
            F.coalesce("n_unique", F.lit(0)).cast("long").alias("n_unique"),
            F.when(
                F.coalesce("n_shingles", F.lit(0)) == 0, F.lit(1_000_000)
            )
            .otherwise(
                F.expr(
                    "CAST(n_unique AS DECIMAL(38,0)) * 1000000"
                    " div n_shingles"
                )
            )
            .cast("long")
            .alias("novelty_ppm"),
        )
    )


LEV_MAX = 4  # edit-distance threshold for a fuzzy name match


def q_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching by edit distance — the non-hashable dedup
    family member (typos/reformulations that shingle and simhash both
    miss): part-name pairs within levenshtein <= LEV_MAX.

    Scale posture: NEVER lev() on raw rows. (1) distinct-reduce to the
    name dictionary with occurrence counts (the only big shuffle —
    dictionary cardinality, not row count); (2) blocked self-join —
    same last token AND length within LEV_MAX (an edit can change
    length by at most 1, so the band is lossless given the block
    token); (3) levenshtein only on surviving candidates. The O(n²)
    DP-per-pair cost is confined to in-block pairs; the block key is
    the knob when a corpus makes one block hot."""
    part = load_table(spark, sf_dir, "part")
    names = part.groupBy(F.col("p_name").alias("name")).agg(
        F.count(F.lit(1)).alias("n_parts")
    )
    dict_ = names.select(
        "name",
        "n_parts",
        F.element_at(F.split(F.col("name"), " "), -1).alias("blk"),
        F.length("name").alias("ln"),
    )
    a = dict_.select(
        F.col("name").alias("name_1"),
        F.col("n_parts").alias("n_parts_1"),
        F.col("blk"),
        F.col("ln").alias("ln1"),
    )
    b = dict_.select(
        F.col("name").alias("name_2"),
        F.col("n_parts").alias("n_parts_2"),
        F.col("blk"),
        F.col("ln").alias("ln2"),
    )
    return (
        a.join(b, "blk")
        .filter(
            (F.col("name_1") < F.col("name_2"))
            & (F.abs(F.col("ln1") - F.col("ln2")) <= LEV_MAX)
        )
        .withColumn("dist", F.levenshtein("name_1", "name_2"))
        .filter(F.col("dist") <= LEV_MAX)
        .select("name_1", "name_2", "dist", "n_parts_1", "n_parts_2")
    )


def q_dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup ingest: the new batch's MinHash bands probe
    the corpus band index — `dedup_incremental`'s daily-delivery shape
    lifted from exact replays to near-duplicates. At 100 TB the corpus
    band index is a maintained table; only the (small) new batch is
    shingled/banded per delivery, and the band join touches just the
    colliding buckets — the corpus is never re-paired against itself.

    Same 4×4 banding and exact Jaccard verify as dedup_minhash_lsh;
    candidates are (new, corpus) only — no corpus×corpus or new×new
    pairs. Output: verified near-dup matches with overlap counts.

    The maintained-table deployment of this probe is
    `build_minhash_band_index` / `probe_minhash_band_index` below:
    identical banding, with the corpus side read from a bucketed
    catalog table instead of being re-banded per run (parity is
    pinned by tests/test_bucketing.py)."""
    sh = _shingle_rows(_docs(spark, sf_dir)).localCheckpoint(eager=True)
    bands = _minhash_bands(_minhash_signatures(sh))
    is_new = (F.col("doc_id") % INCR_MOD) == INCR_NEW_REM
    bn = bands.filter(is_new).select(
        F.col("doc_id").alias("doc_id_1"), "band", "key"
    )
    bc = bands.filter(~is_new).select(
        F.col("doc_id").alias("doc_id_2"), "band", "key"
    )
    cand = (
        bn.join(bc, ["band", "key"]).select("doc_id_1", "doc_id_2").distinct()
    )
    return _verified_pairs(cand, sh).select(
        F.col("doc_id_1").alias("new_doc_id"),
        F.col("doc_id_2").alias("corpus_doc_id"),
        "common_shingles",
        "shingles_1",
        "shingles_2",
    )


MINHASH_INDEX_TABLE = "minhash_band_index"
#: power-of-2 per the bucket-count contract (sources/bucketing.py)
MINHASH_INDEX_BUCKETS = 8


def build_minhash_band_index(
    spark: SparkSession,
    corpus_docs: DataFrame,
    table: str = MINHASH_INDEX_TABLE,
    n_buckets: int = MINHASH_INDEX_BUCKETS,
) -> None:
    """Materialize the corpus MinHash band index as a BUCKETED catalog
    table — the maintained-table form the incremental probe's
    docstring promises. (band, key, doc_id) rows bucketed+sorted on
    the probe's join keys (band, key): every future delivery's probe
    join plans with NO Exchange on the corpus side — only the small
    new batch shuffles (asserted in tests/test_bucketing.py). At
    100 TB this is the difference between re-shuffling the corpus
    band relation per delivery and never touching it."""
    write_bucketed(
        minhash_bands_for(corpus_docs), table, ["band", "key"], n_buckets
    )


def append_minhash_band_index(
    spark: SparkSession,
    new_docs: DataFrame,
    table: str = MINHASH_INDEX_TABLE,
    n_buckets: int = MINHASH_INDEX_BUCKETS,
) -> None:
    """Index maintenance: band the (small) new delivery and APPEND it
    into the bucketed index — per-document signatures make the index
    append-only (banding a subset == filtering the full banding), so
    the corpus is never re-banded. Append preserves the bucket spec:
    Spark hashes the appended rows into the existing bucket layout, so
    probes stay exchange-free afterwards (test-pinned)."""
    write_bucketed(
        minhash_bands_for(new_docs),
        table,
        ["band", "key"],
        n_buckets,
        mode="append",
    )


def probe_minhash_band_index(
    spark: SparkSession, sf_dir: str, table: str = MINHASH_INDEX_TABLE
) -> DataFrame:
    """`q_dedup_incremental_minhash` with the corpus side read from
    the materialized bucketed index: only the new batch is shingled/
    banded at probe time, and the band join leaves the index scan
    exchange-free. The verify stage still needs shingle arrays for the
    matched corpus docs — the candidate set is tiny, so at scale that
    is a semi-join fetch against the document store, expressed here
    over the same `documents` table. Output schema and rows are
    IDENTICAL to q_dedup_incremental_minhash (parity test-pinned)."""
    docs = _docs(spark, sf_dir)
    is_new = (F.col("doc_id") % INCR_MOD) == INCR_NEW_REM
    bn = minhash_bands_for(docs.filter(is_new)).select(
        F.col("doc_id").alias("doc_id_1"), "band", "key"
    )
    idx = spark.table(table).select(
        F.col("doc_id").alias("doc_id_2"), "band", "key"
    )
    cand = (
        bn.join(idx, ["band", "key"]).select("doc_id_1", "doc_id_2").distinct()
    )
    sh = _shingle_rows(docs).localCheckpoint(eager=True)
    return _verified_pairs(cand, sh).select(
        F.col("doc_id_1").alias("new_doc_id"),
        F.col("doc_id_2").alias("corpus_doc_id"),
        "common_shingles",
        "shingles_1",
        "shingles_2",
    )


SPAN_L = 8  # tokens per rolling gram for substring-span dedup


def substring_grams(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, h) rolling {SPAN_L}-token gram rows — the shared
    fan-out under the span audit, the source-overlap matrix, and the
    streaming gram-index novelty pipeline (all MUST gram identically
    or probes silently miss)."""
    tk = docs.select(
        "doc_id", tokens(F.col("text")).alias("toks")
    ).withColumn("n_tokens", F.size("toks"))
    return tk.filter(F.col("n_tokens") >= SPAN_L).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("n_tokens") - F.lit(SPAN_L - 1)),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.md5(
                        F.concat_ws(
                            " ", F.slice(F.col("toks"), i, F.lit(SPAN_L))
                        )
                    ).alias("h"),
                ),
            )
        ).alias("g"),
    ).select(
        "doc_id", F.col("g.pos").alias("pos"), F.col("g.h").alias("h")
    )


def q_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT SUBSTRING dedup audit (Lee et al. 2022, 'Deduplicating
    Training Data Makes Language Models Better'): per document, how
    much of its text is covered by {SPAN_L}-token runs that appear
    verbatim in OTHER documents — the signal exact-substring dedup
    cuts on, here as the per-doc audit (n_spans maximal duplicated
    spans, dup_tokens covered, integer-ppm coverage).

    Spark-first shape instead of the paper's suffix array: (1) bounded
    rolling-gram fan-out (n-L+1 grams/doc, md5-hashed so the shuffle
    key is uniform 128-bit); (2) (doc, gram) distinct-reduce, then a
    gram groupBy keeps only grams seen in >=2 distinct docs (the
    inverted index never materializes position lists for unique
    grams — at 100 TB the overwhelming majority); (3) hits join back
    (AQE-broadcast: the duplicated-gram dictionary is small), and one
    window per doc merges overlapping [pos, pos+L-1] intervals with
    pure lag() arithmetic: new coverage = min(L, pos - prev), span
    starts where pos > prev + L. All integers; ppm via the
    DECIMAL(38,0) convention."""
    docs = _docs(spark, sf_dir)
    tk = docs.select(
        "doc_id", tokens(F.col("text")).alias("toks")
    ).withColumn("n_tokens", F.size("toks"))
    grams = substring_grams(docs).localCheckpoint(eager=True)
    # checkpoint: shared by dup index AND hits join — without
    # materialization the dominant explode+md5 stage runs twice
    dup = (
        grams.select("doc_id", "h")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    from pyspark.sql import Window

    hits = grams.join(dup, "h").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    cov = hits.withColumn("prev", F.lag("pos").over(w))
    agg = cov.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_positions"),
        F.sum(
            F.when(
                F.col("prev").isNull()
                | (F.col("pos") > F.col("prev") + SPAN_L),
                1,
            ).otherwise(0)
        ).alias("n_spans"),
        F.sum(
            F.when(F.col("prev").isNull(), F.lit(SPAN_L)).otherwise(
                F.least(F.lit(SPAN_L), F.col("pos") - F.col("prev"))
            )
        ).alias("dup_tokens"),
    )
    return (
        tk.select("doc_id", "n_tokens")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce("n_dup_positions", F.lit(0))
            .cast("long")
            .alias("n_dup_positions"),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("dup_tokens", F.lit(0))
            .cast("long")
            .alias("dup_tokens"),
            F.expr(
                "CAST(coalesce(dup_tokens, 0) AS DECIMAL(38,0))"
                " * 1000000 div n_tokens"
            ).alias("dup_ppm"),
        )
    )


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SOURCE contamination matrix: for every pair of upstream
    feeds, how many distinct {SPAN_L}-token runs they share verbatim —
    the feed-level rollup of `dedup_substring_spans` (which source
    pairs are leaking each other's text). Reuses the rolling-gram
    machinery: grams distinct-reduce to (source, h) FIRST (the only
    big shuffle), and the self-join runs on that reduced relation with
    source_1 < source_2 — never on positions.
    Registered in round 6.
    """
    docs = _docs(spark, sf_dir)
    tk = docs.select(
        "source", tokens(F.col("text")).alias("toks")
    ).withColumn("n_tokens", F.size("toks"))
    grams = tk.filter(F.col("n_tokens") >= SPAN_L).select(
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("n_tokens") - F.lit(SPAN_L - 1)),
                lambda i: F.md5(
                    F.concat_ws(
                        " ", F.slice(F.col("toks"), i, F.lit(SPAN_L))
                    )
                ),
            )
        ).alias("h"),
    )
    sh = grams.distinct().localCheckpoint(eager=True)
    a = sh.select(F.col("source").alias("source_1"), "h")
    b = sh.select(F.col("source").alias("source_2"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("source_1") < F.col("source_2"))
        .groupBy("source_1", "source_2")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
    )


QUERIES = {
    "dedup_substring_spans": q_dedup_substring_spans,
    "corpus_novelty": q_corpus_novelty,
    "fuzzy_name_match": q_fuzzy_name_match,
    "dedup_incremental_minhash": q_dedup_incremental_minhash,
    "dedup_pagerank": q_dedup_pagerank,
    "dedup_exact": q_dedup_exact,
    "dedup_graph_stats": q_dedup_graph_stats,
    "dedup_incremental": q_dedup_incremental,
    "dedup_embedding_lsh": q_dedup_embedding_lsh,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash": q_dedup_simhash,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
    "dedup_clusters": q_dedup_clusters,
    "dedup_clusters_star": q_dedup_clusters_star,
    "dedup_keep_canonical": q_dedup_keep_canonical,
    "dedup_embedding_cosine": q_dedup_embedding_cosine,
}

# ---------------------------------------------------------------------------
# DuckDB oracles (generated from the same constants)
# ---------------------------------------------------------------------------

_NORM = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
_SHINGLE_CTES = f"""
docs AS (SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents),
shl AS (SELECT doc_id,
               list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                              for i in range(1, len(toks) - 1)]) AS shs
        FROM docs WHERE len(toks) >= 3),
sh AS MATERIALIZED (SELECT doc_id, unnest(shs) AS sh FROM shl)
""".strip()
# ^ MATERIALIZED: every consumer references sh 2-4 times, and DuckDB
# inlines plain CTEs per reference — at the x320 gate the re-evaluated
# shingle pipeline turned a 15 s verify into a 5-minute timeout
# (measured at x32: sh+shi materialized 11.8 s vs >300 s inlined).

# The verify leg dictionary-encodes shingles to DENSE integer ids
# (row_number over distinct — exact, collision-free), then carries
# each doc's ids as ONE sorted int list and intersects per candidate
# pair. The earlier row-form verify (cand x shingle-row join + 43M-
# group aggregate) let DuckDB pick the exploded ~2.2B-row
# intermediate as a hash-join BUILD side at the x320 gate and spill
# past the disk (measured: 65 GB exhausted). In list form both joins
# build on the doc-level `sets` relation (~1.6M rows x ~600 B at
# x320) and the 43M-pair probe STREAMS — nothing large is ever
# materialized. Output is value-identical: ids only mediate the
# equality the gram strings would have decided, and the lists are
# distinct by construction so len(list_intersect(..)) is exactly the
# shared-gram count.
_VERIFY_SQL = f"""
sdict AS (SELECT sh, row_number() OVER (ORDER BY sh) AS sid
          FROM (SELECT DISTINCT sh FROM sh) u),
sets AS MATERIALIZED (
  SELECT s.doc_id, list_sort(list(d.sid)) AS sids, count(*) AS c
  FROM sh s JOIN sdict d USING (sh)
  GROUP BY s.doc_id),
common AS (
  SELECT p.doc_id_1, p.doc_id_2,
         len(list_intersect(a.sids, b.sids)) AS common_shingles,
         a.c AS c1, b.c AS c2
  FROM cand p
  JOIN sets a ON a.doc_id = p.doc_id_1
  JOIN sets b ON b.doc_id = p.doc_id_2
)
SELECT doc_id_1, doc_id_2, common_shingles,
       c1 AS shingles_1, c2 AS shingles_2
FROM common
WHERE {JACCARD_DEN} * common_shingles
      >= {JACCARD_NUM} * (c1 + c2 - common_shingles)
""".strip()

_MIN_AGGS = ",\n       ".join(
    f"MIN(({A[j]} * h + {B[j]}) % {P}) AS m{j}" for j in range(K)
)
_BAND_SELECTS = "\nUNION ALL\n".join(
    "SELECT doc_id, {b} AS band, {key} AS key FROM sig".format(
        b=b,
        key=" || '_' || ".join(f"m{b * R + r}::VARCHAR" for r in range(R)),
    )
    for b in range(NB)
)

_SIM_BIT_AGGS = ",\n       ".join(
    f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}"
    for i in range(SIMHASH_BITS)
)
_SIM_COMPOSE = " + ".join(
    f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(SIMHASH_BITS)
)
_SIMHASH_CTES = f"""
docs AS (SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents),
tok AS (SELECT doc_id, unnest(list_distinct(toks)) AS t FROM docs),
hs AS (SELECT doc_id, ('0x' || substring(md5(t), 1, 15))::BIGINT AS h FROM tok),
sums AS (SELECT doc_id, {_SIM_BIT_AGGS} FROM hs GROUP BY doc_id),
sim AS (SELECT doc_id, CAST({_SIM_COMPOSE} AS BIGINT) AS simhash FROM sums)
""".strip()

_SIM_BAND_SELECTS = "\nUNION ALL\n".join(
    f"SELECT doc_id, simhash, {b} AS band, "
    f"(simhash >> {b * SIM_BAND_BITS}) & {(1 << SIM_BAND_BITS) - 1} AS key FROM sim"
    for b in range(SIM_BANDS)
)

def _pr_iter_sql(k: int) -> str:
    return f"""
it{k} AS (
  SELECT d.doc_id,
         (SELECT base FROM b)
           + ({PR_DAMP_NUM} * COALESCE(s.insum, 0)) // {PR_DAMP_DEN} AS mass
  FROM documents d
  LEFT JOIN (SELECT e.v AS doc_id, SUM(m.mass // e.deg) AS insum
             FROM e JOIN it{k - 1} m ON m.doc_id = e.u
             GROUP BY e.v) s ON s.doc_id = d.doc_id)""".strip()


_PR_ITER_CTES = ",\n".join(_pr_iter_sql(k) for k in range(1, PR_ITERS + 1))

ORACLES = {
    "fuzzy_name_match": f"""
WITH names AS (
  SELECT p_name AS name, CAST(COUNT(*) AS BIGINT) AS n_parts
  FROM part GROUP BY p_name),
d AS (SELECT name, n_parts,
             string_split(name, ' ')[-1] AS blk,
             length(name) AS ln
      FROM names)
SELECT a.name AS name_1, b.name AS name_2,
       CAST(levenshtein(a.name, b.name) AS INT) AS dist,
       a.n_parts AS n_parts_1, b.n_parts AS n_parts_2
FROM d a JOIN d b
  ON a.blk = b.blk AND a.name < b.name
WHERE abs(a.ln - b.ln) <= {LEV_MAX}
  AND levenshtein(a.name, b.name) <= {LEV_MAX}""",
    "corpus_novelty": f"""
WITH {_SHINGLE_CTES},
dfs AS (SELECT sh.sh, COUNT(*) AS df FROM sh GROUP BY sh.sh),
per_doc AS (
  SELECT sh.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_shingles,
         CAST(COUNT(CASE WHEN dfs.df = 1 THEN 1 END) AS BIGINT) AS n_unique
  FROM sh JOIN dfs ON dfs.sh = sh.sh
  GROUP BY sh.doc_id)
SELECT d.doc_id,
       COALESCE(p.n_shingles, 0) AS n_shingles,
       COALESCE(p.n_unique, 0) AS n_unique,
       CAST(CASE WHEN COALESCE(p.n_shingles, 0) = 0 THEN 1000000
                 ELSE CAST(p.n_unique AS HUGEINT) * 1000000 // p.n_shingles
            END AS BIGINT) AS novelty_ppm
FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id""",
    "dedup_pagerank": f"""
WITH {_SIMHASH_CTES},
bands AS ({_SIM_BAND_SELECTS}),
cand AS (
  SELECT DISTINCT b1.doc_id AS doc_id_1, b2.doc_id AS doc_id_2,
         b1.simhash AS sim1, b2.simhash AS sim2
  FROM bands b1 JOIN bands b2
    ON b1.band = b2.band AND b1.key = b2.key AND b1.doc_id < b2.doc_id
),
prs AS (SELECT doc_id_1, doc_id_2 FROM cand
        WHERE bit_count(xor(sim1, sim2)) <= {SIM_HAM_MAX}),
sym AS (SELECT doc_id_1 AS u, doc_id_2 AS v FROM prs
        UNION ALL SELECT doc_id_2, doc_id_1 FROM prs),
deg AS (SELECT u, COUNT(*) AS deg FROM sym GROUP BY u),
e AS (SELECT sym.u, sym.v, deg.deg FROM sym JOIN deg USING (u)),
n AS (SELECT COUNT(*) AS n FROM documents),
b AS (SELECT ({PR_DAMP_DEN - PR_DAMP_NUM} * ({PR_TOTAL} // n)) // {PR_DAMP_DEN}
        AS base,
             {PR_TOTAL} // n AS m0 FROM n),
it0 AS (SELECT doc_id, (SELECT m0 FROM b) AS mass FROM documents),
{_PR_ITER_CTES}
SELECT d.doc_id,
       CAST(COALESCE(deg.deg, 0) AS BIGINT) AS degree,
       CAST(m.mass AS BIGINT) AS mass_scaled
FROM documents d
JOIN it{PR_ITERS} m ON m.doc_id = d.doc_id
LEFT JOIN deg ON deg.u = d.doc_id""",
    "dedup_exact": f"""
WITH hashed AS (SELECT doc_id, md5({_NORM}) AS content_hash FROM documents),
groups AS (SELECT content_hash, MIN(doc_id) AS canonical_id,
                  COUNT(*) AS group_size
           FROM hashed GROUP BY content_hash)
SELECT h.doc_id, g.canonical_id, g.group_size
FROM hashed h JOIN groups g USING (content_hash)""",
    "dedup_incremental": f"""
WITH hashed AS (SELECT doc_id, md5({_NORM}) AS content_hash FROM documents),
corpus AS (SELECT content_hash, CAST(COUNT(*) AS BIGINT) AS n_corpus_docs
           FROM hashed WHERE doc_id % {INCR_MOD} <> {INCR_NEW_REM}
           GROUP BY content_hash)
SELECT h.doc_id,
       CAST(CASE WHEN c.content_hash IS NULL THEN 1 ELSE 0 END AS INT)
         AS is_novel,
       COALESCE(c.n_corpus_docs, 0) AS n_corpus_docs
FROM hashed h LEFT JOIN corpus c USING (content_hash)
WHERE h.doc_id % {INCR_MOD} = {INCR_NEW_REM}""",
    "dedup_ngram_jaccard": f"""
WITH {_SHINGLE_CTES},
dfs AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh),
ranked AS (
  SELECT s.doc_id, s.sh, d.df,
         ROW_NUMBER() OVER (PARTITION BY s.doc_id ORDER BY d.df, s.sh)
           AS rk
  FROM sh s JOIN dfs d USING (sh)),
idx AS (SELECT doc_id, sh FROM ranked
        WHERE df <= {MAX_SHINGLE_DF} OR rk <= {RARE_KEEP_PER_DOC}),
cand AS (
  SELECT DISTINCT s1.doc_id AS doc_id_1, s2.doc_id AS doc_id_2
  FROM idx s1 JOIN idx s2 ON s1.sh = s2.sh AND s1.doc_id < s2.doc_id
),
{_VERIFY_SQL}""",
    "dedup_minhash_lsh": f"""
WITH {_SHINGLE_CTES},
hs AS (SELECT doc_id,
              (('0x' || substring(md5(sh), 1, 15))::BIGINT % {P}) AS h
       FROM sh),
sig AS (SELECT doc_id, {_MIN_AGGS} FROM hs GROUP BY doc_id),
bands AS ({_BAND_SELECTS}),
cand AS (
  SELECT DISTINCT b1.doc_id AS doc_id_1, b2.doc_id AS doc_id_2
  FROM bands b1 JOIN bands b2
    ON b1.band = b2.band AND b1.key = b2.key AND b1.doc_id < b2.doc_id
),
{_VERIFY_SQL}""",
    "dedup_incremental_minhash": f"""
WITH {_SHINGLE_CTES},
hs AS (SELECT doc_id,
              (('0x' || substring(md5(sh), 1, 15))::BIGINT % {P}) AS h
       FROM sh),
sig AS (SELECT doc_id, {_MIN_AGGS} FROM hs GROUP BY doc_id),
bands AS ({_BAND_SELECTS}),
cand AS (
  SELECT DISTINCT b1.doc_id AS doc_id_1, b2.doc_id AS doc_id_2
  FROM bands b1 JOIN bands b2
    ON b1.band = b2.band AND b1.key = b2.key
  WHERE b1.doc_id % {INCR_MOD} = {INCR_NEW_REM}
    AND b2.doc_id % {INCR_MOD} <> {INCR_NEW_REM}
),
cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
common AS (
  SELECT p.doc_id_1, p.doc_id_2, count(*) AS common_shingles
  FROM cand p
  JOIN sh s1 ON s1.doc_id = p.doc_id_1
  JOIN sh s2 ON s2.doc_id = p.doc_id_2 AND s2.sh = s1.sh
  GROUP BY p.doc_id_1, p.doc_id_2
)
SELECT doc_id_1 AS new_doc_id, doc_id_2 AS corpus_doc_id,
       common_shingles,
       c1.c AS shingles_1, c2.c AS shingles_2
FROM common
JOIN cnt c1 ON doc_id_1 = c1.doc_id
JOIN cnt c2 ON doc_id_2 = c2.doc_id
WHERE {JACCARD_DEN} * common_shingles
      >= {JACCARD_NUM} * (c1.c + c2.c - common_shingles)""",
    "dedup_simhash": f"""
WITH {_SIMHASH_CTES}
SELECT doc_id, simhash FROM sim""",
    "dedup_simhash_pairs": f"""
WITH {_SIMHASH_CTES},
bands AS ({_SIM_BAND_SELECTS}),
cand AS (
  SELECT DISTINCT b1.doc_id AS doc_id_1, b2.doc_id AS doc_id_2,
         b1.simhash AS sim1, b2.simhash AS sim2
  FROM bands b1 JOIN bands b2
    ON b1.band = b2.band AND b1.key = b2.key AND b1.doc_id < b2.doc_id
)
SELECT doc_id_1, doc_id_2,
       CAST(bit_count(xor(sim1, sim2)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(sim1, sim2)) <= {SIM_HAM_MAX}""",
    "dedup_graph_stats": f"""
WITH {_SIMHASH_CTES},
bands AS ({_SIM_BAND_SELECTS}),
cand AS (
  SELECT DISTINCT b1.doc_id AS doc_id_1, b2.doc_id AS doc_id_2,
         b1.simhash AS sim1, b2.simhash AS sim2
  FROM bands b1 JOIN bands b2
    ON b1.band = b2.band AND b1.key = b2.key AND b1.doc_id < b2.doc_id
),
prs AS (SELECT doc_id_1, doc_id_2 FROM cand
        WHERE bit_count(xor(sim1, sim2)) <= {SIM_HAM_MAX}),
sym AS (SELECT doc_id_1 AS s FROM prs UNION ALL SELECT doc_id_2 FROM prs),
deg AS (SELECT s AS n, COUNT(*) AS deg FROM sym GROUP BY s),
d AS (
  SELECT CASE WHEN (g1.deg, prs.doc_id_1) < (g2.deg, prs.doc_id_2)
              THEN prs.doc_id_1 ELSE prs.doc_id_2 END AS u,
         CASE WHEN (g1.deg, prs.doc_id_1) < (g2.deg, prs.doc_id_2)
              THEN prs.doc_id_2 ELSE prs.doc_id_1 END AS v,
         CASE WHEN (g1.deg, prs.doc_id_1) < (g2.deg, prs.doc_id_2)
              THEN g2.deg ELSE g1.deg END AS dv
  FROM prs JOIN deg g1 ON g1.n = prs.doc_id_1
           JOIN deg g2 ON g2.n = prs.doc_id_2),
w AS (SELECT w1.u, w1.v AS a, w2.v AS b
      FROM d w1 JOIN d w2 ON w1.u = w2.u
      WHERE (w1.dv, w1.v) < (w2.dv, w2.v)),
wl AS (SELECT w.a, c.u AS m
       FROM w LEFT JOIN d c ON c.u = w.a AND c.v = w.b)
SELECT (SELECT COUNT(*) FROM prs) AS n_edges,
       COUNT(*) AS n_wedges,
       COUNT(m) AS n_triangles
FROM wl""",
    "dedup_keep_canonical": f"""
WITH hashed AS (SELECT doc_id, lang, source, md5({_NORM}) AS content_hash
                FROM documents)
SELECT doc_id, lang, source FROM (
  SELECT doc_id, lang, source,
         MIN(doc_id) OVER (PARTITION BY content_hash) AS canonical_id
  FROM hashed)
WHERE doc_id = canonical_id""",
    "dedup_clusters": f"""
WITH RECURSIVE {_SIMHASH_CTES},
bands AS ({_SIM_BAND_SELECTS}),
cand AS (
  SELECT DISTINCT b1.doc_id AS doc_id_1, b2.doc_id AS doc_id_2
  FROM bands b1 JOIN bands b2
    ON b1.band = b2.band AND b1.key = b2.key AND b1.doc_id < b2.doc_id
   AND bit_count(xor(b1.simhash, b2.simhash)) <= {SIM_HAM_MAX}
),
edges AS (
  SELECT doc_id_1 AS a, doc_id_2 AS b FROM cand
  UNION ALL
  SELECT doc_id_2, doc_id_1 FROM cand
),
reach(n, m) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.n, e.b FROM reach r JOIN edges e ON e.a = r.m
)
SELECT n AS doc_id, MIN(m) AS cluster_id FROM reach GROUP BY n""",
    "dedup_clusters_star": None,  # same reachability oracle, filled below
    "dedup_embedding_lsh": None,  # filled below (needs similarity's bucket SQL)
    "dedup_embedding_cosine": f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= {COSINE_TAU}""",
}


def _embedding_lsh_oracle() -> str:
    # the banded bucket SQL is owned by similarity (same PLANES on
    # both engines); build this oracle from it so the two stay in sync
    from .similarity import BANDS_SQL

    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
bands AS ({BANDS_SQL}),
cand AS (
  SELECT DISTINCT b1.vec_id AS vec_id_1, b2.vec_id AS vec_id_2
  FROM bands b1 JOIN bands b2
    ON b1.table_id = b2.table_id AND b1.bucket = b2.bucket
   AND b1.vec_id < b2.vec_id)
SELECT vec_id_1, vec_id_2
FROM cand
JOIN n a ON a.vec_id = vec_id_1
JOIN n b ON b.vec_id = vec_id_2
WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= {COSINE_TAU}"""


ORACLES["dedup_embedding_lsh"] = _embedding_lsh_oracle()
# both CC engines answer to the same reachability oracle
ORACLES["dedup_clusters_star"] = ORACLES["dedup_clusters"]


def q_dedup_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup clusters: the star-CC engine over the banded
    embedding-LSH pair graph — the second pair source proving the CC
    engine composes (simhash pairs being the first). Returns
    (vec_id, cluster_id) for every embedding row."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id")
    pairs = q_dedup_embedding_lsh(spark, sf_dir).select(
        F.col("vec_id_1").alias("doc_id_1"),
        F.col("vec_id_2").alias("doc_id_2"),
    )
    return connected_components_star(
        emb.select(F.col("vec_id").alias("doc_id")),
        pairs,
        pairs_canonical=True,
    ).select(F.col("doc_id").alias("vec_id"), "cluster_id")


QUERIES["dedup_embedding_clusters"] = q_dedup_embedding_clusters
ORACLES["dedup_embedding_clusters"] = f"""
WITH RECURSIVE prs AS ({_embedding_lsh_oracle()}),
edges AS (
  SELECT vec_id_1 AS a, vec_id_2 AS b FROM prs
  UNION ALL
  SELECT vec_id_2, vec_id_1 FROM prs
),
reach(n, m) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT r.n, e.b FROM reach r JOIN edges e ON e.a = r.m
)
SELECT n AS vec_id, MIN(m) AS cluster_id FROM reach GROUP BY n"""


ORACLES["dedup_substring_spans"] = f"""
WITH t AS (SELECT doc_id, string_split({_NORM}, ' ') AS toks
           FROM documents),
tk AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens FROM t),
g AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(toks[i:i+{SPAN_L - 1}], ' ')) AS h
  FROM tk, unnest(range(1, n_tokens - {SPAN_L - 2})) AS u(i)
  WHERE n_tokens >= {SPAN_L}),
pd AS (SELECT DISTINCT doc_id, h FROM g),
dup AS (SELECT h FROM pd GROUP BY h HAVING COUNT(*) >= 2),
hits AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (h)),
cov AS (SELECT doc_id, pos,
               lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM hits),
agg AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_dup_positions,
         CAST(SUM(CASE WHEN prev IS NULL OR pos > prev + {SPAN_L}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
         CAST(SUM(CASE WHEN prev IS NULL THEN {SPAN_L}
                       ELSE least({SPAN_L}, pos - prev) END) AS BIGINT)
           AS dup_tokens
  FROM cov GROUP BY doc_id)
SELECT tk.doc_id, tk.n_tokens,
       COALESCE(a.n_dup_positions, 0) AS n_dup_positions,
       COALESCE(a.n_spans, 0) AS n_spans,
       COALESCE(a.dup_tokens, 0) AS dup_tokens,
       CAST(CAST(COALESCE(a.dup_tokens, 0) AS HUGEINT) * 1000000
            // tk.n_tokens AS BIGINT) AS dup_ppm
FROM tk LEFT JOIN agg a USING (doc_id)"""


KCORE_K = 2          # core order: min within-core degree
KCORE_MAX_ROUNDS = 30


def kcore_decompose(
    spark: SparkSession, sf_dir: str, k: int = KCORE_K, *, pairs_fn=None
) -> DataFrame:
    """k-core of the simhash near-dup graph: the MAXIMAL subgraph in
    which every vertex keeps >= k neighbors — the standard "dense
    duplication community" extractor (chains and stragglers peel
    away; what survives is boilerplate/template mass worth a human
    look). Iterative peeling: drop all vertices with degree < k,
    recompute degrees, repeat to fixpoint. Peeling is confluent (the
    k-core is unique), so round order can't change the answer.

    Iteration discipline (the CC/star rules): edges localCheckpoint
    ONCE up front; each round recomputes degrees with ONE
    map-side-combinable groupBy + a semi-join filter and re-
    checkpoints the SHRINKING edge set (plan stays 2 nodes deep);
    convergence = edge-count fixpoint, already tracked by the
    checkpoint's count, bounded by KCORE_MAX_ROUNDS (degeneracy
    rounds; ~log-ish in practice, each round strictly shrinks or
    stops). Not SQL-expressible — pinned by an exact Python-reference
    parity test instead of a DuckDB oracle (the dedup_clusters
    pattern).

    Output: (doc_id, core_deg) for every vertex in the k-core, where
    core_deg is its final within-core degree (>= k by construction,
    asserted in test).

    ``pairs_fn`` as in q_dedup_clusters: pass
    q_dedup_simhash_wide_pairs above SIMHASH_WIDE_THRESHOLD_DOCS to
    ride the near-linear 120-bit relation (default: the registered
    60-bit pair finder, which raises above the threshold)."""
    pairs = (
        (pairs_fn or q_dedup_simhash_pairs)(spark, sf_dir)
        .select("doc_id_1", "doc_id_2")
    )
    edges = _sym_edges(pairs).localCheckpoint(eager=True)
    n_edges = edges.count()
    for _ in range(KCORE_MAX_ROUNDS):
        if n_edges == 0:
            break
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("src")
        nxt = (
            edges.join(keep, "src", "semi")
            .join(
                keep.select(F.col("src").alias("dst")), "dst", "semi"
            )
            .localCheckpoint(eager=True)
        )
        n_nxt = nxt.count()
        edges = nxt
        if n_nxt == n_edges:
            break
        n_edges = n_nxt
    # a final peel makes the documented core_deg >= k invariant hold
    # UNCONDITIONALLY: if the round bound was exhausted before the
    # edge-count fixpoint, residual sub-k vertices are dropped here
    # (one extra filter, a no-op when the loop converged).
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("core_deg"))
    return deg.filter(F.col("core_deg") >= k).select(
        F.col("src").alias("doc_id"),
        F.col("core_deg").cast("long").alias("core_deg"),
    )


CONTAIN_NUM, CONTAIN_DEN = 4, 5  # containment threshold 0.8


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection by shingle CONTAINMENT
    (Broder's other resemblance measure): a short document pasted
    inside a longer one scores near-zero Jaccard (the union is huge)
    but containment |A∩B|/min(|A|,|B|) ≈ 1 — the boilerplate-
    wrapped / quote-expansion case symmetric dedup misses, and the
    direction LLM decontamination actually cares about (is the
    benchmark INSIDE the crawl page?).
    Registered in round 6.

    Candidates come from the SAME MinHash band join as
    dedup_minhash_lsh (one banding serves both measures — MinHash
    collision probability tracks Jaccard, so extreme-containment
    pairs with tiny Jaccard can escape banding: recall here is
    scoped to pairs the bands surface, documented, same trade as the
    DF-capped jaccard index); verify swaps the Jaccard filter for
    integer containment on both directions, emitting per-side
    containment ppm so the consumer sees WHICH side is swallowed."""
    sh = _shingle_rows(_docs(spark, sf_dir))
    per_doc = _minhash_per_doc(sh).localCheckpoint(eager=True)
    cand, a1, a2 = _banded_verified(per_doc)
    common = F.size(
        F.array_intersect(F.col("shs1"), F.col("shs2"))
    ).cast("long")
    return (
        cand.join(a1, "doc_id_1")
        .join(a2, "doc_id_2")
        .withColumn("common_shingles", common)
        .filter(
            CONTAIN_DEN * F.col("common_shingles")
            >= CONTAIN_NUM * F.least("shingles_1", "shingles_2")
        )
        .select(
            "doc_id_1",
            "doc_id_2",
            "common_shingles",
            "shingles_1",
            "shingles_2",
            F.expr(
                "CAST(common_shingles * 1000000 div shingles_1"
                " AS BIGINT)"
            ).alias("contain_1_ppm"),
            F.expr(
                "CAST(common_shingles * 1000000 div shingles_2"
                " AS BIGINT)"
            ).alias("contain_2_ppm"),
        )
    )


#: DuckDB twin of dedup_containment (round-6+ registration).
CONTAINMENT_ORACLE = f"""
WITH {_SHINGLE_CTES},
hs AS (SELECT doc_id,
              (('0x' || substring(md5(sh), 1, 15))::BIGINT % {P}) AS h
       FROM sh),
sig AS (SELECT doc_id, {_MIN_AGGS} FROM hs GROUP BY doc_id),
bands AS ({_BAND_SELECTS}),
cand AS (
  SELECT DISTINCT b1.doc_id AS doc_id_1, b2.doc_id AS doc_id_2
  FROM bands b1 JOIN bands b2
    ON b1.band = b2.band AND b1.key = b2.key AND b1.doc_id < b2.doc_id
),
sdict AS (SELECT sh, row_number() OVER (ORDER BY sh) AS sid
          FROM (SELECT DISTINCT sh FROM sh) u),
sets AS MATERIALIZED (
  SELECT s.doc_id, list_sort(list(d.sid)) AS sids, count(*) AS c
  FROM sh s JOIN sdict d USING (sh)
  GROUP BY s.doc_id),
common AS (
  SELECT p.doc_id_1, p.doc_id_2,
         len(list_intersect(a.sids, b.sids)) AS common_shingles,
         a.c AS c1, b.c AS c2
  FROM cand p
  JOIN sets a ON a.doc_id = p.doc_id_1
  JOIN sets b ON b.doc_id = p.doc_id_2
)
SELECT doc_id_1, doc_id_2, common_shingles,
       c1 AS shingles_1, c2 AS shingles_2,
       CAST(common_shingles * 1000000 // c1 AS BIGINT)
         AS contain_1_ppm,
       CAST(common_shingles * 1000000 // c2 AS BIGINT)
         AS contain_2_ppm
FROM common
WHERE {CONTAIN_DEN} * common_shingles
      >= {CONTAIN_NUM} * least(c1, c2)"""


AUDIT_MOD = 8  # content-key residue classes kept in the audit sample


def lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURE the MinHash banding's recall instead of trusting the
    1-(1-J^r)^b formula: on a bounded CONTENT-KEYED doc sample, all
    within-sample pairs get an EXACT Jaccard verdict, and each true
    near-dup pair is checked for >= 1 band collision. Output is one
    row: sample size, pairs, true dups, caught dups, recall ppm —
    the continuously-runnable self-audit that tells a production
    dedup pipeline when its banding has drifted off its recall
    budget (threshold moved, shingle distribution changed).
    Registered in round 6.

    Sampling is the design decision here: a UNIFORM doc sample
    almost never contains BOTH endpoints of a rare dup pair
    (P ~ dup_count/MOD^2 — measured 0 true pairs even at 1/8 on this
    corpus), so the sample key is the doc's MINIMUM 'audit'-hashed
    shingle: near-dups share their min shingle with probability >= J,
    so true pairs co-sample at ~J/MOD instead of 1/MOD^2 (measured
    2-3 true pairs per run at 1/8). The 'audit' namespace keeps the
    sampling hash INDEPENDENT of the signature permutations — keying
    on the production MinHash would bias the audit toward pairs the
    banding already catches.

    Scale shape: one shingle pass computes the sample keys (the
    audit's one corpus-wide term, map-side combinable); the only
    quadratic term is within the bounded sample (a broadcast
    self-join — grow AUDIT_MOD with the corpus to hold the pair
    budget); signatures reuse the production expressions, so the
    audit measures EXACTLY the deployed banding."""
    sh_all = _shingle_rows(_docs(spark, sf_dir))
    keys = sh_all.groupBy("doc_id").agg(
        F.min(
            md5_long(F.concat(F.lit("audit"), F.col("sh")))
        ).alias("mk")
    )
    samp = keys.filter(F.col("mk") % AUDIT_MOD == 0).select("doc_id")
    sh = sh_all.join(
        F.broadcast(samp), "doc_id", "semi"
    ).localCheckpoint(eager=True)
    arrs = sh.groupBy("doc_id").agg(
        F.collect_list("sh").alias("shs"), F.count("*").alias("c")
    )
    a1 = arrs.select(
        F.col("doc_id").alias("doc_id_1"), F.col("shs").alias("shs1"),
        F.col("c").alias("c1"),
    )
    a2 = arrs.select(
        F.col("doc_id").alias("doc_id_2"), F.col("shs").alias("shs2"),
        F.col("c").alias("c2"),
    )
    common = F.size(
        F.array_intersect(F.col("shs1"), F.col("shs2"))
    ).cast("long")
    pairs = (
        F.broadcast(a1)
        .crossJoin(a2)
        .filter(F.col("doc_id_1") < F.col("doc_id_2"))
        .withColumn("common", common)
        .withColumn(
            "is_true",
            (
                JACCARD_DEN * F.col("common")
                >= JACCARD_NUM * (F.col("c1") + F.col("c2") - F.col("common"))
            ).cast("long"),
        )
        .select("doc_id_1", "doc_id_2", "is_true")
    )
    bands = _minhash_bands(_minhash_signatures(sh))
    b1 = bands.select(F.col("doc_id").alias("doc_id_1"), "band", "key")
    b2 = bands.select(F.col("doc_id").alias("doc_id_2"), "band", "key")
    hits = (
        b1.join(b2, ["band", "key"])
        .filter(F.col("doc_id_1") < F.col("doc_id_2"))
        .select("doc_id_1", "doc_id_2")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    joined = pairs.join(hits, ["doc_id_1", "doc_id_2"], "left")
    n_docs = arrs.count()
    return joined.agg(
        F.lit(n_docs).cast("long").alias("n_sample_docs"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("is_true").cast("long").alias("n_true"),
        F.sum(
            F.col("is_true") * F.coalesce(F.col("hit"), F.lit(0))
        ).cast("long").alias("n_caught"),
        F.expr(
            "CAST(CASE WHEN sum(is_true) = 0 THEN 1000000 "
            "ELSE sum(is_true * coalesce(hit, 0)) * 1000000 "
            "div sum(is_true) END AS BIGINT)"
        ).alias("recall_ppm"),
    )


#: DuckDB twin of lsh_recall_audit (round-6+ registration).
LSH_RECALL_ORACLE = f"""
WITH docs0 AS (SELECT doc_id, string_split({_NORM}, ' ') AS toks
               FROM documents),
shl0 AS (SELECT doc_id,
                list_distinct([toks[i] || ' ' || toks[i+1] || ' '
                               || toks[i+2]
                               for i in range(1, len(toks) - 1)]) AS shs
         FROM docs0 WHERE len(toks) >= 3),
sh0 AS (SELECT doc_id, unnest(shs) AS sh FROM shl0),
keys AS (SELECT doc_id,
                MIN(('0x' || substring(md5('audit' || sh), 1, 15))
                    ::BIGINT) AS mk
         FROM sh0 GROUP BY doc_id),
samp AS (SELECT doc_id FROM keys WHERE mk % {AUDIT_MOD} = 0),
sh AS (SELECT sh0.* FROM sh0 JOIN samp USING (doc_id)),
cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
com AS (
  SELECT s1.doc_id AS doc_id_1, s2.doc_id AS doc_id_2,
         count(*) AS common
  FROM sh s1 JOIN sh s2 ON s1.sh = s2.sh AND s1.doc_id < s2.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT c1.doc_id AS doc_id_1, c2.doc_id AS doc_id_2,
         CASE WHEN {JACCARD_DEN} * COALESCE(com.common, 0)
                   >= {JACCARD_NUM} * (c1.c + c2.c
                                       - COALESCE(com.common, 0))
              THEN 1 ELSE 0 END AS is_true
  FROM cnt c1 JOIN cnt c2 ON c1.doc_id < c2.doc_id
  LEFT JOIN com ON com.doc_id_1 = c1.doc_id
               AND com.doc_id_2 = c2.doc_id),
hs AS (SELECT doc_id,
              (('0x' || substring(md5(sh), 1, 15))::BIGINT % {P}) AS h
       FROM sh),
sig AS (SELECT doc_id, {_MIN_AGGS} FROM hs GROUP BY doc_id),
bands AS ({_BAND_SELECTS}),
hits AS (
  SELECT DISTINCT b1.doc_id AS doc_id_1, b2.doc_id AS doc_id_2
  FROM bands b1 JOIN bands b2
    ON b1.band = b2.band AND b1.key = b2.key AND b1.doc_id < b2.doc_id)
SELECT CAST((SELECT count(*) FROM cnt) AS BIGINT) AS n_sample_docs,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(SUM(is_true) AS BIGINT) AS n_true,
       CAST(SUM(CASE WHEN is_true = 1 AND hits.doc_id_1 IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_caught,
       CAST(CASE WHEN SUM(is_true) = 0 THEN 1000000
            ELSE SUM(CASE WHEN is_true = 1
                          AND hits.doc_id_1 IS NOT NULL
                          THEN 1 ELSE 0 END) * 1000000
                 // SUM(is_true) END AS BIGINT) AS recall_ppm
FROM pairs
LEFT JOIN hits ON hits.doc_id_1 = pairs.doc_id_1
              AND hits.doc_id_2 = pairs.doc_id_2"""


# --- Round-6 registrations into the driver contract
# --- (queries()/oracle_sql()).
QUERIES["dedup_containment"] = dedup_containment
ORACLES["dedup_containment"] = CONTAINMENT_ORACLE
QUERIES["lsh_recall_audit"] = lsh_recall_audit
ORACLES["lsh_recall_audit"] = LSH_RECALL_ORACLE


# Round-6 registration of the r6 prebuild: the Python-twin-pinned
# cross-source contamination matrix gets a DuckDB oracle.
QUERIES["source_overlap_matrix"] = source_overlap_matrix

ORACLES["source_overlap_matrix"] = f"""
WITH t AS (SELECT source, string_split({_NORM}, ' ') AS toks
           FROM documents),
tk AS (SELECT source, toks, CAST(len(toks) AS BIGINT) AS n_tokens FROM t),
g AS (
  SELECT source,
         md5(array_to_string(toks[i:i+{SPAN_L - 1}], ' ')) AS h
  FROM tk, unnest(range(1, n_tokens - {SPAN_L - 2})) AS u(i)
  WHERE n_tokens >= {SPAN_L}),
sh AS (SELECT DISTINCT source, h FROM g)
SELECT a.source AS source_1, b.source AS source_2,
       CAST(COUNT(*) AS BIGINT) AS shared_grams
FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
GROUP BY 1, 2"""


def dedup_cluster_size_histogram(
    spark: SparkSession, sf_dir: str, *, pairs_fn=None
) -> DataFrame:
    """Near-dup community structure at a glance: connected-component
    cluster sizes bucketed (1 / 2 / 3-4 / 5-8 / 9+) with cluster and
    document totals per bucket — singletons are unique docs, the 9+
    tail is template/boilerplate mass worth a human look (the k-core
    question, answered cheaply). Composes the proven CC labeling
    (q_dedup_clusters) with two tiny rollups. Registered in round 6.
    ``pairs_fn`` forwards to q_dedup_clusters (the 100 TB path rides
    the 120-bit relation)."""
    labels = q_dedup_clusters(spark, sf_dir, pairs_fn=pairs_fn)
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    bucket = (
        F.when(F.col("n") == 1, F.lit("1"))
        .when(F.col("n") == 2, F.lit("2"))
        .when(F.col("n") <= 4, F.lit("3-4"))
        .when(F.col("n") <= 8, F.lit("5-8"))
        .otherwise(F.lit("9+"))
    )
    return sizes.groupBy(bucket.alias("size_bucket")).agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("n").cast("long").alias("n_docs"),
        F.min("n").cast("long").alias("min_size"),
        F.max("n").cast("long").alias("max_size"),
    )


def _cluster_hist_oracle() -> str:
    """DuckDB twin (r7 registration): the registered dedup_clusters
    oracle as a FROM-subquery (DuckDB allows WITH RECURSIVE inside a
    parenthesized subquery) under the same two rollups."""
    base = ORACLES["dedup_clusters"]
    return f"""
SELECT CASE WHEN n = 1 THEN '1' WHEN n = 2 THEN '2'
            WHEN n <= 4 THEN '3-4' WHEN n <= 8 THEN '5-8'
            ELSE '9+' END AS size_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(n) AS BIGINT) AS n_docs,
       CAST(MIN(n) AS BIGINT) AS min_size,
       CAST(MAX(n) AS BIGINT) AS max_size
FROM (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n
  FROM ({base}) b GROUP BY cluster_id
) sizes GROUP BY 1"""


CLUSTER_HIST_ORACLE = _cluster_hist_oracle()


QUERIES["dedup_cluster_size_histogram"] = dedup_cluster_size_histogram
ORACLES["dedup_cluster_size_histogram"] = CLUSTER_HIST_ORACLE


#: table -> sf_dir the in-process build used (catalog entries are
#: session-scoped, so process lifetime bounds this memo)
_MINHASH_INDEX_SOURCE: dict = {}


def q_dedup_minhash_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dedup_incremental_minhash` answered FROM the maintained
    corpus band index: builds the bucketed index table once per
    session if absent (the train-once posture — in production the
    table already exists), then probes it exchange-free on the index
    side. Output is row-identical to the in-query probe, so the SAME
    oracle attests the maintained-table path under the driver —
    closing the band index's tests-only status. Registered r6."""
    if (
        not spark.catalog.tableExists(MINHASH_INDEX_TABLE)
        or _MINHASH_INDEX_SOURCE.get(MINHASH_INDEX_TABLE) != sf_dir
    ):
        # rebuild when the session's index was built from a DIFFERENT
        # sf_dir (one corpus per index — probing a mismatched index
        # would silently return wrong matches)
        docs = _docs(spark, sf_dir)
        is_new = (F.col("doc_id") % INCR_MOD) == INCR_NEW_REM
        build_minhash_band_index(spark, docs.filter(~is_new))
        _MINHASH_INDEX_SOURCE[MINHASH_INDEX_TABLE] = sf_dir
    return probe_minhash_band_index(spark, sf_dir)


QUERIES["dedup_minhash_index_probe"] = q_dedup_minhash_index_probe
ORACLES["dedup_minhash_index_probe"] = ORACLES["dedup_incremental_minhash"]


# ---------------------------------------------------------------------------
# Round-8 operators.
# ---------------------------------------------------------------------------

def pair_rate_matrix(
    pairs: DataFrame, labels: DataFrame, col: str, rate_col: str
) -> DataFrame:
    """Unordered label-pair duplicate-rate rollup shared by
    source_dup_matrix (labels = sources) and sampling's
    split_leakage_audit (labels = hash splits): each (doc_id_1,
    doc_id_2) pair is labeled from `labels` (doc_id, <col>),
    canonicalized with least/greatest, and rolled up to a count and
    an exact-integer rate per possible pair (C(n,2) within a label,
    n_a x n_b across). Counts WIDEN to DECIMAL(38,0) before the
    denominator product — two long doc counts can overflow int64
    under ANSI mode at corpus scale (n_possible itself is emitted as
    BIGINT, which bounds the *reportable* cell at 2^63 possible
    pairs; the rate math never overflows).

    Scale: the pair relation is LSH-bounded, labeling joins ship
    |pairs| rows against broadcast-size label projections, the
    matrix is |labels|^2 cells.

    PRECONDITION: `labels` must cover every doc_id appearing in
    `pairs` — the labeling joins are INNER, so a pair whose doc has
    no label row is silently dropped and the matrix under-counts.
    Both current callers label from the same `documents` scan that
    produced the pairs, so coverage is total by construction; a
    caller passing a partial label projection must pre-join or map
    missing docs to an explicit UNKNOWN label instead."""
    a_col, b_col = f"{col}_a", f"{col}_b"
    per = labels.groupBy(col).agg(F.count(F.lit(1)).alias("n"))
    sa = labels.select(
        F.col("doc_id").alias("doc_id_1"), F.col(col).alias("la")
    )
    sb = labels.select(
        F.col("doc_id").alias("doc_id_2"), F.col(col).alias("lb")
    )
    lab = (
        pairs.join(sa, "doc_id_1")
        .join(sb, "doc_id_2")
        .select(
            F.least("la", "lb").alias(a_col),
            F.greatest("la", "lb").alias(b_col),
        )
    )
    agg = lab.groupBy(a_col, b_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_pairs")
    )
    na = per.select(F.col(col).alias(a_col), F.col("n").alias("n_docs_a"))
    nb = per.select(F.col(col).alias(b_col), F.col("n").alias("n_docs_b"))
    out = agg.join(F.broadcast(na), a_col).join(F.broadcast(nb), b_col)
    poss = (
        f"CASE WHEN {a_col} = {b_col}"
        " THEN CAST(n_docs_a AS DECIMAL(38,0)) * (n_docs_a - 1) div 2"
        " ELSE CAST(n_docs_a AS DECIMAL(38,0)) * n_docs_b END"
    )
    return out.select(
        a_col,
        b_col,
        "n_dup_pairs",
        F.col("n_docs_a").cast("long").alias("n_docs_a"),
        F.col("n_docs_b").cast("long").alias("n_docs_b"),
        F.expr(f"CAST({poss} AS BIGINT)").alias("n_possible"),
        F.expr(
            "CAST(CAST(n_dup_pairs AS DECIMAL(38,0)) * 1000000"
            f" div ({poss}) AS BIGINT)"
        ).alias(rate_col),
    )


def pair_rate_matrix_sql(label_select: str, col: str, rate_col: str) -> str:
    """DuckDB twin of pair_rate_matrix over the registered minhash
    pair oracle; `label_select` yields (doc_id, <col>)."""
    return f"""
WITH lsrc AS ({label_select}),
per AS (SELECT {col}, CAST(COUNT(*) AS BIGINT) AS n
        FROM lsrc GROUP BY {col}),
lab AS (SELECT least(pa.{col}, pb.{col}) AS {col}_a,
               greatest(pa.{col}, pb.{col}) AS {col}_b
        FROM ({ORACLES["dedup_minhash_lsh"]}) p
        JOIN lsrc pa ON pa.doc_id = p.doc_id_1
        JOIN lsrc pb ON pb.doc_id = p.doc_id_2),
agg AS (SELECT {col}_a, {col}_b,
               CAST(COUNT(*) AS BIGINT) AS n_dup_pairs
        FROM lab GROUP BY 1, 2)
SELECT a.{col}_a, a.{col}_b, a.n_dup_pairs,
       pa.n AS n_docs_a, pb.n AS n_docs_b,
       CAST(CASE WHEN a.{col}_a = a.{col}_b
                 THEN CAST(pa.n AS HUGEINT) * (pa.n - 1) // 2
                 ELSE CAST(pa.n AS HUGEINT) * pb.n END AS BIGINT)
         AS n_possible,
       CAST(CAST(a.n_dup_pairs AS HUGEINT) * 1000000
            // (CASE WHEN a.{col}_a = a.{col}_b
                     THEN CAST(pa.n AS HUGEINT) * (pa.n - 1) // 2
                     ELSE CAST(pa.n AS HUGEINT) * pb.n END) AS BIGINT)
         AS {rate_col}
FROM agg a
JOIN per pa ON pa.{col} = a.{col}_a
JOIN per pb ON pb.{col} = a.{col}_b"""


def source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source NEAR-duplicate rate matrix — the provenance
    question dedup answers for a data buyer: which providers resell
    (or scrape) each other's content? Every verified MinHash-LSH
    pair (the registered dedup_minhash_lsh relation, tau=0.8) is
    labeled with its two documents' sources and rolled up by
    pair_rate_matrix; a cell whose dup_ppm is an outlier against the
    matrix is a provider shipping recycled content. Added in round 8."""
    pairs = q_dedup_minhash_lsh(spark, sf_dir).select(
        "doc_id_1", "doc_id_2"
    )
    labels = _docs(spark, sf_dir).select("doc_id", "source")
    return pair_rate_matrix(pairs, labels, "source", "dup_ppm")


SOURCE_DUP_MATRIX_ORACLE = pair_rate_matrix_sql(
    "SELECT doc_id, source FROM documents", "source", "dup_ppm"
)

QUERIES["source_dup_matrix"] = source_dup_matrix
ORACLES["source_dup_matrix"] = SOURCE_DUP_MATRIX_ORACLE


# ---------------------------------------------------------------------------
# Row-local MinHash (streaming form of the banding).
# ---------------------------------------------------------------------------

_SIG_A = "array(" + ", ".join(str(a) for a in A) + ")"
_SIG_B = "array(" + ", ".join(str(b) for b in B) + ")"
#: one fold over the shingle-hash array updating all K mins per
#: element (the simhash single-pass rule: K separate array_min terms
#: would re-traverse the array per permutation)
_ROW_SIG = (
    f"aggregate(hs, array_repeat(CAST({P} AS BIGINT), {K}), "
    f"(acc, h) -> zip_with(acc, sequence(0, {K - 1}), "
    f"(m, j) -> least(m, (element_at({_SIG_A}, j + 1) * h "
    f"+ element_at({_SIG_B}, j + 1)) % {P})))"
)


def minhash_bands_row_local(docs: DataFrame) -> DataFrame:
    """The (doc_id, band, key) relation of `minhash_bands_for`, with
    signatures folded ROW-LOCALLY over each document's shingle array
    instead of explode + groupBy — zero shuffle and zero state, the
    form a STREAMING probe needs (a streaming groupBy would make the
    probe itself a stateful aggregation). Each row also carries the
    shingle array + count for the downstream exact-Jaccard verify
    (stream micro-batches are small; a corpus-scale batch run keeps
    the explode+groupBy form — 16 codegen'd min-aggs beat one
    interpreted fold there, the measured HOF rule).

    Signature parity with _minhash_signatures is exact: both take
    min over (A_j * (md5_60(sh) % P) + B_j) % P across the SAME
    distinct shingle set (shingles_from_tokens emits distinct
    shingles; duplicates wouldn't change a min) — pinned in
    tests/test_stream_leakage.py."""
    toks = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    shs = toks.select(
        "doc_id", shingles_from_tokens(F.col("toks")).alias("shs")
    )
    hs = shs.select(
        "doc_id",
        "shs",
        F.transform(F.col("shs"), lambda sh: md5_long(sh) % P).alias("hs"),
    )
    # Shingle-less docs (< 3 tokens) would fold to the [P]*16 init
    # signature and all collide on the sentinel band key; the batch
    # relation has no rows for them (no shingles → no groupBy group),
    # so drop them here to keep the parity exact for EVERY corpus.
    sig = hs.filter(F.size("shs") > 0).select(
        "doc_id",
        "shs",
        F.size("shs").cast("long").alias("n_shingles"),
        F.expr(_ROW_SIG).alias("sig"),
    )
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "_",
                *[
                    F.element_at("sig", b * R + r + 1).cast("string")
                    for r in range(R)
                ],
            ).alias("key"),
        )
        for b in range(NB)
    ]
    return sig.select(
        "doc_id",
        "shs",
        "n_shingles",
        F.explode(F.array(*band_structs)).alias("bk"),
    ).select(
        "doc_id",
        "shs",
        "n_shingles",
        F.col("bk.band").alias("band"),
        F.col("bk.key").alias("key"),
    )


# ---------------------------------------------------------------------------
# r9-staged prebuilds, registered in round 10.
# ---------------------------------------------------------------------------

#: severity histogram bucket width in jaccard ppm (tau=0.8 floor →
#: buckets 800k, 825k, ..., 975k, plus the exact-duplicate 1e6 bucket)
SEVERITY_BUCKET_PPM = 25_000


def near_dup_severity_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Severity spectrum of the verified near-dup pair relation: how
    close to identical the corpus' near-duplicates actually are —
    boilerplate families cluster near tau, mirror-site replicas at
    exactly 1.0, and the mix decides whether near-dedup should keep
    or collapse (a data-curation dial the flat pair count hides).
    Buckets the exact integer Jaccard (ppm) of every verified
    MinHash-LSH pair into 25k-ppm cells; the 1e6 cell is the
    exact-duplicate mass.

    Scale: a |pairs|-row projection + one groupBy on <= 9 keys over
    the LSH-bounded pair relation — nothing touches the corpus
    beyond the proven pair query."""
    p = q_dedup_minhash_lsh(spark, sf_dir)
    # Integer division end-to-end (ppm div bucket * bucket): double
    # division feeding a compared column is the engine-stability trap
    # the repo rules ban, even when the boundary margin is safe.
    bucket = F.expr(
        "CAST(CAST(common_shingles AS DECIMAL(38,0)) * 1000000"
        " div (shingles_1 + shingles_2 - common_shingles) AS BIGINT)"
        f" div {SEVERITY_BUCKET_PPM} * {SEVERITY_BUCKET_PPM}"
    )
    return (
        p.select(bucket.alias("bucket_lo"))
        .groupBy("bucket_lo")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


NEAR_DUP_SEVERITY_ORACLE = f"""
WITH pairs AS ({{base}})
SELECT CAST(CAST(common_shingles AS HUGEINT) * 1000000
            // (shingles_1 + shingles_2 - common_shingles)
            // {SEVERITY_BUCKET_PPM} * {SEVERITY_BUCKET_PPM}
            AS BIGINT) AS bucket_lo,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY 1""".format(base=ORACLES["dedup_minhash_lsh"])

QUERIES["near_dup_severity_histogram"] = near_dup_severity_histogram
ORACLES["near_dup_severity_histogram"] = NEAR_DUP_SEVERITY_ORACLE


def source_token_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective-token yield per source — the number a data buyer
    actually pays for: raw tokens, tokens surviving EXACT dedup
    (canonical min-id per content hash), and tokens surviving
    NEAR-dup clustering (one survivor per simhash connected
    component, the registered dedup_clusters relation). A source
    whose near yield is far below its raw token count is selling the
    same content many times.

    Survivors attribute to the SURVIVOR's source (cross-source
    duplicate groups keep only the canonical doc's source), so the
    three columns are one corpus-wide accounting with no double
    counting. Scale: one token-count scan (map-side combinable)
    feeding three rollups; the cluster relation is the proven CC
    engine; joins against survivor id sets are semi-joins on doc_id."""
    from pyspark.sql import Window

    base = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.size(tokens(F.col("text"))).cast("long").alias("nt"),
        F.md5(normalize(F.col("text"))).alias("ch"),
    )
    w = Window.partitionBy("ch")
    exact_surv = (
        base.withColumn("cid", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("cid"))
        .groupBy("source")
        .agg(F.sum("nt").alias("exact_tokens"))
    )
    near_ids = (
        q_dedup_clusters(spark, sf_dir)
        .filter(F.col("doc_id") == F.col("cluster_id"))
        .select("doc_id")
    )
    near_surv = (
        base.join(near_ids, "doc_id")
        .groupBy("source")
        .agg(F.sum("nt").alias("near_tokens"))
    )
    raw = base.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("nt").alias("raw_tokens"),
    )
    out = (
        raw.join(exact_surv, "source", "left")
        .join(near_surv, "source", "left")
        .fillna(0, ["exact_tokens", "near_tokens"])
    )
    return out.select(
        "source",
        "n_docs",
        F.col("raw_tokens").cast("long").alias("raw_tokens"),
        F.col("exact_tokens").cast("long").alias("exact_tokens"),
        F.col("near_tokens").cast("long").alias("near_tokens"),
        F.expr(
            "CAST(CAST(exact_tokens AS DECIMAL(38,0)) * 1000000"
            " div raw_tokens AS BIGINT)"
        ).alias("exact_yield_ppm"),
        F.expr(
            "CAST(CAST(near_tokens AS DECIMAL(38,0)) * 1000000"
            " div raw_tokens AS BIGINT)"
        ).alias("near_yield_ppm"),
    )


SOURCE_TOKEN_YIELD_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(len(string_split({_NORM}, ' ')) AS BIGINT) AS nt,
         md5({_NORM}) AS ch
  FROM documents),
ex AS (
  SELECT source, nt, doc_id,
         MIN(doc_id) OVER (PARTITION BY ch) AS cid
  FROM toks),
raw AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(nt) AS BIGINT) AS raw_tokens
  FROM toks GROUP BY 1),
exs AS (
  SELECT source, CAST(SUM(nt) AS BIGINT) AS exact_tokens
  FROM ex WHERE doc_id = cid GROUP BY 1),
nrs AS (
  SELECT t.source, CAST(SUM(t.nt) AS BIGINT) AS near_tokens
  FROM toks t JOIN ({ORACLES["dedup_clusters"]}) c
    ON c.doc_id = t.doc_id AND c.doc_id = c.cluster_id
  GROUP BY 1)
SELECT r.source, r.n_docs, r.raw_tokens,
       COALESCE(e.exact_tokens, 0) AS exact_tokens,
       COALESCE(n.near_tokens, 0) AS near_tokens,
       CAST(CAST(COALESCE(e.exact_tokens, 0) AS HUGEINT) * 1000000
            // r.raw_tokens AS BIGINT) AS exact_yield_ppm,
       CAST(CAST(COALESCE(n.near_tokens, 0) AS HUGEINT) * 1000000
            // r.raw_tokens AS BIGINT) AS near_yield_ppm
FROM raw r
LEFT JOIN exs e USING (source)
LEFT JOIN nrs n USING (source)"""

QUERIES["source_token_yield"] = source_token_yield
ORACLES["source_token_yield"] = SOURCE_TOKEN_YIELD_ORACLE


# ---------------------------------------------------------------------------
# Round-10 operators.
# ---------------------------------------------------------------------------

#: source trust rank: the numeric suffix of the synthetic src{N}
#: names stands in for a curation-tier table (lower = more trusted)
_SRC_PRIO = "CAST(substring(source, 4) AS BIGINT)"


def dedup_keep_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-priority canonicalization — what production curation
    actually does instead of keep-min-id: when the same content
    appears in several sources, keep the copy from the MOST TRUSTED
    source (lower trust rank wins; the numeric src suffix stands in
    for the curation-tier table), then the cleanest raw form
    (shortest n_chars — duplicates share normalized text but differ
    in raw whitespace/case padding), then min doc_id. Emits the
    surviving copy plus its duplicate-group size, so the oracle
    attests BOTH the choice and the group accounting.

    Same scale shape as dedup_keep_canonical: one window over the
    content-hash partitioning, decision never leaves the executor."""
    docs = _docs(spark, sf_dir)
    hashed = docs.select(
        "doc_id",
        "lang",
        "source",
        F.expr(_SRC_PRIO).alias("prio"),
        F.length("text").cast("long").alias("n_chars_raw"),
        F.md5(normalize(F.col("text"))).alias("content_hash"),
    )
    from pyspark.sql import Window

    wp = Window.partitionBy("content_hash")
    wr = wp.orderBy("prio", "n_chars_raw", "doc_id")
    return (
        hashed.withColumn("rn", F.row_number().over(wr))
        .withColumn("n_copies", F.count(F.lit(1)).over(wp))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "lang",
            "source",
            F.col("n_copies").cast("long").alias("n_copies"),
        )
    )


KEEP_PRIORITY_ORACLE = f"""
WITH h AS (
  SELECT doc_id, lang, source, {_SRC_PRIO} AS prio,
         CAST(length(text) AS BIGINT) AS n_chars_raw,
         md5({_NORM}) AS ch
  FROM documents),
r AS (
  SELECT doc_id, lang, source,
         ROW_NUMBER() OVER (PARTITION BY ch
           ORDER BY prio, n_chars_raw, doc_id) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY ch) AS BIGINT) AS n_copies
  FROM h)
SELECT doc_id, lang, source, n_copies FROM r WHERE rn = 1"""



def dedup_cluster_keep_priority(
    spark: SparkSession, sf_dir: str, *, pairs_fn=None
) -> DataFrame:
    """Trust-ranked survivors over NEAR-dup clusters — keep_priority
    lifted from exact-hash groups to the connected-component
    relation: per simhash CC cluster keep the copy from the most
    trusted source (then shortest raw form, then min doc_id), with
    the member count so the oracle attests choice AND accounting.
    This is the decision rule production near-dedup actually ships:
    cluster_id == doc_id (the min-id convention dedup_clusters uses
    for its LABEL) names the cluster, not the survivor.

    Scale: the proven CC engine produces (doc_id, cluster_id); one
    broadcast-free equi-join attaches doc attributes; one window per
    cluster picks the survivor. ``pairs_fn`` forwards to
    q_dedup_clusters (the 100 TB path rides the 120-bit relation)."""
    cc = q_dedup_clusters(spark, sf_dir, pairs_fn=pairs_fn)
    attrs = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        "source",
        F.expr(_SRC_PRIO).alias("prio"),
        F.length("text").cast("long").alias("n_chars_raw"),
    )
    from pyspark.sql import Window

    joined = cc.join(attrs, "doc_id")
    wp = Window.partitionBy("cluster_id")
    wr = wp.orderBy("prio", "n_chars_raw", "doc_id")
    return (
        joined.withColumn("rn", F.row_number().over(wr))
        .withColumn("n_members", F.count(F.lit(1)).over(wp))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            "doc_id",
            "lang",
            "source",
            F.col("n_members").cast("long").alias("n_members"),
        )
    )


CLUSTER_KEEP_PRIORITY_ORACLE = f"""
WITH cc AS (SELECT * FROM ({ORACLES["dedup_clusters"]})),
a AS (
  SELECT c.cluster_id, d.doc_id, d.lang, d.source,
         {_SRC_PRIO} AS prio,
         CAST(length(d.text) AS BIGINT) AS nc
  FROM cc c JOIN documents d ON d.doc_id = c.doc_id),
r AS (
  SELECT cluster_id, doc_id, lang, source,
         ROW_NUMBER() OVER (PARTITION BY cluster_id
           ORDER BY prio, nc, doc_id) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
           AS n_members
  FROM a)
SELECT cluster_id, doc_id, lang, source, n_members FROM r WHERE rn = 1"""


# Round 11 registration of the r10-staged survivor-selection prebuilds.
QUERIES["dedup_keep_priority"] = dedup_keep_priority
ORACLES["dedup_keep_priority"] = KEEP_PRIORITY_ORACLE
QUERIES["dedup_cluster_keep_priority"] = dedup_cluster_keep_priority
ORACLES["dedup_cluster_keep_priority"] = CLUSTER_KEEP_PRIORITY_ORACLE


# ---------------------------------------------------------------------------
# Round-11 operators.
# ---------------------------------------------------------------------------

#: rows-per-band configurations swept by dedup_minhash_band_sweep —
#: the registered (R=4, 4 bands) operating point bracketed by the
#: recall-heavy (2 rows -> 8 bands: more, noisier candidates) and the
#: precision-heavy (8 rows -> 2 bands: fewer, surer candidates)
#: partitions of the SAME K=16 signature. Same sig, different
#: banding: the sweep isolates the knob production LSH actually
#: tunes (collision probability s^r per band) from everything else.
MINHASH_SWEEP_ROWS = (2, 4, 8)


def dedup_minhash_band_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The candidate-volume / precision CURVE of MinHash-LSH banding —
    the knn_ivfpq_probe_sweep discipline applied to the dedup
    capstone: for each rows-per-band r in {MINHASH_SWEEP_ROWS}, band
    the SAME K=16 signature into K//r bands, run the band-bucket
    candidate join, verify candidates with exact Jaccard (tau = 0.8,
    integer cross-multiplication), and emit the corpus totals: how
    many candidate pairs the banding generated, how many survived
    verification, and the integer-ppm precision. More rows per band
    sharpens each band's collision test (s^r) — candidates fall,
    precision rises, recall of true near-dups falls; the curve shows
    what the registered r=4 point buys at the current corpus scale.
    At 100 TB the candidate count IS the shuffle+verify cost, so this
    is the capacity-planning curve for the dedup stage.

    Scale posture: shingles and the 16-min-agg signature run ONCE
    (checkpointed, shared by all three configs); each config adds one
    banded self-join on uniform (band, key) keys and one bounded
    verify; outputs are three 1-row aggregates (broadcast scalars),
    never a pair dump."""
    sh = _shingle_rows(_docs(spark, sf_dir)).localCheckpoint(eager=True)
    sig = _minhash_signatures(sh).localCheckpoint(eager=True)
    out = None
    for r in MINHASH_SWEEP_ROWS:
        nb = K // r
        bands = _minhash_bands_r(sig, r)
        b1 = bands.select(F.col("doc_id").alias("doc_id_1"), "band", "key")
        b2 = bands.select(F.col("doc_id").alias("doc_id_2"), "band", "key")
        cand = (
            b1.join(b2, ["band", "key"])
            .filter(F.col("doc_id_1") < F.col("doc_id_2"))
            .select("doc_id_1", "doc_id_2")
            .distinct()
        )
        cn = cand.agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates")
        )
        vn = _verified_pairs(cand, sh).agg(
            F.count(F.lit(1)).cast("long").alias("n_verified")
        )
        row = cn.crossJoin(F.broadcast(vn)).select(
            F.lit(r).cast("int").alias("rows_per_band"),
            F.lit(nb).cast("int").alias("n_bands"),
            "n_candidates",
            "n_verified",
            F.expr(
                "CAST(CASE WHEN n_candidates = 0 THEN 1000000"
                " ELSE CAST(n_verified AS DECIMAL(38,0)) * 1000000"
                " div n_candidates END AS BIGINT)"
            ).alias("precision_ppm"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def _minhash_band_selects(r: int) -> str:
    # mirror of _minhash_bands_r's divisor guard: the oracle must band
    # exactly like the Spark side or drop the same trailing perms
    # (ValueError, not assert — survives python -O)
    if K % r != 0:
        raise ValueError(f"rows-per-band {r} must divide K={K}")
    return "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band, {key} AS key FROM sig".format(
            b=b,
            key=" || '_' || ".join(
                f"m{b * r + j}::VARCHAR" for j in range(r)
            ),
        )
        for b in range(K // r)
    )


def _minhash_band_sweep_oracle() -> str:
    parts = []
    for r in MINHASH_SWEEP_ROWS:
        parts.append(f"""
SELECT * FROM (
WITH {_SHINGLE_CTES},
hs AS (SELECT doc_id,
              (('0x' || substring(md5(sh), 1, 15))::BIGINT % {P}) AS h
       FROM sh),
sig AS (SELECT doc_id, {_MIN_AGGS} FROM hs GROUP BY doc_id),
bands AS ({_minhash_band_selects(r)}),
cand AS (
  SELECT DISTINCT b1.doc_id AS doc_id_1, b2.doc_id AS doc_id_2
  FROM bands b1 JOIN bands b2
    ON b1.band = b2.band AND b1.key = b2.key AND b1.doc_id < b2.doc_id
),
cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
common AS (
  SELECT p.doc_id_1, p.doc_id_2, count(*) AS common_shingles
  FROM cand p
  JOIN sh s1 ON s1.doc_id = p.doc_id_1
  JOIN sh s2 ON s2.doc_id = p.doc_id_2 AND s2.sh = s1.sh
  GROUP BY p.doc_id_1, p.doc_id_2),
ver AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_verified
        FROM common
        JOIN cnt c1 ON doc_id_1 = c1.doc_id
        JOIN cnt c2 ON doc_id_2 = c2.doc_id
        WHERE {JACCARD_DEN} * common_shingles
              >= {JACCARD_NUM} * (c1.c + c2.c - common_shingles)),
cd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cand)
SELECT CAST({r} AS INT) AS rows_per_band,
       CAST({K // r} AS INT) AS n_bands,
       cd.n_candidates, ver.n_verified,
       CAST(CASE WHEN cd.n_candidates = 0 THEN 1000000
                 ELSE CAST(ver.n_verified AS HUGEINT) * 1000000
                      // cd.n_candidates END AS BIGINT)
         AS precision_ppm
FROM cd, ver)""")
    return "\nUNION ALL\n".join(parts)


MINHASH_BAND_SWEEP_ORACLE = _minhash_band_sweep_oracle()


#: (rare_keep, DF cap) grid swept by dedup_shingle_cap_sweep — the
#: registered cap (64) plus two tighter points chosen where the
#: knee actually lives: the pair-level MIN shared DF spans 2-7 at
#: sf0.01 and 2-25 at sf0.1 (measured), so caps above ~32 are all
#: equivalent on this corpus (the first draft swept 32/64/128 and
#: got a perfectly flat line — itself informative, but a flat pin
#: can't catch cap-logic regressions). 4 and 16 sit inside the
#: mass; 64 anchors the registered point.
SHINGLE_CAP_SWEEP = (4, 16, 64)


def dedup_shingle_cap_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The candidate-volume / precision GRID of the inverted-index
    guards — the last dedup knobs without a curve: for every
    (rare_keep, cap) in {{0,1}} x {SHINGLE_CAP_SWEEP}, how many
    candidate pairs the guarded index generates, how many pass the
    exact-Jaccard verify, and integer-ppm precision. rare_keep=1 is
    the registered escape hatch (each doc's RARE_KEEP_PER_DOC rarest
    shingles index unconditionally); rare_keep=0 shows what the DF
    cap does ALONE — the axis where the knee lives — and the
    hatch-minus-no-hatch verified delta is exactly the recall the
    hatch rescues. A hot shingle shared by d docs costs O(d^2)
    candidate pairs, so this grid is the blow-up/recall trade the
    cap's own docstring argues — now measured, not argued.

    Scale posture: shingles, DF counts, rarity ranks, ONE loose
    candidate join, and ONE exact-Jaccard verify (full uncapped
    sets — cap-independent flag) serve all six cells: per pair,
    mdf_hatch = MIN over shared shingles of GREATEST(eff1, eff2)
    (rank-kept rows count 0) classifies the hatch rules and
    mdf_raw = MIN(df) the no-hatch rules; the grid is an explode
    over the bounded labeled-pair relation."""
    sh = _shingle_rows(_docs(spark, sf_dir)).localCheckpoint(eager=True)
    from pyspark.sql import Window

    dfs = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    wdoc = Window.partitionBy("doc_id").orderBy("df", "sh")
    eff = (
        sh.join(dfs, "sh")
        .withColumn("rk", F.row_number().over(wdoc))
        .withColumn(
            "eff",
            F.when(F.col("rk") <= RARE_KEEP_PER_DOC, F.lit(0)).otherwise(
                F.col("df")
            ),
        )
        .filter(F.col("eff") <= max(SHINGLE_CAP_SWEEP))
        .select("doc_id", "sh", "eff", "df")
    )
    e1 = eff.select(
        F.col("doc_id").alias("doc_id_1"), "sh",
        F.col("eff").alias("eff1"), F.col("df").alias("df1"),
    )
    e2 = eff.select(
        F.col("doc_id").alias("doc_id_2"), "sh",
        F.col("eff").alias("eff2"),
    )
    pairs = (
        e1.join(e2, "sh")
        .filter(F.col("doc_id_1") < F.col("doc_id_2"))
        .groupBy("doc_id_1", "doc_id_2")
        .agg(
            F.min(F.greatest("eff1", "eff2")).alias("mdf_hatch"),
            F.min("df1").alias("mdf_raw"),
        )
    )
    arrs = sh.groupBy("doc_id").agg(
        F.collect_list("sh").alias("shs"), F.count("*").alias("c")
    )
    a1 = arrs.select(
        F.col("doc_id").alias("doc_id_1"),
        F.col("shs").alias("shs1"),
        F.col("c").alias("c1"),
    )
    a2 = arrs.select(
        F.col("doc_id").alias("doc_id_2"),
        F.col("shs").alias("shs2"),
        F.col("c").alias("c2"),
    )
    common = F.size(F.array_intersect("shs1", "shs2")).cast("long")
    labeled = (
        pairs.join(a1, "doc_id_1")
        .join(a2, "doc_id_2")
        .withColumn("cs", common)
        .withColumn(
            "ok",
            (
                JACCARD_DEN * F.col("cs")
                >= JACCARD_NUM * (F.col("c1") + F.col("c2") - F.col("cs"))
            ).cast("long"),
        )
        .select("mdf_hatch", "mdf_raw", "ok")
    )
    cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(k).alias("rare_keep"), F.lit(c).alias("cap")
                )
                for k in (1, 0)
                for c in SHINGLE_CAP_SWEEP
            ]
        )
    ).alias("cell")
    return (
        labeled.select("mdf_hatch", "mdf_raw", "ok", cells)
        .select(
            F.col("cell.rare_keep").alias("rare_keep"),
            F.col("cell.cap").alias("shingle_cap"),
            "mdf_hatch",
            "mdf_raw",
            "ok",
        )
        .filter(
            ((F.col("rare_keep") == 1)
             & (F.col("mdf_hatch") <= F.col("shingle_cap")))
            | ((F.col("rare_keep") == 0)
               & (F.col("mdf_raw") <= F.col("shingle_cap")))
        )
        .groupBy("rare_keep", "shingle_cap")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.sum("ok").cast("long").alias("n_verified"),
        )
        .select(
            F.col("rare_keep").cast("int").alias("rare_keep"),
            F.col("shingle_cap").cast("int").alias("shingle_cap"),
            "n_candidates",
            "n_verified",
            F.expr(
                "CAST(CASE WHEN n_candidates = 0 THEN 1000000"
                " ELSE CAST(n_verified AS DECIMAL(38,0)) * 1000000"
                " div n_candidates END AS BIGINT)"
            ).alias("precision_ppm"),
        )
    )


_SCS_CELLS = ", ".join(
    f"({k}, {c})" for k in (1, 0) for c in SHINGLE_CAP_SWEEP
)

SHINGLE_CAP_SWEEP_ORACLE = f"""
WITH {_SHINGLE_CTES},
dfs AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh),
ranked AS (
  SELECT s.doc_id, s.sh, d.df,
         CASE WHEN ROW_NUMBER() OVER (PARTITION BY s.doc_id
                ORDER BY d.df, s.sh) <= {RARE_KEEP_PER_DOC}
              THEN 0 ELSE d.df END AS eff
  FROM sh s JOIN dfs d USING (sh)),
e AS (SELECT doc_id, sh, eff, df FROM ranked
      WHERE eff <= {max(SHINGLE_CAP_SWEEP)}),
pairs AS (
  SELECT e1.doc_id AS doc_id_1, e2.doc_id AS doc_id_2,
         MIN(GREATEST(e1.eff, e2.eff)) AS mdf_hatch,
         MIN(e1.df) AS mdf_raw
  FROM e e1 JOIN e e2 ON e2.sh = e1.sh AND e1.doc_id < e2.doc_id
  GROUP BY 1, 2),
cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
cm AS (
  SELECT p.doc_id_1, p.doc_id_2, count(*) AS cs
  FROM pairs p
  JOIN sh s1 ON s1.doc_id = p.doc_id_1
  JOIN sh s2 ON s2.doc_id = p.doc_id_2 AND s2.sh = s1.sh
  GROUP BY 1, 2),
lab AS (
  SELECT p.mdf_hatch, p.mdf_raw,
         CASE WHEN {JACCARD_DEN} * cm.cs
              >= {JACCARD_NUM} * (c1.c + c2.c - cm.cs)
              THEN 1 ELSE 0 END AS ok
  FROM pairs p
  JOIN cm ON cm.doc_id_1 = p.doc_id_1 AND cm.doc_id_2 = p.doc_id_2
  JOIN cnt c1 ON p.doc_id_1 = c1.doc_id
  JOIN cnt c2 ON p.doc_id_2 = c2.doc_id),
sp AS (SELECT * FROM (VALUES {_SCS_CELLS}) t(rare_keep, shingle_cap))
SELECT CAST(sp.rare_keep AS INT) AS rare_keep,
       CAST(sp.shingle_cap AS INT) AS shingle_cap,
       CAST(COUNT(*) AS BIGINT) AS n_candidates,
       CAST(SUM(ok) AS BIGINT) AS n_verified,
       CAST(CASE WHEN COUNT(*) = 0 THEN 1000000
                 ELSE CAST(SUM(ok) AS HUGEINT) * 1000000 // COUNT(*)
            END AS BIGINT) AS precision_ppm
FROM lab, sp
WHERE (sp.rare_keep = 1 AND lab.mdf_hatch <= sp.shingle_cap)
   OR (sp.rare_keep = 0 AND lab.mdf_raw <= sp.shingle_cap)
GROUP BY 1, 2"""

QUERIES["dedup_minhash_band_sweep"] = dedup_minhash_band_sweep
ORACLES["dedup_minhash_band_sweep"] = MINHASH_BAND_SWEEP_ORACLE
QUERIES["dedup_shingle_cap_sweep"] = dedup_shingle_cap_sweep
ORACLES["dedup_shingle_cap_sweep"] = SHINGLE_CAP_SWEEP_ORACLE


# ---------------------------------------------------------------------------
# REGISTERED r13.
# dedup_cosine_tau_sweep: the semantic-dedup threshold curve.
# ---------------------------------------------------------------------------

#: cosine thresholds swept (ppm) — the registered COSINE_TAU (0.45)
#: sits in the middle, so the curve prices moving the knob either way
COSINE_TAU_SWEEP = (400_000, 450_000, 500_000)

_CTS_NS = "cts:"  # membership-checksum namespace


def dedup_cosine_tau_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the embedding near-dup τ knob costs and yields: for each
    swept cosine threshold, the pair count the LSH+verify pipeline
    would emit, its yield against the τ-independent candidate volume
    (the LSH capacity denominator), and a membership checksum of the
    passing pairs — so the driver attests WHICH pairs each threshold
    keeps, not just how many. Pair sets provably NEST as τ rises
    (same scored relation, tighter filter — pinned in tests), and the
    τ=COSINE_TAU row is identity-pinned to the registered
    dedup_embedding_lsh, so the telemetry can never disagree with the
    shipped operator.

    Scale shape (sweep-family): the heavy pass — bucket collision
    join + ONE exact-cosine verify over candidates — runs once and is
    checkpointed; the swept constants explode per candidate row
    (|sweep| small integers, no data growth beyond 3x candidates) and
    roll up to |sweep| cells. The comparison is done at double
    precision from the SAME integer ppm literal in both engines
    (tau_ppm / 1e6 — one IEEE division, no decimal drift)."""
    scored = (
        _emb_lsh_scored(spark, sf_dir)
        .withColumn(
            "h",
            md5_long(
                F.concat(
                    F.lit(_CTS_NS),
                    F.col("vec_id_1").cast("string"),
                    F.lit(":"),
                    F.col("vec_id_2").cast("string"),
                )
            ),
        )
        .localCheckpoint(eager=True)  # heavy pass exactly once
    )
    taus = F.array(*[F.lit(t).cast("int") for t in COSINE_TAU_SWEEP])
    # explicit spine: a threshold that kills EVERY pair must still
    # emit its zero row — an absent cell reads as "not measured", a
    # zero cell is the degeneration detector (the lex_cap_sweep
    # lesson)
    spine = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates")
    ).withColumn("tau_ppm", F.explode(taus))
    grouped = (
        scored.withColumn("tau_ppm", F.explode(taus))
        .filter(F.col("cos") >= F.col("tau_ppm") / F.lit(1_000_000.0))
        .groupBy("tau_ppm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.expr("bit_xor(h)").alias("pairs_checksum"),
        )
    )
    return spine.join(grouped, "tau_ppm", "left").select(
        "tau_ppm",
        "n_candidates",
        F.coalesce(F.col("n_pairs"), F.lit(0)).cast("long").alias(
            "n_pairs"
        ),
        # a corpus whose LSH emits ZERO candidates must yield 0, not a
        # DIVIDE_BY_ZERO under ANSI (the band-sweep family's guard)
        F.expr(
            "CASE WHEN n_candidates = 0 THEN CAST(0 AS BIGINT)"
            " ELSE CAST(CAST(COALESCE(n_pairs, 0) AS DECIMAL(38,0))"
            " * 1000000 div n_candidates AS BIGINT) END"
        ).alias("yield_ppm"),
        F.coalesce(F.col("pairs_checksum"), F.lit(0)).alias(
            "pairs_checksum"
        ),
    )


def _cosine_tau_sweep_oracle() -> str:
    from ..functions.text import md5_long_sql
    from .similarity import BANDS_SQL

    cells = ", ".join(f"({t})" for t in COSINE_TAU_SWEEP)
    h = md5_long_sql(
        f"'{_CTS_NS}' || CAST(vec_id_1 AS VARCHAR) || ':'"
        " || CAST(vec_id_2 AS VARCHAR)"
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
bands AS ({BANDS_SQL}),
cand AS (
  SELECT DISTINCT b1.vec_id AS vec_id_1, b2.vec_id AS vec_id_2
  FROM bands b1 JOIN bands b2
    ON b1.table_id = b2.table_id AND b1.bucket = b2.bucket
   AND b1.vec_id < b2.vec_id),
scored AS (
  SELECT vec_id_1, vec_id_2,
         list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos,
         {h} AS h
  FROM cand
  JOIN n a ON a.vec_id = vec_id_1
  JOIN n b ON b.vec_id = vec_id_2),
tot AS (SELECT COUNT(*) AS n_candidates FROM scored),
sp AS (SELECT * FROM (VALUES {cells}) t(tau_ppm)),
agg AS (
  SELECT sp.tau_ppm, COUNT(*) AS n_pairs, BIT_XOR(h) AS cs
  FROM scored, sp
  WHERE cos >= sp.tau_ppm / 1000000.0
  GROUP BY sp.tau_ppm)
SELECT CAST(sp.tau_ppm AS INT) AS tau_ppm,
       CAST(tot.n_candidates AS BIGINT) AS n_candidates,
       CAST(COALESCE(agg.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(CASE WHEN tot.n_candidates = 0 THEN 0
            ELSE CAST(COALESCE(agg.n_pairs, 0) AS HUGEINT) * 1000000
                 // tot.n_candidates END AS BIGINT) AS yield_ppm,
       COALESCE(agg.cs, 0) AS pairs_checksum
FROM sp CROSS JOIN tot LEFT JOIN agg ON agg.tau_ppm = sp.tau_ppm"""


COSINE_TAU_SWEEP_ORACLE = _cosine_tau_sweep_oracle()


# ---------------------------------------------------------------------------
# REGISTERED r13.
# dedup_simhash_radius_sweep: the hamming-radius curve.
# ---------------------------------------------------------------------------

#: hamming radii swept — the registered SIM_HAM_MAX (3, the largest
#: radius the 4x15-bit banding makes EXACT) is the widest point; a
#: radius beyond SIM_BANDS-1 would break the pigeonhole recall
#: guarantee, so the sweep deliberately stops at the exactness edge
SIM_RADIUS_SWEEP = (1, 2, 3)

_SRS_NS = "srs:"  # membership-checksum namespace


def _radius_sweep_frame(pairs_src: DataFrame, ns: str) -> DataFrame:
    """The hamming-radius curve over any (doc_id_1, doc_id_2, hamming)
    pair relation: pair count and namespaced membership checksum per
    swept radius. Shared by the registered 60-bit sweep and the staged
    120-bit twin — the sweep is a filter over a checkpointed,
    near-dup-sized relation, not a new corpus pass."""
    pairs = pairs_src.withColumn(
        "h",
        md5_long(
            F.concat(
                F.lit(ns),
                F.col("doc_id_1").cast("string"),
                F.lit(":"),
                F.col("doc_id_2").cast("string"),
            )
        ),
    ).localCheckpoint(eager=True)  # banded join exactly once
    radii = F.array(*[F.lit(r).cast("int") for r in SIM_RADIUS_SWEEP])
    spine = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs_widest")
    ).withColumn("ham_max", F.explode(radii))
    grouped = (
        pairs.withColumn("ham_max", F.explode(radii))
        .filter(F.col("hamming") <= F.col("ham_max"))
        .groupBy("ham_max")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.expr("bit_xor(h)").alias("pairs_checksum"),
        )
    )
    return spine.join(grouped, "ham_max", "left").select(
        "ham_max",
        "n_pairs_widest",
        F.coalesce(F.col("n_pairs"), F.lit(0)).cast("long").alias(
            "n_pairs"
        ),
        F.coalesce(F.col("pairs_checksum"), F.lit(0)).alias(
            "pairs_checksum"
        ),
    )


def dedup_simhash_radius_sweep(
    spark: SparkSession, sf_dir: str, *, pairs_fn=None
) -> DataFrame:
    """What tightening the simhash hamming radius buys: pair count
    and membership checksum at radii 1/2/3, from the REGISTERED
    q_dedup_simhash_pairs relation computed once (it already carries
    the exact hamming distance per pair).
    Pair sets provably NEST as the radius tightens, the widest cell
    is identity-pinned to the registered operator, and every swept
    radius stays within the banding's exactness guarantee
    (<= SIM_BANDS - 1), so each cell is a complete answer, not a
    recall-limited estimate.

    ``pairs_fn`` as in q_dedup_clusters: above
    SIMHASH_WIDE_THRESHOLD_DOCS the default 60-bit relation raises —
    pass q_dedup_simhash_wide_pairs to sweep the wide relation
    through this API (the registered
    dedup_simhash_wide_radius_sweep is the same curve under its own
    checksum namespace)."""
    return _radius_sweep_frame(
        (pairs_fn or q_dedup_simhash_pairs)(spark, sf_dir), _SRS_NS
    )


def _radius_sweep_oracle_sql(base: str, ns: str) -> str:
    from ..functions.text import md5_long_sql

    cells = ", ".join(f"({r})" for r in SIM_RADIUS_SWEEP)
    h = md5_long_sql(
        f"'{ns}' || CAST(doc_id_1 AS VARCHAR) || ':'"
        " || CAST(doc_id_2 AS VARCHAR)"
    )
    return f"""
WITH pairs AS ({base}),
ph AS (SELECT doc_id_1, doc_id_2, hamming, {h} AS h FROM pairs),
tot AS (SELECT COUNT(*) AS n_pairs_widest FROM ph),
sp AS (SELECT * FROM (VALUES {cells}) t(ham_max)),
agg AS (
  SELECT sp.ham_max, COUNT(*) AS n_pairs, BIT_XOR(h) AS cs
  FROM ph, sp WHERE ph.hamming <= sp.ham_max
  GROUP BY sp.ham_max)
SELECT CAST(sp.ham_max AS INT) AS ham_max,
       CAST(tot.n_pairs_widest AS BIGINT) AS n_pairs_widest,
       CAST(COALESCE(agg.n_pairs, 0) AS BIGINT) AS n_pairs,
       COALESCE(agg.cs, 0) AS pairs_checksum
FROM sp CROSS JOIN tot LEFT JOIN agg ON agg.ham_max = sp.ham_max"""


SIMHASH_RADIUS_SWEEP_ORACLE = _radius_sweep_oracle_sql(
    ORACLES["dedup_simhash_pairs"], _SRS_NS
)

# registered r13
QUERIES["dedup_cosine_tau_sweep"] = dedup_cosine_tau_sweep
ORACLES["dedup_cosine_tau_sweep"] = COSINE_TAU_SWEEP_ORACLE
QUERIES["dedup_simhash_radius_sweep"] = dedup_simhash_radius_sweep
ORACLES["dedup_simhash_radius_sweep"] = SIMHASH_RADIUS_SWEEP_ORACLE


# ---------------------------------------------------------------------------
# Round-13 operators.
# dedup_minhash_perm_sweep: signature width vs estimator accuracy.
# ---------------------------------------------------------------------------

#: signature widths swept — PREFIXES of the same K=16 permutation set
#: (a narrower signature uses nested evidence: its matches are a
#: subset of the wider signature's per-perm comparisons), with the
#: registered width K as the anchor point. At 100 TB the signature
#: width IS the per-document index footprint (8 bytes/perm), so this
#: curve prices storage against near-dup estimator accuracy.
PERM_SWEEP = (4, 8, 16)

_MPS_NS = "mps:"  # membership-checksum namespace


def dedup_minhash_perm_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """What MinHash signature width buys: for each swept permutation
    count n (a PREFIX of the registered K=16 signature), the mean and
    max absolute error of the n-perm Jaccard estimate against the
    EXACT shingle Jaccard, measured over the registered banding's
    candidate pairs (the only pairs a production dedup ever scores).
    The n=16 row prices the shipped configuration; 4 and 8 show what
    halving the per-doc index footprint (8 bytes/perm) costs in
    estimator error. A membership checksum of the (n-independent)
    candidate relation rides every row, so the driver attests WHICH
    pairs the curve was measured on.

    Scale shape (sweep-family): shingles and the 16-min-agg signature
    run ONCE (checkpointed); the candidate join runs ONCE at the
    registered banding; the swept widths are pure column arithmetic
    over the bounded candidate relation (|sweep| structs exploded per
    pair), rolling up to |sweep| rows. Exact integer ppm throughout —
    estimates and exact shares use the same floor-div, so both
    engines agree bit-for-bit."""
    sh = _shingle_rows(_docs(spark, sf_dir)).localCheckpoint(eager=True)
    sig = _minhash_signatures(sh).localCheckpoint(eager=True)
    bands = _minhash_bands(sig)
    b1 = bands.select(F.col("doc_id").alias("doc_id_1"), "band", "key")
    b2 = bands.select(F.col("doc_id").alias("doc_id_2"), "band", "key")
    cand = (
        b1.join(b2, ["band", "key"])
        .filter(F.col("doc_id_1") < F.col("doc_id_2"))
        .select("doc_id_1", "doc_id_2")
        .distinct()
    )
    arrs = sh.groupBy("doc_id").agg(
        F.collect_list("sh").alias("shs"), F.count("*").alias("c")
    )
    sig1 = sig.select(
        F.col("doc_id").alias("doc_id_1"),
        *[F.col(f"m{j}").alias(f"a{j}") for j in range(K)],
    )
    sig2 = sig.select(
        F.col("doc_id").alias("doc_id_2"),
        *[F.col(f"m{j}").alias(f"b{j}") for j in range(K)],
    )
    a1 = arrs.select(
        F.col("doc_id").alias("doc_id_1"),
        F.col("shs").alias("shs1"),
        F.col("c").alias("c1"),
    )
    a2 = arrs.select(
        F.col("doc_id").alias("doc_id_2"),
        F.col("shs").alias("shs2"),
        F.col("c").alias("c2"),
    )
    # exact Jaccard in integer ppm; denominator >= max(c1, c2) >= 1 by
    # construction (every banded doc has >= 1 shingle)
    scored = (
        cand.join(sig1, "doc_id_1")
        .join(sig2, "doc_id_2")
        .join(a1, "doc_id_1")
        .join(a2, "doc_id_2")
        .withColumn(
            "common",
            F.size(F.array_intersect("shs1", "shs2")).cast("long"),
        )
        .withColumn(
            "exact_ppm",
            F.expr(
                "CAST(CAST(common AS DECIMAL(38,0)) * 1000000"
                " div (c1 + c2 - common) AS BIGINT)"
            ),
        )
        .withColumn(
            "h",
            md5_long(
                F.concat(
                    F.lit(_MPS_NS),
                    F.col("doc_id_1").cast("string"),
                    F.lit(":"),
                    F.col("doc_id_2").cast("string"),
                )
            ),
        )
        # the heavy pass (band join + sig/array joins + exact verify)
        # runs exactly ONCE: spine and grouped both read this bounded
        # materialized relation (the cosine-tau-sweep rule — without
        # it the candidate join subtree is duplicated under the spine)
        .drop("shs1", "shs2")
        .localCheckpoint(eager=True)
    )
    ests = F.array(
        *[
            F.struct(
                F.lit(n).cast("int").alias("n_perms"),
                F.expr(
                    "CAST(("
                    + " + ".join(
                        f"IF(a{j} = b{j}, 1, 0)" for j in range(n)
                    )
                    + f") * CAST(1000000 AS BIGINT) div {n} AS BIGINT)"
                ).alias("est_ppm"),
            )
            for n in PERM_SWEEP
        ]
    )
    rows = scored.select(
        "exact_ppm", "h", F.explode(ests).alias("s")
    ).select(
        F.col("s.n_perms").alias("n_perms"),
        F.abs(F.col("s.est_ppm") - F.col("exact_ppm")).alias("err"),
        "h",
    )
    grouped = rows.groupBy("n_perms").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("err").cast("long").alias("sum_err"),
        F.max("err").cast("long").alias("max_abs_err_ppm"),
        F.expr("bit_xor(h)").alias("pairs_checksum"),
    )
    # explicit spine: a corpus whose banding yields ZERO candidates
    # must emit three zero rows, not vanish (and the mean's division
    # is guarded — the cosine-tau-sweep lesson)
    widths = F.array(*[F.lit(n).cast("int") for n in PERM_SWEEP])
    spine = (
        scored.agg(F.count(F.lit(1)).cast("long").alias("_t"))
        .select(F.explode(widths).alias("n_perms"))
    )
    return spine.join(grouped, "n_perms", "left").select(
        "n_perms",
        F.coalesce(F.col("n_pairs"), F.lit(0)).cast("long").alias(
            "n_pairs"
        ),
        F.expr(
            "CASE WHEN COALESCE(n_pairs, 0) = 0 THEN CAST(0 AS BIGINT)"
            " ELSE CAST(CAST(sum_err AS DECIMAL(38,0))"
            " div n_pairs AS BIGINT) END"
        ).alias("mean_abs_err_ppm"),
        F.coalesce(F.col("max_abs_err_ppm"), F.lit(0)).cast("long")
        .alias("max_abs_err_ppm"),
        F.coalesce(F.col("pairs_checksum"), F.lit(0)).alias(
            "pairs_checksum"
        ),
    )


def _minhash_perm_sweep_oracle() -> str:
    from ..functions.text import md5_long_sql

    h = md5_long_sql(
        f"'{_MPS_NS}' || CAST(p.doc_id_1 AS VARCHAR) || ':'"
        " || CAST(p.doc_id_2 AS VARCHAR)"
    )
    parts = []
    for n in PERM_SWEEP:
        matches = " + ".join(
            f"(CASE WHEN g1.m{j} = g2.m{j} THEN 1 ELSE 0 END)"
            for j in range(n)
        )
        parts.append(f"""
SELECT * FROM (
WITH {_SHINGLE_CTES},
hs AS (SELECT doc_id,
              (('0x' || substring(md5(sh), 1, 15))::BIGINT % {P}) AS h
       FROM sh),
sig AS (SELECT doc_id, {_MIN_AGGS} FROM hs GROUP BY doc_id),
bands AS ({_BAND_SELECTS}),
cand AS (
  SELECT DISTINCT b1.doc_id AS doc_id_1, b2.doc_id AS doc_id_2
  FROM bands b1 JOIN bands b2
    ON b1.band = b2.band AND b1.key = b2.key AND b1.doc_id < b2.doc_id
),
cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
com AS (
  SELECT p.doc_id_1, p.doc_id_2, count(*) AS common
  FROM cand p
  JOIN sh s1 ON s1.doc_id = p.doc_id_1
  JOIN sh s2 ON s2.doc_id = p.doc_id_2 AND s2.sh = s1.sh
  GROUP BY 1, 2),
scored AS (
  SELECT CAST(CAST(COALESCE(com.common, 0) AS HUGEINT) * 1000000
              // (c1.c + c2.c - COALESCE(com.common, 0)) AS BIGINT)
           AS exact_ppm,
         CAST(({matches}) * CAST(1000000 AS HUGEINT) // {n} AS BIGINT)
           AS est_ppm,
         {h} AS h
  FROM cand p
  JOIN sig g1 ON g1.doc_id = p.doc_id_1
  JOIN sig g2 ON g2.doc_id = p.doc_id_2
  JOIN cnt c1 ON c1.doc_id = p.doc_id_1
  JOIN cnt c2 ON c2.doc_id = p.doc_id_2
  LEFT JOIN com ON com.doc_id_1 = p.doc_id_1
               AND com.doc_id_2 = p.doc_id_2)
SELECT CAST({n} AS INT) AS n_perms,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(CASE WHEN COUNT(*) = 0 THEN 0
                 ELSE CAST(SUM(ABS(est_ppm - exact_ppm)) AS HUGEINT)
                      // COUNT(*) END AS BIGINT) AS mean_abs_err_ppm,
       CAST(COALESCE(MAX(ABS(est_ppm - exact_ppm)), 0) AS BIGINT)
         AS max_abs_err_ppm,
       COALESCE(BIT_XOR(h), 0) AS pairs_checksum
FROM scored)""")
    return "\nUNION ALL\n".join(parts)


MINHASH_PERM_SWEEP_ORACLE = _minhash_perm_sweep_oracle()
QUERIES["dedup_minhash_perm_sweep"] = dedup_minhash_perm_sweep
ORACLES["dedup_minhash_perm_sweep"] = MINHASH_PERM_SWEEP_ORACLE


# ---------------------------------------------------------------------------
# dedup_simhash_wide_pairs (r14-staged, REGISTERED r15): the measured
# scale fix for the 60-bit banding's random-collision quadratic.
# ---------------------------------------------------------------------------

#: wide fingerprint: two 60-bit halves from DISJOINT md5 slices
#: (chars 1-15 and 16-30 — the namespaced-slice discipline; reusing
#: one slice for both halves would correlate their bits and void the
#: collision math), banded as 4 x 30 bits.
WIDE_BAND_BITS = 30
WIDE_BAND_MASK = (1 << WIDE_BAND_BITS) - 1

_SIM_PACK_HS2 = _sim_pack("hs2")


def _simhash_wide_df(docs: DataFrame) -> DataFrame:
    toks = F.array_distinct(tokens(F.col("text")))
    hs_lo = F.transform(toks, md5_long)
    hs_hi = F.transform(
        toks,
        lambda t: F.conv(F.substring(F.md5(t), 16, 15), 16, 10).cast(
            "long"
        ),
    )
    # both packs ride ONE ArrowEvalPython node (independent pandas
    # UDFs at the same projection level are batched together), so the
    # wide fingerprint still pays a single Python crossing per row.
    return docs.select(
        "doc_id", hs_lo.alias("hs"), hs_hi.alias("hs2")
    ).select(
        "doc_id",
        pd_simhash_pack()(F.col("hs")).alias("sim_lo"),
        pd_simhash_pack()(F.col("hs2")).alias("sim_hi"),
    )


def _wide_band_expr(side: str, b: int) -> str:
    src = f"{'lo' if b < 2 else 'hi'}{side}"
    return f"(sim_{src} >> {(b % 2) * WIDE_BAND_BITS}) & {WIDE_BAND_MASK}"


def q_dedup_simhash_wide_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairs with simhash hamming distance <= 3 over a 120-BIT
    fingerprint, banded 4 x 30 bits — the corpus-size-driven widening
    of the registered 60-bit q_dedup_simhash_pairs. Same complete-
    recall pigeonhole (<= 3 flipped bits leave >= 1 of 4 bands
    intact), but each band's RANDOM collision rate drops from
    n^2/2^15 to n^2/2^30: the r14 scale-up probe measured the 15-bit
    bands' candidate volume quadratically dominating the simhash
    pair stage at 500k derived docs (~30M candidate rows), which is
    exactly the regime a 100 TB corpus lives in — fingerprint WIDTH,
    not band count, is the knob that scales (at 1.5B docs, 30-bit
    bands expect ~2k random collisions per band where 15-bit bands
    expect ~70M PER PAIR OF DOCS sharing each bucket... i.e. the
    join explodes). The 120-bit space is a stricter similarity (3
    flips of 120 vs 3 of 60), so this is a NEW operator, not a
    replacement: near-exact template duplicates still collide, while
    the 60-bit op's moderate-edit recall band narrows.

    Fingerprint halves use DISJOINT md5 slices per token (chars 1-15
    / 16-30) — one slice reused twice would correlate the halves'
    bits (the ivf init-cell lesson). First-matching-band emission
    keeps the pair set exact with no distinct() shuffle (the
    registered 60-bit op's measured win at this candidate density).

    Scale shape: one single-pass double fold per doc (two 60-bit
    accumulators over one token-hash traversal each), one 4-row band
    explode, one equi-join on (band, key), bounded hamming verify on
    two packed BIGINTs. Tried and rejected: ONE fold over
    zip_with(hs, hs2, named_struct(...)) with a 120-wide accumulator
    — measured 1.54 s vs 1.45 s for the two-fold form at sf0.1
    (identical output); the per-element struct access costs more
    than the saved traversal dispatch."""
    sim = _simhash_wide_df(_docs(spark, sf_dir)).localCheckpoint(
        eager=True
    )
    bands = sim.select(
        "doc_id",
        "sim_lo",
        "sim_hi",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(
                            f"(sim_{'lo' if b < 2 else 'hi'} >> "
                            f"{(b % 2) * WIDE_BAND_BITS}) & {WIDE_BAND_MASK}"
                        ).alias("key"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    ).select(
        "doc_id",
        "sim_lo",
        "sim_hi",
        F.col("bk.band").alias("band"),
        F.col("bk.key").alias("key"),
    )
    b1 = bands.select(
        F.col("doc_id").alias("doc_id_1"),
        F.col("sim_lo").alias("sim_lo1"),
        F.col("sim_hi").alias("sim_hi1"),
        "band",
        "key",
    )
    b2 = bands.select(
        F.col("doc_id").alias("doc_id_2"),
        F.col("sim_lo").alias("sim_lo2"),
        F.col("sim_hi").alias("sim_hi2"),
        "band",
        "key",
    )
    earlier_band_match = F.expr(
        " OR ".join(
            f"(band > {j} AND ({_wide_band_expr('1', j)}) = "
            f"({_wide_band_expr('2', j)}))"
            for j in range(3)
        )
    )
    return (
        b1.join(b2, ["band", "key"])
        .filter(F.col("doc_id_1") < F.col("doc_id_2"))
        .filter(~earlier_band_match)
        .withColumn(
            "hamming",
            (
                F.bit_count(F.col("sim_lo1").bitwiseXOR(F.col("sim_lo2")))
                + F.bit_count(
                    F.col("sim_hi1").bitwiseXOR(F.col("sim_hi2"))
                )
            ).cast("int"),
        )
        .filter(F.col("hamming") <= SIM_HAM_MAX)
        .select("doc_id_1", "doc_id_2", "hamming")
    )


_SIM_BIT_AGGS_HI = ",\n       ".join(
    f"SUM(CASE WHEN (h2 >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS t{i}"
    for i in range(SIMHASH_BITS)
)
_SIM_COMPOSE_HI = " + ".join(
    f"(CASE WHEN t{i} > 0 THEN {1 << i} ELSE 0 END)"
    for i in range(SIMHASH_BITS)
)
_WIDE_BAND_SELECTS = "\nUNION ALL\n".join(
    f"SELECT doc_id, sim_lo, sim_hi, {b} AS band, "
    f"(sim_{'lo' if b < 2 else 'hi'} >> {(b % 2) * WIDE_BAND_BITS})"
    f" & {WIDE_BAND_MASK} AS key FROM sim"
    for b in range(4)
)

SIMHASH_WIDE_PAIRS_ORACLE = f"""
WITH docs AS (SELECT doc_id, string_split({_NORM}, ' ') AS toks
              FROM documents),
tok AS (SELECT doc_id, unnest(list_distinct(toks)) AS t FROM docs),
hs AS (SELECT doc_id,
              ('0x' || substring(md5(t), 1, 15))::BIGINT AS h,
              ('0x' || substring(md5(t), 16, 15))::BIGINT AS h2
       FROM tok),
sums AS (SELECT doc_id, {_SIM_BIT_AGGS},
       {_SIM_BIT_AGGS_HI}
         FROM hs GROUP BY doc_id),
sim AS (SELECT doc_id, CAST({_SIM_COMPOSE} AS BIGINT) AS sim_lo,
               CAST({_SIM_COMPOSE_HI} AS BIGINT) AS sim_hi FROM sums),
bands AS ({_WIDE_BAND_SELECTS}),
cand AS (
  SELECT DISTINCT b1.doc_id AS doc_id_1, b2.doc_id AS doc_id_2,
         b1.sim_lo AS lo1, b1.sim_hi AS hi1,
         b2.sim_lo AS lo2, b2.sim_hi AS hi2
  FROM bands b1 JOIN bands b2
    ON b1.band = b2.band AND b1.key = b2.key AND b1.doc_id < b2.doc_id
)
SELECT doc_id_1, doc_id_2,
       CAST(bit_count(xor(lo1, lo2)) + bit_count(xor(hi1, hi2))
            AS INT) AS hamming
FROM cand
WHERE bit_count(xor(lo1, lo2)) + bit_count(xor(hi1, hi2))
      <= {SIM_HAM_MAX}"""
QUERIES["dedup_simhash_wide_pairs"] = q_dedup_simhash_wide_pairs
ORACLES["dedup_simhash_wide_pairs"] = SIMHASH_WIDE_PAIRS_ORACLE


# ---------------------------------------------------------------------------
# dedup_simhash_wide_radius_sweep (REGISTERED r16; staged r15): the
# hamming-radius curve over the REGISTERED 120-bit relation — the r14
# verdict's named r16 candidate, mirroring dedup_simhash_radius_sweep
# now that the wide op is the documented scale path for the graph
# consumers.
# ---------------------------------------------------------------------------

_SRSW_NS = "srsw:"  # membership-checksum namespace (disjoint from srs:)


def dedup_simhash_wide_radius_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """What tightening the hamming radius buys on the 120-BIT wide
    fingerprint: pair count and membership checksum at radii 1/2/3
    from the registered q_dedup_simhash_wide_pairs relation computed
    once. The capacity instrument for the wide scale path: above
    SIMHASH_WIDE_THRESHOLD_DOCS the graph consumers ride the wide
    relation, so ITS radius curve — not the 60-bit one — prices their
    pair volume. Radii stay within the 4x30-bit banding's pigeonhole
    exactness (<= 3 flips leave >= 1 band intact), and the widest
    cell is identity-pinned to the registered wide operator. Same
    shared sweep frame as the registered 60-bit sweep; only the pair
    source and checksum namespace differ."""
    return _radius_sweep_frame(
        q_dedup_simhash_wide_pairs(spark, sf_dir), _SRSW_NS
    )


SIMHASH_WIDE_RADIUS_SWEEP_ORACLE = _radius_sweep_oracle_sql(
    SIMHASH_WIDE_PAIRS_ORACLE, _SRSW_NS
)
QUERIES["dedup_simhash_wide_radius_sweep"] = dedup_simhash_wide_radius_sweep
ORACLES["dedup_simhash_wide_radius_sweep"] = SIMHASH_WIDE_RADIUS_SWEEP_ORACLE


# ---------------------------------------------------------------------------
# dedup_minhash_lsh_r8 (REGISTERED r16; staged r15): the
# rows-per-band=8 pair finder — minhash's
# fingerprint-width knob, priced by the registered band sweep and
# measured at x100 (SCALEUP100_r14: candidates 4.2M at r=4 vs 170k at
# r=8 on 500k derived docs).
# ---------------------------------------------------------------------------

#: rows per band for the staged scale point: 2 bands x 8 rows from
#: the SAME K=16 signature. Each band's collision probability drops
#: from s^4 to s^8 — candidate volume collapses (measured 25x at
#: x100) while banding recall narrows to very-high-Jaccard pairs
#: (>= 1 of 2 bands intact). The verify filter is unchanged, so the
#: emitted pairs are a SUBSET of the registered r=4 op's (banding at
#: r=8 implies both constituent r=4 bands match — candidates nest).
MINHASH_R8_ROWS = 8


def q_dedup_minhash_lsh_r8(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MinHash-LSH candidates at 2 bands x 8 rows, exact-verified —
    the candidate-volume scale point the registered band sweep prices:
    at corpus sizes where the r=4 banding's candidate join dominates
    the dedup stage (measured 4.2M candidates at 500k docs), r=8
    holds candidates near-linear at the cost of recall on moderately
    similar pairs (s^8 vs s^4 per band). Same signature, shingles,
    and Jaccard verification as q_dedup_minhash_lsh; only the banding
    differs, so the output is provably a subset of the registered
    op's."""
    sh = _shingle_rows(_docs(spark, sf_dir)).localCheckpoint(eager=True)
    bands = _minhash_bands_r(_minhash_signatures(sh), MINHASH_R8_ROWS)
    b1 = bands.select(F.col("doc_id").alias("doc_id_1"), "band", "key")
    b2 = bands.select(F.col("doc_id").alias("doc_id_2"), "band", "key")
    cand = (
        b1.join(b2, ["band", "key"])
        .filter(F.col("doc_id_1") < F.col("doc_id_2"))
        .select("doc_id_1", "doc_id_2")
        .distinct()
    )
    return _verified_pairs(cand, sh)


MINHASH_LSH_R8_ORACLE = f"""
WITH {_SHINGLE_CTES},
hs AS (SELECT doc_id,
              (('0x' || substring(md5(sh), 1, 15))::BIGINT % {P}) AS h
       FROM sh),
sig AS (SELECT doc_id, {_MIN_AGGS} FROM hs GROUP BY doc_id),
bands AS ({_minhash_band_selects(MINHASH_R8_ROWS)}),
cand AS (
  SELECT DISTINCT b1.doc_id AS doc_id_1, b2.doc_id AS doc_id_2
  FROM bands b1 JOIN bands b2
    ON b1.band = b2.band AND b1.key = b2.key AND b1.doc_id < b2.doc_id
),
{_VERIFY_SQL}"""
QUERIES["dedup_minhash_lsh_r8"] = q_dedup_minhash_lsh_r8
ORACLES["dedup_minhash_lsh_r8"] = MINHASH_LSH_R8_ORACLE
