"""Deterministic sampling and dataset-split operators over `documents`.

Training-data pipelines need REPRODUCIBLE sampling: `df.sample()` is
seed-and-partitioning dependent, so reruns (or the same run on a
different cluster layout) pick different rows. Hashing a stable key
instead makes every decision a pure function of the row:

- membership is stable across reruns, partitionings, and engines,
- sampling composes with incremental ingestion (new rows don't
  reshuffle old assignments) — the property that matters when a 100 TB
  corpus grows daily and the train/val/test split must not leak,
- the filter is a plain expression → pushed into the scan, no shuffle
  at all for `sample_by_hash`.

All hashes are md5-prefix integers (`functions.text.md5_long`) so the
DuckDB oracles are bit-exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..datamodel import load_table
from ..functions.text import md5_long, md5_long_sql

SAMPLE_PCT = 10          # sample_by_hash keeps bucket < 10 of 100
SPLIT_TRAIN, SPLIT_VAL = 80, 90   # [0,80) train, [80,90) val, rest test
STRATUM_N = 20           # stratified: first N per language


def hash_bucket(key: Column, buckets: int = 100, ns: str = "") -> Column:
    """Deterministic bucket in [0, buckets) from a stable key. `ns`
    namespaces independent decisions (sampling vs splitting) so they
    are uncorrelated."""
    return md5_long(F.concat(F.lit(ns), key.cast("string"))) % buckets


def hash_bucket_sql(key: str, buckets: int = 100, ns: str = "") -> str:
    keyed = f"'{ns}' || CAST({key} AS VARCHAR)"
    return f"{md5_long_sql(keyed)} % {buckets}"


def sample_by_hash(df: DataFrame, key: str, pct: int, ns: str = "s") -> DataFrame:
    """Keep ~pct% of rows, deterministically by key hash."""
    return df.filter(hash_bucket(F.col(key), 100, ns) < pct)


def split_column(key: Column, ns: str = "split") -> Column:
    """'train' / 'val' / 'test' assignment, stable per key."""
    b = hash_bucket(key, 100, ns)
    return (
        F.when(b < SPLIT_TRAIN, "train")
        .when(b < SPLIT_VAL, "val")
        .otherwise("test")
    )


def stratified_take(df: DataFrame, stratum: str, key: str, n: int) -> DataFrame:
    """First n rows per stratum in deterministic hash order — an equal
    per-class sample whose membership survives reruns. One shuffle on
    the stratum; AQE's partial TopK caps the sort."""
    w = Window.partitionBy(stratum).orderBy(
        md5_long(F.col(key).cast("string")), F.col(key)
    )
    return df.withColumn("sample_rank", F.row_number().over(w)).filter(
        F.col("sample_rank") <= n
    )


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def q_sample_documents_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% deterministic sample of documents (scan-level filter)."""
    docs = _docs(spark, sf_dir).select("doc_id", "lang", "source")
    return sample_by_hash(docs, "doc_id", SAMPLE_PCT).select(
        "doc_id", "lang", "source",
        hash_bucket(F.col("doc_id"), 100, "s").cast("int").alias("bucket"),
    )


def q_dataset_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test sizes per language — the split-audit query every
    training pipeline runs before a job."""
    docs = _docs(spark, sf_dir)
    return (
        docs.select("lang", split_column(F.col("doc_id")).alias("split"))
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"))
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-size per-language sample (first STRATUM_N by hash)."""
    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    return stratified_take(docs, "lang", "doc_id", STRATUM_N).select(
        "lang", F.col("sample_rank").cast("int").alias("sample_rank"), "doc_id"
    )


#: weighted sampling: keep probability ~ n_chars / WEIGHT_DENOM chars,
#: capped at 1. Integer ppm arithmetic end-to-end.
WEIGHT_DENOM_CHARS = 2_000
PPM = 1_000_000


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-weighted deterministic sampling: each document's keep
    probability is proportional to its length (the quality/length
    up-weighting move mixture samplers make), decided by comparing a
    stable 1e6-bucket hash against the document's integer ppm weight.
    Same guarantees as sample_by_hash — rerun/engine/growth stable,
    pure scan-level filter, zero shuffle — because the weight is a
    function of the row, not of the corpus."""
    docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
    weight_ppm = F.least(
        F.lit(PPM), F.col("n_chars") * (PPM // WEIGHT_DENOM_CHARS)
    )
    return docs.select(
        "doc_id",
        "lang",
        "n_chars",
        weight_ppm.alias("weight_ppm"),
    ).filter(hash_bucket(F.col("doc_id"), PPM, "w") < F.col("weight_ppm"))


QUERIES = {
    "sample_documents_hash": q_sample_documents_hash,
    "dataset_split_counts": q_dataset_split_counts,
    "stratified_sample": q_stratified_sample,
    "weighted_sample": q_weighted_sample,
}

_B_S = hash_bucket_sql("doc_id", 100, "s")
_B_SPLIT = hash_bucket_sql("doc_id", 100, "split")
_H = md5_long_sql("CAST(doc_id AS VARCHAR)")

ORACLES = {
    "sample_documents_hash": f"""
SELECT doc_id, lang, source, CAST({_B_S} AS INT) AS bucket
FROM documents WHERE {_B_S} < {SAMPLE_PCT}""",
    "dataset_split_counts": f"""
SELECT lang,
       CASE WHEN {_B_SPLIT} < {SPLIT_TRAIN} THEN 'train'
            WHEN {_B_SPLIT} < {SPLIT_VAL} THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs
FROM documents GROUP BY lang, split""",
    "stratified_sample": f"""
SELECT lang, sample_rank, doc_id FROM (
  SELECT lang, doc_id,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY lang ORDER BY {_H}, doc_id) AS INT) AS sample_rank
  FROM documents)
WHERE sample_rank <= {STRATUM_N}""",
    "weighted_sample": f"""
SELECT doc_id, lang, n_chars,
       LEAST({PPM}, n_chars * {PPM // WEIGHT_DENOM_CHARS}) AS weight_ppm
FROM documents
WHERE {hash_bucket_sql("doc_id", PPM, "w")}
      < LEAST({PPM}, n_chars * {PPM // WEIGHT_DENOM_CHARS})""",
}


# -- weighted reservoir sampling (A-Res), exact-integer attestable -----

#: reservoir size per stratum (lang)
RESERVOIR_K = 10
#: weight = least(WEIGHT_CAP, 1 + n_chars div WEIGHT_STEP) — integer
#: weights in [1, WEIGHT_CAP], spread across the corpus length range
WEIGHT_CAP = 8
WEIGHT_STEP = 64


def reservoir_weight_col() -> Column:
    """Integer A-Res weight in [1, WEIGHT_CAP] from n_chars — shared
    by the batch operator and the streaming twin so both rank with
    the IDENTICAL weight."""
    return F.least(
        F.lit(WEIGHT_CAP),
        F.lit(1) + F.expr(f"n_chars div {WEIGHT_STEP}"),
    ).cast("int")


def reservoir_priority_col(w: Column) -> Column:
    """The exact-integer A-Res priority: max of w namespaced
    md5-prefix hashes (distributed as u^(1/w) for integer w) — a
    scan-level projection, shared batch/stream."""
    return F.array_max(
        F.transform(
            F.sequence(F.lit(1), w),
            lambda j: md5_long(
                F.concat(
                    F.lit("resv:"),
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    j.cast("string"),
                )
            ),
        )
    )


def q_weighted_reservoir_attest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fixed-size-k WEIGHTED reservoir sample per language stratum
    (Efraimidis–Spirakis A-Res), fully deterministic and
    cross-engine attestable: the classic scheme ranks items by
    u^(1/w) with u uniform — a float pow that would never hash
    identically across engines. The exact-integer equivalence this
    operator uses instead: for INTEGER weight w, max(u_1..u_w) of w
    iid uniforms has CDF x^w — the SAME distribution as u^(1/w) — so
    the priority is the MAX of w namespaced md5-prefix integers, an
    exact BIGINT both engines compute bit-identically. Top-k per
    stratum by (priority DESC, doc_id) is then the A-Res reservoir:
    inclusion probability rises with weight, membership is a pure
    function of the rows (rerun/engine/cluster-layout stable, stable
    under corpus growth except genuine displacement — the reservoir
    property).

    Complements `weighted_sample` (Bernoulli keep-probability,
    variable output size): this is the fixed-size-k primitive a
    mixture sampler uses when the budget is rows, not a rate.

    Scale shape: the priority is a scan-level projection (w <= 8 hash
    evaluations per row, no shuffle); the only shuffle is the
    per-stratum top-k window — rank over |langs| partitions with
    early per-partition pruning; at 100 TB swap the window for
    ranked_top_k per stratum if |strata| is tiny and skewed."""
    docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
    w = reservoir_weight_col()
    priority = reservoir_priority_col(w)
    ranked = docs.select(
        "lang",
        "doc_id",
        w.alias("weight"),
        priority.alias("priority"),
    ).withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("lang").orderBy(
                F.col("priority").desc(), F.col("doc_id")
            )
        ),
    )
    return ranked.filter(F.col("rank") <= RESERVOIR_K).select(
        "lang",
        F.col("rank").cast("int").alias("rank"),
        "doc_id",
        "weight",
        F.col("priority").cast("long").alias("priority"),
    )


_RESV_H = (
    "('0x' || substring(md5('resv:' || CAST(doc_id AS VARCHAR) || ':'"
    " || CAST(j AS VARCHAR)), 1, 15))::BIGINT"
)

QUERIES["weighted_reservoir_attest"] = q_weighted_reservoir_attest

ORACLES["weighted_reservoir_attest"] = f"""
WITH w AS (SELECT doc_id, lang,
                  CAST(LEAST({WEIGHT_CAP}, 1 + n_chars // {WEIGHT_STEP})
                       AS INT) AS weight
           FROM documents),
pr AS (SELECT doc_id, lang, weight, MAX(h) AS priority FROM (
         SELECT doc_id, lang, weight, {_RESV_H} AS h
         FROM w, unnest(generate_series(1, weight)) AS u(j))
       GROUP BY doc_id, lang, weight),
sel AS (SELECT lang, doc_id, weight, priority,
               CAST(ROW_NUMBER() OVER (
                 PARTITION BY lang
                 ORDER BY priority DESC, doc_id) AS INT) AS rank
        FROM pr)
SELECT lang, rank, doc_id, weight, CAST(priority AS BIGINT) AS priority
FROM sel WHERE rank <= {RESERVOIR_K}"""


# ---------------------------------------------------------------------------
# Round-7 operators.
# ---------------------------------------------------------------------------

def split_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-balance audit of the train/val/test split: the
    TOTAL-VARIATION distance between each split's token UNIGRAM
    distribution and the whole corpus's, in exact integer ppm — the
    leakage/skew check a training pipeline runs after splitting (a
    val split whose vocabulary profile drifts from the corpus will
    mis-rank every checkpoint). The token-level sibling of
    corpus_source_drift's length-profile TV, over the hash-stable
    split_column assignment. Added in round 7.

    Exactness: common-denominator integers |n_st*N - n_t*N_s| summed
    in DECIMAL(38,0), one truncating div by 2*N_s*N — no logs, no
    floats. Missing-token mass handled algebraically like
    corpus_source_drift.

    Scale shape: ONE map-side-combinable (split, token) groupBy over
    the token fan-out is the only corpus-scale reduce; the marginals
    are re-aggregations of that rollup (never a single-partition
    global window — the grand total is a broadcast 1-row aggregate,
    the tpch_q11 scalar-subquery shape)."""
    from ..functions.text import tokens

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        split_column(F.col("doc_id")).alias("split"),
        F.explode(tokens(F.col("text"))).alias("tok"),
    ).filter(F.col("tok") != "")
    cells = toks.groupBy("split", "tok").agg(
        F.count(F.lit(1)).alias("n_st")
    )
    per_split = cells.groupBy("split").agg(
        F.sum("n_st").alias("n_s"), F.count(F.lit(1)).alias("n_types")
    )
    per_tok = cells.groupBy("tok").agg(F.sum("n_st").alias("n_t"))
    total = per_split.agg(F.sum("n_s").alias("n"))
    j = (
        cells.join(per_tok, "tok")
        .join(F.broadcast(per_split), "split")
        .crossJoin(F.broadcast(total))
    )
    agg = j.groupBy("split").agg(
        F.first("n_s").alias("n_s"),
        F.first("n_types").alias("n_types"),
        F.first("n").alias("n"),
        F.sum(
            F.abs(
                F.col("n_st").cast("decimal(38,0)") * F.col("n")
                - F.col("n_t").cast("decimal(38,0)") * F.col("n_s")
            )
        ).alias("num_p"),
        F.sum(F.col("n_t").cast("decimal(38,0)")).alias("cov"),
    )
    return agg.select(
        "split",
        F.col("n_s").cast("long").alias("n_tokens"),
        F.col("n_types").cast("long").alias("n_types"),
        F.expr(
            "CAST((num_p + (CAST(n AS DECIMAL(38,0)) - cov) * n_s)"
            " * 1000000 div (2 * CAST(n_s AS DECIMAL(38,0)) * n)"
            " AS BIGINT)"
        ).alias("tv_ppm"),
    )


_SPLIT_TOKS = (
    "string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
    ", ' ')"
)

SPLIT_BALANCE_ORACLE = f"""
WITH tk AS (SELECT doc_id,
                   CASE WHEN {hash_bucket_sql("doc_id", 100, "split")}
                             < {SPLIT_TRAIN} THEN 'train'
                        WHEN {hash_bucket_sql("doc_id", 100, "split")}
                             < {SPLIT_VAL} THEN 'val'
                        ELSE 'test' END AS split,
                   unnest({_SPLIT_TOKS}) AS tok
            FROM documents),
cells AS (SELECT split, tok, COUNT(*) AS n_st
          FROM tk WHERE tok <> '' GROUP BY 1, 2),
per_split AS (SELECT split, SUM(n_st) AS n_s, COUNT(*) AS n_types
              FROM cells GROUP BY 1),
per_tok AS (SELECT tok, SUM(n_st) AS n_t FROM cells GROUP BY 1),
total AS (SELECT SUM(n_s) AS n FROM per_split),
j AS (SELECT c.split, c.n_st, t.n_t, s.n_s, s.n_types, x.n
      FROM cells c
      JOIN per_tok t USING (tok)
      JOIN per_split s USING (split)
      CROSS JOIN total x)
SELECT split,
       CAST(MIN(n_s) AS BIGINT) AS n_tokens,
       CAST(MIN(n_types) AS BIGINT) AS n_types,
       CAST((SUM(abs(CAST(n_st AS HUGEINT) * n
                     - CAST(n_t AS HUGEINT) * n_s))
             + (MIN(n) - SUM(n_t)) * MIN(n_s)) * 1000000
            // (2 * CAST(MIN(n_s) AS HUGEINT) * MIN(n))
            AS BIGINT) AS tv_ppm
FROM j GROUP BY split"""


# Registered r8.
QUERIES["split_balance_audit"] = split_balance_audit
ORACLES["split_balance_audit"] = SPLIT_BALANCE_ORACLE


# ---------------------------------------------------------------------------
# Round-8 operators.
# ---------------------------------------------------------------------------

def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate LEAKAGE across the train/val/test split — the
    decontamination audit every eval pipeline needs: a val/test
    document with a tau=0.8 near-duplicate in train inflates the
    benchmark. Every verified MinHash-LSH pair is labeled with its
    two documents' hash-split assignments (the SAME split_column the
    split-count audit uses — the audit and the split can never
    disagree) and rolled up by dedup.pair_rate_matrix; the
    (train, val) / (train, test) cells ARE the leakage number.
    Added in round 8."""
    from .dedup import pair_rate_matrix, q_dedup_minhash_lsh

    pairs = q_dedup_minhash_lsh(spark, sf_dir).select(
        "doc_id_1", "doc_id_2"
    )
    labels = _docs(spark, sf_dir).select(
        "doc_id", split_column(F.col("doc_id")).alias("split")
    )
    return pair_rate_matrix(pairs, labels, "split", "leak_ppm")


def _split_leakage_oracle() -> str:
    from .dedup import pair_rate_matrix_sql

    b = hash_bucket_sql("doc_id", 100, "split")
    split_case = (
        f"CASE WHEN {b} < {SPLIT_TRAIN} THEN 'train' "
        f"WHEN {b} < {SPLIT_VAL} THEN 'val' ELSE 'test' END"
    )
    return pair_rate_matrix_sql(
        f"SELECT doc_id, {split_case} AS split FROM documents",
        "split",
        "leak_ppm",
    )


QUERIES["split_leakage_audit"] = split_leakage_audit
ORACLES["split_leakage_audit"] = _split_leakage_oracle()


# ---------------------------------------------------------------------------
# r9-staged prebuilds, registered in round 10.
# ---------------------------------------------------------------------------

def quality_split_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-bucket mix per train/val/test split — the eval-health
    audit next to split_balance_audit (language mix) and
    split_leakage_audit (near-dup crossings): a hash split is only
    fair if each split sees the same QUALITY distribution, and a
    val set skewed toward 'low' quietly misgrades every model run.
    Reuses the registered text_quality_score bucket rule VERBATIM
    (audit and scorer can never disagree — the distortion-audit
    principle) and the same split_column as every other split audit.

    Scale: one document scan through the scorer's expressions, one
    groupBy on <= 9 (split, bucket) cells; the per-split share
    window runs over those 9 rows."""
    from .textops import q_text_quality_score

    q = q_text_quality_score(spark, sf_dir).select(
        "doc_id", "quality_bucket"
    )
    lab = q.select(
        "quality_bucket",
        split_column(F.col("doc_id")).alias("split"),
    )
    g = lab.groupBy("split", "quality_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return g.select(
        "split",
        "quality_bucket",
        "n_docs",
        F.expr(
            "CAST(CAST(n_docs AS DECIMAL(38,0)) * 1000000"
            " div (sum(n_docs) OVER (PARTITION BY split)) AS BIGINT)"
        ).alias("share_ppm"),
    )


def _quality_split_drift_oracle() -> str:
    from .textops import ORACLES as _TEXT_ORACLES

    b = hash_bucket_sql("doc_id", 100, "split")
    split_case = (
        f"CASE WHEN {b} < {SPLIT_TRAIN} THEN 'train' "
        f"WHEN {b} < {SPLIT_VAL} THEN 'val' ELSE 'test' END"
    )
    return f"""
WITH q AS ({_TEXT_ORACLES["text_quality_score"]}),
lab AS (SELECT quality_bucket, {split_case} AS split FROM q),
g AS (SELECT split, quality_bucket, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM lab GROUP BY 1, 2)
SELECT split, quality_bucket, n_docs,
       CAST(CAST(n_docs AS HUGEINT) * 1000000
            // SUM(n_docs) OVER (PARTITION BY split) AS BIGINT)
         AS share_ppm
FROM g"""


QUERIES["quality_split_drift"] = quality_split_drift
ORACLES["quality_split_drift"] = _quality_split_drift_oracle()


# ---------------------------------------------------------------------------
# Round-10 operators.
# ---------------------------------------------------------------------------

#: assembly budget = total corpus tokens div QUOTA_DENOM, split as an
#: equal fair-share quota across sources (capped by availability)
QUOTA_DENOM = 2
QUOTA_NS = "quota:"


def quota_select(docs_df: DataFrame) -> DataFrame:
    """Deterministic token-budget dataset assembly — the step between
    corpus_mixture_weights (what share each source SHOULD get) and
    dataset_manifest (what was shipped): give every source an equal
    fair-share token quota (total div 2 div n_sources, capped by the
    source's own tokens) and select each source's documents in
    namespaced-hash order until the quota is reached (greedy prefix:
    a doc is kept iff the selected tokens BEFORE it are under quota,
    so the quota can overshoot by at most one document). Membership
    is a pure function of (doc_id, corpus totals): reruns, engines,
    and cluster layouts agree, and growing the corpus only reshuffles
    selection through the totals — never through row order. Takes
    any (doc_id, source, text) relation so the corpus pipeline can
    run it over gate survivors, not just the raw table.

    Scale: one token-count scan; the per-source cumulative sum is a
    window partitioned by source (bounded source count; a single
    pathological source would use the classic two-pass partial-sum
    split, same arithmetic); quotas are a broadcast-size rollup."""
    from ..functions.text import tokens

    docs = docs_df.select(
        "doc_id",
        "source",
        F.size(tokens(F.col("text"))).cast("long").alias("nt"),
        md5_long(
            F.concat(F.lit(QUOTA_NS), F.col("doc_id").cast("string"))
        ).alias("h"),
    )
    tot = docs.agg(
        F.sum("nt").alias("total_tokens"),
        F.count_distinct("source").alias("n_sources"),
    )
    quota = (
        docs.groupBy("source")
        .agg(F.sum("nt").alias("src_tokens"))
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "src_tokens",
            F.expr(
                f"least(src_tokens, (total_tokens div {QUOTA_DENOM})"
                " div n_sources)"
            ).alias("quota_tokens"),
        )
    )
    w = (
        Window.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = docs.withColumn("cum", F.sum("nt").over(w))
    return cum.join(F.broadcast(quota), "source").filter(
        F.col("cum") - F.col("nt") < F.col("quota_tokens")
    )


def quota_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quota_select over the raw documents table."""
    return quota_select(_docs(spark, sf_dir))


def source_quota_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source audit of the quota assembly: how many documents and
    tokens each source shipped against its quota, the integer-ppm
    fill (>= 1e6 only by the bounded one-doc overshoot), and an
    order-independent md5-hash checksum of the selected membership
    (bit_xor — the ANSI-safe set checksum), so the driver's oracle
    attests WHICH documents were picked, not just how many."""
    sel = quota_sample_docs(spark, sf_dir)
    return sel.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_selected"),
        F.sum("nt").cast("long").alias("sel_tokens"),
        F.min("src_tokens").cast("long").alias("src_tokens"),
        F.min("quota_tokens").cast("long").alias("quota_tokens"),
        F.expr(
            "CAST(CAST(SUM(nt) AS DECIMAL(38,0)) * 1000000"
            " div MIN(quota_tokens) AS BIGINT)"
        ).alias("fill_ppm"),
        F.expr("bit_xor(h)").alias("sel_checksum"),
    )


from ..functions.text import tokens_sql as _tokens_sql  # noqa: E402

QUOTA_SAMPLER_ORACLE = f"""
WITH d AS (
  SELECT doc_id, source,
         CAST(len({_tokens_sql("text")}) AS BIGINT) AS nt,
         {md5_long_sql("'" + QUOTA_NS + "' || CAST(doc_id AS VARCHAR)")} AS h
  FROM documents),
tot AS (SELECT SUM(nt) AS total_tokens,
               COUNT(DISTINCT source) AS n_sources FROM d),
q AS (SELECT source, SUM(nt) AS src_tokens,
             LEAST(SUM(nt), (tot.total_tokens // {QUOTA_DENOM})
                            // tot.n_sources) AS quota_tokens
      FROM d, tot GROUP BY source, tot.total_tokens, tot.n_sources),
c AS (SELECT doc_id, source, nt, h,
             SUM(nt) OVER (PARTITION BY source ORDER BY h, doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum
      FROM d),
sel AS (SELECT c.*, q.quota_tokens, q.src_tokens
        FROM c JOIN q USING (source)
        WHERE c.cum - c.nt < q.quota_tokens)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs_selected,
       CAST(SUM(nt) AS BIGINT) AS sel_tokens,
       CAST(MIN(src_tokens) AS BIGINT) AS src_tokens,
       CAST(MIN(quota_tokens) AS BIGINT) AS quota_tokens,
       CAST(CAST(SUM(nt) AS HUGEINT) * 1000000 // MIN(quota_tokens)
            AS BIGINT) AS fill_ppm,
       BIT_XOR(h) AS sel_checksum
FROM sel GROUP BY 1"""


# Round 11 registration of the r10-staged quota sampler.
QUERIES["source_quota_sampler"] = source_quota_sampler
ORACLES["source_quota_sampler"] = QUOTA_SAMPLER_ORACLE


# ---------------------------------------------------------------------------
# Round-11 operators.
# ---------------------------------------------------------------------------

#: assembly-budget denominators swept by quota_denom_sweep — the
#: registered QUOTA_DENOM (2: ship half the corpus) bracketed by a
#: quarter-budget and the full corpus. Selection order per source is
#: the FIXED namespaced hash, so a bigger budget only EXTENDS each
#: source's selected prefix: the swept selections provably nest.
QUOTA_SWEEP_DENOMS = (4, 2, 1)


def quota_denom_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What changes when the training budget doubles — the assembly
    question quota_select answers at ONE budget, swept across
    total//4, total//2 (the registered point) and the full corpus:
    per denominator, documents and tokens shipped, how many sources
    their own size caps (quota == src_tokens: the budget stops
    binding them), the aggregate fill of the allocated quota
    (integer ppm; >1e6 only by the bounded one-doc-per-source
    overshoot), and the bit_xor membership checksum so the driver
    attests WHICH documents each budget ships.

    Scale posture: token counts and the per-source hash-ordered
    cumulative sum — the only corpus passes — are budget-INDEPENDENT
    and run ONCE; the sweep is an integer explode over the cum rows
    joined to a broadcast per-source quota table, then one rollup on
    <= |denoms| cells. Because selection is a greedy prefix in a
    fixed per-source order, growing the budget only extends each
    prefix — selections NEST (pinned), which is what makes budget
    increases SAFE replays rather than reshuffles at 100 TB."""
    from ..functions.text import tokens

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.size(tokens(F.col("text"))).cast("long").alias("nt"),
        md5_long(
            F.concat(F.lit(QUOTA_NS), F.col("doc_id").cast("string"))
        ).alias("h"),
    )
    tot = docs.agg(
        F.sum("nt").alias("total_tokens"),
        F.count_distinct("source").alias("n_sources"),
    )
    src = docs.groupBy("source").agg(F.sum("nt").alias("src_tokens"))
    spine = F.explode(
        F.array(*[F.lit(d) for d in QUOTA_SWEEP_DENOMS])
    ).alias("quota_denom")
    quotas = (
        src.crossJoin(F.broadcast(tot))
        .select("source", "src_tokens", "total_tokens", "n_sources", spine)
        .withColumn(
            "quota_tokens",
            F.expr(
                "least(src_tokens,"
                " (total_tokens div quota_denom) div n_sources)"
            ),
        )
    )
    qagg = quotas.groupBy("quota_denom").agg(
        F.sum("quota_tokens").alias("total_quota"),
        F.sum(
            (F.col("quota_tokens") == F.col("src_tokens")).cast("long")
        ).alias("n_sources_capped"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = docs.withColumn("cum", F.sum("nt").over(w))
    sel = (
        cum.select("source", "nt", "h", "cum", spine)
        .join(
            F.broadcast(
                quotas.select("quota_denom", "source", "quota_tokens")
            ),
            ["quota_denom", "source"],
        )
        .filter(F.col("cum") - F.col("nt") < F.col("quota_tokens"))
        .groupBy("quota_denom")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_selected"),
            F.sum("nt").cast("long").alias("sel_tokens"),
            F.expr("bit_xor(h)").alias("sel_checksum"),
        )
    )
    return sel.join(F.broadcast(qagg), "quota_denom").select(
        F.col("quota_denom").cast("int").alias("quota_denom"),
        "n_docs_selected",
        "sel_tokens",
        F.col("total_quota").cast("long").alias("total_quota"),
        F.col("n_sources_capped").cast("long").alias("n_sources_capped"),
        F.expr(
            "CAST(CAST(sel_tokens AS DECIMAL(38,0)) * 1000000"
            " div total_quota AS BIGINT)"
        ).alias("fill_ppm"),
        "sel_checksum",
    )


QUOTA_DENOM_SWEEP_ORACLE = f"""
WITH d AS (
  SELECT doc_id, source,
         CAST(len({_tokens_sql("text")}) AS BIGINT) AS nt,
         {md5_long_sql("'" + QUOTA_NS + "' || CAST(doc_id AS VARCHAR)")} AS h
  FROM documents),
tot AS (SELECT SUM(nt) AS total_tokens,
               COUNT(DISTINCT source) AS n_sources FROM d),
sp AS (SELECT unnest({list(QUOTA_SWEEP_DENOMS)}) AS quota_denom),
q AS (SELECT sp.quota_denom, source, SUM(nt) AS src_tokens,
             LEAST(SUM(nt), (tot.total_tokens // sp.quota_denom)
                            // tot.n_sources) AS quota_tokens
      FROM d, tot, sp
      GROUP BY sp.quota_denom, source, tot.total_tokens, tot.n_sources),
qa AS (SELECT quota_denom,
              SUM(quota_tokens) AS total_quota,
              COUNT(CASE WHEN quota_tokens = src_tokens THEN 1 END)
                AS n_sources_capped
       FROM q GROUP BY 1),
c AS (SELECT doc_id, source, nt, h,
             SUM(nt) OVER (PARTITION BY source ORDER BY h, doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum
      FROM d),
sel AS (SELECT q.quota_denom,
               CAST(COUNT(*) AS BIGINT) AS n_docs_selected,
               CAST(SUM(c.nt) AS BIGINT) AS sel_tokens,
               BIT_XOR(c.h) AS sel_checksum
        FROM c JOIN q ON q.source = c.source
        WHERE c.cum - c.nt < q.quota_tokens
        GROUP BY 1)
SELECT CAST(sel.quota_denom AS INT) AS quota_denom,
       n_docs_selected, sel_tokens,
       CAST(qa.total_quota AS BIGINT) AS total_quota,
       CAST(qa.n_sources_capped AS BIGINT) AS n_sources_capped,
       CAST(CAST(sel_tokens AS HUGEINT) * 1000000 // qa.total_quota
            AS BIGINT) AS fill_ppm,
       sel_checksum
FROM sel JOIN qa ON qa.quota_denom = sel.quota_denom"""

QUERIES["quota_denom_sweep"] = quota_denom_sweep
ORACLES["quota_denom_sweep"] = QUOTA_DENOM_SWEEP_ORACLE
