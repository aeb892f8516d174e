"""Distributed data-quality validation (source-side).

Parity with reference src/thrive_cash_processing_dag.py:639
(``_validate_transactions``): required fields present, no nulls,
numeric amounts, transaction types in the allowed enum. The reference
iterates pandas rows and collects error strings; here every check is a
declarative aggregate over the full table — at 100 TB this is one scan
producing a per-rule violation count plus an optional row-level error
sample (bounded, for the analyst report).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..datamodel import load_table
from ..sources.ingest import TRANSACTIONS_SQL, transactions_from_events

ALLOWED_TYPES = ("earned", "spent", "expired")
REQUIRED = ("trans_id", "tctype", "createdat", "customerid", "amount")


def validate_source(txns: DataFrame) -> DataFrame:
    """Per-rule violation counts (one aggregate pass, map-side
    combinable). Empty-of-violations data still yields one row per
    rule with violations=0 — the auditable 'checks ran' record."""
    checks = [
        *[
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"null_{c}")
            for c in REQUIRED
        ],
        F.count(F.when(~F.col("tctype").isin(*ALLOWED_TYPES), 1)).alias(
            "invalid_tctype"
        ),
        F.count(F.when(F.isnan(F.col("amount")), 1)).alias("nan_amount"),
        F.count("*").alias("rows_scanned"),
    ]
    wide = txns.agg(*checks)
    # long form: (check, violations) — stable shape as rules evolve
    names = [f"null_{c}" for c in REQUIRED] + ["invalid_tctype", "nan_amount"]
    pairs = []
    for n in names:
        pairs.extend([F.lit(n), F.col(n)])
    return wide.select(
        F.explode(F.create_map(*pairs)).alias("check", "violations"),
        F.col("rows_scanned"),
    )


def q_validate_source_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return validate_source(
        transactions_from_events(load_table(spark, sf_dir, "events"))
    )


def profile_table(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Column profile in ONE scan: nulls + exact distincts per column,
    long-form (column, n_nulls, n_distinct, n_rows). The multi-column
    count_distinct is the expand-based single-pass plan; at 100 TB
    swap exact distincts for approx_count_distinct (HLL, mergeable) —
    same output shape, documented ±2% error."""
    cols = columns or df.columns
    aggs = []
    for c in cols:
        aggs.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"__n_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"__d_{c}"))
    wide = df.agg(*aggs, F.count("*").alias("__rows"))
    pairs = []
    for c in cols:
        pairs.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"__n_{c}").alias("n_nulls"),
                F.col(f"__d_{c}").alias("n_distinct"),
                F.col("__rows").alias("n_rows"),
            )
        )
    return wide.select(F.explode(F.array(*pairs)).alias("p")).select(
        "p.column", "p.n_nulls", "p.n_distinct", "p.n_rows"
    )


PROFILE_COLS = ("doc_id", "lang", "source", "n_chars")


def q_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of the documents table (the pre-flight audit a
    training-data pipeline runs before ingesting a new snapshot)."""
    return profile_table(
        load_table(spark, sf_dir, "documents"), list(PROFILE_COLS)
    )


def quality_gate(
    docs: DataFrame, stratum: str, score, tiebreak: str
) -> DataFrame:
    """Keep each stratum's top half by `score` (a Column) — the
    percentile quality gate training pipelines run per language so a
    low-resource language isn't wiped out by a global threshold.

    Integer-rank formulation: keep iff 2 * rank <= stratum size — no
    percent_rank() double ever enters the decision (a float percentile
    compare can flip across engines on exact-half boundaries). One
    shuffle on the stratum; both windows share it."""
    from pyspark.sql import Window

    w = Window.partitionBy(stratum).orderBy(
        score.desc(), F.col(tiebreak)
    )
    wn = Window.partitionBy(stratum)
    return (
        docs.withColumn("__r", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(wn))
        .filter(2 * F.col("__r") <= F.col("__n"))
        .drop("__r", "__n")
    )


def q_quality_gate_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents surviving the per-language median length gate
    (score = n_chars, doc_id tiebreak)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    return quality_gate(docs, "lang", F.col("n_chars"), "doc_id")


#: (child table, fk column, parent table, pk column, parent is a dim
#: small enough to broadcast at any scale)
FK_EDGES = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey", False),
    ("lineitem", "l_partkey", "part", "p_partkey", True),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey", True),
    ("orders", "o_custkey", "customer", "c_custkey", False),
    ("customer", "c_nationkey", "nation", "n_nationkey", True),
    ("supplier", "s_nationkey", "nation", "n_nationkey", True),
)


def q_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table FK audit over the whole star schema: per declared
    relationship, total child rows and orphan rows (fk value absent
    from the parent) — the load-time contract check a warehouse runs
    before publishing a snapshot (the reference validates single-table
    row quality at src/thrive_cash_processing_dag.py:639; this is the
    multi-table completion of that posture).

    Scale shape: each edge is ONE left-anti count. Dimension parents
    broadcast explicitly; fact-fact edges (lineitem→orders,
    orders→customer) shuffle on the key — the same partitioning any
    downstream join on that key reuses. The parent side is reduced to
    its distinct key column before the join, so the anti-join build
    side is minimal."""
    out = None
    for child, fk, parent, pk, is_dim in FK_EDGES:
        c = load_table(spark, sf_dir, child)
        p = load_table(spark, sf_dir, parent).select(pk).distinct()
        if is_dim:
            p = F.broadcast(p)
        orphans = c.join(p, c[fk] == F.col(pk), "left_anti")
        row = (
            c.agg(F.count(F.lit(1)).alias("n_rows"))
            .crossJoin(orphans.agg(F.count(F.lit(1)).alias("n_orphans")))
            .select(
                F.lit(f"{child}.{fk}").alias("relationship"),
                F.lit(f"{parent}.{pk}").alias("references"),
                "n_rows",
                "n_orphans",
            )
        )
        out = row if out is None else out.unionAll(row)
    return out


QUERIES = {
    "referential_integrity": q_referential_integrity,
    "validate_source_summary": q_validate_source_summary,
    "profile_documents": q_profile_documents,
    "quality_gate_by_lang": q_quality_gate_by_lang,
}

_PROFILE_SQL = "\nUNION ALL\n".join(
    f"SELECT '{c}' AS column, "
    f"COUNT(CASE WHEN {c} IS NULL THEN 1 END) AS n_nulls, "
    f"COUNT(DISTINCT {c}) AS n_distinct, COUNT(*) AS n_rows FROM documents"
    for c in PROFILE_COLS
)

_NULL_SQL = "\nUNION ALL\n".join(
    f"SELECT 'null_{c}' AS check, COUNT(CASE WHEN {c} IS NULL THEN 1 END) AS violations, COUNT(*) AS rows_scanned FROM txns"
    for c in REQUIRED
)

_RI_SQL = "\nUNION ALL\n".join(
    f"SELECT '{child}.{fk}' AS relationship, "
    f"'{parent}.{pk}' AS \"references\", "
    f"CAST(COUNT(*) AS BIGINT) AS n_rows, "
    f"CAST(COUNT(CASE WHEN {pk2} IS NULL THEN 1 END) AS BIGINT)"
    f" AS n_orphans "
    f"FROM {child} LEFT JOIN (SELECT DISTINCT {pk} AS {pk2} FROM {parent})"
    f" ON {fk} = {pk2}"
    for child, fk, parent, pk, _ in FK_EDGES
    for pk2 in (f"_{pk}",)
)

ORACLES = {
    "referential_integrity": _RI_SQL,
    "validate_source_summary": f"""
WITH txns AS ({TRANSACTIONS_SQL.strip()})
{_NULL_SQL}
UNION ALL
SELECT 'invalid_tctype', COUNT(CASE WHEN tctype NOT IN ('earned','spent','expired') THEN 1 END), COUNT(*) FROM txns
UNION ALL
SELECT 'nan_amount', COUNT(CASE WHEN isnan(amount) THEN 1 END), COUNT(*) FROM txns""",
    "profile_documents": _PROFILE_SQL,
    "quality_gate_by_lang": """
SELECT doc_id, lang, n_chars FROM (
  SELECT doc_id, lang, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY n_chars DESC, doc_id) AS r,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents)
WHERE 2 * r <= n""",
}


#: floor(log10(1 + 1/d) * 1e6) for d = 1..9 — shared literal constants
#: in BOTH engines (no runtime log10, no float drift).
BENFORD_PPM = (301029, 176091, 124938, 96910, 79181, 66946, 57991,
               51152, 45757)


def benford_cells(events_df: DataFrame) -> DataFrame:
    """(event_type, digit, n) first-digit counters — the mergeable
    core of the Benford audit (cells add, so a streaming groupBy's
    state IS this relation; `streaming.stateful.stream_benford` runs
    the same code path on a stream)."""
    cents = F.round(F.col("value") * 100).cast("long")
    d = events_df.select(
        "event_type", cents.alias("cents")
    ).withColumn(
        "digit",
        F.when(
            F.col("cents") != 0,
            F.substring(F.abs(F.col("cents")).cast("string"), 1, 1)
            .cast("int"),
        ),
    )
    return (
        d.filter(F.col("digit").isNotNull())
        .groupBy("event_type", "digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def benford_from_cells(cells: DataFrame) -> DataFrame:
    """Read the audit frame off drained Benford cells (batch result
    or streamed state snapshot): 9-digit spine per type, integer-ppm
    observed frequencies, literal expected ppm, signed deviation."""
    wn = Window.partitionBy("event_type")
    totals = cells.select(
        "event_type", "digit", "n",
        F.sum("n").over(wn).alias("n_digits"),
    )
    spine = (
        totals.select("event_type", "n_digits").distinct()
        .select(
            "event_type", "n_digits",
            F.explode(
                F.array(*[F.lit(i) for i in range(1, 10)])
            ).alias("digit"),
        )
    )
    exp_ppm = F.element_at(
        F.array(*[F.lit(p) for p in BENFORD_PPM]), F.col("digit")
    )
    obs_ppm = F.expr("n * 1000000 div n_digits")
    # rename the probe side: spine derives from `cells`, and joining a
    # frame with its own descendant on shared names trips Catalyst's
    # conflicting-reference check (seen with memory-sink sources)
    obs = cells.select(
        F.col("event_type").alias("b_et"),
        F.col("digit").alias("b_digit"),
        F.col("n").alias("n_obs"),
    )
    return (
        spine.join(
            obs,
            (F.col("event_type") == F.col("b_et"))
            & (F.col("digit") == F.col("b_digit")),
            "left",
        )
        .withColumn("n", F.coalesce("n_obs", F.lit(0)))
        .select(
            "event_type",
            F.col("digit").cast("int").alias("digit"),
            F.col("n").cast("long").alias("n"),
            F.col("n_digits").cast("long").alias("n_digits"),
            obs_ppm.cast("long").alias("obs_ppm"),
            exp_ppm.cast("long").alias("exp_ppm"),
            (obs_ppm - exp_ppm).cast("long").alias("dev_ppm"),
        )
    )


def benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over event values — the
    classic forensic-accounting screen for fabricated or manipulated
    amounts (naturally occurring multi-scale amounts follow
    P(d) = log10(1+1/d); human-invented figures don't). Per
    (event_type, leading digit): observed count, observed frequency
    in integer ppm, the expected Benford ppm as a shared literal
    constant, and the signed deviation — a flat deviation profile
    clears the audit, spikes localize the suspect digit.
    Registered in round 6.

    Exactness: the first significant digit of |cents| is a string
    operation on the exact integer (never float log); frequencies
    are integer ppm via truncating div; expected values are
    compile-time literals, so every column is engine-exact.

    Scale shape: one projection + one map-side-combinable groupBy on
    (event_type, digit) — ≤ 9 * |types| result rows; zero values
    (no leading digit) are excluded but reported via n_total vs
    n_digits mass."""
    # the <= 9*|types| cells are read twice (spine + observed); the
    # join's build-side null filter makes the two exchanges
    # non-canonical, so AQE can NOT dedupe them — truncate once
    # instead of scanning events twice
    cells = benford_cells(
        load_table(spark, sf_dir, "events")
    ).localCheckpoint(eager=True)
    return benford_from_cells(cells)


#: DuckDB twin of benford_audit (round-6 registration).
BENFORD_ORACLE = f"""
WITH ev AS (SELECT event_type,
                   CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
            FROM events),
d AS (SELECT event_type,
             CAST(substring(CAST(abs(cents) AS VARCHAR), 1, 1) AS INT)
               AS digit
      FROM ev WHERE cents <> 0),
counts AS (SELECT event_type, digit, COUNT(*) AS n
           FROM d GROUP BY event_type, digit),
total AS (SELECT event_type, COUNT(*) AS n_digits
          FROM d GROUP BY event_type),
spine AS (SELECT t.event_type, t.n_digits, g.digit
          FROM total t, (SELECT unnest(range(1, 10)) AS digit) g),
exp AS (SELECT unnest(range(1, 10)) AS digit,
               unnest({list(BENFORD_PPM)}) AS exp_ppm)
SELECT s.event_type, CAST(s.digit AS INT) AS digit,
       CAST(COALESCE(c.n, 0) AS BIGINT) AS n,
       CAST(s.n_digits AS BIGINT) AS n_digits,
       CAST(COALESCE(c.n, 0) * 1000000 // s.n_digits AS BIGINT)
         AS obs_ppm,
       CAST(e.exp_ppm AS BIGINT) AS exp_ppm,
       CAST(COALESCE(c.n, 0) * 1000000 // s.n_digits - e.exp_ppm
            AS BIGINT) AS dev_ppm
FROM spine s
LEFT JOIN counts c ON c.event_type = s.event_type
                  AND c.digit = s.digit
JOIN exp e ON e.digit = s.digit"""


def observe_ingest_quality(df: DataFrame, name: str = "ingest_quality"):
    """Attach ZERO-COST quality telemetry to any plan via Spark's
    Observation API: row count, null user_ids, non-positive values
    and distinct-day reach are computed AS THE ACTION RUNS — no
    second scan, no separate audit job. Returns (df, observation);
    read `observation.get` after any action on the returned frame.

    This is the 100 TB form of "validate while you load": the
    reference pipeline (src/thrive_cash_processing_dag.py
    validate_source) re-reads its input to audit it; an observed
    metric rides the existing pass for free. The same `observe` call
    works on a STREAMING frame, where each micro-batch's metrics
    surface in StreamingQueryProgress.observedMetrics
    (streaming/stateful.stream_observed_events + test)."""
    from pyspark.sql import Observation

    obs = Observation(name)
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("user_id").isNull().cast("long")).alias(
            "null_user_ids"
        ),
        F.sum((F.col("value") <= 0).cast("long")).alias(
            "nonpositive_values"
        ),
        F.approx_count_distinct(F.to_date("ts")).alias("approx_days"),
    )
    return observed, obs


# --- Round-6 registrations into the driver contract
# --- (queries()/oracle_sql()).
QUERIES["benford_audit"] = benford_audit
ORACLES["benford_audit"] = BENFORD_ORACLE


# ---------------------------------------------------------------------------
# r9-staged prebuilds, registered in round 10.
# ---------------------------------------------------------------------------

def source_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation FUNNEL per source — the dashboard number a data
    pipeline is judged by: how many documents (and tokens) of each
    provider survive decontamination, then exact-dup
    canonicalization, then the per-language quality gate, applied
    SEQUENTIALLY in run_corpus_pipeline's order. Each stage's
    keep-set is the REGISTERED operator's own plan (corpus_clean,
    dedup_keep_canonical, quality_gate_by_lang), so the funnel and
    the pipeline cannot drift from the audited operators — and
    unlike the pipeline's driver-side count report, this relation is
    fully ORACLE-CHECKED (the oracle nests the three registered
    oracles verbatim).

    Scale: three semi-join keep-sets flagged onto one documents scan
    (left joins on doc_id, each side a projection of an audited
    plan), one per-source rollup; no new heavy pass."""
    from pyspark.sql import functions as F

    from ..functions.text import tokens
    from .textops import QUERIES as _TEXT_QUERIES
    from ..operators.dedup import q_dedup_keep_canonical

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source",
        F.size(tokens(F.col("text"))).cast("long").alias("nt"),
    )
    clean = _TEXT_QUERIES["corpus_clean"](spark, sf_dir).select(
        "doc_id"
    ).withColumn("c", F.lit(1))
    canon = q_dedup_keep_canonical(spark, sf_dir).select(
        "doc_id"
    ).withColumn("k", F.lit(1))
    gate = q_quality_gate_by_lang(spark, sf_dir).select(
        "doc_id"
    ).withColumn("g", F.lit(1))
    lab = (
        docs.join(clean, "doc_id", "left")
        .join(canon, "doc_id", "left")
        .join(gate, "doc_id", "left")
    )
    ck = (F.col("c") == 1) & (F.col("k") == 1)
    ckg = ck & (F.col("g") == 1)
    agg = lab.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_raw"),
        F.count("c").cast("long").alias("n_clean"),
        # a NULL flag must count as 0, and an all-NULL source must
        # aggregate to 0, not NULL — coalesce the summed flag
        F.coalesce(F.sum(ck.cast("long")), F.lit(0))
        .cast("long")
        .alias("n_dedup"),
        F.coalesce(F.sum(ckg.cast("long")), F.lit(0))
        .cast("long")
        .alias("n_final"),
        F.sum("nt").cast("long").alias("raw_tokens"),
        F.coalesce(
            F.sum(F.when(ckg, F.col("nt"))), F.lit(0)
        ).cast("long").alias("final_tokens"),
    )
    return agg.select(
        "source", "n_raw", "n_clean", "n_dedup", "n_final",
        "raw_tokens", "final_tokens",
        F.expr(
            "CAST(CAST(final_tokens AS DECIMAL(38,0)) * 1000000"
            " div raw_tokens AS BIGINT)"
        ).alias("retention_ppm"),
    )


def _curation_funnel_oracle() -> str:
    from ..functions.text import norm_sql
    from .dedup import ORACLES as _DEDUP_ORACLES
    from .textops import ORACLES as _TEXT_ORACLES

    clean = _TEXT_ORACLES["corpus_clean"]
    canon = _DEDUP_ORACLES["dedup_keep_canonical"]
    gate = ORACLES["quality_gate_by_lang"]
    return f"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(string_split({norm_sql("text")}, ' ')) AS BIGINT)
           AS nt
  FROM documents),
c AS (SELECT DISTINCT doc_id FROM ({clean}) x),
k AS (SELECT DISTINCT doc_id FROM ({canon}) x),
g AS (SELECT DISTINCT doc_id FROM ({gate}) x)
SELECT t.source,
       CAST(COUNT(*) AS BIGINT) AS n_raw,
       CAST(COUNT(c.doc_id) AS BIGINT) AS n_clean,
       CAST(COUNT(CASE WHEN c.doc_id IS NOT NULL
                        AND k.doc_id IS NOT NULL THEN 1 END)
            AS BIGINT) AS n_dedup,
       CAST(COUNT(CASE WHEN c.doc_id IS NOT NULL
                        AND k.doc_id IS NOT NULL
                        AND g.doc_id IS NOT NULL THEN 1 END)
            AS BIGINT) AS n_final,
       CAST(SUM(t.nt) AS BIGINT) AS raw_tokens,
       CAST(COALESCE(SUM(CASE WHEN c.doc_id IS NOT NULL
                               AND k.doc_id IS NOT NULL
                               AND g.doc_id IS NOT NULL
                              THEN t.nt END), 0) AS BIGINT)
         AS final_tokens,
       CAST(CAST(COALESCE(SUM(CASE WHEN c.doc_id IS NOT NULL
                                    AND k.doc_id IS NOT NULL
                                    AND g.doc_id IS NOT NULL
                                   THEN t.nt END), 0) AS HUGEINT)
            * 1000000 // SUM(t.nt) AS BIGINT) AS retention_ppm
FROM t
LEFT JOIN c ON c.doc_id = t.doc_id
LEFT JOIN k ON k.doc_id = t.doc_id
LEFT JOIN g ON g.doc_id = t.doc_id
GROUP BY t.source"""


CURATION_FUNNEL_ORACLE = _curation_funnel_oracle()

QUERIES["source_curation_funnel"] = source_curation_funnel
ORACLES["source_curation_funnel"] = CURATION_FUNNEL_ORACLE


# ---------------------------------------------------------------------------
# REGISTERED r13.
# corpus_pipeline_attest: the fused END-TO-END pipeline attest — every
# funnel stage run_corpus_pipeline composes, as ONE oracled relation.
# ---------------------------------------------------------------------------

#: funnel stage names in pipeline order (shared by query + oracle)
PIPELINE_STAGES = (
    "documents",
    "decontaminated",
    "deduplicated",
    "quality_gated",
    "chunks",
    "unique_chunks",
    "packed",
)

_CPA_NS = "cpa:"  # checksum namespace (disjoint from other hash uses)


def corpus_pipeline_attest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per corpus-pipeline funnel stage — count, token sum and
    an order-independent md5 membership checksum — so the ENTIRE
    run_corpus_pipeline composition (decontaminate -> near-dup
    canonical filter -> quality gate -> chunk -> chunk-dedup -> pack)
    is attested by a single driver-oracled relation: the oracle nests
    the registered corpus_clean / dedup_keep_canonical /
    quality_gate_by_lang / corpus_chunk oracles and replays the
    chunk-dedup + packing tail over the SURVIVOR set, which no
    registered query covered end-to-end (the doc-level funnel stops at
    the gate; corpus_chunk/pack_chunks run over the unfiltered
    corpus). The checksums attest WHICH documents / chunks / pack
    assignments each stage emits, not just how many.

    Scale shape (sweep-family pattern): the three keep-set plans are
    evaluated ONCE into a narrow labeled relation (doc_id + flags —
    no text) and checkpointed; the chunk fan-out runs once over the
    survivor semi-join (dropped docs are never tokenized, same as the
    pipeline itself) and is checkpointed narrow (no token arrays);
    every stage row is then a one-pass rollup of those two relations.
    The pack assignment reuses ranged_prefix_sum — no per-language
    single-reducer window. Stage identity with run_corpus_pipeline's
    driver-side report is test-pinned, so the pipeline and the attest
    cannot drift."""
    from ..functions.text import md5_long, tokens
    from .dedup import q_dedup_keep_canonical
    from .packing import pack_assignments
    from .textops import QUERIES as _TEXT_QUERIES
    from .textops import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "lang",
        F.size(tokens(F.col("text"))).cast("long").alias("nt"),
        md5_long(
            F.concat(F.lit(_CPA_NS), F.col("doc_id").cast("string"))
        ).alias("h"),
    )
    clean = _TEXT_QUERIES["corpus_clean"](spark, sf_dir).select(
        "doc_id"
    ).withColumn("c", F.lit(1))
    canon = q_dedup_keep_canonical(spark, sf_dir).select(
        "doc_id"
    ).withColumn("k", F.lit(1))
    gate = q_quality_gate_by_lang(spark, sf_dir).select(
        "doc_id"
    ).withColumn("g", F.lit(1))
    lab = (
        base.join(clean, "doc_id", "left")
        .join(canon, "doc_id", "left")
        .join(gate, "doc_id", "left")
        .select(
            "doc_id", "lang", "nt", "h",
            (F.col("c") == 1).alias("fc"),
            ((F.col("c") == 1) & (F.col("k") == 1)).alias("fk"),
            (
                (F.col("c") == 1) & (F.col("k") == 1) & (F.col("g") == 1)
            ).alias("fg"),
        )
        .localCheckpoint(eager=True)  # keep-sets computed exactly once
    )

    def _doc_stage(ord_: int, name: str, flag) -> DataFrame:
        src = lab.filter(flag) if flag is not None else lab
        return src.agg(
            F.lit(ord_).cast("int").alias("stage_ord"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.coalesce(F.sum("nt"), F.lit(0)).cast("long").alias(
                "n_tokens"
            ),
            F.coalesce(F.expr("bit_xor(h)"), F.lit(0)).alias(
                "set_checksum"
            ),
        )

    surv = lab.filter("fg").select("doc_id", "lang")
    ch = (
        chunk_documents(docs.join(surv.select("doc_id"), "doc_id", "semi"))
        .join(surv, "doc_id")
        .select(
            "doc_id",
            "chunk_idx",
            "lang",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "chunk_hash",
            md5_long(
                F.concat(
                    F.lit(_CPA_NS),
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("chunk_idx").cast("string"),
                )
            ).alias("h"),
        )
        .localCheckpoint(eager=True)  # chunk fan-out computed once
    )

    def _chunk_stage(ord_: int, name: str, src: DataFrame) -> DataFrame:
        return src.agg(
            F.lit(ord_).cast("int").alias("stage_ord"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long").alias(
                "n_tokens"
            ),
            F.coalesce(F.expr("bit_xor(h)"), F.lit(0)).alias(
                "set_checksum"
            ),
        )

    wdup = Window.partitionBy("chunk_hash").orderBy("doc_id", "chunk_idx")
    uniq = (
        ch.withColumn("_rn", F.row_number().over(wdup))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    packed = pack_assignments(
        uniq.select("lang", "doc_id", "chunk_idx", "n_tokens"),
        ["lang"], ["doc_id", "chunk_idx"], "n_tokens",
    ).withColumn(
        "hp",
        md5_long(
            F.concat(
                F.lit(_CPA_NS),
                F.col("lang"),
                F.lit(":"),
                F.col("pack_id").cast("string"),
                F.lit(":"),
                F.col("doc_id").cast("string"),
                F.lit(":"),
                F.col("chunk_idx").cast("string"),
            )
        ),
    )
    pack_stage = packed.agg(
        F.lit(7).cast("int").alias("stage_ord"),
        F.lit("packed").alias("stage"),
        F.count_distinct(
            F.concat_ws(":", "lang", "pack_id")
        ).cast("long").alias("n_rows"),
        F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long").alias(
            "n_tokens"
        ),
        F.coalesce(F.expr("bit_xor(hp)"), F.lit(0)).alias(
            "set_checksum"
        ),
    )
    return (
        _doc_stage(1, "documents", None)
        .unionAll(_doc_stage(2, "decontaminated", F.col("fc")))
        .unionAll(_doc_stage(3, "deduplicated", F.col("fk")))
        .unionAll(_doc_stage(4, "quality_gated", F.col("fg")))
        .unionAll(_chunk_stage(5, "chunks", ch))
        .unionAll(_chunk_stage(6, "unique_chunks", uniq))
        .unionAll(pack_stage)
    )


def _pipeline_attest_oracle() -> str:
    from ..functions.text import md5_long_sql, norm_sql
    from .dedup import ORACLES as _DEDUP_ORACLES
    from .packing import PACK_BUDGET
    from .textops import ORACLES as _TEXT_ORACLES

    clean = _TEXT_ORACLES["corpus_clean"]
    canon = _DEDUP_ORACLES["dedup_keep_canonical"]
    gate = ORACLES["quality_gate_by_lang"]
    chunk = _TEXT_ORACLES["corpus_chunk"]
    h_doc = md5_long_sql(f"'{_CPA_NS}' || CAST(doc_id AS VARCHAR)")
    h_chunk = md5_long_sql(
        f"'{_CPA_NS}' || CAST(ca.doc_id AS VARCHAR) || ':'"
        " || CAST(ca.chunk_idx AS VARCHAR)"
    )
    h_pack = md5_long_sql(
        f"'{_CPA_NS}' || lang || ':' || CAST(pack_id AS VARCHAR) || ':'"
        " || CAST(doc_id AS VARCHAR) || ':' || CAST(chunk_idx AS VARCHAR)"
    )
    return f"""
WITH t AS (
  SELECT doc_id, lang,
         CAST(len(string_split({norm_sql("text")}, ' ')) AS BIGINT)
           AS nt,
         {h_doc} AS h
  FROM documents),
cset AS (SELECT DISTINCT doc_id FROM ({clean}) x),
kset AS (SELECT DISTINCT doc_id FROM ({canon}) x),
gset AS (SELECT DISTINCT doc_id FROM ({gate}) x),
lab AS (
  SELECT t.*,
         (cset.doc_id IS NOT NULL) AS fc,
         (cset.doc_id IS NOT NULL AND kset.doc_id IS NOT NULL) AS fk,
         (cset.doc_id IS NOT NULL AND kset.doc_id IS NOT NULL
          AND gset.doc_id IS NOT NULL) AS fg
  FROM t
  LEFT JOIN cset ON cset.doc_id = t.doc_id
  LEFT JOIN kset ON kset.doc_id = t.doc_id
  LEFT JOIN gset ON gset.doc_id = t.doc_id),
ch AS (
  SELECT ca.doc_id, ca.chunk_idx, lab.lang,
         CAST(ca.n_tokens AS BIGINT) AS n_tokens, ca.chunk_hash,
         {h_chunk} AS h
  FROM ({chunk}) ca JOIN lab ON lab.doc_id = ca.doc_id AND lab.fg),
uniq AS (
  SELECT * FROM (
    SELECT ch.*, ROW_NUMBER() OVER (PARTITION BY chunk_hash
                   ORDER BY doc_id, chunk_idx) AS rn
    FROM ch) z
  WHERE rn = 1),
packed AS (
  SELECT lang, doc_id, chunk_idx, n_tokens,
         (SUM(n_tokens) OVER (PARTITION BY lang
                              ORDER BY doc_id, chunk_idx
                              ROWS UNBOUNDED PRECEDING) - n_tokens)
           // {PACK_BUDGET} AS pack_id
  FROM uniq)
SELECT CAST(1 AS INT) AS stage_ord, 'documents' AS stage,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COALESCE(SUM(nt), 0) AS BIGINT) AS n_tokens,
       COALESCE(BIT_XOR(h), 0) AS set_checksum
FROM lab
UNION ALL
SELECT CAST(2 AS INT), 'decontaminated', CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(nt), 0) AS BIGINT), COALESCE(BIT_XOR(h), 0)
FROM lab WHERE fc
UNION ALL
SELECT CAST(3 AS INT), 'deduplicated', CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(nt), 0) AS BIGINT), COALESCE(BIT_XOR(h), 0)
FROM lab WHERE fk
UNION ALL
SELECT CAST(4 AS INT), 'quality_gated', CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(nt), 0) AS BIGINT), COALESCE(BIT_XOR(h), 0)
FROM lab WHERE fg
UNION ALL
SELECT CAST(5 AS INT), 'chunks', CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT),
       COALESCE(BIT_XOR(h), 0)
FROM ch
UNION ALL
SELECT CAST(6 AS INT), 'unique_chunks', CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT),
       COALESCE(BIT_XOR(h), 0)
FROM uniq
UNION ALL
SELECT CAST(7 AS INT), 'packed',
       CAST(COUNT(DISTINCT lang || ':' || CAST(pack_id AS VARCHAR))
            AS BIGINT),
       CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT),
       COALESCE(BIT_XOR({h_pack}), 0)
FROM packed"""


PIPELINE_ATTEST_ORACLE = _pipeline_attest_oracle()


# ---------------------------------------------------------------------------
# REGISTERED r13.
# quality_gate_margin_sweep: the per-language strictness curve.
# ---------------------------------------------------------------------------

#: keep-fractions swept (ppm of each language's rank order) — the
#: registered median gate (500000) sits in the middle of the curve
GATE_KEEP_SWEEP = (250_000, 500_000, 750_000)

_QGS_NS = "qgs:"  # membership-checksum namespace


def quality_gate_margin_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """What each notch of quality-gate strictness costs, per
    language: for every swept keep-fraction, the documents and
    characters that survive the per-language rank gate, plus a
    membership checksum — the curve a 100 TB curation run reads
    before tightening (or relaxing) the gate, stratified so a
    low-resource language's cliff is visible instead of averaged
    away. The decision stays in integer rank space (keep iff
    1e6 * rank <= keep_ppm * stratum_size — the same formulation as
    the registered gate, never a float percentile), so survivor sets
    provably NEST as keep_ppm grows (rank order fixed, threshold
    monotone — pinned in tests) and the keep_ppm=500000 stratum
    totals are identity-pinned to the registered quality_gate_by_lang.

    Scale shape (sweep-family): the rank + stratum-size windows run
    ONCE over one shuffle on lang; the swept constants explode per
    document row and roll up to |sweep| x |langs| cells."""
    from pyspark.sql import Window

    from ..functions.text import md5_long

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    wn = Window.partitionBy("lang")
    ranked = docs.select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.row_number().over(w).cast("long").alias("r"),
        F.count(F.lit(1)).over(wn).cast("long").alias("n"),
        md5_long(
            F.concat(F.lit(_QGS_NS), F.col("doc_id").cast("string"))
        ).alias("h"),
    )
    pps = F.array(*[F.lit(p).cast("int") for p in GATE_KEEP_SWEEP])
    # explicit (lang x keep_ppm) spine: a stratum too small to pass
    # anybody at a strict fraction (a 1-doc language at 25%) must
    # emit its ZERO row, not vanish — the same degeneration-detector
    # rule as the tau sweep (absent reads as "not measured")
    spine = (
        ranked.select("lang")
        .distinct()
        .select("lang", F.explode(pps).alias("keep_ppm"))
    )
    grouped = (
        ranked.withColumn("keep_ppm", F.explode(pps))
        .filter(
            F.lit(1_000_000).cast("long") * F.col("r")
            <= F.col("keep_ppm").cast("long") * F.col("n")
        )
        .groupBy("keep_ppm", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("chars_kept"),
            F.expr("bit_xor(h)").alias("sel_checksum"),
        )
    )
    return spine.join(grouped, ["keep_ppm", "lang"], "left").select(
        "keep_ppm",
        "lang",
        F.coalesce(F.col("n_docs"), F.lit(0)).cast("long").alias(
            "n_docs"
        ),
        F.coalesce(F.col("chars_kept"), F.lit(0)).cast("long").alias(
            "chars_kept"
        ),
        F.coalesce(F.col("sel_checksum"), F.lit(0)).alias(
            "sel_checksum"
        ),
    )


def _gate_margin_sweep_oracle() -> str:
    from ..functions.text import md5_long_sql

    cells = ", ".join(f"({p})" for p in GATE_KEEP_SWEEP)
    h = md5_long_sql(f"'{_QGS_NS}' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH b AS (
  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
         CAST(ROW_NUMBER() OVER (PARTITION BY lang
                ORDER BY n_chars DESC, doc_id) AS BIGINT) AS r,
         CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n,
         {h} AS h
  FROM documents),
sp AS (SELECT * FROM (VALUES {cells}) t(keep_ppm)),
spine AS (SELECT DISTINCT lang, sp.keep_ppm FROM b, sp),
agg AS (
  SELECT sp.keep_ppm, lang,
         COUNT(*) AS n_docs, SUM(n_chars) AS chars_kept,
         BIT_XOR(h) AS cs
  FROM b, sp
  WHERE 1000000 * r <= sp.keep_ppm * n
  GROUP BY sp.keep_ppm, lang)
SELECT CAST(spine.keep_ppm AS INT) AS keep_ppm, spine.lang,
       CAST(COALESCE(agg.n_docs, 0) AS BIGINT) AS n_docs,
       CAST(COALESCE(agg.chars_kept, 0) AS BIGINT) AS chars_kept,
       COALESCE(agg.cs, 0) AS sel_checksum
FROM spine LEFT JOIN agg
  ON agg.keep_ppm = spine.keep_ppm AND agg.lang = spine.lang"""


GATE_MARGIN_SWEEP_ORACLE = _gate_margin_sweep_oracle()


# ---------------------------------------------------------------------------
# REGISTERED r13.
# corpus_pipeline_attest_prod: the PRODUCTION-posture pipeline attest.
# ---------------------------------------------------------------------------

#: funnel stages of run_corpus_pipeline(token_budget_quota=True,
#: dedup="priority") — the production configuration
PIPELINE_PROD_STAGES = (
    "documents",
    "decontaminated",
    "dedup_priority",
    "quality_gated",
    "quota_selected",
    "chunks",
    "unique_chunks",
    "packed",
)

_CPP_NS = "cpp:"  # checksum namespace (disjoint from the default attest)


def corpus_pipeline_attest_prod(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """corpus_pipeline_attest for the PRODUCTION pipeline posture —
    run_corpus_pipeline(token_budget_quota=True, dedup='priority'):
    trust-ranked survivor selection instead of min-id, plus the
    fair-share token-budget quota stage over the gate survivors. One
    row per stage (count, token sum, membership checksum); the oracle
    nests the registered corpus_clean / dedup_keep_priority /
    quality_gate_by_lang / corpus_chunk oracles and replays the
    quota + chunk-dedup + packing tail over the survivor set. Together
    with corpus_pipeline_attest this closes oracle coverage of every
    pipeline configuration. Stage identity with the pipeline's own
    report (both flags on) is test-pinned.

    Scale shape: identical to corpus_pipeline_attest (keep-sets once
    into a narrow checkpointed label relation, chunk fan-out once over
    the final survivor semi-join), plus the quota pass: one token
    scan over gate survivors, a broadcast quota rollup, one window
    partitioned by source — the registered quota_select's own plan."""
    from ..functions.text import md5_long, tokens
    from .dedup import dedup_keep_priority
    from .packing import pack_assignments
    from .sampling import quota_select
    from .textops import QUERIES as _TEXT_QUERIES
    from .textops import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "lang",
        F.size(tokens(F.col("text"))).cast("long").alias("nt"),
        md5_long(
            F.concat(F.lit(_CPP_NS), F.col("doc_id").cast("string"))
        ).alias("h"),
    )
    clean = _TEXT_QUERIES["corpus_clean"](spark, sf_dir).select(
        "doc_id"
    ).withColumn("c", F.lit(1))
    canon = dedup_keep_priority(spark, sf_dir).select(
        "doc_id"
    ).withColumn("k", F.lit(1))
    gate = q_quality_gate_by_lang(spark, sf_dir).select(
        "doc_id"
    ).withColumn("g", F.lit(1))
    lab = (
        base.join(clean, "doc_id", "left")
        .join(canon, "doc_id", "left")
        .join(gate, "doc_id", "left")
        .select(
            "doc_id", "lang", "nt", "h",
            (F.col("c") == 1).alias("fc"),
            ((F.col("c") == 1) & (F.col("k") == 1)).alias("fk"),
            (
                (F.col("c") == 1) & (F.col("k") == 1) & (F.col("g") == 1)
            ).alias("fg"),
        )
        .localCheckpoint(eager=True)  # keep-sets computed exactly once
    )
    gated_ids = lab.filter("fg").select("doc_id")
    sel_ids = (
        quota_select(
            docs.join(gated_ids, "doc_id", "semi").select(
                "doc_id", "source", "text"
            )
        )
        .select("doc_id")
        .localCheckpoint(eager=True)  # quota membership exactly once
    )
    lab = lab.join(
        sel_ids.withColumn("q", F.lit(1)), "doc_id", "left"
    ).select(
        "doc_id", "lang", "nt", "h", "fc", "fk", "fg",
        (F.col("fg") & (F.col("q") == 1)).alias("fq"),
    )

    def _doc_stage(ord_: int, name: str, flag) -> DataFrame:
        src = lab.filter(flag) if flag is not None else lab
        return src.agg(
            F.lit(ord_).cast("int").alias("stage_ord"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.coalesce(F.sum("nt"), F.lit(0)).cast("long").alias(
                "n_tokens"
            ),
            F.coalesce(F.expr("bit_xor(h)"), F.lit(0)).alias(
                "set_checksum"
            ),
        )

    surv = lab.filter("fq").select("doc_id", "lang")
    ch = (
        chunk_documents(docs.join(surv.select("doc_id"), "doc_id", "semi"))
        .join(surv, "doc_id")
        .select(
            "doc_id",
            "chunk_idx",
            "lang",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "chunk_hash",
            md5_long(
                F.concat(
                    F.lit(_CPP_NS),
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("chunk_idx").cast("string"),
                )
            ).alias("h"),
        )
        .localCheckpoint(eager=True)  # chunk fan-out computed once
    )

    def _chunk_stage(ord_: int, name: str, src: DataFrame) -> DataFrame:
        return src.agg(
            F.lit(ord_).cast("int").alias("stage_ord"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long").alias(
                "n_tokens"
            ),
            F.coalesce(F.expr("bit_xor(h)"), F.lit(0)).alias(
                "set_checksum"
            ),
        )

    wdup = Window.partitionBy("chunk_hash").orderBy("doc_id", "chunk_idx")
    uniq = (
        ch.withColumn("_rn", F.row_number().over(wdup))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    packed = pack_assignments(
        uniq.select("lang", "doc_id", "chunk_idx", "n_tokens"),
        ["lang"], ["doc_id", "chunk_idx"], "n_tokens",
    ).withColumn(
        "hp",
        md5_long(
            F.concat(
                F.lit(_CPP_NS),
                F.col("lang"),
                F.lit(":"),
                F.col("pack_id").cast("string"),
                F.lit(":"),
                F.col("doc_id").cast("string"),
                F.lit(":"),
                F.col("chunk_idx").cast("string"),
            )
        ),
    )
    pack_stage = packed.agg(
        F.lit(8).cast("int").alias("stage_ord"),
        F.lit("packed").alias("stage"),
        F.count_distinct(
            F.concat_ws(":", "lang", "pack_id")
        ).cast("long").alias("n_rows"),
        F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long").alias(
            "n_tokens"
        ),
        F.coalesce(F.expr("bit_xor(hp)"), F.lit(0)).alias(
            "set_checksum"
        ),
    )
    return (
        _doc_stage(1, "documents", None)
        .unionAll(_doc_stage(2, "decontaminated", F.col("fc")))
        .unionAll(_doc_stage(3, "dedup_priority", F.col("fk")))
        .unionAll(_doc_stage(4, "quality_gated", F.col("fg")))
        .unionAll(_doc_stage(5, "quota_selected", F.col("fq")))
        .unionAll(_chunk_stage(6, "chunks", ch))
        .unionAll(_chunk_stage(7, "unique_chunks", uniq))
        .unionAll(pack_stage)
    )


def _pipeline_attest_prod_oracle() -> str:
    from ..functions.text import md5_long_sql, norm_sql
    from .dedup import KEEP_PRIORITY_ORACLE
    from .packing import PACK_BUDGET
    from .sampling import QUOTA_DENOM, QUOTA_NS
    from .textops import ORACLES as _TEXT_ORACLES

    clean = _TEXT_ORACLES["corpus_clean"]
    gate = ORACLES["quality_gate_by_lang"]
    chunk = _TEXT_ORACLES["corpus_chunk"]
    h_doc = md5_long_sql(f"'{_CPP_NS}' || CAST(doc_id AS VARCHAR)")
    h_q = md5_long_sql(f"'{QUOTA_NS}' || CAST(doc_id AS VARCHAR)")
    h_chunk = md5_long_sql(
        f"'{_CPP_NS}' || CAST(ca.doc_id AS VARCHAR) || ':'"
        " || CAST(ca.chunk_idx AS VARCHAR)"
    )
    h_pack = md5_long_sql(
        f"'{_CPP_NS}' || lang || ':' || CAST(pack_id AS VARCHAR) || ':'"
        " || CAST(doc_id AS VARCHAR) || ':' || CAST(chunk_idx AS VARCHAR)"
    )
    return f"""
WITH t AS (
  SELECT doc_id, lang, source,
         CAST(len(string_split({norm_sql("text")}, ' ')) AS BIGINT)
           AS nt,
         {h_doc} AS h
  FROM documents),
cset AS (SELECT DISTINCT doc_id FROM ({clean}) x),
kset AS (SELECT DISTINCT doc_id FROM ({KEEP_PRIORITY_ORACLE}) x),
gset AS (SELECT DISTINCT doc_id FROM ({gate}) x),
lab AS (
  SELECT t.*,
         (cset.doc_id IS NOT NULL) AS fc,
         (cset.doc_id IS NOT NULL AND kset.doc_id IS NOT NULL) AS fk,
         (cset.doc_id IS NOT NULL AND kset.doc_id IS NOT NULL
          AND gset.doc_id IS NOT NULL) AS fg
  FROM t
  LEFT JOIN cset ON cset.doc_id = t.doc_id
  LEFT JOIN kset ON kset.doc_id = t.doc_id
  LEFT JOIN gset ON gset.doc_id = t.doc_id),
qsrc AS (SELECT doc_id, source, nt, {h_q} AS qh FROM lab WHERE fg),
qtot AS (SELECT SUM(nt) AS total_tokens,
                COUNT(DISTINCT source) AS n_sources FROM qsrc),
qq AS (SELECT source,
              LEAST(SUM(nt), (qtot.total_tokens // {QUOTA_DENOM})
                             // qtot.n_sources) AS quota_tokens
       FROM qsrc, qtot GROUP BY source, qtot.total_tokens,
                                qtot.n_sources),
qc AS (SELECT doc_id, source, nt, qh,
              SUM(nt) OVER (PARTITION BY source ORDER BY qh, doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum
       FROM qsrc),
qsel AS (SELECT qc.doc_id FROM qc JOIN qq USING (source)
         WHERE qc.cum - qc.nt < qq.quota_tokens),
lab2 AS (
  SELECT lab.*, (lab.fg AND qsel.doc_id IS NOT NULL) AS fq
  FROM lab LEFT JOIN qsel ON qsel.doc_id = lab.doc_id),
ch AS (
  SELECT ca.doc_id, ca.chunk_idx, lab2.lang,
         CAST(ca.n_tokens AS BIGINT) AS n_tokens, ca.chunk_hash,
         {h_chunk} AS h
  FROM ({chunk}) ca JOIN lab2 ON lab2.doc_id = ca.doc_id AND lab2.fq),
uniq AS (
  SELECT * FROM (
    SELECT ch.*, ROW_NUMBER() OVER (PARTITION BY chunk_hash
                   ORDER BY doc_id, chunk_idx) AS rn
    FROM ch) z
  WHERE rn = 1),
packed AS (
  SELECT lang, doc_id, chunk_idx, n_tokens,
         (SUM(n_tokens) OVER (PARTITION BY lang
                              ORDER BY doc_id, chunk_idx
                              ROWS UNBOUNDED PRECEDING) - n_tokens)
           // {PACK_BUDGET} AS pack_id
  FROM uniq)
SELECT CAST(1 AS INT) AS stage_ord, 'documents' AS stage,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COALESCE(SUM(nt), 0) AS BIGINT) AS n_tokens,
       COALESCE(BIT_XOR(h), 0) AS set_checksum
FROM lab2
UNION ALL
SELECT CAST(2 AS INT), 'decontaminated', CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(nt), 0) AS BIGINT), COALESCE(BIT_XOR(h), 0)
FROM lab2 WHERE fc
UNION ALL
SELECT CAST(3 AS INT), 'dedup_priority', CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(nt), 0) AS BIGINT), COALESCE(BIT_XOR(h), 0)
FROM lab2 WHERE fk
UNION ALL
SELECT CAST(4 AS INT), 'quality_gated', CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(nt), 0) AS BIGINT), COALESCE(BIT_XOR(h), 0)
FROM lab2 WHERE fg
UNION ALL
SELECT CAST(5 AS INT), 'quota_selected', CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(nt), 0) AS BIGINT), COALESCE(BIT_XOR(h), 0)
FROM lab2 WHERE fq
UNION ALL
SELECT CAST(6 AS INT), 'chunks', CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT),
       COALESCE(BIT_XOR(h), 0)
FROM ch
UNION ALL
SELECT CAST(7 AS INT), 'unique_chunks', CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT),
       COALESCE(BIT_XOR(h), 0)
FROM uniq
UNION ALL
SELECT CAST(8 AS INT), 'packed',
       CAST(COUNT(DISTINCT lang || ':' || CAST(pack_id AS VARCHAR))
            AS BIGINT),
       CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT),
       COALESCE(BIT_XOR({h_pack}), 0)
FROM packed"""


PIPELINE_ATTEST_PROD_ORACLE = _pipeline_attest_prod_oracle()

# registered r13
QUERIES["corpus_pipeline_attest"] = corpus_pipeline_attest
ORACLES["corpus_pipeline_attest"] = PIPELINE_ATTEST_ORACLE
QUERIES["corpus_pipeline_attest_prod"] = corpus_pipeline_attest_prod
ORACLES["corpus_pipeline_attest_prod"] = PIPELINE_ATTEST_PROD_ORACLE
QUERIES["quality_gate_margin_sweep"] = quality_gate_margin_sweep
ORACLES["quality_gate_margin_sweep"] = GATE_MARGIN_SWEEP_ORACLE
