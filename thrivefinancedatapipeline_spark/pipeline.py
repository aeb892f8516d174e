"""End-to-end pipeline: the reference DAG re-expressed as one Spark job.

Reference flow (src/thrive_cash_processing_dag.py:734):
  download_data >> validate_source >> perform_fifo_matching
  >> validate_results >> build_analytics >> send_alerts

Spark-native shape: each stage is a DataFrame transformation, and,
as the reference materialises a task's output before the next task
reads it, three tables are materialised once per run:
- ``perform_fifo_matching`` checkpoints the FIFO match
  (tc_data_with_redemptions), so its shuffle runs once, in its own
  stage;
- ``build_analytics`` checkpoints the balance history and the current
  balances before its report collects.
Every later gate, report collect and sink reads those blocks instead
of replanning the lineage. ``validate_source`` still runs over the
lazy transactions before any shuffle, and a failed gate raises before
any output is written — same fail-fast contract as the Airflow DAG.

The checkpoints are ``localCheckpoint(eager=True)``, as in
``run_corpus_pipeline``: executor-local blocks, released when the
DataFrame is garbage-collected (no CacheManager entry, no unpersist).
Fault posture: an executor lost after a checkpoint loses its blocks
and fails the run at the next read; the per-stage retry policy still
applies, and a retried stage recomputes its own checkpoint.

Orchestration semantics carried over from the reference DAG, not just
its data flow:
- per-stage boundaries with the reference task names, each logged with
  the correlation id (thrive_cash_processing_dag.py:71-78 logs every
  task as ``[correlation_id] ...``);
- retry with exponential backoff per stage (default_args at :35:
  retries=3, retry_delay=5 min, retry_exponential_backoff with a
  30 min cap) — off by default here because a deterministic validation
  failure doesn't heal on retry, but available for flaky sources;
- the failure alert names the FAILED STAGE (send_failure_alert at
  :602 reports ``failed_task.task_id``; trigger rule ONE_FAILED at
  :730 means any stage's failure routes to the alert).
"""

from __future__ import annotations

import logging
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import alerts
from .datamodel import load_table
from .operators.balance import balance_history, current_balances
from .operators.fifo import fifo_match, validate_results
from .operators.quality import validate_source
from .sources.ingest import (
    load_staged_transactions,
    stage_inputs,
    transactions_from_events,
)

logger = logging.getLogger(__name__)


class ValidationError(RuntimeError):
    """A validation gate failed; carries the violation sample."""


@dataclass
class PipelineResult:
    matched: DataFrame
    history: DataFrame
    balances: DataFrame
    report: dict = field(default_factory=dict)


def _run_stage(
    name: str,
    fn: Callable,
    correlation_id: str,
    retries: int = 0,
    retry_delay: float = 0.0,
    backoff: float = 2.0,
    max_delay: float = 1800.0,
    sleep: Callable[[float], None] = time.sleep,
):
    """One reference-task boundary: log start/finish under the
    correlation id, retry with exponential backoff on failure
    (reference default_args: retry_delay doubling up to max_delay),
    re-raise the final error untouched so the caller's failure alert
    (and the test suite) sees the original exception type."""
    delay = retry_delay
    for attempt in range(retries + 1):
        try:
            logger.info(
                "[%s] stage %s: starting (attempt %d/%d)",
                correlation_id, name, attempt + 1, retries + 1,
            )
            out = fn()
            logger.info("[%s] stage %s: done", correlation_id, name)
            return out
        except Exception as exc:
            if attempt >= retries:
                raise
            logger.warning(
                "[%s] stage %s failed (%s: %s); retry %d/%d in %.0fs",
                correlation_id, name, type(exc).__name__, exc,
                attempt + 1, retries, delay,
            )
            if delay > 0:
                sleep(delay)
            delay = min(delay * backoff, max_delay)


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    output_dir: str | None = None,
    fail_on_result_violations: bool = False,
    correlation_id: str | None = None,
    notify=None,
    staging_dir: str | None = None,
    retries: int = 0,
    retry_delay: float = 0.0,
    _sleep: Callable[[float], None] = time.sleep,
) -> PipelineResult:
    """Ingest → validate → match → validate → analytics (→ sinks)
    (→ alerts when `notify` is given, reference send_*_alert parity).

    `staging_dir` enables the reference's materialized download_data
    stage: the transaction split plus the Sales/Customers sheets land
    as parquet there and the pipeline reads the transactions BACK from
    staging (fifo_matching.load_from_staging parity); without it, the
    projection stays lazy up to the FIFO match — same results, one
    less write.

    The returned `matched`, `history` and `balances` are the run's
    checkpointed tables (see the module docstring), not lazy plans.

    fail_on_result_violations mirrors the reference's hard gate; it
    defaults off because value-unbalanced books are expected on
    arbitrary event data (the reference's own data was balanced).
    """
    cid = correlation_id or "manual-run"
    current_stage = "setup"

    def stage(name: str, fn: Callable):
        nonlocal current_stage
        current_stage = name
        return _run_stage(name, fn, cid, retries, retry_delay, sleep=_sleep)

    try:
        staged_counts = None
        if staging_dir is not None:
            staged = stage(
                "download_data",
                lambda: stage_inputs(spark, sf_dir, staging_dir, cid),
            )
            staged_counts = staged["counts"]
            txns = load_staged_transactions(spark, staging_dir)
        else:
            txns = stage(
                "download_data",
                lambda: transactions_from_events(
                    load_table(spark, sf_dir, "events")
                ),
            )

        def _validate_source():
            checks = validate_source(txns).collect()
            bad = {r.check: r.violations for r in checks if r.violations > 0}
            if bad:
                raise ValidationError(f"source validation failed: {bad}")
            return checks

        source_checks = stage("validate_source", _validate_source)

        matched = stage(
            "perform_fifo_matching",
            lambda: fifo_match(txns).localCheckpoint(eager=True),
        )

        def _validate_results():
            violations = validate_results(matched)
            structural = violations.filter(F.col("check") != "balance_mismatch")
            sample = structural.limit(10).collect()
            if sample:
                raise ValidationError(f"result validation failed: {sample}")
            if fail_on_result_violations:
                sample = violations.limit(10).collect()
                if sample:
                    raise ValidationError(f"balance validation failed: {sample}")

        stage("validate_results", _validate_results)

        def _build_analytics():
            from .analytics import build_report

            history = balance_history(matched).localCheckpoint(eager=True)
            balances = current_balances(history).localCheckpoint(eager=True)
            # fifo_match emits every transaction exactly once, so the
            # type totals come from the checkpointed match, not from
            # another scan of the source
            full = build_report(matched, balances)
            report = {
                **full["summary_metrics"],
                "top_customers_by_balance": full["top_customers_by_balance"],
                "source_checks_passed": len(source_checks),
            }
            if staged_counts is not None:
                report["staged_counts"] = staged_counts
            return report, history, balances

        report, history, balances = stage("build_analytics", _build_analytics)

        if output_dir:

            def _write_outputs():
                matched.write.mode("overwrite").parquet(
                    f"{output_dir}/tc_data_with_redemptions"
                )
                history.write.mode("overwrite").parquet(
                    f"{output_dir}/customer_balance_history"
                )
                balances.write.mode("overwrite").parquet(
                    f"{output_dir}/customer_current_balances"
                )

            stage("write_outputs", _write_outputs)
    except Exception as exc:
        if notify is not None:
            alerts.send_failure_alert(current_stage, exc, cid, notify)
        raise

    if notify is not None:
        alerts.send_success_alert({"summary_metrics": report}, cid, notify)
    return PipelineResult(
        matched=matched, history=history, balances=balances, report=report
    )


def run_corpus_pipeline(
    spark,
    sf_dir: str,
    output_dir: str | None = None,
    token_budget_quota: bool = False,
    dedup: str = "canonical",
):
    """End-to-end LLM-training-data curation over `documents` — the
    corpus counterpart of `run_pipeline`'s finance DAG, composing the
    registered operators into the standard funnel:

        decontaminate -> near-dup canonical filter -> per-language
        quality gate [-> per-source token-budget quota] ->
        token-window chunking -> chunk-level exact dedup ->
        per-language context-window packing

    Returns a stage report (funnel counts + token/pack totals); with
    `output_dir`, writes the packed-chunk assignment table
    partitioned by lang (the training-shard layout downstream
    loaders want). `token_budget_quota=True` inserts the
    sampling.quota_select assembly stage over the GATE SURVIVORS
    (quotas computed from the curated totals — the production
    posture); `dedup="priority"` swaps the min-id canonical filter
    for the trust-ranked dedup_keep_priority survivor (same GROUPS,
    so the stage count is identical — only the surviving COPIES
    change). Both default off, so the default report stays
    count-identical to the oracled source_curation_funnel.

    Composition is by doc_id keep-set SEMI-joins against the same
    query plans the driver oracles check — the pipeline cannot drift
    from the audited operators. Funnel counts are sequential
    (each stage filters the previous stage's survivors).

    Materialisation points, as in `run_pipeline` (each a
    ``localCheckpoint(eager=True)``, so every operator runs once per
    run and each count reads its own blocks):
    - three ``doc_id``-only keep-sets: ``keep1`` = the
      q_corpus_clean ids, ``keep2 = keep1 ⋉ dedup ids``,
      ``keep3 = keep2 ⋉ gate ids`` (8 bytes per document, never the
      text); the quota stage, when on, checkpoints its selection;
    - the narrow chunk table (doc_id, chunk_idx, n_tokens,
      chunk_hash) of the survivor documents ``docs ⋉ keep3`` (or
      ``docs ⋉`` the quota selection), read by both ``n_chunks`` and
      the chunk-dedup window;
    - the packed assignments, read by the report rollup and the sink.
    Same fault posture as `run_pipeline`: an executor lost after a
    checkpoint loses its blocks and fails the run at the next read."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .datamodel import load_table
    from .operators.dedup import q_dedup_keep_canonical
    from .operators.packing import pack_assignments
    from .operators.quality import q_quality_gate_by_lang
    from .operators.textops import chunk_documents, q_corpus_clean

    if dedup == "priority":
        from .operators.dedup import dedup_keep_priority as dedup_ids
    elif dedup == "canonical":
        dedup_ids = q_dedup_keep_canonical
    else:
        raise ValueError(f"unknown dedup mode {dedup!r}")

    docs = load_table(spark, sf_dir, "documents")
    report: dict = {"n_documents": docs.count()}

    def keep_set(ids):
        return ids.select("doc_id").localCheckpoint(eager=True)

    keep1 = keep_set(q_corpus_clean(spark, sf_dir))
    report["n_after_decontaminate"] = keep1.count()
    keep2 = keep_set(keep1.join(dedup_ids(spark, sf_dir), "doc_id", "semi"))
    report["n_after_dedup"] = keep2.count()
    keep3 = keep_set(
        keep2.join(q_quality_gate_by_lang(spark, sf_dir), "doc_id", "semi")
    )
    report["n_after_quality_gate"] = keep3.count()
    survivors = docs.join(keep3, "doc_id", "semi")

    if token_budget_quota:
        from .operators.sampling import quota_select

        sel = quota_select(
            survivors.select("doc_id", "source", "text")
        ).localCheckpoint(eager=True)
        survivors = docs.join(sel.select("doc_id"), "doc_id", "semi")
        report["n_after_quota"] = sel.count()
        row = sel.agg(F.sum("nt").alias("t")).collect()[0]
        report["quota_tokens_selected"] = int(row.t or 0)

    # chunk ONLY the survivors: the keep-set semi-join sits beneath
    # the chunker, so dropped documents are never tokenized
    chunks = chunk_documents(survivors).localCheckpoint(eager=True)
    report["n_chunks"] = chunks.count()

    wdup = Window.partitionBy("chunk_hash").orderBy("doc_id", "chunk_idx")
    unique_chunks = (
        chunks.withColumn("_rn", F.row_number().over(wdup))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .select(
            "doc_id", "chunk_idx",
            F.col("n_tokens").cast("long").alias("n_tokens"),
        )
    )
    lang = survivors.select("doc_id", "lang")
    packed = pack_assignments(
        unique_chunks.join(lang, "doc_id"),
        ["lang"], ["doc_id", "chunk_idx"], "n_tokens",
    ).localCheckpoint(eager=True)
    agg = packed.agg(
        F.count(F.lit(1)).alias("n_unique_chunks"),
        F.sum("n_tokens").alias("total_tokens"),
        F.count_distinct("lang", "pack_id").alias("n_packs"),
    ).collect()[0]
    report["n_unique_chunks"] = agg.n_unique_chunks
    report["total_tokens"] = int(agg.total_tokens or 0)
    report["n_packs"] = agg.n_packs

    if output_dir:
        packed.write.mode("overwrite").partitionBy("lang").parquet(
            output_dir
        )
        report["output_dir"] = output_dir
    return report
