"""Orchestration parity with the reference DAG: materialized staging
(download_data writes earned/spent/expired + Sales + Customers),
per-stage retry with exponential backoff, and failure alerts that name
the failed stage (TriggerRule.ONE_FAILED + failed_task.task_id)."""

import pytest
from pyspark.sql import functions as F

from thrivefinancedatapipeline_spark.datamodel import load_table
from thrivefinancedatapipeline_spark.pipeline import (
    ValidationError,
    run_pipeline,
)
from thrivefinancedatapipeline_spark.sources.ingest import (
    load_staged_transactions,
    stage_inputs,
    transactions_from_events,
)


def test_stage_inputs_writes_all_five_datasets(spark, sf_dir, tmp_path):
    staging = str(tmp_path / "staging")
    out = stage_inputs(spark, sf_dir, staging, correlation_id="t-1")
    assert out["status"] == "success"
    assert out["staging_path"] == staging
    counts = out["counts"]
    assert set(counts) == {"earned", "spent", "expired", "sales", "customers"}

    txns = transactions_from_events(load_table(spark, sf_dir, "events"))
    by_type = {
        r["tctype"]: r["n"]
        for r in txns.groupBy("tctype").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert counts["earned"] == by_type.get("earned", 0)
    assert counts["spent"] == by_type.get("spent", 0)
    assert counts["expired"] == by_type.get("expired", 0)
    # Sales / Customers sheet analogues: staged verbatim, like the
    # reference's sales.parquet / customers.parquet
    assert counts["sales"] == load_table(spark, sf_dir, "orders").count()
    assert counts["customers"] == load_table(spark, sf_dir, "customer").count()

    # the staged split reassembles into the full transactions relation
    staged = load_staged_transactions(spark, staging)
    assert staged.count() == txns.count()
    assert staged.columns == txns.columns


def test_pipeline_with_staging_matches_lazy_path(spark, sf_dir, tmp_path):
    direct = run_pipeline(spark, sf_dir)
    staged = run_pipeline(
        spark, sf_dir, staging_dir=str(tmp_path / "staging"),
        correlation_id="t-2",
    )
    for k in (
        "total_earned", "total_spent", "total_expired",
        "total_current_balance", "total_customers",
    ):
        assert staged.report[k] == direct.report[k], k
    c = staged.report["staged_counts"]
    assert (
        c["earned"] + c["spent"] + c["expired"]
        == direct.report["earned_transaction_count"]
        + direct.report["spent_transaction_count"]
        + direct.report["expired_transaction_count"]
    )
    assert "staged_counts" not in direct.report


def test_stage_retry_exponential_backoff(spark, sf_dir, monkeypatch):
    """A stage that fails twice then succeeds: delays follow
    retry_delay * backoff^n and the run still succeeds."""
    from thrivefinancedatapipeline_spark import pipeline as pl

    real_validate = pl.validate_source
    failures = {"left": 2}

    def flaky_validate(txns):
        if failures["left"] > 0:
            failures["left"] -= 1
            raise RuntimeError("transient source hiccup")
        return real_validate(txns)

    monkeypatch.setattr(pl, "validate_source", flaky_validate)
    sleeps: list[float] = []
    sent = []
    result = run_pipeline(
        spark, sf_dir, correlation_id="t-3",
        notify=lambda s, m: sent.append((s, m)),
        retries=3, retry_delay=5.0, _sleep=sleeps.append,
    )
    assert sleeps == [5.0, 10.0]
    assert result.report["total_customers"] > 0
    assert len(sent) == 1 and "success" in sent[0][0]


def test_failure_alert_names_failed_stage(spark, sf_dir, monkeypatch):
    from thrivefinancedatapipeline_spark import pipeline as pl

    def bad_fifo(txns):
        raise ValidationError("forced fifo failure")

    monkeypatch.setattr(pl, "fifo_match", bad_fifo)
    sent = []
    with pytest.raises(ValidationError):
        run_pipeline(
            spark, sf_dir, correlation_id="t-4",
            notify=lambda s, m: sent.append((s, m)),
        )
    assert len(sent) == 1
    subj, msg = sent[0]
    assert "FAILURE" in subj
    assert "perform_fifo_matching" in msg  # reference failed_task.task_id
    assert "t-4" in msg


def test_pipeline_tables_are_checkpointed_lazy_equivalents(spark, sf_dir):
    """The returned match, history and balances are materialised (their
    executed plans replan no shuffle) and hold the same rows as the
    operators built lazily; the report totals, read from the
    checkpointed match, equal build_report over the transactions."""
    from thrivefinancedatapipeline_spark.analytics import build_report
    from thrivefinancedatapipeline_spark.operators.balance import (
        balance_history,
        current_balances,
    )
    from thrivefinancedatapipeline_spark.operators.fifo import fifo_match

    result = run_pipeline(spark, sf_dir)
    txns = transactions_from_events(load_table(spark, sf_dir, "events"))
    matched = fifo_match(txns)
    history = balance_history(matched)
    balances = current_balances(history)

    def rows(df):
        return set(map(tuple, df.collect()))

    for got, want in (
        (result.matched, matched),
        (result.history, history),
        (result.balances, balances),
    ):
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert rows(got) == rows(want)

    lazy = build_report(txns, balances)["summary_metrics"]
    for k, v in lazy.items():
        assert result.report[k] == v, k


def test_fifo_execution_failure_names_matching_stage(
    spark, sf_dir, monkeypatch
):
    """A match that only fails when Spark executes it is reported as
    perform_fifo_matching, the stage that materialises the match."""
    from pyspark.errors import SparkRuntimeException

    from thrivefinancedatapipeline_spark import pipeline as pl

    real_fifo = pl.fifo_match

    def failing_fifo(txns):
        m = real_fifo(txns)
        boom = F.raise_error(F.lit("forced fifo execution failure"))
        return m.withColumn(
            "trans_id",
            F.when(F.col("trans_id").isNotNull(), boom).otherwise(
                F.col("trans_id")
            ),
        )

    monkeypatch.setattr(pl, "fifo_match", failing_fifo)
    sent = []
    with pytest.raises(
        SparkRuntimeException, match="forced fifo execution failure"
    ):
        run_pipeline(
            spark, sf_dir, correlation_id="t-6",
            notify=lambda s, m: sent.append((s, m)),
        )
    assert len(sent) == 1
    subj, msg = sent[0]
    assert "FAILURE" in subj
    assert "Failed stage: perform_fifo_matching" in msg


def test_retries_exhausted_reraises_and_alerts(spark, sf_dir, monkeypatch):
    from thrivefinancedatapipeline_spark import pipeline as pl

    def always_bad(txns):
        raise RuntimeError("permanent failure")

    monkeypatch.setattr(pl, "validate_source", always_bad)
    sleeps: list[float] = []
    sent = []
    with pytest.raises(RuntimeError, match="permanent failure"):
        run_pipeline(
            spark, sf_dir, correlation_id="t-5",
            notify=lambda s, m: sent.append((s, m)),
            retries=2, retry_delay=1.0, _sleep=sleeps.append,
        )
    assert sleeps == [1.0, 2.0]
    assert len(sent) == 1
    assert "validate_source" in sent[0][1]


def test_corpus_pipeline_funnel(spark, sf_dir, tmp_path):
    """The curation funnel composes the audited operators: stage
    counts are nonincreasing through the doc filters, chunk totals
    are consistent, the packed output round-trips partitioned by
    lang, and a repeat run is deterministic."""
    from pyspark.sql import functions as F

    from thrivefinancedatapipeline_spark.pipeline import (
        run_corpus_pipeline,
    )

    out = str(tmp_path / "packed")
    r = run_corpus_pipeline(spark, sf_dir, output_dir=out)
    assert (
        r["n_documents"]
        >= r["n_after_decontaminate"]
        >= r["n_after_dedup"]
        >= r["n_after_quality_gate"]
        > 0
    )
    assert r["n_unique_chunks"] <= r["n_chunks"]
    assert r["n_packs"] >= 1 and r["total_tokens"] > 0
    packed = spark.read.parquet(out)
    assert packed.count() == r["n_unique_chunks"]
    assert set(packed.columns) >= {
        "doc_id", "chunk_idx", "n_tokens", "pack_id", "pack_offset",
        "lang",
    }
    # every pack offset sits inside the budget
    from thrivefinancedatapipeline_spark.operators.packing import (
        PACK_BUDGET,
    )

    bad = packed.filter(
        (F.col("pack_offset") < 0) | (F.col("pack_offset") >= PACK_BUDGET)
    ).count()
    assert bad == 0
    r2 = run_corpus_pipeline(spark, sf_dir)
    assert {k: v for k, v in r.items() if k != "output_dir"} == r2


def test_corpus_pipeline_report_matches_oracled_funnel(spark, sf_dir):
    """The pipeline's driver-side stage counts equal the per-source
    rollup of the ORACLE-CHECKED source_curation_funnel — the count
    report and the audited funnel relation cannot drift (same
    keep-sets, same order)."""
    from thrivefinancedatapipeline_spark.operators.quality import (
        source_curation_funnel,
    )
    from thrivefinancedatapipeline_spark.pipeline import (
        run_corpus_pipeline,
    )

    report = run_corpus_pipeline(spark, sf_dir)
    funnel = source_curation_funnel(spark, sf_dir).collect()
    assert report["n_documents"] == sum(r["n_raw"] for r in funnel)
    assert report["n_after_decontaminate"] == sum(
        r["n_clean"] for r in funnel
    )
    assert report["n_after_dedup"] == sum(r["n_dedup"] for r in funnel)
    assert report["n_after_quality_gate"] == sum(
        r["n_final"] for r in funnel
    )


def test_corpus_pipeline_token_budget_quota_stage(spark, sf_dir):
    """token_budget_quota=True inserts quota_select over the GATE
    survivors: the stage only narrows, its report numbers equal a
    direct quota_select run on the same survivor relation, and the
    default path's report is unchanged by the feature's existence."""
    from pyspark.sql import functions as F

    from thrivefinancedatapipeline_spark.operators.sampling import (
        quota_select,
    )
    from thrivefinancedatapipeline_spark.pipeline import (
        run_corpus_pipeline,
    )

    base = run_corpus_pipeline(spark, sf_dir)
    r = run_corpus_pipeline(spark, sf_dir, token_budget_quota=True)
    assert "n_after_quota" not in base
    assert 0 < r["n_after_quota"] <= r["n_after_quality_gate"]
    assert r["quota_tokens_selected"] > 0
    # funnel stages BEFORE the quota are identical to the default run
    for k in (
        "n_documents",
        "n_after_decontaminate",
        "n_after_dedup",
        "n_after_quality_gate",
    ):
        assert r[k] == base[k]
    # chunking narrows with the doc set
    assert r["n_chunks"] <= base["n_chunks"]
    assert r["total_tokens"] <= base["total_tokens"]

    # report numbers == a direct quota_select over the same survivors
    from thrivefinancedatapipeline_spark.datamodel import load_table
    from thrivefinancedatapipeline_spark.operators.dedup import (
        q_dedup_keep_canonical,
    )
    from thrivefinancedatapipeline_spark.operators.quality import (
        q_quality_gate_by_lang,
    )
    from thrivefinancedatapipeline_spark.operators.textops import (
        q_corpus_clean,
    )

    docs = load_table(spark, sf_dir, "documents")
    surv = (
        docs.join(q_corpus_clean(spark, sf_dir).select("doc_id"),
                  "doc_id", "semi")
        .join(q_dedup_keep_canonical(spark, sf_dir).select("doc_id"),
              "doc_id", "semi")
        .join(q_quality_gate_by_lang(spark, sf_dir).select("doc_id"),
              "doc_id", "semi")
    )
    sel = quota_select(surv.select("doc_id", "source", "text"))
    assert r["n_after_quota"] == sel.count()
    assert r["quota_tokens_selected"] == (
        sel.agg(F.sum("nt").alias("t")).collect()[0].t
    )


def test_corpus_pipeline_priority_dedup_mode(spark, sf_dir):
    """dedup='priority' swaps WHICH copy survives, never HOW MANY
    groups exist: stage counts identical to the default run, survivor
    id set equal to the staged dedup_keep_priority relation."""
    import pytest

    from thrivefinancedatapipeline_spark.operators.dedup import (
        dedup_keep_priority,
    )
    from thrivefinancedatapipeline_spark.pipeline import (
        run_corpus_pipeline,
    )

    base = run_corpus_pipeline(spark, sf_dir)
    r = run_corpus_pipeline(spark, sf_dir, dedup="priority")
    for k in ("n_documents", "n_after_decontaminate", "n_after_dedup"):
        assert r[k] == base[k]
    # the survivor CHOICE differs on this corpus (duplicates exist
    # across sources), so downstream counts may shift but stay sane
    assert 0 < r["n_after_quality_gate"] <= r["n_after_dedup"]
    assert r["n_chunks"] >= r["n_after_quality_gate"]
    with pytest.raises(ValueError):
        run_corpus_pipeline(spark, sf_dir, dedup="nope")


def test_corpus_pipeline_runs_each_keep_set_and_chunker_once(
    spark, sf_dir, monkeypatch
):
    """Each funnel keep-set operator and the chunker execute once per
    run. Every one is wrapped in a nondeterministic counting filter
    (never pushed down or collapsed), whose accumulator must end at
    the relation's own row count; the wrapped run's report equals the
    plain run's."""
    from pyspark.sql.types import BooleanType

    from thrivefinancedatapipeline_spark.operators import (
        dedup,
        quality,
        textops,
    )
    from thrivefinancedatapipeline_spark.pipeline import (
        run_corpus_pipeline,
    )

    want = run_corpus_pipeline(spark, sf_dir)
    rows, evaluated = {}, {}

    def count_rows(module, name):
        real = getattr(module, name)
        acc = spark.sparkContext.accumulator(0)
        evaluated[name] = acc

        def tick(_doc_id):
            acc.add(1)
            return True

        counted = F.udf(tick, BooleanType()).asNondeterministic()

        def wrapper(*args):
            out = real(*args)
            rows[name] = out.count()
            return out.filter(counted(F.col("doc_id")))

        monkeypatch.setattr(module, name, wrapper)

    count_rows(textops, "q_corpus_clean")
    count_rows(dedup, "q_dedup_keep_canonical")
    count_rows(quality, "q_quality_gate_by_lang")
    count_rows(textops, "chunk_documents")

    assert run_corpus_pipeline(spark, sf_dir) == want
    assert all(rows.values()), rows
    assert {name: acc.value for name, acc in evaluated.items()} == rows
