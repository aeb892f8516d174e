"""The benchmark workloads: input build, one pass, its check, and the
traced layer timings.

Each workload is a closed loop: one client runs passes back to back,
and a pass starts only when the previous one has finished.

- ``finance_month``: ``run_pipeline`` (ingest -> validate_source ->
  FIFO match -> validate_results -> balances -> report -> write) over a
  generated month of events. The paper's DAG end to end.
- ``corpus_curation``: ``run_corpus_pipeline`` over a corpus derived
  from a generated base by ``tools/scaleup_probe.build_scaled_dir``.

The traced run of each also times, one call at a time, the layers no
kept workload runs end to end: the twelve reference finance queries
(after finance_month) and the near-duplicate / ANN kernels that run in
Python workers (after corpus_curation).
"""

from __future__ import annotations

import os
import statistics
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from . import gen
from .trace import Tracer, python_worker_cpu_s, stage_logs

#: the reference's 12 sample queries (Q1-Q12), in its order
FINANCE_QUERIES = (
    "balance_asof", "current_balances", "balance_history",
    "month_end_balance", "customers_above_threshold", "balance_change",
    "top_customers_by_balance", "zero_balance_customers", "balance_stats",
    "transactions_on_date", "daily_balance_snapshots",
    "never_spent_customers",
)
PIPELINE_STAGES = (
    "download_data", "validate_source", "perform_fifo_matching",
    "validate_results", "build_analytics", "write_outputs",
)
NEARDUP_QUERIES = {
    "dedup.simhash": "dedup_simhash",
    "similarity.ivfpq": "knn_ivfpq",
    "similarity.bruteforce": "knn_bruteforce_cosine",
}


def noop(df) -> None:
    """Force every row of ``df`` without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def _close(a: float, b: float, tol: float = 0.02) -> bool:
    return abs(a - b) <= tol


class Workload:
    name = ""
    rows = 0  # input rows one pass reads
    pass_s = 1.0  # nominal warm pass time on 4 vCPUs; sets the pass count
    warmup_passes = 0  # untimed passes after the cold one

    def __init__(self, spark, work: str, seed: int, scale: float = 1.0):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.scale = scale
        self.input_dir = ""
        self.first = None

    def build(self, out_dir: str) -> str:
        """Write the seeded input under out_dir; returns its content hash."""
        raise NotImplementedError

    def prepare(self) -> list[str]:
        """Once per run after the build: expected values. Returns problems."""
        return []

    def run_pass(self):
        raise NotImplementedError

    def check(self, result) -> list[str]:
        """Problems with one pass's result (empty list = correct)."""
        raise NotImplementedError

    def traced_pass(self, tracer: Tracer) -> dict:
        raise NotImplementedError

    def layers(self, tracer: Tracer) -> tuple[dict, int, int]:
        """Per-layer self times; returns (metrics, attempted, failed)."""
        raise NotImplementedError


# --------------------------------------------------------------------------
# finance_month
# --------------------------------------------------------------------------

class FinanceMonth(Workload):
    name = "finance_month"
    base_rows = 100_000
    pass_s = 5.0
    #: pass times fall by about a fifth over the first passes after the
    #: cold one, while the JIT still compiles the planner and scheduler
    #: (process CPU per pass 22 -> 15 -> 12 s); timing from the third
    #: keeps the median off the steep part of that curve
    warmup_passes = 2

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.rows = max(int(self.base_rows * self.scale), 1000)
        self.out_dir = os.path.join(self.work, "out")

    def build(self, out_dir: str) -> str:
        gen.write_events(out_dir, self.seed, self.rows)
        return gen.parquet_hash(os.path.join(out_dir, "events.parquet"),
                                "event_id")

    def prepare(self) -> list[str]:
        """Expected report values, computed from the generated table
        with pyarrow alone (no Spark)."""
        t = gen.events_table(self.seed, self.rows)
        kind = t.column("event_type")
        value = t.column("value")
        exp = {}
        for tc, mask in (
            ("earned", pc.is_in(kind, pa.array(gen.EVENT_TYPES[:3]))),
            ("spent", pc.equal(kind, "purchase")),
            ("expired", pc.equal(kind, "error")),
        ):
            vals = pc.filter(value, mask)
            exp[f"{tc}_transaction_count"] = len(vals)
            exp[f"total_{tc}"] = round(pc.sum(vals).as_py() or 0.0, 2)
        exp["total_customers"] = pc.count_distinct(t.column("user_id")).as_py()
        exp["total_current_balance"] = round(
            exp["total_earned"] - exp["total_spent"] - exp["total_expired"], 2)
        self.expected = exp
        return []

    def run_pass(self):
        from thrivefinancedatapipeline_spark.pipeline import run_pipeline

        return run_pipeline(self.spark, self.input_dir,
                            output_dir=self.out_dir).report

    def check(self, report) -> list[str]:
        problems = []
        exp = self.expected
        for k, v in exp.items():
            ok = (report.get(k) == v if isinstance(v, int)
                  else _close(report.get(k, float("nan")), v))
            if not ok:
                problems.append(f"{k}: {report.get(k)} != expected {v}")
        counts = sum(report.get(f"{tc}_transaction_count", 0)
                     for tc in ("earned", "spent", "expired"))
        if counts != self.rows:
            problems.append(f"report counts sum {counts} != {self.rows} rows")
        for sub, want in (("tc_data_with_redemptions", self.rows),
                          ("customer_balance_history", self.rows),
                          ("customer_current_balances",
                           exp["total_customers"])):
            got = pq.ParquetDataset(os.path.join(self.out_dir, sub)).read(
                columns=[]).num_rows
            if got != want:
                problems.append(f"{sub}: {got} rows written, want {want}")
        fp = {k: v for k, v in report.items()
              if k != "top_customers_by_balance"}
        fp["top"] = [r["customer_id"] for r in
                     report.get("top_customers_by_balance", [])]
        if self.first is None:
            self.first = fp
        elif fp != self.first:
            problems.append("report differs from the first pass")
        return problems

    def traced_pass(self, tracer: Tracer) -> dict:
        """One pass with the pipeline's stage log records turned into
        spans; returns pipeline.* metrics and the pass span's engine
        counters."""
        from thrivefinancedatapipeline_spark import pipeline

        with stage_logs(tracer, pipeline.__name__):
            span, report = tracer.call("pass", self.run_pass)
        problems = self.check(report)
        stages = {s.name.split(".", 1)[1]: s for s in tracer.spans
                  if s.parent == span.id and s.name.startswith("pipeline.")}
        out = {}
        for st in PIPELINE_STAGES:
            s = stages.get(st)
            c = tracer.counters(s) if s else {}
            out[f"pipeline.{st}.wall_s"] = s.wall_s if s else 0.0
            out[f"pipeline.{st}.exec_cpu_s"] = c.get("exec_cpu_s", 0.0)
            out[f"pipeline.{st}.input_mb"] = c.get("input_mb", 0.0)
            out[f"pipeline.{st}.shuffle_write_mb"] = c.get(
                "shuffle_write_mb", 0.0)
            out[f"pipeline.{st}.jobs"] = c.get("jobs", 0.0)
        out["pipeline.glue_s"] = span.wall_s - sum(
            s.wall_s for s in stages.values())
        engine = tracer.counters(span)
        out["pipeline.scan_amplification"] = engine["input_rows"] / self.rows
        return {"span": span, "engine": engine, "metrics": out,
                "problems": problems}

    def layers(self, tracer: Tracer) -> tuple[dict, int, int]:
        from thrivefinancedatapipeline_spark.analytics import build_report
        from thrivefinancedatapipeline_spark.datamodel import load_table
        from thrivefinancedatapipeline_spark.operators.balance import (
            balance_history, current_balances)
        from thrivefinancedatapipeline_spark.operators.fifo import (
            fifo_match, validate_results)
        from thrivefinancedatapipeline_spark.operators.quality import (
            validate_source)
        from thrivefinancedatapipeline_spark.sources.ingest import (
            transactions_from_events)

        spark, d = self.spark, self.input_dir
        out = {}

        def timed(name, fn, shuffle=False):
            span, res = tracer.call(name, fn)
            c = tracer.counters(span)
            out[f"{name}.wall_s"] = span.wall_s
            out[f"{name}.exec_cpu_s"] = c["exec_cpu_s"]
            if shuffle:
                out[f"{name}.shuffle_write_mb"] = c["shuffle_write_mb"]
            return res

        def cp(df):
            return df.localCheckpoint(eager=True)

        timed("sources.ingest", lambda: noop(
            transactions_from_events(load_table(spark, d, "events"))))
        txns = cp(transactions_from_events(load_table(spark, d, "events")))
        timed("quality.validate_source",
              lambda: validate_source(txns).collect())
        timed("fifo.match", lambda: noop(fifo_match(txns)), shuffle=True)
        matched = cp(fifo_match(txns))
        timed("fifo.validate_results",
              lambda: noop(validate_results(matched)))
        timed("balance.history", lambda: noop(balance_history(matched)),
              shuffle=True)
        history = cp(balance_history(matched))
        timed("balance.current", lambda: noop(current_balances(history)))
        balances = cp(current_balances(history))
        timed("analytics.report", lambda: build_report(txns, balances))
        q, attempted, failed = self.queries(tracer)
        out.update(q)
        return out, attempted + 7, failed

    def queries(self, tracer: Tracer):
        """Q1-Q12 one call each, collected to the driver: plan build,
        Catalyst phases, execution and per-query latency."""
        from thrivefinancedatapipeline_spark.plans.finance_queries import (
            QUERIES)

        out = {}
        build, exec_, phases, jobs, stages = [], [], {}, [], []
        rows = failed = 0
        for q in FINANCE_QUERIES:
            span = tracer.open(f"finance_queries.{q}")
            try:
                t0 = time.perf_counter()
                df = QUERIES[q](self.spark, self.input_dir)
                t1 = time.perf_counter()
                rows += len(df.collect())
            except Exception:  # noqa: BLE001 - counted as failed
                failed += 1
                continue
            finally:
                tracer.close(span)
            build.append(t1 - t0)
            exec_.append(span.end - t1)
            out[f"finance_queries.{q}.p50_s"] = span.wall_s
            summary = df._jdf.queryExecution().tracker().phases()
            for ph in ("analysis", "optimization", "planning"):
                ms = (summary.apply(ph).durationMs()
                      if summary.contains(ph) else 0)
                phases.setdefault(ph, []).append(ms / 1e3)
            c = tracer.counters(span)
            jobs.append(c["jobs"])
            stages.append(c["stages"])

        def med(xs):
            return statistics.median(xs) if xs else 0.0

        out.update({
            "finance_queries.build_s": med(build),
            "finance_queries.exec_s": med(exec_),
            "finance_queries.jobs_per_query": med(jobs),
            "finance_queries.stages_per_query": med(stages),
            "driver.collect_rows": rows,
        })
        for ph in ("analysis", "optimization", "planning"):
            out[f"catalyst.{ph}_s"] = med(phases.get(ph, []))
        return out, len(FINANCE_QUERIES), failed


# --------------------------------------------------------------------------
# corpus_curation
# --------------------------------------------------------------------------

class CorpusCuration(Workload):
    name = "corpus_curation"
    pass_s = 7.0
    base_docs = 1500
    base_vecs = 1000
    factor = 4

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.n_base = max(int(self.base_docs * self.scale), 200)
        self.n_vecs = max(int(self.base_vecs * self.scale), 100)
        self.rows = self.n_base * self.factor

    def build(self, out_dir: str) -> str:
        gen.write_corpus_base(out_dir, self.seed, self.n_base, self.n_vecs)
        return (gen.parquet_hash(os.path.join(out_dir, "documents.parquet"),
                                 "doc_id")
                + gen.parquet_hash(os.path.join(out_dir, "embeddings.parquet"),
                                   "vec_id"))

    def derive(self, base_dir: str, out_dir: str) -> str:
        """The derived corpus, built by the repository's scale-up
        derivation (called unmodified, pointed at the generated base)."""
        import scaleup_probe

        os.makedirs(out_dir, exist_ok=True)
        scaleup_probe.BASE = base_dir
        scaleup_probe.build_scaled_dir(self.spark, out_dir, self.factor)
        return gen.parquet_hash(os.path.join(out_dir, "documents.parquet"),
                                "doc_id")

    def prepare(self) -> list[str]:
        """Funnel counts from the DuckDB oracle of
        source_curation_funnel, which nests the oracles of the three
        keep-set operators the pipeline composes."""
        import duckdb
        from thrivefinancedatapipeline_spark.operators.quality import (
            CURATION_FUNNEL_ORACLE)

        con = duckdb.connect()
        con.execute(f"SET threads TO {os.cpu_count()}")
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'{self.input_dir}/documents.parquet'")
        row = con.execute(
            "SELECT SUM(n_raw), SUM(n_clean), SUM(n_dedup), SUM(n_final) "
            f"FROM ({CURATION_FUNNEL_ORACLE})").fetchone()
        con.close()
        self.expected = dict(zip(
            ("n_documents", "n_after_decontaminate", "n_after_dedup",
             "n_after_quality_gate"), (int(x) for x in row)))
        if self.expected["n_documents"] != self.rows:
            return [f"derived corpus has {row[0]} docs, want {self.rows}"]
        return []

    def run_pass(self):
        from thrivefinancedatapipeline_spark.pipeline import (
            run_corpus_pipeline)

        return run_corpus_pipeline(self.spark, self.input_dir)

    def check(self, report) -> list[str]:
        problems = [f"{k}: {report.get(k)} != oracle {v}"
                    for k, v in self.expected.items() if report.get(k) != v]
        if self.first is None:
            self.first = dict(report)
        elif report != self.first:
            problems.append("report differs from the first pass")
        return problems

    def traced_pass(self, tracer: Tracer) -> dict:
        span, report = tracer.call("pass", self.run_pass)
        problems = self.check(report)
        return {"span": span, "engine": tracer.counters(span),
                "metrics": {"corpus.survivor_ratio":
                            report["n_after_quality_gate"]
                            / report["n_documents"]},
                "problems": problems}

    def layers(self, tracer: Tracer) -> tuple[dict, int, int]:
        from pyspark.sql import functions as F
        from thrivefinancedatapipeline_spark.datamodel import load_table
        from thrivefinancedatapipeline_spark.operators.dedup import (
            q_dedup_keep_canonical)
        from thrivefinancedatapipeline_spark.operators.packing import (
            pack_assignments)
        from thrivefinancedatapipeline_spark.operators.quality import (
            q_quality_gate_by_lang)
        from thrivefinancedatapipeline_spark.operators.textops import (
            chunk_documents, q_corpus_decontaminate)
        from thrivefinancedatapipeline_spark.registry import all_queries

        spark, d = self.spark, self.input_dir
        out = {}

        def timed(name, fn):
            span, _ = tracer.call(name, fn)
            out[f"{name}.wall_s"] = span.wall_s
            out[f"{name}.exec_cpu_s"] = tracer.counters(span)["exec_cpu_s"]

        timed("textops.decontaminate",
              lambda: noop(q_corpus_decontaminate(spark, d)))
        timed("dedup.canonical",
              lambda: noop(q_dedup_keep_canonical(spark, d)))
        timed("quality.gate", lambda: noop(q_quality_gate_by_lang(spark, d)))
        docs = load_table(spark, d, "documents").localCheckpoint(eager=True)
        timed("textops.chunk", lambda: noop(chunk_documents(docs)))
        packed_in = (
            chunk_documents(docs)
            .select("doc_id", "chunk_idx",
                    F.col("n_tokens").cast("long").alias("n_tokens"))
            .join(docs.select("doc_id", "lang"), "doc_id")
            .localCheckpoint(eager=True)
        )
        timed("packing.pack", lambda: noop(pack_assignments(
            packed_in, ["lang"], ["doc_id", "chunk_idx"], "n_tokens")))
        queries = all_queries()
        cpu0 = python_worker_cpu_s()
        for name, q in NEARDUP_QUERIES.items():
            timed(name, lambda q=q: noop(queries[q](spark, d)))
        out["python_worker.cpu_s"] = python_worker_cpu_s() - cpu0
        return out, 5 + len(NEARDUP_QUERIES), 0


WORKLOADS = {w.name: w for w in (FinanceMonth, CorpusCuration)}
