"""Tests of the benchmark itself: generator determinism, a tiny-size
smoke run of each workload, trace reconciliation, and the refusal to
run without the package.

    python3 -m pytest perfbench -q

The smoke runs start Spark (about a minute each on 4 cores).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from collections import Counter

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# --------------------------------------------------------------------------
# generator
# --------------------------------------------------------------------------

def test_events_same_seed_same_hash(tmp_path):
    a = gen.write_events(str(tmp_path / "a"), seed=7, n_rows=20_000)
    b = gen.write_events(str(tmp_path / "b"), seed=7, n_rows=20_000)
    c = gen.write_events(str(tmp_path / "c"), seed=8, n_rows=20_000)
    ha, hb, hc = (gen.parquet_hash(f"{d}/events.parquet", "event_id")
                  for d in (a, b, c))
    assert ha == hb
    assert ha != hc


def test_events_shape():
    n = 200_000
    t = gen.events_table(3, n)
    kinds = Counter(t.column("event_type").to_pylist())
    earned = sum(kinds[k] for k in gen.EVENT_TYPES[:3]) / n
    assert abs(earned - 0.70) < 0.01
    assert abs(kinds["purchase"] / n - 0.20) < 0.01
    assert abs(kinds["error"] / n - 0.10) < 0.01
    ts = t.column("ts").cast("int64").to_numpy()
    assert ts.min() >= gen.MONTH_START_US
    assert ts.max() < gen.MONTH_START_US + gen.MONTH_US
    per_customer = Counter(t.column("user_id").to_pylist())
    n_customers = n // 20
    top = per_customer.most_common(1)[0][1]
    # skewed (well above the mean of 20) but bounded near n / sqrt(C)
    assert 20 * 10 < top < 2 * n / n_customers ** 0.5
    assert len(per_customer) > 0.8 * n_customers


def test_events_layout_spreads_the_scan(tmp_path):
    d = gen.write_events(str(tmp_path), seed=1, n_rows=40_000)
    files = sorted(os.listdir(f"{d}/events.parquet"))
    assert len(files) == 8
    assert all(pq.ParquetFile(f"{d}/events.parquet/{f}").num_row_groups == 4
               for f in files)


def test_corpus_base_same_seed_same_hash(tmp_path):
    hashes = []
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        d = gen.write_corpus_base(str(tmp_path / name), seed, 500, 200)
        hashes.append((gen.parquet_hash(f"{d}/documents.parquet", "doc_id"),
                       gen.parquet_hash(f"{d}/embeddings.parquet", "vec_id")))
    assert hashes[0] == hashes[1]
    assert hashes[0][0] != hashes[2][0] and hashes[0][1] != hashes[2][1]
    docs = pq.read_table(str(tmp_path / "a" / "documents.parquet"))
    assert docs.column("doc_id").to_pylist() == list(range(500))


# --------------------------------------------------------------------------
# BENCHMARK.json and the printed metrics agree
# --------------------------------------------------------------------------

def test_metric_names_match_benchmark_json():
    from perfbench.run import END_TO_END, _unit, per_layer_names

    bench = _bench()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {
        n: _unit(n) for n in per_layer_names()}
    assert {w["name"] for w in bench["workloads"]} == {
        "finance_month", "corpus_curation"}


# --------------------------------------------------------------------------
# smoke runs
# --------------------------------------------------------------------------

def _run(workload: str, seed: int, trace: int, cwd: str = ROOT,
         scale: float = 0.05) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", "0",
         "--trace", str(trace), "--scale", str(scale)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True, proc.stdout[-3000:]
    assert out["failed"] == 0 and out["attempted"] >= 3
    return out


@pytest.mark.slow
@pytest.mark.parametrize("workload", ["finance_month", "corpus_curation"])
def test_smoke_end_to_end(workload):
    out = _result(_run(workload, seed=101, trace=0))
    names = {m["name"] for m in _bench()["end_to_end"]}
    assert set(out["metrics"]) == names
    assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.slow
def test_trace_reconciles_finance_month():
    """Stage spans plus pipeline.glue_s equal the traced pass wall, and
    every stage span lies inside its pass span."""
    seed = 102
    out = _result(_run("finance_month", seed=seed, trace=1))
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert set(m) == {x["name"] for x in _bench()["per_layer"]}
    with open(os.path.join(ROOT, ".perfbench_out",
                           f"finance_month-s{seed}-t1.json")) as f:
        spans = json.load(f)["spans"]
    (pass_span,) = [s for s in spans if s["name"] == "pass"]
    stages = [s for s in spans if s["parent"] == pass_span["id"]]
    assert sorted(s["name"] for s in stages) == sorted(
        f"pipeline.{st}" for st in (
            "download_data", "validate_source", "perform_fifo_matching",
            "validate_results", "build_analytics", "write_outputs"))
    for s in stages:
        assert pass_span["start"] <= s["start"] <= s["end"] <= pass_span["end"]
    stage_sum = sum(m[f"{s['name']}.wall_s"] for s in stages)
    assert m["pipeline.glue_s"] >= 0
    assert stage_sum + m["pipeline.glue_s"] == pytest.approx(
        pass_span["wall_s"], abs=1e-6)
    assert m["engine.jobs"] >= sum(m[f"{s['name']}.jobs"] for s in stages)
    assert m["engine.failed_tasks"] == 0
    assert m["fifo.match.shuffle_write_mb"] > 0
    assert m["finance_queries.balance_asof.p50_s"] > 0


def test_refuses_to_run_without_the_package(tmp_path):
    """In a directory holding only the benchmark, the run fails fast and
    prints no result."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "finance_month",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
