"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload finance_month --seed 1 \
        --seconds 15 --trace 0

Run from the repository root. One Python process drives Spark
``local[N]`` with N = the usable CPU count. The run builds its input
from ``--seed``, runs a cold pass and the workload's untimed warm-up
passes, then a fixed number of timed warm passes back to back
(``--seconds`` over the workload's nominal pass time, at least two),
checking every pass's output. The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones. The line before it is a JSON record of the environment and of
every pass with its host readings (steal, CPU pressure, load).
Everything the run writes stays under ``.perfbench_work/`` (removed
at exit) and ``.perfbench_out/`` (the run record and trace spans).
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

T_START = time.perf_counter()

#: the checkout: the package, tools/ and the benchmark's working dirs
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

from perfbench.trace import ENGINE_KEYS  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "rows/s",
}

#: a median needs at least two warm passes, whatever --seconds says
MIN_WARM_PASSES = 2
#: input builds per run; their median enters setup_s, and all must hash
#: the same
SETUP_REPEATS = 3

def _unit(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_s"):
        return "s"
    if last.endswith("_mb"):
        return "MB"
    if last in ("scan_amplification", "survivor_ratio"):
        return "ratio"
    if last == "collect_rows":
        return "rows"
    return "count"


def per_layer_names() -> list[str]:
    from perfbench.workloads import FINANCE_QUERIES, PIPELINE_STAGES

    names = ["session.start_s", "pass.cold_s"]
    for st in PIPELINE_STAGES:
        names += [f"pipeline.{st}.{m}" for m in (
            "wall_s", "exec_cpu_s", "input_mb", "shuffle_write_mb", "jobs")]
    names += ["pipeline.glue_s", "pipeline.scan_amplification"]
    two = ("wall_s", "exec_cpu_s")
    for layer in ("sources.ingest", "quality.validate_source",
                  "quality.gate", "fifo.validate_results",
                  "balance.current", "analytics.report",
                  "textops.decontaminate", "dedup.canonical",
                  "textops.chunk", "packing.pack", "dedup.simhash",
                  "similarity.ivfpq", "similarity.bruteforce"):
        names += [f"{layer}.{m}" for m in two]
    for layer in ("fifo.match", "balance.history"):
        names += [f"{layer}.{m}" for m in (*two, "shuffle_write_mb")]
    names += ["finance_queries.build_s", "catalyst.analysis_s",
              "catalyst.optimization_s", "catalyst.planning_s",
              "finance_queries.exec_s", "finance_queries.jobs_per_query",
              "finance_queries.stages_per_query", "driver.collect_rows"]
    names += [f"finance_queries.{q}.p50_s" for q in FINANCE_QUERIES]
    names += ["corpus.survivor_ratio", "python_worker.cpu_s"]
    names += [f"engine.{k}" for k in ENGINE_KEYS]
    names += ["driver.cpu_s", "host.steal_s", "host.psi_cpu_s",
              "trace.overhead_s"]
    return names


def warm_passes(wl, args) -> int:
    """The number of timed warm passes: --seconds over the workload's
    nominal pass time. A count, not a deadline: passes keep speeding up
    as the JIT warms, and under a deadline a slow run would fit fewer
    passes, so its median would sit earlier on that curve and read
    slower still. A fixed count puts every run's median at the same
    pass."""
    if args.trace:
        return 1  # the untraced pass the traced one is compared with
    return max(MIN_WARM_PASSES, round(args.seconds / wl.pass_s))


def _finite(x) -> float:
    """A failed run has no wall time; print 0 rather than invalid JSON."""
    x = float(x)
    return x if math.isfinite(x) else 0.0


def _configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the
    checkout, and let Python workers import the package."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        + f" -Djava.io.tmpdir={os.path.join(work, 'tmp')}").strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tempfile.tempdir = None  # re-read TMPDIR


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Run:
    """One benchmark run: the passes, their records and the count of
    attempted and failed operations."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.passes: list[dict] = []

    def op(self, ok: bool, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if not ok or problems:
            self.failed += 1
            self.problems += [f"{what}: {p}" for p in problems] or [what]

    def timed_pass(self, wl, kind: str) -> float | None:
        from perfbench.trace import HostSample

        h0 = HostSample.now()
        try:
            result = wl.run_pass()
            wall = time.perf_counter() - h0.t
            problems = wl.check(result)
        except Exception as exc:  # noqa: BLE001 - counted as failed
            wall, problems = None, [f"{type(exc).__name__}: {exc}"[:500]]
        rec = {"kind": kind, "wall_s": wall, "ok": not problems,
               **HostSample.now().since(h0)}
        self.passes.append(rec)
        self.op(wall is not None, f"{kind} pass", problems)
        return wall if not problems else None

    def setup(self, wl) -> float:
        """Build the input SETUP_REPEATS times into fresh directories (each
        must hash the same: the determinism check) and return the median
        build time. The first copy is the one the passes read."""
        times, hashes = [], []
        for i in range(SETUP_REPEATS):
            d = os.path.join(self.work, f"input{i}")
            t0 = time.perf_counter()
            hashes.append(wl.build(d))
            times.append(time.perf_counter() - t0)
            if i:
                shutil.rmtree(d)
        self.op(len(set(hashes)) == 1, "input determinism",
                [] if len(set(hashes)) == 1 else ["hashes differ"])
        base = os.path.join(self.work, "input0")
        self.input_hash = hashes[0]
        if hasattr(wl, "derive"):
            t0 = time.perf_counter()
            derived = os.path.join(self.work, "derived")
            self.input_hash = wl.derive(base, derived)
            times = [t + time.perf_counter() - t0 for t in times]
            base = derived
        wl.input_dir = base
        t0 = time.perf_counter()
        problems = wl.prepare()
        self.op(not problems, "setup check", problems)
        return statistics.median(times) + time.perf_counter() - t0

    def run(self) -> dict:
        from perfbench.trace import environment
        from thrivefinancedatapipeline_spark.session import get_spark

        args = self.args
        wl_cls = WORKLOADS[args.workload]
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        session_ready = time.perf_counter() - T_START
        try:
            wl = wl_cls(spark, self.work, args.seed, args.scale)
            build_s = self.setup(wl)
            setup_s = session_ready + build_s
            env = environment(spark)

            cold = self.timed_pass(wl, "cold")
            for _ in range(wl.warmup_passes):
                self.timed_pass(wl, "warmup")
            warm = [w for w in (self.timed_pass(wl, "warm")
                                for _ in range(warm_passes(wl, args)))
                    if w is not None]
            wall = statistics.median(warm) if warm else float("nan")
            metrics = {
                "setup_s": setup_s,
                "wall_s": wall,
                "rows_per_s": wl.rows / wall,
            }
            spans = []
            if args.trace:
                metrics, spans = self.traced(spark, wl, wall, session_s)
                metrics["pass.cold_s"] = cold if cold is not None else 0.0
                units = {n: _unit(n) for n in per_layer_names()}
            else:
                units = END_TO_END
            record = {
                "workload": args.workload, "seed": args.seed,
                "trace": args.trace, "rows": wl.rows,
                "input_hash": self.input_hash, "env": env,
                "session_start_s": session_s, "build_s": build_s,
                "passes": self.passes, "problems": self.problems,
            }
        finally:
            _stop(spark)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(
                out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"),
                "w") as f:
            json.dump({"record": record, "spans": spans}, f, indent=1)
        print(json.dumps({"record": record}))
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {n: {"value": _finite(metrics.get(n, 0.0)), "unit": u}
                        for n, u in units.items()},
        }

    def traced(self, spark, wl, wall, session_s):
        """One traced pass (stage spans, job groups, status reads), then
        each layer's public function timed alone."""
        from perfbench.trace import HostSample, Tracer

        tracer = Tracer(spark, wl.name)
        h0 = HostSample.now()
        cpu0 = time.process_time()
        tracer.pass_no = len(self.passes)
        try:
            tp = wl.traced_pass(tracer)
        except Exception as exc:  # noqa: BLE001
            self.op(False, "traced pass", [f"{type(exc).__name__}: {exc}"])
            return {}, tracer.dump()
        self.op(True, "traced pass", tp["problems"])
        host = HostSample.now().since(h0)
        self.passes.append({"kind": "traced", "wall_s": tp["span"].wall_s,
                            "ok": not tp["problems"], **host})
        metrics = dict(tp["metrics"])
        metrics.update({f"engine.{k}": v for k, v in tp["engine"].items()})
        metrics["driver.cpu_s"] = time.process_time() - cpu0
        metrics["host.steal_s"] = host["steal_s"]
        metrics["host.psi_cpu_s"] = host["psi_cpu_s"]
        # passes still speed up as the JIT warms, so compare with the
        # untraced passes on both sides of the traced one
        after = self.timed_pass(wl, "warm")
        if after is not None:
            metrics["trace.overhead_s"] = (
                tp["span"].wall_s - (wall + after) / 2)
        metrics["session.start_s"] = session_s
        tracer.pass_no = -1
        try:
            layer, attempted, failed = wl.layers(tracer)
            metrics.update(layer)
            self.attempted += attempted
            self.failed += failed
            if failed:
                self.problems.append(f"{failed} layer calls failed")
        except Exception as exc:  # noqa: BLE001
            self.op(False, "layer timing", [f"{type(exc).__name__}: {exc}"])
        return metrics, tracer.dump()


def parse(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=15.0,
                   help="about how long the warm passes run: their number "
                        "is this over the workload's nominal pass time "
                        f"(at least {MIN_WARM_PASSES})")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size relative to the benchmark's (tests "
                        "use a small fraction)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    # fail before any work when the package is missing
    import thrivefinancedatapipeline_spark  # noqa: F401
    import scaleup_probe  # noqa: F401

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        _configure_env(work)
        result = Run(args, work).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
