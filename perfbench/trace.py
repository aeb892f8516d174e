"""Spans, Spark status-store counters and host readings.

Everything here observes the program from outside: spans wrap calls
into the package's public functions, Spark counters come from the
application status store restricted to the job groups a span set, and
host readings come from ``/proc``. Nothing is patched into the package.
"""

from __future__ import annotations

import contextlib
import logging
import os
import re
import subprocess
import sys
import time
from dataclasses import asdict, dataclass, field

MB = 1024 * 1024
CLK_TCK = os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------------------
# host
# --------------------------------------------------------------------------

def steal_ticks() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def psi_cpu_us() -> int:
    """Cumulative 'some' CPU pressure stall in microseconds (0 when the
    kernel has no PSI)."""
    try:
        with open("/proc/pressure/cpu") as f:
            return int(f.readline().rsplit("total=", 1)[1])
    except (OSError, IndexError, ValueError):
        return 0


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


@dataclass
class HostSample:
    steal: int
    psi_us: int
    cpu_s: float
    t: float

    @classmethod
    def now(cls) -> "HostSample":
        return cls(steal_ticks(), psi_cpu_us(), tree_cpu_s(),
                   time.perf_counter())

    def since(self, start: "HostSample") -> dict:
        return {
            "steal_ticks": self.steal - start.steal,
            "steal_s": (self.steal - start.steal) / CLK_TCK,
            "psi_cpu_s": (self.psi_us - start.psi_us) / 1e6,
            "load1": load1(),
            "tree_cpu_s": self.cpu_s - start.cpu_s,
        }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _proc_cpu_s(pid: int) -> float:
    """utime + stime + reaped children's time, in seconds."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return sum(int(x) for x in fields[11:15]) / CLK_TCK


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def tree_cpu_s() -> float:
    """CPU of this process and every process below it (JVM, workers)."""
    kids = _children()
    total, todo = 0.0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += _proc_cpu_s(pid)
        todo.extend(kids.get(pid, []))
    return total


def python_worker_cpu_s() -> float:
    """CPU of every process below this driver's JVM (the Python worker
    daemon and its workers), including exited workers it has reaped."""
    kids = _children()
    todo = list(kids.get(os.getpid(), []))
    jvm = []
    while todo:
        pid = todo.pop()
        if _comm(pid) == "java":
            jvm.append(pid)
        else:
            todo.extend(kids.get(pid, []))
    total, todo = 0.0, [c for j in jvm for c in kids.get(j, [])]
    while todo:
        pid = todo.pop()
        total += _proc_cpu_s(pid)
        todo.extend(kids.get(pid, []))
    return total


def environment(spark) -> dict:
    """What a reader needs to attribute a number: cores, master, versions
    and the commit (when the checkout is a git repository)."""
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True,
            timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "affinity_cpus": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "commit": commit,
    }


# --------------------------------------------------------------------------
# Spark status store
# --------------------------------------------------------------------------

ENGINE_KEYS = (
    "exec_cpu_s", "exec_wait_s", "gc_s", "jobs", "stages", "tasks",
    "failed_tasks", "input_mb", "shuffle_write_mb", "shuffle_read_mb",
    "spill_mb", "peak_exec_mem_mb",
)


def stage_counters(spark, groups: list[str]) -> dict:
    """Sum the status-store counters of every stage run by a job in
    ``groups``, plus ``input_rows`` (rows read from files). ``exec_wait_s``
    is task run time not spent on CPU (I/O,
    shuffle fetch, lock and steal waits); ``peak_exec_mem_mb`` is the
    largest single stage's peak execution memory."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    jobs, stage_ids = 0, set()
    for g in groups:
        for jid in tracker.getJobIdsForGroup(g):
            jobs += 1
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
    out = dict.fromkeys(ENGINE_KEYS, 0.0)
    out["jobs"] = float(jobs)
    out["input_rows"] = 0.0
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - a stage evicted from the store
            continue
        if st.status().toString() == "SKIPPED":
            continue
        cpu_s = st.executorCpuTime() / 1e9
        out["stages"] += 1
        out["tasks"] += st.numTasks()
        out["failed_tasks"] += st.numFailedTasks()
        out["exec_cpu_s"] += cpu_s
        out["exec_wait_s"] += max(st.executorRunTime() / 1e3 - cpu_s, 0.0)
        out["gc_s"] += st.jvmGcTime() / 1e3
        out["input_mb"] += st.inputBytes() / MB
        out["input_rows"] += st.inputRecords()
        out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
        out["shuffle_read_mb"] += st.shuffleReadBytes() / MB
        out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
        out["peak_exec_mem_mb"] = max(out["peak_exec_mem_mb"],
                                      st.peakExecutionMemory() / MB)
    return out


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------

@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    workload: str = ""
    pass_no: int = -1
    groups: list[str] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans; each span runs its Spark jobs under its own job
    group so the status store can be read per span."""

    def __init__(self, spark, workload: str):
        self.spark = spark
        self.workload = workload
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.pass_no = -1

    def open(self, name: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        span = Span(len(self.spans), parent, name, time.perf_counter(),
                    workload=self.workload, pass_no=self.pass_no)
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        return span

    def close(self, span: Span) -> Span:
        span.end = time.perf_counter()
        self._stack.remove(span)
        if self._stack:
            self._set_group(self._stack[-1])
        else:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return span

    def _set_group(self, span: Span) -> None:
        group = f"{self.workload}.{span.id}.{len(span.groups)}"
        span.groups.append(group)
        self.spark.sparkContext.setJobGroup(group, span.name)

    def call(self, name: str, fn, *args):
        """Run ``fn(*args)`` inside a span; returns (span, result)."""
        span = self.open(name)
        try:
            out = fn(*args)
        finally:
            self.close(span)
        return span, out

    def counters(self, span: Span) -> dict:
        """Status-store counters of the span and every span below it."""
        groups = list(span.groups)
        for s in self.spans:
            if s is not span and self._is_below(s, span):
                groups.extend(s.groups)
        return stage_counters(self.spark, groups)

    def _is_below(self, s: Span, top: Span) -> bool:
        while s.parent is not None:
            if s.parent == top.id:
                return True
            s = self.spans[s.parent]
        return False

    def dump(self) -> list[dict]:
        return [{**asdict(s), "wall_s": s.wall_s} for s in self.spans]


_STAGE_RE = re.compile(r"stage (\w+): (starting|done)")


class StageLogHandler(logging.Handler):
    """Turns the pipeline's ``stage X: starting/done`` log records into
    child spans of the current pass span."""

    def __init__(self, tracer: Tracer):
        super().__init__(logging.INFO)
        self.tracer = tracer
        self.open_spans: dict[str, Span] = {}

    def emit(self, record: logging.LogRecord) -> None:
        m = _STAGE_RE.search(record.getMessage())
        if not m:
            return
        stage, what = m.groups()
        if what == "starting":
            self.open_spans[stage] = self.tracer.open(f"pipeline.{stage}")
        elif stage in self.open_spans:
            self.tracer.close(self.open_spans.pop(stage))


@contextlib.contextmanager
def stage_logs(tracer: Tracer, logger_name: str):
    """Attach a StageLogHandler to the pipeline logger for one traced
    pass."""
    logger = logging.getLogger(logger_name)
    handler = StageLogHandler(tracer)
    level = logger.level
    logger.setLevel(logging.INFO)
    logger.addHandler(handler)
    try:
        yield handler
    finally:
        logger.removeHandler(handler)
        logger.setLevel(level)
        # a stage that raised never logged 'done': close it here
        for span in handler.open_spans.values():
            tracer.close(span)
