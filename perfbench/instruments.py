"""Measurement plumbing: spans, Spark job counts, plan shape, memory
sampling and the raw-CPU control. Everything here observes the program
from outside, through its public calls and Spark's own status APIs."""

from __future__ import annotations

import contextlib
import os
import re
import statistics
import threading
import time


DRIVER_MEM = "2g"  # the JVM heap; leaves most of a 4-core/15 GB box free


def cpus() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (checksums excluded)."""
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            if not f.startswith(".") and not f.endswith(".crc"):
                total += os.path.getsize(os.path.join(d, f))
    return total


def summary(values: list[float]) -> dict:
    """Median, plus the highest percentile that still has at least ten
    samples beyond it (none below 20 samples), with the sample count."""
    vals = sorted(values)
    n = len(vals)
    out = {"n": n, "p50": statistics.median(vals) if vals else None}
    for p in (99, 95, 90):
        if n * (100 - p) / 100 >= 10:
            out[f"p{p}"] = statistics.quantiles(vals, n=100, method="inclusive")[p - 1]
            break
    return out


class Tracer:
    """In-memory spans (name, start, end, parent, op). Disabled tracers
    record nothing; the timing of operations is kept by the caller."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[str, float, float, int, int]] = []
        self._stack: list[int] = []
        self.op = -1

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else -1
        idx = len(self.spans)
        self.spans.append((name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            n, t0, _, par, op = self.spans[idx]
            self.spans[idx] = (n, t0, time.perf_counter(), par, op)

    def self_times(self) -> dict[str, list[float]]:
        """Per span name, each span's duration minus its children's."""
        child = [0.0] * len(self.spans)
        for _, t0, t1, par, _ in self.spans:
            if par >= 0:
                child[par] += t1 - t0
        out: dict[str, list[float]] = {}
        for i, (name, t0, t1, _, _) in enumerate(self.spans):
            out.setdefault(name, []).append(t1 - t0 - child[i])
        return out

    def cost_per_span(self) -> float:
        """Seconds one span costs to record, measured on a throwaway tracer."""
        t = Tracer(True)
        n = 2000
        t0 = time.perf_counter()
        for _ in range(n):
            with t.span("x"):
                pass
        return (time.perf_counter() - t0) / n


class SparkCounts:
    """Jobs, stages and tasks per operation, from one job group per
    operation and ``SparkContext.statusTracker()``."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spent = 0.0  # seconds spent setting groups and reading counts
        self._n = 0

    @contextlib.contextmanager
    def group(self, out: dict):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        self._n += 1
        gid = f"perfbench-{self._n}"
        self.sc.setJobGroup(gid, gid)
        self.spent += time.perf_counter() - t0
        try:
            yield
        finally:
            t0 = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            tracker = self.sc.statusTracker()
            jobs = stages = tasks = 0
            for jid in tracker.getJobIdsForGroup(gid):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    st = tracker.getStageInfo(sid)
                    if st is not None and st.numTasks:
                        stages += 1
                        tasks += st.numTasks
            out.update(jobs=jobs, stages=stages, tasks=tasks)
            self.spent += time.perf_counter() - t0


_EXCHANGE = re.compile(r"(?<![A-Za-z])Exchange\b")
_BROADCAST = re.compile(r"\bBroadcastExchange\b")


def plan_shape(df) -> tuple[int, int]:
    """(shuffle Exchange, BroadcastExchange) counts in the executed plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(_EXCHANGE.findall(plan)), len(_BROADCAST.findall(plan))


def _children_of(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        parent[int(name)] = ppid
    out, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        out.extend(frontier)
    return out


def _hwm_bytes(pid: int) -> int:
    """The kernel's peak-RSS mark of one process (VmHWM), 0 if gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class Sampler(threading.Thread):
    """Low-rate sampler of the JVM and its Python workers, and of Spark's
    cached block bytes (``getRDDStorageInfo``). Memory is the sum, over the
    processes alive at a sample, of each one's peak RSS as the kernel
    records it (VmHWM), so a peak inside a process is never missed between
    samples and a worker that has exited no longer counts."""

    def __init__(self, spark, jvm_pid: int, period: float = 0.5):
        super().__init__(daemon=True)
        self.jsc = spark.sparkContext._jsc
        self.jvm_pid = jvm_pid
        self.period = period
        self.peak_rss = 0
        self.peak_cached = 0
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        rss = sum(_hwm_bytes(p) for p in _children_of(self.jvm_pid))
        self.peak_rss = max(self.peak_rss, rss)
        cached = 0
        for info in self.jsc.sc().getRDDStorageInfo():
            cached += info.memSize() + info.diskSize()
        self.peak_cached = max(self.peak_cached, cached)

    def run(self) -> None:
        while not self._stop_evt.wait(self.period):
            self.sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=10)


def cpu_control(reps: int = 3) -> float:
    """Best-of-``reps`` seconds of a fixed pure-Python loop: a co-tenant
    slow-wave shows here as well as in the program's numbers."""
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_500_000):
            acc += i * i % 7
        best = min(best, time.perf_counter() - t0)
    return best
