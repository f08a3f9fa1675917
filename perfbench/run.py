"""Benchmark entry point.

    python3 perfbench/run.py --workload {bulk_build,search_mixed}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. Builds its seeded inputs under
``.bench_work/`` (cached per size and seed), starts one Spark session
pinned to the machine's cores, sets up the workload, then runs it in a
closed loop with one client thread for ``--seconds``, checking every
answer. The last stdout line is one JSON object: correct / attempted /
failed / metrics, where metrics are the end-to-end metrics of
BENCHMARK.json (``--trace 0``) or its per-layer metrics (``--trace 1``).
The line before it is a report with sample counts, percentiles, the
raw-CPU control and any failures.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

import workloads
from instruments import DRIVER_MEM, Sampler, SparkCounts, Tracer, cpu_control, cpus

ROOT = os.getcwd()


class Run:
    """State of one benchmark run: deadline, tracing, checks, samples."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, corrupt: int = 0):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = os.path.join(ROOT, ".bench_work")
        self.cache = os.path.join(self.work, "cache")
        os.makedirs(self.cache, exist_ok=True)
        self.tmp = tempfile.mkdtemp(prefix="run-", dir=self.work)
        self.tracer = Tracer(trace)
        self.corrupt = corrupt  # loop answers to falsify before checking (smoke test)
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.op_times: list[float] = []
        self.rounds: list[tuple[int, float]] = []  # (operations, seconds) per round
        self.samples: dict[str, list[float]] = {}
        self.values: dict[str, float] = {}
        self.plan_s = 0.0  # seconds spent reading executed plans
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.spec = json.load(f)
        self.per_layer_names = [m["name"] for m in self.spec["per_layer"]]
        self.spark = self.counts = self.sampler = None
        self.setup_reps: list[float] = []
        self.setup_s = self.loop_t0 = None

    # --- session ---------------------------------------------------------
    def start_session(self):
        n = cpus()
        local = os.path.join(self.work, "spark-local")
        jtmp = os.path.join(self.work, "tmp")
        os.makedirs(local, exist_ok=True)
        os.makedirs(jtmp, exist_ok=True)
        os.environ.update(
            SPARK_GRAFT_CPUS=str(n), SPARK_DRIVER_MEM=DRIVER_MEM,
            SPARK_LOCAL_DIRS=local, TMPDIR=jtmp,
            # every JVM, the launcher's too: temp files under the work dir,
            # no hsperfdata in the system temp directory
            JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={jtmp}",
            PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        )
        tempfile.tempdir = jtmp  # the gateway's connection-info file goes here
        from kafka_es_spark.session import get_spark

        t0 = time.perf_counter()
        with self.span("session.get_spark"):
            self.spark = get_spark(
                "perfbench",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                },
            )
        self.values["session.get_spark_s"] = time.perf_counter() - t0
        sc = self.spark.sparkContext
        sc.setLogLevel("ERROR")
        self.counts = SparkCounts(sc, self.trace)
        self.jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())
        self.sampler = Sampler(self.spark, self.jvm_pid)
        self.sampler.start()
        return self.spark

    def stop_session(self) -> None:
        if self.sampler is not None:
            self.sampler.stop()
        if self.spark is None:
            return
        gw = self.spark.sparkContext._gateway
        self.spark.stop()
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:  # the JVM exits when its stdin closes
            proc.stdin.close()
            proc.wait(timeout=60)

    # --- timing ----------------------------------------------------------
    @contextlib.contextmanager
    def setup_rep(self):
        """One repetition of the workload's set-up work, timed."""
        t0 = time.perf_counter()
        yield
        self.setup_reps.append(time.perf_counter() - t0)

    def end_setup(self) -> None:
        """Set-up time: session start plus the median set-up repetition."""
        self.setup_s = self.values["session.get_spark_s"] + statistics.median(self.setup_reps)

    def start_loop(self) -> None:
        self.loop_t0 = time.perf_counter()

    def more(self, done: int, at_least: int) -> bool:
        """Start another operation: until ``--seconds`` have passed and at
        least ``at_least`` operations are done."""
        return done < at_least or time.perf_counter() - self.loop_t0 < self.seconds

    def span(self, name: str):
        return self.tracer.span(name)

    @contextlib.contextmanager
    def op(self, name: str, counts: dict | None = None):
        """One end-to-end operation: timed always, spanned when tracing,
        with its own Spark job group."""
        self.tracer.op += 1
        t0 = time.perf_counter()
        with self.span(name), self.counts.group(counts if counts is not None else {}):
            yield
        self.record_op(name, time.perf_counter() - t0)

    def record_op(self, name: str, seconds: float) -> None:
        self.op_times.append(seconds)
        self.sample(f"op.{name}", seconds)

    def end_round(self) -> None:
        """Close a round: the operations recorded since the last one."""
        done = sum(n for n, _ in self.rounds)
        self.rounds.append((len(self.op_times) - done, sum(self.op_times[done:])))

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    # --- correctness -----------------------------------------------------
    def check(self, what: str, got, verdict) -> bool:
        """Count one checked answer; ``verdict(got)`` returns None when
        correct, else the reason. A wrong answer counts as failed."""
        if self.corrupt > 0 and self.loop_t0 is not None:
            self.corrupt -= 1
            got = _falsify(got)
        self.attempted += 1
        reason = verdict(got)
        if reason is not None:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(f"{what}: {reason}")
        return reason is None


def _falsify(got):
    """A wrong version of an answer: flipped, off by one, or with its
    first hit replaced."""
    if isinstance(got, (bool, int, float)):
        return not got if isinstance(got, bool) else got + 1
    if isinstance(got, list) and got and isinstance(got[0], tuple):
        return [(got[0][0], got[0][1] + 1)] + got[1:]
    if isinstance(got, list) and got:
        return [-1] + got[1:]
    return [-1]


def emit(run: Run, metrics: dict[str, float], report: dict) -> dict:
    wanted = run.spec["per_layer"] if run.trace else run.spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        raise KeyError(f"metrics not computed: {missing}")
    out = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
            for m in wanted
        },
    }
    print(json.dumps(report, sort_keys=True, default=float))
    print(json.dumps(out))
    return out


def main(argv=None, corrupt: int = 0) -> dict:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "kafka_es_spark", "__init__.py")):
        sys.exit("perfbench: run from the repository root (kafka_es_spark/ not found)")
    sys.path.insert(0, ROOT)
    if a.workload not in workloads.WORKLOADS:
        sys.exit(f"perfbench: unknown workload {a.workload!r}")
    control_s = cpu_control()
    run = Run(a.workload, a.seed, a.seconds, bool(a.trace), corrupt=corrupt)
    try:
        metrics = workloads.WORKLOADS[a.workload](run)
    finally:
        run.stop_session()
        shutil.rmtree(run.tmp, ignore_errors=True)
    report = workloads.report(run, control_s)
    return emit(run, metrics, report)


if __name__ == "__main__":
    main()
