"""Smoke test of the benchmark on tiny inputs (about a minute per case).

    python3 perfbench/test_smoke.py      # from the repository root

For each workload, untraced and traced: every metric BENCHMARK.json
names is printed with its unit, every metric of a layer the workload
calls is non-zero, and every answer checks out. Then one
run with a deliberately falsified answer must count it as failed. Each
case runs in a fresh process, as the benchmark does.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import sys

import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
TINY = {"BULK_PAGES": 300, "SEARCH_PAGES": 300, "BATCH_PAGES": 50, "WARM_PAGES": 50, "DELETES": 5,
        "SETUP_REPS": 2, "MIN_CYCLES": 2, "MIN_ROUNDS": 1}
MAY_BE_ZERO = ("plan.broadcasts.",)  # a plan without a broadcast is a valid reading


def _case(workload: str, trace: int, corrupt: int = 0) -> dict:
    sys.path[:0] = [os.getcwd(), HERE]
    import run

    for k, v in TINY.items():
        setattr(workloads, k, v)
    argv = ["--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace)]
    return run.main(argv, corrupt=corrupt)


def _run(*args) -> dict:
    with multiprocessing.get_context("spawn").Pool(1) as pool:
        return pool.apply(_case, args)


def test_falsified_answer_counts_as_failed() -> None:
    out = _run("search_mixed", 0, 1)
    assert out["failed"] == 1 and not out["correct"], out


def test_every_metric_printed_and_answers_correct() -> None:
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            out = _run(w["name"], trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            assert got == want, (w["name"], trace, set(want) ^ set(got))
            assert all(isinstance(v["value"], float) for v in out["metrics"].values())
            idle = set(workloads.idle_metrics(w["name"], want)) if trace else set()
            unset = [k for k, v in out["metrics"].items()
                     if v["value"] == 0 and k not in idle and not k.startswith(MAY_BE_ZERO)]
            assert not unset, (w["name"], trace, "measured metrics read 0", unset)
            assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, out


if __name__ == "__main__":
    test_falsified_answer_counts_as_failed()
    test_every_metric_printed_and_answers_correct()
    print("perfbench smoke test: ok")
