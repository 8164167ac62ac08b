#!/usr/bin/env python3
"""Self-test of the benchmark's checks (about 2 minutes on 4 cores):

    python3 perfbench/selftest.py

1. For each workload, a run with `--corrupt 1` damages the observed
   output of every second operation. The run must still exit 0 and print
   a result, report correct=false with failed > 0, and compute its
   timings from the undamaged operations only.
2. Run from a directory holding only BENCHMARK.json and perfbench/, the
   benchmark must exit non-zero without printing a result.
"""
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd, *args):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=900)


def corrupted_ops_fail(workload):
    r = run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "12",
            "--trace", "0", "--corrupt", "1")
    assert r.returncode == 0, f"{workload}: exit {r.returncode}\n{r.stderr[-2000:]}"
    lines = r.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    ops = json.loads(lines[-2][2:])["ops"]
    timed = [o for o in ops if o[1] == "full"]
    good = [o[2] for o in timed if o[4]]
    assert not result["correct"] and result["failed"] > 0, f"{workload}: {result}"
    assert result["failed"] == sum(not o[4] for o in ops), f"{workload}: {result}"
    assert good, f"{workload}: no undamaged operation left to time"
    op_s = result["metrics"]["op_s"]["value"]
    assert abs(op_s - statistics.median(good)) < 1e-3, (
        f"{workload}: op_s {op_s} is not the median of the undamaged operations")
    print(f"ok  {workload}: {result['failed']} of {result['attempted']} "
          f"damaged operations counted as failed, none timed")


def bare_checkout_fails():
    bare = os.path.join(ROOT, ".bench_build", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    r = run(bare, "--workload", "batch_kg", "--seed", "1", "--seconds", "1",
            "--trace", "0")
    shutil.rmtree(bare, ignore_errors=True)
    assert r.returncode != 0 and not r.stdout.strip(), (r.returncode, r.stdout)
    print(f"ok  bare checkout: exit {r.returncode}, no result line")


if __name__ == "__main__":
    bare_checkout_fails()
    for w in json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["workloads"]:
        corrupted_ops_fail(w["name"])
