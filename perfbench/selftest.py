#!/usr/bin/env python3
"""Self-test of the benchmark's correctness checks.

    python3 perfbench/selftest.py

Run from the root of a checkout. Runs every workload for a few seconds
(batch tables at sf0.001) and expects each to come back correct; then
reruns with one output corrupted on purpose and expects each check to
catch it:
  - query_hash: one value of one batch query's result is altered before
    the DuckDB oracle compare;
  - alert_sum:  one received alert's sum is changed by 1 before the tally
    compare;
  - frame:      one input frame gets a bad magic byte, which the strict
    (FAILFAST) decode must refuse.
Exits 0 only if every expectation holds.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

CASES = [
    ("batch_tail", "", True),
    ("alerts_update", "", True),
    ("alerts_append", "", True),
    ("batch_tail", "query_hash", False),
    ("alerts_update", "alert_sum", False),
    ("alerts_append", "alert_sum", False),
    ("alerts_update", "frame", False),
]


def run(workload, corrupt):
    """Returns the run's `correct`, or False when it failed without a result."""
    env = dict(os.environ, PERFBENCH_SF="0.001")
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "3", "--trace", "0"]
    if corrupt:
        cmd += ["--corrupt", corrupt]
    proc = subprocess.run(cmd, env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return False, f"exit {proc.returncode}, no result"
    res = json.loads(lines[-1])
    return res["correct"], f"attempted {res['attempted']}, failed {res['failed']}"


def main():
    ok = True
    for workload, corrupt, expect in CASES:
        correct, detail = run(workload, corrupt)
        good = correct == expect
        ok &= good
        print(f"{'PASS' if good else 'FAIL'} {workload} corrupt={corrupt or '-'}: "
              f"correct={correct} (expected {expect}); {detail}", flush=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
