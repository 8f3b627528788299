#!/usr/bin/env python3
"""Runs the benchmark on several seeds and reports, per end-to-end metric,
the median and the spread: the distance between the first and third
quartile (statistics.quantiles, n=4) as a share of the median.

    python3 perfbench/spread.py --workload <name> --seeds 1-10 [--seconds 10]

Run from the root of a checkout. Each seed is one full run.py invocation.
The spread of every metric should stay below its bound in BENCHMARK.json
(a third of it, for margin). setup_s is reported the same way; its spread
is not held to the bound, only the shift of its median from one set of
runs to the next.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="10")
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    values = {}
    for seed in seeds(args.seeds):
        t0 = time.time()
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                              args.workload, "--seed", str(seed), "--seconds", args.seconds,
                              "--trace", "0"], stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                             text=True, check=True).stdout
        res = json.loads(out.strip().splitlines()[-1])
        print(f"seed {seed} ({time.time() - t0:.0f} s): correct={res['correct']} failed={res['failed']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med
        print(f"{args.workload} {k}: median {med:.4g} spread {spread:.3f} (bound {bounds[k]})")


if __name__ == "__main__":
    main()
