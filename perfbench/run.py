#!/usr/bin/env python3
"""The repository's benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The program and the benchmark are built
from source with sbt (perfbench/build.sbt depends on the repository's own
build.sbt). A run reuses the last build only while a hash of every build
input (both builds' .sbt and project files, src/ and perfbench/src/) is
unchanged, so an edit or a checkout of other sources is always rebuilt.
Inputs are made from --seed: seeded parquet tables for the batch
workloads (gen.py), and seeded Avro frames, generated inside the JVM, for
the alerts workloads. Each run starts one JVM at local[nproc]
(perfbench.Main), then checks the batch results against DuckDB running the
program's own oracle SQL, through the repository's tools/check_oracle.py.

The last line of stdout is one JSON object: correct, attempted, failed
and metrics. --trace 0 reports the end-to-end metrics of BENCHMARK.json,
--trace 1 its per-layer metrics; a traced run also runs the workload
untraced with the same seed and reports the difference as overhead.*,
and for alerts_update adds a local[1] run as the single-thread baseline.
"""
import sys

sys.dont_write_bytecode = True  # before the local imports: leave no __pycache__ behind

import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import time

import gen
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
LAUNCH = os.path.join(HERE, "target", "launch.txt")
BUILD_STAMP = os.path.join(HERE, "target", "built.stamp")

# batch_tail: 6 of the 184 declared queries whose sf0.1 prior
# (graft.QueryCosts) is under 0.5 s: every 30th by name, from the 25th. Of
# the offsets whose sample includes a checkpointing query (here q191, so the
# operators layer is exercised), this is the cheapest. The tables are at
# sf0.01, where fixed per-query cost dominates (schema inference, Catalyst,
# job launch, driver gaps) and a pass is short enough for several per run.
# The seed sets the order and the tables.
BATCH_TAIL = ["q125_pca_project", "q191_top_supplier", "q243_activity_bitmask",
              "q283_name_type_consistency", "q334_tenure_order_size", "q83_welford_variance"]
BATCH = {"batch_tail": (BATCH_TAIL, 0.01)}
ALERTS = ("alerts_update", "alerts_append")
JVM_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


def sources_hash():
    """Hash of every build input: both builds' definitions and sources."""
    h = hashlib.sha256()
    for base in (ROOT, HERE):
        files = [os.path.join(base, "build.sbt")]
        for sub in ("project", "src"):
            for d, dirs, names in os.walk(os.path.join(base, sub)):
                dirs[:] = [x for x in dirs if x != "target" and not (sub == "project" and x == "project")]
                files += [os.path.join(d, n) for n in names]
        for f in sorted(files):
            if os.path.isfile(f):
                h.update(os.path.relpath(f, ROOT).encode() + b"\0")
                with open(f, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the program and the benchmark unless the last build was of
    exactly these sources."""
    key = sources_hash()
    if os.path.exists(LAUNCH) and os.path.exists(BUILD_STAMP):
        with open(BUILD_STAMP) as f:
            if f.read().strip() == key:
                return
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die(f"no program sources at {ROOT} (build.sbt, src/main/scala): nothing to benchmark")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "compile", "writeLaunch"]
    proc = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                          timeout=840)
    if proc.returncode != 0 or not os.path.exists(LAUNCH):
        die(f"build failed (sbt exit {proc.returncode})")
    with open(BUILD_STAMP, "w") as f:
        f.write(key + "\n")
    log(f"built in {time.time() - t0:.1f} s")


def jvm(workload, seed, seconds, trace, cores, work, extra):
    """One perfbench.Main run; returns its result object."""
    with open(LAUNCH) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    cp, opts = lines[0], lines[1:]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "result.json")
    # a fixed, pre-touched heap keeps peak_rss_mb steady from run to run
    cmd = (["java"] + opts + ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--cores", str(cores), "--work", work,
            "--out", out] + extra)
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die(f"{workload}: JVM did not finish in {JVM_TIMEOUT_S} s")
    if code != 0 or not os.path.exists(out):
        die(f"{workload}: JVM exited with {code}")
    with open(out) as f:
        return json.load(f)


def one_run(workload, seed, seconds, trace, cores, corrupt=""):
    """Generates inputs, runs the JVM, checks outputs. Returns the result
    with `failed` including oracle mismatches."""
    work = os.path.join(WORK, f"{workload}-{seed}-{int(trace)}-{cores}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        extra = ["--corrupt", corrupt] if corrupt else []
        if workload in BATCH:
            queries, sf = BATCH[workload]
            sf = float(os.environ.get("PERFBENCH_SF", sf))
            order = list(queries)
            random.Random(seed).shuffle(order)
            data = os.path.join(work, "data")
            t0 = time.time()
            gen.generate(data, sf, seed)
            t1 = time.time()
            res = jvm(workload, seed, seconds, trace, cores, work,
                      extra + ["--data", data, "--queries", ",".join(order)])
            t2 = time.time()
            bad = oracle.check(ROOT, data, os.path.join(work, "results"), res["dumped"])
            log(f"tables {t1 - t0:.1f} s, JVM {t2 - t1:.1f} s, oracle {time.time() - t2:.1f} s")
            for line in bad:
                log(line)
            res["failed"] += len(bad)
        else:
            res = jvm(workload, seed, seconds, trace, cores, work, extra)
        for note in res.get("notes", []):
            log(f"{workload}: {note}")
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            kept = os.path.join(WORK, f"spans-{workload}-{seed}.jsonl")
            shutil.copyfile(spans, kept)
            log(f"job spans of the traced run: {kept}")
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt", default="", help="self-test only: corrupt one output")
    args = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in BATCH and args.workload not in ALERTS:
        die(f"unknown workload {args.workload}")
    build()
    cores = len(os.sched_getaffinity(0))
    e2e = [m["name"] for m in spec["end_to_end"]]

    res = one_run(args.workload, args.seed, args.seconds, bool(args.trace), cores, args.corrupt)
    runs = [res]
    if args.trace:
        base = one_run(args.workload, args.seed, args.seconds, False, cores)
        runs.append(base)
        layers = dict(res["layers"])
        for m in e2e:
            layers[f"overhead.{m}"] = res["metrics"][m] - base["metrics"][m]
        if args.workload == "alerts_update":
            single = one_run(args.workload, args.seed, args.seconds, False, 1)
            runs.append(single)
            layers["baseline.local1_events_per_s"] = single["metrics"]["events_per_s"]
        values = {}
        for m in spec["per_layer"]:
            if m["name"] not in layers:
                log(f"per-layer metric {m['name']} not measured on {args.workload}; reported as 0")
            values[m["name"]] = {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
    else:
        values = {m["name"]: {"value": float(res["metrics"][m["name"]]), "unit": m["unit"]}
                  for m in spec["end_to_end"]}
    attempted = sum(int(r["attempted"]) for r in runs)
    failed = sum(int(r["failed"]) for r in runs)
    print(json.dumps({"correct": failed == 0, "attempted": max(1, attempted),
                      "failed": failed, "metrics": values}))


if __name__ == "__main__":
    main()
