#!/usr/bin/env python3
"""Run one benchmark workload with one seed and print its metrics.

Usage (from the repository root):
    python3 perfbench/run.py --workload chain-catchup --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark on first use (perfbench/build.py),
runs the workload in one JVM, checks its outputs, and prints as the last
line of standard output one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. The full run record (percentile
sample counts, stationarity, host probe, input digests) and, for traced
runs, the spans are kept under .bench_build/last/.

Extra options for the self-tests: --size smoke (tiny fixed work),
--inject-close N (drop the chain bearer after N blocks of the window),
--digest-only 1 (print the input digests of the seed and exit).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

STARTED = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("chain-catchup", "doc-stream")
DEADLINE_S = 175  # the run must end within 180 s once built


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def contract():
    with open("BENCHMARK.json") as fh:
        return json.load(fh)


def run_jvm(args, run_dir, record, budget):
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = build.java_cmd(run_dir) + ["graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--size", args.size, "--out", record,
            "--launched-ms", str(int(time.time() * 1000))]
    if args.inject_close is not None:
        cmd += ["--inject-close", str(args.inject_close)]
    if args.digest_only:
        cmd += ["--digest-only", "1"]
    for opt in ("warm", "work"):
        if getattr(args, opt) is not None:
            cmd += [f"--{opt}", str(getattr(args, opt))]
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=log)
        try:
            code = proc.wait(timeout=max(10, budget))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("workload timed out")
    if code != 0 or not os.path.exists(record):
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"workload JVM exited with code {code}")
    with open(record) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    ap.add_argument("--inject-close", type=int)
    ap.add_argument("--digest-only", action="store_true")
    ap.add_argument("--warm", type=int, help="override the warm-up work")
    ap.add_argument("--work", type=int, help="override the window work")
    args = ap.parse_args()

    spec = contract()
    if build.is_built():
        budget = DEADLINE_S - (time.monotonic() - STARTED)
    else:  # the first run in a checkout builds; time the run from there
        build.ensure_built()
        budget = DEADLINE_S

    runs = os.path.join(build.BUILD_DIR, "runs")
    run_dir = os.path.abspath(os.path.join(
        runs, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        rec = run_jvm(args, run_dir, os.path.join(run_dir, "record.json"), budget)
        if args.digest_only:
            print(json.dumps(rec, sort_keys=True))
            return
        checks = dict(rec["checks"])
        t0 = time.monotonic()
        attempted, failed = int(rec["attempted"]), int(rec["failed"])
        if args.workload == "doc-stream":
            checks.update(oracle.check_doc_stream(rec))
        if "batch_root" in rec["files"]:
            checks.update(oracle.check_doc_batch(rec, args.seed))
        rec["run"]["oracle_check_s"] = time.monotonic() - t0
        # a wrong output is a failed op
        failed += sum(1 for ok in checks.values() if not ok)
        attempted += sum(1 for ok in checks.values() if not ok)
        rec["checks"] = checks
        keep = os.path.join(build.BUILD_DIR, "last")
        os.makedirs(keep, exist_ok=True)
        tag = f"{args.workload}-t{args.trace}"
        with open(os.path.join(keep, f"{tag}.json"), "w") as fh:
            json.dump(rec, fh, indent=1, sort_keys=True)
        spans = os.path.join(run_dir, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(keep, f"{tag}.spans.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    section = "per_layer" if args.trace else "end_to_end"
    measured = rec[section]
    metrics = {}
    for m in spec[section]:
        v = measured.get(m["name"])
        if v is None:
            if section == "end_to_end":
                fail(f"metric {m['name']} missing from the run record")
            v = 0.0  # a layer this workload does not reach
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(f"perfbench: checks {checks} run {json.dumps(rec['run'], sort_keys=True)}",
          file=sys.stderr)
    print(json.dumps({"correct": all(checks.values()) and bool(checks),
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
