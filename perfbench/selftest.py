#!/usr/bin/env python3
"""Self-tests of the benchmark. Run from the repository root:

    python3 perfbench/selftest.py            # all tests (~4 min on 4 cores)
    python3 perfbench/selftest.py digests    # one test by name

Tests:
  digests  one seed gives byte-identical chain wire bytes, JSONL and
           deltas; another seed changes each of them
  smoke    a smoke-size run of each workload, traced and untraced, is
           correct and emits every metric of BENCHMARK.json with its unit
  bearer   a chain bearer closed mid-window counts as one failed op, the
           sync resumes from the committed checkpoint, and the outputs
           still check
"""
import json
import subprocess
import sys

RUN = [sys.executable, "perfbench/run.py"]
WORKLOADS = ("chain-catchup", "doc-stream")


def run(*args):
    p = subprocess.run(RUN + list(args), capture_output=True, text=True)
    if p.returncode != 0:
        raise AssertionError(f"run {' '.join(args)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_digests():
    a = run("--workload", "chain-catchup", "--seed", "11", "--seconds", "1", "--digest-only")
    b = run("--workload", "chain-catchup", "--seed", "11", "--seconds", "1", "--digest-only")
    c = run("--workload", "chain-catchup", "--seed", "12", "--seconds", "1", "--digest-only")
    assert a == b, f"same seed, different inputs: {a} vs {b}"
    for k in ("chain_wire", "jsonl", "deltas"):
        assert a[k] != c[k], f"{k} did not change with the seed"


def test_smoke():
    spec = json.load(open("BENCHMARK.json"))
    for w in WORKLOADS:
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            out = run("--workload", w, "--seed", "5", "--seconds", "1",
                      "--trace", str(trace), "--size", "smoke")
            assert out["correct"] is True, f"{w} trace={trace}: not correct"
            assert out["failed"] == 0 and out["attempted"] >= 1, f"{w}: {out}"
            want = {m["name"]: m["unit"] for m in spec[section]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            assert got == want, f"{w} trace={trace}: metrics {got} != {want}"
            for k, v in out["metrics"].items():
                assert isinstance(v["value"], (int, float)), f"{w} {k}: {v}"


def test_bearer():
    out = run("--workload", "chain-catchup", "--seed", "5", "--seconds", "1",
              "--size", "smoke", "--inject-close", "150")
    rec = json.load(open(".bench_build/last/chain-catchup-t0.json"))
    assert rec["run"]["bearer_failures"] == 1, rec["run"]
    assert rec["run"]["bearer_sessions"] == 2, rec["run"]
    assert out["failed"] == 1, out
    assert out["correct"] is True, f"outputs did not check after resume: {rec['checks']}"


TESTS = {"digests": test_digests, "smoke": test_smoke, "bearer": test_bearer}

if __name__ == "__main__":
    names = sys.argv[1:] or list(TESTS)
    failed = 0
    for name in names:
        try:
            TESTS[name]()
            print(f"PASS {name}", flush=True)
        except AssertionError as e:
            failed += 1
            print(f"FAIL {name}: {e}", flush=True)
    sys.exit(1 if failed else 0)
