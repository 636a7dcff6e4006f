#!/usr/bin/env python3
"""The benchmark's own test: every workload on small inputs, a few ops each.

    python3 tablebench/smoke_test.py [--fixtures DIR] [--workloads a,b]

With --fixtures, inputs are read from DIR/<table>.parquet (for example
a small-scale-factor fixture directory) instead of being generated.

Asserts that
  * each workload, untraced and traced, exits 0 with correct=true and
    prints every metric named in BENCHMARK.json with its unit, in the
    report line and in the final result line;
  * a run whose expected checksums are deliberately wrong exits nonzero
    with correct=false.
"""
import argparse
import json
import os
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)
import run  # noqa: E402


def bench(workload, trace, fixtures, extra=()):
    cmd = [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace), "--smoke", *extra]
    if fixtures:
        cmd += ["--fixtures", fixtures]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    report = next((json.loads(l.split(" ", 1)[1]) for l in lines
                   if l.startswith("TABLEBENCH_REPORT ")), None)
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p.returncode, report, result, p.stderr


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--fixtures")
    ap.add_argument("--workloads", default=",".join(run.WORKLOADS))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    failures = []

    def check(cond, what):
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            failures.append(what)

    for w in args.workloads.split(","):
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            code, report, result, err = bench(w, trace, args.fixtures)
            tag = f"{w} trace={trace}"
            check(code == 0 and result is not None and result["correct"],
                  f"{tag}: exits 0 with correct=true" + ("" if code == 0 else "\n" + err[-2000:]))
            if report is None or result is None:
                continue
            check(result["failed"] == 0 and result["attempted"] > 0, f"{tag}: ops attempted, none failed")
            for m in spec[section]:
                got = report.get(section, {}).get(m["name"], {})
                check(got.get("unit") == m["unit"] and got.get("value") is not None,
                      f"{tag}: report prints {m['name']} in {m['unit']}")
                check(result["metrics"].get(m["name"], {}).get("unit") == m["unit"],
                      f"{tag}: result line has {m['name']} in {m['unit']}")

    w = args.workloads.split(",")[0]
    code, _, result, _ = bench(w, 0, args.fixtures, ["--corrupt-expected"])
    check(code != 0 and result is not None and not result["correct"],
          f"{w} with a wrong expected checksum: exits nonzero with correct=false")

    print(f"{len(failures)} failure(s)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
