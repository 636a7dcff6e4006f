#!/usr/bin/env python3
"""Layered table-format benchmark: build, run one workload, report.

Run from the root of a checkout of this repository:

    python3 tablebench/run.py --workload scan_mor --seed 1 --seconds 10 --trace 0

Builds the program and the harness from source (sbt, once per source
state, into .bench_build/), runs one workload in one JVM, and prints:

  * `TABLEBENCH_REPORT {...}`: every metric by name, unit and sample
    count, the environment and the input fingerprints;
  * with --trace 1, `TABLEBENCH_SPANS {...}`: the span summary;
  * as the last line, the result object: `correct`, `attempted`,
    `failed` and `metrics` (the end_to_end metrics of BENCHMARK.json, or
    with --trace 1 its per_layer metrics).

The exit code is 0 only when every op and every check passed.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD_DIR, "sbt-target", "scala-2.13", "classes")
WORKLOADS = ("scan_many_files", "scan_mor", "ingest_upsert", "curate_dedup")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"tablebench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src")]
    files = [os.path.join(BENCH_DIR, "build.sbt"),
             os.path.join(BENCH_DIR, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_rev(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(rev, env):
    """Compile program + harness once per source state."""
    os.makedirs(BUILD_DIR, exist_ok=True)
    stamp = os.path.join(BUILD_DIR, "build.stamp")
    with open(os.path.join(BUILD_DIR, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == rev:
            return
        log_path = os.path.join(BUILD_DIR, "build.log")
        with open(log_path, "w") as log:
            try:
                p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "Compile / products"],
                                   cwd=BENCH_DIR, env=env, stdout=log, stderr=subprocess.STDOUT,
                                   stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
                ok = p.returncode == 0
            except subprocess.TimeoutExpired:
                ok = False
        if not ok or not os.path.isdir(CLASSES):
            with open(log_path) as log:
                sys.stderr.write("".join(log.readlines()[-40:]))
            fail("build failed (see .bench_build/build.log)", 3)
        with open(stamp, "w") as fh:
            fh.write(rev)


def run_jvm(args, env, work, spans_out):
    cp = os.pathsep.join([CLASSES, os.path.join(spark_home(), "jars", "*")])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH_DIR, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "tablebench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work-dir", work]
    if spans_out:
        cmd += ["--spans-out", spans_out]
    if args.smoke:
        cmd.append("--smoke")
    if args.fixtures:
        cmd += ["--fixtures", os.path.abspath(args.fixtures)]
    if args.corrupt_expected:
        cmd.append("--corrupt-expected")
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="small inputs and few ops, for the benchmark's own test")
    ap.add_argument("--fixtures", help="read inputs from DIR/<table>.parquet instead of generating")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="offset every expected checksum by one (the checks must then fail)")
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or not os.path.exists(spec_path):
        fail("program sources not found: run from the root of a full checkout")
    with open(spec_path) as fh:
        spec = json.load(fh)

    env = dict(os.environ)
    env.setdefault("SPARK_HOME", spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    files = source_files()
    rev = source_rev(files)
    env["TABLEBENCH_SOURCE_REV"] = rev
    build(rev, env)

    work = os.path.join(BUILD_DIR, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    spans_out = None
    if args.trace:
        os.makedirs(os.path.join(BUILD_DIR, "traces"), exist_ok=True)
        spans_out = os.path.join(BUILD_DIR, "traces", f"{args.workload}-seed{args.seed}.jsonl")
    try:
        code, out = run_jvm(args, env, work, spans_out)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    reports = [l for l in out.splitlines() if l.startswith("TABLEBENCH_REPORT ")]
    if not reports:
        sys.stderr.write(out[-4000:])
        fail(f"no report (exit code {code})", 5)
    report = json.loads(reports[-1][len("TABLEBENCH_REPORT "):])
    print(reports[-1])

    errors = list(report.get("errors", []))
    if args.trace:
        sys.path.insert(0, BENCH_DIR)
        import summarise_spans
        summary = summarise_spans.summarise(spans_out)
        print("TABLEBENCH_SPANS " + json.dumps(summary, sort_keys=True))
        errors += summary["violations"]

    section, wanted = ("per_layer", spec["per_layer"]) if args.trace else ("end_to_end", spec["end_to_end"])
    metrics = {}
    for m in wanted:
        got = report.get(section, {}).get(m["name"])
        if not got or got.get("value") is None:
            errors.append(f"metric {m['name']} was not measured")
            continue
        if got["unit"] != m["unit"]:
            errors.append(f"metric {m['name']} has unit {got['unit']}, expected {m['unit']}")
        metrics[m["name"]] = {"value": got["value"], "unit": got["unit"]}
    for e in errors:
        print(f"tablebench: {e}", file=sys.stderr)
    correct = code == 0 and report["correct"] and not errors
    print(json.dumps({"correct": correct, "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
