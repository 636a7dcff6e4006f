#!/usr/bin/env python3
"""Summarise a traced run's span file.

    python3 tablebench/summarise_spans.py .bench_build/traces/scan_mor-seed1.jsonl

A span's self time is its duration minus the part of its interval that
its child spans cover. Self times are summed by layer (the span name's
first component; the op's own root span is the `bench` layer) and by
workload. For every traced op the summary checks that the layer self
times add up to the op's wall time, and that Spark's job-busy time plus
the driver gap (op wall minus job-busy time) does too; each op that
misses by more than 1% is a violation.
"""
import json
import sys
from collections import defaultdict

TOLERANCE = 0.01


def covered(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, reach = 0, lo
    for s, e in sorted(intervals):
        s, e = max(s, reach), min(e, hi)
        if e > s:
            total += e - s
            reach = e
    return total


def summarise(path):
    spans, ops = [], {}
    with open(path) as fh:
        for line in fh:
            rec = json.loads(line)
            if "op_record" in rec:
                ops[rec["op_record"]] = rec
            elif rec["op"]:
                spans.append(rec)
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    by_layer = defaultdict(float)
    per_op = defaultdict(float)
    workload = None
    for s in spans:
        workload = s["workload"]
        kids = [(c["start_ns"], c["end_ns"]) for c in children[s["id"]]]
        self_ns = (s["end_ns"] - s["start_ns"]) - covered(kids, s["start_ns"], s["end_ns"])
        layer = "bench" if s["name"].startswith("op.") else s["name"].split(".")[0]
        by_layer[layer] += self_ns / 1e6
        per_op[s["op"]] += self_ns / 1e6
    violations = []
    gap_ms = 0.0
    for op, rec in ops.items():
        wall = rec["wall_ms"]
        slack = TOLERANCE * wall + 0.5
        if abs(per_op[op] - wall) > slack:
            violations.append(f"op {op} ({rec['name']}): layer self times sum to "
                              f"{per_op[op]:.3f} ms, wall is {wall:.3f} ms")
        gap = max(0.0, wall - rec["spark_busy_ms"])
        gap_ms += gap
        if rec["spark_busy_ms"] > wall + slack:
            violations.append(f"op {op} ({rec['name']}): Spark busy {rec['spark_busy_ms']:.3f} ms "
                              f"exceeds wall {wall:.3f} ms")
    wall_ms = sum(r["wall_ms"] for r in ops.values())
    return {
        "workload": workload,
        "traced_ops": len(ops),
        "wall_ms": wall_ms,
        "self_ms_by_layer": dict(sorted(by_layer.items())),
        "self_share_by_layer": {k: (v / wall_ms if wall_ms else None)
                                for k, v in sorted(by_layer.items())},
        "spark_busy_ms": sum(r["spark_busy_ms"] for r in ops.values()),
        "spark_driver_gap_ms": gap_ms,
        "violations": violations,
    }


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    worst = 0
    for path in sys.argv[1:]:
        summary = summarise(path)
        print(json.dumps(summary, indent=2, sort_keys=True))
        worst = worst or bool(summary["violations"])
    sys.exit(1 if worst else 0)


if __name__ == "__main__":
    main()
