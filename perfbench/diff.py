#!/usr/bin/env python3
"""Compare two benchmark result files.

    python3 perfbench/diff.py BASE.jsonl CHANGE.jsonl

Each file holds run records as ``perfbench/run.py`` appends them to
``perfbench/.results/runs.jsonl`` (one JSON object a line; copy or move
that file between the two sets of runs). For every workload x end-to-end
metric the printer shows both medians, both quartiles and the ratio
change/base, flagged by the bound fixed in ``BENCHMARK.json``:

* ``WORSE``      the change's median is worse than the base's by more than the bound;
* ``unresolved`` either side's quartile spread (as a share of its median)
                 is wider than the bound, so the difference cannot be read;
* ``ok``         otherwise.

It then lists the per-layer metrics (from traced runs) that moved, largest
relative move first, and each side's tracing overhead per workload: the
median traced wall time minus the median untraced one.
"""
import json
import math
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def series(records, trace):
    """{(workload, metric): [values]} over the records of one trace mode."""
    out = {}
    for r in records:
        if r["trace"] == trace:
            for k, v in r["metrics"].items():
                out.setdefault((r["workload"], k), []).append(v)
    return out


def verdict(base, change, bound, better):
    bq1, bmed, bq3 = quartiles(base)
    cq1, cmed, cq3 = quartiles(change)
    spread = max((bq3 - bq1) / bmed if bmed else math.inf,
                 (cq3 - cq1) / cmed if cmed else math.inf)
    worse = (cmed - bmed) / bmed if better == "lower" else (bmed - cmed) / bmed
    if worse > bound:
        return "WORSE"
    if spread > bound:
        return "unresolved"
    return "ok"


def overhead(records):
    wall, traced = series(records, 0), series(records, 1)
    return {w: statistics.median(traced[(w, "trace.wall_s")]) - statistics.median(v)
            for (w, m), v in wall.items()
            if m == "wall_s" and (w, "trace.wall_s") in traced}


def main(base_path, change_path):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    base, change = load(base_path), load(change_path)
    b0, c0 = series(base, 0), series(change, 0)
    print(f"{'workload':16} {'metric':16} {'base median [q1, q3]':>34} "
          f"{'change median [q1, q3]':>34} {'ratio':>7}  verdict")
    for w in spec["workloads"]:
        for m in spec["end_to_end"]:
            key = (w["name"], m["name"])
            if key not in b0 or key not in c0:
                continue
            bq1, bmed, bq3 = quartiles(b0[key])
            cq1, cmed, cq3 = quartiles(c0[key])
            v = verdict(b0[key], c0[key], m["bound"], m["better"])
            print(f"{w['name']:16} {m['name']:16} "
                  f"{bmed:12.4f} [{bq1:9.4f}, {bq3:9.4f}] "
                  f"{cmed:12.4f} [{cq1:9.4f}, {cq3:9.4f}] "
                  f"{cmed / bmed if bmed else math.inf:7.3f}  {v}"
                  f"  (n={len(b0[key])}/{len(c0[key])}, bound {m['bound']})")
    b1, c1 = series(base, 1), series(change, 1)
    moved = []
    for key in sorted(set(b1) & set(c1)):
        bm, cm = statistics.median(b1[key]), statistics.median(c1[key])
        if bm == cm:
            continue
        rel = math.inf if bm == 0 else abs(cm - bm) / abs(bm)
        moved.append((rel, key, bm, cm))
    if moved:
        print("\nper-layer metrics that moved (traced runs, medians):")
        for rel, (w, m), bm, cm in sorted(moved, key=lambda t: -t[0]):
            ratio = f"{cm / bm:8.3f}" if bm else "     new"
            print(f"  {w:16} {m:32} {bm:14.4f} -> {cm:14.4f}  ratio {ratio}")
    for name, recs in (("base", base), ("change", change)):
        for w, s in sorted(overhead(recs).items()):
            print(f"tracing overhead ({name}) {w}: {s:+.4f} s")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
