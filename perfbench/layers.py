#!/usr/bin/env python3
"""Prints two traced benchmark runs side by side, layer by layer.

    python3 perfbench/layers.py A.json B.json

A and B are run summaries that `run.py --trace 1` keeps in
.bench_build/runs/. For every per-layer metric, and for every span name of
the traced window (calls, total and self seconds, and the Spark jobs,
tasks and shuffle volume attributed to it), prints A, B and the ratio B/A
with its base A. The spans of a traced batch run's index round are
included.
"""

import json
import sys


def traced(path):
    with open(path) as f:
        r = json.load(f)
    if not r["traced"]:
        sys.exit(f"{path}: not a traced run (use run.py --trace 1)")
    return r


def ratio(a, b):
    if not isinstance(a, (int, float)) or not isinstance(b, (int, float)):
        return ""
    if a == 0:
        return "n/a (base 0)"
    return f"{b / a:.3f} (base {a:.4g})"


def row(name, a, b):
    fa = f"{a:.4g}" if isinstance(a, (int, float)) else "-"
    fb = f"{b:.4g}" if isinstance(b, (int, float)) else "-"
    print(f"{name:52s} {fa:>12s} {fb:>12s}   {ratio(a, b)}")


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = traced(sys.argv[1]), traced(sys.argv[2])
    print(f"A: {a['workload']} seed {a['seed']}   B: {b['workload']} seed {b['seed']}")
    windows = [p for p in ("measured", "traced", "remeasured") if p in a["e2e"] and p in b["e2e"]]
    for phase in windows:
        print(f"{'end to end (' + phase + ' window)':52s} {'A':>12s} {'B':>12s}   B/A")
        ea, eb = a["e2e"][phase], b["e2e"][phase]
        for k in sorted(set(ea) | set(eb)):
            row(k, ea.get(k), eb.get(k))
    print(f"\n{'per-layer metric':52s} {'A':>12s} {'B':>12s}   B/A")
    for k in sorted(set(a["layers"]) | set(b["layers"])):
        row(k, a["layers"].get(k), b["layers"].get(k))
    print(f"\n{'span (traced window, index round)':52s} {'A':>12s} {'B':>12s}   B/A")
    for name in sorted(set(a["spans"]) | set(b["spans"])):
        sa, sb = a["spans"].get(name, {}), b["spans"].get(name, {})
        for field in ("calls", "total_s", "self_s", "jobs", "tasks", "shuffle_mb"):
            row(f"{name} {field}", sa.get(field), sb.get(field))


if __name__ == "__main__":
    main()
