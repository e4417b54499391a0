#!/usr/bin/env python3
"""Per-workload, per-layer deltas between two sets of benchmark outputs.

    python3 perfbench/compare.py BASE NEW

BASE and NEW each hold the stdout of one or more `run.py` runs, appended
one after another (usually `--trace 1` runs, one or more per workload).
Runs of one workload are reduced to the median of each metric. For every
workload and metric, grouped by layer (the name before the first dot), it
prints the base and new medians, their difference and new/base, with the
number of runs behind each side.
"""
import json
import statistics
import sys
from collections import defaultdict


def load(path: str) -> dict:
    """workload -> metric -> (unit, [values]), from a file of run outputs."""
    runs = defaultdict(lambda: defaultdict(lambda: ["", []]))
    workload = None
    with open(path) as f:
        for line in f:
            if not line.startswith("{"):
                continue
            obj = json.loads(line)
            if "provenance" in obj:
                workload = obj["provenance"]["workload"]
            elif "metrics" in obj and workload is not None:
                for name, m in obj["metrics"].items():
                    runs[workload][name][0] = m["unit"]
                    runs[workload][name][1].append(m["value"])
                workload = None
    return runs


def report(base: dict, new: dict) -> str:
    out = []
    for w in sorted(set(base) | set(new)):
        out.append(f"== {w}")
        out.append(f"{'metric':34s} {'base':>12s} {'new':>12s} {'new-base':>12s}  new/base")
        for name in sorted(set(base.get(w, {})) | set(new.get(w, {}))):
            b = base.get(w, {}).get(name)
            n = new.get(w, {}).get(name)
            if not b or not n:
                out.append(f"{name:34s} only in {'new' if n else 'base'}")
                continue
            unit = b[0]
            bm, nm = statistics.median(b[1]), statistics.median(n[1])
            ratio = f"{nm / bm:.3f} (base {bm:.4g} {unit}, {len(b[1])} vs {len(n[1])} runs)" \
                if bm else f"n/a (base 0 {unit})"
            out.append(f"{name:34s} {bm:12.4g} {nm:12.4g} {nm - bm:+12.4g}  {ratio}")
    return "\n".join(out)


if __name__ == "__main__":
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    print(report(load(sys.argv[1]), load(sys.argv[2])))
