#!/usr/bin/env python3
"""Rank the per-layer metrics that moved between two traced benchmark runs.

Usage:
    python3 perfbench/trace_diff.py <before> <after> [--top N]

Each side is a traced result file (.bench_build/traces/<workload>-seed<n>.json,
written by `run.py --trace 1`) or a directory of them. Several seeds of one
workload on a side are reduced to their per-metric median. For every workload
present on both sides, the end-to-end metrics are listed, then the per-layer
metrics ranked by relative change, largest first, so a perf change can name
the layer that moved.
"""
import argparse
import glob
import json
import os
import statistics
import sys


def load(path):
    """{workload: {"end_to_end": {k: median}, "per_layer": {k: median}, "n": runs}}"""
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    runs = {}
    for f in files:
        if f.endswith(".spans.json"):
            continue
        with open(f) as fh:
            r = json.load(fh)
        if "per_layer" not in r:
            continue
        runs.setdefault(r["info"]["workload"], []).append(r)
    out = {}
    for wl, rs in runs.items():
        out[wl] = {"n": len(rs)}
        for part in ("end_to_end", "per_layer"):
            keys = rs[0][part].keys()
            out[wl][part] = {k: statistics.median(r[part][k] for r in rs
                                                  if r[part].get(k) is not None)
                             for k in keys}
    return out


def rel(a, b):
    if a == b:
        return 0.0
    if a == 0:
        return float("inf")
    return (b - a) / abs(a)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--top", type=int, default=15)
    a = ap.parse_args()
    before, after = load(a.before), load(a.after)
    common = sorted(set(before) & set(after))
    if not common:
        sys.exit("no workload traced on both sides")
    for wl in common:
        b, c = before[wl], after[wl]
        print(f"== {wl}  (runs: {b['n']} before, {c['n']} after)")
        for k, v in b["end_to_end"].items():
            w = c["end_to_end"].get(k)
            if w is not None:
                print(f"   e2e  {k:34s} {v:14.4g} -> {w:14.4g}  {rel(v, w):+8.1%}")
        moved = [(k, v, c["per_layer"][k]) for k, v in b["per_layer"].items()
                 if k in c["per_layer"] and rel(v, c["per_layer"][k]) != 0.0]
        moved.sort(key=lambda x: -abs(rel(x[1], x[2])))
        for k, v, w in moved[:a.top]:
            print(f"   layer {k:33s} {v:14.4g} -> {w:14.4g}  {rel(v, w):+8.1%}")
        if not moved:
            print("   no per-layer metric moved")


if __name__ == "__main__":
    main()
