#!/usr/bin/env python3
"""Diff two result sets of the benchmark, one row per workload.

    python3 perfbench/compare.py <base.jsonl>[,<more.jsonl>...] <new.jsonl>[,...]

Each side is one or more comma-separated files written by sweep.py. Counters of the traced runs are compared
first, seed by seed, and must be equal exactly: with the same inputs they
repeat run to run, so any change is a change of the program. Then each end-to-end metric's median in <new> is compared with
<base> against the metric's bound in BENCHMARK.json. A metric whose own
spread (quartile distance over median, in either set) exceeds its bound is
reported as unresolved rather than as unchanged. Where both sets hold traced
and untraced runs, the tracing overhead (traced minus untraced run_s) is
printed per workload. Exits 1 when a counter differs or a metric regresses.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from sweep import load, spread  # noqa: E402

# exact counters, from the traced runs
COUNTERS = ("ml.fit.jobs", "streaming.apply_batch.jobs", "streaming.apply_batch.stages",
            "streaming.apply_batch.tasks", "plans.exchanges", "operators.index_files")


def values(rows, workload, trace, name):
    return [r["result"]["metrics"][name]["value"] for r in rows
            if r["workload"] == workload and r["trace"] == trace
            and name in r["result"]["metrics"]]


def by_seed(rows, workload, name):
    """Traced counter values per seed: {seed: set of values}."""
    out = {}
    for r in rows:
        if r["workload"] == workload and r["trace"] == 1 and name in r["result"]["metrics"]:
            out.setdefault(r["seed"], set()).add(r["result"]["metrics"][name]["value"])
    return out


def counter_names(rows, workload):
    names = set()
    for r in rows:
        if r["workload"] == workload and r["trace"] == 1:
            names |= {n for n in r["result"]["metrics"]
                      if n in COUNTERS or (n.startswith("queries.") and n.endswith(".jobs"))}
    return sorted(names)


def main():
    base, new = ([r for p in arg.split(",") for r in load(p)] for arg in sys.argv[1:3])
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    bad = False
    for w in [x["name"] for x in spec["workloads"]]:
        notes = []
        for name in counter_names(base, w):
            a, b = by_seed(base, w, name), by_seed(new, w, name)
            for seed in sorted(set(a) | set(b)):
                va, vb = a.get(seed, set()), b.get(seed, set())
                if len(va) > 1 or len(vb) > 1:
                    notes.append(f"{name} does not repeat at seed {seed}")
                    bad = True
                elif va and vb and va != vb:
                    notes.append(f"{name} {va.pop():g} -> {vb.pop():g} at seed {seed}")
                    bad = True
        for m in spec["end_to_end"]:
            a, b = values(base, w, 0, m["name"]), values(new, w, 0, m["name"])
            if len(a) < 2 or len(b) < 2:
                continue
            (ma, sa), (mb, sb) = spread(a), spread(b)
            change = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            if max(sa, sb) > m["bound"] and m["name"] != "setup_s":
                notes.append(f"{m['name']} unresolved (spread {max(sa, sb):.3f})")
            elif change > m["bound"]:
                notes.append(f"{m['name']} worse by {change:.1%} ({ma:.4g} -> {mb:.4g})")
                bad = True
            elif -change > max(sa, sb):
                notes.append(f"{m['name']} better by {-change:.1%} ({ma:.4g} -> {mb:.4g})")
        for label, rows in (("base", base), ("new", new)):
            t0, traced = values(rows, w, 0, "run_s"), values(rows, w, 1, "traced.run_s")
            if t0 and traced:
                notes.append(f"{label} tracing overhead "
                             f"{statistics.median(traced) - statistics.median(t0):+.3f} s")
        print(f"{w:14s} " + ("; ".join(notes) if notes else "no change"))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
