#!/usr/bin/env python3
"""Run the benchmark over several seeds and collect the results.

    python3 perfbench/sweep.py --out <results.jsonl> [--seeds 1-10]
        [--workloads boost_wide,catalog] [--trace 0|1|both]

Run from the root of a checkout. Each run appends one line
{"workload", "seed", "trace", "result"} to --out, then the spread of every
metric is printed: median and the quartile distance as a share of the
median, against the metric's bound in BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values):
    """(median, (q3 - q1) / median) as the contract computes them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


def load(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def report(rows, spec):
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    for w in sorted({r["workload"] for r in rows}):
        for trace in (0, 1):
            got = [r["result"] for r in rows if r["workload"] == w and r["trace"] == trace]
            if len(got) < 2:
                continue
            bad = sum(r["failed"] for r in got)
            print(f"{w} trace={trace} runs={len(got)} failed={bad}")
            for name in got[0]["metrics"]:
                vals = [r["metrics"][name]["value"] for r in got]
                med, sp = spread(vals) if len(vals) >= 2 else (vals[0], 0.0)
                b = bounds.get(name) if trace == 0 else None
                flag = "" if b is None else ("  ok" if sp < b / 3 else "  WIDE" if sp < b else "  OVER")
                print(f"  {name:40s} median {med:12.4f}  spread {sp:6.3f}"
                      + (f"  bound {b}{flag}" if b is not None else ""))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads")
    ap.add_argument("--trace", default="0", choices=["0", "1", "both"])
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    traces = [0, 1] if a.trace == "both" else [int(a.trace)]
    for w in workloads:
        for trace in traces:
            for s in seeds(a.seeds):
                cmd = [sys.executable, *spec["command"][1:], "--workload", w, "--seed", str(s),
                       "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
                t0 = time.monotonic()
                p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
                wall = time.monotonic() - t0
                if p.returncode != 0:
                    sys.exit(f"{w} seed {s}: exit {p.returncode}")
                result = json.loads(p.stdout.strip().splitlines()[-1])
                with open(a.out, "a") as f:
                    f.write(json.dumps({"workload": w, "seed": s, "trace": trace,
                                        "wall_s": round(wall, 1), "result": result}) + "\n")
                print(f"{w} seed={s} trace={trace} failed={result['failed']} "
                      f"wall={wall:.1f}s", flush=True)
    report(load(a.out), spec)


if __name__ == "__main__":
    main()
