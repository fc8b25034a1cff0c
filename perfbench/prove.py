#!/usr/bin/env python3
"""Steadiness and tracing-overhead check of the benchmark.

For each workload, runs `run.py` untraced on `--seeds` seeds and reports,
per end-to-end metric, the median and the quartile spread
(Q3 - Q1) / median as `statistics.quantiles(values, n=4)` gives it, next
to a third of the metric's bound from BENCHMARK.json. With `--traced K`
it also makes K traced runs per workload and reports the tracing overhead
as traced `trace.op_p50_ms` over untraced `op_p50_ms` on the same seeds.
Every result line is appended to `.bench_build/prove.jsonl`.

Usage (from the repository root):
    python3 perfbench/prove.py [--workloads a,b] [--seeds 10] [--first-seed 1] [--traced 0]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(workload, seed, seconds, trace):
    r = subprocess.run([sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
                        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace)], capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {r.returncode}\n{r.stderr[-3000:]}")
    res = json.loads(lines[-1])
    with open(os.path.join(".bench_build", "prove.jsonl"), "a") as f:
        f.write(json.dumps({"workload": workload, "seed": seed, "trace": trace, "result": res,
                            "detail": json.loads(lines[-2])["detail"]}) + "\n")
    return res


def main():
    bench = json.load(open("BENCHMARK.json"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--traced", type=int, default=0)
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seeds = list(range(a.first_seed, a.first_seed + a.seeds))
    for w in a.workloads.split(","):
        runs = [run_once(w, s, bench["run_seconds"], 0) for s in seeds]
        bad = [r for r in runs if not r["correct"]]
        print(f"== {w}: {len(runs)} runs, {len(bad)} not correct")
        for m, bound in bounds.items():
            vals = [r["metrics"][m]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            flag = "ok " if spread < bound / 3 or m == "setup_s" else "WIDE"
            print(f"  {flag} {m:14s} median {med:12.3f}  spread {spread:6.3f}  (bound/3 {bound / 3:.3f})")
        if a.traced:
            base = {s: r["metrics"]["op_p50_ms"]["value"] for s, r in zip(seeds, runs)}
            ratios = [run_once(w, s, bench["run_seconds"], 1)["metrics"]["trace.op_p50_ms"]["value"]
                      / base[s] for s in seeds[:a.traced]]
            print(f"  tracing overhead (traced/untraced op_p50 - 1): median "
                  f"{statistics.median(ratios) - 1:+.3f} over {len(ratios)} seeds")


if __name__ == "__main__":
    main()
