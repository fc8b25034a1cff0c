#!/usr/bin/env python3
"""Self-test of the benchmark at tiny size (PERFBENCH_SIZE=tiny).

1. Inputs: the same seed writes byte-identical inputs and the same
   query_mix order; another seed changes both.
2. Every workload, untraced and traced, prints exactly the metrics that
   BENCHMARK.json names, with their units, and checks out correct.
3. Every correctness gate fails when fed a wrong answer: the query_mix
   twins against a star schema of another scale factor, the ingest check
   against a tampered manifest, and the stream check against a slice made
   from another seed.

Usage (from the repository root): python3 perfbench/selftest.py
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys

os.environ["PERFBENCH_SIZE"] = "tiny"
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import datagen  # noqa: E402
import oracle   # noqa: E402
import run      # noqa: E402

WORK = os.path.abspath(os.path.join(".bench_build", "selftest"))
WORKLOADS = ["iot_ingest", "query_mix", "stream_stateful"]
failures = []


def expect(cond, what):
    print(("ok    " if cond else "FAIL  ") + what)
    if not cond:
        failures.append(what)


def tree_digest(d):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(d)):
        for fn in sorted(files):
            p = os.path.join(root, fn)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def inputs_reproduce():
    for w in WORKLOADS:
        digests = []
        for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
            work = os.path.join(WORK, f"inputs-{w}-{tag}")
            shutil.rmtree(work, ignore_errors=True)
            dirs, _, _ = run.make_inputs(w, seed, work)
            digests.append(tree_digest(dirs[0]))
        expect(digests[0] == digests[1], f"{w}: same seed, identical inputs")
        expect(digests[0] != digests[2], f"{w}: other seed, different inputs")
    pool = run.load_pool()
    s7 = [e["name"] for e in run.sample_queries(7, pool)]
    s8 = [e["name"] for e in run.sample_queries(8, pool)]
    expect(s7 == [e["name"] for e in run.sample_queries(7, pool)], "query_mix: same seed, same mix and order")
    expect(s7 != s8 and sorted(s7) == sorted(s8), "query_mix: other seed, same mix in another order")


def metrics_printed():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    for w in WORKLOADS:
        for trace in (0, 1):
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", "7", "--seconds", "1", "--trace", str(trace)],
                               capture_output=True, text=True)
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                expect(False, f"{w} trace={trace}: exit {r.returncode}\n{r.stderr[-2000:]}")
                continue
            res = json.loads(lines[-1])
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(set(res) == {"correct", "attempted", "failed", "metrics"},
                   f"{w} trace={trace}: result keys")
            expect(got == want[trace], f"{w} trace={trace}: metrics and units as in BENCHMARK.json")
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{w} trace={trace}: correct ({json.loads(lines[-2])['detail']['problems']})")


def gates_fail_on_wrong_answers():
    runs = os.path.join(".bench_build", "runs")
    # query_mix: the same dumps against a star schema of another scale factor
    res = json.load(open(os.path.join(runs, "query_mix-0", "result.json")))
    names = json.load(open(os.path.join(res["check_dir"], "oracle_sql.json")))
    other = os.path.join(WORK, "other_sf")
    datagen.star_schema(other, 7, run.SF * 2)
    cmp = oracle.compare(other, res["check_dir"], sorted(names))
    expect(all(v is not None for v in cmp.values()),
           f"query_mix gate: mismatched SF fails every twin ({sum(v is not None for v in cmp.values())}/{len(cmp)})")
    # iot_ingest: a tampered manifest
    res = json.load(open(os.path.join(runs, "iot_ingest-0", "result.json")))
    manifest = json.load(open(os.path.join(runs, "iot_ingest-0", "data2", "manifest.json")))
    expect(not run.check_ingest(res, manifest), "iot_ingest gate: passes on the true manifest")
    for key in ("good", "dead_letter", "above_threshold", "fahrenheit_cents", "located"):
        expect(run.check_ingest(res, dict(manifest, **{key: manifest[key] + 1})),
               f"iot_ingest gate: tampered manifest ({key}) fails")
    # stream_stateful: a slice that was not the one fed
    res = json.load(open(os.path.join(runs, "stream_stateful-0", "result.json")))
    other = os.path.join(WORK, "other_slice")
    datagen.stream_slice(other, 8, **run.STREAM)
    bad = run.check_stream(res, other)
    expect(set(bad) == set(run.STREAM_OPS), f"stream_stateful gate: other slice fails every operator ({sorted(bad)})")


if __name__ == "__main__":
    os.makedirs(WORK, exist_ok=True)
    inputs_reproduce()
    metrics_printed()
    gates_fail_on_wrong_answers()
    print(f"{len(failures)} failure(s)")
    sys.exit(1 if failures else 0)
