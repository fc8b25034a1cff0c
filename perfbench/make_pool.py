"""Rebuilds `pool.json`, the candidate entries `query_mix` samples from.

Runs every non-stream entry of `SparkEntry.queries` once on the
benchmark's generated star schema for each seed given, compares each
result with its DuckDB twin, and keeps the entries that pass on every
seed (an entry without a twin is kept when its `_check` twin passes).
Each kept entry carries its family (the name prefix), its time in the
committed per-query quiet record, and its warm (second-run) time in these
sweeps (`ms`, at the benchmark's own scale and core count; sweeps cached
from before warm timing count for correctness only), which the sampler
stratifies on. Run the sweeps on a quiet host: the times set the strata.

Usage (from the repository root):
    python3 perfbench/make_pool.py [seed ...]
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build        # noqa: E402
import datagen      # noqa: E402
import jvm          # noqa: E402
import oracle       # noqa: E402
from run import SF, CORES, family  # noqa: E402


# The src_acid_* entries read the AcidQueries commit chains, whose warm-up
# costs more than every other warm-up together; repeated in each of a
# run's three set-ups it would dominate the run, so these entries stay out.
SKIP = ("src_acid_",)
# Entries whose result left their DuckDB twin on a generated schema the
# sweeps did not cover; the benchmark is no correctness gate, so they stay
# out of the mix and the divergence is reported instead.
DIVERGENT = {
    "sim_knn_lsh": "sim_knn_lsh_check values differ from DuckDB on the seed-105 schema",
}


def sweep(seed):
    """Time and check every entry on the schema of `seed` (cached per
    seed under .bench_build/pool-<seed>)."""
    work = os.path.abspath(os.path.join(".bench_build", f"pool-{seed}"))
    cached = os.path.join(work, "compare.json")
    if os.path.exists(cached):
        with open(cached) as f:
            c = json.load(f)
        return c["times"], c["compare"]
    data = os.path.join(work, "data")
    out = os.path.join(work, "sweep.json")
    t0 = time.time()
    if not os.path.exists(out):
        datagen.star_schema(data, seed, SF)
        code, _ = jvm.run(["--workload", "sweep", "--seconds", "0", "--trace", "0",
                           "--cores", str(CORES), "--work", work, "--data", data, "--out", out],
                          work, "sweep.log", 3600)
        if code != 0:
            raise SystemExit(f"sweep failed ({code}), see {work}/sweep.log")
    res = json.load(open(out))
    times = res["times"]
    cmp = oracle.compare(data, res["check_dir"], sorted(times))
    with open(cached, "w") as f:
        json.dump({"times": times, "compare": cmp}, f)
    print(f"seed {seed}: {len(times)} entries in {time.time() - t0:.0f} s, "
          f"{sum(v is None for v in cmp.values())} match their twin", file=sys.stderr)
    return times, cmp


def main():
    seeds = [int(s) for s in sys.argv[1:]] or [1, 2]
    build.build()
    quiet = json.load(open("BENCH_QUIET.json"))["queries"]
    runs = [sweep(s) for s in seeds]
    names = sorted(runs[0][0])
    pool = []
    for n in names:
        twin = n if n in runs[0][1] and runs[0][1][n] != "no DuckDB twin" else n + "_check"
        ok = all(t[n]["ok"] and c.get(twin, "missing") is None for t, c in runs)
        if ok and n in quiet and not n.startswith(SKIP) and n.removesuffix("_check") not in DIVERGENT:
            warm = [t[n]["warm_ms"] for t, _ in runs if "warm_ms" in t[n]]
            pool.append({"name": n, "family": family(n), "quiet_s": quiet[n], "check": twin,
                         "ms": round(sum(warm) / len(warm), 1)})
    rejected = {n: DIVERGENT.get(n.removesuffix("_check")) or [c.get(n) for _, c in runs]
                for n in names if n not in {p["name"] for p in pool}}
    json.dump({"seeds": seeds, "sf": SF, "cores": CORES, "entries": pool,
               "rejected": rejected}, open("perfbench/pool.json", "w"), indent=1)
    print(f"{len(pool)} of {len(names)} entries in the pool", file=sys.stderr)


if __name__ == "__main__":
    main()
