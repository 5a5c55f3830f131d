"""Derive and freeze the workload pools.

    python3 perfbench/classify.py

Lists `SparkEntry.queries`, sets the ingest/parser rows apart (the pool is
every other row), times one cold execution of every pool query at each
workload's scale (the costs only pick the samples, see run.py), and writes
perfbench/pools.json plus the one-line "why" of each workload into
BENCHMARK.json. Run it only in a change that redefines the benchmark: the
pools are frozen so that a query later removed from the registry counts as
failed instead of shrinking its workload.
"""
import json
import os
import re
import sys

import harness

# The media decoders registered before the ingest block (q321-q399).
EARLY_DECODERS = {37, 74, 75, 213, 221, 232, 233, 234}

WHY = {
    "query_mix": "cost-quantile sample of the non-ingest registry at sf0.1: "
                 "construction, executor and shuffle all do real work",
    "query_floor": "the query_mix pool at sf0.001: per-query fixed cost "
                   "(construction jobs, Catalyst, scheduling) dominates",
}


def is_ingest(name):
    n = int(re.match(r"q(\d+)_", name).group(1))
    return n >= 321 or n in EARLY_DECODERS


def cold_costs(classpath, names, sf):
    """Latency of one cold execution of each query, in one JVM."""
    out = os.path.join(harness.WORK, "classify", f"sf{sf}")
    os.makedirs(out, exist_ok=True)
    qfile = os.path.join(out, "queries.txt")
    with open(qfile, "w") as f:
        f.write("\n".join(names) + "\n")
    rc = harness.java(classpath, [harness.data(sf)[0], qfile, out, "0",
                                  str(harness.cores()), "0"], os.path.join(out, "log"))
    if rc != 0:
        harness.fail(f"classification run at sf{sf} failed, see {out}/log")
    costs = {}
    for r in harness.records(out):
        if r["kind"] == "query":
            if r["error"]:
                harness.fail(f"{r['name']} fails at sf{sf}: {r['error']}")
            costs[r["name"]] = round((r["end"] - r["start"]) / 1000.0, 3)
    return costs


def main():
    classpath = harness.build()
    names = harness.runner(classpath, ["--list"]).split()
    mix = sorted(n for n in names if not is_ingest(n))
    pools = {
        "query_mix": {"sf": "0.1", "pool": cold_costs(classpath, mix, "0.1")},
        "query_floor": {"sf": "0.001", "pool": cold_costs(classpath, mix, "0.001")},
    }
    for w, spec in pools.items():
        spec["why"] = WHY[w]
    spec_path = os.path.join(harness.HERE, "pools.json")
    with open(spec_path, "w") as f:
        json.dump(pools, f, indent=1, sort_keys=True)
        f.write("\n")
    bench_path = os.path.join(harness.ROOT, "BENCHMARK.json")
    with open(bench_path) as f:
        bench = json.load(f)
    bench["workloads"] = [{"name": w, "why": WHY[w]} for w in pools]
    with open(bench_path, "w") as f:
        json.dump(bench, f, indent=2)
        f.write("\n")
    print(f"pool: {len(mix)} of {len(names)} registry rows")


if __name__ == "__main__":
    sys.exit(main())
