"""The repo benchmark: one closed-loop run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds graft and the runner
from source and generates the tables; later runs reuse both. One client
issues the workload's queries one after another on a local[nproc] session,
each built with `SparkEntry.queries(name)` and run with the noop-write
action graft.Bench times. The sample comes from the
frozen pool in perfbench/pools.json and the seed draws its order:

  * the pool is sorted by its frozen cold cost, its cheapest COVER share is
    cut into k equal ranges, with k as large as one query per range fits in
    S seconds (at least MIN_K), and the sample is the query at the middle of
    each range. The costliest fifth (up to a minute a query at sf0.1) is left
    out because with it a run holds five queries and its median is one
    query's time. Drawing the sample from the seed as well moved the median
    of so few queries by more than the bounds, so only the order is
    seed-drawn.

Before the first timed query every distinct query runs once untimed; that
execution's result is compared with the DuckDB oracle, and it is the
per-query warm-up graft.Bench runs, so every timed execution starts with
warm code and, after the untimed isolation, cold caches. `setup_s` runs
from process start to the first timed query and so covers session creation
and this warm-up pass. Prints a report, then one JSON line: correct, attempted,
failed and the end-to-end metrics (trace 0) or the per-layer metrics
(trace 1, with spans written to the run directory).
"""
import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time

sys.dont_write_bytecode = True
import harness  # noqa: E402
import oracle  # noqa: E402
import tracing  # noqa: E402

MIN_K = 5        # cost quantiles a sample covers at least
COVER = 0.8      # share of the pool, cheapest first, the sample is drawn from


def plan(pools, workload, seed, seconds):
    """The ordered query list of one run."""
    cost = pools[workload]["pool"]
    ranked = sorted(cost, key=lambda n: (cost[n], n))
    ranked = ranked[:int(COVER * len(ranked))]

    def sample(k):  # the query at the middle of each of k equal cost ranges
        return [ranked[int((j + 0.5) * len(ranked) / k)] for j in range(k)]

    k = MIN_K
    while k < len(ranked) and sum(cost[n] for n in sample(k + 1)) <= seconds:
        k += 1
    queries = sample(k)
    random.Random(f"{workload}:{seed}").shuffle(queries)
    return queries


def percentile(xs, p):
    xs = sorted(xs)
    pos = p * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_p(n):
    """Highest percentile, at most p90, with at least ten samples beyond it."""
    return max(0.5, min(0.9, (n - 10) / n)) if n else 0.5


def end_to_end(recs, spawn_ms):
    qs = [r for r in recs if r["kind"] == "query"]
    ok = [(r["end"] - r["start"]) / 1e3 for r in qs if not r["error"]]
    wall = sum(r["end"] - r["start"] for r in qs) / 1e3
    if not ok:
        return {}
    return {
        "setup_s": (min(r["start"] for r in qs) - spawn_ms) / 1e3,
        "query_s_p50": statistics.median(ok),
        "query_s_p90": percentile(ok, tail_p(len(ok))),
        "queries_per_min": 60.0 * len(ok) / wall,
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    pools = harness.load_json("pools.json")
    bench = harness.load_json(os.path.join("..", "BENCHMARK.json"))
    units = {m["name"]: m["unit"] for sec in ("end_to_end", "per_layer") for m in bench[sec]}
    if a.workload not in pools:
        harness.fail(f"unknown workload {a.workload}; known: {', '.join(pools)}")
    classpath = harness.build()
    sf = pools[a.workload]["sf"]
    data_dir, data_hash = harness.data(sf)
    names = plan(pools, a.workload, a.seed, a.seconds)
    cores = harness.cores()

    run_dir = os.path.join(harness.WORK, "runs", f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    qfile = os.path.join(run_dir, "queries.txt")
    with open(qfile, "w") as f:
        f.write("\n".join(names) + "\n")
    spawn_ms = time.time() * 1e3
    rc = harness.java(classpath, [data_dir, qfile, run_dir, str(a.trace), str(cores), "1"],
                      os.path.join(run_dir, "log"))
    if rc != 0:
        harness.fail(f"runner exited with {rc}, see {run_dir}/log")
    recs = harness.records(run_dir)

    # output check: an exception or a mismatch fails every execution of the query
    orc = oracle.Oracle(data_dir, data_hash, os.path.join(harness.WORK, "oracle"))
    sqls = {r["name"]: r["sql"] for r in recs if r["kind"] == "oracle"}
    bad = {r["name"]: r["error"] for r in recs if r["kind"] == "query" and r["error"]}
    for r in recs:
        if r["kind"] == "check" and r["name"] not in bad:
            why = r["error"] or orc.check(sqls.get(r["name"]),
                                          os.path.join(run_dir, "check", r["name"]))
            if why:
                bad[r["name"]] = why
    shutil.rmtree(os.path.join(run_dir, "check"), ignore_errors=True)
    attempted = len(names)
    failed = sum(1 for n in names if n in bad)

    e2e = end_to_end(recs, spawn_ms)
    done = [(r["name"], (r["end"] - r["start"]) / 1e3)
            for r in recs if r["kind"] == "query" and not r["error"]]
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump({"e2e": e2e, "latency": done, "failed": bad}, f, indent=1)

    n_ok = len(done)
    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace}: {attempted} executions "
          f"of {len(set(names))} queries at sf{sf}, local[{cores}]")
    for k, v in e2e.items():
        note = ""
        if k == "query_s_p50":
            note = f"median of {n_ok}"
        elif k == "query_s_p90":
            note = f"p{round(100 * tail_p(n_ok))} of {n_ok}: highest percentile with 10 beyond"
        print(f"  {k:<22} {v:12.4f} {units[k]:<6} {note}")
    print(f"  {'failed_frac':<22} {failed / attempted:12.4f} ratio  "
          f"{failed} of {attempted} executions")
    for n, why in sorted(bad.items()):
        print(f"  FAILED {n}: {why}")

    if a.trace:
        spans = tracing.build(recs)
        tracing.write(spans, os.path.join(run_dir, "spans.jsonl"))
        metrics = tracing.layer_metrics(recs, spans, cores)
        untraced = os.path.join(harness.WORK, "runs", f"{a.workload}-{a.seed}-t0", "result.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["e2e"]
            print("  tracing overhead vs the untraced run of this seed: " + ", ".join(
                f"{k} {100 * (e2e[k] / base[k] - 1):+.1f}%" for k in e2e if base.get(k)))
        else:
            print("  tracing overhead: no untraced run of this seed to compare with")
        for k, v in metrics.items():
            print(f"  {k:<26} {v:16.4f} {units[k]}")
    else:
        metrics = e2e
    wanted = [m["name"] for m in bench["per_layer" if a.trace else "end_to_end"]]
    missing = [k for k in wanted if k not in metrics]
    if missing:
        harness.fail(f"no value for {', '.join(missing)}")
    print(json.dumps({
        "correct": not bad, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in wanted}}))


if __name__ == "__main__":
    sys.exit(main())
