"""Steadiness check: two sets of runs of the same code.

    python3 perfbench/steady.py [--runs 10] [--workloads a,b] [--first-seed 1]
    python3 perfbench/steady.py --traced [--workloads a,b] [--first-seed 1]

Untraced: for every workload, runs `--runs` seeds twice over (set A takes
seeds first..first+runs-1, set B the next `--runs`) and prints for each
end-to-end metric both medians, each set's quartile spread as a share of
its median, and whether set B is within the metric's bound of set A and the
spread within a third of the bound.

Traced: runs each workload's first seed once untraced and twice traced,
checks that every count repeats exactly (naming any that does not), prints
the per-layer metrics of the first traced run, the tracing overhead (the
traced run's end-to-end metrics against the untraced run's) and the
layer -> end-to-end mapping of layers.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

import harness
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, seed, seconds, traced):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(traced))]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise SystemExit(f"{' '.join(cmd)} exited with {r.returncode}")
    out = json.loads(lines[-1])
    if not out["correct"]:
        print("\n".join(l for l in lines if "FAILED" in l))
    return out


def spread(xs):
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def untraced(bench, workloads, runs, first):
    metrics = bench["end_to_end"]
    verdict = True
    for w in workloads:
        sets = []
        for s in range(2):
            seeds = range(first + s * runs, first + (s + 1) * runs)
            sets.append([run(w, seed, bench["run_seconds"], False) for seed in seeds])
        att = sum(o["attempted"] for o in sets[0] + sets[1])
        fail = sum(o["failed"] for o in sets[0] + sets[1])
        print(f"{w}: failed {fail} of {att} executions")
        for m in metrics:
            a = [o["metrics"][m["name"]]["value"] for o in sets[0]]
            b = [o["metrics"][m["name"]]["value"] for o in sets[1]]
            ma, mb = statistics.median(a), statistics.median(b)
            worse = (mb / ma - 1) if m["better"] == "lower" else (ma / mb - 1)
            sa, sb = spread(a), spread(b)
            agree = worse <= m["bound"]
            steady = m["name"] == "setup_s" or max(sa, sb) <= m["bound"] / 3
            verdict &= agree and steady
            print(f"  {m['name']:<20} A {ma:10.4f}  B {mb:10.4f} {m['unit']:<6}"
                  f" B worse by {100 * worse:+6.1f}%  spread A {100 * sa:5.1f}%"
                  f" B {100 * sb:5.1f}%  bound {100 * m['bound']:.0f}%"
                  f"  {'agree' if agree else 'DISAGREE'}{'' if steady else ' UNSTEADY'}")
    return verdict


def traced(bench, workloads, first):
    layers = harness.load_json("layers.json")
    verdict = True
    for w in workloads:
        plain = run(w, first, bench["run_seconds"], False)
        one, two = (run(w, first, bench["run_seconds"], True) for _ in range(2))
        differ = [c for c in tracing.COUNTS
                  if one["metrics"][c]["value"] != two["metrics"][c]["value"]]
        verdict &= not differ
        print(f"{w} seed {first}: counts "
              + (f"DO NOT REPEAT: {', '.join(differ)}" if differ else "repeat exactly"))
        for k, v in one["metrics"].items():
            note = "" if k not in differ else f"  (second run {two['metrics'][k]['value']})"
            print(f"  {k:<26} {v['value']:16.4f} {v['unit']}{note}")
        runs = os.path.join(harness.WORK, "runs")
        with open(os.path.join(runs, f"{w}-{first}-t1", "result.json")) as f:
            traced_e2e = json.load(f)["e2e"]
        print("  tracing overhead, second traced run vs the untraced run: " + ", ".join(
            f"{k} {v['value']:.4f} -> {traced_e2e[k]:.4f} ({100 * (traced_e2e[k] / v['value'] - 1):+.1f}%)"
            for k, v in plain["metrics"].items()))
    print("layer -> end-to-end metric it should move (workloads); flat on:")
    for name, l in layers.items():
        moves = "; ".join(f"{m} ({', '.join(ws)})" for m, ws in l["moves"].items())
        print(f"  {name:<10} {moves}; flat on: {', '.join(l['flat_on']) or '-'}")
    return verdict


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads")
    ap.add_argument("--traced", action="store_true")
    a = ap.parse_args()
    bench = harness.load_json(os.path.join("..", "BENCHMARK.json"))
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    ok = (traced(bench, workloads, a.first_seed) if a.traced
          else untraced(bench, workloads, a.runs, a.first_seed))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
