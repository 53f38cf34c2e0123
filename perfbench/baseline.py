#!/usr/bin/env python3
"""Records a baseline: two independent sets of untraced runs, ten seeds
per workload each, from the root of a checkout:

    python3 perfbench/baseline.py          # writes perfbench/baseline.json

For every workload and end-to-end metric it writes each set's median,
quartiles (statistics.quantiles, n=4) and spread (interquartile distance
over the median), and how far the second set's median lies from the
first's, against the metric's bound in BENCHMARK.json, and how long each
run took. Sets run one
after the other; inside a set, runs go workload by workload. Then three
traced runs per workload (seeds 1-3) give each per-layer metric's median,
which shows where each workload's time goes.
"""
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SETS = 2
SEEDS = range(1, 11)
TRACED_SEEDS = range(1, 4)


def bench(spec, workload, seed, trace):
    """One run's metrics and its duration in seconds, build check included."""
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                        "--trace", str(trace)], cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    res = json.loads(p.stdout.strip().splitlines()[-1])
    if not res["correct"]:
        sys.exit(f"baseline: {workload} seed {seed} failed {res['failed']} of {res['attempted']}")
    print(f"{workload} seed {seed} trace {trace} done", file=sys.stderr, flush=True)
    return {m: v["value"] for m, v in res["metrics"].items()}, time.time() - t0


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    sets, durations = [], []
    for k in range(SETS):
        values, took = {}, {}
        for w in (x["name"] for x in spec["workloads"]):
            for seed in SEEDS:
                metrics, secs = bench(spec, w, seed, 0)
                for m, v in metrics.items():
                    values.setdefault(w, {}).setdefault(m, []).append(v)
                took.setdefault(w, []).append(round(secs, 1))
        summary = {}
        for w, ms in values.items():
            summary[w] = {}
            for m, vs in ms.items():
                q1, med, q3 = statistics.quantiles(vs, n=4)
                summary[w][m] = {"median": statistics.median(vs), "q1": q1, "q3": q3,
                                 "spread": (q3 - q1) / statistics.median(vs), "values": vs}
        sets.append(summary)
        durations.append(took)
    drift = {w: {m: sets[-1][w][m]["median"] / sets[0][w][m]["median"] - 1 for m in sets[0][w]}
             for w in sets[0]}
    layers = {}
    for w in (x["name"] for x in spec["workloads"]):
        runs = [bench(spec, w, seed, 1)[0] for seed in TRACED_SEEDS]
        layers[w] = {m: statistics.median(r[m] for r in runs) for m in runs[0]}
    out = {"host": f"{os.cpu_count()} cores, local[4]", "run_seconds": spec["run_seconds"],
           "seeds": list(SEEDS), "bounds": bounds, "sets": sets, "median_drift": drift,
           "run_durations_s": durations, "traced_seeds": list(TRACED_SEEDS),
           "layer_medians": layers}
    with open(os.path.join(BENCH, "baseline.json"), "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    for w in sets[0]:
        for m in sets[0][w]:
            cells = "  ".join(f"set{i + 1} med {s[w][m]['median']:.4g} spread {s[w][m]['spread']:.3f}"
                              for i, s in enumerate(sets))
            print(f"{w:15s} {m:12s} {cells}  drift {drift[w][m]:+.3f} (bound {bounds[m]})")


if __name__ == "__main__":
    main()
