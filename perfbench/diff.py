#!/usr/bin/env python3
"""Counter diff of two sets of benchmark artifacts.

Usage:
    python3 perfbench/diff.py <before> <after>

Each side is an artifact file or a directory of them (as written by
run.py to .bench_build/perfbench/artifacts/). Artifacts are paired by
workload, seed and trace flag; only traced artifacts carry counters.
For each pair it compares the counters host load cannot move, per
workload (the median over the run's traced units) and per query (the
median over its traced passes): jobs, stages, tasks, exchanges, sorts,
scans, rows, pins, shuffle, spill, input, sink and pinned bytes.

Counts must match exactly. Byte counters may differ by BYTES_TOL of
the larger value, because compressed shuffle blocks and cached-block
size estimates depend on row order, which the scheduler does not fix.
Prints one line per changed counter and exits 1 if any changed.
"""
import glob
import json
import os
import statistics
import sys

EXACT = [
    "executor.jobs", "executor.stages", "executor.tasks",
    "plans.exchanges", "plans.sorts", "plans.scans", "plans.scan_rows",
    "registry.construct_jobs", "operators.materialize.pins",
    "sources.sink_tasks", "functions.tokens", "operators.wordscore.distinct_words",
    "rows",
]
BYTES = [
    "executor.shuffle_write_bytes", "executor.shuffle_read_bytes", "executor.spill_bytes",
    "operators.materialize.pinned_bytes", "sources.input_bytes", "sources.sink_bytes",
]
BYTES_TOL = 0.02


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    out = {}
    for f in files:
        with open(f) as fh:
            a = json.load(fh)
        out[(a["workload"], a["seed"], a["trace"])] = a
    return out


def medians(units):
    keys = {k for u in units for k in u}
    return {k: statistics.median(u[k] for u in units if k in u) for k in keys}


def changed(name, a, b):
    if name in BYTES:
        return abs(a - b) > BYTES_TOL * max(abs(a), abs(b), 1.0)
    return a != b


def compare(scope, a, b):
    lines = []
    for name in EXACT + BYTES:
        if name in a and name in b and changed(name, a[name], b[name]):
            lines.append(f"{scope} {name}: {a[name]:g} -> {b[name]:g}")
        elif (name in a) != (name in b):
            lines.append(f"{scope} {name}: present on one side only")
    return lines


def main():
    if len(sys.argv) != 3:
        sys.exit("usage: diff.py <before> <after>")
    before, after = load(sys.argv[1]), load(sys.argv[2])
    pairs = sorted(k for k in before.keys() & after.keys() if k[2])
    if not pairs:
        sys.exit("diff: no traced artifacts with the same workload and seed on both sides")
    flagged = []
    for key in pairs:
        w, seed, _ = key
        x, y = before[key], after[key]
        flagged += compare(f"{w} seed {seed}", medians(x["units"]), medians(y["units"]))
        for q in sorted(x["queries"].keys() | y["queries"].keys()):
            if q not in x["queries"] or q not in y["queries"]:
                flagged.append(f"{w} seed {seed} query {q}: present on one side only")
                continue
            flagged += compare(f"{w} seed {seed} query {q}", medians(x["queries"][q]),
                               medians(y["queries"][q]))
    for line in flagged:
        print(line)
    print(f"diff: {len(pairs)} artifact pairs, {len(flagged)} counter changes")
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
