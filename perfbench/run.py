#!/usr/bin/env python3
"""Benchmark of the word-score pipeline and the query registry.

Usage, from the root of a checkout:
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program together with the benchmark's Scala sources (once per
source state), makes the workload's inputs from the seed, runs one JVM
that hosts the Spark driver and its local executors on local[4], checks
every output, and prints each metric with its unit. The last stdout line
is the result as one JSON object. Counters, per-query numbers and spans
go to .bench_build/perfbench/artifacts/<workload>-s<seed>-t<trace>.json.

Everything the run writes stays under .bench_build/ in the checkout.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")

# Yelp's star mix (1 to 5 stars), used by both pipeline workloads.
STAR_MIX = "0.15,0.08,0.11,0.22,0.44"

# Review count, vocabulary, Zipf exponent, tokens per review (min, max).
PIPELINES = {
    # Steep Zipf over a small vocabulary: the map-side combine keeps 5%
    # of two million tokens, so tokenize is the largest layer and the
    # shuffle and sort carry little.
    "ws_zipf": (20000, 50000, 1.1, 40, 160),
    # Flat Zipf over a vocabulary twice the token count: most words are
    # distinct, the combine keeps two thirds of the tokens, and group-by
    # and range sort carry most of the time.
    "ws_longtail": (4000, 800000, 0.6, 60, 140),
}

REGISTRY = {
    # One query per family at the smallest fixture size: per-query fixed cost.
    "registry_fixed": os.path.join(BENCH, "fixtures", "sf0.001"),
}

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "query_p50_s": "s", "query_p80_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "sources.scan_s": "s", "sources.sink_s": "s", "sources.sink_tasks": "count",
    "sources.input_bytes": "B", "sources.sink_bytes": "B",
    "functions.tokenize_s": "s", "functions.tokens": "count",
    "operators.wordscore.agg_s": "s", "operators.wordscore.combine_ratio": "ratio",
    "operators.wordscore.sort_s": "s", "operators.wordscore.distinct_words": "count",
    "operators.materialize.pins": "count", "operators.materialize.pinned_bytes": "B",
    "operators.materialize.release_s": "s",
    "registry.construct_s": "s", "registry.construct_jobs": "count",
    "plans.analysis_s": "s", "plans.optimize_s": "s", "plans.physical_s": "s",
    "plans.exchanges": "count", "plans.sorts": "count", "plans.scans": "count",
    "executor.jobs": "count", "executor.stages": "count", "executor.tasks": "count",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "executor.busy_share": "ratio", "executor.outside_jobs_s": "s",
    "executor.shuffle_write_bytes": "B", "executor.shuffle_read_bytes": "B",
    "executor.spill_bytes": "B", "executor.max_task_share": "ratio",
    "trace.overhead_pct": "%",
}

JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
            os.path.join(BENCH, "project")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(ROOT, "build.sbt")]
    for d in dirs:
        for base, subdirs, names in os.walk(d):
            subdirs[:] = sorted(x for x in subdirs if x != "target")
            files += [os.path.join(base, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the program (through its own build) and the benchmark; returns the classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        sys.exit("perfbench: the program's sources (src/main/scala) are not in this checkout")
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        cp = open(cp_file).read().strip()
        if os.path.isdir(cp.split(os.pathsep)[0]):
            return cp
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" +
        os.path.expanduser("~/.sbt/repositories"), "-Dsbt.offline=true",
        "-Dsbt.server.autostart=false", "-Xmx2g"])
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if p.returncode != 0:
        log(p.stdout[-4000:])
        sys.exit("perfbench: build failed")
    cp = [l for l in p.stdout.splitlines() if "scala-2.13/classes" in l and not l.startswith("[")]
    if not cp:
        log(p.stdout[-4000:])
        sys.exit("perfbench: build printed no classpath")
    with open(cp_file, "w") as fh:
        fh.write(cp[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"perfbench: built in {time.time() - t0:.0f} s")
    return cp[-1].strip()


def java(cp, *args, heap="3g", young="1g"):
    """A JVM command. The heap is committed in full and the young
    generation fixed, so that peak resident memory follows the program's
    retained data rather than the collector's sizing decisions."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return ["java", *opens, f"-Xms{heap}", f"-Xmx{heap}", f"-Xmn{young}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, *args]


def reviews(cp, workload, seed):
    """The seeded review input and its expected digest, generated once."""
    params = PIPELINES[workload]
    key = hashlib.sha256(repr((params, STAR_MIX)).encode()).hexdigest()[:12]
    out = os.path.join(WORK, "inputs", f"{workload}-s{seed}-{key}")
    if not os.path.isdir(out):
        os.makedirs(os.path.dirname(out), exist_ok=True)
        shutil.rmtree(out + ".tmp", ignore_errors=True)
        n, vocab, s, lo, hi = params
        subprocess.run(java(cp, "perfbench.Gen", out, str(seed), str(n), str(vocab), str(s),
                            str(lo), str(hi), STAR_MIX, heap="1g", young="256m"),
                       check=True, timeout=JVM_TIMEOUT_S)
    return out


def oracle_check(fixtures, oracle_dir):
    """tools/parity.py over the warm-up results: query -> verified row count or None."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "parity.py"),
                        fixtures, oracle_dir], cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=JVM_TIMEOUT_S)
    verdict = {}
    for line in p.stdout.splitlines():
        m = re.match(r"OK\s+(\S+): (\d+) rows", line)
        if m:
            verdict[m.group(1)] = int(m.group(2))
        m = re.match(r"FAIL (\S+):", line)
        if m:
            verdict[m.group(1)] = None
            log(line)
    return verdict


def cpu_times():
    """Host CPU jiffies (busy, steal, total) from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[0] + f[1] + f[2], f[7] if len(f) > 7 else 0, sum(f)


def p80(xs):
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=10, method="inclusive")[7]


def overhead_pct(untraced, traced):
    """Median over the traced units of each one's wall time against the
    mean of the untraced units on either side of it, minus one. Units
    alternate untraced/traced and start and end untraced, so traced unit
    k lies between untraced units k and k+1; comparing neighbours keeps
    the JVM's warming from one unit to the next out of the figure."""
    assert len(untraced) == len(traced) + 1 and len(traced) >= 2
    return statistics.median(100.0 * (t / ((untraced[k] + untraced[k + 1]) / 2) - 1.0)
                             for k, t in enumerate(traced))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(list(PIPELINES) + list(REGISTRY)))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    os.makedirs(WORK, exist_ok=True)
    cp = build()
    w = a.workload
    data = reviews(cp, w, a.seed) if w in PIPELINES else REGISTRY[w]
    run_dir = os.path.join(WORK, "runs", w)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    artifact = os.path.join(WORK, "artifacts", f"{w}-s{a.seed}-t{a.trace}.json")
    err_log = os.path.join(WORK, "logs", f"{w}-s{a.seed}-t{a.trace}.err")
    os.makedirs(os.path.dirname(err_log), exist_ok=True)
    cpu0 = cpu_times()
    with open(err_log, "w") as err:
        p = subprocess.run(java(cp, "perfbench.Run", w, str(a.seed), str(a.seconds),
                                str(a.trace), run_dir, data, artifact),
                           stdout=subprocess.PIPE, stderr=err, text=True, timeout=JVM_TIMEOUT_S)
    cpu1 = cpu_times()
    # CPU time the hypervisor gave to other guests while this run wanted
    # it: a run with a high share measured a slower host, not the program
    steal = (cpu1[1] - cpu0[1]) / max(1, (cpu1[0] - cpu0[0]) + (cpu1[1] - cpu0[1]))
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        log(open(err_log).read()[-4000:])
        sys.exit(f"perfbench: the {w} run exited with {p.returncode}")
    raw = json.loads(lines[-1])

    attempted, failed = raw["attempted"], raw["failed"]
    errors = list(raw["errors"])
    oracle = {}
    if w in REGISTRY:
        oracle = oracle_check(data, raw["oracle_dir"])
        for q in sorted(set(raw["rows"]) | {q for q, v in oracle.items() if v is None}):
            want, counts = oracle.get(q), raw["rows"].get(q, [])
            # a warm-up that threw is already counted by the JVM
            warm_bad = want is None and q not in raw["warmup_failed"]
            bad = warm_bad + (len(counts) if want is None else sum(c != want for c in counts))
            if bad:
                failed += bad
                errors.append(f"{q}: oracle rows {want}, timed rows {counts}")
    for e in errors:
        log("error: " + e)

    setup = statistics.median(raw["setup_samples"]) + raw.get("warmup_s", 0.0)
    used = raw["used_units"]
    wall = statistics.median(raw["unit_samples"][k] for k in used)
    ops = [x for k in used for x in raw["op_samples"][k]]
    e2e = {
        "setup_s": setup,
        "wall_s": wall,
        "query_p50_s": statistics.median(ops),
        "query_p80_s": p80(ops),
        "peak_rss_mb": raw["peak_rss_mb"],
    }
    extra = {"error_rate": (failed / attempted, "share")}
    if "tokens" in raw:
        extra["tokens_per_s"] = (raw["tokens"] / wall, "1/s")
    layer = {}
    if a.trace:
        units = raw["layer_units"]
        layer = {k: statistics.median([u[k] for u in units]) for k in PER_LAYER if k != "trace.overhead_pct"}
        layer["trace.overhead_pct"] = overhead_pct(raw["unit_samples"], raw["traced_unit_samples"])

    shown = layer if a.trace else e2e
    units = PER_LAYER if a.trace else END_TO_END
    for k, v in shown.items():
        print(f"{w} {k} = {v:.6g} {units[k]}")
    if not a.trace:
        for k, (v, u) in extra.items():
            print(f"{w} {k} = {v:.6g} {u}")
    print(f"{w} samples: {len(used)} of {len(raw['unit_samples'])} units, {len(ops)} operations, "
          f"{len(raw['setup_samples'])} set-ups; attempted {attempted}, failed {failed}; "
          f"host CPU steal {100 * steal:.1f}% of busy time")

    with open(artifact) as fh:
        art = json.load(fh)
    art.update({"result": {"e2e": e2e, "extra": {k: v for k, (v, _) in extra.items()},
                           "layer": layer},
                "samples": {k: raw[k] for k in ("setup_samples", "unit_samples", "unit_steal",
                                                "used_units", "traced_unit_samples",
                                                "op_samples")},
                "oracle": oracle, "attempted": attempted, "failed": failed, "errors": errors,
                "host_steal_share": steal})
    with open(artifact, "w") as fh:
        json.dump(art, fh)
    print(f"{w} artifact: {os.path.relpath(artifact, ROOT)}")

    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in shown.items()},
    }))


if __name__ == "__main__":
    main()
