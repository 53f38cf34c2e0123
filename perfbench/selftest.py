#!/usr/bin/env python3
"""Self-tests of the benchmark itself, run from the root of a checkout:

    python3 perfbench/selftest.py

- the same seed gives byte-identical review inputs, another seed does not;
- a one-byte corruption of a produced TSV fails the output check;
- registry_fixed's query order is the same for the same seed, and every
  seed runs the same query set;
- every end-to-end metric (untraced run) and every per-layer metric
  (traced run) of BENCHMARK.json is printed with its unit;
- the counter diff flags an extra exchange planted on one query, and
  nothing on the other queries;
- in a directory that holds only BENCHMARK.json and perfbench/, the
  benchmark exits non-zero without printing a result.

Takes about five minutes on four cores. Exits 1 if any test fails.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

SCRATCH = os.path.join(run.WORK, "selftest")
SPEC = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
results = []


def check(name, ok, detail=""):
    results.append(ok)
    print(f"{'PASS' if ok else 'FAIL'} {name}" + (f": {detail}" if detail and not ok else ""),
          flush=True)


def bench(workload, seed, seconds, trace, env=None):
    p = subprocess.run([sys.executable, os.path.join(run.BENCH, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=run.ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                       env=dict(os.environ, **(env or {})), timeout=300)
    return p.returncode, p.stdout


def gen(cp, workload, seed, out):
    n, vocab, s, lo, hi = run.PIPELINES[workload]
    subprocess.run(run.java(cp, "perfbench.Gen", out, str(seed), str(n), str(vocab), str(s),
                            str(lo), str(hi), run.STAR_MIX, heap="1g", young="256m"), check=True)
    return os.path.join(out, "reviews.json")


def main():
    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(SCRATCH)
    cp = run.build()

    # inputs from the seed
    a = gen(cp, "ws_zipf", 7, os.path.join(SCRATCH, "a"))
    b = gen(cp, "ws_zipf", 7, os.path.join(SCRATCH, "b"))
    c = gen(cp, "ws_zipf", 8, os.path.join(SCRATCH, "c"))
    check("same seed gives byte-identical inputs", filecmp.cmp(a, b, shallow=False))
    check("another seed gives other inputs", not filecmp.cmp(a, c, shallow=False))

    # registry_fixed's query set and order
    def sample(seed):
        return subprocess.run(run.java(cp, "perfbench.Check", "sample", str(seed)), check=True,
                              stdout=subprocess.PIPE, text=True).stdout.strip().split(",")
    s7, s7b, s8 = sample(7), sample(7), sample(8)
    check("registry_fixed sample is identical for identical seeds", s7 == s7b)
    check("registry_fixed runs the same query set for every seed", sorted(s7) == sorted(s8))

    # every metric with its unit, and the TSV check
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        code, out = bench("ws_longtail", 5, 1, trace)
        lines = out.strip().splitlines()
        res = json.loads(lines[-1]) if code == 0 and lines else {"metrics": {}}
        missing = [m["name"] for m in SPEC[key]
                   if res["metrics"].get(m["name"], {}).get("unit") != m["unit"]
                   or not any(l.startswith(f"ws_longtail {m['name']} = ") and l.endswith(" " + m["unit"])
                              for l in lines)]
        check(f"every {key} metric is printed with its unit (trace {trace})",
              code == 0 and not missing and set(res["metrics"]) == {m["name"] for m in SPEC[key]},
              f"exit {code}, missing {missing}")
        check(f"ws_longtail output checks pass (trace {trace})", res.get("correct") is True)

    tsv = os.path.join(SCRATCH, "tsv")
    shutil.copytree(os.path.join(run.WORK, "runs", "ws_longtail", "out", "tsv"), tsv)
    expected = os.path.join(run.reviews(cp, "ws_longtail", 5), "expected.json")
    tsv_ok = subprocess.run(run.java(cp, "perfbench.Check", "tsv", tsv, expected)).returncode
    part = sorted(f for f in os.listdir(tsv) if f.startswith("part-"))[0]
    with open(os.path.join(tsv, part), "r+b") as fh:
        fh.seek(os.path.getsize(os.path.join(tsv, part)) // 2)
        byte = fh.read(1)
        fh.seek(-1, 1)
        fh.write(bytes([byte[0] ^ 0x01]))
    tsv_bad = subprocess.run(run.java(cp, "perfbench.Check", "tsv", tsv, expected)).returncode
    check("a one-byte corruption of the TSV is reported", tsv_ok == 0 and tsv_bad == 1,
          f"clean exit {tsv_ok}, corrupted exit {tsv_bad}")

    # the counter diff flags a planted exchange, and only there
    planted = s7[0]
    arts = {}
    for label, env in (("base", {}), ("planted", {"PERFBENCH_PLANT_EXCHANGE": planted})):
        code, _ = bench("registry_fixed", 7, 1, 1, env)
        d = os.path.join(SCRATCH, label)
        os.makedirs(d)
        shutil.copy(os.path.join(run.WORK, "artifacts", "registry_fixed-s7-t1.json"), d)
        arts[label] = (code, d)
    p = subprocess.run([sys.executable, os.path.join(run.BENCH, "diff.py"), arts["base"][1],
                        arts["planted"][1]], stdout=subprocess.PIPE, text=True)
    flagged = [l for l in p.stdout.splitlines() if not l.startswith("diff:")]
    hit = any(f"query {planted} plans.exchanges" in l for l in flagged)
    stray = [l for l in flagged if " query " in l and f"query {planted} " not in l]
    check("counter diff flags the planted exchange and nothing on other queries",
          arts["base"][0] == 0 and arts["planted"][0] == 0 and p.returncode == 1 and hit and not stray,
          p.stdout)

    # a directory with only the benchmark must fail without a result
    bare = tempfile.mkdtemp(dir=SCRATCH)
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(run.BENCH, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "ws_zipf", "--seed", "1",
                        "--seconds", "1", "--trace", "0"], cwd=bare, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True, timeout=180)
    check("without the program's sources the benchmark fails without a result",
          p.returncode != 0 and '"metrics"' not in p.stdout, f"exit {p.returncode}")

    print(f"{sum(results)}/{len(results)} self-tests passed")
    sys.exit(0 if all(results) else 1)


if __name__ == "__main__":
    main()
