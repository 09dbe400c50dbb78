"""Run-to-run spread of the benchmark: runs one workload once per seed, then
prints for every end-to-end metric its median, quartiles and interquartile
spread as a share of the median, against the metric's bound in
BENCHMARK.json.  Run it from the root of a checkout:

    python3 perfbench/spread.py --workload fuzzy_link --seeds 1-10

A spread above its bound (setup_s aside) means the benchmark cannot tell a
regression of that size from noise; aim for a third of the bound.  The
medians are kept in .bench_build/perfbench/spread-<workload>.json, and the
next call compares its medians with them under each metric's bound: run it
on a parent commit, then on the change.  The runs' output hashes are listed
per seed, so a second call with the same seeds shows whether they repeat.
"""

import argparse
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import stats  # noqa: E402


def seeds(spec):
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b or a) + 1))


def main():
    ap = argparse.ArgumentParser(description="run-to-run spread per metric")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    values, hashes, bad = {}, {}, []
    for seed in seeds(a.seeds):
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            print("seed %d: exit %d\n%s" % (seed, r.returncode, r.stderr[-2000:]))
            bad.append(seed)
            continue
        res = json.loads(lines[-1])
        m = re.search(r"output_hash ([0-9a-f]+)", r.stderr)
        hashes[seed] = m.group(1) if m else None
        if not res["correct"] or res["failed"]:
            bad.append(seed)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print("seed %d: %s" % (seed, json.dumps(
            {k: round(v["value"], 4) for k, v in res["metrics"].items()})), flush=True)
    kept = os.path.join(build.BUILD, "spread-%s.json" % a.workload)
    previous = {}
    if os.path.exists(kept):
        with open(kept) as f:
            previous = json.load(f)
    medians = {}
    print("\n%-14s %10s %10s %10s %8s %6s %9s" % (
        "metric", "median", "q1", "q3", "spread", "bound", "vs kept"))
    for m in bench["end_to_end"]:
        xs = values.get(m["name"], [])
        if len(xs) < 2:
            continue
        q1, _, q3 = stats.statistics.quantiles(xs, n=4)
        med = medians[m["name"]] = stats.median(xs)
        spread = stats.relative_spread(xs)
        flag = "" if m["name"] == "setup_s" or spread <= m["bound"] else "  OVER BOUND"
        change = ""
        if m["name"] in previous:
            change = "%+8.1f%%" % (100 * (med / previous[m["name"]] - 1))
            if not stats.within_bound(previous[m["name"]], med, m["bound"], m["better"]):
                flag += "  WORSE THAN KEPT"
        print("%-14s %10.4f %10.4f %10.4f %7.1f%% %5.0f%% %9s%s" % (
            m["name"], med, q1, q3, 100 * spread, 100 * m["bound"], change, flag))
    os.makedirs(build.BUILD, exist_ok=True)
    with open(kept, "w") as f:
        json.dump(medians, f)
    print("\noutput hashes: %s" % json.dumps(hashes))
    if bad:
        print("runs with failures or wrong outputs: %s" % bad)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
