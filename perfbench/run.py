"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program from source (first run only, see build.py), generates the
workload's inputs from the seed (gen.py), runs the workload in one JVM with
Spark as local[N], checks its outputs, and prints as the last line of
standard output one JSON object: {"correct", "attempted", "failed",
"metrics"}.  With --trace 0 the metrics are the end-to-end ones; with
--trace 1 they are the per-layer ones.  Progress and the output hash go to
standard error.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WALL_LIMIT_S = 170.0


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def cpus():
    return max(1, min(4, len(os.sched_getaffinity(0))))


def end_to_end(raw, setup_s):
    s = raw["samples"]
    v = raw["values"]
    pass_s = stats.median(s["pass"])
    metrics = {
        "setup_s": (setup_s, "s"),
        "pass_s_p50": (pass_s, "s"),
        "rows_per_s": (v["rows_per_pass"] / pass_s, "1/s"),
        "publish_s": (stats.median(s["publish"]), "s"),
        "serve_ms_p50": (1000 * stats.median(s["serve"]), "ms"),
        "serve_ms_p90": (1000 * stats.percentile(s["serve"], 90), "ms"),
        "append_s": (stats.median(s["append"]), "s"),
        "live_heap_mb": (v["live_heap_mb"], "MB"),
    }
    return {k: {"value": x, "unit": u} for k, (x, u) in metrics.items()}


def per_layer(raw):
    units = {"calls": "count", "jobs": "count", "stages": "count",
             "tasks": "count", "rows_out": "count", "shuffle_mb": "MB",
             "spill_mb": "MB"}
    extra_units = {"Dedup.keep_ratio": "ratio",
                   "EditDistanceJoin.shuffle_records_per_pair": "ratio",
                   "ConnectedComponents.rounds": "count",
                   "Ann.files_read": "count",
                   "StandingIndex.bytes_per_input_byte": "ratio",
                   "StandingIndex.files": "count", "sources.input_mb": "MB",
                   "sources.output_mb": "MB", "trace.overhead_pct": "%"}
    out = {}
    for name, value in sorted(stats.rollup(raw).items()):
        unit = extra_units.get(name) or units.get(name.split(".", 1)[1], "ms")
        out[name] = {"value": value, "unit": unit}
    return out


def run_jvm(cp, args, work, deadline):
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:+UseG1GC", "-XX:-UsePerfData"] + build.jvm_opens() +
           ["-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
            "-cp", cp, "perfbench.Main"] + args)
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr,
                            stderr=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        log("run exceeded its time limit; stopping the JVM")
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return -1
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def main():
    # A SIGTERM unwinds like an exception, so the JVM's process group is
    # killed and the run's directories are removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description="one benchmark run")
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        cp = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        log("build failed: %s" % e)
        return 2
    start = time.time()
    deadline = start + WALL_LIMIT_S

    tag = "%s-%d-%d-%d" % (a.workload, a.seed, a.trace, os.getpid())
    data = os.path.join(build.BUILD, "runs", tag, "data")
    work = os.path.join(build.BUILD, "runs", tag, "work")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t = time.perf_counter()
        manifest = gen.generate(a.workload, a.seed, data)
        gen_s = time.perf_counter() - t
        out = os.path.join(work, "raw.json")
        code = run_jvm(cp, ["--workload", a.workload, "--data", data, "--work", work,
                            "--seconds", str(a.seconds), "--trace", str(a.trace),
                            "--cpus", str(cpus()), "--out", out], work, deadline)
        if code != 0 or not os.path.exists(out):
            log("workload JVM exited with code %d" % code)
            return 3
        with open(out) as f:
            raw = json.load(f)
    finally:
        shutil.rmtree(os.path.join(build.BUILD, "runs", tag), ignore_errors=True)

    v = raw["values"]
    setup_s = gen_s + v["session_s"] + v["warmup_s"]
    metrics = per_layer(raw) if a.trace else end_to_end(raw, setup_s)
    checks = raw["checks"]
    correct = raw["failed"] == 0 and all(c["ok"] for c in checks)
    log("workload %s seed %d: output_hash %s, %d checks %s, input %s" % (
        a.workload, a.seed, v.get("output_hash"), len(checks),
        "passed" if correct else "FAILED",
        json.dumps({k: x for k, x in manifest.items() if "variants" not in k})))
    log("samples (count, median s): " + json.dumps(
        {k: [len(x), round(stats.median(x), 3)] for k, x in raw["samples"].items()}) +
        " set-up: generate %.2f s, session %.2f s, warm-up %.2f s" % (
            gen_s, v["session_s"], v["warmup_s"]))
    print(json.dumps({"correct": correct, "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
