#!/usr/bin/env python3
"""The graft benchmark: one workload per run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the engine and the harness from
the checkout's sources on first use (into $CARGO_TARGET_DIR, default
.bench_build), launches the JVM directly on the resolved classpath, runs
the workload, checks its outputs, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end set, with --trace 1 the per-layer set.
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from benchlib import build, layers, metrics  # noqa: E402

WORKLOADS = ("commerce_batch", "ad_stream")
DATA = os.path.join(HERE, "fixtures", "sf0.01")
# measured closed-loop passes: one per SECONDS_PER_PASS of --seconds
# (four at 10 s: about 12 s of commerce_batch ops at sf0.01 on 4 cores),
# so the sample count depends on --seconds alone, never on how fast the
# code ran
SECONDS_PER_PASS = 2.5
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 890


def git_head():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_context(seed, record):
    return {"seed": seed, "git_head": git_head(), "nproc": os.cpu_count(),
            "cores_used": record.get("cores"),
            "loadavg": list(os.getloadavg()),
            "calibration_before_s": record.get("calibration_before_s"),
            "calibration_after_s": record.get("calibration_after_s")}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        sys.exit("[perfbench] no engine sources next to the benchmark; run from a checkout")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    from benchlib import checks  # reads the checkout's tools/local_verify.py
    cp, jvm_options = build.ensure(ROOT, build_dir, BUILD_LIMIT_S)
    t_built = time.time()

    runs_dir = os.path.join(build_dir, "runs")
    os.makedirs(runs_dir, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=runs_dir)
    procs = []
    try:
        for d in ("out", "tmp", "derby", "ctl", "incoming"):
            os.makedirs(os.path.join(work, d))
        out = os.path.join(work, "record.json")
        cores = len(os.sched_getaffinity(0))
        passes = max(1, round(args.seconds / SECONDS_PER_PASS))
        cmd = build.java_cmd(cp, jvm_options, work) + [
            "--workload", args.workload, "--seed", str(args.seed),
            "--trace", str(args.trace), "--passes", str(passes),
            "--data", DATA, "--work", work, "--out", out, "--cores", str(cores),
            "--feed-ctl", os.path.join(work, "ctl"), "--feed-in", os.path.join(work, "incoming")]
        if args.workload == "ad_stream":
            procs.append(subprocess.Popen(
                [sys.executable, os.path.join(HERE, "feedgen.py"),
                 "--ctl", os.path.join(work, "ctl"), "--incoming", os.path.join(work, "incoming"),
                 "--seed", str(args.seed)], stdout=sys.stderr))
        budget = RUN_LIMIT_S - (time.time() - t_built)
        jvm = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
        procs.append(jvm)
        try:
            rc = jvm.wait(timeout=max(10.0, budget - 15))
        except subprocess.TimeoutExpired:
            sys.exit("[perfbench] the workload ran past its time limit")
        if rc != 0 or not os.path.isfile(out):
            sys.exit(f"[perfbench] JVM exited with {rc}")
        for p in procs[:-1]:
            p.wait(timeout=30)
        with open(out) as f:
            record = json.load(f)
        if record["passes"] != passes or len(record["samples"]) != passes * record["ops"]:
            sys.exit(f"[perfbench] {len(record['samples'])} op samples, expected "
                     f"{passes} passes of {record['ops']} ops")
        # the last raw record of each workload, for inspection
        shutil.copyfile(out, os.path.join(build_dir, f"last-{args.workload}.json"))
        feed = None
        if args.workload == "ad_stream":
            with open(os.path.join(work, "ctl", "manifest.json")) as f:
                manifest = json.load(f)
            with open(os.path.join(work, "ctl", "tallies.json")) as f:
                tallies = json.load(f)
            feed = (manifest, tallies)
        oracle = checks.Oracle(DATA, os.path.join(build_dir, "oracle"))
        verdict = metrics.verify(record, oracle, os.path.join(work, "out"), feed)
        context = run_context(args.seed, record)
        specific = metrics.workload_specific(record, feed)
        if args.trace:
            values = layers.per_layer(record, feed)
            for k, why in sorted(layers.absent(args.workload).items()):
                print(f"[perfbench] {k} = 0: {why}", file=sys.stderr)
            trace_dir = os.path.join(build_dir, "trace")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{args.workload}-{args.seed}.json"), "w") as f:
                json.dump({"context": context, "end_to_end": metrics.end_to_end(record),
                           "workload_metrics": specific,
                           "per_layer": values, "spans": record["trace"].get("spans", [])}, f)
        else:
            values = metrics.end_to_end(record)
        info = {"context": context, "verdict": verdict, "workload_metrics": specific,
                "setup_steps": record.get("setup_steps"),
                "samples": len(record["samples"]), "wall_s": time.time() - t_start}
        print("[perfbench] " + json.dumps(info), file=sys.stderr)
        units = metrics.units()
        result = {"correct": verdict["failed"] == 0, "attempted": verdict["attempted"],
                  "failed": verdict["failed"],
                  "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}
        print(json.dumps(result))
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
