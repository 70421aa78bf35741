#!/usr/bin/env python3
"""Steadiness and tracing-overhead checks for the benchmark.

    python3 perfbench/steady.py --workload W [--seeds 1-10]
    python3 perfbench/steady.py --workload W --seeds 1-3 --overhead

The first form runs the workload once per seed and reports, for every
end-to-end metric, the median and the spread (distance between the first
and third quartile as a share of the median, as statistics.quantiles
gives them) against the metric's bound in BENCHMARK.json: a spread above
a third of the bound is flagged. The second form runs each seed traced
and untraced and reports the tracing overhead per metric (traced median
minus untraced median). Run from the root of a checkout.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from benchlib import stats  # noqa: E402


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out.extend(range(int(a), int(b or a) + 1))
    return out


def run(workload, seed, seconds, trace):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.exit(f"run failed: {workload} seed {seed} trace {trace} (exit {r.returncode})")
    res = json.loads(r.stdout.strip().splitlines()[-1])
    info = [json.loads(ln[len("[perfbench] "):]) for ln in r.stderr.splitlines()
            if ln.startswith("[perfbench] {")]
    res["context"] = info[-1]["context"] if info else {}
    if not res["correct"]:
        print(f"  seed {seed}: {res['failed']} of {res['attempted']} failed", file=sys.stderr)
    return res


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"))


def keep_record(workload, seed):
    """Keep each run's raw record, to recompute figures without re-running."""
    d = os.path.join(build_dir(), "steady")
    os.makedirs(d, exist_ok=True)
    shutil.copyfile(os.path.join(build_dir(), f"last-{workload}.json"),
                    os.path.join(d, f"{workload}-{seed}.json"))


def traced_end_to_end(workload, seed):
    with open(os.path.join(build_dir(), "trace", f"{workload}-{seed}.json")) as f:
        return json.load(f)["end_to_end"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    values = {k: [] for k in bounds}
    traced = {k: [] for k in bounds}
    for s in seeds(args.seeds):
        res = run(args.workload, s, seconds, 0)
        keep_record(args.workload, s)
        for k in bounds:
            values[k].append(res["metrics"][k]["value"])
        if args.overhead:
            run(args.workload, s, seconds, 1)
            t = traced_end_to_end(args.workload, s)
            for k in bounds:
                traced[k].append(t[k])
        ctx = res["context"]
        print(f"  seed {s}: " + ", ".join(f"{k}={res['metrics'][k]['value']:.4g}" for k in bounds)
              + f"  [calibration {ctx.get('calibration_before_s', 0):.3f}/"
              f"{ctx.get('calibration_after_s', 0):.3f} s, load {ctx.get('loadavg', [0])[0]:.2f}]",
              file=sys.stderr)

    print(f"{args.workload}: {len(values['setup_s'])} runs")
    for k, b in bounds.items():
        med = stats.median(values[k])
        sp = stats.spread(values[k])
        flag = "" if sp <= b / 3 else ("  above bound/3" if sp <= b else "  ABOVE BOUND")
        line = f"  {k:12s} median={med:.4g} spread={sp:.3f} bound={b}{flag}"
        if args.overhead:
            tmed = stats.median(traced[k])
            line += f"  traced={tmed:.4g} overhead={tmed - med:+.4g} ({(tmed - med) / med:+.1%})"
        print(line)


if __name__ == "__main__":
    main()
