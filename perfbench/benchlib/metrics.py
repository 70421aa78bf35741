"""End-to-end metrics and output checks of one run's record."""

import os

from . import stats

# name -> unit; the order is the order printed
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "ops_per_s": "ops/s",
    "job_s": "s",
}


def units():
    from . import layers
    u = dict(END_TO_END)
    u.update(layers.PER_LAYER)
    return u


def latency(sample):
    return (sample["t1"] - sample["t0"]) / 1000.0


def latencies(record):
    return [latency(s) for s in record["samples"] if s["ok"]]


def pass_latencies(record):
    """The correct samples' latencies of each measured pass."""
    by_pass = {}
    for s in record["samples"]:
        if s["ok"]:
            by_pass.setdefault(s["pass"], []).append(latency(s))
    return [by_pass[p] for p in sorted(by_pass)]


def measured_jobs(record):
    return [j for j in record["jobs"] if not j["warm"]]


def job_seconds(record):
    """Median wall time of one lifecycle cycle (its jobs summed). The
    index probe's ingest batches of a traced run are not part of it."""
    cycles = {}
    for j in measured_jobs(record):
        if j["job"] == "ingest_batch":
            continue
        cycles[j["cycle"]] = cycles.get(j["cycle"], 0.0) + j["seconds"]
    return stats.median(list(cycles.values()))


def end_to_end(record):
    lat = latencies(record)
    loop_s = (record["loop"][1] - record["loop"][0]) / 1000.0
    return {
        "setup_s": record["setup_s"],
        "op_p50_s": stats.percentile(lat, 50),
        # per pass, then the median over passes: every op runs once a
        # pass, so the pooled p90 sits where the slowest op's samples meet
        # the rest's, and one stray pause in any op's sample moves it
        "op_p90_s": stats.median_over_groups(pass_latencies(record), 90),
        "ops_per_s": len(lat) / loop_s if loop_s > 0 else 0.0,
        "job_s": job_seconds(record),
    }


def feed_metrics(record, feed):
    """Freshness at the nominal rate and p90 freshness at each higher rung
    of the ladder (named by its multiple of the nominal rate), generator
    lag and backlog, from the generator's manifest and the runner's calls."""
    manifest, _ = feed
    calls = sorted(tuple(c) for c in record["report"]["feed_calls"])
    files = [f for f in manifest["files"] if f["step"] >= 0]
    rates = manifest["rates"]
    out = {}
    for step, rate in enumerate(rates):
        fresh = stats.freshness([f for f in files if f["step"] == step], calls)
        ok = [x for x in fresh if x is not None]
        if step == 0:
            out["feed.p50_s"] = stats.percentile(ok, 50)
            out["feed.p90_s"] = stats.percentile(ok, 90)
        else:
            out[f"feed.p90_{round(rate / rates[0])}x_s"] = stats.percentile(ok, 90)
    lag = [(f["written_ms"] - f["due_ms"]) / 1000.0 for f in files]
    backlog = stats.backlog_at_calls(files, calls)
    out.update({
        "feed.generator_lag_s": stats.percentile(lag, 90),
        "feed.backlog_files": max(backlog) if backlog else 0,
        "feed.events": sum(f["n"] for f in files),
        "feed.calls": len(calls),
    })
    return out


def workload_specific(record, feed):
    """Figures that exist on one workload only: reported beside the
    end-to-end set, and in the per-layer set of a traced run."""
    out = {"op_samples": len(latencies(record)), "pinned_mb": record["pinned_mb"]}
    ingest = [j["seconds"] for j in measured_jobs(record) if j["job"] == "ingest_batch"]
    if ingest:
        out["ingest_batch_s"] = stats.median(ingest)
    if feed is not None:
        out.update(feed_metrics(record, feed))
    return out


def verify(record, oracle, out_dir, feed):
    """Check every measured output. An op fails if it threw, its
    output's checksum differs from the warm-up's, or the warm-up's
    output differs from the oracle (a scan's row count from DuckDB's); a job run fails if it threw or left a table
    without rows under its task UUID; a kernel of a traced run's probe
    fails if it threw or its checksum changed; the feed fails if the
    store differs from the generator's tallies."""
    bad_ops = {}
    for name, sql in sorted(record["oracle_sql"].items()):
        reason = oracle.check(name, sql, os.path.join(out_dir, name))
        if reason:
            bad_ops[name] = reason
    for table, n in record["report"].get("scan_rows", {}).items():
        want = oracle.count(table)
        if n != want:
            bad_ops[f"scan_{table}"] = f"rows {n} != {want}"
    unchecked = sorted({s["name"] for s in record["samples"] if s["kind"] == "query"}
                       - set(record["oracle_sql"]))
    samples = record["samples"]
    attempted = len(samples)
    failed = sum(1 for s in samples if not s["ok"] or s["name"] in bad_ops)
    bad_jobs = []
    for j in record["jobs"]:
        if j["warm"]:
            continue
        attempted += 1
        empty = sorted(t for t, n in j["tables"].items() if n <= 0)
        if not j["ok"] or empty:
            failed += 1
            bad_jobs.append({"job": j["job"], "cycle": j["cycle"], "err": j["err"],
                             "empty_tables": empty})
    bad_kernels = []
    for k, v in record.get("probes", {}).get("functions", {}).items():
        attempted += 1
        if not v["ok"]:
            failed += 1
            bad_kernels.append(k)
    feed_bad = None
    if feed is not None:
        attempted += 1
        mismatch = stats.tallies_match(feed[1], record["report"]["store"])
        if mismatch:
            failed += 1
            feed_bad = {"keys": len(mismatch), "first": mismatch[:5]}
    return {"attempted": attempted, "failed": failed, "bad_ops": bad_ops,
            "bad_jobs": bad_jobs, "bad_kernels": bad_kernels, "feed_mismatch": feed_bad,
            "unchecked": unchecked}
