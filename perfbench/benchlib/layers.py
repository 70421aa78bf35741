"""Per-layer metrics of a traced run.

Scope: unless a metric says otherwise it is a mean per measured
closed-loop op. Events are attributed to ops by time window (ops run
one at a time on one driver thread). Metrics of a layer a workload does
not exercise are 0; `absent()` says why."""

from . import metrics, stats

KERNELS = ["minhash_sig", "word_shingles", "rolling_hash", "sim_hash", "p_hash64",
           "bloom_probe", "long_dot"]
SCANNED = ["lineitem", "events"]
SELF_KINDS = ["op", "construct", "execute", "job", "call"]

# name -> unit; the order is the order printed
PER_LAYER = {
    "plans.analysis_s": "s", "plans.optimization_s": "s", "plans.planning_s": "s",
    "plans.plan_nodes": "count",
    "operators.construct_s": "s", "operators.eager_jobs": "count",
    "exec.wall_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_run_s": "s", "exec.task_cpu_s": "s",
    "exec.gc_s": "s", "exec.sched_delay_s": "s", "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB", "exec.failed_tasks": "count",
    **{f"functions.{k}_s": "s" for k in KERNELS},
    **{f"tables.{t}_scan_s": "s" for t in SCANNED},
    "tables.input_mb": "MB", "tables.input_rows": "count",
    "storedmemo.pinned_mb": "MB", "storedmemo.pinned_growth_mb": "MB",
    "storedmemo.build_s": "s",
    "streaming.batches": "count", "streaming.trigger_s": "s", "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s", "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s", "streaming.latest_offset_s": "s",
    "streaming.query_start_s": "s", "streaming.state_rows": "count",
    "streaming.state_mb": "MB", "streaming.state_commit_s": "s",
    "etl.jdbc_write_s": "s", "etl.jdbc_rows": "count", "etl.store_rows": "count",
    "jobs.session_s": "s", "jobs.area_top3_s": "s", "jobs.adver_stat_s": "s",
    "jobs.ingest_batch_s": "s", "jobs.index_build_s": "s", "jobs.index_write_s": "s",
    "jobs.index_mb": "MB", "jobs.index_files": "count",
    "feed.p50_s": "s", "feed.p90_s": "s", "feed.p90_10x_s": "s", "feed.p90_100x_s": "s",
    "feed.generator_lag_s": "s", "feed.backlog_files": "count",
    **{f"self.{k}_s": "s" for k in SELF_KINDS},
}


class Events:
    """The traced run's records, unpacked (times in epoch ms)."""

    def __init__(self, record):
        t = record["trace"]
        self.spans = [dict(zip(("id", "parent", "kind", "name", "t0", "t1"), s))
                      for s in t["spans"]]
        self.tasks = [dict(zip(("launch", "run_ms", "cpu_ns", "gc_ms", "sched_ms", "shuf_r",
                                "shuf_w", "spill", "in_b", "in_recs", "out_recs", "failed"), x))
                      for x in t["tasks"]]
        self.jobs = [dict(zip(("t0", "t1"), j)) for j in t["jobs"]]
        self.stages = [{"t0": s} for s in t["stages"]]
        self.qes = [dict(zip(("t0", "t1", "dur_ms", "analysis_ms", "optimization_ms",
                              "planning_ms", "nodes", "jdbc", "file_write"), q))
                    for q in t["qes"]]
        self.progress = t["progress"]


def _bucket(windows, items, key):
    """Items grouped by the window holding item[key]."""
    out = [[] for _ in windows]
    for it in items:
        i = stats.window_index(windows, it[key])
        if i is not None:
            out[i].append(it)
    return out


def _mean(total, n):
    return total / n if n else 0.0


def derived_spans(ev):
    """Spark jobs and micro-batches as spans, parented to the innermost
    harness span that holds their start."""
    harness = [(s["id"], s["t0"], s["t1"]) for s in ev.spans
               if s["kind"] not in ("setup", "loop", "feed")]
    out = [{"kind": "sparkjob", "t0": j["t0"], "t1": j["t1"]} for j in ev.jobs if j["t1"] > 0]
    out += [{"kind": "microbatch", "t0": p["t0"],
             "t1": p["t0"] + p["durations"].get("triggerExecution", 0)} for p in ev.progress]
    parents = stats.assign_parents([(d["t0"], d["t1"]) for d in out], harness)
    for d, p in zip(out, parents):
        d["parent"] = p
    return out


def self_times(ev, since_ms):
    """Mean self time per span kind, over spans that start after `since_ms`."""
    spans = ev.spans + derived_spans(ev)
    children = {}
    for s in spans:
        if s.get("parent"):
            children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    out = {}
    for kind in SELF_KINDS:
        own = [s for s in ev.spans if s["kind"] == kind and s["t0"] >= since_ms]
        vals = [stats.self_time((s["t0"], s["t1"]), children.get(s["id"], [])) / 1000.0
                for s in own]
        out[f"self.{kind}_s"] = _mean(sum(vals), len(vals))
    return out


def per_layer(record, feed):
    ev = Events(record)
    samples = record["samples"]
    n = len(samples)
    loop0 = record["loop"][0]
    windows = sorted((s["t0"], s["t1"]) for s in samples)
    out = {k: 0.0 for k in PER_LAYER}

    # plans: every query execution analyzed inside an op
    qes_in = [q for b in _bucket(windows, [q for q in ev.qes if q["t0"] > 0], "t0") for q in b]
    for ph in ("analysis", "optimization", "planning"):
        out[f"plans.{ph}_s"] = _mean(sum(q[f"{ph}_ms"] for q in qes_in) / 1000.0, n)
    out["plans.plan_nodes"] = _mean(sum(q["nodes"] for q in qes_in), n)

    # operators: the call into the module, eager jobs included
    out["operators.construct_s"] = _mean(sum(s["construct_s"] for s in samples), n)
    constructs = sorted((s["t0"], s["t1"]) for s in ev.spans
                        if s["kind"] == "construct" and s["t0"] >= loop0 and s["t0"] <= record["loop"][1])
    out["operators.eager_jobs"] = _mean(sum(len(b) for b in _bucket(constructs, ev.jobs, "t0")), n)

    # exec: jobs, stages, tasks started inside ops
    jobs_by_op = _bucket(windows, [j for j in ev.jobs if j["t1"] > 0], "t0")
    wall = sum(stats.union_length([(max(j["t0"], w[0]), min(j["t1"], w[1])) for j in js])
               for w, js in zip(windows, jobs_by_op))
    out["exec.wall_s"] = _mean(wall / 1000.0, n)
    out["exec.jobs"] = _mean(sum(len(b) for b in jobs_by_op), n)
    out["exec.stages"] = _mean(sum(len(b) for b in _bucket(windows, ev.stages, "t0")), n)
    tasks = [t for b in _bucket(windows, ev.tasks, "launch") for t in b]
    out["exec.tasks"] = _mean(len(tasks), n)
    for name, key, scale in (("task_run_s", "run_ms", 1e3), ("task_cpu_s", "cpu_ns", 1e9),
                             ("gc_s", "gc_ms", 1e3), ("sched_delay_s", "sched_ms", 1e3),
                             ("shuffle_read_mb", "shuf_r", 1e6),
                             ("shuffle_write_mb", "shuf_w", 1e6), ("spill_mb", "spill", 1e6)):
        out[f"exec.{name}"] = _mean(sum(t[key] for t in tasks) / scale, n)
    out["exec.failed_tasks"] = sum(1 for t in ev.tasks if t["failed"])

    # functions: the kernel probe
    for k, v in record.get("probes", {}).get("functions", {}).items():
        out[f"functions.{k}_s"] = v["s"]

    # tables
    for t in SCANNED:
        lat = [(s["t1"] - s["t0"]) / 1000.0 for s in samples if s["name"] == f"scan_{t}"]
        out[f"tables.{t}_scan_s"] = stats.median(lat) or 0.0
    out["tables.input_mb"] = _mean(sum(t["in_b"] for t in tasks) / 1e6, n)
    out["tables.input_rows"] = _mean(sum(t["in_recs"] for t in tasks), n)

    # stored memos
    out["storedmemo.pinned_mb"] = _mean(sum(s["pinned_mb"] for s in samples), n)
    passes = sorted({s["pass"] for s in samples})
    if len(passes) > 1:
        last = {p: [s for s in samples if s["pass"] == p][-1]["pinned_mb"] for p in passes}
        out["storedmemo.pinned_growth_mb"] = last[passes[-1]] - last[passes[0]]
    builds = []
    for name, warm in record["warm_s"].items():
        lat = [(s["t1"] - s["t0"]) / 1000.0 for s in samples if s["name"] == name]
        if lat:
            builds.append(warm - stats.median(lat))
    out["storedmemo.build_s"] = _mean(sum(builds), len(builds))

    # streaming: every micro-batch after set-up
    prog = [p for p in ev.progress if p["t0"] >= loop0]
    out["streaming.batches"] = len(prog)
    for name, key in (("trigger_s", "triggerExecution"), ("add_batch_s", "addBatch"),
                      ("query_planning_s", "queryPlanning"), ("wal_commit_s", "walCommit"),
                      ("commit_offsets_s", "commitOffsets"), ("latest_offset_s", "latestOffset")):
        out[f"streaming.{name}"] = _mean(sum(p["durations"].get(key, 0) for p in prog) / 1000.0,
                                         len(prog))
    runner = sorted([(s["t0"], s["t1"]) for s in samples if s["name"].startswith("st")] +
                    [(s["t0"], s["t1"]) for s in ev.spans if s["kind"] == "call"])
    starts = []
    for w, ps in zip(runner, _bucket(runner, prog, "t0")):
        trig = sum(p["durations"].get("triggerExecution", 0) for p in ps)
        starts.append((w[1] - w[0] - trig) / 1000.0)
    out["streaming.query_start_s"] = _mean(sum(starts), len(starts))
    out["streaming.state_rows"] = max([p["state_rows"] for p in prog], default=0)
    out["streaming.state_mb"] = max([p["state_bytes"] for p in prog], default=0) / 1e6
    out["streaming.state_commit_s"] = _mean(sum(p["state_commit_ms"] for p in prog) / 1000.0,
                                            len(prog))

    # etl: JDBC write commands after set-up
    jdbc = [q for q in ev.qes if q["jdbc"] and q["t0"] >= loop0]
    out["etl.jdbc_write_s"] = _mean(sum(q["dur_ms"] for q in jdbc) / 1000.0, len(jdbc))
    jw = sorted((q["t0"], q["t1"]) for q in jdbc)
    out["etl.jdbc_rows"] = _mean(sum(t["out_recs"] for b in _bucket(jw, ev.tasks, "launch")
                                     for t in b), len(jdbc))
    report = record["report"]
    if "store" in report:
        out["etl.store_rows"] = len(report["store"])
    else:
        lifecycle = [j for j in metrics.measured_jobs(record) if j["job"] != "ingest_batch"]
        cycles = {j["cycle"] for j in lifecycle}
        out["etl.store_rows"] = _mean(sum(sum(j["tables"].values()) for j in lifecycle),
                                      len(cycles))

    # jobs: lifecycles and the incremental index
    for job in ("session", "area_top3", "adver_stat", "ingest_batch"):
        secs = [j["seconds"] for j in metrics.measured_jobs(record) if j["job"] == job]
        out[f"jobs.{job}_s"] = stats.median(secs) or 0.0
    index = record.get("probes", {}).get("index")
    if index:
        out["jobs.index_build_s"] = index["build_s"]
        out["jobs.index_mb"] = index["mb"]
        out["jobs.index_files"] = index["files"]
        writes = [sum(q["dur_ms"] for q in ev.qes if q["file_write"] and a <= q["t0"] <= b)
                  for a, b in index["ingest"]]
        out["jobs.index_write_s"] = _mean(sum(writes) / 1000.0, len(writes))

    if feed is not None:
        out.update((k, v) for k, v in metrics.feed_metrics(record, feed).items()
                   if k in PER_LAYER)

    out.update(self_times(ev, loop0))
    return {k: (out[k] if out[k] is not None else 0.0) for k in PER_LAYER}


def absent(workload):
    """Per-layer metrics a workload reports as 0, and why."""
    if workload == "commerce_batch":
        why = {k: "no streaming query or feed on this workload" for k in PER_LAYER
               if k.startswith(("streaming.", "feed."))}
        why["jobs.adver_stat_s"] = "the ad job lifecycle runs on ad_stream"
        why["self.call_s"] = "no feed runner calls on this workload"
        return why
    why = {f"tables.{t}_scan_s": "no Tables scan ops on this workload" for t in SCANNED}
    why.update({"jobs.session_s": "the session job lifecycle runs on commerce_batch",
                "jobs.area_top3_s": "the area job lifecycle runs on commerce_batch"})
    return why
