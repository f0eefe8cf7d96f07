"""Per-layer metrics of a traced run, computed from the JVM runner's raw
result and its spans. Every traced run reports every metric in METRICS;
a layer the workload does not exercise reads 0 (README.md lists which
workload moves which metric)."""
import statistics

FAMILIES = "adefjmprstwx"

METRICS = [
    # Spark, per workload (measured phases only; on suite per run of the query set)
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.task_s", "s"), ("spark.gc_s", "s"), ("spark.shuffle_mb", "MB"), ("spark.spill_mb", "MB"),
    # Catalyst analysis + optimization + planning (QueryExecution.tracker)
    ("entry.plan_s", "s"),
    # sources: the file stream feeding the live query
    ("sources.read_ms", "ms"), ("sources.rows_per_trigger", "count"), ("sources.files_per_trigger", "count"),
    # streaming micro-batches
    ("streaming.trigger.count", "count"), ("streaming.trigger.nodata_share", "share"),
    ("streaming.trigger.exec_ms.p50", "ms"), ("streaming.trigger.exec_ms.p99", "ms"),
    ("streaming.trigger.planning_ms", "ms"), ("streaming.trigger.wal_ms", "ms"),
    ("streaming.trigger.addbatch_ms", "ms"),
    # streaming state store
    ("streaming.state.rows", "count"), ("streaming.state.mem_mb", "MB"),
    ("streaming.state.commit_ms", "ms"), ("streaming.state.update_ms", "ms"),
    ("streaming.state.removal_ms", "ms"), ("streaming.state.rows_dropped_by_watermark", "count"),
    ("streaming.state.restart_first_batch_ms", "ms"),
    # live end-to-end numbers too noisy to gate on (README.md)
    ("live.recovery_s", "s"), ("live.timeout_lag_p50_ms", "ms"), ("live.timeout_lag_p99_ms", "ms"),
    ("live.generator_late_max_ms", "ms"),
    # the rule interpreter
    ("streaming.route_shuffle_mb", "MB"), ("streaming.sort_spill_mb", "MB"),
    ("streaming.interpret_task_s", "s"), ("streaming.fires", "count"),
    ("streaming.hotkey_run_max", "count"),
    # streaming.Sinks
    ("sinks.route_ms", "ms"), ("sinks.jobs_per_batch", "count"), ("sinks.files_per_batch", "count"),
    ("sinks.rows_by_kind.action", "count"), ("sinks.rows_by_kind.memory", "count"),
    ("sinks.rows_by_kind.event", "count"), ("sinks.rows_by_kind.source", "count"),
    # fires appended twice: a batch re-run after the restart (at-least-once)
    ("sinks.duplicate_appends", "count"),
    # batch query operators
    ("ops.exec_s", "s")] + [(f"ops.family.{f}_s", "s") for f in FAMILIES] + [
    ("ops.loop_jobs", "count"),
    # single-thread replay baseline
    ("replay.eps_1core", "1/s"),
]

MEASURED = {"catchup", "steady", "restart", "drain", "suite"}
LOOP_QUERIES = {"d6", "d9", "w25", "w26", "x22", "p10", "s11"}


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(w, r, spans):
    from run import percentile
    m = {k: 0.0 for k, _ in METRICS}
    by_id = {s["id"]: s for s in spans}
    windows = [(s["start_ms"], s["end_ms"]) for s in spans if s["kind"] == "phase" and s["name"] in MEASURED]

    def measured(s):
        return any(a <= s["start_ms"] <= b for a, b in windows)

    def under(s, pred):
        """True if some ancestor of s satisfies pred."""
        p = by_id.get(s["parent"])
        while p is not None:
            if pred(p):
                return True
            p = by_id.get(p["parent"])
        return False

    jobs = [s for s in spans if s["kind"] == "job" and measured(s)]
    job_ids = {s["id"] for s in jobs}
    stages = [s for s in spans if s["kind"] == "stage" and s["parent"] in job_ids]
    per = r.get("trials", 1)
    m["spark.jobs"] = len(jobs) / per
    m["spark.stages"] = len(stages) / per
    m["spark.tasks"] = sum(s["attrs"]["tasks"] for s in stages) / per
    m["spark.task_s"] = sum(s["attrs"]["task_ms"] for s in stages) / 1e3 / per
    m["spark.gc_s"] = sum(s["attrs"]["gc_ms"] for s in stages) / 1e3 / per
    m["spark.shuffle_mb"] = sum(s["attrs"]["shuffle_write_b"] for s in stages) / 1e6 / per
    m["spark.spill_mb"] = sum(s["attrs"]["spill_b"] for s in stages) / 1e6 / per
    plans = [s for s in spans if s["kind"] == "plan" and measured(s)]
    m["entry.plan_s"] = sum(sum(v for k, v in s["attrs"].items() if k.endswith("_ms"))
                            for s in plans) / 1e3 / per

    if w == "live":
        tr = r["triggers"]
        data = [t for t in tr if t["rows"] > 0]
        d = lambda t, k: t["durations"].get(k, 0)
        m["sources.read_ms"] = _med([d(t, "latestOffset") + d(t, "getBatch") for t in data])
        m["sources.rows_per_trigger"] = _med([t["rows"] for t in data])
        m["sources.files_per_trigger"] = r["files"] / max(1, len(data))
        m["streaming.trigger.count"] = len(tr)
        m["streaming.trigger.nodata_share"] = (len(tr) - len(data)) / max(1, len(tr))
        ex = [d(t, "triggerExecution") for t in tr]
        m["streaming.trigger.exec_ms.p50"] = percentile(ex, 50)
        m["streaming.trigger.exec_ms.p99"] = percentile(ex, 99)
        m["streaming.trigger.planning_ms"] = _med([d(t, "queryPlanning") for t in tr])
        m["streaming.trigger.wal_ms"] = _med([d(t, "walCommit") for t in tr])
        m["streaming.trigger.addbatch_ms"] = _med([d(t, "addBatch") for t in tr])
        m["streaming.state.rows"] = r["state_rows"]
        m["streaming.state.mem_mb"] = r["state_mb"]
        m["streaming.state.commit_ms"] = _med([t["state_commit_ms"] for t in tr])
        m["streaming.state.update_ms"] = _med([t["state_update_ms"] for t in tr])
        m["streaming.state.removal_ms"] = _med([t["state_removal_ms"] for t in tr])
        m["streaming.state.rows_dropped_by_watermark"] = sum(t["state_dropped"] for t in tr)
        m["streaming.state.restart_first_batch_ms"] = r["restart_first_batch_ms"]
        m["live.recovery_s"] = r["recovery_s"]
        lag = r["timeout_lag_ms"]
        m["live.timeout_lag_p50_ms"] = percentile(lag, 50) if lag else 0.0
        m["live.timeout_lag_p99_ms"] = percentile(lag, 99) if lag else 0.0
        m["live.generator_late_max_ms"] = r["gen_late_max_ms"]
        # the micro-batch's own jobs: batch-tagged, outside the sink routing
        ids = {j["id"] for j in jobs if "batch" in j["attrs"] and "sink_batch" not in j["attrs"]}
        st = [s for s in stages if s["parent"] in ids]
        m["streaming.route_shuffle_mb"] = sum(s["attrs"]["shuffle_write_b"] for s in st) / 1e6
        m["streaming.sort_spill_mb"] = sum(s["attrs"]["spill_b"] for s in st) / 1e6
        m["streaming.interpret_task_s"] = sum(s["attrs"]["task_ms"] for s in st) / 1e3
        sinks = [s for s in spans if s["kind"] == "sink" and measured(s)]
        m["streaming.fires"] = sum(s["attrs"]["fires"] for s in sinks)
        m["sinks.route_ms"] = _med([s["attrs"]["route_ms"] for s in sinks])
        m["sinks.jobs_per_batch"] = sum(1 for j in jobs if "sink_batch" in j["attrs"]) / max(1, len(sinks))
        m["sinks.files_per_batch"] = sum(s["attrs"]["files"] for s in sinks) / max(1, len(sinks))
        for k in ("action", "memory", "event", "source"):
            m[f"sinks.rows_by_kind.{k}"] = sum(s["attrs"].get(f"rows.{k}", 0) for s in sinks)
        m["sinks.duplicate_appends"] = r["duplicate_appends"]
    else:
        queries = [s for s in spans if s["kind"] == "query"
                   and under(s, lambda p: p["kind"] == "phase" and p["name"] == "suite")]
        for s in queries:
            t = (s["end_ms"] - s["start_ms"]) / 1e3 / per
            m["ops.exec_s"] += t
            fam = s["attrs"]["family"]
            if f"ops.family.{fam}_s" in m:
                m[f"ops.family.{fam}_s"] += t
        loops = {s["id"] for s in queries if s["name"][2:].split("_")[0] in LOOP_QUERIES}
        m["ops.loop_jobs"] = sum(1 for j in jobs if j["parent"] in loops) / per
        m["replay.eps_1core"] = r["replay"]["eps_1core"]
        m["streaming.hotkey_run_max"] = r["replay"]["hotkey_run_max"]
    units = dict(METRICS)
    return {k: (float(v), units[k]) for k, v in m.items()}


def link(spans):
    """Give parentless spans their causes: live triggers nest under the
    phase they ran in, batch-tagged jobs and sink spans under their
    trigger, and every phase under one workload span (id 0)."""
    phases = [s for s in spans if s["kind"] == "phase"]
    triggers = [s for s in spans if s["kind"] == "trigger"]

    def within(cands, t):
        for c in cands:
            if c["start_ms"] <= t <= c["end_ms"]:
                return c["id"]
        return 0

    for s in spans:
        if s["parent"]:
            continue
        if s["kind"] in ("trigger", "plan"):
            s["parent"] = within(phases, s["start_ms"])
        elif "batch" in s["attrs"] or "sink_batch" in s["attrs"]:
            b = s["attrs"].get("batch", s["attrs"].get("sink_batch"))
            s["parent"] = within([t for t in triggers if t["attrs"]["batch"] == b], s["start_ms"])
    if phases:
        spans.append({"id": 0, "parent": -1, "kind": "workload", "name": "workload",
                      "start_ms": min(s["start_ms"] for s in phases),
                      "end_ms": max(s["end_ms"] for s in phases), "attrs": {}})
    return spans
