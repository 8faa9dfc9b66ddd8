"""Turn one workload's raw result into its end-to-end and per-layer metrics.

End-to-end metrics are the same eight names on every workload; what an
"op" and a "call" are depends on the workload (see README.md):

    workload       op              call             items
    habits_daily   one ingest      one panel query  sheet rows read
    stream_ticks   one tick round  one drain        tick rows drained
    corpus_batch   one pass        one kernel call  documents curated

Per-layer metrics come from the spans of a traced run. Every per-layer
name is reported on every workload; a layer the workload does not touch
reads 0.
"""
import statistics

import gen

PANELS = ["valueByDay", "completionPct", "distinctHabits", "distinctUsers",
          "recentEvents", "rollingDailyAvg", "streaks", "sqlDaily", "sqlEvents"]
KINDS = ["upsert", "rollup", "dedup", "cluster", "cms"]
KERNELS = ["curate", "langIdNgramLocal", "htmlBlocksLocal", "minhashDupPairs",
           "dupClusters", "knnIvf"]
STREAM_FIELDS = ["drain_s", "start_s", "add_batch_s", "planning_s", "logs_s",
                 "batches", "no_data_batches", "jobs", "single_task_jobs"]

E2E = {  # name -> unit
    "setup_s": "s", "live_heap_mb": "MB", "items_per_cpu_s": "1/s", "disk_mb": "MB",
}
# Wall-clock figures: printed with every run, compared only as per-layer
# figures of traced runs. They do not repeat within a tenth across seeds
# on a shared host, where other guests take a varying share of the CPU.
TRACED_ONLY = {"latency.setup_s": "s", "latency.items_per_s": "1/s", "latency.op_p50_s": "s",
               "latency.op_p90_s": "s", "latency.call_p50_ms": "ms",
               "latency.call_p90_ms": "ms", "memory.peak_rss_mb": "MB"}


def per_layer_names():
    names = ["sources.read_sheet.busy_s", "transform.toEvents.busy_s"]
    names += [f"load.upsert.{f}" for f in ("busy_s", "jobs", "tasks", "shuffle_mb",
                                            "written_mb", "files_written",
                                            "partitions_rewritten", "changed_share")]
    names += ["load.write_amp", "analytics.rollup.busy_s"]
    names += [f"analytics.panel.{p}.busy_s" for p in PANELS]
    names += ["plans.plan_ms", "load.read.files_scanned"]
    names += [f"streaming.{k}.{f}" for k in KINDS for f in STREAM_FIELDS]
    names += ["streaming.dedup.ledger_mb", "streaming.cluster.ledger_mb"]
    names += [f"ext.{c}.{f}" for c in KERNELS
              for f in ("busy_s", "exec_cpu_s", "shuffle_mb", "spill_mb", "jobs")]
    names += ["ext.minhashDupPairs.verified_share", "jvm.gc_s",
              "spark.fixed_cost_share", "error_rate", "trace.top_coverage"]
    names += list(TRACED_ONLY) + [f"traced.{m}" for m in E2E]
    return names


def per_layer_unit(name):
    last = name.rsplit(".", 1)[-1]
    if name.startswith("traced."):
        return E2E[name.split(".", 1)[1]]
    if name in TRACED_ONLY:
        return TRACED_ONLY[name]
    for suffix, unit in (("_s", "s"), ("_ms", "ms"), ("_mb", "MB"), ("_share", "ratio"),
                         ("_rate", "ratio"), ("_amp", "ratio"), ("coverage", "ratio")):
        if last.endswith(suffix):
            return unit
    return "count"


def pct(values, q):
    """Percentile by linear interpolation between closest ranks."""
    v = sorted(values)
    if not v:
        return 0.0
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def _ops(res):
    timed = [o for o in res["ops"] if not o.get("warmup")]
    return timed


def end_to_end(workload, res):
    """The end-to-end metrics, and the timings reported beside them."""
    ok = [o for o in _ops(res) if o["ok"]]
    if workload == "habits_daily":
        ingests = [o for o in ok if o["kind"] == "ingest"]
        calls = [o["s"] for o in ok if o["kind"] == "panel"]
        op_s = [o["s"] for o in ingests]
        items = sum(o["rows"] for o in ingests)
        items_per_s = items / sum(op_s) if op_s else 0.0
    elif workload == "stream_ticks":
        drains = [o for o in ok if o["kind"] == "drain"]
        calls = [o["s"] for o in drains]
        rounds = {}
        for o in drains:
            rounds.setdefault(o["tick"], []).append(o["s"])
        op_s = [sum(v) for v in rounds.values()]
        items = sum(gen.TICK_DOCS if o["stream"] in ("dedup", "cluster") else gen.TICK_EVENTS
                    for o in drains)
        items_per_s = items / sum(calls) if calls else 0.0
    else:
        kernels = [o for o in ok if o["kind"] == "kernel"]
        calls = [o["s"] for o in kernels]
        passes = [o for o in ok if o["kind"] == "pass"]
        op_s = [o["s"] for o in passes]
        items = sum(o["docs"] for o in passes)
        items_per_s = items / sum(op_s) if op_s else 0.0
    e2e = {
        # set-up in CPU seconds of the benchmark JVM: JVM start to session
        # ready, plus the median of the set-up repetitions
        "setup_s": res["session_cpu_s"] + statistics.median(res["setup_reps_cpu_s"]),
        "live_heap_mb": res["live_heap_mb"],
        # work per second of the JVM's CPU time over the timed window:
        # unlike wall time it does not stretch when other guests take the CPU
        "items_per_cpu_s": items / res["cpu_s"] if res["cpu_s"] else 0.0,
        "disk_mb": res["disk_mb"],
    }
    timings = {"latency.setup_s": res["session_s"] + statistics.median(res["setup_reps_s"]),
               "latency.items_per_s": items_per_s,
               "latency.op_p50_s": pct(op_s, 0.5), "latency.op_p90_s": pct(op_s, 0.9),
               "latency.call_p50_ms": pct(calls, 0.5) * 1e3,
               "latency.call_p90_ms": pct(calls, 0.9) * 1e3,
               "memory.peak_rss_mb": res["peak_rss_mb"],
               "call_p95_ms": pct(calls, 0.95) * 1e3, "ops": len(op_s), "calls": len(calls)}
    return e2e, timings


def _window(res):
    return [s for s in res["spans"] if s["start_s"] >= res.get("window_start_s", 0.0)]


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(workload, res, e2e, timings, checks_failed, attempted):
    spans = _window(res)
    by = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)
    dur = lambda s: s["end_s"] - s["start_s"]
    m = {n: 0.0 for n in per_layer_names()}

    def mean_of(name, field=None):
        xs = by.get(name, [])
        return _mean([dur(s) if field is None else s.get(field, 0) for s in xs])

    for n in ("sources.read_sheet", "transform.toEvents", "analytics.rollup"):
        m[f"{n}.busy_s"] = mean_of(n)
    up = "load.upsert"
    m[f"{up}.busy_s"] = mean_of(up)
    for f in ("jobs", "tasks", "shuffle_mb", "written_mb", "files_written",
              "partitions_rewritten"):
        m[f"{up}.{f}"] = mean_of(up, f)
    if workload == "habits_daily":
        ingests = [o for o in _ops(res) if o["kind"] == "ingest"]
        _, per_ingest = gen.sheet_truth(res["seed"], res["ingests"])
        done = [per_ingest[o["k"] - 1] for o in ingests]
        m[f"{up}.changed_share"] = (sum(c for _, c in done) / sum(b for b, _ in done)
                                    if done else 0.0)
        written = sum(s.get("written_mb", 0) for s in by.get(up, []))
        m["load.write_amp"] = written / e2e["disk_mb"] if e2e["disk_mb"] else 0.0
        panels = [s for p in PANELS for s in by.get(f"analytics.panel.{p}", [])]
        for p in PANELS:
            m[f"analytics.panel.{p}.busy_s"] = mean_of(f"analytics.panel.{p}")
        m["plans.plan_ms"] = _mean([s.get("plan_ms", 0) for s in panels])
        m["load.read.files_scanned"] = _mean([s.get("files_scanned", 0) for s in panels])
    for k in KINDS:
        drains = by.get(f"streaming.{k}", [])
        prog = [[p for p in s.get("progress", [])] for s in drains]
        trig = [sum(p.get("triggerExecution", 0) for p in ps) / 1e3 for ps in prog]
        pre = f"streaming.{k}."
        m[pre + "drain_s"] = _mean([dur(s) for s in drains])
        m[pre + "start_s"] = _mean([dur(s) - t for s, t in zip(drains, trig)])
        m[pre + "add_batch_s"] = _mean([sum(p.get("addBatch", 0) for p in ps) / 1e3 for ps in prog])
        m[pre + "planning_s"] = _mean([sum(p.get("queryPlanning", 0) for p in ps) / 1e3
                                       for ps in prog])
        m[pre + "logs_s"] = _mean([sum(p.get("walCommit", 0) + p.get("commitOffsets", 0)
                                       for p in ps) / 1e3 for ps in prog])
        m[pre + "batches"] = _mean([sum(1 for p in ps if p.get("rows", 0) > 0) for ps in prog])
        m[pre + "no_data_batches"] = _mean([sum(1 for p in ps if p.get("rows", 0) == 0)
                                            for ps in prog])
        m[pre + "jobs"] = mean_of(f"streaming.{k}", "jobs")
        m[pre + "single_task_jobs"] = mean_of(f"streaming.{k}", "single_task_jobs")
    if workload == "stream_ticks":
        m["streaming.dedup.ledger_mb"] = res["ledger_mb"]["dedup"]
        m["streaming.cluster.ledger_mb"] = res["ledger_mb"]["cluster"]
    for c in KERNELS:
        n = f"ext.{c}"
        m[f"{n}.busy_s"] = mean_of(n)
        for f in ("exec_cpu_s", "shuffle_mb", "spill_mb", "jobs"):
            m[f"{n}.{f}"] = mean_of(n, f)
    if workload == "corpus_batch" and res.get("candidate_pairs", 0) > 0:
        m["ext.minhashDupPairs.verified_share"] = res["verified_pairs"] / res["candidate_pairs"]
    wall = res["timed_wall_s"]
    m["jvm.gc_s"] = res["gc_s"]
    m["spark.fixed_cost_share"] = 1.0 - res["exec_run_s"] / (wall * res["cores"]) if wall else 0.0
    m["error_rate"] = checks_failed / attempted if attempted else 0.0
    top = [s for s in spans if s["parent"] == -1]
    m["trace.top_coverage"] = sum(dur(s) for s in top) / wall if wall else 0.0
    for k, v in e2e.items():
        m[f"traced.{k}"] = v
    for k in TRACED_ONLY:
        m[k] = timings[k]
    return m


def self_times(res):
    """Per span name: calls, total and self seconds over the timed window.
    Self time is a span's duration minus the time its child spans cover."""
    spans = _window(res)
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end_s"] - s["start_s"]
    out = {}
    for s in spans:
        d = s["end_s"] - s["start_s"]
        o = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        o["calls"] += 1
        o["total_s"] += d
        o["self_s"] += d - child.get(s["id"], 0.0)
    return out


def summarize(workload, res, checks, trace):
    ops = res["ops"]
    attempted = sum(1 for o in ops if o["kind"] != "pass") + len(checks)
    failed = sum(1 for o in ops if not o["ok"]) + sum(1 for _, ok, _ in checks if not ok)
    e2e, extra = end_to_end(workload, res)
    if trace:
        values = per_layer(workload, res, e2e, extra, failed, attempted)
        metrics = {n: {"value": v, "unit": per_layer_unit(n)} for n, v in values.items()}
    else:
        metrics = {n: {"value": v, "unit": E2E[n]} for n, v in e2e.items()}
    named = _named_figures(workload, e2e, extra, failed, attempted)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics, "named": named, "samples": extra, "e2e": e2e,
            "spans_by_name": self_times(res) if trace else {}}


def _named_figures(workload, e2e, t, failed, attempted):
    """The workload-specific names the figures go by in the README."""
    n = {"error_rate": (failed / attempted, "ratio")}
    if workload == "habits_daily":
        n.update(ingest_rows_per_s=(t["latency.items_per_s"], "1/s"),
                 ingest_p50_s=(t["latency.op_p50_s"], "s"),
                 ingest_p90_s=(t["latency.op_p90_s"], "s"),
                 panel_p50_ms=(t["latency.call_p50_ms"], "ms"),
                 panel_p90_ms=(t["latency.call_p90_ms"], "ms"),
                 panel_p95_ms=(t["call_p95_ms"], "ms"), store_mb=(e2e["disk_mb"], "MB"))
    elif workload == "stream_ticks":
        n.update(drain_events_per_s=(t["latency.items_per_s"], "1/s"),
                 drain_p50_s=(t["latency.call_p50_ms"] / 1e3, "s"),
                 drain_p90_s=(t["latency.call_p90_ms"] / 1e3, "s"),
                 round_p50_s=(t["latency.op_p50_s"], "s"))
    else:
        n.update(corpus_docs_per_s=(t["latency.items_per_s"], "1/s"),
                 kernel_p50_ms=(t["latency.call_p50_ms"], "ms"),
                 pass_p50_s=(t["latency.op_p50_s"], "s"))
    n.update(peak_rss_mb=(t["memory.peak_rss_mb"], "MB"),
             ops=(t["ops"], "count"), calls=(t["calls"], "count"))
    return {k: {"value": v, "unit": u} for k, (v, u) in n.items()}
