"""Per-layer metrics from the span records of a traced run.

The benchmark's JVM side (Trace.scala) writes one JSON line per record: benchmark
spans (`span`), benchmark counters (`event`), Spark jobs (`job_start`,
`job_end`), completed stages (`stage`), SQL executions (`sql`) and streaming
progress (`progress`). This module attributes every job to a layer - the
module of the program's source file named in the job's call site
(`src/main/scala/graft/<module>/`), else the benchmark span it ran under -
and reduces the records to the per-layer metrics of BENCHMARK.json.

Every metric is reported for both workloads; a layer a workload does not
reach reads 0.
"""
import collections
import json
import os
import re
import statistics

FAMILIES = ["corpus", "dedup", "events", "mm", "sample", "shard", "sim", "text", "transit"]
KERNELS = ["gram_counts", "hash_embed", "clf_stats", "dsir_buckets", "block_hashes",
           "deflate_length"]
MODULES = ["sources", "engine", "functions", "operators", "streaming", "app", "bench"]
# the end-to-end metrics of BENCHMARK.json, printed by untraced runs
END_TO_END_UNITS = {"setup_s": "s", "latency_p50_s": "s", "latency_p90_s": "s",
                    "throughput_per_s": "1/s", "cold_s": "s"}

PER_LAYER = [
    ("streaming.union_trigger_ms_p50", "ms"),
    ("streaming.union_jobs_per_trigger", "count"),
    ("engine.staging_jobs_per_trigger", "count"),
    ("engine.staging_ms_per_trigger", "ms"),
    ("streaming.trigger_growth", "ratio"),
    ("streaming.query_planning_ms_p50", "ms"),
    ("streaming.wal_commit_ms_p50", "ms"),
    ("streaming.windowed_trigger_ms_p50", "ms"),
    ("streaming.native_trigger_ms_p50", "ms"),
    ("streaming.task_s_per_trigger", "s"),
    ("streaming.publish_ms_p50", "ms"),
    ("streaming.publish_rows_per_call", "count"),
    ("streaming.publish_changed_ratio", "ratio"),
    ("streaming.catchup_trigger_s", "s"),
    ("streaming.catchup_jobs", "count"),
    ("streaming.catchup_publish_s", "s"),
    ("streaming.catchup_task_s", "s"),
    ("streaming.result_rows", "count"),
    ("streaming.state_rows", "count"),
    ("streaming.state_bytes", "bytes"),
    ("sources.input_lag_events_max", "count"),
    ("sources.gen_late_ms_max", "ms"),
    ("operators.construct_s", "s"),
    ("operators.construct_jobs", "count"),
    ("operators.planning_s", "s"),
    ("operators.action_s", "s"),
    ("operators.action_jobs", "count"),
    ("engine.staging_jobs", "count"),
    ("engine.staging_s", "s"),
    ("operators.single_task_stage_s", "s"),
    ("operators.task_s", "s"),
    ("operators.parallelism", "ratio"),
    ("operators.shuffle_read_bytes", "bytes"),
    ("operators.shuffle_write_bytes", "bytes"),
    ("operators.spill_bytes", "bytes"),
    ("engine.artifact_builds", "count"),
    ("engine.artifact_build_s", "s"),
] + [(f"operators.{f}.warm_s", "s") for f in FAMILIES] \
  + [(f"functions.{k}_ns_per_doc", "ns") for k in KERNELS] \
  + [(f"layer.{m}.{x}", u) for m in MODULES for x, u in (("jobs", "count"), ("job_s", "s"))] \
  + [("jvm.peak_rss_mb", "MB")] \
  + [(f"trace.{n}", u) for n, u in END_TO_END_UNITS.items()]

CALLSITE = re.compile(r" at ([A-Za-z0-9_$]+\.scala):[0-9]+")


def module_map(root):
    """Source file name -> module, for every program file."""
    base = os.path.join(root, "src", "main", "scala")
    out = {}
    for d, _, fs in os.walk(base):
        rel = os.path.relpath(d, os.path.join(base, "graft"))
        module = "app" if rel == "." or rel.startswith("..") else rel.split(os.sep)[0]
        for f in fs:
            out[f] = module
    return out


def load(path):
    by = collections.defaultdict(list)
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            by[r["type"]].append(r)
    return by


class Jobs:
    """Jobs joined with their end times, stages and layer."""

    def __init__(self, recs, modules):
        ends = {r["job"]: r["time_ms"] for r in recs["job_end"]}
        stage_job = {}
        for r in recs["job_start"]:
            for s in r["stages"]:
                stage_job.setdefault(s, r["job"])
        self.stages = collections.defaultdict(list)
        for s in recs["stage"]:
            if s["stage"] in stage_job:
                self.stages[stage_job[s["stage"]]].append(s)
        self.jobs = []
        for r in recs["job_start"]:
            m = CALLSITE.search(r["callsite"])
            r = dict(r, end_ms=ends.get(r["job"], r["time_ms"]),
                     file=m.group(1) if m else None)
            r["dur_ms"] = r["end_ms"] - r["time_ms"]
            r["layer"] = modules.get(r["file"], "bench") if r["file"] else "bench"
            self.jobs.append(r)

    def where(self, pred):
        return [j for j in self.jobs if pred(j)]

    def stage_sum(self, jobs, key):
        return sum(s[key] for j in jobs for s in self.stages[j["job"]])

    def single_task_stage_ms(self, jobs):
        return sum(s["end_ms"] - s["submit_ms"] for j in jobs for s in self.stages[j["job"]]
                   if s["tasks"] == 1 and s["end_ms"] > 0)


def trigger_spans(progress):
    """One span per streaming trigger with input, ending at its progress
    report; ids are negative so they never clash with benchmark spans."""
    return [{"id": -(i + 1), "parent": 0, "kind": f"trigger:{p['query']}",
             "name": str(p["batch_id"]), "query_id": p["query_id"],
             "start_ms": p["time_ms"] - p["duration"].get("triggerExecution", 0),
             "dur_ms": p["duration"].get("triggerExecution", 0)}
            for i, p in enumerate(progress) if p["input_rows"] > 0]


def self_times(spans, jobs):
    """Per span kind: count, total and self milliseconds. Self time is a
    span's duration minus the part of it covered by its child spans and by
    the jobs attributed to it (a streaming job to its trigger's span)."""
    children = collections.defaultdict(list)
    trigger = {(s["query_id"], s["name"]): s["id"] for s in spans if "query_id" in s}
    for s in spans:
        children[s["parent"]].append((s["start_ms"], s["start_ms"] + s["dur_ms"]))
    for j in jobs:
        if j["query_id"]:
            sid = trigger.get((j["query_id"], j["batch_id"]))
        else:
            sid = int(j["span"]) if j["span"] else None
        if sid is not None:
            children[sid].append((j["time_ms"], j["end_ms"]))
    out = collections.defaultdict(lambda: {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
    for s in spans:
        lo, hi = s["start_ms"], s["start_ms"] + s["dur_ms"]
        covered, cur = 0.0, lo
        for a, b in sorted(children[s["id"]]):
            a, b = max(a, cur), min(b, hi)
            if b > a:
                covered += b - a
                cur = b
        k = out[s["kind"]]
        k["count"] += 1
        k["total_ms"] += s["dur_ms"]
        k["self_ms"] += s["dur_ms"] - covered
    return dict(out)


def p50(xs):
    return statistics.median(xs) if xs else 0.0


def transit_metrics(recs, jobs, r, extra):
    m = {}
    live_start = r["live_start_ms"]
    final = [s for s in recs["span"] if s["kind"] == "publish" and s["name"] == "final"]
    live_end = final[0]["start_ms"] if final else float("inf")
    prog = [p for p in recs["progress"] if p["input_rows"] > 0]

    def in_live(t):
        return live_start <= t < live_end

    union = [p for p in prog if p["query"] == "union_runner"]
    live_u = [p for p in union if in_live(p["time_ms"])]
    catch_u = [p for p in union if p["time_ms"] < live_start]
    union_id = union[0]["query_id"] if union else None
    live_batches = {str(p["batch_id"]) for p in live_u}
    catch_batches = {str(p["batch_id"]) for p in catch_u}
    live_jobs = jobs.where(lambda j: j["query_id"] == union_id and j["batch_id"] in live_batches)
    staging = [j for j in live_jobs if j["persists"]]
    n = max(1, len(live_u))
    trig = [p["duration"].get("triggerExecution", 0) for p in live_u]
    k = max(1, len(trig) // 3)
    m["streaming.union_trigger_ms_p50"] = p50(trig)
    m["streaming.union_jobs_per_trigger"] = len(live_jobs) / n
    m["engine.staging_jobs_per_trigger"] = len(staging) / n
    m["engine.staging_ms_per_trigger"] = sum(j["dur_ms"] for j in staging) / n
    m["streaming.trigger_growth"] = (statistics.mean(trig[-k:]) / statistics.mean(trig[:k])
                                     if trig and trig[0] > 0 else 0.0)
    m["streaming.query_planning_ms_p50"] = p50([p["duration"].get("queryPlanning", 0) for p in live_u])
    m["streaming.wal_commit_ms_p50"] = p50([p["duration"].get("walCommit", 0) for p in live_u])
    m["streaming.windowed_trigger_ms_p50"] = p50(
        [p["duration"].get("triggerExecution", 0) for p in prog
         if p["query"] == "windowed_counts" and in_live(p["time_ms"])])
    m["streaming.native_trigger_ms_p50"] = p50(
        [p["duration"].get("triggerExecution", 0) for p in prog
         if p["query"] not in ("union_runner", "windowed_counts") and in_live(p["time_ms"])])
    m["streaming.task_s_per_trigger"] = jobs.stage_sum(live_jobs, "task_ms") / 1e3 / n
    pubs = [s["dur_ms"] for s in recs["span"] if s["kind"] == "publish" and s["name"] == "live"]
    m["streaming.publish_ms_p50"] = p50(pubs)
    calls = collections.defaultdict(lambda: [0, 0])
    for e in recs["event"]:
        if e["kind"] == "publish_rows" and in_live(e["end_ms"]):
            calls[e["end_ms"]][0] += e["rows"]
            calls[e["end_ms"]][1] += e["changed"]
    wrote = [c for c in calls.values() if c[0] > 0]
    m["streaming.publish_rows_per_call"] = (sum(c[0] for c in wrote) / len(wrote)) if wrote else 0.0
    m["streaming.publish_changed_ratio"] = (sum(c[1] for c in wrote) / sum(c[0] for c in wrote)
                                            if wrote else 0.0)
    m["streaming.catchup_trigger_s"] = sum(p["duration"].get("triggerExecution", 0)
                                           for p in catch_u) / 1e3
    m["streaming.catchup_jobs"] = len(jobs.where(
        lambda j: j["query_id"] == union_id and j["batch_id"] in catch_batches))
    m["streaming.catchup_publish_s"] = r["catchup_publish_ms"] / 1e3
    wire = [s for s in recs["span"] if s["kind"] == "catchup" and s["name"] == "wire"]
    t0 = wire[0]["start_ms"] if wire else 0
    m["streaming.catchup_task_s"] = jobs.stage_sum(
        jobs.where(lambda j: t0 <= j["time_ms"] < live_start), "task_ms") / 1e3
    m["streaming.result_rows"] = r["result_rows"]
    m["streaming.state_rows"] = r["state_rows"]
    m["streaming.state_bytes"] = r["state_bytes"]
    m["sources.input_lag_events_max"] = extra["input_lag_trips_max"]
    m["sources.gen_late_ms_max"] = extra["gen_late_ms_max"]
    measured = jobs.where(lambda j: t0 <= j["time_ms"] < live_start)
    return m, measured


def batch_metrics(recs, jobs, r):
    m = {}
    passes = [s for s in recs["span"] if s["kind"] == "pass" and s["name"] == "warm"]
    last = passes[-1]
    kids = [s for s in recs["span"] if s["parent"] == last["id"]]
    ids = {str(s["id"]): s for s in kids}
    in_pass = jobs.where(lambda j: j["span"] in ids)
    construct = [j for j in in_pass if ids[j["span"]]["kind"] == "query-construct"]
    action = [j for j in in_pass if ids[j["span"]]["kind"] == "query-action"]
    staging = [j for j in in_pass if j["persists"]]
    lo, hi = last["start_ms"], last["start_ms"] + last["dur_ms"]
    m["operators.construct_s"] = sum(s["dur_ms"] for s in kids if s["kind"] == "query-construct") / 1e3
    m["operators.construct_jobs"] = len(construct)
    m["operators.planning_s"] = sum(q["planning_ms"] for q in recs["sql"]
                                    if lo <= q["time_ms"] <= hi + 1000) / 1e3
    m["operators.action_s"] = sum(s["dur_ms"] for s in kids if s["kind"] == "query-action") / 1e3
    m["operators.action_jobs"] = len(action)
    m["engine.staging_jobs"] = len(staging)
    m["engine.staging_s"] = sum(j["dur_ms"] for j in staging) / 1e3
    m["operators.single_task_stage_s"] = jobs.single_task_stage_ms(in_pass) / 1e3
    task_s = jobs.stage_sum(in_pass, "task_ms") / 1e3
    m["operators.task_s"] = task_s
    m["operators.parallelism"] = task_s / (last["dur_ms"] / 1e3)
    m["operators.shuffle_read_bytes"] = jobs.stage_sum(in_pass, "shuffle_read")
    m["operators.shuffle_write_bytes"] = jobs.stage_sum(in_pass, "shuffle_write")
    m["operators.spill_bytes"] = jobs.stage_sum(in_pass, "spill")
    m["engine.artifact_builds"] = r["artifact_builds"]
    m["engine.artifact_build_s"] = r["artifact_build_s"]
    fam_s = collections.defaultdict(float)
    for f, t in zip(r["families"], r["warm"][-1]):
        fam_s[f] += t[0] + t[1]
    for f in FAMILIES:
        m[f"operators.{f}.warm_s"] = fam_s[f]
    for k in KERNELS:
        m[f"functions.{k}_ns_per_doc"] = r["kernel_ns_per_doc"].get(k, 0.0)
    return m, in_pass


def per_layer(workload, spans_path, e2e, extra, root):
    """(metrics dict in the output format, trace summary for the run record)."""
    recs = load(spans_path)
    jobs = Jobs(recs, module_map(root))
    r = extra["result"]
    if workload == "transit_stream":
        m, measured = transit_metrics(recs, jobs, r, extra)
    else:
        m, measured = batch_metrics(recs, jobs, r)
    for mod in MODULES:
        js = [j for j in measured if j["layer"] == mod]
        m[f"layer.{mod}.jobs"] = len(js)
        m[f"layer.{mod}.job_s"] = sum(j["dur_ms"] for j in js) / 1e3
    m["jvm.peak_rss_mb"] = r["peak_rss_kb"] / 1024.0
    for n in END_TO_END_UNITS:
        m[f"trace.{n}"] = e2e[n]
    units = dict(PER_LAYER)
    metrics = {n: {"value": float(m.get(n) or 0.0), "unit": units[n]} for n, _ in PER_LAYER}
    summary = {"records": {k: len(v) for k, v in recs.items()},
               "jobs_by_layer": dict(collections.Counter(j["layer"] for j in jobs.jobs)),
               "span_self_time": self_times(recs["span"] + trigger_spans(recs["progress"]),
                                            jobs.jobs)}
    return metrics, summary
