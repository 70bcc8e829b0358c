"""Per-layer metrics of benchmark entries, read from Spark's event log.

The benchmark marks each entry execution with a span: an id, its wall-clock
interval and the end of its build step. Jobs carry the span id as the
``perfbench.span`` job property when the entry's own thread submits them.
Jobs of a streaming query run on the query's thread without it, so those,
and any other job, are attributed by submission time; the loop is closed,
so at most one entry is running at any time. Streaming progress is
attributed by its query's start time in the same way.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from datetime import datetime

SPAN_PROPERTY = "perfbench.span"

# SQL metric name -> per-layer metric, for metrics read by name. Spark's
# "time to start/initialize Python workers" are left out: the worker takes its
# start time before it blocks waiting for its next task, so a reused worker's
# idle wait counts as initialization (42 s in a 2.5 s entry), and the start
# time goes negative, which Spark's SQL metrics drop. "time to run Python
# workers" runs from the task's start to the worker's finish, per Python node,
# so two chained nodes in one stage count the same task time twice.
_PYTHON_METRICS = {
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_out",
    "data returned from Python workers": "python.bytes_in",
}
_SCAN_METRICS = {
    "scan time": "sources.scan_s",
    "number of files read": "sources.files_read",
    "size of files read": "sources.bytes_read",
    "number of output rows": "sources.rows_out",
}
_WRITTEN_FILES = "number of written files"

# Zero-valued per entry so every record has every key.
LAYER_KEYS = (
    "catalog.build_s",
    "catalog.action_s",
    "operators.train_s",
    "driver.jobs",
    "driver.stages",
    "driver.tasks",
    "driver.job_s",
    "driver.idle_s",
    "exec.run_s",
    "exec.cpu_s",
    "exec.gc_s",
    "exec.deserialize_s",
    "exec.failed_tasks",
    "sources.scan_s",
    "sources.files_read",
    "sources.bytes_read",
    "sources.rows_out",
    "shuffle.write_bytes",
    "shuffle.read_bytes",
    "shuffle.fetch_wait_s",
    "shuffle.write_s",
    "spill.bytes",
    *_PYTHON_METRICS.values(),
    "sinks.bytes_written",
    "sinks.rows_written",
    "sinks.files_written",
)
STREAMING_KEYS = (
    "streaming.triggers",
    "streaming.add_batch_ms",
    "streaming.planning_ms",
    "streaming.wal_commit_ms",
    "streaming.commit_ms",
    "streaming.latest_offset_ms",
    "streaming.startup_ms",
    "state.rows_total",
    "state.memory_bytes",
    "state.commit_ms",
    "state.rows_dropped_late",
)


@dataclass
class EntrySpan:
    """One timed execution of a catalog entry, or of a direct operator call
    (``operator``); times are epoch seconds."""

    span_id: str
    start: float
    build_end: float
    end: float
    operator: bool = False


@dataclass
class EntryTrace:
    layers: dict[str, float] = field(default_factory=dict)
    jobs: list[dict] = field(default_factory=list)  # job spans, with their stages
    triggers: list[dict] = field(default_factory=list)  # batchDuration, numInputRows
    state: dict[str, tuple[int, int]] = field(default_factory=dict)  # query -> (rows, bytes)


def _iso_ms(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000.0


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class _Attributor:
    def __init__(self, spans: list[EntrySpan]):
        self.spans = sorted(spans, key=lambda s: s.start)
        self.by_id = {s.span_id: s for s in spans}

    def at(self, t_ms: float) -> EntrySpan | None:
        t = t_ms / 1000.0
        for s in self.spans:
            if s.start <= t <= s.end:
                return s
        return None


def read(path: str, spans: list[EntrySpan]) -> dict[str, EntryTrace]:
    """Per-layer metrics and job/stage spans for each entry span in ``spans``,
    from the uncompressed, non-rolling event log at ``path``."""
    attr = _Attributor(spans)
    traces = {s.span_id: EntryTrace(layers=dict.fromkeys(LAYER_KEYS, 0.0)) for s in spans}
    acc_meta: dict[int, tuple[bool, str, str]] = {}  # id -> (file scan?, name, type)
    exec_span: dict[int, str] = {}
    job_span: dict[int, str] = {}
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    query_span: dict[str, str] = {}
    query_start: dict[str, float] = {}

    def plan(node: dict) -> None:
        names = {m["name"] for m in node.get("metrics", [])}
        is_scan = "number of files read" in names
        for m in node.get("metrics", []):
            acc_meta[m["accumulatorId"]] = (is_scan, m["name"], m["metricType"])
        for c in node.get("children", []):
            plan(c)

    def sql_metric(layers: dict, acc_id: int, value: float) -> None:
        meta = acc_meta.get(acc_id)
        if meta is None:
            return
        is_scan, name, mtype = meta
        if mtype == "nsTiming":
            value = value / 1e9
        elif mtype == "timing":
            value = value / 1e3
        if name in _PYTHON_METRICS:
            layers[_PYTHON_METRICS[name]] += value
        elif is_scan and name in _SCAN_METRICS:
            layers[_SCAN_METRICS[name]] += value
        elif name == _WRITTEN_FILES:
            layers["sinks.files_written"] += value

    with open(path, encoding="utf-8") as f:
        events = [json.loads(line) for line in f]
    for ev in events:
        kind = ev["Event"]
        if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            plan(ev["sparkPlanInfo"])
            if kind.endswith("SQLExecutionStart"):
                span = attr.at(ev["time"])
                if span is not None:
                    exec_span[ev["executionId"]] = span.span_id
        elif kind.endswith("QueryStartedEvent"):
            t = _iso_ms(ev["timestamp"])
            span = attr.at(t)
            if span is not None:
                query_span[ev["id"]] = span.span_id
                query_start[ev["id"]] = t
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            sid = props.get(SPAN_PROPERTY)
            if sid not in traces:
                sid = query_span.get(props.get("spark.sql.streaming.queryId", ""))
            if sid is None:
                span = attr.at(ev["Submission Time"])
                sid = span.span_id if span else None
            if sid is None:
                continue
            job_span[ev["Job ID"]] = sid
            jobs[ev["Job ID"]] = {
                "job": ev["Job ID"],
                "start_ms": ev["Submission Time"],
                "end_ms": ev["Submission Time"],
                "stages": [],
            }
            for st in ev["Stage IDs"]:
                stage_job[st] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job["end_ms"] = ev["Completion Time"]
                job["result"] = ev["Job Result"]["Result"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            job = jobs.get(stage_job.get(info["Stage ID"]))
            if job is not None and "Submission Time" in info:
                stage = {
                    "stage": info["Stage ID"],
                    "attempt": info["Stage Attempt ID"],
                    "tasks": info["Number of Tasks"],
                    "start_ms": info["Submission Time"],
                    "end_ms": info.get("Completion Time", info["Submission Time"]),
                }
                job["stages"].append(stage)
        elif kind == "SparkListenerTaskEnd":
            sid = job_span.get(stage_job.get(ev["Stage ID"]))
            if sid is None:
                continue
            layers = traces[sid].layers
            layers["driver.tasks"] += 1
            if ev.get("Task End Reason", {}).get("Reason") != "Success":
                layers["exec.failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            layers["exec.run_s"] += m.get("Executor Run Time", 0) / 1e3
            layers["exec.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            layers["exec.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            layers["exec.deserialize_s"] += m.get("Executor Deserialize Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics", {})
            layers["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            layers["shuffle.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics", {})
            layers["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            layers["shuffle.write_s"] += sw.get("Shuffle Write Time", 0) / 1e9
            layers["spill.bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            out = m.get("Output Metrics", {})
            layers["sinks.bytes_written"] += out.get("Bytes Written", 0)
            layers["sinks.rows_written"] += out.get("Records Written", 0)
            for a in ev["Task Info"].get("Accumulables", []):
                if isinstance(a.get("Update"), (int, float)):
                    sql_metric(layers, a["ID"], a["Update"])
                elif isinstance(a.get("Update"), str) and a["Update"].lstrip("-").isdigit():
                    sql_metric(layers, a["ID"], int(a["Update"]))
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            sid = exec_span.get(ev["executionId"])
            if sid is None:
                continue
            for acc_id, value in ev["accumUpdates"]:
                sql_metric(traces[sid].layers, acc_id, value)
        elif kind.endswith("QueryProgressEvent"):
            _progress(traces, query_span, query_start, ev["progress"])

    for job_id, sid in job_span.items():
        traces[sid].jobs.append(jobs[job_id])
    for sid, tr in traces.items():
        span = attr.by_id[sid]
        _job_layers(tr, span)
    return traces


def _progress(traces, query_span, query_start, p: dict) -> None:
    sid = query_span.get(p["id"])
    if sid is None:
        return
    tr = traces[sid]
    layers = tr.layers
    if "streaming.triggers" not in layers:
        layers.update(dict.fromkeys(STREAMING_KEYS, 0.0))
    d = p.get("durationMs", {})
    if not any(t["query"] == p["id"] for t in tr.triggers):
        layers["streaming.startup_ms"] += _iso_ms(p["timestamp"]) - query_start[p["id"]]
    tr.triggers.append(
        {
            "query": p["id"],
            "batch": p["batchId"],
            "batch_ms": p.get("batchDuration", d.get("triggerExecution", 0)),
            "rows": sum(src.get("numInputRows", 0) for src in p.get("sources", [])),
        }
    )
    layers["streaming.triggers"] += 1
    layers["streaming.add_batch_ms"] += d.get("addBatch", 0)
    layers["streaming.planning_ms"] += d.get("queryPlanning", 0)
    layers["streaming.wal_commit_ms"] += d.get("walCommit", 0)
    layers["streaming.commit_ms"] += d.get("commitOffsets", 0)
    layers["streaming.latest_offset_ms"] += d.get("latestOffset", 0)
    for op in p.get("stateOperators", []):
        layers["state.commit_ms"] += op.get("commitTimeMs", 0)
        layers["state.rows_dropped_late"] += op.get("numRowsDroppedByWatermark", 0)
    # State size is a level, not a flow: keep each query's latest reading.
    ops = p.get("stateOperators", [])
    tr.state[p["id"]] = (
        sum(op.get("numRowsTotal", 0) for op in ops),
        sum(op.get("memoryUsedBytes", 0) for op in ops),
    )
    layers["state.rows_total"] = float(sum(v[0] for v in tr.state.values()))
    layers["state.memory_bytes"] = float(sum(v[1] for v in tr.state.values()))


def _job_layers(tr: EntryTrace, span: EntrySpan) -> None:
    layers = tr.layers
    wall = span.end - span.start
    if span.operator:
        layers["operators.train_s"] = wall
    else:
        layers["catalog.build_s"] = span.build_end - span.start
        layers["catalog.action_s"] = span.end - span.build_end
    layers["driver.jobs"] = float(len(tr.jobs))
    layers["driver.stages"] = float(sum(len(j["stages"]) for j in tr.jobs))
    lo, hi = span.start * 1000.0, span.end * 1000.0
    covered = _union_ms([(max(j["start_ms"], lo), min(j["end_ms"], hi)) for j in tr.jobs if j["end_ms"] > lo])
    layers["driver.job_s"] = covered / 1000.0
    layers["driver.idle_s"] = max(wall - covered / 1000.0, 0.0)
