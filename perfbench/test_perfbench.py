"""Invariants of the benchmark and its records.

    python3 -m pytest perfbench/ -q

The parser and comparison tests need no Spark. The record tests run the
benchmark once per workload with tracing on, and once without (about four
minutes at local[4]), and check what it wrote.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import eventlog  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402

BENCHMARK = json.loads((HERE.parent / "BENCHMARK.json").read_text())
SEED = 7


# -- BENCHMARK.json against workloads.py ---------------------------------


def test_every_per_layer_metric_names_what_it_moves():
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(W.WORKLOADS)
    assert {m["name"] for m in BENCHMARK["per_layer"]} <= set(W.MOVES)
    e2e = {m["name"] for m in BENCHMARK["end_to_end"]} | {"failed_ratio"}
    for name, (target, on) in W.MOVES.items():
        assert target in e2e, name
        assert on and set(on) <= set(W.WORKLOADS), name


def test_every_entry_has_an_oracle():
    from zio_analytics_spark import catalog

    for entries in W.WORKLOADS.values():
        for name in entries:
            assert catalog.CATALOG[W.OPERATOR_CALLS.get(name, name)].oracle, name


# -- the oracle comparison ---------------------------------------------------


def test_compare_is_a_multiset_equality(tmp_path):
    import duckdb
    import pyarrow as pa

    import oracle

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    oracle.load_oracle(
        con, "want", "SELECT * FROM (VALUES (1, 0.1 + 0.2, 'a'), (1, 0.1 + 0.2, 'a'), (2, 1.5, 'b')) t(k, x, s)",
        str(tmp_path), "data",
    )
    same = pa.table({"s": ["b", "a", "a"], "k": [2, 1, 1], "x": [1.5, 0.3, 0.3]})
    assert oracle.compare(con, same, "want") is None
    dropped_dup = pa.table({"s": ["b", "a", "b"], "k": [2, 1, 2], "x": [1.5, 0.3, 1.5]})
    assert "not in the result" in oracle.compare(con, dropped_dup, "want")
    changed = pa.table({"s": ["b", "a", "a"], "k": [2, 1, 1], "x": [1.5, 0.3, 0.31]})
    assert "not in the result" in oracle.compare(con, changed, "want")
    assert "rowcount" in oracle.compare(con, same.slice(0, 2), "want")
    assert "columns" in oracle.compare(con, same.rename_columns(["s", "key", "x"]), "want")
    as_text = pa.table({"s": ["b", "a", "a"], "k": ["2", "1", "1"], "x": [1.5, 0.3, 0.3]})
    assert "types differ" in oracle.compare(con, as_text, "want")


# -- the tail rule ---------------------------------------------------------


def test_tail_needs_ten_samples_beyond():
    assert run.tail([1.0] * 10) is None
    value, pct, n = run.tail([float(i) for i in range(20)])
    assert (value, pct, n) == (9.0, 50.0, 20)
    assert sum(1 for v in range(20) if v > value) == 10


# -- the event-log reader on a synthetic log ---------------------------------


def _log(tmp_path: Path, events: list[dict]) -> str:
    path = tmp_path / "app"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    return str(path)


def _job(job_id, t, stages, props):
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Submission Time": t, "Stage IDs": stages, "Properties": props}


def _task(stage, run_ms, metrics=None, accs=()):
    m = {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 1_000_000, "JVM GC Time": 1}
    m.update(metrics or {})
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task End Reason": {"Reason": "Success"},
        "Task Info": {"Accumulables": [{"ID": i, "Update": u} for i, u in accs]},
        "Task Metrics": m,
    }


def test_reader_attributes_jobs_tasks_and_triggers(tmp_path):
    a = eventlog.EntrySpan("p0.a", 100.0, 100.5, 102.0)
    b = eventlog.EntrySpan("p0.b", 102.0, 102.2, 105.0)
    plan = {
        "nodeName": "Scan parquet ",
        "metrics": [
            {"name": "number of files read", "accumulatorId": 1, "metricType": "sum"},
            {"name": "scan time", "accumulatorId": 2, "metricType": "timing"},
            {"name": "number of output rows", "accumulatorId": 3, "metricType": "sum"},
        ],
        "children": [
            {
                "nodeName": "MapInPandas",
                "metrics": [
                    {"name": "data sent to Python workers", "accumulatorId": 4, "metricType": "size"},
                    {"name": "time to initialize Python workers", "accumulatorId": 5, "metricType": "timing"},
                    {"name": "time to run Python workers", "accumulatorId": 6, "metricType": "timing"},
                ],
                "children": [],
            }
        ],
    }
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "executionId": 0, "time": 100_100, "sparkPlanInfo": plan},
        _job(0, 100_100, [0], {eventlog.SPAN_PROPERTY: "p0.a"}),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0, "Number of Tasks": 2, "Submission Time": 100_110, "Completion Time": 100_900}},
        _task(0, 300, {"Shuffle Write Metrics": {"Shuffle Bytes Written": 10, "Shuffle Write Time": 5_000_000}}, [(2, 7), (3, 40), (4, 99), (5, 90_000), (6, 250)]),
        _task(0, 200, None, [(3, 2)]),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 101_000, "Job Result": {"Result": "JobSucceeded"}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates", "executionId": 0, "accumUpdates": [[1, 3]]},
        {"Event": "org.apache.spark.sql.streaming.StreamingQueryListener$QueryStartedEvent", "id": "q", "timestamp": "1970-01-01T00:01:42.300Z"},
        # a streaming job: no span property, attributed through its query
        _job(1, 103_000, [1], {"spark.sql.streaming.queryId": "q"}),
        _task(1, 100, {"Output Metrics": {"Bytes Written": 64, "Records Written": 4}}),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 103_500, "Job Result": {"Result": "JobSucceeded"}},
        {
            "Event": "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent",
            "progress": {
                "id": "q",
                "batchId": 0,
                "timestamp": "1970-01-01T00:01:42.800Z",
                "batchDuration": 900,
                "sources": [{"numInputRows": 6}, {"numInputRows": 4}],
                "durationMs": {"addBatch": 500, "queryPlanning": 100, "walCommit": 50},
                "stateOperators": [{"numRowsTotal": 3, "memoryUsedBytes": 1000, "commitTimeMs": 20, "numRowsDroppedByWatermark": 1}],
            },
        },
        # outside every span: ignored
        _job(2, 200_000, [2], {}),
        _task(2, 5000),
    ]
    traces = eventlog.read(_log(tmp_path, events), [a, b])
    la, lb = traces["p0.a"].layers, traces["p0.b"].layers
    assert la["driver.jobs"] == 1 and la["driver.stages"] == 1 and la["driver.tasks"] == 2
    assert la["exec.run_s"] == pytest.approx(0.5)
    assert la["driver.job_s"] == pytest.approx(0.9)
    assert la["driver.idle_s"] == pytest.approx(2.0 - 0.9)
    assert la["catalog.build_s"] == pytest.approx(0.5)
    assert (la["sources.files_read"], la["sources.rows_out"]) == (3, 42)
    assert la["sources.scan_s"] == pytest.approx(0.007)
    assert la["python.bytes_out"] == 99 and la["python.run_s"] == pytest.approx(0.25)
    # a reused worker's idle wait, which Spark counts as initialization
    assert "python.init_s" not in la
    assert la["shuffle.write_bytes"] == 10 and la["shuffle.write_s"] == pytest.approx(0.005)
    assert "streaming.triggers" not in la
    assert lb["driver.jobs"] == 1 and lb["sinks.bytes_written"] == 64 and lb["sinks.rows_written"] == 4
    assert lb["streaming.triggers"] == 1 and lb["streaming.add_batch_ms"] == 500
    assert lb["streaming.startup_ms"] == pytest.approx(500)
    assert (lb["state.rows_total"], lb["state.rows_dropped_late"], lb["state.commit_ms"]) == (3, 1, 20)
    assert traces["p0.b"].triggers == [{"query": "q", "batch": 0, "batch_ms": 900, "rows": 10}]


# -- records of real traced runs -------------------------------------------


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(SEED), "--seconds", "1", "--trace", str(trace)],
        cwd=HERE.parent,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    cpus = len(os.sched_getaffinity(0))
    record = HERE / "out" / f"{workload}-c{cpus}-t{trace}-s{SEED}.json"
    return line, json.loads(record.read_text())


@pytest.fixture(scope="module")
def traced():
    return {w: _run(w, 1) for w in W.WORKLOADS}


def test_printed_names_match_benchmark_json(traced):
    for line, _ in traced.values():
        assert list(line["metrics"]) == [m["name"] for m in BENCHMARK["per_layer"]]
        for m in BENCHMARK["per_layer"]:
            assert line["metrics"][m["name"]]["unit"] == m["unit"]
            assert isinstance(line["metrics"][m["name"]]["value"], (int, float))
        assert set(line) == {"correct", "attempted", "failed", "metrics"}


def test_outputs_pass_their_oracles(traced):
    for w, (line, record) in traced.items():
        assert line["correct"] and line["failed"] == 0, (w, record["failures"])


def test_every_entry_runs_once_per_pass(traced):
    for w, (_, record) in traced.items():
        items = W.WORKLOADS[w]
        for p in record["passes"]:
            ran = [e["entry"] for e in record["entries"] if e["pass"] == p["pass"]]
            assert sorted(ran) == sorted(items), w
            assert sorted(p["order"]) == sorted(items), w


def test_job_spans_fit_in_their_entry(traced):
    for _, record in traced.values():
        for e in record["entries"]:
            for job in e["jobs"]:
                assert (job["end_ms"] - job["start_ms"]) / 1000.0 <= e["wall_s"] + 1e-3, (e["entry"], job)
            assert e["layers"]["driver.job_s"] <= e["wall_s"] + 1e-3


def test_python_time_fits_in_the_entry(traced):
    # Each Python node of a stage times its own worker over the task, so two
    # chained nodes may count the same task time twice; the cores bound it.
    for _, record in traced.values():
        cpus = record["env"]["cpus"]
        for e in record["entries"]:
            run_s = e["layers"]["python.run_s"]
            assert run_s <= e["wall_s"] * cpus, (e["entry"], run_s)


def test_operator_calls_are_timed_apart_from_the_catalog(traced):
    for _, record in traced.values():
        for e in record["entries"]:
            layers = e["layers"]
            if e["entry"] in W.OPERATOR_CALLS:
                assert layers["operators.train_s"] == pytest.approx(e["wall_s"])
                assert layers["catalog.build_s"] == layers["catalog.action_s"] == 0
            else:
                assert layers["operators.train_s"] == 0
    assert traced["iterative_streaming"][1]["per_layer"]["operators.train_s"] > 0


def test_batch_relational_bypasses_python_and_sinks(traced):
    _, record = traced["batch_relational"]
    for e in record["entries"]:
        for k, v in e["layers"].items():
            if k.startswith(("python.", "sinks.")):
                assert v == 0, (e["entry"], k, v)


def test_streaming_metrics_only_where_streams_run(traced):
    for w, (_, record) in traced.items():
        keys = {k for k in record["per_layer"] if k.startswith(("streaming.", "state."))}
        if any(e.startswith("streaming_") for e in W.WORKLOADS[w]):
            assert keys >= set(eventlog.STREAMING_KEYS) and record["per_layer"]["streaming.triggers"] > 0
        else:
            assert not keys, (w, keys)


def test_record_carries_the_environment(traced):
    for _, record in traced.values():
        env = record["env"]
        for k in ("cpus", "default_parallelism", "sf", "spark_version", "pyspark_version", "seed", "conf"):
            assert env[k] is not None, k
        assert env["conf"]["spark.driver.memory"] == run.DRIVER_MEMORY
        assert env["conf"]["spark.master"] == f"local[{env['cpus']}]"


def test_untraced_run_prints_the_end_to_end_metrics():
    line, record = _run("batch_relational", 0)
    assert list(line["metrics"]) == [m["name"] for m in BENCHMARK["end_to_end"]]
    for m in BENCHMARK["end_to_end"]:
        assert line["metrics"][m["name"]]["value"] > 0
    assert record["failed_ratio"] == 0
