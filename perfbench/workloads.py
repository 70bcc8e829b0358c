"""What the benchmark runs, and what each per-layer metric should move.

``BENCHMARK.json`` names the workloads and the printed metrics with their
units, directions and bounds, and may carry no other keys. The entry list of
each workload and, for each per-layer metric, the end-to-end metric and
workloads it should move live here.
"""

from __future__ import annotations

# Scale of the fixed tables each workload reads, copied under perfbench/data
# so that a run reads nothing outside its checkout. At sf0.1 batch_relational's
# scans and shuffles split into several tasks at local[4]. iterative_streaming
# costs per job and per trigger rather than per row, and some of its DuckDB
# oracles ran for minutes at sf0.1, so it reads sf0.01.
SF = {"batch_relational": "0.1", "iterative_streaming": "0.01"}


def data_dir(workload: str) -> str:
    return f"perfbench/data/sf{SF[workload]}"


# Direct operator calls, timed as ``operators.train_s``: name -> the catalog
# entry whose oracle checks the call's output. The catalog memoizes trained
# tokenizers per session, so only a direct call trains on every pass.
OPERATOR_CALLS = {"wordpiece_model": "wordpiece_train"}

# Catalog entries and operator calls, one execution each per pass. Every run
# also pays a JVM start and two untimed warm-up passes over the same list.
WORKLOADS: dict[str, tuple[str, ...]] = {
    # Windowed folds and star-schema joins: scans, Catalyst and shuffle. No
    # Python workers and no streaming, so it bypasses the job-count and
    # Arrow-lane work.
    "batch_relational": (
        "fold_window_tumbling",
        "fold_window_session",
        "join_inner_3way",
        "join_asof",
        "window_analytics",
        "tpch_q1_pricing_summary",
    ),
    # Many small driver-scheduled jobs and Python/Arrow traffic (the WordPiece
    # trainer runs about 24 jobs of one task each, its rounds in mapInPandas),
    # and bounded streams with state, triggers, commits and a MERGE into a
    # parquet table. Connected components (99 jobs) and k-means (7 one-task
    # jobs) would add to the job count, but their 2-5 s warm and 3-15 s cold
    # executions do not fit enough passes into the run-time budget.
    "iterative_streaming": (
        "wordpiece_model",
        "streaming_window_counts",
        "streaming_foreach_batch_merge",
    ),
}

ALL = tuple(WORKLOADS)
BATCH, ITER = ALL

# per-layer metric -> (end-to-end metric it should move, on which workloads).
# Metrics not printed (they are not in BENCHMARK.json) are still written to
# the traced record.
MOVES: dict[str, tuple[str, tuple[str, ...]]] = {
    "session.start_s": ("setup_s", ALL),
    "session.warmup_s": ("setup_s", ALL),
    "catalog.build_s": ("pass_s", (ITER,)),
    "catalog.action_s": ("pass_s", (BATCH,)),
    "operators.train_s": ("pass_s", (ITER,)),
    "driver.jobs": ("pass_s", (ITER,)),
    "driver.stages": ("pass_s", (ITER,)),
    "driver.tasks": ("pass_s", (ITER,)),
    "driver.job_s": ("pass_s", (ITER,)),
    "driver.idle_s": ("pass_s", (ITER,)),
    "exec.run_s": ("pass_s", ALL),
    "exec.cpu_s": ("pass_s", ALL),
    "exec.gc_s": ("pass_s", ALL),
    "exec.deserialize_s": ("pass_s", ALL),
    "exec.failed_tasks": ("failed_ratio", ALL),
    "exec.core_util": ("pass_s", ALL),
    "sources.scan_s": ("pass_s", (BATCH,)),
    "sources.files_read": ("pass_s", (BATCH,)),
    "sources.bytes_read": ("pass_s", (BATCH,)),
    "sources.rows_out": ("pass_s", (BATCH,)),
    "shuffle.write_bytes": ("pass_s", ALL),
    "shuffle.read_bytes": ("pass_s", ALL),
    "shuffle.fetch_wait_s": ("pass_s", ALL),
    "shuffle.write_s": ("pass_s", ALL),
    "spill.bytes": ("pass_s", ALL),
    "python.run_s": ("pass_s", (ITER,)),
    "python.bytes_out": ("pass_s", (ITER,)),
    "python.bytes_in": ("pass_s", (ITER,)),
    "streaming.triggers": ("pass_s", (ITER,)),
    "streaming.add_batch_ms": ("pass_s", (ITER,)),
    "streaming.planning_ms": ("pass_s", (ITER,)),
    "streaming.wal_commit_ms": ("pass_s", (ITER,)),
    "streaming.commit_ms": ("pass_s", (ITER,)),
    "streaming.latest_offset_ms": ("pass_s", (ITER,)),
    "streaming.startup_ms": ("pass_s", (ITER,)),
    "streaming.trigger_p50_ms": ("pass_s", (ITER,)),
    "streaming.trigger_tail_ms": ("pass_s", (ITER,)),
    "streaming.rows_per_s": ("pass_s", (ITER,)),
    "state.rows_total": ("pass_s", (ITER,)),
    "state.memory_bytes": ("pass_s", (ITER,)),
    "state.commit_ms": ("pass_s", (ITER,)),
    "state.rows_dropped_late": ("pass_s", (ITER,)),
    "sinks.bytes_written": ("pass_s", (ITER,)),
    "sinks.rows_written": ("pass_s", (ITER,)),
    "sinks.files_written": ("pass_s", (ITER,)),
}
