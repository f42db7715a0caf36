"""Every metric the benchmark reports, its unit, and the end-to-end metric
and workload each per-layer metric is expected to move.

``BENCHMARK.json`` lists the same names; ``test_perfbench.py`` checks that
the two agree.  Workloads: ``ingest_exactly_once`` (IEO) and ``table_scan``
(TS).
"""

from __future__ import annotations

#: non-OK ``streaming.errors.StatusCode`` names (the test pins the list)
STATUSES = (
    "INTERNAL", "CANCELLED", "UNAVAILABLE", "ABORTED", "ALREADY_EXISTS",
    "OUT_OF_RANGE", "INVALID_ARGUMENT", "NOT_FOUND", "PERMISSION_DENIED",
    "UNKNOWN",
)

IEO, TS = "ingest_exactly_once", "table_scan"
WORKLOADS = (IEO, TS)

#: name -> (unit, better, bound, meaning per workload).  Every bound is the
#: contract's largest, 0.25: on a shared 4-vCPU host the machine's speed
#: swings with other tenants' load (host CPU steal of 1-12% over a run),
#: and ten runs of one commit spread by 0.1-0.3 of their median.
END_TO_END = {
    "setup_s": (
        "s", "lower", 0.25,
        "all: process start to the start of timing (input generation, "
        "session start, source registration and warm-up)",
    ),
    "peak_rss_mb": (
        "MB", "lower", 0.25,
        "all: peak resident memory of the process tree (benchmark Python, "
        "JVM, Python workers), sampled every 100 ms",
    ),
    "op_latency_p50_ms": (
        "ms", "lower", 0.25,
        "IEO: micro-batch triggerExecution; TS: one scan (load, filter, "
        "aggregate, collect)",
    ),
    "op_latency_p90_ms": (
        "ms", "lower", 0.25,
        "same operations as op_latency_p50_ms, 90th percentile",
    ),
    "rows_per_s": (
        "rows/s", "higher", 0.25,
        "IEO: rows made visible / stream start-to-drain time; TS: stored "
        "rows covered by the scans / scan time",
    ),
    "cycle_s": (
        "s", "lower", 0.25,
        "median closed-loop cycle: IEO one drain of the chunk files plus "
        "read-back; TS one DSv2 load plus the five-scan mix",
    ),
}

_FIXED = "op_latency_p50_ms, rows_per_s on " + IEO
_P90_2PC = "op_latency_p90_ms on " + IEO
_ROWS = "rows_per_s on " + IEO
_SCAN = "op_latency_p50_ms, op_latency_p90_ms on " + TS
_LOAD = "cycle_s on " + TS

#: per-layer metrics where more is better (everything else: less is)
HIGHER_IS_BETTER = frozenset({
    "batching.rows_per_append", "sinks.append_rows", "backend.append_rows",
    "datasource.scan_rows_out",
})

#: name -> (unit, end-to-end metric and workload it should move)
PER_LAYER: dict[str, tuple[str, str]] = {
    "failed_op_ratio": ("ratio", "correctness: failed or wrong ops / attempted"),
    "session.start_s": ("s", "setup_s on all workloads"),
    # Structured Streaming micro-batch engine (StreamingQueryProgress)
    "stream.trigger_ms_p50": ("ms", _FIXED),
    "stream.add_batch_ms_p50": ("ms", _FIXED),
    "stream.wal_commit_ms_p50": ("ms", _FIXED),
    "stream.commit_offsets_ms_p50": ("ms", _FIXED),
    "stream.query_planning_ms_p50": ("ms", _FIXED),
    "stream.latest_offset_ms_p50": ("ms", _FIXED),
    "stream.overhead_ms_p50": ("ms", _FIXED),
    # streaming.sinks
    "sinks.write_batch_ms_p50": ("ms", _FIXED),
    "sinks.write_batch_busy_s": ("s", _ROWS),
    "sinks.batch_count": ("count", _ROWS),
    "sinks.append_rows": ("rows", _ROWS),
    "sinks.retry_count": ("count", _P90_2PC),
    "sinks.split_batch_count": ("count", _P90_2PC),
    "sinks.task_self_s": ("s", _ROWS),
    "batching.rows_per_append": ("rows", _ROWS),
    # streaming.client_provider -> sources.fake_bigquery
    "backend.append_calls": ("count", _ROWS),
    "backend.append_rows": ("rows", _ROWS),
    "backend.append_bytes": ("bytes", _ROWS),
    "backend.append_busy_s": ("s", _ROWS),
    "backend.append_ms_p50": ("ms", _ROWS),
    "backend.append_attempts_per_accepted": ("ratio", _P90_2PC),
    "backend.create_stream_calls": ("count", _P90_2PC),
    "backend.create_stream_busy_s": ("s", _P90_2PC),
    "backend.get_stream_busy_s": ("s", _P90_2PC),
    "backend.flush_calls": ("count", _P90_2PC),
    "backend.flush_busy_s": ("s", _P90_2PC),
    **{f"backend.errors.{s}": ("count", _P90_2PC) for s in STATUSES},
    # sources.bq_datasource writer
    "datasource.write_s": ("s", _LOAD),
    "datasource.write_tasks": ("count", _LOAD),
    "storage.bytes_per_row": ("B/row", f"{_LOAD}; {_ROWS}"),
    "storage.streams": ("count", "cycle_s on " + IEO + " (read-back splits)"),
    # sources.bq_datasource reader
    "datasource.load_s": ("s", _SCAN),
    "datasource.scan_splits": ("count", _SCAN + "; cycle_s on " + IEO),
    "datasource.splits_per_stream": ("ratio", "cycle_s on " + IEO),
    "datasource.scan_rows_out": ("rows", _SCAN),
    "datasource.scan_executor_run_s": ("s", _SCAN),
    "datasource.scan_bytes_read_per_row_out": (
        "B/row", _SCAN + "; rows_per_s on " + TS,
    ),
    # Spark execution over the traced window
    "spark.jobs": ("count", "op_latency_p50_ms on all workloads"),
    "spark.stages": ("count", "op_latency_p50_ms on all workloads"),
    "spark.tasks": ("count", "op_latency_p50_ms on all workloads"),
    "spark.executor_run_s": ("s", "cycle_s on all workloads"),
    "spark.executor_cpu_s": ("s", "cycle_s on all workloads"),
    "spark.task_wait_s": ("s", _FIXED),
    "spark.shuffle_read_bytes": ("bytes", _SCAN),
    "spark.shuffle_write_bytes": ("bytes", _SCAN),
    "spark.spill_bytes": ("bytes", "peak_rss_mb on all workloads"),
    # self time per layer and cycle, from the span tree
    "self.bench_s": ("s", "cycle_s on all workloads (harness bookkeeping)"),
    "self.stream_s": ("s", _FIXED),
    "self.sinks_s": ("s", _FIXED),
    "self.backend_s": ("s", _ROWS),
    "self.datasource_s": ("s", _SCAN + "; " + _LOAD),
    # traced minus untraced end-to-end numbers, same process
    "trace_overhead.op_latency_p50_ms": ("ms", "diagnostic"),
    "trace_overhead.op_latency_p90_ms": ("ms", "diagnostic"),
    "trace_overhead.rows_per_s": ("rows/s", "diagnostic"),
    "trace_overhead.cycle_s": ("s", "diagnostic"),
}
