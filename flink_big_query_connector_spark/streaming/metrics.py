"""Sink/stream metrics (reference A26, SURVEY.md §2).

The reference registers per-(table, stream) gauges — ``stream_offset``,
``batch_count``, ``batch_size_mb``, ``split_batch_count``,
``callback_timeouts`` — plus writer-level in-flight counters
(``sink/BigQuerySinkWriter.java:116-128``, ``metric/BigQueryStreamMetrics.java:3-55``).

Spark-idiomatic re-expression:

- **executor-side writer counters** -> SparkContext accumulators (the only
  executor->driver metric channel that survives task retries the way Flink
  gauges survive operator restarts);
- **row/byte gauges on the stream itself** -> ``DataFrame.observe`` columns,
  delivered per micro-batch through ``StreamingQueryProgress``;
- **per-batch snapshots** -> a ``StreamingQueryListener`` that keeps the
  observed metrics of every progress event.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .serializers import json_size


@dataclass
class SinkMetrics:
    """Accumulator-backed counters incremented by the sink writers.

    Mirrors ``BigQueryStreamMetrics`` / ``AsyncBigQueryStreamMetrics``:
    offsets become monotonic counters (Spark has no per-key gauge registry;
    per-stream offsets live in the FakeBigQuery stream metadata and are
    queryable there).
    """

    batch_count: object = None
    append_rows: object = None
    append_bytes: object = None
    split_batch_count: object = None
    retry_count: object = None
    callback_timeouts: object = None

    # PySpark Accumulator.add is a plain read-modify-write on the local
    # value, so increments from AsyncSink's concurrent pool tasks race
    # exactly like the StreamMetrics gauges did.  Class-level (not a
    # field) so instances stay picklable; one process-wide lock is fine —
    # these are driver-thread increments, not a hot executor path.
    _add_lock = threading.Lock()

    def add(self, counter: str, delta=1) -> None:
        """Synchronized accumulator increment — the ONLY way threaded
        sink paths may bump these counters."""
        with SinkMetrics._add_lock:
            getattr(self, counter).add(delta)

    @classmethod
    def create(cls, spark: SparkSession) -> "SinkMetrics":
        sc = spark.sparkContext
        return cls(
            batch_count=sc.accumulator(0),
            append_rows=sc.accumulator(0),
            append_bytes=sc.accumulator(0),
            split_batch_count=sc.accumulator(0),
            retry_count=sc.accumulator(0),
            callback_timeouts=sc.accumulator(0),
        )

    def snapshot(self) -> dict[str, int]:
        return {
            "batch_count": self.batch_count.value,
            "append_rows": self.append_rows.value,
            "append_bytes": self.append_bytes.value,
            "split_batch_count": self.split_batch_count.value,
            "retry_count": self.retry_count.value,
            "callback_timeouts": self.callback_timeouts.value,
        }


class StreamMetrics:
    """Executor-side per-(table, stream, writer) gauge holder — the value
    object of ``metric/BigQueryStreamMetrics.java:3-55``: ``stream_offset``
    (always 0 for at-least-once, per the reference metrics table),
    ``batch_count`` / ``batch_size_mb`` (LAST appended batch),
    ``split_batch_count``, ``callback_timeouts``, plus the writer-level
    ``inflight_wait_seconds`` gauge of
    ``sink/BigQuerySinkWriter.java:72-78``.

    ``seq`` orders snapshots so the driver-side merge keeps the newest
    value for last-batch gauges while taking max for monotonic ones
    (task-retry safe)."""

    __slots__ = (
        "table", "stream", "writer_id", "offset", "batch_count",
        "batch_size_mb", "split_batch_count", "timeout_count",
        "inflight_wait_seconds", "seq", "_lock",
    )

    def __init__(self, table: str, stream: str, writer_id: str = "0"):
        self.table = table
        self.stream = stream
        self.writer_id = writer_id
        self.offset = 0
        self.batch_count = 0
        self.batch_size_mb = 0.0
        self.split_batch_count = 0
        self.timeout_count = 0
        self.inflight_wait_seconds = 0.0
        self.seq = 0
        # One instance is shared by every task of AsyncSink's per-partition
        # thread pool: seq/gauge updates are read-modify-writes, so they
        # must be serialized or up to max_inflight concurrent appends can
        # lose increments (metrics fidelity, not data path).
        self._lock = threading.Lock()

    def record_append(self, n_rows: int, size_bytes: int, offset: int) -> None:
        """After a successful append: last-batch gauges + offset.
        ``updateSize`` divides by 1e6 exactly like the reference."""
        with self._lock:
            self.seq += 1
            self.batch_count = n_rows
            self.batch_size_mb = size_bytes / 1_000_000.0
            if offset >= 0:  # buffered/exactly-once streams track offsets
                self.offset = offset + n_rows

    def add(self, gauge: str, delta) -> None:
        """Atomically increment a monotonic counter gauge
        (``split_batch_count`` / ``timeout_count`` /
        ``inflight_wait_seconds``) from concurrent writer tasks."""
        with self._lock:
            setattr(self, gauge, getattr(self, gauge) + delta)

    def snapshot(self) -> dict:
        with self._lock:  # consistent cut across the gauge set
            return {
                "offset": self.offset,
                "batch_count": self.batch_count,
                "batch_size_mb": self.batch_size_mb,
                "split_batch_count": self.split_batch_count,
                "callback_timeouts": self.timeout_count,
                "inflight_wait_seconds": self.inflight_wait_seconds,
                "seq": self.seq,
            }


def _merge_snapshots(cur: dict, new: dict) -> dict:
    newest = new if new["seq"] >= cur["seq"] else cur
    out = dict(newest)
    # monotonic fields: max survives out-of-order/retried deliveries
    for k in ("offset", "split_batch_count", "callback_timeouts", "seq"):
        out[k] = max(cur[k], new[k])
    out["inflight_wait_seconds"] = max(
        cur["inflight_wait_seconds"], new["inflight_wait_seconds"]
    )
    return out


class StreamMetricsRegistry:
    """Per-(table, stream, writer_id) gauge registry, executor -> driver.

    Spark-idiomatic stand-in for Flink's per-stream metric groups
    (``sink/BigQuerySinkWriter.java:116-128``): executor writer tasks hold
    a local :class:`StreamMetrics` and ``publish`` snapshots into a
    dict-valued accumulator; the driver reads live gauges keyed exactly
    like the reference's ``stream``/``writer_id`` metric-group path."""

    def __init__(self, acc):
        self._acc = acc

    @classmethod
    def create(cls, spark: SparkSession) -> "StreamMetricsRegistry":
        from pyspark.accumulators import AccumulatorParam

        class _GaugeDict(AccumulatorParam):
            def zero(self, value):
                return {}

            def addInPlace(self, a, b):
                for k, snap in b.items():
                    cur = a.get(k)
                    a[k] = snap if cur is None else _merge_snapshots(
                        cur, snap
                    )
                return a

        return cls(spark.sparkContext.accumulator({}, _GaugeDict()))

    def publish(self, sm: StreamMetrics) -> None:
        """Executor side: push the holder's current snapshot."""
        self._acc.add({(sm.table, sm.stream, sm.writer_id): sm.snapshot()})

    def gauges(self) -> dict[tuple, dict]:
        """Driver side: {(table, stream, writer_id): gauge dict}."""
        return {k: dict(v) for k, v in self._acc.value.items()}

    def stream_gauges(self, table: str, stream: str) -> dict:
        """Gauges for one stream, merged across its writers (round-robin
        ``streams_per_table`` fan-out shows up as multiple writer ids)."""
        out: dict | None = None
        for (t, s, _w), snap in self._acc.value.items():
            if t == table and s == stream:
                out = snap if out is None else _merge_snapshots(out, snap)
        return dict(out) if out else {}


def with_observed_sink_metrics(
    df: DataFrame, name: str = "sink_metrics"
) -> DataFrame:
    """Attach row/byte observations (the ``batch_size_mb`` analogue).

    Computed JVM-side per micro-batch and reported via
    ``StreamingQueryProgress.observedMetrics[name]`` — zero extra jobs.
    """
    size = json_size(df)
    return df.observe(
        name,
        F.count(F.lit(1)).alias("rows"),
        F.sum(size).alias("bytes"),
        F.max(size).alias("max_row_bytes"),
    )


class ObservedMetricsStore:
    """StreamingQueryListener capturing observed metrics per batch.

    Usage::

        store = ObservedMetricsStore.attach(spark)
        ... run query with with_observed_sink_metrics(df) ...
        store.batches  # [(batchId, {"rows": ..., "bytes": ...}), ...]
    """

    def __init__(self):
        self.batches: list[tuple[int, dict]] = []

    @classmethod
    def attach(cls, spark: SparkSession, name: str = "sink_metrics"):
        from pyspark.sql.streaming import StreamingQueryListener

        store = cls()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                om = event.progress.observedMetrics
                if name in om:
                    row = om[name]
                    store.batches.append(
                        (event.progress.batchId, row.asDict())
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        listener = _Listener()
        spark.streams.addListener(listener)
        store._listener = listener
        store._spark = spark
        return store

    def detach(self):
        self._spark.streams.removeListener(self._listener)

    def totals(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for _bid, m in self.batches:
            for k, v in m.items():
                if v is not None:
                    out[k] = out.get(k, 0) + v
        return out
