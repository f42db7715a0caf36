"""The workloads.  Each drives the package only through its public entry
points and checks every operation's result:

- ``ingest_exactly_once``: ``BufferedStreamSink.start(..., available_now=
  True)`` over seeded parquet chunk files, then one
  ``spark.read.format("fakebigquery")`` read-back per drain;
- ``table_scan``: a DSv2 batch load (``df.write.format("fakebigquery")``)
  and a fixed mix of DSv2 scans.
"""

from __future__ import annotations

import os
import statistics
import time

from . import catalog, inputs, procs
from .harness import CycleResult, Run, percentile

_SCALES = {
    # files per drain, rows per file, partitions per micro-batch
    "ingest": {"full": (3, 16_000, 2), "tiny": (2, 200, 2)},
    # rows in the scanned table, rows in the warm-up table
    "scan": {"full": (12_000, 500), "tiny": (600, 200)},
}


def _p50(values: list[float]) -> float:
    return percentile(values, 50)


class Workload:
    def __init__(self, run: Run):
        self.run = run
        self.backend_root = os.path.join(run.work, "backend")
        self.k = 0  # cycle counter: fresh table / checkpoint names per cycle
        self.last_table: str | None = None

    def make_inputs(self) -> None:
        """Write the seeded input files (before the session starts)."""

    def prepare(self) -> None:
        """Expectations, correctness pre-check and warm-up (untimed)."""

    def begin_traced(self) -> None:
        """Switch on the benchmark-side probes for the traced window."""

    def cycle(self, parent: str | None) -> CycleResult:
        raise NotImplementedError

    def storage_stats(self) -> dict[str, float]:
        """Storage shape of the last table the timed cycles wrote."""
        return self._table_storage(self.last_table) if self.last_table else {}

    def layer_metrics(self, spans, log) -> dict[str, float]:
        return {}

    def _table_storage(self, table: str) -> dict[str, float]:
        """Bytes on disk per stored row and stream count of one table."""
        from flink_big_query_connector_spark.sources.fake_bigquery import (
            FakeBigQuery,
        )

        bq = FakeBigQuery(self.backend_root)
        streams = bq.list_streams(table)
        rows = sum(bq.get_write_stream(table, s).offset for s in streams)
        size = 0
        for s in streams:
            data, meta = bq._stream_paths(table, s)
            size += os.path.getsize(data) + os.path.getsize(meta)
        return {
            "storage.bytes_per_row": size / max(1, rows),
            "storage.streams": len(streams),
        }


def _scan_layer(spans, log) -> dict[str, float]:
    """Reader metrics over ``datasource.scan`` / ``datasource.readback``
    spans: splits come from the task count of each scan's first stage."""
    scans = [s for s in spans
             if s.name in ("datasource.scan", "datasource.readback")]
    if not scans:
        return {}
    splits, run_s, rows, read = [], [], 0, 0
    for s in scans:
        w = log.window([(s.start, s.end)])
        first = min(w["stage_tasks"]) if w["stage_tasks"] else None
        splits.append(w["stage_tasks"][first] if first is not None else 0)
        run_s.append(w["executor_run_s"])
        rows += s.attrs["rows_out"]
        read += s.attrs["bytes_read"]
    streams = statistics.mean(s.attrs["streams"] for s in scans)
    return {
        "datasource.load_s": statistics.mean(s.attrs["load_s"] for s in scans),
        "datasource.scan_splits": statistics.mean(splits),
        "datasource.splits_per_stream": statistics.mean(splits) / streams,
        "datasource.scan_rows_out": rows / len(scans),
        "datasource.scan_executor_run_s": statistics.mean(run_s),
        "datasource.scan_bytes_read_per_row_out": read / max(1, rows),
    }


def _timed_scan(run: Run, parent, name: str, request: str, reader, query,
                streams: int):
    """Build a DataFrame with ``reader()`` and run ``query(df)``, which
    returns ``(result, rows the reader returned)``; record a span with the
    reader attributes when traced.  Returns (result, seconds)."""
    t0 = time.time()
    before = procs.tree_rchar(os.getpid()) if run.traced else 0
    df = reader()
    load_s = time.time() - t0
    out, rows_out = query(df)
    end = time.time()
    if run.traced:
        run.tracer.add(
            name, t0, end, parent, request, load_s=load_s,
            bytes_read=procs.tree_rchar(os.getpid()) - before,
            rows_out=rows_out, streams=streams,
        )
    return out, end - t0


# ---------------------------------------------------------------------------
# ingest_exactly_once
# ---------------------------------------------------------------------------


class IngestExactlyOnce(Workload):
    # set by begin_traced(): the span-recording sink, provider and counters
    sink_cls = None
    provider = None
    metrics = None

    def make_inputs(self) -> None:
        files, rows, parts = _SCALES["ingest"][self.run.scale]
        self.src = os.path.join(self.run.work, "events")
        self.warm_src = os.path.join(self.run.work, "events-warm")
        self.expected = inputs.write_event_chunks(
            self.src, self.run.seed, files, rows, parts
        )
        self.warm_expected = inputs.write_event_chunks(
            self.warm_src, self.run.seed + 1, 1, rows, parts
        )

    def prepare(self) -> None:
        from flink_big_query_connector_spark.sources import bq_datasource

        spark = self.run.spark
        bq_datasource.register(spark)
        # one partition per parquet row group, so every micro-batch runs
        # one writer task per row group (a buffered stream each)
        spark.conf.set("spark.sql.files.openCostInBytes", "1")
        self._drain(self.warm_src, self.warm_expected, parent=None)

    def begin_traced(self) -> None:
        from pyspark import cloudpickle

        from flink_big_query_connector_spark.streaming.client_provider import (
            FakeBigQueryClientProvider,
        )
        from flink_big_query_connector_spark.streaming.metrics import (
            SinkMetrics,
        )
        from flink_big_query_connector_spark.streaming.sinks import (
            BufferedStreamSink,
        )

        from . import backend_probe

        # executors do not have the benchmark on their path
        cloudpickle.register_pickle_by_value(backend_probe)
        run = self.run
        self.metrics = SinkMetrics.create(run.spark)
        self.provider = backend_probe.TimingClientProvider(
            FakeBigQueryClientProvider(self.backend_root), run.side_dir,
            collector=run.tracer,
        )
        provider = self.provider

        class TracedSink(BufferedStreamSink):
            """Wraps ``write_batch`` (the ``foreachBatch`` function) in a
            span and points the provider's executor spans at it."""

            def write_batch(self, df, batch_id):
                sid = run.tracer.new_id()
                provider.parent = sid
                provider.request = f"{self.table}-b{batch_id}"
                start = time.time()
                try:
                    super().write_batch(df, batch_id)
                finally:
                    run.tracer.add(
                        "sinks.write_batch", start, time.time(), None,
                        provider.request, sid, batch_id=batch_id,
                        table=self.table,
                    )

        self.sink_cls = TracedSink

    def _sink(self, table: str):
        from flink_big_query_connector_spark.streaming.sinks import (
            BufferedStreamSink,
        )

        if self.sink_cls is None:
            return BufferedStreamSink(self.backend_root, table)
        return self.sink_cls(
            self.backend_root, table, metrics=self.metrics,
            client_provider=self.provider,
        )

    def _drain(self, src: str, expected, parent) -> CycleResult:
        from pyspark.sql import functions as F

        run, spark = self.run, self.run.spark
        k, self.k = self.k, self.k + 1
        table = f"events_c{k}"
        request = f"drain-{k}"
        ckpt = os.path.join(run.work, "ckpt", f"c{k}")
        stream_df = (
            spark.readStream.schema(inputs.EVENT_SCHEMA_DDL)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        t0 = time.time()
        try:
            query = self._sink(table).start(stream_df, ckpt, available_now=True)
            query.awaitTermination()
        except Exception as e:  # a failed micro-batch fails the drain
            run.fail(f"{request}: {type(e).__name__}: {e}")
            return CycleResult(busy_s=time.time() - t0)
        t1 = time.time()
        batches = [p for p in query.recentProgress if p["numInputRows"] > 0]
        run.ok(len(batches))
        ops = [float(p["durationMs"]["triggerExecution"]) for p in batches]
        if run.traced:
            drain = run.tracer.add("stream.drain", t0, t1, parent, request,
                                   table=table)
            self._trigger_spans(batches, drain.id, table)

        def reader():
            df = (
                spark.read.format("fakebigquery")
                .schema(inputs.EVENT_SCHEMA_DDL)
                .option("root", self.backend_root)
                .option("table", table)
                .load()
            )
            if run.corrupt == "readback":
                df = df.where(F.col("event_id") != 0)
            return df

        def collect(df):
            got = df.toArrow()
            return got, got.num_rows

        streams = (self._table_storage(table)["storage.streams"]
                   if run.traced else 0)
        try:
            got, _ = _timed_scan(run, parent, "datasource.readback",
                                 request, reader, collect, streams)
        except Exception as e:
            run.fail(f"{request} read-back: {type(e).__name__}: {e}")
            return CycleResult(ops, 0, t1 - t0)
        run.check(
            inputs.same_events(got, expected),
            f"{request}: visible rows differ from the input "
            f"({got.num_rows} visible, {expected.num_rows} written)",
        )
        self.last_table = table
        return CycleResult(ops, got.num_rows, t1 - t0)

    def _trigger_spans(self, batches, parent: str, table: str) -> None:
        """Rebuild each trigger as a span from its progress record and hang
        the matching ``sinks.write_batch`` span under it."""
        from datetime import datetime

        tracer = self.run.tracer
        by_batch = {}
        for p in batches:
            start = datetime.fromisoformat(
                p["timestamp"].replace("Z", "+00:00")
            ).timestamp()
            d = p["durationMs"]
            s = tracer.add(
                "stream.trigger", start, start + d["triggerExecution"] / 1e3,
                parent, f"{table}-b{p['batchId']}", durations=dict(d),
            )
            by_batch[p["batchId"]] = s.id
        for s in tracer.named("sinks.write_batch"):
            if s.attrs.get("table") == table and s.parent is None:
                s.parent = by_batch.get(s.attrs["batch_id"])

    def cycle(self, parent) -> CycleResult:
        return self._drain(self.src, self.expected, parent)

    def layer_metrics(self, spans, log) -> dict[str, float]:
        m: dict[str, float] = {}
        trig = [s for s in spans if s.name == "stream.trigger"]
        phases = {
            "trigger_ms_p50": "triggerExecution", "add_batch_ms_p50": "addBatch",
            "wal_commit_ms_p50": "walCommit",
            "commit_offsets_ms_p50": "commitOffsets",
            "query_planning_ms_p50": "queryPlanning",
            "latest_offset_ms_p50": "latestOffset",
        }
        for name, key in phases.items():
            m[f"stream.{name}"] = _p50(
                [s.attrs["durations"].get(key, 0) for s in trig]
            )
        m["stream.overhead_ms_p50"] = _p50([
            s.attrs["durations"]["triggerExecution"]
            - s.attrs["durations"].get("addBatch", 0) for s in trig
        ])
        wb = [s for s in spans if s.name == "sinks.write_batch"]
        m["sinks.write_batch_ms_p50"] = _p50([s.duration * 1e3 for s in wb])
        m["sinks.write_batch_busy_s"] = sum(s.duration for s in wb)
        snap = self.metrics.snapshot()
        for k in ("batch_count", "append_rows", "retry_count",
                  "split_batch_count"):
            m[f"sinks.{k}"] = snap[k]
        appends = [s for s in spans if s.name == "backend.append"]
        ok = [s for s in appends if s.attrs["status"] == "OK"]
        m["backend.append_calls"] = len(appends)
        m["backend.append_rows"] = sum(s.attrs["rows"] for s in ok)
        m["backend.append_bytes"] = sum(s.attrs["bytes"] for s in ok)
        m["backend.append_busy_s"] = sum(s.duration for s in appends)
        m["backend.append_ms_p50"] = _p50([s.duration * 1e3 for s in appends])
        m["backend.append_attempts_per_accepted"] = len(appends) / max(1, len(ok))
        m["batching.rows_per_append"] = m["backend.append_rows"] / max(1, len(ok))
        for verb in ("create_stream", "get_stream", "flush"):
            calls = [s for s in spans if s.name == f"backend.{verb}"]
            m[f"backend.{verb}_busy_s"] = sum(s.duration for s in calls)
            if verb != "get_stream":
                m[f"backend.{verb}_calls"] = len(calls)
        for s in spans:
            status = s.attrs.get("status", "OK") if s.layer == "backend" else "OK"
            if status != "OK":
                key = f"backend.errors.{status}"
                m[key] = m.get(key, 0) + 1
        sink_tasks = log.window([(s.start, s.end) for s in wb])
        m["sinks.task_self_s"] = (
            sink_tasks["executor_run_s"] - m["backend.append_busy_s"]
        )
        m.update(_scan_layer(spans, log))
        return m


# ---------------------------------------------------------------------------
# table_scan
# ---------------------------------------------------------------------------

#: (k threshold, partitions, narrowed): k < 1 keeps ~1% of rows, k < 50
#: ~50%.  The five scans cover every level of the three factors.  Four run
#: at 1 or 4 partitions and one, full width, at 16, where every split
#: parses the whole stream file: the median lands among the common scans
#: and the 90th percentile on the expensive one.
SCAN_MIX = (
    (1, 1, False), (50, 1, True),
    (1, 4, True), (50, 4, False),
    (50, 16, False),
)


class TableScan(Workload):
    def make_inputs(self) -> None:
        import pyarrow.parquet as pq

        rows, warm_rows = _SCALES["scan"][self.run.scale]
        self.table = inputs.scan_table(self.run.seed, rows)
        self.warm_table = inputs.scan_table(self.run.seed + 1, warm_rows)
        self.src = os.path.join(self.run.work, "scan-src")
        self.warm_src = os.path.join(self.run.work, "scan-src-warm")
        for tbl, out in ((self.table, self.src), (self.warm_table, self.warm_src)):
            os.makedirs(out)
            # four parquet files, so the load runs as several write tasks
            step = -(-tbl.num_rows // 4)
            for i in range(4):
                pq.write_table(tbl.slice(i * step, step),
                               os.path.join(out, f"part-{i}.parquet"))
        self.expected = {
            k: inputs.scan_expectation(self.table, k) for k, _, _ in SCAN_MIX
        }
        self.warm_expected = {
            k: inputs.scan_expectation(self.warm_table, k) for k, _, _ in SCAN_MIX
        }

    def prepare(self) -> None:
        from flink_big_query_connector_spark.session import tune_session
        from flink_big_query_connector_spark.sources import bq_datasource

        tune_session(self.run.spark)
        bq_datasource.register(self.run.spark)
        # warm-up: one load and one scan of a small table
        self._load_and_scan(self.warm_src, self.warm_table.num_rows,
                            self.warm_expected, None, mix=(SCAN_MIX[3],))

    def _load_and_scan(self, src: str, n_rows: int, expected: dict,
                       parent, mix=SCAN_MIX) -> CycleResult:
        from pyspark.sql import functions as F

        from flink_big_query_connector_spark.sources.fake_bigquery import (
            FakeBigQuery,
            default_stream_name,
        )

        run, spark = self.run, self.run.spark
        k, self.k = self.k, self.k + 1
        table = f"scan_c{k}"
        request = f"cycle-{k}"
        t0 = time.time()
        try:
            (spark.read.parquet(src).write.format("fakebigquery")
             .option("root", self.backend_root).option("table", table)
             .mode("append").save())
        except Exception as e:
            run.fail(f"{request} load: {type(e).__name__}: {e}")
            return CycleResult()
        t1 = time.time()
        if run.traced:
            run.tracer.add("datasource.write", t0, t1, parent, request)
        stored = FakeBigQuery(self.backend_root).get_write_stream(
            table, default_stream_name(table)
        ).offset
        run.check(stored == n_rows, f"{request} load stored {stored} of {n_rows}")
        self.last_table = table

        res = CycleResult()
        for i, (k_below, parts, narrow) in enumerate(mix):
            def reader(parts=parts, narrow=narrow):
                r = (spark.read.format("fakebigquery")
                     .option("root", self.backend_root)
                     .option("table", table)
                     .option("partitions", parts))
                if narrow:
                    r = r.option("fields", inputs.SCAN_NARROW_FIELDS)
                return r.load()

            def query(df, k_below=k_below):
                row = (df.where(F.col("k") < k_below)
                       .agg(F.count(F.lit(1)), F.sum("qty"), F.sum("id"))
                       .collect()[0])
                out = tuple(int(v or 0) for v in row)
                return out, out[0]

            what = f"{request} scan k<{k_below} partitions={parts} narrow={narrow}"
            try:
                got, secs = _timed_scan(run, parent, "datasource.scan",
                                        f"{request}-s{i}", reader, query, 1)
            except Exception as e:
                run.fail(f"{what}: {type(e).__name__}: {e}")
                continue
            if run.corrupt == "scan" and i == 0:
                got = (got[0], got[1] + 1, got[2])
            run.check(got == expected[k_below],
                      f"{what}: {got} != {expected[k_below]}")
            res.ops_ms.append(secs * 1e3)
            res.rows += n_rows
            res.busy_s += secs
        return res

    def cycle(self, parent) -> CycleResult:
        return self._load_and_scan(self.src, self.table.num_rows,
                                   self.expected, parent)

    def layer_metrics(self, spans, log) -> dict[str, float]:
        m = _scan_layer(spans, log)
        writes = [s for s in spans if s.name == "datasource.write"]
        if writes:  # none when every load in the window failed
            m["datasource.write_s"] = statistics.mean(
                s.duration for s in writes
            )
            m["datasource.write_tasks"] = statistics.mean(
                log.window([(s.start, s.end)])["tasks"] for s in writes
            )
        return m


WORKLOADS = {
    catalog.IEO: IngestExactlyOnce,
    catalog.TS: TableScan,
}
