"""Sink writer behavior tests (ports of BigQueryDefaultSinkTest /
BigQueryBufferedSinkTest / AsyncBigQuerySinkTest interaction assertions)."""

import pytest

from flink_big_query_connector_spark.sources.fake_bigquery import (
    DEFAULT_STREAM,
    FakeBigQuery,
)
from flink_big_query_connector_spark.streaming.config import (
    BatchTriggerSettings,
    WriterSettings,
)
from flink_big_query_connector_spark.streaming.errors import (
    AppendException,
    StatusCode,
)
from flink_big_query_connector_spark.streaming.sinks import (
    AsyncSink,
    BufferedStreamSink,
    DefaultStreamSink,
    write_with_retry,
)

FAST = WriterSettings(retry_count=5, retry_pause_s=0.0)


def rows(n, start=0):
    return [{"value": i} for i in range(start, start + n)]


class CountingClient(FakeBigQuery):
    """Wraps append with a call counter (the Mockito verify() analogue)."""

    def __init__(self, root):
        super().__init__(root)
        self.append_calls = 0

    def append(self, table, stream, rows, offset=-1):
        self.append_calls += 1
        return super().append(table, stream, rows, offset)


# -- retry state machine -----------------------------------------------------


@pytest.mark.parametrize("status", ["INTERNAL", "CANCELLED", "UNAVAILABLE", "ABORTED"])
def test_retryable_status_retries_until_success(tmp_path, status):
    c = CountingClient(str(tmp_path))
    c.script_append_failures([status] * 3)
    n = write_with_retry(c, "t", DEFAULT_STREAM, rows(2), -1, FAST, sleep=lambda s: None)
    assert n == 2
    assert c.append_calls == 4  # 3 failures + 1 success
    assert c.table_count("t") == 2


@pytest.mark.parametrize("status", ["INTERNAL", "UNAVAILABLE"])
def test_retry_exhaustion_fails(tmp_path, status):
    c = CountingClient(str(tmp_path))
    c.script_append_failures([status] * 10)
    with pytest.raises(AppendException):
        write_with_retry(c, "t", DEFAULT_STREAM, rows(2), -1, FAST, sleep=lambda s: None)
    # retry_count=5 -> 6 total attempts, as the reference's
    # times(5)-then-fail interaction tests assert
    assert c.append_calls == 6


@pytest.mark.parametrize("status", ["PERMISSION_DENIED", "NOT_FOUND"])
def test_fatal_status_fails_immediately(tmp_path, status):
    c = CountingClient(str(tmp_path))
    c.script_append_failures([status])
    with pytest.raises(AppendException) as e:
        write_with_retry(c, "t", DEFAULT_STREAM, rows(2), -1, FAST, sleep=lambda s: None)
    assert c.append_calls == 1
    assert e.value.cause.code == StatusCode(status)


def test_oversized_batch_splits_into_three_appends(tmp_path):
    """One oversized batch -> failed append + two half appends = 3 calls
    (BigQueryBufferedSinkTest.java:45-56 expects 3 appends for 6 rows)."""
    c = CountingClient(str(tmp_path))
    c.script_append_failures(["INVALID_ARGUMENT"], message="MessageSize is too large")
    n = write_with_retry(c, "t", DEFAULT_STREAM, rows(6), -1, FAST, sleep=lambda s: None)
    assert n == 6
    assert c.append_calls == 3
    assert c.table_count("t") == 6


def test_offset_trim_on_already_exists(tmp_path):
    """Replay of a half-stored batch appends only the missing tail
    (BigQueryBufferedSinkWriter.java:118-148)."""
    c = CountingClient(str(tmp_path))
    s = c.create_write_stream("t", "BUFFERED")
    c.append("t", s, rows(3), 0)  # rows 0..2 already durable
    c.append_calls = 0
    n = write_with_retry(c, "t", s, rows(5), 0, FAST, sleep=lambda s_: None)
    assert n == 2  # only rows 3,4 newly appended
    info = c.get_write_stream("t", s)
    assert info.offset == 5
    assert c.append_calls == 2  # ALREADY_EXISTS probe + trimmed append


def test_whole_batch_already_stored_is_noop(tmp_path):
    c = CountingClient(str(tmp_path))
    s = c.create_write_stream("t", "BUFFERED")
    c.append("t", s, rows(5), 0)
    n = write_with_retry(c, "t", s, rows(5), 0, FAST, sleep=lambda s_: None)
    assert n == 0
    assert c.get_write_stream("t", s).offset == 5


# -- Spark-integrated sinks --------------------------------------------------


def _events_stream(spark, sf_dir, tmp_path):
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    return (
        spark.readStream.schema(schema)
        .parquet(f"{sf_dir}")
        .selectExpr("event_id", "user_id", "event_type", "value")
    )


def test_default_sink_at_least_once(spark, sf_dir, tmp_path):
    root = str(tmp_path / "bq")
    events = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type"
    )
    sink = DefaultStreamSink(root, "events_sink", FAST,
                             BatchTriggerSettings(max_count=500, max_bytes=1 << 20))
    sink.write_batch(events, 0)
    assert FakeBigQuery(root).table_count("events_sink") == events.count()


def test_buffered_sink_exactly_once_idempotent_replay(spark, sf_dir, tmp_path):
    root = str(tmp_path / "bq")
    events = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type"
    )
    n = events.count()
    sink = BufferedStreamSink(root, "events_eo", FAST)
    sink.write_batch(events, 7)
    assert FakeBigQuery(root).table_count("events_eo") == n
    # Spark replays the same (df, batchId) after a failure: must be a no-op.
    sink.write_batch(events, 7)
    assert FakeBigQuery(root).table_count("events_eo") == n


def test_buffered_sink_replay_after_partial_write(spark, sf_dir, tmp_path):
    """Crash between executor appends and driver commit: re-running the
    batch must trim, flush, and commit without duplicates."""
    root = str(tmp_path / "bq")
    events = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type"
    ).repartition(4)
    n = events.count()
    sink = BufferedStreamSink(root, "events_crash", FAST)

    # Simulate the pre-commit half: appends happen, commit never recorded.
    def write_only(pid, rows_iter):
        rows_ = [r.asDict() for r in rows_iter]
        if not rows_:
            return iter(())
        client = FakeBigQuery(root)
        stream = client.create_write_stream(
            "events_crash", "BUFFERED", name=f"events_crash/streams/b3-p{pid}"
        )
        write_with_retry(client, "events_crash", stream, rows_, 0, FAST)
        return iter(())

    events.rdd.mapPartitionsWithIndex(write_only).collect()
    assert FakeBigQuery(root).table_count("events_crash") == 0  # nothing visible
    assert not sink.is_committed(3)

    sink.write_batch(events, 3)  # the replay
    assert FakeBigQuery(root).table_count("events_crash") == n
    assert sink.is_committed(3)


def test_buffered_sink_replay_rejects_changed_partitioning(spark, sf_dir, tmp_path):
    """Replay with a different partition count must fail loudly, not trim
    against mismatched ``b{batch}-p{pid}`` streams (which would silently
    drop or duplicate rows)."""
    import pytest

    root = str(tmp_path / "bq")
    events = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type"
    )
    sink = BufferedStreamSink(root, "events_repart", FAST)

    four = events.repartition(4)
    # First attempt records the 4-partition layout but crashes pre-commit.
    sink._check_partitioning(11, four.rdd.getNumPartitions())
    assert not sink.is_committed(11)

    with pytest.raises(RuntimeError, match="partitions"):
        sink.write_batch(events.repartition(2), 11)
    # Restoring the original partitioning recovers.
    sink.write_batch(four, 11)
    assert FakeBigQuery(root).table_count("events_repart") == events.count()
    assert sink.is_committed(11)


def test_async_sink_bounded_inflight(spark, sf_dir, tmp_path):
    root = str(tmp_path / "bq")
    events = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type"
    )
    sink = AsyncSink(root, "events_async", FAST,
                     BatchTriggerSettings(max_count=100, max_bytes=1 << 20),
                     max_inflight=4)
    sink.write_batch(events, 0)
    assert FakeBigQuery(root).table_count("events_async") == events.count()


def test_streaming_end_to_end_default_sink(spark, sf_dir, tmp_path):
    """readStream -> foreachBatch sink -> counts match the batch source."""
    import shutil

    root = str(tmp_path / "bq")
    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    # the file source streams a directory; stage the table into one
    stage = tmp_path / "stream_src"
    stage.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", stage / "events.parquet")
    stream = (
        spark.readStream.schema(src.schema)
        .parquet(str(stage))
        .select("event_id", "event_type")
    )
    sink = DefaultStreamSink(root, "events_stream", FAST,
                             BatchTriggerSettings(max_count=1000, max_bytes=1 << 20))
    q = sink.start(stream, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()
    assert FakeBigQuery(root).table_count("events_stream") == src.count()


def test_writer_pool_round_robin_and_invalidate():
    from flink_big_query_connector_spark.streaming.sinks import WriterPool

    created = []

    def factory():
        created.append(object())
        return created[-1]

    pool = WriterPool(factory, streams_per_table=3)
    w = [pool.writer("s") for _ in range(7)]
    # cycles 0,1,2,0,1,2,0 over three lazily-created handles
    assert pool.size == 3
    assert w[0] is w[3] is w[6] and w[1] is w[4] and w[2] is w[5]
    assert w[0] is not w[1]
    pool.invalidate("s")  # drops the most recently acquired handle
    w2 = [pool.writer("s") for _ in range(3)]
    assert pool.size == 3
    assert len(created) == 4


def test_writer_pool_default_single_stream():
    from flink_big_query_connector_spark.streaming.sinks import WriterPool

    pool = WriterPool(object, streams_per_table=1)
    assert pool.writer("a") is pool.writer("a")
    assert pool.size == 1


def test_buffered_sink_restart_from_checkpoint(spark, tmp_path):
    """Crash AFTER the sink committed batch 1 but BEFORE Spark recorded it;
    the restarted query (same checkpointLocation) replays batch 1, the
    commit log turns the replay into a no-op, and every source row is
    visible exactly once — the MiniCluster restart scenario of the
    reference tests (StreamHandlerTest.java:94-150) on Spark checkpoints."""
    import pytest

    from flink_big_query_connector_spark.plans.streaming_queries import (
        _events_stream,
    )
    from flink_big_query_connector_spark.sources.fake_bigquery import FakeBigQuery
    from flink_big_query_connector_spark.streaming.sinks import BufferedStreamSink

    backend = str(tmp_path / "bq")
    ckpt = str(tmp_path / "ckpt")
    table = "p.d.restart"
    sink = BufferedStreamSink(backend, table)
    crash_marker = tmp_path / "crashed"

    def write(df, batch_id):
        sink.write_batch(df, batch_id)
        if batch_id == 1 and not crash_marker.exists():
            crash_marker.write_text("x")
            raise RuntimeError("injected crash after commit")

    def run():
        ev = _events_stream(spark, "/root/testdata/sf0.001").select(
            "event_id", "user_id"
        )
        q = (
            ev.writeStream.foreachBatch(write)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException):
        run()
    assert crash_marker.exists()
    run()  # restart from the same checkpoint

    got = sorted(
        r["event_id"] for r in FakeBigQuery(backend).read_rows(table)
    )
    n = spark.read.parquet("/root/testdata/sf0.001/events.parquet").count()
    assert got == list(range(n))  # every row exactly once, none duplicated


def test_credentials_providers_resolve(tmp_path):
    """A24 (model/config/JsonCredentialsProvider.java:24-28 and siblings):
    the three credential flavors resolve their material and survive
    serialization into executor closures."""
    import json
    import pickle

    from flink_big_query_connector_spark.streaming.config import (
        Credentials,
        DefaultCredentials,
        FileCredentials,
        JsonCredentials,
        WriterSettings,
    )

    assert DefaultCredentials().resolve() == {"type": "application_default"}

    key = {"type": "service_account", "project_id": "p1"}
    keyfile = tmp_path / "key.json"
    keyfile.write_text(json.dumps(key))
    assert FileCredentials(str(keyfile)).resolve() == key
    assert JsonCredentials(json.dumps(key)).resolve() == key

    # settings carry the provider through pickling (executor shipping)
    s = WriterSettings(credentials=FileCredentials(str(keyfile)))
    s2 = pickle.loads(pickle.dumps(s))
    assert isinstance(s2.credentials, Credentials)
    assert s2.credentials.resolve() == key


def test_connection_pool_multiplexes_one_connection():
    """enable_connection_pool (WriterSettings.java:102, StreamWriter
    setEnableConnectionPool): pooled writer handles multiplex ONE shared
    client connection; unpooled handles each open their own."""
    from flink_big_query_connector_spark.streaming.sinks import WriterPool

    made = []

    def factory():
        made.append(object())
        return made[-1]

    pooled = WriterPool(factory, streams_per_table=3,
                        enable_connection_pool=True)
    for _ in range(3):
        pooled.writer("s1")
    pooled.writer("s2")
    assert pooled.size == 4  # 4 cached handles...
    assert pooled.connection_count == 1  # ...over one connection
    assert len(made) == 1

    made.clear()
    unpooled = WriterPool(factory, streams_per_table=3)
    for _ in range(3):
        unpooled.writer("s1")
    assert unpooled.connection_count == 3
    assert len(made) == 3


# -- AIMD congestion control (AsyncSinkBase RateLimitingStrategy analogue) ---


def test_aimd_limiter_halves_on_throttle_and_ramps_back():
    """AIMDRateLimiter trajectory: x0.5 (floor 1) per throttle signal,
    +1 per success up to the configured quota — Flink's default
    congestion-control scaling at request granularity (the strategy the
    reference wires in at sink/async/AsyncBigQuerySink.java:30,47)."""
    from flink_big_query_connector_spark.streaming.sinks import AIMDRateLimiter

    lim = AIMDRateLimiter(8)
    assert lim.limit == 8
    lim.report_throttle()
    assert lim.limit == 4
    lim.report_throttle()
    lim.report_throttle()
    lim.report_throttle()
    assert lim.limit == 1  # floor, never 0
    for _ in range(20):
        lim.report_success()
    assert lim.limit == 8  # capped at max_inflight


def test_aimd_limiter_blocks_at_reduced_quota():
    """After a throttle, acquire() admits only the reduced number of
    concurrent holders until releases/successes reopen the window."""
    from flink_big_query_connector_spark.streaming.sinks import AIMDRateLimiter

    lim = AIMDRateLimiter(4)
    lim.report_throttle()  # limit = 2
    lim.acquire()
    lim.acquire()
    import threading

    third_admitted = threading.Event()

    def try_third():
        lim.acquire()
        third_admitted.set()
        lim.release()

    t = threading.Thread(target=try_third, daemon=True)
    t.start()
    assert not third_admitted.wait(0.15)  # blocked at quota 2
    lim.release()  # frees a slot
    assert third_admitted.wait(2.0)
    lim.release()
    t.join(2.0)


def test_async_sink_under_throttling_still_lands_every_row(spark, sf_dir, tmp_path):
    """End-to-end: a backend speaking UNAVAILABLE for the first appends
    (scripted in the shared backend root, so executor-side clients honor
    it) still lands every row at-least-once through the AIMD-limited
    async path."""
    root = str(tmp_path / "bq")
    FakeBigQuery(root).script_append_failures(["UNAVAILABLE"] * 3)
    events = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type"
    ).coalesce(1)
    sink = AsyncSink(root, "events_aimd", FAST,
                     BatchTriggerSettings(max_count=50, max_bytes=1 << 20),
                     max_inflight=4)
    sink.write_batch(events, 0)
    assert FakeBigQuery(root).table_count("events_aimd") == events.count()


def test_retry_loop_reports_throttle_to_aimd_limiter(tmp_path):
    """The write_with_retry -> AIMD wiring: each retryable status pops the
    quota (x0.5) exactly once, and the post-retry success ramps it back
    +1 — observed on a directly driven limiter."""
    from flink_big_query_connector_spark.streaming.sinks import AIMDRateLimiter

    lim = AIMDRateLimiter(8)
    c = CountingClient(str(tmp_path))
    c.script_append_failures(["UNAVAILABLE", "INTERNAL"])
    n = write_with_retry(
        c, "t", DEFAULT_STREAM, rows(2), -1, FAST,
        sleep=lambda s: None, on_retryable=lim.report_throttle,
    )
    assert n == 2
    assert lim.limit == 2  # 8 -> 4 -> 2 across the two throttles
    lim.report_success()
    assert lim.limit == 3


def test_async_sink_runs_appends_on_injected_executor(spark, sf_dir, tmp_path):
    """ExecutorProvider parity (sink/ExecutorProvider.java:1-9 wired via
    BigQueryStreamSink.java:20): a caller-supplied executor factory on
    WriterSettings owns the append executor — every chunk append of the
    async path must be submitted through it, proven by the provider's
    per-task marker files (the cross-process evidence channel), and
    every row still lands."""
    import dataclasses
    import os as _os

    from flink_big_query_connector_spark.streaming.sinks import (
        RecordingExecutorProvider,
    )

    root = str(tmp_path / "bq")
    markers = tmp_path / "markers"
    markers.mkdir()
    events = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type"
    ).coalesce(1)
    settings = dataclasses.replace(
        FAST, executor_provider=RecordingExecutorProvider(str(markers))
    )
    sink = AsyncSink(root, "events_exec", settings,
                     BatchTriggerSettings(max_count=100, max_bytes=1 << 20),
                     max_inflight=4)
    sink.write_batch(events, 0)
    n_rows = events.count()
    assert FakeBigQuery(root).table_count("events_exec") == n_rows
    n_tasks = len([f for f in _os.listdir(markers) if f.endswith(".task")])
    # one submitted task per 100-row chunk
    assert n_tasks == -(-n_rows // 100)


def test_stream_metrics_concurrent_updates_lose_nothing():
    """StreamMetrics is shared by every task of AsyncSink's per-partition
    pool: unsynchronized read-modify-writes lost increments under
    concurrency.  Hammer one instance from many threads and assert every
    seq bump and counter increment survives."""
    from concurrent.futures import ThreadPoolExecutor as TPE

    from flink_big_query_connector_spark.streaming.metrics import StreamMetrics

    sm = StreamMetrics("t", "s")
    n_threads, per_thread = 8, 500

    def hammer(_):
        for _ in range(per_thread):
            sm.record_append(1, 1000, -1)
            sm.add("split_batch_count", 1)
            sm.add("inflight_wait_seconds", 0.001)

    with TPE(max_workers=n_threads) as pool:
        list(pool.map(hammer, range(n_threads)))
    total = n_threads * per_thread
    assert sm.seq == total
    assert sm.split_batch_count == total
    assert abs(sm.inflight_wait_seconds - total * 0.001) < 1e-6


# -- multi-table routing (BigQueryRecord.getTable / Rows.table) ---------------


def test_multi_table_sink_routes_each_row_to_its_table(spark, sf_dir, tmp_path):
    """Reference contract: each record names its destination table
    (model/BigQueryRecord.java:7, model/Rows.java:9-22); RowBatcherTest
    .java:31-40 asserts per-table envelopes.  Every row must land in
    exactly the table its routing column names — no loss, no duplication,
    no cross-table bleed — and the routing column itself stays out of the
    written payload."""
    from flink_big_query_connector_spark.streaming.sinks import MultiTableSink

    root = str(tmp_path / "bq")
    events = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "event_id", "event_type", "concat('ev_', event_type) AS dest"
    )
    sink = MultiTableSink(
        root, "dest", FAST,
        BatchTriggerSettings(max_count=100, max_bytes=1 << 20),
    )
    sink.write_batch(events, 0)

    bq = FakeBigQuery(root)
    expected = {
        f"ev_{t}": n
        for t, n in events.groupBy("event_type").count().collect()
    }
    total = 0
    for table, n in expected.items():
        got = bq.read_rows(table)
        assert len(got) == n
        # no bleed: every row in ev_X is an X row
        assert {r["event_type"] for r in got} == {table[3:]}
        # payload = data columns only; the routing column is not written
        assert set(got[0].keys()) == {"event_id", "event_type"}
        total += len(got)
    assert total == events.count()


def test_multi_table_sink_trigger_splits_within_each_table(spark, tmp_path):
    """A tiny count trigger forces multiple appends per table out of one
    interleaved partition; per-table totals stay exact (each flush is a
    single-table envelope by construction, as in RowBatcher)."""
    from flink_big_query_connector_spark.streaming.sinks import MultiTableSink

    root = str(tmp_path / "bq")
    # one partition, tables interleaved row by row
    df = spark.createDataFrame(
        [(i, f"t{i % 3}") for i in range(30)], "id long, dest string"
    ).coalesce(1)
    sink = MultiTableSink(
        root, "dest", FAST, BatchTriggerSettings(max_count=4, max_bytes=1 << 20)
    )
    sink.write_batch(df, 0)
    bq = FakeBigQuery(root)
    for t in ("t0", "t1", "t2"):
        got = sorted(r["id"] for r in bq.read_rows(t))
        assert got == [i for i in range(30) if i % 3 == int(t[1])]


def test_multi_table_buffered_sink_exactly_once_replay(spark, sf_dir, tmp_path):
    """Reference parity: the buffered writer takes stream AND table from
    each envelope (BigQueryBufferedSinkWriter.java:53-58) — one 2PC sink,
    N tables, atomic per-batch commit.  Replaying a committed batch id
    must be a no-op across EVERY destination table."""
    from flink_big_query_connector_spark.streaming.sinks import (
        MultiTableBufferedSink,
    )

    root = str(tmp_path / "bq")
    events = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "event_id", "event_type", "concat('eo_', event_type) AS dest"
    )
    expected = {
        f"eo_{t}": n
        for t, n in events.groupBy("event_type").count().collect()
    }
    sink = MultiTableBufferedSink(root, "dest", FAST)
    sink.write_batch(events, 7)
    bq = FakeBigQuery(root)
    for table, n in expected.items():
        assert bq.table_count(table) == n
    sink.write_batch(events, 7)  # replay: exactly-once no-op, all tables
    for table, n in expected.items():
        assert bq.table_count(table) == n


def test_multi_table_buffered_sink_trims_partial_write(spark, sf_dir, tmp_path):
    """Crash between executor appends and driver commit with MULTIPLE
    destination tables: the replay must trim each table's own
    b{batch}-p{pid} streams and commit all tables without duplicates."""
    import json as _json

    from flink_big_query_connector_spark.streaming.sinks import (
        MultiTableBufferedSink,
    )

    root = str(tmp_path / "bq")
    events = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "event_id", "event_type", "concat('eo_', event_type) AS dest"
    ).repartition(4)
    expected = {
        f"eo_{t}": n
        for t, n in events.groupBy("event_type").count().collect()
    }
    sink = MultiTableBufferedSink(root, "dest", FAST)

    # pre-commit half: per-table appends land, commit never recorded
    def write_only(pid, rows_iter):
        by_table = {}
        for r in rows_iter:
            by_table.setdefault(r["dest"], []).append(
                _json.dumps(
                    {"event_id": r["event_id"], "event_type": r["event_type"]},
                    sort_keys=True,
                )
            )
        client = FakeBigQuery(root)
        for table, rows_ in by_table.items():
            stream = client.create_write_stream(
                table, "BUFFERED", name=f"{table}/streams/b3-p{pid}"
            )
            write_with_retry(client, table, stream, rows_, 0, FAST)
        return iter(())

    events.rdd.mapPartitionsWithIndex(write_only).collect()
    bq = FakeBigQuery(root)
    for table in expected:
        assert bq.table_count(table) == 0  # nothing visible pre-commit
    assert not sink.is_committed(3)

    sink.write_batch(events, 3)  # the replay: trims every table's streams
    for table, n in expected.items():
        assert bq.table_count(table) == n
    assert sink.is_committed(3)


def test_multi_table_sink_retries_through_transient_failures(spark, sf_dir, tmp_path):
    """Scripted UNAVAILABLEs on the shared backend: every per-table append
    chain runs the same retry state machine, so all tables still land all
    their rows at least once."""
    from flink_big_query_connector_spark.streaming.sinks import MultiTableSink

    root = str(tmp_path / "bq")
    FakeBigQuery(root).script_append_failures(["UNAVAILABLE"] * 4)
    events = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "event_id", "event_type", "concat('rt_', event_type) AS dest"
    )
    expected = {
        f"rt_{t}": n
        for t, n in events.groupBy("event_type").count().collect()
    }
    sink = MultiTableSink(root, "dest", FAST)
    sink.write_batch(events, 0)
    bq = FakeBigQuery(root)
    for table, n in expected.items():
        assert bq.table_count(table) == n


def test_multi_table_buffered_sink_poison_table_blocks_whole_batch(
    spark, sf_dir, tmp_path
):
    """2PC atomicity across destination tables: a fatal append on ONE
    table fails the batch before the commit phase, so NO table's rows
    become visible and the batch id stays uncommitted — the batch lands
    everywhere or nowhere."""
    from flink_big_query_connector_spark.streaming.sinks import (
        MultiTableBufferedSink,
    )

    root = str(tmp_path / "bq")
    events = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "event_id", "event_type", "concat('px_', event_type) AS dest"
    )
    tables = [
        f"px_{r[0]}"
        for r in events.select("event_type").distinct().collect()
    ]
    FakeBigQuery(root).script_append_failures(
        ["PERMISSION_DENIED"], table=sorted(tables)[0]
    )
    sink = MultiTableBufferedSink(root, "dest", FAST)
    with pytest.raises(Exception):
        sink.write_batch(events, 5)
    bq = FakeBigQuery(root)
    assert not sink.is_committed(5)
    for table in tables:
        assert bq.table_count(table) == 0  # nothing visible anywhere
    # the retry/trim machinery recovers the SAME batch id once the
    # poison clears: replay trims partial appends and commits atomically
    sink.write_batch(events, 5)
    assert sink.is_committed(5)
    expected = {
        f"px_{t}": n
        for t, n in events.groupBy("event_type").count().collect()
    }
    for table, n in expected.items():
        assert bq.table_count(table) == n


def test_multi_table_buffered_sinks_do_not_share_commit_logs(
    spark, sf_dir, tmp_path
):
    """Two independent routed sinks sharing one backend root whose
    routing columns happen to share a NAME must not share a commit log:
    before the sink_id discriminator, the second query's batch 0 looked
    already-committed and its rows silently dropped."""
    from flink_big_query_connector_spark.streaming.sinks import (
        MultiTableBufferedSink,
    )

    root = str(tmp_path / "bq")
    ev_a = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "event_id", "concat('qa_', event_type) AS dest"
    )
    ev_b = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "event_id", "concat('qb_', event_type) AS dest"
    )
    a = MultiTableBufferedSink(root, "dest", FAST, sink_id="query-a")
    b = MultiTableBufferedSink(root, "dest", FAST, sink_id="query-b")
    a.write_batch(ev_a, 0)
    assert a.is_committed(0) and not b.is_committed(0)
    b.write_batch(ev_b, 0)  # same batch id, own log: must actually write
    bq = FakeBigQuery(root)
    n = ev_b.count()
    assert sum(
        bq.table_count(f"qb_{r[0]}")
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_type").distinct().collect()
    ) == n


def test_multi_table_buffered_sink_start_derives_sink_id_from_checkpoint(
    spark, sf_dir, tmp_path
):
    """start() without an explicit sink_id keys the commit log off the
    checkpoint location: stable across restarts of the same query,
    distinct between different queries."""
    from flink_big_query_connector_spark.streaming.sinks import (
        MultiTableBufferedSink,
    )

    root = str(tmp_path / "bq")
    src = str(tmp_path / "src")
    spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "event_id", "concat('ck_', event_type) AS dest"
    ).write.parquet(src)

    def run(ckpt):
        sink = MultiTableBufferedSink(root, "dest", FAST)
        ev = spark.readStream.schema("event_id long, dest string").parquet(src)
        q = sink.start(ev, ckpt, available_now=True)
        q.awaitTermination()
        return sink

    s1 = run(str(tmp_path / "ckpt1"))
    s2 = run(str(tmp_path / "ckpt2"))
    assert s1.sink_id is not None and s2.sink_id is not None
    assert s1.sink_id != s2.sink_id
    assert s1.log_key != s2.log_key
    # same checkpoint -> same derived identity (restart scope)
    s1b = MultiTableBufferedSink(root, "dest", FAST)
    s1b.start(
        spark.readStream.schema("event_id long, dest string").parquet(src),
        str(tmp_path / "ckpt1"),
        available_now=True,
    ).awaitTermination()
    assert s1b.sink_id == s1.sink_id
    # both queries delivered every row exactly once
    bq = FakeBigQuery(root)
    n = spark.read.parquet(src).count()
    total = sum(
        bq.table_count(f"ck_{r[0]}")
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_type").distinct().collect()
    )
    assert total == 2 * n  # query1 (replay no-op on restart) + query2


def test_multi_table_buffered_sink_migrates_legacy_log_on_upgrade_restart(
    spark, sf_dir, tmp_path
):
    """A query that committed batches BEFORE sink ids existed wrote the
    legacy un-suffixed log key.  Restarting it post-upgrade from its
    EXISTING checkpoint derives a sink_id — the legacy commit records
    (and layout manifests) must migrate under the new key, or every
    already-committed batch id replays as a duplicate into the
    destination tables.  A FRESH checkpoint must migrate nothing: its
    legacy records can only belong to other queries (the cross-query
    collision the discriminator fixes)."""
    import os

    from flink_big_query_connector_spark.streaming.sinks import (
        MultiTableBufferedSink,
    )

    root = str(tmp_path / "bq")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "event_id", "concat('mg_', event_type) AS dest"
    )
    # pre-upgrade writer: no sink_id, driven directly -> legacy log key
    legacy = MultiTableBufferedSink(root, "dest", FAST)
    legacy.write_batch(ev, 0)
    legacy.write_batch(ev, 1)
    assert legacy.log_key == "__routed__dest"

    # post-upgrade restart from the query's existing checkpoint
    ckpt = tmp_path / "ckpt_upgrade"
    ckpt.mkdir()
    (ckpt / "metadata").write_text("{}")  # non-empty = pre-existing
    upgraded = MultiTableBufferedSink(root, "dest", FAST)
    upgraded._adopt_checkpoint_identity(str(ckpt))
    assert upgraded.sink_id and upgraded.log_key != "__routed__dest"
    assert upgraded.is_committed(0) and upgraded.is_committed(1)
    # partition-layout manifests migrated too (replay pinning survives)
    new_dir = os.path.join(root, "commits", upgraded.log_key)
    assert any(f.endswith(".json.manifest") for f in os.listdir(new_dir))
    # replaying a migrated batch is a no-op, not a duplicate delivery
    before = {
        t: FakeBigQuery(root).table_count(f"mg_{t}")
        for (t,) in ev.selectExpr("substr(dest, 4)").distinct().collect()
    }
    upgraded.write_batch(ev, 0)
    after = {
        t: FakeBigQuery(root).table_count(f"mg_{t}")
        for (t,) in ev.selectExpr("substr(dest, 4)").distinct().collect()
    }
    assert after == before

    # fresh checkpoint: nothing migrates
    fresh = MultiTableBufferedSink(root, "dest", FAST)
    fresh._adopt_checkpoint_identity(str(tmp_path / "ckpt_fresh"))
    assert not fresh.is_committed(0) and not fresh.is_committed(1)


def test_multi_table_buffered_sink_chunked_appends_and_replay(
    spark, sf_dir, tmp_path
):
    """Trigger-sized chunked appends (the bounded-memory path: one open
    chunk per table, never the whole partition in a dict) deliver every
    row once, and a full replay of the batch trims chunk-by-chunk to a
    no-op."""
    from flink_big_query_connector_spark.streaming.config import (
        BatchTriggerSettings,
    )
    from flink_big_query_connector_spark.streaming.sinks import (
        MultiTableBufferedSink,
    )

    root = str(tmp_path / "bq")
    events = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "event_id", "event_type", "concat('chk_', event_type) AS dest"
    ).repartition(3)
    expected = {
        f"chk_{t}": n
        for t, n in events.groupBy("event_type").count().collect()
    }
    tiny = BatchTriggerSettings(max_count=2)  # force many chunks
    sink = MultiTableBufferedSink(
        root, "dest", FAST, trigger=tiny, sink_id="chunked"
    )
    sink.write_batch(events, 11)
    bq = FakeBigQuery(root)
    for table, n in expected.items():
        assert bq.table_count(table) == n
    # replay of the committed id: no-op
    sink.write_batch(events, 11)
    for table, n in expected.items():
        assert bq.table_count(table) == n
    # uncommitted replay with the commit record removed but durable
    # streams intact: chunked ALREADY_EXISTS trim absorbs every chunk
    import os as _os

    _os.remove(sink._commit_path(11))
    assert not sink.is_committed(11)
    sink.write_batch(events, 11)
    for table, n in expected.items():
        assert bq.table_count(table) == n


def test_retry_backoff_jitter_schedule():
    """gax-parity jitter (r12): jitter_frac=0 keeps the deterministic
    exponential schedule bit-identical; jitter_frac=j removes at most
    j of each delay, uniformly in u."""
    from flink_big_query_connector_spark.streaming.config import (
        WriterRetrySettings,
    )

    plain = WriterRetrySettings()
    assert plain.backoff_jittered(3, 0.99) == plain.backoff(3)
    j = WriterRetrySettings(jitter_frac=0.5)
    assert j.backoff_jittered(2, 0.0) == j.backoff(2)
    assert j.backoff_jittered(2, 1.0) == j.backoff(2) * 0.5
    # cap still applies before jitter
    assert j.backoff_jittered(200, 0.0) == 60.0


def test_buffered_sinks_on_one_table_keep_separate_commit_logs(
    spark, tmp_path
):
    """Two exactly-once queries (different checkpoints) writing the SAME
    table on one backend root are independent: each keys its commit log
    and its stream names by its own checkpoint, so the second query's
    batch 0 is not mistaken for the first query's and all rows land."""
    root = str(tmp_path / "bq")
    for q, first in (("a", 0), ("b", 10)):
        src = str(tmp_path / f"src_{q}")
        spark.range(first, first + 10).selectExpr("id AS v").coalesce(
            1
        ).write.parquet(src)
        ev = spark.readStream.schema("v long").parquet(src)
        BufferedStreamSink(root, "p.d.shared", FAST).start(
            ev, str(tmp_path / f"ckpt_{q}"), available_now=True
        ).awaitTermination()
    got = sorted(r["v"] for r in FakeBigQuery(root).read_rows("p.d.shared"))
    assert got == list(range(20))
