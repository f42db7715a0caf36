"""Sink writers: at-least-once, exactly-once (2PC), and async.

Spark-first port of the reference's three sink implementations:

- :class:`DefaultStreamSink` — at-least-once appends to the ``_default``
  stream (reference ``sink/defaultStream/``).  Semantics come from Spark's
  replay: a failed micro-batch re-runs in full, so each append only has to
  be durable before ``foreachBatch`` returns.

- :class:`BufferedStreamSink` — exactly-once via buffered streams + a
  two-phase commit (reference ``sink/buffered/``).  Spark has no committer
  operator, so the protocol is: deterministic per-(batchId, partitionId)
  stream names -> offset-checked appends (replay trims via ALREADY_EXISTS)
  -> driver flushes rows visible and records the batchId in a commit log.
  Replay of a committed batch is a no-op; replay of a half-written batch
  trims and re-flushes idempotently.

- :class:`AsyncSink` — at-least-once with bounded in-flight async appends
  (reference ``sink/async/``): a thread pool + AIMD congestion-control
  limiter (:class:`AIMDRateLimiter`, the RateLimitingStrategy analogue)
  replaces Flink's AsyncSinkBase buffering; awaiting all futures before
  the micro-batch returns replaces the Phaser barrier.

Like the reference's one ``BigQuerySinkWriter`` base, each write body
exists once and routes rows as ``(table, line)``: the single-table sinks
route to a constant table, :class:`MultiTableSink` and
:class:`MultiTableBufferedSink` add a routing column.  Every writer —
these sinks and the DSv2 writers — chunks with ``batching.chunk_rows``
and appends through :func:`append_chunks`.

The shared retry state machine (:func:`write_with_retry`) mirrors the
reference's gRPC status branching (``sink/buffered/BigQueryBufferedSinkWriter
.java:72-190`` and ``sink/async/AsyncBigQuerySinkWriter.java:107-204``):
INTERNAL/CANCELLED pause-retry, UNAVAILABLE/ABORTED retry, UNKNOWN
recreate-retry, ALREADY_EXISTS trims already-stored rows, oversized batches
split in half recursively, OUT_OF_RANGE and everything else fail the batch.
"""

from __future__ import annotations

import dataclasses
import os
import random
import sys
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from concurrent.futures import TimeoutError as FuturesTimeoutError
from threading import Condition

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import ensure_package_on_executors
from ..sources.fake_bigquery import DEFAULT_STREAM, default_stream_name
from .batching import chunk_rows, json_size_of
from .client_provider import ClientProvider, FakeBigQueryClientProvider
from .config import BatchTriggerSettings, WriterSettings
from .errors import (
    AppendException,
    BigQueryError,
    MessageTooLargeError,
    OffsetAlreadyExistsError,
    StatusCode,
    StreamFinalizedError,
)
from .serializers import json_line

RETRYABLE_PAUSE = {StatusCode.INTERNAL, StatusCode.CANCELLED}
RETRYABLE = {StatusCode.UNAVAILABLE, StatusCode.ABORTED}
RECREATE_AND_RETRY = {StatusCode.UNKNOWN}


def _table_lines(df: DataFrame, table: str | None, table_col: str | None):
    """The micro-batch as JSON lines, serialized JVM-side (codegen
    ``to_json``, A17: Python tasks append raw lines, no Row
    materialization, no per-row ``json.dumps``), plus the function that
    turns a partition's rows into ``(table, line)`` pairs.

    A one-table sink routes every line to the constant ``table`` and ships
    no table column.  A routed sink ships the ``table_col`` value beside
    the line of the other columns, so the routing column stays out of the
    payload (the reference's ``BigQueryRecord.getTable()``)."""
    if table_col is None:
        return (
            df.select(json_line(df.columns)),
            lambda rows: ((table, r[0]) for r in rows),
        )
    data_cols = [c for c in df.columns if c != table_col]
    return (
        df.select(F.col(table_col).cast("string"), json_line(data_cols)),
        lambda rows: rows,
    )


def _chunk_bounds(
    settings: WriterSettings, trigger: BatchTriggerSettings | None
) -> BatchTriggerSettings:
    """Bounds of one append: the trigger's count and size, never more
    than the append byte budget.  Without a trigger the budget alone
    bounds a chunk."""
    budget = settings.append_budget_bytes
    if trigger is None:
        return BatchTriggerSettings(max_count=sys.maxsize, max_bytes=budget)
    return dataclasses.replace(
        trigger, max_bytes=min(trigger.max_bytes, budget)
    )


class WriterPool:
    """Per-task writer cache with round-robin across ``streams_per_table``
    connections (reference A9: ``sink/BigQuerySinkWriter.java:65-68`` index
    cycling, ``:80-89`` lazy cache).  One pool lives per
    ``foreachPartition`` task — the per-subtask writer map analogue; raising
    ``streams_per_table`` fans appends for one stream over N client
    connections.  ``invalidate`` drops a handle so the next acquire rebuilds
    it (reference A10 recreate-on-closed, ``:91-111``).

    ``enable_connection_pool`` mirrors ``WriterSettings.java:102`` /
    ``BigQueryProtoClientProvider.java:47-58`` (StreamWriter
    ``setEnableConnectionPool``): pooled writers MULTIPLEX one shared
    client connection instead of opening a dedicated connection per
    cached handle — with it, a task holds 1 connection regardless of
    streams_per_table; without it, connections scale with handles."""

    def __init__(
        self,
        factory,
        streams_per_table: int = 1,
        enable_connection_pool: bool = False,
    ):
        self._factory = factory
        self._n = max(1, streams_per_table)
        self._pooled = enable_connection_pool
        self._shared = None
        self._cache: dict = {}
        self._next_idx: dict = {}

    def _connect(self):
        if not self._pooled:
            return self._factory()
        if self._shared is None:
            self._shared = self._factory()
        return self._shared

    def writer(self, stream: str):
        i = self._next_idx.get(stream, 0)
        self._next_idx[stream] = (i + 1) % self._n
        key = (stream, i)
        if key not in self._cache:
            self._cache[key] = self._connect()
        return self._cache[key]

    def invalidate(self, stream: str) -> None:
        last = (self._next_idx.get(stream, 0) - 1) % self._n
        self._cache.pop((stream, last), None)

    @property
    def size(self) -> int:
        return len(self._cache)

    @property
    def connection_count(self) -> int:
        """Distinct client connections held (the pool's whole point)."""
        return len({id(c) for c in self._cache.values()})


def write_with_retry(
    client,  # any StorageWriteClient (client_provider.py) — the retry
    # machine branches only on the typed errors in errors.py
    table: str,
    stream: str,
    rows: list[dict],
    offset: int,
    settings: WriterSettings,
    trace_id: str | None = None,
    sleep=time.sleep,
    _depth: int = 0,
    metrics=None,
    stream_metrics=None,
    on_retryable=None,
) -> int:
    """Append ``rows`` at ``offset`` (-1 for default stream), surviving the
    transient-status taxonomy; returns rows actually appended (post-trim)."""
    trace_id = trace_id or uuid.uuid4().hex[:8]
    attempt = 0
    while True:
        try:
            client.append(table, stream, rows, offset)
            if metrics is not None:
                metrics.add("batch_count")
                metrics.add("append_rows", len(rows))
            if stream_metrics is not None:
                stream_metrics.record_append(
                    len(rows), sum(json_size_of(r) for r in rows), offset
                )
            return len(rows)
        except MessageTooLargeError:
            # Oversized: split in half recursively, preserving offsets
            # (reference BigQueryBufferedSinkWriter.java:167-173).
            if len(rows) <= 1:
                raise AppendException(
                    trace_id, table, stream, offset, attempt,
                    MessageTooLargeError(json_size_of(rows[0]) if rows else 0),
                )
            mid = len(rows) // 2
            first, second = rows[:mid], rows[mid:]
            if metrics is not None:
                metrics.add("split_batch_count")
            if stream_metrics is not None:
                stream_metrics.add("split_batch_count", 1)
            n1 = write_with_retry(
                client, table, stream, first, offset, settings,
                trace_id, sleep, _depth + 1, metrics, stream_metrics,
                on_retryable,
            )
            n2 = write_with_retry(
                client, table, stream, second,
                offset + len(first) if offset >= 0 else -1,
                settings, trace_id, sleep, _depth + 1, metrics,
                stream_metrics, on_retryable,
            )
            return n1 + n2
        except OffsetAlreadyExistsError as e:
            # Rows up to e.actual_offset are already durably stored
            # (checkpoint replay): skip them, append the tail at the
            # expected offset (reference :118-148).
            already = e.actual_offset - e.expected_offset
            if already >= len(rows):
                return 0  # whole batch already stored
            rows = rows[already:]
            offset = e.actual_offset
            continue
        except StreamFinalizedError:
            raise  # caller decides (stream-state handler recreates)
        except BigQueryError as e:
            if e.code in RETRYABLE_PAUSE:
                attempt += 1
                if on_retryable is not None:
                    on_retryable()
                if metrics is not None:
                    metrics.add("retry_count")
                if attempt > settings.retry_count:
                    raise AppendException(
                        trace_id, table, stream, offset, attempt, e
                    )
                sleep(settings.retry_pause_s)
                continue
            if e.code in RETRYABLE:
                attempt += 1
                if on_retryable is not None:
                    on_retryable()
                if metrics is not None:
                    metrics.add("retry_count")
                if attempt > settings.retry_count:
                    raise AppendException(
                        trace_id, table, stream, offset, attempt, e
                    )
                sleep(
                    settings.retry.backoff_jittered(
                        attempt - 1, random.random()
                    )
                )
                continue
            if e.code in RECREATE_AND_RETRY:
                # UNKNOWN / callback timeout: recreate the writer connection
                # then retry.  The fake client is connectionless, so this is
                # just a bounded retry.
                attempt += 1
                if on_retryable is not None:
                    on_retryable()
                if metrics is not None:
                    metrics.add("retry_count")
                if attempt > settings.retry_count:
                    raise AppendException(
                        trace_id, table, stream, offset, attempt, e
                    )
                continue
            # OUT_OF_RANGE, PERMISSION_DENIED, other INVALID_ARGUMENT, ...
            raise AppendException(trace_id, table, stream, offset, attempt, e)


def append_chunks(
    chunks,
    open_stream,
    client_for,
    settings: WriterSettings,
    metrics=None,
    registry=None,
    writer_id: str = "0",
) -> dict[str, tuple[str, int]]:
    """The per-stream append loop of every writer: the sinks' write
    bodies and both DSv2 writers.

    ``chunks`` yields ``(table, rows)``.  A table's first chunk asks
    ``open_stream(table)`` for ``(stream, offset)``: offset -1 is a
    default stream (no offsets); otherwise it is the stream's first
    offset, and it advances by each chunk's LENGTH — not by the post-trim
    count ``write_with_retry`` returns, because trimmed rows already sit
    at exactly those offsets.  ``client_for(table)`` is asked per chunk
    (a ``WriterPool`` round-robins there).  With a ``registry``, each
    stream's gauges publish after every append.  Returns
    ``{table: (stream, next_offset)}``."""
    from .metrics import StreamMetrics

    streams: dict[str, list] = {}
    for table, rows in chunks:
        if table not in streams:
            stream, offset = open_stream(table)
            sm = (
                StreamMetrics(table, stream, writer_id)
                if registry is not None
                else None
            )
            streams[table] = [stream, offset, sm]
        stream, offset, sm = streams[table]
        write_with_retry(
            client_for(table), table, stream, rows, offset, settings,
            metrics=metrics, stream_metrics=sm,
        )
        if offset >= 0:
            streams[table][1] = offset + len(rows)
        if sm is not None:
            registry.publish(sm)
    return {t: (stream, end) for t, (stream, end, _) in streams.items()}


# ---------------------------------------------------------------------------
# At-least-once: default stream
# ---------------------------------------------------------------------------


class DefaultStreamSink:
    """At-least-once sink writing whole micro-batches to ``_default``.

    ``foreachBatch`` -> ``foreachPartition``: appends run on executors in
    parallel (one writer per partition, the per-subtask writer analogue);
    the micro-batch completes only when every partition finished, which is
    the Phaser/flush-on-checkpoint barrier of the reference.

    The write body routes rows as ``(table, line)``; this sink is its
    one-table case (every line goes to ``table``), :class:`MultiTableSink`
    adds the routing column.
    """

    table_col: str | None = None  # routed subclasses name the column

    def __init__(
        self,
        backend_root: str,
        table: str,
        settings: WriterSettings | None = None,
        trigger: BatchTriggerSettings | None = None,
        metrics=None,
        stream_registry=None,
        client_provider: ClientProvider | None = None,
    ):
        self.backend_root = backend_root
        self.table = table
        self.settings = settings or WriterSettings()
        self.trigger = trigger or BatchTriggerSettings()
        self.metrics = metrics
        self.stream_registry = stream_registry
        # the BigQueryClientProvider seam (client_provider.py): the sink
        # holds a picklable factory, never a concrete client
        self.client_provider = client_provider or FakeBigQueryClientProvider(
            backend_root
        )

    def write_batch(self, df: DataFrame, batch_id: int) -> None:
        ensure_package_on_executors(df.sparkSession)
        settings = self.settings
        bounds = _chunk_bounds(settings, self.trigger)
        metrics = self.metrics
        registry = self.stream_registry
        provider = self.client_provider
        lines, route = _table_lines(df, self.table, self.table_col)

        def write_partition(rows_iter):
            pool = WriterPool(
                provider.client,
                settings.streams_per_table,
                settings.enable_connection_pool,
            )
            append_chunks(
                chunk_rows(route(rows_iter), bounds, routed=True),
                lambda table: (DEFAULT_STREAM, -1),
                # cache key = the table's full stream path (embeds the
                # table, as the reference's writer map does); the append
                # itself targets the table's bare ``_default`` stream
                lambda table: pool.writer(default_stream_name(table)),
                settings, metrics, registry, uuid.uuid4().hex[:8],
            )

        lines.foreachPartition(write_partition)

    def start(self, stream_df: DataFrame, checkpoint_dir: str, **options):
        return _start_foreach_batch(
            self.write_batch, stream_df, checkpoint_dir, **options
        )


class MultiTableSink(DefaultStreamSink):
    """At-least-once sink that routes EACH RECORD to its own table.

    The reference's records carry their destination: ``BigQueryRecord
    .getTable()`` (``model/BigQueryRecord.java:7``), the batch envelope
    carries the table (``model/Rows.java:9-22``), and ``RowBatcher`` takes
    it from the first element of each keyed batch
    (``process/RowBatcher.java:22,28-30`` — upstream ``keyBy`` guarantees
    single-table batches; ``RowBatcherTest.java:31-40`` asserts the
    per-table envelopes).  Spark analogue: the destination is a COLUMN.
    One stream fans into N tables inside a single ``foreachBatch``; no
    per-table query, no repartition.

    The write body is :class:`DefaultStreamSink`'s; this class only names
    the routing column.  Each table a partition task meets gets its own
    trigger-sized open batch (``chunk_rows(routed=True)``) and its own
    ``WriterPool`` entry, so writers fan out per table like the
    reference's per-subtask writer map (A9).
    """

    def __init__(
        self,
        backend_root: str,
        table_col: str,
        settings: WriterSettings | None = None,
        trigger: BatchTriggerSettings | None = None,
        metrics=None,
        client_provider: ClientProvider | None = None,
    ):
        super().__init__(
            backend_root, None, settings, trigger, metrics,
            client_provider=client_provider,
        )
        self.table_col = table_col


# ---------------------------------------------------------------------------
# Exactly-once: buffered streams + two-phase commit
# ---------------------------------------------------------------------------


class BufferedStreamSink:
    """Exactly-once sink: buffered appends made visible atomically with a
    per-batch commit record.

    Commit protocol per micro-batch (batchId is Spark's replay key):

    1. skip if batchId is in the commit log (idempotent replay);
    2. executors append partitions to deterministic streams
       ``b{batchId}-p{partitionId}`` at offset-checked positions — replay
       after a crash trims already-stored rows via ALREADY_EXISTS;
    3. committables (table, stream, end_offset) return to the driver,
       which calls ``flush_rows(end_offset - 1)`` (rows become visible)
       and then atomically records the batchId.

    A crash between 3's flush and the log write replays the batch: appends
    trim to no-ops, flush at the same offset is tolerated (ALREADY_EXISTS
    semantics of the reference committer), and the log is written — rows
    are visible exactly once.

    The write body routes rows as ``(table, line)``; this sink is its
    one-table case, :class:`MultiTableBufferedSink` adds the routing
    column.  The one-table case has no trigger: a partition's lines chunk
    only by the append byte budget, so a partition under the budget is ONE
    append (per-row fixed costs dominate small appends).

    SINK IDENTITY.  The commit log and the stream names are keyed by a
    per-query ``sink_id`` that ``start()`` derives from the checkpoint
    location: two queries sharing a backend root and a destination must
    not share a log, or the second query's batch ids look
    already-committed and its rows silently drop.  A checkpoint-derived
    id is stable across restarts of the SAME query, which is exactly the
    scope exactly-once replay needs.

    UPGRADE / DIRECT-USE CONTRACT: a query that ran BEFORE sink ids
    existed committed under the un-suffixed legacy log key; when
    ``start()`` derives an id for a restart from a PRE-EXISTING
    checkpoint, the legacy log's commit records (and partition-layout
    manifests) are migrated into the new key first, so already-committed
    batch ids still replay as no-ops instead of duplicating.  Callers
    driving :meth:`write_batch` directly (no ``start()``, so no
    checkpoint to derive from) MUST set ``sink_id`` whenever two sinks
    can share a backend root and destination — without it they share the
    legacy log key and inherit the cross-query batch-id collision.
    """

    table_col: str | None = None  # routed subclasses name the column

    def __init__(
        self,
        backend_root: str,
        table: str,
        settings: WriterSettings | None = None,
        metrics=None,
        stream_registry=None,
        client_provider: ClientProvider | None = None,
    ):
        self.backend_root = backend_root
        self.table = table
        self.settings = settings or WriterSettings()
        self.trigger: BatchTriggerSettings | None = None
        self.sink_id: str | None = None
        self.client_provider = client_provider or FakeBigQueryClientProvider(
            backend_root
        )
        self._client = None
        self.metrics = metrics
        self.stream_registry = stream_registry

    @property
    def client(self):
        """Driver-side commit client, created lazily at FIRST use (the
        flush step of the commit phase) — never in ``__init__``
        (ADVICE r11): a provider whose ``client()`` needs a live
        environment must not fail at sink construction, and the sink
        must not hold a connection-like handle for its whole lifetime
        when the provider-never-holds-a-live-connection principle is the
        module's contract."""
        if self._client is None:
            self._client = self.client_provider.client()
        return self._client

    # -- commit log --------------------------------------------------------
    def _legacy_log_key(self) -> str:
        if self.table_col is None:
            return self.table
        return f"__routed__{self.table_col}"

    @property
    def log_key(self) -> str:
        """The commit log's directory name: the legacy key, suffixed with
        the sink id when there is one."""
        base = self._legacy_log_key()
        return f"{base}__{self.sink_id}" if self.sink_id else base

    def _log_dir(self, key: str) -> str:
        return os.path.join(self.backend_root, "commits", key.replace("/", "__"))

    def _commit_path(self, batch_id: int) -> str:
        d = self._log_dir(self.log_key)
        os.makedirs(d, exist_ok=True)
        return os.path.join(d, f"{batch_id}.json")

    def is_committed(self, batch_id: int) -> bool:
        return os.path.exists(self._commit_path(batch_id))

    def _record_commit(self, batch_id: int, committables: list) -> None:
        import json

        tmp = self._commit_path(batch_id) + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"batch_id": batch_id, "committables": committables}, f)
        os.replace(tmp, self._commit_path(batch_id))

    def _check_partitioning(self, batch_id: int, num_partitions: int) -> None:
        """Pin the batch's partition layout across replays.

        The per-partition streams are named ``b{batchId}-p{pid}`` and the
        ALREADY_EXISTS trim assumes a replayed partition carries the SAME
        row prefix as the first attempt.  If the partition count changes
        between attempts (e.g. ``spark.sql.shuffle.partitions`` was edited
        before restart), rows redistribute across streams and the trim
        would silently drop or duplicate — so the first attempt records
        the layout in a manifest and any replay with a different count
        fails loudly instead (mirrors the offset-integrity guarantees of
        ``sink/buffered/BigQueryBufferedSinkWriter.java:118-148``).
        """
        import json

        path = self._commit_path(batch_id) + ".manifest"
        if os.path.exists(path):
            with open(path) as f:
                recorded = json.load(f)["num_partitions"]
            if recorded != num_partitions:
                raise RuntimeError(
                    f"batch {batch_id} replayed with {num_partitions} "
                    f"partitions but was first attempted with {recorded}; "
                    "refusing to trim against mismatched streams "
                    "(restore the original partitioning to recover)"
                )
            return
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"batch_id": batch_id, "num_partitions": num_partitions}, f)
        os.replace(tmp, path)

    # -- write path --------------------------------------------------------
    def write_batch(self, df: DataFrame, batch_id: int) -> None:
        if self.is_committed(batch_id):
            return  # replay of a committed batch: exactly-once no-op

        ensure_package_on_executors(df.sparkSession)
        settings = self.settings
        bounds = _chunk_bounds(settings, self.trigger)
        metrics = self.metrics
        registry = self.stream_registry
        provider = self.client_provider
        lines, route = _table_lines(df, self.table, self.table_col)
        # the sink id reaches the STREAM names too: two queries hitting
        # the same table with the same (batch, partition) ids would
        # otherwise share a stream, and the second query's appends trim
        # against the first query's durable rows into silent no-ops
        prefix = f"s{self.sink_id}-" if self.sink_id else ""

        def write_partition(pid: int, rows_iter):
            # Rows stream once through the chunker: memory per task is
            # (#tables seen) x (one chunk), never the whole partition.
            # Chunks append at a running offset within each table's
            # per-(batch, partition) stream; chunk boundaries are
            # deterministic for a replayed partition (same rows, same
            # order — the layout manifest pins the partitioning), so
            # ALREADY_EXISTS trimming absorbs partial first attempts
            # chunk by chunk.
            client = provider.client()
            streams = append_chunks(
                chunk_rows(route(rows_iter), bounds, routed=True),
                lambda table: (
                    client.create_write_stream(
                        table, "BUFFERED",
                        name=f"{table}/streams/{prefix}b{batch_id}-p{pid}",
                    ),
                    0,
                ),
                lambda table: client,
                settings, metrics, registry, str(pid),
            )
            return ((t, stream, end) for t, (stream, end) in streams.items())

        self._check_partitioning(batch_id, lines.rdd.getNumPartitions())
        committables = lines.rdd.mapPartitionsWithIndex(
            write_partition
        ).collect()
        # Commit phase (driver = the committer operator): one flush per
        # (table, stream), then ONE atomic batch record — the batch
        # appears in every destination table together or (on replay
        # after a crash here) idempotently again
        for table, stream, end in committables:
            self.client.flush_rows(table, stream, end - 1)
        self._record_commit(batch_id, committables)

    # -- sink identity -----------------------------------------------------
    def _migrate_legacy_log(self) -> None:
        """Copy legacy (pre-sink_id) commit records and partition-layout
        manifests under the new discriminated key.  Pre-upgrade, every
        query on this backend root shared the legacy log, so claiming
        its batch ids preserves pre-upgrade replay semantics exactly
        for old batches while new batches get the isolated log."""
        import glob
        import shutil

        legacy = self._log_dir(self._legacy_log_key())
        if not os.path.isdir(legacy):
            return
        new_dir = self._log_dir(self.log_key)
        os.makedirs(new_dir, exist_ok=True)
        for pattern in ("*.json", "*.json.manifest"):
            for src in glob.glob(os.path.join(legacy, pattern)):
                dst = os.path.join(new_dir, os.path.basename(src))
                if not os.path.exists(dst):
                    shutil.copy2(src, dst)

    def _adopt_checkpoint_identity(self, checkpoint_dir: str) -> None:
        """Derive ``sink_id`` from the checkpoint location (the streaming
        query's durable identity: same query restart -> same commit log,
        different query on the same backend root -> its own log).

        A restart from a checkpoint that PREDATES sink ids holds batches
        committed under the legacy shared key — those are migrated
        before the first batch or they would replay as duplicates.  A
        fresh checkpoint migrates nothing: legacy records there can only
        belong to OTHER queries (the cross-query collision being
        fixed)."""
        import hashlib

        pre_existing = os.path.isdir(checkpoint_dir) and bool(
            os.listdir(checkpoint_dir)
        )
        self.sink_id = hashlib.md5(
            os.path.abspath(checkpoint_dir).encode()
        ).hexdigest()[:12]
        if pre_existing:
            self._migrate_legacy_log()

    def start(self, stream_df: DataFrame, checkpoint_dir: str, **options):
        if self.sink_id is None:
            self._adopt_checkpoint_identity(checkpoint_dir)
        return _start_foreach_batch(
            self.write_batch, stream_df, checkpoint_dir, **options
        )


class MultiTableBufferedSink(BufferedStreamSink):
    """Exactly-once 2PC with per-record table routing.

    The reference's buffered writer is already per-envelope-table: every
    append takes stream AND table from the ``Rows`` envelope
    (``sink/buffered/BigQueryBufferedSinkWriter.java:53-58`` —
    ``rows.getStream(), rows.getTable()``), so one exactly-once sink
    serves any number of destination tables.  Spark analogue: the
    destination is a column; each partition task appends each table's
    rows to its own deterministic BUFFERED stream
    ``b{batchId}-p{partitionId}`` UNDER THAT TABLE, in trigger-sized
    chunks.  One commit log entry per batch covers every (table, stream)
    pair the batch touched, so a batch becomes visible atomically across
    ALL its destination tables (the reference's committer collects
    exactly such per-table committables from ``prepareCommit``,
    ``BigQueryBufferedSinkWriter.java:193-199``).

    Everything else — the write body, replay safety, the sink identity
    and the legacy-log migration — is :class:`BufferedStreamSink`'s; this
    class names the routing column, keeps a trigger, and accepts an
    explicit ``sink_id``.  Its legacy log key is
    ``__routed__{table_col}``."""

    def __init__(
        self,
        backend_root: str,
        table_col: str,
        settings: WriterSettings | None = None,
        metrics=None,
        trigger: BatchTriggerSettings | None = None,
        sink_id: str | None = None,
        client_provider: ClientProvider | None = None,
    ):
        super().__init__(
            backend_root, None, settings, metrics,
            client_provider=client_provider,
        )
        self.table_col = table_col
        self.trigger = trigger or BatchTriggerSettings()
        self.sink_id = sink_id


# ---------------------------------------------------------------------------
# Async at-least-once
# ---------------------------------------------------------------------------


class AIMDRateLimiter:
    """Congestion-control in-flight limiter — the analogue of the
    RateLimitingStrategy Flink's AsyncSinkBase applies to the reference's
    async sink (`sink/async/AsyncBigQuerySink.java:30,47` wires the
    configured strategy into AsyncSinkWriterConfiguration; Flink's
    default is AIMD congestion control).  Request-granular here:
    additive increase of the in-flight quota (+1) per successful append,
    multiplicative decrease (x0.5, floor 1) whenever an append hits a
    retryable/throttled status — so a backend signalling pressure
    (UNAVAILABLE, INTERNAL, ...) immediately halves concurrency and the
    quota ramps back as appends succeed.  Bounded by [1, max_inflight];
    with no congestion it behaves exactly like the fixed semaphore."""

    def __init__(self, max_inflight: int, decrease_factor: float = 0.5):
        self.max = max(1, max_inflight)
        self.decrease_factor = decrease_factor
        self.limit = self.max
        self.inflight = 0
        self._cv = Condition()

    def acquire(self) -> None:
        with self._cv:
            while self.inflight >= self.limit:
                self._cv.wait()
            self.inflight += 1

    def release(self) -> None:
        with self._cv:
            self.inflight -= 1
            self._cv.notify_all()

    def report_success(self) -> None:
        with self._cv:
            if self.limit < self.max:
                self.limit += 1
                self._cv.notify_all()

    def report_throttle(self) -> None:
        with self._cv:
            self.limit = max(1, int(self.limit * self.decrease_factor))


class RecordingExecutorProvider:
    """Executor factory that leaves one marker file per submitted append
    task — the injectable-executor seam of the reference's
    ``sink/ExecutorProvider.java:1-9`` (wired through
    ``BigQueryStreamSink.java:20``), whose whole purpose is letting the
    caller substitute/observe the executor appends run on.  The marker
    directory is the cross-process evidence channel (executors are
    separate Python workers), the same shared-filesystem technique the
    FakeBigQuery backend uses for scripted failures.  Picklable by
    construction so it can ride inside ``WriterSettings`` to executors."""

    def __init__(self, marker_dir: str):
        self.marker_dir = marker_dir

    def __call__(self, n_workers: int):
        marker_dir = self.marker_dir

        class _Recording(ThreadPoolExecutor):
            def submit(self, fn, /, *args, **kwargs):
                fname = f"{uuid.uuid4().hex}.task"
                with open(os.path.join(marker_dir, fname), "w") as f:
                    f.write(str(os.getpid()))
                return super().submit(fn, *args, **kwargs)

        return _Recording(max_workers=n_workers)


class AsyncSink:
    """At-least-once with bounded async in-flight appends.

    Per partition: a thread pool of ``writer_threads`` with a semaphore of
    ``max_inflight_requests`` submits chunk appends concurrently; the task
    blocks until all futures resolve (the AsyncSinkBase flush barrier).
    Retryable failures are re-queued locally by ``write_with_retry``;
    exhausted retries raise, failing the task -> Spark replays the batch.
    """

    def __init__(
        self,
        backend_root: str,
        table: str,
        settings: WriterSettings | None = None,
        trigger: BatchTriggerSettings | None = None,
        max_inflight: int = 4,  # reference AsyncBigQuerySink default
        metrics=None,
        stream_registry=None,
        client_provider: ClientProvider | None = None,
    ):
        self.backend_root = backend_root
        self.table = table
        self.settings = settings or WriterSettings()
        self.trigger = trigger or BatchTriggerSettings()
        self.max_inflight = max_inflight
        self.metrics = metrics
        self.stream_registry = stream_registry
        self.client_provider = client_provider or FakeBigQueryClientProvider(
            backend_root
        )

    def write_batch(self, df: DataFrame, batch_id: int) -> None:
        ensure_package_on_executors(df.sparkSession)
        table, settings = self.table, self.settings
        bounds = _chunk_bounds(settings, self.trigger)
        max_inflight = self.max_inflight
        threads = max(1, settings.writer_threads)
        metrics = self.metrics
        registry = self.stream_registry
        provider = self.client_provider

        def write_partition(rows_iter):
            from .metrics import StreamMetrics

            client = provider.client()
            # AIMD in place of the fixed quota: equal to it while the
            # backend is healthy, halves under throttling statuses
            sem = AIMDRateLimiter(max_inflight)
            futures = []
            sm = (
                StreamMetrics(table, DEFAULT_STREAM, uuid.uuid4().hex[:8])
                if registry is not None
                else None
            )
            n_workers = max(threads, max_inflight)
            # ExecutorProvider parity (sink/ExecutorProvider.java:1-9 via
            # BigQueryStreamSink.java:20): the caller-supplied factory
            # owns the append executor; default is the sink's own pool.
            make_pool = settings.executor_provider or (
                lambda n: ThreadPoolExecutor(max_workers=n)
            )
            with make_pool(n_workers) as pool:
                for chunk in chunk_rows((r[0] for r in rows_iter), bounds):
                    # inflight_wait_seconds (reference
                    # BigQuerySinkWriter.java:72-78): cumulative time this
                    # writer spent blocked on the in-flight quota.
                    t0 = time.monotonic()
                    sem.acquire()
                    if sm is not None:
                        sm.add("inflight_wait_seconds", time.monotonic() - t0)

                    def task(c=chunk):
                        try:
                            n = write_with_retry(
                                client, table, DEFAULT_STREAM, c, -1,
                                settings, metrics=metrics, stream_metrics=sm,
                                on_retryable=sem.report_throttle,
                            )
                            sem.report_success()
                            return n
                        finally:
                            sem.release()

                    futures.append(pool.submit(task))
                for fut in futures:  # barrier: surface the first failure
                    try:
                        fut.result(
                            timeout=settings.max_request_wait_callback_s
                        )
                    except FuturesTimeoutError:
                        if metrics is not None:
                            metrics.add("callback_timeouts")
                        if sm is not None:
                            sm.add("timeout_count", 1)
                            registry.publish(sm)
                        raise
            if registry is not None:
                registry.publish(sm)

        df.select(json_line(df.columns)).foreachPartition(write_partition)

    def start(self, stream_df: DataFrame, checkpoint_dir: str, **options):
        return _start_foreach_batch(
            self.write_batch, stream_df, checkpoint_dir, **options
        )


def _start_foreach_batch(
    write_batch,
    stream_df: DataFrame,
    checkpoint_dir: str,
    available_now: bool = False,
    processing_time: str | None = None,
    **options,
):
    """Shared writeStream wiring for the three sinks.

    ``available_now=True`` drains all available source data then stops (the
    replay/backfill mode); ``processing_time`` sets a fixed-interval trigger
    (the reference's ProcessingTimeoutTrigger analogue, SURVEY §2 A2).
    """
    writer = (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start(**options)
