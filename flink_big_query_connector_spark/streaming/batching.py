"""Count/size/time batching (reference ``process/BatchTrigger.java`` +
``process/RowBatcher.java``).

Two forms:

- :func:`chunk_rows` — the exact reference trigger semantics (fire when
  element count reaches ``max_count`` OR accumulated byte size reaches
  ``max_bytes``, whichever first), used inside the sink writers to bound
  AppendRows payloads under the 10 MB service limit.  This is a per-task
  iterator: it never materializes more than one batch.

- :func:`assign_batches_by_count` / :func:`assign_batches_by_size` —
  declarative DataFrame batch assignment via window arithmetic (pure
  Catalyst, shuffle-once, SQL-expressible so the duckdb oracle can check
  it).  The size variant buckets on the *exclusive* prefix sum — a batch
  may overshoot ``max_bytes`` by at most one row, same as the reference's
  "fires when accumulated size crosses the bound" behavior.

The time bound of the reference trigger (``ProcessingTimeoutTrigger``) has
two realizations: plain ``trigger(processingTime=...)`` (micro-batches are
already time-bounded) for the fixed-interval idiom, and
:func:`timeout_batch_flush` — a ``ProcessingTimeTimeout`` stateful operator
reproducing the reference's per-record timer reset
(``resetTimerOnNewRecord=true``): a pending partial batch flushes only
after the key has gone quiet for the timeout, not on a fixed cadence.
"""

from __future__ import annotations

import json
from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .config import BatchTriggerSettings
from .serializers import json_size as row_size_col  # noqa: F401


def json_size_of(row) -> int:
    """Byte size of a row as serialized (the ``BigQueryRecord.getSize()``
    analogue; newline included to match the backend's accounting).  A str
    row is already serialized (JVM-side ``to_json``, A17)."""
    if isinstance(row, str):
        return len(row) + 1
    return len(json.dumps(row, sort_keys=True, default=str)) + 1


def chunk_rows(
    rows: Iterable,
    settings: BatchTriggerSettings | None = None,
    size_of=json_size_of,
    routed: bool = False,
) -> Iterator:
    """Greedy chunker: emit a batch when count >= max_count or accumulated
    bytes >= max_bytes (fires *after* adding the crossing element, like the
    reference's size trigger which fires on ``accumulated >= maxSize``).

    ``routed=True`` takes ``(table, row)`` pairs and yields
    ``(table, batch)``: each table keeps its own open batch — the
    ``RowBatcher`` made incremental, one single-table envelope per batch
    (``process/RowBatcher.java:22,28-30``) — so memory is bounded by
    (#tables) x (one batch) and rows never need sorting by table.  Open
    batches flush at the end in the order their tables first appeared."""
    settings = settings or BatchTriggerSettings()
    max_count, max_bytes = settings.max_count, settings.max_bytes
    batches: dict = {}
    sizes: dict = {}
    for item in rows:
        table, row = item if routed else (None, item)
        batch = batches.setdefault(table, [])
        batch.append(row)
        size = sizes[table] = sizes.get(table, 0) + size_of(row)
        if len(batch) >= max_count or size >= max_bytes:
            del batches[table], sizes[table]
            yield (table, batch) if routed else batch
    for table, batch in batches.items():
        yield (table, batch) if routed else batch


def assign_batches_by_count(
    df: DataFrame, key: str, order: list[str], max_count: int
) -> DataFrame:
    """Deterministic batch index per key: floor((row_number-1)/max_count).

    One shuffle on ``key``; the window sort is the only extra cost and
    reuses the shuffle partitioning.
    """
    w = Window.partitionBy(key).orderBy(*order)
    return df.withColumn(
        "batch_index",
        F.floor((F.row_number().over(w) - F.lit(1)) / F.lit(max_count)).cast("long"),
    )


def assign_batches_by_size(
    df: DataFrame, key: str, order: list[str], max_bytes: int, size_col: str
) -> DataFrame:
    """Batch index from the exclusive running byte sum: rows bucket together
    until their cumulative size crosses ``max_bytes``."""
    w = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(size_col)).over(w) - F.col(size_col)  # exclusive prefix
    return df.withColumn(
        "batch_index", F.floor(cum / F.lit(max_bytes)).cast("long")
    )


def stateful_batch_assign(
    stream_df: DataFrame,
    key_col: str,
    order_col: str,
    max_count: int,
):
    """Custom stateful streaming operator: per-key batch index that
    SURVIVES across micro-batches (reference ``BatchTrigger`` count
    semantics, ``process/BatchTrigger.java:27`` — a batch can span multiple
    Flink windows / Spark micro-batches, so the row counter must be keyed
    state, not window arithmetic).

    ``applyInPandasWithState``: state = rows-seen-so-far per key; each
    incoming Arrow batch is sorted by ``order_col`` (intra-batch arrival
    order is partition-nondeterministic) and rows get
    ``batch_index = seen // max_count``.  State is one long per key — at
    100 TB the state store holds |keys| longs, nothing else.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = f"{key_col} long, {order_col} long, batch_index long"
    state_schema = "n long"

    def assign(key, pdfs, state):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            pdf = pdf.sort_values(order_col)
            idx = (n + np.arange(len(pdf))) // max_count
            n += len(pdf)
            yield pd.DataFrame(
                {
                    key_col: pdf[key_col].to_numpy(),
                    order_col: pdf[order_col].to_numpy(),
                    "batch_index": idx.astype("int64"),
                }
            )
        state.update((n,))

    return stream_df.groupBy(key_col).applyInPandasWithState(
        assign, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def timeout_batch_flush(
    stream_df: DataFrame,
    key_col: str,
    order_col: str,
    max_count: int,
    timeout_ms: int,
    size_col: str | None = None,
    max_bytes: int | None = None,
    reset_timer_on_new_record: bool = True,
):
    """A2 with full timer semantics: count/size bounds PLUS a
    processing-time timeout that flushes a pending partial batch, with the
    reference's ``resetTimerOnNewRecord`` option
    (``process/BatchTrigger.java:117-126`` — ``ProcessingTimeoutTrigger.of(
    inner, timeout, resetTimerOnNewRecord, true)`` wrapped in a
    ``PurgingTrigger``).

    Emits one envelope row per FLUSHED batch: ``(key, batch_seq, n, bytes,
    fired_by)`` with ``fired_by in ('count','size','timeout')`` — the
    ``Rows``-envelope analogue; the actual rows carry ``(key, batch_seq)``
    via :func:`stateful_batch_assign`-style arithmetic downstream, so the
    state holds three longs per key, never buffered rows (at 100 TB the
    state store scales with |keys|, not data).

    Timer mapping: ``GroupStateTimeout.ProcessingTimeTimeout``.  With
    ``reset_timer_on_new_record`` the timeout duration is re-armed on every
    data delivery for the key (each new record pushes the deadline out —
    the reference's reset=true); without it the state stores the absolute
    deadline armed by the FIRST pending record and re-arms with the
    remaining time (reset=false).  A key whose deadline lapses is invoked
    with ``hasTimedOut`` on the next micro-batch and its partial batch
    flushes with ``fired_by='timeout'``, matching the
    ``shouldClearOnTimeout=true`` purge.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..session import ensure_package_on_executors

    ensure_package_on_executors(stream_df.sparkSession)
    out_schema = (
        f"{key_col} long, batch_seq long, n long, bytes long, fired_by string"
    )
    state_schema = "seq long, pending long, pending_bytes long, deadline_ms long"

    flush = make_timeout_flush_fn(
        key_col, order_col, max_count, timeout_ms, size_col, max_bytes,
        reset_timer_on_new_record,
    )

    return stream_df.groupBy(key_col).applyInPandasWithState(
        flush, out_schema, state_schema, "append",
        GroupStateTimeout.ProcessingTimeTimeout,
    )


def make_timeout_flush_fn(
    key_col: str,
    order_col: str,
    max_count: int,
    timeout_ms: int,
    size_col: str | None = None,
    max_bytes: int | None = None,
    reset_timer_on_new_record: bool = True,
):
    """The per-group state-transition function behind
    :func:`timeout_batch_flush`, exposed at module level so the timer
    arithmetic (deadline arming / stale-deadline reset) is unit-testable
    against a fake GroupState without running a streaming query."""
    import pandas as pd

    def flush(key, pdfs, state):
        import time as _time

        if state.exists:
            seq, pending, pending_bytes, deadline = state.get
        else:
            seq, pending, pending_bytes, deadline = 0, 0, 0, 0

        if state.hasTimedOut:
            if pending > 0:
                yield pd.DataFrame(
                    {key_col: [key[0]], "batch_seq": [seq], "n": [pending],
                     "bytes": [pending_bytes], "fired_by": ["timeout"]}
                )
                seq, pending, pending_bytes = seq + 1, 0, 0
            state.update((seq, pending, pending_bytes, 0))
            return

        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values(order_col)
            sizes = (
                pdf[size_col].to_numpy()
                if size_col is not None
                else [0] * len(pdf)
            )
            for sz in sizes:
                pending += 1
                pending_bytes += int(sz)
                fired = None
                if pending >= max_count:
                    fired = "count"
                elif max_bytes is not None and pending_bytes >= max_bytes:
                    fired = "size"
                if fired:
                    out.append((key[0], seq, pending, pending_bytes, fired))
                    seq, pending, pending_bytes = seq + 1, 0, 0
                    # The flushed batch's timer dies with it: the next
                    # pending record must arm a FRESH deadline (reference
                    # arms at each batch's first element) — without this,
                    # reset=false batches inherit the previous batch's
                    # stale deadline and time out early.
                    deadline = 0

        now_ms = int(_time.time() * 1000)
        if pending > 0:
            if reset_timer_on_new_record or deadline <= 0:
                deadline = now_ms + timeout_ms
            state.update((seq, pending, pending_bytes, deadline))
            state.setTimeoutDuration(max(1, deadline - now_ms))
        else:
            state.update((seq, 0, 0, 0))
        if out:
            k, s, n, b, f = zip(*out)
            yield pd.DataFrame(
                {key_col: k, "batch_seq": s, "n": n, "bytes": b, "fired_by": f}
            )

    return flush
