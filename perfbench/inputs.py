"""Seeded input generators.  The same seed gives byte-identical inputs; the
program under test only ever sees the files written here."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 2026-01-01T00:00:00Z in microseconds
_EPOCH_US = 1_767_225_600_000_000

EVENT_SCHEMA_DDL = (
    "event_id BIGINT, user_id BIGINT, amount DOUBLE, ts TIMESTAMP, "
    "payload STRING"
)
EVENT_COLUMNS = ["event_id", "user_id", "amount", "ts", "payload"]

#: the columns a ``fields``-narrowed scan asks for (enough for its check)
SCAN_NARROW_FIELDS = "id,k,qty"


def _strings(rng: np.random.Generator, lengths: np.ndarray) -> pa.Array:
    """Random lowercase ASCII strings of the given lengths, built straight
    from one letter buffer (no per-row Python objects)."""
    offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    data = rng.integers(97, 123, int(offsets[-1]), dtype=np.uint8)
    return pa.StringArray.from_buffers(
        len(lengths), pa.py_buffer(offsets), pa.py_buffer(data)
    )


def _timestamps_ms(rng: np.random.Generator, n: int, start_us: int) -> pa.Array:
    """Increasing event times with jitter, at millisecond precision (the
    JVM-side JSON serializer writes milliseconds)."""
    steps = rng.integers(1, 2_000, n).astype(np.int64) * 1_000
    return pa.array(start_us + np.cumsum(steps), pa.timestamp("us", tz="UTC"))


def event_chunk(rng: np.random.Generator, first_id: int, rows: int) -> pa.Table:
    """One micro-batch worth of wide events: Zipf-skewed ``user_id`` and a
    log-normal payload of 50 B to 1 KB (~400 B of JSON per row)."""
    lengths = np.clip(
        rng.lognormal(np.log(220.0), 0.7, rows), 50, 1_000
    ).astype(np.int32)
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + rows), pa.int64()),
        "user_id": pa.array(
            np.minimum(rng.zipf(1.3, rows), 1_000_000), pa.int64()
        ),
        "amount": pa.array(np.round(rng.gamma(2.0, 30.0, rows), 2)),
        "ts": _timestamps_ms(rng, rows, _EPOCH_US + first_id * 1_000),
        "payload": _strings(rng, lengths),
    })


def write_event_chunks(
    out_dir: str, seed: int, files: int, rows: int, row_groups: int
) -> pa.Table:
    """``files`` parquet chunk files of ``rows`` events each, split into
    ``row_groups`` row groups so one file reads as that many partitions.
    File modification times follow the file order, which is the order
    Spark's file source picks them up (``maxFilesPerTrigger=1``).
    Returns every row written, for the read-back check."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    chunks = []
    for i in range(files):
        path = os.path.join(out_dir, f"chunk-{i:05d}.parquet")
        chunks.append(event_chunk(rng, i * rows, rows))
        pq.write_table(
            chunks[-1], path, row_group_size=max(1, rows // row_groups)
        )
        mtime = 1_700_000_000 + i
        os.utime(path, (mtime, mtime))
    return pa.concat_tables(chunks)


def same_events(got: pa.Table, expected: pa.Table) -> bool:
    """True when ``got`` holds exactly the rows of ``expected``, each once,
    in any order (compared column by column after sorting by the unique
    ``event_id``)."""
    import pyarrow.compute as pc

    if got.num_rows != expected.num_rows:
        return False
    if pc.count_distinct(got["event_id"]).as_py() != got.num_rows:
        return False
    got = got.select(EVENT_COLUMNS).cast(expected.schema)
    return got.sort_by("event_id").equals(expected.sort_by("event_id"))


def scan_table(seed: int, rows: int) -> pa.Table:
    """The ``table_scan`` table: ``k`` is uniform on 0..99, so ``k < 1``
    keeps ~1% of rows and ``k < 50`` ~50%."""
    rng = np.random.default_rng(seed)
    cats = np.array([f"cat-{i:02d}" for i in range(20)])
    return pa.table({
        "id": pa.array(np.arange(rows), pa.int64()),
        "k": pa.array(rng.integers(0, 100, rows), pa.int64()),
        "qty": pa.array(rng.integers(1, 1_000, rows), pa.int64()),
        "amount": pa.array(np.round(rng.gamma(2.0, 30.0, rows), 2)),
        "d1": pa.array(rng.normal(0.0, 1.0, rows)),
        "d2": pa.array(rng.random(rows)),
        "ts": _timestamps_ms(rng, rows, _EPOCH_US),
        "cat": pa.array(cats[rng.integers(0, len(cats), rows)]),
        "note": _strings(
            rng,
            np.clip(rng.lognormal(np.log(120.0), 0.5, rows), 20, 400).astype(
                np.int32
            ),
        ),
    })


def scan_expectation(table: pa.Table, k_below: int) -> tuple[int, int, int]:
    """(count, sum(qty), sum(id)) over rows with ``k < k_below``, computed
    with pyarrow on the generated table (integer sums are exact)."""
    import pyarrow.compute as pc

    kept = table.filter(pc.less(table["k"], k_below))
    return (
        kept.num_rows,
        int(pc.sum(kept["qty"]).as_py() or 0),
        int(pc.sum(kept["id"]).as_py() or 0),
    )
