"""``fakebigquery`` — a Spark DataSource (Python DataSource API, Spark 4)
over the FakeBigQuery backend.

This is the connector-shaped surface of the engine.  The reference is a
Flink *sink* connector (`BigQueryStreamSink.java:50-55`); Spark's native
connector contract is DataSource V2, so the engine exposes the same
capabilities idiomatically:

- **batch write** = the reference's at-least-once default-stream append
  (`sink/defaultStream/BigQueryDefaultSinkWriter.java:60-80`): per-task
  chunked appends bounded by the 10 MB AppendRows limit (proactive
  equivalent of the split-on-too-large path,
  `sink/buffered/BigQueryBufferedSinkWriter.java:167-173`);
- **streaming write** = the reference's exactly-once buffered-stream 2PC
  (`sink/buffered/BigQuerySinkCommitter.java:23-50`): each task appends to
  a fresh BUFFERED stream at explicit offsets and the driver-side
  ``commit(messages, batchId)`` flushes them — visibility is atomic with
  epoch commit, and a crash before commit leaves the partial streams
  invisible forever (``abort`` finalizes them).  ``WriterCommitMessage`` is
  the structural twin of ``BigQueryCommittable`` (SURVEY §3.2);
- **read** = new scope the reference lacks (it never reads): partitioned
  scans with filter pushdown, shaped like the BigQuery Storage READ API —
  one input partition per (stream, row-range) "read stream", pushed
  filters applied server-side (here: inside the partition reader) as a row
  restriction.  At 100 TB the analogue is a read session fanning out to
  thousands of ranges; parallelism is the ``partitions`` option, decoupled
  from file layout.

Schema travels with the table (``schema.json`` written at commit), mirroring
the reference's fetch-schema-at-writer-creation behavior
(`client/BigQueryProtoClientProvider.java:45-46,89-101`).
"""

from __future__ import annotations

import json
import math
import os
import sys
import uuid
from dataclasses import dataclass
from datetime import date, datetime, timezone
from decimal import Decimal
from typing import Any, Iterable, Iterator, List, Sequence, Tuple

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    Not,
    StringContains,
    StringEndsWith,
    StringStartsWith,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from ..streaming.batching import chunk_rows
from ..streaming.config import BatchTriggerSettings, WriterSettings
from ..streaming.sinks import append_chunks
from .fake_bigquery import DEFAULT_STREAM, FakeBigQuery, default_stream_name

SOURCE_NAME = "fakebigquery"
_DEFAULT_READ_PARTITIONS = 8
_DEFAULT_BATCH_ROWS = 1000
_ARROW_BATCH_ROWS = 8192

# BigQuery wildcard tables: `table=prefix*` unions every table whose name
# starts with the prefix, and the matched tail is exposed as this STRING
# pseudo-column (the `_TABLE_SUFFIX` analogue; lowercase to match the
# engine's column style).  Supported-comparison filters on it prune whole
# TABLES at split planning — the wildcard's point at scale.
SUFFIX_COL = "_table_suffix"


def _is_wildcard(table: str) -> bool:
    return table.endswith("*")


def _wildcard_tables(root: str, pattern: str) -> list[tuple[str, str]]:
    """Tables matching ``prefix*`` as (table_name, suffix), sorted.

    Matches directory names under ``tables/`` (the backend's catalog);
    a directory counts as a table once it has a persisted schema or any
    write stream.  Only a single TRAILING ``*`` is supported — exactly
    BigQuery's wildcard-table shape."""
    prefix = pattern[:-1]
    if "*" in prefix:
        raise ValueError(
            f"fakebigquery: only one trailing '*' is supported in a "
            f"wildcard table (got '{pattern}')"
        )
    dir_prefix = prefix.replace("/", "__")
    tdir = os.path.join(root, "tables")
    out: list[tuple[str, str]] = []
    if not os.path.isdir(tdir):
        return out
    for d in sorted(os.listdir(tdir)):
        if not d.startswith(dir_prefix):
            continue
        p = os.path.join(tdir, d)
        if os.path.isfile(os.path.join(p, "schema.json")) or os.path.isdir(
            os.path.join(p, "streams")
        ):
            out.append((prefix + d[len(dir_prefix):], d[len(dir_prefix):]))
    return out


# ---------------------------------------------------------------------------
# schema persistence (the "live table schema" the connector fetches)
# ---------------------------------------------------------------------------


def _schema_path(root: str, table: str) -> str:
    return os.path.join(root, "tables", table.replace("/", "__"), "schema.json")


def _save_schema(root: str, table: str, schema: StructType) -> None:
    path = _schema_path(root, table)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(schema.json())
    os.replace(tmp, path)


def _merge_schema(root: str, table: str, schema: StructType) -> None:
    """Additive evolution on write-commit, mirroring the reference's
    ``SchemaTools.updateTable`` add-new-fields diff
    (`schema/SchemaTools.java:87-100`): existing columns keep their
    position and type; columns new in this write are appended.  Rows
    written before a column existed read back as NULL for it."""
    path = _schema_path(root, table)
    if os.path.exists(path):
        with open(path) as f:
            existing = StructType.fromJson(json.load(f))
        have = {fld.name for fld in existing.fields}
        merged = StructType(
            existing.fields
            + [fld for fld in schema.fields if fld.name not in have]
        )
    else:
        merged = schema
    _save_schema(root, table, merged)


def _load_schema(root: str, table: str) -> StructType:
    path = _schema_path(root, table)
    if not os.path.exists(path):
        raise ValueError(
            f"fakebigquery: no schema for table '{table}' under '{root}' — "
            "write the table first or pass .schema(...) explicitly"
        )
    with open(path) as f:
        return StructType.fromJson(json.load(f))


# ---------------------------------------------------------------------------
# JSON <-> typed-row coercion
# ---------------------------------------------------------------------------


def _coerce(v: Any, dt: DataType) -> Any:
    """JSON-decoded value -> Python value for ``dt`` (rows are stored as
    JSON lines by the backend; timestamps/decimals arrive as strings)."""
    if v is None:
        return None
    if isinstance(dt, (LongType, IntegerType)):
        return int(v)
    if isinstance(dt, (DoubleType, FloatType)):
        return float(v)
    if isinstance(dt, StringType):
        return str(v)
    if isinstance(dt, BooleanType):
        return bool(v)
    if isinstance(dt, (TimestampType, TimestampNTZType)):
        return v if isinstance(v, datetime) else datetime.fromisoformat(str(v))
    if isinstance(dt, DateType):
        return v if isinstance(v, date) else date.fromisoformat(str(v))
    if isinstance(dt, DecimalType):
        return Decimal(str(v))
    if isinstance(dt, ArrayType):
        return [_coerce(x, dt.elementType) for x in v]
    if isinstance(dt, StructType):
        return {f.name: _coerce(v.get(f.name), f.dataType) for f in dt.fields}
    if isinstance(dt, MapType):
        return {
            _coerce(k, dt.keyType): _coerce(x, dt.valueType)
            for k, x in v.items()
        }
    return v


def _json_default(v: Any) -> Any:
    """Text of the values ``json.dumps`` cannot write, in the sinks'
    ``to_json`` forms (``serializers.JSON_OPTIONS``): a tz-aware datetime
    (TIMESTAMP) as UTC with six fractional digits and an offset, a naive
    one (TIMESTAMP_NTZ) with six digits and no offset, a date as ISO text,
    a Decimal as its plain string."""
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc)
        return v.isoformat(timespec="microseconds")
    return v.isoformat() if isinstance(v, date) else str(v)


# ---------------------------------------------------------------------------
# filter evaluation (the connector-side "row restriction")
# ---------------------------------------------------------------------------

_SIMPLE_FILTERS = (
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    LessThan,
    LessThanOrEqual,
    In,
    IsNull,
    IsNotNull,
    StringStartsWith,
    StringEndsWith,
    StringContains,
)


def _supported(f: Filter) -> bool:
    inner = f.child if isinstance(f, Not) else f
    return isinstance(inner, _SIMPLE_FILTERS) and len(inner.attribute) == 1


def _eval_filter(f: Filter, row: dict) -> bool:
    if isinstance(f, Not):
        return not _eval_filter(f.child, row)
    v = row.get(f.attribute[0])
    if isinstance(f, IsNull):
        return v is None
    if isinstance(f, IsNotNull):
        return v is not None
    if v is None:
        return False  # SQL three-valued logic: NULL comparisons don't match
    if isinstance(f, EqualTo):
        return v == f.value
    if isinstance(f, GreaterThan):
        return v > f.value
    if isinstance(f, GreaterThanOrEqual):
        return v >= f.value
    if isinstance(f, LessThan):
        return v < f.value
    if isinstance(f, LessThanOrEqual):
        return v <= f.value
    if isinstance(f, In):
        return v in f.value
    if isinstance(f, StringStartsWith):
        return isinstance(v, str) and v.startswith(f.value)
    if isinstance(f, StringEndsWith):
        return isinstance(v, str) and v.endswith(f.value)
    if isinstance(f, StringContains):
        return isinstance(v, str) and f.value in v
    raise AssertionError(f"unreachable: {f}")


# ---------------------------------------------------------------------------
# Arrow fast path: C++ JSON parse + vectorized filter evaluation
# ---------------------------------------------------------------------------


class _ArrowFastPathUnsupported(Exception):
    pass


def _arrow_parse_type(dt):
    """Arrow type to PARSE a column's JSON values as.  Temporal values are
    stored as text and cast after parsing; decimals parse directly (from
    the JVM's number or the DSv2 writers' string); lists and structs
    recurse into their children."""
    import pyarrow as pa

    if (
        pa.types.is_integer(dt)
        or pa.types.is_floating(dt)
        or pa.types.is_boolean(dt)
        or pa.types.is_string(dt)
        or pa.types.is_decimal(dt)
    ):
        return dt
    if pa.types.is_list(dt):
        return pa.list_(_arrow_parse_type(dt.value_type))
    if pa.types.is_struct(dt):
        return pa.struct(
            [pa.field(f.name, _arrow_parse_type(f.type)) for f in dt]
        )
    if pa.types.is_timestamp(dt) or pa.types.is_date(dt):
        return pa.string()
    raise _ArrowFastPathUnsupported(str(dt))


def _arrow_read_slice(
    data: bytes, held: int, spark_schema: StructType, rows: slice
):
    """Parse a split's byte range — the JSON lines of the ``held`` rows
    :meth:`FakeBigQuery.read_range` returned — in C++, slice the split's
    ``rows`` out of it zero-copy, and cast to the table's Arrow schema."""
    import pyarrow as pa
    import pyarrow.json as pj
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(spark_schema)
    parse_schema = pa.schema(
        [pa.field(f.name, _arrow_parse_type(f.type)) for f in target]
    )
    opts = pj.ParseOptions(
        explicit_schema=parse_schema, unexpected_field_behavior="ignore"
    )
    tbl = pj.read_json(
        pa.BufferReader(data),
        read_options=pj.ReadOptions(use_threads=False),
        parse_options=opts,
    )
    _check_held(tbl.num_rows, held)
    tbl = tbl.slice(rows.start, rows.stop - rows.start)
    cols = [
        col if col.type.equals(f.type) else col.cast(f.type)  # ISO text
        for col, f in zip(tbl.columns, target)
    ]
    return pa.Table.from_arrays(cols, schema=target)


def _check_held(parsed: int, held: int) -> None:
    """A byte range must parse to the rows the append index says it holds;
    any other count means the index and the data disagree."""
    if parsed != held:
        raise ValueError(
            f"fakebigquery: split range parsed {parsed} rows where the "
            f"stream index holds {held}"
        )


def _arrow_mask(f: "Filter", tbl):
    """Pushed filter -> boolean mask with SQL three-valued null semantics
    (null stays null; Table.filter drops null-mask rows)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(f, Not):
        return pc.invert(_arrow_mask(f.child, tbl))
    col = tbl[f.attribute[0]]
    if isinstance(f, IsNull):
        return pc.is_null(col)
    if isinstance(f, IsNotNull):
        return pc.is_valid(col)
    if isinstance(f, In):
        vs = pa.array(list(f.value), type=col.type)
        hit = pc.is_in(col, value_set=vs)
        null = pa.scalar(None, pa.bool_())
        return pc.if_else(pc.is_valid(col), hit, null)
    val = pa.scalar(f.value, type=col.type) if not isinstance(f.value, bool) else f.value
    if isinstance(f, EqualTo):
        return pc.equal(col, val)
    if isinstance(f, GreaterThan):
        return pc.greater(col, val)
    if isinstance(f, GreaterThanOrEqual):
        return pc.greater_equal(col, val)
    if isinstance(f, LessThan):
        return pc.less(col, val)
    if isinstance(f, LessThanOrEqual):
        return pc.less_equal(col, val)
    if isinstance(f, StringStartsWith):
        return pc.starts_with(col, pattern=f.value)
    if isinstance(f, StringEndsWith):
        return pc.ends_with(col, pattern=f.value)
    if isinstance(f, StringContains):
        return pc.match_substring(col, pattern=f.value)
    raise AssertionError(f"unreachable: {f}")


# ---------------------------------------------------------------------------
# reader
# ---------------------------------------------------------------------------


@dataclass
class _RangeSplit(InputPartition):
    """A (stream, row-range) split — the unit of read parallelism, like one
    stream of a BigQuery Storage read session.  For wildcard reads the
    split additionally names its table and carries the matched suffix
    (every row of a split shares one suffix, so the pseudo-column is a
    per-split constant)."""

    stream: str
    start: int
    end: int
    table: str = ""
    suffix: str = ""


class FakeBigQueryReader(DataSourceReader):
    """Batch reader over (stream, row-range) splits.

    Filters push down (``pushFilters``); columns do NOT — the Python
    DataSource API has no ``pruneColumns`` hook, so ``read()`` always
    ships ``out_schema``-wide Arrow batches and a post-``load`` select
    prunes JVM-side only.  Server-side pruning = narrow the schema via
    the ``fields`` option or an explicit ``.schema(...)`` (see
    :class:`FakeBigQueryDataSource`)."""

    def __init__(self, schema: StructType, options: dict):
        self.out_schema = schema
        self.root = options["root"]
        self.table = options["table"]
        self.only_visible = str(options.get("only_visible", "true")).lower() == "true"
        self.num_partitions = int(
            options.get("partitions", _DEFAULT_READ_PARTITIONS)
        )
        self.filters: List[Filter] = []
        self.suffix_filters: List[Filter] = []

    def pushFilters(self, filters: List[Filter]) -> Iterable[Filter]:
        """Accept every single-column comparison we can evaluate row-side
        (the Storage READ API row-restriction analogue); hand anything else
        back to Spark.  On a wildcard read, supported comparisons on the
        ``_table_suffix`` pseudo-column are consumed at SPLIT PLANNING —
        they prune whole tables (the suffix is constant per table, so
        table-level evaluation satisfies them exactly)."""
        unsupported = []
        wildcard = _is_wildcard(self.table)
        for f in filters:
            inner = f.child if isinstance(f, Not) else f
            if not _supported(f):
                unsupported.append(f)
            elif wildcard and inner.attribute[0] == SUFFIX_COL:
                self.suffix_filters.append(f)
            else:
                self.filters.append(f)
        return unsupported

    def _tables(self) -> list[tuple[str, str]]:
        """(table, suffix) pairs this read covers, after suffix pruning."""
        if not _is_wildcard(self.table):
            return [(self.table, "")]
        return [
            (t, sfx)
            for t, sfx in _wildcard_tables(self.root, self.table)
            if all(
                _eval_filter(f, {SUFFIX_COL: sfx})
                for f in self.suffix_filters
            )
        ]

    def partitions(self) -> Sequence[InputPartition]:
        """Plan (table, stream, row-range) splits proportional to stream
        sizes across every (suffix-pruned) table.

        Planning reads only stream METADATA (row counts), never data — the
        driver-side cost is O(#streams) however large the tables are.  Each
        split then reads only the appends holding its rows, so a scan
        parses each stream once plus at most one append at each end of
        every split, whatever the split count."""
        bq = FakeBigQuery(self.root)
        sizes: list[tuple[str, str, str, int]] = []
        for table, sfx in self._tables():
            for stream in bq.list_streams(table):
                info = bq.get_write_stream(table, stream)
                n = info.flushed if self.only_visible else info.offset
                if n > 0:
                    sizes.append((table, sfx, stream, n))
        total = sum(n for *_, n in sizes)
        if total == 0:
            return [_RangeSplit(DEFAULT_STREAM, 0, 0)]
        splits: list[_RangeSplit] = []
        for table, sfx, stream, n in sizes:
            k = max(1, min(n, round(self.num_partitions * n / total)))
            step = math.ceil(n / k)
            for s in range(0, n, step):
                splits.append(
                    _RangeSplit(
                        stream, s, min(s + step, n), table=table, suffix=sfx
                    )
                )
        return splits

    def read(self, partition: _RangeSplit) -> Iterator:
        return _read_split(
            self.root, partition.table or self.table, self.out_schema,
            self.filters, partition,
        )


def _read_split(
    root: str,
    table: str,
    out_schema: StructType,
    filters: List[Filter],
    split: _RangeSplit,
) -> Iterator:
    """Read one (stream, row-range) split — the split reader of batch and
    streaming reads alike.

    Fetch the byte range of the appends holding the split's rows
    (:meth:`FakeBigQuery.read_range`), parse it with Arrow's C++
    JSON-lines reader, slice the split's rows, evaluate the pushed
    ``filters`` with Arrow compute kernels, and stream the result to the
    JVM as Arrow RecordBatches — the Python-source analogue of the Storage
    READ API's Arrow wire format.  A range the Arrow parse rejects goes
    through :func:`_read_rows` instead."""
    if split.end <= split.start:
        return
    # wildcard reads: parse the DATA fields, inject the per-split constant
    # suffix column at its schema position afterwards
    data_schema = StructType(
        [f for f in out_schema.fields if f.name != SUFFIX_COL]
    )
    has_suffix = len(data_schema.fields) != len(out_schema.fields)
    if has_suffix and not data_schema.fields:
        # degenerate projection: ONLY the pseudo-column was selected
        yield from ((split.suffix,) for _ in range(split.end - split.start))
        return
    import pyarrow as pa

    first_row, end_row, data = FakeBigQuery(root).read_range(
        table, split.stream, split.start, split.end
    )
    held = end_row - first_row
    rows = slice(split.start - first_row, split.end - first_row)
    try:
        tbl = _arrow_read_slice(data, held, data_schema, rows)
    except (_ArrowFastPathUnsupported, pa.ArrowInvalid):
        yield from _read_rows(data, held, rows, out_schema, filters, split.suffix)
        return
    del data  # the parsed table holds its own copy; free the range
    for f in filters:
        tbl = tbl.filter(_arrow_mask(f, tbl))  # null mask rows drop (3VL)
    if has_suffix:
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(out_schema)
        const = pa.array([split.suffix] * tbl.num_rows, type=pa.string())
        cols = [
            const if f.name == SUFFIX_COL else tbl.column(f.name)
            for f in target
        ]
        tbl = pa.Table.from_arrays(cols, schema=target)
    yield from tbl.to_batches(max_chunksize=_ARROW_BATCH_ROWS)


def _read_rows(
    data: bytes,
    held: int,
    rows: slice,
    out_schema: StructType,
    filters: List[Filter],
    suffix: str,
) -> Iterator[Tuple]:
    """Row-at-a-time read of a split's byte range (the ``held`` rows
    ``_read_split`` fetched; ``rows`` are the split's), for ranges the
    Arrow parse cannot take: column types without an Arrow parse form
    (maps, binary), and non-finite doubles written as quoted strings.
    ``to_json`` always writes NaN and Infinity as ``"NaN"``/``"Infinity"``
    — Spark 4.1 has no write option that changes this — and Arrow's JSON
    parser rejects a string in a double column, so a sink-written range
    holding one non-finite double reads here.  (The DSv2 writers'
    ``json.dumps`` writes them bare, which Arrow parses.)"""
    lines = data.decode("utf-8").split("\n")
    lines.pop()  # the text after the last row's newline is empty
    _check_held(len(lines), held)
    fields = out_schema.fields
    for line in lines[rows]:
        raw = json.loads(line, parse_float=Decimal)
        row = {
            fld.name: suffix
            if fld.name == SUFFIX_COL
            else _coerce(raw.get(fld.name), fld.dataType)
            for fld in fields
        }
        if all(_eval_filter(flt, row) for flt in filters):
            yield tuple(row[fld.name] for fld in fields)


# ---------------------------------------------------------------------------
# streaming reader (change capture over write streams)
# ---------------------------------------------------------------------------


class FakeBigQueryStreamReader(DataSourceStreamReader):
    """Micro-batch source over the backend's write streams.

    An offset is ``{stream_name: visible_row_count}`` — the structural twin
    of the BigQuery Storage READ API's per-stream cursor, and the read-side
    mirror of the write-side offsets the reference tracks per stream
    (`process/StreamState.java:47-49`).  Each micro-batch covers the delta
    ``start[s]..end[s]`` per stream, split into range partitions, so a
    table being appended to (by the default-stream or 2PC sink) is
    consumable as an exactly-once stream: rows enter an epoch exactly when
    they become *visible* (buffered rows appear only after FlushRows).

    Planning touches stream metadata only — O(#streams) per trigger
    regardless of table size.
    """

    def __init__(self, schema: StructType, options: dict):
        self.out_schema = schema
        self.root = options["root"]
        self.table = options["table"]
        self.rows_per_partition = int(options.get("stream_rows_per_partition", 10_000))
        # Admission control (maxOffsetsPerTrigger analogue / read-side
        # BatchTrigger): cap how many newly visible rows one micro-batch
        # admits, so a backlog drains in bounded batches instead of one
        # giant epoch.  0 = unbounded.
        self.max_rows_per_trigger = int(options.get("max_rows_per_trigger", 0))
        # Scope the admission cursor per QUERY, not per table: two
        # concurrent throttled readers of the same table each need the
        # full stream (a shared cursor would split it between them).  The
        # reader has no access to the sink's checkpoint path, so the query
        # identity is an explicit read option; the default (empty) keeps
        # one shared cursor per table for single-reader pipelines.
        self.cursor_id = str(options.get("cursor_id", ""))

    # -- admission cursor ---------------------------------------------------
    # Spark materializes SEVERAL reader instances for one query (stream
    # analysis + the execution runner), so admission state cannot live on
    # the instance: a fresh instance would hand back an offset BELOW what
    # Spark already committed, and offsets moving backward make the engine
    # re-read ranges (observed: duplicates).  The cursor is therefore a
    # monotonic per-table file in the backend, advanced under a file lock.

    def _cursor_path(self) -> str:
        name = "read_cursor.json"
        if self.cursor_id:
            import hashlib

            h = hashlib.sha1(self.cursor_id.encode()).hexdigest()[:12]
            name = f"read_cursor_{h}.json"
        return os.path.join(
            self.root, "tables", self.table.replace("/", "__"), name
        )

    def _advance_cursor(self, floor: dict, cap: int, latest: dict) -> dict:
        """max(stored, floor) advanced by at most ``cap`` rows toward
        ``latest``; stores and returns the new cursor (never decreasing)."""
        import fcntl

        path = self._cursor_path()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".lock", "w") as lf:
            fcntl.flock(lf, fcntl.LOCK_EX)
            try:
                cur: dict = {}
                if os.path.exists(path):
                    with open(path) as f:
                        cur = json.load(f)
                for s, v in floor.items():
                    cur[s] = max(int(cur.get(s, 0)), int(v))
                budget = cap if cap > 0 else None
                for s, hi in sorted(latest.items()):
                    lo = int(cur.get(s, 0))
                    take = int(hi) - lo
                    if budget is not None:
                        take = min(take, budget)
                    if take > 0:
                        cur[s] = lo + take
                        if budget is not None:
                            budget -= take
                    if budget == 0:
                        break
                tmp = path + ".tmp"
                with open(tmp, "w") as f:
                    json.dump(cur, f)
                os.replace(tmp, path)
                return cur
            finally:
                fcntl.flock(lf, fcntl.LOCK_UN)

    def _snapshot(self) -> dict:
        bq = FakeBigQuery(self.root)
        out = {}
        for stream in bq.list_streams(self.table):
            n = bq.get_write_stream(self.table, stream).flushed
            if n > 0:
                out[stream] = n
        return out

    def initialOffset(self) -> dict:
        return {}

    def latestOffset(self) -> dict:
        latest = self._snapshot()
        if self.max_rows_per_trigger <= 0:
            return latest
        return self._advance_cursor({}, self.max_rows_per_trigger, latest)

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        if self.max_rows_per_trigger > 0 and end:
            # absorb Spark's authoritative position (checkpoint restarts
            # with a stale/absent cursor file)
            self._advance_cursor(end, 0, {})
        splits: list[_RangeSplit] = []
        for stream, hi in end.items():
            lo = int(start.get(stream, 0))
            hi = int(hi)
            for s in range(lo, hi, self.rows_per_partition):
                splits.append(_RangeSplit(stream, s, min(s + self.rows_per_partition, hi)))
        # Spark requires >=1 partition per batch; an empty batch reads nothing.
        return splits or [_RangeSplit(DEFAULT_STREAM, 0, 0)]

    def read(self, partition: _RangeSplit) -> Iterator:
        return _read_split(
            self.root, self.table, self.out_schema, [], partition
        )

    def commit(self, end: dict) -> None:
        pass  # offsets are durable in Spark's checkpoint WAL

    def stop(self) -> None:
        pass


# ---------------------------------------------------------------------------
# writers (Arrow batches in, JSON lines out)
# ---------------------------------------------------------------------------

_SETTINGS = WriterSettings()


def _table_chunks(table: str, batches, batch_rows: int) -> Iterator:
    """Arrow RecordBatches -> ``(table, chunk)`` for ``append_chunks``.

    ``to_pylist`` yields one dict per row in schema field order, and
    ``json.dumps`` writes it in the sinks' line form (no spaces,
    ``_json_default`` text for temporal and decimal values).  Chunks hold
    at most ``batch_rows`` lines and the append byte budget."""
    lines = (
        (table, json.dumps(d, separators=(",", ":"), default=_json_default))
        for batch in batches
        for d in batch.to_pylist()
    )
    bounds = BatchTriggerSettings(
        max_count=batch_rows, max_bytes=_SETTINGS.append_budget_bytes
    )
    return chunk_rows(lines, bounds, routed=True)


class _TableWriter:
    """Options both Arrow writers read."""

    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.root = options["root"]
        self.table = options["table"]
        self.batch_rows = int(options.get("batch_rows", _DEFAULT_BATCH_ROWS))


class FakeBigQueryBatchWriter(_TableWriter, DataSourceArrowWriter):
    """At-least-once load into the table's default stream (the reference's
    ``sink/defaultStream/BigQueryDefaultSinkWriter.java:60-80``).  An Arrow
    writer: batches cross the JVM->Python boundary columnar, where pickled
    ``Row`` objects would cost more than the appends themselves."""

    def write(self, iterator) -> WriterCommitMessage:
        """Chunked appends through the full retry state machine (A12-A14:
        status-code branching, pause-retry, recursive oversized split) —
        the same append loop the foreachBatch sinks use.  ``iterator``
        yields ``pyarrow.RecordBatch`` (the Arrow writer contract)."""
        bq = FakeBigQuery(self.root)
        append_chunks(
            _table_chunks(self.table, iterator, self.batch_rows),
            lambda table: (default_stream_name(table), -1),
            lambda table: bq,
            _SETTINGS,
        )
        return WriterCommitMessage()

    def commit(self, messages) -> None:
        _merge_schema(self.root, self.table, self.schema)

    def abort(self, messages) -> None:
        # Default-stream appends are immediately visible: at-least-once, a
        # failed job may leave rows behind — exactly the reference's
        # default-sink guarantee (job restart implies possible duplicates).
        pass


@dataclass
class _BufferedResult(WriterCommitMessage):
    stream: str | None
    rows: int


class FakeBigQueryStreamWriter(_TableWriter, DataSourceStreamArrowWriter):
    """Exactly-once streaming write: each task appends to a fresh BUFFERED
    stream at explicit offsets and the epoch commit flushes them (2PC)."""

    def write(self, iterator) -> _BufferedResult:
        """Append this partition's rows to a FRESH buffered stream at
        explicit offsets.  Rows are invisible until the epoch commit —
        a replay after a crash re-writes into a new stream and the orphan
        stays unflushed, so visibility is exactly-once."""
        bq = FakeBigQuery(self.root)
        streams = append_chunks(
            _table_chunks(self.table, iterator, self.batch_rows),
            lambda table: (
                bq.create_write_stream(
                    table, "BUFFERED",
                    name=f"{table}/streams/ep_{uuid.uuid4().hex[:16]}",
                ),
                0,
            ),
            lambda table: bq,
            _SETTINGS,
        )
        stream, rows = streams.get(self.table, (None, 0))
        return _BufferedResult(stream=stream, rows=rows)

    def commit(self, messages, batchId: int) -> None:
        """FlushRows per stream — the committer half of the 2PC
        (`sink/buffered/BigQuerySinkCommitter.java:23-50`); flushing at or
        below the current point is tolerated, so commit replay is a no-op."""
        bq = FakeBigQuery(self.root)
        for m in messages:
            if m is not None and m.rows > 0:
                bq.flush_rows(self.table, m.stream, m.rows - 1)
        _merge_schema(self.root, self.table, self.schema)

    def abort(self, messages, batchId: int) -> None:
        """Finalize (never flush) the epoch's streams: buffered rows stay
        permanently invisible."""
        bq = FakeBigQuery(self.root)
        for m in messages:
            if m is not None and m.stream is not None:
                bq.finalize_stream(self.table, m.stream)


# ---------------------------------------------------------------------------
# the DataSource
# ---------------------------------------------------------------------------


class FakeBigQueryDataSource(DataSource):
    """``spark.read.format("fakebigquery").option("root", ...).option("table", ...)``.

    Options: ``root`` (backend directory), ``table``, ``partitions`` (read
    parallelism), ``only_visible`` (read uncommitted rows when false),
    ``fields`` (comma-separated server-side field list, below),
    ``batch_rows`` (most rows per writer append).

    **Wildcard tables** (batch read only): ``table=prefix*`` unions every
    table whose name starts with the prefix — BigQuery's wildcard-table
    idiom — exposing the matched tail as the STRING pseudo-column
    ``_table_suffix`` (the ``_TABLE_SUFFIX`` analogue).  All matched
    tables must share one schema.  Supported-comparison filters on the
    pseudo-column prune whole TABLES at split planning, so
    ``WHERE _table_suffix = 'click'`` plans splits for one table however
    many the wildcard matches.

    **Column-width contract.** The PySpark DataSource API has no
    ``pruneColumns`` hook, so a ``.select(...)`` placed AFTER ``.load()``
    cannot narrow what crosses the Python->JVM Arrow boundary: the reader
    always materializes and ships its full reader schema, and Spark
    projects afterwards.  To prune server-side — the ``selected_fields``
    of a real Storage READ API session — narrow the reader schema itself,
    either with ``option("fields", "a,b")`` (subsets the catalog schema,
    in the requested order) or by passing an explicit narrow
    ``.schema(...)``.  Both paths reach the Arrow JSON parser as an
    explicit schema with ``unexpected_field_behavior="ignore"``, so
    unlisted columns are never parsed, materialized, or transferred.
    """

    @classmethod
    def name(cls) -> str:
        return SOURCE_NAME

    def _opts(self) -> dict:
        for req in ("root", "table"):
            if req not in self.options:
                raise ValueError(f"fakebigquery: missing required option '{req}'")
        return dict(self.options)

    def schema(self) -> StructType:
        opts = self._opts()
        if _is_wildcard(opts["table"]):
            matches = _wildcard_tables(opts["root"], opts["table"])
            if not matches:
                raise ValueError(
                    f"fakebigquery: no tables match wildcard "
                    f"'{opts['table']}' under '{opts['root']}'"
                )
            schemas = [
                (t, _load_schema(opts["root"], t)) for t, _ in matches
            ]
            first_t, first_s = schemas[0]
            for t, s in schemas[1:]:
                if s != first_s:
                    raise ValueError(
                        "fakebigquery: wildcard tables have mismatched "
                        f"schemas ('{first_t}' vs '{t}'); a wildcard read "
                        "requires identical schemas"
                    )
            from pyspark.sql.types import StringType, StructField

            full = StructType(
                first_s.fields + [StructField(SUFFIX_COL, StringType())]
            )
        else:
            full = _load_schema(opts["root"], opts["table"])
        if "fields" not in opts:
            return full
        # server-side field list (Storage READ API selected_fields): the
        # catalog schema narrows BEFORE the reader exists, so unlisted
        # columns never reach the Arrow parse or the JVM transfer
        by_name = {f.name: f for f in full.fields}
        names = [s.strip() for s in str(opts["fields"]).split(",") if s.strip()]
        unknown = [n for n in names if n not in by_name]
        if unknown:
            raise ValueError(
                f"fakebigquery: fields option names unknown columns "
                f"{unknown}; table '{opts['table']}' has "
                f"{sorted(by_name)}"
            )
        if not names:
            raise ValueError("fakebigquery: fields option is empty")
        return StructType([by_name[n] for n in names])

    def reader(self, schema: StructType) -> DataSourceReader:
        return FakeBigQueryReader(schema, self._opts())

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        opts = self._opts()
        if _is_wildcard(opts["table"]):
            raise ValueError(
                "fakebigquery: cannot WRITE to a wildcard table "
                f"('{opts['table']}') — wildcards are a read-side union; "
                "route writes with MultiTableSink/MultiTableBufferedSink"
            )
        if overwrite:
            import shutil

            table_dir = os.path.join(
                opts["root"], "tables", opts["table"].replace("/", "__")
            )
            shutil.rmtree(table_dir, ignore_errors=True)
        return FakeBigQueryBatchWriter(schema, opts)

    def streamWriter(self, schema: StructType, overwrite: bool) -> DataSourceStreamWriter:
        return FakeBigQueryStreamWriter(schema, self._opts())

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        opts = self._opts()
        if _is_wildcard(opts["table"]):
            raise ValueError(
                "fakebigquery: wildcard tables are batch-read only "
                f"(got '{opts['table']}' on readStream)"
            )
        return FakeBigQueryStreamReader(schema, opts)


def register(spark) -> None:
    """Register the source for this session (idempotent).

    Two delivery paths, because two kinds of Python workers deserialize the
    DataSource:

    - executor data workers get the package via ``addPyFile``;
    - the driver-side *streaming source planning runner*
      (``python_streaming_source_runner.py``) is a separate process that
      does NOT see pyFiles — so the connector's module closure is marked
      pickle-by-value, making the pickled DataSource self-contained and
      importable-from-nowhere."""
    from pyspark import cloudpickle

    from .. import session as _session
    from ..streaming import batching as _batching
    from ..streaming import client_provider as _cprov
    from ..streaming import config as _config
    from ..streaming import errors as _errors
    from ..streaming import sinks as _sinks
    from . import fake_bigquery as _fbq

    _session.ensure_package_on_executors(spark)
    # One consistent pickle graph: every module whose classes cross the
    # worker boundary is by-value, so e.g. the BigQueryError raised by the
    # unpickled FakeBigQuery IS the class write_with_retry catches.
    # client_provider MUST ride along: the sinks' writer factories are
    # provider objects from that module, and a by-reference provider
    # would hand workers the REAL FakeBigQuery whose exception classes
    # the by-value write_with_retry cannot catch (the round-11 ordering
    # bug: any test registering this DataSource made later sink replay
    # tests' ALREADY_EXISTS trims miss on class identity).
    for mod in (
        _errors, _batching, _config, _sinks, _fbq, _cprov,
        sys.modules[__name__],
    ):
        cloudpickle.register_pickle_by_value(mod)
    spark.dataSource.register(FakeBigQueryDataSource)
