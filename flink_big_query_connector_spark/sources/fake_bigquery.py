"""FakeBigQuery — an in-process stand-in for the BigQuery Storage Write API.

The Spark analogue of the reference's mock client harness
(``src/test/java/.../util/MockJsonClientProvider.java``): it implements the
semantics the sink writers must handle — default streams, BUFFERED streams
with offset-checked appends, ``flush_rows`` visibility, stream finalization,
the 10 MB AppendRows limit, and scripted failures for every gRPC status the
retry state machines branch on.

State is **directory-backed with file locking**, not in-memory: Spark runs
Python UDF/foreachPartition code in separate worker processes, so a shared
fake service must live on disk.  This also gives the exactly-once tests real
durability semantics across query restarts.

Layout under ``root``::

    tables/<table>/streams/<stream>.jsonl   # one UTF-8 JSON row per line
    tables/<table>/streams/<stream>.meta    # {"type","offset","flushed",
                                            #  "finalized","bytes"}
    tables/<table>/streams/<stream>.idx     # one (row_end, byte_end) record
                                            # per append
    script.json                             # scripted failures / stream names

``.meta`` is the commit point: ``offset`` rows in the first ``bytes`` bytes
of ``.jsonl``.  An append truncates ``.jsonl`` to ``bytes`` before writing
(dropping the tail of an append that died before its ``.meta`` write), and
adds its ``.idx`` record only after ``.meta``, so a lost record merges two
appends in :meth:`FakeBigQuery.read_range` and never misplaces one.  A
stream written before ``.meta`` held ``bytes`` has it counted from its
first ``offset`` lines and, with no ``.idx``, reads as one range.
"""

from __future__ import annotations

import fcntl
import json
import os
import struct
import uuid
from bisect import bisect_left, bisect_right
from contextlib import contextmanager
from dataclasses import dataclass
from itertools import islice

from ..streaming.errors import (
    BigQueryError,
    MessageTooLargeError,
    OffsetAlreadyExistsError,
    OffsetOutOfRangeError,
    StatusCode,
    StreamFinalizedError,
    StreamNotFoundError,
)

DEFAULT_STREAM = "_default"
MAX_APPEND_BYTES = 10_000_000
# one .idx record: rows and data-file bytes at the end of an append
_INDEX_RECORD = "<QQ"
_INDEX_RECORD_SIZE = struct.calcsize(_INDEX_RECORD)


def default_stream_name(table: str) -> str:
    """`projects/p/datasets/d/tables/t/streams/_default` naming, as in the
    reference's ``Rows.defaultStream`` (``model/Rows.java:19-22``)."""
    return f"{table}/streams/{DEFAULT_STREAM}"


@contextmanager
def _locked(path: str):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "a+") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        try:
            yield
        finally:
            fcntl.flock(lock, fcntl.LOCK_UN)


@dataclass
class StreamInfo:
    name: str
    table: str
    type: str  # "DEFAULT" | "BUFFERED"
    offset: int
    flushed: int
    finalized: bool


class FakeBigQuery:
    """Directory-backed fake Storage Write API client.

    Instances are cheap handles over the shared directory — safe to create
    one per executor task (the pattern a real gRPC client pool would use).
    """

    def __init__(self, root: str, max_append_bytes: int = MAX_APPEND_BYTES):
        self.root = root
        self.max_append_bytes = max_append_bytes
        os.makedirs(root, exist_ok=True)

    # -- paths ------------------------------------------------------------
    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, "tables", table.replace("/", "__"))

    def _stream_base(self, table: str, stream: str) -> str:
        return os.path.join(
            self._table_dir(table), "streams", stream.replace("/", "__")
        )

    def _stream_paths(self, table: str, stream: str) -> tuple[str, str]:
        base = self._stream_base(table, stream)
        return base + ".jsonl", base + ".meta"

    def _index_path(self, table: str, stream: str) -> str:
        return self._stream_base(table, stream) + ".idx"

    def _lock_path(self, table: str, stream: str) -> str:
        return self._stream_paths(table, stream)[0] + ".lock"

    # -- scripted failures -------------------------------------------------
    # Mirrors MockJsonClientProvider's settable futures: the test scripts
    # "fail the next N appends with status S" and the writer under test must
    # recover per its state machine.
    def _script_path(self) -> str:
        return os.path.join(self.root, "script.json")

    def script_append_failures(
        self, statuses: list[str], message: str = "", table: str = "*"
    ) -> None:
        """Queue failures: each append pops one status (FIFO); "OK" passes.

        Script BEFORE the appends it should hit start.  An append checks
        for the script file once, without the lock, before popping an
        entry; an append already past that check when the script appears
        runs unscripted.  Scripting first makes every later append see
        the queue."""
        with _locked(self._script_path() + ".lock"):
            script = self._read_script()
            script.setdefault("append_failures", []).extend(
                {"status": s, "message": message, "table": table} for s in statuses
            )
            self._write_script(script)

    def clear_script(self) -> None:
        with _locked(self._script_path() + ".lock"):
            self._write_script({})

    def _read_script(self) -> dict:
        try:
            with open(self._script_path()) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return {}

    def _write_script(self, script: dict) -> None:
        tmp = self._script_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(script, f)
        os.replace(tmp, self._script_path())

    def _pop_scripted_failure(self, table: str) -> dict | None:
        # Fast path: no script file means nothing was ever scripted — skip
        # the lock + read every append would otherwise pay.  Only an
        # append racing the FIRST script_append_failures can miss the
        # queue (see its docstring: script before the appends start).
        if not os.path.exists(self._script_path()):
            return None
        with _locked(self._script_path() + ".lock"):
            script = self._read_script()
            failures = script.get("append_failures", [])
            if not failures:
                return None
            entry = failures.pop(0)
            self._write_script(script)
            if entry["status"] == "OK":
                return None
            return entry

    # -- stream lifecycle --------------------------------------------------
    def create_write_stream(
        self, table: str, stream_type: str = "BUFFERED", name: str | None = None
    ) -> str:
        """Create a write stream.  ``name`` allows deterministic stream
        naming (the exactly-once sink derives names from (batchId,
        partitionId) so checkpoint replay reattaches to the same stream)."""
        name = name or f"{table}/streams/{uuid.uuid4().hex[:12]}"
        self._init_stream(table, name, stream_type)
        return name

    def _init_stream(self, table: str, stream: str, stream_type: str) -> None:
        data, meta = self._stream_paths(table, stream)
        with _locked(self._lock_path(table, stream)):
            if not os.path.exists(meta):
                os.makedirs(os.path.dirname(data), exist_ok=True)
                open(data, "a").close()
                self._write_meta(
                    meta,
                    {"type": stream_type, "offset": 0, "flushed": 0,
                     "finalized": False, "table": table, "bytes": 0},
                )

    def get_write_stream(self, table: str, stream: str) -> StreamInfo:
        _, meta = self._stream_paths(table, stream)
        if not os.path.exists(meta):
            raise StreamNotFoundError(stream)
        m = self._read_meta(meta)
        return StreamInfo(
            name=stream, table=table, type=m["type"], offset=m["offset"],
            flushed=m["flushed"], finalized=m["finalized"],
        )

    def finalize_stream(self, table: str, stream: str) -> None:
        _, meta = self._stream_paths(table, stream)
        with _locked(self._lock_path(table, stream)):
            m = self._read_meta(meta)
            m["finalized"] = True
            self._write_meta(meta, m)

    @staticmethod
    def _read_meta(path: str) -> dict:
        with open(path) as f:
            return json.load(f)

    @staticmethod
    def _committed_bytes(data_path: str, meta: dict) -> int:
        """The byte length of a stream's committed rows.  A ``.meta``
        written before it recorded ``bytes`` has it counted from the first
        ``offset`` lines of the data file, which skips any uncommitted tail."""
        if "bytes" in meta:
            return meta["bytes"]
        with open(data_path, "rb") as f:
            return sum(len(line) for line in islice(f, meta["offset"]))

    @staticmethod
    def _write_meta(path: str, meta: dict) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, path)

    # -- append ------------------------------------------------------------
    def append(
        self, table: str, stream: str, rows: list[dict], offset: int = -1
    ) -> int:
        """Append serialized rows; returns the next offset.

        ``offset == -1`` means a default-stream (no-offset) append.  For
        BUFFERED streams the offset must equal the stream's current end:
        behind -> ALREADY_EXISTS (with expected/actual for trimming),
        ahead -> OUT_OF_RANGE — the exact semantics the reference's
        ``BigQueryBufferedSinkWriter`` branches on.
        """
        scripted = self._pop_scripted_failure(table)
        if scripted is not None:
            self._raise_scripted(scripted, stream)

        # str entries arrive pre-serialized (JVM-side to_json, A17)
        payload = [
            r if isinstance(r, str) else json.dumps(r, sort_keys=True, default=str)
            for r in rows
        ]
        size = sum(len(p) + 1 for p in payload)
        if size > self.max_append_bytes:
            raise MessageTooLargeError(size, self.max_append_bytes)

        if stream == DEFAULT_STREAM or stream.endswith("/" + DEFAULT_STREAM):
            self._init_stream(table, stream, "DEFAULT")

        data, meta = self._stream_paths(table, stream)
        if not os.path.exists(meta):
            raise StreamNotFoundError(stream)
        with _locked(self._lock_path(table, stream)):
            m = self._read_meta(meta)
            if m["finalized"]:
                raise StreamFinalizedError(stream)
            current = m["offset"]
            if offset >= 0 and m["type"] == "DEFAULT":
                # Storage API semantics: the default stream is append-only
                # with no offset coordination; an explicit offset is
                # INVALID_ARGUMENT, not silently ignored.
                raise BigQueryError(
                    StatusCode.INVALID_ARGUMENT,
                    f"explicit offset {offset} not allowed on default stream",
                )
            if offset >= 0 and m["type"] == "BUFFERED":
                if offset < current:
                    raise OffsetAlreadyExistsError(offset, current)
                if offset > current:
                    raise OffsetOutOfRangeError(offset, current)
            os.truncate(data, self._committed_bytes(data, m))
            with open(data, "a", encoding="utf-8", newline="\n") as f:
                for p in payload:
                    f.write(p + "\n")
                m["bytes"] = f.tell()  # a byte position: UTF-8 is stateless
            m["offset"] = current + len(rows)
            if m["type"] == "DEFAULT":
                m["flushed"] = m["offset"]  # default streams are immediately visible
            self._write_meta(meta, m)
            with open(self._index_path(table, stream), "ab") as f:
                end = f.seek(0, os.SEEK_END)
                # drop a record a crash tore, which would shift every later one
                f.truncate(end - end % _INDEX_RECORD_SIZE)
                f.write(struct.pack(_INDEX_RECORD, m["offset"], m["bytes"]))
            return m["offset"]

    @staticmethod
    def _raise_scripted(entry: dict, stream: str):
        status = StatusCode(entry["status"])
        msg = entry.get("message", "scripted failure")
        if status == StatusCode.INVALID_ARGUMENT and "MessageSize" in msg:
            raise MessageTooLargeError(MAX_APPEND_BYTES + 1)
        if status == StatusCode.INVALID_ARGUMENT and "finalized" in msg:
            raise StreamFinalizedError(stream)
        raise BigQueryError(status, msg)

    # -- visibility (two-phase commit) --------------------------------------
    def flush_rows(self, table: str, stream: str, offset: int) -> int:
        """Make rows up to and including ``offset`` visible (FlushRows).
        Flushing at-or-below the current flush point is tolerated, as the
        reference tolerates ALREADY_EXISTS on commit replay."""
        _, meta = self._stream_paths(table, stream)
        if not os.path.exists(meta):
            raise StreamNotFoundError(stream)
        with _locked(self._lock_path(table, stream)):
            m = self._read_meta(meta)
            if offset + 1 > m["offset"]:
                raise OffsetOutOfRangeError(offset, m["offset"])
            m["flushed"] = max(m["flushed"], offset + 1)
            self._write_meta(meta, m)
            return m["flushed"]

    # -- range reads (the Storage READ API side of a split) ------------------
    def read_range(
        self, table: str, stream: str, start: int, end: int
    ) -> tuple[int, int, bytes]:
        """The committed JSON lines of the appends holding rows
        ``[start, end)``, as ``(first_row, end_row, data)``: ``data`` holds
        rows ``first_row..end_row`` and runs from the last append boundary
        at or before ``start`` to the first at or after ``end``.  A stream
        without index records reads as one range from byte 0."""
        try:
            with open(self._index_path(table, stream), "rb") as f:
                raw = f.read()
        except FileNotFoundError:
            raw = b""
        raw = raw[: len(raw) - len(raw) % _INDEX_RECORD_SIZE]
        # .meta after .idx: every record read then lies within the commit
        data, meta = self._stream_paths(table, stream)
        m = self._read_meta(meta)
        if end > m["offset"]:
            raise OffsetOutOfRangeError(end, m["offset"])
        bounds = [
            (0, 0),
            *struct.iter_unpack(_INDEX_RECORD, raw),
            (m["offset"], self._committed_bytes(data, m)),
        ]
        row_ends = [r for r, _ in bounds]
        first_row, first_byte = bounds[bisect_right(row_ends, start) - 1]
        end_row, end_byte = bounds[bisect_left(row_ends, end)]
        with open(data, "rb") as f:
            f.seek(first_byte)
            return first_row, end_row, f.read(end_byte - first_byte)

    # -- reads (for assertions / the sink-table oracle) ---------------------
    def read_rows(self, table: str, only_visible: bool = True) -> list[dict]:
        """All rows in the table across streams (visible rows only by default)."""
        out: list[dict] = []
        streams_dir = os.path.join(self._table_dir(table), "streams")
        if not os.path.isdir(streams_dir):
            return out
        for fn in sorted(os.listdir(streams_dir)):
            if not fn.endswith(".meta"):
                continue
            meta = self._read_meta(os.path.join(streams_dir, fn))
            data_path = os.path.join(streams_dir, fn[:-5] + ".jsonl")
            limit = meta["flushed"] if only_visible else meta["offset"]
            with open(data_path, encoding="utf-8") as f:
                for i, line in enumerate(f):
                    if i >= limit:
                        break
                    out.append(json.loads(line))
        return out

    def table_count(self, table: str, only_visible: bool = True) -> int:
        return len(self.read_rows(table, only_visible))

    def list_streams(self, table: str) -> list[str]:
        streams_dir = os.path.join(self._table_dir(table), "streams")
        if not os.path.isdir(streams_dir):
            return []
        return sorted(
            fn[:-5].replace("__", "/") for fn in os.listdir(streams_dir)
            if fn.endswith(".meta")
        )
