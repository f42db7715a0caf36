"""Pluggable Storage Write API client seam.

The reference isolates client construction behind provider classes —
``client/BigQueryProtoClientProvider.java:45-101`` builds the
``BigQueryWriteClient`` + ``StreamWriter`` (endpoint, credentials,
``setEnableConnectionPool``), ``client/BigQueryJsonClientProvider.java:
80-93`` the JSON twin — so sink writers hold a PROVIDER, never a
concrete client.  This module is the Spark port of that seam:

- :class:`StorageWriteClient` is the structural protocol every backend
  client must satisfy — exactly the five Write-API verbs the sink state
  machines (A8–A16) call, with the semantics the contract tests in
  ``tests/test_client_contract.py`` pin (offset-checked appends,
  ALREADY_EXISTS/OUT_OF_RANGE branching, oversized-append refusal,
  finalize, FlushRows visibility).

- :class:`ClientProvider` is the reference's ``BigQueryClientProvider``
  analogue: a small PICKLABLE factory the sinks ship into executor
  tasks; ``client()`` is called once per task/pool slot (the
  per-subtask writer pattern) so the provider itself must never hold a
  live connection.

- :class:`FakeBigQueryClientProvider` wraps the in-process, file-locked
  :class:`~..sources.fake_bigquery.FakeBigQuery` — the sanctioned
  harness backend.

- :class:`GoogleBigQueryStorageClientProvider` /
  :class:`GoogleStorageWriteClient` are the real-backend adapter for
  the public ``google-cloud-bigquery-storage`` package (not installed
  in this environment): the five verbs are IMPLEMENTED against the
  ``bigquery_storage_v1`` surface with full error translation into the
  typed errors the retry machines branch on, and exercised by
  ``tests/test_google_provider.py`` through a mocked module graph.
  Constructing the provider without the package fails fast.

The retry/trim/split state machines (``sinks.write_with_retry``) are
already backend-agnostic — they branch purely on the typed errors in
``streaming/errors.py``, which mirror gRPC status codes — so swapping
providers swaps the transport, never the semantics.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Protocol, runtime_checkable

from ..sources.fake_bigquery import FakeBigQuery
from .errors import (
    BigQueryError,
    MessageTooLargeError,
    OffsetAlreadyExistsError,
    OffsetOutOfRangeError,
    StatusCode,
    StreamFinalizedError,
    StreamNotFoundError,
)


@runtime_checkable
class StorageWriteClient(Protocol):
    """The five Storage-Write-API verbs the sink machines call.

    Error contract (see ``streaming/errors.py``; pinned by
    ``tests/test_client_contract.py``):

    - ``append`` with ``offset`` behind the stream end raises
      ``OffsetAlreadyExistsError`` (gRPC ALREADY_EXISTS) carrying
      expected/actual so the caller can trim (A13);
    - ``append`` with ``offset`` ahead raises ``OffsetOutOfRangeError``
      (OUT_OF_RANGE);
    - an append whose serialized payload exceeds the service limit
      raises ``MessageTooLargeError`` so the caller splits (A14);
    - appending to a finalized stream raises ``StreamFinalizedError``;
    - unknown streams raise ``StreamNotFoundError``.
    """

    def create_write_stream(
        self, table: str, stream_type: str = "BUFFERED",
        name: str | None = None,
    ) -> str:
        """CreateWriteStream; returns the stream name."""
        ...

    def get_write_stream(self, table: str, stream: str):
        """GetWriteStream; returns stream info (type/offset/finalized)."""
        ...

    def finalize_stream(self, table: str, stream: str) -> None:
        """FinalizeWriteStream."""
        ...

    def append(
        self, table: str, stream: str, rows: list, offset: int = -1
    ) -> int:
        """AppendRows; ``offset == -1`` is a default-stream append.
        Returns the next offset."""
        ...

    def flush_rows(self, table: str, stream: str, offset: int) -> int:
        """FlushRows: make rows up to and including ``offset`` visible
        (BUFFERED streams).  Returns the new flush point."""
        ...


class ClientProvider:
    """Abstract picklable client factory (the ``BigQueryClientProvider``
    seam).  Subclasses carry only plain configuration state."""

    def client(self) -> StorageWriteClient:
        raise NotImplementedError


@dataclass(frozen=True)
class FakeBigQueryClientProvider(ClientProvider):
    """Provider for the in-process directory-backed fake backend.

    Picklable by construction (one string of state); ``client()`` is a
    cheap handle over the shared directory, safe to call once per
    executor task — the same pattern a real gRPC client pool uses."""

    backend_root: str

    def client(self) -> StorageWriteClient:
        return FakeBigQuery(self.backend_root)


def _import_google_modules():
    """Import the public ``google-cloud-bigquery-storage`` surface the
    adapter drives, failing fast with the seam pointer when absent."""
    import importlib

    try:
        bqs = importlib.import_module("google.cloud.bigquery_storage_v1")
        types_mod = importlib.import_module(
            "google.cloud.bigquery_storage_v1.types"
        )
        writer_mod = importlib.import_module(
            "google.cloud.bigquery_storage_v1.writer"
        )
        gexc = importlib.import_module("google.api_core.exceptions")
    except ImportError as exc:
        raise ImportError(
            "google-cloud-bigquery-storage is not installed; "
            "GoogleBigQueryStorageClientProvider is the real-backend "
            "adapter seam (see GoogleStorageWriteClient for the "
            "verb-by-verb mapping).  Install the package to use a real "
            "BigQuery backend; every sink state machine and contract "
            "test is backend-agnostic already."
        ) from exc
    return bqs, types_mod, writer_mod, gexc


# proto2 DescriptorProto / FieldDescriptorProto field numbers and enum
# values (google/protobuf/descriptor.proto — stable wire contract)
_DP_NAME, _DP_FIELD, _DP_NESTED = 1, 2, 3
_FD_NAME, _FD_NUMBER, _FD_LABEL, _FD_TYPE, _FD_TYPE_NAME = 1, 3, 4, 5, 6
_LABELS = {"NULLABLE": 1, "REQUIRED": 2, "REPEATED": 3}
#: BQ type -> FieldDescriptorProto.Type, chosen to match the wire types
#: the pure-Python row encoder emits (streaming/proto.py::_SCALARS), so
#: rows serialized there parse under this descriptor on the service side.
_FD_TYPES = {
    "BOOL": 8, "BOOLEAN": 8,
    "INT64": 3, "INTEGER": 3,
    "FLOAT64": 1, "FLOAT": 1,
    "STRING": 9, "JSON": 9, "GEOGRAPHY": 9, "TIME": 9, "INTERVAL": 9,
    "DATETIME": 9,
    "BYTES": 12, "NUMERIC": 12, "BIGNUMERIC": 12,
    "DATE": 5,
    "TIMESTAMP": 3,
}


def serialized_descriptor_proto(bq_schema: dict, name: str = "Row") -> bytes:
    """Serialized proto2 ``DescriptorProto`` derived from a BigQuery JSON
    schema dict — the descriptor the Storage Write API's first
    AppendRows request carries (reference:
    ``client/BigQueryProtoClientProvider.java:45``'s
    ``ProtoSchemaConverter`` role).

    Hand-encoded with the same varint/length-delimited primitives as the
    row encoder (``streaming/proto.py``), so it needs NO protobuf
    runtime to BUILD; :class:`GoogleStorageWriteClient` parses it with
    ``DescriptorProto.MergeFromString`` when the google packages are
    present (``proto_descriptor_serialized=``).  Field numbers are
    1-based schema order and types mirror ``proto.py::_SCALARS`` wire
    choices, so rows encoded by :class:`~..streaming.proto
    .ProtoRowSerializer` parse under this descriptor byte-for-byte."""
    from .proto import _LEN, _VARINT, _tag, encode_varint

    def enc_str(fnum: int, s: str) -> bytes:
        b = s.encode("utf-8")
        return _tag(fnum, _LEN) + encode_varint(len(b)) + b

    def enc_varint(fnum: int, v: int) -> bytes:
        return _tag(fnum, _VARINT) + encode_varint(v)

    def build(schema: dict, msg_name: str, scope: str) -> bytes:
        out = bytearray(enc_str(_DP_NAME, msg_name))
        nested: list[bytes] = []
        for i, f in enumerate(schema.get("fields", []), start=1):
            ftype = f["type"].upper()
            mode = (f.get("mode") or "NULLABLE").upper()
            fd = bytearray(enc_str(_FD_NAME, f["name"]))
            fd += enc_varint(_FD_NUMBER, i)
            fd += enc_varint(_FD_LABEL, _LABELS.get(mode, 1))
            if ftype in ("STRUCT", "RECORD"):
                sub_name = f"F{i}"
                fd += enc_varint(_FD_TYPE, 11)  # TYPE_MESSAGE
                fd += enc_str(
                    _FD_TYPE_NAME, f".{scope}{msg_name}.{sub_name}"
                )
                nested.append(
                    build(
                        {"fields": f.get("fields", [])},
                        sub_name,
                        f"{scope}{msg_name}.",
                    )
                )
            else:
                if ftype not in _FD_TYPES:
                    raise ValueError(f"unsupported BigQuery type: {ftype}")
                fd += enc_varint(_FD_TYPE, _FD_TYPES[ftype])
            out += _tag(_DP_FIELD, _LEN) + encode_varint(len(fd)) + bytes(fd)
        for sub in nested:
            out += _tag(_DP_NESTED, _LEN) + encode_varint(len(sub)) + sub
        return bytes(out)

    return build(bq_schema, name, "")


class GoogleStorageWriteClient:
    """:class:`StorageWriteClient` adapter over the public
    ``google.cloud.bigquery_storage_v1`` client.

    Verb mapping (reference ``client/BigQueryProtoClientProvider.java:
    45-101`` builds the Java ``StreamWriter`` equivalent; ``sink/async/
    AsyncClientProvider.java:87-99`` the async twin):

    - ``create_write_stream`` → ``BigQueryWriteClient.create_write_stream
      (parent=<table path>, write_stream=WriteStream(type_=...))``.  The
      service ASSIGNS stream names; a caller-chosen ``name`` (the 2PC
      sink's deterministic ``b{batchId}-p{pid}`` replay key) is honored
      as a durable ALIAS under ``alias_root`` — first creation records
      alias→service-name atomically (O_EXCL), replays reattach to the
      recorded service stream, exactly the role the reference's
      checkpointed ``StreamState.name`` plays
      (``process/StreamStateHandler.java``).
    - ``get_write_stream`` → ``BigQueryWriteClient.get_write_stream``;
      the returned ``StreamInfo.offset`` is the CLIENT-tracked append
      position because the service's WriteStream resource exposes no end
      offset — the same bookkeeping as the reference's per-writer
      ``streamOffsets`` map (``BigQueryBufferedSinkWriter.java:193-199``).
    - ``finalize_stream`` → ``finalize_write_stream``.
    - ``append`` → one ``AppendRowsStream`` per stream (lazy, cached —
      the connection-reuse role of ``StreamWriter``/
      ``setEnableConnectionPool``), ``send(AppendRowsRequest(offset=...,
      proto_rows=ProtoRows(serialized_rows=...)))``, then block on the
      future.  ``bytes`` rows are the production path (the A18 proto
      wire encoder emits rows already serialized to the table's proto
      descriptor; ``proto_descriptor_serialized`` supplies the
      writer_schema on the first request); ``str``/``dict`` rows are
      utf-8-encoded JSON for harness symmetry (the Java JsonStreamWriter
      converts client-side the same way).
    - ``flush_rows`` → ``BigQueryWriteClient.flush_rows(FlushRowsRequest
      (write_stream=..., offset=...))``, normalized to the contract's
      "rows visible" count (service offset + 1).

    Error translation feeds ``sinks.write_with_retry`` the exact typed
    errors the fake raises, so the retry/trim/split state machines run
    unchanged against the real service
    (``BigQueryBufferedSinkWriter.java:72-190`` status branching):

    - ``AlreadyExists`` → :class:`OffsetAlreadyExistsError` with the
      durable end parsed from the service message ("expected offset N";
      the Java ``Exceptions.OffsetAlreadyExists.getExpectedOffset``),
      falling back to this client's tracked offset; unparseable ⇒
      rethrown as a generic ALREADY_EXISTS (the reference's
      "unable to parse → fail the batch" branch, ``:141-146``);
    - ``OutOfRange`` → :class:`OffsetOutOfRangeError`;
    - ``InvalidArgument`` with the service's "MessageSize is too large"
      text → :class:`MessageTooLargeError` (the adapter ALSO refuses
      >10 MB payloads client-side before the RPC, as ``StreamWriter``
      does, so the A14 split triggers without a wasted round-trip);
    - ``InvalidArgument``/``FailedPrecondition`` mentioning a finalized
      stream → :class:`StreamFinalizedError`;
    - ``NotFound`` → :class:`StreamNotFoundError`;
    - ``Aborted``/``ServiceUnavailable``/``InternalServerError``/
      ``Cancelled``/``Unknown``/``DeadlineExceeded`` → transient
      :class:`BigQueryError` codes for the retry taxonomy.
    """

    def __init__(
        self,
        project: str,
        credentials_path: str | None = None,
        enable_connection_pool: bool = False,
        alias_root: str | None = None,
        max_append_bytes: int = 10_000_000,
        request_timeout_s: float = 60.0,
        proto_descriptor_serialized: bytes | None = None,
    ):
        bqs, types_mod, writer_mod, gexc = _import_google_modules()
        self._types = types_mod
        self._writer_mod = writer_mod
        self._gexc = gexc
        self.project = project
        self.alias_root = alias_root
        self.max_append_bytes = max_append_bytes
        self.request_timeout_s = request_timeout_s
        self.enable_connection_pool = enable_connection_pool
        client_kwargs = {}
        if credentials_path:
            import importlib

            sa = importlib.import_module("google.oauth2.service_account")
            client_kwargs["credentials"] = (
                sa.Credentials.from_service_account_file(credentials_path)
            )
        self._client = bqs.BigQueryWriteClient(**client_kwargs)
        self._writer_schema = None
        if proto_descriptor_serialized is not None:
            from google.protobuf import descriptor_pb2

            dp = descriptor_pb2.DescriptorProto()
            dp.MergeFromString(proto_descriptor_serialized)
            self._writer_schema = types_mod.ProtoSchema(proto_descriptor=dp)
        # client-side bookkeeping (the reference's streamOffsets map):
        # stream path -> next append offset / flush point / finalized
        self._offsets: dict[str, int] = {}
        self._flushed: dict[str, int] = {}
        self._finalized: set[str] = set()
        self._writers: dict = {}

    # -- path helpers --------------------------------------------------
    def _table_path(self, table: str) -> str:
        if table.startswith("projects/"):
            return table
        parts = table.replace(":", ".").split(".")
        if len(parts) == 2:
            parts = [self.project, *parts]
        if len(parts) != 3:
            raise BigQueryError(
                StatusCode.INVALID_ARGUMENT,
                f"table id {table!r} is not dataset.table or "
                "project.dataset.table",
            )
        p, d, t = parts
        return f"projects/{p}/datasets/{d}/tables/{t}"

    def _stream_path(self, table: str, stream: str) -> str:
        if stream.startswith("projects/"):
            return stream
        leaf = stream.rsplit("/", 1)[-1]
        return f"{self._table_path(table)}/streams/{leaf}"

    # -- alias registry (deterministic replay keys) --------------------
    def _alias_path(self, name: str) -> str:
        import hashlib
        import os

        os.makedirs(self.alias_root, exist_ok=True)
        digest = hashlib.sha256(name.encode()).hexdigest()[:32]
        return os.path.join(self.alias_root, f"{digest}.alias")

    def _alias_record(self, name: str, service_name: str) -> str:
        import os

        path = self._alias_path(name)
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            # lost the create race: reattach to the winner, finalize our
            # now-orphaned stream so it can never absorb appends
            with open(path) as f:
                winner = f.read().strip()
            try:
                self._client.finalize_write_stream(name=service_name)
            except Exception:  # noqa: BLE001 - best-effort orphan cleanup
                pass
            return winner
        with os.fdopen(fd, "w") as f:
            f.write(service_name)
        return service_name

    # -- protocol verbs -------------------------------------------------
    def create_write_stream(
        self, table: str, stream_type: str = "BUFFERED",
        name: str | None = None,
    ) -> str:
        if stream_type == "DEFAULT":
            return self._stream_path(table, "_default")
        if name is not None:
            if self.alias_root is None:
                raise BigQueryError(
                    StatusCode.INVALID_ARGUMENT,
                    "deterministic stream names need alias_root: the "
                    "service assigns write-stream names, so replay keys "
                    "must be recorded as aliases (pass alias_root= on "
                    "the provider, e.g. a checkpoint-adjacent directory)",
                )
            import os

            path = self._alias_path(name)
            if os.path.exists(path):
                with open(path) as f:
                    return f.read().strip()
        ws = self._types.WriteStream(
            type_=getattr(self._types.WriteStream.Type, stream_type)
        )
        try:
            created = self._client.create_write_stream(
                parent=self._table_path(table), write_stream=ws
            )
        except Exception as exc:  # noqa: BLE001 - translated below
            raise self._translate(exc, table, name or "", -1) from exc
        if name is None:
            return created.name
        return self._alias_record(name, created.name)

    def get_write_stream(self, table: str, stream: str):
        from ..sources.fake_bigquery import StreamInfo

        spath = self._stream_path(table, stream)
        try:
            ws = self._client.get_write_stream(name=spath)
        except Exception as exc:  # noqa: BLE001 - translated below
            raise self._translate(exc, table, stream, -1) from exc
        type_name = getattr(
            getattr(ws, "type_", None), "name", None
        ) or "BUFFERED"
        return StreamInfo(
            name=stream,
            table=table,
            type=type_name,
            offset=self._offsets.get(spath, 0),
            flushed=self._flushed.get(spath, 0),
            finalized=spath in self._finalized,
        )

    def finalize_stream(self, table: str, stream: str) -> None:
        spath = self._stream_path(table, stream)
        try:
            self._client.finalize_write_stream(name=spath)
        except Exception as exc:  # noqa: BLE001 - translated below
            raise self._translate(exc, table, stream, -1) from exc
        self._finalized.add(spath)

    def _append_writer(self, spath: str):
        w = self._writers.get(spath)
        if w is None:
            template = self._types.AppendRowsRequest(
                write_stream=spath,
                proto_rows=self._types.AppendRowsRequest.ProtoData(
                    writer_schema=self._writer_schema
                ),
            )
            w = self._writer_mod.AppendRowsStream(self._client, template)
            self._writers[spath] = w
        return w

    @staticmethod
    def _serialize_row(row) -> bytes:
        if isinstance(row, (bytes, bytearray)):
            return bytes(row)
        if isinstance(row, str):
            return row.encode("utf-8")
        import json

        return json.dumps(row, sort_keys=True, default=str).encode("utf-8")

    def append(
        self, table: str, stream: str, rows: list, offset: int = -1
    ) -> int:
        payload = [self._serialize_row(r) for r in rows]
        size = sum(len(p) + 1 for p in payload)
        if size > self.max_append_bytes:
            # client-side refusal, as StreamWriter does — the A14 split
            # fires without paying a doomed round-trip
            raise MessageTooLargeError(size, self.max_append_bytes)
        spath = self._stream_path(table, stream)
        req = self._types.AppendRowsRequest(
            write_stream=spath,
            proto_rows=self._types.AppendRowsRequest.ProtoData(
                rows=self._types.ProtoRows(serialized_rows=payload)
            ),
        )
        if offset >= 0:
            req.offset = offset
        try:
            future = self._append_writer(spath).send(req)
            resp = future.result(timeout=self.request_timeout_s)
        except Exception as exc:  # noqa: BLE001 - translated below
            translated = self._translate(exc, table, stream, offset)
            if isinstance(translated, BigQueryError) and translated.code in (
                StatusCode.UNAVAILABLE,
                StatusCode.UNKNOWN,
                StatusCode.CANCELLED,
            ):
                # writer recreation on a broken connection (A10): drop
                # the cached AppendRowsStream so the retry reopens it
                self._writers.pop(spath, None)
            raise translated from exc
        if offset >= 0:
            new_end = offset + len(rows)
        else:
            base = getattr(
                getattr(getattr(resp, "append_result", None), "offset", None),
                "value",
                None,
            )
            new_end = base + len(rows) if base is not None else -1
        if new_end >= 0:
            self._offsets[spath] = max(self._offsets.get(spath, 0), new_end)
        return new_end

    def flush_rows(self, table: str, stream: str, offset: int) -> int:
        spath = self._stream_path(table, stream)
        req = self._types.FlushRowsRequest(write_stream=spath, offset=offset)
        try:
            resp = self._client.flush_rows(request=req)
        except Exception as exc:  # noqa: BLE001 - translated below
            raise self._translate(exc, table, stream, offset) from exc
        flushed = getattr(resp, "offset", offset) + 1
        self._flushed[spath] = max(self._flushed.get(spath, 0), flushed)
        return flushed

    # -- error translation ----------------------------------------------
    @staticmethod
    def _parse_expected_offset(message: str) -> int | None:
        import re

        m = re.search(
            r"expected offset[^\d-]*(\d+)", message, re.IGNORECASE
        )
        return int(m.group(1)) if m else None

    def _translate(self, exc, table: str, stream: str, offset: int):
        if isinstance(exc, BigQueryError):
            return exc  # already typed (e.g. raised by our own checks)
        g = self._gexc
        msg = str(exc)
        low = msg.lower()
        spath = self._stream_path(table, stream) if stream else ""

        def isinst(name: str) -> bool:
            klass = getattr(g, name, None)
            return klass is not None and isinstance(exc, klass)

        if isinst("AlreadyExists"):
            end = self._parse_expected_offset(msg)
            if end is None:
                end = self._offsets.get(spath)
            if end is None or offset < 0:
                # unparseable and untracked: fail the batch, the
                # reference's :141-146 branch
                return BigQueryError(StatusCode.ALREADY_EXISTS, msg)
            return OffsetAlreadyExistsError(offset, end)
        if isinst("OutOfRange"):
            end = self._parse_expected_offset(msg)
            if end is None:
                end = self._offsets.get(spath, 0)
            return OffsetOutOfRangeError(max(offset, 0), end)
        if isinst("NotFound"):
            return StreamNotFoundError(stream)
        if isinst("FailedPrecondition") and "finaliz" in low:
            return StreamFinalizedError(stream)
        if isinst("InvalidArgument"):
            if "messagesize is too large" in low:
                return MessageTooLargeError(
                    self.max_append_bytes + 1, self.max_append_bytes
                )
            if "finaliz" in low:
                return StreamFinalizedError(stream)
            return BigQueryError(StatusCode.INVALID_ARGUMENT, msg)
        for name, code in (
            ("Aborted", StatusCode.ABORTED),
            ("ServiceUnavailable", StatusCode.UNAVAILABLE),
            ("InternalServerError", StatusCode.INTERNAL),
            ("Cancelled", StatusCode.CANCELLED),
            ("DeadlineExceeded", StatusCode.UNKNOWN),
            ("Unknown", StatusCode.UNKNOWN),
            ("PermissionDenied", StatusCode.PERMISSION_DENIED),
        ):
            if isinst(name):
                return BigQueryError(code, msg)
        return BigQueryError(StatusCode.UNKNOWN, msg)


@dataclass(frozen=True)
class GoogleBigQueryStorageClientProvider(ClientProvider):
    """Provider for the public ``google-cloud-bigquery-storage`` backend.

    Plain-configuration, picklable (the ClientProvider contract);
    ``client()`` builds a :class:`GoogleStorageWriteClient` per
    task/pool slot.  Construction FAILS FAST when the package is absent
    (``__post_init__`` probes the import — ADVICE r11: a misconfigured
    deployment must not get past sink wiring), while unpickling on an
    executor defers to ``client()``'s own import gate."""

    project: str
    credentials_path: str | None = None
    enable_connection_pool: bool = False
    alias_root: str | None = None
    max_append_bytes: int = 10_000_000
    request_timeout_s: float = 60.0
    proto_descriptor_serialized: bytes | None = None

    def __post_init__(self):
        _import_google_modules()

    def client(self) -> StorageWriteClient:
        return GoogleStorageWriteClient(
            project=self.project,
            credentials_path=self.credentials_path,
            enable_connection_pool=self.enable_connection_pool,
            alias_root=self.alias_root,
            max_append_bytes=self.max_append_bytes,
            request_timeout_s=self.request_timeout_s,
            proto_descriptor_serialized=self.proto_descriptor_serialized,
        )
