"""A timing ``ClientProvider`` for the traced run.

The sinks take a picklable ``client_provider=`` and call ``client()`` once
per executor task (and once on the driver for the 2PC commit).  This
provider wraps the package's ``FakeBigQueryClientProvider`` and records a
span around each Storage-Write verb.  Driver-side spans go straight to the
benchmark's in-memory :class:`~perfbench.spans.Tracer`; executor-side spans
are buffered per client (one client per task) and written to one side file
per task when the client is released.

This module is pickled by value into executor workers (they do not have
the benchmark on their path), so it imports nothing from the benchmark.
"""

from __future__ import annotations

import json
import os
import time
import uuid
import weakref

from flink_big_query_connector_spark.streaming.client_provider import (
    ClientProvider,
)


def _flush(buffer: list, side_dir: str) -> None:
    if not buffer:
        return
    path = os.path.join(side_dir, f"task-{os.getpid()}-{uuid.uuid4().hex}.jsonl")
    with open(path, "w") as f:
        for rec in buffer:
            f.write(json.dumps(rec) + "\n")
    buffer.clear()


class TimingClient:
    """Delegates the five Storage-Write verbs to ``inner`` and records one
    span per call, with rows/bytes for appends and the status name for
    calls that raise."""

    def __init__(self, inner, provider: TimingClientProvider):
        self._inner = inner
        self._provider = provider
        self._buffer: list[dict] = []
        if provider.collector is None:
            weakref.finalize(self, _flush, self._buffer, provider.side_dir)

    def _record(self, name: str, start: float, **attrs) -> None:
        p = self._provider
        if p.collector is not None:
            p.collector.add(name, start, time.time(), p.parent, p.request,
                            **attrs)
        else:
            self._buffer.append({
                "id": f"x{uuid.uuid4().hex[:12]}", "name": name,
                "start": start, "end": time.time(), "parent": p.parent,
                "request": p.request, "attrs": attrs,
            })

    def _call(self, name: str, fn, *args, **attrs):
        start = time.time()
        try:
            out = fn(*args)
        except Exception as e:
            code = getattr(e, "code", None)
            status = getattr(code, "value", None) or type(e).__name__
            self._record(name, start, status=status, **attrs)
            raise
        self._record(name, start, status="OK", **attrs)
        return out

    def create_write_stream(self, table, stream_type="BUFFERED", name=None):
        return self._call("backend.create_stream",
                          self._inner.create_write_stream,
                          table, stream_type, name)

    def get_write_stream(self, table, stream):
        return self._call("backend.get_stream", self._inner.get_write_stream,
                          table, stream)

    def finalize_stream(self, table, stream):
        return self._call("backend.finalize", self._inner.finalize_stream,
                          table, stream)

    def append(self, table, stream, rows, offset=-1):
        size = sum(
            (len(r) if isinstance(r, str) else len(json.dumps(r))) + 1
            for r in rows
        )
        return self._call("backend.append", self._inner.append, table,
                          stream, rows, offset, rows=len(rows), bytes=size)

    def flush_rows(self, table, stream, offset):
        return self._call("backend.flush", self._inner.flush_rows, table,
                          stream, offset)


class TimingClientProvider(ClientProvider):
    """Wraps another provider; ``parent`` and ``request`` name the span
    that the next executor tasks run under (the benchmark sets them before
    each micro-batch, and the provider is pickled with the values)."""

    def __init__(self, inner: ClientProvider, side_dir: str, collector=None):
        self.inner = inner
        self.side_dir = side_dir
        self.collector = collector  # driver only; never pickled
        self.parent: str | None = None
        self.request = ""

    def __getstate__(self):
        state = dict(self.__dict__)
        state["collector"] = None
        return state

    def client(self) -> TimingClient:
        return TimingClient(self.inner.client(), self)
