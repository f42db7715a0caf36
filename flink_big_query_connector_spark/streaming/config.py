"""Writer configuration.

Defaults mirror the reference's shipped tunables
(``model/config/WriterSettings.java:93-102`` and
``model/config/WriterRetrySettings.java:54-59`` in the reference repo):
streamsPerTable=1, writerThreads=1, timeout 10s, retryCount=5,
retryPause=5s, maxInflightRequests=1000, maxInflightBytes=100MB,
maxRetryDuration=5min, maxRequestWaitCallbackTime=5min; exponential
backoff initial 500ms x1.1 capped at 1min / 5 attempts.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class WriterRetrySettings:
    """Backoff schedule for append RPC retries."""

    initial_backoff_s: float = 0.5
    backoff_multiplier: float = 1.1
    max_backoff_s: float = 60.0
    max_attempts: int = 5
    max_retry_duration_s: float = 300.0
    # gax RetrySettings applies randomized jitter to every delay (the
    # reference inherits it via WriterRetrySettings.java:54-59 ->
    # RetrySettings); fraction of the delay the jitter may remove.
    # 0.0 (default) = deterministic schedule, the harness-friendly mode.
    jitter_frac: float = 0.0

    def backoff(self, attempt: int) -> float:
        """Delay before retry ``attempt`` (0-based)."""
        return min(
            self.initial_backoff_s * (self.backoff_multiplier**attempt),
            self.max_backoff_s,
        )

    def backoff_jittered(self, attempt: int, u: float) -> float:
        """gax-style randomized delay: uniform in
        ``[delay * (1 - jitter_frac), delay]``.  ``u`` is the uniform
        [0,1] sample, caller-supplied so retry tests stay deterministic
        (the same injection seam as write_with_retry's ``sleep``)."""
        return self.backoff(attempt) * (1.0 - self.jitter_frac * u)


@dataclass(frozen=True)
class WriterSettings:
    """Per-writer tunables (reference defaults)."""

    streams_per_table: int = 1
    writer_threads: int = 1
    timeout_s: float = 10.0
    retry_count: int = 5
    retry_pause_s: float = 5.0
    max_inflight_requests: int = 1000
    max_inflight_bytes: int = 100 * 1024 * 1024
    max_retry_duration_s: float = 300.0
    max_request_wait_callback_s: float = 300.0
    enable_connection_pool: bool = False
    # BigQuery Storage Write API AppendRows hard limit the reference's split
    # logic honors (split-in-half on "MessageSize is too large").
    max_append_bytes: int = 10_000_000
    retry: WriterRetrySettings = field(default_factory=WriterRetrySettings)
    # A24: how the writer authenticates (None = DefaultCredentials
    # semantics — resolution delegated to the client environment).
    credentials: "Credentials | None" = None
    # ExecutorProvider parity (reference sink/ExecutorProvider.java:1-9,
    # wired via BigQueryStreamSink.java:20): callers may supply the
    # executor the async sink runs appends on.  A factory taking the
    # worker count and returning a concurrent.futures.Executor; None =
    # the sink's own ThreadPoolExecutor.  Must be PICKLABLE (module-level
    # function or class) — settings travel inside executor closures.
    executor_provider: "object | None" = None

    @property
    def append_budget_bytes(self) -> int:
        """Byte bound of one chunked append: half of ``max_append_bytes``.
        The headroom covers request framing, which a line's size does not
        count; an append that is still too large splits in half."""
        return self.max_append_bytes // 2


@dataclass(frozen=True)
class BatchTriggerSettings:
    """Count/size/time batch trigger bounds (reference
    ``process/BatchTrigger.java`` builder; README example: count 100,
    timeout 1s, 1MB)."""

    max_count: int = 100
    max_bytes: int = 1 * 1024 * 1024
    timeout_s: float = 1.0
    reset_timer_on_new_record: bool = True


# ---------------------------------------------------------------------------
# Credentials (reference A24: model/config/Credentials.java + the three
# shipped providers DefaultCredentials / FileCredentialsProvider /
# JsonCredentialsProvider.java:24-28)
# ---------------------------------------------------------------------------


class Credentials:
    """Serializable credential source resolved lazily per writer.

    Spark-first mapping: in a real deployment these feed the BigQuery
    client library's auth (the same library the reference calls via
    ``Credentials.toProvider``); against the file-backed fake backend the
    resolved material is carried but unused.  The three shipped flavors
    mirror the reference exactly: application-default, key-file path, and
    inline service-account JSON.
    """

    def resolve(self) -> dict:
        """Return the credential material as a dict (the
        ``toProvider().getCredentials()`` analogue)."""
        raise NotImplementedError


@dataclass(frozen=True)
class DefaultCredentials(Credentials):
    """Application-default credentials (``DefaultCredentials.java``):
    resolution is delegated to the client environment (metadata server /
    env var), so there is no material to carry."""

    def resolve(self) -> dict:
        return {"type": "application_default"}


@dataclass(frozen=True)
class FileCredentials(Credentials):
    """Service-account key file (``FileCredentialsProvider.java``): the
    PATH is what ships to executors; the key is read lazily where the
    writer runs, never serialized into the job graph."""

    path: str = ""

    def resolve(self) -> dict:
        import json as _json

        with open(self.path) as f:
            return _json.load(f)


@dataclass(frozen=True)
class JsonCredentials(Credentials):
    """Inline service-account JSON (``JsonCredentialsProvider.java``):
    the key travels with the (serialized) settings, as in the reference."""

    service_account_key: str = ""

    def resolve(self) -> dict:
        import json as _json

        return _json.loads(self.service_account_key)
