"""Control-plane middleware analogs: request IDs, rate limiting,
tracing.

The reference wraps its FastAPI app with three pieces of plumbing;
this module re-expresses each once, for both transports over
``api.CdcApiService`` — the HTTP server (``api.py``) and the CLI
(``cli.py``) — same semantics, no web framework:

- ``request_id``  → ``src/middleware/request_id.py``: honor a
  caller-supplied ID (the ``X-Request-ID`` header analog is the
  ``--request-id`` flag), else mint a UUID; propagate it into every
  emitted row/log and the trace context.
- ``RateLimiter`` → ``src/middleware/rate_limit.py``: fixed-window
  limits, default ``100/minute`` + ``1000/hour`` (the reference's
  slowapi defaults).  State lives in a small JSON file so consecutive
  CLI invocations share a window (the in-process ``memory://`` store
  of a long-lived API maps to a file for a short-lived CLI).  The
  clock is injectable for tests.
- ``Tracer``      → ``src/monitoring/tracing.py``: span context
  manager with trace/span/parent IDs, wall-clock duration, status,
  and parent-based ratio sampling where errors are ALWAYS sampled
  (the reference configures ``ParentBasedTraceIdRatio`` plus 100 %
  error sampling).  Export is a pluggable callable; the default
  keeps the most recent ``MAX_SPANS`` in memory (the Jaeger exporter
  has no in-container analog).  The span stack is per thread, so the
  threaded HTTP server's concurrent requests each get their own root
  span.  Spark's own UI covers executor-side timing; these spans
  cover the service layer above it.
"""

from __future__ import annotations

import json
import threading
import time
import uuid
from contextlib import contextmanager
from typing import Callable

from cass_cdc_pg_spark.durable import write_json

#: spans the default in-memory exporter retains (a long-running server
#: must not grow per request), like ``monitoring.OBSERVATION_WINDOW``
MAX_SPANS = 1024


def request_id(provided: str | None = None) -> str:
    """Caller-supplied ID if present, else a fresh UUID4 string."""
    return provided if provided else str(uuid.uuid4())


class RateLimitExceeded(Exception):
    def __init__(self, key: str, limit: int, window_sec: int, retry_after: float):
        self.key, self.limit = key, limit
        self.window_sec, self.retry_after = window_sec, retry_after
        super().__init__(
            f"rate limit exceeded for {key!r}: {limit}/{window_sec}s "
            f"(retry after {retry_after:.0f}s)"
        )


class RateLimiter:
    """Fixed-window rate limiter with file-backed windows.

    ``limits`` is a list of (max_calls, window_seconds); a call must
    fit EVERY window.  Window state is one tiny JSON dict, read-modify-
    written through ``durable.write_json`` so a crash never corrupts
    it.  This is driver-side control-plane plumbing — never on a data
    path.
    """

    DEFAULT_LIMITS = ((100, 60), (1000, 3600))  # 100/minute, 1000/hour

    def __init__(
        self,
        state_path: str | None = None,
        limits: tuple[tuple[int, int], ...] = DEFAULT_LIMITS,
        clock: Callable[[], float] = time.time,
    ) -> None:
        self.state_path = state_path
        self.limits = limits
        self.clock = clock
        self._mem: dict = {}

    def _load(self) -> dict:
        if self.state_path is None:
            return self._mem
        try:
            with open(self.state_path) as fh:
                return json.load(fh)
        except (OSError, ValueError):
            return {}

    def _save(self, state: dict) -> None:
        if self.state_path is None:
            self._mem = state
            return
        write_json(self.state_path, state)

    def check(self, key: str) -> None:
        """Record one call for *key*; raise ``RateLimitExceeded`` if any
        window is full (the call is NOT recorded in that case, matching
        slowapi: rejected requests don't consume quota)."""
        now = self.clock()
        state = self._load()
        entry = state.setdefault(key, {})
        for limit, window in self.limits:
            wkey = str(window)
            w = entry.get(wkey)
            if w is None or now - w["start"] >= window:
                entry[wkey] = w = {"start": now, "count": 0}
            if w["count"] >= limit:
                raise RateLimitExceeded(
                    key, limit, window, w["start"] + window - now
                )
        for _, window in self.limits:
            entry[str(window)]["count"] += 1
        self._save(state)


class Tracer:
    """Minimal span tracer: parent-based ratio sampling, errors always
    kept, pluggable exporter."""

    def __init__(
        self,
        service_name: str = "cass-cdc-pg-spark",
        sampling_ratio: float = 1.0,
        exporter: Callable[[dict], None] | None = None,
        clock: Callable[[], float] = time.time,
    ) -> None:
        self.service_name = service_name
        self.sampling_ratio = sampling_ratio
        self.spans: list[dict] = []
        self.exporter = exporter or self._keep
        self.clock = clock
        self._local = threading.local()  # .stack: this thread's open spans

    def _keep(self, sp: dict) -> None:
        self.spans.append(sp)
        if len(self.spans) > MAX_SPANS:
            del self.spans[:-MAX_SPANS]

    def _sampled(self, trace_id: str) -> bool:
        # deterministic trace-id ratio: hash the id into [0, 1).
        # Caller-supplied ids may not be hex — md5 them first.
        import hashlib

        h = hashlib.md5(trace_id.encode()).hexdigest()
        bucket = int(h[:8], 16) / 0xFFFFFFFF
        return bucket < self.sampling_ratio

    @contextmanager
    def span(self, name: str, trace_id: str | None = None, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        tid = (
            parent["trace_id"]
            if parent
            else (trace_id or uuid.uuid4().hex)
        )
        sp = {
            "service": self.service_name,
            "name": name,
            "trace_id": tid,
            "span_id": uuid.uuid4().hex[:16],
            "parent_span_id": parent["span_id"] if parent else None,
            "start": self.clock(),
            "attributes": attrs,
            "status": "ok",
        }
        stack.append(sp)
        try:
            yield sp
        except BaseException as e:
            sp["status"] = "error"
            sp["attributes"]["exception"] = repr(e)[:200]
            raise
        finally:
            sp["duration_ms"] = round((self.clock() - sp["start"]) * 1000, 3)
            stack.pop()
            # parent-based: child follows root decision; errors always kept
            if sp["status"] == "error" or self._sampled(sp["trace_id"]):
                self.exporter(sp)
