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
  manager with trace/span/parent IDs, wall-clock duration and status.
  Every span is kept, the most recent ``MAX_SPANS`` in memory: the
  reference's trace-id ratio sampling, service name and Jaeger
  exporter have no counterpart, since every caller kept every span.
  The span stack is per thread, so the threaded HTTP server's
  concurrent requests each get their own root span.  Spark's own UI
  covers executor-side timing; these spans cover the service layer
  above it.
"""

from __future__ import annotations

import json
import threading
import time
import uuid
from contextlib import contextmanager
from typing import Callable

from cass_cdc_pg_spark.durable import write_json

#: spans a ``Tracer`` retains (a long-running server must not grow per
#: request), like ``monitoring.OBSERVATION_WINDOW``
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
        state_path: str,
        limits: tuple[tuple[int, int], ...] = DEFAULT_LIMITS,
        clock: Callable[[], float] = time.time,
    ) -> None:
        self.state_path = state_path
        self.limits = limits
        self.clock = clock

    def _load(self) -> dict:
        try:
            with open(self.state_path) as fh:
                return json.load(fh)
        except (OSError, ValueError):
            return {}

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
        write_json(self.state_path, state)


class Tracer:
    """Minimal span tracer: every span is kept, the ``MAX_SPANS`` most
    recent in ``spans``."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()  # .stack: this thread's open spans

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
            "name": name,
            "trace_id": tid,
            "span_id": uuid.uuid4().hex[:16],
            "parent_span_id": parent["span_id"] if parent else None,
            "start": time.time(),
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
            sp["duration_ms"] = round((time.time() - sp["start"]) * 1000, 3)
            stack.pop()
            self.spans.append(sp)
            del self.spans[:-MAX_SPANS]
