"""Sink-side resilience: retry with exponential backoff (SURVEY.md
§2.7; ``src/utils/retry.py:15-50``).

It wraps the ``foreachBatch`` commit — driver-side control flow, so
plain Python is the right tool (no DataFrame work here).  The
reference's circuit breaker (``src/utils/circuit_breaker.py:27-110``)
has no counterpart: a failure that escapes the retries ends the
streaming query, which restarts from its checkpoint, so no run of
failed batches could ever open one.
"""

from __future__ import annotations

import time
from collections.abc import Callable


def retry_with_backoff(
    fn: Callable[[], None],
    max_attempts: int = 5,
    initial_delay: float = 1.0,
    max_delay: float = 60.0,
    sleep: Callable[[float], None] = time.sleep,
) -> None:
    """Exponential backoff 1→60 s, 5 attempts (retry.py:15-50)."""
    delay = initial_delay
    for attempt in range(1, max_attempts + 1):
        try:
            fn()
            return
        except Exception:
            if attempt == max_attempts:
                raise
            sleep(delay)
            delay = min(delay * 2, max_delay)
