from __future__ import annotations

import pytest

from cass_cdc_pg_spark.streaming.reliability import retry_with_backoff


def test_retry_succeeds_after_failures():
    calls = {"n": 0}
    sleeps: list[float] = []

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("boom")

    retry_with_backoff(flaky, max_attempts=5, sleep=sleeps.append)
    assert calls["n"] == 3
    assert sleeps == [1.0, 2.0]  # exponential 1→2


def test_retry_exhausts_budget():
    def always_fails():
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError):
        retry_with_backoff(always_fails, max_attempts=3, sleep=lambda _: None)
