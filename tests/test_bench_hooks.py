"""The traced benchmark (``cdcbench/run.py --trace 1``) wraps engine
functions by name.  Installing and removing its wrappers needs no Spark
session, so a rename or deletion of a wrapped name fails here first."""

from __future__ import annotations

import os


def test_tracer_wraps_every_engine_hook(monkeypatch):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    monkeypatch.syspath_prepend(os.path.join(root, "cdcbench"))
    from tracer import Tracer

    from cass_cdc_pg_spark.streaming import transforms

    original = transforms.to_dlq_rows
    tracer = Tracer(None, "t")
    tracer.install()
    try:
        assert transforms.to_dlq_rows is not original
    finally:
        tracer.uninstall()
    assert transforms.to_dlq_rows is original
