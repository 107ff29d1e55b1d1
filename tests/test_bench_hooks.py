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


def test_merge_gains_only_keyword_parameters_with_defaults():
    """The tracer wraps ``KeyedTable.merge`` as ``merge(kt, batch)``:
    a parameter merge gains must be keyword-only with a default, so
    every call the benchmark drives still binds to the wrapper."""
    import inspect

    from cass_cdc_pg_spark.plans.keyed_table import KeyedTable

    params = list(inspect.signature(KeyedTable.merge).parameters.values())
    assert [p.name for p in params[:2]] == ["self", "batch"]
    for p in params[2:]:
        assert p.kind is inspect.Parameter.KEYWORD_ONLY, p.name
        assert p.default is not inspect.Parameter.empty, p.name


def test_benchmarked_writers_pass_no_consumer_position(spark, tmp_path, monkeypatch):
    """``process_batch`` (rows and DLQ), ``upsert`` and ``replay_dlq``
    run under the tracer's ``merge(kt, batch)`` wrapper unchanged: none
    passes ``txn``, and ``_manifest.json`` keeps the ``buckets`` /
    ``version`` shape the benchmark reads."""
    import json
    import uuid

    from pyspark.sql import types as T

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    monkeypatch.syspath_prepend(os.path.join(root, "cdcbench"))
    from tracer import Tracer

    from cass_cdc_pg_spark.streaming.ingest import CdcIngest

    ing = CdcIngest(
        spark, str(tmp_path / "wh"),
        {"users": T.StructType([T.StructField("id", T.StringType()),
                                T.StructField("age", T.IntegerType())])},
        {"users": ["id"]}, num_buckets=2,
    )
    events = spark.createDataFrame(
        [(str(uuid.UUID(int=1)), "users", "CREATE", 100, None,
          {"id": "a", "age": "1"}, 1, None, False),
         (str(uuid.UUID(int=2)), "users", "CREATE", 100, None,
          {"id": "b", "age": "abc"}, 1, None, False)],
        "event_id string, source_table string, operation_type string, "
        "timestamp_micros long, before map<string,string>, "
        "after map<string,string>, schema_version int, ttl_seconds int, "
        "is_tombstone boolean")
    tracer = Tracer(spark, "t")
    tracer.install()
    try:
        ing.process_batch(events)
        dlq_ids = [r["dlq_id"] for r in ing.dlq().collect()]
        assert len(dlq_ids) == 1
        assert ing.replay_dlq(dlq_ids) == 1
    finally:
        tracer.uninstall()
    merges = [s for s in tracer.spans if s["name"] == "plans.keyed_table.merge"]
    assert {s["attrs"]["table"] for s in merges} == {"cdc_users", "dlq_records"}
    for table in (ing.table("users"), ing.dlq_table()):
        assert table.txn == {}
        with open(f"{table.path}/_manifest.json") as fh:
            doc = json.load(fh)
        assert isinstance(doc["version"], int) and doc["version"] >= 1
        for b, e in doc["buckets"].items():
            assert int(b) >= 0 and set(e) == {"base", "deltas"}
