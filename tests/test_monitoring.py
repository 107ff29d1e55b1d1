"""Metrics / scheduler / alert path (SURVEY §2.7).

Local-mode ports of the reference's observability behavior:
RED metrics with the reference's names (``metrics.py:8-213``),
threshold alerting (``alert_service.py:135-151``: critical ≥5%,
warning ≥1%, counted in ``cdc_reconciliation_alerts_total``), and the
hourly per-table reconciliation loop
(``reconciliation_scheduler.py:81-211``) with max one instance per
table.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cass_cdc_pg_spark.monitoring import (
    METRICS,
    OBSERVATION_WINDOW,
    CdcStreamingListener,
    MetricsCollector,
    ReconciliationScheduler,
    register_listener,
)


def test_metrics_collector_counters_and_render():
    m = MetricsCollector()
    m.inc("cdc_events_processed_total", {"table": "users", "operation": "CREATE"}, by=5)
    m.inc("cdc_events_processed_total", {"table": "users", "operation": "CREATE"})
    m.set_gauge("cdc_backlog_depth", 42, {"topic": "cdc-events-users"})
    m.observe("cdc_processing_latency_seconds", 0.25, {"stage": "microbatch"})
    assert m.value("cdc_events_processed_total",
                   {"table": "users", "operation": "CREATE"}) == 6
    text = m.render_prometheus()
    assert 'cdc_events_processed_total{operation="CREATE",table="users"} 6' in text
    assert 'cdc_backlog_depth{topic="cdc-events-users"} 42' in text
    assert "cdc_processing_latency_seconds_count" in text


def test_metrics_observations_bounded():
    """A long-running stream observes once per batch: _count/_sum stay
    exact over every observation while at most OBSERVATION_WINDOW
    values are retained."""
    m = MetricsCollector()
    labels = {"stage": "process_batch"}
    n = 10_000
    for i in range(n):
        m.observe("cdc_processing_latency_seconds", i * 0.5, labels)
    text = m.render_prometheus()
    assert f'cdc_processing_latency_seconds_count{{stage="process_batch"}} {n}' in text
    assert (f'cdc_processing_latency_seconds_sum{{stage="process_batch"}} '
            f"{sum(i * 0.5 for i in range(n))}") in text
    recent = m.observations("cdc_processing_latency_seconds", labels)
    assert len(recent) == OBSERVATION_WINDOW < n
    assert recent == [i * 0.5 for i in range(n - OBSERVATION_WINDOW, n)]
    assert m.observations("never_observed") == []
    assert "never_observed" not in m.render_prometheus()


def _service(spark, wh, src_wh, cfg):
    from cass_cdc_pg_spark.api import CdcApiService

    return CdcApiService(spark, warehouse=wh, source_warehouse=src_wh,
                         table_config=cfg)


def test_drift_5pct_fires_critical_alert(spark, recon_pair):
    """VERDICT r1 'done' criterion: a drift-5% run fires a critical
    alert, counted once under its table and severity.  The scheduled
    job runs the trigger route's job path, so it lists among the
    service's jobs."""
    labels = {"table": "users", "severity": "critical"}
    before = METRICS.value("cdc_reconciliation_alerts_total", labels)
    svc = _service(spark, *recon_pair)
    sched = ReconciliationScheduler(svc, ["users"])
    job = sched.run_once("users")
    assert job["drift_percentage"] == 5.0
    assert job["alert_fired"] is True
    assert METRICS.value("cdc_reconciliation_alerts_total", labels) == before + 1
    assert svc.reconciliation_jobs() == [job]
    assert (job["status"], job["job_type"], job["validation_strategy"]) == (
        "COMPLETED", "HOURLY_SCHEDULED", "ROW_COUNT")
    assert METRICS.value("cdc_reconciliation_drift_percentage",
                         {"table": "users"}) == 5.0


def _alert_series() -> list[str]:
    return [line for line in METRICS.render_prometheus().splitlines()
            if line.startswith("cdc_reconciliation_alerts_total")]


def test_scheduler_no_alert_below_threshold(spark, tmp_path):
    from conftest import make_recon_pair

    # 200 source rows against 199 target rows: 0.5 % drift
    svc = _service(spark, *make_recon_pair(spark, tmp_path, n=200))
    before = _alert_series()
    job = ReconciliationScheduler(svc, ["users"]).run_once("users")
    assert (job["drift_percentage"], job["mismatch_count"]) == (0.5, 1)
    assert job["alert_fired"] is False
    assert _alert_series() == before


def test_scheduler_max_one_instance_per_table(spark, recon_pair):
    sched = ReconciliationScheduler(_service(spark, *recon_pair), ["users"])
    sched._running.add("users")  # simulate a job in flight
    assert sched.run_once("users") is None
    sched._running.discard("users")
    assert sched.run_once("users") is not None


def test_ingest_feeds_red_metrics(spark, tmp_path):
    """process_batch feeds cdc_events_processed_total /
    cdc_errors_total / cdc_dlq_events_total from its summary pass: the
    DLQ counters move by exactly the DLQ rows of each type, and only
    the events that were not sent to the DLQ count as processed."""
    from cass_cdc_pg_spark.streaming.ingest import CdcIngest

    schema = T.StructType([T.StructField("id", T.StringType()),
                           T.StructField("age", T.IntegerType())])
    ingest = CdcIngest(spark, str(tmp_path / "wh"), {"users": schema},
                       {"users": ["id"]}, num_buckets=2)
    # retyping a column is rejected under BACKWARD: version 2 is REJECTED
    ok, version, _ = ingest.evolve_table_schema(
        "users", T.StructType([T.StructField("id", T.StringType()),
                               T.StructField("age", T.StringType())]))
    assert (ok, version) == (False, 2)
    types = ("SCHEMA_MISMATCH", "TYPE_CONVERSION_ERROR")
    before_ok = METRICS.value("cdc_events_processed_total",
                              {"table": "users", "operation": "CREATE"})
    before_err = {t: METRICS.value("cdc_errors_total", {"error_type": t}) for t in types}
    before_dlq = {t: METRICS.value("cdc_dlq_events_total",
                                   {"table": "users", "error_type": t}) for t in types}
    u = [str(uuid.UUID(int=i)) for i in range(4)]
    ingest.process_batch(spark.createDataFrame(
        [
            (u[1], "users", "CREATE", 1000, None, {"id": "a", "age": "1"}, 1, None, False),
            ("bad-uuid", "users", "CREATE", 1000, None, {"id": "b"}, 1, None, False),
            (u[2], "users", "CREATE", 1000, None, {"id": "c", "age": "x"}, 1, None, False),
            (u[3], "users", "CREATE", 1000, None, {"id": "d", "age": "4"}, 2, None, False),
        ],
        "event_id string, source_table string, operation_type string, "
        "timestamp_micros long, before map<string,string>, after map<string,string>, "
        "schema_version int, ttl_seconds int, is_tombstone boolean",
    ))
    dlq_by_type = {t: ingest.dlq().filter(F.col("error_type") == t).count() for t in types}
    assert dlq_by_type == {"SCHEMA_MISMATCH": 2, "TYPE_CONVERSION_ERROR": 1}
    for t in types:
        assert METRICS.value("cdc_errors_total", {"error_type": t}) \
            == before_err[t] + dlq_by_type[t], t
        assert METRICS.value("cdc_dlq_events_total",
                             {"table": "users", "error_type": t}) \
            == before_dlq[t] + dlq_by_type[t], t
    assert METRICS.value("cdc_events_processed_total",
                         {"table": "users", "operation": "CREATE"}) == before_ok + 1
    assert METRICS.observations("cdc_processing_latency_seconds",
                                {"stage": "process_batch"})


def test_streaming_listener_maps_progress(spark, tmp_path):
    """The StreamingQueryListener maps StreamingQueryProgress onto the
    reference metric names."""
    import json as _json
    import os
    import time

    m = MetricsCollector()
    listener = CdcStreamingListener(m)
    spark.streams.addListener(listener)
    try:
        src_dir = str(tmp_path / "in")
        os.makedirs(src_dir)
        with open(f"{src_dir}/a.jsonl", "w") as f:
            f.write(_json.dumps({"v": 1}) + "\n")
        q = (
            spark.readStream.schema("v long").json(src_dir)
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "cp"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        deadline = time.time() + 15
        while time.time() < deadline:
            if m.observations("cdc_processing_latency_seconds", {"stage": "microbatch"}):
                break
            time.sleep(0.25)
        assert m.observations("cdc_processing_latency_seconds", {"stage": "microbatch"})
        assert m.value("cdc_streaming_queries_started_total") >= 1
        # events are counted per table by process_batch alone: a
        # listener series over all tables would count them twice
        assert m.value("cdc_events_processed_total",
                       {"table": "*", "operation": "*"}) == 0
    finally:
        spark.streams.removeListener(listener)


def test_scheduler_tick_sweeps_ttl_and_the_audit_log(spark, tmp_path):
    """One scheduler tick, in-process, with no thread and no wait: a
    TTL-expired row is gone from ``read()``, an audit entry older than
    365 days is gone, and a table with nothing to expire keeps its
    version (a sweep that matches nothing commits nothing).  A
    configured table that was never committed is skipped."""
    import time

    from cass_cdc_pg_spark.ops import AUDIT_SCHEMA_DDL, AuditLog
    from cass_cdc_pg_spark.plans.keyed_table import KeyedTable
    from cass_cdc_pg_spark.streaming.ingest import audit_log_path, cdc_table_path

    wh = str(tmp_path / "wh")
    ddl = ("id string, age int, _cdc_deleted boolean, _cdc_timestamp_micros long, "
           "_last_event_id string, _ttl_expiry_timestamp_us long")
    now_us = int(time.time() * 1_000_000)
    users = KeyedTable(spark, cdc_table_path(wh, "users"), ["id"], num_buckets=2)
    users.merge(spark.createDataFrame(
        [("a", 1, False, 1, "e1", now_us - 1_000_000), ("b", 2, False, 1, "e2", None)], ddl))
    orders = KeyedTable(spark, cdc_table_path(wh, "orders"), ["id"], num_buckets=2)
    orders.merge(spark.createDataFrame(
        [("o", 3, False, 1, "e3", now_us + 3_600_000_000)], ddl))
    audit = AuditLog(spark, audit_log_path(wh))
    audit.append("GDPR_ERASURE", "users", "kept", "DELETE")
    audit.table.upsert(spark.createDataFrame(
        [("old-id", "GDPR_ERASURE", now_us - 366 * 86_400 * 1_000_000, "x", "users",
          "old", "DELETE", "", "{}")], AUDIT_SCHEMA_DDL))
    cfg = {"tables": {t: {"ddl": "id string, age int", "keys": ["id"]}
                      for t in ("users", "orders", "ghost")}}
    svc = _service(spark, wh, None, cfg)
    orders_before = orders.commit_id()
    errors = METRICS.value("cdc_retention_sweep_errors_total", {"table": "cdc_ghost"})

    ReconciliationScheduler(svc, list(cfg["tables"])).tick()

    assert [r["id"] for r in users.read().collect()] == ["b"]
    assert [r["record_identifier"] for r in audit.read().collect()] == ["kept"]
    assert orders.commit_id() == orders_before
    assert METRICS.value("cdc_retention_sweep_errors_total",
                         {"table": "cdc_ghost"}) == errors
    assert not (tmp_path / "wh" / "cdc_ghost").exists()


# ---------------------------------------------------------------------------
# deep health probes (FR-028)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("source", ["configured", "unconfigured"])
def test_health_all_green(spark, tmp_path, source):
    """Every probe healthy gives a healthy aggregate.  Without source
    tables the source is left out of the components and the aggregate,
    so a service without a source replica is healthy too."""
    import json
    import os

    from cass_cdc_pg_spark.monitoring import HEALTHY, HealthCheckService
    from cass_cdc_pg_spark.plans.keyed_table import KeyedTable
    from cass_cdc_pg_spark.streaming.schema_evolution import SchemaRegistry

    src = KeyedTable(spark, str(tmp_path / "src" / "cdc_t"), ["id"], num_buckets=1)
    src.upsert(spark.range(10))
    reg = SchemaRegistry(str(tmp_path / "reg"))

    # a live stream so the stream probe is healthy
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    with open(f"{in_dir}/a.jsonl", "w") as fh:
        fh.write(json.dumps({"x": 1}) + "\n")
    q = (
        spark.readStream.schema("x long").json(in_dir)
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q.processAllAvailable()
        hc = HealthCheckService(
            spark,
            source_tables=[src.path] if source == "configured" else None,
            target_warehouse=str(tmp_path / "wh"),
            schema_registry=reg,
        )
        out = hc.check_all()
    finally:
        q.stop()
    assert out["status"] == HEALTHY, out
    if source == "configured":
        # the source table's commit doc is opened, no data file
        assert out["components"]["source"]["details"]["tables"] == 1
    else:
        assert "source" not in out["components"]
    assert out["components"]["target"]["details"]["writable"] is True
    assert out["components"]["stream"]["details"]["active_queries"] >= 1
    assert all(
        c["details"].get("latency_ms") is not None
        for c in out["components"].values()
    )


def test_health_probe_failures(spark, tmp_path):
    """Forced failure per probe: missing source -> unhealthy; unwritable
    target -> unhealthy; no active stream -> degraded; unconfigured
    registry -> degraded; aggregate -> unhealthy."""
    from cass_cdc_pg_spark.monitoring import (
        DEGRADED,
        UNHEALTHY,
        HealthCheckService,
    )

    hc = HealthCheckService(
        spark,
        source_tables=[str(tmp_path / "nope")],
        target_warehouse="/proc/definitely-not-writable/wh",
        schema_registry=None,
    )
    out = hc.check_all()
    assert out["status"] == UNHEALTHY
    assert out["components"]["source"]["status"] == UNHEALTHY
    assert "error" in out["components"]["source"]["details"]
    assert out["components"]["target"]["status"] == UNHEALTHY
    assert out["components"]["stream"]["status"] == DEGRADED  # no active query
    assert out["components"]["schema_registry"]["status"] == DEGRADED


def test_health_stale_stream_degraded(spark, tmp_path):
    """A hung stream (old progress) is degraded, not healthy."""
    import json
    import os

    from cass_cdc_pg_spark.monitoring import DEGRADED, HealthCheckService

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    with open(f"{in_dir}/a.jsonl", "w") as fh:
        fh.write(json.dumps({"x": 1}) + "\n")
    q = (
        spark.readStream.schema("x long").json(in_dir)
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(processingTime="100 seconds")  # no further progress
        .start()
    )
    try:
        q.processAllAvailable()
        hc = HealthCheckService(spark, stream_stale_after_sec=0.0)
        got = hc.check_stream()
    finally:
        q.stop()
    assert got["status"] == DEGRADED
    assert got["details"]["stale_queries"]
