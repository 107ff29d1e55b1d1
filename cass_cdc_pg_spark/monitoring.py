"""Monitoring: RED metrics, health, the maintenance scheduler, alerts.

Reproduces the reference's observability surface on Spark primitives:

- **Metrics** (``src/monitoring/metrics.py:8-213``): the same metric
  names/labels (``cdc_events_processed_total{table,operation}``,
  ``cdc_errors_total{error_type}``, ``cdc_processing_latency_seconds``,
  ``cdc_dlq_events_total``, …) kept in an in-process registry with a
  Prometheus-text renderer.  ``process_batch`` counts events per table
  and operation; streaming rates, microbatch latency and backlog come
  from ``StreamingQueryProgress`` via ``CdcStreamingListener`` —
  Spark already measures the pipeline.
- **Scheduler** (``src/services/reconciliation_scheduler.py:81-211``):
  one hourly tick runs the per-table ROW_COUNT jobs (one instance per
  table) through ``api.CdcApiService.reconciliation_trigger`` — the
  job path of the trigger route, which records the job and fires the
  alert above thresholds — then the retention sweeps: the TTL sweep of
  every CDC table (``KeyedTable.expire_ttl``, T10) and the audit log's
  1-year purge (``ops.AuditLog.purge_old``, Q19).
- **Alerts** (``src/services/alert_service.py:135-210``): a job's
  severity is its Q1 row's (``reconcile.drift_severity``: critical at
  ≥5% drift, warning at ≥1%, ``settings.py:98-99``), and a job above a
  threshold counts ``cdc_reconciliation_alerts_total{table,severity}``
  (``api.CdcApiService._run_job``), which ``/metrics`` exposes to the
  alerting side (``docs/monitoring/``).  The reference's local alert
  log and pushgateway push have no counterpart: nothing read them.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from collections import defaultdict, deque
from collections.abc import Callable

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

# ---------------------------------------------------------------------------
# metrics registry
# ---------------------------------------------------------------------------


#: Most recent observations kept per series for ``observations()``;
#: ``_count``/``_sum`` cover every observation ever made.
OBSERVATION_WINDOW = 1024


class _Series:
    """One observed series: running count and sum, plus a bounded
    window of recent values — memory stays constant however long a
    stream runs."""

    __slots__ = ("count", "sum", "recent")

    def __init__(self) -> None:
        self.count = 0
        self.sum = 0.0
        self.recent: deque[float] = deque(maxlen=OBSERVATION_WINDOW)


class MetricsCollector:
    """Label-aware counter/gauge/histogram-observation registry using
    the reference's metric names.  Thread-safe; renders the Prometheus
    text exposition format."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._counters: dict[tuple, float] = defaultdict(float)
        self._gauges: dict[tuple, float] = {}
        self._observations: dict[tuple, _Series] = defaultdict(_Series)

    @staticmethod
    def _key(name: str, labels: dict[str, str] | None) -> tuple:
        return (name, tuple(sorted((labels or {}).items())))

    def inc(self, name: str, labels: dict[str, str] | None = None, by: float = 1) -> None:
        with self._lock:
            self._counters[self._key(name, labels)] += by

    def set_gauge(self, name: str, value: float, labels: dict[str, str] | None = None) -> None:
        with self._lock:
            self._gauges[self._key(name, labels)] = value

    def observe(self, name: str, value: float, labels: dict[str, str] | None = None) -> None:
        with self._lock:
            series = self._observations[self._key(name, labels)]
            series.count += 1
            series.sum += value
            series.recent.append(value)

    def value(self, name: str, labels: dict[str, str] | None = None) -> float:
        key = self._key(name, labels)
        with self._lock:
            if key in self._counters:
                return self._counters[key]
            return self._gauges.get(key, 0.0)

    def observations(self, name: str, labels: dict[str, str] | None = None) -> list[float]:
        """The most recent ``OBSERVATION_WINDOW`` values, oldest first."""
        with self._lock:
            series = self._observations.get(self._key(name, labels))
            return list(series.recent) if series else []

    @staticmethod
    def _fmt_labels(labels: tuple) -> str:
        if not labels:
            return ""
        inner = ",".join(f'{k}="{v}"' for k, v in labels)
        return "{" + inner + "}"

    def render_prometheus(self) -> str:
        """Prometheus text exposition (counters+gauges; observations as
        _count/_sum pairs, the pushgateway-compatible subset)."""
        lines: list[str] = []
        with self._lock:
            for (name, labels), v in sorted(self._counters.items()):
                lines.append(f"{name}{self._fmt_labels(labels)} {v}")
            for (name, labels), v in sorted(self._gauges.items()):
                lines.append(f"{name}{self._fmt_labels(labels)} {v}")
            for (name, labels), series in sorted(self._observations.items()):
                lines.append(f"{name}_count{self._fmt_labels(labels)} {series.count}")
                lines.append(f"{name}_sum{self._fmt_labels(labels)} {series.sum}")
        return "\n".join(lines) + "\n"


#: process-wide default registry (the reference uses module-level
#: prometheus_client metrics the same way)
METRICS = MetricsCollector()


# ---------------------------------------------------------------------------
# streaming listener → RED metrics
# ---------------------------------------------------------------------------


class CdcStreamingListener(StreamingQueryListener):
    """Maps ``StreamingQueryProgress`` onto the reference's RED metric
    names: rows/sec → throughput, batch duration → latency histogram,
    source backlog → ``cdc_backlog_depth``.  Event counts are not taken
    here: ``process_batch`` counts them per table and operation, DLQ'd
    events apart."""

    def __init__(self, metrics: MetricsCollector | None = None) -> None:
        self.metrics = metrics or METRICS

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        self.metrics.inc("cdc_streaming_queries_started_total")

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        m = self.metrics
        m.set_gauge("cdc_input_rows_per_second", p.get("inputRowsPerSecond") or 0.0)
        m.set_gauge("cdc_processed_rows_per_second",
                    p.get("processedRowsPerSecond") or 0.0)
        dur = (p.get("durationMs") or {}).get("triggerExecution")
        if dur is not None:
            m.observe("cdc_processing_latency_seconds", dur / 1000.0,
                      {"stage": "microbatch"})
        for s in p.get("sources", ()):  # backlog ≈ unconsumed input
            desc = (s.get("description") or "source")[:80]
            lag = s.get("numInputRows")
            if lag is not None:
                m.set_gauge("cdc_backlog_depth", lag, {"topic": desc})

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        self.metrics.inc("cdc_streaming_queries_terminated_total")

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass


def register_listener(
    spark: SparkSession, metrics: MetricsCollector | None = None
) -> CdcStreamingListener:
    """Attach a ``CdcStreamingListener`` to *spark*'s streams (``cli
    run`` does, before its query starts)."""
    listener = CdcStreamingListener(metrics)
    spark.streams.addListener(listener)
    return listener


# ---------------------------------------------------------------------------
# deep health probes (FR-028, ``src/monitoring/health_check.py:28-302``)
# ---------------------------------------------------------------------------

HEALTHY = "healthy"
DEGRADED = "degraded"
UNHEALTHY = "unhealthy"


class HealthCheckService:
    """Deep component probes with latency and an aggregated status —
    the Spark-engine analog of the reference's Cassandra/PG/Kafka checks
    (``health_check.py:28-302``): *source readable* (every source
    table's commit doc opened), *target writable* (a probe file round-trips
    through the warehouse dir), *stream alive* (active query with
    recent progress), *schema registry readable*.  An unconfigured
    component's probe reports ``degraded`` ("Repository not initialized"
    in the reference), and ``check_all`` leaves an unconfigured source
    out; probe failures report ``unhealthy`` with the error and the
    latency of the failed attempt.  Aggregation matches the reference's
    ``check_all``: all healthy → healthy, any unhealthy → unhealthy,
    else degraded."""

    def __init__(
        self,
        spark: SparkSession | None = None,
        source_tables: list[str] | None = None,
        target_warehouse: str | None = None,
        schema_registry=None,
        stream_stale_after_sec: float = 60.0,
    ) -> None:
        self.spark = spark
        self.source_tables = source_tables
        self.target_warehouse = target_warehouse
        self.schema_registry = schema_registry
        self.stream_stale_after_sec = stream_stale_after_sec

    @staticmethod
    def _probe(service: str, configured: bool, fn: Callable[[], dict]) -> dict:
        if not configured:
            return {
                "service": service,
                "status": DEGRADED,
                "details": {"connected": False, "message": "not configured"},
            }
        t0 = time.time()
        try:
            details = fn()
            details["latency_ms"] = round((time.time() - t0) * 1000, 2)
            status = details.pop("_status", HEALTHY)
            return {"service": service, "status": status, "details": details}
        except Exception as e:  # noqa: BLE001 — a probe never raises
            return {
                "service": service,
                "status": UNHEALTHY,
                "details": {
                    "connected": False,
                    "latency_ms": round((time.time() - t0) * 1000, 2),
                    "error": str(e)[:200],
                },
            }

    def check_source(self) -> dict:
        """Source readable: open the commit doc of every keyed table in
        *source_tables* (``committed_layout``; no Spark job)."""

        def probe() -> dict:
            from cass_cdc_pg_spark.plans.keyed_table import committed_layout

            missing = [p for p in self.source_tables if committed_layout(p) is None]
            if missing:
                raise FileNotFoundError(f"no committed table at {', '.join(missing)}")
            return {"connected": True, "tables": len(self.source_tables)}

        return self._probe("source", self.source_tables is not None, probe)

    def check_target(self) -> dict:
        """Target writable: round-trip a probe file through the
        warehouse dir (the same durability path every merge commit
        takes — manifest writes use os.replace in this dir)."""

        def probe() -> dict:
            os.makedirs(self.target_warehouse, exist_ok=True)
            tmp = os.path.join(self.target_warehouse,
                               f"_health_probe.{uuid.uuid4().hex[:8]}")
            with open(tmp, "w") as fh:
                fh.write("ok")
                fh.flush()
                os.fsync(fh.fileno())
            with open(tmp) as fh:
                ok = fh.read() == "ok"
            os.remove(tmp)
            if not ok:
                raise IOError("probe file round-trip mismatch")
            return {"connected": True, "writable": True}

        return self._probe("target", self.target_warehouse is not None, probe)

    def check_stream(self) -> dict:
        """Stream alive: ≥1 active streaming query whose last progress
        is fresher than ``stream_stale_after_sec`` (a hung query is
        degraded, not healthy — the condition a deployment pages on)."""

        def probe() -> dict:
            active = self.spark.streams.active
            if not active:
                return {"_status": DEGRADED, "active_queries": 0,
                        "message": "no active streaming query"}
            import datetime

            stale = []
            for q in active:
                lp = q.lastProgress
                if lp is None:
                    continue  # just started; not stale
                ts = lp["timestamp"] if isinstance(lp, dict) else json.loads(q.lastProgress.json)["timestamp"]
                age = (
                    datetime.datetime.now(datetime.timezone.utc)
                    - datetime.datetime.fromisoformat(ts.replace("Z", "+00:00"))
                ).total_seconds()
                if age > self.stream_stale_after_sec:
                    stale.append(q.name or q.id)
            if stale:
                return {"_status": DEGRADED, "active_queries": len(active),
                        "stale_queries": [str(s) for s in stale]}
            return {"active_queries": len(active)}

        return self._probe("stream", self.spark is not None, probe)

    def check_schema_registry(self) -> dict:
        def probe() -> dict:
            tables = self.schema_registry.tables()
            return {"connected": True, "subject_count": len(tables)}

        return self._probe(
            "schema_registry", self.schema_registry is not None, probe
        )

    def check_all(self) -> dict:
        """Every component's probe and the aggregate.  The source is
        optional: with no *source_tables* it is left out of both, so a
        service that replicates without a source replica can be healthy
        (``check_source`` alone still answers ``degraded``)."""
        components = {
            "source": self.check_source(),
            "target": self.check_target(),
            "stream": self.check_stream(),
            "schema_registry": self.check_schema_registry(),
        }
        if self.source_tables is None:
            del components["source"]
        statuses = [c["status"] for c in components.values()]
        if all(s == HEALTHY for s in statuses):
            overall = HEALTHY
        elif any(s == UNHEALTHY for s in statuses):
            overall = UNHEALTHY
        else:
            overall = DEGRADED
        return {"status": overall, "components": components}


# ---------------------------------------------------------------------------
# reconciliation scheduler
# ---------------------------------------------------------------------------


class ReconciliationScheduler:
    """The service's maintenance loop
    (``reconciliation_scheduler.py:81-211``): one thread runs ``tick``
    every *interval_seconds* over *tables*, the configured table names
    of *service* (an ``api.CdcApiService``)."""

    def __init__(self, service, tables: list[str],
                 interval_seconds: float = 3600.0) -> None:
        self.service = service
        self.tables = list(tables)
        self.interval_seconds = interval_seconds
        self._running: set[str] = set()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def run_once(self, table: str) -> dict | None:
        """Run one reconciliation job for *table*; returns the job
        (None if an instance is already running — max_instances=1)."""
        with self._lock:
            if table in self._running:
                return None
            self._running.add(table)
        try:
            return self.service.reconciliation_trigger(
                {"table": table, "strategy": "row_count"}, job_type="HOURLY_SCHEDULED")
        finally:
            with self._lock:
                self._running.discard(table)

    def tick(self) -> None:
        """One round: with the service's ``source_warehouse`` set, one
        ROW_COUNT job per table (``run_once``); then, in its warehouse,
        the TTL sweep of each table's CDC table that exists
        (``KeyedTable.expire_ttl``) and the purge of audit-log entries
        past a year (``ops.AuditLog.purge_old``).  A sweep that matches
        no row commits nothing, so feed consumers resync only after one
        that changed state.  A step that raises is counted and the tick
        goes on: the loop must survive."""
        from cass_cdc_pg_spark.ops import AuditLog
        from cass_cdc_pg_spark.plans.keyed_table import KeyedTable
        from cass_cdc_pg_spark.streaming.ingest import audit_log_path, cdc_table_path

        svc = self.service
        if svc.source_warehouse:
            for table in self.tables:
                try:
                    self.run_once(table)
                except Exception:  # noqa: BLE001
                    METRICS.inc("cdc_reconciliation_job_errors_total", {"table": table})
        if not svc.warehouse:
            return

        def expire(table: str) -> int:
            t = KeyedTable(svc.spark, cdc_table_path(svc.warehouse, table), [])
            return t.expire_ttl() if t.exists() else 0

        sweeps = [(f"cdc_{t}", lambda t=t: expire(t)) for t in self.tables]
        sweeps.append(("_cdc_audit_log",
                       lambda: AuditLog(svc.spark, audit_log_path(svc.warehouse)).purge_old()))
        for name, sweep in sweeps:
            try:
                n = sweep()
            except Exception:  # noqa: BLE001
                METRICS.inc("cdc_retention_sweep_errors_total", {"table": name})
            else:
                METRICS.inc("cdc_retention_rows_deleted_total", {"table": name}, by=n)

    # -- loop ---------------------------------------------------------------

    def start(self) -> None:
        if self._thread is not None:
            return
        self._stop.clear()

        def loop() -> None:
            while not self._stop.wait(self.interval_seconds):
                self.tick()

        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None
