"""The control plane: ``CdcApiService`` (one method per route) and its
HTTP transport on the stdlib ``http.server``.  The CLI (``cli.py``) is
the second transport: its verbs that mirror a route call the same
service method and print what it returns.  The reference serves these
over FastAPI/uvicorn (``src/api/main.py:79-83``); no web framework
ships in this container, so the server is a ``ThreadingHTTPServer``
with a small regex router, which keeps the dependency surface at zero
while the request/response contracts stay reference-shaped.

Routes (reference ``src/api/routes/*``):

- ``GET    /health``                          (``health.py:63``)
- ``GET    /health/{component}``              (``health.py:111``)
- ``GET    /metrics``                         (``metrics.py:13``)
- ``GET    /dlq/records``                     (``dlq.py:118-225``)
- ``GET    /dlq/stats``                       (``dlq.py:227``)
- ``POST   /dlq/replay``                      (``dlq.py:67-114``)
- ``POST   /reconciliation/trigger``          (``reconciliation.py:73-119``;
  body ``{"table", "strategy", "async"}``)
- ``GET    /reconciliation/jobs``             (``reconciliation.py:123``)
- ``GET    /reconciliation/jobs/{job_id}``    (``reconciliation.py:169``)
- ``GET    /reconciliation/mismatches``       (``reconciliation.py:199``)
- ``POST   /reconciliation/mismatches/{id}/resolve`` (``reconciliation.py:245``)
- ``DELETE /records/{keyspace}/{table}/{primary_key}`` (``gdpr.py:38``)
- ``GET    /tables/{table}/history``           (beyond-reference: version log)
- ``GET    /tables/{table}/changes?since=``    (beyond-reference: change feed;
  410 past retention, 409 across a rewrite)

Middleware parity (reference ``src/middleware/*``): every response
carries an ``X-Request-ID`` (echoed from the request header or
generated), an optional fixed-window rate limiter returns 429 with
``Retry-After``, and each request runs inside a tracing span.  Errors
use FastAPI's ``{"detail": ...}`` envelope.

Reconciliation: a job reconciles the CDC table of a configured table
(``{warehouse}/cdc_{table}``) against the same table under
``source_warehouse`` with ``reconcile.run_job``.  The trigger route,
``cli reconcile run`` and ``monitoring.ReconciliationScheduler`` all
run it through ``reconciliation_trigger``, so every job has one shape
(the reference's ``reconciliation_jobs`` row), lands in one in-process
job store (the ``MAX_JOBS`` most recent; the reference keeps them in
Postgres) and moves the same metrics and alerts.  Mismatches are
durable — written through the LSM ``KeyedTable`` merge path under
``{warehouse}/recon_mismatches`` so resolve survives restarts and
exercises the real upsert engine.
"""

from __future__ import annotations

import copy
import json
import re
import threading
import time
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlsplit

from pyspark.sql import functions as F

from cass_cdc_pg_spark import middleware
from cass_cdc_pg_spark.monitoring import METRICS, HealthCheckService
from cass_cdc_pg_spark.operators import reconcile

_IDENT_RE = re.compile(r"^[A-Za-z0-9_.\-:]{1,128}$")

#: Most recent reconciliation jobs a ``CdcApiService`` keeps in memory.
MAX_JOBS = 256

#: Most recently used route answers a ``CdcApiService`` memoizes.
MAX_MEMO = 256

RESOLUTION_STATUSES = ("PENDING", "MANUAL_RESOLVED", "AUTO_RESOLVED", "IGNORED")


class ApiError(Exception):
    """Maps to an HTTP status + FastAPI-style ``{"detail": ...}`` body."""

    def __init__(self, status: int, detail: str) -> None:
        super().__init__(detail)
        self.status = status
        self.detail = detail


def _int_param(params: dict, name: str, default: int | None = None) -> int:
    """Query param *name* as an int >= 0 (*default* when absent; no
    default: required).  Anything else answers 422 naming the param —
    checked before any table is read."""
    try:
        value = int(params.get(name, default))
        if value >= 0:
            return value
    except (TypeError, ValueError):
        pass
    raise ApiError(422, f"query param {name!r} must be an int >= 0, "
                        f"got {params.get(name)!r}")


def change_range(since: int, to: int | None, head: int) -> int:
    """The last version of a change-feed request over ``(since, to]`` on
    a table whose head version is *head*: *to*, or *head* when None.
    Unless ``0 <= since <= to <= head``, 422 naming the param, before
    any file is read.  The ``table_changes`` route and ``cli table
    changes`` both check their range here."""
    for name, value in (("since", since), ("to", to)):
        if value is not None and value < 0:
            raise ApiError(422, f"param {name!r} must be >= 0, got {value}")
    hi = head if to is None else to
    if hi > head:
        raise ApiError(422, f"param 'to' ({to}) is past the head version {head}")
    if since > hi:
        raise ApiError(422, f"param 'since' ({since}) is past version {hi}")
    return hi


def _validate_identifier(value: str, kind: str) -> str:
    """Reference ``gdpr.py:235`` — reject path-traversal / injection
    shaped identifiers before they reach the engine."""
    if not _IDENT_RE.match(value or ""):
        raise ApiError(422, f"invalid {kind}: {value!r}")
    return value


class CdcApiService:
    """Engine-facing handlers, one method per route; transport-free, so
    the HTTP server, the CLI and tests all call the same methods.

    A route that reads one keyed table (the DLQ routes, the mismatch
    listing, the change feed) answers per committed version of that
    table (``_memoized``): a request repeated at an unchanged version
    runs no Spark job, and the next request after any commit, by any
    writer, sees it.  Health is answered live; its probes run no Spark
    job."""

    def __init__(
        self,
        spark,
        *,
        warehouse: str | None = None,
        source_warehouse: str | None = None,
        table_config: dict | None = None,
    ) -> None:
        self.spark = spark
        self.warehouse = warehouse.rstrip("/") if warehouse else None
        self.source_warehouse = source_warehouse.rstrip("/") if source_warehouse else None
        self.table_config = table_config or {"tables": {}}
        self._jobs: dict[str, dict] = {}
        self._jobs_lock = threading.Lock()
        self._memo: dict[tuple, object] = {}
        self._memo_lock = threading.Lock()

    # -- shared plumbing ----------------------------------------------------

    def _memoized(self, table, route: str, params: dict, compute):
        """``compute(version)``, the answer of *route* with *params*
        over *table*, memoized on the commit it reads.  A commit is an
        immutable snapshot, so its answer holds until the next commit,
        whoever writes it (the stream, the CLI, another process); no
        write has to invalidate anything.  The key holds the commit's
        ``KeyedTable.commit_id``, read once, and *compute* gets its
        version.  A compute that sees a newer commit is still safe to
        store under the version it was given: versions only grow, so no
        later request reads that key.  The ``MAX_MEMO`` most recently
        used answers are kept; every caller gets its own copy, so one
        that edits its answer cannot change another's."""
        version, updated_at = table.commit_id()
        key = (table.path, version, updated_at, route,
               json.dumps(params, sort_keys=True, default=str))
        with self._memo_lock:
            if key in self._memo:
                self._memo[key] = self._memo.pop(key)  # now the most recent
                return copy.deepcopy(self._memo[key])
        out = compute(version)
        with self._memo_lock:
            self._memo[key] = copy.deepcopy(out)
            for old in list(self._memo)[:-MAX_MEMO]:
                del self._memo[old]
        return out

    def _live_page(self, table, route: str, params: dict, filters: dict,
                   order_by) -> list[dict]:
        """One page (``limit``/``offset`` params) of *table*'s live
        rows in *order_by*, keeping those whose column ``filters[p]``
        equals each param ``p`` that is set; [] before the first
        commit.  These tables carry no TTL, so the page depends on the
        commit read alone (``_memoized`` under *route*)."""
        from cass_cdc_pg_spark.operators.listings import listing
        from cass_cdc_pg_spark.plans.keyed_table import META_COLS

        limit, offset = _int_param(params, "limit", 50), _int_param(params, "offset", 0)

        def page(_version: int) -> list[dict]:
            if not table.exists():
                return []
            out = listing(
                table.read_live().drop(*META_COLS),
                [F.col(col) == params[p] for p, col in filters.items() if params.get(p)],
                order_by,
                limit=limit,
                offset=offset,
            )
            return [r.asDict() for r in out.collect()]

        return self._memoized(table, route, params, page)

    def _require_warehouse(self) -> str:
        if not self.warehouse:
            raise ApiError(503, "warehouse not configured")
        return self.warehouse

    def _dlq_table(self):
        from cass_cdc_pg_spark.streaming.ingest import dlq_table

        return dlq_table(self.spark, self._require_warehouse())

    def _mismatch_table(self):
        from cass_cdc_pg_spark.plans.keyed_table import KeyedTable

        return KeyedTable(
            self.spark,
            f"{self._require_warehouse()}/recon_mismatches",
            ["mismatch_id"],
            num_buckets=4,
        )

    def _ingest(self):
        from cass_cdc_pg_spark.streaming.ingest import CdcIngest

        if not self.table_config["tables"]:
            raise ApiError(503, "table config not provided")
        return CdcIngest.from_config(
            self.spark, self._require_warehouse(), self.table_config
        )

    # -- health / metrics ---------------------------------------------------

    def _health_service(self):
        from cass_cdc_pg_spark.streaming.ingest import cdc_table_path, schema_registry_path
        from cass_cdc_pg_spark.streaming.schema_evolution import SchemaRegistry

        reg = (
            SchemaRegistry(schema_registry_path(self.warehouse))
            if self.warehouse
            else None
        )
        return HealthCheckService(
            self.spark,
            source_tables=[
                cdc_table_path(self.source_warehouse, t) for t in self.table_config["tables"]
            ] if self.source_warehouse else None,
            target_warehouse=self.warehouse,
            schema_registry=reg,
        )

    def health(self) -> tuple[int, dict]:
        out = self._health_service().check_all()
        return (503 if out["status"] == "unhealthy" else 200), out

    def health_component(self, component: str) -> tuple[int, dict]:
        svc = self._health_service()
        probes = {
            "source": svc.check_source,
            "target": svc.check_target,
            "stream": svc.check_stream,
            "schema_registry": svc.check_schema_registry,
        }
        if component not in probes:
            raise ApiError(404, f"unknown component: {component}")
        out = probes[component]()
        return (503 if out["status"] == "unhealthy" else 200), out

    def metrics(self) -> str:
        return METRICS.render_prometheus()

    # -- dlq ----------------------------------------------------------------

    def dlq_records(self, params: dict) -> list[dict]:
        t = self._dlq_table()
        filters = {"error_type": "error_type", "status": "resolution_status",
                   "table": "source_table"}
        return self._live_page(t, "dlq_records", params, filters,
                               [F.desc("first_failed_at_us"), F.asc("dlq_id")])

    def dlq_stats(self) -> dict:
        t = self._dlq_table()
        return self._memoized(t, "dlq_stats", {}, lambda _: self._dlq_stats(t))

    @staticmethod
    def _dlq_stats(t) -> dict:
        # ONE Spark action: group on the full dim triple (bounded by
        # distinct error/status/table combinations, tiny by contract)
        # and marginalize driver-side; an empty DLQ has zero totals
        dims = ("error_type", "resolution_status", "source_table")
        rows = (
            t.read_live().groupBy(*dims).count().collect() if t.exists() else []
        )
        by: dict = {dim: {} for dim in dims}
        total = 0
        for r in rows:
            total += r["count"]
            for dim in dims:
                k = str(r[dim])
                by[dim][k] = by[dim].get(k, 0) + r["count"]
        out = {dim: dict(sorted(by[dim].items())) for dim in dims}
        out["total"] = total
        return out

    def dlq_replay(self, body: dict) -> dict:
        ids = body.get("event_ids") or body.get("ids")
        if not isinstance(ids, list) or not ids:
            raise ApiError(422, "event_ids must be a non-empty list")
        n = self._ingest().replay_dlq([str(i) for i in ids])
        return {"replayed": n, "resolution_status": "MANUAL_RESOLVED"}

    # -- reconciliation -----------------------------------------------------

    def reconciliation_trigger(
        self, body: dict, job_type: str = "MANUAL_ONDEMAND"
    ) -> dict:
        """Reconcile the CDC table ``body["table"]`` against the same
        table under ``source_warehouse`` (``reconcile.run_job``);
        ``strategy`` is ``row_count`` (default) or ``checksum``.  The
        scheduler's ticks call this with ``job_type="HOURLY_SCHEDULED"``.

        Sync by default (the job completes in-request).
        ``{"async": true}`` matches the REFERENCE contract
        (``reconciliation.py:73-119`` returns ``status=RUNNING`` and
        the client polls ``/jobs/{id}``): the reconcile runs on a worker
        thread and the response returns at registration latency."""
        strategy = body.get("strategy", "row_count")
        if strategy not in reconcile.STRATEGIES:
            raise ApiError(422, f"unknown strategy: {strategy}")
        if not self.source_warehouse:
            raise ApiError(503, "source_warehouse not configured")
        table = _validate_identifier(body.get("table", ""), "table")
        target = self._keyed_table_or_404(table)
        source = self._keyed_table_or_404(table, self.source_warehouse)
        job = {
            "job_id": uuid.uuid4().hex,
            "table_name": table,
            "job_type": job_type,
            "validation_strategy": strategy.upper(),
            "source_count": None,
            "target_count": None,
            "mismatch_count": None,
            "drift_percentage": None,
            "status": "RUNNING",
            "alert_fired": False,
            "started_at": time.time(),
            "completed_at": None,
        }
        self._keep_job(job)
        if not body.get("async"):
            return self._run_job(job, source, target, strategy)
        # a failure is recorded on the job, and logged by the thread's excepthook
        threading.Thread(target=self._run_job, daemon=True,
                         args=(job, source, target, strategy)).start()
        return dict(job)

    def _run_job(self, job: dict, source, target, strategy: str) -> dict:
        """Run *job* and record its outcome — the one job path: the
        drift gauge, the job counter and the drift alert fire here,
        and mismatches upsert into ``recon_mismatches``."""
        try:
            out = reconcile.run_job(source, target, strategy)
            n = out["mismatch_count"]
            if out["mismatches"] is not None:
                n = self._record_mismatches(job, strategy, out["mismatches"])
        except Exception as e:
            self._keep_job({**job, "status": "FAILED", "completed_at": time.time(),
                            "detail": f"{type(e).__name__}: {e}"})
            raise
        table, drift, severity = job["table_name"], out["drift_pct"], out["severity"]
        METRICS.inc("cdc_reconciliation_jobs_total",
                    {"table": table, "strategy": job["validation_strategy"]})
        METRICS.set_gauge("cdc_reconciliation_drift_percentage", drift, {"table": table})
        if severity != "ok":
            METRICS.inc("cdc_reconciliation_alerts_total",
                        {"table": table, "severity": severity})
        done = {
            **job,
            "source_count": out["src_count"],
            "target_count": out["tgt_count"],
            "mismatch_count": n,
            "drift_percentage": drift,
            "status": "COMPLETED",
            "alert_fired": severity != "ok",
            "completed_at": time.time(),
        }
        self._keep_job(done)
        return done

    def _record_mismatches(self, job: dict, strategy: str, mismatches) -> int:
        """Upsert one durable mismatch record per row of the
        *mismatches* DataFrame (its detail: the table and the row as
        JSON), distributed; id = content digest, so a re-detected
        mismatch upserts instead of duplicating.  Returns the count."""
        table = job["table_name"]
        detail = F.to_json(F.struct(F.lit(table).alias("table"), *mismatches.columns))
        records = mismatches.select(detail.alias("detail")).select(
            F.concat(F.lit(f"{table}:"), F.substring(F.sha1("detail"), 1, 16)
                     ).alias("mismatch_id"),
            F.lit(job["job_id"]).alias("job_id"),
            F.lit(strategy).alias("strategy"),
            "detail",
            F.lit("PENDING").alias("resolution_status"),
            F.lit(None).cast("string").alias("resolution_notes"),
        ).persist()
        try:
            n = records.count()
            if n:
                self._mismatch_table().upsert(records)
        finally:
            records.unpersist()
        return n

    def _keep_job(self, job: dict) -> None:
        """Store *job*, forgetting the oldest jobs past ``MAX_JOBS``."""
        with self._jobs_lock:
            self._jobs[job["job_id"]] = job
            for old in list(self._jobs)[:-MAX_JOBS]:
                del self._jobs[old]

    def reconciliation_jobs(self) -> list[dict]:
        with self._jobs_lock:
            return list(self._jobs.values())

    def reconciliation_job(self, job_id: str) -> dict:
        with self._jobs_lock:
            job = self._jobs.get(job_id)
        if job is None:
            raise ApiError(404, f"job {job_id} not found")
        return job

    def reconciliation_mismatches(self, params: dict) -> list[dict]:
        t = self._mismatch_table()
        return self._live_page(t, "reconciliation_mismatches", params,
                               {"status": "resolution_status"}, [F.asc("mismatch_id")])

    def reconciliation_resolve(self, mismatch_id: str, body: dict) -> dict:
        status = body.get("status", "MANUAL_RESOLVED")
        if status not in RESOLUTION_STATUSES:
            raise ApiError(422, f"unknown status: {status}")
        from cass_cdc_pg_spark.plans.keyed_table import META_COLS

        t = self._mismatch_table()
        if not t.exists():
            raise ApiError(404, f"mismatch {mismatch_id} not found")
        df = t.read_live().drop(*META_COLS)
        hit = df.filter(F.col("mismatch_id") == mismatch_id)
        updated = hit.withColumn("resolution_status", F.lit(status)).withColumn(
            "resolution_notes", F.lit(body.get("notes")).cast("string")
        )
        if not updated.take(1):
            raise ApiError(404, f"mismatch {mismatch_id} not found")
        t.upsert(updated)
        return {"mismatch_id": mismatch_id, "resolution_status": status}

    # -- gdpr ---------------------------------------------------------------

    def gdpr_delete(self, keyspace: str, table: str, primary_key: str) -> dict:
        _validate_identifier(keyspace, "keyspace")
        return self.gdpr_erase(table, primary_key)

    def gdpr_erase(self, table: str, primary_key: str,
                   requester: str = "api_user") -> dict:
        """Erase the record *primary_key* of configured *table* from its
        CDC table under ``source_warehouse`` (when set) and under
        ``warehouse`` (``ops.GdprService``: backup, delete from the
        source, delete from the target, compensate, audit).  The audit
        log lives in ``warehouse``, the target, as the reference's
        ``_cdc_audit_log`` lives in Postgres.  404 when the source
        holds no such record."""
        from cass_cdc_pg_spark.ops import AuditLog, GdprService
        from cass_cdc_pg_spark.plans.keyed_table import KeyedTable
        from cass_cdc_pg_spark.streaming.ingest import audit_log_path, cdc_table_path

        _validate_identifier(table, "table")
        _validate_identifier(primary_key, "primary_key")
        source = self._keyed_table_or_404(table, self.source_warehouse)
        wh = self._require_warehouse()
        target = (
            KeyedTable(self.spark, cdc_table_path(wh, table), source.key_cols)
            if self.source_warehouse else source
        )
        pred = F.col(source.key_cols[0]).cast("string") == primary_key
        try:
            return GdprService(self.spark, AuditLog(self.spark, audit_log_path(wh))).erase(
                source, target, pred, table, primary_key, requester=requester
            )
        except KeyError as e:
            raise ApiError(404, str(e)) from e

    def table_history(self, table: str) -> list[dict]:
        _validate_identifier(table, "table")
        t = self._keyed_table_or_404(table)
        return t.history()

    def table_changes(self, table: str, params: dict) -> list[dict]:
        """Change feed over HTTP (the CDF surface of `table changes`):
        422 unless ``since <= to <= head`` (``to`` defaults to the head
        version), 410 Gone when the range fell out of retention, 409
        Conflict when it crosses a rewrite commit (resync required)."""
        _validate_identifier(table, "table")
        t = self._keyed_table_or_404(table)
        since = _int_param(params, "since")
        to = _int_param(params, "to") if "to" in params else None
        limit = min(_int_param(params, "limit", 100), 1000)

        def changes(version: int) -> list[dict]:
            try:
                df = t.read_changes(since, change_range(since, to, version))
            except FileNotFoundError as e:
                raise ApiError(410, str(e)) from e
            except ValueError as e:
                raise ApiError(409, str(e)) from e
            if df is None:
                return []
            return [r.asDict(recursive=True) for r in df.limit(limit).collect()]

        return self._memoized(
            t, "table_changes", {"since": since, "to": to, "limit": limit}, changes
        )

    def _keyed_table_or_404(self, table: str, warehouse: str | None = None):
        """The CDC table of configured *table* in *warehouse* (default:
        the target warehouse); 404 when unknown or never committed."""
        from cass_cdc_pg_spark.plans.keyed_table import KeyedTable
        from cass_cdc_pg_spark.streaming.ingest import cdc_table_path

        cfg = self.table_config["tables"].get(table)
        if cfg is None:
            raise ApiError(404, f"unknown table: {table}")
        wh = warehouse or self._require_warehouse()
        t = KeyedTable(self.spark, cdc_table_path(wh, table), cfg["keys"])
        if not t.exists():
            raise ApiError(404, f"table {table} has no data yet")
        return t


# ---------------------------------------------------------------------------
# transport
# ---------------------------------------------------------------------------

_ROUTES: list[tuple[str, re.Pattern, str]] = [
    ("GET", re.compile(r"^/health$"), "health"),
    ("GET", re.compile(r"^/health/(?P<component>[^/]+)$"), "health_component"),
    ("GET", re.compile(r"^/metrics$"), "metrics"),
    ("GET", re.compile(r"^/dlq/records$"), "dlq_records"),
    ("GET", re.compile(r"^/dlq/stats$"), "dlq_stats"),
    ("POST", re.compile(r"^/dlq/replay$"), "dlq_replay"),
    ("POST", re.compile(r"^/reconciliation/trigger$"), "reconciliation_trigger"),
    ("GET", re.compile(r"^/reconciliation/jobs$"), "reconciliation_jobs"),
    ("GET", re.compile(r"^/reconciliation/jobs/(?P<job_id>[^/]+)$"),
     "reconciliation_job"),
    ("GET", re.compile(r"^/reconciliation/mismatches$"),
     "reconciliation_mismatches"),
    ("POST",
     re.compile(r"^/reconciliation/mismatches/(?P<mismatch_id>[^/]+)/resolve$"),
     "reconciliation_resolve"),
    ("DELETE",
     re.compile(r"^/records/(?P<keyspace>[^/]+)/(?P<table>[^/]+)/(?P<primary_key>[^/]+)$"),
     "gdpr_delete"),
    ("GET", re.compile(r"^/tables/(?P<table>[^/]+)/history$"), "table_history"),
    ("GET", re.compile(r"^/tables/(?P<table>[^/]+)/changes$"), "table_changes"),
]


class _Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"

    # route dispatch ---------------------------------------------------------

    def _dispatch(self, method: str) -> None:
        server: CdcApiServer = self.server  # type: ignore[assignment]
        split = urlsplit(self.path)
        params = {k: v[0] for k, v in parse_qs(split.query).items()}
        rid = middleware.request_id(self.headers.get("X-Request-ID"))
        match = name = None
        path_allowed: set[str] = set()
        for m, pat, nm in _ROUTES:
            got = pat.match(split.path)
            if got:
                path_allowed.add(m)
                if m == method:
                    match, name = got, nm
                    break
        try:
            if match is None:
                if path_allowed:
                    raise ApiError(405, f"method {method} not allowed")
                raise ApiError(404, f"no route for {split.path}")
            if server.rate_limiter is not None:
                try:
                    server.rate_limiter.check(f"{method} {name}")
                except middleware.RateLimitExceeded as e:
                    self._send(429, {"detail": str(e)}, rid,
                               extra={"Retry-After": str(int(e.retry_after))})
                    return
            with server.tracer.span(f"http.{name}", request_id=rid,
                                    method=method, path=split.path):
                out = self._invoke(server.service, name, match.groupdict(),
                                   params, method)
            if name == "metrics":
                self._send_text(200, out, rid)
            elif isinstance(out, tuple):
                self._send(out[0], out[1], rid)
            else:
                self._send(200, out, rid)
        except ApiError as e:
            self._send(e.status, {"detail": e.detail}, rid)
        except Exception as e:  # engine failure → 500, never a hung socket
            self._send(500, {"detail": f"{type(e).__name__}: {e}"}, rid)

    def _invoke(self, svc: CdcApiService, name: str, path_args: dict,
                params: dict, method: str):
        body = {}
        if method in ("POST", "DELETE"):
            n = int(self.headers.get("Content-Length") or 0)
            if n:
                try:
                    body = json.loads(self.rfile.read(n))
                except json.JSONDecodeError as e:
                    raise ApiError(422, f"invalid JSON body: {e}") from e
        dispatch = {
            "health": lambda: svc.health(),
            "health_component": lambda: svc.health_component(**path_args),
            "metrics": lambda: svc.metrics(),
            "dlq_records": lambda: svc.dlq_records(params),
            "dlq_stats": lambda: svc.dlq_stats(),
            "dlq_replay": lambda: svc.dlq_replay(body),
            "reconciliation_trigger": lambda: svc.reconciliation_trigger(body),
            "reconciliation_jobs": lambda: svc.reconciliation_jobs(),
            "reconciliation_job": lambda: svc.reconciliation_job(**path_args),
            "reconciliation_mismatches":
                lambda: svc.reconciliation_mismatches(params),
            "reconciliation_resolve":
                lambda: svc.reconciliation_resolve(
                    path_args["mismatch_id"], body),
            "gdpr_delete": lambda: svc.gdpr_delete(**path_args),
            "table_history": lambda: svc.table_history(**path_args),
            "table_changes":
                lambda: svc.table_changes(path_args["table"], params),
        }
        return dispatch[name]()

    # response helpers -------------------------------------------------------

    def _send(self, status: int, payload, rid: str,
              extra: dict | None = None) -> None:
        data = json.dumps(payload, default=str, sort_keys=True).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        self.send_header("X-Request-ID", rid)
        for k, v in (extra or {}).items():
            self.send_header(k, v)
        self.end_headers()
        self.wfile.write(data)

    def _send_text(self, status: int, text: str, rid: str) -> None:
        data = text.encode()
        self.send_response(status)
        self.send_header("Content-Type", "text/plain; version=0.0.4")
        self.send_header("Content-Length", str(len(data)))
        self.send_header("X-Request-ID", rid)
        self.end_headers()
        self.wfile.write(data)

    def do_GET(self) -> None:  # noqa: N802 (http.server API)
        self._dispatch("GET")

    def do_POST(self) -> None:  # noqa: N802
        self._dispatch("POST")

    def do_DELETE(self) -> None:  # noqa: N802
        self._dispatch("DELETE")

    def log_message(self, fmt: str, *args) -> None:  # silence default stderr
        pass


class CdcApiServer(ThreadingHTTPServer):
    """Threaded listener bound to *host:port* (port 0 → ephemeral).

    ``start()`` serves on a daemon thread and returns the bound
    ``(host, port)``; ``stop()`` shuts the socket down.  Spark job
    submission is thread-safe, so concurrent requests are fine."""

    daemon_threads = True

    def __init__(self, service: CdcApiService, host: str = "127.0.0.1",
                 port: int = 0, rate_limit_state: str | None = None) -> None:
        super().__init__((host, port), _Handler)
        self.service = service
        self.tracer = middleware.Tracer()
        self.rate_limiter = (
            middleware.RateLimiter(rate_limit_state) if rate_limit_state else None
        )
        self._thread: threading.Thread | None = None

    def start(self) -> tuple[str, int]:
        self._thread = threading.Thread(target=self.serve_forever, daemon=True)
        self._thread.start()
        return self.server_address[0], self.server_address[1]

    def stop(self) -> None:
        self.shutdown()
        if self._thread:
            self._thread.join(timeout=5)
        self.server_close()
