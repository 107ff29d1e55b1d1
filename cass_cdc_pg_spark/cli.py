"""The CLI: a second transport over ``api.CdcApiService``, plus the
storage verbs that have no HTTP route.

A verb that mirrors a route (reference ``src/api/routes/*``) builds one
service, calls the route's method and prints what it returns as JSON
— one line per object or list element; a service ``ApiError`` becomes
one stderr JSON line and exit 1:

- ``dlq list``           → GET /dlq/records  (``dlq_records``)
- ``dlq stats``          → GET /dlq/stats    (``dlq_stats``)
- ``dlq replay``         → POST /dlq/replay  (``dlq_replay``)
- ``health``             → GET /health       (``health``)
- ``metrics dump``       → GET /metrics      (``metrics``)
- ``gdpr erase``         → DELETE /records/{keyspace}/{table}/{id}
  (``gdpr_erase``): ``--table`` of ``--warehouse`` and, with
  ``--target-warehouse``, of that target too (``gdpr.py:37-216``)
- ``reconcile run``      → POST /reconciliation/trigger
  (``reconciliation_trigger``): ``--table`` of ``--warehouse`` against
  the same table of ``--source-warehouse``

CLI-local verbs:

- ``dlq resolve``        → status flip without replay (``dlq_service.py:246-255``)
- ``table history``      → retained snapshot versions of a keyed table
- ``table read``         → current or ``--version`` time-travel read
- ``table changes``      → change feed between retained versions (CDF)
- ``table compact``      → fold LSM deltas into fresh bases (OPTIMIZE)
- ``table sync``         → follow a change feed into a derived table (auto-resync)
- ``run``                → the replication service, in one process: with
  ``--landing`` the CDC stream (its checkpoint under the warehouse), the
  streaming listener, the HTTP listener (TLS with ``--tls-cert`` and
  ``--tls-key``) and the hourly scheduler tick — the reconciliation jobs
  with ``--source-warehouse``, then the TTL and audit-log retention
  sweeps.  It stops on SIGTERM or SIGINT (exit 0), and when the stream
  dies (exit 1).

Table metadata comes from a config JSON (the connector-config analog):

    {"tables": {"events": {"ddl": "event_id long, user_id long",
                           "keys": ["event_id"]}}}
"""

from __future__ import annotations

import argparse
import json
import signal
import sys
import time

from pyspark.sql import functions as F

from cass_cdc_pg_spark.api import (
    RESOLUTION_STATUSES,
    ApiError,
    CdcApiServer,
    CdcApiService,
    change_range,
)
from cass_cdc_pg_spark.operators.reconcile import STRATEGIES


def _load_config(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def _emit(rows) -> None:
    for r in rows:
        print(json.dumps(r.asDict() if hasattr(r, "asDict") else r,
                         default=str, sort_keys=True))


def _service(args, spark) -> CdcApiService:
    """The route handlers for one CLI call, which is one request."""
    config = getattr(args, "config", None)
    return CdcApiService(
        spark,
        warehouse=getattr(args, "warehouse", None),
        source_warehouse=getattr(args, "source_warehouse", None),
        table_config=_load_config(config) if config else None,
    )


def cmd_reconcile_run(args, spark) -> int:
    body = {"table": args.table, "strategy": args.strategy}
    _emit([_service(args, spark).reconciliation_trigger(body)])
    return 0


def cmd_dlq_list(args, spark) -> int:
    # the option dests are the route's query-parameter names
    params = ("error_type", "status", "table", "limit", "offset")
    _emit(_service(args, spark).dlq_records({k: getattr(args, k) for k in params}))
    return 0


def cmd_dlq_stats(args, spark) -> int:
    _emit([_service(args, spark).dlq_stats()])
    return 0


def cmd_dlq_replay(args, spark) -> int:
    _emit([_service(args, spark).dlq_replay({"event_ids": args.ids})])
    return 0


def cmd_dlq_resolve(args, spark) -> int:
    """Status flip without replay (``dlq_service.py:246-255``): one
    ``KeyedTable.upsert``, stamped with wall time (outranks the
    deterministic failure timestamp, so the flip always wins)."""
    from cass_cdc_pg_spark.plans.keyed_table import META_COLS
    from cass_cdc_pg_spark.streaming.ingest import dlq_table

    t = dlq_table(spark, args.warehouse)
    hit = (
        t.read_live().drop(*META_COLS).filter(F.col("dlq_id") == args.id)
        if t.exists()
        else None
    )
    if hit is None or not hit.take(1):
        print(json.dumps({"error": f"dlq_id {args.id} not found"}),
              file=sys.stderr)
        return 1
    t.upsert(hit.withColumn("resolution_status", F.lit(args.status)))
    print(json.dumps({"dlq_id": args.id, "resolution_status": args.status}))
    return 0


def cmd_gdpr_erase(args, spark) -> int:
    # --warehouse holds the source replica; --target-warehouse, when
    # given, the target, which keeps the audit log
    svc = CdcApiService(
        spark,
        warehouse=args.target_warehouse or args.warehouse,
        source_warehouse=args.warehouse if args.target_warehouse else None,
        table_config=_load_config(args.config),
    )
    result = svc.gdpr_erase(args.table, args.id, requester=args.requester)
    print(json.dumps(result, default=str, sort_keys=True))
    return 0 if result["status"] == "success" else 1


def cmd_health(args, spark) -> int:
    status, out = _service(args, spark).health()
    _emit([out])
    return 0 if status == 200 else 1


def cmd_metrics_dump(args, spark) -> int:
    sys.stdout.write(_service(args, spark).metrics())
    return 0


def _require_table(spark, warehouse: str, table: str):
    """The keyed table *table* of *warehouse* (keys and bucket count as
    committed), or None after a ``table_not_found`` error when nothing
    is committed there — so a misspelled --table fails loudly instead
    of surfacing as a confusing empty-table/version error (or exit 0
    with no output for history).  The probe creates nothing."""
    from cass_cdc_pg_spark.plans.keyed_table import KeyedTable

    t = KeyedTable(spark, f"{warehouse.rstrip('/')}/{table}", [])
    if not t.exists():
        print(
            json.dumps({"error": "table_not_found", "table": table}),
            file=sys.stderr,
        )
        return None
    return t


def cmd_table_history(args, spark) -> int:
    """Retained snapshot versions of a keyed table (the DESCRIBE
    HISTORY analog; versions come from the manifest log, see
    ``plans/keyed_table.py``)."""
    t = _require_table(spark, args.warehouse, args.table)
    if t is None:
        return 1
    for h in t.history():
        print(json.dumps(h, sort_keys=True))
    return 0


def cmd_table_read(args, spark) -> int:
    """Read a keyed table's current — or, with ``--version``, a
    retained historical — snapshot (time travel).  Version 0, the
    table before its first commit, has no rows."""
    from cass_cdc_pg_spark.plans.keyed_table import META_COLS

    t = _require_table(spark, args.warehouse, args.table)
    if t is None:
        return 1
    try:
        df = t.read(version=args.version)
    except FileNotFoundError as e:
        print(json.dumps({"error": "version_not_retained", "detail": str(e)}),
              file=sys.stderr)
        return 1
    if df is None:
        return 0
    if not args.meta:
        df = df.drop(*META_COLS)
    _emit(df.limit(args.limit).collect())
    return 0


def cmd_table_changes(args, spark) -> int:
    """Change feed between two retained versions (the Delta-CDF
    analog — see ``KeyedTable.read_changes``): merge-commit rows with
    ``_change_version``; errors distinctly when the range crosses a
    rewrite (resync required) or falls outside retention; a range that
    is not ``0 <= since <= to <= head`` is a service error naming the
    bad argument (``api.change_range``)."""
    t = _require_table(spark, args.warehouse, args.table)
    if t is None:
        return 1
    to = change_range(args.since, args.to, t.commit_id()[0])
    try:
        df = t.read_changes(args.since, to)
    except FileNotFoundError as e:
        print(json.dumps({"error": "version_not_retained", "detail": str(e)}),
              file=sys.stderr)
        return 1
    except ValueError as e:
        print(json.dumps({"error": "rewrite_in_range", "detail": str(e)}),
              file=sys.stderr)
        return 1
    _emit([] if df is None else df.limit(args.limit).collect())
    return 0


def cmd_table_compact(args, spark) -> int:
    """Fold LSM deltas into fresh bases (the OPTIMIZE verb); prints
    the number of buckets compacted."""
    t = _require_table(spark, args.warehouse, args.table)
    if t is None:
        return 1
    if not t.key_cols:
        # legacy manifest without persisted key_cols: compacting would
        # LWW-reduce with zero group keys — one row per bucket, durable
        # data loss from a maintenance verb. Refuse.
        print(
            json.dumps(
                {
                    "error": "no_key_cols",
                    "detail": "manifest has no key_cols; re-create the "
                    "table or pass keys explicitly before compacting",
                }
            ),
            file=sys.stderr,
        )
        return 1
    n = t.compact()
    print(json.dumps({"table": args.table, "buckets_compacted": n}))
    return 0


def cmd_table_sync(args, spark) -> int:
    """Advance a derived table from a source table's change feed —
    incremental when the range is clean, automatic snapshot resync
    across rewrite commits (``streaming/follower.py``)."""
    from cass_cdc_pg_spark.plans.keyed_table import KeyedTable
    from cass_cdc_pg_spark.streaming.follower import ChangeFeedFollower

    source = _require_table(spark, args.warehouse, args.table)
    if source is None:
        return 1
    if not source.key_cols:
        print(json.dumps({"error": "no_key_cols",
                          "detail": "source manifest has no key_cols"}),
              file=sys.stderr)
        return 1
    target = KeyedTable(
        spark, f"{args.warehouse.rstrip('/')}/{args.target}", source.key_cols,
        num_buckets=source.num_buckets,
    )
    st = ChangeFeedFollower(spark, source, target).sync()
    print(json.dumps({"table": args.table, "target": args.target, **st}))
    return 0


def cmd_run(args, spark) -> int:
    """The replication service (module docstring): the Kafka Connect
    workers and the uvicorn control plane of the reference
    (``docs/architecture.md``) as one process.  A batch a stop
    interrupts replays from the checkpoint on the next start; the
    idempotent merge makes that safe."""
    from cass_cdc_pg_spark import tls
    from cass_cdc_pg_spark.monitoring import ReconciliationScheduler, register_listener
    from cass_cdc_pg_spark.streaming.ingest import CdcIngest, checkpoint_path, jsonl_stream

    if bool(args.tls_cert) != bool(args.tls_key) or (args.tls_client_ca and not args.tls_cert):
        print(json.dumps({"error": "tls_config", "detail": "--tls-cert and --tls-key "
                          "go together, and --tls-client-ca needs both"}), file=sys.stderr)
        return 1
    config = _load_config(args.config)
    service = CdcApiService(spark, warehouse=args.warehouse,
                            source_warehouse=args.source_warehouse, table_config=config)
    # bind (and load the certs) before the stream starts: a bad port or
    # cert fails the start with nothing running yet
    server = CdcApiServer(service, host=args.host, port=args.port,
                          rate_limit_state=args.rate_limit_state)
    if args.tls_cert:
        tls.secure_server(server, args.tls_cert, args.tls_key, args.tls_client_ca)
    stopping: list[int] = []
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda signum, _frame: stopping.append(signum))
    register_listener(spark)
    query = None
    if args.landing:
        query = CdcIngest.from_config(spark, args.warehouse, config).start(
            jsonl_stream(spark, args.landing), checkpoint_path(args.warehouse))
    scheduler = ReconciliationScheduler(service, list(config["tables"]))
    scheduler.start()
    host, port = server.start()
    scheme = "https" if args.tls_cert else "http"
    print(json.dumps({"listening": f"{scheme}://{host}:{port}"}), flush=True)
    rc = 0
    try:
        while not stopping:
            if query is not None and not query.isActive:
                # a supervisor restarts a service whose stream died
                print(json.dumps({"error": "stream_terminated",
                                  "detail": str(query.exception())}), file=sys.stderr)
                rc = 1
                break
            time.sleep(0.5)
    finally:
        if query is not None:
            query.stop()
        scheduler.stop()
        server.stop()
    return rc


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="cass-cdc-pg-spark")
    # middleware analogs (src/middleware/*): X-Request-ID header →
    # --request-id flag; slowapi limits → --rate-limit-state file
    p.add_argument("--request-id", default=None,
                   help="propagated into output and trace context; "
                        "generated if absent (X-Request-ID analog)")
    p.add_argument("--rate-limit-state", default=None,
                   help="JSON state file enabling 100/min + 1000/hour "
                        "fixed-window rate limiting across invocations")
    p.add_argument("--trace", action="store_true",
                   help="emit a span line per command (tracing analog)")
    sub = p.add_subparsers(dest="cmd", required=True)

    rec = sub.add_parser("reconcile").add_subparsers(dest="sub", required=True)
    run = rec.add_parser("run")
    run.add_argument("--warehouse", required=True)
    run.add_argument("--source-warehouse", required=True)
    run.add_argument("--config", required=True)
    run.add_argument("--table", required=True)
    run.add_argument("--strategy", default="row_count", choices=STRATEGIES)
    run.set_defaults(fn=cmd_reconcile_run)

    dlq = sub.add_parser("dlq").add_subparsers(dest="sub", required=True)
    ls = dlq.add_parser("list")
    ls.add_argument("--warehouse", required=True)
    ls.add_argument("--error-type")
    ls.add_argument("--status")
    ls.add_argument("--table")
    ls.add_argument("--limit", type=int, default=50)
    ls.add_argument("--offset", type=int, default=0)
    ls.set_defaults(fn=cmd_dlq_list)
    st = dlq.add_parser("stats")
    st.add_argument("--warehouse", required=True)
    st.set_defaults(fn=cmd_dlq_stats)
    rp = dlq.add_parser("replay")
    rp.add_argument("--warehouse", required=True)
    rp.add_argument("--config", required=True)
    rp.add_argument("--ids", nargs="+", required=True)
    rp.set_defaults(fn=cmd_dlq_replay)
    rs = dlq.add_parser("resolve")
    rs.add_argument("--warehouse", required=True)
    rs.add_argument("--id", required=True)
    rs.add_argument("--status", default="MANUAL_RESOLVED",
                    choices=list(RESOLUTION_STATUSES))
    rs.set_defaults(fn=cmd_dlq_resolve)

    gd = sub.add_parser("gdpr").add_subparsers(dest="sub", required=True)
    er = gd.add_parser("erase")
    er.add_argument("--warehouse", required=True)
    er.add_argument("--target-warehouse")
    er.add_argument("--config", required=True)
    er.add_argument("--table", required=True)
    er.add_argument("--id", required=True)
    er.add_argument("--requester", default="cli_user")
    er.set_defaults(fn=cmd_gdpr_erase)

    he = sub.add_parser("health")
    he.add_argument("--source-warehouse")
    he.add_argument("--warehouse")
    he.add_argument("--config")
    he.set_defaults(fn=cmd_health)

    me = sub.add_parser("metrics").add_subparsers(dest="sub", required=True)
    du = me.add_parser("dump")
    du.set_defaults(fn=cmd_metrics_dump)

    tb = sub.add_parser("table").add_subparsers(dest="sub", required=True)
    hi = tb.add_parser("history")
    hi.add_argument("--warehouse", required=True)
    hi.add_argument("--table", required=True)
    hi.set_defaults(fn=cmd_table_history)
    rd = tb.add_parser("read")
    rd.add_argument("--warehouse", required=True)
    rd.add_argument("--table", required=True)
    rd.add_argument("--version", type=int, default=None)
    rd.add_argument("--limit", type=int, default=100)
    rd.add_argument("--meta", action="store_true",
                    help="include _cdc_* metadata columns")
    rd.set_defaults(fn=cmd_table_read)
    ch = tb.add_parser("changes")
    ch.add_argument("--warehouse", required=True)
    ch.add_argument("--table", required=True)
    ch.add_argument("--since", type=int, required=True,
                    help="emit merge commits AFTER this version")
    ch.add_argument("--to", type=int, default=None)
    ch.add_argument("--limit", type=int, default=100)
    ch.set_defaults(fn=cmd_table_changes)
    co = tb.add_parser("compact")
    co.add_argument("--warehouse", required=True)
    co.add_argument("--table", required=True)
    co.set_defaults(fn=cmd_table_compact)
    sy = tb.add_parser("sync")
    sy.add_argument("--warehouse", required=True)
    sy.add_argument("--table", required=True,
                    help="source table (the feed to follow)")
    sy.add_argument("--target", required=True,
                    help="derived table dir name under the warehouse")
    sy.set_defaults(fn=cmd_table_sync)

    sv = sub.add_parser("run")
    sv.add_argument("--warehouse", required=True)
    sv.add_argument("--config", required=True)
    sv.add_argument("--landing", help="JSONL change-event dir the stream reads")
    sv.add_argument("--source-warehouse")
    sv.add_argument("--host", default="127.0.0.1")
    sv.add_argument("--port", type=int, default=8000)
    sv.add_argument("--tls-cert")
    sv.add_argument("--tls-key")
    sv.add_argument("--tls-client-ca", help="require client certs signed by this CA")
    sv.set_defaults(fn=cmd_run)
    return p


def main(argv: list[str] | None = None, spark=None) -> int:
    from cass_cdc_pg_spark import middleware

    args = build_parser().parse_args(argv)
    rid = middleware.request_id(args.request_id)
    if args.rate_limit_state:
        try:
            middleware.RateLimiter(args.rate_limit_state).check(
                f"{args.cmd}.{getattr(args, 'sub', '')}"
            )
        except middleware.RateLimitExceeded as e:
            print(json.dumps({"error": "rate_limit_exceeded",
                              "request_id": rid, "detail": str(e)}),
                  file=sys.stderr)
            return 429 % 256  # HTTP-analog exit code
    if spark is None:
        from cass_cdc_pg_spark.session import get_spark

        spark = get_spark(app_name="cass-cdc-pg-spark-cli")
    tracer = middleware.Tracer()
    try:
        with tracer.span(f"cli.{args.cmd}", trace_id=rid.replace("-", "")
                         if args.request_id else None,
                         command=args.cmd, request_id=rid):
            rc = args.fn(args, spark)
    except ApiError as e:
        print(json.dumps({"status": e.status, "detail": e.detail,
                          "request_id": rid}), file=sys.stderr)
        rc = 1
    if args.trace:
        for sp in tracer.spans:
            print(json.dumps({"span": sp}, default=str), file=sys.stderr)
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
