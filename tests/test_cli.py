"""Smoke tests for the CLI service facade (reference route surface)."""

from __future__ import annotations

import json

from pyspark.sql import types as T

from cass_cdc_pg_spark.cli import main
from cass_cdc_pg_spark.streaming.ingest import CdcIngest

USERS_DDL = "id string, username string, age int"
U1 = "11111111-1111-1111-1111-111111111111"

CHANGE_EVENT_DDL = (
    "event_id string, source_table string, operation_type string, "
    "timestamp_micros long, before map<string,string>, after map<string,string>, "
    "schema_version int, ttl_seconds int, is_tombstone boolean"
)


def _seed_warehouse(spark, wh: str) -> None:
    """One good user row + one DLQ'd event (bad timestamp)."""
    ingest = CdcIngest(
        spark,
        wh,
        table_schemas={"users": T.StructType.fromDDL(USERS_DDL)},
        key_cols={"users": ["id"]},
        num_buckets=2,
    )
    ingest.process_batch(
        spark.createDataFrame(
            [
                ("22222222-2222-4222-8222-222222222222", "users", "CREATE", 1000, None,
                 {"id": U1, "username": "a", "age": "30"}, 1, None, False),
                (None, "users", "CREATE", None, None,
                 {"id": "x"}, 1, None, False),  # invalid → DLQ
            ],
            CHANGE_EVENT_DDL,
        )
    )


def _cfg(tmp_path) -> str:
    p = tmp_path / "cfg.json"
    p.write_text(json.dumps(
        {"tables": {"users": {"ddl": USERS_DDL, "keys": ["id"]}}}
    ))
    return str(p)


def test_cli_full_surface(spark, tmp_path, capsys):
    wh = str(tmp_path / "wh")
    _seed_warehouse(spark, wh)
    cfg = _cfg(tmp_path)

    # dlq list / stats
    assert main(["dlq", "list", "--warehouse", wh], spark) == 0
    rows = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert len(rows) == 1 and rows[0]["resolution_status"] == "PENDING"
    dlq_id = rows[0]["dlq_id"]

    assert main(["dlq", "stats", "--warehouse", wh], spark) == 0
    out = capsys.readouterr().out
    assert '"total": 1' in out

    # dlq resolve flips the status atomically
    assert main(["dlq", "resolve", "--warehouse", wh, "--id", dlq_id,
                 "--status", "IGNORED"], spark) == 0
    capsys.readouterr()
    assert main(["dlq", "list", "--warehouse", wh, "--status", "IGNORED"],
                spark) == 0
    rows = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert len(rows) == 1

    # dlq replay (invalid event fails again; replay still resolves it)
    assert main(["dlq", "replay", "--warehouse", wh, "--config", cfg,
                 "--ids", dlq_id], spark) == 0
    assert json.loads(capsys.readouterr().out)["replayed"] == 1

    # gdpr erase removes the user and exits 0
    assert main(["gdpr", "erase", "--warehouse", wh, "--config", cfg,
                 "--table", "users", "--id", U1], spark) == 0
    result = json.loads(capsys.readouterr().out)
    assert result["status"] == "success"

    # metrics dump renders the prometheus text format
    assert main(["metrics", "dump"], spark) == 0
    assert "cdc_events_processed_total" in capsys.readouterr().out


def test_cli_reconcile_and_health(spark, tmp_path, recon_pair, capsys):
    """`reconcile run` prints the job the trigger route returns."""
    recon_wh, recon_src, recon_cfg = recon_pair
    cfg = tmp_path / "recon_cfg.json"
    cfg.write_text(json.dumps(recon_cfg))
    assert main(["reconcile", "run", "--warehouse", recon_wh,
                 "--source-warehouse", recon_src, "--config", str(cfg),
                 "--table", "users", "--strategy", "checksum"], spark) == 0
    job = json.loads(capsys.readouterr().out)
    assert (job["status"], job["validation_strategy"]) == ("COMPLETED", "CHECKSUM")
    assert (job["source_count"], job["target_count"], job["mismatch_count"]) == (20, 19, 2)

    wh = str(tmp_path / "wh")
    _seed_warehouse(spark, wh)
    assert main(["health", "--source-warehouse", wh, "--warehouse", wh,
                 "--config", _cfg(tmp_path)], spark) == 0
    health = json.loads(capsys.readouterr().out)
    assert health["components"]["source"]["status"] == "healthy"
    assert health["components"]["target"]["status"] == "healthy"
    assert health["components"]["schema_registry"]["details"]["subject_count"] == 1


def test_rate_limiter_windows_and_persistence(tmp_path):
    """Fixed windows enforce both limits, rejected calls don't consume
    quota, and state survives across limiter instances (CLI restarts)."""
    import pytest

    from cass_cdc_pg_spark.middleware import RateLimiter, RateLimitExceeded

    t = [1000.0]
    path = str(tmp_path / "rl.json")
    rl = RateLimiter(path, limits=((2, 60), (3, 3600)), clock=lambda: t[0])
    rl.check("dlq.list")
    rl.check("dlq.list")
    with pytest.raises(RateLimitExceeded) as ei:
        rl.check("dlq.list")
    assert ei.value.retry_after == 60.0  # full minute window left
    # different key has its own window
    rl.check("health.")
    # new instance, same file: state persisted
    rl2 = RateLimiter(path, limits=((2, 60), (3, 3600)), clock=lambda: t[0])
    with pytest.raises(RateLimitExceeded):
        rl2.check("dlq.list")
    # minute window rolls over; hour window still binds (2 used, cap 3)
    t[0] += 61
    rl2.check("dlq.list")
    with pytest.raises(RateLimitExceeded) as ei2:
        rl2.check("dlq.list")
    assert ei2.value.window_sec == 3600


def _lines(out: str) -> list:
    return [json.loads(x) for x in out.strip().splitlines()]


def _no_latency(x):
    """*x* without the probes' wall-clock ``latency_ms`` fields."""
    if isinstance(x, dict):
        return {k: _no_latency(v) for k, v in x.items() if k != "latency_ms"}
    return x


def test_cli_prints_what_the_service_returns(spark, tmp_path, capsys):
    """The CLI verbs that mirror a route print exactly the service's
    answer for the same arguments."""
    from cass_cdc_pg_spark.api import CdcApiService

    wh = str(tmp_path / "wh")
    _seed_warehouse(spark, wh)
    cfg = _cfg(tmp_path)
    with open(cfg) as fh:
        svc = CdcApiService(spark, warehouse=wh, source_warehouse=wh,
                            table_config=json.load(fh))

    assert main(["dlq", "list", "--warehouse", wh], spark) == 0
    assert _lines(capsys.readouterr().out) == json.loads(
        json.dumps(svc.dlq_records({}), default=str))
    assert main(["dlq", "list", "--warehouse", wh, "--status", "IGNORED"],
                spark) == 0
    assert capsys.readouterr().out == ""
    assert svc.dlq_records({"status": "IGNORED"}) == []

    assert main(["dlq", "stats", "--warehouse", wh], spark) == 0
    assert _lines(capsys.readouterr().out) == [svc.dlq_stats()]

    assert main(["health", "--source-warehouse", wh, "--warehouse", wh,
                 "--config", cfg], spark) == 0
    (printed,) = _lines(capsys.readouterr().out)
    status, out = svc.health()
    assert status == 200
    assert _no_latency(printed) == _no_latency(out)


def test_cli_dlq_stats_runs_no_more_jobs_than_the_service(spark, tmp_path, capsys):
    """`dlq stats` is the route's one grouped pass, not a query per
    dimension plus a count."""
    from cass_cdc_pg_spark.api import CdcApiService

    wh = str(tmp_path / "wh")
    _seed_warehouse(spark, wh)
    sc = spark.sparkContext

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    svc = CdcApiService(spark, warehouse=wh)
    api_jobs = jobs("api-dlq-stats", svc.dlq_stats)
    cli_jobs = jobs("cli-dlq-stats",
                    lambda: main(["dlq", "stats", "--warehouse", wh], spark))
    capsys.readouterr()
    assert 0 < cli_jobs <= api_jobs, (cli_jobs, api_jobs)


def test_cli_empty_dlq(spark, tmp_path, capsys):
    """No event ever routed to the DLQ: `dlq list` prints nothing and
    `dlq stats` prints zero totals, both exit 0."""
    wh = tmp_path / "wh"
    wh.mkdir()
    assert main(["dlq", "list", "--warehouse", str(wh)], spark) == 0
    assert capsys.readouterr().out == ""
    assert main(["dlq", "stats", "--warehouse", str(wh)], spark) == 0
    assert _lines(capsys.readouterr().out) == [
        {"error_type": {}, "resolution_status": {}, "source_table": {},
         "total": 0}
    ]


def test_cli_service_error_is_one_stderr_line(spark, tmp_path, capsys):
    """A route's ApiError reaches the CLI as one JSON line on stderr
    and exit 1, never a traceback."""
    cfg = tmp_path / "cfg.json"
    cfg.write_text(json.dumps({"tables": {}}))
    assert main(["dlq", "replay", "--warehouse", str(tmp_path / "wh"),
                 "--config", str(cfg), "--ids", "x"], spark) == 1
    (err,) = _lines(capsys.readouterr().err)
    assert err["status"] == 503 and "table config" in err["detail"]


def test_cli_gdpr_erase_is_the_service_erasure(spark, tmp_path, recon_pair, capsys):
    """`gdpr erase --target-warehouse` removes the record from both
    warehouses, audits it with its requester in the target warehouse and
    prints the service's result; an unknown record exits 1 with the
    error JSON on stderr."""
    from cass_cdc_pg_spark.ops import AuditLog
    from cass_cdc_pg_spark.plans.keyed_table import KeyedTable
    from cass_cdc_pg_spark.streaming.ingest import audit_log_path, cdc_table_path

    wh, src_wh, recon_cfg = recon_pair
    cfg = tmp_path / "recon_cfg.json"
    cfg.write_text(json.dumps(recon_cfg))
    erase = ["gdpr", "erase", "--warehouse", src_wh, "--target-warehouse", wh,
             "--config", str(cfg), "--table", "users", "--requester", "ops"]
    assert main([*erase, "--id", "u05"], spark) == 0
    out = json.loads(capsys.readouterr().out)
    assert (out["status"], out["deleted_from_source"], out["deleted_from_target"]) == (
        "success", True, True)
    for w in (src_wh, wh):
        live = KeyedTable(spark, cdc_table_path(w, "users"), ["id"]).read_live()
        assert live.filter("id = 'u05'").count() == 0, w
    (entry,) = AuditLog(spark, audit_log_path(wh)).read().collect()
    assert (entry["record_identifier"], entry["requester"]) == ("u05", "ops")

    assert main([*erase, "--id", "u05"], spark) == 1
    captured = capsys.readouterr()
    (err,) = _lines(captured.err)
    assert captured.out == "" and err["status"] == 404 and "u05" in err["detail"]


def test_tracer_stack_is_per_thread():
    """Overlapping spans on two threads (the threaded HTTP server's
    concurrent requests) are two traces, each with a root span."""
    import threading

    from cass_cdc_pg_spark.middleware import Tracer

    tr = Tracer()
    opened, closed = threading.Event(), threading.Event()

    def first():
        with tr.span("first"):
            opened.set()
            closed.wait(10)

    t = threading.Thread(target=first)
    t.start()
    assert opened.wait(10)
    with tr.span("second"):
        pass
    closed.set()
    t.join(10)
    by_name = {s["name"]: s for s in tr.spans}
    assert set(by_name) == {"first", "second"}
    assert by_name["second"]["parent_span_id"] is None
    assert by_name["first"]["parent_span_id"] is None
    assert by_name["first"]["trace_id"] != by_name["second"]["trace_id"]


def test_tracer_keeps_a_bounded_window_of_spans():
    """The tracer keeps only the newest MAX_SPANS spans, also while
    more request threads than cores close spans at once, and
    nesting never crosses threads."""
    import sys
    import threading

    from cass_cdc_pg_spark.middleware import MAX_SPANS, Tracer

    tr = Tracer()

    def work(t):
        for _ in range(200):
            with tr.span("outer", t=t):
                with tr.span("inner", t=t):
                    pass

    threads = [threading.Thread(target=work, args=(t,)) for t in range(8)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(60)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert len(tr.spans) == MAX_SPANS  # of 3200 closed
    by_id = {s["span_id"]: s for s in tr.spans}
    for s in tr.spans:
        assert (s["name"] == "outer") == (s["parent_span_id"] is None)
        parent = by_id.get(s["parent_span_id"])
        if parent is not None:
            assert parent["attributes"]["t"] == s["attributes"]["t"]


def test_tracer_nesting_and_error_sampling():
    """Child spans share the trace id and point at their parent; a span
    that raises is kept with status error."""
    import pytest

    from cass_cdc_pg_spark.middleware import Tracer

    tr = Tracer()
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert len(tr.spans) == 2
    inner, out = tr.spans  # children close (and are kept) first
    assert inner["trace_id"] == out["trace_id"]
    assert inner["parent_span_id"] == out["span_id"]
    assert out["parent_span_id"] is None
    assert out["duration_ms"] >= 0

    with pytest.raises(ValueError):
        with tr.span("boom"):
            raise ValueError("x")
    assert tr.spans[-1]["name"] == "boom"
    assert tr.spans[-1]["status"] == "error"


def test_cli_request_id_and_rate_limit_exit(spark, tmp_path, capsys):
    """--request-id flows into the trace span; an exhausted window maps
    to the 429-analog exit code without touching Spark."""
    from cass_cdc_pg_spark.middleware import RateLimiter

    rc = main(["--trace", "--request-id", "req-42", "metrics", "dump"],
              spark=spark)
    assert rc == 0
    err = capsys.readouterr().err
    spans = [json.loads(line)["span"] for line in err.splitlines()
             if line.startswith('{"span"')]
    assert spans and spans[0]["attributes"]["request_id"] == "req-42"
    assert spans[0]["name"] == "cli.metrics"

    state = str(tmp_path / "rl.json")
    # exhaust the minute window out-of-band
    rl = RateLimiter(state)
    for _ in range(100):
        rl.check("metrics.dump")
    rc = main(["--rate-limit-state", state, "metrics", "dump"], spark=spark)
    assert rc == 429 % 256
    assert "rate_limit_exceeded" in capsys.readouterr().err


def test_cli_table_history_and_time_travel_read(spark, tmp_path, capsys):
    """`table history` lists retained versions; `table read --version`
    returns the pre-update snapshot; a pruned version exits non-zero
    with a clear error."""
    wh = str(tmp_path / "wh")
    ingest = CdcIngest(
        spark, wh,
        table_schemas={"users": T.StructType.fromDDL(USERS_DDL)},
        key_cols={"users": ["id"]},
        num_buckets=2,
    )
    ingest.process_batch(spark.createDataFrame(
        [("33333333-3333-4333-8333-333333333331", "users", "CREATE", 1000, None,
          {"id": U1, "username": "old", "age": "30"}, 1, None, False)],
        CHANGE_EVENT_DDL))
    ingest.process_batch(spark.createDataFrame(
        [("33333333-3333-4333-8333-333333333332", "users", "UPDATE", 2000,
          {"id": U1, "username": "old", "age": "30"},
          {"id": U1, "username": "new", "age": "31"}, 1, None, False)],
        CHANGE_EVENT_DDL))

    assert main(["table", "history", "--warehouse", wh,
                 "--table", "cdc_users"], spark=spark) == 0
    hist = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert len(hist) >= 2
    v_old = hist[-2]["version"]

    assert main(["table", "read", "--warehouse", wh, "--table", "cdc_users",
                 "--version", str(v_old)], spark=spark) == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert [r["username"] for r in rows] == ["old"]

    assert main(["table", "read", "--warehouse", wh, "--table", "cdc_users"],
                spark=spark) == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert [r["username"] for r in rows] == ["new"]

    assert main(["table", "read", "--warehouse", wh, "--table", "cdc_users",
                 "--version", "999"], spark=spark) == 1
    assert "version_not_retained" in capsys.readouterr().err

    # misspelled table: distinct table_not_found error, non-zero exit,
    # and NO empty directory silently created in the warehouse
    import os

    assert main(["table", "read", "--warehouse", wh,
                 "--table", "cdc_userz"], spark=spark) == 1
    assert "table_not_found" in capsys.readouterr().err
    assert not os.path.exists(os.path.join(wh, "cdc_userz"))
    assert main(["table", "history", "--warehouse", wh,
                 "--table", "cdc_userz"], spark=spark) == 1
    assert "table_not_found" in capsys.readouterr().err
    assert not os.path.exists(os.path.join(wh, "cdc_userz"))


def test_cli_table_changes_feed(spark, tmp_path, capsys):
    """`table changes --since` emits the merge-commit rows with their
    _change_version through the full ingest path; --since current is
    empty; a pruned range errors distinctly."""
    wh = str(tmp_path / "wh")
    ingest = CdcIngest(
        spark, wh,
        table_schemas={"users": T.StructType.fromDDL(USERS_DDL)},
        key_cols={"users": ["id"]},
        num_buckets=2,
    )
    ingest.process_batch(spark.createDataFrame(
        [("33333333-3333-4333-8333-333333333341", "users", "CREATE", 1000, None,
          {"id": U1, "username": "old", "age": "30"}, 1, None, False)],
        CHANGE_EVENT_DDL))
    ingest.process_batch(spark.createDataFrame(
        [("33333333-3333-4333-8333-333333333342", "users", "UPDATE", 2000,
          {"id": U1, "username": "old", "age": "30"},
          {"id": U1, "username": "new", "age": "31"}, 1, None, False)],
        CHANGE_EVENT_DDL))

    assert main(["table", "changes", "--warehouse", wh, "--table", "cdc_users",
                 "--since", "0"], spark=spark) == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert sorted(r["username"] for r in rows) == ["new", "old"]
    assert len({r["_change_version"] for r in rows}) == 2

    cur = max(r["_change_version"] for r in rows)
    assert main(["table", "changes", "--warehouse", wh, "--table", "cdc_users",
                 "--since", str(cur)], spark=spark) == 0
    assert capsys.readouterr().out.strip() == ""

    assert main(["table", "changes", "--warehouse", wh,
                 "--table", "nope", "--since", "0"], spark=spark) == 1
    assert "table_not_found" in capsys.readouterr().err


def test_cli_table_read_version_zero_prints_no_rows(spark, tmp_path, capsys):
    """Version 0 is the table before its first commit: `table read
    --version 0` prints no rows and exits 0 (it raised AttributeError,
    since ``read(version=0)`` is None)."""
    wh = str(tmp_path / "wh")
    _seed_warehouse(spark, wh)
    assert main(["table", "read", "--warehouse", wh, "--table", "cdc_users",
                 "--version", "0"], spark=spark) == 0
    out = capsys.readouterr()
    assert out.out == "" and out.err == ""


def test_cli_table_changes_names_a_bad_range_argument(spark, tmp_path, capsys):
    """A change range that is not ``0 <= since <= to <= head`` prints
    one JSON error line naming the bad argument and exits 1, the check
    the HTTP route makes (``api.change_range``).  ``--since -1`` used to
    report a misleading ``rewrite_in_range``, and a ``--to`` past the
    head ``version_not_retained``."""
    wh = str(tmp_path / "wh")
    _seed_warehouse(spark, wh)  # one commit: the head is version 1
    for args, name in ((["--since", "-1"], "since"),
                       (["--since", "2"], "since"),
                       (["--since", "0", "--to", "99"], "to")):
        assert main(["table", "changes", "--warehouse", wh, "--table", "cdc_users",
                     *args], spark=spark) == 1
        out = capsys.readouterr()
        lines = out.err.splitlines()
        assert out.out == "" and len(lines) == 1, (args, out)
        err = json.loads(lines[0])
        assert err["status"] == 422 and repr(name) in err["detail"], (args, err)


def test_cli_table_compact(spark, tmp_path, capsys):
    """`table compact` folds deltas and reports bucket count; a second
    run is a no-op (0 buckets)."""
    wh = str(tmp_path / "wh")
    ingest = CdcIngest(
        spark, wh,
        table_schemas={"users": T.StructType.fromDDL(USERS_DDL)},
        key_cols={"users": ["id"]},
        num_buckets=2,
    )
    for i in (1, 2):
        ingest.process_batch(spark.createDataFrame(
            [(f"33333333-3333-4333-8333-33333333335{i}", "users", "CREATE",
              1000 * i, None, {"id": f"u{i}", "username": "x", "age": "1"},
              1, None, False)], CHANGE_EVENT_DDL))
    assert main(["table", "compact", "--warehouse", wh,
                 "--table", "cdc_users"], spark=spark) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["buckets_compacted"] >= 1
    assert main(["table", "compact", "--warehouse", wh,
                 "--table", "cdc_users"], spark=spark) == 0
    assert json.loads(capsys.readouterr().out)["buckets_compacted"] == 0


def test_cli_table_compact_refuses_legacy_manifest_without_keys(spark, tmp_path, capsys):
    """compact on a legacy manifest with no persisted key_cols must
    refuse (exit 1, no_key_cols) — compacting keyless would LWW-reduce
    each bucket to a single row."""
    wh = str(tmp_path / "wh")
    ingest = CdcIngest(
        spark, wh,
        table_schemas={"users": T.StructType.fromDDL(USERS_DDL)},
        key_cols={"users": ["id"]},
        num_buckets=2,
    )
    ingest.process_batch(spark.createDataFrame(
        [("33333333-3333-4333-8333-333333333361", "users", "CREATE",
          1000, None, {"id": "u1", "username": "x", "age": "1"},
          1, None, False)], CHANGE_EVENT_DDL))
    mpath = f"{wh}/cdc_users/_manifest.json"
    with open(mpath) as f:
        m = json.load(f)
    m.pop("key_cols", None)
    with open(mpath, "w") as f:
        json.dump(m, f)

    assert main(["table", "compact", "--warehouse", wh,
                 "--table", "cdc_users"], spark=spark) == 1
    assert "no_key_cols" in capsys.readouterr().err


def test_cli_table_sync_follows_and_resyncs(spark, tmp_path, capsys):
    """`table sync`: incremental follow of a source table's feed into a
    derived table; a GDPR-style rewrite on the source resyncs
    automatically on the next invocation."""
    wh = str(tmp_path / "wh")
    ingest = CdcIngest(
        spark, wh,
        table_schemas={"users": T.StructType.fromDDL(USERS_DDL)},
        key_cols={"users": ["id"]},
        num_buckets=2,
    )
    mk = lambda i, uid: (  # noqa: E731
        f"33333333-3333-4333-8333-3333333333{i:02d}", "users", "CREATE",
        1000 + i, None, {"id": uid, "username": f"u{i}", "age": "1"},
        1, None, False)
    ingest.process_batch(spark.createDataFrame(
        [mk(71, "a1"), mk(72, "a2")], CHANGE_EVENT_DDL))

    assert main(["table", "sync", "--warehouse", wh, "--table", "cdc_users",
                 "--target", "derived_users"], spark=spark) == 0
    st = json.loads(capsys.readouterr().out)
    assert st["resynced"] is False

    from cass_cdc_pg_spark.plans.keyed_table import KeyedTable
    derived = KeyedTable(spark, f"{wh}/derived_users", ["id"])
    assert derived.read_live().count() == 2

    # rewrite on the source (hard delete) + another merge
    src = KeyedTable(spark, f"{wh}/cdc_users", ["id"])
    from pyspark.sql import functions as F
    assert src.delete_where(F.col("id") == "a1") == 1
    ingest.process_batch(spark.createDataFrame(
        [mk(73, "a3")], CHANGE_EVENT_DDL))

    assert main(["table", "sync", "--warehouse", wh, "--table", "cdc_users",
                 "--target", "derived_users"], spark=spark) == 0
    st = json.loads(capsys.readouterr().out)
    assert st["resynced"] is True
    live = {r["id"] for r in derived.read_live().collect()}
    assert live == {"a2", "a3"}


def test_bench_compact_headline_bounded():
    """The driver parses only the FINAL stdout line and keeps exactly
    2000 chars of tail; bench.py's compact headline must stay under
    that even as the query registry grows (the full map broke this in
    r6, nulling the machine-readable BENCH record for two rounds), and
    it must carry the driver-contract "queries" map — headline
    best-of-3 plus the pinned pipeline walls (r16 verdict #1: without
    it the driver's per-query/scaling comparisons are empty)."""
    import json
    import sys
    sys.path.insert(0, ".")
    from bench import COMPACT_PIPELINE, HEADLINE, compact_headline

    full = {
        "metric": "headline_queries_total_wall",
        "value": 1.0,
        "unit": "sec",
        "queries": {q: 0.123 for q in HEADLINE},
        "queries_best3": {q: 0.123 for q in HEADLINE},
        "queries_floor_adj": {q: 0.105 for q in HEADLINE},
        "headline_floor_sec": 0.018,
        # simulate a 500-entry pipeline map (plus the real pinned
        # names): the unpinned bulk must NOT leak into the line
        "pipeline_queries": {
            **{f"query_name_{i}": i / 7.0 for i in range(500)},
            **{n: 1.234 for n in COMPACT_PIPELINE},
        },
        "pipeline_total": 99.9,
        "sf": 0.1,
        "warm": True,
        "ingest_events_per_sec": 36342.5,
        "ingest_events_per_sec_256_buckets": 24675.2,
        "microbatch_p50_sec": 1.4,
        "microbatch_p95_sec": 2.9,
        "kill_restart_crash_injected": True,
        "kill_restart_rows_expected": 40000,
        "kill_restart_rows_lost": 0,
        "kill_restart_rows_duplicated": 0,
        "http_requests_per_sec": 194.0,
        "http_p95_ms": 17.5,
        "http_errors": 0,
        "contract_floor_sec": 0.0182,
        "contract_q1_spark_sec": 0.0147,
        "contract_q1_duck_sec": 0.0202,
        "contract_q1_raw_ratio": 0.73,
        "contract_q1_adj_ratio": 0.0,
        "contract_q3_spark_sec": 0.1674,
        "contract_q3_duck_sec": 0.3118,
        "contract_q3_raw_ratio": 0.54,
        "contract_q3_adj_ratio": 0.48,
    }
    line = compact_headline(full)
    assert len(line) < 2000
    parsed = json.loads(line)
    assert parsed["contract_q1_raw_ratio"] == 0.73
    assert "pipeline_queries" not in parsed
    assert "query_name_7" not in parsed["queries"]  # unpinned bulk
    # the driver-contract map: every headline entry at its best-of-3
    # value, plus the pinned pipeline walls (possibly end-trimmed)
    for q in HEADLINE:
        assert parsed["queries"][q] == 0.123
    kept_pins = [n for n in COMPACT_PIPELINE if n in parsed["queries"]]
    assert kept_pins, "no pinned pipeline entry survived the budget"
    # trimming is END-only: the kept set is a prefix of the pin list
    assert kept_pins == COMPACT_PIPELINE[: len(kept_pins)]
    assert all(parsed["queries"][n] == 1.23 for n in kept_pins)
    assert parsed["headline_floor_sec"] == 0.018

    # pathological: absurdly long query names still stay bounded
    full["queries_best3"] = {"q" * 300 + str(i): 0.1 for i in range(10)}
    full["queries_floor_adj"] = {"q" * 300 + str(i): 0.1 for i in range(10)}
    assert len(compact_headline(full)) < 2000


def test_plan_lint_rules():
    """Unit-test the plan-lint rules on synthetic plan strings (the
    full tool builds every query; the rules themselves are pure)."""
    import sys
    sys.path.insert(0, ".")
    from tools.plan_lint import lint_plan

    assert lint_plan("q", "*(1) CartesianProduct\n+- Scan") != []
    assert lint_plan("q", "+- BatchEvalPython [f(x)]") != []
    assert lint_plan("q", "+- ArrowEvalPython [f(x)]") == []
    bnlj = "+- BroadcastNestedLoopJoin BuildRight, Inner"
    assert lint_plan("q", bnlj) != []
    assert lint_plan("customer_value_deciles", bnlj) == []  # allowlisted
    gw = ("+- Window [sum(x) windowspecdefinition(...)]\n"
          "   +- Sort [x ASC]\n"
          "      +- Exchange SinglePartition, ENSURE_REQUIREMENTS")
    assert lint_plan("q", gw) != []
    assert lint_plan("docs_quality_tiers", gw) == []  # histogram cumsum
    # scalar aggregate over partials: SinglePartition WITHOUT a Window
    ok = ("+- HashAggregate(keys=[], functions=[sum(x)])\n"
          "   +- Exchange SinglePartition, ENSURE_REQUIREMENTS\n"
          "      +- HashAggregate(keys=[], functions=[partial_sum(x)])")
    assert lint_plan("q", ok) == []
