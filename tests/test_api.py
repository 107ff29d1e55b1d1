"""End-to-end tests for the HTTP listener (``cass_cdc_pg_spark/api.py``)
— real sockets, real requests, the reference's route surface
(``src/api/main.py:79-83``, ``src/api/routes/*``)."""

from __future__ import annotations

import contextlib
import json
import shutil
import urllib.error
import urllib.request
import uuid

import pytest
from pyspark.sql import types as T

from cass_cdc_pg_spark.api import CdcApiServer, CdcApiService
from cass_cdc_pg_spark.streaming.ingest import CdcIngest

USERS_DDL = "id string, username string, age int"
U1 = "11111111-1111-1111-1111-111111111111"

CHANGE_EVENT_DDL = (
    "event_id string, source_table string, operation_type string, "
    "timestamp_micros long, before map<string,string>, after map<string,string>, "
    "schema_version int, ttl_seconds int, is_tombstone boolean"
)

USERS_CFG = {"tables": {"users": {"ddl": USERS_DDL, "keys": ["id"]}}}


def _seed_warehouse(spark, wh: str) -> CdcIngest:
    """One good user row and one invalid event (routed to the DLQ);
    returns the ingest that wrote them."""
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
                ("22222222-2222-4222-8222-222222222222", "users", "CREATE", 1000,
                 None, {"id": U1, "username": "a", "age": "30"}, 1, None, False),
                (None, "users", "CREATE", None, None,
                 {"id": "x"}, 1, None, False),  # invalid → DLQ
            ],
            CHANGE_EVENT_DDL,
        )
    )
    return ingest


def _jobs_of(spark, fn):
    """``(fn(), number of Spark jobs it ran)``."""
    sc = spark.sparkContext
    group = f"jobs-of-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _merge_users(spark, wh: str, *rows):
    """Merge ``(id, username, ts)`` rows into *wh*'s users CDC table."""
    from cass_cdc_pg_spark.plans.keyed_table import KeyedTable
    from cass_cdc_pg_spark.streaming.ingest import cdc_table_path

    ddl = (USERS_DDL + ", _cdc_deleted boolean, _cdc_timestamp_micros long, "
           "_last_event_id string, _ttl_expiry_timestamp_us long")
    t = KeyedTable(spark, cdc_table_path(wh, "users"), ["id"], num_buckets=2)
    t.merge(spark.createDataFrame(
        [(k, name, 30, False, ts, f"e{ts}", None) for k, name, ts in rows], ddl))
    return t


@contextlib.contextmanager
def _server(spark, wh=None, source_wh=None, cfg=None, rate_limit_state=None):
    svc = CdcApiService(spark, warehouse=wh, source_warehouse=source_wh,
                        table_config=cfg)
    srv = CdcApiServer(svc, rate_limit_state=rate_limit_state)
    host, port = srv.start()
    try:
        yield f"http://{host}:{port}"
    finally:
        srv.stop()


def _req(base: str, method: str, path: str, body=None, headers=None):
    """Returns (status, headers, parsed-body)."""
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(base + path, data=data, method=method,
                                 headers=headers or {})
    if data is not None:
        req.add_header("Content-Type", "application/json")
    try:
        with urllib.request.urlopen(req, timeout=120) as resp:
            raw, hdrs, status = resp.read(), resp.headers, resp.status
    except urllib.error.HTTPError as e:
        raw, hdrs, status = e.read(), e.headers, e.code
    ctype = hdrs.get("Content-Type", "")
    parsed = json.loads(raw) if "json" in ctype else raw.decode()
    return status, hdrs, parsed


def test_api_health_metrics_request_id_and_routing(spark, tmp_path):
    wh = str(tmp_path / "wh")
    _seed_warehouse(spark, wh)
    # the warehouse is its own source: its users table has a commit doc
    with _server(spark, wh=wh, source_wh=wh, cfg=USERS_CFG) as base:
        st, hdrs, out = _req(base, "GET", "/health",
                             headers={"X-Request-ID": "req-7"})
        assert st == 200
        assert hdrs["X-Request-ID"] == "req-7"  # header echo (middleware)
        assert out["components"]["source"]["status"] == "healthy"
        assert out["components"]["source"]["details"]["tables"] == 1
        assert out["components"]["target"]["status"] == "healthy"

        st, _, comp = _req(base, "GET", "/health/source")
        assert st == 200 and comp["service"] == "source"
        st, _, err = _req(base, "GET", "/health/nope")
        assert st == 404 and "unknown component" in err["detail"]

        st, hdrs, text = _req(base, "GET", "/metrics")
        assert st == 200 and "cdc_events_processed_total" in text
        assert hdrs["X-Request-ID"]  # generated when absent

        # routing contract: unknown path → 404, wrong method → 405
        st, _, _ = _req(base, "GET", "/nope")
        assert st == 404
        st, _, _ = _req(base, "POST", "/health")
        assert st == 405


def test_api_dlq_surface(spark, tmp_path):
    wh = str(tmp_path / "wh")
    _seed_warehouse(spark, wh)
    with _server(spark, wh=wh, cfg=USERS_CFG) as base:
        st, _, recs = _req(base, "GET", "/dlq/records")
        assert st == 200 and len(recs) == 1
        assert recs[0]["resolution_status"] == "PENDING"
        dlq_id = recs[0]["dlq_id"]

        st, _, none = _req(base, "GET", "/dlq/records?status=IGNORED")
        assert st == 200 and none == []

        st, _, stats = _req(base, "GET", "/dlq/stats")
        assert st == 200 and stats["total"] == 1
        assert stats["resolution_status"] == {"PENDING": 1}

        st, _, err = _req(base, "POST", "/dlq/replay", body={"event_ids": []})
        assert st == 422
        st, _, out = _req(base, "POST", "/dlq/replay",
                          body={"event_ids": [dlq_id]})
        assert st == 200 and out["replayed"] == 1


def test_api_reconciliation_flow(spark, recon_pair):
    """The trigger reconciles a CDC table against the same table in the
    source warehouse: a reference-shaped job, 404/503/422 errors, and
    durable mismatch records that list and resolve."""
    wh, src_wh, cfg = recon_pair
    with _server(spark, wh=wh, source_wh=src_wh, cfg=cfg) as base:
        st, _, job = _req(base, "POST", "/reconciliation/trigger",
                          body={"table": "users"})
        assert st == 200 and job["status"] == "COMPLETED"
        assert {k: job[k] for k in (
            "table_name", "job_type", "validation_strategy", "source_count",
            "target_count", "mismatch_count", "drift_percentage", "alert_fired",
        )} == {"table_name": "users", "job_type": "MANUAL_ONDEMAND",
               "validation_strategy": "ROW_COUNT", "source_count": 20,
               "target_count": 19, "mismatch_count": 1,
               "drift_percentage": 5.0, "alert_fired": True}
        assert job["started_at"] <= job["completed_at"]

        st, _, jobs = _req(base, "GET", "/reconciliation/jobs")
        assert st == 200 and [j["job_id"] for j in jobs] == [job["job_id"]]
        st, _, got = _req(base, "GET",
                          f"/reconciliation/jobs/{job['job_id']}")
        assert st == 200 and got == job
        st, _, _ = _req(base, "GET", "/reconciliation/jobs/deadbeef")
        assert st == 404

        for body, status, detail in (
            ({"table": "users", "strategy": "full_scan"}, 422, "unknown strategy"),
            ({"table": "ghost"}, 404, "unknown table"),
        ):
            st, _, bad = _req(base, "POST", "/reconciliation/trigger", body=body)
            assert st == status and detail in bad["detail"], bad

        # a checksum job persists one mismatch record per divergent key
        st, _, cj = _req(base, "POST", "/reconciliation/trigger",
                         body={"table": "users", "strategy": "checksum"})
        assert st == 200 and cj["validation_strategy"] == "CHECKSUM"
        assert cj["mismatch_count"] == 2
        st, _, mms = _req(base, "GET", "/reconciliation/mismatches")
        assert st == 200 and len(mms) == 2
        assert {m["job_id"] for m in mms} == {cj["job_id"]}
        details = {json.loads(m["detail"])["id"]: json.loads(m["detail"])
                   for m in mms}
        assert details["u19"]["mismatch_type"] == "MISSING_IN_TARGET"
        assert details["u03"]["mismatch_type"] == "DATA_MISMATCH"
        assert details["u03"]["fields"] == [
            {"column": "age", "src_val": "23", "tgt_val": "24"}]
        st, _, page = _req(base, "GET", "/reconciliation/mismatches?limit=1")
        assert st == 200 and page == mms[:1]

        # re-detecting the same mismatches upserts, not duplicates
        st, _, _ = _req(base, "POST", "/reconciliation/trigger",
                        body={"table": "users", "strategy": "checksum"})
        st, _, again = _req(base, "GET", "/reconciliation/mismatches")
        assert st == 200 and len(again) == 2

        mid = mms[0]["mismatch_id"]
        st, _, res = _req(base, "POST",
                          f"/reconciliation/mismatches/{mid}/resolve",
                          body={"status": "IGNORED", "notes": "test"})
        assert st == 200 and res["resolution_status"] == "IGNORED"
        st, _, ign = _req(base, "GET",
                          "/reconciliation/mismatches?status=IGNORED")
        assert st == 200 and [m["mismatch_id"] for m in ign] == [mid]
        assert ign[0]["resolution_notes"] == "test"

        st, _, _ = _req(base, "POST",
                        "/reconciliation/mismatches/none/resolve", body={})
        assert st == 404

    with _server(spark, wh=wh, cfg=cfg) as base:  # no source_warehouse
        st, _, err = _req(base, "POST", "/reconciliation/trigger",
                          body={"table": "users"})
        assert st == 503 and "source_warehouse" in err["detail"]


def test_api_gdpr_delete(spark, tmp_path):
    wh = str(tmp_path / "wh")
    _seed_warehouse(spark, wh)
    cfg = {"tables": {"users": {"ddl": USERS_DDL, "keys": ["id"]}}}
    with _server(spark, wh=wh, cfg=cfg) as base:
        st, _, out = _req(base, "DELETE", f"/records/cdc/users/{U1}")
        assert st == 200 and out["status"] == "success"
        assert out["deleted_from_source"] is True

        st, _, _ = _req(base, "DELETE", f"/records/cdc/users/{U1}")
        assert st == 404  # already erased
        st, _, _ = _req(base, "DELETE", f"/records/cdc/unknown/{U1}")
        assert st == 404  # unregistered table
        st, _, err = _req(base, "DELETE", "/records/cdc/users/%24%7Bbad%7D")
        assert st == 422 and "invalid primary_key" in err["detail"]


def test_api_rate_limit(spark, tmp_path):
    from cass_cdc_pg_spark.middleware import RateLimiter

    state = str(tmp_path / "rl.json")
    rl = RateLimiter(state)
    for _ in range(100):  # exhaust the minute window out-of-band
        rl.check("GET metrics")
    with _server(spark, rate_limit_state=state) as base:
        st, hdrs, err = _req(base, "GET", "/metrics")
        assert st == 429
        assert int(hdrs["Retry-After"]) > 0
        assert "detail" in err
        # a different route still has quota
        st, _, _ = _req(base, "GET", "/health")
        assert st == 200


def test_api_table_history_and_changes(spark, tmp_path):
    """GET /tables/{t}/history lists retained versions; /changes
    streams the feed rows with _change_version; 422 without since,
    404 for unknown/empty tables, 410 past retention."""
    wh = str(tmp_path / "wh")
    ingest = CdcIngest(
        spark, wh,
        table_schemas={"users": T.StructType.fromDDL(USERS_DDL)},
        key_cols={"users": ["id"]},
        num_buckets=2,
    )
    mk = lambda eid, op, ts, before, after: (  # noqa: E731
        eid, "users", op, ts, before, after, 1, None, False)
    ingest.process_batch(spark.createDataFrame(
        [mk("44444444-4444-4444-8444-444444444441", "CREATE", 1000, None,
            {"id": U1, "username": "a", "age": "30"})], CHANGE_EVENT_DDL))
    ingest.process_batch(spark.createDataFrame(
        [mk("44444444-4444-4444-8444-444444444442", "UPDATE", 2000,
            {"id": U1, "username": "a", "age": "30"},
            {"id": U1, "username": "b", "age": "31"})], CHANGE_EVENT_DDL))

    cfg = {"tables": {"users": {"ddl": USERS_DDL, "keys": ["id"]}}}
    with _server(spark, wh=wh, cfg=cfg) as base:
        st, _, hist = _req(base, "GET", "/tables/users/history")
        assert st == 200 and len(hist) >= 2
        assert all("version" in h for h in hist)

        st, _, rows = _req(base, "GET", "/tables/users/changes?since=0")
        assert st == 200
        assert sorted(r["username"] for r in rows) == ["a", "b"]
        assert len({r["_change_version"] for r in rows}) == 2

        last = max(r["_change_version"] for r in rows)
        st, _, rows = _req(base, "GET", f"/tables/users/changes?since={last}")
        assert st == 200 and rows == []

        st, _, err = _req(base, "GET", "/tables/users/changes")
        assert st == 422 and "since" in err["detail"]
        # malformed to/limit are 422 validation errors, not 500s
        st, _, _ = _req(base, "GET", "/tables/users/changes?since=0&to=zzz")
        assert st == 422
        st, _, _ = _req(base, "GET", "/tables/users/changes?since=0&limit=x")
        assert st == 422
        st, _, _ = _req(base, "GET", "/tables/ghost/changes?since=0")
        assert st == 404
        st, _, _ = _req(base, "GET", "/tables/ghost/history")
        assert st == 404


@pytest.mark.parametrize("route,path,param", [
    ("dlq_records", "/dlq/records?limit=abc", "limit"),
    ("dlq_records", "/dlq/records?limit=-1", "limit"),
    ("dlq_records", "/dlq/records?offset=-1", "offset"),
    ("table_changes", "/tables/users/changes?since=-1", "since"),
    ("table_changes", "/tables/users/changes?since=0&to=99", "to"),
], ids=["limit-not-int", "limit-negative", "offset-negative", "since-negative",
        "to-past-head"])
def test_api_rejects_a_bad_paging_param(spark, tmp_path, route, path, param):
    """A malformed or out-of-range paging param answers 422 naming the
    param, before any table is read: no Spark job runs.  (A limit that
    is not an int, or a negative limit or offset, used to reach Spark
    and answer 500; since=-1 answered 409 and a ``to`` past the head
    410.)"""
    from urllib.parse import parse_qs, urlsplit

    from cass_cdc_pg_spark.api import ApiError

    wh = str(tmp_path / "wh")
    _seed_warehouse(spark, wh)  # one users row, one DLQ row
    with _server(spark, wh=wh, cfg=USERS_CFG) as base:
        st, _, err = _req(base, "GET", path)
    assert st == 422 and repr(param) in err["detail"], (st, err)

    svc = CdcApiService(spark, warehouse=wh, table_config=USERS_CFG)
    params = {k: v[0] for k, v in parse_qs(urlsplit(path).query).items()}
    args = ("users", params) if route == "table_changes" else (params,)

    def call():
        with pytest.raises(ApiError) as e:
            getattr(svc, route)(*args)
        return e.value.status

    assert _jobs_of(spark, call) == (422, 0)


def test_api_changes_conflict_after_rewrite(spark, tmp_path):
    """A GDPR erasure (rewrite commit) in the requested range returns
    409 with the resync message — the error contract of the CDF
    surface."""
    wh = str(tmp_path / "wh")
    ingest = CdcIngest(
        spark, wh,
        table_schemas={"users": T.StructType.fromDDL(USERS_DDL)},
        key_cols={"users": ["id"]},
        num_buckets=2,
    )
    ingest.process_batch(spark.createDataFrame(
        [("55555555-5555-4555-8555-555555555551", "users", "CREATE", 1000,
          None, {"id": U1, "username": "a", "age": "30"}, 1, None, False)],
        CHANGE_EVENT_DDL))
    cfg = {"tables": {"users": {"ddl": USERS_DDL, "keys": ["id"]}}}
    with _server(spark, wh=wh, cfg=cfg) as base:
        st, _, _ = _req(base, "DELETE", f"/records/cdc/users/{U1}")
        assert st == 200
        st, _, err = _req(base, "GET", "/tables/users/changes?since=0")
        assert st == 409 and "rewrite" in err["detail"]


def test_api_answers_per_committed_version(spark, tmp_path, monkeypatch):
    """A change-feed tail repeated at an unchanged version runs no Spark
    job; a merge between two calls makes the second recompute; a table
    re-created at the same path (same version number) is not served the
    old answer; the memo never holds more than ``MAX_MEMO`` answers."""
    from cass_cdc_pg_spark import api

    wh = str(tmp_path / "wh")
    _merge_users(spark, wh, ("a", "a1", 1))
    t = _merge_users(spark, wh, ("b", "b1", 2))
    svc = CdcApiService(spark, warehouse=wh, table_config=USERS_CFG)

    def tail():
        return svc.table_changes("users", {"since": str(t._current_version() - 1)})

    first, jobs = _jobs_of(spark, tail)
    assert jobs > 0 and [r["username"] for r in first] == ["b1"]
    first.append("edited by the caller")
    again, jobs = _jobs_of(spark, tail)
    assert jobs == 0 and [r["username"] for r in again] == ["b1"]

    _merge_users(spark, wh, ("c", "c1", 3))
    after, jobs = _jobs_of(spark, tail)
    assert jobs > 0 and [r["username"] for r in after] == ["c1"]
    version = t._current_version()

    shutil.rmtree(t.path)
    for row in (("x", "x1", 1), ("y", "y1", 2), ("z", "z1", 3)):
        _merge_users(spark, wh, row)
    assert t._current_version() == version
    assert [r["username"] for r in tail()] == ["z1"]

    monkeypatch.setattr(api, "MAX_MEMO", 2)
    for limit in (1, 2, 3):
        svc.table_changes("users", {"since": str(version - 1), "limit": str(limit)})
        assert len(svc._memo) <= 2
    assert len(svc._memo) == 2


def test_api_memo_under_concurrent_requests(monkeypatch):
    """Threads sharing one service's memo each get the answer of the
    commit they read, and the memo ends within its bound."""
    import sys
    import threading

    from cass_cdc_pg_spark import api

    monkeypatch.setattr(api, "MAX_MEMO", 8)
    svc = CdcApiService(None)

    class Table:  # a keyed table that only names its commit
        path = "t"

        def __init__(self, version):
            self.version = version

        def commit_id(self):
            return self.version, float(self.version)

    wrong = []

    def worker(seed):
        for i in range(300):
            v, p = (seed * 7 + i) % 20, i % 3
            got = svc._memoized(Table(v), "r", {"p": p}, lambda ver: [ver, p])
            if got != [v, p]:
                wrong.append((v, p, got))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(s,)) for s in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert wrong == [] and len(svc._memo) <= 8


def test_api_every_writer_commit_shows_in_the_next_read(spark, tmp_path, recon_pair):
    """Answers follow the commits of any writer, not only the API's own:
    an event the stream routes to the DLQ shows in the next DLQ read on
    the same service, and a resolve in the next mismatch listing."""
    wh = str(tmp_path / "wh")
    ingest = _seed_warehouse(spark, wh)
    svc = CdcApiService(spark, warehouse=wh, table_config=USERS_CFG)
    assert svc.dlq_stats()["total"] == 1 and len(svc.dlq_records({})) == 1
    _, jobs = _jobs_of(spark, svc.dlq_stats)
    assert jobs == 0  # unchanged DLQ: answered from the memo
    ingest.process_batch(spark.createDataFrame(
        [(None, "users", "CREATE", None, None, {"id": "y"}, 1, None, False)],
        CHANGE_EVENT_DDL))
    assert svc.dlq_stats()["total"] == 2
    assert len(svc.dlq_records({})) == 2

    recon_wh, src_wh, cfg = recon_pair
    svc = CdcApiService(spark, warehouse=recon_wh, source_warehouse=src_wh,
                        table_config=cfg)
    svc.reconciliation_trigger({"table": "users", "strategy": "checksum"})
    listed = svc.reconciliation_mismatches({})
    assert {m["resolution_status"] for m in listed} == {"PENDING"}
    mid = listed[0]["mismatch_id"]
    svc.reconciliation_resolve(mid, {"status": "IGNORED"})
    statuses = {m["mismatch_id"]: m["resolution_status"]
                for m in svc.reconciliation_mismatches({})}
    assert statuses[mid] == "IGNORED"


def test_api_gdpr_erasure_covers_the_source_warehouse(spark, recon_pair):
    """With a source warehouse, an API erasure removes the record from
    the source replica and from the target table, and audits it in the
    target warehouse."""
    from cass_cdc_pg_spark.ops import AuditLog
    from cass_cdc_pg_spark.plans.keyed_table import KeyedTable
    from cass_cdc_pg_spark.streaming.ingest import audit_log_path, cdc_table_path

    wh, src_wh, cfg = recon_pair
    svc = CdcApiService(spark, warehouse=wh, source_warehouse=src_wh, table_config=cfg)
    out = svc.gdpr_delete("cdc", "users", "u05")
    assert (out["status"], out["deleted_from_source"], out["deleted_from_target"]) == (
        "success", True, True)
    for w in (src_wh, wh):
        live = KeyedTable(spark, cdc_table_path(w, "users"), ["id"]).read_live()
        assert live.filter("id = 'u05'").count() == 0, w
    audit = AuditLog(spark, audit_log_path(wh)).read().collect()
    assert [a["record_identifier"] for a in audit] == ["u05"]


def test_api_async_reconciliation_trigger(spark, recon_pair):
    """The reference trigger contract (reconciliation.py:73-119):
    async returns status=RUNNING immediately; polling /jobs/{id}
    eventually shows COMPLETED with the same fields the sync path
    returns."""
    import time as _time

    wh, src_wh, cfg = recon_pair
    with _server(spark, wh=wh, source_wh=src_wh, cfg=cfg) as base:
        st, _, job = _req(base, "POST", "/reconciliation/trigger",
                          body={"table": "users", "async": True})
        assert st == 200 and job["status"] == "RUNNING"
        jid = job["job_id"]
        for _ in range(120):
            st, _, got = _req(base, "GET", f"/reconciliation/jobs/{jid}")
            assert st == 200
            if got["status"] != "RUNNING":
                break
            _time.sleep(0.5)
        assert got["status"] == "COMPLETED", got
        assert (got["source_count"], got["target_count"]) == (20, 19)
        assert set(got) == set(job)


def test_api_empty_dlq_is_200(spark, tmp_path):
    """A warehouse where no event was ever routed to the DLQ lists no
    records and reports zero totals — a 200, not an engine error."""
    wh = tmp_path / "wh"
    wh.mkdir()
    with _server(spark, wh=str(wh)) as base:
        st, _, recs = _req(base, "GET", "/dlq/records")
        assert st == 200 and recs == []
        st, _, stats = _req(base, "GET", "/dlq/stats")
        assert st == 200
        assert stats == {"error_type": {}, "resolution_status": {},
                         "source_table": {}, "total": 0}


def test_api_gdpr_delete_deletes_once(spark, tmp_path, monkeypatch):
    """Over the API the target is the source table itself, so the
    erasure runs one delete, not a second full-table pass."""
    from cass_cdc_pg_spark.plans.keyed_table import KeyedTable

    wh = str(tmp_path / "wh")
    _seed_warehouse(spark, wh)
    cfg = {"tables": {"users": {"ddl": USERS_DDL, "keys": ["id"]}}}
    calls = []
    orig = KeyedTable.delete_where
    monkeypatch.setattr(KeyedTable, "delete_where",
                        lambda t, pred: calls.append(t.path) or orig(t, pred))
    svc = CdcApiService(spark, warehouse=wh, table_config=cfg)
    out = svc.gdpr_delete("cdc", "users", U1)
    assert out["status"] == "success" and out["deleted_from_target"] is True
    assert calls == [f"{wh}/cdc_users"]
    assert KeyedTable(spark, f"{wh}/cdc_users", ["id"]).read_live().count() == 0


def test_api_job_registry_keeps_only_the_most_recent(spark, recon_pair, monkeypatch):
    """A long-running server keeps the ``MAX_JOBS`` most recent
    reconciliation jobs; older ones answer 404."""
    from cass_cdc_pg_spark import api

    monkeypatch.setattr(api, "MAX_JOBS", 2)
    wh, src_wh, cfg = recon_pair
    svc = CdcApiService(spark, warehouse=wh, source_warehouse=src_wh, table_config=cfg)
    ids = [svc.reconciliation_trigger({"table": "users"})["job_id"]
           for _ in range(3)]
    assert [j["job_id"] for j in svc.reconciliation_jobs()] == ids[1:]
    assert svc.reconciliation_job(ids[2])["status"] == "COMPLETED"
    with pytest.raises(api.ApiError) as e:
        svc.reconciliation_job(ids[0])
    assert e.value.status == 404
