"""Audit log (S12), GDPR cascade (Q18), conflict metadata (T16),
tumbling windows (§2.5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cass_cdc_pg_spark.ops import AuditLog, GdprService
from cass_cdc_pg_spark.plans.keyed_table import KeyedTable

KT_DDL = (
    "id string, email string, _cdc_deleted boolean, "
    "_cdc_timestamp_micros long, _last_event_id string, "
    "_ttl_expiry_timestamp_us long"
)


def _kt(spark, path, rows):
    t = KeyedTable(spark, path, ["id"], num_buckets=2)
    t.merge(spark.createDataFrame(rows, KT_DDL))
    return t


def test_gdpr_cascade_deletes_both_and_audits(spark, tmp_path):
    src = _kt(spark, str(tmp_path / "src"),
              [("a", "x@y.com", False, 1000, "e1", None),
               ("b", "b@y.com", False, 1000, "e2", None)])
    tgt = _kt(spark, str(tmp_path / "tgt"),
              [("a", "x@y.com", False, 1000, "e1", None),
               ("b", "b@y.com", False, 1000, "e2", None)])
    audit = AuditLog(spark, str(tmp_path / "audit"))
    svc = GdprService(spark, audit)

    result = svc.erase(src, tgt, F.col("id") == "a", "users", "a",
                       requester="dpo", reason="Article 17")
    assert result["status"] == "success"
    assert result["deleted_from_source"] and result["deleted_from_target"]
    assert {r["id"] for r in src.read().collect()} == {"b"}
    assert {r["id"] for r in tgt.read().collect()} == {"b"}
    logs = audit.read().collect()
    assert len(logs) == 1
    assert logs[0]["event_type"] == "GDPR_ERASURE"
    assert logs[0]["requester"] == "dpo"
    assert '"deleted_from_source": true' in logs[0]["details"]


def test_gdpr_compensating_reinsert_on_target_failure(spark, tmp_path):
    """Target delete fails → source rows are restored (compensating
    transaction) and the erasure reports failure."""
    src = _kt(spark, str(tmp_path / "src"),
              [("a", "x@y.com", False, 1000, "e1", None)])
    tgt = _kt(spark, str(tmp_path / "tgt"),
              [("a", "x@y.com", False, 1000, "e1", None)])
    audit = AuditLog(spark, str(tmp_path / "audit"))
    svc = GdprService(spark, audit)

    def boom(predicate):
        raise RuntimeError("target down")

    tgt.delete_where = boom
    result = svc.erase(src, tgt, F.col("id") == "a", "users", "a")
    assert result["status"] == "failed"
    assert result["deleted_from_source"] is False  # restored
    assert {r["id"] for r in src.read().collect()} == {"a"}  # back in place
    logs = audit.read().collect()
    assert '"deleted_from_source": false' in logs[0]["details"]


def test_gdpr_missing_record_raises(spark, tmp_path):
    src = _kt(spark, str(tmp_path / "src"),
              [("a", "x@y.com", False, 1000, "e1", None)])
    audit = AuditLog(spark, str(tmp_path / "audit"))
    with pytest.raises(KeyError):
        GdprService(spark, audit).erase(
            src, src, F.col("id") == "zz", "users", "zz")


def test_audit_retention_purge(spark, tmp_path):
    audit = AuditLog(spark, str(tmp_path / "audit"))
    audit.append("GDPR_ERASURE", "users", "a", "DELETE")
    # a backdated entry, merged through the audit's own table
    old_us = 1_000_000  # 1970 — definitely past retention
    audit.table.upsert(spark.createDataFrame(
        [("old-id", "GDPR_ERASURE", old_us, "x", "users", "b", "DELETE", "", "{}")],
        "audit_id string, event_type string, event_timestamp_us long, "
        "requester string, table_name string, record_identifier string, "
        "action string, reason string, details string",
    ))
    assert audit.read().count() == 2
    removed = audit.purge_old(retention_days=365)
    assert removed == 1
    assert audit.read().collect()[0]["record_identifier"] == "a"


def test_audit_purge_swaps_atomically(spark, tmp_path):
    """The retention sweep never leaves the audit log unreadable: it is
    one atomic commit of the audit's keyed table, and the version
    before it stays readable (time travel).  now_us=0 is a valid
    explicit epoch, not 'unset'."""
    audit = AuditLog(spark, str(tmp_path / "audit"))
    audit.append("GDPR_ERASURE", "users", "a", "DELETE")
    v_before = audit.table.history()[-1]["version"]

    # now_us=0 → cutoff in the past → nothing removed, nothing committed
    # (regression: `now_us or time()` treated 0 as unset and purged
    # everything)
    assert audit.purge_old(retention_days=365, now_us=0) == 0
    assert audit.read().count() == 1
    assert audit.table.history()[-1]["version"] == v_before

    # a real purge is exactly one new commit and stays readable
    future_us = 10**18
    removed = audit.purge_old(retention_days=365, now_us=future_us)
    assert removed == 1
    assert audit.table.history()[-1]["version"] == v_before + 1
    assert audit.table.read(version=v_before).count() == 1  # old version retained
    assert audit.read().count() == 0  # readable, empty survivor set


def test_conflict_metadata_enrichment(spark):
    """T16: merge-outcome observability struct."""
    from cass_cdc_pg_spark.operators.lww import conflict_metadata

    current = spark.createDataFrame(
        [("a", False, 2000, "e2", None)], KT_DDL.replace("email string, ", ""))
    batch = spark.createDataFrame(
        [("a", False, 3000, "e3", None),   # newer → accepted
         ("a", False, 1000, "e1", None),   # stale → rejected
         ("b", False, 1000, "e1", None)],  # new key
        KT_DDL.replace("email string, ", ""))
    out = {(r["id"], r["_cdc_timestamp_micros"]): r["_conflict_resolution"].asDict()
           for r in conflict_metadata(current, batch, ["id"]).collect()}
    assert out[("a", 3000)] == {"had_conflict": True, "accepted": True,
                                "timestamp_diff_us": 1000}
    assert out[("a", 1000)] == {"had_conflict": True, "accepted": False,
                                "timestamp_diff_us": -1000}
    assert out[("b", 1000)] == {"had_conflict": False, "accepted": True,
                                "timestamp_diff_us": None}


def test_throughput_window_batch(spark):
    from cass_cdc_pg_spark.operators.windows import throughput_by_window

    ev = spark.createDataFrame(
        [(1, 0, 10), (2, 30_000_000, 10), (3, 61_000_000, 20)],
        "event_id long, ts_us long, user_id long",
    )
    got = {r["window_start_us"]: (r["n_events"], r["n_users"])
           for r in throughput_by_window(ev).collect()}
    assert got[0] == (2, 1)
    assert got[60_000_000] == (1, 1)


def test_throughput_window_streaming(spark, tmp_path):
    """The same aggregate runs as a streaming query with a watermark."""
    import json
    import os

    from cass_cdc_pg_spark.operators.windows import throughput_by_window

    src = str(tmp_path / "in")
    os.makedirs(src)
    with open(f"{src}/a.jsonl", "w") as f:
        for i in range(5):
            f.write(json.dumps({"event_id": i, "ts_us": i * 20_000_000,
                                "user_id": i % 2}) + "\n")
    stream = spark.readStream.schema("event_id long, ts_us long, user_id long").json(src)
    agg = throughput_by_window(stream, watermark="5 minutes")
    q = (agg.writeStream.format("memory").queryName("tput")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "cp"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["window_start_us"]: r["n_events"]
           for r in spark.sql("SELECT * FROM tput").collect()}
    assert got[0] == 3 and got[60_000_000] == 2


def test_sessionize_gaps_and_islands(spark):
    """30-min-gap sessionization: events 10 min apart chain into one
    session; a 31-min gap opens a new one; groupBy reuses the window's
    hash partitioning (single Exchange in the plan)."""
    from cass_cdc_pg_spark.operators.windows import sessionize

    m = 60 * 1_000_000
    rows = [
        (1, 0), (1, 10 * m), (1, 20 * m),      # one session
        (1, 51 * m),                            # 31-min gap -> new session
        (2, 0), (2, 29 * m),                    # 29-min gap -> same session
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts_us long")
    out = {(r["user_id"], r["session_start_us"]): (r["session_end_us"], r["n_events"])
           for r in sessionize(ev).collect()}
    assert out[(1, 0)] == (20 * m, 3)
    assert out[(1, 51 * m)] == (51 * m, 1)
    assert out[(2, 0)] == (29 * m, 2)

    plan = sessionize(ev)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 2  # shuffle on user_id + AQE read, no re-shuffle for the agg


def test_throughput_hopping_windows(spark):
    """5-min/1-min hopping: an event lands in exactly the 5 aligned
    windows covering it; counts overlap across hops."""
    from cass_cdc_pg_spark.operators.windows import throughput_by_window

    m = 60_000_000
    df = spark.createDataFrame(
        [(1, 0 * m, 10), (2, 2 * m + 1, 10), (3, 2 * m + 1, 11)],
        "event_id long, ts_us long, user_id long",
    )
    out = throughput_by_window(
        df, window_duration="5 minutes", slide_duration="1 minute"
    )
    got = {r["window_start_us"]: (r["n_events"], r["n_users"])
           for r in out.collect()}
    # event at t=0 covers starts -4..0 min; events at 2min cover -2..2
    assert got[0 * m] == (3, 2) and got[-4 * m] == (1, 1)
    assert got[-2 * m] == (3, 2) and got[2 * m] == (2, 2)
    assert got[1 * m] == (2, 2)  # only the 2-min events
    assert len(got) == 7  # starts -4..2 min


def test_asof_join_semantics(spark):
    """Latest right row with ts <= left ts per key; equality inclusive;
    rows before any right row get NULL; keys are independent."""
    from cass_cdc_pg_spark.operators.windows import asof_join

    left = spark.createDataFrame(
        [(1, 10, 5), (2, 10, 15), (3, 10, 20), (4, 20, 15), (5, 10, 4)],
        "event_id long, user_id long, ts_us long",
    )
    right = spark.createDataFrame(
        [(10, 5, "a"), (10, 15, "b"), (20, 16, "c")],
        "user_id long, state_ts long, state string",
    )
    out = asof_join(left, right, "user_id", "ts_us", "state_ts",
                    ["state_ts", "state"])
    got = {r["event_id"]: (r["state_ts"], r["state"]) for r in out.collect()}
    assert got[1] == (5, "a")       # equality inclusive
    assert got[2] == (15, "b")      # equality at the newer state
    assert got[3] == (15, "b")      # latest <= 20
    assert got[4] == (None, None)   # user 20 has no state until 16
    assert got[5] == (None, None)   # before any state
    assert out.count() == 5         # left rows preserved exactly

    import pytest

    with pytest.raises(ValueError):
        asof_join(left, right, "user_id", "ts_us", "state_ts", ["ts_us"])


def test_interval_join_overlaps_and_bounds(spark):
    """Overlapping intervals both match; bounds inclusive; key scopes
    matches; intervals longer than the bucket still match exactly once."""
    from cass_cdc_pg_spark.operators.windows import interval_join

    points = spark.createDataFrame(
        [(1, 10, 100), (2, 10, 250), (3, 20, 100), (4, 10, 1000)],
        "event_id long, user_id long, ts_us long",
    )
    ivals = spark.createDataFrame(
        [(10, 100, 300, "a"),     # contains e1 (at start), e2
         (10, 200, 260, "b"),     # overlaps: also contains e2
         (10, 900, 2000, "c"),    # long interval spanning many buckets
         (20, 0, 50, "d")],       # other key, does not contain e3
        "user_id long, start_us long, end_us long, tag string",
    )
    out = interval_join(points, ivals, "ts_us", "start_us", "end_us",
                        bucket_us=100, key_col="user_id")
    got = sorted((r["event_id"], r["tag"]) for r in out.collect())
    assert got == [(1, "a"), (2, "a"), (2, "b"), (4, "c")]
