"""ChangeFeedFollower: incremental apply + automatic snapshot resync
across rewrite commits (the consumer half of the CDF 409 contract)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cass_cdc_pg_spark.plans.keyed_table import KeyedTable
from cass_cdc_pg_spark.streaming.follower import ChangeFeedFollower

DDL = ("id string, val string, _cdc_deleted boolean, "
       "_cdc_timestamp_micros long, _last_event_id string, "
       "_ttl_expiry_timestamp_us long")


def _batch(spark, rows):
    return spark.createDataFrame(rows, DDL)


def _live(t):
    return {(r["id"], r["val"]) for r in t.read_live().collect()}


def test_follower_converges_across_gdpr_rewrite_no_manual_step(spark, tmp_path):
    """End-to-end: merges apply incrementally; a GDPR hard delete
    (rewrite commit) mid-stream triggers an AUTOMATIC snapshot resync
    on the next sync(); the erased key is gone from the target (a
    merge could never remove it) and later merges go back to the
    incremental path."""
    a = KeyedTable(spark, str(tmp_path / "a"), ["id"], num_buckets=2,
                   keep_versions=20)
    b = KeyedTable(spark, str(tmp_path / "b"), ["id"], num_buckets=4,
                   keep_versions=20)
    f = ChangeFeedFollower(spark, a, b)

    a.merge(_batch(spark, [("x", "v1", False, 100, "e1", None),
                           ("y", "w1", False, 100, "e2", None)]))
    st = f.sync()
    assert st["resynced"] is False
    assert _live(b) == {("x", "v1"), ("y", "w1")}

    # ordinary update: still incremental
    a.merge(_batch(spark, [("x", "v2", False, 200, "e3", None)]))
    st = f.sync()
    assert st["resynced"] is False
    assert _live(b) == {("x", "v2"), ("y", "w1")}

    # GDPR hard delete (rewrite commit, no tombstone) + a later merge
    assert a.delete_where(F.col("id") == "y") == 1
    a.merge(_batch(spark, [("z", "n1", False, 300, "e4", None)]))
    st = f.sync()
    assert st["resynced"] is True  # converged with NO manual step
    assert _live(b) == _live(a) == {("x", "v2"), ("z", "n1")}
    assert b.read().filter(F.col("id") == "y").count() == 0

    # stream resumes incrementally after the resync
    a.merge(_batch(spark, [("z", "n2", False, 400, "e5", None)]))
    st = f.sync()
    assert st["resynced"] is False
    assert _live(b) == {("x", "v2"), ("z", "n2")}

    # idle sync is a no-op
    st = f.sync()
    assert st["from"] == st["to"] and st["resynced"] is False


def test_follower_bootstraps_via_snapshot_when_history_pruned(spark, tmp_path):
    """A FRESH follower on a source whose early versions aged past
    keep_versions cannot replay from 0 — it must bootstrap from the
    snapshot automatically (snapshot.mode=initial semantics)."""
    a = KeyedTable(spark, str(tmp_path / "a"), ["id"], num_buckets=2,
                   keep_versions=2)
    for i in range(6):
        a.merge(_batch(spark, [("k", f"v{i}", False, 100 + i, f"e{i}", None)]))
    b = KeyedTable(spark, str(tmp_path / "b"), ["id"], num_buckets=2)
    f = ChangeFeedFollower(spark, a, b)
    st = f.sync()
    assert st["resynced"] is True
    assert _live(b) == {("k", "v5")}


def test_follower_applies_truncate_incrementally(spark, tmp_path):
    """A TRUNCATE commits as a merge of tombstones, so the follower
    replays it from the feed: no snapshot resync, and the target
    equals the source row for row."""
    import uuid

    from pyspark.sql import types as T

    from cass_cdc_pg_spark.streaming.ingest import CdcIngest

    ing = CdcIngest(
        spark, str(tmp_path / "wh"),
        {"users": T.StructType([T.StructField("id", T.StringType()),
                                T.StructField("val", T.StringType())])},
        {"users": ["id"]}, num_buckets=2,
    )

    def ev(n, op, ts, after=None):
        return (str(uuid.UUID(int=n)), "users", op, ts, None, after, 1, None, False)

    def process(*events):
        ing.process_batch(spark.createDataFrame(
            list(events),
            "event_id string, source_table string, operation_type string, "
            "timestamp_micros long, before map<string,string>, "
            "after map<string,string>, schema_version int, ttl_seconds int, "
            "is_tombstone boolean"))

    a = ing.table("users")
    b = KeyedTable(spark, str(tmp_path / "b"), ["id"], num_buckets=4)
    f = ChangeFeedFollower(spark, a, b)
    process(ev(1, "CREATE", 100, {"id": "x", "val": "v1"}),
            ev(2, "CREATE", 300, {"id": "y", "val": "w1"}))
    assert f.sync()["resynced"] is False
    process(ev(3, "TRUNCATE", 200))
    assert f.sync()["resynced"] is False
    assert (sorted((r.asDict() for r in b.read().collect()), key=lambda d: d["id"])
            == sorted((r.asDict() for r in a.read().collect()), key=lambda d: d["id"]))
    assert _live(b) == {("y", "w1")}


def test_follower_crash_before_target_commit_replays_the_range(
        spark, tmp_path, monkeypatch):
    """The position commits with the target's state, so a crash before
    that commit leaves both where they were: the next sync replays the
    same range once and converges."""
    a = KeyedTable(spark, str(tmp_path / "a"), ["id"], num_buckets=2,
                   keep_versions=20)
    b = KeyedTable(spark, str(tmp_path / "b"), ["id"], num_buckets=2,
                   keep_versions=20)
    f = ChangeFeedFollower(spark, a, b)
    a.merge(_batch(spark, [("x", "v1", False, 100, "e1", None)]))

    def crash(*args, **kwargs):
        raise RuntimeError("crash before the commit")

    monkeypatch.setattr(b, "_commit", crash)
    with pytest.raises(RuntimeError):
        f.sync()
    monkeypatch.undo()
    assert b._current_version() == 0 and b.txn == {}
    st = f.sync()
    assert st == {"from": 0, "to": 1, "resynced": False}
    assert _live(b) == {("x", "v1")}
    assert b.read().count() == 1
    assert b._current_version() == 1


def test_follower_incremental_sync_commits_one_version_and_no_cursor_file(
        spark, tmp_path):
    """An incremental sync is one target commit that carries the
    follower's position; nothing else is written beside the table."""
    a = KeyedTable(spark, str(tmp_path / "a"), ["id"], num_buckets=2,
                   keep_versions=20)
    b = KeyedTable(spark, str(tmp_path / "b"), ["id"], num_buckets=2,
                   keep_versions=20)
    f = ChangeFeedFollower(spark, a, b)
    for i in range(3):
        a.merge(_batch(spark, [(f"k{i}", "v", False, 100 + i, f"e{i}", None)]))
        before = b._current_version()
        assert f.sync()["resynced"] is False
        assert b._current_version() == before + 1
        assert b.txn == {a.path: a._current_version()}
    live = {d for e in b._doc()["buckets"].values() for d in e["deltas"]}
    assert set(os.listdir(b.path)) == {"_log", "_manifest.json", *live}
    assert not os.path.exists(f"{b.path}/_follower_cursor.json")


def test_follower_returning_to_a_source_resyncs(spark, tmp_path):
    """A → C → A: C's resync overwrite keeps only C's position, so the
    return to A cannot trust A's old one and resyncs from A."""
    a = KeyedTable(spark, str(tmp_path / "a"), ["id"], num_buckets=2,
                   keep_versions=20)
    b = KeyedTable(spark, str(tmp_path / "b"), ["id"], num_buckets=2,
                   keep_versions=20)
    c = KeyedTable(spark, str(tmp_path / "c"), ["id"], num_buckets=2,
                   keep_versions=20)
    a.merge(_batch(spark, [("ak", "a1", False, 100, "e1", None)]))
    c.merge(_batch(spark, [("ck", "c1", False, 100, "e2", None)]))
    assert ChangeFeedFollower(spark, a, b).sync()["resynced"] is False
    assert ChangeFeedFollower(spark, c, b).sync()["resynced"] is True
    assert b.txn == {c.path: 1}
    assert _live(b) == {("ck", "c1")}
    st = ChangeFeedFollower(spark, a, b).sync()
    assert st == {"from": 0, "to": 1, "resynced": True}
    assert b.txn == {a.path: 1}
    assert _live(b) == {("ak", "a1")}


def test_opening_a_follower_creates_nothing(spark, tmp_path):
    """Opening is a read: the target dir appears only with the first
    commit a sync has to make."""
    a = KeyedTable(spark, str(tmp_path / "a"), ["id"], num_buckets=2)
    b = KeyedTable(spark, str(tmp_path / "wh" / "b"), ["id"], num_buckets=2)
    f = ChangeFeedFollower(spark, a, b)
    assert f.sync() == {"from": 0, "to": 0, "resynced": False}
    assert not os.path.exists(tmp_path / "wh")
    a.merge(_batch(spark, [("x", "v1", False, 100, "e1", None)]))
    assert f.sync()["resynced"] is False
    assert _live(b) == {("x", "v1")}


def test_overwrite_requires_meta_cols(spark, tmp_path):
    t = KeyedTable(spark, str(tmp_path / "t"), ["id"], num_buckets=2)
    with pytest.raises(ValueError, match="missing columns"):
        t.overwrite(spark.createDataFrame([("a",)], "id string"))


def test_overwrite_commits_rewrite_so_downstream_feeds_resync(spark, tmp_path):
    """The cascading contract: an overwritten table's own change feed
    refuses the range, exactly like any other rewrite commit."""
    t = KeyedTable(spark, str(tmp_path / "t"), ["id"], num_buckets=2,
                   keep_versions=20)
    t.merge(_batch(spark, [("a", "v1", False, 100, "e1", None)]))
    mark = t._current_version()
    t.overwrite(_batch(spark, [("a", "v2", False, 200, "e2", None)]))
    assert _live(t) == {("a", "v2")}
    with pytest.raises(ValueError, match="rewrite"):
        t.read_changes(mark)


def test_follower_repointed_at_different_source_forces_resync(spark, tmp_path):
    """r7 ADVICE: a cursor written while following source A must not
    be trusted against source C — C's versions index a different
    commit log.  Worst case pre-fix: C's current version <= A's stale
    cursor made sync() a silent no-op and the target kept A's data
    forever.  The fix treats the mismatch as a forced snapshot
    OVERWRITE (not a merge — a merge could never remove A's rows)."""
    a = KeyedTable(spark, str(tmp_path / "a"), ["id"], num_buckets=2,
                   keep_versions=20)
    b = KeyedTable(spark, str(tmp_path / "b"), ["id"], num_buckets=2,
                   keep_versions=20)
    for i in range(3):
        a.merge(_batch(spark, [("ak", f"v{i}", False, 100 + i, f"e{i}", None)]))
    f = ChangeFeedFollower(spark, a, b)
    st = f.sync()
    assert st["resynced"] is False and _live(b) == {("ak", "v2")}

    c = KeyedTable(spark, str(tmp_path / "c"), ["id"], num_buckets=2,
                   keep_versions=20)
    c.merge(_batch(spark, [("ck", "c1", False, 500, "ce1", None)]))
    # same target dir, different source: C's version (1) <= stale cursor (3)
    f2 = ChangeFeedFollower(spark, c, b)
    st = f2.sync()
    assert st["resynced"] is True
    assert _live(b) == _live(c) == {("ck", "c1")}
    assert b.read().filter(F.col("id") == "ak").count() == 0

    # and the follow continues incrementally against the new source
    c.merge(_batch(spark, [("ck", "c2", False, 600, "ce2", None)]))
    st = f2.sync()
    assert st["resynced"] is False and _live(b) == {("ck", "c2")}


def test_follower_add_column_mid_feed_stays_incremental(spark, tmp_path):
    """r7 verdict item 6: an ADD_COLUMN evolution arriving BETWEEN
    incremental applies must flow through sync() with NULL backfill
    and WITHOUT a snapshot resync (compatible adds are merge-safe:
    read_changes reads old commits with allowMissingColumns and merge
    writes the widened schema with mergeSchema).  Reference scenario:
    tests/integration/test_schema_add_column.py:52."""
    wide_ddl = DDL + ", extra string"
    a = KeyedTable(spark, str(tmp_path / "a"), ["id"], num_buckets=2,
                   keep_versions=20)
    b = KeyedTable(spark, str(tmp_path / "b"), ["id"], num_buckets=2,
                   keep_versions=20)
    f = ChangeFeedFollower(spark, a, b)

    a.merge(_batch(spark, [("x", "v1", False, 100, "e1", None)]))
    st = f.sync()
    assert st["resynced"] is False and _live(b) == {("x", "v1")}

    # the evolution: a wider batch lands on the source mid-feed
    a.merge(spark.createDataFrame(
        [("y", "w1", False, 200, "e2", None, "bonus")], wide_ddl))
    st = f.sync()
    assert st["resynced"] is False  # compatible add: NO resync needed
    out = {(r["id"], r["val"], r["extra"])
           for r in b.read_live().collect()}
    assert out == {("x", "v1", None), ("y", "w1", "bonus")}

    # post-evolution narrow writes still apply (old producers linger)
    a.merge(_batch(spark, [("x", "v2", False, 300, "e3", None)]))
    st = f.sync()
    assert st["resynced"] is False
    out = {(r["id"], r["val"], r["extra"])
           for r in b.read_live().collect()}
    assert out == {("x", "v2", None), ("y", "w1", "bonus")}


def test_follower_repointed_at_empty_source_defers_resync(spark, tmp_path):
    """Re-pointing at a source with NO commits yet must not crash (no
    snapshot exists to seed from) and must still resync at the new
    source's first commit."""
    a = KeyedTable(spark, str(tmp_path / "a"), ["id"], num_buckets=2,
                   keep_versions=20)
    b = KeyedTable(spark, str(tmp_path / "b"), ["id"], num_buckets=2,
                   keep_versions=20)
    a.merge(_batch(spark, [("x", "v1", False, 100, "e1", None)]))
    ChangeFeedFollower(spark, a, b).sync()

    c = KeyedTable(spark, str(tmp_path / "c"), ["id"], num_buckets=2,
                   keep_versions=20)
    f2 = ChangeFeedFollower(spark, c, b)
    st = f2.sync()  # empty new source: no-op, no crash
    assert st == {"from": 0, "to": 0, "resynced": False}
    assert _live(b) == {("x", "v1")}  # stale but intact

    c.merge(_batch(spark, [("ck", "c1", False, 500, "ce1", None)]))
    st = f2.sync()  # first commit on the new source: forced re-seed
    assert st["resynced"] is True
    assert _live(b) == {("ck", "c1")}
