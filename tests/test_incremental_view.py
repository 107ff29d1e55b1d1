"""IncrementalAggView: a change-feed consumer whose answer must equal
full recompute under every CDC interleaving — insert, update, delete,
re-create, out-of-order losers, replayed batches, TRUNCATE, every
writer of the table — and must survive process restart, compaction of
its state table and retention of its source table."""

from __future__ import annotations

import os

import pytest

# multi-minute Spark-heavy suite: excluded from the tight red-green
# loop (`pytest -m "not slow"`); the round gate runs it always
pytestmark = pytest.mark.slow

from cass_cdc_pg_spark.plans.keyed_table import KeyedTable
from cass_cdc_pg_spark.streaming.incremental_view import IncrementalAggView

SCHEMA = (
    "id string, grp string, amount double, _cdc_deleted boolean, "
    "_cdc_timestamp_micros long, _last_event_id string, "
    "_ttl_expiry_timestamp_us long"
)


def _batch(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


@pytest.fixture()
def setup(spark, tmp_path):
    table = KeyedTable(spark, str(tmp_path / "t"), ["id"], num_buckets=4)
    view = IncrementalAggView(spark, str(tmp_path / "v"), table, ["grp"], "amount")
    return table, view


def _apply(table, spark, rows):
    table.merge(_batch(spark, rows))


def _snap(df):
    if df is None:
        return {}
    return {r["grp"]: (r["n_rows"], r["sum_micros"]) for r in df.collect()}


def _assert_converged(view):
    assert _snap(view.read()) == _snap(view.recompute())


def test_insert_update_delete_converges(setup, spark):
    table, view = setup
    _apply(table, spark, [
        ("a", "g1", 10.5, False, 100, "e1", None),
        ("b", "g1", 2.0, False, 100, "e2", None),
        ("c", "g2", 7.25, False, 100, "e3", None),
    ])
    assert _snap(view.read()) == {
        "g1": (2, 12_500_000), "g2": (1, 7_250_000)
    }
    # update moves a row's value AND group
    _apply(table, spark, [("b", "g2", 3.0, False, 200, "e4", None)])
    assert _snap(view.read()) == {
        "g1": (1, 10_500_000), "g2": (2, 10_250_000)
    }
    # delete retracts
    _apply(table, spark, [("a", "g1", 10.5, True, 300, "e5", None)])
    assert _snap(view.read()) == {"g2": (2, 10_250_000)}
    # re-create after tombstone re-adds
    _apply(table, spark, [("a", "g1", 1.0, False, 400, "e6", None)])
    assert _snap(view.read()) == {"g1": (1, 1_000_000), "g2": (2, 10_250_000)}
    _assert_converged(view)


def test_out_of_order_loser_changes_nothing(setup, spark):
    table, view = setup
    _apply(table, spark, [("a", "g1", 5.0, False, 200, "e2", None)])
    before = _snap(view.read())
    # a stale update (older timestamp) loses LWW: the table's state at
    # the new version equals the old one, so its delta cancels to zero
    _apply(table, spark, [("a", "g9", 99.0, False, 100, "e1", None)])
    assert _snap(view.read()) == before == {"g1": (1, 5_000_000)}
    _assert_converged(view)


def test_intra_batch_lww_reduces_before_delta(setup, spark):
    table, view = setup
    # same key twice in one batch: only the winner may contribute
    _apply(table, spark, [
        ("a", "g1", 1.0, False, 100, "e1", None),
        ("a", "g2", 2.0, False, 200, "e2", None),
    ])
    assert _snap(view.read()) == {"g2": (1, 2_000_000)}
    _assert_converged(view)


def test_restart_reopens_from_disk(setup, spark, tmp_path):
    table, view = setup
    _apply(table, spark, [("a", "g1", 4.0, False, 100, "e1", None)])
    assert view.sync()["resynced"] is False
    # a fresh instance over the same paths continues from the position
    # the state table committed
    view2 = IncrementalAggView(spark, str(tmp_path / "v"), table, ["grp"], "amount")
    _apply(table, spark, [("b", "g1", 6.0, False, 200, "e2", None)])
    st = view2.sync()
    assert st == {"from": 1, "to": 2, "resynced": False}
    assert _snap(view2.read()) == {"g1": (2, 10_000_000)}
    _assert_converged(view2)


def test_compaction_bounds_log_depth_and_preserves_answer(spark, tmp_path):
    """The view's state is a KeyedTable, so its delta depth is bounded
    by that table's ``compact_threshold``; the answer survives the
    compaction."""
    table = KeyedTable(spark, str(tmp_path / "t"), ["id"], num_buckets=4)
    view = IncrementalAggView(spark, str(tmp_path / "v"), table, ["grp"], "amount")
    for i in range(view.target.compact_threshold):
        _apply(table, spark, [
            (f"k{i}", f"g{i % 2}", float(i), False, 100 + i, f"e{i}", None)
        ])
        assert view.sync()["resynced"] is False
    buckets = view.target._doc()["buckets"]
    assert all(len(e["deltas"]) < view.target.compact_threshold
               for e in buckets.values())
    assert any(e["base"] for e in buckets.values())
    _assert_converged(view)
    assert _snap(view.read())["g0"] == (4, (0 + 2 + 4 + 6) * 1_000_000)


def test_compaction_removes_orphaned_log_dirs(setup, spark):
    """A data dir a crash left in the view's state table between its
    write and the commit is named by no commit; the state table's next
    commit removes it, and the answer ignores it."""
    table, view = setup
    _apply(table, spark, [("a", "g1", 1.0, False, 100, "e1", None)])
    view.sync()
    orphan = f"{view.target.path}/delta-0rphan000000"
    _batch(spark, [("z", "g9", 9.0, False, 1, "e0", None)]).write.parquet(orphan)
    _apply(table, spark, [("b", "g1", 2.0, False, 200, "e2", None)])
    view.sync()
    assert not os.path.exists(orphan)
    assert _snap(view.read()) == {"g1": (2, 3_000_000)}


def test_compaction_keeps_the_batch_high_water_mark(setup, spark):
    """The view's position (its high-water mark in the table's version
    log) lives in its state table's commit, and compacting that table
    carries it forward: after a compaction and a replayed batch the
    view neither recomputes nor counts the batch twice."""
    table, view = setup
    b = _batch(spark, [("a", "g1", 1.0, False, 100, "e1", None)])
    table.merge(b)
    view.sync()
    assert view.target.compact() == 1
    assert view.target.txn == {table.path: table._current_version()}
    table.merge(b)  # the replay
    assert view.sync()["resynced"] is False
    assert _snap(view.read()) == {"g1": (1, 1_000_000)}
    _assert_converged(view)


def test_random_interleaving_converges(setup, spark):
    """Deterministic pseudo-random CDC soup: every prefix of the
    stream leaves view == recompute."""
    table, view = setup
    rows = []
    for i in range(30):
        key = f"k{(i * 7) % 5}"
        grp = f"g{(i * 3) % 3}"
        deleted = (i % 11) == 4
        # non-monotonic timestamps → some rows lose LWW
        ts = 1000 + ((i * 37) % 23) * 10
        rows.append((key, grp, float(i) / 4, deleted, ts, f"e{i:03d}", None))
    for lo in range(0, 30, 6):
        _apply(table, spark, rows[lo:lo + 6])
        _assert_converged(view)


# -- retention and opening ---------------------------------------------------


def test_view_recomputes_when_its_position_is_pruned(spark, tmp_path):
    """A table merge that also compacts commits two versions; with
    ``keep_versions=2`` the view's position ages out, so the next sync
    rebuilds from the table and still equals recompute."""
    table = KeyedTable(spark, str(tmp_path / "t"), ["id"], num_buckets=1,
                       compact_threshold=2, keep_versions=2)
    view = IncrementalAggView(spark, str(tmp_path / "v"), table, ["grp"], "amount")
    _apply(table, spark, [("a", "g1", 1.0, False, 100, "e1", None)])
    assert view.sync()["resynced"] is False
    cur = table._current_version()
    _apply(table, spark, [("b", "g2", 2.0, False, 200, "e2", None)])
    assert table._current_version() == cur + 2  # merge, then compact
    with pytest.raises(FileNotFoundError):
        table._doc(cur)
    assert view.sync() == {"from": cur, "to": cur + 2, "resynced": True}
    assert _snap(view.read()) == {"g1": (1, 1_000_000), "g2": (1, 2_000_000)}
    _assert_converged(view)


def test_view_moves_past_a_compaction_only_range(spark, tmp_path):
    """A source range of compactions only changes no state: the view
    commits its new position with no rows and does not recompute."""
    table = KeyedTable(spark, str(tmp_path / "t"), ["id"], num_buckets=2,
                       keep_versions=2)
    view = IncrementalAggView(spark, str(tmp_path / "v"), table, ["grp"], "amount")
    _apply(table, spark, [("a", "g1", 1.0, False, 100, "e1", None)])
    _apply(table, spark, [("a", "g1", 3.0, False, 200, "e2", None)])
    view.sync()
    state_v = view.target._current_version()
    assert table.compact() == 1
    hi = table._current_version()
    assert view.sync() == {"from": hi - 1, "to": hi, "resynced": False}
    doc = view.target._doc()
    assert (doc["version"], doc["op"], doc["added"]) == (state_v + 1, "merge", [])
    assert view.target.txn == {table.path: hi}
    assert _snap(view.read()) == {"g1": (1, 3_000_000)}


def test_opening_a_view_creates_nothing(spark, tmp_path):
    """Opening is a read: neither the view's state dir nor anything
    else appears until the first sync that has something to commit."""
    table = KeyedTable(spark, str(tmp_path / "t"), ["id"], num_buckets=2)
    view = IncrementalAggView(spark, str(tmp_path / "wh" / "v"), table,
                              ["grp"], "amount")
    assert view.read() is None
    assert not os.path.exists(tmp_path / "wh")
    _apply(table, spark, [("a", "g1", 1.0, False, 100, "e1", None)])
    assert _snap(view.read()) == {"g1": (1, 1_000_000)}


# -- ingest integration ------------------------------------------------------

CHANGE_EVENT_DDL = (
    "event_id string, source_table string, operation_type string, "
    "timestamp_micros long, before map<string,string>, after map<string,string>, "
    "schema_version int, ttl_seconds int, is_tombstone boolean"
)

# validation requires UUID event ids (T7)
E = [f"00000000-0000-0000-0000-00000000000{i}" for i in range(10)]


def _users_ingest(spark, tmp_path):
    from pyspark.sql import types as T

    from cass_cdc_pg_spark.streaming.ingest import CdcIngest

    schema = T.StructType([
        T.StructField("id", T.StringType()),
        T.StructField("username", T.StringType()),
        T.StructField("age", T.IntegerType()),
    ])
    return CdcIngest(
        spark, str(tmp_path / "wh"), {"users": schema}, {"users": ["id"]},
        num_buckets=4,
    )


def _users_view(spark, tmp_path, ing):
    return IncrementalAggView(
        spark, str(tmp_path / "wh" / "users__age_by_name"), ing.table("users"),
        ["username"], "age",
    )


def _ev(spark, rows):
    return spark.createDataFrame(rows, CHANGE_EVENT_DDL)


def _vsnap(df):
    if df is None:
        return {}
    return {r["username"]: (r["n_rows"], r["sum_micros"]) for r in df.collect()}


def test_ingest_maintains_registered_view(spark, tmp_path):
    ing = _users_ingest(spark, tmp_path)
    view = _users_view(spark, tmp_path, ing)
    b0 = _ev(spark, [
        (E[1], "users", "CREATE", 100, None, {"id": "a", "username": "x", "age": "10"}, 1, None, False),
        (E[2], "users", "CREATE", 100, None, {"id": "b", "username": "y", "age": "20"}, 1, None, False),
    ])
    ing.process_batch(b0, batch_id=0)
    assert _vsnap(view.read()) == {"x": (1, 10_000_000), "y": (1, 20_000_000)}
    # crash-replay of the SAME microbatch: the table merge is
    # LWW-idempotent, so the table's state and the view do not move
    ing.process_batch(b0, batch_id=0)
    assert _vsnap(view.read()) == {"x": (1, 10_000_000), "y": (1, 20_000_000)}
    # update + delete
    b1 = _ev(spark, [
        (E[3], "users", "UPDATE", 200, {"id": "a", "username": "x", "age": "10"},
         {"id": "a", "username": "x", "age": "30"}, 1, None, False),
        (E[4], "users", "DELETE", 200, {"id": "b", "username": "y", "age": "20"}, None, 1, None, True),
    ])
    ing.process_batch(b1, batch_id=1)
    assert _vsnap(view.read()) == {"x": (1, 30_000_000)}
    assert _vsnap(view.read()) == _vsnap(view.recompute())


def test_ingest_truncate_rebuilds_view(spark, tmp_path):
    ing = _users_ingest(spark, tmp_path)
    view = _users_view(spark, tmp_path, ing)
    ing.process_batch(_ev(spark, [
        (E[1], "users", "CREATE", 100, None, {"id": "a", "username": "x", "age": "10"}, 1, None, False),
    ]), batch_id=0)
    assert _vsnap(view.read()) == {"x": (1, 10_000_000)}
    # a TRUNCATE commits as tombstones, so the feed retracts it
    ing.process_batch(_ev(spark, [
        (E[2], "users", "TRUNCATE", 200, None, None, 1, None, False),
    ]), batch_id=1)
    assert view.sync()["resynced"] is False
    assert _vsnap(view.read()) == {}
    # a later CREATE resumes incremental maintenance
    ing.process_batch(_ev(spark, [
        (E[3], "users", "CREATE", 300, None, {"id": "c", "username": "z", "age": "5"}, 1, None, False),
    ]), batch_id=2)
    assert _vsnap(view.read()) == {"z": (1, 5_000_000)}


def test_view_follows_every_writer_of_an_ingest_table(spark, tmp_path):
    """The view equals recompute after each way the table changes:
    the snapshot seed, a streaming batch, a batch with the default
    ``batch_id`` (as ``replay_dlq`` runs it), a TRUNCATE and a GDPR
    ``delete_where`` rewrite, which the view rebuilds across."""
    from pyspark.sql import functions as F

    ing = _users_ingest(spark, tmp_path)
    view = _users_view(spark, tmp_path, ing)

    def converged():
        got = _vsnap(view.read())
        assert got == _vsnap(view.recompute())
        return got

    ing.seed_snapshot("users", spark.createDataFrame(
        [("s", "seed", 7)], "id string, username string, age int"))
    assert converged() == {"seed": (1, 7_000_000)}
    ing.process_batch(_ev(spark, [
        (E[1], "users", "CREATE", 100, None, {"id": "a", "username": "x", "age": "10"}, 1, None, False),
    ]), batch_id=3)
    assert converged() == {"seed": (1, 7_000_000), "x": (1, 10_000_000)}
    ing.process_batch(_ev(spark, [
        (E[2], "users", "CREATE", 150, None, {"id": "b", "username": "y", "age": "20"}, 1, None, False),
    ]))
    assert converged() == {
        "seed": (1, 7_000_000), "x": (1, 10_000_000), "y": (1, 20_000_000)}
    ing.process_batch(_ev(spark, [
        (E[3], "users", "TRUNCATE", 200, None, None, 1, None, False),
        (E[4], "users", "CREATE", 300, None, {"id": "c", "username": "z", "age": "5"}, 1, None, False),
    ]), batch_id=4)
    assert converged() == {"z": (1, 5_000_000)}
    ing.process_batch(_ev(spark, [
        (E[5], "users", "CREATE", 400, None, {"id": "d", "username": "z", "age": "1"}, 1, None, False),
    ]), batch_id=5)
    assert ing.table("users").delete_where(F.col("id") == "c") == 1
    assert view.sync()["resynced"] is True
    assert converged() == {"z": (1, 1_000_000)}
