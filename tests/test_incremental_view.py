"""IncrementalAggView: delta maintenance must equal full recompute
under every CDC interleaving — insert, update, delete, re-create,
out-of-order losers, replayed batches excluded by contract — and must
survive process restart and compaction."""

from __future__ import annotations

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
    view = IncrementalAggView(
        spark, str(tmp_path / "v"), table, ["grp"], "amount",
        compact_threshold=3,
    )
    return table, view


def _apply(table, view, spark, rows):
    b = _batch(spark, rows)
    view.apply_batch(b)  # contract: before merge
    table.merge(b)


def _snap(df):
    if df is None:
        return {}
    return {r["grp"]: (r["n_rows"], r["sum_micros"]) for r in df.collect()}


def _assert_converged(view):
    assert _snap(view.read()) == _snap(view.recompute())


def test_insert_update_delete_converges(setup, spark):
    table, view = setup
    _apply(table, view, spark, [
        ("a", "g1", 10.5, False, 100, "e1", None),
        ("b", "g1", 2.0, False, 100, "e2", None),
        ("c", "g2", 7.25, False, 100, "e3", None),
    ])
    assert _snap(view.read()) == {
        "g1": (2, 12_500_000), "g2": (1, 7_250_000)
    }
    # update moves a row's value AND group
    _apply(table, view, spark, [("b", "g2", 3.0, False, 200, "e4", None)])
    assert _snap(view.read()) == {
        "g1": (1, 10_500_000), "g2": (2, 10_250_000)
    }
    # delete retracts
    _apply(table, view, spark, [("a", "g1", 10.5, True, 300, "e5", None)])
    assert _snap(view.read()) == {"g2": (2, 10_250_000)}
    # re-create after tombstone re-adds
    _apply(table, view, spark, [("a", "g1", 1.0, False, 400, "e6", None)])
    assert _snap(view.read()) == {"g1": (1, 1_000_000), "g2": (2, 10_250_000)}
    _assert_converged(view)


def test_out_of_order_loser_changes_nothing(setup, spark):
    table, view = setup
    _apply(table, view, spark, [("a", "g1", 5.0, False, 200, "e2", None)])
    before = _snap(view.read())
    # a stale update (older timestamp) must lose LWW and leave the
    # view exactly as it was — the winner replay cancels its delta
    _apply(table, view, spark, [("a", "g9", 99.0, False, 100, "e1", None)])
    assert _snap(view.read()) == before == {"g1": (1, 5_000_000)}
    _assert_converged(view)


def test_intra_batch_lww_reduces_before_delta(setup, spark):
    table, view = setup
    # same key twice in one batch: only the winner may contribute
    _apply(table, view, spark, [
        ("a", "g1", 1.0, False, 100, "e1", None),
        ("a", "g2", 2.0, False, 200, "e2", None),
    ])
    assert _snap(view.read()) == {"g2": (1, 2_000_000)}
    _assert_converged(view)


def test_restart_reopens_from_disk(setup, spark, tmp_path):
    table, view = setup
    _apply(table, view, spark, [("a", "g1", 4.0, False, 100, "e1", None)])
    # a fresh instance over the same paths continues the same log
    view2 = IncrementalAggView(
        spark, str(tmp_path / "v"), table, ["grp"], "amount",
        compact_threshold=3,
    )
    b = _batch(spark, [("b", "g1", 6.0, False, 200, "e2", None)])
    view2.apply_batch(b)
    table.merge(b)
    assert _snap(view2.read()) == {"g1": (2, 10_000_000)}
    _assert_converged(view2)


def test_compaction_bounds_log_depth_and_preserves_answer(setup, spark):
    import os

    table, view = setup
    for i in range(8):
        _apply(table, view, spark, [
            (f"k{i}", f"g{i % 2}", float(i), False, 100 + i, f"e{i}", None)
        ])
    m = view._read_manifest()
    assert len(m["deltas"]) <= view.compact_threshold
    assert m["base"] is not None
    # compacted dirs were GC'd
    dirs = [d for d in os.listdir(view.path) if d.startswith("v")]
    assert len(dirs) == len(m["deltas"]) + 1
    _assert_converged(view)
    assert _snap(view.read())["g0"] == (4, (0 + 2 + 4 + 6) * 1_000_000)


def test_compaction_removes_orphaned_log_dirs(setup, spark):
    """A ``vdelta-``/``vbase-`` dir a crash left between its write and
    the manifest swap is named by no manifest; compaction removes it."""
    import os

    table, view = setup
    _apply(table, view, spark, [("a", "g1", 1.0, False, 100, "e1", None)])
    for orphan in ("vdelta-0rphan000000", "vbase-0rphan0000000"):
        _batch(spark, [("z", "g9", 9.0, False, 1, "e0", None)]).write.parquet(
            f"{view.path}/{orphan}")
    view.compact()
    m = view._read_manifest()
    assert [d for d in os.listdir(view.path) if d.startswith("v")] == [m["base"]]
    assert _snap(view.read()) == {"g1": (1, 1_000_000)}


def test_compaction_keeps_the_batch_high_water_mark(setup, spark):
    """A crash after the view folded batch 5 and compacted, but before
    the table merge: the replayed batch 5 must still be skipped."""
    table, view = setup
    b = _batch(spark, [("a", "g1", 1.0, False, 100, "e1", None)])
    view.apply_batch(b, batch_id=5)
    view.compact()
    view.apply_batch(b, batch_id=5)  # the replay
    table.merge(b)
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
        _apply(table, view, spark, rows[lo:lo + 6])
        _assert_converged(view)


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


def _ev(spark, rows):
    return spark.createDataFrame(rows, CHANGE_EVENT_DDL)


def _vsnap(view):
    df = view.read()
    if df is None:
        return {}
    return {r["username"]: (r["n_rows"], r["sum_micros"]) for r in df.collect()}


def test_ingest_maintains_registered_view(spark, tmp_path):
    ing = _users_ingest(spark, tmp_path)
    view = ing.register_view("users", "age_by_name", ["username"], "age")
    b0 = _ev(spark, [
        (E[1], "users", "CREATE", 100, None, {"id": "a", "username": "x", "age": "10"}, 1, None, False),
        (E[2], "users", "CREATE", 100, None, {"id": "b", "username": "y", "age": "20"}, 1, None, False),
    ])
    ing.process_batch(b0, batch_id=0)
    assert _vsnap(view) == {"x": (1, 10_000_000), "y": (1, 20_000_000)}
    # crash-replay of the SAME microbatch: table merge is LWW-idempotent
    # and the view must skip via its batch_id high-water mark
    ing.process_batch(b0, batch_id=0)
    assert _vsnap(view) == {"x": (1, 10_000_000), "y": (1, 20_000_000)}
    # update + delete
    b1 = _ev(spark, [
        (E[3], "users", "UPDATE", 200, {"id": "a", "username": "x", "age": "10"},
         {"id": "a", "username": "x", "age": "30"}, 1, None, False),
        (E[4], "users", "DELETE", 200, {"id": "b", "username": "y", "age": "20"}, None, 1, None, True),
    ])
    ing.process_batch(b1, batch_id=1)
    assert _vsnap(view) == {"x": (1, 30_000_000)}
    assert _vsnap(view) == {
        r["username"]: (r["n_rows"], r["sum_micros"])
        for r in view.recompute().collect()
    }


def test_ingest_truncate_rebuilds_view(spark, tmp_path):
    ing = _users_ingest(spark, tmp_path)
    view = ing.register_view("users", "age_by_name", ["username"], "age")
    ing.process_batch(_ev(spark, [
        (E[1], "users", "CREATE", 100, None, {"id": "a", "username": "x", "age": "10"}, 1, None, False),
    ]), batch_id=0)
    assert _vsnap(view) == {"x": (1, 10_000_000)}
    # TRUNCATE bypasses the row path — the view must reconcile
    ing.process_batch(_ev(spark, [
        (E[2], "users", "TRUNCATE", 200, None, None, 1, None, False),
    ]), batch_id=1)
    assert _vsnap(view) == {}
    # a later CREATE resumes incremental maintenance
    ing.process_batch(_ev(spark, [
        (E[3], "users", "CREATE", 300, None, {"id": "c", "username": "z", "age": "5"}, 1, None, False),
    ]), batch_id=2)
    assert _vsnap(view) == {"z": (1, 5_000_000)}
