"""KeyedTable merge semantics: upsert, LWW guard, soft delete, TTL."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

# multi-minute Spark-heavy suite: excluded from the tight red-green
# loop (`pytest -m "not slow"`); the round gate runs it always
pytestmark = pytest.mark.slow

from pyspark.sql.types import StructType

from cass_cdc_pg_spark.plans.keyed_table import KeyedTable
from tools.table_bytes import schema_problems

SCHEMA = (
    "id string, val string, _cdc_deleted boolean, _cdc_timestamp_micros long, "
    "_last_event_id string, _ttl_expiry_timestamp_us long"
)


def _batch(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


@pytest.fixture()
def table(spark, tmp_path):
    return KeyedTable(spark, str(tmp_path / "t"), ["id"], num_buckets=4)


def _state(t: KeyedTable):
    return {
        r["id"]: (r["val"], r["_cdc_deleted"], r["_cdc_timestamp_micros"])
        for r in t.read().collect()
    }


def test_insert_then_update(table, spark):
    table.merge(_batch(spark, [("a", "v1", False, 100, "e1", None)]))
    table.merge(_batch(spark, [("a", "v2", False, 200, "e2", None)]))
    assert _state(table) == {"a": ("v2", False, 200)}


def test_stale_update_rejected(table, spark):
    table.merge(_batch(spark, [("a", "v2", False, 200, "e2", None)]))
    table.merge(_batch(spark, [("a", "v1", False, 100, "e1", None)]))
    assert _state(table) == {"a": ("v2", False, 200)}


def test_merge_is_idempotent_on_replay(table, spark):
    b = _batch(spark, [("a", "v1", False, 100, "e1", None), ("b", "w", False, 50, "e0", None)])
    table.merge(b)
    before = _state(table)
    table.merge(b)  # replay same microbatch (crash-recovery, C5)
    assert _state(table) == before
    assert table.read().count() == 2


def test_soft_delete_keeps_tombstone(table, spark):
    table.merge(_batch(spark, [("a", "v1", False, 100, "e1", None)]))
    table.merge(_batch(spark, [("a", "v1", True, 200, "e2", None)]))
    assert _state(table) == {"a": ("v1", True, 200)}
    assert table.read_live().count() == 0
    assert table.read().count() == 1


def test_multi_bucket_partial_rewrite(table, spark):
    rows = [(f"k{i}", "v", False, 100, f"e{i}", None) for i in range(20)]
    table.merge(_batch(spark, rows))
    # second merge touches a single key → only its bucket rewritten
    table.merge(_batch(spark, [("k3", "v2", False, 200, "x", None)]))
    st = _state(table)
    assert len(st) == 20
    assert st["k3"] == ("v2", False, 200)
    assert st["k7"] == ("v", False, 100)


def test_ttl_expiry_sweep(table, spark):
    table.merge(
        _batch(
            spark,
            [
                ("a", "v", False, 100, "e1", 1_000),      # expired long ago
                ("b", "v", False, 100, "e2", None),        # no TTL
                ("c", "v", False, 100, "e3", 2**62),       # far future
            ],
        )
    )
    removed = table.expire_ttl(now_us=1_000_000)
    assert removed == 1
    assert set(_state(table)) == {"b", "c"}


def test_expire_ttl_at_epoch_zero_removes_nothing(table, spark):
    """now_us=0 is an explicit epoch, not 'unset': no expiry lies
    before it, so the sweep removes nothing (``now_us or time()``
    swept against the wall clock instead)."""
    table.merge(_batch(spark, [("a", "v", False, 100, "e1", 1_000)]))
    assert table.expire_ttl(now_us=0) == 0
    assert set(_state(table)) == {"a"}
    assert table.expire_ttl() == 1


def test_hard_delete_where(table, spark):
    table.merge(
        _batch(spark, [(f"k{i}", "v", False, 100, f"e{i}", None) for i in range(10)])
    )
    n = table.delete_where(F.col("id").isin("k1", "k2"))
    assert n == 2
    assert set(_state(table)) == {f"k{i}" for i in range(10)} - {"k1", "k2"}


def test_schema_evolution_add_column(table, spark):
    table.merge(_batch(spark, [("a", "v1", False, 100, "e1", None)]))
    evolved = spark.createDataFrame(
        [("b", "v2", "extra", False, 200, "e2", None)],
        "id string, val string, new_col string, _cdc_deleted boolean, "
        "_cdc_timestamp_micros long, _last_event_id string, _ttl_expiry_timestamp_us long",
    )
    table.merge(evolved)
    rows = {r["id"]: r.asDict() for r in table.read().collect()}
    assert rows["a"]["new_col"] is None  # backfilled NULL (ADD_COLUMN)
    assert rows["b"]["new_col"] == "extra"


def _base_file_state(path):
    """(file → (size, mtime_ns)) for every base snapshot parquet file."""
    import os

    out = {}
    for root, _dirs, files in os.walk(path):
        if "/snap-" not in root and not os.path.basename(root).startswith("snap-"):
            continue
        for f in files:
            p = os.path.join(root, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def test_merge_is_o_batch_base_files_untouched(spark, tmp_path):
    """A merge appends a delta; existing base files are not rewritten
    (the 100 TB ingest property: cost O(batch), not O(table))."""
    import os

    from pyspark.sql import functions as F

    from cass_cdc_pg_spark.plans.keyed_table import KeyedTable

    t = KeyedTable(spark, str(tmp_path / "kt"), ["id"], num_buckets=256)
    big = spark.range(2000).select(
        F.col("id").cast("string").alias("id"),
        F.lit(False).alias("_cdc_deleted"),
        F.lit(1000).cast("long").alias("_cdc_timestamp_micros"),
        F.lit("e1").alias("_last_event_id"),
        F.lit(None).cast("long").alias("_ttl_expiry_timestamp_us"),
    )
    t.merge(big)
    t.compact()  # establish a base across ~all 256 buckets
    before = _base_file_state(t.path)
    assert before, "expected base files after compaction"

    tiny = spark.createDataFrame(
        [("5", False, 2000, "e2", None), ("6", False, 2000, "e2", None)],
        "id string, _cdc_deleted boolean, _cdc_timestamp_micros long, "
        "_last_event_id string, _ttl_expiry_timestamp_us long",
    )
    t.merge(tiny)
    after = _base_file_state(t.path)
    assert before == after  # byte-for-byte: no base file touched
    deltas = [d for d in os.listdir(t.path) if d.startswith("delta-")]
    assert len(deltas) == 1  # exactly one delta dir for the tiny batch
    # and the merged view reflects the update
    got = {r["id"]: r["_cdc_timestamp_micros"] for r in t.read().collect()}
    assert got["5"] == 2000 and got["7"] == 1000
    assert len(got) == 2000


def test_compaction_folds_deltas_and_preserves_state(spark, tmp_path):
    from pyspark.sql import functions as F

    from cass_cdc_pg_spark.plans.keyed_table import KeyedTable

    t = KeyedTable(spark, str(tmp_path / "kt"), ["id"], num_buckets=4,
                   compact_threshold=100)  # no auto-compaction
    for ts in (1000, 2000, 3000):
        batch = spark.createDataFrame(
            [("a", False, ts, f"e{ts}", None)],
            "id string, _cdc_deleted boolean, _cdc_timestamp_micros long, "
            "_last_event_id string, _ttl_expiry_timestamp_us long",
        )
        t.merge(batch)
    before = sorted(r.asDict() for r in t.read().collect())
    n = t.compact()
    assert n >= 1
    after = sorted(r.asDict() for r in t.read().collect())
    assert before == after
    assert after[0]["_cdc_timestamp_micros"] == 3000
    # post-compaction manifest carries no deltas
    assert all(not e["deltas"] for e in t._doc()["buckets"].values())


def _legacy_table(spark, path, n, commits, **write_opts):
    """Commit *commits* — ``{dir: rows}``, a ``snap-*`` dir the base
    and ``delta-*`` dirs the deltas, in order — as one version of an
    *n*-bucket table at *path* whose files pyarrow writes with
    *write_opts*: a stand-in for the files an older writer left."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    arrow_schema = pa.schema([
        ("id", pa.string()), ("val", pa.string()), ("_cdc_deleted", pa.bool_()),
        ("_cdc_timestamp_micros", pa.int64()), ("_last_event_id", pa.string()),
        ("_ttl_expiry_timestamp_us", pa.int64()),
    ])
    bucket_of = {
        r["id"]: str(r["b"])
        for r in _batch(spark, [r for rows in commits.values() for r in rows])
        .select("id", F.expr(f"pmod(xxhash64(id), {n})").alias("b")).collect()
    }
    buckets: dict[str, dict] = {}
    for d, rows in commits.items():
        by_bucket: dict[str, list] = {}
        for r in rows:
            by_bucket.setdefault(bucket_of[r[0]], []).append(r)
        for b, rs in by_bucket.items():
            os.makedirs(path / d / f"bucket={b}")
            pq.write_table(
                pa.Table.from_pylist([dict(zip(arrow_schema.names, r)) for r in rs],
                                     schema=arrow_schema),
                path / d / f"bucket={b}" / "part-00000.parquet", **write_opts)
            entry = buckets.setdefault(b, {"base": None, "deltas": []})
            if d.startswith("snap-"):
                entry["base"] = d
            else:
                entry["deltas"].append(d)
    with open(path / "_manifest.json", "w") as f:
        json.dump({"buckets": buckets, "num_buckets": n, "key_cols": ["id"],
                   "version": 1, "op": "merge", "added": []}, f)


def _serial_lww(rows):
    """The LWW state of *rows*, applied one at a time, as ``_state``
    reports it."""
    win: dict = {}
    for r in rows:
        if r[0] not in win or (r[3], r[4]) > win[r[0]][1]:
            win[r[0]] = ((r[1], r[2], r[3]), (r[3], r[4]))
    return {k: v[0] for k, v in win.items()}


def _files_added(t: KeyedTable) -> list[str]:
    """The parquet files of the dirs the current commit added."""
    import os

    return sorted(os.path.join(root, f)
                  for d in t._doc()["added"] for root, _, fs in os.walk(f"{t.path}/{d}")
                  for f in fs if f.endswith(".parquet"))


def test_snappy_files_read_merge_and_compact_to_zstd(spark, tmp_path):
    """Format compatibility: a table whose base and delta files are
    snappy (what the table wrote before zstd; pyarrow stands in for
    that writer) still reads, merges and compacts to the same LWW
    state, and every file a later merge or compaction writes is zstd."""
    import pyarrow.parquet as pq

    n = 4
    base_rows = [(f"k{i}", "base", False, 100, f"b{i}", None) for i in range(12)]
    delta_rows = [(f"k{i}", "delta", i % 4 == 0, 200, f"d{i}", None)
                  for i in range(0, 12, 2)]
    late_rows = [("k1", "late", False, 300, "m1", None),
                 ("k2", "stale", False, 150, "m2", None),
                 ("k20", "new", False, 300, "m20", None)]
    path = tmp_path / "legacy"
    _legacy_table(spark, path, n, {"snap-legacy00000": base_rows,
                                   "delta-legacy0000": delta_rows},
                  compression="snappy")

    def codecs_of_last_commit():  # footer codecs of the dirs the last commit added
        out = set()
        for f in _files_added(t):
            md = pq.ParquetFile(f).metadata
            out |= {md.row_group(g).column(c).compression
                    for g in range(md.num_row_groups)
                    for c in range(md.num_columns)}
        return out

    t = KeyedTable(spark, str(path), ["id"], num_buckets=n, compact_threshold=100)
    assert _state(t) == _serial_lww(base_rows + delta_rows)
    t.merge(_batch(spark, late_rows))
    assert _state(t) == _serial_lww(base_rows + delta_rows + late_rows)
    assert codecs_of_last_commit() == {"ZSTD"}
    t.compact()
    assert _state(t) == _serial_lww(base_rows + delta_rows + late_rows)
    assert codecs_of_last_commit() == {"ZSTD"}
    # compaction folded every snappy file away
    assert all(e["base"] != "snap-legacy00000" and not e["deltas"]
               for e in t._doc()["buckets"].values())


def test_v1_dictionary_base_with_v2_deltas(spark, tmp_path):
    """Old and new files together: a base with v1 pages and a
    dictionary on the key (pyarrow stands in for the writer before
    sorted v2 runs) under v2 deltas reads, feeds, merges and compacts
    to the serial LWW state; DuckDB, a reader independent of Spark,
    reads the compacted v2 files to the same rows."""
    import hashlib

    import duckdb

    from tools.table_bytes import file_layout

    n = 4
    base_rows = [(f"k{i:02d}", "base", False, 100, f"b{i}", None) for i in range(24)]
    d1 = [(f"k{i:02d}", "d1", i % 5 == 0, 200, f"d1-{i}", None) for i in range(0, 24, 2)]
    d2 = [(f"k{i:02d}", "d2", False, 150 + i * 10, f"d2-{i}", None) for i in range(24)]
    late = [("k03", "late", False, 900, "m3", None), ("k30", "new", False, 900, "m30", None)]
    path = tmp_path / "mixed"
    _legacy_table(spark, path, n, {"snap-legacy00000": base_rows},
                  compression="zstd", data_page_version="1.0", use_dictionary=True)
    t = KeyedTable(spark, str(path), ["id"], num_buckets=n, compact_threshold=100)
    for f in path.glob("snap-legacy00000/*/*.parquet"):
        old = file_layout(str(f), ["id"])["columns"]["id"]
        assert old["dictionary"] and old["pages"] == {"v1"}

    t.merge(_batch(spark, d1))
    t.merge(_batch(spark, d2))
    assert _state(t) == _serial_lww(base_rows + d1 + d2)
    feed = {(r["id"], r["val"], r["_change_version"]) for r in t.read_changes(1).collect()}
    assert feed == {(r[0], r[1], 2) for r in d1} | {(r[0], r[1], 3) for r in d2}
    t.merge(_batch(spark, late))
    t.compact()
    assert _state(t) == _serial_lww(base_rows + d1 + d2 + late)

    files = _files_added(t)
    assert len(files) == n  # every bucket took a delta, so each was compacted
    assert all(c["pages"] == {"v2"}
               for f in files for c in file_layout(f, ["id"])["columns"].values())

    def digest(rows):
        return len(rows), hashlib.sha256(repr(sorted(rows)).encode()).hexdigest()

    cols = "id, val, _cdc_deleted, _cdc_timestamp_micros, _last_event_id"
    ours = [tuple(r) for r in t.read().selectExpr(*cols.split(", ")).collect()]
    theirs = duckdb.sql(f"SELECT {cols} FROM read_parquet({files!r})").fetchall()
    assert digest(theirs) == digest(ours)


@pytest.mark.parametrize("key,key_type,encoding", [
    ("id", "int", "DELTA_BINARY_PACKED"),
    ("dlq_id", "string", "DELTA_BYTE_ARRAY"),
])
def test_every_write_is_a_key_sorted_v2_run(spark, tmp_path, key, key_type, encoding):
    """Every file a merge, a compaction, an ``overwrite`` and a
    ``delete_where`` (with and without deltas to reduce) write is a run
    sorted on the key, with v2 data pages and no dictionary on the key
    column — also when rows reach the write from several tasks and AQE
    does not coalesce the shuffle, so that a second shuffle to cluster
    by bucket would concatenate several runs into one file.  An int key
    delta-encodes as ``DELTA_BINARY_PACKED``, a string key (the DLQ's
    ``dlq_id``) as ``DELTA_BYTE_ARRAY``."""
    from tools.table_bytes import file_layout

    def batch(n, ts):  # four input tasks; each key repeats, so the reduce works
        return spark.range(0, n, 1, 4).selectExpr(
            f"CAST(id * 7919 % {n // 2} AS {key_type}) AS {key}", "id AS v",
            "id % 5 = 0 AS _cdc_deleted", f"id + {ts} AS _cdc_timestamp_micros",
            "CAST(id AS STRING) AS _last_event_id",
            "CAST(NULL AS LONG) AS _ttl_expiry_timestamp_us")

    def check_last_commit():
        op = t._doc()["op"]
        layouts = [file_layout(f, [key]) for f in _files_added(t)]
        assert layouts, op
        for lay in layouts:
            assert lay["sorted"], op
            assert {p for c in lay["columns"].values() for p in c["pages"]} == {"v2"}, op
            k = lay["columns"][key]
            assert not k["dictionary"] and k["encodings"] == {encoding}, (op, k)

    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    try:
        t = KeyedTable(spark, str(tmp_path / "t"), [key], num_buckets=4,
                       compact_threshold=100)
        t.merge(batch(2000, 0))
        check_last_commit()
        t.merge(batch(2000, 10_000))
        check_last_commit()
        assert t.compact() == 4
        check_last_commit()
        t.overwrite(batch(2000, 20_000))
        check_last_commit()
        assert t.delete_where(F.col("v") % 7 == 0) > 0  # bases only: no reduce
        check_last_commit()
        t.merge(batch(400, 30_000))
        assert t.delete_where(F.col("v") % 3 == 0) > 0  # a delta over each base
        check_last_commit()
    finally:
        spark.conf.set(coalesce, prev)


def test_auto_compaction_triggers_at_threshold(spark, tmp_path):
    import os

    from cass_cdc_pg_spark.plans.keyed_table import KeyedTable

    t = KeyedTable(spark, str(tmp_path / "kt"), ["id"], num_buckets=2,
                   compact_threshold=3)
    for ts in (1, 2, 3, 4):
        batch = spark.createDataFrame(
            [("k", False, ts * 1000, f"e{ts}", None)],
            "id string, _cdc_deleted boolean, _cdc_timestamp_micros long, "
            "_last_event_id string, _ttl_expiry_timestamp_us long",
        )
        t.merge(batch)
    # threshold 3 → at most 2 uncompacted deltas survive at any time
    deltas = [d for d in os.listdir(t.path) if d.startswith("delta-")]
    assert len(deltas) < 3
    assert t.read().collect()[0]["_cdc_timestamp_micros"] == 4000


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=6, deadline=None)
@given(
    split=st.lists(st.integers(min_value=0, max_value=7), min_size=8, max_size=8),
)
def test_lsm_merge_batch_partitioning_invariance(spark, tmp_path_factory, split):
    """C5/C6 as a property: however an event multiset is partitioned
    into merge batches (including duplicates across batches), the
    table converges to the same per-key LWW state as one big merge."""
    from pyspark.sql import functions as F

    from cass_cdc_pg_spark.plans.keyed_table import KeyedTable

    ddl = ("id string, v long, _cdc_deleted boolean, _cdc_timestamp_micros long, "
           "_last_event_id string, _ttl_expiry_timestamp_us long")
    events = [
        (f"k{i % 3}", i, False, 1000 + (i % 4) * 100, f"e{i}", None)
        for i in range(8)
    ]
    # partition events into up to 8 batches by the drawn assignment
    batches: dict[int, list] = {}
    for ev, b in zip(events, split):
        batches.setdefault(b, []).append(ev)

    base = tmp_path_factory.mktemp("lsm_prop")
    t_ref = KeyedTable(spark, str(base / "ref"), ["id"], num_buckets=2)
    t_ref.merge(spark.createDataFrame(events, ddl))
    expected = sorted(tuple(r) for r in t_ref.read().collect())

    t = KeyedTable(spark, str(base / "split"), ["id"], num_buckets=2,
                   compact_threshold=3)  # exercise auto-compaction too
    for b in sorted(batches):
        t.merge(spark.createDataFrame(batches[b], ddl))
    got = sorted(tuple(r) for r in t.read().collect())
    assert got == expected


def test_bucket_count_persisted_in_manifest(spark, tmp_path):
    """num_buckets is a table property: reopening with a different
    constructor value must use the persisted count (wrong pruning in
    delete_where/point reads otherwise)."""
    from cass_cdc_pg_spark.plans.keyed_table import KeyedTable

    rows = [(str(i), False, 1000, "e", None) for i in range(20)]
    ddl = ("id string, _cdc_deleted boolean, _cdc_timestamp_micros long, "
           "_last_event_id string, _ttl_expiry_timestamp_us long")
    t = KeyedTable(spark, str(tmp_path / "t"), ["id"], num_buckets=2)
    t.merge(spark.createDataFrame(rows, ddl))

    reopened = KeyedTable(spark, str(tmp_path / "t"), ["id"], num_buckets=32)
    assert reopened.num_buckets == 2
    from pyspark.sql import functions as F

    assert reopened.delete_where(F.col("id") == "7") == 1
    assert reopened.read().count() == 19


def test_opening_a_missing_table_creates_nothing(spark, tmp_path):
    """Opening is a read: a path with no table stays absent, so
    ``KeyedTable(...).exists()`` is a safe probe (a misspelled table
    name must not leave an empty directory behind)."""
    import os

    path = tmp_path / "wh" / "cdc_nope"
    t = KeyedTable(spark, str(path), ["id"], num_buckets=4)
    assert t.exists() is False
    assert t._current_version() == 0
    assert not os.path.exists(tmp_path / "wh")
    # the first commit creates it
    t.merge(_batch(spark, [("a", "v1", False, 100, "e1", None)]))
    assert t.exists() and _state(t) == {"a": ("v1", False, 100)}


def test_current_version_survives_a_lost_log_copy(spark, tmp_path):
    """Crash window after the pointer swap: the commit's
    ``_log/manifest.v*.json`` copy was never written.  The current doc
    answers for its own version, so time travel to it and the change
    feed into it still return that commit's rows."""
    import os

    t = KeyedTable(spark, str(tmp_path / "t"), ["id"], num_buckets=4)
    t.merge(_batch(spark, [("a", "v1", False, 100, "e1", None)]))
    t.merge(_batch(spark, [("a", "v2", False, 200, "e2", None),
                           ("b", "w1", False, 200, "e3", None)]))
    cur = t._current_version()
    os.remove(f"{t.path}/_log/manifest.v{cur:012d}.json")

    at = {r["id"]: r["val"] for r in t.read(version=cur).collect()}
    assert at == {"a": "v2", "b": "w1"}
    ch = {(r["id"], r["val"], r["_change_version"])
          for r in t.read_changes(cur - 1).collect()}
    assert ch == {("a", "v2", cur), ("b", "w1", cur)}
    # an older version is still served from its own log copy
    assert {r["val"] for r in t.read(version=cur - 1).collect()} == {"v1"}


def test_time_travel_reads_prior_versions(spark, tmp_path):
    """Each merge/compaction commits a version; read(version=) binds
    to the retained manifest and sees exactly that snapshot's state."""
    t = KeyedTable(spark, str(tmp_path / "tt"), ["id"], num_buckets=2)
    t.merge(_batch(spark, [("a", "v1", False, 1000, "e1", None)]))
    v1 = t.history()[-1]["version"]
    t.merge(_batch(spark, [("a", "v2", False, 2000, "e2", None),
                           ("b", "w1", False, 2000, "e3", None)]))
    v2 = t.history()[-1]["version"]
    assert v2 > v1
    now = {r["id"]: r["val"] for r in t.read().collect()}
    assert now == {"a": "v2", "b": "w1"}
    old = {r["id"]: r["val"] for r in t.read(version=v1).collect()}
    assert old == {"a": "v1"}
    # history ascending with timestamps
    hist = t.history()
    assert [h["version"] for h in hist] == sorted(h["version"] for h in hist)
    assert all(h["updated_at"] is not None for h in hist)


def test_version_zero_reads_as_the_empty_table(spark, tmp_path):
    """Version 0 is the table before its first commit: after three
    commits it still reads as empty, never as "not retained"."""
    t = KeyedTable(spark, str(tmp_path / "v0"), ["id"], num_buckets=2)
    for i in range(3):
        t.merge(_batch(spark, [(f"k{i}", "v", False, 1000 + i, f"e{i}", None)]))
    assert t._current_version() == 3
    assert t._doc(0) == {"buckets": {}, "version": 0}
    assert t.read([0], version=0) is None
    assert t.read(version=0) is None


def test_time_travel_survives_compaction_gc(spark, tmp_path):
    """Compaction rewrites bases and GC runs — but dirs referenced by
    retained historical versions must survive, so a pre-compaction
    version still reads correctly afterwards."""
    t = KeyedTable(spark, str(tmp_path / "tt"), ["id"], num_buckets=2,
                   compact_threshold=100,  # manual compaction only
                   keep_versions=3)  # v1 must survive merge+merge+compact
    t.merge(_batch(spark, [("a", "v1", False, 1000, "e1", None)]))
    v1 = t.history()[-1]["version"]
    t.merge(_batch(spark, [("a", "v2", False, 2000, "e2", None)]))
    t.compact()
    assert {r["val"] for r in t.read().collect()} == {"v2"}
    assert {r["val"] for r in t.read(version=v1).collect()} == {"v1"}


def test_version_retention_prunes_log_and_dirs(spark, tmp_path):
    """Versions past keep_versions are pruned: their log entries go,
    reads of them fail with a clear error, and dirs referenced by no
    retained version are reclaimed."""
    import os

    t = KeyedTable(spark, str(tmp_path / "tt"), ["id"], num_buckets=1,
                   compact_threshold=2, keep_versions=2)
    t.merge(_batch(spark, [("a", "v1", False, 1000, "e1", None)]))
    v1 = t.history()[-1]["version"]
    for i in range(2, 7):
        t.merge(_batch(spark, [("a", f"v{i}", False, 1000 * i, f"e{i}", None)]))
    assert {r["val"] for r in t.read().collect()} == {"v6"}
    retained = [h["version"] for h in t.history()]
    assert v1 not in retained
    assert len(retained) <= 2
    with pytest.raises(FileNotFoundError):
        t.read(version=v1)
    # compaction + retention bounded the on-disk dir count
    dirs = [d for d in os.listdir(t.path)
            if d.startswith("snap-") or d.startswith("delta-")]
    assert len(dirs) <= 2 + 2 * t.keep_versions, dirs


# -- change feed (read_changes) ---------------------------------------------


def test_read_changes_emits_merge_rows_with_versions(spark, tmp_path):
    t = KeyedTable(spark, str(tmp_path / "cf"), ["id"], num_buckets=4,
                   keep_versions=10)
    t.merge(_batch(spark, [("a", "v1", False, 100, "e1", None)]))
    v1 = t._current_version()
    t.merge(_batch(spark, [("a", "v2", False, 200, "e2", None),
                           ("b", "w1", False, 150, "e3", None)]))
    ch = t.read_changes(0)
    rows = {(r["id"], r["_change_version"]): r["val"] for r in ch.collect()}
    assert rows == {("a", v1): "v1", ("a", v1 + 1): "v2", ("b", v1 + 1): "w1"}
    # incremental tail: only the second commit
    tail = {(r["id"], r["val"]) for r in t.read_changes(v1).collect()}
    assert tail == {("a", "v2"), ("b", "w1")}
    # empty range
    assert t.read_changes(t._current_version()) is None


def test_read_changes_carries_delete_tombstones(spark, tmp_path):
    t = KeyedTable(spark, str(tmp_path / "cf"), ["id"], num_buckets=4,
                   keep_versions=10)
    t.merge(_batch(spark, [("a", "v1", False, 100, "e1", None)]))
    v1 = t._current_version()
    t.merge(_batch(spark, [("a", "v1", True, 200, "e2", None)]))
    ch = t.read_changes(v1).collect()
    assert len(ch) == 1 and ch[0]["_cdc_deleted"] is True


def test_read_changes_skips_compaction_commits(spark, tmp_path):
    t = KeyedTable(spark, str(tmp_path / "cf"), ["id"], num_buckets=2,
                   compact_threshold=100, keep_versions=20)
    for i in range(3):
        t.merge(_batch(spark, [("a", f"v{i}", False, 100 + i, f"e{i}", None)]))
    t.compact()
    t.merge(_batch(spark, [("b", "w", False, 500, "e9", None)]))
    ch = t.read_changes(0)
    vals = sorted(r["val"] for r in ch.collect())
    assert vals == ["v0", "v1", "v2", "w"]  # compaction emitted nothing


def test_read_changes_raises_across_rewrites(spark, tmp_path):
    t = KeyedTable(spark, str(tmp_path / "cf"), ["id"], num_buckets=2,
                   keep_versions=20)
    t.merge(_batch(spark, [("a", "v1", False, 100, "e1", None),
                           ("b", "w1", False, 100, "e2", None)]))
    t.delete_where(F.col("id") == "b")  # op="rewrite": no per-row deltas
    t.merge(_batch(spark, [("c", "x1", False, 300, "e3", None)]))
    with pytest.raises(ValueError, match="rewrite"):
        t.read_changes(0)
    # a range past the rewrite still works
    after = t._current_version()
    assert {r["id"] for r in t.read_changes(after - 1).collect()} == {"c"}


def test_read_changes_outside_retention_raises(spark, tmp_path):
    t = KeyedTable(spark, str(tmp_path / "cf"), ["id"], num_buckets=2,
                   keep_versions=2)
    for i in range(5):
        t.merge(_batch(spark, [("a", f"v{i}", False, 100 + i, f"e{i}", None)]))
    with pytest.raises(FileNotFoundError, match="not retained"):
        t.read_changes(0)


def test_read_changes_across_schema_evolution(spark, tmp_path):
    """A feed range spanning an ADD_COLUMN evolution backfills NULL
    for commits from before the new column existed (the mergeSchema
    contract of the snapshot read, carried into the feed)."""
    t = KeyedTable(spark, str(tmp_path / "cf"), ["id"], num_buckets=2,
                   keep_versions=10)
    t.merge(_batch(spark, [("a", "v1", False, 100, "e1", None)]))
    wide = spark.createDataFrame(
        [("b", "w1", "extra", False, 200, "e2", None)],
        "id string, val string, new_col string, _cdc_deleted boolean, "
        "_cdc_timestamp_micros long, _last_event_id string, "
        "_ttl_expiry_timestamp_us long")
    t.merge(wide)
    ch = {r["id"]: r for r in t.read_changes(0).collect()}
    assert ch["a"]["new_col"] is None
    assert ch["b"]["new_col"] == "extra"


def test_legacy_manifest_without_keys_refuses_reduce_and_compact(spark, tmp_path):
    """A pre-LSM manifest with no persisted key_cols, opened with an
    empty constructor list, must REFUSE to LWW-reduce or compact —
    grouping by zero keys would collapse every bucket to one row
    (silent durable data loss from a maintenance verb)."""
    import json

    path = str(tmp_path / "legacy")
    t = KeyedTable(spark, path, ["id"], num_buckets=2)
    t.merge(_batch(spark, [("a", "v1", False, 100, "e1", None),
                           ("b", "v1", False, 100, "e2", None)]))

    # simulate the legacy manifest: drop the persisted key_cols
    with open(f"{path}/_manifest.json") as f:
        m = json.load(f)
    m.pop("key_cols", None)
    with open(f"{path}/_manifest.json", "w") as f:
        json.dump(m, f)

    legacy = KeyedTable(spark, path, [])
    assert legacy.key_cols == []
    with pytest.raises(ValueError, match="no key columns"):
        legacy.compact()
    with pytest.raises(ValueError, match="no key columns"):
        legacy.read().collect()
    # rows are untouched: reopening with explicit keys still sees both
    again = KeyedTable(spark, path, ["id"])
    assert again.read().count() == 2


# -- the schema recorded in the commit doc ------------------------------------

AGE_SCHEMA = SCHEMA.replace("val string,", "val string, age int,")


def _fields(schema) -> dict:
    return {f.name: (f.dataType, f.nullable) for f in schema.fields}


def _footer_schema(t: KeyedTable, version: int | None = None):
    """The schema a merge of the footers of every file *version* names
    infers — how a read found its columns before the commit doc
    recorded them."""
    doc = t._doc(version)
    dirs = sorted(d for b, e in doc["buckets"].items() for d in t._bucket_dirs(b, e))
    return t.spark.read.option("mergeSchema", "true").parquet(*dirs).schema


def _files_of(t: KeyedTable, version: int | None = None) -> list[str]:
    """The parquet files *version* of *t* names."""
    import os

    doc = t._doc(version)
    return sorted(os.path.join(d, f) for b, e in doc["buckets"].items()
                  for d in t._bucket_dirs(b, e) for f in os.listdir(d)
                  if f.endswith(".parquet"))


def _evolved(spark, t):  # ADD: old files backfill new_col with NULL
    t.merge(_batch(spark, [("a", "v1", False, 100, "e1", None)]))
    t.merge(spark.createDataFrame(
        [("b", "v2", "extra", False, 200, "e2", None)],
        SCHEMA.replace("val string,", "val string, new_col string,")))


def _dropped(spark, t):  # DROP: new batches lack age, old files keep it
    t.merge(spark.createDataFrame([("a", "v1", 30, False, 100, "e1", None)], AGE_SCHEMA))
    t.merge(_batch(spark, [("b", "v2", False, 200, "e2", None)]))


def _readded(spark, t):  # re-add with the retired type
    _dropped(spark, t)
    t.merge(spark.createDataFrame([("c", "v3", 31, False, 300, "e3", None)], AGE_SCHEMA))


def _truncated(spark, t):  # TRUNCATE tombstones over a retired column
    _dropped(spark, t)
    t.merge(t.truncate_tombstones(_batch(spark, [("c", "v3", False, 50, "e3", None)]),
                                  250, "trunc"))


def _compacted(spark, t):
    _readded(spark, t)
    t.compact()


def _overwritten(spark, t):  # every bucket rewritten without age
    _dropped(spark, t)
    t.overwrite(_batch(spark, [("z", "v9", False, 900, "e9", None)]))


def _before_the_add(spark, t):  # time travel to a version from before the ADD
    t.merge(_batch(spark, [("a", "v1", False, 100, "e1", None)]))
    v = t._current_version()
    _evolved(spark, t)
    return v


@pytest.mark.parametrize("build", [
    _evolved, _dropped, _readded, _truncated, _compacted, _overwritten, _before_the_add,
], ids=lambda f: f.__name__.strip("_"))
def test_recorded_schema_is_what_the_footers_merge_to(spark, tmp_path, build):
    """Each commit records the schema of its files in its doc, and a
    read names that schema: names, types and nullability equal what
    merging every footer of the version infers, through ADD, DROP
    (the retired column stays), a re-add with the retired type, a
    TRUNCATE, compaction, ``overwrite`` (which resets the schema) and
    time travel."""
    t = KeyedTable(spark, str(tmp_path / "t"), ["id"], num_buckets=4,
                   compact_threshold=100, keep_versions=10)
    version = build(spark, t)
    recorded = StructType.fromJson(t._doc(version)["schema"])
    assert _fields(recorded) == _fields(_footer_schema(t, version))
    assert _fields(t.read(version=version).schema) == _fields(recorded)
    # tools/table_bytes.py, a reader independent of Spark, agrees
    assert schema_problems(recorded.jsonValue(), _files_of(t, version)) == []
    if build is _overwritten:
        assert "age" not in recorded.names
    if build in (_dropped, _truncated):
        assert "age" in recorded.names
    if build is _before_the_add:
        assert "new_col" not in recorded.names


def test_legacy_doc_reads_through_the_footers_until_its_next_commit(spark, tmp_path):
    """A doc written before schemas were recorded reads through a merge
    of its files' footers; its next commit records that schema, widened
    by the new files, and reads then plan without a Spark job."""
    path = tmp_path / "legacy"
    base_rows = [(f"k{i}", "base", False, 100, f"b{i}", None) for i in range(8)]
    _legacy_table(spark, path, 4, {"snap-legacy00000": base_rows})
    t = KeyedTable(spark, str(path), ["id"], num_buckets=4, compact_threshold=100)
    assert "schema" not in t._doc()
    assert _fields(t.read().schema) == _fields(_footer_schema(t))
    assert _state(t) == _serial_lww(base_rows)

    late = [("k1", "late", False, 300, "m1", None)]
    t.merge(spark.createDataFrame([(*late[0][:2], "x", *late[0][2:])],
                                  SCHEMA.replace("val string,", "val string, extra string,")))
    recorded = StructType.fromJson(t._doc()["schema"])
    assert _fields(recorded) == _fields(_footer_schema(t))
    assert "extra" in recorded.names
    _, jobs = _jobs_of(spark, t.read)
    assert jobs == 0
    assert _state(t) == _serial_lww(base_rows + late)


def test_merge_refuses_a_conflicting_column_type(spark, tmp_path):
    """A batch whose column type differs from the recorded one raises
    before it commits, and the table still reads its previous state (a
    committed conflict would fail every later read)."""
    t = KeyedTable(spark, str(tmp_path / "t"), ["id"], num_buckets=4)
    t.merge(spark.createDataFrame([("a", "v1", 30, False, 100, "e1", None)], AGE_SCHEMA))
    before = t._current_version()
    with pytest.raises(ValueError, match="age"):
        t.merge(spark.createDataFrame([("b", "v2", "31", False, 200, "e2", None)],
                                      AGE_SCHEMA.replace("age int", "age string")))
    assert t._current_version() == before
    assert [(r["id"], r["age"]) for r in t.read().collect()] == [("a", 30)]
    # the tool flags a doc whose type the footers disagree with
    doc = t._doc()["schema"]
    assert schema_problems(doc, _files_of(t)) == []
    wrong = {**doc, "fields": [{**f, "type": "string"} if f["name"] == "age" else f
                               for f in doc["fields"]]}
    problems = schema_problems(wrong, _files_of(t))
    assert problems and all("type mismatch: age" in p for p in problems)
    narrow = {**doc, "fields": [f for f in doc["fields"] if f["name"] != "age"]}
    assert all("not in the doc: age" in p for p in schema_problems(narrow, _files_of(t)))


def _jobs_of(spark, fn):
    """``(fn(), number of Spark jobs it ran)``."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-of-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_an_emptied_bucket_writes_no_marker(spark, tmp_path):
    """``delete_where`` that empties a bucket writes no file for it and
    runs no more Spark jobs than one that leaves rows there; its entry
    keeps no dirs.  A table whose every bucket was emptied still exists
    and reads 0 live rows with its full schema."""
    import os

    rows = [(f"k{i}", "v", False, 100, f"e{i}", None) for i in range(40)]
    by_bucket: dict = {}
    for r in spark.createDataFrame([(r[0],) for r in rows], "id string").select(
            "id", F.expr("pmod(xxhash64(id), 4)").alias("b")).collect():
        by_bucket.setdefault(str(r["b"]), []).append(r["id"])
    b0, keys = sorted(by_bucket.items())[0]
    jobs = {}
    for name, hit in (("keeps", keys[:1]), ("empties", keys)):
        t = KeyedTable(spark, str(tmp_path / name), ["id"], num_buckets=4)
        t.merge(_batch(spark, rows))
        t.merge(_batch(spark, rows[:10]))  # a delta over the base
        n, jobs[name] = _jobs_of(spark, lambda: t.delete_where(F.col("id").isin(hit)))
        assert n == len(hit)
    assert jobs["empties"] <= jobs["keeps"], jobs
    assert t._doc()["buckets"][b0] == {"base": None, "deltas": []}
    assert not any(os.path.exists(f"{t.path}/{d}/bucket={b0}") for d in t._doc()["added"])
    assert len(_state(t)) == 40 - len(keys)

    full = t.read().schema
    t.delete_where(F.lit(True))
    assert t.exists()
    assert all(e == {"base": None, "deltas": []} for e in t._doc()["buckets"].values())
    live = t.read_live()
    assert live.count() == 0 and _fields(live.schema) == _fields(full)


@pytest.mark.parametrize("second", ["delete_where", "merge"])
def test_a_second_writer_waits_for_the_first(spark, tmp_path, monkeypatch, second):
    """Writer A pauses between its data write and its commit while
    writer B, on a second thread, deletes or merges on the same table.
    Both commits survive and the table ends in the serial LWW state: B
    waits on the table's writer lock until A has committed, and then
    reads A's doc.  Without the lock both committed after the same doc,
    so the later commit dropped the other's delta and GC deleted it."""
    import threading

    t = KeyedTable(spark, str(tmp_path / "t"), ["id"], num_buckets=1)
    t.merge(_batch(spark, [("a", "v1", False, 100, "e1", None),
                           ("b", "w1", False, 100, "e2", None)]))
    v0 = t.commit_id()[0]
    a_wrote, release, b_wrote = threading.Event(), threading.Event(), threading.Event()
    write = KeyedTable._write

    def paused_write(self, df, dest):
        out = write(self, df, dest)
        if threading.current_thread().name == "writer-a":
            a_wrote.set()
            release.wait(120)
        else:
            b_wrote.set()
        return out

    monkeypatch.setattr(KeyedTable, "_write", paused_write)
    errors = []

    def run(fn):
        try:
            fn(KeyedTable(spark, t.path, ["id"]))
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    a = threading.Thread(name="writer-a", target=run, args=(
        lambda kt: kt.merge(_batch(spark, [("a", "v2", False, 200, "e3", None)])),))
    if second == "merge":
        b_op = lambda kt: kt.merge(_batch(spark, [("c", "x1", False, 300, "e4", None)]))  # noqa: E731
        want = {"a": ("v2", False, 200), "b": ("w1", False, 100), "c": ("x1", False, 300)}
    else:
        b_op = lambda kt: kt.delete_where(F.col("id") == "b")  # noqa: E731
        want = {"a": ("v2", False, 200)}
    b = threading.Thread(name="writer-b", target=run, args=(b_op,))
    a.start()
    assert a_wrote.wait(120)
    b.start()
    # an unlocked B writes within this wait; a locked one cannot
    b_wrote.wait(5)
    release.set()
    a.join(120)
    b.join(120)
    assert not a.is_alive() and not b.is_alive()
    assert not errors, errors
    assert _state(t) == want
    assert t.commit_id()[0] == v0 + 2
