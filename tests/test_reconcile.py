"""Reconciliation operator unit tests on tiny in-memory tables."""

from __future__ import annotations

from pyspark.sql import functions as F

from cass_cdc_pg_spark.operators.reconcile import (
    checksum_diff,
    field_diff,
    row_count_validation,
)

SRC = [
    (1, "a", 10.0),
    (2, "b", 20.0),
    (3, "c", 30.0),
]
TGT = [
    (1, "a", 10.0),     # identical
    (2, "b", 99.0),     # mutated → DATA_MISMATCH
    # 3 missing          → MISSING_IN_TARGET
    (4, "d", 40.0),     # extra → MISSING_IN_SOURCE
]
DDL = "id long, name string, amount double"


def test_row_count_and_drift(spark):
    src = spark.createDataFrame(SRC, DDL)
    tgt = spark.createDataFrame(TGT, DDL)
    row = row_count_validation(src, tgt).collect()[0]
    assert row["src_count"] == 3 and row["tgt_count"] == 3
    assert row["mismatch_count"] == 0 and row["severity"] == "ok"


def test_checksum_diff_classifies_all_three(spark):
    src = spark.createDataFrame(SRC, DDL)
    tgt = spark.createDataFrame(TGT, DDL)
    out = {
        r["id"]: r["mismatch_type"]
        for r in checksum_diff(src, tgt, ["id"], ["name", "amount"]).collect()
    }
    assert out == {
        2: "DATA_MISMATCH",
        3: "MISSING_IN_TARGET",
        4: "MISSING_IN_SOURCE",
    }


def test_field_diff_pinpoints_column(spark):
    src = spark.createDataFrame(SRC, DDL)
    tgt = spark.createDataFrame(TGT, DDL)
    rows = field_diff(src, tgt, ["id"], ["name", "amount"]).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["id"], r["column"]) == (2, "amount")
    assert r["src_val"] == "20.0000" and r["tgt_val"] == "99.0000"


def test_drift_severity_thresholds(spark):
    from cass_cdc_pg_spark.operators.reconcile import drift_severity

    df = spark.range(1).select(
        drift_severity(F.lit(0.5)).alias("a"),
        drift_severity(F.lit(1.0)).alias("b"),
        drift_severity(F.lit(7.2)).alias("c"),
    )
    r = df.collect()[0]
    assert (r["a"], r["b"], r["c"]) == ("ok", "warning", "critical")


def test_checksum_null_canonicalization(spark):
    """Rows differing only in WHICH column is NULL, or NULL-vs-empty,
    must produce different checksums (ADVICE r1)."""
    from cass_cdc_pg_spark.functions.checksum import row_checksum

    df = spark.createDataFrame(
        [(1, "a", None), (2, None, "a"), (3, "", None), (4, None, None)],
        "id long, x string, y string",
    )
    cks = [r["c"] for r in df.select(row_checksum(df, ["x", "y"]).alias("c")).collect()]
    assert len(set(cks)) == 4  # all four rows distinct


def test_field_diff_reports_null_vs_value(spark):
    from cass_cdc_pg_spark.operators.reconcile import field_diff

    src = spark.createDataFrame([(1, "a"), (2, None)], "id long, v string")
    tgt = spark.createDataFrame([(1, None), (2, None)], "id long, v string")
    got = field_diff(src, tgt, ["id"], ["v"]).collect()
    assert len(got) == 1
    assert got[0]["id"] == 1 and got[0]["src_val"] == "a" and got[0]["tgt_val"] is None


def test_bucketed_checksum_diff_is_shuffle_free(spark, tmp_path):
    """The 100 TB reconciliation plan: both sides bucketed on the PK →
    checksum_diff's full-outer join plans with NO Exchange (the scans
    are already partitioned+sorted on the join key)."""
    from cass_cdc_pg_spark.operators.reconcile import (
        checksum_diff,
        register_bucketed,
    )

    src = spark.range(1000).selectExpr("id AS pk", "id * 2 AS v")
    tgt = spark.range(990).selectExpr("id AS pk", "id * 2 AS v")
    s = register_bucketed(spark, src, "recon_src_b", ["pk"], num_buckets=8)
    t = register_bucketed(spark, tgt, "recon_tgt_b", ["pk"], num_buckets=8)
    diff = checksum_diff(s, t, ["pk"], ["v"])
    plan = diff._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert diff.count() == 10  # the 10 missing keys


def test_incremental_checksum_diff_scopes_to_changed_keys(spark, tmp_path):
    """incremental_checksum_diff: only keys the source's change feed
    touched after since_version are compared — a divergence introduced
    earlier is invisible (the periodic full job's business), a
    divergence in the range is flagged, matching keys in the range
    produce no row, and an empty range returns None."""
    from cass_cdc_pg_spark.operators.reconcile import (
        DATA_MISMATCH,
        MISSING_IN_TARGET,
        incremental_checksum_diff,
    )
    from cass_cdc_pg_spark.plans.keyed_table import KeyedTable

    ddl = ("id string, val string, _cdc_deleted boolean, "
           "_cdc_timestamp_micros long, _last_event_id string, "
           "_ttl_expiry_timestamp_us long")
    mk = lambda rows: spark.createDataFrame(rows, ddl)  # noqa: E731
    src = KeyedTable(spark, str(tmp_path / "src"), ["id"], num_buckets=4,
                     keep_versions=10)
    tgt = KeyedTable(spark, str(tmp_path / "tgt"), ["id"], num_buckets=8,
                     keep_versions=10)

    # seeded in sync — except 'stale' already diverges BEFORE the mark
    src.merge(mk([("a", "v1", False, 100, "e1", None),
                  ("stale", "x-src", False, 100, "e2", None)]))
    tgt.merge(mk([("a", "v1", False, 100, "e1", None),
                  ("stale", "x-tgt", False, 100, "e2", None)]))
    mark = src._current_version()

    # in-range: 'a' updated on both sides identically (clean), 'b' only
    # in source (missing in target), 'c' diverges in value
    src.merge(mk([("a", "v2", False, 200, "e3", None),
                  ("b", "new", False, 200, "e4", None),
                  ("c", "src-val", False, 200, "e5", None)]))
    tgt.merge(mk([("a", "v2", False, 200, "e3", None),
                  ("c", "tgt-val", False, 200, "e6", None)]))

    out = incremental_checksum_diff(src, tgt, mark, ["val"])
    got = {r["id"]: r["mismatch_type"] for r in out.collect()}
    assert got == {"b": MISSING_IN_TARGET, "c": DATA_MISMATCH}

    assert incremental_checksum_diff(src, tgt, src._current_version(),
                                     ["val"]) is None


def test_incremental_checksum_diff_key_order_mismatch(spark, tmp_path):
    """xxhash64 is argument-order-sensitive: when the two tables
    persist the SAME key set in DIFFERENT order, target buckets must
    be hashed with the target's own order — the old code used the
    source's order for both, skipped live target rows, and falsely
    reported MISSING_IN_TARGET."""
    from cass_cdc_pg_spark.operators.reconcile import (
        incremental_checksum_diff,
    )
    from cass_cdc_pg_spark.plans.keyed_table import KeyedTable

    ddl = ("k1 string, k2 string, val string, _cdc_deleted boolean, "
           "_cdc_timestamp_micros long, _last_event_id string, "
           "_ttl_expiry_timestamp_us long")
    mk = lambda rows: spark.createDataFrame(rows, ddl)  # noqa: E731
    src = KeyedTable(spark, str(tmp_path / "src"), ["k1", "k2"],
                     num_buckets=8, keep_versions=10)
    tgt = KeyedTable(spark, str(tmp_path / "tgt"), ["k2", "k1"],
                     num_buckets=8, keep_versions=10)
    rows = [(f"a{i}", f"b{i}", "v", False, 100, f"e{i}", None)
            for i in range(20)]
    src.merge(mk(rows))
    mark = src._current_version()
    upd = [(f"a{i}", f"b{i}", "v2", False, 200, f"x{i}", None)
           for i in range(20)]
    src.merge(mk(upd))
    tgt.merge(mk(upd))

    # all 20 changed keys are IDENTICAL on both sides -> no mismatch rows
    out = incremental_checksum_diff(src, tgt, mark, ["val"])
    assert out.count() == 0


def test_incremental_checksum_diff_rejects_different_key_sets(spark, tmp_path):
    import pytest

    from cass_cdc_pg_spark.operators.reconcile import (
        incremental_checksum_diff,
    )
    from cass_cdc_pg_spark.plans.keyed_table import KeyedTable

    src = KeyedTable(spark, str(tmp_path / "s2"), ["a"], num_buckets=2)
    tgt = KeyedTable(spark, str(tmp_path / "t2"), ["b"], num_buckets=2)
    with pytest.raises(ValueError, match="share key columns"):
        incremental_checksum_diff(src, tgt, 0, ["val"])


def _seeded_pair(spark, tmp_path):
    """A source and a target keyed table, each a base commit plus a
    delta commit.  Source: ids 0-59 at version 0, then the ids with
    id % 3 == 0 rewritten.  Target: the source's final state plus the
    extra ids 60-62, then a delta that mutates columns a and c of the
    ids with id % 10 == 1 and deletes the ids with id % 10 == 7.
    Returns (source, target, source version before its delta)."""
    from cass_cdc_pg_spark.plans.keyed_table import KeyedTable

    ddl = ("id long, a string, b long, c double, _cdc_deleted boolean, "
           "_cdc_timestamp_micros long, _last_event_id string, "
           "_ttl_expiry_timestamp_us long")

    def row(i, version, ts, mutated=False, deleted=False):
        a, c = f"a{i}-{version}", i * 1.5 + version
        if mutated:
            a, c = a + "!", c + 1000
        return (i, a, i + 100 * version, c, deleted, ts, f"e{i}-{ts}", None)

    def final(i):
        return 1 if i % 3 == 0 else 0

    src = KeyedTable(spark, str(tmp_path / "src"), ["id"], num_buckets=4)
    tgt = KeyedTable(spark, str(tmp_path / "tgt"), ["id"], num_buckets=4)
    src.merge(spark.createDataFrame([row(i, 0, 1) for i in range(60)], ddl))
    since = src._current_version()
    src.merge(spark.createDataFrame(
        [row(i, 1, 2) for i in range(60) if i % 3 == 0], ddl))
    tgt.merge(spark.createDataFrame(
        [row(i, final(i), 1) for i in range(63)], ddl))
    tgt.merge(spark.createDataFrame(
        [row(i, final(i), 3, mutated=i % 10 == 1, deleted=i % 10 == 7)
         for i in range(60) if i % 10 in (1, 7)], ddl))
    return src, tgt, since


def test_run_job_matches_the_seeded_perturbation(spark, tmp_path):
    """``run_job`` over a seeded pair: the counts, the mismatches by
    type and the field diff equal the perturbation, and the scoped
    ``incremental_checksum_diff`` equals the full diff restricted to the
    source's changed keys."""
    import collections

    import pytest

    from cass_cdc_pg_spark.operators.reconcile import incremental_checksum_diff, run_job

    src, tgt, since = _seeded_pair(spark, tmp_path)
    missing = {i for i in range(60) if i % 10 == 7}
    mutated = {i for i in range(60) if i % 10 == 1}
    extra = {60, 61, 62}
    changed = {i for i in range(60) if i % 3 == 0}

    rc = run_job(src, tgt, "row_count")
    assert (rc["src_count"], rc["tgt_count"], rc["mismatch_count"]) == (60, 57, 3)
    assert (rc["drift_pct"], rc["severity"]) == (5.0, "critical")
    assert rc["mismatches"] is None

    full = run_job(src, tgt, "checksum")
    assert (full["src_count"], full["tgt_count"]) == (60, 57)
    rows = full["mismatches"].collect()
    by_type = collections.defaultdict(set)
    for m in rows:
        by_type[m["mismatch_type"]].add(m["id"])
    assert by_type == {"MISSING_IN_TARGET": missing, "MISSING_IN_SOURCE": extra,
                       "DATA_MISMATCH": mutated}
    assert {(m["id"], f["column"]) for m in rows for f in m["fields"] or []} == {
        (i, c) for i in mutated for c in ("a", "c")}

    compare = ["a", "b", "c"]
    scoped = incremental_checksum_diff(src, tgt, since, compare).collect()
    assert sorted((m["id"], m["mismatch_type"]) for m in scoped) == sorted(
        (m["id"], m["mismatch_type"]) for m in rows if m["id"] in changed)
    assert {m["id"] for m in scoped} == (missing | mutated) & changed
    assert incremental_checksum_diff(src, tgt, src._current_version(), compare) is None

    with pytest.raises(ValueError, match="unknown strategy"):
        run_job(src, tgt, "sample")


def test_row_count_cache_is_bounded(spark):
    """``row_count_validation_from_counts`` keeps at most
    ``ROW_COUNT_CACHE_MAX`` analysed DataFrames."""
    from cass_cdc_pg_spark.operators import reconcile

    fn = reconcile.row_count_validation_from_counts
    for i in range(100):
        fn(spark, 1000 + i, 999)
    assert fn.cache_info().currsize <= reconcile.ROW_COUNT_CACHE_MAX < 100
    assert fn(spark, 1099, 999) is fn(spark, 1099, 999)
    assert fn(spark, 1099, 999).collect()[0]["src_count"] == 1099


def test_empty_source_drift_is_defined(spark):
    """An empty source drifts 0 % from an empty target (``ok``) and
    100 % from any other (``critical``), on the DataFrame path and the
    from-counts SQL path alike — the plain division would raise
    ``DIVIDE_BY_ZERO`` under ANSI."""
    from cass_cdc_pg_spark.operators.reconcile import row_count_validation_from_counts

    for tgt_n, drift, severity in ((3, 100.0, "critical"), (0, 0.0, "ok")):
        for r in (row_count_validation(spark.range(0), spark.range(tgt_n)).collect()[0],
                  row_count_validation_from_counts(spark, 0, tgt_n).collect()[0]):
            assert (r["src_count"], r["tgt_count"], r["mismatch_count"]) == (0, tgt_n, tgt_n)
            assert (r["drift_pct"], r["severity"]) == (drift, severity)


def test_job_on_a_fully_tombstoned_source_completes(spark, recon_pair):
    """A source table whose rows are all tombstoned has no visible
    rows; its reconciliation job still ends COMPLETED, with 100 %
    drift, and the checksum job lists every target row as
    MISSING_IN_SOURCE."""
    from cass_cdc_pg_spark.api import CdcApiService
    from cass_cdc_pg_spark.plans.keyed_table import KeyedTable
    from cass_cdc_pg_spark.streaming.ingest import cdc_table_path

    wh, src_wh, cfg = recon_pair
    src = KeyedTable(spark, cdc_table_path(src_wh, "users"), ["id"])
    src.merge(src.read().withColumns({
        "_cdc_deleted": F.lit(True), "_cdc_timestamp_micros": F.lit(2000).cast("long"),
        "_last_event_id": F.lit("delete-all")}))
    svc = CdcApiService(spark, warehouse=wh, source_warehouse=src_wh, table_config=cfg)
    for strategy in ("row_count", "checksum"):
        job = svc.reconciliation_trigger({"table": "users", "strategy": strategy})
        assert job["status"] == "COMPLETED", job
        assert (job["source_count"], job["target_count"], job["drift_percentage"]) == (
            0, 19, 100.0)
    assert job["mismatch_count"] == 19
