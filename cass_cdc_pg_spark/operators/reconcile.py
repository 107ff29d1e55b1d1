"""Reconciliation query layer (SURVEY.md §2.4, Q1-Q8 + Q20).

The reference reconciles source vs target with four strategies
(``src/services/reconciliation_engine.py``): ROW_COUNT, CHECKSUM,
TIMESTAMP_RANGE, SAMPLE.  Its CHECKSUM strategy does N point lookups
in a Python loop (``reconciliation_engine.py:213-267``); here each
strategy is ONE distributed plan:

- row counts   → two aggregates, no shuffle of data rows
- checksum     → full-outer join on the PK with per-side checksums;
  classification of all three mismatch kinds in a single pass
  (MISSING_IN_TARGET / MISSING_IN_SOURCE / DATA_MISMATCH,
  ``src/models/reconciliation_mismatch.py:15-20``)
- field diff   → unpivot of the mismatching columns
  (``reconciliation_mismatch.py:134-169``)

``run_job`` composes them into the one reconciliation job over two
replicated ``KeyedTable``s; the trigger route, ``reconcile run`` and
the scheduler all run it.

Scale: the join shuffles both sides by PK — at 100 TB enable AQE skew
join (on by default in our session) and optionally bucket both tables
by PK so the join is shuffle-free.  Nothing is collected to the
driver; mismatch rows stay distributed.
"""

from __future__ import annotations

import functools
import os
import shutil

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cass_cdc_pg_spark.functions.checksum import row_checksum
from cass_cdc_pg_spark.plans.keyed_table import META_COLS

MISSING_IN_TARGET = "MISSING_IN_TARGET"
MISSING_IN_SOURCE = "MISSING_IN_SOURCE"
DATA_MISMATCH = "DATA_MISMATCH"

#: Drift-% severity thresholds of every severity path (``alert_service.py:135-151``).
DRIFT_WARNING_PCT = 1.0
DRIFT_CRITICAL_PCT = 5.0


def drift_pct(src_count: Column, tgt_count: Column) -> Column:
    """|a-b|/a*100 rounded to 2 dp (``reconciliation_engine.py:107-119``).
    An empty source drifts 0 % from an empty target and 100 % from any
    other, so a table whose source rows are all gone still reconciles
    (the division would raise under ANSI)."""
    return F.when(
        src_count == 0, F.when(tgt_count == 0, F.lit(0.0)).otherwise(F.lit(100.0))
    ).otherwise(F.round(F.abs(src_count - tgt_count) * F.lit(100.0) / src_count, 2))


def drift_severity(drift: Column) -> Column:
    """Threshold classification of a drift percentage."""
    return (
        F.when(drift >= DRIFT_CRITICAL_PCT, F.lit("critical"))
        .when(drift >= DRIFT_WARNING_PCT, F.lit("warning"))
        .otherwise(F.lit("ok"))
    )


def _row_count_projection(counts: DataFrame) -> DataFrame:
    """(src_count, tgt_count) → the Q1 result row shape."""
    return counts.select(
        "src_count",
        "tgt_count",
        F.abs(F.col("src_count") - F.col("tgt_count")).alias("mismatch_count"),
        drift_pct(F.col("src_count"), F.col("tgt_count")).alias("drift_pct"),
        drift_severity(
            drift_pct(F.col("src_count"), F.col("tgt_count"))
        ).alias("severity"),
    )


def row_count_validation(src: DataFrame, tgt: DataFrame) -> DataFrame:
    """Q1 ROW_COUNT: counts, |diff|, drift%, severity — one row."""
    a = src.agg(F.count(F.lit(1)).alias("src_count"))
    b = tgt.agg(F.count(F.lit(1)).alias("tgt_count"))
    return _row_count_projection(a.crossJoin(b))


#: Most recently used analysed DataFrames ``row_count_validation_from_counts`` keeps.
ROW_COUNT_CACHE_MAX = 64


@functools.lru_cache(maxsize=ROW_COUNT_CACHE_MAX)
def row_count_validation_from_counts(
    spark, src_count: int, tgt_count: int
) -> DataFrame:
    """Q1 fast path: build the validation row from pre-computed counts
    (parquet footer statistics — ``tables.stats_row_count``, memoized).
    The arithmetic runs as ONE ``spark.sql`` statement (identical
    ROUND/severity semantics to the generic path — it is the same
    Catalyst expressions), because building the projection through the
    Column API costs ~70 ms of py4j round-trips per call; the analyzed
    DataFrame is memoized per (session, counts) — the
    ``ROW_COUNT_CACHE_MAX`` most recently used, keyed on the session
    object, whose ``id()`` could be reused once it is collected — so
    repeat runs pay only the action.

    Floor note (measured local[32], warm): executing *any* one-row
    ``count()`` costs ~70 ms on this box (job scheduling + py4j), vs
    ~35 ms for a ``SELECT 1`` collect — the remaining gap to DuckDB's
    ~20 ms in-process count is pure session overhead, not plan work
    (``spark.createDataFrame`` is deliberately avoided: its pickled-RDD
    path costs ~250 ms per action)."""
    a, b = int(src_count), int(tgt_count)
    # an empty source: 0 % against an empty target, else 100 % (drift_pct)
    drift = (f"ROUND(ABS(CAST({a} AS BIGINT) - CAST({b} AS BIGINT)) * 100.0 / {a}, 2)"
             if a else "0.0" if b == 0 else "100.0")
    # CAST to DOUBLE: the bare SQL literal 100.0 is DECIMAL, so the
    # ROUND would otherwise surface as decimal(27,2) — a type the
    # driver's pandas canonicalizer is not guaranteed to render the
    # way the oracle's DOUBLE renders (tests/test_oracle_dtypes.py).
    return spark.sql(
        f"SELECT CAST({a} AS BIGINT) AS src_count, CAST({b} AS BIGINT) AS tgt_count, "
        f"ABS(CAST({a} AS BIGINT) - CAST({b} AS BIGINT)) AS mismatch_count, "
        f"CAST({drift} AS DOUBLE) AS drift_pct, "
        f"CASE WHEN {drift} >= {DRIFT_CRITICAL_PCT} THEN 'critical' "
        f"WHEN {drift} >= {DRIFT_WARNING_PCT} THEN 'warning' ELSE 'ok' END AS severity"
    )


def with_checksum(df: DataFrame, pk: list[str], compare_cols: list[str]) -> DataFrame:
    """Q2: project PK + canonical SHA-256 checksum of *compare_cols*."""
    return df.select(*pk, row_checksum(df, compare_cols).alias("checksum"))


def _classify_checksum_join(s: DataFrame, t: DataFrame, pk: list[str]) -> DataFrame:
    """Full-outer join of (pk, src_checksum) vs (pk, tgt_checksum) and
    three-way mismatch classification — the shared tail of Q3/Q5."""
    joined = s.join(t, on=pk, how="full_outer")
    mismatch = (
        F.when(F.col("tgt_checksum").isNull(), F.lit(MISSING_IN_TARGET))
        .when(F.col("src_checksum").isNull(), F.lit(MISSING_IN_SOURCE))
        .when(F.col("src_checksum") != F.col("tgt_checksum"), F.lit(DATA_MISMATCH))
    )
    return (
        joined.withColumn("mismatch_type", mismatch)
        .filter(F.col("mismatch_type").isNotNull())
        .select(*pk, "mismatch_type", "src_checksum", "tgt_checksum")
    )


def checksum_diff(
    src: DataFrame,
    tgt: DataFrame,
    pk: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Q3+Q4: full-outer checksum join → one row per divergent key.

    Output: pk columns, mismatch_type, src_checksum, tgt_checksum.
    """
    s = with_checksum(src, pk, compare_cols).withColumnRenamed("checksum", "src_checksum")
    t = with_checksum(tgt, pk, compare_cols).withColumnRenamed("checksum", "tgt_checksum")
    return _classify_checksum_join(s, t, pk)


def checksum_diff_precomputed(
    src: DataFrame,
    tgt: DataFrame,
    pk: list[str],
    checksum_col: str = "_ck",
) -> DataFrame:
    """Q3 over write-time checksums: both sides already carry a
    canonical checksum column (computed once when the bucketed replica
    was written — ``tables.bucketed_pair(checksum_cols=...)``), so the
    per-run plan is a narrow (pk, checksum) scan + zipped sort-merge
    join + filter.  Real reconciliation replicas are written once and
    compared many times; amortizing the sha256/canonicalization into
    the write removes the dominant per-run cost (reference analog: the
    target is a persistent Postgres table, not a per-run derivation —
    ``reconciliation_engine.py:423-459`` re-reads, never re-derives)."""
    s = src.select(*pk, F.col(checksum_col).alias("src_checksum"))
    t = tgt.select(*pk, F.col(checksum_col).alias("tgt_checksum"))
    return _classify_checksum_join(s, t, pk)


def incremental_checksum_diff(
    src_table,
    tgt_table,
    since_version: int,
    compare_cols: list[str],
) -> DataFrame | None:
    """CHECKSUM reconciliation restricted to the keys the SOURCE's
    change feed touched after *since_version* — the delta complement
    to the periodic full ``checksum_diff`` (reference analog: hourly
    full jobs + on-demand scoped jobs,
    ``src/services/reconciliation_engine.py``; this is the scoped job
    with the scope derived from the table's own commit log instead of
    a user predicate).

    Cost is O(changed keys + their buckets), independent of table
    size: the feed read touches only the merge deltas in the range,
    both snapshot reads prune to the buckets those keys hash to, and
    the compare semi-joins down to the changed keys before any
    checksum is computed.  Returns None when the range contains no
    changes; propagates the feed's ValueError when the range crosses
    a rewrite (a scoped check cannot vouch for keys a rewrite touched
    invisibly — run the full diff instead).

    Both tables must share *key_cols*.  Drift on keys NOT touched in
    the range is intentionally out of scope — that is what the
    periodic full job is for."""
    pk = list(src_table.key_cols)
    if sorted(tgt_table.key_cols) != sorted(pk):
        raise ValueError(
            "incremental_checksum_diff requires both tables to share key "
            f"columns; src={pk} tgt={list(tgt_table.key_cols)}"
        )
    changes = src_table.read_changes(since_version)
    if changes is None:
        return None
    keys = changes.select(*pk).distinct()
    # each side prunes with its own bucket ids (its own persisted key
    # order and bucket count); one discovery job covers both sides in
    # the common same-layout case
    src_buckets = src_table.bucket_ids(keys)
    same_layout = (
        src_table.num_buckets == tgt_table.num_buckets
        and list(tgt_table.key_cols) == pk
    )
    tgt_buckets = src_buckets if same_layout else tgt_table.bucket_ids(keys)
    src = src_table.read(buckets=src_buckets)
    tgt = tgt_table.read(buckets=tgt_buckets) if tgt_table.exists() else None
    src = src.filter(~F.col("_cdc_deleted")).join(keys, pk, "left_semi")
    if tgt is None:
        return with_checksum(src, pk, compare_cols).select(
            *pk,
            F.lit(MISSING_IN_TARGET).alias("mismatch_type"),
            F.col("checksum").alias("src_checksum"),
            F.lit(None).cast("string").alias("tgt_checksum"),
        )
    tgt = tgt.filter(~F.col("_cdc_deleted")).join(keys, pk, "left_semi")
    return checksum_diff(src, tgt, pk, compare_cols)


def field_diff(
    src: DataFrame,
    tgt: DataFrame,
    pk: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Q8: long-format per-column diff for keys present on both sides.

    Output: pk columns, column (name), src_val, tgt_val (canonical
    strings) — only where the values differ.
    """
    from cass_cdc_pg_spark.functions.checksum import _canon_spark  # local, intentional

    schema = {f.name: f.dataType for f in src.schema.fields}
    s = src.select(*pk, *[
        _canon_spark(c, schema[c]).alias(f"s_{c}") for c in compare_cols
    ])
    schema_t = {f.name: f.dataType for f in tgt.schema.fields}
    t = tgt.select(*pk, *[
        _canon_spark(c, schema_t[c]).alias(f"t_{c}") for c in compare_cols
    ])
    joined = s.join(t, on=pk, how="inner")
    pairs = F.array(*[
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"s_{c}").alias("src_val"),
            F.col(f"t_{c}").alias("tgt_val"),
        )
        for c in sorted(compare_cols)
    ])
    exploded = joined.select(*pk, F.explode(pairs).alias("d"))
    # null-safe inequality: NULL-vs-value IS a difference (ADVICE r1)
    return exploded.filter(~F.col("d.src_val").eqNullSafe(F.col("d.tgt_val"))).select(
        *pk,
        F.col("d.column").alias("column"),
        F.col("d.src_val").alias("src_val"),
        F.col("d.tgt_val").alias("tgt_val"),
    )


#: The strategies ``run_job`` runs.
STRATEGIES = ("row_count", "checksum")


def run_job(source, target, strategy: str) -> dict:
    """One reconciliation job of the keyed table *target* against its
    *source* (two ``KeyedTable``s on the same key columns), over their
    visible rows and the payload columns both sides hold:

    - ``row_count``: Q1.
    - ``checksum``: Q1 and the Q3 checksum diff, each DATA_MISMATCH key
      carrying its Q8 field diff.

    Returns the Q1 row (src_count, tgt_count, mismatch_count, drift_pct,
    severity) with ``mismatches``: None for ``row_count``, else a
    DataFrame of one row per divergent key — pk columns, mismatch_type,
    src_checksum, tgt_checksum and ``fields`` (array of column,
    src_val, tgt_val; null unless DATA_MISMATCH).  Only the Q1 row is
    collected.  The scoped job over the keys a change feed touched is
    ``incremental_checksum_diff``."""
    if strategy not in STRATEGIES:
        raise ValueError(f"unknown strategy: {strategy}")
    pk = list(source.key_cols)
    src = source.read_live().drop(*META_COLS)
    tgt = target.read_live().drop(*META_COLS)
    out = {**row_count_validation(src, tgt).collect()[0].asDict(), "mismatches": None}
    if strategy == "row_count":
        return out
    compare = [c for c in src.columns if c not in pk and c in tgt.columns]
    diff = checksum_diff(src, tgt, pk, compare)
    dm = diff.filter(F.col("mismatch_type") == DATA_MISMATCH).select(*pk)
    fields = field_diff(
        src.join(dm, pk, "left_semi"), tgt.join(dm, pk, "left_semi"), pk, compare,
    ).groupBy(*pk).agg(
        F.array_sort(F.collect_list(F.struct("column", "src_val", "tgt_val"))).alias("fields"))
    out["mismatches"] = diff.join(fields, pk, "left")
    return out


def register_bucketed(
    spark,
    df: DataFrame,
    name: str,
    pk: list[str],
    num_buckets: int = 32,
) -> DataFrame:
    """Persist *df* as a catalog table hash-bucketed (and sorted) on
    the PK.  Joins between two tables bucketed the same way on the
    same keys plan as **shuffle-free** sort-merge joins — the scan
    output is already partitioned and sorted on the join key, so
    Catalyst elides both Exchanges.  This is the 100 TB reconciliation
    path: bucket source and target replicas once at write time, then
    every checksum_diff run joins without moving either table.
    ``test_reconcile.py`` pins the no-Exchange plan shape."""
    # true overwrite: a stale warehouse dir left by a previous session
    # (table absent from this session's in-memory catalog but present
    # on disk) would otherwise fail with LOCATION_ALREADY_EXISTS
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    loc = os.path.join(wh.removeprefix("file:"), name.lower())
    if wh and os.path.exists(loc):
        shutil.rmtree(loc, ignore_errors=True)
    (
        df.write.bucketBy(num_buckets, *pk)
        .sortBy(*pk)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(name)
    )
    return spark.table(name)


def deterministic_sample(df: DataFrame, mod_col: Column, buckets: int, keep: int) -> DataFrame:
    """Q6 SAMPLE, made oracle-checkable: keep rows whose deterministic
    ``mod_col % buckets`` lands below *keep* (the reference samples with
    an unseeded RNG, ``reconciliation_engine.py:461-499``, which cannot
    be hash-compared)."""
    return df.filter((mod_col % F.lit(buckets)) < F.lit(keep))
