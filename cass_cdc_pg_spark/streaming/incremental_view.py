"""Incremental materialized aggregate view over a ``KeyedTable``.

The reference serves its rollup queries (DLQ stats, job stats, drift
dashboards — `src/api/main.py:79-83`) by re-aggregating the target
table on every request.  At 100 TB that recompute is the bottleneck:
a per-key GROUP BY over the full fact table for an answer that only
changed by one microbatch.  ``IncrementalAggView`` keeps COUNT/SUM per
group materialized and maintains it from the table's change feed —
per sync it touches O(changed keys + affected buckets) rows, never the
full table — which is the classic delta-maintenance formulation.

The view is a ``ChangeFeedFollower`` whose target holds totals instead
of rows.  Its state is itself a ``KeyedTable`` at *path*, keyed on the
group columns and holding ``n_rows`` and ``sum_micros``; its position
in the source table's version log is the state table's ``txn`` entry
for the source path, committed in the same commit as the totals it
produced (``KeyedTable`` module docstring).  ``sync()`` advances the
view from that position ``cur`` to the source's current version
``hi``:

    K = keys of read_changes(cur, hi)
    Δ = contribution(read(version=hi) ⋉ K) − contribution(read(version=cur) ⋉ K)

and merges the new totals of the touched groups (a group that reaches
0 rows becomes a tombstone).  Because Δ compares two committed
snapshots of the table, it is whatever the table's LWW decided: an
out-of-order row that lost changes neither snapshot and adds nothing,
a DELETE or a TRUNCATE (merged as tombstones,
``KeyedTable.truncate_tombstones``) retracts, a re-create re-adds, and
it does not matter who wrote the table (the stream, ``seed_snapshot``,
a DLQ replay) or how often a batch was replayed.  Soft-deleted rows
contribute nothing.  TTL expiry is intentionally NOT part of the view
(it is wall-clock-dependent, which would make the materialized state
nondeterministic); the view converges to ``GROUP BY`` over
``table.read()`` filtered on ``~_cdc_deleted`` — ``recompute()``.

A range the feed cannot serve — no position yet on a state table that
holds rows, a rewrite commit in range (``ValueError``), or ``cur`` aged
out of the table's retention (``FileNotFoundError``) — is rebuilt from
the full aggregate at ``hi`` with one ``overwrite``: the follower's
resync.  A range of compactions only moves the position.

Scale posture: a sync shuffles only the changed keys plus the pruned
bucket reads (``KeyedTable.read(buckets=...)``) of the two versions;
the view holds one row per group, so reads are independent of
fact-table size.  The state table compacts like any ``KeyedTable``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cass_cdc_pg_spark.plans.keyed_table import KeyedTable
from cass_cdc_pg_spark.streaming.follower import ChangeFeedFollower

_SCALE = 1_000_000  # exact integer micros, the repo-wide sum convention


class IncrementalAggView(ChangeFeedFollower):
    """COUNT/SUM per *group_cols* over *value_col* of *table*'s visible
    rows, maintained from its change feed without rescanning it.
    ``source`` is *table*; ``target`` is the state table at *path*."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        table: KeyedTable,
        group_cols: list[str],
        value_col: str,
    ) -> None:
        self.group_cols = list(group_cols)
        self.value_col = value_col
        # one row per group: a single bucket holds it
        state = KeyedTable(spark, path, self.group_cols, num_buckets=1)
        super().__init__(spark, table, state)

    def _contribution(self, rows: DataFrame) -> DataFrame:
        """Per-group (count, exact-micros sum) of the VISIBLE rows."""
        v_mu = (
            F.col(self.value_col).cast("decimal(18,6)") * _SCALE
        ).cast("bigint")
        return (
            rows.filter(~F.col("_cdc_deleted"))
            .select(*self.group_cols, v_mu.alias("_v"))
            .groupBy(*self.group_cols)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("_v").cast("long").alias("sum_micros"),
            )
        )

    def _stamped(self, totals: DataFrame, hi: int) -> DataFrame:
        """*totals* (group cols, n_rows, sum_micros) as state rows at
        source version *hi*: each sync outranks every earlier one by
        LWW, and a group with no rows left is a tombstone."""
        return totals.withColumns(
            {
                "_cdc_deleted": F.col("n_rows") == 0,
                "_cdc_timestamp_micros": F.lit(hi).cast("long"),
                "_last_event_id": F.lit(""),
                "_ttl_expiry_timestamp_us": F.lit(None).cast("long"),
            }
        )

    # -- the follower hooks (``sync`` is ``ChangeFeedFollower.sync``) --------

    def _rows(self, changes: DataFrame, cur: int, hi: int) -> DataFrame:
        """New totals of the groups the keys of *changes* touch: the
        stored totals plus contribution(hi) − contribution(cur) of
        those keys."""
        key_cols = self.source.key_cols
        keys = changes.select(*key_cols).distinct()
        buckets = self.source.bucket_ids(keys)
        parts = []
        for version, sign in ((hi, 1), (cur, -1)):
            rows = self.source.read(buckets, version=version)
            if rows is not None:
                c = self._contribution(rows.join(keys, key_cols, "left_semi"))
                parts.append(c.select(
                    *self.group_cols,
                    (F.col("n_rows") * sign).alias("n_rows"),
                    (F.col("sum_micros") * sign).alias("sum_micros"),
                    F.lit(True).alias("_touched"),
                ))
        stored = self._stored()
        if stored is not None:
            parts.append(stored.withColumn("_touched", F.lit(False)))
        both = parts[0]
        for p in parts[1:]:
            both = both.unionByName(p)
        # one grouped pass adds Δ to the stored totals (a groupBy, not
        # a join, so NULL group values match) and keeps touched groups
        totals = (
            both.groupBy(*self.group_cols)
            .agg(
                F.sum("n_rows").cast("long").alias("n_rows"),
                F.sum("sum_micros").cast("long").alias("sum_micros"),
                F.max("_touched").alias("_touched"),
            )
            .filter("_touched")
            .drop("_touched")
        )
        return self._stamped(totals, hi)

    def _snapshot(self, hi: int) -> DataFrame:
        return self._stamped(self._contribution(self.source.read(version=hi)), hi)

    # -- read ----------------------------------------------------------------

    def _stored(self) -> DataFrame | None:
        """The committed per-group totals, None before the first."""
        if not self.target.exists():
            return None
        return self.target.read().filter(~F.col("_cdc_deleted")).select(
            *self.group_cols, "n_rows", "sum_micros"
        )

    def read(self) -> DataFrame | None:
        """Current per-group (n_rows, sum_micros), synced first — a scan
        of the one-row-per-group state, independent of fact-table size.
        None while the view holds no rows."""
        self.sync()
        return self._stored()

    # -- verification -------------------------------------------------------

    def recompute(self) -> DataFrame | None:
        """The authoritative batch answer (full rescan) the view must
        equal — used by tests and by operators who want a periodic
        reconcile, exactly the reference's validation-query pattern."""
        if not self.source.exists():
            return None
        return self._contribution(self.source.read())
