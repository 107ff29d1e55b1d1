"""Incremental materialized aggregate view over a ``KeyedTable``.

The reference serves its rollup queries (DLQ stats, job stats, drift
dashboards — `src/api/main.py:79-83`) by re-aggregating the target
table on every request.  At 100 TB that recompute is the bottleneck:
a per-key GROUP BY over the full fact table for an answer that only
changed by one microbatch.  ``IncrementalAggView`` maintains the
aggregate incrementally — per batch it touches O(batch + affected
buckets) rows, never the full table — which is the classic
delta-maintenance formulation (ΔV = agg(new winners) − agg(old
state of the touched keys)).

Correctness under LWW: a CDC batch only changes the table where its
rows WIN last-writer-wins against current state.  The maintainer
therefore replays exactly the table's conflict resolution on the
touched keys:

    winners = lww(batch ∪ current-state[touched keys])
    ΔV      = contribution(winners) − contribution(old state)

If an out-of-order batch row loses, ``winners`` equals the old state
and its delta contribution cancels to zero — no drift, no special
case.  Soft-deleted rows (tombstones) contribute nothing, so DELETE
retracts and a re-create re-adds.  A TRUNCATE reaches the view the
same way: the ingest merges it as one tombstone per row it beats
(``KeyedTable.truncate_tombstones``), and ``apply_batch`` folds those
like any other batch rows.  TTL expiry is intentionally NOT
part of the view (it is wall-clock-dependent, which would make the
materialized state nondeterministic); the view converges to
``GROUP BY`` over ``table.read()`` filtered on ``~_cdc_deleted``.

Storage is an additive delta log, the same LSM idea as ``KeyedTable``
but with a SUM-reduce instead of an LWW-reduce: each ``apply_batch``
appends one small parquet of per-group deltas (``d_count``,
``d_sum``); ``read()`` folds the log with one tiny groupBy (sums are
exact BIGINT micros, so folding order is irrelevant); ``compact()``
rolls the log into a single base atomically (fresh dir + manifest
pointer swap, crash-safe the same way ``KeyedTable._publish`` is) and
removes every log dir the new manifest does not name.
The log depth is bounded by ``compact_threshold``, so read cost never
grows unboundedly between compactions.

Scale posture: the per-batch maintenance job shuffles only the batch
keys plus the pruned bucket read (same pruning as
``KeyedTable.read(buckets=...)``); the view itself holds one row per
group — the whole point is that reads and writes are both independent
of fact-table size.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cass_cdc_pg_spark.durable import write_json
from cass_cdc_pg_spark.operators.lww import lww_latest
from cass_cdc_pg_spark.plans.keyed_table import KeyedTable

_SCALE = 1_000_000  # exact integer micros, the repo-wide sum convention


class IncrementalAggView:
    """COUNT/SUM per *group_cols* over *value_col*, maintained from
    CDC batches without rescanning the fact table."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        table: KeyedTable,
        group_cols: list[str],
        value_col: str,
        compact_threshold: int = 8,
    ) -> None:
        self.spark = spark
        self.path = path.rstrip("/")
        self.table = table
        self.group_cols = list(group_cols)
        self.value_col = value_col
        self.compact_threshold = compact_threshold
        os.makedirs(self.path, exist_ok=True)

    # -- manifest (same atomic-replace discipline as KeyedTable) ------------

    @property
    def _manifest_path(self) -> str:
        return f"{self.path}/_view_manifest.json"

    def _read_manifest(self) -> dict:
        try:
            with open(self._manifest_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"base": None, "deltas": []}

    def _write_manifest(self, m: dict) -> None:
        write_json(self._manifest_path, m)

    # -- delta computation --------------------------------------------------

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
                F.count(F.lit(1)).cast("long").alias("d_count"),
                F.sum("_v").cast("long").alias("d_sum"),
            )
        )

    def apply_batch(self, batch: DataFrame, batch_id: int | None = None) -> None:
        """Fold one CDC batch (key cols + META_COLS + payload; a
        TRUNCATE's tombstones are batch rows too) into the view,
        BEFORE the corresponding ``table.merge(batch)`` — the "old
        state" read must not already contain the batch, or its
        contribution would double-count.

        Replay safety: additive deltas are NOT idempotent the way the
        table's LWW merge is, so streaming callers pass the
        ``foreachBatch`` *batch_id* — a batch at or below the
        manifest's high-water mark is skipped, which makes
        crash-replay exactly-once for the view regardless of whether
        the crash hit before or after the table merge (the batch_id
        commits in the SAME atomic manifest write as the delta)."""
        if batch_id is not None:
            if self._read_manifest().get("last_batch_id", -1) >= batch_id:
                return
        # reduce the batch to its per-key winner first — intra-batch
        # LWW, same as KeyedTable.merge does — and project to the
        # columns maintenance actually needs, so schema evolution in
        # unrelated payload columns can't break the union
        need = list(
            dict.fromkeys(
                [
                    *self.table.key_cols,
                    "_cdc_deleted",
                    "_cdc_timestamp_micros",
                    "_last_event_id",
                    *self.group_cols,
                    self.value_col,
                ]
            )
        )
        reduced = lww_latest(
            batch.select(*need),
            self.table.key_cols,
            ts_col="_cdc_timestamp_micros",
            tiebreak_col="_last_event_id",
        )
        keys = reduced.select(*self.table.key_cols)
        buckets = self.table.bucket_ids(reduced)
        old = (
            self.table.read(buckets=buckets)
            if self.table.exists()
            else None
        )
        if old is not None:
            old = old.join(keys, on=self.table.key_cols, how="left_semi").select(
                *need
            )
            cols = reduced.columns
            winners = lww_latest(
                reduced.select(*cols).unionByName(old.select(*cols)),
                self.table.key_cols,
                ts_col="_cdc_timestamp_micros",
                tiebreak_col="_last_event_id",
            )
            retract = self._contribution(old).select(
                *self.group_cols,
                (-F.col("d_count")).alias("d_count"),
                (-F.col("d_sum")).alias("d_sum"),
            )
            delta = (
                self._contribution(winners)
                .unionByName(retract)
                .groupBy(*self.group_cols)
                .agg(
                    F.sum("d_count").cast("long").alias("d_count"),
                    F.sum("d_sum").cast("long").alias("d_sum"),
                )
                .filter((F.col("d_count") != 0) | (F.col("d_sum") != 0))
            )
        else:
            delta = self._contribution(reduced)

        name = f"vdelta-{uuid.uuid4().hex[:12]}"
        delta.coalesce(1).write.parquet(f"{self.path}/{name}")
        m = self._read_manifest()
        m["deltas"].append(name)
        if batch_id is not None:
            m["last_batch_id"] = batch_id
        self._write_manifest(m)
        if len(m["deltas"]) > self.compact_threshold:
            self.compact()

    # -- read / compact -----------------------------------------------------

    def _fold(self, dirs: list[str]) -> DataFrame | None:
        if not dirs:
            return None
        df = self.spark.read.parquet(*dirs)
        return (
            df.groupBy(*self.group_cols)
            .agg(
                F.sum("d_count").cast("long").alias("n_rows"),
                F.sum("d_sum").cast("long").alias("sum_micros"),
            )
            .filter(F.col("n_rows") > 0)
        )

    def read(self) -> DataFrame | None:
        """Current per-group (n_rows, sum_micros) — a fold over
        O(groups × log-depth) rows, independent of fact-table size."""
        m = self._read_manifest()
        dirs = [f"{self.path}/{d}" for d in ([m["base"]] if m["base"] else [])]
        dirs += [f"{self.path}/{d}" for d in m["deltas"]]
        return self._fold(dirs)

    def compact(self) -> None:
        """Roll the delta log into one base.  Crash-safe: the new base
        is fully written before the manifest pointer swaps (keeping the
        batch_id high-water mark); a failure in between leaves the old
        manifest and a dir it does not name.  After the swap every
        ``vdelta-``/``vbase-`` dir but the new base goes: the folded
        log and any dir a crashed write left behind."""
        m = self._read_manifest()
        folded = self.read()
        if folded is None:
            return
        name = f"vbase-{uuid.uuid4().hex[:12]}"
        folded.select(
            *self.group_cols,
            F.col("n_rows").alias("d_count"),
            F.col("sum_micros").alias("d_sum"),
        ).coalesce(1).write.parquet(f"{self.path}/{name}")
        self._write_manifest({**m, "base": name, "deltas": []})
        for d in os.listdir(self.path):
            if d.startswith(("vdelta-", "vbase-")) and d != name:
                shutil.rmtree(f"{self.path}/{d}", ignore_errors=True)

    # -- verification -------------------------------------------------------

    def recompute(self) -> DataFrame | None:
        """The authoritative batch answer (full rescan) the view must
        equal — used by tests and by operators who want a periodic
        reconcile, exactly the reference's validation-query pattern."""
        if not self.table.exists():
            return None
        return (
            self._contribution(self.table.read())
            .select(
                *self.group_cols,
                F.col("d_count").alias("n_rows"),
                F.col("d_sum").alias("sum_micros"),
            )
            .filter(F.col("n_rows") > 0)
        )
