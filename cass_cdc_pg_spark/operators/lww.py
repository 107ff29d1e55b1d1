"""Last-writer-wins conflict resolution (SURVEY.md §2.3, C1-C4).

Semantics (``src/connectors/transforms/timestamp_conflict_resolver.py:40-186``,
executable spec ``tests/integration/test_out_of_order_events.py``):

- an incoming event wins iff its ``timestamp_micros`` is greater than
  the current row's, OR timestamps are equal and its ``event_id`` is
  lexicographically greater (C2 tiebreak);
- a winning DELETE soft-deletes (``_cdc_deleted = true``) keeping the
  delete's timestamp (C4);
- replaying the same event is a no-op (C5 idempotence) — the ordering
  is a total order per key, so any permutation / duplication of the
  event multiset converges to the same state.

Implementation: ``max_by(struct(payload), struct(ts, event_id))`` —
an *aggregate*, not a window.  On its own, Catalyst plans it with a
map-side partial aggregate, so each executor reduces its partitions
to ≤1 row per key before the shuffle; a window (`row_number`)
variant would shuffle + sort every event.  ``KeyedTable``'s write
path (merge, compaction, rewrites) instead hands it rows already
clustered by bucket and groups on ``("_bucket", *key_cols)``, bucket
first: the aggregate then runs after that one bucket shuffle, with no
exchange of its own, and its sort on the grouping keys is the order the
bucket files are written in, so the write adds no sort of its own.
`lww_window` is kept for the cross-check test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def lww_latest(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "timestamp_micros",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Reduce an event set to the winning event per key (C1+C2)."""
    payload = [c for c in df.columns if c not in keys]
    agg = df.groupBy(*keys).agg(
        F.max_by(
            F.struct(*payload),
            F.struct(F.col(ts_col), F.col(tiebreak_col)),
        ).alias("_win")
    )
    return agg.select(*keys, "_win.*")


def lww_window(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "timestamp_micros",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """row_number() formulation of the same semantics (cross-check)."""
    w = Window.partitionBy(*keys).orderBy(
        F.col(ts_col).desc(), F.col(tiebreak_col).desc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def conflict_metadata(
    current: DataFrame,
    batch: DataFrame,
    keys: list[str],
    ts_col: str = "_cdc_timestamp_micros",
    tiebreak_col: str = "_last_event_id",
) -> DataFrame:
    """T16 (``timestamp_conflict_resolver.py:188-222``): annotate each
    incoming row with a ``_conflict_resolution`` struct — merge-outcome
    observability, computed alongside (not inside) the merge hot path:

    - ``had_conflict``: the key already exists in current state
    - ``accepted``: the incoming row wins the LWW order
    - ``timestamp_diff_us``: incoming ts − current ts (NULL if new key)
    """
    cur = current.select(
        *keys,
        F.col(ts_col).alias("_cur_ts"),
        F.col(tiebreak_col).alias("_cur_eid"),
    )
    joined = batch.join(cur, on=keys, how="left")
    wins = F.when(F.col("_cur_ts").isNull(), F.lit(True)).otherwise(
        (F.col(ts_col) > F.col("_cur_ts"))
        | ((F.col(ts_col) == F.col("_cur_ts"))
           & (F.col(tiebreak_col) > F.col("_cur_eid")))
    )
    return joined.withColumn(
        "_conflict_resolution",
        F.struct(
            F.col("_cur_ts").isNotNull().alias("had_conflict"),
            wins.alias("accepted"),
            (F.col(ts_col) - F.col("_cur_ts")).alias("timestamp_diff_us"),
        ),
    ).drop("_cur_ts", "_cur_eid")


def lww_merge(
    current: DataFrame,
    batch: DataFrame,
    keys: list[str],
    ts_col: str = "_cdc_timestamp_micros",
    tiebreak_col: str = "_last_event_id",
) -> DataFrame:
    """Cross-batch LWW (C1b): combine current state with an incoming
    (already per-key-deduped) batch; the greater (ts, event_id) wins.

    Equivalent to the reference's guarded upsert
    (``timestamp_conflict_resolver.py:247-285``) expressed as a keyed
    reduce instead of per-row ``ON CONFLICT`` SQL.
    """
    cols = current.columns
    assert set(cols) == set(batch.columns), (cols, batch.columns)
    return lww_latest(
        current.unionByName(batch.select(*cols)),
        keys,
        ts_col=ts_col,
        tiebreak_col=tiebreak_col,
    )
