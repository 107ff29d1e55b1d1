"""Change-feed follower with AUTOMATIC snapshot resync — the consumer
half of the CDF rewrite contract.

``KeyedTable.read_changes`` refuses ranges that cross a rewrite commit
(retention / GDPR / TTL sweeps change state without per-row deltas),
and the HTTP surface turns that into 409 Conflict.  A TRUNCATE is not
a rewrite: it commits as a merge of soft-delete tombstones, so the
feed carries it and the follower applies it incrementally.  Until r7 the
"resync from a snapshot" step was the caller's problem; this module
closes the loop: ``ChangeFeedFollower.sync()`` applies ordinary merge
commits incrementally and, when the feed raises (rewrite in range, or
the range aged past retention), re-seeds the derived table from a full
snapshot at the source's current version and continues from there —
no manual step.  This mirrors the reference connector's
``snapshot.mode: initial`` bootstrap (`docker/connectors/
cassandra-source.json:30`): a consumer that cannot replay the log
re-reads the table and rejoins the stream.

Correctness notes:

- The follower's position is its target's ``txn`` entry for the source
  path (``KeyedTable`` module docstring): an incremental apply is one
  ``target.merge(changes, txn=...)`` and a resync one
  ``target.overwrite(snapshot, txn=...)``, so the position commits with
  the state it describes and no crash can separate them.
- Resync uses ``target.overwrite`` — a full atomic state REPLACE, not
  a merge — because rewrite commits can remove rows without
  tombstones (GDPR hard delete); merging a snapshot would resurrect
  nothing but also delete nothing.  The overwrite publishes a
  ``rewrite`` commit on the target, so the contract cascades to the
  target's own feed consumers, and it keeps only its own position.
- A target with no position for this source is resynced when it holds
  state — its rows came from another source (or from before the
  follower), and trusting any number would either no-op or skip
  history — and starts from version 0 when it is empty.  A fresh
  follower on a source whose early history aged past
  ``keep_versions`` bootstraps via the same resync path — the
  snapshot IS the initial load.

Scale posture: steady state is O(changed rows) per sync (the feed
reads only merge-delta dirs); resync is O(source snapshot) by
definition — the same cost Delta/Iceberg CDF consumers pay when a
non-append commit breaks the stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from cass_cdc_pg_spark.plans.keyed_table import KeyedTable


class ChangeFeedFollower:
    """Maintain derived KeyedTable *target* from *source*'s change
    feed; call :meth:`sync` whenever the source may have advanced."""

    def __init__(
        self, spark: SparkSession, source: KeyedTable, target: KeyedTable
    ) -> None:
        self.spark = spark
        self.source = source
        self.target = target

    # -- the one verb -------------------------------------------------------

    def sync(self) -> dict:
        """Advance the target to the source's current version.

        Returns ``{"from", "to", "resynced"}``; ``resynced`` is True
        when the range crossed a rewrite (or fell out of retention, or
        the target holds state from elsewhere) and the target was
        re-seeded from a snapshot instead of replaying per-row deltas."""
        hi = self.source._current_version()
        cur = self.target.txn.get(self.source.path)
        if cur is None and self.target.exists() and hi > 0:
            # state from elsewhere: no position can be trusted.  A source
            # with no commits has no snapshot (not even a schema) to
            # replace it with yet; the resync fires at its first commit
            return self._resync(0, hi)
        cur = cur or 0
        if hi <= cur:
            return {"from": cur, "to": cur, "resynced": False}
        try:
            changes = self.source.read_changes(cur, hi)
            rows = None if changes is None else self._rows(changes, cur, hi)
        except (ValueError, FileNotFoundError):
            return self._resync(cur, hi)
        self.target.merge(rows, txn={self.source.path: hi})
        return {"from": cur, "to": hi, "resynced": False}

    def _resync(self, cur: int, hi: int) -> dict:
        self.target.overwrite(self._snapshot(hi), txn={self.source.path: hi})
        return {"from": cur, "to": hi, "resynced": True}

    # -- what the target holds (``IncrementalAggView`` derives its own) ------

    def _rows(self, changes: DataFrame, cur: int, hi: int) -> DataFrame:
        """Target rows for the source's *changes* in ``(cur, hi]``."""
        return changes.drop("_change_version")

    def _snapshot(self, hi: int) -> DataFrame:
        """The whole target state at source version *hi*."""
        return self.source.read(version=hi)
