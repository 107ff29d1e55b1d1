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

- Incremental applies go through ``target.merge`` (LWW), so a crash
  between merge and cursor write replays the same range idempotently.
- Resync uses ``target.overwrite`` — a full atomic state REPLACE, not
  a merge — because rewrite commits can remove rows without
  tombstones (GDPR hard delete); merging a snapshot would resurrect
  nothing but also delete nothing.  The overwrite publishes a
  ``rewrite`` commit on the target, so the contract cascades to the
  target's own feed consumers.
- A fresh follower (cursor 0) on a source whose early history aged
  past ``keep_versions`` bootstraps via the same resync path — the
  snapshot IS the initial load.

Scale posture: steady state is O(changed rows) per sync (the feed
reads only merge-delta dirs); resync is O(source snapshot) by
definition — the same cost Delta/Iceberg CDF consumers pay when a
non-append commit breaks the stream.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession

from cass_cdc_pg_spark.durable import write_json
from cass_cdc_pg_spark.plans.keyed_table import KeyedTable


class ChangeFeedFollower:
    """Maintain derived KeyedTable *target* from *source*'s change
    feed; call :meth:`sync` whenever the source may have advanced."""

    def __init__(
        self,
        spark: SparkSession,
        source: KeyedTable,
        target: KeyedTable,
        cursor_path: str | None = None,
    ) -> None:
        self.spark = spark
        self.source = source
        self.target = target
        os.makedirs(target.path, exist_ok=True)
        self.cursor_path = cursor_path or f"{target.path}/_follower_cursor.json"

    # -- cursor (replaced whole through durable.write_json) ----------------

    def _cursor(self) -> int | None:
        """Stored version, or ``None`` when the cursor belongs to a
        DIFFERENT source (r7 ADVICE): its version numbers index the
        other table's commit log, so trusting it either no-ops (new
        source's version <= stale cursor) or silently skips the new
        source's early history — and even merging from 0 would leave
        the old source's rows in the target.  ``None`` makes sync()
        take the snapshot-OVERWRITE path, which replaces state."""
        try:
            with open(self.cursor_path) as f:
                state = json.load(f)
        except FileNotFoundError:
            return 0
        if state.get("source") not in (None, self.source.path):
            return None
        return int(state["version"])

    def _write_cursor(self, version: int) -> None:
        write_json(self.cursor_path, {"version": version, "source": self.source.path})

    # -- the one verb -------------------------------------------------------

    def sync(self) -> dict:
        """Advance the target to the source's current version.

        Returns ``{"from", "to", "resynced"}``; ``resynced`` is True
        when the range crossed a rewrite (or fell out of retention)
        and the target was re-seeded from a snapshot instead of
        replaying per-row deltas."""
        hi = self.source._current_version()
        cur = self._cursor()
        if cur is None:  # cursor from another source: force re-seed
            if hi == 0:
                # new source has no commits yet — nothing to seed
                # from (and no schema to build an empty snapshot
                # with).  Leave the stale cursor in place so the
                # resync fires at the source's first commit.
                return {"from": 0, "to": 0, "resynced": False}
            return self._resync(0, hi)
        if hi <= cur:
            return {"from": cur, "to": cur, "resynced": False}
        try:
            changes = self.source.read_changes(cur, hi)
        except (ValueError, FileNotFoundError):
            return self._resync(cur, hi)
        if changes is not None:
            self.target.merge(changes.drop("_change_version"))
        self._write_cursor(hi)
        return {"from": cur, "to": hi, "resynced": False}

    def _resync(self, cur: int, hi: int) -> dict:
        snapshot = self.source.read(version=hi)
        self.target.overwrite(snapshot)
        self._write_cursor(hi)
        return {"from": cur, "to": hi, "resynced": True}
