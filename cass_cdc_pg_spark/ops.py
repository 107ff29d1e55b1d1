"""Operational services: audit log (S12), GDPR cascade erasure (Q18).

Ports the reference's operational write paths:

- **AuditLog** — append-only ``_cdc_audit_log``
  (``docker/postgres/init-db.sql:70-92``) with 1-year retention purge
  (``delete_old_audit_logs``, ``init-db.sql:87-92``).
- **GdprService.erase** — the full Article-17 cascade
  (``src/api/routes/gdpr.py:37-216``): backup → delete from source →
  delete from target → compensating re-insert into source if the
  target delete fails → audit append (audit failure never blocks the
  erasure result).
"""

from __future__ import annotations

import json
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cass_cdc_pg_spark.plans.keyed_table import META_COLS, KeyedTable

AUDIT_SCHEMA_DDL = (
    "audit_id string, event_type string, event_timestamp_us long, "
    "requester string, table_name string, record_identifier string, "
    "action string, reason string, details string"
)


class AuditLog:
    """Append-only audit sink (S12) with retention sweep (Q19), stored
    as a ``KeyedTable`` keyed on ``audit_id``: an append is one merge
    and the sweep one ``delete_where``, so both commit through the
    table's one atomic commit path and the log is readable at every
    instant, across a crash at any point (ADVICE r2).  Appends and the
    sweep of one process take turns on the table's writer lock; the
    hourly scheduler tick of ``cli run`` runs the sweep."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.table = KeyedTable(spark, path, ["audit_id"], num_buckets=1)

    def append(
        self,
        event_type: str,
        table_name: str,
        record_identifier: str,
        action: str,
        requester: str = "api_user",
        reason: str = "",
        details: dict | None = None,
    ) -> str:
        audit_id = str(uuid.uuid4())
        now_us = int(time.time() * 1_000_000)
        row = (
            audit_id,
            event_type,
            now_us,
            requester,
            table_name,
            record_identifier,
            action,
            reason,
            json.dumps(details or {}, sort_keys=True),
        )
        self.table.upsert(
            self.spark.createDataFrame([row], AUDIT_SCHEMA_DDL), now_us
        )
        return audit_id

    def read(self) -> DataFrame:
        return self.table.read_live().drop(*META_COLS)

    def purge_old(self, retention_days: int = 365, now_us: int | None = None) -> int:
        """1-year retention (``init-db.sql:87-92``): hard-delete entries
        older than the window in one rewrite commit; returns rows
        removed."""
        if now_us is None:
            now_us = int(time.time() * 1_000_000)
        cutoff = now_us - retention_days * 86_400 * 1_000_000
        if not self.table.exists():
            return 0
        return self.table.delete_where(F.col("event_timestamp_us") < F.lit(cutoff))


class GdprService:
    """Cascading GDPR erasure across the source and target keyed
    tables with compensating rollback (``gdpr.py:37-216``)."""

    def __init__(self, spark: SparkSession, audit: AuditLog) -> None:
        self.spark = spark
        self.audit = audit

    def erase(
        self,
        source: KeyedTable,
        target: KeyedTable,
        predicate,
        table_name: str,
        record_identifier: str,
        requester: str = "api_user",
        reason: str = "GDPR erasure request",
    ) -> dict:
        """backup → delete source → delete target → compensate → audit.

        The backup is collected (erasure targets one identity — a
        bounded row set by construction); on target-delete failure the
        source rows are re-merged from the backup (compensating
        transaction) and the erasure reports failure.  When *target* is
        *source* (same path: no separate target warehouse), the source
        delete already covers it and the target step is skipped."""
        backup_rows = source.read().filter(predicate).collect()
        if not backup_rows:
            raise KeyError(
                f"record {record_identifier} not found in source {table_name}"
            )
        backup_df = self.spark.createDataFrame(backup_rows, source.read().schema)

        deleted_src = deleted_tgt = False
        status = "success"
        try:
            source.delete_where(predicate)
            deleted_src = True
            try:
                if target.path != source.path and target.exists():
                    target.delete_where(predicate)
                deleted_tgt = True
            except Exception:
                # compensating transaction: restore the source rows
                source.merge(backup_df)
                deleted_src = False
                status = "failed"
        finally:
            try:
                audit_id = self.audit.append(
                    "GDPR_ERASURE",
                    table_name,
                    record_identifier,
                    action="DELETE",
                    requester=requester,
                    reason=reason,
                    details={
                        "deleted_from_source": deleted_src,
                        "deleted_from_target": deleted_tgt,
                        "backup_rows": len(backup_rows),
                    },
                )
            except Exception:
                audit_id = None  # audit failure never blocks the erasure

        return {
            "status": status,
            "table": table_name,
            "record_identifier": record_identifier,
            "deleted_from_source": deleted_src,
            "deleted_from_target": deleted_tgt,
            "backup_rows": len(backup_rows),
            "audit_log_id": audit_id,
        }
