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
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from cass_cdc_pg_spark.plans.keyed_table import KeyedTable

AUDIT_SCHEMA_DDL = (
    "audit_id string, event_type string, event_timestamp_us long, "
    "requester string, table_name string, record_identifier string, "
    "action string, reason string, details string"
)


class AuditLog:
    """Append-only audit sink (S12) with retention sweep (Q19).

    Layout: ``{path}/v-*/`` parquet dirs + an ``_CURRENT`` pointer
    file naming the active one.  The retention sweep writes survivors
    to a fresh version dir and flips the pointer with ``os.replace``
    (atomic), so there is no instant at which the audit path is
    unreadable — the never-lose-the-audit-log guarantee holds across a
    crash at any point (ADVICE r2).  Single writer assumed, like the
    reference's SQL cleanup function (``init-db.sql:87-92``)."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path.rstrip("/")

    def _pointer(self) -> str:
        return f"{self.path}/_CURRENT"

    def _data_dir(self) -> str:
        try:
            with open(self._pointer()) as fh:
                return f"{self.path}/{fh.read().strip()}"
        except FileNotFoundError:
            return f"{self.path}/v-0"

    def _flip_pointer(self, version: str) -> None:
        os.makedirs(self.path, exist_ok=True)
        tmp = f"{self.path}/_CURRENT.tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            fh.write(version)
        os.replace(tmp, self._pointer())

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
        row = (
            audit_id,
            event_type,
            int(time.time() * 1_000_000),
            requester,
            table_name,
            record_identifier,
            action,
            reason,
            json.dumps(details or {}, sort_keys=True),
        )
        data = self._data_dir()
        if not os.path.exists(self._pointer()):
            self._flip_pointer(os.path.basename(data))
        self.spark.createDataFrame([row], AUDIT_SCHEMA_DDL).write.mode(
            "append"
        ).parquet(data)
        return audit_id

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self._data_dir())

    def purge_old(self, retention_days: int = 365, now_us: int | None = None) -> int:
        """1-year retention (``init-db.sql:87-92``): write survivors to
        a fresh version dir, atomically flip the pointer, drop the old
        dir; returns rows removed."""
        if now_us is None:
            now_us = int(time.time() * 1_000_000)
        cutoff = now_us - retention_days * 86_400 * 1_000_000
        old_dir = self._data_dir()
        df = self.read()
        total = df.count()
        kept = df.filter(df.event_timestamp_us >= cutoff)
        n_kept = kept.count()
        if n_kept == total:
            return 0
        version = f"v-{uuid.uuid4().hex[:8]}"
        kept.write.mode("overwrite").parquet(f"{self.path}/{version}")
        self._flip_pointer(version)
        shutil.rmtree(old_dir, ignore_errors=True)
        return total - n_kept


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
