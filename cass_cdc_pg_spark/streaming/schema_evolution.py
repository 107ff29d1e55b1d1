"""Schema evolution: detect → compatibility-gate → evolve or reject.

Mirrors the reference's schema service semantics
(``src/services/schema_service.py:155-207`` detect,
``:260-360`` compatibility rules; behavior pinned by
``tests/integration/test_schema_add_column.py:52``,
``test_schema_type_change.py:51-228``,
``test_schema_incompatible.py:68``; FR-017
``specs/001-cass-cdc-pg/spec.md:172``):

- **detect**: diff two column sets → ADD_COLUMN / DROP_COLUMN /
  MODIFY_COLUMN change records;
- **compatibility** (``check_compatibility``, the BACKWARD rule the
  registry gates every table with): adds must be nullable-or-defaulted;
  drops OK; type changes never compatible;
- **evolve**: a compatible new schema becomes the next ACTIVE version
  (ADD_COLUMN rides the schema the keyed table's commit doc records —
  the first merge that carries the column widens it, files written
  before backfill NULL, nothing is rewritten); an incompatible one is
  recorded REJECTED and events carrying its ``schema_version`` are
  DLQ'd as SCHEMA_MISMATCH by the ingest loop.

The registry is the one holder of a table's pinned payload schema:
``CdcIngest`` keeps no copy and reads :meth:`SchemaRegistry.pinned_schemas`
once per microbatch.  It is metadata (a handful of versions per table —
the reference keeps it in a Postgres table ``_cdc_schema_metadata``,
``docker/postgres/init-db.sql:4-22``) in one fsync'd JSON manifest,
same durability model as the KeyedTable manifest.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import types as T

from cass_cdc_pg_spark.durable import write_json

ADD_COLUMN = "ADD_COLUMN"
DROP_COLUMN = "DROP_COLUMN"
MODIFY_COLUMN = "MODIFY_COLUMN"


def struct_columns(st: T.StructType) -> dict[str, str]:
    """{column → engine-portable type name (Spark ``simpleString``)}."""
    return {f.name: f.dataType.simpleString() for f in st.fields}


def detect_changes(
    old: dict[str, str], new: dict[str, str]
) -> list[dict[str, str | None]]:
    """Diff two {column → canonical type} maps.

    Returns change records ``{"type", "column", "old_type", "new_type"}``
    — the same shape the reference logs
    (``schema_service.py:155-207``).  Deterministic order: adds, then
    drops/modifies, each sorted by column name.
    """
    changes: list[dict[str, str | None]] = []
    for col in sorted(new):
        if col not in old:
            changes.append(
                {"type": ADD_COLUMN, "column": col, "old_type": None, "new_type": new[col]}
            )
    for col in sorted(old):
        if col not in new:
            changes.append(
                {"type": DROP_COLUMN, "column": col, "old_type": old[col], "new_type": None}
            )
        elif old[col] != new[col]:
            changes.append(
                {
                    "type": MODIFY_COLUMN,
                    "column": col,
                    "old_type": old[col],
                    "new_type": new[col],
                }
            )
    return changes


def check_compatibility(
    changes: list[dict[str, str | None]],
    new_nullable: dict[str, bool] | None = None,
) -> tuple[bool, str | None]:
    """(compatible?, reason-if-not) under the BACKWARD rule.

    *new_nullable*: nullability of added columns (adds must be nullable
    or defaulted; absent → assumed nullable, which is how map-sourced
    CDC payloads arrive).
    """
    for ch in changes:
        if ch["type"] == MODIFY_COLUMN:
            return False, (
                f"MODIFY_COLUMN {ch['column']}: {ch['old_type']} -> "
                f"{ch['new_type']} is never compatible"
            )
        if (
            ch["type"] == ADD_COLUMN
            and new_nullable is not None
            and not new_nullable.get(ch["column"], True)
        ):
            return False, (
                f"ADD_COLUMN {ch['column']}: non-nullable without default "
                f"is backward-incompatible"
            )
    return True, None


def _version(number: int, schema: T.StructType, changes: list,
             status: str = "ACTIVE", reason: str | None = None) -> dict:
    """One entry of a table's version list."""
    return {
        "version": number,
        "columns": struct_columns(schema),
        "nullable": {f.name: f.nullable for f in schema.fields},
        "changes": changes,
        "status": status,
        "reason": reason,
        "registered_at": time.time(),
    }


def _struct(columns: dict[str, str], nullable: dict[str, bool]) -> T.StructType:
    """A stored ``{column → type}`` map as a StructType (a column absent
    from *nullable* is nullable)."""
    return T.StructType.fromDDL(", ".join(
        "`{}` {}{}".format(c.replace("`", "``"), t,
                           "" if nullable.get(c, True) else " NOT NULL")
        for c, t in columns.items()))


def _rejected(entry: dict) -> set[int]:
    return {v["version"] for v in entry["versions"] if v["status"] == "REJECTED"}


class SchemaRegistry:
    """Versioned per-table schema metadata (S8 + SchemaMetadata).

    One JSON manifest holding, per table, the version list (columns,
    nullability, change records, ACTIVE/REJECTED status, registration
    time).  Manifests written before BACKWARD became the only rule
    also carry a ``"compatibility"`` field, which is ignored."""

    def __init__(self, path: str) -> None:
        self.path = path.rstrip("/")
        os.makedirs(self.path, exist_ok=True)

    @property
    def _manifest(self) -> str:
        return f"{self.path}/_schema_registry.json"

    def _load(self) -> dict:
        try:
            with open(self._manifest) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"tables": {}}

    def _save(self, data: dict) -> None:
        write_json(self._manifest, data)

    # -- API ----------------------------------------------------------------

    def register(self, table: str, schema: T.StructType) -> int:
        """Idempotently register schema v1 for *table* (INITIAL); a
        table already registered keeps its versions."""
        data = self._load()
        if table in data["tables"]:
            return self._active(data["tables"][table])["version"]
        initial = {"type": "INITIAL", "column": None, "old_type": None, "new_type": None}
        data["tables"][table] = {"versions": [_version(1, schema, [initial])]}
        self._save(data)
        return 1

    def _active(self, entry: dict) -> dict:
        return [v for v in entry["versions"] if v["status"] == "ACTIVE"][-1]

    def tables(self) -> list[str]:
        """Registered table names (the registry's 'subjects')."""
        return sorted(self._load()["tables"])

    def current_version(self, table: str) -> int:
        return self._active(self._load()["tables"][table])["version"]

    def current_columns(self, table: str) -> dict[str, str]:
        return dict(self._active(self._load()["tables"][table])["columns"])

    def rejected_versions(self, table: str) -> set[int]:
        entry = self._load()["tables"].get(table)
        return _rejected(entry) if entry else set()

    def pinned_schemas(self) -> tuple[
        dict[str, T.StructType], dict[str, set[int]], dict[str, T.StructType]
    ]:
        """From one manifest read: each table's ACTIVE payload schema,
        rebuilt from the version's ``columns`` and ``nullable``, its
        REJECTED version numbers, and its *retired* columns — each
        column an earlier ACTIVE version held and the current one does
        not, nullable, with the type it last had (the type older data
        files still carry, so a re-add must use it).  Nested fields come
        back nullable (only top-level nullability is stored).  Needs an
        active Spark session (the column types are parsed as DDL)."""
        schemas, rejected, retired = {}, {}, {}
        for table, entry in self._load()["tables"].items():
            v = self._active(entry)
            schemas[table] = _struct(v["columns"], v["nullable"])
            rejected[table] = _rejected(entry)
            last: dict[str, str] = {}
            for old in entry["versions"]:
                if old["status"] == "ACTIVE":
                    last.update(old["columns"])
            gone = {c: t for c, t in last.items() if c not in v["columns"]}
            retired[table] = _struct(gone, {}) if gone else T.StructType()
        return schemas, rejected, retired

    def evolve(self, table: str, new_schema: T.StructType) -> tuple[bool, int, list]:
        """Propose *new_schema* as the next version.

        Returns (accepted, version, changes).  Compatible → recorded
        ACTIVE; incompatible → recorded REJECTED (events carrying the
        rejected version must be DLQ'd as SCHEMA_MISMATCH, FR-017)."""
        data = self._load()
        entry = data["tables"][table]
        active = self._active(entry)
        changes = detect_changes(active["columns"], struct_columns(new_schema))
        if not changes:
            return True, active["version"], []
        ok, reason = check_compatibility(
            changes, {f.name: f.nullable for f in new_schema.fields}
        )
        version = entry["versions"][-1]["version"] + 1
        entry["versions"].append(_version(
            version, new_schema, changes, "ACTIVE" if ok else "REJECTED", reason))
        self._save(data)
        return ok, version, changes

    def history(self, table: str) -> list[dict]:
        """Full version history (the S8 metadata-table query)."""
        return list(self._load()["tables"][table]["versions"])
