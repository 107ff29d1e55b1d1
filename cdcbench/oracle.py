"""Reference computations the engine's outputs are checked against.

Ingest: the landed JSONL files are replayed in DuckDB, independently of
the engine.  Validation follows the documented T7/T8 rules
(``src/utils/validators.py:44-83``, ``type_mapper.py:88-134``); valid
events and the seeded snapshot (timestamp 0, empty event id) are reduced
last-writer-wins by ``(timestamp_micros, event_id)``; a winning DELETE
leaves the key soft-deleted, so it is not live.

Reconciliation: the expected mismatch counts follow from the seeded
perturbation sets alone.
"""

from __future__ import annotations

import hashlib

import duckdb

UUID_RE = r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
FUTURE_SKEW_US = 60 * 1_000_000

_COLUMNS = (
    "{event_id: 'VARCHAR', source_table: 'VARCHAR', operation_type: 'VARCHAR', "
    "timestamp_micros: 'BIGINT', before: 'JSON', after: 'JSON', "
    "schema_version: 'INTEGER', ttl_seconds: 'INTEGER', is_tombstone: 'BOOLEAN'}"
)


def canonical(row) -> tuple:
    """(id, name, amount, qty, status) in one engine-neutral form."""
    i, name, amount, qty, status = row
    return (
        int(i),
        name,
        None if amount is None else f"{float(amount):.4f}",
        None if qty is None else int(qty),
        status,
    )


def state_digest(rows) -> tuple[int, str]:
    """Order-independent (row count, hash) of canonical rows."""
    acc = 0
    n = 0
    for r in rows:
        h = hashlib.blake2b(repr(canonical(r)).encode(), digest_size=8).digest()
        acc = (acc + int.from_bytes(h, "big")) % (1 << 64)
        n += 1
    return n, f"{acc:016x}"


def replay(files: list[str], snapshot_rows: int, now_us: int) -> dict:
    """Expected live rows and DLQ counts for *files* on top of the
    seeded snapshot of *snapshot_rows* keys.

    Returns ``{"live": [(id, name, amount, qty, status), ...],
    "dlq": {error_type: count}, "valid": n_valid}``."""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        paths = "[" + ", ".join("'" + f.replace("'", "''") + "'" for f in files) + "]"
        con.execute(
            f"CREATE TABLE ev AS SELECT * FROM read_json({paths}, "
            f"format='newline_delimited', columns={_COLUMNS})"
        )
        body = "CASE WHEN operation_type = 'DELETE' THEN before ELSE after END"
        poison = " OR ".join(
            f"(({body})->>'{c}' IS NOT NULL AND TRY_CAST(({body})->>'{c}' AS {t}) IS NULL)"
            for c, t in (("id", "BIGINT"), ("amount", "DOUBLE"), ("qty", "INTEGER"))
        )
        con.execute(
            f"""
            CREATE TABLE tagged AS SELECT *, {body} AS body, CASE
              WHEN event_id IS NULL OR NOT regexp_matches(event_id, '{UUID_RE}')
                THEN 'SCHEMA_MISMATCH'
              WHEN source_table IS NULL OR source_table = '' THEN 'SCHEMA_MISMATCH'
              WHEN operation_type IS NULL
                OR operation_type NOT IN ('CREATE', 'UPDATE', 'DELETE', 'TRUNCATE')
                THEN 'SCHEMA_MISMATCH'
              WHEN timestamp_micros IS NULL OR timestamp_micros <= 0 THEN 'SCHEMA_MISMATCH'
              WHEN timestamp_micros > {now_us + FUTURE_SKEW_US} THEN 'CONSTRAINT_VIOLATION'
              WHEN operation_type = 'CREATE' AND (after IS NULL OR before IS NOT NULL)
                THEN 'SCHEMA_MISMATCH'
              WHEN operation_type = 'UPDATE' AND (after IS NULL OR before IS NULL)
                THEN 'SCHEMA_MISMATCH'
              WHEN operation_type = 'DELETE' AND after IS NOT NULL THEN 'SCHEMA_MISMATCH'
              WHEN operation_type = 'DELETE' AND before IS NULL
                AND NOT coalesce(is_tombstone, false) THEN 'SCHEMA_MISMATCH'
              WHEN operation_type = 'TRUNCATE' THEN 'UNSUPPORTED_IN_ORACLE'
              WHEN {poison} THEN 'TYPE_CONVERSION_ERROR'
            END AS err FROM ev
            """
        )
        dlq = dict(
            # the engine's dlq_id digests the whole event, so an exact
            # duplicate lands on one DLQ record
            con.execute(
                "SELECT err, count(DISTINCT (event_id, source_table, operation_type, "
                "timestamp_micros, CAST(before AS VARCHAR), CAST(after AS VARCHAR), "
                "schema_version, ttl_seconds, is_tombstone)) "
                "FROM tagged WHERE err IS NOT NULL GROUP BY err"
            ).fetchall()
        )
        if "UNSUPPORTED_IN_ORACLE" in dlq:
            raise ValueError("the oracle does not model TRUNCATE events")
        valid = con.execute("SELECT count(*) FROM tagged WHERE err IS NULL").fetchone()[0]
        live = con.execute(
            f"""
            WITH cand AS (
              SELECT TRY_CAST(body->>'id' AS BIGINT) AS id, body->>'name' AS name,
                     TRY_CAST(body->>'amount' AS DOUBLE) AS amount,
                     TRY_CAST(body->>'qty' AS INTEGER) AS qty, body->>'status' AS status,
                     operation_type = 'DELETE' AS deleted, timestamp_micros AS ts,
                     event_id AS eid
              FROM tagged WHERE err IS NULL
              UNION ALL
              SELECT range AS id, 's' || range AS name,
                     CAST((range % 1000) * 0.25 AS DOUBLE) AS amount,
                     CAST(range % 100 AS INTEGER) AS qty, 'seed' AS status,
                     false AS deleted, 0 AS ts, '' AS eid
              FROM range({int(snapshot_rows)})
            ), win AS (
              SELECT *, row_number() OVER (PARTITION BY id ORDER BY ts DESC, eid DESC) AS rn
              FROM cand
            )
            SELECT id, name, amount, qty, status FROM win WHERE rn = 1 AND NOT deleted
            """
        ).fetchall()
        return {"live": live, "dlq": dlq, "valid": valid}
    finally:
        con.close()


def expected_recon(
    n_rows: int, missing: set, mutated: set, extra: int, changed: set,
    mutated_cols: int,
) -> dict:
    """Mismatch counts the seeded perturbation implies.

    ``full``: the whole-table diff; ``scoped``: the diff restricted to the
    source keys of the last commit (*changed*), as the incremental job
    sees them — target-only keys are out of its scope."""
    return {
        "src_count": n_rows,
        "tgt_count": n_rows - len(missing) + extra,
        "full": {
            "MISSING_IN_TARGET": len(missing),
            "MISSING_IN_SOURCE": extra,
            "DATA_MISMATCH": len(mutated),
        },
        "field_diff_rows": mutated_cols * len(mutated),
        "scoped": {
            "MISSING_IN_TARGET": len(changed & missing),
            "MISSING_IN_SOURCE": 0,
            "DATA_MISMATCH": len(changed & mutated),
        },
    }
