"""The SMT transform chain (SURVEY.md §2.2) as pure
DataFrame→DataFrame functions over the ChangeEvent envelope.

Chain order matches the reference connector config
(``docker/connectors/cassandra-source.json:38-50`` →
``docker/connectors/postgres-sink.json:32-46``):
unwrap → validate → convert → cdc-metadata → ttl.

The reference's declarative column rules (T13-T15: include/exclude,
mask, redact, cast, rename, compute) have no counterpart: no table
config carries them, so every payload column replicates as typed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cass_cdc_pg_spark.schema import OPERATIONS, UUID_RE

#: validation skew allowance (validators.py:27-41): 1 minute
FUTURE_SKEW_US = 60 * 1_000_000


def add_event_id(events: DataFrame) -> DataFrame:
    """T3 ``addEventId`` (``cassandra-source.json:48-50``): events
    arriving without an ``event_id`` get one injected *before*
    validation, exactly where the reference's source-connector SMT
    runs.

    Deliberate deviation from the reference's ``uuid4``: the id is
    **content-derived** (md5 over table/op/timestamp/body, formatted
    as a UUID) so a replayed microbatch synthesizes the *same* id —
    keeping the LWW tiebreak, DLQ dlq_id, and merge idempotence (C5)
    deterministic under replay, which a random id would silently
    break."""
    digest = F.md5(
        F.concat_ws(
            "\x1f",
            F.coalesce(F.col("source_table"), F.lit("")),
            F.coalesce(F.col("operation_type"), F.lit("")),
            F.coalesce(F.col("timestamp_micros").cast("string"), F.lit("")),
            F.coalesce(F.to_json(F.col("before")), F.lit("")),
            F.coalesce(F.to_json(F.col("after")), F.lit("")),
        )
    )
    synthesized = F.concat_ws(
        "-",
        F.substring(digest, 1, 8),
        F.substring(digest, 9, 4),
        F.substring(digest, 13, 4),
        F.substring(digest, 17, 4),
        F.substring(digest, 21, 12),
    )
    return events.withColumn(
        "event_id", F.coalesce(F.col("event_id"), synthesized)
    )


def validation_status(now_us: int) -> Column:
    """T7: classify an event row → NULL if valid, else the DLQ
    error_type (``src/models/dlq_record.py:10-17``).

    Rules (``src/utils/validators.py:44-83``): required fields, UUID
    format, timestamp not in the future beyond 1-min skew of *now_us*,
    and the op-specific before/after invariants
    (``src/models/change_event.py:93-117``).
    """
    op = F.col("operation_type")
    return (
        F.when(F.col("event_id").isNull() | ~F.col("event_id").rlike(UUID_RE),
               F.lit("SCHEMA_MISMATCH"))
        .when(F.col("source_table").isNull() | (F.col("source_table") == ""),
              F.lit("SCHEMA_MISMATCH"))
        .when(~op.isin(*OPERATIONS), F.lit("SCHEMA_MISMATCH"))
        .when(F.col("timestamp_micros").isNull() | (F.col("timestamp_micros") <= 0),
              F.lit("SCHEMA_MISMATCH"))
        .when(F.col("timestamp_micros") > F.lit(now_us + FUTURE_SKEW_US),
              F.lit("CONSTRAINT_VIOLATION"))
        .when((op == "CREATE") & (F.col("after").isNull() | F.col("before").isNotNull()),
              F.lit("SCHEMA_MISMATCH"))
        .when((op == "UPDATE") & (F.col("after").isNull() | F.col("before").isNull()),
              F.lit("SCHEMA_MISMATCH"))
        .when((op == "DELETE") & F.col("after").isNotNull(),
              F.lit("SCHEMA_MISMATCH"))
        .when((op == "DELETE") & F.col("before").isNull()
              & ~F.coalesce(F.col("is_tombstone"), F.lit(False)),
              F.lit("SCHEMA_MISMATCH"))
        .when((op == "TRUNCATE")
              & (F.col("before").isNotNull() | F.col("after").isNotNull()),
              F.lit("SCHEMA_MISMATCH"))
    )


def classify(
    events: DataFrame,
    schemas: dict[str, T.StructType],
    rejected: dict[str, set[int]],
    now_us: int,
) -> DataFrame:
    """T7+T8+S5 in one pass: *events* plus the ``_error_type`` and
    ``_error_message`` of the DLQ route each event takes, both NULL for
    an event that merges.  The first matching route wins:

    1. T7 validation (:func:`validation_status` against *now_us*, one
       literal per batch, so every job over the result agrees on it);
    2. UNKNOWN_TABLE — ``source_table`` has no entry in *schemas*;
    3. SCHEMA_MISMATCH — a version in ``rejected[source_table]`` (FR-017);
    4. TYPE_CONVERSION_ERROR — a raw non-null payload value whose typed
       extraction is NULL (T8, :func:`conversion_failures` of the
       table's schema).

    Routes 3 and 4 skip TRUNCATEs: they carry no row and always apply.
    """
    table, version = F.col("source_table"), F.col("schema_version")
    is_row = F.col("operation_type") != "TRUNCATE"
    rejected_version = F.lit(False)
    for name, versions in rejected.items():
        if versions:
            rejected_version |= (table == name) & version.isin(*sorted(versions))
    failures = F.array().cast("array<string>")
    for name, schema in schemas.items():
        failures = F.when(table == name, conversion_failures(schema)).otherwise(failures)

    def route(error_type: Column, message: Column) -> Column:
        return F.struct(error_type.alias("type"), message.alias("message"))

    t7, conv = F.col("_t7"), F.col("_conv")
    error = (
        F.when(t7.isNotNull(), route(t7, F.concat(F.lit("validation failed: "), t7)))
        .when(~table.isin(*schemas),
              route(F.lit("UNKNOWN_TABLE"),
                    F.concat(F.lit("no registered schema for table "), table)))
        .when(is_row & rejected_version,
              route(F.lit("SCHEMA_MISMATCH"),
                    F.concat(F.lit("rejected schema version "), version.cast("string"))))
        .when(is_row & (F.size(conv) > 0),
              route(F.lit("TYPE_CONVERSION_ERROR"),
                    F.concat(F.lit("type conversion failed for columns: "),
                             F.concat_ws(",", conv))))
    )
    return (
        events.withColumns({"_t7": validation_status(now_us), "_conv": failures})
        .withColumn("_error", error)
        .withColumns({"_error_type": F.col("_error.type"),
                      "_error_message": F.col("_error.message")})
        .drop("_t7", "_conv", "_error")
    )


def to_dlq_rows(tagged: DataFrame, original_cols: list[str]) -> DataFrame:
    """S5: project the events :func:`classify` routed to the DLQ into
    the DLQ record shape (``src/models/dlq_record.py:10-64``), plus the
    keyed-table metadata columns that make DLQ writes idempotent merges.

    ``dlq_id`` is **deterministic** — md5 over (error_type, original
    event JSON of *original_cols*) — so replaying a microbatch merges
    the same DLQ key instead of appending a duplicate PENDING row.  The
    LWW timestamp is the event's own ``timestamp_micros``
    (deterministic), so a later *resolution* merge (stamped with wall
    time) always wins."""
    error_type = F.col("_error_type")
    original = F.to_json(F.struct(*original_cols))
    ts = F.coalesce(F.col("timestamp_micros"), F.lit(0))
    return tagged.filter(error_type.isNotNull()).select(
        F.md5(F.concat(error_type, F.lit("|"), original)).alias("dlq_id"),
        F.col("source_table"),
        original.alias("original_event"),
        error_type.alias("error_type"),
        F.col("_error_message").alias("error_message"),
        F.lit(0).alias("retry_count"),
        ts.alias("first_failed_at_us"),
        F.lit(None).cast("long").alias("last_retry_at_us"),
        F.lit("PENDING").alias("resolution_status"),
        F.lit(False).alias("_cdc_deleted"),
        ts.alias("_cdc_timestamp_micros"),
        F.coalesce(F.col("event_id"), F.lit("")).alias("_last_event_id"),
        F.lit(None).cast("long").alias("_ttl_expiry_timestamp_us"),
    )


def split_convertible(
    events: DataFrame,
    schemas: dict[str, T.StructType],
    rejected: dict[str, set[int]],
    now_us: int,
) -> tuple[DataFrame, DataFrame]:
    """:func:`classify` as a split: (events that merge, their DLQ
    rows).  Run before unwrap, so DLQ rows keep the full original
    envelope."""
    tagged = classify(events, schemas, rejected, now_us)
    good = tagged.filter(F.col("_error_type").isNull())
    return good.drop("_error_type", "_error_message"), to_dlq_rows(tagged, events.columns)


#: Envelope fields carried through unwrap under reserved aliases so a
#: payload column legitimately named ``event_id`` / ``source_table`` /
#: ... can never collide with the envelope (AMBIGUOUS_REFERENCE).
ENVELOPE_ALIASES = {
    "event_id": "_cdc_env_event_id",
    "source_table": "_cdc_env_source_table",
    "operation_type": "_cdc_env_op",
    "timestamp_micros": "_cdc_env_ts_micros",
    "ttl_seconds": "_cdc_env_ttl_seconds",
    "is_tombstone": "_cdc_env_tombstone",
}

#: Names a payload schema may never use: the reserved envelope aliases
#: plus the final sink-side metadata columns (init-db.sql:146-195).
RESERVED_PAYLOAD_NAMES = frozenset(ENVELOPE_ALIASES.values()) | {
    "_cdc_deleted",
    "_cdc_timestamp_micros",
    "_last_event_id",
    "_ttl_expiry_timestamp_us",
}


def check_payload_schema(payload_type: T.StructType) -> None:
    """Fail fast on payload columns that collide with reserved names."""
    bad = [f.name for f in payload_type.fields if f.name in RESERVED_PAYLOAD_NAMES]
    if bad:
        raise ValueError(
            f"payload schema uses reserved column names: {bad}; "
            f"reserved: {sorted(RESERVED_PAYLOAD_NAMES)}"
        )


def _body() -> Column:
    return F.when(F.col("operation_type") == "DELETE", F.col("before")).otherwise(
        F.col("after")
    )


def typed_extract(raw: Column, dt: T.DataType) -> Column:
    """One payload value from the string transport to its pinned Spark
    type (T8, ``type_mapper.py:88-134``).  Scalars ``try_cast`` (ANSI-
    safe: unconvertible → NULL).  Collections/tuples/UDTs travel as
    JSON — the same degradation the reference applies
    (list/set → array, map/UDT → JSONB, ``type_mapper.py:63-78``) —
    and parse via ``from_json`` (malformed → NULL, same DLQ contract).
    Covers the SC-002 matrix: varint → decimal(38,0), time → nanos-of-
    day long, inet/uuid → string, frozen<X> → X (unwrapped at schema
    level by ``cassandra_type_to_spark``)."""
    if isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
        return F.from_json(raw, dt)
    return raw.try_cast(dt)


def conversion_failures(payload_type: T.StructType) -> Column:
    """T8 error contract (``type_mapper.py:88-134``): array of payload
    field names whose raw value is non-null but whose typed extraction
    (``typed_extract``) yields NULL — i.e. a genuine conversion
    failure, not a missing value.  Empty array = row converts cleanly.
    """
    body = _body()
    probes = []
    for f in payload_type.fields:
        if isinstance(f.dataType, T.StringType):
            continue  # string → string cannot fail
        raw = body.getItem(f.name)
        probes.append(
            F.when(
                raw.isNotNull() & typed_extract(raw, f.dataType).isNull(),
                F.lit(f.name),
            )
        )
    if not probes:
        return F.array().cast("array<string>")
    return F.array_compact(F.array(*probes))


def unwrap(events: DataFrame, payload_type: T.StructType) -> DataFrame:
    """T1 ExtractNewRecordState: row = after (or before for DELETE),
    typed via the pinned per-table schema (T8), plus envelope fields
    under reserved ``_cdc_env_*`` aliases (see ENVELOPE_ALIASES) so
    payload columns named like envelope fields cannot collide.

    ``before``/``after`` arrive as map<string,string>; each payload
    column is extracted and ``try_cast`` to its pinned type (T8,
    ``type_mapper.py:88-134``) — ANSI-safe: a value that cannot
    convert becomes NULL instead of failing the batch.  Callers that
    honor the reference's error contract route conversion failures to
    the DLQ first via :func:`classify`.

    TRUNCATE events (no before/after) must be split out *before*
    unwrap — they are table-level operations, not rows
    (``change_event.py:115``); see ``CdcIngest.process_batch``.
    """
    check_payload_schema(payload_type)
    body = _body()
    typed = [
        typed_extract(body.getItem(f.name), f.dataType).alias(f.name)
        for f in payload_type.fields
    ]
    envelope = [F.col(src).alias(dst) for src, dst in ENVELOPE_ALIASES.items()]
    return events.select(*typed, *envelope)


def add_cdc_metadata(rows: DataFrame) -> DataFrame:
    """T4/T5/T6/T9: sink-side metadata columns
    (``postgres-sink.json:32-46``, ``type_mapper.py:136-168``).
    Consumes the ``_cdc_env_*`` aliases produced by :func:`unwrap`."""
    op = F.col("_cdc_env_op")
    ts = F.col("_cdc_env_ts_micros")
    ttl = F.col("_cdc_env_ttl_seconds")
    return rows.withColumns(
        {
            "_cdc_deleted": op == "DELETE",
            "_cdc_timestamp_micros": ts,
            "_last_event_id": F.col("_cdc_env_event_id"),
            "_ttl_expiry_timestamp_us": F.when(
                ttl.isNotNull() & (ttl > 0),
                ts + ttl.cast("long") * F.lit(1_000_000),
            ),
        }
    ).drop(*ENVELOPE_ALIASES.values())
