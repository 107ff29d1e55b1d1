"""CDC ingest pipeline (SURVEY.md §3.1) on Structured Streaming.

Source → parse (S2) → validate/split (T7/S5) → unwrap+type (T1/T8)
→ cdc metadata+TTL (T4-T6/T9) → intra-batch LWW dedup (C1a) →
keyed-table merge (C1b/S4).  One classifier tags each event with its
DLQ route (T7, unknown table, rejected schema version, T8 conversion);
the DLQ is merged once per batch, only when some event was routed to it.

One streaming query serves all tables (the reference's
``subscribePattern cdc-events-.*``): ``foreachBatch`` fans out by
``source_table``.  Checkpointing is Spark's ``checkpointLocation`` —
offsets+commits replace the reference's ``_cdc_checkpoints`` table —
and end-to-end effectively-once = checkpoint replay + idempotent LWW
merge (C5).  Each table's merge is retried with backoff (three
attempts); a failure that escapes them ends the query, and a restart
resumes from the checkpoint.

Backpressure (C8 / FR-024): ``maxFilesPerTrigger`` here,
``maxOffsetsPerTrigger`` on a Kafka source — native rate limiting.

Test transport is a JSONL directory source (file streams are the
Kafka stand-in this container supports); ``kafka_stream`` shows the
production wiring, gated on the connector jar being present.
"""

from __future__ import annotations

import os
import time as _time
from types import MappingProxyType

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cass_cdc_pg_spark.monitoring import METRICS
from cass_cdc_pg_spark.plans.keyed_table import META_COLS, KeyedTable
from cass_cdc_pg_spark.schema import CHANGE_EVENT_SCHEMA
from cass_cdc_pg_spark.streaming import transforms
from cass_cdc_pg_spark.streaming.reliability import retry_with_backoff
from cass_cdc_pg_spark.streaming.schema_evolution import SchemaRegistry


def jsonl_stream(
    spark: SparkSession, events_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = (
        spark.readStream.schema(CHANGE_EVENT_SCHEMA)
        .option("multiLine", "false")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(events_dir)


def parse_change_events(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """S2's deserialization stage: binary/string Kafka values → typed
    ChangeEvent rows.  Factored out of :func:`kafka_stream` so the
    parse logic is testable without the Kafka connector jar (same
    DataFrame op either way — `from_json` over the envelope schema;
    unparseable values yield all-NULL envelopes that T7 validation
    routes to the DLQ as SCHEMA_MISMATCH rather than failing the
    batch)."""
    return raw.select(
        F.from_json(F.col(value_col).cast("string"), CHANGE_EVENT_SCHEMA).alias("e")
    ).select("e.*")


def kafka_stream(
    spark: SparkSession, bootstrap: str, pattern: str = "cdc-events-.*"
) -> DataFrame:
    """Kafka wiring (S1/S2): per-table topics, JSON values.

    Requires the spark-sql-kafka package on the classpath; not
    available in the test container, so only :func:`parse_change_events`
    (the non-socket half) is exercised by tests.
    """
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribePattern", pattern)
        .option("startingOffsets", "earliest")
        .load()
    )
    return parse_change_events(raw)


def schema_registry_path(warehouse: str) -> str:
    """Where a warehouse keeps its schema registry."""
    return f"{warehouse.rstrip('/')}/_schema_meta"


def cdc_table_path(warehouse: str, name: str) -> str:
    """Where a warehouse keeps the keyed table of source table *name*."""
    return f"{warehouse.rstrip('/')}/cdc_{name}"


def audit_log_path(warehouse: str) -> str:
    """Where a warehouse keeps its audit log (``ops.AuditLog``)."""
    return f"{warehouse.rstrip('/')}/_cdc_audit_log"


def checkpoint_path(warehouse: str) -> str:
    """Where a warehouse keeps the checkpoint of the stream that feeds
    it (``cli run``), so a restart resumes where the last run stopped."""
    return f"{warehouse.rstrip('/')}/_stream_checkpoint"


def dlq_table(spark: SparkSession, warehouse: str) -> KeyedTable:
    """The DLQ as a keyed table (S5/S12 storage) — its one definition,
    shared by the ingest, the API and the CLI.  Status changes are
    atomic LWW merges, never full-file rewrites — a crash mid-replay
    can only lose the *pending* status flip, never DLQ records (the
    never-lose-errors guarantee)."""
    return KeyedTable(
        spark, f"{warehouse.rstrip('/')}/dlq_records", ["dlq_id"], num_buckets=8
    )


class CdcIngest:
    """Assembles and runs the ingest pipeline for the tables of *key_cols*.

    A table's pinned payload schema lives only in the warehouse's
    ``SchemaRegistry`` (§1.2), which every microbatch reads once:
    *table_schemas* counts only at a table's first registration, and
    later changes go through :meth:`evolve_table_schema` (BACKWARD
    gate) or auto.evolve, from any process on the warehouse.
    """

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        table_schemas: dict[str, T.StructType],
        key_cols: dict[str, list[str]],
        num_buckets: int = 32,
    ) -> None:
        self.spark = spark
        self.warehouse = warehouse.rstrip("/")
        self.key_cols = key_cols
        self.num_buckets = num_buckets
        os.makedirs(self.warehouse, exist_ok=True)
        self.schema_registry = SchemaRegistry(schema_registry_path(self.warehouse))
        for name, schema in table_schemas.items():
            self.schema_registry.register(name, schema)

    def _pinned(self) -> tuple[
        dict[str, T.StructType], dict[str, set[int]], dict[str, T.StructType]
    ]:
        """One registry read: the served tables' schemas, rejected
        versions and retired columns (:meth:`SchemaRegistry.pinned_schemas`)."""
        read = self.schema_registry.pinned_schemas()
        served = [n for n in read[0] if n in self.key_cols]
        return tuple({n: part[n] for n in served} for part in read)

    @property
    def table_schemas(self) -> MappingProxyType:
        """Read-only view of the served tables' registered payload schemas."""
        return MappingProxyType(self._pinned()[0])

    # -- schema evolution (FR-017, auto.evolve) -----------------------------

    def evolve_table_schema(
        self, name: str, new_schema: T.StructType
    ) -> tuple[bool, int, list]:
        """Propose a new payload schema for *name* through the
        compatibility gate.  Accepted (e.g. ADD_COLUMN): the pinned
        schema advances for every process on the warehouse — new
        merges carry the column and widen the table's recorded schema,
        old files backfill NULL, nothing is rewritten.  Rejected (e.g.
        MODIFY_COLUMN under BACKWARD): the version is recorded REJECTED
        and events carrying it are DLQ'd as SCHEMA_MISMATCH."""
        return self.schema_registry.evolve(name, new_schema)

    def table(self, name: str) -> KeyedTable:
        return KeyedTable(
            self.spark,
            cdc_table_path(self.warehouse, name),
            self.key_cols[name],
            self.num_buckets,
        )

    @classmethod
    def from_config(
        cls, spark: SparkSession, warehouse: str, config: dict
    ) -> "CdcIngest":
        """Construct an ingest pipeline from the table-config JSON (the
        connector-config analog the API and the CLI load):
        ``{"tables": {name: {"ddl": "<payload DDL>", "keys": [...]}}}``.
        A table's DDL counts only at its first registration."""
        tables = config["tables"]
        return cls(
            spark,
            warehouse,
            {n: T.StructType.fromDDL(c["ddl"]) for n, c in tables.items()},
            {n: c["keys"] for n, c in tables.items()},
        )

    def dlq_table(self) -> KeyedTable:
        return dlq_table(self.spark, self.warehouse)

    def dlq(self) -> DataFrame:
        return self.dlq_table().read_live().drop(*META_COLS)

    def seed_snapshot(
        self, name: str, snapshot: DataFrame, ts_us: int = 0
    ) -> None:
        """S1 ``snapshot.mode=initial``: batch-load the source table's
        current rows into the keyed table before streaming starts.
        Seed rows carry timestamp *ts_us* (default 0), so any CDC event
        — including ones captured concurrently with the snapshot scan —
        wins over its seed row by LWW, which is exactly why
        snapshot-then-stream converges without coordination."""
        transforms.check_payload_schema(self.table_schemas[name])
        stamped = snapshot.withColumns(
            {
                "_cdc_deleted": F.lit(False),
                "_cdc_timestamp_micros": F.lit(ts_us).cast("long"),
                "_last_event_id": F.lit(""),
                "_ttl_expiry_timestamp_us": F.lit(None).cast("long"),
            }
        )
        self.table(name).merge(stamped)

    # -- batch core (also used directly by tests and replay) ---------------

    def process_batch(self, events: DataFrame, batch_id: int = 0) -> None:
        """Classify → summarize → per-table unwrap/merge → one DLQ write.

        :func:`transforms.classify` tags every event once with the DLQ
        route it takes (NULL if it merges), against a clock read once
        per batch; the tagged batch is persisted, so every later job
        reuses that one decision.  One summary aggregation over it tells
        us which tables the batch touches, the winning TRUNCATE per
        table and whether any event goes to the DLQ — so a microbatch
        for one table costs jobs proportional to that table, not to the
        configured table count, and a clean batch never writes the DLQ.
        The same pass feeds the RED metrics (``monitoring.METRICS``) at
        zero extra job cost.

        Every touched table gets one ``merge`` commit (plus any
        compaction it triggers): its row events and, for a TRUNCATE,
        the tombstones of :meth:`KeyedTable.truncate_tombstones`.
        Derived state (``IncrementalAggView``, ``ChangeFeedFollower``)
        follows those commits through the change feed.  *batch_id* is
        unused: ``foreachBatch`` passes it.
        """
        _t0 = _time.time()
        # T3 addEventId runs before validation, as in the reference's
        # source connector (cassandra-source.json:48-50)
        events = transforms.add_event_id(events)
        # the batch's one registry read: classify, auto.evolve and
        # unwrap all use these schemas
        schemas, rejected, retired = self._pinned()
        # a retired column's values are checked against the type it
        # last had: auto.evolve below re-adds it with that type
        probed = {n: T.StructType([*s.fields, *retired[n].fields])
                  for n, s in schemas.items()}
        tagged = transforms.classify(
            events, probed, rejected, int(_time.time() * 1_000_000)
        ).persist()
        try:
            # schema-change detection (auto.evolve) is one more agg
            # expression in the same pass: the payload keys seen
            stats = (
                tagged.groupBy("source_table", "operation_type", "_error_type")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.max(F.struct("timestamp_micros", "event_id")).alias("mx"),
                    F.array_distinct(
                        F.flatten(
                            F.collect_set(
                                F.map_keys(F.coalesce(F.col("after"), F.col("before")))
                            )
                        )
                    ).alias("payload_keys"),
                )
                .collect()
            )
            any_bad = any(r["_error_type"] is not None for r in stats)
            truncates: dict[str, tuple[int, str]] = {}
            # tables with rows to merge → the payload keys they carry
            row_tables: dict[str, set[str]] = {}
            for r in stats:
                if r["_error_type"] is not None:
                    METRICS.inc(
                        "cdc_errors_total", {"error_type": r["_error_type"]}, by=r["n"]
                    )
                    METRICS.inc(
                        "cdc_dlq_events_total",
                        {"table": r["source_table"] or "?",
                         "error_type": r["_error_type"]},
                        by=r["n"],
                    )
                    continue
                METRICS.inc(
                    "cdc_events_processed_total",
                    {"table": r["source_table"], "operation": r["operation_type"]},
                    by=r["n"],
                )
                if r["operation_type"] == "TRUNCATE":
                    cand = (r["mx"]["timestamp_micros"], r["mx"]["event_id"])
                    if r["source_table"] not in truncates or cand > truncates[r["source_table"]]:
                        truncates[r["source_table"]] = cand
                else:
                    row_tables.setdefault(r["source_table"], set()).update(
                        r["payload_keys"] or ()
                    )

            # auto.evolve (postgres-sink.json:13-14): unseen payload
            # keys of merging events become nullable columns and the
            # merge uses the schema the registry accepted.  A retired
            # column comes back with the type it last had (older files
            # still hold it; another type fails every later read with
            # CANNOT_MERGE_SCHEMAS); any other key is a string (the map
            # transport carries no richer type; retyping one later is a
            # MODIFY_COLUMN, FR-017).  Classifying first routes events
            # as classifying after would: such columns no compatibility
            # mode rejects, and classify probed the retired types.
            for name, keys in row_tables.items():
                unknown = sorted(keys - set(schemas[name].fieldNames()))
                past = {f.name: f for f in retired[name].fields}
                evolved = T.StructType([*schemas[name].fields, *(
                    past.get(k, T.StructField(k, T.StringType())) for k in unknown)])
                if unknown and self.evolve_table_schema(name, evolved)[0]:
                    schemas[name] = evolved

            for name, payload_schema in schemas.items():
                if name not in row_tables and name not in truncates:
                    continue
                target = self.table(name)
                rows = None
                if name in row_tables:
                    ok = tagged.filter(
                        (F.col("source_table") == name)
                        & (F.col("operation_type") != "TRUNCATE")
                        & F.col("_error_type").isNull()
                    )
                    rows = transforms.add_cdc_metadata(
                        transforms.unwrap(ok, payload_schema))
                if name in truncates:
                    # TRUNCATE: never a row (ADVICE r1) but tombstones
                    # for the rows it beats, merged with the batch's
                    # rows in the same commit
                    tombs = target.truncate_tombstones(rows, *truncates[name])
                    rows = tombs if rows is None else rows.unionByName(
                        tombs, allowMissingColumns=True)
                    if rows is None:
                        continue  # nothing to truncate
                commit = lambda r=rows, t=target: t.merge(r)  # noqa: E731
                retry_with_backoff(commit, max_attempts=3)

            if any_bad:
                # DLQ merge (S5): deterministic dlq_id + LWW merge make
                # replays idempotent — no duplicate PENDING rows, never
                # a lost error (`errors.tolerance=all` semantics).
                self.dlq_table().merge(transforms.to_dlq_rows(tagged, events.columns))
        finally:
            tagged.unpersist()
            METRICS.observe(
                "cdc_processing_latency_seconds",
                _time.time() - _t0,
                {"stage": "process_batch"},
            )

    # -- streaming ---------------------------------------------------------

    def start(
        self,
        source: DataFrame,
        checkpoint: str,
        trigger_once: bool = False,
        processing_time: str = "1 second",
    ):
        writer = (
            source.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint)
        )
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=processing_time)
        return writer.start()

    # -- DLQ replay (Q21, ``dlq_service.py:165-301``) ----------------------

    def replay_dlq(self, dlq_ids: list[str]) -> int:
        """Re-run selected DLQ events through the pipeline, then mark
        them MANUAL_RESOLVED with one ``KeyedTable.upsert``.

        Replay is safe end-to-end: the table merge is idempotent (C5);
        the status flip is stamped with wall time, which outranks the
        deterministic failure timestamp — so even if the replayed event
        fails again (same dlq_id re-merged), the final state is a single
        MANUAL_RESOLVED row with retry_count bumped, not a duplicate
        PENDING.  A crash between replay and status flip leaves the DLQ
        fully readable with the rows still PENDING — re-running the
        replay converges."""
        dt = self.dlq_table()
        live = dt.read_live().drop(*META_COLS)
        # small, bounded selection (explicit id list) — materialize it
        # before process_batch re-merges the DLQ underneath the plan
        selected = live.filter(F.col("dlq_id").isin(dlq_ids)).collect()
        if not selected:
            return 0
        events = self.spark.createDataFrame(
            [(r["original_event"],) for r in selected], "j string"
        ).select(
            F.from_json(F.col("j"), CHANGE_EVENT_SCHEMA).alias("e")
        ).select("e.*")
        self.process_batch(events)

        now_us = int(_time.time() * 1_000_000)
        dt.upsert(
            self.spark.createDataFrame(selected, live.schema).withColumns(
                {
                    "retry_count": F.col("retry_count") + 1,
                    "last_retry_at_us": F.lit(now_us),
                    "resolution_status": F.lit("MANUAL_RESOLVED"),
                }
            ),
            now_us,
        )
        for r in selected:
            METRICS.inc(
                "cdc_dlq_replay_success_total", {"table": r["source_table"]}
            )
        return len(selected)
