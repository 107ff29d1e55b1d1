"""Regression tests for round-1 verdict/advice findings:

1. `unwrap` envelope/payload column collision — a payload legitimately
   containing `event_id` / `source_table` must merge cleanly (this was
   the BENCH_r01 crash: AMBIGUOUS_REFERENCE in add_cdc_metadata).
2. TRUNCATE events are table-level operations: never merged as phantom
   NULL-key rows; they LWW-soft-delete the table state.
3. T8 error contract: raw-non-null → typed-null conversion failures go
   to the DLQ as TYPE_CONVERSION_ERROR, not merged as NULL columns.
4. `delete_where` is NULL-safe: predicate-NULL rows are kept, never
   silently dropped (GDPR path).
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cass_cdc_pg_spark.plans.keyed_table import KeyedTable
from cass_cdc_pg_spark.streaming.ingest import CdcIngest
from cass_cdc_pg_spark.streaming.transforms import check_payload_schema

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),   # collides with envelope name
        T.StructField("source_table", T.StringType()),  # collides too
        T.StructField("value", T.DoubleType()),
    ]
)

USERS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("username", T.StringType()),
        T.StructField("age", T.IntegerType()),
    ]
)

U1 = "11111111-1111-1111-1111-111111111111"
U2 = "22222222-2222-2222-2222-222222222222"

CHANGE_EVENT_DDL = (
    "event_id string, source_table string, operation_type string, "
    "timestamp_micros long, before map<string,string>, after map<string,string>, "
    "schema_version int, ttl_seconds int, is_tombstone boolean"
)


def _eid(n: int) -> str:
    return str(uuid.UUID(int=n))


def _event(event_id, op, ts, after=None, before=None, table="users", ttl=None, tomb=False,
           version=1):
    return (event_id, table, op, ts, before, after, version, ttl, tomb)


def _df(spark, events):
    return spark.createDataFrame(events, CHANGE_EVENT_DDL)


def test_payload_envelope_name_collision_merges(spark, tmp_path):
    """The BENCH_r01 crash: payload columns named event_id/source_table."""
    ingest = CdcIngest(
        spark,
        str(tmp_path / "wh"),
        table_schemas={"events": EVENTS_SCHEMA},
        key_cols={"events": ["event_id"]},
        num_buckets=4,
    )
    batch = _df(
        spark,
        [
            _event(_eid(1), "CREATE", 1000, table="events",
                   after={"event_id": "7", "source_table": "orders", "value": "1.5"}),
            _event(_eid(2), "CREATE", 2000, table="events",
                   after={"event_id": "8", "source_table": "users", "value": "2.5"}),
        ],
    )
    ingest.process_batch(batch)
    rows = {r["event_id"]: r.asDict() for r in ingest.table("events").read().collect()}
    assert rows[7]["source_table"] == "orders"  # payload col, typed long key
    assert rows[8]["value"] == 2.5
    assert rows[7]["_cdc_timestamp_micros"] == 1000


def test_reserved_payload_names_rejected():
    bad = T.StructType([T.StructField("_cdc_deleted", T.BooleanType())])
    with pytest.raises(ValueError, match="reserved"):
        check_payload_schema(bad)


@pytest.fixture()
def users_ingest(spark, tmp_path):
    return CdcIngest(
        spark,
        str(tmp_path / "wh"),
        table_schemas={"users": USERS_SCHEMA},
        key_cols={"users": ["id"]},
        num_buckets=4,
    )


def test_truncate_soft_deletes_not_phantom_row(spark, users_ingest):
    users_ingest.process_batch(_df(spark, [
        _event(_eid(1), "CREATE", 1000, after={"id": U1, "username": "a", "age": "1"}),
        _event(_eid(2), "CREATE", 1500, after={"id": U2, "username": "b", "age": "2"}),
    ]))
    users_ingest.process_batch(_df(spark, [
        _event(_eid(3), "TRUNCATE", 2000),
    ]))
    t = users_ingest.table("users")
    rows = t.read().collect()
    # no phantom NULL-key row, both rows tombstoned with truncate's ts
    assert {r["id"] for r in rows} == {U1, U2}
    assert all(r["_cdc_deleted"] for r in rows)
    assert all(r["_cdc_timestamp_micros"] == 2000 for r in rows)
    assert t.read_live().count() == 0


def test_truncate_loses_to_newer_row_event(spark, users_ingest):
    """A row event newer than the TRUNCATE survives (LWW ordering),
    regardless of arrival order within the batch stream."""
    users_ingest.process_batch(_df(spark, [
        _event(_eid(1), "CREATE", 1000, after={"id": U1, "username": "old", "age": "1"}),
        _event(_eid(2), "CREATE", 3000, after={"id": U2, "username": "new", "age": "2"}),
        _event(_eid(3), "TRUNCATE", 2000),
    ]))
    t = users_ingest.table("users")
    rows = {r["id"]: r.asDict() for r in t.read().collect()}
    assert rows[U1]["_cdc_deleted"] is True        # older than truncate
    assert rows[U2]["_cdc_deleted"] is False       # newer than truncate
    assert t.read_live().count() == 1


def test_truncate_is_idempotent(spark, users_ingest):
    users_ingest.process_batch(_df(spark, [
        _event(_eid(1), "CREATE", 1000, after={"id": U1, "username": "a", "age": "1"}),
    ]))
    trunc = _df(spark, [_event(_eid(3), "TRUNCATE", 2000)])
    users_ingest.process_batch(trunc)
    first = sorted(r.asDict() for r in users_ingest.table("users").read().collect())
    users_ingest.process_batch(trunc)  # replay
    second = sorted(r.asDict() for r in users_ingest.table("users").read().collect())
    assert first == second


def test_truncate_reaches_the_change_feed(spark, users_ingest):
    """A TRUNCATE commits as a merge of tombstones, so the change feed
    carries them with their ``_change_version``, as it carries a
    DELETE — no resync-required error."""
    users_ingest.process_batch(_df(spark, [
        _event(_eid(1), "CREATE", 1000, after={"id": U1, "username": "a", "age": "1"}),
        _event(_eid(2), "CREATE", 1500, after={"id": U2, "username": "b", "age": "2"}),
    ]))
    t = users_ingest.table("users")
    mark = t._current_version()
    users_ingest.process_batch(_df(spark, [_event(_eid(3), "TRUNCATE", 2000)]))
    rows = {r["id"]: r.asDict() for r in t.read_changes(mark).collect()}
    assert set(rows) == {U1, U2}
    assert {(r["_cdc_deleted"], r["_cdc_timestamp_micros"], r["_last_event_id"],
             r["_change_version"]) for r in rows.values()} == {(True, 2000, _eid(3), mark + 1)}
    assert rows[U1]["username"] == "a"  # the winner's payload is kept


def test_rows_and_truncate_commit_once(spark, users_ingest):
    """A batch holding row events and a TRUNCATE adds exactly one
    version, a merge."""
    users_ingest.process_batch(_df(spark, [
        _event(_eid(1), "CREATE", 1000, after={"id": U1, "username": "a", "age": "1"}),
    ]))
    t = users_ingest.table("users")
    before = t._current_version()
    users_ingest.process_batch(_df(spark, [
        _event(_eid(2), "CREATE", 3000, after={"id": U2, "username": "b", "age": "2"}),
        _event(_eid(3), "TRUNCATE", 2000),
    ]))
    assert t._current_version() == before + 1
    assert t._doc()["op"] == "merge"
    assert {r["id"] for r in t.read_live().collect()} == {U2}


def test_truncate_restamps_deleted_rows_against_resurrection(spark, users_ingest):
    """DELETE k at 100, TRUNCATE at 200, then a late CREATE of k at
    150: k stays deleted.  The truncate restamps rows already deleted
    with its own (ts, event_id), so the late CREATE loses to it."""
    users_ingest.process_batch(_df(spark, [
        _event(_eid(1), "CREATE", 50, after={"id": U1, "username": "a", "age": "1"}),
        _event(_eid(2), "DELETE", 100, before={"id": U1, "username": "a", "age": "1"},
               tomb=True),
    ]))
    users_ingest.process_batch(_df(spark, [_event(_eid(3), "TRUNCATE", 200)]))
    users_ingest.process_batch(_df(spark, [
        _event(_eid(4), "CREATE", 150, after={"id": U1, "username": "late", "age": "9"}),
    ]))
    t = users_ingest.table("users")
    (row,) = t.read().collect()
    assert (row["id"], row["_cdc_deleted"], row["_cdc_timestamp_micros"]) == (U1, True, 200)
    assert t.read_live().count() == 0


def test_type_conversion_error_routed_to_dlq(spark, users_ingest):
    """CREATE with age='abc' lands in the DLQ as TYPE_CONVERSION_ERROR,
    not as a NULL-aged row (type_mapper.py:88-134 semantics)."""
    users_ingest.process_batch(_df(spark, [
        _event(_eid(1), "CREATE", 1000, after={"id": U1, "username": "ok", "age": "30"}),
        _event(_eid(2), "CREATE", 1000, after={"id": U2, "username": "bad", "age": "abc"}),
    ]))
    t = users_ingest.table("users")
    assert {r["id"] for r in t.read().collect()} == {U1}
    dlq = users_ingest.dlq()
    conv = dlq.filter(F.col("error_type") == "TYPE_CONVERSION_ERROR").collect()
    assert len(conv) == 1
    assert "age" in conv[0]["error_message"]
    # the original event is preserved for replay-after-fix
    assert U2 in conv[0]["original_event"]


def test_missing_value_is_not_a_conversion_error(spark, users_ingest):
    """A genuinely-missing column (raw NULL) is fine — only raw-non-null
    → typed-null counts as a conversion failure."""
    users_ingest.process_batch(_df(spark, [
        _event(_eid(1), "CREATE", 1000, after={"id": U1, "username": "x"}),  # no age
    ]))
    rows = users_ingest.table("users").read().collect()
    assert len(rows) == 1
    assert rows[0]["age"] is None


def test_delete_where_null_predicate_keeps_rows(spark, tmp_path):
    """Rows where the predicate evaluates NULL must be kept (ADVICE r1:
    silent GDPR data loss otherwise)."""
    t = KeyedTable(spark, str(tmp_path / "kt"), ["id"], num_buckets=4)
    df = spark.createDataFrame(
        [
            ("a", "x@y.com", False, 1000, "e1", None),
            ("b", None, False, 1000, "e2", None),  # NULL email
            ("c", "z@y.com", False, 1000, "e3", None),
        ],
        "id string, email string, _cdc_deleted boolean, "
        "_cdc_timestamp_micros long, _last_event_id string, "
        "_ttl_expiry_timestamp_us long",
    )
    t.merge(df)
    n = t.delete_where(F.col("email") == "x@y.com")
    assert n == 1
    remaining = {r["id"] for r in t.read().collect()}
    assert remaining == {"b", "c"}  # NULL-email row survived


def test_dlq_replay_no_duplicate_rows(spark, users_ingest):
    """Replaying a batch whose events re-fail must not duplicate DLQ
    rows (deterministic dlq_id + LWW merge), and replay_dlq of a
    still-invalid event converges to one MANUAL_RESOLVED row."""
    bad_batch = _df(spark, [
        _event(_eid(9), "UPDATE", 1000, after={"id": U1, "username": "x", "age": "9"}),
    ])
    users_ingest.process_batch(bad_batch)
    users_ingest.process_batch(bad_batch)  # replayed microbatch
    assert users_ingest.dlq().count() == 1  # no duplicate PENDING

    ids = [r["dlq_id"] for r in users_ingest.dlq().collect()]
    n = users_ingest.replay_dlq(ids)
    assert n == 1
    rows = users_ingest.dlq().collect()
    assert len(rows) == 1  # still-invalid replay did not fork a new row
    assert rows[0]["resolution_status"] == "MANUAL_RESOLVED"
    assert rows[0]["retry_count"] == 1


def test_dlq_readable_after_interrupted_replay(spark, users_ingest):
    """A crash between re-processing and the status merge must leave
    the DLQ fully readable with rows still PENDING (atomic manifest
    swap, no partial rewrite)."""
    bad = _df(spark, [
        _event(_eid(9), "UPDATE", 1000, after={"id": U1, "username": "x", "age": "9"}),
    ])
    users_ingest.process_batch(bad)
    ids = [r["dlq_id"] for r in users_ingest.dlq().collect()]

    # simulate the crash: do what replay_dlq does, but stop before the
    # status merge (the only non-atomic window in the old design)
    selected = users_ingest.dlq_table().read_live().collect()
    events = spark.createDataFrame(
        [(r["original_event"],) for r in selected], "j string"
    )
    from pyspark.sql import functions as F2
    from cass_cdc_pg_spark.schema import CHANGE_EVENT_SCHEMA
    ev = events.select(F2.from_json("j", CHANGE_EVENT_SCHEMA).alias("e")).select("e.*")
    users_ingest.process_batch(ev)
    # ---- crash here: no status merge ----

    rows = users_ingest.dlq().collect()
    assert len(rows) == 1 and rows[0]["resolution_status"] == "PENDING"
    # re-running the full replay converges
    assert users_ingest.replay_dlq(ids) == 1
    assert users_ingest.dlq().collect()[0]["resolution_status"] == "MANUAL_RESOLVED"


def test_unconditional_upsert_overrides_newer_event(spark, tmp_path):
    """Q14: upsert() replaces current state regardless of the row's
    replicated event time (reference's unguarded ON CONFLICT form)."""
    t = KeyedTable(spark, str(tmp_path / "kt"), ["id"], num_buckets=2)
    t.merge(spark.createDataFrame(
        [("a", "old", False, 9_999_999_999_999_999, "e1", None)],
        "id string, v string, _cdc_deleted boolean, _cdc_timestamp_micros long, "
        "_last_event_id string, _ttl_expiry_timestamp_us long"))
    t.upsert(spark.createDataFrame([("a", "forced"), ("b", "new")],
                                   "id string, v string"),
             now_us=10_000_000_000_000_000)
    rows = {r["id"]: r["v"] for r in t.read_live().collect()}
    assert rows == {"a": "forced", "b": "new"}


def test_snapshot_seed_then_stream_converges(spark, users_ingest):
    """S1 snapshot.mode=initial: seed rows lose to any CDC event for
    the same key (LWW), so snapshot-then-stream converges."""
    snap = spark.createDataFrame(
        [(U1, "snap_ann", 34), (U2, "snap_bob", 55)],
        "id string, username string, age int")
    users_ingest.seed_snapshot("users", snap)
    assert users_ingest.table("users").read_live().count() == 2
    # a concurrent CDC update beats its seed row
    users_ingest.process_batch(_df(spark, [
        _event(_eid(1), "UPDATE", 1000,
               before={"id": U1, "username": "snap_ann", "age": "34"},
               after={"id": U1, "username": "ann2", "age": "35"}),
    ]))
    rows = {r["id"]: r["username"] for r in users_ingest.table("users").read_live().collect()}
    assert rows == {U1: "ann2", U2: "snap_bob"}


def test_backpressure_max_files_per_trigger(spark, tmp_path):
    """C8: maxFilesPerTrigger paces ingestion — N input files with
    max=1 process in N microbatches (native rate limiting)."""
    import json as _json
    import os

    from cass_cdc_pg_spark.streaming.ingest import CdcIngest, jsonl_stream

    ingest = CdcIngest(spark, str(tmp_path / "wh"),
                       {"users": USERS_SCHEMA}, {"users": ["id"]}, num_buckets=2)
    events_dir = str(tmp_path / "events")
    os.makedirs(events_dir)
    for i, uid in enumerate([U1, U2]):
        with open(f"{events_dir}/b{i}.jsonl", "w") as f:
            f.write(_json.dumps({
                "event_id": _eid(i + 1), "source_table": "users",
                "operation_type": "CREATE", "timestamp_micros": 1000 + i,
                "before": None, "after": {"id": uid, "username": f"u{i}", "age": "1"},
                "schema_version": 1, "ttl_seconds": None, "is_tombstone": False,
            }) + "\n")
    batches = []
    orig = ingest.process_batch
    ingest.process_batch = lambda df, bid=0: (batches.append(bid), orig(df, bid))[1]
    q = ingest.start(
        jsonl_stream(spark, events_dir, max_files_per_trigger=1),
        checkpoint=str(tmp_path / "cp"), trigger_once=True)
    q.awaitTermination(120)
    assert len(batches) == 2  # one microbatch per file
    assert ingest.table("users").read_live().count() == 2


def test_missing_event_id_synthesized_not_dlqd(spark, users_ingest):
    """T3 addEventId (cassandra-source.json:48-50): an event arriving
    without an event_id gets a content-derived UUID injected before
    validation — it merges as a row, never DLQs as SCHEMA_MISMATCH,
    and a replay synthesizes the SAME id (idempotence)."""
    ev = _df(spark, [_event(None, "CREATE", 1000, after={"id": U1, "username": "a", "age": "3"})])
    users_ingest.process_batch(ev)
    live = users_ingest.table("users").read_live().collect()
    assert len(live) == 1 and live[0]["username"] == "a"
    eid1 = live[0]["_last_event_id"]
    import re
    from cass_cdc_pg_spark.schema import UUID_RE
    assert re.match(UUID_RE, eid1)
    assert users_ingest.dlq_table().exists() is False or users_ingest.dlq().count() == 0

    users_ingest.process_batch(ev)  # replay: same synthesized id
    live2 = users_ingest.table("users").read_live().collect()
    assert len(live2) == 1 and live2[0]["_last_event_id"] == eid1


def test_parse_change_events_kafka_value_stage(spark, users_ingest):
    """S2's deserialization stage without the socket: binary Kafka
    values parse to typed envelopes; garbage values become all-NULL
    envelopes that validation DLQs instead of failing the batch."""
    import json

    from cass_cdc_pg_spark.streaming.ingest import parse_change_events

    good = json.dumps(
        {
            "event_id": U1,
            "source_table": "users",
            "operation_type": "CREATE",
            "timestamp_micros": 1000,
            "after": {"id": U1, "username": "k", "age": "7"},
            "schema_version": 1,
            "is_tombstone": False,
        }
    )
    raw = spark.createDataFrame(
        [(good.encode(),), (b"not json at all",)], "value binary"
    )
    events = parse_change_events(raw)
    users_ingest.process_batch(events)
    live = users_ingest.table("users").read_live().collect()
    assert len(live) == 1 and live[0]["username"] == "k"
    dlq = users_ingest.dlq().collect()
    assert len(dlq) == 1 and dlq[0]["error_type"] == "SCHEMA_MISMATCH"


def test_unregistered_table_events_routed_to_dlq(spark, users_ingest):
    """Valid events for a table with no registered schema must not
    vanish (ADVICE r2): they land in the DLQ as UNKNOWN_TABLE, still
    replayable once the table is registered."""
    users_ingest.process_batch(_df(spark, [
        _event(_eid(1), "CREATE", 1000, after={"id": U1, "username": "a", "age": "1"}),
        _event(_eid(2), "CREATE", 1100, table="ghosts",
               after={"id": U2, "username": "??", "age": "9"}),
        _event(_eid(3), "TRUNCATE", 1200, table="phantoms"),
    ]))
    # the registered table merged normally
    assert users_ingest.table("users").read_live().count() == 1
    import json

    dlq = {json.loads(r["original_event"])["event_id"]: r
           for r in users_ingest.dlq().collect()}
    assert set(dlq) == {_eid(2), _eid(3)}
    assert all(r["error_type"] == "UNKNOWN_TABLE" for r in dlq.values())
    assert "ghosts" in dlq[_eid(2)]["error_message"]


def test_routing_parity_mixed_batch(spark, users_ingest):
    """One batch holding every DLQ route at once: each event gets
    exactly one outcome, with the DLQ key, type and message it has
    always had (so replays across upgrades still dedup), and the
    TRUNCATE carrying a rejected schema version still applies."""
    import json

    U3 = "33333333-3333-3333-3333-333333333333"
    U4 = "44444444-4444-4444-4444-444444444444"
    users_ingest.process_batch(_df(spark, [
        _event(_eid(1), "CREATE", 500, after={"id": U3, "username": "seed", "age": "5"}),
    ]))
    # MODIFY_COLUMN is rejected under BACKWARD: version 2 is REJECTED
    ok, version, _ = users_ingest.evolve_table_schema("users", T.StructType([
        T.StructField("id", T.StringType()),
        T.StructField("username", T.StringType()),
        T.StructField("age", T.StringType()),
    ]))
    assert (ok, version) == (False, 2)

    far_future = 10**17
    users_ingest.process_batch(_df(spark, [
        _event("bad-uuid", "CREATE", 1000, after={"id": U4, "username": "b", "age": "1"}),
        _event(_eid(11), "CREATE", far_future, after={"id": U4, "username": "f", "age": "1"}),
        _event(_eid(12), "CREATE", 1000, table="ghosts", after={"id": U4}),
        _event(_eid(13), "TRUNCATE", 1000, table="phantoms"),
        _event(_eid(14), "CREATE", 1000, after={"id": U4, "username": "r", "age": "1"},
               version=2),
        _event(_eid(15), "CREATE", 1000, after={"id": U4, "username": "rp", "age": "x"},
               version=2),
        _event(_eid(16), "TRUNCATE", 1500, version=2),
        _event(_eid(17), "CREATE", 1000, after={"id": U4, "username": "p", "age": "abc"}),
        _event(_eid(18), "CREATE", 1200, after={"id": U1, "username": "old", "age": "2"}),
        _event(_eid(19), "CREATE", 2000, after={"id": U2, "username": "new", "age": "3"}),
    ]))

    # dlq_id = md5(error_type | original event JSON) is pinned: replays
    # across an upgrade must merge onto the same DLQ keys
    dlq = users_ingest.dlq().collect()
    by_event = {json.loads(r["original_event"])["event_id"]:
                (r["error_type"], r["error_message"], r["dlq_id"]) for r in dlq}
    assert len(dlq) == len(by_event) == 7
    assert by_event == {
        "bad-uuid": ("SCHEMA_MISMATCH", "validation failed: SCHEMA_MISMATCH",
                     "af2e31f5395a734ccad81314c4de22cb"),
        _eid(11): ("CONSTRAINT_VIOLATION", "validation failed: CONSTRAINT_VIOLATION",
                   "3299ae5608c56a71e8d49d8504ff7b4b"),
        _eid(12): ("UNKNOWN_TABLE", "no registered schema for table ghosts",
                   "bc02ed8d3522901a68b2fc55e5b4c91e"),
        _eid(13): ("UNKNOWN_TABLE", "no registered schema for table phantoms",
                   "c49b3e4d883b2a70e0fc1c3c6f3e9aad"),
        _eid(14): ("SCHEMA_MISMATCH", "rejected schema version 2",
                   "2ef61ae41ec154ef612ddab76b294f26"),
        _eid(15): ("SCHEMA_MISMATCH", "rejected schema version 2",
                   "cd348e5cacb9c1162a584a3aab914b4b"),
        _eid(17): ("TYPE_CONVERSION_ERROR", "type conversion failed for columns: age",
                   "139f36b3e64e70677f85f01450442290"),
    }

    # the version-2 TRUNCATE at 1500 soft-deleted the seed row and the
    # row at 1200; the row at 2000 survives
    live = {r["id"]: (r["username"], r["age"], r["_last_event_id"])
            for r in users_ingest.table("users").read_live().collect()}
    assert live == {U2: ("new", 3, _eid(19))}
    assert users_ingest.table("users").read().count() == 3


def test_clock_edge_events_land_exactly_once(spark, users_ingest):
    """Events stamped around the now+60 s future-skew limit: each one
    either merges or lands in the DLQ as CONSTRAINT_VIOLATION, exactly
    once — the limit is fixed once per batch, not re-read per job."""
    import json
    import time

    now_us = int(time.time() * 1_000_000)
    events = [
        _event(_eid(1000 + i), "CREATE", now_us + 58_000_000 + i * 50_000,
               after={"id": _eid(i), "username": str(i), "age": str(i)})
        for i in range(200)
    ]
    users_ingest.process_batch(_df(spark, events))
    live = [r["id"] for r in users_ingest.table("users").read_live().collect()]
    dlq = users_ingest.dlq().collect() if users_ingest.dlq_table().exists() else []
    dlq_ids = [json.loads(r["original_event"])["after"]["id"] for r in dlq]
    assert {r["error_type"] for r in dlq} <= {"CONSTRAINT_VIOLATION"}
    assert sorted(live + dlq_ids) == sorted(_eid(i) for i in range(200))


def test_null_schema_version_merges_beside_a_rejected_version(spark, users_ingest):
    """An event with no schema_version is not on a rejected version:
    it merges, even after the table recorded a REJECTED version."""
    ok, _, _ = users_ingest.evolve_table_schema("users", T.StructType([
        T.StructField("id", T.StringType()),
        T.StructField("username", T.StringType()),
        T.StructField("age", T.StringType()),
    ]))
    assert not ok
    users_ingest.process_batch(_df(spark, [
        _event(_eid(1), "CREATE", 1000, after={"id": U1, "username": "a", "age": "1"},
               version=None),
    ]))
    assert [r["id"] for r in users_ingest.table("users").read_live().collect()] == [U1]
