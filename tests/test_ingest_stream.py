"""End-to-end streaming ingest: JSONL → validate → DLQ split →
unwrap/type → LWW merge → keyed table; checkpoint restart idempotence.

Mirrors the reference's integration scenarios
(``test_end_to_end_replication.py``, ``test_dlq_routing.py``,
``test_checkpoint_resume.py``) as deterministic local-mode tests.
"""

from __future__ import annotations

import json
import os
import uuid

import pytest

# multi-minute Spark-heavy suite: excluded from the tight red-green
# loop (`pytest -m "not slow"`); the round gate runs it always
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cass_cdc_pg_spark.streaming.ingest import CdcIngest, jsonl_stream

USERS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("username", T.StringType()),
        T.StructField("age", T.IntegerType()),
    ]
)

U1 = "11111111-1111-1111-1111-111111111111"
U2 = "22222222-2222-2222-2222-222222222222"


def _event(event_id, op, ts, after=None, before=None, table="users", ttl=None, tomb=False):
    return {
        "event_id": event_id,
        "source_table": table,
        "operation_type": op,
        "timestamp_micros": ts,
        "before": before,
        "after": after,
        "schema_version": 1,
        "ttl_seconds": ttl,
        "is_tombstone": tomb,
    }


def _eid(n: int) -> str:
    return str(uuid.UUID(int=n))


def _write_batch(events_dir, name, events):
    os.makedirs(events_dir, exist_ok=True)
    with open(f"{events_dir}/{name}.jsonl", "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


@pytest.fixture()
def ingest(spark, tmp_path):
    return CdcIngest(
        spark,
        str(tmp_path / "wh"),
        table_schemas={"users": USERS_SCHEMA},
        key_cols={"users": ["id"]},
        num_buckets=4,
    )


def _run(spark, ingest, events_dir, checkpoint):
    q = ingest.start(
        jsonl_stream(spark, events_dir), checkpoint=checkpoint, trigger_once=True
    )
    q.awaitTermination(120)


def test_crud_replication_end_to_end(spark, ingest, tmp_path):
    events_dir = str(tmp_path / "events")
    _write_batch(
        events_dir,
        "b1",
        [
            _event(_eid(1), "CREATE", 1000, after={"id": U1, "username": "ann", "age": "34"}),
            _event(_eid(2), "CREATE", 1000, after={"id": U2, "username": "bob", "age": "55"}),
            _event(_eid(3), "UPDATE", 2000,
                   before={"id": U1, "username": "ann", "age": "34"},
                   after={"id": U1, "username": "ann2", "age": "35"}),
            _event(_eid(4), "DELETE", 3000, before={"id": U2, "username": "bob", "age": "55"}),
        ],
    )
    _run(spark, ingest, events_dir, str(tmp_path / "cp"))

    t = ingest.table("users")
    rows = {r["id"]: r.asDict() for r in t.read().collect()}
    assert rows[U1]["username"] == "ann2"
    assert rows[U1]["age"] == 35  # typed via pinned schema (T8)
    assert rows[U1]["_cdc_deleted"] is False
    assert rows[U2]["_cdc_deleted"] is True  # soft delete (T11)
    assert t.read_live().count() == 1


def test_invalid_events_routed_to_dlq(spark, ingest, tmp_path):
    events_dir = str(tmp_path / "events")
    _write_batch(
        events_dir,
        "b1",
        [
            _event(_eid(1), "CREATE", 1000, after={"id": U1, "username": "x", "age": "1"}),
            _event("not-a-uuid", "CREATE", 1000, after={"id": U2}),          # bad UUID
            _event(_eid(3), "UPDATE", 1000, after={"id": U2}),               # missing before
            _event(_eid(4), "CREATE", 4102444800_000_000, after={"id": U2}),  # far future
        ],
    )
    _run(spark, ingest, events_dir, str(tmp_path / "cp"))

    dlq = ingest.dlq()
    by_type = {r["error_type"]: r["n"] for r in dlq.groupBy("error_type").agg(F.count("*").alias("n")).collect()}
    assert by_type.get("SCHEMA_MISMATCH") == 2
    assert by_type.get("CONSTRAINT_VIOLATION") == 1
    assert ingest.table("users").read().count() == 1


def test_checkpoint_restart_no_duplicates(spark, ingest, tmp_path):
    events_dir = str(tmp_path / "events")
    cp = str(tmp_path / "cp")
    _write_batch(
        events_dir, "b1",
        [_event(_eid(1), "CREATE", 1000, after={"id": U1, "username": "a", "age": "1"})],
    )
    _run(spark, ingest, events_dir, cp)
    # restart with one new file: only it is processed; state stays consistent
    _write_batch(
        events_dir, "b2",
        [_event(_eid(2), "UPDATE", 2000,
                before={"id": U1, "username": "a", "age": "1"},
                after={"id": U1, "username": "b", "age": "2"})],
    )
    _run(spark, ingest, events_dir, cp)
    t = ingest.table("users")
    assert t.read().count() == 1
    assert t.read().collect()[0]["username"] == "b"


def test_replayed_batch_is_idempotent(spark, ingest, tmp_path):
    """Reprocessing the same microbatch (crash between commit and
    checkpoint) must not change state (C5)."""
    events = [
        _event(_eid(1), "CREATE", 1000, after={"id": U1, "username": "a", "age": "1"}),
        _event(_eid(2), "UPDATE", 2000,
               before={"id": U1, "username": "a", "age": "1"},
               after={"id": U1, "username": "b", "age": "2"}),
    ]
    df = spark.createDataFrame(
        [tuple(e.values()) for e in events],
        "event_id string, source_table string, operation_type string, "
        "timestamp_micros long, before map<string,string>, after map<string,string>, "
        "schema_version int, ttl_seconds int, is_tombstone boolean",
    )
    ingest.process_batch(df)
    first = {r["id"]: r.asDict() for r in ingest.table("users").read().collect()}
    ingest.process_batch(df)  # replay
    second = {r["id"]: r.asDict() for r in ingest.table("users").read().collect()}
    assert first == second


def test_ttl_event_sets_expiry_and_sweeps(spark, ingest, tmp_path):
    events_dir = str(tmp_path / "events")
    _write_batch(
        events_dir, "b1",
        [
            _event(_eid(1), "CREATE", 1_000_000, ttl=3600,
                   after={"id": U1, "username": "s", "age": "1"}),
            _event(_eid(2), "CREATE", 1_000_000,
                   after={"id": U2, "username": "t", "age": "2"}),
        ],
    )
    _run(spark, ingest, events_dir, str(tmp_path / "cp"))
    t = ingest.table("users")
    rows = {r["id"]: r.asDict() for r in t.read().collect()}
    assert rows[U1]["_ttl_expiry_timestamp_us"] == 1_000_000 + 3600 * 1_000_000
    assert rows[U2]["_ttl_expiry_timestamp_us"] is None
    removed = t.expire_ttl(now_us=2 * 3600 * 1_000_000)
    assert removed == 1
    assert set(r["id"] for r in t.read().collect()) == {U2}


def test_dlq_replay_marks_resolved(spark, ingest, tmp_path):
    events_dir = str(tmp_path / "events")
    # UPDATE without `before` → DLQ'd
    bad = _event(_eid(3), "UPDATE", 1000, after={"id": U1, "username": "x", "age": "9"})
    _write_batch(events_dir, "b1", [bad])
    _run(spark, ingest, events_dir, str(tmp_path / "cp"))
    assert ingest.table("users").exists() is False

    dlq_ids = [r["dlq_id"] for r in ingest.dlq().collect()]
    # fix-and-replay is out of scope for validation failures, but the
    # mechanics must mark replayed rows MANUAL_RESOLVED
    n = ingest.replay_dlq(dlq_ids)
    assert n == 1
    statuses = {r["resolution_status"] for r in ingest.dlq().collect()}
    assert "MANUAL_RESOLVED" in statuses


def test_stateful_streaming_sessionize(spark, tmp_path):
    """applyInPandasWithState sessionization: the open session survives
    the microbatch boundary; a later-batch event past the gap closes
    and emits it with the correct span and count."""
    import json
    import os

    from cass_cdc_pg_spark.streaming.stateful import sessionize_stream

    m = 60 * 1_000_000
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    # batch 1: user 1 at 0 and 10min; user 2 at 0
    with open(f"{in_dir}/b1.jsonl", "w") as fh:
        for uid, t in [(1, 0), (1, 10 * m), (2, 0)]:
            fh.write(json.dumps({"user_id": uid, "ts_us": t}) + "\n")
    # batch 2: user 1 at 70min -> gap 60min > 30min closes [0, 10m]
    #          user 2 at 20min -> same session, stays open
    with open(f"{in_dir}/b2.jsonl", "w") as fh:
        for uid, t in [(1, 70 * m), (2, 20 * m)]:
            fh.write(json.dumps({"user_id": uid, "ts_us": t}) + "\n")

    stream = (
        spark.readStream.schema("user_id long, ts_us long")
        .option("maxFilesPerTrigger", 1)
        .json(in_dir)
    )
    q = (
        # NoTimeout: this test asserts the gap-close path only, and a
        # registered processing-time timer makes an availableNow run
        # poll timer-check batches FOREVER (r9 finding — the old
        # 1h-timeout form burned the full awaitTermination budget and
        # passed only because the rows were already in the sink)
        sessionize_stream(stream, idle_timeout_ms=None)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    # with no timers registered the bounded run must actually END
    assert q.awaitTermination(120) is True
    rows = spark.sql("SELECT * FROM sessions").collect()
    got = {(r["user_id"], r["session_start_us"]): (r["session_end_us"], r["n_events"])
           for r in rows}
    # only user 1's first session closed; open sessions are in state
    assert got == {(1, 0): (10 * m, 2)}


def test_stateful_sessionize_idle_timeout_flush(spark, tmp_path):
    """The idle-flush path (state.hasTimedOut): with a CONTINUOUS
    trigger and a short processing-time timeout, an open session is
    emitted once its key goes idle.  This is the branch a bounded
    availableNow replay never reaches (by design — r9: timers force
    endless timer-poll batches there, so replays run NoTimeout and
    flush via sentinel instead)."""
    import json
    import os
    import time

    from cass_cdc_pg_spark.streaming.stateful import sessionize_stream

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    with open(f"{in_dir}/b1.jsonl", "w") as fh:
        fh.write(json.dumps({"user_id": 9, "ts_us": 0}) + "\n")
    q = (
        sessionize_stream(
            spark.readStream.schema("user_id long, ts_us long").json(in_dir),
            idle_timeout_ms=500,
        )
        .writeStream.format("memory")
        .queryName("sessions_idle")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 90
        rows = []
        while time.time() < deadline and not rows:
            time.sleep(1)
            rows = spark.sql("SELECT * FROM sessions_idle").collect()
    finally:
        q.stop()
    got = [
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in rows
    ]
    assert got == [(9, 0, 0, 1)]


def test_deduplicate_stream_drops_late_duplicates(spark, tmp_path):
    """An event id replayed within the watermark horizon is dropped;
    distinct ids all pass; the plan carries bounded dedup state."""
    from cass_cdc_pg_spark.streaming.stateful import deduplicate_stream

    src = str(tmp_path / "in")
    os.makedirs(src)
    rows = [
        {"event_id": 1, "ts_us": 1_000_000},
        {"event_id": 2, "ts_us": 2_000_000},
        {"event_id": 1, "ts_us": 3_000_000},  # duplicate id, later ts
        {"event_id": 3, "ts_us": 2_500_000},
    ]
    with open(f"{src}/a.jsonl", "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
    stream = (
        spark.readStream.schema("event_id long, ts_us long").json(src)
        .withColumn("_ts", F.timestamp_micros(F.col("ts_us")))
    )
    q = (
        deduplicate_stream(stream, ["event_id"], watermark="10 minutes")
        .writeStream.format("memory").queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["event_id"] for r in spark.sql("SELECT * FROM dedup_out").collect())
    assert got == [1, 2, 3]


def test_native_session_window_matches_gaps_and_islands(spark):
    """sessionize_native (batch): away from the exact-gap boundary the
    built-in session_window produces the same sessions as the
    gaps-and-islands formulation."""
    from cass_cdc_pg_spark.operators.windows import sessionize, sessionize_native

    m = 60 * 1_000_000
    rows = []
    for uid in range(4):
        t = uid * 17 * m
        for i in range(12):
            # gaps alternate well under / well over the 30-min gap
            t += (5 * m) if i % 3 else (45 * m)
            rows.append((uid, t))
    df = spark.createDataFrame(rows, "user_id long, ts_us long")
    key = lambda r: (r["user_id"], r["session_start_us"],
                     r["session_end_us"], r["n_events"])  # noqa: E731
    a = sorted(map(key, sessionize(df).collect()))
    b = sorted(map(key, sessionize_native(df).collect()))
    assert a == b and len(a) >= 8


def test_native_session_window_boundary_semantics(spark):
    """Exact-gap boundary agreement: session_window merges when the
    next event lands at or before prev+gap (window end inclusive for
    merging), matching gaps-and-islands' diff-greater-than-gap-opens
    rule; one microsecond past the gap opens a new session in both."""
    from cass_cdc_pg_spark.operators.windows import sessionize, sessionize_native

    gap = 1_000_000
    at_gap = spark.createDataFrame([(1, 0), (1, gap)], "user_id long, ts_us long")
    assert sessionize(at_gap, gap_us=gap).count() == 1
    assert sessionize_native(at_gap, gap_us=gap).count() == 1
    past = spark.createDataFrame([(1, 0), (1, gap + 1)], "user_id long, ts_us long")
    assert sessionize(past, gap_us=gap).count() == 2
    assert sessionize_native(past, gap_us=gap).count() == 2


def test_native_session_window_streams_and_merges_across_batches(spark, tmp_path):
    """sessionize_native on a stream: Spark's native session-merge
    state joins a session that SPANS two microbatches (no Python
    state function involved), and the full session set equals the
    batch answer."""
    import json
    import os

    from cass_cdc_pg_spark.operators.windows import sessionize_native

    m = 60 * 1_000_000
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    b1 = [(1, 0), (1, 10 * m), (2, 0)]
    b2 = [(1, 20 * m), (1, 120 * m), (2, 200 * m)]  # u1: merges; then far-away session
    for name, batch in (("b1", b1), ("b2", b2)):
        with open(f"{in_dir}/{name}.jsonl", "w") as fh:
            for uid, t in batch:
                fh.write(json.dumps({"user_id": uid, "ts_us": t}) + "\n")
    stream = (
        spark.readStream.schema("user_id long, ts_us long")
        .option("maxFilesPerTrigger", 1)
        .json(in_dir)
    )
    q = (
        sessionize_native(stream)
        .writeStream.format("memory")
        .queryName("native_sessions")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_start_us"]): (r["session_end_us"], r["n_events"])
        for r in spark.sql("SELECT * FROM native_sessions").collect()
    }
    assert got == {
        (1, 0): (20 * m, 3),        # spans the microbatch boundary
        (1, 120 * m): (120 * m, 1),
        (2, 0): (0, 1),
        (2, 200 * m): (200 * m, 1),
    }
