"""Skip-gated Kafka JVM-path integration test (S2).

The Kafka transport (``streaming/ingest.kafka_stream``) needs two
things this container does not ship: the ``spark-sql-kafka`` jar and a
reachable broker.  The test activates the moment the environment
provides them — mirroring the reference's skip-gated integration
suite (``reference/tests/integration/test_end_to_end_replication.py:12-20``,
which skips without its docker compose stack) — so the env-gated code
stops being dead the day it can run:

    spark-submit --packages \
        org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version> ...
    export KAFKA_BOOTSTRAP=broker:9092
    pytest tests/test_kafka_integration.py

Everything here is self-contained given jar + broker: test data is
PRODUCED through Spark's own kafka sink (no Python kafka client
needed), then read back through the exact streaming path production
uses.
"""

from __future__ import annotations

import json
import os
import socket
import uuid

import pytest


def _kafka_jar_present(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:
        return False


def _broker_reachable(bootstrap: str) -> bool:
    host, _, port = bootstrap.partition(":")
    try:
        with socket.create_connection((host, int(port or 9092)), timeout=3):
            return True
    except OSError:
        return False


@pytest.fixture()
def kafka_env(spark):
    bootstrap = os.environ.get("KAFKA_BOOTSTRAP")
    if not bootstrap:
        pytest.skip("KAFKA_BOOTSTRAP not set (no broker in this environment)")
    if not _kafka_jar_present(spark):
        pytest.skip("spark-sql-kafka jars not on the classpath "
                    "(--packages org.apache.spark:spark-sql-kafka-0-10_2.13)")
    if not _broker_reachable(bootstrap):
        pytest.skip(f"broker {bootstrap} not reachable")
    return bootstrap


def test_kafka_stream_parses_change_events_end_to_end(kafka_env, spark, tmp_path):
    """Produce ChangeEvent JSON through Spark's kafka sink, read it
    back through kafka_stream (subscribePattern + from_json parse) —
    the full S2 JVM transport."""
    from cass_cdc_pg_spark.streaming.ingest import kafka_stream

    topic = f"cdc-events-users-{uuid.uuid4().hex[:8]}"
    payload = {
        "event_id": "33333333-3333-4333-8333-333333333301",
        "source_table": "users",
        "operation_type": "CREATE",
        "timestamp_micros": 1000,
        "after": {"id": "u1", "username": "a"},
        "schema_version": 1,
        "is_tombstone": False,
    }
    (
        spark.createDataFrame([(json.dumps(payload),)], "value string")
        .write.format("kafka")
        .option("kafka.bootstrap.servers", kafka_env)
        .option("topic", topic)
        .save()
    )
    q = (
        kafka_stream(spark, kafka_env, pattern=topic)
        .writeStream.format("memory")
        .queryName("kafka_e2e")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM kafka_e2e").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["event_id"] == payload["event_id"]
    assert r["source_table"] == "users"
    assert r["operation_type"] == "CREATE"
    assert r["after"]["username"] == "a"
