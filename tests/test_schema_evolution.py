"""Schema evolution: detect → compat gate → evolve/DLQ.

Local-mode ports of the reference's integration scenarios:
- ADD_COLUMN propagates and old rows backfill NULL
  (``test_schema_add_column.py:52``)
- MODIFY_COLUMN is rejected under BACKWARD and events carrying the
  rejected version are DLQ'd as SCHEMA_MISMATCH
  (``test_schema_type_change.py:51-228``, ``test_schema_incompatible.py:68``,
  FR-017 ``spec.md:172``)
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cass_cdc_pg_spark.streaming.ingest import CdcIngest
from cass_cdc_pg_spark.streaming.schema_evolution import (
    ADD_COLUMN,
    DROP_COLUMN,
    MODIFY_COLUMN,
    SchemaRegistry,
    check_compatibility,
    detect_changes,
)

U1 = "11111111-1111-1111-1111-111111111111"
U2 = "22222222-2222-2222-2222-222222222222"

CHANGE_EVENT_DDL = (
    "event_id string, source_table string, operation_type string, "
    "timestamp_micros long, before map<string,string>, after map<string,string>, "
    "schema_version int, ttl_seconds int, is_tombstone boolean"
)

V1 = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("username", T.StringType()),
        T.StructField("age", T.IntegerType()),
    ]
)


def _eid(n):
    return str(uuid.UUID(int=n))


def _ev(eid, ts, after, version=1):
    return (_eid(eid), "users", "CREATE", ts, None, after, version, None, False)


@pytest.fixture()
def ingest(spark, tmp_path):
    return CdcIngest(
        spark,
        str(tmp_path / "wh"),
        table_schemas={"users": V1},
        key_cols={"users": ["id"]},
        num_buckets=4,
    )


# -- detector + gate (unit level) -------------------------------------------

def test_detect_changes_all_three_kinds():
    old = {"a": "int", "b": "string", "c": "double"}
    new = {"a": "int", "b": "bigint", "d": "string"}
    got = {(c["type"], c["column"]) for c in detect_changes(old, new)}
    assert got == {
        (ADD_COLUMN, "d"),
        (DROP_COLUMN, "c"),
        (MODIFY_COLUMN, "b"),
    }


def test_compat_rules():
    modify = [{"type": MODIFY_COLUMN, "column": "x", "old_type": "int", "new_type": "string"}]
    add_nullable = [{"type": ADD_COLUMN, "column": "x", "old_type": None, "new_type": "string"}]
    drop = [{"type": DROP_COLUMN, "column": "x", "old_type": "int", "new_type": None}]
    assert check_compatibility(modify)[0] is False
    assert check_compatibility(add_nullable, {"x": True})[0] is True
    assert check_compatibility(add_nullable, {"x": False})[0] is False
    assert check_compatibility(drop)[0] is True


def test_registry_versions_and_rejection(tmp_path):
    reg = SchemaRegistry(str(tmp_path / "meta"))
    assert reg.register("users", V1) == 1
    assert reg.register("users", V1) == 1  # idempotent
    v2 = T.StructType([*V1.fields, T.StructField("email", T.StringType())])
    ok, ver, changes = reg.evolve("users", v2)
    assert ok and ver == 2 and changes[0]["type"] == ADD_COLUMN
    bad = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("username", T.StringType()),
            T.StructField("age", T.StringType()),  # int → string
            T.StructField("email", T.StringType()),
        ]
    )
    ok, ver, changes = reg.evolve("users", bad)
    assert not ok and ver == 3
    assert reg.rejected_versions("users") == {3}
    assert reg.current_version("users") == 2  # active stays at v2
    assert len(reg.history("users")) == 3


def test_legacy_manifest_compatibility_field_is_ignored(tmp_path):
    """A manifest that still stores a per-table ``"compatibility"`` mode
    loads, and the BACKWARD rule gates it whatever the field says."""
    import json

    reg = SchemaRegistry(str(tmp_path / "meta"))
    reg.register("users", V1)
    with open(reg._manifest) as f:
        data = json.load(f)
    data["tables"]["users"]["compatibility"] = "NONE"
    with open(reg._manifest, "w") as f:
        json.dump(data, f)
    assert reg.current_version("users") == 1
    retyped = T.StructType([*V1.fields[:2], T.StructField("age", T.StringType())])
    ok, ver, _ = reg.evolve("users", retyped)
    assert (ok, ver) == (False, 2)
    assert reg.current_version("users") == 1


# -- end-to-end through the ingest loop -------------------------------------

def test_add_column_auto_evolves_and_backfills(spark, ingest):
    """Port of test_schema_add_column.py:52 — a payload with an unseen
    column evolves the schema; the new column lands typed (string) and
    pre-evolution rows backfill NULL."""
    ingest.process_batch(spark.createDataFrame(
        [_ev(1, 1000, {"id": U1, "username": "a", "age": "30"})], CHANGE_EVENT_DDL))
    ingest.process_batch(spark.createDataFrame(
        [_ev(2, 2000, {"id": U2, "username": "b", "age": "31",
                       "test_column": "value_x"}, version=2)], CHANGE_EVENT_DDL))
    rows = {r["id"]: r.asDict() for r in ingest.table("users").read().collect()}
    assert rows[U2]["test_column"] == "value_x"
    assert rows[U1]["test_column"] is None  # NULL backfill, no rewrite
    assert ingest.schema_registry.current_version("users") == 2


def test_type_change_rejected_routes_to_dlq(spark, ingest):
    """Port of test_schema_type_change/test_schema_incompatible — a
    MODIFY_COLUMN evolution is rejected under BACKWARD; events carrying
    the rejected version land in the DLQ as SCHEMA_MISMATCH and NOT in
    the table."""
    ingest.process_batch(spark.createDataFrame(
        [_ev(1, 1000, {"id": U1, "username": "a", "age": "30"})], CHANGE_EVENT_DDL))

    bad_schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("username", T.StringType()),
            T.StructField("age", T.StringType()),  # type change
        ]
    )
    ok, rejected_version, changes = ingest.evolve_table_schema("users", bad_schema)
    assert not ok
    assert any(c["type"] == MODIFY_COLUMN for c in changes)

    ingest.process_batch(spark.createDataFrame(
        [_ev(2, 2000, {"id": U2, "username": "b", "age": "not-an-int"},
             version=rejected_version)], CHANGE_EVENT_DDL))
    # not merged
    assert {r["id"] for r in ingest.table("users").read().collect()} == {U1}
    dlq = ingest.dlq().collect()
    assert len(dlq) == 1
    assert dlq[0]["error_type"] == "SCHEMA_MISMATCH"
    assert "rejected schema version" in dlq[0]["error_message"]


def test_drop_column_is_compatible(spark, ingest):
    """BACKWARD allows DROP_COLUMN: writes under the narrowed schema
    merge cleanly; existing rows keep their old values."""
    ingest.process_batch(spark.createDataFrame(
        [_ev(1, 1000, {"id": U1, "username": "a", "age": "30"})], CHANGE_EVENT_DDL))
    narrowed = T.StructType(
        [T.StructField("id", T.StringType()), T.StructField("username", T.StringType())]
    )
    ok, ver, changes = ingest.evolve_table_schema("users", narrowed)
    assert ok and changes[0]["type"] == DROP_COLUMN
    ingest.process_batch(spark.createDataFrame(
        [_ev(2, 2000, {"id": U2, "username": "b"}, version=ver)], CHANGE_EVENT_DDL))
    rows = {r["id"]: r.asDict() for r in ingest.table("users").read().collect()}
    assert rows[U1]["age"] == 30       # mergeSchema keeps the old column
    assert rows[U2]["username"] == "b"


# -- the registry is the one schema authority -------------------------------

USERS_CFG = {"tables": {"users": {"ddl": "id string, username string, age int",
                                  "keys": ["id"]}}}


def _unwrap_schemas(monkeypatch) -> list:
    """Record the payload schema of every unwrap the ingest runs."""
    from cass_cdc_pg_spark.streaming import transforms

    seen, orig = [], transforms.unwrap
    monkeypatch.setattr(transforms, "unwrap",
                        lambda ev, pt: seen.append(pt) or orig(ev, pt))
    return seen


def test_config_built_ingest_merges_with_the_evolved_schema(spark, tmp_path):
    """A second ingest built from the same config (as every DLQ replay
    and restarted stream is) extracts with the registry's evolved
    schema: a typed ADD of ``score double`` merges 2.5 as a double, and
    no bogus string MODIFY is registered as a third version."""
    wh = str(tmp_path / "wh")
    first = CdcIngest.from_config(spark, wh, USERS_CFG)
    ok, ver, _ = first.evolve_table_schema(
        "users", T.StructType([*V1.fields, T.StructField("score", T.DoubleType())]))
    assert ok and ver == 2
    first.process_batch(spark.createDataFrame(
        [_ev(1, 1000, {"id": U1, "username": "a", "age": "30", "score": "1.5"},
             version=2)], CHANGE_EVENT_DDL))

    second = CdcIngest.from_config(spark, wh, USERS_CFG)
    second.process_batch(spark.createDataFrame(
        [_ev(2, 2000, {"id": U2, "username": "b", "age": "31", "score": "2.5"},
             version=2)], CHANGE_EVENT_DDL))
    rows = {r["id"]: r for r in second.table("users").read_live().collect()}
    assert rows[U1]["score"] == 1.5 and rows[U2]["score"] == 2.5
    assert [v["status"] for v in second.schema_registry.history("users")] == [
        "ACTIVE", "ACTIVE"]
    assert second.schema_registry.rejected_versions("users") == set()


@pytest.mark.parametrize("name", ["USERS_SCHEMA", "EXOTIC_SCHEMA"])
def test_registry_round_trips_the_registered_schema(spark, tmp_path, monkeypatch, name):
    """The schema rebuilt from the registry's stored columns and
    nullability equals the registered StructType — for a config-built
    ingest and for what its merge unwraps with."""
    from test_ingest_regressions import USERS_SCHEMA
    from test_type_matrix import EXOTIC_SCHEMA

    schema = {"USERS_SCHEMA": USERS_SCHEMA, "EXOTIC_SCHEMA": EXOTIC_SCHEMA}[name]
    wh = str(tmp_path / "wh")
    cfg = {"tables": {"users": {"ddl": schema.toDDL(), "keys": ["id"]}}}
    ing = CdcIngest.from_config(spark, wh, cfg)
    assert ing.schema_registry.pinned_schemas()[0]["users"] == schema
    assert ing.table_schemas["users"] == schema
    seen = _unwrap_schemas(monkeypatch)
    ing.process_batch(spark.createDataFrame(
        [_ev(1, 1000, {"id": U1})], CHANGE_EVENT_DDL))
    assert seen == [schema]


def test_config_built_ingest_honours_an_accepted_drop(spark, ingest, monkeypatch):
    """After an accepted DROP_COLUMN, an ingest built from the original
    config no longer extracts the dropped column: the config DDL counts
    only at the table's first registration."""
    ingest.process_batch(spark.createDataFrame(
        [_ev(1, 1000, {"id": U1, "username": "a", "age": "30"})], CHANGE_EVENT_DDL))
    narrowed = T.StructType(V1.fields[:2])
    ok, ver, _ = ingest.evolve_table_schema("users", narrowed)
    assert ok

    again = CdcIngest.from_config(spark, ingest.warehouse, USERS_CFG)
    assert again.table_schemas["users"] == narrowed
    seen = _unwrap_schemas(monkeypatch)
    again.process_batch(spark.createDataFrame(
        [_ev(2, 2000, {"id": U2, "username": "b"}, version=ver)], CHANGE_EVENT_DDL))
    assert seen == [narrowed]
    rows = {r["id"]: r.asDict() for r in again.table("users").read().collect()}
    assert rows[U1]["age"] == 30 and rows[U2]["age"] is None
    assert len(again.schema_registry.history("users")) == 2


def test_table_schemas_is_a_read_only_view(ingest):
    with pytest.raises(TypeError):
        ingest.table_schemas["users"] = V1
    assert dict(ingest.table_schemas) == {"users": V1}


def test_readded_column_takes_its_last_registered_type(spark, ingest):
    """After an accepted DROP_COLUMN of ``age int``, an event whose
    payload still carries ``age`` re-adds it as ``int`` (its type in the
    version history), not ``string``: older files hold ``age`` as int,
    so a string re-add fails every later read with CANNOT_MERGE_SCHEMAS.
    A value that does not convert to the old type goes to the DLQ."""
    ingest.process_batch(spark.createDataFrame(
        [_ev(1, 1000, {"id": U1, "username": "a", "age": "30"})], CHANGE_EVENT_DDL))
    ok, ver, changes = ingest.evolve_table_schema("users", T.StructType(V1.fields[:2]))
    assert ok and changes[0]["type"] == DROP_COLUMN
    ingest.process_batch(spark.createDataFrame(
        [_ev(2, 2000, {"id": U2, "username": "b", "age": "31"}, version=ver),
         _ev(3, 3000, {"id": "x", "username": "c", "age": "old"}, version=ver)],
        CHANGE_EVENT_DDL))

    history = ingest.schema_registry.history("users")
    assert [v["status"] for v in history] == ["ACTIVE"] * 3
    assert history[-1]["columns"]["age"] == "int"
    live = ingest.table("users").read_live()
    assert live.schema["age"].dataType == T.IntegerType()
    assert {r["id"]: r["age"] for r in live.collect()} == {U1: 30, U2: 31}
    assert [r["error_type"] for r in ingest.dlq().collect()] == [
        "TYPE_CONVERSION_ERROR"]
    # a later batch still merges into and reads the table
    ingest.process_batch(spark.createDataFrame(
        [_ev(4, 4000, {"id": U1, "username": "a2", "age": "32"}, version=3)],
        CHANGE_EVENT_DDL))
    assert ingest.table("users").read_live().filter(F.col("id") == U1).first()["age"] == 32
