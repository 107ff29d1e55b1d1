"""Generator determinism and invalid-class coverage."""

import json

import gen
import oracle

PARAMS = {
    "key_space": 500,
    "zipf_s": 1.1,
    "op_mix": {"CREATE": 70, "UPDATE": 20, "DELETE": 10},
    "ooo_frac": 0.05,
    "ooo_shift_s": [1, 10],
    "invalid_frac": 0.05,
    "invalid_classes": list(gen.INVALID_CLASSES),
}


def test_same_seed_gives_identical_bytes():
    a = gen.EventGen(7, PARAMS).lines(2000)
    b = gen.EventGen(7, PARAMS).lines(2000)
    assert a == b
    assert a != gen.EventGen(8, PARAMS).lines(2000)


def test_lander_publishes_staged_bytes(tmp_path):
    lander = gen.Lander(str(tmp_path / "staging"), str(tmp_path / "landing"))
    data = gen.EventGen(1, PARAMS).lines(10)
    lander.stage("f.jsonl", data)
    assert not (tmp_path / "landing" / "f.jsonl").exists()
    lander.land("f.jsonl")
    assert (tmp_path / "landing" / "f.jsonl").read_bytes() == data
    assert not (tmp_path / "staging" / "f.jsonl").exists()


def test_invalid_events_land_in_their_dlq_class(tmp_path):
    data = gen.EventGen(3, PARAMS).lines(4000)
    kinds = {"SCHEMA_MISMATCH": 0, "CONSTRAINT_VIOLATION": 0, "TYPE_CONVERSION_ERROR": 0}
    for line in data.decode().splitlines():
        e = json.loads(line)
        if e["event_id"].startswith("not-a-uuid"):
            kinds["SCHEMA_MISMATCH"] += 1
        elif e["timestamp_micros"] >= gen.FUTURE_TS_US:
            kinds["CONSTRAINT_VIOLATION"] += 1
        elif e["operation_type"] == "UPDATE" and e["before"] is None:
            kinds["SCHEMA_MISMATCH"] += 1
        elif (e["after"] or {}).get("qty") == "not-a-number":
            kinds["TYPE_CONVERSION_ERROR"] += 1
    assert all(kinds.values())
    path = tmp_path / "e.jsonl"
    path.write_bytes(data)
    got = oracle.replay([str(path)], 0, gen.BASE_TS_US + 10**12)
    assert got["dlq"] == kinds
