"""The DuckDB oracle against the FIXTURES A4 adversarial sub-fixtures."""

import json
import uuid

import pytest

import gen
import oracle

NOW = gen.BASE_TS_US + 10**12


def _ev(op, key, ts, eid=None, name="x", before=True, after=True, **over):
    body = {"id": str(key), "name": name, "amount": "1.50", "qty": "3", "status": "new"}
    e = {
        "event_id": eid or str(uuid.uuid4()),
        "source_table": "events",
        "operation_type": op,
        "timestamp_micros": ts,
        "before": body if (before and op != "CREATE") else None,
        "after": body if (after and op != "DELETE") else None,
        "schema_version": 1,
    }
    e.update(over)
    return e


@pytest.fixture
def replay(tmp_path):
    def run(events, snapshot_rows=0):
        path = tmp_path / "events.jsonl"
        path.write_text("".join(json.dumps(e) + "\n" for e in events))
        return oracle.replay([str(path)], snapshot_rows, NOW)

    return run


def test_out_of_order_triple_keeps_latest(replay):
    t = gen.BASE_TS_US
    got = replay([_ev("UPDATE", 1, t + 3, name="t3"), _ev("CREATE", 1, t + 1, name="t1"),
                  _ev("UPDATE", 1, t + 2, name="t2")])
    assert [r[1] for r in got["live"]] == ["t3"]


def test_equal_timestamp_greater_event_id_wins(replay):
    t = gen.BASE_TS_US
    lo, hi = "00000000-0000-4000-8000-000000000001", "ffffffff-0000-4000-8000-000000000001"
    got = replay([_ev("UPDATE", 1, t, eid=hi, name="hi"), _ev("UPDATE", 1, t, eid=lo, name="lo")])
    assert [r[1] for r in got["live"]] == ["hi"]


def test_late_create_does_not_resurrect_delete(replay):
    t = gen.BASE_TS_US
    got = replay([_ev("DELETE", 1, t + 2), _ev("CREATE", 1, t + 1)])
    assert got["live"] == []


def test_delete_wins_over_snapshot_row(replay):
    got = replay([_ev("DELETE", 1, gen.BASE_TS_US)], snapshot_rows=3)
    assert sorted(r[0] for r in got["live"]) == [0, 2]
    assert all(r[4] == "seed" for r in got["live"])


def test_duplicate_replay_is_one_row_and_one_dlq_record(replay):
    t = gen.BASE_TS_US
    good = _ev("CREATE", 1, t)
    bad = _ev("CREATE", 2, t, eid="not-a-uuid")
    got = replay([good, good, bad, bad])
    assert len(got["live"]) == 1
    assert got["dlq"] == {"SCHEMA_MISMATCH": 1}


def test_invalid_events_go_to_the_dlq(replay):
    t = gen.BASE_TS_US
    poison = _ev("CREATE", 4, t)
    poison["after"]["qty"] = "not-a-number"
    got = replay([
        _ev("CREATE", 1, t, eid="bad-uuid"),
        _ev("CREATE", 2, gen.FUTURE_TS_US),
        _ev("UPDATE", 3, t, before=False),
        poison,
        _ev("CREATE", 5, t),
    ])
    assert got["dlq"] == {"SCHEMA_MISMATCH": 2, "CONSTRAINT_VIOLATION": 1,
                          "TYPE_CONVERSION_ERROR": 1}
    assert [r[0] for r in got["live"]] == [5]


def test_state_digest_ignores_row_order():
    rows = [(1, "a", 1.5, 3, "new"), (2, "b", None, None, "paid")]
    assert oracle.state_digest(rows) == oracle.state_digest(reversed(rows))
    assert oracle.state_digest(rows) != oracle.state_digest(rows[:1])


def test_expected_recon_restricts_scoped_job_to_changed_keys():
    want = oracle.expected_recon(100, {1, 2}, {3, 4}, 5, {2, 3, 50}, 2)
    assert want["full"] == {"MISSING_IN_TARGET": 2, "MISSING_IN_SOURCE": 5,
                            "DATA_MISMATCH": 2}
    assert want["scoped"] == {"MISSING_IN_TARGET": 1, "MISSING_IN_SOURCE": 0,
                              "DATA_MISMATCH": 1}
    assert (want["tgt_count"], want["field_diff_rows"]) == (103, 4)
