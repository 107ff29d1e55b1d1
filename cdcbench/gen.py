"""Seeded change-event generator and atomic landing writer.

Events follow the ``jsonl_stream`` envelope (``cass_cdc_pg_spark.schema``):
``before``/``after`` are maps of stringified payload values for the
benchmark's ``events`` table (``PAYLOAD_DDL``).  Everything derives from
``random.Random(seed)`` and fixed epochs, never the wall clock, so one
seed yields byte-identical files.

Invalid events (``invalid_frac`` of the stream) are spread evenly over the
FIXTURES A4 DLQ classes:

- ``bad_uuid``               event_id is not a UUID         -> SCHEMA_MISMATCH
- ``future_ts``              timestamp in the year 2100     -> CONSTRAINT_VIOLATION
- ``update_missing_before``  UPDATE with ``before`` null    -> SCHEMA_MISMATCH
- ``type_poison``            ``qty`` = "not-a-number"       -> TYPE_CONVERSION_ERROR
"""

from __future__ import annotations

import bisect
import json
import os
import random
import uuid

TABLE = "events"
PAYLOAD_DDL = "id bigint, name string, amount double, qty int, status string"
KEY_COLS = ["id"]
PAYLOAD_COLS = ["id", "name", "amount", "qty", "status"]

#: valid event times start here (2023-11-14) and advance 1 ms per event
BASE_TS_US = 1_700_000_000_000_000
STEP_US = 1_000
#: the future-timestamp class lands in 2100, past any validation skew
FUTURE_TS_US = 4_102_444_800_000_000

INVALID_CLASSES = ("bad_uuid", "future_ts", "update_missing_before", "type_poison")
STATUSES = ("new", "paid", "shipped", "returned")


class EventGen:
    """Stateful stream of change events for one workload and seed.

    ``params`` keys: ``key_space``, ``zipf_s`` (0 = uniform),
    ``op_mix`` (CREATE/UPDATE/DELETE weights), ``ooo_frac``,
    ``ooo_shift_s`` ([lo, hi] seconds an out-of-order event is moved
    back), ``invalid_frac``, ``invalid_classes``.
    """

    def __init__(self, seed: int, params: dict) -> None:
        self.rnd = random.Random(seed)
        self.seq = 0
        self.key_space = int(params["key_space"])
        self.ops = list(params["op_mix"])
        self.op_weights = [params["op_mix"][o] for o in self.ops]
        self.ooo_frac = float(params["ooo_frac"])
        self.ooo_lo, self.ooo_hi = params["ooo_shift_s"]
        self.invalid_frac = float(params["invalid_frac"])
        self.invalid_classes = list(params["invalid_classes"])
        unknown = set(self.invalid_classes) - set(INVALID_CLASSES)
        if unknown:
            raise ValueError(f"unknown invalid classes: {sorted(unknown)}")
        s = float(params["zipf_s"])
        self._cum = None
        if s > 0:
            acc, cum = 0.0, []
            for rank in range(1, self.key_space + 1):
                acc += rank ** -s
                cum.append(acc)
            self._cum = cum

    def _key(self) -> int:
        if self._cum is None:
            return self.rnd.randrange(self.key_space)
        return bisect.bisect_left(self._cum, self.rnd.random() * self._cum[-1])

    def _uuid(self) -> str:
        return str(uuid.UUID(int=self.rnd.getrandbits(128), version=4))

    def _body(self, key: int) -> dict:
        return {
            "id": str(key),
            "name": f"u{key}-{self.seq}",
            "amount": f"{self.rnd.randrange(100000) / 100:.2f}",
            "qty": str(self.rnd.randrange(1000)),
            "status": self.rnd.choice(STATUSES),
        }

    def event(self) -> dict:
        self.seq += 1
        key = self._key()
        op = self.rnd.choices(self.ops, self.op_weights)[0]
        ts = BASE_TS_US + self.seq * STEP_US
        if self.rnd.random() < self.ooo_frac:
            ts -= self.rnd.randint(self.ooo_lo, self.ooo_hi) * 1_000_000
        body = self._body(key)
        before = None if op == "CREATE" else body
        after = None if op == "DELETE" else body
        event_id = self._uuid()
        if self.rnd.random() < self.invalid_frac:
            kind = self.invalid_classes[self.seq % len(self.invalid_classes)]
            if kind == "bad_uuid":
                event_id = f"not-a-uuid-{self.seq}"
            elif kind == "future_ts":
                ts = FUTURE_TS_US + self.seq
            elif kind == "update_missing_before":
                op, before, after = "UPDATE", None, body
            else:  # type_poison
                op, before, after = "CREATE", None, dict(body, qty="not-a-number")
        return {
            "event_id": event_id,
            "source_table": TABLE,
            "operation_type": op,
            "timestamp_micros": ts,
            "before": before,
            "after": after,
            "schema_version": 1,
        }

    def lines(self, n: int) -> bytes:
        """*n* events as newline-delimited JSON."""
        out = [json.dumps(self.event(), separators=(",", ":")) for _ in range(n)]
        return ("\n".join(out) + "\n").encode()


class Lander:
    """Lands files into a watched directory atomically: bytes go to a
    staging directory on the same filesystem, then one ``os.rename``
    publishes them, so the file source never lists a partial file."""

    def __init__(self, staging: str, landing: str) -> None:
        self.staging = staging
        self.landing = landing
        os.makedirs(staging, exist_ok=True)
        os.makedirs(landing, exist_ok=True)

    def stage(self, name: str, data: bytes) -> None:
        with open(os.path.join(self.staging, name), "wb") as fh:
            fh.write(data)

    def land(self, name: str) -> str:
        dst = os.path.join(self.landing, name)
        os.rename(os.path.join(self.staging, name), dst)
        return dst
