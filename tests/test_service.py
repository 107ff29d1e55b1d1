"""The replication service end to end: ``python -m cass_cdc_pg_spark.cli
run`` in a subprocess lands, serves and stops as an operator runs it.

Change files come from the benchmark's seeded generator (``cdcbench/gen.py``,
invalid events included) through its atomic lander; the final state is
checked against the benchmark's DuckDB replay (``cdcbench/oracle.py``).
The service runs twice on one warehouse and checkpoint, the second time
behind mutual TLS.  Each start is its own process group, killed in a
``finally``, so no Spark JVM outlives the test."""

from __future__ import annotations

import json
import os
import re
import signal
import subprocess
import sys
import time
import urllib.request

import pytest

from cass_cdc_pg_spark import tls

pytestmark = pytest.mark.slow

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

GEN_PARAMS = {
    "key_space": 400,
    "zipf_s": 0,
    "op_mix": {"CREATE": 70, "UPDATE": 20, "DELETE": 10},
    "ooo_frac": 0.05,
    "ooo_shift_s": [1, 10],
    "invalid_frac": 0.05,
    "invalid_classes": ["bad_uuid", "future_ts", "update_missing_before", "type_poison"],
}
EVENTS_PER_FILE = 150
START_TIMEOUT_S = 180
DRAIN_TIMEOUT_S = 180

_COUNTED = re.compile(
    r'^(cdc_events_processed_total|cdc_dlq_events_total)\{(.*)\} (\S+)$', re.M)


def _start(args: list[str], out_dir):
    """Start ``cli run`` with *args*; ``(process, base url)`` once it
    prints its ``listening`` line."""
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", "4")
    env.setdefault("SPARK_DRIVER_MEMORY", "1g")
    n = len(list(out_dir.glob("run*.out")))
    out, err = out_dir / f"run{n}.out", out_dir / f"run{n}.err"
    with open(out, "w") as fo, open(err, "w") as fe:
        proc = subprocess.Popen(
            [sys.executable, "-m", "cass_cdc_pg_spark.cli", "run", *args],
            cwd=ROOT, env=env, stdout=fo, stderr=fe, start_new_session=True,
        )
    deadline = time.time() + START_TIMEOUT_S
    while time.time() < deadline:
        for line in out.read_text().splitlines():
            if line.startswith("{") and "listening" in line:
                return proc, json.loads(line)["listening"]
        assert proc.poll() is None, err.read_text()[-3000:]
        time.sleep(0.5)
    raise AssertionError(f"no listening line: {err.read_text()[-3000:]}")


def _get(url: str, ctx=None) -> bytes:
    with urllib.request.urlopen(url, timeout=60, context=ctx) as resp:
        return resp.read()


def _counted(metrics: str) -> tuple[float, float]:
    """(events the stream merged into ``events``, all events it counted)."""
    merged = total = 0.0
    for name, labels, value in _COUNTED.findall(metrics):
        total += float(value)
        if name == "cdc_events_processed_total" and 'table="events"' in labels:
            merged += float(value)
    return merged, total


def _drain(base: str, n_events: int, ctx=None) -> str:
    """Wait until the service's metrics count *n_events* events (merged
    or DLQ'd); returns the last ``/metrics`` text."""
    deadline = time.time() + DRAIN_TIMEOUT_S
    while True:
        text = _get(base + "/metrics", ctx).decode()
        if _counted(text)[1] >= n_events or time.time() > deadline:
            return text
        time.sleep(1)


def _stop(proc) -> int:
    """SIGTERM the service; its exit code."""
    proc.send_signal(signal.SIGTERM)
    return proc.wait(timeout=120)


def _group_gone(pgid: int, timeout: float = 60) -> bool:
    """True once no live process is left in process group *pgid*."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return True
        time.sleep(0.5)
    return False


def _kill_group(proc) -> None:
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait(timeout=30)


def test_run_streams_serves_and_restarts_behind_mutual_tls(spark, tmp_path, certs,
                                                            monkeypatch):
    monkeypatch.syspath_prepend(os.path.join(ROOT, "cdcbench"))
    import gen
    import oracle

    from cass_cdc_pg_spark.plans.keyed_table import KeyedTable
    from cass_cdc_pg_spark.streaming.ingest import cdc_table_path, dlq_table

    wh, landing = tmp_path / "wh", tmp_path / "landing"
    cfg = tmp_path / "cfg.json"
    cfg.write_text(json.dumps(
        {"tables": {gen.TABLE: {"ddl": gen.PAYLOAD_DDL, "keys": gen.KEY_COLS}}}))
    lander = gen.Lander(str(tmp_path / "staging"), str(landing))
    events = gen.EventGen(7, GEN_PARAMS)

    def land(names: list[str]) -> int:
        for name in names:
            lander.stage(name, events.lines(EVENTS_PER_FILE))
            lander.land(name)
        return len(names) * EVENTS_PER_FILE

    base_args = ["--landing", str(landing), "--warehouse", str(wh),
                 "--config", str(cfg), "--port", "0"]
    logs = tmp_path / "logs"
    logs.mkdir()

    # first start: plain HTTP
    proc, base = _start(base_args, logs)
    try:
        n = land([f"a{i}.jsonl" for i in range(3)])
        metrics = _drain(base, n)
        assert _counted(metrics)[0] > 0, metrics
        health = json.loads(_get(base + "/health"))
        assert health["components"]["stream"]["status"] == "healthy", health
        assert _stop(proc) == 0
        assert _group_gone(proc.pid)  # the JVM exits with its driver
    finally:
        _kill_group(proc)

    # second start on the same warehouse and checkpoint, mutual TLS
    server_crt, server_key = certs["server"]
    client_crt, client_key = certs["client"]
    ctx = tls.create_tls_context(cert_file=client_crt, key_file=client_key,
                                 ca_file=server_crt)
    ctx.check_hostname = False
    proc, base = _start(base_args + ["--tls-cert", server_crt, "--tls-key", server_key,
                                     "--tls-client-ca", client_crt], logs)
    try:
        assert base.startswith("https://")
        bare = tls.create_tls_context(ca_file=server_crt)
        bare.check_hostname = False
        with pytest.raises(Exception):  # no client cert: the handshake fails
            _get(base + "/health", bare)
        n = land([f"b{i}.jsonl" for i in range(2)])
        assert _counted(_drain(base, n, ctx))[1] >= n
        assert _stop(proc) == 0
        assert _group_gone(proc.pid)
    finally:
        _kill_group(proc)

    files = sorted(str(p) for p in landing.iterdir())
    want = oracle.replay(files, 0, int(time.time() * 1_000_000))
    live = KeyedTable(spark, cdc_table_path(str(wh), gen.TABLE), gen.KEY_COLS).read_live()
    got = oracle.state_digest(tuple(r) for r in live.select(*gen.PAYLOAD_COLS).collect())
    assert got == oracle.state_digest(want["live"])
    dlq = dlq_table(spark, str(wh)).read_live().groupBy("error_type").count().collect()
    assert {r["error_type"]: r["count"] for r in dlq} == want["dlq"]
    assert len(want["dlq"]) == 3  # every DLQ class the generator makes
