from __future__ import annotations

import subprocess

import pytest


@pytest.fixture(scope="session")
def spark():
    from cass_cdc_pg_spark.session import get_spark

    import os

    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark(app_name="cass-cdc-pg-spark-tests", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _no_stray_streams():
    """Stop any streaming query a test leaked; later tests (e.g. the
    health probes) assume a clean session with no active queries."""
    yield
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        for q in s.streams.active:
            try:
                q.stop()
            except Exception:
                pass


@pytest.fixture(scope="session")
def certs(tmp_path_factory):
    """``{"server": (crt, key), "client": (crt, key)}``: a self-signed
    server cert for 127.0.0.1 and a distinct self-signed client cert,
    minted by the openssl CLI."""
    d = tmp_path_factory.mktemp("tls")
    out = {}
    for name, cn in (("server", "127.0.0.1"), ("client", "cdc-client")):
        crt, key = d / f"{name}.crt", d / f"{name}.key"
        subprocess.run(
            [
                "openssl", "req", "-x509", "-newkey", "ec",
                "-pkeyopt", "ec_paramgen_curve:prime256v1",
                "-keyout", str(key), "-out", str(crt),
                "-days", "2", "-nodes", "-subj", f"/CN={cn}",
                "-addext", "subjectAltName=IP:127.0.0.1",
            ],
            check=True, capture_output=True,
        )
        out[name] = (str(crt), str(key))
    return out


def make_recon_pair(spark, root, n=20):
    """``(warehouse, source_warehouse, table_config)`` under *root*, each
    warehouse holding a ``users`` CDC table: *n* source rows; the target
    misses the last key (5 % drift at n=20) and holds u03 with another
    age."""
    from cass_cdc_pg_spark.plans.keyed_table import KeyedTable
    from cass_cdc_pg_spark.streaming.ingest import cdc_table_path

    payload = "id string, username string, age int"
    ddl = (payload + ", _cdc_deleted boolean, _cdc_timestamp_micros long, "
           "_last_event_id string, _ttl_expiry_timestamp_us long")
    src = [(f"u{i:02d}", f"user{i}", 20 + i, False, 1000, f"e{i}", None)
           for i in range(n)]
    tgt = [(k, u, a + 1 if k == "u03" else a, *meta) for k, u, a, *meta in src[:-1]]
    out = []
    for name, rows in (("recon_tgt", tgt), ("recon_src", src)):
        wh = str(root / name)
        KeyedTable(spark, cdc_table_path(wh, "users"), ["id"], num_buckets=2).merge(
            spark.createDataFrame(rows, ddl))
        out.append(wh)
    return (*out, {"tables": {"users": {"ddl": payload, "keys": ["id"]}}})


@pytest.fixture
def recon_pair(spark, tmp_path):
    """``make_recon_pair`` with 20 source rows."""
    return make_recon_pair(spark, tmp_path)
