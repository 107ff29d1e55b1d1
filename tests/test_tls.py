"""TLS 1.3 transport parity (``cass_cdc_pg_spark/tls.py`` vs
reference ``src/config/tls_config.py``) — context pinning and the API
server actually serving TLS 1.3 over a real socket (handshake +
request + mutual-TLS rejection), with the ``certs`` fixture's certs (``conftest.py``)."""

from __future__ import annotations

import json
import ssl
import urllib.request

import pytest

from cass_cdc_pg_spark import tls


# ---------------------------------------------------------------- unit


def test_client_context_pins_tls13():
    ctx = tls.create_tls_context(verify_mode=ssl.CERT_NONE)
    assert ctx.minimum_version == ssl.TLSVersion.TLSv1_3
    assert ctx.maximum_version == ssl.TLSVersion.TLSv1_3
    assert ctx.verify_mode == ssl.CERT_NONE
    assert ctx.check_hostname is False


def test_client_context_verifies_by_default():
    ctx = tls.create_tls_context()
    assert ctx.verify_mode == ssl.CERT_REQUIRED
    assert ctx.check_hostname is True


def test_pinned_ca_is_sole_trust_anchor(certs):
    """A supplied ca_file REPLACES the system bundle rather than being
    merged into it — otherwise any publicly-issued cert for the target
    hostname would still verify and the pin is meaningless (r9 ADVICE;
    the reference's bare PROTOCOL_TLS_CLIENT context has the same
    sole-anchor property)."""
    crt, _ = certs["server"]
    pinned = tls.create_tls_context(ca_file=crt)
    assert pinned.cert_store_stats()["x509_ca"] == 1
    # sanity: without a pin the default bundle loads (many CAs)
    system = tls.create_tls_context()
    assert system.cert_store_stats()["x509_ca"] > 1


# ---------------------------------------------------- e2e over sockets


@pytest.fixture(scope="module")
def tls_server(spark, certs):
    from cass_cdc_pg_spark.api import CdcApiServer, CdcApiService

    crt, key = certs["server"]
    srv = CdcApiServer(CdcApiService(spark))
    tls.secure_server(srv, cert_file=crt, key_file=key)
    host, port = srv.start()
    yield f"https://{host}:{port}", crt
    srv.stop()


def _https_get(url: str, ctx: ssl.SSLContext):
    with urllib.request.urlopen(url, timeout=60, context=ctx) as resp:
        return resp.status, json.loads(resp.read())


def test_api_serves_tls13(tls_server):
    base, server_crt = tls_server
    ctx = tls.create_tls_context(ca_file=server_crt)
    ctx.check_hostname = False  # CN cert; SAN covers the IP but keep lax
    status, body = _https_get(base + "/health", ctx)
    assert status == 200 and body["status"] in ("healthy", "degraded")


def test_negotiated_protocol_is_tls13(tls_server, certs):
    import socket

    base, server_crt = tls_server
    host, port = base.removeprefix("https://").split(":")
    ctx = tls.create_tls_context(ca_file=server_crt)
    ctx.check_hostname = False
    with socket.create_connection((host, int(port)), timeout=30) as raw:
        with ctx.wrap_socket(raw) as s:
            assert s.version() == "TLSv1.3"


def test_plaintext_client_rejected(tls_server):
    base, _ = tls_server
    with pytest.raises(Exception):  # server refuses non-TLS bytes
        urllib.request.urlopen(
            base.replace("https://", "http://") + "/health", timeout=30
        )


@pytest.fixture(scope="module")
def mtls_server(spark, certs):
    from cass_cdc_pg_spark.api import CdcApiServer, CdcApiService

    crt, key = certs["server"]
    client_crt, _ = certs["client"]
    srv = CdcApiServer(CdcApiService(spark))
    # trust exactly the client's self-signed cert as the client CA
    tls.secure_server(srv, cert_file=crt, key_file=key, ca_file=client_crt)
    host, port = srv.start()
    yield f"https://{host}:{port}", crt
    srv.stop()


def test_mutual_tls_requires_client_cert(mtls_server, certs):
    base, server_crt = mtls_server
    bare = tls.create_tls_context(ca_file=server_crt)
    bare.check_hostname = False
    with pytest.raises(Exception):  # no client cert → handshake fails
        _https_get(base + "/health", bare)

    client_crt, client_key = certs["client"]
    authed = tls.create_tls_context(
        cert_file=client_crt, key_file=client_key, ca_file=server_crt
    )
    authed.check_hostname = False
    status, _ = _https_get(base + "/health", authed)
    assert status == 200
