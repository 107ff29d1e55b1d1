"""TLS 1.3 configuration — the transport-security analog.

The reference pins every client connection to TLS 1.3 and hands each
driver its option dict (``src/config/tls_config.py:1-150``:
``create_tls_context`` + Cassandra/PostgreSQL/Kafka option builders).
The only connection this engine serves is its HTTP control plane, so
the contract is re-expressed over it:

- :func:`create_tls_context` — the SSLContext factory, TLS 1.3 pinned
  at both ends of the version range, same cipher preference string,
  client- or server-side.
- :func:`secure_server` — wraps the bound socket of an already-
  constructed ``CdcApiServer`` (or any ``socketserver`` server) so
  the HTTP surface serves TLS 1.3; certificates are the operator's
  (the reference terminates TLS at each service the same way).  ``cli
  run --tls-cert F --tls-key F [--tls-client-ca F]`` serves through it.

The reference's Kafka and PostgreSQL option builders have no
counterpart: ``kafka_stream`` takes no SSL options and no JDBC sink
exists.  Contexts are built before the server starts, and key material
is referenced by path only.
"""

from __future__ import annotations

import ssl

#: The reference's cipher preference string, verbatim (it is the
#: standard forward-secrecy-only OpenSSL list).  TLS 1.3 suites are
#: controlled separately by OpenSSL and are already FS-only; this
#: matters for the ``set_ciphers`` contract and any future downgrade.
CIPHERS = "ECDHE+AESGCM:ECDHE+CHACHA20:DHE+AESGCM:DHE+CHACHA20:!aNULL:!MD5:!DSS"


def create_tls_context(
    cert_file: str | None = None,
    key_file: str | None = None,
    ca_file: str | None = None,
    verify_mode: ssl.VerifyMode = ssl.CERT_REQUIRED,
    server_side: bool = False,
) -> ssl.SSLContext:
    """TLS 1.3-only ``SSLContext`` (reference
    ``tls_config.create_tls_context``, plus a server-side variant the
    reference builds implicitly inside each service container).

    ``minimum_version == maximum_version == TLSv1_3`` — a peer that
    cannot speak 1.3 fails the handshake rather than negotiating
    down.  Client contexts verify by default; ``verify_mode`` is only
    consulted client-side (a server context's policy toward *client*
    certs stays at its library default unless a CA is given, which
    enables mutual TLS)."""
    purpose = (
        ssl.Purpose.CLIENT_AUTH if server_side else ssl.Purpose.SERVER_AUTH
    )
    # cafile goes into create_default_context itself: CPython then loads
    # ONLY that CA and skips load_default_certs, so a pinned CA is the
    # sole trust anchor (the reference's bare PROTOCOL_TLS_CLIENT
    # context has the same property).  Adding it afterwards via
    # load_verify_locations would MERGE it with the system bundle and
    # any publicly-issued cert for the hostname would still verify.
    context = ssl.create_default_context(purpose, cafile=ca_file)
    context.minimum_version = ssl.TLSVersion.TLSv1_3
    context.maximum_version = ssl.TLSVersion.TLSv1_3
    if not server_side:
        if verify_mode == ssl.CERT_NONE:
            context.check_hostname = False
        context.verify_mode = verify_mode
    if ca_file and server_side:
        # CA on the server side == require client certificates
        context.verify_mode = ssl.CERT_REQUIRED
    if cert_file and key_file:
        context.load_cert_chain(certfile=cert_file, keyfile=key_file)
    context.set_ciphers(CIPHERS)
    return context


def secure_server(
    server,
    cert_file: str,
    key_file: str,
    ca_file: str | None = None,
) -> None:
    """Upgrade a bound-but-not-yet-started ``socketserver`` server
    (e.g. ``api.CdcApiServer``) to TLS 1.3.  Call between
    construction and ``start()``.  With *ca_file* the server also
    demands client certificates (mutual TLS).

    ``do_handshake_on_connect=False`` is load-bearing: a threading
    server accepts on ONE thread and hands the connection to a worker
    afterwards, so a handshake inside ``accept()`` would let a single
    client that connects and then sends nothing block the accept loop
    forever (trivial one-connection DoS).  Deferred, the handshake
    runs on the worker thread's first read, where a stalled client
    costs one worker, not the listener."""
    context = create_tls_context(
        cert_file=cert_file, key_file=key_file, ca_file=ca_file,
        server_side=True,
    )
    server.socket = context.wrap_socket(
        server.socket, server_side=True, do_handshake_on_connect=False
    )
