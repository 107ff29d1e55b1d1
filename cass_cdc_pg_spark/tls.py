"""TLS 1.3 configuration — the transport-security analog.

The reference pins every client connection to TLS 1.3 and hands each
driver its option dict (``src/config/tls_config.py:1-150``:
``create_tls_context`` + Cassandra/PostgreSQL/Kafka option builders).
A Spark deployment has different connection surfaces, so the same
contract is re-expressed over what a Spark job actually opens:

- :func:`create_tls_context` — the SSLContext factory, TLS 1.3 pinned
  at both ends of the version range, same cipher preference string,
  client- or server-side.
- :func:`kafka_ssl_options` — ``kafka.ssl.*`` reader/writer options
  for the Structured Streaming Kafka connector in PEM form (Kafka
  supports ``ssl.keystore.type=PEM`` since 2.7, so no JKS conversion
  step); pass the dict straight into ``spark.readStream.format(
  "kafka").options(**...)``.
- :func:`jdbc_ssl_properties` — PostgreSQL JDBC sink properties
  (``sslmode=verify-full`` when a CA is pinned, ``require``
  otherwise), the ``df.write.jdbc(..., properties=...)`` shape.
- :func:`secure_server` — wraps the bound socket of an already-
  constructed ``CdcApiServer`` (or any ``socketserver`` server) so
  the HTTP surface serves TLS 1.3; certificates are the operator's
  (the reference terminates TLS at each service the same way).  ``cli
  run --tls-cert F --tls-key F [--tls-client-ca F]`` serves through it.

Everything here is driver-side configuration: contexts and dicts are
built before any reader/writer/server starts, nothing travels to
executors, and key material is referenced by path only.
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


def kafka_ssl_options(
    cert_file: str | None = None,
    key_file: str | None = None,
    ca_file: str | None = None,
    prefix: str = "kafka.",
    keystore_location: str | None = None,
) -> dict[str, str]:
    """Structured-Streaming Kafka connector SSL options (reference
    ``get_kafka_ssl_config``, re-keyed for the JVM client).  The
    reference configures librdkafka (``ssl.key.location`` etc.); the
    Spark connector embeds the JAVA client, whose PEM support (KIP-651)
    takes the private key INLINE as ``ssl.keystore.key`` plus the cert
    chain as ``ssl.keystore.certificate.chain`` — a cert-only PEM at
    ``ssl.keystore.location`` is rejected at startup ("must contain
    both key and cert") and librdkafka-only keys are ignored with a
    warning, so the librdkafka spelling silently breaks mTLS.  The
    key/cert FILES are therefore read here and inlined.  Feed into
    ``.options(**opts)`` next to ``subscribePattern`` (see
    ``streaming/ingest.py:kafka_stream``); the ``kafka.`` prefix is
    how the Spark connector forwards pass-through client configs.

    .. warning:: **Redaction.** Because the private key is an inline
       OPTION VALUE, Spark's default redaction regexes
       (``spark.redaction.regex`` = ``(?i)secret|password|token|
       access[.]key``; ``spark.sql.redaction.options.regex`` =
       ``(?i)url|secret|token|password``) do NOT match the option name
       ``kafka.ssl.keystore.key``, so the key text can surface in the
       Spark UI "Environment"/SQL tabs, ``explain()`` output, and
       event logs.  Deployments MUST extend both configs, e.g.::

           spark.redaction.regex              (?i)secret|password|token|access[.]key|ssl[.]keystore[.]key
           spark.sql.redaction.options.regex  (?i)url|secret|token|password|ssl[.]keystore[.]key

       (or put a COMBINED key+cert PEM at ``ssl.keystore.location`` —
       path-only, nothing inline — which Kafka also accepts for
       ``ssl.keystore.type=PEM``; pass ``keystore_location=`` here to
       get that shape)."""
    opts = {
        f"{prefix}security.protocol": "SSL",
        f"{prefix}ssl.enabled.protocols": "TLSv1.3",
        f"{prefix}ssl.protocol": "TLSv1.3",
    }
    if ca_file:
        opts[f"{prefix}ssl.truststore.type"] = "PEM"
        opts[f"{prefix}ssl.truststore.location"] = ca_file
    if keystore_location and (cert_file or key_file):
        # Two mTLS identities supplied at once: silently preferring one
        # could ship the wrong client identity (r10 advice).
        raise ValueError(
            "pass either keystore_location (combined PEM path) or "
            "cert_file/key_file (inline PEM), not both"
        )
    if keystore_location:
        # Path-only mTLS: a single PEM file holding BOTH the private
        # key and the cert chain.  Nothing secret enters the option
        # map, so no redaction-config change is needed.
        opts[f"{prefix}ssl.keystore.type"] = "PEM"
        opts[f"{prefix}ssl.keystore.location"] = keystore_location
        return opts
    if cert_file:
        opts[f"{prefix}ssl.keystore.type"] = "PEM"
        with open(cert_file) as fh:
            opts[f"{prefix}ssl.keystore.certificate.chain"] = fh.read()
    if key_file:
        opts[f"{prefix}ssl.keystore.type"] = "PEM"
        with open(key_file) as fh:
            opts[f"{prefix}ssl.keystore.key"] = fh.read()
    return opts


def jdbc_ssl_properties(
    cert_file: str | None = None,
    key_file: str | None = None,
    ca_file: str | None = None,
) -> dict[str, str]:
    """PostgreSQL JDBC sink SSL properties (reference
    ``get_postgresql_ssl_params`` — same libpq-style keys, which the
    pgjdbc driver accepts).  With a CA pinned the mode escalates to
    ``verify-full`` (server identity checked), matching the
    reference's ``check_hostname=True`` posture on its other
    clients; without one, ``require`` (encrypt, trust on first use).
    Pass as the ``properties`` dict of ``DataFrameWriter.jdbc``.

    Key-format caveat (differs from libpq!): pgjdbc reads ``sslkey``
    as a PKCS-8 **DER** file (``openssl pkcs8 -topk8 -outform DER
    -nocrypt``), not the PEM that libpq and the rest of this module
    use — pass the converted ``.pk8`` path here, or the driver fails
    with "Could not read SSL key file"."""
    props = {
        "ssl": "true",
        "sslmode": "verify-full" if ca_file else "require",
    }
    if ca_file:
        props["sslrootcert"] = ca_file
    if cert_file:
        props["sslcert"] = cert_file
    if key_file:
        props["sslkey"] = key_file
    return props


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
