"""TLS / mTLS / self-signed e2e coverage for the HTTP transport (R8).

Mirrors the reference's HTTPS connection tests, which run the polling
client against a server using generated certificates
(``src/test/.../JavaNetHttpPollingClientConnectionTest.java``, certs under
``src/test/resources/security/certs/``): server-CA trust, fail-closed
without trust, self-signed acceptance, and client-certificate (mTLS)
enforcement — here generated in-fixture with ``cryptography``.
"""

import datetime
import ipaddress
import ssl
import time

import pytest

from flink_connector_http_spark import HttpLookupOptions, RetryConfig
from flink_connector_http_spark.client import HttpPollingClient
from flink_connector_http_spark.testing import StubHttpServer

cryptography = pytest.importorskip("cryptography")

from cryptography import x509  # noqa: E402
from cryptography.hazmat.primitives import hashes, serialization  # noqa: E402
from cryptography.hazmat.primitives.asymmetric import rsa  # noqa: E402
from cryptography.x509.oid import NameOID  # noqa: E402


def _key():
    return rsa.generate_private_key(public_exponent=65537, key_size=2048)


def _name(cn):
    return x509.Name([x509.NameAttribute(NameOID.COMMON_NAME, cn)])


def _build_cert(subject_cn, issuer_name, issuer_key, public_key, *, ca=False,
                san_ip=None):
    now = datetime.datetime.now(datetime.timezone.utc)
    builder = (
        x509.CertificateBuilder()
        .subject_name(_name(subject_cn))
        .issuer_name(issuer_name)
        .public_key(public_key)
        .serial_number(x509.random_serial_number())
        .not_valid_before(now - datetime.timedelta(minutes=5))
        .not_valid_after(now + datetime.timedelta(days=1))
        .add_extension(x509.BasicConstraints(ca=ca, path_length=None), critical=True)
    )
    if san_ip:
        builder = builder.add_extension(
            x509.SubjectAlternativeName(
                [x509.IPAddress(ipaddress.ip_address(san_ip))]
            ),
            critical=False,
        )
    return builder.sign(issuer_key, hashes.SHA256())


def _write_pem(path, *objs):
    data = b""
    for obj in objs:
        if hasattr(obj, "private_bytes"):
            data += obj.private_bytes(
                serialization.Encoding.PEM,
                serialization.PrivateFormat.PKCS8,
                serialization.NoEncryption(),
            )
        else:
            data += obj.public_bytes(serialization.Encoding.PEM)
    path.write_bytes(data)
    return str(path)


@pytest.fixture(scope="module")
def certs(tmp_path_factory):
    """CA + server cert (SAN 127.0.0.1) + client cert, all PEM on disk."""
    d = tmp_path_factory.mktemp("certs")
    ca_key = _key()
    ca_cert = _build_cert("test-ca", _name("test-ca"), ca_key,
                          ca_key.public_key(), ca=True)
    server_key = _key()
    server_cert = _build_cert("127.0.0.1", _name("test-ca"), ca_key,
                              server_key.public_key(), san_ip="127.0.0.1")
    client_key = _key()
    client_cert = _build_cert("test-client", _name("test-ca"), ca_key,
                              client_key.public_key())
    return {
        "ca": _write_pem(d / "ca.pem", ca_cert),
        "server_chain": _write_pem(d / "server.pem", server_key, server_cert),
        "client_cert": _write_pem(d / "client_cert.pem", client_cert),
        "client_key": _write_pem(d / "client_key.pem", client_key),
    }


def _https_server(certs, *, require_client_cert=False):
    context = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    context.load_cert_chain(certs["server_chain"])
    if require_client_cert:
        context.verify_mode = ssl.CERT_REQUIRED
        context.load_verify_locations(cafile=certs["ca"])
    server = StubHttpServer(ssl_context=context).start()
    server.stub_json("/secure", {"n_nationkey": 1, "n_name": "TLS"})
    return server


NO_RETRY = RetryConfig(max_retries=0)


def _client(url, **options):
    return HttpPollingClient(
        url=url, options=HttpLookupOptions(method="GET", retry=NO_RETRY, **options)
    )


class TestServerTls:
    def test_lookup_succeeds_with_trusted_ca(self, certs):
        server = _https_server(certs)
        try:
            client = _client(server.url("/secure"), server_ca=certs["ca"])
            result = client.pull({"n_nationkey": 1})
            assert result.rows[0]["n_name"] == "TLS"
            assert server.url("/secure").startswith("https://")
        finally:
            server.stop()

    def test_lookup_fails_closed_without_trust(self, certs):
        server = _https_server(certs)
        try:
            # force a TLS code path with verification ON: client cert only
            client = _client(
                server.url("/secure"),
                client_cert=certs["client_cert"],
                client_key=certs["client_key"],
            )
            with pytest.raises(RuntimeError, match="lookup failed"):
                client.pull({"n_nationkey": 1})
        finally:
            server.stop()

    def test_self_signed_acceptance_skips_verification(self, certs):
        server = _https_server(certs)
        try:
            client = _client(server.url("/secure"), allow_self_signed=True)
            result = client.pull({"n_nationkey": 1})
            assert result.rows[0]["n_name"] == "TLS"
        finally:
            server.stop()


class TestMutualTls:
    def test_mtls_succeeds_with_client_cert(self, certs):
        server = _https_server(certs, require_client_cert=True)
        try:
            client = _client(
                server.url("/secure"),
                server_ca=certs["ca"],
                client_cert=certs["client_cert"],
                client_key=certs["client_key"],
            )
            result = client.pull({"n_nationkey": 1})
            assert result.rows[0]["n_name"] == "TLS"
        finally:
            server.stop()

    def test_mtls_fails_closed_without_client_cert(self, certs):
        server = _https_server(certs, require_client_cert=True)
        try:
            client = _client(server.url("/secure"), server_ca=certs["ca"])
            with pytest.raises(RuntimeError, match="lookup failed"):
                client.pull({"n_nationkey": 1})
        finally:
            server.stop()

    def test_sink_transport_uses_security_options(self, certs):
        from flink_connector_http_spark import HttpSinkOptions, HttpSinkRequestEntry
        from flink_connector_http_spark.sink import HttpSinkWriter

        server = _https_server(certs, require_client_cert=True)
        try:
            writer = HttpSinkWriter(
                server.url("/secure"),
                HttpSinkOptions(
                    batch_size=1,
                    server_ca=certs["ca"],
                    client_cert=certs["client_cert"],
                    client_key=certs["client_key"],
                ),
                age_ticker=False,
            )
            writer.write(HttpSinkRequestEntry("POST", b'{"x":1}'))
            writer.close()
            assert writer.records_sent == 1
            assert writer.send_errors == 0
        finally:
            server.stop()

    def test_sink_handshake_survives_slow_upstream(self, certs):
        """Without an age ticker the writer's loop moves only when rows
        arrive: a handshake that nobody looked at for longer than the
        request timeout still completes, since the endpoint answered each
        step in time."""
        from flink_connector_http_spark import HttpSinkOptions, HttpSinkRequestEntry
        from flink_connector_http_spark.sink import HttpSinkWriter

        context = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
        context.load_cert_chain(certs["server_chain"])
        # TLS 1.2: the client waits for the server twice in the handshake
        context.maximum_version = ssl.TLSVersion.TLSv1_2
        server = StubHttpServer(ssl_context=context).start()
        server.stub_json("/secure", {})
        try:
            writer = HttpSinkWriter(
                server.url("/secure"),
                HttpSinkOptions(
                    batch_size=2,
                    flush_batch_size=2,
                    max_time_in_buffer=0,
                    request_timeout=0.3,
                    server_ca=certs["ca"],
                ),
            )
            for _ in range(3):
                writer.write(HttpSinkRequestEntry("POST", b'{"x":1}'))
                writer.write(HttpSinkRequestEntry("POST", b'{"x":2}'))
                time.sleep(0.6)
            writer.close()
            assert writer.send_errors == 0
            assert writer.records_sent == 6
            assert len(server.recorded("/secure")) == 3
        finally:
            server.stop()


import json  # noqa: E402

from flink_connector_http_spark.testing import json_response  # noqa: E402


class TestDataSourceTls:
    """http.security parity on the DataSource: the scan and sink paths
    honor the same TLS options as the lookup client (the reference
    shares one client factory across all surfaces)."""

    def test_datasource_read_over_https(self, certs, spark):
        from flink_connector_http_spark.datasource import register_http_datasource

        register_http_datasource(spark)
        server = _https_server(certs)
        server.stub("/pages", lambda req: json_response(
            [{"id": 1, "name": "tls"}]
            if req.query.get("page", ["0"])[0] == "0" else []
        ))
        try:
            df = (
                spark.read.format("http")
                .schema("id BIGINT, name STRING")
                .option("url", server.url("/pages"))
                .option("pages", 1)
                .option("server_ca", certs["ca"])
                .load()
            )
            assert [(r.id, r.name) for r in df.collect()] == [(1, "tls")]
        finally:
            server.stop()

    def test_datasource_read_fails_closed_without_ca(self, certs, spark):
        from flink_connector_http_spark.datasource import register_http_datasource

        register_http_datasource(spark)
        server = _https_server(certs)
        try:
            df = (
                spark.read.format("http")
                .schema("id BIGINT, name STRING")
                .option("url", server.url("/pages"))
                .option("pages", 1)
                .load()
            )
            with pytest.raises(Exception):
                df.collect()  # untrusted CA must not silently succeed
        finally:
            server.stop()

    def test_datasource_write_over_https(self, certs, spark):
        from flink_connector_http_spark.datasource import register_http_datasource

        register_http_datasource(spark)
        server = _https_server(certs)
        server.stub_json("/ingest", {"ok": True})
        try:
            df = spark.createDataFrame([(1, "a")], "id INT, name STRING")
            (
                df.coalesce(1).write.format("http")
                .option("url", server.url("/ingest"))
                .option("server_ca", certs["ca"])
                .mode("append")
                .save()
            )
            got = [x for r in server.recorded("/ingest")
                   for x in json.loads(r.body)]
            assert got == [{"id": 1, "name": "a"}]
        finally:
            server.stop()
