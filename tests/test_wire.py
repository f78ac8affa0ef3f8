"""HTTP/1.1 framing and keep-alive behaviour of ``wire.HttpTransport``,
against raw-socket servers that write exactly the bytes under test.

Covers the body framings (Content-Length, chunked, close-delimited) and
the no-body responses (204, 304, HEAD), a truncated body, a keep-alive
socket the server closed while idle, the loop's deadline against a hung
endpoint and against rate-limiter waits, a CONNECT-proxy round trip, a
connect nobody turned for longer than its timeout, and that an async
per-key lookup batch runs on the calling thread alone.
"""

import gzip
import http.client
import socket
import threading
import time

import pandas as pd
import pytest

from flink_connector_http_spark.client import HttpTransport, http_retry_steps
from flink_connector_http_spark.request import HttpRequestSpec
from flink_connector_http_spark.retry import HttpRetryError, RetryConfig


def _get(url, method="GET", body=None):
    return HttpRequestSpec(method=method, url=url, headers={}, body=body)


def read_request(conn):
    """One request off ``conn``: (request line, headers, body), or None
    when the client closed the connection."""
    buf = b""
    while b"\r\n\r\n" not in buf:
        chunk = conn.recv(65536)
        if not chunk:
            return None
        buf += chunk
    head, _, body = buf.partition(b"\r\n\r\n")
    lines = head.decode("latin-1").split("\r\n")
    headers = {}
    for line in lines[1:]:
        name, _, value = line.partition(":")
        headers[name.strip().lower()] = value.strip()
    length = int(headers.get("content-length", 0))
    while len(body) < length:
        body += conn.recv(65536)
    return lines[0], headers, body


class RawServer:
    """Accepts connections on a thread; ``handle(conn, server)`` serves
    each one on its own thread and records what it saw."""

    def __init__(self, handle):
        self.handle = handle
        self.accepted = 0
        self.requests = []
        self.listener = socket.socket()
        self.listener.bind(("127.0.0.1", 0))
        self.listener.listen(16)
        self.port = self.listener.getsockname()[1]
        threading.Thread(target=self._accept, daemon=True).start()

    def url(self, path="/"):
        return f"http://127.0.0.1:{self.port}{path}"

    def _accept(self):
        while True:
            try:
                conn, _ = self.listener.accept()
            except OSError:
                return
            self.accepted += 1
            threading.Thread(target=self._serve, args=(conn,), daemon=True).start()

    def _serve(self, conn):
        try:
            self.handle(conn, self)
        except OSError:
            pass
        finally:
            conn.close()

    def close(self):
        self.listener.close()


def serving(responses, close_after=False):
    """A handler answering each request with the next raw response, sent
    in three pieces so the parser sees split reads."""
    def handle(conn, server):
        while True:
            request = read_request(conn)
            if request is None:
                return
            server.requests.append(request)
            raw = responses[min(len(server.requests), len(responses)) - 1]
            for i in range(0, len(raw), max(1, len(raw) // 3)):
                conn.sendall(raw[i : i + max(1, len(raw) // 3)])
                time.sleep(0.002)
            if close_after:
                return
    return handle


@pytest.fixture
def raw_server():
    servers = []

    def start(handle):
        server = RawServer(handle)
        servers.append(server)
        return server

    yield start
    for server in servers:
        server.close()


GZ = gzip.compress(b"squeezed")


@pytest.mark.parametrize("raw, body", [
    (b"HTTP/1.1 200 OK\r\nContent-Length: 5\r\n\r\nhello", b"hello"),
    (b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
     b"5;ext=1\r\nhello\r\n6\r\n world\r\n0\r\nX-Trailer: t\r\n\r\n",
     b"hello world"),
    (b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\nTransfer-Encoding: chunked"
     b"\r\n\r\n" + f"{len(GZ):x}".encode() + b"\r\n" + GZ + b"\r\n0\r\n\r\n",
     b"squeezed"),
    (b"HTTP/1.1 100 Continue\r\n\r\n"
     b"HTTP/1.1 200 OK\r\nContent-Length: 2\r\n\r\nok", b"ok"),
], ids=["content-length", "chunked", "gzip-chunked", "interim-100"])
def test_framed_bodies_keep_the_socket(raw_server, raw, body):
    server = raw_server(serving([raw]))
    transport = HttpTransport(timeout=5)
    for _ in range(3):
        response = transport.send(_get(server.url("/x?k=1")))
        assert response.status == 200 and response.body == body
    assert server.accepted == 1  # one keep-alive socket for all three
    line, headers, _ = server.requests[0]
    assert line == "GET /x?k=1 HTTP/1.1"
    assert headers["host"] == f"127.0.0.1:{server.port}"
    assert headers["accept-encoding"] == "gzip, deflate"


def test_close_delimited_body_reads_to_eof(raw_server):
    server = raw_server(serving(
        [b"HTTP/1.0 200 OK\r\nContent-Type: text/plain\r\n\r\nuntil close"],
        close_after=True))
    transport = HttpTransport(timeout=5)
    for _ in range(2):
        response = transport.send(_get(server.url()))
        assert response.body == b"until close"
    assert server.accepted == 2  # such a socket cannot carry another


@pytest.mark.parametrize("method, raw", [
    ("GET", b"HTTP/1.1 204 No Content\r\n\r\n"),
    ("GET", b"HTTP/1.1 304 Not Modified\r\nContent-Length: 10\r\nETag: \"v\"\r\n\r\n"),
    ("HEAD", b"HTTP/1.1 200 OK\r\nContent-Length: 10\r\n\r\n"),
])
def test_no_body_statuses(raw_server, method, raw):
    """204, 304 and a HEAD response end at their head, whatever their
    Content-Length says; the socket then carries the next exchange."""
    server = raw_server(serving(
        [raw, b"HTTP/1.1 200 OK\r\nContent-Length: 4\r\n\r\nnext"]))
    transport = HttpTransport(timeout=5)
    first = transport.send(_get(server.url(), method=method))
    assert first.body == b""
    assert transport.send(_get(server.url())).body == b"next"
    assert server.accepted == 1


def test_truncated_body_is_a_retried_transport_error(raw_server):
    server = raw_server(serving(
        [b"HTTP/1.1 200 OK\r\nContent-Length: 10\r\n\r\nabcd"], close_after=True))
    transport = HttpTransport(timeout=5)
    with pytest.raises(HttpRetryError) as err:
        transport.run([http_retry_steps(
            _get(server.url()),
            config=RetryConfig(max_retries=1, fixed_delay=0.0),
            is_retriable_status=lambda status: False,
        )])
    assert isinstance(err.value.cause, http.client.IncompleteRead)
    assert len(server.requests) == 2  # the attempt and its one retry


@pytest.mark.parametrize("method, resent", [("GET", True), ("POST", False)])
def test_idle_socket_closed_by_server(raw_server, method, resent):
    """The server drops a keep-alive socket after its first response.
    The next GET finds it dead and is re-sent once on a fresh socket; a
    POST is not re-sent (the server may already have acted on it)."""
    closed = threading.Event()

    def handle(conn, server):
        request = read_request(conn)
        if request is None:
            return
        server.requests.append(request)
        conn.sendall(b"HTTP/1.1 200 OK\r\nContent-Length: 2\r\n\r\nok")
        if server.accepted == 1:
            time.sleep(0.05)
            conn.close()
            closed.set()
            return
        serving([b"HTTP/1.1 200 OK\r\nContent-Length: 2\r\n\r\nok"])(conn, server)

    server = raw_server(handle)
    transport = HttpTransport(timeout=5)
    body = b"{}" if method == "POST" else None
    assert transport.send(_get(server.url(), method, body)).body == b"ok"
    assert closed.wait(5)
    time.sleep(0.05)
    if resent:
        assert transport.send(_get(server.url(), method, body)).body == b"ok"
        assert server.accepted == 2 and len(server.requests) == 2
    else:
        with pytest.raises(ConnectionError):
            transport.send(_get(server.url(), method, body))
        assert server.accepted == 1 and len(server.requests) == 1


def _hung(conn, server):
    """Reads one request and never answers it."""
    server.requests.append(read_request(conn))
    read_request(conn)  # returns when the client closes the socket


def test_deadline_counts_as_a_breaker_failure(raw_server):
    """An exchange the loop closes unfinished at its deadline is a circuit
    breaker failure: a hung endpoint trips the breaker, and a half-open
    trial that times out re-opens it, so after ``reset_timeout`` the
    next trial still reaches the wire."""
    from flink_connector_http_spark import HttpLookupOptions
    from flink_connector_http_spark.client import HttpPollingClient

    server = raw_server(_hung)
    client = HttpPollingClient(url=server.url("/k"), options=HttpLookupOptions(
        circuit_breaker_failures=1, circuit_breaker_reset=0.2))
    spec = _get(server.url("/k"))
    try:
        for trial in range(3):
            (result,) = client.run(
                [client.exchange_steps(spec)],
                deadline=time.monotonic() + 0.3, on_timeout=lambda i: "timed out")
            assert result == "timed out"
            assert client.circuit_breaker.is_open
            assert len(server.requests) == trial + 1
            time.sleep(0.25)
    finally:
        client.close()


def test_rate_limit_wait_keeps_the_deadline(raw_server):
    """A limiter permit wait is a timer on the loop, not a sleep: at one
    permit a second, eight exchanges in flight still end at the 0.5 s
    deadline (the first answered, the rest timed out), and without a
    deadline each waits for its permit in turn."""
    from flink_connector_http_spark.ratelimit import TokenBucket

    server = raw_server(serving([b"HTTP/1.1 200 OK\r\nContent-Length: 2\r\n\r\nok"]))
    transport = HttpTransport(timeout=5)
    try:
        start = time.monotonic()
        results = transport.run(
            [retry_steps_of(_get(server.url())) for _ in range(8)], width=8,
            deadline=start + 0.5, on_timeout=lambda i: None,
            limiter=TokenBucket(1.0))
        assert time.monotonic() - start < 1.5
        assert results[0].body == b"ok" and results[1:] == [None] * 7
        assert len(server.requests) == 1

        start = time.monotonic()
        results = transport.run(
            [retry_steps_of(_get(server.url())) for _ in range(4)], width=4,
            limiter=TokenBucket(20.0, 1.0))
        assert [r.body for r in results] == [b"ok"] * 4
        assert time.monotonic() - start >= 0.14  # three permit waits of 50 ms
    finally:
        transport.close()


def test_hedged_duplicate_takes_a_permit(raw_server):
    """A hedge is one more wire attempt, so it takes one more permit; the
    first socket is slow, the duplicate on a second socket wins."""
    from flink_connector_http_spark.ratelimit import TokenBucket

    granted = []

    class Counting(TokenBucket):
        def try_acquire(self, permits=1.0):
            wait = super().try_acquire(permits)
            granted.append(wait == 0.0)
            return wait

    def handle(conn, server):
        request = read_request(conn)
        server.requests.append(request)
        if len(server.requests) == 1:
            time.sleep(0.5)
        conn.sendall(b"HTTP/1.1 200 OK\r\nContent-Length: 2\r\n\r\nok")
        read_request(conn)

    server = raw_server(handle)
    transport = HttpTransport(timeout=5)
    stats = {"fired": 0, "won": 0}
    try:
        (response,) = transport.run(
            [retry_steps_of(_get(server.url()))], limiter=Counting(1000.0),
            hedge_delay=0.05, hedge_stats=stats)
        assert response.body == b"ok"
        assert granted == [True, True] and stats == {"fired": 1, "won": 1}
        assert server.accepted == 2
    finally:
        transport.close()


def retry_steps_of(spec):
    """One exchange without retries, as a step sequence."""
    return http_retry_steps(spec, config=RetryConfig(max_retries=0),
                            is_retriable_status=lambda status: False)


def test_threads_share_one_transport():
    """The sink's writer threads share one transport and its idle socket
    pool: under heavy thread switching every response still belongs to
    its own request, and no socket is pooled twice."""
    import sys

    from flink_connector_http_spark.testing import FastHttpStub, response_bytes

    stub = FastHttpStub()
    stub.route_static("/echo", {str(k): response_bytes(str(k).encode())
                                for k in range(1000)}, "k")
    stub.start()
    transport = HttpTransport(timeout=10)
    wrong = []

    def worker(offset):
        for k in range(offset, 1000, 16):
            body = transport.send(_get(f"{stub.url('/echo')}?k={k}")).body
            if body != str(k).encode():
                wrong.append((k, body))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(interval)
        stub.stop()
    assert wrong == []
    (pool,) = transport._idle.values()
    assert 1 <= len(pool) <= 16
    assert len({id(conn) for conn in pool}) == len(pool)
    transport.close()


def _self_signed_context(tmp_path):
    """A server-side TLS context with a fresh self-signed certificate."""
    import datetime
    import ipaddress
    import ssl

    pytest.importorskip("cryptography")
    from cryptography import x509
    from cryptography.hazmat.primitives import hashes, serialization
    from cryptography.hazmat.primitives.asymmetric import rsa
    from cryptography.x509.oid import NameOID

    key = rsa.generate_private_key(public_exponent=65537, key_size=2048)
    name = x509.Name([x509.NameAttribute(NameOID.COMMON_NAME, "127.0.0.1")])
    now = datetime.datetime.now(datetime.timezone.utc)
    cert = (
        x509.CertificateBuilder().subject_name(name).issuer_name(name)
        .public_key(key.public_key()).serial_number(x509.random_serial_number())
        .not_valid_before(now - datetime.timedelta(minutes=5))
        .not_valid_after(now + datetime.timedelta(days=1))
        .add_extension(x509.SubjectAlternativeName(
            [x509.IPAddress(ipaddress.ip_address("127.0.0.1"))]), critical=False)
        .sign(key, hashes.SHA256())
    )
    pem = tmp_path / "server.pem"
    pem.write_bytes(
        key.private_bytes(serialization.Encoding.PEM,
                          serialization.PrivateFormat.PKCS8,
                          serialization.NoEncryption())
        + cert.public_bytes(serialization.Encoding.PEM))
    context = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    context.load_cert_chain(str(pem))
    return context


def _tunnel(delay=0.0):
    """A CONNECT proxy handler: answers the CONNECT after ``delay`` seconds,
    then pumps bytes both ways."""
    def tunnel(conn, server):
        line, headers, _ = read_request(conn)
        server.requests.append((line, headers))
        host, _, port = line.split(" ")[1].partition(":")
        with socket.create_connection((host, int(port))) as target:
            time.sleep(delay)
            conn.sendall(b"HTTP/1.1 200 Connection established\r\n\r\n")

            def pump(src, dst):
                try:
                    while True:
                        data = src.recv(65536)
                        if not data:
                            break
                        dst.sendall(data)
                except OSError:
                    pass
                try:
                    dst.shutdown(socket.SHUT_WR)
                except OSError:
                    pass

            back = threading.Thread(target=pump, args=(target, conn), daemon=True)
            back.start()
            pump(conn, target)
            back.join(5)
    return tunnel


def test_connect_proxy_round_trip(raw_server, tmp_path):
    """An https request through a proxy opens a CONNECT tunnel (with the
    proxy credentials), runs TLS inside it, and keeps the tunnel alive."""
    from flink_connector_http_spark.testing import StubHttpServer

    upstream = StubHttpServer(ssl_context=_self_signed_context(tmp_path)).start()
    upstream.stub_json("/secure", {"ok": True})
    proxy = raw_server(_tunnel())
    transport = HttpTransport(
        timeout=5, allow_self_signed=True, proxy_host="127.0.0.1",
        proxy_port=proxy.port, proxy_user="alice", proxy_password="s3cret")
    try:
        for _ in range(2):
            response = transport.send(_get(upstream.url("/secure?k=1")))
            assert response.status == 200 and response.body == b'{"ok": true}'
        assert proxy.accepted == 1  # the tunnel is kept alive
        ((line, headers),) = proxy.requests
        assert line == f"CONNECT 127.0.0.1:{upstream.port} HTTP/1.1"
        assert headers["proxy-authorization"] == "Basic YWxpY2U6czNjcmV0"
        assert [r.query for r in upstream.recorded("/secure")] == [{"k": ["1"]}] * 2
    finally:
        transport.close()
        upstream.stop()


def test_connect_steps_unwatched_past_the_timeout(raw_server, tmp_path):
    """Nobody turns the loop while the proxy answers the CONNECT and for
    longer than the timeout after it. The endpoint answered each step in
    time, so the tunnel and TLS handshake still complete: each connect
    step waits at most the timeout from when the loop last moved it on."""
    from flink_connector_http_spark.testing import StubHttpServer

    upstream = StubHttpServer(ssl_context=_self_signed_context(tmp_path)).start()
    upstream.stub_json("/secure", {"ok": True})
    proxy = raw_server(_tunnel(delay=0.05))
    transport = HttpTransport(
        timeout=0.3, allow_self_signed=True, proxy_host="127.0.0.1",
        proxy_port=proxy.port)
    loop = transport.loop()
    results = []
    try:
        loop.add(retry_steps_of(_get(upstream.url("/secure"))), results.append)
        loop.turn(block=False)
        time.sleep(0.6)
        assert loop.drain()
        assert [r.body for r in results] == [b'{"ok": true}']
    finally:
        loop.close()
        transport.close()
        upstream.stop()


def test_async_per_key_batch_starts_no_thread(monkeypatch):
    """Every exchange of an async per-key lookup batch runs on the
    calling thread's loop: no thread is started, yet up to
    ``pull_pool_size`` exchanges are in flight at once."""
    from pyspark.sql import types as T

    from flink_connector_http_spark import HttpLookupOptions, HttpLookupTable
    from flink_connector_http_spark.lookup import _EnrichConfig, _enrich_pdf
    from flink_connector_http_spark.testing import FastHttpStub, response_bytes

    stub = FastHttpStub()
    table_rows = {str(k): response_bytes(f'{{"id": {k}, "v": {k * 10}}}'.encode())
                  for k in range(40)}
    stub.route_static("/rows", table_rows, "id")
    stub.start()
    started = []
    monkeypatch.setattr(threading.Thread, "start",
                        lambda self: started.append(self.name))
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("v", T.LongType())])
    table = HttpLookupTable(
        stub.url("/rows"), schema,
        HttpLookupOptions(use_async=True, pull_pool_size=8))
    cfg = _EnrichConfig(
        table=table, pairs=(("k", "id"),), probe_col_names=("k",),
        output_lookup_fields=(schema["v"],), out_col_names=("k", "v"),
        lookup_prefix="", key_lookup_names=("id",), meta_names=(),
        emit_on_empty=True,
    )
    from flink_connector_http_spark.client import HttpPollingClient

    client = HttpPollingClient(url=table.url, options=table.options)
    try:
        out = _enrich_pdf(cfg, client, None, pd.DataFrame({"k": list(range(40)) * 2}))
        assert list(out["v"]) == [k * 10 for k in range(40)] * 2
        assert started == []
        assert 1 < len(client.transport._idle[f"http://127.0.0.1:{stub.port}"]) <= 8
    finally:
        monkeypatch.undo()
        client.close()
        stub.stop()
