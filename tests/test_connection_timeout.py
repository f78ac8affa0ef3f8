"""Connect-phase timeout coverage (reference
``http.source.lookup.connection.timeout`` —
``HttpLookupConnectorOptions.java:129-133`` threaded to
``HttpClient.connectTimeout`` in ``JavaNetHttpClientFactory.java:71-72``).

The two halves the option promises, proven independently:

* a black-holed connect (listener with a saturated accept queue, so the
  kernel drops our SYN and the handshake never completes) fails at the
  CONNECT deadline, not the 30s whole-request deadline;
* a connected-but-silent endpoint (accepts instantly, never sends a
  byte) still gets the full REQUEST timeout — the connect deadline must
  stop governing the socket once the connection is established.
"""

import socket
import threading
import time

import pytest

from flink_connector_http_spark.client import HttpPollingClient, HttpTransport
from flink_connector_http_spark.options import (
    HttpLookupOptions,
    lookup_options_from_map,
)
from flink_connector_http_spark.request import HttpRequestSpec


def _spec(url):
    return HttpRequestSpec(method="GET", url=url, headers={}, body=None)


@pytest.fixture
def blackholed_listener():
    """A listening socket whose accept queue is full: further connects
    hang in SYN retransmission until the client's connect deadline."""
    srv = socket.socket()
    srv.bind(("127.0.0.1", 0))
    srv.listen(0)
    blockers = []
    # listen(0) still admits one completed connection; saturate it (and
    # a little margin for kernel backlog fuzz) so the probe's SYN drops.
    for _ in range(4):
        s = socket.socket()
        s.settimeout(0.5)
        try:
            s.connect(srv.getsockname())
        except OSError:
            pass
        blockers.append(s)
    yield srv.getsockname()
    for s in blockers:
        s.close()
    srv.close()


@pytest.fixture
def silent_server():
    """Accepts connections immediately but never writes a response."""
    srv = socket.socket()
    srv.bind(("127.0.0.1", 0))
    srv.listen(8)
    accepted = []
    stop = threading.Event()

    def _loop():
        srv.settimeout(0.2)
        while not stop.is_set():
            try:
                conn, _ = srv.accept()
            except OSError:
                continue
            accepted.append(conn)

    t = threading.Thread(target=_loop, daemon=True)
    t.start()
    yield srv.getsockname(), accepted
    stop.set()
    t.join(timeout=2)
    for c in accepted:
        c.close()
    srv.close()


class TestConnectPhaseDeadline:
    def test_blackholed_connect_fails_at_connect_deadline(self, blackholed_listener):
        host, port = blackholed_listener
        transport = HttpTransport(timeout=30.0, connect_timeout=0.5)
        start = time.monotonic()
        with pytest.raises(OSError):
            transport.send(_spec(f"http://{host}:{port}/lookup"))
        elapsed = time.monotonic() - start
        # a timed-out connect is not re-sent; the point is it's nowhere
        # near the 30s request timeout
        assert elapsed < 5.0, f"connect deadline not honored: {elapsed:.2f}s"
        assert elapsed >= 0.4, "connect failed instantly — blackhole fixture broken"

    def test_slow_endpoint_still_gets_full_request_timeout(self, silent_server):
        (host, port), accepted = silent_server
        transport = HttpTransport(timeout=1.0, connect_timeout=0.25)
        start = time.monotonic()
        with pytest.raises(OSError):
            transport.send(_spec(f"http://{host}:{port}/lookup"))
        elapsed = time.monotonic() - start
        # the read must run under the 1.0s request timeout, NOT the 0.25s
        # connect deadline — if the connect timeout leaked onto the
        # established socket this fails in ~0.25s
        assert elapsed >= 0.9, (
            f"request timeout truncated to connect deadline: {elapsed:.2f}s"
        )
        assert elapsed < 5.0
        # a timed-out request is not a stale keep-alive socket: the
        # transport must not re-send it on a second connection
        assert len(accepted) == 1

    def test_no_connect_timeout_defaults_to_request_timeout(self, blackholed_listener):
        host, port = blackholed_listener
        transport = HttpTransport(timeout=0.5)
        start = time.monotonic()
        with pytest.raises(OSError):
            transport.send(_spec(f"http://{host}:{port}/lookup"))
        # without a connect deadline the request timeout governs connect
        # too (the reference's no-default behavior)
        assert time.monotonic() - start < 5.0


def test_planning_probe_transport_error_fails_the_read(silent_server):
    """The total-count planning probe against a silent endpoint fails the
    read with the transport error after its own retry schedule (4 GETs,
    4T + 3 s), instead of planning the walk, whose page 0 would spend the
    same schedule again."""
    from pyspark.sql import types as T

    from flink_connector_http_spark.datasource import HttpBatchReader

    (host, port), accepted = silent_server
    timeout = 0.5
    reader = HttpBatchReader(
        {"url": f"http://{host}:{port}/items", "timeout": str(timeout),
         "total_count_header": "X-Total-Count"},
        T.StructType([T.StructField("id", T.LongType())]),
    )
    start = time.monotonic()
    with pytest.raises(OSError):
        reader.partitions()
    elapsed = time.monotonic() - start
    assert len(accepted) == 4
    assert elapsed < 2 * (4 * timeout + 3)


class TestConnectionTimeoutOption:
    def test_option_key_parses_to_seconds(self):
        opts = lookup_options_from_map(
            {"http.source.lookup.connection.timeout": "0.75"}
        )
        assert opts.connection_timeout == 0.75

    def test_default_is_none(self):
        assert HttpLookupOptions().connection_timeout is None
        assert lookup_options_from_map({}).connection_timeout is None

    def test_threads_through_to_polling_client_transport(self):
        opts = lookup_options_from_map(
            {
                "http.source.lookup.connection.timeout": "2.5",
                "http.source.lookup.request.timeout": "7.0",
            }
        )
        client = HttpPollingClient(url="http://127.0.0.1:1/lookup", options=opts)
        assert client.transport.connect_timeout == 2.5
        assert client.transport.timeout == 7.0


class TestFlinkDurationSyntax:
    """The reference declares these options ``durationType()`` — Flink
    TimeUtils suffixed values ('250ms', '30s', '1min') must carry over
    unchanged. Bare numbers stay SECONDS (the documented divergence:
    Flink would read them as ms; this engine has taken plain seconds
    since round 1 — see README 'Duration options')."""

    def test_suffixed_forms_parse(self):
        opts = lookup_options_from_map(
            {
                "http.source.lookup.connection.timeout": "250ms",
                "http.source.lookup.request.timeout": "30s",
                "table.exec.async-lookup.timeout": "1min",
            }
        )
        assert opts.connection_timeout == 0.25
        assert opts.request_timeout == 30.0
        assert opts.async_timeout == 60.0

    def test_suffixed_retry_delays(self):
        opts = lookup_options_from_map(
            {
                "http.source.lookup.retry-strategy.fixed-delay.delay": "500ms",
                "http.source.lookup.retry-strategy.exponential-delay."
                "initial-backoff": "1s",
                "http.source.lookup.retry-strategy.exponential-delay."
                "max-backoff": "2min",
            }
        )
        assert opts.retry.fixed_delay == 0.5
        assert opts.retry.initial_backoff == 1.0
        assert opts.retry.max_backoff == 120.0

    def test_whitespace_and_case(self):
        opts = lookup_options_from_map(
            {"http.source.lookup.connection.timeout": " 250 MS "}
        )
        assert opts.connection_timeout == 0.25

    def test_bare_number_is_seconds(self):
        opts = lookup_options_from_map(
            {"http.source.lookup.connection.timeout": "1000"}
        )
        assert opts.connection_timeout == 1000.0

    def test_bare_number_warns_once_per_key(self):
        """A bare number is silently 1000x off for a carried-over Flink
        config (Flink TimeUtils reads it as ms, this engine as seconds)
        — it must warn, once per option key, steering to suffixed form."""
        import warnings as _warnings

        from flink_connector_http_spark import options as opts_mod

        key = "http.source.lookup.request.timeout"
        opts_mod._BARE_DURATION_WARNED.discard(key)
        with _warnings.catch_warnings(record=True) as caught:
            _warnings.simplefilter("always")
            lookup_options_from_map({key: "5000"})
            first = [w for w in caught if "MILLISECONDS" in str(w.message)]
            lookup_options_from_map({key: "5000"})
            second = [w for w in caught if "MILLISECONDS" in str(w.message)]
        assert len(first) == 1
        assert len(second) == 1  # no second warning for the same key

    def test_singular_nano_micro_labels(self):
        """Flink TimeUtils accepts the singular labels 'nano'/'micro'
        alongside ns/nanos/us/micros — full label-coverage parity."""
        opts = lookup_options_from_map(
            {"http.source.lookup.connection.timeout": "500000000nano",
             "http.source.lookup.request.timeout": "2000000micro"}
        )
        assert abs(opts.connection_timeout - 0.5) < 1e-12
        assert abs(opts.request_timeout - 2.0) < 1e-12

    def test_sink_request_timeout_suffixed(self):
        from flink_connector_http_spark.options import sink_options_from_map

        opts = sink_options_from_map(
            {
                "http.sink.request.timeout": "45s",
                "sink.flush-buffer.timeout": "750ms",
            }
        )
        assert opts.request_timeout == 45.0
        assert opts.max_time_in_buffer == 0.75

    def test_malformed_value_fails_loudly(self):
        import pytest

        with pytest.raises(ValueError, match="connection.timeout"):
            lookup_options_from_map(
                {"http.source.lookup.connection.timeout": "soon"}
            )
        with pytest.raises(ValueError, match="unknown duration unit"):
            lookup_options_from_map(
                {"http.source.lookup.connection.timeout": "30 fortnights"}
            )
