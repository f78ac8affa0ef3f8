"""Token-bucket rate-limiter tests (SURVEY §7 scale addition).

The reference fires requests as fast as its pools allow
(``AsyncHttpTableLookupFunction.java:94-115``) — no rate limiter exists
there. These tests pin our beyond-reference per-task cap: deterministic
token math on a fake clock, option-map parsing, and the wiring through
the lookup client and the sink writer.
"""

import json
import threading
import time

import pytest

from flink_connector_http_spark import HttpLookupOptions, HttpSinkOptions
from flink_connector_http_spark.client import HttpPollingClient
from flink_connector_http_spark.options import (
    lookup_options_from_map,
    sink_options_from_map,
)
from flink_connector_http_spark.ratelimit import TokenBucket
from flink_connector_http_spark.sink import HttpSinkWriter
from flink_connector_http_spark.types import HttpSinkRequestEntry


class FakeTimeline:
    """Clock that only advances when (fake) sleep is called."""

    def __init__(self):
        self.t = 0.0
        self.sleeps = []
        self._lock = threading.Lock()

    def clock(self):
        return self.t

    def sleep(self, seconds):
        with self._lock:
            self.sleeps.append(seconds)
            self.t += seconds

    def bucket(self, rate, burst=None):
        return TokenBucket(rate, burst, clock=self.clock)

    def acquire(self, bucket):
        """Take one permit, sleeping until it is due, as a blocking caller
        of ``try_acquire`` would; returns the time slept."""
        slept = 0.0
        while True:
            wait = bucket.try_acquire()
            if not wait:
                return slept
            self.sleep(wait)
            slept += wait


class GrantCounter(TokenBucket):
    """A real-clock bucket that counts the permits it grants. The lookup
    client's loop waits for a permit on a timer (``try_acquire``), so a
    fake clock would never advance."""

    granted = 0

    def try_acquire(self, permits=1.0):
        wait = super().try_acquire(permits)
        if not wait:
            self.granted += 1
        return wait


class TestTokenBucket:
    def test_burst_spends_free_then_steady_rate(self):
        tl = FakeTimeline()
        bucket = tl.bucket(rate=10, burst=2)
        assert tl.acquire(bucket) == 0.0
        assert tl.acquire(bucket) == 0.0          # burst headroom
        assert tl.acquire(bucket) == pytest.approx(0.1)  # 1/rate per permit
        assert tl.acquire(bucket) == pytest.approx(0.1)
        assert tl.sleeps == pytest.approx([0.1, 0.1])

    def test_try_acquire_never_sleeps(self):
        tl = FakeTimeline()
        bucket = tl.bucket(rate=10, burst=1)
        assert bucket.try_acquire() == 0.0
        assert bucket.try_acquire() == pytest.approx(0.1)  # nothing taken
        tl.t += 0.05
        assert bucket.try_acquire() == pytest.approx(0.05)
        tl.t += 0.05
        assert bucket.try_acquire() == 0.0
        assert tl.sleeps == []

    def test_refill_capped_at_burst(self):
        tl = FakeTimeline()
        bucket = tl.bucket(rate=10, burst=3)
        for _ in range(3):
            tl.acquire(bucket)
        tl.t += 100.0                            # long idle: refill caps at burst
        for _ in range(3):
            assert tl.acquire(bucket) == 0.0
        assert tl.acquire(bucket) == pytest.approx(0.1)

    def test_first_acquire_sees_only_burst_not_elapsed_time(self):
        tl = FakeTimeline()
        tl.t = 500.0                             # bucket created "late" in the task
        bucket = tl.bucket(rate=1, burst=1)
        assert tl.acquire(bucket) == 0.0
        assert tl.acquire(bucket) == pytest.approx(1.0)

    def test_default_burst_is_one_second_of_rate(self):
        tl = FakeTimeline()
        bucket = tl.bucket(rate=5)
        for _ in range(5):
            assert tl.acquire(bucket) == 0.0
        assert tl.acquire(bucket) == pytest.approx(0.2)

    def test_sub_one_rate_gets_burst_of_one(self):
        tl = FakeTimeline()
        bucket = tl.bucket(rate=0.5)
        assert tl.acquire(bucket) == 0.0
        assert tl.acquire(bucket) == pytest.approx(2.0)

    def test_invalid_config_rejected(self):
        with pytest.raises(ValueError):
            TokenBucket(0)
        with pytest.raises(ValueError):
            TokenBucket(-1)
        with pytest.raises(ValueError):
            TokenBucket(1, burst=0)

    def test_thread_safety_exact_accounting(self):
        tl = FakeTimeline()
        bucket = tl.bucket(100, burst=1)
        threads = [
            threading.Thread(target=lambda: [tl.acquire(bucket) for _ in range(10)])
            for _ in range(4)
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        # 40 permits at 100/s with burst 1 → at least 39 permits' worth of
        # waiting was paid for (wake-up re-checks may split sleeps, but the
        # clock must have advanced to cover every refill)
        assert tl.t == pytest.approx(39 / 100, abs=1e-6) or tl.t >= 39 / 100


class TestOptionParsing:
    def test_lookup_option_keys(self):
        opts = lookup_options_from_map({
            "url": "http://x/",
            "http.source.lookup.rate-limit.requests-per-second": "25",
            "http.source.lookup.rate-limit.burst": "50",
        })
        assert opts.rate_limit == 25.0
        assert opts.rate_limit_burst == 50.0

    def test_lookup_default_is_unlimited(self):
        assert lookup_options_from_map({"url": "http://x/"}).rate_limit is None

    def test_sink_option_keys(self):
        opts = sink_options_from_map({
            "url": "http://x/",
            "http.sink.rate-limit.requests-per-second": "7.5",
            "http.sink.rate-limit.burst": "10",
        })
        assert opts.rate_limit == 7.5
        assert opts.rate_limit_burst == 10.0


class TestClientWiring:
    def test_lookup_client_throttles_each_wire_request(self, stub_server):
        stub_server.stub_json("/n", {"n_nationkey": 1, "n_name": "A"})
        client = HttpPollingClient(
            url=stub_server.url("/n"),
            options=HttpLookupOptions(method="GET", rate_limit=10, rate_limit_burst=1),
        )
        assert client.rate_limiter is not None
        client.rate_limiter = bucket = GrantCounter(rate=10, burst=1)
        start = time.monotonic()
        for _ in range(3):
            result = client.pull({"n_nationkey": 1})
            assert result.rows
        # one permit per request; the loop waits for each on a timer, so
        # three at 10/s with a burst of 1 take two waits of 0.1 s
        assert bucket.granted == 3
        assert time.monotonic() - start >= 0.199

    def test_lookup_client_unlimited_by_default(self, stub_server):
        stub_server.stub_json("/n", {"n_nationkey": 1})
        client = HttpPollingClient(
            url=stub_server.url("/n"), options=HttpLookupOptions(method="GET")
        )
        assert client.rate_limiter is None

    def test_retries_consume_permits(self, stub_server):
        from flink_connector_http_spark.retry import RetryConfig
        from flink_connector_http_spark.testing import StubResponse, json_response

        stub_server.stub_sequence("/flaky", [
            StubResponse(503),
            StubResponse(503),
            json_response({"ok": 1}),
        ])
        client = HttpPollingClient(
            url=stub_server.url("/flaky"),
            options=HttpLookupOptions(
                method="GET",
                rate_limit=10,
                retry=RetryConfig(max_retries=3, strategy="fixed-delay",
                                  fixed_delay=0.0),
            ),
        )
        client.rate_limiter = bucket = GrantCounter(rate=10, burst=1)
        start = time.monotonic()
        result = client.pull({"k": 1})
        assert result.rows == [{"ok": 1}]
        # three wire attempts (two 503s + success) → two throttled waits
        assert bucket.granted == 3
        assert time.monotonic() - start >= 0.199


class TestSinkWiring:
    def test_sink_writer_throttles_requests(self, stub_server, monkeypatch):
        stub_server.stub_json("/sink", {"ok": True})
        writer = HttpSinkWriter(
            stub_server.url("/sink"),
            HttpSinkOptions(request_mode="single", rate_limit=10,
                            rate_limit_burst=1, max_time_in_buffer=0),
        )
        assert writer.rate_limiter is not None
        granted = []
        try_acquire = writer.rate_limiter.try_acquire

        def counted(permits=1.0):
            wait = try_acquire(permits)
            if not wait:
                granted.append(time.monotonic())
            return wait

        monkeypatch.setattr(writer.rate_limiter, "try_acquire", counted)
        for i in range(3):
            writer.write(HttpSinkRequestEntry(
                method="POST", payload=json.dumps({"i": i}).encode()
            ))
        writer.close()
        assert len(stub_server.recorded("/sink")) == 3
        # one permit per request; the loop waits for each on a timer, so
        # three at 10/s with a burst of 1 take two waits of 0.1 s
        assert len(granted) == 3
        assert granted[-1] - granted[0] >= 0.199

    def test_sink_writer_unlimited_by_default(self, stub_server):
        stub_server.stub_json("/sink", {"ok": True})
        writer = HttpSinkWriter(stub_server.url("/sink"), HttpSinkOptions())
        assert writer.rate_limiter is None
        writer.close()


class TestTokenBucketProperties:
    def test_rate_invariant_under_arbitrary_configs(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=200, deadline=None)
        @given(
            rate=st.floats(min_value=0.1, max_value=500),
            burst=st.integers(min_value=1, max_value=32),
            n=st.integers(min_value=1, max_value=100),
        )
        def check(rate, burst, n):
            tl = FakeTimeline()
            bucket = tl.bucket(rate, burst)
            for _ in range(n):
                tl.acquire(bucket)
            # permits granted over the elapsed fake-time window can never
            # beat the configured envelope burst + rate*t ...
            assert n <= burst + rate * tl.t + 1e-6 * max(1.0, rate * tl.t)
            # ... and the limiter never over-throttles: the minimal legal
            # schedule is (n - burst)/rate seconds
            if n > burst:
                assert tl.t <= (n - burst) / rate + 1e-6 * max(1.0, tl.t)

        check()
