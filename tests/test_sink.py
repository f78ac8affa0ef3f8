"""HTTP sink tests: batching, framing, single mode, error policy, streaming.

Mirrors the reference's sink tier (``sink/HttpSinkConnectionTest.java:125-330``,
``BatchRequestHttpDynamicSinkInsertTest.java``).
"""

import json

import pytest

from pyspark.sql import Row

from flink_connector_http_spark import (
    HttpSinkOptions,
    HttpSinkRequestEntry,
    HttpSinkWriter,
    write_http,
)
from tests.stub_server import StubResponse, json_response


def entries(n, method="POST"):
    return [
        HttpSinkRequestEntry(method=method, payload=json.dumps({"i": i}).encode())
        for i in range(n)
    ]


class TestWriterFraming:
    def test_batch_json_array_framing(self, stub_server):
        stub_server.stub_json("/sink", {"ok": True})
        writer = HttpSinkWriter(stub_server.url("/sink"),
                                HttpSinkOptions(batch_size=3))
        for e in entries(3):
            writer.write(e)
        writer.close()
        recorded = stub_server.recorded("/sink")
        assert len(recorded) == 1
        assert recorded[0].json() == [{"i": 0}, {"i": 1}, {"i": 2}]
        assert recorded[0].headers["Content-Type"] == "application/json"

    def test_batch_size_triggers_multiple_requests(self, stub_server):
        stub_server.stub_json("/sink", {"ok": True})
        writer = HttpSinkWriter(stub_server.url("/sink"),
                                HttpSinkOptions(batch_size=2))
        for e in entries(5):
            writer.write(e)
        writer.close()
        sizes = sorted(len(r.json()) for r in stub_server.recorded("/sink"))
        assert sizes == [1, 2, 2]

    def test_method_change_splits_batch(self, stub_server):
        stub_server.stub_json("/sink", {"ok": True})
        writer = HttpSinkWriter(stub_server.url("/sink"),
                                HttpSinkOptions(batch_size=10))
        writer.write(HttpSinkRequestEntry("POST", b'{"a":1}'))
        writer.write(HttpSinkRequestEntry("POST", b'{"a":2}'))
        writer.write(HttpSinkRequestEntry("PUT", b'{"a":3}'))
        writer.close()
        recorded = stub_server.recorded("/sink")
        # the two split batches are submitted through a concurrent pool, so
        # wire arrival order is not guaranteed — assert as a multiset
        assert sorted((r.method, len(r.json())) for r in recorded) == [
            ("POST", 2), ("PUT", 1)]

    def test_single_mode_one_request_per_record(self, stub_server):
        stub_server.stub_json("/sink", {"ok": True})
        writer = HttpSinkWriter(stub_server.url("/sink"),
                                HttpSinkOptions(request_mode="single"))
        for e in entries(3):
            writer.write(e)
        writer.close()
        recorded = stub_server.recorded("/sink")
        assert len(recorded) == 3
        assert all(isinstance(r.json(), dict) for r in recorded)

    def test_oversized_record_rejected(self, stub_server):
        writer = HttpSinkWriter(stub_server.url("/sink"),
                                HttpSinkOptions(max_record_bytes=10))
        with pytest.raises(ValueError, match="record limit"):
            writer.write(HttpSinkRequestEntry("POST", b"x" * 11))

    def test_errors_counted_not_retried(self, stub_server):
        stub_server.stub_sequence("/sink", [
            StubResponse(status=500, body=b""),
            json_response({"ok": True}),
        ])
        writer = HttpSinkWriter(stub_server.url("/sink"),
                                HttpSinkOptions(request_mode="single"))
        for e in entries(2):
            writer.write(e)
        writer.close()
        # failed request counted, NOT retried (reference HttpSinkWriter.java:129-135)
        assert len(stub_server.recorded("/sink")) == 2
        assert writer.send_errors == 1 and writer.records_sent == 1

    def test_error_code_exclude_list(self, stub_server):
        stub_server.stub_json("/sink", {"accepted": False}, status=404)
        writer = HttpSinkWriter(
            stub_server.url("/sink"),
            HttpSinkOptions(request_mode="single",
                            error_codes="4XX,5XX", error_codes_exclude="404"),
        )
        writer.write(entries(1)[0])
        writer.close()
        assert writer.send_errors == 0 and writer.records_sent == 1

    def test_basic_auth_header_on_sink(self, stub_server):
        stub_server.stub_json("/sink", {"ok": True})
        writer = HttpSinkWriter(
            stub_server.url("/sink"),
            HttpSinkOptions(headers={"Authorization": "user:password"}),
        )
        writer.write(entries(1)[0])
        writer.close()
        recorded = stub_server.recorded("/sink")[0]
        assert recorded.headers["Authorization"] == "Basic dXNlcjpwYXNzd29yZA=="


class TestDataFrameSink:
    def test_write_http_batch(self, spark, stub_server):
        stub_server.stub_json("/events", {"ok": True})
        df = spark.createDataFrame(
            [Row(id=i, name=f"n{i}") for i in range(10)]).coalesce(2)
        write_http(df, stub_server.url("/events"),
                   HttpSinkOptions(batch_size=4))
        sent = []
        for request in stub_server.recorded("/events"):
            sent.extend(request.json())
        assert sorted(r["id"] for r in sent) == list(range(10))
        assert write_http.last_metrics["numRecordsSendErrors"] == 0
        assert write_http.last_metrics["numRecordsSend"] == 10

    def test_write_http_column_subset_and_put(self, spark, stub_server):
        stub_server.stub_json("/events", {"ok": True})
        df = spark.createDataFrame([Row(id=1, name="x", secret="s")])
        write_http(df, stub_server.url("/events"),
                   HttpSinkOptions(insert_method="PUT"), columns=["id", "name"])
        recorded = stub_server.recorded("/events")[0]
        assert recorded.method == "PUT"
        assert recorded.json() == [{"id": 1, "name": "x"}]

    def test_error_metrics_surface(self, spark, stub_server):
        stub_server.stub_json("/events", {"err": True}, status=500)
        df = spark.createDataFrame([Row(id=i) for i in range(4)]).coalesce(1)
        write_http(df, stub_server.url("/events"), HttpSinkOptions(batch_size=2))
        assert write_http.last_metrics["numRecordsSendErrors"] == 4


class TestStreamingSink:
    def test_foreach_batch_streaming_delivery(self, spark, stub_server, tmp_path):
        from flink_connector_http_spark import foreach_batch_http_sink

        stub_server.stub_json("/stream", {"ok": True})
        stream = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", "50").load()
            .selectExpr("value", "CAST(timestamp AS STRING) AS ts")
        )
        query = (
            stream.writeStream
            .foreachBatch(foreach_batch_http_sink(
                stub_server.url("/stream"), HttpSinkOptions(batch_size=10)))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="1 second")
            .start()
        )
        try:
            import time
            deadline = time.time() + 30
            while time.time() < deadline:
                received = sum(len(r.json()) for r in stub_server.recorded("/stream"))
                if received >= 20:
                    break
                time.sleep(0.5)
        finally:
            query.stop()
        received = sum(len(r.json()) for r in stub_server.recorded("/stream"))
        assert received >= 20
        values = [row["value"] for r in stub_server.recorded("/stream")
                  for row in r.json()]
        assert len(set(values)) == len(values)  # each value delivered once here


def gated(stub_server, path):
    """Stub ``path`` to answer only once the returned gate opens — lets
    tests hold requests in flight deterministically."""
    import threading

    gate = threading.Event()

    def responder(_req):
        gate.wait(timeout=10)
        return json_response({"ok": True})

    stub_server.stub(path, responder)
    return gate


class TestFlushTriggers:
    """Age-based flush + max-buffered backpressure (reference
    ``HttpSinkBuilder.java:74-80``: ``sink.flush-buffer.timeout`` 5 s,
    ``sink.requests.max-buffered`` 10k; timing behavior mirrored from
    ``HttpSinkConnectionTest.java``)."""

    def test_age_flush_fires_at_deadline_fake_clock(self, stub_server):
        stub_server.stub_json("/sink", {"ok": True})
        t = [0.0]
        writer = HttpSinkWriter(
            stub_server.url("/sink"),
            HttpSinkOptions(batch_size=100, max_time_in_buffer=5.0),
            clock=lambda: t[0],
            age_ticker=False,
        )
        writer.write(entries(1)[0])
        writer._flush_if_aged()
        assert stub_server.recorded("/sink") == []  # deadline not reached
        t[0] = 4.9
        writer._flush_if_aged()
        assert stub_server.recorded("/sink") == []
        t[0] = 5.0
        writer._flush_if_aged()
        writer.close()
        recorded = stub_server.recorded("/sink")
        assert len(recorded) == 1 and len(recorded[0].json()) == 1

    def test_age_deadline_checked_on_write_fake_clock(self, stub_server):
        stub_server.stub_json("/sink", {"ok": True})
        t = [0.0]
        writer = HttpSinkWriter(
            stub_server.url("/sink"),
            HttpSinkOptions(batch_size=100, max_time_in_buffer=5.0),
            clock=lambda: t[0],
            age_ticker=False,
        )
        writer.write(entries(1)[0])
        t[0] = 6.0
        writer.write(entries(2)[1])  # aged buffer -> both flush together
        writer.close()
        recorded = stub_server.recorded("/sink")
        assert len(recorded) == 1 and len(recorded[0].json()) == 2

    def test_age_ticker_flushes_partial_buffer_without_writes(self, stub_server):
        import time as _time

        stub_server.stub_json("/sink", {"ok": True})
        writer = HttpSinkWriter(
            stub_server.url("/sink"),
            HttpSinkOptions(batch_size=100, max_time_in_buffer=0.15),
        )
        writer.write(entries(1)[0])
        deadline = _time.time() + 5
        while _time.time() < deadline and not stub_server.recorded("/sink"):
            _time.sleep(0.05)
        assert stub_server.recorded("/sink"), "ticker never flushed aged buffer"
        writer.close()

    def test_ticker_failure_raised_by_close(self, stub_server):
        """A callback error on a request the age ticker sent is raised by
        ``close``, as one on the task thread would be."""
        import time as _time

        stub_server.stub_json("/sink", {"ok": True})

        def broken(_spec, _response):
            raise RuntimeError("callback failed")

        writer = HttpSinkWriter(
            stub_server.url("/sink"),
            HttpSinkOptions(batch_size=100, max_time_in_buffer=0.1),
            on_response=broken,
        )
        writer.write(entries(1)[0])
        deadline = _time.time() + 5
        while _time.time() < deadline and not stub_server.recorded("/sink"):
            _time.sleep(0.05)
        assert stub_server.recorded("/sink"), "ticker never flushed aged buffer"
        with pytest.raises(RuntimeError, match="callback failed"):
            writer.close()

    def test_max_buffered_blocks_write_until_capacity(self, stub_server):
        import threading

        gate = gated(stub_server, "/gated")
        writer = HttpSinkWriter(
            stub_server.url("/gated"),
            HttpSinkOptions(
                batch_size=1, max_inflight=10, max_buffered=2,
                max_time_in_buffer=0.0,
            ),
            age_ticker=False,
        )
        es = entries(3)
        writer.write(es[0])
        writer.write(es[1])  # outstanding == max_buffered
        blocked = threading.Thread(target=writer.write, args=(es[2],))
        blocked.start()
        blocked.join(timeout=0.3)
        assert blocked.is_alive(), "write should block at the buffered cap"
        gate.set()
        blocked.join(timeout=10)
        assert not blocked.is_alive()
        writer.close()
        assert len(stub_server.recorded("/gated")) == 3
        assert writer.records_sent == 3

    @pytest.mark.parametrize("pool, inflight", [(3, 5), (4, 2)])
    def test_requests_on_the_wire_bounded_by_pool_and_inflight(
            self, stub_server, pool, inflight):
        """``writer_pool_size`` requests are on the wire at once, and no
        more; no more than ``max_inflight`` are outstanding."""
        import threading
        import time as _time

        lock = threading.Lock()
        on_wire = {"now": 0, "peak": 0}

        def responder(_req):
            with lock:
                on_wire["now"] += 1
                on_wire["peak"] = max(on_wire["peak"], on_wire["now"])
            _time.sleep(0.1)
            with lock:
                on_wire["now"] -= 1
            return json_response({"ok": True})

        stub_server.stub("/wide", responder)
        writer = HttpSinkWriter(
            stub_server.url("/wide"),
            HttpSinkOptions(batch_size=1, flush_batch_size=1,
                            writer_pool_size=pool, max_inflight=inflight,
                            max_time_in_buffer=0.0),
        )
        outstanding = []
        for e in entries(12):
            writer.write(e)
            outstanding.append(writer._loop.pending)
        writer.close()
        assert writer.records_sent == 12 and writer.requests_sent == 12
        assert on_wire["peak"] == min(pool, inflight)
        assert max(outstanding) == inflight

    def test_no_age_deadline_starts_no_thread(self, stub_server, monkeypatch):
        import threading

        me = threading.current_thread()
        started = []
        real_start = threading.Thread.start

        def start(thread):
            if threading.current_thread() is me:
                started.append(thread.name)
            return real_start(thread)

        monkeypatch.setattr(threading.Thread, "start", start)
        stub_server.stub_json("/quiet", {"ok": True})
        writer = HttpSinkWriter(
            stub_server.url("/quiet"),
            HttpSinkOptions(batch_size=2, flush_batch_size=2,
                            max_time_in_buffer=0.0),
        )
        for e in entries(7):
            writer.write(e)
        writer.close()
        assert writer.records_sent == 7 and writer.requests_sent == 4
        assert started == []


class TestOptInSinkRetry:
    """Opt-in ``sink.max-retries`` (beyond-reference; default 0 keeps the
    reference's no-retry parity — see test_errors_counted_not_retried)."""

    def test_retry_then_succeed(self, stub_server):
        stub_server.stub_sequence("/sink-retry", [
            StubResponse(status=503, body=b""),
            StubResponse(status=503, body=b""),
            json_response({"ok": True}),
        ])
        writer = HttpSinkWriter(
            stub_server.url("/sink-retry"),
            HttpSinkOptions(request_mode="single", max_retries=3,
                            retry_delay=0.01),
        )
        writer.write(entries(1)[0])
        writer.close()
        assert len(stub_server.recorded("/sink-retry")) == 3
        assert writer.send_errors == 0 and writer.records_sent == 1
        assert writer.requests_sent == 3

    def test_every_attempt_reaches_on_response(self, stub_server):
        """A request retried after a 503 fires the callback and counts as
        a sent request on both attempts."""
        stub_server.stub_sequence("/sink-seen", [
            StubResponse(status=503, body=b""),
            json_response({"ok": True}),
        ])
        seen = []
        writer = HttpSinkWriter(
            stub_server.url("/sink-seen"),
            HttpSinkOptions(request_mode="single", max_retries=1,
                            retry_delay=0.01, max_time_in_buffer=0.0),
            on_response=lambda spec, resp: seen.append((spec.method, resp.status)),
        )
        writer.write(entries(1)[0])
        writer.close()
        assert seen == [("POST", 503), ("POST", 200)]
        assert writer.requests_sent == 2
        assert writer.records_sent == 1 and writer.send_errors == 0

    def test_retry_exhausted_counts_errors_once(self, stub_server):
        stub_server.stub_json("/sink-dead", {"err": True}, status=500)
        writer = HttpSinkWriter(
            stub_server.url("/sink-dead"),
            HttpSinkOptions(request_mode="single", max_retries=2,
                            retry_delay=0.01),
        )
        writer.write(entries(1)[0])
        writer.close()
        # 1 + 2 retries fired; ONE record's worth of errors recorded
        assert len(stub_server.recorded("/sink-dead")) == 3
        assert writer.send_errors == 1 and writer.records_sent == 0

    def test_retry_recovers_transport_errors(self, stub_server):
        # dead port first -> OSError; the writer itself retries only the
        # same spec, so use an unroutable url with 0 retries vs 2 retries
        writer = HttpSinkWriter(
            "http://127.0.0.1:1/never",
            HttpSinkOptions(request_mode="single", max_retries=2,
                            retry_delay=0.01, request_timeout=0.3),
        )
        writer.write(entries(1)[0])
        writer.close()
        assert writer.send_errors == 1  # exhausted, counted once

    def test_default_is_reference_parity_no_retry(self, stub_server):
        stub_server.stub_json("/sink-once", {"err": True}, status=500)
        writer = HttpSinkWriter(
            stub_server.url("/sink-once"), HttpSinkOptions(request_mode="single")
        )
        writer.write(entries(1)[0])
        writer.close()
        assert len(stub_server.recorded("/sink-once")) == 1

    def test_string_option_map_round_trip(self):
        from flink_connector_http_spark.options import sink_options_from_map

        opts = sink_options_from_map({
            "sink.max-retries": "4",
            "sink.retry-delay": "0.25",
            "sink.retry-backoff-multiplier": "3.0",
        })
        assert opts.max_retries == 4
        assert opts.retry_delay == 0.25
        assert opts.retry_backoff_multiplier == 3.0


def test_sink_retry_honors_retry_after_hint(stub_server, sink_waits):
    """A 429 carrying Retry-After stretches the sink's next retry wait
    to the hint (capped; never faster than policy)."""
    sleeps = sink_waits
    stub_server.stub_sequence("/sink-429", [
        StubResponse(status=429, body=b"", headers={"Retry-After": "3"}),
        StubResponse(status=429, body=b""),
        json_response({"ok": True}),
    ])
    writer = HttpSinkWriter(
        stub_server.url("/sink-429"),
        HttpSinkOptions(request_mode="single", max_retries=3,
                        retry_delay=0.5),
    )
    writer.write(entries(1)[0])
    writer.close()
    assert writer.records_sent == 1 and writer.send_errors == 0
    # first sleep honors the 3s hint; second (no header) is pure policy
    assert sleeps[0] == 3.0
    assert sleeps[1] == pytest.approx(0.5 * 2.0)  # default multiplier 2.0


def test_sink_gzip_request_body_opt_in(stub_server):
    """sink.gzip-request-body compresses the framed batch and marks it
    Content-Encoding: gzip; the payload gunzips back to the exact JSON
    frame. Default stays uncompressed (reference parity)."""
    import gzip as _gzip
    import json as _json

    stub_server.stub_json("/gzsink", {"ok": True})
    writer = HttpSinkWriter(
        stub_server.url("/gzsink"),
        HttpSinkOptions(request_mode="batch", batch_size=10,
                        gzip_request_body=True),
    )
    for e in entries(3):
        writer.write(e)
    writer.close()
    req = stub_server.recorded("/gzsink")[0]
    hdrs = {k.lower(): v for k, v in req.headers.items()}
    assert hdrs.get("content-encoding") == "gzip"
    frame = _json.loads(_gzip.decompress(req.body))
    assert len(frame) == 3
    assert writer.records_sent == 3 and writer.send_errors == 0

    # option-map spelling reaches the flag
    from flink_connector_http_spark.options import sink_options_from_map

    opts = sink_options_from_map({"sink.gzip-request-body": "true"})
    assert opts.gzip_request_body is True
    assert sink_options_from_map({}).gzip_request_body is False


class TestDeadLetterCapture:
    """Opt-in ``sink.dead-letter.path`` (beyond-reference: the reference
    only counts failed requests, HttpSinkWriter.java:129-135): entries
    whose request exhausts the retry budget land as byte-exact JSONL
    dead-letter rows instead of being dropped. Default off = parity."""

    @staticmethod
    def _read_dead_letters(path):
        import base64
        import pathlib

        rows = []
        for f in sorted(pathlib.Path(path).glob("*.jsonl")):
            for line in f.read_text().splitlines():
                rec = json.loads(line)
                rec["payload"] = base64.b64decode(rec["payload_b64"])
                rows.append(rec)
        return rows

    def test_single_mode_exact_payload_recovery(self, stub_server, tmp_path):
        # fail exactly the odd-i payloads, deterministically, every attempt
        def responder(req):
            if json.loads(req.body)["i"] % 2 == 1:
                return StubResponse(status=500, body=b"boom")
            return json_response({"ok": True})

        stub_server.stub("/dl-single", responder)
        dl = str(tmp_path / "dead-letters")
        writer = HttpSinkWriter(
            stub_server.url("/dl-single"),
            HttpSinkOptions(request_mode="single", max_retries=1,
                            retry_delay=0.01, dead_letter_path=dl),
        )
        batch = entries(6)
        for e in batch:
            writer.write(e)
        writer.close()
        assert writer.records_sent == 3 and writer.send_errors == 3
        assert writer.dead_letters_written == 3
        dead = self._read_dead_letters(dl)
        # byte-exact payloads of exactly the failed entries, with context
        assert sorted(d["payload"] for d in dead) == sorted(
            e.payload for e in batch if json.loads(e.payload)["i"] % 2 == 1
        )
        for d in dead:
            assert d["method"] == "POST"
            assert d["status"] == 500
            assert "500" in d["error"]
            assert isinstance(d["ts"], float)
        # delivered + dead == input, losslessly
        delivered = [req.body for req in stub_server.recorded("/dl-single")
                     if json.loads(req.body)["i"] % 2 == 0]
        assert sorted(set(delivered) | {d["payload"] for d in dead}) == sorted(
            e.payload for e in batch
        )

    def test_batch_mode_captures_each_group_entry(self, stub_server, tmp_path):
        stub_server.stub("/dl-batch",
                         lambda req: StubResponse(status=503, body=b""))
        dl = str(tmp_path / "dl")
        writer = HttpSinkWriter(
            stub_server.url("/dl-batch"),
            HttpSinkOptions(request_mode="batch", batch_size=10,
                            dead_letter_path=dl),
        )
        batch = entries(5)
        for e in batch:
            writer.write(e)
        writer.close()
        assert writer.send_errors == 5 and writer.dead_letters_written == 5
        dead = self._read_dead_letters(dl)
        # the group request fails ONCE but every entry is captured
        # individually with its original UNFRAMED payload
        assert sorted(d["payload"] for d in dead) == sorted(
            e.payload for e in batch
        )
        assert {d["status"] for d in dead} == {503}

    def test_transport_error_records_error_string(self, tmp_path):
        dl = str(tmp_path / "dl")
        writer = HttpSinkWriter(
            "http://127.0.0.1:1/unreachable",  # connection refused
            HttpSinkOptions(request_mode="single", dead_letter_path=dl,
                            request_timeout=0.5),
        )
        writer.write(entries(1)[0])
        writer.close()
        assert writer.send_errors == 1 and writer.dead_letters_written == 1
        (dead,) = self._read_dead_letters(dl)
        assert dead["status"] is None and dead["error"]

    def test_default_off_reference_parity(self, stub_server, tmp_path):
        stub_server.stub("/dl-off",
                         lambda req: StubResponse(status=500, body=b""))
        writer = HttpSinkWriter(
            stub_server.url("/dl-off"),
            HttpSinkOptions(request_mode="single"),
        )
        writer.write(entries(1)[0])
        writer.close()
        assert writer.send_errors == 1
        assert writer.dead_letters_written == 0

    def test_option_map_key(self):
        from flink_connector_http_spark.options import sink_options_from_map

        opts = sink_options_from_map({"sink.dead-letter.path": "/tmp/x"})
        assert opts.dead_letter_path == "/tmp/x"


def test_streaming_dead_letter_capture(spark, stub_server, tmp_path):
    """Dead-letter capture composes with the streaming sink: across
    micro-batches, every payload the endpoint persistently rejects is
    recoverable byte-exact from sink.dead-letter.path, and
    delivered + dead-lettered = the full input stream."""
    import base64
    import pathlib
    import time as _time

    from flink_connector_http_spark import foreach_batch_http_sink

    def responder(req):
        # single mode: one record per request; odd values always fail
        if json.loads(req.body)["value"] % 2 == 1:
            return StubResponse(status=500, body=b"no")
        return json_response({"ok": True})

    stub_server.stub("/stream-dl", responder)
    dl = str(tmp_path / "dead-letters")
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "40").load()
        .selectExpr("value")
    )
    query = (
        stream.writeStream
        .foreachBatch(foreach_batch_http_sink(
            stub_server.url("/stream-dl"),
            HttpSinkOptions(request_mode="single", dead_letter_path=dl)))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = _time.time() + 30
        while _time.time() < deadline:
            dead_files = list(pathlib.Path(dl).glob("*.jsonl")) \
                if pathlib.Path(dl).exists() else []
            delivered = [json.loads(r.body)["value"]
                         for r in stub_server.recorded("/stream-dl")
                         if json.loads(r.body)["value"] % 2 == 0]
            if len(dead_files) >= 5 and len(delivered) >= 5:
                break
            _time.sleep(0.5)
    finally:
        query.stop()
    dead_values = []
    for f in pathlib.Path(dl).glob("*.jsonl"):
        for line in f.read_text().splitlines():
            rec = json.loads(line)
            payload = base64.b64decode(rec["payload_b64"])
            assert rec["status"] == 500
            dead_values.append(json.loads(payload)["value"])
    assert dead_values and all(v % 2 == 1 for v in dead_values)
    delivered = {json.loads(r.body)["value"]
                 for r in stub_server.recorded("/stream-dl")
                 if json.loads(r.body)["value"] % 2 == 0}
    assert delivered and all(v % 2 == 0 for v in delivered)
    # lossless: every attempted value is either delivered or dead-lettered.
    # query.stop() can interrupt the final micro-batch AFTER a wire
    # attempt but BEFORE its dead-letter write lands, so the only
    # permissible gap is odd (failing) values from that in-flight tail —
    # an even value is recorded on the wire only when its 200 came back,
    # so no delivered record can ever be missing
    attempted = {json.loads(r.body)["value"]
                 for r in stub_server.recorded("/stream-dl")}
    assert delivered | set(dead_values) <= attempted
    in_flight_gap = attempted - (delivered | set(dead_values))
    assert all(v % 2 == 1 for v in in_flight_gap), in_flight_gap
