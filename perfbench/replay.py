"""The traced run: per-layer metrics of one workload.

It first runs one Spark pass (the stream: one window) and reads the
engine's own counters: the operators' ``last_metrics`` accumulators, the
double's counters and, for the stream, ``StreamingQueryProgress``. It then
replays part of the workload's generated batches (the last of a lookup
probe's four partitions, the first of the scan's four, five stream
micro-batches) in this process through the engine's per-batch entry
points — the lookup operator's enrich function with an
``HttpPollingClient`` and an ``LruTtlCache``, the ``http`` DataSource's
``HttpBatchReader`` page fetch and decode, and an ``HttpSinkWriter`` per
partition — twice plain and twice with the wrappers of
:mod:`perfbench.trace`, in turn. The difference between the median
walls is the tracing overhead.

Where each layer's metric comes from:

- ``lookup.*``: the replayed batches (rows, per-batch distinct keys) and
  the self time of the enrich call (``lookup.assembly_s``).
- ``cache.*``: the cache's own hit and miss counters and the probe spans.
- ``client.*``: wire attempts (``client.wire`` spans), decode spans, and
  ``client.pool_wait_s``, the time each exchange waited for a pull-pool
  thread after its batch finished probing the cache, summed over exchanges.
- ``retry.*``: attempts against exchanges; ``retry.sleep_s`` is the self
  time of the exchanges, which is the retry back-off plus request building.
- ``sink.*`` and ``datasource.*``: the writer's counters and its write,
  flush, close and backpressure (``sink.blocked``) spans; page fetch and
  decode spans.
- ``stub.*`` and ``spark.*``: the Spark pass (double counters, accumulators).
- ``trace.*``: the replay walls, the tracing overhead and the remainder of
  the wall outside every engine span.
"""

from __future__ import annotations

import json
import statistics
import time
from dataclasses import dataclass, field
from typing import Dict, Optional

from perfbench import inputs
from perfbench.inputs import SIZES
from perfbench.trace import (
    TracedCache,
    TracedClient,
    TracedTransport,
    Tracer,
    clock,
    durations_ms,
    percentile,
    self_times,
    trace_sink_writer,
    wall_attribution,
)

#: every per-layer metric: (unit, which direction is better). A layer a
#: workload does not run reports 0.
PER_LAYER = {
    "lookup.rows_in": ("count", "higher"),
    "lookup.distinct_keys": ("count", "lower"),
    "lookup.dedup_ratio": ("ratio", "lower"),
    "lookup.assembly_s": ("s", "lower"),
    "cache.hits": ("count", "higher"),
    "cache.misses": ("count", "lower"),
    "cache.hit_ratio": ("ratio", "higher"),
    "cache.probe_s": ("s", "lower"),
    "client.requests": ("count", "lower"),
    "client.keys_per_request": ("keys/req", "higher"),
    "client.wire_s": ("s", "lower"),
    "client.wire_ms_p50": ("ms", "lower"),
    "client.wire_ms_p99": ("ms", "lower"),
    "client.pool_wait_s": ("s", "lower"),
    "client.decode_s": ("s", "lower"),
    "retry.attempts": ("count", "lower"),
    "retry.retries": ("count", "lower"),
    "retry.sleep_s": ("s", "lower"),
    "retry.useful_ratio": ("ratio", "higher"),
    "sink.records": ("count", "higher"),
    "sink.requests": ("count", "lower"),
    "sink.errors": ("count", "lower"),
    "sink.write_s": ("s", "lower"),
    "sink.blocked_s": ("s", "lower"),
    "sink.flush_s": ("s", "lower"),
    "sink.wire_ms_p50": ("ms", "lower"),
    "sink.wire_ms_p99": ("ms", "lower"),
    "datasource.partitions": ("count", "higher"),
    "datasource.pages": ("count", "lower"),
    "datasource.fetch_s": ("s", "lower"),
    "datasource.emit_s": ("s", "lower"),
    "stub.busy_share": ("ratio", "lower"),
    "stub.requests": ("count", "lower"),
    "stub.bytes_out": ("bytes", "lower"),
    "spark.lookup_calls": ("count", "lower"),
    "spark.cache_hits": ("count", "higher"),
    "spark.rows_emitted": ("count", "higher"),
    "spark.sink_records": ("count", "higher"),
    "spark.sink_errors": ("count", "lower"),
    "trace.wall_s": ("s", "lower"),
    "trace.plain_wall_s": ("s", "lower"),
    "trace.overhead_share": ("ratio", "lower"),
    "trace.remainder_s": ("s", "lower"),
    "trace.spans": ("count", "lower"),
    # the stream's triggers, from ``StreamingQueryProgress``, and its events'
    # latency from due time to the sink
    "streaming.batches": ("count", "higher"),
    "streaming.rows_per_batch_p50": ("count", "higher"),
    "streaming.add_batch_ms_p50": ("ms", "lower"),
    "streaming.planning_ms_p50": ("ms", "lower"),
    "streaming.commit_ms_p50": ("ms", "lower"),
    "streaming.jobs_per_batch": ("count", "lower"),
    "streaming.event_latency_ms_p50": ("ms", "lower"),
    "streaming.event_latency_ms_p99": ("ms", "lower"),
}


@dataclass
class Replay:
    """What one replay did."""

    wall_s: float
    correct: bool
    counts: Dict[str, float] = field(default_factory=dict)


def _span(tracer: Optional[Tracer], name: str, tag=None):
    from contextlib import nullcontext

    return nullcontext() if tracer is None else tracer.span(name, tag)


def _transport(tracer, name: str, timeout: float):
    from flink_connector_http_spark.client import HttpTransport

    transport = HttpTransport(timeout=timeout)
    return transport if tracer is None else TracedTransport(transport, tracer, name)


def _writer(tracer, url: str, options):
    from flink_connector_http_spark import HttpSinkWriter

    writer = HttpSinkWriter(
        url, options, transport=_transport(tracer, "sink.wire", options.request_timeout),
        framing="json-array",
    )
    return writer if tracer is None else trace_sink_writer(writer, tracer)


def _enrich_config(table, probe_cols):
    """The per-batch config ``http_lookup_join(probe, table, on={"k": "id"},
    how="left", select=["name", "v"])`` builds."""
    from flink_connector_http_spark.lookup import _EnrichConfig

    fields = tuple(f for f in table.schema.fields if f.name in ("name", "v"))
    return _EnrichConfig(
        table=table,
        pairs=(("k", "id"),),
        probe_col_names=tuple(probe_cols),
        output_lookup_fields=fields,
        out_col_names=tuple(probe_cols) + tuple(f.name for f in fields),
        lookup_prefix="",
        key_lookup_names=("id",),
        meta_names=(),
        emit_on_empty=True,
    )


def _enrich_batches(tracer, cfg, client, cache, batches):
    """Run the operator's per-batch enrich function over ``batches``."""
    from flink_connector_http_spark.lookup import _enrich_pdf

    outs = []
    for i, pdf in enumerate(batches):
        if tracer is None:
            outs.append(_enrich_pdf(cfg, client, cache, pdf))
            continue
        with tracer.span("lookup.enrich", i) as sid:
            tracer.anchor, tracer.anchor_ready = sid, clock()
            outs.append(_enrich_pdf(cfg, client, cache, pdf))
    return outs


def _lookup_client(tracer, url: str, options):
    from flink_connector_http_spark import HttpLookupTable, LruTtlCache
    from flink_connector_http_spark.client import HttpPollingClient

    from perfbench.workloads import lookup_schema

    table = HttpLookupTable(url, lookup_schema(), options)
    client = HttpPollingClient(
        url=url, options=options,
        transport=_transport(tracer, "client.wire", options.request_timeout),
    )
    cache = LruTtlCache(options.cache) if options.cache is not None else None
    counted = (client, cache)
    if tracer is not None:
        client = TracedClient(client, tracer)
        cache = None if cache is None else TracedCache(cache, tracer)
    return table, client, cache, counted


def _client_counts(counted, traced_client) -> dict:
    client, cache = counted
    stats = client.retry_stats
    traced = isinstance(traced_client, TracedClient)
    return {
        "exchanges_ok": stats.successful_no_retry + stats.successful_with_retry,
        "cache.hits": cache.hits if cache is not None else 0,
        "cache.misses": cache.misses if cache is not None else 0,
        "client.pool_wait_s": traced_client.pool_wait_s if traced else 0.0,
        "keys_fetched": traced_client.keys if traced else 0,
    }


class LookupReplay:
    """Replays the last of a lookup workload's partitions, 10k-row Arrow
    batch by batch. (The skewed probe's first partition holds only the
    heaviest key; the others hold about a third of the key domain each.)"""

    def __init__(self, wl) -> None:
        self.wl = wl
        per_part = len(wl.probe_pdf) // wl.partitions
        part = wl.probe_pdf.iloc[(wl.partitions - 1) * per_part :]
        self.batches = [
            part.iloc[lo : lo + 10_000].reset_index(drop=True)
            for lo in range(0, len(part), 10_000)
        ]
        self.reference = inputs.reference_digest(part, wl.table)
        self.distinct = sum(b["k"].nunique() for b in self.batches)

    def run(self, tracer, tag: str) -> Replay:
        import pandas as pd

        url = f"{self.wl.double.base}/lookup?pass={tag}"
        table, client, cache, counted = _lookup_client(tracer, url, self.wl.options)
        cfg = _enrich_config(table, ["rid", "k", "qty"])
        start = time.perf_counter()
        with _span(tracer, "replay"):
            outs = _enrich_batches(tracer, cfg, client, cache, self.batches)
        wall = time.perf_counter() - start
        got = inputs.row_digest(pd.concat(outs, ignore_index=True))
        counts = _client_counts(counted, client)
        counts.update({
            "lookup.rows_in": sum(len(b) for b in self.batches),
            "lookup.distinct_keys": self.distinct,
        })
        return Replay(wall, got == self.reference, counts)


class ScanSinkReplay:
    """Replays the first partition of ``scan_sink``: page fetch, decode to
    Arrow, JSON payloads (the stand-in for Spark's ``to_json``) and the
    partition's ``HttpSinkWriter``."""

    def __init__(self, wl) -> None:
        self.wl = wl

    def run(self, tracer, tag: str) -> Replay:
        from flink_connector_http_spark.datasource import (
            HttpBatchReader,
            _auth_headers_factory,
        )
        from flink_connector_http_spark.types import HttpSinkRequestEntry
        from pyspark.sql import types as T

        from perfbench.workloads import SCAN_SCHEMA

        schema = T._parse_datatype_string(SCAN_SCHEMA)
        pages = SIZES.scan_pages
        reader = HttpBatchReader(
            self.wl.reader_options(tag, pages, SIZES.scan_pages_per_partition), schema
        )
        headers = _auth_headers_factory(reader.options)
        arrow_schema = reader._arrow_schema()
        sink_url = f"{self.wl.double.base}/sink?pass={tag}"
        partitions = reader.partitions()
        part = partitions[0]
        start = time.perf_counter()
        with _span(tracer, "replay"):
            transport = _transport(tracer, "datasource.wire", reader.timeout)
            writer = _writer(tracer, sink_url, self.wl.options)
            for page in range(part.start, part.end):
                with _span(tracer, "datasource.fetch", page):
                    records = reader._fetch_page(transport, reader.decoder, headers, page)
                with _span(tracer, "datasource.emit", page):
                    batches = list(reader._emit_page(records, arrow_schema))
                with _span(tracer, "replay.encode", page):
                    payloads = [
                        json.dumps(row, separators=(",", ":")).encode()
                        for batch in batches for row in batch.to_pylist()
                    ]
                with _span(tracer, "sink.write", page):
                    for payload in payloads:
                        writer.write(HttpSinkRequestEntry("POST", payload))
            with _span(tracer, "sink.close", part.start):
                writer.close()
        wall = time.perf_counter() - start
        rows = (part.end - part.start) * SIZES.scan_page_rows
        got = self.wl.double.sink(tag, n=rows)
        correct = (
            got["records"] == rows and got["bad"] == 0
            and got["missing"] == 0 and got["duplicated"] == 0
        )
        totals = {
            "sink.records": writer.records_sent,
            "sink.requests": writer.requests_sent,
            "sink.errors": writer.send_errors,
            "datasource.partitions": len(partitions),
            "datasource.pages": part.end - part.start,
        }
        return Replay(wall, correct, totals)


class StreamReplay:
    """Replays ``stream_enrich_sink`` micro-batches of the steady size: the
    rate source's two partitions (``value`` mod 2), multi-key enrich, then
    one ``HttpSinkWriter`` per partition, as ``foreach_batch_http_sink``
    runs them."""

    BATCHES = 5

    def __init__(self, wl) -> None:
        import numpy as np
        import pandas as pd

        self.wl = wl
        per_batch = SIZES.stream_batch_rows
        a, b = inputs.stream_key_params(wl.seed)
        self.micro = []
        for epoch in range(self.BATCHES):
            parts = []
            for p in range(2):
                values = np.arange(epoch * per_batch + p, (epoch + 1) * per_batch, 2)
                parts.append(pd.DataFrame({
                    "value": values,
                    "k": (values * a + b) % SIZES.stream_domain,
                    "ts_us": np.zeros(len(values), dtype=np.int64),
                }))
            self.micro.append(parts)
        self.rows = per_batch * self.BATCHES
        self.distinct = sum(p["k"].nunique() for parts in self.micro for p in parts)

    def run(self, tracer, tag: str) -> Replay:
        from flink_connector_http_spark.types import HttpSinkRequestEntry

        url = f"{self.wl.double.base}/batch?pass={tag}"
        table, client, _cache, counted = _lookup_client(tracer, url, self.wl.options)
        cfg = _enrich_config(table, ["value", "k", "ts_us"])
        sink_url = f"{self.wl.double.base}/sink?pass={tag}"
        totals = {"sink.records": 0, "sink.requests": 0, "sink.errors": 0}
        start = time.perf_counter()
        with _span(tracer, "replay"):
            for epoch, parts in enumerate(self.micro):
                outs = _enrich_batches(tracer, cfg, client, None, parts)
                for i, out in enumerate(outs):
                    writer = _writer(tracer, sink_url, self.wl.sink_options)
                    with _span(tracer, "replay.encode", (epoch, i)):
                        out = out.assign(epoch=epoch, ts_us=int(time.time() * 1e6))
                        payloads = [
                            json.dumps(row, separators=(",", ":")).encode()
                            for row in out.to_dict("records")
                        ]
                    with _span(tracer, "sink.write", (epoch, i)):
                        for payload in payloads:
                            writer.write(HttpSinkRequestEntry("POST", payload))
                    with _span(tracer, "sink.close", (epoch, i)):
                        writer.close()
                    totals["sink.records"] += writer.records_sent
                    totals["sink.requests"] += writer.requests_sent
                    totals["sink.errors"] += writer.send_errors
        wall = time.perf_counter() - start
        got = self.wl.double.sink(tag, n=self.rows)
        counts = _client_counts(counted, client)
        counts.update(totals)
        counts.update({"lookup.rows_in": self.rows, "lookup.distinct_keys": self.distinct})
        return Replay(wall, got["bad"] == 0 and got["missing"] == 0, counts)


REPLAYS = {
    "lookup_skewed_cached": LookupReplay,
    "scan_sink": ScanSinkReplay,
    "stream_enrich_sink": StreamReplay,
}


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def _spark_pass(setup, seconds: float):
    """One Spark pass (the stream: one window) with the double's counters
    around it."""
    wl = setup.workload
    before = setup.double.stats()
    if wl.name == "stream_enrich_sink":
        result = wl.run_pass(seconds=seconds)
    else:
        result = wl.run_pass()
    after = setup.double.stats()
    return result, before, after


def layer_metrics(spark_pass, before, after, plain: Replay, traced: Replay,
                  tracer: Tracer) -> Dict[str, float]:
    """Every per-layer metric, from the Spark pass (``spark_pass`` and the
    double's counters ``before`` and ``after`` it) and the replays."""
    spans = tracer.spans
    own = self_times(spans)
    wall = wall_attribution(spans)
    c = traced.counts
    requests = sum(1 for s in spans if s[0] == "client.exchange")
    attempts = sum(1 for s in spans if s[0] == "client.wire")
    hits, misses = c.get("cache.hits", 0), c.get("cache.misses", 0)
    m = {name: 0.0 for name in PER_LAYER}
    m.update({
        "lookup.rows_in": c.get("lookup.rows_in", 0),
        "lookup.distinct_keys": c.get("lookup.distinct_keys", 0),
        "lookup.dedup_ratio": _ratio(c.get("lookup.distinct_keys", 0), c.get("lookup.rows_in", 0)),
        "lookup.assembly_s": own.get("lookup.enrich", 0.0),
        "cache.hits": hits,
        "cache.misses": misses,
        "cache.hit_ratio": _ratio(hits, hits + misses),
        "cache.probe_s": own.get("cache.probe", 0.0) + own.get("cache.put", 0.0),
        "client.requests": requests,
        "client.keys_per_request": _ratio(c.get("keys_fetched", 0), requests),
        "client.wire_s": own.get("client.wire", 0.0),
        "client.wire_ms_p50": percentile(durations_ms(spans, "client.wire"), 0.50),
        "client.wire_ms_p99": percentile(durations_ms(spans, "client.wire"), 0.99),
        "client.pool_wait_s": c.get("client.pool_wait_s", 0.0),
        "client.decode_s": own.get("client.decode", 0.0),
        "retry.attempts": attempts,
        "retry.retries": attempts - requests,
        "retry.sleep_s": own.get("client.exchange", 0.0),
        "retry.useful_ratio": _ratio(c.get("exchanges_ok", 0), attempts),
        "sink.records": c.get("sink.records", 0),
        "sink.requests": c.get("sink.requests", 0),
        "sink.errors": c.get("sink.errors", 0),
        "sink.write_s": own.get("sink.write", 0.0),
        "sink.blocked_s": sum(e - s for n, s, e, *_ in spans if n == "sink.blocked"),
        "sink.flush_s": own.get("sink.flush", 0.0) + own.get("sink.close", 0.0),
        "sink.wire_ms_p50": percentile(durations_ms(spans, "sink.wire"), 0.50),
        "sink.wire_ms_p99": percentile(durations_ms(spans, "sink.wire"), 0.99),
        "datasource.partitions": c.get("datasource.partitions", 0),
        "datasource.pages": c.get("datasource.pages", 0),
        "datasource.fetch_s": sum(e - s for n, s, e, *_ in spans if n == "datasource.fetch"),
        "datasource.emit_s": own.get("datasource.emit", 0.0),
        "stub.busy_share": _ratio(after["cpu_s"] - before["cpu_s"], after["wall_s"] - before["wall_s"]),
        "stub.requests": after["requests"] - before["requests"],
        "stub.bytes_out": after["bytes_out"] - before["bytes_out"],
        "trace.wall_s": traced.wall_s,
        "trace.plain_wall_s": plain.wall_s,
        "trace.overhead_share": _ratio(traced.wall_s - plain.wall_s, plain.wall_s),
        "trace.remainder_s": wall.get("replay", 0.0),
        "trace.spans": len(spans),
    })
    for name in ("spark.lookup_calls", "spark.cache_hits", "spark.rows_emitted",
                 "spark.sink_records", "spark.sink_errors"):
        m[name] = spark_pass.counts.get(name, 0)
    steady = spark_pass.counts.get("progress")
    if steady:
        def p50(values) -> float:
            return float(statistics.median(values))

        m.update({
            "streaming.batches": len(steady),
            "streaming.rows_per_batch_p50": p50(p["numInputRows"] for p in steady),
            "streaming.add_batch_ms_p50": p50(p["durationMs"]["addBatch"] for p in steady),
            "streaming.planning_ms_p50": p50(p["durationMs"]["queryPlanning"] for p in steady),
            "streaming.commit_ms_p50": p50(p["durationMs"]["commitOffsets"] for p in steady),
            "streaming.jobs_per_batch": p50(spark_pass.counts["jobs"]),
            "streaming.event_latency_ms_p50": spark_pass.latency_p50_ms,
            "streaming.event_latency_ms_p99": spark_pass.latency_p99_ms,
        })
    return m


def traced_run(setup, seconds: float, setup_s: float) -> dict:
    wl = setup.workload
    spark_pass, before, after = _spark_pass(setup, seconds)
    replay = REPLAYS[wl.name](wl)
    # alternate plain and traced replays, so both see the same warm-up
    plains, traceds = [], []
    for i in range(2):
        plains.append(replay.run(None, f"rp{i}"))
        tracer = Tracer()
        traceds.append(replay.run(tracer, f"rt{i}"))
    plain = Replay(statistics.median(r.wall_s for r in plains), all(r.correct for r in plains))
    # the spans and counts of the last traced replay, the median wall of both
    traced = Replay(
        statistics.median(r.wall_s for r in traceds),
        all(r.correct for r in traceds),
        traceds[-1].counts,
    )
    metrics = layer_metrics(spark_pass, before, after, plain, traced, tracer)
    attribution = wall_attribution(tracer.spans)
    total = sum(attribution.values())
    print(json.dumps({
        "workload": wl.name,
        "setup_s": setup_s,
        "wall_share": {k: round(v / total, 4) for k, v in sorted(
            attribution.items(), key=lambda kv: -kv[1])},
    }))
    return {
        "correct": spark_pass.correct and plain.correct and traced.correct,
        "attempted": spark_pass.attempted,
        "failed": spark_pass.failed,
        "metrics": {
            name: {"value": metrics[name], "unit": unit}
            for name, (unit, _better) in PER_LAYER.items()
        },
    }
