"""The workloads as Spark jobs through the engine's public entry points.

Each workload object owns its inputs and runs *passes*. A batch pass is one
Spark job over the whole input; the stream runs one query for the measured
window. Every pass checks its output against a reference and returns a
:class:`PassResult`. Lookup passes use a fresh ``pass`` URL parameter, so
each pass gets a fresh table fingerprint: a new per-worker client and an
empty per-worker cache, as a first run would.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Dict, List

from perfbench import inputs
from perfbench.inputs import SIZES
from perfbench.spark_env import WORK_DIR


@dataclass
class PassResult:
    """What one pass reports."""

    rows: int                     # output rows
    attempted: int                # operations attempted (rows looked up / sent)
    failed: int                   # operations that did not succeed
    correct: bool
    wall_s: float
    latency_p50_ms: float = 0.0   # stream only: events' arrival after due
    latency_p99_ms: float = 0.0
    counts: Dict[str, float] = field(default_factory=dict)  # Spark-side counters


def lookup_schema():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("v", T.LongType()),
    ])


def lookup_options(batch_size=None, cached=True):
    from flink_connector_http_spark import HttpLookupOptions, LookupCacheConfig
    from flink_connector_http_spark.retry import RetryConfig

    return HttpLookupOptions(
        use_async=True,
        pull_pool_size=8,
        continue_on_error=True,
        request_timeout=30.0,
        retry=RetryConfig(max_retries=2, fixed_delay=0.005),
        cache=LookupCacheConfig(max_rows=SIZES.cache_rows) if cached else None,
        lookup_batch_size=batch_size,
    )


def sink_options(retries: int):
    from flink_connector_http_spark import HttpSinkOptions

    # max_time_in_buffer=0: flushes follow the record count only, so a
    # pass frames the same bodies every time (the sink fault schedule is
    # keyed on body content)
    return HttpSinkOptions(
        batch_size=500, flush_batch_size=500, max_time_in_buffer=0,
        max_retries=retries, retry_delay=0.005,
    )


def output_digest(df) -> dict:
    """One JVM-side aggregation over the enriched rows: the digest of
    :func:`inputs.row_digest` and the rows with no enrichment."""
    from pyspark.sql import functions as F

    text = F.concat_ws("|", *[F.col(c).cast("string") for c in inputs.LOOKUP_OUT_COLS])
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("v").isNull().cast("long")).alias("bad"),
        F.sum(F.crc32(text)).alias("h"),
    ).collect()[0].asDict()


class _BatchWorkload:
    #: untimed full passes before timing. The first starts the Python
    #: workers and pays for the JVM's first compilations, so it takes three
    #: to six times a steady pass; the next lets later compilations land.
    WARM_PASSES = 2

    def warm_up(self) -> bool:
        """Whether every warm-up pass produced correct output."""
        return all([self.run_pass().correct for _ in range(self.WARM_PASSES)])

    def close(self) -> None:
        pass


class LookupWorkload(_BatchWorkload):
    """``lookup_skewed_cached``: a skewed probe DataFrame enriched per key
    with async GETs and a per-worker cache."""

    def __init__(self, name: str, spark, double, seed: int) -> None:
        self.name, self.spark, self.double, self.seed = name, spark, double, seed
        self.probe_pdf = inputs.zipf_probe(seed)
        self.partitions = SIZES.lookup_partitions
        self.table = inputs.table(seed, SIZES.skew_domain)
        self.reference = inputs.reference_digest(self.probe_pdf, self.table)
        # one Spark partition per 10k-row Arrow slice; merging runs of
        # consecutive slices gives one partition per key group
        self.probe = spark.createDataFrame(self.probe_pdf).coalesce(self.partitions)
        self.options = lookup_options()
        self._passes = 0

    def run_pass(self) -> PassResult:
        from flink_connector_http_spark import HttpLookupTable, http_lookup_join

        self._passes += 1
        table = HttpLookupTable(
            f"{self.double.base}/lookup?pass=p{self._passes}", lookup_schema(), self.options
        )
        out = http_lookup_join(
            self.probe, table, on={"k": "id"}, how="left", select=["name", "v"]
        )
        acc = http_lookup_join.last_metrics
        start = time.perf_counter()
        got = output_digest(out)
        wall = time.perf_counter() - start
        correct = got["bad"] == 0 and all(got[k] == self.reference[k] for k in ("n", "h"))
        return PassResult(
            rows=got["n"],
            attempted=got["n"],
            failed=got["bad"],
            correct=correct,
            wall_s=wall,
            counts={
                "spark.lookup_calls": acc["numLookupCalls"].value,
                "spark.cache_hits": acc["numCacheHits"].value,
                "spark.rows_emitted": acc["numRowsEmitted"].value,
            },
        )

SCAN_SCHEMA = "id long, name string, v long"


class ScanSinkWorkload(_BatchWorkload):
    """``scan_sink``: paged ``http`` DataSource read into ``write_http``."""

    def __init__(self, name: str, spark, double, seed: int) -> None:
        from flink_connector_http_spark.datasource import register_http_datasource

        self.name, self.spark, self.double, self.seed = name, spark, double, seed
        register_http_datasource(spark)
        self.options = sink_options(retries=2)
        self._passes = 0

    def reader_options(self, tag: str, pages: int, per_partition: int) -> Dict[str, str]:
        return {
            "url": f"{self.double.base}/pages?pass={tag}",
            "pages": str(pages),
            "pages_per_partition": str(per_partition),
        }

    def run_pass(self) -> PassResult:
        from flink_connector_http_spark import write_http

        self._passes += 1
        tag = f"p{self._passes}"
        rows = SIZES.scan_pages * SIZES.scan_page_rows
        df = (
            self.spark.read.format("http").schema(SCAN_SCHEMA)
            .options(**self.reader_options(
                tag, SIZES.scan_pages, SIZES.scan_pages_per_partition)).load()
        )
        start = time.perf_counter()
        write_http(df, f"{self.double.base}/sink?pass={tag}", self.options)
        wall = time.perf_counter() - start
        metrics = write_http.last_metrics
        got = self.double.sink(tag, n=rows)
        correct = (
            got["records"] == rows and got["bad"] == 0
            and got["missing"] == 0 and got["duplicated"] == 0
        )
        return PassResult(
            rows=got["records"],
            attempted=rows,
            failed=metrics["numRecordsSendErrors"],
            correct=correct,
            wall_s=wall,
            counts={
                "spark.sink_records": metrics["numRecordsSend"],
                "spark.sink_errors": metrics["numRecordsSendErrors"],
            },
        )


def _progress(query) -> List[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


class StreamWorkload:
    """``stream_enrich_sink``: rate source (open loop) → multi-key POST
    lookup without cache → ``foreach_batch_http_sink``."""

    #: batch 0 of a query also pays for starting the query
    FIRST_STEADY = 1
    #: batches with rows in the warm-up query
    WARM_BATCHES = 3

    def __init__(self, name: str, spark, double, seed: int, root: str) -> None:
        self.name, self.spark, self.double, self.seed = name, spark, double, seed
        self.work = os.path.join(root, WORK_DIR, f"stream-{os.getpid()}")
        self.options = lookup_options(batch_size=SIZES.stream_lookup_batch, cached=False)
        self.sink_options = sink_options(retries=0)
        self._passes = 0

    def _pipeline(self, probe, tag: str):
        """``probe`` enriched by the multi-key lookup, and the sink body."""
        from flink_connector_http_spark import (
            HttpLookupTable,
            foreach_batch_http_sink,
            http_lookup_join,
        )

        table = HttpLookupTable(
            f"{self.double.base}/batch?pass={tag}", lookup_schema(), self.options
        )
        enriched = http_lookup_join(
            probe, table, on={"k": "id"}, how="left", select=["name", "v"]
        )
        self.lookup_metrics = http_lookup_join.last_metrics
        sink = foreach_batch_http_sink(
            f"{self.double.base}/sink?pass={tag}", self.sink_options
        )
        return enriched, sink

    def _probe(self, df):
        from pyspark.sql import functions as F

        a, b = inputs.stream_key_params(self.seed)
        return df.select(
            "value",
            ((F.col("value") * a + b) % SIZES.stream_domain).alias("k"),
            F.unix_micros("timestamp").alias("ts_us"),
        )

    def _start(self, tag: str, jobs: Dict[int, int], sent: Dict[int, tuple], stopping):
        from pyspark.sql import functions as F

        from flink_connector_http_spark import write_http

        period_ms = SIZES.stream_trigger_s * 1000
        rate = (
            self.spark.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", SIZES.stream_batch_rows)
            .option("numPartitions", 2)
            # batch k is stamped with the k-th trigger time after now, its
            # due time, as the trigger fires on multiples of the period
            .option("startTimestamp", int(time.time() * 1000) // period_ms * period_ms)
            .option("advanceMillisPerBatch", period_ms)
            .load()
        )
        enriched, sink = self._pipeline(self._probe(rate), tag)
        sc = self.spark.sparkContext

        def body(batch_df, epoch: int) -> None:
            if stopping.is_set():
                return  # the window is over: stop() must not cut a batch
            group = f"perfbench-{tag}-{epoch}"
            sc.setJobGroup(group, group)
            sink(batch_df.withColumn("epoch", F.lit(epoch)), epoch)
            jobs[epoch] = len(sc.statusTracker().getJobIdsForGroup(group))
            m = write_http.last_metrics
            sent[epoch] = (m["numRecordsSend"], m["numRecordsSendErrors"])

        checkpoint = os.path.join(self.work, tag)
        shutil.rmtree(checkpoint, ignore_errors=True)
        return (
            enriched.writeStream.foreachBatch(body)
            .trigger(processingTime=f"{SIZES.stream_trigger_s} seconds")
            .option("checkpointLocation", checkpoint)
            .start()
        )

    def _warm_static(self, tag: str) -> None:
        """The same pipeline over one static batch, so the warm-up query's
        first micro-batch does not queue behind Python worker start-up."""
        from pyspark.sql import functions as F

        rows = SIZES.stream_batch_rows
        static = self.spark.range(0, rows, 1, 2).select(
            "id", F.current_timestamp().alias("timestamp")
        ).withColumnRenamed("id", "value")
        enriched, sink = self._pipeline(self._probe(static), tag)
        sink(enriched.withColumn("epoch", F.lit(-1)), -1)

    def warm_up(self) -> bool:
        return self.run_pass(warm=True).correct

    def run_pass(self, warm: bool = False, seconds: float = 0.0) -> PassResult:
        import threading

        self._passes += 1
        tag = f"{'w' if warm else 'p'}{self._passes}"
        if warm:
            self._warm_static(tag + "s")
        jobs: Dict[int, int] = {}
        sent: Dict[int, tuple] = {}
        stopping = threading.Event()
        start = time.perf_counter()
        query = self._start(tag, jobs, sent, stopping)
        try:
            if warm:
                while sum(bool(p["numInputRows"]) for p in _progress(query)) < self.WARM_BATCHES:
                    time.sleep(0.05)
            else:
                time.sleep(seconds)
        finally:
            stopping.set()
            deadline = time.monotonic() + 30
            while query.status["isTriggerActive"] and time.monotonic() < deadline:
                time.sleep(0.01)
            query.stop()
        wall = time.perf_counter() - start
        progress = [p for p in _progress(query) if p["batchId"] in sent]
        processed = sum(p["numInputRows"] for p in progress)
        steady = [p for p in progress if p["batchId"] >= self.FIRST_STEADY]
        got = self.double.sink(tag, n=processed, from_epoch=self.FIRST_STEADY)
        failed = got["bad"] + got["missing"] + sum(e for _, e in sent.values())
        steady_rows = sum(p["numInputRows"] for p in steady)
        return PassResult(
            rows=processed,
            attempted=processed,
            failed=failed,
            correct=got["bad"] == 0 and got["missing"] == 0 and processed > 0,
            wall_s=wall,
            latency_p50_ms=got["latency_p50_ms"],
            latency_p99_ms=got["latency_p99_ms"],
            counts={
                "steady_rows": steady_rows,
                "steady_span_s": _steady_span_s(steady),
                "progress": steady,
                "jobs": [jobs[p["batchId"]] for p in steady],
                "spark.lookup_calls": self.lookup_metrics["numLookupCalls"].value,
                "spark.rows_emitted": self.lookup_metrics["numRowsEmitted"].value,
                "spark.sink_records": sum(s for s, _ in sent.values()),
                "spark.sink_errors": sum(e for _, e in sent.values()),
            },
        )

    def close(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


def _steady_span_s(steady: List[dict]) -> float:
    """Wall time from the first steady trigger's start to the last one's end."""
    if not steady:
        return 0.0
    from datetime import datetime

    def ts(p) -> float:
        return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()

    last = steady[-1]
    return ts(last) + last["durationMs"]["triggerExecution"] / 1000.0 - ts(steady[0])


WORKLOADS = ("lookup_skewed_cached", "scan_sink", "stream_enrich_sink")


def make(name: str, spark, double, seed: int, root: str):
    if name == "lookup_skewed_cached":
        return LookupWorkload(name, spark, double, seed)
    if name == "scan_sink":
        return ScanSinkWorkload(name, spark, double, seed)
    if name == "stream_enrich_sink":
        return StreamWorkload(name, spark, double, seed, root)
    raise ValueError(f"unknown workload {name!r}")
