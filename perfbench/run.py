#!/usr/bin/env python3
"""Benchmark of the HTTP engine: one workload, one JSON result line.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload lookup_skewed_cached --seed 1 \\
        --seconds 14 --trace 0

Workloads: ``lookup_skewed_cached``, ``scan_sink`` and
``stream_enrich_sink``; ``BENCHMARK.json`` says why each exists.

``--trace 0`` measures the end-to-end metrics with tracing off. It starts
the JVM and the SparkSession, then sets up once (endpoint double, inputs
loaded into Spark, untimed warm-up passes, each on a fresh table
fingerprint);
``setup_s`` is the time from process start until the first timed pass can
begin. It then runs timed passes for ``--seconds`` and checks every
pass's output. ``--trace 1`` sets up the same way, runs one Spark pass for
the engine's own counters, then replays the workload's batches in this
process through the engine's per-batch entry points, plain and with spans
in turn, and prints the per-layer metrics.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``.
The exit code is 0 only when a result line was printed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _since_process_start() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


class Setup:
    """The set-up on a running session: endpoint double, inputs loaded into
    Spark, and the warm-up."""

    def __init__(self, spark, workload: str, seed: int) -> None:
        from perfbench import workloads
        from perfbench.double import DoubleProcess

        self.spark = spark
        self.double = DoubleProcess(workload, seed, ROOT)
        try:
            self.workload = workloads.make(workload, self.spark, self.double, seed, ROOT)
            warm = self.workload.warm_up()
        except BaseException:
            self.double.stop()
            raise
        if not warm:
            self.close()
            raise RuntimeError(f"warm-up of {workload} produced wrong output")

    def close(self) -> None:
        try:
            self.workload.close()
        finally:
            self.double.stop()


def _timed_passes(wl, seconds: float) -> list:
    """Batch passes, at least two, while the next one is expected to end
    within ``seconds``."""
    passes = []
    start = time.perf_counter()
    while len(passes) < 2 or (
        time.perf_counter() - start + passes[-1].wall_s <= seconds
    ):
        passes.append(wl.run_pass())
    return passes


def measure(setup: Setup, seconds: float) -> dict:
    """Timed passes for ``seconds``; the end-to-end metrics. A batch
    workload's throughput is its rows over the passes' summed wall time,
    and its batch time the median pass. The stream runs one query for
    ``seconds``; its batch time is the median steady trigger. Memory is
    the peak resident size of the Python workers, where the engine's
    operators run; the JVM's heap is left out, as it grows with GC timing
    and not with the engine's own data."""
    from perfbench.spark_env import RssSampler, jvm_pid

    wl = setup.workload
    sampler = RssSampler(jvm_pid()).start()
    before = setup.double.stats()
    try:
        if wl.name == "stream_enrich_sink":
            passes = [wl.run_pass(seconds=seconds)]
        else:
            passes = _timed_passes(wl, seconds)
    finally:
        after = setup.double.stats()
        sampler.stop()
    rows = sum(p.rows for p in passes)
    requests = after["requests"] - before["requests"]
    metrics = {
        "requests_per_krow": _metric(requests / (rows / 1000.0), "req/krow"),
        "peak_worker_rss_mb": _metric(sampler.peak_mb(), "MB"),
    }
    if wl.name == "stream_enrich_sink":
        counts = passes[0].counts
        metrics.update({
            "rows_per_s": _metric(counts["steady_rows"] / counts["steady_span_s"], "1/s"),
            "batch_p50_ms": _metric(statistics.median(
                p["durationMs"]["triggerExecution"] for p in counts["progress"]), "ms"),
        })
    else:
        metrics.update({
            "rows_per_s": _metric(rows / sum(p.wall_s for p in passes), "1/s"),
            "batch_p50_ms": _metric(
                statistics.median(p.wall_s for p in passes) * 1000.0, "ms"),
        })
    return {
        "correct": all(p.correct for p in passes),
        "attempted": sum(p.attempted for p in passes),
        "failed": sum(p.failed for p in passes),
        "metrics": metrics,
    }


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import flink_connector_http_spark  # noqa: F401 — the engine under test
        from perfbench import spark_env, workloads
    except ImportError as err:
        print(f"perfbench: cannot import the engine: {err}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    os.makedirs(os.path.join(ROOT, spark_env.WORK_DIR), exist_ok=True)
    spark_env.launch_jvm(ROOT)
    spark = spark_env.build_session(ROOT)
    try:
        setup = Setup(spark, args.workload, args.seed)
        setup_s = _since_process_start()
        try:
            if args.trace:
                from perfbench import replay

                result = replay.traced_run(setup, args.seconds, setup_s)
            else:
                result = measure(setup, args.seconds)
                result["metrics"]["setup_s"] = _metric(setup_s, "s")
        finally:
            setup.close()
    finally:
        spark.stop()
        spark_env.shutdown_jvm()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
