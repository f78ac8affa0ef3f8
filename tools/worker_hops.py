#!/usr/bin/env python3
"""Time each hop of trivial Spark Python jobs, from driver submit to task end.

    python3 tools/worker_hops.py [--jobs 15] [--partitions 2] [--engine 1]

Runs ``--jobs`` trivial ``mapInArrow`` collects of ``--partitions`` rows, one
after the other, and prints the median of each hop over every task but the
first job's (which forks the workers):

- ``first_byte``: the worker sees the task's first byte;
- ``setup_spark_files`` and, inside it, ``invalidate_caches``;
- ``read_command``: the command (the pickled function) is read;
- ``function_entry``: the job's function starts;
- ``task_end``: ``pyspark.worker.main`` returns;
- ``job``: ``collect()`` returns on the driver;

and, for reference, a JVM-only collect of the same shape. Offsets are in ms
since the driver called ``collect()``; the durations are in ms.

With ``--engine 1`` the job's function imports ``flink_connector_http_spark``,
as every engine operator does, so the package's worker start-up hook
(``_worker.install``) runs in each worker; ``--engine 0`` leaves it out.

Each Python worker runs this file's :func:`main` around
``pyspark.worker.main``: the file is linked into a temporary directory as
``pyspark_worker_hops.py`` (the daemon only takes worker modules whose name
starts with ``pyspark``), that directory goes on ``PYTHONPATH``, and
``spark.python.worker.module`` names it. Every task appends one JSON line of
``time.time()`` stamps to a file in ``WORKER_HOPS_DIR``; driver and workers
share the host clock.
"""

import argparse
import glob
import importlib
import json
import os
import statistics
import tempfile
import time

_task = {}


def _timed(name, fn):
    def wrapper(*args, **kwargs):
        t0 = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            _task[name] = _task.get(name, 0.0) + time.time() - t0
    return wrapper


def main(infile, outfile):
    """Worker entry: ``pyspark.worker.main`` with a timestamp on each hop."""
    import pyspark.worker as worker

    if not hasattr(worker.setup_spark_files, "__wrapped_hop__"):
        worker.setup_spark_files = _timed("setup_spark_files", worker.setup_spark_files)
        worker.read_command = _timed("read_command", worker.read_command)
        importlib.invalidate_caches = _timed("invalidate_caches", importlib.invalidate_caches)
        worker.setup_spark_files.__wrapped_hop__ = True
    infile.peek(1)  # blocks until the JVM sends the task
    _task.clear()
    _task["first_byte"] = time.time()
    try:
        return worker.main(infile, outfile)
    finally:
        _task["task_end"] = time.time()
        path = os.path.join(os.environ["WORKER_HOPS_DIR"], f"{os.getpid()}.jsonl")
        with open(path, "a") as f:
            f.write(json.dumps(_task) + "\n")


def _job_fn(engine):
    def fn(batches):
        import time as _time

        import pyarrow as pa

        entry = _time.time()
        if engine:
            import flink_connector_http_spark  # noqa: F401
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"entry": [entry]})
    return fn


def _measure(args, hops_dir):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.symlink(os.path.abspath(__file__), os.path.join(hops_dir, "pyspark_worker_hops.py"))
    os.environ["WORKER_HOPS_DIR"] = hops_dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (hops_dir, repo, os.environ.get("PYTHONPATH")) if p)

    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[4]")
             .appName("worker_hops")
             .config("spark.ui.enabled", "false")
             .config("spark.python.worker.module", "pyspark_worker_hops")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    try:
        df = spark.range(0, args.partitions, numPartitions=args.partitions)
        mapped = df.mapInArrow(_job_fn(args.engine), "entry double")
        jobs, jvm = [], []
        for _ in range(args.jobs):
            t0 = time.time()
            rows = mapped.collect()
            jobs.append((t0, time.time(), [r.entry for r in rows]))
            t0 = time.time()
            df.collect()
            jvm.append(time.time() - t0)
    finally:
        spark.stop()
    tasks = []
    for path in glob.glob(os.path.join(hops_dir, "*.jsonl")):
        with open(path) as f:
            tasks.extend(json.loads(line) for line in f)
    return jobs, jvm, tasks


def _run(args):
    with tempfile.TemporaryDirectory(prefix="worker_hops_") as hops_dir:
        jobs, jvm, tasks = _measure(args, hops_dir)
    hops = {k: [] for k in ("first_byte", "setup_spark_files", "invalidate_caches",
                            "read_command", "function_entry", "task_end", "job")}
    for t0, t1, entries in jobs[1:]:
        hops["job"].append(t1 - t0)
        hops["function_entry"].extend(e - t0 for e in entries)
        for task in tasks:
            if t0 <= task["first_byte"] <= t1:
                hops["first_byte"].append(task["first_byte"] - t0)
                hops["task_end"].append(task["task_end"] - t0)
                for k in ("setup_spark_files", "invalidate_caches", "read_command"):
                    hops[k].append(task.get(k, 0.0))
    print(f"{args.jobs - 1} jobs x {args.partitions} tasks, engine={args.engine}, "
          "local[4]; median ms")
    for name, values in hops.items():
        kind = "duration" if name in ("setup_spark_files", "invalidate_caches",
                                      "read_command") else "since submit"
        print(f"  {name:<20} {1000 * statistics.median(values):8.1f}  {kind}")
    print(f"  {'jvm_only_collect':<20} {1000 * statistics.median(jvm[1:]):8.1f}  duration")


if __name__ == "__main__":
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--jobs", type=int, default=15)
    parser.add_argument("--partitions", type=int, default=2)
    parser.add_argument("--engine", type=int, choices=(0, 1), default=1)
    _run(parser.parse_args())
