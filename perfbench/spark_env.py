"""Spark session for the benchmark, and a resident-memory sampler."""

from __future__ import annotations

import os
import sys
import threading
from typing import List

#: scratch space inside the checkout (checkpoints, Spark local dirs)
WORK_DIR = ".perfbench"

SPARK_CONF = {
    "spark.master": "local[2]",
    "spark.app.name": "perfbench",
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # keep pandas inputs as an RDD of Arrow slices, one partition each
    "spark.sql.execution.arrow.localRelationThreshold": "0",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.sql.streaming.numRecentProgressUpdates": "1000",
}


def launch_jvm(root: str) -> None:
    """Start the JVM gateway once; every set-up then builds its own
    SparkContext inside it. Python workers import the engine and the
    benchmark from ``root``."""
    from pyspark import SparkContext

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # temp files of Python and of every JVM (the launcher too) stay inside
    # the checkout
    tmp = os.path.join(root, WORK_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # Spark's JVM: diagnostics to stderr, not into the result on stdout
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(filter(None, (
        os.environ.get("SPARK_SUBMIT_OPTS"),
        "-Xlog:disable -Xlog:all=warning:stderr",
    )))
    SparkContext._ensure_initialized(conf=_conf(root))


def _conf(root: str):
    from pyspark import SparkConf

    work = os.path.join(root, WORK_DIR)
    conf = SparkConf(loadDefaults=False)
    for key, value in SPARK_CONF.items():
        conf.set(key, value)
    conf.set("spark.local.dir", os.path.join(work, "local"))
    conf.set("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
    return conf


def build_session(root: str):
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    sc = SparkContext.getOrCreate(_conf(root))
    sc.setLogLevel("ERROR")
    return SparkSession(sc)


def shutdown_jvm() -> None:
    """Stop the JVM gateway process and wait for it to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 — never leave the JVM behind
        proc.kill()
        proc.wait()


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _children() -> dict:
    """ppid -> [pid] over every process visible in /proc."""
    out: dict = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out.setdefault(int(fields[1]), []).append(int(entry))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def workers_rss_mb(pid: int) -> float:
    """Resident memory of the descendants of ``pid``, without ``pid``
    itself: for the JVM, the Python worker daemon and its forked workers,
    where the engine's operators run."""
    children = _children()
    total, todo = 0, list(children.get(pid, ()))
    while todo:
        p = todo.pop()
        total += _rss_kb(p)
        todo.extend(children.get(p, ()))
    return total / 1024.0


class RssSampler:
    """Samples :func:`workers_rss_mb` every ``interval`` seconds on a
    thread, between ``start`` and ``stop``."""

    def __init__(self, pid: int, interval: float = 0.2) -> None:
        self._pid = pid
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.samples: List[float] = []

    def _run(self) -> None:
        while True:
            self.samples.append(workers_rss_mb(self._pid))
            if self._stop.wait(self._interval):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def peak_mb(self) -> float:
        return max(self.samples, default=0.0)
