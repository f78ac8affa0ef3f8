import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parents[1]
if str(REPO_ROOT) not in sys.path:
    sys.path.insert(0, str(REPO_ROOT))

from tests.stub_server import StubHttpServer  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    session = (
        SparkSession.builder
        .master("local[4]")
        .appName("flink_connector_http_spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # ~1200 tests share this one JVM; the 1g default heap fills with
        # broadcast blocks / persisted graph intermediates late in the
        # run (OutOfMemoryError at ~80% in round 8's full pass)
        .config("spark.driver.memory", "6g")
        .getOrCreate()
    )
    session.sparkContext.setLogLevel("WARN")
    yield session
    session.stop()


@pytest.fixture(autouse=True, scope="module")
def _clear_spark_cache():
    """Drop cached/persisted DataFrames between test modules — the graph
    operators persist() intermediates that otherwise accumulate across
    the whole session-scoped JVM."""
    yield
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    if session is not None:
        session.catalog.clearCache()


@pytest.fixture()
def stub_server():
    server = StubHttpServer().start()
    yield server
    server.stop()


@pytest.fixture()
def sink_waits(monkeypatch):
    """The waits the sink writer's retry steps yield, in order. The loop
    gets 0.0 in place of each, so a test does not sleep through them."""
    import flink_connector_http_spark.sink as sink_mod

    waits = []
    real = sink_mod.http_retry_steps

    def recorded(*args, **kwargs):
        steps = real(*args, **kwargs)
        value = err = None
        while True:
            try:
                step = steps.send(value) if err is None else steps.throw(err)
            except StopIteration as stop:
                return stop.value
            value = err = None
            if type(step) is float:
                waits.append(step)
                step = 0.0
            try:
                value = yield step
            except Exception as exc:  # noqa: BLE001 — the steps classify it
                err = exc

    monkeypatch.setattr(sink_mod, "http_retry_steps", recorded)
    return waits
