"""Multi-batch semantics of the streaming CUSUM alarm: the two-bigint
state (prefix sum, running min) carries across micro-batches, resets
drain the statistic, and alarms fire exactly when the Page statistic
max(0, S + x - k) exceeds h over the concatenated history."""

import pyspark.sql.types as T

from flink_connector_http_spark.streaming.stateful import cusum_stream

SCHEMA = T.StructType([
    T.StructField("key", T.StringType()),
    T.StructField("event_id", T.LongType()),
    T.StructField("cents", T.LongType()),
])

K, H = 100, 250  # small test constants


def page_cusum(xs, k=K):
    s, out = 0, []
    for x in xs:
        s = max(0, s + x - k)
        out.append(s)
    return out


def _start(spark, in_dir, ckpt, name):
    return (
        cusum_stream(
            spark.readStream.schema(SCHEMA).parquet(str(in_dir)),
            ["key"], "cents", ["event_id"],
            k_cents=K, h_cents=H,
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .start()
    )


def test_cusum_state_carries_and_resets_across_batches(spark, tmp_path):
    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def drop(rows):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(in_dir))

    # batch 1: S walks 200, 400 -> one alarm at event 2 (400 > 250)
    drop([("a", 1, 300), ("a", 2, 300)])
    query = _start(spark, in_dir, tmp_path / "ckpt", "cusum_t")
    try:
        query.processAllAvailable()
        got = sorted(
            (r.key, r.event_id, r.s_scaled)
            for r in spark.table("cusum_t").collect()
        )
        assert got == [("a", 2, 400)]
        assert page_cusum([300, 300]) == [200, 400]

        # batch 2: a zero drains S to 300 (still alarming), then a quiet
        # run resets below threshold, then a burst re-alarms — state
        # carried the batch-1 statistic exactly
        drop([("a", 3, 0), ("a", 4, 0), ("a", 5, 0), ("a", 6, 460)])
        query.processAllAvailable()
        expect_s = page_cusum([300, 300, 0, 0, 0, 460])
        assert expect_s == [200, 400, 300, 200, 100, 460]
        got2 = sorted(
            (r.key, r.event_id, r.s_scaled)
            for r in spark.table("cusum_t").collect()
        )
        assert got2 == [("a", 2, 400), ("a", 3, 300), ("a", 6, 460)]
    finally:
        query.stop()


def test_cusum_keys_are_independent(spark, tmp_path):
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    rows = [("a", 1, 300), ("a", 2, 300), ("b", 1, 50), ("b", 2, 50)]
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(in_dir))
    query = _start(spark, in_dir, tmp_path / "ckpt", "cusum_k")
    try:
        query.processAllAvailable()
        got = {(r.key, r.event_id) for r in spark.table("cusum_k").collect()}
        assert got == {("a", 2)}  # b never accumulates (50 < k)
    finally:
        query.stop()


# ---------------------------------------------------------------------------
# custom stateful sessionization: successor close + watermark timeout close
# ---------------------------------------------------------------------------

import datetime as dt

from flink_connector_http_spark.streaming.stateful import (
    SESSION_GAP_US,
    sessionize_stream,
)

SESS_SCHEMA = T.StructType([
    T.StructField("user", T.StringType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("seq", T.LongType()),
])

T0 = dt.datetime(2026, 1, 1, 0, 0, 0)


def _mins(m):
    return T0 + dt.timedelta(minutes=m)


def test_stateful_sessions_close_by_successor_and_timeout(spark, tmp_path):
    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def drop(rows):
        spark.createDataFrame(rows, SESS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(in_dir))

    stream = (
        spark.readStream.schema(SESS_SCHEMA)
        .parquet(str(in_dir))
        .withWatermark("ts", "1 hour")
    )
    query = (
        sessionize_stream(stream, "user", "ts", ["ts", "seq"])
        .writeStream.format("memory")
        .queryName("sess_st")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        # batch 1: one open session (0min, 10min) — nothing emitted
        drop([("a", _mins(0), 1), ("a", _mins(10), 2)])
        query.processAllAvailable()
        assert spark.table("sess_st").count() == 0

        # batch 2: event 3h later closes it by SUCCESSOR immediately
        drop([("a", _mins(180), 3)])
        query.processAllAvailable()
        rows = spark.table("sess_st").collect()
        assert [(r.user, r.session_start_us, r.session_end_us, r.n_events)
                for r in rows] == [
            ("a", 1767225600000000, 1767229800000000, 2)  # start, 10min+1h
        ]

        # batch 3: far-future OTHER user advances the watermark past the
        # open session's prospective end -> EventTimeTimeout closes it
        drop([("b", _mins(600), 4)])
        query.processAllAvailable()
        drop([("b", _mins(601), 5)])  # one more batch so the timeout fires
        query.processAllAvailable()
        got = {
            (r.user, r.n_events, r.session_end_us)
            for r in spark.table("sess_st").collect()
        }
        # the timed-out session: the lone 3h event, end = 3h + 1h gap
        assert ("a", 1, 1767236400000000 + SESSION_GAP_US) in got
    finally:
        query.stop()


# ---------------------------------------------------------------------------
# property: the two-bigint carry equals Page's recursive statistic
# ---------------------------------------------------------------------------

from hypothesis import given
from hypothesis import strategies as st


@given(
    xs=st.lists(st.integers(min_value=0, max_value=10_000), max_size=60),
    k=st.integers(min_value=0, max_value=10_000),
)
def test_prefix_minus_running_min_identity(xs, k):
    """S_t = max(0, S_{t-1} + x - k)  ==  pfx_t - min(0, min_{j<=t} pfx_j),
    the identity that lets the stream carry TWO bigints instead of
    replaying history."""
    s = 0
    pfx, mn = 0, 0
    for x in xs:
        s = max(0, s + x - k)
        pfx += x - k
        mn = min(mn, pfx)
        assert s == pfx - min(mn, 0)
