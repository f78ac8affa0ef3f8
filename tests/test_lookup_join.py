"""End-to-end lookup-join tests against the stub HTTP server.

Mirrors the reference's gold-standard integration tier
(``HttpLookupTableSourceITCaseTest.java``): GET/POST lookups, multi-key
joins, empty responses, array results, retries with scenario state,
ignored status codes, metadata columns + continue-on-error, caching.
"""

import json

import pytest

from pyspark.sql import Row
from pyspark.sql import types as T

from flink_connector_http_spark import (
    HttpLookupOptions,
    HttpLookupTable,
    LookupCacheConfig,
    RetryConfig,
    http_lookup_join,
)
from tests.stub_server import StubResponse, json_response

CUSTOMER_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("name", T.StringType()),
    T.StructField("balance", T.DoubleType()),
])

CUSTOMERS = {
    1: {"id": 1, "name": "alice", "balance": 10.5},
    2: {"id": 2, "name": "bob", "balance": -3.25},
    3: {"id": 3, "name": "carol", "balance": 0.0},
}


def customers_responder(request):
    key = int(request.query["id"][0])
    row = CUSTOMERS.get(key)
    if row is None:
        return json_response({}, status=404)
    return json_response(row)


def orders_df(spark, ids=(1, 2, 3, 2)):
    return spark.createDataFrame(
        [Row(order_id=i + 100, cust_id=cid) for i, cid in enumerate(ids)]
    )


def test_get_lookup_join_enriches_rows(spark, stub_server):
    stub_server.stub("/customers", customers_responder)
    table = HttpLookupTable(
        url=stub_server.url("/customers"),
        schema=CUSTOMER_SCHEMA,
        options=HttpLookupOptions(method="GET"),
    )
    out = http_lookup_join(orders_df(spark), table, on={"cust_id": "id"})
    rows = {r.order_id: r for r in out.collect()}
    assert len(rows) == 4
    assert rows[100].name == "alice" and rows[100].balance == 10.5
    assert rows[101].name == "bob"
    assert rows[103].id == 2  # lookup key column present and filled


def test_distinct_key_dedup_one_call_per_key(spark, stub_server):
    stub_server.stub("/customers", customers_responder)
    table = HttpLookupTable(
        url=stub_server.url("/customers"), schema=CUSTOMER_SCHEMA,
    )
    df = orders_df(spark, ids=(1, 1, 1, 2, 2, 1)).coalesce(1)
    out = http_lookup_join(df, table, on={"cust_id": "id"})
    assert out.count() == 6
    # one HTTP call per distinct key per partition — not per probe row
    assert len(stub_server.recorded("/customers")) == 2


def test_inner_join_empty_response_emits_nothing(spark, stub_server):
    stub_server.stub("/customers", customers_responder)
    table = HttpLookupTable(
        url=stub_server.url("/customers"), schema=CUSTOMER_SCHEMA,
        options=HttpLookupOptions(continue_on_error=True),
    )
    # id=99 -> 404 -> no rows; inner join w/o metadata drops the probe row
    out = http_lookup_join(orders_df(spark, ids=(1, 99)), table, on={"cust_id": "id"})
    rows = out.collect()
    assert {r.cust_id for r in rows} == {1}


def test_left_join_keeps_probe_row_with_nulls(spark, stub_server):
    stub_server.stub("/customers", customers_responder)
    table = HttpLookupTable(
        url=stub_server.url("/customers"), schema=CUSTOMER_SCHEMA,
        options=HttpLookupOptions(continue_on_error=True),
    )
    out = http_lookup_join(
        orders_df(spark, ids=(1, 99)), table, on={"cust_id": "id"}, how="left")
    rows = {r.cust_id: r for r in out.collect()}
    assert rows[99].name is None and rows[1].name == "alice"


def test_metadata_columns_and_continue_on_error(spark, stub_server):
    stub_server.stub("/customers", customers_responder)
    table = HttpLookupTable(
        url=stub_server.url("/customers"), schema=CUSTOMER_SCHEMA,
        options=HttpLookupOptions(continue_on_error=True, retry=RetryConfig(max_retries=0)),
    )
    out = http_lookup_join(
        orders_df(spark, ids=(1, 99)), table, on={"cust_id": "id"},
        metadata_columns=["error-string", "http-status-code", "http-completion-state"],
    )
    rows = {r.cust_id: r.asDict() for r in out.collect()}
    # inner join + metadata cols requested => failed row IS emitted with nulls
    assert len(rows) == 2
    ok, bad = rows[1], rows[99]
    assert ok["http-completion-state"] == "SUCCESS"
    assert ok["http-status-code"] == 200 and ok["error-string"] is None
    assert bad["http-completion-state"] == "HTTP_ERROR_STATUS"
    assert bad["http-status-code"] == 404 and bad["name"] is None
    assert "404" in bad["error-string"]


def test_failure_without_continue_on_error_raises(spark, stub_server):
    stub_server.stub_json("/customers", {"msg": "boom"}, status=400)
    table = HttpLookupTable(
        url=stub_server.url("/customers"), schema=CUSTOMER_SCHEMA,
        options=HttpLookupOptions(retry=RetryConfig(max_retries=0)),
    )
    out = http_lookup_join(orders_df(spark, ids=(1,)), table, on={"cust_id": "id"})
    with pytest.raises(Exception, match="HTTP_ERROR_STATUS|lookup failed"):
        out.collect()


def test_retry_scenario_then_success(spark, stub_server):
    stub_server.stub_sequence("/customers", [
        StubResponse(status=503, body=b""),
        StubResponse(status=503, body=b""),
        json_response(CUSTOMERS[1]),
    ])
    table = HttpLookupTable(
        url=stub_server.url("/customers"), schema=CUSTOMER_SCHEMA,
        options=HttpLookupOptions(
            retry=RetryConfig(max_retries=3, fixed_delay=0.01)),
    )
    out = http_lookup_join(orders_df(spark, ids=(1,)).coalesce(1), table,
                           on={"cust_id": "id"})
    rows = out.collect()
    assert rows[0].name == "alice"
    assert len(stub_server.recorded("/customers")) == 3


def test_ignored_status_codes_drop_content(spark, stub_server):
    stub_server.stub_json("/customers", {"id": 1, "name": "x"}, status=201)
    table = HttpLookupTable(
        url=stub_server.url("/customers"), schema=CUSTOMER_SCHEMA,
        options=HttpLookupOptions(ignored_codes="201", continue_on_error=True),
    )
    out = http_lookup_join(
        orders_df(spark, ids=(1,)), table, on={"cust_id": "id"},
        metadata_columns=["http-completion-state", "http-status-code"],
    )
    row = out.collect()[0].asDict()
    assert row["http-completion-state"] == "IGNORE_STATUS_CODE"
    assert row["http-status-code"] == 201
    assert row["name"] is None  # content dropped despite the 2XX-family code


def test_post_lookup_sends_json_body(spark, stub_server):
    def post_responder(request):
        body = request.json()
        return json_response(CUSTOMERS.get(body["id"], {}))

    stub_server.stub("/lookup", post_responder)
    table = HttpLookupTable(
        url=stub_server.url("/lookup"), schema=CUSTOMER_SCHEMA,
        options=HttpLookupOptions(method="POST"),
    )
    out = http_lookup_join(orders_df(spark, ids=(2,)), table, on={"cust_id": "id"})
    assert out.collect()[0].name == "bob"
    recorded = stub_server.recorded("/lookup")[0]
    assert recorded.method == "POST"
    assert json.loads(recorded.body) == {"id": 2}
    assert recorded.headers["Content-Type"] == "application/json"


def test_array_result_multiplies_probe_rows(spark, stub_server):
    stub_server.stub_json("/multi", [
        {"id": 1, "name": "alice", "balance": 1.0},
        {"id": 1, "name": "alice2", "balance": 2.0},
    ])
    table = HttpLookupTable(
        url=stub_server.url("/multi"), schema=CUSTOMER_SCHEMA,
        options=HttpLookupOptions(result_type="array"),
    )
    out = http_lookup_join(orders_df(spark, ids=(1,)), table, on={"cust_id": "id"})
    names = sorted(r.name for r in out.collect())
    assert names == ["alice", "alice2"]


def test_probe_columns_round_trip_unchanged_in_non_utc_session(spark, stub_server):
    # probe columns leave the operator with the pandas dtype they arrived
    # with; every type must come back from Spark exactly as it went in
    import datetime as dt
    from decimal import Decimal

    stub_server.stub("/customers", customers_responder)
    table = HttpLookupTable(
        url=stub_server.url("/customers"), schema=CUSTOMER_SCHEMA)
    probe_schema = T.StructType([
        T.StructField("order_id", T.LongType(), False),
        T.StructField("cust_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("amount", T.DecimalType(12, 3)),
        T.StructField("addr", T.StructType([
            T.StructField("city", T.StringType()),
            T.StructField("zip", T.IntegerType()),
        ])),
        T.StructField("tags", T.ArrayType(T.StringType())),
        T.StructField("qty", T.LongType()),
    ])
    data = [
        (100, 1, dt.datetime(2024, 3, 10, 1, 30), Decimal("12.345"),
         ("Oslo", 150), ["a", "b"], 2**40 + 1),
        (101, 2, dt.datetime(2024, 3, 10, 3, 30), Decimal("-0.001"),
         None, [], None),
        (102, 3, None, None, ("Lima", None), None, 7),
        (103, 2, dt.datetime(2024, 11, 3, 1, 15), Decimal("999999999.999"),
         ("Pune", 411001), [None, "c"], None),
        (104, 1, dt.datetime(1969, 12, 31, 23, 59, 59, 999999), Decimal("0"),
         ("Oslo", 150), ["d"], -(2**40)),
    ]
    saved_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        probe = spark.createDataFrame(data, probe_schema).coalesce(1)
        out = http_lookup_join(
            probe, table, on={"cust_id": "id"}, select=["name"])
        probe_cols = [f.name for f in probe_schema.fields]
        assert out.schema.fields[:len(probe_cols)] == probe_schema.fields
        got = {r.order_id: r for r in out.select(*probe_cols).collect()}
        want = {r.order_id: r for r in probe.collect()}
        names = {r.order_id: r.name for r in out.collect()}
    finally:
        spark.conf.set("spark.sql.session.timeZone", saved_tz)
    assert got == want
    assert names == {100: "alice", 101: "bob", 102: "carol",
                     103: "bob", 104: "alice"}


def test_undecodable_body_metadata_state(spark, stub_server):
    stub_server.stub("/bad", lambda _r: StubResponse(status=200, body=b"not json"))
    table = HttpLookupTable(
        url=stub_server.url("/bad"), schema=CUSTOMER_SCHEMA,
        options=HttpLookupOptions(continue_on_error=True),
    )
    out = http_lookup_join(
        orders_df(spark, ids=(1,)), table, on={"cust_id": "id"},
        metadata_columns=["http-completion-state"],
    )
    assert (out.collect()[0]["http-completion-state"]
            == "UNABLE_TO_DESERIALIZE_RESPONSE")


def test_multi_key_join(spark, stub_server):
    def responder(request):
        id1 = int(request.query["id"][0])
        id2 = request.query["id2"][0]
        return json_response({"id": id1, "id2": id2, "name": f"c{id1}-{id2}"})

    stub_server.stub("/multi-key", responder)
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("id2", T.StringType()),
        T.StructField("name", T.StringType()),
    ])
    table = HttpLookupTable(url=stub_server.url("/multi-key"), schema=schema)
    probe = spark.createDataFrame([Row(cust_id=5, segment="gold")])
    out = http_lookup_join(probe, table, on={"cust_id": "id", "segment": "id2"})
    row = out.collect()[0]
    assert row.name == "c5-gold" and row.id2 == "gold"


def test_projection_pushdown_prunes_decode(spark, stub_server):
    stub_server.stub("/customers", customers_responder)
    table = HttpLookupTable(
        url=stub_server.url("/customers"), schema=CUSTOMER_SCHEMA)
    out = http_lookup_join(
        orders_df(spark, ids=(1,)), table, on={"cust_id": "id"}, select=["name"])
    assert set(out.columns) == {"order_id", "cust_id", "name"}
    assert out.collect()[0].name == "alice"


def test_nested_struct_lookup_schema(spark, stub_server):
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("details", T.StructType([
            T.StructField("isActive", T.BooleanType()),
            T.StructField("nestedDetails", T.StructType([
                T.StructField("balance", T.StringType()),
            ])),
        ])),
    ])
    stub_server.stub_json("/nested", {
        "id": 1,
        "details": {"isActive": True, "nestedDetails": {"balance": "9.99"}},
    })
    table = HttpLookupTable(url=stub_server.url("/nested"), schema=schema)
    out = http_lookup_join(orders_df(spark, ids=(1,)), table, on={"cust_id": "id"})
    row = out.collect()[0]
    assert row.details.isActive is True
    assert row.details.nestedDetails.balance == "9.99"


def test_nested_projection_pushdown(spark, stub_server):
    """P1: dotted select paths prune INSIDE struct columns — the decoded
    and emitted struct carries only the requested nested fields (reference
    ``supportsNestedProjection -> true``, HttpLookupTableSource.java:202-204)."""
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("details", T.StructType([
            T.StructField("isActive", T.BooleanType()),
            T.StructField("secret", T.StringType()),
            T.StructField("nestedDetails", T.StructType([
                T.StructField("balance", T.StringType()),
                T.StructField("currency", T.StringType()),
            ])),
        ])),
    ])
    stub_server.stub_json("/nested-prune", {
        "id": 1,
        "details": {
            "isActive": True,
            "secret": "do-not-decode",
            "nestedDetails": {"balance": "9.99", "currency": "EUR"},
        },
    })
    table = HttpLookupTable(url=stub_server.url("/nested-prune"), schema=schema)
    out = http_lookup_join(
        orders_df(spark, ids=(1,)), table, on={"cust_id": "id"},
        select=["details.isActive", "details.nestedDetails.balance"],
    )
    details_type = out.schema["details"].dataType
    assert details_type.fieldNames() == ["isActive", "nestedDetails"]
    assert details_type["nestedDetails"].dataType.fieldNames() == ["balance"]
    row = out.collect()[0]
    assert row.details.isActive is True
    assert row.details.nestedDetails.balance == "9.99"
    assert not hasattr(row.details, "secret")

    with pytest.raises(ValueError, match="unknown lookup column"):
        http_lookup_join(
            orders_df(spark, ids=(1,)), table, on={"cust_id": "id"},
            select=["details.nope"],
        )


def test_cache_avoids_repeat_calls(spark, stub_server):
    stub_server.stub("/customers", customers_responder)
    table = HttpLookupTable(
        url=stub_server.url("/customers"), schema=CUSTOMER_SCHEMA,
        options=HttpLookupOptions(cache=LookupCacheConfig(max_rows=100)),
    )
    # Force one probe row per Arrow batch: the per-batch key dedup can't help
    # across batches, so the second batch's repeat key must hit the cache.
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1")
    try:
        df = orders_df(spark, ids=(1, 1, 1, 1)).coalesce(1)
        out = http_lookup_join(df, table, on={"cust_id": "id"})
        assert out.count() == 4
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert len(stub_server.recorded("/customers")) == 1


def test_static_headers_and_basic_auth(spark, stub_server):
    stub_server.stub("/customers", customers_responder)
    table = HttpLookupTable(
        url=stub_server.url("/customers"), schema=CUSTOMER_SCHEMA,
        options=HttpLookupOptions(headers={
            "Authorization": "user:password",
            "X-Custom": "v1",
        }),
    )
    http_lookup_join(orders_df(spark, ids=(1,)), table, on={"cust_id": "id"}).collect()
    recorded = stub_server.recorded("/customers")[0]
    assert recorded.headers["Authorization"] == "Basic dXNlcjpwYXNzd29yZA=="
    assert recorded.headers["X-Custom"] == "v1"


def test_url_template_query_creator_end_to_end(spark, stub_server):
    def rest_responder(request):
        cid = int(request.path.rsplit("/", 1)[-1])
        return json_response(CUSTOMERS.get(cid, {}))

    stub_server.stub("/api/customers/", rest_responder)
    table = HttpLookupTable(
        url=stub_server.url("/api/customers/{{cid}}"),
        schema=CUSTOMER_SCHEMA,
        options=HttpLookupOptions(
            query_creator="http-generic-json-url",
            url_map={"cid": "id"},
        ),
    )
    out = http_lookup_join(orders_df(spark, ids=(3,)), table, on={"cust_id": "id"})
    assert out.collect()[0].name == "carol"
    assert stub_server.recorded("/api/customers/3")


# ---------------------------------------------------------------------------
# multi-key batch lookup (beyond-reference scale path)
# ---------------------------------------------------------------------------

def batch_customers_responder(request):
    keys = request.json()
    rows = [CUSTOMERS[k["id"]] for k in keys if k["id"] in CUSTOMERS]
    return json_response(rows)


def test_batch_lookup_matches_per_key_results(spark, stub_server):
    stub_server.stub("/customers-batch", batch_customers_responder)
    table = HttpLookupTable(
        url=stub_server.url("/customers-batch"),
        schema=CUSTOMER_SCHEMA,
        options=HttpLookupOptions(lookup_batch_size=10),
    )
    out = http_lookup_join(orders_df(spark), table, on={"cust_id": "id"})
    rows = {r.order_id: r for r in out.collect()}
    assert len(rows) == 4
    assert rows[100].name == "alice" and rows[100].balance == 10.5
    assert rows[101].name == "bob"
    assert rows[103].id == 2


def test_batch_lookup_chunks_requests(spark, stub_server):
    stub_server.stub("/customers-batch", batch_customers_responder)
    table = HttpLookupTable(
        url=stub_server.url("/customers-batch"),
        schema=CUSTOMER_SCHEMA,
        options=HttpLookupOptions(lookup_batch_size=2),
    )
    df = orders_df(spark, ids=(1, 1, 2, 2, 3, 3, 1)).coalesce(1)
    out = http_lookup_join(df, table, on={"cust_id": "id"})
    assert out.count() == 7
    recorded = stub_server.recorded("/customers-batch")
    # 3 distinct keys / batch size 2 -> 2 POSTs, keys in the body
    assert len(recorded) == 2
    assert recorded[0].method == "POST"
    sent = [k["id"] for req in recorded for k in req.json()]
    assert sorted(sent) == [1, 2, 3]


def test_batch_lookup_missing_keys_follow_join_semantics(spark, stub_server):
    stub_server.stub("/customers-batch", batch_customers_responder)
    table = HttpLookupTable(
        url=stub_server.url("/customers-batch"),
        schema=CUSTOMER_SCHEMA,
        options=HttpLookupOptions(lookup_batch_size=10),
    )
    df = orders_df(spark, ids=(1, 99))  # 99 unknown to the endpoint
    inner = http_lookup_join(df, table, on={"cust_id": "id"})
    assert {r.order_id for r in inner.collect()} == {100}
    left = http_lookup_join(df, table, on={"cust_id": "id"}, how="left")
    rows = {r.order_id: r for r in left.collect()}
    # null-enrichment row, all lookup columns null (same as the per-key
    # path: key backfill applies to RETURNED rows with null key fields,
    # not to no-result rows — reference table/http.md:712-714)
    assert rows[101].name is None and rows[101].id is None
    assert rows[100].name == "alice"


def test_batch_lookup_failure_hits_every_key_in_chunk(spark, stub_server):
    stub_server.stub_json("/customers-batch", {"err": "boom"}, status=400)
    table = HttpLookupTable(
        url=stub_server.url("/customers-batch"),
        schema=CUSTOMER_SCHEMA,
        options=HttpLookupOptions(
            lookup_batch_size=10,
            continue_on_error=True,
            retry=RetryConfig(max_retries=0),
        ),
    )
    out = http_lookup_join(
        orders_df(spark, ids=(1, 2)), table, on={"cust_id": "id"},
        metadata_columns=["http-status-code", "http-completion-state"],
    )
    rows = out.collect()
    assert len(rows) == 2
    assert all(r["http-status-code"] == 400 for r in rows)
    assert all(r["http-completion-state"] == "HTTP_ERROR_STATUS" for r in rows)


def test_batch_lookup_calls_metric_counts_requests_not_keys(spark, stub_server):
    stub_server.stub("/customers-batch", batch_customers_responder)
    table = HttpLookupTable(
        url=stub_server.url("/customers-batch"),
        schema=CUSTOMER_SCHEMA,
        options=HttpLookupOptions(lookup_batch_size=2),
    )
    df = orders_df(spark, ids=(1, 2, 3)).coalesce(1)
    out = http_lookup_join(df, table, on={"cust_id": "id"})
    from flink_connector_http_spark.lookup import http_lookup_join as op
    assert out.count() == 3
    # 3 distinct keys at batch size 2 -> 2 HTTP requests
    assert op.last_metrics["numLookupCalls"].value == 2
    assert op.last_metrics["numRowsEmitted"].value == 3


def test_batch_lookup_composes_with_cache(spark, stub_server):
    stub_server.stub("/customers-batch", batch_customers_responder)
    table = HttpLookupTable(
        url=stub_server.url("/customers-batch"),
        schema=CUSTOMER_SCHEMA,
        options=HttpLookupOptions(
            lookup_batch_size=10,
            cache=LookupCacheConfig(max_rows=100),
        ),
    )
    # one probe row per Arrow batch INSIDE one task (same worker process,
    # same per-executor cache): repeat keys in later batches must be
    # served from cache, so only the two distinct keys hit the wire
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1")
    try:
        df = orders_df(spark, ids=(1, 1, 2, 2)).coalesce(1)
        out = http_lookup_join(df, table, on={"cust_id": "id"})
        assert out.count() == 4
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert len(stub_server.recorded("/customers-batch")) == 2


def test_batch_lookup_coerces_string_typed_response_keys(spark, stub_server):
    """An endpoint that echoes '42' (string) for int key 42 must still
    enrich: response key fields are coerced through the DECLARED schema
    before matching (round-3 ADVICE — the per-key path coerces during
    decode; without this every batch key silently read empty)."""
    def stringy_responder(request):
        keys = request.json()
        rows = [
            {**CUSTOMERS[k["id"]], "id": str(k["id"])}
            for k in keys if k["id"] in CUSTOMERS
        ]
        return json_response(rows)

    stub_server.stub("/customers-batch-str", stringy_responder)
    table = HttpLookupTable(
        url=stub_server.url("/customers-batch-str"),
        schema=CUSTOMER_SCHEMA,
        options=HttpLookupOptions(lookup_batch_size=10),
    )
    out = http_lookup_join(orders_df(spark), table, on={"cust_id": "id"})
    rows = {r.order_id: r for r in out.collect()}
    assert len(rows) == 4
    assert rows[100].name == "alice"
    assert rows[100].id == 1  # decoded through the declared LongType
    assert rows[103].name == "bob"


def test_batch_lookup_templated_url_fails_soft_not_keyerror(spark, stub_server):
    """lookup_batch_size + a {{placeholder}} URL: the batch body carries
    the keys, so the template can't resolve — that must surface as a
    failure RESULT (continue-on-error) or a lookup RuntimeError, never a
    raw KeyError crashing the task (round-3 ADVICE)."""
    table = HttpLookupTable(
        url=stub_server.url("/api/customers/{{cid}}"),
        schema=CUSTOMER_SCHEMA,
        options=HttpLookupOptions(
            lookup_batch_size=10, continue_on_error=True,
        ),
    )
    out = http_lookup_join(
        orders_df(spark, ids=(1, 2)), table, on={"cust_id": "id"},
        metadata_columns=["http-completion-state", "error-string"],
    )
    rows = out.collect()
    assert len(rows) == 2
    assert all(r["http-completion-state"] == "EXCEPTION" for r in rows)
    assert all("incompatible" in r["error-string"] for r in rows)

    strict = HttpLookupTable(
        url=stub_server.url("/api/customers/{{cid}}"),
        schema=CUSTOMER_SCHEMA,
        options=HttpLookupOptions(lookup_batch_size=10),
    )
    with pytest.raises(Exception) as excinfo:
        http_lookup_join(
            orders_df(spark, ids=(1,)), strict, on={"cust_id": "id"}
        ).collect()
    assert "KeyError" not in str(excinfo.value.__class__)


def test_batch_lookup_async_timeout_yields_timeout_results(spark, stub_server):
    """A hung endpoint under use_async + lookup_batch_size must produce
    per-chunk timeout EXCEPTION results within the async deadline, not
    stall the task indefinitely (round-3 ADVICE)."""
    import time as _time

    def slow_responder(request):
        _time.sleep(5.0)
        return json_response([])

    stub_server.stub("/customers-batch-slow", slow_responder)
    table = HttpLookupTable(
        url=stub_server.url("/customers-batch-slow"),
        schema=CUSTOMER_SCHEMA,
        options=HttpLookupOptions(
            lookup_batch_size=1,     # 2 distinct keys -> 2 chunks
            use_async=True,
            async_timeout=0.5,
            continue_on_error=True,
        ),
    )
    start = _time.monotonic()
    out = http_lookup_join(
        orders_df(spark, ids=(1, 2)).coalesce(1), table,
        on={"cust_id": "id"},
        metadata_columns=["http-completion-state", "error-string"],
    )
    rows = out.collect()
    elapsed = _time.monotonic() - start
    assert len(rows) == 2
    assert all(r["http-completion-state"] == "EXCEPTION" for r in rows)
    assert all("timed out" in r["error-string"] for r in rows)
    assert elapsed < 4.5  # well under the 5 s hang (would be 10 s serial)


def test_batch_lookup_abandoned_chunk_fires_no_observers(
    spark, stub_server, tmp_path
):
    """Round-4 ADVICE: when an exchange misses the whole-batch async
    deadline its result is discarded — the still-running fetch thread must
    then skip the publish phase entirely, firing NO on_response callback
    for the orphaned exchange. One fast + one hung exchange => exactly one
    callback invocation, even after the hung response finally lands; on
    the multi-key chunk path and on the per-key GET path alike."""
    import time as _time

    def responder(request):
        if request.method == "POST":  # a multi-key chunk
            ids = [k["id"] for k in request.json()]
        else:
            ids = [int(request.query["id"][0])]
        if ids[0] == 2:  # the hung exchange
            _time.sleep(4.0)
        rows = [CUSTOMERS[i] for i in ids if i in CUSTOMERS]
        return json_response(rows if request.method == "POST" else rows[0])

    stub_server.stub("/customers-batch-orphan", responder)
    markers = {}
    for path, batch_size in (("chunk", 1), ("per-key", None)):
        mpath = str(tmp_path / f"on_response_calls_{path}.txt")
        markers[path] = mpath
        table = HttpLookupTable(
            url=stub_server.url("/customers-batch-orphan"),
            schema=CUSTOMER_SCHEMA,
            options=HttpLookupOptions(
                lookup_batch_size=batch_size,  # 1: 2 distinct keys -> 2 chunks
                use_async=True,
                # the fast exchange answers in ms, the hung one in 4 s: a
                # 2 s whole-batch deadline splits them with 2 s of load
                # margin EACH way (1.0/2.0 flaked when the machine was busy)
                async_timeout=2.0,
                continue_on_error=True,
                request_callback=lambda s, r, m=mpath: open(m, "a").write("x"),
            ),
        )
        out = http_lookup_join(
            orders_df(spark, ids=(1, 2)).coalesce(1), table,
            on={"cust_id": "id"},
            metadata_columns=["http-completion-state"],
        )
        states = sorted(r["http-completion-state"] for r in out.collect())
        assert states == ["EXCEPTION", "SUCCESS"], path
    # let the abandoned threads' responses land and (not) publish
    _time.sleep(4.5)
    for path, mpath in markers.items():
        assert open(mpath).read() == "x", path


def test_circuit_breaker_short_circuits_after_threshold(spark, stub_server):
    stub_server.stub_json("/customers", {"err": "down"}, status=400)
    table = HttpLookupTable(
        url=stub_server.url("/customers"),
        schema=CUSTOMER_SCHEMA,
        options=HttpLookupOptions(
            continue_on_error=True,
            retry=RetryConfig(max_retries=0),
            circuit_breaker_failures=2,
            circuit_breaker_reset=300.0,
        ),
    )
    # 5 distinct keys in ONE partition, sequential firing: the first two
    # 400s trip the breaker, the remaining three never touch the wire
    df = orders_df(spark, ids=(1, 2, 3, 4, 5)).coalesce(1)
    out = http_lookup_join(
        df, table, on={"cust_id": "id"},
        metadata_columns=["error-string", "http-completion-state"],
    )
    rows = sorted(out.collect(), key=lambda r: r.cust_id)
    assert len(rows) == 5
    assert len(stub_server.recorded("/customers")) == 2
    assert rows[0]["http-completion-state"] == "HTTP_ERROR_STATUS"
    assert rows[1]["http-completion-state"] == "HTTP_ERROR_STATUS"
    for r in rows[2:]:
        assert r["http-completion-state"] == "EXCEPTION"
        assert "circuit breaker open" in r["error-string"]


def test_publish_multi_rechecks_abandoned_event_before_side_effects():
    """Round-5 ADVICE residual race: the caller can abandon a chunk
    BETWEEN fetch_chunk's check and the publish phase. publish_multi now
    re-checks the event itself — at entry and again right before firing
    on_response — so a straggler that raced past the caller-side check
    still fires no observers and no failure accounting."""
    import threading

    from flink_connector_http_spark.client import (
        HttpPollingClient,
        HttpResponse,
    )

    calls = []
    client = HttpPollingClient(
        url="http://unused.invalid/",
        options=HttpLookupOptions(
            method="GET",
            request_callback=lambda s, r: calls.append("fired"),
        ),
    )
    resp = HttpResponse(200, [], b'[{"id": 1, "name": "a"}]')
    exchange = (object(), resp, None)

    # abandoned before entry: nothing fires, empty result
    ev = threading.Event()
    ev.set()
    assert client.publish_multi(exchange, [{"id": 1}], ["id"],
                                abandoned=ev) == []
    assert calls == []

    # abandoned BETWEEN the entry check and on_response (the exact race):
    # first is_set() poll says alive, second says abandoned
    class _FlipEvent:
        def __init__(self):
            self.polls = 0

        def is_set(self):
            self.polls += 1
            return self.polls >= 2

    flip = _FlipEvent()
    assert client.publish_multi(exchange, [{"id": 1}], ["id"],
                                abandoned=flip) == []
    assert calls == []
    assert flip.polls >= 2

    # failure-path accounting is also suppressed for an abandoned chunk
    ev2 = threading.Event()
    ev2.set()
    fail_exchange = (None, None, ("boom", None))
    assert client.publish_multi(fail_exchange, [{"id": 1}], ["id"],
                                abandoned=ev2) == []
    assert calls == []

    # sanity: a live chunk still publishes and fires exactly one callback
    out = client.publish_multi(exchange, [{"id": 1}], ["id"])
    assert len(out) == 1 and out[0].rows
    assert calls == ["fired"]


def test_cache_revalidates_with_etag(spark, stub_server):
    """Expired cache entries with an ETag refresh via If-None-Match: the
    endpoint answers 304 (no body) and the cached rows are served with a
    fresh TTL — one full download total."""
    calls = {"full": 0, "cond": 0}

    def responder(request):
        if request.headers.get("If-None-Match") == '"v1"':
            calls["cond"] += 1
            return StubResponse(status=304, headers={"ETag": '"v1"'})
        calls["full"] += 1
        return StubResponse(
            status=200,
            body=json.dumps(CUSTOMERS[1]).encode(),
            headers={"Content-Type": "application/json", "ETag": '"v1"'},
        )

    stub_server.stub("/customers", responder)
    table = HttpLookupTable(
        url=stub_server.url("/customers"), schema=CUSTOMER_SCHEMA,
        options=HttpLookupOptions(cache=LookupCacheConfig(
            # expire_after_write=0 -> every entry is stale on the next
            # probe, so the revalidation path fires deterministically
            # (no sleeps, no timing dependence)
            max_rows=100, expire_after_write=0.0, revalidate=True,
        )),
    )
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1")
    try:
        df = orders_df(spark, ids=(1, 1, 1, 1)).coalesce(1)
        out = http_lookup_join(df, table, on={"cust_id": "id"}).collect()
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert len(out) == 4
    assert all(r.name == "alice" for r in out)
    assert calls["full"] == 1          # exactly one body download
    assert calls["cond"] == 3          # every later probe revalidated


def test_cache_revalidation_replaces_changed_entry(spark, stub_server):
    """A changed resource (etag mismatch -> 200 with a new body) replaces
    the cached rows instead of resurrecting the stale ones."""
    # the resource version LIVE at each successive request: v1, then the
    # edit lands before the second probe, then stable
    resources = [('"v1"', "alice"), ('"v2"', "alice-renamed"),
                 ('"v2"', "alice-renamed")]
    state = {"i": 0}

    def responder(request):
        etag, name = resources[min(state["i"], len(resources) - 1)]
        state["i"] += 1
        if request.headers.get("If-None-Match") == etag:
            return StubResponse(status=304, headers={"ETag": etag})
        return StubResponse(
            status=200,
            body=json.dumps({"id": 1, "name": name, "balance": 1.0}).encode(),
            headers={"Content-Type": "application/json", "ETag": etag},
        )

    stub_server.stub("/customers", responder)
    table = HttpLookupTable(
        url=stub_server.url("/customers"), schema=CUSTOMER_SCHEMA,
        options=HttpLookupOptions(cache=LookupCacheConfig(
            max_rows=100, expire_after_write=0.0, revalidate=True,
        )),
    )
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1")
    try:
        df = orders_df(spark, ids=(1, 1, 1)).coalesce(1)
        out = http_lookup_join(df, table, on={"cust_id": "id"}).collect()
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    names = sorted(r.name for r in out)
    # first probe downloads v1; second probe's conditional GET gets the
    # CHANGED resource (200 v2) and replaces the entry; third revalidates
    # v2 with a 304
    assert names == ["alice", "alice-renamed", "alice-renamed"]


def test_cache_probe_states_and_option_key():
    """probe() keeps expired entries for revalidation; the DDL option key
    maps into LookupCacheConfig.revalidate."""
    from flink_connector_http_spark.cache import LruTtlCache
    from flink_connector_http_spark.options import lookup_options_from_map

    now = [0.0]
    cache = LruTtlCache(
        LookupCacheConfig(max_rows=10, expire_after_write=5.0,
                          revalidate=True),
        clock=lambda: now[0],
    )
    assert cache.probe("k") == (None, "absent")
    cache.put("k", "v")
    assert cache.probe("k") == ("v", "fresh")
    now[0] = 6.0
    value, state = cache.probe("k")
    assert (value, state) == ("v", "stale")
    # the stale entry is retained (get() would have deleted it)
    assert cache.probe("k") == ("v", "stale")
    cache.put("k", "v2")  # refresh after revalidation
    assert cache.probe("k") == ("v2", "fresh")

    opts = lookup_options_from_map({
        "url": "http://x/",
        "lookup.cache": "PARTIAL",
        "lookup.partial-cache.expire-after-write": "30",
        "lookup.partial-cache.revalidate": "true",
    })
    assert opts.cache.revalidate is True
    assert opts.cache.expire_after_write == 30.0


def test_cache_revalidation_pipelines_under_async(spark, stub_server):
    """ETag revalidation must use the pull pool under use_async — a
    partition of expired keys pipelines its conditional GETs like a cold
    fetch would (round-8 ADVICE). The stub forces concurrency with a
    2-party barrier: serialized round-trips would break it and answer
    500, failing the name assertions."""
    import threading as _threading

    barrier = _threading.Barrier(2)
    calls = {"full": 0, "cond": 0, "broken": 0}

    def responder(request):
        key = int(request.query["id"][0])
        if request.headers.get("If-None-Match") == f'"v{key}"':
            try:
                barrier.wait(timeout=5.0)
            except _threading.BrokenBarrierError:
                calls["broken"] += 1
                return StubResponse(status=500)
            calls["cond"] += 1
            return StubResponse(status=304, headers={"ETag": f'"v{key}"'})
        calls["full"] += 1
        resp = json_response(CUSTOMERS[key])
        resp.headers["ETag"] = f'"v{key}"'
        return resp

    stub_server.stub("/customers-reval-async", responder)
    table = HttpLookupTable(
        url=stub_server.url("/customers-reval-async"),
        schema=CUSTOMER_SCHEMA,
        options=HttpLookupOptions(
            use_async=True,
            cache=LookupCacheConfig(
                max_rows=100, expire_after_write=0.0, revalidate=True,
            ),
        ),
    )
    # batch 1 (rows 1,2) cold-fetches both keys; batch 2 (rows 3,4)
    # finds both stale-with-etag -> concurrent conditional GETs
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        # repartition (NOT coalesce): the shuffle re-batches the stream
        # so rows 3,4 share one arrow batch — coalesce would preserve the
        # original 1-row chunks and each invocation would see a single
        # key, taking the sequential path
        df = orders_df(spark, ids=(1, 2, 1, 2)).repartition(1)
        out = http_lookup_join(df, table, on={"cust_id": "id"}).collect()
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert len(out) == 4
    assert sorted(r.name for r in out) == [
        "alice", "alice", "bob", "bob"]
    assert calls["full"] == 2
    assert calls["cond"] == 2 and calls["broken"] == 0


def test_cache_revalidation_timeout_serves_stale(stub_server):
    """Under use_async a conditional GET that misses the whole-batch
    deadline serves the stale cached rows without refreshing the entry,
    so the next batch revalidates again; the abandoned revalidation fires
    no on_response observer when its answer finally lands."""
    import time as _time

    import pandas as pd

    from flink_connector_http_spark.cache import LruTtlCache
    from flink_connector_http_spark.client import HttpPollingClient
    from flink_connector_http_spark.lookup import _EnrichConfig, _enrich_pdf

    hang = 2.0
    calls = {"full": 0, "cond": 0}

    def responder(request):
        key = int(request.query["id"][0])
        if request.headers.get("If-None-Match") == f'"v{key}"':
            calls["cond"] += 1
            _time.sleep(hang)  # hung past the 0.5 s deadline
            return StubResponse(status=304, headers={"ETag": f'"v{key}"'})
        calls["full"] += 1
        resp = json_response(CUSTOMERS[key])
        resp.headers["ETag"] = f'"v{key}"'
        return resp

    stub_server.stub("/customers-reval-hung", responder)
    observed = []
    table = HttpLookupTable(
        url=stub_server.url("/customers-reval-hung"),
        schema=CUSTOMER_SCHEMA,
        options=HttpLookupOptions(
            use_async=True,
            async_timeout=0.5,
            request_callback=lambda s, r: observed.append(r.status),
            cache=LookupCacheConfig(
                max_rows=100, expire_after_write=0.0, revalidate=True,
            ),
        ),
    )
    cfg = _EnrichConfig(
        table=table,
        pairs=(("cust_id", "id"),),
        probe_col_names=("cust_id",),
        output_lookup_fields=tuple(CUSTOMER_SCHEMA.fields),
        out_col_names=("cust_id", "id", "name", "balance"),
        lookup_prefix="",
        key_lookup_names=("id",),
        meta_names=(),
        emit_on_empty=False,
    )
    client = HttpPollingClient(url=table.url, options=table.options)
    cache = LruTtlCache(table.options.cache)
    pdf = pd.DataFrame({"cust_id": [1, 2, 1]})

    out = _enrich_pdf(cfg, client, cache, pdf)  # cold: two full GETs
    assert list(out["name"]) == ["alice", "bob", "alice"]
    for _ in range(2):  # both keys stale with an ETag: revalidate, time out
        start = _time.monotonic()
        out = _enrich_pdf(cfg, client, cache, pdf)
        assert _time.monotonic() - start < hang
        assert list(out["name"]) == ["alice", "bob", "alice"]
        assert cache.probe((1,))[1] == "stale"
    _time.sleep(hang + 0.5)  # let the abandoned revalidations land
    assert calls == {"full": 2, "cond": 4}
    assert observed == [200, 200]  # the cold fetches only


def test_hedged_lookup_fires_and_wins_on_slow_primary(spark, stub_server):
    """Opt-in request hedging (http.source.lookup.hedge-delay): the stub's
    FIRST response per key is slow (a stalled replica); the hedged
    duplicate answers fast. The join must return the correct row well
    before the slow primary lands, having fired exactly 2 requests."""
    import time as _time

    slow_once = {"done": False}

    def responder(request):
        first = not slow_once["done"]
        slow_once["done"] = True
        if first:
            _time.sleep(10.0)
        return json_response(CUSTOMERS[int(request.query["id"][0])])

    stub_server.stub("/customers-hedge", responder)
    table = HttpLookupTable(
        url=stub_server.url("/customers-hedge"),
        schema=CUSTOMER_SCHEMA,
        options=HttpLookupOptions(method="GET", hedge_delay=0.2),
    )
    start = _time.monotonic()
    out = http_lookup_join(
        orders_df(spark, ids=(1,)).coalesce(1), table, on={"cust_id": "id"}
    ).collect()
    elapsed = _time.monotonic() - start
    assert len(out) == 1 and out[0].name == "alice"
    assert len(stub_server.recorded("/customers-hedge")) == 2
    # well under the 10s stall (Spark job overhead is ~6s): the result
    # came from the hedged duplicate, not the stalled primary
    assert elapsed < 9.0


def test_hedging_off_by_default(spark, stub_server):
    """Reference parity: without hedge-delay a slow response is simply
    awaited — one request on the wire, no duplicates."""
    import time as _time

    def responder(request):
        _time.sleep(0.5)
        return json_response(CUSTOMERS[int(request.query["id"][0])])

    stub_server.stub("/customers-nohedge", responder)
    table = HttpLookupTable(
        url=stub_server.url("/customers-nohedge"),
        schema=CUSTOMER_SCHEMA,
        options=HttpLookupOptions(method="GET"),
    )
    out = http_lookup_join(
        orders_df(spark, ids=(2,)).coalesce(1), table, on={"cust_id": "id"}
    ).collect()
    assert len(out) == 1 and out[0].name == "bob"
    assert len(stub_server.recorded("/customers-nohedge")) == 1


def test_hedge_survives_primary_error_and_counts_stats(stub_server):
    """Client-level: primary errors after the hedge fires -> the healthy
    duplicate's response wins; stats record fired+won."""
    import time as _time

    from flink_connector_http_spark.client import HttpPollingClient

    state = {"n": 0}

    def responder(request):
        state["n"] += 1
        if state["n"] == 1:
            _time.sleep(0.4)
            return StubResponse(status=500, body=b"late error")
        return json_response(CUSTOMERS[1])

    stub_server.stub("/hedge-err", responder)
    client = HttpPollingClient(
        url=stub_server.url("/hedge-err"),
        options=HttpLookupOptions(method="GET", hedge_delay=0.1),
    )
    result = client.pull({"id": 1})
    assert result.rows and result.rows[0]["name"] == "alice"
    assert client.hedge_stats["fired"] == 1
    assert client.hedge_stats["won"] == 1


def test_hedge_pool_released_on_close_and_gc(stub_server):
    """The lazily created hedge pool (non-daemon threads + keep-alive
    sockets) must not outlive the client: close() shuts it down, and a
    client that is simply dropped (long-lived executor reuse, no close
    call) releases it via the GC finalizer."""
    import gc
    import threading as _threading
    import time as _time

    from flink_connector_http_spark.client import HttpPollingClient

    def responder(request):
        _time.sleep(0.3)
        return json_response(CUSTOMERS[1])

    stub_server.stub("/hedge-close", responder)

    def hedge_threads():
        return [t for t in _threading.enumerate()
                if t.name.startswith("http-hedge")]

    def wait_gone(deadline=5.0):
        end = _time.monotonic() + deadline
        while _time.monotonic() < end:
            if not any(t.is_alive() for t in hedge_threads()):
                return True
            _time.sleep(0.05)
        return False

    assert not hedge_threads()
    opts = HttpLookupOptions(method="GET", hedge_delay=0.05)
    # explicit close(): idempotent, pool torn down
    with HttpPollingClient(url=stub_server.url("/hedge-close"),
                           options=opts) as client:
        client.pull({"id": 1})
        assert hedge_threads()
    client.close()  # second call is a no-op
    assert wait_gone(), "close() left hedge threads running"
    # GC path: no close() call at all
    client2 = HttpPollingClient(url=stub_server.url("/hedge-close"),
                                options=opts)
    client2.pull({"id": 1})
    assert hedge_threads()
    del client2
    gc.collect()
    assert wait_gone(), "finalizer left hedge threads running after GC"


class TestBatchLookupAdvisory:
    """A large per-key probe batch logs a one-time advisory naming the
    multi-key batch-lookup config (the known 8x saturation footgun)."""

    def setup_method(self):
        import flink_connector_http_spark.lookup as L

        L._batch_advisory_emitted = False

    def test_fires_once_above_threshold(self, caplog):
        import logging

        import flink_connector_http_spark.lookup as L

        with caplog.at_level(logging.WARNING,
                             logger="flink_connector_http_spark.lookup"):
            assert L._maybe_advise_batch_lookup(
                L.BATCH_LOOKUP_ADVISORY_THRESHOLD) is True
            # once per executor, not per batch
            assert L._maybe_advise_batch_lookup(10_000) is False
        msgs = [r.message for r in caplog.records]
        assert any("request.batch.size" in m for m in msgs)
        assert len(msgs) == 1

    def test_silent_below_threshold(self):
        import flink_connector_http_spark.lookup as L

        assert L._maybe_advise_batch_lookup(
            L.BATCH_LOOKUP_ADVISORY_THRESHOLD - 1) is False
        assert L._batch_advisory_emitted is False


class TestDuplicateLeafKeys:
    """Two lookup keys whose dotted paths share a leaf field name would
    silently collide in the flattened request-arg dict (last one wins) —
    _normalize_on now rejects the plan instead (round-11 advice)."""

    def test_duplicate_leaf_rejected_at_plan_time(self):
        import pytest

        from flink_connector_http_spark.lookup import _normalize_on

        with pytest.raises(ValueError, match="duplicate request-arg"):
            _normalize_on({"a.id": "user.id", "b.id": "account.id"})

    def test_distinct_leaves_accepted(self):
        from flink_connector_http_spark.lookup import _normalize_on

        pairs = _normalize_on({"a.id": "user.user_id", "b.id": "account.acct_id"})
        assert pairs == [("a.id", "user.user_id"), ("b.id", "account.acct_id")]

    def test_plain_duplicate_list_rejected(self):
        import pytest

        from flink_connector_http_spark.lookup import _normalize_on

        with pytest.raises(ValueError, match="duplicate request-arg"):
            _normalize_on({"x": "id", "y": "nested.id"})
