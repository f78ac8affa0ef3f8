"""SQL-DDL surface e2e: the reference is driven from ``CREATE TABLE ...
WITH ('connector'='http')`` (docs/content/docs/connectors/table/http.md:84-121);
the Spark spelling is ``CREATE TEMPORARY VIEW ... USING http OPTIONS (...)``
over the registered Python DataSource — read via plain SQL, write via
``INSERT INTO``. Also covers the ad-hoc ``http_get_json`` UDTF (documented
out of the pipeline surface) and the helpful error for the persistent-table
OPTIONS limitation.
"""

import json

import pytest


@pytest.fixture()
def http_format(spark):
    from flink_connector_http_spark.datasource import register_http_datasource

    register_http_datasource(spark)
    return spark


def _paged(pages):
    from flink_connector_http_spark.testing import StubResponse

    def responder(req):
        page = int(req.query.get("page", ["0"])[0])
        body = pages[page] if page < len(pages) else []
        return StubResponse(status=200, body=json.dumps(body).encode())

    return responder


def test_create_temp_view_using_http_read(http_format, stub_server):
    spark = http_format
    pages = [
        [{"id": 1, "name": "a", "score": 1.5}, {"id": 2, "name": "b", "score": 2.0}],
        [{"id": 3, "name": "c", "score": 2.5}],
    ]
    stub_server.stub("/items", _paged(pages))
    spark.sql(f"""
        CREATE OR REPLACE TEMPORARY VIEW items_http
        USING http
        OPTIONS (
          url '{stub_server.url("/items")}',
          pages '2',
          schema 'id BIGINT, name STRING, score DOUBLE'
        )
    """)
    rows = spark.sql(
        "SELECT count(*) AS n, sum(score) AS total FROM items_http"
    ).collect()[0]
    assert (rows.n, rows.total) == (3, 6.0)
    # the relation joins like any SQL table
    joined = spark.sql("""
        SELECT i.name, r.id * 10 AS ten
        FROM items_http i JOIN range(1, 3) r ON r.id = i.id
        ORDER BY i.name
    """).collect()
    assert [(r.name, r.ten) for r in joined] == [("a", 10), ("b", 20)]


def test_insert_into_http_temp_view_writes(http_format, stub_server):
    spark = http_format
    stub_server.stub_json("/ingest", {"ok": True})
    spark.sql(f"""
        CREATE OR REPLACE TEMPORARY VIEW ingest_http
        USING http
        OPTIONS (
          url '{stub_server.url("/ingest")}',
          schema 'a BIGINT, b STRING',
          method 'POST',
          batch_size '100'
        )
    """)
    spark.sql(
        "INSERT INTO ingest_http "
        "SELECT id AS a, concat('row-', CAST(id AS STRING)) AS b FROM range(5)"
    )
    sent = [
        rec
        for req in stub_server.recorded("/ingest")
        for rec in json.loads(req.body)
    ]
    assert sorted(r["a"] for r in sent) == [0, 1, 2, 3, 4]
    assert {r["b"] for r in sent} == {f"row-{i}" for i in range(5)}
    assert all(req.method == "POST" for req in stub_server.recorded("/ingest"))


def test_persistent_table_options_limitation_errors_helpfully(
    http_format, stub_server
):
    """Spark drops OPTIONS of persistent `CREATE TABLE ... USING http` on
    the floor for Python data sources; the reader must say so instead of
    raising a bare KeyError."""
    spark = http_format
    spark.sql("DROP TABLE IF EXISTS http_ddl_limitation")
    spark.sql(f"""
        CREATE TABLE http_ddl_limitation (id BIGINT)
        USING http OPTIONS (url '{stub_server.url("/items")}')
    """)
    try:
        with pytest.raises(Exception, match="TEMPORARY VIEW"):
            spark.sql("SELECT * FROM http_ddl_limitation").collect()
    finally:
        spark.sql("DROP TABLE IF EXISTS http_ddl_limitation")


def test_http_get_json_udtf_adhoc_lateral(spark, stub_server):
    """The row-at-a-time UDTF stays available for ad-hoc SQL (documented
    out of the pipeline surface — sqlfn.py 'Scale honesty')."""
    from flink_connector_http_spark.sqlfn import register_http_sql_functions

    register_http_sql_functions(spark)
    stub_server.stub_json("/one", {"k": 7, "v": "seven"})
    rows = spark.sql(f"""
        SELECT r.id,
               from_json(t.record, 'k INT, v STRING').v AS v
        FROM range(2) r,
             LATERAL http_get_json('{stub_server.url("/one")}') t
    """).collect()
    assert sorted((r.id, r.v) for r in rows) == [(0, "seven"), (1, "seven")]


def test_persistent_http_table_lifecycle(http_format, stub_server):
    """The durable catalog-table spelling (reference DDL-first idiom,
    table/http.md:84-121): create -> plain-SQL read -> INSERT INTO ->
    survives 'session restart' (views dropped, re-attached from the
    warehouse-backed registry) -> drop."""
    from flink_connector_http_spark.datasource import (
        http_attach_tables,
        http_create_table,
        http_drop_table,
    )

    spark = http_format
    pages = [[{"id": 1, "v": "a"}, {"id": 2, "v": "b"}], [{"id": 3, "v": "c"}]]
    stub_server.stub("/perm-items", _paged(pages))
    stub_server.stub_json("/perm-ingest", {"ok": True})

    http_create_table(
        spark, "perm_items", url=stub_server.url("/perm-items"),
        schema="id BIGINT, v STRING", pages="2", replace=True,
    )
    http_create_table(
        spark, "perm_ingest", url=stub_server.url("/perm-ingest"),
        schema="id BIGINT, v STRING", method="POST", replace=True,
    )
    try:
        # read by bare name, plain SQL
        assert spark.sql("SELECT count(*) n FROM perm_items").collect()[0].n == 3
        # write by bare name, plain SQL
        spark.sql("INSERT INTO perm_ingest SELECT id, v FROM perm_items")
        sent = [
            rec for req in stub_server.recorded("/perm-ingest")
            for rec in json.loads(req.body)
        ]
        assert sorted(r["id"] for r in sent) == [1, 2, 3]

        # duplicate create without replace must refuse
        with pytest.raises(ValueError, match="already exists"):
            http_create_table(
                spark, "perm_items", url="http://x/", schema="id BIGINT",
            )

        # simulate a fresh session: this session's views vanish, the
        # durable definitions remain -> one attach call restores them
        spark.catalog.dropTempView("perm_items")
        spark.catalog.dropTempView("perm_ingest")
        attached = http_attach_tables(spark)
        assert {"perm_items", "perm_ingest"} <= set(attached)
        assert spark.sql("SELECT max(id) m FROM perm_items").collect()[0].m == 3
    finally:
        http_drop_table(spark, "perm_items", if_exists=True)
        http_drop_table(spark, "perm_ingest", if_exists=True)
    assert not spark.catalog.tableExists("perm_items")
    with pytest.raises(ValueError, match="does not exist"):
        http_drop_table(spark, "perm_items")


def test_read_load_url_as_path(http_format, stub_server):
    """`spark.read.format('http').load(url)` — the endpoint rides in the
    path argument like a file source's location."""
    spark = http_format
    # finite pagination: page 0 has rows, page 1 is empty (the unpaged
    # reader walks ?page=N until an empty page)
    stub_server.stub("/path-items", _paged([[{"id": 10}, {"id": 11}]]))
    df = (
        spark.read.format("http").schema("id BIGINT")
        .load(stub_server.url("/path-items"))
    )
    assert sorted(r.id for r in df.collect()) == [10, 11]


def test_persistent_table_name_validation_and_header_options(
    http_format, stub_server
):
    """Round-5 hardening: registered names must be bare identifiers (they
    are spliced into CREATE VIEW and become registry directory names), and
    dotted keys like header.* — inexpressible as kwargs — ride in the
    ``options`` dict and reach the wire as real request headers."""
    from flink_connector_http_spark.datasource import (
        http_create_table,
        http_drop_table,
    )

    spark = http_format
    for bad in ("has-dash", "has space", "x; DROP TABLE y", "", "1leading"):
        with pytest.raises(ValueError, match="bare SQL identifier"):
            http_create_table(
                spark, bad, url="http://x/", schema="id BIGINT",
            )

    stub_server.stub("/hdr-items", _paged([[{"id": 7}]]))
    http_create_table(
        spark, "perm_hdr", url=stub_server.url("/hdr-items"),
        schema="id BIGINT", replace=True,
        options={"header.X-Api-Key": "sekret", "header.X-Tenant": "t-1"},
    )
    try:
        assert spark.sql("SELECT id FROM perm_hdr").collect()[0].id == 7
        req = stub_server.recorded("/hdr-items")[0]
        headers = {k.lower(): v for k, v in req.headers.items()}
        assert headers.get("x-api-key") == "sekret"
        assert headers.get("x-tenant") == "t-1"
    finally:
        http_drop_table(spark, "perm_hdr", if_exists=True)


def test_registry_per_entry_layout_and_flat_migration(
    http_format, stub_server
):
    """Each definition lives in its own ``<registry>/<name>/`` directory
    (create/drop touch only their entry), and a pre-round-5 flat registry
    (part files directly under the root) is migrated in place on first
    read."""
    import json as _json
    import os

    from flink_connector_http_spark.datasource import (
        _registry_path,
        http_attach_tables,
        http_create_table,
        http_drop_table,
    )

    spark = http_format
    stub_server.stub("/lay-items", _paged([[{"id": 1}]]))
    http_create_table(
        spark, "perm_lay_a", url=stub_server.url("/lay-items"),
        schema="id BIGINT", replace=True,
    )
    http_create_table(
        spark, "perm_lay_b", url=stub_server.url("/lay-items"),
        schema="id BIGINT", replace=True,
    )
    root = _registry_path(spark)
    try:
        assert os.path.isdir(os.path.join(root, "perm_lay_a"))
        assert os.path.isdir(os.path.join(root, "perm_lay_b"))
        # dropping one entry leaves the other's directory untouched
        before = os.listdir(os.path.join(root, "perm_lay_b"))
        http_drop_table(spark, "perm_lay_a")
        assert not os.path.exists(os.path.join(root, "perm_lay_a"))
        assert os.listdir(os.path.join(root, "perm_lay_b")) == before

        # simulate the legacy flat layout: one part file under the root
        legacy = spark.createDataFrame(
            [("perm_lay_flat", _json.dumps({
                "url": stub_server.url("/lay-items"),
                "schema": "id BIGINT",
            }))],
            "name string, options_json string",
        )
        tmp = root + "__flat_tmp"
        legacy.coalesce(1).write.mode("overwrite").parquet(tmp)
        for f in os.listdir(tmp):
            if f.endswith(".parquet"):
                os.rename(os.path.join(tmp, f), os.path.join(root, f))
        attached = http_attach_tables(spark)  # triggers migration
        assert "perm_lay_flat" in attached
        assert os.path.isdir(os.path.join(root, "perm_lay_flat"))
        assert not [
            f for f in os.listdir(root)
            if os.path.isfile(os.path.join(root, f))
            and not f.startswith("_")
        ]
        assert spark.sql("SELECT id FROM perm_lay_flat").collect()[0].id == 1
    finally:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
        http_drop_table(spark, "perm_lay_b", if_exists=True)
        http_drop_table(spark, "perm_lay_flat", if_exists=True)


def test_write_entry_validates_and_migration_skips_traversal_names(
    http_format, stub_server
):
    """_write_entry enforces the bare-identifier rule itself (not only the
    SQL entry points), so a crafted legacy registry row cannot become a
    path traversal at migration time; migration skips such rows instead
    of wedging on them."""
    import json as _json
    import os
    import shutil

    from flink_connector_http_spark.datasource import (
        _registry_path,
        _write_entry,
        http_attach_tables,
        http_drop_table,
    )

    spark = http_format
    with pytest.raises(ValueError, match="bare SQL identifier"):
        _write_entry(spark, "../evil", {"url": "http://x/"})

    stub_server.stub("/mig-items", _paged([[{"id": 5}]]))
    root = _registry_path(spark)
    parent = os.path.dirname(root)
    tmp = root + "__flat_tmp2"
    try:
        legacy = spark.createDataFrame(
            [
                ("perm_mig_good", _json.dumps({
                    "url": stub_server.url("/mig-items"),
                    "schema": "id BIGINT",
                })),
                ("../evil_mig", _json.dumps({"url": "http://x/"})),
            ],
            "name string, options_json string",
        )
        legacy.coalesce(1).write.mode("overwrite").parquet(tmp)
        os.makedirs(root, exist_ok=True)
        for f in os.listdir(tmp):
            if f.endswith(".parquet"):
                os.rename(os.path.join(tmp, f), os.path.join(root, f))
        attached = http_attach_tables(spark)  # triggers migration
        assert "perm_mig_good" in attached
        assert os.path.isdir(os.path.join(root, "perm_mig_good"))
        # the traversal name produced NO directory anywhere
        assert not os.path.exists(os.path.join(parent, "evil_mig"))
        assert not os.path.exists(os.path.join(root, "..", "evil_mig"))
        assert spark.sql("SELECT id FROM perm_mig_good").collect()[0].id == 5
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        http_drop_table(spark, "perm_mig_good", if_exists=True)


class TestHttpLookupUdtf:
    """http_lookup — the vectorized SQL UDTF lookup surface (reference
    parity: HttpTableLookupFunction.java:48 is a Flink UDTF). Probe rows
    flush in buffered batches through lookup._enrich_pdf, so request
    volume is bounded by DISTINCT keys per batch, never probe rows."""

    def _customers(self, stub_server):
        from flink_connector_http_spark.testing import StubResponse

        people = {1: "alice", 2: "bob", 3: "carol"}

        def responder(req):
            cid = int(req.query["id"][0])
            if cid not in people:
                return StubResponse(status=200, body=b"")  # empty = no row
            body = json.dumps({"id": cid, "name": people[cid]}).encode()
            return StubResponse(status=200, body=body)

        stub_server.stub("/people", responder)

    def test_inner_join_and_distinct_key_dedup(self, spark, stub_server):
        from flink_connector_http_spark.sqlfn import register_http_sql_functions

        register_http_sql_functions(spark)
        self._customers(stub_server)
        # 40 probe rows over 2 distinct present keys in ONE partition:
        # the request count proves the vectorized path (2 requests, not 40)
        rows = spark.sql(f"""
            SELECT id, v, name
            FROM http_lookup(
                TABLE(SELECT id % 2 + 1 AS id, id AS v
                      FROM range(40) DISTRIBUTE BY 1),
                url => '{stub_server.url("/people")}',
                on => 'id',
                schema => 'id BIGINT, name STRING',
                select => 'name')
        """).collect()
        assert len(rows) == 40
        assert {(r.id, r.name) for r in rows} == {(1, "alice"), (2, "bob")}
        assert len(stub_server.recorded("/people")) == 2

        # the buffered flush hands back plain Python scalars, not numpy ones
        from pyspark.sql import Row

        from flink_connector_http_spark.sqlfn import HttpLookupUdtf

        udtf = HttpLookupUdtf()
        kwargs = dict(url=stub_server.url("/people"), on="id",
                      schema="id BIGINT, name STRING", select="name")
        out = [t for v in range(4)
               for t in udtf.eval(Row(id=v % 2 + 1, v=v), **kwargs)]
        out += list(udtf.terminate())
        assert out == [(1, 0, "alice"), (2, 1, "bob"), (1, 2, "alice"),
                       (2, 3, "bob")]
        assert {type(x) for t in out for x in t} == {int, str}

    def test_left_join_missing_keys_null_enrichment(self, spark, stub_server):
        from flink_connector_http_spark.sqlfn import register_http_sql_functions

        register_http_sql_functions(spark)
        self._customers(stub_server)
        rows = spark.sql(f"""
            SELECT id, name
            FROM http_lookup(
                TABLE(SELECT CAST(id AS BIGINT) + 1 AS id FROM range(4)),
                url => '{stub_server.url("/people")}',
                on => 'id',
                schema => 'id BIGINT, name STRING',
                select => 'name',
                how => 'left')
        """).collect()
        got = {(r.id, r.name) for r in rows}
        assert got == {(1, "alice"), (2, "bob"), (3, "carol"), (4, None)}

    def test_inner_join_emptiness_rule_drops_rows(self, spark, stub_server):
        from flink_connector_http_spark.sqlfn import register_http_sql_functions

        register_http_sql_functions(spark)
        self._customers(stub_server)
        rows = spark.sql(f"""
            SELECT id FROM http_lookup(
                TABLE(SELECT CAST(id AS BIGINT) + 1 AS id FROM range(4)),
                url => '{stub_server.url("/people")}',
                on => 'id',
                schema => 'id BIGINT, name STRING',
                select => 'name')
        """).collect()
        assert sorted(r.id for r in rows) == [1, 2, 3]

    def test_batch_size_uses_multi_key_requests(self, spark, stub_server):
        from flink_connector_http_spark.sqlfn import register_http_sql_functions
        from flink_connector_http_spark.testing import StubResponse

        register_http_sql_functions(spark)

        def responder(req):
            # multi-key batch = ONE POST whose body is the key-object array
            ids = [int(k["id"]) for k in req.json()]
            body = json.dumps(
                [{"id": i, "name": f"user{i}"} for i in ids]
            ).encode()
            return StubResponse(status=200, body=body)

        stub_server.stub("/people-batch", responder)
        rows = spark.sql(f"""
            SELECT id, name
            FROM http_lookup(
                TABLE(SELECT CAST(id AS BIGINT) AS id
                      FROM range(10) DISTRIBUTE BY 1),
                url => '{stub_server.url("/people-batch")}',
                on => 'id',
                schema => 'id BIGINT, name STRING',
                select => 'name',
                batch_size => 5)
        """).collect()
        assert {(r.id, r.name) for r in rows} == {
            (i, f"user{i}") for i in range(10)
        }
        # 10 distinct keys / batch_size 5 = 2 multi-key requests
        assert len(stub_server.recorded("/people-batch")) == 2

    def test_prefix_and_metadata_columns(self, spark, stub_server):
        from flink_connector_http_spark.sqlfn import register_http_sql_functions

        register_http_sql_functions(spark)
        self._customers(stub_server)
        rows = spark.sql(f"""
            SELECT id, lk_name, `lk_http-status-code` AS status
            FROM http_lookup(
                TABLE(SELECT CAST(1 AS BIGINT) AS id),
                url => '{stub_server.url("/people")}',
                on => 'id',
                schema => 'id BIGINT, name STRING',
                select => 'name',
                prefix => 'lk_',
                metadata => 'http-status-code')
        """).collect()
        assert [(r.id, r.lk_name, r.status) for r in rows] == [(1, "alice", 200)]

    def test_metadata_columns_canonical_order(self, spark, stub_server):
        """Requesting metadata in NON-canonical order must still emit each
        value under its own column: analyze declares fields in
        METADATA_FIELDS order, so eval canonicalizes too (round-11 ADVICE —
        previously 'http-status-code,error-string' swapped the values)."""
        from flink_connector_http_spark.sqlfn import register_http_sql_functions

        register_http_sql_functions(spark)
        self._customers(stub_server)
        rows = spark.sql(f"""
            SELECT id, `http-status-code` AS status, `error-string` AS err
            FROM http_lookup(
                TABLE(SELECT CAST(1 AS BIGINT) AS id),
                url => '{stub_server.url("/people")}',
                on => 'id',
                schema => 'id BIGINT, name STRING',
                select => 'name',
                metadata => 'http-status-code,error-string')
        """).collect()
        assert [(r.id, r.status, r.err) for r in rows] == [(1, 200, None)]

    def test_nested_schema_and_dotted_select(self, spark, stub_server):
        """Nested ROW response schema + dotted select pruning on the SQL
        UDTF (reference nested lookup DDL, docs/.../table/http.md:184-201;
        DataFrame-surface twin: test_lookup_join nested projection)."""
        from flink_connector_http_spark.sqlfn import register_http_sql_functions
        from flink_connector_http_spark.testing import StubResponse

        register_http_sql_functions(spark)

        def responder(req):
            cid = int(req.query["id"][0])
            body = json.dumps({
                "id": cid,
                "details": {
                    "isActive": cid % 2 == 0,
                    "nestedDetails": {"balance": f"{cid}.99",
                                      "currency": "EUR"},
                },
            }).encode()
            return StubResponse(status=200, body=body)

        stub_server.stub("/nested", responder)
        rows = spark.sql(f"""
            SELECT id, details.nestedDetails.balance AS balance
            FROM http_lookup(
                TABLE(SELECT CAST(id AS BIGINT) + 1 AS id FROM range(3)),
                url => '{stub_server.url("/nested")}',
                on => 'id',
                schema => 'id BIGINT, details ROW<isActive BOOLEAN,
                           nestedDetails ROW<balance STRING, currency STRING>>',
                select => 'details.nestedDetails.balance')
        """).collect()
        assert sorted((r.id, r.balance) for r in rows) == [
            (1, "1.99"), (2, "2.99"), (3, "3.99")
        ]

    def _row_endpoint(self, stub_server, path="/client"):
        """POST endpoint keyed by FLATTENED leaf args (the engine flattens
        ROW join keys recursively to leaf-name args — parity with
        RowTypeLookupSchemaEntry.java:73-87); echoes enrichment + the row."""
        from flink_connector_http_spark.testing import StubResponse

        def responder(req):
            keys = req.json()
            body = json.dumps({
                "enrichedInt": int(keys["anIntColumn"]) * 10,
                "enrichedString": f"e-{keys['aStringColumn']}",
                "row": {
                    "aStringColumn": keys["aStringColumn"],
                    "anIntColumn": int(keys["anIntColumn"]),
                    "aFloatColumn": float(keys["aFloatColumn"]),
                },
            }).encode()
            return StubResponse(status=200, body=body)

        stub_server.stub(path, responder)

    def test_join_on_whole_row_type(self, spark, stub_server):
        """ITCase shape 1 (testLookupJoinOnRowType,
        HttpLookupTableSourceITCaseTest.java:545): the join key is an
        entire ROW column — expands to its scalar leaves on both sides."""
        from flink_connector_http_spark.sqlfn import register_http_sql_functions

        register_http_sql_functions(spark)
        self._row_endpoint(stub_server)
        rows = spark.sql(f"""
            SELECT id, rowcol.anIntColumn AS k, enrichedInt, enrichedString
            FROM http_lookup(
                TABLE(SELECT id,
                             named_struct(
                                 'aStringColumn', concat('s', CAST(id AS STRING)),
                                 'anIntColumn', CAST(id AS INT),
                                 'aFloatColumn', CAST(id AS FLOAT)) AS rowcol
                      FROM range(1, 6)),
                url => '{stub_server.url("/client")}',
                on => 'rowcol=row',
                schema => 'enrichedInt INT, enrichedString STRING,
                           `row` ROW<`aStringColumn` STRING,
                                     `anIntColumn` INT,
                                     `aFloatColumn` FLOAT>',
                method => 'POST',
                select => 'enrichedInt,enrichedString')
        """).collect()
        assert sorted((r.id, r.k, r.enrichedInt, r.enrichedString)
                      for r in rows) == [
            (i, i, i * 10, f"e-s{i}") for i in range(1, 6)
        ]
        # every request body carried all three flattened leaf args
        for req in stub_server.recorded("/client"):
            assert set(req.json()) == {
                "aStringColumn", "anIntColumn", "aFloatColumn"
            }

    def test_join_on_row_type_and_root_column(self, spark, stub_server):
        """ITCase shape 2 (testLookupJoinOnRowTypeAndRootColumn,
        HttpLookupTableSourceITCaseTest.java:614): root scalar key AND a
        whole-ROW key in the same join."""
        from flink_connector_http_spark.sqlfn import register_http_sql_functions
        from flink_connector_http_spark.testing import StubResponse

        register_http_sql_functions(spark)

        def responder(req):
            keys = req.json()
            assert set(keys) == {"enrichedString", "aStringColumn",
                                 "anIntColumn", "aFloatColumn"}
            body = json.dumps({
                "enrichedInt": int(keys["anIntColumn"]) * 10,
                "enrichedString": keys["enrichedString"],
                "row": {"aStringColumn": keys["aStringColumn"],
                        "anIntColumn": int(keys["anIntColumn"]),
                        "aFloatColumn": float(keys["aFloatColumn"])},
            }).encode()
            return StubResponse(status=200, body=body)

        stub_server.stub("/client2", responder)
        rows = spark.sql(f"""
            SELECT id, enrichedInt
            FROM http_lookup(
                TABLE(SELECT CAST(id AS STRING) AS id,
                             named_struct(
                                 'aStringColumn', concat('s', CAST(id AS STRING)),
                                 'anIntColumn', CAST(id AS INT),
                                 'aFloatColumn', CAST(id AS FLOAT)) AS rowcol
                      FROM range(1, 6)),
                url => '{stub_server.url("/client2")}',
                on => 'id=enrichedString, rowcol=row',
                schema => 'enrichedInt INT, enrichedString STRING,
                           `row` ROW<`aStringColumn` STRING,
                                     `anIntColumn` INT,
                                     `aFloatColumn` FLOAT>',
                method => 'POST',
                select => 'enrichedInt')
        """).collect()
        assert sorted((r.id, r.enrichedInt) for r in rows) == [
            (str(i), i * 10) for i in range(1, 6)
        ]

    def test_join_on_row_with_nested_row(self, spark, stub_server):
        """ITCase shape 3 (testLookupJoinOnRowWithRowType,
        HttpLookupTableSourceITCaseTest.java:685,733-737): a doubly-nested
        ROW join key flattens recursively to all four scalar leaves."""
        from flink_connector_http_spark.sqlfn import register_http_sql_functions
        from flink_connector_http_spark.testing import StubResponse

        register_http_sql_functions(spark)

        def responder(req):
            keys = req.json()
            assert set(keys) == {"aStringColumn", "anIntColumn",
                                 "anotherStringColumn", "anotherIntColumn"}
            body = json.dumps({
                "enrichedInt": int(keys["anotherIntColumn"]),
                "enrichedString": keys["anotherStringColumn"],
            }).encode()
            return StubResponse(status=200, body=body)

        stub_server.stub("/client3", responder)
        rows = spark.sql(f"""
            SELECT id, enrichedInt, enrichedString
            FROM http_lookup(
                TABLE(SELECT id,
                             named_struct(
                                 'aStringColumn', concat('s', CAST(id AS STRING)),
                                 'anIntColumn', CAST(id AS INT),
                                 'aRow', named_struct(
                                     'anotherStringColumn',
                                     concat('t', CAST(id AS STRING)),
                                     'anotherIntColumn', CAST(id * 7 AS INT)))
                             AS nested
                      FROM range(1, 6)),
                url => '{stub_server.url("/client3")}',
                on => 'nested=nestedRow',
                schema => '`nestedRow` ROW<`aStringColumn` STRING,
                               `anIntColumn` INT,
                               `aRow` ROW<`anotherStringColumn` STRING,
                                          `anotherIntColumn` INT>>,
                           enrichedInt INT, enrichedString STRING',
                method => 'POST',
                select => 'enrichedInt,enrichedString')
        """).collect()
        assert sorted((r.id, r.enrichedInt, r.enrichedString)
                      for r in rows) == [
            (i, i * 7, f"t{i}") for i in range(1, 6)
        ]

    def test_nested_udtf_matches_dataframe_operator(self, spark, stub_server):
        """The SQL UDTF and the DataFrame operator (http_lookup_join) must
        produce IDENTICAL rows on the same nested fixture — the round-11
        verdict's nested-parity pin."""
        from pyspark.sql import types as T

        from flink_connector_http_spark.lookup import (
            HttpLookupTable,
            http_lookup_join,
        )
        from flink_connector_http_spark.sqlfn import register_http_sql_functions
        from flink_connector_http_spark.testing import StubResponse

        register_http_sql_functions(spark)

        def responder(req):
            cid = int(req.query["id"][0])
            body = json.dumps({
                "id": cid,
                "details": {
                    "isActive": cid % 2 == 0,
                    "nestedDetails": {"balance": f"{cid}.50"},
                },
            }).encode()
            return StubResponse(status=200, body=body)

        stub_server.stub("/np", responder)
        schema = T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("details", T.StructType([
                T.StructField("isActive", T.BooleanType()),
                T.StructField("nestedDetails", T.StructType([
                    T.StructField("balance", T.StringType()),
                ])),
            ])),
        ])
        probe = spark.range(1, 5).selectExpr("id")
        table = HttpLookupTable(url=stub_server.url("/np"), schema=schema)
        df_rows = sorted(
            (r.id, r.details.isActive, r.details.nestedDetails.balance)
            for r in http_lookup_join(
                probe, table, on={"id": "id"},
                select=["details.isActive", "details.nestedDetails.balance"],
            ).collect()
        )
        udtf_rows = sorted(
            (r.id, r.details.isActive, r.details.nestedDetails.balance)
            for r in spark.sql(f"""
                SELECT id, details FROM http_lookup(
                    TABLE(SELECT id FROM range(1, 5)),
                    url => '{stub_server.url("/np")}',
                    on => 'id',
                    schema => 'id BIGINT, details ROW<isActive BOOLEAN,
                               nestedDetails ROW<balance STRING>>',
                    select => 'details.isActive,details.nestedDetails.balance')
            """).collect()
        )
        assert df_rows == udtf_rows == [
            (i, i % 2 == 0, f"{i}.50") for i in range(1, 5)
        ]

    def test_cache_ttl_serves_repeat_keys_from_cache(self, spark, stub_server):
        """cache_ttl/cache_size named args: repeated keys across flush
        batches hit the per-executor LRU instead of refetching. (Round
        11: this path previously constructed LookupCacheConfig with
        field names it never had and TypeError'd on first use.)"""
        from flink_connector_http_spark.sqlfn import register_http_sql_functions

        register_http_sql_functions(spark)
        self._customers(stub_server)
        # 3000 rows over 2 distinct keys in ONE partition = 3 flush
        # batches (1024-row buffer); with the cache, batches 2-3 are
        # pure cache hits -> still only 2 requests total
        rows = spark.sql(f"""
            SELECT id, name
            FROM http_lookup(
                TABLE(SELECT id % 2 + 1 AS id FROM range(3000)
                      DISTRIBUTE BY 1),
                url => '{stub_server.url("/people")}',
                on => 'id',
                schema => 'id BIGINT, name STRING',
                select => 'name',
                cache_ttl => 300.0)
        """).collect()
        assert len(rows) == 3000
        assert len(stub_server.recorded("/people")) == 2

    def test_options_map_headers_reach_endpoint(self, spark, stub_server):
        """options => '<json>': reference-style option-map keys work on
        the SQL UDTF surface — static headers from
        http.source.lookup.header.* arrive on every request."""
        from flink_connector_http_spark.sqlfn import register_http_sql_functions

        register_http_sql_functions(spark)
        self._customers(stub_server)
        opts = json.dumps({
            "http.source.lookup.header.X-Api-Key": "sekrit",
            "http.source.lookup.header.X-Tenant": "acme",
        })
        rows = spark.sql(f"""
            SELECT id, name
            FROM http_lookup(
                TABLE(SELECT CAST(1 AS BIGINT) AS id),
                url => '{stub_server.url("/people")}',
                on => 'id',
                schema => 'id BIGINT, name STRING',
                select => 'name',
                options => '{opts}')
        """).collect()
        assert [(r.id, r.name) for r in rows] == [(1, "alice")]
        req = stub_server.recorded("/people")[-1]
        assert req.headers.get("X-Api-Key") == "sekrit"
        assert req.headers.get("X-Tenant") == "acme"

    def test_options_map_retry_recovers_from_503(self, spark, stub_server):
        """Retry options from the map: a 503-then-200 endpoint yields the
        row (fixed-delay retry), proving the full option-map pipeline
        (retry codes + strategy) reaches the polling client."""
        from flink_connector_http_spark.sqlfn import register_http_sql_functions
        from flink_connector_http_spark.testing import StubResponse

        register_http_sql_functions(spark)
        stub_server.stub_sequence("/flaky", [
            StubResponse(status=503, body=b"busy"),
            StubResponse(status=200,
                         body=json.dumps({"id": 7, "name": "ok"}).encode()),
        ])
        opts = json.dumps({
            "http.source.lookup.retry-codes": "503",
            "http.source.lookup.retry-strategy.type": "fixed-delay",
            "http.source.lookup.retry-strategy.fixed-delay.delay": "0.05",
            "lookup.max-retries": "2",
        })
        rows = spark.sql(f"""
            SELECT id, name
            FROM http_lookup(
                TABLE(SELECT CAST(7 AS BIGINT) AS id),
                url => '{stub_server.url("/flaky")}',
                on => 'id',
                schema => 'id BIGINT, name STRING',
                select => 'name',
                options => '{opts}')
        """).collect()
        assert [(r.id, r.name) for r in rows] == [(7, "ok")]
        assert len(stub_server.recorded("/flaky")) == 2

    def test_options_map_named_request_callback_fires(self, spark, stub_server):
        """R12 string-identifier surface e2e: a named request callback in
        `options =>` is resolved in the eval worker (dotted-path form —
        the classpath-discovery analogue) and fires once per exchange."""
        import glob
        import os
        import shutil
        import tempfile

        from flink_connector_http_spark.sqlfn import register_http_sql_functions
        from flink_connector_http_spark.testing import RECORDING_CALLBACK_DIR

        register_http_sql_functions(spark)
        self._customers(stub_server)
        record_dir = os.path.join(tempfile.gettempdir(), RECORDING_CALLBACK_DIR)
        shutil.rmtree(record_dir, ignore_errors=True)
        opts = json.dumps({
            "http.source.lookup.request-callback":
                "flink_connector_http_spark.testing:recording_request_callback",
        })
        rows = spark.sql(f"""
            SELECT id, name
            FROM http_lookup(
                TABLE(SELECT * FROM VALUES (CAST(1 AS BIGINT)), (CAST(2 AS BIGINT)) AS t(id)),
                url => '{stub_server.url("/people")}',
                on => 'id',
                schema => 'id BIGINT, name STRING',
                select => 'name',
                options => '{opts}')
        """).collect()
        assert sorted((r.id, r.name) for r in rows) == [(1, "alice"), (2, "bob")]
        records = []
        for path in glob.glob(os.path.join(record_dir, "*")):
            with open(path) as fh:
                records.append(fh.read().strip())
        # one record per distinct-key exchange, each a successful GET
        assert sorted(records) == ["GET 200", "GET 200"], records

    def test_options_map_typo_short_key_rejected_at_plan_time(
        self, spark, stub_server
    ):
        """Strict short-key validation reaches the UDTF `options =>`
        surface: a typo'd declared key fails the query, never no-ops."""
        from flink_connector_http_spark.sqlfn import register_http_sql_functions

        register_http_sql_functions(spark)
        opts = json.dumps({"lookup-metod": "POST"})
        with pytest.raises(Exception, match="lookup-metod"):
            spark.sql(f"""
                SELECT * FROM http_lookup(
                    TABLE(SELECT CAST(1 AS BIGINT) AS id),
                    url => 'http://127.0.0.1:1/unused',
                    on => 'id',
                    schema => 'id BIGINT',
                    options => '{opts}')
            """).collect()

    def test_options_map_http_2_rejected_at_plan_time(self, spark, stub_server):
        from flink_connector_http_spark.sqlfn import register_http_sql_functions

        register_http_sql_functions(spark)
        opts = json.dumps({"http.source.lookup.http-version": "HTTP_2"})
        with pytest.raises(Exception, match="HTTP/1.1-only"):
            spark.sql(f"""
                SELECT * FROM http_lookup(
                    TABLE(SELECT CAST(1 AS BIGINT) AS id),
                    url => 'http://127.0.0.1:1/unused',
                    on => 'id',
                    schema => 'id BIGINT',
                    options => '{opts}')
            """).collect()

    def test_options_map_rejected_at_plan_time(self, spark, stub_server):
        from flink_connector_http_spark.sqlfn import register_http_sql_functions

        register_http_sql_functions(spark)
        with pytest.raises(Exception, match="JSON"):
            spark.sql("""
                SELECT * FROM http_lookup(
                    TABLE(SELECT 1 AS id),
                    url => 'http://x/',
                    on => 'id',
                    schema => 'id BIGINT',
                    options => 'not json')
            """).collect()

    def test_struct_probe_to_scalar_key_rejected_at_plan_time(
        self, spark, stub_server
    ):
        from flink_connector_http_spark.sqlfn import register_http_sql_functions

        register_http_sql_functions(spark)
        with pytest.raises(Exception, match="is a struct but"):
            spark.sql("""
                SELECT * FROM http_lookup(
                    TABLE(SELECT named_struct('a', 1) AS s),
                    url => 'http://x/',
                    on => 's=id',
                    schema => 'id BIGINT, name STRING')
            """).collect()

    def test_bad_args_raise_helpfully(self, spark, stub_server):
        from flink_connector_http_spark.sqlfn import register_http_sql_functions

        register_http_sql_functions(spark)
        with pytest.raises(Exception, match="required"):
            spark.sql("""
                SELECT * FROM http_lookup(
                    TABLE(SELECT 1 AS id),
                    on => 'id',
                    schema => 'id BIGINT')
            """).collect()
        with pytest.raises(Exception, match="not in schema"):
            spark.sql("""
                SELECT * FROM http_lookup(
                    TABLE(SELECT 1 AS id),
                    url => 'http://x/',
                    on => 'id=missing',
                    schema => 'id BIGINT')
            """).collect()


class TestHttpLookupUdtfParsers:
    """Property-style coverage of the worker-side DDL/on parsers (UDTF
    analyze runs in a Python worker with no JVM, so these parsers stand
    in for StructType.fromDDL and must reject garbage helpfully)."""

    def test_ddl_scalar_matrix(self):
        from pyspark.sql import types as T

        from flink_connector_http_spark.sqlfn import _parse_ddl_struct

        st = _parse_ddl_struct(
            "a INT, b BIGINT, c STRING, d DOUBLE, e FLOAT, f BOOLEAN, "
            "g DATE, h TIMESTAMP, i DECIMAL(12, 3), j SMALLINT, k TINYINT, "
            "l BINARY"
        )
        assert [f.name for f in st.fields] == list("abcdefghijkl")
        assert st["i"].dataType == T.DecimalType(12, 3)
        assert st["b"].dataType == T.LongType()

    def test_ddl_nested_row_and_struct(self):
        """Nested ROW<...> (Flink spelling, docs/.../table/http.md:184-201)
        and STRUCT<name: TYPE> (Spark spelling) parse recursively,
        including backtick-quoted names and doubly-nested rows
        (HttpLookupTableSourceITCaseTest.java:733-737)."""
        from pyspark.sql import types as T

        from flink_connector_http_spark.sqlfn import _parse_ddl_struct

        st = _parse_ddl_struct(
            "id STRING, details ROW<isActive BOOLEAN, "
            "nestedDetails ROW<balance STRING>>"
        )
        assert isinstance(st["details"].dataType, T.StructType)
        nd = st["details"].dataType["nestedDetails"].dataType
        assert nd == T.StructType([T.StructField("balance", T.StringType())])

        st2 = _parse_ddl_struct(
            "`nestedRow` ROW<`aStringColumn` STRING, `anIntColumn` INT, "
            "`aRow` ROW<`anotherStringColumn` STRING, `anotherIntColumn` INT>>"
        )
        arow = st2["nestedRow"].dataType["aRow"].dataType
        assert [f.name for f in arow.fields] == [
            "anotherStringColumn", "anotherIntColumn"
        ]
        # Spark STRUCT<name: TYPE> spelling + varchar length
        st3 = _parse_ddl_struct("a STRUCT<b: INT, c: STRING>, d VARCHAR(10)")
        assert st3["a"].dataType["b"].dataType == T.IntegerType()
        assert st3["d"].dataType == T.StringType()

    def test_ddl_array_and_map(self):
        """ARRAY<...> / MAP<k,v> response columns (round-12: the
        reference's lookup DDL materializes both —
        HttpLookupTableSourceITCaseTest.java:173-198), including nesting
        in every direction: array-of-row, row-of-array, array-of-array,
        map-of-struct-values."""
        from pyspark.sql import types as T

        from flink_connector_http_spark.sqlfn import _parse_ddl_struct

        st = _parse_ddl_struct(
            "tags ARRAY<STRING>, scores MAP<STRING, DOUBLE>"
        )
        assert st["tags"].dataType == T.ArrayType(T.StringType(), True)
        assert st["scores"].dataType == T.MapType(
            T.StringType(), T.DoubleType(), True)

        st2 = _parse_ddl_struct(
            "items ARRAY<ROW<sku STRING, qty INT>>, "
            "grid ARRAY<ARRAY<INT>>, "
            "attrs MAP<STRING, ROW<v DOUBLE, unit STRING>>, "
            "nested ROW<ids ARRAY<BIGINT>, kv MAP<INT, STRING>>"
        )
        item = st2["items"].dataType.elementType
        assert [f.name for f in item.fields] == ["sku", "qty"]
        assert st2["grid"].dataType.elementType == T.ArrayType(
            T.IntegerType(), True)
        assert isinstance(st2["attrs"].dataType.valueType, T.StructType)
        inner = st2["nested"].dataType
        assert inner["ids"].dataType == T.ArrayType(T.LongType(), True)
        assert inner["kv"].dataType == T.MapType(
            T.IntegerType(), T.StringType(), True)

    def test_ddl_map_key_must_be_atomic(self):
        from flink_connector_http_spark.sqlfn import _parse_ddl_struct

        with pytest.raises(ValueError, match="atomic"):
            _parse_ddl_struct("m MAP<ROW<a INT>, STRING>")
        with pytest.raises(ValueError, match="atomic"):
            _parse_ddl_struct("m MAP<ARRAY<INT>, STRING>")

    def test_ddl_rejects_garbage(self):
        from flink_connector_http_spark.sqlfn import _parse_ddl_struct

        for bad in ("a", "a b c", "", "a FOO", "a ROW<b INT", "a INT,",
                    "a ARRAY<INT", "a ARRAY<>", "a MAP<STRING>",
                    "a MAP<STRING, INT"):
            with pytest.raises(ValueError):
                _parse_ddl_struct(bad)

    def test_on_forms(self):
        from flink_connector_http_spark.sqlfn import _parse_on

        assert _parse_on("id") == [("id", "id")]
        assert _parse_on("a=b, c = d") == [("a", "b"), ("c", "d")]
        assert _parse_on("x , y=z") == [("x", "x"), ("y", "z")]
        with pytest.raises(ValueError):
            _parse_on(" , ")

    def test_on_rejects_duplicate_probe_columns(self):
        """'id=a,id=b' used to silently drop the first mapping in the
        dict round-trip — now a hard error (round-11 ADVICE)."""
        from flink_connector_http_spark.sqlfn import _parse_on

        with pytest.raises(ValueError, match="duplicate probe column"):
            _parse_on("id=a, id=b")
        with pytest.raises(ValueError, match="duplicate probe column"):
            _parse_on("x, x")


def test_http_lookup_udtf_multi_flush_boundary(spark, stub_server):
    """Probe rows beyond the 1024-row buffer flush in multiple batches:
    results stay exact and request volume is bounded by
    distinct-keys x flushes, never probe rows."""
    from flink_connector_http_spark.sqlfn import _FLUSH_ROWS, register_http_sql_functions
    from flink_connector_http_spark.testing import StubResponse

    register_http_sql_functions(spark)

    def responder(req):
        cid = int(req.query["id"][0])
        body = json.dumps({"id": cid, "name": f"u{cid}"}).encode()
        return StubResponse(status=200, body=body)

    stub_server.stub("/people-flush", responder)
    n = 2 * _FLUSH_ROWS + 500  # 3 flushes in the single partition
    rows = spark.sql(f"""
        SELECT id, name
        FROM http_lookup(
            TABLE(SELECT id % 5 AS id FROM range({n}) DISTRIBUTE BY 1),
            url => '{stub_server.url("/people-flush")}',
            on => 'id',
            schema => 'id BIGINT, name STRING',
            select => 'name')
    """).collect()
    assert len(rows) == n
    assert {(r.id, r.name) for r in rows} == {(i, f"u{i}") for i in range(5)}
    # 5 distinct keys per flush x 3 flushes — never one per probe row
    assert len(stub_server.recorded("/people-flush")) <= 15


class TestDdlParserProperties:
    """Hypothesis properties for the hand-rolled recursive-descent DDL
    parser (sqlfn._parse_ddl_struct): round-trip over random nested
    schemas, and total behavior (StructType or ValueError, never a crash
    or hang) on arbitrary input."""

    def test_roundtrip_random_nested_schemas(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st
        from pyspark.sql import types as T

        from flink_connector_http_spark.sqlfn import _parse_ddl_struct

        names = st.from_regex(r"[A-Za-z_][A-Za-z0-9_]{0,7}", fullmatch=True)
        scalars = st.sampled_from([
            ("INT", T.IntegerType()),
            ("BIGINT", T.LongType()),
            ("STRING", T.StringType()),
            ("DOUBLE", T.DoubleType()),
            ("FLOAT", T.FloatType()),
            ("BOOLEAN", T.BooleanType()),
            ("DATE", T.DateType()),
            ("TIMESTAMP", T.TimestampType()),
            ("DECIMAL(12,3)", T.DecimalType(12, 3)),
            ("VARCHAR(9)", T.StringType()),
        ])

        types_strat = st.deferred(lambda: st.one_of(
            scalars,
            st.lists(
                st.tuples(names, types_strat), min_size=1, max_size=3
            ).map(lambda fs: (
                "ROW<" + ", ".join(
                    f"`{n}` {ddl}" for (n, (ddl, _dt)) in fs
                ) + ">",
                T.StructType([
                    T.StructField(n, dt, True) for (n, (_ddl, dt)) in fs
                ]),
            )),
            types_strat.map(lambda t: (
                f"ARRAY<{t[0]}>", T.ArrayType(t[1], True)
            )),
            st.tuples(scalars, types_strat).map(lambda kv: (
                f"MAP<{kv[0][0]}, {kv[1][0]}>",
                T.MapType(kv[0][1], kv[1][1], True),
            )),
        ))
        schemas = st.lists(
            st.tuples(names, types_strat), min_size=1, max_size=4
        )

        @settings(max_examples=150, deadline=None)
        @given(schemas)
        def check(fields):
            ddl = ", ".join(f"{n} {ddl_t}" for (n, (ddl_t, _)) in fields)
            expected = T.StructType([
                T.StructField(n, dt, True) for (n, (_d, dt)) in fields
            ])
            assert _parse_ddl_struct(ddl) == expected

        check()

    def test_total_on_arbitrary_input(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st
        from pyspark.sql import types as T

        from flink_connector_http_spark.sqlfn import _parse_ddl_struct

        @settings(max_examples=300, deadline=None)
        @given(st.text(
            alphabet="abzAZ_09 ,<>():`\t\n.ROWINTarraymap", max_size=60
        ))
        def check(s):
            try:
                out = _parse_ddl_struct(s)
            except ValueError:
                return
            assert isinstance(out, T.StructType) and len(out.fields) >= 1

        check()
