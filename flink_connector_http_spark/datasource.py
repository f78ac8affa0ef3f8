"""``http`` as a first-class Spark format: a PySpark 4 custom DataSource.

.. code-block:: python

    spark.dataSource.register(HttpDataSource)

    spark.read.format("http").schema(ddl) \\
        .option("url", "https://api/items").option("pages", 8).load()

    df.write.format("http").option("url", "https://api/ingest") \\
        .mode("append").save()

    stream.writeStream.format("http").option("url", ...) \\
        .option("checkpointLocation", ...).start()

This is the Spark-native rendering of the reference's Table-API surface —
``'connector' = 'http'`` for the source
(``HttpLookupTableSourceFactory.java:81``) and
``'connector' = 'http-async-sink'`` for the sink
(``HttpDynamicTableSinkFactory.java:42``) — as one registered format
string instead of two factory identifiers. Semantics parity:

- the sink is at-least-once append-only with NO retry of failed batches
  (reference ``HttpSinkWriter.java:129-135``); ``abort`` drops the
  buffered remainder, Spark's task retry re-sends the partition;
- payload framing, batch splitting, error classification, TLS and static
  headers all come from the same ``HttpSinkWriter`` the ``write_http``
  helper uses — one writer per partition task, exactly like the
  reference's one-writer-per-subtask;
- the reader decodes via the pluggable format registry
  (``formats.py``; reference ``lookup-request.format``).

Scale: reads parallelize by page ranges — each ``InputPartition`` owns a
slice of pages, so a paginated REST endpoint is fetched by the whole
cluster concurrently; an unpaged read is a single partition that walks
pages until an empty one (the bounded-driver-memory path is pagination,
not accumulation). Writes fan out per partition with the sink's own
bounded in-flight pool; nothing funnels through the driver.
"""

from __future__ import annotations

import json
import math
import re
from typing import Any, Dict, Iterator, List, Optional, Sequence, Tuple
from urllib.parse import urlencode

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

__all__ = [
    "HttpDataSource",
    "register_http_datasource",
    "http_create_table",
    "http_attach_tables",
    "http_drop_table",
]

#: option parity: http.source.lookup.header.* / http.sink.header.*.
#: NOTE Spark lowercases DataSource option keys, so header NAMES arrive
#: lowercased — fine on the wire (HTTP header names are case-insensitive)
_HEADER_PREFIX = "header."


def _require_url(options: Dict[str, str]) -> str:
    """Spark does NOT forward ``OPTIONS`` of a persistent ``CREATE TABLE
    ... USING http`` to Python data sources (they arrive empty at read/
    write time) — fail with the workaround instead of a bare KeyError."""
    if "url" in options:
        return options["url"]
    # `CREATE TABLE ... USING http LOCATION 'http://...'` (or option
    # `path`) puts the endpoint in the storage path — accept it as the
    # url, which makes the PERSISTENT catalog-table spelling work even
    # though Spark drops a persistent table's OPTIONS for Python data
    # sources (see below).
    path = options.get("path", "")
    if path.startswith(("http://", "https://")):
        return path
    raise ValueError(
        "http data source requires option 'url'. If you created a "
        "persistent table (`CREATE TABLE ... USING http OPTIONS (...)`),"
        " note Spark does not pass its OPTIONS through to Python data "
        "sources — put the endpoint in LOCATION (`CREATE TABLE name (...) "
        "USING http LOCATION 'https://...'`, query string allowed), or "
        "declare the relation as `CREATE [OR REPLACE] TEMPORARY VIEW name "
        "USING http OPTIONS (...)`, or use "
        f"spark.read.format('http').options(...). Received options: "
        f"{sorted(options)}"
    )


def _transport(options: Dict[str, str]):
    """The ``HttpTransport`` of the source's GETs: the ``timeout`` option
    plus TLS and proxy settings (parity with the lookup/sink sides — the
    reference shares http.security.* across every surface via its common
    client factory)."""
    from .client import HttpTransport

    return HttpTransport(
        timeout=float(options.get("timeout", "30")),
        allow_self_signed=options.get("allow_self_signed", "").lower()
        in ("true", "1", "yes"),
        proxy_port=int(options["proxy_port"]) if "proxy_port" in options else None,
        **{
            opt: options[opt]
            for opt in ("server_ca", "client_cert", "client_key",
                        "proxy_host", "proxy_user", "proxy_password")
            if opt in options
        },
    )


def _with_params(url: str, params: Dict[str, Any]) -> str:
    """``url`` with ``params`` appended to its query string."""
    if not params:
        return url
    sep = "&" if "?" in url else "?"
    return f"{url}{sep}{urlencode(params)}"


class _StatusMiss(IOError):
    """A GET whose final status is not one the caller accepts."""


def _get(transport, url: str, headers: Dict[str, str], what: str,
         limiter=None, ok=(200,)):
    """One GET under the default retry policy (``RetryConfig()``: three
    retries 1 s apart on a 500/503/504 or a transport error, Retry-After
    honoured), so a transient error costs one retried request instead of
    a failed Spark task. A final status outside ``ok`` raises
    ``_StatusMiss`` (an ``IOError``) naming ``what``; an exhausted
    transport error re-raises its cause."""
    from .client import http_retry_steps
    from .request import HttpRequestSpec
    from .retry import HttpRetryError, RetryConfig
    from .status import HttpResponseChecker

    spec = HttpRequestSpec(method="GET", url=url, headers=headers, body=None)
    try:
        resp = transport.run([http_retry_steps(
            spec,
            config=RetryConfig(),
            is_retriable_status=HttpResponseChecker().is_temporal_error,
        )], limiter=limiter)[0]
    except HttpRetryError as err:
        if err.cause is not None:
            raise err.cause
        status = err.status_code
    else:
        status = resp.status
    if status not in ok:
        raise _StatusMiss(f"{what} returned status {status}")
    return resp


def _auth_headers_factory(options: Dict[str, str]):
    """Per-request header builder with auth parity: Basic auth values are
    base64-encoded; when ``oidc_token_endpoint`` + ``oidc_token_request``
    are set, a bearer token is fetched lazily and REWRITTEN PER REQUEST
    (the reference's at-request-time rule, never at plan time) so a token
    expiring mid-partition refreshes transparently. Returns a zero-arg
    callable; construct it INSIDE read() — the OIDC manager holds a lock
    and must not ride along in the pickled reader."""
    from .auth import (
        AUTHORIZATION,
        OidcAccessTokenManager,
        basic_auth_value,
        preprocess_headers,
    )

    raw = _headers_from_options(options)
    pre = {AUTHORIZATION: basic_auth_value}
    if options.get("oidc_token_endpoint") and options.get("oidc_token_request"):
        manager = OidcAccessTokenManager(
            options["oidc_token_endpoint"],
            options["oidc_token_request"],
            expiry_reduction=float(options.get("oidc_expiry_reduction", "1")),
        )
        pre = {AUTHORIZATION: manager.authorization_preprocessor()}
        raw.setdefault(AUTHORIZATION, "")
        return lambda: preprocess_headers(dict(raw), pre)
    static = preprocess_headers(raw, pre)
    return lambda: static


def _headers_from_options(options: Dict[str, str]) -> Dict[str, str]:
    return {
        k[len(_HEADER_PREFIX):]: v
        for k, v in options.items()
        if k.startswith(_HEADER_PREFIX)
    }


def _resolve_format(options: Dict[str, str], fmt: str):
    """Resolve the response decoder for a Python-DataSource reader.

    Spark runs the DataSource in its own Python worker — NOT the user's
    driver process — so `register_format` calls made in user code are
    invisible here. The custom-format SPI for this path is therefore an
    IMPORT hook (the Spark analogue of the reference's factory-discovery
    SPI, ``table/http.md:449-478``): pass ``format_module`` naming an
    importable module whose import registers the format; it is imported
    in whichever process resolves the name."""
    mod = options.get("format_module")
    if mod:
        import importlib

        importlib.import_module(mod)
    from .formats import resolve_decoder

    return resolve_decoder(fmt)


def _coerce_record(rec: Dict[str, Any], schema: T.StructType) -> tuple:
    from .lookup import _coerce

    return tuple(_coerce(rec.get(f.name), f.dataType) for f in schema.fields)


def _arrow_column(values: List[Any], arrow_type, data_type: T.DataType):
    """One page column → one Arrow array of ``arrow_type``, equal to
    ``pa.array([_coerce(v, data_type) for v in values], type=arrow_type)``.

    ``pa.array(values)`` converts the column in C once, and its result is
    kept when its type is ``arrow_type``. Every other outcome — another
    inferred type (an all-null column, ints in an INT or DOUBLE column) or
    an inference error — falls back to ``_coerce`` per value for this
    column only, which stays the definition for JSON strings in number
    columns, ISO dates and timestamps, bool strings and the like."""
    import pyarrow as pa

    try:
        arr = pa.array(values)
        if arr.type == arrow_type:
            return arr
    except (pa.ArrowException, OverflowError):
        pass  # the per-value path below decides, or raises
    from .lookup import _coerce

    return pa.array([_coerce(v, data_type) for v in values], type=arrow_type)


class _PageRange(InputPartition):
    def __init__(self, start: int, end: int):  # [start, end)
        self.start = start
        self.end = end


class _CursorChain(InputPartition):
    """Cursor-paginated read: the server hands back an opaque next-page
    token, so the chain is INHERENTLY sequential — one partition walks
    it. (Contrast ?page=N, where known page numbers parallelize; a
    cursor API's parallel story is serving several disjoint chains as
    several DataFrames, or the head-endpoint page mode.)"""

    def __init__(self) -> None:
        super().__init__(value=0)


class HttpBatchReader(DataSourceReader):
    """Paged GET reader: each partition fetches its page slice and decodes
    records with the registered format decoder."""

    def __init__(self, options: Dict[str, str], schema: T.StructType) -> None:
        self.options = dict(options)
        self.read_schema = schema
        self.url = _require_url(options)
        self.fmt = options.get("format", "json")
        self.page_param = options.get("page_param", "page")
        # cursor mode: the response is an ENVELOPE {items_path: [...],
        # cursor_path: "<opaque token>"}; the reader follows tokens until
        # the server omits/nulls the cursor (GitHub/Slack/Stripe-style
        # pagination — the other common REST shape next to ?page=N)
        self.cursor_path = options.get("cursor_path")
        self.cursor_param = options.get("cursor_param", "cursor")
        self.items_path = options.get("items_path", "items")
        # RFC-5988 Link-header pagination: follow <url>; rel="next" from
        # the named response header (GitHub's canonical shape); the body
        # stays a bare record array, no envelope needed
        self.cursor_header = options.get("cursor_header")
        self.pages = int(options["pages"]) if "pages" in options else None
        self.pages_per_partition = max(
            1, int(options.get("pages_per_partition", "1"))
        )
        # auto-parallelization from a server-published total (e.g.
        # 'X-Total-Count'): when `pages` is not given, the planner probes
        # page 0 once, derives pages = ceil(total / page_size), and fans
        # the read out across partitions instead of walking pages
        # sequentially in ONE task. Off by default (probe-until-empty).
        self.total_count_header = options.get("total_count_header")
        self.timeout = float(options.get("timeout", "30"))
        # per-partition request rate cap (SURVEY §7 scale addition);
        # the TokenBucket itself is built inside read() — it holds a
        # lock, and reader objects must stay picklable
        self.rate_limit = (
            float(options["rate_limit"]) if "rate_limit" in options else None
        )
        self.rate_limit_burst = (
            float(options["rate_limit_burst"])
            if "rate_limit_burst" in options
            else None
        )
        self.decoder = _resolve_format(options, self.fmt)
        # filter pushdown → query params (see pushFilters)
        self.filter_params_enabled = (
            options.get("filter_params", "true").lower() == "true"
        )
        self.pushed_params: Dict[str, str] = {}

    def pushFilters(self, filters):
        """Equality filters on top-level columns become query parameters —
        the scan-path analogue of the reference's lookup-key pushdown
        (``GenericGetQueryCreator``: keys → ``?col=value``). Pushdown is
        PARTIAL on purpose: every filter is also returned for Spark to
        re-evaluate after the scan, so a server that ignores the extra
        parameters still yields correct results, while a server that
        honors them ships less data. Disable with ``filter_params
        'false'`` for endpoints that reject unknown parameters."""
        from pyspark.sql.datasource import EqualTo

        if self.filter_params_enabled:
            for f in filters:
                if (
                    isinstance(f, EqualTo)
                    and len(f.attribute) == 1
                    and isinstance(f.value, (str, int, float, bool))
                    and f.attribute[0] != self.page_param
                ):
                    self.pushed_params[f.attribute[0]] = str(f.value)
        return filters  # all re-evaluated by Spark (partial pushdown)

    def partitions(self) -> Sequence[InputPartition]:
        if self.cursor_path or self.cursor_header:
            return [_CursorChain()]
        pages = self.pages
        if pages is None and self.total_count_header:
            pages = self._plan_pages_from_total()
        if pages is None:
            # unpaged: one partition walking pages until an empty response
            return [_PageRange(0, -1)]
        if pages == 0:
            # a planned-empty read: Spark rejects an empty partition list,
            # so emit one empty range (start == end fetches nothing)
            return [_PageRange(0, 0)]
        return [
            _PageRange(lo, min(lo + self.pages_per_partition, pages))
            for lo in range(0, pages, self.pages_per_partition)
        ]

    def _plan_pages_from_total(self) -> Optional[int]:
        """Driver-side planning probe: fetch page 0, read the configured
        total-count header, and derive the page count from the first
        page's record count. Returns None (→ sequential probing walk) on
        any miss — absent/unparsable header, non-200, or an empty first
        page. A transport error that outlasts the retries fails the read
        here: the walk's page 0 would only spend the same schedule again.
        Costs one duplicate fetch of page 0 (the planner's copy is
        discarded; partition 0 re-reads it), which buys a fan-out of the
        remaining N-1 pages across the cluster."""
        params = {self.page_param: 0, **self.pushed_params}
        try:
            resp = _get(
                _transport(self.options), _with_params(self.url, params),
                _auth_headers_factory(self.options)(), "HTTP read: planning probe",
            )
        except _StatusMiss:
            return None
        try:
            total = None
            want = self.total_count_header.lower()
            for name, value in resp.headers:
                if name.lower() == want:
                    total = int(value)
                    break
            if total is None or total < 0:
                return None
            if total == 0:
                return 0
            records = self.decoder(resp.body)
            if isinstance(records, dict):
                records = [records]
            page_size = len(records)
            if page_size <= 0:
                return None
            return -(-total // page_size)
        except Exception:  # noqa: BLE001 — a header or body miss: walk instead
            return None

    def _fetch_page(
        self, transport, decoder, headers, page: int, limiter=None
    ) -> List[dict]:
        params = {self.page_param: page, **self.pushed_params}
        resp = _get(
            transport, _with_params(self.url, params), headers(),
            f"HTTP read: page {page}", limiter,
        )
        decoded = decoder(resp.body)
        if isinstance(decoded, dict):
            decoded = [decoded]
        return decoded

    _ARROW_SAFE = (
        T.StringType, T.IntegerType, T.LongType, T.ShortType, T.ByteType,
        T.DoubleType, T.FloatType, T.BooleanType, T.DateType,
        T.TimestampType, T.BinaryType,
    )

    def _arrow_schema(self):
        """Arrow schema when every declared column is a flat arrow-safe
        type, else None (→ per-row tuple emission). Decided ONCE so one
        partition's iterator is homogeneous — mixing RecordBatches and
        tuples in a single read() is undefined."""
        if not all(
            isinstance(f.dataType, self._ARROW_SAFE)
            for f in self.read_schema.fields
        ):
            return None
        try:
            from pyspark.sql.pandas.types import to_arrow_schema

            return to_arrow_schema(self.read_schema)
        except Exception:
            return None

    def _emit_page(self, records: List[dict], arrow_schema):
        """One fetched page → one Arrow RecordBatch (columnar transfer to
        the JVM, no per-row pickling) when the schema allows, else rows.

        The batch is built column by column: each column gathers
        ``rec.get(name)`` over the page and converts with one
        ``pa.array`` call, falling back to per-value ``_coerce`` only for
        a column whose JSON values do not already carry the declared type
        (see :func:`_arrow_column`). Without an Arrow schema every record
        becomes a ``_coerce_record`` tuple."""
        if arrow_schema is None:
            yield from (_coerce_record(rec, self.read_schema) for rec in records)
            return
        import pyarrow as pa

        cols = [
            _arrow_column(
                [rec.get(f.name) for rec in records], af.type, f.dataType
            )
            for f, af in zip(self.read_schema.fields, arrow_schema)
        ]
        yield pa.RecordBatch.from_arrays(cols, schema=arrow_schema)

    def read(self, partition: InputPartition):
        transport = _transport(self.options)
        decoder = self.decoder
        headers = _auth_headers_factory(self.options)
        limiter = None
        if self.rate_limit:
            from .ratelimit import TokenBucket

            limiter = TokenBucket(self.rate_limit, self.rate_limit_burst)
        arrow_schema = self._arrow_schema()
        if isinstance(partition, _CursorChain):
            yield from self._read_cursor_chain(
                transport, decoder, headers, limiter, arrow_schema
            )
            return
        assert isinstance(partition, _PageRange)
        if partition.end == -1:  # unpaged walk
            page = partition.start
            while True:
                records = self._fetch_page(
                    transport, decoder, headers, page, limiter
                )
                if not records:
                    return
                yield from self._emit_page(records, arrow_schema)
                page += 1
        else:
            for page in range(partition.start, partition.end):
                records = self._fetch_page(
                    transport, decoder, headers, page, limiter
                )
                if records:
                    yield from self._emit_page(records, arrow_schema)

    @staticmethod
    def _link_next(resp_headers) -> Optional[str]:
        """``<url>; rel="next"`` target from an RFC-5988 Link header
        value list (case-insensitive header match, any rel ordering)."""
        import re as _re

        for name, value in resp_headers:
            if name.lower() != "link":
                continue
            for part in value.split(","):
                m = _re.search(r"<([^>]*)>", part)
                if m and _re.search(
                    r'rel\s*=\s*"?next"?', part, _re.IGNORECASE
                ):
                    return m.group(1)
        return None

    def _read_cursor_chain(
        self, transport, decoder, headers, limiter, arrow_schema
    ):
        cursor = None
        next_url = None
        seen = set()  # a server echoing a stale cursor must not loop us
        while True:
            if self.cursor_header:
                url = next_url or _with_params(self.url, self.pushed_params)
                # seed with every FETCHED url (incl. page 1): a Link
                # chain cycling back to the first page must error before
                # re-emitting its rows, not after
                seen.add(url)
            else:
                params = dict(self.pushed_params)
                if cursor is not None:
                    params[self.cursor_param] = cursor
                url = _with_params(self.url, params)
            resp = _get(
                transport, url, headers(), "HTTP read: cursor page", limiter
            )
            decoded = decoder(resp.body)
            if self.cursor_header:
                records = (
                    decoded if isinstance(decoded, list)
                    else [decoded] if decoded else []
                )
                if records:
                    yield from self._emit_page(records, arrow_schema)
                next_url = self._link_next(resp.headers)
                if not next_url:
                    return
                if next_url in seen:
                    raise ValueError(
                        f"cursor pagination loop: URL {next_url!r} repeated"
                    )
                seen.add(next_url)
                continue
            if not isinstance(decoded, dict):
                raise ValueError(
                    "cursor-paginated endpoint must return an object "
                    f"envelope with {self.items_path!r} and "
                    f"{self.cursor_path!r} fields, got "
                    f"{type(decoded).__name__}"
                )
            records = decoded.get(self.items_path) or []
            if records:
                yield from self._emit_page(records, arrow_schema)
            cursor = decoded.get(self.cursor_path)
            if cursor is None or cursor == "":
                return
            cursor = str(cursor)
            if cursor in seen:
                raise ValueError(
                    f"cursor pagination loop: token {cursor!r} repeated"
                )
            seen.add(cursor)


class _SinkDone(WriterCommitMessage):
    def __init__(self, records: int, requests: int, errors: int):
        self.records = records
        self.requests = requests
        self.errors = errors


def _sink_options(options: Dict[str, str]) -> "HttpSinkOptions":
    from .options import HttpSinkOptions

    kw: Dict[str, Any] = {}
    ints = {
        "flush_batch_size": "flush_batch_size",
        "batch_size": "batch_size",
        "max_batch_bytes": "max_batch_bytes",
        "max_record_bytes": "max_record_bytes",
        "max_inflight": "max_inflight",
        "max_buffered": "max_buffered",
        "writer_pool_size": "writer_pool_size",
    }
    for opt, field in ints.items():
        if opt in options:
            kw[field] = int(options[opt])
    if "method" in options:
        kw["insert_method"] = options["method"].upper()
    if "request_mode" in options:
        kw["request_mode"] = options["request_mode"]
    if "max_time_in_buffer" in options:
        kw["max_time_in_buffer"] = float(options["max_time_in_buffer"])
    if "error_codes" in options:
        kw["error_codes"] = options["error_codes"]
    if "timeout" in options:
        kw["request_timeout"] = float(options["timeout"])
    for opt in ("rate_limit", "rate_limit_burst"):
        if opt in options:
            kw[opt] = float(options[opt])
    # TLS parity (HttpSinkOptions carries these into the sink transport)
    for opt in ("server_ca", "client_cert", "client_key"):
        if opt in options:
            kw[opt] = options[opt]
    if options.get("allow_self_signed", "").lower() in ("true", "1", "yes"):
        kw["allow_self_signed"] = True
    headers = _headers_from_options(options)
    if headers:
        kw["headers"] = headers
    return HttpSinkOptions(**kw)


def _json_row(row: Dict[str, Any]) -> str:
    """One row as RFC 8259 JSON. A NaN or infinite float goes out as the
    string ``"NaN"``, ``"Infinity"`` or ``"-Infinity"``, as Spark's
    ``to_json`` writes it; rows without one take the plain ``json.dumps``."""
    try:
        return json.dumps(row, default=str, separators=(",", ":"), allow_nan=False)
    except ValueError:
        return json.dumps(_finite(row), default=str, separators=(",", ":"))


def _finite(value):
    if isinstance(value, float) and not math.isfinite(value):
        return "NaN" if value != value else "Infinity" if value > 0 else "-Infinity"
    if isinstance(value, dict):
        return {k: _finite(v) for k, v in value.items()}
    if isinstance(value, (list, tuple)):
        return [_finite(v) for v in value]
    return value


class HttpBatchWriter(DataSourceWriter):
    """One ``HttpSinkWriter`` per partition task (reference:
    one-writer-per-subtask, ``sink/HttpSinkInternal.java:134-185``)."""

    def __init__(self, options: Dict[str, str], schema: T.StructType) -> None:
        self.url = _require_url(options)
        self.options = dict(options)
        self.schema = schema

    def write(self, iterator: Iterator) -> WriterCommitMessage:
        from .sink import HttpSinkWriter
        from .types import HttpSinkRequestEntry

        opts = _sink_options(self.options)
        writer = HttpSinkWriter(self.url, opts)
        n = 0
        try:
            for row in iterator:
                payload = _json_row(row.asDict(recursive=True))
                writer.write(
                    HttpSinkRequestEntry(
                        method=opts.insert_method, payload=payload.encode("utf-8")
                    )
                )
                n += 1
            writer.flush()
        finally:
            errors = writer.send_errors
            requests = writer.requests_sent
            writer.close()
        return _SinkDone(records=n, requests=requests, errors=errors)

    def commit(self, messages: List[Optional[WriterCommitMessage]]) -> None:
        pass  # at-least-once: requests already fired per partition

    def abort(self, messages: List[Optional[WriterCommitMessage]]) -> None:
        pass  # unsent buffer dropped with the task; Spark retries the partition


class HttpStreamWriter(DataSourceStreamWriter):
    """Streaming sink: identical per-partition write path; commit/abort
    are bookkeeping only (at-least-once on micro-batch replay — the same
    guarantee level as the reference sink, which never retries a failed
    request, ``HttpSinkWriter.java:129-135``)."""

    def __init__(self, options: Dict[str, str], schema: T.StructType) -> None:
        self._delegate = HttpBatchWriter(options, schema)

    def write(self, iterator: Iterator) -> WriterCommitMessage:
        return self._delegate.write(iterator)

    def commit(
        self, messages: List[Optional[WriterCommitMessage]], batchId: int
    ) -> None:
        pass

    def abort(
        self, messages: List[Optional[WriterCommitMessage]], batchId: int
    ) -> None:
        pass


class HttpPollingStreamReader(SimpleDataSourceStreamReader):
    """``spark.readStream.format("http")`` — a polling source over a paged
    REST feed. The offset is the next unread page cursor, so an
    append-only endpoint (a changelog/export feed that only ever adds
    pages) becomes a replayable stream: ``readBetweenOffsets`` re-fetches
    a committed page range verbatim on recovery. Exactly-once therefore
    holds IF pages are immutable once published — for mutable feeds the
    guarantee degrades to at-least-once, same as any re-pollable source.

    This is the simple (driver-polling) reader: the right shape for
    control-plane-rate feeds. High-volume ingest should land the feed on
    object storage and use the file source; the batch reader
    (``spark.read.format("http")``) already fans pages out per executor.
    """

    def __init__(self, options: Dict[str, str], schema: T.StructType) -> None:
        # the batch reader supplies the url, page parameter, format decode
        # and the column-wise page emission
        self._batch = HttpBatchReader(options, schema)
        self.options = dict(options)
        self.max_pages_per_batch = max(
            1, int(options.get("max_pages_per_batch", "10"))
        )
        self._transport = None
        # conditional-GET state for the poll hot loop: when caught up,
        # every trigger re-fetches the SAME head page — if the endpoint
        # publishes ETag/Last-Modified, revalidate instead of re-download
        # (one entry: only the most recent page URL is ever re-polled)
        self._cond_cache: Optional[Tuple[str, str, str, List[dict]]] = None

    def _fetch_page(self, page: int) -> List[dict]:
        if self._transport is None:
            self._transport = _transport(self.options)
            self._headers = _auth_headers_factory(self.options)
        batch = self._batch
        url = _with_params(batch.url, {batch.page_param: page})
        headers = dict(self._headers())
        cached = self._cond_cache
        # a cached entry always carries an ETag or a Last-Modified
        revalidate = cached is not None and cached[0] == url
        if revalidate:
            _, etag, last_mod, _records = cached
            if etag:
                headers["If-None-Match"] = etag
            if last_mod:
                headers["If-Modified-Since"] = last_mod
        resp = _get(
            self._transport, url, headers, f"HTTP stream: page {page}",
            ok=(200, 304) if revalidate else (200,),
        )
        if resp.status == 304:
            return cached[3]  # not modified: the validated cached page
        decoded = batch.decoder(resp.body)
        if isinstance(decoded, dict):
            decoded = [decoded]
        validators = {k.lower(): v for k, v in resp.headers}
        etag = validators.get("etag", "")
        last_mod = validators.get("last-modified", "")
        if etag or last_mod:
            self._cond_cache = (url, etag, last_mod, decoded)
        elif revalidate:
            self._cond_cache = None  # this URL stopped validating
        return decoded

    def _emit(self, records: List[dict]):
        return self._batch._emit_page(records, self._batch._arrow_schema())

    # -- SimpleDataSourceStreamReader contract -----------------------------
    def initialOffset(self) -> dict:
        return {"page": int(self.options.get("start_page", "0"))}

    def read(self, start: dict):
        page = int(start["page"])
        batches: list = []
        for _ in range(self.max_pages_per_batch):
            records = self._fetch_page(page)
            if not records:
                break  # caught up: empty page = feed head
            batches.extend(self._emit(records))
            page += 1
        return iter(batches), {"page": page}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator:
        for page in range(int(start["page"]), int(end["page"])):
            yield from self._emit(self._fetch_page(page))

    def commit(self, end: dict) -> None:
        pass  # the page cursor lives in the checkpoint; nothing to ack


class HttpDistributedStreamReader(DataSourceStreamReader):
    """Executor-distributed streaming reader — the scale path for
    high-volume paged feeds, used when the endpoint can report its head
    (``pages_url`` option). Per micro-batch the DRIVER does exactly one
    tiny head probe (``latestOffset``); the page-range data fetches fan
    out to executors (``partitions`` → ``read``), unlike the fallback
    :class:`HttpPollingStreamReader`, which pulls every page through the
    driver. This is the Kafka-shaped contract: a cheap broker-side head
    pointer makes offset discovery O(1) while data movement stays fully
    parallel.

    ``pages_url`` must return the count of published pages — either a
    bare JSON integer or an object carrying it under ``pages_field``
    (default ``"pages"``). Page ranges are replayed verbatim from the
    checkpoint on recovery, so exactly-once holds iff published pages are
    immutable (same contract as the simple reader). ``max_pages_per_batch``
    caps a micro-batch after downtime; ``pages_per_partition`` sizes the
    executor fan-out; ``rate_limit`` applies per partition task.
    """

    def __init__(self, options: Dict[str, str], schema: T.StructType) -> None:
        # the batch reader supplies the executor-side fetch/emit machinery
        # (keep-alive transport, format decode, arrow emission, rate limit)
        self._batch = HttpBatchReader(options, schema)
        self.options = dict(options)
        self.pages_url = options["pages_url"]
        self.pages_field = options.get("pages_field", "pages")
        self.start_page = int(options.get("start_page", "0"))
        self.max_pages_per_batch = max(
            1, int(options.get("max_pages_per_batch", "64"))
        )
        self.pages_per_partition = max(
            1, int(options.get("pages_per_partition", "1"))
        )
        self._last: Optional[int] = None
        self._transport = None

    def _head_pages(self) -> int:
        """One driver-side GET against the head endpoint."""
        if self._transport is None:
            self._transport = _transport(self.options)
            self._headers = _auth_headers_factory(self.options)
        resp = _get(
            self._transport, self.pages_url, self._headers(),
            "HTTP stream: head probe",
        )
        payload = json.loads(resp.body)
        head = payload[self.pages_field] if isinstance(payload, dict) else payload
        return int(head)

    def initialOffset(self) -> dict:
        self._last = self.start_page
        return {"page": self.start_page}

    def latestOffset(self) -> dict:
        head = self._head_pages()
        if self._last is not None:
            # cap catch-up batches; a feed head never moves backwards, so
            # also guard against a transiently stale counter
            head = max(self._last, min(head, self._last + self.max_pages_per_batch))
        self._last = head
        return {"page": head}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        lo, hi = int(start["page"]), int(end["page"])
        if self._last is None or hi > self._last:
            self._last = hi  # restart path: adopt the checkpointed cursor
        if hi <= lo:
            return [_PageRange(lo, lo)]  # empty batch
        return [
            _PageRange(p, min(p + self.pages_per_partition, hi))
            for p in range(lo, hi, self.pages_per_partition)
        ]

    def read(self, partition: InputPartition):
        # executor-side: identical fetch loop to the batch reader
        return self._batch.read(partition)

    def commit(self, end: dict) -> None:
        pass  # page cursor lives in the checkpoint


class HttpDataSource(DataSource):
    """``format("http")`` — paged REST reads, batched HTTP writes."""

    @classmethod
    def name(cls) -> str:
        return "http"

    def schema(self):
        try:
            return self.options["schema"]
        except KeyError:
            raise ValueError(
                "http source needs a schema: pass .schema(ddl) or "
                ".option('schema', ddl)"
            )

    def reader(self, schema: T.StructType) -> DataSourceReader:
        return HttpBatchReader(self.options, schema)

    def writer(self, schema: T.StructType, overwrite: bool) -> DataSourceWriter:
        if overwrite:
            raise ValueError("http sink is append-only (streaming append mode)")
        return HttpBatchWriter(self.options, schema)

    def streamWriter(
        self, schema: T.StructType, overwrite: bool
    ) -> DataSourceStreamWriter:
        return HttpStreamWriter(self.options, schema)

    def streamReader(self, schema: T.StructType) -> DataSourceStreamReader:
        """Executor-distributed reader when the feed exposes a head
        endpoint (``pages_url``); otherwise raise so Spark falls back to
        the driver-polling :meth:`simpleStreamReader`
        (``pyspark.sql.datasource_internal._streamReader`` contract)."""
        if "pages_url" in self.options:
            return HttpDistributedStreamReader(self.options, schema)
        from pyspark.errors import PySparkNotImplementedError

        raise PySparkNotImplementedError(
            errorClass="NOT_IMPLEMENTED",
            messageParameters={"feature": "streamReader"},
        )

    def simpleStreamReader(
        self, schema: T.StructType
    ) -> SimpleDataSourceStreamReader:
        return HttpPollingStreamReader(self.options, schema)


def register_http_datasource(spark) -> None:
    # the reader implements pushFilters(); Spark refuses to construct such
    # a reader unless Python-datasource filter pushdown is switched on
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(HttpDataSource)


# --- persistent catalog-table spelling (reference DDL-first idiom) ----------
#
# The reference declares endpoints as PERMANENT tables:
# ``CREATE TABLE ... WITH ('connector' = 'http', ...)``
# (docs/content/docs/connectors/table/http.md:84-121). Spark cannot honor
# that spelling directly for Python data sources — a persistent
# ``CREATE TABLE ... USING http OPTIONS (...)`` stores NEITHER the provider
# options nor the LOCATION where the reader can see them (they arrive empty;
# verified on PySpark 4.1, see test_sql_ddl.py) — so the durable definition
# lives in a tiny managed catalog table of our own and each session shadows
# it with the equivalent TEMPORARY VIEW, which Spark resolves FIRST for
# unqualified names. Net effect: definitions survive sessions (metastore-
# backed like the reference's catalog), and plain ``SELECT``/``INSERT INTO``
# by name work in any session after one ``http_attach_tables(spark)`` call
# (the same one-call session setup as ``register_http_datasource``).

_HTTP_TABLE_REGISTRY = "http_table_registry"

# Registered names become both SQL view identifiers and registry
# subdirectory names, so they must be bare identifiers — anything else
# would splice into the CREATE VIEW statement (SQL injection) or produce
# hostile paths.
_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _check_ident(name: str) -> str:
    if not _IDENT_RE.match(name or ""):
        raise ValueError(
            f"http table name {name!r} must be a bare SQL identifier "
            "([A-Za-z_][A-Za-z0-9_]*)"
        )
    return name


def _options_sql(options: Dict[str, str]) -> str:
    def q(v: str) -> str:
        return "'" + str(v).replace("'", "''") + "'"

    # keys as quoted string literals: Spark's OPTIONS grammar accepts
    # STRING keys, and quoting makes dotted/dashed keys (header.*) safe
    # instead of splicing raw text into the statement
    return ", ".join(f"{q(k)} {q(v)}" for k, v in sorted(options.items()))


def _registry_path(spark) -> str:
    """Warehouse-backed registry location. Plain parquet (not saveAsTable):
    a session with the default in-memory catalog loses table ENTRIES on
    restart while the warehouse files persist — the files must be the
    durable truth for definitions to survive sessions."""
    from urllib.parse import urlparse

    wh = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    )
    parsed = urlparse(wh)
    base = parsed.path if parsed.scheme in ("", "file") else wh
    return base.rstrip("/") + "/" + _HTTP_TABLE_REGISTRY


def _registry_fs(spark, path: str):
    """(Hadoop FileSystem, Path) pair for any warehouse scheme."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def _migrate_flat_registry(spark) -> None:
    """One-time layout upgrade: the pre-round-5 registry was a single
    overwrite-the-world parquet directory (flat part files under the
    registry root). Rewrite each entry into its own ``<root>/<name>/``
    subdirectory so create/drop touch only their own entry, then remove
    the flat files. No-op once migrated."""
    root = _registry_path(spark)
    fs, jroot = _registry_fs(spark, root)
    if not fs.exists(jroot):
        return
    flat = [
        st.getPath()
        for st in fs.listStatus(jroot)
        if st.isFile() and not st.getPath().getName().startswith("_")
    ]
    if not flat:
        return
    rows = spark.read.parquet(*[p.toString() for p in flat]).collect()
    for r in rows:
        # a non-identifier legacy name (e.g. a crafted '../x') is skipped,
        # not written: _write_entry enforces _check_ident, and one bad row
        # must not wedge the migration for every valid table
        if r["name"] and _IDENT_RE.match(r["name"]):
            _write_entry(spark, r["name"], json.loads(r["options_json"]))
    for st in fs.listStatus(jroot):
        if st.isFile():
            fs.delete(st.getPath(), False)


def _registry_rows(spark) -> List[Dict[str, str]]:
    from pyspark.errors import AnalysisException

    _migrate_flat_registry(spark)
    try:
        rows = (
            spark.read.option("recursiveFileLookup", "true")
            .parquet(_registry_path(spark))
            .collect()
        )
    except AnalysisException:  # registry never written
        return []
    return [
        {"name": r["name"], "options": json.loads(r["options_json"])}
        for r in rows
    ]


def _write_entry(spark, name: str, options: Dict[str, str]) -> None:
    """Write ONE table's definition to its own subdirectory. Concurrent
    sessions defining different tables never touch each other's entries;
    a failed write can only damage this one definition. The name is
    validated HERE too (not only at the SQL entry points): legacy rows
    fed in by _migrate_flat_registry must never become path segments
    like '../x' at migration time."""
    spark.createDataFrame(
        [(name, json.dumps(options, sort_keys=True))],
        "name string, options_json string",
    ).coalesce(1).write.mode("overwrite").parquet(
        _registry_path(spark) + "/" + _check_ident(name)
    )


def _delete_entry(spark, name: str) -> None:
    path = _registry_path(spark) + "/" + _check_ident(name)
    fs, jpath = _registry_fs(spark, path)
    if fs.exists(jpath):
        fs.delete(jpath, True)


def _attach_one(spark, name: str, options: Dict[str, str]) -> None:
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW {_check_ident(name)} "
        f"USING http OPTIONS ({_options_sql(options)})"
    )


def http_create_table(
    spark,
    name: str,
    *,
    url: str,
    schema: str,
    replace: bool = False,
    options: Optional[Dict[str, str]] = None,
    **kw_options: str,
) -> None:
    """Durable ``CREATE TABLE``-equivalent for an HTTP endpoint: persists
    the definition in the session catalog's warehouse (survives sessions)
    and attaches it to this session immediately. ``schema`` is a DDL
    string; extra options are the same option map the TEMPORARY VIEW
    spelling takes — pass bare keys as keywords (method, pages,
    batch_size, ...) and dotted/dashed keys (header.*) via the
    ``options`` dict, which kwargs cannot spell."""
    _check_ident(name)
    opts = {"url": url, "schema": schema,
            **{k: str(v) for k, v in (options or {}).items()},
            **{k: str(v) for k, v in kw_options.items()}}
    if any(r["name"] == name for r in _registry_rows(spark)):
        if not replace:
            raise ValueError(
                f"http table {name!r} already exists "
                "(pass replace=True to redefine)"
            )
    _write_entry(spark, name, opts)
    _attach_one(spark, name, opts)


def http_attach_tables(spark) -> List[str]:
    """Attach every registered HTTP table to this session (one call at
    session start, after :func:`register_http_datasource`). Returns the
    attached table names."""
    names = []
    for row in _registry_rows(spark):
        _attach_one(spark, row["name"], row["options"])
        names.append(row["name"])
    return names


def http_drop_table(spark, name: str, if_exists: bool = False) -> None:
    """Remove a registered HTTP table: durable definition + this
    session's view."""
    if not any(r["name"] == name for r in _registry_rows(spark)):
        if if_exists:
            return
        raise ValueError(f"http table {name!r} does not exist")
    _delete_entry(spark, name)
    spark.catalog.dropTempView(name)
