"""HTTP lookup table + lookup-join enrichment operator (the flagship).

Re-expresses the reference's lookup source (SURVEY §2.1 S1-S3, §2.3 J1-J3)
Spark-first: one narrow ``mapInPandas`` stage — no shuffle, exactly like the
reference's lookup join stays shuffle-free — with per-Arrow-batch **distinct
key** extraction (an optimization the reference lacks: it fires one HTTP call
per probe row, cache aside), a thread-pooled client (reference's async pools,
``AsyncHttpTableLookupFunction.java:40-42,94-115``), and a per-executor
LRU+TTL cache (reference ``DefaultLookupCache`` wiring,
``HttpLookupTableSourceFactory.java:241-250``).

Semantics parity (reference ``HttpTableLookupFunction.java:102-197`` and
``docs/.../table/http.md:203-243,701-746``):

- inner-join emptiness: no result rows + no metadata columns requested ⇒
  emit nothing for that probe row; with metadata columns requested ⇒ emit
  one row with null enrichment + populated metadata (``table/http.md:712-714``)
- join-key backfill: result columns that are join keys and came back null
  get the probe-side key value copied in
  (``HttpTableLookupFunction.java:122-169``)
- array results multiply the probe row (result-type=array,
  ``JavaNetHttpPollingClient.java:340-376``)
- projection pushdown: the JSON decode schema is pruned to the requested
  lookup columns before any HTTP work
  (``HttpLookupTableSource.java:109-111,202-204``)
- metadata pushdown: only requested metadata columns are computed
  (``HttpLookupTableSource.java:302-340``)

Works identically on batch DataFrames and on Structured Streaming
micro-batches (processing-time temporal-join semantics by construction —
``table/http.md:116-119``).
"""

from __future__ import annotations

import datetime as _dt
import decimal
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from concurrent.futures import TimeoutError as FuturesTimeoutError
from dataclasses import dataclass, field
from typing import Any, Dict, Iterable, Iterator, List, Mapping, Optional, Sequence, Tuple, Union

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .cache import LruTtlCache, shared_cache
from .client import HttpPollingClient
from .options import HttpLookupOptions
from .types import HttpCompletionState, HttpLookupResult, metadata_schema

__all__ = ["HttpLookupTable", "http_lookup_join"]

import logging

logger = logging.getLogger(__name__)

#: distinct keys in one probe batch above which the per-key GET model is
#: known to saturate (BENCH r8: per-key GETs hit an 8x wall at 10x data
#: while 50-key batch POSTs stayed at 2.5x) — one advisory per executor
#: names the scale path instead of letting users discover it in prod
BATCH_LOOKUP_ADVISORY_THRESHOLD = 200
_batch_advisory_emitted = False


def _maybe_advise_batch_lookup(n_distinct: int) -> bool:
    """Log a one-time advisory when a per-key lookup batch is large enough
    that ``http.source.lookup.request.batch.size`` (multi-key POST batch
    lookup) would cut request volume by the batch factor. Returns whether
    the advisory fired (for tests)."""
    global _batch_advisory_emitted
    if _batch_advisory_emitted or n_distinct < BATCH_LOOKUP_ADVISORY_THRESHOLD:
        return False
    _batch_advisory_emitted = True
    logger.warning(
        "http_lookup_join fired %d per-key requests for one probe batch; "
        "at this key volume the per-key GET model saturates the endpoint "
        "(measured 8x at 10x data). If the endpoint supports multi-key "
        "lookup, set http.source.lookup.request.batch.size "
        "(lookup_batch_size) to batch ~50 keys per POST.",
        n_distinct,
    )
    return True


@dataclass(frozen=True)
class HttpLookupTable:
    """Declares a REST endpoint as a lookup table (reference S1:
    ``HttpLookupTableSourceFactory.java:97-133``, connector id ``"http"``).

    ``schema`` is the *declared* physical row type of one decoded result —
    never inferred, mirroring the reference's DDL-driven schema.
    """

    url: str
    schema: T.StructType
    options: HttpLookupOptions = field(default_factory=HttpLookupOptions)

    def fingerprint(self) -> Tuple:
        # callables are fingerprinted by qualified NAME, not repr: a
        # pickled function deserializes at a fresh address per task, and
        # an address-bearing repr would miss the per-executor client cache
        # on every task (one new connection pool per task instead of one
        # per executor)
        import dataclasses

        def _tag(fn) -> str | None:
            if fn is None:
                return None
            return (
                f"{getattr(fn, '__module__', '?')}."
                f"{getattr(fn, '__qualname__', type(fn).__name__)}"
            )

        o = self.options
        base = dataclasses.replace(o, decoder=None, request_callback=None)
        return (
            self.url,
            self.schema.json(),
            repr(base),
            _tag(o.decoder),
            _tag(o.request_callback),
        )


# --- per-executor client singletons (python workers are reused across tasks) -

_CLIENTS: Dict[Tuple, HttpPollingClient] = {}
_CLIENTS_LOCK = threading.Lock()


def _client_for(table: HttpLookupTable) -> HttpPollingClient:
    key = table.fingerprint()
    with _CLIENTS_LOCK:
        client = _CLIENTS.get(key)
        if client is None:
            client = HttpPollingClient(url=table.url, options=table.options)
            _CLIENTS[key] = client
        return client


def _etag_of(result: Optional["HttpLookupResult"]) -> Optional[str]:
    """First ETag header of a cached lookup result (case-insensitive),
    or None when the endpoint published no validator — in which case an
    expired entry refetches normally."""
    if result is None or not result.headers:
        return None
    for name, values in result.headers.items():
        if name.lower() == "etag" and values:
            return values[0]
    return None


# --- JSON value → declared Spark type coercion --------------------------------

def _coerce(value: Any, data_type: T.DataType) -> Any:
    """Coerce a decoded JSON value into the declared schema's Python shape.

    The reference delegates this to the Flink ``json`` format against the
    DDL type (``HttpLookupTableSourceFactory.java:103-105``); here we decode
    against the declared ``StructType`` ourselves.
    """
    if value is None:
        return None
    if isinstance(data_type, T.StructType):
        if not isinstance(value, Mapping):
            return None
        return {
            f.name: _coerce(value.get(f.name), f.dataType) for f in data_type.fields
        }
    if isinstance(data_type, T.ArrayType):
        if not isinstance(value, (list, tuple)):
            return None
        return [_coerce(v, data_type.elementType) for v in value]
    if isinstance(data_type, T.MapType):
        if not isinstance(value, Mapping):
            return None
        return {k: _coerce(v, data_type.valueType) for k, v in value.items()}
    if isinstance(data_type, (T.IntegerType, T.LongType, T.ShortType, T.ByteType)):
        return int(value)
    if isinstance(data_type, (T.DoubleType, T.FloatType)):
        return float(value)
    if isinstance(data_type, T.DecimalType):
        return decimal.Decimal(str(value))
    if isinstance(data_type, T.BooleanType):
        if isinstance(value, str):
            return value.lower() == "true"
        return bool(value)
    if isinstance(data_type, T.TimestampType):
        if isinstance(value, str):
            return _dt.datetime.fromisoformat(value.replace("Z", "+00:00"))
        return value
    if isinstance(data_type, T.DateType):
        if isinstance(value, str):
            return _dt.date.fromisoformat(value)
        return value
    if isinstance(data_type, T.StringType):
        return value if isinstance(value, str) else str(value)
    return value


# --- key handling --------------------------------------------------------------

def _normalize_on(
    on: Union[Sequence[str], Mapping[str, str]],
) -> List[Tuple[str, str]]:
    """``on`` → list of (probe_column, lookup_key_name) pairs.

    Accepts a list of shared names or a ``{probe_col: lookup_key}`` mapping;
    dotted paths address nested struct fields on either side (reference
    nested ROW join keys, ``RowTypeLookupSchemaEntry.java:73-87``).
    """
    if isinstance(on, Mapping):
        pairs = list(on.items())
    else:
        pairs = [(name, name) for name in on]
    if not pairs:
        raise ValueError("http_lookup_join requires at least one key column in `on`")
    # request args are keyed by LEAF field name (the reference flattens
    # nested ROW keys the same way); two dotted lookup keys sharing a leaf
    # would silently collide in the request-arg dict, last one winning —
    # the lookup would fire with fewer key args than the join declared
    leaves = [_leaf_name(lk) for _, lk in pairs]
    dupes = sorted({n for n in leaves if leaves.count(n) > 1})
    if dupes:
        raise ValueError(
            "http_lookup_join: lookup keys flatten to duplicate request-arg "
            f"name(s) {dupes} — nested key paths must have distinct leaf "
            "field names (reference flattens ROW keys to leaf name/value "
            "args, RowTypeLookupSchemaEntry.java:73-87)"
        )
    return pairs


def _extract_path(container: Any, path: Sequence[str]) -> Any:
    for part in path:
        if container is None:
            return None
        if isinstance(container, Mapping):
            container = container.get(part)
        else:
            container = getattr(container, part, None)
    return container


def _leaf_name(dotted: str) -> str:
    """Flattened creator arg name = leaf field name (reference flattens
    nested ROW keys into leaf name/value args)."""
    return dotted.split(".")[-1]


def _key_coercer(schema: T.StructType, dotted: str):
    """Coercer for one lookup-key field: navigates the declared schema by
    the dotted key path and closes over that field's ``_coerce``; identity
    when the path is not declared (the match then stays value-exact)."""
    data_type: Optional[T.DataType] = None
    current: T.DataType = schema
    for part in dotted.split("."):
        if not isinstance(current, T.StructType):
            current = None  # type: ignore[assignment]
            break
        match = next((f for f in current.fields if f.name == part), None)
        if match is None:
            current = None  # type: ignore[assignment]
            break
        current = match.dataType
    data_type = current
    if data_type is None:
        return lambda v: v
    return lambda v, dt=data_type: _coerce(v, dt)


# --- nested projection pruning --------------------------------------------------

def _prune_schema(struct: T.StructType, paths: "set[Tuple[str, ...]]") -> T.StructType:
    """Keep only the fields addressed by ``paths`` (dotted-path tuples);
    a path ending at a struct keeps that struct whole."""
    by_head: Dict[str, "set[Tuple[str, ...]]"] = {}
    for p in paths:
        by_head.setdefault(p[0], set()).add(p[1:])
    fields = []
    for f in struct.fields:
        if f.name not in by_head:
            continue
        tails = {t for t in by_head[f.name] if t}
        if tails and isinstance(f.dataType, T.StructType):
            fields.append(
                T.StructField(f.name, _prune_schema(f.dataType, tails), True)
            )
        else:
            fields.append(f)
    return T.StructType(fields)


def _validate_select_paths(schema: T.StructType, select: Sequence[str]) -> None:
    for dotted in select:
        node: T.DataType = schema
        for part in dotted.split("."):
            if not isinstance(node, T.StructType) or part not in node.fieldNames():
                raise ValueError(
                    f"select references unknown lookup column {dotted!r}"
                )
            node = node[part].dataType


# --- the operator ---------------------------------------------------------------


@dataclass(frozen=True)
class _EnrichConfig:
    """Everything the per-batch enrichment needs, picklable, built once on
    the driver. Shared by the ``mapInPandas`` path (:func:`http_lookup_join`)
    and the SQL UDTF surface (``sqlfn.HttpLookupUdtf``), so both run the
    identical vectorized distinct-key/cache/async/batch machinery."""

    table: HttpLookupTable
    pairs: Tuple[Tuple[str, str], ...]
    probe_col_names: Tuple[str, ...]
    output_lookup_fields: Tuple[T.StructField, ...]
    out_col_names: Tuple[str, ...]
    lookup_prefix: str
    key_lookup_names: Tuple[str, ...]
    meta_names: Tuple[str, ...]
    emit_on_empty: bool


def _noop_add(_n: int) -> None:
    pass


def _store_result(distinct: Dict, cache: Optional[LruTtlCache], kt: Tuple,
                  result: HttpLookupResult) -> None:
    """Record a key's fetched result for this batch, and cache it when it
    succeeded with rows (or empty, under ``cache_missing_key``)."""
    distinct[kt] = result
    if cache is not None and result.completion_state == HttpCompletionState.SUCCESS and (
        result.rows or cache.config.cache_missing_key
    ):
        cache.put(kt, result)


def _lookup_value(kt: Tuple, row: Optional[Mapping], f: T.StructField,
                  key_pos: Optional[int]) -> Any:
    """One output lookup value: ``row``'s field coerced to its declared
    type; a null join key is backfilled from the probe key ``kt``."""
    if row is None:  # null-enrichment row
        return None
    value = _coerce(row.get(f.name), f.dataType)
    return kt[key_pos] if value is None and key_pos is not None else value


#: metadata column name → its value for one lookup result
_METADATA = {
    "error-string": lambda r: r.error_string,
    "http-status-code": lambda r: r.status_code,
    "http-headers": lambda r: dict(r.headers) if r.headers else None,
    "http-completion-state": lambda r: r.completion_state.value,
}


def _fan_out(opts: HttpLookupOptions, items: Sequence, task, on_timeout) -> List:
    """Run ``task(item, abandoned)`` for every item; results in item order.

    Under ``use_async`` with two or more items the tasks run on
    ``min(pull_pool_size, async_buffer_capacity, len(items))`` threads (the
    reference's async pull pool, ``AsyncHttpTableLookupFunction.java:40-42``;
    the buffer capacity caps in-flight exchanges) and ``async_timeout`` is
    ONE deadline for the whole call, as ``table.exec.async-lookup.timeout``
    bounds the whole async operation. An item not done by then yields
    ``on_timeout(item)`` and gets its ``abandoned`` event set: its thread,
    still in flight, must then fire no observer, since its result is
    discarded. Otherwise the items run one after another on the calling
    thread with ``abandoned=None`` (the reference's sync lookup)."""
    if not opts.use_async or len(items) < 2:
        return [task(item, None) for item in items]
    workers = max(1, min(
        opts.pull_pool_size, opts.async_buffer_capacity, len(items)))
    deadline = (
        None if opts.async_timeout is None
        else time.monotonic() + opts.async_timeout
    )
    pool = ThreadPoolExecutor(max_workers=workers)
    try:
        futs = [
            (item, ev, pool.submit(task, item, ev))
            for item in items
            for ev in (threading.Event(),)
        ]
        results = []
        for item, ev, fut in futs:
            try:
                results.append(fut.result(
                    None if deadline is None
                    else max(0.0, deadline - time.monotonic())
                ))
            except FuturesTimeoutError:
                ev.set()
                fut.cancel()
                results.append(on_timeout(item))
        return results
    finally:
        # every result is materialized: don't block on a hung exchange
        # (its socket still dies at request_timeout)
        pool.shutdown(wait=False, cancel_futures=True)


def _enrich_pdf(
    cfg: "_EnrichConfig",
    client: HttpPollingClient,
    cache: Optional[LruTtlCache],
    pdf: pd.DataFrame,
    calls_add=_noop_add,
    hits_add=_noop_add,
) -> Optional[pd.DataFrame]:
    """Enrich ONE probe batch (pandas DataFrame) with HTTP lookups:
    distinct-key dedup, cache probe + ETag revalidation, thread-pooled /
    multi-key-batch fetch, then row assembly; shared by the ``mapInPandas``
    operator and the SQL UDTF. Assembly (coercion, key backfill, emptiness
    rule, array multiply, metadata) runs once per distinct key; one gather
    by each probe row's key code then emits every probe row, in order,
    once per result row of its key. Probe columns keep their dtype; lookup
    and metadata columns are ``object``. Returns the enriched frame
    (column order = ``cfg.out_col_names``), or ``None`` for an empty
    batch."""
    pairs = list(cfg.pairs)
    opts = cfg.table.options
    n = len(pdf)
    if n == 0:
        return None
    # --- distinct-key extraction (batch-level dedup) ------------------
    key_cols: List[List[Any]] = []
    for probe_col, _lk in pairs:
        path = probe_col.split(".")
        root = pdf[path[0]]
        if len(path) == 1:
            key_cols.append(root.tolist())
        else:
            key_cols.append([_extract_path(v, path[1:]) for v in root])
    # each probe row's code is its key's position in ``distinct``
    positions: Dict[Tuple, int] = {}
    codes = np.fromiter(
        (positions.setdefault(kt, len(positions)) for kt in zip(*key_cols)),
        dtype=np.intp, count=n,
    )
    distinct: Dict[Tuple, Optional[HttpLookupResult]] = dict.fromkeys(positions)

    # --- cache probe + thread-pooled fetch ----------------------------
    to_fetch: List[Tuple] = []
    # (key, etag, stale result) triples for conditional refresh
    to_revalidate: List[Tuple[Tuple, str, HttpLookupResult]] = []
    batch_size = opts.lookup_batch_size
    revalidating = (
        cache is not None and cache.config.revalidate
        and not batch_size  # conditional GET is a per-key exchange
    )
    for kt in distinct:
        if cache is None:
            to_fetch.append(kt)
            continue
        if revalidating:
            value, state = cache.probe(kt)
            if state == "fresh":
                distinct[kt] = value
                continue
            etag = _etag_of(value) if state == "stale" else None
            if etag:
                to_revalidate.append((kt, etag, value))
            else:
                to_fetch.append(kt)
        else:
            cached = cache.get(kt)
            if cached is not None:
                distinct[kt] = cached
            else:
                to_fetch.append(kt)

    calls_add(
        (-(-len(to_fetch) // batch_size) if (batch_size and to_fetch)
         else len(to_fetch)) + len(to_revalidate)
    )
    hits_add(
        len(distinct) - len(to_fetch) - len(to_revalidate)
    )

    def key_values_of(kt: Tuple) -> Dict[str, Any]:
        return {_leaf_name(lk): v for (_pc, lk), v in zip(pairs, kt)}

    timed_out = (None, None, (
        f"async lookup timed out after {opts.async_timeout}s", None,
    ))

    # --- conditional refresh of expired entries (If-None-Match) -------
    def revalidate(item, abandoned):
        kt, etag, prev = item
        return kt, client.pull_conditional(
            key_values_of(kt), etag, prev, abandoned=abandoned), True

    def serve_stale(item):
        # WITHOUT refreshing the TTL: the entry stays expired, so the
        # next batch retries the conditional GET
        kt, _etag, prev = item
        return kt, prev, False

    for kt, result, fresh in _fan_out(
        opts, to_revalidate, revalidate, serve_stale
    ):
        # 304 → same body, fresh TTL; a stale fallback is not re-cached
        _store_result(distinct, cache if fresh else None, kt, result)

    fetched: List[Tuple[Tuple, HttpLookupResult]] = []
    if to_fetch and batch_size:
        # multi-key batch mode: N distinct keys per request
        leaf_names = [_leaf_name(lk) for _, lk in pairs]
        # canonicalize response/request key values through the
        # DECLARED schema types before matching (the per-key path
        # coerces during decode; without this an endpoint echoing
        # "42" for int key 42 reads as empty for every key)
        key_coercers = [
            _key_coercer(cfg.table.schema, lk) for _, lk in pairs
        ]
        chunks = [
            to_fetch[i : i + batch_size]
            for i in range(0, len(to_fetch), batch_size)
        ]

        def fetch_chunk(chunk, abandoned):
            kvs = [key_values_of(kt) for kt in chunk]
            exchange = client.send_multi(kvs)
            if abandoned is not None and abandoned.is_set():
                return []  # timed out: publish nothing, fire no observer
            return list(zip(chunk, client.publish_multi(
                exchange, kvs, leaf_names, key_coercers,
                abandoned=abandoned)))

        def chunk_timed_out(chunk):
            kvs = [key_values_of(kt) for kt in chunk]
            return list(zip(chunk, client.publish_multi(
                timed_out, kvs, leaf_names)))

        fetched = [
            pair
            for part in _fan_out(opts, chunks, fetch_chunk, chunk_timed_out)
            for pair in part
        ]
    elif to_fetch:
        _maybe_advise_batch_lookup(len(to_fetch))

        def fetch_key(kt, abandoned):
            if abandoned is None:
                return kt, client.pull(key_values_of(kt))
            exchange = client.send(key_values_of(kt))
            if abandoned.is_set():
                return None  # timed out: publish nothing, fire no observer
            return kt, client.publish(exchange)

        fetched = _fan_out(
            opts, to_fetch, fetch_key,
            lambda kt: (kt, client.publish(timed_out)),
        )

    for kt, result in fetched:
        _store_result(distinct, cache, kt, result)

    # --- assemble once per distinct key, then gather to probe rows ----
    # entries: each key's output rows in key order — none (inner join,
    # empty result), one null-enrichment row, or N (array result)
    counts = np.empty(len(distinct), dtype=np.intp)
    entries: List[Tuple[Tuple, HttpLookupResult, Any]] = []
    for pos, (kt, result) in enumerate(distinct.items()):
        rows = result.rows or ([None] if cfg.emit_on_empty else [])
        counts[pos] = len(rows)
        entries.extend((kt, result, row) for row in rows)

    def per_key(values: Iterable[Any]) -> np.ndarray:
        return np.fromiter(values, dtype=object, count=len(entries))

    prefix, key_names = cfg.lookup_prefix, cfg.key_lookup_names
    columns: Dict[str, np.ndarray] = {}
    for f in cfg.output_lookup_fields:
        key_pos = key_names.index(f.name) if f.name in key_names else None
        columns[f"{prefix}{f.name}"] = per_key(
            _lookup_value(kt, row, f, key_pos) for kt, _result, row in entries)
    for m in cfg.meta_names:
        columns[f"{prefix}{m}"] = per_key(
            _METADATA[m](result) for _kt, result, _row in entries)

    # probe row i takes its key's counts[codes[i]] entries, in order
    per_row = counts[codes]
    probe_idx = np.repeat(np.arange(n), per_row)
    first_entry = np.cumsum(counts) - counts
    run_start = np.cumsum(per_row) - per_row
    result_idx = np.repeat(first_entry[codes] - run_start, per_row) + np.arange(len(probe_idx))
    out = {name: pdf[name].array.take(probe_idx) for name in cfg.probe_col_names}
    out.update((name, values[result_idx]) for name, values in columns.items())
    return pd.DataFrame(out, copy=False)


def http_lookup_join(
    probe: DataFrame,
    table: HttpLookupTable,
    on: Union[Sequence[str], Mapping[str, str]],
    *,
    how: str = "inner",
    select: Optional[Sequence[str]] = None,
    metadata_columns: Optional[Sequence[str]] = None,
    lookup_prefix: str = "",
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Enrich ``probe`` with rows fetched from ``table``'s HTTP endpoint.

    Equivalent of ``JOIN LookupTable FOR SYSTEM_TIME AS OF proc_time ON ...``
    (reference flagship path, SURVEY §3.1). ``select`` prunes the decoded
    lookup columns (projection pushdown); ``metadata_columns`` appends the
    requested virtual columns; ``lookup_prefix`` renames lookup output
    columns to avoid probe collisions. ``num_partitions`` repartitions the
    probe first — total in-flight requests = partitions × pull pool size,
    the knob that matters when the probe arrives in few fat partitions
    (a narrow parquet scan) but the endpoint has headroom.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    pairs = _normalize_on(on)

    # CUSTOM named response formats resolve HERE (driver): the format
    # registry is a driver-process object executors don't have, so the
    # resolved callable ships inside the pickled options. Built-ins
    # (json/csv) resolve anywhere and keep the common path untouched.
    if (
        table.options.decoder is None
        and table.options.response_format not in ("json", "csv")
    ):
        import dataclasses

        from .formats import resolve_decoder

        table = dataclasses.replace(
            table,
            options=dataclasses.replace(
                table.options,
                decoder=resolve_decoder(table.options.response_format),
            ),
        )

    # projection pushdown incl. NESTED fields: prune the decode schema to
    # the requested columns (+ keys, needed for backfill). Dotted ``select``
    # entries (``"address.city"``) prune inside struct columns — parity with
    # the reference's ``supportsNestedProjection -> true``
    # (``HttpLookupTableSource.java:202-204``): unselected nested fields are
    # never decoded or emitted.
    if select is not None:
        _validate_select_paths(table.schema, select)
        paths = {tuple(s.split(".")) for s in select}
        pruned = _prune_schema(table.schema, paths)
        select_heads = {s.split(".")[0] for s in select}
        # decode is driven by these fields' (pruned) dataTypes — unselected
        # nested fields never reach _coerce
        output_lookup_fields = [f for f in pruned.fields if f.name in select_heads]
    else:
        output_lookup_fields = list(table.schema.fields)

    # metadata_schema rejects unknown names
    meta_fields = list(metadata_schema(metadata_columns).fields) if metadata_columns else []

    probe_fields = list(probe.schema.fields)
    probe_names = {f.name for f in probe_fields}
    out_fields = list(probe_fields)
    for f in output_lookup_fields:
        name = f"{lookup_prefix}{f.name}"
        if name in probe_names:
            raise ValueError(
                f"lookup column {name!r} collides with a probe column; "
                "pass lookup_prefix= to rename lookup output columns"
            )
        out_fields.append(T.StructField(name, f.dataType, True))
    for f in meta_fields:
        out_fields.append(T.StructField(f"{lookup_prefix}{f.name}", f.dataType, True))
    out_schema = T.StructType(out_fields)

    probe_col_names = [f.name for f in probe_fields]
    meta_names = [f.name for f in meta_fields]
    key_lookup_names = [lk for _, lk in pairs]
    emit_on_empty = how == "left" or bool(meta_fields)

    # R13 metrics parity (lookup call counter, HttpTableLookupFunction.java:
    # 95-96): accumulators aggregate across executors; read them via
    # http_lookup_join.last_metrics[...].value AFTER an action has run
    # (the operator itself is lazy).
    sc = probe.sparkSession.sparkContext
    calls_acc = sc.accumulator(0)        # HTTP lookups actually fired
    cache_hits_acc = sc.accumulator(0)   # distinct keys served from cache
    rows_acc = sc.accumulator(0)         # enriched rows emitted

    # plain-data config captured by the closure (all picklable)
    cfg = _EnrichConfig(
        table=table,
        pairs=tuple(pairs),
        probe_col_names=tuple(probe_col_names),
        output_lookup_fields=tuple(output_lookup_fields),
        out_col_names=tuple(f.name for f in out_fields),
        lookup_prefix=lookup_prefix,
        key_lookup_names=tuple(key_lookup_names),
        meta_names=tuple(meta_names),
        emit_on_empty=emit_on_empty,
    )

    def enrich(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        client = _client_for(cfg.table)
        cache: Optional[LruTtlCache] = None
        if cfg.table.options.cache is not None:
            cache = shared_cache(cfg.table.fingerprint(), cfg.table.options.cache)
        for pdf in batches:
            out = _enrich_pdf(
                cfg, client, cache, pdf, calls_acc.add, cache_hits_acc.add
            )
            if out is None or len(out) == 0:
                continue
            rows_acc.add(len(out))
            yield out


    if num_partitions is not None:
        # hash-partition on the lookup keys: keeps every occurrence of a key
        # in ONE partition, so per-partition distinct-key dedup stays global
        # (round-robin would scatter a key across partitions and multiply
        # the HTTP request volume)
        key_roots = []
        for probe_col, _lk in pairs:
            root = probe_col.split(".")[0]
            if root not in key_roots:
                key_roots.append(root)
        probe = probe.repartition(num_partitions, *key_roots)
    http_lookup_join.last_metrics = {  # type: ignore[attr-defined]
        "numLookupCalls": calls_acc,
        "numCacheHits": cache_hits_acc,
        "numRowsEmitted": rows_acc,
    }
    return probe.mapInPandas(enrich, schema=out_schema)
