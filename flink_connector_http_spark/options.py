"""All connector option keys, with the reference's names and defaults.

The reference exposes configuration through Flink table options
(``table/lookup/HttpLookupConnectorOptions.java``,
``table/sink/HttpDynamicSinkConnectorOptions.java``,
``config/HttpConnectorConfigConstants.java``). We keep the exact key
strings so a user of the reference can carry their option maps over, and
surface them as typed dataclass fields on :class:`HttpLookupOptions` /
:class:`HttpSinkOptions`.
"""

from __future__ import annotations

import re
import warnings
from dataclasses import dataclass, field
from typing import Callable, Dict, Mapping, Optional

from .cache import LookupCacheConfig
from .retry import RetryConfig
from .status import DEFAULT_RETRY_CODES, DEFAULT_SUCCESS_CODES

__all__ = [
    "HttpLookupOptions",
    "HttpSinkOptions",
    "LOOKUP_OPTION_KEYS",
    "SINK_OPTION_KEYS",
    "lookup_options_from_map",
    "sink_options_from_map",
]

# Reference key strings (``HttpLookupConnectorOptions.java``, doc table/http.md).
LOOKUP_OPTION_KEYS = {
    "url": "url",
    "method": "lookup-method",  # HttpLookupConnectorOptions.java:72-76
    "method_long": "http.source.lookup.method",  # accepted alias (this repo)
    "request_timeout": "http.source.lookup.request.timeout",
    # connect-phase-only timeout (HttpLookupConnectorOptions.java:129-133
    # SOURCE_LOOKUP_CONNECTION_TIMEOUT → JavaNetHttpClientFactory.java:71-72
    # clientBuilder.connectTimeout); distinct from the whole-request timeout
    "connection_timeout": "http.source.lookup.connection.timeout",
    "pull_pool_size": "http.source.lookup.request.thread-pool.size",
    "use_async": "asyncPolling",
    "async_buffer_capacity": "table.exec.async-lookup.buffer-capacity",
    "async_timeout": "table.exec.async-lookup.timeout",
    "result_type": "http.source.lookup.result-type",
    "success_codes": "http.source.lookup.success-codes",
    "retry_codes": "http.source.lookup.retry-codes",
    "ignored_codes": "http.source.lookup.ignored-response-codes",
    # reference key (HttpConnectorConfigConstants.java:117 CONTINUE_ON_ERROR)
    "continue_on_error": "http.source.lookup.continue-on-error",
    # pre-round-13 spelling of this repo (carried the legacy gid.connector
    # 'connection.' segment); accepted as an alias, reference key wins
    "continue_on_error_legacy": "http.source.lookup.connection.continue-on-error",
    "max_retries": "lookup.max-retries",
    "retry_strategy": "http.source.lookup.retry-strategy.type",
    "retry_fixed_delay": "http.source.lookup.retry-strategy.fixed-delay.delay",
    "retry_initial_backoff": "http.source.lookup.retry-strategy.exponential-delay.initial-backoff",
    "retry_backoff_multiplier": "http.source.lookup.retry-strategy.exponential-delay.backoff-multiplier",
    "retry_max_backoff": "http.source.lookup.retry-strategy.exponential-delay.max-backoff",
    "retry_budget_ratio": "http.source.lookup.retry-budget.ratio",
    "retry_budget_min_per_second": "http.source.lookup.retry-budget.min-per-second",
    "header_prefix": "http.source.lookup.header.",
    "use_raw_auth_header": "http.source.lookup.use-raw-authorization-header",
    "oidc_token_endpoint": "http.security.oidc.token.endpoint.url",
    "oidc_token_request": "http.security.oidc.token.request",
    "oidc_expiry_reduction": "http.security.oidc.token.expiry.reduction",
    "allow_self_signed": "http.security.cert.server.allowSelfSigned",
    "server_ca": "http.security.cert.server",
    "client_cert": "http.security.cert.client",
    "client_key": "http.security.key.client",
    # reference keystore-based TLS (SecurityContext.createFromKeyStore via
    # JavaNetHttpClientFactory.java:133-151) — recognized and REFUSED with
    # a clear error (the Python ssl stdlib cannot load JKS/PKCS12 stores);
    # use the PEM keys above instead. Honest refusal, not silent ignore.
    "keystore_path": "http.security.keystore.path",
    "keystore_password": "http.security.keystore.password",
    "keystore_type": "http.security.keystore.type",
    # content-logger level MIN/REQ_RESP/MAX (HttpConnectorConfigConstants
    # HTTP_LOGGING_LEVEL, HttpLogger.java:48): installs the slf4j-style
    # logging callback at that level unless an explicit request-callback
    # identifier is configured (the explicit callback wins)
    "logging_level": "http.logging.level",
    "proxy_host": "http.source.lookup.proxy.host",
    "proxy_port": "http.source.lookup.proxy.port",
    "proxy_user": "http.source.lookup.proxy.username",
    "proxy_password": "http.source.lookup.proxy.password",
    "response_format": "format",  # response DecodingFormat, default json
    "query_creator": "http.source.lookup.query-creator",
    "url_map": "http.request.url-map",  # query-param-map / path-param-map variants folded in
    "body_template": "http.request.body-template",
    "cache": "lookup.cache",
    "cache_max_rows": "lookup.partial-cache.max-rows",
    "cache_expire_after_write": "lookup.partial-cache.expire-after-write",
    "cache_expire_after_access": "lookup.partial-cache.expire-after-access",
    "cache_missing_key": "lookup.partial-cache.cache-missing-key",
    # beyond-reference: ETag revalidation of expired entries
    "cache_revalidate": "lookup.partial-cache.revalidate",
    # beyond-reference scale knob (SURVEY §7): per-task client-side rate
    # limiting — the reference fires as fast as its pools allow, which at
    # 1000 executors DDoSes the endpoint. Keys follow the reference's
    # lookup-option naming style.
    "rate_limit": "http.source.lookup.rate-limit.requests-per-second",
    "rate_limit_burst": "http.source.lookup.rate-limit.burst",
    # beyond-reference scale knob: multi-key batch lookup — one request
    # carries up to N distinct keys (the reference fires one request per
    # key, cache aside). Key follows the sink's request-batching naming.
    "lookup_batch_size": "http.source.lookup.request.batch.size",
    # beyond-reference resilience knob: per-executor circuit breaker —
    # fail fast while the endpoint is down instead of hammering it with
    # every task's full retry schedule
    "circuit_breaker_failures": "http.source.lookup.circuit-breaker.failure-threshold",
    "circuit_breaker_reset": "http.source.lookup.circuit-breaker.reset-timeout",
    # beyond-reference tail-latency knob: hedged requests — if one wire
    # attempt hasn't answered within the delay, fire a duplicate and take
    # whichever responds first (Dean & Barroso, "The Tail at Scale")
    "hedge_delay": "http.source.lookup.hedge-delay",
    # request HTTP protocol version pin (HttpLookupConnectorOptions.java:
    # 81-92, threaded at RequestFactoryBase.java:93,128). Valid reference
    # values HTTP_1_1 / HTTP_2; this client is stdlib (HTTP/1.1-only), so
    # HTTP_1_1 is accepted as a no-op pin and HTTP_2 rejected loudly
    # instead of being silently meaningless.
    "http_version": "http.source.lookup.http-version",
    # named request/response callback (reference R12 identifier surface:
    # HttpLookupConnectorOptions.java:102-105) — resolved against
    # http_logger.REQUEST_CALLBACKS
    "request_callback_id": "http.source.lookup.request-callback",
}

# Short (non-`http.`-prefixed) keys the reference's FactoryUtil declares
# but this engine does not consume — accepted for option-map carry-over
# parity, with the same no-op effect as in the reference:
# `url-args` is declared-but-never-read there (dead option);
# `lookup-request.format` defaults to json, the only request encoding the
# bundled query creators produce (custom encodings plug in via
# register_query_creator); `connector` is the framework key every DDL map
# carries.
_LOOKUP_TOLERATED_SHORT_KEYS = {"connector", "url-args", "lookup-request.format"}
_SINK_TOLERATED_SHORT_KEYS = {"connector"}

SINK_OPTION_KEYS = {
    "url": "url",
    "insert_method": "insert-method",
    "request_mode": "http.sink.writer.request.mode",
    # TWO-STAGE batching, kept distinct as in the reference: the engine
    # flush trigger (AsyncSink maxBatchSize, ``HttpSinkBuilder.java:70``)
    # vs how many entries one HTTP request carries
    # (``BatchRequestSubmitter.java:61-64``)
    "flush_batch_size": "sink.batch.max-size",
    "batch_size": "http.sink.request.batch.size",
    "max_inflight": "sink.requests.max-inflight",
    "max_buffered": "sink.requests.max-buffered",
    "max_batch_bytes": "sink.flush-buffer.size",
    "max_time_in_buffer": "sink.flush-buffer.timeout",
    "max_record_bytes": "sink.max-record-size",
    "request_timeout": "http.sink.request.timeout",
    "writer_pool_size": "http.sink.writer.thread-pool.size",
    "error_codes": "http.sink.error.code",
    "error_codes_exclude": "http.sink.error.code.exclude",
    "header_prefix": "http.sink.header.",
    "payload_format": "format",  # payload SerializationFormat, default json
    # http.security.* applies to source AND sink in the reference
    # (JavaNetHttpClientFactory is shared) — same keys both sides
    "allow_self_signed": "http.security.cert.server.allowSelfSigned",
    "server_ca": "http.security.cert.server",
    "client_cert": "http.security.cert.client",
    "client_key": "http.security.key.client",
    # recognized-and-refused keystore TLS + shared content-logger level
    # (see the lookup map for rationale)
    "keystore_path": "http.security.keystore.path",
    "keystore_password": "http.security.keystore.password",
    "keystore_type": "http.security.keystore.type",
    "logging_level": "http.logging.level",
    # beyond-reference scale knob (SURVEY §7), sink side: bounds HTTP
    # requests/second per writer task on top of the in-flight cap
    "rate_limit": "http.sink.rate-limit.requests-per-second",
    "rate_limit_burst": "http.sink.rate-limit.burst",
    # beyond-reference, OPT-IN (default 0 = reference parity: failed sink
    # requests are never retried, HttpSinkWriter.java:114,129-135 — a
    # marked upstream TODO). The sink is at-least-once either way; with an
    # idempotency-keyed endpoint (http_sink_idempotent_replay) retry is
    # strictly better: it converts transient 5xx/transport blips into
    # successes instead of counting them as send errors.
    "max_retries": "sink.max-retries",
    "retry_delay": "sink.retry-delay",
    "retry_backoff_multiplier": "sink.retry-backoff-multiplier",
    "retry_max_backoff": "sink.retry-max-backoff",
    "retry_budget_ratio": "sink.retry-budget.ratio",
    "retry_budget_min_per_second": "sink.retry-budget.min-per-second",
    "dead_letter_path": "sink.dead-letter.path",
    # named request/response callback (reference R12 identifier surface:
    # HttpPostRequestCallbackFactory.java:36,
    # Slf4jHttpPostRequestCallbackFactory.java:32) — resolved against
    # http_logger.REQUEST_CALLBACKS
    "request_callback_id": "http.sink.request-callback",
    # beyond-reference, OPT-IN: gzip request bodies (endpoint must accept
    # Content-Encoding: gzip)
    "gzip_request_body": "sink.gzip-request-body",
}


@dataclass(frozen=True)
class HttpLookupOptions:
    """Typed lookup options; defaults mirror the reference
    (``HttpLookupConnectorOptions.java``, ``AsyncHttpTableLookupFunction.java:40-42``)."""

    method: str = "GET"
    request_timeout: float = 30.0                     # seconds
    # Connect-phase timeout in seconds: the longest wait of the TCP connect,
    # proxy tunnel or TLS handshake for the endpoint (the window Java 11's
    # HttpClient.connectTimeout governs). None = reference default: no
    # separate connect deadline, the whole-request timeout covers it.
    # Tune this, not request_timeout, for fast failover off a dead
    # endpoint in a pool.
    connection_timeout: Optional[float] = None        # seconds
    # http.source.lookup.request.thread-pool.size: under use_async, the
    # exchanges in flight at once per partition (the key keeps the
    # reference's name; no thread is started — one non-blocking socket
    # loop on the task's thread drives them, see wire.py)
    pull_pool_size: int = 8
    # False → strictly sequential per-key firing (the reference's sync
    # LookupFunction); True → up to pull_pool_size exchanges in flight per
    # probe batch, each decoded as it lands (asyncPolling; the reference's
    # second, response/publish, pool is not modelled and
    # http.source.lookup.response.thread-pool.size is ignored —
    # AsyncHttpTableLookupFunction.java:40-42,94-115)
    use_async: bool = False
    # host-engine async knobs (Flink table.exec.async-lookup.*): capacity
    # caps concurrent in-flight exchanges (min(pull_pool_size,
    # async_buffer_capacity)) on the per-key, batch and revalidation
    # paths alike; timeout is ONE deadline for the whole
    # probe batch — exchanges not done when it lapses fail (or yield an
    # EXCEPTION-state row under continue_on_error; a revalidation serves
    # its stale entry) even if their response lands moments later
    async_buffer_capacity: int = 100                  # Flink default
    async_timeout: Optional[float] = None             # seconds; None = no deadline
    result_type: str = "single-value"                 # or "array"
    # response decode SPI (reference lookup-request.format / format):
    # a registered format name, or `decoder` to pass a callable directly
    # (must be a top-level function so executors can unpickle it)
    response_format: str = "json"
    decoder: Optional[Callable[[bytes], object]] = None
    # request/response callback (reference R12,
    # Slf4JHttpLookupPostRequestCallback.java); None → debug-level logging
    request_callback: Optional[Callable[[object, object], None]] = None
    success_codes: str = DEFAULT_SUCCESS_CODES
    retry_codes: str = DEFAULT_RETRY_CODES
    ignored_codes: str = ""
    continue_on_error: bool = False
    retry: RetryConfig = field(default_factory=RetryConfig)
    headers: Mapping[str, str] = field(default_factory=dict)
    use_raw_auth_header: bool = False
    oidc_token_endpoint: Optional[str] = None
    oidc_token_request: Optional[str] = None
    oidc_expiry_reduction: float = 1.0
    allow_self_signed: bool = False
    server_ca: Optional[str] = None                   # PEM/DER path
    client_cert: Optional[str] = None
    client_key: Optional[str] = None
    proxy_host: Optional[str] = None
    proxy_port: Optional[int] = None
    proxy_user: Optional[str] = None                  # authenticated proxy
    proxy_password: Optional[str] = None              # (ProxyConfig.java)
    query_creator: Optional[str] = None               # None -> method default
    url_map: Mapping[str, str] = field(default_factory=dict)
    body_template: Optional[str] = None
    cache: Optional[LookupCacheConfig] = None         # None = no caching
    # per-task request rate cap (requests/second); None = unlimited, the
    # reference's (scale-unsafe) behavior. burst defaults to max(1, rate).
    rate_limit: Optional[float] = None
    rate_limit_burst: Optional[float] = None
    # multi-key batch lookup: when set, up to this many distinct keys ride
    # in ONE body-based request (JSON array of key objects; the endpoint
    # answers with a JSON array of result objects carrying the key fields,
    # matched back per key — absent keys read as empty results). Cuts the
    # request volume by the batch factor vs the reference's per-key model.
    # GET upgrades to POST for the batch request (keys travel in the body).
    lookup_batch_size: Optional[int] = None
    # circuit breaker: after this many CONSECUTIVE failed exchanges the
    # per-executor client stops firing and fails fast (EXCEPTION-state
    # results under continue_on_error) until the reset timeout elapses,
    # then lets one half-open trial through. None = disabled.
    circuit_breaker_failures: Optional[int] = None
    circuit_breaker_reset: float = 30.0               # seconds
    # hedged requests (tail-latency): if a wire attempt hasn't answered
    # within this many seconds, fire ONE duplicate and take whichever
    # responds first; the loser's socket is closed. Pick a p95-ish
    # endpoint latency. OPT-IN and off
    # by default (reference parity — HttpClientWithRetry.java has no
    # hedging); enable only for endpoints where a duplicate in-flight
    # request is safe (idempotent reads — which lookup queries are).
    # At 1000 executors x 30 s timeouts, one slow endpoint replica
    # otherwise stalls a whole partition.
    hedge_delay: Optional[float] = None
    # HTTP protocol version pin (reference LOOKUP_HTTP_VERSION). The
    # transport (wire.py) speaks HTTP/1.1 only, so the only
    # accepted pin is HTTP_1_1 (a validated no-op, matching what the
    # reference's Version.valueOf + builder.version() does for 1.1
    # endpoints); HTTP_2 raises at plan time instead of silently not
    # happening. None = unpinned (reference default).
    http_version: Optional[str] = None
    # retry budget (Finagle-style, beyond-reference, OPT-IN): every
    # initial request deposits `ratio` retry tokens, every retry spends
    # one — caps cluster-wide retry amplification under a total outage
    # at ~ratio instead of max_retries x. None = disabled (parity). The
    # budget throttles retry VOLUME; the circuit breaker (above) stops
    # initial sends — the two compose.
    retry_budget_ratio: Optional[float] = None
    retry_budget_min_per_second: float = 1.0

    def __post_init__(self) -> None:
        if self.http_version is None:
            return
        # normalize HTTP_1_1 / HTTP/1.1 / 1.1 spellings
        v = self.http_version.strip().upper().replace("HTTP", "").strip("/_")
        v = v.replace("/", "_").replace(".", "_")
        if v == "1_1":
            return  # the stdlib client's only protocol — a validated no-op pin
        if v in ("2", "2_0"):
            raise ValueError(
                "http.source.lookup.http-version=HTTP_2 is not supported: "
                "the Python stdlib HTTP client is HTTP/1.1-only. Omit the "
                "option (unpinned, the reference default) or pin HTTP_1_1. "
                "See README 'Protocol & timeout boundary' for the rationale "
                "(deliberate no-heavy-deps refusal, not a silent downgrade)."
            )
        raise ValueError(
            f"Invalid http.source.lookup.http-version {self.http_version!r}; "
            "valid values are HTTP_1_1 and HTTP_2 "
            "(HttpLookupConnectorOptions.java:81-92)"
        )


@dataclass(frozen=True)
class HttpSinkOptions:
    """Typed sink options; defaults mirror ``HttpSinkBuilder.java:70-80``."""

    insert_method: str = "POST"
    request_mode: str = "batch"                       # or "single"
    # flush trigger (entries buffered before a flush fires) vs per-request
    # framing size (entries per HTTP request within a flush) — the
    # reference's sink.batch.max-size vs http.sink.request.batch.size.
    # Defaults are equal (both 500), matching the reference's defaults;
    # tune independently to e.g. flush 5000 at a time as 10 requests.
    flush_batch_size: int = 500
    batch_size: int = 500
    max_inflight: int = 50
    max_buffered: int = 10_000
    max_batch_bytes: int = 5 * 1024 * 1024
    max_time_in_buffer: float = 5.0                   # seconds
    max_record_bytes: int = 1024 * 1024
    request_timeout: float = 30.0
    # http.sink.writer.thread-pool.size: requests on the wire at once per
    # writer (the key keeps the reference's name; no thread is started —
    # the writer's non-blocking socket loop drives them, see sink.py)
    writer_pool_size: int = 4
    error_codes: str = ""                             # empty -> 4XX,5XX default
    error_codes_exclude: str = ""
    headers: Mapping[str, str] = field(default_factory=dict)
    # payload SerializationFormat: "json" (JSON-array batch framing) or
    # "csv" (newline framing) — both serialized JVM-side in write_http
    payload_format: str = "json"
    # TLS parity with the lookup side (http.security.*, tls.py)
    allow_self_signed: bool = False
    server_ca: Optional[str] = None
    client_cert: Optional[str] = None
    client_key: Optional[str] = None
    # per-task request rate cap (requests/second); None = unlimited
    rate_limit: Optional[float] = None
    rate_limit_burst: Optional[float] = None
    # opt-in bounded retry of failed sink requests (default 0 = reference
    # parity: no retry). A request is retried on transport errors and on
    # error-classified statuses, max_retries times, sleeping
    # retry_delay * retry_backoff_multiplier**attempt between tries.
    max_retries: int = 0
    retry_delay: float = 0.5
    retry_backoff_multiplier: float = 2.0
    # ceiling for both the exponential backoff and any server Retry-After
    # hint — same default as the lookup path's RetryConfig.max_backoff
    retry_max_backoff: float = 60.0
    # opt-in gzip request bodies (Content-Encoding: gzip): JSON batches
    # compress 5-10x, so a 5 MiB flush crosses the wire as ~0.5-1 MiB —
    # off by default because the endpoint must accept encoded bodies
    gzip_request_body: bool = False
    # opt-in Finagle-style retry budget (see the lookup twin above):
    # caps sink retry volume at ~ratio of request volume under outage
    retry_budget_ratio: Optional[float] = None
    retry_budget_min_per_second: float = 1.0
    # opt-in dead-letter capture (beyond-reference: HttpSinkWriter.java:
    # 129-135 only COUNTS failed requests). When set, every entry whose
    # request exhausts the retry budget lands as one JSONL row
    # (method, payload base64-exact, status, error, ts) under this
    # Spark-readable directory instead of being dropped. Default None =
    # reference parity: failures are counted and discarded.
    dead_letter_path: Optional[str] = None
    # request/response callback (reference R12); write_http's on_response
    # argument wins when both are given. The options-map path fills this
    # from the named `http.sink.request-callback` identifier.
    request_callback: Optional[Callable[[object, object], None]] = None


def _collect_prefixed(options: Mapping[str, str], prefix: str) -> Dict[str, str]:
    return {
        key[len(prefix):]: value
        for key, value in options.items()
        if key.startswith(prefix)
    }


def _as_bool(value: str) -> bool:
    return str(value).strip().lower() in ("true", "1", "yes")


#: unit suffixes accepted by Flink's ``TimeUtils.parseDuration`` (the
#: parser behind every ``durationType()`` option in the reference),
#: mapped to seconds
_DURATION_UNITS = {
    "ns": 1e-9, "nano": 1e-9, "nanos": 1e-9, "nanosecond": 1e-9,
    "nanoseconds": 1e-9,
    "us": 1e-6, "µs": 1e-6, "micro": 1e-6, "micros": 1e-6,
    "microsecond": 1e-6, "microseconds": 1e-6,
    "ms": 1e-3, "milli": 1e-3, "millis": 1e-3, "millisecond": 1e-3,
    "milliseconds": 1e-3,
    "s": 1.0, "sec": 1.0, "secs": 1.0, "second": 1.0, "seconds": 1.0,
    "m": 60.0, "min": 60.0, "minute": 60.0, "minutes": 60.0,
    "h": 3600.0, "hour": 3600.0, "hours": 3600.0,
    "d": 86400.0, "day": 86400.0, "days": 86400.0,
}

_DURATION_RE = re.compile(
    r"^\s*([0-9]+(?:\.[0-9]+)?)\s*([a-zµ]*)\s*$", re.IGNORECASE
)

#: duration keys already warned about bare-number (unit-ambiguous) values,
#: so the Flink-vs-engine unit divergence is surfaced once per key, not
#: once per parsed row/batch
_BARE_DURATION_WARNED: "set[str]" = set()


def _as_duration_seconds(value: str, key: str) -> float:
    """Parse a reference duration option value into float seconds.

    The reference declares these options ``durationType()`` and parses
    them with Flink's ``TimeUtils.parseDuration``: a unit suffix
    (``250ms``, ``30s``, ``1min``, ``2h`` …) names the unit explicitly
    and carries over unchanged here. One DOCUMENTED divergence: a BARE
    number means milliseconds in Flink but SECONDS in this engine —
    every time-valued option here has taken plain float seconds since
    round 1, and silently flipping the unit would break existing
    configs the other way. Carried-over Flink configs should therefore
    use suffixed values (the form Flink's own docs recommend); see
    README "Duration options".
    """
    m = _DURATION_RE.match(str(value))
    if m is None:
        raise ValueError(
            f"{key}: cannot parse duration {value!r} — use a number "
            "(seconds) or a Flink-style suffixed duration like '250ms', "
            "'30s', '1min'"
        )
    num, unit = m.group(1), m.group(2).lower()
    if not unit:
        # A bare number is SECONDS here but MILLISECONDS in Flink's
        # TimeUtils — silent at plan time, so warn once per option key
        # and steer users to the unambiguous suffixed form.
        if key not in _BARE_DURATION_WARNED:
            _BARE_DURATION_WARNED.add(key)
            warnings.warn(
                f"{key}={value!r}: bare duration numbers are interpreted "
                "as SECONDS by this engine but as MILLISECONDS by Flink's "
                "TimeUtils — a carried-over Flink config like '5000' "
                "becomes a 1000x longer timeout. Use an explicit unit "
                "suffix ('5000ms', '30s') to silence this warning.",
                stacklevel=3,
            )
        return float(num)
    if unit not in _DURATION_UNITS:
        raise ValueError(
            f"{key}: unknown duration unit {m.group(2)!r} in {value!r} — "
            f"supported: ns, us, ms, s, min, h, d (Flink TimeUtils units)"
        )
    return float(num) * _DURATION_UNITS[unit]


# The reference's FactoryUtil validates every option key outside the
# pass-through prefixes (`validateExcept("http.", "gid.connector.http.")`,
# HttpLookupTableSourceFactory.java:113-118) — a typo'd short key like
# `lookup-metod` fails the DDL at plan time there, so it must fail here
# too instead of silently no-opping. Unknown `http.*` keys stay tolerated
# (exact reference behavior: the prefix is a dynamic namespace).
_PASSTHROUGH_PREFIXES = ("http.", "gid.connector.http.")


def _validate_short_keys(
    options: Mapping[str, str],
    known: "set[str]",
    tolerated: "set[str]",
    surface: str,
) -> None:
    unknown = sorted(
        key
        for key in options
        if not key.startswith(_PASSTHROUGH_PREFIXES)
        and key not in known
        and key not in tolerated
    )
    if unknown:
        raise ValueError(
            f"Unknown {surface} option key(s) {unknown}: not a declared "
            f"option (FactoryUtil parity — only 'http.'-prefixed keys pass "
            f"through unvalidated). Declared short keys: "
            f"{sorted(key for key in known if not key.startswith(_PASSTHROUGH_PREFIXES))}"
        )


def _reject_keystore_keys(options: Mapping[str, str], k: Mapping[str, str]) -> None:
    """Keystore-based TLS is a reference capability this engine refuses
    EXPLICITLY (the Python ssl stdlib cannot load JKS/PKCS12 stores):
    silently tolerating the ``http.``-prefixed keys would reproduce the
    accepted-but-meaningless failure mode the strict validator exists to
    prevent (reference wiring: ``JavaNetHttpClientFactory.java:133-151``
    → ``SecurityContext.createFromKeyStore``)."""
    present = sorted(
        k[key]
        for key in ("keystore_path", "keystore_password", "keystore_type")
        if k[key] in options
    )
    if present:
        raise ValueError(
            f"Keystore option(s) {present} are not supported: the Python "
            "ssl stdlib cannot load JKS/PKCS12 keystores. Provide PEM "
            "material instead (http.security.cert.server, "
            "http.security.cert.client, http.security.key.client). "
            "See README 'Protocol & timeout boundary' for the "
            "no-heavy-deps refusal policy."
        )


def _logging_level_callback(options: Mapping[str, str], k: Mapping[str, str]):
    """Resolve ``http.logging.level`` (MIN/REQ_RESP/MAX) to the built-in
    content-logging callback (reference ``HttpLogger.java:48`` reads the
    same key). Returns None when unset; raises on an invalid code."""
    if k["logging_level"] not in options:
        return None
    from .http_logger import HttpContentLogLevel, logging_callback

    code = options[k["logging_level"]].strip().upper()
    try:
        level = HttpContentLogLevel(code)
    except ValueError:
        raise ValueError(
            f"Invalid http.logging.level {options[k['logging_level']]!r}; "
            "valid values are MIN, REQ_RESP and MAX "
            "(reference HttpContentLogLevel)"
        ) from None
    return logging_callback(level)


def lookup_options_from_map(options: Mapping[str, str]) -> HttpLookupOptions:
    """Build typed options from a reference-style string option map, so
    existing ``'http.source.lookup.*'`` configs carry over unchanged.
    Unknown non-``http.``-prefixed keys raise at plan time."""
    k = LOOKUP_OPTION_KEYS
    _validate_short_keys(
        options, set(k.values()), _LOOKUP_TOLERATED_SHORT_KEYS, "lookup"
    )
    _reject_keystore_keys(options, k)
    kwargs: Dict[str, object] = {}
    _logging_cb = _logging_level_callback(options, k)
    if _logging_cb is not None:
        kwargs["request_callback"] = _logging_cb  # explicit id overrides below
    # `lookup-method` is the reference key; the long spelling is this
    # repo's alias (it rides the http.* namespace). Reference key wins.
    if k["method"] in options:
        kwargs["method"] = options[k["method"]].upper()
    elif k["method_long"] in options:
        kwargs["method"] = options[k["method_long"]].upper()
    if k["http_version"] in options:
        kwargs["http_version"] = options[k["http_version"]]
    if k["request_callback_id"] in options:
        from .http_logger import resolve_request_callback

        kwargs["request_callback"] = resolve_request_callback(
            options[k["request_callback_id"]]
        )
    if k["request_timeout"] in options:
        kwargs["request_timeout"] = _as_duration_seconds(
            options[k["request_timeout"]], k["request_timeout"])
    if k["connection_timeout"] in options:
        kwargs["connection_timeout"] = _as_duration_seconds(
            options[k["connection_timeout"]], k["connection_timeout"])
    if k["pull_pool_size"] in options:
        kwargs["pull_pool_size"] = int(options[k["pull_pool_size"]])
    if k["use_async"] in options:
        kwargs["use_async"] = _as_bool(options[k["use_async"]])
    if k["async_buffer_capacity"] in options:
        kwargs["async_buffer_capacity"] = int(options[k["async_buffer_capacity"]])
    if k["async_timeout"] in options:
        kwargs["async_timeout"] = _as_duration_seconds(
            options[k["async_timeout"]], k["async_timeout"])
    if k["result_type"] in options:
        kwargs["result_type"] = options[k["result_type"]]
    if k["success_codes"] in options:
        kwargs["success_codes"] = options[k["success_codes"]]
    if k["retry_codes"] in options:
        kwargs["retry_codes"] = options[k["retry_codes"]]
    if k["ignored_codes"] in options:
        kwargs["ignored_codes"] = options[k["ignored_codes"]]
    if k["continue_on_error"] in options:
        kwargs["continue_on_error"] = _as_bool(options[k["continue_on_error"]])
    elif k["continue_on_error_legacy"] in options:
        kwargs["continue_on_error"] = _as_bool(
            options[k["continue_on_error_legacy"]]
        )
    retry_kwargs: Dict[str, object] = {}
    if k["max_retries"] in options:
        retry_kwargs["max_retries"] = int(options[k["max_retries"]])
    if k["retry_strategy"] in options:
        retry_kwargs["strategy"] = options[k["retry_strategy"]]
    if k["retry_fixed_delay"] in options:
        retry_kwargs["fixed_delay"] = _as_duration_seconds(
            options[k["retry_fixed_delay"]], k["retry_fixed_delay"])
    if k["retry_initial_backoff"] in options:
        retry_kwargs["initial_backoff"] = _as_duration_seconds(
            options[k["retry_initial_backoff"]], k["retry_initial_backoff"])
    if k["retry_backoff_multiplier"] in options:
        retry_kwargs["backoff_multiplier"] = float(options[k["retry_backoff_multiplier"]])
    if k["retry_max_backoff"] in options:
        retry_kwargs["max_backoff"] = _as_duration_seconds(
            options[k["retry_max_backoff"]], k["retry_max_backoff"])
    if retry_kwargs:
        kwargs["retry"] = RetryConfig(**retry_kwargs)  # type: ignore[arg-type]
    if k["retry_budget_ratio"] in options:
        kwargs["retry_budget_ratio"] = float(options[k["retry_budget_ratio"]])
    if k["retry_budget_min_per_second"] in options:
        kwargs["retry_budget_min_per_second"] = float(
            options[k["retry_budget_min_per_second"]]
        )
    headers = _collect_prefixed(options, k["header_prefix"])
    if headers:
        kwargs["headers"] = headers
    if k["use_raw_auth_header"] in options:
        kwargs["use_raw_auth_header"] = _as_bool(options[k["use_raw_auth_header"]])
    for name in ("oidc_token_endpoint", "oidc_token_request", "server_ca",
                 "client_cert", "client_key", "proxy_host", "proxy_user",
                 "proxy_password", "query_creator", "body_template",
                 "response_format"):
        if k[name] in options:
            kwargs[name] = options[k[name]]
    if k["oidc_expiry_reduction"] in options:
        kwargs["oidc_expiry_reduction"] = _as_duration_seconds(
            options[k["oidc_expiry_reduction"]], k["oidc_expiry_reduction"])
    for name in ("rate_limit", "rate_limit_burst"):
        if k[name] in options:
            kwargs[name] = float(options[k[name]])
    if k["lookup_batch_size"] in options:
        kwargs["lookup_batch_size"] = int(options[k["lookup_batch_size"]])
    if k["circuit_breaker_failures"] in options:
        kwargs["circuit_breaker_failures"] = int(
            options[k["circuit_breaker_failures"]]
        )
    if k["circuit_breaker_reset"] in options:
        kwargs["circuit_breaker_reset"] = _as_duration_seconds(
            options[k["circuit_breaker_reset"]], k["circuit_breaker_reset"]
        )
    if k["hedge_delay"] in options:
        kwargs["hedge_delay"] = _as_duration_seconds(
            options[k["hedge_delay"]], k["hedge_delay"])
    if k["allow_self_signed"] in options:
        kwargs["allow_self_signed"] = _as_bool(options[k["allow_self_signed"]])
    if k["proxy_port"] in options:
        kwargs["proxy_port"] = int(options[k["proxy_port"]])
    if options.get(k["cache"], "").upper() == "PARTIAL":
        cache_kwargs: Dict[str, object] = {}
        if k["cache_max_rows"] in options:
            cache_kwargs["max_rows"] = int(options[k["cache_max_rows"]])
        if k["cache_expire_after_write"] in options:
            cache_kwargs["expire_after_write"] = _as_duration_seconds(
                options[k["cache_expire_after_write"]], k["cache_expire_after_write"])
        if k["cache_expire_after_access"] in options:
            cache_kwargs["expire_after_access"] = _as_duration_seconds(
                options[k["cache_expire_after_access"]], k["cache_expire_after_access"])
        if k["cache_missing_key"] in options:
            cache_kwargs["cache_missing_key"] = _as_bool(options[k["cache_missing_key"]])
        if k["cache_revalidate"] in options:
            cache_kwargs["revalidate"] = _as_bool(options[k["cache_revalidate"]])
        kwargs["cache"] = LookupCacheConfig(**cache_kwargs)  # type: ignore[arg-type]
    return HttpLookupOptions(**kwargs)  # type: ignore[arg-type]


def sink_options_from_map(options: Mapping[str, str]) -> HttpSinkOptions:
    k = SINK_OPTION_KEYS
    _validate_short_keys(
        options, set(k.values()), _SINK_TOLERATED_SHORT_KEYS, "sink"
    )
    _reject_keystore_keys(options, k)
    kwargs: Dict[str, object] = {}
    _logging_cb = _logging_level_callback(options, k)
    if _logging_cb is not None:
        kwargs["request_callback"] = _logging_cb  # explicit id overrides below
    if k["request_callback_id"] in options:
        from .http_logger import resolve_request_callback

        kwargs["request_callback"] = resolve_request_callback(
            options[k["request_callback_id"]]
        )
    if k["insert_method"] in options:
        kwargs["insert_method"] = options[k["insert_method"]].upper()
    if k["request_mode"] in options:
        kwargs["request_mode"] = options[k["request_mode"]]
    # time-valued keys accept Flink TimeUtils duration syntax ('30s',
    # '250ms') — the reference declares the sink request timeout
    # durationType (HttpDynamicSinkConnectorOptions.java:47-55); bare
    # numbers stay seconds (README "Duration options")
    _sink_durations = {
        "max_time_in_buffer", "request_timeout", "retry_delay",
        "retry_max_backoff",
    }
    for name, conv in (
        ("flush_batch_size", int),
        ("batch_size", int), ("max_inflight", int), ("max_buffered", int),
        ("max_batch_bytes", int), ("max_record_bytes", int),
        ("writer_pool_size", int), ("max_retries", int),
        ("max_time_in_buffer", float), ("request_timeout", float),
        ("rate_limit", float), ("rate_limit_burst", float),
        ("retry_delay", float), ("retry_backoff_multiplier", float),
        ("retry_max_backoff", float), ("retry_budget_ratio", float),
        ("retry_budget_min_per_second", float),
    ):
        if k[name] in options:
            if name in _sink_durations:
                kwargs[name] = _as_duration_seconds(options[k[name]], k[name])
            else:
                kwargs[name] = conv(options[k[name]])
    for name in ("error_codes", "error_codes_exclude", "payload_format",
                 "server_ca", "client_cert", "client_key",
                 "dead_letter_path"):
        if k[name] in options:
            kwargs[name] = options[k[name]]
    if k["allow_self_signed"] in options:
        kwargs["allow_self_signed"] = _as_bool(options[k["allow_self_signed"]])
    if k["gzip_request_body"] in options:
        kwargs["gzip_request_body"] = _as_bool(options[k["gzip_request_body"]])
    headers = _collect_prefixed(options, k["header_prefix"])
    if headers:
        kwargs["headers"] = headers
    return HttpSinkOptions(**kwargs)  # type: ignore[arg-type]
