"""HTTP polling client: send with retry, classify status, decode rows.

Re-expresses the reference's lookup client state machine (SURVEY §2.1 S4):

- orchestration (build → send-with-retry → classify → decode → metadata):
  ``table/lookup/JavaNetHttpPollingClient.java:128-201``
- response processing incl. ignored-status fold and continue-on-error:
  ``JavaNetHttpPollingClient.java:106-112, 166-199, 260-317``
- single-value vs array result decode:
  ``JavaNetHttpPollingClient.java:340-376``
- OIDC/Basic header rewrite at request time (never at plan time):
  ``JavaNetHttpPollingClient.java:211-249``, ``RequestFactoryBase.java:71-74``

Transport is Python stdlib ``urllib.request`` (HTTP/1.1) with an opener
carrying the TLS context and optional authenticated proxy
(``utils/JavaNetHttpClientFactory.java:74-94``).
"""

from __future__ import annotations

import http.client
import logging
import socket
import threading
import urllib.error
import urllib.parse
import urllib.request
import weakref
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor
from concurrent.futures import TimeoutError as _FuturesTimeout
from concurrent.futures import wait as _futures_wait
from typing import Any, Callable, Dict, List, Mapping, Optional, Tuple

from .auth import (
    AUTHORIZATION,
    HeaderPreprocessor,
    OidcAccessTokenManager,
    basic_auth_value,
    preprocess_headers,
)
from .formats import resolve_decoder
from .http_logger import logging_callback
from .options import HttpLookupOptions
from .query_creators import LookupQueryInfo, QueryCreator, resolve_query_creator
from .ratelimit import TokenBucket
from .request import HttpRequestSpec, build_lookup_request
from .retry import (
    CircuitBreaker,
    HttpRetryError,
    RetryBudget,
    RetryConfig,
    RetryStats,
    parse_retry_after,
    run_with_retry,
)
from .status import HttpResponseChecker, parse_http_codes
from .tls import build_ssl_context
from .types import HttpCompletionState, HttpLookupResult

__all__ = ["HttpResponse", "HttpTransport", "HttpPollingClient", "send_with_retry"]

logger = logging.getLogger(__name__)


def _retry_after_hint(response: "HttpResponse"):
    """Seconds the server asked us to wait, from the first parseable
    ``Retry-After`` header of a retriable response (None if absent)."""
    for name, value in response.headers:
        if name.lower() == "retry-after":
            hint = parse_retry_after(value)
            if hint is not None:
                return hint
    return None


def send_with_retry(
    send: Callable[[HttpRequestSpec], HttpResponse],
    spec: HttpRequestSpec,
    *,
    config: RetryConfig,
    is_retriable_status: Callable[[int], bool],
    limiter: Optional[TokenBucket] = None,
    stats: Optional[RetryStats] = None,
    budget: Optional[RetryBudget] = None,
) -> HttpResponse:
    """Send ``spec`` through ``send`` with retries: the one retry path of
    the lookup client, the sink, the ``http`` source and ``http_get_json``
    (reference ``HttpClientWithRetry.java:44-92``).

    Each wire attempt, retries included, takes one ``limiter`` permit.
    ``OSError`` and ``http.client.HTTPException`` (BadStatusLine, a corrupt
    compressed body) are retried, as is a status ``is_retriable_status``
    accepts, after ``max(policy delay, Retry-After)`` capped at the
    backoff ceiling. Returns the first other response; raises
    :class:`HttpRetryError` when the attempts or the ``budget`` run out."""

    def attempt() -> HttpResponse:
        if limiter is not None:
            limiter.acquire()
        return send(spec)

    return run_with_retry(
        attempt,
        config=config,
        status_of=lambda r: r.status,
        is_retriable_status=is_retriable_status,
        retriable_exceptions=(OSError, http.client.HTTPException),
        stats=stats,
        retry_after_of=_retry_after_hint,
        budget=budget,
    )


# default R11/R12 wiring: every exchange is loggable, but the hot path only
# pays an isEnabledFor check unless debug logging is on (the reference's
# Slf4J callbacks are similarly level-gated by the logging backend)
_debug_exchange_logger = logging_callback(log_at=logging.DEBUG)


def _default_request_callback(spec, response) -> None:
    if logger.isEnabledFor(logging.DEBUG):
        _debug_exchange_logger(spec, response)


class HttpResponse:
    """Minimal response view: status, headers (multi-valued), body bytes."""

    __slots__ = ("status", "headers", "body")

    def __init__(self, status: int, headers: List[Tuple[str, str]], body: bytes):
        self.status = status
        self.headers = headers
        self.body = body

    def header_map(self) -> Dict[str, List[str]]:
        """Headers as ``MAP<STRING, ARRAY<STRING>>`` for the metadata column
        (reference ``HttpLookupTableSource.java:345-359``)."""
        out: Dict[str, List[str]] = {}
        for name, value in self.headers:
            out.setdefault(name, []).append(value)
        return out


class _ConnectPhaseTimeoutMixin:
    """Separate connect-phase deadline (reference
    ``http.source.lookup.connection.timeout`` →
    ``HttpLookupConnectorOptions.java:129-133`` →
    ``JavaNetHttpClientFactory.java:71-72`` / ``HttpClient.connectTimeout``).

    ``http.client`` applies ONE socket timeout to both connect and read.
    Here the TCP connect (and, for HTTPS, the TLS handshake — the same
    connection-establishment phase Java 11's ``connectTimeout`` governs)
    runs under ``connect_timeout``; once established, the socket reverts
    to the whole-request timeout. This is what lets a pool member with a
    dead endpoint fail over in ~1s instead of eating the full 30s
    request deadline."""

    def __init__(self, *args, connect_timeout: Optional[float] = None, **kwargs) -> None:
        super().__init__(*args, **kwargs)
        self._connect_timeout = connect_timeout

    def connect(self) -> None:
        if self._connect_timeout is None:
            super().connect()
        else:
            request_timeout = self.timeout
            self.timeout = self._connect_timeout
            try:
                super().connect()
            finally:
                self.timeout = request_timeout
            self.sock.settimeout(request_timeout)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)


class _NoDelayHTTPConnection(_ConnectPhaseTimeoutMixin, http.client.HTTPConnection):
    """TCP_NODELAY keep-alive connection — without it the request/response
    ping-pong hits Nagle + delayed-ACK (~40ms per call), which at thousands
    of lookups per task dwarfs everything else."""


class _NoDelayHTTPSConnection(_ConnectPhaseTimeoutMixin, http.client.HTTPSConnection):
    pass


def _decompress_response(
    headers: List[Tuple[str, str]], body: bytes
) -> Tuple[List[Tuple[str, str]], bytes]:
    """Transparent gzip/deflate decoding: when the server honored our
    Accept-Encoding, hand every consumer plain bytes and drop the
    now-inaccurate Content-Encoding/Content-Length headers (the same
    contract as every mainstream HTTP client). Unknown encodings pass
    through untouched — classification/decode failures stay upstream
    policy decisions."""
    encoding = ""
    for name, value in headers:
        if name.lower() == "content-encoding":
            encoding = value.strip().lower()
            break
    if encoding in ("gzip", "x-gzip"):
        import gzip as _gzip

        try:
            body = _gzip.decompress(body)
        except (EOFError, _gzip.BadGzipFile, OSError) as exc:
            # Truncated/corrupt gzip raises EOFError/BadGzipFile — neither
            # is an OSError subclass the retry/continue_on_error layers
            # classify. Surface as a transport failure so the existing
            # classification (retry, error-counting, continue-on-error)
            # treats a corrupt compressed body like any other bad response.
            raise http.client.HTTPException(
                f"corrupt gzip response body: {exc}"
            ) from exc
    elif encoding == "deflate":
        import zlib as _zlib

        try:
            body = _zlib.decompress(body)
        except _zlib.error:  # raw-deflate servers omit the zlib wrapper
            try:
                body = _zlib.decompress(body, -_zlib.MAX_WBITS)
            except _zlib.error as exc:
                raise http.client.HTTPException(
                    f"corrupt deflate response body: {exc}"
                ) from exc
    else:
        return headers, body
    headers = [
        (n, v) for n, v in headers
        if n.lower() not in ("content-encoding", "content-length")
    ]
    return headers, body


class HttpTransport:
    """One configured transport: TLS + proxy + timeout.

    Fast path keeps one persistent ``http.client`` connection per
    (scheme, authority) per thread — HTTP keep-alive matters at scale:
    a lookup join fires thousands of requests per task, and per-request
    TCP+TLS setup dominates otherwise. Proxied requests fall back to a
    urllib opener (rare path, correctness over speed).

    Compression: requests advertise ``Accept-Encoding: gzip, deflate``
    (unless the caller set the header explicitly) and responses are
    transparently decompressed — at ingest scale the JSON feeds this
    connector reads compress 5-10x, so the wire cost of a 100 TB-adjacent
    pipeline drops by the same factor when the endpoint cooperates."""

    def __init__(
        self,
        *,
        timeout: float = 30.0,
        connect_timeout: Optional[float] = None,
        server_ca: Optional[str] = None,
        client_cert: Optional[str] = None,
        client_key: Optional[str] = None,
        allow_self_signed: bool = False,
        proxy_host: Optional[str] = None,
        proxy_port: Optional[int] = None,
        proxy_user: Optional[str] = None,
        proxy_password: Optional[str] = None,
    ) -> None:
        self.timeout = timeout
        # Connect-phase-only deadline (None = connect shares the request
        # timeout, the reference's no-default behavior). Applies to the
        # keep-alive fast path; the proxied urllib fallback has a single
        # opener-level timeout, so there the whole-request deadline still
        # governs the connect phase (documented rare path).
        self.connect_timeout = connect_timeout
        handlers: list = []
        context = build_ssl_context(
            server_ca=server_ca,
            client_cert=client_cert,
            client_key=client_key,
            allow_self_signed=allow_self_signed,
        )
        self._ssl_context = context
        self._use_proxy = bool(proxy_host)
        self._local = threading.local()
        if context is not None:
            handlers.append(urllib.request.HTTPSHandler(context=context))
        if proxy_host:
            authority = f"{proxy_host}:{proxy_port}" if proxy_port else proxy_host
            if proxy_user:
                authority = f"{proxy_user}:{proxy_password or ''}@{authority}"
            handlers.append(urllib.request.ProxyHandler({
                "http": f"http://{authority}",
                "https": f"http://{authority}",
            }))
        self._opener = urllib.request.build_opener(*handlers)

    def send(self, spec: HttpRequestSpec) -> HttpResponse:
        """Issue one request; non-2xx responses return normally (policy
        classification happens upstream, like the reference's client)."""
        if not any(n.lower() == "accept-encoding" for n in spec.headers):
            spec = HttpRequestSpec(
                method=spec.method,
                url=spec.url,
                headers={**dict(spec.headers),
                         "Accept-Encoding": "gzip, deflate"},
                body=spec.body,
            )
        if self._use_proxy:
            resp = self._send_urllib(spec)
        else:
            resp = self._send_keepalive(spec)
        headers, body = _decompress_response(resp.headers, resp.body)
        if body is not resp.body:
            return HttpResponse(resp.status, headers, body)
        return resp

    def _send_urllib(self, spec: HttpRequestSpec) -> HttpResponse:
        req = urllib.request.Request(
            spec.url,
            data=spec.body,
            headers=dict(spec.headers),
            method=spec.method,
        )
        try:
            with self._opener.open(req, timeout=self.timeout) as resp:
                return HttpResponse(resp.status, list(resp.headers.items()), resp.read())
        except urllib.error.HTTPError as err:
            body = err.read() if hasattr(err, "read") else b""
            return HttpResponse(err.code, list((err.headers or {}).items()), body)

    def _connection(self, scheme: str, authority: str):
        conns = getattr(self._local, "conns", None)
        if conns is None:
            conns = {}
            self._local.conns = conns
        key = (scheme, authority)
        conn = conns.get(key)
        if conn is None:
            if scheme == "https":
                conn = _NoDelayHTTPSConnection(
                    authority,
                    timeout=self.timeout,
                    connect_timeout=self.connect_timeout,
                    context=self._ssl_context,
                )
            else:
                conn = _NoDelayHTTPConnection(
                    authority,
                    timeout=self.timeout,
                    connect_timeout=self.connect_timeout,
                )
            conns[key] = conn
        return conn

    _IDEMPOTENT_METHODS = frozenset({"GET", "HEAD", "PUT", "DELETE", "OPTIONS", "TRACE"})

    def _send_keepalive(self, spec: HttpRequestSpec) -> HttpResponse:
        parsed = urllib.parse.urlsplit(spec.url)
        target = parsed.path or "/"
        if parsed.query:
            target += "?" + parsed.query
        # one reconnect on a stale kept-alive socket — but only for
        # idempotent methods: a POST may already have been processed by the
        # server even though the socket died, so re-sending it here would
        # risk a duplicate side effect; non-idempotent failures propagate to
        # the retry policy, where re-sending is the user's explicit choice
        # (matching reference HttpClientWithRetry.java:44-92, which owns all
        # IOException retrying).
        resend_ok = spec.method.upper() in self._IDEMPOTENT_METHODS
        for attempt in (0, 1):
            conn = self._connection(parsed.scheme, parsed.netloc)
            try:
                conn.request(spec.method, target, body=spec.body, headers=dict(spec.headers))
                resp = conn.getresponse()
                body = resp.read()
                return HttpResponse(resp.status, list(resp.getheaders()), body)
            except (http.client.HTTPException, ConnectionError, OSError) as err:
                conn.close()
                self._local.conns.pop((parsed.scheme, parsed.netloc), None)
                # a stale socket fails with a reset or RemoteDisconnected,
                # never a timeout: re-sending a timed-out request would only
                # double the wait on a silent endpoint
                if attempt == 1 or not resend_ok or isinstance(err, TimeoutError):
                    raise


def _shutdown_hedge_pool(pool: ThreadPoolExecutor) -> None:
    """weakref.finalize target: must be a module function holding no
    client reference, or the finalizer would keep the client alive."""
    pool.shutdown(wait=False, cancel_futures=True)


class HttpPollingClient:
    """Build request → send with retry → classify → decode → metadata.

    One instance per (executor worker, lookup-table config); thread-safe, so
    the async pool can share it.
    """

    def __init__(
        self,
        *,
        url: str,
        options: HttpLookupOptions,
        query_creator: Optional[QueryCreator] = None,
        transport: Optional[HttpTransport] = None,
    ) -> None:
        self.url = url
        self.options = options
        self.query_creator = query_creator or resolve_query_creator(
            options.query_creator,
            options.method,
            **(
                {"url_map": dict(options.url_map), "body_template": options.body_template}
                if (options.query_creator == "http-generic-json-url")
                else {}
            ),
        )
        self.checker = HttpResponseChecker(options.success_codes, options.retry_codes)
        self.ignored_codes = parse_http_codes(options.ignored_codes or "")
        self.transport = transport or HttpTransport(
            timeout=options.request_timeout,
            connect_timeout=options.connection_timeout,
            server_ca=options.server_ca,
            client_cert=options.client_cert,
            client_key=options.client_key,
            allow_self_signed=options.allow_self_signed,
            proxy_host=options.proxy_host,
            proxy_port=options.proxy_port,
            proxy_user=options.proxy_user,
            proxy_password=options.proxy_password,
        )
        # per-task request rate cap (SURVEY §7 scale addition; shared by
        # the pull pool's threads so the cap covers async fan-out too)
        self.rate_limiter = (
            TokenBucket(options.rate_limit, options.rate_limit_burst)
            if options.rate_limit
            else None
        )
        # per-executor fail-fast guard (beyond-reference; see retry.py)
        self.circuit_breaker = (
            CircuitBreaker(
                options.circuit_breaker_failures,
                options.circuit_breaker_reset,
            )
            if options.circuit_breaker_failures
            else None
        )
        # response format SPI (reference lookup-request.format / format)
        self._decoder = options.decoder or resolve_decoder(options.response_format)
        # R12 request/response callback; default logs at DEBUG only
        self.on_response = options.request_callback or _default_request_callback
        self.retry_stats = RetryStats()
        # opt-in Finagle-style retry budget shared by all caller threads
        # of this per-executor client (see retry.RetryBudget)
        self.retry_budget = (
            RetryBudget(
                ratio=options.retry_budget_ratio,
                min_retries_per_second=options.retry_budget_min_per_second,
            )
            if options.retry_budget_ratio is not None
            else None
        )
        # hedged-request accounting + lazily-created hedge pool (opt-in,
        # options.hedge_delay); the pool is shared by all caller threads
        # and sized so concurrent hedged lookups don't serialize
        self.hedge_stats = {"fired": 0, "won": 0}
        self._hedge_pool_lock = threading.Lock()
        self._hedge_pool: Optional[ThreadPoolExecutor] = None
        self._hedge_finalizer: Optional[weakref.finalize] = None
        self._preprocessors: Dict[str, HeaderPreprocessor] = {}
        # with OIDC the Authorization header is CREATED by the connector
        # (bearer fetched at request time), not merely rewritten — so it
        # must be seeded even when no static header was configured
        self._seed_auth_header = False
        if options.oidc_token_endpoint and options.oidc_token_request:
            manager = OidcAccessTokenManager(
                options.oidc_token_endpoint,
                options.oidc_token_request,
                expiry_reduction=options.oidc_expiry_reduction,
            )
            self._preprocessors[AUTHORIZATION] = manager.authorization_preprocessor()
            self._seed_auth_header = True
        elif not options.use_raw_auth_header:
            self._preprocessors[AUTHORIZATION] = basic_auth_value

    # -- request construction -------------------------------------------------

    def build_request(self, key_values: Mapping[str, Any]) -> HttpRequestSpec:
        query_info = self.query_creator(key_values)
        raw_headers = dict(self.options.headers)
        if self._seed_auth_header:
            raw_headers.setdefault(AUTHORIZATION, "")
        headers = preprocess_headers(raw_headers, self._preprocessors)
        return build_lookup_request(
            method=self.options.method,
            url=self.url,
            query_info=query_info,
            headers=headers,
        )

    # -- response decode -------------------------------------------------------

    def _decode(self, body: bytes) -> List[Mapping[str, Any]]:
        """Decode the body with the configured format decoder, then apply
        the ``result_type`` rule (single-value → one row, array → N rows —
        reference ``JavaNetHttpPollingClient.java:340-376``)."""
        if not body.strip():
            return []
        payload = self._decoder(body)
        if self.options.result_type == "array":
            if not isinstance(payload, list):
                raise ValueError(
                    f"Expected a {self.options.response_format} array response "
                    "(result-type=array)"
                )
            return [row for row in payload if row is not None]
        if isinstance(payload, list):
            if self.options.response_format != "json" and len(payload) == 1:
                # row-oriented formats (csv) always decode to a list; a
                # single row satisfies single-value
                return payload
            raise ValueError(
                "Got an array response but result-type=single-value; "
                "set http.source.lookup.result-type=array"
            )
        return [payload]

    # -- the state machine (split so async mode can pipeline the phases) -------

    def send(self, key_values: Mapping[str, Any]) -> Tuple:
        """Network phase: build the request and run it with retries. Returns
        an opaque exchange for :meth:`publish`. The async lookup runs both
        phases of a key on the same pool thread; the reference instead
        hands the decode to a second, publish, pool
        (``AsyncHttpTableLookupFunction.java:94-115``)."""
        return self._exchange(self.build_request(key_values))

    def _send_wire(self, spec: HttpRequestSpec) -> HttpResponse:
        """One wire attempt — hedged when ``options.hedge_delay`` is set.

        Tail-latency hedging (Dean & Barroso, "The Tail at Scale"): if
        the primary hasn't answered within the delay, fire ONE duplicate
        and return whichever completes first with a response. The loser
        is abandoned — its thread finishes (or times out) in the
        background and its result is dropped; a completed-but-discarded
        response leaves that thread's keep-alive connection in sync, and
        an errored one is closed by the transport, so no response
        desynchronization is possible. When the first completion is an
        error, the other attempt is awaited (one slow-but-healthy replica
        still saves the exchange); only if both fail does the error reach
        the retry layer. The duplicate consumes a rate-limit permit like
        any other wire request. Default off = reference parity."""
        delay = self.options.hedge_delay
        if delay is None:
            return self.transport.send(spec)
        with self._hedge_pool_lock:
            if self._hedge_pool is None:
                self._hedge_pool = ThreadPoolExecutor(
                    max_workers=2 * max(1, self.options.pull_pool_size),
                    thread_name_prefix="http-hedge",
                )
                # non-daemon threads + their keep-alive sockets must not
                # outlive the client in long-lived executor reuse: shut
                # the pool down when the client is GC'd (or at interpreter
                # exit) even if close() is never called. The finalizer
                # references only the pool, never self.
                self._hedge_finalizer = weakref.finalize(
                    self, _shutdown_hedge_pool, self._hedge_pool
                )
            pool = self._hedge_pool
        primary = pool.submit(self.transport.send, spec)
        try:
            return primary.result(timeout=delay)
        except _FuturesTimeout:
            pass  # primary still in flight: hedge
        with self._hedge_pool_lock:
            self.hedge_stats["fired"] += 1
        if self.rate_limiter is not None:
            self.rate_limiter.acquire()
        secondary = pool.submit(self.transport.send, spec)
        pending = {primary, secondary}
        last_err: Optional[BaseException] = None
        while pending:
            done, pending = _futures_wait(pending, return_when=FIRST_COMPLETED)
            for fut in done:
                err = fut.exception()
                if err is None:
                    if fut is secondary:
                        with self._hedge_pool_lock:
                            self.hedge_stats["won"] += 1
                    return fut.result()
                last_err = err
        assert last_err is not None
        raise last_err

    def close(self) -> None:
        """Release resources held by the client — today the lazily
        created hedge pool (2×pull_pool_size non-daemon threads plus
        their thread-local keep-alive sockets). Safe to call more than
        once; the client remains usable afterwards (a later hedged send
        recreates the pool)."""
        with self._hedge_pool_lock:
            pool, self._hedge_pool = self._hedge_pool, None
            finalizer, self._hedge_finalizer = self._hedge_finalizer, None
        if finalizer is not None:
            finalizer.detach()
        if pool is not None:
            pool.shutdown(wait=False, cancel_futures=True)

    def __enter__(self) -> "HttpPollingClient":
        return self

    def __exit__(self, *exc: Any) -> None:
        self.close()

    def _exchange(self, spec: HttpRequestSpec, also_success: Tuple = ()) -> Tuple:
        """Fire one assembled request with the retry policy; shared by the
        per-key and multi-key network phases. The circuit breaker (when
        configured) is consulted BEFORE the wire and fed the exchange
        outcome: a successfully classified response closes it, an
        exception / exhausted retry / error status counts as a failure."""
        breaker = self.circuit_breaker
        if breaker is not None and not breaker.allow():
            return (spec, None, ("circuit breaker open: failing fast", None))

        try:
            response = send_with_retry(
                self._send_wire,
                spec,
                config=self.options.retry,
                is_retriable_status=self.checker.is_temporal_error,
                limiter=self.rate_limiter,
                stats=self.retry_stats,
                budget=self.retry_budget,
            )
        except HttpRetryError as err:
            if breaker is not None:
                breaker.record_failure()
            return (spec, None, (f"retries exhausted: {err}", err.status_code))
        except Exception as err:  # noqa: BLE001 — policy boundary
            if breaker is not None:
                breaker.record_failure()
            return (spec, None, (str(err), None))
        if breaker is not None:
            if (
                self.checker.is_successful(response.status)
                or response.status in self.ignored_codes
                or response.status in also_success
            ):
                breaker.record_success()
            else:
                breaker.record_failure()
        return (spec, response, None)

    def _classify(
        self, exchange: Tuple, decode: Callable[[bytes], List], abandoned=None,
    ) -> Optional[HttpLookupResult]:
        """Classify + decode one exchange (CPU-bound); fires the R12
        callback. A failed exchange, an error status or an undecodable
        body goes through ``_on_failure``; an ignored status keeps no
        rows; otherwise ``rows`` is ``decode(body)``.

        ``abandoned`` (a ``threading.Event``) marks an exchange whose
        caller already reported it as timed out and discarded its result:
        then this fires NO observer and NO failure accounting and returns
        None. It is re-checked right before each side effect, so a
        straggler that raced past the caller's own check is caught here."""
        if abandoned is not None and abandoned.is_set():
            return None
        spec, response, failure = exchange
        if failure is not None:
            message, status_code = failure
            return self._on_failure(
                HttpCompletionState.EXCEPTION, message, status_code=status_code
            )
        if self.on_response is not None:
            if abandoned is not None and abandoned.is_set():
                return None
            self.on_response(spec, response)
        headers = response.header_map()
        if response.status in self.ignored_codes:
            # Ignored ⊂ success for classification, but content is dropped
            # (reference fold ``JavaNetHttpPollingClient.java:106-112``).
            return HttpLookupResult(
                rows=(),
                status_code=response.status,
                headers=headers,
                completion_state=HttpCompletionState.IGNORE_STATUS_CODE,
            )
        if not self.checker.is_successful(response.status):
            return self._on_failure(
                HttpCompletionState.HTTP_ERROR_STATUS,
                f"HTTP error status {response.status}",
                status_code=response.status,
                headers=headers,
            )
        try:
            rows = decode(response.body)
        except (ValueError, UnicodeDecodeError) as err:
            return self._on_failure(
                HttpCompletionState.UNABLE_TO_DESERIALIZE_RESPONSE,
                f"cannot deserialize response: {err}",
                status_code=response.status,
                headers=headers,
            )
        return HttpLookupResult(
            rows=rows,
            status_code=response.status,
            headers=headers,
            completion_state=HttpCompletionState.SUCCESS,
        )

    def publish(self, exchange: Tuple) -> HttpLookupResult:
        """Classify + decode phase of a per-key exchange."""
        return self._classify(exchange, self._decode)

    def pull(self, key_values: Mapping[str, Any]) -> HttpLookupResult:
        """One lookup: returns rows + metadata, or raises when the policy
        says fail (continue-on-error off — reference
        ``JavaNetHttpPollingClient.java:166-199``)."""
        return self.publish(self.send(key_values))

    def pull_conditional(
        self,
        key_values: Mapping[str, Any],
        etag: str,
        cached_result: "HttpLookupResult",
        abandoned=None,
    ) -> Optional["HttpLookupResult"]:
        """Conditional lookup (beyond-reference): the same request with
        ``If-None-Match: <etag>``. A 304 revalidates ``cached_result``
        without re-downloading the body (the caller refreshes its cache
        TTL); any other status flows through the normal classify/decode
        path and replaces the entry. 304 counts as success for the
        circuit breaker — the endpoint answered exactly as asked.
        ``abandoned`` is as in :meth:`_classify`: once set, no observer
        fires and the result is None."""
        base = self.build_request(key_values)
        headers = dict(base.headers)
        headers["If-None-Match"] = etag
        spec = HttpRequestSpec(
            method=base.method, url=base.url, headers=headers, body=base.body
        )
        exchange = self._exchange(spec, also_success=(304,))
        if abandoned is not None and abandoned.is_set():
            return None  # the caller already served the stale entry
        sent_spec, response, failure = exchange
        if failure is None and response is not None and response.status == 304:
            if self.on_response is not None:
                self.on_response(sent_spec, response)
            return cached_result
        return self._classify(exchange, self._decode, abandoned)

    # -- multi-key batch lookup (beyond-reference scale path) ------------------

    def send_multi(self, batch_key_values: List[Mapping[str, Any]]) -> Tuple:
        """Network phase for a multi-key batch lookup: ONE body-based
        request whose payload is the JSON array of key objects. GET
        upgrades to POST (the keys travel in the body); headers, auth
        rewrite, TLS, retry, and rate limiting are identical to the
        per-key path."""
        import json as _json

        raw_headers = dict(self.options.headers)
        if self._seed_auth_header:
            raw_headers.setdefault(AUTHORIZATION, "")
        headers = preprocess_headers(raw_headers, self._preprocessors)
        method = self.options.method.upper()
        try:
            spec = build_lookup_request(
                method="POST" if method == "GET" else method,
                url=self.url,
                query_info=LookupQueryInfo(
                    lookup_query=_json.dumps(
                        [dict(kv) for kv in batch_key_values]
                    )
                ),
                headers=headers,
            )
        except KeyError as err:
            # a {{placeholder}} URL template has no batch-level value —
            # multi-key batching sends keys in the body, so templated URLs
            # are incompatible with it; surface a failure result instead
            # of crashing the task
            return (None, None, (
                f"batch lookup cannot resolve URL template {err}: multi-key "
                "batching (http.source.lookup.request.batch.size) is "
                "incompatible with {{placeholder}} URL templates — drop the "
                "batch size or the template", None,
            ))
        return self._exchange(spec)

    def publish_multi(
        self,
        exchange: Tuple,
        batch_key_values: List[Mapping[str, Any]],
        key_names: List[str],
        key_coercers: Optional[List] = None,
        abandoned=None,
    ) -> List[HttpLookupResult]:
        """Classify + decode for a batch exchange, fanned back out per key:
        the response is a JSON array of result objects each carrying its
        key fields; rows are grouped by key tuple, keys with no matching
        object read as empty results (the per-key emptiness rule then
        applies downstream). Any transport/status/decode failure yields
        the SAME failure result for every key in the batch (one request ⇒
        one fate, like one per-key request's fate).

        ``key_coercers`` (one callable per key name, normally the declared-
        schema ``_coerce``) canonicalizes BOTH the response rows' key fields
        and the request keys before matching, so an endpoint that echoes
        ``"42"`` for an int key 42 still enriches — the per-key path gets
        this for free from schema decoding; the batch match must apply the
        same types or silently return empty results for every key."""
        def decode_array(body: bytes) -> List:
            payload = self._decoder(body) if body.strip() else []
            if not isinstance(payload, list):
                raise ValueError(
                    "batch lookup expects an array response "
                    "(one result object per matched key)"
                )
            return payload

        batch = self._classify(exchange, decode_array, abandoned)
        if batch is None:
            return []
        if batch.completion_state != HttpCompletionState.SUCCESS:
            return [batch] * len(batch_key_values)

        def canon(values) -> Tuple:
            if key_coercers is None:
                return tuple(values)
            out = []
            for coerce, v in zip(key_coercers, values):
                try:
                    out.append(coerce(v))
                except (ValueError, TypeError, ArithmeticError):
                    out.append(v)  # uncoercible value matches only itself
            return tuple(out)

        grouped: Dict[Tuple, List[Mapping[str, Any]]] = {}
        for row in batch.rows:
            if row is None:
                continue
            grouped.setdefault(
                canon(row.get(k) for k in key_names), []
            ).append(row)
        return [
            HttpLookupResult(
                rows=tuple(
                    grouped.get(canon(kv.get(k) for k in key_names), ())
                ),
                status_code=batch.status_code,
                headers=batch.headers,
                completion_state=HttpCompletionState.SUCCESS,
            )
            for kv in batch_key_values
        ]

    def _on_failure(
        self,
        state: HttpCompletionState,
        error: str,
        *,
        status_code: Optional[int] = None,
        headers: Optional[Mapping[str, List[str]]] = None,
    ) -> HttpLookupResult:
        if not self.options.continue_on_error:
            raise RuntimeError(f"HTTP lookup failed ({state.value}): {error}")
        logger.debug("lookup continue-on-error: %s (%s)", error, state.value)
        return HttpLookupResult(
            rows=(),
            error_string=error,
            status_code=status_code,
            headers=headers,
            completion_state=state,
        )
