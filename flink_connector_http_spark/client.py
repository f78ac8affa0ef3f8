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

Every exchange runs on ``wire.HttpTransport``: non-blocking keep-alive
sockets with the TLS context and optional authenticated proxy
(``utils/JavaNetHttpClientFactory.java:74-94``).
"""

from __future__ import annotations

import http.client
import logging
from typing import Any, Callable, Dict, List, Mapping, Optional, Sequence, Tuple

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
    retry_steps,
)
from .status import HttpResponseChecker, parse_http_codes
from .types import HttpCompletionState, HttpLookupResult
from .wire import HttpResponse, HttpTransport, _decompress_response  # noqa: F401

__all__ = ["HttpResponse", "HttpTransport", "HttpPollingClient", "http_retry_steps"]

logger = logging.getLogger(__name__)

#: what a wire attempt raises that the retry policy retries: a socket error
#: or timeout, or bad framing (BadStatusLine, a truncated or corrupt body)
_TRANSPORT_ERRORS = (OSError, http.client.HTTPException)


def _retry_after_hint(response: "HttpResponse"):
    """Seconds the server asked us to wait, from the first parseable
    ``Retry-After`` header of a retriable response (None if absent)."""
    for name, value in response.headers:
        if name.lower() == "retry-after":
            hint = parse_retry_after(value)
            if hint is not None:
                return hint
    return None


def _status(response: "HttpResponse") -> int:
    return response.status


def http_retry_steps(
    spec: HttpRequestSpec,
    *,
    config: RetryConfig,
    is_retriable_status: Callable[[int], bool],
    stats: Optional[RetryStats] = None,
    budget: Optional[RetryBudget] = None,
):
    """``retry.retry_steps`` for one HTTP request: the retry path of every
    exchange, run on the transport's loop (reference
    ``HttpClientWithRetry.java:44-92``). The transport's errors and a
    retriable status are retried, after ``max(policy delay, Retry-After)``
    capped at the backoff ceiling."""
    return retry_steps(
        spec,
        config=config,
        status_of=_status,
        is_retriable_status=is_retriable_status,
        retriable_exceptions=_TRANSPORT_ERRORS,
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


class HttpPollingClient:
    """Build request → send with retry → classify → decode → metadata.

    One instance per (executor worker, lookup-table config). Its step
    sequences run on the transport's loop, many at once on one thread
    (:meth:`run`); the blocking :meth:`pull` runs one.
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
        # per-task request rate cap (SURVEY §7 scale addition; every wire
        # attempt of the loop takes a permit, so it covers async fan-out)
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
        # opt-in Finagle-style retry budget shared by every exchange of
        # this per-executor client (see retry.RetryBudget)
        self.retry_budget = (
            RetryBudget(
                ratio=options.retry_budget_ratio,
                min_retries_per_second=options.retry_budget_min_per_second,
            )
            if options.retry_budget_ratio is not None
            else None
        )
        # hedged-request accounting (opt-in, options.hedge_delay)
        self.hedge_stats = {"fired": 0, "won": 0}
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

    # -- the state machine, as step sequences for the transport's loop ---------

    def run(self, sequences: Sequence, *, width: int = 1, deadline=None,
            on_timeout=None) -> List:
        """Run step sequences (built on :meth:`exchange_steps`) on the
        transport's loop, up to ``width`` at once, with this client's rate
        limiter and hedging; see ``wire.HttpTransport.run``."""
        return self.transport.run(
            sequences, width=width, deadline=deadline, on_timeout=on_timeout,
            limiter=self.rate_limiter, hedge_delay=self.options.hedge_delay,
            hedge_stats=self.hedge_stats,
        )

    def exchange_steps(self, spec: HttpRequestSpec, also_success: Tuple = ()):
        """The step sequence of one exchange (per-key, multi-key and
        conditional alike): circuit breaker, then :func:`http_retry_steps`,
        each wire attempt hedged after ``options.hedge_delay``. Returns
        ``(spec, response, failure)`` for :meth:`publish`.

        The circuit breaker (when configured) is consulted BEFORE the wire
        and fed the exchange outcome: a successfully classified response
        closes it, an exception / exhausted retry / error status counts as
        a failure, and so does an exchange the loop closes unfinished at
        its deadline (a half-open trial must not stay in flight for good,
        and an endpoint that always hangs must still trip the breaker)."""
        breaker = self.circuit_breaker
        if breaker is not None and not breaker.allow():
            return (spec, None, ("circuit breaker open: failing fast", None))
        try:
            response = yield from http_retry_steps(
                spec,
                config=self.options.retry,
                is_retriable_status=self.checker.is_temporal_error,
                stats=self.retry_stats,
                budget=self.retry_budget,
            )
        except GeneratorExit:
            if breaker is not None:
                breaker.record_failure()
            raise
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

    def send(self, key_values: Mapping[str, Any]) -> Tuple:
        """Network phase of one per-key lookup: build the request and run
        its exchange. Returns the exchange for :meth:`publish`."""
        return self.run([self.exchange_steps(self.build_request(key_values))])[0]

    def close(self) -> None:
        """Close the transport's idle keep-alive sockets. Safe to call more
        than once; the client stays usable (it reconnects). A client that
        is garbage-collected releases its sockets too."""
        self.transport.close()

    def __enter__(self) -> "HttpPollingClient":
        return self

    def __exit__(self, *exc: Any) -> None:
        self.close()

    def _classify(
        self, exchange: Tuple, decode: Callable[[bytes], List],
    ) -> HttpLookupResult:
        """Classify + decode one exchange (CPU-bound); fires the R12
        callback. A failed exchange, an error status or an undecodable
        body goes through ``_on_failure``; an ignored status keeps no
        rows; otherwise ``rows`` is ``decode(body)``."""
        spec, response, failure = exchange
        if failure is not None:
            message, status_code = failure
            return self._on_failure(
                HttpCompletionState.EXCEPTION, message, status_code=status_code
            )
        if self.on_response is not None:
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

    def conditional_steps(
        self,
        key_values: Mapping[str, Any],
        etag: str,
        cached_result: "HttpLookupResult",
    ):
        """Step sequence of a conditional lookup (beyond-reference): the
        same request with ``If-None-Match: <etag>``. A 304 revalidates
        ``cached_result`` without re-downloading the body (the caller
        refreshes its cache TTL); any other status flows through the
        normal classify/decode path and replaces the entry. 304 counts as
        success for the circuit breaker — the endpoint answered exactly as
        asked."""
        base = self.build_request(key_values)
        headers = dict(base.headers)
        headers["If-None-Match"] = etag
        spec = HttpRequestSpec(
            method=base.method, url=base.url, headers=headers, body=base.body
        )
        exchange = yield from self.exchange_steps(spec, also_success=(304,))
        sent_spec, response, failure = exchange
        if failure is None and response.status == 304:
            if self.on_response is not None:
                self.on_response(sent_spec, response)
            return cached_result
        return self._classify(exchange, self._decode)

    # -- multi-key batch lookup (beyond-reference scale path) ------------------

    def send_multi(self, batch_key_values: List[Mapping[str, Any]]) -> Tuple:
        """Network phase for a multi-key batch lookup, blocking; see
        :meth:`multi_steps`. The lookup itself runs ``multi_steps`` on the
        loop; this stays for callers that wrap the network phase (the
        benchmark's ``perfbench/trace.py`` ``TracedClient`` names it)."""
        return self.run([self.multi_steps(batch_key_values)])[0]

    def multi_steps(self, batch_key_values: List[Mapping[str, Any]]):
        """Step sequence of a multi-key batch lookup: ONE body-based
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
        return (yield from self.exchange_steps(spec))

    def publish_multi(
        self,
        exchange: Tuple,
        batch_key_values: List[Mapping[str, Any]],
        key_names: List[str],
        key_coercers: Optional[List] = None,
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

        batch = self._classify(exchange, decode_array)
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
