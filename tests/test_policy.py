"""Unit tests for the pure-logic policy modules (SURVEY §2.7 R1-R7, §2.6).

Mirrors the reference's unit-test tier: HttpCodesParserTest,
HttpResponseCheckerTest, RetryConfigProviderTest, OidcAccessTokenManagerTest,
BasicAuthHeaderValuePreprocessorTest — plus property tests for the code
grammar (an addition; the reference has none).
"""

import json

import pytest
from hypothesis import given
from hypothesis import strategies as st

from flink_connector_http_spark.auth import (
    OidcAccessTokenManager,
    basic_auth_value,
    preprocess_headers,
)
from flink_connector_http_spark.cache import LookupCacheConfig, LruTtlCache
from flink_connector_http_spark.query_creators import (
    GenericJsonUrlQueryCreator,
    elasticsearch_lite_query_creator,
    generic_get_query_creator,
    generic_json_query_creator,
    resolve_query_creator,
)
from flink_connector_http_spark.request import build_lookup_request, flatten_key_row
from flink_connector_http_spark.retry import (
    HttpRetryError,
    RetryConfig,
    retry_steps,
)
from flink_connector_http_spark.status import (
    HttpResponseChecker,
    HttpStatusConfigError,
    SinkErrorCodeChecker,
    parse_http_codes,
)


# --- R1: codes parser -------------------------------------------------------------

class TestHttpCodesParser:
    @pytest.mark.parametrize("expr,included,excluded", [
        ("2XX", [200, 201, 250, 299], [300, 199]),
        ("2XX,404", [200, 404], [405]),
        ("2XX,!203", [200, 202, 204], [203]),
        ("400, 401 , 403", [400, 401, 403], [402]),
        ("1xx,5XX", [100, 199, 500, 599], [200, 400]),
        ("!404,4XX", [400, 403, 405], [404]),  # order-insensitive exclusion
        ("", [], [200]),
    ])
    def test_grammar(self, expr, included, excluded):
        codes = parse_http_codes(expr)
        for code in included:
            assert code in codes
        for code in excluded:
            assert code not in codes

    @pytest.mark.parametrize("expr", ["99", "600", "2X", "!2XX", "abc", "1XXX"])
    def test_invalid(self, expr):
        with pytest.raises(HttpStatusConfigError):
            parse_http_codes(expr)

    @given(st.integers(min_value=100, max_value=599))
    def test_single_code_roundtrip(self, code):
        assert parse_http_codes(str(code)) == frozenset({code})

    @given(st.integers(min_value=1, max_value=5),
           st.integers(min_value=0, max_value=99))
    def test_group_contains_all_members(self, group, offset):
        assert group * 100 + offset in parse_http_codes(f"{group}XX")

    @given(st.integers(min_value=100, max_value=599))
    def test_exclusion_always_wins(self, code):
        group = f"{code // 100}XX"
        assert code not in parse_http_codes(f"{group},!{code}")


# --- R2/R3: response checkers ---------------------------------------------------

class TestHttpResponseChecker:
    def test_defaults(self):
        checker = HttpResponseChecker()
        assert checker.is_successful(200) and checker.is_successful(299)
        assert not checker.is_successful(404)
        assert checker.is_temporal_error(500)
        assert checker.is_temporal_error(503) and checker.is_temporal_error(504)
        assert not checker.is_temporal_error(501)

    def test_overlap_rejected(self):
        with pytest.raises(HttpStatusConfigError):
            HttpResponseChecker("2XX,500", "500,503")

    def test_empty_success_rejected(self):
        with pytest.raises(HttpStatusConfigError):
            HttpResponseChecker("", "500")


class TestSinkErrorCodeChecker:
    def test_default_is_4xx_5xx(self):
        checker = SinkErrorCodeChecker()
        assert checker.is_error(400) and checker.is_error(500) and checker.is_error(599)
        assert not checker.is_error(200) and not checker.is_error(302)

    def test_exclude_overrides_error_list(self):
        checker = SinkErrorCodeChecker("4XX,5XX", "404,409")
        assert not checker.is_error(404) and not checker.is_error(409)
        assert checker.is_error(400) and checker.is_error(500)

    def test_explicit_singles(self):
        checker = SinkErrorCodeChecker("500,501")
        assert checker.is_error(500) and checker.is_error(501)
        assert not checker.is_error(400)

    def test_malformed_token_rejected(self):
        with pytest.raises(HttpStatusConfigError):
            SinkErrorCodeChecker("50")

    def test_below_100_raises(self):
        with pytest.raises(ValueError):
            SinkErrorCodeChecker().is_error(99)


def _retried(send, *, sleep, **policy):
    """Call ``send`` under the retry policy, blocking: ``retry_steps``
    yields ``send`` for each attempt (its result or exception goes back
    in) and a float for each sleep."""
    steps = retry_steps(send, **policy)
    value = error = None
    while True:
        try:
            step = steps.send(value) if error is None else steps.throw(error)
        except StopIteration as stop:
            return stop.value
        value = error = None
        if type(step) is float:
            sleep(step)
            continue
        try:
            value = step()
        except Exception as exc:  # noqa: BLE001 — the policy classifies it
            error = exc


# --- R4: retry -------------------------------------------------------------------

class TestRetry:
    def test_success_first_attempt_no_sleep(self):
        sleeps = []
        result = _retried(
            lambda: 200,
            config=RetryConfig(max_retries=3),
            status_of=lambda r: r,
            is_retriable_status=lambda s: s >= 500,
            sleep=sleeps.append,
        )
        assert result == 200 and sleeps == []

    def test_retries_then_succeeds(self):
        responses = iter([503, 503, 200])
        sleeps = []
        result = _retried(
            lambda: next(responses),
            config=RetryConfig(max_retries=3, fixed_delay=1.0),
            status_of=lambda r: r,
            is_retriable_status=lambda s: s in (500, 503, 504),
            sleep=sleeps.append,
        )
        assert result == 200
        assert sleeps == [1.0, 1.0]

    def test_exhaustion_raises(self):
        with pytest.raises(HttpRetryError) as err:
            _retried(
                lambda: 503,
                config=RetryConfig(max_retries=2),
                status_of=lambda r: r,
                is_retriable_status=lambda s: s == 503,
                sleep=lambda _d: None,
            )
        assert err.value.status_code == 503

    def test_io_error_retried(self):
        attempts = {"n": 0}

        def send():
            attempts["n"] += 1
            if attempts["n"] < 3:
                raise OSError("boom")
            return 200

        result = _retried(
            send,
            config=RetryConfig(max_retries=3),
            status_of=lambda r: r,
            is_retriable_status=lambda _s: False,
            sleep=lambda _d: None,
        )
        assert result == 200 and attempts["n"] == 3

    def test_non_retriable_error_status_returned_not_raised(self):
        result = _retried(
            lambda: 404,
            config=RetryConfig(max_retries=3),
            status_of=lambda r: r,
            is_retriable_status=lambda s: s >= 500,
            sleep=lambda _d: None,
        )
        assert result == 404

    def test_exponential_delays_capped(self):
        config = RetryConfig(
            strategy="exponential-delay",
            initial_backoff=1.0, backoff_multiplier=1.5, max_backoff=2.0,
        )
        delays = config.delays()
        assert [next(delays) for _ in range(4)] == [1.0, 1.5, 2.0, 2.0]

    def test_zero_retries_single_attempt(self):
        attempts = {"n": 0}

        def send():
            attempts["n"] += 1
            return 503

        with pytest.raises(HttpRetryError):
            _retried(
                send,
                config=RetryConfig(max_retries=0),
                status_of=lambda r: r,
                is_retriable_status=lambda s: s == 503,
                sleep=lambda _d: None,
            )
        assert attempts["n"] == 1


# --- R6/R7: auth ------------------------------------------------------------------

class TestAuth:
    def test_basic_auth_encodes_user_password(self):
        assert basic_auth_value("user:password") == "Basic dXNlcjpwYXNzd29yZA=="

    @pytest.mark.parametrize("value", [
        "Basic dXNlcjpwYXNzd29yZA==",
        "Bearer some-token",
    ])
    def test_prefixed_values_pass_through(self, value):
        assert basic_auth_value(value) == value

    def test_raw_mode_passes_through(self):
        assert basic_auth_value("user:password", raw=True) == "user:password"

    def test_preprocess_headers_applies_by_name(self):
        out = preprocess_headers(
            {"Authorization": "user:pw", "X-Other": "v"},
            {"Authorization": basic_auth_value},
        )
        assert out["Authorization"].startswith("Basic ") and out["X-Other"] == "v"

    def test_oidc_caches_until_expiry(self):
        clock = {"t": 0.0}
        calls = []

        def fake_post(url, body, headers):
            calls.append((url, body, headers))
            return json.dumps(
                {"access_token": f"tok{len(calls)}", "expires_in": 10}
            ).encode()

        manager = OidcAccessTokenManager(
            "http://idp/token", "grant_type=client_credentials",
            expiry_reduction=1.0, clock=lambda: clock["t"], http_post=fake_post,
        )
        assert manager.token() == "tok1"
        clock["t"] = 5.0
        assert manager.token() == "tok1"      # cached
        clock["t"] = 9.5                       # past expires_in - reduction
        assert manager.token() == "tok2"
        assert calls[0][2]["Content-Type"] == "application/x-www-form-urlencoded"


# --- J3: cache ---------------------------------------------------------------------

class TestLruTtlCache:
    def test_lru_eviction(self):
        cache = LruTtlCache(LookupCacheConfig(max_rows=2))
        cache.put("a", 1); cache.put("b", 2); cache.put("c", 3)
        assert cache.get("a") is None and cache.get("b") == 2 and cache.get("c") == 3

    def test_access_refreshes_lru_order(self):
        cache = LruTtlCache(LookupCacheConfig(max_rows=2))
        cache.put("a", 1); cache.put("b", 2)
        cache.get("a")
        cache.put("c", 3)
        assert cache.get("a") == 1 and cache.get("b") is None

    def test_expire_after_write(self):
        clock = {"t": 0.0}
        cache = LruTtlCache(LookupCacheConfig(expire_after_write=10.0),
                            clock=lambda: clock["t"])
        cache.put("k", "v")
        clock["t"] = 9.9
        assert cache.get("k") == "v"
        clock["t"] = 10.0
        assert cache.get("k") is None

    def test_negative_caching_toggle(self):
        yes = LruTtlCache(LookupCacheConfig(cache_missing_key=True))
        no = LruTtlCache(LookupCacheConfig(cache_missing_key=False))
        yes.put("k", None); no.put("k", None)
        assert yes.contains("k") and not no.contains("k")


# --- Q1-Q6: query creators + request assembly ---------------------------------------

class TestQueryCreators:
    def test_get_query_creator(self):
        info = generic_get_query_creator({"id": 1, "name": "a b"})
        assert info.lookup_query == "id=1&name=a+b"

    def test_json_query_creator(self):
        info = generic_json_query_creator({"id": 1, "name": "x"})
        assert json.loads(info.lookup_query) == {"id": 1, "name": "x"}

    def test_elasticsearch_lite(self):
        info = elasticsearch_lite_query_creator({"key1": "val1", "key2": "val2"})
        assert info.lookup_query == "q=key1%3A%22val1%22+AND+key2%3A%22val2%22"

    def test_json_url_creator_url_and_body(self):
        creator = GenericJsonUrlQueryCreator(
            http_method="POST",
            url_map={"customerId": "id"},
            body_template='{"key": {{id}}, "name": {{name}}, "active": {{active}}}',
        )
        info = creator({"id": 7, "name": "ann", "active": True})
        assert info.path_params == {"customerId": "7"}
        assert json.loads(info.lookup_query) == {"key": 7, "name": "ann", "active": True}

    def test_get_with_body_template_rejected(self):
        with pytest.raises(ValueError):
            GenericJsonUrlQueryCreator(http_method="GET", body_template='{"a": {{a}}}')

    def test_unknown_placeholder_raises(self):
        creator = GenericJsonUrlQueryCreator(
            http_method="POST", body_template='{"a": {{missing}}}')
        with pytest.raises(KeyError):
            creator({"a": 1})

    def test_default_resolution_by_method(self):
        assert resolve_query_creator(None, "GET") is generic_get_query_creator
        assert resolve_query_creator(None, "POST") is generic_json_query_creator

    def test_unknown_identifier(self):
        with pytest.raises(ValueError):
            resolve_query_creator("nope", "GET")


class TestRequestAssembly:
    def test_get_request(self):
        spec = build_lookup_request(
            method="GET", url="http://h/api",
            query_info=generic_get_query_creator({"id": 3}),
        )
        assert spec.url == "http://h/api?id=3" and spec.body is None

    def test_get_appends_to_existing_query(self):
        spec = build_lookup_request(
            method="GET", url="http://h/api?v=1",
            query_info=generic_get_query_creator({"id": 3}),
        )
        assert spec.url == "http://h/api?v=1&id=3"

    def test_post_request_body_and_content_type(self):
        spec = build_lookup_request(
            method="POST", url="http://h/api",
            query_info=generic_json_query_creator({"id": 3}),
        )
        assert spec.body == b'{"id": 3}'
        assert spec.headers["Content-Type"] == "application/json"

    def test_path_param_substitution_encodes(self):
        creator = GenericJsonUrlQueryCreator(
            http_method="GET", url_map={"cid": "id"})
        spec = build_lookup_request(
            method="GET", url="http://h/api/{{cid}}/details",
            query_info=creator({"id": "a/b"}),
        )
        assert spec.url == "http://h/api/a%2Fb/details"

    def test_whole_url_placeholder_not_encoded(self):
        creator = GenericJsonUrlQueryCreator(
            http_method="GET", url_map={"u": "target"})
        spec = build_lookup_request(
            method="GET", url="{{u}}",
            query_info=creator({"target": "http://other/x?a=1"}),
        )
        assert spec.url == "http://other/x?a=1"

    def test_flatten_key_row(self):
        flat = flatten_key_row({"id": 1, "details": {"nested": {"balance": "9.9"}}})
        assert flat == {"id": 1, "details.nested.balance": "9.9"}


class TestCircuitBreaker:
    def _clock(self):
        t = {"now": 0.0}

        def now():
            return t["now"]

        return t, now

    def test_opens_after_consecutive_failures(self):
        from flink_connector_http_spark.retry import CircuitBreaker

        t, now = self._clock()
        cb = CircuitBreaker(3, 30.0, clock=now)
        for _ in range(2):
            cb.record_failure()
        assert cb.allow() and not cb.is_open
        cb.record_failure()
        assert cb.is_open and not cb.allow()

    def test_success_resets_consecutive_count(self):
        from flink_connector_http_spark.retry import CircuitBreaker

        t, now = self._clock()
        cb = CircuitBreaker(2, 30.0, clock=now)
        cb.record_failure()
        cb.record_success()
        cb.record_failure()
        assert not cb.is_open  # never two CONSECUTIVE failures

    def test_half_open_trial_then_close(self):
        from flink_connector_http_spark.retry import CircuitBreaker

        t, now = self._clock()
        cb = CircuitBreaker(1, 30.0, clock=now)
        cb.record_failure()
        assert not cb.allow()
        t["now"] = 31.0
        assert cb.allow()       # one half-open trial
        assert not cb.allow()   # but only one
        cb.record_success()
        assert cb.allow() and not cb.is_open

    def test_half_open_trial_failure_reopens(self):
        from flink_connector_http_spark.retry import CircuitBreaker

        t, now = self._clock()
        cb = CircuitBreaker(1, 30.0, clock=now)
        cb.record_failure()
        t["now"] = 31.0
        assert cb.allow()
        cb.record_failure()     # trial failed -> re-open for a full timeout
        t["now"] = 60.0
        assert not cb.allow()
        t["now"] = 61.1
        assert cb.allow()


class TestOptionKeyCompleteness:
    """Every typed option field maps to a reference-style option KEY (so a
    new field cannot silently become accepted-but-ignored from the string
    option surface). Python-object fields (callables, nested configs) and
    the header map are the documented exemptions — they are passed as
    Python values, not string options."""

    LOOKUP_EXEMPT = {"decoder", "request_callback", "headers", "retry"}
    SINK_EXEMPT = {"headers", "request_callback"}
    # keys that intentionally address something other than a same-named
    # dataclass field: the endpoint url (constructor arg), header prefix
    # maps, and the flattened retry.*/cache.* sub-config keys
    LOOKUP_KEY_ONLY = {
        "url", "header_prefix",
        # aliases / identifier-resolved keys: method_long is the http.*
        # spelling of lookup-method; request_callback_id resolves a named
        # callback into the request_callback callable field
        "method_long", "request_callback_id",
        "max_retries", "retry_strategy", "retry_fixed_delay",
        "retry_initial_backoff", "retry_backoff_multiplier",
        "retry_max_backoff",
        "cache_max_rows", "cache_expire_after_write",
        "cache_expire_after_access", "cache_missing_key",
        "cache_revalidate",
        # r13 parity sweep: alias + refused/derived keys consumed by the
        # parse fn without a dataclass field
        "continue_on_error_legacy", "keystore_path", "keystore_password",
        "keystore_type", "logging_level",
    }
    SINK_KEY_ONLY = {
        "url", "header_prefix", "request_callback_id",
        "keystore_path", "keystore_password", "keystore_type",
        "logging_level",
    }

    def test_lookup_fields_all_keyed_or_exempt(self):
        import dataclasses

        from flink_connector_http_spark.options import (
            LOOKUP_OPTION_KEYS,
            HttpLookupOptions,
        )

        fields = {f.name for f in dataclasses.fields(HttpLookupOptions)}
        unkeyed = fields - set(LOOKUP_OPTION_KEYS) - self.LOOKUP_EXEMPT
        assert not unkeyed, f"lookup option fields without a key: {unkeyed}"
        stale = set(LOOKUP_OPTION_KEYS) - fields - self.LOOKUP_KEY_ONLY
        assert not stale, f"option keys without a field: {stale}"

    def test_sink_fields_all_keyed_or_exempt(self):
        import dataclasses

        from flink_connector_http_spark.options import (
            SINK_OPTION_KEYS,
            HttpSinkOptions,
        )

        fields = {f.name for f in dataclasses.fields(HttpSinkOptions)}
        unkeyed = fields - set(SINK_OPTION_KEYS) - self.SINK_EXEMPT
        assert not unkeyed, f"sink option fields without a key: {unkeyed}"
        stale = set(SINK_OPTION_KEYS) - fields - self.SINK_KEY_ONLY
        assert not stale, f"option keys without a field: {stale}"

    def test_lookup_string_options_reach_dataclass(self):
        """Round-trip consumption guard (round-3 ADVICE): key EXISTENCE is
        not enough — every scalar string option must actually land in the
        parsed dataclass. The batch-size / circuit-breaker keys were once
        declared but never parsed, silently disabling both features when
        configured through the SQL-DDL string-option surface."""
        from flink_connector_http_spark.options import (
            LOOKUP_OPTION_KEYS as K,
            lookup_options_from_map,
        )

        expected = {
            "method": "PUT",
            "request_timeout": 12.5,
            "pull_pool_size": 3,
            "use_async": True,
            "async_buffer_capacity": 77,
            "async_timeout": 9.5,
            "result_type": "array",
            "success_codes": "2XX,!204",
            "retry_codes": "503",
            "ignored_codes": "404",
            "continue_on_error": True,
            "use_raw_auth_header": True,
            "oidc_token_endpoint": "https://auth.example/token",
            "oidc_token_request": "grant_type=x",
            "oidc_expiry_reduction": 2.5,
            "server_ca": "/ca.pem",
            "client_cert": "/crt.pem",
            "client_key": "/key.pem",
            "proxy_host": "proxy.local",
            "proxy_port": 3128,
            "proxy_user": "u",
            "proxy_password": "p",
            "query_creator": "generic-json-url",
            "body_template": "{}",
            "response_format": "csv",
            "allow_self_signed": True,
            "rate_limit": 5.0,
            "rate_limit_burst": 10.0,
            "lookup_batch_size": 50,
            "circuit_breaker_failures": 7,
            "circuit_breaker_reset": 12.0,
        }
        opts = {K[f]: str(v) for f, v in expected.items()}
        opts[K["method"]] = "put"  # parser uppercases
        parsed = lookup_options_from_map(opts)
        mismatched = {
            f: (getattr(parsed, f), v)
            for f, v in expected.items()
            if getattr(parsed, f) != v
        }
        assert not mismatched, (
            f"string options accepted but not consumed: {mismatched}"
        )


class TestRetryAfter:
    def test_parse_delta_seconds(self):
        from flink_connector_http_spark.retry import parse_retry_after

        assert parse_retry_after("120") == 120.0
        assert parse_retry_after(" 0 ") == 0.0
        assert parse_retry_after("") is None
        assert parse_retry_after("soon") is None

    def test_parse_http_date_clamps_past_to_zero(self):
        from flink_connector_http_spark.retry import parse_retry_after

        assert parse_retry_after(
            "Wed, 21 Oct 2015 07:28:00 GMT", now=lambda: 1445412480.0
        ) == 0.0
        # 1445412480 = that date; 60s earlier clock -> 60s wait
        assert parse_retry_after(
            "Wed, 21 Oct 2015 07:28:00 GMT", now=lambda: 1445412480.0 - 60
        ) == 60.0
        assert parse_retry_after(
            "Wed, 21 Oct 2015 07:28:00 GMT", now=lambda: 1445412480.0 + 999
        ) == 0.0

    def test_hint_stretches_policy_delay(self):
        responses = iter([(429, 5.0), (429, None), (200, None)])
        sleeps = []
        result = _retried(
            lambda: next(responses),
            config=RetryConfig(max_retries=3, fixed_delay=1.0),
            status_of=lambda r: r[0],
            is_retriable_status=lambda s: s == 429,
            sleep=sleeps.append,
            retry_after_of=lambda r: r[1],
        )
        assert result == (200, None)
        # first sleep honors the 5s hint; second falls back to policy
        assert sleeps == [5.0, 1.0]

    def test_hint_never_exceeds_backoff_cap(self):
        responses = iter([(503, 99999.0), (200, None)])
        sleeps = []
        _retried(
            lambda: next(responses),
            config=RetryConfig(
                max_retries=2, strategy="exponential-delay",
                initial_backoff=1.0, max_backoff=30.0,
            ),
            status_of=lambda r: r[0],
            is_retriable_status=lambda s: s == 503,
            sleep=sleeps.append,
            retry_after_of=lambda r: r[1],
        )
        assert sleeps == [30.0]  # hostile header capped at max_backoff

    def test_hint_smaller_than_policy_keeps_policy(self):
        responses = iter([(429, 0.2), (200, None)])
        sleeps = []
        _retried(
            lambda: next(responses),
            config=RetryConfig(max_retries=2, fixed_delay=1.0),
            status_of=lambda r: r[0],
            is_retriable_status=lambda s: s == 429,
            sleep=sleeps.append,
            retry_after_of=lambda r: r[1],
        )
        assert sleeps == [1.0]  # never retry FASTER than the policy

    def test_client_extracts_header_case_insensitively(self):
        from flink_connector_http_spark.client import (
            HttpResponse,
            _retry_after_hint,
        )

        resp = HttpResponse(429, [("RETRY-AFTER", "7")], b"")
        assert _retry_after_hint(resp) == 7.0
        assert _retry_after_hint(HttpResponse(429, [], b"")) is None
        assert _retry_after_hint(
            HttpResponse(429, [("Retry-After", "junk")], b"")) is None


class TestRetryAfterNaiveDate:
    def test_tzless_http_date_treated_as_utc(self):
        """An HTTP-date without a timezone token parses to a NAIVE
        datetime; RFC 9110 says HTTP-dates are always UTC, so .timestamp()
        must not reinterpret it in local time (ADVICE r8)."""
        import os
        import time as _time

        from flink_connector_http_spark.retry import parse_retry_after

        # "Wed, 21 Oct 2015 07:28:00" (no GMT) == 1445412480.0 UTC
        assert parse_retry_after(
            "Wed, 21 Oct 2015 07:28:00", now=lambda: 1445412480.0 - 60
        ) == 60.0
        # identical to the explicit-GMT parse under any host timezone
        assert parse_retry_after(
            "Wed, 21 Oct 2015 07:28:00", now=lambda: 1445412480.0
        ) == parse_retry_after(
            "Wed, 21 Oct 2015 07:28:00 GMT", now=lambda: 1445412480.0
        )


class TestSinkRetryMaxBackoff:
    def test_option_parsed(self):
        from flink_connector_http_spark.options import sink_options_from_map

        opts = sink_options_from_map({"sink.retry-max-backoff": "7.5"})
        assert opts.retry_max_backoff == 7.5

    def test_default_matches_lookup_ceiling(self):
        from flink_connector_http_spark.options import HttpSinkOptions
        from flink_connector_http_spark.retry import RetryConfig

        assert (HttpSinkOptions().retry_max_backoff
                == RetryConfig().max_backoff == 60.0)

    def test_caps_retry_after_hint(self, stub_server, sink_waits):
        """Sink retry wait = min(max(policy, Retry-After), cap) — the cap
        is now the configurable sink.retry-max-backoff, not a literal."""
        from flink_connector_http_spark.options import HttpSinkOptions
        from flink_connector_http_spark.sink import (
            HttpSinkRequestEntry, HttpSinkWriter,
        )
        from tests.stub_server import StubResponse, json_response

        sleeps = sink_waits

        # latch-tolerant scenario (not a fixed sequence): under full-suite
        # load a transport-level keep-alive resend can issue an extra wire
        # request, which would desynchronize a one-shot 503→200 sequence.
        # Keyed on writer-visible state instead: 503 until the writer has
        # waited through the retry path, then 200 — extra or late
        # requests can only see another 503/200, never shift the scenario.
        def responder(_req):
            if not sleeps:
                return StubResponse(status=503, body=b"",
                                    headers={"Retry-After": "999"})
            return json_response({"ok": True})

        stub_server.stub("/capped", responder)
        writer = HttpSinkWriter(
            stub_server.url("/capped"),
            HttpSinkOptions(request_mode="single", max_retries=2,
                            retry_delay=0.01, retry_max_backoff=0.02),
            age_ticker=False,
        )
        writer.write(HttpSinkRequestEntry("POST", b'{"a": 1}'))
        writer.close()
        assert len(stub_server.recorded("/capped")) >= 2
        assert writer.send_errors == 0 and writer.records_sent == 1
        # min(max(policy=0.01, Retry-After=999), cap=0.02) == the cap
        assert sleeps and sleeps[0] == 0.02 and max(sleeps) <= 0.02


class TestRetryBudget:
    """Finagle-style retry budget (opt-in, beyond-reference): initial
    requests deposit ratio tokens, retries withdraw one — so retry
    amplification under a total outage is capped at ~ratio instead of
    max_retries x. Composes with (does not replace) the circuit
    breaker: the budget throttles retry VOLUME, the breaker stops
    initial sends."""

    def test_token_arithmetic_with_fake_clock(self):
        from flink_connector_http_spark.retry import RetryBudget

        now = [0.0]
        b = RetryBudget(ratio=0.5, min_retries_per_second=0.0, burst=2.0,
                        clock=lambda: now[0])
        # starts full (burst capacity): first blips are retryable
        assert b.try_withdraw() and b.try_withdraw()
        assert not b.try_withdraw()
        assert b.denied == 1
        # four deposits at ratio 0.5 buy two retries
        for _ in range(4):
            b.deposit()
        assert b.try_withdraw() and b.try_withdraw()
        assert not b.try_withdraw()
        # the time drip keeps sparse traffic retryable
        b2 = RetryBudget(ratio=0.0, min_retries_per_second=2.0, burst=1.0,
                         clock=lambda: now[0])
        assert b2.try_withdraw()
        assert not b2.try_withdraw()
        now[0] += 0.5  # 0.5s x 2/s = 1 token
        assert b2.try_withdraw()

    def test_run_with_retry_fails_fast_on_exhausted_budget(self):
        from flink_connector_http_spark.retry import (
            HttpRetryError,
            RetryBudget,
            RetryConfig,
        )

        budget = RetryBudget(ratio=0.0, min_retries_per_second=0.0, burst=1.0)
        calls = []

        def send():
            calls.append(1)
            return 503

        def run_once():
            _retried(
                send,
                config=RetryConfig(max_retries=5, fixed_delay=0.0),
                status_of=lambda r: r,
                is_retriable_status=lambda s: s == 503,
                budget=budget,
                sleep=lambda s: None,
            )

        # first call: the burst token buys exactly ONE retry
        with pytest.raises(HttpRetryError, match="retry budget exhausted"):
            run_once()
        assert len(calls) == 2
        # second call: budget empty -> fail fast after the initial attempt
        calls.clear()
        with pytest.raises(HttpRetryError, match="retry budget exhausted"):
            run_once()
        assert len(calls) == 1
        assert budget.denied >= 1

    def test_lookup_storm_amplification_bounded(self, stub_server):
        from flink_connector_http_spark.client import HttpPollingClient
        from flink_connector_http_spark.options import HttpLookupOptions
        from flink_connector_http_spark.retry import RetryConfig
        from tests.stub_server import StubResponse

        stub_server.stub("/storm",
                         lambda req: StubResponse(status=503, body=b""))
        n = 30
        opts = HttpLookupOptions(
            method="GET", continue_on_error=True,
            retry=RetryConfig(max_retries=3, fixed_delay=0.0),
            retry_budget_ratio=0.2, retry_budget_min_per_second=0.0,
        )
        client = HttpPollingClient(url=stub_server.url("/storm"), options=opts)
        for i in range(n):
            result = client.pull({"id": i})
            assert not result.rows
        total = len(stub_server.recorded("/storm"))
        # without the budget: 30 x 4 attempts = 120 wire requests.
        # with it: 30 initials + burst(10) + 0.2/request drip -> <= ~46
        assert n <= total <= n + 10 + int(0.2 * n) + 1
        assert client.retry_budget.denied > 0

    def test_sink_storm_amplification_bounded(self, stub_server):
        from flink_connector_http_spark.options import HttpSinkOptions
        from flink_connector_http_spark.sink import (
            HttpSinkRequestEntry,
            HttpSinkWriter,
        )
        from tests.stub_server import StubResponse

        stub_server.stub("/sink-storm",
                         lambda req: StubResponse(status=503, body=b""))
        n = 30
        writer = HttpSinkWriter(
            stub_server.url("/sink-storm"),
            HttpSinkOptions(request_mode="single", max_retries=3,
                            retry_delay=0.0, retry_budget_ratio=0.2,
                            retry_budget_min_per_second=0.0),
            age_ticker=False,
        )
        for i in range(n):
            writer.write(HttpSinkRequestEntry("POST", b'{"i": %d}' % i))
        writer.close()
        assert writer.send_errors == n
        total = len(stub_server.recorded("/sink-storm"))
        assert n <= total <= n + 10 + int(0.2 * n) + 1

    def test_option_maps(self):
        from flink_connector_http_spark.options import (
            lookup_options_from_map,
            sink_options_from_map,
        )

        lo = lookup_options_from_map({
            "http.source.lookup.retry-budget.ratio": "0.25",
            "http.source.lookup.retry-budget.min-per-second": "0.5",
        })
        assert lo.retry_budget_ratio == 0.25
        assert lo.retry_budget_min_per_second == 0.5
        so = sink_options_from_map({
            "sink.retry-budget.ratio": "0.1",
            "sink.retry-budget.min-per-second": "0",
        })
        assert so.retry_budget_ratio == 0.1
        assert so.retry_budget_min_per_second == 0.0

    def test_default_off_reference_parity(self, stub_server):
        from flink_connector_http_spark.client import HttpPollingClient
        from flink_connector_http_spark.options import HttpLookupOptions
        from flink_connector_http_spark.retry import RetryConfig
        from tests.stub_server import StubResponse

        stub_server.stub("/noban",
                         lambda req: StubResponse(status=503, body=b""))
        opts = HttpLookupOptions(
            method="GET", continue_on_error=True,
            retry=RetryConfig(max_retries=2, fixed_delay=0.0),
        )
        client = HttpPollingClient(url=stub_server.url("/noban"), options=opts)
        assert client.retry_budget is None
        for i in range(3):
            client.pull({"id": i})
        # full retry schedule, unthrottled: 3 x (1 + 2) attempts
        assert len(stub_server.recorded("/noban")) == 9


class TestRetryBudgetProperties:
    @given(
        st.floats(min_value=0.0, max_value=2.0),
        st.integers(min_value=1, max_value=20),
        st.lists(st.sampled_from(["deposit", "withdraw"]), max_size=200),
    )
    def test_withdrawals_never_exceed_burst_plus_deposits(
        self, ratio, burst, ops
    ):
        """Invariant: with the time drip off, total successful withdrawals
        can never exceed burst + ratio x deposits (the amplification cap
        the budget exists to enforce)."""
        from flink_connector_http_spark.retry import RetryBudget

        b = RetryBudget(ratio=ratio, min_retries_per_second=0.0,
                        burst=float(burst), clock=lambda: 0.0)
        deposits = withdrawals = 0
        for op in ops:
            if op == "deposit":
                b.deposit()
                deposits += 1
            elif b.try_withdraw():
                withdrawals += 1
        assert withdrawals <= max(1.0, float(burst)) + ratio * deposits + 1e-9
        assert b.denied == ops.count("withdraw") - withdrawals

    @given(st.floats(min_value=0.1, max_value=5.0),
           st.integers(min_value=1, max_value=50))
    def test_drip_bounded_by_capacity(self, rps, seconds):
        """The time drip can never push tokens past capacity."""
        from flink_connector_http_spark.retry import RetryBudget

        now = [0.0]
        b = RetryBudget(ratio=0.0, min_retries_per_second=rps, burst=3.0,
                        clock=lambda: now[0])
        now[0] += float(seconds)
        got = 0
        while b.try_withdraw():
            got += 1
            if got > 10:
                break
        assert got <= 3


class TestStrictShortKeyValidation:
    """FactoryUtil parity (HttpLookupTableSourceFactory.java:113-118): a
    typo'd short option key fails at plan time instead of silently
    no-opping; unknown `http.`-prefixed keys stay tolerated (the
    reference's validateExcept pass-through namespace)."""

    def test_lookup_typo_short_key_raises(self):
        from flink_connector_http_spark.options import lookup_options_from_map

        with pytest.raises(ValueError, match="lookup-metod"):
            lookup_options_from_map({"lookup-metod": "GET"})

    def test_lookup_partial_cache_typo_raises(self):
        from flink_connector_http_spark.options import lookup_options_from_map

        with pytest.raises(ValueError, match="max-rowss"):
            lookup_options_from_map({
                "lookup.cache": "PARTIAL",
                "lookup.partial-cache.max-rowss": "100",
            })

    def test_sink_typo_short_key_raises(self):
        from flink_connector_http_spark.options import sink_options_from_map

        with pytest.raises(ValueError, match="sink.bacth.max-size"):
            sink_options_from_map({"sink.bacth.max-size": "10"})

    def test_http_prefixed_unknown_keys_tolerated(self):
        from flink_connector_http_spark.options import (
            lookup_options_from_map,
            sink_options_from_map,
        )

        lookup_options_from_map({"http.some.future.key": "x",
                                 "gid.connector.http.legacy": "y"})
        sink_options_from_map({"http.sink.future-knob": "z"})

    def test_declared_but_unconsumed_reference_keys_tolerated(self):
        """url-args is declared-but-never-read in the reference (dead
        option); connector/format ride every carried-over DDL map."""
        from flink_connector_http_spark.options import lookup_options_from_map

        opts = lookup_options_from_map({
            "connector": "rest-lookup",
            "url-args": "id",
            "format": "json",
            "lookup-request.format": "json",
        })
        assert opts.response_format == "json"

    def test_lookup_method_reference_key_and_alias(self):
        from flink_connector_http_spark.options import lookup_options_from_map

        assert lookup_options_from_map({"lookup-method": "post"}).method == "POST"
        assert lookup_options_from_map(
            {"http.source.lookup.method": "put"}).method == "PUT"
        # reference key wins when both are present
        assert lookup_options_from_map({
            "lookup-method": "POST",
            "http.source.lookup.method": "GET",
        }).method == "POST"


class TestHttpVersionOption:
    """http.source.lookup.http-version parity (HttpLookupConnectorOptions
    .java:81-92, RequestFactoryBase.java:93,128): HTTP_1_1 is a validated
    no-op pin (the stdlib client's only protocol), HTTP_2 is rejected with
    a capability error, anything else is invalid."""

    def test_http_1_1_accepted(self):
        from flink_connector_http_spark.options import (
            HttpLookupOptions,
            lookup_options_from_map,
        )

        for spelling in ("HTTP_1_1", "HTTP/1.1", "1.1"):
            opts = lookup_options_from_map(
                {"http.source.lookup.http-version": spelling})
            assert opts.http_version == spelling
        assert HttpLookupOptions(http_version="HTTP_1_1").http_version

    def test_http_2_rejected_with_capability_error(self):
        from flink_connector_http_spark.options import lookup_options_from_map

        for spelling in ("HTTP_2", "2", "2.0"):
            with pytest.raises(ValueError, match="HTTP/1.1-only"):
                lookup_options_from_map(
                    {"http.source.lookup.http-version": spelling})

    def test_garbage_version_rejected_as_invalid(self):
        from flink_connector_http_spark.options import HttpLookupOptions

        with pytest.raises(ValueError, match="Invalid"):
            HttpLookupOptions(http_version="SPDY")

    def test_unpinned_default(self):
        from flink_connector_http_spark.options import HttpLookupOptions

        assert HttpLookupOptions().http_version is None


class TestNamedRequestCallbacks:
    """R12 string-identifier surface: callbacks resolvable by name from
    option maps (HttpPostRequestCallbackFactory.java identifiers)."""

    def test_builtin_slf4j_identifiers_resolve(self):
        from flink_connector_http_spark.http_logger import (
            resolve_request_callback,
        )

        for ident in ("http-slf4j-lookup-logger", "http-slf4j-logger"):
            assert callable(resolve_request_callback(ident))

    def test_unknown_identifier_raises_with_registry_listing(self):
        from flink_connector_http_spark.http_logger import (
            resolve_request_callback,
        )

        with pytest.raises(ValueError, match="http-slf4j-logger"):
            resolve_request_callback("no-such-callback")

    def test_lookup_map_resolves_named_callback(self):
        from flink_connector_http_spark.http_logger import (
            register_request_callback,
        )
        from flink_connector_http_spark.options import lookup_options_from_map

        fired = []
        register_request_callback("test-recording-cb",
                                  lambda: lambda req, resp: fired.append(1))
        opts = lookup_options_from_map(
            {"http.source.lookup.request-callback": "test-recording-cb"})
        opts.request_callback(None, None)
        assert fired == [1]

    def test_sink_map_resolves_named_callback_and_writer_uses_it(self, stub_server):
        """The named sink callback fires per request through the writer
        (explicit on_response argument absent)."""
        from flink_connector_http_spark.options import sink_options_from_map
        from flink_connector_http_spark.http_logger import (
            register_request_callback,
        )
        from flink_connector_http_spark.sink import HttpSinkWriter
        from flink_connector_http_spark.types import HttpSinkRequestEntry

        seen = []
        register_request_callback(
            "test-sink-cb", lambda: lambda req, resp: seen.append(
                (req.method, getattr(resp, "status", None))))
        options = sink_options_from_map(
            {"http.sink.request-callback": "test-sink-cb"})
        assert options.request_callback is not None

        stub_server.stub_json("/sink", {})
        writer = HttpSinkWriter(stub_server.url("/sink"), options, age_ticker=False)
        writer.write(HttpSinkRequestEntry("POST", b'{"a":1}'))
        writer.flush()
        writer.close()
        assert seen and seen[0] == ("POST", 200)


class TestResilienceComposition:
    """Three-way composition semantics for the opt-in resilience stack
    (round-12 verdict item #8) — hedging x Retry-After x circuit breaker
    x retry budget, as named in the ``retry.py`` module docstring.

    Pairwise behavior is covered elsewhere (test_lookup_join hedging,
    TestRetryBudget, breaker unit tests); these pin what happens when the
    features OBSERVE each other."""

    def _client(self, stub_server, path, **opt_kwargs):
        from flink_connector_http_spark.client import HttpPollingClient
        from flink_connector_http_spark.options import HttpLookupOptions

        return HttpPollingClient(
            url=stub_server.url(path),
            options=HttpLookupOptions(method="GET", **opt_kwargs),
        )

    def test_lost_hedge_race_failure_never_reaches_breaker(self, stub_server):
        """A hedged duplicate race where the LOSER errors must not count
        toward breaker failures: the breaker sees one successful exchange.
        With failure_threshold=1, a leaked loser-failure would trip it."""
        import threading
        import time as _time

        from tests.stub_server import StubResponse, json_response

        lock = threading.Lock()
        calls = {"n": 0}

        def responder(request):
            with lock:
                calls["n"] += 1
                idx = calls["n"]
            if idx == 1:  # stalled primary: loses the race, then errors
                _time.sleep(0.5)
                return StubResponse(status=500, body=b"loser error")
            return json_response({"id": 1, "name": "alice"})

        stub_server.stub("/hedge-breaker", responder)
        client = self._client(
            stub_server,
            "/hedge-breaker",
            hedge_delay=0.1,
            circuit_breaker_failures=1,
        )
        result = client.pull({"id": 1})
        assert result.rows and result.rows[0]["name"] == "alice"
        assert client.hedge_stats["fired"] == 1
        _time.sleep(0.7)  # let the abandoned loser land its 500
        assert client.circuit_breaker.is_open is False
        # breaker still admits traffic: a second exchange flows normally
        result2 = client.pull({"id": 1})
        assert result2.rows and result2.rows[0]["name"] == "alice"

    def test_retry_after_honored_on_hedge_won_response(self, stub_server):
        """When the hedged duplicate WINS the race with a retriable 503 +
        Retry-After, the retry layer honors the winner's hint: the next
        attempt arrives no earlier than the hint (policy delay is 10ms, so
        any observed gap must come from the header)."""
        import threading
        import time as _time

        from flink_connector_http_spark.retry import RetryConfig
        from tests.stub_server import StubResponse, json_response

        lock = threading.Lock()
        state = {"n": 0, "hint_served_at": None, "next_attempt_at": None}

        def responder(request):
            now = _time.monotonic()
            with lock:
                state["n"] += 1
                idx = state["n"]
            if idx == 1:  # stalled primary of attempt 1 (abandoned loser)
                _time.sleep(3.0)
                return json_response({"id": 1, "name": "late"})
            with lock:
                if state["hint_served_at"] is None:
                    state["hint_served_at"] = now
                    # RFC 9110 delta-seconds are integral (fractional
                    # values are unparseable and correctly ignored)
                    return StubResponse(
                        status=503, body=b"",
                        headers={"Retry-After": "1"},
                    )
                if state["next_attempt_at"] is None:
                    state["next_attempt_at"] = now
            return json_response({"id": 1, "name": "alice"})

        stub_server.stub("/hedge-retry-after", responder)
        client = self._client(
            stub_server,
            "/hedge-retry-after",
            hedge_delay=0.1,
            retry=RetryConfig(max_retries=1, fixed_delay=0.01),
        )
        result = client.pull({"id": 1})
        assert result.rows and result.rows[0]["name"] == "alice"
        assert client.hedge_stats["fired"] >= 1
        assert state["hint_served_at"] is not None
        assert state["next_attempt_at"] is not None
        gap = state["next_attempt_at"] - state["hint_served_at"]
        assert gap >= 0.9, (
            f"Retry-After from the hedge-won 503 not honored: retry fired "
            f"{gap * 1000:.0f}ms after the hint (expected >= ~1000ms)"
        )

    def test_breaker_counts_exchanges_not_attempts_and_half_open_closes(
        self, stub_server
    ):
        """One exchange exhausting its retries (2 wire 503s) records ONE
        breaker failure — threshold 2 must survive it. The second failing
        exchange trips the breaker; while open, pulls fail fast without
        touching the wire; after the reset timeout the half-open trial's
        success closes it."""
        import threading
        import time as _time

        from flink_connector_http_spark.retry import RetryConfig
        from flink_connector_http_spark.types import HttpCompletionState
        from tests.stub_server import StubResponse, json_response

        lock = threading.Lock()
        state = {"healthy": False}

        def responder(request):
            with lock:
                healthy = state["healthy"]
            if not healthy:
                return StubResponse(status=503, body=b"")
            return json_response({"id": 1, "name": "alice"})

        stub_server.stub("/breaker-exchanges", responder)
        client = self._client(
            stub_server,
            "/breaker-exchanges",
            continue_on_error=True,
            circuit_breaker_failures=2,
            circuit_breaker_reset=0.4,
            retry=RetryConfig(max_retries=1, fixed_delay=0.01),
        )
        # exchange 1: attempt + retry both 503 -> ONE breaker failure.
        # If wire attempts counted, these 2 failures would already trip
        # the threshold-2 breaker.
        r1 = client.pull({"id": 1})
        assert r1.completion_state is HttpCompletionState.EXCEPTION
        assert len(stub_server.recorded("/breaker-exchanges")) == 2
        assert client.circuit_breaker.is_open is False, (
            "breaker tripped after one exchange: wire attempts are "
            "leaking into the exchange-granularity failure count"
        )
        # exchange 2: second exchange-level failure trips it
        r2 = client.pull({"id": 1})
        assert r2.completion_state is HttpCompletionState.EXCEPTION
        assert client.circuit_breaker.is_open is True
        # open: fail fast, no wire traffic
        wire_before = len(stub_server.recorded("/breaker-exchanges"))
        r3 = client.pull({"id": 1})
        assert r3.completion_state is HttpCompletionState.EXCEPTION
        assert "circuit breaker open" in (r3.error_string or "")
        assert len(stub_server.recorded("/breaker-exchanges")) == wire_before
        # endpoint recovers; after the reset timeout ONE trial goes out,
        # its success closes the breaker and traffic resumes
        with lock:
            state["healthy"] = True
        _time.sleep(0.5)
        r4 = client.pull({"id": 1})
        assert r4.rows and r4.rows[0]["name"] == "alice"
        assert client.circuit_breaker.is_open is False
        r5 = client.pull({"id": 1})
        assert r5.rows and r5.rows[0]["name"] == "alice"
        assert len(stub_server.recorded("/breaker-exchanges")) == wire_before + 2

    def test_hedged_duplicates_never_spend_retry_budget(self, stub_server):
        """Hedges are not retries: with a retry budget configured, hedged
        exchanges that never retry leave the budget untouched (tokens stay
        at capacity — the budget starts full, deposits are capped there,
        and only an actual retry withdraws)."""
        import threading
        import time as _time

        from tests.stub_server import json_response

        lock = threading.Lock()
        calls = {"n": 0}

        def responder(request):
            with lock:
                calls["n"] += 1
                idx = calls["n"]
            if idx % 2 == 1:  # every primary stalls -> every pull hedges
                _time.sleep(0.4)
            return json_response({"id": 1, "name": "alice"})

        stub_server.stub("/hedge-budget", responder)
        client = self._client(
            stub_server,
            "/hedge-budget",
            hedge_delay=0.05,
            retry_budget_ratio=0.001,
        )
        for _ in range(3):
            result = client.pull({"id": 1})
            assert result.rows and result.rows[0]["name"] == "alice"
        assert client.hedge_stats["fired"] == 3
        budget = client.retry_budget
        assert budget is not None and budget.denied == 0
        assert budget._tokens == budget.capacity, (
            "hedged duplicates withdrew retry-budget tokens"
        )


class TestRound13OptionParity:
    """Round-13 reference option-key parity sweep: the reference keys that
    were still silently tolerated (http.*-prefixed passthrough) and did
    nothing — each now either works or refuses loudly."""

    def test_continue_on_error_reference_key(self):
        from flink_connector_http_spark.options import lookup_options_from_map

        # the reference spelling (HttpConnectorConfigConstants.java:117)
        opts = lookup_options_from_map(
            {"http.source.lookup.continue-on-error": "true"}
        )
        assert opts.continue_on_error is True

    def test_continue_on_error_legacy_alias_and_precedence(self):
        from flink_connector_http_spark.options import lookup_options_from_map

        legacy = "http.source.lookup.connection.continue-on-error"
        assert lookup_options_from_map({legacy: "true"}).continue_on_error
        # reference key wins when both are present
        both = lookup_options_from_map({
            "http.source.lookup.continue-on-error": "false", legacy: "true",
        })
        assert both.continue_on_error is False

    @pytest.mark.parametrize("key", [
        "http.security.keystore.path",
        "http.security.keystore.password",
        "http.security.keystore.type",
    ])
    @pytest.mark.parametrize("surface", ["lookup", "sink"])
    def test_keystore_keys_refused_loudly(self, key, surface):
        from flink_connector_http_spark.options import (
            lookup_options_from_map,
            sink_options_from_map,
        )

        parse = lookup_options_from_map if surface == "lookup" else sink_options_from_map
        with pytest.raises(ValueError, match="JKS/PKCS12"):
            parse({key: "/tmp/store.jks"})

    def test_logging_level_installs_content_logger(self, caplog):
        import logging as _logging

        from flink_connector_http_spark.options import lookup_options_from_map
        from flink_connector_http_spark.request import HttpRequestSpec

        opts = lookup_options_from_map({"http.logging.level": "REQ_RESP"})
        assert opts.request_callback is not None
        spec = HttpRequestSpec(method="GET", url="http://x/y", headers={}, body=b"q")

        class _Resp:
            status, body, headers = 200, b"r", []

        with caplog.at_level(_logging.INFO,
                             logger="flink_connector_http_spark.http"):
            opts.request_callback(spec, _Resp())
        joined = " ".join(r.getMessage() for r in caplog.records)
        assert "GET http://x/y -> 200" in joined
        # REQ_RESP logs bodies but obfuscates headers
        assert "resp body=r" in joined and "<obfuscated>" in joined

    def test_logging_level_invalid_code_rejected(self):
        from flink_connector_http_spark.options import lookup_options_from_map

        with pytest.raises(ValueError, match="http.logging.level"):
            lookup_options_from_map({"http.logging.level": "VERBOSE"})

    def test_explicit_callback_id_wins_over_logging_level(self):
        from flink_connector_http_spark.http_logger import (
            REQUEST_CALLBACKS,
            register_request_callback,
        )
        from flink_connector_http_spark.options import lookup_options_from_map

        seen = []
        if "r13-test-cb" not in REQUEST_CALLBACKS:
            register_request_callback("r13-test-cb", lambda: seen.append)
        opts = lookup_options_from_map({
            "http.logging.level": "MIN",
            "http.source.lookup.request-callback": "r13-test-cb",
        })
        opts.request_callback("x")
        assert seen == ["x"]
