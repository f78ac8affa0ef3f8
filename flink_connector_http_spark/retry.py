"""Retry policies for every HTTP request (lookup, sink, source reads, UDTF).

The policy is a step sequence (:func:`retry_steps`) with one driver, the
transport's loop (``wire.HttpTransport.loop``): each wait is a timer on it.

Parity targets:
- strategies ``fixed-delay`` (default, 1s) and ``exponential-delay``
  (initial 1s, multiplier 1.5, cap 60s): reference
  ``retry/RetryConfigProvider.java:40-74``,
  ``table/lookup/HttpLookupConnectorOptions.java:211-234``
- attempts = max_retries + 1, retry on IO error OR retriable status:
  reference ``retry/HttpClientWithRetry.java:44-92``

Composition semantics (hedging x Retry-After x circuit breaker x budget)
— the intended contract when several resilience features are enabled at
once, pinned by ``tests/test_policy.py::TestResilienceComposition``:

- The circuit breaker counts EXCHANGES, not wire attempts. One lookup
  exchange consults ``allow()`` once, then runs the whole retry schedule
  (each attempt possibly hedged) and records exactly one success or one
  failure. Neither a retried attempt nor a hedged duplicate's individual
  failure reaches the breaker: a duplicate's error only surfaces if BOTH
  racers fail (then it propagates into the retry layer like any single
  attempt's error, and only retry exhaustion records the one failure).
  Rationale: the breaker models endpoint health per decision point; a
  lost hedge race is expected behavior, not an endpoint failure signal.
- ``Retry-After`` is honored on whichever attempt WINS the hedge race —
  primary or duplicate; the retry layer only ever sees the winning
  response, and the loser's headers are dropped with its response. The
  hint is still capped at the backoff ceiling.
- Hedged duplicates consume rate-limiter permits (they are real wire
  requests hitting the endpoint) but never retry-budget tokens: a hedge
  is latency insurance on a healthy endpoint, not outage amplification,
  which is the only thing the budget exists to bound.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass
from typing import Any, Callable, Generator, Iterator, Optional, TypeVar

__all__ = [
    "RetryConfig", "HttpRetryError", "retry_steps", "RetryStats",
    "CircuitBreaker", "RetryBudget", "parse_retry_after",
]

T = TypeVar("T")

FIXED_DELAY = "fixed-delay"
EXPONENTIAL_DELAY = "exponential-delay"


@dataclass(frozen=True)
class RetryConfig:
    """Retry knobs with the reference's defaults.

    ``max_retries=0`` disables retrying (1 attempt total) — reference doc
    ``table/http.md:261``.
    """

    max_retries: int = 3
    strategy: str = FIXED_DELAY
    fixed_delay: float = 1.0            # seconds
    initial_backoff: float = 1.0        # seconds (exponential)
    backoff_multiplier: float = 1.5
    max_backoff: float = 60.0           # seconds (exponential cap)

    def __post_init__(self) -> None:
        if self.strategy not in (FIXED_DELAY, EXPONENTIAL_DELAY):
            raise ValueError(
                f"Unsupported retry strategy {self.strategy!r}; expected "
                f"{FIXED_DELAY!r} or {EXPONENTIAL_DELAY!r}"
            )
        if self.max_retries < 0:
            raise ValueError("max_retries must be >= 0")

    @property
    def max_attempts(self) -> int:
        return self.max_retries + 1

    def delays(self) -> Iterator[float]:
        """Sleep durations between consecutive attempts."""
        if self.strategy == FIXED_DELAY:
            while True:
                yield self.fixed_delay
        else:
            delay = self.initial_backoff
            while True:
                yield min(delay, self.max_backoff)
                delay *= self.backoff_multiplier


class HttpRetryError(RuntimeError):
    """All attempts exhausted; carries the last status code or exception."""

    def __init__(self, message: str, status_code: Optional[int] = None,
                 cause: Optional[BaseException] = None) -> None:
        super().__init__(message)
        self.status_code = status_code
        self.cause = cause


@dataclass
class RetryStats:
    """Observability parity with the reference's retry gauges
    (``HttpClientWithRetry.java:57-65``)."""

    successful_no_retry: int = 0
    successful_with_retry: int = 0


def parse_retry_after(value: str, *, now: Optional[Callable[[], float]] = None) -> Optional[float]:
    """Seconds to wait from an RFC 9110 ``Retry-After`` value: either
    delta-seconds (``"120"``) or an HTTP-date (``"Wed, 21 Oct 2015
    07:28:00 GMT"``). Returns None for unparseable values; negative
    results clamp to 0 (a date in the past means "retry now")."""
    value = (value or "").strip()
    if not value:
        return None
    try:
        return max(0.0, float(int(value)))
    except ValueError:
        pass
    try:
        from email.utils import parsedate_to_datetime

        dt = parsedate_to_datetime(value)
    except (TypeError, ValueError):
        return None
    if dt.tzinfo is None:
        # RFC 9110 HTTP-dates are always UTC; parsedate_to_datetime yields
        # a naive datetime for tz-less inputs and .timestamp() would then
        # interpret it in local time, skewing the wait on non-UTC hosts.
        from datetime import timezone as _tz

        dt = dt.replace(tzinfo=_tz.utc)
    wall = time.time if now is None else now
    return max(0.0, dt.timestamp() - wall())


class RetryBudget:
    """Finagle-style retry budget (beyond-reference, opt-in): every
    INITIAL request deposits ``ratio`` tokens, every retry withdraws one
    — so under a total outage, cluster-wide retry amplification is
    capped at ~``ratio`` (plus the burst) instead of ``max_retries``×.
    At 1000 executors the difference is a 1.2× load spike vs a 4×
    retry storm against an endpoint that is already down. A small
    time-based drip (``min_retries_per_second``) keeps isolated blips
    retryable even when traffic is sparse. Thread-safe; shared
    per-executor like the circuit breaker (the two compose: the budget
    throttles the retry VOLUME, the breaker stops the initial sends)."""

    def __init__(
        self,
        ratio: float = 0.2,
        min_retries_per_second: float = 1.0,
        burst: float = 10.0,
        clock: Callable[[], float] = time.monotonic,
    ) -> None:
        if ratio < 0:
            raise ValueError("retry budget ratio must be >= 0")
        self.ratio = float(ratio)
        self.min_rps = float(min_retries_per_second)
        self.capacity = max(1.0, float(burst))
        self._clock = clock
        self._tokens = self.capacity  # start full: first blips retryable
        self._last = clock()
        self._lock = threading.Lock()
        self.denied = 0  # observability: retries suppressed by the budget

    def _drip(self) -> None:
        now = self._clock()
        if self.min_rps > 0 and now > self._last:
            self._tokens = min(
                self.capacity, self._tokens + (now - self._last) * self.min_rps
            )
        self._last = now

    def deposit(self) -> None:
        """One initial (non-retry) request earns ``ratio`` retry tokens."""
        with self._lock:
            self._drip()
            self._tokens = min(self.capacity, self._tokens + self.ratio)

    def try_withdraw(self) -> bool:
        """Spend one token to retry; False = budget exhausted, fail fast."""
        with self._lock:
            self._drip()
            if self._tokens >= 1.0:
                self._tokens -= 1.0
                return True
            self.denied += 1
            return False


def retry_steps(
    request,
    *,
    config: RetryConfig,
    status_of: Callable[[T], int],
    is_retriable_status: Callable[[int], bool],
    retriable_exceptions: tuple = (OSError,),
    stats: Optional[RetryStats] = None,
    retry_after_of: Optional[Callable[[T], Optional[float]]] = None,
    budget: Optional["RetryBudget"] = None,
) -> Generator[Any, Any, T]:
    """The retry policy as a step sequence: a generator that yields
    ``request`` for each of up to ``max_retries + 1`` wire attempts and a
    ``float`` for each wait between them. Its driver, the transport's loop
    (``wire.HttpTransport.loop``), sends each attempt's response back in,
    or throws the attempt's exception in, and turns each wait into a timer.

    An attempt is retried when it raises one of ``retriable_exceptions`` or
    its response status is retriable; any other exception propagates.
    Returns the first non-retriable response (the caller classifies
    success/error); exhaustion raises :class:`HttpRetryError`.

    ``retry_after_of`` (optional) extracts the server's ``Retry-After``
    hint (seconds) from a retriable response: the next wait becomes
    ``max(policy delay, hint)`` capped at ``config.max_backoff`` — a
    429/503 with an honest hint is respected instead of hammered, but a
    hostile header can never stall a task longer than the backoff cap.

    ``budget`` (optional, :class:`RetryBudget`): the initial attempt
    deposits, each retry must withdraw — an exhausted budget raises
    :class:`HttpRetryError` immediately instead of amplifying an
    outage with the full retry schedule.
    """
    if budget is not None:
        budget.deposit()
    delays = config.delays()
    last_status: Optional[int] = None
    last_exc: Optional[BaseException] = None
    for attempt in range(1, config.max_attempts + 1):
        server_hint: Optional[float] = None
        try:
            response = yield request
        except retriable_exceptions as exc:  # noqa: PERF203 — retry loop
            last_exc, last_status = exc, None
        else:
            status = status_of(response)
            if not is_retriable_status(status):
                if stats is not None:
                    if attempt == 1:
                        stats.successful_no_retry += 1
                    else:
                        stats.successful_with_retry += 1
                return response
            last_status, last_exc = status, None
            if retry_after_of is not None:
                server_hint = retry_after_of(response)
        if attempt < config.max_attempts:
            if budget is not None and not budget.try_withdraw():
                raise HttpRetryError(
                    f"retry budget exhausted after attempt {attempt}"
                    + (f" (last status {last_status})"
                       if last_status is not None else "")
                    + (f" (last error: {last_exc})"
                       if last_exc is not None else ""),
                    status_code=last_status,
                    cause=last_exc,
                )
            delay = next(delays)
            if server_hint is not None:
                delay = min(max(delay, server_hint), config.max_backoff)
            yield float(delay)
    raise HttpRetryError(
        f"HTTP request failed after {config.max_attempts} attempts"
        + (f" (last status {last_status})" if last_status is not None else "")
        + (f" (last error: {last_exc})" if last_exc is not None else ""),
        status_code=last_status,
        cause=last_exc,
    )


class CircuitBreaker:
    """Per-executor fail-fast guard around the lookup client (a
    beyond-reference protection: at 1000 executors a dead endpoint would
    otherwise absorb every task's full retry schedule, turning an outage
    into a retry storm).

    Classic three-state machine, thread-safe:

    - CLOSED: requests flow; ``failure_threshold`` CONSECUTIVE failures
      trip the breaker.
    - OPEN: :meth:`allow` returns False (callers fail fast without
      touching the wire) until ``reset_timeout`` seconds pass.
    - HALF-OPEN: after the timeout one trial request is let through; its
      success closes the breaker, its failure re-opens it for another
      full timeout.
    """

    def __init__(
        self,
        failure_threshold: int,
        reset_timeout: float,
        *,
        clock: Callable[[], float] = time.monotonic,
    ) -> None:
        if failure_threshold < 1:
            raise ValueError("failure_threshold must be >= 1")
        self.failure_threshold = failure_threshold
        self.reset_timeout = reset_timeout
        self._clock = clock
        self._lock = threading.Lock()
        self._consecutive_failures = 0
        self._opened_at: Optional[float] = None
        self._half_open_in_flight = False

    def allow(self) -> bool:
        """True when a request may be fired now."""
        with self._lock:
            if self._opened_at is None:
                return True
            if self._clock() - self._opened_at >= self.reset_timeout:
                if not self._half_open_in_flight:
                    self._half_open_in_flight = True  # one trial request
                    return True
            return False

    def record_success(self) -> None:
        with self._lock:
            self._consecutive_failures = 0
            self._opened_at = None
            self._half_open_in_flight = False

    def record_failure(self) -> None:
        with self._lock:
            if self._half_open_in_flight:
                # failed trial: re-open for another full timeout
                self._opened_at = self._clock()
                self._half_open_in_flight = False
                return
            self._consecutive_failures += 1
            if (
                self._opened_at is None
                and self._consecutive_failures >= self.failure_threshold
            ):
                self._opened_at = self._clock()

    @property
    def is_open(self) -> bool:
        with self._lock:
            return self._opened_at is not None
