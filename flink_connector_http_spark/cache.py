"""Per-executor LRU + TTL cache for lookup results (partial caching).

Parity target: Flink ``DefaultLookupCache`` as configured by the reference
(``table/lookup/HttpLookupTableSourceFactory.java:241-250``; options doc
``table/http.md:256-260``): ``max_rows``, ``expire_after_write``,
``expire_after_access``, ``cache_missing_key`` (negative caching).

Spark placement: one cache per (executor python worker, config) —
module-level registry keyed by a config fingerprint, because Spark reuses
python workers across tasks. The registry keeps the ``MAX_TABLES`` most
recently used caches. Thread-safe.
"""

from __future__ import annotations

import threading
import time
from collections import OrderedDict
from dataclasses import dataclass
from typing import Any, Callable, Hashable, Optional, Tuple

__all__ = ["LookupCacheConfig", "LruTtlCache", "shared_cache"]


@dataclass(frozen=True)
class LookupCacheConfig:
    """``lookup.cache = PARTIAL`` knobs; defaults mirror Flink's
    DefaultLookupCache (unbounded TTLs disabled, cache-missing-key on)."""

    max_rows: int = 1000
    expire_after_write: Optional[float] = None   # seconds
    expire_after_access: Optional[float] = None  # seconds
    cache_missing_key: bool = True
    #: beyond-reference: on TTL expiry, revalidate with If-None-Match
    #: instead of refetching when the cached response carried an ETag
    revalidate: bool = False

    def fingerprint(self) -> Tuple:
        return (
            self.max_rows,
            self.expire_after_write,
            self.expire_after_access,
            self.cache_missing_key,
            self.revalidate,
        )


class LruTtlCache:
    """A small thread-safe LRU with optional write/access TTLs.

    Negative caching: ``None``-valued entries are stored only when
    ``cache_missing_key`` is set, mirroring ``lookup.partial-cache.cache-missing-key``.
    """

    _MISSING = object()

    def __init__(self, config: LookupCacheConfig,
                 clock: Callable[[], float] = time.monotonic) -> None:
        self.config = config
        self._clock = clock
        self._lock = threading.Lock()
        # key -> (value, written_at, last_access)
        self._data: "OrderedDict[Hashable, Tuple[Any, float, float]]" = OrderedDict()
        self.hits = 0
        self.misses = 0

    def _expired(self, written: float, accessed: float, now: float) -> bool:
        cfg = self.config
        if cfg.expire_after_write is not None and now - written >= cfg.expire_after_write:
            return True
        if cfg.expire_after_access is not None and now - accessed >= cfg.expire_after_access:
            return True
        return False

    def get(self, key: Hashable, default: Any = None) -> Any:
        with self._lock:
            now = self._clock()
            entry = self._data.get(key, self._MISSING)
            if entry is self._MISSING:
                self.misses += 1
                return default
            value, written, accessed = entry
            if self._expired(written, accessed, now):
                del self._data[key]
                self.misses += 1
                return default
            self._data[key] = (value, written, now)
            self._data.move_to_end(key)
            self.hits += 1
            return value

    def probe(self, key: Hashable) -> Tuple[Any, str]:
        """Like :meth:`get`, but an expired entry is RETAINED and returned
        as ``(value, "stale")`` so the caller can revalidate it (HTTP
        conditional GET) instead of refetching the body. Returns
        ``(value, "fresh")`` on a live hit and ``(None, "absent")`` on a
        true miss. Hit/miss counters move exactly as in :meth:`get`
        (stale counts as a miss — the wire is still touched)."""
        with self._lock:
            now = self._clock()
            entry = self._data.get(key, self._MISSING)
            if entry is self._MISSING:
                self.misses += 1
                return None, "absent"
            value, written, accessed = entry
            if self._expired(written, accessed, now):
                self.misses += 1
                return value, "stale"
            self._data[key] = (value, written, now)
            self._data.move_to_end(key)
            self.hits += 1
            return value, "fresh"

    def contains(self, key: Hashable) -> bool:
        sentinel = object()
        return self.get(key, sentinel) is not sentinel

    def put(self, key: Hashable, value: Any) -> None:
        if value is None and not self.config.cache_missing_key:
            return
        with self._lock:
            now = self._clock()
            self._data[key] = (value, now, now)
            self._data.move_to_end(key)
            while len(self._data) > self.config.max_rows:
                self._data.popitem(last=False)

    def __len__(self) -> int:
        with self._lock:
            return len(self._data)


#: lookup tables a python worker keeps a client and a cache for. Every
#: distinct table fingerprint (URL, schema, options) gets its own, about
#: 3.5 MB for a 2k-key table; without a bound a long-lived worker keeps
#: every table it ever saw. Running the 26 ``http_*`` registry queries on
#: one SparkSession put at most 5 tables in one worker (3 to 5 across 8
#: workers); 8 keeps all of those with room to spare. A worker that
#: rotates through more live tables than this refetches what it evicted.
MAX_TABLES = 8

#: least recently used first
_REGISTRY: "OrderedDict[Tuple, LruTtlCache]" = OrderedDict()
_REGISTRY_LOCK = threading.Lock()


def shared_cache(namespace: Hashable, config: LookupCacheConfig) -> LruTtlCache:
    """Process-wide cache shared across Spark tasks in one python worker.

    ``namespace`` should identify the lookup table (e.g. a hash of its url +
    schema) so two different lookup tables never share entries.
    """
    key = (namespace, config.fingerprint())
    with _REGISTRY_LOCK:
        cache = _REGISTRY.get(key)
        if cache is None:
            cache = _REGISTRY[key] = LruTtlCache(config)
            while len(_REGISTRY) > MAX_TABLES:
                _REGISTRY.popitem(last=False)
        else:
            _REGISTRY.move_to_end(key)
        return cache
