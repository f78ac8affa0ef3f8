"""PySpark-native engine with the capabilities of apache/flink-connector-http.

Public surface:

- :func:`http_lookup_join` / :class:`HttpLookupTable` — REST endpoint as an
  enrichment (lookup) table over batch or streaming DataFrames.
- :func:`write_http` / :func:`foreach_batch_http_sink` — at-least-once HTTP
  sink for batch and Structured Streaming.
- Option/typing/policy modules mirror the reference's observable semantics
  (see SURVEY.md §2 for the file-by-file parity map).
- :mod:`flink_connector_http_spark.operators` — large-scale data-pipeline
  operators (dedup, similarity search, text analysis, multimodal columns)
  built on the same Spark-first substrate.
"""

from . import _worker
from .cache import LookupCacheConfig, LruTtlCache
from .formats import register_format, registered_formats, resolve_decoder
from .http_logger import HttpContentLogLevel, HttpContentLogger, logging_callback
from .lookup import HttpLookupTable, http_lookup_join
from .options import (
    HttpLookupOptions,
    HttpSinkOptions,
    lookup_options_from_map,
    sink_options_from_map,
)
from .ratelimit import TokenBucket
from .retry import CircuitBreaker, RetryConfig
from .sink import HttpSinkWriter, foreach_batch_http_sink, write_http
from .status import HttpResponseChecker, SinkErrorCodeChecker, parse_http_codes
from .types import HttpCompletionState, HttpLookupResult, HttpSinkRequestEntry

__all__ = [
    "HttpLookupTable",
    "http_lookup_join",
    "write_http",
    "foreach_batch_http_sink",
    "HttpSinkWriter",
    "HttpLookupOptions",
    "HttpSinkOptions",
    "lookup_options_from_map",
    "sink_options_from_map",
    "LookupCacheConfig",
    "LruTtlCache",
    "CircuitBreaker",
    "RetryConfig",
    "TokenBucket",
    "HttpResponseChecker",
    "SinkErrorCodeChecker",
    "parse_http_codes",
    "HttpCompletionState",
    "HttpLookupResult",
    "HttpSinkRequestEntry",
    "register_format",
    "registered_formats",
    "resolve_decoder",
    "HttpContentLogLevel",
    "HttpContentLogger",
    "logging_callback",
]

__version__ = "0.1.0"

_worker.install()
