"""A WireMock-equivalent stub HTTP server for tests.

Records every request and serves programmable responses, including
scenario-state sequences for retry tests (the reference uses WireMock
scenario state the same way — ``HttpLookupTableSourceITCaseTest.java:240``).
"""

from __future__ import annotations

import asyncio
import json
import threading
from dataclasses import dataclass, field
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Callable, Dict, List, Optional, Tuple
from urllib.parse import parse_qs, urlparse


@dataclass
class RecordedRequest:
    method: str
    path: str
    query: Dict[str, List[str]]
    headers: Dict[str, str]
    body: bytes

    def json(self):
        return json.loads(self.body)


@dataclass
class StubResponse:
    status: int = 200
    body: bytes = b""
    headers: Dict[str, str] = field(default_factory=dict)


#: (request) -> StubResponse
Responder = Callable[[RecordedRequest], StubResponse]


def json_response(payload, status: int = 200) -> StubResponse:
    return StubResponse(
        status=status,
        body=json.dumps(payload).encode("utf-8"),
        headers={"Content-Type": "application/json"},
    )


class StubHttpServer:
    """Threaded stub server; thread-safe request log; per-path responders.

    Pass ``ssl_context`` (an ``ssl.SSLContext`` configured server-side) to
    serve HTTPS — used by the mTLS/self-signed tests mirroring the
    reference's ``JavaNetHttpPollingClientConnectionTest`` HTTPS cases.
    """

    def __init__(self, ssl_context=None) -> None:
        self._lock = threading.Lock()
        self.requests: List[RecordedRequest] = []
        self._responders: List[Tuple[str, Responder]] = []  # (path_prefix, fn)
        self._default = lambda req: StubResponse(status=404, body=b"not stubbed")

        outer = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"
            # buffered writes + TCP_NODELAY: the default unbuffered wfile
            # emits one packet per send_header call, which with Nagle +
            # delayed ACK costs ~40ms per response
            wbufsize = 64 * 1024
            disable_nagle_algorithm = True

            def _handle(self) -> None:
                length = int(self.headers.get("Content-Length") or 0)
                body = self.rfile.read(length) if length else b""
                parsed = urlparse(self.path)
                request = RecordedRequest(
                    method=self.command,
                    path=parsed.path,
                    query=parse_qs(parsed.query),
                    headers={k: v for k, v in self.headers.items()},
                    body=body,
                )
                response = outer._respond(request)
                self.send_response(response.status)
                payload = response.body or b""
                for name, value in response.headers.items():
                    self.send_header(name, value)
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

            do_GET = do_POST = do_PUT = do_DELETE = _handle

            def log_message(self, *_args) -> None:  # silence
                pass

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._scheme = "http"
        if ssl_context is not None:
            self._server.socket = ssl_context.wrap_socket(
                self._server.socket, server_side=True
            )
            self._scheme = "https"
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)

    # -- lifecycle ----------------------------------------------------------------

    def start(self) -> "StubHttpServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()

    @property
    def port(self) -> int:
        return self._server.server_address[1]

    def url(self, path: str = "/") -> str:
        return f"{self._scheme}://127.0.0.1:{self.port}{path}"

    # -- stubbing -------------------------------------------------------------------

    def stub(self, path_prefix: str, responder: Responder) -> None:
        with self._lock:
            self._responders.append((path_prefix, responder))

    def stub_json(self, path_prefix: str, payload, status: int = 200) -> None:
        self.stub(path_prefix, lambda _req: json_response(payload, status))

    def stub_sequence(
        self, path_prefix: str, responses: List[StubResponse | Responder]
    ) -> None:
        """Scenario state: each call advances through ``responses``; the last
        one repeats (WireMock scenario-state equivalent). An entry may be a
        responder, called with the request — e.g. ``[StubResponse(503),
        paged_responder]`` fails the first request, then serves the feed."""
        state = {"i": 0}
        lock = threading.Lock()

        def responder(req: RecordedRequest) -> StubResponse:
            with lock:
                i = min(state["i"], len(responses) - 1)
                state["i"] += 1
            response = responses[i]
            return response(req) if callable(response) else response

        self.stub(path_prefix, responder)

    def _respond(self, request: RecordedRequest) -> StubResponse:
        # hold the lock only for the shared-state touch, NEVER across the
        # responder call: a slow responder must not serialize the whole
        # server, or every concurrency test silently measures nothing
        with self._lock:
            self.requests.append(request)
            responders = list(self._responders)
        for prefix, responder in reversed(responders):
            if request.path.startswith(prefix):
                return responder(request)
        return self._default(request)

    # -- assertions -------------------------------------------------------------------

    def recorded(self, path_prefix: str = "/") -> List[RecordedRequest]:
        with self._lock:
            return [r for r in self.requests if r.path.startswith(path_prefix)]


# ---------------------------------------------------------------------------
# high-throughput stub (lookup benches)
# ---------------------------------------------------------------------------

def response_bytes(body: bytes, status: int = 200) -> bytes:
    """A complete, ready-to-write HTTP/1.1 keep-alive response."""
    return (
        f"HTTP/1.1 {status} S\r\n"
        f"Content-Type: application/json\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode("ascii") + body


_RESP_404 = response_bytes(b'{"error": "not stubbed"}', 404)

#: (raw query string, raw body) -> complete response bytes
FastResponder = Callable[[str, bytes], bytes]


class FastHttpStub:
    """Minimal asyncio HTTP/1.1 keep-alive server for high-request-volume
    lookup benchmarks.

    ``StubHttpServer`` (above) is the behavioural twin of WireMock —
    request recording, scenario state, programmable responders — but its
    ``BaseHTTPRequestHandler`` parsing plus a thread per connection tops
    out near ~1k req/s in one Python process, which turns the *test
    double* into the benchmark bottleneck once a lookup join fans out
    thousands of keys. This server does the opposite trade: one event
    loop, hand-rolled request-line/header scan, no recording, and
    responders that return precomputed byte strings; it sustains tens of
    thousands of keep-alive requests per second. Use it wherever the
    endpoint is pure keyed data and assertions happen downstream.
    """

    def __init__(self) -> None:
        self._routes: Dict[str, FastResponder] = {}
        self._loop: Optional[asyncio.AbstractEventLoop] = None
        self._thread: Optional[threading.Thread] = None
        self._server: Optional[asyncio.AbstractServer] = None
        self._children: list = []
        self.port: Optional[int] = None

    def route(self, path: str, responder: FastResponder) -> None:
        self._routes[path] = responder

    def route_static(self, path: str, table: Dict[str, bytes],
                     key_param: str, default: bytes = _RESP_404) -> None:
        """GET ?key_param=value → precomputed response from ``table``."""
        prefix = key_param + "="

        def responder(query: str, _body: bytes) -> bytes:
            for part in query.split("&"):
                if part.startswith(prefix):
                    return table.get(part[len(prefix):], default)
            return default

        self._routes[path] = responder

    async def _handle(self, reader: asyncio.StreamReader,
                      writer: asyncio.StreamWriter) -> None:
        try:
            while True:
                line = await reader.readline()
                if not line:
                    break
                try:
                    _method, target, _ = line.decode("latin1").split(" ", 2)
                except ValueError:
                    break
                clen = 0
                while True:
                    h = await reader.readline()
                    if not h or h in (b"\r\n", b"\n"):
                        break
                    if h[:15].lower() == b"content-length:":
                        clen = int(h[15:])
                body = await reader.readexactly(clen) if clen else b""
                path, _, query = target.partition("?")
                fn = self._routes.get(path)
                writer.write(fn(query, body) if fn is not None else _RESP_404)
                await writer.drain()
        except (asyncio.IncompleteReadError, ConnectionError, OSError):
            pass
        finally:
            try:
                writer.close()
            except Exception:
                pass

    def start(self, workers: int = 1) -> "FastHttpStub":
        """Start serving. ``workers > 1`` (Linux) forks ``workers - 1``
        extra server processes all accepting on the same port via
        SO_REUSEPORT, so the kernel load-balances connections across
        real OS processes — one GIL-bound event loop saturates near
        ~10-20k req/s, which turns the *harness* into the measured
        bottleneck once a 32-partition × 8-thread lookup join fans out
        (the round-4 scale curve clocked the per-key GET path at 19.6×
        for 10× data against the single-process stub). Routes must be
        registered before start(); children inherit them via fork and
        serve identical data, so route state must be immutable."""
        started = threading.Event()
        reuse = workers > 1

        def run() -> None:
            loop = asyncio.new_event_loop()
            self._loop = loop
            asyncio.set_event_loop(loop)

            async def main() -> None:
                self._server = await asyncio.start_server(
                    self._handle, "127.0.0.1", 0, reuse_port=reuse
                )
                self.port = self._server.sockets[0].getsockname()[1]
                started.set()
                async with self._server:
                    await self._server.serve_forever()

            try:
                loop.run_until_complete(main())
            except asyncio.CancelledError:
                pass

        self._thread = threading.Thread(target=run, daemon=True)
        self._thread.start()
        started.wait(timeout=10)
        if workers > 1 and self.port is not None:
            import multiprocessing

            ctx = multiprocessing.get_context("fork")
            for _ in range(workers - 1):
                p = ctx.Process(
                    target=self._child_serve, args=(self.port,), daemon=True
                )
                p.start()
                self._children.append(p)
        return self

    def _child_serve(self, port: int) -> None:
        """Forked worker: a fresh event loop accepting on the shared
        SO_REUSEPORT port. Dies with the parent (PDEATHSIG) so a killed
        bench never leaks stub processes."""
        try:  # Linux-only safety net; daemon=True already covers clean exit
            import ctypes
            import signal as _sig

            ctypes.CDLL(None).prctl(1, _sig.SIGKILL)  # PR_SET_PDEATHSIG
        except Exception:
            pass
        loop = asyncio.new_event_loop()
        asyncio.set_event_loop(loop)

        async def main() -> None:
            server = await asyncio.start_server(
                self._handle, "127.0.0.1", port, reuse_port=True
            )
            async with server:
                await server.serve_forever()

        try:
            loop.run_until_complete(main())
        except BaseException:
            pass

    def stop(self) -> None:
        for p in self._children:
            try:
                p.terminate()
                p.join(timeout=5)
            except Exception:
                pass
        self._children = []
        if self._loop is not None and self._server is not None:
            loop = self._loop

            def shutdown() -> None:
                assert self._server is not None
                self._server.close()
                for task in asyncio.all_tasks(loop):
                    task.cancel()

            loop.call_soon_threadsafe(shutdown)
            if self._thread is not None:
                self._thread.join(timeout=5)

    def url(self, path: str = "/") -> str:
        return f"http://127.0.0.1:{self.port}{path}"


def pipe_decoder(body: bytes):
    """Example custom response decoder (``|``-separated values) for the
    format SPI: a top-level function in an executor-importable module, as
    required for ``HttpLookupOptions.decoder`` to pickle to workers
    (reference custom-format walkthrough, ``http.md:449-478``)."""
    lines = body.decode().strip().split("\n")
    header = lines[0].split("|")
    return [dict(zip(header, line.split("|"))) for line in lines[1:]]


# --- named-callback e2e support --------------------------------------------------

#: Deterministic spill directory for :func:`recording_request_callback` —
#: the UDTF's option map is parsed in the eval worker, so a test in the
#: driver process cannot observe an in-memory side effect; files can cross
#: the process boundary.
RECORDING_CALLBACK_DIR = "httpspark_recorded_exchanges"


def recording_request_callback():
    """Request-callback FACTORY (reference ``HttpPostRequestCallbackFactory``
    shape): returns a callback that appends one ``<method> <status>`` file
    per exchange under ``$TMPDIR/httpspark_recorded_exchanges``. Name it
    from an option map as
    ``'flink_connector_http_spark.testing:recording_request_callback'``
    (the dotted-path identifier form — the Python analogue of the
    reference's classpath factory discovery)."""
    import os
    import tempfile
    import uuid

    def callback(request, response) -> None:
        d = os.path.join(tempfile.gettempdir(), RECORDING_CALLBACK_DIR)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, uuid.uuid4().hex), "w") as fh:
            fh.write(
                f"{getattr(request, 'method', '?')} "
                f"{getattr(response, 'status', '?')}\n"
            )

    return callback
