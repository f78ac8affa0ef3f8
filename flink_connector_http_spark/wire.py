"""HTTP/1.1 over non-blocking keep-alive sockets: the engine's one transport.

Every HTTP exchange of the engine runs on the transport's loop
(:meth:`HttpTransport.loop`, or :meth:`HttpTransport.run` for a fixed set).
It drives *step sequences* on the calling thread, over one selector: a step
sequence is a generator that yields an :class:`HttpRequestSpec` for each
wire attempt (the loop sends the attempt's response back in, or throws its
exception in) and a ``float`` for each wait, which becomes a timer. Its
return value is the sequence's result. ``retry.retry_steps`` is the retry
policy written this way; the lookup client wraps it with the circuit
breaker (``client.HttpPollingClient.exchange_steps``), and the sink writer
adds one sequence per framed request to a loop that lives as long as the
writer. Up to ``width`` sequences run at once, so one Python thread keeps
many exchanges in flight without a thread pool: the reference fans out
over Java threads (``AsyncHttpTableLookupFunction.java:94-115``), which
under the GIL would only take turns.

The framing follows ``testing.FastHttpStub``, written by hand: requests
carry ``Content-Length``; responses may be ``Content-Length``, chunked or
close-delimited, and HEAD, 1xx, 204 and 304 responses have no body. The
transport keeps its idle sockets per endpoint (thread-safe, so threads
that share a lookup client share one transport). TLS runs on a non-blocking
``SSLSocket``; a proxy is spoken to directly: absolute-form requests for
http targets, a CONNECT tunnel for https ones, each with a preemptive
``Proxy-Authorization`` when credentials are set
(``utils/JavaNetHttpClientFactory.java:74-94``).

Timeouts (``http.source.lookup.connection.timeout`` →
``HttpLookupConnectorOptions.java:129-133``): each wait of an attempt for
the endpoint lasts at most ``connect_timeout`` (or ``timeout`` when unset)
while it connects (TCP, proxy tunnel, TLS handshake), then ``timeout``,
counted from when the loop last moved the attempt on. The loop reads ready
sockets before it fails overdue ones, so a loop nobody turned for a while
times out no endpoint that answered in time. An idempotent request whose
reused keep-alive socket turns out dead (reset, or closed before any
response) is re-sent once on a fresh socket; a POST is not, and nothing is
after a timeout.
"""

from __future__ import annotations

import base64
import errno
import functools
import heapq
import http.client
import itertools
import os
import selectors
import socket
import ssl
import threading
import time
import weakref
from collections import deque
from typing import Callable, Dict, List, Optional, Sequence, Tuple

from .request import HttpRequestSpec
from .tls import build_ssl_context

__all__ = ["HttpResponse", "HttpTransport"]

_READ, _WRITE = selectors.EVENT_READ, selectors.EVENT_WRITE
_RECV_SIZE = 1 << 16
_MAX_HEAD = 1 << 16
_IN_PROGRESS = (0, errno.EINPROGRESS, errno.EWOULDBLOCK, errno.EAGAIN)
_IDEMPOTENT_METHODS = frozenset({"GET", "HEAD", "PUT", "DELETE", "OPTIONS", "TRACE"})
_BODY_METHODS = frozenset({"POST", "PUT", "PATCH"})
_CONTROL_CHARS = frozenset(chr(c) for c in (*range(0x21), 0x7F))


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


# --- request framing ------------------------------------------------------------


class _Request:
    """One request, framed once and sent by every wire attempt of it (a
    re-send on a fresh socket, a hedged duplicate)."""

    __slots__ = ("key", "host", "port", "tls", "tunnel", "data", "method", "idempotent")


def _split_url(url: str) -> Tuple[str, str, str]:
    """``(scheme, authority, origin-form target)`` of an absolute URL."""
    scheme, sep, rest = url.partition("://")
    if not sep:
        raise http.client.InvalidURL(f"not an absolute URL: {url!r}")
    end = len(rest)
    for ch in "/?#":
        i = rest.find(ch, 0, end)
        if i >= 0:
            end = i
    target = rest[end:].partition("#")[0]
    if not target.startswith("/"):
        target = "/" + target
    if not _CONTROL_CHARS.isdisjoint(target):
        raise http.client.InvalidURL(
            f"URL can't contain control characters or spaces: {url!r}")
    return scheme.lower(), rest[:end], target


def _host_port(hostport: str, default_port: int) -> Tuple[str, int]:
    if hostport.startswith("["):  # [IPv6]:port
        host, _, port = hostport[1:].partition("]")
        port = port[1:]
    else:
        host, _, port = hostport.partition(":")
    try:
        return host, int(port) if port else default_port
    except ValueError:
        raise http.client.InvalidURL(f"nonnumeric port: {port!r}") from None


def _parse_head(block) -> Tuple[str, int, List[Tuple[str, str]]]:
    """Status line and headers of one response head (without its blank
    line); folded continuation lines join their header."""
    lines = block.decode("iso-8859-1").split("\r\n")
    version, _, rest = lines[0].partition(" ")
    try:
        status = int(rest[:3])
    except ValueError:
        status = -1
    if not version.startswith("HTTP/") or not 100 <= status <= 999:
        raise http.client.BadStatusLine(lines[0])
    headers: List[Tuple[str, str]] = []
    for line in lines[1:]:
        if line[:1] in (" ", "\t") and headers:
            name, value = headers[-1]
            headers[-1] = (name, f"{value} {line.strip()}")
            continue
        name, sep, value = line.partition(":")
        if sep:
            headers.append((name.strip(), value.strip()))
    return version, status, headers


# --- socket I/O generators: yield (socket, event, due) while they wait --------


def _send_all(sock, data: bytes, timeout: float):
    view = memoryview(data)
    sent = 0
    while sent < len(view):
        try:
            sent += sock.send(view[sent:])
        except (BlockingIOError, ssl.SSLWantWriteError):
            yield sock, _WRITE, time.monotonic() + timeout
        except ssl.SSLWantReadError:
            yield sock, _READ, time.monotonic() + timeout


def _fill(sock, buf: bytearray, timeout: float):
    """Append the next bytes ``sock`` has to ``buf``, waiting for them;
    returns False at end of stream."""
    while True:
        try:
            chunk = sock.recv(_RECV_SIZE)
        except (BlockingIOError, ssl.SSLWantReadError):
            yield sock, _READ, time.monotonic() + timeout
            continue
        except ssl.SSLWantWriteError:
            yield sock, _WRITE, time.monotonic() + timeout
            continue
        if not chunk:
            return False
        buf += chunk
        return True


def _read_line(sock, buf: bytearray, timeout: float):
    """Take one CRLF-terminated line off the front of ``buf``."""
    while True:
        i = buf.find(b"\r\n")
        if i >= 0:
            line = bytes(buf[:i])
            del buf[: i + 2]
            return line
        if not (yield from _fill(sock, buf, timeout)):
            raise http.client.IncompleteRead(bytes(buf))


def _read_exactly(sock, buf: bytearray, n: int, timeout: float):
    """Take ``n`` bytes off the front of ``buf``."""
    while len(buf) < n:
        if not (yield from _fill(sock, buf, timeout)):
            raise http.client.IncompleteRead(bytes(buf), n - len(buf))
    data = bytes(buf[:n])
    del buf[:n]
    return data


def _read_chunked(sock, buf: bytearray, timeout: float):
    parts = []
    while True:
        line = yield from _read_line(sock, buf, timeout)
        try:
            size = int(line.split(b";", 1)[0], 16)
        except ValueError:
            raise http.client.HTTPException(f"bad chunk size line {line!r}") from None
        if size == 0:
            break
        parts.append((yield from _read_exactly(sock, buf, size + 2, timeout))[:-2])
    while (yield from _read_line(sock, buf, timeout)):  # trailers
        pass
    return b"".join(parts)


class _Conn:
    """One keep-alive socket (``sock`` is None until it connects)."""

    __slots__ = ("key", "sock")

    def __init__(self, key: str) -> None:
        self.key = key
        self.sock = None

    def close(self) -> None:
        if self.sock is not None:
            self.sock.close()
            self.sock = None


def _close_conns(idle: Dict[str, List[_Conn]]) -> None:
    """weakref.finalize target: holds no transport reference."""
    conns = [c for pool in idle.values() for c in pool]
    idle.clear()
    for conn in conns:
        conn.close()


def _single(spec: HttpRequestSpec):
    """The step sequence of one bare wire attempt."""
    return (yield spec)


class HttpTransport:
    """One configured transport: timeouts, TLS, proxy, keep-alive sockets.

    Requests advertise ``Accept-Encoding: gzip, deflate`` (unless the
    caller set the header) and responses are decompressed transparently:
    the JSON feeds this connector reads compress 5-10x."""

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
        # connect-phase timeout (TCP connect, proxy tunnel, TLS handshake);
        # None = the request timeout covers it, the reference's default
        self.connect_timeout = connect_timeout
        self._ssl_context = build_ssl_context(
            server_ca=server_ca,
            client_cert=client_cert,
            client_key=client_key,
            allow_self_signed=allow_self_signed,
        )
        self._proxy = (proxy_host, proxy_port or 80) if proxy_host else None
        self._proxy_auth = (
            "Basic " + base64.b64encode(
                f"{proxy_user}:{proxy_password or ''}".encode()).decode("ascii")
            if proxy_host and proxy_user else None
        )
        self._idle: Dict[str, List[_Conn]] = {}
        self._lock = threading.Lock()
        self._finalizer = weakref.finalize(self, _close_conns, self._idle)

    # -- the public surface ------------------------------------------------------

    def send(self, spec: HttpRequestSpec) -> HttpResponse:
        """One wire attempt, blocking; non-2xx responses return normally
        (policy classification happens upstream, like the reference's
        client). Kept for tests and perfbench's ``TracedTransport``: the
        engine runs its retry steps on loops."""
        return self.run((_single(spec),))[0]

    def run(
        self,
        sequences: Sequence,
        *,
        width: int = 1,
        deadline: Optional[float] = None,
        on_timeout: Optional[Callable[[int], object]] = None,
        limiter=None,
        hedge_delay: Optional[float] = None,
        hedge_stats: Optional[Dict[str, int]] = None,
    ) -> List:
        """Run the step ``sequences`` on the calling thread, up to ``width``
        at once, and return their results in order: a :meth:`loop` that
        gets them all, then drains.

        Each wire attempt first takes one ``limiter`` permit. With
        ``hedge_delay`` set, an attempt that has not answered within it
        gets ONE duplicate (another permit), and the first response wins;
        the other socket is closed. When the first to finish fails, the
        other is awaited. ``hedge_stats`` counts ``fired`` and ``won``.
        At ``deadline`` (``time.monotonic()``) every sequence not done yet
        is closed with its sockets, and its result is ``on_timeout(i)``.
        An exception that escapes a sequence aborts the run."""
        gens = list(sequences)
        if not gens:
            return []
        results = [_PENDING] * len(gens)
        loop = self.loop(width=width, limiter=limiter, hedge_delay=hedge_delay,
                         hedge_stats=hedge_stats)
        try:
            for i, gen in enumerate(gens):
                loop.add(gen, functools.partial(results.__setitem__, i))
            loop.drain(deadline)
        finally:
            loop.close()  # past the deadline: closes what has not finished
        return [on_timeout(i) if r is _PENDING else r for i, r in enumerate(results)]

    def loop(self, *, width: int = 1, limiter=None, hedge_delay: Optional[float] = None,
             hedge_stats: Optional[Dict[str, int]] = None) -> "_Loop":
        """A loop over this transport that outlives one call: ``add`` step
        sequences to it as they come, ``turn`` or ``drain`` it, then
        ``close`` it. The options are those of :meth:`run`. One thread at a
        time may use it."""
        return _Loop(self, width, limiter, hedge_delay, hedge_stats)

    def close(self) -> None:
        """Close the idle keep-alive sockets. Idempotent; the transport
        stays usable and reconnects on its next request. A transport that
        is garbage-collected closes them too."""
        with self._lock:
            conns = [c for pool in self._idle.values() for c in pool]
            self._idle.clear()
        for conn in conns:
            conn.close()

    # -- framing and the socket pool ---------------------------------------------

    def _frame(self, spec: HttpRequestSpec) -> _Request:
        scheme, authority, target = _split_url(spec.url)
        if scheme not in ("http", "https"):
            raise http.client.InvalidURL(f"unsupported URL scheme {scheme!r}")
        hostport = authority.rpartition("@")[2]
        req = _Request()
        req.key = f"{scheme}://{hostport}"
        req.host, req.port = _host_port(hostport, 443 if scheme == "https" else 80)
        req.tls = scheme == "https"
        req.tunnel = None
        method = spec.method
        req.method = upper = method.upper()
        req.idempotent = upper in _IDEMPOTENT_METHODS
        lines = []
        given = set()
        for name, value in spec.headers.items():
            given.add(name.lower())
            lines.append(f"{name}: {value}")
        if "host" not in given:
            lines.insert(0, f"Host: {hostport}")
        if "accept-encoding" not in given:
            lines.append("Accept-Encoding: gzip, deflate")
        body = spec.body
        if isinstance(body, str):
            body = body.encode("iso-8859-1")
        if "content-length" not in given and "transfer-encoding" not in given:
            if body is not None:
                lines.append(f"Content-Length: {len(body)}")
            elif upper in _BODY_METHODS:
                lines.append("Content-Length: 0")
        if self._proxy is not None:
            auth = ([f"Proxy-Authorization: {self._proxy_auth}"]
                    if self._proxy_auth else [])
            if req.tls:
                req.tunnel = "\r\n".join([
                    f"CONNECT {req.host}:{req.port} HTTP/1.1",
                    f"Host: {req.host}:{req.port}", *auth, "", "",
                ]).encode("iso-8859-1")
            else:  # absolute-form request target
                target = f"{scheme}://{authority}{target}"
                lines.extend(auth)
        block = "\r\n".join(lines)
        if block.count("\n") != len(lines) - 1 or block.count("\r") != len(lines) - 1:
            raise ValueError("invalid header: a name or value contains CR or LF")
        head = f"{method} {target} HTTP/1.1\r\n{block}\r\n\r\n".encode("iso-8859-1")
        req.data = head + body if body else head
        return req

    def _checkout(self, key: str) -> Optional[_Conn]:
        with self._lock:
            pool = self._idle.get(key)
            return pool.pop() if pool else None

    def _checkin(self, conn: _Conn) -> None:
        with self._lock:
            self._idle.setdefault(conn.key, []).append(conn)

    def _tls_context(self) -> ssl.SSLContext:
        if self._ssl_context is None:
            self._ssl_context = ssl.create_default_context()
        return self._ssl_context

    # -- one wire attempt ------------------------------------------------------------

    def _establish(self, conn: _Conn, req: _Request):
        """Connect ``conn``: TCP, then the proxy tunnel, then TLS, each wait
        under the connect-phase timeout. Returns the socket."""
        timeout = self.timeout if self.connect_timeout is None else self.connect_timeout
        host, port = self._proxy or (req.host, req.port)
        last_err: Optional[OSError] = None
        for family, kind, proto, _name, addr in socket.getaddrinfo(
                host, port, 0, socket.SOCK_STREAM):
            sock = socket.socket(family, kind, proto)
            conn.sock = sock
            try:
                sock.setblocking(False)
                sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
                err = sock.connect_ex(addr)
                if err in _IN_PROGRESS:
                    yield sock, _WRITE, time.monotonic() + timeout
                    err = sock.getsockopt(socket.SOL_SOCKET, socket.SO_ERROR)
                if err:
                    raise OSError(err, os.strerror(err))
                break
            except OSError as exc:
                conn.close()
                last_err = exc
        else:
            raise last_err or OSError(f"no address for {host}:{port}")
        if req.tunnel is not None:
            yield from _send_all(sock, req.tunnel, timeout)
            buf = bytearray()
            while b"\r\n\r\n" not in buf:
                if not (yield from _fill(sock, buf, timeout)):
                    raise OSError("Tunnel connection failed: proxy closed the connection")
            _version, status, _headers = _parse_head(buf[: buf.find(b"\r\n\r\n")])
            if not 200 <= status < 300:
                raise OSError(f"Tunnel connection failed: {status}")
        if req.tls:
            sock = self._tls_context().wrap_socket(
                sock, server_hostname=req.host, do_handshake_on_connect=False)
            conn.sock = sock
            while True:
                try:
                    sock.do_handshake()
                    break
                except ssl.SSLWantReadError:
                    yield sock, _READ, time.monotonic() + timeout
                except ssl.SSLWantWriteError:
                    yield sock, _WRITE, time.monotonic() + timeout
        return sock

    def _exchange_io(self, conn: _Conn, req: _Request):
        """Send ``req`` on ``conn`` and read its response. Returns
        ``(response, keep)``; ``keep`` says the socket may carry another."""
        sock = conn.sock
        if sock is None:
            sock = yield from self._establish(conn, req)
        timeout = self.timeout
        yield from _send_all(sock, req.data, timeout)
        buf = bytearray()
        while True:
            end = buf.find(b"\r\n\r\n")
            if end < 0:
                if len(buf) > _MAX_HEAD:
                    raise http.client.LineTooLong("response head")
                if not (yield from _fill(sock, buf, timeout)):
                    if buf:
                        raise http.client.IncompleteRead(bytes(buf))
                    raise http.client.RemoteDisconnected(
                        "Remote end closed connection without response")
                continue
            version, status, headers = _parse_head(buf[:end])
            del buf[: end + 4]
            if status >= 200:
                break  # otherwise an interim (1xx) response: skip it
        keep = version == "HTTP/1.1"
        length: Optional[int] = None
        chunked = False
        for name, value in headers:
            low = name.lower()
            if low == "content-length":
                try:
                    length = int(value)
                except ValueError:
                    raise http.client.HTTPException(
                        f"bad Content-Length {value!r}") from None
            elif low == "transfer-encoding":
                chunked = "chunked" in value.lower()
            elif low == "connection":
                tokens = value.lower()
                if "close" in tokens:
                    keep = False
                elif "keep-alive" in tokens:
                    keep = True
        if req.method == "HEAD" or status in (204, 304):
            body = b""
        elif chunked:
            body = yield from _read_chunked(sock, buf, timeout)
        elif length is not None:
            body = yield from _read_exactly(sock, buf, length, timeout)
        else:  # delimited by the server closing the connection
            while (yield from _fill(sock, buf, timeout)):
                pass
            body, keep = bytes(buf), False
            buf.clear()
        return HttpResponse(status, headers, body), keep and not buf


# --- the loop --------------------------------------------------------------------

_PENDING = object()
_NEVER = float("inf")


class _Seq:
    """A step sequence, what to call with its result, and the wire
    attempts of its current step."""

    __slots__ = ("gen", "done", "request", "attempt", "wires")

    def __init__(self, gen, done) -> None:
        self.gen = gen
        self.done = done
        self.request: Optional[_Request] = None
        self.attempt = 0
        self.wires: List[_Wire] = []


class _Wire:
    """One wire attempt in flight: its socket I/O generator and what it
    waits for."""

    __slots__ = ("seq", "conn", "io", "sock", "fd", "mask", "due", "reused", "hedge")

    def __init__(self, seq: _Seq, conn: _Conn, reused: bool, hedge: bool) -> None:
        self.seq = seq
        self.conn = conn
        self.reused = reused
        self.hedge = hedge
        self.io = None
        self.sock = None
        self.fd = -1
        self.mask = 0
        self.due = 0.0


class _Loop:
    """Step sequences over one selector, driven by whoever calls ``turn``
    or ``drain``: ``add`` queues a sequence, and up to ``width`` run at
    once, in the order they were added."""

    def __init__(self, transport: HttpTransport, width: int, limiter, hedge_delay,
                 hedge_stats) -> None:
        self.transport = transport
        self.width = max(1, width)
        self.limiter = limiter
        self.hedge_delay = hedge_delay
        self.hedge_stats = hedge_stats
        self.selector = selectors.DefaultSelector()
        self.timers: list = []  # heap of (due, tie, callback, seq, token)
        self.tie = itertools.count()
        self.wires: set = set()
        self.waiting: deque = deque()  # added, not started yet
        self.active: set = set()       # started, not finished

    @property
    def pending(self) -> int:
        """Sequences added and not finished yet."""
        return len(self.active) + len(self.waiting)

    def add(self, gen, done: Optional[Callable[[object], object]] = None) -> None:
        """Queue the step sequence ``gen``, and start it when a slot is free;
        ``done(result)`` is called when it returns."""
        self.waiting.append(_Seq(gen, done))
        self._fill()

    def turn(self, block: bool = True) -> None:
        """Move the sequences on: one pass that waits for nothing, or, with
        ``block``, passes until a sequence finishes."""
        if not block:
            self._pass(None, block=False)
            return
        pending = self.pending  # a turn adds nothing
        while pending and self.pending == pending:
            self._pass(None)

    def drain(self, deadline: Optional[float] = None) -> bool:
        """Turn until every sequence is done; False when ``deadline``
        (``time.monotonic()``) came first."""
        while self.pending:
            if not self._pass(deadline):
                return False
        return True

    def close(self) -> None:
        """Close every wire in flight and every sequence not done yet."""
        for wire in list(self.wires):
            self._discard(wire)
        seqs, self.active, self.waiting = [*self.active, *self.waiting], set(), deque()
        for seq in seqs:
            seq.gen.close()
        self.selector.close()

    def _fill(self) -> None:
        while len(self.active) < self.width and self.waiting:
            seq = self.waiting.popleft()
            self.active.add(seq)
            self._advance(seq, None, None)

    def _pass(self, deadline, block: bool = True) -> bool:
        """Wait for the first ready socket, timer, wire deadline or
        ``deadline`` (not at all unless ``block``); resume the ready
        sockets, then fire the due timers, then fail the overdue wires (a
        response that landed while nobody turned the loop is read, not
        timed out). False once ``deadline`` has passed."""
        self._fill()
        if not self.active:
            return True
        timers = self.timers
        wait = 0.0
        if block:
            due = _NEVER if deadline is None else deadline
            if timers and timers[0][0] < due:
                due = timers[0][0]
            for wire in self.wires:
                if wire.due < due:
                    due = wire.due
            wait = None if due == _NEVER else max(0.0, due - time.monotonic())
        for key, _mask in self.selector.select(wait):
            if key.data.io is not None:  # not closed earlier in this batch
                self._resume(key.data)
        now = time.monotonic()
        while timers and timers[0][0] <= now:
            _due, _tie, callback, seq, token = heapq.heappop(timers)
            callback(seq, token)
        for wire in [w for w in self.wires if w.due <= now]:
            if wire.io is not None:
                self._discard(wire)
                self._wire_failed(wire, TimeoutError("timed out"))
        if deadline is not None and now >= deadline:
            return False
        self._fill()
        return True

    # -- sequences -----------------------------------------------------------------

    def _advance(self, seq: _Seq, value, exc) -> None:
        try:
            step = seq.gen.send(value) if exc is None else seq.gen.throw(exc)
        except StopIteration as stop:
            self.active.discard(seq)
            if seq.done is not None:
                seq.done(stop.value)
            return
        except BaseException:
            self.active.discard(seq)
            raise
        if type(step) is float:
            heapq.heappush(self.timers, (
                time.monotonic() + step, next(self.tie), self._wake, seq, None))
            return
        try:
            seq.request = self.transport._frame(step)
        except Exception as exc:  # noqa: BLE001 — the attempt's failure
            err = exc
        else:
            err = None
        if err is not None:
            self._advance(seq, None, err)
            return
        seq.attempt += 1
        self._start(seq, seq.attempt)

    def _permit(self, retry, seq: _Seq, token) -> bool:
        """Take one limiter permit; when none is free yet, schedule
        ``retry(seq, token)`` for when one is due and return False."""
        if self.limiter is None:
            return True
        wait = self.limiter.try_acquire()
        if not wait:
            return True
        heapq.heappush(self.timers, (
            time.monotonic() + wait, next(self.tie), retry, seq, token))
        return False

    def _start(self, seq: _Seq, attempt: int) -> None:
        if not self._permit(self._start, seq, attempt):
            return
        self._launch(seq, hedge=False, reuse=True)
        if self.hedge_delay is not None:
            heapq.heappush(self.timers, (
                time.monotonic() + self.hedge_delay, next(self.tie),
                self._hedge, seq, attempt))

    def _wake(self, seq: _Seq, _token) -> None:
        self._advance(seq, None, None)

    def _hedge(self, seq: _Seq, attempt: int) -> None:
        if seq.attempt != attempt or len(seq.wires) != 1 or seq.wires[0].hedge:
            return  # the attempt is over, or already hedged
        if not self._permit(self._hedge, seq, attempt):
            return
        if self.hedge_stats is not None:
            with self.transport._lock:  # other threads may share the client
                self.hedge_stats["fired"] += 1
        self._launch(seq, hedge=True, reuse=True)

    # -- wire attempts -------------------------------------------------------------

    def _launch(self, seq: _Seq, hedge: bool, reuse: bool) -> None:
        req = seq.request
        conn = self.transport._checkout(req.key) if reuse else None
        wire = _Wire(seq, conn or _Conn(req.key), conn is not None, hedge)
        wire.io = self.transport._exchange_io(wire.conn, req)
        seq.wires.append(wire)
        self.wires.add(wire)
        self._resume(wire)

    def _resume(self, wire: _Wire) -> None:
        try:
            sock, mask, due = next(wire.io)
        except StopIteration as stop:
            (response, keep), err = stop.value, None
        except Exception as exc:  # noqa: BLE001 — the attempt's failure
            keep, err = False, exc
        else:
            wire.due = due
            if sock is not wire.sock:
                if wire.sock is not None:
                    self.selector.unregister(wire.fd)
                wire.sock, wire.fd, wire.mask = sock, sock.fileno(), mask
                self.selector.register(wire.fd, mask, wire)
            elif mask != wire.mask:
                wire.mask = mask
                self.selector.modify(wire.fd, mask, wire)
            return
        self._settle(wire, keep)
        if err is None:
            try:
                headers, body = _decompress_response(response.headers, response.body)
            except http.client.HTTPException as exc:
                err = exc
        if err is not None:
            self._wire_failed(wire, err)
            return
        if body is not response.body:
            response = HttpResponse(response.status, headers, body)
        self._wire_done(wire, response)

    def _settle(self, wire: _Wire, keep: bool) -> None:
        """Take a finished wire off the loop; pool or close its socket."""
        self.wires.discard(wire)
        wire.io = None
        if wire.sock is not None:
            self.selector.unregister(wire.fd)  # before the fd can be reused
            wire.sock = None
        if keep:
            self.transport._checkin(wire.conn)
        else:
            wire.conn.close()

    def _discard(self, wire: _Wire) -> None:
        """Abandon a wire in flight: its socket is closed, so nothing of
        it can arrive later."""
        io = wire.io
        self._settle(wire, False)
        io.close()

    def _wire_done(self, wire: _Wire, response: HttpResponse) -> None:
        seq = wire.seq
        seq.wires.remove(wire)
        for loser in seq.wires:
            self._discard(loser)
        seq.wires = []
        if wire.hedge and self.hedge_stats is not None:
            with self.transport._lock:
                self.hedge_stats["won"] += 1
        self._advance(seq, response, None)

    def _wire_failed(self, wire: _Wire, err: Exception) -> None:
        seq = wire.seq
        seq.wires.remove(wire)
        if wire.reused and seq.request.idempotent and isinstance(err, ConnectionError):
            # a stale keep-alive socket: re-send once, on a fresh one
            self._launch(seq, hedge=wire.hedge, reuse=False)
        elif not seq.wires:  # else the hedge race's other attempt may answer
            self._advance(seq, None, err)
