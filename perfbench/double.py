"""The endpoint double: a single-process asyncio HTTP/1.1 keep-alive server.

Run as ``python3 -m perfbench.double --workload <name> --seed <n>``; it
prints ``PORT <port>`` on its first stdout line and serves until its stdin
closes (so it never outlives the runner that started it).

Routes (``pass`` namespaces one pass, so fault and sink state never leak
from one pass into the next):

- ``GET /lookup?pass=P&id=K`` — one table row as a JSON object. A seeded
  share of keys gets ``503`` with ``Retry-After: 0`` on its first attempt
  in each pass.
- ``POST /batch?pass=P`` — body ``[{"id": K}, ...]``, answers the JSON
  array of the matching rows (multi-key lookup). A seeded share of bodies
  (by content checksum) gets one ``503`` first.
- ``GET /pages?pass=P&page=N`` — page ``N`` of the scan, a JSON array.
- ``POST /sink?pass=P`` — a JSON-array batch of rows. Every row is checked
  against the table; a seeded share of bodies (by content checksum) gets
  one ``503`` first.
- ``GET /_stats`` and ``GET /_sink?pass=P&n=N&from_epoch=E`` — counters and
  the per-pass sink summary, as JSON. These do not count as traffic.

Counters are exact: requests (every attempt), 503s served, bytes in and
out, plus the process CPU time, from which the runner derives the double's
busy share over a window.
"""

from __future__ import annotations

import argparse
import asyncio
import json
import os
import sys
import time
import zlib
from array import array
from typing import Dict, Optional, Tuple

from perfbench import inputs
from perfbench.trace import percentile

_REASONS = {200: "OK", 404: "Not Found", 503: "Service Unavailable"}


def _response(status: int, body: bytes, extra: str = "") -> bytes:
    return (
        f"HTTP/1.1 {status} {_REASONS.get(status, 'X')}\r\n"
        f"Content-Type: application/json\r\n{extra}"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode("ascii") + body


_UNAVAILABLE = _response(503, b'{"error":"retry"}', "Retry-After: 0\r\n")
_NOT_FOUND = _response(404, b'{"error":"not found"}')
_ACCEPTED = _response(200, b'{"ok":true}')


def _query(target: str) -> Tuple[str, Dict[str, str]]:
    path, _, qs = target.partition("?")
    params = {}
    for part in qs.split("&"):
        name, _, value = part.partition("=")
        params[name] = value
    return path, params


class _SinkPass:
    """What one pass delivered to ``/sink``."""

    def __init__(self) -> None:
        self.seen = bytearray()      # per row id / event value: times received
        self.bad = 0                 # rows whose fields disagree with the table
        self.records = 0
        self.latency_ms: Dict[int, array] = {}  # epoch -> per-event latency

    def mark(self, ident: int) -> None:
        if ident >= len(self.seen):
            self.seen.extend(bytes(max(ident + 1 - len(self.seen), len(self.seen))))
        if self.seen[ident] < 255:
            self.seen[ident] += 1


class Double:
    def __init__(self, workload: str, seed: int) -> None:
        self.workload = workload
        self.seed = seed
        sizes = inputs.SIZES
        self.sizes = sizes
        domain = {
            "lookup_skewed_cached": sizes.skew_domain,
            "scan_sink": 0,
            "stream_enrich_sink": 0,
        }[workload]
        self._rows = [_response(200, inputs.row_json(seed, k)) for k in range(domain)]
        self._pages: Dict[int, bytes] = {}
        self._failed = set()
        self._sinks: Dict[str, _SinkPass] = {}
        self.requests = 0
        self.unavailable = 0
        self.bytes_in = 0
        self.bytes_out = 0

    # -- data routes ---------------------------------------------------------

    def handle(self, method: str, target: str, body: bytes, size_in: int) -> bytes:
        path, params = _query(target)
        if path.startswith("/_"):
            return _response(200, json.dumps(self._control(path, params)).encode())
        self.requests += 1
        self.bytes_in += size_in
        if path == "/lookup":
            out = self._lookup(params)
        elif path == "/batch":
            out = self._batch(params.get("pass", ""), body)
        elif path == "/pages":
            out = self._page(int(params["page"]))
        elif path == "/sink":
            out = self._sink(params.get("pass", ""), body)
        else:
            out = _NOT_FOUND
        if out is _UNAVAILABLE:
            self.unavailable += 1
        self.bytes_out += len(out)
        return out

    def _lookup(self, params: Dict[str, str]) -> bytes:
        key = int(params["id"])
        if not 0 <= key < len(self._rows):
            return _NOT_FOUND
        if inputs.faulted(
            self.seed, inputs.LOOKUP_FAULT_SALT, key,
            self.sizes.lookup_fault_permille,
        ):
            token = ("lookup", params.get("pass"), key)
            if token not in self._failed:
                self._failed.add(token)
                return _UNAVAILABLE
        return self._rows[key]

    def _batch(self, ns: str, body: bytes) -> bytes:
        crc = zlib.crc32(body)
        if inputs.faulted(
            self.seed, inputs.LOOKUP_FAULT_SALT, crc, self.sizes.lookup_fault_permille
        ):
            token = ("batch", ns, crc)
            if token not in self._failed:
                self._failed.add(token)
                return _UNAVAILABLE
        rows = [inputs.row_of(self.seed, int(kv["id"])) for kv in json.loads(body)]
        return _response(200, json.dumps(rows, separators=(",", ":")).encode())

    def _page(self, page: int) -> bytes:
        out = self._pages.get(page)
        if out is None:
            n = self.sizes.scan_page_rows
            lo = page * n
            hi = min(lo + n, self.sizes.scan_pages * n)
            rows = [inputs.row_of(self.seed, k) for k in range(lo, hi)]
            out = _response(200, json.dumps(rows, separators=(",", ":")).encode())
            self._pages[page] = out
        return out

    def _sink(self, ns: str, body: bytes) -> bytes:
        crc = zlib.crc32(body)
        if self.workload == "scan_sink" and inputs.faulted(
            self.seed, inputs.SINK_FAULT_SALT, crc, self.sizes.sink_fault_permille
        ):
            token = ("sink", ns, crc)
            if token not in self._failed:
                self._failed.add(token)
                return _UNAVAILABLE
        now = time.time()
        sink = self._sinks.setdefault(ns, _SinkPass())
        records = json.loads(body)
        sink.records += len(records)
        seed = self.seed
        if self.workload == "stream_enrich_sink":
            for rec in records:
                expected = inputs.row_of(seed, rec["k"])
                if rec.get("name") != expected["name"] or rec.get("v") != expected["v"]:
                    sink.bad += 1
                sink.mark(rec["value"])
                lat = sink.latency_ms.setdefault(rec["epoch"], array("d"))
                lat.append(now * 1000.0 - rec["ts_us"] / 1000.0)
        else:
            for rec in records:
                if rec != inputs.row_of(seed, rec["id"]):
                    sink.bad += 1
                sink.mark(rec["id"])
        return _ACCEPTED

    # -- control routes --------------------------------------------------------

    def _control(self, path: str, params: Dict[str, str]) -> dict:
        if path == "/_stats":
            return {
                "requests": self.requests,
                "unavailable": self.unavailable,
                "bytes_in": self.bytes_in,
                "bytes_out": self.bytes_out,
                "cpu_s": time.process_time(),
                "wall_s": time.monotonic(),
            }
        if path == "/_sink":
            sink = self._sinks.get(params.get("pass", ""), _SinkPass())
            n = int(params.get("n", "0"))
            seen = sink.seen[:n].ljust(n, b"\0")
            lat = [
                x for epoch, values in sink.latency_ms.items()
                if epoch >= int(params.get("from_epoch", "0"))
                for x in values
            ]
            return {
                "records": sink.records,
                "bad": sink.bad,
                "missing": seen.count(0),
                "duplicated": n - seen.count(0) - seen.count(1),
                "latency_p50_ms": percentile(lat, 0.50),
                "latency_p99_ms": percentile(lat, 0.99),
            }
        return {"error": f"unknown control route {path}"}


class _Protocol(asyncio.Protocol):
    """Minimal HTTP/1.1 keep-alive request framing: request line, headers,
    ``Content-Length`` body. Requests on one connection answer in order."""

    def __init__(self, double: Double) -> None:
        self.double = double
        self.buf = bytearray()
        self.head: Optional[Tuple[str, str, int, int]] = None
        self.transport: Optional[asyncio.Transport] = None

    def connection_made(self, transport) -> None:
        self.transport = transport

    def data_received(self, data: bytes) -> None:
        self.buf += data
        while True:
            if self.head is None:
                end = self.buf.find(b"\r\n\r\n")
                if end < 0:
                    return
                head = bytes(self.buf[:end]).decode("latin1")
                del self.buf[: end + 4]
                line, _, rest = head.partition("\r\n")
                method, target, _ = line.split(" ", 2)
                length = 0
                for header in rest.split("\r\n"):
                    name, _, value = header.partition(":")
                    if name.strip().lower() == "content-length":
                        length = int(value)
                self.head = (method, target, length, end + 4)
            method, target, length, head_size = self.head
            if len(self.buf) < length:
                return
            body = bytes(self.buf[:length])
            del self.buf[:length]
            self.head = None
            self.transport.write(
                self.double.handle(method, target, body, head_size + length)
            )


async def _serve(double: Double) -> None:
    loop = asyncio.get_running_loop()
    server = await loop.create_server(lambda: _Protocol(double), "127.0.0.1", 0)
    port = server.sockets[0].getsockname()[1]
    sys.stdout.write(f"PORT {port}\n")
    sys.stdout.flush()
    stdin_closed = loop.create_future()

    def on_stdin() -> None:
        if not os.read(sys.stdin.fileno(), 4096) and not stdin_closed.done():
            stdin_closed.set_result(None)

    loop.add_reader(sys.stdin.fileno(), on_stdin)
    try:
        await stdin_closed
    finally:
        loop.remove_reader(sys.stdin.fileno())
        server.close()
        await server.wait_closed()


class DoubleProcess:
    """Runner-side handle: starts the double as a child process, reads its
    control routes, and stops it (closing its stdin, then waiting)."""

    def __init__(self, workload: str, seed: int, root: str) -> None:
        import subprocess

        env = dict(os.environ, PYTHONPATH=root)
        self._proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.double",
             "--workload", workload, "--seed", str(seed)],
            cwd=root, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        )
        line = self._proc.stdout.readline().decode().split()
        if len(line) != 2 or line[0] != "PORT":
            self.stop()
            raise RuntimeError("endpoint double failed to start")
        self.port = int(line[1])
        self.base = f"http://127.0.0.1:{self.port}"

    def _get(self, target: str) -> dict:
        import http.client

        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)
        try:
            conn.request("GET", target)
            return json.loads(conn.getresponse().read())
        finally:
            conn.close()

    def stats(self) -> dict:
        return self._get("/_stats")

    def sink(self, ns: str, n: int = 0, from_epoch: int = 0) -> dict:
        return self._get(f"/_sink?pass={ns}&n={n}&from_epoch={from_epoch}")

    def stop(self) -> None:
        if self._proc.poll() is None:
            self._proc.stdin.close()
            try:
                self._proc.wait(timeout=10)
            except Exception:  # noqa: BLE001 — never leave the child behind
                self._proc.kill()
                self._proc.wait()
        self._proc.stdout.close()


def main() -> None:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    args = parser.parse_args()
    asyncio.run(_serve(Double(args.workload, args.seed)))


if __name__ == "__main__":
    main()
