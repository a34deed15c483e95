"""HTTP peers of the benchmark, each run as its own process so it does not
compete for the driver's interpreter lock.

- ``receiver``: the http destination's endpoint. ``POST /ingest/<op>``
  takes a JSON array of rows and records each row's ``id`` per operation.
- ``hubspot``: an in-memory emulator of the HubSpot CRM v3 endpoints that
  ``RestHubspotClient`` calls (properties, search, create, update). Every
  k-th API request is answered ``429`` with ``Retry-After: 0``.

Both speak HTTP/1.1 with keep-alive, print ``PORT <n>`` on their first
stdout line, and expose ``GET /counters``: requests, 429s, body bytes,
accepted connections and the process CPU seconds spent so far (busy time).

Run: ``python3 -m perfbench.peers receiver`` or
``python3 -m perfbench.peers hubspot --every 10``.
"""

from __future__ import annotations

import argparse
import json
import re
import subprocess
import sys
import threading
import time
from collections import Counter
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

class _Server(ThreadingHTTPServer):
    daemon_threads = True
    # the program opens a fresh connection per request on some paths; a
    # deep backlog keeps bursts from being refused
    request_queue_size = 128

    def __init__(self, handler, state):
        super().__init__(("127.0.0.1", 0), handler)
        self.state = state
        self.lock = threading.Lock()
        self.counts = Counter()

    def process_request(self, request, client_address):
        with self.lock:
            self.counts["connections"] += 1
        super().process_request(request, client_address)


class _Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"
    # headers and body leave in separate writes; with Nagle on, the body
    # would wait for the client's delayed ACK (~40 ms per response)
    disable_nagle_algorithm = True

    def log_message(self, *args):  # keep stderr quiet
        pass

    def _body(self) -> bytes:
        n = int(self.headers.get("Content-Length") or 0)
        body = self.rfile.read(n) if n else b""
        with self.server.lock:
            self.server.counts["bytes"] += n
        return body

    def _send(self, code: int, payload=None, headers=None) -> None:
        data = b"" if payload is None else json.dumps(payload).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        for k, v in (headers or {}).items():
            self.send_header(k, v)
        self.end_headers()
        if data:
            self.wfile.write(data)

    def _counters(self) -> dict:
        with self.server.lock:
            out = dict(self.server.counts)
        out["cpu_s"] = time.process_time()
        return out

    def _dispatch(self, method: str) -> None:
        if method == "GET" and self.path == "/counters":
            self._body()
            self._send(200, self._counters())
            return
        body = self._body()
        with self.server.lock:
            self.server.counts["requests"] += 1
        self.handle_api(method, self.path, body)

    def do_GET(self):
        self._dispatch("GET")

    def do_POST(self):
        self._dispatch("POST")

    def do_PATCH(self):
        self._dispatch("PATCH")

    def handle_api(self, method: str, path: str, body: bytes) -> None:
        raise NotImplementedError


class ReceiverHandler(_Handler):
    """Counts rows per operation; ``GET /stats/<op>`` returns how often
    each id arrived."""

    def handle_api(self, method, path, body):
        state = self.server.state
        if method == "POST" and path.startswith("/ingest/"):
            op = path[len("/ingest/"):]
            rows = json.loads(body)
            with self.server.lock:
                seen = state.setdefault(op, Counter())
                for row in rows:
                    seen[str(row["id"])] += 1
            self._send(200, {})
        elif method == "GET" and path.startswith("/stats/"):
            with self.server.lock:
                seen = Counter(state.get(path[len("/stats/"):], ()))
            self._send(200, seen)
        else:
            self._send(404, {})


_OBJ_RE = re.compile(r"^/crm/v3/objects/contacts/([^/]+)$")


class HubspotHandler(_Handler):
    """The contacts slice of the HubSpot CRM v3 API, held in memory."""

    def handle_api(self, method, path, body):
        state = self.server.state
        if method == "GET" and path == "/_bench/contacts":
            with self.server.lock:
                self._send(200, state["objects"])
            return
        with self.server.lock:
            state["api_requests"] += 1
            limited = state["api_requests"] % state["every"] == 0
            if limited:
                self.server.counts["rate_limited"] += 1
        if limited:
            self._send(429, {"message": "rate limited"}, {"Retry-After": "0"})
            return
        req = json.loads(body) if body else {}
        with self.server.lock:
            code, payload = self._apply(state, method, path, req)
        self._send(code, payload)

    @staticmethod
    def _apply(state, method, path, req):
        objects, by_ext = state["objects"], state["by_external_id"]
        if path == "/crm/v3/properties/contacts":
            if method == "GET":
                return 200, {"results": [{"name": p} for p in state["props"]]}
            state["props"].append(req["name"])
            return 201, {"name": req["name"]}
        if method == "POST" and path == "/crm/v3/objects/contacts/search":
            flt = req["filterGroups"][0]["filters"][0]
            if flt["propertyName"] != "external_id":
                return 400, {"message": "unsupported filter"}
            hs_id = by_ext.get(flt["value"])
            return 200, {"results": [{"id": hs_id}] if hs_id else []}
        if method == "POST" and path == "/crm/v3/objects/contacts":
            props = dict(req["properties"])
            hs_id = str(len(objects) + 1)
            objects[hs_id] = props
            by_ext[props["external_id"]] = hs_id
            return 201, {"id": hs_id}
        m = _OBJ_RE.match(path)
        if method == "PATCH" and m:
            hs_id = m.group(1)
            if hs_id not in objects:
                return 404, {"message": "not found"}
            objects[hs_id].update(req["properties"])
            return 200, {"id": hs_id}
        return 404, {"message": f"no route {method} {path}"}


class Peer:
    """A peer process started by the benchmark; ``close`` stops it and
    waits until it has exited."""

    def __init__(self, kind: str, *args: str, cwd: str | None = None) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.peers", kind, *args],
            cwd=cwd, stdout=subprocess.PIPE, text=True,
        )
        line = self.proc.stdout.readline()
        if not line.startswith("PORT "):
            self.close()
            raise RuntimeError(f"peer {kind} did not start: {line!r}")
        self.url = f"http://127.0.0.1:{int(line.split()[1])}"

    def get(self, path: str):
        import urllib.request

        with urllib.request.urlopen(self.url + path, timeout=30) as resp:
            return json.loads(resp.read())

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait(timeout=10)
        self.proc.stdout.close()


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("kind", choices=["receiver", "hubspot"])
    ap.add_argument("--every", type=int, default=10,
                    help="hubspot: answer every k-th API request with 429")
    args = ap.parse_args(argv)
    if args.kind == "receiver":
        server = _Server(ReceiverHandler, {})
    else:
        server = _Server(HubspotHandler, {
            "objects": {}, "by_external_id": {}, "props": [],
            "api_requests": 0, "every": args.every,
        })
    print(f"PORT {server.server_address[1]}", flush=True)
    try:
        server.serve_forever(poll_interval=0.2)
    except KeyboardInterrupt:
        pass
    finally:
        server.server_close()


if __name__ == "__main__":
    sys.exit(main())
