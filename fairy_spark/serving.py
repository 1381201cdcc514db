"""HTTP serving plane — the executable analog of the reference's
remote get/put service (common/src/h2/h2_service.rs:57-123 routes
``GET /get/{id}`` / ``PUT /put/{id}``; URI routing client/src/
main.rs:75-119). The reference speaks HTTP/2; an H2/gRPC *client* is
unavailable in this sandbox (the documented A5 residual — the Spark
Connect server half plus raw-H2 SETTINGS handshake lives in
tests/test_connect_serving.py), so the in-process round-trip analog
uses the stdlib HTTP/1.1 server: same routes, same chunked body
ingest loop, same engine path underneath (kv.py put/get, the bucketed
MVCC log). Deliberately NOT the reference's bug-for-bug behavior: the
ingest loop drains the WHOLE body — h2_service.rs:98 keeps only the
first DATA frame of a multi-frame PUT and truncates the object
(SURVEY.md §3.1); test_http_serving.py pins a multi-chunk body
round-tripping intact.

Scope: a test/serving facade for the local driver process
(bind 127.0.0.1 only). Production serving of a Spark-backed store
is Spark Connect / JDBC territory; this module exists so the A5
get/put round-trip is executable and asserted end-to-end in-repo.

Routes:
  GET  /get/{key}      -> 200 blob bytes        | 404 unknown key
  PUT  /put/{key}      -> 200 'ok' after the durable KV append
  GET  /exists/{key}   -> 200 'true' | 'false'
  GET  /keys?prefix=p  -> 200 newline-joined keys (readdir analog, A17)
  POST /sql            -> 200 JSON {columns, rows} of the query result
                          (row-capped; the declarative surface over
                          the same engine)
"""

from __future__ import annotations

import json
import threading
from contextlib import contextmanager
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import unquote, urlparse, parse_qs

from fairy_spark.kv import KeyNotFound

_CHUNK = 64 * 1024
_SQL_ROW_CAP = 10_000


def _make_handler(engine, kv_name: str):
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"
        # Headers and body go out as two writes; with Nagle on, the body
        # waits for the client's delayed ACK (~40 ms per reply).
        disable_nagle_algorithm = True

        # silence per-request stderr logging (test noise)
        def log_message(self, *a):  # noqa: D102
            pass

        def _send(self, code: int, body: bytes, ctype: str = "application/octet-stream"):
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _read_body(self) -> bytes:
            """Drain the FULL request body in bounded chunks — the
            multi-frame ingest loop the reference's put path lacks
            (h2_service.rs:98 reads one frame)."""
            n = int(self.headers.get("Content-Length", "0"))
            parts = []
            while n > 0:
                chunk = self.rfile.read(min(_CHUNK, n))
                if not chunk:
                    break
                parts.append(chunk)
                n -= len(chunk)
            return b"".join(parts)

        def do_GET(self):  # noqa: N802
            u = urlparse(self.path)
            if u.path.startswith("/get/"):
                key = unquote(u.path[len("/get/"):])
                try:
                    self._send(200, engine.kv(kv_name).get(key))
                except KeyNotFound:
                    self._send(404, b"not found", "text/plain")
            elif u.path.startswith("/exists/"):
                key = unquote(u.path[len("/exists/"):])
                val = b"true" if engine.kv(kv_name).exists(key) else b"false"
                self._send(200, val, "text/plain")
            elif u.path == "/keys":
                prefix = parse_qs(u.query).get("prefix", [""])[0]
                kv = engine.kv(kv_name)
                df = kv.scan_prefix(prefix) if prefix else kv.keys()
                ks = sorted(r["key"] for r in df.select("key").collect())
                self._send(200, "\n".join(ks).encode(), "text/plain")
            else:
                self._send(404, b"unknown route", "text/plain")

        def do_PUT(self):  # noqa: N802
            u = urlparse(self.path)
            if u.path.startswith("/put/"):
                key = unquote(u.path[len("/put/"):])
                engine.kv(kv_name).put(key, self._read_body())
                self._send(200, b"ok", "text/plain")
            else:
                self._send(404, b"unknown route", "text/plain")

        def do_POST(self):  # noqa: N802
            if urlparse(self.path).path != "/sql":
                self._send(404, b"unknown route", "text/plain")
                return
            query = self._read_body().decode("utf-8")
            try:
                df = engine.sql(query).limit(_SQL_ROW_CAP)
                rows = [list(r) for r in df.collect()]
                body = json.dumps(
                    {"columns": df.columns, "rows": rows}, default=str
                ).encode()
                self._send(200, body, "application/json")
            except Exception as ex:  # surface analysis errors as 400
                self._send(400, str(ex).encode()[:4096], "text/plain")

    return Handler


@contextmanager
def serve(engine, kv_name: str = "kv_http", host: str = "127.0.0.1", port: int = 0):
    """Run the serving plane on a daemon thread; yields (host, port).
    port=0 picks a free port. Loopback-only by design."""
    httpd = ThreadingHTTPServer((host, port), _make_handler(engine, kv_name))
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        yield httpd.server_address
    finally:
        httpd.shutdown()
        httpd.server_close()
        t.join(timeout=10)
