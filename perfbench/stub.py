"""Localhost REST stub for the rest_enrich workload.

GET /item/<key> answers after a fixed service time, following the seeded
per-key plan: 'ok' gives 200, 'retry' gives 503 on the first request of
an operation and 200 after that, 'missing' gives 404. POST /_reset starts
a new operation; GET /_stats returns the counters since the last reset as
"name value" lines.
"""
import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from inputs import rest_body


class Stub:
    def __init__(self, plan, service_ms):
        self.plan = plan
        self.service_s = service_ms / 1000.0
        self.lock = threading.Lock()
        self.reset()
        stub = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"
            # headers and body leave in separate writes; without NODELAY
            # Nagle's algorithm holds the body back for a delayed ACK
            disable_nagle_algorithm = True

            def log_message(self, *args):
                pass

            def _send(self, status, body):
                data = body.encode()
                self.send_response(status)
                self.send_header("Content-Type", "text/plain")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def do_POST(self):
                if self.path == "/_reset":
                    stub.reset()
                    self._send(200, "ok")
                else:
                    self._send(404, "")

            def do_GET(self):
                if self.path == "/_stats":
                    self._send(200, stub.stats())
                elif self.path.startswith("/item/"):
                    status, body = stub.serve(self.path[len("/item/"):])
                    self._send(status, body)
                else:
                    self._send(404, "")

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.server.daemon_threads = True
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)

    @property
    def url(self):
        return f"http://127.0.0.1:{self.server.server_address[1]}"

    def start(self):
        self.thread.start()
        return self

    def stop(self):
        self.server.shutdown()
        self.server.server_close()
        self.thread.join()

    def reset(self):
        with self.lock:
            self.seen = {}
            self.counts = {"requests": 0, "s2xx": 0, "s404": 0, "s503": 0,
                           "inflight": 0, "max_inflight": 0, "service_ms": 0.0}

    def stats(self):
        with self.lock:
            return "".join(f"{k} {v}\n" for k, v in self.counts.items())

    def serve(self, key):
        with self.lock:
            c = self.counts
            c["requests"] += 1
            c["inflight"] += 1
            c["max_inflight"] = max(c["max_inflight"], c["inflight"])
            n = self.seen.get(key, 0)
            self.seen[key] = n + 1
        t0 = time.perf_counter()
        time.sleep(self.service_s)
        kind = self.plan.get(key, "missing")
        if kind == "missing":
            status, body = 404, ""
        elif kind == "retry" and n == 0:
            status, body = 503, ""
        else:
            status, body = 200, json.dumps(rest_body(key))
        with self.lock:
            c = self.counts
            c["inflight"] -= 1
            c["service_ms"] += (time.perf_counter() - t0) * 1000.0
            c["s2xx" if status == 200 else f"s{status}"] += 1
        return status, body
