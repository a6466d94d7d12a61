"""Local static HTTP origin for the pipeline workloads.

Serves the generated ALTO corpus over ``http://`` (the production fetch
path), applies the fault plan, and counts GETs and bytes per path, so the
fetch counters are measured outside the program under test.

Faults (``fault_plan.json``, path -> kind):

- ``missing``: 404, the object is absent from the corpus;
- ``transient``: 503 on the first GET after a reset, then 200.

Control endpoints: ``GET /__stats`` returns the counters as JSON and
``POST /__reset`` clears them and re-arms the transient faults.

Run: ``python3 origin.py --root CORPUS --fault-plan PLAN``. It serves on
one thread per CPU, prints ``PORT <n>`` once listening and serves until
terminated.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import threading
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer


class Origin:
    """Counters and fault state, shared by the handler threads."""

    def __init__(self, root: str, fault_plan: dict[str, str]) -> None:
        self.root = os.path.realpath(root)
        self.fault_plan = fault_plan
        self.lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        with self.lock:
            self.per_path: dict[str, list] = {}  # path -> [gets, bytes, last status]
            self.armed = {p for p, k in self.fault_plan.items() if k == "transient"}

    def respond(self, path: str) -> tuple[int, bytes]:
        fault = self.fault_plan.get(path)
        with self.lock:
            transient = path in self.armed
            self.armed.discard(path)
        if fault == "missing":
            status, body = 404, b""
        elif transient:
            status, body = 503, b""
        else:
            full = os.path.realpath(os.path.join(self.root, path.lstrip("/")))
            try:
                if not full.startswith(self.root + os.sep):
                    raise FileNotFoundError(path)
                with open(full, "rb") as f:
                    status, body = 200, f.read()
            except OSError:
                status, body = 404, b""
        with self.lock:
            rec = self.per_path.setdefault(path, [0, 0, 0])
            rec[0] += 1
            rec[1] += len(body)
            rec[2] = status
        return status, body

    def stats(self) -> dict:
        with self.lock:
            return {
                "gets": sum(r[0] for r in self.per_path.values()),
                "bytes": sum(r[1] for r in self.per_path.values()),
                "per_path": {p: list(r) for p, r in self.per_path.items()},
            }


class BoundedServer(HTTPServer):
    """HTTPServer that handles requests on a fixed-size thread pool."""

    def __init__(self, addr, handler, threads: int) -> None:
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(max_workers=threads)

    def process_request(self, request, client_address) -> None:
        self.pool.submit(self._handle, request, client_address)

    def _handle(self, request, client_address) -> None:
        try:
            self.finish_request(request, client_address)
        except Exception:  # noqa: BLE001 — one broken connection must not stop the origin
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)


def make_handler(origin: Origin):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args) -> None:  # quiet: counters are the log
            pass

        def _send(self, status: int, body: bytes, ctype: str) -> None:
            self.send_response(status)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self) -> None:  # noqa: N802
            if self.path == "/__stats":
                self._send(200, json.dumps(origin.stats()).encode(), "application/json")
                return
            status, body = origin.respond(self.path)
            self._send(status, body, "application/xml")

        def do_POST(self) -> None:  # noqa: N802
            if self.path == "/__reset":
                origin.reset()
                self._send(200, b"{}", "application/json")
            else:
                self._send(404, b"", "text/plain")

    return Handler


def main() -> None:
    ap = argparse.ArgumentParser(description="Local static HTTP origin with a fault plan")
    ap.add_argument("--root", required=True)
    ap.add_argument("--fault-plan", required=True)
    args = ap.parse_args()
    with open(args.fault_plan) as f:
        origin = Origin(args.root, json.load(f))
    server = BoundedServer(("127.0.0.1", 0), make_handler(origin), os.cpu_count() or 1)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(0))
    print(f"PORT {server.server_address[1]}", flush=True)
    try:
        server.serve_forever()
    finally:
        server.server_close()
        server.pool.shutdown(wait=True, cancel_futures=True)


if __name__ == "__main__":
    main()
