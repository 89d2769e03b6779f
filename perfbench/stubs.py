"""In-process HTTP stubs for api_ingest: the Ads/CRM upstream and the
export sink.  Both count what they see so the benchmark can check it."""

from __future__ import annotations

import hashlib
import hmac
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


class _Quiet(BaseHTTPRequestHandler):
    def log_message(self, *args):
        pass

    def _reply(self, code: int, body: bytes) -> None:
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


class StubServer:
    """A ThreadingHTTPServer on a free localhost port, run on a thread the
    owner joins in :meth:`close`."""

    def __init__(self, handler):
        self.server = ThreadingHTTPServer(("127.0.0.1", 0), handler)
        self.url = f"http://127.0.0.1:{self.server.server_address[1]}"
        self.lock = threading.Lock()
        self._thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self._thread.start()

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self._thread.join(timeout=10)


class Upstream(StubServer):
    """Serves the current batch at ``/ads`` and ``/crm``.  ``attempts``
    counts every GET, ``payload_bytes`` every body byte served."""

    def __init__(self):
        self.batch: dict | None = None
        self.attempts = 0
        self.payload_bytes = 0
        outer = self

        class H(_Quiet):
            def do_GET(self):
                key = self.path.strip("/")
                with outer.lock:
                    outer.attempts += 1
                    body = (outer.batch or {}).get(key)
                    if body is not None:
                        outer.payload_bytes += len(body)
                if body is None:
                    return self._reply(404, b"{}")
                self._reply(200, body)

        super().__init__(H)


class Sink(StubServer):
    """Accepts export POSTs and verifies ``X-Signature`` (HMAC-SHA256 hex
    of the body under ``secret``); ``verified`` counts the ones that pass."""

    def __init__(self, secret: str):
        self.verified = 0
        outer = self

        class H(_Quiet):
            def do_POST(self):
                body = self.rfile.read(int(self.headers.get("Content-Length") or 0))
                want = hmac.new(secret.encode(), body, hashlib.sha256).hexdigest()
                ok = hmac.compare_digest(want, self.headers.get("X-Signature", ""))
                if ok:
                    with outer.lock:
                        outer.verified += 1
                self._reply(200 if ok else 401, b"{}")

        super().__init__(H)
