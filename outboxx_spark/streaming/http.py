"""Observability HTTP endpoints (M2/M3): /metrics, /healthz, /readyz.

Reference (`src/observability/http.zig:10-88`): a tiny HTTP worker
serving Prometheus text plus liveness (/healthz = wire activity within
the 90 s window) and readiness (/readyz = connected AND streaming AND
live). Spark rebuild: a stdlib ThreadingHTTPServer on the driver
reading the MetricsRegistry + a readiness probe callback (typically
``lambda: query.isActive``).
"""

from __future__ import annotations

import threading
from collections.abc import Callable
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from outboxx_spark.streaming.metrics import MetricsRegistry


class ObservabilityServer:
    def __init__(
        self,
        registry: MetricsRegistry,
        ready_probe: Callable[[], bool] | None = None,
        port: int = 0,
    ) -> None:
        self.registry = registry
        self.ready_probe = ready_probe or (lambda: True)
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self) -> None:  # noqa: N802 (stdlib API)
                if self.path == "/metrics":
                    body = outer.registry.render_prometheus().encode()
                    self._send(200, body, "text/plain; version=0.0.4")
                elif self.path == "/healthz":
                    live = outer.registry.is_live()
                    self._send(200 if live else 503, b"ok" if live else b"stalled")
                elif self.path == "/readyz":
                    ready = outer.registry.is_live() and outer.ready_probe()
                    self._send(200 if ready else 503, b"ok" if ready else b"not ready")
                else:
                    self._send(404, b"not found")

            def _send(self, code: int, body: bytes, ctype: str = "text/plain") -> None:
                self.send_response(code)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *args) -> None:  # quiet
                pass

        # the wildcard address: a scraper in another container (the
        # compose stand's Prometheus) or a published port must reach it
        self._server = ThreadingHTTPServer(("0.0.0.0", port), Handler)
        self.port = self._server.server_port
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)

    def start(self) -> "ObservabilityServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
