"""Observability endpoint (SURVEY.md §2 A15; ref main.py:256-266).

The reference serves uptime / cursor / row counters / error counts from
a Flask route. Here: a stdlib HTTP shim (no web framework dependency)
over ``EtlStats``, the cursor (a driver-side file read, no Spark job)
and the head lag (last polled head minus cursor), plus, when given
streaming queries, their ``lastProgress`` — the Spark-native metric
source the reference's hand-rolled counters approximate.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from bigquery_etl_spark.pipeline.runner import EtlBatchRunner


class StatsServer:
    def __init__(self, runner: EtlBatchRunner, cursor_getter=None, streaming_queries=None):
        self.runner = runner
        self.cursor_getter = cursor_getter or (lambda: runner.cursor.get())
        self.streaming_queries = streaming_queries or []
        self._httpd: ThreadingHTTPServer | None = None

    def payload(self) -> dict:
        body = dict(self.runner.stats.as_dict())
        try:
            body["cursor_block"] = self.cursor_getter()
        except Exception as exc:  # noqa: BLE001 — stats must never 500
            body["cursor_block"] = f"error: {exc!r}"
        head, cursor = body["head_block"], body["cursor_block"]
        body["lag_blocks"] = head - cursor if head is not None and isinstance(cursor, int) else None
        body["streams"] = [q.lastProgress for q in self.streaming_queries if q.lastProgress]
        return body

    def start(self, port: int = 0) -> int:
        """Serve GET / as JSON on a daemon thread; returns the bound port."""
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 — http.server API
                data = json.dumps(outer.payload()).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def log_message(self, *args):  # silence request logging
                pass

        self._httpd = ThreadingHTTPServer(("127.0.0.1", port), Handler)
        threading.Thread(target=self._httpd.serve_forever, daemon=True).start()
        return self._httpd.server_address[1]

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd = None
