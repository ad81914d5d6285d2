"""Thin stdlib HTTP server over the API handler (reference app.py:51-140).

The reference ships a Flask app exposing ``POST /process`` (raw text body →
pipeline → ``{'success': True, 'data': [...], 'types': {...}}``; blank body
→ 400 ``{'error': 'No data provided'}``; handler failure → 500 with
``error``/``trace`` — app.py:61-62, 131-140).  Unlike the reference, a 500
here carries ``error`` and an ``error_id``, never the traceback: the
traceback goes to this module's log under that id.  A body longer than
``MAX_BODY_BYTES`` is refused with 413 before it is read.

The engine-side handler body lives in :mod:`etl_pipeline2_0_spark.api`;
this module adds the missing listener with ``http.server`` only — no web
framework dependency — so the repo serves the same endpoint contract the
reference's frontend and ``test_server.py`` exercise.

Serving model: one SparkSession shared across requests (Spark sessions are
thread-safe for job submission; concurrent requests become concurrent Spark
jobs scheduled by the driver).  ``ThreadingHTTPServer`` keeps slow payloads
from blocking the health endpoint.
"""

from __future__ import annotations

import json
import logging
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any

from pyspark.sql import SparkSession

from etl_pipeline2_0_spark.api import process_payload
from etl_pipeline2_0_spark.frontend import INDEX_HTML as _INDEX_HTML

log = logging.getLogger(__name__)

# Largest request body read; a longer Content-Length is answered 413 before
# any of it is read.  The body is held in memory and handed to the JVM whole.
MAX_BODY_BYTES = 8 * 1024 * 1024


def _make_handler(spark: SparkSession):
    class Handler(BaseHTTPRequestHandler):
        server_version = "ETLPipeline2Spark/1.0"

        def _send_json(self, status: int, obj: dict[str, Any]) -> None:
            body = json.dumps(obj).encode("utf-8")
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self) -> None:  # liveness + minimal frontend stand-in
            if self.path in ("/", "/index.html"):
                body = _INDEX_HTML.encode("utf-8")
                self.send_response(200)
                self.send_header("Content-Type", "text/html; charset=utf-8")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
            elif self.path == "/health":
                self._send_json(200, {"status": "ok"})
            else:
                self._send_json(404, {"error": "not found"})

        def do_POST(self) -> None:
            if self.path != "/process":
                self._send_json(404, {"error": "not found"})
                return
            try:
                # Body framing: this stdlib handler does not dechunk, so a
                # chunked request must be refused explicitly (411: length
                # required) instead of reading zero bytes and answering a
                # misleading 400 "No data provided"; a malformed
                # Content-Length is the CLIENT's error → 400, not a 500
                # from the bare int() throw.
                te = (self.headers.get("Transfer-Encoding") or "").lower()
                if "chunked" in te:
                    self._send_json(
                        411,
                        {"error": "chunked transfer encoding not supported; "
                                  "send Content-Length"},
                    )
                    return
                try:
                    length = int(self.headers.get("Content-Length", "0"))
                    if length < 0:
                        raise ValueError(length)
                except ValueError:
                    self._send_json(400, {"error": "invalid Content-Length"})
                    return
                if length > MAX_BODY_BYTES:
                    self._send_json(
                        413, {"error": f"body exceeds {MAX_BODY_BYTES} bytes"}
                    )
                    return
                content = self.rfile.read(length).decode("utf-8", errors="replace")
                if not content.strip():
                    # Reference 400 path (app.py:61-62).
                    self._send_json(400, {"error": "No data provided"})
                    return
                result = process_payload(spark, content)
                if not result.get("success"):
                    self._send_json(400, {"error": result.get("error", "bad request")})
                    return
                # Reference response shape (app.py:131-135): success/data/types.
                self._send_json(
                    200,
                    {
                        "success": True,
                        "data": result["data"],
                        "types": result["types"],
                    },
                )
            except Exception as e:  # reference 500 path (app.py:137-140)
                error_id = uuid.uuid4().hex
                log.exception("POST /process failed [error_id=%s]", error_id)
                self._send_json(500, {"error": str(e), "error_id": error_id})

        def log_message(self, fmt: str, *args: Any) -> None:  # quiet test runs
            pass

    return Handler


def create_server(
    spark: SparkSession, host: str = "127.0.0.1", port: int = 0
) -> ThreadingHTTPServer:
    """Build (but do not start) the HTTP server; ``port=0`` picks a free
    port — read it back from ``server.server_address[1]``."""
    return ThreadingHTTPServer((host, port), _make_handler(spark))


def main() -> None:  # pragma: no cover - interactive entry point
    from etl_pipeline2_0_spark.session import get_spark

    server = create_server(get_spark(), port=8000)
    print(f"serving on http://{server.server_address[0]}:{server.server_address[1]}")
    server.serve_forever()


if __name__ == "__main__":  # pragma: no cover
    main()
