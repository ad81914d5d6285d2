"""API-layer parity: process_payload = the reference's POST /process body."""

from __future__ import annotations

from etl_pipeline2_0_spark.api import process_payload


def test_blank_payload_rejected(spark):
    out = process_payload(spark, "   \n ")
    assert out == {"success": False, "error": "Empty input data"}


def test_payload_roundtrip(spark):
    payload = (
        '{"name": "Widget", "price": 9.99, "tags": ["a", "b"]}\n'
        "a plain text line long enough to keep\n"
    )
    out = process_payload(spark, payload)
    assert out["success"] is True
    json_rows = [r for r in out["data"] if r["type"] == "json"]
    text_rows = [r for r in out["data"] if r["type"] == "text"]
    assert len(json_rows) == 1 and len(text_rows) == 1
    row = json_rows[0]
    assert row["name"] == "Widget" and row["price"] == 9.99
    assert row["tags"] == ["a", "b"]          # lists pass through (app.py:105)
    assert text_rows[0]["name"] is None        # NaN -> None (app.py:110)
    assert out["types"]["tags"] == "array"     # app.py:85 semantics
    assert out["types"]["price"] == "number"
    assert out["types"]["type"] == "string"
    assert all(r["total_items"] == 2 for r in out["data"])
    assert "name" in out["schema"]


# ------------------------------------------------------------ HTTP server --


def _served(spark):
    import threading

    from etl_pipeline2_0_spark.server import create_server

    server = create_server(spark, port=0)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server, f"http://127.0.0.1:{server.server_address[1]}"


def test_http_server_roundtrip(spark):
    # Reference test_server.py / diagnostic.html semantics: liveness, the
    # 400 blank path, and two payloads of different shape producing
    # different inferred type maps.
    import json as _json
    import urllib.request

    server, base = _served(spark)
    try:
        with urllib.request.urlopen(base + "/health", timeout=30) as r:
            assert r.status == 200

        with urllib.request.urlopen(base + "/", timeout=30) as r:
            index = r.read()
        # Full frontend: payload input, schema cards, result table, CSV
        # export (the reference index.html capability set).
        for marker in (b"/process", b"renderCards", b"renderTable", b"Download CSV"):
            assert marker in index

        req = urllib.request.Request(base + "/process", data=b"  \n ", method="POST")
        try:
            urllib.request.urlopen(req, timeout=120)
            assert False, "blank payload must 400"
        except urllib.error.HTTPError as e:
            assert e.code == 400
            assert _json.load(e)["error"] == "No data provided"

        def post(payload: str) -> dict:
            req = urllib.request.Request(
                base + "/process", data=payload.encode(), method="POST"
            )
            with urllib.request.urlopen(req, timeout=300) as r:
                assert r.status == 200
                return _json.load(r)

        out1 = post('{"name": "Widget", "price": 9.99}\n')
        out2 = post('{"active": true, "tags": ["x", "y"]}\n')
        assert out1["success"] and out2["success"]
        assert set(out1) == {"success", "data", "types"}  # reference shape
        assert out1["types"]["price"] == "number"
        assert out2["types"]["tags"] == "array"
        # Two payloads => different dynamic schemas (diagnostic.html check).
        assert set(out1["types"]) != set(out2["types"])
    finally:
        server.shutdown()
        server.server_close()


def test_http_server_body_framing(spark):
    # Framing edges: chunked uploads are refused with 411 (this handler
    # does not dechunk — reading zero bytes and claiming "No data provided"
    # would be a lie), and a garbage Content-Length is the client's fault
    # (400), never an int()-crash 500.
    import http.client
    import json as _json

    server, base = _served(spark)
    host, port = server.server_address[0], server.server_address[1]
    try:
        conn = http.client.HTTPConnection(host, port, timeout=30)
        conn.putrequest("POST", "/process", skip_accept_encoding=True)
        conn.putheader("Transfer-Encoding", "chunked")
        conn.endheaders()
        conn.send(b"5\r\nhello\r\n0\r\n\r\n")
        resp = conn.getresponse()
        assert resp.status == 411
        assert "chunked" in _json.load(resp)["error"]
        conn.close()

        conn = http.client.HTTPConnection(host, port, timeout=30)
        conn.putrequest("POST", "/process")
        conn.putheader("Content-Length", "not-a-number")
        conn.endheaders()
        resp = conn.getresponse()
        assert resp.status == 400
        assert _json.load(resp)["error"] == "invalid Content-Length"
        conn.close()
    finally:
        server.shutdown()
        server.server_close()


def test_http_server_refuses_oversized_body(spark, monkeypatch):
    # A Content-Length over the limit is answered 413 before the body is
    # read, so the handler never calls the pipeline.
    import http.client
    import json as _json

    from etl_pipeline2_0_spark import server as server_mod

    def unreachable(spark, payload):
        raise AssertionError("an oversized body reached the pipeline")

    monkeypatch.setattr(server_mod, "process_payload", unreachable)
    server, _ = _served(spark)
    host, port = server.server_address[0], server.server_address[1]
    try:
        conn = http.client.HTTPConnection(host, port, timeout=30)
        conn.putrequest("POST", "/process")
        conn.putheader("Content-Length", str(server_mod.MAX_BODY_BYTES + 1))
        conn.endheaders()
        resp = conn.getresponse()
        assert resp.status == 413
        assert str(server_mod.MAX_BODY_BYTES) in _json.load(resp)["error"]
        conn.close()
    finally:
        server.shutdown()
        server.server_close()


def test_http_server_500_hides_traceback(spark, monkeypatch, caplog):
    # A handler failure answers 500 with an error id; the traceback goes to
    # the server log under that id, never to the client.
    import json as _json
    import logging
    import urllib.request

    import pytest

    from etl_pipeline2_0_spark import server as server_mod

    def boom(spark, payload):
        raise RuntimeError("handler exploded")

    monkeypatch.setattr(server_mod, "process_payload", boom)
    caplog.set_level(logging.ERROR, logger=server_mod.__name__)
    server, base = _served(spark)
    try:
        req = urllib.request.Request(
            base + "/process", data=b"any payload at all", method="POST"
        )
        with pytest.raises(urllib.error.HTTPError) as err:
            urllib.request.urlopen(req, timeout=30)
        assert err.value.code == 500
        body = _json.load(err.value)
        assert "trace" not in body
        assert body["error"] == "handler exploded"
        assert body["error_id"]
    finally:
        server.shutdown()
        server.server_close()
    (record,) = [r for r in caplog.records if body["error_id"] in r.getMessage()]
    assert record.exc_info is not None
