"""The REST worker's JSON wire format: one codec (server.loads/dumps) for
every request body, reply and push frame. Replies are compact raw UTF-8
with NaN/±Inf as null, NumPy values and int keys serialize; request bodies
are strict RFC 8259; error bodies echo X-Request-Id; and server.py uses
the stdlib json module only for the storage text Spark reads."""

from __future__ import annotations

import ast
import http.client
import inspect
import json
import socket
from urllib.parse import quote

import numpy as np
import pytest

from custom_python_vectordb_spark import server
from custom_python_vectordb_spark.api import VectorDB
from custom_python_vectordb_spark.server import (
    dumps,
    loads,
    serve_background,
    ws_encode_frame,
    ws_read_frame,
)

# one payload with every value kind the stdlib and orjson write differently
ODD = {
    "nan": float("nan"), "inf": float("inf"), 7: "int key",
    "f64": np.float64(0.5), "f32": np.float32(0.25), "i64": np.int64(3),
    "vec": np.array([1.5, np.nan], dtype=np.float32), "text": "Zürich 東京 ✓",
}
ODD_BYTES = ('{"nan":null,"inf":null,"7":"int key","f64":0.5,"f32":0.25,"i64":3,'
             '"vec":[1.5,null],"text":"Zürich 東京 ✓"}').encode()


@pytest.fixture()
def srv(tmp_path):
    """A spark-less worker over an empty warehouse."""
    srv, port = serve_background(VectorDB(None, str(tmp_path / "wh")))
    yield srv, port
    srv.shutdown()
    srv.server_close()


def _raw(port, method, path, body: bytes | None = None, headers=None):
    """(status, Content-Length header, raw reply body)."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
    try:
        conn.request(method, path, body, headers or {})
        r = conn.getresponse()
        return r.status, int(r.getheader("Content-Length")), r.read()
    finally:
        conn.close()


def test_the_codec_writes_compact_utf8_with_nan_as_null():
    assert dumps(ODD) == ODD_BYTES
    assert loads(ODD_BYTES)["text"] == "Zürich 東京 ✓"
    assert loads('{"a": [1, 2.5]}') == loads(b'{"a":[1,2.5]}') == {"a": [1, 2.5]}


def test_a_reply_is_the_codec_bytes(srv):
    """NaN -> null, int keys -> strings, NumPy values serialize, non-ASCII
    stays raw UTF-8, and Content-Length counts the encoded bytes."""
    s, port = srv
    s.graph.stats = lambda: ODD
    status, length, body = _raw(port, "GET", "/graph/stats")
    assert (status, body) == (200, ODD_BYTES)
    assert length == len(body) > len(ODD_BYTES.decode())


def test_non_ascii_round_trips(srv):
    _, port = srv
    node = {"id": "Zürich 東京", "labels": ["Städt"], "props": {"name": "✓ ñ", "n": 2 ** 70}}
    # the codec refuses to write an int beyond 64 bits; the stdlib does
    status, _, _ = _raw(port, "POST", "/graph/nodes", json.dumps(node, ensure_ascii=False).encode())
    assert status == 201
    status, _, body = _raw(port, "GET", f"/graph/nodes/{quote(node['id'], safe='')}")
    assert status == 200 and "東京".encode() in body
    # an integer beyond 64 bits decodes as a float
    assert loads(body) == {**node, "props": {"name": "✓ ñ", "n": float(2 ** 70)}}


@pytest.mark.parametrize("body", [
    b'{"id": "a", "props": {"x": NaN}}',
    b'{"id": "a", "props": {"x": -Infinity}}',
    b'{"id": "a", "props": {"x": 1e400}}',
    '{"id": "a"}'.encode("utf-16"),
])
def test_a_body_that_is_not_strict_json_is_400(srv, body):
    s, port = srv
    status, _, out = _raw(port, "POST", "/graph/nodes", body)
    assert status == 400 and loads(out)["error"]
    assert s.graph.stats()["nodes"] == 0


def test_sse_and_ws_frames_are_the_codec_bytes(srv):
    s, port = srv
    ev = s.bus.publish({"collection": "c", "event_type": "add", "x": float("nan"), "t": "✓"})
    want = dumps({**ev, "replayed": True})
    assert b'"x":null' in want and "✓".encode() in want

    sock = socket.create_connection(("127.0.0.1", port), timeout=30)
    with sock, sock.makefile("rb") as f:
        sock.sendall(b"GET /events?replay=1 HTTP/1.1\r\nHost: x\r\n\r\n")
        while f.readline() not in (b"\r\n", b""):
            pass
        assert f.readline() == b"id: %d\n" % ev["seq"]
        assert f.readline() == b"data: " + want + b"\n"

    sock = socket.create_connection(("127.0.0.1", port), timeout=30)
    with sock, sock.makefile("rb") as f:
        sock.sendall(
            b"GET /ws HTTP/1.1\r\nHost: x\r\nUpgrade: websocket\r\nConnection: Upgrade\r\n"
            b"Sec-WebSocket-Key: dGhlIHNhbXBsZSBub25jZQ==\r\nSec-WebSocket-Version: 13\r\n\r\n"
            + ws_encode_frame(b'{"action":"subscribe","replay":1}', mask=True))
        while f.readline() not in (b"\r\n", b""):
            pass
        assert ws_read_frame(f) == (0x1, b'{"subscribed":"*","replay":1}')
        assert ws_read_frame(f) == (0x1, want)


def test_error_bodies_echo_the_request_id(srv):
    s, port = srv

    def boom():
        raise RuntimeError("boom")

    s.graph.stats = boom
    cases = [
        ("POST", "/graph/nodes", b"{}", 400),  # missing field
        ("POST", "/graph/nodes", b"[1]", 400),  # not an object
        ("GET", "/graph/nodes/nope", None, 404),
        ("GET", "/nope", None, 404),
        ("GET", "/graph/stats", None, 500),
        ("GET", "/collections/vecs/count", None, 404),  # no such collection
        ("POST", "/graph/find", b"{}", 503),  # a Spark route on a spark-less worker
    ]
    for i, (method, path, body, want) in enumerate(cases):
        rid = f"req-{i}"
        status, _, out = _raw(port, method, path, body, {"X-Request-Id": rid})
        assert status == want and loads(out)["request_id"] == rid, (method, path, out)
        status, _, out = _raw(port, method, path, body)
        assert status == want and "request_id" not in loads(out), (method, path)
    # a success is not an error body: it is left as the route wrote it
    status, _, out = _raw(port, "GET", "/health", None, {"X-Request-Id": "ok-1"})
    assert status == 200 and "request_id" not in loads(out)


def _json_module_calls(tree) -> list[tuple[str, str]]:
    """(enclosing function, attribute) of every ``json.<attr>(...)`` call."""
    out = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            name = child.name if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) else fn
            if (isinstance(child, ast.Call) and isinstance(child.func, ast.Attribute)
                    and isinstance(child.func.value, ast.Name) and child.func.value.id == "json"):
                out.append((fn, child.func.attr))
            visit(child, name)

    visit(tree, "<module>")
    return out


def test_the_stdlib_json_module_is_used_only_for_storage_text():
    """Every wire encode and decode goes through server.loads/dumps; the
    stdlib json module writes only the GraphStore props text and the
    get_json_object comparand of /graph/find, both read by Spark."""
    tree = ast.parse(inspect.getsource(server))
    assert sorted(_json_module_calls(tree)) == [("dfs", "dumps"), ("find", "dumps")]
    assert not any(isinstance(n, ast.ImportFrom) and n.module == "json" for n in ast.walk(tree))
