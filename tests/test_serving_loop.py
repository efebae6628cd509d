"""The selector-loop HTTP worker (server.LoopServer) on the wire: keep-alive
and pipelined framing, non-blocking writes, request limits, error statuses,
and the warehouse's cached shard listing that the ANN route resolves."""

from __future__ import annotations

import http.client
import json
import os
import socket
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from custom_python_vectordb_spark.api import VectorDB
from custom_python_vectordb_spark.server import MAX_BODY_BYTES, serve_background
from custom_python_vectordb_spark.sources import warehouse as warehouse_mod
from custom_python_vectordb_spark.sources.warehouse import Warehouse

DIM = 8
GEOM = {"n_cells": 4, "nprobe": 4, "assign_r": 1}


def _write_shard(cdir, ids, mat, name):
    pq.write_table(
        pa.table({
            "id": pa.array(ids, type=pa.string()),
            "embedding": pa.array([list(map(float, r)) for r in mat],
                                  type=pa.list_(pa.float32())),
        }),
        os.path.join(cdir, name),
    )


@pytest.fixture()
def loop_srv(tmp_path):
    """A spark-less worker over a 2-shard collection written by pyarrow."""
    root = str(tmp_path / "wh")
    cdir = os.path.join(root, "vecs")
    os.makedirs(cdir)
    mat = np.random.default_rng(0).standard_normal((64, DIM)).astype(np.float32)
    ids = [f"v{i}" for i in range(64)]
    _write_shard(cdir, ids[:32], mat[:32], "part-0.parquet")
    _write_shard(cdir, ids[32:], mat[32:], "part-1.parquet")
    db = VectorDB(None, root)
    srv, port = serve_background(db, ann_geometries={(4, 1)})
    yield srv, port, db, mat
    srv.shutdown()
    srv.server_close()


def _query_body(vec) -> bytes:
    return json.dumps({"ann": True, "n_results": 5, **GEOM,
                       "query_embeddings": [[float(x) for x in vec]]}).encode()


def _request(method, path, body=b"", headers=None, version="HTTP/1.1") -> bytes:
    head = f"{method} {path} {version}\r\nHost: 127.0.0.1\r\n"
    for k, v in {"Content-Length": str(len(body)), **(headers or {})}.items():
        head += f"{k}: {v}\r\n"
    return head.encode() + b"\r\n" + body


def _read_reply(f):
    """(status, lower-cased headers, body) of one reply on a socket file."""
    status = int(f.readline().split()[1])
    headers = {}
    while (line := f.readline()) not in (b"\r\n", b"\n", b""):
        k, _, v = line.decode().partition(":")
        headers[k.strip().lower()] = v.strip()
    return status, headers, f.read(int(headers.get("content-length", 0)))


def _connect(port, timeout=30):
    sock = socket.create_connection(("127.0.0.1", port), timeout=timeout)
    return sock, sock.makefile("rb")


def _get(conn: http.client.HTTPConnection, path):
    conn.request("GET", path)
    r = conn.getresponse()
    return r.status, json.loads(r.read())


def test_interleaved_connections_match_in_process(loop_srv):
    """4 keep-alive connections x 50 requests, sent round-robin before any
    reply is read: every reply is the in-process ann_serve result for the
    query that connection sent."""
    _, port, db, mat = loop_srv
    rng = np.random.default_rng(1)
    coll = db.get_collection("vecs")
    conns = [_connect(port) for _ in range(4)]
    try:
        for _ in range(50):
            qs = mat[rng.integers(0, 64, 4)] + 0.1 * rng.standard_normal((4, DIM))
            for (sock, _), q in zip(conns, qs):
                sock.sendall(_request("POST", "/collections/vecs/query", _query_body(q)))
            for (_, f), q in zip(conns, qs):
                status, _, body = _read_reply(f)
                want = coll.ann_serve(
                    query_embeddings=[[float(x) for x in q]], n_results=5, **GEOM)
                assert status == 200 and json.loads(body)["results"] == want
    finally:
        for sock, f in conns:
            f.close()
            sock.close()


def test_pipelined_requests_answered_in_order(loop_srv):
    _, port, _, mat = loop_srv
    sock, f = _connect(port)
    with sock, f:
        sock.sendall(
            _request("GET", "/collections")
            + _request("POST", "/collections/vecs/query", _query_body(mat[3]))
            + _request("GET", "/collections/nope/count")
            + _request("GET", "/health")
        )
        replies = [_read_reply(f) for _ in range(4)]
    assert [s for s, _, _ in replies] == [200, 200, 404, 200]
    assert json.loads(replies[0][2]) == {"collections": ["vecs"]}
    assert json.loads(replies[1][2])["results"][0][0]["id"] == "v3"
    assert json.loads(replies[3][2])["status"] == "ok"


@pytest.mark.parametrize("version,headers", [
    ("HTTP/1.1", {"Connection": "close"}),
    ("HTTP/1.0", {}),
])
def test_close_after_reply(loop_srv, version, headers):
    _, port, _, _ = loop_srv
    sock, f = _connect(port)
    with sock, f:
        sock.sendall(_request("GET", "/health", headers=headers, version=version))
        status, _, _ = _read_reply(f)
        assert status == 200
        assert f.read() == b""  # the server closed the socket


def test_client_that_stops_reading_does_not_delay_others(loop_srv):
    """One connection pipelines large replies and never reads them; the
    loop parks the unsent bytes in that connection's buffer and keeps
    serving /health on another connection."""
    srv, port, _, _ = loop_srv
    stuck = socket.socket()
    stuck.setsockopt(socket.SOL_SOCKET, socket.SO_RCVBUF, 4096)
    stuck.connect(("127.0.0.1", port))
    body = json.dumps({"texts": [f"text {i}" for i in range(2000)]}).encode()
    try:
        for _ in range(8):
            stuck.sendall(_request("POST", "/embeddings/embed", body))
        deadline = time.time() + 30
        while not any(c.outbuf for c in list(srv._conns)) and time.time() < deadline:
            time.sleep(0.05)
        assert any(c.outbuf for c in list(srv._conns)), "no reply was left partly unsent"
        other = http.client.HTTPConnection("127.0.0.1", port, timeout=10)
        t0 = time.time()
        for _ in range(5):
            assert _get(other, "/health")[0] == 200
        assert time.time() - t0 < 5.0
        other.close()
    finally:
        stuck.close()


def test_route_exception_is_500_and_connection_survives(loop_srv):
    srv, port, _, _ = loop_srv

    def broken():
        raise RuntimeError("boom")

    srv.graph.stats = broken
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
    try:
        status, out = _get(conn, "/graph/stats")
        assert status == 500 and out == {"error": "boom", "type": "RuntimeError"}
        assert _get(conn, "/health") == (200, {"status": "ok", "collections": 1})
    finally:
        conn.close()


@pytest.mark.parametrize("method,path,body", [
    ("GET", "/collections/vecs/count", None),
    ("GET", "/collections/vecs/peek?limit=2", None),
    ("POST", "/collections/vecs/upsert", {"ids": ["a"], "documents": ["doc"]}),
])
def test_spark_routes_on_serving_only_worker_are_503(loop_srv, method, path, body):
    _, port, _, _ = loop_srv
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
    try:
        conn.request(method, path, json.dumps(body) if body is not None else None)
        r = conn.getresponse()
        out = json.loads(r.read())
        assert r.status == 503 and "Spark" in out["error"]
        assert _get(conn, "/health")[0] == 200  # the connection stays usable
    finally:
        conn.close()


@pytest.mark.parametrize("headers,status", [
    ({"Content-Length": str(MAX_BODY_BYTES + 1)}, 413),
    ({"Content-Length": "-5"}, 400),
    ({"Content-Length": "12abc"}, 400),
    ({"Transfer-Encoding": "chunked"}, 411),
    ({"X-Pad": "x" * (70 * 1024)}, 431),
])
def test_framing_limits(loop_srv, headers, status):
    """Refused in the framing layer, before any body is buffered: the
    reply is JSON and the connection closes."""
    _, port, _, _ = loop_srv
    sock, f = _connect(port)
    with sock, f:
        head = "POST /collections/vecs/query HTTP/1.1\r\nHost: 127.0.0.1\r\n"
        head += "".join(f"{k}: {v}\r\n" for k, v in headers.items())
        sock.sendall(head.encode() + b"\r\n")
        got, hdrs, body = _read_reply(f)
        assert got == status
        assert hdrs["content-type"] == "application/json" and "error" in json.loads(body)
        assert f.read() == b""


def test_ws_subscribe_frame_sent_with_handshake(loop_srv):
    """Bytes that follow an upgrade request in the same read go to the
    stream thread, not lost with the loop's buffer."""
    from custom_python_vectordb_spark.server import ws_encode_frame, ws_read_frame

    _, port, _, _ = loop_srv
    sock, f = _connect(port)
    with sock, f:
        sock.sendall(
            _request("GET", "/ws", headers={
                "Upgrade": "websocket", "Connection": "Upgrade",
                "Sec-WebSocket-Key": "dGhlIHNhbXBsZSBub25jZQ==",
                "Sec-WebSocket-Version": "13"})
            + ws_encode_frame(json.dumps({"action": "subscribe"}).encode(), mask=True)
        )
        assert f.readline().split()[1] == b"101"
        while f.readline() not in (b"\r\n", b""):
            pass
        op, payload = ws_read_frame(f)
        assert op == 0x1 and json.loads(payload) == {"subscribed": "*", "replay": 0}


def test_slow_pooled_route_does_not_delay_health(spark, tmp_path):
    """A Spark-backed worker runs requests on its pool: a route stuck for a
    second leaves /health answering on another connection."""
    srv, port = serve_background(VectorDB(spark, str(tmp_path / "wh")))
    slow_done = threading.Event()

    def slow_stats():
        time.sleep(1.0)
        return {"nodes": 0, "edges": 0, "hyperedges": 0}

    srv.graph.stats = slow_stats

    def slow_call():
        c = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
        assert _get(c, "/graph/stats")[0] == 200
        c.close()
        slow_done.set()

    t = threading.Thread(target=slow_call)
    try:
        t.start()
        time.sleep(0.2)
        c = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
        assert _get(c, "/health")[0] == 200
        c.close()
        assert not slow_done.is_set(), "/health waited for the slow route"
        t.join(timeout=30)
        assert not t.is_alive() and slow_done.is_set()
    finally:
        srv.shutdown()
        srv.server_close()


# ------------------------------------------------------------ shard listing
def _age(path, seconds=10.0):
    """Set a directory's mtime to `seconds` ago: a listing of it is cached."""
    t = time.time() - seconds
    os.utime(path, (t, t))


@pytest.fixture()
def wh_dir(tmp_path):
    wh = Warehouse(None, str(tmp_path / "wh"))
    cdir = os.path.join(wh.root, "c")
    os.makedirs(cdir)
    mat = np.ones((2, DIM), dtype=np.float32)
    _write_shard(cdir, ["a", "b"], mat, "part-0.parquet")
    return wh, cdir, mat


def test_shard_listing_cached_on_dir_key(wh_dir, monkeypatch):
    wh, cdir, _ = wh_dir
    _age(cdir)
    calls = []
    real = os.scandir
    monkeypatch.setattr(warehouse_mod.os, "scandir", lambda p: calls.append(p) or real(p))
    first = wh.shard_paths("c")
    assert wh.shard_paths("c") == first == [os.path.join(cdir, "part-0.parquet")]
    assert len(calls) == 1


def test_appended_shard_becomes_visible(wh_dir):
    wh, cdir, mat = wh_dir
    _age(cdir)
    assert len(wh.shard_paths("c")) == 1
    _write_shard(cdir, ["c"], mat[:1], "part-1.parquet")
    assert [os.path.basename(p) for p in wh.shard_paths("c")] == [
        "part-0.parquet", "part-1.parquet"]


def test_same_tick_add_is_seen(wh_dir):
    """A shard added within the timestamp tick of the listing leaves the
    directory's mtime unchanged (simulated by restoring it): a listing that
    young is never cached, so the shard is seen."""
    wh, cdir, mat = wh_dir
    st = os.stat(cdir)
    assert len(wh.shard_paths("c")) == 1
    _write_shard(cdir, ["c"], mat[:1], "part-1.parquet")
    os.utime(cdir, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert len(wh.shard_paths("c")) == 2


def test_save_swap_becomes_visible(spark, tmp_path):
    """Warehouse.save replaces the directory; with its mtime forced equal
    to the cached one, the new inode alone must invalidate the listing."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame([("a", [1.0])], "id string, embedding array<float>")
    wh.save("c", df)
    cdir = os.path.join(wh.root, "c")
    _age(cdir)
    before = wh.shard_paths("c")
    mtime = os.stat(cdir).st_mtime_ns
    wh.save("c", df.union(df))
    os.utime(cdir, ns=(mtime, mtime))
    after = wh.shard_paths("c")
    assert after and not set(after) & set(before)
    assert all(os.path.exists(p) for p in after)


def test_dropped_collection_is_404(loop_srv):
    _, port, _, mat = loop_srv
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
    try:
        body = _query_body(mat[0])
        conn.request("POST", "/collections/vecs/query", body)
        r = conn.getresponse()
        assert r.status == 200 and json.loads(r.read())["results"][0]
        conn.request("DELETE", "/collections/vecs")
        r = conn.getresponse()
        assert (r.status, json.loads(r.read())) == (200, {"deleted": True})
        conn.request("POST", "/collections/vecs/query", body)
        r = conn.getresponse()
        assert r.status == 404 and "not found" in json.loads(r.read())["error"]
    finally:
        conn.close()
