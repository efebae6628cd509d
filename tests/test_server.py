"""REST layer over a real socket: create → add → query → count → delete."""

from __future__ import annotations

import json
import os
import urllib.request

import pytest

from custom_python_vectordb_spark.api import VectorDB
from custom_python_vectordb_spark.server import serve_background


def call(port, method, path, body=None):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}",
        data=json.dumps(body).encode() if body is not None else None,
        method=method,
        headers={"Content-Type": "application/json"},
    )
    try:
        with urllib.request.urlopen(req, timeout=120) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


@pytest.fixture()
def served(spark, tmp_path):
    # the test geometries (2-cell toy indexes) are allowlisted explicitly:
    # build-affecting n_cells/assign_r are operator-gated since r13
    srv, port = serve_background(
        VectorDB(spark, str(tmp_path / "wh")),
        ann_geometries={(64, 2), (2, 1), (2, 2)},
    )
    yield port
    srv.shutdown()


def test_rest_roundtrip(served):
    port = served
    assert call(port, "GET", "/collections")[1] == {"collections": []}
    assert call(port, "POST", "/collections", {"name": "kb", "dimensions": 64})[0] == 201
    status, out = call(
        port, "POST", "/collections/kb/add",
        {"ids": ["x", "y"], "documents": ["spark joins data", "brown foxes run"]},
    )
    assert (status, out) == (201, {"added": 2})
    assert call(port, "GET", "/collections/kb/count")[1] == {"count": 2}
    status, out = call(
        port, "POST", "/collections/kb/query",
        {"query_texts": ["spark joins data"], "n_results": 1},
    )
    assert status == 200 and out["results"][0][0]["id"] == "x"
    assert out["results"][0][0]["dist"] == pytest.approx(0.0, abs=1e-6)
    # accelerated tier: "ann": true routes to the IVF replica; on a corpus
    # this small every cell is probed, so the result matches exact
    status, ann = call(
        port, "POST", "/collections/kb/query",
        {"query_texts": ["spark joins data"], "n_results": 1, "ann": True},
    )
    assert status == 200 and ann["results"][0][0]["id"] == "x"
    # ann + where is a contract error (400), not silent wrong data
    status, _ = call(
        port, "POST", "/collections/kb/query",
        {"query_texts": ["x"], "ann": True, "where": {"a": 1}},
    )
    assert status == 400
    # 32x-compression tier: "bq": true + fetch_k (exact rerank) matches
    # the exact path's top hit; bq + where is the same contract error
    status, bq = call(
        port, "POST", "/collections/kb/query",
        {"query_texts": ["spark joins data"], "n_results": 1, "bq": True, "fetch_k": 10},
    )
    assert status == 200 and bq["results"][0][0]["id"] == "x"
    status, _ = call(
        port, "POST", "/collections/kb/query",
        {"query_texts": ["x"], "bq": True, "where": {"a": 1}},
    )
    assert status == 400
    # cell-pruned PQ tier (r11): "ivfpq": true + fetch_k matches the
    # exact top hit (2 cells, both probed); same where contract error
    status, ivfpq = call(
        port, "POST", "/collections/kb/query",
        {"query_texts": ["spark joins data"], "n_results": 1, "ivfpq": True,
         "n_cells": 2, "nprobe": 2, "fetch_k": 10},
    )
    assert status == 200 and ivfpq["results"][0][0]["id"] == "x"
    status, _ = call(
        port, "POST", "/collections/kb/query",
        {"query_texts": ["x"], "ivfpq": True, "where": {"a": 1}},
    )
    assert status == 400
    # r12 (ADVICE r11): build params are contract-validated BEFORE index
    # construction — n_cells=0 / nprobe=0 get an explicit 400, not an
    # opaque numpy error from an empty k-means
    status, err = call(
        port, "POST", "/collections/kb/query",
        {"query_texts": ["x"], "ivfpq": True, "n_cells": 0},
    )
    assert status == 400 and "n_cells" in err["error"]
    status, err = call(
        port, "POST", "/collections/kb/query",
        {"query_texts": ["x"], "ivfpq": True, "n_cells": 2, "nprobe": 0},
    )
    assert status == 400 and "nprobe" in err["error"]
    assert call(port, "DELETE", "/collections/kb")[1] == {"deleted": True}
    assert call(port, "GET", "/collections")[1] == {"collections": []}


def test_rest_errors(served):
    port = served
    assert call(port, "GET", "/collections/nope/count")[0] == 404
    assert call(port, "GET", "/bogus")[0] == 404
    assert call(port, "POST", "/collections", {"dimensions": 4})[0] == 400  # missing name


def test_rest_get_delete_keyword_hybrid(served):
    port = served
    call(port, "POST", "/collections", {"name": "kb", "dimensions": 64})
    call(port, "POST", "/collections/kb/add",
         {"ids": ["x", "y", "z"],
          "documents": ["spark joins data", "brown foxes run", "hash join strategies"]})
    status, doc = call(port, "GET", "/collections/kb/get/y")
    assert status == 200 and doc["_document"] == "brown foxes run"
    assert call(port, "GET", "/collections/kb/get/missing")[0] == 404
    # exact phrase over the positional replica: adjacency required
    status, ph = call(port, "POST", "/collections/kb/phrase",
                      {"query": "hash join", "n_results": 5})
    assert status == 200 and [h["id"] for h in ph["results"]] == ["z"]
    status, ph = call(port, "POST", "/collections/kb/phrase",
                      {"query": "join hash", "n_results": 5})
    assert status == 200 and ph["results"] == []
    status, kw = call(port, "POST", "/collections/kb/keyword", {"query": "hash join", "n_results": 2})
    assert status == 200 and kw["results"][0]["id"] == "z"
    status, hy = call(port, "POST", "/collections/kb/hybrid", {"query": "spark joins data", "n_results": 2})
    assert status == 200 and hy["results"][0]["id"] == "x"
    assert call(port, "POST", "/collections/kb/delete", {"ids": ["x"]})[1] == {"deleted": 1}
    assert call(port, "GET", "/collections/kb/count")[1] == {"count": 2}


def _read_sse_events(resp, n, timeout=60.0):
    """Read n SSE data events from a streaming response."""
    import time as _time

    events, buf = [], b""
    deadline = _time.time() + timeout
    while len(events) < n and _time.time() < deadline:
        chunk = resp.readline()
        if not chunk:
            break
        buf += chunk
        if chunk == b"\n":  # frame terminator
            for line in buf.decode().splitlines():
                if line.startswith("data: "):
                    events.append(json.loads(line[len("data: "):]))
            buf = b""
    return events


def test_sse_subscribe_insert_receive(served):
    """R1/P10 push semantics: subscribe → mutate → the event arrives on the
    open stream (reference realtime.py:449-510)."""
    import threading

    port = served
    call(port, "POST", "/collections", {"name": "kb", "dimensions": 64})

    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/collections/kb/events?types=add,delete"
    )
    resp = urllib.request.urlopen(req, timeout=60)
    assert resp.headers["Content-Type"] == "text/event-stream"

    def mutate():
        call(port, "POST", "/collections/kb/add",
             {"ids": ["a"], "documents": ["pushed doc"]})
        call(port, "POST", "/collections/kb/delete", {"ids": ["a"]})

    t = threading.Thread(target=mutate)
    t.start()
    events = _read_sse_events(resp, 2)
    t.join()
    resp.close()
    assert [e["event_type"] for e in events] == ["add", "delete"]
    assert events[0]["collection"] == "kb" and events[0]["ids"] == ["a"]
    assert events[0]["seq"] < events[1]["seq"]


class _WsClient:
    """Raw-socket RFC 6455 client: handshake, masked sends, frame reads."""

    def __init__(self, port, path):
        import base64
        import os
        import socket

        from custom_python_vectordb_spark.server import ws_accept_key

        self.sock = socket.create_connection(("127.0.0.1", port), timeout=60)
        self.rfile = self.sock.makefile("rb")
        key = base64.b64encode(os.urandom(16)).decode()
        self.sock.sendall(
            (
                f"GET {path} HTTP/1.1\r\nHost: 127.0.0.1:{port}\r\n"
                f"Upgrade: websocket\r\nConnection: Upgrade\r\n"
                f"Sec-WebSocket-Key: {key}\r\nSec-WebSocket-Version: 13\r\n\r\n"
            ).encode()
        )
        status = self.rfile.readline().decode()
        assert " 101 " in status, status
        accept = None
        while True:
            line = self.rfile.readline().decode().strip()
            if not line:
                break
            if line.lower().startswith("sec-websocket-accept:"):
                accept = line.split(":", 1)[1].strip()
        assert accept == ws_accept_key(key)  # server proves it read OUR key

    def send_text(self, obj):
        from custom_python_vectordb_spark.server import ws_encode_frame

        self.sock.sendall(ws_encode_frame(json.dumps(obj).encode(), 0x1, mask=True))

    def send_frame(self, opcode, payload=b""):
        from custom_python_vectordb_spark.server import ws_encode_frame

        self.sock.sendall(ws_encode_frame(payload, opcode, mask=True))

    def read_json(self, timeout=60.0):
        """Next text frame as JSON, transparently skipping server pings."""
        from custom_python_vectordb_spark.server import ws_read_frame

        self.sock.settimeout(timeout)
        while True:
            f = ws_read_frame(self.rfile)
            assert f is not None, "connection closed"
            if f[0] == 0x1:
                return json.loads(f[1])
            if f[0] == 0x8:
                return None

    def read_frame(self):
        from custom_python_vectordb_spark.server import ws_read_frame

        return ws_read_frame(self.rfile)

    def close(self):
        self.sock.close()


def test_ws_subscribe_insert_receive(served):
    """The reference's WebSocket flow (realtime.py:449-510): upgrade,
    subscribe message with type filter, then mutation events arrive as
    text frames."""
    import threading

    port = served
    call(port, "POST", "/collections", {"name": "kb", "dimensions": 64})

    ws = _WsClient(port, "/collections/kb/ws")
    ws.send_text({"action": "subscribe", "types": ["add", "delete"]})
    ack = ws.read_json()
    assert ack == {"subscribed": "kb", "replay": 0}

    def mutate():
        call(port, "POST", "/collections/kb/add", {"ids": ["a"], "documents": ["pushed doc"]})
        call(port, "POST", "/collections/kb/delete", {"ids": ["a"]})

    t = threading.Thread(target=mutate)
    t.start()
    ev1, ev2 = ws.read_json(), ws.read_json()
    t.join()
    assert [ev1["event_type"], ev2["event_type"]] == ["add", "delete"]
    assert ev1["collection"] == "kb" and ev1["ids"] == ["a"]
    assert ev1["seq"] < ev2["seq"]

    # ping → pong with the same payload; close → close reply
    ws.send_frame(0x9, b"hi")
    op, data = ws.read_frame()
    assert (op, data) == (0xA, b"hi")
    ws.send_frame(0x8)
    op, _ = ws.read_frame()
    assert op == 0x8
    ws.close()


def test_ws_replay_and_type_filter(served):
    """Replay semantics over WS: missed events re-delivered on subscribe,
    marked replayed, honoring the type filter."""
    port = served
    call(port, "POST", "/collections", {"name": "kb", "dimensions": 64})
    call(port, "POST", "/collections/kb/add", {"ids": ["a"], "documents": ["one"]})
    call(port, "POST", "/collections/kb/add", {"ids": ["b"], "documents": ["two"]})
    call(port, "POST", "/collections/kb/delete", {"ids": ["a"]})

    ws = _WsClient(port, "/collections/kb/ws")
    ws.send_text({"action": "subscribe", "types": ["add"], "replay": 10})
    ack = ws.read_json()
    assert ack["subscribed"] == "kb" and ack["replay"] == 4  # ring: create + 2 adds + delete
    evs = [ws.read_json(), ws.read_json()]
    assert [e["event_type"] for e in evs] == ["add", "add"]
    assert [e["ids"] for e in evs] == [["a"], ["b"]]
    assert all(e["replayed"] for e in evs)
    ws.close()


def test_sse_replay_and_type_filter(served):
    """R4 replay: events published BEFORE subscribing are delivered from the
    ring buffer, marked replayed, honoring the type filter."""
    port = served
    call(port, "POST", "/collections", {"name": "kb", "dimensions": 64})
    call(port, "POST", "/collections/kb/add", {"ids": ["a"], "documents": ["one"]})
    call(port, "POST", "/collections/kb/add", {"ids": ["b"], "documents": ["two"]})
    call(port, "POST", "/collections/kb/delete", {"ids": ["a"]})

    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/collections/kb/events?types=add&replay=10"
    )
    resp = urllib.request.urlopen(req, timeout=60)
    events = _read_sse_events(resp, 2)
    resp.close()
    assert [e["event_type"] for e in events] == ["add", "add"]
    assert [e["ids"] for e in events] == [["a"], ["b"]]
    assert all(e.get("replayed") for e in events)


def test_health_and_embed(served):
    port = served
    status, out = call(port, "GET", "/health")
    assert status == 200 and out["status"] == "ok"
    assert call(port, "GET", "/embeddings/info")[1]["provider"] == "mock"
    status, out = call(port, "POST", "/embeddings/embed", {"texts": ["hello world", "hello world", "other"]})
    assert status == 200 and len(out["embeddings"]) == 3
    assert out["embeddings"][0] == out["embeddings"][1]  # deterministic
    assert out["embeddings"][0] != out["embeddings"][2]


def test_graph_api_roundtrip(served):
    port = served
    assert call(port, "GET", "/graph/stats")[1] == {"nodes": 0, "edges": 0, "hyperedges": 0}
    for nid, labels, props in [
        ("a", ["Person"], {"age": 30}),
        ("b", ["Person"], {"age": 40}),
        ("c", ["City"], {}),
        ("d", ["City"], {}),
    ]:
        assert call(port, "POST", "/graph/nodes", {"id": nid, "labels": labels, "props": props})[0] == 201
    for src, dst, t in [("a", "b", "KNOWS"), ("b", "c", "LIVES_IN"), ("c", "d", "NEAR")]:
        assert call(port, "POST", "/graph/edges", {"src": src, "dst": dst, "type": t})[0] == 201
    # missing endpoint rejected
    assert call(port, "POST", "/graph/edges", {"src": "a", "dst": "zzz"})[0] == 404
    assert call(port, "GET", "/graph/stats")[1] == {"nodes": 4, "edges": 3, "hyperedges": 0}

    assert call(port, "GET", "/graph/nodes/a")[1]["props"] == {"age": 30}
    assert call(port, "GET", "/graph/nodes/zzz")[0] == 404

    # spark-operator-backed reads
    assert call(port, "GET", "/graph/neighbors/b")[1]["neighbors"] == ["a", "c"]
    status, out = call(port, "POST", "/graph/traverse", {"start": "a", "max_hops": 3})
    assert status == 200 and ["a", "b", "c", "d"] in out["paths"]
    status, out = call(port, "POST", "/graph/shortest-path", {"src": "a", "dst": "d"})
    assert out["path"] == ["a", "b", "c", "d"]
    status, out = call(port, "POST", "/graph/find", {"labels": ["Person"], "props": {"age": 30}})
    assert out["ids"] == ["a"]
    status, out = call(port, "POST", "/graph/find", {"labels": ["City"]})
    assert out["ids"] == ["c", "d"]

    # cascade delete: b's incident edges disappear with it
    assert call(port, "DELETE", "/graph/nodes/b")[1] == {"deleted": True}
    stats = call(port, "GET", "/graph/stats")[1]
    assert stats == {"nodes": 3, "edges": 1, "hyperedges": 0}
    assert call(port, "POST", "/graph/shortest-path", {"src": "a", "dst": "d"})[1]["path"] is None


def test_graph_edges_hyperedges_and_cypher_over_http(served):
    """The remaining server_full.py graph surface: edge ids/CRUD/find,
    hyperedge create/get, and Cypher execution over HTTP (the /graph/query
    route compiles against the expanded property-column view)."""
    port = served
    for nid, labels, props in [
        ("a", ["Person"], {"age": 30, "name": "ann"}),
        ("b", ["Person"], {"age": 40, "name": "bo"}),
        ("c", ["City"], {"name": "rome"}),
    ]:
        assert call(port, "POST", "/graph/nodes", {"id": nid, "labels": labels, "props": props})[0] == 201
    st, out = call(port, "POST", "/graph/edges", {"src": "a", "dst": "b", "type": "KNOWS", "props": {"since": 2020}})
    assert st == 201
    eid = out["created"]
    st, out = call(port, "POST", "/graph/edges", {"src": "b", "dst": "c", "type": "LIVES_IN", "id": "e_custom"})
    assert (st, out["created"]) == (201, "e_custom")

    st, e = call(port, "GET", f"/graph/edges/{eid}")
    assert st == 200 and (e["src"], e["dst"], e["type"], e["props"]) == ("a", "b", "KNOWS", {"since": 2020})
    assert call(port, "GET", "/graph/edges/zzz")[0] == 404
    st, out = call(port, "GET", "/graph/edges?type=KNOWS")
    assert st == 200 and [x["id"] for x in out["edges"]] == [eid]
    assert len(call(port, "GET", "/graph/edges")[1]["edges"]) == 2

    # hyperedges: create validates members, get round-trips
    assert call(port, "POST", "/graph/hyperedges", {"nodes": ["a", "zzz"]})[0] == 404
    st, out = call(port, "POST", "/graph/hyperedges", {"nodes": ["a", "b", "c"], "type": "MEETING"})
    assert st == 201
    hid = out["created"]
    st, h = call(port, "GET", f"/graph/hyperedges/{hid}")
    assert st == 200 and h["nodes"] == ["a", "b", "c"] and h["type"] == "MEETING"
    assert call(port, "GET", "/graph/stats")[1]["hyperedges"] == 1

    # Cypher over HTTP: label + prop pattern, chain, WHERE, count
    st, out = call(port, "POST", "/graph/query", {"query": "MATCH (n:Person {age: 30}) RETURN n"})
    assert st == 200 and [r["n_id"] for r in out["rows"]] == ["a"]
    st, out = call(port, "POST", "/graph/query",
                   {"query": "MATCH (a:Person)-[:KNOWS]->(b:Person) RETURN a.name, b.name"})
    assert st == 200 and out["rows"] == [{"a_name": "ann", "b_name": "bo"}]
    st, out = call(port, "POST", "/graph/query",
                   {"query": "MATCH (n:Person) WHERE n.age > 35 RETURN n ORDER BY n LIMIT 5"})
    assert st == 200 and [r["n_id"] for r in out["rows"]] == ["b"]
    st, out = call(port, "POST", "/graph/query", {"query": "MATCH (n:Person) RETURN count(*)"})
    assert st == 200 and out["rows"] == [{"count_all": 2}]

    # edge delete
    assert call(port, "DELETE", f"/graph/edges/{eid}")[1] == {"deleted": True}
    assert len(call(port, "GET", "/graph/edges")[1]["edges"]) == 1


def test_graph_query_binds_literals_and_answers_400_for_bad_queries(served):
    """POST /graph/query compiles user text: a quote in a property value
    is data, never SQL; a property the view lacks or var-length bounds
    outside 1 <= min <= max answer 400, not 500."""
    port = served
    tricky = "o'brien \\ -- x"  # a quote, a backslash and a SQL comment
    for nid, name in [("a", "ann"), ("t", tricky), ("o", "o")]:
        assert call(port, "POST", "/graph/nodes", {"id": nid, "labels": ["P"], "props": {"name": name}})[0] == 201
    assert call(port, "POST", "/graph/edges", {"src": "a", "dst": "t", "type": "K"})[0] == 201

    st, out = call(port, "POST", "/graph/query",
                   {"query": """MATCH (n:P {name: "x' OR '1'='1"}) RETURN n"""})
    assert (st, out["rows"]) == (200, [])
    st, out = call(port, "POST", "/graph/query",
                   {"query": 'MATCH (n:P {name: "%s"}) RETURN n, n.name' % tricky})
    assert (st, out["rows"]) == (200, [{"n_id": "t", "n_name": tricky}])
    st, out = call(port, "POST", "/graph/query",
                   {"query": 'MATCH (a)-[:K]->(n) WHERE n.name = "%s" RETURN a' % tricky})
    assert (st, out["rows"]) == (200, [{"a_id": "a"}])

    for bad in ("MATCH (n:P) WHERE n.height > 3 RETURN n",
                "MATCH (n:P) RETURN n.height",
                "MATCH (n:P) WHERE n.name = '%s' RETURN n" % tricky,  # unbalanced quotes
                "MATCH (a)-[*0..2]->(b) RETURN a, b",
                "MATCH (a)-[*3..2]->(b) RETURN a, b"):
        st, out = call(port, "POST", "/graph/query", {"query": bad})
        assert st == 400 and out["error"], bad


def test_collection_info_route(served):
    port = served
    call(port, "POST", "/collections", {"name": "kb", "dimensions": 32})
    call(port, "POST", "/collections/kb/add", {"ids": ["x"], "documents": ["hello world"]})
    st, info = call(port, "GET", "/collections/kb")
    assert st == 200 and info == {"name": "kb", "dimensions": 32, "count": 1}
    assert call(port, "GET", "/collections/nope")[0] == 404


def test_sse_metadata_filter_and_global_stream(served):
    """Reference Subscription.matches parity on the serving tier
    (realtime.py:99-118): metadata equality filter (batch events match if
    ANY affected row matches) and the all-collections wildcard stream."""
    import threading
    from urllib.parse import quote

    port = served
    call(port, "POST", "/collections", {"name": "kb1", "dimensions": 64})
    call(port, "POST", "/collections", {"name": "kb2", "dimensions": 64})

    meta = quote(json.dumps({"topic": "spark"}))
    resp = urllib.request.urlopen(
        urllib.request.Request(
            f"http://127.0.0.1:{port}/events?types=add&meta={meta}"
        ),
        timeout=60,
    )

    def mutate():
        call(port, "POST", "/collections/kb1/add",
             {"ids": ["a"], "documents": ["d"], "metadatas": [{"topic": "nature"}]})
        call(port, "POST", "/collections/kb2/add",
             {"ids": ["b"], "documents": ["d"], "metadatas": [{"topic": "spark"}]})

    t = threading.Thread(target=mutate)
    t.start()
    events = _read_sse_events(resp, 1)
    t.join()
    resp.close()
    # only the matching-metadata event arrives, from the OTHER collection
    # (wildcard stream sees every collection)
    assert [(e["collection"], e["ids"]) for e in events] == [("kb2", ["b"])]


def test_ws_update_subscription_mid_stream(served):
    """The reference's update_subscription (realtime.py:171-183): a later
    subscribe frame replaces the filters on the SAME connection."""
    port = served
    call(port, "POST", "/collections", {"name": "kb", "dimensions": 64})
    ws = _WsClient(port, "/collections/kb/ws")
    ws.send_text({"action": "subscribe", "types": ["delete"]})
    ack = ws.read_json()
    assert ack["subscribed"] == "kb"

    call(port, "POST", "/collections/kb/add", {"ids": ["a"], "documents": ["x"]})
    # re-subscribe to add events; ack arrives (the add above was filtered)
    ws.send_text({"action": "subscribe", "types": ["add"]})
    ack2 = ws.read_json()
    assert ack2["subscribed"] == "kb"
    call(port, "POST", "/collections/kb/add", {"ids": ["b"], "documents": ["y"]})
    ev = ws.read_json()
    assert ev["event_type"] == "add" and ev["ids"] == ["b"]
    ws.close()


def test_ann_route_geometry_params_and_validation(served):
    """r12: the ann route accepts per-request n_cells/nprobe/assign_r
    (contract-validated like the ivfpq route) and serves through the
    stat-checked handle LRU — results must still match the exact path on
    a fully-probed corpus, and bad geometry is a 400, never an opaque
    numpy error."""
    port = served
    call(port, "POST", "/collections", {"name": "kb", "dimensions": 64})
    call(
        port, "POST", "/collections/kb/add",
        {"ids": ["x", "y", "z"],
         "documents": ["spark joins data", "brown foxes run", "quartz clocks tick"]},
    )
    status, ann = call(
        port, "POST", "/collections/kb/query",
        {"query_texts": ["spark joins data"], "n_results": 1, "ann": True,
         "n_cells": 2, "nprobe": 2, "assign_r": 1},
    )
    assert status == 200 and ann["results"][0][0]["id"] == "x"
    for bad in (
        {"n_cells": 0},
        {"n_cells": 70000},
        {"nprobe": 0},
        {"n_cells": 2, "nprobe": 3},
        {"assign_r": 0},
        {"assign_r": 9},
        # valid-looking but NOT in the server's allowlist: geometry keys a
        # k-means retrain, so it is operator-gated, not client-chosen (r13)
        {"n_cells": 128},
    ):
        status, out = call(
            port, "POST", "/collections/kb/query",
            {"query_texts": ["q"], "ann": True, **bad},
        )
        assert status == 400 and "error" in out, bad


def test_serving_worker_pool_reuse_port(spark, tmp_path):
    """r12 scale-out shape: N --serving-only worker processes sharing one
    SO_REUSEPORT port (server.main --workers). Each worker answers the
    IVF route with no Spark session; kill of the parent reaps the group."""
    import os
    import signal
    import subprocess
    import socket
    import sys
    import time
    import urllib.request

    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "wh"
    cdir = root / "vecs"
    cdir.mkdir(parents=True)
    rows = [(str(i), [float(i), 1.0]) for i in range(64)]
    pq.write_table(
        pa.table({"id": pa.array([r[0] for r in rows]),
                  "embedding": pa.array([r[1] for r in rows])}),
        str(cdir / "part-0.parquet"),
    )
    s = socket.socket()
    s.bind(("127.0.0.1", 0))
    port = s.getsockname()[1]
    s.close()
    pool = subprocess.Popen(
        [sys.executable, "-m", "custom_python_vectordb_spark.server",
         str(root), str(port), "--workers", "2", "--serving-only",
         "--ann-geometries", "2:1"],
        cwd="/root/repo", stdout=subprocess.DEVNULL,
        start_new_session=True,
    )
    try:
        deadline = time.time() + 30
        up = False
        while time.time() < deadline:
            try:
                urllib.request.urlopen(f"http://127.0.0.1:{port}/health", timeout=2)
                up = True
                break
            except Exception:
                time.sleep(0.2)
        assert up, "worker pool never became healthy"
        status, out = call(
            port, "POST", "/collections/vecs/query",
            {"query_embeddings": [[3.0, 1.0]], "n_results": 1, "ann": True,
             "n_cells": 2, "nprobe": 2, "assign_r": 1},
        )
        assert status == 200 and out["results"][0][0]["id"] == "3"
    finally:
        os.killpg(pool.pid, signal.SIGTERM)
        pool.wait(timeout=10)
    # the group is gone: the port refuses new connections
    time.sleep(0.5)
    try:
        urllib.request.urlopen(f"http://127.0.0.1:{port}/health", timeout=2)
        assert False, "a worker survived group SIGTERM"
    except Exception:
        pass


def test_ann_route_warm_start_index_cache(spark, tmp_path):
    """r13 warm-start tier end-to-end over REST: with
    VectorDB(index_cache_dir=...), the first ann query persists the built
    IVF index; a 'rebooted worker' (fresh server process state simulated
    by emptying the in-process handle caches) serves the SAME results
    from the snapshot without re-reading parquet."""
    from custom_python_vectordb_spark.operators import shard_tier

    idx = str(tmp_path / "idxcache")
    srv, port = serve_background(
        VectorDB(spark, str(tmp_path / "wh"), index_cache_dir=idx),
        ann_geometries={(2, 1)},
    )
    try:
        call(port, "POST", "/collections", {"name": "kb", "dimensions": 64})
        call(
            port, "POST", "/collections/kb/add",
            {"ids": ["x", "y", "z"],
             "documents": ["spark joins data", "brown foxes run",
                           "quartz clocks tick"]},
        )
        body = {"query_texts": ["spark joins data"], "n_results": 2,
                "ann": True, "n_cells": 2, "nprobe": 2, "assign_r": 1}
        status, first = call(port, "POST", "/collections/kb/query", body)
        assert status == 200 and first["results"][0][0]["id"] == "x"
        snaps = os.listdir(idx)
        assert len(snaps) == 1 and os.path.exists(
            os.path.join(idx, snaps[0], "ivf_index.npz"))

        # worker reboot: caches empty, parquet reads banned — the snapshot
        # must carry the whole serve
        shard_tier.clear()
        real_loader = shard_tier.load_vectors

        def _no_parquet(*a, **k):
            raise AssertionError("warm start must not read parquet")

        shard_tier.load_vectors = _no_parquet
        try:
            status, again = call(port, "POST", "/collections/kb/query", body)
        finally:
            shard_tier.load_vectors = real_loader
        assert status == 200 and again["results"] == first["results"]
    finally:
        srv.shutdown()
