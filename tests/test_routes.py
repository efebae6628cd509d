"""The REST worker's route table (server._routes) on the wire: every route
is reachable, every Spark route answers 503 on a worker without Spark,
path segments are percent-decoded, a request body must be a JSON object,
and a missing required body field answers 400 naming the field."""

from __future__ import annotations

import http.client
import json
import os
from urllib.parse import quote

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from custom_python_vectordb_spark.api import VectorDB
from custom_python_vectordb_spark.client import Client
from custom_python_vectordb_spark.server import serve_background

# ids that are not plain path segments
ODD_IDS = ["a b", "a/b", "a?b", "50%"]

# the required body fields of each route that has any, in the order the
# route reads them, with a value of the right shape
REQUIRED = {
    "POST /embeddings/embed": {"texts": ["a"]},
    "POST /snapshots/{name}/query": {"query_embeddings": [[0.0] * 8]},
    "POST /collections": {"name": "made"},
    "POST /collections/{name}/add": {"ids": ["x"], "documents": ["d"]},
    "POST /collections/{name}/upsert": {"ids": ["x"], "documents": ["d"]},
    "POST /collections/{name}/update": {"ids": ["x"], "metadatas": [{}]},
    "POST /collections/{name}/delete_by_filter": {"where": {"id": "x"}},
    "POST /collections/{name}/delete": {"ids": ["x"]},
    "POST /collections/{name}/keyword": {"query": "q"},
    "POST /collections/{name}/phrase": {"query": "q"},
    "POST /collections/{name}/hybrid": {"query": "q"},
    "POST /graph/nodes": {"id": "n"},
    "POST /graph/edges": {"src": "n", "dst": "n"},
    "POST /graph/hyperedges": {"nodes": ["n"]},
    "POST /graph/query": {"query": "MATCH (n) RETURN n"},
    "POST /graph/traverse": {"start": "n"},
    "POST /graph/shortest-path": {"src": "n", "dst": "n"},
}


def _path(key: str) -> tuple[str, str]:
    method, pattern = key.split()
    return method, pattern.replace("{name}", "vecs").replace("{id}", "v0")


def _missing(key: str, field: str) -> str:
    return f"missing field {field!r} in {' '.join(_path(key))} body"


@pytest.fixture()
def serving_only(tmp_path):
    """A spark-less worker over one collection "vecs" written by pyarrow."""
    cdir = tmp_path / "wh" / "vecs"
    cdir.mkdir(parents=True)
    mat = np.random.default_rng(0).standard_normal((16, 8)).astype(np.float32)
    pq.write_table(
        pa.table({
            "id": pa.array([f"v{i}" for i in range(16)], type=pa.string()),
            "embedding": pa.array(mat.tolist(), type=pa.list_(pa.float32())),
        }),
        str(cdir / "part-0.parquet"),
    )
    srv, port = serve_background(VectorDB(None, str(tmp_path / "wh")), ann_geometries={(4, 1)},
                                 snapshots={"vecs": str(tmp_path / "snap")})
    yield srv, port, tmp_path
    srv.shutdown()
    srv.server_close()


def _call(port, method, path, body: bytes | None = None, stream: bool = False):
    """(status, JSON body); for a stream, (status, Content-Type), due before any event."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=5 if stream else 60)
    try:
        conn.request(method, path, body)
        r = conn.getresponse()
        return r.status, (r.getheader("Content-Type") if stream else json.loads(r.read()))
    finally:
        conn.close()


def test_every_route_is_reachable_and_spark_routes_are_503(serving_only):
    srv, port, _ = serving_only
    table = srv.routes.routes
    assert len(table) == 46
    # the destructive routes go last: they drop the collection the others use
    last = ("POST /reset", "DELETE /collections/{name}")
    for key in sorted(table, key=lambda k: k in last):
        route = table[key]
        method, path = _path(key)
        status, out = _call(port, method, path, b"{}" if method != "GET" else None, route.stream)
        if route.stream:
            # SSE opens; a WS request without upgrade headers is refused
            assert (status, out) == ((400, "application/json") if path.endswith("ws")
                                     else (200, "text/event-stream")), key
            continue
        assert status != 500 and not (status == 404 and out["error"].startswith("no route")), key
        if route.spark:
            assert status == 503 and "Spark" in out["error"], (key, status, out)
        elif key in REQUIRED:  # the first field the route reads is named
            assert (status, out) == (400, {"error": _missing(key, next(iter(REQUIRED[key])))})
        else:
            assert not out.get("error", "").startswith("missing field"), (key, out)
    assert _call(port, "GET", "/collections/vecs/count/extra")[1]["error"].startswith("no route")


def test_every_required_field_is_named_when_missing(spark, tmp_path):
    """Each required field, left out of an otherwise complete body, is a 400
    that names it and the request, before the route does any work."""
    db = VectorDB(spark, str(tmp_path / "wh"))
    db.create_collection("vecs", 8)
    srv, port = serve_background(db, snapshots={"vecs": str(tmp_path / "snap")})
    try:
        assert set(REQUIRED) <= set(srv.routes.routes)
        for key, fields in REQUIRED.items():
            method, path = _path(key)
            for field in fields:
                body = json.dumps({k: v for k, v in fields.items() if k != field}).encode()
                status, out = _call(port, method, path, body)
                assert (status, out) == (400, {"error": _missing(key, field)}), key
        assert srv.graph.stats() == {"nodes": 0, "edges": 0, "hyperedges": 0}
        assert db.get_collection("vecs").count() == 0
    finally:
        srv.shutdown()
        srv.server_close()


def test_a_key_error_inside_a_route_is_not_a_missing_field(serving_only):
    srv, port, _ = serving_only

    def add_node(*a):
        raise KeyError("deep")

    srv.graph.add_node = add_node
    assert _call(port, "POST", "/graph/nodes", b'{"id": "n"}') == (400, {"error": "'deep'"})


@pytest.mark.parametrize("method,path,body", [
    ("POST", "/embeddings/embed", b"[1]"),
    ("POST", "/embeddings/embed", b'"x"'),
    ("POST", "/graph/nodes", b"[1]"),
    ("POST", "/graph/nodes", b"{not json"),
    ("POST", "/nope", b"[1]"),
])
def test_a_body_that_is_not_a_json_object_is_400(serving_only, method, path, body):
    _, port, _ = serving_only
    status, out = _call(port, method, path, body)
    assert status == 400 and out["error"]


def test_a_payload_json_cannot_encode_is_500_and_the_connection_lives(serving_only):
    srv, port, _ = serving_only
    srv.graph.stats = lambda: {"x": object()}
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
    for path, want in (("/graph/stats", 500), ("/health", 200)):  # on one connection
        conn.request("GET", path)
        r = conn.getresponse()
        assert (r.status, "error" in json.loads(r.read())) == (want, want == 500)
    conn.close()


@pytest.mark.parametrize("method,path", [
    ("DELETE", "/collections/.."),
    ("DELETE", "/collections/..%2F.."),
    ("GET", "/collections/%2Ftmp/count"),
    ("GET", "/collections/vecs%2F..%2Fvecs"),
])
def test_a_collection_name_is_one_path_segment(serving_only, method, path):
    """Decoded names are joined onto the store's root: one that climbs out
    of it, or spans directories, is refused before the store sees it."""
    _, port, tmp_path = serving_only
    status, out = _call(port, method, path)
    assert status == 400 and "invalid collection name" in out["error"]
    assert (tmp_path / "wh" / "vecs" / "part-0.parquet").exists()


def test_graph_node_ids_are_percent_decoded(serving_only):
    _, port, _ = serving_only
    for node_id in ODD_IDS:
        body = json.dumps({"id": node_id, "labels": ["P"]}).encode()
        assert _call(port, "POST", "/graph/nodes", body)[0] == 201
        status, node = _call(port, "GET", f"/graph/nodes/{quote(node_id, safe='')}")
        assert (status, node["id"]) == (200, node_id)


def test_odd_ids_and_names_round_trip_through_the_client(spark, tmp_path):
    srv, port = serve_background(VectorDB(spark, str(tmp_path / "wh")))
    try:
        client = Client(f"http://127.0.0.1:{port}")
        coll = client.create_collection("my kb", dimensions=8)
        assert os.path.isdir(tmp_path / "wh" / "my kb")
        coll.add(ids=ODD_IDS, documents=[f"doc {i}" for i in ODD_IDS])
        assert coll.count() == len(ODD_IDS)
        for doc_id in ODD_IDS:
            assert coll.get(doc_id)["_document"] == f"doc {doc_id}"
            status, doc = _call(port, "GET", f"/collections/my%20kb/get/{quote(doc_id, safe='')}")
            assert (status, doc["id"]) == (200, doc_id)
        assert coll.get("a") is None
        assert client.delete_collection("my kb") is True
    finally:
        srv.shutdown()
        srv.server_close()
