"""Minimal REST + SSE serving layer over VectorDB (SURVEY.md §2.1 S10, R1-R4).

The reference ships FastAPI servers (``server.py:182-438``,
``server_full.py:201-722``) that delegate to the engine; this is the same
delegation surface on the stdlib HTTP server (FastAPI isn't in this
runtime), so a reference user's REST workflow ports 1:1:

    GET    /collections                     list
    POST   /collections                     {"name", "dimensions"}
    DELETE /collections/<name>
    GET    /collections/<name>/count
    POST   /collections/<name>/add          {"ids", "documents"[, "metadatas"]}
    POST   /collections/<name>/upsert       same body; replaces same-id rows
    POST   /collections/<name>/update       {"ids", "metadatas"} metadata merge
    POST   /collections/<name>/delete_by_filter  {"where": {...}}
    GET    /collections/<name>/peek?limit=N
    POST   /collections/<name>/query        {"query_texts"|"query_embeddings",
                                             "n_results", "where"}
    GET    /collections/<name>/events       Server-Sent-Events push stream
           ?types=add,delete&replay=N       (live mutations + ring replay)
    GET    /health · /graph/stats · /embeddings/info
    POST   /graph/nodes · /graph/edges · /graph/hyperedges
                                            node/edge/hyperedge create (+
           GET/DELETE /graph/nodes/<id> · /graph/edges/<id>, cascade node
           delete, GET /graph/edges?type=&limit=, GET /graph/hyperedges/<id>)
    GET    /graph/neighbors/<id>            both-direction neighbor ids
    POST   /graph/traverse · /graph/shortest-path · /graph/find
                                            run the batch Spark graph
                                            operators over the store
    POST   /graph/query                     {"query": "MATCH …"} — the Cypher
                                            subset compiled over the store's
                                            expanded property-column view
    POST   /embeddings/embed                {"texts": [...]} → mock vectors
    GET    /collections/<name>/ws           WebSocket push stream (RFC 6455):
                                            client sends {"action":"subscribe",
                                            "types":[...],"replay":N}, server
                                            acks then pushes JSON text frames

Both streams carry the reference's realtime subscription semantics
(``realtime.py:449-510``: subscribe with event-type filter, receive pushed
mutation events, replay up to N missed events on connect). The WS endpoint
keeps the reference's client→server subscribe message; SSE moves it into
the query string. The WS framing (handshake SHA-1 accept, masked client
frames, ping/pong, close) is implemented on the stdlib socket since no WS
library ships in this runtime.

Serving is driver-side by construction (queries are collect()ed to JSON) —
the engine behind it is the same cluster-scale plans; a production
deployment would put this behind Spark Connect instead of one driver.

Each worker process serves every connection from one ``selectors`` loop
(:class:`LoopServer`), the single-threaded shape of the reference's
uvicorn server; ``--workers N`` runs N such processes on one port.
"""

from __future__ import annotations

import glob
import io
import json
import os
import queue as _queue
import selectors
import socket
import threading
import time
import traceback
from collections import deque
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler

from custom_python_vectordb_spark.api import VectorDB
from custom_python_vectordb_spark.operators import shard_tier

# Request threads of a Spark-backed worker. A plan-backed route holds its
# thread in py4j for up to seconds; the other threads keep /health and the
# replica routes answering meanwhile.
POOL_THREADS = 8
# Framing limits: the most of one request the loop will buffer.
MAX_HEADER_BYTES = 64 * 1024
MAX_BODY_BYTES = 64 * 1024 * 1024


# /collections/<name>/<route> routes that run a Spark plan ("info" is
# GET /collections/<name>, whose count is a plan); the replica routes
# (query, keyword, phrase, hybrid) serve without one
_SPARK_ROUTES = frozenset({
    "info", "count", "peek", "get", "add", "upsert", "update", "delete",
    "delete_by_filter", "merge", "diff", "optimize", "clone",
})


class SparkUnavailable(RuntimeError):
    """A route that runs a Spark plan, asked of a worker started without a
    session (``--serving-only``); the server answers 503."""


class EventBus:
    """In-process pub/sub with bounded replay, mirroring the reference's
    EventBus + ring history (``realtime.py:132-159``): publishers append to
    a ring buffer and fan out to subscriber queues; a subscriber may ask
    for the last N events on connect (replay), then receives live pushes.
    """

    def __init__(self, history: int = 1000):
        self._ring: deque[dict] = deque(maxlen=history)
        self._subs: dict[int, _queue.Queue] = {}
        self._lock = threading.Lock()
        self._next_id = 0
        self._seq = 0

    def publish(self, event: dict) -> dict:
        with self._lock:
            self._seq += 1
            event = {"seq": self._seq, "ts": time.time(), **event}
            self._ring.append(event)
            queues = list(self._subs.values())
        for q in queues:
            q.put(event)
        return event

    def subscribe(self, replay: int = 0) -> tuple[int, _queue.Queue, list[dict]]:
        """Returns (subscriber id, live queue, replayed events). Replay and
        registration are atomic, so no event is missed or duplicated
        between the ring snapshot and the first live push."""
        q: _queue.Queue = _queue.Queue()
        with self._lock:
            sid = self._next_id
            self._next_id += 1
            self._subs[sid] = q
            replayed = list(self._ring)[-replay:] if replay > 0 else []
        return sid, q, replayed

    def unsubscribe(self, sid: int) -> None:
        with self._lock:
            self._subs.pop(sid, None)


def sub_match(ev: dict, collection: str, types: set | None, meta: dict | None) -> bool:
    """The reference's ``Subscription.matches`` (``realtime.py:99-118``):
    collection (`*` wildcard), event-type set (empty/None = all), and a
    metadata equality dict. Our mutation events carry batch `metadatas`
    (a list) where the reference emits one event per insert with a single
    `metadata` dict — so the metadata condition here is ANY-row-matches
    (a batch event is relevant iff some affected row matches), and a
    single-dict `metadata` field matches directly."""
    if collection != "*" and ev.get("collection") != collection:
        return False
    if types and ev.get("event_type") not in types:
        return False
    if meta:
        rows = ev.get("metadatas")
        if rows is None:
            rows = [ev.get("metadata")] if ev.get("metadata") is not None else []
        return any(
            all(isinstance(r, dict) and r.get(k) == v for k, v in meta.items())
            for r in rows
        )
    return True


_WS_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"  # RFC 6455 §1.3


def ws_accept_key(key: str) -> str:
    import base64
    import hashlib

    return base64.b64encode(hashlib.sha1((key + _WS_GUID).encode()).digest()).decode()


def ws_encode_frame(payload: bytes, opcode: int = 0x1, mask: bool = False) -> bytes:
    """One unfragmented frame. Servers send unmasked; `mask=True` is for
    test clients (RFC 6455 §5.1: client frames MUST be masked)."""
    import os as _os

    head = bytes([0x80 | opcode])
    n = len(payload)
    mbit = 0x80 if mask else 0
    if n < 126:
        head += bytes([mbit | n])
    elif n < 1 << 16:
        head += bytes([mbit | 126]) + n.to_bytes(2, "big")
    else:
        head += bytes([mbit | 127]) + n.to_bytes(8, "big")
    if mask:
        key = _os.urandom(4)
        return head + key + bytes(c ^ key[i % 4] for i, c in enumerate(payload))
    return head + payload


def ws_read_frame(rfile) -> tuple[int, bytes] | None:
    """(opcode, unmasked payload) or None on EOF/short read."""
    b = rfile.read(2)
    if len(b) < 2:
        return None
    opcode = b[0] & 0x0F
    masked = bool(b[1] & 0x80)
    n = b[1] & 0x7F
    if n == 126:
        n = int.from_bytes(rfile.read(2), "big")
    elif n == 127:
        n = int.from_bytes(rfile.read(8), "big")
    key = rfile.read(4) if masked else b""
    data = rfile.read(n)
    if len(data) < n:
        return None
    if masked:
        data = bytes(c ^ key[i % 4] for i, c in enumerate(data))
    return opcode, data


class GraphStore:
    """In-memory property graph behind the /graph API — the reference's
    graph endpoints (``server_full.py:430-620``). Mutations are dict ops
    under a lock; READ endpoints build DataFrames and run the SAME Spark
    operators as the batch graph queries (operators/graph.py), so serving
    and analytics share one implementation. Scale path: swap the dicts for
    warehouse-backed nodes/edges tables (sources/graph_view.py) — the
    operator calls don't change."""

    def __init__(self, spark):
        self.spark = spark
        self._nodes: dict[str, dict] = {}
        self._edges: dict[str, dict] = {}  # id -> {src, dst, type, props}
        self._hyper: dict[str, dict] = {}  # id -> {nodes: [...], type}
        self._next_edge = 0
        self._lock = threading.Lock()

    # ------------------------------------------------------- mutations
    def add_node(self, node_id: str, labels: list[str], props: dict) -> None:
        with self._lock:
            self._nodes[node_id] = {"labels": list(labels), "props": dict(props)}

    def get_node(self, node_id: str) -> dict | None:
        with self._lock:
            n = self._nodes.get(node_id)
            return None if n is None else {"id": node_id, **n}

    def delete_node(self, node_id: str) -> bool:
        """Cascade: incident edges go with the node (graph.py delete_node)."""
        with self._lock:
            if node_id not in self._nodes:
                return False
            del self._nodes[node_id]
            self._edges = {
                eid: e
                for eid, e in self._edges.items()
                if node_id not in (e["src"], e["dst"])
            }
            return True

    def add_edge(
        self, src: str, dst: str, edge_type: str,
        edge_id: str | None = None, props: dict | None = None,
    ) -> str | None:
        with self._lock:
            if src not in self._nodes or dst not in self._nodes:
                return None
            if edge_id is None:
                edge_id = f"e{self._next_edge}"
                self._next_edge += 1
            self._edges[edge_id] = {
                "src": src, "dst": dst, "type": edge_type, "props": dict(props or {})
            }
            return edge_id

    def get_edge(self, edge_id: str) -> dict | None:
        with self._lock:
            e = self._edges.get(edge_id)
            return None if e is None else {"id": edge_id, **e}

    def delete_edge(self, edge_id: str) -> bool:
        with self._lock:
            return self._edges.pop(edge_id, None) is not None

    def find_edges(self, edge_type: str | None = None, limit: int = 100) -> list[dict]:
        with self._lock:
            out = [
                {"id": eid, **e}
                for eid, e in sorted(self._edges.items())
                if edge_type is None or e["type"] == edge_type
            ]
        return out[:limit]

    def add_hyperedge(
        self, nodes: list[str], hyper_type: str, hyper_id: str | None = None
    ) -> str | None:
        with self._lock:
            if any(n not in self._nodes for n in nodes):
                return None
            if hyper_id is None:
                hyper_id = f"h{len(self._hyper)}"
            self._hyper[hyper_id] = {"nodes": list(nodes), "type": hyper_type}
            return hyper_id

    def get_hyperedge(self, hyper_id: str) -> dict | None:
        with self._lock:
            h = self._hyper.get(hyper_id)
            return None if h is None else {"id": hyper_id, **h}

    def stats(self) -> dict:
        with self._lock:
            return {
                "nodes": len(self._nodes),
                "edges": len(self._edges),
                "hyperedges": len(self._hyper),
            }

    # ------------------------------------------------------- DataFrame views
    def dfs(self, expand_props: bool = False):
        """(nodes, edges) views for the batch operators. `expand_props=True`
        additionally materializes every node property as a typed top-level
        column (first-non-null type, reserved names skipped) — the shape
        `plans/cypher.cypher` binds `{prop: value}` patterns and
        `var.prop` projections against."""
        if self.spark is None:
            raise SparkUnavailable(
                "graph reads run Spark operators; this worker has no Spark session"
            )
        # ONE lock acquisition snapshots everything (copied labels/props):
        # pool threads handle requests concurrently, so re-acquiring
        # the lock later and dereferencing self._nodes for previously-seen
        # ids raced a concurrent delete_node into KeyError, and key/type
        # inference iterated live props dicts unlocked (round-4 ADVICE #3)
        with self._lock:
            snap = [
                (nid, list(n["labels"]), dict(n["props"]))
                for nid, n in self._nodes.items()
            ]
            erows = [(e["src"], e["dst"], e["type"]) for e in self._edges.values()]
        nrows = [
            (nid, labels, json.dumps(props, sort_keys=True))
            for nid, labels, props in snap
        ]
        if expand_props:
            keys = sorted(
                {k for _, _, p in snap for k in p} - {"id", "labels", "props"}
            )
            types = {
                k: _meta_type(
                    next((p[k] for _, _, p in snap if p.get(k) is not None), None)
                )
                for k in keys
            }
            schema = "id string, labels array<string>" + "".join(
                f", `{k}` {types[k]}" for k in keys
            )
            xrows = [
                (nid, labels, *[p.get(k) for k in keys]) for nid, labels, p in snap
            ]
            nodes = self.spark.createDataFrame(
                xrows or [tuple([None, None] + [None] * len(keys))], schema
            )
            if not xrows:
                nodes = nodes.limit(0)
        else:
            nodes = self.spark.createDataFrame(
                nrows or [(None, None, None)],
                "id string, labels array<string>, props string",
            )
            if not nrows:
                nodes = nodes.limit(0)
        edges = self.spark.createDataFrame(
            erows or [(None, None, None)], "src string, dst string, type string"
        )
        if not erows:
            edges = edges.limit(0)
        return nodes, edges


def _meta_type(v) -> str:
    # bool before int: bool is an int subclass
    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, int):
        return "long"
    if isinstance(v, float):
        return "double"
    return "string"


def _rows_df(db: VectorDB, rows: list[dict]):
    """list-of-flat-dicts → DataFrame with explicit scalar types (string id
    first); missing keys become NULL. The schemaless-metadata entry point
    for the REST routes — mirrors the reference's dict metadata
    (fastpyvectordb/client.py:97-160) onto real columns."""
    keys = ["id"] + sorted({k for r in rows for k in r} - {"id"})
    types = {}
    for k in keys:
        first = next((r[k] for r in rows if r.get(k) is not None), None)
        types[k] = "string" if k == "id" else _meta_type(first)
    schema = ", ".join(f"`{k}` {types[k]}" for k in keys)
    data = [tuple(r.get(k) for k in keys) for r in rows]
    return db.spark.createDataFrame(data, schema)


def _texts_df(db: VectorDB, ids: list, documents: list, metadatas: list | None = None, dims: int = 64):
    """(id, _document, …metadata) rows embedded with the mock provider —
    the add/upsert payload shape of the reference client."""
    from custom_python_vectordb_spark.functions.embeddings import embed_column

    if len(ids) != len(documents):
        raise ValueError("ids and documents must be the same length")
    metadatas = metadatas or [{} for _ in ids]
    if len(metadatas) != len(ids):
        raise ValueError("ids and metadatas must be the same length")
    rows = [
        {"id": str(i), "_document": d, **m}
        for i, d, m in zip(ids, documents, metadatas)
    ]
    df = _rows_df(db, rows)
    return embed_column(df, "_document", "embedding", dims)


def _routes(
    db: VectorDB,
    bus: EventBus | None = None,
    graph: GraphStore | None = None,
    ann_geometries: frozenset | None = None,
    snapshots: dict | None = None,
):
    # Build-affecting index geometry a request may select. nprobe is a
    # query-time knob (free within bounds, like hnswlib's ef); n_cells and
    # assign_r key a k-means retrain + corpus re-layout, so an arbitrary
    # request-supplied value lets a client force unbounded rebuild CPU
    # (the shard tier's byte budget caps memory, not retrains — r13,
    # ADVICE low).
    # Operators extend the set at make_server(ann_geometries=...).
    if ann_geometries is None:
        ann_geometries = frozenset({(64, 2)})
    ivfpq_cells = frozenset(g[0] for g in ann_geometries)

    def need_spark(route: str) -> None:
        if db.spark is None:
            raise SparkUnavailable(
                f"the {route!r} route runs a Spark plan; this worker was started "
                "--serving-only and has no Spark session"
            )

    def publish(collection: str, event_type: str, **data):
        if bus is not None:
            bus.publish({"collection": collection, "event_type": event_type, **data})

    # snapshot-backed sharded indexes (r13): {name: root_dir} where
    # root_dir/*/ivfpq_index.npz are per-executor save_index outputs —
    # serves corpora that never fit one process's BUILD (e.g. the 100M
    # probe tier) from a spark-less worker. Lazy-loaded through the shard
    # tier, keyed on those .npz files: boot stays fast, the first query
    # pays the code-tier load once, a re-saved directory is loaded fresh
    # and the loaded codes count against the tier's byte budget. nprobe
    # is fixed at load (a per-request mutation would race concurrent
    # handler threads); k/fetch_k stay per-request query-time knobs.
    snapshots = snapshots or {}

    def _snapshot_key(name: str) -> tuple:
        root = snapshots[name]
        return ("ivfpq_snapshot", glob.glob(os.path.join(root, "*", "ivfpq_index.npz")), (root,))

    def _snapshot_index(name: str):
        from custom_python_vectordb_spark.operators.partitioned import (
            ShardedIvfPqIndex,
        )

        return shard_tier.resolve(
            *_snapshot_key(name),
            lambda paths, _sk: ShardedIvfPqIndex([os.path.dirname(p) for p in paths]),
        )

    def _accelerated(body: dict, kind: str) -> dict:
        """The index parameters of an ``ann``/``ivfpq``/``bq`` query, checked
        before any index is built: none takes a where-filter; n_cells (and,
        for ann, assign_r) key a k-means retrain, so they must be in the
        operator's allowed set (r13, ADVICE low) — the reference exposes
        its index params per request too (ef/M in the hnswlib facade);
        nprobe is query-time and free within [1, n_cells]."""
        if body.get("where") is not None:
            raise ValueError(f"{kind} queries do not support where-filters; use the exact path")
        if kind == "bq":
            return {"fetch_k": body.get("fetch_k")}
        n_cells = int(body.get("n_cells", 64))
        nprobe = int(body.get("nprobe", 8 if kind == "ann" else 6))
        if kind == "ann":
            params = {"assign_r": int(body.get("assign_r", 2))}
            if (n_cells, params["assign_r"]) not in ann_geometries:
                raise ValueError(
                    f"index geometry (n_cells={n_cells}, assign_r="
                    f"{params['assign_r']}) is not in this server's allowed set "
                    f"{sorted(ann_geometries)}; n_cells/assign_r key a "
                    "k-means retrain — ask the operator to add the "
                    "geometry (make_server ann_geometries=...). "
                    "nprobe is query-time and free within bounds."
                )
        else:
            params = {"fetch_k": body.get("fetch_k")}
            if n_cells not in ivfpq_cells:
                raise ValueError(
                    f"n_cells={n_cells} is not in this server's "
                    f"allowed set {sorted(ivfpq_cells)}; it keys a "
                    "k-means retrain — ask the operator to add it "
                    "(make_server ann_geometries=...)"
                )
        if not (1 <= nprobe <= n_cells):
            raise ValueError(f"nprobe must be in [1, n_cells={n_cells}], got {nprobe}")
        return {"n_cells": n_cells, "nprobe": nprobe, **params}

    def handle(method: str, path: str, body: dict):
        from urllib.parse import parse_qs, urlparse

        u = urlparse(path)
        qs = {k: v[0] for k, v in parse_qs(u.query).items()}
        parts = [p for p in u.path.split("/") if p]
        if parts == ["health"] and method == "GET":
            return 200, {"status": "ok", "collections": len(db.list_collections())}
        if parts == ["embeddings", "info"] and method == "GET":
            return 200, {"provider": "mock", "dimensions": 64}
        if parts == ["embeddings", "embed"] and method == "POST":
            from custom_python_vectordb_spark.functions.embeddings import mock_embed_one

            dims = int(body.get("dimensions", 64))
            return 200, {
                "embeddings": [
                    [float(x) for x in mock_embed_one(t, dims)] for t in body["texts"]
                ]
            }
        if parts == ["snapshots"] and method == "GET":
            report = {}
            for n in sorted(snapshots):
                idx = shard_tier.resident(*_snapshot_key(n))
                report[n] = {"loaded": idx is not None,
                             **({"rows": len(idx), "shards": len(idx.shards)}
                                if idx is not None else {})}
            return 200, {"snapshots": report}
        if (len(parts) == 3 and parts[0] == "snapshots"
                and parts[2] == "query" and method == "POST"):
            if parts[1] not in snapshots:
                return 404, {"error": f"no snapshot {parts[1]!r}"}
            idx = _snapshot_index(parts[1])
            k = int(body.get("n_results", 10))
            if not (1 <= k <= 1000):
                raise ValueError(f"n_results must be in [1, 1000], got {k}")
            fk = body.get("fetch_k")
            out = []
            for v in body["query_embeddings"]:
                ids, dists = idx.search_one(
                    [float(x) for x in v], k=k,
                    fetch_k=(int(fk) if fk is not None else None),
                )
                out.append(
                    # numpy scalars -> native; string ids pass through
                    [{"id": (i.item() if hasattr(i, "item") else i),
                      "dist": float(d)}
                     for i, d in zip(ids, dists)]
                )
            return 200, {"results": out}
        if graph is not None and parts and parts[0] == "graph":
            return _graph_routes(graph, method, parts, body, qs)
        if parts == ["reset"] and method == "POST":
            # Client.reset parity (fastpyvectordb/client.py:698-708): drop
            # every collection; destructive, cannot be undone
            names = list(db.list_collections())
            for name in names:
                db.delete_collection(name)
                publish(name, "drop_collection")
            return 200, {"reset": True, "dropped": len(names)}
        if parts == ["collections"]:
            if method == "GET":
                return 200, {"collections": db.list_collections()}
            if method == "POST":
                need_spark("create")
                db.create_collection(body["name"], int(body.get("dimensions", 64)))
                publish(body["name"], "create_collection")
                return 201, {"created": body["name"]}
        if len(parts) >= 2 and parts[0] == "collections":
            name = parts[1]
            if len(parts) == 2 and method == "DELETE":
                deleted = db.delete_collection(name)
                publish(name, "drop_collection")
                return 200, {"deleted": deleted}
            try:
                coll = db.get_collection(name)
            except FileNotFoundError:
                return 404, {"error": f"collection {name!r} not found"}
            route = parts[2] if len(parts) > 2 else "info"
            if route in _SPARK_ROUTES:
                need_spark(route)
            if len(parts) == 2 and method == "GET":
                # collection info (server_full.py:259-272)
                return 200, {
                    "name": name,
                    "dimensions": coll.dimensions,
                    "count": coll.count(),
                }
            if parts[2:] == ["count"] and method == "GET":
                return 200, {"count": coll.count()}
            versioned = hasattr(db.warehouse, "history")
            if parts[2:] == ["history"] and method == "GET":
                if not versioned:
                    return 400, {"error": "collection store is not versioned"}
                return 200, {
                    "versions": [
                        {
                            "version": m.get("version"),
                            "parent": m.get("parent"),
                            "mode": m.get("mode"),
                            "committed_at": m.get("committed_at"),
                            "n_dirs": len(m["dirs"]),
                            "n_deletes": len(m.get("deletes") or []),
                        }
                        for m in db.warehouse.history(name)
                    ]
                }
            if parts[2:] == ["optimize"] and method == "POST":
                if not versioned:
                    return 400, {"error": "collection store is not versioned"}
                v = db.warehouse.optimize(
                    name,
                    cluster_by=body.get("cluster_by"),
                    zorder_by=body.get("zorder_by"),
                    target_file_mb=float(body.get("target_file_mb", 128)),
                )
                publish(name, "optimize", version=v)
                return 200, {"optimized": name, "version": v}
            if parts[2:] == ["clone"] and method == "POST":
                if not versioned:
                    return 400, {"error": "collection store is not versioned"}
                dst = body.get("dst")
                if not dst or not isinstance(dst, str):
                    return 400, {"error": "clone requires a string 'dst' body field"}
                ver = body.get("version")
                if ver is not None:
                    try:
                        ver = int(ver)
                    except (TypeError, ValueError):
                        return 400, {"error": f"version must be an integer, got {ver!r}"}
                v = db.warehouse.clone(name, dst, version=ver)
                publish(dst, "clone", source=name, version=v)
                return 201, {"cloned": dst, "version": v}
            if parts[2:] == ["diff"] and method == "GET":
                if not versioned:
                    return 400, {"error": "collection store is not versioned"}
                try:
                    v_from = int(qs["from"])
                    v_to = int(qs["to"])
                except (KeyError, TypeError, ValueError):
                    return 400, {"error": "diff requires integer 'from' and 'to' params"}
                on = qs.get("on", "id")
                rows = (
                    db.warehouse.diff(name, v_from, v_to, on)
                    .drop("embedding")
                    .limit(int(qs.get("limit", 1000)))
                    .collect()
                )
                return 200, {"changes": [r.asDict(recursive=True) for r in rows]}
            if parts[2:] == ["merge"] and method == "POST":
                if not versioned:
                    return 400, {"error": "collection store is not versioned"}
                on = body.get("on")
                rows = body.get("rows")
                if not on or not isinstance(rows, list) or not rows:
                    return 400, {"error": "merge requires 'on' and non-empty 'rows'"}
                src = _texts_df(
                    db,
                    [r["id"] for r in rows],
                    [r.get("document", "") for r in rows],
                    [
                        {k: v for k, v in r.items() if k not in ("id", "document")}
                        for r in rows
                    ],
                    coll.dimensions,
                )
                v = db.warehouse.merge_into(
                    name,
                    src,
                    on,
                    when_matched=body.get("when_matched", "update"),
                    when_not_matched=body.get("when_not_matched", "insert"),
                )
                publish(name, "merge", version=v, n_rows=len(rows))
                return 200, {"merged": name, "version": v}
            if parts[2:] == ["add"] and method == "POST":
                coll.insert_batch(
                    _texts_df(db, body["ids"], body["documents"], body.get("metadatas"), coll.dimensions)
                )
                publish(name, "add", ids=list(body["ids"]),
                        metadatas=body.get("metadatas"))
                return 201, {"added": len(body["ids"])}
            if parts[2:] == ["upsert"] and method == "POST":
                coll.upsert(
                    _texts_df(db, body["ids"], body["documents"], body.get("metadatas"), coll.dimensions)
                )
                publish(name, "upsert", ids=list(body["ids"]),
                        metadatas=body.get("metadatas"))
                return 200, {"upserted": len(body["ids"])}
            if parts[2:] == ["update"] and method == "POST":
                ids, metas = list(body["ids"]), list(body["metadatas"])
                if len(ids) != len(metas):
                    raise ValueError("ids and metadatas must be the same length")
                changes = _rows_df(db, [{"id": i, **m} for i, m in zip(ids, metas)])
                coll.update_metadata(changes)
                publish(name, "update", ids=ids)
                return 200, {"updated": len(ids)}
            if parts[2:] == ["delete_by_filter"] and method == "POST":
                from custom_python_vectordb_spark.functions.filters import Filter

                pred = Filter.from_dict(body["where"]).column
                import pyspark.sql.functions as _F

                matched = coll.df().filter(_F.coalesce(pred, _F.lit(False))).count()
                coll.delete_by_filter(pred)
                publish(name, "delete_by_filter", where=body["where"], deleted=matched)
                return 200, {"deleted": matched}
            if parts[2:] == ["peek"] and method == "GET":
                if qs.get("version") is not None:
                    # time-travel read (versioned stores only): pin the
                    # manifest instead of the head snapshot
                    if not versioned:
                        return 400, {"error": "collection store is not versioned"}
                    try:
                        pin = int(qs["version"])
                    except (TypeError, ValueError):
                        return 400, {
                            "error": f"version must be an integer, got {qs['version']!r}"
                        }
                    df = db.warehouse.load(name, version=pin)
                    rows = (
                        df.drop("embedding").limit(int(qs.get("limit", 10))).collect()
                    )
                    return 200, {"rows": [r.asDict(recursive=True) for r in rows]}
                rows = coll.peek(int(qs.get("limit", 10))).drop("embedding").collect()
                return 200, {"rows": [r.asDict(recursive=True) for r in rows]}
            if parts[2:] == ["query"] and method == "POST":
                # both unfiltered and dict-filtered queries take the
                # in-process replica path (api.query_serve) — same results
                # as the declarative plan (asserted in tests), no job
                # round-trip; the dict filter becomes a NumPy mask over
                # replica-resident metadata (the reference's P5 pattern).
                # "ann": true routes to the IVF replica (api.ann_serve) —
                # the accelerated tier, approximate by contract; "ivfpq":
                # true to the cell-pruned PQ replica (api.ivfpq_serve,
                # round 11), 32x resident compression at cell-pruned
                # latency; "bq": true to the binary-quantized replica
                # (api.bq_serve). ivfpq/bq take an optional "fetch_k"
                # exact mmap rerank
                common = {
                    "query_texts": body.get("query_texts"),
                    "query_embeddings": body.get("query_embeddings"),
                    "n_results": int(body.get("n_results", 10)),
                }
                kind = ("ann" if body.get("ann") else "ivfpq" if body.get("ivfpq")
                        else "bq" if body.get("bq") else None)
                if kind is not None:
                    serve = getattr(coll, f"{kind}_serve")
                    return 200, {"results": serve(**common, **_accelerated(body, kind))}
                return 200, {"results": coll.query_serve(**common, where=body.get("where"))}
            if len(parts) == 4 and parts[2] == "get" and method == "GET":
                doc = coll.get(parts[3])
                return (200, doc) if doc is not None else (404, {"error": f"id {parts[3]!r} not found"})
            if parts[2:] == ["delete"] and method == "POST":
                coll.delete(list(body["ids"]))
                publish(name, "delete", ids=list(body["ids"]))
                return 200, {"deleted": len(body["ids"])}
            if parts[2:] == ["keyword"] and method == "POST":
                # in-process BM25 replica (api.keyword_serve) — same ranking
                # as the declarative plan, no job round-trip
                return 200, {
                    "results": coll.keyword_serve(
                        body["query"], k=int(body.get("n_results", 10))
                    )
                }
            if parts[2:] == ["phrase"] and method == "POST":
                # in-process positional index (api.phrase_serve) — exact
                # adjacency matching, no job round-trip
                return 200, {
                    "results": coll.phrase_serve(
                        body["query"], k=int(body.get("n_results", 10))
                    )
                }
            if parts[2:] == ["hybrid"] and method == "POST":
                # full in-process fusion (api.hybrid_serve): vector replica +
                # keyword replica + numpy fusion, no job round-trip
                return 200, {
                    "results": coll.hybrid_serve(
                        body["query"], k=int(body.get("n_results", 10)),
                        alpha=float(body.get("alpha", 0.5)),
                    )
                }
        return 404, {"error": f"no route {method} {path}"}

    return handle


def _graph_routes(graph: GraphStore, method: str, parts: list[str], body: dict, qs: dict | None = None):
    """/graph/* — reference parity (``server_full.py:430-620``): node/edge
    CRUD mutates the store; neighbors/traverse/shortest-path/find run the
    batch Spark operators over the store's DataFrame view."""
    from custom_python_vectordb_spark.operators.graph import (
        find_nodes,
        neighbors,
        shortest_path,
        traverse_paths,
    )
    from pyspark.sql import functions as F

    sub = parts[1:]
    if sub == ["stats"] and method == "GET":
        return 200, graph.stats()
    if sub == ["nodes"] and method == "POST":
        graph.add_node(body["id"], body.get("labels", []), body.get("props", {}))
        return 201, {"created": body["id"]}
    if len(sub) == 2 and sub[0] == "nodes" and method == "GET":
        n = graph.get_node(sub[1])
        return (200, n) if n else (404, {"error": f"node {sub[1]!r} not found"})
    if len(sub) == 2 and sub[0] == "nodes" and method == "DELETE":
        return 200, {"deleted": graph.delete_node(sub[1])}
    if sub == ["edges"] and method == "POST":
        eid = graph.add_edge(
            body["src"], body["dst"], body.get("type", "RELATED"),
            edge_id=body.get("id"), props=body.get("props"),
        )
        return (201, {"created": eid}) if eid else (404, {"error": "missing endpoint node"})
    if len(sub) == 2 and sub[0] == "edges" and method == "GET":
        e = graph.get_edge(sub[1])
        return (200, e) if e else (404, {"error": f"edge {sub[1]!r} not found"})
    if len(sub) == 2 and sub[0] == "edges" and method == "DELETE":
        return 200, {"deleted": graph.delete_edge(sub[1])}
    if sub == ["edges"] and method == "GET":
        qs = qs or {}
        return 200, {
            "edges": graph.find_edges(
                edge_type=qs.get("type") or body.get("type"),
                limit=int(qs.get("limit") or body.get("limit", 100)),
            )
        }
    if sub == ["hyperedges"] and method == "POST":
        hid = graph.add_hyperedge(
            list(body["nodes"]), body.get("type", "RELATED"), hyper_id=body.get("id")
        )
        return (201, {"created": hid}) if hid else (404, {"error": "missing member node"})
    if len(sub) == 2 and sub[0] == "hyperedges" and method == "GET":
        h = graph.get_hyperedge(sub[1])
        return (200, h) if h else (404, {"error": f"hyperedge {sub[1]!r} not found"})
    if sub == ["query"] and method == "POST":
        # Cypher over HTTP (server_full.py:567-574) — compile the query to
        # one Spark SQL text over the expanded property-column view, as the
        # batch cypher_* queries do; its literals are bound as parameters,
        # and a bad query (unknown property, bad bounds) is a ValueError: 400
        from custom_python_vectordb_spark.plans.cypher import cypher

        nodes, edges = graph.dfs(expand_props=True)
        rows = cypher(nodes, edges, body["query"]).limit(1000).collect()
        return 200, {"rows": [r.asDict(recursive=True) for r in rows]}
    if len(sub) == 2 and sub[0] == "neighbors" and method == "GET":
        nodes, edges = graph.dfs()
        rows = neighbors(nodes, edges, sub[1], direction="both").collect()
        return 200, {"neighbors": sorted(r["id"] for r in rows)}
    if sub == ["traverse"] and method == "POST":
        _, edges = graph.dfs()
        rows = traverse_paths(
            edges, body["start"],
            max_depth=int(body.get("max_hops", 3)),
            direction=body.get("direction", "out"),
            edge_type=body.get("type"),
        ).collect()
        return 200, {"paths": [list(r["path"]) for r in rows]}
    if sub == ["shortest-path"] and method == "POST":
        _, edges = graph.dfs()
        rows = shortest_path(
            edges, body["src"], body["dst"], direction=body.get("direction", "out")
        ).collect()
        return 200, {"path": rows[0]["path_str"].split("->") if rows else None}
    if sub == ["find"] and method == "POST":
        nodes, _ = graph.dfs()
        flt = None
        for k, v in (body.get("props") or {}).items():
            # get_json_object returns the JSON TEXT of the value (strings
            # unquoted) — Python str() diverges for bool (str(True)='True'
            # vs 'true'), None, and nested objects (round-2 ADVICE), so
            # serialize the expectation as compact JSON instead. JSON null
            # is unmatchable by design: get_json_object maps both null and
            # missing to SQL NULL.
            want = v if isinstance(v, str) else json.dumps(v, separators=(",", ":"))
            cond = F.get_json_object(F.col("props"), f"$.{k}") == want
            flt = cond if flt is None else (flt & cond)
        rows = find_nodes(nodes, labels=body.get("labels"), prop_filter=flt).collect()
        return 200, {"ids": sorted(r["id"] for r in rows)}
    return 404, {"error": f"no route {method} /" + "/".join(parts)}


def _stream_route(path: str) -> str | None:
    """Which push stream a GET of `path` opens: "sse", "ws" or None."""
    parts = [p for p in path.split("?")[0].split("/") if p]
    scoped = len(parts) == 3 and parts[0] == "collections"
    if parts == ["events"] or (scoped and parts[2] == "events"):
        return "sse"
    if parts == ["ws"] or (scoped and parts[2] == "ws"):
        return "ws"
    return None


def _header_end(buf: bytearray) -> int:
    """Offset just past the blank line that ends a request's header block,
    or -1 if none is within the first MAX_HEADER_BYTES (the search is
    bounded, so a large body arriving in pieces is not rescanned). Lines
    may end in CRLF or bare LF, as the stdlib parser allows."""
    ends = [
        i + n
        for i, n in ((buf.find(b"\n\r\n", 0, MAX_HEADER_BYTES), 3),
                     (buf.find(b"\n\n", 0, MAX_HEADER_BYTES), 2))
        if i >= 0
    ]
    return min(ends) if ends else -1


def _json_reply(status: int, payload: dict) -> bytes:
    """A complete JSON reply that closes the connection, for requests the
    loop answers without the handler (framing refusals, handler faults)."""
    body = json.dumps(payload).encode()
    reason = BaseHTTPRequestHandler.responses[status][0]
    return (
        f"HTTP/1.1 {status} {reason}\r\nContent-Type: application/json\r\n"
        f"Content-Length: {len(body)}\r\nX-Worker: {os.getpid()}\r\n"
        "Connection: close\r\n\r\n"
    ).encode() + body


class _Conn:
    """One client connection as the loop sees it."""

    __slots__ = ("sock", "addr", "inbuf", "outbuf", "busy", "closing", "eof", "discard",
                 "mask")

    def __init__(self, sock: socket.socket, addr):
        self.sock: socket.socket | None = sock  # None once closed or detached
        self.addr = addr
        self.inbuf = bytearray()
        self.outbuf = bytearray()
        self.busy = False  # a request is running on the pool
        self.closing = False  # close once outbuf has drained
        self.eof = False  # the client sent FIN: answer what is buffered, then close
        self.discard: int | None = None  # after a refusal: input bytes to drop, then close
        self.mask = 0  # events registered with the selector


class _Prefixed(io.RawIOBase):
    """Blocking reader over a socket that first returns the bytes the loop
    had already read from it."""

    def __init__(self, sock: socket.socket, head: bytes):
        self._sock = sock
        self._head = memoryview(head)

    def readable(self) -> bool:
        return True

    def readinto(self, b) -> int:
        if self._head:
            n = min(len(b), len(self._head))
            b[:n] = self._head[:n]
            self._head = self._head[n:]
            return n
        return self._sock.recv_into(b)


class LoopServer:
    """One worker's HTTP/1.1 server: a single ``selectors`` loop accepts
    connections, frames keep-alive and pipelined requests, and writes
    replies without blocking. A partial write waits in its connection's
    buffer, so a client that stops reading stalls no other connection.

    Each framed request runs through ``handler_cls`` (a
    ``BaseHTTPRequestHandler`` whose ``setup`` takes ``(rfile, wfile)``)
    over in-memory files: inline on the loop when ``pool_threads`` is 0,
    else on a thread pool that hands the reply bytes back to the loop.
    A connection has one request in flight; the next pipelined one runs
    once the reply before it has been written, so replies keep request
    order. SSE and WebSocket requests take their socket off the loop and
    stream from a thread of their own.

    The framing layer bounds what it buffers: a header block over
    ``MAX_HEADER_BYTES`` gets 431, a ``Content-Length`` over
    ``MAX_BODY_BYTES`` 413 (the body is not buffered), a malformed one 400
    and any ``Transfer-Encoding`` 411; each then ends the connection."""

    def __init__(self, address, handler_cls, *, reuse_port: bool = False,
                 pool_threads: int = 0):
        self.RequestHandlerClass = handler_cls
        self.socket = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        try:
            self.socket.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
            if reuse_port:
                self.socket.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEPORT, 1)
            self.socket.bind(address)
            self.socket.listen(128)
        except OSError:
            self.socket.close()
            raise
        self.socket.setblocking(False)
        self.server_address = self.socket.getsockname()[:2]
        # pool threads post finished replies on _done and write one byte to
        # the wake socket, which the loop selects on with the connections
        self._wake_r, self._wake_w = socket.socketpair()
        self._wake_r.setblocking(False)
        self._wake_w.setblocking(False)
        self._sel = selectors.DefaultSelector()
        self._sel.register(self.socket, selectors.EVENT_READ)
        self._sel.register(self._wake_r, selectors.EVENT_READ)
        self._pool = ThreadPoolExecutor(pool_threads) if pool_threads else None
        self._done: deque = deque()  # (conn, reply bytes, close after)
        self._conns: set[_Conn] = set()
        self._stop = False
        self._stopped = threading.Event()
        self._stopped.set()

    # ------------------------------------------------------------ lifecycle
    def serve_forever(self) -> None:
        self._stopped.clear()
        try:
            while not self._stop:
                for key, events in self._sel.select():
                    if key.fileobj is self.socket:
                        self._accept()
                    elif key.fileobj is self._wake_r:
                        self._collect()
                    else:
                        self._service(key.data, events)
        finally:
            self._stop = False
            self._stopped.set()

    def shutdown(self) -> None:
        """Stop serve_forever and wait until it has returned."""
        self._stop = True
        self._wake()
        self._stopped.wait()

    def server_close(self) -> None:
        for conn in list(self._conns):
            self._close(conn)
        self._sel.close()
        self.socket.close()
        self._wake_r.close()
        self._wake_w.close()
        if self._pool is not None:
            self._pool.shutdown(wait=False)

    # ------------------------------------------------------------ the loop
    def _accept(self) -> None:
        while True:
            try:
                sock, addr = self.socket.accept()
            except (BlockingIOError, InterruptedError):
                return
            except OSError:  # e.g. out of file descriptors: retry next event
                return
            sock.setblocking(False)
            # headers and body may leave as separate segments; with Nagle
            # on, the second waits for the peer's delayed ACK (~40 ms)
            sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            conn = _Conn(sock, addr)
            self._conns.add(conn)
            self._advance(conn)

    def _service(self, conn: _Conn, events: int) -> None:
        if events & selectors.EVENT_WRITE:
            self._flush(conn)
        elif events & selectors.EVENT_READ:
            try:
                data = conn.sock.recv(1 << 16)
            except (BlockingIOError, InterruptedError):
                return
            except OSError:
                self._close(conn)
                return
            if conn.discard is not None:
                conn.discard -= len(data)
                if not data or conn.discard < 0:
                    self._close(conn)
                return
            if data:
                conn.inbuf += data
            else:
                conn.eof = True
        self._advance(conn)

    def _advance(self, conn: _Conn) -> None:
        """Run the buffered requests the connection may run now, then
        register the events it waits for."""
        while conn.sock is not None and conn.discard is None and not (
                conn.busy or conn.outbuf or conn.closing):
            framed = self._frame(conn)
            if framed is None:
                break
            req, request_line = framed
            words = request_line.split()
            if len(words) >= 2 and words[0] == b"GET" and _stream_route(words[1].decode("latin-1")):
                self._detach(conn, req)
                return
            if self._pool is None:
                self._send(conn, *self._run(req, conn.addr))
            else:
                conn.busy = True
                self._pool.submit(self._run_pooled, conn, req)
        if conn.sock is None:
            return
        if conn.eof and not (conn.busy or conn.outbuf):
            self._close(conn)
            return
        if conn.outbuf:
            mask = selectors.EVENT_WRITE
        elif conn.busy or conn.closing or conn.eof:
            mask = 0
        else:
            mask = selectors.EVENT_READ
        if mask != conn.mask:
            if not conn.mask:
                self._sel.register(conn.sock, mask, conn)
            elif not mask:
                self._sel.unregister(conn.sock)
            else:
                self._sel.modify(conn.sock, mask, conn)
            conn.mask = mask

    def _frame(self, conn: _Conn) -> tuple[bytes, bytes] | None:
        """Split the next complete request off the input buffer: (request
        bytes, request line), or None while it is incomplete. A request the
        limits refuse is answered here and ends the connection."""
        buf = conn.inbuf
        end = _header_end(buf)
        if end < 0:
            if len(buf) >= MAX_HEADER_BYTES:
                self._refuse(conn, 431, f"request header block exceeds {MAX_HEADER_BYTES} bytes")
            return None
        lines = bytes(buf[:end]).split(b"\n")
        lengths = set()
        for line in lines[1:]:
            name, _, value = line.partition(b":")
            name = name.strip().lower()
            if name == b"content-length":
                lengths.add(value.strip())
            elif name == b"transfer-encoding":
                self._refuse(conn, 411, "request bodies need a Content-Length; "
                                        "Transfer-Encoding is not supported")
                return None
        if len(lengths) > 1 or not all(v.isdigit() for v in lengths):
            self._refuse(conn, 400, f"malformed Content-Length {sorted(lengths)!r}")
            return None
        n = int(lengths.pop()) if lengths else 0
        if n > MAX_BODY_BYTES:
            self._refuse(conn, 413, f"request body of {n} bytes exceeds {MAX_BODY_BYTES}")
            return None
        if len(buf) < end + n:
            return None
        req = bytes(buf[:end + n])
        del buf[:end + n]
        return req, lines[0]

    def _refuse(self, conn: _Conn, status: int, message: str) -> None:
        """Answer a refused request, then half-close and drop the client's
        input (up to MAX_BODY_BYTES) until it closes: closing with its
        unread bytes queued would reset the connection, and the client
        could lose the reply."""
        conn.inbuf.clear()
        conn.discard = MAX_BODY_BYTES
        self._send(conn, _json_reply(status, {"error": message}), False)

    def _run(self, req: bytes, addr) -> tuple[bytes, bool]:
        """One request through the handler over in-memory files: (reply
        bytes, whether the connection closes after it)."""
        out = io.BytesIO()
        try:
            h = self.RequestHandlerClass((io.BytesIO(req), out), addr, self)
        except Exception as e:  # the worker boundary: a fault is a 500, never a dead loop
            traceback.print_exc()
            return _json_reply(500, {"error": str(e), "type": type(e).__name__}), True
        return out.getvalue(), h.close_connection

    def _run_pooled(self, conn: _Conn, req: bytes) -> None:
        self._done.append((conn, *self._run(req, conn.addr)))
        self._wake()

    def _wake(self) -> None:
        try:
            self._wake_w.send(b"\0")
        except OSError:  # buffer full (a wake-up is pending) or server closed
            pass

    def _collect(self) -> None:
        """Hand replies finished on the pool to their connections."""
        try:
            while self._wake_r.recv(4096):
                pass
        except (BlockingIOError, InterruptedError):
            pass
        while self._done:
            conn, reply, close = self._done.popleft()
            conn.busy = False
            if conn.sock is not None:
                self._send(conn, reply, close)
                self._advance(conn)

    def _send(self, conn: _Conn, data: bytes, close: bool) -> None:
        conn.outbuf += data
        conn.closing = conn.closing or close
        self._flush(conn)

    def _flush(self, conn: _Conn) -> None:
        try:
            while conn.outbuf:
                del conn.outbuf[:conn.sock.send(conn.outbuf)]
            if conn.discard is not None:
                conn.sock.shutdown(socket.SHUT_WR)
        except (BlockingIOError, InterruptedError):
            return
        except OSError:
            self._close(conn)
            return
        if conn.closing:
            self._close(conn)

    def _close(self, conn: _Conn) -> None:
        if conn.sock is None:
            return
        if conn.mask:
            self._sel.unregister(conn.sock)
        conn.mask = 0
        conn.sock.close()
        conn.sock = None
        self._conns.discard(conn)

    # ------------------------------------------------------------ streams
    def _detach(self, conn: _Conn, req: bytes) -> None:
        """Take a push-stream connection off the loop; a thread of its own
        runs the handler on the blocking socket, with the bytes the loop
        had already read in front."""
        sock, head = conn.sock, req + bytes(conn.inbuf)
        if conn.mask:
            self._sel.unregister(sock)
        conn.mask = 0
        conn.sock = None
        self._conns.discard(conn)
        threading.Thread(target=self._stream, args=(sock, conn.addr, head), daemon=True).start()

    def _stream(self, sock: socket.socket, addr, head: bytes) -> None:
        sock.setblocking(True)
        try:
            with sock, sock.makefile("wb") as wfile:
                self.RequestHandlerClass(
                    (io.BufferedReader(_Prefixed(sock, head)), wfile), addr, self
                )
        except OSError:
            pass  # client went away


def make_server(
    db: VectorDB,
    port: int = 0,
    *,
    reuse_port: bool = False,
    ann_geometries: frozenset | set | None = None,
    snapshots: dict | None = None,
) -> LoopServer:
    """Build (not start) one worker's server; port 0 picks a free port. The
    server carries an EventBus (`srv.bus`) publishing every mutation route
    and the graph store (`srv.graph`).

    A worker is one :class:`LoopServer`: one selector loop serves all of
    the process's connections. Without a Spark session (``VectorDB(None,
    ...)``, ``--serving-only``) each request runs inline on the loop, so no
    two requests trade the GIL. That includes a cold IVF build or refresh:
    it stalls the worker's other connections, as ``_IVF_HANDLE_LOCK``
    already stalls all its ANN requests, until index builds move off the
    request path (ROADMAP.md, the shard-resident tier primitive). A
    Spark-backed worker runs requests on ``POOL_THREADS`` pool threads, so
    a plan blocked in py4j leaves /health and the replica routes
    answering.

    ``reuse_port=True`` binds with SO_REUSEPORT so N worker processes can
    share one port, kernel-balanced per connection: one loop runs on one
    core, and more processes use more cores (the gunicorn/uvicorn-workers
    deployment model, which is also what the reference's uvicorn
    benchmark runs)."""
    bus = EventBus()
    graph = GraphStore(db.spark)
    handle = _routes(
        db, bus, graph,
        ann_geometries=frozenset(ann_geometries) if ann_geometries else None,
        snapshots=snapshots,
    )

    class Handler(BaseHTTPRequestHandler):
        # WS clients reject a "HTTP/1.0 101" status line; every JSON route
        # sends Content-Length, so 1.1 keep-alive semantics are safe.
        protocol_version = "HTTP/1.1"

        # LoopServer runs one request per instance over the (rfile, wfile)
        # pair it passes as `request`, then reads the reply and
        # close_connection back
        def setup(self):
            self.rfile, self.wfile = self.request

        def handle(self):
            self.handle_one_request()

        def finish(self):
            self.wfile.flush()

        def _reply(self, method):
            try:
                length = int(self.headers.get("Content-Length") or 0)
                body = json.loads(self.rfile.read(length) or b"{}") if length else {}
                status, payload = handle(method, self.path, body)
                data = json.dumps(payload).encode()
            except SparkUnavailable as e:
                status, data = 503, json.dumps({"error": str(e)}).encode()
            except (KeyError, ValueError) as e:
                status, data = 400, json.dumps({"error": str(e)}).encode()
            except Exception as e:  # a route bug answers 500; the connection lives on
                traceback.print_exc()
                status = 500
                data = json.dumps({"error": str(e), "type": type(e).__name__}).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            # which worker PROCESS served this connection: SO_REUSEPORT
            # pools balance per-connection by kernel hash, so a client
            # that cares about collision-free placement (a least-
            # connections balancer, or the soak's --distinct-workers
            # mode) needs the worker identity observable (r14)
            self.send_header("X-Worker", str(os.getpid()))
            self.end_headers()
            self.wfile.write(data)

        def _sse(self):
            """GET /collections/<name>/events?types=a,b&replay=N
            (or GET /events?collection=…&… for the all-collections stream,
            the reference's ``/ws`` wildcard analog): replay up to N
            buffered events matching the subscription, then push live
            events until the client disconnects. `meta` is a JSON dict of
            metadata equality constraints (``Subscription.filter``)."""
            from urllib.parse import parse_qs, urlparse

            u = urlparse(self.path)
            parts = [p for p in u.path.split("/") if p]
            qs = parse_qs(u.query)
            name = qs.get("collection", ["*"])[0] if parts == ["events"] else parts[1]
            types = set(qs["types"][0].split(",")) if qs.get("types") else None
            meta = json.loads(qs["meta"][0]) if qs.get("meta") else None
            replay = int(qs.get("replay", ["0"])[0])

            def wanted(ev):
                return sub_match(ev, name, types, meta)

            sid, q, replayed = bus.subscribe(replay=replay)
            try:
                self.send_response(200)
                self.send_header("Content-Type", "text/event-stream")
                self.send_header("Cache-Control", "no-cache")
                self.end_headers()
                for ev in replayed:
                    if wanted(ev):
                        self._send_event(ev, replayed=True)
                while True:
                    try:
                        ev = q.get(timeout=15.0)
                    except _queue.Empty:
                        self.wfile.write(b": keepalive\n\n")  # SSE comment
                        self.wfile.flush()
                        continue
                    if wanted(ev):
                        self._send_event(ev)
            except (BrokenPipeError, ConnectionResetError, OSError):
                pass  # client went away
            finally:
                bus.unsubscribe(sid)

        def _ws(self):
            """GET /collections/<name>/ws — RFC 6455 upgrade, then the
            reference's subscribe flow (realtime.py:449-510 /
            server_full.py WS endpoint): the client's first text frame is
            {"action": "subscribe", "types": [...], "replay": N}; the
            server acks, replays, then pushes live JSON text frames.
            Ping frames get pongs; a close frame (or EOF) ends the
            subscription."""
            key = self.headers.get("Sec-WebSocket-Key")
            upgrade = (self.headers.get("Upgrade") or "").lower()
            if not key or upgrade != "websocket":
                self.send_response(400)
                self.end_headers()
                return
            parts = [p for p in self.path.split("?")[0].split("/") if p]
            # /ws = all-collections stream (the reference's global WS
            # endpoint, realtime.py:467-487); /collections/<name>/ws scopes
            name = "*" if parts == ["ws"] else parts[1]

            self.send_response(101)
            self.send_header("Upgrade", "websocket")
            self.send_header("Connection", "Upgrade")
            self.send_header("Sec-WebSocket-Accept", ws_accept_key(key))
            self.end_headers()
            self.wfile.flush()

            wlock = threading.Lock()

            def send(payload: bytes, opcode: int = 0x1):
                with wlock:
                    self.wfile.write(ws_encode_frame(payload, opcode))
                    self.wfile.flush()

            frame = ws_read_frame(self.rfile)
            if frame is None or frame[0] != 0x1:
                return
            try:
                sub = json.loads(frame[1] or b"{}")
            except json.JSONDecodeError:
                sub = {}
            types = set(sub["types"]) if sub.get("types") else None
            replay = int(sub.get("replay", 0))
            # live filter state, replaceable mid-stream by a later subscribe
            # frame (the reference's update_subscription,
            # realtime.py:171-183). The reader queues the frame and the push
            # loop applies it in queue order, so an event published before
            # the frame arrived still meets the old filter.
            state = {
                "collection": sub.get("collection", name),
                "types": types,
                "meta": sub.get("filter"),
            }

            def wanted(ev):
                return sub_match(ev, state["collection"], state["types"], state["meta"])

            sid, q, replayed = bus.subscribe(replay=replay)
            _close = {"__close__": True}

            def reader():
                """Drain client frames: pong the pings, queue re-subscribe
                frames (filter update mid-stream) for the push loop, turn
                close/EOF into a queue sentinel so the push loop exits."""
                try:
                    while True:
                        f = ws_read_frame(self.rfile)
                        if f is None or f[0] == 0x8:  # EOF / close
                            break
                        if f[0] == 0x9:  # ping
                            send(f[1], opcode=0xA)
                        elif f[0] == 0x1:  # text: update_subscription
                            try:
                                upd = json.loads(f[1] or b"{}")
                            except json.JSONDecodeError:
                                continue
                            if upd.get("action") == "subscribe":
                                q.put(("subscribe", upd))
                except (OSError, ValueError):
                    pass
                q.put(_close)

            threading.Thread(target=reader, daemon=True).start()
            try:
                send(json.dumps({"subscribed": name, "replay": len(replayed)}).encode())
                for ev in replayed:
                    if wanted(ev):
                        send(json.dumps({**ev, "replayed": True}).encode())
                while True:
                    try:
                        ev = q.get(timeout=15.0)
                    except _queue.Empty:
                        send(b"", opcode=0x9)  # keepalive ping
                        continue
                    if ev is _close:
                        break
                    if isinstance(ev, tuple):  # ("subscribe", frame) from the reader
                        upd = ev[1]
                        state["collection"] = upd.get("collection", state["collection"])
                        state["types"] = set(upd["types"]) if upd.get("types") else None
                        state["meta"] = upd.get("filter")
                        send(json.dumps({"subscribed": state["collection"]}).encode())
                        continue
                    if wanted(ev):
                        send(json.dumps(ev).encode())
                send(b"", opcode=0x8)  # close handshake reply
            except (BrokenPipeError, ConnectionResetError, OSError):
                pass  # client went away
            finally:
                bus.unsubscribe(sid)

        def _send_event(self, ev: dict, replayed: bool = False):
            payload = {**ev, **({"replayed": True} if replayed else {})}
            self.wfile.write(
                f"id: {ev['seq']}\ndata: {json.dumps(payload)}\n\n".encode()
            )
            self.wfile.flush()

        def do_GET(self):
            stream = _stream_route(self.path)
            if stream == "sse":
                self._sse()  # /events is the all-collections stream
            elif stream == "ws":
                self._ws()  # /ws is the all-collections stream
            else:
                self._reply("GET")

        def do_POST(self):
            self._reply("POST")

        def do_DELETE(self):
            self._reply("DELETE")

        def log_message(self, *a):  # keep test output quiet
            pass

    srv = LoopServer(
        ("127.0.0.1", port), Handler, reuse_port=reuse_port,
        pool_threads=0 if db.spark is None else POOL_THREADS,
    )
    srv.bus = bus  # exposed for embedding/tests
    srv.graph = graph
    return srv


def serve_background(
    db: VectorDB, port: int = 0, *, ann_geometries: frozenset | set | None = None,
    snapshots: dict | None = None,
) -> tuple[LoopServer, int]:
    """Start serving on a daemon thread; returns (server, bound_port)."""
    srv = make_server(db, port, ann_geometries=ann_geometries, snapshots=snapshots)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, srv.server_address[1]


def main() -> None:
    """CLI: python -m custom_python_vectordb_spark.server <warehouse_dir> [port]
    [--workers N] [--serving-only] [--index-cache DIR]

    Each worker process serves all its connections from one selector
    loop (see make_server), so one worker uses about one core however
    many connections it holds.

    --workers N (N > 1): spawn N share-nothing worker processes all bound
      to the SAME port via SO_REUSEPORT (kernel per-connection load
      balancing), to use N cores. Each worker owns its shard tier;
      Parquet shards are the shared truth, so coherence is the same
      stat-key contract as one process.
    --serving-only: skip the Spark session. The in-process replica routes
      (ann/ivfpq/bq/exact query_serve, health, events) work and run
      inline on the loop; plan-backed routes (count, peek, add, ...)
      answer 503. This is the hot-tier worker shape — front workers
      serve vectors, one Spark-backed instance handles analytics."""
    import argparse
    import subprocess
    import sys

    ap = argparse.ArgumentParser()
    ap.add_argument("root")
    ap.add_argument("port", nargs="?", type=int, default=8765)
    ap.add_argument(
        "--workers", type=int, default=1,
        help="worker processes sharing the port via SO_REUSEPORT; each "
             "serves its connections from one selector loop on about one "
             "core, so N workers use up to N cores",
    )
    ap.add_argument("--serving-only", action="store_true")
    ap.add_argument("--reuse-port", action="store_true")
    ap.add_argument(
        "--snapshot",
        action="append",
        default=None,
        metavar="NAME=DIR",
        help="serve a persisted sharded IVF-PQ index (DIR/*/ivfpq_index.npz "
             "save_index outputs) at POST /snapshots/NAME/query — a corpus "
             "built shard-by-shard on executors, served spark-less",
    )
    ap.add_argument(
        "--index-cache",
        default=None,
        help="directory for persisted serving indexes (warm start): the "
             "first worker to build an IVF geometry saves it here; every "
             "other booting worker LOADS it instead of re-running k-means "
             "(stat-key freshness still governs, stale snapshots rebuild)",
    )
    ap.add_argument(
        "--ann-geometries",
        default=None,
        help="comma list of allowed build geometries 'n_cells:assign_r' "
             "(e.g. '64:2,384:1'); requests selecting other geometries get "
             "a 400 instead of keying a k-means retrain",
    )
    args = ap.parse_args()
    geoms = None
    if args.ann_geometries:
        geoms = frozenset(
            (int(g.split(":")[0]), int(g.split(":")[1]))
            for g in args.ann_geometries.split(",")
        )

    if args.workers > 1:
        if args.port == 0:
            print("--workers needs an explicit port (0 would scatter workers)")
            raise SystemExit(2)
        cmd = [sys.executable, "-m", "custom_python_vectordb_spark.server",
               args.root, str(args.port), "--reuse-port"]
        if args.serving_only:
            cmd.append("--serving-only")
        if args.ann_geometries:
            cmd += ["--ann-geometries", args.ann_geometries]
        if args.index_cache:
            cmd += ["--index-cache", args.index_cache]
        for s in args.snapshot or []:
            cmd += ["--snapshot", s]
        procs = [subprocess.Popen(cmd) for _ in range(args.workers)]

        def _stop(*_a):  # forward SIGTERM so no worker is orphaned
            for p in procs:
                p.terminate()
            raise SystemExit(0)

        import signal

        signal.signal(signal.SIGTERM, _stop)
        print(f"{args.workers} workers on http://127.0.0.1:{args.port} — Ctrl-C to stop")
        try:
            for p in procs:
                p.wait()
        except KeyboardInterrupt:
            for p in procs:
                p.terminate()
        return

    if args.serving_only:
        spark = None
    else:
        from custom_python_vectordb_spark.session import get_spark

        spark = get_spark("vectordb-server")
        spark.sparkContext.setLogLevel("ERROR")
    snaps = dict(s.split("=", 1) for s in args.snapshot or [])
    srv = make_server(
        VectorDB(spark, args.root, index_cache_dir=args.index_cache), args.port,
        reuse_port=args.reuse_port, ann_geometries=geoms, snapshots=snaps or None,
    )
    print(f"serving {args.root} on http://127.0.0.1:{srv.server_address[1]} — Ctrl-C to stop")
    try:
        srv.serve_forever()
    except KeyboardInterrupt:
        srv.shutdown()


if __name__ == "__main__":
    main()
