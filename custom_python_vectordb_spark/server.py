"""Minimal REST + SSE serving layer over VectorDB (SURVEY.md §2.1 S10, R1-R4).

The reference ships FastAPI servers (``server.py:182-438``,
``server_full.py:201-722``) that delegate to the engine; this is the same
delegation surface on the stdlib's HTTP request parser and a ``selectors``
loop, with ``orjson`` as its JSON codec (FastAPI isn't in this runtime),
so a reference user's REST workflow ports 1:1. Like a FastAPI
app, every route is declared once: the table ``_routes`` returns is the
list of the worker's routes, each with the preconditions it needs (a
collection, a Spark session, a versioned store).

Both streams (``/events`` SSE, ``/ws`` WebSocket, each also scoped to one
collection) carry the reference's realtime subscription semantics
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

The wire format is one JSON codec, :func:`loads` / :func:`dumps` on
``orjson`` (a server requirement, with no stdlib fallback), for every
request body, reply, SSE ``data:`` line and WS text frame:

- replies are compact raw UTF-8; NaN and ±Inf are written as ``null``;
  NumPy scalars and arrays serialize, and non-string dict keys become
  strings;
- request bodies are strict RFC 8259: ``NaN``/``Infinity`` literals, a
  number that overflows a double (``1e400``) and a non-UTF-8 (e.g.
  UTF-16) body answer 400; an integer beyond 64 bits decodes as a float;
- a JSON route's body must be an object, and reading a field it lacks is
  a 400 naming the field and the route; an error body echoes the
  request's ``X-Request-Id`` header as ``request_id``.
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
from email.utils import formatdate
from http.server import BaseHTTPRequestHandler
from typing import Callable, NamedTuple
from urllib.parse import parse_qs, unquote

import orjson

from custom_python_vectordb_spark.api import VectorDB
from custom_python_vectordb_spark.operators import shard_tier

# Request threads of a Spark-backed worker. A plan-backed route holds its
# thread in py4j for up to seconds; the other threads keep /health and the
# replica routes answering meanwhile.
POOL_THREADS = 8
# Framing limits: the most of one request the loop will buffer.
MAX_HEADER_BYTES = 64 * 1024
MAX_BODY_BYTES = 64 * 1024 * 1024
# An event stream idle this long sends a keepalive (SSE comment, WS ping).
KEEPALIVE_S = 15.0

# The one codec of the wire. Without these options orjson refuses NumPy
# scalars and non-string dict keys, which route payloads carry.
_DUMPS_OPTIONS = orjson.OPT_SERIALIZE_NUMPY | orjson.OPT_NON_STR_KEYS
# bytes (or str) -> object; orjson.JSONDecodeError is a ValueError: a 400
loads = orjson.loads


def dumps(obj) -> bytes:
    """Compact UTF-8 JSON of ``obj``; NaN and ±Inf become null. What it
    cannot encode raises orjson.JSONEncodeError, a TypeError: a 500."""
    return orjson.dumps(obj, option=_DUMPS_OPTIONS)


class EventBus:
    """In-process pub/sub with bounded replay, mirroring the reference's
    EventBus + ring history (``realtime.py:132-159``): publishers append to
    a ring buffer and fan out to subscriber queues; a subscriber may ask
    for the last N events on connect (replay), then receives live pushes.
    """

    def __init__(self, history: int = 1000):
        self._ring: deque[dict] = deque(maxlen=history)
        self._subs: set[_queue.Queue] = set()
        self._lock = threading.Lock()
        self._seq = 0

    def publish(self, event: dict) -> dict:
        with self._lock:
            self._seq += 1
            event = {"seq": self._seq, "ts": time.time(), **event}
            self._ring.append(event)
            queues = list(self._subs)
        for q in queues:
            q.put(event)
        return event

    def follow(self, replay: int, opened: Callable, deliver: Callable) -> None:
        """The push loop of every event stream. Subscribes, taking the last
        `replay` events in the same step, so none is missed or duplicated
        between them and the first live push; calls ``opened(n, queue)``
        with the number of replayed events and the live queue (another
        thread may put its own items on it, in line with the events); then
        hands ``deliver`` each replayed event marked ``replayed``, then each
        live item, and None whenever ``KEEPALIVE_S`` pass without one, until
        ``deliver`` returns False. Always unsubscribes."""
        q: _queue.Queue = _queue.Queue()
        with self._lock:
            self._subs.add(q)
            replayed = list(self._ring)[-replay:] if replay > 0 else []
        try:
            opened(len(replayed), q)
            for ev in replayed:
                deliver({**ev, "replayed": True})
            while True:
                try:
                    item = q.get(timeout=KEEPALIVE_S)
                except _queue.Empty:
                    item = None
                if deliver(item) is False:
                    return
        finally:
            with self._lock:
                self._subs.discard(q)


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


def _collection_name(name) -> str:
    """A collection name taken from a request: one path segment, and never
    ``.`` or ``..``, because the store joins it onto its root directory."""
    if not isinstance(name, str) or not name or name in (".", "..") or "/" in name:
        raise ValueError(f"invalid collection name {name!r}")
    return name


class _Body(dict):
    """A request's JSON object body. Reading a field it lacks as
    ``body[name]`` is a 400 (a ValueError) that names the field and the
    request; a KeyError raised further in is left as it is."""

    __slots__ = ("request",)

    def __init__(self, fields: dict, request: str):
        super().__init__(fields)
        self.request = request  # "METHOD /path"

    def __missing__(self, name):
        raise ValueError(f"missing field {name!r} in {self.request} body")


class _Route(NamedTuple):
    """One row of the route table: the function that serves the route, and
    the preconditions :meth:`_RouteTable.call` checks first, in this order."""

    run: Callable  # (handler, *path params) -> (status, payload), or a push function
    collection: bool = False  # the {name} collection must exist, else 404
    spark: bool = False  # runs a Spark plan: 503 on a --serving-only worker
    # needs a versioned store, else 400: always (True), or when the
    # request's query string has this key
    versioned: bool | str = False
    stream: bool = False  # a push stream: its socket leaves the loop


def _routes(
    db: VectorDB,
    bus: EventBus,
    graph: GraphStore,
    ann_geometries: frozenset | None = None,
    snapshots: dict | None = None,
) -> dict[str, _Route]:
    """Every route of a worker, as ``"METHOD /path/{param}"`` → :class:`_Route`.
    A route function takes the request's handler ``r``, with ``r.body`` (a
    :class:`_Body`), ``r.query`` and, on a collection route, ``r.coll``
    set, then the path parameters; it returns (status, JSON payload). It
    reads its required fields as ``r.body[name]`` before any work, so a
    request that lacks one costs nothing but the 400."""
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

    def publish(collection: str, event_type: str, **data):
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

    def found(what: str, key: str, item):
        """200 with `item`, or 404 naming the missing `what` when it is None."""
        return (200, item) if item is not None else (404, {"error": f"{what} {key!r} not found"})

    # ------------------------------------------------------------ service
    def embed(r):
        from custom_python_vectordb_spark.functions.embeddings import mock_embed_one

        dims = int(r.body.get("dimensions", 64))
        return 200, {
            "embeddings": [
                [float(x) for x in mock_embed_one(t, dims)] for t in r.body["texts"]
            ]
        }

    def list_snapshots(r):
        report = {}
        for n in sorted(snapshots):
            idx = shard_tier.resident(*_snapshot_key(n))
            report[n] = {"loaded": idx is not None,
                         **({"rows": len(idx), "shards": len(idx.shards)}
                            if idx is not None else {})}
        return 200, {"snapshots": report}

    def query_snapshot(r, name):
        if name not in snapshots:
            return 404, {"error": f"no snapshot {name!r}"}
        queries = r.body["query_embeddings"]
        k = int(r.body.get("n_results", 10))
        if not (1 <= k <= 1000):
            raise ValueError(f"n_results must be in [1, 1000], got {k}")
        fk = r.body.get("fetch_k")
        idx = _snapshot_index(name)
        out = []
        for v in queries:
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

    def reset(r):
        # Client.reset parity (fastpyvectordb/client.py:698-708): drop
        # every collection; destructive, cannot be undone
        names = list(db.list_collections())
        for name in names:
            db.delete_collection(name)
            publish(name, "drop_collection")
        return 200, {"reset": True, "dropped": len(names)}

    # ------------------------------------------------------------ collections
    def create(r):
        name = _collection_name(r.body["name"])
        db.create_collection(name, int(r.body.get("dimensions", 64)))
        publish(name, "create_collection")
        return 201, {"created": name}

    def drop(r, name):
        deleted = db.delete_collection(_collection_name(name))
        publish(name, "drop_collection")
        return 200, {"deleted": deleted}

    def info(r, name):
        # collection info (server_full.py:259-272)
        return 200, {"name": name, "dimensions": r.coll.dimensions, "count": r.coll.count()}

    def history(r, name):
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

    def optimize(r, name):
        v = db.warehouse.optimize(
            name,
            cluster_by=r.body.get("cluster_by"),
            zorder_by=r.body.get("zorder_by"),
            target_file_mb=float(r.body.get("target_file_mb", 128)),
        )
        publish(name, "optimize", version=v)
        return 200, {"optimized": name, "version": v}

    def clone(r, name):
        dst = r.body.get("dst")
        if not dst or not isinstance(dst, str):
            return 400, {"error": "clone requires a string 'dst' body field"}
        ver = r.body.get("version")
        if ver is not None:
            try:
                ver = int(ver)
            except (TypeError, ValueError):
                return 400, {"error": f"version must be an integer, got {ver!r}"}
        v = db.warehouse.clone(name, _collection_name(dst), version=ver)
        publish(dst, "clone", source=name, version=v)
        return 201, {"cloned": dst, "version": v}

    def diff(r, name):
        try:
            v_from = int(r.query["from"])
            v_to = int(r.query["to"])
        except (KeyError, ValueError):
            return 400, {"error": "diff requires integer 'from' and 'to' params"}
        rows = (
            db.warehouse.diff(name, v_from, v_to, r.query.get("on", "id"))
            .drop("embedding")
            .limit(int(r.query.get("limit", 1000)))
            .collect()
        )
        return 200, {"changes": [row.asDict(recursive=True) for row in rows]}

    def merge(r, name):
        on = r.body.get("on")
        rows = r.body.get("rows")
        if not on or not isinstance(rows, list) or not rows:
            return 400, {"error": "merge requires 'on' and non-empty 'rows'"}
        src = _texts_df(
            db,
            [row["id"] for row in rows],
            [row.get("document", "") for row in rows],
            [
                {k: v for k, v in row.items() if k not in ("id", "document")}
                for row in rows
            ],
            r.coll.dimensions,
        )
        v = db.warehouse.merge_into(
            name,
            src,
            on,
            when_matched=r.body.get("when_matched", "update"),
            when_not_matched=r.body.get("when_not_matched", "insert"),
        )
        publish(name, "merge", version=v, n_rows=len(rows))
        return 200, {"merged": name, "version": v}

    def add(r, name):
        b = r.body
        r.coll.insert_batch(
            _texts_df(db, b["ids"], b["documents"], b.get("metadatas"), r.coll.dimensions)
        )
        publish(name, "add", ids=list(b["ids"]), metadatas=b.get("metadatas"))
        return 201, {"added": len(b["ids"])}

    def upsert(r, name):
        b = r.body
        r.coll.upsert(
            _texts_df(db, b["ids"], b["documents"], b.get("metadatas"), r.coll.dimensions)
        )
        publish(name, "upsert", ids=list(b["ids"]), metadatas=b.get("metadatas"))
        return 200, {"upserted": len(b["ids"])}

    def update(r, name):
        ids, metas = list(r.body["ids"]), list(r.body["metadatas"])
        if len(ids) != len(metas):
            raise ValueError("ids and metadatas must be the same length")
        r.coll.update_metadata(_rows_df(db, [{"id": i, **m} for i, m in zip(ids, metas)]))
        publish(name, "update", ids=ids)
        return 200, {"updated": len(ids)}

    def delete_by_filter(r, name):
        import pyspark.sql.functions as F

        from custom_python_vectordb_spark.functions.filters import Filter

        pred = Filter.from_dict(r.body["where"]).column
        matched = r.coll.df().filter(F.coalesce(pred, F.lit(False))).count()
        r.coll.delete_by_filter(pred)
        publish(name, "delete_by_filter", where=r.body["where"], deleted=matched)
        return 200, {"deleted": matched}

    def peek(r, name):
        limit = int(r.query.get("limit", 10))
        if "version" in r.query:
            # time-travel read: pin the manifest instead of the head snapshot
            try:
                pin = int(r.query["version"])
            except ValueError:
                return 400, {"error": f"version must be an integer, got {r.query['version']!r}"}
            df = db.warehouse.load(name, version=pin).limit(limit)
        else:
            df = r.coll.peek(limit)
        return 200, {"rows": [row.asDict(recursive=True) for row in df.drop("embedding").collect()]}

    def query(r, name):
        # both unfiltered and dict-filtered queries take the in-process
        # replica path (api.query_serve) — same results as the declarative
        # plan (asserted in tests), no job round-trip; the dict filter
        # becomes a NumPy mask over replica-resident metadata (the
        # reference's P5 pattern). "ann": true routes to the IVF replica
        # (api.ann_serve) — the accelerated tier, approximate by contract;
        # "ivfpq": true to the cell-pruned PQ replica (api.ivfpq_serve),
        # 32x resident compression at cell-pruned latency; "bq": true to
        # the binary-quantized replica (api.bq_serve). ivfpq/bq take an
        # optional "fetch_k" exact mmap rerank
        b = r.body
        common = {
            "query_texts": b.get("query_texts"),
            "query_embeddings": b.get("query_embeddings"),
            "n_results": int(b.get("n_results", 10)),
        }
        kind = ("ann" if b.get("ann") else "ivfpq" if b.get("ivfpq")
                else "bq" if b.get("bq") else None)
        if kind is not None:
            serve = getattr(r.coll, f"{kind}_serve")
            return 200, {"results": serve(**common, **_accelerated(b, kind))}
        return 200, {"results": r.coll.query_serve(**common, where=b.get("where"))}

    def delete(r, name):
        r.coll.delete(list(r.body["ids"]))
        publish(name, "delete", ids=list(r.body["ids"]))
        return 200, {"deleted": len(r.body["ids"])}

    # in-process text replicas (api.keyword_serve: BM25, api.phrase_serve:
    # exact adjacency over a positional index, api.hybrid_serve: vector +
    # keyword replicas fused in numpy) — no job round-trip
    def keyword(r, name):
        return 200, {"results": r.coll.keyword_serve(
            r.body["query"], k=int(r.body.get("n_results", 10)))}

    def phrase(r, name):
        return 200, {"results": r.coll.phrase_serve(
            r.body["query"], k=int(r.body.get("n_results", 10)))}

    def hybrid(r, name):
        return 200, {"results": r.coll.hybrid_serve(
            r.body["query"], k=int(r.body.get("n_results", 10)),
            alpha=float(r.body.get("alpha", 0.5)))}

    # ------------------------------------------------------------ graph
    # reference parity (server_full.py:430-620): node/edge CRUD mutates the
    # store; neighbors/traverse/shortest-path/find/query run the batch
    # Spark operators over the store's DataFrame view
    def add_node(r):
        graph.add_node(r.body["id"], r.body.get("labels", []), r.body.get("props", {}))
        return 201, {"created": r.body["id"]}

    def add_edge(r):
        b = r.body
        eid = graph.add_edge(
            b["src"], b["dst"], b.get("type", "RELATED"),
            edge_id=b.get("id"), props=b.get("props"),
        )
        return (201, {"created": eid}) if eid else (404, {"error": "missing endpoint node"})

    def find_edges(r):
        edge_type = r.query.get("type") or r.body.get("type")
        limit = int(r.query.get("limit") or r.body.get("limit", 100))
        return 200, {"edges": graph.find_edges(edge_type=edge_type, limit=limit)}

    def add_hyperedge(r):
        hid = graph.add_hyperedge(
            list(r.body["nodes"]), r.body.get("type", "RELATED"), hyper_id=r.body.get("id")
        )
        return (201, {"created": hid}) if hid else (404, {"error": "missing member node"})

    def graph_query(r):
        # Cypher over HTTP (server_full.py:567-574) — compile the query to
        # one Spark SQL text over the expanded property-column view, as the
        # batch cypher_* queries do; its literals are bound as parameters,
        # and a bad query (unknown property, bad bounds) is a ValueError: 400
        from custom_python_vectordb_spark.plans.cypher import cypher

        text = r.body["query"]
        nodes, edges = graph.dfs(expand_props=True)
        rows = cypher(nodes, edges, text).limit(1000).collect()
        return 200, {"rows": [row.asDict(recursive=True) for row in rows]}

    def graph_neighbors(r, node_id):
        from custom_python_vectordb_spark.operators.graph import neighbors

        nodes, edges = graph.dfs()
        rows = neighbors(nodes, edges, node_id, direction="both").collect()
        return 200, {"neighbors": sorted(row["id"] for row in rows)}

    def traverse(r):
        from custom_python_vectordb_spark.operators.graph import traverse_paths

        start = r.body["start"]
        _, edges = graph.dfs()
        rows = traverse_paths(
            edges, start,
            max_depth=int(r.body.get("max_hops", 3)),
            direction=r.body.get("direction", "out"),
            edge_type=r.body.get("type"),
        ).collect()
        return 200, {"paths": [list(row["path"]) for row in rows]}

    def shortest(r):
        from custom_python_vectordb_spark.operators.graph import shortest_path

        src, dst = r.body["src"], r.body["dst"]
        _, edges = graph.dfs()
        rows = shortest_path(
            edges, src, dst, direction=r.body.get("direction", "out")
        ).collect()
        return 200, {"path": rows[0]["path_str"].split("->") if rows else None}

    def find(r):
        from pyspark.sql import functions as F

        from custom_python_vectordb_spark.operators.graph import find_nodes

        nodes, _ = graph.dfs()
        flt = None
        for k, v in (r.body.get("props") or {}).items():
            # get_json_object returns the JSON TEXT of the value (strings
            # unquoted) — Python str() diverges for bool (str(True)='True'
            # vs 'true'), None, and nested objects (round-2 ADVICE), so
            # serialize the expectation as compact JSON instead. JSON null
            # is unmatchable by design: get_json_object maps both null and
            # missing to SQL NULL.
            want = v if isinstance(v, str) else json.dumps(v, separators=(",", ":"))
            cond = F.get_json_object(F.col("props"), f"$.{k}") == want
            flt = cond if flt is None else (flt & cond)
        rows = find_nodes(nodes, labels=r.body.get("labels"), prop_filter=flt).collect()
        return 200, {"ids": sorted(row["id"] for row in rows)}

    # ------------------------------------------------------------ streams
    def sse(r, name=None):
        """GET /collections/<name>/events?types=a,b&replay=N&meta={…}, or
        GET /events?collection=…&… for the all-collections stream (the
        reference's ``/ws`` wildcard analog): replay up to N buffered
        events matching the subscription, then push live events until the
        client disconnects. `meta` is a JSON dict of metadata equality
        constraints (``Subscription.filter``)."""
        name = name or r.query.get("collection", "*")
        types = set(r.query["types"].split(",")) if r.query.get("types") else None
        meta = loads(r.query["meta"]) if r.query.get("meta") else None
        replay = int(r.query.get("replay", 0))

        def opened(n, q):
            r.send_response(200)
            r.send_header("Content-Type", "text/event-stream")
            r.send_header("Cache-Control", "no-cache")
            r.end_headers()
            r.wfile.flush()

        def deliver(ev):
            if ev is None:
                r.wfile.write(b": keepalive\n\n")  # SSE comment
            elif sub_match(ev, name, types, meta):
                r.wfile.write(b"id: %d\ndata: %b\n\n" % (ev["seq"], dumps(ev)))
            r.wfile.flush()

        return lambda: bus.follow(replay, opened, deliver)

    def ws(r, name="*"):
        """GET /collections/<name>/ws, or GET /ws for the all-collections
        stream (the reference's global WS endpoint, realtime.py:467-487):
        RFC 6455 upgrade, then the reference's subscribe flow
        (realtime.py:449-510 / server_full.py WS endpoint). The client's
        first text frame is {"action": "subscribe", "types": [...],
        "replay": N}; the server acks, replays, then pushes live JSON text
        frames. A later subscribe frame replaces the filters (the
        reference's update_subscription, realtime.py:171-183) in line with
        the events: one published before the frame meets the old filter.
        Ping frames get pongs; a close frame (or EOF) ends the
        subscription."""
        key = r.headers.get("Sec-WebSocket-Key")
        if not key or (r.headers.get("Upgrade") or "").lower() != "websocket":
            return 400, {"error": "a WebSocket stream needs 'Upgrade: websocket' "
                                  "and a Sec-WebSocket-Key"}

        def push():
            r.send_response(101)
            r.send_header("Upgrade", "websocket")
            r.send_header("Connection", "Upgrade")
            r.send_header("Sec-WebSocket-Accept", ws_accept_key(key))
            r.end_headers()
            r.wfile.flush()
            wlock = threading.Lock()

            def send(payload: bytes, opcode: int = 0x1):
                with wlock:
                    r.wfile.write(ws_encode_frame(payload, opcode))
                    r.wfile.flush()

            frame = ws_read_frame(r.rfile)
            if frame is None or frame[0] != 0x1:
                return
            try:
                sub = loads(frame[1] or b"{}")
            except orjson.JSONDecodeError:
                sub = {}
            state = {"collection": name}  # the live filter
            closed = object()

            def subscribe(upd: dict) -> None:
                state["collection"] = upd.get("collection", state["collection"])
                state["types"] = set(upd["types"]) if upd.get("types") else None
                state["meta"] = upd.get("filter")

            def reader(q):  # pong pings, queue subscribe frames, end on close/EOF
                try:
                    while True:
                        f = ws_read_frame(r.rfile)
                        if f is None or f[0] == 0x8:  # EOF / close
                            break
                        if f[0] == 0x9:  # ping
                            send(f[1], opcode=0xA)
                        elif f[0] == 0x1:  # text: update_subscription
                            try:
                                upd = loads(f[1] or b"{}")
                            except orjson.JSONDecodeError:
                                continue
                            if upd.get("action") == "subscribe":
                                q.put(("subscribe", upd))
                except (OSError, ValueError):
                    pass
                q.put(closed)

            def opened(n, q):
                threading.Thread(target=reader, args=(q,), daemon=True).start()
                send(dumps({"subscribed": name, "replay": n}))

            def deliver(ev):
                if ev is closed:
                    return False
                if ev is None:
                    send(b"", opcode=0x9)  # keepalive ping
                elif isinstance(ev, tuple):  # ("subscribe", frame) from the reader
                    subscribe(ev[1])
                    send(dumps({"subscribed": state["collection"]}))
                elif sub_match(ev, state["collection"], state["types"], state["meta"]):
                    send(dumps(ev))

            subscribe(sub)
            bus.follow(int(sub.get("replay", 0)), opened, deliver)
            send(b"", opcode=0x8)  # close handshake reply

        return push

    return {
        "GET /health": _Route(lambda r: (200, {"status": "ok", "collections": len(db.list_collections())})),
        "GET /embeddings/info": _Route(lambda r: (200, {"provider": "mock", "dimensions": 64})),
        "POST /embeddings/embed": _Route(embed),
        "GET /snapshots": _Route(list_snapshots),
        "POST /snapshots/{name}/query": _Route(query_snapshot),
        "POST /reset": _Route(reset),
        "GET /collections": _Route(lambda r: (200, {"collections": db.list_collections()})),
        "POST /collections": _Route(create, spark=True),
        "DELETE /collections/{name}": _Route(drop),
        "GET /collections/{name}": _Route(info, collection=True, spark=True),
        "GET /collections/{name}/count": _Route(
            lambda r, name: (200, {"count": r.coll.count()}), collection=True, spark=True),
        "GET /collections/{name}/history": _Route(history, collection=True, versioned=True),
        "POST /collections/{name}/optimize": _Route(optimize, collection=True, spark=True, versioned=True),
        "POST /collections/{name}/clone": _Route(clone, collection=True, spark=True, versioned=True),
        "GET /collections/{name}/diff": _Route(diff, collection=True, spark=True, versioned=True),
        "POST /collections/{name}/merge": _Route(merge, collection=True, spark=True, versioned=True),
        "POST /collections/{name}/add": _Route(add, collection=True, spark=True),
        "POST /collections/{name}/upsert": _Route(upsert, collection=True, spark=True),
        "POST /collections/{name}/update": _Route(update, collection=True, spark=True),
        "POST /collections/{name}/delete_by_filter": _Route(delete_by_filter, collection=True, spark=True),
        "GET /collections/{name}/peek": _Route(peek, collection=True, spark=True, versioned="version"),
        "POST /collections/{name}/query": _Route(query, collection=True),
        "GET /collections/{name}/get/{id}": _Route(
            lambda r, name, i: found("id", i, r.coll.get(i)), collection=True, spark=True),
        "POST /collections/{name}/delete": _Route(delete, collection=True, spark=True),
        "POST /collections/{name}/keyword": _Route(keyword, collection=True),
        "POST /collections/{name}/phrase": _Route(phrase, collection=True),
        "POST /collections/{name}/hybrid": _Route(hybrid, collection=True),
        "GET /graph/stats": _Route(lambda r: (200, graph.stats())),
        "POST /graph/nodes": _Route(add_node),
        "GET /graph/nodes/{id}": _Route(lambda r, i: found("node", i, graph.get_node(i))),
        "DELETE /graph/nodes/{id}": _Route(lambda r, i: (200, {"deleted": graph.delete_node(i)})),
        "POST /graph/edges": _Route(add_edge),
        "GET /graph/edges": _Route(find_edges),
        "GET /graph/edges/{id}": _Route(lambda r, i: found("edge", i, graph.get_edge(i))),
        "DELETE /graph/edges/{id}": _Route(lambda r, i: (200, {"deleted": graph.delete_edge(i)})),
        "POST /graph/hyperedges": _Route(add_hyperedge),
        "GET /graph/hyperedges/{id}": _Route(lambda r, i: found("hyperedge", i, graph.get_hyperedge(i))),
        "POST /graph/query": _Route(graph_query, spark=True),
        "GET /graph/neighbors/{id}": _Route(graph_neighbors, spark=True),
        "POST /graph/traverse": _Route(traverse, spark=True),
        "POST /graph/shortest-path": _Route(shortest, spark=True),
        "POST /graph/find": _Route(find, spark=True),
        "GET /events": _Route(sse, stream=True),
        "GET /collections/{name}/events": _Route(sse, stream=True),
        "GET /ws": _Route(ws, stream=True),
        "GET /collections/{name}/ws": _Route(ws, stream=True),
    }


class _RouteTable:
    """A worker's routes (:func:`_routes`), keyed on (method, path shape).
    A path's shape is its segments with the parameter positions of its
    first segment blanked (so no route may put a literal where another with
    its first segment has a parameter), and matching a request costs one
    split, one percent-decode per segment and one dict lookup; the query
    string is parsed only when there is one. :meth:`call` checks the
    matched route's preconditions, then runs it."""

    def __init__(self, db: VectorDB, routes: dict[str, _Route]):
        self.db = db
        self.routes = routes
        split = {key: (key.split()[0], key.split()[1].strip("/").split("/")) for key in routes}
        self._params: dict[str, frozenset[int]] = {}  # first segment -> parameter positions
        for _, parts in split.values():
            at = {i for i, p in enumerate(parts) if p[0] == "{"}
            self._params[parts[0]] = self._params.get(parts[0], frozenset()) | at
        self._shapes: dict[tuple, _Route] = {}
        for key, (method, parts) in split.items():
            at = self._params[parts[0]]
            shape = tuple("{}" if i in at else p for i, p in enumerate(parts))
            self._shapes[method, shape] = routes[key]

    def match(self, method: str, target: str) -> tuple[_Route, list[str], dict] | None:
        """(route, path parameters, query) for a request line's method and
        target, or None when no route has its shape."""
        path, _, qs = target.partition("?")
        parts = [unquote(p) for p in path.split("/") if p]
        at = self._params.get(parts[0], ()) if parts else ()
        route = self._shapes.get((method, tuple("{}" if i in at else p for i, p in enumerate(parts))))
        if route is None:
            return None
        query = {k: v[0] for k, v in parse_qs(qs).items()} if qs else {}
        return route, [p for i, p in enumerate(parts) if i in at], query

    def call(self, r: _Handler):
        """Serve the request the handler ``r`` has parsed: (status, JSON
        payload), or for a stream route the function that pushes it."""
        n = int(r.headers.get("Content-Length") or 0)
        body = loads(r.rfile.read(n)) if n else {}
        if not isinstance(body, dict):
            raise ValueError("the request body must be a JSON object")
        r.body = _Body(body, f"{r.command} {r.path.partition('?')[0]}")
        if r.match is None:
            return 404, {"error": f"no route {r.command} {r.path}"}
        route, params, r.query = r.match
        if route.stream:
            r.close_connection = True  # the stream's thread closes the socket
        if route.collection:
            try:
                r.coll = self.db.get_collection(_collection_name(params[0]))
            except FileNotFoundError:
                return 404, {"error": f"collection {params[0]!r} not found"}
        if route.spark and self.db.spark is None:
            return 503, {"error": f"{r.command} {r.path.partition('?')[0]} runs a Spark "
                                  "plan; this worker was started --serving-only and "
                                  "has no Spark session"}
        needs_versions = route.versioned is True or (
            route.versioned and route.versioned in r.query)
        if needs_versions and not hasattr(self.db.warehouse, "history"):
            return 400, {"error": "collection store is not versioned"}
        return route.run(r, *params)


class _Handler(BaseHTTPRequestHandler):
    """One request: the stdlib parser reads its request line and headers,
    then the route table serves it. :class:`LoopServer` runs one request
    per instance over the (rfile, wfile, route match) it passes as
    `request`, then reads the reply and close_connection back."""

    # WS clients reject a "HTTP/1.0 101" status line; every JSON route
    # sends Content-Length, so 1.1 keep-alive semantics are safe.
    protocol_version = "HTTP/1.1"

    def setup(self):
        self.rfile, self.wfile, self.match = self.request

    def handle(self):
        self.handle_one_request()

    def finish(self):
        self.wfile.flush()

    def _serve(self):
        try:  # encoding the reply included: a payload the codec refuses is a route fault
            out = self.server.routes.call(self)
            reply = None if callable(out) else self._reply(*out)
        except (KeyError, ValueError) as e:
            reply = self._reply(400, {"error": str(e)})
        except Exception as e:  # a route bug answers 500; the connection lives on
            traceback.print_exc()
            reply = self._reply(500, {"error": str(e), "type": type(e).__name__})
        if reply is None:
            out()  # a push stream: runs until the client goes away
        else:
            self.wfile.write(reply)

    def _reply(self, status: int, payload) -> bytes:
        """The route's reply; an error body echoes the request's
        ``X-Request-Id`` header, when it has one, as ``request_id``."""
        rid = self.headers.get("X-Request-Id") if status >= 400 else None
        if rid is not None and isinstance(payload, dict):
            payload = {**payload, "request_id": rid}
        return _respond(status, payload, close=self.close_connection)

    do_GET = do_POST = do_DELETE = _serve

    def log_message(self, *a):  # keep test output quiet
        pass


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


def _respond(status: int, payload, close: bool = False) -> bytes:
    """The bytes of one JSON reply, the routes' and the loop's refusals
    alike: the one place a reply's status line and headers are written.
    ``X-Worker`` names the worker process: SO_REUSEPORT pools balance per
    connection by kernel hash, so a client that cares about placement (a
    least-connections balancer, the soak's --distinct-workers mode) needs
    it. ``Connection: close`` says the connection ends after the reply."""
    body = dumps(payload)
    return (
        f"HTTP/1.1 {status} {BaseHTTPRequestHandler.responses[status][0]}\r\n"
        f"Content-Type: application/json\r\nContent-Length: {len(body)}\r\n"
        f"Date: {formatdate(usegmt=True)}\r\nX-Worker: {os.getpid()}\r\n"
        + ("Connection: close\r\n\r\n" if close else "\r\n")
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

    Each framed request is matched against ``routes`` (a
    :class:`_RouteTable`) and runs through :class:`_Handler` over
    in-memory files: inline on the loop when ``pool_threads`` is 0, else
    on a thread pool that hands the reply bytes back to the loop.
    A connection has one request in flight; the next pipelined one runs
    once the reply before it has been written, so replies keep request
    order. SSE and WebSocket requests take their socket off the loop and
    stream from a thread of their own.

    The framing layer bounds what it buffers: a header block over
    ``MAX_HEADER_BYTES`` gets 431, a ``Content-Length`` over
    ``MAX_BODY_BYTES`` 413 (the body is not buffered), a malformed one 400
    and any ``Transfer-Encoding`` 411; each then ends the connection."""

    def __init__(self, address, routes: _RouteTable, *, reuse_port: bool = False,
                 pool_threads: int = 0):
        self.routes = routes
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
            words = request_line.decode("latin-1").split()
            match = self.routes.match(words[0], words[1]) if len(words) >= 2 else None
            if match is not None and match[0].stream:
                self._detach(conn, req, match)
                return
            if self._pool is None:
                self._send(conn, *self._run(req, conn.addr, match))
            else:
                conn.busy = True
                self._pool.submit(self._run_pooled, conn, req, match)
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
        self._send(conn, _respond(status, {"error": message}, close=True), False)

    def _run(self, req: bytes, addr, match) -> tuple[bytes, bool]:
        """One request through the handler over in-memory files: (reply
        bytes, whether the connection closes after it)."""
        out = io.BytesIO()
        try:
            h = _Handler((io.BytesIO(req), out, match), addr, self)
        except Exception as e:  # the worker boundary: a fault is a 500, never a dead loop
            traceback.print_exc()
            return _respond(500, {"error": str(e), "type": type(e).__name__}, close=True), True
        return out.getvalue(), h.close_connection

    def _run_pooled(self, conn: _Conn, req: bytes, match) -> None:
        self._done.append((conn, *self._run(req, conn.addr, match)))
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
    def _detach(self, conn: _Conn, req: bytes, match) -> None:
        """Take a push-stream connection off the loop; a thread of its own
        runs the handler on the blocking socket, with the bytes the loop
        had already read in front."""
        sock, head = conn.sock, req + bytes(conn.inbuf)
        if conn.mask:
            self._sel.unregister(sock)
        conn.mask = 0
        conn.sock = None
        self._conns.discard(conn)
        threading.Thread(
            target=self._stream, args=(sock, conn.addr, head, match), daemon=True
        ).start()

    def _stream(self, sock: socket.socket, addr, head: bytes, match) -> None:
        sock.setblocking(True)
        try:
            with sock, sock.makefile("wb") as wfile:
                _Handler((io.BufferedReader(_Prefixed(sock, head)), wfile, match), addr, self)
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
    server carries an EventBus (`srv.bus`) publishing every mutation route,
    the graph store (`srv.graph`) and its route table (`srv.routes`).

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
    routes = _RouteTable(db, _routes(
        db, bus, graph,
        ann_geometries=frozenset(ann_geometries) if ann_geometries else None,
        snapshots=snapshots,
    ))
    srv = LoopServer(
        ("127.0.0.1", port), routes, reuse_port=reuse_port,
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
