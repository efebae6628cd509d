"""Typed HTTP client for the REST server — the reference's primary user API
(``client.py:1-350``, ``fastpyvectordb/client.py:161-441``) over this
engine's serving layer (server.py). Stdlib-only (urllib), so it runs where
the server runs: no extra dependencies.

Usage mirrors the reference's ChromaDB-flavoured surface::

    client = Client("http://127.0.0.1:8421")
    coll = client.get_or_create_collection("docs")
    coll.add(ids=["a", "b"], documents=["hello", "world"],
             metadatas=[{"lang": "en"}, {"lang": "en"}])
    hits = coll.query(query_texts=["hello"], n_results=5,
                      where={"lang": "en"})
    coll.upsert(ids=["a"], documents=["hello again"])
    coll.update(ids=["b"], metadatas=[{"lang": "de"}])
    coll.delete_by_filter({"lang": "de"})
    rows = coll.peek(5)

Every method is one HTTP round-trip; the server executes the corresponding
Spark plan and returns JSON. Event streams (SSE) are exposed as the
``events()`` generator, mirroring the reference's realtime subscribe
(``realtime.py:449-510``).
"""

from __future__ import annotations

import json
import socket
import urllib.error
import urllib.request
from typing import Any, Iterator
from urllib.parse import quote, urlencode


class ClientError(RuntimeError):
    """Non-2xx server reply, carrying the HTTP status and server message."""

    def __init__(self, status: int, message: str):
        super().__init__(f"HTTP {status}: {message}")
        self.status = status
        self.message = message


class Collection:
    """Handle to one server-side collection; all state lives on the server."""

    def __init__(self, client: "Client", name: str):
        self._client = client
        self.name = name
        # ids and names are quoted whole, "/" included: one path segment each
        self._path = f"/collections/{quote(name, safe='')}"

    # -- reads ------------------------------------------------------------
    def count(self) -> int:
        return self._client._request("GET", f"{self._path}/count")["count"]

    def __len__(self) -> int:
        return self.count()

    def get(self, id: str) -> dict | None:
        try:
            return self._client._request("GET", f"{self._path}/get/{quote(str(id), safe='')}")
        except ClientError as e:
            if e.status == 404:
                return None
            raise

    def peek(self, limit: int = 10, version: int | None = None) -> list[dict]:
        """First rows; `version` pins a past snapshot (time travel —
        versioned stores only, 400 otherwise)."""
        q = {"limit": int(limit)}
        if version is not None:
            q["version"] = int(version)
        return self._client._request("GET", f"{self._path}/peek?{urlencode(q)}")["rows"]

    # -- writes -----------------------------------------------------------
    def add(
        self,
        ids: list[str],
        documents: list[str],
        metadatas: list[dict] | None = None,
    ) -> int:
        """Insert (duplicate ids are rejected server-side — use upsert)."""
        body: dict[str, Any] = {"ids": ids, "documents": documents}
        if metadatas is not None:
            body["metadatas"] = metadatas
        return self._client._request(
            "POST", f"{self._path}/add", body
        )["added"]

    def upsert(
        self,
        ids: list[str],
        documents: list[str],
        metadatas: list[dict] | None = None,
    ) -> int:
        body: dict[str, Any] = {"ids": ids, "documents": documents}
        if metadatas is not None:
            body["metadatas"] = metadatas
        return self._client._request(
            "POST", f"{self._path}/upsert", body
        )["upserted"]

    def update(self, ids: list[str], metadatas: list[dict]) -> int:
        """Metadata merge: provided keys win, absent keys keep old values
        (the reference's update semantics, fastpyvectordb/client.py:357-394)."""
        return self._client._request(
            "POST",
            f"{self._path}/update",
            {"ids": ids, "metadatas": metadatas},
        )["updated"]

    def delete(self, ids: str | list[str]) -> int:
        if isinstance(ids, str):
            ids = [ids]
        return self._client._request(
            "POST", f"{self._path}/delete", {"ids": ids}
        )["deleted"]

    def delete_by_filter(self, where: dict) -> int:
        """Delete every row matching the predicate dict (same operator
        grammar as query `where`); returns the number deleted."""
        return self._client._request(
            "POST", f"{self._path}/delete_by_filter", {"where": where}
        )["deleted"]

    # -- search -----------------------------------------------------------
    def query(
        self,
        query_texts: list[str] | None = None,
        query_embeddings: list[list[float]] | None = None,
        n_results: int = 10,
        where: dict | None = None,
        ann: bool = False,
        bq: bool = False,
        ivfpq: bool = False,
        fetch_k: int | None = None,
        index_params: dict | None = None,
    ) -> list[list[dict]]:
        """Batch kNN; results[i] corresponds to input query i (positional
        contract, empty slot when a filter matches nothing). ``ann=True``
        routes to the server's IVF-replica accelerated tier (approximate
        by contract, measured-recall; incompatible with ``where``).
        ``bq=True`` routes to the binary-quantized 32×-compression tier
        (Hamming ranking; ``fetch_k`` adds the server-side exact rerank;
        also incompatible with ``where``). ``ivfpq=True`` routes to the
        cell-pruned PQ tier (round 11: 32× resident compression at
        cell-pruned latency; same ``fetch_k`` rerank and ``where``
        incompatibility). ``index_params`` forwards index geometry to the
        ann/ivfpq tiers (``n_cells``, ``nprobe``, and ``assign_r`` for
        ann) — the same per-request tuning surface the reference's client
        exposes for hnswlib's ef; the server contract-validates and 400s
        out-of-range values."""
        body: dict[str, Any] = {"n_results": n_results}
        if index_params:
            for key in ("n_cells", "nprobe", "assign_r"):
                if key in index_params:
                    body[key] = int(index_params[key])
        if query_texts is not None:
            body["query_texts"] = query_texts
        if query_embeddings is not None:
            body["query_embeddings"] = query_embeddings
        if where is not None:
            body["where"] = where
        if ann:
            body["ann"] = True
        if bq:
            body["bq"] = True
        if ivfpq:
            body["ivfpq"] = True
        if (bq or ivfpq) and fetch_k is not None:
            body["fetch_k"] = int(fetch_k)
        return self._client._request(
            "POST", f"{self._path}/query", body
        )["results"]

    def keyword_search(self, query: str, n_results: int = 10) -> list[dict]:
        return self._client._request(
            "POST",
            f"{self._path}/keyword",
            {"query": query, "n_results": n_results},
        )["results"]

    def phrase_search(self, phrase: str, n_results: int = 10) -> list[dict]:
        """Exact-adjacency phrase matching (positional index)."""
        return self._client._request(
            "POST",
            f"{self._path}/phrase",
            {"query": phrase, "n_results": n_results},
        )["results"]

    def hybrid(self, query: str, n_results: int = 10, alpha: float = 0.5) -> list[dict]:
        return self._client._request(
            "POST",
            f"{self._path}/hybrid",
            {"query": query, "n_results": n_results, "alpha": alpha},
        )["results"]

    # -- versioned-store admin (400 unless the server store is versioned) --
    def history(self) -> list[dict]:
        """Commit log of this collection (versioned stores only)."""
        return self._client._request("GET", f"{self._path}/history")["versions"]

    def optimize(
        self,
        cluster_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        target_file_mb: float = 128,
    ) -> int:
        """Compact (optionally cluster / Z-order) the collection; returns
        the committed version."""
        return self._client._request(
            "POST",
            f"{self._path}/optimize",
            {"cluster_by": cluster_by, "zorder_by": zorder_by, "target_file_mb": target_file_mb},
        )["version"]

    def clone(self, dst: str, version: int | None = None) -> "Collection":
        """Zero-copy shallow clone into a new collection `dst`."""
        self._client._request(
            "POST", f"{self._path}/clone", {"dst": dst, "version": version}
        )
        return Collection(self._client, dst)

    def diff(self, v_from: int, v_to: int, on: str = "id", limit: int = 1000) -> list[dict]:
        """Computed change feed between two versions (versioned stores
        only): rows with `_change` ∈ insert/update_postimage/delete."""
        return self._client._request(
            "GET",
            f"{self._path}/diff?"
            + urlencode({"from": v_from, "to": v_to, "on": on, "limit": limit}),
        )["changes"]

    def merge(
        self,
        rows: list[dict],
        on: str = "id",
        when_matched: str = "update",
        when_not_matched: str = "insert",
    ) -> int:
        """MERGE INTO (versioned stores only): each row = {'id': ...,
        'document': ..., **metadata}; matched target rows are updated (or
        deleted), unmatched rows inserted (or skipped). Returns the
        committed version."""
        return self._client._request(
            "POST",
            f"{self._path}/merge",
            {
                "rows": rows,
                "on": on,
                "when_matched": when_matched,
                "when_not_matched": when_not_matched,
            },
        )["version"]

    # -- realtime ---------------------------------------------------------
    def events(
        self,
        types: list[str] | None = None,
        replay: int = 0,
        timeout: float = 10.0,
    ) -> Iterator[dict]:
        """SSE subscription: yields mutation events (replayed history first
        when ``replay`` > 0, then live) until the socket times out or the
        caller breaks out of the loop."""
        q = {"replay": int(replay), **({"types": ",".join(types)} if types else {})}
        req = urllib.request.Request(f"{self._client.base_url}{self._path}/events?{urlencode(q)}")
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            try:
                for raw in resp:
                    line = raw.decode().strip()
                    if line.startswith("data:"):
                        yield json.loads(line[len("data:"):])
            except (socket.timeout, TimeoutError, OSError):
                return


class Client:
    """Entry point: collection management + health, mirroring the reference
    ``Client`` (fastpyvectordb/client.py:444-714)."""

    def __init__(self, base_url: str, timeout: float = 60.0):
        self.base_url = base_url.rstrip("/")
        self.timeout = timeout

    def _request(self, method: str, path: str, body: dict | None = None) -> dict:
        data = json.dumps(body).encode() if body is not None else None
        req = urllib.request.Request(
            self.base_url + path,
            data=data,
            method=method,
            headers={"Content-Type": "application/json"} if data else {},
        )
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                return json.loads(resp.read() or b"{}")
        except urllib.error.HTTPError as e:
            try:
                message = json.loads(e.read() or b"{}").get("error", str(e))
            except json.JSONDecodeError:
                message = str(e)
            raise ClientError(e.code, message) from None

    # -- health -----------------------------------------------------------
    def heartbeat(self) -> bool:
        return self._request("GET", "/health")["status"] == "ok"

    # -- collections ------------------------------------------------------
    def list_collections(self) -> list[str]:
        return self._request("GET", "/collections")["collections"]

    def create_collection(self, name: str, dimensions: int = 64) -> Collection:
        self._request("POST", "/collections", {"name": name, "dimensions": dimensions})
        return Collection(self, name)

    def get_collection(self, name: str) -> Collection:
        if name not in self.list_collections():
            raise ClientError(404, f"collection {name!r} not found")
        return Collection(self, name)

    def get_or_create_collection(self, name: str, dimensions: int = 64) -> Collection:
        if name in self.list_collections():
            return Collection(self, name)
        return self.create_collection(name, dimensions)

    def delete_collection(self, name: str) -> bool:
        return self._request("DELETE", f"/collections/{quote(name, safe='')}")["deleted"]

    def reset(self) -> bool:
        """Delete ALL collections (``fastpyvectordb/client.py:698-708``).
        Destructive and cannot be undone."""
        return self._request("POST", "/reset")["reset"]

    def __enter__(self) -> "Client":
        return self

    def __exit__(self, *exc) -> None:
        return None
