"""User-facing facade: VectorDB / Collection with the reference's client
surface (``fastpyvectordb/client.py``, ``vectordb_optimized.py:746-818``),
re-expressed over the Spark engine. A user of the reference switches by
constructing ``VectorDB(spark, root)`` instead of ``VectorDB(path)``.

Semantic deltas, all strict improvements and documented:
- search is exact (filter-then-rank) — no fetch_k over-fetch, never
  returns < k when k matches exist (fixes the reference's filtered-ANN
  correctness hole, ``vectordb_optimized.py:531-532``)
- mutations are batch rewrite jobs (no tombstones, no locks)
- results come back as DataFrames (collect() for lists-of-dicts parity)
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from custom_python_vectordb_spark.functions.embeddings import embed_column, mock_embed_one
from custom_python_vectordb_spark.functions.filters import Filter
from custom_python_vectordb_spark.operators import mutations
from custom_python_vectordb_spark.operators.bm25 import bm25_topk, hybrid_search
from custom_python_vectordb_spark.operators.knn import ReplicaCapacityError, knn
from custom_python_vectordb_spark.operators.shard_tier import EmptyShardSetError
from custom_python_vectordb_spark.sources.warehouse import Warehouse
from custom_python_vectordb_spark.functions.local_relation import local_df


class Collection:
    """One vector collection = one Parquet table
    (id STRING, embedding ARRAY<FLOAT>, …metadata columns)."""

    def __init__(self, db: "VectorDB", name: str, dimensions: int):
        self.db = db
        self.name = name
        self.dimensions = dimensions

    # -- reads ------------------------------------------------------------
    def df(self) -> DataFrame:
        return self.db.warehouse.load(self.name)

    def count(self) -> int:
        return self.df().count()

    def get(self, id: str, include_vector: bool = False) -> dict | None:
        rows = self.df().filter(F.col("id") == id).collect()
        if not rows:
            return None
        d = rows[0].asDict(recursive=True)
        if not include_vector:
            d.pop("embedding", None)
        return d

    def get_batch(self, ids: list[str], include_vectors: bool = False) -> list[dict]:
        ids_df = local_df(self.db.spark, list(ids), "id string")
        rows = self.df().join(F.broadcast(ids_df), "id", "left_semi").collect()
        out = []
        for r in rows:
            d = r.asDict(recursive=True)
            if not include_vectors:
                d.pop("embedding", None)
            out.append(d)
        return out

    def list_ids(self, limit: int = 100, offset: int = 0) -> list[str]:
        return [
            r["id"]
            for r in self.df().select("id").orderBy("id").offset(offset).limit(limit).collect()
        ]

    def peek(self, n: int = 5) -> DataFrame:
        return self.df().orderBy("id").limit(n)

    # -- writes -----------------------------------------------------------
    def _validate(self, df: DataFrame) -> DataFrame:
        bad = df.filter(F.size("embedding") != self.dimensions).count()
        if bad:
            raise ValueError(f"{bad} vector(s) with wrong dimension, expected {self.dimensions}")
        return df

    def insert_batch(self, df: DataFrame) -> None:
        merged = mutations.insert_batch(self.df(), self._validate(df), "id")
        self.db.warehouse.save(self.name, merged)

    def upsert(self, df: DataFrame) -> None:
        merged = mutations.upsert(self.df(), self._validate(df), "id")
        self.db.warehouse.save(self.name, merged)

    def delete(self, ids: list[str]) -> None:
        self._delete_where(F.col("id").isin(ids), lambda df: mutations.delete_ids(df, ids, "id"))

    def delete_by_filter(self, predicate: Column | Filter) -> None:
        pred = predicate.column if isinstance(predicate, Filter) else predicate
        self._delete_where(pred, lambda df: mutations.delete_by_filter(df, pred))

    def _delete_where(self, pred: Column, rewrite) -> None:
        wh = self.db.warehouse
        if hasattr(wh, "delete_where"):
            # versioned store: O(deleted-keys) deletion-vector commit instead
            # of a table rewrite; the next overwrite (insert/upsert) or
            # optimize() materializes it. query_serve transparently falls
            # back to the declarative plan while vectors are active.
            wh.delete_where(self.name, pred, key_col="id")
        else:
            wh.save(self.name, rewrite(self.df()))

    def update_metadata(self, changes: DataFrame) -> None:
        # open metadata schema: a change set may introduce brand-new columns;
        # materialize them as typed NULLs first so update_merge's
        # coalesce(new, old) resolves (insert_batch gets this for free from
        # unionByName(allowMissingColumns=True))
        existing = self.df()
        for f in changes.schema.fields:
            if f.name not in existing.columns:
                existing = existing.withColumn(f.name, F.lit(None).cast(f.dataType))
        self.db.warehouse.save(self.name, mutations.update_merge(existing, changes, "id"))

    # -- search -----------------------------------------------------------
    def search(
        self,
        vector: list[float] | None = None,
        query_text: str | None = None,
        k: int = 10,
        metric: str = "cosine",
        where: dict[str, Any] | Column | Filter | None = None,
        mode: str = "exact",
        n_cells: int = 16,
        nprobe: int = 2,
        include_vector: bool = False,
    ) -> DataFrame:
        """kNN; `query_text` is embedded with the deterministic mock
        provider (server-side embed, ``server_full.py:360-362``).

        `mode`: 'exact' (default — filter-then-rank, always exhaustive) or
        'ivf' (sample-centroid inverted file, scans ~nprobe/n_cells of the
        corpus; the HNSW-accelerator role at cluster scale). Filters apply
        to candidates in ivf mode (post-probe), exactly in exact mode.
        """
        if (vector is None) == (query_text is None):
            raise ValueError("provide exactly one of vector / query_text")
        if vector is None:
            vector = mock_embed_one(query_text, self.dimensions).tolist()
        cond = None
        if isinstance(where, dict):
            cond = Filter.from_dict(where).column
        elif isinstance(where, Filter):
            cond = where.column
        elif where is not None:
            cond = where
        queries = local_df(
            self.db.spark, [(0, [float(x) for x in vector])], "qid long, qvec array<float>"
        )
        payload = [c for c in self.df().columns if c not in ("id", "embedding")]
        if include_vector:
            payload = payload + ["embedding"]
        if mode == "exact":
            return knn(
                self.df(), queries, k=k, metric=metric, id_col="id",
                filter_cond=cond, payload_cols=payload,
            ).drop("qid")
        if mode == "ivf":
            from custom_python_vectordb_spark.operators.similarity import knn_ivf

            from pyspark.sql import Window

            corpus = self.df() if cond is None else self.df().filter(cond)
            cents = (
                corpus.orderBy("id").limit(n_cells)
                .select(
                    # bounded input (limit n_cells above) — single partition is
                    # the intent, not an accident
                    (F.row_number().over(Window.partitionBy(F.lit(0)).orderBy("id")) - 1).alias("cluster"),
                    F.col("embedding").alias("cvec"),
                )
            )
            hits = knn_ivf(
                corpus, queries, cents, k=k, nprobe=nprobe, metric=metric, id_col="id"
            ).drop("qid")
            # the metadata join would otherwise discard knn_ivf's ordering —
            # re-apply it so both modes return rows sorted by (dist, id), and
            # honor include_vector the same way exact mode does
            meta = self.df() if include_vector else self.df().drop("embedding")
            return hits.join(meta, "id", "left").orderBy("dist", "id")
        raise ValueError(f"unknown search mode {mode!r}; one of exact|ivf")

    def query(
        self,
        query_texts: list[str] | None = None,
        query_embeddings: list[list[float]] | None = None,
        n_results: int = 10,
        where: dict[str, Any] | Filter | None = None,
        metric: str = "cosine",
    ) -> DataFrame:
        """ChromaDB-style batch entry point (``fastpyvectordb/client.py:
        184-274``): texts XOR embeddings, many queries in ONE plan. Returns
        (qid, id, dist, …metadata) — qid indexes the input list."""
        if (query_texts is None) == (query_embeddings is None):
            raise ValueError("provide exactly one of query_texts / query_embeddings")
        if query_embeddings is None:
            query_embeddings = [
                mock_embed_one(t, self.dimensions).tolist() for t in query_texts
            ]
        queries = local_df(
            self.db.spark,
            [(i, [float(x) for x in v]) for i, v in enumerate(query_embeddings)],
            "qid long, qvec array<float>",
        )
        if isinstance(where, Filter):
            cond = where.column
        else:
            cond = Filter.from_dict(where).column if where else None
        payload = [c for c in self.df().columns if c not in ("id", "embedding")]
        return knn(
            self.df(), queries, k=n_results, metric=metric, id_col="id",
            filter_cond=cond, payload_cols=payload,
        )

    def _embeddings(self, query_texts, query_embeddings) -> list:
        """The query vectors of a texts-XOR-embeddings call; texts are
        embedded with the mock provider at the collection's dimension."""
        if (query_texts is None) == (query_embeddings is None):
            raise ValueError("provide exactly one of query_texts / query_embeddings")
        if query_embeddings is None:
            return [mock_embed_one(t, self.dimensions).tolist() for t in query_texts]
        return query_embeddings

    def _serve(self, serve, fallback, empty):
        """The one preamble of every ``*_serve`` method: ``serve(paths)``
        over the collection's shard files, except that
        - active deletion vectors (raw shards would resurrect the deleted
          rows) and a replica above its byte budget
          (``ReplicaCapacityError``) answer with ``fallback()``, a plan or
          path that is correct at any size (round-4 ADVICE #2);
        - a collection with no shard files, or whose files hold no rows
          (``EmptyShardSetError``), answers ``empty``."""
        try:
            paths = self.db.warehouse.shard_paths(self.name)
        except RuntimeError:
            return fallback()
        if not paths:
            return empty
        try:
            return serve(paths)
        except ReplicaCapacityError:
            return fallback()
        except EmptyShardSetError:
            return empty

    def query_serve(
        self,
        query_texts: list[str] | None = None,
        query_embeddings: list[list[float]] | None = None,
        n_results: int = 10,
        metric: str = "cosine",
        max_bytes: int = 2 << 30,
        where: dict[str, Any] | Filter | None = None,
    ) -> list[list[dict]]:
        """Serving twin of :meth:`query`: same (texts XOR embeddings, k,
        metric, where) contract and the same (dist, id) rank rule, so the
        same ids in the same order wherever the two engines' distances
        agree (asserted in tests, boundary ties included), but answered by
        the in-process shard replica
        (``operators/knn.knn_replica_serve``) instead of a scheduled plan —
        milliseconds instead of a job round-trip, for collections whose
        decoded vectors fit ``max_bytes``. ``where`` (a dict or a
        spec-carrying :class:`Filter`) is applied as a NumPy boolean mask
        over replica-resident metadata columns — the reference's vectorized
        filter-mask serving path (P5, ``parallel_search.py:212-217``,
        filtered search ``vectordb_optimized.py:531-575``); a Filter built
        around a raw Column has no spec and raises (use :meth:`query`).
        Returns the server's positional shape directly: ``results[i]`` =
        list of {id, dist} for input query i. The replica re-decodes
        automatically when a mutation rewrites the table (cache keyed on
        shard path+mtime+size)."""
        import pandas as pd

        from custom_python_vectordb_spark.operators.knn import (
            knn_replica_serve,
            replica_metadata,
            resolve_replica,
        )

        embs = self._embeddings(query_texts, query_embeddings)
        filt: Filter | None = None
        if where is not None:
            filt = where if isinstance(where, Filter) else Filter.from_dict(where)
            if filt.spec is None:
                raise ValueError(
                    "query_serve needs a spec-carrying Filter (Filter.where / "
                    "from_dict / combinators); raw-Column filters need query()"
                )
        qpd = pd.DataFrame(
            {"qid": range(len(embs)), "qvec": [[float(x) for x in v] for v in embs]}
        )

        def declarative() -> list[list[dict]]:
            rows = (
                self.query(query_embeddings=embs, n_results=n_results, metric=metric, where=where)
                .select("qid", "id", "dist")
                .collect()
            )
            out = [[] for _ in embs]
            for r in rows:
                out[int(r["qid"])].append({"id": r["id"], "dist": float(r["dist"])})
            return out

        def serve(paths) -> list[list[dict]]:
            mask = None
            if filt is not None:
                rep = resolve_replica(paths, id_col="id", max_bytes=max_bytes)
                n_rows = 0 if rep is None else len(rep.ids)
                cols = replica_metadata(paths, sorted(filt.fields()), id_col="id")
                # absent columns map to None → dropped → leaf sees missing ⇒ False
                cols = {c: v for c, v in cols.items() if v is not None}
                mask = filt.mask(cols, n_rows)
            res = knn_replica_serve(
                paths, qpd, k=n_results, metric=metric, id_col="id", max_bytes=max_bytes,
                mask=mask,
            )
            out: list[list[dict]] = [[] for _ in embs]
            for qid, vid, dist in zip(res["qid"], res["id"], res["dist"]):
                out[int(qid)].append({"id": vid, "dist": float(dist)})
            return out

        return self._serve(serve, declarative, [[] for _ in embs])

    def ann_serve(
        self,
        query_texts: list[str] | None = None,
        query_embeddings: list[list[float]] | None = None,
        n_results: int = 10,
        metric: str = "cosine",
        n_cells: int = 64,
        nprobe: int = 8,
        assign_r: int = 2,
    ) -> list[list[dict]]:
        """APPROXIMATE serving twin of :meth:`query_serve` — the product
        facade over ``operators/partitioned.ivf_replica_serve`` (the
        reference serves its collections through hnswlib by default,
        ``vectordb_optimized.py:271-280``; this is the same accelerated
        tier with the IVF replica). Trades exactness for probe-pruned
        scan (≈ nprobe·2/n_cells of brute force); recall is measured in
        bench/tests, never assumed. Falls back to the EXACT serving path
        while deletion vectors are active (raw shards would resurrect
        deleted rows) — approximate must never also mean stale.

        r12: serves through the stat-checked shard tier
        (``partitioned.ivf_handle_for`` + ``search_one`` per query)
        instead of the batch ``ivf_replica_serve`` — same index, same
        probe and rank rules, but the per-request GIL-held plumbing drops
        ~1.8 ms → ~0.05 ms (under the
        earlier thread-per-connection server the batch path convoyed 8
        handler threads below single-stream throughput). Freshness
        contract unchanged: the handle refreshes
        on any shard (path, mtime, size) change."""
        import numpy as np

        from custom_python_vectordb_spark.operators.partitioned import (
            ivf_handle_for,
        )

        embs = self._embeddings(query_texts, query_embeddings)

        def serve(paths) -> list[list[dict]]:
            # float32 tier: the reference's serving dtype (hnswlib stores
            # float32) and half the probe traffic of float64 — recall at
            # this geometry is measured in bench (knn_ivf_replica rows)
            handle = ivf_handle_for(
                paths, n_cells=n_cells, nprobe=nprobe, assign_r=assign_r,
                metric=metric, id_col="id", dtype="float32",
                index_dir=self.db.index_cache_dir,
            )
            out: list[list[dict]] = []
            for v in embs:
                ids, dists = handle.search_one(np.asarray(v, dtype=np.float64), n_results)
                out.append([{"id": str(i), "dist": float(d)} for i, d in zip(ids, dists)])
            return out

        return self._serve(
            serve,
            lambda: self.query_serve(query_embeddings=embs, n_results=n_results, metric=metric),
            [[] for _ in embs],
        )

    def bq_serve(
        self,
        query_texts: list[str] | None = None,
        query_embeddings: list[list[float]] | None = None,
        n_results: int = 10,
        fetch_k: int | None = None,
    ) -> list[list[dict]]:
        """Binary-quantized serving twin (round 6) — the 32×-compression
        tier over ``operators/quantization.bq_replica_serve``: 1-bit codes
        resident (a 100K×128 collection is 1.6 MB), SWAR-popcount Hamming
        scan. APPROXIMATE by contract — 1-bit codes rank by Hamming
        distance, which washes out fine within-cluster detail (coarse
        recall is measured in bench, not assumed); pass ``fetch_k`` to
        add the mmap exact-L2 rerank over the coarse candidates. Falls
        back to the exact serving path while deletion vectors are active,
        like :meth:`ann_serve`."""
        import os

        import pandas as pd

        from custom_python_vectordb_spark.operators.quantization import (
            bq_replica_serve,
        )

        embs = self._embeddings(query_texts, query_embeddings)
        kw: dict[str, Any] = {}
        if fetch_k is not None:
            kw = {
                "fetch_k": int(fetch_k),
                "rerank_mmap_dir": os.path.join(
                    self.db.warehouse.root, ".bq_rerank_cache", self.name
                ),
            }

        def serve(paths) -> list[list[dict]]:
            qpd = pd.DataFrame(
                {"qid": range(len(embs)), "qvec": [[float(x) for x in v] for v in embs]}
            )
            res = bq_replica_serve(paths, qpd, k=n_results, id_col="id", **kw)
            out: list[list[dict]] = [[] for _ in embs]
            for qid, vid, dist in zip(res["qid"], res["id"], res["dist"]):
                out[int(qid)].append({"id": vid, "dist": float(dist)})
            return out

        return self._serve(
            serve,
            lambda: self.query_serve(query_embeddings=embs, n_results=n_results, metric="l2"),
            [[] for _ in embs],
        )

    def ivfpq_serve(
        self,
        query_texts: list[str] | None = None,
        query_embeddings: list[list[float]] | None = None,
        n_results: int = 10,
        n_cells: int = 64,
        nprobe: int = 6,
        fetch_k: int | None = None,
        num_subspaces: int | str = 16,
        target_recall: float = 0.99,
    ) -> list[list[dict]]:
        """Cell-pruned PQ serving (round 11) — the FAISS-IVFPQ tier over
        ``operators/partitioned.IvfPqReplicaHandle``: coarse IVF cells
        prune which rows are scored, resident PQ codes (32× at D=128)
        bound what RAM holds, and ``fetch_k`` adds the disk-mmap exact-L2
        rerank (recall is measured in bench, never assumed). APPROXIMATE
        by contract on both axes (unprobed cells + quantized ranking).
        Falls back to the exact serving path while deletion vectors are
        active, like :meth:`ann_serve`/:meth:`bq_serve`.

        ``num_subspaces="auto"`` (r13) picks the smallest M whose
        probed-cell rerank recall@10 reaches ``target_recall`` at full
        corpus density — the 10M probe showed the right M doubles per
        density decade, so a hand-tuned default silently under-resolves
        denser corpora (SCALING.md VEC10M)."""
        import os

        from custom_python_vectordb_spark.operators.partitioned import (
            IvfPqReplicaHandle,
        )

        embs = self._embeddings(query_texts, query_embeddings)
        kw: dict[str, Any] = {}
        if fetch_k is not None:
            kw["rerank_mmap_dir"] = os.path.join(
                self.db.warehouse.root, ".bq_rerank_cache", self.name
            )
        fk = {} if fetch_k is None else {"fetch_k": int(fetch_k)}

        def serve(paths) -> list[list[dict]]:
            handle = IvfPqReplicaHandle(
                paths, n_cells=n_cells, nprobe=nprobe, id_col="id",
                num_subspaces=num_subspaces, target_recall=target_recall, **kw
            )
            out: list[list[dict]] = []
            for v in embs:
                ids, dists = handle.search_one([float(x) for x in v], k=n_results, **fk)
                out.append([{"id": i, "dist": float(d)} for i, d in zip(ids, dists)])
            return out

        return self._serve(
            serve,
            lambda: self.query_serve(query_embeddings=embs, n_results=n_results, metric="l2"),
            [[] for _ in embs],
        )

    def keyword_search(self, query: str, k: int = 10) -> DataFrame:
        return bm25_topk(self.df(), query, k=k, id_col="id", text_col="_document")

    def keyword_serve(self, query: str, k: int = 10) -> list[dict]:
        """Serving twin of :meth:`keyword_search` — the in-process BM25
        replica (``operators/bm25.keyword_replica_serve``, mirroring the
        reference's in-RAM ``BM25Index``): the same (score desc, id)
        ranking, no Spark job on the hot path. Falls back to the
        declarative plan while deletion vectors are active (raw shards
        would resurrect deleted rows) or above the replica's text budget."""
        from custom_python_vectordb_spark.operators.bm25 import keyword_replica_serve

        def declarative() -> list[dict]:
            rows = self.keyword_search(query, k=k).collect()
            return [{"id": r["id"], "score": float(r["score"])} for r in rows]

        return self._serve(
            lambda paths: [
                {"id": i, "score": s}
                for i, s in keyword_replica_serve(paths, query, k=k, id_col="id")
            ],
            declarative,
            [],
        )

    def phrase_search(self, phrase: str, k: int = 10) -> DataFrame:
        from custom_python_vectordb_spark.operators.bm25 import phrase_search

        return phrase_search(self.df(), phrase, k=k, id_col="id", text_col="_document")

    def phrase_serve(self, phrase: str, k: int = 10) -> list[dict]:
        """Serving twin of :meth:`phrase_search` — the in-process positional
        index (``operators/bm25.phrase_replica_serve``): identical match
        counts/ranking, no Spark job. Same fallbacks as keyword_serve
        (declarative plan under deletion vectors or above the replica's
        text budget)."""
        from custom_python_vectordb_spark.operators.bm25 import phrase_replica_serve

        def declarative() -> list[dict]:
            rows = self.phrase_search(phrase, k=k).collect()
            return [{"id": r["id"], "n_matches": int(r["n_matches"])} for r in rows]

        return self._serve(
            lambda paths: [
                {"id": i, "n_matches": int(n)}
                for i, n in phrase_replica_serve(paths, phrase, k=k, id_col="id")
            ],
            declarative,
            [],
        )

    def hybrid_serve(self, query_text: str, k: int = 10, alpha: float = 0.5) -> list[dict]:
        """Serving twin of :meth:`hybrid` — full in-process fusion (the
        reference's own architecture, ``hybrid_search.py:360-477``, runs
        exactly this in RAM): the vector replica yields the full distance
        vector, the keyword replica the full BM25 score vector, and the
        fusion (corpus-max normalizers, α-weighted sum, top-k by (score
        desc, id) through the shared top-k) is a few numpy array ops.
        Results match :meth:`hybrid` to float tolerance (asserted in
        tests). Falls back to the declarative plan while deletion vectors
        are active or above either replica's budget."""
        import numpy as np

        from custom_python_vectordb_spark.operators.bm25 import keyword_score_vector
        from custom_python_vectordb_spark.operators.knn import replica_distance_vector
        from custom_python_vectordb_spark.operators.topk import topk_positions

        def declarative() -> list[dict]:
            rows = self.hybrid(query_text, k=k, alpha=alpha).collect()
            return [
                {
                    "id": r["id"], "score": float(r["score"]),
                    "vector_score": float(r["vector_score"]),
                    "keyword_score": float(r["keyword_score"]),
                }
                for r in rows
            ]

        def serve(paths) -> list[dict]:
            qvec = mock_embed_one(query_text, self.dimensions).tolist()
            ids_v, dists = replica_distance_vector(paths, qvec, "cosine", id_col="id")
            ids_k, kscores = keyword_score_vector(paths, query_text, id_col="id")
            # both replicas decode the SAME shard files in the same sorted
            # order, so the row alignment is structural; assert it anyway
            assert len(ids_v) == len(ids_k)
            vmax = float(dists.max()) if len(dists) else 0.0
            vscore = (1.0 - dists / vmax) if vmax > 0 else np.ones_like(dists)
            kmax = float(kscores.max()) if len(kscores) else 0.0
            kscore = kscores / kmax if kmax > 0 else np.zeros_like(kscores)
            combined = alpha * vscore + (1 - alpha) * kscore
            return [
                {
                    "id": ids_v[i], "score": float(combined[i]),
                    "vector_score": float(vscore[i]), "keyword_score": float(kscore[i]),
                }
                for i in topk_positions(np, ids_v, -combined, k)
            ]

        return self._serve(serve, declarative, [])

    def hybrid(self, query_text: str, k: int = 10, alpha: float = 0.5) -> DataFrame:
        qv = local_df(
            self.db.spark,
            [(mock_embed_one(query_text, self.dimensions).tolist(),)], "qvec array<float>"
        )
        return hybrid_search(
            self.df(), self.df(), qv, query_text, k=k, alpha=alpha,
            vec_id_col="id", doc_id_col="id", text_col="_document",
        )

    def add_texts(self, texts: list[tuple[str, str]], **metadata_cols) -> None:
        """ChromaDB-style: (id, document) pairs embedded on insert; the raw
        text is kept in `_document` (the reference's `_`-prefixed internal
        field convention, stripped from result projections)."""
        df = self.db.spark.createDataFrame(texts, "id string, _document string")
        df = embed_column(df, "_document", "embedding", self.dimensions)
        for col, vals in metadata_cols.items():
            mapping = F.create_map(*[F.lit(x) for kv in vals.items() for x in kv])
            df = df.withColumn(col, mapping[F.col("id")])
        self.insert_batch(df)


class VectorDB:
    """Multi-collection database over a warehouse directory.

    `versioned=True` swaps the dir-rename store for the table-format commit
    log (`sources/versioned.py`): atomic manifest commits, O(delta) appends,
    time travel via `db.warehouse.load(name, version=n)`. Same interface."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        versioned: bool = False,
        index_cache_dir: str | None = None,
    ):
        self.spark = spark
        if versioned:
            from custom_python_vectordb_spark.sources.versioned import VersionedWarehouse

            self.warehouse: Warehouse | VersionedWarehouse = VersionedWarehouse(spark, root)
        else:
            self.warehouse = Warehouse(spark, root)
        self._dims: dict[str, int] = {}
        # r13 warm-start tier: when set, accelerated serving handles
        # persist their built index here (IvfReplicaHandle.save_index) and
        # booting workers LOAD instead of re-running k-means — see
        # ivf_handle_for(index_dir=...). Stat-key freshness still governs.
        self.index_cache_dir = index_cache_dir

    def create_collection(self, name: str, dimensions: int, overwrite: bool = False) -> Collection:
        if self.warehouse.exists(name):
            if not overwrite:
                raise ValueError(f"collection {name!r} already exists")
            self.warehouse.drop(name)
        empty = self.spark.createDataFrame([], f"id string, embedding array<float>, _document string")
        self.warehouse.save(name, empty)
        self._dims[name] = dimensions
        return Collection(self, name, dimensions)

    def get_collection(self, name: str, dimensions: int | None = None) -> Collection:
        if not self.warehouse.exists(name):
            raise FileNotFoundError(f"collection {name!r} does not exist")
        dim = dimensions or self._dims.get(name)
        if dim is None:
            # dimension discovery straight off the parquet shards (r12):
            # no Spark job on the serving path, and it works in a
            # spark-less serving-only worker (server.py --serving-only)
            try:
                paths = self.warehouse.shard_paths(name)
            except (RuntimeError, FileNotFoundError):
                paths = []  # e.g. active deletion vectors: use the plan
            has_rows = False
            for p in paths:
                import pyarrow.parquet as pq

                f = pq.ParquetFile(p)
                if not f.metadata.num_rows:
                    continue
                has_rows = True
                # scan forward for the first NON-NULL embedding — the
                # first row (or the whole first shard) may hold NULLs, and
                # stopping there silently mis-sized the collection (r13,
                # ADVICE low: a --serving-only worker then fell back to 64
                # and embedded query_texts at the wrong dimensionality)
                for batch in f.iter_batches(batch_size=256, columns=["embedding"]):
                    col = batch.column("embedding")
                    if col.null_count == len(col):
                        continue
                    for v in col:
                        if v.is_valid:
                            dim = len(v)
                            break
                    if dim is not None:
                        break
                if dim is not None:
                    break
            if dim is None and has_rows and self.spark is None:
                raise ValueError(
                    f"collection {name!r} has rows but no readable embedding "
                    "— cannot discover dimensionality in a spark-less "
                    "worker; pass dimensions= explicitly"
                )
        if dim is None and self.spark is None:
            dim = 64  # spark-less worker, EMPTY collection: the default
        if dim is None:
            row = self.warehouse.load(name).select(F.size("embedding").alias("d")).first()
            dim = row["d"] if row else 64
        self._dims[name] = dim
        return Collection(self, name, dim)

    def list_collections(self) -> list[str]:
        return self.warehouse.list_collections()

    def delete_collection(self, name: str) -> bool:
        self._dims.pop(name, None)
        return self.warehouse.drop(name)
