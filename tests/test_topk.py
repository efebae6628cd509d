"""One (dist, id) top-k for every in-process tier (operators/topk.py).

The tie corpus: 30 identical rows T (ids 0..29) at the query point and 10
far rows (ids 30..39), written as two shards whose files hold the ids in
descending order, so the replicas see the largest ids first. With k=5 the
k-th and (k+1)-th distances tie. The vectors are small integers, so every
tier computes the T distances exactly and equally: exact and IVF distances
are 0, and the query's SQ, BQ, PQ and IVF-PQ codes are the T rows' own, so
the coarse distance of T is the tier's minimum. Any coarse tie with a far
row sorts after T by id. Every tier's (dist, id) order therefore starts
with T by id, and each path must return exactly the NumPy
``lexsort((ids, d))`` reference over the exact distances."""

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from custom_python_vectordb_spark.api import VectorDB
from custom_python_vectordb_spark.functions.embeddings import mock_embed_one
from custom_python_vectordb_spark.operators import shard_tier
from custom_python_vectordb_spark.operators.bm25 import keyword_replica_serve, keyword_score_vector
from custom_python_vectordb_spark.operators.knn import (
    knn_replica_serve,
    knn_shard_gemm_serve,
    replica_distance_vector,
)
from custom_python_vectordb_spark.operators.partitioned import (
    IvfPqReplicaHandle,
    IvfReplicaHandle,
    ivf_replica_serve,
)
from custom_python_vectordb_spark.operators.quantization import (
    BqReplicaHandle,
    PqReplicaHandle,
    SqReplicaHandle,
    bq_replica_serve,
    pq_replica_serve,
    sq_replica_serve,
)
from custom_python_vectordb_spark.operators.topk import topk_positions, topk_tie_aware

K = 5
DIM = 8


def _tie_rows():
    """(vec_ids, string ids, vectors, documents) in id order."""
    rng = np.random.default_rng(3)
    t = np.zeros(DIM)
    t[0] = 100.0
    far = rng.integers(0, 256, (10, DIM)).astype(np.float64)
    far[np.arange(7), 1 + np.arange(7)] = 255.0  # every dim reaches 255 ...
    far[0, 0], far[1, 0] = 0.0, 255.0  # ... and 0, so the SQ step is exactly 1
    mat = np.vstack([np.tile(t, (30, 1)), far])
    docs = ["alpha beta"] * 30 + ["gamma delta"] * 10
    vid = np.arange(40)
    return vid, np.array([f"d{i:03d}" for i in vid], dtype=object), mat, docs


def write_tie_corpus(d) -> list[str]:
    """Two shards, ids descending inside and across files (part-0 holds
    39..20, part-1 holds 19..0)."""
    vid, sid, mat, docs = _tie_rows()
    os.makedirs(d, exist_ok=True)
    paths = []
    for part, rows in enumerate((np.arange(39, 19, -1), np.arange(19, -1, -1))):
        p = os.path.join(d, f"part-{part}.parquet")
        pq.write_table(pa.table({
            "id": list(sid[rows]),
            "vec_id": vid[rows],
            "embedding": [list(r) for r in mat[rows].astype(np.float32)],
            "_document": [docs[i] for i in rows],
        }), p)
        paths.append(p)
    return paths


def reference(mask=None) -> list[int]:
    vid, _sid, mat, _docs = _tie_rows()
    d = np.sqrt(((mat - mat[0]) ** 2).sum(1))
    if mask is not None:
        vid, d = vid[mask], d[mask]
    return [int(i) for i in vid[np.lexsort((vid, d))[:K]]]


def _qpd():
    return pd.DataFrame({"qid": [0], "qvec": [_tie_rows()[2][0]]})


def _ids(frame):
    return [int(i) for i in frame["vec_id"]]


def _ids1(hit):
    return [int(i) for i in hit[0]]


# path name -> callable(shard paths, scratch dir) -> returned ids
PATHS = {}
ivf_kw = dict(n_cells=4, nprobe=2, assign_r=2, metric="l2")
ivfpq_kw = dict(n_cells=4, nprobe=2, assign_r=2, num_subspaces=2, num_centroids=8)
q0 = _tie_rows()[2][0]
PATHS["exact"] = lambda p, t: _ids(knn_replica_serve(p, _qpd(), K, "l2"))
PATHS["exact-mmap"] = lambda p, t: _ids(knn_replica_serve(p, _qpd(), K, "l2", mmap_dir=t))
PATHS["sq-batch"] = lambda p, t: _ids(sq_replica_serve(p, _qpd(), K))
PATHS["sq-batch-rerank"] = lambda p, t: _ids(
    sq_replica_serve(p, _qpd(), K, fetch_k=8, rerank_mmap_dir=t))
PATHS["sq-handle"] = lambda p, t: _ids1(SqReplicaHandle(p).search_one(q0, K))
PATHS["pq-batch"] = lambda p, t: _ids(pq_replica_serve(p, _qpd(), K, 2, 8))
PATHS["pq-batch-rerank"] = lambda p, t: _ids(
    pq_replica_serve(p, _qpd(), K, 2, 8, fetch_k=8, rerank_mmap_dir=t))
PATHS["pq-handle"] = lambda p, t: _ids1(PqReplicaHandle(p, 2, 8).search_one(q0, K))
PATHS["bq-batch"] = lambda p, t: _ids(bq_replica_serve(p, _qpd(), K))
PATHS["bq-batch-rerank"] = lambda p, t: _ids(
    bq_replica_serve(p, _qpd(), K, fetch_k=8, rerank_mmap_dir=t))
PATHS["bq-handle"] = lambda p, t: _ids1(BqReplicaHandle(p).search_one(q0, K))
PATHS["ivf-batch"] = lambda p, t: _ids(ivf_replica_serve(p, _qpd(), K, **ivf_kw))
PATHS["ivf-handle"] = lambda p, t: _ids1(IvfReplicaHandle(p, **ivf_kw).search_one(q0, K))
PATHS["ivfpq-handle"] = lambda p, t: _ids1(IvfPqReplicaHandle(p, **ivfpq_kw).search_one(q0, K))
PATHS["ivfpq-handle-rerank"] = lambda p, t: _ids1(
    IvfPqReplicaHandle(p, **ivfpq_kw, rerank_mmap_dir=t).search_one(q0, K, fetch_k=8))


@pytest.mark.parametrize("path", sorted(PATHS))
def test_boundary_tie_returns_dist_id_reference(path, tmp_path):
    shard_tier.clear()
    paths = write_tie_corpus(str(tmp_path / "c"))
    assert PATHS[path](paths, str(tmp_path / "mm")) == reference() == [0, 1, 2, 3, 4]
    shard_tier.clear()


def test_boundary_tie_masked_exact(tmp_path):
    paths = write_tie_corpus(str(tmp_path / "c"))
    vid = pq.read_table(paths[0]).column("vec_id").to_pylist() + pq.read_table(
        paths[1]).column("vec_id").to_pylist()
    mask = ~np.isin(vid, [0, 1, 3])
    got = _ids(knn_replica_serve(paths, _qpd(), K, "l2", mask=mask))
    assert got == reference(~np.isin(np.arange(40), [0, 1, 3])) == [2, 4, 5, 6, 7]


def test_boundary_tie_shard_gemm(spark, tmp_path):
    paths = write_tie_corpus(str(tmp_path / "c"))
    got = knn_shard_gemm_serve(spark, paths, _qpd(), K, "l2", tasks=2)
    assert _ids(got) == reference()


def test_boundary_tie_keyword(tmp_path):
    paths = write_tie_corpus(str(tmp_path / "c"))
    ids, scores = keyword_score_vector(paths, "alpha beta", id_col="vec_id")
    ids = np.asarray(ids, dtype=object)
    ref = [int(i) for i in ids[np.lexsort((ids, -scores))[:K]]]
    got = [int(i) for i, _s in keyword_replica_serve(paths, "alpha beta", K, id_col="vec_id")]
    assert got == ref == [0, 1, 2, 3, 4]


def test_boundary_tie_hybrid(tmp_path):
    """Hybrid fusion over the same corpus: the T rows' vector distances
    are equal (one nonzero product each) and their keyword scores are
    the corpus maximum, so they lead the fused ranking and tie."""
    root = str(tmp_path / "wh")
    paths = write_tie_corpus(os.path.join(root, "kb"))
    coll = VectorDB(None, root).get_collection("kb", dimensions=DIM)
    got = [h["id"] for h in coll.hybrid_serve("alpha beta", k=K)]
    ids, dists = replica_distance_vector(paths, mock_embed_one("alpha beta", DIM), id_col="id")
    _i, kscores = keyword_score_vector(paths, "alpha beta", id_col="id")
    combined = 0.5 * (1.0 - dists / dists.max()) + 0.5 * kscores / kscores.max()
    assert got == list(ids[np.lexsort((ids, -combined))[:K]]) == [f"d{i:03d}" for i in range(K)]


def test_rest_exact_query_equals_declarative_query(spark, tmp_path):
    """REST ``POST /collections/<c>/query`` answers from the in-process
    replica (api.query_serve); on the tie corpus it must return what the
    declarative ``Collection.query`` plan returns."""
    import json
    import urllib.request

    from custom_python_vectordb_spark.server import serve_background

    root = str(tmp_path / "wh")
    write_tie_corpus(os.path.join(root, "kb"))
    db = VectorDB(spark, root)
    coll = db.get_collection("kb", dimensions=DIM)
    q = [float(x) for x in _tie_rows()[2][0]]
    rows = coll.query(query_embeddings=[q], n_results=K).select("id", "dist").collect()
    srv, port = serve_background(db)
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/collections/kb/query",
            data=json.dumps({"query_embeddings": [q], "n_results": K}).encode(),
            method="POST", headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=120) as resp:
            rest = json.loads(resp.read())["results"][0]
    finally:
        srv.shutdown()
    assert [h["id"] for h in rest] == [r["id"] for r in rows] == [f"d{i:03d}" for i in range(K)]
    assert [h["dist"] for h in rest] == pytest.approx([r["dist"] for r in rows], abs=1e-12)


def test_topk_matches_lexsort_on_random_ties():
    """The shared top-k against its definition: rows and (Q, N) matrices,
    float and uint16 distances, int and string ids, every k."""
    rng = np.random.default_rng(0)
    for trial in range(300):
        n, nq, k = rng.integers(0, 30), rng.integers(0, 4), rng.integers(0, 35)
        dtype = np.uint16 if trial % 3 == 0 else np.float64
        d = rng.integers(0, 4, (nq, n)).astype(dtype)
        ids = rng.permutation(n) * 3
        if trial % 2:
            ids = np.array([f"x{i:03d}" for i in ids], dtype=object)
        pos = topk_positions(np, ids, d, k)
        got_ids, got_d = topk_tie_aware(np, ids, d, k)
        for r in range(nq):
            ref = np.lexsort((ids, d[r]))[:k]
            assert list(pos[r]) == list(ref)
            assert list(topk_positions(np, ids, d[r], k)) == list(ref)
            assert list(got_ids[r]) == list(ids[ref])
            assert got_d.dtype == np.float64 and list(got_d[r]) == list(d[r][ref])
