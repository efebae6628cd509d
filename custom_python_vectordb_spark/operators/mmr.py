"""Maximal Marginal Relevance rerank — diversity-aware top-k.

Plain top-k returns near-duplicate hits together; MMR greedily picks
    argmax_d [ λ·sim(q, d) − (1−λ)·max_{s∈selected} sim(d, s) ]
trading relevance against novelty. Two-stage plan, same shape as K5:

1. distributed: exact top-`fetch_k` candidates by similarity (the corpus
   never shuffles — operators/knn contract);
2. driver-side: greedy MMR over the ≤fetch_k collected candidates —
   the candidate set is small by construction, so this is the honest
   place for the sequential argmax (a distributed loop would shuffle
   per selection step for no benefit).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from custom_python_vectordb_spark.operators.knn import knn
from custom_python_vectordb_spark.operators.topk import topk_positions
from custom_python_vectordb_spark.functions.local_relation import local_df


def mmr_rerank(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    lam: float = 0.7,
    fetch_k: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple]:
    """Returns [(id, relevance_sim, mmr_score), …] in selection order."""
    # driver-memory gate, same contract as knn_batch_gemm's closure cap
    # (operators/knn.py): the greedy loop is deliberately driver-side over a
    # SMALL candidate set — an unbounded fetch_k would silently turn this
    # into a collect-the-corpus plan
    if fetch_k > 10_000:
        raise ValueError(
            f"fetch_k={fetch_k} exceeds the 10k driver-side candidate cap; "
            "MMR reranks a bounded top-fetch_k candidate set, not the corpus"
        )
    spark = corpus.sparkSession
    queries = local_df(
        spark, [(0, [float(x) for x in query_vec])], "qid long, qvec array<float>"
    )
    cands = knn(
        corpus, queries, k=fetch_k, metric="cosine",
        id_col=id_col, vec_col=vec_col, payload_cols=[vec_col],
    ).collect()
    if not cands:
        return []
    ids = [r[id_col] for r in cands]
    # zero-norm guard mirrors functions/distances.py: zero vectors keep
    # similarity 0 instead of poisoning the greedy argmax with NaN
    mat = np.array([r[vec_col] for r in cands], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    mat = mat / np.where(norms == 0, 1.0, norms)
    q = np.array(query_vec, dtype=np.float64)
    qn = np.linalg.norm(q)
    q = q / (qn if qn != 0 else 1.0)
    rel = mat @ q

    selected: list[int] = []
    out: list[tuple] = []
    remaining = set(range(len(ids)))
    for _ in range(min(k, len(ids))):
        if selected:
            redundancy = (mat @ mat[selected].T).max(axis=1)
        else:
            redundancy = np.zeros(len(ids))
        scores = lam * rel - (1 - lam) * redundancy
        best = max(remaining, key=lambda i: (scores[i], -ids[i] if isinstance(ids[i], int) else 0))
        selected.append(best)
        remaining.discard(best)
        out.append((ids[best], float(rel[best]), float(scores[best])))
    return out


def mmr_replica_serve(
    shard_paths: list[str],
    query_vec: list[float],
    k: int = 10,
    lam: float = 0.7,
    fetch_k: int = 50,
    *,
    id_col: str = "vec_id",
    dtype: str = "float64",
) -> list[tuple]:
    """Serving twin of :func:`mmr_rerank` — both stages in-process against
    the shard replica (``knn.resolve_replica``'s resident block): the
    relevance vector is one GEMM row, the top-``fetch_k`` candidate cut
    the shared (dist, id) top-k (the distributed path's knn tie-break),
    and the greedy argmax the same loop `mmr_rerank` runs — but with zero
    Spark jobs on the hot path.
    Same return shape, values equal to float tolerance (asserted in
    tests)."""
    from custom_python_vectordb_spark.operators.knn import (
        replica_distance_vector,
        resolve_replica,
    )

    if fetch_k > 10_000:
        raise ValueError(
            f"fetch_k={fetch_k} exceeds the 10k driver-side candidate cap; "
            "MMR reranks a bounded top-fetch_k candidate set, not the corpus"
        )
    ids_all, dists = replica_distance_vector(
        shard_paths, query_vec, "cosine", id_col=id_col, dtype=dtype
    )
    if len(ids_all) == 0:
        return []
    cand = topk_positions(np, ids_all, dists, fetch_k)

    mat_all = resolve_replica(shard_paths, id_col=id_col, dtype=dtype).mat
    mat = np.array(mat_all[cand], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    mat = mat / np.where(norms == 0, 1.0, norms)
    q = np.array([float(x) for x in query_vec], dtype=np.float64)
    qn = np.linalg.norm(q)
    q = q / (qn if qn != 0 else 1.0)
    rel = mat @ q
    ids = [ids_all[i] for i in cand]

    selected: list[int] = []
    out: list[tuple] = []
    remaining = set(range(len(ids)))
    for _ in range(min(k, len(ids))):
        if selected:
            redundancy = (mat @ mat[selected].T).max(axis=1)
        else:
            redundancy = np.zeros(len(ids))
        scores = lam * rel - (1 - lam) * redundancy
        best = max(
            remaining,
            key=lambda i: (scores[i], -ids[i] if isinstance(ids[i], (int, np.integer)) else 0),
        )
        selected.append(best)
        remaining.discard(best)
        out.append((int(ids[best]) if isinstance(ids[best], np.integer) else ids[best],
                    float(rel[best]), float(scores[best])))
    return out
