"""Exact kNN vs NumPy brute force, and the GEMM fast path vs the
expression path (same result contract)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from custom_python_vectordb_spark.operators.knn import knn, knn_batch_gemm
from custom_python_vectordb_spark.sources.catalog import load_table


@pytest.fixture(scope="module")
def corpus(spark, sf_small):
    df = load_table(spark, sf_small, "embeddings").cache()
    rows = df.collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return df, ids, mat


@pytest.fixture(scope="module")
def queries_df(spark, corpus):
    df, ids, mat = corpus
    return df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )


def numpy_topk(ids, mat, q, k, metric):
    if metric == "cosine":
        d = 1 - (mat @ q) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    elif metric == "l2":
        d = np.linalg.norm(mat - q, axis=1)
    else:
        d = -(mat @ q)
    order = np.lexsort((ids, d))
    return [(int(ids[i]), float(d[i])) for i in order[:k]]


@pytest.mark.parametrize("metric", ["cosine", "l2", "ip"])
def test_knn_matches_numpy(spark, corpus, queries_df, metric):
    df, ids, mat = corpus
    got = knn(df, queries_df, k=5, metric=metric).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["qid"], []).append((r["vec_id"], r["dist"]))
    for qid, hits in by_q.items():
        expected = numpy_topk(ids, mat, mat[list(ids).index(qid)], 5, metric)
        assert [h[0] for h in hits] == [e[0] for e in expected]
        for (_, d_got), (_, d_exp) in zip(hits, expected):
            assert d_got == pytest.approx(d_exp, rel=1e-9, abs=1e-12)


def test_knn_filtered_subset(spark, corpus, queries_df):
    df, ids, mat = corpus
    got = knn(
        df, queries_df, k=5, metric="cosine",
        filter_cond=F.col("label") == 2, payload_cols=["label"],
    ).collect()
    assert len(got) > 0
    assert all(r["label"] == 2 for r in got)


def test_gemm_path_equals_expression_path(spark, corpus, queries_df):
    df, ids, mat = corpus
    expr = knn(df, queries_df, k=7, metric="cosine").collect()
    qpd = queries_df.toPandas()
    gemm = knn_batch_gemm(df, qpd, k=7, metric="cosine").collect()
    assert [(r["qid"], r["vec_id"]) for r in expr] == [(r["qid"], r["vec_id"]) for r in gemm]
    for a, b in zip(expr, gemm):
        assert a["dist"] == pytest.approx(b["dist"], rel=1e-9, abs=1e-12)


@pytest.mark.parametrize("metric", ["cosine", "l2", "ip"])
def test_shard_serve_path_equals_expression_path(spark, queries_df, metric, sf_small):
    """knn_shard_gemm_serve (shard-resident, driver-merge serving) must be
    EXACT: same ids and distances as the expression path over the same
    parquet shard, for every metric, warm (cached) and cold."""
    from custom_python_vectordb_spark.operators.knn import knn_shard_gemm_serve
    from custom_python_vectordb_spark.sources.catalog import load_table

    df = load_table(spark, sf_small, "embeddings").select("vec_id", "embedding")
    shard = f"{sf_small}/embeddings.parquet"
    expr = knn(df, queries_df, k=7, metric=metric).collect()
    qpd = queries_df.toPandas()
    for _run in range(2):  # second run exercises the resident cache
        serve = knn_shard_gemm_serve(spark, [shard], qpd, k=7, metric=metric)
        assert [(r["qid"], r["vec_id"]) for r in expr] == list(
            zip(serve["qid"].astype(int), serve["vec_id"].astype(int))
        )
        # abs=1e-6: the GEMM expansion ‖a‖²+‖b‖²−2ab cancels catastrophically
        # on self-matches (exact 0 vs ~1e-8) — same trade knn_batch_gemm makes
        for a, b in zip(expr, serve["dist"]):
            assert a["dist"] == pytest.approx(b, rel=1e-6, abs=1e-6)


@pytest.mark.parametrize("metric", ["cosine", "l2", "ip"])
def test_replica_serve_equals_expression_path(spark, queries_df, metric, sf_small):
    """knn_replica_serve (in-process serving replica) must be EXACT: same
    ids and distances as the expression path, for every metric, warm and
    cold; the memory cap raises loudly instead of building an oversized
    replica."""
    from custom_python_vectordb_spark.operators.knn import knn_replica_serve

    df = load_table(spark, sf_small, "embeddings").select("vec_id", "embedding")
    shard = f"{sf_small}/embeddings.parquet"
    expr = knn(df, queries_df, k=7, metric=metric).collect()
    qpd = queries_df.toPandas()
    for _run in range(2):  # second run hits the replica cache
        serve = knn_replica_serve([shard], qpd, k=7, metric=metric)
        assert [(r["qid"], r["vec_id"]) for r in expr] == list(
            zip(serve["qid"].astype(int), serve["vec_id"].astype(int))
        )
        for a, b in zip(expr, serve["dist"]):
            assert a["dist"] == pytest.approx(b, rel=1e-6, abs=1e-6)
    # fresh cache key (different dtype) so the cap is checked at build time
    with pytest.raises(ValueError, match="shard-resident"):
        knn_replica_serve([shard], qpd, k=7, metric=metric, dtype="float32", max_bytes=1024)


def test_mmr_rerank_prefers_diversity(spark):
    """With a near-duplicate of the best hit in the corpus, plain top-2
    returns both copies; MMR's second pick is the diverse document."""
    from custom_python_vectordb_spark.operators.mmr import mmr_rerank

    corpus_rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),   # near-duplicate of 1
        (3, [0.0, 1.0, 0.0, 0.0]),      # diverse, moderately relevant
        (4, [0.0, 0.0, 1.0, 0.0]),      # irrelevant
    ]
    corpus = spark.createDataFrame(corpus_rows, "vec_id long, embedding array<float>")
    q = [0.9, 0.44, 0.0, 0.0]  # between doc 1/2 and doc 3
    picks = mmr_rerank(corpus, q, k=2, lam=0.5, fetch_k=4)
    assert picks[0][0] == 2                 # most relevant first
    assert picks[1][0] == 3                 # diversity beats the duplicate of the first pick
    # relevance-only limit: λ=1 reduces to plain top-k
    plain = mmr_rerank(corpus, q, k=2, lam=1.0, fetch_k=4)
    assert [p[0] for p in plain] == [2, 1]
    assert mmr_rerank(corpus.filter("vec_id < 0"), q, k=2) == []
    # driver-side candidate cap: an unbounded fetch_k must raise, never
    # silently collect the corpus (round-2 verdict #4)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="10k driver-side candidate cap"):
        mmr_rerank(corpus, q, k=2, fetch_k=10_001)


def test_mmr_replica_serve_equals_distributed(spark, sf_small):
    """In-process MMR (replica distances + numpy greedy) must pick the
    same documents in the same order as the distributed mmr_rerank, with
    equal relevance/MMR scores to float tolerance, across lambdas."""
    from custom_python_vectordb_spark.operators.mmr import (
        mmr_rerank,
        mmr_replica_serve,
    )

    emb = load_table(spark, sf_small, "embeddings").select("vec_id", "embedding")
    q = [float(x) for x in emb.filter("vec_id = 3").collect()[0]["embedding"]]
    shard = f"{sf_small}/embeddings.parquet"
    for lam in (1.0, 0.6, 0.3):
        a = mmr_rerank(emb, q, k=5, lam=lam, fetch_k=30)
        b = mmr_replica_serve([shard], q, k=5, lam=lam, fetch_k=30)
        assert [x[0] for x in a] == [x[0] for x in b], lam
        for (_, r1, s1), (_, r2, s2) in zip(a, b):
            assert r1 == pytest.approx(r2, abs=1e-6)
            assert s1 == pytest.approx(s2, abs=1e-6)
    with pytest.raises(ValueError, match="10k driver-side candidate cap"):
        mmr_replica_serve([shard], q, k=5, fetch_k=10_001)


def test_replica_mmap_mode_equals_in_ram(spark, queries_df, sf_small, tmp_path):
    """The beyond-RAM mmap replica (matrix memory-mapped from a streamed
    .npy cache) must return exactly the in-RAM replica's results for every
    metric, survive a cache re-read, and ignore max_bytes (its capacity
    bound is disk)."""
    import numpy as np

    from custom_python_vectordb_spark.operators.knn import knn_replica_serve

    shard = f"{sf_small}/embeddings.parquet"
    qpd = queries_df.toPandas()
    for metric in ("cosine", "l2", "ip"):
        ram = knn_replica_serve([shard], qpd, k=7, metric=metric)
        mm = knn_replica_serve([shard], qpd, k=7, metric=metric, mmap_dir=str(tmp_path))
        assert ram["vec_id"].tolist() == mm["vec_id"].tolist()
        assert np.allclose(ram["dist"], mm["dist"])
    # max_bytes is NOT enforced in mmap mode: a 1-byte budget still serves
    mm = knn_replica_serve(
        [shard], qpd, k=7, metric="cosine", mmap_dir=str(tmp_path), max_bytes=1
    )
    assert len(mm) == len(qpd) * 7


def test_replica_metadata_heterogeneous_shard_schemas(tmp_path):
    """A filter column present in only SOME shards must behave like the
    declarative plan's unioned scan: per-file-missing values are NULL
    (missing ⇒ False at the leaf for those rows only), never leaf-False
    for every row or a mid-decode crash (round-4 ADVICE #5)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from custom_python_vectordb_spark.functions.filters import Filter
    from custom_python_vectordb_spark.operators.knn import (
        knn_replica_serve,
        replica_metadata,
    )

    vecs = [[float(i), 1.0] for i in range(6)]
    a = tmp_path / "a.parquet"  # has `tag`, lacks `grp`
    b = tmp_path / "b.parquet"  # has `grp`, lacks `tag`
    pq.write_table(
        pa.table({"vec_id": [0, 1, 2], "embedding": vecs[:3], "tag": ["x", "y", "x"]}),
        a,
    )
    pq.write_table(
        pa.table({"vec_id": [3, 4, 5], "embedding": vecs[3:], "grp": [7, 8, 7]}),
        b,
    )
    paths = [str(a), str(b)]
    qpd = __import__("pandas").DataFrame({"qid": [0], "qvec": [[1.0, 0.0]]})
    knn_replica_serve(paths, qpd.iloc[:0], k=1)  # build replica block

    cols = replica_metadata(paths, ["tag", "grp"])
    assert len(cols["tag"]) == 6 and len(cols["grp"]) == 6
    # column only in the SECOND shard (paths[0]-only schema check missed it)
    m_grp = Filter.where("grp", "eq", 7).mask(cols, 6)
    assert list(np.flatnonzero(m_grp)) == [3, 5]
    # column only in the first shard: later shard's rows are null ⇒ False
    m_tag = Filter.where("tag", "eq", "x").mask(cols, 6)
    assert list(np.flatnonzero(m_tag)) == [0, 2]
    # numeric range op on the partially-present column: NaN rows stay False
    m_rng = Filter.where("grp", "gte", 8).mask(cols, 6)
    assert list(np.flatnonzero(m_rng)) == [4]


@pytest.mark.parametrize("metric", ["cosine", "l2", "ip"])
def test_replica_serve_masked_equals_filtered_expression_path(
    spark, queries_df, metric, sf_small
):
    """Filtered serving: the NumPy mask over replica-resident metadata must
    produce exactly knn(filter_cond=...) — ids, order, distances — for
    every metric; an all-False mask yields zero rows."""
    import numpy as np

    from custom_python_vectordb_spark.functions.filters import Filter
    from custom_python_vectordb_spark.operators.knn import (
        knn_replica_serve,
        replica_metadata,
    )

    df = load_table(spark, sf_small, "embeddings").select("vec_id", "embedding")
    shard = f"{sf_small}/embeddings.parquet"
    filt = Filter.where("vec_id", "gte", 40) & Filter.where("vec_id", "lte", 170)
    expr = knn(df, queries_df, k=7, metric=metric, filter_cond=filt.column).collect()
    qpd = queries_df.toPandas()
    knn_replica_serve([shard], qpd.iloc[:0], k=1, metric=metric)  # warm cache
    cols = replica_metadata([shard], sorted(filt.fields()))
    n = len(cols["vec_id"])
    mask = filt.mask(cols, n)
    serve = knn_replica_serve([shard], qpd, k=7, metric=metric, mask=mask)
    assert [(r["qid"], r["vec_id"]) for r in expr] == list(
        zip(serve["qid"].astype(int), serve["vec_id"].astype(int))
    )
    for a, b in zip(expr, serve["dist"]):
        assert a["dist"] == pytest.approx(b, rel=1e-6, abs=1e-6)
    empty = knn_replica_serve(
        [shard], qpd, k=7, metric=metric, mask=np.zeros(n, dtype=bool)
    )
    assert len(empty) == 0


def test_replica_cache_coherence_same_size_rewrite(tmp_path):
    """Chaos test (r5 VERDICT #8): overwriting a shard with SAME-SIZE,
    different-content data must re-key the replica (st_mtime_ns changes
    even when st_size does not) for both the in-RAM and mmap tiers. The
    stat-key boundary is also pinned: a writer that deliberately restores
    mtime_ns after a same-size rewrite is undetectable by ANY stat-based
    cache — that case serves the cached block, by documented contract
    (rewriting pipelines must use new filenames or touch the shard)."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from custom_python_vectordb_spark.operators.knn import knn_replica_serve

    def write_shard(path, order):
        # query is [1, 0]; l2 dist^2 to [o, 1] is (o-1)^2 + 1, so the row
        # with o == 1 always wins — `order` controls WHICH vec_id that is
        pq.write_table(
            pa.table({"vec_id": [10, 11, 12],
                      "embedding": [[float(o), 1.0] for o in order]}),
            path, compression="none",
        )

    shard = tmp_path / "s.parquet"
    write_shard(shard, [1, 0, 9])  # winner: index 0 -> vec 10
    paths = [str(shard)]
    qpd = pd.DataFrame({"qid": [0], "qvec": [[1.0, 0.0]]})

    def top1(**kw):
        out = knn_replica_serve(paths, qpd, k=1, metric="l2", **kw)
        return int(out["vec_id"].iloc[0])

    assert top1() == 10
    st0 = os.stat(shard)

    # same-size rewrite moving the winner: in-RAM replica must re-decode
    write_shard(shard, [9, 1, 0])  # winner: index 1 -> vec 11
    assert os.stat(shard).st_size == st0.st_size, "rewrite must be same-size"
    assert top1() == 11

    # mmap tier re-keys on rewrite too
    mmdir = str(tmp_path / "mm")
    assert top1(mmap_dir=mmdir) == 11
    write_shard(shard, [9, 0, 1])  # winner: index 2 -> vec 12
    assert top1(mmap_dir=mmdir) == 12
    assert top1() == 12

    # documented boundary: same-size rewrite + restored mtime_ns is
    # indistinguishable from "no change" for a stat-based key -> stale
    st_before = os.stat(shard)
    write_shard(shard, [1, 9, 0])  # winner would be vec 10
    os.utime(shard, ns=(st_before.st_atime_ns, st_before.st_mtime_ns))
    st_after = os.stat(shard)
    assert (st_after.st_mtime_ns, st_after.st_size) == (
        st_before.st_mtime_ns, st_before.st_size,
    )
    assert top1() == 12  # stale by contract, NOT re-decoded
    # touching the shard restores coherence
    os.utime(shard)
    assert top1() == 10


def test_replica_mmap_rebuild_leaves_live_map_on_old_rows(tmp_path):
    """An mmap-tier rebuild after a shard mutation writes new files under
    tmp names and renames them into place: an array mapped before the
    rebuild (a live handle, or another worker sharing the directory)
    keeps reading the old rows instead of a file rewritten under it."""
    import glob
    import os

    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from custom_python_vectordb_spark.operators.knn import knn_replica_serve

    shard = str(tmp_path / "s.parquet")

    def write(mat):
        pq.write_table(
            pa.table({"vec_id": np.arange(len(mat)), "embedding": list(mat)}),
            shard, compression="none",
        )

    old = np.random.default_rng(1).standard_normal((50, 4))
    write(old)
    mm = str(tmp_path / "mm")
    qpd = pd.DataFrame({"qid": [0], "qvec": [old[3]]})

    def top1():
        out = knn_replica_serve([shard], qpd, k=1, metric="l2", mmap_dir=mm)
        return int(out["vec_id"].iloc[0])

    assert top1() == 3
    (mat_file,) = glob.glob(os.path.join(mm, "replica_*.mat.npy"))
    live = np.load(mat_file, mmap_mode="r")
    write(old[::-1].copy())
    st = os.stat(shard)
    os.utime(shard, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert top1() == 46  # the rebuild serves the new rows
    assert np.array_equal(np.asarray(live), old)
