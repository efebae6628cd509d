"""Quantization operator semantics: NumPy ground truth + packed fast path."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from custom_python_vectordb_spark.functions.distances import hamming_distance
from custom_python_vectordb_spark.operators.quantization import (
    bq_encode_expr,
    bq_pack_expr,
    bq_train,
    hamming_bits_expr,
    pq_adc_distances,
    pq_encode,
    pq_lut,
    pq_sample_codebook,
    pq_train_lloyd,
    sq_encode,
    sq_model,
)
from custom_python_vectordb_spark.sources.catalog import load_table

RNG = np.random.RandomState(7)


@pytest.fixture(scope="module")
def emb(spark, sf_small):
    return load_table(spark, sf_small, "embeddings").cache()


def test_sq_encode_matches_numpy(spark, emb):
    rows = emb.orderBy("vec_id").limit(50).collect()
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    mn, mx = mat.min(0), mat.max(0)  # trained on the 500-row table below
    full = np.array([r["embedding"] for r in emb.collect()], dtype=np.float64)
    mn, mx = full.min(0), full.max(0)
    scale = np.where(mx - mn == 0, 1.0, mx - mn)
    exp = np.floor(np.clip((mat - mn) / scale * 255.0, 0, 255)).astype(int)
    got = {
        r["vec_id"]: r["codes"]
        for r in sq_encode(emb, sq_model(emb)).filter(F.col("vec_id") < 50).collect()
    }
    for i, r in enumerate(rows):
        assert got[r["vec_id"]] == exp[i].tolist()


def test_bq_bits_and_packed_hamming_agree(spark, emb):
    model = bq_train(emb)
    bits = emb.crossJoin(F.broadcast(model)).select(
        "vec_id", bq_encode_expr(F.col("embedding")).alias("bits")
    ).filter(F.col("vec_id") < 20)
    packed = bits.withColumn("words", bq_pack_expr(F.col("bits"), 2))
    a = packed.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("ida"), F.col("bits").alias("ba"), F.col("words").alias("wa")
    )
    b = packed.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("idb"), F.col("bits").alias("bb"), F.col("words").alias("wb")
    )
    both = a.crossJoin(b).select(
        "ida", "idb",
        hamming_bits_expr(F.col("ba"), F.col("bb")).alias("h_bits"),
        hamming_distance(F.col("wa"), F.col("wb")).alias("h_packed"),
    )
    for r in both.collect():
        assert r["h_bits"] == r["h_packed"], (r["ida"], r["idb"])


def test_pq_codes_match_numpy(spark, emb):
    M, K = 8, 16
    full = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb.collect()}
    cb = np.stack([full[c] for c in range(K)])  # (K, 64)
    sub = 64 // M
    got = {(r["vec_id"], r["m"]): r["code"] for r in pq_encode(
        emb.filter(F.col("vec_id") < 30), pq_sample_codebook(emb, M, K), M
    ).collect()}
    for vid in range(30):
        v = full[vid]
        for m in range(M):
            seg = slice(m * sub, (m + 1) * sub)
            d2 = ((cb[:, seg] - v[seg]) ** 2).sum(1)
            assert got[(vid, m)] == int(np.argmin(d2)), (vid, m)


def test_pq_adc_matches_numpy(spark, emb):
    M, K = 8, 16
    cbdf = pq_sample_codebook(emb, M, K)
    codes = pq_encode(emb, cbdf, M)
    qv = emb.filter(F.col("vec_id") == 1).select(F.col("embedding").alias("qvec"))
    got = {r["vec_id"]: r["dist"] for r in pq_adc_distances(codes, pq_lut(qv, cbdf, M)).collect()}

    full = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb.collect()}
    cb = np.stack([full[c] for c in range(K)])
    sub = 64 // M
    q = full[1]
    for vid in (0, 1, 7, 99):
        total = 0.0
        v = full[vid]
        for m in range(M):
            seg = slice(m * sub, (m + 1) * sub)
            code = int(np.argmin(((cb[:, seg] - v[seg]) ** 2).sum(1)))
            total += ((q[seg] - cb[code, seg]) ** 2).sum()
        assert got[vid] == pytest.approx(np.sqrt(total), rel=1e-9)


def test_pq_kmeans_recall_quality(spark, sf_small):
    """A6 quality gate on the declared `pq_kmeans_recall` query end to end
    (Lloyd-trained codebook, ADC top-10, exact-L2 top-10, intersection):
    its recall@10 must clear a conservative floor at tiny scale (the
    reference claims ~90% at 8x)."""
    from custom_python_vectordb_spark.queries.quantization import pq_kmeans_recall

    rows = pq_kmeans_recall(spark, sf_small).collect()
    assert len(rows) == 1
    # near-uniform random 64-d vectors are PQ's worst case (no cluster
    # structure); 8x16 codes give modest recall there — floor, not target
    assert 0.2 <= rows[0]["recall"] <= 1.0


def test_pq_snapshot_matches_retrained_codebook(spark, sf_med):
    """The `pq_kmeans_recall` oracle pins the sf0.01 codebook as literals
    (`queries/_pq_snapshot.py`). Retrain with the same params and assert
    bit-equality, so snapshot drift (NumPy/kernel change, fixture
    regeneration) fails HERE, loudly, instead of surfacing as a
    mysterious driver-gate hash mismatch. r14: the query trains with the
    deterministic driver-side Lloyd kernel (pq_train_lloyd) — the
    snapshot was re-frozen from it (the round's sanctioned
    declared-output change)."""
    from custom_python_vectordb_spark.queries._pq_snapshot import PQ_CENTROIDS_SF001

    emb01 = load_table(spark, sf_med, "embeddings")
    cb = pq_train_lloyd(emb01, 8, 16, iters=10)
    got = sorted((r["m"], r["code"], tuple(r["centroid"])) for r in cb.collect())
    want = sorted((m, code, tuple(c)) for m, code, c in PQ_CENTROIDS_SF001)
    assert got == want


def test_pq_lloyd_recall_quality(spark, emb):
    """Quality gate for the Lloyd-trained codebook the declared query
    uses: must clear a conservative recall floor on the near-uniform
    worst-case vectors."""
    M, K = 8, 16
    cb = pq_train_lloyd(emb, M, K, iters=10)
    codes = pq_encode(emb, cb, M)
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    approx = {
        r["vec_id"]
        for r in pq_adc_distances(codes, pq_lut(qv, cb, M))
        .orderBy("dist", "vec_id").limit(10).collect()
    }

    from custom_python_vectordb_spark.operators.knn import knn

    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    truth = {r["vec_id"] for r in knn(emb, queries, k=10, metric="l2").collect()}
    assert len(truth & approx) / 10.0 >= 0.2


def test_pq_lloyd_deterministic_across_partitionings(spark, sf_med):
    """The snapshot freeze relies on partition-order independence: the
    hash-stride sample + id-sorted matrix must yield the same codebook
    whatever the input partitioning."""
    emb01 = load_table(spark, sf_med, "embeddings")
    a = pq_train_lloyd(emb01, 8, 16, iters=10)
    b = pq_train_lloyd(emb01.repartition(7), 8, 16, iters=10)
    ra = sorted((r["m"], r["code"], tuple(r["centroid"])) for r in a.collect())
    rb = sorted((r["m"], r["code"], tuple(r["centroid"])) for r in b.collect())
    assert ra == rb


def test_sq_replica_serve_equals_expression_path(spark, sf_small):
    """The quantized serving replica (uint8 codes resident, chunked-GEMM
    L2 expansion) must rank exactly like the oracle-checked
    sq_l2_dist_expr path, with distances equal to float32-accumulation
    tolerance, and re-key its cache on shard change."""
    import pytest
    from pyspark.sql import functions as F

    from custom_python_vectordb_spark.operators.quantization import (
        sq_encode,
        sq_encode_expr,
        sq_l2_dist_expr,
        sq_model,
        sq_replica_serve,
    )
    from custom_python_vectordb_spark.operators.topk import top_k_per_group
    from custom_python_vectordb_spark.sources.catalog import load_table

    emb = load_table(spark, sf_small, "embeddings").select("vec_id", "embedding")
    model = sq_model(emb)
    coded = sq_encode(emb, model).select("vec_id", "codes")
    q = (
        emb.filter("vec_id < 3")
        .crossJoin(F.broadcast(model))
        .select(
            F.col("vec_id").alias("qid"),
            sq_encode_expr(F.col("embedding")).alias("qcodes"),
        )
    )
    scored = (
        coded.crossJoin(F.broadcast(q))
        .crossJoin(F.broadcast(model))
        .select("qid", "vec_id", sq_l2_dist_expr(F.col("qcodes"), F.col("codes")).alias("dist"))
    )
    expr = top_k_per_group(
        scored, "qid", 7, F.col("dist").asc(), F.col("vec_id").asc()
    ).orderBy("qid", "dist", "vec_id").collect()

    qpd = (
        emb.filter("vec_id < 3")
        .selectExpr("vec_id as qid", "embedding as qvec")
        .toPandas()
    )
    serve = sq_replica_serve([f"{sf_small}/embeddings.parquet"], qpd, k=7, chunk_rows=100)
    assert [(r["qid"], r["vec_id"]) for r in expr] == list(
        zip(serve["qid"].astype(int), serve["vec_id"].astype(int))
    )
    for a, b in zip(expr, serve["dist"]):
        assert a["dist"] == pytest.approx(b, rel=1e-5, abs=1e-5)


def test_sq_replica_rerank_equals_exact_l2(spark, sf_small, tmp_path):
    """Coarse-SQ + mmap exact rerank: with fetch_k covering the quantization
    error margin, results must equal the exact L2 replica top-k (ids and
    distances) — the K5 two-stage contract at serving speed."""
    import pytest

    from custom_python_vectordb_spark.operators.knn import knn_replica_serve
    from custom_python_vectordb_spark.operators.quantization import sq_replica_serve
    from custom_python_vectordb_spark.sources.catalog import load_table

    emb = load_table(spark, sf_small, "embeddings").select("vec_id", "embedding")
    qpd = emb.filter("vec_id < 3").selectExpr("vec_id as qid", "embedding as qvec").toPandas()
    shard = f"{sf_small}/embeddings.parquet"
    exact = knn_replica_serve([shard], qpd, k=5, metric="l2")
    rr = sq_replica_serve(
        [shard], qpd, k=5, fetch_k=60, rerank_mmap_dir=str(tmp_path)
    )
    assert list(zip(exact["qid"].astype(int), exact["vec_id"].astype(int))) == list(
        zip(rr["qid"].astype(int), rr["vec_id"].astype(int))
    )
    for a, b in zip(exact["dist"], rr["dist"]):
        assert a == pytest.approx(b, rel=1e-6, abs=1e-6)


def test_bq_replica_serve_equals_declarative_hamming(spark, sf_small):
    """The binary-quantized serving replica (packed uint64 words, SWAR
    popcount scan, bincount top-k) must produce exactly the declarative
    plan's results: same median thresholds, same bits, same Hamming
    counts, same (dist, id) tie-broken ranking."""
    from pyspark.sql import functions as F

    from custom_python_vectordb_spark.operators.quantization import (
        bq_encode_expr,
        bq_replica_serve,
        bq_train,
        hamming_bits_expr,
    )
    from custom_python_vectordb_spark.operators.topk import top_k_per_group
    from custom_python_vectordb_spark.sources.catalog import load_table

    emb = load_table(spark, sf_small, "embeddings").select("vec_id", "embedding")
    model = bq_train(emb)
    bits = emb.crossJoin(F.broadcast(model)).select(
        "vec_id", bq_encode_expr(F.col("embedding")).alias("bits")
    )
    qbits = bits.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("bits").alias("qb")
    )
    scored = bits.join(F.broadcast(qbits)).select(
        "qid", "vec_id", hamming_bits_expr(F.col("qb"), F.col("bits")).alias("dist")
    )
    expr = (
        top_k_per_group(scored, "qid", 10, F.col("dist").asc(), F.col("vec_id").asc())
        .orderBy("qid", "dist", "vec_id")
        .collect()
    )

    qpd = emb.filter("vec_id < 3").selectExpr("vec_id as qid", "embedding as qvec").toPandas()
    serve = bq_replica_serve([f"{sf_small}/embeddings.parquet"], qpd, k=10)
    assert [(r["qid"], r["vec_id"], float(r["dist"])) for r in expr] == list(
        zip(serve["qid"].astype(int), serve["vec_id"].astype(int), serve["dist"])
    )


def test_bq_replica_rerank_equals_exact_l2(spark, sf_small, tmp_path):
    """Coarse-BQ + mmap exact rerank: with fetch_k covering the 1-bit
    quantization error on this small fixture, the final top-k equals the
    exact L2 replica's ids."""
    from custom_python_vectordb_spark.operators.knn import knn_replica_serve
    from custom_python_vectordb_spark.operators.quantization import bq_replica_serve
    from custom_python_vectordb_spark.sources.catalog import load_table

    emb = load_table(spark, sf_small, "embeddings").select("vec_id", "embedding")
    qpd = emb.filter("vec_id < 3").selectExpr("vec_id as qid", "embedding as qvec").toPandas()
    paths = [f"{sf_small}/embeddings.parquet"]
    exact = knn_replica_serve(paths, qpd, k=5, metric="l2", dtype="float64")
    mmdir = str(tmp_path / "mm")
    got = bq_replica_serve(paths, qpd, k=5, fetch_k=400, rerank_mmap_dir=mmdir)
    assert list(zip(exact["qid"], exact["vec_id"])) == list(zip(got["qid"], got["vec_id"]))


def test_pq_replica_build_deterministic_and_rerank_exact(spark, sf_small, tmp_path):
    """The PQ serving replica's Lloyd training is deterministic (identical
    codes across a cache-cleared rebuild), ADC output is sorted per the
    (qid, dist, id) contract, and the mmap exact rerank with generous
    fetch_k equals the exact-L2 replica's top-k on the fixture."""
    import numpy as np

    from custom_python_vectordb_spark.operators.knn import knn_replica_serve
    from custom_python_vectordb_spark.operators import shard_tier
    from custom_python_vectordb_spark.operators.quantization import (
        PqReplicaHandle,
        pq_replica_serve,
    )
    from custom_python_vectordb_spark.sources.catalog import load_table

    emb = load_table(spark, sf_small, "embeddings").select("vec_id", "embedding")
    qpd = emb.filter("vec_id < 3").selectExpr("vec_id as qid", "embedding as qvec").toPandas()
    paths = [f"{sf_small}/embeddings.parquet"]

    first = pq_replica_serve(paths, qpd, k=10, num_subspaces=8)
    codes_a = PqReplicaHandle(paths, num_subspaces=8).codes_t.copy()
    shard_tier.clear()
    second = pq_replica_serve(paths, qpd, k=10, num_subspaces=8)
    codes_b = PqReplicaHandle(paths, num_subspaces=8).codes_t
    assert np.array_equal(codes_a, codes_b)
    assert first.equals(second)
    for qid, grp in first.groupby("qid"):
        assert list(grp["dist"]) == sorted(grp["dist"])

    exact = knn_replica_serve(paths, qpd, k=5, metric="l2", dtype="float64")
    got = pq_replica_serve(
        paths, qpd, k=5, num_subspaces=8, fetch_k=450,
        rerank_mmap_dir=str(tmp_path / "mm"),
    )
    assert list(zip(exact["qid"], exact["vec_id"])) == list(zip(got["qid"], got["vec_id"]))


def test_bq_handle_parity_and_refresh(spark, tmp_path):
    """BqReplicaHandle (r7 single-query fast path): results must equal
    bq_replica_serve per query (including id tie-breaks at Hamming ties —
    the bincount boundary selection), and refresh() must pick up a shard
    rewrite like the per-call stat check does."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from custom_python_vectordb_spark.operators.quantization import (
        BqReplicaHandle,
        bq_replica_serve,
    )

    shard = "/root/testdata/sf0.1/embeddings.parquet"
    import pyarrow.parquet as _pq

    head = _pq.read_table(shard, columns=["vec_id", "embedding"]).slice(0, 8)
    qv = [np.asarray(v, dtype=np.float32) for v in head.column("embedding").to_pylist()]
    qids = head.column("vec_id").to_numpy()
    handle = BqReplicaHandle([shard])
    for i in range(8):
        one = pd.DataFrame({"qid": [qids[i]], "qvec": [qv[i]]})
        old = bq_replica_serve([shard], one, k=10)
        ids, dists = handle.search_one(qv[i], k=10)
        assert list(old["vec_id"]) == list(ids)
        assert np.allclose(old["dist"].to_numpy(), dists)
        assert list(zip(dists, ids)) == sorted(zip(dists, ids))

    # refresh coherence: rewrite flips which row matches the query bits
    p = str(tmp_path / "shard.parquet")

    def write(order):
        pq.write_table(
            pa.table({"vec_id": [10, 11, 12],
                      "embedding": [[float(o), 1.0] for o in order]}),
            p, compression="none",
        )

    write([9.0, 5.0, 1.0])
    h2 = BqReplicaHandle([p])
    ids0, _ = h2.search_one(np.array([9.0, 1.0]), k=1)
    first = ids0[0]
    import time as _time

    _time.sleep(0.01)
    write([1.0, 5.0, 9.0])
    h2.refresh()
    ids1, _ = h2.search_one(np.array([9.0, 1.0]), k=1)
    assert first == 10 and ids1[0] == 12


def test_sq_pq_handle_parity(spark):
    """SQ/PQ single-query handles: distance multisets must match the batch
    serve paths (atol covers float32 reduction-order ulp), ids must match
    at every untied rank, and refresh() must resolve through the serve
    caches (same model/codes)."""
    import numpy as np
    import pandas as pd
    import pyarrow.parquet as _pq

    from custom_python_vectordb_spark.operators.quantization import (
        PqReplicaHandle,
        SqReplicaHandle,
        pq_replica_serve,
        sq_replica_serve,
    )

    shard = "/root/testdata/sf0.1/embeddings.parquet"
    head = _pq.read_table(shard, columns=["vec_id", "embedding"]).slice(0, 6)
    qv = [np.asarray(v, dtype=np.float32) for v in head.column("embedding").to_pylist()]
    qids = head.column("vec_id").to_numpy()
    for handle, serve, kw in (
        (SqReplicaHandle([shard]), sq_replica_serve, {}),
        (PqReplicaHandle([shard], num_subspaces=8), pq_replica_serve, {"num_subspaces": 8}),
    ):
        for i in range(6):
            one = pd.DataFrame({"qid": [qids[i]], "qvec": [qv[i]]})
            old = serve([shard], one, k=10, **kw)
            ids, d = handle.search_one(qv[i], k=10)
            od = old["dist"].to_numpy()
            assert np.allclose(np.sort(od), np.sort(d), atol=1e-4)
            oi = list(old["vec_id"])
            for r in range(len(oi)):
                if (np.abs(od - od[r]) < 1e-9).sum() == 1:
                    assert oi[r] == ids[r]
            assert list(zip(d, ids)) == sorted(zip(d, ids))


def test_sq_handle_two_phase_bit_identity():
    """The r12 two-phase SqReplicaHandle scan (float32 coarse pass with a
    certified error envelope, float64 chunk-geometry refine) must return
    ids AND distances bit-identical to a full float64 chunked scan —
    including corpus-row queries, where the L2 expansion's cancellation
    amplifies any cross-term ulp flip ~50x (the failure mode that forced
    the chunk-geometry recompute)."""
    import glob

    from custom_python_vectordb_spark.operators.quantization import SqReplicaHandle
    from custom_python_vectordb_spark.operators.topk import topk_tie_aware

    shard = "/root/testdata/sf0.01/embeddings.parquet"
    h = SqReplicaHandle([shard])

    def full_scan(qvec, k):
        q = np.asarray(qvec, dtype=np.float64)
        scale = h.s * 255.0
        qc = np.floor(np.clip((q - h.minv) / scale * 255.0, 0.0, 255.0))
        qw = qc * h.s2
        wb2 = float((qc * qc * h.s2).sum())
        n = len(h.ids)
        d2 = np.empty(n, dtype=np.float64)
        for lo in range(0, n, h._chunk):
            hi = min(lo + h._chunk, n)
            d2[lo:hi] = h.codes[lo:hi].astype(np.float64) @ qw
        d2 *= -2.0
        d2 += h.wa2
        d2 += wb2
        np.maximum(d2, 0.0, out=d2)
        np.sqrt(d2, out=d2)
        return topk_tie_aware(np, h.ids, d2, k)

    rng = np.random.default_rng(12)
    dim = h.codes.shape[1]
    # corpus rows (distance ~0 -> maximal cancellation) + uniform randoms
    queries = [h.minv + h.s * 255.0 * c.astype(np.float64) / 255.0 for c in h.codes[:40]]
    queries += [h.minv + rng.random(dim) * (h.s * 255.0) for _ in range(40)]
    for k in (1, 10, 50):
        for q in queries:
            i_new, d_new = h.search_one(q, k)
            i_ref, d_ref = full_scan(q, k)
            assert np.array_equal(i_new, i_ref)
            assert np.array_equal(d_new, d_ref)


def test_sq_handle_reentrant_under_concurrency():
    """r13 ADVICE (low): SqReplicaHandle is served from concurrent REST
    threads — concurrent search_one calls must return exactly what serial
    calls return (the r12 shared preallocated scratch buffers corrupted
    each other's envelopes under reentrancy)."""
    from concurrent.futures import ThreadPoolExecutor

    from custom_python_vectordb_spark.operators.quantization import SqReplicaHandle

    shard = "/root/testdata/sf0.01/embeddings.parquet"
    h = SqReplicaHandle([shard])
    rng = np.random.default_rng(7)
    dim = h.codes.shape[1]
    queries = [h.minv + rng.random(dim) * (h.s * 255.0) for _ in range(32)]
    serial = [h.search_one(q, k=10) for q in queries]
    with ThreadPoolExecutor(8) as ex:
        for _ in range(3):  # repeat: interleavings vary per run
            conc = list(ex.map(lambda q: h.search_one(q, k=10), queries))
            for (si, sd), (ci, cd) in zip(serial, conc):
                assert list(si) == list(ci)
                assert np.array_equal(sd, cd)


def test_sq_handle_envelope_scales_with_dimension(tmp_path):
    """r13 ADVICE (medium): the certified float32 coarse-scan coefficient
    must grow with D — a constant tuned to D=128 undersizes the envelope
    at 2048-d and can silently drop true top-k rows. Checks the computed
    coefficient dominates the true worst-case bound and that high-dim
    results stay bit-identical to the float64 scan on near-duplicate rows
    (the envelope's hardest case)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from custom_python_vectordb_spark.operators.quantization import SqReplicaHandle
    from custom_python_vectordb_spark.operators.topk import topk_tie_aware

    rng = np.random.default_rng(5)
    dim, n = 2048, 3000
    base = rng.random((n, dim))
    # clusters of near-duplicates: rows whose float32 coarse distances
    # collide are exactly where an undersized envelope drops true top-k
    base[1::3] = base[0::3][: len(base[1::3])] + 1e-7
    p = str(tmp_path / "hd.parquet")
    pq.write_table(
        pa.table({"vec_id": np.arange(n), "embedding": list(base)}),
        p, compression="none",
    )
    h = SqReplicaHandle([p])
    true_bound = (dim + 8) * 2.0 ** -24
    assert float(h._err32) >= true_bound, (float(h._err32), true_bound)

    def full_scan(qvec, k):
        q = np.asarray(qvec, dtype=np.float64)
        scale = h.s * 255.0
        qc = np.floor(np.clip((q - h.minv) / scale * 255.0, 0.0, 255.0))
        qw = qc * h.s2
        wb2 = float((qc * qc * h.s2).sum())
        nn = len(h.ids)
        d2 = np.empty(nn, dtype=np.float64)
        for lo in range(0, nn, h._chunk):
            hi = min(lo + h._chunk, nn)
            d2[lo:hi] = h.codes[lo:hi].astype(np.float64) @ qw
        d2 *= -2.0
        d2 += h.wa2
        d2 += wb2
        np.maximum(d2, 0.0, out=d2)
        np.sqrt(d2, out=d2)
        return topk_tie_aware(np, h.ids, d2, k)

    for q in [base[i] for i in range(0, 30, 3)]:
        ti, td = full_scan(q, 10)
        hi_, hd = h.search_one(q, 10)
        assert list(ti) == list(hi_)
        assert np.array_equal(td, hd)


def test_bq_batch_threaded_blocked_scan_equals_single_thread(tmp_path):
    """r13: the batch BQ scan's 4-thread × 32K-block kernel (the path the
    100K bench corpus takes) must produce exactly the single-thread scan's
    Hamming top-k — thread/block boundaries are arithmetic-invariant for
    xor+popcount, so any divergence is an indexing bug."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    import custom_python_vectordb_spark.operators.quantization as Q

    rng = np.random.default_rng(11)
    n, dim = 70_000, 32  # past the 65_536 threading threshold
    mat = rng.standard_normal((n, dim))
    p = str(tmp_path / "big.parquet")
    pq.write_table(
        pa.table({"vec_id": np.arange(n), "embedding": list(mat)}),
        p, compression="none",
    )
    qpd = pd.DataFrame({"qid": np.arange(8), "qvec": list(mat[:8])})
    got = Q.bq_replica_serve([p], qpd, k=10)

    # single-thread truth straight off the cached packed tier
    entry = Q._bq_resolve([p], id_col="vec_id")
    _, ids, words, med, pad = entry
    qp = np.packbits((mat[:8] > med[None, :]).astype(np.uint8), axis=1)
    if pad:
        qp = np.concatenate([qp, np.zeros((8, pad), dtype=np.uint8)], axis=1)
    qw = np.ascontiguousarray(qp).view(np.uint64)
    for qi in range(8):
        acc = np.zeros(n, dtype=np.uint64)
        x = np.empty(n, dtype=np.uint64)
        t = np.empty(n, dtype=np.uint64)
        for w in range(words.shape[1]):
            np.bitwise_xor(qw[qi, w], words[:, w], out=x)
            acc += Q._popcount64(x, t)
        order = sorted(range(n), key=lambda i: (acc[i], ids[i]))[:10]
        sub = got[got["qid"] == qi]
        assert list(sub["vec_id"]) == [ids[i] for i in order]
        assert list(sub["dist"]) == [float(acc[i]) for i in order]


def test_bq_sq_handle_save_load_parity(tmp_path):
    """r13: BqReplicaHandle / SqReplicaHandle save_index/load_index —
    the warm-start family contract. Loaded snapshots must return
    bit-identical results (the SQ certified two-phase scan included),
    record the shard stat key, and keep refresh() working."""
    import numpy as np
    import pyarrow.parquet as pq

    from custom_python_vectordb_spark.operators.quantization import (
        BqReplicaHandle,
        SqReplicaHandle,
    )

    shard = "/root/testdata/sf0.1/embeddings.parquet"
    head = pq.read_table(shard, columns=["embedding"]).slice(0, 5)
    qv = [np.asarray(v, dtype=np.float64) for v in head.column("embedding").to_pylist()]

    hb = BqReplicaHandle([shard])
    db = str(tmp_path / "bq")
    hb.save_index(db)
    hb2 = BqReplicaHandle.load_index(db)
    for q in qv:
        a_i, a_d = hb.search_one(q, 10)
        b_i, b_d = hb2.search_one(q, 10)
        assert np.array_equal(a_i, b_i) and np.array_equal(a_d, b_d)
    hb2.refresh()
    a_i, a_d = hb.search_one(qv[0], 10)
    b_i, b_d = hb2.search_one(qv[0], 10)
    assert np.array_equal(a_i, b_i) and np.array_equal(a_d, b_d)

    hs = SqReplicaHandle([shard])
    ds = str(tmp_path / "sq")
    hs.save_index(ds)
    hs2 = SqReplicaHandle.load_index(ds)
    assert hs2._err32 == hs._err32  # certified coefficient re-derived
    for q in qv:
        a_i, a_d = hs.search_one(q, 10)
        b_i, b_d = hs2.search_one(q, 10)
        assert np.array_equal(a_i, b_i) and np.array_equal(a_d, b_d)

    from custom_python_vectordb_spark.operators.quantization import (
        PqReplicaHandle,
    )

    hp = PqReplicaHandle([shard], num_subspaces=8)
    dp = str(tmp_path / "pq")
    hp.save_index(dp)
    hp2 = PqReplicaHandle.load_index(dp)
    assert (hp2._fused is None) == (hp._fused is None)
    for q in qv:
        a_i, a_d = hp.search_one(q, 10)
        b_i, b_d = hp2.search_one(q, 10)
        assert np.array_equal(a_i, b_i) and np.array_equal(a_d, b_d)

    # all three snapshots carry the stat-key freshness handle
    from custom_python_vectordb_spark.operators import shard_tier

    for f, key in ((db, "bq_index"), (ds, "sq_index"), (dp, "pq_index")):
        _arrays, meta = shard_tier.load(f, key)
        assert meta["stat_key"][0][0] == shard
