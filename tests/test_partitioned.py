"""Partition-local ANN index: determinism, contract, and the recall gate
(the accelerator must stay ≥0.9 recall@10 vs exact — the reference's own
quality bar for its HNSW/quantized accelerators)."""

from __future__ import annotations

from custom_python_vectordb_spark.operators.knn import knn
from custom_python_vectordb_spark.operators.partitioned import knn_partitioned

SF01 = "/root/testdata/sf0.1"


def _emb(spark, sf_dir):
    from custom_python_vectordb_spark.sources.catalog import load_table

    return load_table(spark, sf_dir, "embeddings")


def _queries(spark, sf_dir, n=5):
    from pyspark.sql import functions as F

    return (
        _emb(spark, sf_dir)
        .filter(F.col("vec_id") < n)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    )


def test_contract_sorted_topk(spark):
    emb = _emb(spark, SF01)
    qpd = _queries(spark, SF01).toPandas()
    rows = knn_partitioned(emb, qpd, k=10, n_cells=16, nprobe=6).collect()
    assert len(rows) == 50
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["qid"], []).append(r["dist"])
    for q, dists in by_q.items():
        assert len(dists) == 10
        assert dists == sorted(dists), f"qid {q} not sorted"


def test_deterministic_across_runs(spark):
    emb = _emb(spark, SF01)
    qpd = _queries(spark, SF01).toPandas()
    a = [tuple(r) for r in knn_partitioned(emb, qpd, k=10).collect()]
    b = [tuple(r) for r in knn_partitioned(emb, qpd, k=10).collect()]
    assert a == b


def test_recall_gate(spark):
    emb = _emb(spark, SF01)
    queries = _queries(spark, SF01)
    qpd = queries.toPandas()
    approx = {
        (r["qid"], r["vec_id"])
        for r in knn_partitioned(emb, qpd, k=10, n_cells=16, nprobe=6).collect()
    }
    truth = {(r["qid"], r["vec_id"]) for r in knn(emb, queries, k=10).collect()}
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.9, f"recall@10 {recall:.2f} < 0.9"


def test_self_query_found(spark):
    """Each query vector is its own nearest neighbour — the index must not
    prune the query's own cell."""
    emb = _emb(spark, SF01)
    qpd = _queries(spark, SF01).toPandas()
    rows = knn_partitioned(emb, qpd, k=1, n_cells=16, nprobe=6).collect()
    assert all(r["qid"] == r["vec_id"] for r in rows)


def test_ivf_replica_serve_contract_and_recall(spark):
    """In-process IVF replica serving: sorted exact-k contract per query,
    deterministic across calls (index cache), self-query found, and the
    same ≥0.9 recall@10 gate vs exact as the distributed path."""
    from custom_python_vectordb_spark.operators.partitioned import ivf_replica_serve

    shard = f"{SF01}/embeddings.parquet"
    queries = _queries(spark, SF01)
    qpd = queries.toPandas()
    res = ivf_replica_serve([shard], qpd, k=10, n_cells=16, nprobe=6)
    assert len(res) == 50
    for q, grp in res.groupby("qid"):
        assert len(grp) == 10
        assert grp["dist"].tolist() == sorted(grp["dist"].tolist())
    res2 = ivf_replica_serve([shard], qpd, k=10, n_cells=16, nprobe=6)
    assert res.values.tolist() == res2.values.tolist()
    emb = _emb(spark, SF01)
    truth = {(r["qid"], r["vec_id"]) for r in knn(emb, queries, k=10).collect()}
    approx = set(zip(res["qid"].astype(int), res["vec_id"].astype(int)))
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.9, f"recall@10 {recall:.2f} < 0.9"
    one = ivf_replica_serve([shard], qpd, k=1, n_cells=16, nprobe=6)
    assert (one["qid"].to_numpy() == one["vec_id"].to_numpy()).all()


def test_partitioned_snapshot_matches_recomputation(spark):
    """The frozen sf0.01 snapshot rows (the knn_partitioned /
    recall_partitioned_vs_exact oracles) must equal a live recomputation
    under this session's config — drift fails here before the driver
    gate ever sees it."""
    from pyspark.sql import functions as F

    from custom_python_vectordb_spark.queries._partitioned_snapshot import (
        KNN_PARTITIONED_ROWS_SF001,
        RECALL_SF001,
    )
    from custom_python_vectordb_spark.queries.spine import _query_vectors

    sf = "/root/testdata/sf0.01"
    emb = _emb(spark, sf)
    qpd = _query_vectors(spark, sf, 5).toPandas()
    out = knn_partitioned(emb, qpd, k=10, n_cells=16, nprobe=6).withColumn(
        "dist", F.round("dist", 6) + F.lit(0.0)
    )
    live = [(int(r["qid"]), int(r["vec_id"]), float(r["dist"])) for r in out.collect()]
    assert live == [(q, v, float(d)) for q, v, d in KNN_PARTITIONED_ROWS_SF001]

    queries = _query_vectors(spark, sf, 5)
    approx = knn_partitioned(emb, qpd, k=10, n_cells=16, nprobe=6).select("qid", "vec_id")
    truth = knn(emb, queries, k=10).select("qid", "vec_id")
    hits = truth.join(approx, ["qid", "vec_id"]).groupBy("qid").agg(
        F.count(F.lit(1)).alias("n")
    )
    rec = hits.agg(F.round(F.avg("n") / 10.0, 6).alias("r")).collect()[0]["r"]
    assert float(rec) == RECALL_SF001


def test_ivf_handle_parity_and_refresh(spark, tmp_path):
    """IvfReplicaHandle (r7 single-query fast path): per-query ids must
    equal ivf_replica_serve's (same index, same probes; dists equal to
    float32 ulp — per-cell GEMM vs GEMV accumulation differ in the last
    bit), and refresh() must pick up a shard rewrite the same way the
    per-call stat check does."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from custom_python_vectordb_spark.operators.partitioned import (
        IvfReplicaHandle,
        ivf_replica_serve,
    )

    shard = f"{SF01}/embeddings.parquet"
    qpd = _queries(spark, SF01, n=8).toPandas()
    kw = dict(n_cells=16, nprobe=6, assign_r=2)
    handle = IvfReplicaHandle([shard], **kw)
    for _, row in qpd.iterrows():
        one = pd.DataFrame({"qid": [row["qid"]], "qvec": [row["qvec"]]})
        old = ivf_replica_serve([shard], one, k=10, **kw)
        ids, dists = handle.search_one(row["qvec"], k=10)
        assert list(old["vec_id"]) == list(ids)
        assert np.allclose(old["dist"].to_numpy(), dists, atol=1e-5)
        assert list(dists) == sorted(dists)

    # refresh coherence: same-size rewrite flips the nearest neighbour
    p = str(tmp_path / "shard.parquet")

    def write(order):
        pq.write_table(
            pa.table({"vec_id": [10, 11, 12],
                      "embedding": [[float(o), 1.0] for o in order]}),
            p, compression="none",
        )

    write([1.0, 5.0, 9.0])
    h2 = IvfReplicaHandle([p], n_cells=2, nprobe=2, metric="l2")
    ids, _ = h2.search_one(np.array([1.0, 1.0]), k=1)
    assert ids[0] == 10
    import time as _time

    _time.sleep(0.01)  # ensure mtime_ns moves
    write([9.0, 5.0, 1.0])
    h2.refresh()
    ids, _ = h2.search_one(np.array([1.0, 1.0]), k=1)
    assert ids[0] == 12


def test_ivf_handle_kth_boundary_ties_break_by_id(tmp_path):
    """Regression (round-7 ADVICE): search_one used a bare argpartition,
    so exact distance ties AT the k-th boundary were broken arbitrarily.
    With duplicate vectors straddling the boundary, the kept ids must be
    the SMALLEST ids among the tied distances — the (dist, id) rank rule
    shared with ivf_replica_serve and the SQ/PQ/BQ handles."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from custom_python_vectordb_spark.operators.partitioned import (
        IvfReplicaHandle,
    )

    # 6 identical far vectors (ids 20..25) + 2 distinct near ones; k=4
    # forces a cut INSIDE the tied group — ids 20,21 must win, every time
    p = str(tmp_path / "dups.parquet")
    vecs = [[0.9, 0.1], [0.8, 0.2]] + [[0.0, 1.0]] * 6
    pq.write_table(
        pa.table({"vec_id": [10, 11, 20, 21, 22, 23, 24, 25],
                  "embedding": [[float(a), float(b)] for a, b in vecs]}),
        p, compression="none",
    )
    h = IvfReplicaHandle([p], n_cells=2, nprobe=2, metric="l2")
    for _ in range(5):
        ids, dists = h.search_one(np.array([1.0, 0.0]), k=4)
        assert list(ids) == [10, 11, 20, 21]
        assert list(dists) == sorted(dists)


def test_assign_cells_gemm_matches_declarative(spark):
    """The Arrow-batch GEMM assignment must agree row-for-row with the
    declarative struct-min argmin, including its lowest-cluster tie rule
    (duplicated centroid) and zero vectors."""
    from custom_python_vectordb_spark.operators.similarity import (
        assign_cells_gemm,
        with_ivf_cluster,
    )

    rows = [
        (0, [0.0, 0.0]),   # zero vector
        (1, [1.0, 0.0]),
        (2, [0.0, 1.0]),
        (3, [0.5, 0.5]),   # equidistant to cluster 0 and 1 under dup cents
        (4, [-1.0, -1.0]),
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])],  # 0 and 1 identical
        "cluster int, cvec array<float>",
    )
    decl = {(r["vec_id"], r["cluster"])
            for r in with_ivf_cluster(corpus, cents).select("vec_id", "cluster").collect()}
    gemm = {(r["vec_id"], r["cluster"])
            for r in assign_cells_gemm(corpus, cents).select("vec_id", "cluster").collect()}
    assert gemm == decl
    # identical centroids 0/1: ties must resolve to cluster 0 in both
    assert (1, 0) in gemm


def test_within_cell_neardup_losers_known_geometry(spark):
    """Known vectors: exact duplicates lose (higher id), orthogonal
    cell-mates survive, singleton cells emit nothing, and losers never
    cross cells even for identical vectors."""
    from custom_python_vectordb_spark.operators.similarity import (
        within_cell_neardup_losers,
    )

    rows = [
        # cell 0: 10 and 11 identical (11 loses), 12 orthogonal
        (10, [1.0, 0.0, 0.0], 0),
        (11, [1.0, 0.0, 0.0], 0),
        (12, [0.0, 1.0, 0.0], 0),
        # cell 1: identical to cell-0 vectors but a different cell -> safe
        (20, [1.0, 0.0, 0.0], 1),
        # cell 2: singleton
        (30, [0.0, 0.0, 1.0], 2),
        # cell 3: three mutual near-dups -> the two higher ids lose
        (40, [2.0, 2.0, 0.0], 3),
        (41, [1.0, 1.0, 0.0], 3),   # same direction, different magnitude
        (42, [1.0, 1.0, 0.001], 3),
    ]
    assigned = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, cluster int"
    )
    losers = {
        r["vec_id"]
        for r in within_cell_neardup_losers(assigned, threshold=0.95).collect()
    }
    assert losers == {11, 41, 42}


def test_ivf_resolve_grouping_matches_boolean_scan(tmp_path):
    """The r11 argsort-grouped cell construction in _ivf_resolve must
    reproduce the per-cell boolean-scan form it replaced: for every cell,
    the SAME member rows in the SAME (increasing-id) order — property-
    tested over randomized shapes incl. multi-assignment, empty cells
    (c > distinct assigned), and corpora above the training-sample cap."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from custom_python_vectordb_spark.operators.partitioned import _ivf_resolve

    rng = np.random.default_rng(7)
    for case, (n, d, n_cells, assign_r, cap) in enumerate([
        (50, 8, 16, 1, 131_072),
        (200, 4, 32, 2, 131_072),
        (333, 6, 64, 3, 131_072),   # many empty cells
        (400, 4, 8, 2, 100),        # sampled training path (n > cap)
    ]):
        mat = rng.standard_normal((n, d)).astype(np.float32)
        ids = rng.permutation(n).astype(np.int64)  # unsorted on disk
        p = str(tmp_path / f"g{case}.parquet")
        pq.write_table(pa.table({
            "vec_id": pa.array(ids),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(mat.reshape(-1).astype(np.float64)), d
            ),
        }), p)
        # params ordered as partitioned._IVF_KW
        entry = _ivf_resolve([p], ("vec_id", "float64", "l2", n_cells, assign_r, cap, 5))
        _, cent, cell_ids, cell_mats, cell_rows, *_ = entry
        c = len(cell_ids)
        # reconstruct the id-sorted matrix the builder worked from
        order = np.argsort(ids, kind="stable")
        sids, smat = ids[order], mat[order].astype(np.float64)
        # reference multi-assignment from the RETURNED centroids (the
        # grouping is what's under test, not the training)
        d2 = ((smat * smat).sum(1)[:, None] + (cent * cent).sum(1)[None, :]
              - 2.0 * (smat @ cent.T))
        r = min(assign_r, c)
        multi = np.argpartition(d2, r - 1, axis=1)[:, :r]
        total = 0
        for j in range(c):
            msel = np.nonzero((multi == j).any(axis=1))[0]  # boolean-scan form
            assert np.array_equal(cell_ids[j], sids[msel]), (case, j)
            assert np.array_equal(cell_mats[j], smat[msel]), (case, j)
            # r12: the handle's dedup keys on these id-sorted row positions
            assert np.array_equal(cell_rows[j], msel), (case, j)
            total += len(msel)
        assert total == n * r  # every (row, slot) landed in exactly one cell


def test_ivfpq_handle_coarse_parity_and_rerank(tmp_path):
    """IvfPqReplicaHandle: (a) coarse ADC distances over the probed cells
    must equal a brute-force reconstruction from the handle's own cells,
    LUT arithmetic included; (b) with the mmap rerank tier and fetch_k
    covering the corpus, results must equal the exact L2 replica top-k;
    (c) fresh handles are deterministic."""
    import numpy as np
    import pandas as pd

    from custom_python_vectordb_spark.operators.knn import knn_replica_serve
    from custom_python_vectordb_spark.operators.partitioned import IvfPqReplicaHandle

    shard = "/root/testdata/sf0.1/embeddings.parquet"
    import pyarrow.parquet as _pq

    head = _pq.read_table(shard, columns=["vec_id", "embedding"]).slice(0, 5)
    qv = [np.asarray(v, dtype=np.float32) for v in head.column("embedding").to_pylist()]
    qids = head.column("vec_id").to_numpy()

    kw = dict(n_cells=16, nprobe=4, assign_r=2, num_subspaces=8)
    h = IvfPqReplicaHandle([shard], **kw)

    # (a) brute-force reconstruction from the handle's own state
    for q in qv[:3]:
        ids, d = h.search_one(q, k=10)
        cscore = (h.cent * h.cent).sum(1) - 2.0 * (h.cent @ q)
        probes = cscore.argpartition(h.nprobe - 1)[: h.nprobe]
        m, kc, sub_d = h.books.shape
        ref = {}
        for j in probes:
            # RESIDUAL ADC: the per-cell LUT comes from q - cent[j];
            # handle state stores OFFSET codes (code[mi] + mi*K) — recover
            # the plain per-subspace codes so the reference sums the LUT
            # independently of the flattened-gather implementation
            qsub = (q - h.cent[j]).reshape(m, sub_d)
            lut = ((qsub * qsub).sum(1)[:, None] + (h.books * h.books).sum(2)
                   - 2.0 * np.einsum("ms,mks->mk", qsub, h.books))
            ct = h.cell_codes[j] - (np.arange(m, dtype=np.int64)[:, None] * kc)
            if not ct.shape[1]:
                continue
            acc = sum(lut[mi][ct[mi]] for mi in range(m))
            for i, vid in enumerate(h.cell_ids[j]):
                # multi-assigned rows have a residual code PER CELL; the
                # handle's dedup keeps the smaller distance estimate
                dd = np.sqrt(max(float(acc[i]), 0.0))
                ref[int(vid)] = min(ref.get(int(vid), np.inf), dd)
        want = sorted(ref.items(), key=lambda t: (t[1], t[0]))[:10]
        assert [int(v) for v in ids] == [v for v, _ in want]
        assert np.allclose(d, [dd for _, dd in want], atol=1e-4)

    # (b) exact rerank with every cell probed AND full-coverage fetch_k ==
    # exact L2 top-k (nprobe < n_cells can legitimately drop a true
    # neighbour living in an unprobed cell — that loss is the measured
    # recall trade, not a rerank defect)
    hr = IvfPqReplicaHandle(
        [shard], rerank_mmap_dir=str(tmp_path / "mm"),
        **{**kw, "nprobe": kw["n_cells"]},
    )
    qpd = pd.DataFrame({"qid": qids, "qvec": qv})
    exact = knn_replica_serve([shard], qpd, k=5, metric="l2", dtype="float64")
    for i in range(5):
        ids, d = hr.search_one(qv[i], k=5, fetch_k=10_000_000)
        ex = exact[exact["qid"] == qids[i]]
        assert list(ids) == list(ex["vec_id"])
        # diff-form rerank vs the replica's expansion form: identical to
        # ~1e-7 (the expansion loses ~sqrt(eps) near zero, the diff doesn't)
        assert np.allclose(d, ex["dist"].to_numpy(), atol=1e-6)

    # (c) determinism across fresh builds — force a genuine retrain by
    # emptying the shard tier first (entries are otherwise shared by key)
    from custom_python_vectordb_spark.operators import shard_tier

    shard_tier.clear()
    h2 = IvfPqReplicaHandle([shard], **kw)
    for q in qv[:2]:
        a_ids, a_d = h.search_one(q, 10)
        b_ids, b_d = h2.search_one(q, 10)
        assert np.array_equal(a_ids, b_ids) and np.array_equal(a_d, b_d)


def test_ivfpq_cache_bounded_lru(monkeypatch):
    """r12 (ADVICE r11): the IVF-PQ replica cache holds SEVERAL live
    indexes — alternating handles over two collections (or two build-param
    sets) must NOT retrain per construction. Eviction is least-recently-
    used under the shard tier's byte budget, not clear-the-world."""
    from custom_python_vectordb_spark.operators import partitioned as P
    from custom_python_vectordb_spark.operators import shard_tier

    shard = "/root/testdata/sf0.001/embeddings.parquet"
    size = {}
    for nc in (4, 8, 12, 16, 20):
        shard_tier.clear()
        P.IvfPqReplicaHandle([shard], n_cells=nc, nprobe=2, num_subspaces=8)
        size[nc] = shard_tier._resident
    # room for four entries, not for all five
    budget = max(sum(size[nc] for nc in (4, 8, 12, 16)),
                 sum(size[nc] for nc in (8, 12, 16, 20)))
    assert budget < sum(size.values())
    monkeypatch.setattr(shard_tier, "BUDGET_BYTES", budget)
    builds = []
    real_load = shard_tier.load_vectors

    def counting_load(*a, **kw):
        builds.append(a)
        return real_load(*a, **kw)

    monkeypatch.setattr(shard_tier, "load_vectors", counting_load)
    shard_tier.clear()
    P.IvfPqReplicaHandle([shard], n_cells=4, nprobe=2, num_subspaces=8)
    P.IvfPqReplicaHandle([shard], n_cells=8, nprobe=2, num_subspaces=8)
    assert len(builds) == 2
    # re-constructing either handle reuses the cached entry (no retrain)
    P.IvfPqReplicaHandle([shard], n_cells=4, nprobe=2, num_subspaces=8)
    P.IvfPqReplicaHandle([shard], n_cells=8, nprobe=2, num_subspaces=8)
    assert len(builds) == 2
    # filling past the budget evicts the LEAST-recently-used key only
    for nc in (12, 16, 20):
        P.IvfPqReplicaHandle([shard], n_cells=nc, nprobe=2, num_subspaces=8)
    assert len(builds) == 5
    # the most-recent keys survive
    for nc in (8, 12, 16, 20):
        P.IvfPqReplicaHandle([shard], n_cells=nc, nprobe=2, num_subspaces=8)
    assert len(builds) == 5
    # the oldest touch (n_cells=4) was evicted: it retrains
    P.IvfPqReplicaHandle([shard], n_cells=4, nprobe=2, num_subspaces=8)
    assert len(builds) == 6
    shard_tier.clear()


def test_ivf_handle_concurrent_refresh_never_tears(tmp_path):
    """r13 ADVICE (high): REST handler threads share one handle while a
    shard rewrite triggers refresh(). The index must be published as ONE
    atomic snapshot — a racing reader sees either the whole old corpus or
    the whole new one, never new cell_ids with old cell_mats (which raised
    shape errors or returned ids from neither version)."""
    import threading
    import time as _time

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from custom_python_vectordb_spark.operators.partitioned import IvfReplicaHandle

    rng = np.random.default_rng(3)
    p = str(tmp_path / "shard.parquet")

    def write(n_rows: int, base: int):
        mat = rng.standard_normal((n_rows, 16)).astype(np.float64)
        pq.write_table(
            pa.table({
                "vec_id": np.arange(base, base + n_rows),
                "embedding": list(mat),
            }),
            p, compression="none",
        )

    # two corpora with DIFFERENT row counts and disjoint id ranges so a
    # torn mix is detectable: version A ids < 10_000, version B ≥ 10_000
    write(800, 0)
    h = IvfReplicaHandle([p], n_cells=8, nprobe=8, assign_r=1, metric="l2")
    errors: list = []
    stop = threading.Event()

    def reader():
        q = rng.standard_normal(16)
        while not stop.is_set():
            try:
                ids, dists = h.search_one(q, k=5)
                lo, hi = int(min(ids)), int(max(ids))
                # ids must come from ONE version, never a mix
                if not (hi < 10_000 or lo >= 10_000):
                    errors.append(f"torn id mix: {lo}..{hi}")
                if len(dists) and list(dists) != sorted(dists):
                    errors.append("unsorted")
            except Exception as e:  # torn state raised shape errors pre-fix
                errors.append(repr(e))

    threads = [threading.Thread(target=reader) for _ in range(4)]
    for t in threads:
        t.start()
    flip = True
    for _ in range(6):
        _time.sleep(0.02)  # mtime_ns must move between writes
        write(1200 if flip else 800, 10_000 if flip else 0)
        flip = not flip
        h.refresh()
    stop.set()
    for t in threads:
        t.join()
    assert not errors, errors[:5]


def test_ivfpq_auto_subspaces_density_adaptive(tmp_path):
    """r13 (VERDICT r12 task 5): num_subspaces='auto' must pick the ADC
    resolution from a full-density recall probe — the 10M probe showed M
    must grow with rows-per-cell (recall plateaus at coarse codes inside
    dense cells, SCALING.md VEC10M), so a corpus with 6000-row clusters
    needs a finer code than the same rows spread over 512 clusters. Gate:
    auto hits the target recall on BOTH corpora without a manual M, and
    externally-measured rerank recall@10 (exhaustive probing, so the
    probing term is zero) confirms the probe's verdict."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from custom_python_vectordb_spark.operators.partitioned import IvfPqReplicaHandle

    rng = np.random.default_rng(21)
    n, dim = 24_000, 32

    def make(n_centers: int) -> np.ndarray:
        c = rng.standard_normal((n_centers, dim)) * 5.0
        asn = rng.integers(0, n_centers, n)
        return (c[asn] + 0.7 * rng.standard_normal((n, dim))).astype(np.float64)

    handles = {}
    for name, n_centers in (("loose", 512), ("dense", 4)):
        mat = make(n_centers)
        p = str(tmp_path / f"{name}.parquet")
        pq.write_table(
            pa.table({"vec_id": np.arange(n), "embedding": list(mat)}),
            p, compression="none",
        )
        h = IvfPqReplicaHandle(
            [p], n_cells=16, nprobe=16, assign_r=1,
            num_subspaces="auto", num_centroids=16, target_recall=0.99,
            rerank_mmap_dir=str(tmp_path / f"mm_{name}"),
        )
        assert h.probe_recall is not None and h.probe_recall >= 0.99, (
            name, h.chosen_m, h.probe_recall,
        )
        # external recall check, independent of the probe's own loop:
        # nprobe = n_cells ⇒ no probing loss, so this isolates ADC+rerank
        hits = 0
        qidx = np.linspace(0, n - 1, 32).astype(np.int64)
        for qi in qidx:
            q = mat[qi]
            diff = mat - q
            ex = np.einsum("ij,ij->i", diff, diff)
            truth = set(int(r) for r in np.argsort(ex, kind="stable")[:10])
            ids, _d = h.search_one(q, k=10, fetch_k=300)
            hits += len(set(int(i) for i in ids) & truth)
        assert hits / 320 >= 0.99, (name, h.chosen_m, hits / 320)
        handles[name] = h
    # the density claim itself: more rows per cluster demands finer codes
    assert handles["dense"].chosen_m > handles["loose"].chosen_m, {
        k: v.chosen_m for k, v in handles.items()
    }


def test_ivfpq_save_load_index_snapshot(tmp_path):
    """r13: `save_index`/`load_index` — the faiss write_index/read_index
    role. A loaded snapshot must (a) return BIT-IDENTICAL results to the
    live handle, coarse and reranked, without the source parquet present;
    (b) honor an nprobe override (query-time knob); (c) refuse refresh()
    loudly (no shard set to re-stat)."""
    import os
    import shutil

    import numpy as np
    import pyarrow.parquet as _pq

    from custom_python_vectordb_spark.operators.partitioned import IvfPqReplicaHandle

    src = "/root/testdata/sf0.1/embeddings.parquet"
    shard = str(tmp_path / "emb.parquet")
    shutil.copyfile(src, shard)
    head = _pq.read_table(shard, columns=["embedding"]).slice(0, 6)
    qv = [np.asarray(v, dtype=np.float32) for v in head.column("embedding").to_pylist()]

    mm = str(tmp_path / "mm")
    h = IvfPqReplicaHandle(
        [shard], n_cells=16, nprobe=4, assign_r=2, num_subspaces=8,
        rerank_mmap_dir=mm,
    )
    idx = str(tmp_path / "idx")
    h.save_index(idx)
    live = [h.search_one(q, k=10, fetch_k=50) for q in qv]
    # coarse baseline needs a handle WITHOUT the mmap tier (with one
    # attached, search_one always reranks at the default fetch_k); the
    # code tier is shared through the LRU cache so this build is free
    h_c = IvfPqReplicaHandle([shard], n_cells=16, nprobe=4, assign_r=2,
                             num_subspaces=8)
    live_coarse = [h_c.search_one(q, k=10) for q in qv]

    # the snapshot must serve with the parquet GONE — codes + mmap tier
    # are the whole serving truth
    os.remove(shard)
    h2 = IvfPqReplicaHandle.load_index(idx, rerank_mmap_dir=mm)
    assert h2.chosen_m == h.chosen_m
    for q, (ids, d), (cids, cd) in zip(qv, live, live_coarse):
        ids2, d2 = h2.search_one(q, k=10, fetch_k=50)
        assert np.array_equal(ids, ids2) and np.array_equal(d, d2)
        # coarse path (no fetch_k rerank triggered when mmap absent)
        h3 = IvfPqReplicaHandle.load_index(idx)
        cids2, cd2 = h3.search_one(q, k=10)
        assert np.array_equal(cids, cids2) and np.array_equal(cd, cd2)

    # (b) nprobe override widens the probe set exactly like a live handle
    h.nprobe = 16
    want = h.search_one(qv[0], k=10, fetch_k=50)
    h4 = IvfPqReplicaHandle.load_index(idx, rerank_mmap_dir=mm, nprobe=16)
    got = h4.search_one(qv[0], k=10, fetch_k=50)
    assert np.array_equal(want[0], got[0]) and np.array_equal(want[1], got[1])

    # (c) snapshots are immutable — refresh refuses with a clear message
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="load_index"):
        h2.refresh()


def test_ivf_save_load_index_parity(tmp_path):
    """r13: IvfReplicaHandle.save_index/load_index — the REST fleet's
    warm-start tier. A loaded snapshot must return bit-identical results
    (cosine and l2, assign_r dedup included), keep refresh() working
    (the shard set is preserved), and support string ids (the warehouse
    id_col)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from custom_python_vectordb_spark.operators.partitioned import IvfReplicaHandle

    shard = "/root/testdata/sf0.1/embeddings.parquet"
    head = pq.read_table(shard, columns=["embedding"]).slice(0, 5)
    qv = [np.asarray(v, dtype=np.float64) for v in head.column("embedding").to_pylist()]

    for metric in ("cosine", "l2"):
        h = IvfReplicaHandle([shard], n_cells=16, nprobe=4, assign_r=2,
                             metric=metric, dtype="float32")
        d = str(tmp_path / f"idx_{metric}")
        h.save_index(d)
        h2 = IvfReplicaHandle.load_index(d)
        for q in qv:
            a_i, a_d = h.search_one(q, 10)
            b_i, b_d = h2.search_one(q, 10)
            assert np.array_equal(a_i, b_i) and np.array_equal(a_d, b_d), metric
        h2.refresh()  # loaded handles keep the shard set — still refreshable
        a_i, a_d = h.search_one(qv[0], 10)
        b_i, b_d = h2.search_one(qv[0], 10)
        assert np.array_equal(a_i, b_i) and np.array_equal(a_d, b_d)

    # string ids (the warehouse serving shape, id_col="id")
    rng = np.random.default_rng(7)
    mat = rng.standard_normal((500, 16)).astype(np.float32)
    sp = str(tmp_path / "strids.parquet")
    pq.write_table(
        pa.table({"id": [f"doc-{i:04d}" for i in range(500)],
                  "embedding": list(mat)}), sp)
    hs = IvfReplicaHandle([sp], n_cells=8, nprobe=3, assign_r=2,
                          id_col="id", dtype="float32")
    ds = str(tmp_path / "idx_str")
    hs.save_index(ds)
    hs2 = IvfReplicaHandle.load_index(ds)
    a_i, a_d = hs.search_one(mat[7], 5)
    b_i, b_d = hs2.search_one(mat[7], 5)
    assert list(a_i) == list(b_i) and np.array_equal(a_d, b_d)
    assert a_i[0] == "doc-0007"


def test_ivf_handle_warm_start_and_staleness(tmp_path, monkeypatch):
    """r13: ivf_handle_for(index_dir=...) — first resolve builds AND
    persists; a fresh process (caches emptied) LOADS without touching
    parquet; a shard mtime change invalidates the snapshot (stat-key
    contract), forcing a rebuild."""
    import os
    import shutil

    import numpy as np
    import pyarrow.parquet as pq

    import custom_python_vectordb_spark.operators.partitioned as P
    from custom_python_vectordb_spark.operators import shard_tier

    shard = str(tmp_path / "emb.parquet")
    shutil.copyfile("/root/testdata/sf0.01/embeddings.parquet", shard)
    head = pq.read_table(shard, columns=["embedding"]).slice(0, 3)
    qv = [np.asarray(v, dtype=np.float64) for v in head.column("embedding").to_pylist()]
    idx = str(tmp_path / "cache")
    kw = dict(n_cells=8, nprobe=3, assign_r=2, dtype="float32", index_dir=idx)

    h1 = P.ivf_handle_for([shard], **kw)
    want = [h1.search_one(q, 10) for q in qv]
    snaps = os.listdir(idx)
    assert len(snaps) == 1 and os.path.exists(
        os.path.join(idx, snaps[0], "ivf_index.npz"))

    # "new worker boots": in-process caches emptied, parquet reads banned
    shard_tier.clear()

    def _no_parquet(*a, **k):
        raise AssertionError("warm start must not read parquet")

    monkeypatch.setattr(shard_tier, "load_vectors", _no_parquet)
    h2 = P.ivf_handle_for([shard], **kw)
    for q, (wi, wd) in zip(qv, want):
        gi, gd = h2.search_one(q, 10)
        assert np.array_equal(wi, gi) and np.array_equal(wd, gd)

    # stale shards: snapshot stat key no longer matches → loader must NOT
    # trust it (here the banned parquet read proves the rebuild attempt)
    shard_tier.clear()
    st = os.stat(shard)
    os.utime(shard, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    import pytest as _pytest

    with _pytest.raises(AssertionError, match="warm start"):
        P.ivf_handle_for([shard], **kw)


def test_sharded_ivfpq_index_merge_and_discover(tmp_path):
    """r13: ShardedIvfPqIndex — N save_index snapshots served as one
    logical index. The global top-k must equal the (dist, id) merge of
    per-shard search_one results (the 100M probe's driver merge,
    productized), discover() must find the dir layout, and the parquet
    must not be needed at serve time."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from custom_python_vectordb_spark.operators.partitioned import (
        IvfPqReplicaHandle,
        ShardedIvfPqIndex,
    )

    rng = np.random.default_rng(11)
    root = str(tmp_path / "snaps")
    per = 3000
    handles = []
    for s in range(2):
        mat = rng.standard_normal((per, 16)).astype(np.float32)
        p = str(tmp_path / f"c{s}.parquet")
        pq.write_table(
            pa.table({"vec_id": np.arange(s * per, (s + 1) * per),
                      "embedding": list(mat)}), p)
        d = os.path.join(root, f"sub-{s:02d}")
        h = IvfPqReplicaHandle([p], n_cells=8, nprobe=4, assign_r=1,
                               num_subspaces=8, rerank_mmap_dir=d)
        h.save_index(d)
        handles.append(h)
        os.remove(p)  # snapshots carry the whole serve

    idx = ShardedIvfPqIndex.discover(root)
    assert len(idx.shards) == 2 and len(idx) == 2 * per

    q = rng.standard_normal(16).astype(np.float32)
    gi, gd = idx.search_one(q, k=10, fetch_k=64)
    # manual merge of the live handles' per-shard results
    pi = np.concatenate([h.search_one(q, 10, fetch_k=64)[0] for h in handles])
    pd_ = np.concatenate([h.search_one(q, 10, fetch_k=64)[1] for h in handles])
    order = np.lexsort((pi, pd_))[:10]
    assert np.array_equal(gi, pi[order]) and np.array_equal(gd, pd_[order])
    # both shards contribute for a centered query at this scale
    assert {int(i) // per for i in gi} == {0, 1}


def test_snapshot_rest_route(spark, tmp_path):
    """r13: POST /snapshots/<name>/query serves a persisted sharded
    index over REST (spark-less-capable path); GET /snapshots lists and
    reports lazy-load state."""
    import json
    import os
    import urllib.request

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from custom_python_vectordb_spark.api import VectorDB
    from custom_python_vectordb_spark.operators.partitioned import (
        IvfPqReplicaHandle,
        ShardedIvfPqIndex,
    )
    from custom_python_vectordb_spark.server import serve_background

    rng = np.random.default_rng(13)
    root = str(tmp_path / "snaps")
    for s in range(2):
        mat = rng.standard_normal((1000, 8)).astype(np.float32)
        p = str(tmp_path / f"c{s}.parquet")
        pq.write_table(
            pa.table({"vec_id": np.arange(s * 1000, (s + 1) * 1000),
                      "embedding": list(mat)}), p)
        d = os.path.join(root, f"sub-{s:02d}")
        IvfPqReplicaHandle([p], n_cells=4, nprobe=4, assign_r=1,
                           num_subspaces=4, rerank_mmap_dir=d).save_index(d)

    srv, port = serve_background(
        VectorDB(spark, str(tmp_path / "wh")), snapshots={"vecs": root},
    )
    try:
        def call(method, path, body=None):
            req = urllib.request.Request(
                f"http://127.0.0.1:{port}{path}",
                data=json.dumps(body).encode() if body is not None else None,
                method=method,
                headers={"Content-Type": "application/json"} if body else {},
            )
            with urllib.request.urlopen(req, timeout=30) as r:
                return json.loads(r.read())

        listed = call("GET", "/snapshots")
        assert listed["snapshots"] == {"vecs": {"loaded": False}}

        q = rng.standard_normal(8).astype(np.float64)
        got = call("POST", "/snapshots/vecs/query",
                   {"query_embeddings": [list(q)], "n_results": 5, "fetch_k": 64})
        want_idx = ShardedIvfPqIndex.discover(root)
        wi, wd = want_idx.search_one(q, k=5, fetch_k=64)
        assert [r["id"] for r in got["results"][0]] == [int(i) for i in wi]
        assert np.allclose([r["dist"] for r in got["results"][0]], wd)

        listed = call("GET", "/snapshots")
        assert listed["snapshots"]["vecs"]["loaded"] is True
        assert listed["snapshots"]["vecs"]["rows"] == 2000
        # unknown snapshot is a 404, not a crash
        import urllib.error

        try:
            call("POST", "/snapshots/nope/query",
                 {"query_embeddings": [list(q)]})
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        srv.shutdown()


def test_snapshot_route_serves_a_resaved_directory(spark, tmp_path):
    """A snapshot directory re-saved from other rows is served fresh
    without a restart: the route resolves its sharded index through the
    shard tier, keyed on the ``*/ivfpq_index.npz`` files, GET /snapshots
    reports residency from the tier (a stale entry is not loaded), and
    the tier counts the index's code arrays against its byte budget."""
    import json
    import os
    import urllib.request

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from custom_python_vectordb_spark.api import VectorDB
    from custom_python_vectordb_spark.operators import shard_tier
    from custom_python_vectordb_spark.operators.partitioned import (
        IvfPqReplicaHandle,
        ShardedIvfPqIndex,
    )
    from custom_python_vectordb_spark.server import serve_background

    rng = np.random.default_rng(17)
    root = str(tmp_path / "snaps")

    def save(first_id: int) -> None:
        mat = rng.standard_normal((500, 8)).astype(np.float32)
        p = str(tmp_path / f"c{first_id}.parquet")
        pq.write_table(pa.table({"vec_id": np.arange(first_id, first_id + 500),
                                 "embedding": list(mat)}), p)
        IvfPqReplicaHandle([p], n_cells=4, nprobe=4, assign_r=1,
                           num_subspaces=4).save_index(os.path.join(root, "sub-00"))

    save(0)
    srv, port = serve_background(
        VectorDB(spark, str(tmp_path / "wh")), snapshots={"vecs": root},
    )
    try:
        def call(method, path, body=None):
            req = urllib.request.Request(
                f"http://127.0.0.1:{port}{path}",
                data=json.dumps(body).encode() if body is not None else None,
                method=method,
                headers={"Content-Type": "application/json"} if body else {},
            )
            with urllib.request.urlopen(req, timeout=30) as r:
                return json.loads(r.read())

        body = {"query_embeddings": [[0.1] * 8], "n_results": 5}
        first = [h["id"] for h in call("POST", "/snapshots/vecs/query", body)["results"][0]]
        assert len(first) == 5 and all(i < 500 for i in first)
        assert call("GET", "/snapshots")["snapshots"]["vecs"]["loaded"] is True
        save(10_000)
        assert call("GET", "/snapshots")["snapshots"]["vecs"] == {"loaded": False}
        second = [h["id"] for h in call("POST", "/snapshots/vecs/query", body)["results"][0]]
        assert len(second) == 5 and all(i >= 10_000 for i in second)
        listed = call("GET", "/snapshots")["snapshots"]["vecs"]
        assert listed == {"loaded": True, "rows": 500, "shards": 1}
    finally:
        srv.shutdown()
    # the tier's byte budget sees the loaded code arrays, not only the
    # size of the index object
    idx = ShardedIvfPqIndex.discover(root)
    codes = sum(c.nbytes for h in idx.shards for c in h.cell_codes)
    assert shard_tier._nbytes(idx, set()) >= codes > 0


def test_ivfpq_auto_subspaces_independent_of_first_nprobe(tmp_path):
    """num_subspaces="auto" measures recall at the fixed probe width
    ``_AUTO_M_NPROBE``: the chosen M depends only on the shards and the
    build parameters (the tier key), never on the nprobe of whichever
    handle built the entry first — nprobe is free per REST request. On
    this corpus a 1-cell probe and an 8-cell probe pick different M, so a
    caller-width probe makes the choice depend on arrival order. The
    width is recorded in the snapshot."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from custom_python_vectordb_spark.operators import partitioned as P
    from custom_python_vectordb_spark.operators import shard_tier

    rng = np.random.default_rng(1)
    n, dim = 4000, 32
    mat = rng.standard_normal((1, dim)) * 5.0 + 0.7 * rng.standard_normal((n, dim))
    p = str(tmp_path / "c.parquet")
    pq.write_table(pa.table({"vec_id": np.arange(n), "embedding": list(mat)}), p)
    chosen = {}
    for order in ((1, 8), (8, 1)):
        shard_tier.clear()
        handles = [
            P.IvfPqReplicaHandle([p], n_cells=16, nprobe=nprobe, assign_r=1,
                                 num_subspaces="auto", num_centroids=16)
            for nprobe in order
        ]
        chosen[order] = [h.chosen_m for h in handles]
    assert chosen[(1, 8)] == chosen[(8, 1)][::-1], chosen
    assert len({m for ms in chosen.values() for m in ms}) == 1, chosen
    d = str(tmp_path / "snap")
    handles[0].save_index(d)
    assert shard_tier.load(d, "ivfpq_index")[1]["probe_nprobe"] == P._AUTO_M_NPROBE
    shard_tier.clear()


def test_ivf_probe_of_empty_cells_widens_to_k(tmp_path):
    """With assign_r=1, k-means can leave cells empty: the first rows are
    one repeated vector, so the duplicate seed centroids never win a row
    and stay where a query at that vector probes them first. search_one
    (and the batch path and the IVF-PQ handle, same rule) must keep
    probing nearest-first until k rows are seen instead of returning
    fewer than k."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from custom_python_vectordb_spark.operators.partitioned import (
        IvfPqReplicaHandle,
        IvfReplicaHandle,
        ivf_replica_serve,
    )

    rng = np.random.default_rng(5)
    far = np.zeros(8)
    far[0] = 10.0
    mat = np.vstack([np.tile(far, (16, 1)), rng.standard_normal((400, 8))])
    p = str(tmp_path / "c.parquet")
    pq.write_table(pa.table({"vec_id": np.arange(len(mat)), "embedding": list(mat)}), p)
    kw = dict(n_cells=16, nprobe=2, assign_r=1, metric="l2")
    h = IvfReplicaHandle([p], **kw)
    ids, dists = h.search_one(far, k=20)
    assert len(ids) == 20
    assert set(range(16)) <= set(int(i) for i in ids)
    assert list(dists) == sorted(dists)
    batch = ivf_replica_serve([p], pd.DataFrame({"qid": [0], "qvec": [far]}), k=20, **kw)
    assert list(batch["vec_id"]) == list(ids)
    assert np.allclose(batch["dist"].to_numpy(), dists)
    # the IVF-PQ handle takes the same probe rule
    pq_ids, pq_d = IvfPqReplicaHandle(
        [p], n_cells=16, nprobe=2, assign_r=1, num_subspaces=4
    ).search_one(far, k=20)
    assert len(pq_ids) == 20
    assert set(range(16)) <= set(int(i) for i in pq_ids)
    assert list(pq_d) == sorted(pq_d)
