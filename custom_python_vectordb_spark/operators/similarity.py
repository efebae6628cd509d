"""Approximate nearest-neighbour accelerators: IVF and hyperplane-LSH.

The HNSW role (``vectordb_optimized.py:271-280`` via hnswlib) on a cluster:
bound the scanned fraction of the corpus per query, then exact-score only
candidates. Both accelerators here are pure DataFrame plans:

- **IVF**: coarse centroids → every vector assigned to nearest centroid
  (the partition/bucketing key at scale: write the corpus partitioned by
  `cluster` and probing prunes whole files); query probes `nprobe` nearest
  cells, exact top-k within. Deterministic sample centroids keep the plan
  oracle-checkable; Lloyd k-means (`lloyd_kmeans`, as
  operators/quantization.pq_train_lloyd trains) drops in for quality.
- **LSH**: random-hyperplane sign bits → bucket id; candidates = same
  bucket. Hyperplanes are data rows (deterministic, engine-independent);
  at scale use multiple tables (bands) to trade recall vs candidates.

Both return the same (qid, vec_id, dist) contract as operators/knn.knn —
recall vs the exact oracle is the quality metric (A12), measured in the
registered recall queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from custom_python_vectordb_spark.functions.distances import distance_expr, sq_l2_distance, dot_product
from custom_python_vectordb_spark.operators.topk import top_k_per_group


def with_ivf_cluster(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "cluster",
) -> DataFrame:
    """corpus + nearest-centroid column, MAP-ONLY: the (small) centroid set
    is collected into a single array row, broadcast, and argmin'd per corpus
    row inside one projection — no explode, no groupBy, no join-back, so the
    corpus is scanned once and never shuffles (the property that matters at
    100 TB; assignment cost is O(rows·cells) arithmetic in codegen).
    Ties → lowest cluster id (struct ordering). `centroids`: (cluster, cvec).
    """
    carr = centroids.agg(F.array_sort(F.collect_list(F.struct("cluster", "cvec"))).alias("__cs"))
    best = F.array_min(
        F.transform(
            F.col("__cs"),
            lambda s: F.struct(
                sq_l2_distance(F.col(vec_col), s["cvec"]).alias("d2"),
                s["cluster"].alias("cluster"),
            ),
        )
    )
    return (
        corpus.crossJoin(F.broadcast(carr))
        .withColumn(out_col, best["cluster"])
        .drop("__cs")
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster): nearest centroid by L2² (ties → lowest cluster id).
    `centroids`: (cluster, cvec)."""
    return with_ivf_cluster(corpus, centroids, id_col, vec_col).select(id_col, "cluster")


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF search: per query probe the `nprobe` nearest cells, exact-score
    only vectors in probed cells. Scanned fraction ≈ nprobe/n_cells.

    `assigned`: optionally pass a prebuilt assignment (the corpus with its
    `cluster` column, e.g. persisted once per session or read from the
    cluster-partitioned layout) — assignment is INDEX BUILD, not search,
    and at serving time it is never recomputed per query."""
    if assigned is None:
        assigned = with_ivf_cluster(corpus, centroids, id_col, vec_col)
    qprobe = top_k_per_group(
        queries.join(F.broadcast(centroids)).select(
            "qid", "cluster", sq_l2_distance("qvec", "cvec").alias("d2")
        ),
        "qid", nprobe, F.col("d2").asc(), F.col("cluster").asc(),
    ).select("qid", "cluster")
    cands = assigned.join(F.broadcast(qprobe), "cluster").join(
        F.broadcast(queries), "qid"
    )
    scored = cands.select("qid", id_col, distance_expr(metric, vec_col, "qvec").alias("dist"))
    return top_k_per_group(scored, "qid", k, F.col("dist").asc(), F.col(id_col).asc()).orderBy(
        "qid", "dist", id_col
    )


def lsh_bucket_expr(vec, hyperplanes_col):
    """Bucket id from sign bits: Σ_i (v·h_i > 0) · 2^i (planes ordered)."""
    return F.aggregate(
        hyperplanes_col,
        F.lit(0).cast("long"),
        lambda acc, h: acc * F.lit(2).cast("long")
        + (dot_product(vec, h) > 0).cast("long"),
    )


def lsh_buckets(
    corpus: DataFrame,
    hyperplanes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, bucket). `hyperplanes`: (plane_idx, hvec) small DF, collected
    into one array column and broadcast."""
    planes = hyperplanes.agg(
        F.array_sort(F.collect_list(F.struct("plane_idx", "hvec"))).alias("ps")
    ).select(F.transform("ps", lambda s: s["hvec"]).alias("planes"))
    return corpus.crossJoin(F.broadcast(planes)).select(
        F.col(id_col), lsh_bucket_expr(F.col(vec_col), F.col("planes")).alias("bucket")
    )


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    hyperplanes: DataFrame,
    k: int = 10,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH search: exact top-k within the query's bucket (may return < k —
    recall/candidate-count tradeoff is the number of planes; use
    :func:`knn_lsh_multitable` for higher recall)."""
    cbuckets = corpus.join(lsh_buckets(corpus, hyperplanes, id_col, vec_col), id_col)
    qbuckets = lsh_buckets(
        queries.withColumnRenamed("qvec", vec_col).withColumnRenamed("qid", id_col),
        hyperplanes, id_col, vec_col,
    ).select(F.col(id_col).alias("qid"), F.col("bucket"))
    cands = cbuckets.join(F.broadcast(qbuckets), "bucket").join(F.broadcast(queries), "qid")
    scored = cands.select("qid", id_col, distance_expr(metric, vec_col, "qvec").alias("dist"))
    return top_k_per_group(scored, "qid", k, F.col("dist").asc(), F.col(id_col).asc()).orderBy(
        "qid", "dist", id_col
    )


def knn_lsh_multitable(
    corpus: DataFrame,
    queries: DataFrame,
    plane_tables: list[DataFrame],
    k: int = 10,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-table LSH: candidates = union of same-bucket matches across T
    independent plane sets (recall grows with T while each table's bucket
    stays selective — the standard banding trade)."""
    cand_union = None
    for t, planes in enumerate(plane_tables):
        cb = lsh_buckets(corpus, planes, id_col, vec_col).withColumn("t", F.lit(t))
        qb = lsh_buckets(
            queries.withColumnRenamed("qvec", vec_col).withColumnRenamed("qid", id_col),
            planes, id_col, vec_col,
        ).select(F.col(id_col).alias("qid"), F.col("bucket")).withColumn("t", F.lit(t))
        pairs = cb.join(F.broadcast(qb), ["bucket", "t"]).select("qid", id_col)
        cand_union = pairs if cand_union is None else cand_union.unionByName(pairs)
    # candidate (qid, id) pairs are query×bucket bounded — broadcast them so
    # the corpus side streams map-side instead of shuffling on id
    cands = corpus.join(F.broadcast(cand_union.distinct()), id_col).join(
        F.broadcast(queries), "qid"
    )
    scored = cands.select("qid", id_col, distance_expr(metric, vec_col, "qvec").alias("dist"))
    return top_k_per_group(scored, "qid", k, F.col("dist").asc(), F.col(id_col).asc()).orderBy(
        "qid", "dist", id_col
    )


def write_ivf_layout(
    corpus: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the corpus AS the IVF index: one directory partition per
    cell (``cluster=<n>/``). This is the 100 TB shape of IVF — the index
    is not a sidecar structure but the table layout itself, so probing
    nprobe of n_cells cells prunes (n_cells - nprobe)/n_cells of the FILES
    at the Parquet scan (Hive-style partition pruning, before any I/O),
    exactly how a warehouse prunes date partitions. Assignment is the
    map-only argmin of :func:`with_ivf_cluster`; the one shuffle is the
    partitioned write's file clustering."""
    with_ivf_cluster(corpus, centroids, id_col, vec_col).repartition("cluster").write.partitionBy(
        "cluster"
    ).mode("overwrite").parquet(path)


def knn_ivf_pruned(
    spark,
    layout_path: str,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search over a :func:`write_ivf_layout` table with STATIC
    partition pruning: the probe set is resolved driver-side from the
    (tiny) centroid table, so the scan filter is a literal ``cluster IN
    (...)`` and the physical plan shows the pruned cells in
    ``PartitionFilters`` — unprobed cells are never listed, opened, or
    read. Per-query results are identical to :func:`knn_ivf` on the same
    centroids (asserted in tests).

    Driver-side probe resolution is the right trade here: centroids are
    O(cells) rows (thousands at most — they broadcast everywhere anyway),
    while resolving probes inside the plan would make the scan filter
    dynamic and forfeit static pruning. For a probe set per THOUSANDS of
    queries the union of probed cells saturates anyway; this path is for
    selective serving reads."""
    import numpy as np

    crows = centroids.collect()
    cvecs = np.array([r["cvec"] for r in crows], dtype="float64")
    cids = np.array([r["cluster"] for r in crows])
    order = np.argsort(cids)
    cids, cvecs = cids[order], cvecs[order]
    qrows = queries.collect()
    probed: set[int] = set()
    probes = []
    for r in qrows:
        qv = np.asarray(r["qvec"], dtype="float64")
        d2 = ((cvecs - qv) ** 2).sum(1)
        cells = cids[np.lexsort((cids, d2))][:nprobe]
        probes.append((r["qid"], [int(c) for c in cells]))
        probed.update(int(c) for c in cells)

    layout = spark.read.parquet(layout_path).filter(
        F.col("cluster").isin(sorted(probed))
    )
    qprobe = spark.createDataFrame(
        [(qid, c) for qid, cells in probes for c in cells], "qid long, cluster int"
    )
    cands = layout.join(F.broadcast(qprobe), "cluster").join(F.broadcast(queries), "qid")
    scored = cands.select("qid", id_col, distance_expr(metric, vec_col, "qvec").alias("dist"))
    return top_k_per_group(scored, "qid", k, F.col("dist").asc(), F.col(id_col).asc()).orderBy(
        "qid", "dist", id_col
    )


def within_cell_neardup_losers(
    assigned: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
) -> DataFrame:
    """Higher-id members of every within-cell cosine-near-duplicate pair
    (the SemDeDup loser set). One `applyInPandas` per cell: an L2-
    normalized GEMM gives the full cell similarity matrix, the strict
    upper triangle (ids ascending) yields losers directly — vectorized
    BLAS instead of a pair join whose per-pair array folds Spark
    interprets element-by-element (the r7 sweep measured the declarative
    join at 4.2 s for ~8K rows / 126 cells; this path is ~milliseconds
    of arithmetic on the same shuffle). The only movement is the
    cluster-keyed shuffle; per-cell work is bounded by cell size, which
    the caller keeps bounded by scaling the cell count with the corpus."""

    def find(pdf):
        import numpy as np
        import pandas as pd

        if len(pdf) < 2:
            return pd.DataFrame({id_col: np.empty(0, dtype=np.int64)})
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        mat = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col].iloc[order]]
        )
        nrm = np.linalg.norm(mat, axis=1, keepdims=True)
        mat = mat / np.where(nrm == 0, 1.0, nrm)
        n = len(ids)
        # row-chunked upper-triangle GEMM: FLOPs are the within-cell
        # pairwise cost either way (the caller bounds cell sizes by
        # scaling the cell count), but a DEGENERATE giant cell (e.g. a
        # corpus of near-identical vectors collapsing into one cell) must
        # not allocate an n×n sims matrix — peak memory stays
        # chunk × n doubles
        loser_mask = np.zeros(n, dtype=bool)
        cols = np.arange(n)
        for lo in range(0, n - 1, 4096):
            hi = min(lo + 4096, n)
            hit = (mat[lo:hi] @ mat.T) >= threshold
            hit &= cols[None, :] > np.arange(lo, hi)[:, None]  # strict upper
            loser_mask |= hit.any(0)
        losers = ids[loser_mask]
        return pd.DataFrame({id_col: losers})

    return assigned.select(cluster_col, id_col, vec_col).groupBy(cluster_col).applyInPandas(
        find, schema=f"{id_col} long"
    )


def assign_cells_gemm(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "cluster",
) -> DataFrame:
    """GEMM twin of :func:`with_ivf_cluster` for corpus-scale assignment:
    the declarative argmin is interpreted per element (higher-order array
    lambdas never enter whole-stage codegen), costing O(rows·cells·dim)
    interpreter steps — quadratic in rows once cells scale with the
    corpus (SemDeDup sizing; the r7 sweep measured it as the residual
    super-linear term). Here each Arrow batch decodes by buffer reshape
    (zero per-row Python) and one |x|²-2xCᵀ+|c|² GEMM argmins the batch
    against the closure-shipped centroid matrix — same map-only shape,
    BLAS throughput. Ties break to the lowest cluster id (np.argmin's
    first-minimum), matching the declarative struct-min rule."""
    import numpy as np
    import pyarrow as pa

    crows = centroids.orderBy("cluster").collect()
    cmat = np.asarray([np.asarray(r["cvec"], dtype=np.float64) for r in crows])
    cids = np.asarray([int(r["cluster"]) for r in crows], dtype=np.int64)
    c2 = (cmat * cmat).sum(1)

    fields = [
        pa.field(id_col, pa.int64()),
        pa.field(vec_col, pa.list_(pa.float32())),
        pa.field(out_col, pa.int32()),
    ]
    out_schema = pa.schema(fields)

    def assign(batches):
        import numpy as _np
        import pyarrow as _pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ids = batch.column(0)
            vecs = batch.column(1)
            flat = vecs.flatten().to_numpy(zero_copy_only=False)
            mat = flat.reshape(n, -1).astype(_np.float64, copy=False)
            d2 = (mat * mat).sum(1)[:, None] - 2.0 * (mat @ cmat.T) + c2[None, :]
            cl = cids[d2.argmin(1)].astype(_np.int32)
            yield _pa.record_batch(
                [ids, vecs.cast(_pa.list_(_pa.float32())), _pa.array(cl, _pa.int32())],
                schema=out_schema,
            )

    src = corpus.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col(vec_col).cast("array<float>").alias(vec_col),
    )
    return src.mapInArrow(assign, schema=f"{id_col} long, {vec_col} array<float>, {out_col} int")


# --------------------------------------------------------------------------
# SemDeDup two-level trained cells (round 8).
#
# Round 7 sized cells as ceil(n/64) and brute-force-GEMM'd every row against
# ALL of them, with the full centroid matrix collected to the driver and
# shipped in the closure — O(n²·d/64) FLOPs and O(n·d/64) bytes per executor
# once cells scale with the corpus (the r7 verdict's one scale-killer). The
# fix is the hierarchy SemdeDup-at-scale actually needs:
#
# - ~sqrt(k) COARSE centroids, trained driver-side by deterministic Lloyd on
#   a bounded hash-stride sample (the only driver-collected matrix, O(√k·d));
# - FINE centroids trained PER COARSE CELL distributedly (applyInPandas on a
#   bounded per-group sample; each group trains ceil(|cell|/64) centroids) —
#   the fine table is a DataFrame keyed by coarse cell, NEVER driver-collected
#   and NEVER closure-shipped;
# - assignment = coarse GEMM (map-only, ships only the coarse matrix) then a
#   cogrouped per-coarse-cell fine GEMM — each row scores against only ITS
#   coarse cell's ~sqrt(k) fine centroids.
#
# Cost: O(n·√k·d) FLOPs per level instead of O(n·k·d); bytes shipped per
# executor O(√k·d); the one shuffle keys on coarse cell (√k keys, so
# parallelism grows with the corpus instead of capping at a constant).
# --------------------------------------------------------------------------

#: fused fine-cluster id = coarse * CLUSTER_STRIDE + j (j < fine count per
#: coarse cell, which is ~sqrt(k) ≪ 2^32 at any realistic corpus)
CLUSTER_STRIDE = 1 << 32


def _make_lloyd():
    # Factory indirection on purpose: the returned function's qualname is
    # not module-resolvable, so cloudpickle serializes it BY VALUE when a
    # worker closure (train_group below) captures it — a plain module-level
    # def would pickle by reference and die with ModuleNotFoundError on
    # executors that can't import this repo (the sys.path-injection gotcha).
    def lloyd_kmeans(np, mat, k: int, iters: int = 8, chunk: int = 8192):
        """Deterministic Lloyd k-means on an id-SORTED row matrix: init =
        rows at evenly spaced positions (spread over the sorted sample, no
        RNG), assignment argmin L2 with ties to the lowest centroid index,
        means recomputed in row order; an emptied centroid keeps its
        previous value. Pure-NumPy and order-deterministic, so retraining
        reproduces the frozen snapshot bit-for-bit (the `_pq_snapshot.py`
        discipline). The assignment d2 matrix is computed in `chunk`-row
        windows so peak memory is O(chunk·k), not O(n·k) — at a 1e9-row
        corpus the driver-side coarse call would otherwise hold a ~2 GB
        sample×√k float64 block per iteration."""
        n = len(mat)
        k = max(1, min(k, n))
        cents = mat[(np.arange(k, dtype=np.int64) * n) // k].astype(np.float64).copy()
        row_sq = (mat * mat).sum(1)
        asgn = np.empty(n, dtype=np.int64)
        for _ in range(iters):
            c_sq = (cents * cents).sum(1)
            for s in range(0, n, chunk):
                e = min(s + chunk, n)
                d2 = (
                    row_sq[s:e, None]
                    - 2.0 * (mat[s:e] @ cents.T)
                    + c_sq[None, :]
                )
                asgn[s:e] = d2.argmin(1)
            for j in range(k):
                members = mat[asgn == j]
                if len(members):
                    cents[j] = members.mean(0)
        return cents

    return lloyd_kmeans


lloyd_kmeans = _make_lloyd()


def _stride_sample(df: DataFrame, n: int, cap: int, id_col: str) -> DataFrame:
    """Deterministic bounded sample: keep rows whose xxhash64(id) falls in
    one residue class mod ceil(n/cap) — expected ~cap rows, no sort, no
    shuffle, same rows regardless of partitioning or session config."""
    stride = max(1, -(-n // cap))
    if stride == 1:
        return df
    return df.filter(F.pmod(F.xxhash64(F.col(id_col).cast("long")), F.lit(stride)) == 0)


def train_semdedup_centroids(
    corpus: DataFrame,
    cell_target: int = 64,
    iters: int = 8,
    coarse_sample_cap: int = 65536,
    group_sample_cap: int = 16384,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Two-level trained SemDeDup centroids over a corpus of `n` vectors
    aiming at fine cells of ~`cell_target` members (k ≈ n/cell_target
    fine cells total, the SemDeDup recipe that keeps within-cell pairwise
    work bounded).

    Returns ``(coarse_rows, fine_df)``:

    - ``coarse_rows``: list of (coarse_id, [float64...]) — ceil(sqrt(k))
      centroids trained by :func:`lloyd_kmeans` on a hash-stride sample of
      ≲ `coarse_sample_cap` rows (the ONLY driver-side matrix, O(√k·d));
    - ``fine_df``: DataFrame (coarse int, cluster long, cvec array<double>)
      — per-coarse-cell centroids trained DISTRIBUTEDLY, one applyInPandas
      group per coarse cell on a ≲ `group_sample_cap`-row sample of the
      cell, each training ceil(|cell|/cell_target) centroids (|cell| is
      the TRUE cell population, joined in — not the sample size). Fused
      ids ``coarse * CLUSTER_STRIDE + j``. Never collected to the driver.

    Training is bit-deterministic for a given corpus: the samples are
    hash-residue classes, every matrix is sorted by id before Lloyd, and
    Lloyd itself is RNG-free — so a frozen snapshot of the sf0.01 output
    is a valid oracle (tests retrain and assert equality)."""
    import math

    import numpy as np

    n = corpus.count()
    if n == 0:
        raise ValueError("cannot train centroids on an empty corpus")
    k_est = max(1, math.ceil(n / cell_target))
    kc = max(1, math.ceil(math.sqrt(k_est)))

    sample = (
        _stride_sample(corpus, n, coarse_sample_cap, id_col)
        .select(F.col(id_col).cast("long"), F.col(vec_col).cast("array<double>"))
        .collect()
    )
    sample.sort(key=lambda r: r[0])
    smat = np.asarray([r[1] for r in sample], dtype=np.float64)
    coarse = lloyd_kmeans(np, smat, kc, iters)
    coarse_rows = [(int(j), [float(x) for x in coarse[j]]) for j in range(len(coarse))]

    spark = corpus.sparkSession
    from custom_python_vectordb_spark.functions.local_relation import local_df

    coarse_df = local_df(spark, coarse_rows, "cluster int, cvec array<double>")
    # persisted: both the sizes aggregate and the training sample below
    # consume it — without this the corpus-wide coarse GEMM runs twice per
    # training. Released (unpersist) at function exit once fine_df is
    # materialized, so ingest-time training never retains a corpus-scale
    # cache entry for the session lifetime.
    assigned = assign_cells_gemm(
        corpus, coarse_df, id_col, vec_col, out_col="coarse"
    ).persist()
    sizes = assigned.groupBy("coarse").agg(F.count(F.lit(1)).alias("__cell_n"))
    gsample = _stride_sample(assigned, n, group_sample_cap * kc, id_col).join(
        F.broadcast(sizes), "coarse"
    )

    target_c, iters_c, cap_c = cell_target, iters, group_sample_cap
    id_c, vec_c, fused = id_col, vec_col, CLUSTER_STRIDE
    lloyd = lloyd_kmeans  # by-value pickle (factory-made, see _make_lloyd)

    def train_group(pdf):
        import math as _math

        import numpy as _np
        import pandas as _pd

        pdf = pdf.sort_values(id_c)
        if len(pdf) > cap_c:
            # cap by HASH order (splitmix64 of id), not id order: an
            # id-prefix truncation would train the fine centroids on a
            # biased (id-correlated) subsample. Deterministic, and the
            # kept rows are restored to id order for Lloyd.
            h = pdf[id_c].to_numpy(dtype=_np.int64).astype(_np.uint64)
            h = h + _np.uint64(0x9E3779B97F4A7C15)
            h ^= h >> _np.uint64(30)
            h *= _np.uint64(0xBF58476D1CE4E5B9)
            h ^= h >> _np.uint64(27)
            h *= _np.uint64(0x94D049BB133111EB)
            h ^= h >> _np.uint64(31)
            keep = _np.sort(_np.argsort(h, kind="stable")[:cap_c])
            pdf = pdf.iloc[keep]
        cell_n = int(pdf["__cell_n"].iloc[0])
        coarse_id = int(pdf["coarse"].iloc[0])
        f = max(1, min(_math.ceil(cell_n / target_c), len(pdf)))
        mat = _np.asarray([_np.asarray(v, dtype=_np.float64) for v in pdf[vec_c]])
        cents = lloyd(_np, mat, f, iters_c)
        return _pd.DataFrame(
            {
                "coarse": _np.full(len(cents), coarse_id, dtype=_np.int32),
                "cluster": coarse_id * fused
                + _np.arange(len(cents), dtype=_np.int64),
                "cvec": [list(map(float, c)) for c in cents],
            }
        )

    fine_df = gsample.groupBy("coarse").applyInPandas(
        train_group, schema="coarse int, cluster long, cvec array<double>"
    ).persist()
    # materialize the trained centroids (O(k) rows — the index itself)
    # so the corpus-scale coarse-assignment cache can be released NOW
    # instead of lingering for the session lifetime
    fine_df.count()
    assigned.unpersist()
    return coarse_rows, fine_df


def assign_cells_two_level(
    corpus: DataFrame,
    coarse_df: DataFrame,
    fine_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "cluster",
) -> DataFrame:
    """Two-level cell assignment: map-only coarse GEMM (ships only the
    O(√k·d) coarse matrix), then ONE shuffle keyed on coarse cell and a
    cogrouped fine GEMM — each row scores against only its coarse cell's
    ~√k fine centroids, chunked so per-task memory is bounded. Ties break
    to the lowest cluster id at both levels (argmin first-minimum over
    id-sorted centroids), so the assignment is partitioning-independent
    and expressible as the same two-level argmin in the DuckDB oracle.

    A coarse cell with no trained fine centroids (possible only when the
    training sample missed a tiny cell entirely) degrades to one fused
    cluster ``coarse * CLUSTER_STRIDE`` rather than dropping rows."""
    c1 = assign_cells_gemm(corpus, coarse_df, id_col, vec_col, out_col="coarse")

    id_c, vec_c, out_c = id_col, vec_col, out_col
    stride_c = CLUSTER_STRIDE

    def assign_fine(left, right):
        import numpy as _np
        import pandas as _pd

        if not len(left):
            return _pd.DataFrame(
                {id_c: _np.empty(0, dtype=_np.int64), vec_c: [], out_c: []}
            )
        coarse_id = int(left["coarse"].iloc[0])
        ids = left[id_c].to_numpy()
        vecs = list(left[vec_c])
        if not len(right):
            cl = _np.full(len(ids), coarse_id * stride_c, dtype=_np.int64)
            return _pd.DataFrame({id_c: ids, vec_c: vecs, out_c: cl})
        right = right.sort_values("cluster")
        cmat = _np.asarray([_np.asarray(v, dtype=_np.float64) for v in right["cvec"]])
        cids = right["cluster"].to_numpy()
        c2 = (cmat * cmat).sum(1)
        mat = _np.asarray([_np.asarray(v, dtype=_np.float64) for v in vecs])
        out = _np.empty(len(ids), dtype=_np.int64)
        for lo in range(0, len(ids), 8192):  # bound the chunk × cents GEMM
            chunk = mat[lo : lo + 8192]
            d2 = (
                (chunk * chunk).sum(1)[:, None]
                - 2.0 * (chunk @ cmat.T)
                + c2[None, :]
            )
            out[lo : lo + 8192] = cids[d2.argmin(1)]
        return _pd.DataFrame({id_c: ids, vec_c: vecs, out_c: out})

    return (
        c1.groupBy("coarse")
        .cogroup(fine_df.groupBy("coarse"))
        .applyInPandas(
            assign_fine, schema=f"{id_col} long, {vec_col} array<float>, {out_col} long"
        )
    )
