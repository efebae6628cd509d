"""Vector quantization operators (SURVEY.md §2 A4-A6, E1-E4, D4-D7, K5).

Reference semantics (``quantization.py``), re-expressed as DataFrame plans:

- **SQ** (scalar, uint8): train = per-dim min/max (``:85-106``); encode =
  ``trunc(clip((v−min)/scale·255, 0, 255))`` (``:108-126`` — NumPy's
  ``.astype(uint8)`` truncates after clip, so we floor explicitly in both
  engines); decode = ``code/255·scale+min`` (``:128-139``); L2 on codes =
  ``sqrt(Σ((Δcode·scale/255)²))`` (``:217-236``); dot = reconstruct-then-
  −dot (``:239-251``).
- **BQ** (1 bit/dim): train = per-dim median thresholds (``:307-327``);
  encode = ``v > t`` bits (``:329-350``); distance = Hamming (``:356-374``).
  The bit-array form is the semantic canon (oracle-checkable); packing into
  64-bit words for `bit_count` is the storage/bandwidth optimization
  (asserted equal in tests).
- **PQ** (M×uint8): per-subspace nearest-centroid encode (``:510-539``),
  asymmetric LUT distance ``sqrt(Σ_m lut[m][code])`` (``:541-578``).
  Codebook *quality* comes from k-means (``:480-508``) — nondeterministic
  in the reference (np.random); here the production trainer is a
  deterministic driver-side Lloyd run on a bounded sample
  (:func:`pq_train_lloyd`), while a first-K-vectors sample codebook is
  used for oracle-checked encode/distance queries (the operator under
  test is encode/ADC, not Lloyd's).
- **K5 rerank**: quantized scan → candidate top-C → exact distance on
  candidates → top-k (``parallel_search.py:895-947``).

Scale design: the trained model (64 dims / M×K centroids) is a 1-row or
tiny DataFrame broadcast into `zip_with`/`transform` expressions — no UDF,
no driver-side matrix, corpus never shuffles for encode or scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from custom_python_vectordb_spark.functions.distances import distance_expr
from custom_python_vectordb_spark.functions.distances import _ref as _sqlref
from custom_python_vectordb_spark.operators import shard_tier
from custom_python_vectordb_spark.operators.topk import (
    top_k_per_group,
    topk_frame,
    topk_positions,
    topk_tie_aware,
)
from custom_python_vectordb_spark.functions.local_relation import local_df

ColumnOrName = Column | str

# ------------------------------------------------------------------ SQ

def sq_train(vectors: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """A4 — (dim, min_val, max_val, scale); scale 0 → 1.0. posexplode →
    groupBy(dim) is map-side combined; dim count is tiny."""
    exploded = vectors.select(F.posexplode(vec_col).alias("dim", "v"))
    return (
        exploded.groupBy("dim")
        .agg(F.min("v").cast("double").alias("min_val"), F.max("v").cast("double").alias("max_val"))
        .withColumn(
            "scale",
            F.when(F.col("max_val") - F.col("min_val") == 0.0, F.lit(1.0)).otherwise(
                F.col("max_val") - F.col("min_val")
            ),
        )
    )


def sq_model(vectors: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """1-row (minv array<double>, scale array<double>), dim-ordered —
    broadcastable into encode/decode expressions."""
    stats = sq_train(vectors, vec_col)
    return stats.agg(
        F.array_sort(F.collect_list(F.struct("dim", "min_val", "scale"))).alias("s")
    ).select(
        F.transform("s", lambda x: x["min_val"]).alias("minv"),
        F.transform("s", lambda x: x["scale"]).alias("scale"),
    )


def sq_encode_expr(vec: ColumnOrName) -> Column:
    """E1 — requires `minv`/`scale` columns in scope (join sq_model first).
    floor() pins NumPy's truncating uint8 cast in both engines. Plain-name
    operands emit one F.expr (see functions/distances.py: the lambda path
    costs ~13 ms of py4j chatter per HOF at plan-build time)."""
    if (r := _sqlref(vec)) is not None:
        return F.expr(
            f"transform(zip_with(zip_with({r}, minv, (x, m) -> CAST(x AS DOUBLE) - m), "
            "scale, (x, s) -> x / s * 255.0D), "
            "x -> CAST(floor(least(greatest(x, 0.0D), 255.0D)) AS INT))"
        )
    norm = F.zip_with(vec, F.col("minv"), lambda x, m: x.cast("double") - m)
    scaled = F.zip_with(norm, F.col("scale"), lambda x, s: x / s * 255.0)
    return F.transform(scaled, lambda x: F.floor(F.least(F.greatest(x, F.lit(0.0)), F.lit(255.0))).cast("int"))


def _sq_decode_sql(codes_ref: str) -> str:
    return (
        f"zip_with(zip_with({codes_ref}, scale, (c, s) -> CAST(c AS DOUBLE) / 255.0D * s), "
        "minv, (x, m) -> x + m)"
    )


def sq_decode_expr(codes: ColumnOrName) -> Column:
    """E2 — inverse affine."""
    if (r := _sqlref(codes)) is not None:
        return F.expr(_sq_decode_sql(r))
    un = F.zip_with(codes, F.col("scale"), lambda c, s: c.cast("double") / 255.0 * s)
    return F.zip_with(un, F.col("minv"), lambda x, m: x + m)


def sq_encode(vectors: DataFrame, model: DataFrame, vec_col: str = "embedding", out_col: str = "codes") -> DataFrame:
    return vectors.crossJoin(F.broadcast(model)).withColumn(out_col, sq_encode_expr(vec_col))


def sq_l2_dist_expr(codes_a: ColumnOrName, codes_b: ColumnOrName) -> Column:
    """D5 — ``sqrt(Σ((Δcode·scale/255)²))`` (int16 trick ≡ exact int diff)."""
    if (ra := _sqlref(codes_a)) is not None and (rb := _sqlref(codes_b)) is not None:
        return F.expr(
            f"sqrt(aggregate(zip_with(zip_with({ra}, {rb}, "
            "(a, b) -> CAST(a - b AS DOUBLE)), scale, (d, s) -> d * s / 255.0D), "
            "0.0D, (acc, x) -> acc + x * x))"
        )
    diff = F.zip_with(codes_a, codes_b, lambda a, b: (a - b).cast("double"))
    scaled = F.zip_with(diff, F.col("scale"), lambda d, s: d * s / 255.0)
    return F.sqrt(F.aggregate(scaled, F.lit(0.0), lambda acc, x: acc + x * x))


def sq_dot_dist_expr(codes_a: ColumnOrName, codes_b: ColumnOrName) -> Column:
    """D6 — reconstruct both sides, −dot."""
    if (ra := _sqlref(codes_a)) is not None and (rb := _sqlref(codes_b)) is not None:
        return F.expr(
            f"-aggregate(zip_with({_sq_decode_sql(ra)}, {_sq_decode_sql(rb)}, "
            "(x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
        )
    rec_a = sq_decode_expr(codes_a)
    rec_b = sq_decode_expr(codes_b)
    prods = F.zip_with(rec_a, rec_b, lambda x, y: x * y)
    return -F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


# ------------------------------------------------------------------ BQ

def bq_train(vectors: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """A5 — per-dim median thresholds (1-row array<double>)."""
    exploded = vectors.select(F.posexplode(vec_col).alias("dim", "v"))
    stats = exploded.groupBy("dim").agg(F.median("v").alias("t"))
    return stats.agg(F.array_sort(F.collect_list(F.struct("dim", "t"))).alias("s")).select(
        F.transform("s", lambda x: x["t"]).alias("thresholds")
    )


def bq_encode_expr(vec: ColumnOrName) -> Column:
    """E3 — bit per dim: v > threshold (requires `thresholds` in scope)."""
    if (r := _sqlref(vec)) is not None:
        return F.expr(
            f"zip_with({r}, thresholds, (x, t) -> CAST(CAST(x AS DOUBLE) > t AS INT))"
        )
    return F.zip_with(vec, F.col("thresholds"), lambda x, t: (x.cast("double") > t).cast("int"))


def bq_pack_expr(bits: Column, n_words: int) -> Column:
    """Pack bit array into BIGINT words, 32 bits per word MSB-first (staying
    below the sign bit keeps ANSI-mode arithmetic overflow-free), for
    `bit_count` Hamming. n_words = ceil(D/32)."""
    def word(w):
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(31)),
            F.lit(0).cast("long"),
            lambda acc, j: acc * F.lit(2).cast("long")
            + F.coalesce(
                F.element_at(bits, (F.lit(w * 32 + 1) + j).cast("int")).cast("long"),
                F.lit(0).cast("long"),
            ),
        )
    return F.array(*[word(w) for w in range(n_words)])


def hamming_bits_expr(bits_a: ColumnOrName, bits_b: ColumnOrName) -> Column:
    """D4 over unpacked bits: Σ (a≠b)."""
    if (ra := _sqlref(bits_a)) is not None and (rb := _sqlref(bits_b)) is not None:
        return F.expr(
            f"aggregate(zip_with({ra}, {rb}, "
            "(a, b) -> CASE WHEN a != b THEN 1 ELSE 0 END), "
            "CAST(0 AS BIGINT), (acc, x) -> acc + CAST(x AS BIGINT))"
        )
    return F.aggregate(
        F.zip_with(bits_a, bits_b, lambda a, b: F.when(a != b, 1).otherwise(0)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x.cast("long"),
    )


# ------------------------------------------------------------------ PQ

def pq_sample_codebook(
    vectors: DataFrame,
    num_subspaces: int,
    num_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic codebook: centroid c of subspace m = subvector m of the
    c-th lowest-id vector. (dim-order slice as in ``quantization.py:466-471``;
    kmeans *quality* is supplied by :func:`pq_train_lloyd` instead.)
    Returns (m, code, centroid array<double>)."""
    dim_df = vectors.orderBy(id_col).limit(num_centroids)
    # the window only ever sees the limit(num_centroids) rows above (≤256),
    # so a single partition is the intent — make it explicit
    base = dim_df.select(
        F.row_number().over(Window.partitionBy(F.lit(0)).orderBy(id_col)).alias("rk"),
        F.col(vec_col).alias("v"),
    ).withColumn("code", F.col("rk") - 1).drop("rk")
    m_df = base.crossJoin(
        base.sparkSession.range(num_subspaces).select(F.col("id").cast("int").alias("m"))
    )
    sub = F.expr(f"slice(v, m * (size(v) div {num_subspaces}) + 1, size(v) div {num_subspaces})")
    return m_df.select("m", "code", F.transform(sub, lambda x: x.cast("double")).alias("centroid"))


def pq_encode(
    vectors: DataFrame,
    codebook: DataFrame,
    num_subspaces: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """E4 — (id, m, code): nearest centroid per subspace slice (L2²,
    lowest code wins ties = np.argmin)."""
    m_df = vectors.crossJoin(
        vectors.sparkSession.range(num_subspaces).select(F.col("id").cast("int").alias("m"))
    )
    sub = F.expr(f"slice({vec_col}, m * (size({vec_col}) div {num_subspaces}) + 1, size({vec_col}) div {num_subspaces})")
    sliced = m_df.select(F.col(id_col), "m", F.transform(sub, lambda x: x.cast("double")).alias("sub"))
    joined = sliced.join(F.broadcast(codebook), "m")
    d2 = F.aggregate(
        F.zip_with("sub", "centroid", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = joined.select(F.col(id_col), "m", "code", d2.alias("d2"))
    return (
        scored.groupBy(id_col, "m")
        .agg(F.min_by("code", F.struct(F.col("d2"), F.col("code"))).alias("code"))
    )


def pq_lut(query_vec: DataFrame, codebook: DataFrame, num_subspaces: int) -> DataFrame:
    """D7 — (m, code, d2): ‖q_sub − centroid‖² per (subspace, centroid)."""
    m_df = query_vec.crossJoin(
        query_vec.sparkSession.range(num_subspaces).select(F.col("id").cast("int").alias("m"))
    )
    sub = F.expr(f"slice(qvec, m * (size(qvec) div {num_subspaces}) + 1, size(qvec) div {num_subspaces})")
    sliced = m_df.select("m", F.transform(sub, lambda x: x.cast("double")).alias("qsub"))
    joined = sliced.join(F.broadcast(codebook), "m")
    d2 = F.aggregate(
        F.zip_with("qsub", "centroid", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return joined.select("m", "code", d2.alias("d2"))


def pq_adc_distances(codes: DataFrame, lut: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """(id, dist): sqrt(Σ_m lut[m][code_m]) — the O(M) table-lookup scan as a
    broadcast join + sum."""
    return (
        codes.join(F.broadcast(lut), ["m", "code"])
        .groupBy(id_col)
        .agg(F.sqrt(F.sum("d2")).alias("dist"))
    )


def pq_train_lloyd(
    vectors: DataFrame,
    num_subspaces: int,
    num_centroids: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 10,
    sample_cap: int = 65536,
) -> DataFrame:
    """A6 codebook via the deterministic driver-side Lloyd kernel
    (`operators/similarity.lloyd_kmeans`) on a bounded hash-stride sample.

    One bounded collect (`_stride_sample`: ≤ sample_cap rows regardless
    of corpus size — the same driver-matrix bound as the IVF coarse
    trainer) plus pure NumPy, where per-subspace MLlib fits would make M
    fits × maxIter distributed passes over the full corpus. RNG-free and
    id-sort-deterministic, so the trained sf0.01 codebook freezes as
    snapshot literals (`queries/_pq_snapshot.py`; the retrain-equality
    test pins it). Returns (m, code, centroid array<double>)."""
    import numpy as np

    from custom_python_vectordb_spark.operators.similarity import (
        _stride_sample,
        lloyd_kmeans,
    )

    spark = vectors.sparkSession
    n = vectors.count()
    samp = _stride_sample(vectors.select(id_col, vec_col), n, sample_cap, id_col)
    pdf = samp.toPandas()
    order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
    mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])[order]
    sub_dim = mat.shape[1] // num_subspaces
    out = []
    for m in range(num_subspaces):
        block = np.ascontiguousarray(mat[:, m * sub_dim:(m + 1) * sub_dim])
        cents = lloyd_kmeans(np, block, num_centroids, iters=iters)
        for code, center in enumerate(cents):
            out.append((m, code, [float(x) for x in center]))
    return local_df(spark, out, "m int, code int, centroid array<double>")


# ------------------------------------------------------------------ K5 rerank

def quantized_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    model: DataFrame,
    k: int = 10,
    candidates: int = 50,
    metric: str = "l2",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coded_corpus: DataFrame | None = None,
) -> DataFrame:
    """K5 — SQ-coded coarse scan → top-`candidates` per query → exact
    distance on the candidate set → top-k. Two-stage plan: stage 1 reads
    codes only (4× less data), stage 2 touches `candidates` rows per query.
    `coded_corpus`: optional pre-encoded (id, vec, codes) frame — the E1
    storage tier a serving system persists at ingest (sources/corpus_view
    .sq_coded_view); when omitted the codes are derived inline."""
    if coded_corpus is None:
        coded_corpus = sq_encode(corpus, model, vec_col).select(id_col, vec_col, "codes")
    coded_queries = (
        queries.withColumnRenamed("qvec", "embedding")
        .crossJoin(F.broadcast(model))
        .withColumn("qcodes", sq_encode_expr("embedding"))
        .select("qid", F.col("embedding").alias("qvec"), "qcodes")
    )
    stage1 = (
        coded_corpus.join(F.broadcast(coded_queries.select("qid", "qcodes")))
        .crossJoin(F.broadcast(model))
        .select(
            "qid", id_col, vec_col,
            sq_l2_dist_expr("qcodes", "codes").alias("qdist"),
        )
    )
    cands = top_k_per_group(stage1, "qid", candidates, F.col("qdist").asc(), F.col(id_col).asc())
    stage2 = cands.join(F.broadcast(coded_queries.select("qid", "qvec")), "qid").select(
        "qid", id_col, distance_expr(metric, vec_col, "qvec").alias("dist")
    )
    return top_k_per_group(stage2, "qid", k, F.col("dist").asc(), F.col(id_col).asc()).orderBy(
        "qid", "dist", id_col
    )


# --------------------------------------------- in-process quantized replica

def _load_snapshot(in_dir: str, name: str):
    """:func:`shard_tier.load` for a handle's ``load_index``, which has no
    shards to rebuild from: an absent or unreadable snapshot raises."""
    got = shard_tier.load(in_dir, name)
    if got is None:
        raise FileNotFoundError(f"no readable {name}.npz under {in_dir}")
    return got


class _ArraySnapshot:
    """``save_index``/``load_index`` for the SQ/BQ/PQ handles, whose state
    is the arrays named in ``_SNAP_ARRAYS`` plus the JSON fields in
    ``_SNAP_FIELDS``: one :func:`shard_tier.save` snapshot
    ``<_SNAP_NAME>.npz`` with the build-time shard stat key — the
    warm-start family contract of ``IvfReplicaHandle.save_index`` (the
    build's expensive part at scale is the full-corpus decode + encode,
    which N booting serving workers should pay once). ``load_index``
    reads no parquet and keeps the shard set, so ``refresh()`` still
    works; freshness vs live shards is the caller's job (compare
    ``meta['stat_key']``). Derived fields are recomputed at load by the
    same ``_finish_derived`` refresh() uses."""

    __slots__ = ()

    def save_index(self, out_dir: str) -> None:
        shard_tier.save(
            out_dir, self._SNAP_NAME,
            {a: getattr(self, a) for a in self._SNAP_ARRAYS},
            {"stat_key": self._stat_key, **{f: getattr(self, f) for f in self._SNAP_FIELDS}},
        )

    @classmethod
    def load_index(cls, in_dir: str):
        import numpy as np

        arrays, meta = _load_snapshot(in_dir, cls._SNAP_NAME)
        self = object.__new__(cls)
        self._np = np
        self._stat_key = meta.pop("stat_key")
        self._paths = [p for p, _m, _s in self._stat_key]
        for name, value in {**arrays, **meta}.items():
            setattr(self, name, value)
        self._finish_derived()
        return self

    def _finish_derived(self) -> None:
        pass


def _sq_resolve(shard_paths: list[str], id_col: str):
    """The SQ code tier of a shard set through the shard tier: (stat_key,
    ids, codes uint8 (N, D), minv, per-dim step s, per-row Σ s²a²), or
    None when the shards hold no rows."""

    def build(paths, stat_key):
        import numpy as np

        loaded = shard_tier.load_vectors(paths, id_col, "float64")
        if loaded is None:
            return None
        ids, mat = loaded
        minv = mat.min(axis=0)
        maxv = mat.max(axis=0)
        scale = np.where(maxv - minv == 0.0, 1.0, maxv - minv)
        codes = np.floor(
            np.clip((mat - minv) / scale * 255.0, 0.0, 255.0)
        ).astype(np.uint8)
        s = scale / 255.0  # per-dim code→value step
        s2 = (s * s).astype(np.float64)
        cf = codes.astype(np.float64)
        wa2 = (cf * cf * s2).sum(axis=1)  # Σ s² a² per row
        return (stat_key, ids, codes, minv, s, wa2)

    return shard_tier.resolve("sq", shard_paths, (id_col,), build)


def _mmap_rerank(shard_paths, id_col, mmap_dir, ids, coarse, qids, qmat, k, fetch_k, dist_col):
    """K5 exact rerank shared by the SQ/BQ/PQ serves: each query's
    top-``fetch_k`` coarse candidates by (dist, id) (``coarse`` is (Q, N),
    aligned with ``ids``) are re-scored with exact L2 against their float
    rows, gathered from the memory-mapped replica under ``mmap_dir``
    (``knn.resolve_replica`` — RAM holds codes, DISK holds floats), and
    the k nearest by (dist, id) are kept."""
    import numpy as np

    from custom_python_vectordb_spark.operators.knn import resolve_replica

    rep = resolve_replica(shard_paths, id_col=id_col, dtype="float64", mmap_dir=mmap_dir)
    sorted_ids, sorter = rep.pos
    cand = ids[topk_positions(np, ids, coarse, fetch_k)]
    ed = np.empty(cand.shape)
    for qi, row in enumerate(cand):
        gathered = np.asarray(rep.mat[sorter[np.searchsorted(sorted_ids, row)]], dtype=np.float64)
        diff = gathered - qmat[qi][None, :]
        ed[qi] = np.sqrt((diff * diff).sum(axis=1))
    return topk_frame(id_col, dist_col, qids, *topk_tie_aware(np, cand, ed, k))


def sq_replica_serve(
    shard_paths: list[str],
    queries_pd,
    k: int = 10,
    *,
    id_col: str = "vec_id",
    dist_col: str = "dist",
    chunk_rows: int = 16384,
    fetch_k: int | None = None,
    rerank_mmap_dir: str | None = None,
):
    """Quantized serving replica — the reference's SQ serving regime
    (``vectordb_optimized.py`` stores int8 codes to fit more corpus per
    node; ``benchmark_quantization.py`` is its quality gate) as an
    in-process twin of :func:`knn.knn_replica_serve`:

    - **build** (once per shard stat): decode vectors, train the SAME SQ
      model the batch operators use (per-dim min/max, ``sq_train``),
      encode to a resident uint8 code matrix — **4× less RAM than
      float32, 8× less than float64** — plus the per-row weighted square
      norm Σ s²a² the L2 expansion needs.
    - **serve**: encode the query batch with the same model (floor/clip,
      bit-identical to ``sq_encode_expr``), then L2-over-codes via the
      expansion d² = Σs²a² − 2(a·s²)·b + Σs²b², computed as a CHUNKED
      float64 GEMM: each ``chunk_rows`` slice of codes is widened
      transiently (bounded scratch, ~16k×D×8 B), multiplied, and
      discarded — storage stays uint8, so the capacity win is real and
      the latency cost is the widening (~2× the float replica, measured
      in bench).

    Distances equal ``sq_l2_dist_expr`` (the oracle-checked knn_sq_l2
    semantics) to ~1e-8 (float64 expansion-cancellation floor); ranking
    asserted identical in tests on the fixture corpus.

    ``fetch_k`` + ``rerank_mmap_dir`` (K5 at serving speed): the coarse
    uint8 scan keeps its top-``fetch_k`` candidates per query, then the
    EXACT vectors of just those candidates are gathered from the
    memory-mapped float replica (``knn.resolve_replica`` — RAM holds
    codes, DISK holds floats, the rerank touches fetch_k rows per query
    as page reads) and exact L2 decides the final top-k. This is the
    reference's quantized-rerank architecture with the float tier
    demoted to disk: measured at 100K×128 vs the exact-L2 truth,
    recall@10 goes 0.98 (coarse codes only) → 1.00 at fetch_k=50, at
    ~3.3 ms/q for a 20-query batch (the float64 chunked GEMM trades ~2×
    the float replica's latency for 4× its capacity)."""
    import numpy as np

    entry = _sq_resolve(shard_paths, id_col)
    if entry is None or len(queries_pd) == 0:
        return topk_frame(id_col, dist_col)
    _, ids, codes, minv, s, wa2 = entry

    qids = queries_pd["qid"].to_numpy()
    qmat = np.asarray([np.asarray(v, dtype=np.float64) for v in queries_pd["qvec"]])
    scale = s * 255.0
    qcodes = np.floor(np.clip((qmat - minv) / scale * 255.0, 0.0, 255.0))
    s2 = s * s
    qw = qcodes * s2  # (Q, D): b·s² — cross-term multiplier
    wb2 = (qcodes * qcodes * s2).sum(axis=1)  # Σ s² b² per query
    n = len(ids)
    d2 = np.empty((len(qids), n), dtype=np.float64)
    for lo in range(0, n, chunk_rows):
        hi = min(lo + chunk_rows, n)
        # transient float64 widening: float32 here loses ~7 digits in the
        # cross term, which the expansion's cancellation amplifies to
        # ~1e-3 absolute noise on near-zero DISTANCES (sqrt of a tiny
        # difference of large terms); float64 keeps it ~1e-8 (measured)
        block = codes[lo:hi].astype(np.float64)
        d2[:, lo:hi] = qw @ block.T  # (Q, chunk) cross terms
    d2 *= -2.0
    d2 += wa2[None, :]
    d2 += wb2[:, None]
    np.maximum(d2, 0.0, out=d2)
    np.sqrt(d2, out=d2)
    if fetch_k is not None and rerank_mmap_dir is not None:
        return _mmap_rerank(
            shard_paths, id_col, rerank_mmap_dir, ids, d2, qids, qmat, k, fetch_k, dist_col
        )
    return topk_frame(id_col, dist_col, qids, *topk_tie_aware(np, ids, d2, k))


def _popcount64(x, t):
    """SWAR popcount on uint64, IN PLACE with one scratch buffer (numpy
    1.x has no bitwise_count; the out=-less version measured
    allocation-bound — 10 × 16 MB temporaries per pass at 100K×Q=20).
    Driver-side only, never pickled to workers."""
    import numpy as np

    np.right_shift(x, np.uint64(1), out=t)
    t &= np.uint64(0x5555555555555555)
    x -= t
    np.right_shift(x, np.uint64(2), out=t)
    t &= np.uint64(0x3333333333333333)
    x &= np.uint64(0x3333333333333333)
    x += t
    np.right_shift(x, np.uint64(4), out=t)
    x += t
    x &= np.uint64(0x0F0F0F0F0F0F0F0F)
    x *= np.uint64(0x0101010101010101)
    x >>= np.uint64(56)
    return x


def _bq_resolve(shard_paths: list[str], *, id_col: str):
    """The BQ tier of a shard set through the shard tier: (stat_key, ids,
    packed uint64 words, per-dim medians, byte pad), or None when the
    shards hold no rows."""

    def build(paths, stat_key):
        import numpy as np

        loaded = shard_tier.load_vectors(paths, id_col, "float64")
        if loaded is None:
            return None
        ids, mat = loaded
        med = np.median(mat, axis=0)
        packed = np.packbits((mat > med[None, :]).astype(np.uint8), axis=1)
        # pad the byte dim to a multiple of 8 and view as uint64 words for
        # the SWAR popcount scan; resident bytes stay D/8 per row (+pad)
        pad = (-packed.shape[1]) % 8
        if pad:
            packed = np.concatenate(
                [packed, np.zeros((len(packed), pad), dtype=np.uint8)], axis=1
            )
        return (stat_key, ids, np.ascontiguousarray(packed).view(np.uint64), med, pad)

    return shard_tier.resolve("bq", shard_paths, (id_col,), build)


class BqReplicaHandle(_ArraySnapshot):
    """Pre-resolved single-query fast path over the packed BQ tier — the
    quantized sibling of ``partitioned.IvfReplicaHandle`` (same rationale:
    hnswlib-style bare in-process call on a pre-opened index, no per-call
    stat/pandas plumbing; staleness re-checked at the caller's
    ``refresh()`` boundary while :func:`bq_replica_serve` keeps its
    per-call stat check)."""

    __slots__ = ("_paths", "_id_col", "_np", "_stat_key", "ids", "words", "med", "pad")
    _SNAP_NAME, _SNAP_ARRAYS, _SNAP_FIELDS = "bq_index", ("ids", "words", "med"), ("_id_col", "pad")

    def __init__(self, shard_paths: list[str], *, id_col: str = "vec_id"):
        import numpy as np

        self._np = np
        self._paths = list(shard_paths)
        self._id_col = id_col
        self.refresh()

    def refresh(self) -> None:
        entry = _bq_resolve(self._paths, id_col=self._id_col)
        if entry is None:
            raise shard_tier.EmptyShardSetError("empty shard set")
        self._stat_key, self.ids, self.words, self.med, self.pad = entry

    def search_one(self, qvec, k: int = 10):
        """Coarse Hamming top-k for ONE query: (ids, hamming) sorted by
        (distance, id). One xor+SWAR-popcount pass per packed word."""
        np = self._np
        q = np.asarray(qvec, dtype=np.float64)
        qp = np.packbits((q > self.med).astype(np.uint8))
        if self.pad:
            qp = np.concatenate([qp, np.zeros(self.pad, dtype=np.uint8)])
        qw = np.ascontiguousarray(qp).view(np.uint64)
        words = self.words
        n = len(self.ids)
        # single-threaded SWAR over 32K-row blocks: the x/t scratch
        # (2 × 256 KB) stays L2-resident across the ~12 per-word passes
        # instead of streaming N×8B through DRAM each pass (measured p50
        # 1.61 → 1.22 ms at 100K×128, r13). Still one thread: at one
        # query the per-slice ops are too small to amortize GIL handoffs
        # (a 2-thread split measured 2.5× SLOWER; the batch path's
        # threads only pay off on its (Q, N) matrices).
        blk = 32768
        n_words = words.shape[1]
        acc = np.empty(n, dtype=np.uint16)
        bw = min(blk, n)
        x = np.empty(bw, dtype=np.uint64)
        t = np.empty(bw, dtype=np.uint64)
        for lo in range(0, n, blk):
            hi = min(lo + blk, n)
            m = hi - lo
            xx, tt, a = x[:m], t[:m], acc[lo:hi]
            np.bitwise_xor(qw[0], words[lo:hi, 0], out=xx)
            a[:] = _popcount64(xx, tt)  # cast-assign uint64→uint16
            for w in range(1, n_words):
                np.bitwise_xor(qw[w], words[lo:hi, w], out=xx)
                np.add(a, _popcount64(xx, tt), out=a, casting="unsafe")
        # uint16 Hamming counts take the shared top-k's bincount boundary
        return topk_tie_aware(np, self.ids, acc, k)


def bq_replica_serve(
    shard_paths: list[str],
    queries_pd,
    k: int = 10,
    *,
    id_col: str = "vec_id",
    dist_col: str = "dist",
    fetch_k: int | None = None,
    rerank_mmap_dir: str | None = None,
):
    """Binary-quantized serving replica — the reference's 32×-compression
    tier (``quantization.py:287`` binary codes + Hamming scan, README
    0.8 ms/query at 100K×128) as an in-process twin of
    :func:`sq_replica_serve`:

    - **build** (once per shard stat): decode vectors, per-dim MEDIAN
      threshold (the same ``bq_train`` convention the oracle-checked
      batch operators use), binarize, ``np.packbits`` → resident
      (N, D/8) uint8 code matrix — **32× less RAM than float32**; a
      100K×128 corpus is 1.6 MB resident.
    - **serve**: binarize+pack the queries with the SAME thresholds, and
      per query one ``bitwise_xor`` against the packed matrix + a
      256-entry popcount LUT sum gives Hamming distances — no float
      arithmetic on the scan at all.
    - ``fetch_k`` + ``rerank_mmap_dir``: same disk-float exact rerank as
      the SQ tier (RAM holds 1-bit codes, disk holds floats) to recover
      exact top-k from the coarse candidates; recall is measured in
      bench every run, matching the reference's 80-85%-coarse /
      rerank-recovered methodology.

    Ties (equal Hamming) break by id ascending, like every top-k here."""
    import numpy as np

    _popcount64_ = _popcount64

    entry = _bq_resolve(shard_paths, id_col=id_col)
    if entry is None or len(queries_pd) == 0:
        return topk_frame(id_col, dist_col)
    _, ids, words, med, pad = entry

    qids = queries_pd["qid"].to_numpy()
    qmat = np.asarray([np.asarray(v, dtype=np.float64) for v in queries_pd["qvec"]])
    qpacked = np.packbits((qmat > med[None, :]).astype(np.uint8), axis=1)
    if pad:
        qpacked = np.concatenate(
            [qpacked, np.zeros((len(qpacked), pad), dtype=np.uint8)], axis=1
        )
    qwords = np.ascontiguousarray(qpacked).view(np.uint64)
    n = len(ids)
    # the scan is memory-bandwidth-bound (10 SWAR passes over a (Q, N)
    # uint64 matrix per word): 4 threads over row slices, each slicing its
    # range into 32K-row column blocks so the x/t scratch (2 × Q×B×8B ≈
    # 10 MB at Q=20) stays cache-warm across the per-word passes instead
    # of round-tripping DRAM. Measured at 100K×128/Q=20 (r13): 8 threads ×
    # full-slice scratch = 1.16 ms/q (DRAM-saturated, HT-contended) vs 4
    # threads × blocked = 0.62 ms/q — past the reference's published
    # 0.8 ms packed-bit row (BASELINE.md:15). numpy releases the GIL on
    # the large elementwise ops, so slices genuinely run in parallel.
    from concurrent.futures import ThreadPoolExecutor

    nq = len(qids)
    dh = np.empty((nq, n), dtype=np.uint16)
    n_threads = 4 if n >= 65536 else 1
    blk = 32768
    bounds = np.linspace(0, n, n_threads + 1, dtype=np.int64)
    n_words = words.shape[1]

    def _scan(slot):
        lo0, hi0 = int(bounds[slot]), int(bounds[slot + 1])
        bw = min(blk, hi0 - lo0)
        x = np.empty((nq, bw), dtype=np.uint64)
        t = np.empty_like(x)
        acc = np.empty((nq, bw), dtype=np.uint16)  # contiguous accumulator
        for lo in range(lo0, hi0, blk):
            hi = min(lo + blk, hi0)
            m = hi - lo
            xx, tt, a = x[:, :m], t[:, :m], acc[:, :m]
            np.bitwise_xor.outer(qwords[:, 0], words[lo:hi, 0], out=xx)
            a[:] = _popcount64_(xx, tt)  # cast-assign uint64→uint16
            for w in range(1, n_words):
                np.bitwise_xor.outer(qwords[:, w], words[lo:hi, w], out=xx)
                np.add(a, _popcount64_(xx, tt), out=a, casting="unsafe")
            dh[:, lo:hi] = a

    if n_threads == 1:
        _scan(0)
    else:
        with ThreadPoolExecutor(n_threads) as ex:
            list(ex.map(_scan, range(n_threads)))
    if fetch_k is not None and rerank_mmap_dir is not None:
        return _mmap_rerank(
            shard_paths, id_col, rerank_mmap_dir, ids, dh, qids, qmat, k, fetch_k, dist_col
        )
    # uint16 Hamming rows: the shared top-k finds each row's k-th boundary
    # by one bincount pass, not an introselect over N
    return topk_frame(id_col, dist_col, qids, *topk_tie_aware(np, ids, dh, k))


def _train_pq_books(np, mat, num_subspaces: int, num_centroids: int,
                    train_sample_cap: int = 131_072):
    """(books (M, K, sub_d) float32, codes (N, M) uint8): deterministic
    per-subspace NumPy Lloyd (5 iterations, centroids seeded from the
    lowest-id rows — the ivf_replica_serve recipe, so rebuilds are
    bit-identical). Shared by the PQ and IVF-PQ replica builds.

    Linear in the corpus (r11, the same fix as the IVF trainer): Lloyd
    trains on a deterministic evenly-spaced row sample of at most
    `train_sample_cap` rows (corpora at or under the cap — including the
    100K bench corpus — train on every row), centroid updates are one
    `np.add.at` scatter + bincount instead of K member scans, and the
    final full-corpus encode runs once in ~256 MB chunks. The old
    full-matrix form cost M × (N·K distance blocks ×5 + K boolean scans
    of N) — minutes at 1M rows."""
    from custom_python_vectordb_spark.operators.knn import _blas_threads

    n, d = mat.shape
    m = num_subspaces
    if d % m:
        raise ValueError(f"dim {d} not divisible by num_subspaces {m}")
    sub_d = d // m
    kc = min(num_centroids, n)
    books = np.empty((m, kc, sub_d), dtype=np.float32)
    codes = np.empty((n, m), dtype=np.uint8)
    if n > train_sample_cap:
        tsel = np.linspace(0, n - 1, train_sample_cap).astype(np.int64)
    else:
        tsel = None
    with _blas_threads(16):
        for mi in range(m):
            x = np.ascontiguousarray(mat[:, mi * sub_d : (mi + 1) * sub_d])
            t = x if tsel is None else np.ascontiguousarray(x[tsel])
            cent = t[:kc].copy()
            t2 = (t * t).sum(1)[:, None]
            for _ in range(5):
                assign = (t2 + (cent * cent).sum(1)[None, :] - 2.0 * (t @ cent.T)).argmin(1)
                sums = np.zeros_like(cent)
                np.add.at(sums, assign, t)
                counts = np.bincount(assign, minlength=kc)
                nz = counts > 0
                cent[nz] = sums[nz] / counts[nz, None]
            books[mi] = cent
            codes[:, mi] = _pq_encode_subspace(np, x, cent)
    return books, codes


def _pq_encode_subspace(np, x, cent):
    """uint8 nearest-centroid codes for ONE subspace's rows against its
    book, in ~256 MB distance chunks (shared by training-time encode and
    the IVF-PQ residual encode)."""
    kc = len(cent)
    chunk = max(1, 32_000_000 // max(kc, 1))
    out = np.empty(len(x), dtype=np.uint8)
    cent_sq = (cent * cent).sum(1)[None, :]
    for s in range(0, len(x), chunk):
        blk = x[s : s + chunk]
        d2 = (blk * blk).sum(1)[:, None] + cent_sq - 2.0 * (blk @ cent.T)
        out[s : s + chunk] = d2.argmin(1).astype(np.uint8)
    return out


def _pq_encode(np, mat, books):
    """(N, M) uint8 codes for `mat` against trained `books` — the
    encode-only twin of :func:`_train_pq_books` (the IVF-PQ replica
    encodes per-cell RESIDUALS against globally trained books)."""
    m, kc, sub_d = books.shape
    codes = np.empty((len(mat), m), dtype=np.uint8)
    for mi in range(m):
        x = np.ascontiguousarray(mat[:, mi * sub_d : (mi + 1) * sub_d])
        codes[:, mi] = _pq_encode_subspace(np, x, books[mi])
    return codes


def _pq_resolve(shard_paths: list[str], num_subspaces: int, num_centroids: int, id_col: str):
    """The PQ code tier of a shard set through the shard tier: (stat_key,
    id-sorted ids, codes uint8 (N, M), books), or None when the shards
    hold no rows."""
    if num_centroids > 256:
        # codes are stored uint8; a larger codebook would silently wrap
        # modulo 256 and produce wrong ADC distances (round-6 ADVICE)
        raise ValueError(
            f"num_centroids={num_centroids} exceeds the uint8 code range (max 256)"
        )

    def build(paths, stat_key):
        import numpy as np

        loaded = shard_tier.load_vectors(paths, id_col, "float32", sort_ids=True)
        if loaded is None:
            return None
        ids, mat = loaded
        books, codes = _train_pq_books(np, mat, num_subspaces, num_centroids)
        return (stat_key, ids, codes, books)

    return shard_tier.resolve(
        "pq", shard_paths, (id_col, num_subspaces, num_centroids), build
    )


def pq_replica_serve(
    shard_paths: list[str],
    queries_pd,
    k: int = 10,
    num_subspaces: int = 16,
    num_centroids: int = 256,
    *,
    id_col: str = "vec_id",
    dist_col: str = "dist",
    fetch_k: int | None = None,
    rerank_mmap_dir: str | None = None,
):
    """Product-quantized serving replica — the reference's PQ tier
    (``quantization.py:510-578``: M×uint8 codes + asymmetric LUT
    distances, README "~90% recall @ 8-16×") as the third member of the
    quantized serving family (SQ = :func:`sq_replica_serve`, BQ =
    :func:`bq_replica_serve`):

    - **build** (once per shard stat): decode vectors, train per-subspace
      codebooks with deterministic NumPy Lloyd (5 iterations, centroids
      seeded from the lowest-id rows — the ivf_replica_serve recipe, so
      rebuilds are bit-identical), encode to a resident (N, M) uint8 code
      matrix: **32× less RAM than float32** at D=128/M=16 (+128 KB of
      codebooks).
    - **serve**: per query an (M, K) L2² lookup table against the
      codebooks (one tiny GEMM), then ADC: dist²(n) = Σ_m lut[m, c_nm] —
      M column-gathers over the code matrix, sharded across a thread
      pool like the BQ scan (gathers are memory-bound; numpy releases
      the GIL).
    - ``fetch_k`` + ``rerank_mmap_dir``: same disk-float exact rerank as
      SQ/BQ; coarse PQ recall is measured in bench, never assumed.

    Distances are sqrt(ADC sums) — the asymmetric approximation of true
    L2 (quantization error on the corpus side only); ties break by id."""
    import numpy as np

    entry = _pq_resolve(shard_paths, num_subspaces, num_centroids, id_col)
    if entry is None or len(queries_pd) == 0:
        return topk_frame(id_col, dist_col)
    _, ids, codes, books = entry

    m, kc, sub_d = books.shape
    n = len(ids)
    qids = queries_pd["qid"].to_numpy()
    qmat = np.asarray(
        [np.asarray(v, dtype=np.float32) for v in queries_pd["qvec"]]
    )
    nq = len(qids)
    # (Q, M, K) lookup tables: L2^2 of each query subvector to each centroid
    qsub = qmat.reshape(nq, m, sub_d)
    luts = (
        (qsub * qsub).sum(2)[:, :, None]
        + (books * books).sum(2)[None, :, :]
        - 2.0 * np.einsum("qms,mks->qmk", qsub, books)
    )
    # ADC: for each query sum M column-gathers over the code matrix,
    # row-sharded across threads (gather is memory-bound, GIL released)
    from concurrent.futures import ThreadPoolExecutor

    d2 = np.zeros((nq, n), dtype=np.float32)
    n_threads = 8 if n >= 65536 else 1
    bounds = np.linspace(0, n, n_threads + 1, dtype=np.int64)

    def _scan(slot):
        lo, hi = int(bounds[slot]), int(bounds[slot + 1])
        c = codes[lo:hi]
        acc = d2[:, lo:hi]
        for mi in range(m):
            acc += luts[:, mi, :][:, c[:, mi]]

    if n_threads == 1:
        _scan(0)
    else:
        with ThreadPoolExecutor(n_threads) as ex:
            list(ex.map(_scan, range(n_threads)))
    np.maximum(d2, 0.0, out=d2)
    np.sqrt(d2, out=d2)

    if fetch_k is not None and rerank_mmap_dir is not None:
        return _mmap_rerank(
            shard_paths, id_col, rerank_mmap_dir, ids, d2, qids,
            qmat.astype(np.float64), k, fetch_k, dist_col,
        )
    return topk_frame(id_col, dist_col, qids, *topk_tie_aware(np, ids, d2, k))


# Margin multiplier for the certified float32 coarse-scan error bound.
# The worst-case γ-bound for the non-negative-term L2 expansion GROWS
# with dimension — (D + 8)·2⁻²⁴ (cast of qw/wa2/wb2 to float32, the GEMV
# summation, and the 3 expansion adds, each bounded by the running
# non-negative magnitude) — so the coefficient is computed from the
# corpus D at refresh() (r13, ADVICE medium: a constant tuned to D=128
# undersizes the envelope at 2048/4096-d and can silently drop true
# top-k rows). 12× matches the margin the old D=128 constant carried.
_SQ_F32_MARGIN = 12.0


class SqReplicaHandle(_ArraySnapshot):
    """Pre-resolved single-query path over the SQ uint8 tier (the
    quantized sibling of ``IvfReplicaHandle``/``BqReplicaHandle``; same
    refresh() staleness contract). It resolves the same shard-tier entry
    as :func:`sq_replica_serve`, so the code tier and model are
    bit-identical to the batch path's.

    r12 two-phase scan: the coarse pass widens uint8→float32 (half the
    cast cost of float64 — the cast, not the GEMV, dominated the r11
    profile) and keeps a CERTIFIED error envelope per row
    (``_err32 = _SQ_F32_MARGIN·(D+8)·2⁻²⁴`` × the sum of the non-negative term
    magnitudes — every term is ≥0, so absolute float32 error is bounded
    by the envelope with a ~12× margin over the worst-case γ₁₂₈ bound).
    Rows whose envelope-lowered distance can reach the k-th
    envelope-raised distance are recomputed with the EXACT float64
    expansion in the batch path's op order, so the returned (ids, dists)
    are bit-identical to a full float64 scan — the envelope only decides
    *which* rows get the exact treatment, never the output values.

    Latency economics (measured at 100K×128): ~4-5 ms/query coarse+refine
    (was ~7 with the full float64 widening; values unchanged). SQ remains
    the CAPACITY tier (4× corpus per node); latency-sensitive
    single-query traffic belongs on the IVF handle (~0.1 ms) or BQ
    (~1.2 ms), with this tier serving batched/offline reads."""

    __slots__ = (
        "_paths", "_id_col", "_np", "_chunk", "_stat_key", "ids", "codes", "minv",
        "s", "s2", "wa2", "_wa2_32", "_err32",
    )
    _SNAP_NAME, _SNAP_ARRAYS = "sq_index", ("ids", "codes", "minv", "s", "wa2")
    _SNAP_FIELDS = ("_id_col", "_chunk")

    def __init__(self, shard_paths: list[str], *, id_col: str = "vec_id", chunk_rows: int = 1024):
        import numpy as np

        # chunk_rows sets the float64 EXACT-path chunk geometry only
        # (phase 2 recomputes candidates in these absolute blocks — see
        # _exact_rows); the float32 coarse pass is a single fused einsum
        # and needs no scratch
        self._np = np
        self._paths = list(shard_paths)
        self._id_col = id_col
        self._chunk = chunk_rows
        self.refresh()

    def refresh(self) -> None:
        entry = _sq_resolve(self._paths, self._id_col)
        if entry is None:
            raise shard_tier.EmptyShardSetError("empty shard set")
        self._stat_key, self.ids, self.codes, self.minv, self.s, self.wa2 = entry
        self._finish_derived()

    def _finish_derived(self) -> None:
        """Fields derived from (codes, s, wa2) — shared by refresh() and
        load_index() so the certified-envelope coefficient can never
        diverge between a built and a loaded handle."""
        np = self._np
        self.s2 = self.s * self.s
        self._wa2_32 = self.wa2.astype(np.float32)
        # dimension-dependent certified coefficient (see _SQ_F32_MARGIN)
        d_dim = int(self.codes.shape[1]) if self.codes.ndim == 2 else 0
        self._err32 = np.float32(_SQ_F32_MARGIN * (d_dim + 8) * 2.0 ** -24)

    def _exact_rows(self, rows, qw, wb2: float):
        """Float64 L2-expansion distances for a row subset, recomputed IN
        THE ORIGINAL CHUNK GEOMETRY: every candidate's GEMV runs over its
        full ``self._chunk``-aligned block, so shapes/slices equal a full
        float64 chunked scan and results are bit-identical BY CONSTRUCTION
        (BLAS dgemv picks shape-dependent reduction kernels — a gathered
        (C,D) matrix measured 1-ulp cross-term flips vs the same rows
        inside a (chunk,D) block, amplified ~50 ulps by the expansion's
        cancellation on near-duplicate rows)."""
        np = self._np
        n = len(self.ids)
        chunk = self._chunk
        if isinstance(rows, slice):
            cross = np.empty(n, np.float64)
            for lo in range(0, n, chunk):
                hi = min(lo + chunk, n)
                cross[lo:hi] = self.codes[lo:hi].astype(np.float64) @ qw
            wa2 = self.wa2
        else:
            cross = np.empty(len(rows), np.float64)
            for b in np.unique(rows // chunk):
                lo = int(b) * chunk
                hi = min(lo + chunk, n)
                blk = self.codes[lo:hi].astype(np.float64) @ qw
                mask = (rows >= lo) & (rows < hi)
                cross[mask] = blk[rows[mask] - lo]
            wa2 = self.wa2[rows]
        d2 = cross
        d2 *= -2.0
        d2 += wa2
        d2 += wb2
        np.maximum(d2, 0.0, out=d2)
        np.sqrt(d2, out=d2)
        return d2

    def search_one(self, qvec, k: int = 10):
        """Coarse SQ-L2 top-k for ONE query, distances identical to the
        batch path (float32 coarse scan certifies a candidate superset;
        candidates are recomputed with the batch path's exact float64
        expansion)."""
        np = self._np
        q = np.asarray(qvec, dtype=np.float64)
        scale = self.s * 255.0
        qc = np.floor(np.clip((q - self.minv) / scale * 255.0, 0.0, 255.0))
        qw = qc * self.s2
        wb2 = float((qc * qc * self.s2).sum())
        n = len(self.ids)
        m = min(k, n)
        if m == 0:
            return topk_tie_aware(np, self.ids[:0], np.empty(0, np.float64), k)
        if n <= 4 * k or n <= 2048:
            # tiny tier: phase-1 bookkeeping costs more than the scan
            return topk_tie_aware(
                np, self.ids, self._exact_rows(slice(None), qw, wb2), k
            )
        # phase 1: float32 coarse scan. einsum with a cast-dtype FUSES the
        # uint8→float32 widening into the dot's own buffered pass — one
        # read of the 12.8 MB code matrix instead of writing+re-reading a
        # 51 MB float image (the widen-then-GEMV loop measured 5.1 ms vs
        # 3.8 here, and it degraded faster under co-tenant cache
        # pressure). Coarse summation order is free to differ from BLAS:
        # the certified envelope below bounds ANY order.
        # scratch is allocated per call (3 × n float32 — small next to
        # the scan cost): handles are served from concurrent REST threads,
        # and shared preallocated buffers corrupted each other's envelopes
        # under reentrancy (r13, ADVICE low)
        qw32 = qw.astype(np.float32)
        codes = self.codes
        cross = np.empty(n, np.float32)
        np.einsum(
            "ij,j->i", codes, qw32, out=cross,
            dtype=np.float32, casting="unsafe",
        )
        # error envelope: every expansion term is non-negative, so
        # |d2_f32 − d2_f64| ≤ _err32 · (wa2 + 2·cross + wb2)
        env = np.empty(n, np.float32)
        np.multiply(cross, np.float32(2.0), out=env)
        env += self._wa2_32
        env += np.float32(wb2)
        env *= self._err32
        # d2_f32 in place of cross
        d2c = cross
        d2c *= np.float32(-2.0)
        d2c += self._wa2_32
        d2c += np.float32(wb2)
        # certified superset: rows whose lower bound reaches the k-th
        # smallest upper bound (boundary ties included by ≤); one
        # preallocated buffer serves as upper bounds, then (scrambled by
        # the in-place introselect — order is irrelevant past the k-th
        # statistic) is overwritten with the lower bounds
        upper = np.empty(n, np.float32)
        np.add(d2c, env, out=upper)
        upper.partition(m - 1)
        tau = upper[m - 1]
        np.subtract(d2c, env, out=upper)  # reuse: now the lower bounds
        cand = np.flatnonzero(upper <= tau)
        # phase 2: exact float64 recompute of the candidates only
        return topk_tie_aware(np, self.ids[cand], self._exact_rows(cand, qw, wb2), k)


class PqReplicaHandle(_ArraySnapshot):
    """Pre-resolved single-query path over the PQ code tier (ADC:
    per-subspace LUT + code gathers). Same refresh() contract; it resolves
    the same shard-tier entry as :func:`pq_replica_serve`, so
    codebooks/codes match the batch path bit-for-bit.

    Latency economics (measured at 100K×128, M=16): ~4 ms/query — M/2
    fancy-index gathers over FUSED uint16 pair codes per call (r11: two
    adjacent subspaces share one 64K-entry pair LUT, built per query as
    an outer sum of the two 256-entry tables — 256 KB, L2-resident —
    halving the gather passes; measured 6.4 → 3.9 ms vs the per-subspace
    loop, distances equal within float32 re-association). The
    subspace-major contiguous copy already bought 4-5× vs strided
    columns; batching amortizes to the ~1.4-2.4 ms/q bench row. Like SQ
    this is a capacity tier; bench publishes its batch row only."""

    __slots__ = (
        "_paths", "_kw", "_np", "_stat_key", "ids", "codes_t", "books", "books_sq", "_fused",
    )
    _SNAP_NAME, _SNAP_ARRAYS, _SNAP_FIELDS = "pq_index", ("ids", "codes_t", "books"), ("_kw",)

    def __init__(
        self,
        shard_paths: list[str],
        num_subspaces: int = 16,
        num_centroids: int = 256,
        *,
        id_col: str = "vec_id",
    ):
        import numpy as np

        self._np = np
        self._paths = list(shard_paths)
        self._kw = dict(num_subspaces=num_subspaces, num_centroids=num_centroids, id_col=id_col)
        self.refresh()

    def refresh(self) -> None:
        np = self._np
        entry = _pq_resolve(self._paths, **self._kw)
        if entry is None:
            raise shard_tier.EmptyShardSetError("empty shard set")
        self._stat_key, self.ids, codes, self.books = entry
        # subspace-major contiguous copy: the ADC loop gathers one
        # subspace's column per pass, and a strided (n, M) column walk
        # measured 4-5× slower than contiguous rows
        self.codes_t = np.ascontiguousarray(codes.T)
        self._finish_derived()

    def _finish_derived(self) -> None:
        """Fields derived from (codes_t, books) — shared by refresh() and
        load_index() so the fused-pair gather layout can never diverge
        between a built and a loaded handle."""
        np = self._np
        self.books_sq = (self.books * self.books).sum(2)
        # fused uint16 pair codes (same total bytes as codes_t): feeds the
        # pair-LUT gather path when M is even and K² fits uint16
        m, kc, _ = self.books.shape
        if m % 2 == 0 and kc * kc <= 65536:
            self._fused = np.ascontiguousarray(
                self.codes_t[0::2].astype(np.uint16) * kc
                + self.codes_t[1::2].astype(np.uint16)
            )
        else:
            self._fused = None

    def search_one(self, qvec, k: int = 10):
        """Coarse ADC top-k for ONE query: one (M, K) LUT, then M/2
        gathers over fused uint16 pair codes against per-pair outer-sum
        LUTs (or the per-subspace M-gather loop when fusing is off).
        Distances equal the batch path within float32 re-association
        (pairwise instead of sequential subspace adds)."""
        np = self._np
        m, kc, subd = self.books.shape
        q = np.asarray(qvec, dtype=np.float32)
        qsub = q.reshape(m, subd)
        lut = (
            (qsub * qsub).sum(1)[:, None]
            + self.books_sq
            - 2.0 * np.einsum("ms,mks->mk", qsub, self.books)
        )
        acc = np.zeros(len(self.ids), dtype=np.float32)
        if self._fused is not None:
            for p in range(m // 2):
                lut2 = (lut[2 * p][:, None] + lut[2 * p + 1][None, :]).ravel()
                acc += lut2[self._fused[p]]
        else:
            for mi in range(m):
                acc += lut[mi][self.codes_t[mi]]
        np.maximum(acc, 0.0, out=acc)
        np.sqrt(acc, out=acc)
        return topk_tie_aware(np, self.ids, acc, k)
