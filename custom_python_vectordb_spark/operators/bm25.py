"""BM25 keyword search and hybrid (vector + keyword) fusion.

Semantics parity with the reference (SURVEY.md §2 K6/A7/A8/D9/J9):

- ``BM25Index`` (``hybrid_search.py:49-204``): postings/stats are *derived
  state* re-expressed as DataFrames — `postings(doc, term, tf)` via
  explode+groupBy, `df(term)`, `dl(doc)`, scalars `(N, avgdl)`. No
  materialized inverted index: on a cluster the groupBy IS the index build,
  and it can be persisted as a Parquet postings table when reused.
- scoring (``hybrid_search.py:119-154``): idf = ln((N−df+0.5)/(df+0.5)+1),
  score = Σ_t q_count(t)·idf(t)·tf(k1+1)/(tf + k1(1−b+b·dl/avgdl)) with
  k1=1.5, b=0.75. Duplicate query terms contribute once per occurrence
  (the reference iterates the token list, not the set).
- hybrid fusion (``hybrid_search.py:360-477``): vector side normalized
  `1 − dist/max(dist)`, keyword side `score/max(score)`, candidates are the
  UNION of both lists (full-outer join, missing side = 0), combined =
  α·vec + (1−α)·kw, metadata filter applied AFTER fusion, then top-k desc.
  At test scale fetch_k ≥ N pins the reference's candidate-set-dependent
  normalization to the full corpus.

Scale notes: global max-normalizers are computed as 1-row aggregates
cross-joined back via broadcast (never a `Window.over()` with no partition,
which would single-thread the corpus). The tiny query-term set is a
broadcast join against postings, so BM25 scoring is one shuffle (the
groupBy doc) regardless of corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from custom_python_vectordb_spark.functions.distances import distance_expr
from custom_python_vectordb_spark.functions.text import tokenize, tokenize_py
from custom_python_vectordb_spark.functions.local_relation import local_df
from custom_python_vectordb_spark.operators import shard_tier
from custom_python_vectordb_spark.operators.topk import topk_positions

K1 = 1.5
B = 0.75


def tokens_df(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    return docs.select(F.col(id_col), tokenize(text_col).alias("toks"))


def postings(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, term, tf) — A8. explode + count = map-side-combined build."""
    return (
        tokens_df(docs, id_col, text_col)
        .select(F.col(id_col), F.explode("toks").alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def doc_lengths(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    return tokens_df(docs, id_col, text_col).select(F.col(id_col), F.size("toks").alias("dl"))


def corpus_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """1-row (n_docs, avgdl) — A7."""
    return doc_lengths(docs, id_col, text_col).agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )


def bm25_scores(
    docs: DataFrame,
    query: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    score_col: str = "score",
) -> DataFrame:
    """Score every doc containing ≥1 query term: (doc_id, score), score>0."""
    spark = docs.sparkSession
    terms = tokenize_py(query)
    if not terms:
        return local_df(spark, [], f"{id_col} long, {score_col} double")
    qcounts: dict[str, int] = {}
    for t in terms:
        qcounts[t] = qcounts.get(t, 0) + 1
    q = local_df(spark, list(qcounts.items()), "term string, qn long")

    # tokenize once: postings, doc lengths and stats all read the cached
    # token column instead of re-running the scan+regex per subtree
    toks = tokens_df(docs, id_col, text_col).persist()
    # Postings restricted to QUERY terms before any aggregation: the explode
    # streams, the broadcast join keeps only query-term occurrences, and the
    # (doc, term) groupBy aggregates orders of magnitude fewer rows than a
    # full postings build — at 100 TB this is the difference between
    # shuffling the whole vocabulary and shuffling one query's postings.
    post_q = (
        toks.select(F.col(id_col), F.explode("toks").alias("term"))
        .join(F.broadcast(q), "term")
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.min("qn").alias("qn"))
    )
    # df(term) = #docs containing term. A map-side-combined groupBy whose
    # RESULT is provably query-term-sized (≤ len(qcounts) rows) — that tiny
    # table is safe to broadcast back unconditionally. (The former
    # count-over-Window.partitionBy(term) shuffled every (doc, term) row to
    # a per-term partition: a stop-word term made one straggler partition
    # near corpus size. Partial aggregation ships only per-task counts.)
    df_tbl = post_q.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    post_q = post_q.join(F.broadcast(df_tbl), "term")
    dl = toks.select(F.col(id_col), F.size("toks").alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl"))

    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    tf_part = (F.col("tf") * (K1 + 1)) / (
        F.col("tf") + K1 * (1 - B + B * F.col("dl") / F.col("avgdl"))
    )
    # post_q is NOT force-broadcast: its size is the sum of the query terms'
    # document frequencies — near corpus-sized when the query contains a
    # stop word (the tokenizer drops none), so a broadcast hint here could
    # OOM the driver at scale (round-4 ADVICE #1). AQE sizes the join at
    # runtime: small post_q → broadcast-hash (dl streams map-side, the plan
    # the hint used to force); large post_q → shuffled join, which is then
    # genuinely required because every matching doc must be scored.
    return (
        dl.join(post_q, id_col)
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.sum(F.col("qn") * idf * tf_part).alias(score_col))
    )


def bm25_topk(
    docs: DataFrame, query: str, k: int = 10, round_to: int | None = None, **kw
) -> DataFrame:
    """K6 — candidates scored, sorted desc, truncated (``hybrid_search.py:
    156-179``). Tie-break by id for determinism. `round_to`: round the
    score BEFORE ranking — the score is a float sum whose last-ulp value
    is engine/aggregation-order dependent, so oracle-checked callers rank
    on the rounded quantity (the DuckDB alias ORDER BY semantics)."""
    id_col = kw.get("id_col", "doc_id")
    scored = bm25_scores(docs, query, **kw)
    if round_to is not None:
        scored = scored.withColumn("score", F.round("score", round_to) + F.lit(0.0))
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def rrf_fusion(
    corpus_vec: DataFrame,
    docs: DataFrame,
    query_vec: DataFrame,
    query_text: str,
    k: int = 10,
    fetch_k: int = 100,
    k0: int = 60,
    *,
    metric: str = "cosine",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion — the score-free alternative to weighted-sum
    hybrid (D9): each side contributes 1/(k0 + rank) for its top `fetch_k`,
    so no cross-source score normalization is needed (the standard remedy
    when BM25 and cosine magnitudes aren't comparable).

    Ranks are assigned WITHIN each side's top-fetch_k list (both engines
    state the same bounded list, so results value-hash-match). The global
    windows run AFTER a top-k truncation — ≤ fetch_k rows on one partition,
    never a corpus-wide single-partition sort."""
    from pyspark.sql import Window

    dist = distance_expr(metric, vec_col, "qvec").alias("dist")
    vtop = (
        corpus_vec.crossJoin(F.broadcast(query_vec))
        .select(F.col(vec_id_col).alias("id"), dist)
        .orderBy("dist", "id")
        .limit(fetch_k)
    )
    vrank = vtop.withColumn(
        "vr", F.row_number().over(Window.orderBy(F.col("dist").asc(), F.col("id").asc()))
    ).select("id", "vr")
    ktop = (
        bm25_scores(docs, query_text, id_col=doc_id_col)
        .orderBy(F.col("score").desc(), F.col(doc_id_col).asc())
        .limit(fetch_k)
    )
    krank = ktop.withColumn(
        "kr",
        F.row_number().over(Window.orderBy(F.col("score").desc(), F.col(doc_id_col).asc())),
    ).select(F.col(doc_id_col).alias("id"), "kr")
    fused = (
        vrank.join(krank, "id", "full_outer")
        .select(
            "id",
            (
                F.coalesce(1.0 / (F.lit(k0) + F.col("vr")), F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(k0) + F.col("kr")), F.lit(0.0))
            ).alias("score"),
        )
    )
    if round_to is not None:  # round-before-rank (see bm25_topk)
        fused = fused.withColumn("score", F.round("score", round_to) + F.lit(0.0))
    return fused.orderBy(F.col("score").desc(), F.col("id").asc()).limit(k)


def tfidf_scores(
    docs: DataFrame,
    query: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    score_col: str = "score",
) -> DataFrame:
    """Classic TF-IDF ranking (the pre-BM25 baseline every IR stack still
    exposes): score(q,d) = Σ_t qn(t) · tf(t,d) · ln(N / df(t)). Same plan
    shape as BM25 — broadcast query terms against postings, one doc-keyed
    shuffle — so the scale story is identical."""
    spark = docs.sparkSession
    terms = tokenize_py(query)
    if not terms:
        return local_df(spark, [], f"{id_col} long, {score_col} double")
    qcounts: dict[str, int] = {}
    for t in terms:
        qcounts[t] = qcounts.get(t, 0) + 1
    q = local_df(spark, list(qcounts.items()), "term string, qn long")

    post = postings(docs, id_col, text_col)
    dfreq = post.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.col(id_col)).agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.log(F.col("n_docs") / F.col("df"))
    return (
        post.join(F.broadcast(q), "term")
        .join(F.broadcast(dfreq.join(F.broadcast(q), "term", "left_semi")), "term")
        .crossJoin(F.broadcast(n_docs))
        .groupBy(id_col)
        .agg(F.sum(F.col("qn") * F.col("tf") * idf).alias(score_col))
    )


def tfidf_topk(
    docs: DataFrame, query: str, k: int = 10, round_to: int | None = None, **kw
) -> DataFrame:
    """TF-IDF candidates sorted desc, truncated; id tie-break (K8
    contract). `round_to` ranks on the rounded score (see bm25_topk —
    the r7 sf0.001 probe caught exactly this query picking different
    members of a rounded tie at the k boundary)."""
    id_col = kw.get("id_col", "doc_id")
    scored = tfidf_scores(docs, query, **kw)
    if round_to is not None:
        scored = scored.withColumn("score", F.round("score", round_to) + F.lit(0.0))
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def hybrid_search(
    corpus_vec: DataFrame,
    docs: DataFrame,
    query_vec: DataFrame,
    query_text: str,
    k: int = 10,
    alpha: float = 0.5,
    *,
    metric: str = "cosine",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    post_filter: Column | None = None,
    filter_source: DataFrame | None = None,
    round_to: int | None = None,
    filter_mode: str = "post",
) -> DataFrame:
    """D9/J9 — fused ranking over the union of vector and keyword candidates.

    `query_vec` is a 1-row (qvec) DataFrame so the query embedding never
    round-trips through the driver. `post_filter` + `filter_source` (a
    DataFrame with doc_id_col + the filtered metadata columns) scope the
    results; `filter_mode`:

    - 'post' (default) — reference parity: filter AFTER fusion
      (``hybrid_search.py:455-460``), normalization computed over the
      unfiltered candidate sets (its acknowledged asymmetry).
    - 'pre' — the corrected semantics: both branches restricted BEFORE
      scoring, so normalizers come from the filtered population and heavy
      filters cannot starve results.
    """
    if filter_mode not in ("post", "pre"):
        raise ValueError(f"filter_mode must be post|pre, got {filter_mode!r}")
    if filter_mode == "pre" and post_filter is not None and filter_source is not None:
        allowed = filter_source.filter(post_filter)
        corpus_vec = corpus_vec.join(
            allowed.select(F.col(doc_id_col).alias(vec_id_col)), vec_id_col, "left_semi"
        )
        docs = docs.join(allowed.select(doc_id_col), doc_id_col, "left_semi")
        post_filter = None  # already applied
    dist = distance_expr(metric, vec_col, "qvec")
    vec_scored = (
        corpus_vec.crossJoin(F.broadcast(query_vec))
        .select(F.col(vec_id_col).alias("id"), dist.alias("dist"))
    )
    if not query_text or not tokenize_py(query_text):
        # no-text fallback (hybrid_search.py:398-411): pure vector ranking
        # shaped as fusion output — score = raw distance-as-score contract
        # is kept as (vector_score, keyword_score=0, score=vector_score)
        out = (
            vec_scored.crossJoin(F.broadcast(vec_scored.agg(F.max("dist").alias("max_dist"))))
            .select(
                "id",
                F.when(F.col("max_dist") > 0, 1.0 - F.col("dist") / F.col("max_dist"))
                .otherwise(F.lit(1.0))
                .alias("vector_score"),
            )
            .withColumn("keyword_score", F.lit(0.0))
            .withColumn("score", F.col("vector_score"))
        )
        if post_filter is not None and filter_source is not None:
            out = out.join(
                filter_source.filter(post_filter).select(F.col(doc_id_col).alias("id")),
                "id",
                "left_semi",
            )
        if round_to is not None:  # round-before-rank, see fused path below
            for c in ("score", "vector_score", "keyword_score"):
                out = out.withColumn(c, F.round(F.col(c), round_to) + F.lit(0.0))
        return out.orderBy(F.col("score").desc(), F.col("id").asc()).limit(k)
    kw_scored = bm25_scores(docs, query_text, id_col=doc_id_col, text_col=text_col).select(
        F.col(doc_id_col).alias("id"), F.col("score").alias("kscore")
    )
    # One pass computes BOTH branch normalizers and one groupBy fuses the
    # branches: tag-union the raw scores, take the per-branch max in a
    # single 1-row aggregate (broadcast back), then pivot per id. This
    # replaces round-3's plan — two independent max-broadcast subtrees plus
    # a full-outer join — with one normalizer job and one id-keyed shuffle;
    # the persist stops the vector/keyword branches re-executing under the
    # normalizer subtree (and warms repeat invocations of the same plan).
    tagged = vec_scored.select(
        "id", F.lit("v").alias("b"), F.col("dist").alias("x")
    ).unionByName(kw_scored.select("id", F.lit("k").alias("b"), F.col("kscore").alias("x")))
    tagged = tagged.persist()
    norms = tagged.agg(
        F.max(F.when(F.col("b") == "v", F.col("x"))).alias("max_dist"),
        F.max(F.when(F.col("b") == "k", F.col("x"))).alias("max_k"),
    )
    pivoted = tagged.groupBy("id").agg(
        F.max(F.when(F.col("b") == "v", F.col("x"))).alias("dist"),
        F.max(F.when(F.col("b") == "k", F.col("x"))).alias("kscore"),
    )
    # missing branch ⇒ 0.0, exactly the full-outer COALESCE semantics; the
    # null guard comes FIRST so the max_dist<=0 fallback of 1.0 can never
    # leak onto an id the vector branch did not score
    vector_score = (
        F.when(F.col("dist").isNull(), F.lit(0.0))
        .when(F.col("max_dist") > 0, 1.0 - F.col("dist") / F.col("max_dist"))
        .otherwise(F.lit(1.0))
    )
    keyword_score = (
        F.when(F.col("kscore").isNull(), F.lit(0.0))
        .when(F.col("max_k") > 0, F.col("kscore") / F.col("max_k"))
        .otherwise(F.lit(0.0))
    )
    fused = (
        pivoted.crossJoin(F.broadcast(norms))
        .select(
            "id",
            vector_score.alias("vector_score"),
            keyword_score.alias("keyword_score"),
        )
        .withColumn("score", alpha * F.col("vector_score") + (1 - alpha) * F.col("keyword_score"))
    )
    if post_filter is not None:
        if filter_source is not None:
            fused = fused.join(
                filter_source.filter(post_filter).select(F.col(doc_id_col).alias("id")),
                "id",
                "left_semi",
            )
        else:
            fused = fused.filter(post_filter)
    # round BEFORE ranking: the score is a float SUM whose last-ulp value
    # differs between engines (aggregation order), so rank/display must use
    # the same rounded quantity with the id tie-break — exactly what the
    # DuckDB oracles' output-alias ORDER BY does (r7: sf0.001 caught
    # tfidf_topk picking different members of a rounded tie at the k
    # boundary)
    if round_to is not None:
        for c in ("score", "vector_score", "keyword_score"):
            fused = fused.withColumn(c, F.round(F.col(c), round_to) + F.lit(0.0))
    return fused.orderBy(F.col("score").desc(), F.col("id").asc()).limit(k)


def weights_to_alpha(vector_weight: float, keyword_weight: float) -> float:
    """``hybrid_search.py:393-395``."""
    total = vector_weight + keyword_weight
    return vector_weight / total if total > 0 else 0.5


# ------------------------------------------------- in-process keyword replica

def _load_texts(paths, id_col: str, text_col: str, max_bytes: int, plan: str):
    """(ids, texts) decoded from the shard files; raw text above
    `max_bytes` raises ReplicaCapacityError toward the declarative `plan`."""
    import pyarrow.parquet as _pq

    ids: list = []
    texts: list = []
    for p in paths:
        if text_col not in _pq.read_schema(p).names:
            raise ValueError(f"shard {p} has no {text_col!r} column")
        tbl = _pq.read_table(p, columns=[id_col, text_col])
        if tbl.num_rows == 0:
            continue
        ids.extend(tbl.column(id_col).to_pylist())
        texts.extend(tbl.column(text_col).to_pylist())
    if sum(len(t or "") for t in texts) > max_bytes:
        from custom_python_vectordb_spark.operators.knn import ReplicaCapacityError

        raise ReplicaCapacityError(
            f"decoded corpus text exceeds max_bytes {max_bytes >> 20} MiB: "
            f"serve from the declarative plan ({plan})"
        )
    return ids, texts


def _keyword_index(shard_paths, id_col: str, text_col: str, max_bytes: int):
    """The BM25 replica of a shard set through the shard tier: (ids as an
    object array, {term: (doc positions, tf)}, doc lengths, avgdl)."""

    def build(paths, _sk):
        import numpy as np

        ids, texts = _load_texts(paths, id_col, text_col, max_bytes, "bm25_topk")
        dl = np.zeros(len(ids), dtype=np.float64)
        acc: dict[str, dict[int, int]] = {}
        for idx, text in enumerate(texts):
            toks = tokenize_py(text or "")
            dl[idx] = len(toks)
            counts: dict[str, int] = {}
            for t in toks:
                counts[t] = counts.get(t, 0) + 1
            for t, tf in counts.items():
                acc.setdefault(t, {})[idx] = tf
        inv = {
            t: (
                np.fromiter(d.keys(), dtype=np.int64, count=len(d)),
                np.fromiter(d.values(), dtype=np.float64, count=len(d)),
            )
            for t, d in acc.items()
        }
        # object array: fancy-indexable for the top-k, and its elements
        # stay the decoded Python ids (JSON-ready)
        ids = np.array(ids, dtype=object)
        return (ids, inv, dl, float(dl.mean()) if len(ids) else 0.0)

    return shard_tier.resolve("keyword", shard_paths, (id_col, text_col), build)


def keyword_replica_serve(
    shard_paths: list[str],
    query: str,
    k: int = 10,
    *,
    id_col: str = "id",
    text_col: str = "_document",
    max_bytes: int = 512 << 20,
) -> list[tuple]:
    """In-process BM25 serving twin of :func:`bm25_topk` — the keyword
    analog of ``knn.knn_replica_serve``, mirroring the reference's own
    in-RAM inverted index (``hybrid_search.py:49-204``: `BM25Index` holds
    postings/doc-lengths in process and answers without any job). Shards
    are decoded ONCE into (inverted index, doc-length vector); a query is
    answered by per-term numpy score accumulation + top-k — microseconds
    to low milliseconds, no Spark job on the hot path. Tokenization uses
    ``tokenize_py``, the exact driver-side twin of the JVM tokenizer;
    identical ranking and (to float tolerance) scores vs `bm25_topk` are
    asserted in tests. The index is a shard-tier entry, rebuilt on any
    shard (path, mtime, size) change like the vector replica; raw-text
    bytes above `max_bytes` raise toward the declarative plan instead of
    OOM-ing the serving node."""
    import numpy as np

    ids, scores = keyword_score_vector(
        shard_paths, query, id_col=id_col, text_col=text_col, max_bytes=max_bytes
    )
    cand = np.flatnonzero(scores > 0)
    # (score desc, id) top-k among the scored docs; bit-identical
    # accumulations tie exactly and break by id across the k-th boundary
    top = cand[topk_positions(np, ids[cand], -scores[cand], k)]
    return [(ids[i], float(scores[i])) for i in top]


def keyword_score_vector(
    shard_paths: list[str],
    query: str,
    *,
    id_col: str = "id",
    text_col: str = "_document",
    max_bytes: int = 512 << 20,
):
    """(ids, scores) for ONE query over every replica row (0.0 for docs
    with no query term) — the full-vector form hybrid fusion needs for its
    corpus-wide max normalizer, and the scoring behind
    :func:`keyword_replica_serve`."""
    import math

    import numpy as np

    ids, inv, dl, avgdl = _keyword_index(shard_paths, id_col, text_col, max_bytes)
    n_docs = len(ids)
    scores = np.zeros(n_docs, dtype=np.float64)
    qcounts: dict[str, int] = {}
    for t in tokenize_py(query):
        qcounts[t] = qcounts.get(t, 0) + 1
    for t, qn in qcounts.items():
        hit = inv.get(t)
        if hit is None:
            continue
        idxs, tf = hit
        df = len(idxs)
        idf = math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        scores[idxs] += qn * idf * tf * (K1 + 1) / (tf + K1 * (1 - B + B * dl[idxs] / avgdl))
    return ids, scores


def phrase_search(
    docs: DataFrame,
    phrase: str,
    k: int = 10,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact phrase search over positional postings — the IR capability a
    bag-of-words BM25 cannot express (the reference's keyword layer is
    BOW-only; this is the standard positional-index extension). One-join
    formulation instead of an m-way self-join: every occurrence of a
    phrase term at position p proposes phrase-start ``p − offset``; a
    true match is a (doc, start) whose DISTINCT offsets cover the whole
    phrase, so the plan is

        positional explode → broadcast phrase-term join (postings pruned
        to the phrase's terms before any shuffle) → ONE map-side-combined
        groupBy (doc, start) with count_distinct(offset) = len(phrase)
        → per-doc match counts → top-k.

    Duplicate phrase terms are handled by construction (each offset must
    be covered by its own position). Returns (id, n_matches) ranked by
    matches desc, id asc."""
    spark = docs.sparkSession
    terms = tokenize_py(phrase)
    if not terms:
        return local_df(spark, [], f"{id_col} long, n_matches long")
    tl = local_df(
        spark, [(i, t) for i, t in enumerate(terms)], "off int, term string"
    )
    post = tokens_df(docs, id_col, text_col).select(
        id_col, F.posexplode("toks").alias("pos", "term")
    )
    starts = post.join(F.broadcast(tl), "term").select(
        id_col, (F.col("pos") - F.col("off")).alias("start"), "off"
    )
    hits = (
        starts.groupBy(id_col, "start")
        .agg(F.count_distinct("off").alias("n_off"))
        .filter(F.col("n_off") == len(terms))
    )
    return (
        hits.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_matches"))
        .orderBy(F.desc("n_matches"), F.asc(id_col))
        .limit(k)
    )


def phrase_replica_serve(
    shard_paths: list[str],
    phrase: str,
    k: int = 10,
    *,
    id_col: str = "id",
    text_col: str = "_document",
    max_bytes: int = 512 << 20,
) -> list[tuple]:
    """In-process serving twin of :func:`phrase_search` — a POSITIONAL
    inverted index resident in RAM (term → encoded (doc, position) key
    array), answered by numpy sorted-set intersection: occurrences of
    term_i shifted by −i must all contain the same (doc, start) key, so
    the phrase match set is m−1 intersect1d calls over presorted arrays,
    and per-doc counts one bincount. Identical results to the
    declarative plan (asserted in tests); same shard-tier coherence and
    capacity behavior as the keyword replica."""
    import numpy as np

    def build(paths, _sk):
        ids, texts = _load_texts(paths, id_col, text_col, max_bytes, "phrase_search")
        maxlen = 1
        tok_lists = [tokenize_py(t or "") for t in texts]
        for toks in tok_lists:
            maxlen = max(maxlen, len(toks) + 1)
        acc: dict[str, list] = {}
        for d, toks in enumerate(tok_lists):
            base = d * maxlen
            for p_i, t in enumerate(toks):
                acc.setdefault(t, []).append(base + p_i)
        index = {
            t: np.array(v, dtype=np.int64) for t, v in acc.items()  # built sorted
        }
        doc_lens = np.array([len(t) for t in tok_lists], dtype=np.int64)
        return (ids, index, maxlen, doc_lens)

    ids, index, maxlen, doc_lens = shard_tier.resolve(
        "phrase", shard_paths, (id_col, text_col), build
    )
    terms = tokenize_py(phrase)
    if not terms or not ids:
        return []
    # phrase longer than any doc's span cannot wrap into the next doc:
    # maxlen > doc length guarantees shifted keys stay inside the doc block
    if len(terms) >= maxlen:
        return []
    starts = None
    for i, t in enumerate(terms):
        occ = index.get(t)
        if occ is None:
            return []
        shifted = occ - i if i else occ
        starts = shifted if starts is None else np.intersect1d(starts, shifted, assume_unique=True)
        if len(starts) == 0:
            return []
    # a shifted key can underflow into the previous doc's block when a
    # phrase term occurs near a doc start; a GENUINE match must fit inside
    # its doc, so bound-check start position + phrase length per doc
    dd = starts // maxlen
    sp = starts % maxlen
    ok = sp + len(terms) <= doc_lens[dd]
    counts: dict[int, int] = {}
    for d in dd[ok].tolist():
        counts[d] = counts.get(d, 0) + 1
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], ids[kv[0]]))[:k]
    return [(ids[d], n) for d, n in ranked]
