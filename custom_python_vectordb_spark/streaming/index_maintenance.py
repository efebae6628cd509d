"""Incremental search-index maintenance: keep BM25/TF-IDF state fresh as
documents stream in.

The reference rebuilds its in-RAM BM25 index on every corpus change
(``hybrid_search.py:49-204`` re-tokenizes on add); at 100 TB a rebuild per
ingest is impossible. The postings relation `(doc_id, term, tf)` is
ADDITIVE under append-only ingest — a new document contributes only its own
rows — so index maintenance is: per micro-batch, tokenize just the batch,
aggregate its postings, append them to the stored index. Everything else
BM25 needs derives from postings alone at query time:

    dl(doc)  = Σ_t tf(t, doc)      (token count = sum of term frequencies)
    df(term) = COUNT(docs per term)
    N, avgdl = aggregates over dl

so no second state table is required and the maintained index can never
drift from its corpus (one source of truth).

`bm25_from_postings` scores queries directly off the stored index — the
serving path never re-reads raw text. Equivalence with the from-scratch
build is asserted in tests/test_index_maintenance.py (same top-k, same
scores, after multi-batch ingest).

At scale: the per-batch postings aggregate is map-side combined within the
micro-batch; the append commits through the warehouse (atomic-rename or
versioned manifest — `sources/versioned.py` gives OCC + time travel, i.e.
the index itself is time-travelable alongside its corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from custom_python_vectordb_spark.operators.bm25 import B, K1, postings
from custom_python_vectordb_spark.functions.text import tokenize_py
from custom_python_vectordb_spark.functions.local_relation import local_df
from custom_python_vectordb_spark.streaming import batch_store

DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def read_document_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the documents table (file source; a production
    deployment points the same pipeline at a Kafka/queue source)."""
    return (
        spark.readStream.schema(DOC_SCHEMA)
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )


def maintain_postings(doc_stream: DataFrame, warehouse, name: str = "postings"):
    """foreachBatch writer: tokenize ONLY the micro-batch, aggregate its
    (doc_id, term, tf) rows, write them into the stored index keyed by
    batch_id. Append-only corpus ⇒ batches touch disjoint doc_ids ⇒ the
    union of per-batch postings IS the full rebuild (asserted in tests).

    foreachBatch is AT-LEAST-ONCE, so the write goes through the
    replay-safe batch store (`batch_store.py`): a post-failure replay of
    the same batch is a no-op instead of a silent tf/df/N inflation."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        warehouse.save_batch_partition(name, postings(batch_df), batch_id)

    return doc_stream.writeStream.foreachBatch(write_batch)


def load_postings(warehouse, name: str = "postings") -> DataFrame:
    """The maintained postings relation, bookkeeping column stripped."""
    return batch_store.read(warehouse.spark, warehouse.root, name)


def bm25_from_postings(
    post: DataFrame,
    query: str,
    k: int = 10,
    *,
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """BM25 top-k served directly from a maintained postings index — no raw
    text access. Identical formula/constants as operators/bm25.bm25_scores;
    dl/df/N/avgdl are derived from the index itself."""
    spark = post.sparkSession
    terms = tokenize_py(query)
    if not terms:
        return local_df(spark, [], f"{id_col} long, {score_col} double")
    qcounts: dict[str, int] = {}
    for t in terms:
        qcounts[t] = qcounts.get(t, 0) + 1
    q = local_df(spark, list(qcounts.items()), "term string, qn long")

    # same shape as operators/bm25.bm25_scores (round 5): postings restricted
    # to QUERY terms first (broadcast term join — at 100 TB the difference
    # between scanning the vocabulary and one query's postings; on a postings
    # table partitioned/bucketed by term this prunes at the scan), df(term)
    # via a map-side-combined groupBy whose query-term-sized RESULT is
    # broadcast back. post_q itself is NOT force-broadcast: it is one row per
    # (doc, query-term) — near index-sized for a stop-word query — so AQE
    # sizes the doc-length join at runtime (round-4 ADVICE #1).
    # dl/N/avgdl are whole-index aggregates by design (dl(doc) = Σ tf): the
    # documented one-source-of-truth trade; maintain a dl table beside the
    # postings if that scan ever dominates.
    post_q = post.join(F.broadcast(q), "term")
    df_tbl = post_q.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    post_q = post_q.join(F.broadcast(df_tbl), "term")
    dl = post.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl"))

    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    tf_part = (F.col("tf") * (K1 + 1)) / (
        F.col("tf") + K1 * (1 - B + B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        dl.join(post_q, id_col)
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.sum(F.col("qn") * idf * tf_part).alias(score_col))
    )
    return scored.orderBy(F.col(score_col).desc(), F.col(id_col).asc()).limit(k)
