"""Incremental substring-span dedup over streaming ingest.

The streaming twin of ``operators/spans.py`` (same relationship
``streaming/neardup_maintenance.py`` has to the batch MinHash/LSH stack):
each micro-batch

1. computes positional gram hashes for ITS documents only — history is
   never re-tokenized;
2. probes the STORED gram index for matches against all prior documents
   (the same gram_h equi-join the batch path uses, new-vs-history instead
   of self; the batch's own grams are unioned in so within-batch pairs
   surface too);
3. collapses matches into maximal shared runs (shared
   ``spans_from_matches`` plan) and records pairs with a run >=
   `min_span`;
4. appends its grams / per-gram document frequencies / found pairs
   through the replay-safe batch store (`streaming/batch_store.py`).

Boilerplate capping is incremental too: per-batch gram document
frequencies are stored as deltas (document ids never repeat across
batches — the ingest invariant), and each batch excludes grams whose
CUMULATIVE df exceeds `max_df` from both join sides. Convergence to the
batch operator's exact pair set holds whenever no gram's cumulative df
crosses `max_df` mid-stream (asserted in tests); a gram that does cross
is excluded from later batches only — i.e. the cap is applied with the
knowledge available at discovery time, the honest streaming semantics.

Scale: per-batch cost is O(batch grams) + one bucket join against a
gram_h-keyed history table; no state store — idempotence and history
live in the table layout, so a crashed query resumes from its checkpoint
and overwrites its own partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from custom_python_vectordb_spark.operators.spans import (
    positional_gram_hashes,
    spans_from_matches,
)
from custom_python_vectordb_spark.streaming import batch_store


def process_span_batch(
    batch_docs: DataFrame,
    batch_id: int,
    index_root: str,
    *,
    n: int = 5,
    max_df: int = 16,
    min_span: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """One micro-batch through the incremental span index. Document ids
    must be globally unique across batches (ingest invariant shared with
    `index_maintenance.maintain_postings`)."""
    spark = batch_docs.sparkSession
    docs = batch_docs.select(id_col, text_col)
    grams_b = positional_gram_hashes(docs, n=n, id_col=id_col, text_col=text_col)
    with batch_store.persisted(grams_b):
        # cumulative per-gram document frequency = stored deltas + this batch
        df_b = grams_b.groupBy("gram_h").agg(F.count_distinct("doc_id").alias("df"))
        df_hist = batch_store.history(spark, index_root, "gramdf", batch_id)
        df_all = df_b if df_hist is None else df_hist.unionByName(df_b)
        hot = (
            df_all.groupBy("gram_h")
            .agg(F.sum("df").alias("df"))
            .filter(F.col("df") > max_df)
            .select("gram_h")
        )
        history = batch_store.history(spark, index_root, "grams", batch_id)
        probe = grams_b if history is None else history.unionByName(grams_b)

        new_side = grams_b.join(hot, "gram_h", "left_anti").select(
            F.col("doc_id").alias("doc_n"), F.col("pos").alias("pos_n"), "gram_h"
        )
        probe_side = probe.join(hot, "gram_h", "left_anti").select(
            F.col("doc_id").alias("doc_o"), F.col("pos").alias("pos_o"), "gram_h"
        )
        # normalize roles to (doc_a < doc_b); a both-new pair matches in both
        # directions and normalizes to identical rows — distinct() restores the
        # duplicate-free contract spans_from_matches requires
        matches = (
            new_side.join(probe_side, "gram_h")
            .filter(F.col("doc_n") != F.col("doc_o"))
            .select(
                F.least("doc_n", "doc_o").alias("doc_a"),
                F.greatest("doc_n", "doc_o").alias("doc_b"),
                F.when(F.col("doc_n") < F.col("doc_o"), F.col("pos_n"))
                .otherwise(F.col("pos_o"))
                .alias("pos_a"),
                (
                    F.when(F.col("doc_n") < F.col("doc_o"), F.col("pos_n") - F.col("pos_o"))
                    .otherwise(F.col("pos_o") - F.col("pos_n"))
                ).alias("diag"),
            )
            .distinct()
        )
        found = spans_from_matches(matches, n, min_span)
        batch_store.commit(
            index_root, batch_id, {"spans": found}, {"grams": grams_b, "gramdf": df_b}
        )


def maintain_span_index(doc_stream: DataFrame, index_root: str, **kwargs):
    """foreachBatch writer keeping the span index current; configure
    trigger/checkpoint then ``.start()``."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        process_span_batch(batch_df, batch_id, index_root, **kwargs)

    return doc_stream.writeStream.foreachBatch(write_batch)


def load_span_pairs(spark: SparkSession, index_root: str) -> DataFrame:
    """All span pairs found so far. A pair is recorded by the batch that
    ingested its later member (or the batch holding both); replays
    overwrite in place, so a max-aggregate per pair is a no-op dedup."""
    return (
        batch_store.read(spark, index_root, "spans")
        .groupBy("doc_a", "doc_b")
        .agg(
            F.max("max_span_tokens").alias("max_span_tokens"),
            F.max("n_spans").alias("n_spans"),
        )
    )
