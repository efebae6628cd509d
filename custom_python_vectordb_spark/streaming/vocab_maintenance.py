"""Incremental vocabulary maintenance: word counts over streaming ingest,
feeding BPE tokenizer (re)training without re-reading the corpus.

`operators/bpe.py`'s stage 1 — the ONLY corpus-scale pass of tokenizer
training — is a word-count aggregate, which is ADDITIVE: per-batch
partials merge by sum. So the maintenance sink is the rollup pattern
(`rollup_maintenance.py`): each micro-batch writes its own word-count
partial under a ``batch_id=<n>`` partition of the replay-safe batch
store (`batch_store.py`), and the merged view is one groupBy-sum over partials
whose size is O(batches × distinct-words-per-batch), never the raw text.
Retraining the tokenizer after more data lands is then merge-rounds-only
work on the maintained table: `train_bpe(load_word_counts(...))`.

Convergence (streamed counts == batch `word_counts` over the union, and
the merges trained from them == the merges trained from scratch) is
asserted in tests, including after a replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from custom_python_vectordb_spark.functions.text import tokenize
from custom_python_vectordb_spark.streaming import batch_store


def process_vocab_batch(
    batch_docs: DataFrame,
    batch_id: int,
    root: str,
    text_col: str = "text",
) -> None:
    """Aggregate ONE micro-batch's word counts and write the partial
    under its batch_id partition (map-side combinable; replay overwrites
    its own partition)."""
    partial = (
        batch_docs.select(F.explode(tokenize(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    batch_store.write(partial, root, "vocab", batch_id)


def maintain_vocab(doc_stream: DataFrame, root: str, **kwargs):
    """foreachBatch writer; configure trigger/checkpoint then ``.start()``."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        process_vocab_batch(batch_df, batch_id, root, **kwargs)

    return doc_stream.writeStream.foreachBatch(write)


def load_word_counts(
    spark: SparkSession,
    root: str,
    min_freq: int = 1,
    top_words: int | None = None,
) -> DataFrame:
    """The maintained (word, freq) view — one sum over stored partials,
    with the same `min_freq`/`top_words` contract (deterministic
    freq-desc, word-asc cap) as `operators/bpe.word_counts`, so
    `train_bpe` consumes either interchangeably."""
    w = (
        batch_store.read(spark, root, "vocab")
        .groupBy("word")
        .agg(F.sum("freq").alias("freq"))
        .filter(F.col("freq") >= min_freq)
    )
    if top_words is not None:
        w = w.orderBy(F.desc("freq"), "word").limit(top_words)
    return w
