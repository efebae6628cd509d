"""Incremental near-duplicate detection over streaming ingest.

The batch near-dup stack (wide MinHash signatures → banded LSH buckets →
Jaccard verify, `operators/dedup.py`) re-shingles the whole corpus per
run. At ingest scale the index must be INCREMENTAL: each micro-batch

1. computes signatures + band keys for ITS documents only (one pass over
   the batch's shingles — the corpus is never re-read),
2. probes the STORED band-key index for candidate partners among all
   previously ingested documents (equi-join on (band, band_key) — the
   exact bucket join the batch path uses, now new-vs-history instead of
   self),
3. exact-verifies candidates with shingle Jaccard over just the candidate
   pairs' texts, and
4. appends its own signatures/band keys (and its verified pairs) to the
   index through the replay-safe batch store (`streaming/batch_store.py`).

Within-batch duplicates are caught by the same probe (the batch's own
band keys are unioned into the probe side with `a < b` dedup), so the
result converges to exactly the batch path's pair set over the union of
all batches (asserted in tests).

Scale: per micro-batch cost is O(batch shingles) + one bucket join whose
history side is partitioned by band_key on disk; the stored index is
O(corpus × bands) small rows. No state store — idempotence and history
live in the table layout, so a crashed query resumes from its checkpoint
and overwrites its partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from custom_python_vectordb_spark.operators.dedup import (
    jaccard_pairs,
    lsh_band_keys,
    minhash_signatures_wide,
)
from custom_python_vectordb_spark.streaming import batch_store


def process_neardup_batch(
    batch_docs: DataFrame,
    batch_id: int,
    index_root: str,
    *,
    num_hashes: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """One micro-batch through the incremental near-dup index. Documents
    must carry (id, text); ids must be globally unique across batches
    (an ingest invariant, same as `index_maintenance.maintain_postings`)."""
    spark = batch_docs.sparkSession
    docs = batch_docs.select(id_col, text_col)
    wide = minhash_signatures_wide(
        docs, num_hashes=num_hashes, shingle_n=shingle_n, id_col=id_col, text_col=text_col
    )
    banded = lsh_band_keys(wide, bands=bands, rows_per_band=rows_per_band, id_col=id_col)
    with batch_store.persisted(banded):
        history = batch_store.history(spark, index_root, "bands", batch_id)
        probe = banded if history is None else history.unionByName(banded)
        cands = (
            banded.select(F.col(id_col).alias("__new"), "band", "band_key")
            .join(
                probe.select(F.col(id_col).alias("__other"), "band", "band_key"),
                ["band", "band_key"],
            )
            .filter(F.col("__new") != F.col("__other"))
            .select(
                F.least("__new", "__other").alias("a"), F.greatest("__new", "__other").alias("b")
            )
            .distinct()
        )
        # the band index stores no text: verification reads the stored docs
        # table (the one source of truth) plus this batch's texts
        docs_hist = batch_store.history(spark, index_root, "docs", batch_id)
        docs_all = docs if docs_hist is None else docs_hist.unionByName(docs)
        verified = jaccard_pairs(
            docs_all.dropDuplicates([id_col]),
            threshold=threshold,
            shingle_n=shingle_n,
            id_col=id_col,
            text_col=text_col,
            restrict_pairs=cands,
        )
        batch_store.commit(
            index_root, batch_id, {"pairs": verified}, {"bands": banded, "docs": docs}
        )


def maintain_neardup_index(doc_stream: DataFrame, index_root: str, **kwargs):
    """foreachBatch writer keeping the near-dup index current; start with
    ``.start()`` after configuring trigger/checkpoint."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        process_neardup_batch(batch_df, batch_id, index_root, **kwargs)

    return doc_stream.writeStream.foreachBatch(write_batch)


def load_neardup_pairs(spark: SparkSession, index_root: str) -> DataFrame:
    """All verified near-dup pairs found so far (distinct across batches —
    a pair discovered when its second member arrived is recorded once by
    that batch; a pair re-discovered by a replay overwrites in place)."""
    return batch_store.read(spark, index_root, "pairs").distinct()
