"""Incremental SemDeDup over streaming embedding ingest.

The batch operator (`queries/pipeline.semdedup_keep`) re-assigns and
re-joins the whole corpus per run. At ingest scale the semantic-dedup
index must be INCREMENTAL, mirroring `neardup_maintenance.py`:

1. each micro-batch assigns ITS vectors to cells (map-only Arrow-batch
   GEMM argmin against FIXED centroids — production SemDeDup trains
   centroids once on a seed sample, then holds them fixed for ingest so
   cell membership is stable);
2. probes the STORED cell index for within-cell cosine partners among
   everything previously ingested (cluster-keyed shuffle — exactly the
   batch path's only one — then a per-cell GEMM of all members against
   the batch's new subset, new-vs-history instead of self);
3. records the HIGHER id of every >= tau pair as a loser (the batch
   path's min-id-representative rule: a pair discovered when its second
   member arrives yields the same loser the batch join would, even when
   the newcomer has the SMALLER id — then the historical partner is the
   loser);
4. appends its (vec_id, cluster, embedding) rows and its loser ids
   through the replay-safe batch store (`streaming/batch_store.py`).

Convergence to the batch operator's keep set over the union of all
batches — including cross-batch near-duplicates and replays — is
asserted in tests.

Scale: per-batch cost is one map-only assignment over the batch plus a
cluster-keyed join whose history side is partition-pruned by the batch's
own cells; state lives in the table layout (no state store), so a
crashed query resumes from its checkpoint and overwrites its partition.
The stored index is the corpus itself bucketed by cell — the same
layout `write_ivf_layout` uses for ANN serving, so one ingest pipeline
feeds both.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from custom_python_vectordb_spark.operators.similarity import assign_cells_gemm
from custom_python_vectordb_spark.streaming import batch_store


def process_semdedup_batch(
    batch_vecs: DataFrame,
    batch_id: int,
    index_root: str,
    centroids: DataFrame,
    *,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """One micro-batch through the incremental semantic-dedup index.
    Ids must be globally unique across batches (ingest invariant, as in
    the other maintenance sinks). `centroids`: (cluster, cvec), fixed
    across the stream's lifetime."""
    spark = batch_vecs.sparkSession
    # GEMM assignment (parity-checked twin of the declarative argmin):
    # ingest batches can be arbitrarily large, and interpreted argmin is
    # O(rows·cells·dim) interpreter steps
    assigned = assign_cells_gemm(
        batch_vecs.select(id_col, vec_col), centroids, id_col=id_col, vec_col=vec_col
    )
    with batch_store.persisted(assigned):
        history = batch_store.history(spark, index_root, "cells", batch_id)
        probe = assigned.withColumn("__new", F.lit(True))
        if history is not None:
            probe = history.withColumn("__new", F.lit(False)).unionByName(probe)

        # per-cell GEMM of all members against the NEW subset (the batch
        # path's within_cell_neardup_losers shape, restricted to pairs that
        # involve at least one new member — history-history pairs were
        # resolved when their second member arrived). Vectorized BLAS on the
        # cluster-keyed shuffle; the declarative join's per-pair array folds
        # are interpreter-bound.
        def find(pdf):
            import numpy as np
            import pandas as pd

            ids = pdf[id_col].to_numpy()
            newm = pdf["__new"].to_numpy(dtype=bool)
            if len(ids) < 2 or not newm.any():
                return pd.DataFrame({id_col: np.empty(0, dtype=np.int64)})
            mat = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            nrm = np.linalg.norm(mat, axis=1, keepdims=True)
            mat = mat / np.where(nrm == 0, 1.0, nrm)
            sims = mat @ mat[newm].T  # (members, new)
            nid = ids[newm]
            mi, bj = np.nonzero(sims >= threshold)
            keep = ids[mi] != nid[bj]
            losers = np.unique(np.maximum(ids[mi[keep]], nid[bj[keep]]))
            return pd.DataFrame({id_col: losers})

        losers = (
            probe.select("cluster", id_col, vec_col, "__new")
            .groupBy("cluster")
            .applyInPandas(find, schema=f"{id_col} long")
            .distinct()
        )
        batch_store.commit(index_root, batch_id, {"losers": losers}, {"cells": assigned})


def maintain_semdedup_index(
    vec_stream: DataFrame, index_root: str, centroids: DataFrame, **kwargs
):
    """foreachBatch writer keeping the semantic-dedup index current;
    configure trigger/checkpoint then ``.start()``."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        process_semdedup_batch(batch_df, batch_id, index_root, centroids, **kwargs)

    return vec_stream.writeStream.foreachBatch(write_batch)


def load_semdedup_keep(
    spark: SparkSession, index_root: str, id_col: str = "vec_id"
) -> DataFrame:
    """(vec_id, cluster) kept so far: everything ingested minus recorded
    losers — converges to `semdedup_keep`'s batch semantics over the
    union of all batches."""
    kept = batch_store.read(spark, index_root, "cells").select(id_col, "cluster")
    losers = batch_store.history(spark, index_root, "losers", None)
    if losers is None:
        return kept
    return kept.join(losers.select(id_col).distinct(), id_col, "left_anti")


def load_balanced_sample(
    spark: SparkSession, index_root: str, cap: int = 32, id_col: str = "vec_id"
) -> DataFrame:
    """Ingest-time cluster-balanced subsample OFF the maintained index —
    the streaming face of `cluster_balanced_sample` (dedup → balance, the
    curation order): per cell, keep ≤ `cap` of the KEPT (post-dedup)
    members by the deterministic `hash48` order (unique id tie-break).
    The same stored cells feed dedup, balancing, and ANN serving — one
    ingest pipeline, three consumers. Membership rebalances as low-hash
    rows arrive (an admitted row can later leave the sample: the VIEW is
    the contract, exactly the rollup-view semantics), and the per-cell
    rank compiles to WindowGroupLimit over the cluster-keyed store, so
    the read never materializes more than the store's rows and limits
    partition-locally before the shuffle."""
    from pyspark.sql import Window

    from custom_python_vectordb_spark.functions.hashing import hash48

    kept = load_semdedup_keep(spark, index_root, id_col)
    w = Window.partitionBy("cluster").orderBy(
        hash48(F.col(id_col).cast("string")).asc(), F.col(id_col).asc()
    )
    return (
        kept.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= cap)
        .select(id_col, "cluster")
    )
