"""Streaming maintenance of the IVF layout-as-index.

Ties the vector-index story end to end: the cell-partitioned corpus
layout (`operators/similarity.write_ivf_layout`) is not a one-shot
artifact but a TABLE KEPT FRESH BY A STREAM — new vectors arrive, get
their map-only nearest-centroid assignment, and land inside their cell's
directory partition. Readers need no coordination:

- `knn_ivf_pruned` reads the directory and still partition-prunes on
  `cluster` (the partitionBy order keeps `cluster=` as the top-level
  directory level);
- the serving replica (`operators/knn.knn_replica_serve`) keys its cache
  on shard (path, mtime, size), so a refreshed glob of the layout picks
  up new batch files on the next request automatically.

Replay safety (the reference's realtime layer has no durable index)
comes from the batch store (`streaming/batch_store.py`): each
micro-batch owns its ``batch_id=<n>`` sub-partitions, so a post-failure
replay overwrites instead of duplicating vectors.

Scale: assignment is the broadcast-argmin projection (corpus never
shuffles); the write's one shuffle clusters files by cell. State on the
streaming side is zero — idempotence lives in the directory layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from custom_python_vectordb_spark.operators.similarity import with_ivf_cluster
from custom_python_vectordb_spark.streaming import batch_store


def write_ivf_batch(
    batch_df: DataFrame,
    batch_id: int,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Assign the micro-batch to cells and land it in the layout,
    replay-idempotent (``cluster=<c>/batch_id=<n>/`` partitions; the
    layout is `path` itself, hence the empty table name)."""
    assigned = with_ivf_cluster(batch_df, centroids, id_col, vec_col).repartition("cluster")
    batch_store.write(assigned, path, "", batch_id, "cluster")


def maintain_ivf_layout(
    vec_stream: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """foreachBatch writer keeping the IVF layout current with a vector
    stream; start with ``.start()`` after configuring trigger/checkpoint."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_ivf_batch(batch_df, batch_id, centroids, path, id_col, vec_col)

    return vec_stream.writeStream.foreachBatch(write_batch)


def load_ivf_layout(spark, path: str) -> DataFrame:
    """The maintained layout, bookkeeping column stripped; `cluster` stays
    (it is the probe/prune key)."""
    return batch_store.read(spark, path, "")
