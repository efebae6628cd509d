"""The replay-safe batch store behind every incremental streaming index.

The dedup, linkage, span, vocabulary, rollup and IVF-layout maintainers
are foreachBatch sinks, and foreachBatch is at-least-once: a failed or
restarted query replays a batch it may already have written. Each index
is a set of tables ``<root>/<name>``, and this module is the one place
that writes, discovers and reads them. The replay contract:

- **Partition layout.** A batch writes every table under its own
  ``batch_id=<n>`` partition with dynamic partition overwrite, so a
  replay overwrites its partition instead of appending duplicates.
- **History.** A batch's history is every stored batch but its own: a
  replay must not read its about-to-be-overwritten rows as history. The
  history is found through Spark, so an index root may be any
  Hadoop-filesystem URI (``file://``, ``hdfs://``, ``s3a://``). Only an
  ``AnalysisException`` (nothing readable stored at the path) means "no
  history"; any other error propagates, so the batch fails and is
  retried instead of silently losing its cross-batch matches.
- **Commit order.** Outputs whose plans may lazily read history are
  written before the index tables they read: each write is the action
  that runs its plan, and writing an index table first would replace
  files under a plan that has not run yet.
- **Persist ownership.** A frame the batch persists is unpersisted when
  the batch ends, also when a write raises: every failed attempt would
  otherwise leave one cached frame behind.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write(df: DataFrame, root: str, name: str, batch_id: int, *leading: str) -> None:
    """Write `df` as batch `batch_id` of table ``<root>/<name>``, replacing
    that batch's partition only. `leading` partition columns sit above
    ``batch_id`` in the layout (the IVF layout's ``cluster``); an empty
    `name` addresses `root` itself."""
    (
        df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*leading, "batch_id")
        .parquet(os.path.join(root, name))
    )


def history(
    spark: SparkSession, root: str, name: str, batch_id: int | None
) -> DataFrame | None:
    """Every stored batch of ``<root>/<name>`` but `batch_id` (None keeps
    all), without the ``batch_id`` column; None when nothing is stored."""
    try:
        stored = spark.read.parquet(os.path.join(root, name))
    except AnalysisException:
        return None
    if batch_id is not None:
        stored = stored.filter(F.col("batch_id") != batch_id)
    return stored.drop("batch_id")


def read(spark: SparkSession, root: str, name: str) -> DataFrame:
    """Every stored batch of ``<root>/<name>``, without the ``batch_id``
    column (raises when nothing is stored)."""
    return spark.read.parquet(os.path.join(root, name)).drop("batch_id")


def commit(
    root: str, batch_id: int, outputs: dict[str, DataFrame], index: dict[str, DataFrame]
) -> None:
    """Write one batch: the `outputs` (plans that may read history)
    first, then the `index` tables they read."""
    for name, df in (*outputs.items(), *index.items()):
        write(df, root, name, batch_id)


@contextmanager
def persisted(df: DataFrame):
    """`df` persisted for the body of the ``with``, unpersisted after it
    even when the body raises."""
    df.persist()
    try:
        yield df
    finally:
        df.unpersist()
