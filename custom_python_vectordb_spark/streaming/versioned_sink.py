"""Exactly-once streaming appends into the versioned (commit-log) store.

foreachBatch is at-least-once: after a crash between "wrote output" and
"advanced checkpoint", the same micro-batch re-runs. The plain parquet
sinks in this package neutralize replays with batch_id-partitioned dynamic
overwrite (`index_maintenance`, `neardup_maintenance`); for the VERSIONED
store the commit log itself is the stronger primitive — each batch's
append commits a manifest carrying its `stream_batch_id`, and since the
manifest create is atomic, "did batch N land?" has exactly one answer: is
N <= the head's recorded batch id. A replayed batch sees its own id
already committed and becomes a no-op — exactly-once appends with no side
marker files, and every micro-batch is a time-travelable version.

Single-writer contract (stated plainly): the skip check reads the head
BEFORE committing, so it is exact only when one streaming query owns the
collection — which the streaming checkpoint already enforces (two queries
sharing one checkpoint is user error). A concurrent BATCH writer appending
interleaved versions is safe (monotone batch ids still skip replays); a
concurrent batch OVERWRITE resets history, after which replays of old
batches would re-append — don't overwrite a stream-owned collection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from custom_python_vectordb_spark.sources.versioned import VersionedWarehouse


def last_committed_batch(wh: VersionedWarehouse, name: str) -> int | None:
    v = wh.latest_version(name)
    if v is None:
        return None
    return wh._read_manifest(name, v).get("stream_batch_id")


def process_versioned_append(
    batch_df: DataFrame,
    batch_id: int,
    root: str,
    name: str,
    stats_cols: list[str] | None = None,
) -> bool:
    """Append one micro-batch; returns False when the batch was already
    committed (replay) and nothing was written."""
    wh = VersionedWarehouse(batch_df.sparkSession, root)
    last = last_committed_batch(wh, name)
    if last is not None and batch_id <= last:
        return False
    mode = "append" if wh.exists(name) else "overwrite"
    wh.save(
        name,
        batch_df,
        mode=mode,
        stats_cols=stats_cols,
        extra={"stream_batch_id": batch_id},
    )
    return True


def versioned_append_sink(
    stream_df: DataFrame,
    root: str,
    name: str,
    stats_cols: list[str] | None = None,
):
    """foreachBatch writer: configure trigger/checkpoint then ``.start()``."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        process_versioned_append(batch_df, batch_id, root, name, stats_cols)

    return stream_df.writeStream.foreachBatch(write)


def load_stream_table(spark: SparkSession, root: str, name: str) -> DataFrame:
    """Read the stream-maintained collection (head snapshot)."""
    return VersionedWarehouse(spark, root).load(name)


def process_versioned_merge(
    batch_df: DataFrame,
    batch_id: int,
    root: str,
    name: str,
    on: str,
    stats_cols: list[str] | None = None,
) -> bool:
    """CDC-style upsert ingest: MERGE one micro-batch into the versioned
    store (matched rows updated, new rows inserted) with the SAME
    batch-id exactly-once contract as the append sink — a replayed batch
    sees its id at or below the head's recorded `stream_batch_id` and
    becomes a no-op. The merge itself is manifest-pruned
    (`VersionedWarehouse.merge_into`): dirs whose key range cannot meet
    the batch's keys are carried by reference, so steady-state CDC cost
    is O(touched dirs + batch), not O(table). Returns False on a skipped
    replay."""
    wh = VersionedWarehouse(batch_df.sparkSession, root)
    last = last_committed_batch(wh, name)
    if last is not None and batch_id <= last:
        return False
    if not wh.exists(name):
        wh.save(
            name, batch_df, mode="overwrite", stats_cols=stats_cols,
            extra={"stream_batch_id": batch_id},
        )
        return True
    wh.merge_into(
        name, batch_df, on, stats_cols=stats_cols,
        extra={"stream_batch_id": batch_id},
    )
    return True
