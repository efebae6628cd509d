"""Collection persistence: a directory of Parquet tables (SURVEY.md §1.4).

Replaces the reference's four hand-rolled formats (HNSW binary + JSON state
``vectordb_optimized.py:282-331``, PYVDB binary ``binary_persistence.py:
39-193``, mmap store ``parallel_search.py:427-661``, graph JSON
``graph.py:540-582``) with Parquet: schema/stats in the footer, ZSTD
compression, row-group pruning.

Rewrites (upsert/delete are full-table rewrites in an immutable store) use
write-to-temp-then-swap so a reader never sees a half-written table.
At warehouse scale the same layout maps to object-store prefixes and the
swap becomes a metastore pointer flip (or a table format's commit).
"""

from __future__ import annotations

import os
import shutil
import stat
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from custom_python_vectordb_spark.streaming import batch_store


class Warehouse:
    """M8 — create/drop/list/load/save collections under a root dir."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        # name -> ((st_ino, st_mtime_ns) of the collection dir, shard paths)
        self._listings: dict[str, tuple[tuple[int, int], tuple[str, ...]]] = {}

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def shard_paths(self, name: str) -> list[str]:
        """Parquet shard files of a collection's CURRENT data (for direct
        shard access, e.g. the serving replica).

        One stat of the collection directory per call: the sorted listing
        is cached on the directory's (inode, mtime), which an added,
        removed or renamed shard changes, and so does a save's directory
        swap. A listing taken less than a second after the directory's
        mtime is not cached: a shard added later within the same
        timestamp tick would leave the key unchanged."""
        path = self._path(name)
        try:
            st = os.stat(path)
        except FileNotFoundError:
            st = None
        if st is None or not stat.S_ISDIR(st.st_mode):
            raise FileNotFoundError(f"collection {name!r} does not exist")
        key = (st.st_ino, st.st_mtime_ns)
        hit = self._listings.get(name)
        if hit is not None and hit[0] == key:
            return list(hit[1])
        # same selection as glob("*.parquet"): no hidden files
        paths = tuple(sorted(
            e.path for e in os.scandir(path)
            if e.name.endswith(".parquet") and not e.name.startswith(".")
        ))
        if time.time_ns() - st.st_mtime_ns >= 1_000_000_000:
            self._listings[name] = (key, paths)
        return list(paths)

    def list_collections(self) -> list[str]:
        return sorted(
            d
            for d in os.listdir(self.root)
            # leading "_" = engine-internal (checkpoints etc.); leading "."
            # = hidden caches (e.g. the BQ tier's mmap rerank cache)
            if os.path.isdir(self._path(d)) and not d.startswith(("_", "."))
        )

    def exists(self, name: str) -> bool:
        return os.path.isdir(self._path(name))

    def load(self, name: str) -> DataFrame:
        if not self.exists(name):
            raise FileNotFoundError(f"collection {name!r} does not exist")
        return self.spark.read.parquet(self._path(name))

    def save(self, name: str, df: DataFrame, mode: str = "overwrite") -> None:
        """Append writes go straight in; overwrites go through temp+swap
        (Spark can't overwrite a directory it is currently reading)."""
        path = self._path(name)
        if mode == "append" and self.exists(name):
            df.write.mode("append").parquet(path)
            return
        tmp = os.path.join(self.root, f"_tmp_{name}_{uuid.uuid4().hex[:8]}")
        df.write.mode("overwrite").parquet(tmp)
        old = os.path.join(self.root, f"_old_{name}_{uuid.uuid4().hex[:8]}")
        if self.exists(name):
            os.rename(path, old)
        os.rename(tmp, path)
        if os.path.isdir(old):
            shutil.rmtree(old, ignore_errors=True)

    def save_batch_partition(self, name: str, df: DataFrame, batch_id: int) -> None:
        """Idempotent micro-batch append for foreachBatch writers: the batch
        lands in its own ``batch_id=<n>`` partition of the collection
        through the replay-safe batch store (`streaming/batch_store.py`), so
        an at-least-once REPLAY of the same batch overwrites its partition
        instead of appending duplicates."""
        batch_store.write(df, self.root, name, batch_id)

    def save_bucketed(
        self, name: str, df: DataFrame, key: str = "id", buckets: int = 32
    ) -> None:
        """Bucketed save: rows are hash-partitioned by `key` into a fixed
        bucket count at WRITE time, so every later equi-join or aggregation
        on `key` between same-bucketed collections skips its shuffle
        entirely — the 100 TB co-location strategy (pay the shuffle once at
        ingest, never per query). Files land under the warehouse root; the
        bucket spec registers in the session catalog as table wh_<name>
        (on a cluster this is the metastore entry)."""
        self.spark.sql(f"DROP TABLE IF EXISTS wh_{name}")
        (
            df.write.format("parquet")
            .mode("overwrite")
            .option("path", self._path(name))
            .bucketBy(buckets, key)
            .sortBy(key)
            .saveAsTable(f"wh_{name}")
        )

    def load_bucketed(self, name: str) -> DataFrame:
        """Catalog-backed read of a bucketed collection (bucket metadata only
        exists through the catalog — a raw parquet read of the same files
        would silently lose the co-location guarantee)."""
        return self.spark.table(f"wh_{name}")

    def drop(self, name: str) -> bool:
        self._listings.pop(name, None)
        if not self.exists(name):
            return False
        shutil.rmtree(self._path(name))
        return True
