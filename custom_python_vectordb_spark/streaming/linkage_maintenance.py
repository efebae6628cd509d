"""Incremental fuzzy record linkage over streaming ingest.

The batch linkage operator (`operators/linkage.fuzzy_pairs`) re-blocks the
whole record set per run. At ingest scale the blocking index must be
INCREMENTAL — the same architecture as the streaming near-dup index
(`streaming/neardup_maintenance.py`):

1. each micro-batch computes block keys (first token, length band) for
   ITS records only,
2. probes the STORED block index for candidate partners among previously
   ingested records (equi-join on the block key — new-vs-history, plus
   the batch's own rows for within-batch matches),
3. verifies candidates with JVM levenshtein (names live in the block
   index, so no second table read), and
4. appends its own block rows and verified pairs through the replay-safe
   batch store (`streaming/batch_store.py`).

Block-size cap semantics: the cap is evaluated at PROBE time over
history+batch — a block that only later outgrows the cap keeps its
earlier pairs (append-only results can't be retracted). Convergence to
the batch operator therefore holds exactly for corpora whose blocks stay
under the cap (asserted in tests); for degenerate blocks the streaming
index stops ADDING pairs where the batch path would have skipped the
whole block — same protection, applied monotonically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from custom_python_vectordb_spark.streaming import batch_store


def _block_rows(records: DataFrame, id_col: str, name_col: str, length_band: int) -> DataFrame:
    t = records.select(
        F.col(id_col).alias("id"), F.lower(F.col(name_col)).alias("name")
    )
    return t.select(
        "id",
        "name",
        F.split("name", " ").getItem(0).alias("tok0"),
        F.expr(f"length(name) div {length_band}").alias("lb"),
    )


def process_linkage_batch(
    batch_records: DataFrame,
    batch_id: int,
    index_root: str,
    *,
    max_distance: int = 2,
    max_block: int = 1000,
    length_band: int = 4,
    id_col: str = "id",
    name_col: str = "name",
) -> None:
    """One micro-batch through the incremental linkage index. Records must
    carry (id, name); ids globally unique across batches (ingest
    invariant, as in the other maintenance sinks)."""
    spark = batch_records.sparkSession
    b = _block_rows(batch_records, id_col, name_col, length_band)
    with batch_store.persisted(b):
        history = batch_store.history(spark, index_root, "blocks", batch_id)
        probe = b if history is None else history.unionByName(b)
        # probe-time block cap over history+batch (see module docstring)
        ok = (
            probe.groupBy("tok0", "lb")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") <= max_block)
            .select("tok0", "lb")
        )
        pairs = (
            b.join(ok, ["tok0", "lb"])
            .select("tok0", "lb", F.col("id").alias("x"), F.col("name").alias("nx"))
            .join(
                probe.join(ok, ["tok0", "lb"]).select(
                    "tok0", "lb", F.col("id").alias("y"), F.col("name").alias("ny")
                ),
                ["tok0", "lb"],
            )
            .filter(F.col("x") != F.col("y"))
            .select(
                F.least("x", "y").alias("a"),
                F.greatest("x", "y").alias("b"),
                F.levenshtein(
                    F.least(F.col("nx"), F.col("ny")), F.greatest(F.col("nx"), F.col("ny"))
                ).alias("d"),
            )
            .filter(F.col("d") <= max_distance)
            .distinct()
        )
        batch_store.commit(index_root, batch_id, {"pairs": pairs}, {"blocks": b})


def load_linkage_pairs(spark: SparkSession, index_root: str) -> DataFrame:
    """All verified fuzzy pairs found so far (distinct across batches)."""
    return batch_store.read(spark, index_root, "pairs").distinct()
