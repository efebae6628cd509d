"""Incremental perceptual-image near-dup index over streaming ingest.

The batch image-dedup stack (decode → dHash/aHash banded signatures →
banded Hamming join → bit_count verify, `operators/multimodal.py` +
`operators/dedup.perceptual_hash_pairs`) re-hashes the whole corpus per
run. At ingest scale the index must be INCREMENTAL — the same discipline
as the text near-dup twin (`streaming/neardup_maintenance.py`): each
micro-batch

1. decodes + hashes ITS images only (one map-only pass — the corpus's
   pixels are never re-read),
2. probes the STORED dHash band index for candidate partners among all
   previously ingested images (equi-join on (band, band_value) — the
   exact bucket join the batch path uses, now new-vs-history),
3. verifies candidates with the exact Hamming distance computed FROM THE
   STORED SIGNATURES (unlike text, verification needs no raw payloads —
   8 small ints per image are the whole index),
4. appends its own signatures (and its verified pairs) through the
   replay-safe batch store (`streaming/batch_store.py`).

Within-batch duplicates are caught by the same probe (the batch's own
band rows are unioned into the probe side with least/greatest dedup), so
the result converges to exactly the batch path's pair set over the union
of all batches (asserted in tests).

Scale: per micro-batch cost is O(batch pixels) for the hash pass + one
bucket join whose history side is 8 ints/image; the stored index is
O(corpus) small rows, no state store — idempotence and history live in
the table layout, so a crashed query resumes from its checkpoint and
overwrites its partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from custom_python_vectordb_spark.operators.multimodal import image_perceptual_hashes
from custom_python_vectordb_spark.streaming import batch_store

_N_BANDS = 4


def _banded(sigs: DataFrame, id_col: str) -> DataFrame:
    return sigs.select(
        id_col,
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("band"), F.col(f"dh{i}").alias("val"))
                for i in range(_N_BANDS)
            ])
        ).alias("bv"),
    ).select(id_col, F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))


def process_image_batch(
    batch_media: DataFrame,
    batch_id: int,
    index_root: str,
    *,
    max_hamming: int = 3,
    id_col: str = "doc_id",
) -> None:
    """One micro-batch through the incremental image-hash index. Rows must
    carry (id, media); ids must be globally unique across batches (the
    same ingest invariant as every index twin here)."""
    spark = batch_media.sparkSession
    sigs = image_perceptual_hashes(batch_media, id_col=id_col)
    with batch_store.persisted(sigs):
        hist = batch_store.history(spark, index_root, "sigs", batch_id)
        all_sigs = sigs if hist is None else hist.unionByName(sigs)

        new_b = _banded(sigs, id_col)
        probe_b = _banded(all_sigs, id_col)
        cands = (
            new_b.select(F.col(id_col).alias("__new"), "band", "val")
            .join(
                probe_b.select(F.col(id_col).alias("__other"), "band", "val"),
                ["band", "val"],
            )
            .filter(F.col("__new") != F.col("__other"))
            .select(
                F.least("__new", "__other").alias("a"),
                F.greatest("__new", "__other").alias("b"),
            )
            .distinct()
        )

        left = all_sigs.alias("l")
        right = all_sigs.alias("r")

        def ham(prefix: str):
            expr = None
            for i in range(_N_BANDS):
                t = F.bit_count(
                    F.col(f"l.{prefix}{i}").bitwiseXOR(F.col(f"r.{prefix}{i}"))
                )
                expr = t if expr is None else expr + t
            return expr.cast("long")

        pairs = (
            cands.join(left, cands["a"] == F.col(f"l.{id_col}"))
            .join(right, cands["b"] == F.col(f"r.{id_col}"))
            .select(
                "a", "b", ham("dh").alias("dhamming"), ham("ah").alias("ahamming")
            )
            .filter(F.col("dhamming") <= max_hamming)
        )
        batch_store.commit(index_root, batch_id, {"pairs": pairs}, {"sigs": sigs})


def load_image_pairs(spark: SparkSession, index_root: str) -> DataFrame:
    """All verified perceptual near-dup pairs found so far (distinct
    across batches; a replayed batch overwrites its own partition)."""
    return batch_store.read(spark, index_root, "pairs").distinct()


# ---------------------------------------------------------------- video twin

def process_video_batch(
    batch_media: DataFrame,
    batch_id: int,
    index_root: str,
    *,
    n_frames: int = 2,
    max_hamming: int = 3,
    id_col: str = "doc_id",
) -> None:
    """Video twin of :func:`process_image_batch`: maintain the sampled-
    frame dHash index incrementally and emit cross-container video
    near-dup pairs per micro-batch. Same arc — hash ONLY this batch's
    videos (lazy container walk, picked frames decoded), probe the
    stored (frame_idx, band, val) index for candidates among everything
    ingested so far, verify from the STORED signatures (a pair survives
    only if EVERY sampled frame slot is within `max_hamming`), append
    signatures and pairs replay-idempotently (batch_id partitions).
    Converges to `media_video_phash_pairs`'s batch pair set over the
    union of all batches (asserted in tests)."""
    from custom_python_vectordb_spark.operators.multimodal import video_frame_hashes

    spark = batch_media.sparkSession
    sigs = video_frame_hashes(batch_media, n_frames, id_col=id_col)
    with batch_store.persisted(sigs):
        hist = batch_store.history(spark, index_root, "vsigs", batch_id)
        all_sigs = sigs if hist is None else hist.unionByName(sigs)

        def banded(df: DataFrame, alias: str) -> DataFrame:
            return df.select(
                F.col(id_col).alias(alias), "frame_idx",
                F.posexplode(F.array("dh0", "dh1", "dh2", "dh3")).alias("band", "val"),
            )

        cands = (
            banded(sigs, "__new")
            .join(banded(all_sigs, "__other"), ["frame_idx", "band", "val"])
            .filter(F.col("__new") != F.col("__other"))
            .select(
                F.least("__new", "__other").alias("a"),
                F.greatest("__new", "__other").alias("b"),
            )
            .distinct()
        )

        left = all_sigs.alias("l")
        right = all_sigs.alias("r")
        ham = sum(
            F.bit_count(F.col(f"l.dh{i}").bitwiseXOR(F.col(f"r.dh{i}"))) for i in range(4)
        ).cast("long")
        # every-slot verification is against the per-pair MINIMUM of each
        # side's actually-emitted slots, not the requested n_frames: a clip
        # shorter than n_frames (or with sub-9x8 frames skipped inside
        # video_frame_hashes) emits fewer slots and could otherwise never
        # pair with a bit-identical re-mux twin (r10 ADVICE false-negative).
        slot_counts = all_sigs.groupBy(id_col).agg(
            F.count(F.lit(1)).alias("n_slots")
        )
        pairs = (
            cands.join(left, cands["a"] == F.col(f"l.{id_col}"))
            .join(
                right,
                (cands["b"] == F.col(f"r.{id_col}"))
                & (F.col("l.frame_idx") == F.col("r.frame_idx")),
            )
            .select("a", "b", ham.alias("h"))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("n_frames"), F.max("h").alias("max_hamming"))
            .join(slot_counts.withColumnsRenamed({id_col: "a", "n_slots": "__na"}), "a")
            .join(slot_counts.withColumnsRenamed({id_col: "b", "n_slots": "__nb"}), "b")
            .filter(
                (F.col("n_frames") == F.least("__na", "__nb"))
                & (F.col("max_hamming") <= max_hamming)
            )
            .drop("__na", "__nb")
            .withColumn("n_frames", F.col("n_frames").cast("int"))
        )
        batch_store.commit(index_root, batch_id, {"vpairs": pairs}, {"vsigs": sigs})


def load_video_pairs(spark: SparkSession, index_root: str) -> DataFrame:
    """All verified video near-dup pairs found so far (distinct across
    batches; a replayed batch overwrites its own partition)."""
    return batch_store.read(spark, index_root, "vpairs").distinct()
