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
4. appends its own signatures (and its verified pairs) replay-
   idempotently (``batch_id=<n>`` partitions under dynamic partition
   overwrite).

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

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from custom_python_vectordb_spark.operators.multimodal import image_perceptual_hashes

_N_BANDS = 4


def _sig_path(root: str) -> str:
    return os.path.join(root, "sigs")


def _pairs_path(root: str) -> str:
    return os.path.join(root, "pairs")


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
    sigs = image_perceptual_hashes(batch_media, id_col=id_col).persist()

    sig_dir = _sig_path(index_root)
    # discover history THROUGH Spark (r9 ADVICE: os.listdir only sees local
    # filesystems — an HDFS/S3 index_root would silently read no history
    # and miss every cross-batch pair). ONLY AnalysisException (path not
    # found) means 'first batch'; a transient IO/permission/corrupt-footer
    # error must propagate so the micro-batch fails loudly and retries —
    # swallowing it would silently drop that batch's cross-batch pairs
    # forever (r10 ADVICE).
    try:
        hist_all = spark.read.parquet(sig_dir)
    except AnalysisException:
        all_sigs = sigs
    else:
        # exclude THIS batch's partition: a replay must not treat its own
        # previous (about-to-be-overwritten) rows as history
        hist = hist_all.filter(F.col("batch_id") != batch_id).drop("batch_id")
        all_sigs = hist.unionByName(sigs)

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

    def _write(df: DataFrame, path: str) -> None:
        (
            df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(path)
        )

    # ORDER MATTERS on replay: `pairs` lazily reads the sigs dir, so it
    # must fully materialize (its write is the action) BEFORE that dir's
    # partition is overwritten; `sigs` itself is persisted+materialized
    # and derives from the batch source only.
    _write(pairs, _pairs_path(index_root))
    _write(sigs, sig_dir)
    sigs.unpersist()


def load_image_pairs(spark: SparkSession, index_root: str) -> DataFrame:
    """All verified perceptual near-dup pairs found so far (distinct
    across batches; a replayed batch overwrites its own partition)."""
    return spark.read.parquet(_pairs_path(index_root)).drop("batch_id").distinct()


# ---------------------------------------------------------------- video twin

def _video_sig_path(root: str) -> str:
    return os.path.join(root, "vsigs")


def _video_pairs_path(root: str) -> str:
    return os.path.join(root, "vpairs")


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
    sigs = video_frame_hashes(batch_media, n_frames, id_col=id_col).persist()

    sig_dir = _video_sig_path(index_root)
    # AnalysisException-only ⇒ first batch; IO errors propagate (see image twin)
    try:
        hist_all = spark.read.parquet(sig_dir)
    except AnalysisException:
        all_sigs = sigs
    else:
        hist = hist_all.filter(F.col("batch_id") != batch_id).drop("batch_id")
        all_sigs = hist.unionByName(sigs)

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
        .join(slot_counts.select(F.col(id_col).alias("a"), F.col("n_slots").alias("__na")), "a")
        .join(slot_counts.select(F.col(id_col).alias("b"), F.col("n_slots").alias("__nb")), "b")
        .filter(
            (F.col("n_frames") == F.least("__na", "__nb"))
            & (F.col("max_hamming") <= max_hamming)
        )
        .drop("__na", "__nb")
        .withColumn("n_frames", F.col("n_frames").cast("int"))
    )

    def _write(df: DataFrame, path: str) -> None:
        (
            df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(path)
        )

    # pairs reads the sigs dir lazily -> must materialize before the sigs
    # partition overwrite (same replay-order note as the image twin)
    _write(pairs, _video_pairs_path(index_root))
    _write(sigs, sig_dir)
    sigs.unpersist()


def load_video_pairs(spark: SparkSession, index_root: str) -> DataFrame:
    """All verified video near-dup pairs found so far (distinct across
    batches; a replayed batch overwrites its own partition)."""
    return spark.read.parquet(_video_pairs_path(index_root)).drop("batch_id").distinct()
