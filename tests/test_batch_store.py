"""The replay-safe batch store (streaming/batch_store.py) behind every
incremental streaming index: history is found at any Hadoop-filesystem
root, a failed write leaves no cached frame behind, and no streaming
module copies the store's rules."""

from __future__ import annotations

import ast
import pathlib

import numpy as np
import pytest
from pyspark.sql.readwriter import DataFrameWriter

import custom_python_vectordb_spark

# Each case: (two batches of rows, run(spark, rows, batch_id, root),
# result(spark, root) -> set, a member of that set found only with the
# first batch as history).


def _neardup():
    from custom_python_vectordb_spark.streaming.neardup_maintenance import (
        load_neardup_pairs,
        process_neardup_batch,
    )

    text = "the quick brown fox jumps over the lazy dog near the quiet river bank"
    batches = [
        [(1, text), (2, "vector search engines rank rows by distance to a query")],
        [(101, text), (102, "a stream of documents lands one micro batch at a time")],
    ]

    def run(spark, rows, batch_id, root):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        process_neardup_batch(df, batch_id, root)

    def result(spark, root):
        return {(r.a, r.b) for r in load_neardup_pairs(spark, root).collect()}

    return batches, run, result, (1, 101)


def _span():
    import random

    from custom_python_vectordb_spark.streaming.span_maintenance import (
        load_span_pairs,
        process_span_batch,
    )

    rng = random.Random(5)
    vocab = [f"v{i}" for i in range(300)]
    texts = {d: [rng.choice(vocab) for _ in range(40)] for d in (0, 1, 100, 101)}
    texts[100][0:15] = texts[1][20:35]
    batches = [
        [(d, " ".join(texts[d])) for d in (0, 1)],
        [(d, " ".join(texts[d])) for d in (100, 101)],
    ]

    def run(spark, rows, batch_id, root):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        process_span_batch(df, batch_id, root, n=5, max_df=16, min_span=10)

    def result(spark, root):
        return {(r.doc_a, r.doc_b) for r in load_span_pairs(spark, root).collect()}

    return batches, run, result, (1, 100)


def _semdedup():
    from custom_python_vectordb_spark.streaming.semdedup_maintenance import (
        load_semdedup_keep,
        process_semdedup_batch,
    )

    batches = [
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
        [(101, [1.0, 0.0, 0.0, 0.01]), (102, [0.0, 0.0, 1.0, 0.0])],
    ]

    def run(spark, rows, batch_id, root):
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        cents = spark.createDataFrame(
            [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 1.0, 0.0])],
            "cluster int, cvec array<float>",
        )
        process_semdedup_batch(df, batch_id, root, cents)

    def result(spark, root):
        """the dropped ids: 101, a near-copy of 1 in the next batch"""
        return {1, 2, 101, 102} - {r.vec_id for r in load_semdedup_keep(spark, root).collect()}

    return batches, run, result, 101


def _image():
    from custom_python_vectordb_spark.operators.multimodal import encode_png, encode_ppm
    from custom_python_vectordb_spark.streaming.media_maintenance import (
        load_image_pairs,
        process_image_batch,
    )

    def px(seed):
        return np.random.RandomState(seed).randint(0, 256, (16, 72, 3)).astype(np.uint8)

    batches = [
        [(1, bytearray(encode_ppm(px(1)))), (2, bytearray(encode_ppm(px(2))))],
        [(101, bytearray(encode_png(px(1)))), (102, bytearray(encode_ppm(px(3))))],
    ]

    def run(spark, rows, batch_id, root):
        df = spark.createDataFrame(rows, "doc_id long, media binary")
        process_image_batch(df, batch_id, root)

    def result(spark, root):
        return {(r.a, r.b) for r in load_image_pairs(spark, root).collect()}

    return batches, run, result, (1, 101)


def _linkage():
    from custom_python_vectordb_spark.streaming.linkage_maintenance import (
        load_linkage_pairs,
        process_linkage_batch,
    )

    batches = [[(1, "blue bolt"), (2, "red gear")], [(4, "blue bolts"), (5, "green cog")]]

    def run(spark, rows, batch_id, root):
        df = spark.createDataFrame(rows, "id long, name string")
        process_linkage_batch(df, batch_id, root)

    def result(spark, root):
        return {(r.a, r.b) for r in load_linkage_pairs(spark, root).collect()}

    return batches, run, result, (1, 4)


def _video():
    from custom_python_vectordb_spark.operators.multimodal import (
        encode_avi_mjpeg,
        encode_jpeg,
        encode_mp4_mjpeg,
    )
    from custom_python_vectordb_spark.streaming.media_maintenance import (
        load_video_pairs,
        process_video_batch,
    )

    r = np.random.RandomState(1)
    clip = [encode_jpeg(r.randint(0, 256, (16, 24, 3)).astype(np.uint8), 80) for _ in range(3)]
    batches = [
        [(10, bytearray(encode_avi_mjpeg(clip, 24, 16, fps=12)))],
        [(11, bytearray(encode_mp4_mjpeg(clip, 24, 16, fps=12)))],
    ]

    def run(spark, rows, batch_id, root):
        df = spark.createDataFrame(rows, "doc_id long, media binary")
        process_video_batch(df, batch_id, root)

    def result(spark, root):
        return {(r.a, r.b) for r in load_video_pairs(spark, root).collect()}

    return batches, run, result, (10, 11)


CASES = {
    "linkage": _linkage,
    "neardup": _neardup,
    "span": _span,
    "semdedup": _semdedup,
    "image": _image,
    "video": _video,
}


@pytest.mark.parametrize("kind", ["neardup", "span", "semdedup", "image"])
def test_index_at_a_uri_root_finds_cross_batch_matches(spark, tmp_path, kind):
    """Two batches through a maintainer at a file:// root (the local
    stand-in for an HDFS/S3 index root) give the same result as at a
    plain path, and that result needs the first batch as history."""
    batches, run, result, cross = CASES[kind]()
    got = {}
    for label, root in (("path", str(tmp_path / "plain")), ("uri", (tmp_path / "uri").as_uri())):
        for batch_id, rows in enumerate(batches):
            run(spark, rows, batch_id, root)
        got[label] = result(spark, root)
    assert got["uri"] == got["path"]
    assert cross in got["uri"]


def _persistent_rdd_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


@pytest.mark.parametrize("kind", sorted(CASES))
def test_failed_write_unpersists_the_batch_frame(spark, tmp_path, monkeypatch, kind):
    """A batch whose second output write raises leaves no persisted RDD
    behind: foreachBatch retries a failed batch, and each attempt would
    otherwise leak one cached frame."""
    batches, run, _result, _cross = CASES[kind]()
    real = DataFrameWriter.parquet
    writes = []

    def second_write_fails(self, path, *args, **kwargs):
        writes.append(path)
        if len(writes) == 2:
            raise OSError("injected write failure")
        return real(self, path, *args, **kwargs)

    before = _persistent_rdd_ids(spark)
    monkeypatch.setattr(DataFrameWriter, "parquet", second_write_fails)
    with pytest.raises(OSError, match="injected write failure"):
        run(spark, batches[0], 0, str(tmp_path / kind))
    monkeypatch.undo()
    assert len(writes) == 2
    assert _persistent_rdd_ids(spark) - before == set()


def test_only_the_batch_store_writes_or_discovers_batches():
    """No streaming module but batch_store sets partitionOverwriteMode,
    lists directories (os.listdir / os.path.isdir see local disks only)
    or filters out a batch_id itself."""
    pkg = pathlib.Path(custom_python_vectordb_spark.__file__).parent
    offenders = []
    for f in sorted((pkg / "streaming").glob("*.py")):
        rel = f.relative_to(pkg).as_posix()
        if rel == "streaming/batch_store.py":
            continue
        for node in ast.walk(ast.parse(f.read_text(), filename=rel)):
            if isinstance(node, ast.Constant) and node.value == "partitionOverwriteMode":
                offenders.append(f"{rel}:{node.lineno} partitionOverwriteMode")
            if not isinstance(node, ast.Call):
                continue
            name = ast.unparse(node.func)
            if name in ("os.listdir", "os.path.isdir"):
                offenders.append(f"{rel}:{node.lineno} {name}")
            if isinstance(node.func, ast.Attribute) and node.func.attr == "filter":
                for arg in node.args:
                    if (
                        isinstance(arg, ast.Compare)
                        and any(isinstance(op, ast.NotEq) for op in arg.ops)
                        and "batch_id" in ast.unparse(arg)
                    ):
                        offenders.append(f"{rel}:{node.lineno} filter on batch_id")
    assert not offenders, offenders
