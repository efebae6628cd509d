"""Regenerate the per-scale parquet snapshot fixtures consumed by
queries/scale_snapshots.py.

For each ORACLE_SF-pinned query that is deterministic at ANY scale (the
media/bpe/embed/semdedup/LR families — fixed generators, fixed seeds,
fixed-order float64 math), run the Spark plan at the requested scale and
freeze the result as a parquet fixture. DuckDB then replays the fixture
as the oracle at that scale (registry.SCALE_ORACLES), upgrading what used
to be a 'scoped' row in the tri-scale sweep to a hash-checked one — the
same epistemics as the literal snapshot modules (regression pinning), in
a format that stays compact at 10x the rows.

Usage:
    python tools/gen_scale_snapshots.py [sf_dir ...] [--only name ...]
    # sf_dirs default to sf0.1 + sf0.001; --only regenerates a subset
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# queries whose output is deterministic at every scale (scan-order-free:
# either per-row pure functions of ids or seeded fixed-order reductions)
NAMES = [
    "media_jpeg_luma",
    "media_jpeg_progressive_luma",
    "media_video_frames",
    "media_mp4_frames",
    "media_gif_frames",
    "media_features",
    "bpe_encode",
    "bpe_train_merges",
    "embed_mock",
    "semantic_text_search",
    "quality_model_score",
    "semdedup_keep",
    # r11: the last 5 'scoped' rows — k-means/partition-layout queries whose
    # outputs were proven cross-process deterministic at sf0.1 AND sf0.001
    # (two fresh sessions, identical value hashes) before freezing. Fixed
    # file layout + seeded inits + fixed-order reductions make the layout
    # snapshots scale-stable the same way the media/bpe families are.
    "knn_partitioned",
    "recall_partitioned_vs_exact",
    "pq_kmeans_recall",
    "cluster_topics",
    "cluster_balanced_sample",
]


def main() -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from custom_python_vectordb_spark import registry
    from custom_python_vectordb_spark.queries.scale_snapshots import SNAP_DIR
    from custom_python_vectordb_spark.session import get_spark

    registry.load_all()
    spark = get_spark("gen_scale_snapshots")
    spark.sparkContext.setLogLevel("ERROR")
    argv = sys.argv[1:]
    names = NAMES
    if "--only" in argv:
        i = argv.index("--only")
        names = argv[i + 1 :]
        argv = argv[:i]
    sf_dirs = argv or ["/root/testdata/sf0.1", "/root/testdata/sf0.001"]
    os.makedirs(SNAP_DIR, exist_ok=True)
    for sf_dir in sf_dirs:
        sf = sf_dir.rstrip("/").rsplit("/", 1)[-1]
        for name in names:
            fn = registry.QUERIES[name]
            pdf = fn(spark, sf_dir).toPandas()
            path = os.path.join(SNAP_DIR, f"{name}__{sf}.parquet")
            pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
            print(f"{sf} {name}: {len(pdf)} rows -> {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
