"""SparkSession factory tuned for the engine.

Defaults target the test harness (local[32], 128 GiB box) but every knob is
chosen to also hold on a 1000-executor cluster: AQE on (runtime re-plan,
skew-join splitting, shuffle coalescing), Arrow on (pandas-UDF fast path),
shuffle partitions sized to cores locally — on a real cluster AQE coalescing
makes the static number mostly irrelevant.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "custom_python_vectordb_spark") -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # guide §6: openCostInBytes floors the scan-split size, so any table
        # file under 4 MiB (its default) scans as ONE task no matter how many
        # cores exist — at bench scales the documents/embeddings tables are
        # exactly that, and every map-heavy text/vector stage ran single-task
        # (r14 sf1 probe: text_quality 2.39 -> 0.71 s from this line alone).
        # 128 KiB keeps small inputs parallel; at production file sizes
        # (hundreds of MB+) the knob is irrelevant by construction, so the
        # setting is scale-adaptive, not local-tuned. Env-overridable.
        .config("spark.sql.files.openCostInBytes",
                os.environ.get("SPARK_GRAFT_OPEN_COST", str(128 * 1024)))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # ORDER BY ... LIMIT k runs as an in-memory top-k that allocates 2k
        # slots up front (Spark's default threshold is ~2^31); a "take all"
        # k such as 10**9 needs ~8 GB of heap. Above 1M rows, sort globally
        # (spillable) and take the limit instead.
        .config("spark.sql.execution.topKSortFallbackThreshold", str(1_000_000))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-created session.

    The driver harness owns its own SparkSession; only runtime-mutable confs
    can be applied there. Applied once per session object (query builders
    call this on every table load — the conf round trips are pure plan-build
    latency after the first application).
    """
    if getattr(spark, "_graft_tuned", False):
        return spark
    spark._graft_tuned = True
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    for key, value in (
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        # runtime-settable: match get_spark's 64 MiB broadcast threshold so
        # dimension/candidate sides broadcast in externally-created sessions
        ("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)),
        # externally-created sessions default to 200 shuffle partitions —
        # wasteful at test scale and for streaming state stores
        ("spark.sql.shuffle.partitions", str(cpus)),
        # small-file scan parallelism (see get_spark) — runtime-settable
        ("spark.sql.files.openCostInBytes",
         os.environ.get("SPARK_GRAFT_OPEN_COST", str(128 * 1024))),
    ):
        try:
            spark.conf.set(key, value)
        except Exception:
            pass  # immutable in this session; fine — all of these are perf-only
    return spark
