"""Incremental materialized-view maintenance: streaming rollups.

A dashboard aggregate (counts/sums by key) over an append-only stream
should not re-scan history per refresh. The standard incremental design,
on the replay-safe batch store (`batch_store.py`) like the other
maintenance sinks here:

- each micro-batch writes its PARTIAL aggregate (key, cnt, sum) under a
  ``batch_id=<n>`` partition — a replay overwrites its own partition, so
  the view never double-counts;
- the VIEW READ is one groupBy-sum over the stored partials — cost is
  O(batches × keys-per-batch) small rows, never the raw stream; compact
  the partials with the same groupBy whenever batch count grows
  (`compact_rollup`), which is safe because the merge is associative;
- correctness contract: additive aggregates only (count / sum — avg is
  derived sum/cnt at read time). Non-additive aggregates (distinct,
  percentiles) ride along as MERGEABLE SKETCH columns (round 6):
  `distinct_col=` adds a Datasketches HLL partial per batch
  (`hll_sketch_agg` binary, merged with `hll_union_agg` at read — the
  same sketch `approx_distinct_users` certifies), and `quantile_col=`
  adds a fixed-bin histogram partial (array<long> of bin counts —
  element-wise sum is an exact associative merge; any quantile reads off
  the cumulative histogram with error ≤ one bin width, certified in the
  registered batch twin `rollup_sketch_certified`). Both partials are
  fixed-size per key regardless of stream length — the 100 TB property.

Convergence to the batch groupBy over the union of all batches is
asserted in tests, including after a replay and after compaction.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from custom_python_vectordb_spark.streaming import batch_store


def hist_partial_expr(value_col: str, bins: int, lo: float, hi: float) -> F.Column:
    """array<long>[bins] of per-bin counts for `value_col` over [lo, hi):
    each element is one conditional SUM — map-side combinable, JVM-side,
    and the element-wise sum of two histograms is an EXACT merge."""
    width = (hi - lo) / bins
    b = F.least(
        F.lit(bins - 1),
        F.greatest(F.lit(0), F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width))),
    )
    return F.array(
        *[F.sum(F.when(b == i, 1).otherwise(0)).cast("long") for i in range(bins)]
    )


def merge_hist_expr(col: str, bins: int | None = None) -> F.Column:
    """Associative merge of histogram arrays: element-wise sum via a
    fold over the collected partials (bounded: #batches × bins longs).

    The fold is seeded with the FIRST stored partial, so the merged
    length always matches what was written — a caller-supplied `bins`
    that mismatched the stored arrays used to make ``zip_with`` NULL-pad
    and silently corrupt (and ``compact_rollup`` would then persist the
    corruption and delete the originals; round-6 ADVICE). `bins` is kept
    for signature compatibility but no longer drives the merge; a
    bin-count mismatch BETWEEN partials now fails loudly instead of
    corrupting."""
    hs = F.collect_list(col)
    ok = F.assert_true(
        F.size(F.array_distinct(F.transform(hs, lambda h: F.size(h)))) <= F.lit(1),
        F.lit(f"histogram bin-count mismatch across stored partials of {col!r}"),
    )
    merged = F.aggregate(
        F.slice(hs, F.lit(2), F.greatest(F.size(hs) - 1, F.lit(0))),
        F.element_at(hs, 1),
        lambda acc, h: F.zip_with(acc, h, lambda a, b: a + b),
    )
    # Force the assertion into the plan: with no .otherwise(), the implicit
    # else-branch is NULL, so the two branches DIFFER and Catalyst cannot
    # collapse the conditional (when(ok, merged).otherwise(merged) was being
    # simplified to `merged`, silently dropping the assert — round-7 ADVICE).
    # assert_true yields NULL on success, so the when-branch is always taken.
    return F.when(ok.isNull(), merged)


def hist_quantile(hist_col: F.Column, q: float, bins: int, lo: float, hi: float) -> F.Column:
    """Quantile estimate from a merged histogram: midpoint of the bin
    holding the ceil(q·total)-th smallest value — the lower DISCRETE
    quantile. Error vs that order statistic is ≤ one bin width by
    construction (certified in `rollup_sketch_certified`; note an
    INTERPOLATED median — DuckDB's MEDIAN on even counts — can differ
    from the discrete one by up to the gap between the two middle
    values, which only matters at tiny counts)."""
    width = (hi - lo) / bins
    total = F.aggregate(hist_col, F.lit(0).cast("long"), lambda a, x: a + x)
    # cumulative counts, then index of first bin crossing the target
    cum = F.transform(
        F.sequence(F.lit(0), F.lit(bins - 1)),
        lambda i: F.aggregate(
            F.slice(hist_col, F.lit(1), i + 1), F.lit(0).cast("long"), lambda a, x: a + x
        ),
    )
    target = F.ceil(F.lit(q) * total.cast("double")).cast("long")
    idx = F.array_position(F.transform(cum, lambda c: c >= F.greatest(target, F.lit(1))), True)
    return F.lit(lo) + (idx.cast("double") - F.lit(0.5)) * F.lit(width)


def process_rollup_batch(
    batch_df: DataFrame,
    batch_id: int,
    root: str,
    name: str,
    keys: list[str],
    value_col: str,
    distinct_col: str | None = None,
    quantile_col: str | None = None,
    bins: int = 64,
    lo: float = 0.0,
    hi: float = 1024.0,
) -> None:
    """Aggregate ONE micro-batch and write its partial under batch_id.

    `distinct_col`: also keep a Datasketches HLL partial (binary) of that
    column per key. `quantile_col`: also keep a fixed-bin histogram
    partial (array<long>) of that column over [lo, hi). Both merge
    associatively at read/compaction, so replay idempotence and the
    partition-overwrite contract are unchanged."""
    aggs = [F.count(F.lit(1)).alias("cnt"), F.sum(value_col).alias("total")]
    if distinct_col is not None:
        aggs.append(F.hll_sketch_agg(distinct_col).alias("hll"))
    if quantile_col is not None:
        aggs.append(hist_partial_expr(quantile_col, bins, lo, hi).alias("hist"))
    batch_store.write(batch_df.groupBy(*keys).agg(*aggs), root, name, batch_id)


def maintain_rollup(
    stream_df: DataFrame,
    root: str,
    name: str,
    keys: list[str],
    value_col: str,
    **sketch_kwargs,
):
    """foreachBatch writer; configure trigger/checkpoint then ``.start()``."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        process_rollup_batch(
            batch_df, batch_id, root, name, keys, value_col, **sketch_kwargs
        )

    return stream_df.writeStream.foreachBatch(write)


def _merged(partials: DataFrame, keys: list[str], bins: int) -> DataFrame:
    cols = set(partials.columns)
    aggs = [F.sum("cnt").alias("cnt"), F.sum("total").alias("total")]
    if "hll" in cols:
        aggs.append(F.hll_union_agg("hll").alias("hll"))
    if "hist" in cols:
        aggs.append(merge_hist_expr("hist", bins).alias("hist"))
    return partials.groupBy(*keys).agg(*aggs)


def read_rollup(
    spark: SparkSession,
    root: str,
    name: str,
    keys: list[str],
    quantiles: tuple[float, ...] = (),
    bins: int = 64,
    lo: float = 0.0,
    hi: float = 1024.0,
) -> DataFrame:
    """The maintained view: (keys..., cnt, total, avg[, approx_distinct]
    [, p<q> ...]) merged across all partials — one small aggregate, the
    raw stream is never re-read. Sketch columns appear when the partials
    carry them."""
    out = _merged(batch_store.read(spark, root, name), keys, bins).withColumn(
        "avg", F.col("total") / F.col("cnt")
    )
    if "hll" in out.columns:
        out = out.withColumn("approx_distinct", F.hll_sketch_estimate("hll")).drop("hll")
    if "hist" in out.columns:
        for q in quantiles:
            out = out.withColumn(
                f"p{int(q * 100)}", hist_quantile(F.col("hist"), q, bins, lo, hi)
            )
        out = out.drop("hist")
    return out


def compact_rollup(
    spark: SparkSession, root: str, name: str, keys: list[str], bins: int = 64
) -> None:
    """Fold all partials into a single batch_id=-1 partition (associative
    merge, so the view is unchanged) and drop the per-batch partitions —
    bounds read cost when batch count grows. Replays of already-folded
    batches would re-add their partial AFTER a compact; run compaction
    only past the stream's checkpointed progress (the same single-writer
    contract as the other maintenance sinks)."""
    import shutil

    folded = _merged(batch_store.read(spark, root, name), keys, bins)
    batch_store.write(folded, root, f"{name}.compact", -1)
    path = os.path.join(root, name)
    shutil.rmtree(path)
    os.rename(path + ".compact", path)
