"""The per-layer metrics of the traced run and the wrappers that produce them.

``LAYER_METRICS`` is the single list ``BENCHMARK.json``'s ``per_layer``
mirrors: (name, unit, better, workload, end-to-end metrics it should move).
A traced run of any workload reports every metric; a metric of a layer the
workload never enters reads 0.
"""

from __future__ import annotations

BATCH_QUERIES = (
    "knn_filtered", "knn_batch_1k", "mutation_upsert", "cypher_varlen", "text_quality",
)

_B, _S = "batch_queries", "serve_ann"
LAYER_METRICS: list[tuple[str, str, str, str, str]] = [
    ("registry.build_ms", "ms", "lower", _B, "p50_ms, ops_per_s"),
    ("py4j.calls", "count", "lower", _B, "ops_per_s (via plan build)"),
    ("catalyst.analysis_ms", "ms", "lower", _B, "ops_per_s"),
    ("catalyst.optimization_ms", "ms", "lower", _B, "ops_per_s"),
    ("catalyst.planning_ms", "ms", "lower", _B, "ops_per_s"),
    ("spark.exec_ms", "ms", "lower", _B, "ops_per_s"),
    ("spark.jobs", "count", "lower", _B, "ops_per_s (scheduling floor)"),
    ("spark.stages", "count", "lower", _B, "ops_per_s"),
    ("spark.tasks", "count", "lower", _B, "ops_per_s (scan-split count)"),
    ("sources.load_table_calls", "count", "lower", _B, "registry.build_ms -> ops_per_s"),
    ("sources.load_table_ms", "ms", "lower", _B, "registry.build_ms -> ops_per_s"),
    ("operators.mutations_ms", "ms", "lower", _B, "q.mutation_upsert.build_ms -> p50_ms"),
    ("jvm.gc_ms", "ms", "lower", _B, "ops_per_s (drift)"),
    ("spark.persisted_rdds", "count", "lower", _B, "ops_per_s (leaks)"),
    *[(f"q.{q}.{part}_ms", "ms", "lower", _B, "p50_ms")
      for q in BATCH_QUERIES for part in ("build", "exec")],
    ("server.request_us", "us", "lower", _S, "p50_ms, ops_per_s"),
    ("server.wait_us", "us", "lower", _S, "p50_ms, ops_per_s"),
    ("server.cpu_us_per_req", "us", "lower", _S, "ops_per_s"),
    ("api.ann_serve_us", "us", "lower", _S, "p50_ms"),
    ("sources.shard_paths_us", "us", "lower", _S, "p50_ms"),
    ("operators.ivf_handle_for_us", "us", "lower", _S, "p50_ms"),
    ("operators.search_one_us", "us", "lower", _S, "p50_ms, ops_per_s"),
    ("operators.index_build_s", "s", "lower", _S, "setup_s"),
    ("trace.overhead_pct", "%", "lower", f"{_B}, {_S}", "all (tracing cost)"),
    ("trace.spans", "count", "lower", f"{_B}, {_S}", "all (tracing volume)"),
]


def empty_layer_metrics() -> dict:
    return {name: {"value": 0.0, "unit": unit} for name, unit, *_ in LAYER_METRICS}


def install_batch(tracer) -> None:
    """Spans around the catalog's table loader and the mutation operators,
    wherever they were imported."""
    from custom_python_vectordb_spark.operators import mutations
    from custom_python_vectordb_spark.sources import catalog

    tracer.install_everywhere(catalog, "load_table", "sources.load_table")
    tracer.install_everywhere(mutations, "upsert", "operators.mutations")
    tracer.install_everywhere(mutations, "delete_ids", "operators.mutations")
