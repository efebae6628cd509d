"""batch_queries: fresh-plan registry queries over generated tables.

Setup starts the Spark session, writes the seeded tables and runs two
untimed warm-up passes (JIT and codegen belong to set-up; the second pass
still runs ~20 % slower than later ones on a 4-core box). Each measured pass
runs every query of ``layers.BATCH_QUERIES`` once, in an order drawn from
the seed, building each plan fresh (``__wrapped__`` bypasses the registry's
plan memo, ``clear_plan_memos()`` empties the module-level ones) and
collecting it. Every result's row count and order-insensitive value hash
must equal the digest pinned in ``digests.json``.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

from common import (
    Tracer, catalyst_phases, digest, geomean, install_py4j_counter, job_group_counts,
    jvm_gc_ms, log, median, metric, now, parse_args, persisted_rdds, spark_anchors,
    write_result,
)
from datagen import write_tables
from layers import BATCH_QUERIES

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_SEED = 42  # the tables are fixed so the digests can be pinned; the
# run seed draws the query order
WARMUP_PASSES = 2


def load_digests(size: str) -> dict:
    with open(os.path.join(HERE, "digests.json")) as fh:
        return json.load(fh)[size]


def main() -> int:
    args = parse_args()
    size = "toy" if args.toy else "bench"
    from custom_python_vectordb_spark import registry
    from custom_python_vectordb_spark.session import get_spark

    spark = get_spark("perfbench-batch_queries")
    spark.sparkContext.setLogLevel("ERROR")
    sf = write_tables(os.path.abspath("tables"), size, DATA_SEED)
    registry.load_all()
    pinned = load_digests(size)
    if args.corrupt == "digest":
        pinned = {q: "0:" + "0" * 16 for q in pinned}
    rng = np.random.default_rng(args.seed)

    tracer = Tracer() if args.trace else None
    if tracer is not None:
        from layers import install_batch

        install_py4j_counter(tracer)
        install_batch(tracer)

    failures: list[str] = []
    got: dict[str, str] = {}

    def run_pass(p: int, traced: bool) -> dict:
        """One pass; returns per-query build/exec seconds and layer probes."""
        if tracer is not None:
            tracer.enabled = traced
        order = [BATCH_QUERIES[i] for i in rng.permutation(len(BATCH_QUERIES))]
        out = {"build": {}, "exec": {}, "layers": {}}
        for q in order:
            registry.clear_plan_memos()
            if traced:
                tracer.set_rid(f"{p}:{q}")
                c0 = tracer.counts.get("py4j.calls", 0)
            t0 = now()
            try:
                if traced:
                    with tracer.span("registry.build"):
                        df = registry.QUERIES[q].__wrapped__(spark, sf)
                    c1 = tracer.counts.get("py4j.calls", 0)
                    spark.sparkContext.setJobGroup(f"p{p}:{q}", q)
                    t1 = now()
                    with tracer.span("spark.collect"):
                        rows = df.collect()
                else:
                    df = registry.QUERIES[q].__wrapped__(spark, sf)
                    t1 = now()
                    rows = df.collect()
                t2 = now()
            except Exception as e:  # a failed query counts; the pass goes on
                failures.append(f"pass {p} {q}: {type(e).__name__}: {e}")
                continue
            out["build"][q], out["exec"][q] = t1 - t0, t2 - t1
            d = digest(df.columns, [tuple(r) for r in rows])
            got[q] = d
            if d != pinned.get(q):
                failures.append(f"pass {p} {q}: digest {d} != pinned {pinned.get(q)}")
            if traced:
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                lay = out["layers"].setdefault(q, {})
                lay["py4j"] = c1 - c0
                lay.update(catalyst_phases(df))
                lay["jobs"], lay["stages"], lay["tasks"] = job_group_counts(spark, f"p{p}:{q}")
        return out

    for w in range(-WARMUP_PASSES, 0):
        run_pass(w, False)
    setup_s = now() - args.t0

    passes: list[dict] = []
    pass_s: list[float] = []
    t_start = now()
    while len(passes) < 2 or now() - t_start < args.seconds:
        traced = tracer is not None and len(passes) % 2 == 1
        gc0 = jvm_gc_ms(spark)
        a = now()
        passes.append(run_pass(len(passes), traced))
        pass_s.append(now() - a)
        # drift and leak probes, outside the timed pass
        passes[-1].update(traced=traced, gc_ms=jvm_gc_ms(spark) - gc0,
                          persisted=persisted_rdds(spark))
        if args.toy and len(passes) >= 2 + (tracer is not None):
            break

    # every query run counts, warm-up ones too
    attempted = len(BATCH_QUERIES) * (WARMUP_PASSES + len(passes))
    failed = len(failures)
    for f in failures:
        log(f)
    correct = not failures
    untraced = [p for p in passes if not p["traced"]]
    q_ms = {q: median(p["build"][q] + p["exec"][q] for p in untraced
                      if q in p["build"]) * 1e3 for q in BATCH_QUERIES}
    un_pass_s = [s for s, p in zip(pass_s, passes) if not p["traced"]]
    detail = {
        "batch_s": {"value": median(un_pass_s), "unit": "s"},
        "batch_geomean_ms": {"value": geomean(q_ms.values()), "unit": "ms"},
        "pass_s": {"value": [round(x, 4) for x in pass_s], "unit": "s"},
        "pass_gc_ms": {"value": [p["gc_ms"] for p in passes], "unit": "ms"},
        "pass_persisted_rdds": {"value": [p["persisted"] for p in passes], "unit": "count"},
        "query_ms": {"value": {q: round(v, 3) for q, v in q_ms.items()}, "unit": "ms"},
        "error_rate": {"value": failed / max(1, attempted), "unit": "ratio"},
        "passes": {"value": len(passes), "unit": "count"},
        "digests": {"value": got, "unit": "digest"},
    }
    detail.update({k: {"value": v, "unit": "us" if k.endswith("_us") else "ms"}
                   for k, v in spark_anchors(spark).items()})
    if tracer is None:
        metrics = {
            "setup_s": metric(setup_s, "s"),
            "ops_per_s": metric(len(BATCH_QUERIES) / median(un_pass_s), "1/s"),
            "p50_ms": metric(geomean(q_ms.values()), "ms"),
        }
        spans_path = None
    else:
        metrics, spans_path = layer_metrics(tracer, passes, pass_s), os.path.abspath("spans.jsonl")
        tracer.dump(spans_path)
        detail["pass_traced"] = {"value": [p["traced"] for p in passes], "unit": "bool"}
    write_result(args.out, correct=correct, attempted=attempted, failed=failed,
                 metrics=metrics, detail=detail, spans_path=spans_path)
    spark.stop()
    return 0


def layer_metrics(tracer, passes, pass_s) -> dict:
    from layers import empty_layer_metrics

    m = empty_layer_metrics()
    tr = [p for p in passes if p["traced"]]
    if not tr:
        return m

    def per_pass(fn) -> float:
        return median(fn(p) for p in tr)

    m["registry.build_ms"]["value"] = per_pass(lambda p: sum(p["build"].values())) * 1e3
    m["spark.exec_ms"]["value"] = per_pass(lambda p: sum(p["exec"].values())) * 1e3
    for key, name in (("py4j", "py4j.calls"), ("analysis", "catalyst.analysis_ms"),
                      ("optimization", "catalyst.optimization_ms"),
                      ("planning", "catalyst.planning_ms"), ("jobs", "spark.jobs"),
                      ("stages", "spark.stages"), ("tasks", "spark.tasks")):
        m[name]["value"] = per_pass(lambda p: sum(v[key] for v in p["layers"].values()))
    loads = [s for s in tracer.spans if s[0] == "sources.load_table" and s[2] is not None]
    m["sources.load_table_calls"]["value"] = len(loads) / len(tr)
    m["sources.load_table_ms"]["value"] = sum(s[2] - s[1] for s in loads) / len(tr) * 1e3
    muts = [s for s in tracer.spans if s[0] == "operators.mutations" and s[2] is not None]
    m["operators.mutations_ms"]["value"] = sum(s[2] - s[1] for s in muts) / len(tr) * 1e3
    m["jvm.gc_ms"]["value"] = per_pass(lambda p: p["gc_ms"])
    m["spark.persisted_rdds"]["value"] = tr[-1]["persisted"]
    for q in BATCH_QUERIES:
        m[f"q.{q}.build_ms"]["value"] = median(p["build"][q] for p in tr if q in p["build"]) * 1e3
        m[f"q.{q}.exec_ms"]["value"] = median(p["exec"][q] for p in tr if q in p["exec"]) * 1e3
    t_tr = [s for s, p in zip(pass_s, passes) if p["traced"]]
    t_un = [s for s, p in zip(pass_s, passes) if not p["traced"]]
    m["trace.overhead_pct"]["value"] = (median(t_tr) / median(t_un) - 1.0) * 100.0
    m["trace.spans"]["value"] = len(tracer.spans)
    return m


if __name__ == "__main__":
    sys.exit(main())
