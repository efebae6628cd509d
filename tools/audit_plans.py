"""Full-registry physical-plan audit (r13 optimization round).

Builds every registered query's DataFrame at the given sf (plan only — no
execution) and records the scale-relevant markers per plan:

- CartesianProduct           (accidental all-pairs: always a flag)
- SortMergeJoin              (worth eyeballing: is a broadcast expected?)
- BatchEvalPython/ArrowEvalPython/MapInArrow/FlatMapGroupsInPandas
                             (Python-boundary nodes; mapInArrow kernels are
                             deliberate, row-UDF nodes are not)
- Exchange / BroadcastExchange counts (shuffle structure)
- PushedFilters presence on parquet scans

Writes artifacts/PLAN_AUDIT.jsonl under the checkout (one record per
query) unless --out names another file, and prints a summary of flagged
queries. Used to prove the optimization round examined EVERY
operator, not just the bench headline.

Usage: python tools/audit_plans.py [sf_dir] [--out PLAN_AUDIT.jsonl]
"""

from __future__ import annotations

import json
import os
import re
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def main() -> None:
    args = [a for a in sys.argv[1:]]
    out_path = os.path.join(_REPO, "artifacts", "PLAN_AUDIT.jsonl")
    if "--out" in args:
        i = args.index("--out")
        out_path = args[i + 1]
        del args[i : i + 2]
    os.makedirs(os.path.dirname(os.path.abspath(out_path)), exist_ok=True)
    sf_dir = args[0] if args else "/root/testdata/sf0.01"

    from custom_python_vectordb_spark import registry
    from custom_python_vectordb_spark.plans.explain import plan_of
    from custom_python_vectordb_spark.session import get_spark

    registry.load_all()
    spark = get_spark("audit_plans")
    spark.sparkContext.setLogLevel("ERROR")

    markers = {
        "cartesian": "CartesianProduct",
        "smj": "SortMergeJoin",
        "batch_eval_py": "BatchEvalPython",
        "arrow_eval_py": "ArrowEvalPython",
        "map_in_arrow": "MapInArrow",
        "bhj": "BroadcastHashJoin",
        "bnlj": "BroadcastNestedLoopJoin",
        "window_group_limit": "WindowGroupLimit",
    }

    records = []
    with open(out_path, "w") as out:
        for name in sorted(registry.QUERIES):
            rec: dict = {"query": name}
            try:
                df = registry.QUERIES[name](spark, sf_dir)
                plan = plan_of(df)
                for key, pat in markers.items():
                    c = plan.count(pat)
                    if c:
                        rec[key] = c
                # shuffle exchanges = Exchange nodes that are not broadcast
                rec["exchange"] = len(re.findall(r"\bExchange hashpartitioning|\bExchange rangepartitioning|\bExchange SinglePartition", plan))
                rec["broadcast_exchange"] = plan.count("BroadcastExchange")
                scans = plan.count("Scan parquet")
                rec["parquet_scans"] = scans
                rec["pushed_filters"] = plan.count("PushedFilters: [") - plan.count("PushedFilters: []")
                rec["ok"] = True
            except Exception as e:  # noqa: BLE001
                rec["ok"] = False
                rec["error"] = f"{type(e).__name__}: {e}"[:300]
            records.append(rec)
            out.write(json.dumps(rec) + "\n")
            out.flush()

    flags = []
    for r in records:
        why = []
        if r.get("cartesian"):
            why.append(f"CartesianProduct×{r['cartesian']}")
        if r.get("smj"):
            why.append(f"SortMergeJoin×{r['smj']}")
        if r.get("batch_eval_py"):
            why.append(f"BatchEvalPython×{r['batch_eval_py']}")
        if not r.get("ok"):
            why.append(f"ERROR {r.get('error')}")
        if why:
            flags.append((r["query"], ", ".join(why)))
    print(f"\naudited {len(records)} queries -> {out_path}")
    print(f"flagged: {len(flags)}")
    for q, why in flags:
        print(f"  {q}: {why}")
    spark.stop()


if __name__ == "__main__":
    main()
