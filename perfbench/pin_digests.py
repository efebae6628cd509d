"""Pin ``digests.json``: the expected result digest of every batch_queries
query, at both table sizes, taken from a Spark run whose results match the
registry's DuckDB oracle for the same generated tables.

    python3 perfbench/pin_digests.py     # from the checkout root

Refuses to write when a query has no oracle or its Spark result differs
from the oracle.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import digest  # noqa: E402
from datagen import write_tables  # noqa: E402
from layers import BATCH_QUERIES  # noqa: E402


def main() -> int:
    import duckdb

    sys.path.insert(0, os.getcwd())
    from batch_queries import DATA_SEED
    from custom_python_vectordb_spark import registry
    from custom_python_vectordb_spark.session import get_spark
    from custom_python_vectordb_spark.sources.catalog import TABLES

    registry.load_all()
    oracles = registry.resolved_oracles()
    spark = get_spark("perfbench-pin")
    work = os.path.abspath(os.path.join(".perfbench_tmp", "pin"))
    pinned: dict[str, dict[str, str]] = {}
    bad = []
    try:
        for size in ("bench", "toy"):
            sf = write_tables(os.path.join(work, size), size, DATA_SEED)
            con = duckdb.connect()
            for t in TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
            pinned[size] = {}
            for q in BATCH_QUERIES:
                registry.clear_plan_memos()
                df = registry.QUERIES[q].__wrapped__(spark, sf)
                s = digest(df.columns, [tuple(r) for r in df.collect()])
                if q not in oracles:
                    bad.append(f"{size} {q}: no DuckDB oracle")
                    continue
                rel = con.sql(oracles[q])
                o = digest(rel.columns, rel.fetchall())
                print(f"{size:6} {q:20} spark={s} oracle={o}", flush=True)
                if s != o:
                    bad.append(f"{size} {q}: spark {s} != oracle {o}")
                pinned[size][q] = s
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    if bad:
        print("not pinned:\n  " + "\n  ".join(bad), file=sys.stderr)
        return 1
    with open(os.path.join(HERE, "digests.json"), "w") as fh:
        json.dump(pinned, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print("wrote digests.json")
    return 0


if __name__ == "__main__":
    sys.exit(main())
