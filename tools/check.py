"""Local correctness checker mimicking the driver's t2 gate.

For each registered query: run the Spark plan and the DuckDB oracle at the
given sf, compare row count, column names, and order-insensitive values
(sorted rows, floats to 6 significant decimals).

The audit artifact is written BY THIS TOOL as JSON lines (one record per
registered query) — never via stdout redirect, which round 5 proved lossy
under Spark-stderr interleaving (CHECK_r05.txt: 192 ok-lines under a
"197 ok" summary; r5 VERDICT "What's wrong" #1). The human-readable
summary is DERIVED from the written lines after the fact, so the file can
never disagree with itself.

Usage:
    python tools/check.py [sf_dir] [--out CHECK_rN.jsonl] [query ...]
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def normalize(rows, columns):
    """Order-insensitive canonical form: sort columns by name, then rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def norm_val(v):
        if v is None:
            return "\x00"
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            return f"{v:.6g}"
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(norm_val(x) for x in v) + "]"
        return str(v)

    return sorted(tuple(norm_val(r[i]) for i in order) for r in rows)


def pinned_values_equal(srows, scols, orows, ocols, atol=5e-4) -> bool:
    """Tolerance compare for engine-authored per-scale fixtures (r12,
    VERDICT r11 task 4): a pinned fixture is the engine's OWN prior
    output, so a BLAS last-ulp drift across containers (r11: media_features
    doc 668, sdot −0.240894 → −0.240895 exactly on the 6-decimal rounding
    boundary) must not read as a regression and force a re-freeze. Rows
    are aligned by sorting on a COARSE key (floats at 3 decimals — a flip
    needs ~1e-4 of drift to move the key, 4 orders above ulp noise), then
    floats compare with absolute tolerance and everything else strictly.
    Any residual mismatch is loud, never absorbed. Strict hashing still
    applies at the pinned scale itself (the driver's gate) and to every
    independently-derived DuckDB oracle."""
    if len(srows) != len(orows):
        return False
    os_ = sorted(range(len(scols)), key=lambda i: scols[i].lower())
    oo = sorted(range(len(ocols)), key=lambda i: ocols[i].lower())

    def flat(v, out):
        # flatten nested arrays so float elements compare with tolerance
        if isinstance(v, (list, tuple)):
            out.append("[")
            for x in v:
                flat(x, out)
            out.append("]")
        else:
            out.append(v)
        return out

    def canon(rows, order):
        def key(fr):
            return tuple(
                ("nan" if math.isnan(v) else f"{v:+.3f}")
                if isinstance(v, float)
                else ("\x00" if v is None else str(v))
                for v in fr
            )

        return sorted(([x for i in order for x in flat(r[i], [])] for r in rows), key=key)

    for ra, rb in zip(canon(srows, os_), canon(orows, oo)):
        if len(ra) != len(rb):
            return False
        for va, vb in zip(ra, rb):
            if isinstance(va, float) and isinstance(vb, float):
                if math.isnan(va) and math.isnan(vb):
                    continue
                if not abs(va - vb) <= atol:  # NaN-vs-number fails here
                    return False
            elif va != vb:
                return False
    return True


def main() -> int:
    import duckdb

    from __spark_entry__ import oracle_sql, queries
    from custom_python_vectordb_spark import registry
    from custom_python_vectordb_spark.session import get_spark
    from custom_python_vectordb_spark.sources.catalog import TABLES

    argv = list(sys.argv[1:])
    out_path = None
    if "--out" in argv:
        i = argv.index("--out")
        out_path = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    spark = get_spark("check")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = queries(), oracle_sql()
    sink = open(out_path, "w") if out_path else None
    # failure count tracked INDEPENDENTLY of the sink so the exit code is a
    # real gate in the no---out path too (round-6 ADVICE: returning 0 there
    # silently disabled any CI invoking `python tools/check.py` bare)
    live_counts: dict[str, int] = {}

    def record(rec: dict) -> None:
        live_counts[rec["status"]] = live_counts.get(rec["status"], 0) + 1
        if sink is not None:
            sink.write(json.dumps(rec) + "\n")
            sink.flush()
        status, name = rec["status"], rec["name"]
        tail = rec.get("detail") or f"rows={rec.get('rows')} ({rec.get('secs')}s)"
        print(f"{status:<10}{name}: {tail}")

    n_checked = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_checked += 1
        t0 = time.time()
        rec = {"name": name, "status": None, "rows": None, "secs": None, "detail": None}
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            rec.update(status="fail", detail=f"spark error: {e}")
            record(rec)
            continue
        rec["rows"] = len(srows)
        rec["secs"] = round(time.time() - t0, 1)
        if name not in oracles:
            rec["status"] = "weak"
            record(rec)
            continue
        pinned = registry.ORACLE_SF.get(name)
        oracle_sql_str = oracles[name]
        if pinned and not sf_dir.rstrip("/").endswith(pinned):
            # snapshot-built oracle pinned to another scale. r10: consult
            # the per-scale fixture oracles first (parquet snapshots,
            # queries/scale_snapshots.py) — only when none is registered
            # does the row stay 'scoped' (the documented loudness, not a
            # correctness failure; the driver's gate runs at the pinned
            # scale, where it is strict).
            suffix = sf_dir.rstrip("/").rsplit("/", 1)[-1]
            alt = registry.resolve_scale_oracle(name, suffix)
            if alt is None:
                rec.update(status="scoped", detail=f"oracle pinned to {pinned}, rows={len(srows)}")
                record(rec)
                continue
            oracle_sql_str = alt
            # r11 (r10 ADVICE): a per-scale parquet fixture is the engine's
            # own prior output — regression PINNING, not an independent
            # DuckDB derivation. Preserve that distinction in the artifact.
            rec["detail"] = "pinned"
        try:
            rel = con.sql(oracle_sql_str)
            ocols = rel.columns
            orows = rel.fetchall()
        except Exception as e:
            rec.update(status="fail", detail=f"oracle error: {e}")
            record(rec)
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} duck={len(orows)}")
        if sorted(scols) != sorted(c.lower() for c in ocols) and sorted(c.lower() for c in scols) != sorted(
            c.lower() for c in ocols
        ):
            problems.append(f"columns spark={sorted(scols)} duck={sorted(ocols)}")
        if not problems:
            if rec.get("detail") == "pinned":
                # engine-authored fixture at a non-pinned scale: tolerance
                # compare (see pinned_values_equal) — strict hashing would
                # re-raise the r11 ulp-flip class on every fresh container
                if not pinned_values_equal(srows, scols, orows, ocols):
                    a, b = normalize(srows, scols), normalize(orows, ocols)
                    diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                    problems.append(f"pinned values differ beyond tol: {diff}")
            else:
                a, b = normalize(srows, scols), normalize(orows, ocols)
                if a != b:
                    diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                    problems.append(f"values differ, first diffs: {diff}")
        if problems:
            rec.update(status="fail", detail="; ".join(problems))
        else:
            # hash-verified against an engine-authored fixture vs an
            # independently-derived DuckDB oracle are DIFFERENT evidence
            # classes — label the former 'pinned-ok' so sweep artifacts
            # never conflate them (r10 ADVICE).
            rec["status"] = "pinned-ok" if rec.get("detail") == "pinned" else "ok"
        record(rec)

    if sink is not None:
        sink.close()
        # summary DERIVED from the artifact itself — re-read what was
        # written so the printed counts and the file cannot diverge
        with open(out_path) as fh:
            recs = [json.loads(line) for line in fh if line.strip()]
    else:
        recs = None

    if recs is not None:
        counts: dict[str, int] = {}
        for r in recs:
            counts[r["status"]] = counts.get(r["status"], 0) + 1
        print(
            f"\n{counts.get('ok', 0)} ok, {counts.get('pinned-ok', 0)} pinned-ok, "
            f"{counts.get('weak', 0)} weak, "
            f"{counts.get('scoped', 0)} scoped, {counts.get('fail', 0)} failed "
            f"({len(recs)} records, registry size {len(qs)}) -> {out_path}"
        )
        return 1 if counts.get("fail", 0) else 0
    print(f"\nchecked {n_checked} (no --out artifact)")
    return 1 if live_counts.get("fail", 0) else 0


if __name__ == "__main__":
    sys.exit(main())
