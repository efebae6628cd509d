"""Top-k patterns (SURVEY.md §2.4).

The reference's argpartition top-k (``vectordb_optimized.py:694-707``) and
chunked parallel top-k + merge (``parallel_search.py:313-368,137-156``) are
both the SAME distributed algorithm Spark already implements:

- global top-k      → `ORDER BY … LIMIT k` → TakeOrderedAndProject
  (per-partition partial top-k, merge at driver — exactly K4's chunked merge)
- per-group top-k   → `row_number() OVER (PARTITION BY g ORDER BY …) <= k`
  → Spark ≥3.5 rewrites via WindowGroupLimit into per-partition partial
  limiting BEFORE the shuffle, so the full corpus never shuffles.

Both verified via .explain in tests/test_plans.py.

The in-process serving tiers rank in NumPy with the same total order:
:func:`topk_positions` / :func:`topk_tie_aware` keep the k smallest by
(dist, id), for one distance row or a (Q, N) matrix, and
:func:`topk_by_group` merges ragged per-group candidates by the same rule.
Merging partial top-ks is exact only when every partial ranks by the order
of the final merge, so every NumPy top-k of those tiers goes through here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(
    df: DataFrame,
    group: str | list[str],
    k: int,
    *order: Column,
    rank_col: str | None = None,
) -> DataFrame:
    """Per-group top-k via row_number window (WindowGroupLimit pushes the
    limit below the shuffle). `order` must be deterministic — callers always
    pass a unique tie-breaker column last."""
    groups = [group] if isinstance(group, str) else list(group)
    w = Window.partitionBy(*groups).orderBy(*order)
    name = rank_col or "__rank"
    out = df.withColumn(name, F.row_number().over(w)).filter(F.col(name) <= k)
    return out if rank_col else out.drop(name)


def _make_topk():
    # Factory indirection on purpose (same reason as similarity._make_lloyd):
    # the returned function's qualname is not module-resolvable, so
    # cloudpickle ships it BY VALUE inside worker closures
    # (knn.knn_shard_gemm_serve) instead of importing this repo there.
    def topk_positions(np, ids, d, k: int):
        """Positions of the k smallest entries of ``d`` by (dist, id),
        in that order: distance ties break by id. ``d`` is one row (N,)
        or a (Q, N) matrix ranked row by row; ``ids`` is (N,) or the
        same shape as ``d``. Returns (m,) or (Q, m), m = min(k, N).

        One introselect pass at m puts the m smallest in front and the
        (m+1)-th order statistic in sorted place, so a row without a tie
        at the k-th boundary needs only an m-element lexsort; only a row
        whose boundary ties runs the ``d <= kth`` widening scan. uint8 /
        uint16 distances (Hamming counts) find the boundary by bincount,
        one row at a time."""
        n = d.shape[-1]
        m = min(k, n)
        small_int = d.dtype.kind == "u" and d.itemsize <= 2
        if d.ndim == 1:
            if not 0 < m < n:
                sel = np.arange(m)
            elif small_int:
                # small integer distances (Hamming counts): one bincount
                # pass gives the k-th boundary value, no introselect
                sel = np.nonzero(d <= int(np.searchsorted(np.cumsum(np.bincount(d)), m)))[0]
            else:
                idx = d.argpartition(m)
                sel = idx[:m]
                ds = d[sel]
                kth = ds.max()
                if d[idx[m]] > kth:
                    return sel[np.lexsort((ids[sel], ds))]
                sel = np.nonzero(d <= kth)[0]
            return sel[np.lexsort((ids[sel], d[sel]))[:m]]
        if small_int:
            out, rows = np.empty((len(d), m), dtype=np.int64), range(len(d))
        else:
            rows = ()
            if 0 < m < n:
                idx = d.argpartition(m, axis=1)
                sel = idx[:, :m]
                ds = np.take_along_axis(d, sel, 1)
                nxt = np.take_along_axis(d, idx[:, m:m + 1], 1)[:, 0]
                rows = np.flatnonzero(~(nxt > ds.max(1)))  # boundary ties
            else:
                sel = np.broadcast_to(np.arange(m), d.shape[:1] + (m,))
                ds = d[:, :m]
            sid = ids[sel] if ids.ndim == 1 else np.take_along_axis(ids, sel, 1)
            out = np.take_along_axis(sel, np.lexsort((sid, ds), axis=1), 1)
        for r in rows:
            out[r] = topk_positions(np, ids if ids.ndim == 1 else ids[r], d[r], k)
        return out

    return topk_positions


topk_positions = _make_topk()


def topk_tie_aware(np, ids, d, k: int):
    """(ids, dists) of the k smallest by (dist, id) — :func:`topk_positions`
    gathered, distances as float64. One row gives (m,) arrays, a (Q, N)
    matrix gives (Q, m) ones."""
    pos = topk_positions(np, ids, d, k)
    if d.ndim == 1:
        return ids[pos], d[pos].astype(np.float64)
    out_ids = ids[pos] if ids.ndim == 1 else np.take_along_axis(ids, pos, 1)
    return out_ids, np.take_along_axis(d, pos, 1).astype(np.float64)


def topk_by_group(np, groups, ids, d, k: int):
    """Positions of at most k entries per group value, the smallest by
    (dist, id), ordered by (group, dist, id): the merge of ragged
    per-group candidate lists (a query's per-cell partials)."""
    order = np.lexsort((ids, d, groups))
    g = groups[order]
    start = np.r_[0, np.flatnonzero(g[1:] != g[:-1]) + 1]
    rank = np.arange(len(g)) - np.repeat(start, np.diff(np.r_[start, len(g)]))
    return order[rank < k]


def topk_frame(id_col: str, dist_col: str, qids=None, ids=None, d=None):
    """The serving result frame (qid, id, dist) for per-query top-k rows
    ``ids``/``d`` of shape (Q, m) aligned with ``qids``, ordered by (qid,
    dist, id); with no rows given, the empty frame."""
    import numpy as np
    import pandas as pd

    if qids is None:
        return pd.DataFrame({"qid": [], id_col: [], dist_col: []})
    q = np.repeat(np.asarray(qids), ids.shape[1])
    order = np.argsort(q, kind="stable")
    return pd.DataFrame(
        {"qid": q[order], id_col: ids.ravel()[order], dist_col: d.ravel()[order]}
    )
