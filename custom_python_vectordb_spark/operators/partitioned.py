"""Partition-local ANN index — the cluster analog of the reference's HNSW.

The reference accelerates exact scan with an in-process hnswlib index
(``vectordb_optimized.py:271-280, 507-575``): sub-linear candidate probing,
recall traded via ef/M. On a cluster the same role is a SHARDED index: each
partition builds an index over ITS OWN rows once per job, probes it per
query, and the driver-side contract stays (qid, vec_id, dist) top-k — the
global merge is the same WindowGroupLimit top-k used everywhere else.

Here the per-partition index is a small IVF built with NumPy inside
``mapInPandas`` (hnswlib isn't in this runtime, and an IVF keeps the whole
build deterministic):

- build: k-means over the partition's vectors (Lloyd, fixed iteration
  count, centroids seeded from the lowest-id rows — fully deterministic
  given partition membership, which the modulo shard key pins);
- probe: per query score centroids, take the `nprobe` nearest cells,
  exact-score only their members (GEMM over the gathered submatrix);
- merge: local top-k per query → global top-k per query.

Scanned fraction ≈ nprobe/n_cells per partition. Recall is measured, not
assumed: `recall_partitioned_vs_exact` (queries/extras registration) joins
this against the exact kNN truth — the reference's own quality-gate
methodology (``benchmark_quantization.py:874-928``).

At 100 TB: partitions sized to executor memory, the index build amortizes
over the query batch shipped in the closure (Q ≤ ~10⁴), and the corpus
never shuffles after the one deterministic range partitioning — which a
real deployment replaces with a bucketed/sorted table so even that shuffle
happens once at write time, not per job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from custom_python_vectordb_spark.operators import shard_tier
from custom_python_vectordb_spark.operators.quantization import _load_snapshot
from custom_python_vectordb_spark.operators.topk import (
    top_k_per_group,
    topk_by_group,
    topk_frame,
    topk_positions,
    topk_tie_aware,
)


def knn_partitioned(
    corpus: DataFrame,
    queries_pd,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 6,
    num_partitions: int = 4,
    metric: str = "cosine",
    assign_r: int = 2,
    *,
    dtype: str = "float64",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dist_col: str = "dist",
    assume_sharded: bool = False,
) -> DataFrame:
    """Approximate top-k via per-partition IVF index. `queries_pd`: pandas
    (qid, qvec). Deterministic: modulo sharding by id + seeded k-means.

    `assume_sharded`: the caller guarantees `corpus` is already partitioned
    the way a production deployment stores it (bucketed/pre-repartitioned,
    e.g. via `sources/warehouse.py:save_bucketed` or a persisted
    ``repartition(n, id % n)``) — skips the per-call shuffle, leaving only
    the probe cost. Partition membership then follows the CALLER's layout,
    so determinism is the caller's contract.

    `assign_r`: each vector is indexed under its `assign_r` nearest cells
    (multi-assignment). Border vectors — the dominant recall loss of plain
    IVF — stay reachable from both neighbouring cells, a strictly better
    recall/scan trade than raising nprobe. Scanned fraction ≈
    nprobe·assign_r/n_cells. `dtype`: float64 (default) keeps ties and
    distances bit-stable; float32 halves bandwidth for serving paths.
    """
    qids_l = queries_pd["qid"].to_list()
    qvecs_l = [list(map(float, v)) for v in queries_pd["qvec"]]
    kk, cells, probe, met, rr, dt = k, n_cells, nprobe, metric, assign_r, dtype
    idc, vc, dc = id_col, vec_col, dist_col

    def build_and_search(batches):
        import numpy as np
        import pandas as pd

        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        ids = pdf[idc].to_numpy()
        order = np.argsort(ids, kind="stable")  # centroid seeding by lowest id
        ids = ids[order]
        mat = np.asarray([np.asarray(v, dtype=dt) for v in pdf[vc]])[order]
        qmat = np.asarray(qvecs_l, dtype=dt)
        if met == "cosine":
            mn = np.linalg.norm(mat, axis=1, keepdims=True)
            mat = mat / np.where(mn == 0, 1.0, mn)
            qn = np.linalg.norm(qmat, axis=1, keepdims=True)
            qmat = qmat / np.where(qn == 0, 1.0, qn)

        n = len(ids)
        c = min(cells, max(1, n // max(2 * kk, 1)))
        # Lloyd's, deterministic: init = first c rows (lowest ids), 5 iters
        cent = mat[:c].copy()
        for _ in range(5):
            d2 = ((mat * mat).sum(1)[:, None] + (cent * cent).sum(1)[None, :]
                  - 2.0 * (mat @ cent.T))
            assign = d2.argmin(1)
            for j in range(c):
                members = mat[assign == j]
                if len(members):
                    cent[j] = members.mean(0)

        # multi-assignment: membership under the r nearest cells each
        r = min(rr, c)
        d2 = ((mat * mat).sum(1)[:, None] + (cent * cent).sum(1)[None, :]
              - 2.0 * (mat @ cent.T))
        multi_assign = np.argpartition(d2, r - 1, axis=1)[:, :r]

        qd2 = ((qmat * qmat).sum(1)[:, None] + (cent * cent).sum(1)[None, :]
               - 2.0 * (qmat @ cent.T))
        p = min(probe, c)
        probe_cells = np.argpartition(qd2, p - 1, axis=1)[:, :p]

        # batched probe, inverted: one GEMM per CELL over (members × probing
        # queries) — per-query gathers would dominate; per-cell blocks keep
        # the work in BLAS at scan_fraction × brute-force flops
        qids_arr = np.asarray(qids_l)
        out_frames = []
        for j in range(c):
            msel = np.nonzero((multi_assign == j).any(axis=1))[0]
            qsel = np.nonzero((probe_cells == j).any(axis=1))[0]
            if not len(msel) or not len(qsel):
                continue
            sub = mat[msel]
            qsub = qmat[qsel]
            if met == "cosine":
                dmat = 1.0 - sub @ qsub.T
            elif met == "l2":
                dmat = np.sqrt(np.maximum(
                    (sub * sub).sum(1)[:, None] - 2.0 * (sub @ qsub.T)
                    + (qsub * qsub).sum(1)[None, :], 0.0))
            else:  # ip
                dmat = -(sub @ qsub.T)
            m = min(kk, len(msel))
            idx = np.argpartition(dmat, m - 1, axis=0)[:m]          # (m, |Q_j|)
            out_frames.append(pd.DataFrame({
                "qid": np.broadcast_to(qids_arr[qsel], (m, len(qsel))).ravel(),
                idc: ids[msel][idx].ravel(),
                dc: np.take_along_axis(dmat, idx, axis=0).ravel(),
            }))
        if not out_frames:
            return
        allc = pd.concat(out_frames, ignore_index=True)
        # a row indexed under 2 cells can reach the same query via both —
        # drop duplicates so the global top-k never counts an id twice
        allc = allc.drop_duplicates(["qid", idc])
        # per-partition prune to k per query before the shuffle
        allc = allc.sort_values(["qid", dc, idc]).groupby("qid", sort=False).head(kk)
        yield allc

    # NOT repartitionByRange: RangePartitioner samples boundaries with an
    # RDD-id-derived seed, so partition membership (and thus the per-shard
    # index) would differ run to run. An explicit modulo shard key hashes
    # identically every run.
    if assume_sharded:
        sharded = corpus.select(id_col, vec_col)
    else:
        sharded = (
            corpus.select(id_col, vec_col)
            .repartition(num_partitions, F.col(id_col) % num_partitions)
        )
    partial = sharded.mapInPandas(build_and_search, schema=f"qid long, {idc} long, {dc} double")
    return top_k_per_group(partial, "qid", k, F.col(dist_col).asc(), F.col(id_col).asc()).orderBy(
        "qid", dist_col, id_col
    )


# -------------------------------------------------- in-process IVF replica

def _train_assign_cells(np, mat, n_cells: int, assign_r: int,
                        train_sample_cap: int, train_iters: int):
    """(cent, multi): sampled Lloyd + one chunked full-corpus
    multi-assignment. Caller wraps in _blas_threads. Build cost is LINEAR
    in the corpus (the r10 1M probe measured the full-matrix Lloyd at
    alpha 1.71 — N×c distance blocks train_iters× over plus two O(N·c)
    per-cell python loops):

    - Lloyd trains on a deterministic evenly-spaced row sample of at most
      `train_sample_cap` rows (positions from the id-sorted matrix, the
      k-means sample-training standard — FAISS trains IVF codebooks the
      same way); corpora at or under the cap train on every row, so the
      serving-scale bench index is built from the same data as before.
    - Centroid updates are one `np.add.at` scatter + bincount, not a
      per-cell member scan.
    - The full-corpus assignment runs once, in row chunks sized so the
      chunk×c distance block stays ~256 MB."""
    n = len(mat)
    c = min(n_cells, n)
    if n > train_sample_cap:
        # evenly spaced positions over the id-sorted matrix: stable
        # across runs, no RNG, covers every id range
        tsel = np.linspace(0, n - 1, train_sample_cap).astype(np.int64)
        tmat = np.ascontiguousarray(mat[tsel])
    else:
        tmat = mat
    cent = tmat[:c].copy()
    sq_t = (tmat * tmat).sum(1)[:, None]
    for _ in range(train_iters):
        assign = (sq_t + (cent * cent).sum(1)[None, :] - 2.0 * (tmat @ cent.T)).argmin(1)
        sums = np.zeros_like(cent)
        np.add.at(sums, assign, tmat)
        counts = np.bincount(assign, minlength=c)
        nz = counts > 0
        cent[nz] = sums[nz] / counts[nz, None]
    r = min(assign_r, c)
    chunk = max(1, 32_000_000 // max(c, 1))
    multi = np.empty((n, r), dtype=np.int64)
    cent_sq = (cent * cent).sum(1)[None, :]
    for s in range(0, n, chunk):
        blk = mat[s : s + chunk]
        d2 = (blk * blk).sum(1)[:, None] + cent_sq - 2.0 * (blk @ cent.T)
        multi[s : s + chunk] = np.argpartition(d2, r - 1, axis=1)[:, :r]
    return cent, multi


def _group_rows_by_cell(np, multi, c: int):
    """[increasing row-index array per cell] via one argsort of the
    flattened (row, cell) list; row-major flattening keeps each cell's
    member rows in increasing id order, matching the per-cell
    boolean-scan form this replaced (property-tested)."""
    n, r = multi.shape
    flat_cells = multi.ravel()
    flat_rows = np.repeat(np.arange(n, dtype=np.int64), r)
    gorder = np.argsort(flat_cells, kind="stable")
    gcells = flat_cells[gorder]
    grows = flat_rows[gorder]
    bounds = np.flatnonzero(np.r_[True, gcells[1:] != gcells[:-1], True])
    rowlists = [np.empty(0, dtype=np.int64)] * c
    for b in range(len(bounds) - 1):
        rowlists[int(gcells[bounds[b]])] = grows[bounds[b] : bounds[b + 1]]
    return rowlists


# the build parameters of an IVF index, in the order of its params tuple
_IVF_KW = ("id_col", "dtype", "metric", "n_cells", "assign_r", "train_sample_cap", "train_iters")


def _ivf_resolve(shard_paths: list[str], params: tuple, index_dir=None, nprobe=None):
    """The IVF index built with ``params`` (ordered as ``_IVF_KW``) over a
    shard set, resolved through the shard tier:
    (stat_key, centroids, [cell ids], [cell matrices], [cell row
    positions], centroid square norms, [cell row square norms] for l2
    else None, cell sizes, the flat arrays), or None when the shards hold
    no rows. Build is linear in the corpus: see :func:`_train_assign_cells`.

    ``index_dir`` adds the DISK warm-start tier under the in-process one:
    a build first loads the snapshot saved for this (shards, geometry)
    when its build-time stat key matches the live shards, else builds from
    parquet and saves a snapshot (recording ``nprobe`` as the loader's
    default) for the next booting worker. N share-nothing serving workers
    pay ONE k-means, not N."""
    # index_dir is part of the key: an entry built without it has no
    # snapshot on disk for the next booting worker
    return shard_tier.resolve(
        "ivf", shard_paths, (*params, index_dir),
        lambda paths, sk: _ivf_build(paths, sk, params, index_dir, nprobe),
    )


def _ivf_build(paths, stat_key, params, index_dir, nprobe):
    import hashlib
    import os as _os

    import numpy as np

    from custom_python_vectordb_spark.operators.knn import _blas_threads

    id_col, dtype, metric, n_cells, assign_r, cap, iters = params
    snap_dir = None
    if index_dir is not None:
        # one snapshot per (shards, build-geometry); nprobe is query-time
        # and deliberately NOT part of the tag
        tag = hashlib.md5(
            repr((paths, n_cells, assign_r, metric, id_col, dtype)).encode()
        ).hexdigest()[:16]
        snap_dir = _os.path.join(index_dir, f"ivf_{tag}")
        got = shard_tier.load(snap_dir, "ivf_index")
        if got is not None and got[1]["stat_key"] == stat_key:
            return _ivf_snap(np, stat_key, got[0], metric)
    loaded = shard_tier.load_vectors(paths, id_col, dtype, sort_ids=True)
    if loaded is None:
        return None
    ids, mat = loaded
    if metric == "cosine":
        mn = np.linalg.norm(mat, axis=1, keepdims=True)
        mat = mat / np.where(mn == 0, 1.0, mn)
    with _blas_threads(16):
        cent, multi = _train_assign_cells(np, mat, n_cells, assign_r, cap, iters)
    rowlists = _group_rows_by_cell(np, multi, len(cent))
    # cell-major flat layout: each cell's rows back-to-back. The int64
    # corpus-row positions are what the handle's assign_r dedup keys on
    # instead of id VALUES — an object-dtype (string-id) lexsort over the
    # probed rows measured 9 ms/query (r12 soak)
    rows = np.concatenate(rowlists)
    arrays = {
        "cent": cent, "cell_lens": np.array([len(r) for r in rowlists], dtype=np.int64),
        "cell_rows": rows, "cell_ids": ids[rows], "cell_mats": mat[rows],
    }
    snap = _ivf_snap(np, stat_key, arrays, metric)
    if snap_dir is not None:
        _ivf_save(snap_dir, snap, params, nprobe)
    return snap


def _ivf_snap(np, stat_key, arrays, metric):
    """The resolved IVF index over its flat cell-major ``arrays`` (the
    snapshot's contents): per-cell views split at the cell lengths — axis-0
    splits of a C-order matrix are contiguous, GEMV-ready blocks — plus
    the derived square norms, and ``arrays`` itself last, for saving."""
    lens = arrays["cell_lens"]
    bounds = np.cumsum(lens)[:-1]
    cent = arrays["cent"]
    cell_mats = np.split(arrays["cell_mats"], bounds)
    cell_sq = [(m * m).sum(1) for m in cell_mats] if metric == "l2" else None
    return (stat_key, cent, np.split(arrays["cell_ids"], bounds), cell_mats,
            np.split(arrays["cell_rows"], bounds), (cent * cent).sum(1), cell_sq, lens, arrays)


def _ivf_save(out_dir, snap, params, nprobe) -> None:
    shard_tier.save(out_dir, "ivf_index", snap[-1],
                    {"stat_key": snap[0], "kw": dict(zip(_IVF_KW, params)), "nprobe": nprobe})


def _ivf_probe(np, snap, metric: str, assign_r: int, q, probes):
    """(ids, dists) of every row in the `probes` cells for one prepared
    query (multi-assigned rows once, at their smaller distance)."""
    _sk, _cent, cell_ids, cell_mats, cell_rows, _csq, cell_sq, _len, _arrays = snap
    # r11: per-probe GEMVs emit raw dots; the dist transform runs ONCE
    # over the concatenated result. Elementwise ops are grouping-
    # independent, so values are bit-identical to the per-cell form
    # (parity-asserted vs the batch path in tests), but the nprobe-1
    # extra temporaries + passes disappear — ~8% off the measured p50.
    id_parts, row_parts, d_parts, sq_parts = [], [], [], []
    for j in probes:
        sids = cell_ids[j]
        if not len(sids):
            continue
        id_parts.append(sids)
        row_parts.append(cell_rows[j])
        d_parts.append(cell_mats[j] @ q)
        if cell_sq is not None:
            sq_parts.append(cell_sq[j])
    if not id_parts:
        return np.empty(0, dtype=np.int64), np.empty(0)
    ids = np.concatenate(id_parts)
    dots = np.concatenate(d_parts)
    if metric == "cosine":
        d = 1.0 - dots
    elif metric == "l2":
        d = np.sqrt(np.maximum(np.concatenate(sq_parts) - 2.0 * dots + q @ q, 0.0))
    else:  # ip
        d = -dots
    if assign_r > 1:
        # same keep-the-smaller dedup rule as the batch path (per-cell
        # GEMV copies can differ in the last ulp), but keyed on int64
        # corpus-row positions instead of id values: row ↔ id is a
        # bijection within one corpus, and an object-dtype string-id
        # lexsort over the probed rows measured 9 ms/query (r12 soak)
        # vs ~50 µs on int rows
        rows = np.concatenate(row_parts)
        order = np.lexsort((d, rows))
        ids, d, rows = ids[order], d[order], rows[order]
        keep = np.r_[True, rows[1:] != rows[:-1]]
        ids, d = ids[keep], d[keep]
    return ids, d


def _probe_cells(np, cscore, cells, nprobe: int, k: int, r: int):
    """The cells one query probes: the ``nprobe`` nearest by ``cscore``,
    widened nearest-first (stable on ties) until they hold k distinct rows
    or run out. ``cells[j]`` lists cell j's rows (row positions or ids);
    each row sits in ``r`` cells, so k·r probed slots already hold k rows
    and the common case costs one argpartition over the centroid scores.
    With assign_r=1 a query far from every cluster can land on empty
    cells; the widening keeps every IVF path (both handles, the batch
    serve, the IVF-PQ auto-M probe) at k rows whenever the corpus has
    them."""
    c = len(cscore)
    p = min(nprobe, c)
    probes = cscore.argpartition(p - 1)[:p]
    if p == c or sum([len(cells[j]) for j in probes.tolist()]) >= k * r:
        return probes
    if r > 1 and len(np.unique(np.concatenate([cells[j] for j in probes]))) >= k:
        return probes
    order = np.argsort(cscore, kind="stable")
    seen: set = set()
    for m, j in enumerate(order, 1):
        seen.update(cells[j].tolist())
        if m >= p and len(seen) >= k:
            break
    return order[:m]


class IvfReplicaHandle:
    """Pre-resolved single-query fast path over the in-process IVF index
    (r6 VERDICT #2: the 200-call p50 loop paid ~0.3 ms/call of pure
    plumbing — 32 os.stat cache-key checks, pandas in/out shaping — on
    top of ~0.15 ms of arithmetic; hnswlib's comparable `knn_query` is a
    bare in-process call on a pre-opened index).

    The handle pins one resolved index: `search_one(qvec, k)`
    takes a bare ndarray and returns (ids, dists) ndarrays sorted by
    (dist, id). Shard-file staleness is NOT re-checked per call — a
    caller serving a mutating collection calls `refresh()` on its
    write-visibility boundary (the same generation contract the chaos
    test drives through :func:`ivf_replica_serve`, which keeps its
    per-call stat check)."""

    __slots__ = ("_paths", "_params", "_np", "metric", "nprobe", "assign_r", "_snap")

    def __init__(
        self,
        shard_paths: list[str],
        n_cells: int = 64,
        nprobe: int = 6,
        assign_r: int = 2,
        metric: str = "cosine",
        *,
        id_col: str = "vec_id",
        dtype: str = "float64",
        train_sample_cap: int = 131_072,
    ):
        params = (id_col, dtype, metric, n_cells, assign_r, train_sample_cap, 5)
        self._adopt(shard_paths, params, nprobe, None)
        self.refresh()

    def _adopt(self, paths, params: tuple, nprobe: int, snap) -> "IvfReplicaHandle":
        import numpy as np

        self._np = np
        self._paths = list(paths)
        self._params = params
        self.metric, self.assign_r, self.nprobe = params[2], params[4], nprobe
        self._snap = snap
        return self

    def refresh(self) -> None:
        """Re-resolve against the shard files (stat check + rebuild if
        changed) — the write-visibility boundary for mutating callers.

        Concurrency: REST handler threads share one handle, so the
        resolved index is published as ONE tuple assignment
        (``self._snap = …``, atomic under the GIL); a racing
        ``search_one`` sees either the whole old index or the whole new
        one, never a torn mix of new cell_ids with old cell_mats (r13,
        ADVICE high)."""
        snap = _ivf_resolve(self._paths, self._params)
        if snap is None:
            raise shard_tier.EmptyShardSetError("empty shard set")
        self._snap = snap

    def save_index(self, out_dir: str) -> None:
        """Persist the resolved cell layout (centroids + cell-major ids /
        rows / float blocks), its build-time shard stat key and the build
        config as ``ivf_index.npz`` (:func:`shard_tier.save`) — the
        warm-start tier for the REST serving fleet: N share-nothing
        workers boot by LOADING one worker's build instead of each
        re-running k-means over the corpus. :func:`ivf_handle_for` only
        loads a snapshot whose stat key matches the live shards. Cosine
        matrices are stored already row-normalized (the resolved form),
        never re-normalized at load."""
        _ivf_save(out_dir, self._snap, self._params, self.nprobe)

    @classmethod
    def load_index(cls, in_dir: str, *, nprobe: int | None = None):
        """Reconstitute a handle from :meth:`save_index` output without
        touching the source parquet. The loaded handle keeps its shard
        set and config, so ``refresh()`` still works as the
        write-visibility boundary (it re-stats and rebuilds from parquet
        if the shards changed). Freshness checking against live shards is
        the CALLER's job (see :func:`ivf_handle_for`) — this loads
        unconditionally."""
        import numpy as np

        arrays, meta = _load_snapshot(in_dir, "ivf_index")
        params = tuple(meta["kw"][k] for k in _IVF_KW)
        snap = _ivf_snap(np, meta["stat_key"], arrays, params[2])
        return object.__new__(cls)._adopt(
            [p for p, _m, _s in meta["stat_key"]], params,
            nprobe if nprobe is not None else meta["nprobe"], snap,
        )

    def search_one(self, qvec, k: int = 10):
        """Exact-within-probed-cells top-k for ONE query vector: (ids,
        dists) sorted by (dist, id). All-numpy, no pandas, no stat. When
        the `nprobe` nearest cells hold fewer than k rows, the probe
        widens nearest-first until k are seen (:func:`_probe_cells`).

        Latency anatomy (measured, 100K×128 f32, 384 cells / nprobe 3):
        ~85 % of the call is the centroid + probed-cell GEMVs, which run
        at the machine's single-thread memory bandwidth (~0.6 MB probed
        per query — 781 corpus rows + the 384×128 centroid block; p50
        tracks measured stream bandwidth 1:1 across rounds — bench
        publishes a `mem_bw` calibration row for exactly this
        normalization).
        Triangle-inequality probe pruning was tried and reverted: on a
        clustered corpus the per-cell max radius is too fat to ever fire
        (bound ≈ 0.1 vs k-th ≈ 0.25) while costing ~30 µs/call of bound
        bookkeeping."""
        np = self._np
        # one atomic snapshot read: a concurrent refresh() can swap the
        # whole index mid-call but can never hand this call a torn mix
        snap = self._snap
        cent, cent_sq = snap[1], snap[5]
        q = np.asarray(qvec, dtype=cent.dtype)
        if self.metric == "cosine":
            # q @ q + sqrt beats np.linalg.norm's dispatch on the hot path
            qn = float(q @ q) ** 0.5
            if qn != 0.0:
                q = q / qn
        # probe selection: |q|^2 is rank-invariant, omit it
        cscore = cent_sq - 2.0 * (cent @ q)
        probes = _probe_cells(
            np, cscore, snap[4], self.nprobe, k, min(self.assign_r, len(cscore))
        )
        ids, d = _ivf_probe(np, snap, self.metric, self.assign_r, q, probes)
        return topk_tie_aware(np, ids, d, k)


def ivf_handle_for(
    shard_paths: list[str],
    *,
    n_cells: int,
    nprobe: int,
    assign_r: int = 2,
    metric: str = "cosine",
    id_col: str = "vec_id",
    dtype: str = "float64",
    index_dir: str | None = None,
) -> IvfReplicaHandle:
    """A :class:`IvfReplicaHandle` over the shard tier's current IVF index
    for a shard set — the REST serving path's resolver (r12, VERDICT r11
    task 7). The batch :func:`ivf_replica_serve` costs ~1.8 ms/call of
    GIL-held pandas/stat plumbing; this path keeps the per-request Python
    down to one stat pass and one dict hit and serves from ``search_one``
    (GIL-releasing BLAS). The index is keyed on its build geometry;
    ``nprobe`` is query-time and only set on the returned handle.
    Freshness contract is identical to the batch path: the index rebuilds
    whenever any shard's (path, mtime_ns, size) changes; concurrent first
    requests build once.

    r13: ``index_dir`` adds the DISK warm-start tier between the
    in-process tier and a cold build (see :func:`_ivf_resolve`); the
    write is atomic-rename, so two workers racing the first build at
    worst both build — never read a torn file."""
    params = (id_col, dtype, metric, n_cells, assign_r, 131_072, 5)
    snap = _ivf_resolve(shard_paths, params, index_dir, nprobe)
    if snap is None:
        raise shard_tier.EmptyShardSetError("empty shard set")
    return object.__new__(IvfReplicaHandle)._adopt(shard_paths, params, nprobe, snap)


def ivf_replica_serve(
    shard_paths: list[str],
    queries_pd,
    k: int = 10,
    n_cells: int = 64,
    nprobe: int = 6,
    assign_r: int = 2,
    metric: str = "cosine",
    *,
    id_col: str = "vec_id",
    dist_col: str = "dist",
    dtype: str = "float64",
    train_sample_cap: int = 131_072,
):
    """Serving twin of :func:`knn_partitioned` — the ANN answer to the
    reference's in-process HNSW latency (``vectordb_optimized.py:271-280``):
    the IVF index lives in serving-node RAM as CELL-MAJOR contiguous blocks
    (each cell's member ids + submatrix stored back-to-back), so a query
    batch costs one tiny (Q × n_cells) centroid GEMM, a driver-side
    nprobe prune, and one dense GEMM per PROBED cell over exactly the
    queries probing it — scan fraction ≈ nprobe·assign_r/n_cells of
    brute force, with no Spark job, no Python-per-row work and no gather
    copies beyond the probed blocks (round-4 VERDICT #7).

    Same deterministic index as the distributed path: Lloyd's k-means, 5
    iterations, centroids seeded from the lowest-id rows, multi-assignment
    under `assign_r` nearest cells (border-vector recall insurance). The
    cache re-keys on shard (path, mtime, size); `n_cells` is honored as
    given (the distributed path couples cells to k only because its
    per-PARTITION row counts can be small).

    Recall is measured, not assumed — bench reports recall@10 against the
    exact GEMM truth next to the latency number."""
    import numpy as np
    import pandas as pd

    from custom_python_vectordb_spark.operators.knn import _blas_threads

    entry = _ivf_resolve(
        shard_paths, (id_col, dtype, metric, n_cells, assign_r, train_sample_cap, 5)
    )
    if entry is None or len(queries_pd) == 0:
        return topk_frame(id_col, dist_col)
    _sk, cent, cell_ids, cell_mats, cell_rows, cent_sq, _cell_sq, _lens, _arrays = entry
    c = len(cell_ids)

    qids = queries_pd["qid"].to_numpy()
    qmat = np.asarray([np.asarray(v, dtype=dtype) for v in queries_pd["qvec"]])
    if metric == "cosine":
        qn = np.linalg.norm(qmat, axis=1, keepdims=True)
        qmat = qmat / np.where(qn == 0, 1.0, qn)
    with _blas_threads(16):
        # the handle's probe rule, query by query (|q|^2 is rank-invariant)
        cscore = cent_sq[None, :] - 2.0 * (qmat @ cent.T)
        r = min(assign_r, c)
        probes = [_probe_cells(np, row, cell_rows, nprobe, k, r) for row in cscore]
        pair_q = np.repeat(np.arange(len(qids)), [len(p) for p in probes])
        pair_c = np.concatenate(probes)
        # iterate PROBED cells only (round 6): the previous dense
        # `for j in range(n_cells)` membership scan cost ~20 µs × n_cells
        # per call regardless of batch size — 5 ms of pure loop overhead
        # for a single query at 256 cells, dwarfing the actual probe. A
        # sort-and-group over the (query, cell) probe list touches exactly
        # the cells queries asked for: single-query p50 3.1 -> ~0.25 ms.
        gorder = np.argsort(pair_c, kind="stable")
        gcells = pair_c[gorder]
        gq = pair_q[gorder]
        bounds = np.flatnonzero(np.r_[True, gcells[1:] != gcells[:-1], True])
        frames = []
        for b in range(len(bounds) - 1):
            j = int(gcells[bounds[b]])
            qsel = np.unique(gq[bounds[b] : bounds[b + 1]])
            sub, sids = cell_mats[j], cell_ids[j]
            if not len(qsel) or not len(sids):
                continue
            qsub = qmat[qsel]
            if metric == "cosine":
                dmat = 1.0 - sub @ qsub.T
            elif metric == "l2":
                dmat = np.sqrt(
                    np.maximum(
                        (sub * sub).sum(1)[:, None] - 2.0 * (sub @ qsub.T)
                        + (qsub * qsub).sum(1)[None, :],
                        0.0,
                    )
                )
            else:  # ip
                dmat = -(sub @ qsub.T)
            # per-cell partial top-k by (dist, id): the merge below is
            # exact only because every partial ranks by its order
            pos = topk_positions(np, sids, dmat.T, k)
            frames.append(
                (
                    np.repeat(qids[qsel], pos.shape[1]),
                    sids[pos].ravel(),
                    np.take_along_axis(dmat.T, pos, 1).ravel(),
                )
            )
    if not frames:
        return topk_frame(id_col, dist_col)
    # numpy merge (round 6): the pandas concat + drop_duplicates + groupby
    # rank tail cost ~1.5 ms of fixed per-call plumbing — nothing for a
    # 1000-query batch, 15x the arithmetic for a single query. Duplicate
    # (qid, id) rows (a row indexed under assign_r cells reached via
    # several) get their distances from SEPARATE per-cell GEMMs, which can
    # differ in the last ulp — so dedup on (qid, id) alone, sorted with
    # dist as the tie-break so the first occurrence keeps the smaller
    # copy (round-6 ADVICE: dist-adjacency is not guaranteed under an
    # exact tie with a third vector). Then keep each query's k smallest
    # by (dist, id).
    qa = np.concatenate([f[0] for f in frames])
    ia = np.concatenate([f[1] for f in frames])
    da = np.concatenate([f[2] for f in frames])
    if assign_r > 1:
        order = np.lexsort((da, ia, qa))
        qa, ia, da = qa[order], ia[order], da[order]
        keep = np.r_[True, (qa[1:] != qa[:-1]) | (ia[1:] != ia[:-1])]
        qa, ia, da = qa[keep], ia[keep], da[keep]
    sel = topk_by_group(np, qa, ia, da, k)
    return pd.DataFrame({"qid": qa[sel], id_col: ia[sel], dist_col: da[sel]})


# ------------------------------------------------- in-process IVF-PQ replica


def _auto_pq_subspaces(
    np,
    mat,
    cent,
    rowlists,
    res_sample,
    *,
    target_recall: float,
    num_centroids: int,
    assign_r: int,
    fetch_k: int = 300,
    n_queries: int = 64,
    k: int = 10,
):
    """Pick the smallest PQ subspace count M whose residual-ADC +
    exact-rerank recall@k on THIS corpus reaches ``target_recall``;
    returns (m, books, measured_recall) so the caller reuses the winning
    books without retraining.

    Why a probe and not a formula (r13, VERDICT r12 task 5): the 10M
    probe showed ADC resolution must grow with corpus DENSITY — M=16
    plateaus at recall 0.971 inside ~39k-row natural clusters at any
    nprobe/train-sample, M=32 reaches 1.0 (SCALING.md VEC10M). Density is
    a property of the data, so the trade is re-measured per corpus, at
    FULL density: the probe queries are corpus rows and every candidate
    set comes from the real cells — a down-sampled sub-corpus has thinner
    cells and overestimates recall (exactly the trap the finding names).

    Cost control: recall is evaluated within each query's own probed-cell
    union (probing loss is nprobe's knob, not M's — ground truth uses the
    same union), so per candidate M only the probed cells' rows are
    encoded, not the corpus; the final full encode runs once, with the
    winner. Every query probes at the fixed width ``_AUTO_M_NPROBE``, not
    a caller's serving ``nprobe``: M is part of the built index, whose
    tier key holds only the build parameters."""
    from custom_python_vectordb_spark.operators.quantization import (
        _pq_encode,
        _train_pq_books,
    )

    n, d_dim = mat.shape
    candidates = [m for m in (8, 16, 32, 64) if d_dim % m == 0]
    if not candidates:
        raise ValueError(f"no usable subspace count divides dim {d_dim}")
    qidx = np.unique(np.linspace(0, n - 1, min(n_queries, n)).astype(np.int64))
    cent_sq = (cent * cent).sum(1)
    r = min(assign_r, len(cent))
    probe_sets = [
        _probe_cells(np, cent_sq - 2.0 * (cent @ mat[qi]), rowlists, _AUTO_M_NPROBE, k, r)
        for qi in qidx
    ]
    union_cells = sorted({int(j) for s in probe_sets for j in s})
    # ground truth per query: exact L2 within ITS probed cells (row
    # indices are identities; multi-assignment duplicates dedup below)
    gts = []
    for qi, probes in zip(qidx, probe_sets):
        live = [rowlists[j] for j in probes if len(rowlists[j])]
        if not live:
            gts.append(set())
            continue
        rsel = np.unique(np.concatenate(live))
        diff = mat[rsel] - mat[qi]
        ex = np.einsum("ij,ij->i", diff, diff)
        gts.append(set(int(r) for r in rsel[topk_positions(np, rsel, ex, k)]))
    best = None
    for m in candidates:
        books, _ = _train_pq_books(np, res_sample, m, num_centroids)
        books_sq = (books * books).sum(2)
        sub_d = d_dim // m
        off = (np.arange(m, dtype=np.uint16) * np.uint16(books.shape[1]))[:, None]
        codes = {
            j: np.ascontiguousarray(
                _pq_encode(np, mat[rowlists[j]] - cent[j], books).T.astype(np.uint16)
                + off
            )
            for j in union_cells
            if len(rowlists[j])
        }
        hits = tot = 0
        for qi, probes, gt in zip(qidx, probe_sets, gts):
            if not gt:
                continue
            q = mat[qi]
            id_parts, d_parts = [], []
            for j in probes:
                rows = rowlists[j]
                if not len(rows):
                    continue
                qsub = (q - cent[j]).reshape(m, sub_d)
                lut = (
                    (qsub * qsub).sum(1)[:, None]
                    + books_sq
                    - 2.0 * np.einsum("ms,mks->mk", qsub, books)
                )
                id_parts.append(rows)
                d_parts.append(lut.ravel()[codes[j]].sum(0, dtype=np.float64))
            rsel = np.concatenate(id_parts)
            d = np.concatenate(d_parts)
            cand = np.unique(rsel[topk_positions(np, rsel, d, fetch_k)])
            diff = mat[cand] - q
            ex = np.einsum("ij,ij->i", diff, diff)
            top = cand[topk_positions(np, cand, ex, k)]
            hits += len(set(int(r) for r in top) & gt)
            tot += len(gt)
        rec = hits / max(tot, 1)
        best = (m, books, rec)
        if rec >= target_recall:
            break
    return best


# The probe width of the num_subspaces="auto" recall probe. Fixed, so the
# chosen M depends only on the shards and the build parameters (the tier
# key) and never on the nprobe of whichever request built the index first;
# wide, so M is fine enough for any serving width up to it.
_AUTO_M_NPROBE = 16


def _ivfpq_build(paths, stat_key, params):
    """The IVF-PQ code tier of a shard set: (stat_key, cent, books,
    [cell ids], [cell offset codes], chosen M, probe recall, centroid
    square norms, book square norms), or None when the shards hold no
    rows. Only codes stay resident; the float matrix is released."""
    import numpy as np

    from custom_python_vectordb_spark.operators.knn import _blas_threads
    from custom_python_vectordb_spark.operators.quantization import (
        _pq_encode,
        _train_pq_books,
    )

    id_col, n_cells, assign_r, m_req, kc, cap, iters, target_recall = params
    loaded = shard_tier.load_vectors(paths, id_col, "float32", sort_ids=True)
    if loaded is None:
        return None
    ids, mat = loaded
    with _blas_threads(16):
        cent, multi = _train_assign_cells(np, mat, n_cells, assign_r, cap, iters)
        cent = cent.astype(np.float32, copy=False)
        # RESIDUAL encoding (the FAISS IVFPQ design): books are
        # trained on x − cent[first_assigned_cell] over the same
        # evenly-spaced sample as the cell trainer, and each cell
        # stores codes of ITS residuals. Residual spread is the
        # cell radius, not the corpus spread, so ADC separates
        # within-cell neighbours that plain-vector PQ quantizes
        # together — measured at 1M (this corpus, M=16,
        # fetch_k=300): recall@10 0.63 plain → see bench/probe
        # rows for the residual numbers.
        n = len(ids)
        if n > cap:
            tsel = np.linspace(0, n - 1, cap).astype(np.int64)
        else:
            tsel = np.arange(n, dtype=np.int64)
        res_sample = mat[tsel] - cent[multi[tsel, 0]]
        rowlists = _group_rows_by_cell(np, multi, len(cent))
        if m_req == "auto":
            # density-adaptive resolution (r13): probe candidate M
            # values at FULL corpus density and keep the smallest
            # one whose rerank recall@10 reaches target_recall —
            # the 10M finding is that this trade moves with the
            # data and a hand-tuned M silently under-resolves a
            # denser corpus (SCALING.md VEC10M)
            m_used, books, probe_rec = _auto_pq_subspaces(
                np, mat, cent, rowlists, res_sample,
                target_recall=target_recall, num_centroids=kc, assign_r=assign_r,
            )
        else:
            m_used, probe_rec = m_req, None
            books, _ = _train_pq_books(np, res_sample, m_used, kc)
        # subspace-major OFFSET codes per cell: code[mi] + mi·K,
        # so the per-cell ADC is ONE gather from that cell's
        # flattened (M·K)-entry LUT + one axis-0 sum (per-subspace
        # gather loops measured ~4× the arithmetic in numpy call
        # overhead). K is the TRAINED book size (min(K, sample))
        # — the flattened-LUT stride. M·K ≤ 4096 fits uint16.
        off = (np.arange(m_used, dtype=np.uint16) * np.uint16(books.shape[1]))[:, None]
        cell_codes = [
            np.ascontiguousarray(
                _pq_encode(np, mat[rows] - cent[j], books).T.astype(np.uint16) + off
            )
            for j, rows in enumerate(rowlists)
        ]
    return (stat_key, cent, books, [ids[rows] for rows in rowlists], cell_codes,
            m_used, probe_rec, (cent * cent).sum(1), (books * books).sum(2))


class IvfPqReplicaHandle:
    """Pre-resolved single-query path over a cell-pruned PQ index — the
    FAISS-IVFPQ serving shape, completing the replica matrix: IVF prunes
    WHICH rows are scored (nprobe/cells of the corpus), PQ compresses
    WHAT is resident (M uint8 codes per row, 32× at D=128/M=16). The
    full-scan PQ handle reads every code per query; here the ADC gather
    touches only the probed cells' codes, so the per-query cost is the
    centroid GEMV + an (M, K) LUT + ~nprobe·N/cells gathers.

    Build: the SAME sampled-Lloyd coarse cells as :class:`IvfReplicaHandle`
    (:func:`_train_assign_cells` — linear in the corpus), with PQ books
    trained on RESIDUALS x − cent[cell] (the FAISS IVFPQ design,
    ``quantization._train_pq_books`` recipe): residual spread is the cell
    radius, not the corpus spread, so ADC separates within-cell
    neighbours that plain-vector PQ quantizes together — at 1M on the
    bench-shaped corpus plain codes needed fetch_k≈4000 for recall 1.0
    where residual codes need ~300 (measured, probe rows). After build
    only centroids, books, per-cell ids and per-cell uint8 codes are
    resident; the float matrix is released (a shard-tier entry of its
    own: the IVF entry pins float cell matrices).

    Coarse ADC recall on a clustered corpus is PQ-bounded (~0.2-0.3
    @10 at M=16 — within-cluster detail quantizes away), so serving
    traffic uses ``rerank_mmap_dir`` + ``fetch_k``: candidates gather
    exact float rows from the DISK-resident mmap tier (RAM still holds
    only codes) — the same K5 two-stage contract as the SQ/BQ/PQ serves,
    recall measured in bench next to the latency, never assumed.

    Same ``refresh()`` staleness contract as the sibling handles."""

    __slots__ = (
        "_paths", "_np", "nprobe", "metric", "_params", "_stat_key",
        "chosen_m", "probe_recall", "cent", "books", "books_sq", "cell_ids",
        "cell_codes", "_cent_sq", "_mmap_dir", "_mmap_dtype", "_mmap_mat", "_mmap_pos",
    )

    def __init__(
        self,
        shard_paths: list[str],
        n_cells: int = 64,
        nprobe: int = 6,
        assign_r: int = 2,
        num_subspaces: int | str = 16,
        num_centroids: int = 256,
        *,
        id_col: str = "vec_id",
        train_sample_cap: int = 131_072,
        train_iters: int = 5,
        rerank_mmap_dir: str | None = None,
        rerank_dtype: str = "float64",
        target_recall: float = 0.99,
    ):
        import numpy as np

        if num_centroids > 256:
            raise ValueError(
                f"num_centroids={num_centroids} exceeds the uint8 code range (max 256)"
            )
        if num_subspaces != "auto" and not isinstance(num_subspaces, int):
            raise ValueError(
                f"num_subspaces must be an int or 'auto', got {num_subspaces!r}"
            )
        self._np = np
        self._paths = list(shard_paths)
        self.nprobe = nprobe
        self.metric = "l2"  # ADC approximates L2; cosine callers pre-normalize
        self._params = (id_col, n_cells, assign_r, num_subspaces, num_centroids,
                        train_sample_cap, train_iters, target_recall)
        self._mmap_dir = rerank_mmap_dir
        # float32 rerank halves the disk tier and its gather bandwidth
        # (the 100 TB knob: exactness to f32 resolution is the contract
        # most serving traffic wants); float64 stays the default for
        # bit-parity with the batch serves
        self._mmap_dtype = rerank_dtype
        self.refresh()

    def _adopt(self, entry) -> None:
        (self._stat_key, self.cent, self.books, self.cell_ids, self.cell_codes,
         self.chosen_m, self.probe_recall, self._cent_sq, self.books_sq) = entry

    def refresh(self) -> None:
        """Re-resolve the code tier (and the mmap rerank tier, when
        configured) against the shard files through the shard tier."""
        from custom_python_vectordb_spark.operators.knn import resolve_replica

        if self._paths is None:
            raise RuntimeError(
                "this handle is a load_index() snapshot with no source shard "
                "set — rebuild from parquet (IvfPqReplicaHandle(shard_paths, "
                "...)) to pick up new rows"
            )
        params = self._params
        entry = shard_tier.resolve(
            "ivfpq", self._paths, params, lambda paths, sk: _ivfpq_build(paths, sk, params)
        )
        if entry is None:
            raise shard_tier.EmptyShardSetError("empty shard set")
        self._adopt(entry)
        self._mmap_mat = self._mmap_pos = None
        if self._mmap_dir is not None:
            rep = resolve_replica(
                self._paths, id_col=params[0], dtype=self._mmap_dtype,
                mmap_dir=self._mmap_dir,
            )
            self._mmap_mat, self._mmap_pos = rep.mat, rep.pos

    def save_index(self, out_dir: str) -> None:
        """Persist the RESIDENT index tier (centroids, PQ books, per-cell
        ids and codes) and its build-time shard stat key as
        ``ivfpq_index.npz`` (:func:`shard_tier.save`) — the ``faiss
        write_index`` role; the reference persists its accelerator the
        same way (``binary_persistence.py:196-209``
        ``save_hnsw_index``/``load_hnsw_index``). The mmap rerank tier is
        ALREADY durable (``rerank_mmap_dir`` holds the float rows); this
        call makes the code tier durable too, so a serving worker — or a
        resumed 100M-scale build — can :meth:`load_index` without the
        source parquet and without re-running k-means/PQ training.

        Codes are stored offset-free as uint8 (the trained book size is
        ≤ 256 by construction); the subspace offsets are re-baked at
        load. Ragged per-cell arrays are stored flat + lengths."""
        np = self._np
        id_col, n_cells, assign_r, _m, kc = self._params[:5]
        m, kc_t, _sub_d = self.books.shape
        off = (np.arange(m, dtype=np.uint16) * np.uint16(kc_t))[:, None]
        shard_tier.save(
            out_dir, "ivfpq_index",
            {
                "cent": self.cent, "books": self.books,
                "cell_lens": np.array([len(ids) for ids in self.cell_ids], dtype=np.int64),
                "cell_ids": np.concatenate(self.cell_ids),
                "cell_codes": np.concatenate(
                    [(c - off).astype(np.uint8) for c in self.cell_codes], axis=1
                ),
            },
            {
                "nprobe": int(self.nprobe), "assign_r": int(assign_r),
                "n_cells": int(n_cells), "num_centroids": int(kc),
                "chosen_m": int(self.chosen_m),
                "probe_recall": None if self.probe_recall is None else float(self.probe_recall),
                "probe_nprobe": None if self.probe_recall is None else _AUTO_M_NPROBE,
                "mmap_dtype": self._mmap_dtype, "id_col": id_col, "stat_key": self._stat_key,
            },
        )

    @classmethod
    def load_index(
        cls,
        in_dir: str,
        *,
        rerank_mmap_dir: str | None = None,
        nprobe: int | None = None,
    ):
        """Reconstitute a handle from :meth:`save_index` output — an
        immutable serving snapshot (``refresh()`` raises: there are no
        source shards to re-stat; rebuild from parquet to pick up new
        rows). ``rerank_mmap_dir`` attaches an existing mmap float tier
        built by the original handle; ``nprobe`` optionally overrides
        the saved query-time probe width (it is query-time-free, same
        contract as the REST route)."""
        import glob as _glob
        import os as _os

        import numpy as np

        from custom_python_vectordb_spark.operators.knn import _open_mmap_replica

        arrays, cfg = _load_snapshot(in_dir, "ivfpq_index")
        self = object.__new__(cls)
        self._np = np
        self._paths = None  # snapshot — no shard set, refresh() refuses
        self.nprobe = int(nprobe if nprobe is not None else cfg["nprobe"])
        self.metric = "l2"
        self._params = (cfg["id_col"], cfg["n_cells"], cfg["assign_r"], cfg["chosen_m"],
                        cfg["num_centroids"], 0, 0, 0.99)
        self._mmap_dir, self._mmap_dtype = rerank_mmap_dir, cfg["mmap_dtype"]
        cent, books = arrays["cent"], arrays["books"]
        m, kc_t, _sub_d = books.shape
        off = (np.arange(m, dtype=np.uint16) * np.uint16(kc_t))[:, None]
        bounds = np.cumsum(arrays["cell_lens"])[:-1]
        self._adopt((
            cfg["stat_key"], cent, books, np.split(arrays["cell_ids"], bounds),
            [np.ascontiguousarray(c.astype(np.uint16) + off)
             for c in np.split(arrays["cell_codes"], bounds, axis=1)],
            cfg["chosen_m"], cfg["probe_recall"], (cent * cent).sum(1), (books * books).sum(2),
        ))
        self._mmap_mat = self._mmap_pos = None
        if rerank_mmap_dir is not None:
            mats = sorted(_glob.glob(_os.path.join(rerank_mmap_dir, "replica_*.mat.npy")))
            if len(mats) != 1:
                raise ValueError(
                    f"expected exactly one replica_*.mat.npy in {rerank_mmap_dir}, "
                    f"found {len(mats)}"
                )
            rep = _open_mmap_replica(mats[0][: -len(".mat.npy")])
            if rep is None:
                raise FileNotFoundError(f"unreadable mmap replica under {rerank_mmap_dir}")
            self._mmap_mat, self._mmap_pos = rep[0].mat, rep[0].pos
        return self

    def search_one(self, qvec, k: int = 10, fetch_k: int | None = None):
        """Cell-pruned ADC top-k for ONE query: (ids, dists) sorted by
        (dist, id). With a rerank tier configured, `fetch_k` (default
        8·k) coarse candidates are re-scored EXACTLY from the mmap float
        rows, and the returned distances are true L2."""
        np = self._np
        q = np.asarray(qvec, dtype=np.float32)
        # probe selection: |q|^2 is rank-invariant, omit it
        cscore = self._cent_sq - 2.0 * (self.cent @ q)
        probes = _probe_cells(
            np, cscore, self.cell_ids, self.nprobe, k, min(self._params[2], len(cscore))
        )
        m, kc, sub_d = self.books.shape
        # residual ADC: each probed cell gets its OWN LUT from the query
        # residual q − cent[j] (nprobe small einsums), then one flattened-
        # LUT gather over that cell's offset codes
        live = [j for j in probes if len(self.cell_ids[j])]
        if not live:
            return np.empty(0, dtype=np.int64), np.empty(0)
        id_parts, d_parts = [], []
        for j in live:
            qsub = (q - self.cent[j]).reshape(m, sub_d)
            lut = (
                (qsub * qsub).sum(1)[:, None]
                + self.books_sq
                - 2.0 * np.einsum("ms,mks->mk", qsub, self.books)
            )
            id_parts.append(self.cell_ids[j])
            d_parts.append(lut.ravel()[self.cell_codes[j]].sum(0, dtype=np.float64))
        ids = np.concatenate(id_parts)
        d = np.concatenate(d_parts)
        np.maximum(d, 0.0, out=d)
        np.sqrt(d, out=d)
        if self._params[2] > 1:
            # same (id)-keyed dedup rule as IvfReplicaHandle, but under
            # residual encoding a multi-assigned row has a DIFFERENT code
            # and LUT per cell, so the two estimates genuinely differ:
            # lexsort by (id, dist) and keep the first = keep the smaller
            # per-cell residual-ADC estimate (parity test documents this)
            order = np.lexsort((d, ids))
            ids, d = ids[order], d[order]
            keep = np.r_[True, ids[1:] != ids[:-1]]
            ids, d = ids[keep], d[keep]
        if self._mmap_pos is not None:
            cand = ids[topk_positions(np, ids, d, fetch_k or 8 * k)]
            sorted_ids, sorter = self._mmap_pos
            rowidx = sorter[np.searchsorted(sorted_ids, cand)]
            rows = self._mmap_mat[rowidx]
            diff = np.asarray(rows, dtype=np.float64) - q.astype(np.float64)
            ex = np.sqrt(np.maximum((diff * diff).sum(1), 0.0))
            return topk_tie_aware(np, cand, ex, k)
        return topk_tie_aware(np, ids, d, k)


class ShardedIvfPqIndex:
    """N persisted sub-indexes served as ONE logical index — the
    1000-executor serving shape the 100M probe measured, productized:
    every sub-index is an :meth:`IvfPqReplicaHandle.load_index` snapshot
    (uint16 codes resident, float32 mmap rerank on disk), a query fans
    out to every shard's ``search_one`` and the per-shard top-k merge by
    (dist, id) is the same rank rule every distributed top-k in this
    repo uses (and the exact merge the probe's driver ran — SCALING.md
    VEC100M: 8 × 12.5M rows, recall@10 1.0000, ~21 ms per shard).

    This is what lets a SPARK-LESS serving worker host a corpus that
    never fits one process's build: executors build + ``save_index``
    their partition's sub-index (one parquet shard-set each), the
    serving fleet loads the snapshot dirs, and freshness stays the
    per-shard stat-key contract. The reference's single-process analog
    is loading one pickled HNSW (``binary_persistence.py:196-209``);
    sharding is the 100-TB version of that capability."""

    def __init__(
        self,
        snapshot_dirs: list[str],
        *,
        nprobe: int | None = None,
        with_mmap: bool = True,
    ):
        import glob as _glob
        import os as _os

        import numpy as np

        self._np = np
        dirs = sorted(snapshot_dirs)
        if not dirs:
            raise ValueError("empty snapshot dir list")
        self.shards = []
        for d in dirs:
            has_mmap = bool(_glob.glob(_os.path.join(d, "replica_*.mat.npy")))
            self.shards.append(
                IvfPqReplicaHandle.load_index(
                    d,
                    rerank_mmap_dir=(d if (with_mmap and has_mmap) else None),
                    nprobe=nprobe,
                )
            )

    @classmethod
    def discover(cls, root: str, **kw):
        """Load every ``<root>/*/ivfpq_index.npz`` snapshot as one sharded
        index — the layout both the 100M probe and an executor-per-subdir
        ``save_index`` convention produce."""
        import glob as _glob
        import os as _os

        dirs = sorted(
            _os.path.dirname(p)
            for p in _glob.glob(_os.path.join(root, "*", "ivfpq_index.npz"))
        )
        return cls(dirs, **kw)

    def __len__(self) -> int:
        return sum(sum(len(c) for c in h.cell_ids) for h in self.shards)

    def search_one(self, qvec, k: int = 10, fetch_k: int | None = None):
        """Global top-k across every shard: (ids, dists) sorted by
        (dist, id) — per-shard ``search_one`` then the same (dist, id)
        top-k over their union, the probe's driver merge."""
        np = self._np
        parts_i, parts_d = [], []
        for h in self.shards:
            ids_s, d_s = h.search_one(qvec, k, fetch_k=fetch_k)
            parts_i.append(ids_s)
            parts_d.append(d_s)
        return topk_tie_aware(np, np.concatenate(parts_i), np.concatenate(parts_d), k)
