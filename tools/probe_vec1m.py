"""1M-vector embeddings-axis probe (r10 VERDICT missing #4).

The reference's own benchmark presets go to 1M ("stress") and 2M
("extreme") vectors (examples/benchmark.py:44-51) while the repo's
measured knn/serving evidence topped out at the 100K baseline corpus.
This probe extends the knn/IVF family one decade: generate a 1M x 128d
float32 corpus with the SAME clustered recipe as the 100K bench corpus
(256 gaussian centers, sigma 0.7 — rows-per-cluster grows 10x, the way a
real corpus densifies), measure the exact-GEMM and IVF serving paths at
BOTH scales in the same process, and report the per-row decade exponent
    alpha_1M = log10(t_1M / t_100K)
(1.0 = linear; < 1 = sub-linear, expected for the pruned IVF rows).
Recall@10 is measured against exact truth at each scale, never assumed.

Usage: python tools/probe_vec1m.py   (writes ~512 MB on first run)
The results table is appended to SCALING.md between VEC1M PROBE markers.
"""

from __future__ import annotations

import glob
import math
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

DIM = 128
SHARDS = 32
OUT = os.path.join(_REPO, ".bench", "vec1m_128d_c256")
OUT2M = os.path.join(_REPO, ".bench", "vec2m_128d_c256")
V100K = os.path.join(_REPO, ".bench", "vec100k_128d_c256")

# IVF geometry per scale: cells grow with the corpus so the probed
# fraction (and with it the probed bytes per query) stays bounded;
# nprobe picked by the same recall-first sweep discipline as bench.py
# (recall is MEASURED below — a config that drops recall shows up in the
# published row, not in prose).
CFG = {
    "100K": dict(n_cells=384, nprobe=3, assign_r=1, dtype="float32"),
    "1M": dict(n_cells=1024, nprobe=8, assign_r=1, dtype="float32"),
    # 2M = the reference's "extreme" preset; cells ~ sqrt growth keeps the
    # probed fraction bounded, nprobe swept recall-first in-process
    "2M": dict(n_cells=1448, nprobe=8, assign_r=1, dtype="float32"),
}
# IVF-PQ rerank depth per scale, recall-first like nprobe (residual codes,
# M=16, swept in-process at 1M: fetch_k 300 -> 0.917, 1000 -> 0.9935,
# 2000 -> 1.0; at 2M: 300 -> 0.8775, 1000 -> 0.9835; plain-vector codes
# needed ~4000 for the same recall — the residual-design gap)
IVFPQ_FETCH_K = {"100K": 300, "1M": 1000, "2M": 1000}
# 1M nprobe swept in-process (recall vs exact truth, 200 queries; full-
# matrix trainer): 4 -> 0.9665, 5 -> 0.9870, 6 -> 0.9975, 8 -> 1.0000 —
# recall-first, same discipline as the 100K bench config. With the r11
# sampled trainer the same nprobe 8 measures 0.9990 at 1M and 2M (the
# published rows) — the sample costs 1 hit in 2,000 for a 4x faster,
# linear-alpha build.
NQ_TRUTH = 200  # exact truth + recall basis (1M x 200 scores = 800 MB peak)


def gen_corpus(out_dir: str, n_rows: int, seed: int) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((256, DIM), dtype=np.float32)
    rows_per = n_rows // SHARDS
    for s in range(SHARDS):
        lo, hi = s * rows_per, (s + 1) * rows_per
        assign = rng.integers(0, 256, hi - lo)
        mat = centers[assign] + np.float32(0.7) * rng.standard_normal(
            (hi - lo, DIM), dtype=np.float32
        )
        tbl = pa.table({
            "vec_id": pa.array(np.arange(lo, hi, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(mat.reshape(-1)), DIM
            ),
        })
        pq.write_table(tbl, os.path.join(out_dir, f"part-{s:05d}.parquet"),
                       row_group_size=100_000)
    with open(done, "w") as fh:
        fh.write("ok\n")


OUT10M = os.path.join(_REPO, ".bench", "vec10m_128d_c256")
# 10M geometry (r12, VERDICT r11 task 3): cells keep ~sqrt growth
# (1024·√10 ≈ 3238) so the probed fraction stays bounded; nprobe is swept
# recall-first IN THIS PROBE (the rows below are measured, not assumed).
# num_subspaces=32 (sub_d=4, 16× resident compression) is the finding
# of the r12 diagnosis: at 10M the M=16 tier plateaus at recall@10
# 0.971 no matter the probe width (16/26/32 identical to 4 decimals)
# or the train sample (131k vs 1M: 0.9710 vs 0.9665) — the loss is ADC
# CODE RESOLUTION inside ~39k-row balls, not centroids and not
# probing. Halving sub_d lifts it to 0.999@500 / 1.000@1000. The
# density law: each 10× of rows at fixed cluster count packs the
# within-ball spread 10× tighter, and the code's quantization noise
# must shrink with it — compression ratio is a function of corpus
# density, which only a measured probe exposes.
CFG_10M = dict(n_cells=3238, assign_r=1, num_subspaces=32)
NPROBE_SWEEP_10M = (8, 16, 26)
FETCHK_SWEEP_10M = (500, 1000, 2000)


def probe_10m() -> int:
    """Fifth decade, embeddings axis: the residual IVF-PQ tier probed at
    10M×128d (VERDICT r11 task 3 — r11 caught the plain-code recall
    collapse at 1M only by probing; this extends the verified range one
    more decade). Gates: recall@10 ≥ 0.98 at fetch_k ≤ 2000, p50 within
    the bandwidth bound, build alpha ≤ 1.1 across the 1M→10M decade
    (the 1M build re-runs in the SAME process as the anchor)."""
    import numpy as np
    import pandas as pd

    from custom_python_vectordb_spark.operators.knn import knn_replica_serve
    from custom_python_vectordb_spark.operators.partitioned import IvfPqReplicaHandle

    from bench import _mem_bw_gbps

    gen_corpus(OUT, 1_000_000, 1042)
    gen_corpus(OUT10M, 10_000_000, 10042)
    bw0 = _mem_bw_gbps()
    rows: dict[str, float] = {}

    shard_files = sorted(glob.glob(os.path.join(OUT10M, "part-*.parquet")))
    import pyarrow.parquet as pq

    t0 = pq.read_table(shard_files[0], columns=["vec_id", "embedding"])
    emb = np.stack(
        t0.column("embedding").to_numpy(zero_copy_only=False)[:NQ_TRUTH]
    ).astype(np.float32)
    qids = t0.column("vec_id").to_numpy()[:NQ_TRUTH]
    qpd = pd.DataFrame({"qid": qids, "qvec": list(emb)})

    # exact L2 truth (the tier's metric) + the brute-force ms/q anchor;
    # 10M×128×4 = 5.1 GB decoded, so the capacity budget is raised
    kw = dict(k=10, dtype="float32", metric="l2", max_bytes=8 << 30)
    knn_replica_serve(shard_files, qpd.iloc[:1], **kw)  # decode
    best = float("inf")
    for _ in range(2):
        t = time.perf_counter()
        exact = knn_replica_serve(shard_files, qpd, **kw)
        best = min(best, time.perf_counter() - t)
    rows["exact_gemm_ms_per_q"] = best * 1000 / NQ_TRUTH
    truth: dict[int, set] = {}
    for q, v in zip(exact["qid"], exact["vec_id"]):
        truth.setdefault(q, set()).add(v)
    # release the 5 GB float replica before the IVF-PQ build peaks
    from custom_python_vectordb_spark.operators import shard_tier

    shard_tier.clear()

    # 1M residual IVF-PQ build, SAME process — the build-alpha anchor
    # same recipe at 1M (M=32, default cap) so the decade exponent
    # compares like with like — only the scale-coupled knob (cells)
    # differs, as designed
    shard_1m = sorted(glob.glob(os.path.join(OUT, "part-*.parquet")))
    t = time.perf_counter()
    IvfPqReplicaHandle(
        shard_1m, n_cells=CFG["1M"]["n_cells"], nprobe=8, assign_r=1,
        num_subspaces=CFG_10M["num_subspaces"],
        rerank_mmap_dir=os.path.join(OUT, "ivfpq_mmap"),
    )
    rows["ivfpq_build_1m_s"] = time.perf_counter() - t

    results = []
    qvecs = list(emb)
    for nprobe in NPROBE_SWEEP_10M:
        t = time.perf_counter()
        ipq = IvfPqReplicaHandle(
            shard_files, n_cells=CFG_10M["n_cells"], nprobe=nprobe,
            assign_r=CFG_10M["assign_r"],
            num_subspaces=CFG_10M["num_subspaces"],
            rerank_mmap_dir=os.path.join(OUT10M, "ivfpq_mmap"),
        )
        build_s = time.perf_counter() - t  # ~0 on cache hits after the first
        for fk in FETCHK_SWEEP_10M:
            hits = 0
            for qid, v in zip(qids, qvecs):
                rids, _d = ipq.search_one(v, 10, fetch_k=fk)
                hits += len(set(int(i) for i in rids) & truth.get(qid, set()))
            recall = hits / (NQ_TRUTH * 10)
            # min-of-2 p50 passes: single-pass p50s at this probe's scale
            # measured 3× co-tenant swings (18 vs 6.8 ms at LOWER nprobe)
            p50s = []
            for _ in range(2):
                lat = []
                for v in qvecs:
                    t = time.perf_counter()
                    ipq.search_one(v, 10, fetch_k=fk)
                    lat.append((time.perf_counter() - t) * 1000)
                lat.sort()
                p50s.append(lat[len(lat) // 2])
            results.append((nprobe, fk, recall, min(p50s), build_s))
            print(f"nprobe={nprobe} fetch_k={fk}: recall@10={recall:.4f} "
                  f"p50={lat[len(lat) // 2]:.3f} ms build={build_s:.1f} s",
                  flush=True)

    rows["ivfpq_build_10m_s"] = results[0][4]
    # build alpha across the 1M→10M decade (same-process, same window)
    rows["build_alpha_1m_10m"] = math.log10(
        rows["ivfpq_build_10m_s"] / rows["ivfpq_build_1m_s"]
    )
    bw1 = _mem_bw_gbps()

    lines = [
        "| nprobe | fetch_k | recall@10 | p50 ms |",
        "|---|---|---|---|",
    ] + [
        f"| {npr} | {fk} | {rec:.4f} | {p50:.3f} |"
        for npr, fk, rec, p50, _b in results
    ]
    block = "\n".join(lines)
    begin, end = "<!-- VEC10M PROBE BEGIN -->", "<!-- VEC10M PROBE END -->"
    section = (
        f"{begin}\n\n## Fifth decade, embeddings axis (10M-vector residual IVF-PQ probe)\n\n"
        "tools/probe_vec1m.py --10m: the residual IVF-PQ serving tier one\n"
        "decade past the 2M 'extreme' preset — same clustered recipe\n"
        f"(256 centers, sigma 0.7), {CFG_10M['n_cells']} cells (~sqrt growth), "
        f"M={CFG_10M['num_subspaces']} subspaces\n(sub_d=4, 16x resident "
        "compression), nprobe/fetch_k swept recall-first\nagainst the exact "
        "L2 truth (200 queries) in the same run.\n\n"
        "THE 10M FINDING (the reason this probe exists): at this density\n"
        "the M=16 tier of the 1M/2M rows plateaus at recall@10 = 0.971 at\n"
        "ANY probe width (nprobe 16/26/32 identical to 4 decimals) and ANY\n"
        "train sample (131k vs 1M: 0.9710 vs 0.9665) — the loss is ADC code\n"
        "RESOLUTION inside ~39k-row natural clusters, not centroid quality\n"
        "and not probing. Halving sub_d (M 16 -> 32) lifts it to 0.999 at\n"
        "fetch_k=500 and 1.000 at 1000: compression ratio is a function of\n"
        "corpus density, and each new decade needs the trade re-measured —\n"
        "the same class of cliff the r11 probe caught (plain-vs-residual\n"
        "codes at 1M), one level deeper.\n\n"
        f"Anchors this run: exact GEMM "
        f"{rows['exact_gemm_ms_per_q']:.1f} ms/q at 10M; mem_bw_gbps {bw0}\n"
        f"at start, {bw1} after; build {rows['ivfpq_build_10m_s']:.1f} s at 10M vs "
        f"{rows['ivfpq_build_1m_s']:.1f} s at 1M\nsame-process, same recipe -> "
        f"decade exponent alpha = {rows['build_alpha_1m_10m']:.2f}\n(1.0 = linear; "
        "gate <= 1.1; the sampled-Lloyd train is corpus-size-flat,\n"
        "assignment + residual encode are the linear terms; build cells are\n"
        "one-shot ingest timings that swing with co-tenant bandwidth — read\n"
        "them against the anchors). RAM resident after build: uint16 offset\n"
        "codes + ids only (~0.7 GB at 10M, M=32); the float tier lives on\n"
        "disk via the mmap rerank dir (10M x 128 f64 = 10.2 GB).\n\n"
        + block + "\n\n" + end
    )
    md = os.path.join(_REPO, "SCALING.md")
    src = open(md).read()
    if begin in src:
        src = src.split(begin)[0] + section + src.split(end)[1]
    else:
        src = src.rstrip() + "\n\n" + section + "\n"
    with open(md, "w") as fh:
        fh.write(src)
    print("SCALING.md updated (10M block)")
    return 0


OUT100M = os.environ.get("PROBE100M_OUT") or os.path.join(
    _REPO, ".bench", "vec100m_128d_c256"
)
# 100M = the SIXTH decade (r13, VERDICT r12 task 6). 100M × 128 f32 is
# 51 GB — past RAM-resident floats, so the probe runs the tier in the
# shape a 1000-executor cluster would: N_SUB sub-indexes (one per
# "executor"), each an IvfPqReplicaHandle over its own 12.5M rows with a
# float32 disk-mmap rerank tier (rerank_dtype="float32" — half the disk
# and gather bandwidth of f64; exactness to f32 resolution), driver-side
# (dist, id) top-k merge across sub-indexes — the identical merge every
# distributed top-k in this repo uses.
#
# r13 second pass: the build is now RESUMABLE and WAVE-PARALLEL. Each
# sub-index builds in its own WORKER PROCESS (the literal executor
# shape) and persists its resident tier with save_index() — codes +
# centroids + books land next to the mmap float tier, so an interrupted
# probe resumes from the completed subs instead of restarting a
# multi-hour build (the first r13 attempt lost 4 completed sub-builds
# to exactly this). Waves run up to MAX_WORKERS_100M builds at once;
# the 10M alpha anchor runs INSIDE a 3-wide wave so numerator and
# denominator see the same memory-bandwidth contention regime. Corpus
# generation is seeded per (sub, file): any worker can regenerate its
# parquet bit-identically, and the parquet is deleted the moment the
# index + mmap tier exist (disk peak stays ~one in-flight sub per
# worker above the final footprint).
# num_subspaces is picked by the r13 density-adaptive probe on sub-0
# (num_subspaces="auto") and reused for the rest — the sixth decade is
# exactly where the hand-tuned-M trap the 10M probe found would bite.
# env overrides exist so the WHOLE pipeline (waves, workers, resume,
# save/load, truth merge, sweep) smoke-tests in seconds before a
# multi-hour real run — subprocess workers re-import this module, so
# the knobs must ride the environment, not monkeypatching
N_SUB_100M = int(os.environ.get("PROBE100M_NSUB", 8))
ROWS_PER_SUB_100M = int(os.environ.get("PROBE100M_ROWS_PER_SUB", 12_500_000))
FILES_PER_SUB_100M = 4
ANCHOR_ROWS_100M = int(os.environ.get("PROBE100M_ANCHOR_ROWS", 10_000_000))
CFG_100M = dict(n_cells=1024, nprobe=8, assign_r=1)  # per sub-index
FETCHK_SWEEP_100M = (500, 1000)
NQ_100M = 100
MAX_WORKERS_100M = 3
MIN_FREE_GB_100M = 15.0


def _centers_100m():
    import numpy as np

    return np.random.default_rng(100_042).standard_normal(
        (256, DIM), dtype=np.float32
    )


def _gen_sub_block(s: int, f: int, centers):
    """Deterministic (ids, mat) for file `f` of sub-index `s` — seeded per
    (s, f) so ANY process can regenerate any block bit-identically."""
    import numpy as np

    per_file = ROWS_PER_SUB_100M // FILES_PER_SUB_100M
    lo = s * ROWS_PER_SUB_100M + f * per_file
    rng = np.random.default_rng(100_042 + 1000 * s + f + 1)
    assign = rng.integers(0, 256, per_file)
    mat = centers[assign] + np.float32(0.7) * rng.standard_normal(
        (per_file, DIM), dtype=np.float32
    )
    ids = np.arange(lo, lo + per_file, dtype=np.int64)
    return ids, mat


def _sidecar_write(name: str, payload: dict) -> None:
    import json

    tmp = os.path.join(OUT100M, f"t_{name}.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(payload, fh)
    os.replace(tmp, os.path.join(OUT100M, f"t_{name}.json"))


def _sidecar_read(name: str):
    import json

    p = os.path.join(OUT100M, f"t_{name}.json")
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def _worker_anchor() -> int:
    """10M anchor build (alpha denominator): same build path as the
    sub-indexes — parquet in, handle build, no mmap tier (build time is
    the measurement; the float tier would cost disk the 100M run needs)."""
    from custom_python_vectordb_spark.operators.partitioned import (
        IvfPqReplicaHandle,
    )

    anchor_dir = (OUT10M if ANCHOR_ROWS_100M == 10_000_000
                  else os.path.join(OUT100M, "anchor_corpus"))
    gen_corpus(anchor_dir, ANCHOR_ROWS_100M, 10042)
    shard_10m = sorted(glob.glob(os.path.join(anchor_dir, "part-*.parquet")))
    t = time.perf_counter()
    IvfPqReplicaHandle(
        shard_10m, n_cells=CFG_10M["n_cells"], nprobe=8, assign_r=1,
        num_subspaces=CFG_10M["num_subspaces"],
    )
    _sidecar_write("anchor", {"seconds": time.perf_counter() - t})
    return 0


def _worker_sub(s: int, m_spec: str) -> int:
    """Generate sub `s`'s parquet (deterministic), build its
    IvfPqReplicaHandle (+f32 mmap rerank tier), persist the resident tier
    with save_index, drop the parquet. One executor's build, verbatim."""
    import shutil

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as _pq

    from custom_python_vectordb_spark.operators.partitioned import (
        IvfPqReplicaHandle,
    )

    mm_dir = os.path.join(OUT100M, f"mmap-{s:02d}")
    if os.path.exists(os.path.join(mm_dir, "_SUB_DONE")):
        print(f"sub-{s}: already built", flush=True)
        return 0
    sub_dir = os.path.join(OUT100M, f"sub-{s:02d}")
    os.makedirs(sub_dir, exist_ok=True)
    centers = _centers_100m()
    for f in range(FILES_PER_SUB_100M):
        ids, mat = _gen_sub_block(s, f, centers)
        tbl = pa.table({
            "vec_id": pa.array(ids),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(mat.reshape(-1)), DIM
            ),
        })
        _pq.write_table(
            tbl, os.path.join(sub_dir, f"part-{f:05d}.parquet"),
            row_group_size=200_000,
        )
        del mat
    sub_paths = sorted(glob.glob(os.path.join(sub_dir, "part-*.parquet")))
    t = time.perf_counter()
    h = IvfPqReplicaHandle(
        sub_paths, n_cells=CFG_100M["n_cells"], nprobe=CFG_100M["nprobe"],
        assign_r=CFG_100M["assign_r"],
        num_subspaces=("auto" if m_spec == "auto" else int(m_spec)),
        target_recall=0.995,
        rerank_mmap_dir=mm_dir, rerank_dtype="float32",
    )
    build_s = time.perf_counter() - t
    h.save_index(mm_dir)
    shutil.rmtree(sub_dir)
    _sidecar_write(f"sub{s}", {
        "seconds": build_s, "chosen_m": int(h.chosen_m),
        "probe_recall": None if h.probe_recall is None else float(h.probe_recall),
    })
    with open(os.path.join(mm_dir, "_SUB_DONE"), "w") as fh:
        fh.write("ok\n")
    print(f"sub-{s}: built in {build_s:.1f} s (M={h.chosen_m}), parquet dropped",
          flush=True)
    return 0


def _worker_truth(s: int) -> int:
    """Exact top-10 within sub `s` for the probe queries, chunked f32 GEMM
    straight off the sub's mmap float tier — one executor's slice of the
    distributed exact-truth job."""
    import numpy as np

    queries = np.load(os.path.join(OUT100M, "queries.npy"))
    mm_dir = os.path.join(OUT100M, f"mmap-{s:02d}")
    mat_p = glob.glob(os.path.join(mm_dir, "replica_*.mat.npy"))[0]
    mat = np.load(mat_p, mmap_mode="r")
    lo = s * ROWS_PER_SUB_100M
    nq = len(queries)
    q64 = queries.astype(np.float64)
    q_sq = (q64 * q64).sum(1)
    truth_d = np.full((nq, 10), np.inf, dtype=np.float64)
    truth_i = np.full((nq, 10), -1, dtype=np.int64)
    t = time.perf_counter()
    B = 1_000_000
    for blo in range(0, mat.shape[0], B):
        blk = np.asarray(mat[blo : blo + B], dtype=np.float32)
        cross = blk.astype(np.float64) @ q64.T  # (B, Q)
        b_sq = (blk.astype(np.float64) ** 2).sum(1)
        d2 = b_sq[:, None] - 2.0 * cross + q_sq[None, :]
        np.maximum(d2, 0.0, out=d2)
        for qi in range(nq):
            col = d2[:, qi]
            idx = np.argpartition(col, 9)[:10]
            cand_d = np.sqrt(col[idx])
            cand_i = idx + lo + blo
            all_d = np.concatenate([truth_d[qi], cand_d])
            all_i = np.concatenate([truth_i[qi], cand_i])
            order = np.lexsort((all_i, all_d))[:10]
            truth_d[qi], truth_i[qi] = all_d[order], all_i[order]
    el = time.perf_counter() - t
    tmp = os.path.join(OUT100M, f"truth-{s:02d}.npz.tmp")
    with open(tmp, "wb") as fh:
        np.savez(fh, d=truth_d, i=truth_i)
    os.replace(tmp, os.path.join(OUT100M, f"truth-{s:02d}.npz"))
    _sidecar_write(f"truth{s}", {"seconds": el})
    print(f"truth: sub-{s} done in {el:.0f} s", flush=True)
    return 0


def _run_wave(tasks: list[str], max_workers: int = MAX_WORKERS_100M) -> None:
    """Run worker tasks as subprocesses, at most `max_workers` at once,
    holding new launches while disk free < MIN_FREE_GB_100M (each build
    frees its parquet on completion). A worker failure aborts the probe."""
    import shutil
    import subprocess

    pending = list(tasks)
    running: list[tuple[str, subprocess.Popen]] = []
    while pending or running:
        for name, p in list(running):
            rc = p.poll()
            if rc is not None:
                running.remove((name, p))
                if rc != 0:
                    for _, q in running:
                        q.terminate()
                    raise RuntimeError(f"worker {name} failed rc={rc} "
                                       f"(see {OUT100M}/log_{name}.txt)")
        free_gb = shutil.disk_usage(OUT100M).free / 1e9
        # the disk gate holds only SUB BUILDS (each stages a ~13 GB
        # parquet+mmap transient); anchor/truth tasks add ~nothing and
        # must not deadlock behind the final footprint
        disk_ok = (not pending or not pending[0].startswith("sub:")
                   or free_gb >= MIN_FREE_GB_100M)
        if pending and len(running) < max_workers and disk_ok:
            name = pending.pop(0)
            log = open(os.path.join(OUT100M, f"log_{name.replace(':', '_')}.txt"), "ab")
            p = subprocess.Popen(
                [sys.executable, os.path.abspath(__file__), "--100m-worker", name],
                stdout=log, stderr=subprocess.STDOUT,
            )
            running.append((name, p))
            print(f"wave: launched {name} ({len(running)} running, "
                  f"{free_gb:.0f} GB free)", flush=True)
            continue
        time.sleep(5)


def probe_100m() -> int:
    import shutil

    import numpy as np

    from custom_python_vectordb_spark.operators.partitioned import (
        IvfPqReplicaHandle,
    )

    from bench import _mem_bw_gbps

    # v2 layout marker: the first r13 attempt's one-shot layout (no saved
    # index state, whole-sub RNG streams) cannot be resumed — wipe it
    marker = os.path.join(OUT100M, "_V2_LAYOUT")
    if os.path.isdir(OUT100M) and not os.path.exists(marker):
        print("wiping pre-v2 (unresumable) 100M build dir", flush=True)
        shutil.rmtree(OUT100M)
    os.makedirs(OUT100M, exist_ok=True)
    with open(marker, "w") as fh:
        fh.write("per-(sub,file) seeds + save_index state\n")

    bw0 = _mem_bw_gbps()

    # probe queries: first rows of sub-0 — regenerable by any process
    qp = os.path.join(OUT100M, "queries.npy")
    if not os.path.exists(qp):
        _ids, mat0 = _gen_sub_block(0, 0, _centers_100m())
        np.save(qp, mat0[:NQ_100M].astype(np.float32).copy())
        del mat0
    queries = np.load(qp)

    # ---- build waves: sub-0 solo first (its auto-M pick gates the rest),
    # then the anchor rides inside a full-width wave so the alpha ratio
    # compares like-contended builds
    if _sidecar_read("sub0") is None:
        _run_wave(["sub:0:auto"], max_workers=1)
    chosen_m = _sidecar_read("sub0")["chosen_m"]
    print(f"auto num_subspaces on sub-0: M={chosen_m}", flush=True)
    remaining = [f"sub:{s}:{chosen_m}" for s in range(1, N_SUB_100M)
                 if _sidecar_read(f"sub{s}") is None]
    if _sidecar_read("anchor") is None:
        remaining.insert(0, "anchor")
    if remaining:
        _run_wave(remaining)

    rows: dict[str, float] = {"auto_m": chosen_m}
    rows["ivfpq_build_10m_s"] = _sidecar_read("anchor")["seconds"]
    rows["ivfpq_build_100m_total_s"] = sum(
        _sidecar_read(f"sub{s}")["seconds"] for s in range(N_SUB_100M)
    )
    rows["build_alpha_10m_100m"] = math.log10(
        rows["ivfpq_build_100m_total_s"] / rows["ivfpq_build_10m_s"]
    )

    # ---- exact truth: one worker per sub (each reads only ITS mmap tier),
    # then a driver-side 10-way merge — the distributed truth job
    truth_tasks = [f"truth:{s}" for s in range(N_SUB_100M)
                   if not os.path.exists(os.path.join(OUT100M, f"truth-{s:02d}.npz"))]
    if truth_tasks:
        _run_wave(truth_tasks)
    truth_d = np.full((NQ_100M, 10), np.inf, dtype=np.float64)
    truth_i = np.full((NQ_100M, 10), -1, dtype=np.int64)
    for s in range(N_SUB_100M):
        with np.load(os.path.join(OUT100M, f"truth-{s:02d}.npz")) as z:
            sd, si = z["d"], z["i"]
        for qi in range(NQ_100M):
            all_d = np.concatenate([truth_d[qi], sd[qi]])
            all_i = np.concatenate([truth_i[qi], si[qi]])
            order = np.lexsort((all_i, all_d))[:10]
            truth_d[qi], truth_i[qi] = all_d[order], all_i[order]
    rows["exact_truth_total_s"] = sum(
        _sidecar_read(f"truth{s}")["seconds"] for s in range(N_SUB_100M)
    )

    # ---- load the 8 persisted sub-indexes (codes resident, floats mmap)
    handles = []
    for s in range(N_SUB_100M):
        mm_dir = os.path.join(OUT100M, f"mmap-{s:02d}")
        handles.append(IvfPqReplicaHandle.load_index(mm_dir, rerank_mmap_dir=mm_dir))

    # ---- serving sweep: per-query search all 8 sub-indexes, merge top-10
    results = []
    for fk in FETCHK_SWEEP_100M:
        hits = 0
        seq_p50s, shard_max_p50s = [], []
        for rep in range(2):
            seq_lat, shard_max_lat = [], []
            for qi in range(NQ_100M):
                v = queries[qi]
                parts_i, parts_d = [], []
                t0 = time.perf_counter()
                per_shard = []
                for h in handles:
                    ts = time.perf_counter()
                    ids_s, d_s = h.search_one(v, 10, fetch_k=fk)
                    per_shard.append(time.perf_counter() - ts)
                    parts_i.append(np.asarray(ids_s, dtype=np.int64))
                    parts_d.append(d_s)
                seq_lat.append((time.perf_counter() - t0) * 1000)
                shard_max_lat.append(max(per_shard) * 1000)
                if rep == 0:
                    ids_all = np.concatenate(parts_i)
                    d_all = np.concatenate(parts_d)
                    order = np.lexsort((ids_all, d_all))[:10]
                    hits += len(
                        set(int(i) for i in ids_all[order])
                        & set(int(i) for i in truth_i[qi])
                    )
            seq_lat.sort(); shard_max_lat.sort()
            seq_p50s.append(seq_lat[len(seq_lat) // 2])
            shard_max_p50s.append(shard_max_lat[len(shard_max_lat) // 2])
        recall = hits / (NQ_100M * 10)
        results.append((fk, recall, min(seq_p50s), min(shard_max_p50s)))
        print(f"fetch_k={fk}: recall@10={recall:.4f} "
              f"p50_seq={min(seq_p50s):.3f} ms p50_shard_max={min(shard_max_p50s):.3f} ms",
              flush=True)
    bw1 = _mem_bw_gbps()

    lines = [
        "| fetch_k | recall@10 | p50 seq (8 sub-indexes, 1 core) | p50 max-shard (cluster-parallel bound) |",
        "|---|---|---|---|",
    ] + [
        f"| {fk} | {rec:.4f} | {p50s:.3f} ms | {p50m:.3f} ms |"
        for fk, rec, p50s, p50m in results
    ]
    block = "\n".join(lines)
    begin, end = "<!-- VEC100M PROBE BEGIN -->", "<!-- VEC100M PROBE END -->"
    section = (
        f"{begin}\n\n## Sixth decade, embeddings axis (100M-vector sharded IVF-PQ via the f32 mmap tier)\n\n"
        "tools/probe_vec1m.py --100m: 100M x 128 f32 (51 GB — past resident\n"
        f"floats) served as {N_SUB_100M} sub-indexes of {ROWS_PER_SUB_100M:,} rows (the\n"
        "1000-executor shape: every sub-index is one node's IvfPqReplicaHandle,\n"
        "the driver merge is the same (dist, id) top-k every distributed\n"
        "operator here uses). Same clustered recipe (256 centers, sigma 0.7 —\n"
        "~390k rows per natural cluster, 10x the 10M density). Build: each\n"
        f"sub-index built in its OWN WORKER PROCESS ({MAX_WORKERS_100M}-wide waves — the\n"
        "executor shape, resumable via save_index persistence; the 10M alpha\n"
        "anchor built inside the same wave width so both sides of the ratio\n"
        "see the same bandwidth contention), parquet deleted after each\n"
        "sub-build; resident tier = uint16 offset codes\n"
        f"(~{N_SUB_100M * ROWS_PER_SUB_100M * rows.get('auto_m', 64) * 2 / 1e9:.1f} GB RAM) "
        "+ float32 mmap rerank (51 GB disk, page-cached).\n\n"
        "SIXTH-DECADE FINDING: num_subspaces came from the r13 density-adaptive\n"
        f"probe (num_subspaces='auto', target 0.995) on sub-index 0: M={rows.get('auto_m')}\n"
        "— the auto pick at full density replaces the hand-tuned M the 10M\n"
        "probe showed goes stale each decade.\n\n"
        f"Anchors this run: mem_bw_gbps {bw0} at start, {bw1} after; 10M anchor\n"
        f"build {rows['ivfpq_build_10m_s']:.1f} s (in-wave) vs 100M total "
        f"{rows['ivfpq_build_100m_total_s']:.1f} s (sum of per-sub\nbuild seconds, "
        f"{MAX_WORKERS_100M}-way-concurrent regime) ->\ndecade exponent alpha = "
        f"{rows['build_alpha_10m_100m']:.2f} (gate <= 1.1; sub-builds are\n"
        "embarrassingly parallel across executors in the cluster shape, so the\n"
        "wall-clock alpha there is ~0). Exact truth: chunked f32 GEMM straight\n"
        f"off the mmap tiers, {rows['exact_truth_total_s']:.0f} worker-seconds for "
        f"{NQ_100M} queries x 100M rows.\n\n"
        "The p50 bandwidth statement: each sub-query probes nprobe/n_cells\n"
        f"(={CFG_100M['nprobe']}/{CFG_100M['n_cells']}) of 12.5M rows' codes "
        "(resident) + fetch_k f32 rows\nfrom the page-cached mmap — the "
        "cluster-parallel bound is the max-shard\ncolumn, the single-core "
        "sequential sum is the seq column.\n\n"
        + block + "\n\n" + end
    )
    md = os.environ.get("PROBE100M_MD") or os.path.join(_REPO, "SCALING.md")
    src = open(md).read() if os.path.exists(md) else ""
    if begin in src:
        src = src.split(begin)[0] + section + src.split(end)[1]
    else:
        src = src.rstrip() + "\n\n" + section + "\n"
    with open(md, "w") as fh:
        fh.write(src)
    print(f"{md} updated (100M block)")
    return 0


def main() -> int:
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    if "--10m" in sys.argv:
        return probe_10m()
    if "--100m-worker" in sys.argv:
        task = sys.argv[sys.argv.index("--100m-worker") + 1]
        if task == "anchor":
            return _worker_anchor()
        kind, *args = task.split(":")
        if kind == "sub":
            return _worker_sub(int(args[0]), args[1])
        if kind == "truth":
            return _worker_truth(int(args[0]))
        print(f"unknown worker task {task!r}")
        return 2
    if "--100m" in sys.argv:
        return probe_100m()
    import numpy as np
    import pandas as pd
    import pyarrow.parquet as pq

    gen_corpus(OUT, 1_000_000, 1042)
    with_2m = "--no-2m" not in sys.argv
    if with_2m:
        gen_corpus(OUT2M, 2_000_000, 2042)
    if not glob.glob(os.path.join(V100K, "part-*.parquet")):
        print("run bench.py once first (builds the 100K corpus)")
        return 1

    from custom_python_vectordb_spark.operators.knn import knn_replica_serve
    from custom_python_vectordb_spark.operators.partitioned import (
        IvfReplicaHandle,
        ivf_replica_serve,
    )

    from bench import _mem_bw_gbps

    bw0 = _mem_bw_gbps()

    results: dict[str, dict[str, float]] = {}
    scales = [("100K", V100K), ("1M", OUT)] + ([("2M", OUT2M)] if with_2m else [])
    # TWO passes over the scales: pass 1 measures every bandwidth-bound
    # anchor (exact GEMM, IVF) BEFORE pass 2 runs the allocation-heavy
    # IVF-PQ builds — anchors should not share a measurement window with
    # GB-class build churn. NOTE the published rows still move with the
    # BOX: the 2M exact row measured 42-61 ms/q in two early-day runs and
    # 143-179 in three later runs with and without pass reordering, while
    # a same-window stream check read ~3.8 GB/s vs the usual 10-13 — i.e.
    # co-tenant memory traffic, not code (the same lesson as bench's
    # mem_bw_gbps row, which this probe now records alongside its table).
    prep: dict[str, tuple] = {}
    tl2_by_tag: dict[str, dict] = {}
    for tag, root in scales:
        shard_files = sorted(glob.glob(os.path.join(root, "part-*.parquet")))
        t0 = pq.read_table(shard_files[0])
        emb = np.stack(
            t0.column("embedding").to_numpy(zero_copy_only=False)[:NQ_TRUTH]
        ).astype(np.float32)
        qids = t0.column("vec_id").to_numpy()[:NQ_TRUTH]
        qpd = pd.DataFrame({"qid": qids, "qvec": list(emb)})
        prep[tag] = (root, shard_files, emb, qids, qpd)
        row: dict[str, float] = {}

        # exact GEMM replica: serving truth + the brute-force ms/q anchor
        knn_replica_serve(shard_files, qpd, k=10, dtype="float32")  # decode
        best = float("inf")
        for _ in range(3):
            t = time.perf_counter()
            exact = knn_replica_serve(shard_files, qpd, k=10, dtype="float32")
            best = min(best, time.perf_counter() - t)
        row["exact_gemm_ms_per_q"] = best * 1000 / NQ_TRUTH
        truth: dict[int, set] = {}
        for q, v in zip(exact["qid"], exact["vec_id"]):
            truth.setdefault(q, set()).add(v)

        cfg = CFG[tag]
        t = time.perf_counter()
        ivf_replica_serve(shard_files, qpd.iloc[:1], k=10, **cfg)  # build
        row["ivf_build_s"] = time.perf_counter() - t
        best = float("inf")
        for _ in range(3):
            t = time.perf_counter()
            res = ivf_replica_serve(shard_files, qpd, k=10, **cfg)
            best = min(best, time.perf_counter() - t)
        row["ivf_batch_ms_per_q"] = best * 1000 / NQ_TRUTH
        hits = sum(
            1 for q, v in zip(res["qid"], res["vec_id"]) if v in truth.get(q, ())
        )
        row["ivf_recall_at10"] = hits / (NQ_TRUTH * 10)

        handle = IvfReplicaHandle(shard_files, **cfg)
        qvecs = list(emb)
        for v in qvecs:
            handle.search_one(v, 10)
        p50s = []
        for _ in range(3):
            lat = []
            for v in qvecs:
                t = time.perf_counter()
                handle.search_one(v, 10)
                lat.append((time.perf_counter() - t) * 1000)
            lat.sort()
            p50s.append(lat[len(lat) // 2])
        p50s.sort()
        row["ivf_single_p50_ms"] = p50s[len(p50s) // 2]

        # L2 truth for pass 2's IVF-PQ recall (the tier's distance) —
        # computed here while the exact replica is hot and the heap clean
        exact_l2 = knn_replica_serve(
            shard_files, qpd, k=10, dtype="float32", metric="l2"
        )
        tl2: dict[int, set] = {}
        for q, v in zip(exact_l2["qid"], exact_l2["vec_id"]):
            tl2.setdefault(q, set()).add(v)
        tl2_by_tag[tag] = tl2
        results[tag] = row

    # pass 2: IVF-PQ tier (r11) — cell-pruned ADC over resident residual
    # PQ codes + exact rerank from the disk mmap float tier; 32× resident
    # compression at cell-pruned latency, recall measured per scale
    from custom_python_vectordb_spark.operators.partitioned import (
        IvfPqReplicaHandle,
    )

    for tag, root in scales:
        _root, shard_files, emb, qids, qpd = prep[tag]
        cfg = CFG[tag]
        row = results[tag]
        tl2 = tl2_by_tag[tag]
        qvecs = list(emb)
        t = time.perf_counter()
        ipq = IvfPqReplicaHandle(
            shard_files, n_cells=cfg["n_cells"], nprobe=cfg["nprobe"],
            assign_r=cfg["assign_r"],
            rerank_mmap_dir=os.path.join(root, "ivfpq_mmap"),
        )
        row["ivfpq_build_s"] = time.perf_counter() - t
        fk = IVFPQ_FETCH_K[tag]
        hits = 0
        for qid, v in zip(qids, qvecs):
            rids, _d = ipq.search_one(v, 10, fetch_k=fk)
            hits += len(set(int(i) for i in rids) & tl2.get(qid, set()))
        row["ivfpq_rerank_recall_at10"] = hits / (NQ_TRUTH * 10)
        p50s = []
        for _ in range(3):
            lat = []
            for v in qvecs:
                t = time.perf_counter()
                ipq.search_one(v, 10, fetch_k=fk)
                lat.append((time.perf_counter() - t) * 1000)
            lat.sort()
            p50s.append(lat[len(lat) // 2])
        p50s.sort()
        row["ivfpq_single_p50_ms"] = p50s[len(p50s) // 2]

    tags = [t for t, _ in scales]
    if with_2m:
        hdr = ("| metric | 100K | 1M | 2M | alpha_1M | alpha_2M |",
               "|---|---|---|---|---|---|")
    else:
        hdr = ("| metric | 100K | 1M | alpha_1M |", "|---|---|---|---|")
    lines = list(hdr)
    for key in ("exact_gemm_ms_per_q", "ivf_build_s", "ivf_batch_ms_per_q",
                "ivf_single_p50_ms", "ivf_recall_at10",
                "ivfpq_build_s", "ivfpq_single_p50_ms",
                "ivfpq_rerank_recall_at10"):
        vals = [results[t][key] for t in tags]
        cells = "".join(f" {v:.4f} |" for v in vals)
        alphas = ""
        if not key.endswith("recall_at10"):
            # per-step exponent normalized by that step's row ratio:
            # 100K->1M is 10x, 1M->2M is 2x
            a1 = math.log10(vals[1] / vals[0]) if vals[0] > 0 else float("nan")
            alphas = f" {a1:.2f} |"
            if with_2m:
                a2 = (math.log(vals[2] / vals[1]) / math.log(2.0)
                      if vals[1] > 0 else float("nan"))
                alphas += f" {a2:.2f} |"
        elif with_2m:
            alphas = "  |  |"
        else:
            alphas = "  |"
        lines.append(f"| {key} |{cells}{alphas}")
        print(lines[-1], flush=True)

    block = "\n".join(lines)
    begin, end = "<!-- VEC1M PROBE BEGIN -->", "<!-- VEC1M PROBE END -->"
    section = (
        f"{begin}\n\n## Fourth decade, embeddings axis (1M/2M-vector probe)\n\n"
        "tools/probe_vec1m.py: the knn/IVF serving family measured past\n"
        "the 100K baseline corpus to the reference's own 1M ('stress')\n"
        "and 2M ('extreme') bench presets (examples/benchmark.py:44-51;\n"
        "same clustered recipe,\n"
        f"{CFG['1M']['n_cells']} cells / nprobe {CFG['1M']['nprobe']} at 1M, "
        f"{CFG['2M']['n_cells']} / {CFG['2M']['nprobe']} at 2M"
        " — cells grow with the corpus so the probed fraction stays\n"
        "bounded; alpha_1M = log10 time ratio across the 10x step,\n"
        "alpha_2M = log2 ratio across the 2x step; 1.0 =\n"
        "linear, <1 sub-linear; recall@10 measured vs exact truth at each\n"
        "scale in the same run; mem_bw_gbps is the same-run single-thread\n"
        "bandwidth anchor the time rows normalize against — every serving\n"
        f"row here is memory-bound). This run: mem_bw_gbps = {bw0} at\n"
        f"start, {_mem_bw_gbps()} after the sweep.\n\n"
        "Reading: build is LINEAR since r11 (Lloyd trains on a 131k\n"
        "evenly-spaced sample, assignment is one chunked pass — was\n"
        "alpha 1.71 full-matrix); build cells are ONE-SHOT timings of\n"
        "an ingest-time step and swing up to 3x with co-tenant\n"
        "bandwidth (1M build across six r11 runs: 16.6-50.3 s; read\n"
        "them against the anchors above, not as exponents).\n"
        "Single-query p50 tracking ~1.0 is BY\n"
        "DESIGN at constant probed fraction (nprobe/cells held at\n"
        "~0.8%): probed bytes grow with the corpus; holding latency\n"
        "sub-linear instead costs recall or a deeper index (IVF-PQ —\n"
        "measured separately in bench's quantized serving rows). The\n"
        "batch row amortizes the centroid GEMM across queries, hence\n"
        "its sub-linear alpha.\n\n" + block + "\n\n" + end
    )
    md = os.path.join(_REPO, "SCALING.md")
    src = open(md).read()
    if begin in src:
        src = src.split(begin)[0] + section + src.split(end)[1]
    else:
        src = src.rstrip() + "\n\n" + section + "\n"
    with open(md, "w") as fh:
        fh.write(src)
    print("SCALING.md updated")
    return 0


if __name__ == "__main__":
    sys.exit(main())
