"""Concurrent REST soak client (r12, VERDICT r11 task 7).

Runs OUT-OF-PROCESS from the server on purpose: an in-process client
would share the server's GIL, and the soak would measure client/server
interpreter contention instead of the serving tier. The reference's
comparable is its FastAPI/uvicorn benchmark (8,498 q/s,
notes_benchmark.txt:32), also measured with an external client.

Each worker thread holds ONE persistent HTTP/1.1 keep-alive connection
(each server worker serves all its connections from one selector loop)
and fires `n` sequential
POST /collections/<name>/query requests routed to the requested serving
tier. Latency is the full client-observed round trip (encode + socket +
handler + decode).

``--procs P`` forks P client PROCESSES (spawn context), each running
``--threads`` threads: load generation is itself GIL-bound (~1-1.5k q/s
per process), so measuring a multi-worker SO_REUSEPORT server pool needs
multi-process clients — otherwise the client is the ceiling being
measured. Processes warm locally, then sync on a cross-process barrier
before the clock starts.

Prints ONE JSON line:
    {"procs": P, "threads": T, "requests": R, "p50_ms": .., "p99_ms": ..,
     "qps": .., "wall_s": ..}

Usage:
    python tools/soak_client.py --port P --collection vec100k \
        --queries <parquet with embedding col> --threads 8 --n 500 \
        --body '{"ann": true, "n_results": 10, "n_cells": 384, "nprobe": 3}'
"""

from __future__ import annotations

import argparse
import json
import sys
import threading
import time
from http.client import HTTPConnection


def _connect(port: int) -> HTTPConnection:
    """Keep-alive connection with TCP_NODELAY. http.client writes the
    header block and the body as separate sends; with Nagle on, the body
    send can stall behind the server's delayed ACK (~25-40 ms spikes —
    the exact failure the server fixed on ITS side in r12 with
    disable_nagle_algorithm; r14 fixes the client's half, which showed up
    as p99 ≈ 25-35 ms vs p50 ≈ 2 ms and a 2-4x per-stream wall spread)."""
    import socket as _socket

    conn = HTTPConnection("127.0.0.1", port)
    conn.connect()
    conn.sock.setsockopt(_socket.IPPROTO_TCP, _socket.TCP_NODELAY, 1)
    return conn


def _claimed_connect(args, path: str, hdrs: dict, payload: bytes, claimer):
    """Connect and re-roll until the connection lands on an UNCLAIMED
    worker (identified by the X-Worker response header), bounded attempts.

    SO_REUSEPORT pools balance per-connection by kernel hash: at c=8
    streams on w=32 workers only ~39% of draws are collision-free, and a
    collided pair convoys on one worker's GIL for the whole run — the
    bimodal ~2x qps lottery in the r12/r13 artifacts. A production
    deployment fronts the pool with a least-connections balancer; this
    reproduces that placement so the soak measures the serving tier, not
    the kernel hash. The probe request doubles as connection warm-up."""
    conn = None
    for _ in range(max(4, args.distinct_attempts)):
        conn = _connect(args.port)
        conn.request("POST", path, payload, hdrs)
        r = conn.getresponse()
        r.read()
        pid = r.getheader("X-Worker")
        if pid is None or claimer(pid):
            return conn
        conn.close()
    return _connect(args.port)  # cap hit: accept the draw


def _run_threads(args, go_sync=None, claimer=None) -> dict:
    """The timed loop for one process: ``--threads`` threads × ``--n``
    requests each over persistent connections. Warm is untimed; if
    ``go_sync`` (a callable) is given it runs between warm and the timed
    loop — the cross-process start barrier. Returns {"lats": [...],
    "wall": s} or {"error": [...]}."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(args.queries, columns=["embedding"])
    vecs = tbl.column("embedding").to_pylist()[:200]
    base = json.loads(args.body)
    path = f"/collections/{args.collection}/query"
    # pre-encode every distinct payload once — request building must not
    # sit inside the timed loop
    payloads = [
        json.dumps({**base, "query_embeddings": [[float(x) for x in v]]}).encode()
        for v in vecs
    ]
    hdrs = {"Content-Type": "application/json"}

    warm_done = threading.Barrier(args.threads + 1)
    go = threading.Event()
    lat_by_tid: list[list[float]] = [[] for _ in range(args.threads)]
    errs: list[str] = []

    def worker(tid: int) -> None:
        if claimer is not None:
            conn = _claimed_connect(args, path, hdrs, payloads[0], claimer)
        else:
            conn = _connect(args.port)
        try:
            for i in range(args.warm):
                conn.request("POST", path, payloads[(i * args.threads + tid) % len(payloads)], hdrs)
                r = conn.getresponse()
                r.read()
            warm_done.wait()
            go.wait()
            lat = lat_by_tid[tid]
            for i in range(args.n):
                body = payloads[(i * args.threads + tid) % len(payloads)]
                t0 = time.perf_counter()
                conn.request("POST", path, body, hdrs)
                r = conn.getresponse()
                data = r.read()
                lat.append((time.perf_counter() - t0) * 1000)
                if r.status != 200:
                    errs.append(f"tid {tid} req {i}: HTTP {r.status} {data[:200]!r}")
                    return
        except Exception as e:  # noqa: BLE001 — report, don't hang the barrier
            errs.append(f"tid {tid}: {type(e).__name__}: {e}")
            try:
                warm_done.abort()
            except Exception:
                pass
        finally:
            conn.close()

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(args.threads)]
    for t in threads:
        t.start()
    try:
        warm_done.wait()  # all connections warm before the clock starts
    except threading.BrokenBarrierError:
        go.set()
        for t in threads:
            t.join()
        return {"error": errs[:5] or ["barrier broken"]}
    if go_sync is not None:
        go_sync()  # cross-process start alignment
    t_start = time.perf_counter()
    go.set()
    for t in threads:
        t.join()
    wall = time.perf_counter() - t_start
    if errs:
        return {"error": errs[:5]}
    return {"lats": [x for per in lat_by_tid for x in per], "wall": wall}


def _report(results: list[dict], procs: int, threads: int) -> int:
    errs = [e for r in results for e in r.get("error", [])]
    if errs:
        print(json.dumps({"error": errs[:5]}))
        return 1
    lat = sorted(x for r in results for x in r["lats"])
    total = len(lat)
    wall = max(r["wall"] for r in results)  # conservative: slowest process
    print(json.dumps({
        "procs": procs,
        "threads": threads,
        "requests": total,
        "p50_ms": round(lat[total // 2], 4),
        "p99_ms": round(lat[min(int(total * 0.99), total - 1)], 4),
        "qps": round(total / wall, 1),
        "wall_s": round(wall, 3),
        # per-stream wall spread: a wall_max >> wall_min means stream
        # imbalance (e.g. REUSEPORT hashed two connections onto one
        # worker), and the conservative qps above underestimates the
        # aggregate concurrent rate
        "wall_min_s": round(min(r["wall"] for r in results), 3),
    }))
    return 0


def _proc_worker(args, barrier, q, claimed=None, claim_lock=None) -> None:
    def sync():
        try:
            barrier.wait()
        except Exception:
            pass  # a sibling aborted: run unaligned, its error is reported

    claimer = None
    if claimed is not None:
        def claimer(pid: str) -> bool:
            with claim_lock:
                if pid in claimed:
                    return False
                claimed[pid] = 1
                return True

    res = _run_threads(args, go_sync=sync, claimer=claimer)
    if "error" in res:
        try:
            barrier.abort()  # don't leave siblings waiting on a dead peer
        except Exception:
            pass
    q.put(res)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--collection", default="vec100k")
    ap.add_argument("--queries", required=True, help="parquet file with an embedding column")
    ap.add_argument("--threads", type=int, default=8)
    ap.add_argument("--n", type=int, default=500, help="requests per thread")
    ap.add_argument("--warm", type=int, default=20, help="warm requests per thread (untimed)")
    ap.add_argument("--body", default='{"ann": true, "n_results": 10}')
    ap.add_argument("--procs", type=int, default=1,
                    help="client processes, each running --threads threads")
    ap.add_argument("--distinct-workers", action="store_true",
                    help="re-roll each stream's connection until it lands "
                         "on a distinct pool worker (least-connections "
                         "placement emulation; needs the server's X-Worker "
                         "header)")
    ap.add_argument("--distinct-attempts", type=int, default=32,
                    help="re-roll cap per stream for --distinct-workers")
    args = ap.parse_args()

    if args.procs <= 1:
        return _report([_run_threads(args)], 1, args.threads)

    import multiprocessing as mp

    ctx = mp.get_context("spawn")
    barrier = ctx.Barrier(args.procs)
    q = ctx.Queue()
    claimed = claim_lock = None
    if args.distinct_workers:
        mgr = ctx.Manager()
        claimed, claim_lock = mgr.dict(), mgr.Lock()
    procs = [
        ctx.Process(target=_proc_worker, args=(args, barrier, q, claimed, claim_lock))
        for _ in range(args.procs)
    ]
    for p in procs:
        p.start()
    results = [q.get(timeout=300) for _ in procs]
    for p in procs:
        p.join()
    return _report(results, args.procs, args.threads)


if __name__ == "__main__":
    sys.exit(main())
