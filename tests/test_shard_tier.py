"""The shard-resident tier (operators/shard_tier.py): one resolver, one
snapshot format and one byte budget behind every serving kind."""

import ast
import glob
import os
import pathlib
import shutil
import threading

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import custom_python_vectordb_spark
from custom_python_vectordb_spark.operators import partitioned as P
from custom_python_vectordb_spark.operators import quantization as Q
from custom_python_vectordb_spark.operators import shard_tier
from custom_python_vectordb_spark.operators.bm25 import keyword_replica_serve
from custom_python_vectordb_spark.operators.knn import knn_replica_serve

DIM = 16
KINDS = ["ivf", "ivfpq", "sq", "bq", "pq", "exact", "keyword"]


def _write_collection(path, n=600, seed=0):
    rng = np.random.default_rng(seed)
    words = np.array(["alpha", "beta", "gamma", "delta", "spark", "join"])
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        pa.table({
            "id": [f"d{i:04d}" for i in range(n)],
            "embedding": list(rng.standard_normal((n, DIM)).astype(np.float32)),
            "_document": [" ".join(rng.choice(words, 5)) for _ in range(n)],
        }),
        path,
    )


def _request(kind, paths, snap_dir=None):
    """One first request of `kind`; kinds with a snapshot save one into
    `snap_dir` when given (the IVF resolver saves while it builds)."""
    q = np.linspace(-1.0, 1.0, DIM).astype(np.float32)
    if kind == "ivf":
        h = P.ivf_handle_for(paths, n_cells=8, nprobe=3, id_col="id",
                             dtype="float32", index_dir=snap_dir)
        return h.search_one(q, 5)
    if kind == "exact":
        qpd = pd.DataFrame({"qid": [0], "qvec": [q]})
        return knn_replica_serve(paths, qpd, k=5, id_col="id", mmap_dir=snap_dir)
    if kind == "keyword":
        return keyword_replica_serve(paths, "alpha beta", k=5)
    h = {
        "ivfpq": lambda: P.IvfPqReplicaHandle(paths, n_cells=8, nprobe=3,
                                              num_subspaces=4, id_col="id"),
        "sq": lambda: Q.SqReplicaHandle(paths, id_col="id"),
        "bq": lambda: Q.BqReplicaHandle(paths, id_col="id"),
        "pq": lambda: Q.PqReplicaHandle(paths, num_subspaces=4, id_col="id"),
    }[kind]()
    if snap_dir is not None:
        h.save_index(snap_dir)
    return h.search_one(q, 5)


@pytest.mark.parametrize("kind", KINDS)
def test_tier_single_flight_stale_snapshot_and_budget(kind, tmp_path, monkeypatch):
    shard_tier.clear()
    shard = tmp_path / "c0" / "part-0.parquet"
    _write_collection(str(shard))
    paths = [str(shard)]
    reads: list = []
    mutate: list = []
    real_read = pq.read_table

    def read_table(path, *a, **kw):
        tbl = real_read(path, *a, **kw)
        reads.append(path)
        if mutate:
            # a write lands right after the build read the shard
            mutate.pop()
            st = os.stat(path)
            os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
        return tbl

    monkeypatch.setattr(pq, "read_table", read_table)

    # eight threads making the first request build once
    barrier = threading.Barrier(8)
    results, errors = [], []

    def first():
        barrier.wait()
        try:
            results.append(_request(kind, paths))
        except Exception as e:  # pragma: no cover - reported below
            errors.append(e)

    threads = [threading.Thread(target=first) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors and len(results) == 8
    assert len(reads) == 1, reads

    # a mutation between build and save leaves the snapshot stale
    shard_tier.clear()
    reads.clear()
    mutate.append(1)
    snap = str(tmp_path / "snap")
    _request(kind, paths, snap)
    live = tuple((p, os.stat(p).st_mtime_ns, os.stat(p).st_size) for p in paths)
    saved = [
        shard_tier.load(os.path.dirname(f), os.path.basename(f)[: -len(".npz")])
        for f in glob.glob(os.path.join(snap, "**", "*.npz"), recursive=True)
    ]
    assert len(saved) == (0 if kind == "keyword" else 1)
    for _arrays, meta in saved:
        assert meta["stat_key"] != live
    # ... and so is the resident entry: the next request re-reads
    n = len(reads)
    _request(kind, paths, snap)
    assert len(reads) > n

    # resident bytes stay within the budget across many collections and
    # many writes to one collection (each write adds new part-file names)
    shard_tier.clear()
    _request(kind, paths)
    one = shard_tier._resident
    assert one > 0
    budget = int(2.5 * one)
    monkeypatch.setattr(shard_tier, "BUDGET_BYTES", budget)
    for i in range(1, 7):
        p = tmp_path / f"c{i}" / "part-0.parquet"
        os.makedirs(p.parent)
        shutil.copyfile(shard, p)
        _request(kind, [str(p)])
        assert shard_tier._resident <= budget
    cur = shard
    for j in range(1, 7):
        nxt = shard.parent / f"part-{j}.parquet"
        shutil.copyfile(cur, nxt)
        os.remove(cur)
        cur = nxt
        _request(kind, [str(cur)])
        assert shard_tier._resident <= budget
    shard_tier.clear()


def test_snapshot_format_strings_and_unreadable_files(tmp_path):
    """String ids round-trip as object arrays; a file in the old layout
    (no tier meta record) or a corrupt file loads as absent."""
    d = str(tmp_path)
    ids = np.array(["a", "bb", "ccc"], dtype=object)
    shard_tier.save(d, "x", {"ids": ids, "v": np.arange(3)},
                    {"stat_key": (("p", 1, 2),), "n": 3})
    arrays, meta = shard_tier.load(d, "x")
    assert arrays["ids"].dtype == object and list(arrays["ids"]) == ["a", "bb", "ccc"]
    assert meta == {"stat_key": (("p", 1, 2),), "n": 3}
    assert not glob.glob(os.path.join(d, "*.tmp.*"))
    np.savez(os.path.join(d, "old.npz"), ids=np.arange(3),
             meta=np.frombuffer(b"{}", dtype=np.uint8))
    assert shard_tier.load(d, "old") is None
    with open(os.path.join(d, "bad.npz"), "wb") as fh:
        fh.write(b"not a zip")
    assert shard_tier.load(d, "bad") is None
    assert shard_tier.load(d, "missing") is None


def test_only_shard_tier_holds_caches_or_unpickles():
    """No package module but shard_tier defines a module-level *_CACHE
    dict, and none passes allow_pickle other than False."""
    pkg = pathlib.Path(custom_python_vectordb_spark.__file__).parent
    offenders = []
    for f in sorted(pkg.rglob("*.py")):
        rel = f.relative_to(pkg).as_posix()
        if rel == "operators/shard_tier.py":
            continue
        tree = ast.parse(f.read_text(), filename=rel)
        for node in tree.body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign):
                targets, value = [node.target], node.value
            else:
                continue
            is_dict = isinstance(value, (ast.Dict, ast.DictComp)) or (
                isinstance(value, ast.Call)
                and getattr(value.func, "id", getattr(value.func, "attr", None))
                in ("dict", "OrderedDict", "defaultdict")
            )
            for t in targets:
                if isinstance(t, ast.Name) and t.id.endswith("_CACHE") and is_dict:
                    offenders.append(f"{rel}:{node.lineno} {t.id}")
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.keyword)
                and node.arg == "allow_pickle"
                and not (isinstance(node.value, ast.Constant) and node.value.value is False)
            ):
                offenders.append(f"{rel}:{node.value.lineno} allow_pickle")
    assert not offenders, offenders


# where a bare argpartition may stay: the shared top-k lives in
# operators/topk.py; the IVF probe rule; the nearest-r cell assignment; and
# the two Spark kernels whose outputs DuckDB oracles and snapshots pin
ARGPARTITION_ALLOWED = {
    "operators/knn.py": {"knn_batch_gemm"},
    "operators/partitioned.py": {"_probe_cells", "_train_assign_cells", "knn_partitioned"},
}


def test_serving_top_k_goes_through_the_shared_top_k():
    """Every NumPy top-k of the in-process tiers ranks by (dist, id)
    through operators/topk.py: no argpartition outside the allowed
    definitions of these modules (a bare argpartition breaks ties at the
    k-th boundary arbitrarily)."""
    pkg = pathlib.Path(custom_python_vectordb_spark.__file__).parent
    offenders = []
    for rel in ("operators/knn.py", "operators/quantization.py", "operators/partitioned.py",
                "operators/bm25.py", "operators/mmr.py", "api.py"):
        tree = ast.parse((pkg / rel).read_text(), filename=rel)
        for top in tree.body:
            name = getattr(top, "name", None)
            for node in ast.walk(top):
                used = (isinstance(node, ast.Attribute) and node.attr == "argpartition") or (
                    isinstance(node, ast.Name) and node.id == "argpartition")
                if used and name not in ARGPARTITION_ALLOWED.get(rel, ()):
                    offenders.append(f"{rel}:{node.lineno} in {name}")
    assert not offenders, offenders


def test_ivfpq_serve_warm_request_reads_no_parquet_or_ids(tmp_path, monkeypatch):
    """api.ivfpq_serve resolves its handle through the tier: with the tier
    warm, a second identical request (rerank tier included) reads neither
    the parquet shards nor the mmap tier's ids."""
    from custom_python_vectordb_spark.api import VectorDB

    shard_tier.clear()
    root = str(tmp_path / "wh")
    _write_collection(os.path.join(root, "kb", "part-0.parquet"))
    coll = VectorDB(None, root).get_collection("kb", dimensions=DIM)
    q = [np.linspace(-1.0, 1.0, DIM).tolist()]
    kw = dict(query_embeddings=q, n_results=5, n_cells=8, nprobe=3,
              fetch_k=40, num_subspaces=4)
    first = coll.ivfpq_serve(**kw)
    assert len(first[0]) == 5

    def banned(*a, **k):
        raise AssertionError("a warm request must not read shard or index files")

    monkeypatch.setattr(pq, "read_table", banned)
    monkeypatch.setattr(np, "load", banned)
    assert coll.ivfpq_serve(**kw) == first
    shard_tier.clear()
