"""The shard-resident tier: one policy for every in-process serving index
(exact, mmap, IVF, IVF-PQ, SQ, BQ, PQ, keyword, phrase) built from a set of
parquet shard files — the reference's keep-the-built-index-in-memory and
persist-it-next-to-the-vectors (``vectordb_optimized.py:271-331``,
``binary_persistence.py:196-209``), written once:

- :func:`resolve`: one process-wide cache keyed on ``(kind, sorted paths,
  params)``. Each entry carries the shards' ``(path, mtime_ns, size)`` stat
  key taken BEFORE they were read, so a write landing during a build
  leaves the entry, and any snapshot saved from it, stale. Builds are
  single-flight per key. Residency is bounded by bytes across every kind
  (least recently used first; the entry just built is never evicted).
- :func:`load_vectors`: the one ``(ids, matrix)`` shard decoder.
- :func:`save` / :func:`load`: the one snapshot format, plain arrays plus a
  JSON meta record in an ``.npz``, written atomically and read without
  pickle.
- :func:`clear`: drop every entry (tests).
- :class:`EmptyShardSetError`: the one signal that a shard set holds no
  rows to build a handle over.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import types
from collections import OrderedDict

import numpy as np

# Share of physical RAM the resident entries of one process may hold.
RAM_SHARE = 0.25
BUDGET_BYTES = int(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") * RAM_SHARE)

_META = "__tier_meta__"

_lock = threading.Lock()
# key -> (stat_key, value, nbytes), least recently used first
_entries: OrderedDict = OrderedDict()
# key -> Event set when the in-flight build of that key finishes
_building: dict = {}
_resident = 0


class EmptyShardSetError(ValueError):
    """The shard files hold no rows, so there is no index to build or
    serve; serving facades answer with empty results."""


def _stat_key(paths: tuple) -> tuple:
    return tuple((p, st.st_mtime_ns, st.st_size) for p, st in ((p, os.stat(p)) for p in paths))


def _nbytes(obj, seen: set) -> int:
    """RAM held by a built value: each array buffer once, however many
    views share it (a memory map counts as none: the page cache holds
    it), plus containers and their elements, and the attributes of plain
    objects (a handle's code arrays)."""
    if isinstance(obj, np.ndarray):
        while isinstance(obj.base, np.ndarray):
            obj = obj.base
        if isinstance(obj, np.memmap) or id(obj) in seen:
            return 0
        seen.add(id(obj))
        if obj.dtype == object:
            return obj.nbytes + sum(sys.getsizeof(x) for x in obj.ravel())
        return obj.nbytes
    if isinstance(obj, (tuple, list)):
        return sys.getsizeof(obj) + sum(_nbytes(x, seen) for x in obj)
    if isinstance(obj, dict):
        return sys.getsizeof(obj) + sum(
            _nbytes(k, seen) + _nbytes(v, seen) for k, v in obj.items()
        )
    if isinstance(obj, types.ModuleType) or id(obj) in seen:
        return 0
    slots: list = []
    for c in type(obj).__mro__:
        sl = c.__dict__.get("__slots__", ())
        slots += [sl] if isinstance(sl, str) else list(sl)
    attrs = getattr(obj, "__dict__", None)
    if not slots and not isinstance(attrs, dict):
        return sys.getsizeof(obj)
    seen.add(id(obj))
    vals = [getattr(obj, s, None) for s in slots]
    if isinstance(attrs, dict):
        vals += attrs.values()
    return sys.getsizeof(obj) + sum(_nbytes(v, seen) for v in vals)


def resolve(kind: str, paths, params: tuple, build_fn):
    """The value built for ``(kind, paths, params)`` from the shards' current
    contents. On a miss or a stale stat key, ``build_fn(sorted_paths,
    stat_key)`` builds it; the stat key it receives was taken before any
    read, and is the one to record in a snapshot. A warm hit costs one
    stat pass and one dict lookup."""
    global _resident
    paths = tuple(sorted(paths))
    key = (kind, paths, params)
    while True:
        sk = _stat_key(paths)
        with _lock:
            ent = _entries.get(key)
            if ent is not None and ent[0] == sk:
                _entries.move_to_end(key)
                return ent[1]
            done = _building.get(key)
            if done is None:
                done = _building[key] = threading.Event()
                break
        # another thread is building this key: wait, then re-check (a
        # failed build, or one for an older stat key, falls through to
        # building here)
        done.wait()
    try:
        value = build_fn(paths, sk)
        nb = _nbytes(value, set())
        with _lock:
            old = _entries.pop(key, None)
            if old is not None:
                _resident -= old[2]
            _entries[key] = (sk, value, nb)
            _resident += nb
            while _resident > BUDGET_BYTES and len(_entries) > 1:
                _k, (_sk, _v, onb) = _entries.popitem(last=False)
                _resident -= onb
    finally:
        with _lock:
            del _building[key]
        done.set()
    return value


def resident(kind: str, paths, params: tuple):
    """The value :func:`resolve` would return for ``(kind, paths, params)``
    when it is resident and fresh, else None. Builds nothing and leaves
    the LRU order alone: a read-only view for status reports."""
    paths = tuple(sorted(paths))
    sk = _stat_key(paths)
    with _lock:
        ent = _entries.get((kind, paths, params))
    return ent[1] if ent is not None and ent[0] == sk else None


def load_vectors(paths, id_col: str, dtype: str, sort_ids: bool = False):
    """``(ids, matrix)`` decoded from the shard files in the given order, or
    None when they hold no rows. Only the id column and the vector column
    (``embedding``, else the second column) are read. ``sort_ids`` orders
    rows by id (stable), the seeding order of the k-means builds."""
    import pyarrow.parquet as pq

    ids_parts, mat_parts = [], []
    for p in paths:
        names = pq.read_schema(p).names
        vec_field = "embedding" if "embedding" in names else names[1]
        tbl = pq.read_table(p, columns=[id_col, vec_field])
        if tbl.num_rows == 0:  # Spark writes empty part files
            continue
        ids_parts.append(tbl.column(id_col).to_numpy(zero_copy_only=False))
        flat = np.concatenate(
            [c.flatten().to_numpy(zero_copy_only=False) for c in tbl.column(vec_field).chunks]
        )
        mat_parts.append(flat.reshape(len(ids_parts[-1]), -1).astype(dtype, copy=False))
    if not ids_parts:
        return None
    ids = np.concatenate(ids_parts)
    mat = np.concatenate(mat_parts)
    if sort_ids:
        order = np.argsort(ids, kind="stable")
        ids, mat = ids[order], mat[order]
    return ids, mat


def save(out_dir: str, name: str, arrays: dict, meta: dict) -> None:
    """Write ``out_dir/name.npz`` atomically: a per-process tmp file (two
    workers saving the same snapshot never share one) then ``os.replace``.
    ``meta`` must be JSON-serializable; a ``stat_key`` in it should be the
    key :func:`resolve` handed the build."""
    os.makedirs(out_dir, exist_ok=True)
    out, strs = {}, []
    for k, a in arrays.items():
        a = np.asarray(a)
        if a.dtype == object:
            a = a.astype(str)
            strs.append(k)
        out[k] = a
    rec = json.dumps({"meta": meta, "str_arrays": strs}).encode()
    tmp = os.path.join(out_dir, f"{name}.npz.tmp.{os.getpid()}")
    with open(tmp, "wb") as fh:
        np.savez(fh, **out, **{_META: np.frombuffer(rec, dtype=np.uint8)})
    os.replace(tmp, os.path.join(out_dir, f"{name}.npz"))


def load(in_dir: str, name: str):
    """``(arrays, meta)`` from :func:`save` output, or None when the file is
    missing, unreadable or in another layout. ``meta["stat_key"]`` comes
    back in :func:`resolve`'s tuple form, so it compares with ``==``."""
    import zipfile

    try:
        with np.load(os.path.join(in_dir, f"{name}.npz"), allow_pickle=False) as z:
            rec = json.loads(z[_META].tobytes().decode())
            arrays = {k: z[k] for k in z.files if k != _META}
        for k in rec["str_arrays"]:
            arrays[k] = arrays[k].astype(object)
        meta = rec["meta"]
    except (OSError, ValueError, KeyError, TypeError, EOFError, zipfile.BadZipFile):
        return None
    if meta.get("stat_key") is not None:
        meta["stat_key"] = tuple(tuple(t) for t in meta["stat_key"])
    return arrays, meta


def clear() -> None:
    """Drop every resident entry."""
    global _resident
    with _lock:
        _entries.clear()
        _resident = 0
