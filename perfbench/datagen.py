"""Seeded input generators.

``write_tables`` writes the star-schema + events + documents + embeddings
tables the registry queries read, with the column names, types and value
domains of ``tools/gen_sf1.py`` (the engine's test fixtures), at a row
count chosen by the caller. ``clustered_corpus`` makes the float32 vectors
the serving workload stores. Same seed, same bytes.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
# the value domains and the timestamp helper of the repo's table generator;
# its writer is fixed to sf1 row counts and output paths, so the
# size-parameterised body below stays here
from tools.gen_sf1 import (  # noqa: E402
    EVENT_TYPES, LANGS, LINESTATUS, PADJ, PNOUN, PRIORITIES, PTYPES, REGIONS,
    RETFLAGS, SEGMENTS, STATUSES, US_DAY, VOCAB, _ts_us,
)

# row counts per table at the two sizes the benchmark uses
SIZES = {
    "bench": dict(customer=1500, supplier=100, part=2000, orders=15000,
                  lineitem=60000, events=10000, users=1500, docs=500,
                  emb=500, dim=64),
    "toy": dict(customer=150, supplier=10, part=200, orders=1500,
                lineitem=6000, events=1000, users=150, docs=500,
                emb=500, dim=64),
}


def _write(out: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   row_group_size=max(1024, table.num_rows // 8))


def write_tables(out: str, size: str = "bench", seed: int = 42) -> str:
    """Write the ten query tables under ``out`` and return it."""
    n = SIZES[size]
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    _write(out, "region", pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    }))
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i:02d}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    }))
    nc, ns, np_, no, nl = (n["customer"], n["supplier"], n["part"],
                           n["orders"], n["lineitem"])
    _write(out, "customer", pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, nc)]),
    }))
    _write(out, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns), 2)),
    }))
    adj, noun = rng.integers(0, len(PADJ), np_), rng.integers(0, len(PNOUN), np_)
    _write(out, "part", pa.table({
        "p_partkey": pa.array(np.arange(np_, dtype=np.int64)),
        "p_name": pa.array([f"{PADJ[a]} {PNOUN[b]}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, np_)]),
        "p_type": pa.array([PTYPES[i] for i in rng.integers(0, len(PTYPES), np_)]),
        "p_size": pa.array(rng.integers(1, 51, np_).astype(np.int32)),
        "p_retailprice": pa.array(np.round(rng.uniform(900, 2000, np_), 2)),
    }))
    span = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int))
    oday = rng.integers(0, span + 1, no)
    _write(out, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no)),
        "o_orderstatus": pa.array([STATUSES[i] for i in rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(np.round(rng.uniform(850, 560000, no), 2)),
        "o_orderdate": _ts_us("1995-01-01", oday * US_DAY),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, no)]),
    }))
    lo = np.sort(rng.integers(0, no, nl))
    _write(out, "lineitem", pa.table({
        "l_orderkey": pa.array(lo),
        "l_partkey": pa.array(rng.integers(0, np_, nl)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl)),
        "l_linenumber": pa.array((np.arange(nl) % 7 + 1).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, nl), 2)),
        "l_discount": pa.array(np.round(rng.uniform(0, 0.1, nl), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0, 0.08, nl), 2)),
        "l_returnflag": pa.array([RETFLAGS[i] for i in rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array([LINESTATUS[i] for i in rng.integers(0, 2, nl)]),
        "l_shipdate": _ts_us("1995-01-01", (oday[lo] + rng.integers(1, 96, nl)) * US_DAY),
    }))
    ne = n["events"]
    _write(out, "events", pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": _ts_us("2024-01-01", np.sort(rng.integers(0, 30 * US_DAY, ne))),
        "user_id": pa.array(rng.integers(0, n["users"], ne)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, ne)]),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    }))
    # documents: 8-100 vocab words; ~0.5 % exact and ~1.5 % near duplicates
    nd = n["docs"]
    vocab = np.array(VOCAB)
    words_n = rng.integers(8, 101, nd)
    texts: list[str] = []
    for i in range(nd):
        r = rng.random()
        if i > 100 and r < 0.005:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 100 and r < 0.02:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = str(vocab[int(rng.integers(0, len(vocab)))])
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), words_n[i])]))
    _write(out, "documents", pa.table({
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), nd)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, nd)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }))
    nv, dim = n["emb"], n["dim"]
    centres = rng.standard_normal((10, dim)).astype(np.float32)
    label = rng.integers(0, 10, nv)
    mat = centres[label] + np.float32(0.5) * rng.standard_normal((nv, dim)).astype(np.float32)
    _write(out, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(mat.reshape(-1)), dim).cast(pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    }))
    return out


def clustered_corpus(n: int, dim: int, centres: int, seed: int,
                     spread: float = 0.35) -> np.ndarray:
    """``n`` float32 rows around ``centres`` gaussian centres (unit scale)."""
    rng = np.random.default_rng(seed)
    c = rng.standard_normal((centres, dim)).astype(np.float32)
    lab = rng.integers(0, centres, n)
    return c[lab] + np.float32(spread) * rng.standard_normal((n, dim)).astype(np.float32)


def write_shards(out: str, ids: list[str], mat: np.ndarray, shards: int) -> None:
    """Write a collection, rows (id STRING, embedding ARRAY<FLOAT>), as
    ``shards`` Parquet files in the warehouse directory ``out``."""
    os.makedirs(out, exist_ok=True)
    bounds = np.linspace(0, len(ids), shards + 1).astype(int)
    for s in range(shards):
        a, b = bounds[s], bounds[s + 1]
        pq.write_table(pa.table({
            "id": pa.array(ids[a:b], type=pa.string()),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(mat[a:b].reshape(-1)), mat.shape[1]).cast(pa.list_(pa.float32())),
        }), os.path.join(out, f"part-{s:05d}.parquet"))
