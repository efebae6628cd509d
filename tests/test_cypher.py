"""The Cypher compiler (plans/cypher.py) on a toy graph with a self-loop,
a 2-cycle and parallel edges, checked against a Python simple-path walk;
and its footprint on a long-lived session: no persisted RDD per query."""

from __future__ import annotations

import ast
import pathlib
from collections import defaultdict

import pytest

import custom_python_vectordb_spark
from custom_python_vectordb_spark.functions.local_relation import local_df
from custom_python_vectordb_spark.plans.cypher import cypher

NODES = ["a", "b", "c", "d", "x"]
EDGES = [
    ("a", "a", "T"),  # self-loop
    ("a", "x", "T"),
    ("a", "b", "T"),
    ("a", "b", "T"),  # parallel, same type
    ("a", "b", "U"),  # parallel, other type
    ("b", "a", "T"),  # 2-cycle with a→b
    ("b", "c", "U"),
    ("c", "d", "T"),
    ("x", "c", "T"),
]


@pytest.fixture(scope="module")
def toy(spark):
    nodes = local_df(
        spark, [(n, ["N"], n.upper()) for n in NODES], "id string, labels array<string>, name string"
    )
    edges = local_df(spark, EDGES, "src string, dst string, type string")
    return nodes, edges


def reference(lo: int, hi: int, direction: str, etype: str | None = None) -> set:
    """(start, end) pairs joined by a simple path of lo..hi edges: the walk
    of the DuckDB oracles, which never revisits a node, the start included."""
    adj = defaultdict(set)
    for s, d, t in EDGES:
        if etype is None or t == etype:
            if direction in ("out", "both"):
                adj[s].add(d)
            if direction in ("in", "both"):
                adj[d].add(s)
    out = set()

    def walk(path: list) -> None:
        if lo <= len(path) - 1:
            out.add((path[0], path[-1]))
        if len(path) - 1 < hi:
            for n in adj[path[-1]]:
                if n not in path:
                    walk(path + [n])

    for s in NODES:
        walk([s])
    return out


@pytest.mark.parametrize("pattern, lo, hi, direction, etype", [
    ("-[*1..2]->", 1, 2, "out", None),
    ("-[*2..3]->", 2, 3, "out", None),
    ("<-[*1..2]-", 1, 2, "in", None),
    ("-[*1..2]-", 1, 2, "both", None),
    ("-[:T*1..2]->", 1, 2, "out", "T"),
])
def test_var_length_matches_the_simple_path_walk(spark, toy, monkeypatch, pattern, lo, hi, direction, etype):
    calls = []
    real_sql = type(spark).sql
    monkeypatch.setattr(type(spark), "sql", lambda self, *a, **kw: calls.append(a) or real_sql(self, *a, **kw))
    df = cypher(*toy, f"MATCH (s){pattern}(t) RETURN s, t")
    assert len(calls) == 1  # the whole query is one SQL text
    got = [tuple(r) for r in df.collect()]
    assert len(got) == len(set(got))
    assert set(got) == reference(lo, hi, direction, etype)
    assert ("a", "a") not in set(got)  # the self-loop binds nothing
    if pattern == "-[*2..3]->":
        assert ("a", "x") not in set(got)  # a→a→x is not a simple path


def test_count_over_parallel_edges_counts_distinct_bindings(toy):
    # a fixed one-edge hop binds a self-loop, as in Cypher
    pairs = {(s, d) for s, d, t in EDGES if t == "T"}
    assert cypher(*toy, "MATCH (s)-[:T]->(t) RETURN count(*)").collect()[0]["count_all"] == len(pairs)
    per_src = cypher(*toy, "MATCH (s)-[]->(t) RETURN s, count(t) ORDER BY s").collect()
    assert [(r["s_id"], r["count_t"]) for r in per_src] == [
        (s, len({d for s2, d, _ in EDGES if s2 == s})) for s in sorted({s for s, _, _ in EDGES})
    ]


@pytest.mark.parametrize("bounds", ["*0..2", "*3..2"])
def test_var_length_bounds_outside_one_to_max_raise(toy, bounds):
    with pytest.raises(ValueError, match="var-length bounds"):
        cypher(*toy, f"MATCH (s)-[{bounds}]->(t) RETURN s, t")



# stored values that hold a comma, a brace, or a keyword of the grammar
QUOTED = ["a, b", "OPTIONAL MATCH x", "a}b", "x RETURN y"]


@pytest.fixture(scope="module")
def quoted_graph(spark, tmp_path_factory):
    """(nodes, edges, post): the QUOTED names plus "a", as DataFrames and on a server."""
    import json
    import urllib.request

    from custom_python_vectordb_spark.api import VectorDB
    from custom_python_vectordb_spark.server import serve_background

    rows = [(f"q{i}", ["Q"], v) for i, v in enumerate(QUOTED + ["a"])]
    srv, port = serve_background(VectorDB(spark, str(tmp_path_factory.mktemp("wh"))))

    def post(path, body):
        req = urllib.request.Request(f"http://127.0.0.1:{port}{path}", json.dumps(body).encode())
        with urllib.request.urlopen(req, timeout=120) as resp:
            return json.loads(resp.read())

    for node_id, labels, name in rows:
        post("/graph/nodes", {"id": node_id, "labels": labels, "props": {"name": name}})
    yield (local_df(spark, rows, "id string, labels array<string>, name string"),
           local_df(spark, EDGES, "src string, dst string, type string"), post)
    srv.shutdown()
    srv.server_close()


@pytest.mark.parametrize("form", ["MATCH (n:Q {{name: '{v}'}}) RETURN n",
                                  "MATCH (n:Q) WHERE n.name = '{v}' RETURN n"])
@pytest.mark.parametrize("value", QUOTED)
def test_a_quoted_value_is_data(quoted_graph, form, value):
    nodes, edges, post = quoted_graph
    query, want = form.format(v=value), [f"q{QUOTED.index(value)}"]
    assert [r["n_id"] for r in cypher(nodes, edges, query).collect()] == want
    assert [r["n_id"] for r in post("/graph/query", {"query": query})["rows"]] == want


def _persistent_rdd_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def test_cypher_queries_persist_nothing_across_runs(spark, sf_small):
    """Each cypher_* registry query, built fresh and collected three times in
    one session, leaves no persisted RDD behind."""
    from custom_python_vectordb_spark import registry

    registry.load_all()
    names = sorted(n for n in registry.QUERIES if n.startswith("cypher_"))
    assert len(names) >= 11
    before = _persistent_rdd_ids(spark)
    for _ in range(3):
        for name in names:
            registry.clear_plan_memos()
            registry.QUERIES[name].__wrapped__(spark, sf_small).collect()
    assert _persistent_rdd_ids(spark) - before == set()


def test_plans_persist_nothing():
    """No module under plans/ persists, caches or checkpoints a frame: a
    compiled plan owns no storage a long-lived session would have to free."""
    pkg = pathlib.Path(custom_python_vectordb_spark.__file__).parent
    offenders = []
    for f in sorted((pkg / "plans").rglob("*.py")):
        for node in ast.walk(ast.parse(f.read_text(), filename=f.name)):
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) and (
                node.func.attr in ("persist", "cache", "localCheckpoint")
            ):
                offenders.append(f"plans/{f.name}:{node.lineno} {node.func.attr}")
    assert not offenders, offenders
