"""Graph operators on a small hand-checkable graph.

    a -R-> b -R-> c -R-> d
    a -S-> c
    b -R-> a   (cycle)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from custom_python_vectordb_spark.operators.graph import (
    bfs_hops,
    degree_top,
    hyperedges_with_all,
    hyperedges_with_any,
    match_2hop,
    neighbors,
    shortest_path,
    traverse_paths,
)

EDGES = [
    ("a", "b", "R"),
    ("b", "c", "R"),
    ("c", "d", "R"),
    ("a", "c", "S"),
    ("b", "a", "R"),
]
NODES = [("a",), ("b",), ("c",), ("d",)]


@pytest.fixture(scope="module")
def g(spark):
    edges = spark.createDataFrame(
        [(s, d, t, None) for s, d, t in EDGES], "src string, dst string, type string, qty double"
    )
    nodes = spark.createDataFrame(
        [(n, ["N"], n.upper()) for (n,) in NODES], "id string, labels array<string>, name string"
    )
    return nodes, edges


def ids(df, col="id"):
    return sorted(r[col] for r in df.collect())


def test_neighbors_directions(g):
    nodes, edges = g
    assert ids(neighbors(nodes, edges, "b", "out")) == ["a", "c"]
    assert ids(neighbors(nodes, edges, "b", "in")) == ["a"]
    assert ids(neighbors(nodes, edges, "b", "both")) == ["a", "c"]  # distinct
    assert ids(neighbors(nodes, edges, "a", "out", edge_type="S")) == ["c"]


def test_bfs_min_hop(g):
    nodes, edges = g
    seeds = nodes.filter(F.col("id") == "a").select("id")
    hops = {r["id"]: r["hop"] for r in bfs_hops(edges, seeds, 3, direction="out").collect()}
    assert hops == {"a": 0, "b": 1, "c": 1, "d": 2}  # c via S at hop 1, not R-R at 2


def test_traverse_all_simple_paths(g):
    nodes, edges = g
    got = sorted(r["path_str"] for r in traverse_paths(edges, "a", max_depth=2, direction="out").collect())
    assert got == sorted(
        ["a->b", "a->c", "a->b->c", "a->c->d"]
    ), got


def test_traverse_cycle_check(g):
    nodes, edges = g
    paths = [r["path_str"] for r in traverse_paths(edges, "a", max_depth=3, direction="out").collect()]
    assert "a->b->a" not in paths  # simple paths only
    assert "a->b->c->d" in paths


def test_shortest_path(g):
    nodes, edges = g
    r = shortest_path(edges, "a", "d", direction="out").collect()
    assert len(r) == 1 and r[0]["path_str"] == "a->c->d" and r[0]["length"] == 2
    assert shortest_path(edges, "d", "a", direction="out").collect() == []  # unreachable
    same = shortest_path(edges, "a", "a").collect()
    assert same[0]["length"] == 0


def test_match_2hop(g):
    nodes, edges = g
    rows = {(r["a_id"], r["b_id"], r["c_id"]) for r in match_2hop(nodes, edges, "R", "R").collect()}
    assert rows == {("a", "b", "c"), ("b", "c", "d"), ("b", "a", "b"), ("a", "b", "a")}


def test_degree(g):
    nodes, edges = g
    got = {r["id"]: r["degree"] for r in degree_top(edges, k=10, direction="in").collect()}
    assert got == {"a": 1, "b": 1, "c": 2, "d": 1}


def test_hyperedges(spark):
    m = spark.createDataFrame(
        [("h1", "x"), ("h1", "y"), ("h2", "x"), ("h3", "z")],
        "hyperedge_id string, node_id string",
    )
    assert ids(hyperedges_with_any(m, ["x", "y"]), "hyperedge_id") == ["h1", "h2"]
    assert ids(hyperedges_with_all(m, ["x", "y"]), "hyperedge_id") == ["h1"]
    assert ids(hyperedges_with_all(m, ["x", "x"]), "hyperedge_id") == ["h1", "h2"]


def test_connected_components(spark):
    from custom_python_vectordb_spark.operators.components import connected_components, dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 1)], "a long, b long"  # {1,2,3,9} and {5,6}
    )
    cc = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 6: 5}
    clusters = {r["cluster"]: (r["size"], r["keeper"]) for r in dedup_clusters(pairs).collect()}
    assert clusters == {1: (4, 1), 5: (2, 5)}


def test_dedup_quality_keeper_semantics(spark, sf_med):
    """Quality-aware representative selection: every cluster's keeper has
    the max ROUNDED quality among its members (ties -> lowest id), so for
    exact-clone clusters (identical text, identical quality) the keeper
    equals dedup_clusters' min-id one."""
    from custom_python_vectordb_spark.functions.text import quality_score
    from custom_python_vectordb_spark.queries.pipeline import (
        _corpus,
        dedup_clusters_q,
        dedup_quality_keeper,
    )

    qk = {
        r["cluster"]: (r["size"], r["keeper"], r["keeper_quality"])
        for r in dedup_quality_keeper(spark, sf_med).collect()
    }
    assert qk, "expected duplicate clusters on the injected corpus"
    base = {
        r["cluster"]: (r["size"], r["keeper"])
        for r in dedup_clusters_q(spark, sf_med).collect()
    }
    # identical cluster structure
    assert set(qk) == set(base)
    assert all(qk[c][0] == base[c][0] for c in qk)
    # quality of every keeper is the max over the corpus rows in scope:
    # clone clusters (ids >= 10000 mirror id-10000) must keep the min id
    q = {
        r["doc_id"]: r["q"]
        for r in _corpus(spark, sf_med)
        .select("doc_id", F.round(quality_score("text"), 6).alias("q"))
        .collect()
    }
    for c, (_size, keeper, kq) in qk.items():
        assert abs(q[keeper] - kq) < 1e-9
        if keeper >= 10000 or keeper + 10000 in q:
            # exact-clone pair: identical quality, tie -> lowest id
            assert keeper == base[c][1]


def test_cypher_translator_edge_cases(spark, sf_small):
    from custom_python_vectordb_spark.plans.cypher import cypher
    from custom_python_vectordb_spark.sources.graph_view import edges_df, nodes_df

    nodes, edges = nodes_df(spark, sf_small), edges_df(spark, sf_small)
    # numeric inline prop + multiple WHERE conds ANDed
    rows = cypher(
        nodes, edges,
        "MATCH (p:Part {size: 1}) WHERE p.size >= 1 AND p.size <= 1 RETURN p, p.name",
    ).collect()
    assert rows and all(r["p_id"].startswith("p:") for r in rows)
    # untyped edge pattern binds every edge type
    some = cypher(nodes, edges, "MATCH (n:Nation)-[]->(r:Region) RETURN n, r").collect()
    assert len(some) == nodes.filter(F.array_contains("labels", "Nation")).count()
    # quoted string with spaces in inline props
    seg = cypher(
        nodes, edges, "MATCH (c:Customer {mktsegment: 'MACHINERY'}) RETURN c"
    ).count()
    assert seg > 0


def test_cypher_extended_grammar(spark, sf_small):
    import pytest

    from custom_python_vectordb_spark.plans.cypher import cypher
    from custom_python_vectordb_spark.sources.graph_view import edges_df, nodes_df

    nodes, edges = nodes_df(spark, sf_small), edges_df(spark, sf_small)

    # multi-edge chain ≡ two single-edge clauses joined on the shared var
    chain = cypher(
        nodes, edges,
        "MATCH (c:Customer)-[:PLACED]->(o:Order)-[:CONTAINS]->(p:Part) RETURN c, p",
    )
    two_clause = cypher(
        nodes, edges,
        "MATCH (c:Customer)-[:PLACED]->(o:Order) "
        "MATCH (o)-[:CONTAINS]->(p:Part) RETURN c, p",
    )
    assert sorted(map(tuple, chain.collect())) == sorted(map(tuple, two_clause.collect()))
    assert chain.count() > 0

    # reverse edge ≡ forward edge with endpoints swapped
    fwd = cypher(nodes, edges, "MATCH (n:Nation)-[:IN_REGION]->(r:Region) RETURN n, r")
    rev = cypher(nodes, edges, "MATCH (r:Region)<-[:IN_REGION]-(n:Nation) RETURN n, r")
    assert sorted(map(tuple, fwd.collect())) == sorted(map(tuple, rev.collect()))

    # OPTIONAL MATCH keeps unmatched left rows with NULL right columns
    # (every synthetic customer has orders, but few orders hold a size-1 part)
    opt = cypher(
        nodes, edges,
        "MATCH (c:Customer) OPTIONAL MATCH (c)-[:PLACED]->(o:Order)-[:CONTAINS]->(p:Part {size: 1}) RETURN c, p",
    ).collect()
    n_customers = nodes.filter(F.array_contains("labels", "Customer")).count()
    assert len(opt) >= n_customers
    assert {r["c_id"] for r in opt} and len({r["c_id"] for r in opt}) == n_customers
    assert any(r["p_id"] is None for r in opt)  # customers with no size-1 part
    assert any(r["p_id"] is not None for r in opt)
    # a customer either has only NULL (no match) or only non-NULL rows
    matched = {r["c_id"] for r in opt if r["p_id"] is not None}
    assert all(r["p_id"] is not None or r["c_id"] not in matched for r in opt)

    # ORDER BY DESC + unique tie-break + LIMIT is the top-k contract
    top = cypher(
        nodes, edges,
        "MATCH (p:Part) RETURN p, p.size ORDER BY p.size DESC, p LIMIT 5",
    ).collect()
    assert len(top) == 5
    sizes = [r["p_size"] for r in top]
    assert sizes == sorted(sizes, reverse=True)

    # undirected edge ≡ union of the two directed matches
    und = cypher(nodes, edges, "MATCH (n:Nation)-[:IN_REGION]-(x) RETURN n, x").collect()
    bwd = cypher(nodes, edges, "MATCH (n:Nation)<-[:IN_REGION]-(x) RETURN n, x").collect()
    assert sorted(map(tuple, und)) == sorted(
        set(map(tuple, fwd.selectExpr("n_id", "r_id as x_id").collect())) | set(map(tuple, bwd))
    )

    # per-clause WHERE on an OPTIONAL MATCH variable filters BEFORE the left
    # join: every customer row survives, non-qualifying matches become NULL
    optw = cypher(
        nodes, edges,
        "MATCH (c:Customer) OPTIONAL MATCH (c)-[:PLACED]->(o:Order)-[:CONTAINS]->(p:Part) "
        "WHERE p.size >= 49 RETURN c, p",
    ).collect()
    assert len({r["c_id"] for r in optw}) == n_customers  # no customer dropped
    assert any(r["p_id"] is None for r in optw)
    # equivalent inline-props form must agree where expressible
    sizes49 = {r["p_id"] for r in optw if r["p_id"] is not None}
    inline = cypher(
        nodes, edges,
        "MATCH (c:Customer)-[:PLACED]->(o:Order)-[:CONTAINS]->(p:Part) "
        "WHERE p.size >= 49 RETURN p",
    ).collect()
    assert sizes49 == {r["p_id"] for r in inline}

    # WHERE between clauses binds to the preceding clause; both WHEREs apply
    two_where = cypher(
        nodes, edges,
        "MATCH (c:Customer) WHERE c.acctbal > 9000 "
        "MATCH (c)-[:PLACED]->(o:Order) RETURN c, o",
    )
    merged = cypher(
        nodes, edges,
        "MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE c.acctbal > 9000 RETURN c, o",
    )
    assert sorted(map(tuple, two_where.collect())) == sorted(map(tuple, merged.collect()))

    # malformed patterns fail loudly
    with pytest.raises(ValueError):
        cypher(nodes, edges, "OPTIONAL MATCH (c:Customer) RETURN c")
    with pytest.raises(ValueError):
        cypher(nodes, edges, "MATCH (a:Part) MATCH (b:Region) RETURN a, b")  # no shared var
    with pytest.raises(ValueError):
        cypher(nodes, edges, "MATCH (a:Nation)-[:IN_REGION]->(a:Region) RETURN a")  # var reuse
    with pytest.raises(ValueError):
        cypher(nodes, edges, "MATCH (a)<-[:IN_REGION]->(b) RETURN a, b")  # double-headed


def test_traverse_unbounded_enumerates_all_simple_paths(spark):
    """max_depth=None reproduces the reference's unbounded all-simple-paths
    enumeration (graph.py:844-869), terminating via the cycle check; the
    explicit max_paths guard raises instead of silently grinding."""
    import pytest as _pytest

    from custom_python_vectordb_spark.functions.local_relation import local_df
    from custom_python_vectordb_spark.operators.graph import traverse_paths

    # diamond + tail: a->b->d->e, a->c->d->e (+ a back-edge d->a, cycle-safe)
    edges = local_df(
        spark,
        [("a", "b", "E"), ("a", "c", "E"), ("b", "d", "E"), ("c", "d", "E"),
         ("d", "e", "E"), ("d", "a", "E")],
        "src string, dst string, type string",
    )
    got = {r["path_str"] for r in traverse_paths(edges, "a", max_depth=None).collect()}
    assert got == {
        "a->b", "a->c", "a->b->d", "a->c->d", "a->b->d->e", "a->c->d->e",
    }
    with _pytest.raises(ValueError, match="max_paths"):
        traverse_paths(edges, "a", max_depth=None, max_paths=3)


def test_kcore_semantics_and_convergence(spark):
    """k-core peeling on a hand-built graph: a triangle+tail graph's 2-core
    is the triangle; the fixture's registered 3-core has CONVERGED by the
    registered round count (round R == round R-1), so the bounded unroll
    emits the true k-core."""
    from custom_python_vectordb_spark.operators.centrality import kcore_nodes
    from custom_python_vectordb_spark.sources.graph_view import edges_df

    rows = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")]
    edges = spark.createDataFrame(rows, "src string, dst string")
    core = {r["id"] for r in kcore_nodes(edges, k=2, rounds=4).collect()}
    assert core == {"a", "b", "c"}
    # k above the max degree → empty
    assert kcore_nodes(edges, k=5, rounds=3).collect() == []

    sf = "/root/testdata/sf0.01"
    e = edges_df(spark, sf)
    r3 = {r["id"] for r in kcore_nodes(e, k=3, rounds=3).collect()}
    r4 = {r["id"] for r in kcore_nodes(e, k=3, rounds=4).collect()}
    assert r3 == r4 and len(r3) > 0


def test_iterative_ops_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir= switches the iterative graph ops from executor-local
    materialization (persist/localCheckpoint — lost with any executor on a
    real cluster) to RELIABLE checkpoint() storage, and the results are
    identical to the default path. Checkpoint files must actually land in
    the given directory — proof the reliable path ran, not the local one."""
    from custom_python_vectordb_spark.operators.centrality import (
        kcore_nodes,
        pagerank,
        weighted_shortest_paths,
    )

    rows = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")]
    edges = spark.createDataFrame(rows, "src string, dst string")
    ckdir = str(tmp_path / "reliable_ck")

    core_default = {r["id"] for r in kcore_nodes(edges, k=2, rounds=3).collect()}
    core_reliable = {
        r["id"]
        for r in kcore_nodes(edges, k=2, rounds=3, checkpoint_dir=ckdir).collect()
    }
    assert core_reliable == core_default == {"a", "b", "c"}
    import os

    assert any(os.scandir(ckdir)), "no checkpoint data written to checkpoint_dir"

    nodes = edges.selectExpr("src as id").union(edges.selectExpr("dst as id")).distinct()
    pr_d = {r["id"]: r["pr"] for r in pagerank(nodes, edges, iterations=3).collect()}
    pr_r = {
        r["id"]: r["pr"]
        for r in pagerank(nodes, edges, iterations=3, checkpoint_dir=ckdir).collect()
    }
    assert pr_r == pr_d

    wedges = edges.selectExpr("src", "dst", "1.0 as qty")
    d_d = {r["id"]: r["dist"] for r in weighted_shortest_paths(wedges, "a", 3).collect()}
    d_r = {
        r["id"]: r["dist"]
        for r in weighted_shortest_paths(wedges, "a", 3, checkpoint_dir=ckdir).collect()
    }
    assert d_r == d_d


def test_semantic_search_resolved_equals_lazy(spark, sf_med):
    """resolve_seeds=True (driver-side seed materialization, r10) must be
    BIT-identical to the lazy one-plan twin — collect round-trips exact
    IEEE doubles and max is a selection, so scores cannot drift."""
    from custom_python_vectordb_spark.operators.graph import semantic_graph_search
    from custom_python_vectordb_spark.sources.catalog import load_table
    from custom_python_vectordb_spark.sources.graph_view import edges_df, nodes_df

    nodes, edges = nodes_df(spark, sf_med), edges_df(spark, sf_med)
    emb = load_table(spark, sf_med, "embeddings")
    nv = emb.select(
        F.concat(F.lit("c:"), F.col("vec_id").cast("string")).alias("id"), "embedding"
    )
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    kw = dict(k=10, expand_hops=2, vector_weight=0.7, graph_weight=0.3)
    fast = semantic_graph_search(nodes, edges, nv, qv, resolve_seeds=True, **kw).collect()
    lazy = semantic_graph_search(nodes, edges, nv, qv, resolve_seeds=False, **kw).collect()
    assert [tuple(r) for r in fast] == [tuple(r) for r in lazy]
    assert len(fast) == 10


def test_edges_layout_parity_and_pruning(spark):
    """r12 (VERDICT r11 task 5): the type-partitioned persisted edge
    layout is (a) row-identical to the derived edge view (multi-edges
    included), and (b) a typed filter prunes to the probed type's
    partition at PLANNING time — the storage-layout form of the
    reference's edge-type index (graph.py:253-488)."""
    from custom_python_vectordb_spark.sources.graph_view import (
        edges_df,
        edges_layout_df,
    )

    sf = "/root/testdata/sf0.001"
    derived = edges_df(spark, sf)
    layout = edges_layout_df(spark, sf)
    cols = ["src", "dst", "type", "qty"]

    def counted(df):
        return {
            tuple(r): r["cnt"]
            for r in df.groupBy(cols).agg(F.count("*").alias("cnt")).collect()
        }

    assert counted(derived.select(*cols)) == counted(layout.select(*cols))

    plan = (
        layout.filter(F.col("type") == "CONTAINS")
        ._jdf.queryExecution().executedPlan().toString()
    )
    # partition pruning is visible in the scan: the type filter appears as
    # a PartitionFilter, and no data-column filter on `type` remains
    assert "PartitionFilters" in plan and "CONTAINS" in plan


def test_edges_layout_directory_is_removed_at_exit(tmp_path, sf_small):
    """A process that builds the edge layout leaves no directory behind."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    script = (
        "import glob, json, os, tempfile\n"
        "from custom_python_vectordb_spark.session import get_spark\n"
        "from custom_python_vectordb_spark.sources.graph_view import edges_layout_df\n"
        "spark = get_spark('edge-layout-exit')\n"
        f"assert edges_layout_df(spark, {sf_small!r}).count() > 0\n"
        "print(json.dumps(glob.glob(os.path.join(tempfile.gettempdir(), 'edge_layout_*'))))\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "TMPDIR": str(tmp), "PYTHONPATH": repo,
           "SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEM": "1g"}
    out = subprocess.run([sys.executable, "-c", script], env=env, cwd=str(tmp_path),
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    built = json.loads(out.stdout.strip().splitlines()[-1])
    assert len(built) == 1 and built[0].startswith(str(tmp))
    assert not os.path.exists(built[0])
