"""Triangle counting over an undirected edge table, degree-ordered.

Triangles (3-cliques) are the basic graph-cohesion statistic (clustering
coefficients, community strength, spam/bot subgraph detection).  The naive
count — three-way self-join with ``a < b < c`` — is correct and is what the
DuckDB oracle states, but at scale its wedge step explodes on hubs: a node
of degree d contributes d² wedge rows, so one celebrity node dominates the
whole shuffle.

The standard fix (node-iterator++ / the Cohen MapReduce algorithm): rank
nodes by (degree, id) and orient every undirected edge from the
lower-ranked to the higher-ranked endpoint.  Each triangle then has exactly
ONE vertex with two outgoing oriented edges, so counting (wedge from u) ⋈
(closing oriented edge) counts each triangle exactly once — and every
out-neighborhood is provably O(√m), so no hub ever produces a quadratic
wedge set.  Same answer as the naive join, skew-bounded plan.

Materialization note (round 6): the oriented edge set feeds THREE
consumers (both wedge sides + the closing join) and its build embeds the
degree aggregate, which itself reads the edge input twice — left lazy,
Spark recomputes the whole derivation tree per consumer (measured ~5.6 s
for the co-purchase graph at sf0.1, dominated by re-running the lineitem
self-join up to 9×).  `oriented_edges` therefore materializes the oriented
set (and the degree table) eagerly once; the downstream joins then read
~1 M compact rows.  Measured: 5.58 s → ~2 s for `copurchase_triangles`.

Reference parity note: the reference's graph layer (``graph.py``) has no
triangle/cohesion analytics — this is additive pipeline surface, like
PageRank (operators/centrality.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def degree_table(edges: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """(n, deg) over the distinct undirected edge set — one
    map-side-combined aggregate, shared by orientation and wedge counting."""
    e = edges.select(F.col(a).alias("u"), F.col(b).alias("v")).filter(
        F.col("u") != F.col("v")
    )
    return (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def oriented_edges(
    edges: DataFrame,
    a: str = "a",
    b: str = "b",
    deg: DataFrame | None = None,
    materialize: bool = True,
) -> DataFrame:
    """(src, dst, ddeg): every undirected edge oriented low-rank →
    high-rank with rank = (degree, id); ddeg is the destination's degree.
    Out-neighborhoods of the result are O(√m) — the property that bounds
    the wedge join.  `materialize=True` (default) localCheckpoints the
    ~|E|-row result because callers consume it several times; pass a
    precomputed `deg` (from `degree_table`) to share the aggregate.

    Cluster-scale note: localCheckpoint blocks live in executor storage —
    for unbounded cluster runs route through a reliable checkpoint dir
    (operators/centrality._reliable_ckpt) instead; at bounded local scale
    the executor-local copy is the faster right call."""
    e = edges.select(F.col(a).alias("u"), F.col(b).alias("v")).filter(
        F.col("u") != F.col("v")
    )
    if deg is None:
        deg = degree_table(edges, a, b)
        if materialize:
            # deg is referenced twice below (both rank sides); left lazy its
            # build — which embeds the full edge derivation — runs twice
            deg = deg.localCheckpoint(eager=True)
    du = deg.select(F.col("n").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("deg").alias("dv"))
    ranked = e.join(du, "u").join(dv, "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("ddeg"),
    )
    return oriented.localCheckpoint(eager=True) if materialize else oriented


def adjacency_from_oriented(
    oriented: DataFrame, materialize: bool = True
) -> DataFrame:
    """(src, nbrs): each node's out-neighbor array over a degree-ordered
    oriented edge set — O(√m)-bounded arrays, |V| rows, m values total.
    This IS the triangle pass's working set, so it is what gets
    materialized (r11): checkpointing the |E|-row oriented set AND
    re-deriving the adjacency per consumer paid a 12 M-row checkpoint
    plus an extra shuffle at sf1 for no reuse the adjacency can't give."""
    adj = oriented.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))
    return adj.localCheckpoint(eager=True) if materialize else adj


def triangles_from_adjacency(adj: DataFrame) -> DataFrame:
    """One row (n_triangles,) from an out-neighbor adjacency table.

    Edge-iterator formulation with ONE join (r11; was two): the edge
    stream is re-derived map-side from the adjacency itself —
    explode(nbrs) yields every oriented edge (u, v) ALREADY carrying
    N⁺(u), so only N⁺(v) needs a join. Σ |N⁺(u) ∩ N⁺(v)| counts each
    triangle u→v, u→w, v→w exactly once at its (u, v) edge. The one
    remaining shuffle of wedge-scale bytes (each edge row carries its
    O(√m) nu array to v's partition) is hash-partitioned, NOT sort-merge:
    SHUFFLE_HASH on the |V|-row adjacency side keeps the wide stream from
    being SORTED by dst — measured at sf1 co-purchase (12 M edges,
    413 M oriented wedges, 16.3 M triangles) the sort was the dominant
    cost of the two-join r6 plan. Spark's ArrayIntersect is hash-based,
    O(|a|+|b|) per row."""
    stream = adj.select(
        "src", F.col("nbrs").alias("nu"), F.explode("nbrs").alias("dst")
    )
    return (
        stream.join(
            adj.select(F.col("src").alias("_v"), F.col("nbrs").alias("nv")).hint(
                "shuffle_hash"
            ),
            F.col("dst") == F.col("_v"),
        )
        .select(F.size(F.array_intersect("nu", "nv")).alias("c"))
        # empty edge set → SUM is NULL; the count contract says 0
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_triangles"))
    )


def triangle_count(edges: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """Count triangles in the undirected simple graph given as distinct
    edges (one row per edge; endpoint order irrelevant, self-loops must be
    absent).  Returns one row: (n_edges, n_triangles).

    Plan shape (r11): one degree aggregation, a lazy re-orientation
    projection, ONE materialized |V|-row adjacency (see
    adjacency_from_oriented), and the single hash-partitioned
    intersection join — the |E|-row oriented set is never checkpointed
    and n_edges falls out of the adjacency for free.
    """
    # deg is referenced by both rank sides of the orientation — pin it so
    # the lazy oriented projection doesn't run the degree aggregate twice
    deg = degree_table(edges, a, b).localCheckpoint(eager=True)
    adj = adjacency_from_oriented(
        oriented_edges(edges, a, b, deg=deg, materialize=False)
    )
    n_edges = adj.agg(
        F.coalesce(F.sum(F.size("nbrs")), F.lit(0)).cast("long").alias("n_edges")
    )
    return n_edges.crossJoin(triangles_from_adjacency(adj))
