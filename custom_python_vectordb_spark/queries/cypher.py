"""Cypher-subset queries (SURVEY.md §2.11) — each compiled to one Spark SQL
text over the graph view, oracle-checked with plain SQL joins / recursive
CTEs over the same pattern semantics."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from custom_python_vectordb_spark.plans.cypher import cypher
from custom_python_vectordb_spark.queries.graph import GRAPH_CTES, _graph
from custom_python_vectordb_spark.registry import query


@query("cypher_node", f"""
{GRAPH_CTES}
SELECT id AS n_id, name AS n_name FROM nodes
WHERE label = 'Customer' AND mktsegment IS NOT NULL AND mktsegment = 'BUILDING'
  AND acctbal IS NOT NULL AND acctbal > 1000
""")
def cypher_node(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, edges = _graph(spark, sf_dir)
    return cypher(
        nodes, edges,
        "MATCH (n:Customer {mktsegment: 'BUILDING'}) WHERE n.acctbal > 1000 RETURN n, n.name",
    )


@query("cypher_edge", f"""
{GRAPH_CTES}
SELECT DISTINCT e.src AS c_id, e.dst AS o_id FROM edges e
WHERE e.type = 'PLACED'
  AND e.src IN (SELECT id FROM nodes WHERE label = 'Customer'
                AND mktsegment IS NOT NULL AND mktsegment = 'MACHINERY'
                AND acctbal IS NOT NULL AND acctbal < 500)
""")
def cypher_edge(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, edges = _graph(spark, sf_dir)
    return cypher(
        nodes, edges,
        "MATCH (c:Customer {mktsegment: 'MACHINERY'})-[:PLACED]->(o:Order) "
        "WHERE c.acctbal < 500 RETURN c, o",
    )


@query("cypher_chain", f"""
{GRAPH_CTES}
SELECT DISTINCT c.id AS c_id, e1.dst AS o_id, p.name AS p_name
FROM nodes c
JOIN edges e1 ON e1.type = 'PLACED' AND e1.src = c.id
JOIN edges e2 ON e2.type = 'CONTAINS' AND e2.src = e1.dst
JOIN nodes p ON p.id = e2.dst AND p.label = 'Part'
WHERE c.label = 'Customer'
  AND c.mktsegment IS NOT NULL AND c.mktsegment = 'BUILDING'
  AND c.acctbal IS NOT NULL AND c.acctbal > 9000
""")
def cypher_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-edge chain (≥2 edges in one MATCH) — beyond the reference's
    single-edge grammar (graph.py:1014-1060)."""
    nodes, edges = _graph(spark, sf_dir)
    return cypher(
        nodes, edges,
        "MATCH (c:Customer {mktsegment: 'BUILDING'})-[:PLACED]->(o:Order)-[:CONTAINS]->(p:Part) "
        "WHERE c.acctbal > 9000 RETURN c, o, p.name",
    )


@query("cypher_reverse", f"""
{GRAPH_CTES}
SELECT DISTINCT s.id AS s_id, s.name AS s_name
FROM nodes n
JOIN edges e ON e.type = 'IN_NATION' AND e.dst = n.id
JOIN nodes s ON s.id = e.src AND s.label = 'Supplier'
WHERE n.label = 'Nation' AND n.name IS NOT NULL AND n.name = 'NATION_9'
""")
def cypher_reverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reverse-direction edge pattern (<-[:TYPE]-)."""
    nodes, edges = _graph(spark, sf_dir)
    return cypher(
        nodes, edges,
        "MATCH (n:Nation {name: 'NATION_9'})<-[:IN_NATION]-(s:Supplier) RETURN s, s.name",
    )


@query("cypher_optional", f"""
{GRAPH_CTES}
SELECT DISTINCT c.id AS c_id, c.name AS c_name, x.p_id AS p_id
FROM nodes c
LEFT JOIN (
    SELECT DISTINCT e1.src AS c_src, p.id AS p_id
    FROM edges e1
    JOIN edges e2 ON e2.type = 'CONTAINS' AND e2.src = e1.dst
    JOIN nodes p ON p.id = e2.dst AND p.label = 'Part'
                AND p.size IS NOT NULL AND p.size = 50
    WHERE e1.type = 'PLACED'
) x ON x.c_src = c.id
WHERE c.label = 'Customer'
  AND c.mktsegment IS NOT NULL AND c.mktsegment = 'AUTOMOBILE'
  AND c.acctbal IS NOT NULL AND c.acctbal > 9500
""")
def cypher_optional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIONAL MATCH with a chain that can miss: customers kept (NULL
    p_id) when none of their orders contains a size-50 part."""
    nodes, edges = _graph(spark, sf_dir)
    return cypher(
        nodes, edges,
        "MATCH (c:Customer {mktsegment: 'AUTOMOBILE'}) "
        "OPTIONAL MATCH (c)-[:PLACED]->(o:Order)-[:CONTAINS]->(p:Part {size: 50}) "
        "WHERE c.acctbal > 9500 RETURN c, c.name, p",
    )


@query("cypher_order_limit", f"""
{GRAPH_CTES}
SELECT id AS p_id, size AS p_size FROM nodes
WHERE label = 'Part' AND size IS NOT NULL AND size >= 40
ORDER BY size DESC, id LIMIT 20
""")
def cypher_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY … DESC with a unique tie-break + LIMIT (registry contract:
    every limit query totally ordered)."""
    nodes, edges = _graph(spark, sf_dir)
    return cypher(
        nodes, edges,
        "MATCH (p:Part) WHERE p.size >= 40 RETURN p, p.size ORDER BY p.size DESC, p LIMIT 20",
    )


@query("cypher_undirected", f"""
{GRAPH_CTES}
SELECT DISTINCT x.id AS x_id, x.name AS x_name
FROM nodes n
JOIN (SELECT src AS a, dst AS b FROM edges WHERE type = 'IN_NATION'
      UNION SELECT dst, src FROM edges WHERE type = 'IN_NATION') e ON e.a = n.id
JOIN nodes x ON x.id = e.b
WHERE n.label = 'Nation' AND n.name IS NOT NULL AND n.name = 'NATION_9'
""")
def cypher_undirected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected edge pattern -[:T]- : IN_NATION seen from the Nation side
    binds the customers AND suppliers of that nation regardless of edge
    direction."""
    nodes, edges = _graph(spark, sf_dir)
    return cypher(
        nodes, edges,
        "MATCH (n:Nation {name: 'NATION_9'})-[:IN_NATION]-(x) RETURN x, x.name",
    )


@query("cypher_optional_where", f"""
{GRAPH_CTES}
SELECT DISTINCT c.id AS c_id, c.name AS c_name, x.p_id AS p_id
FROM nodes c
LEFT JOIN (
    SELECT DISTINCT e1.src AS c_src, p.id AS p_id
    FROM edges e1
    JOIN edges e2 ON e2.type = 'CONTAINS' AND e2.src = e1.dst
    JOIN nodes p ON p.id = e2.dst AND p.label = 'Part'
                AND p.size IS NOT NULL AND p.size > 45
    WHERE e1.type = 'PLACED'
) x ON x.c_src = c.id
WHERE c.label = 'Customer'
  AND c.mktsegment IS NOT NULL AND c.mktsegment = 'AUTOMOBILE'
  AND c.acctbal IS NOT NULL AND c.acctbal > 9500
""")
def cypher_optional_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-clause WHERE: the first WHERE binds to the anchor MATCH, the
    second to the OPTIONAL clause (filtering parts BEFORE the left join, so
    customers with no size>45 part survive with NULL p_id)."""
    nodes, edges = _graph(spark, sf_dir)
    return cypher(
        nodes, edges,
        "MATCH (c:Customer {mktsegment: 'AUTOMOBILE'}) WHERE c.acctbal > 9500 "
        "OPTIONAL MATCH (c)-[:PLACED]->(o:Order)-[:CONTAINS]->(p:Part) "
        "WHERE p.size > 45 RETURN c, c.name, p",
    )


@query("cypher_varlen", f"""
{GRAPH_CTES.replace("WITH ", "WITH RECURSIVE ", 1)},
opairs AS (SELECT DISTINCT src, dst FROM edges),
starts AS (SELECT id FROM nodes WHERE label = 'Customer'
           AND mktsegment IS NOT NULL AND mktsegment = 'AUTOMOBILE'
           AND acctbal IS NOT NULL AND acctbal > 4900),
walk(start, last, path, depth) AS (
    SELECT s.id, s.id, [s.id]::VARCHAR[], 0 FROM starts s
    UNION ALL
    SELECT w.start, e.dst, w.path || [e.dst], w.depth + 1
    FROM walk w JOIN opairs e ON e.src = w.last
    WHERE w.depth < 2 AND NOT list_contains(w.path, e.dst)
)
SELECT DISTINCT start AS a_id, last AS b_id FROM walk WHERE depth BETWEEN 1 AND 2
""")
def cypher_varlen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-length any-type pattern: distinct (a, b) reachable in 1–2
    simple-path hops from a filtered start set."""
    nodes, edges = _graph(spark, sf_dir)
    return cypher(
        nodes, edges,
        "MATCH (a:Customer {mktsegment: 'AUTOMOBILE'})-[*1..2]->(b) "
        "WHERE a.acctbal > 4900 RETURN a, b",
    )


@query("cypher_count", f"""
{GRAPH_CTES}
SELECT c_mktsegment, COUNT(*) AS count_o FROM (
    SELECT DISTINCT c.mktsegment AS c_mktsegment, c.id AS c_id, e.dst AS o_id
    FROM nodes c
    JOIN edges e ON e.type = 'PLACED' AND e.src = c.id
    JOIN nodes o ON o.id = e.dst AND o.label = 'Order'
    WHERE c.label = 'Customer'
)
GROUP BY c_mktsegment
""")
def cypher_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate RETURN with Cypher's implicit grouping: non-aggregate
    items become group keys, count(o) counts matched bindings.

    The oracle states the compiler's documented SET semantics explicitly
    (round-2 ADVICE): DISTINCT (c, o) bindings with o label-checked as
    :Order — equivalent on this dataset's unique well-typed edges, but now
    equivalent by construction, consistent with cypher_count_all."""
    nodes, edges = _graph(spark, sf_dir)
    return cypher(
        nodes, edges,
        "MATCH (c:Customer)-[:PLACED]->(o:Order) RETURN c.mktsegment, count(o)",
    )


@query("cypher_optional_chain", f"""
{GRAPH_CTES}
SELECT DISTINCT c.id AS c_id, x.p_id AS p_id, n.name AS n_name
FROM nodes c
LEFT JOIN (
    SELECT DISTINCT e1.src AS c_src, p.id AS p_id
    FROM edges e1
    JOIN edges e2 ON e2.type = 'CONTAINS' AND e2.src = e1.dst
    JOIN nodes p ON p.id = e2.dst AND p.label = 'Part'
                AND p.size IS NOT NULL AND p.size = 50
    WHERE e1.type = 'PLACED'
) x ON x.c_src = c.id
JOIN edges en ON en.type = 'IN_NATION' AND en.src = c.id
JOIN nodes n ON n.id = en.dst AND n.label = 'Nation'
WHERE c.label = 'Customer'
  AND c.mktsegment IS NOT NULL AND c.mktsegment = 'AUTOMOBILE'
  AND c.acctbal IS NOT NULL AND c.acctbal > 9500
""")
def cypher_optional_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIONAL MATCH composed with a SUBSEQUENT MATCH clause (the round-2
    grammar corner; reference executes it via binding enumeration,
    graph.py:1008-1038): customers keep NULL p_id when no order contains a
    size-50 part, while the later inner MATCH still binds their nation —
    NULL bindings propagate through subsequent clauses joined on other
    variables."""
    nodes, edges = _graph(spark, sf_dir)
    return cypher(
        nodes, edges,
        "MATCH (c:Customer {mktsegment: 'AUTOMOBILE'}) WHERE c.acctbal > 9500 "
        "OPTIONAL MATCH (c)-[:PLACED]->(o:Order)-[:CONTAINS]->(p:Part {size: 50}) "
        "MATCH (c)-[:IN_NATION]->(n:Nation) "
        "RETURN c, p, n.name",
    )


@query("cypher_count_all", f"""
{GRAPH_CTES}
SELECT COUNT(*) AS count_all
FROM (SELECT DISTINCT e.src, e.dst FROM edges e WHERE e.type = 'CONTAINS')
""")
def cypher_count_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global count(*) — no group keys, one row. SET-semantic: the
    compiler's documented contract dedups identical variable bindings
    (plans/cypher.py header), so parallel CONTAINS edges between the same
    (order, part) pair count once — unlike reference Cypher's
    per-relationship matches; the oracle states the same distinct count."""
    nodes, edges = _graph(spark, sf_dir)
    return cypher(nodes, edges, "MATCH (o:Order)-[:CONTAINS]->(p:Part) RETURN count(*)")
