"""Canonical property-graph view over the relational test tables.

The reference's graph layer (``graph.py``: Node/Edge/Hyperedge + five
secondary indexes) is re-expressed as two DataFrames — `nodes` and `edges` —
derived deterministically from the TPC-H-ish star schema, so every graph
query has a DuckDB-SQL oracle over the same parquet. Secondary indexes
(label/property/adjacency/edge-type/hyperedge, ``graph.py:253-488``)
disappear: predicate pushdown + partition pruning replace them (SURVEY.md §4).

Graph shape:
  (c:Customer)-[:IN_NATION]->(n:Nation)-[:IN_REGION]->(r:Region)
  (s:Supplier)-[:IN_NATION]->(n:Nation)
  (c:Customer)-[:PLACED]->(o:Order)
  (o:Order)-[:CONTAINS {qty}]->(p:Part)        one edge per lineitem
  (o:Order)-[:SUPPLIED_BY]->(s:Supplier)       one edge per lineitem

Node ids are type-prefixed strings ('c:42'); labels is ARRAY<STRING> (one
label per node in this view — the model supports many). Hyperedges
(``graph.py:125-148``) are orders-as-groups: membership table
(hyperedge_id='o:k', node_id ∈ {customer} ∪ {parts}).

At 100 TB scale: nodes/edges would be written partitioned by label / type
(partition pruning = the reference's label & edge-type indexes); all
traversal joins are key equi-joins on src/dst.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from custom_python_vectordb_spark.sources.catalog import load_table


def _id(prefix: str, col) -> F.Column:
    return F.concat(F.lit(prefix + ":"), F.col(col).cast("string"))


# (applicationId, sf_dir, which) -> DataFrame: the 6-branch unions cost
# hundreds of py4j calls to BUILD per invocation; the underlying fixture
# tables are immutable (and load_table is itself memoized), so the derived
# view DataFrames are safely shared across plans — same rationale as
# catalog._TABLE_MEMO.
_VIEW_MEMO: dict = {}


def _memoized(spark: SparkSession, sf_dir: str, which: str, build):
    key = (spark.sparkContext.applicationId, sf_dir, which)
    df = _VIEW_MEMO.get(key)
    if df is None:
        df = build()
        _VIEW_MEMO[key] = df
    return df


def nodes_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memoized(spark, sf_dir, "nodes", lambda: _nodes_df(spark, sf_dir))


def _nodes_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unified node table: (id, labels, name, mktsegment, acctbal, size).
    Absent properties are NULL → the missing-field filter semantics of
    ``functions.filters`` apply unchanged (graph.py:677-686)."""
    null_s = F.lit(None).cast("string")
    null_d = F.lit(None).cast("double")
    null_i = F.lit(None).cast("int")

    customer = load_table(spark, sf_dir, "customer").select(
        _id("c", "c_custkey").alias("id"),
        F.array(F.lit("Customer")).alias("labels"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.col("c_acctbal").alias("acctbal"),
        null_i.alias("size"),
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        _id("s", "s_suppkey").alias("id"),
        F.array(F.lit("Supplier")).alias("labels"),
        F.col("s_name").alias("name"),
        null_s.alias("mktsegment"),
        F.col("s_acctbal").alias("acctbal"),
        null_i.alias("size"),
    )
    nation = load_table(spark, sf_dir, "nation").select(
        _id("n", "n_nationkey").alias("id"),
        F.array(F.lit("Nation")).alias("labels"),
        F.col("n_name").alias("name"),
        null_s.alias("mktsegment"),
        null_d.alias("acctbal"),
        null_i.alias("size"),
    )
    region = load_table(spark, sf_dir, "region").select(
        _id("r", "r_regionkey").alias("id"),
        F.array(F.lit("Region")).alias("labels"),
        F.col("r_name").alias("name"),
        null_s.alias("mktsegment"),
        null_d.alias("acctbal"),
        null_i.alias("size"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        _id("o", "o_orderkey").alias("id"),
        F.array(F.lit("Order")).alias("labels"),
        null_s.alias("name"),
        null_s.alias("mktsegment"),
        null_d.alias("acctbal"),
        null_i.alias("size"),
    )
    part = load_table(spark, sf_dir, "part").select(
        _id("p", "p_partkey").alias("id"),
        F.array(F.lit("Part")).alias("labels"),
        F.col("p_name").alias("name"),
        null_s.alias("mktsegment"),
        null_d.alias("acctbal"),
        F.col("p_size").alias("size"),
    )
    return customer.unionByName(supplier).unionByName(nation).unionByName(region).unionByName(orders).unionByName(part)


def edges_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memoized(spark, sf_dir, "edges", lambda: _edges_df(spark, sf_dir))


def edges_layout_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-partitioned PERSISTED edge layout — the reference's edge-type
    secondary index (``graph.py:253-488``) as a storage layout instead of
    an in-RAM dict (r12, VERDICT r11 task 5; same move as
    ``similarity.write_ivf_layout`` for IVF cells).

    Written once per (session, sf): ``.../type=CONTAINS/...`` etc. Every
    traversal that filters on edge type then prunes to the probed type's
    directory at PLANNING time (PartitionFilters in the scan) — at 100 TB
    this is the difference between listing one type's files and scanning
    the whole edge set, and it is the ingest-time layout a production
    graph would maintain (the module docstring has promised exactly this
    since r3). Untyped traversals read all partitions of the SAME data —
    one pre-computed parquet scan instead of re-deriving the 6-branch
    union + id-concat per query. Session-scoped index state like
    ``copurchase_pairs``: lives in _VIEW_MEMO, not the plan memos. Its
    temporary directory is removed when the process exits."""

    def build() -> DataFrame:
        import atexit
        import shutil
        import tempfile

        root = tempfile.mkdtemp(prefix="edge_layout_")
        # the layout lives as long as the process that wrote it
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _edges_df(spark, sf_dir).write.mode("overwrite").partitionBy("type").parquet(root)
        return spark.read.parquet(root)

    return _memoized(spark, sf_dir, "edges_layout", build)


def _edges_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unified edge table: (src, dst, type, qty). Multi-edges allowed
    (one CONTAINS/SUPPLIED_BY edge per lineitem), as in the reference."""
    null_d = F.lit(None).cast("double")
    customer = load_table(spark, sf_dir, "customer").select(
        _id("c", "c_custkey").alias("src"), _id("n", "c_nationkey").alias("dst"),
        F.lit("IN_NATION").alias("type"), null_d.alias("qty"),
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        _id("s", "s_suppkey").alias("src"), _id("n", "s_nationkey").alias("dst"),
        F.lit("IN_NATION").alias("type"), null_d.alias("qty"),
    )
    nation = load_table(spark, sf_dir, "nation").select(
        _id("n", "n_nationkey").alias("src"), _id("r", "n_regionkey").alias("dst"),
        F.lit("IN_REGION").alias("type"), null_d.alias("qty"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        _id("c", "o_custkey").alias("src"), _id("o", "o_orderkey").alias("dst"),
        F.lit("PLACED").alias("type"), null_d.alias("qty"),
    )
    li = load_table(spark, sf_dir, "lineitem")
    contains = li.select(
        _id("o", "l_orderkey").alias("src"), _id("p", "l_partkey").alias("dst"),
        F.lit("CONTAINS").alias("type"), F.col("l_quantity").alias("qty"),
    )
    supplied = li.select(
        _id("o", "l_orderkey").alias("src"), _id("s", "l_suppkey").alias("dst"),
        F.lit("SUPPLIED_BY").alias("type"), null_d.alias("qty"),
    )
    return customer.unionByName(supplier).unionByName(nation).unionByName(orders).unionByName(contains).unionByName(supplied)


def copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(a, b) with a < b: distinct co-purchased part pairs (two parts are
    adjacent when some order contains both) — the edge set behind the
    basket-analytics family (copurchase_triangles / _clustering / k-core
    style peels).  MATERIALIZED once per (session, sf): this derived edge
    table is graph-index state a serving system builds at ingest (the
    r5-VERDICT shared-view recommendation), so it lives beside the catalog
    scan memo rather than the per-query plan memo — each analytics query
    then starts from ~|E| compact resident rows instead of re-running the
    lineitem self-join.  At cluster scale this view is a bucketed table on
    `a`, maintained incrementally with the streaming index twins."""

    def build() -> DataFrame:
        op = (
            load_table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_partkey")
            .distinct()
        )
        la = op.select("l_orderkey", F.col("l_partkey").alias("a"))
        lb = op.select("l_orderkey", F.col("l_partkey").alias("b"))
        return (
            la.join(lb, "l_orderkey")
            .filter(F.col("a") < F.col("b"))
            .select("a", "b")
            .distinct()
            .localCheckpoint(eager=True)
        )

    return _memoized(spark, sf_dir, "copurchase", build)


def undirected_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(a, b) with a < b: the property graph's distinct undirected edge
    pairs — the canonical input of degree/peeling analytics (k-core).
    Materialized once per (session, sf); same index-state rationale as
    `copurchase_pairs`."""

    def build() -> DataFrame:
        e = edges_df(spark, sf_dir)
        return (
            e.select(
                F.least(F.col("src"), F.col("dst")).alias("a"),
                F.greatest(F.col("src"), F.col("dst")).alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )

    return _memoized(spark, sf_dir, "undirected", build)


def hyperedge_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memoized(spark, sf_dir, "hyper", lambda: _hyperedge_membership(spark, sf_dir))


def _hyperedge_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(hyperedge_id, node_id): order groups its customer + its parts
    (hyperedges exploded to a membership table, SURVEY.md §1.1)."""
    orders = load_table(spark, sf_dir, "orders").select(
        _id("o", "o_orderkey").alias("hyperedge_id"), _id("c", "o_custkey").alias("node_id")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        _id("o", "l_orderkey").alias("hyperedge_id"), _id("p", "l_partkey").alias("node_id")
    ).distinct()
    return orders.unionByName(li)


# ---- DuckDB oracle twins -------------------------------------------------

DUCK_NODES = """
nodes AS (
    SELECT 'c:' || c_custkey AS id, 'Customer' AS label, c_name AS name,
           c_mktsegment AS mktsegment, c_acctbal AS acctbal, NULL::INTEGER AS size FROM customer
    UNION ALL SELECT 's:' || s_suppkey, 'Supplier', s_name, NULL, s_acctbal, NULL FROM supplier
    UNION ALL SELECT 'n:' || n_nationkey, 'Nation', n_name, NULL, NULL, NULL FROM nation
    UNION ALL SELECT 'r:' || r_regionkey, 'Region', r_name, NULL, NULL, NULL FROM region
    UNION ALL SELECT 'o:' || o_orderkey, 'Order', NULL, NULL, NULL, NULL FROM orders
    UNION ALL SELECT 'p:' || p_partkey, 'Part', p_name, NULL, NULL, p_size FROM part
)"""

DUCK_EDGES = """
edges AS (
    SELECT 'c:' || c_custkey AS src, 'n:' || c_nationkey AS dst, 'IN_NATION' AS type,
           NULL::DOUBLE AS qty FROM customer
    UNION ALL SELECT 's:' || s_suppkey, 'n:' || s_nationkey, 'IN_NATION', NULL FROM supplier
    UNION ALL SELECT 'n:' || n_nationkey, 'r:' || n_regionkey, 'IN_REGION', NULL FROM nation
    UNION ALL SELECT 'c:' || o_custkey, 'o:' || o_orderkey, 'PLACED', NULL FROM orders
    UNION ALL SELECT 'o:' || l_orderkey, 'p:' || l_partkey, 'CONTAINS', l_quantity FROM lineitem
    UNION ALL SELECT 'o:' || l_orderkey, 's:' || l_suppkey, 'SUPPLIED_BY', NULL FROM lineitem
)"""

DUCK_MEMBERSHIP = """
membership AS (
    SELECT 'o:' || o_orderkey AS hyperedge_id, 'c:' || o_custkey AS node_id FROM orders
    UNION ALL SELECT DISTINCT 'o:' || l_orderkey, 'p:' || l_partkey FROM lineitem
)"""
