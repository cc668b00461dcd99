"""Graph analytics over the nation and co-supply graphs."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_lakehouse_medallion_pipeline_spark.operators import graph
from spark_lakehouse_medallion_pipeline_spark.operators.graph import pagerank_int
from spark_lakehouse_medallion_pipeline_spark.queries._common import _q, _t


@_q(
    "q126_pagerank_nations",
    """
    WITH e AS (
      SELECT DISTINCT cn.n_name AS src, sn.n_name AS dst
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    ), nodes AS (
      SELECT src AS name FROM e UNION SELECT dst FROM e
    ), deg AS (
      SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src
    ), r0 AS (
      SELECT name, CAST(1000000000000 AS BIGINT) AS r FROM nodes
    ), r1 AS (
      SELECT n.name,
             (15000000000000 + 85*COALESCE(c.s, 0)) // 100 AS r
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS name, CAST(SUM(r.r // d.outdeg) AS BIGINT) AS s
        FROM e JOIN r0 r ON e.src = r.name JOIN deg d ON e.src = d.src
        GROUP BY e.dst) c ON n.name = c.name
    ), r2 AS (
      SELECT n.name,
             (15000000000000 + 85*COALESCE(c.s, 0)) // 100 AS r
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS name, CAST(SUM(r.r // d.outdeg) AS BIGINT) AS s
        FROM e JOIN r1 r ON e.src = r.name JOIN deg d ON e.src = d.src
        GROUP BY e.dst) c ON n.name = c.name
    ), r3 AS (
      SELECT n.name,
             (15000000000000 + 85*COALESCE(c.s, 0)) // 100 AS r
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS name, CAST(SUM(r.r // d.outdeg) AS BIGINT) AS s
        FROM e JOIN r2 r ON e.src = r.name JOIN deg d ON e.src = d.src
        GROUP BY e.dst) c ON n.name = c.name
    )
    SELECT name, CAST(r AS BIGINT) AS rank FROM r3
    """,
)
def q126_pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative graph analytics (beyond connected components): 3
    PageRank iterations over the nation-level trade graph (customer
    nation -> supplier nation edges from the order/lineitem fact). The
    integer-arithmetic formulation (operators.graph.pagerank_int) makes
    a fixed-iteration ITERATIVE algorithm bit-exact cross-engine — the
    oracle unrolls the three iterations as CTEs and every rank must
    match to the last digit."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    cn = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("src")
    )
    sn = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("dst")
    )
    edges = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(cn, c.c_nationkey == F.col("c_nk"))
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(sn, s.s_nationkey == F.col("s_nk"))
        .select("src", "dst")
        .distinct()
    )
    return pagerank_int(edges, iterations=3)


def _cosupply_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared co-supply graph for q161/q167: suppliers are adjacent when
    they ship lines of the same order (restricted to suppkey % 4 == 0 —
    co-supply over every order approaches a complete graph whose wedge
    count is the quadratic cost inherent to triangle enumeration). No
    trailing distinct here: the graph operators canonicalize and dedup
    the edge list themselves (_canonical_edges), so a caller-side
    distinct would just pay a second full-edge-list shuffle."""
    os_ = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_suppkey") % 4 == 0)
        .select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    return (
        os_.alias("x")
        .join(os_.alias("y"), "o")
        .filter(F.col("x.s") < F.col("y.s"))
        .select(F.col("x.s").alias("src"), F.col("y.s").alias("dst"))
    )


# The oracle twin of _cosupply_edges: order-supplier incidences (os) and
# the deduplicated edges a < b between suppliers of one order (e).
_COSUPPLY_OS_CTE = """os AS (
      SELECT DISTINCT l_orderkey AS o, l_suppkey AS s
      FROM lineitem WHERE l_suppkey % 4 = 0
    )"""
_COSUPPLY_E_CTE = """e AS (
      SELECT DISTINCT x.s AS a, y.s AS b
      FROM os x JOIN os y ON x.o = y.o AND x.s < y.s
    )"""


@_q(
    "q161_triangle_count",
    f"""
    WITH {_COSUPPLY_OS_CTE},
    {_COSUPPLY_E_CTE},
    w AS (SELECT e1.a, e1.b, e2.b AS c FROM e e1 JOIN e e2 ON e1.b = e2.a)
    SELECT COUNT(*) AS n_triangles
    FROM w WHERE EXISTS (SELECT 1 FROM e WHERE e.a = w.a AND e.b = w.c)
    """,
)
def q161_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting (the third classic graph statistic after q126
    PageRank and q67's connected components) over the co-supply graph:
    suppliers are adjacent when they ship lines of the same order.
    Wedges are ordered a<b<c so each triangle counts exactly once at its
    smallest vertex — the standard trick that keeps high-degree hubs
    from sitting in the middle of every wedge
    (operators.graph.triangle_count; edge build is one within-order
    self-join, restricted to suppkey % 4 == 0 because co-supply over
    every order approaches a complete graph whose wedge count is the
    quadratic cost inherent to triangle enumeration; edge build shared
    with q167 via _cosupply_edges)."""
    return graph.triangle_count(_cosupply_edges(spark, sf_dir))


@_q(
    "q167_local_clustering",
    f"""
    WITH {_COSUPPLY_OS_CTE},
    {_COSUPPLY_E_CTE},
    w AS (SELECT e1.a, e1.b, e2.b AS c FROM e e1 JOIN e e2 ON e1.b = e2.a),
    t AS (SELECT a, b, c FROM w
          WHERE EXISTS (SELECT 1 FROM e WHERE e.a = w.a AND e.b = w.c)),
    deg AS (SELECT v AS vertex, COUNT(*) AS degree FROM
              (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY v),
    tv AS (SELECT v AS vertex, COUNT(*) AS n_triangles FROM
              (SELECT a AS v FROM t UNION ALL SELECT b FROM t
               UNION ALL SELECT c FROM t) GROUP BY v)
    SELECT deg.vertex, deg.degree,
           COALESCE(tv.n_triangles, 0) AS n_triangles,
           (2 * COALESCE(tv.n_triangles, 0) * CAST(1000000 AS BIGINT))
             // (deg.degree * (deg.degree - 1)) AS lcc_e6
    FROM deg LEFT JOIN tv ON tv.vertex = deg.vertex
    WHERE deg.degree >= 2
    ORDER BY lcc_e6 DESC, deg.vertex LIMIT 100
    """,
)
def q167_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex local clustering coefficient over the q161 co-supply
    graph — which suppliers sit in near-clique communities vs sparse
    hubs. Integer-exact: lcc_e6 = floor(2e6 * tri(v) / (deg(v) *
    (deg(v)-1))), so the driver value-hashes it. Engine path is
    operators.graph.local_clustering (triangle enumeration and the
    _cosupply_edges graph build shared with q161, one narrow
    vertex-explode shuffle on top)."""
    return (
        graph.local_clustering(_cosupply_edges(spark, sf_dir))
        .orderBy(F.desc("lcc_e6"), "vertex")
        .limit(100)
    )


@_q(
    "q188_label_propagation",
    f"""
    WITH {_COSUPPLY_OS_CTE}, {_COSUPPLY_E_CTE}, adj AS (
      SELECT a AS v, b AS n FROM e UNION ALL SELECT b AS v, a AS n FROM e
    ), l0 AS (
      SELECT DISTINCT v, v AS lbl FROM adj
    ), v1 AS (
      SELECT adj.v, l0.lbl, COUNT(*) AS c
      FROM adj JOIN l0 ON l0.v = adj.n GROUP BY adj.v, l0.lbl
    ), l1 AS (
      SELECT v, lbl FROM (
        SELECT v, lbl,
               row_number() OVER (PARTITION BY v ORDER BY c DESC, lbl) AS rn
        FROM v1) z WHERE rn = 1
    ), v2 AS (
      SELECT adj.v, l1.lbl, COUNT(*) AS c
      FROM adj JOIN l1 ON l1.v = adj.n GROUP BY adj.v, l1.lbl
    ), l2 AS (
      SELECT v, lbl FROM (
        SELECT v, lbl,
               row_number() OVER (PARTITION BY v ORDER BY c DESC, lbl) AS rn
        FROM v2) z WHERE rn = 1
    ), v3 AS (
      SELECT adj.v, l2.lbl, COUNT(*) AS c
      FROM adj JOIN l2 ON l2.v = adj.n GROUP BY adj.v, l2.lbl
    ), l3 AS (
      SELECT v, lbl FROM (
        SELECT v, lbl,
               row_number() OVER (PARTITION BY v ORDER BY c DESC, lbl) AS rn
        FROM v3) z WHERE rn = 1
    )
    SELECT v AS vertex, lbl AS community FROM l3
    """,
)
def q188_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation over the
    co-supply graph, 3 rounds — completes the graph family (PageRank
    q126, triangles q161, clustering q167, components q67) with the
    standard near-linear community algorithm. Synchronous update +
    smallest-label tie-break makes every round deterministic, so the
    oracle unrolls all 3 rounds as CTEs and the final (vertex,
    community) table hash-compares exactly (async LPA is
    order-dependent by construction and could only ever be
    rows-only). Per round: one adjacency-vs-labels join, one combined
    count, one argmax window, localCheckpoint
    (operators.graph.label_propagation)."""
    return graph.label_propagation(_cosupply_edges(spark, sf_dir), rounds=3)


@_q(
    "q192_bfs_supplier_hops",
    f"""
    WITH {_COSUPPLY_OS_CTE}, {_COSUPPLY_E_CTE}, adj AS (
      SELECT a AS v, b AS n FROM e UNION ALL SELECT b AS v, a AS n FROM e
    ), d0 AS (
      SELECT s_suppkey AS v, CAST(0 AS BIGINT) AS d
      FROM supplier WHERE s_suppkey % 40 = 0
    ), d1 AS (
      SELECT v, CAST(MIN(d) AS BIGINT) AS d FROM (
        SELECT adj.v, d0.d + 1 AS d FROM adj JOIN d0 ON d0.v = adj.n
        UNION ALL SELECT v, d FROM d0) z
      GROUP BY v
    ), d2 AS (
      SELECT v, CAST(MIN(d) AS BIGINT) AS d FROM (
        SELECT adj.v, d1.d + 1 AS d FROM adj JOIN d1 ON d1.v = adj.n
        UNION ALL SELECT v, d FROM d1) z
      GROUP BY v
    ), d3 AS (
      SELECT v, CAST(MIN(d) AS BIGINT) AS d FROM (
        SELECT adj.v, d2.d + 1 AS d FROM adj JOIN d2 ON d2.v = adj.n
        UNION ALL SELECT v, d FROM d2) z
      GROUP BY v
    )
    SELECT v AS vertex, d AS dist FROM d3
    """,
)
def q192_bfs_supplier_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance over the co-supply graph (3
    rounds): every supplier with suppkey % 40 == 0 is a distance-0
    source; each round relaxes one hop (d' = min(d, 1 + min neighbor
    d)). Completes the graph family (PageRank q126, components q67,
    triangles q161, LPA q188) with the Pregel-style reachability
    primitive. Pure integer min-plus relaxation at a fixed round count
    is deterministic, so the result value-oracles as unrolled CTEs.
    Scale shape per round: one adjacency-vs-frontier join (frontier is
    the small side early — AQE broadcasts it), one map-side-combined
    min per vertex, localCheckpoint to keep iterative lineage flat
    (operators.graph.bfs_hops; edge build shared with q161/q167/q188
    via _cosupply_edges). Unreached vertices are absent by contract."""
    seeds = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") % 40 == 0)
        .select(F.col("s_suppkey").alias("vertex"))
    )
    return graph.bfs_hops(_cosupply_edges(spark, sf_dir), seeds, rounds=3)
