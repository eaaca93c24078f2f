"""Graph gates over the co-purchase graph (parts that appear in the same
order; edge weight = number of shared orders): triangle count,
PageRank and degree histogram (operators/graph.py), and bounded
reachability through a WITH RECURSIVE CTE both engines run verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import gate
from ._common import _t
from ..operators.graph import (
    cooccurrence_edges, degree_histogram, pagerank, triangle_count,
)


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return cooccurrence_edges(li, group_col="l_orderkey",
                              item_col="l_partkey", min_weight=2)


# shared oracle CTE: sorted-pair expansion == cooccurrence_edges
_EDGE_CTE = """
pairs AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), edges AS (
  SELECT src, dst, count(*) AS weight FROM pairs
  GROUP BY src, dst HAVING count(*) >= 2
)"""


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle counting (operators/graph.triangle_count) on
    the thresholded co-purchase graph: oriented edges joined twice, each
    triangle counted exactly once."""
    return triangle_count(_copurchase_edges(spark, sf_dir))


ORACLE_TRIANGLES = f"""
WITH {_EDGE_CTE},
tri AS (
  SELECT count(*) AS n_triangles
  FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
       JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
),
nn AS (
  SELECT count(*) AS n_nodes FROM (
    SELECT src AS n FROM edges UNION SELECT dst FROM edges)
),
ne AS (SELECT count(*) AS n_edges FROM edges)
SELECT nn.n_nodes AS n_nodes, ne.n_edges AS n_edges, tri.n_triangles AS n_triangles
FROM nn, ne, tri
"""
gate(graph_triangle_count, ORACLE_TRIANGLES)


def graph_pagerank_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (operators/graph.pagerank, 3 rounds,
    d=0.85) over the undirected co-purchase graph; top 20 parts by rank.
    The oracle replays the identical power iteration as 3 unrolled CTE
    levels — iterative DataFrame loops and recursive SQL agree."""
    ranks = pagerank(_copurchase_edges(spark, sf_dir), iterations=3)
    return (ranks.select(F.col("node").alias("part"),
                         F.round(F.col("rank") * 1e4, 6).alias("rank_x1e4"))
            .orderBy(F.col("rank_x1e4").desc(), F.col("part"))
            .limit(20))


def _pagerank_oracle() -> str:
    # n/base/damping mirror operators/graph.pagerank
    it = """
r{K} AS (
  SELECT s.dst AS node,
         (SELECT base FROM const) + 0.85 * sum(r.rank / d.deg) AS rank
  FROM sym s JOIN r{P} r ON s.src = r.node JOIN deg d ON d.node = s.src
  GROUP BY s.dst
)"""
    its = ",".join(it.format(K=k, P=k - 1) for k in (1, 2, 3))
    return f"""
WITH {_EDGE_CTE},
sym AS (
  SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges
),
deg AS (SELECT src AS node, count(*) AS deg FROM sym GROUP BY src),
const AS (
  SELECT count(*) AS n, 0.15 / count(*) AS base, 1.0 / count(*) AS r0
  FROM deg
),
r0 AS (SELECT node, (SELECT r0 FROM const) AS rank FROM deg),
{its}
SELECT node AS part, round(rank * 1e4, 6) AS rank_x1e4
FROM r3 ORDER BY rank_x1e4 DESC, part LIMIT 20
"""


ORACLE_PAGERANK = _pagerank_oracle()
gate(graph_pagerank_top20, ORACLE_PAGERANK)


def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph."""
    return (degree_histogram(_copurchase_edges(spark, sf_dir))
            .orderBy("degree"))


ORACLE_DEGREE_HIST = f"""
WITH {_EDGE_CTE},
sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
deg AS (SELECT src, count(*) AS degree FROM sym GROUP BY src)
SELECT degree, count(*) AS n_nodes FROM deg GROUP BY degree ORDER BY degree
"""
gate(graph_degree_histogram, ORACLE_DEGREE_HIST)


_RECURSIVE_REACH_SQL = """
WITH RECURSIVE
po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
       WHERE l_partkey < 500),
e AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w
  FROM po a JOIN po b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey HAVING count(*) >= 2
),
top_edges AS (SELECT src, dst FROM e ORDER BY w DESC, src, dst LIMIT 200),
sym AS (
  SELECT src, dst FROM top_edges
  UNION ALL
  SELECT dst AS src, src AS dst FROM top_edges
),
seed AS (SELECT min(src) AS n FROM sym),
walk(node, depth) AS (
  SELECT n, 0 FROM seed
  UNION ALL
  SELECT s.dst, w.depth + 1 FROM walk w JOIN sym s ON s.src = w.node
  WHERE w.depth < 3
)
SELECT node, min(depth) AS dist, count(*) AS n_walks
FROM walk GROUP BY node ORDER BY node
"""


def recursive_copurchase_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth BFS over the strongest 200 co-purchase edges.

    The oracle keeps the WITH RECURSIVE text (DuckDB) — but running the
    same recursive CTE on Spark re-executed the edge build every
    iteration (~17 s at sf0.1; VERDICT r2 #6). The Spark side is now an
    iterative DataFrame BFS in the connected_components shape
    (operators/dedup.py:218): the co-purchase edge aggregate
    (``cooccurrence_edges``, then ``symmetrize``) runs ONCE, is
    localCheckpoint-truncated, and the 3 walk expansions
    are broadcast joins over a ≤400-row symmetric edge list carrying a
    walk-multiplicity counter (UNION ALL walk counts = sum of counts
    along in-edges). min-distance and walk counts match the recursive
    working-table semantics exactly."""
    from ..operators.graph import cooccurrence_edges, symmetrize

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_partkey") < 500)
    e = cooccurrence_edges(li, group_col="l_orderkey",
                           item_col="l_partkey", min_weight=2)
    top = e.orderBy(F.col("weight").desc(), "src", "dst").limit(200)
    # edge build computed once, lineage cut — LAZY (r13 §2.4): the
    # final walk action materializes it and every level's cache in ONE
    # action instead of one job per level
    sym = symmetrize(top).localCheckpoint(eager=False)
    seed = (sym.agg(F.min("src").alias("node"))
            .withColumn("cnt", F.lit(1).cast("long")))
    frontier = seed
    levels = [seed.withColumn("depth", F.lit(0))]
    for d in (1, 2, 3):
        frontier = (frontier.join(F.broadcast(sym),
                                  F.col("node") == F.col("src"))
                    .groupBy(F.col("dst"))
                    .agg(F.sum("cnt").alias("cnt"))
                    .withColumnRenamed("dst", "node")
                    .localCheckpoint(eager=False))
        levels.append(frontier.withColumn("depth", F.lit(d)))
    walk = levels[0]
    for lv in levels[1:]:
        walk = walk.unionByName(lv)
    return (walk.groupBy("node")
            .agg(F.min("depth").alias("dist"),
                 F.sum("cnt").alias("n_walks"))
            .orderBy("node"))


gate(recursive_copurchase_reach, _RECURSIVE_REACH_SQL)
