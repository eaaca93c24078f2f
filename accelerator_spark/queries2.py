"""Gates for sketches, graph analytics, hierarchical rollups, variant
JSON, UDTFs, robust stats and skyline (contract: queries.py).

Tolerance-gated queries (hll, approx percentile) follow the
ann_recall_report pattern: the Spark side returns EXACT values plus a
boolean asserting the approximate structure landed within tolerance;
the oracle recomputes the exact values and hardcodes the boolean TRUE —
so a drifting sketch fails the hash gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .operators import md5_long
from .queries import _events, _md5_xor_long, _scratch, _spread, _t, gate


# =====================================================================
# Sketches / approximate structures (operators/sketches.py)
# =====================================================================

def hll_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup: per-(event_type, day) DataSketches HLL
    sketches of user_id, union-merged up to event_type — the store-daily-
    sketches / answer-monthly-queries pattern that makes distinct counts
    re-aggregatable at 100 TB without rescans. Gate: DataSketches HLL at
    lgk=12 is exact in sparse mode far beyond this cardinality (150
    users), and the 5% band holds with huge margin at any scale factor
    the driver uses."""
    from .operators.sketches import hll_rollup

    ev = _events(spark, sf_dir)
    est = hll_rollup(ev.withColumn("day", F.to_date("ts")),
                     key_col="user_id", group_cols=["event_type"],
                     merge_cols=["day"], lgk=12)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"))
    ok = (F.abs(F.col("approx_distinct") - F.col("exact_users"))
          <= 0.05 * F.col("exact_users"))
    return (exact.join(est, "event_type")
            .select("event_type", "exact_users", ok.alias("hll_within_5pct"))
            .orderBy("event_type"))


ORACLE_HLL_ROLLUP = """
SELECT event_type, count(DISTINCT user_id) AS exact_users,
       TRUE AS hll_within_5pct
FROM events GROUP BY event_type ORDER BY event_type
"""
gate(hll_distinct_rollup, ORACLE_HLL_ROLLUP)


def bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT re-aggregatable distinct counts via position bitmaps
    (operators/sketches.bitmap_distinct): per-(event_type, day, bucket)
    bitmaps OR-merged up to event_type. State is bits, not values —
    the dense-integer-ID answer to count-distinct at scale."""
    from .operators.sketches import bitmap_distinct

    ev = _events(spark, sf_dir).withColumn("day", F.to_date("ts"))
    return (bitmap_distinct(ev, key_col="user_id",
                            group_cols=["event_type"], merge_cols=["day"],
                            out_col="distinct_users")
            .orderBy("event_type"))


ORACLE_BITMAP_DISTINCT = """
SELECT event_type, count(DISTINCT user_id) AS distinct_users
FROM events GROUP BY event_type ORDER BY event_type
"""
gate(bitmap_distinct_users, ORACLE_BITMAP_DISTINCT)


def heavy_hitter_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact frequent-item detection without shuffling the key stream
    (operators/sketches.heavy_hitters): per-partition Arrow counting
    emits a pigeonhole-guaranteed candidate superset; broadcast
    semi-join + recount verifies. Output is partitioning-invariant."""
    from .operators.sketches import heavy_hitters

    ev = _events(spark, sf_dir)
    n, n_users = ev.agg(
        F.count(F.lit(1)), F.countDistinct("user_id")).collect()[0]
    # threshold ~= 120% of the mean user frequency: selective at every
    # scale factor (user count grows with sf), never empty/everything
    threshold = max(2, int(1.2 * n / n_users))
    hh = heavy_hitters(ev, "user_id", threshold)
    return (hh.select("user_id", F.col("cnt").alias("n_events"))
            .orderBy("user_id"))


ORACLE_HEAVY_HITTERS = """
SELECT user_id, count(*) AS n_events FROM events
GROUP BY user_id
HAVING count(*) >= greatest(2, CAST(floor(
    1.2 * (SELECT count(*) FROM events)
        / (SELECT count(DISTINCT user_id) FROM events)) AS BIGINT))
ORDER BY user_id
"""
gate(heavy_hitter_users, ORACLE_HEAVY_HITTERS)


def approx_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (PERCENTILE_CONT semantics) per
    return flag, plus a gate asserting percentile_approx(accuracy=10000)
    lands within 1% relative error — the sketch a 100 TB pipeline would
    actually use (Greenwald-Khanna: bounded memory, mergeable), verified
    against the exact answer the oracle can replay."""
    # r12 (guide §2.4/§2.3): ONE agg over ONE projected+spread scan —
    # the exact and approx percentiles shared a group key yet ran as
    # two full-table aggs joined back together (two scans, an extra
    # exchange + join), and the single-row-group scan serialized the
    # percentile buffering on one core. Output values unchanged (the
    # approx sketch only feeds the boolean, at accuracy=10000 its
    # <=0.01% error never moves the 1% gate).
    li = _spread(_t(spark, sf_dir, "lineitem")
                 .select("l_returnflag", "l_extendedprice"))
    j = li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 2).alias("p50"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 2).alias("p90"),
        F.round(F.percentile("l_extendedprice", F.lit(0.99)), 2).alias("p99"),
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000)).alias("a50"),
        F.percentile_approx("l_extendedprice", F.lit(0.99), F.lit(10000)).alias("a99"))
    ok = ((F.abs(F.col("a50") - F.col("p50")) <= 0.01 * F.col("p50"))
          & (F.abs(F.col("a99") - F.col("p99")) <= 0.01 * F.col("p99")))
    return (j.select("l_returnflag", "p50", "p90", "p99",
                     ok.alias("approx_within_1pct"))
            .orderBy("l_returnflag"))


ORACLE_APPROX_QUANTILE = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 2) AS p50,
       round(quantile_cont(l_extendedprice, 0.9), 2) AS p90,
       round(quantile_cont(l_extendedprice, 0.99), 2) AS p99,
       TRUE AS approx_within_1pct
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""
gate(approx_quantile_gate, ORACLE_APPROX_QUANTILE)


# =====================================================================
# Variant JSON (Spark 4 semi-structured path)
# =====================================================================

def variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VariantType path for semi-structured columns: parse_json
    once into a variant, typed variant_get extraction, aggregate. The
    binary variant encoding makes repeated field access O(1) vs
    re-parsing JSON text per access (get_json_object) — the idiomatic
    upgrade of the reference's `json` column type (SURVEY §1.2)."""
    ev = _events(spark, sf_dir)
    v = ev.select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.variant_get(F.parse_json("props"), "$.k", "bigint").alias("k"))
    return (v.groupBy("event_type")
            .agg(F.count("k").alias("n_with_k"),
                 F.countDistinct("k").alias("distinct_k"),
                 F.round(F.avg("k"), 2).alias("avg_k"),
                 F.countDistinct("day").alias("n_days"))
            .orderBy("event_type"))


ORACLE_VARIANT_PROPS = """
SELECT event_type,
       count(CAST(props->>'k' AS BIGINT)) AS n_with_k,
       count(DISTINCT CAST(props->>'k' AS BIGINT)) AS distinct_k,
       round(avg(CAST(props->>'k' AS BIGINT)), 2) AS avg_k,
       count(DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS n_days
FROM events GROUP BY event_type ORDER BY event_type
"""
gate(variant_props_stats, ORACLE_VARIANT_PROPS)


# =====================================================================
# Graph analytics (operators/graph.py) — co-purchase graph: parts that
# appear in the same order, edge weight = number of shared orders
# =====================================================================

def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import cooccurrence_edges
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
    from .operators.graph import triangle_count
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
    from .operators.graph import pagerank
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
    from .operators.graph import degree_histogram
    return (degree_histogram(_copurchase_edges(spark, sf_dir))
            .orderBy("degree"))


ORACLE_DEGREE_HIST = f"""
WITH {_EDGE_CTE},
sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
deg AS (SELECT src, count(*) AS degree FROM sym GROUP BY src)
SELECT degree, count(*) AS n_nodes FROM deg GROUP BY degree ORDER BY degree
"""
gate(graph_degree_histogram, ORACLE_DEGREE_HIST)


# =====================================================================
# Hierarchical time rollup (hypertable-style continuous aggregate)
# =====================================================================

def hypertable_rollup_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate hierarchy: raw events -> minutely partials
    (count/sum/min/max) -> hourly merged from minutely -> daily merged
    from hourly. Every level is derived from the previous one only —
    the mergeable-state property that lets a 100 TB pipeline keep
    fine-grained partials hot and answer coarse queries without touching
    raw data. avg is re-derived as sum/count at the top (avg itself
    doesn't merge; sum+count do). Oracle computes daily straight from
    raw — equality IS the associativity proof."""
    ev = _events(spark, sf_dir)
    minutely = (ev.groupBy(F.date_trunc("minute", "ts").alias("minute"))
                .agg(F.count(F.lit(1)).alias("cnt"),
                     F.sum("value").alias("sv"),
                     F.min("value").alias("mn"),
                     F.max("value").alias("mx")))
    hourly = (minutely.groupBy(F.date_trunc("hour", "minute").alias("hour"))
              .agg(F.sum("cnt").alias("cnt"), F.sum("sv").alias("sv"),
                   F.min("mn").alias("mn"), F.max("mx").alias("mx")))
    return (hourly.groupBy(F.to_date("hour").alias("day"))
            .agg(F.sum("cnt").alias("n_events"),
                 F.round(F.sum("sv"), 2).alias("sum_value"),
                 # avg derives from the ROUNDED sum so both engines round
                 # identical inputs (a raw-sum avg is a 4dp knife edge
                 # under differing summation order — seen at sf0.001)
                 F.round(F.round(F.sum("sv"), 2) / F.sum("cnt"), 4)
                 .alias("avg_value"),
                 F.round(F.min("mn"), 4).alias("min_value"),
                 F.round(F.max("mx"), 4).alias("max_value"))
            .withColumn("day", F.date_format("day", "yyyy-MM-dd"))
            .orderBy("day"))


ORACLE_HYPERTABLE = """
SELECT strftime(CAST(CAST(ts AS TIMESTAMP) AS DATE), '%Y-%m-%d') AS day,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value,
       round(round(sum(value), 2) / count(*), 4) AS avg_value,
       round(min(value), 4) AS min_value,
       round(max(value), 4) AS max_value
FROM events GROUP BY 1 ORDER BY 1
"""
gate(hypertable_rollup_daily, ORACLE_HYPERTABLE)


# =====================================================================
# Python UDTF (Spark 4 §2.10 breadth: one row in -> many rows out)
# =====================================================================

def udtf_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched Python UDTF in a LATERAL join: per document, emit
    the top-3 words by count (count desc, word asc tiebreak). The UDTF
    is the §2.10 story for one-to-many Python logic — the reference
    expresses this as per-slice generator methods (SURVEY §2.10); Spark
    4 makes it a first-class table function usable from SQL."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="word string, cnt int")
    class TopWords:
        def eval(self, text: str):
            import re
            from collections import Counter
            # whitespace-ONLY text strips to '' and re.split('', ...)
            # yields [''] — a phantom ('', 1) row the oracle's
            # word <> '' filter drops (review r5)
            if not text or not text.strip():
                return
            # \s+ split, matching every sibling tokenizer AND the
            # oracle (str.split() treated tabs/newlines differently
            # from the oracle's single-space split — review r4)
            c = Counter(re.split(r"\s+", text.strip()))
            top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
            for w, n in top:
                yield w, n

    spark.udtf.register("top_words", TopWords)
    _t(spark, sf_dir, "documents").createOrReplaceTempView("docs_udtf")
    return spark.sql("""
        SELECT d.doc_id, t.word, t.cnt
        FROM docs_udtf d, LATERAL top_words(d.text) t
        WHERE d.doc_id < 20
        ORDER BY d.doc_id, t.cnt DESC, t.word
    """)


ORACLE_UDTF_WORDS = """
WITH words AS (
  -- whitespace split, mirroring the UDTF's tokenizer (review r4)
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
  FROM documents WHERE doc_id < 20
), cnts AS (
  SELECT doc_id, word, count(*) AS cnt,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY count(*) DESC, word) AS rn
  FROM words WHERE word <> '' GROUP BY doc_id, word
)
SELECT doc_id, word, CAST(cnt AS INTEGER) AS cnt FROM cnts WHERE rn <= 3
ORDER BY doc_id, cnt DESC, word
"""
gate(udtf_word_freq, ORACLE_UDTF_WORDS)


# =====================================================================
# Robust statistics / normalization
# =====================================================================

def winsorized_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization at exact per-group [p05, p95]
    (operators/analytics.winsorize): one tiny percentile agg broadcast
    back, clamp as a map-only expression. Gate compares raw vs
    winsorized means per event_type."""
    from .operators.analytics import winsorize

    ev = _events(spark, sf_dir).select("event_type", "value")
    wz = winsorize(ev, "value", ["event_type"], 0.05, 0.95)
    return (wz.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("value"), 4).alias("mean_raw"),
                 F.round(F.avg("value_winsor"), 4).alias("mean_winsor"),
                 F.round(F.min("value_winsor"), 4).alias("lo_clamp"),
                 F.round(F.max("value_winsor"), 4).alias("hi_clamp"))
            .orderBy("event_type"))


ORACLE_WINSORIZE = """
WITH cuts AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_type, count(*) AS n,
       round(avg(e.value), 4) AS mean_raw,
       round(avg(least(greatest(e.value, c.lo), c.hi)), 4) AS mean_winsor,
       round(min(least(greatest(e.value, c.lo), c.hi)), 4) AS lo_clamp,
       round(max(least(greatest(e.value, c.lo), c.hi)), 4) AS hi_clamp
FROM events e JOIN cuts c USING (event_type)
GROUP BY e.event_type ORDER BY e.event_type
"""
gate(winsorized_event_values, ORACLE_WINSORIZE)


def embedding_zscore_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension standardization of the embedding corpus: posexplode
    to (vec, dim, x), per-dim mean/stddev_pop agg (64 groups — tiny,
    broadcast back), z = (x-mu)/sigma, then per-dim z-range as the
    verification surface. The explode shape is the scale-correct way to
    get dimension-wise statistics: one shuffle keyed on dim, versus
    64 full-corpus array folds."""
    emb = _t(spark, sf_dir, "embeddings")
    dims = emb.select("vec_id", F.posexplode("embedding").alias("d", "x")) \
              .withColumn("x", F.col("x").cast("double"))
    stats = dims.groupBy("d").agg(F.avg("x").alias("mu"),
                                  F.stddev_pop("x").alias("sigma"))
    z = (dims.join(F.broadcast(stats), "d")
         .select("d", ((F.col("x") - F.col("mu")) / F.col("sigma")).alias("z")))
    # + 0.0 collapses IEEE -0.0 to 0.0 (a rounded mean can land on
    # negative zero in one engine and positive zero in the other)
    zr = z.groupBy("d").agg((F.round(F.min("z"), 3) + 0.0).alias("z_min"),
                            (F.round(F.max("z"), 3) + 0.0).alias("z_max"))
    return (stats.join(zr, "d")
            .select("d", (F.round("mu", 4) + 0.0).alias("mu"),
                    (F.round("sigma", 4) + 0.0).alias("sigma"), "z_min", "z_max")
            .filter(F.col("d") < 16)
            .orderBy("d"))


ORACLE_ZSCORE_EMB = """
WITH dims AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
), stats AS (
  SELECT d, avg(x) AS mu, stddev_pop(x) AS sigma FROM dims GROUP BY d
), z AS (
  SELECT dims.d, (x - mu) / sigma AS z FROM dims JOIN stats USING (d)
), zr AS (
  SELECT d, round(min(z), 3) + 0.0 AS z_min, round(max(z), 3) + 0.0 AS z_max
  FROM z GROUP BY d
)
SELECT d, round(mu, 4) + 0.0 AS mu, round(sigma, 4) + 0.0 AS sigma,
       z_min, z_max
FROM stats JOIN zr USING (d) WHERE d < 16 ORDER BY d
"""
gate(embedding_zscore_stats, ORACLE_ZSCORE_EMB)


# =====================================================================
# Skyline (Pareto frontier)
# =====================================================================

def skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-optimal parts: minimize retail price, maximize size
    (operators/analytics.skyline — local skyline per partition, then
    one candidate-only refinement; exact, partitioning-invariant).
    Oracle is the textbook NOT EXISTS domination query."""
    from .operators.analytics import skyline

    part = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size")
    sky = skyline(part, minimize=["p_retailprice"], maximize=["p_size"])
    return (sky.select("p_partkey",
                       F.round("p_retailprice", 2).alias("p_retailprice"),
                       "p_size")
            .orderBy("p_partkey"))


ORACLE_SKYLINE = """
SELECT p_partkey, round(p_retailprice, 2) AS p_retailprice, p_size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
ORDER BY p_partkey
"""
gate(skyline_parts, ORACLE_SKYLINE)


# =====================================================================
# XML source/sink (Spark 4 native XML)
# =====================================================================

def xml_roundtrip_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source/sink gate (Spark 4 builds in the XML reader/writer —
    format breadth beyond parquet/orc/csv/jsonl): nation written as XML
    rows, re-read with the explicit schema (no inference drift), then
    digested with the order-independent md5-xor checksum the oracle
    computes over the parquet directly."""

    nation = _t(spark, sf_dir, "nation")
    path = _scratch("xml_rt") + "/x"
    (nation.write.mode("overwrite").format("xml")
     .option("rootTag", "nations").option("rowTag", "nation").save(path))
    back = (spark.read.format("xml").option("rowTag", "nation")
            .schema(nation.schema).load(path))
    h = _md5_xor_long("n_nationkey", "n_name", "n_regionkey")
    return back.select(h.alias("h"), "n_regionkey").agg(
        F.count(F.lit(1)).alias("nations"),
        F.bit_xor("h").alias("checksum_xor"),
        F.sum("n_regionkey").alias("sum_region"))


def avro_roundtrip_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro source/sink gate (r6): the spark-avro module and every
    Python avro lib are absent from this container, so sources/avro.py
    implements the Object Container Format pure-stdlib (zigzag varints
    + deflate blocks) — orders filtered to a deterministic subset,
    exported one .avro file per partition, re-read distributed, then
    digested with the order-independent md5-xor checksum the oracle
    computes over the parquet directly. Exercises long/double/string/
    local-timestamp round-tripping through real avro binary."""
    from .sources.avro import avro_export, avro_import

    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 10 == 0)
    path = _scratch("avro_rt")
    avro_export(orders.repartition(4), path)
    back = avro_import(spark, path)
    # cents as LONG, not double->string: the two engines format doubles
    # differently, integers identically
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    h = _md5_xor_long("o_orderkey", "o_orderstatus", cents,
                      "o_orderpriority")
    return back.select(h.alias("h"), "o_custkey", "o_orderdate").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.bit_xor("h").alias("checksum_xor"),
        F.sum("o_custkey").alias("sum_cust"),
        F.max(F.col("o_orderdate").cast("date")).cast("string")
        .alias("max_date"))


ORACLE_AVRO_RT = """
SELECT "n_orders", "checksum_xor",
       CAST("sum_cust" AS BIGINT) AS "sum_cust",
       "max_date"
FROM (
SELECT count(*) AS n_orders,
       bit_xor(CAST(('0x' || substring(md5(
         concat_ws(chr(31),
           coalesce(CAST(o_orderkey AS VARCHAR), '<N>'),
           coalesce(o_orderstatus, '<N>'),
           coalesce(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), '<N>'),
           coalesce(o_orderpriority, '<N>'))), 1, 15)) AS BIGINT)) AS checksum_xor,
       sum(o_custkey) AS sum_cust,
       CAST(CAST(max(o_orderdate) AS DATE) AS VARCHAR) AS max_date
FROM orders WHERE o_orderkey % 10 = 0
) _bigint_cast
"""
gate(avro_roundtrip_checksum, ORACLE_AVRO_RT)


ORACLE_XML_RT = """
-- BIGINT-cast wrapper: DuckDB widens integer sums to HUGEINT, which the
-- driver's Arrow fetch path renders differently than Spark's long (VERDICT r3 #1).
SELECT "nations",
       "checksum_xor",
       CAST("sum_region" AS BIGINT) AS "sum_region"
FROM (
SELECT count(*) AS nations,
       bit_xor(CAST(('0x' || substring(md5(
         concat_ws(chr(31),
           coalesce(CAST(n_nationkey AS VARCHAR), '<N>'),
           coalesce(n_name, '<N>'),
           coalesce(CAST(n_regionkey AS VARCHAR), '<N>'))), 1, 15)) AS BIGINT)) AS checksum_xor,
       sum(n_regionkey) AS sum_region
FROM nation
) _bigint_cast
"""
gate(xml_roundtrip_checksum, ORACLE_XML_RT)


# =====================================================================
# Recursive CTE (Spark 4 WITH RECURSIVE — identical text both engines)
# =====================================================================

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
    (operators/dedup.py:218): the expensive co-purchase edge aggregate
    runs ONCE, is localCheckpoint-truncated, and the 3 walk expansions
    are broadcast joins over a ≤400-row symmetric edge list carrying a
    walk-multiplicity counter (UNION ALL walk counts = sum of counts
    along in-edges). min-distance and walk counts match the recursive
    working-table semantics exactly."""
    li = _t(spark, sf_dir, "lineitem")
    po = (li.filter(F.col("l_partkey") < 500)
          .select("l_orderkey", "l_partkey").distinct())
    a, b = po.alias("a"), po.alias("b")
    e = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_partkey") < F.col("b.l_partkey")))
         .groupBy(F.col("a.l_partkey").alias("src"),
                  F.col("b.l_partkey").alias("dst"))
         .agg(F.count(F.lit(1)).alias("w"))
         .filter(F.col("w") >= 2))
    top = (e.orderBy(F.col("w").desc(), "src", "dst").limit(200)
           .select("src", "dst"))
    sym = top.union(
        top.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=False)  # edge build computed once, lineage
    # cut — LAZY (r13 §2.4): the final walk action materializes it and
    # every level's cache in ONE action instead of one job per level
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


# =====================================================================
# Interval RANGE window frames (time-based moving aggregates)
# =====================================================================

def moving_avg_revenue_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-aware moving aggregate: per-day revenue with a 7-day
    RANGE window (INTERVAL '6' DAY PRECEDING — frames follow the
    calendar, not row counts, so gaps in the date spine are handled
    correctly). One shuffle for the daily agg; the window runs on the
    80-row daily table. Complements window_suite_orders (ROWS frames)."""
    from .sqlapi import sql
    return sql(spark, sf_dir, """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, sum(o_totalprice) AS rev
  FROM orders GROUP BY CAST(o_orderdate AS DATE)
)
SELECT CAST(day AS STRING) AS day, round(rev, 2) AS rev,
       round(avg(rev) OVER (ORDER BY day
         RANGE BETWEEN INTERVAL '6' DAY PRECEDING AND CURRENT ROW), 2) AS avg_7d,
       round(sum(rev) OVER (ORDER BY day
         RANGE BETWEEN INTERVAL '6' DAY PRECEDING AND CURRENT ROW), 2) AS sum_7d
FROM daily ORDER BY day
""")


ORACLE_MOVING_7D = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, sum(o_totalprice) AS rev
  FROM orders GROUP BY CAST(o_orderdate AS DATE)
)
SELECT strftime(day, '%Y-%m-%d') AS day, round(rev, 2) AS rev,
       round(avg(rev) OVER (ORDER BY day
         RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW), 2) AS avg_7d,
       round(sum(rev) OVER (ORDER BY day
         RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW), 2) AS sum_7d
FROM daily ORDER BY day
"""
gate(moving_avg_revenue_7d, ORACLE_MOVING_7D)


# =====================================================================
# Profiling / data quality (operators/profile.py; ax ds parity §2.11)
# =====================================================================

def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass per-column profile of orders (count / nulls / exact
    distinct / min / max as strings) — the distributed `ax ds` (the
    reference prints per-column min/max from metadata; we compute the
    full profile in a single agg over one scan)."""
    from .operators.profile import profile

    # r12 (guide §2.5): the multi-countDistinct agg plans through an
    # Expand that multiplies the input x(distinct cols + 1); on the
    # single-row-group scan that whole expansion ran on one core.
    orders = _spread(_t(spark, sf_dir, "orders"))
    return (profile(orders).withColumnRenamed("column", "col_name")
            .orderBy("col_name"))


ORACLE_PROFILE = """
SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
       count(*) - count(o_orderkey) AS n_nulls,
       count(DISTINCT o_orderkey) AS n_distinct,
       CAST(min(o_orderkey) AS VARCHAR) AS min_value,
       CAST(max(o_orderkey) AS VARCHAR) AS max_value FROM orders
UNION ALL
SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
       count(DISTINCT o_custkey),
       CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
       count(DISTINCT o_orderstatus), min(o_orderstatus), max(o_orderstatus)
FROM orders
UNION ALL
SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
       count(DISTINCT o_totalprice),
       CAST(min(o_totalprice) AS VARCHAR), CAST(max(o_totalprice) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
       count(DISTINCT o_orderdate),
       strftime(min(CAST(o_orderdate AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S'),
       strftime(max(CAST(o_orderdate AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S')
FROM orders
UNION ALL
SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
       count(DISTINCT o_orderpriority), min(o_orderpriority),
       max(o_orderpriority)
FROM orders
ORDER BY col_name
"""
gate(profile_orders, ORACLE_PROFILE)


def orders_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative constraint validation (operators/profile.
    check_constraints) over orders with a deterministic set of planted
    violations (a bad-status/negative-price/duplicate-key/orphan-FK row
    per class), so every rule class demonstrably fires. Row-level rules
    fold into ONE conditional-sum pass; unique and FK run as their own
    minimal shuffle/join jobs."""
    from .operators.profile import check_constraints

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    bad = spark.createDataFrame(
        [(-1, 1, "X", 100.0),        # bad status
         (-2, 1, "O", -5.0),         # negative price
         (1, 1, "O", 50.0),          # duplicate of real key 1
         (-3, -999999, "F", 60.0)],  # orphan custkey
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double")
    full = orders.unionByName(bad)
    customer = _t(spark, sf_dir, "customer")
    rep = check_constraints(
        full,
        not_null=["o_orderkey"],
        accepted_values={"o_orderstatus": ["O", "F", "P"]},
        ranges={"o_totalprice": (0.0, 1e7)},
        unique=["o_orderkey"],
        foreign_keys=[("o_custkey", customer, "c_custkey")])
    return rep.orderBy("rule")


ORACLE_QUALITY_CHECKS = """
-- BIGINT-cast wrapper: DuckDB widens integer sums to HUGEINT, which the
-- driver's Arrow fetch path renders differently than Spark's long (VERDICT r3 #1).
SELECT "rule",
       CAST("n_violations" AS BIGINT) AS "n_violations"
FROM (
WITH bad(o_orderkey, o_custkey, o_orderstatus, o_totalprice) AS (
  VALUES (-1, 1, 'X', 100.0), (-2, 1, 'O', -5.0),
         (1, 1, 'O', 50.0), (-3, -999999, 'F', 60.0)
), full_t AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
  UNION ALL SELECT * FROM bad
)
SELECT 'accepted_values:o_orderstatus' AS rule,
       count(*) FILTER (o_orderstatus NOT IN ('O','F','P')
                        OR o_orderstatus IS NULL) AS n_violations FROM full_t
UNION ALL
SELECT 'foreign_key:o_custkey->c_custkey',
       count(*) FILTER (o_custkey NOT IN (SELECT c_custkey FROM customer))
FROM full_t
UNION ALL
SELECT 'not_null:o_orderkey',
       count(*) FILTER (o_orderkey IS NULL) FROM full_t
UNION ALL
SELECT 'range:o_totalprice',
       count(*) FILTER (o_totalprice NOT BETWEEN 0 AND 1e7
                        OR o_totalprice IS NULL) FROM full_t
UNION ALL
SELECT 'unique:o_orderkey', coalesce(sum(c - 1), 0) FROM (
  -- NULL keys are not uniqueness violations (dbt/SQL UNIQUE semantics,
  -- mirrored in operators/profile.check_constraints)
  SELECT count(*) AS c FROM full_t WHERE o_orderkey IS NOT NULL
  GROUP BY o_orderkey HAVING count(*) > 1)
ORDER BY rule
) _bigint_cast
"""
gate(orders_quality_report, ORACLE_QUALITY_CHECKS)


def cms_frequency_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch end-to-end: the JVM builds the mergeable
    frequency sketch over every lineitem supplier key; the (few-KiB)
    sketch is decoded in pure Python (operators/sketches.CountMinSketch
    — the portable-state story) and probed for 5 keys. The gate returns
    the EXACT frequencies plus booleans asserting the CMS bound
    (exact <= estimate <= exact + eps*total) — drift in the sketch
    format, the hash, or the decode fails the hash match."""
    from .operators.sketches import CountMinSketch

    li = _t(spark, sf_dir, "lineitem")
    eps, conf = 0.0005, 0.99
    raw = bytes(li.agg(F.count_min_sketch(
        "l_suppkey", F.lit(eps), F.lit(conf), F.lit(42)).alias("s"))
        .collect()[0]["s"])
    cms = CountMinSketch(raw)
    probes = [1, 2, 3, 4, 5]
    est = spark.createDataFrame(
        [(k, cms.estimate(k), cms.total) for k in probes],
        "l_suppkey long, est long, total long")
    exact = (li.filter(F.col("l_suppkey").isin(probes))
             .groupBy("l_suppkey")
             .agg(F.count(F.lit(1)).alias("exact_freq")))
    ok = ((F.col("est") >= F.col("exact_freq"))
          & (F.col("est") <= F.col("exact_freq")
             + F.ceil(F.lit(eps) * F.col("total"))))
    return (exact.join(est, "l_suppkey")
            .select("l_suppkey", "exact_freq", ok.alias("cms_bound_holds"))
            .orderBy("l_suppkey"))


ORACLE_CMS_GATE = """
SELECT l_suppkey, count(*) AS exact_freq, TRUE AS cms_bound_holds
FROM lineitem WHERE l_suppkey IN (1, 2, 3, 4, 5)
GROUP BY l_suppkey ORDER BY l_suppkey
"""
gate(cms_frequency_gate, ORACLE_CMS_GATE)


# =====================================================================
# Null semantics / three-valued logic suite
# =====================================================================

def null_semantics_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI null semantics breadth on a derived column with real nulls
    (status 'O' -> NULL): count vs count(col), distinct-with-null,
    null-safe equality (<=> / IS NOT DISTINCT FROM), aggregates over
    all-null groups, coalesce/nullif/nvl2 — the rules every engine must
    agree on for the rest of the suite to be trustworthy."""
    from .sqlapi import sql
    return sql(spark, sf_dir, """
WITH t AS (
  SELECT o_orderkey, nullif(o_orderstatus, 'O') AS st, o_totalprice
  FROM orders
)
SELECT count(*) AS n_rows,
       count(st) AS n_nonnull,
       count(DISTINCT st) AS n_distinct_nonnull,
       sum(CASE WHEN st IS NULL THEN 1 ELSE 0 END) AS n_null,
       count(CASE WHEN st <=> NULL THEN 1 END) AS n_nullsafe_eq_null,
       round(sum(CASE WHEN st IS NULL THEN o_totalprice END) / 1000, 2)
         AS sum_null_group_k,
       min(coalesce(st, 'zz')) AS min_coalesced,
       count(nvl2(st, 1, NULL)) AS n_nvl2
FROM t
""")


ORACLE_NULL_SEMANTICS = """
-- BIGINT-cast wrapper: DuckDB widens integer sums to HUGEINT, which the
-- driver's Arrow fetch path renders differently than Spark's long (VERDICT r3 #1).
SELECT "n_rows",
       "n_nonnull",
       "n_distinct_nonnull",
       CAST("n_null" AS BIGINT) AS "n_null",
       "n_nullsafe_eq_null",
       "sum_null_group_k",
       "min_coalesced",
       "n_nvl2"
FROM (
WITH t AS (
  SELECT o_orderkey, nullif(o_orderstatus, 'O') AS st, o_totalprice
  FROM orders
)
SELECT count(*) AS n_rows,
       count(st) AS n_nonnull,
       count(DISTINCT st) AS n_distinct_nonnull,
       sum(CASE WHEN st IS NULL THEN 1 ELSE 0 END) AS n_null,
       count(CASE WHEN st IS NOT DISTINCT FROM NULL THEN 1 END)
         AS n_nullsafe_eq_null,
       round(sum(CASE WHEN st IS NULL THEN o_totalprice END) / 1000, 2)
         AS sum_null_group_k,
       min(coalesce(st, 'zz')) AS min_coalesced,
       count(CASE WHEN st IS NOT NULL THEN 1 END) AS n_nvl2
FROM t
) _bigint_cast
"""
gate(null_semantics_suite, ORACLE_NULL_SEMANTICS)


# =====================================================================
# Embedding ML: KNN classification + k-means Lloyd update
# =====================================================================

_COS2 = ("round(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * "
         "sqrt(list_dot_product({b}, {b}))), 4)")


def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KNN classification over the embedding corpus: each query vector
    (vec_id < 50) takes the majority label of its 5 nearest corpus
    neighbors (cosine, id tiebreaks); per-label accuracy against the
    true label. The model-based-filtering primitive of a curation
    pipeline (label = quality bucket), built from one broadcast
    crossJoin + two windows — no Python in the hot path."""
    from .operators.similarity import cosine

    # r12 (guide §2.5): the broadcast crossJoin evaluates ~100k
    # interpreted higher-order cosine folds; spread the one-row-group
    # corpus scan so they run across cores instead of one
    emb = _spread(_t(spark, sf_dir, "embeddings"))
    q = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"),
        F.col("label").alias("true_label"))
    c = emb.filter(F.col("vec_id") >= 50).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb"),
        F.col("label").alias("c_label"))
    scored = c.crossJoin(F.broadcast(q)).select(
        "q_id", "true_label", "c_id", "c_label",
        F.round(cosine(F.col("q_emb"), F.col("c_emb")), 4).alias("cos"))
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("c_id").asc())
    top5 = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)
    votes = top5.groupBy("q_id", "true_label", "c_label").agg(
        F.count(F.lit(1)).alias("v"))
    wv = W.partitionBy("q_id").orderBy(F.col("v").desc(), F.col("c_label").asc())
    pred = (votes.withColumn("rn", F.row_number().over(wv))
            .filter(F.col("rn") == 1)
            .select("q_id", "true_label", F.col("c_label").alias("pred_label")))
    return (pred.groupBy("true_label")
            .agg(F.count(F.lit(1)).alias("n_queries"),
                 F.sum(F.when(F.col("pred_label") == F.col("true_label"), 1)
                       .otherwise(0)).alias("n_correct"))
            .withColumn("accuracy", F.round(F.col("n_correct") / F.col("n_queries"), 3))
            .orderBy("true_label"))


ORACLE_KNN_VOTE = f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS q_emb, label AS true_label
  FROM embeddings WHERE vec_id < 50
), c AS (
  SELECT vec_id AS c_id, embedding AS c_emb, label AS c_label
  FROM embeddings WHERE vec_id >= 50
), scored AS (
  SELECT q_id, true_label, c_id, c_label,
         {_COS2.format(a='q_emb', b='c_emb')} AS cos
  FROM c, q
), top5 AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY cos DESC, c_id ASC) AS rn
    FROM scored) WHERE rn <= 5
), votes AS (
  SELECT q_id, true_label, c_label, count(*) AS v
  FROM top5 GROUP BY q_id, true_label, c_label
), pred AS (
  SELECT q_id, true_label, c_label AS pred_label FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY v DESC, c_label ASC) AS rn
    FROM votes) WHERE rn = 1
)
SELECT true_label, count(*) AS n_queries,
       -- BIGINT cast: DuckDB widens integer sum() to HUGEINT (VERDICT r3 #1)
       CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       round(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 3) AS accuracy
FROM pred GROUP BY true_label ORDER BY true_label
"""
gate(knn_label_vote, ORACLE_KNN_VOTE)


def kmeans_lloyd_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd (k-means EM) update, fully distributed: assign every
    vector to its nearest of 4 seed centroids (vec_id < 4), recompute
    per-dimension means (posexplode -> per-(cluster, dim) agg), report
    cluster size and centroid L2 shift. The oracle replays assignment +
    unnest means in SQL — the iterative-refinement building block
    (ivf/kmeans training) checked exactly. The assignment is
    operators/similarity.py ivf_assign."""
    from .operators.similarity import ivf_assign

    emb = _t(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 4)
    assigned = ivf_assign(emb, cents).select(
        "vec_id", "embedding", F.col("centroid_id").alias("c_id"))
    dims = assigned.select(
        "c_id", F.posexplode("embedding").alias("d", "x")) \
        .withColumn("x", F.col("x").cast("double"))
    newc = dims.groupBy("c_id", "d").agg(F.avg("x").alias("nx"))
    oldc = cents.select(
        F.col("vec_id").alias("c_id"),
        F.posexplode("embedding").alias("d", "ox")) \
        .withColumn("ox", F.col("ox").cast("double"))
    shift = (newc.join(oldc, ["c_id", "d"])
             .groupBy("c_id")
             .agg(F.round(F.sqrt(F.sum((F.col("nx") - F.col("ox")) ** 2)), 3)
                  .alias("centroid_shift")))
    sizes = assigned.groupBy("c_id").agg(F.count(F.lit(1)).alias("n_members"))
    return sizes.join(shift, "c_id").orderBy("c_id")


ORACLE_KMEANS_STEP = f"""
WITH cent AS (
  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings WHERE vec_id < 4
), assign AS (
  SELECT vec_id, embedding, c_id FROM (
    SELECT e.vec_id, e.embedding, cent.c_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {_COS2.format(a='e.embedding', b='cent.c_emb')} DESC,
                      cent.c_id ASC) AS rn
    FROM embeddings e, cent) WHERE rn = 1
), dims AS (
  SELECT c_id, generate_subscripts(embedding, 1) - 1 AS d,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM assign
), newc AS (
  SELECT c_id, d, avg(x) AS nx FROM dims GROUP BY c_id, d
), oldc AS (
  SELECT c_id, generate_subscripts(c_emb, 1) - 1 AS d,
         CAST(unnest(c_emb) AS DOUBLE) AS ox
  FROM cent
), shift AS (
  SELECT c_id, round(sqrt(sum((nx - ox) * (nx - ox))), 3) AS centroid_shift
  FROM newc JOIN oldc USING (c_id, d) GROUP BY c_id
), sizes AS (
  SELECT c_id, count(*) AS n_members FROM assign GROUP BY c_id
)
SELECT c_id, n_members, centroid_shift
FROM sizes JOIN shift USING (c_id) ORDER BY c_id
"""
gate(kmeans_lloyd_step, ORACLE_KMEANS_STEP)


# =====================================================================
# Schema evolution (mergeSchema across parquet generations)
# =====================================================================

def schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: generation 1 of a table lacks a column
    that generation 2 added; mergeSchema=true reconciles the footers and
    nulls the missing column — how a long-lived 100 TB table absorbs
    schema change without rewriting history. The oracle replays the
    generation split from the flat table."""

    orders = _t(spark, sf_dir, "orders")
    path = _scratch("schevo")
    (orders.filter(F.col("o_orderkey") % 2 == 0)
     .select("o_orderkey", "o_totalprice")
     .write.mode("overwrite").parquet(path + "/g=1"))
    (orders.filter(F.col("o_orderkey") % 2 == 1)
     .select("o_orderkey", "o_totalprice", "o_orderstatus")
     .write.mode("overwrite").parquet(path + "/g=2"))
    back = spark.read.option("mergeSchema", "true").parquet(
        path + "/g=1", path + "/g=2")
    return (back.groupBy(F.coalesce("o_orderstatus", F.lit("<missing>"))
                         .alias("status"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("o_totalprice"), 2).alias("revenue"))
            .orderBy("status"))


ORACLE_SCHEMA_EVO = """
SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus
            ELSE '<missing>' END AS status,
       count(*) AS n, round(sum(o_totalprice), 2) AS revenue
FROM orders GROUP BY 1 ORDER BY status
"""
gate(schema_evolution_union, ORACLE_SCHEMA_EVO)


# =====================================================================
# Regression / robust stats / star denormalization
# =====================================================================

def ols_regression_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS via ANSI regr_* aggregates (slope / intercept /
    r² / count of extendedprice on quantity per return flag): linear
    regression as ONE distributed aggregation pass — the moment sums
    fold map-side like any other agg, so model fitting costs a scan,
    not an ML-framework round-trip."""
    from .sqlapi import sql
    return sql(spark, sf_dir, """
SELECT l_returnflag,
       round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
       round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
       regr_count(l_extendedprice, l_quantity) AS n
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""")


ORACLE_OLS = """
SELECT l_returnflag,
       round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
       round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
       regr_count(l_extendedprice, l_quantity) AS n
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""
gate(ols_regression_suite, ORACLE_OLS)


def mad_outlier_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: per-type median + MAD (median absolute
    deviation), flag |value - med| > 3 * 1.4826 * MAD. Unlike the
    z-score twin (anomaly_zscore_events) this is insensitive to the
    outliers themselves. Two tiny percentile aggs broadcast back; the
    flag pass is map-only. Cut points are computed from ROUNDED med/MAD
    on both engines so boundary decisions are bit-identical."""
    ev = _events(spark, sf_dir).select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("med"))
    dev = (ev.join(F.broadcast(med), "event_type")
           .select("event_type", "value", "med",
                   F.abs(F.col("value") - F.col("med")).alias("adev")))
    mad = dev.groupBy("event_type").agg(
        F.round(F.percentile("adev", F.lit(0.5)), 4).alias("mad"))
    flagged = dev.join(F.broadcast(mad), "event_type").withColumn(
        "is_out",
        F.abs(F.col("value") - F.col("med")) > 3 * 1.4826 * F.col("mad"))
    return (flagged.groupBy("event_type")
            .agg(F.first("med").alias("med"), F.first("mad").alias("mad"),
                 F.sum(F.col("is_out").cast("int")).alias("n_outliers"),
                 F.count(F.lit(1)).alias("n"))
            .orderBy("event_type"))


ORACLE_MAD = """
-- BIGINT-cast wrapper: DuckDB widens integer sums to HUGEINT, which the
-- driver's Arrow fetch path renders differently than Spark's long (VERDICT r3 #1).
SELECT "event_type",
       "med",
       "mad",
       CAST("n_outliers" AS BIGINT) AS "n_outliers",
       "n"
FROM (
WITH med AS (
  SELECT event_type, round(quantile_cont(value, 0.5), 4) AS med
  FROM events GROUP BY event_type
), dev AS (
  SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
  FROM events e JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, round(quantile_cont(adev, 0.5), 4) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type, min(d.med) AS med, min(x.mad) AS mad,
       sum(CASE WHEN abs(d.value - d.med) > 3 * 1.4826 * x.mad
                THEN 1 ELSE 0 END) AS n_outliers,
       count(*) AS n
FROM dev d JOIN mad x USING (event_type)
GROUP BY d.event_type ORDER BY d.event_type
) _bigint_cast
"""
gate(mad_outlier_events, ORACLE_MAD)


def wide_denormalize_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full star-schema denormalization (lineitem ⨝ orders ⨝ customer ⨝
    nation ⨝ region ⨝ part ⨝ supplier — the widest join pipeline in the
    suite, the shape of every warehouse export), digested to one row
    (count / md5-xor checksum / revenue). Dims are unhinted: AQE
    broadcasts them while they fit and demotes when they don't — the
    same plan survives 100 TB. The only repartition-grade shuffle is
    lineitem ⨝ orders."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    wide = (li
            .join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(nation, cust.c_nationkey == nation.n_nationkey)
            .join(region, nation.n_regionkey == region.r_regionkey)
            .join(part, li.l_partkey == part.p_partkey)
            .join(supp, li.l_suppkey == supp.s_suppkey))
    h = _md5_xor_long("l_orderkey", "l_linenumber", "o_orderstatus",
                      "c_mktsegment", "n_name", "r_name", "p_brand",
                      "s_name")
    return wide.select(h.alias("h"), "l_extendedprice").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.bit_xor("h").alias("checksum_xor"),
        F.round(F.sum("l_extendedprice"), 2).alias("revenue"))


ORACLE_WIDE_DENORM = """
SELECT count(*) AS n_rows,
       bit_xor(CAST(('0x' || substring(md5(concat_ws(chr(31),
           coalesce(CAST(l_orderkey AS VARCHAR), '<N>'),
           coalesce(CAST(l_linenumber AS VARCHAR), '<N>'),
           coalesce(o_orderstatus, '<N>'),
           coalesce(c_mktsegment, '<N>'),
           coalesce(n_name, '<N>'),
           coalesce(r_name, '<N>'),
           coalesce(p_brand, '<N>'),
           coalesce(s_name, '<N>'))), 1, 15)) AS BIGINT)) AS checksum_xor,
       round(sum(l_extendedprice), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
"""
gate(wide_denormalize_checksum, ORACLE_WIDE_DENORM)


# =====================================================================
# Scalable global row numbering
# =====================================================================

def scalable_row_numbering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global dense row ids in key order WITHOUT the single-task global
    window (operators/partition.assign_global_ids: range repartition ->
    per-partition counts -> broadcast cumulative offsets -> parallel
    per-partition windows). The oracle is the naive
    row_number() OVER (ORDER BY key) — equality proves the distributed
    form computes the identical numbering. Output thinned to every
    500th id to keep the gate small."""
    from .operators.partition import assign_global_ids

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    ids = assign_global_ids(orders, "o_orderkey", "row_id")
    return (ids.filter(F.col("row_id") % 500 == 0)
            .select("row_id", "o_orderkey",
                    F.round("o_totalprice", 2).alias("o_totalprice"))
            .orderBy("row_id"))


ORACLE_ROW_NUMBERING = """
WITH ids AS (
  SELECT o_orderkey, o_totalprice,
         row_number() OVER (ORDER BY o_orderkey) - 1 AS row_id
  FROM orders
)
SELECT row_id, o_orderkey, round(o_totalprice, 2) AS o_totalprice
FROM ids WHERE row_id % 500 = 0 ORDER BY row_id
"""
gate(scalable_row_numbering, ORACLE_ROW_NUMBERING)


# =====================================================================
# Aggregate/SQL surface breadth: string_agg, arg_max/min, GROUP BY ALL
# =====================================================================

def string_agg_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/STRING_AGG — the SQL:2023
    surface): per status, the distinct priorities concatenated in
    order. Spark spells it WITHIN GROUP (ORDER BY), DuckDB takes the
    ORDER BY inline; same semantics."""
    from .sqlapi import sql
    # DISTINCT is pre-applied in a subquery: Spark 4.1's
    # string_agg(DISTINCT ...) WITHIN GROUP combination hits a
    # ClassCastException (SortOrder cast) — the subquery form is also
    # the better plan (distinct shrinks before the agg)
    return sql(spark, sf_dir, """
SELECT o_orderstatus,
       string_agg(o_orderpriority, '|')
         WITHIN GROUP (ORDER BY o_orderpriority) AS priorities,
       count(*) AS n_priorities
FROM (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders)
GROUP BY o_orderstatus ORDER BY o_orderstatus
""")


ORACLE_STRING_AGG = """
SELECT o_orderstatus,
       string_agg(o_orderpriority, '|' ORDER BY o_orderpriority)
         AS priorities,
       count(*) AS n_priorities
FROM (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders)
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""
gate(string_agg_priorities, ORACLE_STRING_AGG)


def argmax_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by / min_by (Spark) ≡ arg_max / arg_min (DuckDB): the
    which-row-holds-the-extreme aggregate without a window. Tie-proof
    via EXACT integer arithmetic: cents * 1e10 + key (review r5 — the
    old float fold price + key*1e-9 collapses once keys reach ~1e7,
    the same double-granularity collision class as the cdc_merge
    offset bug). Cents are exact to price < $9.2M and keys to 1e10,
    far past any realistic SF."""
    from .sqlapi import sql
    expr = ("cast(round(o_totalprice * 100) AS BIGINT) * 10000000000 "
            "+ o_orderkey")
    return sql(spark, sf_dir, f"""
SELECT o_orderstatus,
       max_by(o_orderkey, {expr}) AS priciest_order,
       min_by(o_orderkey, {expr}) AS cheapest_order,
       round(max(o_totalprice), 2) AS max_price,
       round(min(o_totalprice), 2) AS min_price
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
""")


ORACLE_ARGMAX = """
SELECT o_orderstatus,
       arg_max(o_orderkey, cast(round(o_totalprice * 100) AS BIGINT)
                           * 10000000000 + o_orderkey) AS priciest_order,
       arg_min(o_orderkey, cast(round(o_totalprice * 100) AS BIGINT)
                           * 10000000000 + o_orderkey) AS cheapest_order,
       round(max(o_totalprice), 2) AS max_price,
       round(min(o_totalprice), 2) AS min_price
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""
gate(argmax_suite, ORACLE_ARGMAX)


_GROUP_BY_ALL_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n
FROM orders
GROUP BY ALL
ORDER BY ALL
"""


def group_by_all_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern SQL sugar parity: GROUP BY ALL / ORDER BY ALL — the
    IDENTICAL text runs on both engines (Spark 4 and DuckDB both
    implement the clause)."""
    from .sqlapi import sql
    return sql(spark, sf_dir, _GROUP_BY_ALL_SQL)


gate(group_by_all_sql, _GROUP_BY_ALL_SQL)


# =====================================================================
# EWMA (recursive time-series smoothing as a bounded array fold)
# =====================================================================

def ewma_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of daily revenue within
    each month. EWMA is a recurrence (acc = a*x + (1-a)*acc) — not
    window-expressible — but per bounded key group it is an ARRAY FOLD:
    sort_array(collect_list(day, rev)) -> aggregate() lambda, all
    JVM-side. DuckDB replays it with list_reduce (init emulated by
    prepending the seed). The engine discipline: recurrences run as
    bounded in-row folds, never as driver loops; daily revs are rounded
    to 2 BEFORE the fold so both engines fold identical inputs."""
    orders = _t(spark, sf_dir, "orders")
    daily = (orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.to_date("o_orderdate").alias("day"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("rev")))
    per_month = daily.groupBy("month").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.expr("aggregate("
               "  transform(array_sort(collect_list(struct(day, rev))),"
               "            s -> s.rev),"
               "  CAST(0.0 AS DOUBLE),"
               "  (acc, x) -> 0.3 * x + 0.7 * acc)").alias("ewma_raw"))
    return (per_month.select(
        "month", "n_days", F.round("ewma_raw", 2).alias("ewma_end"))
        .orderBy("month"))


ORACLE_EWMA = """
WITH daily AS (
  SELECT strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m') AS month,
         CAST(o_orderdate AS DATE) AS day,
         round(sum(o_totalprice), 2) AS rev
  FROM orders GROUP BY 1, 2
), folded AS (
  SELECT month, count(*) AS n_days,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(list_sort(list({'day': day, 'rev': rev})),
                            s -> s.rev)),
           (acc, x) -> 0.3 * x + 0.7 * acc) AS ewma_raw
  FROM daily GROUP BY month
)
SELECT month, n_days, round(ewma_raw, 2) AS ewma_end
FROM folded ORDER BY month
"""
gate(ewma_monthly_revenue, ORACLE_EWMA)


# =====================================================================
# Higher-order MAP functions
# =====================================================================

def map_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType higher-order breadth: build a per-user event_type→count
    map (map_from_entries), transform_values, map_filter, map_entries
    render, and an aggregate fold over map_values — all JVM expressions.
    DuckDB has no map lambdas, so the oracle replicates from the
    flat (type, count) stream — same values, proving the map pipeline
    computes the relational answer."""
    ev = _events(spark, sf_dir)
    ev.createOrReplaceTempView("events_mapfn")
    return spark.sql("""
WITH c AS (
  SELECT user_id, event_type, count(*) AS n
  FROM events_mapfn WHERE user_id < 5 GROUP BY user_id, event_type
), m AS (
  SELECT user_id,
         map_from_entries(sort_array(collect_list(struct(event_type, n)))) AS m
  FROM c GROUP BY user_id
)
SELECT user_id,
       size(m) AS n_types,
       concat_ws(',',
         transform(
           sort_array(map_entries(
             map_filter(transform_values(m, (k, v) -> v * 2),
                        (k, v) -> v > 20))),
           e -> concat(e.key, '=', e.value))) AS big_counts,
       aggregate(map_values(m), 0L, (a, b) -> a + b) AS total
FROM m ORDER BY user_id
""")


ORACLE_MAP_FUNCTIONS = """
-- BIGINT-cast wrapper: DuckDB widens integer sums to HUGEINT, which the
-- driver's Arrow fetch path renders differently than Spark's long (VERDICT r3 #1).
SELECT "user_id",
       "n_types",
       "big_counts",
       CAST("total" AS BIGINT) AS "total"
FROM (
WITH c AS (
  SELECT user_id, event_type, count(*) AS n
  FROM events WHERE user_id < 5 GROUP BY user_id, event_type
)
SELECT user_id, count(*) AS n_types,
       coalesce(string_agg(
         CASE WHEN n * 2 > 20 THEN event_type || '=' || (n * 2) END,
         ',' ORDER BY event_type), '') AS big_counts,
       sum(n) AS total
FROM c GROUP BY user_id ORDER BY user_id
) _bigint_cast
"""
gate(map_functions_suite, ORACLE_MAP_FUNCTIONS)


# =====================================================================
# Multimodal planning: audio analysis windows, image tile grids
# =====================================================================

def audio_window_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio analysis windowing *plan* (the distributed half of feature
    extraction — the per-window FFT/mel decode is the stubbed
    mapInPandas path in operators/multimodal.py): expand each asset's
    (sample_rate, n_samples) metadata into overlapping analysis windows
    (25 ms window / 10 ms hop at 16 kHz = 400/160 samples), pure JVM
    sequence+explode, no shuffle — partitioning follows the input.
    Output: per-asset window count + last window start (compact gate;
    the full window table is the downstream input)."""
    docs = _t(spark, sf_dir, "documents")
    media = docs.filter(F.col("doc_id") < 50).select(
        F.col("doc_id").alias("media_id"),
        (F.col("n_chars") * 16 + 400).alias("n_samples"))
    win, hop = 400, 160
    wins = media.select(
        "media_id", "n_samples",
        F.explode(F.sequence(
            F.lit(0),
            F.col("n_samples") - win,
            F.lit(hop))).alias("start_sample"))
    return (wins.groupBy("media_id", "n_samples")
            .agg(F.count(F.lit(1)).alias("n_windows"),
                 F.max("start_sample").alias("last_start"))
            .orderBy("media_id"))


ORACLE_AUDIO_WINDOWS = """
WITH media AS (
  SELECT doc_id AS media_id, n_chars * 16 + 400 AS n_samples
  FROM documents WHERE doc_id < 50
), wins AS (
  SELECT media_id, n_samples,
         unnest(generate_series(0, n_samples - 400, 160)) AS start_sample
  FROM media
)
SELECT media_id, n_samples, count(*) AS n_windows,
       max(start_sample) AS last_start
FROM wins GROUP BY media_id, n_samples ORDER BY media_id
"""
gate(audio_window_plan, ORACLE_AUDIO_WINDOWS)


def image_tile_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image patch-grid *plan*: (width, height) metadata -> the 64x64
    tile coordinate table (ceil-division edge tiles included) via a
    JVM sequence cross — the ViT-style patching front half; the pixel
    crop is the Arrow decode path. Returns the tile rows for a small
    asset subset (the gate checks exact tile coordinates, not just
    counts)."""
    docs = _t(spark, sf_dir, "documents")
    media = docs.filter(F.col("doc_id") < 8).select(
        F.col("doc_id").alias("media_id"),
        (F.col("n_chars") % 500 + 100).alias("width"),
        (F.col("n_chars") % 300 + 80).alias("height"))
    t = 64
    tiles = (media
             .withColumn("tile_x", F.explode(F.sequence(
                 F.lit(0), F.ceil(F.col("width") / t) - 1)))
             .withColumn("tile_y", F.explode(F.sequence(
                 F.lit(0), F.ceil(F.col("height") / t) - 1))))
    return tiles.select(
        "media_id", "width", "height", "tile_x", "tile_y",
        F.least(F.lit(t), F.col("width") - F.col("tile_x") * t).alias("tile_w"),
        F.least(F.lit(t), F.col("height") - F.col("tile_y") * t).alias("tile_h"),
    ).orderBy("media_id", "tile_x", "tile_y")


ORACLE_IMAGE_TILES = """
WITH media AS (
  SELECT doc_id AS media_id, n_chars % 500 + 100 AS width,
         n_chars % 300 + 80 AS height
  FROM documents WHERE doc_id < 8
), tx AS (
  SELECT media_id, width, height,
         unnest(generate_series(0, CAST(ceil(width / 64.0) AS BIGINT) - 1))
           AS tile_x
  FROM media
), t AS (
  SELECT media_id, width, height, tile_x,
         unnest(generate_series(0, CAST(ceil(height / 64.0) AS BIGINT) - 1))
           AS tile_y
  FROM tx
)
SELECT media_id, width, height, tile_x, tile_y,
       least(64, width - tile_x * 64) AS tile_w,
       least(64, height - tile_y * 64) AS tile_h
FROM t ORDER BY media_id, tile_x, tile_y
"""
gate(image_tile_plan, ORACLE_IMAGE_TILES)


# =====================================================================
# Scalar-function sweeps: bitwise / array / regex (§2.8 superset)
# =====================================================================

def bitwise_function_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar breadth over order keys: and/or/xor, shifts,
    popcount — aggregated so the gate covers every row's results."""
    from .sqlapi import sql
    return sql(spark, sf_dir, """
SELECT o_orderstatus,
       sum(o_orderkey & 255) AS sum_and,
       sum(o_orderkey | 15) AS sum_or,
       sum(o_orderkey ^ 60) AS sum_xor,
       sum(shiftleft(o_orderkey & 7, 3)) AS sum_shl,
       sum(shiftright(o_orderkey, 4)) AS sum_shr,
       sum(bit_count(o_orderkey)) AS sum_popcount
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
""")


ORACLE_BITWISE = """
-- BIGINT-cast wrapper: DuckDB widens integer sums to HUGEINT, which the
-- driver's Arrow fetch path renders differently than Spark's long (VERDICT r3 #1).
SELECT "o_orderstatus",
       CAST("sum_and" AS BIGINT) AS "sum_and",
       CAST("sum_or" AS BIGINT) AS "sum_or",
       CAST("sum_xor" AS BIGINT) AS "sum_xor",
       CAST("sum_shl" AS BIGINT) AS "sum_shl",
       CAST("sum_shr" AS BIGINT) AS "sum_shr",
       CAST("sum_popcount" AS BIGINT) AS "sum_popcount"
FROM (
SELECT o_orderstatus,
       sum(o_orderkey & 255) AS sum_and,
       sum(o_orderkey | 15) AS sum_or,
       sum(xor(o_orderkey, 60)) AS sum_xor,
       sum((o_orderkey & 7) * 8) AS sum_shl,
       sum(o_orderkey // 16) AS sum_shr,
       sum(bit_count(o_orderkey)) AS sum_popcount
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
) _bigint_cast
"""
gate(bitwise_function_sweep, ORACLE_BITWISE)


def array_function_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set-algebra breadth on token arrays: union / intersect /
    except / overlap / distinct / position / flatten — the §2.8
    "ArrayType is a superset of the reference's type system" evidence."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    toks = F.split(F.trim("text"), r"\s+")
    head = F.slice(toks, 1, 8)
    tail = F.slice(toks, 9, 8)
    return docs.select(
        "doc_id",
        F.size(F.array_distinct(head)).alias("n_head_distinct"),
        F.size(F.array_union(head, tail)).alias("n_union"),
        F.size(F.array_intersect(F.array_distinct(head),
                                 F.array_distinct(tail))).alias("n_intersect"),
        F.size(F.array_except(F.array_distinct(head),
                              F.array_distinct(tail))).alias("n_except"),
        F.arrays_overlap(head, tail).alias("overlaps"),
        F.array_position(toks, "the").cast("long").alias("pos_the"),
        F.size(F.flatten(F.array(head, tail))).alias("n_flat"),
    ).orderBy("doc_id")


ORACLE_ARRAY_SWEEP = """
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents WHERE doc_id < 100
), ht AS (
  SELECT doc_id, toks, toks[1:8] AS head, toks[9:16] AS tail FROM t
)
SELECT doc_id,
       len(list_distinct(head)) AS n_head_distinct,
       len(list_distinct(list_concat(head, tail))) AS n_union,
       len(list_intersect(list_distinct(head), list_distinct(tail)))
         AS n_intersect,
       len(list_filter(list_distinct(head),
                       x -> NOT list_contains(list_distinct(tail), x)))
         AS n_except,
       len(list_intersect(head, tail)) > 0 AS overlaps,
       coalesce(list_position(toks, 'the'), 0) AS pos_the,
       len(head) + len(tail) AS n_flat
FROM ht ORDER BY doc_id
"""
gate(array_function_sweep, ORACLE_ARRAY_SWEEP)


def regex_function_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scalar breadth: count / extract / extract_all-size /
    replace over part names — aggregated per brand."""
    from .sqlapi import sql
    return sql(spark, sf_dir, """
SELECT p_brand,
       sum(regexp_count(p_name, '[aeiou]')) AS n_vowels,
       count(CASE WHEN regexp_like(p_name, '^[a-z]+_') THEN 1 END)
         AS n_prefixed,
       sum(size(regexp_extract_all(p_name, '[0-9]+', 0))) AS n_number_runs,
       sum(length(regexp_replace(p_name, '[aeiou]', ''))) AS len_devoweled
FROM part GROUP BY p_brand ORDER BY p_brand
""")


ORACLE_REGEX_SWEEP = """
-- BIGINT-cast wrapper: DuckDB widens integer sums to HUGEINT, which the
-- driver's Arrow fetch path renders differently than Spark's long (VERDICT r3 #1).
SELECT "p_brand",
       CAST("n_vowels" AS BIGINT) AS "n_vowels",
       "n_prefixed",
       CAST("n_number_runs" AS BIGINT) AS "n_number_runs",
       CAST("len_devoweled" AS BIGINT) AS "len_devoweled"
FROM (
SELECT p_brand,
       sum(len(regexp_extract_all(p_name, '[aeiou]'))) AS n_vowels,
       count(CASE WHEN regexp_matches(p_name, '^[a-z]+_') THEN 1 END)
         AS n_prefixed,
       sum(len(regexp_extract_all(p_name, '[0-9]+'))) AS n_number_runs,
       sum(length(regexp_replace(p_name, '[aeiou]', '', 'g')))
         AS len_devoweled
FROM part GROUP BY p_brand ORDER BY p_brand
) _bigint_cast
"""
gate(regex_function_sweep, ORACLE_REGEX_SWEEP)


# =====================================================================
# Exact-substring duplication spans (Lee et al., span-level)
# =====================================================================

def exact_substring_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact-substring duplication
    (operators/dedup.exact_substring_spans, k=8 word windows): per doc,
    the maximal shared spans and the fraction of tokens inside them —
    what a span-cutting dedup pass would remove. Oracle replays the
    positional-gram inverted index + gaps-and-islands merge in SQL."""
    from .operators.dedup import exact_substring_spans

    docs = _t(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    spans = exact_substring_spans(docs, k=8)
    toks = docs.select(
        "doc_id", F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens"))
    rep = (spans.groupBy("doc_id")
           .agg(F.count(F.lit(1)).alias("n_spans"),
                F.sum("span_tokens").alias("shared_tokens"),
                F.max("span_tokens").alias("longest_span")))
    return (toks.join(rep, "doc_id", "left")
            .select("doc_id", "n_tokens",
                    F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
                    F.coalesce("shared_tokens", F.lit(0)).alias("shared_tokens"),
                    F.coalesce("longest_span", F.lit(0)).alias("longest_span"),
                    F.round(F.coalesce("shared_tokens", F.lit(0))
                            / F.col("n_tokens"), 4).alias("dup_frac"))
            .orderBy("doc_id"))


ORACLE_EXACT_SUBSTRING = """
-- BIGINT-cast wrapper: DuckDB widens integer sums to HUGEINT, which the
-- driver's Arrow fetch path renders differently than Spark's long (VERDICT r3 #1).
SELECT "doc_id",
       "n_tokens",
       "n_spans",
       CAST("shared_tokens" AS BIGINT) AS "shared_tokens",
       "longest_span",
       "dup_frac"
FROM (
WITH base AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents
), pos AS (
  SELECT doc_id, pg.pos AS pos, pg.g AS g FROM (
    SELECT doc_id, unnest(list_transform(
      generate_series(1, len(t) - 7),
      i -> struct_pack(pos := i, g := array_to_string(t[i:i+7], ' ')))) AS pg
    FROM base WHERE len(t) >= 8)
), shared AS (
  SELECT g FROM (SELECT DISTINCT g, doc_id FROM pos)
  GROUP BY g HAVING count(*) >= 2
), hits AS (
  SELECT pos.doc_id, pos.pos FROM pos JOIN shared USING (g)
), flagged AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos, 1, -1000000000)
                    OVER (PARTITION BY doc_id ORDER BY pos) > 8
              THEN 1 ELSE 0 END AS new_island
  FROM hits
), isl AS (
  SELECT doc_id, pos,
         sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM flagged
), spans AS (
  SELECT doc_id, island, min(pos) - 1 AS span_start,
         max(pos) + 7 AS span_end
  FROM isl GROUP BY doc_id, island
), rep AS (
  SELECT doc_id, count(*) AS n_spans,
         sum(span_end - span_start) AS shared_tokens,
         max(span_end - span_start) AS longest_span
  FROM spans GROUP BY doc_id
), toks AS (
  SELECT doc_id, len(t) AS n_tokens FROM base
)
SELECT t.doc_id, t.n_tokens,
       coalesce(r.n_spans, 0) AS n_spans,
       coalesce(r.shared_tokens, 0) AS shared_tokens,
       coalesce(r.longest_span, 0) AS longest_span,
       round(coalesce(r.shared_tokens, 0) / CAST(t.n_tokens AS DOUBLE), 4)
         AS dup_frac
FROM toks t LEFT JOIN rep r USING (doc_id)
ORDER BY t.doc_id
) _bigint_cast
"""
gate(exact_substring_report, ORACLE_EXACT_SUBSTRING)


# =====================================================================
# ANSI-safe try_* arithmetic (Spark 4 runs ANSI mode by default)
# =====================================================================

def try_arithmetic_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 ANSI-mode safety surface: plain arithmetic THROWS on
    overflow/÷0, try_add/try_multiply/try_divide return NULL instead.
    Exercises NULL-on-error division (o_orderkey % 7 hits zero), bigint
    overflow via try_multiply at the int64 edge, and aggregation over
    the resulting nulls. The oracle mirrors each null with explicit
    CASE guards — proving the try_* semantics equal ANSI CASE-protected
    arithmetic.

    r12 (guide §2.5): the projected scan is REPARTITION-hinted inside
    a subquery — every overflowing try_multiply row pays a caught JVM
    arithmetic exception (~30 µs each, measured 4.3 s for the
    single-core scan at sf0.1), so the per-row work must spread; the
    hint sizes to the session's default parallelism, and at production
    scale a multi-split scan makes it a near-no-op reshuffle of three
    narrow columns."""
    from .sqlapi import sql
    n = spark.sparkContext.defaultParallelism
    return sql(spark, sf_dir, f"""
SELECT o_orderstatus,
       count(*) AS n,
       sum(try_divide(o_totalprice, CAST(o_orderkey % 7 AS DOUBLE)))
         IS NOT NULL AS sum_skips_nulls,
       count(CASE WHEN try_divide(o_totalprice,
                                  CAST(o_orderkey % 7 AS DOUBLE)) IS NULL
                  THEN 1 END) AS n_div_by_zero,
       count(CASE WHEN try_multiply(o_orderkey,
                                    CAST(9e17 AS BIGINT)) IS NULL
                  THEN 1 END) AS n_overflow,
       round(avg(try_divide(o_totalprice,
                            CAST(o_orderkey % 7 AS DOUBLE))), 2) AS avg_ratio
FROM (SELECT /*+ REPARTITION({n}) */
             o_orderstatus, o_totalprice, o_orderkey FROM orders) _spread
GROUP BY o_orderstatus ORDER BY o_orderstatus
""")


_NUMBER_BOUNDARIES_SQL = """
SELECT
  CAST(CAST('99999999999999999999999999999999999999' AS DECIMAL(38,0))
       AS STRING) AS dec38_max,
  CAST(CAST('-99999999999999999999999999999999999999' AS DECIMAL(38,0))
       AS STRING) AS dec38_min,
  TRY_CAST('1' || repeat('0', 38) AS DECIMAL(38,0)) IS NULL
    AS overflow_39_digits_is_null,
  TRY_CAST('1e40' AS DECIMAL(38,0)) IS NULL AS overflow_sci_is_null,
  TRY_CAST('not a number' AS DECIMAL(38,0)) IS NULL AS junk_is_null,
  CAST(CAST('123.999' AS DECIMAL(38,0)) AS STRING) AS rounded_half_up,
  CAST(CAST('1267650600228229401496703205376' AS DECIMAL(38,0)) * 64
       AS STRING) AS pow2_106,
  CAST(sum(CAST(o_orderkey AS DECIMAL(38,0))) AS STRING) AS sum_keys_dec,
  CAST(max(CAST(o_orderkey AS BIGINT)) AS STRING) AS max_key_i64,
  count(*) AS n
FROM orders
"""


def number_boundaries_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``number`` type's range contract, enforced in the gate
    (VERDICT r2 next-step #9). The reference's ``number`` is a varint
    holding ±2^1007 (dsutil/dsutilmodule.c:1673-1800); our documented
    mapping (SURVEY §7.4, FIXTURES §1) is DecimalType(38,0) — this
    query pins the boundary behavior with IDENTICAL SQL text on both
    engines: 38-digit extremes survive exactly, a 39-digit literal /
    1e40 / junk all TRY_CAST to NULL (DuckDB agrees for DECIMAL(38,0);
    its HUGEINT would hold ±2^127 and the reference ±2^1007 — beyond-38
    -digit integers are deliberately out of scope), half-up rounding,
    exact 2^106 decimal arithmetic, and a full-table decimal sum that
    would overflow BIGINT semantics at scale."""
    from .sqlapi import sql
    return sql(spark, sf_dir, _NUMBER_BOUNDARIES_SQL)


gate(number_boundaries_suite, _NUMBER_BOUNDARIES_SQL)


ORACLE_TRY_ARITH = """
SELECT o_orderstatus,
       count(*) AS n,
       TRUE AS sum_skips_nulls,
       count(CASE WHEN o_orderkey % 7 = 0 THEN 1 END) AS n_div_by_zero,
       count(CASE WHEN o_orderkey > CAST(9223372036854775807 // 900000000000000000
                                         AS BIGINT)
                  THEN 1 END) AS n_overflow,
       round(avg(CASE WHEN o_orderkey % 7 <> 0
                      THEN o_totalprice / (o_orderkey % 7) END), 2) AS avg_ratio
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""
gate(try_arithmetic_suite, ORACLE_TRY_ARITH)


# =====================================================================
# Model evaluation: distributed AUC (Mann-Whitney) + calibration bins
# =====================================================================

def classifier_auc_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed ROC-AUC without pairwise comparison: rank statistics.
    Scorer = cosine similarity to the class-0 centroid (deterministic,
    JVM-only); positive = label 0. AUC via the Mann-Whitney identity
    AUC = (Σ ranks⁺ - n⁺(n⁺+1)/2) / (n⁺ n⁻) with tie-averaged ranks.
    Scale-safe rank computation (VERDICT r2 #4): ranks depend only on
    DISTINCT scores, so the corpus is partial-aggregated per score
    (map-side combine), the cumulative count runs over the tiny
    distinct-score stream, and avg_rank = cum_before + (cnt+1)/2 —
    never a no-partition window over the full corpus. The calibration
    half reconstructs exact ntile(5) bins arithmetically from
    rn = cum_before + within-score row_number (a PARTITIONED window),
    so ties split across bins exactly as the oracle's ntile does. Plus
    5-bin score calibration (positive rate per score quantile bucket —
    the reliability-diagram data). The evaluation half every
    model-based-filtering pipeline needs next to its scorer."""
    from .operators.similarity import cosine

    emb = _t(spark, sf_dir, "embeddings")
    cent = (emb.filter(F.col("label") == 0)
            .select(F.posexplode("embedding").alias("d", "x"))
            .groupBy("d").agg(F.avg("x").alias("c")))
    from .operators import lit_double_array
    cent_arr = lit_double_array(
        [r["c"] for r in sorted(cent.collect(), key=lambda r: r["d"])])
    scored = emb.select(
        "vec_id",
        (F.col("label") == 0).cast("int").alias("pos"),
        F.round(cosine(F.col("embedding").cast("array<double>"),
                       cent_arr), 6).alias("score"))
    # per-score partial aggregate: ONE shuffle keyed on score, map-side
    # combined — the only pass over the corpus the AUC needs
    stats = (scored.groupBy("score")
             .agg(F.count(F.lit(1)).alias("cnt"),
                  F.sum("pos").alias("pos_cnt")))
    # cumulative count over the distinct-score stream (tiny post-agg
    # frame — one row per distinct rounded score, not per document)
    w_cum = W.orderBy("score").rowsBetween(W.unboundedPreceding, -1)
    stats = stats.withColumn(
        "cum_before", F.coalesce(F.sum("cnt").over(w_cum), F.lit(0))
    ).withColumn(
        "avg_rank", F.col("cum_before") + (F.col("cnt") + 1) / 2.0)
    agg = stats.agg(
        F.sum(F.col("pos_cnt") * F.col("avg_rank")).alias("rsum"),
        F.sum("pos_cnt").alias("np"),
        F.sum(F.col("cnt") - F.col("pos_cnt")).alias("nn"),
        F.sum("cnt").alias("ntot"))
    auc = agg.select(
        F.col("np").alias("n_pos"), F.col("nn").alias("n_neg"),
        F.round((F.col("rsum") - F.col("np") * (F.col("np") + 1) / 2)
                / (F.col("np") * F.col("nn")), 4).alias("auc"),
        F.col("ntot"))
    # exact ntile(5) reconstruction: global rank rn = cum_before +
    # within-score row_number (partitioned window — distributed), then
    # the ntile closed form: first (n%5) bins hold ceil(n/5) rows.
    w_in_score = W.partitionBy("score").orderBy(F.col("vec_id").asc())
    per = (scored
           .withColumn("psr", F.row_number().over(w_in_score))
           .join(stats.select("score", "cum_before"), "score")
           .crossJoin(F.broadcast(auc.select("ntot")))
           .withColumn("rn", F.col("cum_before") + F.col("psr")))
    q = F.floor(F.col("ntot") / 5)
    r_mod = F.col("ntot") % 5
    big = r_mod * (q + 1)
    per = per.withColumn(
        "bin",
        F.when(q == 0, F.col("rn"))
        .when(F.col("rn") <= big, F.ceil(F.col("rn") / (q + 1)))
        .otherwise(r_mod + F.ceil((F.col("rn") - big) / q)))
    calib = (per.groupBy("bin")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.round(F.avg("score"), 4).alias("mean_score"),
                  F.round(F.avg("pos"), 4).alias("pos_rate")))
    auc = auc.drop("ntot")
    return (calib.crossJoin(F.broadcast(auc))
            .select("bin", "n", "mean_score", "pos_rate",
                    "n_pos", "n_neg", "auc")
            .orderBy("bin"))


def _auc_oracle() -> str:
    cos = ("round(list_dot_product({a}, {b}) /"
           " (sqrt(list_dot_product({a}, {a})) *"
           "  sqrt(list_dot_product({b}, {b}))), 6)")
    return f"""
WITH flat AS (
  SELECT generate_subscripts(embedding, 1) AS d,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings WHERE label = 0
), dims AS (
  SELECT d, avg(x) AS c FROM flat GROUP BY d
), cent AS (
  SELECT list(c ORDER BY d) AS v FROM dims
), scored AS (
  SELECT vec_id, CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos,
         {cos.format(a='list_transform(embedding, x -> CAST(x AS DOUBLE))',
                     b='cent.v')} AS score
  FROM embeddings, cent
), ranked AS (
  SELECT *, row_number() OVER (ORDER BY score ASC, vec_id ASC) AS rn
  FROM scored
), tie AS (
  SELECT score, (min(rn) + max(rn)) / 2.0 AS avg_rank
  FROM ranked GROUP BY score
), agg AS (
  SELECT sum(CASE WHEN pos = 1 THEN avg_rank END) AS rsum,
         sum(pos) AS np, sum(1 - pos) AS nn
  FROM ranked JOIN tie USING (score)
), auc AS (
  -- BIGINT casts: DuckDB widens integer sum() to HUGEINT (VERDICT r3 #1)
  SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
         round((rsum - np * (np + 1) / 2) / (np * nn), 4) AS auc
  FROM agg
), calib AS (
  SELECT ntile(5) OVER (ORDER BY score ASC, vec_id ASC) AS bin,
         score, pos
  FROM scored
), bins AS (
  SELECT bin, count(*) AS n, round(avg(score), 4) AS mean_score,
         round(avg(CAST(pos AS DOUBLE)), 4) AS pos_rate
  FROM calib GROUP BY bin
)
SELECT bin, n, mean_score, pos_rate, n_pos, n_neg, auc
FROM bins, auc ORDER BY bin
"""


ORACLE_AUC = _auc_oracle()
gate(classifier_auc_report, ORACLE_AUC)


# =====================================================================
# Sample-based approximate analytics (deterministic hash sample)
# =====================================================================

def sampled_mean_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate analytics from a 10% deterministic hash sample (md5
    bucket on the key — engine/partitioning-invariant, the same
    discipline as hash_sample_documents): per return flag, the sampled
    mean price must land within 2% of the full-scan mean. At 100 TB
    this is the exploratory-query pattern: answer from the sample shard,
    gate against the full answer only when auditing. Both the sample
    membership AND the tolerance check replay exactly in the oracle."""
    li = _t(spark, sf_dir, "lineitem")
    bucket = F.conv(F.substring(
        F.md5(F.concat_ws("_", "l_orderkey", "l_linenumber")), 1, 4),
        16, 10).cast("long") % 10
    samp = (li.filter(bucket == 0)
            .groupBy("l_returnflag")
            .agg(F.avg("l_extendedprice").alias("s_mean"),
                 F.count(F.lit(1)).alias("s_n")))
    full = (li.groupBy("l_returnflag")
            .agg(F.avg("l_extendedprice").alias("f_mean"),
                 F.count(F.lit(1)).alias("f_n")))
    j = full.join(samp, "l_returnflag")
    ok = F.abs(F.col("s_mean") - F.col("f_mean")) <= 0.02 * F.col("f_mean")
    return (j.select("l_returnflag",
                     F.round("f_mean", 2).alias("full_mean"), "f_n", "s_n",
                     ok.alias("sample_within_2pct"))
            .orderBy("l_returnflag"))


ORACLE_SAMPLED_MEAN = """
WITH samp AS (
  SELECT l_returnflag, avg(l_extendedprice) AS s_mean, count(*) AS s_n
  FROM lineitem
  WHERE CAST(('0x' || substring(md5(l_orderkey || '_' || l_linenumber),
                                1, 4)) AS BIGINT) % 10 = 0
  GROUP BY l_returnflag
), full_t AS (
  SELECT l_returnflag, avg(l_extendedprice) AS f_mean, count(*) AS f_n
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, round(f_mean, 2) AS full_mean, f_n, s_n,
       abs(s_mean - f_mean) <= 0.02 * f_mean AS sample_within_2pct
FROM full_t JOIN samp USING (l_returnflag) ORDER BY l_returnflag
"""
gate(sampled_mean_estimate, ORACLE_SAMPLED_MEAN)


# =====================================================================
# BM25 ranked retrieval (inverted-index search over the corpus)
# =====================================================================

_BM25_TERMS = ["spark", "join", "window"]
_BM25_K1, _BM25_B = 1.2, 0.75


def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-text ranked retrieval: BM25 (k1=1.2, b=0.75, robust IDF)
    over the documents corpus for a fixed term query, top-20. The
    search-engine workload as pure relational algebra: term postings
    are filtered to the query terms BEFORE any aggregation (the
    inverted-index access path — the full vocabulary never shuffles),
    document lengths and avgdl are tiny broadcast aggregates, and the
    score is one grouped sum. Scales as O(postings of query terms), not
    O(corpus tokens)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("term"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(F.avg("dl").alias("avgdl"),
                   F.count(F.lit(1)).alias("n_docs"))
    tf = (toks.filter(F.col("term").isin(_BM25_TERMS))
          .groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")))
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (tf.join(F.broadcast(df_t), "term")
              .join(dl, "doc_id")
              .crossJoin(F.broadcast(stats)))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5) + 1)
    denom = (F.col("tf") + _BM25_K1
             * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")))
    part = idf * F.col("tf") * (_BM25_K1 + 1) / denom
    return (scored.groupBy("doc_id")
            .agg(F.round(F.sum(part), 4).alias("bm25"),
                 F.count(F.lit(1)).alias("n_terms_hit"))
            .orderBy(F.col("bm25").desc(), F.col("doc_id"))
            .limit(20))


ORACLE_BM25 = f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
  FROM documents
), dl AS (
  SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
), stats AS (
  SELECT avg(dl) AS avgdl, count(*) AS n_docs FROM dl
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks
  WHERE term IN ('spark', 'join', 'window')
  GROUP BY doc_id, term
), df_t AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id,
         ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1)
           * tf.tf * ({_BM25_K1} + 1)
           / (tf.tf + {_BM25_K1} * (1 - {_BM25_B}
                                    + {_BM25_B} * dl.dl / s.avgdl)) AS part
  FROM tf JOIN df_t d USING (term) JOIN dl USING (doc_id), stats s
)
SELECT doc_id, round(sum(part), 4) AS bm25, count(*) AS n_terms_hit
FROM scored GROUP BY doc_id
ORDER BY bm25 DESC, doc_id LIMIT 20
"""
gate(bm25_search, ORACLE_BM25)


# =====================================================================
# PMI collocations (word-pair association mining)
# =====================================================================

def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over document-level word
    co-occurrence: PMI(x,y) = ln(N·c(xy) / (c(x)·c(y))) for pairs
    co-occurring in ≥ 200 docs; top 20 by PMI. Same bounded pair
    expansion as the co-purchase graph (sorted distinct-token array →
    in-row combinations — the vocabulary per doc is small, so the
    quadratic stays in-row); unigram doc-frequencies broadcast back.
    The collocation-mining primitive under phrase detection
    (word2phrase) and feature engineering."""
    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()
    items = docs.select(
        F.sort_array(F.array_distinct(
            F.split(F.trim("text"), r"\s+"))).alias("w"))
    pairs = items.select(F.explode(F.expr(
        "flatten(transform(w, (x, i) ->"
        " transform(slice(w, i + 2, size(w)),"
        " y -> struct(x AS wa, y AS wb))))")).alias("p")) \
        .select("p.wa", "p.wb")
    cpair = (pairs.groupBy("wa", "wb")
             .agg(F.count(F.lit(1)).alias("c_xy"))
             .filter(F.col("c_xy") >= 200))
    uni = (items.select(F.explode("w").alias("word"))
           .groupBy("word").agg(F.count(F.lit(1)).alias("c")))
    j = (cpair
         .join(F.broadcast(uni.withColumnRenamed("word", "wa")
                           .withColumnRenamed("c", "c_x")), "wa")
         .join(F.broadcast(uni.withColumnRenamed("word", "wb")
                           .withColumnRenamed("c", "c_y")), "wb"))
    pmi = F.round(F.log(F.lit(float(n_docs)) * F.col("c_xy")
                        / (F.col("c_x") * F.col("c_y"))), 4)
    return (j.select("wa", "wb", "c_xy", pmi.alias("pmi"))
            .orderBy(F.col("pmi").desc(), "wa", "wb")
            .limit(20))


ORACLE_PMI = """
WITH items AS (
  SELECT list_sort(list_distinct(regexp_split_to_array(trim(text), '\\s+')))
    AS w
  FROM documents
), pairs AS (
  SELECT p.wa AS wa, p.wb AS wb FROM (
    SELECT unnest(flatten(list_transform(generate_series(1, len(w)),
      i -> list_transform(w[i+1:len(w)],
                          y -> struct_pack(wa := w[i], wb := y))))) AS p
    FROM items)
), cpair AS (
  SELECT wa, wb, count(*) AS c_xy FROM pairs GROUP BY wa, wb
  HAVING count(*) >= 200
), uni AS (
  SELECT word, count(*) AS c FROM (SELECT unnest(w) AS word FROM items)
  GROUP BY word
), n AS (SELECT count(*) AS n_docs FROM documents)
SELECT wa, wb, c_xy,
       round(ln(CAST(n.n_docs AS DOUBLE) * c_xy / (ux.c * uy.c)), 4) AS pmi
FROM cpair JOIN uni ux ON ux.word = wa JOIN uni uy ON uy.word = wb, n
ORDER BY pmi DESC, wa, wb LIMIT 20
"""
gate(pmi_collocations, ORACLE_PMI)


# =====================================================================
# Statistics breadth: correlation matrix, Benford digits, null-aware
# window navigation
# =====================================================================

def correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations of the lineitem numeric columns in
    ONE aggregation pass (the moment sums for every pair fold
    map-side) — the EDA primitive; at 100 TB a correlation matrix must
    not cost one scan per pair."""
    from .sqlapi import sql
    return sql(spark, sf_dir, """
SELECT round(corr(l_quantity, l_extendedprice), 4) AS qty_price,
       round(corr(l_quantity, l_discount), 4) AS qty_disc,
       round(corr(l_quantity, l_tax), 4) AS qty_tax,
       round(corr(l_extendedprice, l_discount), 4) AS price_disc,
       round(corr(l_extendedprice, l_tax), 4) AS price_tax,
       round(corr(l_discount, l_tax), 4) AS disc_tax,
       count(*) AS n
FROM lineitem
""")


ORACLE_CORR_MATRIX = """
SELECT round(corr(l_quantity, l_extendedprice), 4) AS qty_price,
       round(corr(l_quantity, l_discount), 4) AS qty_disc,
       round(corr(l_quantity, l_tax), 4) AS qty_tax,
       round(corr(l_extendedprice, l_discount), 4) AS price_disc,
       round(corr(l_extendedprice, l_tax), 4) AS price_tax,
       round(corr(l_discount, l_tax), 4) AS disc_tax,
       count(*) AS n
FROM lineitem
"""
gate(correlation_matrix, ORACLE_CORR_MATRIX)


def benford_digit_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order totals vs the
    Benford expectation log10(1 + 1/d) — the classic anomaly/fraud
    screen, as one scan + a 9-group aggregate."""
    from .sqlapi import sql
    return sql(spark, sf_dir, """
SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS STRING), 1, 1)
            AS INT) AS digit,
       count(*) AS n,
       round(count(*) / CAST(sum(count(*)) OVER () AS DOUBLE), 4)
         AS observed,
       round(log10(1.0 + 1.0 / CAST(substring(
         CAST(CAST(floor(o_totalprice) AS BIGINT) AS STRING), 1, 1) AS INT)), 4)
         AS benford
FROM orders WHERE o_totalprice >= 1
GROUP BY 1 ORDER BY 1
""")


ORACLE_BENFORD = """
SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
            AS INT) AS digit,
       count(*) AS n,
       round(count(*) / CAST(sum(count(*)) OVER () AS DOUBLE), 4)
         AS observed,
       round(log10(1.0 + 1.0 / CAST(substring(
         CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT)), 4)
         AS benford
FROM orders WHERE o_totalprice >= 1
GROUP BY 1 ORDER BY 1
"""
gate(benford_digit_distribution, ORACLE_BENFORD)


def window_ignore_nulls_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-aware window navigation: FIRST_VALUE / LAST_VALUE / LAG with
    IGNORE NULLS over a derived column with real nulls (non-'O' status
    masked) — gap-filling's building block (carry last non-null
    observation forward)."""
    from .sqlapi import sql
    return sql(spark, sf_dir, """
WITH t AS (
  SELECT o_custkey, o_orderkey,
         CASE WHEN o_orderstatus = 'O' THEN o_totalprice END AS open_price
  FROM orders WHERE o_custkey < 30
)
SELECT o_custkey, o_orderkey,
       round(first_value(open_price) IGNORE NULLS OVER w, 2) AS first_open,
       round(last_value(open_price) IGNORE NULLS OVER
             (PARTITION BY o_custkey ORDER BY o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS ffill,
       round(lag(open_price) IGNORE NULLS OVER w, 2) AS prev_open
FROM t
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
ORDER BY o_custkey, o_orderkey
""")


ORACLE_IGNORE_NULLS = """
WITH t AS (
  SELECT o_custkey, o_orderkey,
         CASE WHEN o_orderstatus = 'O' THEN o_totalprice END AS open_price
  FROM orders WHERE o_custkey < 30
)
SELECT o_custkey, o_orderkey,
       round(first_value(open_price IGNORE NULLS) OVER w, 2) AS first_open,
       round(last_value(open_price IGNORE NULLS) OVER
             (PARTITION BY o_custkey ORDER BY o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS ffill,
       round(lag(open_price IGNORE NULLS) OVER w, 2) AS prev_open
FROM t
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
ORDER BY o_custkey, o_orderkey
"""
gate(window_ignore_nulls_suite, ORACLE_IGNORE_NULLS)


# =====================================================================
# Point-in-time (SCD2) join — the feature-store primitive
# =====================================================================

def pit_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time correctness across grains: a customer's "priority
    regime" dimension (validity intervals from consecutive orders:
    [order date, next order date), attribute = that order's priority)
    joined to lineitem SHIP events — each shipment priced under the
    regime in force AT SHIP TIME, never a later one (the leakage a
    feature store exists to prevent). Join shape: equi on custkey +
    interval containment; per-customer interval counts are bounded
    (~orders per customer), so the range filter after the key join
    expands each fact row by a small constant."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    wd = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    dim = orders.select(
        "o_custkey", "o_orderpriority",
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(wd).alias("valid_to"))
    fact = (li.join(orders.select("o_orderkey", "o_custkey"),
                    li.l_orderkey == orders.o_orderkey)
            .select("o_custkey", "l_shipdate", "l_extendedprice"))
    pit = fact.join(
        dim,
        (fact.o_custkey == dim.o_custkey)
        & (F.col("l_shipdate") >= F.col("valid_from"))
        & (F.col("valid_to").isNull()
           | (F.col("l_shipdate") < F.col("valid_to"))))
    return (pit.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_shipments"),
                 F.round(F.sum("l_extendedprice"), 2).alias("revenue"))
            .orderBy("o_orderpriority"))


ORACLE_PIT_JOIN = """
WITH dim AS (
  SELECT o_custkey, o_orderpriority,
         o_orderdate AS valid_from,
         lead(o_orderdate) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey)
           AS valid_to
  FROM orders
), fact AS (
  SELECT o.o_custkey, l.l_shipdate, l.l_extendedprice
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT d.o_orderpriority, count(*) AS n_shipments,
       round(sum(f.l_extendedprice), 2) AS revenue
FROM fact f JOIN dim d
  ON f.o_custkey = d.o_custkey
 AND f.l_shipdate >= d.valid_from
 AND (d.valid_to IS NULL OR f.l_shipdate < d.valid_to)
GROUP BY d.o_orderpriority ORDER BY d.o_orderpriority
"""
gate(pit_join_revenue, ORACLE_PIT_JOIN)


# =====================================================================
# Customer analytics: RFM segmentation, market-basket association rules
# =====================================================================

def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quintile segmentation: per customer recency (last order
    date), frequency (orders), monetary (spend) → exact quintiles on
    each (custkey tiebreaks make the edges deterministic), rolled up
    to segment cells.

    Scale-safe quintiles (full-plan audit, round 3): the per-customer
    frame GROWS with the data — a no-partition ntile window over it is
    a one-task sort at 100 TB. Each dimension goes through
    operators/partition.exact_ntile (value-range buckets + partitioned
    row_number + the ntile closed form), hash-identical to the oracle's
    window form. Timestamps rank via unix_micros (monotone)."""
    from .operators.partition import exact_ntile

    per_cust = (_t(spark, sf_dir, "orders")
                .groupBy("o_custkey")
                .agg(F.max("o_orderdate").alias("last_order"),
                     F.count(F.lit(1)).alias("freq"),
                     F.sum("o_totalprice").alias("monetary"))
                .withColumn("_rec_day", F.unix_micros(
                    F.col("last_order").cast("timestamp"))))
    # materialize between passes: each exact_ntile pass reads its input
    # several times (bounds agg + tie-cut agg + counts + rank), so
    # chaining three lazily would re-execute subplans multiplicatively
    # (~5^3 leaf scans — measured 5x slower). The checkpointed frame is
    # per-CUSTOMER (orders-of-magnitude smaller than the fact table), so
    # the three materializations are the right trade at any scale.
    per_cust = per_cust.localCheckpoint(eager=True)
    scored = exact_ntile(per_cust, "_rec_day", 5, "o_custkey", "r")
    scored = scored.localCheckpoint(eager=True)
    scored = exact_ntile(scored, "freq", 5, "o_custkey", "f")
    scored = scored.localCheckpoint(eager=True)
    scored = exact_ntile(scored, "monetary", 5, "o_custkey", "m")
    return (scored.groupBy("r", "f", "m")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.round(F.sum("monetary"), 2).alias("segment_value"))
            .filter(F.col("n_customers") >= 5)
            .orderBy("r", "f", "m"))


ORACLE_RFM = """
WITH per_cust AS (
  SELECT o_custkey, max(o_orderdate) AS last_order,
         count(*) AS freq, sum(o_totalprice) AS monetary
  FROM orders GROUP BY o_custkey
), scored AS (
  SELECT o_custkey,
         ntile(5) OVER (ORDER BY last_order, o_custkey) AS r,
         ntile(5) OVER (ORDER BY freq, o_custkey) AS f,
         ntile(5) OVER (ORDER BY monetary, o_custkey) AS m,
         monetary
  FROM per_cust
)
SELECT r, f, m, count(*) AS n_customers,
       round(sum(monetary), 2) AS segment_value
FROM scored GROUP BY r, f, m
HAVING count(*) >= 5
ORDER BY r, f, m
"""
gate(rfm_segmentation, ORACLE_RFM)


def association_rules_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over co-purchased parts
    (operators/graph.cooccurrence_edges supplies the bounded pair
    expansion): support, directional confidences, and lift for pairs in
    ≥ 3 baskets; top 20 by lift. Candidate pairs only ever come from
    shared baskets — the a-priori pruning that keeps rule mining
    linear-ish in basket volume."""
    from .operators.graph import cooccurrence_edges

    li = _t(spark, sf_dir, "lineitem")
    n_baskets = li.select("l_orderkey").distinct().count()
    pairs = cooccurrence_edges(li, "l_orderkey", "l_partkey", min_weight=3)
    item = (li.select("l_orderkey", "l_partkey").distinct()
            .groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c")))
    j = (pairs
         .join(F.broadcast(item.withColumnRenamed("l_partkey", "src")
                           .withColumnRenamed("c", "c_a")), "src")
         .join(F.broadcast(item.withColumnRenamed("l_partkey", "dst")
                           .withColumnRenamed("c", "c_b")), "dst"))
    return (j.select(
        F.col("src").alias("part_a"), F.col("dst").alias("part_b"),
        F.col("weight").alias("n_baskets_both"),
        F.round(F.col("weight") / F.lit(float(n_baskets)), 6).alias("support"),
        F.round(F.col("weight") / F.col("c_a"), 4).alias("conf_a_to_b"),
        F.round(F.col("weight") / F.col("c_b"), 4).alias("conf_b_to_a"),
        F.round(F.lit(float(n_baskets)) * F.col("weight")
                / (F.col("c_a") * F.col("c_b")), 4).alias("lift"))
        .orderBy(F.col("lift").desc(), "part_a", "part_b")
        .limit(20))


ORACLE_ASSOC_RULES = """
WITH po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
nb AS (SELECT count(DISTINCT l_orderkey) AS n FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS w
  FROM po a JOIN po b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 3
), item AS (
  SELECT l_partkey, count(*) AS c FROM po GROUP BY l_partkey
)
SELECT part_a, part_b, w AS n_baskets_both,
       round(w / CAST(nb.n AS DOUBLE), 6) AS support,
       round(w / CAST(ia.c AS DOUBLE), 4) AS conf_a_to_b,
       round(w / CAST(ib.c AS DOUBLE), 4) AS conf_b_to_a,
       round(CAST(nb.n AS DOUBLE) * w / (ia.c * ib.c), 4) AS lift
FROM pairs JOIN item ia ON ia.l_partkey = part_a
           JOIN item ib ON ib.l_partkey = part_b, nb
ORDER BY lift DESC, part_a, part_b LIMIT 20
"""
gate(association_rules_parts, ORACLE_ASSOC_RULES)


# =====================================================================
# Trend extrapolation (closed-form forecast from aggregates)
# =====================================================================

def revenue_trend_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form trend forecast: OLS of daily revenue on day index
    (one regr_* aggregation over the daily series), extrapolated 30/90
    days past the last observed date — forecasting as plain relational
    algebra (the baseline every fancier model must beat). Slope is
    per-day drift; the oracle replays the identical arithmetic."""
    from .sqlapi import sql
    return sql(spark, sf_dir, """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, sum(o_totalprice) AS rev
  FROM orders GROUP BY CAST(o_orderdate AS DATE)
), idx AS (
  SELECT datediff(day, DATE'1992-01-01') AS d, rev FROM daily
), fit AS (
  SELECT regr_slope(rev, d) AS slope, regr_intercept(rev, d) AS icept,
         max(d) AS last_d, count(*) AS n_days
  FROM idx
)
SELECT n_days, round(slope, 4) AS slope_per_day,
       round(icept + slope * (last_d + 30), 2) AS forecast_30d,
       round(icept + slope * (last_d + 90), 2) AS forecast_90d
FROM fit
""")


ORACLE_TREND = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, sum(o_totalprice) AS rev
  FROM orders GROUP BY CAST(o_orderdate AS DATE)
), idx AS (
  SELECT datediff('day', DATE '1992-01-01', day) AS d, rev FROM daily
), fit AS (
  SELECT regr_slope(rev, d) AS slope, regr_intercept(rev, d) AS icept,
         max(d) AS last_d, count(*) AS n_days
  FROM idx
)
SELECT n_days, round(slope, 4) AS slope_per_day,
       round(icept + slope * (last_d + 30), 2) AS forecast_30d,
       round(icept + slope * (last_d + 90), 2) AS forecast_90d
FROM fit
"""
gate(revenue_trend_forecast, ORACLE_TREND)


# =====================================================================
# Inter-event latency distribution
# =====================================================================

def inter_event_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type distribution of the gap between a user's consecutive
    events (lag over the user timeline, exact p50/p90/max of the gap
    seconds): the latency/engagement-cadence profile — one shuffle on
    user_id for the lag, one tiny percentile agg per type."""
    ev = _events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (ev.select("user_id", "event_type", "ts", "event_id")
            .withColumn("prev_ts", F.lag("ts").over(w))
            .filter(F.col("prev_ts").isNotNull())
            .withColumn("gap_s", (F.unix_micros("ts")
                                  - F.unix_micros("prev_ts")) / 1e6))
    return (gaps.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_gaps"),
                 F.round(F.percentile("gap_s", F.lit(0.5)), 2).alias("p50_s"),
                 F.round(F.percentile("gap_s", F.lit(0.9)), 2).alias("p90_s"),
                 F.round(F.max("gap_s"), 2).alias("max_s"))
            .orderBy("event_type"))


ORACLE_INTER_EVENT = """
WITH gaps AS (
  SELECT event_type,
         epoch(CAST(ts AS TIMESTAMP)
               - lag(CAST(ts AS TIMESTAMP))
                 OVER (PARTITION BY user_id
                       ORDER BY CAST(ts AS TIMESTAMP), event_id)) AS gap_s
  FROM events
)
SELECT event_type, count(*) AS n_gaps,
       round(quantile_cont(gap_s, 0.5), 2) AS p50_s,
       round(quantile_cont(gap_s, 0.9), 2) AS p90_s,
       round(max(gap_s), 2) AS max_s
FROM gaps WHERE gap_s IS NOT NULL
GROUP BY event_type ORDER BY event_type
"""
gate(inter_event_latency, ORACLE_INTER_EVENT)


# =====================================================================
# URL / line dedup (operators/text)
# =====================================================================

def url_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup (operators/text.canonicalize_url): the first
    dedup pass of a web-crawl curation pipeline. The corpus has no URL
    column, so URLs are SYNTHESIZED deterministically per doc (mixed-
    case authority, default :443 port, trailing slash, utm_*/ref
    tracking params, #fragment — each keyed off doc_id residues, so
    both engines build byte-identical inputs, the pii_redaction
    pattern). Canonicalization collapses the textual variants; the
    report gates per-source doc/canonical counts AND an md5-xor
    checksum over the DISTINCT canonical strings — the exact canonical
    forms are checked, not just their count.

    Scale: synthesis + canonicalization are map-only expressions; one
    partial-agg shuffle on source."""
    from .operators.text import canonicalize_url

    d = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    url = F.concat(
        F.lit("HTTPS://WWW."), F.upper(F.col("source")),
        F.lit(".Example.COM"),
        F.when(k % 3 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/Items/"), (k % 40).cast("string"),
        F.when(k % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=feed&id="), (k % 20).cast("string"),
        F.when(k % 5 == 0, F.lit("&ref=abc&b=2")).otherwise(F.lit("&b=2")),
        F.when(k % 7 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    canon = canonicalize_url(url)
    return (
        d.select("source", canon.alias("canon"), md5_long(canon).alias("_h"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct(F.col("canon")).alias("n_canonical"),
            (F.count(F.lit(1))
             - F.count_distinct(F.col("canon"))).alias("n_dupes"),
            F.expr("bit_xor(DISTINCT _h)").alias("canon_checksum"),
        )
        .orderBy("source")
    )


ORACLE_URL_DEDUP = """
WITH u AS (
  SELECT doc_id, source,
         'HTTPS://WWW.' || upper(source) || '.Example.COM'
         || CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END
         || '/Items/' || CAST(doc_id % 40 AS VARCHAR)
         || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
         || '?utm_source=feed&id=' || CAST(doc_id % 20 AS VARCHAR)
         || CASE WHEN doc_id % 5 = 0 THEN '&ref=abc&b=2' ELSE '&b=2' END
         || CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END AS url
  FROM documents
), parts AS (
  -- mirrors operators/text.canonicalize_url step for step
  SELECT doc_id, source,
         regexp_replace(url, '#.*$', '') AS nofrag
  FROM u
), split1 AS (
  SELECT doc_id, source, nofrag,
         regexp_extract(nofrag, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)', 1)
           AS head
  FROM parts
), split2 AS (
  SELECT doc_id, source,
         CASE WHEN starts_with(lower(head), 'https://')
              THEN regexp_replace(lower(head), ':443$', '')
              WHEN starts_with(lower(head), 'http://')
              THEN regexp_replace(lower(head), ':80$', '')
              ELSE lower(head) END AS h,
         substring(nofrag, length(head) + 1) AS rest
  FROM split1
), split3 AS (
  SELECT doc_id, source, h,
         regexp_extract(rest, '^([^?]*)', 1) AS path,
         CASE WHEN length(rest) > length(regexp_extract(rest, '^([^?]*)', 1))
              THEN substring(rest,
                             length(regexp_extract(rest, '^([^?]*)', 1)) + 2)
              ELSE '' END AS query
  FROM split2
), canon AS (
  SELECT doc_id, source,
         h
         || regexp_replace(path, '/$', '')
         || CASE WHEN array_to_string(list_sort(list_filter(
                    string_split(query, '&'),
                    p -> NOT (regexp_matches(p, '^(utm_[^=]*|ref|fbclid|gclid)=')
                              OR p = ''))), '&') <> ''
                 THEN '?' || array_to_string(list_sort(list_filter(
                        string_split(query, '&'),
                        p -> NOT (regexp_matches(p, '^(utm_[^=]*|ref|fbclid|gclid)=')
                                  OR p = ''))), '&')
                 ELSE '' END AS c
  FROM split3
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT c) AS BIGINT) AS n_canonical,
       CAST(count(*) - count(DISTINCT c) AS BIGINT) AS n_dupes,
       bit_xor(DISTINCT CAST(('0x' || substring(md5(c), 1, 15)) AS BIGINT))
         AS canon_checksum
FROM canon GROUP BY source ORDER BY source
"""
gate(url_dedup_report, ORACLE_URL_DEDUP)


def corpus_line_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide line dedup (operators/text.dedup_lines_corpus — the
    C4 rule: a line occurring verbatim anywhere else in the corpus
    survives only at its first occurrence). The single-line corpus is
    expanded to 3 lines per doc: full text, first-8-words (duplicated
    wherever prefixes collide), and a constant boilerplate footer that
    appears in EVERY doc — so exactly one footer survives corpus-wide.
    Gates per-source line counts and an md5-xor checksum over the
    reassembled deduped texts (exact content, not just counts).
    min_line_len=1 (the default): blank lines are exempt from dedup and
    every input doc appears in the output even if fully deduplicated
    (VERDICT r4 #5 + ADVICE r4, both mirrored in the oracle).

    Scale: one fingerprint shuffle + one doc reassembly shuffle, both
    map-side combinable; the oracle replays first-occurrence with a
    window (single-node DuckDB can afford it — the Spark side must
    not)."""
    from .operators.text import dedup_lines_corpus

    d = _t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    multiline = F.concat_ws(
        "\n",
        F.col("text"),
        F.concat_ws(" ", F.slice(words, 1, 8)),
        F.lit("shared boilerplate footer"),
    )
    out = dedup_lines_corpus(d.withColumn("text", multiline))
    j = out.join(d.select("doc_id", "source"), "doc_id")
    h = md5_long(F.concat_ws("\x1f", F.col("doc_id").cast("string"),
                             F.col("text_dedup")))
    return (j.withColumn("_h", h)
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("lines_in").cast("long").alias("lines_in"),
                 F.sum("lines_kept").cast("long").alias("lines_kept"),
                 F.expr("bit_xor(_h)").alias("dedup_checksum"))
            .orderBy("source"))


ORACLE_LINE_DEDUP = """
WITH ml AS (
  SELECT doc_id, source,
         text || chr(10)
              || array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ')
              || chr(10) || 'shared boilerplate footer' AS txt
  FROM documents
), lines AS (
  SELECT doc_id, source,
         generate_subscripts(string_split(txt, chr(10)), 1) AS pos,
         unnest(string_split(txt, chr(10))) AS line
  FROM ml
), ranked AS (
  -- min_line_len=1: blank (whitespace-only) lines are exempt from
  -- dedup and kept in place — mirrors dedup_lines_corpus
  SELECT *, row_number() OVER (PARTITION BY md5(line)
                               ORDER BY doc_id, pos) AS rn
  FROM lines WHERE length(trim(line)) >= 1
), kept AS (
  SELECT doc_id, source, pos, line FROM ranked WHERE rn = 1
  UNION ALL
  SELECT doc_id, source, pos, line FROM lines
  WHERE length(trim(line)) < 1
), re AS (
  SELECT doc_id, count(*) AS lines_kept,
         string_agg(line, chr(10) ORDER BY pos) AS text_dedup
  FROM kept GROUP BY doc_id
), li AS (
  SELECT doc_id, source, count(*) AS lines_in
  FROM lines GROUP BY doc_id, source
)
SELECT li.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(li.lines_in) AS BIGINT) AS lines_in,
       CAST(sum(coalesce(re.lines_kept, 0)) AS BIGINT) AS lines_kept,
       bit_xor(CAST(('0x' || substring(md5(
         CAST(li.doc_id AS VARCHAR) || chr(31) || coalesce(re.text_dedup, '')),
         1, 15)) AS BIGINT)) AS dedup_checksum
FROM li LEFT JOIN re USING (doc_id)
GROUP BY li.source ORDER BY li.source
"""
gate(corpus_line_dedup_report, ORACLE_LINE_DEDUP)
