"""Similarity gates over the embeddings and documents tables:
brute-force and IVF top-k, ANN recall, cosine near pairs, embedding
statistics, KNN vote, k-means, vector arithmetic, fuzzy string pairs
and BM25 retrieval.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from . import gate
from ._common import _spread, _t
from ..operators.similarity import (
    brute_force_topk, cosine, cosine_near_pairs, ivf_assign, ivf_topk,
    kmeans_train,
)


def ivf_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style coarse quantization (operators/similarity.ivf_assign):
    assign every vector to its nearest of 8 seed centroids (vectors
    0..7), count + mean cosine per cell. The cell index is the IVF
    partition map an ANN search probes. Deterministic: rank on rounded
    cosine with centroid-id tiebreak."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8)
    assigned = ivf_assign(emb, cents)
    return (
        assigned.groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.avg("centroid_cos"), 4).alias("avg_cos"))
        .orderBy("centroid_id")
    )


ORACLE_IVF = """
WITH c AS (
  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings WHERE vec_id < 8
), scored AS (
  SELECT e.vec_id, c.c_id,
         round(list_dot_product(e.embedding, c.c_emb) /
               (sqrt(list_dot_product(e.embedding, e.embedding)) *
                sqrt(list_dot_product(c.c_emb, c.c_emb))), 4) AS cos
  FROM embeddings e, c
), best AS (
  SELECT vec_id, c_id AS centroid_id, cos AS centroid_cos,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, c_id ASC) AS rn
  FROM scored
)
SELECT centroid_id, count(*) AS n, round(avg(centroid_cos), 4) AS avg_cos
FROM best WHERE rn = 1
GROUP BY centroid_id ORDER BY centroid_id
"""
gate(ivf_centroid_assign, ORACLE_IVF)


def embedding_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (operators/similarity.
    cosine_near_pairs) on a bounded id range; exact all-pairs is the
    correctness baseline — the sign-LSH blocked variant is the scale path
    (operators/similarity.lsh_topk banding)."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    return cosine_near_pairs(emb, threshold=0.35)


ORACLE_EMB_PAIRS = """
WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.embedding, b.embedding) /
             (sqrt(list_dot_product(a.embedding, a.embedding)) *
              sqrt(list_dot_product(b.embedding, b.embedding))), 4) AS cosine
FROM e a, e b
WHERE a.vec_id < b.vec_id
  AND round(list_dot_product(a.embedding, b.embedding) /
            (sqrt(list_dot_product(a.embedding, a.embedding)) *
             sqrt(list_dot_product(b.embedding, b.embedding))), 4) >= 0.35
"""
gate(embedding_near_pairs, ORACLE_EMB_PAIRS)


def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for query vectors (vec_id < 10).
    The query side is tiny -> broadcast; the corpus scan is one pass
    (this is the exact-baseline ANN; the LSH-bucketed scale path lives in
    operators/similarity.py). Rank on ROUNDED cosine with vec_id tiebreak
    so both engines order identically."""
    # imported per call: a test swaps this operator on its module
    from ..operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


ORACLE_COSINE = """
WITH q AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10
), scored AS (
  SELECT q_id, e.vec_id AS c_id,
         round(list_dot_product(q_emb, e.embedding) /
               (sqrt(list_dot_product(q_emb, q_emb)) *
                sqrt(list_dot_product(e.embedding, e.embedding))), 4) AS cosine
  FROM q, embeddings e WHERE e.vec_id <> q_id
)
SELECT q_id, c_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY cosine DESC, c_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""
gate(cosine_topk, ORACLE_COSINE)


def ivf_topk_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF ANN search through the gate (operators/similarity.py
    ivf_topk): corpus coarse-quantized to 8 cells, queries probe their 2
    nearest cells, exact cosine rerank inside the probed cells only.
    DuckDB replays the identical index build + probe + rerank, so the
    oracle checks the whole approximate pipeline bit-for-bit (rounded
    cosines + id tiebreaks keep both engines' rankings identical).
    Scale: work is n_q × (corpus / n_cells) × n_probe, vs n_q × corpus
    for the brute-force twin (cosine_topk)."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8)
    qs = emb.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 13))
    return ivf_topk(emb, qs, cents, k=5, n_probe=2)


_COS = ("round(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * "
        "sqrt(list_dot_product({b}, {b}))), 4)")

ORACLE_IVF_TOPK = f"""
WITH cent AS (
  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings WHERE vec_id < 8
), assign AS (
  SELECT vec_id, embedding, c_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, c_id ASC) AS rn
  FROM (SELECT e.vec_id, e.embedding, cent.c_id,
               {_COS.format(a='e.embedding', b='cent.c_emb')} AS cos
        FROM embeddings e, cent)
), cor AS (
  SELECT vec_id AS cand_id, embedding AS cand_emb, c_id AS centroid_id
  FROM assign WHERE rn = 1
), q AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
  WHERE vec_id >= 8 AND vec_id < 13
), probes AS (
  SELECT q_id, q_emb, c_id AS centroid_id FROM (
    SELECT q.q_id, q.q_emb, cent.c_id,
           row_number() OVER (PARTITION BY q.q_id
                              ORDER BY {_COS.format(a='q.q_emb', b='cent.c_emb')} DESC,
                                       cent.c_id ASC) AS rn
    FROM q, cent)
  WHERE rn <= 2
), scored AS (
  SELECT q_id, cand_id AS c_id,
         {_COS.format(a='q_emb', b='cand_emb')} AS cosine
  FROM probes JOIN cor USING (centroid_id)
  WHERE cand_id <> q_id
)
SELECT q_id, c_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY cosine DESC, c_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""
gate(ivf_topk_search, ORACLE_IVF_TOPK)


def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-column plumbing check: norms (operators/similarity.py
    norm) and dimension stats per label — array<float> handled natively
    by Spark higher-order functions."""
    # imported per call: a test swaps this operator on its module
    from ..operators.similarity import norm

    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(norm(F.col("embedding"))), 4).alias("avg_norm"),
            F.min(F.size("embedding")).alias("dim"),
        )
        .orderBy("label")
    )


ORACLE_EMB_STATS = """
SELECT label, count(*) AS n,
       round(avg(sqrt(list_dot_product(embedding, embedding))), 4) AS avg_norm,
       min(len(embedding)) AS dim
FROM embeddings GROUP BY label ORDER BY label
"""
gate(embedding_stats, ORACLE_EMB_STATS)


def fuzzy_part_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance) matching with blocking — the
    entity-resolution primitive: count part PAIRS whose names are within
    levenshtein ≤ 2, compared only WITHIN blocks sharing the same last
    word (noun).

    Scale design: the quadratic compare runs on the DISTINCT-NAME
    dictionary (vocabulary-sized — 64 names here, maybe 10^5 at 100 TB),
    never the row stream; row-level pair counts come back via
    multiplicities (a·b for cross-name, C(a,2) within a name). A
    row-level self-join at 20k rows already cost 21s — the dictionary
    form is O(vocab²/blocks) regardless of table size."""
    part = _t(spark, sf_dir, "part")
    names = (
        part.groupBy(
            F.element_at(F.split(F.col("p_name"), " "), -1).alias("block"),
            F.col("p_name").alias("name"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"), F.min("p_partkey").alias("min_key"))
    )
    a, b = names.alias("a"), names.alias("b")
    pairs = (
        a.join(b, "block")
        .filter(F.col("a.name") <= F.col("b.name"))
        .filter(F.levenshtein(F.col("a.name"), F.col("b.name")) <= 2)
        .select(
            "block",
            F.when(
                F.col("a.name") == F.col("b.name"),
                F.col("a.cnt") * (F.col("a.cnt") - 1) / 2,
            ).otherwise(F.col("a.cnt") * F.col("b.cnt")).cast("long").alias("n_pairs"),
            F.least("a.min_key", "b.min_key").alias("min_key"),
        )
    )
    return (
        pairs.groupBy("block")
        .agg(F.sum("n_pairs").alias("n_pairs"), F.min("min_key").alias("min_key"))
        .orderBy("block")
    )


ORACLE_FUZZY = """
-- BIGINT-cast wrapper: DuckDB widens integer sums to HUGEINT, which the
-- driver's Arrow fetch path renders differently than Spark's long (VERDICT r3 #1).
SELECT "block",
       CAST("n_pairs" AS BIGINT) AS "n_pairs",
       "min_key"
FROM (
WITH names AS (
  SELECT regexp_split_to_array(p_name, ' ')[-1] AS block, p_name AS name,
         count(*) AS cnt, min(p_partkey) AS min_key
  FROM part GROUP BY 1, 2
), pairs AS (
  SELECT a.block,
         CAST(CASE WHEN a.name = b.name THEN a.cnt * (a.cnt - 1) / 2
              ELSE a.cnt * b.cnt END AS BIGINT) AS n_pairs,
         least(a.min_key, b.min_key) AS min_key
  FROM names a JOIN names b ON a.block = b.block
  WHERE a.name <= b.name AND levenshtein(a.name, b.name) <= 2
)
SELECT block, sum(n_pairs) AS n_pairs, min(min_key) AS min_key
FROM pairs GROUP BY block ORDER BY block
) _bigint_cast
"""
gate(fuzzy_part_name_pairs, ORACLE_FUZZY)


def vector_arithmetic_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array-function breadth over embeddings: per-vector
    L2 norm (transform+aggregate fold), reverse-self dot product
    (zip_with), mean dimension value — rolled up per label. Everything
    stays a JVM columnar expression (no UDF, no shuffle before the tiny
    per-label agg); both engines fold arrays left-to-right so the
    float math agrees to well past the rounded digits."""
    emb = _t(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    rdot = F.aggregate(
        F.zip_with(v, F.reverse(v), lambda a, b: a * b),
        F.lit(0.0), lambda a, x: a + x)
    meandim = F.aggregate(v, F.lit(0.0), lambda a, x: a + x) / F.size("embedding")
    d = emb.select(
        "label", norm.alias("norm"), rdot.alias("rdot"), meandim.alias("meandim"))
    return (
        d.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("norm"), 4).alias("avg_norm"),
            F.round(F.avg("rdot"), 4).alias("avg_reverse_dot"),
            F.round(F.avg("meandim"), 4).alias("avg_mean_dim"),
        )
        .orderBy("label")
    )


ORACLE_VECTOR_SUITE = """
WITH d AS (
  SELECT label,
         sqrt(list_reduce(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
              (a, b) -> a + b)) AS norm,
         list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
              list_reverse(list_transform(embedding, x -> CAST(x AS DOUBLE))))
              AS rdot,
         list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE)),
              (a, b) -> a + b) / len(embedding) AS meandim
  FROM embeddings
)
SELECT label, count(*) AS n,
       round(avg(norm), 4) AS avg_norm,
       round(avg(rdot), 4) AS avg_reverse_dot,
       round(avg(meandim), 4) AS avg_mean_dim
FROM d GROUP BY label ORDER BY label
"""
gate(vector_arithmetic_suite, ORACLE_VECTOR_SUITE)


def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@5 of the IVF index (8 cells,
    n_probe=2) against the exact brute-force top-5, per query — the
    measurement that justifies an approximate index before pointing it
    at a corpus. Composes the two existing operators; the oracle replays
    BOTH pipelines in SQL and joins them, so even the evaluation is
    hash-checked.

    Scale: exact side is n_q×corpus (the evaluation cost, run on a
    sample); IVF side is n_q×corpus×(n_probe/n_cells). Recall < 1 is
    expected and part of the oracle-pinned answer."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 13))
    cents = emb.filter(F.col("vec_id") < 8)
    exact = brute_force_topk(emb, qs, k=5).select("q_id", "c_id")
    approx = ivf_topk(emb, qs, cents, k=5, n_probe=2).select("q_id", "c_id")
    hits = approx.join(exact, ["q_id", "c_id"])
    per_q = hits.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        qs.select(F.col("vec_id").alias("q_id"))
        .join(per_q, "q_id", "left")
        .select(
            "q_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.round(F.coalesce("n_hits", F.lit(0)) / 5.0, 2).alias("recall_at_5"),
        )
        .orderBy("q_id")
    )


ORACLE_ANN_RECALL = f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
  WHERE vec_id >= 8 AND vec_id < 13
), exact AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
             ORDER BY cosine DESC, c_id ASC) AS rank
    FROM (SELECT q.q_id, e.vec_id AS c_id,
                 {_COS.format(a='q.q_emb', b='e.embedding')} AS cosine
          FROM q, embeddings e WHERE e.vec_id <> q.q_id)
  ) WHERE rank <= 5
), cent AS (
  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings WHERE vec_id < 8
), assign AS (
  SELECT vec_id, embedding, c_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, c_id ASC) AS rn
  FROM (SELECT e.vec_id, e.embedding, cent.c_id,
               {_COS.format(a='e.embedding', b='cent.c_emb')} AS cos
        FROM embeddings e, cent)
), cor AS (
  SELECT vec_id AS cand_id, embedding AS cand_emb, c_id AS centroid_id
  FROM assign WHERE rn = 1
), probes AS (
  SELECT q_id, q_emb, c_id AS centroid_id FROM (
    SELECT q.q_id, q.q_emb, cent.c_id,
           row_number() OVER (PARTITION BY q.q_id
                              ORDER BY {_COS.format(a='q.q_emb', b='cent.c_emb')} DESC,
                                       cent.c_id ASC) AS rn
    FROM q, cent)
  WHERE rn <= 2
), approx AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
             ORDER BY cosine DESC, c_id ASC) AS rank
    FROM (SELECT q_id, cand_id AS c_id,
                 {_COS.format(a='q_emb', b='cand_emb')} AS cosine
          FROM probes JOIN cor USING (centroid_id)
          WHERE cand_id <> q_id)
  ) WHERE rank <= 5
), hits AS (
  SELECT a.q_id, count(*) AS n_hits
  FROM approx a JOIN exact x ON a.q_id = x.q_id AND a.c_id = x.c_id
  GROUP BY a.q_id
)
SELECT q.q_id, coalesce(h.n_hits, 0) AS n_hits,
       round(coalesce(h.n_hits, 0) / 5.0, 2) AS recall_at_5
FROM q LEFT JOIN hits h USING (q_id)
ORDER BY q.q_id
"""
gate(ann_recall_report, ORACLE_ANN_RECALL)


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


_COS2 = ("round(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * "
         "sqrt(list_dot_product({b}, {b}))), 4)")


def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KNN classification over the embedding corpus: each query vector
    (vec_id < 50) takes the majority label of its 5 nearest corpus
    neighbors (cosine, id tiebreaks); per-label accuracy against the
    true label. The model-based-filtering primitive of a curation
    pipeline (label = quality bucket), built from one broadcast
    crossJoin + two windows — no Python in the hot path."""
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
    # imported per call: a test swaps this operator on its module
    from ..operators.similarity import ivf_assign

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


def kmeans_train_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-iteration Lloyd training end-to-end: ``kmeans_train``
    (k=4, iters=2, init = 4 lowest-id vectors) over the embeddings
    table; the oracle UNROLLS both iterations in SQL (unit-normalize →
    rounded-dot argmax with low-id tiebreak → per-dim rounded means)
    — so the full train loop, not just one step (kmeans_lloyd_step),
    is value-checked: final sizes, each centroid's first coordinate
    and L2 norm. Per iteration: one JVM assignment scan (centroid
    literals compiled into the plan) + one (c_id, dim) agg shuffle."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents, _assigned = kmeans_train(emb, k=4, iters=2)
    return cents.select(
        F.col("c_id").cast("int").alias("c_id"),
        "n_members",
        F.round(F.element_at("c_emb", 1), 4).alias("dim0_r4"),
        F.round(F.sqrt(F.aggregate(
            F.transform("c_emb", lambda x: x * x),
            F.lit(0.0), lambda a, v: a + v)), 4).alias("norm_r4"))


# one Lloyd iteration in SQL: {p} = previous-centroid CTE (c_id, c),
# {a}/{m}/{c} = names for the assignment / means / new-centroid CTEs
_KM_ITER = """
u{n} AS (
  SELECT c_id, list_transform(c, x -> x / sqrt(list_dot_product(c, c)))
           AS u
  FROM {p}
), a{n} AS (
  SELECT vec_id, v, c_id FROM (
    SELECT e.vec_id, e.v, u{n}.c_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_dot_product(e.v, u{n}.u), 4) DESC,
                      u{n}.c_id ASC) AS rn
    FROM emb e, u{n}) WHERE rn = 1
), m{n} AS (
  SELECT c_id, d, round(avg(x), 6) AS nx
  FROM (SELECT c_id, generate_subscripts(v, 1) AS d, unnest(v) AS x
        FROM a{n})
  GROUP BY c_id, d
), c{n} AS (
  -- empty cluster keeps its centroid; count() guards the LEFT JOIN's
  -- all-NULL group (list() of it would be [NULL], not NULL)
  SELECT p.c_id,
         CASE WHEN count(m{n}.nx) = 0 THEN p.c
              ELSE list(m{n}.nx ORDER BY m{n}.d) END AS c
  FROM {p} p LEFT JOIN m{n} USING (c_id)
  GROUP BY p.c_id, p.c
)"""

ORACLE_KMEANS_TRAIN = ("""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), c0 AS (
  SELECT CAST(vec_id AS INT) AS c_id, v AS c FROM emb WHERE vec_id < 4
), """
+ _KM_ITER.format(n=1, p="c0") + ", "
+ _KM_ITER.format(n=2, p="c1") + """,
sizes AS (
  SELECT c_id, count(*) AS n_members FROM a2 GROUP BY c_id
)
SELECT c2.c_id,
       CAST(coalesce(sizes.n_members, 0) AS BIGINT) AS n_members,
       round(c2.c[1], 4) AS dim0_r4,
       round(sqrt(list_dot_product(c2.c, c2.c)), 4) AS norm_r4
FROM c2 LEFT JOIN sizes USING (c_id)
""")
gate(kmeans_train_report, ORACLE_KMEANS_TRAIN)
