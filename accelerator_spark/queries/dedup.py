"""Deduplication gates (operators/dedup.py): exact and fingerprint dedup,
n-gram / MinHash / SimHash near-duplicate pairs, connected components,
decontamination, URL / line / exact-substring dedup, semantic dedup,
and the one-call, incremental and keep-policy near-dedup operators.

The near-dedup oracles follow the brute-force discipline: fingerprints
are replayed bit-exactly in SQL (_common._simhash_oracle), candidate
pairs are brute-forced over ALL fingerprints (so the banded blocking is
recall-checked against ground truth), components come from a recursive
CTE, and survivor selection / first-batch-wins ordering is replayed in
plain SQL: value-checked end to end, never row-counted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from . import gate
from ._common import _incr_oracle, _simhash_oracle, _spread, _t
from ..operators import md5_long
from ..operators.dedup import (
    connected_components, dedup_incremental, duplicate_ngram_fraction,
    exact_substring_spans, minhash_lsh_candidates, near_dedup,
    near_dedup_incremental, simhash, simhash_near_pairs, text_near_dedup,
    text_near_dedup_incremental,
)
from ..operators.partition import _md5_bucket
from ..operators.similarity import cosine, ivf_assign, semantic_dedup
from ..operators.text import (
    canonicalize_url, dedup_lines_corpus, rolling_fingerprint,
)


# =====================================================================
# Exact, fingerprint and pairwise near-duplicate detection
# =====================================================================

def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (operators/dedup.py fingerprint): md5 of
    normalized text (lowercase, whitespace-collapsed) — the exact-dedup
    key."""
    # imported per call: a test swaps this operator on its module
    from ..operators.dedup import fingerprint

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fingerprint"))


ORACLE_FP = """
SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
FROM documents
"""
gate(doc_fingerprints, ORACLE_FP)


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (operators/dedup.py exact_dedup): group by normalized-
    text fingerprint, keep min doc_id (deterministic winner), report
    group size; NULL texts are excluded. At 100 TB this is one
    hash-shuffle on the fingerprint — the standard exact-dedup plan."""
    # imported per call: a test swaps this operator on its module
    from ..operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return exact_dedup(docs).select("keep_doc_id", "n_copies")


ORACLE_DEDUP_EXACT = """
SELECT min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM (SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
      FROM documents WHERE text IS NOT NULL)
GROUP BY fp
"""
gate(dedup_exact, ORACLE_DEDUP_EXACT)


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs by word-3-gram Jaccard >= 0.35, via the
    inverted index (explode shingles -> group docs per shingle -> expand
    pairs -> count intersections -> Jaccard). This is the scale-correct
    shape: no all-pairs cross join; only docs sharing a shingle meet.
    Skew guard: drop shingles appearing in >1% of docs AND cap shingle
    groups at 64 docs — pair expansion is quadratic in group size, so
    without the absolute cap a duplicate-heavy corpus (every doc copied
    8x) blows up 60x (measured at 4.8M-row scale test). Run exact dedup
    first on dup-heavy corpora; the cap is the backstop.

    The document-frequency prefilter is a window count over the exploded
    stream (count(*) OVER (PARTITION BY g)), NOT a separate count-agg +
    semi-join: one tokenize scan and one shuffle instead of two of each —
    measured 2.6s -> 2.0s warm / 6.5s -> 3.0s cold at sf0.1, identical
    rows. At 100 TB the rare-shingle vocabulary outgrows any broadcast,
    so the join formulation degrades to a sort-merge join that shuffles
    + sorts the SAME full shingle stream WindowExec does — the window
    shape is never worse, and hot-shingle partitions spill rather than
    OOM in both. The follow-up collect_list groupBy reuses the window's
    hashpartitioning(g): no extra exchange (verified in the plan).

    Partitioning note: compact text expands ~50x at the shingle explode —
    repartition BEFORE the explode so the expansion uses every core (a
    1-file parquet input otherwise runs the whole explode on 1 task)."""
    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()  # parquet-stats count, no shingle work
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    # shifted-array zip, not per-index slice: 3 array copies per doc
    # instead of n 3-element slices — measured 2x faster at sf0.1
    _n = F.size(toks)
    _z = F.arrays_zip(
        F.slice(toks, 1, F.greatest(_n - 2, F.lit(0))).alias("a"),
        F.slice(toks, 2, F.greatest(_n - 2, F.lit(0))).alias("b"),
        F.slice(toks, 3, F.greatest(_n - 2, F.lit(0))).alias("c"),
    )
    grams = F.array_distinct(
        F.transform(_z, lambda s: F.concat_ws(" ", s["a"], s["b"], s["c"]))
    )
    # Deliberately NOT persisted: measured at sf0.1, caching the gram
    # arrays saved ~2s here but the lingering executor-memory pressure
    # cost ~9s on the next query even after unpersist — recomputing one
    # extra tokenizer pass is the cheaper, interference-free choice, and
    # at 100 TB a cache of the whole corpus would thrash anyway.
    base = docs.select("doc_id", grams.alias("gs"))
    sh = base.select(
        "doc_id", F.size("gs").alias("sz"), F.explode("gs").alias("g")
    )
    cap = min(int(n_docs * 0.01), 64)
    # filter by document frequency BEFORE collect_list, via a window
    # count in the SAME shuffle that groups the docs: heavy groups are
    # discarded before their doc lists materialize (the collect only
    # sees groups of 2..cap docs — without the prefilter, 102s -> ~20s
    # at the 4.8M-row scale test), and the tokenize+explode runs once.
    # each doc's set size rides along through the explode -> collect ->
    # pair expansion, so no size-lookup joins are needed afterwards.
    dfreq = F.count(F.lit(1)).over(W.partitionBy("g"))
    byg = (
        sh.withColumn("df", dfreq)
        .filter((F.col("df") > 1) & (F.col("df") <= cap))
        .groupBy("g")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "sz"))).alias("ids"))
    )
    pairs = byg.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) ->"
                " transform(slice(ids, i + 2, size(ids)),"
                " y -> struct(x.doc_id AS doc_a, x.sz AS sz_a,"
                "             y.doc_id AS doc_b, y.sz AS sz_b))))"
            )
        ).alias("p")
    ).select("p.doc_a", "p.sz_a", "p.doc_b", "p.sz_b")
    # sz_a/sz_b are functionally determined by doc_a/doc_b, so folding
    # them into the grouping key is free (no extra distinct values)
    common = pairs.groupBy("doc_a", "sz_a", "doc_b", "sz_b").agg(
        F.count(F.lit(1)).alias("common")
    )
    return (
        common
        .withColumn("jaccard", F.round(F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")), 4))
        .filter(F.col("jaccard") >= 0.35)
        .select("doc_a", "doc_b", "jaccard")
    )


ORACLE_JACCARD = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
), grams AS (
  SELECT DISTINCT doc_id, unnest(list_transform(
           generate_series(1, len(t) - 2),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
  FROM toks
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id
), freq AS (
  SELECT g FROM grams GROUP BY g
  HAVING count(*) <= least(CAST(floor((SELECT count(*) FROM documents) * 0.01)
                                AS BIGINT), 64)
), kept AS (
  SELECT grams.doc_id, grams.g FROM grams JOIN freq USING (g)
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(common / CAST(sa.sz + sb.sz - common AS DOUBLE), 4) AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE common / CAST(sa.sz + sb.sz - common AS DOUBLE) >= 0.35
"""
gate(ngram_jaccard_pairs, ORACLE_JACCARD)


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates (operators/dedup.py) — the banded
    LSH pipeline end-to-end: shingle -> 8 md5-derived minhashes -> 4
    bands -> bucket-join -> distinct pairs. The md5 hash family makes
    every signature reproducible in the DuckDB oracle, so the gate checks
    the whole LSH pipeline, not a rows-only count."""
    docs = _t(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return minhash_lsh_candidates(docs, num_hashes=8, bands=4, bucket_cap=50)


def _minhash_oracle() -> str:
    # two md5 digests per shingle, four disjoint 32-bit hex windows each
    # (mirrors operators/dedup._md5_window)
    hcols = ",\n         ".join(
        f"min(CAST(('0x'||substring(md5(g||':{i // 4}'),{8 * (i % 4) + 1},8)) AS BIGINT)) AS h{i}"
        for i in range(8)
    )
    bands = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, CAST(h{2*b} AS VARCHAR)||'_'||CAST(h{2*b+1} AS VARCHAR) AS key FROM sig"
        for b in range(4)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
), grams AS (
  SELECT DISTINCT doc_id, unnest(list_transform(
      generate_series(1, greatest(len(t) - 2, 1)),
      i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS g
  FROM toks
), sig AS (
  SELECT doc_id,
         {hcols}
  FROM grams GROUP BY doc_id
), bands AS (
{bands}
), buckets AS (
  SELECT band, key, list_sort(list(doc_id)) AS ids
  FROM bands GROUP BY band, key
  HAVING count(*) BETWEEN 2 AND 50
)
SELECT DISTINCT p.doc_a AS doc_a, p.doc_b AS doc_b FROM (
  SELECT unnest(flatten(list_transform(generate_series(1, len(ids)),
         i -> list_transform(generate_series(i+1, len(ids)),
         j -> struct_pack(doc_a := ids[i], doc_b := ids[j]))))) AS p
  FROM buckets)
"""


ORACLE_MINHASH = _minhash_oracle()
gate(minhash_lsh_pairs, ORACLE_MINHASH)


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document (operators/dedup.simhash): md5-derived
    token hashes -> per-bit votes -> sign bits. Fully reproduced by the
    oracle's generated 16-bit CASE expressions."""
    docs = _t(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return simhash(docs, bits=16)


ORACLE_SIMHASH = _simhash_oracle()
gate(simhash_fingerprints, ORACLE_SIMHASH)


def simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS through the banded blocking path
    (operators/dedup.simhash_near_pairs, max_hamming=2 -> 3 bands).
    The ORACLE computes the same answer by brute-force ALL-PAIRS over
    the replayed fingerprints — so a hash match proves the pigeonhole
    blocking has 100% recall, not just that the hamming filter agrees
    (the round-3 fix this query gates: 2-half blocking silently missed
    pairs whose differing bits straddled the halves)."""
    docs = _t(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return (simhash_near_pairs(docs, max_hamming=2)
            .select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))
            .orderBy("doc_a", "doc_b"))


ORACLE_SIMHASH_PAIRS = f"""
WITH sh AS ({_simhash_oracle()})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
ORDER BY doc_a, doc_b
"""
gate(simhash_near_dup_pairs, ORACLE_SIMHASH_PAIRS)


def simhash_near_dup_pairs64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-SAFE simhash configuration gated against the same
    brute-force all-pairs oracle (VERDICT r3 weak #3): bits=64 (2^64
    fingerprint space, so band blocks stay sparse at web scale — the
    16-bit gate's 65k space goes quadratic at 100x data) plus a
    bucket_cap skew guard. max_hamming=3 -> 4 bands of 16 bits; the
    pigeonhole recall proof is unchanged. The cap never fires at gate
    scale (blocks are tiny), so the hash must equal brute force."""
    docs = _t(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return (simhash_near_pairs(docs, bits=64, max_hamming=3,
                               bucket_cap=5000)
            .select("doc_a", "doc_b",
                    F.col("hamming").cast("int").alias("hamming"))
            .orderBy("doc_a", "doc_b"))


ORACLE_SIMHASH_PAIRS64 = f"""
WITH sh AS ({_simhash_oracle(64)})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY doc_a, doc_b
"""
gate(simhash_near_dup_pairs64, ORACLE_SIMHASH_PAIRS64)


def rolling_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style rolling fingerprint (operators/text.
    rolling_fingerprint, window=8), md5-derived so the oracle reproduces
    it exactly."""
    docs = _t(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return docs.select("doc_id", rolling_fingerprint(F.col("text"), 8).alias("fp"))


ORACLE_ROLLING_FP = """
WITH toks AS (
  SELECT doc_id,
         regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
  FROM documents
), wins AS (
  SELECT doc_id, list_transform(
           generate_series(1, greatest(len(t) - 7, 1)),
           i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3],
                          t[i+4], t[i+5], t[i+6], t[i+7])) AS ws
  FROM toks
)
SELECT doc_id,
       list_min(list_transform(ws,
         w -> CAST(('0x' || substring(md5(w), 1, 15)) AS BIGINT))) AS fp
FROM wins
"""
gate(rolling_fingerprints, ORACLE_ROLLING_FP)


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUPS: connected components (iterative min-label
    propagation, operators/dedup.py) over the MinHash-LSH candidate
    pairs. The md5 hash family keeps the pairs reproducible in DuckDB,
    and the component step is replicated there with a recursive CTE — so
    the gate checks candidate generation AND the grouping fixpoint.
    Scale: each iteration is one edges⨝labels shuffle + min-agg
    (Pregel shape); lineage truncated per round via localCheckpoint."""
    docs = _t(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    pairs = minhash_lsh_candidates(docs, num_hashes=8, bands=4, bucket_cap=50)
    cc = connected_components(pairs)
    return cc.select(F.col("node").alias("doc_id"), F.col("component").alias("component_id"))


ORACLE_COMPONENTS = f"""
WITH RECURSIVE pairs AS ({ORACLE_MINHASH}),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
cc AS (
  SELECT u AS node, u AS component FROM edges
  UNION
  SELECT e.u AS node, cc.component FROM cc JOIN edges e ON e.v = cc.node
)
SELECT node AS doc_id, min(component) AS component_id FROM cc GROUP BY node
"""
gate(dedup_components, ORACLE_COMPONENTS)


def decontaminate_train_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/dedup.py decontaminate):
    a deterministic 5% of the corpus plays the held-out eval set; every
    remaining train doc sharing ANY word 8-gram with it, or containing a
    held-out item shorter than 8 tokens, is dropped (the standard
    test-set-leakage guard for training corpora). Reported per-source
    so the gate checks WHICH docs were dropped, not just how many:
    n_contaminated = n_train - n_kept.

    Scale shape: inverted-index membership probe inside the operator;
    the per-source counts are one union of the train and kept rows and
    one partial-agg shuffle. The held-out split is md5(doc_id)-derived, so the same docs
    are held out at every scale and on both engines."""
    # imported per call: a test swaps this operator on its module
    from ..operators.dedup import decontaminate

    docs = _t(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    bucket = _md5_bucket("doc_id")
    train = docs.filter(bucket >= 500)
    kept = decontaminate(train, docs.filter(bucket < 500), n=8)
    counts = (train.select("source", F.lit(1).alias("t"), F.lit(0).alias("k"))
              .unionByName(kept.select("source", F.lit(0).alias("t"),
                                       F.lit(1).alias("k")))
              .groupBy("source")
              .agg(F.sum("t").alias("n_train"), F.sum("k").alias("n_kept")))
    return counts.select(
        "source", "n_train",
        (F.col("n_train") - F.col("n_kept")).alias("n_contaminated"),
        "n_kept").orderBy("source")


ORACLE_DECONTAMINATE = """
WITH toks AS (
  SELECT doc_id, source,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
           % 10000 AS b,
         regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents
), grams AS (
  SELECT doc_id, source, b,
         list_transform(generate_series(1, greatest(len(t) - 7, 1)),
           i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3],
                          t[i+4], t[i+5], t[i+6], t[i+7])) AS gs
  FROM toks
), hg AS (
  -- empty-gram guard mirrors the Spark side (review r5)
  SELECT g FROM (
    SELECT DISTINCT unnest(gs) AS g FROM grams WHERE b < 500
  ) WHERE g <> ''
), shorts AS (
  -- held-out items shorter than n tokens: whitespace-collapsed,
  -- token-boundary-anchored containment probe (mirrors operators/
  -- dedup.decontaminate's short-item branch — review r4: a raw
  -- substring probe matched mid-token)
  SELECT DISTINCT regexp_replace(trim(text), '\\s+', ' ', 'g') AS st
  FROM toks JOIN documents USING (doc_id)
  WHERE b < 500 AND len(t) < 8
    AND regexp_replace(trim(text), '\\s+', ' ', 'g') <> ''
), bad AS (
  SELECT DISTINCT doc_id
  FROM (SELECT doc_id, unnest(gs) AS g FROM grams WHERE b >= 500) tg
  JOIN hg USING (g)
  UNION
  SELECT DISTINCT d.doc_id
  FROM documents d JOIN toks tk USING (doc_id), shorts s
  WHERE tk.b >= 500
    AND contains(' ' || regexp_replace(trim(d.text), '\\s+', ' ', 'g')
                 || ' ', ' ' || s.st || ' ')
)
SELECT source,
       count(*) AS n_train,
       count(bad.doc_id) AS n_contaminated,
       count(*) - count(bad.doc_id) AS n_kept
FROM (SELECT doc_id, source FROM grams WHERE b >= 500) train
LEFT JOIN bad USING (doc_id)
GROUP BY 1 ORDER BY 1
"""
gate(decontaminate_train_set, ORACLE_DECONTAMINATE)


def cross_doc_duplication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus duplication report (operators/dedup.py
    duplicate_ngram_fraction): per source, how many documents exist,
    how many distinct word 5-grams they carry, how many of those grams
    also appear in another document, and how many docs are MOSTLY
    duplicate (more than half their grams shared). The per-source roll-
    up of the Lee-et-al exact-substring-duplication signal — the number
    a curation pipeline watches to decide which crawl sources to dedup
    or drop.

    All-integer output so the oracle hash is exact (no float rounding
    seam). Scale shape inherits the operator's: two shuffles (gram
    window, per-doc fold) plus one more for the per-source agg; no
    joins anywhere."""
    docs = _t(spark, sf_dir, "documents")
    per_doc = duplicate_ngram_fraction(docs, n=5, carry=("source",))
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_grams").alias("total_grams"),
            F.sum("n_dup_grams").alias("dup_grams"),
            F.sum((2 * F.col("n_dup_grams") > F.col("n_grams")).cast("long"))
            .alias("mostly_dup_docs"),
        )
        .orderBy("source")
    )


ORACLE_CROSS_DOC_DUP = """
WITH toks AS (
  SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents
), grams AS (
  SELECT doc_id, source, unnest(list_distinct(
    list_transform(generate_series(1, greatest(len(t) - 4, 1)),
      i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4])))) AS g
  FROM toks
), flag AS (
  SELECT doc_id, source, count(*) OVER (PARTITION BY g) AS df_g FROM grams
), per_doc AS (
  SELECT doc_id, source, count(*) AS n_grams,
         sum(CASE WHEN df_g > 1 THEN 1 ELSE 0 END) AS n_dup
  FROM flag GROUP BY 1, 2
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(n_grams) AS BIGINT) AS total_grams,
       CAST(sum(n_dup) AS BIGINT) AS dup_grams,
       CAST(sum(CASE WHEN 2 * n_dup > n_grams THEN 1 ELSE 0 END) AS BIGINT)
         AS mostly_dup_docs
FROM per_doc GROUP BY 1 ORDER BY 1
"""
gate(cross_doc_duplication, ORACLE_CROSS_DOC_DUP)


def semantic_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (operators/similarity.
    semantic_dedup): cluster embeddings into IVF cells (8 seed
    centroids, same cells as ivf_centroid_assign), compare all-pairs
    cosine ONLY within a cell, drop every vector with a smaller-id
    neighbor >= 0.35 (threshold tuned to the synthetic embeddings'
    similarity range). Reports per-cell before/dropped/kept counts, so
    the gate checks the clustering AND the in-cell pruning.

    Scale: quadratic work confined to cells (n²/k total), shuffled on
    centroid_id; the full-corpus all-pairs variant (embedding_near_pairs)
    is the correctness baseline this approximates at scale."""
    # r12 (guide §2.5): _spread only — the in-cell all-pairs cosine is
    # interpreted per element and ran on the one-task scan; the
    # NO-checkpoint contract below is untouched
    emb = _spread(_t(spark, sf_dir, "embeddings"))
    cents = emb.filter(F.col("vec_id") < 8)
    # NO checkpoint here, unlike operators/similarity.semantic_dedup:
    # an eager localCheckpoint truncates the lineage plan_report.py
    # audits, hiding the assignment stage's joins from PLANS.md — the
    # GATE keeps the full declarative plan (the 3x assignment recompute
    # is visible, bounded, and the audited shape is the point); users
    # get the checkpointed operator (review r4)
    assigned = ivf_assign(emb, cents).select(
        "vec_id", "embedding", "centroid_id")
    a = assigned.select(
        "centroid_id", F.col("vec_id").alias("id_a"), F.col("embedding").alias("e_a")
    )
    b = assigned.select(
        "centroid_id", F.col("vec_id").alias("id_b"), F.col("embedding").alias("e_b")
    )
    dropped = (
        a.join(b, "centroid_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.round(cosine(F.col("e_a"), F.col("e_b")), 4) >= 0.35)
        .select(F.col("id_b").alias("vec_id")).distinct()
        .withColumn("d", F.lit(1))
    )
    return (
        assigned.join(dropped, "vec_id", "left")
        .groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).alias("n_before"),
            F.sum(F.coalesce(F.col("d"), F.lit(0))).alias("n_dropped"),
            (F.count(F.lit(1)) - F.sum(F.coalesce(F.col("d"), F.lit(0)))).alias("n_kept"),
        )
        .orderBy("centroid_id")
    )


ORACLE_SEMANTIC_DEDUP = """
WITH c AS (
  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings WHERE vec_id < 8
), scored AS (
  SELECT e.vec_id, e.embedding, c.c_id,
         round(list_dot_product(e.embedding, c.c_emb) /
               (sqrt(list_dot_product(e.embedding, e.embedding)) *
                sqrt(list_dot_product(c.c_emb, c.c_emb))), 4) AS cos
  FROM embeddings e, c
), best AS (
  SELECT vec_id, embedding, c_id AS centroid_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, c_id ASC) AS rn
  FROM scored
), assigned AS (
  SELECT vec_id, embedding, centroid_id FROM best WHERE rn = 1
), dropped AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.embedding, b.embedding) /
              (sqrt(list_dot_product(a.embedding, a.embedding)) *
               sqrt(list_dot_product(b.embedding, b.embedding))), 4) >= 0.35
)
SELECT centroid_id, count(*) AS n_before,
       count(dropped.vec_id) AS n_dropped,
       count(*) - count(dropped.vec_id) AS n_kept
FROM assigned LEFT JOIN dropped USING (vec_id)
GROUP BY 1 ORDER BY 1
"""
gate(semantic_dedup_report, ORACLE_SEMANTIC_DEDUP)


def semantic_dedup_report_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-safe semantic-dedup configuration (VERDICT r4 #1,
    mirroring the simhash64 precedent): the SAME clustering as
    semantic_dedup_report but with ``cell_cap=25`` — each cell's
    comparison left arm truncated to its 25 smallest ids, so per-cell
    work is size × 25, not size². At this corpus (500 vectors / 8
    cells, ~62 per cell) the cap BITES in every cell, and the oracle
    replays the identical capped selection, so the gate checks capped
    MEMBERSHIP exactly: per-cell kept counts plus an md5-xor checksum
    over the kept vec_ids.

    This entry drives operators/similarity.semantic_dedup itself (the
    code users run, checkpoint included) rather than an inline mirror —
    the uncapped semantic_dedup_report keeps the fully-declarative plan
    for the plan audit."""
    emb = _spread(_t(spark, sf_dir, "embeddings"))
    cents = emb.filter(F.col("vec_id") < 8)
    kept = semantic_dedup(emb, cents, threshold=0.35, cell_cap=25)
    return (kept.withColumn("_h", md5_long(F.col("vec_id").cast("string")))
            .groupBy("centroid_id")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.min("vec_id").alias("min_kept"),
                 F.max("vec_id").alias("max_kept"),
                 F.expr("bit_xor(_h)").alias("kept_checksum"))
            .orderBy("centroid_id"))


ORACLE_SEMANTIC_DEDUP_CAPPED = """
WITH c AS (
  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings WHERE vec_id < 8
), scored AS (
  SELECT e.vec_id, e.embedding, c.c_id,
         round(list_dot_product(e.embedding, c.c_emb) /
               (sqrt(list_dot_product(e.embedding, e.embedding)) *
                sqrt(list_dot_product(c.c_emb, c.c_emb))), 4) AS cos
  FROM embeddings e, c
), best AS (
  SELECT vec_id, embedding, c_id AS centroid_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, c_id ASC) AS rn
  FROM scored
), assigned AS (
  SELECT vec_id, embedding, centroid_id FROM best WHERE rn = 1
), reps AS (
  -- cell_cap=25: the comparison left arm is each cell's 25 smallest ids
  SELECT * FROM (
    SELECT vec_id, embedding, centroid_id,
           row_number() OVER (PARTITION BY centroid_id
                              ORDER BY vec_id ASC) AS cr
    FROM assigned) WHERE cr <= 25
), dropped AS (
  SELECT DISTINCT b.vec_id
  FROM reps a JOIN assigned b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.embedding, b.embedding) /
              (sqrt(list_dot_product(a.embedding, a.embedding)) *
               sqrt(list_dot_product(b.embedding, b.embedding))), 4) >= 0.35
), kept AS (
  SELECT assigned.* FROM assigned
  LEFT JOIN dropped USING (vec_id) WHERE dropped.vec_id IS NULL
)
SELECT centroid_id,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(min(vec_id) AS BIGINT) AS min_kept,
       CAST(max(vec_id) AS BIGINT) AS max_kept,
       bit_xor(CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15))
         AS BIGINT)) AS kept_checksum
FROM kept GROUP BY 1 ORDER BY 1
"""
gate(semantic_dedup_report_capped, ORACLE_SEMANTIC_DEDUP_CAPPED)


def exact_substring_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact-substring duplication
    (operators/dedup.exact_substring_spans, k=8 word windows): per doc,
    the maximal shared spans and the fraction of tokens inside them —
    what a span-cutting dedup pass would remove. Oracle replays the
    positional-gram inverted index + gaps-and-islands merge in SQL."""
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


def dedup_incremental_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-corpus dedup end-to-end: documents arrive as three
    sequential batches (doc_id % 3 = 0, 1, 2 — so batch order is NOT
    id order and cross-batch winners matter), each batch deduped
    against the accumulated fingerprint state with
    ``dedup_incremental``; contents are md5-bucketed into ~256 groups
    so collisions span batches heavily. The oracle replays the batch
    protocol in SQL: a row survives iff its batch is its
    fingerprint's FIRST batch and its id is the min within that
    (fp, batch) group. Output: every kept row with its batch."""
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))

    def content(batches):
        import hashlib as _hashlib

        import pandas as pd

        for pdf in batches:
            out = [(did,
                    "G-" + _hashlib.md5(
                        (t or "").encode("utf-8")).hexdigest()[:2])
                   for did, t in zip(pdf["doc_id"], pdf["text"])]
            yield pd.DataFrame(out, columns=["doc_id", "text"])

    # the keyed frame is referenced by every batch filter AND rides
    # the fingerprint-state chain — without a shared materialization
    # the md5 mapInPandas pass ran three times (r13 §2.4/§4; the
    # plan is map-only, so the lazy checkpoint call itself runs no
    # exchange jobs and batch 0's action caches it)
    keyed = (docs.mapInPandas(content, schema="doc_id long, text string")
             .localCheckpoint(eager=False))
    fps = None
    kept_parts = []
    for b in range(3):
        batch = keyed.filter(F.col("doc_id") % 3 == b)
        kept, fps = dedup_incremental(batch, fps)
        kept_parts.append(kept.select(
            "doc_id", F.lit(b).cast("int").alias("batch")))
    out = kept_parts[0]
    for p in kept_parts[1:]:
        out = out.unionByName(p)
    return out


ORACLE_DEDUP_INCREMENTAL = """
WITH keyed AS (
  SELECT doc_id, CAST(doc_id % 3 AS INT) AS batch,
         md5('g-' || substr(md5(text), 1, 2)) AS fp
  FROM documents
), firstb AS (
  SELECT fp, min(batch) AS batch FROM keyed GROUP BY fp
)
SELECT min(k.doc_id) AS doc_id, k.batch
FROM keyed k JOIN firstb USING (fp, batch)
GROUP BY k.fp, k.batch
"""
gate(dedup_incremental_report, ORACLE_DEDUP_INCREMENTAL)


# =====================================================================
# Near-dedup operators: one-call, incremental, text and keep-policy
# =====================================================================

def near_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-call corpus-shrinking composite end-to-end: simhash64
    fingerprints over documents -> near_dedup (banded-Hamming pairs at
    max_hamming=3, connected components, min-id survivor anti-join).
    Output is one row per fingerprinted document: its group's
    surviving id (own id for singletons), the group size, and the
    kept flag taken from MEMBERSHIP in the returned kept DataFrame —
    so the anti-join path itself is value-checked, not just the
    component labels. The oracle brute-forces ALL pairs from the
    SQL-replayed fingerprints and rebuilds components with a
    recursive CTE (the dedup_components discipline), so banding
    recall, component fixpoint, and survivor selection are all
    checked against ground truth."""
    docs = _t(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    # one row per doc; LAZY checkpoint so the explode+vote agg is
    # computed once (first action materializes, every later consumer —
    # pairs path, kept anti-join, final report join — reads the cache)
    # without spending a separate up-front materialization job (r13)
    sh = simhash(docs, bits=64).localCheckpoint(eager=False)
    kept, report = near_dedup(sh, "simhash", "doc_id", 64,
                              max_hamming=3, bucket_cap=5000)
    k = kept.select("doc_id").withColumn("_k", F.lit(True))
    return (sh.select("doc_id")
            .join(report, "doc_id", "left")
            .join(k, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("kept_doc_id", F.col("doc_id"))
                .alias("kept_doc_id"),
                F.coalesce("group_n", F.lit(1)).cast("long")
                .alias("group_n"),
                F.coalesce("_k", F.lit(False)).alias("kept")))


ORACLE_NEAR_DEDUP = f"""
WITH RECURSIVE sh AS ({_simhash_oracle(64)}),
pr AS (
  SELECT a.doc_id AS u, b.doc_id AS v
  FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
),
cc AS (
  SELECT u AS node, u AS component FROM pr
  UNION
  SELECT e.u AS node, cc.component FROM cc JOIN pr e ON e.v = cc.node
),
lab AS (SELECT node, min(component) AS component FROM cc GROUP BY node),
sizes AS (SELECT component, count(*) AS group_n FROM lab GROUP BY component)
SELECT s.doc_id,
       coalesce(l.component, s.doc_id) AS kept_doc_id,
       CAST(coalesce(z.group_n, 1) AS BIGINT) AS group_n,
       (coalesce(l.component, s.doc_id) = s.doc_id) AS kept
FROM sh s
LEFT JOIN lab l ON l.node = s.doc_id
LEFT JOIN sizes z ON z.component = l.component
"""
gate(near_dedup_report, ORACLE_NEAR_DEDUP)


def near_dedup_incremental_report(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Rolling-crawl near-dedup: documents arrive in THREE batches
    whose order deliberately disagrees with id order (batch_seq =
    (doc_id % 3 + 2) % 3 — so first-batch-wins is distinguishable
    from global min-id), each batch runs near_dedup_incremental
    against the accumulated band-row state (simhash64 fingerprints,
    max_hamming=3). Output is one row per fingerprinted document:
    (doc_id, batch_seq, kept). The oracle replays the exact greedy
    sequence in SQL — per batch, a correlated NOT EXISTS probe
    against the fingerprints kept so far (brute-force Hamming, so the
    banded state probe is recall-checked), then a recursive-CTE
    component pass over the surviving subgraph with min-id survivors."""
    docs = _t(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    sh = (simhash(docs, bits=64)
          .withColumn("batch_seq",
                      ((F.col("doc_id") % 3 + 2) % 3).cast("int")))
    # one row per doc; LAZY checkpoint so the explode+vote agg is not
    # recomputed for each batch filter (batch 0's first action
    # materializes it; lineage stays O(1) across the sequential batch
    # loop) without a separate up-front materialization job (r13)
    sh = sh.localCheckpoint(eager=False)
    state = None
    kept_parts = []
    for seq in range(3):
        batch = (sh.filter(F.col("batch_seq") == seq)
                 .select("doc_id", "simhash"))
        kept, state = near_dedup_incremental(
            batch, state, "simhash", "doc_id", 64, max_hamming=3,
            bucket_cap=5000)
        kept_parts.append(kept.select("doc_id"))
        # checkpoint the state ONLY when a next batch will probe it:
        # even a LAZY localCheckpoint call finalizes the AQE plan and
        # runs every upstream exchange as its own job at CALL time
        # (r13 — measured; only the final result stage stays lazy), so
        # checkpointing the last batch's never-read state burned real
        # jobs, not just lineage (§2.4)
        if seq < 2:
            state = state.localCheckpoint(eager=False)
    keptall = (kept_parts[0].unionByName(kept_parts[1])
               .unionByName(kept_parts[2])
               .withColumn("_k", F.lit(True)))
    return (sh.select("doc_id", "batch_seq")
            .join(keptall, "doc_id", "left")
            .select("doc_id", "batch_seq",
                    F.coalesce("_k", F.lit(False)).alias("kept")))


ORACLE_NEAR_DEDUP_INCREMENTAL = _incr_oracle()
gate(near_dedup_incremental_report, ORACLE_NEAR_DEDUP_INCREMENTAL)


def text_near_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full classic pipeline end-to-end on documents: md5-family
    MinHash (8 hashes / 4 bands, bucket_cap 50) proposes candidates,
    exact 3-gram Jaccard >= 0.5 verifies them, components + min-id
    survivor selection shrink the corpus. One row per document:
    (doc_id, kept_doc_id, group_n, kept) — the near_dedup_report
    shape, but over the VERIFIED minhash graph, so the gate checks
    candidate generation, the Jaccard verify join, the component
    fixpoint and survivor selection in one hash. The oracle replays
    the minhash signatures bit-for-bit (ORACLE_MINHASH's CTE), runs
    the same Jaccard on the same word-shingle sets, and rebuilds
    components with a recursive CTE."""
    docs = _t(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    slim = (docs.select("doc_id", "text")
            .localCheckpoint(eager=False))  # lazy: first action materializes (r13)
    kept, report, _ = text_near_dedup(slim, threshold=0.5)
    k = kept.select("doc_id").withColumn("_k", F.lit(True))
    return (slim.select("doc_id")
            .join(report, "doc_id", "left")
            .join(k, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("kept_doc_id", F.col("doc_id"))
                .alias("kept_doc_id"),
                F.coalesce("group_n", F.lit(1)).cast("long")
                .alias("group_n"),
                F.coalesce("_k", F.lit(False)).alias("kept")))


def _text_near_dedup_oracle() -> str:
    return f"""
WITH RECURSIVE cand AS ({ORACLE_MINHASH}),
toks2 AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents
), grams2 AS (
  SELECT DISTINCT doc_id, unnest(list_transform(
      generate_series(1, greatest(len(t) - 2, 1)),
      i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS g
  FROM toks2
), sz AS (
  SELECT doc_id, count(*) AS sz FROM grams2 GROUP BY doc_id
), inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS common
  FROM cand c
  JOIN grams2 a ON a.doc_id = c.doc_a
  JOIN grams2 b ON b.doc_id = c.doc_b AND b.g = a.g
  GROUP BY 1, 2
), ver AS (
  SELECT c.doc_a AS u, c.doc_b AS v
  FROM cand c
  JOIN sz sa ON sa.doc_id = c.doc_a
  JOIN sz sb ON sb.doc_id = c.doc_b
  LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
  WHERE coalesce(i.common, 0)
        / CAST(sa.sz + sb.sz - coalesce(i.common, 0) AS DOUBLE) >= 0.5
), edges AS (
  SELECT u, v FROM ver UNION SELECT v AS u, u AS v FROM ver
), cc AS (
  SELECT u AS node, u AS component FROM edges
  UNION
  SELECT e.u AS node, cc.component FROM cc JOIN edges e ON e.v = cc.node
), lab AS (
  SELECT node, min(component) AS component FROM cc GROUP BY node
), gsz AS (
  SELECT component, count(*) AS group_n FROM lab GROUP BY component
)
SELECT d.doc_id,
       coalesce(l.component, d.doc_id) AS kept_doc_id,
       CAST(coalesce(z.group_n, 1) AS BIGINT) AS group_n,
       (coalesce(l.component, d.doc_id) = d.doc_id) AS kept
FROM documents d
LEFT JOIN lab l ON l.node = d.doc_id
LEFT JOIN gsz z ON z.component = l.component
"""


ORACLE_TEXT_NEAR_DEDUP = _text_near_dedup_oracle()
gate(text_near_dedup_report, ORACLE_TEXT_NEAR_DEDUP)


def near_dedup_keep_longest_report(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """near_dedup with keep=('max', qual): the LONGEST member of each
    near-dup component survives (character length of the raw text,
    min-id tiebreak) instead of the min-id member — the survivor
    policy real curation runs. Same report shape as
    near_dedup_report: one row per fingerprinted doc with its group's
    surviving id, group size, and a kept flag taken from MEMBERSHIP
    in the returned kept frame, so the policy path's anti-join is
    value-checked too. The oracle brute-forces the pairs from the
    SQL-replayed simhash64 fingerprints, rebuilds components with a
    recursive CTE, and picks each component's survivor with the same
    (length DESC, doc_id ASC) window."""
    docs = _t(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    sh = (simhash(docs, bits=64)
          .join(docs.select("doc_id",
                            F.length("text").alias("qual")), "doc_id")
          .localCheckpoint(eager=False))  # lazy (r13)
    kept, report = near_dedup(sh, "simhash", "doc_id", 64,
                              max_hamming=3, bucket_cap=5000,
                              keep=("max", "qual"))
    k = kept.select("doc_id").withColumn("_k", F.lit(True))
    return (sh.select("doc_id")
            .join(report, "doc_id", "left")
            .join(k, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("kept_doc_id", F.col("doc_id"))
                .alias("kept_doc_id"),
                F.coalesce("group_n", F.lit(1)).cast("long")
                .alias("group_n"),
                F.coalesce("_k", F.lit(False)).alias("kept")))


ORACLE_NEAR_DEDUP_KEEP_LONGEST = f"""
WITH RECURSIVE sh AS ({_simhash_oracle(64)}),
pr AS (
  SELECT a.doc_id AS u, b.doc_id AS v
  FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
),
cc AS (
  SELECT u AS node, u AS component FROM pr
  UNION
  SELECT e.u AS node, cc.component FROM cc JOIN pr e ON e.v = cc.node
),
lab AS (SELECT node, min(component) AS component FROM cc GROUP BY node),
sizes AS (SELECT component, count(*) AS group_n FROM lab GROUP BY component),
win AS (
  SELECT l.component, l.node,
         row_number() OVER (PARTITION BY l.component
                            ORDER BY length(d.text) DESC, l.node ASC)
         AS rn
  FROM lab l JOIN documents d ON d.doc_id = l.node
),
surv AS (SELECT component, node AS surv FROM win WHERE rn = 1)
SELECT s.doc_id,
       coalesce(sv.surv, s.doc_id) AS kept_doc_id,
       CAST(coalesce(z.group_n, 1) AS BIGINT) AS group_n,
       (coalesce(sv.surv, s.doc_id) = s.doc_id) AS kept
FROM sh s
LEFT JOIN lab l ON l.node = s.doc_id
LEFT JOIN surv sv ON sv.component = l.component
LEFT JOIN sizes z ON z.component = l.component
"""
gate(near_dedup_keep_longest_report, ORACLE_NEAR_DEDUP_KEEP_LONGEST)


def text_near_dedup_incremental_report(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """The ROLLING MinHash/Jaccard text pipeline: documents arrive in
    THREE out-of-order batches (batch_seq = (doc_id % 3 + 2) % 3);
    each batch probes the accumulated LSH band-bucket state for
    candidates, verifies them with exact word-shingle Jaccard >= 0.5
    against the kept corpus, drops the verified near-dups, then runs
    the in-batch classic pipeline (LSH + verify + components + min-id
    survivors). Output is one row per document: (doc_id, batch_seq,
    kept). The oracle replays the exact greedy sequence — per batch,
    shared-band candidates against every earlier batch's kept docs
    with the same bit-exact md5 minhash signatures, the same Jaccard
    on the same shingle sets, then the in-batch bucket_cap'd LSH +
    recursive-CTE components — the _incr_oracle discipline composed
    with ORACLE_MINHASH's signature replay."""
    docs = _t(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    slim = (docs.select("doc_id", "text")
            .withColumn("batch_seq",
                        ((F.col("doc_id") % 3 + 2) % 3).cast("int"))
            .localCheckpoint(eager=False))  # lazy: first action
    # materializes it; later consumers read the cache (r13)
    state, corpus = None, None
    kept_parts = []
    for seq in range(3):
        batch = (slim.filter(F.col("batch_seq") == seq)
                 .select("doc_id", "text"))
        kept, state = text_near_dedup_incremental(batch, state, corpus)
        # cut lineage each round (the connected_components discipline);
        # kept feeds BOTH the growing corpus and the final report.
        # BOTH checkpoints are LAZY (r12/r13 guide §2.4), and the
        # state is checkpointed ONLY when a next batch will probe it:
        # even a lazy localCheckpoint call finalizes the AQE plan and
        # runs every upstream exchange as its own job at CALL time
        # (r13 — measured; only the final result stage stays lazy), so
        # checkpointing the last batch's never-read state burned real
        # jobs, not just lineage.
        kept = kept.localCheckpoint(eager=False)
        if seq < 2:
            state = state.localCheckpoint(eager=False)
        kept_parts.append(kept.select("doc_id"))
        kc = kept.select("doc_id", "text")
        corpus = kc if corpus is None else corpus.unionByName(kc)
    keptall = (kept_parts[0].unionByName(kept_parts[1])
               .unionByName(kept_parts[2])
               .withColumn("_k", F.lit(True)))
    return (slim.select("doc_id", "batch_seq")
            .join(keptall, "doc_id", "left")
            .select("doc_id", "batch_seq",
                    F.coalesce("_k", F.lit(False)).alias("kept")))


def _text_incr_oracle(n: int = 3,
                      seq_sql: str = "(doc_id % 3 + 2) % 3",
                      threshold: float = 0.5,
                      bucket_cap: int = 50) -> str:
    """n-batch greedy replay of text_near_dedup_incremental: the
    md5-family minhash signatures and band keys replayed bit-exactly
    (the _minhash_oracle formulas), cross-batch candidates = any
    shared band with a kept doc, verification = exact shingle Jaccard
    (the jaccard_verify formula), in-batch = the bucket_cap'd LSH
    pipeline over the batch's pass-A subset + per-batch recursive-CTE
    components with min-id survivors. Shared CTEs MATERIALIZED (the
    _incr_oracle lesson: DuckDB inlines plain CTEs per reference —
    the batch chain would expand exponentially)."""
    hcols = ",\n         ".join(
        f"min(CAST(('0x'||substring(md5(g||':{i // 4}'),"
        f"{8 * (i % 4) + 1},8)) AS BIGINT)) AS h{i}"
        for i in range(8))
    band_sel = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, CAST(h{2 * b} AS VARCHAR)"
        f"||'_'||CAST(h{2 * b + 1} AS VARCHAR) AS key FROM sig"
        for b in range(4))

    def jacc_filter(cand: str, a: str = "doc_a", b: str = "doc_b") -> str:
        # the jaccard_verify formula over a candidate-pair CTE
        return f"""
  FROM {cand} c
  JOIN sz sa ON sa.doc_id = c.{a}
  JOIN sz sb ON sb.doc_id = c.{b}
  LEFT JOIN (SELECT c2.{a} AS pa, c2.{b} AS pb, count(*) AS common
             FROM {cand} c2
             JOIN grams2 ga ON ga.doc_id = c2.{a}
             JOIN grams2 gb ON gb.doc_id = c2.{b} AND gb.g = ga.g
             GROUP BY 1, 2) iv ON iv.pa = c.{a} AND iv.pb = c.{b}
  WHERE coalesce(iv.common, 0)
        / CAST(sa.sz + sb.sz - coalesce(iv.common, 0) AS DOUBLE)
        >= {threshold}"""

    ctes = [f"""toks AS MATERIALIZED (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents
)""", """grams2 AS MATERIALIZED (
  SELECT DISTINCT doc_id, unnest(list_transform(
      generate_series(1, greatest(len(t) - 2, 1)),
      i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS g
  FROM toks
)""", """sz AS MATERIALIZED (
  SELECT doc_id, count(*) AS sz FROM grams2 GROUP BY doc_id
)""", f"""sig AS MATERIALIZED (
  SELECT doc_id,
         {hcols}
  FROM grams2 GROUP BY doc_id
)""", f"""bands AS MATERIALIZED (
{band_sel}
)""", f"""b AS MATERIALIZED (
  SELECT doc_id, CAST({seq_sql} AS INT) AS batch_seq FROM documents
)"""]
    for i in range(n):
        if i == 0:
            ctes.append(f"pa{i} AS MATERIALIZED (SELECT doc_id FROM b"
                        f" WHERE batch_seq = {i})")
        else:
            prev = " UNION ALL ".join(
                f"SELECT doc_id FROM kept{j}" for j in range(i))
            ctes.append(
                f"ks{i} AS MATERIALIZED ({prev})")
            ctes.append(f"""cd{i} AS MATERIALIZED (
  SELECT DISTINCT bx.doc_id AS doc_a, bk.doc_id AS doc_b
  FROM bands bx
  JOIN b xb ON xb.doc_id = bx.doc_id AND xb.batch_seq = {i}
  JOIN bands bk ON bk.band = bx.band AND bk.key = bx.key
  JOIN ks{i} kk ON kk.doc_id = bk.doc_id
)""")
            ctes.append(
                f"dv{i} AS MATERIALIZED (\n"
                f"  SELECT DISTINCT c.doc_a AS doc_id"
                f"{jacc_filter(f'cd{i}')}\n)")
            ctes.append(
                f"pa{i} AS MATERIALIZED (SELECT doc_id FROM b WHERE"
                f" batch_seq = {i} AND doc_id NOT IN"
                f" (SELECT doc_id FROM dv{i}))")
        ctes.append(f"""bu{i} AS MATERIALIZED (
  SELECT band, key, list_sort(list(bb.doc_id)) AS ids
  FROM bands bb JOIN pa{i} p ON p.doc_id = bb.doc_id
  GROUP BY band, key
  HAVING count(*) BETWEEN 2 AND {bucket_cap}
)""")
        ctes.append(f"""cp{i} AS MATERIALIZED (
  SELECT DISTINCT p.doc_a AS doc_a, p.doc_b AS doc_b FROM (
    SELECT unnest(flatten(list_transform(generate_series(1, len(ids)),
           i -> list_transform(generate_series(i+1, len(ids)),
           j -> struct_pack(doc_a := ids[i], doc_b := ids[j]))))) AS p
    FROM bu{i})
)""")
        ctes.append(
            f"ve{i} AS MATERIALIZED (\n"
            f"  SELECT c.doc_a AS u, c.doc_b AS v"
            f"{jacc_filter(f'cp{i}')}\n)")
        ctes.append(
            f"ed{i} AS MATERIALIZED (SELECT u, v FROM ve{i}"
            f" UNION SELECT v AS u, u AS v FROM ve{i})")
        ctes.append(
            f"cc{i} AS (SELECT u AS node, u AS component FROM ed{i}"
            f" UNION SELECT e.u AS node, cc{i}.component"
            f" FROM cc{i} JOIN ed{i} e ON e.v = cc{i}.node)")
        ctes.append(
            f"lab{i} AS MATERIALIZED (SELECT node, min(component) AS c"
            f" FROM cc{i} GROUP BY node)")
        ctes.append(
            f"kept{i} AS MATERIALIZED (SELECT p.doc_id FROM pa{i} p"
            f" LEFT JOIN lab{i} l ON l.node = p.doc_id"
            f" WHERE l.c IS NULL OR l.c = p.doc_id)")
    ctes.append(
        "keptall AS MATERIALIZED (" + " UNION ALL ".join(
            f"SELECT doc_id FROM kept{j}" for j in range(n)) + ")")
    return ("WITH RECURSIVE " + ",\n".join(ctes) + "\n"
            "SELECT b.doc_id, b.batch_seq,"
            " (k.doc_id IS NOT NULL) AS kept\n"
            "FROM b LEFT JOIN keptall k ON k.doc_id = b.doc_id")


ORACLE_TEXT_NEAR_DEDUP_INCREMENTAL = _text_incr_oracle()
gate(text_near_dedup_incremental_report, ORACLE_TEXT_NEAR_DEDUP_INCREMENTAL)
