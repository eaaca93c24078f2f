"""Gates for the one-call near-dedup composite and its incremental
(rolling-batch) extension: the near-dup primitives (fp_near_pairs,
connected_components) turned into the corpus-SHRINKING operator every
curation pipeline actually runs, and its O(batch) daily-ingestion form
(contract: queries.py).

Both oracles follow the brute-force discipline: the 64-bit simhash
fingerprints are replayed bit-exactly in SQL (queries._simhash_oracle),
candidate pairs are brute-forced over ALL fingerprints (so the banded
blocking is recall-checked against ground truth), components come from
a recursive CTE (the dedup_components pattern), and survivor selection
/ first-batch-wins ordering is replayed in plain SQL — value-checked
end-to-end, never row-counted."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries import (ORACLE_MINHASH, _incr_oracle, _scratch,
                      _simhash_oracle, _t, gate)


# =====================================================================
# one-call near-dedup (operators/dedup.near_dedup — VERDICT r10 #1)
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
    from .operators.dedup import near_dedup, simhash

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


# =====================================================================
# incremental near-dedup (operators/dedup.near_dedup_incremental —
# VERDICT r10 #2)
# =====================================================================

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
    from .operators.dedup import near_dedup_incremental, simhash

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


# =====================================================================
# classic text near-dedup pipeline (operators/dedup.text_near_dedup —
# MinHash LSH candidates -> exact Jaccard verify -> components ->
# survivors, the C4/RefinedWeb-style one-call operation)
# =====================================================================

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
    from .operators.dedup import text_near_dedup

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


# =====================================================================
# STREAMING near-dedup (streaming/structured.stream_near_dedup —
# near_dedup_incremental under Structured Streaming foreachBatch)
# =====================================================================

def streaming_near_dedup_report(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """The rolling-crawl pipeline as an ACTUAL stream: the same three
    out-of-order document batches as near_dedup_incremental_report
    land as three parquet files with increasing mtimes, a single
    AvailableNow drain with maxFilesPerTrigger=1 processes them as
    three micro-batches in arrival order (FileStreamSource orders by
    modification time), and each micro-batch probes the
    parquet-persisted band-row state via stream_near_dedup's
    foreachBatch handler. The drained survivor set must equal the
    batch operator's — so the gate reuses
    ORACLE_NEAR_DEDUP_INCREMENTAL verbatim: the streaming plan
    computes the identical answer (the streaming_hourly_counts
    property, extended to a stateful-by-construction pipeline)."""
    import os
    import shutil

    from .operators.dedup import simhash
    from .streaming.structured import (
        stream_from_directory, stream_near_dedup)

    docs = _t(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    sh = (simhash(docs, bits=64)
          .withColumn("batch_seq",
                      ((F.col("doc_id") % 3 + 2) % 3).cast("int"))
          .localCheckpoint(eager=False))  # lazy: batch-0 fixture
    # write materializes it; later consumers read the cache (r13)

    src = _scratch("snd_src")
    kept_p = _scratch("snd_kept")
    state_p = _scratch("snd_state")
    ckpt = _scratch("snd_ckpt")
    stage = _scratch("snd_stage")
    t0 = 1_700_000_000
    for seq in range(3):
        d = os.path.join(stage, f"b{seq}")
        (sh.filter(F.col("batch_seq") == seq)
         .select("doc_id", "simhash")
         .coalesce(1).write.parquet(d))
        part = next(f for f in os.listdir(d)
                    if f.endswith(".parquet"))
        dst = os.path.join(src, f"batch{seq}.parquet")
        shutil.copyfile(os.path.join(d, part), dst)
        os.utime(dst, (t0 + 1000 * seq, t0 + 1000 * seq))

    from pyspark.sql import types as T
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("simhash", T.LongType())])
    stream = stream_from_directory(spark, src, schema,
                                   max_files_per_trigger=1)
    stream_near_dedup(stream, kept_p, state_p, ckpt,
                      fp_col="simhash", id_col="doc_id",
                      bits=64, max_hamming=3, bucket_cap=5000)
    kept = (spark.read.parquet(kept_p).select("doc_id")
            .withColumn("_k", F.lit(True)))
    return (sh.select("doc_id", "batch_seq")
            .join(kept, "doc_id", "left")
            .select("doc_id", "batch_seq",
                    F.coalesce("_k", F.lit(False)).alias("kept")))


gate(streaming_near_dedup_report, ORACLE_NEAR_DEDUP_INCREMENTAL)
