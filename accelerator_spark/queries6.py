"""Gates for the near-dedup LIFECYCLE and POLICY surface: the survivor
keep-policy gate (real curation keeps the longest member, not the
smallest id), the band-row state compaction gate (a rolling crawl's
store maintenance must be answer-invariant, proven through the real
stream), the incremental MinHash/Jaccard text near-dedup (the O(batch)
rolling form of the classic pipeline) with its STREAMING twin (the
text pipeline now has batch/incremental/streaming symmetry like the
fingerprint family), and video near-dup over the real-decode GIF frame
path (contract: queries.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries import (_fp_sql_from_bits, _incr_oracle, _scratch,
                      _simhash_oracle, _t, gate)


# =====================================================================
# survivor keep-policy (operators/dedup.near_dedup keep= — VERDICT
# r11 #3)
# =====================================================================

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
    from .operators.dedup import near_dedup, simhash

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


# =====================================================================
# state compaction under the real stream (streaming/structured.
# compact_batch_store — VERDICT r11 #1)
# =====================================================================

def streaming_near_dedup_compacted_report(spark: SparkSession,
                                          sf_dir: str) -> DataFrame:
    """The rolling-crawl MAINTENANCE story end-to-end: FOUR
    out-of-order document batches (batch_seq = (doc_id % 4 + 2) % 4)
    land as parquet files; the first three drain as three
    micro-batches (AvailableNow + maxFilesPerTrigger=1), then
    ``compact_batch_store`` folds BOTH stores' generations (state
    batch_id 0,1 -> 0, validated 4-band-rows-per-doc; kept likewise),
    then the fourth file lands and a SECOND drain (same checkpoint)
    processes it as micro-batch 3 probing the COMPACTED state.
    Compaction must be answer-invariant: the oracle replays the plain
    four-batch greedy sequence (the near_dedup_incremental_report
    replay at n=4) with no compaction notion at all — any row the
    compaction lost, duplicated, or mislabeled flips a kept flag."""
    import os
    import shutil

    from .operators.dedup import simhash
    from .streaming.structured import (
        compact_batch_store, stream_from_directory, stream_near_dedup)

    docs = _t(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    sh = (simhash(docs, bits=64)
          .withColumn("batch_seq",
                      ((F.col("doc_id") % 4 + 2) % 4).cast("int"))
          .localCheckpoint(eager=False))  # lazy: batch-0 fixture
    # write materializes it; later consumers read the cache (r13)

    src = _scratch("sndc_src")
    kept_p = _scratch("sndc_kept")
    state_p = _scratch("sndc_state")
    ckpt = _scratch("sndc_ckpt")
    stage = _scratch("sndc_stage")
    t0 = 1_700_000_000

    def land(seq: int) -> None:
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

    def drain() -> None:
        stream_near_dedup(
            stream_from_directory(spark, src, schema,
                                  max_files_per_trigger=1),
            kept_p, state_p, ckpt, fp_col="simhash", id_col="doc_id",
            bits=64, max_hamming=3, bucket_cap=5000)

    for seq in range(3):
        land(seq)
    drain()
    folded = compact_batch_store(spark, state_p,
                                 rows_per_key=("doc_id", 4))
    if folded != 2:  # three generations -> fold 0,1; newest stays
        raise RuntimeError(
            f"compacted-stream gate: expected to fold 2 state "
            f"generations, folded {folded}")
    compact_batch_store(spark, kept_p)
    land(3)
    drain()  # micro-batch 3 probes the compacted store
    kept = (spark.read.parquet(kept_p).select("doc_id")
            .withColumn("_k", F.lit(True)))
    return (sh.select("doc_id", "batch_seq")
            .join(kept, "doc_id", "left")
            .select("doc_id", "batch_seq",
                    F.coalesce("_k", F.lit(False)).alias("kept")))


ORACLE_STREAMING_NEAR_DEDUP_COMPACTED = _incr_oracle(
    4, "(doc_id % 4 + 2) % 4")
gate(streaming_near_dedup_compacted_report,
     ORACLE_STREAMING_NEAR_DEDUP_COMPACTED)


# =====================================================================
# incremental text near-dedup (operators/dedup.
# text_near_dedup_incremental — VERDICT r11 #2)
# =====================================================================

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
    from .operators.dedup import text_near_dedup_incremental

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


# =====================================================================
# STREAMING text near-dedup (streaming/structured.
# stream_text_near_dedup — the text pipeline's streaming form)
# =====================================================================

def streaming_text_near_dedup_report(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """The rolling TEXT pipeline as an ACTUAL stream: the same three
    out-of-order document batches as text_near_dedup_incremental_report
    land as three parquet files with increasing mtimes; one
    AvailableNow drain with maxFilesPerTrigger=1 processes them as
    three micro-batches, each probing the parquet-persisted LSH
    band-bucket state and joining candidates back to the kept-corpus
    store for the exact Jaccard verify. The drained survivor set must
    equal the batch operator's — the gate reuses
    ORACLE_TEXT_NEAR_DEDUP_INCREMENTAL verbatim (the
    streaming_near_dedup_report property, on the text front)."""
    import os
    import shutil

    from .streaming.structured import (
        stream_from_directory, stream_text_near_dedup)

    docs = _t(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    slim = (docs.select("doc_id", "text")
            .withColumn("batch_seq",
                        ((F.col("doc_id") % 3 + 2) % 3).cast("int"))
            .localCheckpoint(eager=False))  # lazy: first action
    # materializes it; later consumers read the cache (r13)

    src = _scratch("stnd_src")
    kept_p = _scratch("stnd_kept")
    state_p = _scratch("stnd_state")
    ckpt = _scratch("stnd_ckpt")
    stage = _scratch("stnd_stage")
    t0 = 1_700_000_000
    for seq in range(3):
        d = os.path.join(stage, f"b{seq}")
        (slim.filter(F.col("batch_seq") == seq)
         .select("doc_id", "text")
         .coalesce(1).write.parquet(d))
        part = next(f for f in os.listdir(d)
                    if f.endswith(".parquet"))
        dst = os.path.join(src, f"batch{seq}.parquet")
        shutil.copyfile(os.path.join(d, part), dst)
        os.utime(dst, (t0 + 1000 * seq, t0 + 1000 * seq))

    from pyspark.sql import types as T
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType())])
    stream_text_near_dedup(
        stream_from_directory(spark, src, schema,
                              max_files_per_trigger=1),
        kept_p, state_p, ckpt)
    kept = (spark.read.parquet(kept_p).select("doc_id")
            .withColumn("_k", F.lit(True)))
    return (slim.select("doc_id", "batch_seq")
            .join(kept, "doc_id", "left")
            .select("doc_id", "batch_seq",
                    F.coalesce("_k", F.lit(False)).alias("kept")))


gate(streaming_text_near_dedup_report, ORACLE_TEXT_NEAR_DEDUP_INCREMENTAL)


# =====================================================================
# video near-dup pairs (operators/multimodal.video_fingerprint +
# video_near_pairs — the FOURTH modality on fp_near_pairs;
# VERDICT r11 #4)
# =====================================================================

def video_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-duplicate detection end-to-end through the REAL
    decode path: per document a 5-frame 9x8 grayscale animated GIF is
    authored from chained md5 digests (the image_near_dup_pairs
    fixture discipline, one digest chain per frame), and for one doc
    in four a PERTURBED COPY (one md5-chosen pixel of one md5-chosen
    frame replaced by an md5-chosen value — a near-duplicate clip
    differing in at most 2 temporal-fingerprint bits, 0 when the
    perturbed frame is not first/middle/last). The production path
    runs real GIF frame decode (extract_frames: compose + PNG
    re-encode) -> real PNG decode + per-frame dHash (frame_dhash) ->
    the first/middle/last temporal fold (video_fingerprint) ->
    banded-Hamming pairing (video_near_pairs, Hamming <= 6). The
    oracle recomputes every clip's sampled-frame gradient bits from
    the same md5 bytes, folds the same 21/21/22-bit triple, and
    BRUTE-FORCES all pairs — banding recall checked against ground
    truth. Plan: Arrow map stages + one media-id fold + one band-key
    shuffle; no cross join on the Spark side."""
    from .operators.multimodal import video_fingerprint, video_near_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def build_gifs(batches):
        import hashlib as _hashlib

        import pandas as pd

        from .functions.gif import gif_encode

        gray = bytes(v for i in range(256) for v in (i, i, i))
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                text = text or ""
                hx = _hashlib.md5(text.encode("utf-8")).hexdigest()
                frames = []
                for f in range(5):
                    raw = b"".join(
                        _hashlib.md5((text + f":v{f}:{s}")
                                     .encode("utf-8")).digest()
                        for s in range(5))[:72]
                    frames.append(list(raw))
                out.append((int(doc_id) * 2,
                            gif_encode(frames, 9, 8, gray),
                            "image/gif"))
                if int(hx[0:2], 16) % 4 == 0:
                    jf = int(hx[2:4], 16) % 5
                    jp = int(hx[4:6], 16) % 72
                    v = int(hx[6:8], 16)
                    near = [list(fr) for fr in frames]
                    near[jf][jp] = v
                    out.append((int(doc_id) * 2 + 1,
                                gif_encode(near, 9, 8, gray),
                                "image/gif"))
            yield pd.DataFrame(out,
                               columns=["media_id", "payload", "mime"])

    media = docs.repartition(
        spark.sparkContext.defaultParallelism).mapInPandas(
        build_gifs, schema="media_id long, payload binary, mime string")
    fps = video_fingerprint(media)
    pairs = video_near_pairs(fps, max_hamming=6)
    return pairs.select(
        F.col("doc_a").alias("id_a"),
        F.col("doc_b").alias("id_b"),
        F.col("hamming").cast("int").alias("hamming"))


def _vfp_sql(c0: str, c2: str, c4: str) -> str:
    """The 64-bit temporal fingerprint as a SIGNED BIGINT from the
    three sampled frames' 144-hex-char pixel strings: vfp MSB-first
    bits 0..20 = frame c0's gradient bits 0..20, 21..41 = c2's 0..20,
    42..63 = c4's 0..21 — exactly video_fingerprint's
    shiftrightunsigned/shiftleft fold."""
    def gbit(col: str, g: int) -> str:
        y, x = divmod(g, 8)
        i = y * 9 + x

        def px(k):
            return f"CAST(('0x' || substr({col}, {2 * k + 1}, 2)) AS INT)"

        return f"(CASE WHEN {px(i)} < {px(i + 1)} THEN 1 ELSE 0 END)"

    def bit(b: int) -> str:
        if b <= 20:
            return gbit(c0, b)
        if b <= 41:
            return gbit(c2, b - 21)
        return gbit(c4, b - 42)

    return _fp_sql_from_bits(bit)


def _video_oracle() -> str:
    def frame_hex(f: int) -> str:
        parts = " || ".join(f"md5(text || ':v{f}:{s}')"
                            for s in range(5))
        return f"substr({parts}, 1, 144)"

    def perturbed(col: str, f: int) -> str:
        return (f"CASE WHEN jf = {f} THEN substr({col}, 1, 2 * jp)"
                f" || printf('%02x', v) || substr({col}, 2 * jp + 3)"
                f" ELSE {col} END")

    return f"""
WITH h AS MATERIALIZED (
  SELECT doc_id, md5(text) AS hx,
         {frame_hex(0)} AS c0,
         {frame_hex(2)} AS c2,
         {frame_hex(4)} AS c4
  FROM documents
), meta AS MATERIALIZED (
  SELECT doc_id, c0, c2, c4,
         CAST(('0x' || substr(hx, 1, 2)) AS INT) AS b0,
         CAST(('0x' || substr(hx, 3, 2)) AS INT) % 5 AS jf,
         CAST(('0x' || substr(hx, 5, 2)) AS INT) % 72 AS jp,
         CAST(('0x' || substr(hx, 7, 2)) AS INT) AS v
  FROM h
), vids AS MATERIALIZED (
  SELECT doc_id * 2 AS vid_id, c0, c2, c4 FROM meta
  UNION ALL
  SELECT doc_id * 2 + 1,
         {perturbed('c0', 0)},
         {perturbed('c2', 2)},
         {perturbed('c4', 4)}
  FROM meta WHERE b0 % 4 = 0
), fps AS MATERIALIZED (
  SELECT vid_id, {_vfp_sql('c0', 'c2', 'c4')} AS fp FROM vids
)
SELECT a.vid_id AS id_a, b.vid_id AS id_b,
       CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
FROM fps a JOIN fps b ON a.vid_id < b.vid_id
WHERE bit_count(xor(a.fp, b.fp)) <= 6
"""


ORACLE_VIDEO_NEAR_DUP = _video_oracle()
gate(video_near_dup_pairs, ORACLE_VIDEO_NEAR_DUP)
