"""Deduplication operators for large-scale corpus curation.

Five tiers (north-star extensions per the build brief; none exist in the
reference — they are the 100 TB-pipeline surface this engine adds):

- exact:          hash-groupBy on a normalized fingerprint
- minhash + LSH:  shingle -> k minhashes -> banded signatures ->
                  bucket-join candidates (no all-pairs work)
- simhash:        token-hash bit votes -> hamming-ball candidates
- n-gram jaccard: inverted-index join (queries.ngram_jaccard_pairs)
- embedding:      cosine near-dup via sign-LSH buckets (similarity.py)

Scale design: every path is shuffle-on-key + bounded per-key expansion.
The only quadratic step (pair generation) happens inside an LSH bucket /
shingle group whose size is capped, so worst-case work is
O(n * bucket_cap) — the standard web-scale dedup shape.

Hashes are md5-derived (not xxhash64) so DuckDB can replicate every
signature bit-for-bit — the correctness gate covers the *whole* LSH
pipeline, not just a rows-only count.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..identifiers import qcol as _qcol, quote_ident
from . import md5_long


def norm_text(col: Column) -> Column:
    """Canonical text form: lowercase, whitespace-collapsed."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def fingerprint(col: Column) -> Column:
    return F.md5(norm_text(col))


def _h(col: Column, seed: int) -> Column:
    """Deterministic 60-bit hash #seed: md5_long of ``x || ':seed'``."""
    return md5_long(F.concat(col, F.lit(f":{seed}")))


def _md5_window(digest: Column, j: int) -> Column:
    """32-bit hash #j sliced from a hex md5 digest (disjoint 8-hex
    windows; md5 bits are uniform so the four windows are independent).
    DuckDB: CAST(('0x' || substring(d, 8j+1, 8)) AS BIGINT)."""
    return F.conv(F.substring(digest, 8 * j + 1, 8), 16, 10).cast("long")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep min-id per normalized-text group. One shuffle on the
    fingerprint. NULL-text rows are excluded: md5(NULL) is NULL and a
    groupBy would merge every failed-extraction row into one bogus
    "duplicate" group (the signature tiers drop them the same way)."""
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_" + id_col), F.count(F.lit(1)).alias("n_copies"))
    )


def _word_shingles_expr(text_col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the column named ``text_col``.

    Tokenization is whitespace-split of the RAW text (case- and
    punctuation-sensitive) — deliberately, because every recorded
    DuckDB oracle replays exactly this form. Case-insensitive shingling
    is the caller's job: shingle a ``norm_text`` column (the form
    simhash/fingerprint use) instead of the raw one.

    Built from n shifted-array copies zipped together: arrays_zip pads
    the short tails with NULL and concat_ws drops them, so a doc
    shorter than n still yields ONE padded partial shingle, like the
    reference loop would (and blank text yields ``['']``). 2x faster
    than a per-index slice formulation, and parsed JVM-side in ONE
    Py4J call (~16 ms vs ~55 ms of per-node Column chatter — driver
    economy, guide §5). SQL arrays_zip names its fields by position,
    hence ``s['i']``."""
    toks = f"split(trim({quote_ident(text_col)}), '\\\\s+')"
    ln = f"greatest(size({toks}) - {n - 1}, 1)"
    zipped = ("arrays_zip("
              + ",".join(f"slice({toks}, {i + 1}, {ln})" for i in range(n))
              + ")")
    fields = ", ".join(f"s['{i}']" for i in range(n))
    return F.expr(f"array_distinct(transform({zipped},"
                  f" s -> concat_ws(' ', {fields})))")


def minhash_signature(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      num_hashes: int = 8, shingle_n: int = 3,
                      hash_family: str = "md5") -> DataFrame:
    """(id, sig: array<long>[num_hashes]) — min over shingles of hash_i.

    Shape: explode shingles -> groupBy(id).agg(min(h_i)...). The explode
    stream never crosses the wire — a doc's shingles stay contiguous in
    the map partition, so HashAggregate(partial) collapses them to ONE
    row per doc before the exchange; shuffle volume is O(docs), not
    O(shingles), at any scale. Measured 2.7x faster at sf0.1 than the
    shuffle-free array_min(transform(...)) formulation because explode +
    agg stays inside whole-stage codegen while higher-order lambdas are
    interpreted per element.

    Hash family: TWO md5 digests per shingle (seeds ':0'/':1'), sliced
    into four disjoint 8-hex (32-bit) windows each — num_hashes
    independent 32-bit hashes for num_hashes/4 md5 calls, every bit
    reproducible in DuckDB (see queries._minhash_oracle).

    hash_family='xxhash64' swaps in seeded xxhash64 (measured ~25%
    faster end-to-end) for production runs where DuckDB replay of the
    exact signature bits is not needed."""
    if hash_family not in ("md5", "xxhash64"):
        # a typo ('xxhash', 'xxHash64') must not silently fall back to
        # the md5 family — the signature bits and therefore the LSH
        # candidate set would differ from what the caller asked for
        # (review r5)
        raise ValueError(
            f"minhash_signature: hash_family {hash_family!r} not one of "
            "'md5', 'xxhash64'")
    # per-hash expressions arrive as SQL strings parsed JVM-side (ONE
    # Py4J call each instead of ~6 Column round-trips — the simhash
    # driver-economy fix; same resolved plan, signatures verified
    # row-identical over the full sf0.1 corpus for both families)
    grams = _word_shingles_expr(text_col, shingle_n)
    sh = df.select(F.col(id_col), F.explode(grams).alias("g"))
    arr = ("array(" + ",".join(f"h{i}" for i in range(num_hashes))
           + ") AS sig")
    if hash_family == "xxhash64":
        aggs = [F.expr(f"min(xxhash64(g, {i}))").alias(f"h{i}")
                for i in range(num_hashes)]
        sig = sh.groupBy(id_col).agg(*aggs)
        return sig.select(id_col, F.expr(arr))
    n_digests = (num_hashes + 3) // 4
    # materialize each digest once so the 4 windows per digest share it
    sh = sh.select(
        id_col, *[F.expr(f"md5(concat(g, ':{d}'))").alias(f"d{d}")
                  for d in range(n_digests)])
    aggs = [
        F.expr(f"min(CAST(conv(substring(d{i // 4}, {8 * (i % 4) + 1},"
               f" 8), 16, 10) AS BIGINT))").alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = sh.groupBy(id_col).agg(*aggs)
    return sig.select(id_col, F.expr(arr))


def _lsh_band_rows(sig: DataFrame, id_col: str,
                   num_hashes: int, bands: int) -> DataFrame:
    """(id, band int, key string) exploded LSH band rows of a minhash
    signature frame — factored out of ``minhash_lsh_candidates`` so
    the incremental text pipeline derives IDENTICAL band keys for its
    persisted state rows (the ``_hamming_band_array_expr`` no-drift
    discipline: a key-scheme drift between the batch and the
    accumulated state would silently void recall)."""
    if num_hashes % bands != 0:  # not assert: survives python -O
        raise ValueError(
            f"num_hashes {num_hashes} must divide into bands {bands}")
    r = num_hashes // bands
    # ONE parsed expression for the whole band array (driver economy,
    # see minhash_signature above); sig[i] is 0-based in Spark SQL
    # exactly like Column.__getitem__
    band_structs = F.expr("array(" + ",".join(
        f"struct({b} AS band, concat_ws('_', " + ", ".join(
            f"CAST(sig[{b * r + j}] AS STRING)" for j in range(r))
        + ") AS key)"
        for b in range(bands)) + ")")
    return (sig.select(id_col, F.explode(band_structs).alias("bk"))
            .select(id_col, F.col("bk.band").alias("band"),
                    F.col("bk.key").alias("key")))


def minhash_lsh_candidates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                           num_hashes: int = 8, bands: int = 4,
                           shingle_n: int = 3,
                           bucket_cap: int = 50,
                           hash_family: str = "md5") -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH.

    num_hashes/bands rows per band; docs agreeing on ALL rows of any band
    become a candidate pair. Plan: signature agg (shuffle 1) -> explode
    bands -> groupBy (band, key) (shuffle 2) -> in-bucket pair expansion
    capped at ``bucket_cap`` (skew guard) -> distinct pairs (shuffle 3).
    """
    sig = minhash_signature(df, text_col, id_col, num_hashes, shingle_n,
                            hash_family=hash_family)
    exploded = _lsh_band_rows(sig, id_col, num_hashes, bands)
    return _band_bucket_pairs(exploded, id_col, bucket_cap)


def _band_bucket_pairs(exploded: DataFrame, id_col: str,
                       bucket_cap: int) -> DataFrame:
    """Distinct candidate pairs from exploded (.., band, key, id) band
    rows: bucket on (band, key), cap degenerate buckets, expand
    in-bucket pairs — the tail of ``minhash_lsh_candidates``, factored
    so the incremental path can run it over a SUBSET of an existing
    band-row frame (signatures are per-doc deterministic, so one
    MinHash pass per batch serves the state probe, the in-batch
    bucketing and the state append)."""
    buckets = (
        exploded.groupBy("band", "key")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= bucket_cap))
    )
    from .pairs import sorted_array_pairs
    return buckets.select(
        sorted_array_pairs("ids", "doc_a", "doc_b").alias("p")
    ).select("p.doc_a", "p.doc_b").distinct()


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 16) -> DataFrame:
    """SimHash fingerprint: per-token md5-hash bit votes -> sign -> bits.
    (id, simhash long). Hamming-close fingerprints = near-dups.

    Up to ``bits=64``: the md5-derived token hash (_h) is 60 bits, so
    bits 60..63 vote from a SECOND salted hash stream (_h seed 1), and
    bit 63 contributes the two's-complement value -(2^63) — ``1 << 63``
    would overflow the signed long; the encoding stays bijective and
    xor/bit_count hamming is unaffected. Both conventions replay exactly
    in the DuckDB oracle (queries._simhash_oracle)."""
    if bits > 64:
        raise ValueError(f"simhash: bits={bits} exceeds the 64-bit "
                         "fingerprint word")
    toks = F.split(norm_text(F.col(text_col)), " ")
    # Explode + groupBy, NOT per-row F.aggregate lambdas: the token
    # stream collapses map-side (partial agg) so the exchange carries
    # one row per doc, and the whole vote loop stays in codegen —
    # measured 25% faster at sf0.1 than the interpreted higher-order
    # formulation. One md5 per token, shared by all bit votes via CSE.
    t = df.select(F.col(id_col), F.explode(toks).alias("tok"))
    cols = [id_col, _h(F.col("tok"), 0).alias("hv")]
    if bits > 60:
        cols.append(_h(F.col("tok"), 1).alias("hv1"))
    t = t.select(*cols)

    def bit_sql(j):
        src, off = ("hv", j) if j < 60 else ("hv1", j - 60)
        return f"shiftright({src}, {off}) & 1"

    # vote via plain bit SUMS + one token count instead of 64
    # sum(CASE ±1) aggregates: sign(sum ±1) == (2*sum(bit) > n), so
    # the fingerprint is bit-identical (ties -> 0 both ways; verified
    # by full-corpus equality at sf0.1) while each aggregate drops the
    # branch — measured ~15% faster end-to-end, and the DuckDB oracle
    # keeps its CASE formulation unchanged.
    # Expressions arrive as SQL strings parsed JVM-side (ONE Py4J call
    # per aggregate / ONE for the whole bit fold): the per-bit Column
    # chatter (~10 JVM round-trips x 64 bits x 2 loops) cost multiple
    # SECONDS of driver time per plan build at bits=64 — more than the
    # fingerprint pass itself computes in (the kmeans model-literal
    # finding, guide §5 driver economy). Same resolved plan, verified
    # fingerprint-identical over the full sf0.1 corpus.
    votes = [F.expr(f"sum({bit_sql(j)})").alias(f"b{j}")
             for j in range(bits)]
    agg = t.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"), *votes)

    def val_sql(j):
        # bit 63 votes the two's-complement value; the positive literal
        # 1<<63 does not parse as a BIGINT, so spell min-long directly
        return ("(-9223372036854775807L - 1L)" if j == 63
                else f"{1 << j}L")

    out = F.expr("CAST(" + " + ".join(
        f"(CASE WHEN b{j} * 2 > _n THEN {val_sql(j)} ELSE 0L END)"
        for j in range(bits)) + " AS BIGINT)")
    return agg.select(id_col, out.alias("simhash"))


def _hamming_band_array_expr(fp_col: str, bits: int,
                             max_hamming: int) -> Column:
    """The ``max_hamming + 1`` pigeonhole band keys of the signed
    fingerprint column named ``fp_col``, as one array — exploded only
    by ``fp_band_rows``, which ``fp_near_pairs`` and the
    incremental/streaming paths share, so the
    persisted state rows carry IDENTICAL keys (a key-scheme drift
    between the batch and the accumulated state would silently void
    recall). Bits distribute EVENLY over the bands (ceil-width slicing
    left the last band empty when (n_bands-1)*width >= bits — an
    all-constant block key putting the whole corpus in one bucket).
    A band of width >= 64 (bits=64, max_hamming=0) masks with -1: the
    all-ones mask (1<<64)-1 does not fit a long (review r5). Parsed
    JVM-side in ONE Py4J call (driver economy, guide §5 — this array
    is rebuilt by every fp gate and every micro-batch)."""
    n_bands = max_hamming + 1
    base_w, extra = divmod(bits, n_bands)
    fp = f"CAST({quote_ident(fp_col)} AS BIGINT)"
    parts, off = [], 0
    for i in range(n_bands):
        w = base_w + (1 if i < extra else 0)
        mask = -1 if w >= 64 else (1 << w) - 1
        parts.append(f"concat('B{i}_', CAST(shiftright({fp}, {off})"
                     f" & {mask}L AS STRING))")
        off += w
    return F.expr("array(" + ",".join(parts) + ")")


def fp_near_pairs(df: DataFrame, fp_col: str = "fp",
                  id_col: str = "doc_id",
                  bits: int = 64, max_hamming: int = 3,
                  bucket_cap: int | None = None) -> DataFrame:
    """Generic banded-Hamming near-pair join over a PRECOMPUTED
    integral fingerprint column (VERDICT r9 #3 — the candidate logic
    of simhash_near_pairs factored out so ANY 64-bit-or-narrower
    signature can pair: SimHash text fingerprints, dHash perceptual
    image hashes, any sketch that encodes similarity as Hamming
    proximity). Blocked on ``max_hamming + 1`` bands: by pigeonhole, a
    pair within distance <= max_hamming has at least one band with
    ZERO differing bits, so banded blocking has 100% recall (two
    half-bands only guarantee distance <= 1 — review r3). Block-join
    then exact hamming filter via bit_count(xor). Returns
    (doc_a, doc_b, hamming) with doc_a < doc_b. Scale: the block key
    bounds the join fanout; ``bucket_cap`` drops degenerate blocks
    (the minhash bucket_cap contract)."""
    # r12 (guide §2.4/§8): the band-row frame feeds BOTH self-join
    # sides and the bucket_cap size agg, and Catalyst/AQE do NOT reuse
    # the three copies of its subtree — so the whole upstream
    # fingerprint DAG (often a full tokenize+hash pass) executed up to
    # three times per call. One lazy localCheckpoint shares the single
    # materialization; the frame is (blk, fp, id) only — max_hamming+1
    # small rows per doc, the same proxy-sized unit the incremental
    # state store persists, so it is cheap at any scale. Measured
    # 3.6 s -> 2.4 s warm (15.9 -> 4.3 cold) on simhash_near_dup_pairs64
    # at sf0.1, outputs identical.
    blocks = fp_band_rows(df, fp_col, id_col, bits,
                          max_hamming).localCheckpoint(eager=False)
    if bucket_cap is not None:
        # skew guard (same contract as minhash bucket_cap): drop blocks
        # whose membership exceeds the cap — at 16 bits the fingerprint
        # space is only 65536 values, so a web-scale corpus MUST use
        # bits=64 (+ a cap) or accept quadratic in-block expansion.
        # The capped frame is checkpointed TOO (r13, guide §2.4): it
        # feeds both self-join sides, and without its own shared
        # materialization the size agg + cap join execute twice —
        # Catalyst/AQE never reuse the duplicated subtree. Same
        # (id, fp, blk) byte volume as the pre-cap checkpoint above,
        # so the trade holds at any scale.
        sizes = blocks.groupBy("blk").agg(F.count(F.lit(1)).alias("_bn"))
        blocks = (blocks.join(sizes, "blk")
                  .filter(F.col("_bn") <= bucket_cap).drop("_bn")
                  .localCheckpoint(eager=False))
    a, b = blocks.alias("a"), blocks.alias("b")
    ham = F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .filter(ham <= max_hamming)
        .select(F.col(f"a.{id_col}").alias("doc_a"),
                F.col(f"b.{id_col}").alias("doc_b"),
                ham.alias("hamming"))
        .distinct()
    )


def simhash_near_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       bits: int = 16, max_hamming: int = 3,
                       bucket_cap: int | None = None) -> DataFrame:
    """Near-dup pairs by simhash hamming distance: ``simhash``
    fingerprints then the generic banded-Hamming join
    (``fp_near_pairs`` — pigeonhole banding, exact bit_count(xor)
    filter; see there for the recall and bucket_cap contracts)."""
    sh = simhash(df, text_col, id_col, bits)
    return fp_near_pairs(sh, "simhash", id_col, bits, max_hamming,
                         bucket_cap)


def connected_components(edges: DataFrame, src: str = "doc_a",
                         dst: str = "doc_b", max_iter: int = 25) -> DataFrame:
    """Connected components over a candidate-pair edge list by iterative
    min-label propagation: every node repeatedly adopts the smallest
    label among itself and its neighbors until fixpoint. Returns
    (node, component) where component = min node id in the component.

    This is the step that turns pairwise near-dup CANDIDATES into
    canonical dedup GROUPS (keep min-id per component, drop the rest).

    Scale design: each iteration is one shuffle join (edges ⨝ labels on
    node) + one min-agg + one label self-join (pointer jump — see the
    loop comment) — the Pregel/GraphX large-graph shape, never a
    driver-side graph. Iterations are bounded by log2(graph diameter)
    thanks to the jump (near-dup components are shallow; 25 covers
    pathological chains far beyond any real corpus).
    ``localCheckpoint`` truncates the lineage each round so plan depth
    stays O(1) instead of O(iterations), which is what makes iteration
    viable on a real cluster.

    Round-12 job economy (guide §2.4 — iteration latency is per-round
    FIXED cost at any scale): (a) the symmetrized edge list is NOT
    distinct()'d — caller pair lists are distinct already (fp_near_pairs
    / jaccard_verify end distinct) and min-label propagation is
    idempotent to duplicate edges, so the exchange bought nothing;
    (b) label init FUSES the first propagation round into the node
    enumeration — every node appears as ``u`` in the symmetrized list,
    so one groupBy yields labels = min(self, neighbors), i.e. round 1,
    in the same job that used to compute the identity labels. Net: two
    fewer Spark jobs and one fewer convergence round per call, labels
    bit-identical (same min-label fixpoint);
    (c) for INTEGRAL node ids (every in-repo caller), convergence is
    detected by the MONOTONE LABEL SUM instead of an old-vs-new join:
    labels only ever decrease under min-propagation, so
    sum(component) is strictly decreasing until the fixpoint and
    equal sums between consecutive rounds mean exactly "no label
    changed" — the same action that materializes the round's lazy
    checkpoint now computes one scalar agg instead of a join of the
    two label generations (sf0.1 pair graph: 58 -> 40 jobs per call,
    labels verified row-identical). The sum is folded in decimal(38,0)
    (exact; ANSI bigint sum would overflow on a large graph of large
    ids). Round 1 unions the init-labels seed sum into the same
    action, so graphs whose fused init is already the fixpoint
    (all-star components — the common near-dup shape) still terminate
    after one round, as the old changed-count did. Non-integral ids
    (strings etc.) keep the old changed-count join, which only needs
    an ordering.
    """
    # LAZY checkpoint (r13, guide §2.4 job economy): the round-1
    # convergence action below references `both` through BOTH label
    # generations, but they share one RDD — the DAG scheduler computes
    # it once and the cache serves every later round. Eager spent a
    # whole extra Spark job just to materialize it up front (one per
    # call, across ~10 dedup gates and every streaming micro-batch).
    both = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).union(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    ).localCheckpoint(eager=False)
    labels = (both.groupBy("u")
              .agg(F.least(F.col("u"), F.min("v")).alias("component"))
              .withColumnRenamed("u", "node")
              .localCheckpoint(eager=False))
    integral_ids = isinstance(
        both.schema["u"].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType))

    def _label_sum(df: DataFrame) -> DataFrame:
        # count rides the same agg for free: it distinguishes a NULL
        # sum from an EMPTY frame (legitimate: no edges => no labels,
        # NULL sum both rounds => converged) from a NULL sum by
        # decimal(38,0) OVERFLOW (silently-wrong convergence, ADVICE
        # r12 — fail loudly instead)
        return df.agg(
            F.sum(F.col("component").cast("decimal(38,0)")).alias("s"),
            F.count(F.lit(1)).alias("n"))

    prev_sum = None
    for rnd in range(max_iter):
        # ESCALATING propagation (r13, guide §2.4 — every AQE exchange
        # is its own scheduled job, so ROUNDS are per-round fixed
        # latency at any scale, and the fixpoint-confirm round is a
        # full round too). Round 1 is the cheap single hop: the fused
        # init already equals the fixpoint on star-shaped components
        # (the dominant near-dup shape — verbatim copy groups), so
        # those graphs confirm in one minimal round exactly as before.
        # Round 2 (rnd == 1) stays a single hop as well (r13 follow-up,
        # measured): it is the pure CONFIRM round for depth-1 graphs —
        # chains like A~B~C where one loop hop finishes the labels —
        # which is the typical shape of an incremental/streaming
        # micro-batch's in-batch graph; running the 2-hop+jump form
        # there spent 8 jobs to change nothing (vs 4-5 for the minimal
        # hop). Only a graph still UNCONVERGED after two loop hops is
        # genuinely deep and escalates.
        # Rounds >= 3 — only deep graphs get here — run TWO hops, each
        # followed by a POINTER JUMP: every label value is itself a
        # node of the same component carrying its own (<=) label, so
        # one self-join rewrites label(u) <- label(label(u)), halving
        # the label-forest depth. Prop alone needs O(diameter) rounds;
        # prop+jump O(log d); two hops per round halves the number of
        # convergence checks on top (sf0.1 doc graph: 6 rounds/43 jobs
        # -> 3 rounds/~30, labels verified row-identical across all
        # variants). Labels stay node ids within their component and
        # stay non-increasing, so the monotone-sum convergence test
        # and the min-id fixpoint are untouched — equal sums still
        # mean prop(x) = x exactly (each step is pointwise <=, so
        # combined(x) = x forces prop(x) = x).
        merged = labels
        for _hop in range(1 if rnd <= 1 else 2):
            prop = both.join(merged, both.v == merged.node).select(
                F.col("u").alias("node"), F.col("component")
            )
            merged = (
                merged.union(prop)
                .groupBy("node")
                .agg(F.min("component").alias("component"))
            )
            if rnd > 1:
                l2 = merged.select(F.col("node").alias("_jn"),
                                   F.col("component").alias("_jc"))
                merged = (merged.join(l2,
                                      merged.component == F.col("_jn"))
                          .select("node",
                                  F.col("_jc").alias("component")))
        new_labels = merged.localCheckpoint(eager=False)
        # one action per round: it materializes the round's lazy
        # checkpoint AND answers "did anything change"
        if integral_ids:
            if prev_sum is None:
                # BOTH generations' sums in ONE exchange (r13, guide
                # §2.4): union the tagged label columns and aggregate
                # by tag — the unionAll-of-two-global-aggs form
                # materialized each side's agg as its own AQE stage
                # job (3 jobs for the action; this is 2). A groupBy
                # yields NO row for an empty side, so a missing tag
                # reads as (None, 0) — exactly the old global aggs'
                # empty-frame semantics (NULL sum, zero count).
                got = {r["_g"]: (r["s"], r["n"]) for r in
                       (labels.select(F.lit(0).alias("_g"), "component")
                        .unionAll(new_labels.select(
                            F.lit(1).alias("_g"), "component"))
                        .groupBy("_g")
                        .agg(F.sum(F.col("component")
                                   .cast("decimal(38,0)")).alias("s"),
                             F.count(F.lit(1)).alias("n"))
                        .collect())}
                prev_sum, prev_n = got.get(0, (None, 0))
                s, n = got.get(1, (None, 0))
                if prev_sum is None and prev_n:
                    raise ArithmeticError(
                        "connected_components: label sum overflowed "
                        "decimal(38,0) — convergence undetectable")
            else:
                s, n = _label_sum(new_labels).collect()[0]
            if s is None and n:
                # decimal(38,0) sum overflow yields NULL under
                # non-ANSI mode; NULL == NULL on consecutive rounds
                # would silently read as converged with wrong labels
                # (ADVICE r12). Practically unreachable (~1e38 total)
                # — but fail loudly, never silently-wrong. A NULL sum
                # over an EMPTY frame (no edges) stays a legitimate
                # fixpoint: None == None converges below.
                raise ArithmeticError(
                    "connected_components: label sum overflowed "
                    "decimal(38,0) — convergence undetectable")
            done = s == prev_sum
            prev_sum = s
        else:
            done = (
                new_labels.alias("n")
                .join(labels.alias("o"), F.col("n.node") == F.col("o.node"))
                .filter(F.col("n.component") < F.col("o.component"))
                .count()) == 0
        labels.unpersist()  # drop the previous checkpoint generation
        labels = new_labels
        if done:
            break
    else:
        # silent non-convergence would report one duplicate cluster as
        # several components — fail loudly instead
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "iterations (graph diameter exceeds it); raise max_iter")
    return labels


def duplicate_ngram_fraction(df: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id", n: int = 5,
                             carry: tuple = ()) -> DataFrame:
    """Cross-document duplication score per doc: the fraction of a
    document's DISTINCT word n-grams that also occur in at least one
    OTHER document (the corpus-level exact-substring-duplication signal
    from Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better" — there via suffix arrays; here via the n-gram
    approximation that distributes).

    Returns (id_col, *carry, n_grams, n_dup_grams, dup_fraction);
    `carry` columns ride along the explode so downstream roll-ups
    (per-source, per-lang) need no join back to the input.

    Scale shape: gram document-frequency comes from a map-side-
    combinable groupBy (one row per DISTINCT gram) joined back to the
    gram stream — NOT a window partitioned by gram, which would
    materialize a boilerplate gram's entire row set in one reducer
    (review r3: "all rights reserved" x millions of docs = one skewed
    window partition). The join key is the gram itself; AQE handles
    residual skew. The shuffle volume is the exploded gram stream, the
    unavoidable lower bound for exact cross-doc comparison.
    """
    # r12 (guide §2.4): the exploded gram stream feeds BOTH the
    # document-frequency agg and the flag join; without a shared
    # materialization the full tokenize+explode ran twice. The lazy
    # checkpoint stores (id, carry, gram) rows — the same order of
    # bytes the df_g shuffle already moves, so the trade holds at any
    # scale.
    grams = df.select(
        F.col(id_col), *[F.col(c) for c in carry],
        F.explode(_word_shingles_expr(text_col, n)).alias("g"),
    ).localCheckpoint(eager=False)
    gram_df = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df_g"))
    flagged = grams.join(gram_df, "g")
    return (
        flagged.groupBy(id_col, *carry)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("df_g") > 1).cast("long")).alias("n_dup_grams"),
        )
        .withColumn("dup_fraction", F.col("n_dup_grams") / F.col("n_grams"))
    )


def decontaminate(train: DataFrame, heldout: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  n: int = 8) -> DataFrame:
    """Benchmark decontamination: drop every train row that shares ANY
    word n-gram with the held-out/eval corpus (the standard guard
    against test-set leakage into a training set; 8-13 word grams are
    the published range — 8 here because the synthetic docs are short).

    Scale shape: held-out grams are exploded and deduplicated, train
    grams are exploded and semi-joined against them on the gram STRING —
    an inverted-index membership probe, never an all-pairs comparison.
    No broadcast hint: eval suites are small today but the held-out side
    scales with whatever corpus is quarantined, so AQE picks broadcast
    while it fits and a shuffled semi-join beyond. Contaminated ids are
    distinct'd BEFORE the anti-join so the final probe is id-vs-id,
    not id-vs-gram-explosion.

    Held-out items SHORTER than ``n`` tokens emit only a whole-doc
    partial gram, which can never equal a full train n-gram — those are
    matched by an explicit substring ``contains`` probe instead (the
    short-item set is distinct'd and tiny relative to the eval corpus;
    the probe is a broadcast filter over the train scan). Without it a
    7-token eval answer quoted verbatim inside a long train doc
    silently survived decontamination (review r3).
    """
    tg = train.select(
        F.col(id_col), F.explode(_word_shingles_expr(text_col, n)).alias("g")
    )
    # _word_shingles_expr('') is [''] — an EMPTY held-out doc would otherwise
    # put the empty gram in the index and "contaminate" every empty
    # train doc (review r5, found by the decontaminate property test)
    hg = heldout.select(
        F.explode(_word_shingles_expr(text_col, n)).alias("g")
    ).filter(F.col("g") != "").distinct()
    bad = tg.join(hg, "g", "left_semi").select(id_col).distinct()

    # short held-out items: token-sequence containment against train
    # text. Both sides are whitespace-COLLAPSED (case-preserving, like
    # the case-sensitive n-gram path above) and the probe is anchored
    # on token boundaries by padding with spaces — a raw substring
    # contains() matched mid-token ('ice' hit 'service', dropping most
    # of the corpus for a 1-token eval answer) and missed real leakage
    # across differing whitespace (review r4)
    def ws_norm(c):
        return F.regexp_replace(F.trim(c), r"\s+", " ")

    toks = F.split(ws_norm(F.col(text_col)), " ")
    shorts = (heldout
              .filter(F.size(toks) < n)
              .select(ws_norm(F.col(text_col)).alias("_short"))
              .filter(F.col("_short") != "")
              .distinct())
    padded_train = F.concat(F.lit(" "), ws_norm(F.col(text_col)),
                            F.lit(" "))
    bad_short = (train
                 .join(F.broadcast(shorts),
                       padded_train.contains(
                           F.concat(F.lit(" "), F.col("_short"),
                                    F.lit(" "))))
                 .select(id_col).distinct())
    # the two id sets are each distinct'd above (shrinking the gram /
    # containment explosions to ids); cross-set overlap needs no third
    # distinct — the anti-join is duplicate-invariant (r12, guide §2.4)
    bad = bad.unionByName(bad_short)
    return train.join(bad, id_col, "left_anti")


def exact_substring_spans(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", k: int = 8) -> DataFrame:
    """Exact-substring duplication spans (the Lee et al. "Deduplicating
    Training Data Makes Language Models Better" signal, span-level):
    for every document, the maximal token spans whose every k-token
    window also appears in ANOTHER document — the text a span-level
    dedup pass would cut.

    Distributed shape (no suffix array needed at this granularity):
    1. positional k-gram explode — (doc, pos, gram) via a JVM
       sequence+slice transform (one scan, no Python);
    2. gram doc-frequency: grams kept only if seen in >=2 DISTINCT
       docs (two-level agg, map-side combinable) — the inverted-index
       membership filter, same discipline as decontaminate();
    3. semi-join positions against shared grams (AQE broadcasts the
       shared-gram set while it fits);
    4. per-doc gaps-and-islands over surviving positions: windows
       whose starts are within k of each other overlap, so islands of
       positions merge into maximal spans (one window shuffle on doc).

    Returns (doc_id, span_start, span_end, span_tokens) — 0-based
    token offsets, end exclusive. Aggregate for rates; feed to a
    slicing pass to actually cut the spans."""
    from pyspark.sql import Window as W

    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = df.select(F.col(id_col), toks.alias("t")).filter(
        F.size("t") >= k)
    grams = base.select(
        id_col,
        F.explode(F.expr(
            f"transform(sequence(1, size(t) - {k} + 1),"
            f" i -> struct(i AS pos, concat_ws(' ', slice(t, i, {k})) AS g))"
        )).alias("pg"))
    # r12 (guide §2.4): the positional gram stream feeds the shared-gram
    # doc-frequency agg AND the membership semi-join; share one
    # materialization instead of exploding the corpus twice
    pos = grams.select(id_col, F.col("pg.pos").alias("pos"),
                       F.col("pg.g").alias("g")).localCheckpoint(eager=False)
    shared = (pos.select("g", id_col).distinct()
              .groupBy("g").agg(F.count(F.lit(1)).alias("df"))
              .filter(F.col("df") >= 2).select("g"))
    hits = pos.join(shared, "g", "left_semi")
    w = W.partitionBy(id_col).orderBy("pos")
    islands = (hits
               .withColumn("new", F.when(
                   F.col("pos") - F.lag("pos", 1, -10**9).over(w) > k, 1)
                   .otherwise(0))
               .withColumn("island", F.sum("new").over(
                   w.rowsBetween(W.unboundedPreceding, 0))))
    return (islands.groupBy(id_col, "island")
            .agg((F.min("pos") - 1).alias("span_start"),
                 (F.max("pos") + k - 1).alias("span_end"))
            .withColumn("span_tokens",
                        F.col("span_end") - F.col("span_start"))
            .select(id_col, "span_start", "span_end", "span_tokens"))


def dedup_incremental(new_batch: DataFrame,
                      seen_fps: DataFrame | None,
                      text_col: str = "text",
                      id_col: str = "doc_id"):
    """Exact dedup of an ARRIVING batch against everything already
    accepted — the incremental-corpus primitive the reference's chain
    model implies (each day's import links to yesterday's; dedup must
    not rescan the chain): the accumulated state is ONE fingerprint
    column (``fp``), persisted between batches (Dataset chain /
    parquet), never the corpus text.

    Returns ``(kept, fps)``: ``kept`` = the batch rows that survive —
    not fingerprint-seen before AND min-id within their in-batch
    duplicate group; ``fps`` = ``seen_fps`` ∪ kept's fingerprints, the
    state to persist for the next batch. Pass ``seen_fps=None`` for
    the first batch.

    Scale shape: one fingerprint shuffle over the NEW batch (its
    in-batch min-id group), one left-anti join against the state
    (AQE broadcasts the state while it fits; beyond that both sides
    hash-partition on fp — bucketing the persisted state on fp makes
    the join shuffle-free on the state side). Batch cost is
    O(new batch), never O(corpus)."""
    fp = fingerprint(F.col(text_col))
    in_batch = (new_batch
                .filter(F.col(text_col).isNotNull())
                .withColumn("fp", fp))
    winners = (in_batch.groupBy("fp")
               .agg(F.min(id_col).alias(id_col)))
    if seen_fps is not None:
        winners = winners.join(seen_fps.select("fp"), "fp", "left_anti")
    kept = new_batch.join(winners.select(id_col), id_col)
    new_fps = winners.select("fp")
    fps = (new_fps if seen_fps is None
           else seen_fps.select("fp").unionByName(new_fps))
    return kept, fps


def near_dedup(df: DataFrame, fp_col: str = "fp",
               id_col: str = "doc_id",
               bits: int = 64, max_hamming: int = 3,
               bucket_cap: int | None = None,
               pairs: DataFrame | None = None,
               keep: str | tuple = "min_id"):
    """One-call NEAR-dedup — the corpus-shrinking composition every
    curation pipeline runs last (VERDICT r10 #1): banded-Hamming
    candidate pairs over a precomputed fingerprint column
    (``fp_near_pairs`` — 100%-recall pigeonhole banding, exact
    bit_count(xor) filter), connected components over the pairs
    (``connected_components`` — min-label propagation), then the
    survivor anti-join: the min-id member of each component is kept,
    every other member is dropped.

    Parameterized by fingerprint column, so ANY ≤64-bit Hamming
    signature rides it unchanged: ``simhash`` text fingerprints,
    ``image_dhash`` perceptual hashes (via dhash_hex_to_long),
    ``audio_ehash`` energy envelopes. ``pairs`` overrides candidate
    generation with a caller-supplied (doc_a, doc_b, ...) edge list
    (e.g. minhash_lsh_candidates output) — fingerprint params are
    ignored then.

    Returns ``(kept, report)``:

    - ``kept``   — the input rows minus dropped near-duplicates
                   (schema unchanged);
    - ``report`` — one row PER MEMBER of each duplicate group:
                   (id_col, ``kept_<id_col>`` = the group's surviving
                   id, ``group_n`` = member count). Singleton docs
                   (no near-dup) do not appear — the report is the
                   dropped-groups ledger, joinable back by id.

    ``keep`` is the SURVIVOR POLICY (VERDICT r11 #3 — real curation
    keeps the longest / highest-quality member, not the smallest id):

    - ``"min_id"`` (default) — the component's min-id member survives
      (bit-compatible with every pre-r12 gate);
    - ``("max", col)`` / ``("min", col)`` — the member with the
      largest / smallest value of ``df[col]`` survives (e.g.
      ``("max", "text_len")`` keeps the longest document). Ties break
      DETERMINISTICALLY on min id (the argmax_suite exact-fold
      discipline), and a NULL quality value orders LAST under either
      direction — a failed-extraction doc never beats a scored one.
      One row_number window per component (components are
      near-dup-group sized, so the partition is tiny at any corpus
      scale) picks the winner; everything else is the same anti-join.

    Scale: the pair step is block-key-bounded (see fp_near_pairs),
    components are Pregel-shaped iterations bounded by group diameter,
    and the survivor step is one anti-join on id — no stage holds a
    component's text, only ids and fingerprints. NULL fingerprints
    never pair (a NULL band key joins nothing), so failed-extraction
    rows pass through ``kept`` untouched — the exact_dedup NULL
    discipline."""
    if pairs is None:
        pairs = fp_near_pairs(df, fp_col, id_col, bits, max_hamming,
                              bucket_cap)
    cc = connected_components(pairs)  # (node, component=min member id)
    sizes = cc.groupBy("component").agg(
        F.count(F.lit(1)).alias("group_n"))
    if keep == "min_id":
        losers = (cc.filter(F.col("node") != F.col("component"))
                  .select(F.col("node").alias(id_col)))
        kept = df.join(losers, id_col, "left_anti")
        report = (cc.join(sizes, "component")
                  .select(F.col("node").alias(id_col),
                          F.col("component").alias("kept_" + id_col),
                          "group_n"))
        return kept, report
    try:
        direction, qcol = keep
    except (TypeError, ValueError):
        raise ValueError(
            f"near_dedup: keep={keep!r} must be 'min_id' or a "
            "('max'|'min', column) tuple")
    if direction not in ("min", "max"):
        raise ValueError(
            f"near_dedup: keep direction {direction!r} must be "
            "'min' or 'max'")
    from pyspark.sql import Window
    q = df.select(F.col(id_col).alias("node"), F.col(qcol).alias("_q"))
    order = (F.col("_q").desc_nulls_last() if direction == "max"
             else F.col("_q").asc_nulls_last())
    memb = cc.join(q, "node")
    w = Window.partitionBy("component").orderBy(order,
                                                F.col("node").asc())
    winner = (memb.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") == 1)
              .select("component", F.col("node").alias("_surv")))
    labeled = cc.join(winner, "component")
    losers = (labeled.filter(F.col("node") != F.col("_surv"))
              .select(F.col("node").alias(id_col)))
    kept = df.join(losers, id_col, "left_anti")
    report = (labeled.join(sizes, "component")
              .select(F.col("node").alias(id_col),
                      F.col("_surv").alias("kept_" + id_col),
                      "group_n"))
    return kept, report


def _candidate_gram_sets(pairs: DataFrame, df: DataFrame,
                         text_col: str, id_col: str,
                         shingle_n: int) -> DataFrame:
    """(id, gs: array<string>) — each CANDIDATE document's distinct
    word-shingle SET as one array row: the corpus is semi-joined to
    the pairs' doc ids before any shingle work (VERDICT r11 — at
    100 TB with a sparse candidate set this bounds the verify stage's
    scan by candidate docs; the LeftSemi shape is plan-asserted in
    tests). ``_word_shingles_expr`` is already array_distinct per doc, so
    the array IS the distinct gram set the DuckDB oracles declare
    (SELECT DISTINCT grams) — no explode, no grams-level distinct
    exchange (r13, guide §2.3/§2.4: the per-(pair,gram) roll-up
    shuffled the exploded gram stream; set intersection over two
    array cells is one codegen'd expression instead). The (id, text)
    distinct keeps the gram set per id well-defined when the caller's
    frame carries DUPLICATE id rows (an at-least-once replay whose
    batch overlaps the kept corpus — found by the 16x replay scale
    test); duplicate ids with DIFFERING text remain the caller's
    contract, as ever."""
    # no distinct on the id union: the semi-join below is
    # duplicate-invariant, so the exchange bought nothing (r12, §2.4)
    cand_ids = (pairs.select(F.col("doc_a").alias(id_col))
                .unionByName(pairs.select(F.col("doc_b").alias(id_col))))
    bounded = df.join(cand_ids, id_col, "left_semi")
    return (bounded.select(F.col(id_col), F.col(text_col).alias("_t"))
            .distinct()
            .select(F.col(id_col),
                    _word_shingles_expr("_t", shingle_n).alias("gs")))


def jaccard_verify(pairs: DataFrame, df: DataFrame,
                   text_col: str = "text", id_col: str = "doc_id",
                   shingle_n: int = 3,
                   threshold: float = 0.5) -> DataFrame:
    """Exact word-shingle Jaccard for CANDIDATE pairs only — the
    verification stage of the classic MinHash pipeline (LSH buckets
    propose, exact Jaccard disposes): banding admits false positives
    by design, and survivor selection must not merge documents that
    merely collided in one band. Returns (doc_a, doc_b, jaccard) for
    pairs at or above ``threshold``.

    Shingles are ``_word_shingles_expr`` (distinct word n-grams, the same
    form the MinHash signatures hashed — so the verified similarity
    measures exactly what the candidates estimated). Scale shape: the
    corpus is first SEMI-JOINED to the pairs' doc ids, so only
    candidate documents are ever shingled or sized (VERDICT r11 —
    at 100 TB with a sparse candidate set this cuts the verify
    stage's input by orders of magnitude; the non-candidate docs'
    grams cannot reach the output anyway, every downstream join is
    inner on the pair ids). Each pair is then attached to both
    members' distinct gram-set ARRAYS (small per-candidate rows — AQE
    broadcasts them) and intersection/union are computed as one
    codegen'd array expression per pair — work is bounded by the
    CANDIDATE set times document shingle count, never all-pairs; the
    candidate set is already LSH/bucket_cap-bounded upstream."""
    # the pair list is referenced by the semi-join and both gram-set
    # attaches — and since the corpus is bounded BY the pairs, every
    # reference would otherwise re-run the (expensive: LSH or
    # state-probe) candidate DAG; lazy localCheckpoint computes it once
    # and shares it (the graph.py edge-list discipline). The frame is
    # small — bucket/candidate bounded upstream. A duplicated pair row
    # is scored once.
    pairs = (pairs.select("doc_a", "doc_b")
             .dropDuplicates(["doc_a", "doc_b"])
             .localCheckpoint(eager=False))
    # candidate docs' gram SETS feed both sides of the pair attach:
    # share ONE materialization
    g = _candidate_gram_sets(pairs, df, text_col, id_col,
                             shingle_n).localCheckpoint(eager=False)
    # r13 (guide §2.3/§2.4, supersedes the r12 per-(pair,gram)
    # roll-up): attach each pair to both members' distinct gram-set
    # ARRAYS (two joins of a small per-candidate frame — AQE
    # broadcasts it; the exploded-gram shuffle, its distinct and the
    # two wide groupBys are gone), then Jaccard is one codegen'd
    # expression: common = size(array_intersect(A, B)) — exactly the
    # old per-(pair,gram) c=2 count, the arrays being distinct sets —
    # and union = size(A) + size(B) - common, the same integers and
    # the same single double division as every earlier formulation.
    # A pair appears iff at least ONE member has a gram set (NULL text
    # yields none), exactly as the unioned inner joins admitted it;
    # missing sides count as the empty set, so one-sided pairs score
    # jaccard = 0 — visible only at threshold <= 0, bit-identical to
    # r12 (the threshold=0.0 "all scored, none lost" contract).
    a = g.select(F.col(id_col).alias("doc_a"), F.col("gs").alias("_ga"))
    b = g.select(F.col(id_col).alias("doc_b"), F.col("gs").alias("_gb"))
    attached = (pairs.join(a, "doc_a", "left")
                .join(b, "doc_b", "left")
                .filter(F.col("_ga").isNotNull()
                        | F.col("_gb").isNotNull()))
    empty = F.array().cast("array<string>")
    ga, gb = F.coalesce("_ga", empty), F.coalesce("_gb", empty)
    common = F.size(F.array_intersect(ga, gb))
    union = F.size(ga) + F.size(gb) - common
    out = attached.select(
        "doc_a", "doc_b", (common / union).alias("jaccard"))
    return out.filter(F.col("jaccard") >= threshold)


def text_near_dedup(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    num_hashes: int = 8, bands: int = 4,
                    shingle_n: int = 3, threshold: float = 0.5,
                    bucket_cap: int = 50,
                    hash_family: str = "md5",
                    keep: str | tuple = "min_id"):
    """The classic corpus text near-dedup pipeline in ONE call — the
    C4/RefinedWeb-style operation a curation team actually runs:
    MinHash-LSH candidates (``minhash_lsh_candidates``) -> exact
    Jaccard verification at ``threshold`` (``jaccard_verify``) ->
    connected components -> min-id survivor selection
    (``near_dedup``). Returns ``(kept, report, verified_pairs)``:
    the shrunk corpus (input schema unchanged), the per-member
    dropped-groups ledger, and the verified edge list with its
    Jaccard scores (land it beside the corpus for provenance).

    Every stage is the gated production operator; ``hash_family=
    'xxhash64'`` swaps the faster signature family in for production
    runs where DuckDB replay is not needed. Scale: LSH banding bounds
    the candidate set, bucket_cap guards degenerate buckets, the
    verify join is candidate-bounded, components are Pregel-shaped —
    no stage is quadratic in the corpus."""
    cands = minhash_lsh_candidates(
        df, text_col, id_col, num_hashes, bands, shingle_n,
        bucket_cap, hash_family)
    verified = jaccard_verify(cands, df, text_col, id_col, shingle_n,
                              threshold)
    kept, report = near_dedup(df, id_col=id_col, pairs=verified,
                              keep=keep)
    return kept, report, verified


def fp_band_rows(df: DataFrame, fp_col: str = "fp",
                 id_col: str = "doc_id",
                 bits: int = 64, max_hamming: int = 3) -> DataFrame:
    """The (blk, fp, id) band-row form of a fingerprinted frame — the
    unit the incremental near-dedup state store accumulates
    (max_hamming + 1 rows per doc, keys from ``_hamming_band_array_expr``
    so they always match what fp_near_pairs blocks on). Exposed so
    sinks can append ONLY a batch's kept band rows (a delta) instead
    of rewriting the whole accumulated state.

    Every fingerprint band row in this module comes from here, so the
    pigeonhole checks live here too: ``max_hamming + 1`` bands over
    ``bits`` bits of one 64-bit word."""
    if bits > 64:
        raise ValueError(f"bits={bits} exceeds the 64-bit fingerprint "
                         "word")
    if max_hamming >= bits:
        # pigeonhole needs max_hamming+1 bands over `bits` bits; at
        # max_hamming >= bits a pair differing in EVERY bit is still
        # within distance yet shares no band — silently under-recalling
        # instead of honoring the documented 100% guarantee (review r4)
        raise ValueError(
            f"max_hamming {max_hamming} >= bits {bits} voids the "
            "pigeonhole recall guarantee — raise bits or lower "
            "max_hamming")
    return df.select(
        F.col(id_col), _qcol(fp_col).cast("long").alias("fp"),
        F.explode(
            _hamming_band_array_expr(fp_col, bits, max_hamming)
        ).alias("blk"),
    ).select("blk", "fp", id_col)


def state_near_ids(new_batch: DataFrame, state: DataFrame,
                   fp_col: str = "fp", id_col: str = "doc_id",
                   bits: int = 64, max_hamming: int = 3) -> DataFrame:
    """Batch ids whose fingerprint is within ``max_hamming`` of ANY
    fingerprint in the accumulated state (the probe step of
    ``near_dedup_incremental``, exposed so its plan shape is
    testable). ``state`` is the exploded band-row store
    (blk, fp, id_col) that ``near_dedup_incremental`` maintains.

    Plan shape — the O(batch) contract: the batch's band rows are
    BROADCAST (a batch is small relative to an accumulated corpus),
    so the state side streams through the join with NO shuffle — each
    state partition probes the broadcast hash table in place, and the
    only exchange in the plan is the O(batch) distinct on the matched
    ids. Banding bounds candidates exactly as in fp_near_pairs: only
    state rows sharing a band key with a batch row reach the
    bit_count filter."""
    bb = F.broadcast(
        fp_band_rows(new_batch, fp_col, id_col, bits, max_hamming).select(
            F.col(id_col).alias("_bid"), F.col("fp").alias("_bfp"), "blk"))
    near = (state.join(bb, "blk")
            .filter(F.bit_count(F.col("fp").bitwiseXOR(F.col("_bfp")))
                    <= max_hamming)
            .select(F.col("_bid").alias(id_col)).distinct())
    return near


def near_dedup_incremental(new_batch: DataFrame,
                           state: DataFrame | None,
                           fp_col: str = "fp",
                           id_col: str = "doc_id",
                           bits: int = 64, max_hamming: int = 3,
                           bucket_cap: int | None = None,
                           keep: str | tuple = "min_id"):
    """NEAR-dedup of an ARRIVING batch against everything already kept
    — the banded-Hamming extension of ``dedup_incremental`` (VERDICT
    r10 #2): a rolling crawl that wants "skip documents near anything
    already kept" must not re-pair the full corpus each day.

    The accumulated state is the exploded band-row store
    ``(blk string, fp long, id_col)`` — ``max_hamming + 1`` rows per
    KEPT document, the same pigeonhole band keys ``fp_near_pairs``
    blocks on (``_hamming_band_array_expr`` — shared code, so batch and
    state keys can never drift). Persist it between batches (Dataset
    chain / parquet, ideally bucketed on ``blk``); pass ``None`` for
    the first batch.

    Batch semantics (first-batch-wins, replayed by the
    near_dedup_incremental_report oracle): a batch row survives iff

    (a) no KEPT fingerprint lies within ``max_hamming`` — the banded
        state probe (``state_near_ids``); and
    (b) among rows passing (a), it is the surviving member of its
        in-batch near-dup component (``near_dedup`` on the batch —
        min-id by default; ``keep`` selects the in-batch survivor
        policy, e.g. ``("max", quality_col)``).

    A row near a state fingerprint drops immediately; rows near only
    IT are judged by the remaining subgraph — the greedy
    check-the-store-then-dedup-the-batch order a sequential ingester
    would produce.

    Returns ``(kept, new_state)``: ``kept`` = surviving batch rows
    (schema unchanged), ``new_state`` = state ∪ the kept rows' band
    rows.

    Scale: the state probe broadcasts the BATCH side (see
    state_near_ids — the state is never shuffled, candidates are
    O(batch)), the in-batch step is O(batch)
    fp_near_pairs work, and the state grows by max_hamming+1 rows per
    kept doc — fingerprints and ids only, never text."""
    if state is not None:
        near = state_near_ids(new_batch, state, fp_col, id_col, bits,
                              max_hamming)
        # pass_a feeds the in-batch pair blocking, the survivor
        # anti-join AND the kept band rows — without a lazy checkpoint
        # each consumer re-runs the state probe (the
        # text_near_dedup_incremental discipline; r12, guide §2.4)
        pass_a = (new_batch.join(near, id_col, "left_anti")
                  .localCheckpoint(eager=False))
    else:
        pass_a = new_batch
    # keep applies to the IN-BATCH survivor choice only: cross-batch
    # precedence stays first-arrival-wins (a doc near anything already
    # kept drops regardless of quality — the state holds no quality
    # column to argue with, by design)
    kept, _ = near_dedup(pass_a, fp_col, id_col, bits, max_hamming,
                         bucket_cap, keep=keep)
    # NULL fingerprints pass through `kept` (the exact_dedup NULL
    # discipline) but must NOT enter the state: a NULL fp yields NULL
    # band keys that can never match a probe, yet would accumulate
    # max_hamming+1 junk rows per failed-extraction doc in the
    # persisted store forever (ADVICE r11)
    kept_bands = fp_band_rows(kept.filter(F.col(fp_col).isNotNull()),
                              fp_col, id_col, bits, max_hamming)
    new_state = (kept_bands if state is None
                 else state.select("blk", "fp", id_col)
                 .unionByName(kept_bands))
    return kept, new_state


def text_band_rows(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   num_hashes: int = 8, bands: int = 4,
                   shingle_n: int = 3,
                   hash_family: str = "md5") -> DataFrame:
    """The ``(band int, key string, id)`` LSH band-bucket form of a
    text corpus — the unit the incremental TEXT near-dedup state store
    accumulates (``bands`` rows per document), the MinHash analogue of
    ``fp_band_rows``. Keys come from ``_lsh_band_rows`` over the same
    ``minhash_signature`` the batch pipeline hashes, so batch and
    state keys can never drift. Documents with NULL text produce no
    shingles, hence NO band rows — they pass through ``kept``
    untouched (the exact_dedup NULL discipline) and never enter the
    state. (Whitespace-only text is NOT null: per _word_shingles_expr it
    yields one empty partial shingle, so blank docs near-dup each
    other — the batch pipeline's semantics, unchanged.)"""
    sig = minhash_signature(df, text_col, id_col, num_hashes, shingle_n,
                            hash_family=hash_family)
    return (_lsh_band_rows(sig, id_col, num_hashes, bands)
            .select("band", "key", id_col))


def text_state_candidates(batch_bands: DataFrame, state: DataFrame,
                          id_col: str = "doc_id") -> DataFrame:
    """Candidate (doc_a = batch id, doc_b = kept id) pairs: batch docs
    sharing ANY LSH band bucket with a kept doc — the probe step of
    ``text_near_dedup_incremental``, exposed so its plan shape is
    testable (the ``state_near_ids`` pattern).

    Plan shape — the O(batch) contract: the batch's band rows are
    BROADCAST, so the accumulated state streams through the join with
    NO shuffle; the only exchange is the O(candidates) distinct."""
    bb = F.broadcast(batch_bands.select("band", "key",
                                        F.col(id_col).alias("_bid")))
    return (state.join(bb, ["band", "key"])
            .select(F.col("_bid").alias("doc_a"),
                    F.col(id_col).alias("doc_b"))
            .distinct())


def text_near_dedup_incremental(new_batch: DataFrame,
                                state: DataFrame | None,
                                kept_corpus: DataFrame | None,
                                text_col: str = "text",
                                id_col: str = "doc_id",
                                num_hashes: int = 8, bands: int = 4,
                                shingle_n: int = 3,
                                threshold: float = 0.5,
                                bucket_cap: int = 50,
                                hash_family: str = "md5",
                                keep: str | tuple = "min_id",
                                batch_bands: DataFrame | None = None):
    """The ROLLING form of the classic MinHash/Jaccard text pipeline
    (VERDICT r11 #2): a daily crawl that wants "skip documents
    Jaccard-near anything already kept" must not re-run MinHash over
    the full corpus — ``text_near_dedup`` is batch-only, this is its
    O(batch) per-ingest twin, the ``near_dedup_incremental`` of LSH
    band buckets.

    The accumulated ``state`` is the band-bucket store
    ``(band int, key string, id)`` — ``bands`` rows per KEPT document
    (``text_band_rows``, same ``_lsh_band_rows`` keys the batch
    pipeline blocks on). ``kept_corpus`` is the kept documents'
    ``(id, text)`` source — the exact-Jaccard verify stage joins the
    candidates back to it by id, so the state itself never stores
    text. Persist both between batches; pass ``None``/``None`` for
    the first batch.

    Batch semantics (first-batch-wins, replayed by the
    text_near_dedup_incremental_report oracle): a batch row survives
    iff

    (a) no kept document verifies Jaccard >= ``threshold`` against it
        among the LSH candidates (``text_state_candidates`` proposes
        — any shared band bucket; ``jaccard_verify`` disposes —
        exact word-shingle Jaccard, candidate-bounded); and
    (b) among rows passing (a), it survives the in-batch
        ``text_near_dedup`` (LSH + verify + components; min-id by
        default, ``keep`` selects the in-batch survivor policy —
        cross-batch precedence stays first-arrival-wins).

    Returns ``(kept, new_state)``: the surviving batch rows (schema
    unchanged) and state ∪ the kept rows' band rows. The caller
    appends ``kept`` to its kept corpus — the next batch's
    ``kept_corpus``.

    Scale: the state probe broadcasts the BATCH side (the state never
    shuffles — see text_state_candidates), the verify join is
    candidate-bounded (only candidate doc ids are ever shingled), the
    in-batch step is O(batch) LSH work, and the state grows ``bands``
    rows per kept doc — band keys and ids only, never text."""
    if (state is None) != (kept_corpus is None):
        raise ValueError(
            "text_near_dedup_incremental: state and kept_corpus must "
            "both be None (first batch) or both be set — the verify "
            "stage joins state candidates back to the kept corpus")
    # ONE MinHash pass per batch: signatures are per-doc deterministic,
    # so these band rows serve the state probe, the in-batch bucketing
    # (restricted to pass-A survivors by semi-join) and the state
    # append — instead of three separate signature computations; lazy
    # checkpoint shares the one materialization (the graph.py edge-list
    # discipline), O(bands x batch) rows. ``batch_bands`` lets a caller
    # that ALSO needs the band rows (the streaming micro-batch writes
    # the kept delta to its state store) inject the one shared
    # materialization instead of re-running MinHash over the kept text
    # (r12, guide §2.4); it must be exactly ``text_band_rows(new_batch,
    # ...)`` with the same hash parameters, already checkpoint-shared.
    if batch_bands is None:
        batch_bands = text_band_rows(new_batch, text_col, id_col,
                                     num_hashes, bands, shingle_n,
                                     hash_family).localCheckpoint(eager=False)
    elif set(batch_bands.columns) != {"band", "key", id_col}:
        # cheap shape guard (ADVICE r12): a frame that is not the
        # text_band_rows(new_batch, ...) form would silently corrupt
        # both the state probe and the persisted state store. (Hash-
        # parameter drift inside a well-shaped frame remains the
        # caller's contract — the band keys are opaque strings here.)
        raise ValueError(
            "text_near_dedup_incremental: batch_bands columns "
            f"{batch_bands.columns} != ['band', 'key', {id_col!r}] — "
            "pass text_band_rows(new_batch, ...) with matching params")
    if state is not None:
        cand = text_state_candidates(batch_bands, state, id_col)
        corpus = (new_batch.select(id_col, text_col)
                  .unionByName(kept_corpus.select(id_col, text_col)))
        verified = jaccard_verify(cand, corpus, text_col, id_col,
                                  shingle_n, threshold)
        # no distinct: the anti-join below is duplicate-invariant, so
        # the exchange bought nothing (r12, guide §2.4; A/B-verified —
        # unlike the fp-side probe, where the distinct's aggregate is
        # load-bearing for the anti-join strategy and stays)
        near = verified.select(F.col("doc_a").alias(id_col))
        # pass_a feeds the in-batch pipeline's bucketing, verify and
        # survivor stages — without a lazy checkpoint each of those
        # re-runs the whole state-probe + verify chain above
        pass_a = (new_batch.join(near, id_col, "left_anti")
                  .localCheckpoint(eager=False))
        pass_bands = batch_bands.join(pass_a.select(id_col), id_col,
                                      "left_semi")
    else:
        pass_a = new_batch
        pass_bands = batch_bands
    in_pairs = _band_bucket_pairs(pass_bands, id_col, bucket_cap)
    in_verified = jaccard_verify(in_pairs, pass_a, text_col, id_col,
                                 shingle_n, threshold)
    kept, _ = near_dedup(pass_a, id_col=id_col, pairs=in_verified,
                         keep=keep)
    kept_bands = batch_bands.join(kept.select(id_col), id_col,
                                  "left_semi")
    new_state = (kept_bands.select("band", "key", id_col)
                 if state is None
                 else state.select("band", "key", id_col)
                 .unionByName(kept_bands.select("band", "key", id_col)))
    return kept, new_state
