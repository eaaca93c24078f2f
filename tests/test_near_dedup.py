"""near_dedup / near_dedup_incremental — the one-call corpus-shrinking
composite (VERDICT r10 #1) and its rolling-batch extension (#2).

Ground truth is always a pure-Python replay of the documented
semantics: brute-force Hamming pairs -> union-find components ->
min-id survivor (and for the incremental path, the greedy
check-the-store-then-dedup-the-batch order)."""

import random

import pytest

from accelerator_spark.operators.dedup import (
    near_dedup,
    near_dedup_incremental,
    state_near_ids,
)
from accelerator_spark.session import get_spark


def _spark():
    return get_spark(app_name="accelerator_spark_tests")


def _flip(fp: int, *bitpos: int) -> int:
    for b in bitpos:
        fp ^= 1 << b
    if fp >= 1 << 63:
        fp -= 1 << 64
    elif fp < -(1 << 63):
        fp += 1 << 64
    return fp


def _ham(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def _components(ids, fp_of, k):
    """Union-find components over brute-force pairs (dist <= k)."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    ids = sorted(ids)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if _ham(fp_of[a], fp_of[b]) <= k:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def test_near_dedup_planted_families():
    """Three planted families (sizes 2/3/4, members within 1 bit of
    the seed) plus far singletons: exactly one survivor per family
    (the min id), singletons untouched, and the report lists every
    member of every family with the right survivor and size."""
    spark = _spark()
    rng = random.Random(4721)
    rows = []
    fams = []
    for f, size in enumerate((2, 3, 4)):
        seed = _flip(0, *rng.sample(range(64), 20 + 13 * f))
        ids = []
        for m in range(size):
            fid = 100 * (f + 1) + m
            # member 0 is the raw seed; others flip ONE distinct bit,
            # so pairwise distance within the family is <= 2
            fp = seed if m == 0 else _flip(seed, m)
            rows.append((fid, fp, f"fam{f}"))
            ids.append(fid)
        fams.append(ids)
    singles = [(9000 + i, _flip(0, *rng.sample(range(64), 30)), "solo")
               for i in range(4)]
    rows += singles
    df = spark.createDataFrame(rows, "doc_id long, fp long, tag string")

    kept, report = near_dedup(df, "fp", "doc_id", 64, max_hamming=2)
    kept_rows = {r.doc_id: r for r in kept.collect()}
    want_kept = {min(ids) for ids in fams} | {i for i, _, _ in singles}
    assert set(kept_rows) == want_kept
    # schema untouched and payload columns survive the anti-join
    assert kept.columns == ["doc_id", "fp", "tag"]
    assert kept_rows[100].tag == "fam0"

    rep = {r.doc_id: (r.kept_doc_id, r.group_n) for r in report.collect()}
    want_rep = {}
    for ids in fams:
        for i in ids:
            want_rep[i] = (min(ids), len(ids))
    assert rep == want_rep  # singletons never appear in the report


def test_near_dedup_caller_supplied_pairs():
    """pairs= overrides candidate generation: a 1-2, 2-3 edge chain
    collapses to survivor 1 regardless of the fingerprint column."""
    spark = _spark()
    df = spark.createDataFrame(
        [(1, 0), (2, 1 << 40), (3, -(1 << 50)), (4, 7)],
        "doc_id long, fp long")
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    kept, report = near_dedup(df, "fp", "doc_id", pairs=pairs)
    assert sorted(r.doc_id for r in kept.collect()) == [1, 4]
    assert {r.doc_id: (r.kept_doc_id, r.group_n)
            for r in report.collect()} == {
        1: (1, 3), 2: (1, 3), 3: (1, 3)}


def test_near_dedup_incremental_first_batch_wins():
    """Out-of-order arrival: a LATER-arriving smaller id near an
    already-kept fingerprint is dropped (first-batch-wins), a batch
    row near only a state-DROPPED row is judged by the remaining
    subgraph, and the state accumulates band rows of kept docs only."""
    spark = _spark()
    base = _flip(0, 1, 5, 9, 17, 33, 60)
    far1 = _flip(0, 2, 6, 10, 18, 34, 61, 63)
    far2 = _flip(0, 0, 12, 24, 36, 48, 62)
    k = 3

    # batch 0: 10 ~ 11 (1 bit apart) -> keep 10
    b0 = spark.createDataFrame(
        [(10, base), (11, _flip(base, 7))], "doc_id long, fp long")
    kept0, state = near_dedup_incremental(b0, None, "fp", "doc_id", 64, k)
    assert sorted(r.doc_id for r in kept0.collect()) == [10]

    # batch 1: 5 ~ kept 10 -> dropped though 5 < 10 (first-batch-wins);
    # 6 is far -> kept; 20 ~ state, 21 ~ 20 but NOT ~ state -> 20 drops
    # at the state probe, 21 survives as a singleton of the remaining
    # subgraph (the greedy sequential-ingester order)
    fp20 = _flip(base, 2, 3)            # dist 2 from kept 10
    fp21 = _flip(fp20, 40, 41, 42)      # dist 3 from 20, dist 5 from 10
    assert _ham(fp21, base) > k and _ham(fp20, base) <= k
    b1 = spark.createDataFrame(
        [(5, _flip(base, 8)), (6, far1), (20, fp20), (21, fp21)],
        "doc_id long, fp long")
    kept1, state = near_dedup_incremental(b1, state, "fp", "doc_id", 64, k)
    assert sorted(r.doc_id for r in kept1.collect()) == [6, 21]

    # batch 2: 7 ~ kept 6 -> dropped; 1 far from everything -> kept
    b2 = spark.createDataFrame(
        [(7, _flip(far1, 3)), (1, far2)], "doc_id long, fp long")
    kept2, state = near_dedup_incremental(b2, state, "fp", "doc_id", 64, k)
    assert sorted(r.doc_id for r in kept2.collect()) == [1]

    # state = (max_hamming + 1) band rows per kept doc, nothing else
    srows = state.collect()
    assert sorted({r.doc_id for r in srows}) == [1, 6, 10, 21]
    assert len(srows) == 4 * (k + 1)
    assert state.columns == ["blk", "fp", "doc_id"]


def test_near_dedup_incremental_matches_greedy_oracle():
    """Randomized equivalence: three batches of clustered fingerprints
    through the operator == a pure-Python greedy replay (probe kept
    store, then min-id per component of the surviving subgraph)."""
    spark = _spark()
    rng = random.Random(90210)
    fp_of, batches = {}, [[], [], []]
    nid = 0
    for c in range(12):
        seed = _flip(0, *rng.sample(range(64), rng.randrange(10, 54)))
        for m in range(rng.randrange(1, 5)):
            fp = seed if m == 0 else _flip(
                seed, *rng.sample(range(64), rng.randrange(1, 3)))
            fp_of[nid] = fp
            batches[rng.randrange(3)].append((nid, fp))
            nid += 1
    k = 3

    kept_all_py = []
    for batch in batches:
        ids = [i for i, _ in batch]
        pass_a = [i for i in ids
                  if all(_ham(fp_of[i], fp_of[j]) > k
                         for j in kept_all_py)]
        comp = _components(pass_a, fp_of, k)
        kept_all_py += [i for i in pass_a if comp[i] == i]

    state, kept_all = None, []
    for batch in batches:
        df = spark.createDataFrame(batch or [(None, None)],
                                   "doc_id long, fp long")
        if not batch:
            df = df.filter("doc_id IS NOT NULL")
        kept, state = near_dedup_incremental(df, state, "fp", "doc_id",
                                             64, k)
        kept_all += [r.doc_id for r in kept.collect()]
    assert sorted(kept_all) == sorted(kept_all_py)


def test_state_near_ids_plan_keeps_state_unshuffled(tmp_path):
    """The O(batch) contract (VERDICT r10 #2): the state probe
    BROADCASTS the batch band rows — the state side must stream
    through a BroadcastHashJoin with no hash-partition exchange
    between the state scan and the join; the plan's only
    hash-partition exchange is the O(batch) distinct on matched ids."""
    spark = _spark()
    st = spark.createDataFrame(
        [("B0_1", 1, 10), ("B1_0", 1, 10)], "blk string, fp long, doc_id long")
    st.write.parquet(str(tmp_path / "state"))
    state = spark.read.parquet(str(tmp_path / "state"))
    batch = spark.createDataFrame([(99, 1)], "doc_id long, fp long")
    near = state_near_ids(batch, state, "fp", "doc_id", 64, 3)
    plan = near._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the only hash-partition exchange is the O(batch) distinct; the
    # state scan side streams into the broadcast join unshuffled
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "FileScan parquet" in plan
    # correctness of the probe itself
    assert [r.doc_id for r in near.collect()] == [99]


def test_jaccard_verify_disposes_false_candidates():
    """The verify stage: exact shingle Jaccard on SUPPLIED candidate
    pairs — a verbatim pair scores 1.0, an unrelated pair proposed by
    a (simulated) band collision scores ~0 and is dropped."""
    from accelerator_spark.operators.dedup import jaccard_verify

    spark = _spark()
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "entirely different words in this document body here"),
         (4, "shared prefix tokens here then totally divergent tail text"),
         (5, "shared prefix tokens here but another ending altogether now")],
        "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (4, 5)], "doc_a long, doc_b long")
    got = {(r.doc_a, r.doc_b): r.jaccard
           for r in jaccard_verify(pairs, df, threshold=0.5).collect()}
    assert got == {(1, 2): 1.0}  # verbatim passes; (1,3)/(4,5) disposed
    loose = {(r.doc_a, r.doc_b)
             for r in jaccard_verify(pairs, df, threshold=0.0).collect()}
    assert loose == {(1, 2), (1, 3), (4, 5)}  # all scored, none lost


def test_jaccard_verify_duplicate_ids_and_one_sided_pairs():
    """r13 array-set internals, focused guards: (a) identical (id,
    text) rows duplicated by an at-least-once replay must not change
    any score (the (id, text) distinct in _candidate_gram_sets — the
    16x-replay property the old exploded-gram distinct carried);
    (b) a pair whose one member has NULL text (no gram set) still
    surfaces at threshold <= 0 with jaccard 0, and a pair with BOTH
    members absent never surfaces — the exact pre-r13 union-of-inner-
    joins admission rule."""
    from accelerator_spark.operators.dedup import jaccard_verify

    spark = _spark()
    rows = [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
            (3, None), (4, None)]
    df = spark.createDataFrame(rows * 3, "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (3, 4)], "doc_a long, doc_b long")
    got = [(r.doc_a, r.doc_b, r.jaccard)
           for r in jaccard_verify(pairs, df, threshold=0.0)
           .orderBy("doc_a", "doc_b").collect()]
    # (1,2) scores exactly 1.0 ONCE despite the 3x row replay; (1,3)
    # is one-sided -> 0.0; (3,4) has no gram set on either side ->
    # absent even at threshold 0
    assert got == [(1, 2, 1.0), (1, 3, 0.0)]
    assert jaccard_verify(pairs, df, threshold=0.5).collect() == [
        (1, 2, 1.0)]


def test_jaccard_verify_scores_a_duplicated_pair_once():
    """A pair listed twice in the candidate frame comes out once."""
    from accelerator_spark.operators.dedup import jaccard_verify

    spark = _spark()
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta")],
        "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2), (1, 2)], "doc_a long, doc_b long")
    assert jaccard_verify(pairs, df, threshold=0.0).collect() == [
        (1, 2, 1.0)]


def _minhash(d, c):
    from accelerator_spark.operators.dedup import minhash_signature
    return minhash_signature(d, text_col=c)


def _fp_pairs(d, c):
    from accelerator_spark.operators.dedup import fp_near_pairs
    return fp_near_pairs(d, fp_col=c)


def _sign_lsh(d, c):
    from accelerator_spark.operators.similarity import sign_lsh_signature
    return sign_lsh_signature(d, dim=3, bits=8, vec_col=c).drop(c)


@pytest.mark.parametrize("run, rows, schema", [
    (_minhash, [(1, "the quick brown fox"), (2, "a b")],
     "doc_id long, t string"),
    (_fp_pairs, [(1, 0), (2, 3), (3, 1 << 40)], "doc_id long, t long"),
    (_sign_lsh, [(1, [1.0, -2.0, 0.5]), (2, [-1.0, 0.0, 3.0])],
     "vec_id long, t array<double>"),
], ids=["minhash_signature", "fp_near_pairs", "sign_lsh_signature"])
def test_builders_take_a_backtick_column_name(run, rows, schema):
    """A caller column named a`b is one identifier to the SQL-string
    builders: the result equals the same call on a plain name."""
    df = _spark().createDataFrame(rows, schema)
    want = sorted(run(df.withColumnRenamed("t", "plain"), "plain").collect())
    got = sorted(run(df.withColumnRenamed("t", "a`b"), "a`b").collect())
    assert want and got == want


def test_text_near_dedup_end_to_end():
    """The one-call classic pipeline: verbatim copies collapse to the
    min id (identical MinHash signatures always share every band),
    distinct docs survive, the report ledgers the groups, and the
    verified edge list carries Jaccard 1.0 for the copies."""
    from accelerator_spark.operators.dedup import text_near_dedup

    spark = _spark()
    rows = [(10, "alpha beta gamma delta epsilon zeta eta theta"),
            (11, "alpha beta gamma delta epsilon zeta eta theta"),
            (12, "alpha beta gamma delta epsilon zeta eta theta"),
            (20, "one two three four five six seven eight nine ten"),
            (30, "lorem ipsum dolor sit amet consectetur adipiscing elit")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept, report, verified = text_near_dedup(df, threshold=0.8)
    assert sorted(r.doc_id for r in kept.collect()) == [10, 20, 30]
    assert {r.doc_id: (r.kept_doc_id, r.group_n)
            for r in report.collect()} == {
        10: (10, 3), 11: (10, 3), 12: (10, 3)}
    vj = {(r.doc_a, r.doc_b): r.jaccard for r in verified.collect()}
    assert set(vj) == {(10, 11), (10, 12), (11, 12)}
    assert all(j == 1.0 for j in vj.values())


def test_near_dedup_incremental_null_fp_not_in_state():
    """NULL fingerprints pass through kept (failed extraction is not a
    duplicate) but must NOT append band rows to the persisted state —
    NULL blk keys never match a probe yet would accumulate
    max_hamming+1 junk rows per doc forever (ADVICE r11)."""
    spark = _spark()
    b = spark.createDataFrame([(1, 77), (2, None), (3, None)],
                              "doc_id long, fp long")
    kept, state = near_dedup_incremental(b, None, "fp", "doc_id", 64, 3)
    assert sorted(r.doc_id for r in kept.collect()) == [1, 2, 3]
    srows = state.collect()
    assert {r.doc_id for r in srows} == {1}
    assert len(srows) == 4 and all(r.fp is not None for r in srows)

    # second batch against that state: the NULL-fp docs did not poison
    # it, and new NULLs again pass through without entering the store
    b2 = spark.createDataFrame([(9, 77), (10, None)],
                               "doc_id long, fp long")
    kept2, state2 = near_dedup_incremental(b2, state, "fp", "doc_id",
                                           64, 3)
    assert sorted(r.doc_id for r in kept2.collect()) == [10]
    assert {r.doc_id for r in state2.collect()} == {1}


def test_near_dedup_keep_policy_diverges_from_min_id():
    """Planted families where the min-id member is NOT the
    highest-quality one: keep=('max', 'qual') must keep the argmax
    member (min-id tiebreak), the report must point every member at
    THAT survivor, and keep='min_id' on the same input must still
    keep the min id (the policies demonstrably diverge)."""
    spark = _spark()
    base = _flip(0, 1, 9, 17, 33)
    far = _flip(0, 2, 22, 44, 63)
    rows = [
        # family A: ids 10<11<12, quality peaks at 12
        (10, base, 5), (11, _flip(base, 3), 7), (12, _flip(base, 5), 9),
        # family B: ids 20<21, equal quality -> min-id tiebreak
        (20, far, 4), (21, _flip(far, 6), 4),
        # singleton, never touched by either policy
        (30, _flip(0, 7, 27, 47, 60), 1),
    ]
    df = spark.createDataFrame(rows, "doc_id long, fp long, qual int")

    kept_q, rep_q = near_dedup(df, "fp", "doc_id", 64, 3,
                               keep=("max", "qual"))
    assert sorted(r.doc_id for r in kept_q.collect()) == [12, 20, 30]
    assert {(r.doc_id, r.kept_doc_id) for r in rep_q.collect()} == {
        (10, 12), (11, 12), (12, 12), (20, 20), (21, 20)}

    kept_m, rep_m = near_dedup(df, "fp", "doc_id", 64, 3)
    assert sorted(r.doc_id for r in kept_m.collect()) == [10, 20, 30]

    # ('min', qual) keeps the LOWEST quality member (10 in A, 20 in B)
    kept_l, _ = near_dedup(df, "fp", "doc_id", 64, 3,
                           keep=("min", "qual"))
    assert sorted(r.doc_id for r in kept_l.collect()) == [10, 20, 30]


def test_near_dedup_keep_policy_null_quality_loses():
    """A NULL quality value orders LAST under both directions: the
    scored member survives even when the NULL doc has the smaller id,
    and an all-NULL family falls back to the min-id tiebreak."""
    spark = _spark()
    base = _flip(0, 4, 14, 24)
    far = _flip(0, 5, 25, 45, 61)
    df = spark.createDataFrame(
        [(1, base, None), (2, _flip(base, 8), 3),
         (7, far, None), (8, _flip(far, 2), None)],
        "doc_id long, fp long, qual int")
    for direction in ("max", "min"):
        kept, _ = near_dedup(df, "fp", "doc_id", 64, 3,
                             keep=(direction, "qual"))
        assert sorted(r.doc_id for r in kept.collect()) == [2, 7]


def test_near_dedup_keep_policy_rejects_bad_spec():
    import pytest

    spark = _spark()
    df = spark.createDataFrame([(1, 0)], "doc_id long, fp long")
    with pytest.raises(ValueError, match="keep"):
        near_dedup(df, "fp", "doc_id", keep="max_qual")
    with pytest.raises(ValueError, match="direction"):
        near_dedup(df, "fp", "doc_id", keep=("argmax", "qual"))


def test_jaccard_verify_candidate_bounded_scan():
    """The verify stage must shingle ONLY candidate docs (VERDICT r11
    efficiency item): the corpus is semi-joined to the pairs' ids
    before the shingle explode — asserted on the optimized plan
    (LeftSemi below the generate) — and the scores are unchanged."""
    from accelerator_spark.operators.dedup import jaccard_verify

    spark = _spark()
    rows = [(i, "alpha beta gamma delta epsilon") for i in (1, 2)]
    rows += [(i, f"unrelated text number {i} with words {i * 7}")
             for i in range(10, 40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    out = jaccard_verify(pairs, df, threshold=0.5)
    got = {(r.doc_a, r.doc_b, r.jaccard) for r in out.collect()}
    assert got == {(1, 2, 1.0)}
    # the bound lives in _candidate_gram_sets (jaccard_verify
    # checkpoints its output, which hides the join from the outer
    # plan): the corpus reaches the shingle transform only through a
    # LeftSemi against the pairs' ids
    from accelerator_spark.operators.dedup import _candidate_gram_sets
    g = _candidate_gram_sets(pairs, df, "text", "doc_id", 3)
    plan = g._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in plan
    assert {r.doc_id for r in g.select("doc_id")
            .distinct().collect()} == {1, 2}


def test_text_near_dedup_incremental_first_batch_wins():
    """Three document batches through text_near_dedup_incremental:
    exact/near copies of already-kept docs drop on arrival (state
    probe + Jaccard verify), in-batch near-dups resolve min-id, the
    state accumulates `bands` band rows per kept doc and never stores
    text, and unrelated docs survive even if a band collides (the
    verify stage disposes)."""
    from accelerator_spark.operators.dedup import (
        text_near_dedup_incremental)

    spark = _spark()
    t1 = "the quick brown fox jumps over the lazy dog today"
    t2 = "completely different content about spark execution engines"
    t5 = "partition pruning keeps scans small at any realistic scale"
    t7 = "watermarks bound streaming state across long sessions"
    batches = [
        [(1, t1), (2, t2)],
        # 3 = exact dup of kept 1; 4 = near dup (last word changed);
        # 5 = new
        [(3, t1), (4, t1.replace("today", "tonight")), (5, t5)],
        # 6 = exact dup of kept 5; 7/8 in-batch pair -> min id 7 wins
        [(6, t5), (7, t7), (8, t7)],
    ]
    state, corpus = None, None
    kept_ids = []
    for rows in batches:
        b = spark.createDataFrame(rows, "doc_id long, text string")
        kept, state = text_near_dedup_incremental(b, state, corpus)
        kept = kept.localCheckpoint()
        state = state.localCheckpoint()
        ids = sorted(r.doc_id for r in kept.collect())
        kept_ids.append(ids)
        kc = kept.select("doc_id", "text")
        corpus = kc if corpus is None else corpus.unionByName(kc)
    assert kept_ids == [[1, 2], [5], [7]]
    srows = state.collect()
    assert set(state.columns) == {"band", "key", "doc_id"}
    # 4 bands per kept doc, ids only
    assert {r.doc_id for r in srows} == {1, 2, 5, 7}
    assert len(srows) == 4 * 4


def test_text_near_dedup_incremental_null_text_passthrough():
    """NULL text yields no shingles: the doc passes through kept
    (failed extraction is not a duplicate) and adds NO band rows to
    the state. Whitespace-only text is NOT null — per _word_shingles_expr
    it carries one empty partial shingle, so it IS fingerprinted (and
    two blank docs near-dup each other, the batch semantics)."""
    from accelerator_spark.operators.dedup import (
        text_near_dedup_incremental)

    spark = _spark()
    b0 = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, None), (3, "   ")],
        "doc_id long, text string")
    kept, state = text_near_dedup_incremental(b0, None, None)
    assert sorted(r.doc_id for r in kept.collect()) == [1, 2, 3]
    assert {r.doc_id for r in state.collect()} == {1, 3}
    # a later NULL-text doc still passes through against real state
    b1 = spark.createDataFrame([(9, None)], "doc_id long, text string")
    kept1, state1 = text_near_dedup_incremental(
        b1, state, kept.select("doc_id", "text"))
    assert [r.doc_id for r in kept1.collect()] == [9]
    assert {r.doc_id for r in state1.collect()} == {1, 3}


def test_text_near_dedup_incremental_requires_paired_state():
    import pytest

    from accelerator_spark.operators.dedup import (
        text_near_dedup_incremental)

    spark = _spark()
    b = spark.createDataFrame([(1, "x y z")], "doc_id long, text string")
    with pytest.raises(ValueError, match="kept_corpus"):
        text_near_dedup_incremental(b, b, None)


def test_text_state_candidates_state_never_shuffles():
    """The O(batch) plan contract for the TEXT state probe: the batch
    band rows are broadcast, so the state side reaches the join with
    no Exchange (the state_near_ids discipline, extended to LSH band
    buckets)."""
    from accelerator_spark.operators.dedup import (
        text_band_rows, text_state_candidates)

    spark = _spark()
    state = spark.createDataFrame(
        [(0, "11_22", 1), (1, "33_44", 1)],
        "band int, key string, doc_id long")
    batch = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon")],
        "doc_id long, text string")
    cand = text_state_candidates(
        text_band_rows(batch), state)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the only exchanges feed the broadcast/batch side and the final
    # distinct — the state scan streams straight into the join
    state_scan = [ln for ln in plan.splitlines()
                  if "Scan ExistingRDD" in ln or "LocalTableScan" in ln]
    assert state_scan, plan


def test_incremental_keep_policy_in_batch_only():
    """keep= threads through the incrementals but applies to the
    IN-BATCH survivor choice only: cross-batch precedence stays
    first-arrival-wins (the state holds no quality to argue with)."""
    spark = _spark()
    base = _flip(0, 2, 12, 42)
    # batch 0: family (1 low-qual, 2 high-qual) -> keep=('max') keeps 2
    b0 = spark.createDataFrame([(1, base, 1), (2, _flip(base, 5), 9)],
                               "doc_id long, fp long, qual int")
    kept0, state = near_dedup_incremental(b0, None, "fp", "doc_id",
                                          64, 3, keep=("max", "qual"))
    assert [r.doc_id for r in kept0.collect()] == [2]
    # batch 1: a HIGHER-quality near-dup of kept 2 still drops (state
    # wins), while a fresh in-batch family resolves by quality again
    far = _flip(0, 3, 23, 43, 63)
    b1 = spark.createDataFrame(
        [(3, _flip(base, 5, 6), 99),
         (7, far, 2), (8, _flip(far, 4), 5)],
        "doc_id long, fp long, qual int")
    kept1, _ = near_dedup_incremental(b1, state, "fp", "doc_id",
                                      64, 3, keep=("max", "qual"))
    assert sorted(r.doc_id for r in kept1.collect()) == [8]


def test_text_incremental_keep_policy_in_batch():
    from accelerator_spark.operators.dedup import (
        text_near_dedup_incremental)

    spark = _spark()
    t = "the quick brown fox jumps over the lazy dog today"
    b0 = spark.createDataFrame(
        [(5, t + " extra trailing words here"), (9, t)],
        "doc_id long, text string")
    from pyspark.sql import functions as F
    b0 = b0.withColumn("n_chars", F.length("text"))
    kept, _ = text_near_dedup_incremental(
        b0, None, None, keep=("max", "n_chars"))
    assert [r.doc_id for r in kept.collect()] == [5]  # longer wins
