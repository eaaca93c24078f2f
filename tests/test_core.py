"""Core: Dataset manifest round-trip, chains, zone-map skip, checksum,
memoized build, urd-lite."""

import os

import pytest
from pyspark.sql import functions as F

from accelerator_spark.dataset import Dataset, with_lineno
from accelerator_spark.build import BuildContext, Urd
from accelerator_spark.operators.checksum import checksum, datasets_equal

from conftest import load


def test_dataset_roundtrip(spark, sf_dir, tmp_path):
    src = load(spark, sf_dir, "nation")
    ds = Dataset.write(src, str(tmp_path / "nation"), hashlabel="n_nationkey")
    assert ds.lines == src.count()
    assert ds.hashlabel == "n_nationkey"
    assert set(ds.columns) == set(src.columns)
    back = Dataset.load(ds.path)
    assert back.manifest["id"] == ds.manifest["id"]
    assert datasets_equal(src, back.df(spark))


def test_minmax_stats(spark, sf_dir, tmp_path):
    src = load(spark, sf_dir, "region")
    ds = Dataset.write(src, str(tmp_path / "region"))
    assert ds.min("r_regionkey") == 0
    assert ds.max("r_regionkey") == src.agg(F.max("r_regionkey")).collect()[0][0]


def test_chain_and_range_skip(spark, sf_dir, tmp_path):
    src = load(spark, sf_dir, "orders")
    a = src.filter(F.col("o_orderkey") < 100)
    b = src.filter((F.col("o_orderkey") >= 100) & (F.col("o_orderkey") < 200))
    c = src.filter(F.col("o_orderkey") >= 200)
    d1 = Dataset.write(a, str(tmp_path / "d1"))
    d2 = Dataset.write(b, str(tmp_path / "d2"), previous=d1)
    d3 = Dataset.write(c, str(tmp_path / "d3"), previous=d2)
    assert [x.path for x in d3.chain()] == [d1.path, d2.path, d3.path]
    full = d3.chain_df(spark)
    assert full.count() == src.count()
    # zone-map skip: range entirely inside d1 must prune d2/d3 by manifest
    sub = d3.chain_df(spark, range_filter={"o_orderkey": (0, 50)})
    files = sub.inputFiles()
    assert files and all("/d1/data/" in f for f in files), files
    assert sub.count() == src.filter("o_orderkey >= 0 and o_orderkey < 50").count()


@pytest.mark.parametrize("ts_type", ["timestamp", "timestamp_ntz"])
def test_chain_range_skip_parses_timestamp_bounds(spark, tmp_path, ts_type):
    from datetime import datetime

    def link(ts, name, previous=None):
        return Dataset.write(
            spark.createDataFrame([(ts, 1)], f"ts {ts_type}, v int"),
            str(tmp_path / name), previous=previous)

    d1 = link(datetime(2024, 1, 1, 6), "d1")
    d2 = link(datetime(2024, 1, 2, 6), "d2", previous=d1)
    # a space, a 'T' and a datetime spell the same bound; the zone-map
    # skip must agree with the plain filter for each of them
    for hi in ("2024-01-01 12:00:00", "2024-01-01T12:00:00",
               datetime(2024, 1, 1, 12)):
        unskipped = d2.chain_df(spark).filter(F.col("ts") < F.lit(hi))
        skipped = d2.chain_df(spark, range_filter={"ts": (None, hi)})
        assert skipped.count() == unskipped.count() == 1, hi
    files = d2.chain_df(spark, range_filter={
        "ts": (None, datetime(2024, 1, 1, 12))}).inputFiles()
    assert files and all("/d1/data/" in f for f in files), files


def test_checksum_order_insensitive(spark, sf_dir):
    src = load(spark, sf_dir, "customer")
    shuffled = src.orderBy(F.rand(seed=1))
    assert checksum(src) == checksum(shuffled)
    assert checksum(src) != checksum(src.limit(10))


def test_build_memoization(spark, sf_dir, tmp_path):
    ctx = BuildContext(spark, str(tmp_path / "wd"))
    src = Dataset.write(load(spark, sf_dir, "nation"), str(tmp_path / "src"))

    def step_filter(spark, datasets, options):
        return datasets["source"].df(spark).filter(F.col("n_regionkey") == options["region"])

    j1 = ctx.build(step_filter, options={"region": 1}, datasets={"source": src})
    assert not j1.cached
    j2 = ctx.build(step_filter, options={"region": 1}, datasets={"source": src})
    assert j2.cached and j2.jobid == j1.jobid
    j3 = ctx.build(step_filter, options={"region": 2}, datasets={"source": src})
    assert not j3.cached and j3.jobid != j1.jobid
    j4 = ctx.build(step_filter, options={"region": 1}, datasets={"source": src},
                   force_build=True)
    assert not j4.cached
    # why_build explain mode
    jw = ctx.build(step_filter, options={"region": 3}, datasets={"source": src},
                   why_build=True)
    assert jw.would_build
    # persistence: a fresh context sees the same job db
    ctx2 = BuildContext(spark, str(tmp_path / "wd"))
    j5 = ctx2.build(step_filter, options={"region": 2}, datasets={"source": src})
    assert j5.cached


def test_urd(tmp_path):
    u = Urd(str(tmp_path))
    u.add("daily", "2024-01-01", {"job": "a-0"})
    u.add("daily", "2024-01-02", {"job": "a-1"})
    u.add("other", "2024-01-01", {"job": "b-0"})
    assert u.latest("daily")["payload"]["job"] == "a-1"
    assert u.first("daily")["ts"] == "2024-01-01"
    assert [e["ts"] for e in u.since("daily", "2024-01-01")] == ["2024-01-02"]
    assert u.peek("daily", "2024-01-02")["payload"]["job"] == "a-1"
    assert u.lists() == ["daily", "other"]


def test_with_lineno_order_recovery(spark, sf_dir, tmp_path):
    src = with_lineno(load(spark, sf_dir, "region"))
    ds = Dataset.write(src, str(tmp_path / "r"), partitions=4)
    back = ds.df(spark).orderBy("lineno").drop("lineno").collect()
    orig = src.orderBy("lineno").drop("lineno").collect()
    assert back == orig


def test_bucketed_write_joins_without_exchange(spark, sf_dir, tmp_path):
    from accelerator_spark.dataset import Dataset

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    dl = Dataset.write_bucketed(li, str(tmp_path / "li"), "t_li_b", "l_orderkey", 8)
    do = Dataset.write_bucketed(orders, str(tmp_path / "or"), "t_or_b", "o_orderkey", 8)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = dl.df(spark).join(
            do.df(spark), F.col("l_orderkey") == F.col("o_orderkey"))
        plan = j._jdf.queryExecution().executedPlan().toString()
        # both sides bucketed on the join key with equal bucket counts:
        # the sort-merge join needs NO exchange on either side
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        assert j.count() == li.count()
        # and a groupBy on the bucket column needs no exchange either
        agg = dl.df(spark).groupBy("l_orderkey").count()
        aplan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in aplan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    # fresh-session path: drop the catalog entries, re-register from the
    # manifest alone, and the layout is still trusted
    spark.sql("DROP TABLE t_li_b")
    reread = Dataset.load(str(tmp_path / "li")).df(spark)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        aplan2 = (reread.groupBy("l_orderkey").count()
                  ._jdf.queryExecution().executedPlan().toString())
        assert "Exchange hashpartitioning" not in aplan2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    spark.sql("DROP TABLE t_li_b")
    spark.sql("DROP TABLE t_or_b")


def test_chain_schema_evolution(spark, tmp_path):
    """A chain whose newest batch grew a column reads end-to-end with
    allow_missing_columns=True (older rows NULL), and stays strict by
    default."""
    import pytest as _pytest

    from accelerator_spark.dataset import Dataset

    d1 = spark.createDataFrame([(1, "a")], "k int, s string")
    d2 = spark.createDataFrame([(2, "b", 9.5)], "k int, s string, extra double")
    ds1 = Dataset.write(d1, str(tmp_path / "b1"))
    ds2 = Dataset.write(d2, str(tmp_path / "b2"), previous=ds1)

    evolved = ds2.chain_df(spark, allow_missing_columns=True).orderBy("k")
    rows = evolved.collect()
    assert [r.k for r in rows] == [1, 2]
    assert rows[0].extra is None and rows[1].extra == 9.5

    with _pytest.raises(Exception):
        ds2.chain_df(spark).collect()  # strict mode: schema mismatch raises


# --- zero-copy column overlay (reference parent= / link_to_here,
# accelerator/dataset.py:864-941, 292-327; VERDICT r2 #7) ---------------

def _file_sig(root):
    import hashlib, os
    sig = {}
    for dirpath, _, files in os.walk(root):
        for fn in sorted(files):
            p = os.path.join(dirpath, fn)
            sig[os.path.relpath(p, root)] = (
                hashlib.md5(open(p, "rb").read()).hexdigest())
    return sig


def test_overlay_adds_column_without_rewriting_parent(spark, sf_dir, tmp_path):
    from accelerator_spark.operators.checksum import datasets_equal
    nation = load(spark, sf_dir, "nation")
    base = Dataset.write(nation, str(tmp_path / "base"))
    before = _file_sig(str(tmp_path / "base"))

    new = nation.select(
        "n_nationkey", F.length("n_name").alias("name_len"))
    ov = Dataset.write_overlay(
        str(tmp_path / "ov"), base, new_cols=new, key="n_nationkey")
    # parent files byte-identical — the add wrote only the new column
    assert _file_sig(str(tmp_path / "base")) == before
    # read equals the join formulation
    joined = nation.join(new, "n_nationkey", "left")
    got = ov.df(spark)
    assert set(got.columns) == set(joined.columns)
    assert datasets_equal(got.select(*sorted(got.columns)),
                          joined.select(*sorted(joined.columns)))
    # manifest carries the resolved schema + parent lineage
    assert ov.manifest["parent"] == base.path
    assert ov.columns["name_len"] == "int"
    assert ov.lines == base.lines


def test_overlay_override_and_exclude(spark, sf_dir, tmp_path):
    nation = load(spark, sf_dir, "nation")
    base = Dataset.write(nation, str(tmp_path / "base"))
    new = nation.select(
        "n_nationkey", F.upper("n_name").alias("n_name"))  # override
    ov = Dataset.write_overlay(
        str(tmp_path / "ov"), base, new_cols=new, key="n_nationkey",
        exclude=["n_regionkey"])
    got = ov.df(spark)
    assert "n_regionkey" not in got.columns
    vals = {r["n_nationkey"]: r["n_name"] for r in got.collect()}
    orig = {r["n_nationkey"]: r["n_name"] for r in nation.collect()}
    assert vals == {k: v.upper() for k, v in orig.items()}


def test_overlay_pure_virtual_zero_bytes(spark, sf_dir, tmp_path):
    import os
    nation = load(spark, sf_dir, "nation")
    base = Dataset.write(nation, str(tmp_path / "base"))
    ov = Dataset.write_overlay(
        str(tmp_path / "ov"), base,
        virtual={"key2": "n_nationkey * 2"})
    # no data directory at all — the overlay is pure manifest
    assert not os.path.exists(str(tmp_path / "ov" / "data"))
    got = ov.df(spark)
    assert got.filter(F.col("key2") != F.col("n_nationkey") * 2).count() == 0


def test_overlay_duplicate_keys_refused(spark, sf_dir, tmp_path):
    import pytest
    nation = load(spark, sf_dir, "nation")
    base = Dataset.write(nation, str(tmp_path / "base"))
    dup = nation.select("n_nationkey").union(
        nation.select("n_nationkey").limit(1)).withColumn(
        "extra", F.lit(1))
    with pytest.raises(ValueError, match="not unique"):
        Dataset.write_overlay(str(tmp_path / "ov"), base,
                              new_cols=dup, key="n_nationkey")


def test_overlay_shadowed_hashlabel_cleared(spark, sf_dir, tmp_path):
    nation = load(spark, sf_dir, "nation")
    base = Dataset.write(nation, str(tmp_path / "base"),
                         hashlabel="n_regionkey")
    override = nation.select(
        "n_nationkey", (F.col("n_regionkey") + 100).alias("n_regionkey"))
    ov = Dataset.write_overlay(str(tmp_path / "ov"), base,
                               new_cols=override, key="n_nationkey")
    # overriding the hashlabel column invalidates the claim
    assert ov.hashlabel is None
    ov2 = Dataset.write_overlay(
        str(tmp_path / "ov2"), base,
        virtual={"z": "n_nationkey + 1"})
    assert ov2.hashlabel == "n_regionkey"  # untouched -> inherited


def _fake_link(root, i, prev_path, cache_builder):
    """A chain link without a Spark write: 1-row pyarrow data dir + the
    same manifest fields (incl. chain cache via _chain_meta) the real
    writers emit."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from accelerator_spark import dataset as dsmod

    path = os.path.join(root, f"link{i:04d}")
    os.makedirs(os.path.join(path, "data"), exist_ok=True)
    pq.write_table(pa.table({"k": [i]}),
                   os.path.join(path, "data", "part-0.parquet"))
    manifest = {
        "version": 1, "id": f"id{i}", "lines": 1,
        "minmax": {"k": [i, i]}, "previous": prev_path,
        "columns": {"k": "bigint"},
    }
    manifest.update(cache_builder(prev_path))
    with open(os.path.join(path, dsmod.MANIFEST_NAME), "w") as f:
        json.dump(manifest, f)
    return path


def test_chain_cache_resolves_long_chain_in_few_reads(tmp_path, monkeypatch):
    """VERDICT r3 missing #1: resolving a 200-link chain must NOT read
    one manifest per link. With the manifest chain cache, resolution
    from the tip costs zero extra manifest loads; with the cache capped
    tiny (forcing checkpoint hops) it stays O(depth/cap)."""
    from accelerator_spark import dataset as dsmod
    from accelerator_spark.dataset import Dataset

    prev = None
    for i in range(200):
        prev = _fake_link(str(tmp_path), i, prev, dsmod._chain_meta)
    tip = Dataset.load(prev)

    loads = {"n": 0}
    real_load = Dataset.load.__func__

    def counting_load(cls, path):
        loads["n"] += 1
        return real_load(cls, path)

    monkeypatch.setattr(Dataset, "load", classmethod(counting_load))
    entries = tip.chain_entries()
    assert [e["path"].rsplit("link", 1)[1] for e in entries] == \
        [f"{i:04d}" for i in range(200)]
    # tip suffix + checkpoint hops: depth 199 -> consume 199%64=7 cached
    # entries, hop once to the depth-192 checkpoint (full list) — a
    # handful of reads, never one per link
    assert loads["n"] <= 4, loads["n"]
    # cached metadata matches what the naive walk would see
    assert [e["minmax"]["k"] for e in entries] == [[i, i] for i in range(200)]
    # O(N) metadata: non-checkpoint manifests hold only the suffix since
    # the last checkpoint (a full list in every manifest was O(N^2))
    import json as _json
    from accelerator_spark import dataset as _ds
    lens = []
    for i in range(200):
        with open(os.path.join(str(tmp_path), f"link{i:04d}",
                               _ds.MANIFEST_NAME)) as f:
            lens.append(len(_json.load(f).get("chain_cache") or []))
    assert max(lens) <= 192  # deepest checkpoint's full list
    assert sum(lens) < 8000  # vs ~19900 if every manifest kept it all

    # capped cache: every manifest holds <=16 entries, resolution hops
    # checkpoint to checkpoint — a handful of reads, not 200
    monkeypatch.setattr(dsmod, "_CHAIN_CACHE_MAX", 16)
    prev = None
    root2 = str(tmp_path / "capped")
    os.makedirs(root2)
    for i in range(200):
        prev = _fake_link(root2, i, prev, dsmod._chain_meta)
    tip2 = real_load(Dataset, prev)
    loads["n"] = 0
    entries2 = tip2.chain_entries()
    assert len(entries2) == 200
    assert [e["path"] for e in entries2] == sorted(e["path"] for e in entries2)
    assert loads["n"] <= 2 * (200 // 16 + 2)  # checkpoint hops only

    # length / stop semantics match the eager walk
    assert len(tip2.chain_entries(length=5)) == 5
    stop_at = entries2[150]["path"]
    assert [e["path"] for e in tip2.chain_entries(stop_ds=stop_at)] == \
        [e["path"] for e in entries2[151:]]


def test_chain_df_uses_cache_without_manifest_walk(spark, sf_dir, tmp_path,
                                                  monkeypatch):
    """chain_df over a cached chain of plain datasets must produce the
    identical frame while loading no per-link manifests (zone-map skip
    and data paths come from the tip's cache)."""
    from accelerator_spark.dataset import Dataset

    src = load(spark, sf_dir, "orders")
    parts = [src.filter((F.col("o_orderkey") % 4) == i) for i in range(4)]
    prev = None
    for i, p in enumerate(parts):
        prev = Dataset.write(p, str(tmp_path / f"b{i}"), previous=prev)

    loads = {"n": 0}
    real_load = Dataset.load.__func__

    def counting_load(cls, path):
        loads["n"] += 1
        return real_load(cls, path)

    monkeypatch.setattr(Dataset, "load", classmethod(counting_load))
    full = prev.chain_df(spark)
    assert loads["n"] == 0
    assert full.count() == src.count()
    assert (full.agg(F.sum("o_orderkey")).collect()[0][0]
            == src.agg(F.sum("o_orderkey")).collect()[0][0])


def test_write_schema_equals_read_back(spark, tmp_path):
    """Dataset.write takes the manifest schema from the frame instead of
    reading its output back; for awkward types it must still equal what
    Spark reads back from the written parquet."""
    import json

    from accelerator_spark import dataset as dsmod

    frames = {
        # nested field names with a space and a colon, non-null inside
        "nested": spark.range(3).select(
            F.struct(F.lit(1).alias("a b"), F.col("id").alias("c:d"))
            .alias("st")),
        "types": spark.sql(
            "SELECT CAST(1.5 AS DECIMAL(10, 2)) AS d, "
            "TIMESTAMP_NTZ'2024-01-01 06:00:00' AS tn, X'0102' AS b, "
            "parse_json('{\"a\": 1}') AS v, map('k', 1) AS m, "
            "array(named_struct('x', 1, 'y', 'z')) AS arr"),
        "range": spark.range(3),  # non-null id
    }
    spark.sql("DROP TABLE IF EXISTS t_char_varchar")
    try:
        spark.sql(
            "CREATE TABLE t_char_varchar (c CHAR(3), v VARCHAR(5), i INT) "
            f"USING parquet LOCATION '{tmp_path / 'cv_table'}'")
        spark.sql("INSERT INTO t_char_varchar VALUES ('a', 'bb', 1)")
        frames["char_varchar"] = spark.table("t_char_varchar")
        for name, df in frames.items():
            ds = Dataset.write(df, str(tmp_path / name))
            back = spark.read.parquet(str(tmp_path / name / "data")).schema
            want = {**dsmod._schema_meta(back), "schema": back.json()}
            got = {k: ds.manifest[k] for k in want}
            assert got == want, name
            # and it survives the manifest's JSON round-trip
            assert Dataset.load(ds.path).df(spark).schema == back, name
        assert json.loads(Dataset.load(str(tmp_path / "char_varchar"))
                          .manifest["schema"])["fields"][0]["metadata"] == \
            {"__CHAR_VARCHAR_TYPE_STRING": "char(3)"}
    finally:
        spark.sql("DROP TABLE IF EXISTS t_char_varchar")


def _per_link_union(spark, tip, allow_missing_columns=False):
    """chain_df as it was: one read per link (plain links inferring
    their schema), combined by a left-deep unionByName."""
    dfs = [spark.read.parquet(os.path.join(ds.path, "data"))
           if not ds.manifest.get("parent") else ds.df(spark)
           for ds in tip.chain()]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=allow_missing_columns)
    return out


def _assert_same_frame(got, want):
    assert got.columns == want.columns
    assert got.dtypes == want.dtypes
    assert sorted(got.collect(), key=repr) == sorted(want.collect(), key=repr)


def _chain(spark, root, frames):
    prev = None
    for i, (rows, ddl) in enumerate(frames):
        prev = Dataset.write(spark.createDataFrame(rows, ddl),
                             str(root / f"l{i}"), previous=prev)
    return prev


def test_chain_df_equals_per_link_union(spark, tmp_path):
    """One scan per schema gives the columns, column order, types and
    rows of the per-link union it replaced, and fails where it failed."""
    added = _chain(spark, tmp_path / "added", [
        ([(1, "a")], "k int, s string"),
        ([(2, "b", 2.5)], "k int, s string, extra double"),
        ([(3, "c")], "k int, s string"),
        ([(4, "d", 4.5)], "k int, s string, extra double")])
    _assert_same_frame(added.chain_df(spark, allow_missing_columns=True),
                       _per_link_union(spark, added, True))
    with pytest.raises(Exception):
        added.chain_df(spark).collect()
    with pytest.raises(Exception):
        _per_link_union(spark, added).collect()

    widened = _chain(spark, tmp_path / "widened", [
        ([(1, "a")], "k int, s string"),
        ([(2**40, "b")], "k bigint, s string"),
        ([(3, "c")], "k int, s string")])
    _assert_same_frame(widened.chain_df(spark),
                       _per_link_union(spark, widened))
    assert dict(widened.chain_df(spark).dtypes)["k"] == "bigint"

    reordered = _chain(spark, tmp_path / "reordered", [
        ([(1, "a")], "k int, s string"),
        ([("b", 2)], "s string, k int"),
        ([(3, "c")], "k int, s string")])
    _assert_same_frame(reordered.chain_df(spark),
                       _per_link_union(spark, reordered))

    base = Dataset.write(spark.createDataFrame([(5, "e")], "k int, s string"),
                         str(tmp_path / "ov_base"))
    l0 = Dataset.write(spark.createDataFrame([(1, "a")], "k int, s string"),
                       str(tmp_path / "ov_l0"))
    ov = Dataset.write_overlay(
        str(tmp_path / "ov_l1"), base, key="k", previous=l0,
        new_cols=spark.createDataFrame([(5, "E")], "k int, s string"))
    l2 = Dataset.write(spark.createDataFrame([(3, "c")], "k int, s string"),
                       str(tmp_path / "ov_l2"), previous=ov)
    _assert_same_frame(l2.chain_df(spark), _per_link_union(spark, l2))
    assert sorted(r.s for r in l2.chain_df(spark).collect()) == ["E", "a", "c"]


def test_chain_df_reads_links_without_manifest_schema(spark, tmp_path):
    """A link whose manifest has no ``schema`` (and whose cache entries
    have no ``schema_id``) — the form written before both were kept — is
    read on its own, inferring its schema as before."""
    import json

    from accelerator_spark import dataset as dsmod

    tip = _chain(spark, tmp_path, [
        ([(1, "a")], "k int, s string"),
        ([(2, "b")], "k int, s string"),
        ([(3, "c")], "k int, s string")])
    old = tmp_path / "l1" / dsmod.MANIFEST_NAME
    m = json.loads(old.read_text())
    del m["schema"]
    old.write_text(json.dumps(m))
    m = json.loads((tmp_path / "l2" / dsmod.MANIFEST_NAME).read_text())
    del m["chain_cache"][1]["schema_id"]
    (tmp_path / "l2" / dsmod.MANIFEST_NAME).write_text(json.dumps(m))
    tip = Dataset.load(tip.path)
    assert [e.get("schema_id") is None for e in tip.chain_entries()] == \
        [False, True, False]
    _assert_same_frame(tip.chain_df(spark), _per_link_union(spark, tip))
    # the rewritten link alone, through df(), still reads
    _assert_same_frame(Dataset.load(str(tmp_path / "l1")).chain_df(spark),
                       _per_link_union(spark, Dataset.load(str(tmp_path / "l1"))))


def test_chain_df_job_count_is_constant_in_chain_length(spark, tmp_path):
    """Building chain_df runs no Spark job, and reading it runs as many
    jobs for 16 links as for 4: no per-link schema inference."""
    from perfbench.harness import JobCounter

    links = []
    for i in range(16):
        links.append(Dataset.write(
            spark.createDataFrame([(i, str(i))], "k bigint, s string"),
            str(tmp_path / f"l{i}"), previous=links[-1] if links else None))
    counter = JobCounter(spark)
    jobs = {}
    try:
        for n in (4, 16):
            tip = links[n - 1]
            gid = counter.group(f"build-{n}")
            df = tip.chain_df(spark)
            assert counter.jobs(gid) == [], n
            gid = counter.group(f"count-{n}")
            assert df.count() == n
            jobs[n] = len(counter.jobs(gid))
    finally:
        counter.clear()
    assert jobs[4] == jobs[16], jobs


def test_overlay_reads_run_no_job(spark, tmp_path):
    """An overlay's data/ schema is in its manifest: building its df(),
    and a chain_df with an overlay link, runs no Spark job."""
    from perfbench.harness import JobCounter

    df = spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, s string")
    base = Dataset.write(df, str(tmp_path / "base"))
    ov = Dataset.write_overlay(
        str(tmp_path / "ov"), base,
        new_cols=spark.createDataFrame([(1, 2.5)], "k bigint, x double"),
        key="k", previous=base)
    counter = JobCounter(spark)
    try:
        gid = counter.group("overlay-df")
        ov_df = ov.df(spark)
        chained = ov.chain_df(spark, allow_missing_columns=True)
        assert counter.jobs(gid) == []
    finally:
        counter.clear()
    assert sorted(ov_df.collect()) == [(1, "a", 2.5), (2, "b", None)]
    assert chained.count() == 4


def test_linked_manifest_without_chain_cache_is_refused(tmp_path):
    """A manifest that links ``previous`` but carries no
    chain_depth/chain_cache cannot be resolved from the cache; loading
    it raises a ValueError naming the manifest instead of silently
    ending the chain at that link."""
    import json

    import pytest

    from accelerator_spark import dataset as dsmod
    from accelerator_spark.dataset import Dataset

    root = _fake_link(str(tmp_path), 0, None, dsmod._chain_meta)
    path = os.path.join(str(tmp_path), "uncached")
    os.makedirs(path)
    with open(os.path.join(path, dsmod.MANIFEST_NAME), "w") as f:
        json.dump({"version": 1, "id": "u", "lines": 1,
                   "minmax": {"k": [1, 1]}, "previous": root,
                   "columns": {"k": "bigint"}}, f)
    with pytest.raises(ValueError, match="uncached"):
        Dataset.load(path)
    # so is writing on top of it
    with pytest.raises(ValueError, match="chain_cache"):
        _fake_link(str(tmp_path), 1, path, dsmod._chain_meta)
    # a chain root needs no cache
    assert Dataset.load(root).chain_entries()[0]["path"] == root


def test_chain_self_heals_after_ancestor_rewrite(spark, sf_dir, tmp_path):
    """Review r4: cache entries are write-time snapshots; rewriting an
    ancestor in place makes them stale. chain() re-reads live manifests
    and must fall back to the eager walk when the snapshot id no longer
    matches."""
    src = load(spark, sf_dir, "region")
    a = Dataset.write(src.limit(2), str(tmp_path / "a"))
    b = Dataset.write(src.limit(3), str(tmp_path / "b"), previous=a)
    # rewrite A in place with different content (new manifest id)
    Dataset.write(src.limit(5), str(tmp_path / "a"))
    chain = b.chain()
    assert [len(ds.df(spark).collect()) for ds in chain] == [5, 3]


def test_build_memo_key_includes_previous_and_hashlabel(spark, sf_dir,
                                                        tmp_path):
    """Review r4 (confirmed): hashlabel/previous change the written
    output, so they must fork the memo key — the old key returned a
    cached dataset with the wrong chain link or partitioning."""
    ctx = BuildContext(spark, str(tmp_path / "wd"))
    src = Dataset.write(load(spark, sf_dir, "nation"), str(tmp_path / "s"))

    def step(spark, datasets, options):
        return datasets["source"].df(spark)

    j1 = ctx.build(step, datasets={"source": src})
    j2 = ctx.build(step, datasets={"source": src},
                   hashlabel="n_regionkey")
    assert not j2.cached and j2.jobid != j1.jobid
    assert j2.dataset().hashlabel == "n_regionkey"
    j3 = ctx.build(step, datasets={"source": src},
                   previous=j1.dataset())
    assert not j3.cached and j3.jobid not in (j1.jobid, j2.jobid)
    assert j3.dataset().manifest["previous"] == j1.dataset().path
    # and each variant still memo-hits itself
    assert ctx.build(step, datasets={"source": src}).cached
    assert ctx.build(step, datasets={"source": src},
                     hashlabel="n_regionkey").cached
    assert ctx.build(step, datasets={"source": src},
                     previous=j1.dataset()).cached


def _pin_step(spark, datasets, options):
    return datasets["source"].df(spark)


def test_job_key_is_pinned(tmp_path):
    """Memo keys persist in every workdir's jobdb, so the key recipe
    must never drift: these literals were computed by an earlier
    release, and an existing workdir memo-hits only while they hold."""
    ctx = BuildContext(None, str(tmp_path))
    src = Dataset("/data/src", {"id": "5f0c" * 8})
    prev = Dataset("/data/prev", {"id": "9a1e" * 8})
    assert ctx._job_key(_pin_step, {"n": 3}, {"source": src}) == \
        "5832107d4cc3d989a42055ad57936f6a371d4531"
    assert ctx._job_key(_pin_step, {"n": 3}, {"source": src},
                        hashlabel="k", previous=prev) == \
        "8c4c37c0a262ca7e3f74d6f247bb6cc05aae998d"
    # an input without an id is identified by its path
    assert ctx._job_key(_pin_step, {}, {"source": Dataset("/data/noid", {})},
                        src_hash="0" * 40) == \
        "05bfc07e7c533b1ae8dd066e8cd72abc7c2111e8"


def test_writer_manifests_are_pinned(spark, tmp_path):
    """The manifest is the on-disk format: each writer's keys and
    values (all but the random ``id`` and the ``created`` stamp) are
    pinned to what an earlier release wrote for the same input."""
    import json

    root = str(tmp_path)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string")
    base = Dataset.write(df, f"{root}/base", caption="c0", filename="f.csv")
    nxt = Dataset.write(df, f"{root}/next", hashlabel="k", previous=base,
                        partitions=2)
    try:
        bk = Dataset.write_bucketed(df, f"{root}/bk", "t_pin_manifest", "k",
                                    4, previous=nxt, caption="c1")
    finally:
        spark.sql("DROP TABLE IF EXISTS t_pin_manifest")
    ov = Dataset.write_overlay(
        f"{root}/ov", base,
        new_cols=spark.createDataFrame([(1, 2.5)], "k long, x double"),
        key="k", virtual={"z": "k + 1"}, exclude=["s"], caption="c2",
        previous=bk)
    names = {"base": base, "next": nxt, "bk": bk, "ov": ov}

    def pinned(ds):
        text = json.dumps(Dataset.load(ds.path).manifest)
        for n, d in names.items():
            text = text.replace(d.manifest["id"], f"<{n}>")
        m = json.loads(text.replace(root, "<root>"))
        del m["id"], m["created"]
        return m

    schema = {"columns": {"k": "bigint", "s": "string"}}
    # Dataset.write also keeps the exact schema JSON; cache entries of
    # its datasets carry that JSON's id
    schema_json = (
        '{"fields":[{"metadata":{},"name":"k","nullable":true,"type":"long"},'
        '{"metadata":{},"name":"s","nullable":true,"type":"string"}],'
        '"type":"struct"}')
    mm = {"k": [1, 2], "s": ["a", "b"]}

    def entry(n, plain=True, minmax=mm, schema_id="732ec8437825"):
        e = {"path": f"<root>/{n}", "id": f"<{n}>", "lines": 2,
             "minmax": minmax, "plain": plain}
        return {**e, "schema_id": schema_id} if schema_id else e

    assert pinned(base) == {
        "version": 1, "caption": "c0", "filename": "f.csv",
        "hashlabel": None, "previous": None, **schema,
        "schema": schema_json, "lines": 2, "minmax": mm, "chain_depth": 0}
    assert pinned(nxt) == {
        "version": 1, "caption": "", "filename": None, "hashlabel": "k",
        "previous": "<root>/base", **schema, "schema": schema_json,
        "lines": 2, "minmax": mm,
        "chain_depth": 1, "chain_cache": [entry("base")]}
    assert pinned(bk) == {
        "version": 1, "caption": "c1", "filename": None, "hashlabel": "k",
        "bucketing": {"table": "t_pin_manifest", "col": "k", "n": 4},
        "previous": "<root>/next", **schema, "lines": 2, "minmax": {},
        "chain_depth": 2, "chain_cache": [entry("base"), entry("next")]}
    assert pinned(ov) == {
        "version": 1, "caption": "c2", "filename": None, "hashlabel": None,
        "parent": "<root>/base",
        "overlay": {"key": "k", "cols": ["x"], "schema": (
            '{"fields":[{"metadata":{},"name":"k","nullable":true,'
            '"type":"long"},{"metadata":{},"name":"x","nullable":true,'
            '"type":"double"}],"type":"struct"}')},
        "virtual": {"z": "k + 1"}, "exclude": ["s"],
        "previous": "<root>/bk",
        "columns": {"k": "bigint", "x": "double", "z": "expr"},
        "lines": 2, "minmax": {"x": [2.5, 2.5]}, "chain_depth": 3,
        "chain_cache": [entry("base"), entry("next"),
                        entry("bk", plain=False, minmax={}, schema_id=None)]}


def test_jobdb_and_urd_tolerate_truncated_lines(spark, sf_dir, tmp_path):
    """Review r4: a crashed writer's partial trailing line must not
    brick builds (BuildContext) or the urd — same tolerance the board
    already had."""
    wd = str(tmp_path / "wd")
    ctx = BuildContext(spark, wd)
    src = Dataset.write(load(spark, sf_dir, "region"), str(tmp_path / "s"))

    def step(spark, datasets, options):
        return datasets["source"].df(spark)

    j1 = ctx.build(step, datasets={"source": src})
    with open(os.path.join(wd, "jobdb.jsonl"), "a") as f:
        f.write('{"jobid": "trunca')  # crashed mid-append
    ctx2 = BuildContext(spark, wd)  # must not raise
    assert ctx2.build(step, datasets={"source": src}).cached

    u = Urd(wd)
    u.add("daily", "2024-01-01", {"job": j1.jobid})
    with open(u.path, "a") as f:
        f.write('{"list": "daily", "ts": "2024-0')
    u2 = Urd(wd)
    assert u2.latest("daily")["ts"] == "2024-01-01"


def test_urd_rejects_conflicting_timestamp(tmp_path):
    """Review r4: same (list, ts) with a DIFFERENT payload must raise
    (timestamps are immutable history) — silently appending made
    latest() and peek() disagree. Identical re-add stays a no-op."""
    import pytest

    u = Urd(str(tmp_path))
    u.add("daily", "2024-01-01", {"job": "a-0"})
    u.add("daily", "2024-01-01", {"job": "a-0"})  # idempotent no-op
    assert len(u.entries("daily")) == 1
    with pytest.raises(ValueError, match="immutable"):
        u.add("daily", "2024-01-01", {"job": "a-1"})


def test_chain_runner_with_typed_options(spark, sf_dir, tmp_path):
    """Review r4: ChainRunner used to inject a synthetic '_chain_ts'
    option, which resolve_options rejects for steps with declared typed
    options — the combination must work."""
    from accelerator_spark.build import RequiredOption
    from accelerator_spark.streaming.incremental import ChainRunner

    ctx = BuildContext(spark, str(tmp_path / "wd"))
    urd = Urd(str(tmp_path / "wd"))
    src = load(spark, sf_dir, "region")

    def step(spark, datasets, options):
        return src.filter(F.col("r_regionkey") == options["region"])

    step.options = {"region": RequiredOption(int)}
    runner = ChainRunner(ctx, urd, "typed")
    head = runner.process({"t1": {"region": 0}, "t2": {"region": 1}}, step)
    assert head is not None
    assert len(head.chain()) == 2
    # idempotent re-run: both batches seen, nothing rebuilt
    assert runner.process({"t1": {"region": 0}, "t2": {"region": 1}},
                          step).path == head.path


def test_register_bucketed_rejects_foreign_catalog_entry(spark, sf_dir,
                                                         tmp_path):
    """Review r4: an existing catalog entry (or temp view) with the
    same table name must not be silently returned as this dataset's
    data — the location has to match."""
    import pytest

    nation = load(spark, sf_dir, "nation")
    a = Dataset.write_bucketed(nation, str(tmp_path / "a"), "t_rb_a",
                               "n_nationkey", 4)
    # same table name, different dataset path
    manifest_b = dict(a.manifest)
    b = Dataset(path=str(tmp_path / "elsewhere"), manifest=manifest_b)
    try:
        a.register_bucketed(spark)  # legitimate owner: fine, idempotent
        a.register_bucketed(spark)
        with pytest.raises(ValueError, match="already bound"):
            b.register_bucketed(spark)
        # temp view shadowing a bucketed table name
        nation.createOrReplaceTempView("t_rb_view")
        c = Dataset.write_bucketed(nation, str(tmp_path / "c"), "t_rb_c",
                                   "n_nationkey", 4)
        c.manifest["bucketing"]["table"] = "t_rb_view"
        with pytest.raises(ValueError, match="already bound"):
            c.register_bucketed(spark)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_rb_a")
        spark.sql("DROP TABLE IF EXISTS t_rb_c")
        spark.catalog.dropTempView("t_rb_view")


def test_checksum_empty_selection_and_both_folds(spark, sf_dir):
    """Review r5: columns=[] read as 'all columns' via the falsy-list
    fallback, letting datasets_equal() compare full-table digests of
    frames sharing NO columns; and checksum_df carried only the xor
    fold, which is blind to rows duplicated an even number of times."""
    import pytest

    from accelerator_spark.operators.checksum import checksum_df

    src = load(spark, sf_dir, "region")
    with pytest.raises(ValueError, match="at least one column"):
        checksum(src, [])
    a = src.select(F.col("r_regionkey").alias("x"))
    b = src.select(F.col("r_regionkey").alias("y"))
    with pytest.raises(ValueError, match="at least one column"):
        datasets_equal(a, b)
    # two different even-duplicated datasets: xor folds tie at 0, the
    # sum fold tells them apart
    d1 = spark.createDataFrame([(1,), (1,)], "k int")
    d2 = spark.createDataFrame([(2,), (2,)], "k int")
    r1, = checksum_df(d1).collect()
    r2, = checksum_df(d2).collect()
    assert r1["checksum_xor"] == r2["checksum_xor"] == 0
    assert r1["checksum_sum"] != r2["checksum_sum"]


def test_bucketed_table_name_edge_cases(spark, sf_dir, tmp_path):
    """ADVICE r4 + review r5: Spark's catalog only accepts \\w+ table
    names — a backtick fails even correctly escaped, a dot fails even
    quoted single-part — so write_bucketed and register_bucketed raise
    a clear ValueError at the boundary instead of a deep analyzer
    error (which for a`b would otherwise mean quote-breakout SQL)."""
    import pytest

    nation = load(spark, sf_dir, "nation")
    for bad in ("t_rb`tick", "t_rb.dot", "t rb", ""):
        with pytest.raises(ValueError, match="not a valid"):
            Dataset.write_bucketed(nation, str(tmp_path / "bt"), bad,
                                   "n_nationkey", 4)
    # a hand-edited manifest with a bad name: same clear error
    d = Dataset.write_bucketed(nation, str(tmp_path / "bd"), "t_rb_ok",
                               "n_nationkey", 4)
    try:
        assert d.register_bucketed(spark).count() == nation.count()
        d.manifest["bucketing"]["table"] = "x`y"
        with pytest.raises(ValueError, match="not a valid"):
            d.register_bucketed(spark)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_rb_ok")


def test_write_invalidates_stale_manifest_first(spark, sf_dir, tmp_path,
                                                monkeypatch):
    """Review r4: rewriting a dataset in place removes the old manifest
    BEFORE replacing the data, so a crash window cannot leave stale
    zone-maps describing the new files."""
    import pyspark.sql.readwriter as rw

    region = load(spark, sf_dir, "region")
    p = str(tmp_path / "d")
    Dataset.write(region, p)
    real_parquet = rw.DataFrameWriter.parquet

    def crashing_parquet(self, *a, **k):
        raise RuntimeError("simulated crash during data write")

    monkeypatch.setattr(rw.DataFrameWriter, "parquet", crashing_parquet)
    import pytest
    with pytest.raises(RuntimeError, match="simulated crash"):
        Dataset.write(region, p)
    monkeypatch.setattr(rw.DataFrameWriter, "parquet", real_parquet)
    # the stale manifest is GONE — a loud recoverable state, not a
    # silently-wrong zone map
    assert not Dataset.exists(p)


def test_chain_stop_ds_path_spellings(spark, sf_dir, tmp_path):
    """Review r4: './x', 'x' and 'x/' must all match the recorded path
    — an equivalent spelling used to silently disable stop_ds."""
    import os

    region = load(spark, sf_dir, "region")
    a = Dataset.write(region, str(tmp_path / "a"))
    b = Dataset.write(region, str(tmp_path / "b"), previous=a)
    c = Dataset.write(region, str(tmp_path / "c"), previous=b)
    rel = os.path.relpath(str(tmp_path / "a"))
    for spelling in (str(tmp_path / "a") + "/", rel, "./" + rel):
        got = [e["path"] for e in c.chain_entries(stop_ds=spelling)]
        assert got == [b.path, c.path], spelling


def test_overlay_key_validated_at_write_time(spark, sf_dir, tmp_path):
    import pytest

    nation = load(spark, sf_dir, "nation")
    parent = Dataset.write(nation, str(tmp_path / "p"))
    extra = nation.select(F.col("n_nationkey"),
                          F.lit(1).alias("flag"))
    with pytest.raises(ValueError, match="not in parent columns"):
        Dataset.write_overlay(str(tmp_path / "o1"), parent,
                              new_cols=extra.withColumnRenamed(
                                  "n_nationkey", "missing_key"),
                              key="missing_key")
    with pytest.raises(ValueError, match="cannot be in exclude"):
        Dataset.write_overlay(str(tmp_path / "o2"), parent,
                              new_cols=extra, key="n_nationkey",
                              exclude=["n_nationkey"])


def test_sql_string_literal_table_name_does_not_require_file(spark, sf_dir,
                                                             tmp_path):
    """Review r4: a table name inside a string literal must not force
    that parquet file to exist."""
    import shutil

    from accelerator_spark.sqlapi import sql

    partial = tmp_path / "partial"
    partial.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", partial / "events.parquet")
    out = sql(spark, str(partial),
              "SELECT count(*) AS n FROM events WHERE event_type <> 'orders'")
    assert out.collect()[0]["n"] > 0


def test_sql_missing_table_drops_stale_view_from_other_dir(spark, sf_dir,
                                                           tmp_path):
    """Review r5: after sql() ran against dirA, querying a table that
    dirB does NOT have must raise TABLE_OR_VIEW_NOT_FOUND — not
    silently serve dirA's rows through the leftover temp view."""
    import shutil

    import pytest

    from accelerator_spark.sqlapi import sql

    dir_a = tmp_path / "a"
    dir_a.mkdir()
    shutil.copy(f"{sf_dir}/region.parquet", dir_a / "region.parquet")
    assert sql(spark, str(dir_a),
               "SELECT count(*) AS n FROM region").collect()[0]["n"] == 5
    dir_b = tmp_path / "b"
    dir_b.mkdir()  # no region.parquet
    with pytest.raises(Exception, match="TABLE_OR_VIEW_NOT_FOUND|region"):
        sql(spark, str(dir_b), "SELECT count(*) AS n FROM region").collect()


def test_why_build_cached_handle_serves_datasets(spark, sf_dir, tmp_path):
    """Review r5: why_build=True on a CACHED job returned a handle with
    no record, so dataset()/df() raised a bare AttributeError even
    though the record was in hand; a would-build handle now raises a
    clear ValueError instead."""
    import pytest

    from accelerator_spark.build import BuildContext

    def step_w(spark_, datasets, options):
        return load(spark_, sf_dir, "region").filter(
            F.col("r_regionkey") < options["k"])

    ctx = BuildContext(spark, str(tmp_path / "wd"))
    j1 = ctx.build(step_w, options={"k": 3})
    jw = ctx.build(step_w, options={"k": 3}, why_build=True)
    assert not jw.would_build and jw.reason == "cached"
    assert jw.df().count() == j1.df().count()  # record passed through
    jmiss = ctx.build(step_w, options={"k": 4}, why_build=True)
    assert jmiss.would_build
    with pytest.raises(ValueError, match="no build record"):
        jmiss.dataset()


def test_dataset_write_dotted_and_backtick_columns(spark, tmp_path):
    """Review r5: minmax observation aggs passed bare name strings to
    F.min/F.max, so a dotted CSV header ('price.usd') parsed as a
    struct path and crashed the write."""
    from accelerator_spark.dataset import Dataset

    df = spark.createDataFrame(
        [(1, 2.5), (9, 0.5)], ["price.usd", "q`ty"])
    ds = Dataset.write(df, str(tmp_path / "dotted"))
    assert ds.manifest["lines"] == 2
    assert ds.manifest["minmax"]["price.usd"] == [1, 9]
    assert ds.manifest["minmax"]["q`ty"] == [0.5, 2.5]
    back = ds.df(spark)
    assert back.count() == 2 and set(back.columns) == {"price.usd", "q`ty"}


def test_concurrent_builds_single_execution(tmp_path):
    """VERDICT r5 #2: two processes building the same step must run the
    work exactly once — the loser waits on the O_EXCL claim and returns
    the winner's memoized record."""
    import subprocess
    import sys

    wd = str(tmp_path / "wd")
    runs = str(tmp_path / "runs.log")
    script = tmp_path / "build_once.py"
    script.write_text(f"""
import os, sys, time
sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})
from accelerator_spark.build import BuildContext

def slow_step(spark, datasets, options):
    with open({runs!r}, "a") as f:
        f.write(str(os.getpid()) + chr(10))
    time.sleep(1.0)
    return {{"n": 42}}

ctx = BuildContext(None, {wd!r})
j = ctx.build(slow_step)
print("RESULT", j.load("n"), j.jobid)
""")
    procs = [subprocess.Popen([sys.executable, str(script)],
                              stdout=subprocess.PIPE, text=True)
             for _ in range(2)]
    outs = [p.communicate(timeout=60)[0] for p in procs]
    assert all(p.returncode == 0 for p in procs)
    # exactly one execution...
    with open(runs) as f:
        assert len(f.read().splitlines()) == 1
    # ...and both callers got the same memoized result
    results = sorted(line for out in outs for line in out.splitlines()
                     if line.startswith("RESULT"))
    assert len(results) == 2 and results[0] == results[1]
    assert "RESULT 42 slow_step-0" in results[0]


def test_crashed_claim_takeover(tmp_path):
    """A claim that stopped heartbeating (mtime past _CLAIM_STALE_S —
    the builder crashed; heartbeats touch the mtime while a step runs)
    is taken over instead of wedging the key; a fresh claim is honored.
    Takeover is an atomic rename-to-tombstone, so concurrent judges of
    the same stale claim cannot both win."""
    import json as _json
    import socket as _socket
    import time as _time

    def step_t(spark_, datasets, options):
        return {"v": 7}

    ctx = BuildContext(None, str(tmp_path / "wd"))
    key = ctx._job_key(step_t, {}, {})
    path = ctx._claim_path(key)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        _json.dump({"pid": 999999, "host": _socket.gethostname(),
                    "time": 0}, f)
    # fresh mtime: claim is honored (owner presumed alive & heartbeating)
    assert not ctx._claim_is_stale(key)
    # stale mtime: taken over; the build runs and releases the claim
    old = _time.time() - ctx._CLAIM_STALE_S - 60
    os.utime(path, (old, old))
    assert ctx._claim_is_stale(key)
    j = ctx.build(step_t)
    assert j.load("v") == 7 and not j.cached
    assert not os.path.exists(path)  # claim released after the build
    # only one of two concurrent takers of the same stale claim can win
    def step_u(spark_, datasets, options):
        return {"v": 8}
    key2 = ctx._job_key(step_u, {}, {})
    path2 = ctx._claim_path(key2)
    with open(path2, "w") as f:
        f.write("{half a json")
    os.utime(path2, (old, old))
    assert ctx._take_over_claim(key2) is True
    assert ctx._take_over_claim(key2) is False  # already gone
    assert ctx.build(step_u).load("v") == 8


def test_release_claim_respects_new_owner(tmp_path):
    """ADVICE r6: a builder stalled past the staleness window gets its
    claim taken over; when its finally block eventually runs,
    _release_claim must NOT delete the new owner's claim (that would
    let a third process double-run the step). Ownership is proven by
    the nonce written at claim time."""
    import json as _json

    def step_n(spark_, datasets, options):
        return {"v": 1}

    ctx = BuildContext(None, str(tmp_path / "wd"))
    key = ctx._job_key(step_n, {}, {})
    path = ctx._claim_path(key)
    assert ctx._try_claim(key) is True
    # simulate a takeover: new owner replaces the claim file
    os.remove(path)
    with open(path, "w") as f:
        _json.dump({"pid": 4242, "host": "elsewhere", "nonce": "theirs"}, f)
    ctx._release_claim(key)
    assert os.path.exists(path)  # not ours — left in place
    with open(path) as f:
        assert _json.load(f)["nonce"] == "theirs"
    os.remove(path)
    # normal path: our own claim IS removed on release
    assert ctx._try_claim(key) is True
    ctx._release_claim(key)
    assert not os.path.exists(path)
    # releasing with no local nonce record (e.g. after a prior release)
    # is conservative: the file stays for staleness takeover
    with open(path, "w") as f:
        _json.dump({"nonce": "someone"}, f)
    ctx._release_claim(key)
    assert os.path.exists(path)


def test_why_build_forced_withholds_stale_record(spark, sf_dir, tmp_path):
    """ADVICE r5: why_build + force_build on a cached job must NOT hand
    back the old record — dataset()/df() would silently serve the
    pre-rebuild outputs the forced build would replace."""
    import pytest

    def step_f(spark_, datasets, options):
        return load(spark_, sf_dir, "region")

    ctx = BuildContext(spark, str(tmp_path / "wd"))
    ctx.build(step_f)
    jf = ctx.build(step_f, why_build=True, force_build=True)
    assert jf.would_build and jf.reason == "forced"
    with pytest.raises(ValueError, match="no build record"):
        jf.dataset()


def test_concurrent_builds_many_threads_single_execution(tmp_path):
    """Claim-protocol stress: N contexts racing on one step (threads,
    shared workdir) run the work exactly once; everyone gets the same
    record. Exercises the claim/waiter/record-visibility paths harder
    than the two-process test."""
    import threading

    wd = str(tmp_path / "wd")
    runs = str(tmp_path / "runs.log")

    def slow_step(spark_, datasets, options):
        import time as _t
        with open(runs, "a") as f:
            f.write("x\n")
        _t.sleep(0.5)
        return {"n": 1}

    results, errors = [], []

    def worker():
        try:
            ctx = BuildContext(None, wd)
            j = ctx.build(slow_step)
            results.append((j.jobid, j.load("n")))
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=worker) for _ in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert errors == []
    with open(runs) as f:
        assert len(f.read().splitlines()) == 1
    assert len(results) == 6 and len(set(results)) == 1
    assert results[0] == ("slow_step-0", 1)
