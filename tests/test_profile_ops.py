"""Unit tests for profiling / constraint validation / CMS decode."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from accelerator_spark.operators.profile import check_constraints, profile
from accelerator_spark.operators.sketches import CountMinSketch


def test_profile_counts_nulls_distinct(spark):
    df = spark.createDataFrame(
        [Row(a=1, b="x"), Row(a=1, b=None), Row(a=3, b="y")])
    p = {r["column"]: r for r in profile(df).collect()}
    assert p["a"]["n_rows"] == 3 and p["a"]["n_nulls"] == 0
    assert p["a"]["n_distinct"] == 2
    assert p["a"]["min_value"] == "1" and p["a"]["max_value"] == "3"
    assert p["b"]["n_nulls"] == 1 and p["b"]["n_distinct"] == 2
    assert p["b"]["min_value"] == "x" and p["b"]["max_value"] == "y"


def test_profile_approx_mode(spark):
    df = spark.range(1000).withColumn("v", F.col("id") % 10)
    p = {r["column"]: r for r in
         profile(df, exact_distinct=False).collect()}
    assert abs(p["v"]["n_distinct"] - 10) <= 1
    assert abs(p["id"]["n_distinct"] - 1000) <= 50


def test_check_constraints_all_rule_classes(spark):
    df = spark.createDataFrame(
        [Row(k=1, s="A", v=5.0), Row(k=1, s="B", v=-1.0),
         Row(k=2, s="Z", v=2.0), Row(k=None, s="A", v=None)])
    dim = spark.createDataFrame([Row(d=1), Row(d=2)])
    rep = {r["rule"]: r["n_violations"] for r in check_constraints(
        df,
        not_null=["k"],
        accepted_values={"s": ["A", "B"]},
        ranges={"v": (0.0, 10.0)},
        unique=["k"],
        foreign_keys=[("k", dim, "d")]).collect()}
    assert rep["not_null:k"] == 1
    assert rep["accepted_values:s"] == 1          # 'Z'
    assert rep["range:v"] == 2                    # -1.0 and NULL
    assert rep["unique:k"] == 1                   # k=1 twice -> 1 extra
    assert rep["foreign_key:k->d"] == 0           # NULL key: NOT IN excludes


def test_check_constraints_green_is_reported(spark):
    df = spark.createDataFrame([Row(k=1), Row(k=2)])
    rep = {r["rule"]: r["n_violations"]
           for r in check_constraints(df, not_null=["k"],
                                      unique=["k"]).collect()}
    assert rep == {"not_null:k": 0, "unique:k": 0}


def test_cms_decode_bounds_and_merge_semantics(spark):
    # skewed frequencies; decode must reproduce exact counts for hot
    # keys (width >> #keys) and never underestimate any key
    df = spark.range(0, 20000).selectExpr(
        "CASE WHEN id % 100 < 50 THEN id % 2 ELSE id % 1000 END AS k")
    truth = {r["k"]: r["c"] for r in
             df.groupBy("k").agg(F.count(F.lit(1)).alias("c")).collect()}
    raw = bytes(df.agg(F.count_min_sketch(
        "k", F.lit(0.001), F.lit(0.99), F.lit(7)).alias("s"))
        .collect()[0]["s"])
    cms = CountMinSketch(raw)
    assert cms.total == 20000
    eps_bound = int(0.001 * cms.total) + 1
    for k, exact in truth.items():
        est = cms.estimate(k)
        assert exact <= est <= exact + eps_bound, (k, exact, est)


def test_observed_metrics_free_pass(spark, tmp_path):
    from accelerator_spark.operators.observe import observed
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [Row(k=1, v=2.0), Row(k=None, v=3.0), Row(k=5, v=4.0)])
    out, obs = observed(df, rows=F.count(F.lit(1)),
                        nulls=F.count_if(F.col("k").isNull()))
    out.write.mode("overwrite").parquet(str(tmp_path / "obs"))
    assert obs.get == {"rows": 3, "nulls": 1}


def test_check_constraints_no_rules_empty_report(spark, sf_dir):
    from conftest import load
    out = check_constraints(load(spark, sf_dir, "nation"))
    assert out.columns == ["rule", "n_violations"]
    assert out.count() == 0


def test_check_constraints_fk_null_keys_not_violations(spark):
    """SQL NOT IN semantics: a NULL foreign key is never a violation
    (ADVICE r2: bare left_anti kept null-key rows)."""
    fact = spark.createDataFrame(
        [(1,), (2,), (None,), (99,)], "k int")
    dim = spark.createDataFrame([(1,), (2,)], "d int")
    out = check_constraints(fact, foreign_keys=[("k", dim, "d")])
    row = out.collect()[0]
    assert row["rule"] == "foreign_key:k->d"
    assert row["n_violations"] == 1  # only 99; the NULL is excluded


def test_winsorize_keeps_null_group_rows(spark):
    """Contract is add-a-column, never drop-rows: NULL group keys must
    survive (null-safe join) and get their own group's cut points."""
    from accelerator_spark.operators.analytics import winsorize
    rows = ([("a", float(i)) for i in range(1, 101)]
            + [(None, float(i)) for i in range(1, 101)])
    df = spark.createDataFrame(rows, "g string, v double")
    out = winsorize(df, "v", ["g"], 0.05, 0.95)
    assert out.count() == 200
    nulls = out.filter(F.col("g").isNull())
    assert nulls.count() == 100
    mx = nulls.agg(F.max("v_winsor")).collect()[0][0]
    assert mx < 100.0  # actually clamped, not passed through


def test_winsorize_null_values_stay_null(spark):
    from accelerator_spark.operators.analytics import winsorize
    rows = [("g", float(i)) for i in range(1, 101)] + [("g", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = winsorize(df, "v", ["g"])
    assert out.count() == 101
    nulls = out.filter(F.col("v").isNull()).collect()
    assert len(nulls) == 1 and nulls[0]["v_winsor"] is None


def test_profile_handles_dotted_column_names(spark):
    """Review r4: dotted names must be backtick-escaped, not parsed as
    struct access."""
    from accelerator_spark.operators.profile import profile

    df = spark.createDataFrame([(1, "x"), (2, None)],
                               "`a.b` int, `c d` string")
    rows = {r["column"]: r for r in profile(df).collect()}
    assert rows["a.b"]["n_nulls"] == 0 and rows["a.b"]["n_distinct"] == 2
    assert rows["c d"]["n_nulls"] == 1


def test_unique_rule_ignores_null_keys(spark):
    """Review r4: dbt/SQL UNIQUE semantics — duplicate NULLs are not
    violations; real duplicates still are."""
    from accelerator_spark.operators.profile import check_constraints

    df = spark.createDataFrame(
        [(None,), (None,), (1,), (1,), (2,)], "k int")
    rep = {r["rule"]: r["n_violations"]
           for r in check_constraints(df, unique=["k"]).collect()}
    assert rep["unique:k"] == 1  # only the duplicated 1, not the NULLs


def test_skyline_rejects_empty_dimensions(spark, sf_dir):
    import pytest
    from accelerator_spark.operators.analytics import skyline
    from conftest import load

    with pytest.raises(ValueError, match="at least one"):
        skyline(load(spark, sf_dir, "part"), [], [])


def test_observed_frames_compose_in_one_query(spark):
    """Review r4: two instrumented frames meeting in a join must not
    collide on the Observation name."""
    from accelerator_spark.operators.observe import observed

    a = spark.range(10).withColumnRenamed("id", "k")
    b = spark.range(5).withColumnRenamed("id", "k")
    da, oa = observed(a, rows=F.count(F.lit(1)))
    db, ob = observed(b, rows=F.count(F.lit(1)))
    assert da.join(db, "k").count() == 5
    assert oa.get["rows"] == 10 and ob.get["rows"] == 5
