"""dataset_type conversion menu — fixtures from FIXTURES.md §2 /
the reference's a_test_dataset_type_corner_cases.py semantics."""

import datetime

import pytest
from pyspark.sql import functions as F

from accelerator_spark.functions.conversions import (
    convert_expr, dataset_type, strptime_to_spark,
)


def conv(spark, values, typ, **kw):
    df = spark.createDataFrame([(v,) for v in values], "s string")
    return [r[0] for r in df.select(convert_expr("s", typ, **kw)).collect()]


def test_int_base10(spark):
    # "" -> 0: strtol("") consumes no digits and endptr sits at NUL, so
    # the reference accepts empty cells as 0 (review r4)
    assert conv(spark, ["42", " -7 ", "0x1f", "", "NaN", "9223372036854775807"],
                "int64_10") == [42, -7, None, 0, None, 9223372036854775807]


def test_int_base16(spark):
    assert conv(spark, ["1f", "FF", "zz", "0x10", "-a"], "int64_16") == \
        [31, 255, None, 16, -10]


def test_int_base8_and_0(spark):
    assert conv(spark, ["17", "9"], "int64_8") == [15, None]
    assert conv(spark, ["0x10", "010", "10", "0", "junk"], "int64_0") == \
        [16, 8, 10, 0, None]


def test_int_ignore_trailing(spark):
    # "abc" -> 0, not bad: the whole=0 C template skips the *endptr
    # check, so strtol's no-digits-consumed 0 is stored (ADVICE r4)
    assert conv(spark, ["42abc", "-7.5", "abc", "-", "0xzz"],
                "int64_10i") == [42, -7, 0, 0, 0]
    assert conv(spark, ["zz", "0xzz", "abcx"], "int64_16i") == [0, 0, 2748]
    assert conv(spark, ["junk", "0xzz", "019x"], "int64_0i") == [0, 0, 1]


def test_float_ignore_trailing(spark):
    # strtod("abc") consumes nothing -> 0.0 stored under whole=0
    assert conv(spark, ["3.5x", "abc", ".", "infx"], "float64i") == \
        [3.5, 0.0, 0.0, float("inf")]
    assert conv(spark, ["abc"], "floatint64ei") == [0]
    assert conv(spark, ["abc"], "floatbooli") == [False]


def test_bits_ignore_trailing(spark):
    # unsigned template rejects ANY minus-led cell BEFORE strtoul
    # regardless of whole (reference dataset_type.py:477-480): '-abc',
    # bare '-' and even '-0' are bad, while non-minus garbage stores
    # strtoul's 0 (review r5 — the no-prefix '0' fallback must not
    # apply to minus-led cells)
    assert conv(spark, ["5x", "abc", "-5x", "-abc", "-", "-0"],
                "bits64_10i") == [5, 0, None, None, None, None]
    # signed bare '-': strtol consumes nothing, whole=0 stores the 0
    assert conv(spark, ["-", "-abc"], "int64_10i") == [0, 0]


def test_bits_reject_negative(spark):
    # '-0' parses to 0 which passes a >=0 range check — only the
    # minus-led guard catches it (review r5)
    assert conv(spark, ["5", "-5", "-0"], "bits64_10") == [5, None, None]


def test_float(spark):
    out = conv(spark, ["3.14", "1e100", "-inf", "x", ""], "float64")
    assert out[0] == 3.14 and out[1] == 1e100
    # "" -> 0.0 per the reference's strtod semantics (review r4)
    assert out[2] == float("-inf") and out[3] is None and out[4] == 0.0


def test_float_numeric_comma(spark):
    assert conv(spark, ["3,14"], "float64", numeric_comma=True) == [3.14]


def test_floatint_exact_vs_saturating(spark):
    # fractional values truncate toward zero (C *p = value), they are
    # not bad; saturation clamps at +/-INT64_MAX (review r4, reference
    # _c_conv_floatint_* templates)
    assert conv(spark, ["3.0", "2.5", "-2.5", "1e300"], "floatint64e") == \
        [3, 2, -2, None]
    sat = conv(spark, ["1e300", "-1e300", "3.9", "-1.5"], "floatint64s")
    assert sat == [9223372036854775807, -9223372036854775807, 3, -1]


def test_strbool(spark):
    vals = ["true", "FALSE", "0", "f", "F", "no", "off", "nil", "null", "",
            "1", "yes", "banana"]
    assert conv(spark, vals, "strbool") == \
        [True, False, False, False, False, False, False, False, False, False,
         True, True, True]


def test_floatbool(spark):
    assert conv(spark, ["0.0", "1.5", "x"], "floatbool") == [False, True, None]


def test_date_and_bad_date(spark):
    out = conv(spark, ["2024-02-29", "2023-02-29", "not a date"], "date:%Y-%m-%d")
    assert out == [datetime.date(2024, 2, 29), None, None]


def test_datetime_with_micros(spark):
    out = conv(spark, ["2024-01-02 03:04:05.000678"], "datetime:%Y-%m-%d %H:%M:%S.%f")
    assert out == [datetime.datetime(2024, 1, 2, 3, 4, 5, 678)]


def test_datetime_epoch_forms(spark):
    assert conv(spark, ["1700000000"], "unixtime") == \
        [datetime.datetime(2023, 11, 14, 22, 13, 20)]
    assert conv(spark, ["1700000000123"], "javadatetime") == \
        [datetime.datetime(2023, 11, 14, 22, 13, 20, 123000)]


def test_time_us(spark):
    out = conv(spark, ["12:00:00", "00:01:02"], "time:%H:%M:%S")
    assert out == [12 * 3600 * 1_000_000, 62 * 1_000_000]


def test_number(spark):
    out = conv(spark, ["42", "3.5", "junk"], "number")
    assert out == [42.0, 3.5, None]
    assert conv(spark, ["42", "3.0", "3.5"], "number:int") == [42, 3, None]


def test_json(spark):
    out = conv(spark, ['{"a":[1,2]}', 'null', '"x"', '{bad'], "json")
    assert out == ['{"a":[1,2]}', "null", '"x"', None]


def test_ascii_modes(spark):
    assert conv(spark, ["foo", "blå"], "ascii:strict") == ["foo", None]
    assert conv(spark, ["blå"], "ascii:replace") == ["bl?"]


def test_strptime_translation():
    assert strptime_to_spark("%Y-%m-%d %H:%M:%S.%f") == "yyyy-MM-dd HH:mm:ss.SSSSSS"
    assert strptime_to_spark("%d/%b/%Y") == "dd/MMM/yyyy"
    with pytest.raises(ValueError):
        strptime_to_spark("%Q")


def test_dataset_type_defaults_and_filter_bad(spark):
    df = spark.createDataFrame(
        [("1", "2.5", "x"), ("bad", "3.5", "y"), ("3", "bad", "z")],
        "a string, b string, c string")
    # default rescues column a; b has no default -> its bad row drops
    typed, bad = dataset_type(
        df, {"a": "int64_10", "b": "float64"},
        defaults={"a": -1}, filter_bad=True)
    rows = {tuple(r) for r in typed.collect()}
    assert rows == {(1, 2.5, "x"), (-1, 3.5, "y")}
    bad_rows = bad.collect()
    assert len(bad_rows) == 1 and bad_rows[0]["a"] == "3"
    assert bad_rows[0]["bad_columns"] == ["b"]


def test_dataset_type_rename_discard(spark):
    df = spark.createDataFrame([("1", "junk")], "x string, drop_me string")
    typed, _ = dataset_type(
        df, {"y": "int64_10"}, rename={"x": "y", "drop_me": None})
    assert typed.columns == ["y"]
    assert typed.collect()[0]["y"] == 1


# --- pickle columns (opt-in; reference dsutil.py:139-177) --------------

def test_pickle_column_roundtrip(spark, tmp_path):
    """Arbitrary Python objects survive a dataset write/read as
    BinaryType pickles; typed projection + object iteration both work."""
    from accelerator_spark.dataset import Dataset
    from accelerator_spark.functions.pickles import (
        iterate_objects, pickle_col, unpickle_col)
    from pyspark.sql import functions as F

    src = spark.createDataFrame(
        [(1, {"x": 10, "tag": "a"}), (2, {"x": 20, "tag": "b"}),
         (3, None)],
        "id int, obj map<string,string>")
    # map cells pickle as dicts; None stays None
    blob = src.select(
        "id",
        pickle_col(F.when(F.col("obj").isNotNull(), F.col("obj"))).alias("p"))
    ds = Dataset.write(blob, str(tmp_path / "pk"))
    back = ds.df(spark)
    assert dict(back.dtypes)["p"] == "binary"

    typed = back.select(
        "id", unpickle_col("p", "string",
                           transform=lambda o: o["tag"]).alias("tag"))
    got = {r["id"]: r["tag"] for r in typed.collect()}
    assert got == {1: "a", 2: "b", 3: None}

    def use(pdf):
        pdf["x"] = pdf["p"].map(lambda o: int(o["x"]) if o else -1)
        return pdf[["id", "x"]]

    it = iterate_objects(back, ["p"], use, "id int, x int")
    assert {r["id"]: r["x"] for r in it.collect()} == {1: 10, 2: 20, 3: -1}


def test_pickle_struct_column(spark):
    from accelerator_spark.functions.pickles import pickle_col, unpickle_col
    from pyspark.sql import functions as F
    df = spark.createDataFrame([(1, "a"), (2, "b")], "x int, y string")
    blob = df.select(pickle_col(F.struct("x", "y")).alias("p"))
    back = blob.select(
        unpickle_col("p", "string", transform=lambda o: f"{o['x']}{o['y']}")
        .alias("s"))
    assert sorted(r["s"] for r in back.collect()) == ["1a", "2b"]


def test_review_r3_conversion_edge_cases(spark):
    """Review r3 fixes: epoch types ignore timezone; base-0 ignore-
    trailing; bits32 full uint32 range; inf prefix extraction; NaN not
    saturated to 0; defaults only on parse failure; time pmod."""
    from accelerator_spark.functions.conversions import convert_expr, dataset_type

    df = spark.createDataFrame(
        [("0", "0x1A rest", "3000000000", "infx", "NaN", None, "junk")],
        "epoch string, b0 string, u32 string, inf string, nan string, "
        "dflt string, dflt2 string")
    row = df.select(
        convert_expr("epoch", "unixtime", timezone="America/New_York")
        .alias("ts"),
        convert_expr("b0", "int64_0i").alias("b0"),
        convert_expr("u32", "bits32_10").alias("u32"),
        convert_expr("inf", "float64i").alias("inf"),
        convert_expr("nan", "floatint64s").alias("nan"),
    ).collect()[0]
    assert row["ts"].isoformat() == "1970-01-01T00:00:00"  # no tz shift
    assert row["b0"] == 26          # strtol base-0 hex prefix
    assert row["u32"] == 3000000000  # full uint32 range
    assert row["inf"] == float("inf")  # 'infx' -> inf prefix
    assert row["nan"] is None       # NaN has no integer value

    # '019' base-0: strtol parses octal prefix '01' = 1
    df2 = spark.createDataFrame([("019",)], "v string")
    assert df2.select(convert_expr("v", "int64_0i").alias("x")
                      ).collect()[0]["x"] == 1

    # defaults apply on parse failure only — NULL input stays NULL
    src = spark.createDataFrame([(None,), ("junk",), ("5",)], "n string")
    typed, _ = dataset_type(src, {"n": "int64_10"}, defaults={"n": 42})
    got = sorted((r["n"] is None, r["n"]) for r in typed.collect())
    assert got == [(False, 5), (False, 42), (True, None)]


def test_chain_runner_rejects_backfill(spark, tmp_path):
    """Review r3: a batch older than the chain head must be rejected
    (reference urd refuses non-advancing timestamps), not silently
    linked where head() can never see it."""
    import pytest
    from accelerator_spark.build import BuildContext, Urd
    from accelerator_spark.streaming.incremental import ChainRunner
    from conftest import load

    wd = str(tmp_path / "wd")
    ctx, urd = BuildContext(spark, wd), Urd(wd)
    runner = ChainRunner(ctx, urd, "days")

    def step(spark_, datasets, options):
        return load(spark_, "/root/testdata/sf0.001", "region")

    runner.process({"2024-01-02": {}}, step)
    with pytest.raises(ValueError, match="older than the chain head"):
        runner.process({"2024-01-01": {}, "2024-01-03": {}}, step)


def test_int_hex_overflow_is_bad_not_crash(spark):
    """Review r4: under ANSI, conv() on >uint64 input THREW and killed
    the job; garbage magnitudes must be bad (NULL). The signed int64
    boundary itself round-trips, including -2^63."""
    vals = ["123456789ABCDEF01",       # 17 hex digits: > uint64 -> bad
            "FFFFFFFFFFFFFFFF",        # uint64 max: > int64 -> bad
            "7fffffffffffffff",        # int64 max
            "-8000000000000000",       # int64 min (magnitude 2^63)
            "0000000000000000001f"]    # leading zeros don't overflow
    assert conv(spark, vals, "int64_16") == \
        [None, None, 9223372036854775807, -9223372036854775808, 31]
    assert conv(spark, ["1000000000000000000000", "-1000000000000000000000",
                        "7777777777777777777777777"], "int64_8") == \
        [None, -9223372036854775808, None]


def test_datetimei_ignores_trailing_garbage(spark):
    """Review r4: the reference's ignore-trailing temporal names put the
    i BEFORE the colon (datetimei:/datei:/timei:, dataset_type.py:
    784-786) — strptime parses the prefix and ignores the rest."""
    import datetime

    got = conv(spark, ["2024-03-05 extra garbage", "2024-03-05", "nope"],
               "datei:%Y-%m-%d")
    assert got == [datetime.date(2024, 3, 5), datetime.date(2024, 3, 5), None]
    got = conv(spark, ["12:30:05.junk"], "timei:%H:%M:%S")
    assert got == [12 * 3_600_000_000 + 30 * 60_000_000 + 5_000_000]
    got = conv(spark, ["2024-03-05 12:30:05 UTC blah"],
               "datetimei:%Y-%m-%d %H:%M:%S")
    assert got == [datetime.datetime(2024, 3, 5, 12, 30, 5)]


def test_pickle_null_struct_stays_null(spark):
    """Review r4: a NULL struct row reaches the pandas UDF as a row of
    NaNs — it must pickle to SQL NULL, not to a dict of NaNs."""
    import pickle as _p

    from accelerator_spark.functions.pickles import pickle_col

    df = spark.createDataFrame(
        [(1, (7, "a")), (2, None)], "id long, s struct<x:long,y:string>")
    rows = {r["id"]: r["b"] for r in
            df.select("id", pickle_col("s").alias("b")).collect()}
    assert _p.loads(bytes(rows[1])) == {"x": 7, "y": "a"}
    assert rows[2] is None


def test_pickles_module_imports_without_session():
    """Review r4: a module-level pandas_udf resolved its type against
    the active session at import, crashing imports that ran before
    get_spark(); the UDF must be built lazily."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c",
         f"import sys; sys.path.insert(0, {repo!r}); "
         "import accelerator_spark.functions.pickles; print('ok')"],
        capture_output=True, text=True, timeout=120)
    assert proc.returncode == 0 and "ok" in proc.stdout, proc.stderr[-500:]


def test_strptime_literal_words_and_dotted_columns(spark):
    """Review r5: consecutive literal letters were quoted per-char, so
    'at' became 'a''t' (an ESCAPED QUOTE to Java's formatter) and every
    multi-letter literal word silently failed to parse; dotted column
    names parsed as struct paths in dataset_type."""
    assert strptime_to_spark("%d %B %Y at %H:%M") == "dd MMMM yyyy 'at' HH:mm"
    # 'o' (literal o) + '' (escaped quote) + 'clock' — o'clock
    assert strptime_to_spark("%H o'clock") == "HH 'o''''clock'"
    df = spark.createDataFrame(
        [("12 March 2024 at 10:30",)], ["when.raw"])
    typed, _ = dataset_type(df, {"when.raw": "datetime:%d %B %Y at %H:%M"})
    row = typed.collect()[0]
    v = row["when.raw"]
    assert (v.year, v.month, v.day, v.hour, v.minute) == (2024, 3, 12, 10, 30)


def test_csv_duplicate_labels_rejected(spark, tmp_path):
    """Review r5: duplicate header labels silently produced either
    Spark's a0/a1 renames (native path) or ambiguous duplicate columns
    (text path); the reference rejects them at import."""
    import pytest

    from accelerator_spark.sources.csv import CsvImportError, csvimport

    p = tmp_path / "dup.csv"
    p.write_text("a,a,b\n1,2,3\n")
    with pytest.raises(CsvImportError, match="duplicate labels"):
        csvimport(spark, str(p))
    with pytest.raises(CsvImportError, match="duplicate labels"):
        csvimport(spark, str(p), allow_bad=True)
    with pytest.raises(CsvImportError, match="duplicate labels"):
        csvimport(spark, str(p), labels=["x", "x", "y"], skip_lines=1)
