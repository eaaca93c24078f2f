"""asx CLI — in-process invocations of main() (the reference tests its
shell the same way: subprocess `ax` calls, SURVEY §5; in-process keeps
the Spark session shared)."""

import json
import os

import pytest

from accelerator_spark.build import BuildContext, Urd
from accelerator_spark import cli

from conftest import load


@pytest.fixture(scope="module")
def workdir(spark, sf_dir, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("cli_wd"))
    ctx = BuildContext(spark, wd)

    def import_nation(spark_, datasets, options):
        return load(spark_, sf_dir, "nation")

    j = ctx.build(import_nation, hashlabel="n_regionkey")
    Urd(wd).add("nations", "2024-01-01", {"job": j.jobid})
    return wd, j


def test_cli_ds(workdir, capsys):
    wd, j = workdir
    assert cli.main(["ds", j.dataset().path]) == 0
    out = capsys.readouterr().out
    assert "lines: 25" in out and "hashlabel: n_regionkey" in out
    assert "n_nationkey: int" in out


def test_cli_cat_and_grep(workdir, capsys):
    wd, j = workdir
    assert cli.main(["cat", j.dataset().path, "-n", "3"]) == 0
    out = capsys.readouterr().out
    assert out.splitlines()[0] == "n_nationkey,n_name,n_regionkey"
    assert len(out.splitlines()) == 4

    assert cli.main(["grep", r"\bNATION_1\b", j.dataset().path]) == 0
    out = capsys.readouterr().out
    assert "NATION_1" in out and "NATION_12" not in out


def test_cli_job_and_urd(workdir, capsys):
    wd, j = workdir
    assert cli.main(["job", wd, j.jobid]) == 0
    rec = json.loads(capsys.readouterr().out)
    assert rec["jobid"] == j.jobid

    assert cli.main(["urd", wd]) == 0
    assert "nations" in capsys.readouterr().out
    assert cli.main(["urd", wd, "nations"]) == 0
    assert "2024-01-01" in capsys.readouterr().out


def test_cli_job_missing(workdir, capsys):
    wd, _ = workdir
    assert cli.main(["job", wd, "nope-99"]) == 1


def test_cli_run_script(workdir, tmp_path, capsys):
    wd, _ = workdir
    script = tmp_path / "bs.py"
    script.write_text(
        "from pyspark.sql import functions as F\n"
        "def tiny(spark, datasets, options):\n"
        "    return spark.range(options['n']).withColumn('x', F.col('id') * 2)\n"
        "def main(urd):\n"
        "    j = urd.build(tiny, options={'n': 7})\n"
        "    urd.add('tiny', 't1', {'job': j.jobid})\n"
        "    print('LINES', j.dataset().lines)\n"
    )
    assert cli.main(["run", wd, str(script)]) == 0
    assert "LINES 7" in capsys.readouterr().out
    # rerun memo-hits, urd stays deduped
    assert cli.main(["run", wd, str(script)]) == 0
    assert cli.main(["urd", wd, "tiny"]) == 0
    assert capsys.readouterr().out.count("t1") == 1


def test_cli_script_and_method(tmp_path, capsys):
    (tmp_path / "build.py").write_text("def main(urd):\n    pass\n")
    (tmp_path / "build_daily.py").write_text(
        'def step_a(spark, datasets, options):\n    """does a thing"""\n'
        "def main(urd):\n    pass\n"
    )
    assert cli.main(["script", str(tmp_path)]) == 0
    out = capsys.readouterr().out
    assert "initial" in out and "daily" in out
    assert cli.main(["method", str(tmp_path / "build_daily.py")]) == 0
    out = capsys.readouterr().out
    assert "step_a" in out and "does a thing" in out
    # empty dir: nonzero like the reference's empty listing
    empty = tmp_path / "none"
    empty.mkdir()
    assert cli.main(["script", str(empty)]) == 1


def test_cli_explain(capsys):
    assert cli.main(["explain"]) == 0
    assert "q1_pricing_summary" in capsys.readouterr().out
    assert cli.main(["explain", "q6_forecast_revenue"]) == 0
    assert "Physical Plan" in capsys.readouterr().out
    assert cli.main(["explain", "nope"]) == 1


def test_cli_oracle_single_query(tmp_path):
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "-m", "accelerator_spark.cli", "oracle",
         "q4_priority_check", "--sf-dir", "/root/testdata/sf0.001"],
        capture_output=True, text=True, timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    assert r.returncode == 0
    assert "1/1 matched" in r.stdout


def test_cli_profile(capsys):
    assert cli.main(["profile", "/root/testdata/sf0.001/nation.parquet"]) == 0
    out = capsys.readouterr().out
    assert "n_nationkey" in out and "25" in out
    assert cli.main(["profile", "/root/testdata/sf0.001/nation.parquet",
                     "--approx"]) == 0


def test_cli_init_scaffold_runs(tmp_path, capsys):
    proj = str(tmp_path / "proj")
    assert cli.main(["init", proj]) == 0
    assert cli.main(["init", proj]) == 1          # refuses to overwrite
    assert cli.main(["init", proj, "--force"]) == 0
    assert cli.main(["run", f"{proj}/workdir", f"{proj}/build.py"]) == 0
    out = capsys.readouterr().out
    assert "report:" in out and "rows=100" in out


def test_cli_grep_json_format(capsys):
    assert cli.main(["grep", "NATION_11",
                     "/root/testdata/sf0.001/nation.parquet",
                     "-o", "json"]) == 0
    out = capsys.readouterr().out
    import json as _json
    rec = _json.loads(out.strip().splitlines()[0])
    assert rec["n_name"] == "NATION_11"


def test_cli_board_static_report(workdir, tmp_path, capsys):
    wd, _job = workdir
    out = str(tmp_path / "board.html")
    assert cli.main(["board", wd, "--out", out]) == 0
    html = open(out).read()
    assert "accelerator_spark board" in html
    assert "Jobs" in html and "Datasets" in html and "Urd registry" in html


def test_job_spec_mini_language(workdir, spark, sf_dir, tmp_path, capsys):
    """Reference sh/parser.py spec surface: step name -> latest job,
    step~1 -> previous, :urdlist -> the registered job."""
    from accelerator_spark.build import BuildContext, resolve_spec

    wd, job = workdir
    # exact id and step-name both resolve to the same record
    assert resolve_spec(wd, job.jobid)["jobid"] == job.jobid
    assert resolve_spec(wd, "import_nation")["jobid"] == job.jobid
    # build a second job of the same step -> latest moves, ~1 is the old
    ctx = BuildContext(spark, wd)

    def import_nation(spark_, datasets, options):
        return load(spark_, sf_dir, "nation").limit(options["n"])

    j2 = ctx.build(import_nation, options={"n": 5})
    assert resolve_spec(wd, "import_nation")["jobid"] == j2.jobid
    assert resolve_spec(wd, "import_nation~")["jobid"] == job.jobid
    assert resolve_spec(wd, "import_nation~1")["jobid"] == job.jobid
    # urd specs
    assert resolve_spec(wd, ":nations")["jobid"] == job.jobid
    assert resolve_spec(wd, ":nations/2024-01-01")["jobid"] == job.jobid
    assert resolve_spec(wd, ":nope") is None
    assert resolve_spec(wd, "bogus~9") is None
    # CLI path
    assert cli.main(["job", wd, "import_nation~1"]) == 0
    assert job.jobid in capsys.readouterr().out


def test_resolve_spec_malformed_returns_none(spark, tmp_path):
    """ADVICE r2: 'step~x' and 'step~-1' must resolve to nothing, not
    traceback out of the CLI."""
    from accelerator_spark.build import BuildContext, resolve_spec
    wd = str(tmp_path / "wd")
    ctx = BuildContext(spark, wd)

    def stepx(spark_, datasets, options):
        return None

    ctx.build(stepx)
    assert resolve_spec(wd, "stepx~x") is None
    assert resolve_spec(wd, "stepx~-1") is None
    assert resolve_spec(wd, "stepx~99") is None
    assert resolve_spec(wd, "nope~") is None


def test_board_server_endpoints(workdir):
    """asx serve: live board + JSON surface (reference board.py /
    shell/curl.py reduced core)."""
    import json as _json
    import threading
    import urllib.request

    from accelerator_spark.cli import make_board_server

    wd, job = workdir
    srv = make_board_server(wd, 0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        html = urllib.request.urlopen(base + "/").read().decode()
        assert "accelerator_spark board" in html
        jobs = _json.loads(urllib.request.urlopen(base + "/jobs").read())
        assert any(r["jobid"] == job.jobid for r in jobs)
        rec = _json.loads(
            urllib.request.urlopen(base + f"/job/{job.jobid}").read())
        assert rec["jobid"] == job.jobid
        lists = _json.loads(urllib.request.urlopen(base + "/urd").read())
        assert "nations" in lists
        try:
            urllib.request.urlopen(base + "/job/nope")
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        srv.shutdown()


def test_run_append_column_example(spark, tmp_path):
    """examples/append_column.py (the reference's appendcolumn example
    as a zero-copy overlay) runs end-to-end through asx run."""
    import os
    from accelerator_spark.cli import main as cli_main
    from accelerator_spark.dataset import Dataset

    wd = str(tmp_path / "wd")
    rc = cli_main(["run", wd,
                   os.path.join(os.path.dirname(__file__), "..",
                                "examples", "append_column.py")])
    assert rc == 0
    ov = Dataset.load(os.path.join(wd, "append_price_band-0", "default"))
    assert ov.manifest["parent"].endswith("import_parts-0/default")
    assert "scaled_price" in ov.columns and "is_premium" in ov.columns


def test_run_import_csv_example(spark, tmp_path):
    """examples/import_csv.py (reference dsexample-import_csv /
    tutorial02): import -> type -> sort -> hashpart, bad rows captured
    at both stages."""
    import os
    from accelerator_spark.cli import main as cli_main
    from accelerator_spark.dataset import Dataset

    wd = str(tmp_path / "wd")
    rc = cli_main(["run", wd,
                   os.path.join(os.path.dirname(__file__), "..",
                                "examples", "import_csv.py")])
    assert rc == 0
    typed = Dataset.load(os.path.join(wd, "type_it-0", "default"))
    assert typed.lines == 4  # the not-a-date row went to bad
    assert Dataset.load(os.path.join(wd, "type_it-0", "bad")).lines == 1
    final = Dataset.load(os.path.join(wd, "hashpart_it-0", "default"))
    assert final.hashlabel == "String"
    assert final.columns["Date"] == "date"
    assert final.columns["Int"] == "double"  # number -> double (FIXTURES §1)


def test_cli_method_ignores_nested_functions(tmp_path, capsys):
    """Review r5: ast.walk listed helpers defined INSIDE a step as if
    they were script-level methods."""
    (tmp_path / "build_x.py").write_text(
        'def step_a(spark, datasets, options):\n'
        '    """outer"""\n'
        '    def inner_helper(batches):\n'
        '        """not a method"""\n'
        '    return inner_helper\n'
    )
    assert cli.main(["method", str(tmp_path / "build_x.py")]) == 0
    out = capsys.readouterr().out
    assert "step_a" in out and "inner_helper" not in out
