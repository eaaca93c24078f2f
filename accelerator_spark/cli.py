"""``asx`` — thin CLI over manifests/registry, mirroring the reference's
``ax`` shell (SURVEY §2.11: sh/ds.py, sh/grep.py, sh/job.py, sh/urd.py).

Commands:
  ds <path>                 dataset schema, lines, hashlabel, min/max, chain
  cat <path> [-n N]         print rows (csv to stdout)
  grep <pattern> <path>     regex search across all columns (reference:
                            parallel per-slice grep -> here a distributed
                            filter(rlike) — same result, Spark parallelism)
  job <workdir> <jobid>     job record from the build database
  urd <workdir> [list]      registry lists / entries
Run: python -m accelerator_spark.cli <cmd> ...
"""

from __future__ import annotations

import argparse
import json
import sys

from .build import Urd, read_jobdb
from .dataset import Dataset


def _spark():
    from .session import get_spark
    return get_spark(app_name="asx_cli")


def _load_df(spark, path: str):
    """Resolve a path to a DataFrame: a dataset dir (manifest) or a
    plain parquet path. Single-sourced for cat/grep/profile."""
    if Dataset.exists(path):
        return Dataset.load(path).df(spark)
    return spark.read.parquet(path)


def _emit_csv(columns, rows) -> None:
    """Proper CSV to stdout (quoting/escaping — a plain ','.join
    corrupts values containing commas/quotes/newlines)."""
    import csv as _csv
    w = _csv.writer(sys.stdout)
    w.writerow(columns)
    for r in rows:
        w.writerow(["" if v is None else v for v in r])


def cmd_ds(args) -> int:
    ds = Dataset.load(args.path)
    m = ds.manifest
    print(f"dataset: {args.path}")
    print(f"caption: {m.get('caption', '')}  lines: {m['lines']}  "
          f"hashlabel: {m.get('hashlabel')}")
    print("columns:")
    for name, typ in m["columns"].items():
        mm = m.get("minmax", {}).get(name)
        rng = f"  [{mm[0]} .. {mm[1]}]" if mm else ""
        print(f"  {name}: {typ}{rng}")
    chain = ds.chain()
    if len(chain) > 1:
        print(f"chain ({len(chain)} datasets, oldest first):")
        for c in chain:
            print(f"  {c.path}  lines={c.lines}")
    return 0


def cmd_cat(args) -> int:
    spark = _spark()
    df = _load_df(spark, args.path)
    _emit_csv(df.columns, df.limit(args.n).collect())
    return 0


def cmd_grep(args) -> int:
    from functools import reduce
    from operator import or_

    from pyspark.sql import functions as F
    spark = _spark()
    df = _load_df(spark, args.path)
    cols = args.columns.split(",") if args.columns else df.columns
    # per-column match (reference semantics): an OR of rlike per column
    # — a concat would let patterns match across column boundaries and
    # break ^...$ anchors
    hit = reduce(or_, [F.coalesce(F.col(c).cast("string"), F.lit(""))
                       .rlike(args.pattern) for c in cols])
    hits = df.filter(hit)
    rows = hits.limit(args.n).collect()
    if args.format == "json":
        for r in rows:
            print(json.dumps(r.asDict(), default=str))
    else:
        _emit_csv(df.columns, rows)
    print(f"# {len(rows)} rows shown (limit {args.n})", file=sys.stderr)
    return 0


_INIT_BUILD_TEMPLATE = '''"""Build script scaffold (asx init). Define steps as plain functions
(spark, datasets, options) -> DataFrame | {"default": df, ...}, then wire
them in main(urd) with urd.build (memoized; re-runs are free on cache
hits)."""

from pyspark.sql import functions as F


def import_data(spark, datasets, options):
    return spark.range(0, 100).withColumn("v", F.col("id") * 2)


def report(spark, datasets, options):
    df = datasets["data"].df(spark)
    return df.agg(F.count(F.lit(1)).alias("rows"), F.sum("v").alias("total"))


def main(urd):
    imp = urd.build(import_data)
    rep = urd.build(report, datasets={"data": imp.dataset()})
    print("report:", rep.dataset().df(urd.spark).collect())
'''


def cmd_init(args) -> int:
    """Scaffold a project directory (the reference's ``ax init``:
    sh/init.py creates a workdir + method package + build script)."""
    import os
    os.makedirs(args.dir, exist_ok=True)
    os.makedirs(os.path.join(args.dir, "workdir"), exist_ok=True)
    script = os.path.join(args.dir, "build.py")
    if os.path.exists(script) and not args.force:
        print(f"{script} exists (use --force to overwrite)", file=sys.stderr)
        return 1
    with open(script, "w") as f:
        f.write(_INIT_BUILD_TEMPLATE)
    print(f"initialized {args.dir}: build.py + workdir/")
    print(f"run it:  python -m accelerator_spark.cli run "
          f"{os.path.join(args.dir, 'workdir')} {script}")
    return 0


def cmd_job(args) -> int:
    """Job lookup through the spec mini-language (reference sh/parser.py):
    exact jobid, `step` (latest), `step~N` (N back), `:urdlist[/ts]`."""
    from .build import resolve_spec
    rec = resolve_spec(args.workdir, args.jobid)
    if rec is None:
        print(f"job spec {args.jobid!r} resolves to nothing in "
              f"{args.workdir}", file=sys.stderr)
        return 1
    print(json.dumps(rec, indent=2))
    return 0


def cmd_run(args) -> int:
    """Run a build script (the reference's main entry point, ``ax run``:
    sh/__init__.py:263-285 → build.py main). The script defines
    ``main(urd)`` where urd is a build context facade exposing
    ``.build(step, ...)`` (memoized) and the urd registry — mirroring the
    reference's ``urd.build(...)`` surface (accelerator/build.py:568)."""
    import importlib.util

    from .build import BuildContext, Urd

    spec = importlib.util.spec_from_file_location("build_script", args.script)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    if not hasattr(mod, "main"):
        print(f"{args.script}: no main(urd) function", file=sys.stderr)
        return 1

    spark = _spark()
    ctx = BuildContext(spark, args.workdir)
    registry = Urd(args.workdir)

    class UrdFacade:
        """build + registry in one handle, like the reference's urd."""

        def __init__(self):
            self.ctx = ctx
            self.registry = registry
            self.spark = spark

        def build(self, step, **kw):
            return ctx.build(step, **kw)

        def add(self, listname, ts, payload):
            registry.add(listname, ts, payload)

        latest = staticmethod(registry.latest)
        first = staticmethod(registry.first)
        since = staticmethod(registry.since)
        peek = staticmethod(registry.peek)

    mod.main(UrdFacade())
    return 0


def cmd_script(args) -> int:
    """List build scripts in a directory (``ax script``:
    sh/script.py:33-41 — build.py / build_*.py discovery, the same
    pattern accelerator/build.py:632 find_automata uses)."""
    import glob
    import os
    hits = sorted(
        p for pat in ("build.py", "build_*.py")
        for p in glob.glob(os.path.join(args.dir, pat))
    )
    for path in hits:
        name = os.path.basename(path)[:-3]
        name = "initial" if name == "build" else name.replace("build_", "", 1)
        print(f"{name:<24} {path}")
    return 0 if hits else 1


def cmd_method(args) -> int:
    """List the steps a build script calls (``ax method``:
    sh/method.py:29 lists methods; our methods are plain functions, so
    show each script-level function with its docstring first line)."""
    import ast
    with open(args.script) as f:
        tree = ast.parse(f.read())
    found = False
    # tree.body, not ast.walk: walk descends into nested scopes and
    # listed helpers defined INSIDE a step as if they were buildable
    # script-level methods (review r5)
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            doc = ast.get_docstring(node) or ""
            first = doc.splitlines()[0] if doc else ""
            print(f"{node.name:<28} {first}")
            found = True
    return 0 if found else 1


def cmd_explain(args) -> int:
    """Show the physical plan of a registered query (the `.explain`
    review loop from SCALE.md as a shell command). Lists query names
    when called without one."""
    from . import queries as Q
    if not args.query:
        for name in sorted(Q.QUERIES):
            print(name)
        return 0
    if args.query not in Q.QUERIES:
        print(f"unknown query {args.query!r} (run without a name to list)",
              file=sys.stderr)
        return 1
    df = Q.QUERIES[args.query](_spark(), args.sf_dir)
    df.explain("formatted")
    return 0


def cmd_oracle(args) -> int:
    """Run a query (or all) against its DuckDB oracle — the driver's
    correctness gate as a shell command. Exit 0 iff everything matches."""
    import os
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cmd = [sys.executable, os.path.join(repo, "tools", "check_oracle.py"),
           args.sf_dir] + (args.queries or [])
    return subprocess.call(cmd)


def cmd_profile(args) -> int:
    """Distributed per-column profile of a dataset/parquet path
    (operators/profile.profile): count, nulls, distinct, min, max.
    The deep version of ``asx ds`` — ds reads manifest metadata,
    profile scans (one agg pass)."""
    spark = _spark()
    df = _load_df(spark, args.path)
    from .operators.profile import profile
    rows = profile(df, exact_distinct=not args.approx).orderBy("column").collect()
    widths = (max(len(r["column"]) for r in rows) + 2) if rows else 10
    print(f"{'column':<{widths}}{'rows':>10}{'nulls':>8}{'distinct':>10}  min .. max")
    for r in rows:
        print(f"{r['column']:<{widths}}{r['n_rows']:>10}{r['n_nulls']:>8}"
              f"{r['n_distinct']:>10}  {r['min_value']} .. {r['max_value']}")
    return 0


def _board_html(workdir: str) -> str:
    """Board HTML for a workdir (shared by ``asx board`` static export
    and ``asx serve``)."""
    import html
    import os

    jobs = read_jobdb(workdir)
    u = Urd(workdir)
    sections = ["<h1>accelerator_spark board</h1>",
                f"<p>workdir: <code>{html.escape(workdir)}</code> — "
                f"{len(jobs)} jobs</p>", "<h2>Jobs</h2><table border=1>"
                "<tr><th>jobid</th><th>outputs</th><th>artifacts</th></tr>"]
    for rec in jobs:
        outs = ", ".join(rec.get("outputs", {}))
        arts = ", ".join(rec.get("artifacts", {}))
        sections.append(f"<tr><td>{html.escape(rec['jobid'])}</td>"
                        f"<td>{html.escape(outs)}</td>"
                        f"<td>{html.escape(arts)}</td></tr>")
    sections.append("</table><h2>Datasets</h2><table border=1>"
                    "<tr><th>job</th><th>dataset</th><th>lines</th>"
                    "<th>hashlabel</th><th>columns</th></tr>")
    for rec in jobs:
        for name, path in rec.get("outputs", {}).items():
            try:
                m = Dataset.load(path).manifest
                cols = ", ".join(m["columns"])
                sections.append(
                    f"<tr><td>{html.escape(rec['jobid'])}</td>"
                    f"<td>{html.escape(name)}</td><td>{m['lines']}</td>"
                    f"<td>{html.escape(str(m.get('hashlabel')))}</td>"
                    f"<td>{html.escape(cols)}</td></tr>")
            except Exception:  # noqa: BLE001 — partial workdirs are fine
                continue
    sections.append("</table><h2>Urd registry</h2>")
    for lname in u.lists():
        sections.append(f"<h3>{html.escape(lname)}</h3><ul>")
        for e in u.entries(lname):
            sections.append(f"<li><code>{html.escape(str(e['ts']))}</code> "
                            f"{html.escape(json.dumps(e['payload']))}</li>")
        sections.append("</ul>")
    return ("<!doctype html><meta charset='utf-8'>"
            "<style>body{font-family:sans-serif;margin:2em}"
            "table{border-collapse:collapse}td,th{padding:4px 8px}"
            "</style>" + "\n".join(sections))


def cmd_board(args) -> int:
    """Static project report (the reference's ``ax board`` web UI,
    accelerator/board.py, reduced to its useful core: browse jobs,
    datasets, and registry entries — a self-contained HTML file; see
    ``asx serve`` for the live-server form)."""
    import os

    out = args.out or os.path.join(args.workdir, "board.html")
    with open(out, "w") as f:
        f.write(_board_html(args.workdir))
    print(f"wrote {out}")
    return 0


def make_board_server(workdir: str, port: int = 0):
    """Live board server (the reference's board.py bottle app + the
    ``ax curl`` JSON surface, accelerator/shell/curl.py, reduced to the
    serverless design's useful core). Endpoints:

    - ``/``            board HTML (same renderer as ``asx board``)
    - ``/jobs``        JSON list of job records
    - ``/job/<jobid>`` one JSON record (404 if unknown)
    - ``/urd``         JSON list of registry list names
    - ``/urd/<list>``  JSON entries of one registry list

    Returns an ``http.server.ThreadingHTTPServer`` (caller runs
    ``serve_forever``, tests drive it from a thread)."""
    import os
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    def jobs():
        return read_jobdb(workdir)

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def _send(self, code, body, ctype="application/json"):
            data = body.encode() if isinstance(body, str) else body
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def do_GET(self):  # noqa: N802 — http.server API
            parts = [x for x in self.path.split("?")[0].split("/") if x]
            if not parts:
                self._send(200, _board_html(workdir), "text/html")
            elif parts == ["jobs"]:
                self._send(200, json.dumps(jobs()))
            elif parts[0] == "job" and len(parts) == 2:
                rec = next((r for r in jobs() if r["jobid"] == parts[1]),
                           None)
                if rec is None:
                    self._send(404, json.dumps({"error": "no such job"}))
                else:
                    self._send(200, json.dumps(rec))
            elif parts[0] == "urd":
                u = Urd(workdir)
                if len(parts) == 1:
                    self._send(200, json.dumps(u.lists()))
                else:
                    self._send(200, json.dumps(
                        u.entries(parts[1]), default=str))
            else:
                self._send(404, json.dumps({"error": "unknown endpoint"}))

    return ThreadingHTTPServer(("127.0.0.1", port), Handler)


def cmd_serve(args) -> int:
    srv = make_board_server(args.workdir, args.port)
    print(f"serving {args.workdir} on http://127.0.0.1:"
          f"{srv.server_address[1]}/")
    try:
        srv.serve_forever()
    except KeyboardInterrupt:
        pass
    return 0


def cmd_workdir(args) -> int:
    """List jobs in a workdir (the reference's ``ax workdir``)."""
    recs = read_jobdb(args.workdir)
    if not recs:
        print(f"no job database in {args.workdir}", file=sys.stderr)
        return 1
    for rec in recs:
        outs = ", ".join(rec.get("outputs", {}))
        arts = ", ".join(rec.get("artifacts", {}))
        extra = f"  artifacts: {arts}" if arts else ""
        print(f"{rec['jobid']:<28} outputs: {outs or '-'}{extra}")
    return 0


def cmd_urd(args) -> int:
    u = Urd(args.workdir)
    if not args.list:
        for name in u.lists():
            print(name)
        return 0
    for e in u.entries(args.list):
        print(f"{e['ts']}  {json.dumps(e['payload'])}")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="asx", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    d = sub.add_parser("ds"); d.add_argument("path"); d.set_defaults(fn=cmd_ds)
    c = sub.add_parser("cat"); c.add_argument("path")
    c.add_argument("-n", type=int, default=20); c.set_defaults(fn=cmd_cat)
    g = sub.add_parser("grep"); g.add_argument("pattern"); g.add_argument("path")
    g.add_argument("-c", "--columns", default=None)
    g.add_argument("-n", type=int, default=100)
    g.add_argument("-o", "--format", choices=["csv", "json"], default="csv")
    g.set_defaults(fn=cmd_grep)
    ini = sub.add_parser("init"); ini.add_argument("dir")
    ini.add_argument("--force", action="store_true")
    ini.set_defaults(fn=cmd_init)
    j = sub.add_parser("job"); j.add_argument("workdir"); j.add_argument("jobid")
    j.set_defaults(fn=cmd_job)
    u = sub.add_parser("urd"); u.add_argument("workdir")
    u.add_argument("list", nargs="?"); u.set_defaults(fn=cmd_urd)
    r = sub.add_parser("run"); r.add_argument("workdir"); r.add_argument("script")
    r.set_defaults(fn=cmd_run)
    w = sub.add_parser("workdir"); w.add_argument("workdir")
    w.set_defaults(fn=cmd_workdir)
    s = sub.add_parser("script"); s.add_argument("dir")
    s.set_defaults(fn=cmd_script)
    m = sub.add_parser("method"); m.add_argument("script")
    m.set_defaults(fn=cmd_method)
    e = sub.add_parser("explain"); e.add_argument("query", nargs="?")
    e.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    e.set_defaults(fn=cmd_explain)

    b = sub.add_parser("board"); b.add_argument("workdir")
    b.add_argument("--out", default=None)
    b.set_defaults(fn=cmd_board)

    sv = sub.add_parser("serve"); sv.add_argument("workdir")
    sv.add_argument("--port", type=int, default=8520)
    sv.set_defaults(fn=cmd_serve)

    pf = sub.add_parser("profile"); pf.add_argument("path")
    pf.add_argument("--approx", action="store_true",
                    help="approx_count_distinct instead of exact")
    pf.set_defaults(fn=cmd_profile)

    o = sub.add_parser("oracle"); o.add_argument("queries", nargs="*")
    o.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    o.set_defaults(fn=cmd_oracle)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
