"""Measurement plumbing shared by the workloads: spans, Spark job and
stage counters read from the status store, memory high-water marks and
the percentile rules the metrics use."""

from __future__ import annotations

import math
import os
import statistics
import time
from contextlib import contextmanager
from statistics import median

# Library entry points the traced run wraps, as (module, class, attribute,
# layer). Spans around them are recorded from the benchmark's side of the
# call; nothing inside the library is edited.
_WRAPPED = [
    ("accelerator_spark.dataset", "Dataset", "write", "dataset"),
    ("accelerator_spark.dataset", "Dataset", "chain_df", "dataset"),
    ("accelerator_spark.build", "BuildContext", "build", "build"),
    ("accelerator_spark.build", "Urd", "add", "build"),
    ("accelerator_spark.build", "Urd", "latest", "build"),
    ("accelerator_spark.streaming.incremental", "ChainRunner", "process",
     "streaming"),
]


class Tracer:
    """In-memory spans (name, layer, start, end, parent). Disabled, every
    call is a no-op, so the untraced run pays for nothing but a branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._restore: list[tuple] = []

    @contextmanager
    def span(self, name: str, layer: str):
        """Yields the span record (None when disabled) so the caller can
        annotate it."""
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "layer": layer,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def instrument(self) -> None:
        """Wrap the library's public pipeline calls in spans."""
        import importlib

        if not self.enabled:
            return
        for modname, clsname, attr, layer in _WRAPPED:
            cls = getattr(importlib.import_module(modname), clsname)
            raw = cls.__dict__[attr]
            self._restore.append((cls, attr, raw))
            setattr(cls, attr, self._wrap(raw, f"{clsname}.{attr}", layer))

    def uninstrument(self) -> None:
        for cls, attr, raw in reversed(self._restore):
            setattr(cls, attr, raw)
        self._restore.clear()

    def _wrap(self, raw, name: str, layer: str):
        tracer = self
        is_cm = isinstance(raw, classmethod)
        fn = raw.__func__ if is_cm else raw

        def wrapper(*args, **kwargs):
            with tracer.span(name, layer) as rec:
                out = fn(*args, **kwargs)
                if name == "BuildContext.build":
                    rec["hit"] = bool(out.cached)
                elif name == "ChainRunner.process":
                    batches = args[1] if len(args) > 1 else kwargs["batches"]
                    rec["batches"] = len(batches)
            return out

        wrapper.__wrapped__ = fn
        return classmethod(wrapper) if is_cm else wrapper

    def mark(self) -> int:
        return len(self.spans)


def self_time(spans: list[dict], pred) -> float:
    """Summed self time (duration minus the time covered by direct
    children) of the spans matching ``pred``; children are looked up in
    the same list."""
    child: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + (
                s["end"] - s["start"])
    return sum((s["end"] - s["start"]) - child.get(s["id"], 0.0)
               for s in spans if pred(s))


def exec_metrics(passes: list[dict]) -> dict[str, float]:
    """Per-pass medians of the stage counters in ``pass["stage"]``."""
    return {f"exec.{k}": median([p["stage"][k] for p in passes])
            for k in passes[0]["stage"]}


class JobCounter:
    """Counts Spark jobs per job group and reads their stages' metrics
    from the application status store (populated with the UI off).

    Per-group counting avoids ``getJobIdsForGroup(None)``, whose list is
    capped by ``spark.ui.retainedJobs`` and so goes backwards on long
    runs."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._n = 0

    def group(self, label: str) -> str:
        self._n += 1
        gid = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(gid, label)
        return gid

    def clear(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def jobs(self, gid: str) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(gid) or [])

    def stage_metrics(self, job_ids: list[int]) -> dict[str, float]:
        """Sum stage counters over the given jobs' completed stages;
        ``task_skew`` is the worst stage's max/median task run time."""
        store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._gateway.jvm
        quantiles = self.sc._gateway.new_array(jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        out = {"stages": 0, "tasks": 0, "shuffle_read_bytes": 0,
               "shuffle_write_bytes": 0, "spill_bytes": 0, "input_rows": 0,
               "gc_s": 0.0, "task_skew": 1.0}
        stage_ids = set()
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            st = store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += (st.memoryBytesSpilled()
                                   + st.diskBytesSpilled())
            out["input_rows"] += st.inputRecords()
            out["gc_s"] += st.jvmGcTime() / 1000.0
            if st.numCompleteTasks() >= 2:
                summ = store.taskSummary(sid, st.attemptId(), quantiles)
                if summ.isDefined():
                    run = summ.get().executorRunTime()
                    med, mx = run.apply(0), run.apply(1)
                    if med > 0:
                        out["task_skew"] = max(out["task_skew"], mx / med)
        return out


class Oracle:
    """DuckDB over the generated tables, compared with the normalisation
    of the repository's oracle gate (``tools/check_oracle.py``)."""

    def __init__(self, root: str, data_dir: str, tables: list[str]):
        import importlib.util
        import sys

        import duckdb

        spec = importlib.util.spec_from_file_location(
            "check_oracle", os.path.join(root, "tools", "check_oracle.py"))
        mod = importlib.util.module_from_spec(spec)
        saved = list(sys.path)
        try:
            spec.loader.exec_module(mod)
        finally:
            sys.path[:] = saved  # the tool prepends its own repo path
        self._frame_sig = mod.frame_sig
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone='UTC'")
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"'{os.path.join(data_dir, t)}.parquet'")

    def compare(self, cols, rows, o_cols, o_rows) -> str | None:
        sc, sd = self._frame_sig(cols, rows)
        oc, od = self._frame_sig(o_cols, o_rows)
        if sc != oc:
            return f"columns {sc} != oracle {oc}"
        if len(sd) != len(od):
            return f"{len(sd)} rows != oracle {len(od)}"
        bad = sum(a != b for a, b in zip(sd, od))
        return f"{bad}/{len(sd)} rows differ from oracle" if bad else None


def python_in_plan(df) -> bool:
    """True if the executed plan crosses into Python workers."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return any(op in plan for op in
               ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                "MapInArrow", "FlatMapGroupsInPandas"))


class CpuClock:
    """CPU seconds (user + system) spent so far by this Python process and
    by the JVM with every process under it (Spark's Python workers).

    It leaves out the time the machine's other tenants hold the CPUs, so
    set beside a pass's wall time it shows whether a slow pass did more
    work or waited for the host."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.tick = os.sysconf("SC_CLK_TCK")

    def __call__(self) -> float:
        cpu: dict[int, int] = {}
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # the process ended meanwhile
            pid = int(name)
            children.setdefault(int(fields[1]), []).append(pid)
            cpu[pid] = int(fields[11]) + int(fields[12])
        ticks, todo = 0, [self.jvm_pid]
        while todo:
            pid = todo.pop()
            ticks += cpu.get(pid, 0)
            todo += children.get(pid, [])
        return ticks / self.tick + time.process_time()


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


MIN_PASSES = 2


def run_for(seconds: float, one_pass) -> list:
    """Call ``one_pass`` at least MIN_PASSES times, then again while
    the next call, judged by the last one's wall time, would still end
    within ``seconds`` of the first call's start; returns the results.

    The measured stretch is thus fixed in time, not in passes: a slower
    host makes fewer passes instead of a longer run."""
    out = []
    t0 = time.perf_counter()
    last = 0.0
    while (len(out) < MIN_PASSES
           or time.perf_counter() - t0 + last <= seconds):
        ts = time.perf_counter()
        out.append(one_pass())
        last = time.perf_counter() - ts
    return out


def tail_percentile(n: int) -> int:
    """Highest whole percentile with at least ten samples beyond it."""
    if n < 11:
        return 50
    return max(50, math.floor(100.0 * (1.0 - 10.0 / n)))


def percentile(values: list[float], p: int) -> float:
    """Linearly interpolated whole percentile (numpy's default rule)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total
