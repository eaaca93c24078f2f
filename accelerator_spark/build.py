"""Memoized step execution + urd-lite registry.

This is the reference's one subsystem Catalyst does not give us
(SURVEY §4 verdict): job memoization. The reference matches
(method, sha1(source), options, dataset deps, job deps) against a job
database and links instead of re-running on a hit
(/root/reference/accelerator/dependency.py:34-97, database.py:117-180,
runner.py:131-153). Urd is its timestamped joblist log
(accelerator/urd.py:143-420, build.py:486-566).

Design here:
- a *step* is a plain Python function ``step(spark, datasets, options) ->
  DataFrame | dict[str, DataFrame]``.
- ``build()`` hashes step source (inspect.getsource) + options JSON +
  input dataset ids; hit => return the already-written Dataset(s) without
  touching Spark. Miss => run, write under workdir/<method>-<seq>/, record.
- ``equivalent_hashes``: a step may declare ``step.equivalent = ["old
  sha1", ...]`` to claim compatibility with jobs built by older source
  (reference: accelerator/runner.py:270-295).
- ``why_build=True`` explains what would run without running it
  (reference: accelerator/dependency.py:78-97).
- Urd-lite: an append-only JSONL log keyed (list, timestamp) with
  latest/first/since/peek — enough for incremental chain scheduling
  (the reference's daily-import pattern, examples/build_tutorial05.py).

Scale: memoization is pure driver-side metadata (a few KB of JSON per
job); the data stays distributed Parquet. Re-running a 100 TB pipeline
with one changed step re-executes only that step and its descendants —
same contract as the reference.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import socket
import time
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from .dataset import Dataset


def read_jsonl(path: str) -> list[dict]:
    """Tolerant JSONL reader shared by the job db, urd, and CLI: blank
    and partial/corrupt lines (a crashed writer's truncated append) are
    skipped — one reader so the tolerance can't diverge between the
    board (which had it) and BuildContext (which crashed — review r4)."""
    if not os.path.exists(path):
        return []
    out = []
    with open(path) as f:
        for line in f:
            if not line.strip():
                continue
            try:
                out.append(json.loads(line))
            except ValueError:
                continue
    return out


def _jobdb_path(workdir: str) -> str:
    return os.path.join(workdir, "jobdb.jsonl")


def read_jobdb(workdir: str) -> list[dict]:
    """A workdir's job records, oldest first: the one reader behind
    BuildContext, ``resolve_spec`` and the CLI's board, board server
    and ``asx workdir``."""
    return read_jsonl(_jobdb_path(workdir))


def _stable_json(obj: Any) -> str:
    return json.dumps(obj, sort_keys=True, default=str)


def source_hash(fn: Callable) -> str:
    """sha1 of the step's source text (reference: runner.py:131-153).
    Falls back to qualname for builtins/lambdas without source."""
    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):
        src = getattr(fn, "__qualname__", repr(fn))
    return hashlib.sha1(src.encode()).hexdigest()


# -- typed option declarations (reference: accelerator/extras.py:412-518:
# OptionEnum, OptionString/RequiredOption, OptionDefault) -----------------

class OptionEnum:
    """Declares an enum-valued option: ``step.options = {"mode":
    OptionEnum("fast", "exact")}``. First value is the default unless
    ``required=True``."""

    def __init__(self, *values: str, required: bool = False):
        if not values:
            raise ValueError("OptionEnum needs at least one value")
        self.values = values
        self.required = required

    @property
    def default(self):
        return None if self.required else self.values[0]


class RequiredOption:
    """Declares a required option of a given type: ``RequiredOption(int)``.
    build() refuses to run the step if it is missing or mistyped."""

    def __init__(self, typ: type):
        self.typ = typ


def resolve_options(fn: Callable, given: dict[str, Any]) -> dict[str, Any]:
    """Validate ``given`` against ``fn.options`` (if declared) and fill
    defaults. The RESOLVED dict feeds the memo key, so ``build(step)``
    and ``build(step, options={<explicit defaults>})`` hit the same job —
    the reference resolves params before optset matching the same way
    (accelerator/methods.py:128-136).

    Declaration forms: plain value = typed default (type enforced on
    override); OptionEnum; RequiredOption(type); None = untyped optional.
    Undeclared keys in ``given`` are rejected (catches typos that would
    otherwise silently fork the memo key)."""
    decl = getattr(fn, "options", None)
    if decl is None:
        return dict(given)
    unknown = set(given) - set(decl)
    if unknown:
        raise TypeError(f"{fn.__name__}: unknown options {sorted(unknown)}")
    out: dict[str, Any] = {}
    for name, spec in decl.items():
        has = name in given
        v = given.get(name)
        if isinstance(spec, OptionEnum):
            if not has:
                if spec.required:
                    raise TypeError(f"{fn.__name__}: option {name!r} is required")
                v = spec.default
            elif v not in spec.values:
                raise TypeError(
                    f"{fn.__name__}: option {name!r} must be one of {spec.values}, got {v!r}")
        elif isinstance(spec, RequiredOption):
            if not has:
                raise TypeError(f"{fn.__name__}: option {name!r} is required")
            if not isinstance(v, spec.typ):
                raise TypeError(
                    f"{fn.__name__}: option {name!r} must be {spec.typ.__name__}, "
                    f"got {type(v).__name__}")
        elif spec is None:
            v = v if has else None
        else:  # plain typed default
            if not has:
                v = spec
            elif not isinstance(v, type(spec)) and v is not None:
                raise TypeError(
                    f"{fn.__name__}: option {name!r} must be {type(spec).__name__}, "
                    f"got {type(v).__name__}")
        out[name] = v
    return out


@dataclass
class JobRecord:
    jobid: str
    method: str
    key: str
    outputs: dict[str, str]  # name -> dataset path
    artifacts: dict[str, Any] = field(default_factory=dict)
    time_built: float = 0.0


def _on_disk(rec: JobRecord | None) -> bool:
    """A memo hit needs the record AND its outputs still on disk: a
    record whose outputs were GC'd must rebuild."""
    return rec is not None and all(
        Dataset.exists(p) for p in rec.outputs.values())


class BuildContext:
    """Workdir-scoped memo index + builder."""

    def __init__(self, spark: SparkSession, workdir: str):
        self.spark = spark
        self.workdir = workdir
        os.makedirs(workdir, exist_ok=True)
        self._dbpath = _jobdb_path(workdir)
        self._db: dict[str, JobRecord] = {}
        self._seq: dict[str, int] = {}
        self._claim_nonces: dict[str, str] = {}
        self._load()

    def _load(self) -> None:
        for d in read_jobdb(self.workdir):
            try:
                rec = JobRecord(**d)
            except TypeError:
                continue  # foreign/partial record must not brick builds
            self._db[rec.key] = rec
            method, _, n = rec.jobid.rpartition("-")
            try:
                self._seq[method] = max(self._seq.get(method, -1), int(n))
            except ValueError:
                pass

    def _append(self, rec: JobRecord) -> None:
        with open(self._dbpath, "a") as f:
            f.write(_stable_json(rec.__dict__) + "\n")

    # -- key construction ---------------------------------------------
    def _job_key(
        self,
        fn: Callable,
        options: dict[str, Any],
        datasets: dict[str, Dataset],
        src_hash: str | None = None,
        hashlabel: str | None = None,
        previous: Dataset | None = None,
    ) -> str:
        # hashlabel and previous CHANGE the written output (partition
        # layout / chain link), so they are part of the job identity —
        # omitting them returned cached datasets with the wrong chain
        # link or partitioning (review r4). Dataset identity falls back
        # to path for a manifest without an id (two distinct id-less
        # inputs must not share a key). Keys persist in every jobdb:
        # any change to this recipe makes every cached job rebuild.
        parts = {
            "method": fn.__name__,
            "source": src_hash or source_hash(fn),
            "options": options,
            "datasets": {k: ds.manifest.get("id") or ds.path
                         for k, ds in datasets.items()},
            "hashlabel": hashlabel,
            "previous": (previous.manifest.get("id") or previous.path)
            if previous is not None else None,
        }
        return hashlib.sha1(_stable_json(parts).encode()).hexdigest()

    def _memo_keys(self, fn, options, datasets, hashlabel,
                   previous) -> list[str]:
        """The job key, then one per ``fn.equivalent`` source hash
        (reference: runner.py:270-295): a record under any of them is
        a memo hit."""
        return [self._job_key(fn, options, datasets, src_hash=h,
                              hashlabel=hashlabel, previous=previous)
                for h in (None, *getattr(fn, "equivalent", ()))]

    def _match(self, keys: list[str]) -> JobRecord | None:
        return next((self._db[k] for k in keys if k in self._db), None)

    # -- cross-process claims (VERDICT r5 #2) ---------------------------
    # The reference serializes submissions through its server process
    # (accelerator/server.py holds the one job queue); this library has
    # no daemon, so two processes building the same step raced on the
    # job dir and could both run the work. An O_EXCL claim file per memo
    # key makes exactly one process the builder; the others wait and
    # return the winner's memoized record. The builder HEARTBEATS its
    # claim (mtime touch) while the step runs, so staleness is a pure
    # mtime check that works across hosts and survives pid reuse; a
    # stale claim is taken over via an atomic rename-to-tombstone, so
    # two waiters can never both win the takeover (review r6).

    _CLAIM_HEARTBEAT_S = 15.0
    _CLAIM_STALE_S = 120.0  # ~8 missed heartbeats
    _CLAIM_POLL_S = 0.05

    def _claim_path(self, key: str) -> str:
        return os.path.join(self.workdir, "claims", key + ".claim")

    def _try_claim(self, key: str) -> bool:
        path = self._claim_path(key)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        try:
            fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
        except FileExistsError:
            return False
        nonce = os.urandom(16).hex()
        try:
            with os.fdopen(fd, "w") as f:
                json.dump({"pid": os.getpid(),
                           "host": socket.gethostname(),
                           "time": time.time(),
                           "nonce": nonce}, f)
        except OSError:
            # no takeover can have happened this fast (staleness is
            # _CLAIM_STALE_S) — the unconditional removal is safe only
            # on this immediate-failure path
            try:
                os.remove(path)
            except FileNotFoundError:
                pass
            raise
        self._claim_nonces[key] = nonce
        return True

    def _release_claim(self, key: str) -> None:
        """Remove the claim only if we still own it (ADVICE r6): a
        builder stalled past the staleness window gets taken over, and
        its finally block must not delete the NEW owner's claim — that
        would let a third process claim and double-run the step. The
        nonce written at claim time is re-read and compared; mismatch
        (or an unreadable file) means the claim is someone else's.

        Residual race (ADVICE r7, accepted): the check is read-then-
        remove, so a takeover landing in the microseconds between the
        nonce read and os.remove still loses its claim file. That
        window is ~6 orders of magnitude smaller than _CLAIM_STALE_S
        (a takeover additionally requires THIS process to have stalled
        120 s without heartbeating and then to wake exactly inside the
        gap), and closing it fully needs an atomicity primitive the
        claim protocol deliberately avoids (flock is advisory-only and
        lost on NFS; rename-based release re-opens a worse window where
        a third waiter claims and the rename-back clobbers it). The
        narrowing from r6's unconditional remove stands; a hit requires
        the stall + wake-in-window coincidence and degrades to the r6
        behavior (possible double-run, never a wrong result — steps are
        deterministic and writes are atomic-rename)."""
        path = self._claim_path(key)
        nonce = self._claim_nonces.pop(key, None)
        try:
            with open(path) as f:
                owner = json.load(f).get("nonce")
        except (OSError, ValueError):
            return  # gone, or a half-written claim we can't prove ours
        if nonce is None or owner != nonce:
            return  # taken over while we stalled — not ours to remove
        try:
            os.remove(path)
        except FileNotFoundError:
            pass

    def _claim_heartbeat(self, key: str):
        """Touch the claim's mtime every _CLAIM_HEARTBEAT_S while the
        step runs (daemon thread). Returns a stop callable."""
        import threading

        path = self._claim_path(key)
        stop = threading.Event()

        def beat():
            while not stop.wait(self._CLAIM_HEARTBEAT_S):
                try:
                    os.utime(path)
                except OSError:
                    return  # claim gone (released/taken) — stop quietly

        t = threading.Thread(target=beat, daemon=True,
                             name=f"claim-heartbeat-{key[:8]}")
        t.start()
        return stop.set

    def _claim_is_stale(self, key: str) -> bool:
        """True iff the claim stopped heartbeating: mtime older than
        _CLAIM_STALE_S. Host/pid-independent (pid probes lie under pid
        reuse and cross-host; the heartbeat doesn't). Also covers a
        crashed writer's unparseable half-written claim."""
        try:
            st = os.stat(self._claim_path(key))
        except FileNotFoundError:
            return False  # released — not stale, just gone
        return time.time() - st.st_mtime > self._CLAIM_STALE_S

    def _take_over_claim(self, key: str) -> bool:
        """Atomically remove a stale claim: rename to a per-taker
        tombstone first — rename is atomic, so of N waiters that judged
        the same claim stale, exactly ONE succeeds and may proceed to
        re-claim; the rest see FileNotFoundError and re-enter the poll
        (review r6: a bare unlink here could delete the claim a faster
        taker had already re-created, double-running the step)."""
        path = self._claim_path(key)
        tomb = f"{path}.tomb.{os.getpid()}.{time.time_ns()}"
        try:
            os.rename(path, tomb)
        except FileNotFoundError:
            return False
        try:
            os.remove(tomb)
        except FileNotFoundError:
            pass
        return True

    def _refresh(self) -> None:
        """Fold records appended by OTHER processes into the in-memory
        index (the claim waiter's read path). Stat-gated: the waiter
        polls at 50 ms — re-parsing the whole jobdb each tick is
        O(poll x dbsize) for nothing when the file hasn't changed
        (review r6)."""
        try:
            st = os.stat(self._dbpath)
            sig = (st.st_mtime_ns, st.st_size)
        except FileNotFoundError:
            sig = None
        if sig == getattr(self, "_db_sig", ()):
            return
        self._db_sig = sig
        self._load()

    # -- the public build() ---------------------------------------------
    def build(
        self,
        fn: Callable,
        options: dict[str, Any] | None = None,
        datasets: dict[str, Dataset] | None = None,
        force_build: bool = False,
        why_build: bool = False,
        hashlabel: str | None = None,
        previous: Dataset | None = None,
    ) -> "Job":
        options = resolve_options(fn, options or {})
        datasets = datasets or {}
        keys = self._memo_keys(fn, options, datasets, hashlabel, previous)
        key = keys[0]
        rec = self._match(keys)
        # why_build applies the same disk check as a real build, or it
        # answers wrong after outputs were GC'd (review r4)
        on_disk = _on_disk(rec)
        if why_build:
            reason = (
                "cached" if on_disk and not force_build
                else ("forced" if force_build
                      else "no matching job (new source/options/inputs)"
                      if rec is None else "outputs missing on disk")
            )
            # pass the cached record through (review r5): a why_build
            # handle for a cached job could not serve dataset()/df()
            # even though the record was in hand — and _rec=None made
            # those raise a bare AttributeError. Under force_build the
            # record is withheld again (ADVICE r5): the handle must not
            # silently serve the stale pre-rebuild outputs a forced
            # build would replace.
            return Job(self, rec if (on_disk and not force_build) else None,
                       would_build=not on_disk or force_build,
                       reason=reason)
        if on_disk and not force_build:
            return Job(self, rec, cached=True)

        # miss (or forced): exactly one process may run the step. Claim
        # the memo key atomically; losers wait for the winner's record
        # (or take over if the winner died) — VERDICT r5 #2.
        while True:
            if self._try_claim(key):
                try:
                    # a concurrent builder may have finished between our
                    # match and the claim — re-check under the claim
                    self._refresh()
                    rec = self._match(keys)
                    if not force_build and _on_disk(rec):
                        return Job(self, rec, cached=True)
                    stop_beat = self._claim_heartbeat(key)
                    try:
                        return self._run_step(fn, options, datasets,
                                              hashlabel, previous, key)
                    finally:
                        stop_beat()
                finally:
                    self._release_claim(key)
            # waiter: poll for the winner's record; a released claim with
            # no record means the winner failed (or force-rebuilt and we
            # also force) — loop back and try to claim ourselves
            while True:
                self._refresh()
                rec2 = self._db.get(key)
                if not force_build and _on_disk(rec2):
                    return Job(self, rec2, cached=True)
                if not os.path.exists(self._claim_path(key)):
                    break
                if self._claim_is_stale(key) and self._take_over_claim(key):
                    break
                time.sleep(self._CLAIM_POLL_S)

    def _run_step(self, fn, options, datasets, hashlabel, previous,
                  key: str) -> "Job":
        """Execute the step and record it (caller holds the claim).
        The job dir is allocated with an EXCLUSIVE mkdir so concurrent
        builders of different keys for the same method never share a
        directory."""
        seq = self._seq.get(fn.__name__, -1) + 1
        while True:
            jobid = f"{fn.__name__}-{seq}"
            jobdir = os.path.join(self.workdir, jobid)
            try:
                os.makedirs(jobdir)
                break
            except FileExistsError:
                seq += 1
        self._seq[fn.__name__] = seq

        result = fn(self.spark, datasets, options)
        if isinstance(result, DataFrame) or callable(result):
            result = {"default": result}
        elif result is None:
            result = {}
        outputs: dict[str, str] = {}
        artifacts: dict[str, Any] = {}
        for name, val in result.items():
            if callable(val) and not isinstance(val, DataFrame):
                # writer callable: the step controls the write itself
                # (overlay/bucketed/custom) — the reference's
                # job.datasetwriter(parent=...) shape. Receives the
                # output path, must return a Dataset.
                ds = val(os.path.join(jobdir, name))
                outputs[name] = ds.path
            elif isinstance(val, DataFrame):
                path = os.path.join(jobdir, name)
                Dataset.write(
                    val, path,
                    hashlabel=hashlabel,
                    previous=previous if name == "default" else None,
                    caption=f"{jobid}/{name}",
                )
                outputs[name] = path
            else:
                # non-DataFrame results = per-job scalar artifacts, the
                # reference's job.save/json_save (accelerator/job.py:
                # 141-150, blob.py) — JSON in the job dir
                apath = os.path.join(jobdir, f"{name}.json")
                with open(apath, "w") as f:
                    json.dump(val, f, default=str)
                artifacts[name] = apath

        rec = JobRecord(jobid=jobid, method=fn.__name__, key=key,
                        outputs=outputs, artifacts=artifacts,
                        time_built=time.time())
        self._db[key] = rec
        self._append(rec)
        return Job(self, rec, cached=False)


class Job:
    """Result handle: datasets by name + cached flag (the reference's
    jobid / JobList element, accelerator/build.py:304-368)."""

    def __init__(self, ctx: BuildContext, rec: JobRecord | None,
                 cached: bool = False, would_build: bool | None = None,
                 reason: str = ""):
        self._ctx = ctx
        self._rec = rec
        self.cached = cached
        self.would_build = would_build
        self.reason = reason

    @property
    def jobid(self) -> str | None:
        return self._rec.jobid if self._rec else None

    def dataset(self, name: str = "default") -> Dataset:
        if self._rec is None:
            raise ValueError(
                f"this Job handle has no build record (why_build "
                f"answer: {self.reason or 'would build'}) — run the "
                "build to get datasets")
        return Dataset.load(self._rec.outputs[name])

    def df(self, name: str = "default") -> DataFrame:
        return self.dataset(name).df(self._ctx.spark)

    @property
    def output_names(self) -> list[str]:
        return list(self._rec.outputs) if self._rec else []

    def load(self, name: str) -> Any:
        """Load a JSON artifact saved by the step (reference job.load /
        json_load, accelerator/job.py:229-236)."""
        if self._rec is None:
            raise ValueError(
                f"this Job handle has no build record (why_build "
                f"answer: {self.reason or 'would build'})")
        with open(self._rec.artifacts[name]) as f:
            return json.load(f)

    @property
    def artifact_names(self) -> list[str]:
        return list(self._rec.artifacts) if self._rec else []


class Urd:
    """Urd-lite: append-only (list, timestamp) -> payload JSON log.

    Covers the API surface build scripts actually use
    (accelerator/build.py:486-566): begin/finish sessions collapse to a
    single ``add``; latest/first/since/peek for incremental scheduling.
    """

    def __init__(self, workdir: str):
        self.path = os.path.join(workdir, "urd.jsonl")
        os.makedirs(workdir, exist_ok=True)
        self._cache: tuple[tuple[int, int], list[dict]] | None = None

    def _read(self) -> list[dict]:
        """Parsed entries; tolerant of a crashed writer's partial line
        and memoized on (mtime_ns, size) — incremental runners call
        latest/peek/seen per batch, which used to re-parse the whole
        log each time (O(batches x history), review r4)."""
        if not os.path.exists(self.path):
            return []
        st = os.stat(self.path)
        key = (st.st_mtime_ns, st.st_size)
        if self._cache is not None and self._cache[0] == key:
            return self._cache[1]
        entries = [e for e in read_jsonl(self.path)
                   if isinstance(e, dict) and "list" in e and "ts" in e]
        self._cache = (key, entries)
        return entries

    def add(self, listname: str, timestamp: str, payload: dict) -> None:
        """Append an entry. Idempotent: re-adding the same (list, ts,
        payload) is a no-op, so re-running a build script doesn't
        duplicate the log. A CONFLICTING re-add (same timestamp,
        different payload) raises — the reference's urd rejects
        duplicate timestamps, and silently appending made latest() and
        peek() disagree about which job a timestamp names (review r4)."""
        prior = self.peek(listname, timestamp)
        if prior is not None:
            if prior["payload"] == payload:
                return
            raise ValueError(
                f"urd list {listname!r} already has {timestamp!r} with a "
                "different payload — timestamps are immutable history; "
                "record the rebuild under a new timestamp (or start a "
                "new list)")
        with open(self.path, "a") as f:
            f.write(_stable_json({"list": listname, "ts": timestamp,
                                  "payload": payload, "added": time.time()}) + "\n")

    def entries(self, listname: str) -> list[dict]:
        """All entries of a list in timestamp order (reference `urd
        peek-all` idiom)."""
        return sorted((e for e in self._read() if e["list"] == listname),
                      key=lambda e: e["ts"])

    def latest(self, listname: str) -> dict | None:
        es = self.entries(listname)
        return es[-1] if es else None

    def first(self, listname: str) -> dict | None:
        es = self.entries(listname)
        return es[0] if es else None

    def peek(self, listname: str, timestamp: str) -> dict | None:
        for e in self.entries(listname):
            if e["ts"] == timestamp:
                return e
        return None

    def since(self, listname: str, timestamp: str) -> list[dict]:
        return [e for e in self.entries(listname) if e["ts"] > timestamp]

    def lists(self) -> list[str]:
        return sorted({e["list"] for e in self._read()})


def resolve_spec(workdir: str, spec: str) -> dict | None:
    """Job-spec mini-language (the reference's ``sh/parser.py`` surface,
    /root/reference/accelerator/shell/parser.py, exercised in
    test_methods/build_tests.py:274-304):

    - ``jobid``        exact job id ("step-3")
    - ``step``         the LATEST job of that step
    - ``step~`` / ``step~N``  the N-th-previous job of that step (~ = 1)
    - ``:list``        the job recorded in the latest urd entry of list
    - ``:list/ts``     the job recorded at an exact urd timestamp

    Returns the job-database record dict, or None."""
    recs = read_jobdb(workdir)
    by_id = {r["jobid"]: r for r in recs}

    if spec.startswith(":"):
        name, _, ts = spec[1:].partition("/")
        u = Urd(workdir)
        e = u.peek(name, ts) if ts else u.latest(name)
        if not e:
            return None
        jid = e["payload"].get("job")
        return by_id.get(jid)

    base, tilde, n_s = spec.partition("~")
    if not tilde and spec in by_id:
        return by_id[spec]
    # malformed counts ("step~x", "step~-1") resolve to nothing, never
    # traceback out of the CLI
    try:
        back = int(n_s) if n_s else (1 if tilde else 0)
    except ValueError:
        return None
    matches = [r for r in recs
               if r["jobid"] == base or r["jobid"].startswith(base + "-")]
    if not matches or back < 0 or back >= len(matches):
        return None
    return matches[len(matches) - 1 - back]
