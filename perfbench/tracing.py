"""Spans around calls into the program's layers, and a process-tree RSS
sampler.

``Tracer.install`` wraps each layer's public functions in place (every
module attribute of the package that is bound to the function), so calls
that ``pipelines`` makes into lower layers are spanned too; no program
file changes.  While ``Tracer.active`` is false the wrappers call straight
through.  While it is true, each call:

* runs under its own Spark job group, so the jobs, tasks and failed tasks
  it launched are read back from ``statusTracker()`` when it returns;
* materializes a DataFrame result with ``localCheckpoint(eager=True)``,
  so the lazy work is charged to the layer that defined it, not to
  whichever later layer happens to trigger it.

Spans stay in memory and are written out once, by ``dump``.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import threading
import time
from collections import defaultdict

PKG = "crypto_data_ingestion_module_spark"

#: (module, public function, layer name).  ``operators.graph`` runs inside
#: ``materialize_clusters`` and is charged to the ``clusters`` layer.
LAYER_FUNCTIONS = (
    ("sources.manifest", "backfill_manifest", "manifest"),
    ("sources.manifest", "incremental_manifest", "manifest"),
    ("sources.fetch", "fetch_pages", "fetch"),
    ("sources.fetch", "normalize_mock_pages", "fetch"),
    ("sinks.snapshot", "init_snapshot_lake", "commit"),
    ("sinks.snapshot", "snapshot_upsert", "commit"),
    ("sinks.snapshot", "read_snapshot", "read"),
    ("operators.resample", "resample_ohlcv", "resample"),
    ("operators.decontam", "decontaminate", "decontam"),
    ("operators.text_dedup", "simhash_hamming_pairs", "simhash_pairs"),
    ("operators.curation", "materialize_clusters", "clusters"),
    ("operators.curation", "read_clusters", "clusters"),
    ("sinks.shards", "write_training_shards", "shards"),
    ("operators.similarity", "ann_ivf_topk", "ann"),
    ("operators.similarity", "cosine_topk", "exact"),
    ("pipelines", "backfill", "pipelines"),
    ("pipelines", "curate_and_shard", "pipelines"),
)


class Tracer:
    def __init__(self, get_spark_context):
        self._sc = get_spark_context
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._hooks: dict[str, tuple] = {}

    # ---------------------------------------------------------------- spans

    def start(self, name: str, **attrs) -> dict:
        sc = self._sc()
        span = {
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "attrs": dict(attrs),
        }
        self.spans.append(span)
        self._stack.append(span)
        sc.setJobGroup(f"perfbench-{span['id']}", name)
        span["start"] = time.perf_counter()
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        sc = self._sc()
        st = sc.statusTracker()
        jobs = st.getJobIdsForGroup(f"perfbench-{span['id']}")
        tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                s = st.getStageInfo(sid)
                if s is not None:
                    tasks += s.numTasks
                    failed += s.numFailedTasks
        span.update(jobs=len(jobs), tasks=tasks, failed_tasks=failed)
        self._stack.pop()
        if self._stack:
            parent = self._stack[-1]
            sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """A span around the block while tracing is active; yields it (or
        None)."""
        s = self.start(name, **attrs) if self.active else None
        try:
            yield s
        finally:
            if s is not None:
                self.end(s)

    # ------------------------------------------------------------- wrapping

    @contextlib.contextmanager
    def paused(self):
        """Context in which wrapped calls run untraced (checks made in the
        middle of a traced iteration)."""
        was, self.active = self.active, False
        try:
            yield
        finally:
            self.active = was

    def on(self, fn_name: str, pre=None, post=None) -> None:
        """Register hooks for calls of one wrapped function: ``pre(args,
        kwargs)`` runs before the span opens and its result is passed to
        ``post(span, state, args, kwargs, raw, result)`` after the span
        closed (so neither is charged to the layer); ``raw`` is the
        function's own return value, ``result`` the materialized one."""
        self._hooks[fn_name] = (pre, post)

    def install(self) -> None:
        for mod_name, fn_name, layer in LAYER_FUNCTIONS:
            mod = sys.modules.get(f"{PKG}.{mod_name}") or __import__(
                f"{PKG}.{mod_name}", fromlist=[fn_name]
            )
            orig = getattr(mod, fn_name)
            wrapped = self._wrap(orig, layer, fn_name)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith(PKG):
                    for attr, val in list(vars(m).items()):
                        if val is orig:
                            setattr(m, attr, wrapped)

    def _wrap(self, fn, layer: str, fn_name: str):
        from pyspark.sql import DataFrame

        tracer = self

        def _materialize(res):
            if isinstance(res, DataFrame):
                return res.localCheckpoint(eager=True)
            if isinstance(res, tuple):
                return tuple(_materialize(r) for r in res)
            return res

        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            pre, post = tracer._hooks.get(fn_name, (None, None))
            state = pre(args, kwargs) if pre else None
            span = tracer.start(layer, call=fn_name)
            try:
                raw = fn(*args, **kwargs)
                res = _materialize(raw)
            finally:
                tracer.end(span)
            if post:
                post(span, state, args, kwargs, raw, res)
            return res

        wrapper.__wrapped__ = fn
        wrapper.__name__ = fn.__name__
        wrapper.__doc__ = fn.__doc__
        return wrapper

    # -------------------------------------------------------------- reports

    def self_times(self) -> dict[int, float]:
        """Span id → duration minus the time its child spans cover (the
        children of one span run one after another on the one caller
        thread, so they never overlap)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child[s["parent"]] += s["end"] - s["start"]
        return {
            s["id"]: (s["end"] - s["start"]) - child[s["id"]]
            for s in self.spans
            if "end" in s
        }

    def layer_totals(self, root_id: int) -> dict[str, dict]:
        """Per layer, summed over the spans below ``root_id``: self time,
        jobs, tasks, failed tasks, and the spans' numeric attributes."""
        by_id = {s["id"]: s for s in self.spans}
        selfs = self.self_times()

        def under(s):
            p = s["parent"]
            while p is not None:
                if p == root_id:
                    return True
                p = by_id[p]["parent"]
            return False

        out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            if "end" not in s or not under(s):
                continue
            t = out[s["name"]]
            t["s"] += selfs[s["id"]]
            t["calls"] += 1
            for k in ("jobs", "tasks", "failed_tasks"):
                t[k] += s.get(k, 0)
            for k, v in s["attrs"].items():
                if isinstance(v, (int, float)) and not isinstance(v, bool):
                    t[k] += v
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        rows = []
        for s in self.spans:
            r = dict(s)
            if "end" in s:
                r["dur_s"] = s["end"] - s["start"]
                r["self_s"] = selfs[s["id"]]
            rows.append(r)
        with open(path, "w", encoding="utf-8") as f:
            json.dump(rows, f, indent=1, default=str)


# ------------------------------------------------------------------ memory


def _procs() -> dict[int, tuple[int, float]]:
    """pid → (parent pid, start time in seconds since boot), from
    ``/proc``."""
    hz = os.sysconf("SC_CLK_TCK")
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="utf-8") as f:
                stat = f.read()
        except OSError:
            continue
        # the comm field may contain spaces; the fields after it are fixed
        fields = stat.rsplit(")", 1)[1].split()
        out[int(d)] = (int(fields[1]), int(fields[19]) / hz)
    return out


def descendants(root_pid: int, procs: dict | None = None) -> list[int]:
    """Every process below ``root_pid`` in the process tree."""
    procs = _procs() if procs is None else procs
    children = defaultdict(list)
    for pid, (ppid, _) in procs.items():
        children[ppid].append(pid)
    out, todo = [], [root_pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _tree_rss_bytes(root_pid: int) -> int:
    """Resident memory of ``root_pid`` and all its descendants (the
    benchmark process, the JVM it launched, and the JVM's Python
    workers).  Processes younger than a second are skipped: a child the
    JVM is spawning shares its parent's pages until it execs, and would
    count the JVM twice."""
    procs = _procs()
    with open("/proc/uptime", encoding="utf-8") as f:
        now = float(f.read().split()[0])
    pids = [root_pid] + [
        p for p in descendants(root_pid, procs) if now - procs[p][1] >= 1.0
    ]
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm", encoding="utf-8") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Polls the process tree's RSS on a background thread and keeps the
    peak."""

    def __init__(self, interval_s: float = 0.2):
        self.peak = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            if self._stop.wait(self._interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        return False
