"""The three workloads.  Each runs as a closed loop with a single caller:
the next operation starts when the previous one has returned and its
result has been consumed.

Every workload reports the same end-to-end metric names; what an
operation is differs per workload (see README.md):

=========  ===============================  ===============================
workload   write op (``write_s``)           read op (``read_s``)
=========  ===============================  ===============================
backfill   cold ``pipelines.backfill``      the identical call again: an
           into an empty snapshot lake      incremental re-run that
                                            fetches nothing
live       one collection cycle: gated      ``read_snapshot`` of the last
           manifest → fetch → normalize →   24 h → 15m rows → 1h
           ``snapshot_upsert``              ``resample_ohlcv`` → collect
curate     ``pipelines.curate_and_shard``   ``ann_ivf_topk`` for the query
                                            set
=========  ===============================  ===============================
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import time
import traceback
from collections import defaultdict

import numpy as np
import pyarrow.parquet as pq

import gen
import reference as ref
from recording import RecordingAdapter, pages, read_log

from crypto_data_ingestion_module_spark import pipelines
from crypto_data_ingestion_module_spark.functions.timeutil import (
    parse_native_interval_ms,
    should_collect_ms,
)
from crypto_data_ingestion_module_spark.operators import resample, similarity
from crypto_data_ingestion_module_spark.sinks import snapshot
from crypto_data_ingestion_module_spark.sources import fetch
from crypto_data_ingestion_module_spark.sources.venues import (
    CANDLES_PER_DAY,
    VENUE_INTERVALS,
)

#: Input sizes.  Chosen so one run (session start, three set-ups, a
#: warm-up, the measured loop and the checks) takes about a minute on 4
#: cores; README.md relates them to production-sized figures.
BACKFILL_SYMBOLS, BACKFILL_DAYS = 1, 2
LIVE_SYMBOLS, LIVE_BASE_DAYS = 1, 1
CURATE_BASE_DOCS = 200
ANN_CORPUS, ANN_QUERIES, ANN_K = 2000, 50, 10
#: the ANN result must find at least this share of the exact top-k
RECALL_GATE = 0.8
NUM_SHARDS, QUALITY_MIN, DECONTAM_N = 16, 0.5, 4
SETUP_REPS = 3
#: Measured iterations per run at the least.  A run's fixed costs (JVM
#: start, three set-ups, the warm-up) already take most of a minute, and
#: the repeated runs of every workload must fit in an hour.
MIN_ITERATIONS = 2
#: the first measured iteration of ``live`` that also delivers late data
LATE_FIRST = 2

#: Venue pacing is a contract with the exchange, not work the program
#: does, so the benchmark turns it off.
NO_PACING = {ex: 0.0 for ex, *_ in VENUE_INTERVALS}


class Failed(Exception):
    """An operation of the workload raised; the run is reported failed."""


class Run:
    """Counters and samples of one benchmark run."""

    def __init__(self, args, run_dir: str, tracer, spark_box):
        self.args = args
        self.dir = run_dir
        self.tracer = tracer
        self.box = spark_box  # [SparkSession], replaced on each set-up
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.items = 0
        self.item_s = 0.0
        self.bytes_per_item = 0.0
        # peak live JVM heap, and the heap's committed (resident) size
        self.heap_peak = 0
        self.heap_committed = 0
        # per traced iteration: {metric: value}; plus untraced durations
        self.layer_rows: list[dict] = []
        self.iter_s: dict[bool, list[float]] = {True: [], False: []}
        self.traced_now = False
        # traced blocks outside the loop ("setup", "rerun"): {metric: value}
        self.block_rows: dict[str, dict] = {}
        self.ratio_parts: dict[str, float] = defaultdict(float)

    @property
    def spark(self):
        return self.box[0]

    def call(self, what: str, fn, *a, **kw):
        self.attempted += 1
        try:
            return fn(*a, **kw)
        except Exception:
            self.failed += 1
            self.problems.append(f"{what} raised:\n{traceback.format_exc()}")
            raise Failed(what) from None

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(f"check failed: {what}")

    def fetch_log(self, log_dir: str) -> list[dict]:
        """Fetch calls recorded in ``log_dir``.  Each distinct page is an
        attempted operation, and a failed one if a call for it was
        quarantined."""
        calls = read_log(log_dir)
        by_page = pages(calls)
        errors = [cs for cs in by_page.values() if any(c["error"] for c in cs)]
        self.attempted += len(by_page)
        self.failed += len(errors)
        for cs in errors[:3]:
            self.problems.append(f"fetch quarantined: {cs[0]}")
        return calls

    def mark_heap(self) -> None:
        """Record the JVM heap's live size: a full collection, then the
        used heap.  Called between operations, never inside a timed one."""
        jvm = self.spark.sparkContext._jvm
        mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        mx.gc()
        heap = mx.getHeapMemoryUsage()
        self.heap_peak = max(self.heap_peak, heap.getUsed())
        self.heap_committed = max(self.heap_committed, heap.getCommitted())

    # ------------------------------------------------------------- loop

    def loop(self, iteration) -> None:
        """Run ``iteration(i, traced)``: first once as a warm-up (checked,
        not sampled: the JVM compiles the workload's code paths), then
        until ``--seconds`` have passed, at least ``MIN_ITERATIONS``
        times.  With ``--trace 1`` every second iteration is traced, so
        traced and untraced iterations interleave and their difference is
        the tracing overhead."""
        iteration(0, False)
        for name in ("write_s", "read_s", "late_s"):
            self.samples[name].clear()
        self.items, self.item_s = 0, 0.0
        self.iter_s = {True: [], False: []}
        deadline = time.perf_counter() + self.args.seconds
        i = 1
        while i <= MIN_ITERATIONS or time.perf_counter() < deadline:
            iteration(i, bool(self.args.trace) and i % 2 == 1)
            i += 1

    def _traced(self, name: str, fn, *a):
        """``fn(*a)`` under an active root span ``name``; returns (its
        result, {layer.metric: total over the spans below the root})."""
        t = self.tracer
        t.active = True
        root = t.start(name)
        try:
            out = fn(*a)
        finally:
            t.end(root)
            t.active = False
        row = {"s": root["end"] - root["start"]}
        for layer, tot in t.layer_totals(root["id"]).items():
            for k, v in tot.items():
                row[f"{layer}.{k}"] = v
        return out, row

    def traced_block(self, name: str, fn, *a) -> None:
        """Trace a block outside the loop; its layer totals are reported
        as ``<name>.<layer>.<metric>``."""
        _, self.block_rows[name] = self._traced(name, fn, *a)

    def traced_iteration(self, traced: bool, body, after) -> None:
        """Run ``body()`` -> (timed seconds, payload), under a root span
        when traced; then ``after(payload)`` -> workload counters, with
        tracing off (checks and bookkeeping are not charged to layers)."""
        self.traced_now = traced
        if traced:
            (dur, payload), row = self._traced("iteration", body)
        else:
            dur, payload = body()
        self.iter_s[traced].append(dur)
        counters = after(payload)
        self.mark_heap()
        if traced:
            row.update(counters)
            self.layer_rows.append(row)


# ---------------------------------------------------------------- session


def start_session(run: Run, cpus: int) -> float:
    """(Re)start the SparkSession through the program's ``session`` layer;
    returns the start time in seconds."""
    from crypto_data_ingestion_module_spark import session

    if run.box:
        run.box[0].stop()
    t0 = time.perf_counter()
    spark = session.get_spark("perfbench", cpus=cpus)
    dt = time.perf_counter() - t0
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    here = os.path.dirname(os.path.abspath(__file__))
    for mod in ("gen.py", "recording.py"):
        sc.addPyFile(os.path.join(here, mod))
    run.box[:] = [spark]
    return dt


def setup_reps(run: Run, cpus: int, prepare) -> None:
    """``SETUP_REPS`` times: restart the session and ``prepare(rep)`` the
    workload's starting state; ``setup_s`` is the median.  With
    ``--trace 1`` the last set-up is traced too, and its layer totals are
    reported as ``setup.<layer>.<metric>``."""
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        run.samples["session_s"].append(start_session(run, cpus))
        if run.args.trace and rep == SETUP_REPS - 1:
            run.traced_block("setup", prepare, rep)
        else:
            prepare(rep)
        run.samples["setup_s"].append(time.perf_counter() - t0)
        run.mark_heap()


def _lake_bytes(spark, root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for f in snapshot.snapshot_files(spark, root)
    )


def _lake_rows(spark, root: str) -> dict:
    from pyspark.sql import functions as F

    pdf = (
        snapshot.read_snapshot(spark, root)
        .select(
            "symbol", "interval", "exchange",
            F.unix_millis("timestamp").alias("ts_ms"),
            "open", "high", "low", "close", "volume",
        )
        .toPandas()
    )
    rows = ref.frame_rows(pdf)
    if len(rows) != len(pdf):
        rows[("duplicate keys", len(pdf))] = ()
    return rows


def _series(symbols: list[str]):
    """(symbol, interval, exchange, native interval) the backfill plans:
    every venue that supports each benchmark interval."""
    for sym in symbols:
        for ex, ivl, native, *_ in VENUE_INTERVALS:
            if ivl in gen.INTERVALS:
                yield sym, ivl, ex, native


def _expected_history(symbols: list[str], start_ms: int, end_ms: int) -> dict:
    base = fetch.MockExchangeAdapter()
    out = {}
    for sym, ivl, ex, native in _series(symbols):
        out.update(ref.adapter_candles(base, ex, sym, ivl, native, start_ms, end_ms))
    return out


def _backfill_inputs(spark, symbols: list[str], start_ms: int):
    """The (symbol, start_ms) and (interval, candles_per_day) tables, built
    from pandas (Arrow), as a caller loading them from a file would."""
    import pandas as pd

    syms = spark.createDataFrame(
        pd.DataFrame({"symbol": symbols, "start_ms": [start_ms] * len(symbols)})
    )
    ivls = spark.createDataFrame(
        pd.DataFrame({
            "interval": list(gen.INTERVALS),
            "candles_per_day": [CANDLES_PER_DAY[i] for i in gen.INTERVALS],
        })
    )
    return syms, ivls


def _layer_counters(run: Run, lake: str, calls: list[dict]) -> dict:
    """Per-iteration counters of the ingestion layers, read outside the
    timed region.  Pages and candles count distinct pages; adapter time
    counts every call.  Untraced iterations also add to the calls per
    page (a traced call materializes its result once, which hides a
    lazy plan that runs the fetch again)."""
    spark = run.spark
    by_page = pages(calls)
    if not run.traced_now:
        run.ratio_parts["fetch.calls"] += len(calls)
        run.ratio_parts["fetch.distinct_pages"] += len(by_page)
    return {
        "fetch.pages": len(by_page),
        "fetch.candles": sum(cs[0]["candles"] for cs in by_page.values()),
        "fetch.quarantined": sum(1 for cs in by_page.values() if any(c["error"] for c in cs)),
        "fetch.adapter_busy_s": sum(c["busy_s"] for c in calls),
        "lake.files_live": len(snapshot.snapshot_files(spark, lake)),
        "lake.versions": snapshot.current_version(spark, lake),
    }


# ---------------------------------------------------------------- backfill


def run_backfill(run: Run, cpus: int) -> None:
    symbols = gen.symbols(run.args.seed, BACKFILL_SYMBOLS)
    start_ms = gen.END_MS - BACKFILL_DAYS * gen.DAY_MS
    expected = _expected_history(symbols, start_ms, gen.END_MS)
    want = ref.digest(expected)
    inputs = []

    def prepare(rep):
        inputs[:] = _backfill_inputs(run.spark, symbols, start_ms)

    setup_reps(run, cpus, prepare)

    def iteration(i, traced):
        lake = os.path.join(run.dir, f"lake-{i}")
        logs = [os.path.join(run.dir, f"fetch-{i}-{k}") for k in ("cold", "rerun")]

        def body():
            times = []
            for log in logs:
                adapter = RecordingAdapter(fetch.MockExchangeAdapter(), log)
                t0 = time.perf_counter()
                progress, _ = run.call(
                    "backfill", pipelines.backfill, run.spark, *inputs,
                    gen.END_MS, adapter, lake, pacing=NO_PACING,
                    normalizer=fetch.normalize_mock_pages,
                )
                n = sum(r["n_candles"] for r in progress.collect())
                times.append(time.perf_counter() - t0)
                with run.tracer.paused():
                    run.check(n == len(expected),
                              f"progress counts {n} candles, expected {len(expected)}")
                    rows = run.call("read the lake", _lake_rows, run.spark, lake)
                    run.check(ref.digest(rows) == want,
                              f"lake after the {log.rsplit('-', 1)[1]} backfill "
                              "differs from the adapter's candles")
            return sum(times), times

        def after(times):
            run.samples["write_s"].append(times[0])
            run.samples["read_s"].append(times[1])
            run.items += len(expected)
            run.item_s += times[0]
            cold = run.fetch_log(logs[0])
            rerun = run.fetch_log(logs[1])
            run.check(len(rerun) == 0, f"incremental re-run fetched {len(rerun)} pages")
            run.bytes_per_item = _lake_bytes(run.spark, lake) / len(expected)
            counters = _layer_counters(run, lake, cold + rerun)
            shutil.rmtree(lake, ignore_errors=True)
            return counters

        run.traced_iteration(traced, body, after)

    run.loop(iteration)


# -------------------------------------------------------------------- live


def _gated_tasks(symbols: list[str], boundary_ms: int) -> list[tuple]:
    """The manifest a live cycle at ``boundary_ms`` fetches: every
    supported (symbol, venue, interval) whose gate opens there, over
    [boundary - interval, boundary)."""
    tasks = []
    for sym, ivl, ex, native in _series(symbols):
        if should_collect_ms(boundary_ms, ivl):
            ivl_ms = parse_native_interval_ms(native)
            tasks.append((sym, ivl, ex, native, 300, boundary_ms - ivl_ms, boundary_ms))
    return tasks


_MANIFEST_SCHEMA = (
    "symbol string, interval string, exchange string, native_interval string, "
    "page_limit int, chunk_start_ms long, chunk_end_ms long"
)


def run_live(run: Run, cpus: int) -> None:
    seed = run.args.seed
    symbols = gen.symbols(seed, LIVE_SYMBOLS)
    start_ms = gen.END_MS - LIVE_BASE_DAYS * gen.DAY_MS
    expected = _expected_history(symbols, start_ms, gen.END_MS)
    lakes: list[str] = []

    def base_backfill(lake: str, log: str) -> list[dict]:
        progress, _ = run.call(
            "base backfill", pipelines.backfill, run.spark,
            *_backfill_inputs(run.spark, symbols, start_ms), gen.END_MS,
            RecordingAdapter(fetch.MockExchangeAdapter(), log), lake,
            pacing=NO_PACING, normalizer=fetch.normalize_mock_pages,
        )
        progress.collect()
        return run.fetch_log(log)

    def prepare(rep):
        lake = os.path.join(run.dir, f"live-base-{rep}")
        base_backfill(lake, os.path.join(run.dir, f"fetch-base-{rep}"))
        for old in lakes:
            shutil.rmtree(old, ignore_errors=True)
        lakes[:] = [lake]

    setup_reps(run, cpus, prepare)
    lake = lakes[0]
    if run.args.trace:
        # the identical call again: the incremental re-run, whose
        # watermark clamp (sources.manifest) leaves nothing to fetch
        def rerun():
            calls = base_backfill(lake, os.path.join(run.dir, "fetch-rerun"))
            run.check(not calls, f"incremental re-run fetched {len(calls)} pages")

        run.traced_block("rerun", rerun)
    rng = random.Random(seed)
    frontier = [gen.END_MS]
    normal: list[int] = []  # boundaries of the committed timed cycles

    def cycle(boundary_ms: int, adapter, applied_id: str, log: str) -> int:
        """The calls ``streaming.live``'s ``_cycle`` makes for one
        boundary; returns the committed snapshot version."""
        spark = run.spark
        with run.tracer.span("gate"):
            manifest = spark.createDataFrame(_gated_tasks(symbols, boundary_ms), _MANIFEST_SCHEMA)
            if run.tracer.active:
                manifest = manifest.localCheckpoint(eager=True)
        raw = fetch.fetch_pages(spark, manifest, RecordingAdapter(adapter, log), pacing=NO_PACING)
        candles = fetch.normalize_mock_pages(raw).drop("_ingest_seq")
        if candles.isEmpty():
            raise RuntimeError(f"cycle {boundary_ms} produced no candles")
        return snapshot.snapshot_upsert(spark, candles, lake, applied_id=applied_id)

    def deliver(kind: str, boundary: int, adapter, applied_id: str, log: str) -> tuple:
        """One timed cycle: returns (seconds, version before, version
        after)."""
        v_before = snapshot.current_version(run.spark, lake)
        t0 = time.perf_counter()
        v = run.call(f"{kind} cycle", cycle, boundary, adapter, applied_id, log)
        return time.perf_counter() - t0, v_before, v

    def expect(boundary: int, adapter) -> int:
        """Add the candles a delivery at ``boundary`` commits to the
        expected lake; returns how many there are."""
        n = 0
        for sym, ivl, ex, native, _, lo_ms, hi_ms in _gated_tasks(symbols, boundary):
            got = ref.adapter_candles(adapter, ex, sym, ivl, native, lo_ms, hi_ms)
            expected.update(got)
            n += len(got)
        return n

    def late_data(i: int) -> tuple:
        """Re-deliver an earlier boundary with revised values (the
        revision must win), then replay that delivery's applied id (it
        must not commit).  Returns (seconds, payload for
        ``check_late``).  The first revises the base lake's last
        boundary, a UTC midnight where every interval's gate is open;
        later ones revise a boundary of an earlier timed cycle."""
        boundary = gen.END_MS if i == LATE_FIRST else rng.choice(normal)
        revised = gen.RevisedAdapter(fetch.MockExchangeAdapter(), seed, revision=i)
        applied_id = f"cycle-{boundary}-rev{i}"
        out = []
        for kind in ("revision", "replay"):
            log = os.path.join(run.dir, f"fetch-{i}-{kind}")
            out.append((kind, log, *deliver(kind, boundary, revised, applied_id, log)))
        return sum(d[2] for d in out), (boundary, revised, applied_id, out)

    def check_late(boundary, revised, applied_id, out) -> None:
        for kind, log, _, v0, v in out:
            run.fetch_log(log)
            if kind == "revision":
                run.check(v == v0 + 1, f"revision of {boundary} committed version {v} after {v0}")
                expect(boundary, revised)
            else:
                run.ratio_parts["commit.replays"] += 1
                run.ratio_parts["commit.noops"] += v == v0
                run.check(v == v0, f"replay of {applied_id} committed version {v}, current was {v0}")

    def iteration(i, traced):
        # Late data comes with every 4th measured iteration from the 2nd
        # on: untraced ones (traced iterations are the odd ones), timed
        # apart from the cycle as ``late_s``.
        late = i % 4 == LATE_FIRST
        boundary = frontier[0] + gen.MIN15_MS
        adapter = fetch.MockExchangeAdapter()
        log = os.path.join(run.dir, f"fetch-{i}")

        def body():
            lt, late_payload = late_data(i) if late else (None, None)
            w, v_before, v = deliver("normal", boundary, adapter, f"cycle-{boundary}", log)
            frontier[0] = boundary
            lo = boundary - gen.DAY_MS
            t0 = time.perf_counter()
            df = run.call(
                "read", snapshot.read_snapshot, run.spark, lake,
                time_range=(lo * 1000, boundary * 1000 - 1),
            )
            bars = run.call(
                "resample", resample.resample_ohlcv,
                df.filter(df["interval"] == "15m"), 3_600_000,
            ).toPandas()
            r = time.perf_counter() - t0
            return w + r, (lt, late_payload, w, r, v_before, v, bars, lo)

        def after(payload):
            lt, late_payload, w, r, v_before, v, bars, lo = payload
            if late:
                run.samples["late_s"].append(lt)
                check_late(*late_payload)
            run.samples["write_s"].append(w)
            run.samples["read_s"].append(r)
            calls = run.fetch_log(log)
            run.check(v == v_before + 1, f"cycle {boundary} committed version {v} after {v_before}")
            run.items += expect(boundary, adapter)
            run.item_s += w
            normal.append(boundary)
            bars["bucket_ms"] = bars["bucket_ts"].values.astype("datetime64[ms]").astype("int64")
            diff = ref.bars_equal(bars, ref.resample_1h(expected, lo, boundary))
            run.check(diff is None, f"read after cycle {boundary}: {diff}")
            return _layer_counters(run, lake, calls)

        run.traced_iteration(traced, body, after)

    run.loop(iteration)
    rows = run.call("read the lake", _lake_rows, run.spark, lake)
    run.check(ref.digest(rows) == ref.digest(expected),
              "final live snapshot differs from keep-last of the deliveries")
    run.bytes_per_item = _lake_bytes(run.spark, lake) / len(expected)


# ------------------------------------------------------------------ curate


def _shard_ids(path: str) -> dict[int, list[int]]:
    """shard → doc ids in file order, read straight from the files."""
    out = {}
    for d in sorted(glob.glob(os.path.join(path, "shard=*"))):
        files = sorted(glob.glob(os.path.join(d, "*.parquet")))
        ids: list[int] = []
        for f in files:
            ids.extend(pq.read_table(f, columns=["doc_id"]).column(0).to_pylist())
        out[int(d.rsplit("=", 1)[1])] = (ids, len(files))
    return out


def run_curate(run: Run, cpus: int) -> None:
    import pandas as pd

    seed = run.args.seed
    corpus = gen.curate_corpus(seed, CURATE_BASE_DOCS)
    docs, bench, planted = corpus["docs"], corpus["benchmark"], corpus["planted"]
    want_ids = ref.curated_ids(docs, bench, QUALITY_MIN, DECONTAM_N)
    vecs, qvecs = gen.embeddings(seed, ANN_CORPUS, ANN_QUERIES)
    exact_ids, exact_cos = ref.cosine_topk(vecs, qvecs, ANN_K)
    frames: dict = {}

    def prepare(rep):
        tables = {
            "docs": pd.DataFrame(docs),
            "bench": pd.DataFrame(bench),
            "corpus": pd.DataFrame({"vec_id": np.arange(ANN_CORPUS), "embedding": list(vecs)}),
            "queries": pd.DataFrame({
                "vec_id": gen.QUERY_ID_BASE + np.arange(ANN_QUERIES), "embedding": list(qvecs),
            }),
        }
        for name, pdf in tables.items():
            schema = (
                "vec_id long, embedding array<float>" if "embedding" in pdf else None
            )
            frames[name] = run.spark.createDataFrame(pdf, schema)
            frames[name].count()

    setup_reps(run, cpus, prepare)
    first: dict = {}

    def iteration(i, traced):
        work = os.path.join(run.dir, f"curate-{i}")

        def body():
            t0 = time.perf_counter()
            man = run.call(
                "curate_and_shard", pipelines.curate_and_shard, run.spark,
                frames["docs"], frames["bench"], work, num_shards=NUM_SHARDS,
                quality_min=QUALITY_MIN, decontam_n=DECONTAM_N, seed=seed,
            ).collect()
            t1 = time.perf_counter()
            ann = run.call(
                "ann_ivf_topk", similarity.ann_ivf_topk, frames["corpus"],
                frames["queries"], k=ANN_K, n_lists=16, nprobe=4, seed=seed,
            ).toPandas()
            t2 = time.perf_counter()
            # the exact operator is checked and traced but not timed, so
            # it runs in the warm-up and in traced iterations only
            exact = None
            if i == 0 or traced:
                exact = run.call(
                    "cosine_topk", similarity.cosine_topk, frames["corpus"],
                    frames["queries"], k=ANN_K,
                ).toPandas()
            return t2 - t0, (t1 - t0, t2 - t1, man, ann, exact)

        def after(payload):
            w, r, man, ann, exact = payload
            run.samples["write_s"].append(w)
            run.samples["read_s"].append(r)
            run.items += len(docs)
            run.item_s += w
            _check_curate(run, work, man, want_ids, planted, first)
            recall = _check_search(run, ann, exact, exact_ids, exact_cos)
            shards = glob.glob(os.path.join(work, "shards", "shard=*", "*.parquet"))
            run.bytes_per_item = sum(os.path.getsize(f) for f in shards) / len(want_ids)
            shutil.rmtree(work, ignore_errors=True)
            return {"ann.recall_at_10": recall}

        run.traced_iteration(traced, body, after)

    run.loop(iteration)


def _check_curate(run: Run, work: str, man, want_ids: set, planted: dict, first: dict) -> None:
    shards = _shard_ids(os.path.join(work, "shards"))
    got = [i for ids, _ in shards.values() for i in ids]
    run.check(len(got) == len(set(got)), "a document appears in two shards")
    run.check(set(got) == want_ids,
              f"shards hold {len(set(got))} docs, reference keeps {len(want_ids)} "
              f"({len(set(got) - want_ids)} extra, {len(want_ids - set(got))} missing)")
    run.check(all(n == 1 for _, n in shards.values()), "a shard has more than one file")
    run.check(len(shards) <= NUM_SHARDS, f"{len(shards)} shards written")
    run.check(sorted((r["shard"], r["n_rows"]) for r in man)
              == sorted((s, len(ids)) for s, (ids, _) in shards.items()),
              "shard manifest row counts differ from the shard files")
    kept = set(got)
    for kind in ("exact", "near"):
        for group in planted[kind]:
            run.check(len(kept & set(group)) <= 1, f"planted {kind} group {group} kept twice")
    run.check(not (kept & set(planted["contaminated"])), "a contaminated doc was kept")
    run.check(not (kept & set(planted["low_quality"])), "a low-quality doc was kept")
    layout = {s: ids for s, (ids, _) in shards.items()}
    if not first:
        first.update(layout)
    run.check(layout == first, "a second curate run wrote different shards")


def _check_search(run: Run, ann, exact, exact_ids, exact_cos) -> float:
    """Checks the exact operator (when it ran) against numpy brute force
    and returns the ANN recall@k against that reference."""
    qbase = gen.QUERY_ID_BASE
    if exact is not None:
        ok = True
        for q in range(ANN_QUERIES):
            rows = exact[exact["qid"] == qbase + q].sort_values("rank")
            want_i, want_c = exact_ids[q], exact_cos[q]
            if len(rows) != ANN_K or not np.allclose(rows["cosine"], want_c, atol=1e-5):
                ok = False
                continue
            # ids must match wherever the reference order is not a near-tie
            gap = np.abs(np.diff(want_c)) > 1e-5
            firm = np.concatenate([[True], gap]) & np.concatenate([gap, [True]])
            ok &= bool((rows["nid"].to_numpy()[firm] == want_i[firm]).all())
        run.check(ok, "cosine_topk differs from numpy brute force")
    hits = 0
    for q in range(ANN_QUERIES):
        got = set(ann.loc[ann["qid"] == qbase + q, "nid"])
        hits += len(got & set(exact_ids[q].tolist()))
    recall = hits / (ANN_QUERIES * ANN_K)
    run.check(recall >= RECALL_GATE, f"ANN recall@{ANN_K} {recall:.3f} below {RECALL_GATE}")
    return recall


WORKLOADS = {"backfill": run_backfill, "live": run_live, "curate": run_curate}

