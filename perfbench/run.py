"""Benchmark entry point.

    python3 perfbench/run.py --workload {backfill,live,curate} --seed N \
        --seconds S --trace {0,1}

Runs one workload in one process on ``local[<cores>]``, checks its
outputs against an independent reference, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics (and the
tracing overhead) and writes the spans to the run directory.  Exit code 0
when every check passed, 1 when an operation or a check failed, 2 when the
program under test cannot be imported.

Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

def declared() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name → unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("backfill", "live", "curate"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``run_dir``."""
    import tempfile

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # The JVM heap is fixed and pre-touched, so its resident size is its
    # committed size whatever GC does; peak_rss_mb counts the heap by its
    # live size instead (see _end_to_end).  The program's default heap is
    # sized for a dedicated host.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={run_dir}/warehouse "
        f"--conf 'spark.driver.extraJavaOptions=-Dderby.system.home={run_dir} "
        "-Xms2g -XX:+AlwaysPreTouch' pyspark-shell"
    )


def _shutdown(spark_box) -> None:
    """Stop Spark and the JVM, and wait until every process this run
    started has exited."""
    from tracing import descendants

    procs = set(descendants(os.getpid()))
    if spark_box:
        spark_box[0].stop()
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.time() + 30
    while procs and time.time() < deadline:
        procs = {p for p in procs if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _install_hooks(tracer, run) -> None:
    """Counters measured at the layer boundaries of a traced call."""
    import pyarrow.parquet as pq
    from crypto_data_ingestion_module_spark.sinks import snapshot as S

    def lake_files(root):
        if S.current_version(run.spark, root) is None:
            return set()
        return set(S.snapshot_files(run.spark, root))

    def upsert_pre(args, kwargs):
        root = kwargs.get("root", args[2] if len(args) > 2 else None)
        return root, lake_files(root), args[1].count()

    def upsert_post(span, state, args, kwargs, raw, res):
        root, before, rows_in = state
        new = lake_files(root) - before
        man = S.read_manifest(run.spark, root, res)
        span["attrs"].update(
            commits=1,
            rows_in=rows_in,
            files_written=len(new),
            partitions_touched=len({os.path.dirname(f) for f in new}),
            rows_rewritten=sum(
                pq.ParquetFile(os.path.join(root, f)).metadata.num_rows for f in new
            ),
            manifest_bytes=len(json.dumps(man, sort_keys=True)),
        )

    def read_post(span, state, args, kwargs, raw, res):
        root = kwargs.get("root", args[1] if len(args) > 1 else None)
        span["attrs"].update(
            files_scanned=len(raw.inputFiles()),
            files_live=len(S.snapshot_files(run.spark, root, kwargs.get("version"))),
        )

    def count_post(attr):
        def post(span, state, args, kwargs, raw, res):
            span["attrs"][attr] = res.count()

        return post

    def decontam_post(span, state, args, kwargs, raw, res):
        span["attrs"]["flagged"] = args[0].count() - res.count()

    def reps_post(span, state, args, kwargs, raw, res):
        span["attrs"]["reps"] = res.filter("is_rep").count()

    def shards_post(span, state, args, kwargs, raw, res):
        span["attrs"]["rows"] = sum(r["n_rows"] for r in res.collect())

    tracer.on("snapshot_upsert", upsert_pre, upsert_post)
    tracer.on("read_snapshot", post=read_post)
    tracer.on("decontaminate", post=decontam_post)
    tracer.on("simhash_hamming_pairs", post=count_post("pairs"))
    tracer.on("read_clusters", post=reps_post)
    tracer.on("write_training_shards", post=shards_post)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _end_to_end(run, peak_rss: int) -> dict:
    """``peak_rss`` is the process tree's peak resident size; the heap's
    committed size is swapped for the peak live heap."""
    s = run.samples
    return {
        "setup_s": _median(s["setup_s"]),
        "write_s.p50": _median(s["write_s"]),
        "read_s.p50": _median(s["read_s"]),
        "items_per_s": run.items / run.item_s if run.item_s else 0.0,
        "bytes_per_item": run.bytes_per_item,
        "peak_rss_mb": (peak_rss - run.heap_committed + run.heap_peak) / 2**20,
        "ok_ops_ratio": 1.0 - run.failed / max(run.attempted, 1),
    }


def _per_layer(run) -> dict:
    rows = run.layer_rows
    n = max(len(rows), 1)

    def total(k):
        return sum(r.get(k, 0.0) for r in rows)

    out = {k: total(k) / n for k in declared()[1]}
    for k in out:
        block, _, metric = k.partition(".")
        if block in ("setup", "rerun"):
            out[k] = run.block_rows.get(block, {}).get(metric, 0.0)
    out["session.start_s"] = _median(run.samples["session_s"])
    out["late.s"] = _median(run.samples["late_s"])
    out["commit.rewrite_ratio"] = total("commit.rows_rewritten") / max(total("commit.rows_in"), 1)
    out["commit.manifest_bytes"] = total("commit.manifest_bytes") / max(total("commit.commits"), 1)
    rp = run.ratio_parts
    out["commit.replay_noops"] = rp["commit.noops"] / rp["commit.replays"] if rp["commit.replays"] else 0.0
    out["fetch.calls_per_page"] = (
        rp["fetch.calls"] / rp["fetch.distinct_pages"] if rp["fetch.distinct_pages"] else 0.0
    )
    live = total("read.files_live")
    out["read.files_pruned_ratio"] = 1.0 - total("read.files_scanned") / live if live else 0.0
    out["ann.recall_at_10"] = total("ann.recall_at_10") / n
    out["trace.overhead_s"] = _median(run.iter_s[True]) - _median(run.iter_s[False])
    return out


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    try:
        import crypto_data_ingestion_module_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2

    run_dir = os.path.join(
        ROOT, ".perfbench", f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    )
    os.makedirs(run_dir)
    _isolate(run_dir)

    import tracing
    import workloads as W

    spark_box: list = []
    tracer = tracing.Tracer(lambda: spark_box[0].sparkContext)
    run = W.Run(args, run_dir, tracer, spark_box)
    if args.trace:
        tracer.install()
        _install_hooks(tracer, run)
    cpus = len(os.sched_getaffinity(0))  # what `nproc` reports
    try:
        with tracing.RssSampler() as rss:
            try:
                W.WORKLOADS[args.workload](run, cpus)
            except W.Failed:
                pass
            except Exception:
                run.attempted += 1
                run.failed += 1
                run.problems.append(f"the benchmark raised:\n{traceback.format_exc()}")
    finally:
        if args.trace:
            tracer.dump(os.path.join(run_dir, "spans.json"))
        _shutdown(spark_box)
        if args.trace:
            for sub in os.listdir(run_dir):
                if sub != "spans.json":
                    shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)
        else:
            shutil.rmtree(run_dir, ignore_errors=True)

    correct = run.failed == 0
    for p in run.problems[:20]:
        print(f"perfbench: {p}", file=sys.stderr)
    end_to_end, per_layer = declared()
    if args.trace:
        values, units = _per_layer(run), per_layer
    else:
        values, units = _end_to_end(run, rss.peak), end_to_end
    s = run.samples
    for name in ("setup_s", "write_s", "read_s", "late_s"):
        if not s[name]:
            continue
        print(f"{args.workload} seed={args.seed} {name}: {len(s[name])} samples "
              + " ".join(f"{x:.3f}" for x in s[name]))
    for k, u in units.items():
        print(f"  {k:28s} {values[k]:.6g} {u}")
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
