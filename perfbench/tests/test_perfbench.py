"""The workloads at reduced size, the traced path, the corrupted-lake
check and the missing-program exit."""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import subprocess
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

import gen
import run as cli
import tracing
import workloads as W

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def small(monkeypatch):
    monkeypatch.setattr(W, "SETUP_REPS", 1)
    monkeypatch.setattr(W, "BACKFILL_DAYS", 1)
    monkeypatch.setattr(W, "CURATE_BASE_DOCS", 120)
    monkeypatch.setattr(W, "ANN_CORPUS", 400)
    monkeypatch.setattr(W, "ANN_QUERIES", 12)


def _run(tmp_path, workload: str, trace: int = 0) -> W.Run:
    args = argparse.Namespace(workload=workload, seed=3, seconds=0.0, trace=trace)
    box: list = []
    tracer = tracing.Tracer(lambda: box[0].sparkContext)
    run = W.Run(args, str(tmp_path), tracer, box)
    if trace:
        tracer.install()
        cli._install_hooks(tracer, run)
    W.WORKLOADS[workload](run, cpus=2)
    return run


@pytest.mark.parametrize("workload", ["backfill", "live", "curate"])
def test_workload_passes_its_checks(tmp_path, small, workload):
    run = _run(tmp_path, workload)
    assert run.failed == 0, run.problems
    assert len(run.samples["write_s"]) >= 2
    assert len(run.samples["read_s"]) >= 2
    assert run.items > 0 and run.bytes_per_item > 0
    metrics = cli._end_to_end(run, peak_rss=run.heap_committed + 1)
    assert set(metrics) == set(cli.declared()[0])
    assert metrics["ok_ops_ratio"] == 1.0
    assert run.heap_peak > 0
    if workload == "live":
        assert run.items == _live_candles_committed(run)
        assert len(run.samples["late_s"]) == 1


def _live_candles_committed(run: W.Run) -> int:
    """Candles the timed live cycles deliver, straight from the adapter:
    the warm-up commits the boundary 15 minutes after the base lake ends,
    each timed cycle the next one."""
    symbols = gen.symbols(run.args.seed, W.LIVE_SYMBOLS)
    base = W.fetch.MockExchangeAdapter()
    n = 0
    for k in range(len(run.samples["write_s"])):
        boundary = gen.END_MS + (k + 2) * gen.MIN15_MS
        for sym, _, ex, native, _, lo, hi in W._gated_tasks(symbols, boundary):
            n += len(base(ex, sym, native, lo, hi, 10**9))
    return n


def test_traced_run_reports_every_layer_metric(tmp_path, small):
    run = _run(tmp_path, "live", trace=1)
    assert run.failed == 0, run.problems
    assert run.layer_rows, "no traced iteration"
    layers = cli._per_layer(run)
    assert set(layers) == set(cli.declared()[1])
    for k in ("fetch.s", "commit.s", "read.s", "resample.s", "commit.files_written",
              "gate.s", "late.s", "fetch.calls_per_page", "setup.manifest.s",
              "setup.commit.s", "setup.commit.files_written", "setup.pipelines.s",
              "rerun.s", "rerun.manifest.s", "rerun.read.s"):
        assert layers[k] > 0, k
    assert layers["manifest.s"] == 0  # the live loop builds its manifest inline
    assert layers["commit.replay_noops"] == 1.0
    names = {s["name"] for s in run.tracer.spans}
    assert {"setup", "rerun", "iteration", "pipelines", "manifest", "gate", "fetch",
            "commit", "read"} <= names


def test_corrupted_lake_fails_the_check(tmp_path, small, monkeypatch):
    real = W.pipelines.backfill

    def corrupting(spark, *args, **kwargs):
        out = real(spark, *args, **kwargs)
        lake = args[4]
        f = sorted(glob.glob(os.path.join(lake, "data", "**", "*.parquet"), recursive=True))[0]
        t = pq.read_table(f)
        i = t.schema.get_field_index("close")
        pq.write_table(
            t.set_column(i, "close", pc.add(t.column(i), 1.0)), f,
            use_deprecated_int96_timestamps=True,  # Spark's timestamp encoding
        )
        # drop the checksum sidecar, so the read returns the wrong values
        # instead of failing on the checksum
        crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
        if os.path.exists(crc):
            os.remove(crc)
        return out

    monkeypatch.setattr(W.pipelines, "backfill", corrupting)
    run = _run(tmp_path, "backfill")
    assert run.failed > 0
    assert any("differs from the adapter's candles" in p for p in run.problems)
    assert cli._end_to_end(run, peak_rss=1)["ok_ops_ratio"] < 1.0


def test_exits_nonzero_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the run must fail fast
    and print no result."""
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__", "tests"))
    manifest = os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")
    if os.path.exists(manifest):
        shutil.copy(manifest, tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "live", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode not in (0, None)
    for line in p.stdout.splitlines():
        with pytest.raises(json.JSONDecodeError):
            json.loads(line)
