"""Fetch-once contract: every ingestion batch reaches the venue exactly
once per commit, and the upsert writes the rows it planned its touched
partitions from.

The fetch kernel runs in Python worker processes, so the adapters here
log each call as a JSON line in a per-process file under a shared
directory; the test reads the directory afterwards.
"""

import glob
import json
import os
import sys
from collections import Counter

import pandas as pd
import pytest
from pyspark import cloudpickle
from pyspark.sql import functions as F

from crypto_data_ingestion_module_spark.pipelines import backfill
from crypto_data_ingestion_module_spark.sinks.parquet_lake import LOGICAL_KEY
from crypto_data_ingestion_module_spark.sinks.snapshot import (
    read_snapshot,
    snapshot_upsert,
)
from crypto_data_ingestion_module_spark.sources.fetch import (
    RAW_SCHEMA,
    MockExchangeAdapter,
    fetch_pages,
    normalize_mock_pages,
)
from crypto_data_ingestion_module_spark.streaming.live import (
    live_collection_stream,
)

DAY_MS = 86_400_000
START_MS = 1_704_067_200_000  # 2024-01-01 UTC

_MANIFEST_DDL = (
    "symbol string, interval string, exchange string, "
    "native_interval string, page_limit int, "
    "chunk_start_ms long, chunk_end_ms long"
)


@pytest.fixture(autouse=True, scope="module")
def _adapters_by_value():
    """Python workers unpickle the adapters below and need not have this
    test module on their path: ship its code by value while it runs."""
    module = sys.modules[__name__]
    cloudpickle.register_pickle_by_value(module)
    yield
    cloudpickle.unregister_pickle_by_value(module)


def _calls(log_dir: str) -> list[tuple]:
    """Every logged call as its page: (venue, symbol, interval, start, end)."""
    out = []
    for path in sorted(glob.glob(os.path.join(log_dir, "calls-*.jsonl"))):
        with open(path, encoding="utf-8") as f:
            out.extend(tuple(json.loads(line)) for line in f if line.strip())
    return out


class CountingAdapter:
    """Serves ``inner``'s pages and logs every call under ``log_dir``."""

    def __init__(self, inner, log_dir: str):
        self.inner = inner
        self.log_dir = log_dir

    def __call__(self, exchange, symbol, interval, start_ms, end_ms, limit):
        page = (exchange, symbol, interval, int(start_ms), int(end_ms))
        seen = _calls(self.log_dir).count(page)
        os.makedirs(self.log_dir, exist_ok=True)
        path = os.path.join(self.log_dir, f"calls-{os.getpid()}.jsonl")
        with open(path, "a", encoding="utf-8") as f:
            f.write(json.dumps(page) + "\n")
        return self.serve(seen, exchange, symbol, interval, start_ms, end_ms, limit)

    def serve(self, seen, *request):
        return self.inner(*request)


class DriftingAdapter(CountingAdapter):
    """A venue that closes one more bar between two requests: the second
    and later calls for a page also return the bar one interval past the
    page's end (the next UTC day for a 1d page), with a revised open."""

    def serve(self, seen, exchange, symbol, interval, start_ms, end_ms, limit):
        klines = self.inner(exchange, symbol, interval, start_ms, end_ms, limit)
        if seen:
            width = int(end_ms) - int(start_ms)
            nxt = self.inner(
                exchange, symbol, interval, end_ms, end_ms + width, limit
            )[0]
            nxt[1] = str(float(nxt[1]) + 1.0)
            klines = klines + [nxt]
        return klines


def _assert_each_page_once(log_dir: str) -> None:
    counts = Counter(_calls(log_dir))
    assert counts, "the adapter was never called"
    again = {page: n for page, n in counts.items() if n != 1}
    assert not again, f"pages requested more than once: {again}"


def test_backfill_fetches_each_page_once(spark, tmp_path):
    log_dir = str(tmp_path / "calls")
    adapter = CountingAdapter(
        MockExchangeAdapter(fail_on=frozenset({"bitstamp"})), log_dir
    )
    progress, quarantine = backfill(
        spark,
        spark.createDataFrame(
            [("BTC-USDT", START_MS)], "symbol string, start_ms long"
        ),
        spark.createDataFrame(
            [("6h", 4), ("1d", 1)], "interval string, candles_per_day long"
        ),
        end_ms=START_MS + 2 * DAY_MS,
        adapter=adapter,
        lake_root=str(tmp_path / "lake"),
    )
    assert progress.collect()
    n_failed = quarantine.count()
    _assert_each_page_once(log_dir)
    # the quarantine side channel reads the same fetch: one row per
    # failed bitstamp page
    assert n_failed == sum(1 for p in _calls(log_dir) if p[0] == "bitstamp") > 0


def test_live_cycle_fetches_each_page_once(spark, tmp_path):
    log_dir = str(tmp_path / "calls")
    boundary_ms = START_MS + 3_600_000  # 01:00 UTC: the 15m and 1h gates open
    ticks = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 3)
        .option("startTimestamp", boundary_ms)
        .option("advanceMillisPerBatch", 1000)
        .load()
    )
    q = live_collection_stream(
        spark,
        adapter=CountingAdapter(MockExchangeAdapter(), log_dir),
        symbols=["BTC-USDT"],
        intervals=["15m", "1h"],
        lake_root=str(tmp_path / "lake"),
        checkpoint=str(tmp_path / "ckpt"),
        tick_seconds=3600,
        available_now=True,
        exchanges=("coinbase", "kucoin"),
        ticks=ticks,
    )
    q.awaitTermination(180)
    assert q.exception() is None
    _assert_each_page_once(log_dir)
    assert len(_calls(log_dir)) == 4  # 2 intervals x 2 venues, one cycle
    assert read_snapshot(spark, str(tmp_path / "lake")).count() == 4


def _uncut_fetch(manifest, adapter):
    """``fetch_pages``' kernel without its lineage cut: every action on
    the result calls the adapter again."""

    def kernel(batches):
        for pdf in batches:
            rows = [
                (t.exchange, t.symbol, t.interval, k, None, int(t.chunk_start_ms))
                for t in pdf.itertuples(index=False)
                for k in adapter(
                    t.exchange, t.symbol, t.native_interval,
                    int(t.chunk_start_ms), int(t.chunk_end_ms), int(t.page_limit),
                )
            ]
            yield pd.DataFrame(rows, columns=RAW_SCHEMA.fieldNames())

    return manifest.mapInPandas(kernel, schema=RAW_SCHEMA)


@pytest.mark.parametrize("fetch", ["fetch_pages", "uncut"])
def test_drifting_venue_upsert_keeps_keys_unique(spark, tmp_path, fetch):
    """``fetch_pages`` fetches once; ``snapshot_upsert`` on its own must
    also plan its touched partitions from the rows it writes, whatever
    its input's lineage."""
    lake = str(tmp_path / "lake")
    day1 = START_MS + DAY_MS

    def page(start_ms, end_ms):
        return spark.createDataFrame(
            [("BTC-USDT", "1d", "kucoin", "1d", 300, start_ms, end_ms)],
            _MANIFEST_DDL,
        )

    # the lake already holds the next day's bar
    seed = fetch_pages(spark, page(day1, day1 + DAY_MS), MockExchangeAdapter())
    snapshot_upsert(spark, normalize_mock_pages(seed).drop("_ingest_seq"), lake)

    log_dir = str(tmp_path / "calls")
    adapter = DriftingAdapter(MockExchangeAdapter(), log_dir)
    if fetch == "fetch_pages":
        raw = fetch_pages(spark, page(START_MS, day1), adapter)
    else:
        raw = _uncut_fetch(page(START_MS, day1), adapter)
    snapshot_upsert(spark, normalize_mock_pages(raw).drop("_ingest_seq"), lake)

    got = read_snapshot(spark, lake)
    dup = got.groupBy(*LOGICAL_KEY).count().filter(F.col("count") > 1)
    assert dup.count() == 0
    assert got.count() == 2
    _assert_each_page_once(log_dir)
