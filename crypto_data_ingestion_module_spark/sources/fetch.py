"""Distributed fetch layer (T1/T5/T6/T7): manifest → executors → canonical
candles.

The reference fetches sequentially on one machine (one in-flight chunk,
crypto_collector.py:600-604, exchanges iterated in a loop 563-585).  Here
the unit of work is a manifest row (one ≤page_limit candle page); the
manifest is repartitioned BY EXCHANGE so each venue's requests serialize
through one partition, where a token bucket enforces the venue's pacing
(reference sleeps: 1.0 s default at 38-42, 0.5 s Binance.US at 403).
Executor parallelism across venues replaces the reference's sequential
loop; the per-venue rate limit stays the real constraint.

Error handling (T7, reference 136-138/586-587): a failing fetch yields an
empty page plus a quarantine row (exchange, error) — log-and-continue,
never a failed task.

Fetch once: every manifest row reaches the venue exactly once per
``fetch_pages`` call.  The fetched pages sit behind a lazy local
checkpoint, so every action on the result (and on frames derived from
it: normalized candles, the quarantine side channel, the upsert's
touched-partition scan and its merge write) reads the one fetched copy
instead of re-running the shuffle and the adapter.  Re-running them per
action would spend the venue's pacing budget several times over, and a
venue that changed between two requests could hand the upsert other
rows than the ones it planned its touched partitions from.  The
trade-off: checkpointed blocks live on the executors and are not
recomputed when one is lost — the job then fails instead of silently
re-requesting the pages.  A retried run is cheap: the incremental
manifest clamps it to the series watermarks, so only uncommitted
buckets are fetched again.

Adapters are injectable: ``MockExchangeAdapter`` replays deterministic
synthetic pages (no network, used by tests/bench); ``HttpExchangeAdapter``
is the thin real-world binding (same URL/params surface as the reference).
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crypto_data_ingestion_module_spark.functions.timeutil import (
    parse_native_interval_ms,
)
from crypto_data_ingestion_module_spark.operators.normalize import NORMALIZERS

#: Raw page row produced by the fetch kernel: one kline as array<string>
#: (uniform across venues; each venue's normalizer knows its layout).
RAW_SCHEMA = T.StructType(
    [
        T.StructField("exchange", T.StringType()),
        T.StructField("symbol", T.StringType()),
        T.StructField("interval", T.StringType()),
        T.StructField("kline", T.ArrayType(T.StringType())),
        T.StructField("error", T.StringType()),
        T.StructField("_ingest_seq", T.LongType()),
    ]
)

Adapter = Callable[[str, str, str, int, int, int], list[list[str]]]


class MockExchangeAdapter:
    """Deterministic in-memory exchange: emits klines on the interval grid
    with values derived from (exchange, symbol, ts) — no network.

    ``fail_on`` injects venue errors to exercise quarantine (T7).
    """

    def __init__(self, fail_on: frozenset[str] = frozenset()):
        self.fail_on = fail_on

    def __call__(
        self,
        exchange: str,
        symbol: str,
        interval: str,
        start_ms: int,
        end_ms: int,
        limit: int,
    ) -> list[list[str]]:
        if exchange in self.fail_on:
            raise RuntimeError(f"injected failure for {exchange}")
        # adapters receive the venue's NATIVE interval form (as a real
        # HTTP adapter would put in its request params)
        ivl_ms = parse_native_interval_ms(interval)
        first = ((start_ms + ivl_ms - 1) // ivl_ms) * ivl_ms
        out: list[list[str]] = []
        ts = first
        import zlib

        # crc32, NOT hash(): str hashes are salted per process, and the
        # mock must emit identical candles on every executor/run
        seed = zlib.crc32(f"{exchange}|{symbol}".encode())
        while ts < end_ms and len(out) < limit:
            base = 1000.0 + (seed % 1000) / 10.0
            wob = ((ts // ivl_ms) % 97) / 10.0
            o, c = base + wob, base + wob + 0.5
            hi, lo = c + 1.0, o - 1.0
            vol = 10.0 + ((ts // ivl_ms) % 13)
            # canonical mock layout: [ts_ms, open, high, low, close, volume]
            out.append([str(ts), str(o), str(hi), str(lo), str(c), str(vol)])
            ts += ivl_ms
        return out


class HttpExchangeAdapter:
    """Real-HTTP binding with the same request surface as the reference
    (endpoints/params: crypto_collector.py S1-S5 sections).  Request
    construction and response parsing live in ``sources.http`` (pure,
    unit-tested against recorded payloads); only the transport touches
    the network, and it is injectable — pass a
    ``sources.http.RecordedTransport`` for offline replay.
    """

    def __init__(self, transport=None):
        from crypto_data_ingestion_module_spark.sources.http import (
            VenueHttpAdapter,
            requests_transport,
        )

        self._adapter = VenueHttpAdapter(transport or requests_transport)

    def __call__(
        self,
        exchange: str,
        symbol: str,
        interval: str,
        start_ms: int,
        end_ms: int,
        limit: int,
    ) -> list[list[str]]:
        return self._adapter(exchange, symbol, interval, start_ms, end_ms, limit)


def fetch_pages(
    spark: SparkSession,
    manifest: DataFrame,
    adapter: Adapter,
    pacing: dict[str, float] | None = None,
    mock_layout: bool = True,
) -> DataFrame:
    """Run the fetch kernel over a task manifest.

    One mapInPandas pass; rows arrive partitioned by exchange so the
    per-partition token bucket serializes each venue's requests.  Returns
    RAW_SCHEMA rows: kline pages flattened, plus quarantine rows
    (kline=NULL, error set) for failed tasks.

    The result is lazily checkpointed: nothing is fetched until its first
    action, which fetches every page once; every later action reads those
    blocks.  Losing an executor that holds them fails the job rather than
    re-requesting the pages (see the module docstring).
    """
    pacing = pacing or {}

    from crypto_data_ingestion_module_spark.session import configure

    configure(spark)  # ships the package to executor Python workers

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        last_call: dict[str, float] = {}
        for pdf in batches:
            rows: list[tuple] = []
            for t in pdf.itertuples(index=False):
                wait = pacing.get(t.exchange, 0.0)
                if wait:
                    now = time.monotonic()
                    due = last_call.get(t.exchange, 0.0) + wait
                    if due > now:
                        time.sleep(due - now)
                    last_call[t.exchange] = time.monotonic()
                seq = int(t.chunk_start_ms)
                try:
                    page = adapter(
                        t.exchange,
                        t.symbol,
                        getattr(t, "native_interval", t.interval),
                        int(t.chunk_start_ms),
                        int(t.chunk_end_ms),
                        int(getattr(t, "page_limit", 300)),
                    )
                    for k in page:
                        rows.append(
                            (t.exchange, t.symbol, t.interval, [str(v) for v in k], None, seq)
                        )
                except Exception as e:  # T7: quarantine, never fail the task
                    rows.append((t.exchange, t.symbol, t.interval, None, str(e)[:500], seq))
            yield pd.DataFrame(rows, columns=[f.name for f in RAW_SCHEMA.fields])

    partitioned = manifest.repartition("exchange")
    return partitioned.mapInPandas(kernel, schema=RAW_SCHEMA).localCheckpoint(
        eager=False
    )


#: Mock kline layout is ms-epoch [ts, o, h, l, c, v] — Bitfinex-shaped but
#: with OHLC order; map positions per venue for the real layouts instead.
def normalize_mock_pages(raw: DataFrame) -> DataFrame:
    """Mock pages → canonical candles (+ interval/_ingest_seq carried)."""
    k = F.col("kline")
    good = raw.filter(F.col("error").isNull())
    return good.select(
        k[1].cast("double").alias("open"),
        k[2].cast("double").alias("high"),
        k[3].cast("double").alias("low"),
        k[4].cast("double").alias("close"),
        k[5].cast("double").alias("volume"),
        F.timestamp_millis(k[0].cast("long")).alias("timestamp"),
        F.col("symbol"),
        F.col("exchange"),
        F.col("interval"),
        F.lit("spot").alias("data_type"),
        F.col("_ingest_seq"),
    )


def normalize_real_pages(raw: DataFrame) -> DataFrame:
    """Real venue pages → canonical candles via the per-dialect
    normalizers (operators.normalize); quarantine rows dropped, interval
    and arrival order carried through."""
    good = raw.filter(F.col("error").isNull())
    extra = ("interval", "_ingest_seq")
    parts = []
    for exchange, normalizer in NORMALIZERS.items():
        sub = good.filter(F.col("exchange") == exchange)
        if exchange == "bitstamp":
            # bitstamp's named-field payload arrives positionally here
            sub = sub.withColumn(
                "ohlc",
                F.struct(
                    F.col("kline")[0].alias("timestamp"),
                    F.col("kline")[1].alias("open"),
                    F.col("kline")[2].alias("high"),
                    F.col("kline")[3].alias("low"),
                    F.col("kline")[4].alias("close"),
                    F.col("kline")[5].alias("volume"),
                ),
            )
            parts.append(normalizer(sub, extra=extra))
        else:
            parts.append(normalizer(sub, extra=extra))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.withColumn("data_type", F.lit("spot"))


def quarantined(raw: DataFrame) -> DataFrame:
    """The badRecords side-channel: failed fetch tasks with their errors."""
    return raw.filter(F.col("error").isNotNull()).select(
        "exchange", "symbol", "interval", "error", "_ingest_seq"
    )
