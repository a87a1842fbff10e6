"""Independent reference computations the benchmark checks outputs
against.  Nothing here calls the program's transformation code: candles
come straight from the exchange adapter, and the curate and search
references re-derive their results in plain Python and numpy from the
operators' documented definitions.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter

import numpy as np
import pandas as pd

Key = tuple  # (symbol, interval, exchange, ts_ms)
Ohlcv = tuple  # (open, high, low, close, volume)


def adapter_candles(adapter, exchange, symbol, interval, native, start_ms, end_ms):
    """{key: ohlcv} for one series over [start_ms, end_ms), read from the
    adapter in one unbounded call."""
    out = {}
    for k in adapter(exchange, symbol, native, start_ms, end_ms, 10**9):
        out[(symbol, interval, exchange, int(k[0]))] = tuple(float(v) for v in k[1:6])
    return out


def digest(rows: dict) -> tuple[int, int]:
    """(count, order-insensitive 64-bit hash) of {key: ohlcv}."""
    acc = 0
    for key, vals in rows.items():
        h = hashlib.blake2b(repr((key, vals)).encode(), digest_size=8).digest()
        acc = (acc + int.from_bytes(h, "little")) % (1 << 64)
    return len(rows), acc


def frame_rows(pdf: pd.DataFrame) -> dict:
    """{key: ohlcv} from a frame with symbol, interval, exchange, ts_ms and
    the five value columns (duplicate keys keep the count visible by
    failing the caller's count check)."""
    cols = ["symbol", "interval", "exchange", "ts_ms", "open", "high", "low", "close", "volume"]
    out = {}
    for r in pdf[cols].itertuples(index=False):
        out[(r[0], r[1], r[2], int(r[3]))] = tuple(float(v) for v in r[4:9])
    return out


def resample_1h(expected: dict, lo_ms: int, hi_ms: int) -> pd.DataFrame:
    """1h OHLCV bars from the expected 15m candles with lo <= ts < hi,
    per (symbol, exchange): open = first, close = last by time."""
    rows = [
        (k[0], k[2], k[3], *v)
        for k, v in expected.items()
        if k[1] == "15m" and lo_ms <= k[3] < hi_ms
    ]
    df = pd.DataFrame(rows, columns=["symbol", "exchange", "ts", "open", "high", "low", "close", "volume"])
    df["bucket_ms"] = df["ts"] // 3_600_000 * 3_600_000
    df = df.sort_values("ts")
    g = df.groupby(["symbol", "exchange", "bucket_ms"], sort=True)
    return g.agg(
        open=("open", "first"),
        high=("high", "max"),
        low=("low", "min"),
        close=("close", "last"),
        volume=("volume", "sum"),
        n_rows=("ts", "size"),
    ).reset_index()


def bars_equal(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal; else a one-line description of the first
    difference.  Prices must match exactly, volume sums to 1e-9
    relative (the engine may add in another order)."""
    keys = ["symbol", "exchange", "bucket_ms"]
    got = got.sort_values(keys).reset_index(drop=True)
    want = want.sort_values(keys).reset_index(drop=True)
    if len(got) != len(want):
        return f"{len(got)} bars, expected {len(want)}"
    for c in keys + ["open", "high", "low", "close", "n_rows"]:
        if not (got[c].to_numpy() == want[c].to_numpy()).all():
            return f"column {c} differs"
    if not np.allclose(got["volume"], want["volume"], rtol=1e-9, atol=0):
        return "volume differs"
    return None


# ------------------------------------------------------------------ curate

_WORD = re.compile(r"[A-Za-z0-9]+")
_PUNCT = re.compile(r"[^A-Za-z0-9\s]")
_STOP = re.compile(r"\b(the|a|of|and|in|to|is|it|on|for)\b")


def quality(text: str) -> float:
    """``functions.text.quality_score``'s formula, in the same double
    operations and order."""
    n = float(len(text))
    wc = float(len(_WORD.findall(text)))
    sw = float(len(_STOP.findall(text.lower())))
    pc = float(len(_PUNCT.findall(text)))
    length_c = min(n / 200.0, 1.0) * 0.4
    stop_c = min(sw / max(wc, 1.0) * 5.0, 1.0) * 0.3
    word_c = min(wc / 40.0, 1.0) * 0.3
    punct = min(pc / max(n, 1.0) * 2.0, 0.5)
    return max(length_c + stop_c + word_c - punct, 0.0)


def word_ngrams(text: str, n: int) -> set[str]:
    w = _WORD.findall(text)
    if len(w) < n:
        return {" ".join(w)}
    return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}


def simhash60(text: str) -> int:
    """60-bit SimHash over word tokens: per-token hash = first 15 hex
    digits of md5, bit j set when more than half of the token instances
    have it."""
    toks = _WORD.findall(text)[:65535]
    votes = [0] * 60
    for tok, c in Counter(toks).items():
        h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
        for j in range(60):
            if (h >> j) & 1:
                votes[j] += c
    return sum(1 << j for j in range(60) if votes[j] * 2 > len(toks))


def _popcount64(x: np.ndarray) -> np.ndarray:
    x = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
    x = (x & np.uint64(0x3333333333333333)) + ((x >> np.uint64(2)) & np.uint64(0x3333333333333333))
    x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    return (x * np.uint64(0x0101010101010101)) >> np.uint64(56)


def near_dup_components(ids: list[int], fps: list[int], max_hamming: int) -> dict[int, int]:
    """doc id → smallest id of its component under the edge relation
    hamming(simhash) <= max_hamming (union-find over all pairs)."""
    parent = {i: i for i in ids}

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    arr = np.array(fps, dtype=np.uint64)
    idx = np.array(ids, dtype=np.int64)
    for s in range(0, len(arr), 512):
        d = _popcount64(arr[s : s + 512, None] ^ arr[None, :])
        for a, b in zip(*np.nonzero(d <= max_hamming)):
            ia, ib = int(idx[s + a]), int(idx[b])
            if ia < ib:
                ra, rb = find(ia), find(ib)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def curated_ids(docs: list[dict], benchmark: list[dict], quality_min: float,
                decontam_n: int, max_hamming: int = 3) -> set[int]:
    """The doc ids ``pipelines.curate_and_shard`` keeps: not sharing a
    word n-gram with the benchmark, quality >= quality_min, the smallest
    id among identical texts, and the smallest id of its SimHash
    near-duplicate component."""
    bench = set()
    for b in benchmark:
        bench |= word_ngrams(b["text"], decontam_n)
    clean = [d for d in docs if not (word_ngrams(d["text"], decontam_n) & bench)]
    good = [d for d in clean if quality(d["text"]) >= quality_min]
    first: dict[str, int] = {}
    for d in good:
        first[d["text"]] = min(first.get(d["text"], math.inf), d["doc_id"])
    survivors = [d for d in good if first[d["text"]] == d["doc_id"]]
    comp = near_dup_components(
        [d["doc_id"] for d in survivors],
        [simhash60(d["text"]) for d in survivors],
        max_hamming,
    )
    return {i for i, c in comp.items() if i == c}


# ------------------------------------------------------------------ search


def cosine_topk(corpus: np.ndarray, queries: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Brute-force cosine top-k: (ids[q, k], cosines[q, k]) ordered by
    (cosine desc, id asc)."""
    c = corpus.astype(np.float64)
    q = queries.astype(np.float64)
    sims = (q @ c.T) / (np.linalg.norm(q, axis=1)[:, None] * np.linalg.norm(c, axis=1)[None, :])
    ids = np.empty((len(q), k), dtype=np.int64)
    cos = np.empty((len(q), k))
    for i, row in enumerate(sims):
        order = np.lexsort((np.arange(len(row)), -row))[:k]
        ids[i], cos[i] = order, row[order]
    return ids, cos
