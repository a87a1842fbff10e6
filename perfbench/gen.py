"""Seeded input generators for the benchmark.

Everything here is a pure function of ``seed`` (plus a size), uses only
the standard library and numpy, and never touches Spark: the program under
test receives only what these functions return.  The same seed gives the
same inputs on every machine (``random.Random`` and ``numpy``'s
``RandomState`` are stable across platforms).

``RevisedAdapter`` is the one piece that runs inside the program (it is
shipped to executor Python workers), so it keeps no state beyond its
constructor arguments.
"""

from __future__ import annotations

import random
import zlib

import numpy as np

DAY_MS = 86_400_000
MIN15_MS = 900_000

#: Fixed end of the historical range (2024-01-01T00:00Z, a UTC day
#: boundary, so the 1d gate of the live loop opens at whole days after it).
END_MS = 1_704_067_200_000

#: Intervals the backfill plans, as in ``sources.venues.CANDLES_PER_DAY``.
INTERVALS = ("15m", "1h", "4h", "6h", "1d")

_BASES = (
    "BTC", "ETH", "SOL", "ADA", "XRP", "DOT", "LTC", "AVAX", "LINK", "ATOM",
    "UNI", "XLM", "ALGO", "FIL", "NEAR", "APT", "ARB", "OP", "AAVE", "MKR",
)


def symbols(seed: int, n: int) -> list[str]:
    """``n`` distinct ``BASE-USDT`` symbols.  BTC is excluded: Binance.US
    lists BTC-USDT only from 2020, and the availability clamp is not what
    these workloads measure."""
    pool = [b for b in _BASES if b != "BTC"]
    return [f"{b}-USDT" for b in random.Random(seed).sample(pool, n)]


class RevisedAdapter:
    """Wraps an exchange adapter and re-delivers its candles with revised
    values: a venue correcting bars it already published.

    Every OHLC value is shifted by ``+delta`` and the volume scaled, where
    ``delta`` is derived from ``(seed, revision, exchange, symbol, ts)``,
    so a revision differs from the original on every candle and from
    every other revision.
    """

    def __init__(self, inner, seed: int, revision: int):
        self.inner = inner
        self.seed = seed
        self.revision = revision

    def __call__(self, exchange, symbol, interval, start_ms, end_ms, limit):
        page = self.inner(exchange, symbol, interval, start_ms, end_ms, limit)
        out = []
        for k in page:
            h = zlib.crc32(
                f"{self.seed}|{self.revision}|{exchange}|{symbol}|{k[0]}".encode()
            )
            delta = 0.25 + (h % 1000) / 100.0
            o, hi, lo, c = (float(v) + delta for v in k[1:5])
            vol = float(k[5]) * (1.0 + (h % 7 + 1) / 10.0)
            out.append([k[0], str(o), str(hi), str(lo), str(c), str(vol)])
        return out


# --------------------------------------------------------------------------
# curate corpus

_STOPWORDS = ("the", "a", "of", "and", "in", "to", "is", "it", "on", "for")
_SYLLABLES = (
    "ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "ze", "ba", "co", "di",
    "fu", "ga", "he", "ji", "ku", "le", "mo", "nu", "pa", "qi", "re", "su",
)


def _vocabulary(rng: random.Random, size: int) -> list[str]:
    words: set[str] = set()
    while len(words) < size:
        words.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def _sentence(rng: random.Random, vocab: list[str], n_words: int) -> list[str]:
    # one word in eight is a stopword, so quality_score sees natural text
    return [
        rng.choice(_STOPWORDS) if rng.random() < 0.125 else rng.choice(vocab)
        for _ in range(n_words)
    ]


def curate_corpus(seed: int, n_base: int) -> dict:
    """A documents-table-shaped corpus with planted structure.

    Returns ``docs`` (list of dicts: doc_id, text, lang, source, n_chars),
    ``benchmark`` (list of dicts: doc_id, text) and ``planted``: the
    groups the pipeline must collapse (``exact`` copies, word-swap
    ``near`` duplicates), the ids carrying a benchmark passage
    (``contaminated``) and the ids built to fail the quality gate
    (``low_quality``).  Shares of ``n_base``: 10 % exact copies, 10 %
    near duplicates, 5 % contaminated, 5 % low quality.
    """
    rng = random.Random(seed * 7919 + 1)
    vocab = _vocabulary(rng, 3000)
    langs = ("en", "de", "fr", "es", "zh")

    benchmark = [
        {"doc_id": 1_000_000 + i, "text": " ".join(_sentence(rng, vocab, 40))}
        for i in range(40)
    ]

    docs: list[dict] = []

    def add(text: str) -> int:
        did = len(docs)
        docs.append(
            {
                "doc_id": did,
                "text": text,
                "lang": langs[did % len(langs)],
                "source": f"src{did % 20}",
                "n_chars": len(text),
            }
        )
        return did

    base_ids = [add(" ".join(_sentence(rng, vocab, rng.randint(45, 90)))) for _ in range(n_base)]

    exact_groups: list[list[int]] = []
    for src in rng.sample(base_ids, n_base // 10 // 2):
        exact_groups.append([src, add(docs[src]["text"]), add(docs[src]["text"])])

    near_groups: list[list[int]] = []
    taken = {i for g in exact_groups for i in g}
    free = [i for i in base_ids if i not in taken]
    for src in rng.sample(free, n_base // 10 // 2):
        group = [src]
        for _ in range(2):
            toks = docs[src]["text"].split(" ")
            # adjacent swaps keep the bag of words, so the SimHash of the
            # edit equals the original's while the text (and its n-grams)
            # differ: a guaranteed near-duplicate that exact dedup misses
            for _ in range(3):
                j = rng.randrange(len(toks) - 1)
                toks[j], toks[j + 1] = toks[j + 1], toks[j]
            group.append(add(" ".join(toks)))
        near_groups.append(group)

    contaminated: list[int] = []
    for _ in range(n_base // 20):
        b = rng.choice(benchmark)["text"].split(" ")
        j = rng.randrange(len(b) - 8)
        body = _sentence(rng, vocab, rng.randint(40, 70))
        k = rng.randrange(len(body))
        contaminated.append(add(" ".join(body[:k] + b[j : j + 8] + body[k:])))

    low_quality: list[int] = []
    for _ in range(n_base // 20):
        low_quality.append(add("!! " + " ".join(rng.choice(vocab) for _ in range(5)) + " ??"))

    return {
        "docs": docs,
        "benchmark": benchmark,
        "planted": {
            "exact": exact_groups,
            "near": near_groups,
            "contaminated": contaminated,
            "low_quality": low_quality,
        },
    }


# --------------------------------------------------------------------------
# embeddings for the search layer


def embeddings(
    seed: int, n_corpus: int, n_queries: int, dim: int = 32, n_clusters: int = 16
) -> tuple[np.ndarray, np.ndarray]:
    """Clustered float32 corpus and query vectors (queries are drawn from
    the same mixture, so IVF probing has real structure to exploit).
    Corpus ids are ``0..n_corpus-1``; query ids start at 10**6 so no query
    is excluded as its own neighbour."""
    rs = np.random.RandomState(seed)
    centers = rs.normal(size=(n_clusters, dim))

    def draw(n: int) -> np.ndarray:
        lab = rs.randint(0, n_clusters, size=n)
        return (centers[lab] + 0.35 * rs.normal(size=(n, dim))).astype(np.float32)

    return draw(n_corpus), draw(n_queries)


QUERY_ID_BASE = 1_000_000
