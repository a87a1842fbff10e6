"""Recording adapter: logs every fetch call the program makes.

The wrapper runs inside executor Python workers, so each worker process
appends JSON lines to its own file under ``log_dir`` (no cross-process
locking needed); the benchmark process reads the directory afterwards.
A failing call is logged and re-raised, so ``sources.fetch`` still
quarantines it.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict


class RecordingAdapter:
    def __init__(self, inner, log_dir: str):
        self.inner = inner
        self.log_dir = log_dir

    def __call__(self, exchange, symbol, interval, start_ms, end_ms, limit):
        t0 = time.perf_counter()
        page, error = None, None
        try:
            page = self.inner(exchange, symbol, interval, start_ms, end_ms, limit)
            return page
        except Exception as e:
            error = f"{type(e).__name__}: {e}"
            raise
        finally:
            rec = {
                "venue": exchange,
                "symbol": symbol,
                "interval": interval,
                "start": int(start_ms),
                "end": int(end_ms),
                "candles": len(page) if page is not None else 0,
                "error": error,
                "busy_s": time.perf_counter() - t0,
            }
            os.makedirs(self.log_dir, exist_ok=True)
            path = os.path.join(self.log_dir, f"fetch-{os.getpid()}.jsonl")
            with open(path, "a", encoding="utf-8") as f:
                f.write(json.dumps(rec) + "\n")


def read_log(log_dir: str) -> list[dict]:
    """Every call recorded under ``log_dir``."""
    out: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "fetch-*.jsonl"))):
        with open(path, encoding="utf-8") as f:
            out.extend(json.loads(line) for line in f if line.strip())
    return out


def pages(calls: list[dict]) -> dict[tuple, list[dict]]:
    """Distinct pages (venue, symbol, interval, start, end) → the calls
    that fetched them.  A lazy plan evaluated twice calls the adapter
    twice for the same page."""
    out = defaultdict(list)
    for c in calls:
        out[(c["venue"], c["symbol"], c["interval"], c["start"], c["end"])].append(c)
    return out
