"""Small-scale runs of the benchmark's workloads.

Run with ``python3 -m pytest perfbench/tests -q`` from the repository
root.  The workloads run in this process at reduced sizes (one set-up,
no timed window beyond the minimum iterations).
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
