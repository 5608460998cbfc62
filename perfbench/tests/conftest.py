"""Make the benchmark modules and the program importable from the tests:
``python3 -m pytest perfbench/tests`` from the repository root."""

import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent.parent
for p in (BENCH, BENCH.parent):
    if str(p) not in sys.path:
        sys.path.insert(0, str(p))
