"""The benchmark's own tests: `python3 -m pytest perfbench/tests` from the
repository root. Puts the benchmark modules and the engine on sys.path."""

import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
for p in (HERE.parent, HERE.parent.parent):
    if str(p) not in sys.path:
        sys.path.insert(0, str(p))
