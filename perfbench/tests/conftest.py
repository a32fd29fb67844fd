from __future__ import annotations

import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
for p in (HERE.parent, HERE):
    if str(p) not in sys.path:
        sys.path.insert(0, str(p))
