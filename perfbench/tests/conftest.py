from __future__ import annotations

import sys
from pathlib import Path

# the benchmark imports perfbench, tools and the package from the checkout root
sys.path.insert(0, str(Path(__file__).resolve().parents[2]))
