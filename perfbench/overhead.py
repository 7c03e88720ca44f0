"""Tracing overhead: run one workload and seed untraced, then traced,
and print traced − untraced for every named end-to-end metric, with the
traced run's per-layer table.

    python3 perfbench/overhead.py --workload <name> --seed <n> --seconds <s>
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def detail(workload: str, seed: int, seconds: float, trace: int) -> dict:
    """The run's detail line."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True)
    return json.loads(p.stdout.strip().splitlines()[-2])


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    a = p.parse_args()
    off = detail(a.workload, a.seed, a.seconds, 0)["end_to_end"]
    traced = detail(a.workload, a.seed, a.seconds, 1)
    on = traced["end_to_end"]
    out = {}
    for name, m in off.items():
        if isinstance(m["value"], (int, float)) and isinstance(on[name]["value"], (int, float)):
            out[name] = {"untraced": m["value"], "traced": on[name]["value"],
                         "overhead": on[name]["value"] - m["value"], "unit": m["unit"]}
    print(json.dumps({"workload": a.workload, "seed": a.seed, "overhead": out,
                      "layers": traced["layers"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
