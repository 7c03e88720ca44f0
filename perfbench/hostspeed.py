"""The host's speed during a run, from a child process that times a fixed
pure-Python loop four times a second.

The host the benchmark runs on is shared, and its speed drifts by up to
1.7x within minutes: in one ten-seed set of ``stream_then_query_mix``
runs, JVM start went from 9.2 s to 4.6 s and the operation from 53 s to
31 s, and this loop from 0.095 s to 0.058 s. Timings taken a few seconds
apart, before and after an operation, missed load that came and went
inside it. So the loop runs for the whole run, in its own process (it
holds no lock the run needs, and uses no package code), and the gated
times are scaled to a reference host: measured × ``REF_S`` ÷ the median
loop time over the same interval. The sampler asks for real-time
scheduling (else the highest nice priority), so the run's own threads do
not stretch its loops: what slows them is the host, which is what the
scale is for. It costs about 5 % of one core.

    python3 perfbench/hostspeed.py <out-file>   (started by ``Sampler``)
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time

LOOPS = 200_000
PERIOD_S = 0.25
# the median time of 1M loop iterations on an idle core of the 4-core
# host the bounds were set on
REF_S = 0.06


def loop_s() -> float:
    """One timed loop, as the time 1M iterations would take."""
    t0, acc = time.perf_counter(), 0
    for i in range(LOOPS):
        acc += i * i
    return (time.perf_counter() - t0) * 1_000_000 / LOOPS


def prioritise() -> str:
    """Run this process ahead of the benchmarked ones, as far as the
    host allows; returns the policy it got."""
    try:
        os.sched_setscheduler(0, os.SCHED_FIFO, os.sched_param(1))
        return "fifo"
    except (AttributeError, OSError):
        pass
    try:
        os.setpriority(os.PRIO_PROCESS, 0, -20)
        return "nice-20"
    except OSError:
        return "default"


def sample(out: str) -> None:
    """Write the scheduling policy, then append ``<epoch s> <loop s>``
    lines to ``out`` until the parent process exits or stops this one."""
    parent = os.getppid()
    with open(out, "w") as f:
        f.write(f"# {prioritise()}\n")
        while os.getppid() == parent:
            dt = loop_s()
            f.write(f"{time.time():.4f} {dt:.6f}\n")
            f.flush()
            time.sleep(PERIOD_S)


class Sampler:
    def __init__(self, out: str):
        self.out = out
        self.proc = subprocess.Popen([sys.executable, os.path.abspath(__file__), out])
        self.samples: list[tuple[float, float]] = []
        self.policy = ""

    def stop(self) -> list[tuple[float, float]]:
        """Stop the child, wait for it, and return its ``(epoch s, loop s)``
        samples. Safe to call more than once."""
        if self.proc.returncode is None:
            self.proc.terminate()
            self.proc.wait()
            if os.path.exists(self.out):
                with open(self.out) as f:
                    lines = [line for line in f if line.endswith("\n")]
                if lines and lines[0].startswith("#"):
                    self.policy = lines.pop(0)[1:].strip()
                self.samples = [(float(t), float(dt)) for t, dt in map(str.split, lines)]
        return self.samples

    def scale(self, t0: float, t1: float) -> float:
        """``REF_S`` ÷ the median loop time between epoch seconds ``t0``
        and ``t1`` (of all samples when fewer than three fall inside)."""
        inside = [dt for t, dt in self.samples if t0 <= t <= t1]
        if len(inside) < 3:
            inside = [dt for _, dt in self.samples]
        return REF_S / statistics.median(inside)


if __name__ == "__main__":
    sample(sys.argv[1])
