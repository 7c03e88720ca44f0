"""The host-speed sampler: it records samples, stops when asked, and
scales by the median loop time of the requested interval."""

from __future__ import annotations

import time

from perfbench import hostspeed


def test_sampler_records_and_stops(tmp_path):
    s = hostspeed.Sampler(str(tmp_path / "samples.txt"))
    time.sleep(1.2)
    samples = s.stop()
    assert s.proc.returncode is not None
    assert s.policy in ("fifo", "nice-20", "default")
    assert len(samples) >= 3
    assert all(dt > 0 for _, dt in samples)
    assert s.stop() == samples


def test_scale_uses_the_interval(tmp_path):
    s = hostspeed.Sampler(str(tmp_path / "samples.txt"))
    s.stop()
    s.samples = [(float(t), 0.06 if t < 10 else 0.12) for t in range(20)]
    assert s.scale(0, 9) == 1.0
    assert s.scale(10, 19) == 0.5
    assert s.scale(100, 101) == hostspeed.REF_S / 0.09  # too few inside: all samples
