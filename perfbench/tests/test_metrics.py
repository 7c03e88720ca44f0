"""Metric names: well-formed, and the ones BENCHMARK.json declares are
the ones the result line carries."""

from __future__ import annotations

import json
import re
from pathlib import Path

from perfbench import run

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
BENCHMARK = json.loads((Path(run.ROOT) / "BENCHMARK.json").read_text())


def test_declared_names_are_well_formed():
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in BENCHMARK[key]]
    names += [w["name"] for w in BENCHMARK["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) for n in names)


def test_declared_metrics_match_the_result_line():
    e2e = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    assert e2e == run.E2E_UNITS
    layers = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    assert layers == {"session.get_spark_s": "s"} | {f"op.{k}": u for k, u in run.LAYER_UNITS.items()}


def test_named_detail_metrics_are_well_formed():
    from perfbench.workloads import FAMILIES, FAMILY_FIELDS
    from perfbench.tracing import PHASES

    names = [f"{f}.{k}" for f in FAMILIES for k in FAMILY_FIELDS]
    names += [f"stream.dedup.{p}_ms" for p in PHASES]
    assert all(NAME.fullmatch(n) for n in names)
