"""tools/profiler.py: the report it builds from an event log, its loud
argument errors, and one end-to-end run on the smoke SF."""

from __future__ import annotations

import importlib.util
import json
import os
import pathlib
import subprocess
import sys

import pytest
from conftest import SF_SMOKE

from perfbench.tracing import EventLog, Span, Tracer

REPO = pathlib.Path(__file__).resolve().parents[1]
spec = importlib.util.spec_from_file_location("profile_tool", REPO / "tools" / "profiler.py")
profile_tool = importlib.util.module_from_spec(spec)
spec.loader.exec_module(profile_tool)

TINY_LOG = REPO / "perfbench" / "tests" / "data" / "tiny_eventlog.json"
PYTHON_STAGE = REPO / "tests" / "data" / "python_stage_completed.json"


def _span(sid, t0, t1, i):
    return Span(sid, "q", t0, t1, attrs={"sf": 0.001, "sf_dir": "d", "variant": None, "pass_": i})


def test_report_layers_python_line_and_batches():
    with open(TINY_LOG, encoding="utf-8") as f:
        log = EventLog(f)
    with open(PYTHON_STAGE, encoding="utf-8") as f:
        py_stages = profile_tool.python_by_stage(f)
    tracer = Tracer()
    # pass 0 gets job 0 by its group (perfbench-1) and job 1 by time;
    # pass 1 gets job 2 by time (its group is not the tracer's)
    tracer.spans = [_span(0, 2.4, 2.7, 1), _span(1, 0.9, 2.0, 0)]
    batches = [{"name": "s", "batch_id": 0, "rows": 3, "t0": 1.0, "ms": {"addBatch": 7}},
               {"name": "s", "batch_id": 1, "rows": 2, "t0": 2.5, "ms": {"addBatch": 5}}]
    [row] = profile_tool.report(log, py_stages, tracer, batches)
    p1, p0 = row["passes"]
    assert p0["layers"] == log.span_metrics(tracer, tracer.spans[1])
    assert (p0["layers"]["jobs"], p1["layers"]["jobs"]) == (2, 1)
    assert p0["python_arrow"] == (
        {"start_ms": 100, "init_ms": 50, "run_ms": 400, "sent_bytes": 1000, "returned_bytes": 800})
    assert set(p1["python_arrow"].values()) == {0}
    assert p0["batches"] == [{"name": "s", "batch_id": 0, "rows": 3, "addBatch": 7}]
    assert [b["batch_id"] for b in p1["batches"]] == [1]
    assert row["best_wall_s"] == pytest.approx(0.3)
    assert row["median_wall_s"] == pytest.approx(0.7)


@pytest.mark.parametrize("argv", [
    ["q1_pricing_summary", "--passes"],
    ["no_such_query"],
    ["q1_pricing_summary", "--ab", "SPARK_GRAFT_ITER_PARTITIONS"],
    ["q1_pricing_summary", "--ab", "SPARK_GRAFT_ITER_PARTITIONS=5"],
    ["q1_pricing_summary", "--passes", "0"],
])
def test_bad_arguments_are_usage_errors(argv):
    with pytest.raises(SystemExit) as exc_info:
        profile_tool.parse_args(argv + ["--sf", SF_SMOKE])
    assert exc_info.value.code == 2


def test_profiles_batch_and_streaming_query(tmp_path):
    subprocess.run(
        [sys.executable, str(REPO / "tools" / "profiler.py"), "q1_pricing_summary",
         "streaming_window_counts", "--sf", SF_SMOKE, "--passes", "1", "--tag", "smoke"],
        cwd=tmp_path, check=True, capture_output=True, env=os.environ | {"SPARK_GRAFT_CPUS": "2"},
    )
    out = json.loads((tmp_path / "PROFILE_smoke.json").read_text())
    assert {"cpus", "sf", "spark", "git"} <= set(out["host"])
    rows = {r["query"]: r for r in out["profiles"]}
    assert set(rows) == {"q1_pricing_summary", "streaming_window_counts"}
    for r in rows.values():
        assert r["sf"] == 0.001 and len(r["passes"]) == 1
        assert {"wall_s", "driver_gap_s", "jobs", "shuffle_write_bytes", "files_written"} <= set(
            r["passes"][0]["layers"])
        assert set(r["passes"][0]["python_arrow"]) == set(profile_tool.PYTHON_ACCUMS.values())
    [batch, *_] = rows["streaming_window_counts"]["passes"][0]["batches"]
    assert batch["rows"] > 0 and "addBatch" in batch
