"""Every workload completes at a tiny size with its checks passing, and
prints the declared metrics (one workload also traced)."""

from __future__ import annotations

import json
import subprocess
import sys

import pytest

from perfbench import run
from perfbench.workloads import store_mismatch

CASES = [("posts_daily_upsert", 0), ("corpus_query_mix", 0), ("stream_store_ingest", 0),
         ("posts_daily_upsert", 1), ("stream_then_query_mix", 1)]


@pytest.mark.parametrize("workload,trace", CASES)
def test_workload_completes_tiny(workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=run.ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    detail, result = (json.loads(line) for line in p.stdout.strip().splitlines()[-2:])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    want = run.E2E_UNITS if trace == 0 else {"session.get_spark_s": "s"} | {
        f"op.{k}": u for k, u in run.LAYER_UNITS.items()}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v == "ok" for v in detail["checks"].values())
    assert detail["end_to_end"]["failed_op_ratio"]["value"] == 0
    if workload == "posts_daily_upsert" and trace:
        assert detail["layers"]["jobs.run_incremental.raw_scans"] >= 1
    if workload == "stream_then_query_mix":
        assert detail["layers"]["stream.srp.addBatch_ms"] > 0
        assert detail["layers"]["maintenance.compact.files_before"] >= 1
        assert detail["layers"]["dedup.jobs"] >= 1


def test_store_check_requires_exactly_the_survivors():
    planted = {3, 7}
    survivors = [i for i in range(10) if i not in planted]
    assert store_mismatch(survivors, 10, planted) is None
    assert "1 survivors missing" in store_mismatch(survivors[1:], 10, planted)
    assert store_mismatch([], 10, planted) is not None
    assert "1 ids kept" in store_mismatch(survivors + [3], 10, planted)
    assert store_mismatch(survivors + survivors[:1], 10, planted) == "an id was appended twice"
