"""Event-log attribution on a tiny hand-checked log."""

from __future__ import annotations

import os

import pytest

from perfbench.tracing import EventLog, Span, Tracer, _union_ms, tail

LOG = os.path.join(os.path.dirname(__file__), "data", "tiny_eventlog.json")


@pytest.fixture
def traced():
    with open(LOG, encoding="utf-8") as f:
        log = EventLog(f)
    tracer = Tracer()
    tracer.spans = [Span(0, "op", 0.9, 2.0), Span(1, "sink.upsert_gold", 0.95, 1.45, parent=0)]
    return log, tracer


def test_jobs_attributed_by_group_then_time(traced):
    log, tracer = traced
    outer, inner = tracer.spans
    assert [j.jid for j in log.jobs_in(tracer, inner)] == [0]
    # job 1 has no group and starts inside the outer span; job 2 belongs
    # to a group this tracer never set and starts after it
    assert sorted(j.jid for j in log.jobs_in(tracer, outer)) == [0, 1]


def test_span_metrics(traced):
    log, tracer = traced
    m = log.span_metrics(tracer, tracer.spans[0])
    assert m["wall_s"] == pytest.approx(1.1)
    assert (m["jobs"], m["stages"], m["tasks"]) == (2, 3, 4)
    assert m["executor_run_s"] == pytest.approx(0.38)
    assert m["executor_cpu_s"] == pytest.approx(0.135)
    assert m["gc_s"] == pytest.approx(0.005)
    assert (m["shuffle_read_bytes"], m["shuffle_write_bytes"], m["spill_bytes"]) == (500, 500, 7)
    assert (m["input_bytes"], m["output_bytes"], m["files_written"]) == (1500, 2048, 2)
    # 1.1 s span minus the 0.4 s and 0.1 s job intervals
    assert m["driver_gap_s"] == pytest.approx(0.6)


def test_sql_metrics_and_scans(traced):
    log, tracer = traced
    jobs = log.jobs_in(tracer, tracer.spans[1])
    assert log.sql_metric(jobs, "number of files read") == 1
    assert log.sql_metric(jobs, "written output") == 2048
    assert log.scans_of(jobs, "day_001.parquet") == 1
    assert log.scans_of(jobs, "day_002.parquet") == 0


def test_from_dir_requires_one_log(tmp_path):
    with pytest.raises(ValueError):
        EventLog.from_dir(str(tmp_path))


def test_union_and_tail():
    assert _union_ms([(0, 10), (5, 20), (30, 40)]) == 30
    assert tail(range(10))["value"] is None
    t = tail(range(100))
    assert (t["value"], t["percentile"], t["samples"]) == (89, 90.0, 100)
