"""Tracing for the per-layer metrics.

Three sources, all driven from benchmark code (the package is not edited):

* ``Tracer`` records spans around calls into the package — around the
  benchmark's own calls, and around public functions replaced at their
  module attribute for the length of a run (``Tracer.wrap``). Each span
  runs under its own Spark job group.
* ``EventLog`` parses Spark's JSON event log (written uncompressed and
  not rolling, see ``run.configure_env``) and attributes jobs, stages,
  task metrics and SQL metrics to spans: by job group, else by time.
* ``StreamProgress`` is a ``StreamingQueryListener`` that keeps every
  micro-batch's ``durationMs`` phases.

A span's ``driver_gap_s`` is its wall time minus the union of the Spark
job intervals inside it: planning, py4j round trips and Python loops.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import glob
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    t0: float
    t1: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-{self.sid}"

    @property
    def wall_s(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Span recorder. Spans nest per thread (a streaming ``foreachBatch``
    callback runs on its own thread); each span sets the Spark job group
    for its duration and restores the enclosing one on exit."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        with self._lock:
            s = Span(len(self.spans), name, time.time(),
                     parent=stack[-1].sid if stack else None, attrs=attrs)
            self.spans.append(s)
        prev = self.sc.getLocalProperty("spark.jobGroup.id") if self.sc else None
        if self.sc:
            self.sc.setJobGroup(s.group, name)
        stack.append(s)
        try:
            yield s
        finally:
            s.t1 = time.time()
            stack.pop()
            if self.sc:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` with a spanned call until ``unwrap``.
        ``before(args, kwargs) -> dict`` and ``after(state, result) -> dict``
        add attributes measured outside Spark (e.g. file counts)."""
        fn = getattr(owner, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            state = before(args, kwargs) if before else {}
            with tracer.span(name) as s:
                out = fn(*args, **kwargs)
            s.attrs.update(state)
            if after:
                s.attrs.update(after(state, out))
            return out

        self._patches.append((owner, attr, fn))
        setattr(owner, attr, wrapped)

    def unwrap(self) -> None:
        while self._patches:
            owner, attr, fn = self._patches.pop()
            setattr(owner, attr, fn)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def descendants(self, span: Span) -> set[int]:
        out, frontier = {span.sid}, [span.sid]
        while frontier:
            kids = [s.sid for s in self.spans if s.parent in frontier]
            out.update(kids)
            frontier = kids
        return out


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


@dataclass
class _Job:
    jid: int
    t0: float
    t1: float
    group: str | None
    execution: int | None
    stages: list[int]


TASK_FIELDS = ("run_ms", "cpu_ns", "gc_ms", "shuffle_read", "shuffle_write",
               "spill", "input_bytes", "output_bytes", "tasks")


class EventLog:
    """The parts of a Spark event log the per-layer metrics need."""

    def __init__(self, lines):
        self.jobs: dict[int, _Job] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_tasks: dict[int, dict] = {}
        self.executions: dict[int, dict] = {}
        self.metric_names: dict[int, str] = {}
        self.driver_accums: dict[int, dict[int, int]] = {}
        for line in lines:
            line = line.strip()
            if not line:
                continue
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                ex = props.get("spark.sql.execution.id")
                self.jobs[ev["Job ID"]] = _Job(
                    ev["Job ID"], ev["Submission Time"], ev["Submission Time"],
                    props.get("spark.jobGroup.id"), int(ex) if ex is not None else None,
                    list(ev.get("Stage IDs", [])),
                )
                for sid in ev.get("Stage IDs", []):
                    self.stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerJobEnd":
                job = self.jobs.get(ev["Job ID"])
                if job is not None:
                    job.t1 = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                acc = self.stage_tasks.setdefault(ev["Stage ID"], dict.fromkeys(TASK_FIELDS, 0))
                sr = m.get("Shuffle Read Metrics") or {}
                acc["tasks"] += 1
                acc["run_ms"] += m.get("Executor Run Time", 0)
                acc["cpu_ns"] += m.get("Executor CPU Time", 0)
                acc["gc_ms"] += m.get("JVM GC Time", 0)
                acc["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                acc["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                acc["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                acc["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                acc["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                self.executions[ev["executionId"]] = {"time": ev.get("time", 0),
                                                      "plan": ev.get("sparkPlanInfo") or {}}
                self._collect_metrics(ev.get("sparkPlanInfo") or {})
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                self._collect_metrics(ev.get("sparkPlanInfo") or {})
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                acc = self.driver_accums.setdefault(ev["executionId"], {})
                for aid, value in ev.get("accumUpdates", []):
                    acc[aid] = acc.get(aid, 0) + value

    @classmethod
    def from_dir(cls, log_dir: str) -> "EventLog":
        files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
        if len(files) != 1:
            raise ValueError(f"expected one event log in {log_dir}, found {files}")
        with open(files[0], encoding="utf-8") as f:
            return cls(f)

    def _collect_metrics(self, node: dict) -> None:
        for m in node.get("metrics", []):
            self.metric_names[m["accumulatorId"]] = m["name"]
        for child in node.get("children", []):
            self._collect_metrics(child)

    # -- attribution -------------------------------------------------------

    def jobs_in(self, tracer: Tracer, span: Span) -> list[_Job]:
        """Jobs run under ``span`` or a span nested in it: matched by job
        group, and by submission time for jobs that carry no group of
        this tracer (e.g. jobs of a stream started before the span)."""
        sids = tracer.descendants(span)
        groups = {tracer.spans[i].group for i in sids}
        known = {s.group for s in tracer.spans}
        t0, t1 = span.t0 * 1000, span.t1 * 1000
        return [j for j in self.jobs.values()
                if j.group in groups or (j.group not in known and t0 <= j.t0 <= t1)]

    def jobs_between(self, t0_ms: float, t1_ms: float) -> list[_Job]:
        return [j for j in self.jobs.values() if t0_ms <= j.t0 <= t1_ms]

    def task_totals(self, jobs: list[_Job]) -> dict:
        jids = {j.jid for j in jobs}
        out = dict.fromkeys(TASK_FIELDS, 0)
        out["stages"] = 0
        for sid, acc in self.stage_tasks.items():
            if self.stage_job.get(sid) in jids:
                out["stages"] += 1
                for k in TASK_FIELDS:
                    out[k] += acc[k]
        return out

    def sql_metric(self, jobs: list[_Job], name: str, reduce=sum) -> int:
        """A driver-side SQL metric (e.g. ``number of written files``)
        summed (or ``reduce``d) over the SQL executions of ``jobs``."""
        values = []
        for ex in {j.execution for j in jobs if j.execution is not None}:
            for aid, v in self.driver_accums.get(ex, {}).items():
                if self.metric_names.get(aid) == name:
                    values.append(v)
        return reduce(values) if values else 0

    def scans_of(self, jobs: list[_Job], path_part: str) -> int:
        """File-scan nodes reading a path that contains ``path_part``,
        over the SQL executions of ``jobs`` (as first planned)."""
        def count(node: dict) -> int:
            loc = (node.get("metadata") or {}).get("Location", "")
            own = int(node.get("nodeName", "").startswith("Scan") and path_part in loc)
            return own + sum(count(c) for c in node.get("children", []))

        return sum(count(self.executions[ex]["plan"])
                   for ex in {j.execution for j in jobs if j.execution is not None}
                   if ex in self.executions)

    def span_metrics(self, tracer: Tracer, span: Span) -> dict:
        jobs = self.jobs_in(tracer, span)
        return self.window_metrics(jobs, span.t0 * 1000, span.t1 * 1000)

    def window_metrics(self, jobs: list[_Job], t0_ms: float, t1_ms: float) -> dict:
        tot = self.task_totals(jobs)
        busy = _union_ms([(max(j.t0, t0_ms), min(j.t1, t1_ms)) for j in jobs if j.t1 > j.t0])
        return {
            "wall_s": (t1_ms - t0_ms) / 1000,
            "jobs": len(jobs),
            "stages": tot["stages"],
            "tasks": tot["tasks"],
            "executor_run_s": tot["run_ms"] / 1000,
            "executor_cpu_s": tot["cpu_ns"] / 1e9,
            "gc_s": tot["gc_ms"] / 1000,
            "shuffle_read_bytes": tot["shuffle_read"],
            "shuffle_write_bytes": tot["shuffle_write"],
            "spill_bytes": tot["spill"],
            "input_bytes": tot["input_bytes"],
            "output_bytes": tot["output_bytes"],
            "files_written": self.sql_metric(jobs, "number of written files"),
            "driver_gap_s": max(0.0, (t1_ms - t0_ms) - busy) / 1000,
        }


PHASES = ("addBatch", "walCommit", "commitOffsets", "queryPlanning",
          "latestOffset", "getBatch", "triggerExecution")


def _listener_base():
    from pyspark.sql.streaming import StreamingQueryListener

    return StreamingQueryListener


class StreamProgress:
    """Collects ``StreamingQueryProgress`` per micro-batch. ``attach``
    registers a listener on the session; progress events arrive on the
    listener bus asynchronously, so ``wait_for`` blocks until a run has
    reported the expected number of batches."""

    def __init__(self):
        self.batches: list[dict] = []
        self._cv = threading.Condition()
        self._listener = None

    def attach(self, spark) -> None:
        owner = self

        class _Listener(_listener_base()):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                owner._add(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def detach(self, spark) -> None:
        if self._listener is not None:
            spark.streams.removeListener(self._listener)
            self._listener = None

    def _add(self, p) -> None:
        start = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        d = dict(p.durationMs)
        rec = {"run_id": str(p.runId), "name": p.name, "batch_id": p.batchId,
               "rows": p.numInputRows, "t0": start,
               "t1": start + d.get("triggerExecution", 0) / 1000, "ms": d}
        with self._cv:
            self.batches.append(rec)
            self._cv.notify_all()

    def wait_for(self, pred, n: int, timeout_s: float = 30.0) -> list[dict]:
        """The first ``n`` data batches matching ``pred``, in batch order;
        raises if they do not all arrive within ``timeout_s``."""
        deadline = time.time() + timeout_s
        with self._cv:
            while True:
                got = [b for b in self.batches if pred(b) and b["rows"] > 0]
                if len(got) >= n or time.time() >= deadline:
                    break
                self._cv.wait(timeout=max(0.0, deadline - time.time()))
        if len(got) < n:
            raise RuntimeError(f"stream reported {len(got)} of {n} batches")
        return sorted(got, key=lambda b: b["batch_id"])[:n]


def p50(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def tail(values) -> dict:
    """The highest percentile with at least ten samples beyond it (the
    nearest-rank value below the top ten), with its sample count; no
    percentile qualifies below eleven samples."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return {"value": None, "percentile": None, "samples": n}
    k = n - 11  # xs[k] has exactly ten samples above it
    return {"value": xs[k], "percentile": round(100.0 * (k + 1) / n, 1), "samples": n}
