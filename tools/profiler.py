"""Where did a catalog query's time go? Profile it per pass and per layer.

    python tools/profiler.py <query>... [--sf DIR]... [--passes N] [--ab VAR=a,b] [--tag T]

bench.py's protocol: one untimed warm pass per query and variant, then N
timed noop-sink passes (``bench.materialize``), caches cleared and
``gc.collect()`` before each, each in a ``perfbench.tracing`` span. From
the session's event log every pass gets the ``EventLog.span_metrics``
layers, a Python/Arrow line (Python-worker time and bytes of the span's
stages) and the ``durationMs`` phases of each micro-batch started in it.

``--sf`` repeats (default ``$SPARK_GRAFT_SF_DIR``). ``--ab VAR=a,b`` runs
every pass under both values of ``VAR`` (empty unsets it), alternating
the order pair by pair, and restores ``VAR`` at exit. ``SPARK_GRAFT_CPUS``
and ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` are used as set, as by bench.py.
Writes ``PROFILE_<tag>.json`` in the current directory.
"""

from __future__ import annotations

import argparse
import gc
import glob
import json
import os
import re
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402
from perfbench.tracing import EventLog, StreamProgress, Tracer  # noqa: E402
from reddit_tech_jobs_data_pipeline_spark.plans.catalog import get_registry  # noqa: E402
from reddit_tech_jobs_data_pipeline_spark.session import get_spark  # noqa: E402

# SQL metrics of the Python exec nodes (mapInPandas, mapInArrow, Arrow
# UDFs), as Spark records them in each completed stage's accumulables
PYTHON_ACCUMS = {
    "time to start Python workers": "start_ms",
    "time to initialize Python workers": "init_ms",
    "time to run Python workers": "run_ms",
    "data sent to Python workers": "sent_bytes",
    "data returned from Python workers": "returned_bytes",
}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("queries", nargs="+", metavar="query")
    p.add_argument("--sf", action="append", metavar="DIR")
    p.add_argument("--passes", type=int, default=2)
    p.add_argument("--ab", metavar="VAR=a,b")
    p.add_argument("--tag", default="local")
    args = p.parse_args(argv)
    unknown = sorted(set(args.queries) - set(get_registry()))
    if unknown:
        p.error(f"not registered: {', '.join(unknown)}")
    if args.passes < 1:
        p.error("--passes must be at least 1")
    args.sf = args.sf or [os.environ.get("SPARK_GRAFT_SF_DIR") or p.error("--sf is required")]
    var, sep, values = (args.ab or "").partition("=")
    args.var, args.variants = var or None, [v or None for v in values.split(",")]
    if args.ab is not None and not (var and sep and len(args.variants) == 2):
        p.error(f"--ab takes VAR=a,b, got {args.ab!r}")
    return args


def sf_of(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


def set_var(var: str | None, value: str | None) -> None:
    """Set ``var`` to ``value``; None unsets it."""
    if var and value is None:
        os.environ.pop(var, None)
    elif var:
        os.environ[var] = value


def enable_event_log(log_dir: str) -> None:
    """An uncompressed, non-rolling event log (the form EventLog parses)."""
    confs = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + log_dir,
             "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"}
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    rest = shlex.split(os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell"))
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + rest)


def python_by_stage(lines) -> dict[int, dict]:
    """Python-worker accumulables summed per stage, from the completed
    stages of an event log (a metric that stayed 0 is not recorded)."""
    out: dict[int, dict] = {}
    for line in lines:
        if '"SparkListenerStageCompleted"' not in line:
            continue
        info = json.loads(line)["Stage Info"]
        acc = out.setdefault(info["Stage ID"], dict.fromkeys(PYTHON_ACCUMS.values(), 0))
        for a in info.get("Accumulables", []):
            if a.get("Name") in PYTHON_ACCUMS:
                acc[PYTHON_ACCUMS[a["Name"]]] += int(a["Value"])
    return out


def report(log: EventLog, py_stages: dict, tracer: Tracer, batches: list[dict]) -> list[dict]:
    """One entry per query × SF dir × variant, each pass with its layers."""
    rows: dict[tuple, dict] = {}
    for span in tracer.spans:
        a = span.attrs
        row = rows.setdefault((span.name, a["sf_dir"], a["variant"]), {
            "query": span.name, "sf": a["sf"], "sf_dir": a["sf_dir"],
            "variant": a["variant"], "passes": []})
        jids = {j.jid for j in log.jobs_in(tracer, span)}
        stages = [py_stages.get(sid, {}) for sid, jid in log.stage_job.items() if jid in jids]
        py = {k: sum(st.get(k, 0) for st in stages) for k in PYTHON_ACCUMS.values()}
        row["passes"].append({
            "pass": a["pass_"],
            "layers": log.span_metrics(tracer, span),
            "python_arrow": py,
            "batches": [{"name": b["name"], "batch_id": b["batch_id"], "rows": b["rows"], **b["ms"]}
                        for b in batches if span.t0 <= b["t0"] <= span.t1],
        })
    for row in rows.values():
        walls = [p["layers"]["wall_s"] for p in row["passes"]]
        row["best_wall_s"], row["median_wall_s"] = min(walls), statistics.median(walls)
    return list(rows.values())


def profile(args, spark, tracer: Tracer) -> None:
    reg = get_registry()
    for sf_dir in args.sf:
        for name in args.queries:
            for v in args.variants:
                set_var(args.var, v)
                bench.materialize(reg[name].spark(spark, sf_dir))
            for i in range(args.passes):
                for v in args.variants if i % 2 == 0 else args.variants[::-1]:
                    set_var(args.var, v)
                    spark.catalog.clearCache()
                    gc.collect()
                    with tracer.span(name, sf=sf_of(sf_dir), sf_dir=sf_dir,
                                     variant=args.var and f"{args.var}={v or ''}",
                                     pass_=i):
                        bench.materialize(reg[name].spark(spark, sf_dir))
            spark.catalog.clearCache()
            gc.collect()


def main(argv=None) -> int:
    args = parse_args(argv)
    original = os.environ.get(args.var) if args.var else None
    log_dir = tempfile.mkdtemp(prefix="profile_eventlog_")
    try:
        enable_event_log(log_dir)
        # Python workers import the package from any working directory
        paths = [ROOT, os.environ.get("PYTHONPATH")]
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in paths if p)
        spark = get_spark("profile")
        git = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        host = {"cpus": spark.sparkContext.defaultParallelism,
                "host_cpus": len(os.sched_getaffinity(0)),
                "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
                "sf": [{"sf": sf_of(d), "sf_dir": d} for d in args.sf],
                "spark": spark.version, "git": git.stdout.strip()}
        tracer, progress = Tracer(spark.sparkContext), StreamProgress()
        progress.attach(spark)
        profile(args, spark, tracer)
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()  # last progress events
        spark.stop()  # closes and flushes the event log
        log = EventLog.from_dir(log_dir)
        with open(glob.glob(os.path.join(log_dir, "*"))[0], encoding="utf-8") as f:
            py_stages = python_by_stage(f)
        out = {"host": host, "passes": args.passes, "ab": args.ab,
               "profiles": report(log, py_stages, tracer, progress.batches)}
    finally:
        set_var(args.var, original)
        shutil.rmtree(log_dir, ignore_errors=True)
    path = f"PROFILE_{args.tag}.json"
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(path)
    return 0


if __name__ == "__main__":
    sys.exit(main())
