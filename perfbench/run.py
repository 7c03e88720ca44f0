"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Set-up (session start, seeded input
generation, warm-up) is timed as ``setup_s``; then the workload's
operation repeats, closed loop, until ``--seconds`` have passed (at
least once); then the outputs are checked against their oracles outside
the timed region. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``, in reference-host seconds, see ``hostspeed``) or
the per-layer metrics (``--trace 1``, which turns on Spark's event log,
job groups per span and function wrappers).
The line before it holds every named metric of the workload, the input
sizes and the check results. Exit code 1 when any check fails.

All files go to a fresh ``.perfbench_work/`` dir in the checkout, which
is removed at exit, as is every process the run started.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import signal
import statistics
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
DRIVER_MEM = "3g"
# Task threads per workload, at most the CPUs this process may use. A
# daily upsert run is about 15 small jobs whose time is mostly driver-side
# planning; with two task threads the driver, JIT and GC threads keep
# cores of their own on a shared 4-core host. Its median run time over
# seeds then spread 0.12 (IQR ÷ median, 10 seeds), against 0.2-0.36 with
# four, and was no slower.
MAX_CPUS = {"posts_daily_upsert": 2}


def cpus(workload: str) -> int:
    n = len(os.sched_getaffinity(0))
    return min(n, MAX_CPUS.get(workload, n))


def configure_env(work: str, n_cpus: int, trace: bool) -> None:
    """Pin the session's resources and keep every file it writes inside
    ``work``; with ``trace``, turn on an uncompressed, non-rolling event
    log (Spark 4 defaults to rolling zstd logs)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(n_cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # the package default (32) is sized for a 32-core host; on a few
        # cores its per-task overhead would dominate every small stage
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(2 * n_cpus),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "TZ": "UTC",
    })
    time.tzset()
    tempfile.tempdir = tmp
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    args += ["--driver-java-options", java_opts, "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, frontier = _children(), [], [pid]
    while frontier:
        nxt = [c for p in frontier for c in kids.get(p, [])]
        out += nxt
        frontier = nxt
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def peak_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


def shutdown_spark() -> None:
    """Stop the session, end the JVM it launched, and wait until every
    process started under this one has exited."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — any failure to exit ends in a kill
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while any(_alive(p) for p in started) and time.time() < deadline:
        time.sleep(0.1)
    for p in started:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


def _metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def run(args, work: str, host) -> tuple[dict, dict]:
    from perfbench import hostspeed, tracing, workloads
    from reddit_tech_jobs_data_pipeline_spark.session import get_spark

    setup_t0 = time.time()
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    w = workloads.WORKLOADS[args.workload](spark, work, args.seed, args.size)
    t0 = time.perf_counter()
    w.generate(os.path.join(work, "inputs"))
    gen_s = time.perf_counter() - t0
    progress = tracing.StreamProgress()
    progress.attach(spark)
    t0 = time.perf_counter()
    w.warm_up()
    warm_s = time.perf_counter() - t0
    setup_s = session_s + gen_s + warm_s
    setup_t1 = time.time()

    tracer = None
    if args.trace:
        tracer = tracing.Tracer(spark.sparkContext)
        w.instrument(tracer)
    ops, errors = [], []
    ops_t0 = time.time()
    deadline = time.perf_counter() + args.seconds
    while not ops or time.perf_counter() < deadline:
        try:
            if tracer is None:
                rec = w.op()
            else:
                with tracer.span("op") as span:
                    rec = w.op()
                span.attrs.update(rec)
        except Exception as e:  # noqa: BLE001 — a failed operation is counted, not fatal
            errors.append(f"op {len(ops)}: {e!r}")
            break
        ops.append(rec)
    ops_t1 = time.time()
    host.stop()
    setup_scale, op_scale = host.scale(setup_t0, setup_t1), host.scale(ops_t0, ops_t1)
    if tracer is not None:
        tracer.unwrap()
    if hasattr(w, "batches"):
        w.batches(progress, ops)
    try:
        checks = w.checks()
    except Exception as e:  # noqa: BLE001 — a check that cannot run is a failed check
        checks = [("checks", f"raised {e!r}")]
    rss = peak_rss_mb([os.getpid(), jvm_pid])
    attempted = len(ops) + len(errors) + len(checks)
    failed = len(errors) + sum(1 for _, err in checks if err)
    named = {k: _metric(*v[:2]) | (v[2] if len(v) > 2 else {})
             for k, v in w.e2e(ops).items()} if ops else {}
    op_s = [o["wall_s"] for o in ops]
    op_s_p50 = statistics.median(op_s) if op_s else math.nan
    named.update({
        "op_s_p50": _metric(op_s_p50 * op_scale, "s"),
        "setup_s": _metric(setup_s * setup_scale, "s"),
        "op_wall_s_p50": _metric(op_s_p50, "s"),
        "setup_wall_s": _metric(setup_s, "s"),
        "failed_op_ratio": _metric(failed / attempted, "ratio"),
        "peak_rss_mb": _metric(rss, "MB"),
    })
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpus": cpus(args.workload), "shuffle_partitions": 2 * cpus(args.workload),
        "driver_mem": DRIVER_MEM, "sizes": w.cfg, "inputs": w.input_stats,
        "ops": len(ops), "op_s": op_s, "op_records": ops,
        "setup": {"session_s": session_s, "gen_s": gen_s, "warm_s": warm_s},
        "host": {"ref_s": hostspeed.REF_S, "policy": host.policy, "setup_scale": setup_scale,
                 "op_scale": op_scale, "samples": host.samples},
        "end_to_end": named,
        "checks": {name: err or "ok" for name, err in checks},
        "errors": errors,
    }
    if args.trace:
        spark.stop()  # closes and flushes the event log
        log = tracing.EventLog.from_dir(os.path.join(work, "eventlog"))
        detail["layers"] = w.layers(log, tracer, ops, progress)
        windows = [log.window_metrics(log.jobs_between(s.t0 * 1000, s.t1 * 1000),
                                      s.t0 * 1000, s.t1 * 1000) for s in tracer.named("op")]
        metrics = {"session.get_spark_s": _metric(session_s, "s")}
        for k, unit in LAYER_UNITS.items():
            metrics[f"op.{k}"] = _metric(statistics.fmean(m[k] for m in windows), unit)
    else:
        metrics = {k: named[k] for k in E2E_UNITS}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    return result, detail


# the result line's metrics: end to end (trace 0, scaled to the reference
# host) and per layer (trace 1, each "op." metric is a mean over the timed
# operations, as measured)
E2E_UNITS = {"op_s_p50": "s", "setup_s": "s"}
LAYER_UNITS = {
    "wall_s": "s", "driver_gap_s": "s", "jobs": "count", "stages": "count", "tasks": "count",
    "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s",
    "shuffle_read_bytes": "B", "shuffle_write_bytes": "B", "spill_bytes": "B",
    "input_bytes": "B", "output_bytes": "B", "files_written": "count",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["posts_daily_upsert", "corpus_query_mix", "stream_store_ingest",
                            "stream_then_query_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["default", "tiny"], default="default",
                   help="input sizes; 'tiny' is for the benchmark's own tests")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # import perfbench, tools and the package from the checkout root, never
    # this file's directory (its module names must not shadow others)
    here = str(Path(__file__).resolve().parent)
    sys.path[:] = [p for p in sys.path if os.path.abspath(p or ".") != here]
    sys.path.insert(0, str(ROOT))
    base = ROOT / ".perfbench_work"
    work = base / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        configure_env(str(work), cpus(args.workload), bool(args.trace))
        from perfbench.hostspeed import Sampler

        host = Sampler(str(work / "hostspeed.txt"))
        try:
            result, detail = run(args, str(work), host)
        finally:
            host.stop()
    finally:
        shutdown_spark()
        shutil.rmtree(work, ignore_errors=True)
        if base.exists() and not any(base.iterdir()):
            base.rmdir()
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
