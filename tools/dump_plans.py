"""Dump `.explain("formatted")` for named catalog queries to files.

Usage: python tools/dump_plans.py <outdir> <suffix> <query> [query...]
Writes <outdir>/<query>_<suffix>.txt — the round's before/after plan
evidence (plans/r15/...).

For ITERATIVE/checkpointed operators the final returned DataFrame's
plan is a bare post-localCheckpoint projection (the r14 blind spot), so
this tool additionally sets SPARK_GRAFT_PLAN_DUMP_DIR while BUILDING
each query's DataFrame: the loop bodies (pagerank/BFS/CC star) call
plandump.dump_stage_plan on iteration 1 and the captured stage plans
land beside the final plan as <outdir>/<query>_<suffix>.loop_<tag>.txt.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from reddit_tech_jobs_data_pipeline_spark.plans.catalog import get_registry
from reddit_tech_jobs_data_pipeline_spark.session import get_spark


def main() -> None:
    outdir, suffix, *names = sys.argv[1:]
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("dump_plans")
    reg = get_registry()
    caller_dir = os.environ.get("SPARK_GRAFT_PLAN_DUMP_DIR")
    for name in names:
        # fresh per-query capture dir so first-call-wins tags don't
        # collide across queries sharing an operator
        cap = tempfile.mkdtemp(prefix="plandump_")
        os.environ["SPARK_GRAFT_PLAN_DUMP_DIR"] = cap
        try:
            df = reg[name].spark(spark, sf_dir)
        finally:
            if caller_dir is None:
                del os.environ["SPARK_GRAFT_PLAN_DUMP_DIR"]
            else:
                os.environ["SPARK_GRAFT_PLAN_DUMP_DIR"] = caller_dir
        plan = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
        for stage in sorted(glob.glob(os.path.join(cap, "*.txt"))):
            tag = os.path.splitext(os.path.basename(stage))[0]
            dest = os.path.join(outdir, f"{name}_{suffix}.loop_{tag}.txt")
            shutil.copyfile(stage, dest)
            print(f"wrote {dest}")
        shutil.rmtree(cap, ignore_errors=True)


if __name__ == "__main__":
    main()
