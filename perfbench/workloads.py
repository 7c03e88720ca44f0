"""The three workloads: inputs, one timed operation, output checks, and
the metrics each reports.

Each workload is a closed loop with one client: the next operation
starts when the previous one returns, on one ``local[nproc]`` session.
``op()`` is the timed unit; ``checks()`` runs after the timed region and
returns ``(name, error or None)`` pairs.
"""

from __future__ import annotations

import gc
import os
import shutil
import time

import duckdb
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from perfbench import gen
from perfbench.tracing import PHASES, p50, tail
from reddit_tech_jobs_data_pipeline_spark import jobs, pipeline
from reddit_tech_jobs_data_pipeline_spark.operators import maintenance, similarity
from reddit_tech_jobs_data_pipeline_spark.plans import catalog_posts, catalog_scale
from reddit_tech_jobs_data_pipeline_spark.plans.catalog import get_registry
from reddit_tech_jobs_data_pipeline_spark.sources import sink
from reddit_tech_jobs_data_pipeline_spark.streaming import incremental_dedup, srp_ingest
from tools.check_oracle import compare_float_tol, normalize

# Input sizes. "default" is what the benchmark measures; "tiny" lets the
# tests run every workload end to end in seconds.
SIZES = {
    "posts_daily_upsert": {
        "default": {"posts_per_day": 300, "base_days": 1, "warm_ops": 5,
                    "rescrape_share": 0.15, "noise_share": 0.2, "stale_share": 0.05},
        "tiny": {"posts_per_day": 60, "base_days": 1, "warm_ops": 0,
                 "rescrape_share": 0.15, "noise_share": 0.2, "stale_share": 0.05},
    },
    "corpus_query_mix": {
        "default": {"parts": 500, "suppliers": 40, "lineitems": 4000,
                    "documents": 400, "vectors": 500, "doc_dup_share": 0.05},
        "tiny": {"parts": 100, "suppliers": 20, "lineitems": 600, "documents": 100,
                 "vectors": 200, "doc_dup_share": 0.05},
    },
    "stream_store_ingest": {
        "default": {"batches": 3, "docs_per_batch": 100,
                    "dup_share": 0.05, "vectors": 450, "tags": 3},
        "tiny": {"batches": 2, "docs_per_batch": 40,
                 "dup_share": 0.1, "vectors": 120, "tags": 3},
    },
}

MAINTENANCE_EVERY = 3  # the SRP runner's default compaction cadence


def duck_con(work: str, sf_dir: str | None = None):
    """DuckDB with a bounded memory limit and its spill dir inside the
    work dir; ``sf_dir``'s tables registered as views."""
    con = duckdb.connect()
    con.sql("SET memory_limit='2GB'")
    con.sql("SET threads=2")
    con.sql(f"SET temp_directory='{os.path.join(work, 'duckdb_spill')}'")
    con.sql("SET TimeZone='UTC'")
    if sf_dir:
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(sf_dir, f)}'")
    return con


def frame_mismatch(spark_pd: pd.DataFrame, duck_pd: pd.DataFrame, float_tol: bool = False) -> str | None:
    """``tools/check_oracle.py``'s comparison: row count, column names,
    dtypes, then order-insensitive values (float columns within
    tolerance for ``float-tol`` queries)."""
    a, b = normalize(spark_pd), normalize(duck_pd)
    if len(a) != len(b):
        return f"rowcount spark={len(a)} duck={len(b)}"
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    dt_a = {c: str(spark_pd[c].dtype) for c in spark_pd.columns}
    dt_b = {c: str(duck_pd[c].dtype) for c in duck_pd.columns}
    diff = {c: (dt_a[c], dt_b.get(c)) for c in dt_a if dt_a[c] != dt_b.get(c)}
    if diff:
        return f"dtype mismatch {diff}"
    if float_tol:
        return compare_float_tol(spark_pd, duck_pd)
    if not a.equals(b):
        return f"{int((a != b).any(axis=1).sum())}/{len(a)} rows differ"
    return None


def dir_bytes_files(path: str) -> tuple[int, int]:
    """Bytes and count of parquet data files under ``path``."""
    nbytes = nfiles = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                nbytes += os.path.getsize(os.path.join(root, f))
                nfiles += 1
    return nbytes, nfiles


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, size: str):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.cfg = SIZES[self.name][size]
        self.input_stats: dict = {}

    def generate(self, out_dir: str) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        """The session's first action, which loads and compiles the SQL
        engine's common code (about 5 s on 4 cores). Without it the first
        timed query pays that cost."""
        self.spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()

    def op(self) -> dict:
        """One timed operation; returns its record (``wall_s`` at least)."""
        raise NotImplementedError

    def checks(self) -> list[tuple[str, str | None]]:
        raise NotImplementedError

    def e2e(self, ops: list[dict]) -> dict:
        """The workload's named end-to-end metrics: name → (value, unit)."""
        raise NotImplementedError

    def instrument(self, tracer) -> None:
        """Wrap the package functions whose spans the traced run reports."""

    def layers(self, log, tracer, ops: list[dict], progress) -> dict:
        raise NotImplementedError


class PostsDailyUpsert(Workload):
    """Scheduled ``jobs.run_incremental`` runs over pre-written raw
    batches. Set-up builds a base gold store from the first ``base_days``
    runs (the bootstrap write, then upserts); every timed operation is
    the next day's run upserted into a fresh copy of that base, so each
    one does the same work and a faster run cannot reach a larger store."""

    name = "posts_daily_upsert"

    def generate(self, out_dir: str) -> None:
        c = self.cfg
        self.runs, self.input_stats = gen.write_daily_batches(
            out_dir, self.seed, c["base_days"] + 1, c["posts_per_day"],
            c["rescrape_share"], c["noise_share"], c["stale_share"])
        self.base = os.path.join(self.work, "gold_base")
        self.gold = None
        self.n_op = 0

    def _run_day(self, day: int, gold: str) -> int:
        path, now = self.runs[day]
        return jobs.run_incremental(self.spark, self.spark.read.parquet(path), gold, now)

    def warm_up(self) -> None:
        for day in range(self.cfg["base_days"]):
            self._run_day(day, self.base)
        for _ in range(self.cfg["warm_ops"]):
            self.op()

    def op(self) -> dict:
        day = self.cfg["base_days"]
        gold = os.path.join(self.work, "gold", f"op_{self.n_op}")
        shutil.copytree(self.base, gold)
        t0 = time.perf_counter()
        merged = self._run_day(day, gold)
        wall = time.perf_counter() - t0
        if self.gold is not None:
            shutil.rmtree(self.gold)
        self.gold = gold
        self.n_op += 1
        return {"wall_s": wall, "day": day, "merged": merged,
                "raw": os.path.basename(self.runs[day][0])}

    def _gold_frame(self) -> pd.DataFrame:
        g = self.spark.read.parquet(self.gold)
        return g.select(
            "post_id", "title",
            F.unix_micros("created_datetime").alias("created_us"),
            F.unix_micros("ingest_ts").alias("ingest_us"),
            "salary_currency", "lower_salary", "upper_salary", "job_position",
            "location", "field", F.array_join("technologies", ",").alias("technologies"),
        ).toPandas()

    def replay(self, n_days: int) -> pd.DataFrame:
        """DuckDB replay of the first ``n_days`` runs: watermark → dedup →
        enrich → validity filter (the posts_pipeline_e2e oracle SQL) →
        last writer wins per ``post_id``."""
        con = duck_con(self.work)
        con.sql("""CREATE TABLE gold (post_id VARCHAR, title VARCHAR, created_us BIGINT,
                   ingest_us BIGINT, salary_currency VARCHAR, lower_salary DOUBLE,
                   upper_salary DOUBLE, job_position VARCHAR, location VARCHAR,
                   field VARCHAR, technologies VARCHAR)""")
        day_us, written = 86_400_000_000, False
        for path, now in self.runs[:n_days]:
            now_us = int(now.replace(tzinfo=gen.UTC).timestamp()) * 1_000_000
            wm = now_us - 7 * day_us
            if written:
                got = con.sql(f"SELECT max(created_us) FROM gold "
                              f"WHERE created_us >= {now_us - 30 * day_us}").fetchone()[0]
                wm = got if got is not None else wm
            con.sql(f"""CREATE OR REPLACE TEMP TABLE fresh AS
                        SELECT post_id, title, epoch_us(created_datetime) AS created_us, scrape_seq
                        FROM '{path}' WHERE epoch_us(created_datetime) >= {wm}""")
            deduped = """deduped AS (
                SELECT post_id, title, scrape_seq FROM (
                  SELECT *, row_number() OVER (PARTITION BY post_id, title ORDER BY scrape_seq) AS rn
                  FROM fresh) WHERE rn = 1)"""
            enrich = catalog_posts._ORACLE.replace(catalog_posts._CORPUS_SQL, deduped)
            if enrich == catalog_posts._ORACLE:
                raise RuntimeError("posts oracle SQL no longer has the corpus CTE")
            con.sql(f"""CREATE OR REPLACE TEMP TABLE silver AS
                        SELECT s.post_id, s.title, c.created_us, {now_us} AS ingest_us,
                               s.salary_currency, s.lower_salary, s.upper_salary,
                               s.job_position, s.location, s.field, s.technologies
                        FROM ({enrich}) s
                        JOIN (SELECT DISTINCT post_id, created_us FROM fresh) c USING (post_id)""")
            if con.sql("SELECT count(*) FROM silver").fetchone()[0] == 0:
                continue
            con.sql("DELETE FROM gold WHERE post_id IN (SELECT post_id FROM silver)")
            con.sql("INSERT INTO gold SELECT * FROM silver")
            written = True
        out = con.sql("SELECT * FROM gold").df()
        con.close()
        return out

    def checks(self) -> list[tuple[str, str | None]]:
        self.gold_bytes, _ = dir_bytes_files(self.gold)
        before = self._gold_frame()
        self.gold_rows = len(before)
        out = [("gold_equals_duckdb_replay", frame_mismatch(before, self.replay(len(self.runs))))]
        self._run_day(len(self.runs) - 1, self.gold)
        err = frame_mismatch(self._gold_frame(), before)
        out.append(("rerun_last_day_leaves_gold_identical", err))
        return out

    def e2e(self, ops: list[dict]) -> dict:
        walls = [o["wall_s"] for o in ops]
        t = tail(walls)
        return {
            "etl_run_s_p50": (p50(walls), "s"),
            "etl_run_s_tail": (t["value"], "s", {"percentile": t["percentile"], "samples": t["samples"]}),
            "gold_bytes_per_row": (self.gold_bytes / max(self.gold_rows, 1), "B/row"),
        }

    def instrument(self, tracer) -> None:
        def gold_bytes(args, kwargs):
            return {"gold_before": dir_bytes_files(args[1])[0], "path": args[1]}

        def gold_after(state, _):
            return {"gold_after": dir_bytes_files(state["path"])[0]}

        tracer.wrap(jobs, "watermark_lower_bound", "merge.watermark_lower_bound")
        tracer.wrap(pipeline, "transform", "pipeline.transform")
        tracer.wrap(sink, "upsert_gold", "sink.upsert_gold", gold_bytes, gold_after)

    def layers(self, log, tracer, ops: list[dict], progress) -> dict:
        runs, wms, ups, cnt = [], [], [], []
        for span in tracer.named("op"):
            m = log.span_metrics(tracer, span)
            inner = [s for s in tracer.spans if s.sid in tracer.descendants(span)]
            wm = [s for s in inner if s.name == "merge.watermark_lower_bound"]
            up = [s for s in inner if s.name == "sink.upsert_gold"]
            own = log.jobs_in(tracer, span)
            m["raw_scans"] = log.scans_of(own, span.attrs["raw"])
            runs.append(m)
            for s in wm:
                jw = log.jobs_in(tracer, s)
                wms.append({"wall_s": s.wall_s, "jobs": len(jw),
                            "files_read": log.sql_metric(jw, "number of files read")})
            for s in up:
                ju = log.jobs_in(tracer, s)
                out_b = log.sql_metric(ju, "written output")
                growth = s.attrs["gold_after"] - s.attrs["gold_before"]
                ups.append({"wall_s": s.wall_s, "jobs": len(ju), "output_bytes": out_b,
                            "files_written": log.sql_metric(ju, "number of written files"),
                            "partitions_rewritten": log.sql_metric(ju, "number of dynamic part", max),
                            "write_amp": out_b / growth if growth > 0 else float("nan")})
            # the silver lineage outside the probe and the upsert: the count()
            busy = {j.jid for s in wm + up for j in log.jobs_in(tracer, s)}
            rest = [j for j in own if j.jid not in busy]
            cnt.append(log.task_totals(rest))
        out = {f"jobs.run_incremental.{k}": p50(r[k] for r in runs)
               for k in ("wall_s", "jobs", "stages", "tasks", "driver_gap_s", "raw_scans")}
        out.update({f"merge.watermark_lower_bound.{k}": p50(r[k] for r in wms)
                    for k in ("wall_s", "jobs", "files_read")})
        out["pipeline.transform.plan_s"] = p50(s.wall_s for s in tracer.named("pipeline.transform"))
        out["pipeline.transform.executor_cpu_s"] = p50(c["cpu_ns"] / 1e9 for c in cnt)
        out["pipeline.transform.shuffle_write_bytes"] = p50(c["shuffle_write"] for c in cnt)
        out.update({f"sink.upsert_gold.{k}": p50(r[k] for r in ups)
                    for k in ("wall_s", "jobs", "output_bytes", "files_written", "partitions_rewritten")})
        out["sink.write_amp"] = p50(r["write_amp"] for r in ups)
        return out


# One query per family the mix loads (dedup: MinHash-LSH pairs plus the
# star-contraction connected components; graph: iterative BFS; similarity:
# trained IVF top-k; text: corpus statistics and BM25). The posts pipeline
# is measured by posts_daily_upsert. near_dup_clusters_star runs the same LSH pairs and the same
# connected-components operator as combined_dedup_clusters without the URL
# edges; it takes a third of the time, and so does its DuckDB oracle,
# which keeps the pass and its checks inside the run budget.
MIX = {
    "near_dup_clusters_star": "dedup",
    "ivf_trained_ann_topk": "similarity",
    "bfs_supplier_reachability": "graph",
    "text_stats": "text",
    "bm25_doc_ranking": "text",
}
FAMILIES = ("dedup", "graph", "similarity", "text")
FAMILY_FIELDS = ("wall_s", "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                 "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                 "driver_gap_s")


class CorpusQueryMix(Workload):
    """Passes of fixed catalog queries over a generated SF dir. Each
    query is collected to pandas (its results are small), so the checks
    compare the timed pass's own output with the DuckDB oracles.

    No untimed pass runs first: a cold pass costs about 30 s on 4 cores
    and a warm one 12 s, and a gated run has room for one of them. So
    the timed pass is the session's first run of each query plan."""

    name = "corpus_query_mix"

    def generate(self, out_dir: str) -> None:
        self.sf_dir = out_dir
        self.input_stats = gen.write_sf_dir(out_dir, self.seed, self.cfg)
        self.reg = get_registry()
        self.tracer = None

    def op(self) -> dict:
        times, self.results = {}, {}
        t_pass = time.perf_counter()
        for name in MIX:
            self.spark.catalog.clearCache()
            t0 = time.perf_counter()
            if self.tracer is None:
                self.results[name] = self.reg[name].spark(self.spark, self.sf_dir).toPandas()
            else:
                with self.tracer.span("query", query=name, family=MIX[name]):
                    self.results[name] = self.reg[name].spark(self.spark, self.sf_dir).toPandas()
            times[name] = time.perf_counter() - t0
        wall = time.perf_counter() - t_pass
        self.spark.catalog.clearCache()
        gc.collect()
        return {"wall_s": wall, "queries": times}

    def checks(self) -> list[tuple[str, str | None]]:
        out = []
        for name in MIX:
            spec = self.reg[name]
            con = duck_con(self.work, self.sf_dir)
            duck_pd = con.sql(spec.oracle).df()
            con.close()
            out.append((f"oracle:{name}",
                        frame_mismatch(self.results[name], duck_pd, "float-tol" in spec.tags)))
        return out

    def e2e(self, ops: list[dict]) -> dict:
        def fam(f):
            return p50(sum(t for q, t in o["queries"].items() if MIX[q] == f) for o in ops)

        return {
            "mix_pass_s": (p50(o["wall_s"] for o in ops), "s"),
            "dedup_query_s": (fam("dedup"), "s"),
            "graph_query_s": (fam("graph"), "s"),
            "similarity_query_s": (fam("similarity"), "s"),
            "text_query_s": (fam("text"), "s"),
        }

    def instrument(self, tracer) -> None:
        self.tracer = tracer

    def layers(self, log, tracer, ops: list[dict], progress) -> dict:
        out = {}
        per_pass: dict[str, list[dict]] = {f: [] for f in FAMILIES}
        for span in tracer.named("op"):
            queries = [s for s in tracer.spans if s.parent == span.sid and s.name == "query"]
            for f in FAMILIES:
                ms = [log.span_metrics(tracer, s) for s in queries if s.attrs["family"] == f]
                per_pass[f].append({k: sum(m[k] for m in ms) for k in FAMILY_FIELDS})
        for f in FAMILIES:
            for k in FAMILY_FIELDS:
                out[f"{f}.{k}"] = p50(m[k] for m in per_pass[f])
        return out


def store_mismatch(ids: list[int], n_docs: int, planted: set[int]) -> str | None:
    """The MinHash store after a drain must hold each id at most once and
    exactly the survivors: every ingested doc except the planted exact
    copies of earlier docs. The other docs are random word sequences
    whose 3-gram Jaccard with any other doc is far below the near-dup
    threshold, so none of them may be dropped."""
    if len(ids) != len(set(ids)):
        return "an id was appended twice"
    want = set(range(n_docs)) - planted
    missing, extra = want - set(ids), set(ids) - want
    if missing or extra:
        return f"{len(missing)} survivors missing, {len(extra)} ids kept that should not be"
    return None


DOC_SCHEMA = T.StructType([T.StructField("id", T.LongType()), T.StructField("text", T.StringType())])
SRP_QUERY = "stream_srp_ingest"  # the SRP runner's streaming query name


class StreamStoreIngest(Workload):
    """``availableNow`` drains of one-file micro-batches into the MinHash
    signature store and the SRP bucket index, then a top-k probe of the
    streamed index. As in the mix, the timed drain is the session's
    first: an untimed drain first would cost as much again and not fit
    a gated run."""

    name = "stream_store_ingest"

    def generate(self, out_dir: str) -> None:
        c = self.cfg
        self.src = os.path.join(out_dir, "docs")
        self.sf_dir = os.path.join(out_dir, "sf")
        self.input_stats = {
            "docs": gen.write_stream_batches(self.src, self.seed, c["batches"],
                                             c["docs_per_batch"], c["dup_share"]),
            "embeddings": gen.write_embeddings(self.sf_dir, gen.np.random.default_rng(self.seed),
                                               c["vectors"]),
        }
        self.planted = set(self.input_stats["docs"].pop("planted"))
        self.n_pass = 0
        self.results: list[tuple[str, object]] = []

    def op(self) -> dict:
        d = os.path.join(self.work, "stream", f"pass_{self.n_pass}")
        self.n_pass += 1
        store = os.path.join(d, "store")
        t0 = time.time()
        incremental_dedup.stream_dedup_ingest(
            self.spark, self.src, DOC_SCHEMA, store, os.path.join(d, "ckpt"),
            max_files_per_trigger=1)
        t1 = time.time()
        probe = srp_ingest.run_srp_ingest_batchlike(
            self.spark, self.sf_dir, n_tags=self.cfg["tags"], maintenance_every=MAINTENANCE_EVERY)
        t2 = time.time()
        self.results.append((store, probe))
        return {"wall_s": t2 - t0, "t0": t0, "t1": t1, "t2": t2}

    def batches(self, progress, ops: list[dict]) -> None:
        """Attach each pass's micro-batch progress to its record."""
        for o in ops:
            o["dedup"] = progress.wait_for(
                lambda b, o=o: b["name"] != SRP_QUERY and o["t0"] <= b["t0"] <= o["t1"],
                self.cfg["batches"])
            o["srp"] = progress.wait_for(
                lambda b, o=o: b["name"] == SRP_QUERY and o["t1"] <= b["t0"] <= o["t2"],
                self.cfg["tags"])
            o["probe_s"] = o["t2"] - max(b["t1"] for b in o["srp"])

    def checks(self) -> list[tuple[str, str | None]]:
        con = duck_con(self.work, self.sf_dir)
        oracle = con.sql(catalog_scale._srp_stream_sql()).df()
        con.close()
        out = []
        for i, (store, probe) in enumerate(self.results):
            out.append((f"srp_probe_equals_oracle:{i}", frame_mismatch(probe.toPandas(), oracle)))
            ids = [r.id for r in self.spark.read.parquet(store).select("id").collect()]
            n_docs = self.cfg["batches"] * self.cfg["docs_per_batch"]
            err = store_mismatch(ids, n_docs, self.planted)
            out.append((f"minhash_store_dedup:{i}", err))
        return out

    def e2e(self, ops: list[dict]) -> dict:
        def is_compaction(b):
            return (b["batch_id"] + 1) % MAINTENANCE_EVERY == 0

        dedup = [b["ms"]["triggerExecution"] / 1000 for o in ops for b in o["dedup"]]
        index = [b["ms"]["triggerExecution"] / 1000 for o in ops for b in o["srp"] if not is_compaction(b)]
        comp = [b["ms"]["triggerExecution"] / 1000 for o in ops for b in o["srp"] if is_compaction(b)]
        return {
            "dedup_batch_s_p50": (p50(dedup), "s"),
            "index_batch_s_p50": (p50(index), "s"),
            "compaction_batch_s_p50": (p50(comp), "s"),
            "index_probe_s": (p50(o["probe_s"] for o in ops), "s"),
        }

    def instrument(self, tracer) -> None:
        def files_before(args, kwargs):
            return {"files_before": dir_bytes_files(args[1])[1]}

        def files_after(state, result):
            return {"files_after": result}

        tracer.wrap(similarity, "append_srp_index", "similarity.append_srp_index")
        tracer.wrap(similarity, "srp_index_topk", "similarity.srp_index_topk")
        tracer.wrap(maintenance, "compact", "maintenance.compact", files_before, files_after)

    def layers(self, log, tracer, ops: list[dict], progress) -> dict:
        out = {}
        for key, which in (("stream.dedup", "dedup"), ("stream.srp", "srp")):
            bs = [b for o in ops for b in o[which]]
            for ph in PHASES:
                out[f"{key}.{ph}_ms"] = p50(b["ms"].get(ph, 0) for b in bs)
            per = [log.window_metrics(log.jobs_between(b["t0"] * 1000, b["t1"] * 1000),
                                      b["t0"] * 1000, b["t1"] * 1000) for b in bs]
            out[f"{key}.jobs_per_batch"] = p50(m["jobs"] for m in per)
            out[f"{key}.driver_gap_s"] = p50(m["driver_gap_s"] for m in per)
        app = [(s, log.jobs_in(tracer, s)) for s in tracer.named("similarity.append_srp_index")]
        out["similarity.append_srp_index.wall_s"] = p50(s.wall_s for s, _ in app)
        out["similarity.append_srp_index.jobs"] = p50(len(j) for _, j in app)
        out["similarity.append_srp_index.files_written"] = p50(
            log.sql_metric(j, "number of written files") for _, j in app)
        # the probe's scan runs when the runner checkpoints its result, so
        # the span is measured up to the runner's return
        probes = [(s, o["t2"]) for o in ops for s in tracer.named("similarity.srp_index_topk")
                  if o["t1"] <= s.t0 <= o["t2"]]
        out["similarity.srp_index_topk.wall_s"] = p50(t2 - s.t0 for s, t2 in probes)
        out["similarity.srp_index_topk.files_read"] = p50(
            log.sql_metric(log.jobs_between(s.t0 * 1000, t2 * 1000), "number of files read")
            for s, t2 in probes)
        comp = tracer.named("maintenance.compact")
        out["maintenance.compact.wall_s"] = p50(s.wall_s for s in comp)
        out["maintenance.compact.bytes_rewritten"] = p50(
            log.sql_metric(log.jobs_in(tracer, s), "written output") for s in comp)
        out["maintenance.compact.files_before"] = p50(s.attrs["files_before"] for s in comp)
        out["maintenance.compact.files_after"] = p50(s.attrs["files_after"] for s in comp)
        return out


class StreamThenQueryMix(Workload):
    """One session that drains ``stream_store_ingest`` and then runs one
    pass of ``corpus_query_mix``. Each part keeps its own inputs, checks
    and named metrics; together they pay the session's fixed costs (JVM
    start, first-use compilation, shutdown: about 17 s on 4 cores) once.
    Measured apart, the two runs took 50-65 s each, over the 48 s a run
    that three gated workloads may take; this one takes 70-110 s and
    ``posts_daily_upsert`` 45-65 s, within the 71 s a run of two."""

    name = "stream_then_query_mix"

    def __init__(self, spark, work: str, seed: int, size: str):
        self.spark = spark
        self.stream = StreamStoreIngest(spark, work, seed, size)
        self.mix = CorpusQueryMix(spark, work, seed, size)
        self.cfg = {"stream": self.stream.cfg, "mix": self.mix.cfg}
        self.input_stats = {}

    def generate(self, out_dir: str) -> None:
        self.stream.generate(os.path.join(out_dir, "stream"))
        self.mix.generate(os.path.join(out_dir, "mix"))
        self.input_stats = {"stream": self.stream.input_stats, "mix": self.mix.input_stats}

    def op(self) -> dict:
        t0 = time.perf_counter()
        stream = self.stream.op()
        mix = self.mix.op()
        return {"wall_s": time.perf_counter() - t0, "stream": stream, "mix": mix}

    def batches(self, progress, ops: list[dict]) -> None:
        self.stream.batches(progress, [o["stream"] for o in ops])

    def checks(self) -> list[tuple[str, str | None]]:
        return self.stream.checks() + self.mix.checks()

    def e2e(self, ops: list[dict]) -> dict:
        return (self.stream.e2e([o["stream"] for o in ops])
                | self.mix.e2e([o["mix"] for o in ops]))

    def instrument(self, tracer) -> None:
        self.stream.instrument(tracer)
        self.mix.instrument(tracer)

    def layers(self, log, tracer, ops: list[dict], progress) -> dict:
        return (self.stream.layers(log, tracer, [o["stream"] for o in ops], progress)
                | self.mix.layers(log, tracer, [o["mix"] for o in ops], progress))


WORKLOADS = {w.name: w for w in (PostsDailyUpsert, CorpusQueryMix, StreamStoreIngest,
                                 StreamThenQueryMix)}
