"""Seeded input generator for the three workloads.

Every input is written as parquet with pyarrow during set-up, so timed
operations read files and never pay Python→JVM row serialisation. All
randomness comes from one ``numpy.random.Generator`` per call, seeded by
the benchmark's ``--seed``: the same seed writes identical tables and a
different seed different ones. (``tools/gen_sf.py`` is pinned to seed 42;
the SF tables below keep its schemas and value domains.)

Each writer returns a stats dict (rows, bytes, and the share of
duplicate / noise / stale rows where the input plants them) that the
benchmark prints with its result.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from reddit_tech_jobs_data_pipeline_spark.functions import vocab

DOC_VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["large", "hot", "blue", "old", "new", "red", "small", "cold"]
P_NOUN = ["ring", "bolt", "plate", "wheel", "cog", "pin", "rod", "cap"]
LANGS = ["en", "de", "es", "fr", "zh"]

# literal words that the reference patterns in functions/vocab.py match
POSITIONS = [
    "Data Engineer", "Machine Learning Engineer", "Software Engineer",
    "Backend Engineer", "DevOps Engineer", "Data Scientist", "Data Analyst",
    "QA Engineer", "Research Scientist", "Developer", "Architect", "Lead",
]
LOCATIONS = [
    "Remote", "Hybrid", "New York", "London", "Berlin", "Zurich", "Toronto",
    "Singapore", "Gdansk", "Germany", "Poland", "Canada",
]
FIELDS = ["AI", "Data Science", "Machine Learning", "NLP", "Big Data", "DevOps", "Analytics"]
CURRENCIES = ["usd ", "$", "£", "€", ""]
NOISE_HEADS = ["Question about", "Need advice on", "Weekly discussion:", "Meta feedback on"]

UTC = dt.timezone.utc
ETL_EPOCH = dt.datetime(2024, 3, 1, 12, 0, tzinfo=UTC)


def _write(path: str, table: pa.Table) -> dict:
    pq.write_table(table, path)
    return {"rows": table.num_rows, "bytes": os.path.getsize(path)}


def _pick(rng: np.random.Generator, items: list[str], n: int) -> np.ndarray:
    return np.array(items, dtype=object)[rng.integers(0, len(items), n)]


def _texts(rng: np.random.Generator, n: int, lo: int = 10, hi: int = 101) -> list[str]:
    words = np.array(DOC_VOCAB, dtype=object)
    return [" ".join(words[rng.integers(0, len(words), k)]) for k in rng.integers(lo, hi, n)]


def _near_copy(rng: np.random.Generator, text: str) -> str:
    """Replace one word: a near-duplicate with high Jaccard similarity."""
    words = text.split()
    words[int(rng.integers(0, len(words)))] = str(DOC_VOCAB[int(rng.integers(0, len(DOC_VOCAB)))])
    return " ".join(words)


def _plant_dups(rng: np.random.Generator, texts: list[str], share: float) -> int:
    """Overwrite ``share`` of the texts with exact or one-word-edit copies
    of other texts; returns how many were planted."""
    n = len(texts)
    k = int(n * share)
    src = rng.integers(0, n, k)
    dst = rng.integers(0, n, k)
    exact = rng.random(k) < 0.5
    planted = 0
    for s, d, e in zip(src, dst, exact):
        if s != d:
            texts[d] = texts[s] if e else _near_copy(rng, texts[s])
            planted += 1
    return planted


def write_sf_dir(out_dir: str, seed: int, sizes: dict) -> dict:
    """The tables the corpus query mix reads, in ``tools/gen_sf.py``'s
    schemas: lineitem and part (pricing, posts corpus, co-supply graph),
    documents (dedup and text queries), embeddings (IVF top-k)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_part, n_supp, n_li = sizes["parts"], sizes["suppliers"], sizes["lineitems"]
    n_doc, n_emb = sizes["documents"], sizes["vectors"]
    stats = {}
    adj, noun = _pick(rng, P_ADJ, n_part), _pick(rng, P_NOUN, n_part)
    stats["part"] = _write(os.path.join(out_dir, "part.parquet"), pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": pa.array(_pick(rng, P_TYPES, n_part), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900.0, 2000.0, n_part), 2),
    }))
    base = np.datetime64("1995-01-01")
    sdate = base + rng.integers(0, 2500, n_li).astype("timedelta64[D]")
    stats["lineitem"] = _write(os.path.join(out_dir, "lineitem.parquet"), pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_li // 4 + 1, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], n_li), pa.string()),
        "l_linestatus": pa.array(_pick(rng, ["F", "O"], n_li), pa.string()),
        "l_shipdate": pa.array(sdate.astype("datetime64[us]")),
    }))
    texts = _texts(rng, n_doc)
    planted = _plant_dups(rng, texts, sizes["doc_dup_share"])
    stats["documents"] = _write(os.path.join(out_dir, "documents.parquet"), pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": pa.array(_pick(rng, LANGS, n_doc), pa.string()),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))
    stats["documents"]["dup_share"] = planted / max(n_doc, 1)
    stats["embeddings"] = write_embeddings(out_dir, rng, n_emb)
    return stats


def write_embeddings(out_dir: str, rng: np.random.Generator, n: int) -> dict:
    """64-d float32 vectors around 10 centres (``tools/gen_sf.py``'s
    embeddings schema)."""
    os.makedirs(out_dir, exist_ok=True)
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n)
    emb = (centers[labels] + rng.normal(0.0, 0.5, (n, 64))).astype(np.float32)
    return _write(os.path.join(out_dir, "embeddings.parquet"), pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }))


def _job_titles(rng: np.random.Generator, n: int) -> list[str]:
    """Titles the validity filter keeps: a hiring keyword or a salary
    range, plus position / location / field / technology words."""
    pos, loc, fld = _pick(rng, POSITIONS, n), _pick(rng, LOCATIONS, n), _pick(rng, FIELDS, n)
    cur = _pick(rng, CURRENCIES, n)
    lo = rng.integers(40, 200, n)
    with_salary = rng.random(n) < 0.6
    tech = np.array(vocab.TECH_KEYWORDS, dtype=object)[
        rng.integers(0, len(vocab.TECH_KEYWORDS), (n, 3))]
    techs = [" ".join(tech[i, :k]) for i, k in enumerate(rng.integers(0, 4, n))]
    out = []
    for i in range(n):
        head = "Hiring" if not with_salary[i] or i % 2 else "Open role:"
        salary = f" {cur[i]}{lo[i]}k - {lo[i] + 30}k" if with_salary[i] else ""
        out.append(f"{head} {pos[i]}{salary} {loc[i]} {fld[i]} {techs[i]}".strip())
    return out


def _noise_titles(rng: np.random.Generator, n: int) -> list[str]:
    """Titles the validity filter drops: a negative keyword and no
    salary range."""
    heads, pos = _pick(rng, NOISE_HEADS, n), _pick(rng, POSITIONS, n)
    return [f"{h} {p} interviews" for h, p in zip(heads, pos)]


def write_daily_batches(out_dir: str, seed: int, n_days: int, posts_per_day: int,
                        rescrape_share: float, noise_share: float,
                        stale_share: float) -> tuple[list[tuple[str, dt.datetime]], dict]:
    """One raw parquet file per scheduled run (``post_id, title,
    created_datetime, scrape_seq`` — the scrape schema ``jobs.run_incremental``
    reads). Run ``d`` happens at ``ETL_EPOCH + d days``; its fresh posts
    were created in the 24 h before it, so each run rewrites yesterday's
    date partition and opens today's. Each batch also holds in-batch
    re-scrapes (same post and title, later ``scrape_seq`` — dedup work),
    noise posts the validity filter drops, and stale rows created 10-25
    days back, below the watermark, which the run must skip.

    Returns ``[(path, now), ...]`` in run order and the input stats."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    runs, rows, nbytes = [], 0, 0
    n_rescrape = n_noise = n_stale = 0
    seq = 0
    day_us = 86_400_000_000
    epoch_us = int(ETL_EPOCH.timestamp()) * 1_000_000
    for d in range(n_days):
        now_us = epoch_us + d * day_us
        n_noise_d = int(posts_per_day * noise_share)
        titles = _job_titles(rng, posts_per_day - n_noise_d) + _noise_titles(rng, n_noise_d)
        ids = [f"t3_{d:03d}_{i:06d}" for i in range(posts_per_day)]
        created = now_us - rng.integers(1, day_us, posts_per_day)
        # re-scrapes: same (post_id, title, created) seen again later
        k = int(posts_per_day * rescrape_share)
        dup = rng.integers(0, posts_per_day, k)
        n_st = int(posts_per_day * stale_share)
        stale = now_us - rng.integers(10 * day_us, 25 * day_us, n_st)
        all_ids = ids + [ids[i] for i in dup] + [f"t3_stale_{d:03d}_{i:06d}" for i in range(n_st)]
        all_titles = titles + [titles[i] for i in dup] + _job_titles(rng, n_st)
        all_created = np.concatenate([created, created[dup], stale])
        n = len(all_ids)
        order = rng.permutation(n)
        table = pa.table({
            "post_id": pa.array([all_ids[i] for i in order], pa.string()),
            "title": pa.array([all_titles[i] for i in order], pa.string()),
            "created_datetime": pa.array(all_created[order], pa.int64()).cast(
                pa.timestamp("us", tz="UTC")),
            "scrape_seq": pa.array(np.arange(seq, seq + n), pa.int64()),
        })
        seq += n
        path = os.path.join(out_dir, f"day_{d:03d}.parquet")
        s = _write(path, table)
        rows, nbytes = rows + s["rows"], nbytes + s["bytes"]
        n_rescrape, n_noise, n_stale = n_rescrape + k, n_noise + n_noise_d, n_stale + n_st
        runs.append((path, (ETL_EPOCH + dt.timedelta(days=d)).replace(tzinfo=None)))
    stats = {
        "days": n_days, "rows": rows, "bytes": nbytes,
        "rescrape_share": n_rescrape / rows, "noise_share": n_noise / rows,
        "stale_share": n_stale / rows,
    }
    return runs, stats


def write_stream_batches(out_dir: str, seed: int, n_batches: int, docs_per_batch: int,
                         dup_share: float) -> dict:
    """``n_batches`` one-file micro-batches of ``(id, text)`` documents
    for the MinHash store. Ids are disjoint across files; ``dup_share`` of
    each later batch copies an earlier batch's text exactly, so the store
    must never keep those ids (``planted`` in the stats, checked after
    every drain). File modification times increase with the batch index,
    which is the order the file stream source consumes them in."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    earlier: list[str] = []
    planted: list[int] = []
    rows = nbytes = 0
    t0 = 1_700_000_000
    for b in range(n_batches):
        texts = _texts(rng, docs_per_batch)
        ids = np.arange(b * docs_per_batch, (b + 1) * docs_per_batch)
        if earlier:
            k = int(docs_per_batch * dup_share)
            for slot, src in zip(rng.choice(docs_per_batch, k, replace=False),
                                 rng.integers(0, len(earlier), k)):
                texts[slot] = earlier[src]
                planted.append(int(ids[slot]))
        path = os.path.join(out_dir, f"batch_{b:03d}.parquet")
        s = _write(path, pa.table({"id": pa.array(ids, pa.int64()), "text": texts}))
        os.utime(path, (t0 + 10 * b, t0 + 10 * b))
        rows, nbytes = rows + s["rows"], nbytes + s["bytes"]
        earlier.extend(texts)
    return {"batches": n_batches, "rows": rows, "bytes": nbytes,
            "dup_share": len(planted) / max(rows, 1), "planted": planted}
