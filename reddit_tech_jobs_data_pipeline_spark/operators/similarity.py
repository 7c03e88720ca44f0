"""Similarity search over embedding columns (array<float>).

Two paths, same semantics:

* brute-force — exact top-k by cosine: broadcast the (small) query set
  against the corpus, one narrow shuffle for the per-query top-k window.
  At 100 TB the corpus side stays partitioned; only queries broadcast.
* bucketed ANN — sign-quantization LSH (axis-aligned hyperplanes at 0):
  bucket key = sign bits of the first ``nbits`` components. Same-bucket
  candidates only ⇒ the self-join/probe meets ~corpus/2^nbits rows per
  query. Recall < 1 by design; raise nbits for smaller buckets or probe
  neighboring buckets for higher recall. Deterministic and SQL-expressible
  (the oracle runs the identical plan), unlike randomized-hyperplane LSH.

All arithmetic is double-precision elementwise (cast from float up front)
so results are engine-comparable after 4-dp rounding.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from reddit_tech_jobs_data_pipeline_spark.operators.parallelism import fan_out


def _dvec(c: Column) -> Column:
    return F.transform(c, lambda x: x.cast("double"))


def _dlit(x: float) -> str:
    """SQL text of a double literal: repr(float) is the shortest decimal
    that round-trips, and the 'D' suffix types it DOUBLE, so the parsed
    literal is the bit-identical double (a bare 0.5 would parse as
    DECIMAL)."""
    return repr(float(x)) + "D"


def _dvec_sql(vec_col: str) -> str:
    """SQL text of ``_dvec(F.col(vec_col))``."""
    return f"transform(`{vec_col}`, x -> CAST(x AS DOUBLE))"


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """The rank tail of every top-k here: per query, rank the
    (query_id, neighbor_id, cosine) rows by cosine desc with a
    neighbor_id tiebreak (a unique order, so the k-selection is
    deterministic and oracle-comparable) and keep rank ≤ k."""
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("__rn").cast("long").alias("rank"))
    )


def _scores(c: DataFrame, q: DataFrame, key: str | None = None) -> DataFrame:
    """(query_id, neighbor_id, cosine) candidate pairs: corpus rows ``c``
    (neighbor_id, cvec) against the broadcast queries ``q`` (query_id,
    qvec), equi-joined on ``key`` (a bucket, signature or cell) or,
    without one, every pair; self-matches dropped, cosine rounded to 4
    dp."""
    if key is None:
        pairs = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
    else:
        pairs = c.join(F.broadcast(q), key).filter(F.col("neighbor_id") != F.col("query_id"))
    return pairs.select(
        "query_id", "neighbor_id", F.round(cosine(F.col("qvec"), F.col("cvec")), 4).alias("cosine")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector.

    Output: (query_id, neighbor_id, cosine) — self-matches excluded.
    Ranking is by 4-dp-rounded cosine with neighbor-id tiebreak, making
    the k-selection deterministic and oracle-comparable.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _dvec(F.col(vec_col)).alias("cvec")
    )
    q = queries.select(F.col(id_col).alias("query_id"), _dvec(F.col(vec_col)).alias("qvec"))
    return _topk(_scores(c, q), k)


def brute_force_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_broadcast_queries: int = 10_000,
    broadcast_out: list | None = None,
) -> DataFrame:
    """``mapInArrow`` variant of brute_force_topk — identical output.

    Per Arrow batch: ONE float64 GEMM (batch_vectors @ queries.T) scores
    every (row, query) pair, then only each query's per-batch top-k rows
    are emitted (k·|Q| rows per batch instead of n·|Q|); the final
    per-query window merges partials, which is exact because top-k of a
    union of per-batch top-ks equals global top-k under the same
    (rounded cosine desc, id asc) order. The corpus never moves — the
    query matrix ships via an explicit ``sparkContext.broadcast`` (one
    torrent transfer per executor, NOT re-serialized per task the way a
    closure capture would be). Above ``max_broadcast_queries`` query
    rows the driver-side collect + broadcast stops being "small dim"
    territory and the call falls back to the distributed Catalyst path
    (brute_force_topk), which never materializes the query set on the
    driver.

    BROADCAST LIFETIME: the returned DataFrame is lazy, so the broadcast
    variable cannot be destroyed eagerly here — it lives until the
    SparkContext ends. A caller looping over many query batches should
    pass ``broadcast_out=[]``: the Broadcast handle is APPENDED to that
    list (out-of-band — empty when the distributed fallback ran and no
    broadcast was made), and after materializing the result the caller
    calls ``handle.unpersist(blocking=False)`` to release executor-side
    blocks between iterations. (The legacy ``._q_broadcast`` attribute is
    also still set, but it lives only on the DIRECTLY returned DataFrame
    object — any further transformation returns a new DataFrame without
    it, and accessing it there raises DataFrame.__getattr__'s
    unresolved-column error — prefer ``broadcast_out``.)

    When to prefer this over the Catalyst ``F.aggregate`` fold: wide
    vectors × many queries, where a BLAS GEMM over an Arrow batch beats
    per-element codegen'd folds. Scoring is float64 like the column
    path; batch-level rounding uses numpy (half-even) vs the engines'
    half-up — indistinguishable off exact .00005 midpoints, a
    measure-zero set for cosines (same accepted-noise class as the
    pagerank scale mode)."""
    import numpy as np
    import pyarrow as pa

    if queries.limit(max_broadcast_queries + 1).count() > max_broadcast_queries:
        return brute_force_topk(corpus, queries, k, id_col, vec_col)

    qrows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
    qm = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    qn = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    bc = corpus.sparkSession.sparkContext.broadcast((q_ids, qn))

    def score(batches):
        q_ids, qn = bc.value
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            emb_col = batch.column(1)
            if isinstance(emb_col, pa.ChunkedArray):
                emb_col = emb_col.combine_chunks()
            flat = emb_col.values.to_numpy(zero_copy_only=False).astype(np.float64)
            em = flat.reshape(n, len(flat) // n)
            en = em / np.linalg.norm(em, axis=1, keepdims=True)
            scores = np.round(en @ qn.T, 4)  # (n, num_queries)
            out_q, out_n, out_c = [], [], []
            for j in range(len(q_ids)):
                mask = ids != q_ids[j]
                cand_ids = ids[mask]
                cand_s = scores[mask, j]
                keep = np.lexsort((cand_ids, -cand_s))[:k]
                out_q.append(np.full(len(keep), q_ids[j], dtype=np.int64))
                out_n.append(cand_ids[keep])
                out_c.append(cand_s[keep])
            yield pa.record_batch(
                [
                    pa.array(np.concatenate(out_q)),
                    pa.array(np.concatenate(out_n)),
                    pa.array(np.concatenate(out_c)),
                ],
                names=["query_id", "neighbor_id", "cosine"],
            )

    partial = corpus.select(id_col, vec_col).mapInArrow(
        score, "query_id long, neighbor_id long, cosine double"
    )
    out = _topk(partial, k)
    # expose the broadcast handle so batch-looping callers can
    # unpersist(blocking=False) after materializing (see docstring)
    if broadcast_out is not None:
        broadcast_out.append(bc)
    out._q_broadcast = bc
    return out


def standardize_embeddings(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension z-score standardization of an embedding column —
    the feature-prep step before distance-based ops when dimensions have
    unequal scales.

    Two-phase: (1) per-dimension mean/stddev via posexplode + one
    aggregation (map-side combined; output is D rows — tiny); (2) the D
    stats come back as LITERAL arrays and normalization is a narrow
    ``zip_with`` — no second shuffle, no join, and the corpus never
    moves. The driver-side collect is D scalars (bounded, like the
    k-means centroid collect), not data.

    A constant dimension has stddev 0; its divisor is clamped to 1 so
    the z-score comes out exactly 0 (v == mean) instead of null/Inf."""
    vec = _dvec(F.col(vec_col))
    ex = df.select(F.posexplode(vec).alias("pos", "v"))
    stats = (
        ex.groupBy("pos")
        .agg(F.avg("v").alias("m"), F.stddev_pop("v").alias("s"))
        .orderBy("pos")
        .collect()
    )
    means = F.array(*[F.lit(r.m) for r in stats])
    stds = F.array(*[F.lit(r.s if (r.s or 0.0) > 0.0 else 1.0) for r in stats])
    idx = F.sequence(F.lit(0), F.lit(len(stats) - 1))
    z = F.zip_with(
        vec,
        idx,
        lambda v, i: (v - F.element_at(means, i + 1)) / F.element_at(stds, i + 1),
    )
    return df.select(F.col(id_col), z.alias("z_embedding"))


def sign_bucket(vec: Column, nbits: int = 8) -> Column:
    """LSH bucket key: concatenated sign bits of the first nbits components."""
    return F.concat_ws(
        "", *[F.when(vec[i] >= 0, F.lit("1")).otherwise(F.lit("0")) for i in range(nbits)]
    )


def _probe_buckets(vec: Column, nbits: int, probe_hamming: int) -> Column:
    """Array of bucket keys to probe: the query's own bucket plus, when
    ``probe_hamming`` ≥ 1, every bucket one bit-flip away (multi-probe
    LSH — the standard recall/cost dial: (nbits+1)× candidates for a
    large recall boost on borderline sign bits)."""
    base = sign_bucket(vec, nbits)
    if probe_hamming <= 0:
        return F.array(base)
    variants = [base]
    for i in range(nbits):
        flipped = F.concat(
            F.substring(base, 1, i),
            F.when(F.substring(base, i + 1, 1) == "1", F.lit("0")).otherwise(F.lit("1")),
            F.substring(base, i + 2, nbits - i - 1),
        )
        variants.append(flipped)
    return F.array(*variants)


def bucketed_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nbits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_hamming: int = 0,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign bucket
    (plus Hamming-``probe_hamming`` neighbor buckets when multi-probing).

    The equi-join on bucket key replaces the cross join — this is the
    100 TB path: corpus bucketed once (writable as a bucketed table),
    each query probes one (or 1+nbits) buckets.

    Measured on the driver's isotropic random embeddings (tools/ann_recall.py,
    sf0.01, k=5): single-probe recall ~0.41/0.16/0.06 at nbits=2/4/6;
    multi-probe (probe_hamming=1) lifts those to ~0.86/0.51/0.28. Random data is the
    worst case for sign-LSH — real clustered embeddings sit far higher.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _dvec(F.col(vec_col)).alias("cvec"),
        sign_bucket(F.col(vec_col), nbits).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _dvec(F.col(vec_col)).alias("qvec"),
        F.explode(_probe_buckets(F.col(vec_col), nbits, probe_hamming)).alias("bucket"),
    )
    return _topk(_scores(c, q, "bucket"), k)


def ivf_assign_cells(
    vectors: DataFrame,
    centroids: DataFrame,
    nprobe: int = 1,
    id_col: str = "id",
    vec_col: str = "v",
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroid cells
    (cosine). ``centroids`` is (cell_id, cvec) — small; it collapses to
    ONE array row, broadcasts, and the top-nprobe cells come from a
    higher-order sort over per-cell scores — a map-only projection.

    r14 rewrite (guide §2.4): the former shape cross-joined |vectors| ×
    |cells| rows and ran a row_number window (an exchange + sort of the
    exploded table) to keep nprobe; this emits the same rows with zero
    exchanges on the vector side. Scores are rounded to 6 dp before
    ranking exactly as before (reproducible across engines); the sort
    key (0.0 − cscore, cell_id) is the old (cscore DESC, cell_id ASC)
    — `0.0 − x` rather than `−x` so a ±0.0 score cannot produce a
    −0.0 ordering artifact — and is a unique total order, so the
    result is independent of the array's element order.

    NaN scores are OUT OF CONTRACT (r14 ADVICE): a zero-norm centroid
    yields cosine = 0/0 = NaN against every vector, which the old
    ``orderBy(cscore.desc())`` ranked FIRST (NaN is greatest in Spark's
    ordering) while this ascending sort on 0.0 − cscore ranks it LAST.
    No caller can produce a zero-norm centroid (IVF centroids are means
    of unit-normalized embeddings; the training-free seeds are raw
    nonzero vectors), so the forms agree on every reachable input — but
    callers introducing degenerate centroids must normalize first."""
    # NOTE: parallelism repair (fan_out) is the CALLER's job on the
    # corpus side — this runs on tiny query sets too (every probe), and
    # an unconditional repartition there is pure overhead
    cent_arr = centroids.agg(
        F.collect_list(F.struct("cell_id", "cvec")).alias("__cells")
    )
    scored = F.transform(
        F.col("__cells"),
        lambda c: F.struct(
            (F.lit(0.0) - F.round(cosine(F.col(vec_col), c["cvec"]), 6)).alias(
                "nscore"
            ),
            c["cell_id"].alias("cell_id"),
        ),
    )
    return (
        vectors.join(F.broadcast(cent_arr))
        .select(
            id_col,
            vec_col,
            F.explode(F.slice(F.array_sort(scored), 1, nprobe)).alias("__c"),
        )
        .select(id_col, vec_col, F.col("__c.cell_id").alias("cell_id"))
    )


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_cells: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-flavored ANN: partition the corpus into centroid cells, probe
    only the query's ``nprobe`` nearest cells.

    Centroid seeding here is training-free (the first ``num_cells``
    vectors by id) so the operator is deterministic and oracle-comparable;
    production IVF replaces the seeding with k-means centroids — the
    assignment/probe machinery is identical. At scale the corpus is
    written partitioned/bucketed by cell_id, so a probe reads
    nprobe/num_cells of the data.
    """
    centroids = seeded_centroids(corpus, num_cells, id_col, vec_col)
    return _ivf_topk(
        _ivf_cells(corpus, centroids, id_col, vec_col),
        _query_cells(queries, centroids, nprobe, id_col, vec_col),
        k,
    )


def _ivf_cells(
    corpus: DataFrame, centroids: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(neighbor_id, v, cell_id): each corpus vector in its nearest cell
    — the IVF index rows, scored inline or written partitioned."""
    c = corpus.select(F.col(id_col).alias("neighbor_id"), _dvec(F.col(vec_col)).alias("v"))
    return ivf_assign_cells(fan_out(c), centroids, nprobe=1, id_col="neighbor_id")


def _query_cells(
    queries: DataFrame, centroids: DataFrame, nprobe: int, id_col: str, vec_col: str
) -> DataFrame:
    """(query_id, v, cell_id): each query in its ``nprobe`` nearest cells."""
    q = queries.select(F.col(id_col).alias("query_id"), _dvec(F.col(vec_col)).alias("v"))
    return ivf_assign_cells(q, centroids, nprobe=nprobe, id_col="query_id")


def _ivf_topk(cells: DataFrame, q_cells: DataFrame, k: int) -> DataFrame:
    """The IVF scoring body, inline and persisted: each query scores the
    rows of the cells it probes. Distinct, because a neighbor can meet a
    query through several probed cells."""
    return _topk(
        _scores(
            cells.withColumnRenamed("v", "cvec"),
            q_cells.withColumnRenamed("v", "qvec"),
            "cell_id",
        ).distinct(),
        k,
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    nbits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥ t),
    bucketed by sign-LSH so only same-bucket pairs are scored. Vectors
    with cosine ≥ 0.95 almost always agree on high-|value| sign bits, so
    recall loss concentrates near the threshold — the standard trade."""
    base = df.select(
        F.col(id_col).alias("id"),
        _dvec(F.col(vec_col)).alias("v"),
        sign_bucket(F.col(vec_col), nbits).alias("bucket"),
    )
    a = base.select(F.col("id").alias("id_a"), F.col("v").alias("va"), "bucket")
    b = base.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cosine(F.col("va"), F.col("vb")), 4).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def ivf_trained_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_cells: int = 8,
    nprobe: int = 2,
    train_iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN with TRAINED centroids: the coarse quantizer is
    operators/kmeans.lloyd_kmeans (deterministic init, sequential-fold
    arithmetic), then the same cell-assignment / nprobe-probe machinery
    as ivf_ann_topk. This is the production IVF shape — k-means cells
    follow the data distribution, so cell populations are balanced and
    probes recall more true neighbors than seeded cells at equal cost.

    At 100 TB: train on a sample (the quantizer needs only statistical
    coverage), broadcast the k·dim centroid table, write the corpus
    bucketed by cell_id so a probe reads nprobe/num_cells of the data.
    """
    from reddit_tech_jobs_data_pipeline_spark.operators.kmeans import lloyd_kmeans

    centroids = lloyd_kmeans(
        corpus, k=num_cells, dim=dim, iterations=train_iters,
        id_col=id_col, vec_col=vec_col,
    ).select(F.col("cid").alias("cell_id"), "cvec")
    return _ivf_topk(
        _ivf_cells(corpus, centroids, id_col, vec_col),
        _query_cells(queries, centroids, nprobe, id_col, vec_col),
        k,
    )


# ---------------------------------------------------------------------------
# Materialized IVF index: corpus written PARTITIONED BY cell_id so a
# probe physically reads only the probed cells (partition pruning),
# backing the "a probe reads nprobe/num_cells of the data" claim with
# an on-disk layout instead of prose. tests/test_ann_index.py asserts
# the pruning from df.inputFiles() and the scan's PartitionFilters.
# ---------------------------------------------------------------------------


def seeded_centroids(
    corpus: DataFrame,
    num_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Training-free deterministic coarse quantizer (the first
    ``num_cells`` vectors by id) — ivf_ann_topk's seeding, factored out
    so the materialized-index path can share it. Production: swap for
    operators/kmeans.lloyd_kmeans centroids; the index layout and the
    probe are identical either way."""
    return corpus.filter(F.col(id_col) < num_cells).select(
        F.col(id_col).alias("cell_id"), _dvec(F.col(vec_col)).alias("cvec")
    )


def write_ivf_index(
    corpus: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the cell-assigned corpus partitioned by ``cell_id``
    (one directory per cell). At 100 TB this is the one-time index
    build: a broadcast assignment pass + a partitioned write; every
    subsequent query workload reads nprobe/num_cells of the bytes."""
    _cluster_for_partitioned_write(
        _ivf_cells(corpus, centroids, id_col, vec_col), "cell_id", path, "overwrite"
    )


def append_ivf_index(
    corpus_delta: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental index maintenance: assign a NEW batch of vectors with
    the index's FROZEN centroids and append its rows to the existing
    write_ivf_index layout (parquet append into the cell_id= dirs —
    touched cells gain a fragment, untouched cells aren't rewritten).
    Cell assignment is per-vector deterministic given the centroids, so
    append ≡ rebuild-from-scratch with those centroids: a probe over the
    appended index returns exactly what a full rewrite would (the
    ivf_index_append_probe catalog query value-checks this against the
    full-corpus oracle). This is the daily-ingest path at 100 TB — one
    broadcast-assignment pass over the DELTA only; retraining/rewriting
    the whole index per ingest day is the anti-pattern. Fragment buildup
    in hot cells is maintenance.compact_ivf_index's job (layout-
    preserving; compact_append_store refuses cell_id= layouts)."""
    _cluster_for_partitioned_write(
        _ivf_cells(corpus_delta, centroids, id_col, vec_col), "cell_id", path, "append"
    )


def _cluster_for_partitioned_write(df: DataFrame, col: str, path: str, mode: str) -> None:
    """Write ``df`` to ``path`` partitioned by ``col`` (``mode``
    overwrite for a build, append for a delta), hash-clustered by the
    partition column with an EXPLICIT task count (defaultParallelism)
    first: one file per partition value per write instead of one per
    (task × value), so a probe opens fewer fragments.

    ``repartition(col)`` with no count is an advisory shuffle AQE's
    partition coalescing happily collapses — at index scale the shuffled
    bytes are tiny, so every partitioned index write was landing in ONE
    task that initialized its few hundred parquet writers sequentially
    (measured r15 at sf0.1: the 253-bucket SRP build write 4.4 s
    coalesced vs 1.2-1.4 s spread; guide §2.6 idle capacity). An explicit
    count pins the fan-out (AQE does not coalesce user-specified
    repartitions) and keeps writer setup parallel on any cluster size,
    while hashing on the column still lands ALL of a bucket's rows in
    exactly one task — the ≤1 file per non-empty bucket per write
    contract is untouched."""
    n = df.sparkSession.sparkContext.defaultParallelism
    df.repartition(n, F.col(col)).write.mode(mode).partitionBy(col).parquet(path)


def _books_geometry_from_rows(rows, dim: int | None, who: str) -> tuple[int, int]:
    """(m, sub_w) of a persisted codebook table, DERIVED from the books
    themselves — never trusted from the caller: a wrong ``dim`` would
    slice wrong subvectors and silently append garbage codes into a
    healthy index. ``dim`` is cross-checked against m×sub_w and the call
    refuses on mismatch (a probe has no dim and passes None; it checks
    its codes table's width instead, _probe_book_parts). Takes COLLECTED
    book rows so the geometry probe shares the one bounded collect the
    frozen-books encode needs anyway (books are m×ks rows — KBs at any
    corpus size)."""
    if not rows:
        raise ValueError(f"{who}: empty codebooks")
    widths = sorted({len(r.cvec) for r in rows})
    if len(widths) != 1:
        raise ValueError(f"{who}: codebooks have mixed subvector widths {widths}")
    subs = {r.sub for r in rows}
    m = len(subs)
    # the frozen-books encode indexes by_sub[s] for s in range(m): a gap
    # (e.g. a partially-written books table with subs {0, 2}) would
    # otherwise surface as a bare KeyError deep in expression generation
    if subs != set(range(m)):
        raise ValueError(
            f"{who}: codebook sub ids {sorted(subs)} are not contiguous "
            f"0..{m - 1} — the books table is corrupt or partially written"
        )
    # non-finite centroid components would render as 'infD'/'nanD' SQL
    # literals in the frozen-books encode and die as an opaque parse
    # error; refuse here with an attributable message instead
    bad = [
        (r.sub, r.cid)
        for r in rows
        if any(not math.isfinite(float(x)) for x in r.cvec)
    ]
    if bad:
        raise ValueError(
            f"{who}: non-finite centroid components in (sub, cid) {bad[:5]}"
            f"{' …' if len(bad) > 5 else ''} — retrain or repair the books"
        )
    sub_w = widths[0]
    if dim is not None and dim != m * sub_w:
        raise ValueError(
            f"{who}: dim={dim} inconsistent with persisted books "
            f"(m={m} subspaces × sub_w={sub_w} = {m * sub_w})"
        )
    return m, sub_w


def _frozen_encode_exprs(
    vec_sql: str, books_rows, m: int, sub_w: int, cid_type: str
):
    """All m PQ code columns as PURE EXPRESSIONS over a collected
    codebook — the map-only encode for frozen-books appends. Per
    subspace, the squared distance to each of the ks centroids is the
    identical sequential zip_with/aggregate fold assign_clusters uses
    (bit-exact, so expression-encode ≡ join-encode ≡ the oracle), and
    the argmin with (dist asc, cid asc) tie-break is array_min over
    (dist, cid) structs. Replaces m broadcast joins + m row_number
    windows + an m-way vec_id join chain with ONE projection: the
    encode becomes an embarrassing map over the delta — zero shuffles,
    which is the shape index maintenance must have at 100 TB (the r10
    append regression was exactly this overhead).

    ``vec_sql`` is the SQL text of the vector column. The expressions
    are generated as SQL strings and parsed with ONE F.expr call per
    subspace: building the same tree through the Column API costs ~5.5 s
    of py4j round-trips for m×ks lambda closures (measured at m=8,
    ks=16), 25× the 0.2 s the encode itself takes. Centroid literals use
    repr(float) + 'D' — shortest-roundtrip decimal, parsed back to the
    bit-identical double (_dlit)."""
    by_sub: dict[int, list] = {}
    for r in books_rows:
        by_sub.setdefault(r.sub, []).append((r.cid, list(r.cvec)))

    exprs = []
    for s in range(m):
        sv = f"slice({vec_sql}, {s * sub_w + 1}, {sub_w})"
        cands = []
        for cid, cvec in sorted(by_sub[s]):
            cent = "array(" + ", ".join(_dlit(x) for x in cvec) + ")"
            d = (
                f"aggregate(zip_with({sv}, {cent}, (x, y) -> (x - y) * (x - y)), "
                f"0.0D, (acc, x) -> acc + x)"
            )
            cands.append(
                f"named_struct('dist', {d}, 'cid', CAST({cid} AS {cid_type}))"
            )
        exprs.append(
            F.expr(f"array_min(array({', '.join(cands)})).cid").alias(f"code_{s}")
        )
    return exprs


def _validate_vec_width(df: DataFrame, vec_col: str, dim: int, who: str) -> bool:
    """Refuse delta vectors whose length doesn't match the index
    geometry — a short vector would slice to truncated subvectors and
    encode to wrong-but-plausible codes. One column-pruned min/max
    aggregate over the delta (the daily batch, not the corpus), which
    also sees an empty delta: returns False then, and the append writes
    nothing."""
    row = df.agg(
        F.min(F.size(vec_col)).alias("lo"), F.max(F.size(vec_col)).alias("hi")
    ).collect()[0]
    if row.lo is None:
        return False
    if row.lo != dim or row.hi != dim:
        raise ValueError(
            f"{who}: delta vector lengths [{row.lo}, {row.hi}] != index dim {dim}"
        )
    return True


def load_pq_books(spark, path: str, dim: int | None, who: str = "load_pq_books"):
    """Read + collect the frozen codebooks once: (rows, cid_type, m,
    sub_w), validated by _books_geometry_from_rows. The model is KBs and
    immutable after the build, so a caller ingesting MANY deltas in one
    run (the streaming foreachBatch loop) should load once and pass the
    result to every append instead of re-reading + re-collecting per
    micro-batch."""
    books = spark.read.parquet(f"{path}/books")
    cid_type = dict(books.dtypes)["cid"]
    rows = books.select("sub", "cid", "cvec").collect()
    m, sub_w = _books_geometry_from_rows(rows, dim, who)
    return rows, cid_type, m, sub_w


def append_pq_index(
    spark,
    corpus_delta: DataFrame,
    path: str,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    books_model=None,
) -> None:
    """Incremental PQ maintenance: encode a NEW batch with the index's
    FROZEN codebooks (read from ``path/books``, or passed preloaded via
    ``books_model`` = load_pq_books(...) when one run appends many
    deltas) and append the codes — the codebook files are never touched.
    Per-subspace nearest-centroid assignment is deterministic given the
    codebooks, so append ≡ re-encode of the union: probes over the
    appended index match a from-scratch encode with the same books
    (value-checked by ann_pq_index_append against the full-corpus
    oracle). The encode is ONE map-only projection over the DELTA
    (codebooks collected once — KBs — and inlined as expressions,
    _frozen_encode_exprs), plus one column-pruned validation scan; no
    joins, no shuffles. An empty delta writes nothing."""
    rows, cid_type, m, sub_w = books_model or load_pq_books(
        spark, path, dim, "append_pq_index"
    )
    base = corpus_delta.select(
        F.col(id_col).alias("vec_id"), _dvec(F.col(vec_col)).alias("__v")
    )
    if not _validate_vec_width(base, "__v", m * sub_w, "append_pq_index"):
        return
    base.select(
        "vec_id", *_frozen_encode_exprs("__v", rows, m, sub_w, cid_type)
    ).write.mode("append").parquet(f"{path}/codes")


def ivf_index_topk(
    spark,
    index_path: str,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a write_ivf_index layout: assign each query its ``nprobe``
    nearest cells, then read ONLY those cells' partitions (the
    ``isin`` filter prunes at the directory level — no bytes of
    unprobed cells are scanned). The probed-cell collect is bounded by
    ``num_cells`` (cell ids, not data), never corpus-sized. Scores and
    ranking replicate ivf_ann_topk exactly — parquet round-trips the
    doubles bit-identically — so the same oracle gates both."""
    q_cells = _query_cells(queries, centroids, nprobe, id_col, vec_col)
    return _ivf_topk(_read_probed(spark, index_path, q_cells, "cell_id"), q_cells, k)


def _read_probed(spark, path: str, probes: DataFrame, col: str) -> DataFrame:
    """The persisted index at ``path`` read back in ONLY the partitions
    the queries probe: the distinct ``col`` keys of ``probes`` are
    collected (bounded by the partition count — keys, never data) and
    the ``isin`` filter prunes at the directory level, so no byte of an
    unprobed partition is scanned."""
    keys = sorted(r[col] for r in probes.select(col).distinct().collect())
    return spark.read.parquet(path).filter(F.col(col).isin(keys))


# ---------------------------------------------------------------------------
# int8 scalar quantization — the compressed-corpus ANN path
# ---------------------------------------------------------------------------

def quantization_stats(
    df: DataFrame, vec_col: str = "embedding"
) -> tuple[list[float], list[float]]:
    """Per-dimension (min, max) quantization model over an embedding
    column — ONE narrow posexplode + groupBy(dim) pass producing exactly
    D rows, which are collected (bounded by the embedding width, never
    by the corpus). min/max involve no summation, so the model is
    bit-identical on any engine and any partitioning."""
    stats = (
        df.select(F.posexplode(_dvec(F.col(vec_col))).alias("pos", "v"))
        .groupBy("pos")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .orderBy("pos")
        .collect()
    )
    return [r.mn for r in stats], [r.mx for r in stats]


def quantize_codes(
    vec: Column, mn: list[float], mx: list[float], nlevels: int = 256
) -> Column:
    """8-bit (default) scalar quantization codes for one vector column:
    ``q_d = min(nlevels−1, ⌊(x−mn_d)/(mx_d−mn_d)·nlevels⌋)``, constant-0
    on degenerate dims (mx = mn). Pure Catalyst ``transform`` with
    literal model arrays — no shuffle, no Python."""
    mn_l = F.array(*[F.lit(float(v)) for v in mn])
    mx_l = F.array(*[F.lit(float(v)) for v in mx])
    top = F.lit(nlevels - 1).cast("long")

    def code(x: Column, i: Column) -> Column:
        lo = F.element_at(mn_l, i + 1)
        hi = F.element_at(mx_l, i + 1)
        return (
            F.when(hi == lo, F.lit(0).cast("long"))
            .otherwise(
                F.least(
                    top,
                    F.floor((x.cast("double") - lo) / (hi - lo) * nlevels),
                )
            )
            .cast("int")
        )

    return F.transform(vec, code)


def dequantize(
    codes: Column, mn: list[float], mx: list[float], nlevels: int = 256
) -> Column:
    """Midpoint reconstruction ``mn_d + (q + 0.5)·(mx_d − mn_d)/nlevels``
    (degenerate dims reconstruct to mn_d exactly — the range factor is 0)."""
    mn_l = F.array(*[F.lit(float(v)) for v in mn])
    mx_l = F.array(*[F.lit(float(v)) for v in mx])
    return F.transform(
        codes,
        lambda q, i: F.element_at(mn_l, i + 1)
        + (q.cast("double") + F.lit(0.5))
        * (F.element_at(mx_l, i + 1) - F.element_at(mn_l, i + 1))
        / F.lit(float(nlevels)),
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlevels: int = 256,
) -> DataFrame:
    """Top-k cosine neighbors against an int8 scalar-quantized corpus —
    asymmetric distance computation (queries stay full-precision, corpus
    vectors are 8-bit codes reconstructed at their cell midpoints).

    The 100 TB point is the CODES TABLE: 8-bit codes cut the materialized
    corpus 4× vs float32 (8× vs float64), which is the difference between
    an ANN index that fits executor memory and one that spills; the same
    codes feed the IVF cell lists (ivf_ann_topk) unchanged. Scoring here
    is the exact brute-force window over dequantized vectors so recall
    loss comes from quantization ONLY — tests pin recall@k against the
    float path, and the catalog oracle recomputes the identical
    quantize→dequantize→score pipeline in SQL (the model, codes, and
    reconstructions are bit-identical across engines; only the final
    cosine sums carry ~1e-15 reassociation noise, absorbed by 4-dp
    rounding).

    Output: (query_id, neighbor_id, cosine, rank) — same contract as
    brute_force_topk.
    """
    mn, mx = quantization_stats(corpus, vec_col)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        dequantize(
            quantize_codes(F.col(vec_col), mn, mx, nlevels), mn, mx, nlevels
        ).alias("cvec"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _dvec(F.col(vec_col)).alias("qvec")
    )
    return _topk(_scores(c, q), k)


def label_centroid_outliers(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    z_thresh: float = 2.0,
) -> DataFrame:
    """Embedding QC: flag vectors unusually FAR from their own label's
    centroid — the candidate mislabeled / noisy rows a training set
    should quarantine before contrastive mining trusts the labels.

    Plan: per-label centroid via one posexplode + groupBy(label, dim)
    average (labels×D rows — model-table-sized, broadcasts back), then
    per-vector cosine to its centroid (narrow map), then a labels-sized
    mean/σ aggregation of those cosines and a z-score join. The corpus
    is scanned twice (centroid pass + scoring pass), never shuffled by
    vector.

    Returns every row: (id, label, cos_centroid, z, is_outlier) with
    ``is_outlier ⟺ z ≤ −z_thresh`` (only the far-side tail — vectors
    unusually CLOSE to the centroid are fine). Cosines and z are
    4-dp-rounded; z is computed FROM the rounded cosines so both
    engines z-score identical inputs (residual float-sum noise in
    mean/σ is the usual accepted-noise class)."""
    cen = (
        df.select(F.col(label_col).alias("label"), F.posexplode(_dvec(F.col(vec_col))).alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.avg("v").alias("m"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("ps"))
        .select("label", F.transform("ps", lambda s: s["m"]).alias("centroid"))
    )
    scored = (
        df.select(
            F.col(id_col).alias("id"),
            F.col(label_col).alias("label"),
            _dvec(F.col(vec_col)).alias("v"),
        )
        .join(F.broadcast(cen), "label")
        .select(
            "id",
            "label",
            F.round(cosine(F.col("v"), F.col("centroid")), 4).alias("cos_centroid"),
        )
    )
    stats = scored.groupBy("label").agg(
        F.avg("cos_centroid").alias("mu"), F.stddev_pop("cos_centroid").alias("sigma")
    )
    z = F.round((F.col("cos_centroid") - F.col("mu")) / F.col("sigma"), 4)
    return scored.join(F.broadcast(stats), "label").select(
        "id",
        "label",
        "cos_centroid",
        z.alias("z"),
        (z <= -float(z_thresh)).alias("is_outlier"),
    )


def pq_encode(
    corpus: DataFrame,
    m: int = 4,
    ks: int = 8,
    train_iters: int = 1,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Product quantization (Jégou et al. 2011): split each vector into
    ``m`` subvectors of dim/m, k-means each subspace independently
    (deterministic init + ordered-fold arithmetic — bit-exact across
    engines, the lloyd_kmeans contract), and encode every vector as m
    centroid ids. Returns (codes, codebooks):

    * codes — one row per vector: (id_col, code_0..code_{m-1}) — the
      100 TB artifact: m bytes per vector (m=4, ks=8 → 4 sub-byte codes)
      vs dim×4 float bytes, a 64× smaller corpus representation than
      float32 at dim=64, vs the int8 path's 4×;
    * codebooks — m×ks rows: (sub, cid, cvec) — KBs, broadcast anywhere.

    At 100 TB: train on a sample per subspace (statistical coverage,
    same as the IVF coarse quantizer), broadcast the codebooks, encode
    in one embarrassing-parallel pass (m broadcast-join argmins).
    """
    books = pq_train_books(corpus, m, ks, train_iters, dim, id_col, vec_col)
    codes = pq_encode_with_books(corpus, books, m, dim, id_col, vec_col)
    return codes, books


def pq_train_books(
    corpus: DataFrame,
    m: int = 4,
    ks: int = 8,
    train_iters: int = 1,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The training half of ``pq_encode``: m per-subspace Lloyd runs as
    ONE dataflow keyed by ``sub``, producing the (sub, cid, cvec)
    codebook table. Lazy — one materialization executes the whole
    training.

    r14 restructure (guide §2.4 / §1.2 "the distributed algorithm"):
    the former shape ran m INDEPENDENT lloyd_kmeans DAGs and unioned
    them — m init sorts, m×iters assignment passes and m×iters update
    shuffles per materialization (the plan grew with m, and so did the
    AQE job count). Here every iteration is ONE argmin projection
    computing all m subspace assignments (the pq_encode_with_books
    expression) and ONE (sub, cid) update aggregation — plan size and
    shuffle count independent of m. The per-subspace arithmetic is
    unchanged and bit-exact: identical `_sq_dist` sequential folds,
    identical (dist, cid) argmin tie-break, identical vec_id-ordered
    member fold in the update (update_centroids' contract), identical
    lowest-k-vec_id init — so the books match the per-subspace
    lloyd_kmeans output value-for-value (same oracle gates both)."""
    from reddit_tech_jobs_data_pipeline_spark.operators.kmeans import _sq_dist

    if train_iters < 1:
        raise ValueError("pq_train_books requires train_iters >= 1")
    sub = dim // m
    base = fan_out(
        corpus.select(F.col(id_col).alias("vec_id"), _dvec(F.col(vec_col)).alias("__v"))
    )
    # init: the ks lowest-vec_id vectors seed every subspace (cid =
    # rank among the seeds — lloyd_kmeans' deterministic init, computed
    # once and sliced per sub)
    w = Window.orderBy("vec_id")
    seeds = (
        base.orderBy("vec_id")
        .limit(ks)
        .select((F.row_number().over(w) - 1).alias("cid"), F.col("__v"))
    )
    cents = seeds.select(
        "cid",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("sub"),
                        F.slice("__v", s * sub + 1, sub).alias("cvec"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("__sc"),
    ).select(F.col("__sc.sub").alias("sub"), "cid", F.col("__sc.cvec").alias("cvec"))
    zeros = F.array_repeat(F.lit(0.0), sub)
    for it in range(train_iters):
        cent_arr = cents.agg(
            F.collect_list(F.struct("sub", "cid", "cvec")).alias("__books")
        )

        def member_struct(s: int):
            sl = F.slice(F.col("__v"), s * sub + 1, sub)
            scored = F.transform(
                F.filter(F.col("__books"), lambda b: b["sub"] == F.lit(s)),
                lambda b: F.struct(
                    _sq_dist(sl, b["cvec"]).alias("dist"), b["cid"].alias("cid")
                ),
            )
            return F.struct(
                F.lit(s).alias("sub"),
                F.array_min(scored)["cid"].alias("cid"),
                sl.alias("v"),
            )

        memb = (
            base.join(F.broadcast(cent_arr))
            .select(
                "vec_id",
                F.explode(
                    F.array(*[member_struct(s) for s in range(m)])
                ).alias("__m"),
            )
            .select(
                "vec_id",
                F.col("__m.sub").alias("sub"),
                F.col("__m.cid").alias("cid"),
                F.col("__m.v").alias("v"),
            )
        )
        # update_centroids' ordered fold, grouped by (sub, cid): members
        # fold in vec_id order — the bit-exact oracle-parity update
        grouped = memb.groupBy("sub", "cid").agg(
            F.count(F.lit(1)).alias("n"),
            F.array_sort(F.collect_list(F.struct("vec_id", "v"))).alias("members"),
        )
        summed = F.aggregate(
            F.transform(F.col("members"), lambda mm: mm["v"]),
            zeros,
            lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
        )
        cents = grouped.select(
            "sub", "cid", F.transform(summed, lambda x: x / F.col("n")).alias("cvec")
        )
        if (it + 1) % 4 == 0 and it + 1 < train_iters:
            cents = cents.localCheckpoint()
    return cents.select("sub", "cid", "cvec")


def pq_encode_with_books(
    corpus: DataFrame,
    books: DataFrame,
    m: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The encode half of ``pq_encode``: ALL m subspace codes in ONE
    map-only pass. The codebook table (m×ks rows — KBs at any corpus
    size) collapses to a single array row and rides a broadcast
    nested-loop join; each ``code_s`` is a higher-order-function argmin
    over that sub's centroids (identical `_sq_dist` fold, identical
    (dist, cid) tie-break — a unique total order, so the value is
    independent of the array's element order).

    r14 rewrite (guide §2.4): the former shape ran one
    ``assign_clusters`` per subspace — m broadcast-join ×ks row
    explosions, m row_number windows (each an exchange + sort of the
    corpus) — then re-joined the m assignment tables on vec_id (m-1
    more joins). This emits the same (vec_id, code_0..code_{m-1}) rows
    from one projection with zero exchanges on the corpus side, which
    is also the 100 TB encode shape: broadcast the KB model, one
    embarrassing-parallel pass."""
    from reddit_tech_jobs_data_pipeline_spark.operators.kmeans import _sq_dist

    sub = dim // m
    base = fan_out(
        corpus.select(F.col(id_col).alias("vec_id"), _dvec(F.col(vec_col)).alias("__v"))
    )
    books_arr = books.agg(
        F.collect_list(F.struct("sub", "cid", "cvec")).alias("__books")
    )

    def code_expr(s: int):
        sl = F.slice(F.col("__v"), s * sub + 1, sub)
        scored = F.transform(
            F.filter(F.col("__books"), lambda b: b["sub"] == F.lit(s)),
            lambda b: F.struct(
                _sq_dist(sl, b["cvec"]).alias("dist"), b["cid"].alias("cid")
            ),
        )
        return F.array_min(scored)["cid"].alias(f"code_{s}")

    return base.join(F.broadcast(books_arr)).select(
        "vec_id", *[code_expr(s) for s in range(m)]
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    ks: int = 8,
    train_iters: int = 1,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank_n: int = 0,
) -> DataFrame:
    """Top-k cosine ANN against the PQ-encoded corpus — asymmetric
    scoring (full-precision queries vs codebook-reconstructed corpus
    vectors), the same contract as the int8 scalar path but with a
    learned, distribution-following code per SUBSPACE instead of a
    per-dimension grid. Reconstruction = concat of the m selected
    centroids, so recall loss comes from quantization only.

    ``rerank_n > 0`` is the PRODUCTION two-stage shape (shortlist by
    ADC, exact-rescore the shortlist): the quantized pass prunes the
    corpus to rerank_n candidates per query, then only those rows touch
    full-precision vectors. Measured on the synthetic (unclustered —
    PQ's worst case) embeddings: sf0.001 ADC recall@5 = 0.27 (m=8,
    ks=16), +50-rerank = 0.82; sf0.1 (2000 vectors) ADC 0.15,
    +50-rerank 0.63, +200-rerank 0.92 — the shortlist depth is the
    recall knob as the corpus grows, pinned at both SFs in
    tests/test_pq_ann.py. At 100 TB the shortlist
    is a vanishing fraction of the corpus, which is the point: exact
    scoring cost collapses from |corpus| to rerank_n per query while the
    ADC pass reads only the m-byte codes table. The catalog oracle
    replays the identical train→encode→reconstruct→shortlist→rescore
    pipeline in SQL (recall pinned in tests/test_pq_ann.py).

    Output: (query_id, neighbor_id, cosine, rank) — brute_force_topk's
    contract; with rerank the cosine is the EXACT one. Codes/books are
    localCheckpointed at the train/score boundary (the ivfpq_topk
    rationale: lazy, they are re-derived per consuming branch — the
    persisted write_pq_index path is the production form)."""
    # train ONCE (books checkpoint executes all m subspace trainings in
    # one job), then the encode is a single map-only pass against the
    # materialized KB model — r14: the former pq_encode-then-checkpoint
    # order re-ran the m trainings for each of codes/books
    books = pq_train_books(corpus, m, ks, train_iters, dim, id_col, vec_col).localCheckpoint()
    codes = pq_encode_with_books(corpus, books, m, dim, id_col, vec_col).localCheckpoint()
    c = _pq_reconstruct(codes, books, m)
    return _pq_topk(c, queries, corpus, k, rerank_n, id_col, vec_col, "pq_topk")


def _book_literal_parts(book_rows, m: int) -> list[Column]:
    """Per-subspace centroid lookup expressions from COLLECTED book rows
    — the model rides the plan as literal arrays (dense cid→cvec tables;
    gaps from centroids that lost all members are zero-filled and
    unreferenced), `element_at` is whole-stage-codegen'd, and no join or
    broadcast exchange exists at all. Shared by the persisted-index
    probes and the inline reconstruct."""
    by_sub: dict[int, dict[int, list[float]]] = {}
    for r in book_rows:
        by_sub.setdefault(int(r.sub), {})[int(r.cid)] = [float(x) for x in r.cvec]
    parts = []
    for s in range(m):
        cmap = by_sub[s]
        width = len(next(iter(cmap.values())))
        table = [cmap.get(cid, [0.0] * width) for cid in range(max(cmap) + 1)]
        lit = F.array(*[F.array(*[F.lit(x) for x in row]) for row in table])
        parts.append(F.element_at(lit, F.col(f"code_{s}") + 1))
    return parts


def _pq_reconstruct(codes: DataFrame, books: DataFrame, m: int) -> DataFrame:
    """Codebook reconstruction to (neighbor_id, cvec). ``books`` must be
    MATERIALIZED (localCheckpointed or read back from disk) — it is
    collected here (bounded: the m×ks-row model, never data) and inlined
    as literal lookup arrays. The former shape ran m broadcast hash
    joins (one per subspace); the literal path is one map-only
    projection with zero exchanges (r14, guide §2.4 — the
    pq_index_topk contract, now shared by the inline forms; collected
    doubles round-trip bit-identically through F.lit)."""
    rvec = F.concat(*_book_literal_parts(books.collect(), m))
    return codes.select(F.col("vec_id").alias("neighbor_id"), rvec.alias("cvec"))


def _pq_topk(
    c: DataFrame,
    queries: DataFrame,
    corpus: DataFrame | None,
    k: int,
    rerank_n: int,
    id_col: str,
    vec_col: str,
    who: str,
) -> DataFrame:
    """PQ's ADC scoring of the reconstructed corpus ``c`` (neighbor_id,
    cvec) against the full-precision queries, then the rerank tail."""
    q = queries.select(F.col(id_col).alias("query_id"), _dvec(F.col(vec_col)).alias("qvec"))
    return _rerank_topk(_scores(c, q), queries, corpus, k, rerank_n, id_col, vec_col, who)


def _rerank_topk(
    scored: DataFrame,
    queries: DataFrame,
    corpus: DataFrame | None,
    k: int,
    rerank_n: int,
    id_col: str,
    vec_col: str,
    who: str,
) -> DataFrame:
    """The two-stage tail of the quantized top-ks (PQ, IVF-PQ inline and
    persisted). ``scored`` holds the ADC (quantized) cosines; with
    ``rerank_n`` ≤ 0 they rank directly. Otherwise each query keeps its
    rerank_n-row ADC shortlist and only those rows are rescored exactly
    against the raw ``corpus`` vectors, which is then required."""
    if rerank_n <= 0:
        return _topk(scored, k)
    if corpus is None:
        raise ValueError(f"{who}: rerank_n > 0 requires the raw corpus")
    q = queries.select(F.col(id_col).alias("query_id"), _dvec(F.col(vec_col)).alias("qvec"))
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), _dvec(F.col(vec_col)).alias("cvec2")
    )
    shortlist = _topk(scored, rerank_n).select("query_id", "neighbor_id")
    exact = shortlist.join(cv, "neighbor_id").join(F.broadcast(q), "query_id").select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("qvec"), F.col("cvec2")), 4).alias("cosine"),
    )
    return _topk(exact, k)


def write_pq_index(
    corpus: DataFrame,
    path: str,
    m: int = 4,
    ks: int = 8,
    train_iters: int = 1,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the PQ index ONCE: train the m per-subspace codebooks,
    encode every corpus vector as m codes, and persist both — codes at
    ``path/codes`` (one row per vector, m small ints — the 100 TB
    artifact, ~m bytes/vector vs dim×4 float bytes), codebooks at
    ``path/books`` (m×ks rows, KBs). This is the build half of the
    build-once/probe-many split the IVF pair (write_ivf_index /
    ivf_index_topk) established: at 100 TB, retraining codebooks per
    query is an index rebuild per lookup — ann_pq_topk's 43-scan plan
    collapses to a codes read + broadcast joins once the index is on
    disk. Centroid vectors are doubles; parquet round-trips them
    bit-identically, so a probe scores exactly like the in-memory path
    and the same oracle gates both."""
    books = pq_train_books(corpus, m, ks, train_iters, dim, id_col, vec_col).localCheckpoint()
    codes = pq_encode_with_books(corpus, books, m, dim, id_col, vec_col)
    codes.write.mode("overwrite").parquet(f"{path}/codes")
    books.coalesce(1).write.mode("overwrite").parquet(f"{path}/books")


def pq_index_topk(
    spark,
    index_path: str,
    queries: DataFrame,
    corpus: DataFrame | None = None,
    k: int = 5,
    rerank_n: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a write_pq_index layout: read the m-byte codes table (NOT
    the raw corpus), reconstruct with the codebooks baked into the plan
    as LITERAL lookup arrays (the codebooks are the trained MODEL —
    m×ks×(dim/m) doubles, KBs at any corpus size — so they ride the
    plan like quantize_codes' mn/mx model, not a join side: zero
    shuffles, zero extra scans, whole-stage-codegen'd element_at), ADC
    shortlist, and — when ``rerank_n > 0`` — exact-rescore only the
    shortlist against ``corpus`` full-precision vectors (the production
    two-stage shape; ``corpus`` is required then). m is inferred from
    the persisted codes schema. element_at on a literal array returns
    the identical stored doubles, so scores replicate pq_topk exactly
    and the same oracle gates both (the ivf_index_topk contract)."""
    codes = spark.read.parquet(f"{index_path}/codes")
    parts = _probe_book_parts(spark, index_path, codes, "pq_index_topk")
    c = codes.select(
        F.col("vec_id").alias("neighbor_id"), F.concat(*parts).alias("cvec")
    )
    return _pq_topk(c, queries, corpus, k, rerank_n, id_col, vec_col, "pq_index_topk")


def _probe_book_parts(spark, index_path: str, codes: DataFrame, who: str) -> list[Column]:
    """The codebook literals a probe reconstructs with, read through the
    appends' validated path (load_pq_books: a bounded collect of the
    model, never data), plus the one check a probe adds: the codes table
    carries exactly one ``code_*`` column per subspace of the books."""
    rows, _cid_type, m, _sub_w = load_pq_books(spark, index_path, None, who)
    n_codes = sum(1 for col in codes.columns if col.startswith("code_"))
    if n_codes != m:
        raise ValueError(
            f"{who}: codes table at {index_path} has {n_codes} code columns "
            f"but the books have m={m} subspaces — the index is corrupt"
        )
    return _book_literal_parts(rows, m)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_cells: int = 8,
    nprobe: int = 2,
    m: int = 4,
    ks: int = 8,
    train_iters: int = 1,
    dim: int = 64,
    rerank_n: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ (Jégou et al. 2011 §IV, the FAISS IndexIVFPQ production
    shape): the two halves of the ANN family composed — a coarse
    quantizer routes vectors to cells (IVF), and what the cells store is
    not the vector but the PQ code of its RESIDUAL v − centroid(cell).
    Residuals are centered near zero with far less variance than raw
    vectors, so the same m×ks codebook budget quantizes them with less
    error than raw-vector PQ — and the probe both (a) reads only
    nprobe/num_cells of the codes (the IVF pruning) and (b) reads m-byte
    codes instead of dim×4-byte floats within those cells (the PQ
    compression). Codebooks are GLOBAL across cells (one residual
    codebook, the standard layout — per-cell books would be
    num_cells× the training and broadcast cost for marginal gain).

    Pipeline, all existing audited pieces: seeded coarse centroids →
    nprobe=1 assignment (cosine round-6, cell tiebreak) → residual =
    zip_with(v, cvec, −) → pq_encode on residuals → ADC scoring of
    probed cells against coarse + reconstructed-residual → optional
    exact rerank of the shortlist (rerank_n > 0). Scores round-4 with
    neighbor_id tiebreaks — the family's oracle contract; the DuckDB
    twin replays assignment, residual k-means, encode, reconstruct,
    probe, and rerank unrolled.

    At 100 TB: the build is one assignment pass + m subspace k-means on
    a sample + one encode pass; persist codes partitioned by cell_id
    (write_ivf_index's layout with m-byte payloads) and the probe reads
    nprobe cells × m bytes/vector. Output: (query_id, neighbor_id,
    cosine, rank) — brute_force_topk's contract.

    The train-inline pipeline MATERIALIZES its stage boundaries
    (centroids, residuals, codes/books — localCheckpoint): downstream
    consumers reference each of them from several branches, and leaving
    the whole thing lazy re-derived assignment+residual per branch —
    measured ~2× at sf0.1 (11-13 s → 6.2 s, bit-identical). The
    materialized bytes are corpus-sized — exactly what the persisted
    write_ivfpq_index path writes to parquet once; that remains the
    production form (this form re-trains per call by design)."""
    cents = seeded_centroids(corpus, num_cells, id_col, vec_col).localCheckpoint()
    resid = _residuals(corpus, cents, id_col, vec_col).localCheckpoint()
    resid_emb = resid.select("vec_id", F.col("r").alias("embedding"))
    books = pq_train_books(resid_emb, m, ks, train_iters, dim).localCheckpoint()
    codes = pq_encode_with_books(resid_emb, books, m, dim).localCheckpoint()
    rrec = _pq_reconstruct(codes, books, m).withColumnRenamed("cvec", "rrec")
    cand = rrec.join(
        resid.select(
            F.col("vec_id").alias("neighbor_id"), "cell_id", "coarse"
        ),
        "neighbor_id",
    ).select(
        "neighbor_id",
        "cell_id",
        F.zip_with("coarse", "rrec", lambda a, b: a + b).alias("cvec"),
    )
    q_cells = _query_cells(queries, cents, nprobe, id_col, vec_col)
    return _ivfpq_topk(cand, q_cells, queries, corpus, k, rerank_n, id_col, vec_col, "ivfpq_topk")


def _residuals(corpus: DataFrame, cents: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """IVF-PQ's residual step: each corpus vector assigned to its
    nearest coarse cell, minus that cell's centroid — (vec_id, cell_id,
    coarse, r), ``coarse`` being the centroid. A caller that
    materializes the result drops the columns it does not use."""
    c = corpus.select(F.col(id_col).alias("vec_id"), _dvec(F.col(vec_col)).alias("v"))
    assigned = ivf_assign_cells(fan_out(c), cents, nprobe=1, id_col="vec_id")
    return assigned.join(F.broadcast(cents), "cell_id").select(
        "vec_id",
        "cell_id",
        F.col("cvec").alias("coarse"),
        F.zip_with("v", "cvec", lambda a, b: a - b).alias("r"),
    )


def _ivfpq_topk(
    cand: DataFrame,
    q_cells: DataFrame,
    queries: DataFrame,
    corpus: DataFrame | None,
    k: int,
    rerank_n: int,
    id_col: str,
    vec_col: str,
    who: str,
) -> DataFrame:
    """IVF-PQ's ADC scoring, inline and persisted: each query scores the
    coarse + residual reconstructions (``cand``'s cvec) of the cells it
    probes, then the rerank tail."""
    scored = _scores(cand, q_cells.withColumnRenamed("v", "qvec"), "cell_id").distinct()
    return _rerank_topk(scored, queries, corpus, k, rerank_n, id_col, vec_col, who)


def write_ivfpq_index(
    corpus: DataFrame,
    path: str,
    num_cells: int = 8,
    m: int = 4,
    ks: int = 8,
    train_iters: int = 1,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> None:
    """Materialize the IVF-PQ index ONCE: coarse centroids at
    ``path/cents`` (num_cells rows), residual codebooks at
    ``path/books`` (m×ks rows), and the m-byte residual codes
    partitioned by cell_id at ``path/codes`` — the full FAISS-style
    on-disk layout: a probe partition-prunes to nprobe cell dirs and
    reads m bytes/vector inside them. Train-inline ann_ivfpq_topk
    audits at 127 scans; this split is the production path (the
    write_pq_index / write_ivf_index precedent, composed).

    Pass ``centroids`` to build against an externally-trained (or
    historical) coarse quantizer instead of seeding from this corpus —
    the incremental-append scenario, where the quantizer must stay
    FROZEN across index generations."""
    cents = (
        centroids
        if centroids is not None
        else seeded_centroids(corpus, num_cells, id_col, vec_col)
    ).localCheckpoint()
    # checkpoint: referenced by both the encode below and the final
    # cell_id join — lazy, the assignment pass would run twice
    resid = _residuals(corpus, cents, id_col, vec_col).drop("coarse").localCheckpoint()
    resid_emb = resid.select("vec_id", F.col("r").alias("embedding"))
    books = pq_train_books(resid_emb, m, ks, train_iters, dim).localCheckpoint()
    codes = pq_encode_with_books(resid_emb, books, m, dim)
    cents.coalesce(1).write.mode("overwrite").parquet(f"{path}/cents")
    books.coalesce(1).write.mode("overwrite").parquet(f"{path}/books")
    _cluster_for_partitioned_write(
        codes.join(resid.select("vec_id", "cell_id"), "vec_id"),
        "cell_id",
        f"{path}/codes",
        "overwrite",
    )


def load_ivfpq_model(spark, path: str, dim: int, who: str = "load_ivfpq_model"):
    """Read both frozen IVF-PQ models once: (cents_df (checkpointed),
    book rows, cid_type, m, sub_w). Same many-deltas-per-run rationale
    as load_pq_books — the streaming ingest otherwise re-reads and
    re-collects both models every micro-batch."""
    cents = spark.read.parquet(f"{path}/cents").localCheckpoint()
    rows, cid_type, m, sub_w = load_pq_books(spark, path, dim, who)
    return cents, rows, cid_type, m, sub_w


def append_ivfpq_index(
    spark,
    corpus_delta: DataFrame,
    path: str,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    model=None,
) -> None:
    """Incremental IVF-PQ maintenance — both models FROZEN: assign the
    new batch with the persisted coarse centroids, form residuals,
    encode them with the persisted residual codebooks, and append the
    m-byte codes into the cell_id= directories. Nothing already on disk
    is retouched. Assignment and per-subspace nearest-centroid encoding
    are deterministic given the models, so append ≡ one-shot encode of
    the union with the same models (ann_ivfpq_index_append's oracle
    proves it value-exactly). One broadcast coarse assignment + a
    map-only residual encode (codebooks collected once — KBs — and
    inlined as expressions, _frozen_encode_exprs) over the DELTA only —
    the daily-ingest cost at 100 TB; hot-cell fragment buildup is
    maintenance.compact_ivf_index's job (layout-preserving;
    compact_append_store refuses cell_id= dirs). ``model`` =
    load_ivfpq_model(...) skips the per-call model re-read when one run
    appends many deltas. An empty delta writes nothing."""
    cents, rows, cid_type, m, sub_w = model or load_ivfpq_model(
        spark, path, dim, "append_ivfpq_index"
    )
    v = corpus_delta.select(_dvec(F.col(vec_col)).alias("v"))
    if not _validate_vec_width(v, "v", m * sub_w, "append_ivfpq_index"):
        return
    resid = _residuals(corpus_delta, cents, id_col, vec_col)
    _cluster_for_partitioned_write(
        resid.select("vec_id", "cell_id", *_frozen_encode_exprs("r", rows, m, sub_w, cid_type)),
        "cell_id",
        f"{path}/codes",
        "append",
    )


def ivfpq_index_topk(
    spark,
    index_path: str,
    queries: DataFrame,
    corpus: DataFrame | None = None,
    k: int = 5,
    nprobe: int = 2,
    rerank_n: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a write_ivfpq_index layout: assign each query its nprobe
    cells against the persisted centroids, read ONLY those cells' code
    partitions (directory-level pruning — the isin filter, the
    ivf_index_topk contract), reconstruct coarse + residual with BOTH
    models as plan literals (centroids: num_cells×dim doubles; residual
    codebooks: m×ks×(dim/m) doubles — KBs each, the pq_index_topk
    contract), ADC-shortlist, and exact-rerank the shortlist against
    ``corpus`` when rerank_n > 0. Scores replicate ivfpq_topk exactly,
    so the same oracle gates both."""
    cents = spark.read.parquet(f"{index_path}/cents")
    cent_rows = sorted(
        ((int(r.cell_id), [float(x) for x in r.cvec]) for r in cents.collect())
    )
    if not cent_rows:
        raise ValueError(f"ivfpq_index_topk: empty/corrupt index at {index_path}")
    q_cells = _query_cells(queries, cents, nprobe, id_col, vec_col)
    codes = _read_probed(spark, f"{index_path}/codes", q_cells, "cell_id")
    parts = _probe_book_parts(spark, index_path, codes, "ivfpq_index_topk")
    # coarse centroid lookup rides the plan too: dense cell_id→cvec table
    max_cell = cent_rows[-1][0]
    cent_map = dict(cent_rows)
    dim_w = len(cent_rows[0][1])
    cent_lit = F.array(
        *[
            F.array(*[F.lit(x) for x in cent_map.get(cid, [0.0] * dim_w)])
            for cid in range(max_cell + 1)
        ]
    )
    coarse = F.element_at(cent_lit, F.col("cell_id").cast("int") + 1)
    cand = codes.select(
        F.col("vec_id").alias("neighbor_id"),
        "cell_id",
        F.zip_with(coarse, F.concat(*parts), lambda a, b: a + b).alias("cvec"),
    )
    return _ivfpq_topk(
        cand, q_cells, queries, corpus, k, rerank_n, id_col, vec_col, "ivfpq_index_topk"
    )


def mmr_topk(
    corpus: DataFrame,
    query_id: int = 0,
    k: int = 4,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998) diverse
    top-k: greedily select argmax of λ·rel(x) − (1−λ)·max_{s∈S} sim(x,s)
    — the diversity-aware subset selection a training-data pipeline uses
    where plain top-k would return k near-duplicates of the same point
    (and retrieval uses for result diversification). rel = cosine to the
    query vector; sim = cosine between candidates.

    Each of the k greedy steps is ONE corpus pass: the selected set S is
    ≤ k vectors, embedded as literals (broadcast-in-plan), so the step
    scores every candidate against ≤ k literals and takes a
    deterministic argmax (score rounded to 6 dp, then id) via a top-1
    TakeOrderedAndProject — no shuffle, no state beyond k vectors on the
    driver. The DuckDB oracle unrolls the same k steps with identical
    rounded-component arithmetic (round-6 selection scores, round-4
    outputs — the ivf cos6/cos4 contract).

    Output: (rank, vec_id, mmr_score, rel) — one row per selection.
    """
    vecs = corpus.select(
        F.col(id_col).alias("vec_id"), _dvec(F.col(vec_col)).alias("v")
    )
    q_row = vecs.filter(F.col("vec_id") == query_id).first()
    if q_row is None:
        raise ValueError(
            f"mmr_topk: query_id={query_id} not present in {id_col!r}"
        )
    qv = q_row.v
    q_arr = F.array(*[F.lit(float(x)) for x in qv])
    cands = vecs.filter(F.col("vec_id") != query_id).select(
        "vec_id", "v", F.round(cosine(F.col("v"), q_arr), 6).alias("rel")
    )
    selected: list = []  # (rank, vec_id, score, vector)
    for rank in range(1, k + 1):
        if selected:
            sims = [
                F.round(
                    cosine(F.col("v"), F.array(*[F.lit(float(x)) for x in sv])), 6
                )
                for (_, _, _, sv) in selected
            ]
            maxsim = sims[0] if len(sims) == 1 else F.greatest(*sims)
        else:
            maxsim = F.lit(0.0)
        sc = F.round(F.lit(lam) * F.col("rel") - F.lit(1.0 - lam) * maxsim, 6)
        pool = cands.filter(
            ~F.col("vec_id").isin([vid for (_, vid, _, _) in selected])
            if selected
            else F.lit(True)
        )
        pick = (
            pool.select("vec_id", "v", "rel", sc.alias("sc"))
            .orderBy(F.col("sc").desc(), F.col("vec_id").asc())
            .limit(1)
            .first()
        )
        if pick is None:  # pool exhausted: k exceeds the candidate count
            break
        selected.append((rank, int(pick.vec_id), pick, list(pick.v)))
    spark = corpus.sparkSession
    rows = [
        (r, vid, round(float(p.sc), 4), round(float(p.rel), 4))
        for (r, vid, p, _) in selected
    ]
    return spark.createDataFrame(
        rows, "rank long, vec_id long, mmr_score double, rel double"
    )


def srp_planes(n_planes: int = 8, dim: int = 64) -> list[list[float]]:
    """Deterministic signed-random-projection hyperplanes (Charikar 2002):
    weight (p, j) is derived from md5(f"srp:{p}:{j}") mapped to [-1, 1).
    Both the Spark plan and the DuckDB oracle embed these EXACT literals
    (Python float repr round-trips to the identical double in both
    engines), so there is no cross-engine RNG to disagree."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"srp:{p}:{j}".encode()).hexdigest()[:8], 16)
            / 2147483648.0
            - 1.0
            for j in range(dim)
        ]
        for p in range(n_planes)
    ]


def _srp_sig_sql(vec_col: str, planes: list[list[float]]) -> str:
    """SQL text of the b-bit SRP signature of column ``vec_col``: bit p
    = sign(<vec, plane_p>), emitted as a '1'/'0' string (cross-engine-
    stable bucket key). A dot landing EXACTLY on 0 within float
    reassociation noise could flip a bit between engines; with
    continuous embeddings the event has measure zero and has never been
    observed in the gate.

    Generated as text and parsed once (the _frozen_encode_exprs
    technique): the same tree built through the Column API took one
    py4j round trip per plane weight plus the lambda closures of every
    dot — ~3.3k round trips for 6 planes × 64 dims, against one parse.
    The dot is the sequential zip_with/aggregate fold of ``dot`` over
    ``_dvec``, so the plan and every bit are unchanged."""
    dv = _dvec_sql(vec_col)
    bits = []
    for plane in planes:
        w = "array(" + ", ".join(_dlit(x) for x in plane) + ")"
        d = f"aggregate(zip_with({dv}, {w}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
        bits.append(f"CASE WHEN {d} >= 0 THEN '1' ELSE '0' END")
    return f"concat({', '.join(bits)})"


def srp_signature(vec_col: str, planes: list[list[float]]) -> Column:
    """The b-bit SRP signature of column ``vec_col`` (see _srp_sig_sql)."""
    return F.expr(_srp_sig_sql(vec_col, planes))


def _srp_rows(
    df: DataFrame, id_col: str, vec_col: str, id_as: str, vec_as: str, sig_sql: str
) -> DataFrame:
    """(id_as, vec_as, sig): the id, the double vector and an SRP key in
    one parsed projection."""
    return df.selectExpr(
        f"`{id_col}` AS {id_as}", f"{_dvec_sql(vec_col)} AS {vec_as}", f"{sig_sql} AS sig"
    )


def srp_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SRP-LSH approximate top-k: candidates share the query's b-bit
    random-hyperplane signature; exact cosine rerank inside the bucket.
    Unlike bucketed_ann_topk (sign of the first b RAW coordinates), SRP
    signatures are data-independent projections — collision probability
    is 1 - theta/pi per bit for angle theta, the classic LSH guarantee,
    robust to axis-aligned structure in the embedding space.

    100 TB: corpus signatures are computed once at scan speed (b dot
    products per row, JVM codegen) and the bucket key is writable as a
    partition/bucket column; each query probes exactly one bucket."""
    sig = _srp_sig_sql(vec_col, planes)
    c = _srp_rows(corpus, id_col, vec_col, "neighbor_id", "cvec", sig)
    q = _srp_rows(queries, id_col, vec_col, "query_id", "qvec", sig)
    return _topk(_scores(c, q, "sig"), k)


def _srp_bucket_sql(vec_col: str, planes: list[list[float]]) -> str:
    """SQL text of the partition-safe SRP bucket key: the b-bit
    signature prefixed with 'b'. Hive-style partition directories
    type-infer bare digit strings (sig=00101 would read back as the
    INTEGER 101, silently corrupting the probe's equi-join on
    leading-zero buckets); the prefix pins the key to a string on every
    reader with zero information loss."""
    return f"concat('b', {_srp_sig_sql(vec_col, planes)})"


def write_srp_index(
    corpus: DataFrame,
    planes: list[list[float]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the SRP-LSH index: raw vectors partitioned by their
    b-bit bucket (one directory per occupied signature, ≤ 2^b dirs).
    The fourth persisted index family beside IVF / PQ / IVF-PQ — SRP's
    planes are DATA-INDEPENDENT (no training), so there is no model to
    freeze beyond the plane literals themselves; the build is one
    signature projection + a partitioned write, and a probe reads only
    the queries' bucket directories."""
    _write_srp_rows(corpus, planes, path, id_col, vec_col, "overwrite")


def append_srp_index(
    corpus_delta: DataFrame,
    planes: list[list[float]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental SRP maintenance — trivially frozen-model: signatures
    depend only on the fixed plane literals, so appending a delta's rows
    into their bucket directories is exactly what a from-scratch rebuild
    would produce (append ≡ rebuild, value-checked by
    ann_srp_index_append's oracle). One map-only signature pass over the
    DELTA + a partitioned append; touched buckets gain a fragment,
    untouched buckets aren't rewritten (fragment buildup is
    maintenance.compact_ivf_index's job — same layout contract)."""
    _write_srp_rows(corpus_delta, planes, path, id_col, vec_col, "append")


def _write_srp_rows(
    df: DataFrame, planes: list[list[float]], path: str, id_col: str, vec_col: str, mode: str
) -> None:
    """(neighbor_id, cvec) rows written into their sig= bucket dirs."""
    rows = _srp_rows(df, id_col, vec_col, "neighbor_id", "cvec", _srp_bucket_sql(vec_col, planes))
    _cluster_for_partitioned_write(rows, "sig", path, mode)


def srp_index_topk(
    spark,
    index_path: str,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a write_srp_index layout: signature each query (map-only,
    b dot products), collect the DISTINCT probed buckets (bounded by
    min(|queries|, 2^b) — bucket keys, never data), and read ONLY those
    bucket directories (the isin filter prunes at the directory level).
    Scores and ranking replicate srp_ann_topk exactly — parquet
    round-trips the doubles bit-identically — so the same oracle gates
    both the inline and the persisted form."""
    q = _srp_rows(
        queries, id_col, vec_col, "query_id", "qvec", _srp_bucket_sql(vec_col, planes)
    )
    return _topk(_scores(_read_probed(spark, index_path, q, "sig"), q, "sig"), k)
