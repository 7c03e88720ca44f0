"""Iterative graph traversal as DataFrame joins.

The reference pipeline has no graph operators; this generalizes its
relational surface (SURVEY.md §2) to the iterative-algorithm shape a
training-data pipeline needs (e.g. connected components over near-dup
pairs, supply-chain reachability). Spark has no recursive CTE, so
breadth-first search is a driver-side loop of joins — each level is one
shuffle join against the (deduplicated) edge list; min-hop semantics
come from a final group-by, which makes the loop insensitive to
duplicate paths.

Scale notes (100 TB design point): the edge list is the big side and is
re-joined every level, so repartition it once by ``src`` and persist —
every level's join then reuses the same partitioning (one-time shuffle).
Frontiers are usually small → broadcast. For deep traversals,
``localCheckpoint`` the frontier every few levels to truncate lineage.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from reddit_tech_jobs_data_pipeline_spark.plandump import dump_stage_plan


ITER_ROWS_PER_PARTITION = 2_000_000


@contextlib.contextmanager
def no_adaptive(spark: SparkSession):
    """Disable AQE for an explicit-broadcast iterative loop, then restore.

    AQE's per-query-stage execution splits every eager loop action
    (localCheckpoint, convergence probe) into one job per shuffle stage;
    in a loop whose join strategy is already fixed by explicit
    ``F.broadcast`` hints (the oracle-parity pagerank / broadcast BFS —
    test-SF paths by design), its runtime re-planning has nothing left
    to decide and only multiplies scheduling round-trips. Measured at
    sf0.1: pagerank_suppliers 7.3-9.1 s / 28 jobs with AQE vs
    4.9-6.8 s / 14 jobs without, identical results. Loops whose join
    sizes AQE must judge at runtime (the CC star-contraction, the
    commutative scale modes) measured the OPPOSITE (combined_dedup
    _clusters 9-12 s with AQE vs 15.4 s without: the runtime
    broadcast-join conversion pays for the extra jobs) — so this is
    opt-in per loop, not session config."""
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


@contextlib.contextmanager
def iterative_shuffle_partitions(spark: SparkSession, rows: int | None = None):
    """Pin ``spark.sql.shuffle.partitions`` for an iterative operator's
    eager loop, then restore.

    The loop stages of graph/label-propagation operators shuffle tables
    whose cardinality is per-NODE or per-EDGE — usually far smaller than
    the session default sized for fact scans — and each iteration
    executes eagerly (localCheckpoint / convergence counts), so per-task
    scheduling overhead multiplies across iterations: measured at sf0.1,
    pagerank runs 7.6 s at 32 shuffle partitions vs 4.0 s at 8 with
    identical results (bfs 3.4 s vs 2.5 s).

    The count is ADAPTIVE: every mode of bfs_min_hops and pagerank
    (scale and oracle-parity alike) and the near-dup connected-components
    loops materialize their edge table BEFORE entering the context (the
    derivation is a full-data shuffle that belongs at session sizing —
    measured at sf1.0, deriving the 83.4M-edge co-supply list under a
    pinned 8 made bfs 2.5× slower), count it (one cheap probe of the
    cached/checkpointed blocks, or an observed count on the checkpoint
    job itself), and pass ``rows``; the pin becomes
    ``clamp(rows / 2M, 8, 2048)`` — 8 at test SF (the measured loop
    optimum), growing linearly once the iterated table is big enough
    that a fixed 8 would spill. Measured on the sf1.0 graph (SCALE.md):
    pagerank at the fixed 8 ran 71.7 s; sized to the data it runs
    ~23 s. Callers that pass no ``rows`` (sssp_min_dist, kcore) get the
    fixed pin of 8.
    SPARK_GRAFT_ITER_PARTITIONS overrides everything (the
    partition-invariance sweep uses it to prove results don't depend on
    this knob)."""
    env = os.environ.get("SPARK_GRAFT_ITER_PARTITIONS")
    if env is not None:
        n = env
    elif rows is not None:
        n = str(max(8, min(2048, -(-rows // ITER_ROWS_PER_PARTITION))))
    else:
        n = "8"
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def bfs_min_hops(
    edges: DataFrame,
    seed: int,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    broadcast: bool = True,
    assume_distinct: bool = False,
) -> DataFrame:
    """Min-hop distance from ``seed`` to every node within ``max_hops``.

    ``edges`` is a directed edge list (undirected graphs: pass both
    directions). Returns (node, hops) with hops = shortest path length,
    0 for the seed itself. Matches the SQL ``WITH RECURSIVE`` +
    ``GROUP BY node → min(depth)`` formulation exactly.

    ``assume_distinct=True`` skips the defensive edge dedup — one full
    edge-table exchange (r15, guide §2.4 "a distinct on data that is
    already unique"): callers whose edge list is distinct BY CONSTRUCTION
    (``cooccurrence_edges`` output: a distinct half mirrored into two
    disjoint directions) pass it; BFS results are identical either way
    (each level's frontier is deduplicated), the distinct only
    right-sizes the per-level join input when callers pass dirty edges.

    ``broadcast=True`` ships the frontier and visited sets to every
    task — the right plan while both fit on one machine (the common
    case: a frontier is bounded by one graph level). ``broadcast=False``
    is the billion-node plan: the SAME joins with no broadcast hints,
    so the expand and the visited anti-join hash-partition both sides
    on the node key — nothing is required to fit in one executor's
    memory, at the cost of a shuffle per level.
    ``tests/test_graph_properties.py`` proves both paths label every
    graph identically.
    """
    spark = edges.sparkSession
    prepared = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not assume_distinct:
        prepared = prepared.distinct()
    prepared = prepared.cache()
    # BOTH modes: materialize + count OUTSIDE the pinned context. The
    # edge derivation (typically a fact-scale co-occurrence join) is a
    # full-data shuffle that belongs at session sizing — measured at
    # sf1.0, deriving under a pinned 8 made bfs 2.5× slower, and r14's
    # driver bench showed the broadcast mode regressing (3.0 → 4.0 s)
    # when no_adaptive landed while its derivation still filled lazily
    # UNDER the pin with AQE off. The count sizes the loop's pin (test
    # SF resolves to the measured optimum of 8 either way).
    n_edges = prepared.count()
    if broadcast:
        # AQE off for the loop only: every join is explicitly broadcast,
        # so AQE has nothing to re-plan and only splits the per-level
        # eager actions into per-stage jobs (see no_adaptive; the
        # billion-node mode below keeps AQE for its runtime join sizing).
        with iterative_shuffle_partitions(spark, rows=n_edges), no_adaptive(spark):
            return _bfs_min_hops(spark, prepared, seed, max_hops, broadcast)
    with iterative_shuffle_partitions(spark, rows=n_edges):
        return _bfs_min_hops(spark, prepared, seed, max_hops, broadcast)


def _bfs_min_hops(
    spark: SparkSession,
    edges: DataFrame,
    seed: int,
    max_hops: int,
    broadcast: bool,
) -> DataFrame:
    # ``edges`` arrives normalized (src, dst), deduplicated, and cached
    # by the wrapper — referenced once per level without re-derivation
    try:
        # textbook frontier BFS: each level expands only the NEW nodes
        # (neighbors minus visited) and the loop stops as soon as the
        # frontier empties — a small-diameter graph costs diameter joins,
        # not max_hops joins, and every node is labeled exactly once with
        # its first (= minimum) depth, so no min-reduction is needed.
        # Each frontier is eagerly localCheckpointed: the empty-check and
        # the next level's broadcast + anti-join reuse the materialized
        # blocks instead of re-running prior levels, and the plan stays
        # O(1) deep no matter how deep the traversal goes.
        frontier = (
            spark.range(1)
            .select(F.lit(seed).cast("long").alias("node"))
            .localCheckpoint()
        )
        visited = frontier.withColumn("depth", F.lit(0)).localCheckpoint()
        hint = F.broadcast if broadcast else (lambda df: df)
        for depth in range(1, max_hops + 1):
            # broadcast=True: frontier is small relative to edges →
            # broadcast it so each level is a map-side join against the
            # once-shuffled edge list, and visited (one row per reached
            # node) broadcasts into the anti-join. broadcast=False: the
            # identical joins hash-partition on the node key instead —
            # the billion-node plan, one shuffle per level.
            nxt = (
                edges.join(hint(frontier), edges.src == frontier.node)
                .select(F.col("dst").alias("node"))
                .distinct()
                .join(hint(visited.select("node")), "node", "left_anti")
            )
            dump_stage_plan(
                nxt, "bfs_level_" + ("broadcast" if broadcast else "hash")
            )
            frontier = nxt.localCheckpoint()
            if frontier.isEmpty():
                break
            visited = visited.unionByName(
                frontier.withColumn("depth", F.lit(depth))
            ).localCheckpoint()
        out = visited.select("node", F.col("depth").cast("int").alias("hops"))
        # visited is already checkpointed, so the edge cache can be
        # released NOW — no InMemoryRelation outlives the call; the
        # checkpoint blocks are ContextCleaner-GC'd with the DataFrame
        return out
    finally:
        edges.unpersist()


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 3,
    commutative: bool = False,
    symmetric: bool = False,
    seeds: list | None = None,
) -> DataFrame:
    """PageRank over a directed edge list, unrolled ``iterations`` times.

    Two numerically-distinct modes sharing one skeleton:

    ``commutative=False`` (oracle parity, default): deterministic to the
    bit against an unrolled-SQL oracle — incoming contributions are
    folded SEQUENTIALLY in src order (not a commutative float sum), so
    both engines execute the same IEEE operation sequence, the same
    recipe as operators/kmeans.py. A hub node's whole in-neighborhood
    becomes one ``collect_list`` array, and the rank table is broadcast
    per iteration — fine at test SF, NOT the 100 TB plan.

    ``commutative=True`` (scale mode): plain ``F.sum`` over contributions
    — map-side partial aggregation, no per-node array, no skew
    amplification — and the rank table joins the edge list by hash
    (Spark/AQE may still elect broadcast when it fits, but nothing
    REQUIRES the rank table to fit on one machine). Out-degree is
    attached to the edge list once before the loop, so each iteration is
    exactly two shuffles (join on src, agg on dst) over a once-
    checkpointed edge table. Ranks differ from the ordered fold only by
    float reassociation noise (~1e-15 relative); tests pin both paths
    against each other under tolerance.

    Nodes are the distinct edge endpoints; a node with no out-edges
    would be dangling, but the co-occurrence graphs this engine builds
    are symmetric (every node has out-degree ≥ 1). Pass
    ``symmetric=True`` when the caller KNOWS every edge exists in both
    directions (e.g. ``cooccurrence_edges`` output): the node set is then
    derived from one endpoint column, halving the distinct's input.

    ``seeds`` switches to PERSONALIZED PageRank: the (1 - d) teleport
    mass restarts uniformly over the seed set instead of all nodes
    (init likewise), scoring every node by proximity to the seeds — the
    similar-items / trust-propagation variant. The seed list is a
    driver-side literal (bounded, like the node-count probe); all other
    machinery (both numeric modes, checkpoint cadence) is shared.
    """
    # BOTH modes: cache + count OUTSIDE the pinned context — the edge
    # derivation (a fact-scale co-occurrence join) materializes at
    # session sizing, and the count sizes the loop's pin to the data.
    # r14: the parity mode used to derive lazily UNDER the fixed pin,
    # which ran the 999k-edge co-supply self-join at 8 shuffle
    # partitions — measured at sf0.1, derive-first runs the same query
    # 9.4 s -> 8.2 s (derivation 3.3-4.2 s at session sizing vs ~5 s
    # pinned); values are untouched (cache+count only materializes).
    # At test SF the rows-derived pin still resolves to the measured
    # loop optimum of 8.
    edges = edges.cache()
    n_edges = edges.count()
    spark = edges.sparkSession
    if not commutative:
        # oracle-parity loop: every join is explicitly broadcast, so AQE
        # has nothing to re-plan and only splits each eager iteration
        # into per-stage jobs (measured 28 -> 14 jobs, ~7.3 -> ~4.9 s at
        # sf0.1 — see no_adaptive). The commutative scale mode KEEPS AQE:
        # its rank join sizes are runtime decisions.
        with iterative_shuffle_partitions(spark, rows=n_edges), no_adaptive(spark):
            return _pagerank(edges, damping, iterations, commutative, symmetric, seeds)
    with iterative_shuffle_partitions(spark, rows=n_edges):
        return _pagerank(edges, damping, iterations, commutative, symmetric, seeds)


def _pagerank(
    edges: DataFrame,
    damping: float,
    iterations: int,
    commutative: bool,
    symmetric: bool,
    seeds: list | None = None,
) -> DataFrame:
    # edges feed every iteration plus nodes/outdeg — persist once; the
    # co-occurrence derivation upstream is a join far costlier than the
    # cached footprint (src/dst pairs)
    edges = edges.cache()
    if symmetric:
        nodes = edges.select(F.col("src").alias("node")).distinct().cache()
    else:
        nodes = (
            edges.select(F.col("src").alias("node"))
            .unionByName(edges.select(F.col("dst").alias("node")))
            .distinct()
            .cache()
        )
    try:
        # node count is ONE bounded scalar (same license as the watermark
        # probe — SCALE.md "Global posture"): resolving it driver-
        # side turns the (1-d)/n term into a literal and drops a broadcast
        # join from every iteration. float(n) division is the same IEEE op
        # the previous bigint→double column cast performed.
        n_nodes = float(nodes.count())
        # out-degree is loop-invariant and one row per node — materialize
        # once instead of re-aggregating the edge list every iteration
        outdeg = (
            edges.groupBy("src")
            .agg(F.count(F.lit(1)).alias("outdeg"))
            .localCheckpoint()
        )
        if seeds is None:
            teleport = F.lit(1.0 - damping) / F.lit(n_nodes)
            pr = nodes.select("node", (F.lit(1.0) / F.lit(n_nodes)).alias("pr"))
        else:
            in_seed = F.col("node").isin([int(x) for x in seeds])
            teleport = F.when(
                in_seed, F.lit(1.0 - damping) / F.lit(float(len(seeds)))
            ).otherwise(F.lit(0.0))
            pr = nodes.select(
                "node",
                F.when(in_seed, F.lit(1.0) / F.lit(float(len(seeds))))
                .otherwise(F.lit(0.0))
                .alias("pr"),
            )
        if commutative:
            # out-degree is loop-invariant: attach it to the edge list ONCE
            # (one join) instead of re-joining every iteration; the
            # checkpoint materializes the (src, dst, outdeg) table that
            # every iteration re-reads partition-local
            edges_w = edges.join(outdeg, "src").localCheckpoint()
        for _ in range(iterations):
            if commutative:
                summed = (
                    edges_w.join(pr, edges_w.src == pr.node)
                    .select("dst", (F.col("pr") / F.col("outdeg")).alias("contrib"))
                    .groupBy("dst")
                    .agg(F.sum("contrib").alias("in_sum"))
                    .select(F.col("dst").alias("node"), "in_sum")
                )
            else:
                # pre-divide rank by out-degree per NODE (1 row each) so the
                # edge join broadcasts ONE small table per iteration, not
                # two; per-edge contrib is bit-identical (same operands)
                rate = pr.join(outdeg, pr.node == outdeg.src).select(
                    "src", (F.col("pr") / F.col("outdeg")).alias("contrib")
                )
                contribs = edges.join(F.broadcast(rate), "src").select(
                    "src", "dst", "contrib"
                )
                summed = (
                    contribs.groupBy("dst")
                    .agg(F.array_sort(F.collect_list(F.struct("src", "contrib"))).alias("cs"))
                    .select(
                        F.col("dst").alias("node"),
                        F.aggregate(
                            F.transform(F.col("cs"), lambda c: c["contrib"]),
                            F.lit(0.0),
                            lambda acc, x: acc + x,
                        ).alias("in_sum"),
                    )
                )
            nxt = nodes.join(summed, "node", "left").select(
                "node",
                (
                    teleport
                    + F.lit(damping) * F.coalesce(F.col("in_sum"), F.lit(0.0))
                ).alias("pr"),
            )
            dump_stage_plan(
                nxt,
                "pagerank_iter_"
                + ("commutative" if commutative else "ordered")
                + ("_seeded" if seeds else ""),
            )
            # eager localCheckpoint per iteration: the next iteration
            # re-reads pr, which would otherwise re-execute the whole
            # accumulated lineage (iteration i re-runs 1..i-1); it also
            # keeps the final plan O(1) instead of O(iterations) deep
            pr = nxt.localCheckpoint()
        # the last localCheckpoint already materialized pr, so the caches
        # can be released before returning — nothing leaks past the call
        return pr
    finally:
        edges.unpersist()
        nodes.unpersist()


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation counts over an undirected graph.

    ``edges`` must be canonical (u < v, distinct). The classic two-join
    enumeration: wedge (a<b<c via (a,b),(b,c)) closed by probing (a,c).
    Ordering endpoints first means each triangle is enumerated exactly
    once — and, at scale, it is THE cost lever: joining only ordered
    edges caps wedge fan-out by each node's higher-degree neighbors
    (the standard degree-ordering trick halves the quadratic hub blow-up;
    for power-law graphs order by (degree, id) instead of raw id).
    Two shuffle joins on node keys; triangles then explode to 3 rows
    for the per-node count — a map-side-combined aggregation.
    """
    e1 = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = edges.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = edges.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    corners = (
        tri.select(F.col("a").alias("node"))
        .unionByName(tri.select(F.col("b").alias("node")))
        .unionByName(tri.select(F.col("c").alias("node")))
    )
    return corners.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("n_tri"))


def cooccurrence_edges(
    df: DataFrame,
    group_col: str,
    node_col: str,
    max_group_size: int | None = None,
) -> DataFrame:
    """Undirected co-occurrence edge list: nodes sharing a group value.

    E.g. suppliers sharing a part (group=l_partkey, node=l_suppkey).
    Distinct pairs, both directions, self-loops removed.

    Shape: ONE aggregation (``collect_set`` per group — map-side partial
    dedup, no pre-distinct shuffle and no self-join) → explode ordered
    pairs (src < dst, halving the pair volume the distinct must shuffle)
    → distinct → mirror both directions (narrow projection). Versus the
    naive distinct + self-join + distinct this drops a full shuffle and
    halves the biggest one.

    ``max_group_size`` is the skew guard: a hot group (a part supplied
    by thousands of suppliers) explodes quadratically — one group of
    100k members is 5e9 pairs in one task. The per-group member array
    makes group size directly observable, so the guard is a single
    ``size(ms) <= cap`` filter dropping hot groups before the explode
    (the stop-shingle move from dedup.ngram_jaccard_pairs: a group
    shared by everyone carries no pairing signal anyway).
    ``tests/test_skew_guards.py`` measures the bound.
    """
    grouped = (
        df.select(F.col(group_col).alias("g"), F.col(node_col).alias("m"))
        .groupBy("g")
        .agg(F.collect_set("m").alias("ms"))
    )
    if max_group_size is not None:
        grouped = grouped.filter(F.size("ms") <= max_group_size)
    half = (
        grouped.select(F.explode("ms").alias("src"), "ms")
        .select("src", F.explode("ms").alias("dst"))
        .filter(F.col("src") < F.col("dst"))
        .distinct()
    )
    return half.unionByName(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def sssp_min_dist(
    edges: DataFrame,
    seed: int,
    max_iters: int = 64,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    broadcast: bool = True,
    n_buckets: int = 8,
) -> DataFrame:
    """Weighted single-source shortest paths: (node, dist) with dist =
    min total edge weight from ``seed``; unreachable nodes absent.
    Integer weights ⇒ bit-exact on any engine.

    Algorithm: BUCKETED GAUSS-SEIDEL relaxation. Edges are ranged into
    ``n_buckets`` by src id; each global round cogroups the current
    distance table with its bucket's edge block and runs vectorized
    Bellman-Ford to LOCAL FIXPOINT inside the task (pandas merge/groupby
    per local sweep — C speed, no per-row Python), emitting only
    improved/new distances; a global min-fold + checkpoint closes the
    round. Because every round fully relaxes each bucket's subgraph,
    distances cross an entire bucket per round instead of one edge: a
    high-diameter graph (chain, road, supply ladder — where node ids
    correlate with topology) converges in ~n_buckets rounds instead of
    ~diameter rounds. Measured at sf0.1 on the 300-hop chain+skip DAG:
    one-hop-per-job Bellman-Ford took 46 s (310 jobs, pure scheduling
    overhead); this runs the same query in a handful of rounds. On
    id-scrambled graphs each round still performs ≥1 textbook relaxation
    sweep, so convergence never needs more rounds than classic
    Bellman-Ford — ``max_iters`` keeps its meaning as a safe upper
    bound. Scale dials: per-round cost is one (dist+delta)-sized shuffle
    regardless of n_buckets; raise n_buckets so a bucket's edge block
    fits one task's memory (the applyInPandas contract shared with
    operators/sequential.py), which trades rounds for memory only on
    id-local graphs. Convergence is detected by a (count, sum(dist))
    checksum on the materialized table — distances only ever decrease
    and rows are only added, so an unchanged checksum ⟺ a fixpoint; no
    join-and-isEmpty job. ``broadcast`` is retained for API
    compatibility and ignored: the cogroup route has no broadcastable
    side (both former modes run the identical plan)."""
    spark = edges.sparkSession
    e = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        F.col(weight).cast("long").alias("w"),
    ).distinct()
    bounds = e.agg(F.min("src").alias("lo"), F.max("src").alias("hi")).first()
    seed_df = spark.range(1).select(
        F.lit(seed).cast("long").alias("node"), F.lit(0).cast("long").alias("d")
    )
    if bounds.lo is None:
        return seed_df.select("node", F.col("d").alias("dist"))
    lo, span = int(bounds.lo), max(int(bounds.hi) - int(bounds.lo) + 1, 1)
    p = max(1, int(n_buckets))

    def _bucket(c):
        # same function routes edges (by src) and distances (by node),
        # so a node's row always meets its out-edges; ids outside
        # [lo, hi] (dst-only sinks) clamp to the edge buckets' range
        raw = F.floor(((c - F.lit(lo)) * p) / F.lit(span))
        return F.greatest(F.lit(0), F.least(F.lit(p - 1), raw)).cast("int")

    eb = e.withColumn("b", _bucket(F.col("src"))).cache()

    def _local_relax(_key, e_pdf, d_pdf):
        import pandas as pd

        if d_pdf.empty or e_pdf.empty:
            return pd.DataFrame({"node": [], "d": []}).astype(
                {"node": "int64", "d": "int64"}
            )
        incoming = d_pdf.groupby("node", as_index=False)["d"].min()
        best = incoming.copy()
        # vectorized local sweeps to fixpoint; non-negative-cycle safety
        # cap: a shortest path inside the bucket uses < |local nodes| edges
        cap = len(set(e_pdf["src"]) | set(e_pdf["dst"])) + 1
        for _ in range(cap):
            cand = e_pdf.merge(best, left_on="src", right_on="node")
            if cand.empty:
                break
            cand = (
                (cand["d"] + cand["w"])
                .to_frame("d")
                .assign(node=cand["dst"].values)
                .groupby("node", as_index=False)["d"]
                .min()
            )
            merged = (
                pd.concat([best, cand], ignore_index=True)
                .groupby("node", as_index=False)["d"]
                .min()
            )
            if merged.equals(best):
                break
            best = merged
        # emit only improvements/news — the global fold retains the rest
        out = best.merge(incoming, on="node", how="left", suffixes=("", "_in"))
        out = out[out["d_in"].isna() | (out["d"] < out["d_in"])]
        return out[["node", "d"]].astype({"node": "int64", "d": "int64"})

    with iterative_shuffle_partitions(spark):
        try:
            dist = seed_df.localCheckpoint()
            checksum = (1, 0)
            for _ in range(max_iters):
                db = dist.withColumn("b", _bucket(F.col("node")))
                delta = (
                    eb.groupBy("b")
                    .cogroup(db.groupBy("b"))
                    .applyInPandas(_local_relax, "node long, d long")
                )
                dist = (
                    dist.unionByName(delta)
                    .groupBy("node")
                    .agg(F.min("d").alias("d"))
                    .localCheckpoint()
                )
                row = dist.agg(
                    F.count("*").alias("n"), F.sum("d").alias("s")
                ).first()
                new_checksum = (int(row.n), int(row.s))
                if new_checksum == checksum:
                    break
                checksum = new_checksum
            return dist.select("node", F.col("d").alias("dist"))
        finally:
            eb.unpersist()


def hits(
    edges: DataFrame,
    iterations: int = 3,
    commutative: bool = False,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over a directed edge
    list, unrolled ``iterations`` times with L1 normalization after each
    half-step. Returns (node, hub, auth).

    Same two-numeric-mode recipe as ``pagerank``: the default folds both
    the per-node incoming sums AND the global normalizer as ORDERED
    sequential folds (bit-parity with the unrolled-SQL oracle);
    ``commutative=True`` swaps every fold for a map-side-combined
    ``F.sum`` — the 100 TB plan — at the cost of ~1e-15 reassociation
    noise. The global L1 norm is ONE scalar per half-step either way
    (the ordered variant folds a collected per-node list — oracle-parity
    plumbing, not the scale path)."""
    prepared = edges.select("src", "dst").distinct().cache()
    # commutative scale mode sizes the loop's pin from the edge count;
    # the ordered oracle-parity mode keeps the fixed pin and lazy fill
    n_edges = prepared.count() if commutative else None
    with iterative_shuffle_partitions(edges.sparkSession, rows=n_edges):
        return _hits(prepared, iterations, commutative)


def _ordered_sum(df: DataFrame, key: str, val: str, out: str) -> DataFrame:
    return (
        df.groupBy(key)
        .agg(F.array_sort(F.collect_list(F.struct(F.col("src_ord"), F.col(val)))).alias("cs"))
        .select(
            key,
            F.aggregate(
                F.transform("cs", lambda c: c[val]), F.lit(0.0), lambda a, x: a + x
            ).alias(out),
        )
    )


def _hits(edges: DataFrame, iterations: int, commutative: bool) -> DataFrame:
    # edges arrive normalized/deduplicated/cached from the wrapper; the
    # extra cache() here is an idempotent no-op on the same plan
    edges = edges.cache()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .cache()
    )
    try:
        state = nodes.select(
            "node", F.lit(1.0).alias("hub"), F.lit(1.0).alias("auth")
        ).localCheckpoint()

        def norm_of(df: DataFrame, col: str) -> float:
            if commutative:
                return df.agg(F.sum(col)).first()[0]
            # ordered global fold: same IEEE sequence as the oracle's
            # list_reduce over values ORDER BY node
            row = df.agg(
                F.array_sort(F.collect_list(F.struct("node", col))).alias("cs")
            ).select(
                F.aggregate(
                    F.transform("cs", lambda c: c[col]), F.lit(0.0), lambda a, x: a + x
                ).alias("s")
            ).first()
            return row.s

        for _ in range(iterations):
            # authority half-step: a(v) = sum of h(u) over u -> v
            contrib = edges.join(
                state.select(F.col("node").alias("src"), "hub"), "src"
            ).select(F.col("dst").alias("node"), F.col("src").alias("src_ord"), "hub")
            if commutative:
                raw_a = contrib.groupBy("node").agg(F.sum("hub").alias("a_raw"))
            else:
                raw_a = _ordered_sum(contrib, "node", "hub", "a_raw")
            st = (
                state.drop("auth")
                .join(raw_a, "node", "left")
                .withColumn("auth", F.coalesce("a_raw", F.lit(0.0)))
                .drop("a_raw")
                .localCheckpoint()
            )
            na = float(norm_of(st, "auth"))
            st = st.withColumn("auth", F.col("auth") / F.lit(na))
            # hub half-step: h(u) = sum of a(v) over u -> v
            contrib = edges.join(
                st.select(F.col("node").alias("dst"), "auth"), "dst"
            ).select(F.col("src").alias("node"), F.col("dst").alias("src_ord"), "auth")
            if commutative:
                raw_h = contrib.groupBy("node").agg(F.sum("auth").alias("h_raw"))
            else:
                raw_h = _ordered_sum(contrib, "node", "auth", "h_raw")
            st = (
                st.drop("hub")
                .join(raw_h, "node", "left")
                .withColumn("hub", F.coalesce("h_raw", F.lit(0.0)))
                .drop("h_raw")
                .localCheckpoint()
            )
            nh = float(norm_of(st, "hub"))
            state = st.withColumn("hub", F.col("hub") / F.lit(nh)).localCheckpoint()
        return state.select("node", "hub", "auth")
    finally:
        edges.unpersist()
        nodes.unpersist()


def kcore(
    edges: DataFrame,
    k: int,
    max_rounds: int = 30,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-core decomposition by iterative peeling (Matula & Beck 1983):
    repeatedly drop every node whose degree within the surviving induced
    subgraph is < k, until a fixpoint. Returns (node, deg) for the
    surviving nodes with their in-core degree.

    ``edges`` is an undirected edge list given in ONE direction; it is
    symmetrized and de-duplicated here. Peeling is the textbook
    distributed formulation: each round is one join of the edge list
    against the alive set on BOTH endpoints plus one map-side-combined
    groupBy — no per-node adjacency state, nothing driver-side but the
    scalar alive-count convergence check. Rounds are bounded by the
    graph's degeneracy ordering depth, NOT diameter; the catalog fixture
    is constructed so the fixpoint is a constant 3 rounds at every SF
    (long chains would peel O(n) rounds — a real k-core deployment
    buckets by degree, cf. the SSSP bucketing in sssp_min_dist).

    100 TB: alive shrinks monotonically; every join hash-partitions on
    the node key (no broadcast requirement), each frontier is
    localCheckpointed so the plan stays O(1) deep."""
    spark = edges.sparkSession
    sym = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .unionByName(
            edges.select(F.col(dst).alias("src"), F.col(src).alias("dst"))
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .cache()
    )
    try:
        with iterative_shuffle_partitions(spark):
            alive = sym.select(F.col("src").alias("node")).distinct().localCheckpoint()
            n_alive = alive.count()
            for _ in range(max_rounds):
                deg = (
                    sym.join(alive.withColumnRenamed("node", "src"), "src")
                    .join(
                        alive.select(F.col("node").alias("dst")), "dst"
                    )
                    .groupBy("src")
                    .agg(F.count(F.lit(1)).alias("deg"))
                )
                nxt = (
                    deg.filter(F.col("deg") >= k)
                    .select(F.col("src").alias("node"), "deg")
                    .localCheckpoint()
                )
                n_next = nxt.count()
                alive = nxt.select("node")
                if n_next == n_alive:
                    return nxt.select("node", F.col("deg").cast("long").alias("deg"))
                n_alive = n_next
                if n_next == 0:
                    break
            return nxt.select("node", F.col("deg").cast("long").alias("deg"))
    finally:
        sym.unpersist()


def label_propagation(
    edges: DataFrame,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007, made
    deterministic): every node starts labeled with its own id; each
    round, every node adopts the most frequent label among its
    neighbors, ties broken by SMALLEST label. Runs a FIXED number of
    rounds on both engines (fixed-iteration semantics, precedent:
    pagerank's 3 unrolled iterations) — asynchronous/randomized LPA is
    not reproducible, this variant is.

    Returns (node, community) after ``rounds`` rounds. Each round is one
    join of the edge list against the label table plus one count
    groupBy and one per-node argmax window — all hash-partitioned on the
    node key, frontier localCheckpointed. 100 TB: cost is
    rounds x (one edge-sized shuffle); communities denser than the
    round horizon stay split, the standard LPA tradeoff."""
    spark = edges.sparkSession
    sym = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .unionByName(
            edges.select(F.col(dst).alias("src"), F.col(src).alias("dst"))
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .cache()
    )
    try:
        with iterative_shuffle_partitions(spark):
            labels = (
                sym.select(F.col("src").alias("node"))
                .distinct()
                .withColumn("community", F.col("node"))
                .localCheckpoint()
            )
            for _ in range(rounds):
                votes = (
                    sym.join(
                        labels.withColumnRenamed("node", "src"), "src"
                    )
                    .groupBy(F.col("dst").alias("node"), "community")
                    .agg(F.count(F.lit(1)).alias("n"))
                )
                w = Window.partitionBy("node").orderBy(
                    F.col("n").desc(), F.col("community").asc()
                )
                labels = (
                    votes.withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") == 1)
                    .select("node", "community")
                    .localCheckpoint()
                )
            return labels
    finally:
        sym.unpersist()
