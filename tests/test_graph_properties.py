"""Property-based differential tests for the graph operators: Hypothesis
generates arbitrary small directed graphs, and each operator is compared
against a pure-Python reimplementation of the same semantics — BFS
against dict-based frontier search, pagerank against the identical
ordered-fold recurrence, connected components against union-find."""

from __future__ import annotations

from collections import defaultdict

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from reddit_tech_jobs_data_pipeline_spark.operators.dedup import cluster_near_dups
from reddit_tech_jobs_data_pipeline_spark.operators.graph import (
    bfs_min_hops,
    cooccurrence_edges,
    pagerank,
)

SETTINGS = settings(max_examples=6, deadline=None)

# arbitrary directed graphs over a small node universe; (1, 2) is always
# present so BFS from seed=1 has somewhere to go
edges_strategy = st.lists(
    st.tuples(st.integers(1, 9), st.integers(1, 9)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=25,
).map(lambda es: sorted({(1, 2), *es}))


def py_bfs(edges, seed, max_hops):
    adj = defaultdict(set)
    for s, d in edges:
        adj[s].add(d)
    dist, frontier = {seed: 0}, {seed}
    for depth in range(1, max_hops + 1):
        nxt = {d for s in frontier for d in adj[s]} - dist.keys()
        if not nxt:
            break
        dist.update(dict.fromkeys(nxt, depth))
        frontier = nxt
    return dist


def py_pagerank(edges, damping, iterations):
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = float(len(nodes))
    outdeg = defaultdict(int)
    for s, _ in edges:
        outdeg[s] += 1
    pr = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        by_dst = defaultdict(list)
        for s, d in edges:
            by_dst[d].append((s, pr[s] / outdeg[s]))
        new = {}
        for v in nodes:
            acc = 0.0
            for _, c in sorted(by_dst.get(v, [])):
                acc += c
            new[v] = (1.0 - damping) / n + damping * acc
        pr = new
    return pr


def py_components(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


class TestGraphProperties:
    @SETTINGS
    @given(edges_strategy)
    def test_bfs_matches_python_reference(self, spark, edges):
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r.node: r.hops for r in bfs_min_hops(df, seed=1, max_hops=4).collect()}
        assert got == py_bfs(edges, 1, 4)

    @SETTINGS
    @given(edges_strategy)
    def test_bfs_hash_partitioned_matches_broadcast(self, spark, edges):
        # the billion-node path: same joins, no broadcast hints; force
        # real shuffle joins by disabling auto-broadcast so the test
        # exercises the plan that would run at scale
        df = spark.createDataFrame(edges, "src long, dst long")
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            got = {
                r.node: r.hops
                for r in bfs_min_hops(
                    df, seed=1, max_hops=4, broadcast=False
                ).collect()
            }
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        assert got == py_bfs(edges, 1, 4)

    @SETTINGS
    @given(edges_strategy)
    def test_pagerank_ordered_fold_matches_python_reference(self, spark, edges):
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r.node: r.pr for r in pagerank(df, iterations=3).collect()}
        expect = py_pagerank(edges, 0.85, 3)
        assert set(got) == set(expect)
        for v, x in expect.items():
            assert abs(got[v] - x) < 1e-12, v

    @SETTINGS
    @given(edges_strategy)
    def test_seeded_pagerank_ordered_and_commutative_agree(self, spark, edges):
        # personalized (seeded) teleport through BOTH numeric modes:
        # the commutative scale path must match the ordered fold under
        # tolerance — pins seeds= + commutative=True together, the
        # combination personalized_pagerank_suppliers_scale runs
        df = spark.createDataFrame(edges, "src long, dst long")
        seeds = sorted({s for s, _ in edges})[:2]
        ordered = {
            r.node: r.pr
            for r in pagerank(df, iterations=3, seeds=seeds).collect()
        }
        comm = {
            r.node: r.pr
            for r in pagerank(
                df, iterations=3, seeds=seeds, commutative=True
            ).collect()
        }
        assert set(ordered) == set(comm)
        for v, x in ordered.items():
            assert abs(comm[v] - x) <= 1e-9 * max(abs(x), 1e-9), v

    @SETTINGS
    @given(edges_strategy)
    def test_components_match_union_find(self, spark, edges):
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {r.id: r.cluster_id for r in cluster_near_dups(pairs).collect()}
        assert got == py_components(edges)

    @SETTINGS
    @given(
        st.lists(
            st.tuples(st.integers(1, 5), st.integers(1, 6)),
            min_size=1,
            max_size=20,
        )
    )
    def test_cooccurrence_matches_set_comprehension(self, spark, rows):
        df = spark.createDataFrame(rows, "g long, n long")
        groups = defaultdict(set)
        for g, m in rows:
            groups[g].add(m)
        expect = {
            (a, b)
            for ms in groups.values()
            for a in ms
            for b in ms
            if a != b
        }
        got = {(r.src, r.dst) for r in cooccurrence_edges(df, "g", "n").collect()}
        assert got == expect


class TestSSSP:
    @SETTINGS
    @given(
        st.lists(
            st.tuples(st.integers(0, 8), st.integers(0, 8), st.integers(1, 5)),
            min_size=1,
            max_size=25,
        )
    )
    def test_matches_dijkstra_reference(self, spark, rows):
        """Bellman-Ford relaxation vs a pure-Python Dijkstra on random
        small weighted digraphs (self-loops dropped — they never improve
        a distance)."""
        import heapq

        from reddit_tech_jobs_data_pipeline_spark.operators.graph import sssp_min_dist

        rows = [(a, b, w) for a, b, w in rows if a != b]
        if not rows:
            return
        adj = defaultdict(list)
        for a, b, w in rows:
            adj[a].append((b, w))
        best = {0: 0}
        heap = [(0, 0)]
        while heap:
            d, n = heapq.heappop(heap)
            if d > best.get(n, float("inf")):
                continue
            for m, w in adj[n]:
                if d + w < best.get(m, float("inf")):
                    best[m] = d + w
                    heapq.heappush(heap, (d + w, m))

        df = spark.createDataFrame(rows, "src long, dst long, w long")
        got = {r.node: r.dist for r in sssp_min_dist(df, 0, max_iters=30).collect()}
        assert got == best

    def test_broadcast_and_partitioned_paths_agree(self, spark):
        from reddit_tech_jobs_data_pipeline_spark.operators.graph import sssp_min_dist

        rows = [(i, i + 1, 2) for i in range(20)] + [
            (i, i + 2, 1) for i in range(19) if i % 3
        ]
        df = spark.createDataFrame(rows, "src long, dst long, w long")
        a = {tuple(r) for r in sssp_min_dist(df, 0, broadcast=True).collect()}
        b = {tuple(r) for r in sssp_min_dist(df, 0, broadcast=False).collect()}
        assert a == b and a

    def test_unit_weights_reduce_to_bfs_hops(self, spark):
        from reddit_tech_jobs_data_pipeline_spark.operators.graph import (
            bfs_min_hops,
            sssp_min_dist,
        )

        rows = [(i, i + 1, 1) for i in range(15)] + [
            (i, i + 3, 1) for i in range(12)
        ]
        df = spark.createDataFrame(rows, "src long, dst long, w long")
        dist = {r.node: r.dist for r in sssp_min_dist(df, 0).collect()}
        hops = {r.node: r.hops for r in bfs_min_hops(df, 0, max_hops=20).collect()}
        assert dist == hops


class TestStarCC:
    @SETTINGS
    @given(
        st.lists(
            st.tuples(st.integers(0, 12), st.integers(0, 12)),
            min_size=1,
            max_size=30,
        )
    )
    def test_star_contraction_matches_union_find(self, spark, rows):
        """Self-pairs included: an id seen only in (a, a) labels itself."""
        pairs = spark.createDataFrame(rows, "id_a long, id_b long")
        got = {r.id: r.cluster_id for r in cluster_near_dups(pairs).collect()}
        assert got == py_components(rows)

    def test_long_chain_converges_in_few_rounds(self, spark):
        """A 64-node path has diameter 63 — label propagation needs ~63
        rounds; star contraction must finish well inside max_iter=10 and
        still label every node with the chain minimum."""
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(63)], "id_a long, id_b long"
        )
        out = {r.id: r.cluster_id for r in cluster_near_dups(pairs, max_iter=10).collect()}
        assert out == {i: 0 for i in range(64)}

    def test_cap_without_convergence_fails_loudly(self, spark):
        """Partial labels would silently split a component: a cap too low
        for the 64-node chain raises instead; the default cap converges."""
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(63)], "id_a long, id_b long"
        )
        with pytest.raises(RuntimeError, match="max_iter=2"):
            cluster_near_dups(pairs, max_iter=2)
        out = {r.id: r.cluster_id for r in cluster_near_dups(pairs).collect()}
        assert out == {i: 0 for i in range(64)}

    def test_every_id_in_pairs_gets_a_row(self, spark):
        for rows, want in [
            ([(1, 1), (2, 3), (3, 3)], {1: 1, 2: 2, 3: 2}),
            ([(5, 5)], {5: 5}),
            ([], {}),
        ]:
            pairs = spark.createDataFrame(rows, "id_a long, id_b long")
            got = {r.id: r.cluster_id for r in cluster_near_dups(pairs).collect()}
            assert got == want


class TestKCore:
    def test_kcore_known_graph(self, spark):
        """K5 + pendant chain: the K5 is the 4-core (pendant peels, then
        the K5 is stable at internal degree 4); 2-core of a triangle with
        a tail keeps only the triangle."""
        from reddit_tech_jobs_data_pipeline_spark.operators.graph import kcore

        k5 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
        tail = [(4, 5), (5, 6), (6, 7)]
        edges = spark.createDataFrame(k5 + tail, "src long, dst long")
        out = {r.node: r.deg for r in kcore(edges, k=4).collect()}
        assert out == {0: 4, 1: 4, 2: 4, 3: 4, 4: 4}

        tri = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)], "src long, dst long"
        )
        out2 = {r.node: r.deg for r in kcore(tri, k=2).collect()}
        assert out2 == {0: 2, 1: 2, 2: 2}

    def test_kcore_empty_when_k_exceeds_degeneracy(self, spark):
        from reddit_tech_jobs_data_pipeline_spark.operators.graph import kcore

        path = spark.createDataFrame(
            [(i, i + 1) for i in range(10)], "src long, dst long"
        )
        assert kcore(path, k=2).count() == 0

    def test_kcore_fixture_fixpoint_before_oracle_cap(self, spark):
        """The catalog fixture must reach its peel fixpoint well inside
        the oracle's 6 unrolled rounds: peeling one extra round after
        convergence must not change the result."""
        from reddit_tech_jobs_data_pipeline_spark.plans.catalog import get_registry

        spec = get_registry()["kcore_parts"]
        a = {(r.node, r.deg) for r in spec.spark(spark, "/root/testdata/sf0.001").collect()}
        assert len(a) == 60  # simulated ground truth at 200 nodes
        assert {d for _, d in a} == {4, 5}


class TestLabelPropagation:
    def test_two_cliques_one_bridge(self, spark):
        """Two K4s joined by one bridge: LPA must keep two communities,
        each labeled by its clique minimum."""
        from reddit_tech_jobs_data_pipeline_spark.operators.graph import (
            label_propagation,
        )

        k4a = [(a, b) for a in range(4) for b in range(a + 1, 4)]
        k4b = [(a + 10, b + 10) for a, b in k4a]
        edges = spark.createDataFrame(
            k4a + k4b + [(3, 10)], "src long, dst long"
        )
        out = {r.node: r.community for r in label_propagation(edges, rounds=4).collect()}
        assert all(out[n] == 0 for n in range(4))
        assert all(out[n + 10] == 10 for n in range(4))

    def test_fixed_rounds_deterministic(self, spark):
        from reddit_tech_jobs_data_pipeline_spark.operators.graph import (
            label_propagation,
        )

        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(20)] + [(i, i + 2) for i in range(0, 18, 3)],
            "src long, dst long",
        )
        a = sorted((r.node, r.community) for r in label_propagation(edges, rounds=3).collect())
        b = sorted((r.node, r.community) for r in label_propagation(edges, rounds=3).collect())
        assert a == b
