"""Guards added to the similarity family:

* ``brute_force_topk_arrow`` ships the query matrix via an explicit
  ``sparkContext.broadcast`` (never re-serialized per task) and, above
  ``max_broadcast_queries`` query rows, falls back to the distributed
  Catalyst path rather than collecting a large query set to the driver.

* ``standardize_embeddings`` clamps a zero stddev (constant dimension)
  so z-scores come out exactly 0 instead of null/Infinity.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from reddit_tech_jobs_data_pipeline_spark.operators import similarity
from reddit_tech_jobs_data_pipeline_spark.sources import testdata

SF = "/root/testdata/sf0.001"


def test_arrow_topk_size_guard_falls_back_and_agrees(spark):
    emb = testdata.load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    expected = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in similarity.brute_force_topk(emb, queries, k=3).collect()
    }
    # guard trips (8 queries > 4) → Catalyst fallback, same results
    guarded = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in similarity.brute_force_topk_arrow(
            emb, queries, k=3, max_broadcast_queries=4
        ).collect()
    }
    assert guarded == expected
    # guard does not trip → broadcast GEMM path, same results
    arrow = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in similarity.brute_force_topk_arrow(
            emb, queries, k=3, max_broadcast_queries=100
        ).collect()
    }
    assert arrow == expected


def test_standardize_constant_dimension_yields_zero(spark):
    # dim 1 is constant (stddev 0) → its z-scores must be exactly 0,
    # never null or ±Inf; dim 0 standardizes normally
    df = spark.createDataFrame(
        [(1, [1.0, 7.0]), (2, [2.0, 7.0]), (3, [3.0, 7.0])],
        "vec_id long, embedding array<double>",
    )
    rows = similarity.standardize_embeddings(df).orderBy("vec_id").collect()
    for r in rows:
        z1 = r.z_embedding[1]
        assert z1 == 0.0 and math.isfinite(z1)
    z0 = [r.z_embedding[0] for r in rows]
    assert abs(sum(z0)) < 1e-12 and z0[0] < 0 < z0[2]


def test_arrow_topk_broadcast_loop_unpersist(spark):
    """Two-batch query loop with the out-of-band broadcast handle: batch
    1 materializes, its broadcast is unpersisted, and batch 2 must still
    compute correctly with its own fresh broadcast (unpersisting one
    handle must not poison later calls)."""
    emb = testdata.load_table(spark, SF, "embeddings")
    expected_all = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in similarity.brute_force_topk(
            emb, emb.filter(F.col("vec_id") < 6), k=3
        ).collect()
    }
    got: dict = {}
    for lo, hi in [(0, 3), (3, 6)]:
        handles: list = []
        batch = emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        out = similarity.brute_force_topk_arrow(
            emb, batch, k=3, broadcast_out=handles
        )
        got.update(
            {(r.query_id, r.rank): (r.neighbor_id, r.cosine) for r in out.collect()}
        )
        assert len(handles) == 1  # GEMM path ran; handle delivered out-of-band
        handles[0].unpersist(blocking=True)
    assert got == expected_all


def test_arrow_topk_fallback_leaves_broadcast_out_empty(spark):
    emb = testdata.load_table(spark, SF, "embeddings")
    handles: list = []
    out = similarity.brute_force_topk_arrow(
        emb, emb.filter(F.col("vec_id") < 8), k=2,
        max_broadcast_queries=4, broadcast_out=handles,
    )
    assert out.count() > 0
    assert handles == []  # distributed fallback: no driver-side broadcast


def test_srp_planes_deterministic_and_bounded():
    from reddit_tech_jobs_data_pipeline_spark.operators.similarity import srp_planes

    a = srp_planes(4, 16)
    b = srp_planes(4, 16)
    assert a == b  # md5-derived, no RNG state
    assert all(-1.0 <= w < 1.0 for row in a for w in row)
    # rows differ from each other (not a constant generator)
    assert len({tuple(r) for r in a}) == 4


def test_srp_query_collides_with_itself_and_near_duplicate(spark):
    from reddit_tech_jobs_data_pipeline_spark.operators.similarity import (
        srp_ann_topk,
        srp_planes,
    )

    planes = srp_planes(8, 4)
    base = [1.0, 0.5, -0.25, 0.125]
    near = [v * 1.01 for v in base]  # tiny angle -> same signature
    far = [-v for v in base]  # opposite -> different signature, never a candidate
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "vec_id long, embedding array<float>"
    )
    out = srp_ann_topk(df, df.filter(F.col("vec_id") == 1), planes, k=5)
    rows = out.collect()
    assert [r.neighbor_id for r in rows] == [2]
    assert rows[0].cosine > 0.999


def test_srp_recall_at_5_vs_exact_on_testdata(spark):
    """SRP-LSH recall floor on the sf0.01 embeddings: candidates share
    an 8-bit random-hyperplane signature (~1/256 selectivity before
    clustering), reranked exactly. Random isotropic data is sign-LSH's
    worst case; the floor asserts the planes aren't degenerate and the
    bucket join actually probes the right bucket (a broken signature
    would send recall to ~0)."""
    from reddit_tech_jobs_data_pipeline_spark.operators import similarity
    from reddit_tech_jobs_data_pipeline_spark.sources.testdata import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings").cache()
    queries = emb.filter(F.col("vec_id") < 50)
    planes = similarity.srp_planes(8, 64)
    exact = similarity.brute_force_topk(emb, queries, k=5)
    approx = similarity.srp_ann_topk(emb, queries, planes, k=5)
    hits = exact.join(approx, ["query_id", "neighbor_id"], "left_semi").count()
    total = exact.count()
    emb.unpersist()
    assert total == 250
    recall = hits / total
    # measured 0.016 single-probe at 8 bits on this fixture — matching
    # theory for isotropic data (P[collision] = (1 - theta/pi)^8 ~ 1/256
    # at theta ~ pi/2, the sign-LSH worst case; real clustered
    # embeddings sit far higher). The floor guards degeneracy (a broken
    # signature or planes would send recall to ~0), not quality.
    assert recall >= 0.005, recall


def test_srp_index_probe_matches_inline_and_prunes(spark, tmp_path):
    """Persisted SRP index: the probe must (a) return exactly what the
    inline srp_ann_topk computes, and (b) read ONLY the probed bucket
    directories (PartitionFilters INSET in the scan, bounded by the
    distinct query signatures)."""
    emb = testdata.load_table(spark, "/root/testdata/sf0.01", "embeddings")
    planes = similarity.srp_planes(8, 64)
    queries = emb.filter(F.col("vec_id") < 16)
    path = str(tmp_path / "srp_idx")
    similarity.write_srp_index(emb, planes, path)

    got = similarity.srp_index_topk(spark, path, queries, planes, k=5)
    want = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in similarity.srp_ann_topk(emb, queries, planes, k=5).collect()
    }
    assert {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine) for r in got.collect()
    } == want

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [sig" in plan and "INSET" in plan


def test_srp_index_append_equals_rebuild(spark, tmp_path):
    """Signatures are data-independent, so build(day1)+append(day2) must
    yield a probe identical to build(day1 ∪ day2)."""
    emb = testdata.load_table(spark, "/root/testdata/sf0.01", "embeddings")
    planes = similarity.srp_planes(8, 64)
    queries = emb.filter(F.col("vec_id") < 16)
    day1 = emb.filter(F.col("vec_id") % 2 == 0)
    day2 = emb.filter(F.col("vec_id") % 2 == 1)

    inc = str(tmp_path / "srp_inc")
    similarity.write_srp_index(day1, planes, inc)
    similarity.append_srp_index(day2, planes, inc)
    one = str(tmp_path / "srp_one")
    similarity.write_srp_index(emb, planes, one)

    a = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in similarity.srp_index_topk(spark, inc, queries, planes, k=5).collect()
    }
    b = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in similarity.srp_index_topk(spark, one, queries, planes, k=5).collect()
    }
    assert a == b


def test_srp_bucket_key_survives_leading_zeros(spark, tmp_path):
    """Bucket keys are written with a 'b' prefix: a bare all-digit
    partition value like 00000101 would type-infer back as the integer
    101 on read, silently emptying the probe's equi-join for
    leading-zero buckets. Craft a vector whose signature starts with 0
    and assert it still finds its bucket through the index."""
    planes = similarity.srp_planes(8, 4)
    # first plane decides bit 0; pick v so dot(v, plane0) < 0
    p0 = planes[0]
    v = [-x for x in p0]  # dot = -||p0||^2 < 0 -> bit 0 = '0'
    near = [x * 1.01 for x in v]
    df = spark.createDataFrame(
        [(1, v), (2, near)], "vec_id long, embedding array<double>"
    )
    sig = df.selectExpr(
        similarity._srp_bucket_sql("embedding", planes) + " AS s"
    ).first().s
    assert sig.startswith("b0"), sig  # the leading-zero case is exercised
    path = str(tmp_path / "srp_zero")
    similarity.write_srp_index(df, planes, path)
    out = similarity.srp_index_topk(
        spark, path, df.filter(F.col("vec_id") == 1), planes, k=5
    ).collect()
    assert [r.neighbor_id for r in out] == [2]


def test_srp_stream_ingest_idempotent_and_equals_build(spark, tmp_path):
    """The SRP ingest step replay-skips ids already in the store
    (calling it twice with the same batch appends nothing new), and the
    streamed index probe equals a one-shot build."""
    from reddit_tech_jobs_data_pipeline_spark.streaming import runner

    emb = testdata.load_table(spark, "/root/testdata/sf0.001", "embeddings")
    planes = similarity.srp_planes(8, 64)
    store = str(tmp_path / "srp_stream")
    b1 = emb.filter(F.col("vec_id") % 2 == 0)
    b2 = emb.filter(F.col("vec_id") % 2 == 1)
    step = runner.ingest_step(
        store, "neighbor_id", lambda new: similarity.append_srp_index(new, planes, store)
    )
    step(b1, 0)
    n1 = spark.read.parquet(store).count()
    step(b1, 1)  # replay: must append nothing
    assert spark.read.parquet(store).count() == n1
    step(b2, 2)
    assert spark.read.parquet(store).count() == emb.count()

    queries = emb.filter(F.col("vec_id") < 16)
    a = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in similarity.srp_index_topk(spark, store, queries, planes, k=5).collect()
    }
    one = str(tmp_path / "srp_oneshot")
    similarity.write_srp_index(emb, planes, one)
    b = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in similarity.srp_index_topk(spark, one, queries, planes, k=5).collect()
    }
    assert a == b
