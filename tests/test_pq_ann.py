"""Product quantization (operators/similarity.pq_encode / pq_topk):
codebook/code invariants, reconstruction identity on separable data,
and recall@k against the exact float path on real testdata."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from reddit_tech_jobs_data_pipeline_spark.operators import similarity
from reddit_tech_jobs_data_pipeline_spark.sources.testdata import load_table

SF_DIR = "/root/testdata/sf0.001"


def _vec_df(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )


def test_codes_shape_and_codebook_sizes(spark):
    emb = load_table(spark, SF_DIR, "embeddings").limit(64)
    codes, books = similarity.pq_encode(emb, m=4, ks=8, train_iters=1, dim=64)
    rows = codes.collect()
    assert len(rows) == 64
    assert set(codes.columns) == {"vec_id", "code_0", "code_1", "code_2", "code_3"}
    assert all(0 <= r[f"code_{s}"] < 8 for r in rows for s in range(4))
    bk = books.collect()
    # m×ks centroids (minus any that lost all members — none expected here)
    assert len(bk) == 32
    assert all(len(r.cvec) == 16 for r in bk)


def test_reconstruction_exact_on_cluster_separable_data(spark):
    # 2 subspaces of 2 dims; vectors sit exactly on 2 centers per
    # subspace → after 1 Lloyd round the codebook IS the centers and
    # reconstruction is exact, so PQ scores == exact scores. The first
    # two vectors cover BOTH centers in BOTH subspaces (the
    # deterministic init must not start from duplicate centroids), and
    # no center is the zero vector (cosine needs nonzero norms).
    c0, c1 = [1.0, 1.0], [10.0, 14.0]
    vecs = [c0 + c0, c1 + c1]
    for i in range(2, 16):
        vecs.append((c0 if i % 2 else c1) + (c0 if (i // 2) % 2 else c1))
    df = _vec_df(spark, vecs)
    out = similarity.pq_topk(
        df, df.filter(F.col("vec_id") < 2), k=3, m=2, ks=2, train_iters=1, dim=4
    )
    exact = similarity.brute_force_topk(df, df.filter(F.col("vec_id") < 2), k=3)
    got = sorted((r.query_id, r.cosine) for r in out.collect())
    want = sorted((r.query_id, r.cosine) for r in exact.collect())
    # cosine values agree exactly (reconstruction lands on the true
    # points); neighbors at EQUAL cosine may tie-swap, so compare the
    # per-query score multisets
    assert got == want


def test_rerank_recall_at_5_vs_exact_on_testdata(spark):
    # the catalog config: ADC shortlist of 50 + exact rerank.
    # measured 0.82 (ADC-only: 0.27) on the synthetic UNCLUSTERED
    # embeddings — PQ's worst case; pin a floor with slack for testdata
    # regeneration. Also: reranked cosines must be the EXACT values.
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    pq = similarity.pq_topk(
        emb, queries, k=5, m=8, ks=16, train_iters=1, dim=64, rerank_n=50
    )
    exact = similarity.brute_force_topk(emb, queries, k=5)
    prow = {(r.query_id, r.neighbor_id): r.cosine for r in pq.collect()}
    erow = {(r.query_id, r.neighbor_id): r.cosine for r in exact.collect()}
    recall = len(prow.keys() & erow.keys()) / len(erow)
    assert recall >= 0.6, recall
    for key in prow.keys() & erow.keys():
        assert prow[key] == erow[key]  # exact rescoring, not ADC approximations


def test_rerank_improves_over_adc_only(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }

    def recall(**kw):
        pq = similarity.pq_topk(emb, queries, k=5, train_iters=1, dim=64, **kw)
        p = {(r.query_id, r.neighbor_id) for r in pq.collect()}
        return len(p & exact) / len(exact)

    assert recall(m=8, ks=16, rerank_n=50) >= recall(m=8, ks=16) + 0.2


def test_index_probe_matches_in_memory_pq(spark, tmp_path):
    # build-once/probe-many: the persisted-index probe must replicate the
    # train-inline path bit-exactly (parquet round-trips the double
    # centroids; literal element_at returns the identical stored values)
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    path = str(tmp_path / "pq_index")
    similarity.write_pq_index(emb, path, m=8, ks=16, train_iters=1, dim=64)
    expect = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in similarity.pq_topk(
            emb, queries, k=5, m=8, ks=16, train_iters=1, dim=64, rerank_n=50
        ).collect()
    }
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in similarity.pq_index_topk(
            spark, path, queries, corpus=emb, k=5, rerank_n=50
        ).collect()
    }
    assert got == expect


def test_index_probe_plan_is_scan_light(spark, tmp_path):
    # the point of the split: the probe's plan must NOT retrain (the
    # inline form audits at 43 scans / 41 exchanges). Codebooks ride as
    # literals, so the probe scans only codes + queries (+ corpus when
    # reranking) — single digits.
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "pq_index")
    similarity.write_pq_index(emb, path, m=8, ks=16, train_iters=1, dim=64)
    probe = similarity.pq_index_topk(
        spark, path, emb.filter(F.col("vec_id") < 20), corpus=emb, k=5, rerank_n=50
    )
    plan = probe._sc._jvm.PythonSQLUtils.explainString(
        probe._jdf.queryExecution(), "formatted"
    )
    # count scan NODES (the formatted form lists each node twice: once in
    # the tree, once in the numbered detail section)
    import re

    n_scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    assert n_scans <= 6, f"{n_scans} scans:\n{plan}"
    assert "books" not in plan  # codebooks are plan literals, not a scan


def test_index_probe_requires_corpus_for_rerank(spark, tmp_path):
    import pytest

    emb = load_table(spark, SF_DIR, "embeddings").limit(32)
    path = str(tmp_path / "pq_index")
    similarity.write_pq_index(emb, path, m=4, ks=8, train_iters=1, dim=64)
    with pytest.raises(ValueError, match="requires the raw corpus"):
        similarity.pq_index_topk(spark, path, emb, k=3, rerank_n=10)


def test_recall_pins_at_sf01(spark):
    # VERDICT r8 #6: the sf0.001 recall pins (0.27 ADC / 0.82 reranked)
    # could hide a codebook regression behind the tiny fixture. Measured
    # at sf0.1 (2000 vectors, 2026-08-15): ADC-only 0.15, rerank50 0.63,
    # rerank200 0.92, IVF nprobe2/8 0.72. Pin floors with slack for
    # testdata regeneration; rerank depth must buy recall monotonically.
    emb = load_table(spark, "/root/testdata/sf0.1", "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }

    def pq_recall(**kw):
        got = {
            (r.query_id, r.neighbor_id)
            for r in similarity.pq_topk(
                emb, queries, k=5, m=8, ks=16, train_iters=1, dim=64, **kw
            ).collect()
        }
        return len(got & exact) / len(exact)

    r50 = pq_recall(rerank_n=50)
    r200 = pq_recall(rerank_n=200)
    assert r50 >= 0.5, r50
    assert r200 >= 0.8, r200
    assert r200 >= r50  # deeper shortlist never hurts
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_ann_topk(
            emb, queries, k=5, num_cells=8, nprobe=2
        ).collect()
    }
    assert len(ivf & exact) / len(exact) >= 0.6


def test_pq_append_equals_one_shot_encode(spark, tmp_path):
    # frozen-codebook incremental encode: books trained on day 1 (even
    # ids), day-2 codes appended; probes must match a one-shot encode of
    # the union with the same books
    emb = load_table(spark, SF_DIR, "embeddings")
    day1 = emb.filter(F.col("vec_id") % 2 == 0)
    day2 = emb.filter(F.col("vec_id") % 2 == 1)
    queries = emb.filter(F.col("vec_id") < 20)

    inc = str(tmp_path / "pq_inc")
    codes1, books = similarity.pq_encode(day1, m=8, ks=16, train_iters=1, dim=64)
    books.coalesce(1).write.mode("overwrite").parquet(f"{inc}/books")
    codes1.write.mode("append").parquet(f"{inc}/codes")
    similarity.append_pq_index(spark, day2, inc, dim=64)

    one = str(tmp_path / "pq_one")
    books.coalesce(1).write.mode("overwrite").parquet(f"{one}/books")
    similarity.append_pq_index(spark, emb, one, dim=64)

    a = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in similarity.pq_index_topk(
            spark, inc, queries, corpus=emb, k=5, rerank_n=50
        ).collect()
    }
    b = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in similarity.pq_index_topk(
            spark, one, queries, corpus=emb, k=5, rerank_n=50
        ).collect()
    }
    assert a == b


def test_ivfpq_recall_and_reconstruction(spark):
    # IVF-PQ composes the coarse router with residual PQ; measured
    # recall@5 (2026-08-15): sf0.001 0.79, sf0.1 0.64 at nprobe=3/8 +
    # rerank 200 (vs flat-PQ's 0.92 reading ALL codes — the dial is
    # recall vs bytes read). Pin floors with slack, and pin that
    # widening the probe never hurts.
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }

    def recall(npb, rr):
        got = {
            (r.query_id, r.neighbor_id)
            for r in similarity.ivfpq_topk(
                emb, queries, k=5, num_cells=8, nprobe=npb, m=8, ks=16,
                train_iters=1, dim=64, rerank_n=rr,
            ).collect()
        }
        return len(got & exact) / len(exact)

    r3 = recall(3, 200)
    assert r3 >= 0.6, r3
    # probing every cell removes the IVF pruning loss entirely: with
    # the full corpus reachable and a 200-deep exact rerank the result
    # matches flat PQ's regime
    r8 = recall(8, 200)
    assert r8 >= r3
    # reranked cosines are the EXACT values (same contract as pq_topk)
    out = similarity.ivfpq_topk(
        emb, queries, k=5, num_cells=8, nprobe=3, m=8, ks=16,
        train_iters=1, dim=64, rerank_n=200,
    )
    erow = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }
    for r in out.collect():
        if (r.query_id, r.neighbor_id) in erow:
            assert r.cosine == erow[(r.query_id, r.neighbor_id)]


def test_ivfpq_index_probe_matches_in_memory(spark, tmp_path):
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    path = str(tmp_path / "ivfpq_index")
    similarity.write_ivfpq_index(emb, path, num_cells=8, m=8, ks=16,
                                 train_iters=1, dim=64)
    expect = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in similarity.ivfpq_topk(
            emb, queries, k=5, num_cells=8, nprobe=3, m=8, ks=16,
            train_iters=1, dim=64, rerank_n=200,
        ).collect()
    }
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in similarity.ivfpq_index_topk(
            spark, path, queries, corpus=emb, k=5, nprobe=3, rerank_n=200
        ).collect()
    }
    assert got == expect


def test_ivfpq_index_probe_prunes_and_is_scan_light(spark, tmp_path):
    import os
    import re

    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "ivfpq_index")
    similarity.write_ivfpq_index(emb, path, num_cells=8, m=4, ks=8,
                                 train_iters=1, dim=64)
    # codes live under cell_id= dirs — the physical pruning surface
    dirs = [d for d in os.listdir(f"{path}/codes") if d.startswith("cell_id=")]
    assert len(dirs) >= 4
    probe = similarity.ivfpq_index_topk(
        spark, path, emb.filter(F.col("vec_id") < 4), corpus=emb,
        k=3, nprobe=2, rerank_n=20,
    )
    plan = probe._sc._jvm.PythonSQLUtils.explainString(
        probe._jdf.queryExecution(), "formatted"
    )
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    # cents + queries (assign + rerank sides) + pruned codes + corpus:
    # single-digit, vs the train-inline form's 127 (PLANS.md)
    assert n_scans <= 8, f"{n_scans} scans:\n{plan}"
    assert "PartitionFilters" in plan and "cell_id" in plan, plan


def test_ivfpq_append_equals_one_shot(spark, tmp_path):
    # frozen quantizer + frozen residual codebooks: building on day 1
    # and appending day 2 must probe identically to a one-shot encode of
    # the union with the same models
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    cents = similarity.seeded_centroids(emb, 8)
    day1 = emb.filter(F.col("vec_id") % 2 == 0)
    day2 = emb.filter(F.col("vec_id") % 2 == 1)

    inc = str(tmp_path / "ivfpq_inc")
    similarity.write_ivfpq_index(
        day1, inc, num_cells=8, m=4, ks=8, train_iters=1, dim=64, centroids=cents
    )
    similarity.append_ivfpq_index(spark, day2, inc, dim=64)

    one = str(tmp_path / "ivfpq_one")
    similarity.write_ivfpq_index(
        day1, one, num_cells=8, m=4, ks=8, train_iters=1, dim=64, centroids=cents
    )
    # wipe the one-shot codes and re-encode the UNION with the frozen models
    import shutil

    shutil.rmtree(f"{one}/codes")
    similarity.append_ivfpq_index(spark, emb, one, dim=64)

    a = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in similarity.ivfpq_index_topk(
            spark, inc, queries, corpus=emb, k=5, nprobe=3, rerank_n=50
        ).collect()
    }
    b = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in similarity.ivfpq_index_topk(
            spark, one, queries, corpus=emb, k=5, nprobe=3, rerank_n=50
        ).collect()
    }
    assert a == b


def test_append_derives_geometry_from_books_and_rejects_mismatch(spark, tmp_path):
    # the index's geometry lives in the persisted books, NOT the caller's
    # dim argument: a wrong dim must be refused (not slice wrong
    # subvectors and append plausible-but-garbage codes), and so must
    # delta vectors whose length disagrees with the books
    emb = load_table(spark, SF_DIR, "embeddings")
    day1 = emb.filter(F.col("vec_id") % 2 == 0)
    day2 = emb.filter(F.col("vec_id") % 2 == 1)

    path = str(tmp_path / "pq_geo")
    similarity.write_pq_index(day1, path, m=8, ks=16, dim=64)

    import pytest

    with pytest.raises(ValueError, match="inconsistent with persisted books"):
        similarity.append_pq_index(spark, day2, path, dim=32)

    # delta vectors shorter than the index dim are refused too
    short = day2.select("vec_id", F.slice("embedding", 1, 32).alias("embedding"))
    with pytest.raises(ValueError, match="delta vector lengths"):
        similarity.append_pq_index(spark, short, path, dim=64)

    # correct dim still appends fine after the failed attempts
    similarity.append_pq_index(spark, day2, path, dim=64)
    n = spark.read.parquet(f"{path}/codes").count()
    assert n == emb.count()


def test_ivfpq_append_rejects_geometry_mismatch(spark, tmp_path):
    emb = load_table(spark, SF_DIR, "embeddings")
    day1 = emb.filter(F.col("vec_id") % 2 == 0)
    day2 = emb.filter(F.col("vec_id") % 2 == 1)

    path = str(tmp_path / "ivfpq_geo")
    similarity.write_ivfpq_index(day1, path, num_cells=4, m=8, ks=16, dim=64)

    import pytest

    with pytest.raises(ValueError, match="inconsistent with persisted books"):
        similarity.append_ivfpq_index(spark, day2, path, dim=128)

    short = day2.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    with pytest.raises(ValueError, match="delta vector lengths"):
        similarity.append_ivfpq_index(spark, short, path, dim=64)

    similarity.append_ivfpq_index(spark, day2, path, dim=64)
    assert spark.read.parquet(f"{path}/codes").count() == emb.count()


def test_frozen_expression_encode_equals_join_encode(spark):
    """The append path's expression encode must be BIT-IDENTICAL to the
    assign_clusters join-argmin on the same books — the guarantee that
    makes append ≡ rebuild: same zip_with/aggregate fold, same
    (dist, cid) tie-break, directly A/B'd here on real vectors rather
    than implied through the catalog oracle."""
    from pyspark.sql import functions as F

    from reddit_tech_jobs_data_pipeline_spark.operators import similarity
    from reddit_tech_jobs_data_pipeline_spark.operators.kmeans import assign_clusters

    emb = load_table(spark, SF_DIR, "embeddings")
    codes1, books = similarity.pq_encode(emb, m=8, ks=16, train_iters=1, dim=64)
    books = books.localCheckpoint()
    rows = books.select("sub", "cid", "cvec").collect()
    cid_type = dict(books.dtypes)["cid"]
    base = emb.select("vec_id", similarity._dvec(F.col("embedding")).alias("__v"))
    expr_codes = {
        r.vec_id: tuple(r[f"code_{s}"] for s in range(8))
        for r in base.select(
            "vec_id", *similarity._frozen_encode_exprs("__v", rows, 8, 8, cid_type)
        ).collect()
    }
    join_codes = None
    for s in range(8):
        sv = base.select("vec_id", F.slice("__v", s * 8 + 1, 8).alias("v"))
        cents = books.filter(F.col("sub") == s).select("cid", "cvec")
        assigned = assign_clusters(sv, cents).select(
            "vec_id", F.col("cid").alias(f"code_{s}")
        )
        join_codes = assigned if join_codes is None else join_codes.join(assigned, "vec_id")
    want = {
        r.vec_id: tuple(r[f"code_{s}"] for s in range(8))
        for r in join_codes.collect()
    }
    assert expr_codes == want


def test_books_geometry_rejects_gapped_subs_and_nonfinite_centroids():
    """Round-11 advisor finding: the frozen-books encode indexed
    by_sub[s] for s in range(m) (a gapped books table died as a bare
    KeyError) and rendered non-finite centroids as 'infD'/'nanD' SQL
    (an opaque parse error). Both must refuse with attributable
    messages at geometry-derivation time."""
    import pytest
    from pyspark.sql import Row

    geom = similarity._books_geometry_from_rows

    def book(sub, cid, vec):
        return Row(sub=sub, cid=cid, cvec=vec)

    ok = [book(0, 0, [0.0, 0.0]), book(1, 0, [1.0, 1.0])]
    assert geom(ok, 4, "t") == (2, 2)

    gapped = [book(0, 0, [0.0, 0.0]), book(2, 0, [1.0, 1.0])]
    with pytest.raises(ValueError, match="not contiguous"):
        geom(gapped, 4, "t")

    inf = [book(0, 0, [0.0, float("inf")]), book(1, 0, [1.0, 1.0])]
    with pytest.raises(ValueError, match="non-finite"):
        geom(inf, 4, "t")

    nan = [book(0, 0, [0.0, 0.0]), book(1, 0, [float("nan"), 1.0])]
    with pytest.raises(ValueError, match="non-finite"):
        geom(nan, 4, "t")


def test_probes_refuse_gapped_books(spark, tmp_path):
    """A books table with a missing subspace must fail a probe with the
    same ValueError the appends raise, not a bare KeyError from the
    literal lookup, for both PQ and IVF-PQ."""
    import shutil

    import pytest

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4)
    pq = str(tmp_path / "pq")
    similarity.write_pq_index(emb, pq, m=4, ks=8, train_iters=1, dim=64)
    ivfpq = str(tmp_path / "ivfpq")
    similarity.write_ivfpq_index(emb, ivfpq, num_cells=4, m=4, ks=8, train_iters=1, dim=64)
    for path in (pq, ivfpq):
        books = spark.read.parquet(f"{path}/books").filter(F.col("sub") != 1)
        books.coalesce(1).write.parquet(f"{path}/books_gapped")
        shutil.rmtree(f"{path}/books")
        os.rename(f"{path}/books_gapped", f"{path}/books")
    with pytest.raises(ValueError, match="not contiguous"):
        similarity.pq_index_topk(spark, pq, queries, k=3)
    with pytest.raises(ValueError, match="not contiguous"):
        similarity.ivfpq_index_topk(spark, ivfpq, queries, k=3)


def test_probe_refuses_codes_books_width_mismatch(spark, tmp_path):
    """Books of m subspaces against a codes table with a different
    number of code columns is a corrupt index, refused by the probe."""
    import pytest

    emb = load_table(spark, SF_DIR, "embeddings").limit(64)
    path = str(tmp_path / "pq")
    similarity.write_pq_index(emb, path, m=4, ks=8, train_iters=1, dim=64)
    import shutil

    spark.read.parquet(f"{path}/codes").drop("code_3").write.parquet(f"{path}/codes3")
    shutil.rmtree(f"{path}/codes")
    os.rename(f"{path}/codes3", f"{path}/codes")
    with pytest.raises(ValueError, match="3 code columns but the books have m=4"):
        similarity.pq_index_topk(spark, path, emb, k=3)


def test_append_pq_index_empty_delta_writes_nothing(spark, tmp_path):
    """An empty delta is a no-op: the codes directory listing is
    unchanged (no empty part file is appended)."""
    emb = load_table(spark, SF_DIR, "embeddings").limit(64)
    path = str(tmp_path / "pq")
    similarity.write_pq_index(emb, path, m=4, ks=8, train_iters=1, dim=64)
    before = sorted(os.listdir(f"{path}/codes"))
    similarity.append_pq_index(spark, emb.filter(F.col("vec_id") < 0), path, dim=64)
    assert sorted(os.listdir(f"{path}/codes")) == before


def test_pq_stream_ingest_idempotent_and_equals_batch_append(spark, tmp_path):
    """The PQ ingest step replay-skips ids already coded (a replayed
    batch appends nothing), and the streamed index probe equals the
    batch frozen-books append over the same slices — the frozen-MODEL
    guarantee for a TRAINED quantizer, not just data-independent
    planes."""
    from reddit_tech_jobs_data_pipeline_spark.sources.testdata import load_table
    from reddit_tech_jobs_data_pipeline_spark.streaming import runner

    emb = load_table(spark, SF_DIR, "embeddings")
    hist = emb.filter(F.col("vec_id") % 4 == 0)
    _codes0, books = similarity.pq_encode(hist, m=4, ks=8, train_iters=1, dim=64)
    books = books.localCheckpoint()

    streamed = str(tmp_path / "pq_stream")
    books.coalesce(1).write.mode("overwrite").parquet(f"{streamed}/books")
    b1 = emb.filter(F.col("vec_id") % 2 == 0)
    b2 = emb.filter(F.col("vec_id") % 2 == 1)
    step = runner.ingest_step(
        f"{streamed}/codes",
        "vec_id",
        lambda new: similarity.append_pq_index(spark, new, streamed, dim=64),
    )
    step(b1, 0)
    n1 = spark.read.parquet(f"{streamed}/codes").count()
    files = sorted(os.listdir(f"{streamed}/codes"))
    step(b1, 1)  # replay: must append nothing, not even an empty fragment
    assert spark.read.parquet(f"{streamed}/codes").count() == n1
    assert sorted(os.listdir(f"{streamed}/codes")) == files
    step(b2, 2)
    assert spark.read.parquet(f"{streamed}/codes").count() == emb.count()

    batch = str(tmp_path / "pq_batch")
    books.coalesce(1).write.mode("overwrite").parquet(f"{batch}/books")
    similarity.append_pq_index(spark, emb, batch, dim=64)

    queries = emb.filter(F.col("vec_id") < 16)
    a = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in similarity.pq_index_topk(
            spark, streamed, queries, corpus=emb, k=5, rerank_n=20
        ).collect()
    }
    b = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in similarity.pq_index_topk(
            spark, batch, queries, corpus=emb, k=5, rerank_n=20
        ).collect()
    }
    assert a == b


def test_ivfpq_stream_ingest_idempotent_and_equals_batch_append(spark, tmp_path):
    """The IVF-PQ ingest step replay-skips coded ids and the streamed
    index probe equals the batch frozen-models append — IVF-PQ's two
    frozen models (coarse quantizer + residual books) through the
    stream."""
    from reddit_tech_jobs_data_pipeline_spark.sources.testdata import load_table
    from reddit_tech_jobs_data_pipeline_spark.streaming import runner

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = similarity.seeded_centroids(emb, 4)

    def _models(path):
        similarity.write_ivfpq_index(
            emb.filter(F.col("vec_id") % 4 == 0), path,
            num_cells=4, m=4, ks=8, train_iters=1, dim=64, centroids=cents,
        )
        import shutil

        shutil.rmtree(f"{path}/codes")

    streamed = str(tmp_path / "ivfpq_stream")
    _models(streamed)
    b1 = emb.filter(F.col("vec_id") % 2 == 0)
    b2 = emb.filter(F.col("vec_id") % 2 == 1)
    step = runner.ingest_step(
        f"{streamed}/codes",
        "vec_id",
        lambda new: similarity.append_ivfpq_index(spark, new, streamed, dim=64),
    )
    step(b1, 0)
    n1 = spark.read.parquet(f"{streamed}/codes").count()
    step(b1, 1)  # replay
    assert spark.read.parquet(f"{streamed}/codes").count() == n1
    step(b2, 2)
    assert spark.read.parquet(f"{streamed}/codes").count() == emb.count()

    batch = str(tmp_path / "ivfpq_batch")
    _models(batch)
    similarity.append_ivfpq_index(spark, emb, batch, dim=64)

    queries = emb.filter(F.col("vec_id") < 16)
    a = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in similarity.ivfpq_index_topk(
            spark, streamed, queries, corpus=emb, k=5, nprobe=2, rerank_n=20
        ).collect()
    }
    b = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in similarity.ivfpq_index_topk(
            spark, batch, queries, corpus=emb, k=5, nprobe=2, rerank_n=20
        ).collect()
    }
    assert a == b
