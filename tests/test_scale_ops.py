"""Tests for the scale-extension operators: dedup families, similarity,
multimodal plumbing, streaming."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from reddit_tech_jobs_data_pipeline_spark.functions import text as textfn
from reddit_tech_jobs_data_pipeline_spark.operators import dedup, multimodal, similarity

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank today extra"),  # near-dup of 1
    (3, "completely different text about spark query engines and distributed joins"),
    (4, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 1
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "id long, text string")


class TestExactDedup:
    def test_keeps_lowest_id(self, spark):
        out = dedup.exact_dedup(_docs(spark), "text", "id")
        assert sorted(r.id for r in out.collect()) == [1, 2, 3]


class TestNgramJaccard:
    def test_near_dup_found(self, spark):
        pairs = dedup.ngram_jaccard_pairs(_docs(spark), "text", "id", n=3, threshold=0.7)
        got = {(r.id_a, r.id_b) for r in pairs.collect()}
        assert (1, 2) in got and (1, 4) in got and (2, 4) in got
        assert not any(3 in p for p in got)

    def test_exact_dup_jaccard_one(self, spark):
        pairs = {
            (r.id_a, r.id_b): r.jaccard
            for r in dedup.ngram_jaccard_pairs(_docs(spark), "text", "id").collect()
        }
        assert pairs[(1, 4)] == 1.0


class TestPrefixFilterJaccard:
    def test_equals_exhaustive_join(self, spark):
        """Prefix filtering is lossless: identical pairs AND scores vs the
        exhaustive inverted-index join, at a threshold (0.7) where float
        ceil would miscompute prefix lengths (ceil(0.7*10) -> 8)."""
        docs = _docs(spark)
        exhaustive = {
            (r.id_a, r.id_b): r.jaccard
            for r in dedup.ngram_jaccard_pairs(
                docs, "text", "id", n=3, threshold=0.7
            ).collect()
        }
        pruned = {
            (r.id_a, r.id_b): r.jaccard
            for r in dedup.prefix_filter_jaccard_pairs(
                docs, "text", "id", n=3, threshold_num=7, threshold_den=10
            ).collect()
        }
        assert pruned == exhaustive
        assert pruned  # non-vacuous: the near-dup cluster is present

    def test_low_threshold_wider_recall(self, spark):
        got = {
            (r.id_a, r.id_b)
            for r in dedup.prefix_filter_jaccard_pairs(
                _docs(spark), "text", "id", n=3, threshold_num=1, threshold_den=2
            ).collect()
        }
        want = {
            (r.id_a, r.id_b)
            for r in dedup.ngram_jaccard_pairs(
                _docs(spark), "text", "id", n=3, threshold=0.5
            ).collect()
        }
        assert got == want


class TestMinhashLSH:
    def test_finds_near_dups_not_distinct(self, spark):
        pairs = dedup.minhash_lsh_dedup_pairs(
            _docs(spark), "text", "id", num_hashes=16, bands=4, threshold=0.5
        )
        got = {(r.id_a, r.id_b) for r in pairs.collect()}
        assert (1, 4) in got  # identical docs always collide in every band
        assert not any(3 in p for p in got)


class TestSimhash:
    def test_identical_docs_hamming_zero(self, spark):
        pairs = dedup.simhash_near_dup_pairs(_docs(spark), "text", "id", max_hamming=3)
        ham = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
        assert ham.get((1, 4)) == 0


class TestSimilarity:
    def _emb(self, spark):
        rows = [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0, 0.0]),   # closest to 1
            (3, [0.0, 1.0, 0.0, 0.0]),
            (4, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 1
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_brute_force_topk(self, spark):
        emb = self._emb(spark)
        out = similarity.brute_force_topk(emb, emb.filter(F.col("vec_id") == 1), k=2)
        rows = sorted(out.collect(), key=lambda r: r.rank)
        assert [r.neighbor_id for r in rows] == [2, 3]
        assert rows[0].cosine == pytest.approx(0.9939, abs=1e-4)

    def test_bucketed_ann_same_bucket_only(self, spark):
        emb = self._emb(spark)
        out = similarity.bucketed_ann_topk(emb, emb.filter(F.col("vec_id") == 1), k=3, nbits=1)
        # nbits=1 buckets on sign of component 0: vec 4 (negative) excluded
        assert sorted(r.neighbor_id for r in out.collect()) == [2, 3]


class TestMultimodal:
    def test_decode_features_plumbing(self, spark):
        docs = spark.createDataFrame(
            [(1, "hello", "en", "s1", 5), (2, None, "en", "s2", 0)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        blobs = multimodal.synthesize_blobs(docs)
        feats = {r.id: r for r in multimodal.decode_features(blobs).collect()}
        import hashlib

        assert feats[1].n_bytes == 5
        assert feats[1].content_md5 == hashlib.md5(b"hello").hexdigest()
        assert len(feats[1].feature) == 4
        assert all(0 <= x <= 1 for x in feats[1].feature)
        assert feats[2].n_bytes == 0  # NULL text -> empty payload

    def test_real_decode_is_stubbed(self):
        with pytest.raises(NotImplementedError):
            multimodal.real_decode(b"bytes", "image")


class TestTextFunctions:
    def test_lang_id_markers(self, spark):
        df = spark.createDataFrame(
            [("the cat and the dog is here",), ("der hund ist nicht hier",), ("xyz qqq",)],
            "text string",
        )
        out = [r[0] for r in df.select(textfn.lang_id("text").alias("v")).collect()]
        assert out == ["en", "de", "und"]

    def test_fingerprint_order_insensitive(self, spark):
        df = spark.createDataFrame([("b a c",), ("c b a",), ("a b d",)], "text string")
        fps = [r[0] for r in df.select(textfn.fingerprint("text").alias("v")).collect()]
        assert fps[0] == fps[1] != fps[2]


class TestAsofJoin:
    def test_asof_semantics(self, spark):
        import datetime as dt

        from reddit_tech_jobs_data_pipeline_spark.operators.asof import asof_join

        t = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
        left = spark.createDataFrame(
            [(1, t(10), 100), (1, t(30), 101), (2, t(5), 200)],
            "user_id long, ts timestamp, event_id long",
        )
        right = spark.createDataFrame(
            [(1, t(5), 1.0), (1, t(10), 2.0), (1, t(20), 3.0), (3, t(1), 9.0)],
            "user_id long, ts timestamp, v double",
        )
        out = {
            r.event_id: r.v_asof
            for r in asof_join(left, right, ["user_id"], "ts", ["v"]).collect()
        }
        assert out[100] == 2.0  # equality match included
        assert out[101] == 3.0  # latest at-or-before
        assert out[200] is None  # no prior right row for user 2

    def test_tiebreaker_carried_on_right_at_equal_ts(self, spark):
        """r10 advisor finding: the tiebreaker must ride right rows with
        its REAL value, not be null-filled — otherwise right rows sort
        before/after left at equal ts regardless of the tiebreaker and
        diverge from an ORDER BY ts, tiebreaker, tag oracle."""
        import datetime as dt

        from reddit_tech_jobs_data_pipeline_spark.operators.asof import (
            asof_join,
            asof_join_forward,
        )

        t = dt.datetime(2024, 1, 1, 0, 10)
        # Left event_id=5 at ts t. Right rows at the SAME ts: event_id=3
        # (before left in (ts, event_id) order) and event_id=7 (after).
        left = spark.createDataFrame(
            [(1, t, 5)], "user_id long, ts timestamp, event_id long"
        )
        right = spark.createDataFrame(
            [(1, t, 3, 30.0), (1, t, 7, 70.0)],
            "user_id long, ts timestamp, event_id long, v double",
        )
        back = asof_join(
            left, right, ["user_id"], "ts", ["v"], tiebreaker="event_id"
        ).first()
        # at-or-before in (ts, event_id) order: only event_id=3 qualifies
        assert back.v_asof == 30.0
        fwd = asof_join_forward(
            left, right, ["user_id"], "ts", ["v"], tiebreaker="event_id"
        ).first()
        # at-or-after in (ts, event_id) order: first is event_id=7
        assert fwd.v_asof == 70.0


class TestApproxDistinct:
    def test_hll_within_tolerance(self, spark):
        from reddit_tech_jobs_data_pipeline_spark.sources.testdata import load_table

        ev = load_table(spark, "/root/testdata/sf0.001", "events")
        row = ev.agg(
            F.countDistinct("user_id").alias("exact"),
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
        ).first()
        assert abs(row.approx - row.exact) <= max(2, 0.05 * row.exact)


class TestSessionWindowStreaming:
    def test_native_session_window_matches_gap_rule(self, spark):
        """Spark's native session_window (usable in batch AND streaming)
        groups events within a gap — cross-check counts against the
        batch sessionization operator on crafted data with clear gaps."""
        import datetime as dt

        from reddit_tech_jobs_data_pipeline_spark.operators.sessions import session_stats

        rows = []
        eid = 0
        for user in (1, 2):
            for sess_start in (0, 120, 300):  # minutes; gaps >> 30min
                for k in range(3):
                    rows.append((eid, user, dt.datetime(2024, 1, 1, 0, 0) + dt.timedelta(minutes=sess_start + k), 1.0))
                    eid += 1
        ev = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp, value double")

        native = (
            ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        native_counts = sorted((r.user_id, r.n) for r in native.collect())
        ours = session_stats(ev, gap_minutes=30)
        our_counts = sorted((r.user_id, r.n_events) for r in ours.collect())
        assert native_counts == our_counts == [(1, 3)] * 3 + [(2, 3)] * 3


class TestClusterNearDups:
    def test_connected_components(self, spark):
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (3, 4)],
            "id_a long, id_b long",
        )
        out = {r.id: r.cluster_id for r in dedup.cluster_near_dups(pairs).collect()}
        assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}

    def test_incremental_update_keeps_untouched_singletons(self, spark):
        """Old labels fold in as (id, cluster_id) pairs: the new pair joins
        two old components, and the singleton 7 keeps its own row."""
        labels = spark.createDataFrame(
            [(1, 1), (2, 1), (5, 5), (6, 5), (7, 7)], "id long, cluster_id long"
        )
        new = spark.createDataFrame([(6, 2), (8, 9)], "id_a long, id_b long")
        out = {
            r.id: r.cluster_id
            for r in dedup.incremental_cluster_update(labels, new).collect()
        }
        assert out == {1: 1, 2: 1, 5: 1, 6: 1, 7: 7, 8: 8, 9: 8}


class TestIvfAnn:
    def test_probe_restricted_to_cells(self, spark):
        from reddit_tech_jobs_data_pipeline_spark.operators.similarity import ivf_ann_topk

        rows = [
            (0, [1.0, 0.0, 0.0, 0.0]),   # centroid cell 0
            (1, [0.0, 1.0, 0.0, 0.0]),   # centroid cell 1
            (5, [0.95, 0.05, 0.0, 0.0]),  # cell 0 member
            (6, [0.05, 0.95, 0.0, 0.0]),  # cell 1 member
            (7, [0.9, 0.1, 0.0, 0.0]),   # cell 0 member
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = ivf_ann_topk(
            emb, emb.filter(F.col("vec_id") == 5), k=3, num_cells=2, nprobe=1
        )
        got = sorted(r.neighbor_id for r in out.collect())
        # nprobe=1: only cell-0 members reachable (0 and 7), not cell 1
        assert got == [0, 7]


class TestRepeatedNgramCoverage:
    def _cov(self, spark, rows, n=4, min_docs=2):
        df = spark.createDataFrame(rows, "id long, text string")
        out = dedup.repeated_ngram_coverage(df, "text", "id", n=n, min_docs=min_docs)
        return {r.id: r for r in out.collect()}

    def test_exact_duplicates_fully_covered(self, spark):
        t = "a b c d e f g h i j"
        got = self._cov(spark, [(1, t), (2, t), (3, "k l m n o p q r s t")])
        assert got[1].coverage == 1.0 and got[2].coverage == 1.0
        assert got[3].coverage == 0.0 and got[3].dup_spans == 0
        # 10 tokens, 4-grams -> 7 duplicated start positions, union = 10
        assert got[1].dup_spans == 7 and got[1].covered_tok == 10

    def test_shared_run_span_union(self, spark):
        # docs share exactly the 6-token run "p q r s t u": 3 shared
        # 4-grams at consecutive starts -> union = 4 + 1 + 1 = 6 tokens
        got = self._cov(
            spark,
            [(1, "x1 x2 p q r s t u y1 y2"), (2, "z1 p q r s t u z2 z3 z4")],
        )
        for i in (1, 2):
            assert got[i].dup_spans == 3
            assert got[i].covered_tok == 6
            assert got[i].coverage == 0.6

    def test_short_doc_reports_zero_not_missing(self, spark):
        got = self._cov(spark, [(1, "a b"), (2, "c d e f g h"), (3, "c d e f g h")])
        assert got[1].n_tok == 2 and got[1].coverage == 0.0
        assert got[2].coverage == 1.0

    def test_within_doc_repetition_not_counted(self, spark):
        # the gram repeats INSIDE doc 1 only -> min_docs=2 distinct docs
        # not met -> no duplicated span anywhere
        got = self._cov(spark, [(1, "a b c d a b c d"), (2, "x y z w v u t s")])
        assert got[1].dup_spans == 0 and got[2].dup_spans == 0


class TestDuplicateSpanClip:
    def _clip(self, spark, rows, n=4):
        df = spark.createDataFrame(rows, "id long, text string")
        out = dedup.duplicate_span_clip(df, "text", "id", n=n)
        return {r.id: r for r in out.collect()}

    def test_keeper_keeps_others_lose(self, spark):
        t = "a b c d e f"
        got = self._clip(spark, [(1, t), (2, t), (3, t)])
        assert got[1].n_removed == 0 and got[1].clean_text == t  # lowest id keeps
        for i in (2, 3):
            assert got[i].n_removed == 6 and got[i].clean_text == ""

    def test_clip_is_span_precise(self, spark):
        # only the shared 4-token run "p q r s" is clipped from doc 2
        got = self._clip(
            spark, [(1, "p q r s x1 x2 x3 x4"), (2, "y1 y2 p q r s y3 y4")]
        )
        assert got[1].n_removed == 0
        assert got[2].clean_text == "y1 y2 y3 y4" and got[2].n_removed == 4

    def test_per_gram_keeper_rule(self, spark):
        # doc 2 is keeper for run B (shared with doc 3) but loses run A
        # (doc 1 is keeper) — a doc can win one span and lose another
        got = self._clip(
            spark,
            [
                (1, "a1 a2 a3 a4 z1 z2 z3 z4"),
                (2, "a1 a2 a3 a4 b1 b2 b3 b4"),
                (3, "w1 w2 w3 w4 b1 b2 b3 b4"),
            ],
        )
        assert got[1].n_removed == 0
        assert got[2].clean_text == "b1 b2 b3 b4"
        assert got[3].clean_text == "w1 w2 w3 w4"

    def test_conservation_against_coverage(self, spark):
        # for 2-doc exact dup: loser's n_removed == its covered_tok
        t = "m n o p q r s t u v"
        clip = self._clip(spark, [(1, t), (2, t)])
        df = spark.createDataFrame([(1, t), (2, t)], "id long, text string")
        cov = {
            r.id: r
            for r in dedup.repeated_ngram_coverage(df, "text", "id", n=4).collect()
        }
        assert clip[2].n_removed == cov[2].covered_tok == 10


def test_cluster_safe_splits_no_straddle(spark):
    """The invariant the query exists for: no near-dup pair straddles
    two splits, and the full corpus is assigned."""
    from reddit_tech_jobs_data_pipeline_spark.plans.catalog import get_registry
    from reddit_tech_jobs_data_pipeline_spark.plans.catalog_scale import _corpus_df

    sf = "/root/testdata/sf0.001"
    splits = get_registry()["cluster_safe_splits"].spark(spark, sf)
    by_id = {r.id: r.split for r in splits.collect()}
    corpus = _corpus_df(spark, sf)
    assert len(by_id) == corpus.count()
    pairs = dedup.minhash_lsh_dedup_pairs(
        corpus, "text", "id", num_hashes=16, bands=4, n=3, threshold=0.7
    ).collect()
    assert len(pairs) > 0  # the planted dups actually exercise the invariant
    for p in pairs:
        assert by_id[p.id_a] == by_id[p.id_b]


def test_span_clip_keeper_retains_within_doc_repeats(spark):
    """The keeper keeps ALL its occurrences of a duplicated gram; only
    other docs are clipped (within-doc repetition is a quality signal,
    not a dedup concern)."""
    rows = [(1, "a b c d x y a b c d"), (2, "z1 a b c d z2 z3 z4")]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r.id: r for r in dedup.duplicate_span_clip(df, "text", "id", n=4).collect()}
    assert got[1].n_removed == 0 and got[1].clean_text == rows[0][1]
    assert got[2].clean_text == "z1 z2 z3 z4"


class TestNgramFamilyProperties:
    """Hypothesis invariants tying the measure (coverage) and transform
    (clip) halves of exact-substring dedup to a brute-force Python
    reimplementation — one DataFrame per example."""

    def test_against_bruteforce(self, spark):
        from hypothesis import given, settings, strategies as st

        N = 4
        vocab_words = ["a", "b", "c", "d", "e"]
        doc_strat = st.lists(
            st.sampled_from(vocab_words), min_size=0, max_size=14
        ).map(" ".join)

        @settings(max_examples=6, deadline=None)
        @given(st.lists(doc_strat, min_size=2, max_size=6))
        def run(texts):
            rows = [(i, t) for i, t in enumerate(texts)]
            df = spark.createDataFrame(rows, "id long, text string")
            cov = {
                r.id: r
                for r in dedup.repeated_ngram_coverage(df, "text", "id", n=N).collect()
            }
            clip = {
                r.id: r
                for r in dedup.duplicate_span_clip(df, "text", "id", n=N).collect()
            }
            # brute force: gram -> set of doc ids; covered spans per doc
            grams: dict = {}
            toks = {i: t.split() if t else [] for i, t in rows}
            for i, ws in toks.items():
                for p in range(len(ws) - N + 1):
                    grams.setdefault(tuple(ws[p : p + N]), set()).add(i)
            for i, ws in toks.items():
                covered = set()
                removed = set()
                for p in range(len(ws) - N + 1):
                    g = tuple(ws[p : p + N])
                    if len(grams[g]) >= 2:
                        covered.update(range(p, p + N))
                        if min(grams[g]) != i:
                            removed.update(range(p, p + N))
                if not ws:
                    assert i not in cov and i not in clip
                    continue
                assert cov[i].covered_tok == len(covered)
                assert cov[i].n_tok == len(ws)
                clean = " ".join(w for p, w in enumerate(ws) if p not in removed)
                assert clip[i].clean_text == clean
                assert clip[i].n_removed == len(removed)
                # clip never removes more than coverage measures
                assert clip[i].n_removed <= cov[i].covered_tok

        run()


def test_simhash_shingle_features_separate_word_order(spark):
    # unigram token-SET features collapse same-vocab docs to one
    # fingerprint; bigram shingles keep word order in the signature
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),  # identical
        (3, "theta eta zeta epsilon delta gamma beta alpha"),  # reversed
        (4, None),  # no features: must not pair with anything
        (5, ""),    # no features either
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    uni = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_near_dup_pairs(
            df, "text", "id", width=32, band_bits=8, max_hamming=0, n=1
        ).collect()
    }
    bi = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_near_dup_pairs(
            df, "text", "id", width=32, band_bits=8, max_hamming=0, n=2
        ).collect()
    }
    # unigram: the reversed doc has the same token set -> same fingerprint
    assert uni[(1, 3)] == 0 and uni[(1, 2)] == 0
    # bigram: identical docs still hamming 0, reversed doc separates
    assert bi[(1, 2)] == 0
    assert (1, 3) not in bi
    # featureless docs never appear on either side
    assert not any(4 in p or 5 in p for p in list(uni) + list(bi))


class TestAudioEnergyWindows:
    def test_framing_silence_and_partial_frame_policy(self, spark):
        import struct

        from reddit_tech_jobs_data_pipeline_spark.operators import multimodal

        def wav(samples):
            data = b"".join(struct.pack("<h", s) for s in samples)
            hdr = (
                b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
                b"fmt \x10\x00\x00\x00\x01\x00\x01\x00\x40\x1f\x00\x00"
                b"\x80\x3e\x00\x00\x02\x00\x10\x00"
                b"data" + struct.pack("<I", len(data))
            )
            return hdr + data

        rows = [
            # 10 samples, frame=4 -> windows 0,1 full; trailing 2 dropped
            (1, "audio", wav([0, 0, 0, 0, 20000, -20000, 20000, -20000, 9, 9])),
            (2, "audio", bytearray(b"not a wav")),  # undecodable: dropped
        ]
        df = spark.createDataFrame(rows, "id long, modality string, content binary")
        out = {
            (r.id, r.window_i): (r.rms, r.is_silence)
            for r in multimodal.audio_energy_windows(df, frame=4).collect()
        }
        assert set(out) == {(1, 0), (1, 1)}
        assert out[(1, 0)] == (0.0, True)
        assert out[(1, 1)] == (20000.0, False)


def test_multimodal_combined_clusters_image_edge_is_load_bearing(spark):
    """Cross-modal duplicate identity: two docs in the same planted
    IMAGE family (consecutive doc_ids, unrelated texts and URLs) must
    land in one multimodal_combined_clusters cluster while the
    text+URL-only combined_dedup_clusters keeps them apart — the image
    edge alone carries the link."""
    from reddit_tech_jobs_data_pipeline_spark.plans.catalog_corpus import (
        combined_dedup_clusters,
        multimodal_combined_clusters,
    )

    sf = "/root/testdata/sf0.001"
    multi = {
        r.id: r.cluster_id for r in multimodal_combined_clusters(spark, sf).collect()
    }
    textonly = {
        r.id: r.cluster_id for r in combined_dedup_clusters(spark, sf).collect()
    }
    # find an image family (4k, 4k+1) linked multimodally but not by text/URL
    witnessed = False
    for k in range(0, 40, 4):
        a, b = k, k + 1
        if multi.get(a) is not None and multi.get(a) == multi.get(b):
            same_text_cluster = (
                a in textonly and b in textonly and textonly[a] == textonly[b]
            )
            if not same_text_cluster:
                witnessed = True
                break
    assert witnessed, "no image-only link found in the first 10 families"
    # injected copies re-host their original's image: Hamming-0 edge
    assert multi.get(0) is not None and multi.get(0) == multi.get(100000)


def test_multimodal_combined_clusters_audio_edge_is_load_bearing(spark):
    """The sparse audio families straddle the image families: docs 1 and
    51 share an audio family (block 0) but nothing else — different
    image families (0 vs 12), unrelated texts, different canonical URL
    hosts — so their shared cluster must be carried by the audio edge
    alone: present in the four-evidence clustering, absent from a CC
    over the SAME edges minus audio."""
    from pyspark.sql import functions as F

    from reddit_tech_jobs_data_pipeline_spark.operators import dedup as dedup_ops
    from reddit_tech_jobs_data_pipeline_spark.operators.multimodal import image_ahash
    from reddit_tech_jobs_data_pipeline_spark.plans.catalog_analytics import (
        _phash_blobs,
    )
    from reddit_tech_jobs_data_pipeline_spark.plans.catalog_corpus import (
        multimodal_combined_clusters,
    )
    from reddit_tech_jobs_data_pipeline_spark.plans.catalog_scale import _corpus_df

    sf = "/root/testdata/sf0.001"
    multi = {
        r.id: r.cluster_id for r in multimodal_combined_clusters(spark, sf).collect()
    }
    assert multi.get(1) is not None and multi.get(1) == multi.get(51)

    corpus = _corpus_df(spark, sf)
    tpairs = dedup_ops.minhash_lsh_dedup_pairs(
        corpus, "text", "id", num_hashes=16, bands=4, n=3, threshold=0.7
    ).select("id_a", "id_b")
    ipairs = dedup_ops.hamming_band_pairs(
        image_ahash(
            _phash_blobs(
                corpus.select("id", (F.col("id") % 100000).alias("doc_id")).filter(
                    F.col("doc_id") % 20 < 4
                ),
                id_col="id",
            )
        ),
        max_hamming=2,
        exact_pairs=False,
    ).select("id_a", "id_b")
    no_audio = {
        r.id: r.cluster_id
        for r in dedup_ops.cluster_near_dups(
            tpairs.unionByName(ipairs)
        ).collect()
    }
    assert no_audio.get(1) != no_audio.get(51) or no_audio.get(1) is None
