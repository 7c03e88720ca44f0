"""Degenerate-content levers for the multimodal near-dup family (the
r12 verdict's one weak item): real corpora carry BULK identical or
near-identical fingerprints — monochrome images all aHash to one value,
silence collides, black frames are the classic CBVR hot key — and the
band/frame equi-joins must stay linear on them.

Three levers, each pinned here:
- exact-hash collapse (always on): the band join only ever sees one
  representative per distinct hash, so identical-content floods cost it
  nothing; full expansion back to member pairs stays brute-force-exact.
- ``exact_pairs=False``: the linear star-edge form — same connected
  components, same survivor set under the drop-id_b rule — for callers
  that cluster or ingest rather than enumerate pairs.
- ``max_band_df`` / ``max_frame_df``: drop band keys / frame hashes
  still hot across DISTINCT hashes (near-degenerate content), the
  max_gram_df dial of the text families.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from reddit_tech_jobs_data_pipeline_spark.operators.dedup import (
    hamming_band_pairs,
    hamming_band_pairs_cross,
    shared_hash_vote_pairs,
    shared_hash_vote_pairs_cross,
)


def _brute_pairs(rows, max_hamming):
    def ham(a, b):
        return bin((a[1] ^ b[1]) | ((a[2] ^ b[2]) << 32)).count("1")

    return {
        (a[0], b[0]): ham(a, b)
        for i, a in enumerate(rows)
        for b in rows[i + 1 :]
        if ham(a, b) <= max_hamming
    }


def test_monochrome_flood_collapses_before_the_band_join(spark):
    """1000 identical fingerprints (every monochrome image aHashes to
    the same value): the linear mode emits exactly n-1 star edges —
    never the ~500k all-pairs expansion — and extra distinct hashes
    still pair normally."""
    n = 1000
    rows = [(i, 0, 0) for i in range(n)]  # the monochrome flood
    rows += [(n, 0b1, 0), (n + 1, 0b1, 0b10)]  # near the flood; near each other
    df = spark.createDataFrame(rows, "id long, h_lo long, h_hi long")
    got = hamming_band_pairs(df, max_hamming=2, exact_pairs=False).collect()
    # linear: n-1 star edges for the flood + 3 rep pairs
    # (flood_rep~n at ham 1, flood_rep~n+1 at ham 2, n~n+1 at ham 1)
    assert len(got) == (n - 1) + 3
    star = [(r.id_a, r.id_b) for r in got if r.hamming == 0]
    assert all(a == 0 for a, _ in star) and len(star) == n - 1
    rep_pairs = {(r.id_a, r.id_b): r.hamming for r in got if r.hamming > 0}
    assert rep_pairs == {(0, n): 1, (0, n + 1): 2, (n, n + 1): 1}


def test_exact_pairs_expansion_matches_bruteforce_on_duplicate_floods(spark):
    """Full expansion through the collapsed path is still the exact
    all-pairs contract: a 40-copy flood plus perturbed satellites equals
    the O(n²) reference set."""
    rng = random.Random(7)
    rows = [(i, 0xDEAD, 0xBEEF) for i in range(40)]
    for i in range(40, 70):
        lo, hi = 0xDEAD, 0xBEEF
        for _ in range(rng.randint(0, 3)):
            b = rng.randrange(63)
            if b < 32:
                lo ^= 1 << b
            else:
                hi ^= 1 << (b - 32)
        rows.append((i, lo, hi))
    df = spark.createDataFrame(rows, "id long, h_lo long, h_hi long")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in hamming_band_pairs(df, max_hamming=3).collect()
    }
    assert got == _brute_pairs(rows, 3)


def test_star_mode_preserves_survivor_set_and_components(spark):
    """The drop-id_b survivor rule and the connected components are
    invariant between the all-pairs and star-edge forms (random hashes
    with planted duplicate groups)."""
    from reddit_tech_jobs_data_pipeline_spark.operators.dedup import (
        cluster_near_dups,
    )

    rng = random.Random(23)
    rows = []
    for i in range(120):
        if i % 3 and rows:
            lo, hi = rows[rng.randrange(len(rows))][1:]
            if rng.random() < 0.5:
                b = rng.randrange(63)
                if b < 32:
                    lo ^= 1 << b
                else:
                    hi ^= 1 << (b - 32)
        else:
            lo, hi = rng.getrandbits(32), rng.getrandbits(31)
        rows.append((i, lo, hi))
    df = spark.createDataFrame(rows, "id long, h_lo long, h_hi long")
    full = hamming_band_pairs(df, max_hamming=2)
    star = hamming_band_pairs(df, max_hamming=2, exact_pairs=False)
    drop_full = {r.id_b for r in full.select("id_b").distinct().collect()}
    drop_star = {r.id_b for r in star.select("id_b").distinct().collect()}
    assert drop_full == drop_star
    cc_full = {
        (r.id, r.cluster_id) for r in cluster_near_dups(full).collect()
    }
    cc_star = {
        (r.id, r.cluster_id) for r in cluster_near_dups(star).collect()
    }
    assert cc_full == cc_star


def test_max_band_df_drops_hot_band_keys(spark):
    """Near-degenerate content: many DISTINCT hashes sharing one band
    value (monochrome-with-noise). The cap drops that band key; pairs
    whose ONLY shared band was the hot one disappear, pairs matching in
    a cold band survive untouched."""
    # hub-and-spokes around band 0 = 0x1234: each spoke flips one bit in
    # EACH of bands 1,2,3 (ham(hub, spoke) = 3 — matchable only via the
    # hot band 0; spoke-spoke distances are 6, never near)
    rows = [(0, 0x1234, 0)]
    for i in range(1, 17):  # 16 distinct spokes (bit choices wrap at 16)
        b1, b2, b3 = (i - 1) % 16, i % 16, (i + 1) % 16
        rows.append((i, 0x1234 | (1 << (16 + b1)), (1 << b2) | (1 << (16 + b3))))
    # a control near-pair far from the hub, sharing three cold bands
    rows += [(100, 0x00010000, 0x7FFF0000), (101, 0x00030000, 0x7FFF0000)]
    df = spark.createDataFrame(rows, "id long, h_lo long, h_hi long")
    uncapped = {
        (r.id_a, r.id_b)
        for r in hamming_band_pairs(df, max_hamming=3, max_band_df=None).collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in hamming_band_pairs(df, max_hamming=3, max_band_df=10).collect()
    }
    assert {(0, i) for i in range(1, 17)}.issubset(uncapped)
    assert (100, 101) in uncapped
    # 17 distinct hashes share band 0's 0x1234 bucket > cap of 10: every
    # hub-spoke pair (findable only there) is gone; the control survives
    assert capped == {(100, 101)}


def test_cross_form_collapses_store_floods_and_expands_left_only(spark):
    """A store flooded with one hash stays a single rep row; the batch
    side still reports every matching batch id (expand_right=False) and
    the full expansion (expand_right=True) reports every (batch, store)
    combination."""
    store_rows = [(i, 0xAAAA, 0x1F) for i in range(500)]  # silence flood
    batch_rows = [(1000, 0xAAAA, 0x1F), (1001, 0xAAAB, 0x1F), (1002, 0x5555, 0x60)]
    store = spark.createDataFrame(store_rows, "id long, h_lo long, h_hi long")
    batch = spark.createDataFrame(batch_rows, "id long, h_lo long, h_hi long")
    slim = hamming_band_pairs_cross(batch, store, max_hamming=2, expand_right=False)
    rows = slim.collect()
    # batch 1000 (exact) and 1001 (ham 1) match the flood's ONE rep; 1002 doesn't
    assert {(r.id_a, r.id_b) for r in rows} == {(1000, 0), (1001, 0)}
    full = hamming_band_pairs_cross(batch, store, max_hamming=2)
    assert full.count() == 2 * 500  # every (matching batch id, store id)


def test_black_frame_cap_keeps_video_vote_linear(spark):
    """1000 videos all carrying the same black frame plus one unique
    frame each: uncapped, the black frame alone creates ~500k candidate
    rows; capped, it is dropped and only the planted true pair (two
    shared content frames) survives."""
    rows = []
    for i in range(1000):
        rows.append((i, 0, 0))  # the black frame, shared by everyone
        rows.append((i, i + 10, i * 3 + 1))  # unique content frame
    # a true near-dup pair sharing two content frames
    rows += [(2000, 7, 9), (2000, 8, 11), (2001, 7, 9), (2001, 8, 11)]
    fh = spark.createDataFrame(rows, "id long, h_lo long, h_hi long")
    got = shared_hash_vote_pairs(fh, min_shared=2, max_frame_df=16).collect()
    assert {(r.id_a, r.id_b, r.shared_frames) for r in got} == {(2000, 2001, 2)}
    # cross form: replay self-match survives the cap, flood frame doesn't vote
    store = spark.createDataFrame(
        [(2000, 7, 9), (2000, 8, 11), (5, 0, 0), (5, 15, 17)],
        "id long, h_lo long, h_hi long",
    )
    xrows = shared_hash_vote_pairs_cross(fh, store, min_shared=2, max_frame_df=16)
    assert {(r.id_a, r.id_b) for r in xrows.collect()} == {(2000, 2000), (2001, 2000)}


def test_out_of_guarantee_calls_fail_loudly(spark):
    """max_hamming at or past the pigeonhole bound, and band_bits that
    cannot split the 32-bit halves, are contract violations — silent
    under-reporting is worse than a refused call. ValueError (not
    assert) so the contract survives python -O (r13 ADVICE finding)."""
    df = spark.createDataFrame([(0, 1, 2)], "id long, h_lo long, h_hi long")
    with pytest.raises(ValueError):
        hamming_band_pairs(df, band_bits=16, max_hamming=4)
    with pytest.raises(ValueError):
        hamming_band_pairs(df, band_bits=32, max_hamming=2)
    with pytest.raises(ValueError):
        hamming_band_pairs(df, band_bits=64, max_hamming=2)
    with pytest.raises(ValueError):
        hamming_band_pairs_cross(df, df, band_bits=16, max_hamming=4)
