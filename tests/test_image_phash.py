"""Perceptual image hash (multimodal.image_ahash) + Hamming banding
(dedup.hamming_band_pairs): the multimodal near-dup family.

The aHash contract is integer-exact (bit j set iff P·gray_j > Σgray), so
tests pin bits against a pure-Python recomputation from the same pixel
bytes, and the banding is checked for its pigeonhole guarantee (every
pair within Hamming ≤ nbands-1 is found) plus the verify cutoff.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from reddit_tech_jobs_data_pipeline_spark.operators import multimodal
from reddit_tech_jobs_data_pipeline_spark.operators.dedup import hamming_band_pairs


def _ppm(gray_bytes: bytes) -> bytes:
    assert len(gray_bytes) == 64
    return b"P6\n8 8\n255\n" + b"".join(bytes([g, g, g]) for g in gray_bytes)


def _py_ahash(gray: bytes) -> tuple[int, int]:
    s = sum(gray)
    bits = [1 if 64 * g > s else 0 for g in gray]
    lo = sum(b << j for j, b in enumerate(bits[:32]))
    hi = sum(b << j for j, b in enumerate(bits[32:]))
    return lo, hi


def test_image_ahash_matches_pure_python(spark):
    grays = [
        hashlib.md5(f"img{i}".encode()).digest() * 4 for i in range(6)
    ]  # 64 deterministic bytes each
    rows = [(i, _ppm(g)) for i, g in enumerate(grays)]
    df = spark.createDataFrame(rows, "id long, content binary")
    got = {r.id: (r.h_lo, r.h_hi) for r in multimodal.image_ahash(df).collect()}
    assert got == {i: _py_ahash(g) for i, g in enumerate(grays)}


@pytest.mark.parametrize("hash_h, hash_w", [(4, 4), (-8, -8), (8, 4)])
def test_ahash_operators_refuse_non_64_bit_shape(spark, hash_h, hash_w):
    """The two-long packing holds exactly 64 bits: any other hash shape
    is refused with ValueError when the operator is called, before a
    Spark job runs."""
    df = spark.createDataFrame([(0, _ppm(bytes(range(64))))], "id long, content binary")
    with pytest.raises(ValueError, match="64 bits"):
        multimodal.image_ahash(df, hash_h, hash_w)
    with pytest.raises(ValueError, match="64 bits"):
        multimodal.video_frame_hashes(df, hash_h, hash_w)


def test_image_ahash_drops_undecodable_payloads(spark):
    rows = [(0, _ppm(bytes(range(64)))), (1, b"\x89PNG not a real raster")]
    df = spark.createDataFrame(rows, "id long, content binary")
    got = multimodal.image_ahash(df).collect()
    assert [r.id for r in got] == [0]


def test_image_ahash_bmp_and_ppm_same_pixels_same_hash(spark):
    """The hash is a function of decoded PIXELS, not container bytes:
    the same 8×8 gray raster as PPM and as 24-bit BMP must collide."""
    import struct

    gray = hashlib.md5(b"container-invariance").digest() * 4

    # minimal bottom-up 24bpp BMP: rows padded to 4 bytes (8*3=24, no pad)
    w = h = 8
    row_bytes = w * 3
    header = (
        b"BM"
        + struct.pack("<IHHI", 54 + row_bytes * h, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, row_bytes * h, 0, 0, 0, 0)
    )
    # bottom-up: last pixel row first; BGR order (r=g=b so order moot)
    raster = b"".join(
        b"".join(bytes([g, g, g]) for g in gray[r * w : (r + 1) * w])
        for r in reversed(range(h))
    )
    rows = [(0, _ppm(gray)), (1, header + raster)]
    df = spark.createDataFrame(rows, "id long, content binary")
    got = {r.id: (r.h_lo, r.h_hi) for r in multimodal.image_ahash(df).collect()}
    assert got[0] == got[1]


def test_hamming_band_pairs_pigeonhole_and_cutoff(spark):
    """Pairs within Hamming ≤ 3 are guaranteed candidates at 4×16-bit
    bands; the verify keeps only ≤ max_hamming. Construct hashes with
    known exact distances: 0, 2 (kept), 3 (candidate but cut), 8 in one
    band (only found if another band matches — here none, so absent even
    though it IS a candidate pair? no: 8 differing bits all in band 0
    leave bands 1-3 identical, so it IS found, then cut by the verify)."""
    base_lo, base_hi = 0b1010, 0
    rows = [
        (0, base_lo, base_hi),
        (1, base_lo, base_hi),                    # dist 0
        (2, base_lo ^ 0b11, base_hi),             # dist 2 (band 0)
        (3, base_lo, base_hi ^ (0b111 << 20)),    # dist 3 (band 3)
        (4, base_lo ^ 0xFF, base_hi),             # dist 8 (band 0 only)
        (5, 0x5555AAAA, 0x33CC33CC),              # far from everything
    ]
    df = spark.createDataFrame(rows, "id long, h_lo long, h_hi long")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in hamming_band_pairs(df, band_bits=16, max_hamming=2).collect()
    }
    assert got[(0, 1)] == 0
    assert got[(0, 2)] == 2 and got[(1, 2)] == 2
    assert (0, 3) not in got  # distance 3: candidate, cut by the verify
    assert (0, 4) not in got  # distance 8: cut
    assert all(5 not in pair for pair in got)
    # raising the cutoff keeps the distance-3 pair (pigeonhole found it)
    got3 = {
        (r.id_a, r.id_b): r.hamming
        for r in hamming_band_pairs(df, band_bits=16, max_hamming=3).collect()
    }
    assert got3[(0, 3)] == 3


def test_phash_family_planting_yields_linear_pairs(spark):
    """The catalog query's planted families (doc_id DIV 4) produce pairs
    only within families — pair volume is bounded by 6 per family
    (linear in corpus), and ids from different families never pair."""
    from reddit_tech_jobs_data_pipeline_spark.plans.catalog_analytics import (
        _phash_blobs,
    )

    docs = spark.range(48).select(F.col("id").alias("doc_id"))
    hashes = multimodal.image_ahash(_phash_blobs(docs))
    pairs = hamming_band_pairs(hashes, band_bits=16, max_hamming=2).collect()
    assert 0 < len(pairs) <= 12 * 6
    for r in pairs:
        assert r.id_a // 4 == r.id_b // 4  # same family only


# ---------------------------------------------------------------------------
# Audio fingerprint (multimodal.audio_fingerprint): the audio sibling.
# ---------------------------------------------------------------------------


def _wav(samples: list[int]) -> bytes:
    import struct

    data = b"".join(struct.pack("<h", s) for s in samples)
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def _py_afp(samples: list[int]) -> tuple[int, int]:
    e = [
        samples[2 * w] ** 2 + samples[2 * w + 1] ** 2 for w in range(64)
    ]
    bits = [1 if e[j + 1] > e[j] else 0 for j in range(63)]
    lo = sum(b << j for j, b in enumerate(bits[:32]))
    hi = sum(b << j for j, b in enumerate(bits[32:]))
    return lo, hi


def test_audio_fingerprint_matches_pure_python(spark):
    import random

    rng = random.Random(7)
    clips = [
        [rng.randint(-32768, 32767) for _ in range(128)] for _ in range(5)
    ]
    rows = [(i, _wav(c)) for i, c in enumerate(clips)]
    df = spark.createDataFrame(rows, "id long, content binary")
    got = {r.id: (r.h_lo, r.h_hi) for r in multimodal.audio_fingerprint(df).collect()}
    assert got == {i: _py_afp(c) for i, c in enumerate(clips)}


def test_audio_fingerprint_volume_invariance_and_short_drop(spark):
    """Halving the volume preserves every delta sign (the property that
    makes energy-delta codes near-dup-robust); clips under 64 frames
    are dropped; non-WAV payloads are dropped."""
    import random

    rng = random.Random(11)
    base = [rng.randint(-16384, 16383) for _ in range(128)]
    half = [s // 2 for s in base]
    rows = [(0, _wav(base)), (1, _wav(half)), (2, _wav(base[:100])), (3, b"ID3 not wav")]
    df = spark.createDataFrame(rows, "id long, content binary")
    got = {r.id: (r.h_lo, r.h_hi) for r in multimodal.audio_fingerprint(df).collect()}
    assert set(got) == {0, 1}
    # s//2 halves magnitudes but can reorder energies only when two
    # frames are within rounding of each other; with these margins the
    # fingerprints collide (hamming 0)
    assert got[0] == got[1]


def test_afp_family_planting_yields_linear_pairs(spark):
    from reddit_tech_jobs_data_pipeline_spark.plans.catalog_analytics import (
        _afp_blobs,
    )

    docs = spark.range(48).select(F.col("id").alias("doc_id"))
    fps = multimodal.audio_fingerprint(_afp_blobs(docs))
    pairs = hamming_band_pairs(fps, band_bits=16, max_hamming=2).collect()
    assert 0 < len(pairs) <= 12 * 6
    for r in pairs:
        assert r.id_a // 4 == r.id_b // 4


# ---------------------------------------------------------------------------
# Video frame hashes (multimodal.video_frame_hashes): the video sibling.
# ---------------------------------------------------------------------------


def test_video_frame_hashes_walks_frames_and_matches_image_ahash(spark):
    """A clip of K concatenated P6 frames yields K rows whose hashes
    equal image_ahash of the frames taken individually."""
    grays = [hashlib.md5(f"frame{f}".encode()).digest() * 4 for f in range(3)]
    clip = b"".join(_ppm(g) for g in grays)
    singles = spark.createDataFrame(
        [(f, _ppm(g)) for f, g in enumerate(grays)], "id long, content binary"
    )
    want = {
        r.id: (r.h_lo, r.h_hi) for r in multimodal.image_ahash(singles).collect()
    }
    clip_df = spark.createDataFrame([(7, clip)], "id long, content binary")
    got = {
        r.frame_idx: (r.h_lo, r.h_hi)
        for r in multimodal.video_frame_hashes(clip_df).collect()
    }
    assert got == want


def test_video_frame_hashes_drops_non_p6_and_truncated(spark):
    good = _ppm(bytes(range(64)))
    rows = [
        (0, good + good),
        (1, b"\x00\x00mp4ftyp not raw frames"),
        (2, good + good[: len(good) // 2]),  # truncated second frame
    ]
    df = spark.createDataFrame(rows, "id long, content binary")
    got = multimodal.video_frame_hashes(df).collect()
    assert {r.id for r in got} == {0} and len(got) == 2


def test_vfh_family_planting_shares_frames(spark):
    """Family members share exactly 2 frame hashes pairwise (each doc
    replaces a DIFFERENT one of the 4 family frames), so the >= 2 vote
    keeps every family pair and nothing else."""
    from reddit_tech_jobs_data_pipeline_spark.plans.catalog_analytics import (
        video_framehash_near_dup,
    )
    from reddit_tech_jobs_data_pipeline_spark.plans.catalog import REGISTRY

    # run the registered query against a scratch docs table via its
    # blob builder — small fixed range, no sf_dir needed
    from reddit_tech_jobs_data_pipeline_spark.plans.catalog_analytics import (
        _vfh_blobs,
    )

    docs = spark.range(24).select(F.col("id").alias("doc_id"))
    fh = multimodal.video_frame_hashes(_vfh_blobs(docs))
    a = fh.select(F.col("id").alias("id_a"), "h_lo", "h_hi")
    b = fh.select(F.col("id").alias("id_b"), "h_lo", "h_hi")
    key = F.concat_ws(":", F.col("h_lo").cast("string"), F.col("h_hi").cast("string"))
    pairs = (
        a.join(b, ["h_lo", "h_hi"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.countDistinct(key).alias("shared_frames"))
        .filter(F.col("shared_frames") >= 2)
        .collect()
    )
    assert len(pairs) == 6 * 6  # 6 families x C(4,2) pairs
    for r in pairs:
        assert r.id_a // 4 == r.id_b // 4 and r.shared_frames == 2


def test_image_ingest_replay_skips_structurally(spark, tmp_path):
    """A replayed image batch's survivors self-match at Hamming 0
    against the store and are never appended twice; a second distinct
    batch dedups against the stored survivors."""
    from reddit_tech_jobs_data_pipeline_spark.plans.catalog_analytics import (
        _phash_blobs,
    )
    from reddit_tech_jobs_data_pipeline_spark.streaming.fingerprint_ingest import (
        ingest_batch_fingerprints,
    )

    def _ingest(batch, store_path):
        ingest_batch_fingerprints(
            multimodal.image_ahash(batch).localCheckpoint(), store_path
        )

    store = str(tmp_path / "img_store")
    docs = spark.range(32).select(F.col("id").alias("doc_id"))
    blobs = _phash_blobs(docs)
    b1 = blobs.filter(F.col("id") % 4 < 2)
    b2 = blobs.filter(F.col("id") % 4 >= 2)

    _ingest(b1, store)
    n1 = spark.read.parquet(store).count()
    assert 0 < n1 < b1.count()  # batch-internal family dups dropped
    _ingest(b1, store)  # replay: structural skip
    assert spark.read.parquet(store).count() == n1
    _ingest(b2, store)
    n2 = spark.read.parquet(store).count()
    assert n1 <= n2 < n1 + b2.count()  # b2 mostly collides with store
    ids = {r.id for r in spark.read.parquet(store).select("id").collect()}
    assert len(ids) == n2  # no id appended twice


def test_hamming_band_pairs_property_vs_bruteforce(spark):
    """Property check: on random 64-bit hashes, the banded pair set
    equals the brute-force O(n²) pair set for every distance within the
    pigeonhole guarantee (max_hamming ≤ nbands-1 = 3). Deterministic
    seeds, several rounds — cheaper and more targeted than a Hypothesis
    drive around a Spark job per example."""
    import random

    for seed in (3, 17, 91):
        rng = random.Random(seed)
        n = 40
        base = [(rng.getrandbits(32), rng.getrandbits(31)) for _ in range(n // 2)]
        rows = []
        for i in range(n):
            lo, hi = base[i % len(base)]
            # half the rows are perturbed copies within small distance
            if i >= len(base):
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
            for r in hamming_band_pairs(df, band_bits=16, max_hamming=3).collect()
        }

        def ham(a, b):
            return bin((a[1] ^ b[1]) | ((a[2] ^ b[2]) << 32)).count("1")

        want = {
            (a[0], b[0]): ham(a, b)
            for i, a in enumerate(rows)
            for b in rows[i + 1:]
            if ham(a, b) <= 3
        }
        assert got == want, f"seed {seed}"


def test_frame_vote_ingest_rules_and_replay(spark, tmp_path):
    """The per-frame vote ingest (fingerprint_ingest.ingest_batch_frame_votes):
    ≥2 shared distinct frame hashes with the store or an earlier batch
    member drops the arrival; replays are total via the id-presence
    skip — even for a stored video with a single distinct frame, which
    could never out-vote the ≥2 threshold against itself."""
    from reddit_tech_jobs_data_pipeline_spark.streaming.fingerprint_ingest import (
        ingest_batch_frame_votes,
    )

    store = str(tmp_path / "frame_store")

    def fh(rows):
        return spark.createDataFrame(rows, "id long, h_lo long, h_hi long")

    # batch 1: videos 0/1 share frames (1,1),(2,2) -> 1 drops; video 9
    # has ONE distinct frame (the sub-threshold replay edge case)
    b1 = fh([(0, 1, 1), (0, 2, 2), (0, 3, 3),
             (1, 1, 1), (1, 2, 2), (1, 4, 4),
             (9, 50, 50)])
    ingest_batch_frame_votes(b1, store)
    ids = {r.id for r in spark.read.parquet(store).select("id").distinct().collect()}
    assert ids == {0, 9}
    n_rows = spark.read.parquet(store).count()

    ingest_batch_frame_votes(b1, store)  # replay: id-presence skip
    assert spark.read.parquet(store).count() == n_rows

    # batch 2: video 2 shares 2 frames with stored video 0 -> drops;
    # video 3 shares only 1 -> survives
    b2 = fh([(2, 1, 1), (2, 3, 3), (2, 7, 7),
             (3, 1, 1), (3, 8, 8)])
    ingest_batch_frame_votes(b2, store)
    ids = {r.id for r in spark.read.parquet(store).select("id").distinct().collect()}
    assert ids == {0, 9, 3}


def test_monochrome_flood_fixture_collapses_to_one_survivor(spark):
    """The degenerate-flood fixture (every 25th doc monochrome): all
    flood members share fingerprint (0,0) — distinct bytes, one hash —
    and the survivor materialization collapses them to the single
    minimum id with cluster_size = |flood|."""
    from reddit_tech_jobs_data_pipeline_spark.plans.catalog_analytics import (
        image_dedup_monochrome_flood,
        multimodal_duplicate_census,
    )

    sf = "/root/testdata/sf0.001"
    census = multimodal_duplicate_census(spark, sf).collect()
    top = census[0]
    assert (top.h_lo, top.h_hi, top.rep_id) == (0, 0, 0) and top.n_members == 20
    surv = {r.id: r.cluster_size for r in image_dedup_monochrome_flood(spark, sf).collect()}
    assert surv[0] == 20  # the flood's one survivor carries the census
    assert not any(i for i in surv if i % 25 == 0 and i > 0)  # rest dropped


def test_shot_boundaries_cut_exactly_at_the_planted_shot_change(spark):
    """The planted 6-frame clips hold two 3-frame shots: within-shot
    consecutive deltas are Hamming 0, the single cut at frame 3 moves
    ~half the bits — the is_cut column must flag exactly frame 3."""
    from reddit_tech_jobs_data_pipeline_spark.plans.catalog_analytics import (
        video_shot_boundaries,
    )

    rows = video_shot_boundaries(spark, "/root/testdata/sf0.001").collect()
    assert rows, "no frames"
    for r in rows:
        assert r.is_cut == (r.frame_idx == 3), (r.id, r.frame_idx, r.hamming_prev)
        if r.frame_idx != 3:
            assert r.hamming_prev == 0
        else:
            assert r.hamming_prev > 10
