"""Deduplication operator family for corpus-scale pipelines.

Generalizes the reference's two dedup mechanisms (D1 drop_duplicates,
D2 keyed upsert — SURVEY.md §2.4) to the near-duplicate families a
training-data pipeline needs at 100 TB:

* exact       — content-hash groupBy (one shuffle on a 128-bit key)
* ngram       — n-gram Jaccard via shingle inverted index (no O(n²) pairs:
                candidates only for docs sharing a shingle)
* minhash     — MinHash signatures + LSH banding (candidate pairs meet in
                band buckets; verification join computes true Jaccard)
* simhash     — per-bit majority fingerprint; near-dup = small Hamming dist
* embedding   — cosine near-dup over vectors (see operators/similarity.py)

Hashing is md5-based on purpose: engine-agnostic (bit-identical in any
SQL engine for the DuckDB oracle) and stable across Spark versions —
no dependence on Spark's murmur3 seeding.

Scale notes: every family is one explode + one hash-partitioned shuffle +
one (self-)join on a high-cardinality key. Shingle/band keys distribute
uniformly (they are hashes), so no salting is needed; stop-shingle removal
(drop shingles appearing in > max_df docs) bounds the worst-case bucket —
that is the one real skew risk (boilerplate shingles shared by every doc).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from reddit_tech_jobs_data_pipeline_spark.functions.extract import bind1, tokens, tokens_sql
from reddit_tech_jobs_data_pipeline_spark.functions.text import fingerprint


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str, id_col: str, canonical: bool = False) -> DataFrame:
    """Keep one row per distinct text (lowest id survives — deterministic).

    ``canonical=True`` dedups on the order/repetition-insensitive
    fingerprint instead of the raw bytes' md5.
    """
    key = fingerprint(text_col) if canonical else F.md5(F.coalesce(F.col(text_col), F.lit("")))
    w = Window.partitionBy(key).orderBy(F.col(id_col).asc())
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


# ---------------------------------------------------------------------------
# shingles
# ---------------------------------------------------------------------------

def shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the token stream. The token
    array is let-bound (bind1) so the tokenizer runs once per row, not
    once per mention (size guard + sequence bound + slices)."""

    def _sh(toks: Column) -> Column:
        k = F.size(toks) - (n - 1)
        return F.when(k <= 0, F.array().cast("array<string>")).otherwise(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), k),
                    lambda i: F.array_join(F.slice(toks, i, n), " "),
                )
            )
        )

    return bind1(tokens(text), _sh)


def _shingle_table(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, shingle) exploded pairs — the inverted-index edge list.

    The token array is let-bound (the bind1 pattern, written out) so the
    tokenizer runs once per row — a materialized ``__toks`` column plus a
    ``filter(k >= 1)`` still tokenized twice, because predicate pushdown
    substitutes the alias and re-evaluates the tokenizer inside the
    pushed filter. Short docs are dropped by exploding an empty array
    instead of filtering. Built as SQL text and parsed once: through the
    Column API the lambdas alone cost ~300 py4j round trips per call."""
    k = f"size(toks) - {n - 1}"
    sh = (
        f"CASE WHEN {k} >= 1 THEN array_distinct(transform(sequence(1, {k}), "
        f"i -> array_join(slice(toks, i, {n}), ' '))) "
        "ELSE CAST(array() AS array<string>) END"
    )
    toks = tokens_sql(f"`{text_col}`")
    return df.selectExpr(
        f"`{id_col}` AS id",
        f"explode(element_at(transform(array({toks}), toks -> {sh}), 1)) AS shingle",
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """All pairs (id_a < id_b) with shingle-set Jaccard ≥ threshold.

    Inverted-index plan: explode shingles → (optionally drop stop-shingles
    with document frequency > max_df — the skew guard) → self-join on
    shingle → count common shingles per pair → Jaccard from per-doc set
    sizes. Only docs sharing ≥1 shingle ever meet, so cost is driven by
    shingle co-occurrence, not n².
    """
    sh = _shingle_table(df, text_col, id_col, n)
    if max_df is not None:
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
        sh = sh.join(freq.filter(F.col("df_") <= max_df), "shingle").drop("df_")
    # eager localCheckpoint, not .cache(): same intra-query reuse (sizes +
    # both join sides read the materialized table), but the blocks are
    # GC-cleaned with the DataFrame instead of leaking in the CacheManager
    sh = sh.localCheckpoint()
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        common.join(sizes.withColumnsRenamed({"id": "id_a", "n_sh": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "n_sh": "n_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )
    return out


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold_num: int = 7,
    threshold_den: int = 10,
) -> DataFrame:
    """All pairs with shingle Jaccard ≥ num/den — AllPairs/PPJoin-style
    prefix filtering, exactly equal to the exhaustive inverted-index join.

    Rationale at scale: the plain shingle self-join explodes on frequent
    shingles (a shingle shared by d docs yields d² candidate rows). Under
    a single global token order (rarest shingle first), any pair with
    J(A,B) ≥ t must share ≥ ceil(t·|A|) shingles, so it must collide
    within each side's first |A| - ceil(t·|A|) + 1 shingles (Bayardo et
    al., WWW'07 "Scaling Up All Pairs Similarity Search" — public
    algorithm). Joining only those prefixes shrinks the index by ~t of
    each doc and, because prefixes hold the *rarest* shingles, removes
    precisely the high-frequency join keys that drive the quadratic blow-
    up. A size filter (den·|B| ≥ num·|A| both ways) prunes the rest.
    Candidates are then verified exactly against full sorted shingle
    arrays. No false negatives: the prefix bound is a theorem, not a
    heuristic — the catalog checks this by sharing the exhaustive oracle.

    The threshold is a rational num/den so ceil(t·n) is integer-exact
    ((num·n + den - 1) DIV den): float ceil(0.7·10) = ceil(7.0000000001)
    = 8 would silently shorten prefixes and drop true pairs.
    """
    sh = _shingle_table(df, text_col, id_col, n).localCheckpoint()
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
    ranked = (
        sh.join(freq, "shingle")
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("id").orderBy(F.asc("df_"), F.asc("shingle"))
            ),
        )
        .withColumn("n_sh", F.count(F.lit(1)).over(Window.partitionBy("id")))
    )
    # prefix length = n_sh - ceil(t*n_sh) + 1, integer-exact
    min_overlap = (F.col("n_sh") * threshold_num + threshold_den - 1).cast(
        "long"
    ) / threshold_den
    prefix = ranked.filter(
        F.col("pos") <= F.col("n_sh") - F.floor(min_overlap) + 1
    ).select("id", "shingle", "n_sh")

    a = prefix.withColumnsRenamed({"id": "id_a", "n_sh": "n_a"})
    b = prefix.withColumnsRenamed({"id": "id_b", "n_sh": "n_b"})
    cand = (
        a.join(b, "shingle")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("n_b") * threshold_den >= F.col("n_a") * threshold_num)
            & (F.col("n_a") * threshold_den >= F.col("n_b") * threshold_num)
        )
        .select("id_a", "id_b")
        .distinct()
    )

    arrays = sh.groupBy("id").agg(F.array_sort(F.collect_set("shingle")).alias("arr"))
    out = (
        cand.join(arrays.select(F.col("id").alias("id_a"), F.col("arr").alias("arr_a")), "id_a")
        .join(arrays.select(F.col("id").alias("id_b"), F.col("arr").alias("arr_b")), "id_b")
        .withColumn("n_common", F.size(F.array_intersect("arr_a", "arr_b")))
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.size("arr_a") + F.size("arr_b") - F.col("n_common")),
        )
        # double comparison, same as ngram_jaccard_pairs / the SQL oracle
        # (the prefix+size PRUNING is integer-exact; the final threshold
        # test must match the oracle's float semantics bit-for-bit)
        .filter(F.col("jaccard") >= threshold_num / threshold_den)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )
    return out


def containment_prefix_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold_num: int = 9,
    threshold_den: int = 10,
    max_df: int | None = None,
) -> DataFrame:
    """Asymmetric shingle-containment pairs: |A∩B| / |A| ≥ num/den —
    the sub-document duplicate detector (quote inclusion, boilerplate
    wrapping, a doc re-published inside a digest). Jaccard misses these:
    a 50-shingle doc fully contained in a 500-shingle page has J ≈ 0.1
    but containment 1.0.

    Candidate generation is the asymmetric prefix filter: under a global
    rarest-first shingle order, |A∩B| ≥ ⌈τ|A|⌉ forces at least one
    collision inside A's first |A| − ⌈τ|A|⌉ + 1 shingles (pigeonhole —
    same theorem as the symmetric AllPairs prefix, applied to the
    contained side only). So each doc PROBES with its prefix as a
    potential contained doc against the FULL shingle index; only the
    probe side shrinks, which is exactly where the quadratic fan-out
    lives (prefixes hold the rarest shingles). A size filter
    (den·|B| ≥ num·|A| ⟺ |B| ≥ ⌈τ|A|⌉) prunes pairs whose container is
    too small. Candidates are verified exactly on full sorted shingle
    arrays.

    Every threshold test is integer-exact on both engines
    (``n_common·den ≥ num·n_a`` — no float-boundary class at all; cf.
    the prefix-length ceil note on :func:`prefix_filter_jaccard_pairs`).

    Returns directional rows ``(contained_id, container_id, n_common,
    n_contained, containment)``; a pair may appear in both directions
    when each side contains ≥ τ of the other (true mutual near-dups).

    100 TB shape: one shingle pass (checkpointed), one small df
    aggregation, prefix-probe join against the inverted index (the
    probe side is prefix-pruned; the INDEX side is inherently full —
    a tiny A may legitimately sit inside any part of a huge B, so no
    theorem prunes B's postings), verify join on candidate ids. No
    all-pairs anywhere, but candidate count grows with docs-per-shingle
    density: on a corpus where hot shingles are shared by d docs the
    join emits O(d²) rows per hot shingle (measured 162× candidates at
    10× docs on the small-vocab synthetic corpus). ``max_df`` is the
    skew guard for that regime — shingles with document frequency
    above it are dropped from BOTH sides before anything else, i.e.
    containment is then computed over the non-stop-shingle sets (the
    same measured-guard contract as :func:`ngram_jaccard_pairs`).
    """
    sh = _shingle_table(df, text_col, id_col, n)
    if max_df is not None:
        freq0 = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
        sh = sh.join(freq0.filter(F.col("df_") <= max_df), "shingle").drop("df_")
    sh = sh.localCheckpoint()
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
    ranked = (
        sh.join(freq, "shingle")
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("id").orderBy(F.asc("df_"), F.asc("shingle"))
            ),
        )
        .withColumn("n_sh", F.count(F.lit(1)).over(Window.partitionBy("id")))
    )
    # ⌈τ·n_sh⌉ integer-exact, then prefix length = n_sh − ⌈τ·n_sh⌉ + 1
    min_overlap = F.floor(
        (F.col("n_sh") * threshold_num + threshold_den - 1).cast("long")
        / threshold_den
    )
    probe = ranked.filter(F.col("pos") <= F.col("n_sh") - min_overlap + 1).select(
        F.col("id").alias("id_a"), "shingle", F.col("n_sh").alias("n_a")
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    index = sh.join(sizes, "id").select(
        F.col("id").alias("id_b"), "shingle", F.col("n_sh").alias("n_b")
    )
    cand = (
        probe.join(index, "shingle")
        .filter(
            (F.col("id_a") != F.col("id_b"))
            & (F.col("n_b") * threshold_den >= F.col("n_a") * threshold_num)
        )
        .select("id_a", "id_b")
        .distinct()
    )
    arrays = sh.groupBy("id").agg(F.array_sort(F.collect_set("shingle")).alias("arr"))
    return (
        cand.join(
            arrays.select(F.col("id").alias("id_a"), F.col("arr").alias("arr_a")),
            "id_a",
        )
        .join(
            arrays.select(F.col("id").alias("id_b"), F.col("arr").alias("arr_b")),
            "id_b",
        )
        .withColumn("n_common", F.size(F.array_intersect("arr_a", "arr_b")).cast("long"))
        .withColumn("n_a", F.size("arr_a").cast("long"))
        .filter(
            F.col("n_common") * threshold_den >= F.col("n_a") * threshold_num
        )
        .select(
            F.col("id_a").alias("contained_id"),
            F.col("id_b").alias("container_id"),
            "n_common",
            F.col("n_a").alias("n_contained"),
            F.round(F.col("n_common") / F.col("n_a"), 4).alias("containment"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

# Largest 32-bit prime: the modulus of the derived hash family. Products
# stay < 16 * 2^32 + 2^32 ≈ 2^36, far inside BIGINT (no ANSI overflow).
_MH_PRIME = 4294967291


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int = 16, n: int = 3
) -> DataFrame:
    """(id, mh_0..mh_{k-1}) — per-doc MinHash signature.

    Hash family (Kirsch-Mitzenmacher double hashing): ONE md5 per
    shingle, split into two 32-bit words w1/w2, then
    h_i(s) = (w1 + i*w2) mod p with p the largest 32-bit prime — k
    derived hashes for the price of one digest. Versus k independent
    md5s this cuts the per-shingle hash cost k× and shrinks the shuffle
    from k×32-byte hex strings to k×8-byte longs. One explode + one
    groupBy(id) with k min-aggregates (map-side partial aggregation).
    Docs with no shingles get no signature (dropped — nothing to
    compare).
    """
    sh = _shingle_table(df, text_col, id_col, n)
    return minhash_signatures_from_shingles(sh, num_hashes)


def minhash_signatures_from_shingles(sh: DataFrame, num_hashes: int = 16) -> DataFrame:
    """(id, mh_0..mh_{k-1}) from an (id, shingle) table — the hash family
    of ``minhash_signatures``. Written as SQL text and parsed once: the k
    min-aggregates built through the Column API cost ~110 py4j round
    trips per hash, as one query ~15 in all, for the identical plan
    (``spark.sql`` binds the DataFrame arguments as temporary views and
    drops them again). Literals keep the Column API's types: ``i`` is
    INT, the prime BIGINT."""
    word = "CAST(conv(substring(md5(shingle), {}, 8), 16, 10) AS BIGINT)"
    hashed = sh.selectExpr("id", f"{word.format(1)} AS w1", f"{word.format(9)} AS w2")
    mins = ", ".join(
        f"min((w1 + {i} * w2) % {_MH_PRIME}) AS mh_{i}" for i in range(num_hashes)
    )
    return sh.sparkSession.sql(f"SELECT id, {mins} FROM {{hashed}} GROUP BY id", hashed=hashed)


def bbit_pack(sig: DataFrame, num_hashes: int = 48) -> DataFrame:
    """(id, bsig) — the 1-bit MinHash signature (Li & König, "b-Bit
    Minwise Hashing", WWW'10 — public algorithm): the LOW BIT of each of
    ``num_hashes`` minhash values packed into one BIGINT. 48 hashes → 6
    effective bytes per doc versus 128 for the 16×long full store: the
    21× smaller VERIFY store for corpus-scale incremental dedup (the
    full-width signatures still drive LSH banding; banding needs the
    whole values, the agreement estimator does not). ``num_hashes ≤ 63``
    keeps the pack inside a signed long."""
    assert 1 <= num_hashes <= 63
    packed = None
    for i in range(num_hashes):
        bit = F.shiftleft(F.col(f"mh_{i}") % 2, i)
        packed = bit if packed is None else packed + bit
    return sig.select("id", packed.cast("long").alias("bsig"))


def bbit_agreement(pairs: DataFrame, packed: DataFrame, num_hashes: int = 48) -> DataFrame:
    """(id_a, id_b, n_agree, j_est) — Jaccard estimated from 1-bit
    signature agreement: a random non-matching minhash agrees on its low
    bit with prob ½, so E[â] = j + (1−j)/2 and ĵ = max(0, 2â − 1).
    One xor + popcount per candidate pair — no shingles, no full
    signatures, just the packed longs."""
    a = packed.select(F.col("id").alias("id_a"), F.col("bsig").alias("bsig_a"))
    b = packed.select(F.col("id").alias("id_b"), F.col("bsig").alias("bsig_b"))
    n_agree = (
        F.lit(num_hashes)
        - F.bit_count(F.col("bsig_a").bitwiseXOR(F.col("bsig_b")))
    ).cast("long")
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            n_agree.alias("n_agree"),
            F.round(
                F.greatest(
                    F.lit(0.0),
                    F.lit(2.0) * n_agree / F.lit(num_hashes) - F.lit(1.0),
                ),
                4,
            ).alias("j_est"),
        )
    )


def bbit_minhash_estimate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    lsh_hashes: int = 16,
    lsh_bands: int = 4,
    est_hashes: int = 48,
    n: int = 3,
    min_agree: int | None = None,
) -> DataFrame:
    """LSH candidates verified by the COMPRESSED 1-bit signature store:
    candidate generation uses the standard full-width banding
    (``lsh_hashes``/``lsh_bands``), the Jaccard decision uses only the
    packed ``est_hashes``×1-bit signature (:func:`bbit_pack`). This is
    the storage/accuracy dial for the incremental-ingest store: ~21×
    smaller than the full signature store at σ(ĵ) ≈ 1/√est_hashes·(1+j)
    — tests pin the estimator against exact Jaccard on planted dups.
    ``min_agree`` filters integer-exactly (n_agree ≥ min_agree ⟺
    ĵ ≥ 2·min_agree/est_hashes − 1). One shingle pass feeds both
    signature widths."""
    sh = _shingle_table(df, text_col, id_col, n).localCheckpoint()
    sig_lsh = minhash_signatures_from_shingles(sh, lsh_hashes)
    cand = lsh_candidate_pairs(sig_lsh, lsh_hashes, lsh_bands)
    packed = bbit_pack(minhash_signatures_from_shingles(sh, est_hashes), est_hashes)
    out = bbit_agreement(cand, packed, est_hashes)
    if min_agree is not None:
        out = out.filter(F.col("n_agree") >= min_agree)
    return out


def banded_keys(sig: DataFrame, num_hashes: int = 16, bands: int = 4) -> DataFrame:
    """(id, bkey) — one LSH band key per (doc, band). Band key is
    xxhash64 of (band index, the band's minhashes): an 8-byte uniform
    join key. This IS the persistable band index: at 100 TB the corpus
    side of this table is written once (partitioned/bucketed by bkey)
    and each incremental batch joins its own few band keys against it —
    see ``incremental_lsh_ingest``."""
    assert num_hashes % bands == 0
    r = num_hashes // bands
    band_cols = [
        f"xxhash64({b}, {', '.join(f'mh_{b * r + j}' for j in range(r))}) AS band_{b}"
        for b in range(bands)
    ]
    keys = ", ".join(f"band_{b}" for b in range(bands))
    return sig.selectExpr("id", *band_cols).selectExpr(
        "id", f"explode(array({keys})) AS bkey"
    )


def lsh_candidate_pairs(
    sig: DataFrame, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """Candidate pairs from LSH banding: signature split into ``bands``
    bands of r = num_hashes/bands rows; docs sharing any band key meet.
    Band key is xxhash64 of (band index, the band's minhashes) — an
    8-byte uniform join key (vs a 32-char digest string), so the
    self-join shuffles a quarter of the bytes and compares longs."""
    stacked = banded_keys(sig, num_hashes, bands)
    a = stacked.selectExpr("id AS id_a", "bkey")
    b = stacked.selectExpr("id AS id_b", "bkey")
    return a.join(b, "bkey").filter("id_a < id_b").selectExpr("id_a", "id_b").distinct()


def minhash_lsh_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Full MinHash-LSH near-dup: signatures → banding → candidates →
    exact-Jaccard verification of candidates only.

    The shingle table is computed once and materialized (feeds both the
    signature aggregation and the verification). Verification joins the
    (few) candidate pairs out to their shingles — candidates × shingle
    equi-join — instead of materializing every shingle-co-occurring pair
    first; at scale the candidate set is orders of magnitude smaller."""
    sh = _shingle_table(df, text_col, id_col, n).localCheckpoint()
    sig = minhash_signatures_from_shingles(sh, num_hashes)
    cand = lsh_candidate_pairs(sig, num_hashes, bands)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    common = (
        cand.join(sh.withColumnsRenamed({"id": "id_a"}), "id_a")
        .join(sh.withColumnsRenamed({"id": "id_b"}), ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(sizes.withColumnsRenamed({"id": "id_a", "n_sh": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "n_sh": "n_b"}), "id_b")
        .withColumn(
            "jaccard", F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


def signature_agreement(
    pairs: DataFrame, sig_a: DataFrame, sig_b: DataFrame, num_hashes: int = 16
) -> DataFrame:
    """Attach ``n_agree`` (count of equal minhash components, an unbiased
    k-sample Jaccard estimator: E[n_agree/k] = J) to candidate pairs
    (id_a, id_b). Verification needs ONLY the two signatures — never the
    shingles — which is what makes the incremental path storage-viable:
    the persisted state per corpus doc is k longs, not its shingle set.
    One parsed query, like minhash_signatures_from_shingles: the 2k
    renames and the k-term sum cost ~1.9k py4j round trips per call
    through the Column API."""

    def side(x: str) -> str:
        mh = ", ".join(f"mh_{i} AS {x}_{i}" for i in range(num_hashes))
        return f"(SELECT id AS id_{x}, {mh} FROM {{sig_{x}}})"

    agree = " + ".join(
        f"CASE WHEN a_{i} = b_{i} THEN 1 ELSE 0 END" for i in range(num_hashes)
    )
    return pairs.sparkSession.sql(
        f"SELECT id_a, id_b, {agree} AS n_agree FROM {{pairs}} "
        f"JOIN {side('a')} USING (id_a) JOIN {side('b')} USING (id_b)",
        pairs=pairs,
        sig_a=sig_a,
        sig_b=sig_b,
    )


def incremental_lsh_ingest(
    store_sig: DataFrame,
    batch_sig: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    min_agree: int = 12,
) -> DataFrame:
    """Cross-run incremental near-dup dedup — the daily-ingest shape of a
    training-data pipeline (generalizes the reference's cross-run keyed
    idempotence, dags/dag.py:389-403, from exact keys to near-dup text).

    The corpus is represented ONLY by its persisted MinHash signature
    store (k longs per doc); a new batch is deduped against it without
    ever re-reading or re-shingling corpus text:

      1. band the batch signatures; join against the (persistable) corpus
         band index — candidates touch only band-colliding corpus docs;
      2. batch-internal candidates from the usual LSH self-join, ordered
         so the earlier (smaller-id) doc is the survivor;
      3. verify candidates by signature agreement (``n_agree >=
         min_agree`` of ``num_hashes``), an estimator decision — exact
         Jaccard would need shingles the store deliberately does not keep.

    Returns one row per batch doc: (id, n_store_dups, first_store_dup,
    n_batch_dups, is_new). Survivors (is_new) are the rows whose
    signatures a caller appends to the store — the store grows by
    survivors only, keeping every later run's join right-sized.

    ``batch_sig`` feeds banding, both candidate joins and both
    verification sides, so pass it MATERIALIZED (``localCheckpoint()``;
    at scale, the batch's signature parquet): the caller keeps that one
    frame for the store append too, so a batch is signed exactly once.
    """
    store_keys = banded_keys(store_sig, num_hashes, bands)
    batch_keys = banded_keys(batch_sig, num_hashes, bands)

    # SQL-text arguments throughout: the same plan built from Column
    # objects (aliases, literals) cost ~600 py4j round trips per batch
    cand_store = (
        batch_keys.join(store_keys.withColumnRenamed("id", "store_id"), "bkey")
        .selectExpr("id AS id_a", "store_id AS id_b")
        .distinct()
    )
    store_dups = (
        signature_agreement(cand_store, batch_sig, store_sig, num_hashes)
        .filter(f"n_agree >= {min_agree}")
        .groupBy("id_a")
        .agg(F.expr("count(1) AS n_store_dups"), F.expr("min(id_b) AS first_store_dup"))
        .withColumnRenamed("id_a", "id")
    )

    cand_batch = lsh_candidate_pairs(batch_sig, num_hashes, bands)
    batch_dups = (
        signature_agreement(cand_batch, batch_sig, batch_sig, num_hashes)
        .filter(f"n_agree >= {min_agree}")
        # (id_a < id_b) from lsh_candidate_pairs: the LATER doc is the dup
        .groupBy("id_b")
        .agg(F.expr("count(1) AS n_batch_dups"))
        .withColumnRenamed("id_b", "id")
    )

    return (
        batch_sig.selectExpr("id")
        .join(store_dups, "id", "left")
        .join(batch_dups, "id", "left")
        .selectExpr(
            "id",
            "coalesce(n_store_dups, 0) AS n_store_dups",
            "first_store_dup",
            "coalesce(n_batch_dups, 0) AS n_batch_dups",
            "coalesce(n_store_dups, 0) + coalesce(n_batch_dups, 0) = 0 AS is_new",
        )
    )


# ---------------------------------------------------------------------------
# near-dup clusters (connected components over the pair graph)
# ---------------------------------------------------------------------------

def cluster_near_dups(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Connected components over near-dup pairs: every id in ``pairs``
    gets ``cluster_id`` = the minimum id reachable through the pair graph
    (the canonical survivor). Input: (id_a, id_b); output: (id, cluster_id),
    one row per id — an id seen only in a self-pair labels itself.

    Alternating large-star/small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", 2014): star
    contraction halves component HEIGHT structurally each round and
    converges in O(log n) rounds regardless of diameter, where min-label
    propagation needs O(diameter) rounds — chain-shaped graphs (linked
    boilerplate, crawl chains) cost a handful of rounds, not their
    length. Each phase is one groupBy(min) + one join, hash-shuffled on
    the center node; rounds are localCheckpointed like every iterative
    operator here.

    * large-star: each center u connects its strictly-larger neighbors
      to m = min(N(u) ∪ {u});
    * small-star: each center c connects its smaller neighbors (and
      itself) to m = min of those neighbors.

    Raises RuntimeError when ``max_iter`` rounds pass without a stable
    round: partial labels would silently split components.
    """
    from reddit_tech_jobs_data_pipeline_spark.operators.graph import (
        iterative_shuffle_partitions,
    )

    # the lazy ``pairs`` plan (the whole LSH pipeline) runs once, here;
    # self-pairs stay so their ids keep a row, and the observed
    # non-self count sizes the loop's shuffle pin
    obs = Observation()
    all_edges = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .distinct()
        .observe(obs, F.count_if(F.col("u") != F.col("v")).alias("n"))
        .localCheckpoint()
    )
    n = obs.get["n"]
    # AQE stays ON for the contraction loop — re-measured r15 on the new
    # linear round plan (explode-union small star): AQE-off cuts the
    # per-round job count 49 -> 15 but the pinned sort-merge rounds cost
    # more than the scheduling (image-CC warm 3.4-3.7 s off vs
    # 2.9-3.05 s on, 3 interleaved A/Bs) — AQE's runtime broadcast
    # conversion of the star joins is worth its extra jobs here, the
    # same conclusion r14 reached on the old two-branch plan.
    with iterative_shuffle_partitions(pairs.sparkSession, rows=n):
        edges = _star_fixpoint(all_edges.filter(F.col("u") != F.col("v")), n, max_iter)
    # fixpoint edges are (node, component_root) stars; roots label themselves
    labels = edges.select(F.col("u").alias("id"), F.col("v").alias("cluster_id"))
    roots = (
        all_edges.select(F.explode(F.array("u", "v")).alias("id"))
        .distinct()
        .join(labels, "id", "left_anti")
        .withColumn("cluster_id", F.col("id"))
    )
    return labels.unionByName(roots)


def _star_edges(e: DataFrame, large: bool, dedup: bool = True) -> DataFrame:
    """One star-contraction phase. ``dedup=False`` skips the trailing
    ``.distinct()`` — ONE exchange less per phase (r15, guide §2.4):
    every consumer of a phase's output is duplicate-insensitive (the
    next phase's ``groupBy(...).agg(min)`` is map-side combined, its
    join only multiplies rows the round's FINAL distinct collapses), so
    only the round's last phase needs the dedup — which the convergence
    check's count comparison relies on, and which bounds duplicate
    growth across rounds."""
    if large:
        d = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            d.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", "u").alias("m"))
        )
        out = (
            d.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
    else:
        o = e.select(
            F.greatest("u", "v").alias("c"), F.least("u", "v").alias("w")
        )
        mins = o.groupBy("c").agg(F.min("w").alias("m"))
        joined = o.join(mins, "c")
        # (w→m) ∪ (c→m) emitted as ONE explode over a 2-struct array,
        # not a self-union: a union would reference ``joined`` twice and
        # duplicate the whole upstream subtree into both branches (the
        # r15 plan audit showed the large-star join executing twice once
        # its trailing distinct no longer provided a reusable exchange
        # boundary); same rows, row order irrelevant pre-distinct
        out = joined.select(
            F.explode(
                F.array(
                    F.struct(F.col("w").alias("u"), F.col("m").alias("v")),
                    F.struct(F.col("c").alias("u"), F.col("m").alias("v")),
                )
            ).alias("__p")
        ).select("__p.u", "__p.v")
    out = out.filter(F.col("u") != F.col("v"))
    return out.distinct() if dedup else out


def _star_fixpoint(edges: DataFrame, n: int, max_iter: int) -> DataFrame:
    """Run star rounds until one reproduces its input edge set. Both
    sets are distinct, so equal observed counts plus an empty one-sided
    anti-join prove equality; a round whose count moved needs no probe."""
    from reddit_tech_jobs_data_pipeline_spark.plandump import dump_stage_plan

    for _ in range(max_iter):
        round_df = _star_edges(
            _star_edges(edges, large=True, dedup=False), large=False
        )
        dump_stage_plan(round_df, "cc_star_round")
        obs = Observation()
        nxt = round_df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint()
        m = obs.get["n"]
        stable = m == n and nxt.join(edges, ["u", "v"], "left_anti").limit(1).isEmpty()
        edges, n = nxt, m
        if stable:
            return edges
    raise RuntimeError(
        f"connected components did not converge in max_iter={max_iter} "
        f"star rounds (last round: {n} edges)"
    )


def incremental_cluster_update(
    labels: DataFrame, new_pairs: DataFrame, max_iter: int = 25
) -> DataFrame:
    """Incremental connected-components maintenance: fold an EXISTING
    labeling (id, cluster_id) with a batch of new near-dup pairs without
    re-reading the historical pair graph. The old labels are themselves
    star edges (node → component root) that preserve each old
    component's connectivity, so CC over (label-edges ∪ new pairs) equals
    CC over (all old pairs ∪ new pairs) — the daily-ingest counterpart
    of incremental_lsh_ingest for the CLUSTER side: state carried
    forward is one row per doc, not the pair history. Star contraction
    re-converges in O(log n) rounds; in the common case (new pairs touch
    few components) almost all stars are already fixpoints after one
    pass."""
    # self-pairs included: an old singleton keeps its row untouched
    label_edges = labels.select(
        F.col("id").alias("id_a"), F.col("cluster_id").alias("id_b")
    )
    return cluster_near_dups(
        label_edges.unionByName(new_pairs.select("id_a", "id_b")), max_iter
    )


def edit_distance_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_dist: int = 2,
    q: int = 2,
    max_gram_df: int | None = None,
) -> DataFrame:
    """Typo-level near-dup join: pairs within levenshtein ``max_dist``,
    found by the q-gram COUNT FILTER (Gravano et al., VLDB'01): edit
    distance ≤ d implies the q-gram multisets share at least
    max(|a|,|b|) − q + 1 − q·d grams, so candidates come from an
    inverted q-gram index join (multiset intersection =
    Σ min(count_a, count_b), computed on the (id, gram, count) table —
    distinct-gram intersection would NOT be lossless) plus a length
    window |len_a − len_b| ≤ d; only candidates pay the O(len²)
    levenshtein verify. Character-level complement to the token-level
    Jaccard/MinHash family (catches transpositions and single-char typos
    that leave token sets intact).

    SHORT STRINGS: when max(|a|,|b|) ≤ q−1+q·d the count-filter bound is
    ≤ 0 and a within-distance pair can legitimately share ZERO q-grams
    (e.g. 'ab' vs 'cd' at q=2, d=2), so the inverted-index join would
    miss it — and strings shorter than q have no grams at all. All
    strings of length ≤ q−1+q·d therefore route through a direct
    length-blocked levenshtein join (equi-join on length buckets, each
    left row replicated 2d+1 times — bounded, and short strings are
    cheap to verify). A short↔long pair (one side < q, other > q−1+q·d)
    is impossible within distance d because the length gap alone exceeds
    d. The union is lossless: gram-path candidates are restricted to
    pairs with max length > q−1+q·d (where the theorem holds), the short
    path covers the rest, and the two sets are disjoint by construction.
    COST BOUND: the short path has no content-based blocking — within
    each ±d length band it is ALL-PAIRS, O(m²/bands) candidates for m
    short strings (at q=3, d=3 every string ≤ 11 chars joins
    quadratically per band). That is the price of losslessness where the
    gram theorem is vacuous; each verify is O(short_len²) ≈ constant,
    but a corpus dominated by short ids/titles should pre-dedup exact
    matches first (hash groupBy) or lower ``max_dist``/``q`` so
    short_len shrinks — the quadratic band is in candidate COUNT, and no
    cheap prefix block is lossless here (a single edit can change any
    character, including the first).

    SKEW GUARD: the gram join fans out quadratically on hot q-grams
    exactly like shingles. ``max_gram_df`` drops any gram whose document
    frequency exceeds it from the index (both sides), capping per-gram
    join fan-out at max_gram_df². Pruning alone would break the count
    bound (a doc of mostly-hot grams shares few SURVIVING grams even
    with its twin), so the bound is lowered by the pruned-occurrence
    slack: shared_pruned ≤ min(pruned_a, pruned_b), hence
    shared_surviving ≥ bound − min(pruned_a, pruned_b). With that
    adjustment the guard stays LOSSLESS for every pair that still
    shares ≥ 1 surviving gram; the residual recall cost is exactly the
    pairs whose shared grams are ALL hot (adjusted bound ≤ 0 and zero
    surviving overlap — e.g. two identical all-hot-gram strings), which
    the inverted index can no longer see. Measured in
    tests/test_skew_guards.py and SCALE.md. Leave it None (default) for
    the unconditionally lossless join."""
    s = F.coalesce(F.col(text_col), F.lit(""))
    all_strs = df.select(F.col(id_col).alias("id"), s.alias("s"), F.length(s).alias("len"))
    short_len = q - 1 + q * max_dist
    base = all_strs.filter(F.col("len") >= q)
    grams = base.select(
        "id",
        F.col("len"),
        F.explode(
            F.expr(f"transform(sequence(1, length(s) - {q - 1}), i -> substring(s, i, {q}))")
        ).alias("gram"),
    )
    gcounts = grams.groupBy("id", "len", "gram").agg(F.count(F.lit(1)).alias("c"))
    pruned = None
    if max_gram_df is not None:
        hot = (
            gcounts.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_gram_df)
            .select("gram")
        )
        # per-doc pruned occurrence counts feed the bound adjustment below
        pruned = (
            gcounts.join(F.broadcast(hot), "gram", "left_semi")
            .groupBy("id")
            .agg(F.sum("c").alias("pruned_cnt"))
        )
        gcounts = gcounts.join(F.broadcast(hot), "gram", "left_anti")
    a = gcounts.select(
        F.col("id").alias("id_a"), F.col("len").alias("la"), "gram", F.col("c").alias("ca")
    )
    b = gcounts.select(
        F.col("id").alias("id_b"), F.col("len").alias("lb"), "gram", F.col("c").alias("cb")
    )
    common = (
        a.join(b, "gram")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("la") - F.col("lb")) <= max_dist)
        )
        .groupBy("id_a", "id_b", "la", "lb")
        .agg(F.sum(F.least("ca", "cb")).alias("n_common"))
    )
    bound = F.greatest("la", "lb") - F.lit(q - 1) - F.lit(q * max_dist)
    if pruned is not None:
        pa = pruned.select(F.col("id").alias("id_a"), F.col("pruned_cnt").alias("pa"))
        pb = pruned.select(F.col("id").alias("id_b"), F.col("pruned_cnt").alias("pb"))
        common = (
            common.join(pa, "id_a", "left").join(pb, "id_b", "left")
        )
        slack = F.least(
            F.coalesce(F.col("pa"), F.lit(0)), F.coalesce(F.col("pb"), F.lit(0))
        )
        bound = bound - slack
    cand = (
        common.filter(
            (F.col("n_common") >= bound) & (F.greatest("la", "lb") > short_len)
        )
        .select("id_a", "id_b")
    )
    # short-string path: all pairs with BOTH lengths ≤ short_len, blocked
    # by length (right side keys on its own length; left side fans out to
    # the 2d+1 lengths it can pair with — an equi-join, never a cross)
    short = all_strs.filter(F.col("len") <= short_len)
    sh_a = short.select(
        F.col("id").alias("id_a"),
        F.col("len").alias("la"),
        F.explode(
            F.sequence(F.col("len") - max_dist, F.col("len") + max_dist)
        ).alias("lkey"),
    )
    sh_b = short.select(F.col("id").alias("id_b"), F.col("len").alias("lkey"))
    cand_short = (
        sh_a.join(sh_b, "lkey")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    sa = all_strs.select(F.col("id").alias("id_a"), F.col("s").alias("sa"))
    sb = all_strs.select(F.col("id").alias("id_b"), F.col("s").alias("sb"))
    # threshold form: banded DP, O(max_dist·len) per verify instead of
    # O(len²), -1 when the bound is exceeded — exact on kept pairs, so
    # the result set is identical to the unbounded filter
    return (
        cand.unionByName(cand_short)
        .join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("dist", F.levenshtein("sa", "sb", max_dist))
        .filter(F.col("dist") >= 0)
        .select("id_a", "id_b", F.col("dist").cast("long").alias("dist"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def _simhash_feats(text: Column | str, n: int = 1) -> Column:
    """SimHash feature set: distinct tokens (n=1) or distinct n-token
    shingles (n>1, Manku et al.'s production choice — token-SET features
    degenerate on low-entropy text: two docs with the same vocabulary
    but different word order collapse to one fingerprint, and the
    hamming join goes quadratic on the resulting cliques)."""
    if n <= 1:
        return F.array_distinct(tokens(text))

    def _sh(toks: Column) -> Column:
        k = F.size(toks) - (n - 1)
        return F.array_distinct(
            F.when(
                k >= 1,
                F.transform(
                    F.sequence(F.lit(1), k),
                    lambda i: F.array_join(F.slice(toks, i, n), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        )

    # bind1: the size guard, sequence bound and every slice all mention
    # the token array — let-bind it so the text is tokenized once per row
    return bind1(tokens(text), _sh)


def simhash_bits(text: Column | str, width: int = 16, n: int = 1) -> Column:
    """SimHash fingerprint as an array<int> of ``width`` bits: bit_j of
    feature t = bit j of the integers parsed from md5(t)'s first 16 hex
    chars (j<32 from chars 1-8, j>=32 from chars 9-16, LSB-first).

    Per-bit majority over the doc's distinct features (tokens, or
    n-shingles for n>1 — see _simhash_feats): bit = 1 iff strictly more
    than half the feature hashes set it. md5 + hex→int parse keeps it
    engine-agnostic for the oracle (('0x'||substr)::BIGINT in DuckDB =
    conv(substring,16,10) in Spark — verified equal), and the integer
    shift/AND votes replaced a per-(bit,feature) hex-substring scheme
    measured 1.4× slower at width 32 and are what make width 64 (the
    production band space) affordable."""
    assert 1 <= width <= 64
    return _simhash_bits_from_feats(_simhash_feats(text, n), width)


def _simhash_bits_from_feats(feats: Column, width: int) -> Column:
    """Per-bit majority vote over an already-built feature array: ONE
    md5 + two 32-bit hex parses per feature, then a single aggregate
    fold of width-long 0/1 arrays (integer ops only)."""
    hashes = F.transform(feats, lambda t: F.md5(t))
    ints = F.transform(
        hashes,
        lambda h: F.struct(
            F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("av"),
            F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("bv"),
        ),
    )

    def _barr(ab):
        cols = []
        for j in range(width):
            src = ab.av if j < 32 else ab.bv
            cols.append(F.shiftright(src, j % 32).bitwiseAND(F.lit(1)).cast("int"))
        return F.array(*cols)

    bitarrs = F.transform(ints, _barr)
    zeros = F.array_repeat(F.lit(0), width)
    votes = F.aggregate(
        bitarrs, zeros, lambda acc, ba: F.zip_with(acc, ba, lambda x, y: x + y)
    )
    n_feats = F.size(feats)
    return F.transform(votes, lambda v: F.when(2 * v > n_feats, 1).otherwise(0))


def simhash_hamming(a: Column, b: Column) -> Column:
    """Hamming distance between two bit arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.when(x != y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    width: int = 16,
    band_bits: int = 4,
    max_hamming: int = 2,
    n: int = 1,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the fingerprint into width/band_bits
    blocks (a pair within Hamming ≤ blocks-1 shares ≥1 identical block —
    the pigeonhole banding used at scale), then verify exact Hamming.

    ``n`` sets the feature granularity (n-token shingles for n>1 — see
    _simhash_feats; shingles keep fingerprints spread out on low-entropy
    text where token-set features collapse into quadratic cliques).
    Docs with NO features (empty/NULL text, or fewer than n tokens)
    are excluded — an all-zero 'fingerprint of nothing' would otherwise
    pair every such doc with every other."""
    assert width % band_bits == 0
    nbands = width // band_bits
    from reddit_tech_jobs_data_pipeline_spark.operators.parallelism import fan_out

    # fingerprinting is the dominant (CPU-bound, narrow) cost; repair
    # under-parallel inputs before it — no-op on many-split scans.
    # The feature array is let-bound (bind1) across BOTH its consumers
    # (size + vote fold) so shingling runs once per row, and the
    # empty-doc filter runs AFTER the checkpoint: a filter on
    # size(feats) placed before it is pushed below the projection with
    # the whole feature expression inlined, re-tokenizing every row a
    # second time.
    from reddit_tech_jobs_data_pipeline_spark.functions.extract import bind1

    packed = bind1(
        _simhash_feats(text_col, n),
        lambda f: F.struct(
            F.size(f).alias("nf"),
            _simhash_bits_from_feats(f, width).alias("bits"),
        ),
    )
    base = (
        fan_out(df)
        .select(F.col(id_col).alias("id"), packed.alias("__p"))
        .localCheckpoint()
        .filter(F.col("__p.nf") > 0)
        .select("id", F.col("__p.bits").alias("bits"))
    )
    banded = base.select(
        "id",
        "bits",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "",
                        F.lit(f"{b}:"),
                        *[F.col("bits")[b * band_bits + j].cast("string") for j in range(band_bits)],
                    ).alias(f"x{b}")
                    for b in range(nbands)
                ]
            )
        ).alias("bkey"),
    )
    a = banded.select(F.col("id").alias("id_a"), F.col("bits").alias("bits_a"), "bkey")
    b = banded.select(F.col("id").alias("id_b"), F.col("bits").alias("bits_b"), "bkey")
    return (
        a.join(b, "bkey")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", simhash_hamming(F.col("bits_a"), F.col("bits_b")).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def _positional_shingle_table(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, pos, shingle) — like _shingle_table but keeping every
    occurrence with its 1-based token position (no per-doc distinct):
    position identity is what coverage accounting needs. Token array
    let-bound, short docs dropped via empty-array explode (see
    _shingle_table)."""

    def _ps(toks: Column) -> Column:
        k = F.size(toks) - (n - 1)
        return F.when(
            k >= 1,
            F.transform(
                F.sequence(F.lit(1), k),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.array_join(F.slice(toks, i, n), " ").alias("shingle"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<pos:int,shingle:string>>"))

    return df.select(
        F.col(id_col).alias("id"),
        F.explode(bind1(tokens(text_col), _ps)).alias("__ps"),
    ).select("id", F.col("__ps.pos").alias("pos"), F.col("__ps.shingle").alias("shingle"))


def contamination_coverage(
    df: DataFrame,
    bench_shingles: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
) -> DataFrame:
    """Token-level contamination coverage — the measure real
    decontamination thresholds on (a shared-n-gram COUNT can't separate
    "quotes the whole benchmark" from "hits one common phrase twice").

    A matched n-gram at token position p covers positions p..p+n-1;
    coverage = |covered positions| / doc token count. Returns one row
    per CONTAMINATED doc: (id, n_tok, n_covered, coverage).

    100 TB shape, same as the flag-only variant: ``bench_shingles``
    (one column ``shingle``) broadcasts — eval sets are MBs against a
    TB corpus; corpus shingles are computed narrowly per partition and
    only MATCHING positions reach the per-doc distinct-count shuffle.
    The corpus itself never reshuffles.
    """
    psh = _positional_shingle_table(df, text_col, id_col, n)
    matched = psh.join(
        F.broadcast(bench_shingles.select("shingle").distinct()), "shingle"
    ).select("id", "pos")
    covered = matched.select(
        "id", F.explode(F.sequence(F.col("pos"), F.col("pos") + (n - 1))).alias("cp")
    )
    cov = covered.groupBy("id").agg(
        F.count_distinct("cp").cast("long").alias("n_covered")
    )
    ntok = df.select(
        F.col(id_col).alias("id"), F.size(tokens(text_col)).cast("long").alias("n_tok")
    )
    return cov.join(ntok, "id").select(
        "id",
        "n_tok",
        "n_covered",
        F.round(F.col("n_covered") / F.col("n_tok"), 4).alias("coverage"),
    )


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup: cluster embeddings, prune within clusters)
# ---------------------------------------------------------------------------

def semantic_dedup(
    emb: DataFrame,
    k: int = 8,
    dim: int = 64,
    train_iters: int = 2,
    threshold: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    commutative: bool = False,
    two_level_assign: bool = False,
    nprobe: int = 2,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): embedding-space
    near-duplicate pruning that bounds the quadratic pair space by
    clustering first — k-means over the embeddings (deterministic
    ordered-fold Lloyd, operators/kmeans.py), then ONLY within-cluster
    pairs are scored; a vector is a semantic duplicate iff some
    lower-id vector in the SAME cluster has cosine >= threshold.
    Returns one row per vector: (vec_id, cid, n_sem_dups, first_dup,
    is_kept) — survivors are the per-semantic-group minimum ids.

    100 TB shape: the centroid table (k x dim) broadcasts; assignment is
    a narrow map. The within-cluster self-join shuffles once on cid and
    is quadratic PER CLUSTER by design — SemDeDup's contract is that k
    scales with corpus size (k ~ N / target_cluster_size, e.g. 100k
    clusters for billions of docs) so per-cluster populations stay
    bounded; a runaway cluster is the skew case and is capped the same
    way as hot domains (sub-shard the cluster, or tighten k). Cosine is
    rounded to 4 dp BEFORE thresholding on both engines (the
    embedding_near_dup precedent) so the keep/drop decision is
    cross-engine exact. ``commutative=True`` switches the k-means
    training to the map-side-combined centroid update (the 100 TB
    training path — see lloyd_kmeans); the default ordered fold is the
    bit-exact oracle-parity mode. ``two_level_assign=True`` swaps the
    exact O(N·k) assignment for the IVF-style two-level quantizer
    (``assign_clusters_two_level``, ~O(N·√k) — APPROXIMATE on cluster
    boundaries, so never used by the oracle-gated catalog entry)."""
    from reddit_tech_jobs_data_pipeline_spark.operators.kmeans import (
        assign_clusters,
        assign_clusters_two_level,
        lloyd_kmeans,
    )
    from reddit_tech_jobs_data_pipeline_spark.operators.parallelism import fan_out
    from reddit_tech_jobs_data_pipeline_spark.operators.similarity import cosine

    vecs = emb.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    # assignment is a CPU-bound narrow stage; repair small-scan
    # parallelism once here (assign_clusters no longer fans out per call)
    vecs = fan_out(vecs)
    cents = lloyd_kmeans(
        emb, k=k, dim=dim, iterations=train_iters,
        id_col=id_col, vec_col=vec_col, commutative=commutative,
    ).select("cid", "cvec")
    assigned = (
        assign_clusters_two_level(vecs, cents, dim=dim, nprobe=nprobe)
        if two_level_assign
        else assign_clusters(vecs, cents)
    )
    # the assignment feeds BOTH sides of the pair join plus the final
    # projection — materialize once or the whole assignment subtree
    # (argmin windows, and the coarse quantizer in two-level mode)
    # executes three times (measured 1.5x end-to-end at sf1.0 k=80)
    assigned = assigned.localCheckpoint()
    a = assigned.select("cid", F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    b = assigned.select("cid", F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    pairs = (
        a.join(b, "cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.round(cosine(F.col("va"), F.col("vb")), 4) >= threshold)
    )
    dups = pairs.groupBy(F.col("id_b").alias("vec_id")).agg(
        F.count(F.lit(1)).alias("n_sem_dups"),
        F.min("id_a").alias("first_dup"),
    )
    return (
        assigned.select("vec_id", F.col("cid").cast("int").alias("cid"))
        .join(dups, "vec_id", "left")
        .select(
            "vec_id",
            "cid",
            F.coalesce("n_sem_dups", F.lit(0).cast("long")).alias("n_sem_dups"),
            "first_dup",
            F.col("n_sem_dups").isNull().alias("is_kept"),
        )
    )


# ---------------------------------------------------------------------------
# repeated n-gram span coverage (exact-substring dedup, distributed form)
# ---------------------------------------------------------------------------

def repeated_ngram_coverage(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document fraction of tokens covered by n-grams that also occur
    in at least ``min_docs - 1`` OTHER documents — the distributed
    approximation of suffix-array exact-substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499). Whole-doc MinHash misses a boilerplate paragraph
    pasted into thousands of otherwise-distinct pages; this catches it at
    span granularity: any >= n-token run shared across documents is a
    chain of shared n-grams, so its tokens land inside the covered-span
    union. Coverage is then the filter column (e.g. drop docs > 0.5, or
    clip the spans themselves).

    Returns (id_col, n_tok, dup_spans, covered_tok, coverage): the count
    of duplicated n-gram start positions, the size of the union of their
    [pos, pos+n) spans, and covered_tok / n_tok rounded to 4 dp. Docs
    with no duplicated gram (or fewer than n tokens) report 0.

    Union-of-intervals is closed-form for fixed-length spans: sort
    starts, each span contributes min(n, start - prev_start) new tokens
    (the first contributes n) — one lag window per doc, no interval
    merging loop.

    100 TB shape: the gram table is ~n_tok rows of (id, pos, 16-hex-char
    key) — the md5-prefix key (64 bits, engine-agnostic; production can
    widen to the full digest) keeps the shuffle narrow. One groupBy(gh)
    builds the duplicate-gram set (map-side combined; 8-token grams are
    near-unique except under true duplication, so no stop-shingle skew),
    one shuffle join pulls back duplicated positions, and the lag window
    is per-doc, bounded by doc length. Same inverted-index shape as
    ngram_jaccard_near_dup — no all-pairs anywhere.
    """
    base = _tokenized_docs(docs, text_col, id_col)
    grams = _doc_ngrams(base, id_col, n)
    dup = (
        grams.groupBy("__gh")
        .agg(F.countDistinct(id_col).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__gh")
    )
    spans = grams.join(dup, "__gh").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    cov = (
        spans.withColumn(
            "__contrib",
            F.coalesce(
                F.least(F.lit(n), F.col("pos") - F.lag("pos").over(w)), F.lit(n)
            ),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("__dup_spans"),
            F.sum("__contrib").alias("__covered"),
        )
    )
    return (
        base.join(cov, id_col, "left")
        .select(
            id_col,
            F.col("__n_tok").cast("long").alias("n_tok"),
            F.coalesce("__dup_spans", F.lit(0)).cast("long").alias("dup_spans"),
            F.coalesce("__covered", F.lit(0)).cast("long").alias("covered_tok"),
            F.round(
                F.coalesce("__covered", F.lit(0)) / F.col("__n_tok"), 4
            ).alias("coverage"),
        )
    )


def _tokenized_docs(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, __ws token array, __n_tok) for non-null, non-empty docs —
    shared base of the repeated-n-gram family.

    localCheckpoint'd: both consumers (duplicate_span_clip,
    repeated_ngram_coverage) reference the base 2-3 times (gram build,
    token re-expansion, final join), each reference re-scanning and
    re-tokenizing the corpus — and the n_tok filters otherwise push
    below the projection and re-run the tokenizer per row (alias
    substitution). One tokenizer pass materialized, measured 3.39 →
    2.54 s for duplicate_span_clip at sf0.1. The tokenizer itself is
    let-bound (bind1) so the array + its size cost one evaluation."""
    packed = bind1(
        tokens(text_col),
        lambda t: F.struct(t.alias("__ws"), F.size(t).alias("__n_tok")),
    )
    return (
        docs.filter(F.col(text_col).isNotNull())
        .select(id_col, packed.alias("__p"))
        .localCheckpoint()
        .filter(F.col("__p.__n_tok") > 0)
        .select(id_col, F.col("__p.__ws").alias("__ws"), F.col("__p.__n_tok").alias("__n_tok"))
    )


def _doc_ngrams(base: DataFrame, id_col: str, n: int) -> DataFrame:
    """(id, pos, __gh): the 64-bit md5-prefix key of the n-gram starting
    at every token position (docs shorter than n produce no grams)."""
    return (
        base.filter(F.col("__n_tok") >= n)
        .select(
            id_col,
            "__ws",
            F.explode(F.sequence(F.lit(0), F.col("__n_tok") - n)).alias("pos"),
        )
        .select(
            id_col,
            F.col("pos").cast("long").alias("pos"),
            F.substring(
                F.md5(F.array_join(F.slice("__ws", F.col("pos") + 1, n), " ")), 1, 16
            ).alias("__gh"),
        )
    )


def duplicate_span_clip(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Remove cross-document duplicated spans, keeping them in ONE
    document corpus-wide — the transform half of exact-substring dedup
    (Lee et al. 2022): repeated_ngram_coverage measures, this clips.
    For every n-gram shared by >= 2 docs, the KEEPER is the lowest doc
    id containing it (deterministic, engine-agnostic); in every other
    doc the gram's [pos, pos+n) span is removed, and the doc's
    surviving tokens are re-joined in order. A doc may keep one span as
    keeper and lose another where a different doc is keeper — the rule
    is per-gram. The keeper retains ALL its occurrences of the gram
    (within-doc repetition is a quality signal, not a dedup concern —
    doc_trigram_repetition's turf).

    Returns (id_col, n_tok, n_removed, clean_text) for every tokenized
    doc; fully-clipped docs report clean_text = '' (drop them — or any
    doc above a removal threshold — downstream).

    100 TB shape: same inverted-index skeleton as
    repeated_ngram_coverage (one groupBy(gh) with map-side combine, one
    join back), plus a bounded *n span expansion (explode of an n-item
    sequence) and an anti-join of token positions against covered
    positions — both shuffles are keyed on doc id and never all-pairs.
    Reconstruction state (the per-doc surviving token list) is bounded
    by doc length, the packing/logprob precedent.
    """
    base = _tokenized_docs(docs, text_col, id_col)
    grams = _doc_ngrams(base, id_col, n)
    keepers = (
        grams.groupBy("__gh")
        .agg(F.countDistinct(id_col).alias("__nd"), F.min(id_col).alias("__keeper"))
        .filter(F.col("__nd") >= 2)
        .select("__gh", "__keeper")
    )
    # covered token positions in non-keeper docs (distinct: overlapping
    # clipped spans cover a position once)
    covered = (
        grams.join(keepers, "__gh")
        .filter(F.col(id_col) != F.col("__keeper"))
        .select(
            id_col,
            F.explode(F.sequence(F.col("pos"), F.col("pos") + n - 1)).alias("tpos"),
        )
        .distinct()
    )
    toks = base.select(
        id_col, "__n_tok", F.posexplode("__ws").alias("tpos", "__term")
    ).withColumn("tpos", F.col("tpos").cast("long"))
    kept = toks.join(covered, [id_col, "tpos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.min("__n_tok").alias("__n_tok"),
        F.count(F.lit(1)).alias("__n_kept"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("tpos", "__term"))),
                lambda x: x["__term"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return (
        base.select(id_col, "__n_tok")
        .join(rebuilt.drop("__n_tok"), id_col, "left")
        .select(
            id_col,
            F.col("__n_tok").cast("long").alias("n_tok"),
            (F.col("__n_tok") - F.coalesce("__n_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "id",
    n_buckets: int = 10,
    train_buckets: int = 8,
    val_buckets: int = 1,
) -> DataFrame:
    """Dedup-cluster-aware train/val/test assignment — the leakage guard
    every LLM data pipeline needs between dedup and training: a naive
    per-document hash split puts near-duplicates on BOTH sides of the
    train/eval boundary, and the eval set silently scores memorization.
    Here the split unit is the near-dup CLUSTER: components of the
    ``pairs`` graph (star contraction, O(log n) rounds) give every doc a
    ``group_id`` (component min id; singletons group as themselves), and
    the split is a deterministic hash of the GROUP — md5(group_id)'s
    first 16 bits mod ``n_buckets``, engine-portable and stable across
    runs/backfills (no RNG, no seed drift) — so an entire cluster lands
    on one side by construction. Buckets [0, train) → 'train',
    [train, train+val) → 'val', rest → 'test'. Returns
    (id, group_id, split). One CC pass + one broadcast-free left join;
    the hash adds no shuffle."""
    clusters = cluster_near_dups(pairs)
    base = docs.select(F.col(id_col).alias("id"))
    grouped = base.join(clusters, "id", "left").select(
        "id", F.coalesce("cluster_id", F.col("id")).alias("group_id")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("group_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % n_buckets
    )
    split = (
        F.when(bucket < train_buckets, "train")
        .when(bucket < train_buckets + val_buckets, "val")
        .otherwise("test")
    )
    return grouped.withColumn("split", split)


def _hamming_band_explode(
    df: DataFrame, band_bits: int, id_cols: tuple[str, ...] = ("id",)
) -> DataFrame:
    """Explode a hash table (``id_cols`` + lo/hi) into one row per
    (row, band) with the band's integer value as a string key ``bkey``
    — the shared banding step of the Hamming LSH family."""
    nbands = 64 // band_bits
    half_bands = 32 // band_bits
    mask = (1 << band_bits) - 1
    vals = [
        F.shiftright(
            F.col("lo") if b < half_bands else F.col("hi"),
            (b % half_bands) * band_bits,
        ).bitwiseAND(F.lit(mask))
        for b in range(nbands)
    ]
    return df.select(
        *id_cols,
        "lo",
        "hi",
        F.explode(
            F.array(
                *[
                    F.concat_ws(":", F.lit(str(b)), v.cast("string"))
                    for b, v in enumerate(vals)
                ]
            )
        ).alias("bkey"),
    )


def _apply_max_band_df(
    banded: DataFrame, max_band_df: int | None, census: DataFrame | None = None
) -> DataFrame:
    """Optional hot-bucket lever: drop band keys carrying more than
    ``max_band_df`` DISTINCT hashes before the self/cross join — the
    Hamming family's ``max_gram_df``. Exact-hash collapse already
    de-duplicates identical fingerprints, so a surviving hot bucket
    means many DISTINCT hashes share a band value (near-degenerate
    content: monochrome-with-noise images, near-silence) and would
    candidate-pair quadratically. Dropping the key costs recall only
    for pairs whose ONLY matching band is the hot one — the documented
    trade every LSH family here offers. Keys are counted over
    ``census`` (one row per distinct (bkey, lo, hi); default ``banded``
    itself), so a cross join caps a key hot on either side."""
    if max_band_df is None:
        return banded
    hot = (
        (banded if census is None else census)
        .groupBy("bkey")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > max_band_df)
        .select("bkey")
    )
    return banded.join(F.broadcast(hot), "bkey", "left_anti")


def _check_pigeonhole(band_bits: int, max_hamming: int) -> None:
    """A pair within Hamming ≤ nbands-1 shares at least one exact band,
    so ``max_hamming`` past that would silently under-report pairs."""
    if 64 % band_bits != 0 or band_bits > 32:
        raise ValueError("bands must split the two 32-bit halves")
    nbands = 64 // band_bits
    if max_hamming >= nbands:
        # ValueError, not assert: the contract must survive python -O
        # (r13 ADVICE finding)
        raise ValueError(
            f"pigeonhole guarantee is Hamming <= {nbands - 1} at {band_bits}-bit bands; "
            f"max_hamming={max_hamming} would silently under-report pairs"
        )


def _verified_rep_pairs(
    lb: DataFrame, rb: DataFrame, max_hamming: int, keep: Column
) -> DataFrame:
    """Rep-vs-rep band equi-join of two banded rep tables (id, lo, hi,
    bkey), filtered by ``keep`` and then verified with bit_count(xor) on
    each half: (rid_a, lo_a, hi_a, bkey, rid_b, lo_b, hi_b, hamming),
    one row per shared band — callers project and distinct."""
    a = lb.select(
        F.col("id").alias("rid_a"), F.col("lo").alias("lo_a"), F.col("hi").alias("hi_a"), "bkey"
    )
    b = rb.select(
        F.col("id").alias("rid_b"), F.col("lo").alias("lo_b"), F.col("hi").alias("hi_b"), "bkey"
    )
    ham = F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b"))) + F.bit_count(
        F.col("hi_a").bitwiseXOR(F.col("hi_b"))
    )
    return (
        a.join(b, "bkey")
        .filter(keep)
        .filter(ham <= max_hamming)
        .withColumn("hamming", ham)
    )


def hamming_band_pairs(
    hashes: DataFrame,
    id_col: str = "id",
    lo_col: str = "h_lo",
    hi_col: str = "h_hi",
    band_bits: int = 16,
    max_hamming: int = 2,
    max_band_df: int | None = None,
    exact_pairs: bool = True,
) -> DataFrame:
    """Near-dup pairs over a PACKED 64-bit fingerprint (two 32-bit
    longs, e.g. multimodal.image_ahash): collapse identical hashes,
    band the 64 bits into 64/band_bits integer blocks, equi-join
    DISTINCT hashes sharing a block value, verify exact Hamming with
    bit_count(xor) on each half, then expand back to member ids. The
    banding guarantee is the simhash_near_dup_pairs pigeonhole: a pair
    within Hamming ≤ nbands-1 differs in at most nbands-1 bands, so at
    least one band matches exactly — at the default 4×16 every pair
    within Hamming ≤ 3 is found, a superset of the max_hamming=2
    verify. ``max_hamming`` must stay inside that guarantee (else
    ValueError): a larger cutoff would silently under-report pairs.

    Degenerate-content safety (the 100 TB case the planted fixtures
    don't exercise): real corpora carry BULK identical fingerprints —
    monochrome images all aHash to one value, silence collides, black
    frames are the classic CBVR hot key — and a naive band self-join
    over B identical hashes emits nbands·B² candidate rows. Here the
    band join only ever sees ONE representative per distinct hash
    (exact-hash collapse first: groupBy (lo, hi), min id — lossless,
    identical hashes ARE duplicates), so identical-content floods cost
    the join nothing. Two levers on top:

    - ``max_band_df``: drop band keys still shared by more than this
      many DISTINCT hashes before the join (near-degenerate content;
      recall trade documented in _apply_max_band_df).
    - ``exact_pairs=False``: emit the LINEAR connectivity-preserving
      edge set instead of all member pairs — (group min → member) star
      edges at Hamming 0 plus one representative pair per verified
      distinct-hash pair. Same connected components, same survivor set
      under the "drop id_b" rule (every non-minimal member still
      appears as id_b), but a B-sized identical-hash group contributes
      B-1 rows instead of B(B-1)/2 — the mode clustering and
      dedup-at-ingest callers want. Default True preserves the
      all-pairs contract (hamming column included). INPUT CONTRACT for
      exact_pairs=True: one row per id — the member expansion joins
      back on (lo, hi), so duplicate (id, lo, hi) input rows (the
      per-frame tables in this module have exactly that shape) would
      emit duplicate pairs; pre-aggregate such tables (as the video
      callers do) or use exact_pairs=False, whose star/rep edges
      dedupe by construction (r13 ADVICE finding).

    Scale shape (same as the text LSH families): candidates come ONLY
    from the band equi-join over distinct hashes — never an all-pairs
    product — and 16-bit bands give 65536 buckets, so unrelated images
    (expected Hamming ~32) almost never share a bucket; the verify is
    pure integer xor/bit_count, codegen'd, and runs BEFORE the distinct
    so the dedup shuffle carries only true near-dups. Hash extraction
    (the mapInArrow decode) dominates end to end."""
    _check_pigeonhole(band_bits, max_hamming)
    members = hashes.select(
        F.col(id_col).alias("id"), F.col(lo_col).alias("lo"), F.col(hi_col).alias("hi")
    )
    reps = members.groupBy("lo", "hi").agg(F.min("id").alias("id"))
    banded = _apply_max_band_df(_hamming_band_explode(reps, band_bits), max_band_df)
    rep_pairs = (
        _verified_rep_pairs(banded, banded, max_hamming, F.col("rid_a") < F.col("rid_b"))
        .select("rid_a", "lo_a", "hi_a", "rid_b", "lo_b", "hi_b", "hamming")
        .distinct()
    )
    # star edges: every non-minimal member of an identical-hash group
    # pairs with its group min at Hamming 0 (linear, output-inherent)
    star = (
        members.join(
            reps.select(F.col("id").alias("id_a"), "lo", "hi"), ["lo", "hi"]
        )
        .filter(F.col("id") > F.col("id_a"))
        .select("id_a", F.col("id").alias("id_b"), F.lit(0).cast("int").alias("hamming"))
    )
    if not exact_pairs:
        return rep_pairs.select(
            F.col("rid_a").alias("id_a"), F.col("rid_b").alias("id_b"), "hamming"
        ).unionByName(star)
    # full expansion: every member of group A x every member of group B
    # (distinct hash pairs appear once, groups are disjoint), plus ALL
    # within-group pairs (self-join on the exact hash — quadratic only
    # in true Hamming-0 duplicates, which the all-pairs OUTPUT is)
    ga = members.select(F.col("id").alias("ma"), F.col("lo").alias("lo_a"), F.col("hi").alias("hi_a"))
    gb = members.select(F.col("id").alias("mb"), F.col("lo").alias("lo_b"), F.col("hi").alias("hi_b"))
    cross = (
        rep_pairs.join(ga, ["lo_a", "hi_a"])
        .join(gb, ["lo_b", "hi_b"])
        .select(
            F.least("ma", "mb").alias("id_a"),
            F.greatest("ma", "mb").alias("id_b"),
            "hamming",
        )
    )
    within = (
        members.join(gb, (F.col("lo") == F.col("lo_b")) & (F.col("hi") == F.col("hi_b")))
        .filter(F.col("id") < F.col("mb"))
        .select(
            F.col("id").alias("id_a"),
            F.col("mb").alias("id_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    return cross.unionByName(within)


def hamming_band_pairs_cross(
    left: DataFrame,
    right: DataFrame,
    band_bits: int = 16,
    max_hamming: int = 2,
    max_band_df: int | None = None,
    expand_right: bool = True,
) -> DataFrame:
    """hamming_band_pairs between TWO hash tables (each with id/h_lo/
    h_hi): every (left id, right id) pair within ``max_hamming``,
    candidates from the shared band equi-join, verified with
    bit_count(xor). Unlike the self-join form this keeps id_a == id_b
    matches — a batch replayed against a store already containing it
    self-matches at Hamming 0, which is exactly the replay-skip an
    idempotent dedup-at-ingest loop wants.

    Same degenerate-content armor as the self form: BOTH sides collapse
    to distinct hashes before banding (a store full of monochrome
    images is one rep row), the band join runs rep-vs-rep, the Hamming
    verify runs before the distinct, and ``max_band_df`` drops band
    keys still hot across the two rep sets (applied to the union so a
    key hot on either side is capped). The left (batch) side always
    expands back to member ids — every matching batch id must be
    reported; ``expand_right=False`` keeps the right side as one
    representative per hash (linear; the dedup-at-ingest caller only
    asks WHETHER a batch id matched the store, not against which store
    rows). Candidates only from the 2^band_bits-bucket join, never a
    product."""
    _check_pigeonhole(band_bits, max_hamming)

    def _norm(df: DataFrame) -> DataFrame:
        return df.select("id", F.col("h_lo").alias("lo"), F.col("h_hi").alias("hi"))

    lmem, rmem = _norm(left), _norm(right)
    lreps = lmem.groupBy("lo", "hi").agg(F.min("id").alias("id"))
    rreps = rmem.groupBy("lo", "hi").agg(F.min("id").alias("id"))
    lb = _hamming_band_explode(lreps, band_bits)
    rb = _hamming_band_explode(rreps, band_bits)
    census = lb.select("bkey", "lo", "hi").unionByName(rb.select("bkey", "lo", "hi")).distinct()
    rep_pairs = (
        _verified_rep_pairs(
            _apply_max_band_df(lb, max_band_df, census),
            _apply_max_band_df(rb, max_band_df, census),
            max_hamming,
            F.lit(True),  # every pair, replay self-matches included
        )
        .select("lo_a", "hi_a", "rid_b", "lo_b", "hi_b", "hamming")
        .distinct()
    )
    expanded = rep_pairs.join(
        lmem.select(F.col("id").alias("id_a"), F.col("lo").alias("lo_a"), F.col("hi").alias("hi_a")),
        ["lo_a", "hi_a"],
    )
    if not expand_right:
        return expanded.select("id_a", F.col("rid_b").alias("id_b"), "hamming")
    return expanded.join(
        rmem.select(F.col("id").alias("id_b"), F.col("lo").alias("lo_b"), F.col("hi").alias("hi_b")),
        ["lo_b", "hi_b"],
    ).select("id_a", "id_b", "hamming")


def _drop_hot_frame_hashes(
    fh: DataFrame, max_frame_df: int | None, census: DataFrame | None = None
) -> DataFrame:
    """The CBVR stop-frame lever: drop frame hashes carried by more than
    ``max_frame_df`` distinct items before the vote join. Black frames,
    station idents, intro cards and test patterns are shared by
    unboundedly many real-world videos — a frame hash held by B items
    yields B² vote-join rows, and such frames carry no duplicate
    evidence anyway (sharing a black frame does not make two videos
    copies; the ≥min_shared vote already assumes shared DISTINCT
    content frames). Recall cost: only pairs whose shared-frame budget
    depended on a stop frame. Items are counted over ``census`` (default
    ``fh`` itself), so a cross join caps a frame hot on either side."""
    if max_frame_df is None:
        return fh
    hot = (
        (fh if census is None else census)
        .groupBy("h_lo", "h_hi")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > max_frame_df)
        .select("h_lo", "h_hi")
    )
    return fh.join(F.broadcast(hot), ["h_lo", "h_hi"], "left_anti")


def _vote_pairs(
    lfh: DataFrame, rfh: DataFrame, min_shared: int, keep: Column
) -> DataFrame:
    """Frame-hash equi-join of two (id, h_lo, h_hi) tables, filtered by
    ``keep``, voted: (id_a, id_b, shared_frames ≥ ``min_shared``)."""
    a = lfh.select(F.col("id").alias("id_a"), "h_lo", "h_hi")
    b = rfh.select(F.col("id").alias("id_b"), "h_lo", "h_hi")
    return (
        a.join(b, ["h_lo", "h_hi"])
        .filter(keep)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_frames"))
        .filter(F.col("shared_frames") >= min_shared)
    )


def shared_hash_vote_pairs(
    frame_hashes: DataFrame,
    min_shared: int = 2,
    max_frame_df: int | None = None,
) -> DataFrame:
    """Item pairs sharing ≥ ``min_shared`` DISTINCT 64-bit frame hashes
    — the content-based-video-retrieval blocking vote over a per-frame
    perceptual-hash table (id, h_lo, h_hi; multimodal.video_frame_hashes
    produces it). Items are never compared pairwise: candidates come
    only from the frame-hash equi-join, and the per-item hash set is
    deduplicated FIRST so the join input is one row per (item, distinct
    hash) and the vote is a plain count. ``max_frame_df`` is the
    hot-frame cap (see _drop_hot_frame_hashes) — the lever that keeps
    the equi-join linear when real corpora flood a single frame hash
    (black frames), exactly the max_gram_df/max_band_df dial the text
    and fingerprint families carry."""
    fh = _drop_hot_frame_hashes(
        frame_hashes.select("id", "h_lo", "h_hi").distinct(), max_frame_df
    )
    return _vote_pairs(fh, fh, min_shared, F.col("id_a") < F.col("id_b"))


def shared_hash_vote_pairs_cross(
    left: DataFrame,
    right: DataFrame,
    min_shared: int = 2,
    max_frame_df: int | None = None,
) -> DataFrame:
    """shared_hash_vote_pairs between TWO per-frame hash tables: every
    (left id, right id) pair sharing ≥ ``min_shared`` distinct frame
    hashes. Keeps id_a == id_b matches — a video replayed against a
    store already holding its frames self-matches on ALL of them, the
    structural replay-skip the dedup-at-ingest loop wants (the
    hamming_band_pairs_cross contract, vote-shaped). The hot-frame cap
    counts an item once per side it appears on (the union is
    per-side-distinct), so a frame hot on either side is dropped from
    both before the join."""
    lfh = left.select("id", "h_lo", "h_hi").distinct()
    rfh = right.select("id", "h_lo", "h_hi").distinct()
    census = lfh.select("h_lo", "h_hi").unionByName(rfh.select("h_lo", "h_hi"))
    return _vote_pairs(
        _drop_hot_frame_hashes(lfh, max_frame_df, census),
        _drop_hot_frame_hashes(rfh, max_frame_df, census),
        min_shared,
        F.lit(True),  # every pair, replay self-matches included
    )
