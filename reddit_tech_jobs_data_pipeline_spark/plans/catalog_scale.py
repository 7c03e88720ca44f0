"""Scale-extension catalog: dedup families, similarity search, text
analysis — the LLM-data-pipeline operators (BASELINE.json north star),
each with a DuckDB oracle replicating the same deterministic algorithm.

Near-dup queries run on a corpus synthesized in-query (documents ∪
perturbed copies of every 10th doc) because the driver's synthetic docs
are word salads with no natural near-duplicates — the perturbed copies
give the operators real positives to find, identically on both engines.

MinHash / SimHash / banding oracles are generated SQL: same md5-based
hash family, same band keys, same verification joins. That is the point —
the algorithms are deterministic, so the oracle can replicate them
exactly rather than approximate them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from reddit_tech_jobs_data_pipeline_spark.functions import text as textfn
from reddit_tech_jobs_data_pipeline_spark.operators import (
    contrastive,
    dedup,
    mixture,
    packing,
    similarity,
)
from reddit_tech_jobs_data_pipeline_spark.plans.catalog import register, _t
from reddit_tech_jobs_data_pipeline_spark.workdirs import stable_work_key

# ---------------------------------------------------------------------------
# shared SQL fragments
# ---------------------------------------------------------------------------

_TOKS = r"list_filter(regexp_split_to_array(lower(text), '\W+'), x -> x <> '')"

# One-shot DSIR oracle over the full documents table (Xie et al. 2023,
# arXiv:2302.03169). Registered by catalog_corpus.dsir_importance_weights
# AND reused verbatim by dsir_incremental_model below, whose Spark side
# builds the same model via batch-split histograms + a parquet store
# round-trip — oracle equality proves the incremental merge is exact.
DSIR_ONESHOT_SQL = f"""
    WITH d AS (SELECT doc_id, source, {_TOKS} AS ws
               FROM documents WHERE text IS NOT NULL),
    b AS (SELECT doc_id, source, ws, len(ws) AS n FROM d WHERE len(ws) >= 2),
    g AS (
      SELECT doc_id, source, CAST(s AS BIGINT) AS pos,
             ('0x' || substr(md5(array_to_string(list_slice(ws, s + 1, s + 2), ' ')), 1, 4))::BIGINT % 256 AS bk
      FROM b, unnest(range(0, n - 1)) t(s)
    ),
    cp AS (SELECT bk, count(*) AS c FROM g WHERE source IN ('src0', 'src1') GROUP BY bk),
    cq AS (SELECT bk, count(*) AS c FROM g WHERE source NOT IN ('src0', 'src1') GROUP BY bk),
    np AS (SELECT coalesce(sum(c), 0) AS n FROM cp),
    nq AS (SELECT coalesce(sum(c), 0) AS n FROM cq),
    lr AS (
      SELECT cq.bk,
             ln((coalesce(cp.c, 0) + 1) * 1.0 / ((SELECT n FROM np) + 256))
             - ln((cq.c + 1) * 1.0 / ((SELECT n FROM nq) + 256)) AS lv
      FROM cq LEFT JOIN cp USING (bk)
    ),
    per AS (
      SELECT g.doc_id, count(*) AS n_feat,
             list_reduce(list_prepend(0.0, list(lr.lv ORDER BY g.pos)),
                         (a, x) -> a + x) AS s
      FROM g JOIN lr USING (bk)
      WHERE g.source NOT IN ('src0', 'src1')
      GROUP BY g.doc_id
    )
    SELECT doc_id, CAST(n_feat AS BIGINT) AS n_feat,
           round(s / n_feat, 4) + 0.0 AS logw_per_feat
    FROM per
    """

# documents ∪ perturbed copies (id+100000, two tokens appended)
_CORPUS_SQL = """
  corpus AS (
    SELECT doc_id AS id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000 AS id, text || ' zz yy' AS text
    FROM documents WHERE doc_id % 10 = 0
  )
"""

# 3-gram shingle edge list over the corpus (distinct per doc)
_SHINGLE_SQL = f"""
  toks AS (SELECT id, {_TOKS} AS ws FROM corpus),
  sh AS (
    SELECT id, unnest(list_distinct(list_transform(
      generate_series(1, greatest(length(ws) - 2, 0)),
      i -> array_to_string(ws[i:i+2], ' ')))) AS shingle
    FROM toks WHERE length(ws) >= 3
  )
"""


def _corpus_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: the test-SF documents table is ONE parquet split, so the
    # CPU-heavy per-doc work every corpus query does downstream
    # (fingerprints, shingles, BPE) would otherwise run single-task; at
    # real scale the scan has thousands of splits and this is a no-op
    from reddit_tech_jobs_data_pipeline_spark.operators.parallelism import fan_out

    docs = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"), "text")
    copies = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 0)
        .select(
            (F.col("doc_id") + 100000).alias("id"),
            F.concat(F.col("text"), F.lit(" zz yy")).alias("text"),
        )
    )
    return fan_out(docs.unionByName(copies))


# ===========================================================================
# Text analysis — stats, quality, language ID, fingerprint
# ===========================================================================

_LANGS = sorted(textfn.DEFAULT_LANG_MARKERS)  # de, en, es, fr
_STOP_SQL = "['" + "','".join(textfn.DEFAULT_STOPWORDS) + "']"


def _lang_score_sql(code: str) -> str:
    kws = "['" + "','".join(textfn.DEFAULT_LANG_MARKERS[code]) + "']"
    return f"length(list_filter(ws, t -> list_contains({kws}, t)))"


_LANG_CASE = f"""
    CASE WHEN {" + ".join(_lang_score_sql(c) for c in _LANGS)} = 0 THEN 'und'
         {"".join(
            f"WHEN {_lang_score_sql(c)} >= greatest({', '.join(_lang_score_sql(o) for o in _LANGS[i+1:]) or '0'}) THEN '{c}' "
            for i, c in enumerate(_LANGS[:-1])
         )}
         ELSE '{_LANGS[-1]}' END
"""


@register(
    "text_stats",
    f"""
    WITH toks AS (SELECT doc_id, text, {_TOKS} AS ws FROM documents)
    SELECT doc_id,
      coalesce(length(text), 0) AS char_count,
      length(ws) AS token_count,
      length(regexp_extract_all(lower(coalesce(text,'')), '\\w{{1,4}}|[^\\w\\s]')) AS bpe_ish_tokens,
      round(CASE WHEN length(ws) > 0
            THEN length(list_filter(ws, t -> list_contains({_STOP_SQL}, t))) * 1.0 / length(ws)
            ELSE 0.0 END, 4) AS stopword_ratio,
      round(CASE WHEN coalesce(length(text),0) > 0
            THEN length(regexp_replace(text, '[\\w\\s]', '', 'g')) * 1.0 / length(text)
            ELSE 0.0 END, 4) AS punct_ratio,
      round(CASE WHEN length(ws) > 0
            THEN list_aggregate(list_transform(ws, t -> length(t)), 'sum') * 1.0 / length(ws)
            ELSE 0.0 END, 4) AS mean_token_len,
      {_LANG_CASE} AS lang_pred
    FROM toks
    """,
    tags=["text", "scale"],
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_tech_jobs_data_pipeline_spark.functions.extract import bind1, tokens

    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")

    # one bind1 shares a single tokenizer run across the four token-based
    # stats (each textfn call otherwise tokenizes independently — 4
    # tokenizer evaluations per row in the r13 plan)
    def _tok_stats(ws):
        return F.struct(
            F.size(ws).cast("long").alias("token_count"),
            F.round(textfn._stopword_ratio_from(ws, textfn.DEFAULT_STOPWORDS), 4).alias(
                "stopword_ratio"
            ),
            F.round(textfn._mean_token_len_from(ws), 4).alias("mean_token_len"),
            textfn._lang_id_from(ws).alias("lang_pred"),
        )

    return docs.select(
        "doc_id",
        textfn.char_count(t).cast("long").alias("char_count"),
        F.coalesce(textfn.bpe_ish_token_count(t), F.lit(0)).cast("long").alias("bpe_ish_tokens"),
        F.round(textfn.punct_ratio(t), 4).alias("punct_ratio"),
        bind1(tokens(t), _tok_stats).alias("__ts"),
    ).select(
        "doc_id",
        "char_count",
        F.col("__ts.token_count").alias("token_count"),
        "bpe_ish_tokens",
        F.col("__ts.stopword_ratio").alias("stopword_ratio"),
        "punct_ratio",
        F.col("__ts.mean_token_len").alias("mean_token_len"),
        F.col("__ts.lang_pred").alias("lang_pred"),
    )


@register(
    "tokenizer_fertility_by_lang",
    f"""
    WITH toks AS (
      SELECT lang,
             length({_TOKS}) AS n_words,
             length(regexp_extract_all(lower(coalesce(text,'')),
                    '\\w{{1,4}}|[^\\w\\s]')) AS n_sub,
             coalesce(length(text), 0) AS n_chars
      FROM documents
    )
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS words,
           CAST(sum(n_sub) AS BIGINT) AS subword_tokens,
           round(sum(n_sub) * 1.0 / sum(n_words), 4) AS fertility,
           round(sum(n_chars) * 1.0 / sum(n_sub), 4) AS chars_per_token
    FROM toks WHERE n_words > 0
    GROUP BY lang
    """,
    tags=["text", "scale"],
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility — subword tokens per whitespace word, by
    language — the token-budget planning metric (how many LLM tokens a
    corpus REALLY costs varies by language; high fertility = a language
    the tokenizer fragments). chars_per_token is the inverse compression
    proxy. One narrow scan, one 5-row groupBy with map-side combine;
    the ratios divide exact long sums (integer-exact-operand class).
    Docs with no words (empty/NULL text) contribute nothing."""
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    per = docs.select(
        "lang",
        textfn.token_count(t).alias("n_words"),
        F.coalesce(textfn.bpe_ish_token_count(t), F.lit(0)).alias("n_sub"),
        textfn.char_count(t).alias("n_chars"),
    ).filter(F.col("n_words") > 0)
    return per.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").cast("long").alias("words"),
        F.sum("n_sub").cast("long").alias("subword_tokens"),
        F.round(F.sum("n_sub") * 1.0 / F.sum("n_words"), 4).alias("fertility"),
        F.round(F.sum("n_chars") * 1.0 / F.sum("n_sub"), 4).alias("chars_per_token"),
    )


@register(
    "quality_score_filter",
    f"""
    WITH toks AS (SELECT doc_id, text, {_TOKS} AS ws FROM documents),
    scored AS (
      SELECT doc_id,
        (CASE WHEN length(ws) BETWEEN 5 AND 100000 THEN 0.4 ELSE 0.0 END)
        + (CASE WHEN length(ws) > 0 AND
             length(list_filter(ws, t -> list_contains({_STOP_SQL}, t))) * 1.0 / length(ws) > 0.05
           THEN 0.2 ELSE 0.0 END)
        + (CASE WHEN coalesce(length(text),0) = 0 OR
             length(regexp_replace(text, '[\\w\\s]', '', 'g')) * 1.0 / length(text) < 0.2
           THEN 0.2 ELSE 0.0 END)
        + (CASE WHEN length(ws) > 0 AND
             list_aggregate(list_transform(ws, t -> length(t)), 'sum') * 1.0 / length(ws)
               BETWEEN 2.0 AND 12.0
           THEN 0.2 ELSE 0.0 END) AS q
      FROM toks
    )
    SELECT doc_id, round(q, 2) AS quality FROM scored WHERE q >= 0.6
    """,
    tags=["text", "filter", "scale"],
)
def quality_score_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    q = textfn.quality_score(F.col("text"))
    return (
        docs.select("doc_id", F.round(q, 2).alias("quality")).filter(F.col("quality") >= 0.6)
    )


@register(
    "quality_threshold_sweep",
    f"""
    WITH toks AS (SELECT doc_id, text, {_TOKS} AS ws FROM documents),
    scored AS (
      SELECT doc_id, length(ws) AS n_tok,
        (CASE WHEN length(ws) BETWEEN 5 AND 100000 THEN 0.4 ELSE 0.0 END)
        + (CASE WHEN length(ws) > 0 AND
             length(list_filter(ws, t -> list_contains({_STOP_SQL}, t))) * 1.0 / length(ws) > 0.05
           THEN 0.2 ELSE 0.0 END)
        + (CASE WHEN coalesce(length(text),0) = 0 OR
             length(regexp_replace(text, '[\\w\\s]', '', 'g')) * 1.0 / length(text) < 0.2
           THEN 0.2 ELSE 0.0 END)
        + (CASE WHEN length(ws) > 0 AND
             list_aggregate(list_transform(ws, t -> length(t)), 'sum') * 1.0 / length(ws)
               BETWEEN 2.0 AND 12.0
           THEN 0.2 ELSE 0.0 END) AS q
      FROM toks
    ),
    rungs AS (
      SELECT round(q, 2) AS quality, count(*) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS tokens
      FROM scored GROUP BY 1
    ),
    tot AS (SELECT sum(n_docs) AS all_docs, sum(tokens) AS all_tokens
            FROM rungs)
    SELECT quality AS threshold,
           CAST(n_docs AS BIGINT) AS n_docs_at,
           CAST(sum(n_docs) OVER (ORDER BY quality DESC) AS BIGINT)
             AS docs_kept,
           CAST(sum(tokens) OVER (ORDER BY quality DESC) AS BIGINT)
             AS tokens_kept,
           round(sum(n_docs) OVER (ORDER BY quality DESC) * 1.0 / all_docs, 4)
             AS doc_keep_rate,
           round(sum(tokens) OVER (ORDER BY quality DESC) * 1.0 / all_tokens, 4)
             AS token_keep_rate
    FROM rungs CROSS JOIN tot
    """,
    tags=["text", "filter", "scale"],
)
def quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration table for the quality filter: for every score rung
    the composite quality_score can emit ({0, .2, .4, .6, .8, 1.0}),
    how many docs/tokens survive a ≥-threshold cut — the table you read
    BEFORE picking quality_score_filter's 0.6 (keep-rate vs token
    budget). 100 TB shape: one corpus scan to a ≤6-row rung histogram
    (map-side combine); the reverse-cumulative and grand-total windows
    and keep-rates all run on those 6 rows (windows, not
    agg-and-join-back — a second `.agg()` branch would re-scan the
    corpus; plan-audited to 1 scan). The rung domain is closed by
    construction, so the sweep is exact, not sampled."""
    docs = _t(spark, sf_dir, "documents")
    rungs = (
        docs.select(
            F.round(textfn.quality_score(F.col("text")), 2).alias("quality"),
            textfn.token_count(F.col("text")).alias("n_tok"),
        )
        .groupBy("quality")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("tokens"),
        )
    )
    w = Window.orderBy(F.col("quality").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy()
    return rungs.select(
        F.col("quality").alias("threshold"),
        F.col("n_docs").cast("long").alias("n_docs_at"),
        F.sum("n_docs").over(w).cast("long").alias("docs_kept"),
        F.sum("tokens").over(w).cast("long").alias("tokens_kept"),
        F.round(
            F.sum("n_docs").over(w) * 1.0 / F.sum("n_docs").over(w_all), 4
        ).alias("doc_keep_rate"),
        F.round(
            F.sum("tokens").over(w) * 1.0 / F.sum("tokens").over(w_all), 4
        ).alias("token_keep_rate"),
    )


@register(
    "doc_fingerprint_dedup",
    f"""
    WITH {_CORPUS_SQL},
    toks AS (SELECT id, {_TOKS} AS ws FROM corpus),
    fp AS (
      SELECT id, md5(array_to_string(list_sort(list_distinct(ws)), ' ')) AS fprint
      FROM toks
    )
    SELECT id, fprint FROM (
      SELECT id, fprint, row_number() OVER (PARTITION BY fprint ORDER BY id) AS rn
      FROM fp
    ) WHERE rn = 1
    """,
    tags=["dedup", "text", "scale"],
)
def doc_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _corpus_df(spark, sf_dir)
    out = dedup.exact_dedup(corpus, "text", "id", canonical=True)
    return out.select("id", textfn.fingerprint("text").alias("fprint"))


@register(
    "rolling_fingerprint_hash",
    f"""
    WITH {_CORPUS_SQL},
    toks AS (SELECT id, {_TOKS} AS ws FROM corpus)
    SELECT id,
      CAST(list_reduce(
        list_prepend(CAST(0 AS UBIGINT),
          list_transform(ws, t -> ('0x' || substr(md5(t), 1, 8))::UBIGINT)),
        (acc, x) -> (acc * 31 + x) % 1000000007) AS BIGINT) AS rhash
    FROM toks
    """,
    tags=["text", "fingerprint", "scale"],
)
def rolling_fingerprint_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive Rabin-Karp rolling hash; the oracle folds the
    identical (md5-derived, mod-p) recurrence via list_reduce."""
    corpus = _corpus_df(spark, sf_dir)
    return corpus.select("id", textfn.rolling_fingerprint("text").alias("rhash"))


def _pii_sql() -> str:
    # programmatic build — regex braces ({1,3} etc.) must not pass
    # through an f-string
    reps = "coalesce(text, '')"
    counts = []
    for name, pat in textfn.PII_PATTERNS:
        reps = "regexp_replace(" + reps + ", '" + pat + "', '<" + name.upper() + ">', 'g')"
        counts.append(
            "length(regexp_extract_all(coalesce(text, ''), '" + pat + "')) AS n_" + name
        )
    return (
        """
    WITH pii_docs AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN text ||
               ' reach bob.smith+hr@example.co.uk or 555-123-4567 from 192.168.10.1'
             ELSE text END AS text
      FROM documents
    )
    SELECT doc_id, """
        + reps
        + " AS clean_text,\n           "
        + ",\n           ".join(counts)
        + "\n    FROM pii_docs"
    )


@register("pii_redaction", _pii_sql(), tags=["text", "scale"])
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-prep PII scrub: typed placeholder redaction (email / ipv4 /
    phone) + per-type audit counts, pure chained regexp_replace (one
    codegen stage — this pass touches every byte of a 100 TB corpus, so
    it must stay JVM-side). PII is synthesized onto every 7th doc since
    the testdata is PII-free word salad; both engines see the same bytes.
    """
    docs = _t(spark, sf_dir, "documents")
    pii = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(
                    " reach bob.smith+hr@example.co.uk or 555-123-4567 from 192.168.10.1"
                ),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    t = F.col("text")
    return pii.select(
        "doc_id",
        textfn.pii_redact(t).alias("clean_text"),
        *[
            textfn.pii_count(t, name).cast("long").alias(f"n_{name}")
            for name, _ in textfn.PII_PATTERNS
        ],
    )


# ===========================================================================
# Near-dup dedup: n-gram Jaccard / MinHash-LSH / SimHash
# ===========================================================================

_JACCARD_VERIFY_SQL = """
  sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
  common AS (
    SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
    {candidate_filter}
    GROUP BY a.id, b.id
  ),
  scored AS (
    -- jaccard_raw feeds the threshold test (the Spark operators filter the
    -- UNROUNDED score, then round for display — both sides must threshold
    -- the same value or scores in [t - 5e-5, t) diverge at the boundary)
    SELECT id_a, id_b,
           n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) AS jaccard_raw,
           round(n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common), 4) AS jaccard
    FROM common
    JOIN sizes sa ON sa.id = common.id_a
    JOIN sizes sb ON sb.id = common.id_b
  )
"""


@register(
    "ngram_jaccard_near_dup",
    f"""
    WITH {_CORPUS_SQL}, {_SHINGLE_SQL},
    {_JACCARD_VERIFY_SQL.format(candidate_filter="")}
    SELECT id_a, id_b, jaccard FROM scored WHERE jaccard_raw >= 0.7
    """,
    tags=["dedup", "scale"],
)
def ngram_jaccard_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _corpus_df(spark, sf_dir)
    return dedup.ngram_jaccard_pairs(corpus, "text", "id", n=3, threshold=0.7)


@register(
    "jaccard_prefix_filter_join",
    f"""
    WITH {_CORPUS_SQL}, {_SHINGLE_SQL},
    {_JACCARD_VERIFY_SQL.format(candidate_filter="")}
    SELECT id_a, id_b, jaccard FROM scored WHERE jaccard_raw >= 0.7
    """,
    tags=["dedup", "scale"],
)
def jaccard_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AllPairs/PPJoin prefix-filtered set-similarity join. The oracle is
    the EXHAUSTIVE inverted-index join — matching it proves the prefix +
    size pruning is lossless while joining only each doc's rarest
    shingles (the scale path: no quadratic fan-out on hot shingles)."""
    corpus = _corpus_df(spark, sf_dir)
    return dedup.prefix_filter_jaccard_pairs(
        corpus, "text", "id", n=3, threshold_num=7, threshold_den=10
    )


@register(
    "subdocument_containment",
    f"""
    WITH {_CORPUS_SQL}, {_SHINGLE_SQL},
    sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY a.id, b.id
    )
    SELECT contained_id, container_id, n_common, n_contained,
           round(n_common * 1.0 / n_contained, 4) AS containment
    FROM (
      SELECT id_a AS contained_id, id_b AS container_id, n_common,
             sa.n_sh AS n_contained
      FROM common JOIN sizes sa ON sa.id = common.id_a
      WHERE n_common * 10 >= 9 * sa.n_sh
      UNION ALL
      SELECT id_b, id_a, n_common, sb.n_sh
      FROM common JOIN sizes sb ON sb.id = common.id_b
      WHERE n_common * 10 >= 9 * sb.n_sh
    )
    """,
    tags=["dedup", "scale"],
)
def subdocument_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup (|A∩B|/|A| ≥ 0.9) — catches the
    sub-document duplicates Jaccard misses (the planted '+2 tokens'
    copies contain their originals at containment 1.0). The operator
    joins only each doc's containment PREFIX against the full index;
    the oracle is the EXHAUSTIVE inverted-index join in both directions
    — matching proves the asymmetric prefix bound lossless. Thresholds
    are integer-exact on both engines (n_common·10 ≥ 9·n_a)."""
    corpus = _corpus_df(spark, sf_dir)
    return dedup.containment_prefix_pairs(
        corpus, "text", "id", n=3, threshold_num=9, threshold_den=10
    )


def _minhash_sql(num_hashes: int = 16, bands: int = 4) -> str:
    # Kirsch-Mitzenmacher family, mirroring operators/dedup.py: one md5
    # per shingle, w1/w2 = its first two 32-bit words, h_i = (w1 + i*w2)
    # mod p. The band key here is the plain concatenation of the band's
    # minhash values (Spark uses xxhash64 of the same values — any
    # injective-on-equality keying yields identical candidates).
    r = num_hashes // bands
    mh_aggs = ",\n      ".join(
        f"min((w1 + {i} * w2) % 4294967291) AS mh_{i}" for i in range(num_hashes)
    )
    band_array = ", ".join(
        "'" + str(b) + ":' || "
        + " || '|' || ".join(f"CAST(mh_{b * r + j} AS VARCHAR)" for j in range(r))
        for b in range(bands)
    )
    return f"""
    shw AS (
      SELECT id,
             ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS w1,
             ('0x' || substr(md5(shingle), 9, 8))::BIGINT AS w2
      FROM sh
    ),
    sig AS (SELECT id, {mh_aggs} FROM shw GROUP BY id),
    stacked AS (SELECT id, unnest([{band_array}]) AS bkey FROM sig),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM stacked a JOIN stacked b ON a.bkey = b.bkey AND a.id < b.id
    )
    """


@register(
    "cms_heavy_hitters",
    f"""
    WITH tok AS (SELECT unnest({_TOKS}) AS token FROM documents),
    tc AS (SELECT token, count(*) AS exact_n FROM tok GROUP BY token),
    tw AS (SELECT token, exact_n,
                  ('0x' || substr(md5(token), 1, 8))::BIGINT AS w1,
                  ('0x' || substr(md5(token), 9, 8))::BIGINT AS w2
           FROM tc),
    g AS (SELECT unnest(generate_series(0, 3)) AS i),
    cells AS (
      SELECT i, (w1 + i * w2) % 4294967291 % 1024 AS bucket,
             sum(exact_n) AS cnt
      FROM tw CROSS JOIN g GROUP BY 1, 2
    ),
    est AS (
      SELECT token, exact_n, min(cnt) AS est_n
      FROM tw CROSS JOIN g
      JOIN cells ON cells.i = g.i
               AND cells.bucket = (w1 + g.i * w2) % 4294967291 % 1024
      GROUP BY token, exact_n
    )
    SELECT token, CAST(exact_n AS BIGINT) AS exact_n,
           CAST(est_n AS BIGINT) AS est_n,
           CAST(est_n - exact_n AS BIGINT) AS overcount, rank
    FROM (SELECT *, row_number() OVER (ORDER BY est_n DESC, token) AS rank
          FROM est)
    WHERE rank <= 20
    """,
    tags=["sketch", "text", "scale"],
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 tokens by Count-Min-sketch estimate, with the exact count
    and the (always ≥ 0) overcount alongside — the mergeable-sketch
    alternative to the exact heavy_hitter_tokens aggregation. The d×w
    grid is corpus-size independent and merges by addition
    (operators/sketches.py); the oracle rebuilds the identical md5
    double-hashed sketch in SQL, so every cell is bit-equal."""
    from reddit_tech_jobs_data_pipeline_spark.functions.extract import tokens
    from reddit_tech_jobs_data_pipeline_spark.operators import sketches

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens("text")).alias("token"))
    exact = tok.groupBy("token").agg(F.count(F.lit(1)).alias("exact_n"))
    # build from the exact counts (weight form): identical cells to the
    # per-occurrence build, one explode over vocab instead of corpus
    sketch = sketches.cms_build(exact, "token", weight_col="exact_n")
    est = sketches.cms_estimate(exact.select("token"), sketch)
    w = Window.orderBy(F.col("est_n").desc(), F.col("token").asc())
    return (
        exact.join(est, "token")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select(
            "token",
            "exact_n",
            "est_n",
            (F.col("est_n") - F.col("exact_n")).alias("overcount"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


@register(
    "streaming_cms_ingest",
    f"""
    WITH tok AS (SELECT unnest({_TOKS}) AS token FROM documents),
    tc AS (SELECT token, count(*) AS exact_n FROM tok GROUP BY token),
    tw AS (SELECT token, exact_n,
                  ('0x' || substr(md5(token), 1, 8))::BIGINT AS w1,
                  ('0x' || substr(md5(token), 9, 8))::BIGINT AS w2
           FROM tc),
    g AS (SELECT unnest(generate_series(0, 3)) AS i),
    cells AS (
      SELECT i, (w1 + i * w2) % 4294967291 % 1024 AS bucket,
             sum(exact_n) AS cnt
      FROM tw CROSS JOIN g GROUP BY 1, 2
    ),
    est AS (
      SELECT token, min(cnt) AS est_n
      FROM tw CROSS JOIN g
      JOIN cells ON cells.i = g.i
               AND cells.bucket = (w1 + g.i * w2) % 4294967291 % 1024
      GROUP BY token
    )
    SELECT token, CAST(est_n AS BIGINT) AS est_n, rank
    FROM (SELECT *, row_number() OVER (ORDER BY est_n DESC, token) AS rank
          FROM est)
    WHERE rank <= 20
    """,
    tags=["streaming", "sketch", "scale"],
)
def streaming_cms_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-micro-batch Count-Min cells appended idempotently to a
    persisted store (content-derived batch keys; replay-safe; the store
    is never rewritten), merged only at read time — cell additivity
    makes the merged sketch equal the single-pass batch sketch the
    oracle rebuilds in SQL. See streaming/cms_ingest.py for the
    missing-path-only first-batch fallback contract."""
    from reddit_tech_jobs_data_pipeline_spark.streaming.cms_ingest import (
        run_cms_ingest_batchlike,
    )

    return run_cms_ingest_batchlike(spark, sf_dir, n_tags=4)


@register(
    "histogram_quantile_sketch",
    """
    WITH cells AS (
      SELECT source, CAST(floor(n_chars / 10.0) AS BIGINT) AS bin, count(*) AS cnt
      FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2
    ),
    cum AS (
      SELECT source, bin,
             sum(cnt) OVER (PARTITION BY source ORDER BY bin) AS cum,
             sum(cnt) OVER (PARTITION BY source) AS n
      FROM cells
    ),
    qq AS (SELECT unnest([500, 900, 990]) AS qn),
    est AS (
      SELECT source, qn, n, min(bin) AS qbin
      FROM cum CROSS JOIN qq
      WHERE cum >= floor((n * qn + 999) / 1000.0)
      GROUP BY source, qn, n
    )
    SELECT source, qn / 1000.0 AS q, CAST(n AS BIGINT) AS n,
           (qbin + 1) * 10.0 AS q_upper
    FROM est
    """,
    tags=["sketch", "stats", "scale"],
)
def histogram_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source p50/p90/p99 of document length from a fixed-width
    histogram sketch — the mergeable quantile path (cells are additive
    like the CMS: per-partition/day histograms union+re-sum, so corpus
    quantiles never need a full sort). The rank rule is integer-exact
    ceil(q·N) with no interpolation, so both engines pick the identical
    bin; accuracy (within one bin width of exact percentile) is pinned
    in tests/test_sketches.py. See operators/sketches.histogram_sketch."""
    from reddit_tech_jobs_data_pipeline_spark.operators import sketches

    docs = _t(spark, sf_dir, "documents")
    cells = sketches.histogram_sketch(docs, "n_chars", 10.0, ("source",))
    return sketches.histogram_quantiles(cells, (0.5, 0.9, 0.99), 10.0, ("source",))


@register(
    "bloom_decontamination",
    """
    WITH keys AS (
      SELECT doc_id, md5(text) AS fp FROM documents WHERE text IS NOT NULL
    ),
    bw AS (
      SELECT ('0x' || substr(md5(fp), 1, 8))::BIGINT AS w1,
             ('0x' || substr(md5(fp), 9, 8))::BIGINT AS w2
      FROM keys WHERE doc_id % 7 = 0
    ),
    g AS (SELECT unnest(generate_series(0, 2)) AS i),
    bits AS (
      SELECT DISTINCT (w1 + i * w2) % 4294967291 % 65536 AS bit
      FROM bw CROSS JOIN g
    ),
    probe AS (
      SELECT doc_id,
             ('0x' || substr(md5(fp), 1, 8))::BIGINT AS w1,
             ('0x' || substr(md5(fp), 9, 8))::BIGINT AS w2
      FROM keys
    ),
    hits AS (
      SELECT doc_id, count(*) AS n_hit
      FROM probe CROSS JOIN g
      JOIN bits ON bits.bit = (w1 + i * w2) % 4294967291 % 65536
      GROUP BY doc_id
    )
    SELECT doc_id, doc_id % 7 = 0 AS is_true_member
    FROM hits WHERE n_hit = 3
    """,
    tags=["sketch", "dedup", "scale"],
)
def bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination by Bloom membership: the eval set
    (doc_id % 7 = 0 stands in for it) builds a ≤ 65536-row set-bit
    table; the whole corpus probes it with a broadcast join — zero
    false negatives (every true member is flagged — the property a
    decontamination gate must have), collision-rate false positives
    visible via the is_true_member column (identical on both engines:
    the bits are md5 double-hashed, engine-portable). See
    operators/sketches.bloom_build / bloom_probe."""
    from reddit_tech_jobs_data_pipeline_spark.operators import sketches

    keys = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.md5("text").alias("fp"))
    )
    bloom = sketches.bloom_build(keys.filter(F.col("doc_id") % 7 == 0), "fp")
    flagged = sketches.bloom_probe(keys, "fp", bloom, carry_cols=("doc_id",))
    return flagged.select(
        "doc_id", (F.col("doc_id") % 7 == 0).alias("is_true_member")
    )


def _bbit_sql(est_hashes: int, min_agree: int) -> str:
    # second signature family at est_hashes width from the same shw CTE,
    # low bits packed into one BIGINT (mirrors operators/dedup.bbit_pack)
    mh_aggs = ",\n      ".join(
        f"min((w1 + {i} * w2) % 4294967291) AS mh_{i}" for i in range(est_hashes)
    )
    pack = " + ".join(f"(mh_{i} % 2) * (1::BIGINT << {i})" for i in range(est_hashes))
    return f"""
    sig_e AS (SELECT id, {mh_aggs} FROM shw GROUP BY id),
    packed AS (SELECT id, {pack} AS bsig FROM sig_e),
    est AS (
      SELECT id_a, id_b,
             {est_hashes} - bit_count(xor(pa.bsig, pb.bsig)) AS n_agree
      FROM cand
      JOIN packed pa ON pa.id = cand.id_a
      JOIN packed pb ON pb.id = cand.id_b
    )
    SELECT id_a, id_b, CAST(n_agree AS BIGINT) AS n_agree,
           round(greatest(0.0, 2.0 * n_agree / {est_hashes} - 1.0), 4) AS j_est
    FROM est WHERE n_agree >= {min_agree}
    """


@register(
    "bbit_minhash_estimate",
    f"""
    WITH {_CORPUS_SQL}, {_SHINGLE_SQL},
    {_minhash_sql(16, 4)},
    {_bbit_sql(48, 36)}
    """,
    tags=["dedup", "sketch", "scale"],
)
def bbit_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit MinHash verification of LSH candidates: the Jaccard
    decision reads only a 48-bit packed signature (~21× smaller store
    than the 16×long full signatures — the compression dial for the
    incremental-ingest verify store). n_agree ≥ 36 ⟺ ĵ ≥ 0.5,
    integer-exact on both engines; estimator accuracy vs exact Jaccard
    is pinned in tests/test_bbit_minhash.py."""
    corpus = _corpus_df(spark, sf_dir)
    return dedup.bbit_minhash_estimate_pairs(
        corpus, "text", "id", lsh_hashes=16, lsh_bands=4, est_hashes=48, min_agree=36
    )


@register(
    "minhash_lsh_near_dup",
    f"""
    WITH {_CORPUS_SQL}, {_SHINGLE_SQL},
    {_minhash_sql(16, 4)},
    {_JACCARD_VERIFY_SQL.format(candidate_filter="JOIN cand ON cand.id_a = a.id AND cand.id_b = b.id")}
    SELECT id_a, id_b, jaccard FROM scored WHERE jaccard_raw >= 0.7
    """,
    tags=["dedup", "scale"],
)
def minhash_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _corpus_df(spark, sf_dir)
    return dedup.minhash_lsh_dedup_pairs(
        corpus, "text", "id", num_hashes=16, bands=4, n=3, threshold=0.7
    )


@register(
    "edit_distance_near_dup",
    """
    WITH ec AS (
      SELECT doc_id AS id, substr(lower(text), 1, 40) AS s
      FROM documents WHERE length(text) >= 40
      UNION ALL
      SELECT doc_id + 100000 AS id,
             substr(lower(text), 1, 9) || substr(lower(text), 11, 1)
               || substr(lower(text), 10, 1) || substr(lower(text), 12, 29) AS s
      FROM documents WHERE doc_id % 5 = 0 AND length(text) >= 40
    ),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b, levenshtein(a.s, b.s) AS dist
      FROM ec a JOIN ec b
        ON a.id < b.id AND abs(length(a.s) - length(b.s)) <= 2
    )
    SELECT id_a, id_b, CAST(dist AS BIGINT) AS dist FROM pairs WHERE dist <= 2
    """,
    tags=["dedup", "scale"],
)
def edit_distance_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup join (see
    operators/dedup.edit_distance_near_dup_pairs): the corpus is 40-char
    document prefixes plus copies with characters 10/11 transposed
    (levenshtein 2 from their originals); the q-gram count filter must
    find every pair the oracle's EXHAUSTIVE length-blocked levenshtein
    join finds — matching it proves the count-filter pruning lossless,
    exactly as jaccard_prefix_filter_join does for token-level prefix
    pruning.

    q=8 (not the q=2 default): the r9 full-catalog bench caught q=2 at
    153 s for sf0.1 — bigrams drawn from the tiny synthetic vocabulary
    are all hot, so the inverted-index join fans out in Σ df² — while
    the measured sweep q=2/3/4/6/8 gave 153/52/36/23/5.6 s with an
    IDENTICAL 1375-pair result at every q (the filter is lossless at
    any q; only its selectivity changes). q=8 keeps the gram-path
    theorem valid here (strings are 40 chars > q−1+q·d = 23) and is the
    right choice whenever the alphabet is low-entropy; the unguarded
    join stays the default for general text."""
    docs = _t(spark, sf_dir, "documents").filter(F.length("text") >= 40)
    lt = F.lower(F.col("text"))
    originals = docs.select(
        F.col("doc_id").alias("id"), F.substring(lt, 1, 40).alias("s")
    )
    copies = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("id"),
        F.concat(
            F.substring(lt, 1, 9),
            F.substring(lt, 11, 1),
            F.substring(lt, 10, 1),
            F.substring(lt, 12, 29),
        ).alias("s"),
    )
    corpus = originals.unionByName(copies)
    return dedup.edit_distance_near_dup_pairs(corpus, "s", "id", max_dist=2, q=8)


def _incremental_minhash_sql(
    num_hashes: int = 16, bands: int = 4, min_agree: int = 12
) -> str:
    # Same KM hash family and band keys as _minhash_sql, but the corpus is
    # split into a signature STORE (originals, id < 100000) and an incoming
    # BATCH (the perturbed copies); verification is signature agreement —
    # the estimator decision incremental_lsh_ingest makes, since the store
    # keeps no shingles.
    r = num_hashes // bands
    mh_aggs = ",\n      ".join(
        f"min((w1 + {i} * w2) % 4294967291) AS mh_{i}" for i in range(num_hashes)
    )
    band_array = ", ".join(
        "'" + str(b) + ":' || "
        + " || '|' || ".join(f"CAST(mh_{b * r + j} AS VARCHAR)" for j in range(r))
        for b in range(bands)
    )
    agree = " + ".join(
        f"CASE WHEN x.mh_{i} = y.mh_{i} THEN 1 ELSE 0 END" for i in range(num_hashes)
    )
    return f"""
    shw AS (
      SELECT id,
             ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS w1,
             ('0x' || substr(md5(shingle), 9, 8))::BIGINT AS w2
      FROM sh
    ),
    sig AS (SELECT id, {mh_aggs} FROM shw GROUP BY id),
    store AS (SELECT * FROM sig WHERE id < 100000),
    batch AS (SELECT * FROM sig WHERE id >= 100000),
    sstack AS (SELECT id, unnest([{band_array}]) AS bkey FROM store),
    bstack AS (SELECT id, unnest([{band_array}]) AS bkey FROM batch),
    cand_store AS (
      SELECT DISTINCT b.id AS id_a, s.id AS id_b
      FROM bstack b JOIN sstack s ON b.bkey = s.bkey
    ),
    cand_batch AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bstack a JOIN bstack b ON a.bkey = b.bkey AND a.id < b.id
    ),
    sd AS (
      SELECT c.id_a AS id, count(*) AS n_store_dups, min(c.id_b) AS first_store_dup
      FROM cand_store c JOIN batch x ON x.id = c.id_a JOIN store y ON y.id = c.id_b
      WHERE {agree} >= {min_agree}
      GROUP BY c.id_a
    ),
    bd AS (
      SELECT c.id_b AS id, count(*) AS n_batch_dups
      FROM cand_batch c JOIN batch x ON x.id = c.id_a JOIN batch y ON y.id = c.id_b
      WHERE {agree} >= {min_agree}
      GROUP BY c.id_b
    )
    SELECT b.id,
           coalesce(sd.n_store_dups, 0) AS n_store_dups,
           sd.first_store_dup,
           coalesce(bd.n_batch_dups, 0) AS n_batch_dups,
           (coalesce(sd.n_store_dups, 0) + coalesce(bd.n_batch_dups, 0) = 0) AS is_new
    FROM batch b LEFT JOIN sd ON sd.id = b.id LEFT JOIN bd ON bd.id = b.id
    """


@register(
    "incremental_minhash_ingest",
    f"""
    WITH {_CORPUS_SQL}, {_SHINGLE_SQL},
    {_incremental_minhash_sql(16, 4, 12)}
    """,
    tags=["dedup", "incremental", "scale"],
)
def incremental_minhash_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run incremental near-dup dedup: the original documents are
    the persisted signature STORE (written to and re-read from parquet —
    the on-disk state a daily ingest would keep); the perturbed copies
    arrive as the new BATCH and are deduped against the store by band
    join + signature agreement, never touching corpus text. Every copy
    should resolve to its original (first_store_dup = id - 100000) — the
    oracle recomputes the identical hash family in SQL and agrees
    exactly. See operators/dedup.incremental_lsh_ingest for the 100 TB
    rationale (store is k longs/doc; batch joins a persisted band index).
    """
    import tempfile

    corpus = _corpus_df(spark, sf_dir)
    store_sig = dedup.minhash_signatures(
        corpus.filter(F.col("id") < 100000), "text", "id", num_hashes=16, n=3
    )
    path = f"{tempfile.gettempdir()}/spark_graft_sig_store_{stable_work_key(sf_dir)}"
    store_sig.write.mode("overwrite").parquet(path)
    batch_sig = dedup.minhash_signatures(
        corpus.filter(F.col("id") >= 100000), "text", "id", num_hashes=16, n=3
    ).localCheckpoint()
    return dedup.incremental_lsh_ingest(
        spark.read.parquet(path), batch_sig, num_hashes=16, bands=4, min_agree=12
    )


def _streaming_incremental_sql(
    num_hashes: int = 16, bands: int = 4, min_agree: int = 12
) -> str:
    # Two-round simulation of the foreachBatch ingest: round 1 dedups the
    # originals against an EMPTY store (batch-internal only; survivors
    # become the store), round 2 dedups the copies against that survivor
    # store plus themselves. Final store = round-1 survivors ∪ round-2
    # survivors — exactly what stream_dedup_ingest leaves on disk.
    r = num_hashes // bands
    mh_aggs = ",\n      ".join(
        f"min((w1 + {i} * w2) % 4294967291) AS mh_{i}" for i in range(num_hashes)
    )
    band_array = ", ".join(
        "'" + str(b) + ":' || "
        + " || '|' || ".join(f"CAST(mh_{b * r + j} AS VARCHAR)" for j in range(r))
        for b in range(bands)
    )
    agree = " + ".join(
        f"CASE WHEN x.mh_{i} = y.mh_{i} THEN 1 ELSE 0 END" for i in range(num_hashes)
    )
    return f"""
    shw AS (
      SELECT id,
             ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS w1,
             ('0x' || substr(md5(shingle), 9, 8))::BIGINT AS w2
      FROM sh
    ),
    sig AS (SELECT id, {mh_aggs} FROM shw GROUP BY id),
    orig AS (SELECT * FROM sig WHERE id < 100000),
    batch2 AS (SELECT * FROM sig WHERE id >= 100000),
    ostack AS (SELECT id, unnest([{band_array}]) AS bkey FROM orig),
    o_pairs AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM ostack a JOIN ostack b ON a.bkey = b.bkey AND a.id < b.id
    ),
    o_dups AS (
      SELECT DISTINCT c.id_b AS id
      FROM o_pairs c JOIN orig x ON x.id = c.id_a JOIN orig y ON y.id = c.id_b
      WHERE {agree} >= {min_agree}
    ),
    s1 AS (SELECT * FROM orig WHERE id NOT IN (SELECT id FROM o_dups)),
    s1stack AS (SELECT id, unnest([{band_array}]) AS bkey FROM s1),
    bstack AS (SELECT id, unnest([{band_array}]) AS bkey FROM batch2),
    c_store AS (
      SELECT DISTINCT b.id AS id_a, s.id AS id_b
      FROM bstack b JOIN s1stack s ON b.bkey = s.bkey
    ),
    c_batch AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bstack a JOIN bstack b ON a.bkey = b.bkey AND a.id < b.id
    ),
    b_dups AS (
      SELECT DISTINCT c.id_a AS id
      FROM c_store c JOIN batch2 x ON x.id = c.id_a JOIN s1 y ON y.id = c.id_b
      WHERE {agree} >= {min_agree}
      UNION
      SELECT DISTINCT c.id_b AS id
      FROM c_batch c JOIN batch2 x ON x.id = c.id_a JOIN batch2 y ON y.id = c.id_b
      WHERE {agree} >= {min_agree}
    ),
    s2 AS (SELECT * FROM batch2 WHERE id NOT IN (SELECT id FROM b_dups))
    SELECT id FROM s1 UNION ALL SELECT id FROM s2
    """


@register(
    "streaming_incremental_dedup",
    f"""
    WITH {_CORPUS_SQL}, {_SHINGLE_SQL},
    {_streaming_incremental_sql(16, 4, 12)}
    """,
    tags=["streaming", "dedup", "incremental", "scale"],
)
def streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The foreachBatch incremental-dedup chain END-TO-END through the
    real streaming engine (streaming/incremental_dedup.stream_dedup_ingest):
    the originals arrive as micro-batch 1 (empty store → batch-internal
    dedup, survivors persisted), the perturbed copies as micro-batch 2
    (deduped against the persisted survivor store + themselves), and the
    query returns the final on-disk signature store's ids. The oracle
    simulates the two rounds in SQL over the identical hash family —
    matching it proves the streaming composition (file ordering via
    mtime, store append, is_new routing) preserves the batch operator's
    exact semantics. Restart/replay exactly-once is pinned separately in
    tests/test_streaming_incremental_dedup.py."""
    import os
    import shutil
    import tempfile
    import time as _time

    from pyspark.sql import types as T

    from reddit_tech_jobs_data_pipeline_spark.streaming.incremental_dedup import (
        stream_dedup_ingest,
    )

    base = tempfile.mkdtemp(prefix="spark_graft_stream_dedup_")
    src, store, ckpt = f"{base}/src", f"{base}/store", f"{base}/ckpt"
    docs = _t(spark, sf_dir, "documents")
    originals = docs.select(F.col("doc_id").alias("id"), "text")
    copies = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("id"),
        F.concat(F.col("text"), F.lit(" zz yy")).alias("text"),
    )
    originals.coalesce(1).write.mode("append").parquet(src)
    first_files = [f for f in os.listdir(src) if f.endswith(".parquet")]
    copies.coalesce(1).write.mode("append").parquet(src)
    # force deterministic micro-batch order: FileStreamSource consumes by
    # modification time, so pin originals strictly earlier
    now = _time.time()
    for f in os.listdir(src):
        if f.endswith(".parquet"):
            older = f in first_files
            os.utime(os.path.join(src, f), (now - 100 if older else now,) * 2)
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("text", T.StringType())]
    )
    stream_dedup_ingest(
        spark, src, schema, store, ckpt, max_files_per_trigger=1
    )
    out = spark.read.parquet(store).select("id").orderBy("id")
    ids = out.collect()  # bounded: survivor ids only; frees the tmp dir
    shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(ids, "id long")


def _incremental_e2e_sql(num_hashes: int = 16, bands: int = 4, min_agree: int = 12) -> str:
    # the daily-ingest chain: batch quality filter → PII scrub → MinHash
    # vs the store's signatures → survivors packed into token shards.
    # Assembled from the same deterministic fragments as the standalone
    # oracles (quality CASE, PII replace chain, KM hash family).
    r = num_hashes // bands
    mh_aggs = ",\n      ".join(
        f"min((w1 + {i} * w2) % 4294967291) AS mh_{i}" for i in range(num_hashes)
    )
    band_array = ", ".join(
        "'" + str(bd) + ":' || "
        + " || '|' || ".join(f"CAST(mh_{bd * r + j} AS VARCHAR)" for j in range(r))
        for bd in range(bands)
    )
    agree = " + ".join(
        f"CASE WHEN x.mh_{i} = y.mh_{i} THEN 1 ELSE 0 END" for i in range(num_hashes)
    )
    reps = "coalesce(text, '')"
    for name, pat in textfn.PII_PATTERNS:
        reps = "regexp_replace(" + reps + ", '" + pat + "', '<" + name.upper() + ">', 'g')"

    def sig_block(alias: str) -> str:
        return f"""
    {alias}_toks AS (SELECT id, {_TOKS} AS ws FROM {alias}_src),
    {alias}_sh AS (
      SELECT id, unnest(list_distinct(list_transform(
        generate_series(1, greatest(length(ws) - 2, 0)),
        i -> array_to_string(ws[i:i+2], ' ')))) AS shingle
      FROM {alias}_toks WHERE length(ws) >= 3
    ),
    {alias}_shw AS (
      SELECT id,
             ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS w1,
             ('0x' || substr(md5(shingle), 9, 8))::BIGINT AS w2
      FROM {alias}_sh
    ),
    {alias}_sig AS (SELECT id, {mh_aggs} FROM {alias}_shw GROUP BY id),
    {alias}_stack AS (SELECT id, unnest([{band_array}]) AS bkey FROM {alias}_sig)"""

    return f"""
    s_src AS (SELECT id, text FROM corpus WHERE id < 100000 AND id % 3 <> 0),
    b_raw AS (
      SELECT id, CASE WHEN id % 7 = 0 THEN text ||
        ' reach bob.smith+hr@example.co.uk or 555-123-4567 from 192.168.10.1'
      ELSE text END AS text
      FROM corpus WHERE id >= 100000 OR id % 3 = 0
    ),
    b_q AS (
      SELECT id, text FROM (SELECT id, text, {_TOKS} AS ws FROM b_raw)
      WHERE (CASE WHEN length(ws) BETWEEN 5 AND 100000 THEN 0.4 ELSE 0.0 END)
          + (CASE WHEN length(ws) > 0 AND
               length(list_filter(ws, t -> list_contains({_STOP_SQL}, t))) * 1.0 / length(ws) > 0.05
             THEN 0.2 ELSE 0.0 END)
          + (CASE WHEN coalesce(length(text),0) = 0 OR
               length(regexp_replace(text, '[\\w\\s]', '', 'g')) * 1.0 / length(text) < 0.2
             THEN 0.2 ELSE 0.0 END)
          + (CASE WHEN length(ws) > 0 AND
               list_aggregate(list_transform(ws, t -> length(t)), 'sum') * 1.0 / length(ws)
                 BETWEEN 2.0 AND 12.0
             THEN 0.2 ELSE 0.0 END) >= 0.6
    ),
    b_src AS (SELECT id, {reps} AS text FROM b_q),
    {sig_block("s")},
    {sig_block("b")},
    sd AS (
      SELECT DISTINCT c.id_a AS id FROM (
        SELECT DISTINCT b.id AS id_a, s.id AS id_b
        FROM b_stack b JOIN s_stack s ON b.bkey = s.bkey
      ) c JOIN b_sig x ON x.id = c.id_a JOIN s_sig y ON y.id = c.id_b
      WHERE {agree} >= {min_agree}
    ),
    bd AS (
      SELECT DISTINCT c.id_b AS id FROM (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM b_stack a JOIN b_stack b ON a.bkey = b.bkey AND a.id < b.id
      ) c JOIN b_sig x ON x.id = c.id_a JOIN b_sig y ON y.id = c.id_b
      WHERE {agree} >= {min_agree}
    ),
    survivors AS (
      SELECT id FROM b_sig
      WHERE id NOT IN (SELECT id FROM sd) AND id NOT IN (SELECT id FROM bd)
    ),
    surv_tok AS (
      SELECT t.id, length(t.ws) AS n_tok
      FROM b_toks t JOIN survivors USING (id)
    ),
    packed AS (
      SELECT id, n_tok,
             CAST(floor((sum(n_tok) OVER (ORDER BY id
                           ROWS UNBOUNDED PRECEDING) - n_tok) / 4096.0)
                  AS BIGINT) AS shard_id
      FROM surv_tok
    )
    SELECT shard_id, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS shard_tokens
    FROM packed GROUP BY shard_id
    """


@register(
    "incremental_corpus_daily_e2e",
    f"""
    WITH {_CORPUS_SQL},
    {_incremental_e2e_sql(16, 4, 12)}
    """,
    tags=["pipeline", "incremental", "scale"],
)
def incremental_corpus_daily_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DAILY-INGEST counterpart of corpus_prep_e2e: today's crawl
    (every 3rd original + all perturbed copies, some rows carrying
    synthesized PII) runs quality filter → PII scrub → incremental
    MinHash dedup against YESTERDAY'S signature store (the other
    originals — corpus text never re-read) → survivors packed into 4096-
    token shards by the two-phase distributed prefix sum. Composes four
    independently-oracled operators against ONE oracle, so interface
    drift between them cannot hide. At 100 TB the batch is ~1% of the
    corpus: every stage here is proportional to the batch (plus one
    band-index join), which is the entire point of the incremental
    path."""
    corpus = _corpus_df(spark, sf_dir)
    store = corpus.filter((F.col("id") < 100000) & (F.col("id") % 3 != 0))
    batch_raw = corpus.filter((F.col("id") >= 100000) | (F.col("id") % 3 == 0)).select(
        "id",
        F.when(
            F.col("id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(
                    " reach bob.smith+hr@example.co.uk or 555-123-4567 from 192.168.10.1"
                ),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    bq = batch_raw.filter(textfn.quality_score(F.col("text")) >= 0.6)
    bclean = bq.select("id", textfn.pii_redact(F.col("text")).alias("text"))
    store_sig = dedup.minhash_signatures(store, "text", "id", num_hashes=16, n=3)
    batch_sig = dedup.minhash_signatures(
        bclean, "text", "id", num_hashes=16, n=3
    ).localCheckpoint()
    flags = dedup.incremental_lsh_ingest(
        store_sig, batch_sig, num_hashes=16, bands=4, min_agree=12
    )
    survivors = bclean.join(flags.filter("is_new").select("id"), "id").select(
        "id", textfn.token_count(F.col("text")).alias("n_tok")
    )
    packed = packing.pack_token_budget(survivors, "id", "n_tok", 4096, scale=True)
    return packing.shard_summary(packed, "n_tok")


def _simhash_sql(width: int = 16, band_bits: int = 4, max_hamming: int = 2) -> str:
    """Bit_j of feature t = bit j of the ints parsed from md5(t)'s first
    16 hex chars (j<32 → chars 1-8, j>=32 → chars 9-16, LSB-first);
    per-bit strict majority — the exact arithmetic of
    operators/dedup._simhash_bits_from_feats."""
    bit_exprs = ",\n      ".join(
        f"""CASE WHEN 2 * list_aggregate(list_transform(ab,
              p -> (p[{1 if j < 32 else 2}] >> {j % 32}) & 1), 'sum')
              > len(ab) THEN 1 ELSE 0 END AS bit_{j}"""
        for j in range(width)
    )
    nbands = width // band_bits
    band_array = ", ".join(
        "'" + str(b) + ":' || "
        + " || ".join(f"CAST(bit_{b * band_bits + j} AS VARCHAR)" for j in range(band_bits))
        for b in range(nbands)
    )
    hamming = " + ".join(
        f"CASE WHEN a.bit_{j} <> b.bit_{j} THEN 1 ELSE 0 END" for j in range(width)
    )
    return f"""
    hashes AS (
      SELECT id, list_transform(list_distinct(ws), t -> md5(t)) AS hs
      FROM toks WHERE length(ws) > 0
    ),
    hints AS (
      SELECT id, list_transform(hs, h -> [
        ('0x' || substr(h, 1, 8))::BIGINT,
        ('0x' || substr(h, 9, 8))::BIGINT]) AS ab
      FROM hashes
    ),
    bits AS (SELECT id, {bit_exprs} FROM hints),
    sbanded AS (SELECT *, unnest([{band_array}]) AS bkey FROM bits),
    spairs AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b, {hamming} AS hamming
      FROM sbanded a JOIN sbanded b ON a.bkey = b.bkey AND a.id < b.id
    )
    """


@register(
    "simhash_near_dup",
    f"""
    WITH {_CORPUS_SQL},
    t0 AS (SELECT id, {_TOKS} AS ws1 FROM corpus),
    toks AS (
      SELECT id,
             list_transform(range(1, len(ws1)),
                            i -> ws1[i] || ' ' || ws1[i + 1]) AS ws
      FROM t0
    ),
    {_simhash_sql(64, 16)}
    SELECT id_a, id_b, hamming FROM spairs WHERE hamming <= 2
    """,
    tags=["dedup", "scale"],
)
def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash over BIGRAM shingle features, width=64, 16-bit bands
    (4 bands — the hamming<=2 pigeonhole guarantee needs >=3). The r9
    full-catalog bench caught the original width=16 / 4-bit-band /
    unigram form at 93 s for sf0.1, with two separate diseases measured
    separately:

    * unigram token-SET features are degenerate on the tiny-vocab corpus
      (whole cliques share one fingerprint; the OUTPUT was 2.46M pairs)
      → bigram shingles (Manku et al. 2007's production choice) make
      word order matter and dissolve the cliques;
    * the band join is quadratic in rows-per-bucket: 4-bit bands have 16
      values (64 keys), and even 8-bit bands (1024 keys) measured 99 s
      of join at sf1.0 (880k banded rows → ~860/bucket) → 16-bit bands
      give 65536 values/band and the join vanishes (~5 s at sf1.0).

    Width 64 is affordable because the fingerprint now parses each md5
    into two ints and votes with integer shift/AND in one aggregate fold
    (the old per-(bit,feature) hex-substring scheme measured 131 s for
    width 32 at sf1.0; this one ~98 s for width 64). Fingerprinting is
    the remaining cost and scales exactly linearly — the honest floor
    for a per-doc signature."""
    corpus = _corpus_df(spark, sf_dir)
    return dedup.simhash_near_dup_pairs(
        corpus, "text", "id", width=64, band_bits=16, max_hamming=2, n=2
    )


@register(
    "near_dup_clusters",
    f"""
    WITH RECURSIVE {_CORPUS_SQL}, {_SHINGLE_SQL},
    {_minhash_sql(16, 4)},
    {_JACCARD_VERIFY_SQL.format(candidate_filter="JOIN cand ON cand.id_a = a.id AND cand.id_b = b.id")},
    pairs AS (SELECT id_a, id_b FROM scored WHERE jaccard_raw >= 0.7),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(id, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id
    )
    SELECT id, min(label) AS cluster_id FROM reach GROUP BY id
    """,
    tags=["dedup", "iterative", "scale"],
)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH pairs → connected components → canonical cluster ids.
    Spark side iterates star contraction (dedup.cluster_near_dups) to
    fixpoint; the oracle reaches the same fixpoint via a recursive CTE
    (min reachable id)."""
    corpus = _corpus_df(spark, sf_dir)
    pairs = dedup.minhash_lsh_dedup_pairs(
        corpus, "text", "id", num_hashes=16, bands=4, n=3, threshold=0.7
    )
    return dedup.cluster_near_dups(pairs)


@register(
    "near_dup_clusters_star",
    f"""
    WITH RECURSIVE {_CORPUS_SQL}, {_SHINGLE_SQL},
    {_minhash_sql(16, 4)},
    {_JACCARD_VERIFY_SQL.format(candidate_filter="JOIN cand ON cand.id_a = a.id AND cand.id_b = b.id")},
    pairs AS (SELECT id_a, id_b FROM scored WHERE jaccard_raw >= 0.7),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(id, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id
    )
    SELECT id, min(label) AS cluster_id FROM reach GROUP BY id
    """,
    tags=["dedup", "iterative", "scale"],
)
def near_dup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near_dup_clusters query under the name the benchmark query
    mix runs: the same large-star/small-star contraction (O(log n)
    rounds regardless of diameter — see operators/dedup.cluster_near_dups)
    gated by the same recursive-CTE oracle."""
    corpus = _corpus_df(spark, sf_dir)
    pairs = dedup.minhash_lsh_dedup_pairs(
        corpus, "text", "id", num_hashes=16, bands=4, n=3, threshold=0.7
    )
    return dedup.cluster_near_dups(pairs)


@register(
    "incremental_cluster_update",
    f"""
    WITH RECURSIVE {_CORPUS_SQL}, {_SHINGLE_SQL},
    {_minhash_sql(16, 4)},
    {_JACCARD_VERIFY_SQL.format(candidate_filter="JOIN cand ON cand.id_a = a.id AND cand.id_b = b.id")},
    pairs AS (SELECT id_a, id_b FROM scored WHERE jaccard_raw >= 0.7),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(id, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id
    )
    SELECT id, min(label) AS cluster_id FROM reach GROUP BY id
    """,
    tags=["dedup", "incremental", "iterative", "scale"],
)
def incremental_cluster_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cluster maintenance: the near-dup pairs are split
    into YESTERDAY's ((id_a + id_b) % 3 != 0 — clustered first, only the
    labels kept) and TODAY's batch (the rest); the update folds labels +
    new pairs WITHOUT the historical pair set
    (operators/dedup.incremental_cluster_update) and must equal the
    from-scratch clustering of ALL pairs — which is exactly what the
    shared recursive-CTE oracle computes. Carried state is one row per
    doc; the pair history is never re-read."""
    corpus = _corpus_df(spark, sf_dir)
    pairs = dedup.minhash_lsh_dedup_pairs(
        corpus, "text", "id", num_hashes=16, bands=4, n=3, threshold=0.7
    ).localCheckpoint()
    old = pairs.filter((F.col("id_a") + F.col("id_b")) % 3 != 0)
    new = pairs.filter((F.col("id_a") + F.col("id_b")) % 3 == 0)
    labels_old = dedup.cluster_near_dups(old)
    return dedup.incremental_cluster_update(labels_old, new)


@register(
    "corpus_prep_e2e",
    f"""
    WITH toks AS (SELECT doc_id, text, {_TOKS} AS ws FROM documents),
    q AS (
      SELECT doc_id, text, ws FROM toks
      WHERE (CASE WHEN length(ws) BETWEEN 5 AND 100000 THEN 0.4 ELSE 0.0 END)
          + (CASE WHEN length(ws) > 0 AND
               length(list_filter(ws, t -> list_contains({_STOP_SQL}, t))) * 1.0 / length(ws) > 0.05
             THEN 0.2 ELSE 0.0 END)
          + (CASE WHEN coalesce(length(text),0) = 0 OR
               length(regexp_replace(text, '[\\w\\s]', '', 'g')) * 1.0 / length(text) < 0.2
             THEN 0.2 ELSE 0.0 END)
          + (CASE WHEN length(ws) > 0 AND
               list_aggregate(list_transform(ws, t -> length(t)), 'sum') * 1.0 / length(ws)
                 BETWEEN 2.0 AND 12.0
             THEN 0.2 ELSE 0.0 END) >= 0.6
    ),
    dd AS (
      SELECT doc_id, ws FROM (
        SELECT doc_id, ws,
               row_number() OVER (PARTITION BY md5(coalesce(text, ''))
                                  ORDER BY doc_id) AS rn
        FROM q
      ) WHERE rn = 1
    ),
    sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
        generate_series(1, greatest(length(ws) - 4, 0)),
        i -> array_to_string(ws[i:i+4], ' ')))) AS shingle
      FROM dd WHERE length(ws) >= 5
    ),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 37 = 0),
    contaminated AS (
      SELECT DISTINCT s.doc_id FROM sh s JOIN bench b USING (shingle)
      WHERE s.doc_id % 37 <> 0
    ),
    clean AS (
      SELECT doc_id, length(ws) AS n_tok FROM dd
      WHERE doc_id % 37 <> 0
        AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    packed AS (
      SELECT doc_id, n_tok,
             CAST(floor((sum(n_tok) OVER (ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) - n_tok) / 4096.0)
                  AS BIGINT) AS shard_id
      FROM clean
    )
    SELECT shard_id, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS shard_tokens
    FROM packed GROUP BY shard_id
    """,
    tags=["pipeline", "text", "scale"],
)
def corpus_prep_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE corpus-preparation chain as one materialization —
    quality filter → exact dedup (lowest doc_id survives per md5) →
    eval-set decontamination (drop docs sharing a 5-gram with the
    held-out doc_id % 37 slice) → token-budget shard packing — i.e. the
    README's pipeline composition proven end-to-end against one oracle.
    Each stage reuses the engine operator the standalone query checks;
    composing them catches interface drift (column renames, filter
    ordering) that per-stage oracles cannot. The packing stage runs the
    SCALE mode (two-phase distributed prefix sum,
    operators/packing.py) — shard assignment is long-exact-identical to
    the oracle's global-order window, so the oracle is unchanged."""
    docs = _t(spark, sf_dir, "documents")
    q = docs.filter(textfn.quality_score(F.col("text")) >= 0.6)
    dd = dedup.exact_dedup(q, "text", "doc_id")
    sh = dedup._shingle_table(dd, "text", "doc_id", 5)
    bench = sh.filter(F.col("id") % 37 == 0).select("shingle").distinct()
    contaminated = (
        sh.filter(F.col("id") % 37 != 0)
        .join(F.broadcast(bench), "shingle")
        .select("id")
        .distinct()
    )
    clean = (
        dd.filter(F.col("doc_id") % 37 != 0)
        .join(contaminated, dd.doc_id == contaminated.id, "left_anti")
        .select("doc_id", textfn.token_count(F.col("text")).alias("n_tok"))
    )
    packed = packing.pack_token_budget(
        clean, "doc_id", "n_tok", 4096, scale=True
    )
    return packing.shard_summary(packed, "n_tok")


@register(
    "source_mixture_weights",
    f"""
    WITH toks AS (SELECT source, length({_TOKS}) AS n_tok FROM documents),
    per_source AS (
      SELECT source, count(*) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS total_tokens
      FROM toks GROUP BY source
    ),
    tot AS (SELECT sum(total_tokens) AS all_tokens,
                   count(*) AS n_sources FROM per_source)
    SELECT source, n_docs, total_tokens,
           round(total_tokens * 1.0 / all_tokens, 6) AS token_share,
           round((1.0 / n_sources) / (total_tokens * 1.0 / all_tokens), 6)
             AS sampling_weight
    FROM per_source CROSS JOIN tot
    """,
    tags=["mixture", "text", "scale"],
)
def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture rebalancing — compute per-source token shares and
    the sampling weight that flattens the mixture to a uniform target
    (weight = target_share / actual_share; >1 upsample, <1 downsample).
    One narrow scan + one tiny aggregation; the totals are K-row windows
    over the per-source table (dozens of rows at any corpus size) —
    not an agg-and-join-back, which would re-scan the corpus for the
    second branch (plan-audited to 1 scan), and never a collect."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("source", textfn.token_count(F.col("text")).alias("n_tok"))
    per_source = toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
    )
    w = Window.partitionBy()
    share = (
        F.col("total_tokens") * F.lit(1.0) / F.sum("total_tokens").over(w)
    )
    return per_source.select(
        "source",
        "n_docs",
        "total_tokens",
        F.round(share, 6).alias("token_share"),
        F.round((F.lit(1.0) / F.count(F.lit(1)).over(w)) / share, 6).alias(
            "sampling_weight"
        ),
    )


@register(
    "annealed_mixture_schedule",
    f"""
    WITH toks AS (SELECT source, length({_TOKS}) AS n_tok FROM documents),
    per_source AS (
      SELECT source, CAST(sum(n_tok) AS BIGINT) AS total_tokens
      FROM toks GROUP BY source
    ),
    tot AS (SELECT sum(total_tokens * 1.0) AS mass_tot FROM per_source),
    alphas AS (SELECT * FROM (VALUES (1, 0.2), (2, 0.5), (3, 0.8), (4, 1.0))
               AS t(epoch, alpha)),
    ex AS (
      SELECT p.source, p.total_tokens, a.epoch, a.alpha,
             pow(p.total_tokens, a.alpha) AS m_a
      FROM per_source p CROSS JOIN alphas a
    ),
    z AS (SELECT epoch, sum(m_a) AS z FROM ex GROUP BY epoch)
    SELECT CAST(ex.epoch AS BIGINT) AS epoch, ex.alpha, ex.source,
           round(m_a / z.z, 6) AS p_epoch,
           round((m_a / z.z) / (total_tokens / mass_tot), 6)
             AS upsample_factor
    FROM ex JOIN z USING (epoch) CROSS JOIN tot
    """,
    tags=["mixture", "text", "scale"],
)
def annealed_mixture_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annealed mixture schedule: a per-epoch temperature ramp
    α = 0.2 → 0.5 → 0.8 → 1.0, so early epochs train on a FLATTENED
    mixture (low-resource sources upsampled for coverage) and the final
    epoch approaches the natural distribution — the standard
    two-stage / midtraining anneal, emitted as one (epoch, source)
    factor table a trainer feeds straight into realize_repeats per
    epoch.

    100 TB shape: ONE corpus scan (per-source totals groupBy with
    map-side combine; plan-audited — the normalizers are per-epoch
    windows over the K×4 exploded totals, NOT agg-and-join-back
    branches, which would each re-scan the corpus), then everything
    runs on K-row data. Compare operators/mixture.temperature_weights
    (single α): this is its schedule form, deliberately NOT four
    temperature_weights calls — that would scan the corpus four
    times."""
    docs = _t(spark, sf_dir, "documents")
    per_source = (
        docs.select("source", textfn.token_count(F.col("text")).alias("n_tok"))
        .groupBy("source")
        .agg(F.sum("n_tok").cast("long").alias("total_tokens"))
    )
    schedule = F.array(
        *[
            F.struct(
                F.lit(e).cast("long").alias("epoch"), F.lit(a).alias("alpha")
            )
            for e, a in [(1, 0.2), (2, 0.5), (3, 0.8), (4, 1.0)]
        ]
    )
    ex = per_source.select(
        "source", "total_tokens", F.explode(schedule).alias("ea")
    ).select(
        "source",
        "total_tokens",
        F.col("ea.epoch").alias("epoch"),
        F.col("ea.alpha").alias("alpha"),
        F.pow(F.col("total_tokens").cast("double"), F.col("ea.alpha")).alias(
            "m_a"
        ),
    )
    w_e = Window.partitionBy("epoch")
    p = F.col("m_a") / F.sum("m_a").over(w_e)
    natural = F.col("total_tokens") / F.sum(
        F.col("total_tokens").cast("double")
    ).over(w_e)
    return ex.select(
        "epoch",
        "alpha",
        "source",
        F.round(p, 6).alias("p_epoch"),
        F.round(p / natural, 6).alias("upsample_factor"),
    )


# Shared CTE chain: uniform-target factors realized into per-doc copy
# counts. Used by mixture_realized_upsample AND mixture_epoch_export_e2e.
_REALIZE_CTES = f"""
    toks AS (SELECT doc_id, source, length({_TOKS}) AS n_tok FROM documents),
    per_source AS (
      SELECT source, CAST(sum(n_tok) AS BIGINT) AS total_tokens
      FROM toks GROUP BY source
    ),
    tot AS (SELECT CAST(sum(total_tokens) AS BIGINT) AS all_tokens,
                   count(*) AS n_sources FROM per_source),
    fac AS (
      SELECT source,
             CAST(all_tokens AS DOUBLE) / (n_sources * total_tokens) AS factor
      FROM per_source CROSS JOIN tot
    ),
    keyed AS (
      SELECT d.doc_id, d.source, fac.factor,
             CAST(floor(fac.factor) AS BIGINT) AS base,
             ('0x' || substr(md5('up:1:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT AS hv
      FROM documents d JOIN fac USING (source)
    ),
    copies AS (
      SELECT doc_id, source,
             base + CASE WHEN CAST(hv AS DOUBLE)
                              < (factor - base) * 4294967296.0
                    THEN 1 ELSE 0 END AS n_copies
      FROM keyed
    )
"""


@register(
    "mixture_realized_upsample",
    f"""
    WITH {_REALIZE_CTES}
    SELECT doc_id, source, CAST(n_copies AS BIGINT) AS n_copies,
           CAST(unnest(generate_series(1, n_copies)) AS BIGINT) AS copy_idx
    FROM copies
    """,
    tags=["mixture", "sampling", "text", "scale"],
)
def mixture_realized_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture REALIZATION: the uniform-target sampling weights
    (source_mixture_weights' weight = target_share / actual_share, a
    ratio of exact long sums — cross-engine-identical doubles) turned
    into an actual repeated-row epoch stream via
    operators/mixture.realize_repeats: floor(weight) guaranteed copies
    per doc + one hash-Bernoulli extra, so each source's realized token
    mass hits its target in expectation. This is the step that makes
    weight tables PHYSICAL — what the trainer actually reads. 100 TB
    shape: the factor table is a K-row broadcast join; realization is a
    stateless map + explode, zero shuffles beyond the per-source totals
    groupBy."""
    return _realized_stream(spark, sf_dir).select(
        "doc_id", "source", "n_copies", "copy_idx"
    )


def _realized_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The realized uniform-target epoch stream (doc_id, source,
    n_copies, copy_idx) — Spark twin of the _REALIZE_CTES chain.

    Two corpus passes BY CONSTRUCTION (plan-audited): pass 1 builds the
    K-row factor table (groupBy totals; the normalizers are K-row
    windows, and the result is localCheckpoint'd so nothing downstream
    re-derives it from the corpus), pass 2 broadcast-joins the factors
    back onto every doc for the stateless realization explode. The
    aggregate-then-apply shape needs both passes inherently — doing it
    in one would shuffle the whole corpus by source instead."""
    docs = _t(spark, sf_dir, "documents")
    per_source = (
        docs.select("source", textfn.token_count(F.col("text")).alias("n_tok"))
        .groupBy("source")
        .agg(F.sum("n_tok").cast("long").alias("total_tokens"))
    )
    w = Window.partitionBy()
    fac = per_source.select(
        "source",
        (
            F.sum("total_tokens").over(w).cast("double")
            / (F.count(F.lit(1)).over(w) * F.col("total_tokens"))
        ).alias("factor"),
    ).localCheckpoint()
    keyed = docs.select("doc_id", "source").join(F.broadcast(fac), "source")
    return mixture.realize_repeats(keyed, "factor", "doc_id", seed="up", epoch=1)


@register(
    "mixture_epoch_export_e2e",
    f"""
    WITH {_REALIZE_CTES},
    stream AS (
      SELECT doc_id, source,
             CAST(unnest(generate_series(1, n_copies)) AS BIGINT) AS copy_idx
      FROM copies
    ),
    skeyed AS (
      SELECT doc_id, copy_idx,
             CAST(doc_id AS VARCHAR) || ':' || CAST(copy_idx AS VARCHAR)
               AS copy_id,
             md5('mx:1:' || CAST(doc_id AS VARCHAR) || ':'
                 || CAST(copy_idx AS VARCHAR)) AS h
      FROM stream
    ),
    sharded AS (
      SELECT *, ('0x' || substr(h, 1, 2))::BIGINT % 8 AS shard FROM skeyed
    )
    SELECT doc_id, copy_idx, CAST(shard AS BIGINT) AS shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY h, copy_id)
                AS BIGINT) AS pos_in_shard
    FROM sharded
    """,
    tags=["mixture", "sampling", "export", "scale"],
)
def mixture_epoch_export_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture → trainer files, end to end: realize the uniform-target
    weights into repeated rows, then epoch-shuffle the REALIZED stream —
    the permutation key is the md5 of the (doc, copy) identity, so the
    2nd copy of an upsampled doc lands in a different shard/position
    than the 1st instead of training twice back-to-back. This is the
    interface-drift gate between realize_repeats and epoch_shuffle (the
    copy_id handoff). 100 TB shape: the realization adds no shuffle; the
    shuffle stage is the standard one-repartition writer path
    (operators/shuffling.write_epoch_shards on copy_id realizes it
    physically)."""
    from reddit_tech_jobs_data_pipeline_spark.operators import shuffling

    stream = _realized_stream(spark, sf_dir).withColumn(
        "copy_id",
        F.concat(
            F.col("doc_id").cast("string"),
            F.lit(":"),
            F.col("copy_idx").cast("string"),
        ),
    )
    sh = shuffling.epoch_shuffle(
        stream, "copy_id", seed="mx", epoch=1, num_shards=8
    )
    return sh.select("doc_id", "copy_idx", "shard", "pos_in_shard")


@register(
    "temperature_mixture_weights",
    f"""
    WITH toks AS (SELECT source, length({_TOKS}) AS n_tok FROM documents),
    per_source AS (
      SELECT source, CAST(sum(n_tok) AS BIGINT) AS total_tokens
      FROM toks GROUP BY source
    ),
    tot AS (SELECT sum(total_tokens * 1.0) AS mass_tot,
                   sum(pow(total_tokens, 0.3)) AS z FROM per_source)
    SELECT source, total_tokens,
           round(total_tokens / mass_tot, 6) AS natural_share,
           round(pow(total_tokens, 0.3) / z, 6) AS p_temperature,
           round((pow(total_tokens, 0.3) / z) / (total_tokens / mass_tot), 6)
             AS upsample_factor
    FROM per_source CROSS JOIN tot
    """,
    tags=["mixture", "text", "scale"],
)
def temperature_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sampling (mT5 §3.1, XLM-R):
    ``p_i ∝ (token mass)^0.3`` — the standard soft rebalance between the
    natural distribution (α=1, heads dominate) and uniform (α=0,
    low-resource sources overfit). Same 100 TB shape as
    source_mixture_weights: one narrow scan + per-source groupBy with
    map-side combine; the α-power solve runs on the K-row totals table
    with the normalizer joined back as a broadcast scalar."""
    docs = _t(spark, sf_dir, "documents")
    per_source = (
        docs.select("source", textfn.token_count(F.col("text")).alias("n_tok"))
        .groupBy("source")
        .agg(F.sum("n_tok").cast("long").alias("total_tokens"))
    )
    w = mixture.temperature_weights(per_source, "total_tokens", alpha=0.3)
    return w.select(
        "source",
        "total_tokens",
        F.round("natural_share", 6).alias("natural_share"),
        F.round("p_temperature", 6).alias("p_temperature"),
        F.round("upsample_factor", 6).alias("upsample_factor"),
    )


_PACKING_SQL = f"""
    WITH toks AS (SELECT doc_id, length({_TOKS}) AS n_tok FROM documents),
    packed AS (
      SELECT doc_id, n_tok,
             CAST(floor((sum(n_tok) OVER (ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) - n_tok) / 4096.0)
                  AS BIGINT) AS shard_id
      FROM toks
    )
    SELECT shard_id, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS shard_tokens
    FROM packed GROUP BY shard_id
    """


@register("token_budget_packing", _PACKING_SQL, tags=["packing", "text", "scale"])
def token_budget_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — assign documents (in deterministic doc_id
    order) to fixed token-budget shards by running token offset, the
    step that turns a cleaned corpus into training-context-sized units.
    This registration is the oracle twin: a global-order window,
    bit-identical to the SQL. ``token_budget_packing_scale`` runs the
    100 TB plan (operators/packing.py) against the SAME oracle."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", textfn.token_count(F.col("text")).alias("n_tok"))
    packed = packing.pack_token_budget(toks, "doc_id", "n_tok", 4096, scale=False)
    return packing.shard_summary(packed, "n_tok")


@register(
    "token_budget_packing_scale",
    _PACKING_SQL,
    tags=["packing", "text", "scale"],
)
def token_budget_packing_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB packing plan: two-phase distributed prefix sum
    (range-partition on doc_id → per-partition long subtotals → driver
    prefix-sum of the num-partitions-row totals → broadcast base
    offsets → per-partition local window). No single-partition
    Exchange anywhere in the plan (asserted by tests/test_packing.py);
    offsets are exact long sums, so shard assignment is IDENTICAL to
    the windowed oracle twin and the same SQL oracle gates it."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", textfn.token_count(F.col("text")).alias("n_tok"))
    packed = packing.pack_token_budget(toks, "doc_id", "n_tok", 4096, scale=True)
    return packing.shard_summary(packed, "n_tok")


@register(
    "benchmark_decontamination",
    f"""
    WITH cdocs AS (
      SELECT doc_id AS id, text FROM documents
      UNION ALL
      SELECT doc_id + 200000 AS id, 'quoted passage follows ' || text AS text
      FROM documents WHERE doc_id % 37 = 0 AND doc_id % 2 = 0
    ),
    ctoks AS (SELECT id, {_TOKS} AS ws FROM cdocs),
    csh AS (
      SELECT id, unnest(list_distinct(list_transform(
        generate_series(1, greatest(length(ws) - 4, 0)),
        i -> array_to_string(ws[i:i+4], ' ')))) AS shingle
      FROM ctoks WHERE length(ws) >= 5
    ),
    bench AS (SELECT DISTINCT shingle FROM csh WHERE id % 37 = 0 AND id < 200000)
    SELECT c.id, count(DISTINCT c.shingle) AS n_shared
    FROM csh c JOIN bench b USING (shingle)
    WHERE NOT (c.id % 37 = 0 AND c.id < 200000)
    GROUP BY c.id
    """,
    tags=["decontamination", "text", "scale"],
)
def benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination — the training-corpus hygiene step every
    LLM pipeline runs before pretraining: flag corpus documents sharing
    any token 5-gram with a held-out benchmark set (the deterministic
    doc_id % 37 slice), reporting how many distinct benchmark n-grams
    each contaminated doc contains. The synthetic docs are word salads
    with no natural overlap, so the corpus is documents ∪ planted
    quoting docs (id+200000, a benchmark text with a prefix) — the
    operator must flag exactly the quotes, identically on both engines.

    100 TB shape: benchmark n-grams are tiny versus the corpus (eval
    sets are MBs, corpora are TBs) → broadcast them; corpus-side
    shingles are computed narrowly per partition and only the MATCHING
    shingles reach the per-doc count's shuffle — the corpus itself
    never reshuffles."""
    sh = dedup._shingle_table(_decontam_corpus(spark, sf_dir), "text", "id", 5)
    is_bench = (F.col("id") % 37 == 0) & (F.col("id") < 200000)
    bench = sh.filter(is_bench).select("shingle").distinct()
    return (
        sh.filter(~is_bench)
        .join(F.broadcast(bench), "shingle")
        .groupBy("id")
        .agg(F.count_distinct("shingle").alias("n_shared"))
    )


def _decontam_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ planted quoting docs (id+200000, benchmark text with
    a prefix) — the shared fixture for the decontamination queries."""
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), "text"
    )
    quotes = (
        _t(spark, sf_dir, "documents")
        .filter((F.col("doc_id") % 37 == 0) & (F.col("doc_id") % 2 == 0))
        .select(
            (F.col("doc_id") + 200000).alias("id"),
            F.concat(F.lit("quoted passage follows "), F.col("text")).alias("text"),
        )
    )
    return docs.unionByName(quotes)


@register(
    "contamination_coverage",
    f"""
    WITH cdocs AS (
      SELECT doc_id AS id, text FROM documents
      UNION ALL
      SELECT doc_id + 200000 AS id, 'quoted passage follows ' || text AS text
      FROM documents WHERE doc_id % 37 = 0 AND doc_id % 2 = 0
    ),
    ctoks AS (SELECT id, {_TOKS} AS ws FROM cdocs),
    pos AS (
      SELECT id, ws, unnest(generate_series(1, greatest(length(ws) - 4, 0))) AS p
      FROM ctoks WHERE length(ws) >= 5
    ),
    psh AS (SELECT id, p, array_to_string(ws[p:p+4], ' ') AS shingle FROM pos),
    bench AS (SELECT DISTINCT shingle FROM psh WHERE id % 37 = 0 AND id < 200000),
    matched AS (
      SELECT c.id, c.p FROM psh c JOIN bench b USING (shingle)
      WHERE NOT (c.id % 37 = 0 AND c.id < 200000)
    ),
    covered AS (SELECT id, unnest(generate_series(p, p + 4)) AS cp FROM matched),
    ntok AS (SELECT id, length(ws) AS n_tok FROM ctoks)
    SELECT c.id, n_tok, count(DISTINCT cp) AS n_covered,
           round(count(DISTINCT cp) * 1.0 / n_tok, 4) AS coverage
    FROM covered c JOIN ntok USING (id)
    GROUP BY c.id, n_tok
    """,
    tags=["decontamination", "text", "scale"],
)
def contamination_coverage_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-coverage decontamination — the thresholding measure real
    pipelines use: a matched benchmark 5-gram at position p covers
    tokens p..p+4; coverage = covered / total tokens, so a doc quoting
    the whole benchmark scores ~1.0 while one sharing a stray phrase
    scores near 5/n_tok. Same broadcast shape as
    benchmark_decontamination (bench n-grams broadcast, corpus never
    reshuffles); positional shingles instead of distinct sets."""
    corpus = _decontam_corpus(spark, sf_dir)
    is_bench = (F.col("id") % 37 == 0) & (F.col("id") < 200000)
    bench = (
        dedup._shingle_table(corpus.filter(is_bench), "text", "id", 5)
        .select("shingle")
        .distinct()
    )
    return dedup.contamination_coverage(
        corpus.filter(~is_bench), bench, "text", "id", n=5
    )


@register(
    "near_dup_deduped_corpus",
    f"""
    WITH RECURSIVE {_CORPUS_SQL}, {_SHINGLE_SQL},
    {_minhash_sql(16, 4)},
    {_JACCARD_VERIFY_SQL.format(candidate_filter="JOIN cand ON cand.id_a = a.id AND cand.id_b = b.id")},
    pairs AS (SELECT id_a, id_b FROM scored WHERE jaccard_raw >= 0.7),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(id, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id
    ),
    clusters AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id)
    SELECT c.id, length(coalesce(c.text, '')) AS text_len
    FROM corpus c
    WHERE c.id NOT IN (SELECT id FROM clusters WHERE id <> cluster_id)
    """,
    tags=["dedup", "iterative", "scale"],
)
def near_dup_deduped_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data dedup pipeline END: corpus in, cleaned
    corpus out. Near-dup clusters (MinHash-LSH → connected components)
    pick one canonical survivor per cluster (the minimum id); every
    other cluster member is dropped via a single left_anti join. This is
    THE materialization a 100 TB pretraining pipeline runs — candidate
    generation, verify, cluster, survive — and the anti join is
    hash-partitioned on id, never row-at-a-time."""
    corpus = _corpus_df(spark, sf_dir)
    pairs = dedup.minhash_lsh_dedup_pairs(
        corpus, "text", "id", num_hashes=16, bands=4, n=3, threshold=0.7
    )
    clusters = dedup.cluster_near_dups(pairs)
    dupes = clusters.filter(F.col("id") != F.col("cluster_id")).select("id")
    return corpus.join(dupes, "id", "left_anti").select(
        "id", F.length(F.coalesce(F.col("text"), F.lit(""))).cast("long").alias("text_len")
    )


@register(
    "soft_dedup_weights",
    f"""
    WITH RECURSIVE {_CORPUS_SQL}, {_SHINGLE_SQL},
    {_minhash_sql(16, 4)},
    {_JACCARD_VERIFY_SQL.format(candidate_filter="JOIN cand ON cand.id_a = a.id AND cand.id_b = b.id")},
    pairs AS (SELECT id_a, id_b FROM scored WHERE jaccard_raw >= 0.7),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(id, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id
    ),
    clusters AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id),
    csizes AS (SELECT cluster_id, count(*) AS n FROM clusters GROUP BY cluster_id)
    SELECT c.id, coalesce(l.cluster_id, c.id) AS cluster_id,
           CAST(coalesce(s.n, 1) AS BIGINT) AS cluster_size,
           round(CAST(1 AS DOUBLE) / coalesce(s.n, 1), 6) AS weight
    FROM corpus c
    LEFT JOIN clusters l ON c.id = l.id
    LEFT JOIN csizes s ON l.cluster_id = s.cluster_id
    """,
    tags=["dedup", "sampling", "iterative", "scale"],
)
def soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup as REWEIGHTING instead of removal (SoftDeDup-style): every
    doc keeps its place in the corpus but carries a training sampling
    weight of 1/|near-dup cluster|, so each duplicated content unit
    contributes one effective copy in expectation. Gentler than the hard
    drop of near_dup_deduped_corpus — borderline near-dups (cluster
    members that differ in a suffix) still contribute signal, just
    discounted.

    100 TB shape: the expensive part IS the existing near-dup machinery
    (candidate generation + verify + O(log n) star contraction); the
    reweighting tail adds one K-row-per-cluster groupBy (map-side
    combine on cluster_id) and two hash joins on id/cluster_id. Weights
    are 1/integer — cross-engine deterministic (integer-exact-operand
    class, see catalog playbook)."""
    corpus = _corpus_df(spark, sf_dir)
    pairs = dedup.minhash_lsh_dedup_pairs(
        corpus, "text", "id", num_hashes=16, bands=4, n=3, threshold=0.7
    )
    clusters = dedup.cluster_near_dups(pairs)
    sizes = clusters.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n"))
    labeled = clusters.join(sizes, "cluster_id")
    size = F.coalesce(F.col("n"), F.lit(1)).cast("long")
    return (
        corpus.select("id")
        .join(labeled, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("cluster_id"), F.col("id")).alias("cluster_id"),
            size.alias("cluster_size"),
            F.round(F.lit(1.0) / size, 6).alias("weight"),
        )
    )


# ===========================================================================
# Similarity search over embeddings
# ===========================================================================

_DVEC = "list_transform(embedding, x -> CAST(x AS DOUBLE))"


def _cosine_sql(a: str, b: str) -> str:
    return (
        f"list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )


_BRUTE_ANN_SQL = f"""
    WITH c AS (SELECT vec_id AS neighbor_id, {_DVEC} AS cvec FROM embeddings),
    q AS (SELECT vec_id AS query_id, {_DVEC} AS qvec FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT query_id, neighbor_id,
             round({_cosine_sql("qvec", "cvec")}, 4) AS cosine
      FROM c CROSS JOIN q WHERE neighbor_id <> query_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """


@register("ann_cosine_topk", _BRUTE_ANN_SQL, tags=["similarity", "scale"])
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


@register("ann_arrow_topk", _BRUTE_ANN_SQL, tags=["similarity", "scale"])
def ann_arrow_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapInArrow fast path for the same exact top-k: per Arrow
    batch, one numpy GEMM scores the whole batch against every query and
    emits only each query's per-batch top-k; the final per-query window
    merges partials (top-k of unioned partial top-ks ≡ global top-k
    under the same total order). Same oracle as ann_cosine_topk — the
    two paths must agree. See operators/similarity.brute_force_topk_arrow
    for when GEMM beats the Catalyst fold."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk_arrow(emb, emb.filter(F.col("vec_id") < 10), k=5)


@register(
    "ann_int8_topk",
    f"""
    WITH e AS (
      SELECT vec_id, unnest({_DVEC}) AS v,
             unnest(generate_series(1, length(embedding))) AS pos
      FROM embeddings
    ),
    st AS (SELECT pos, min(v) AS mn, max(v) AS mx FROM e GROUP BY pos),
    deq AS (
      SELECT vec_id, e.pos,
             CASE WHEN mx = mn THEN mn
                  ELSE mn + (least(255, floor((v - mn) / (mx - mn) * 256)) + 0.5)
                       * (mx - mn) / 256 END AS dv
      FROM e JOIN st USING (pos)
    ),
    q AS (SELECT vec_id AS query_id, pos, v AS qv FROM e WHERE vec_id < 10),
    qn AS (SELECT query_id, sqrt(sum(qv * qv)) AS qnorm FROM q GROUP BY query_id),
    cn AS (SELECT vec_id, sqrt(sum(dv * dv)) AS cnorm FROM deq GROUP BY vec_id),
    dp AS (
      SELECT query_id, d.vec_id AS neighbor_id, sum(qv * dv) AS dp
      FROM q JOIN deq d ON q.pos = d.pos AND d.vec_id <> q.query_id
      GROUP BY query_id, d.vec_id
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             round(dp / (qnorm * cnorm), 4) AS cosine
      FROM dp JOIN qn USING (query_id) JOIN cn ON cn.vec_id = neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
    tags=["similarity", "scale"],
)
def ann_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 scalar-quantized ANN (asymmetric distance: full-precision
    queries vs midpoint-reconstructed 8-bit corpus codes). The oracle
    recomputes the identical quantize→dequantize→score pipeline in SQL —
    model and codes are bit-identical across engines (min/max + integer
    floor, no summation); recall-vs-exact is pinned separately in
    tests/test_quantized_ann.py. See operators/similarity.quantized_topk
    for why the codes table is the 100 TB artifact (4× smaller corpus)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.quantized_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


@register(
    "embedding_label_outliers",
    f"""
    WITH e AS (
      SELECT vec_id, label, unnest({_DVEC}) AS v,
             unnest(generate_series(1, length(embedding))) AS pos
      FROM embeddings
    ),
    cen AS (SELECT label, pos, avg(v) AS m FROM e GROUP BY label, pos),
    dots AS (
      SELECT e.vec_id, e.label,
             sum(e.v * cen.m) AS dp,
             sqrt(sum(e.v * e.v)) AS nv,
             sqrt(sum(cen.m * cen.m)) AS nc
      FROM e JOIN cen ON cen.label = e.label AND cen.pos = e.pos
      GROUP BY e.vec_id, e.label
    ),
    scored AS (
      SELECT vec_id AS id, label, round(dp / (nv * nc), 4) AS cos_centroid
      FROM dots
    ),
    st AS (
      SELECT label, avg(cos_centroid) AS mu, stddev_pop(cos_centroid) AS sigma
      FROM scored GROUP BY label
    )
    SELECT id, scored.label, cos_centroid,
           round((cos_centroid - mu) / sigma, 4) AS z,
           round((cos_centroid - mu) / sigma, 4) <= -2.0 AS is_outlier
    FROM scored JOIN st ON st.label = scored.label
    """,
    tags=["similarity", "quality", "scale"],
)
def embedding_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding QC: per-label centroid distance z-scores flagging
    candidate mislabeled vectors (z ≤ −2 on the 4-dp-rounded cosine).
    Two corpus passes, everything else model-table-sized — see
    operators/similarity.label_centroid_outliers. The oracle recomputes
    the identical centroid/cosine/z pipeline in SQL (per-dim averages
    carry ~1e-12 reassociation noise, absorbed by the 4-dp rounds —
    accepted-noise class)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.label_centroid_outliers(emb, z_thresh=2.0)


_CONTRASTIVE_SCORED_SQL = f"""
    c AS (SELECT vec_id AS neighbor_id, label AS n_label, {_DVEC} AS cvec
          FROM embeddings),
    q AS (SELECT vec_id AS query_id, label AS q_label, {_DVEC} AS qvec
          FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT query_id, q_label, neighbor_id, n_label,
             round({_cosine_sql("qvec", "cvec")}, 4) AS cosine
      FROM c CROSS JOIN q WHERE neighbor_id <> query_id
    )
"""


@register(
    "hard_negative_mining",
    f"""
    WITH {_CONTRASTIVE_SCORED_SQL}
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored WHERE n_label <> q_label
    ) WHERE rank <= 5
    """,
    tags=["similarity", "contrastive", "scale"],
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 highest-cosine WRONG-label neighbors per anchor — the hard
    negatives a contrastive loss actually learns from. Same broadcast +
    per-query-window plan as ann_cosine_topk with the label predicate
    fused into the join condition (wrong-label rows die before the
    shuffle). See operators/contrastive.py for the |C|²-regime note."""
    emb = _t(spark, sf_dir, "embeddings")
    return contrastive.hard_negative_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=5
    )


@register(
    "triplet_mining",
    f"""
    WITH {_CONTRASTIVE_SCORED_SQL},
    pos AS (
      SELECT query_id, neighbor_id AS pos_id, cosine AS pos_cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine ASC, neighbor_id) AS rn
      FROM scored WHERE n_label = q_label
    ),
    neg AS (
      SELECT query_id, neighbor_id AS neg_id, cosine AS neg_cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored WHERE n_label <> q_label
    )
    SELECT query_id, pos_id, pos_cos, neg_id, neg_cos,
           round(pos_cos - neg_cos, 4) AS margin
    FROM pos JOIN neg USING (query_id)
    WHERE pos.rn = 1 AND neg.rn = 1
    """,
    tags=["similarity", "contrastive", "scale"],
)
def triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hardest positive (same label, lowest cosine) + hardest negative
    (different label, highest cosine) + margin per anchor — one training
    triplet each, margin < 0 flagging currently mis-embedded anchors.
    Margins subtract already-4dp-rounded cosines, so the column is
    cross-engine exact."""
    emb = _t(spark, sf_dir, "embeddings")
    return contrastive.triplet_mining(emb, emb.filter(F.col("vec_id") < 10))


@register(
    "embedding_standardize",
    f"""
    WITH e AS (
      SELECT vec_id, unnest({_DVEC}) AS v,
             unnest(generate_series(1, length(embedding))) AS pos
      FROM embeddings
    ),
    st AS (SELECT pos, avg(v) AS m, stddev_pop(v) AS s FROM e GROUP BY pos)
    SELECT e.vec_id,
           round(max(CASE WHEN e.pos = 1 THEN (v - m) / s END), 4) AS z1,
           round(max(CASE WHEN e.pos = 2 THEN (v - m) / s END), 4) AS z2,
           round(max(CASE WHEN e.pos = 3 THEN (v - m) / s END), 4) AS z3
    FROM e JOIN st USING (pos) GROUP BY e.vec_id
    """,
    tags=["similarity", "features", "scale"],
)
def embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-score feature prep (see
    operators/similarity.standardize_embeddings: one D-row aggregation,
    stats as literals, narrow zip_with — corpus never reshuffles). The
    oracle recomputes the same stats; cross-engine float-sum
    reassociation in avg/stddev is ~1e-12 relative, absorbed by the 4-dp
    rounding (accepted-noise class, cf. pagerank_suppliers_scale).
    First three standardized dims are compared — enough to pin both
    phases without a 64-column result."""
    emb = _t(spark, sf_dir, "embeddings")
    z = similarity.standardize_embeddings(emb)
    return z.select(
        "vec_id",
        *[
            F.round(F.element_at("z_embedding", i + 1), 4).alias(f"z{i + 1}")
            for i in range(3)
        ],
    )


def _bucket_sql(nbits: int) -> str:
    return " || ".join(
        f"(CASE WHEN embedding[{i + 1}] >= 0 THEN '1' ELSE '0' END)" for i in range(nbits)
    )


@register(
    "ann_bucketed_topk",
    f"""
    WITH c AS (SELECT vec_id AS neighbor_id, {_DVEC} AS cvec,
                      {_bucket_sql(6)} AS bucket FROM embeddings),
    q AS (SELECT vec_id AS query_id, {_DVEC} AS qvec,
                 {_bucket_sql(6)} AS bucket FROM embeddings WHERE vec_id < 20),
    scored AS (
      SELECT query_id, neighbor_id,
             round({_cosine_sql("qvec", "cvec")}, 4) AS cosine
      FROM c JOIN q USING (bucket) WHERE neighbor_id <> query_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
    tags=["similarity", "scale"],
)
def ann_bucketed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.bucketed_ann_topk(emb, emb.filter(F.col("vec_id") < 20), k=5, nbits=6)


@register(
    "embedding_near_dup",
    f"""
    WITH base AS (SELECT vec_id AS id, {_DVEC} AS v,
                         {_bucket_sql(4)} AS bucket FROM embeddings)
    SELECT a.id AS id_a, b.id AS id_b,
           round({_cosine_sql("a.v", "b.v")}, 4) AS cosine
    FROM base a JOIN b_alias b ON a.bucket = b.bucket AND a.id < b.id
    WHERE round({_cosine_sql("a.v", "b.v")}, 4) >= 0.3
    """.replace("b_alias", "base"),
    tags=["similarity", "dedup", "scale"],
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dup_pairs(emb, threshold=0.3, nbits=4)


# ===========================================================================
# Lloyd k-means (2 unrolled iterations) — iterative ML clustering with an
# EXACT oracle: every float fold is a sequential left fold in a fixed
# order on both engines, so no rounding is needed inside the loop.
# ===========================================================================

def _kmeans_parts(k: int, dim: int, iters: int) -> list[str]:
    rng = f"range(1, {dim + 1})"
    zeros = f"list_transform({rng}, i -> 0.0)"
    dist = (
        f"list_reduce(list_transform({rng},"
        " j -> (v[j]-cvec[j])*(v[j]-cvec[j])), (p, q) -> p + q)"
    )
    parts = [
        "vecs AS (SELECT vec_id,"
        " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)",
        f"""c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cvec
      FROM vecs ORDER BY vec_id LIMIT {k}
    )""",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""a{i} AS (
      SELECT vec_id, v, cid, {dist} AS dist
      FROM vecs CROSS JOIN c{i - 1}
    ),
    s{i} AS (
      SELECT vec_id, v, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM a{i}
      ) WHERE rn = 1
    ),
    u{i} AS (
      SELECT cid, count(*) AS n, CAST(sum(vec_id) AS BIGINT) AS vid_sum,
             list_reduce(
               list_prepend({zeros}, list(v ORDER BY vec_id)),
               (acc, x) -> list_transform({rng}, j -> acc[j] + x[j])) AS vsum
      FROM s{i} GROUP BY cid
    ),
    c{i} AS (
      SELECT cid, n, vid_sum, list_transform(vsum, s -> s / n) AS cvec FROM u{i}
    )"""
        )
    return parts


def _kmeans_sql(k: int, dim: int, iters: int) -> str:
    sep = ",\n    "
    return f"""
    WITH {sep.join(_kmeans_parts(k, dim, iters))}
    SELECT CAST(cid AS INTEGER) AS cid, n AS n_members, vid_sum,
           round(sqrt(list_reduce(list_transform(cvec, x -> x * x),
                                  (p, q) -> p + q)), 4) AS centroid_norm
    FROM c{iters}
    """


@register(
    "kmeans_lloyd_clusters",
    _kmeans_sql(k=8, dim=64, iters=2),
    tags=["ml", "iterative", "scale"],
)
def kmeans_lloyd_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd iterations over the embeddings, deterministic init
    (lowest-vec_id vectors), sequential-fold arithmetic ⇒ the oracle's
    unrolled SQL matches bit-for-bit pre-round. See operators/kmeans.py
    for the at-scale (commutative-reduction) variant of the update."""
    from reddit_tech_jobs_data_pipeline_spark.operators.kmeans import lloyd_kmeans

    emb = _t(spark, sf_dir, "embeddings")
    out = lloyd_kmeans(emb, k=8, dim=64, iterations=2)
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col("cvec"), lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return out.select(
        F.col("cid").cast("int").alias("cid"),
        F.col("n").alias("n_members"),
        "vid_sum",
        F.round(norm, 4).alias("centroid_norm"),
    )


@register(
    "kmeans_lloyd_clusters_scale",
    _kmeans_sql(k=8, dim=64, iters=2),
    tags=["ml", "iterative", "scale", "float-tol"],
)
def kmeans_lloyd_clusters_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB k-means update: ``commutative=True`` sums centroid
    components via posexplode + map-side partial aggregation (no
    per-cluster membership array → no hub-cluster skew). Centroid norms
    differ from the ordered fold only by float reassociation noise, far
    inside the 4-decimal rounding both engines apply — so the bit-exact
    ordered-fold SQL oracle still hash-matches. Gated under numeric
    tolerance locally (``float-tol`` tag in tools/check_oracle.py), with
    4-dp boundary margins asserted by tools/boundary_margin.py — see
    pagerank_suppliers_scale for the full rationale."""
    from reddit_tech_jobs_data_pipeline_spark.operators.kmeans import lloyd_kmeans

    emb = _t(spark, sf_dir, "embeddings")
    out = lloyd_kmeans(emb, k=8, dim=64, iterations=2, commutative=True)
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col("cvec"), lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return out.select(
        F.col("cid").cast("int").alias("cid"),
        F.col("n").alias("n_members"),
        "vid_sum",
        F.round(norm, 4).alias("centroid_norm"),
    )


# ===========================================================================
# Trained IVF ANN: k-means coarse quantizer (exact fragment above)
# feeding the cell-probe search — the production IVF composition.
# ===========================================================================

def _ivf_trained_sql(k: int, dim: int, iters: int, nprobe: int, topk: int) -> str:
    cos6 = (
        "round(list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
    )
    cos4 = cos6.replace(", 6)", ", 4)")
    sep = ",\n    "
    return f"""
    WITH {sep.join(_kmeans_parts(k, dim, iters))},
    cent AS (SELECT cid AS cell_id, cvec FROM c{iters}),
    cq AS (SELECT vec_id AS neighbor_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
    qq AS (SELECT vec_id AS query_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings WHERE vec_id < 20),
    c_cells AS (
      SELECT neighbor_id, v, cell_id FROM (
        SELECT neighbor_id, v, cell_id,
               row_number() OVER (PARTITION BY neighbor_id
                 ORDER BY {cos6.format(a="v", b="cvec")} DESC, cell_id) AS rn
        FROM cq CROSS JOIN cent
      ) WHERE rn = 1
    ),
    q_cells AS (
      SELECT query_id, v, cell_id FROM (
        SELECT query_id, v, cell_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY {cos6.format(a="v", b="cvec")} DESC, cell_id) AS rn
        FROM qq CROSS JOIN cent
      ) WHERE rn <= {nprobe}
    ),
    scored AS (
      SELECT DISTINCT query_id, neighbor_id,
             {cos4.format(a="q_cells.v", b="c_cells.v")} AS cosine
      FROM c_cells JOIN q_cells USING (cell_id)
      WHERE neighbor_id <> query_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {topk}
    """


@register(
    "ivf_trained_ann_topk",
    _ivf_trained_sql(k=8, dim=64, iters=2, nprobe=2, topk=5),
    tags=["similarity", "ml", "scale"],
)
def ivf_trained_ann_topk_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN whose coarse quantizer is the trained k-means (bit-exact
    centroids on both engines), nprobe=2 of 8 cells, top-5."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ivf_trained_ann_topk(
        emb, emb.filter(F.col("vec_id") < 20),
        k=5, num_cells=8, nprobe=2, train_iters=2, dim=64,
    )


@register(
    "corpus_profile_report",
    f"""
    WITH toks AS (SELECT doc_id, text, lang, source, {_TOKS} AS ws FROM documents),
    scored AS (
      SELECT doc_id, lang, source, length(ws) AS n_tok,
        (CASE WHEN length(ws) BETWEEN 5 AND 100000 THEN 0.4 ELSE 0.0 END)
        + (CASE WHEN length(ws) > 0 AND
             length(list_filter(ws, t -> list_contains({_STOP_SQL}, t))) * 1.0 / length(ws) > 0.05
           THEN 0.2 ELSE 0.0 END)
        + (CASE WHEN coalesce(length(text),0) = 0 OR
             length(regexp_replace(text, '[\\w\\s]', '', 'g')) * 1.0 / length(text) < 0.2
           THEN 0.2 ELSE 0.0 END)
        + (CASE WHEN length(ws) > 0 AND
             list_aggregate(list_transform(ws, t -> length(t)), 'sum') * 1.0 / length(ws)
               BETWEEN 2.0 AND 12.0
           THEN 0.2 ELSE 0.0 END) AS q
      FROM toks
    )
    SELECT count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           round(avg(q), 4) AS mean_quality,
           CAST(sum(CASE WHEN q >= 0.6 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_pass,
           round(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS frac_en,
           CAST(max(n_tok) AS BIGINT) AS max_doc_tokens,
           CAST(sum(CASE WHEN n_tok = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty
    FROM scored
    """,
    tags=["text", "profile", "scale"],
)
def corpus_profile_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus health dashboard in ONE scan: doc/source counts, token
    budget, mean quality, quality-gate pass count, language share, and
    degenerate-doc count, all as conditional aggregates over a single
    pass (map-side combined; the shuffle carries one partial row per
    task). This is the report a 100 TB ingest emits per snapshot —
    profiling must never cost more passes than the data prep itself."""
    docs = _t(spark, sf_dir, "documents")
    q = textfn.quality_score(F.col("text"))
    n_tok = textfn.token_count(F.col("text"))
    pre = docs.select(
        "lang", "source", q.alias("q"), n_tok.alias("n_tok")
    )
    return pre.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.countDistinct("source").alias("n_sources"),
        F.round(F.avg("q"), 4).alias("mean_quality"),
        F.sum(F.when(F.col("q") >= 0.6, 1).otherwise(0)).cast("long").alias("n_quality_pass"),
        F.round(
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)) / F.count(F.lit(1)), 4
        ).alias("frac_en"),
        F.max("n_tok").cast("long").alias("max_doc_tokens"),
        F.sum(F.when(F.col("n_tok") == 0, 1).otherwise(0)).cast("long").alias("n_empty"),
    )


def _semantic_dedup_sql(k: int, dim: int, iters: int, tau: float) -> str:
    rng = f"range(1, {dim + 1})"
    dist = (
        f"list_reduce(list_transform({rng},"
        " j -> (v[j]-cvec[j])*(v[j]-cvec[j])), (p, q) -> p + q)"
    )
    sep = ",\n    "
    return f"""
    WITH {sep.join(_kmeans_parts(k, dim, iters))},
    cent AS (SELECT cid, cvec FROM c{iters}),
    af AS (
      SELECT vec_id, v, cid, {dist} AS dist
      FROM vecs CROSS JOIN cent
    ),
    sf AS (
      SELECT vec_id, v, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM af
      ) WHERE rn = 1
    ),
    prs AS (
      SELECT x.vec_id AS id_a, y.vec_id AS id_b
      FROM sf x JOIN sf y ON x.cid = y.cid AND x.vec_id < y.vec_id
      WHERE round({_cosine_sql("x.v", "y.v")}, 4) >= {tau}
    ),
    d AS (
      SELECT id_b AS vec_id, count(*) AS n_sem_dups, min(id_a) AS first_dup
      FROM prs GROUP BY id_b
    )
    SELECT sf.vec_id, CAST(sf.cid AS INTEGER) AS cid,
           coalesce(d.n_sem_dups, 0) AS n_sem_dups, d.first_dup,
           (d.vec_id IS NULL) AS is_kept
    FROM sf LEFT JOIN d ON d.vec_id = sf.vec_id
    """


@register(
    "semantic_dedup_clusters",
    _semantic_dedup_sql(k=8, dim=64, iters=2, tau=0.7),
    tags=["ml", "dedup", "similarity", "scale"],
)
def semantic_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table: trained k-means clusters
    (bit-exact ordered-fold Lloyd, same CTE fragment as
    kmeans_lloyd_clusters) bound the pair space; within-cluster cosine
    >= 0.7 marks semantic duplicates, keeper = lowest vec_id. The oracle
    unrolls the identical train/assign/pair/prune pipeline in SQL. See
    operators/dedup.semantic_dedup for the 100 TB contract (k scales
    with N; per-cluster quadratic is the bounded-by-design cost)."""
    emb = _t(spark, sf_dir, "embeddings")
    return dedup.semantic_dedup(emb, k=8, dim=64, train_iters=2, threshold=0.7)


@register(
    "cluster_safe_splits",
    f"""
    WITH RECURSIVE {_CORPUS_SQL}, {_SHINGLE_SQL},
    {_minhash_sql(16, 4)},
    {_JACCARD_VERIFY_SQL.format(candidate_filter="JOIN cand ON cand.id_a = a.id AND cand.id_b = b.id")},
    pairs AS (SELECT id_a, id_b FROM scored WHERE jaccard_raw >= 0.7),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(id, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id
    ),
    labels AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id),
    grouped AS (
      SELECT c.id, coalesce(l.cluster_id, c.id) AS grp
      FROM corpus c LEFT JOIN labels l USING (id)
    ),
    keyed AS (
      SELECT id, grp,
             ('0x' || substr(md5('split:' || CAST(grp AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM grouped
    )
    SELECT id, CAST(grp AS BIGINT) AS grp,
           CASE WHEN h % 100 < 98 THEN 'train'
                WHEN h % 100 < 99 THEN 'val'
                ELSE 'test' END AS split
    FROM keyed
    """,
    tags=["dedup", "sampling", "iterative", "scale"],
)
def cluster_safe_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-cluster-safe train/val/test assignment — the dedup
    counterpart of leakage_safe_splits (which closes the URL-variant
    leak): the split key is the doc's NEAR-DUP CLUSTER id (MinHash-LSH
    pairs → connected components; singletons key on their own id), so
    textual near-duplicates can never straddle train and test — the
    contamination channel that survives plain doc-level splitting (Lee
    et al. 2022 §6). 98/1/1 by md5 hash band, deterministic on any
    engine/partitioning.

    100 TB shape: the expensive part IS the existing near-dup clustering
    (candidate-generation LSH + O(log n) star-contraction rounds — see
    near_dup_clusters); the split assignment adds one left join against
    the label table (tiny: only paired docs have labels) and a stateless
    hash map. No new shuffle family."""
    corpus = _corpus_df(spark, sf_dir)
    pairs = dedup.minhash_lsh_dedup_pairs(
        corpus, "text", "id", num_hashes=16, bands=4, n=3, threshold=0.7
    )
    labels = dedup.cluster_near_dups(pairs)
    grouped = corpus.select("id").join(labels, "id", "left").select(
        "id", F.coalesce("cluster_id", "id").alias("grp")
    )
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("split:"), F.col("grp").cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    return grouped.select(
        "id",
        F.col("grp").cast("long").alias("grp"),
        F.when(h % 100 < 98, F.lit("train"))
        .when(h % 100 < 99, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


@register(
    "dsir_incremental_model",
    DSIR_ONESHOT_SQL,
    tags=["corpus", "sampling", "incremental", "scale"],
)
def dsir_incremental_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental DSIR model maintenance: the corpus arrives as two
    disjoint batches (doc_id parity stands in for ingest days). Batch 1's
    hashed-bigram histogram is PERSISTED to parquet — the on-disk model
    state a daily ingest keeps: <= 256 rows of three integers, constant
    size no matter how much corpus has flowed through. Batch 2's
    histogram is merged in by bucket-wise sum (exact, because the
    features are counts), the log-ratio model is rebuilt from the merged
    histogram, and the full raw pool is re-scored.

    The oracle is the ONE-SHOT full-corpus model
    (dsir_importance_weights' SQL, shared constant): equality proves the
    split + store round-trip + merge is byte-exact — updating the model
    with a day's delta is indistinguishable from retraining on
    everything, at the cost of one pass over the NEW batch only.

    100 TB shape: each day touches only its own batch (one corpus pass
    for the delta histogram) plus <= 2 * n_buckets rows of merge; the
    re-score pass here covers the whole pool only because the oracle
    needs every doc — production would score just the new batch against
    the merged model (dsir.dsir_score)."""
    import tempfile

    from reddit_tech_jobs_data_pipeline_spark.operators import dsir

    docs = _t(spark, sf_dir, "documents")
    is_t = F.col("source").isin("src0", "src1")
    h1 = dsir.dsir_histogram(docs.filter(F.col("doc_id") % 2 == 0), is_t)
    path = f"{tempfile.gettempdir()}/spark_graft_dsir_hist_{stable_work_key(sf_dir)}"
    h1.write.mode("overwrite").parquet(path)
    h2 = dsir.dsir_histogram(docs.filter(F.col("doc_id") % 2 == 1), is_t)
    merged = dsir.merge_dsir_histograms(
        spark.read.parquet(path), h2
    ).localCheckpoint()
    model = dsir.dsir_model(merged, 256)
    return dsir.dsir_score(docs.filter(~is_t), model, "text", "doc_id", 256)


def _pq_sub_parts(
    s: int,
    ks: int,
    sub: int,
    iters: int,
    train_where: str | None = None,
    src_fmt: str | None = None,
) -> list[str]:
    """Per-subspace unrolled k-means + code assignment + reconstruction
    part — the PQ analog of _kmeans_parts, over embedding[lo:hi].
    ``train_where`` restricts the k-means TRAINING rows (frozen-codebook
    incremental-encode scenarios); code assignment always covers the
    full corpus. ``src_fmt`` overrides the v{s} body (placeholders
    {lo}/{hi}) so the same machinery quantizes DERIVED vectors (e.g.
    IVF-PQ residuals) instead of the raw embedding column."""
    lo, hi = s * sub + 1, (s + 1) * sub
    rng = f"range(1, {sub + 1})"
    zeros = f"list_transform({rng}, i -> 0.0)"
    dist = (
        f"list_reduce(list_transform({rng},"
        " j -> (v[j]-cvec[j])*(v[j]-cvec[j])), (p, q) -> p + q)"
    )
    src = (
        src_fmt.format(lo=lo, hi=hi)
        if src_fmt is not None
        else (
            "SELECT vec_id,"
            f" list_transform(embedding[{lo}:{hi}], x -> CAST(x AS DOUBLE)) AS v"
            " FROM embeddings"
        )
    )
    parts = [f"v{s} AS ({src})"]
    train = f"v{s}"
    if train_where is not None:
        train = f"vt{s}"
        parts.append(
            f"vt{s} AS (SELECT * FROM v{s} WHERE {train_where})"
        )
    parts.append(
        f"""c0_{s} AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cvec
      FROM {train} ORDER BY vec_id LIMIT {ks}
    )"""
    )
    for i in range(1, iters + 1):
        parts.append(
            f"""a{i}_{s} AS (
      SELECT vec_id, v, cid, {dist} AS dist
      FROM {train} CROSS JOIN c{i - 1}_{s}
    ),
    s{i}_{s} AS (
      SELECT vec_id, v, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM a{i}_{s}
      ) WHERE rn = 1
    ),
    c{i}_{s} AS (
      SELECT cid, list_transform(vsum, x -> x / n) AS cvec FROM (
        SELECT cid, count(*) AS n,
               list_reduce(
                 list_prepend({zeros}, list(v ORDER BY vec_id)),
                 (acc, x) -> list_transform({rng}, j -> acc[j] + x[j])) AS vsum
        FROM s{i}_{s} GROUP BY cid)
    )"""
        )
    parts.append(
        f"""code_{s} AS (
      SELECT vec_id, cvec AS p{s} FROM (
        SELECT vec_id, cid, row_number() OVER (
          PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM (SELECT vec_id, v, cid, {dist} AS dist
              FROM v{s} CROSS JOIN c{iters}_{s})
      ) JOIN c{iters}_{s} USING (cid) WHERE rn = 1
    )"""
    )
    return parts


def _pq_sql(
    m: int,
    ks: int,
    iters: int,
    dim: int,
    topk: int,
    rerank_n: int,
    train_where: str | None = None,
) -> str:
    sub = dim // m
    sep = ",\n    "
    parts: list[str] = []
    for s in range(m):
        parts.extend(_pq_sub_parts(s, ks, sub, iters, train_where))
    recon_join = " JOIN ".join(
        [f"code_{s}" + (" USING (vec_id)" if s else "") for s in range(m)]
    )
    rvec = " || ".join(f"p{s}" for s in range(m))
    cos4 = (
        "round(list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 4)"
    )
    return f"""
    WITH {sep.join(parts)},
    recon AS (
      SELECT code_0.vec_id AS neighbor_id, {rvec} AS cvec
      FROM {recon_join}
    ),
    qq AS (SELECT vec_id AS query_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qvec
           FROM embeddings WHERE vec_id < 20),
    adc AS (
      SELECT query_id, neighbor_id, {cos4.format(a="qvec", b="cvec")} AS cosine
      FROM recon CROSS JOIN qq WHERE neighbor_id <> query_id
    ),
    shortlist AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rn
        FROM adc
      ) WHERE rn <= {rerank_n}
    ),
    cv AS (SELECT vec_id AS neighbor_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec2
           FROM embeddings),
    rescored AS (
      SELECT query_id, s.neighbor_id, {cos4.format(a="qvec", b="cvec2")} AS cosine
      FROM shortlist s JOIN cv ON cv.neighbor_id = s.neighbor_id
      JOIN qq USING (query_id)
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM rescored
    ) WHERE rank <= {topk}
    """


@register(
    "ann_pq_topk",
    _pq_sql(m=8, ks=16, iters=1, dim=64, topk=5, rerank_n=50),
    tags=["similarity", "ml", "sketch", "scale"],
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN with exact rerank (Jégou et al. 2011, the
    production two-stage shape): 8 subspaces × 16 learned centroids
    (one ordered-fold Lloyd round each — bit-exact cross-engine), corpus
    encoded as 8 sub-byte codes/vector, ADC shortlist of 50 candidates
    per query against codebook reconstructions, exact cosine rescoring
    of the shortlist only. Measured recall@5 vs exact at sf0.001: 0.27
    ADC-only → 0.82 reranked (the synthetic unclustered vectors are
    PQ's worst case; see operators/similarity.pq_topk). The oracle
    replays the identical train→encode→reconstruct→shortlist→rescore
    pipeline unrolled per subspace; recall is pinned in
    tests/test_pq_ann.py."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.pq_topk(
        emb, emb.filter(F.col("vec_id") < 20),
        k=5, m=8, ks=16, train_iters=1, dim=64, rerank_n=50,
    )


@register(
    "ann_pq_index_topk",
    _pq_sql(m=8, ks=16, iters=1, dim=64, topk=5, rerank_n=50),
    tags=["similarity", "ml", "sketch", "scale"],
)
def ann_pq_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The on-disk PQ read path (build-once/probe-many — the
    write_ivf_index precedent): codebooks + m-byte codes persisted via
    write_pq_index, then the probe reads ONLY the codes table (+ KB-size
    codebooks), reconstructs with m broadcast joins, ADC-shortlists 50
    candidates and exact-rescoring touches just those rows of the raw
    corpus. At 100 TB this turns ann_pq_topk's per-query codebook
    retraining (43 scans in the plan audit) into one index build
    amortized over every subsequent query. Parquet round-trips the
    double centroids bit-identically, so scores replicate ann_pq_topk
    exactly and the SAME oracle gates both."""
    import tempfile

    emb = _t(spark, sf_dir, "embeddings")
    path = f"{tempfile.gettempdir()}/spark_graft_pq_index_{stable_work_key(sf_dir)}"
    similarity.write_pq_index(emb, path, m=8, ks=16, train_iters=1, dim=64)
    return similarity.pq_index_topk(
        spark, path, emb.filter(F.col("vec_id") < 20), corpus=emb, k=5, rerank_n=50
    )


@register(
    "ann_pq_index_append",
    _pq_sql(
        m=8, ks=16, iters=1, dim=64, topk=5, rerank_n=50,
        train_where="vec_id % 2 = 0",
    ),
    tags=["similarity", "ml", "maintenance", "scale"],
)
def ann_pq_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental PQ index maintenance — the daily-ingest path: the
    codebooks are trained ONCE on the historical corpus (day 1 = even
    vec_ids), persisted, then each new batch (day 2 = odd vec_ids) is
    encoded with the FROZEN books and its codes appended — the books are
    never retouched and day 1's codes are never rewritten. Per-subspace
    nearest-centroid assignment is deterministic given the books, so
    append ≡ one-shot encode of the union with the same books — which is
    exactly what the oracle computes (k-means CTEs restricted to the
    day-1 rows, code assignment over everything). A probe after the
    append sees the full corpus. At 100 TB each ingest day costs one
    broadcast-argmin pass over the DELTA only; retraining (ann_pq_topk's
    inline shape) or re-encoding history per day is the anti-pattern."""
    import shutil
    import tempfile

    emb = _t(spark, sf_dir, "embeddings")
    day1 = emb.filter(F.col("vec_id") % 2 == 0)
    day2 = emb.filter(F.col("vec_id") % 2 == 1)
    path = f"{tempfile.gettempdir()}/spark_graft_pq_append_{stable_work_key(sf_dir)}"
    shutil.rmtree(path, ignore_errors=True)
    # r14: train once (checkpoint), encode day 1 against the
    # materialized books — the lazy tuple form re-ran the m trainings
    # for each of the two writes
    books = similarity.pq_train_books(
        day1, m=8, ks=16, train_iters=1, dim=64
    ).localCheckpoint()
    codes1 = similarity.pq_encode_with_books(day1, books, m=8, dim=64)
    books.coalesce(1).write.mode("overwrite").parquet(f"{path}/books")
    codes1.write.mode("append").parquet(f"{path}/codes")
    similarity.append_pq_index(spark, day2, path, dim=64)
    return similarity.pq_index_topk(
        spark, path, emb.filter(F.col("vec_id") < 20), corpus=emb, k=5, rerank_n=50
    )


@register(
    "streaming_pq_index_ingest",
    _pq_sql(
        m=8, ks=16, iters=1, dim=64, topk=5, rerank_n=50,
        train_where="vec_id % 4 = 0",
    ),
    tags=["similarity", "streaming", "maintenance", "scale"],
)
def streaming_pq_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ index built BY A STREAM — the frozen-MODEL sibling of
    streaming_srp_index_ingest (which proved the pattern only for
    data-independent planes): codebooks are trained once on the
    historical slice (vec_id % 4 == 0) and persisted, then ALL
    embeddings replay in 4 micro-batches through the idempotent
    frozen-books ingest (streaming/pq_ingest.py — replayed ids are
    anti-joined out against a column-pruned codes scan, encode is the
    map-only expression projection, compaction runs on the
    every-3-batches cadence). Because nearest-centroid assignment is
    deterministic given the books, the post-stream probe value-hashes
    against the SAME unrolled oracle as the batch append — training
    restricted to the historical rows, encoding over everything. At
    100 TB each ingest day costs one map-only pass over the delta plus
    an O(cadence)-bounded compaction; nothing ever re-reads history."""
    from reddit_tech_jobs_data_pipeline_spark.streaming.pq_ingest import (
        run_pq_ingest_batchlike,
    )

    return run_pq_ingest_batchlike(spark, sf_dir, n_tags=4, maintenance_every=3)


def _ivfpq_sql(
    num_cells: int,
    nprobe: int,
    m: int,
    ks: int,
    iters: int,
    dim: int,
    topk: int,
    rerank_n: int,
    train_where: str | None = None,
) -> str:
    """Unrolled IVF-PQ twin: seeded-cell assignment (cosine round-6,
    cell tiebreak) → residuals → per-subspace k-means/encode on the
    RESIDUALS (_pq_sub_parts with src_fmt) → ADC over probed cells
    against coarse + reconstructed residual → exact rerank.
    ``train_where`` restricts the residual k-means TRAINING rows
    (frozen-codebook incremental-append scenarios); assignment and
    encoding always cover the full corpus."""
    sub = dim // m
    cos = (
        "round(list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), {r})"
    )
    rng_d = f"range(1, {dim + 1})"
    parts = [
        f"""cent AS (
      SELECT vec_id AS cell_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
      FROM embeddings WHERE vec_id < {num_cells}
    )""",
        """cvecs AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings)""",
        f"""c_cells AS (
      SELECT vec_id, v, cell_id, cvec FROM (
        SELECT vec_id, v, cell_id, cvec,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY {cos.format(a="v", b="cvec", r=6)} DESC, cell_id) AS rn
        FROM cvecs CROSS JOIN cent
      ) WHERE rn = 1
    )""",
        f"""resid AS (
      SELECT vec_id, cell_id, cvec AS coarse,
             list_transform({rng_d}, j -> v[j] - cvec[j]) AS r
      FROM c_cells
    )""",
    ]
    src_fmt = "SELECT vec_id, r[{lo}:{hi}] AS v FROM resid"
    for s in range(m):
        parts.extend(
            _pq_sub_parts(
                s, ks, sub, iters, train_where=train_where, src_fmt=src_fmt
            )
        )
    recon_join = " JOIN ".join(
        [f"code_{s}" + (" USING (vec_id)" if s else "") for s in range(m)]
    )
    rvec = " || ".join(f"p{s}" for s in range(m))
    parts.append(
        f"recon AS (SELECT code_0.vec_id AS vec_id, {rvec} AS rrec FROM {recon_join})"
    )
    parts.append(
        f"""cand AS (
      SELECT resid.vec_id AS neighbor_id, resid.cell_id,
             list_transform({rng_d}, j -> coarse[j] + rrec[j]) AS fullrec
      FROM resid JOIN recon USING (vec_id)
    )"""
    )
    parts.append(
        """qq AS (SELECT vec_id AS query_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qvec
      FROM embeddings WHERE vec_id < 20)"""
    )
    parts.append(
        f"""q_cells AS (
      SELECT query_id, qvec, cell_id FROM (
        SELECT query_id, qvec, cell_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY {cos.format(a="qvec", b="cvec", r=6)} DESC, cell_id) AS rn
        FROM qq CROSS JOIN cent
      ) WHERE rn <= {nprobe}
    )"""
    )
    parts.append(
        f"""adc AS (
      SELECT DISTINCT query_id, neighbor_id,
             {cos.format(a="qvec", b="fullrec", r=4)} AS cosine
      FROM cand JOIN q_cells USING (cell_id)
      WHERE neighbor_id <> query_id
    )"""
    )
    sep = ",\n    "
    return f"""
    WITH {sep.join(parts)},
    shortlist AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rn
        FROM adc
      ) WHERE rn <= {rerank_n}
    ),
    cv AS (SELECT vec_id AS neighbor_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec2
           FROM embeddings),
    rescored AS (
      SELECT query_id, s.neighbor_id, {cos.format(a="qvec", b="cvec2", r=4)} AS cosine
      FROM shortlist s JOIN cv ON cv.neighbor_id = s.neighbor_id
      JOIN qq USING (query_id)
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM rescored
    ) WHERE rank <= {topk}
    """


@register(
    "ann_ivfpq_topk",
    _ivfpq_sql(
        num_cells=8, nprobe=3, m=8, ks=16, iters=1, dim=64, topk=5, rerank_n=200
    ),
    tags=["similarity", "ml", "sketch", "scale"],
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the two ANN halves composed (FAISS IndexIVFPQ's shape):
    coarse cells route the probe to nprobe/num_cells of the corpus, and
    inside the cells only m-byte PQ codes of the RESIDUAL v − centroid
    are stored (residuals carry far less variance than raw vectors, so
    the same codebook budget quantizes them tighter). ADC shortlist of
    200 over the probed cells, exact rerank of the shortlist only.

    Measured recall@5 vs exact on the synthetic UNCLUSTERED embeddings
    (the family's worst case): sf0.001 0.79, sf0.1 0.64 at nprobe=3/8 +
    rerank 200 — vs flat-PQ rerank-200's 0.92 at sf0.1, which reads ALL
    the codes; IVF-PQ reads 3/8 of them. That recall↔bytes-read dial is
    the point of the composition, pinned in tests/test_pq_ann.py. See
    operators/similarity.ivfpq_topk for the 100 TB layout (codes
    partitioned by cell_id, m bytes/vector read per probe)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ivfpq_topk(
        emb, emb.filter(F.col("vec_id") < 20),
        k=5, num_cells=8, nprobe=3, m=8, ks=16, train_iters=1, dim=64,
        rerank_n=200,
    )


@register(
    "ann_ivfpq_index_topk",
    _ivfpq_sql(
        num_cells=8, nprobe=3, m=8, ks=16, iters=1, dim=64, topk=5, rerank_n=200
    ),
    tags=["similarity", "ml", "maintenance", "scale"],
)
def ann_ivfpq_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted IVF-PQ read path — the FAISS on-disk layout in
    full: centroids + residual codebooks + m-byte codes PARTITIONED BY
    cell_id written once (write_ivfpq_index); the probe partition-prunes
    to the queries' nprobe cell directories, reconstructs with BOTH
    models as plan literals (KBs each), ADC-shortlists and exact-reranks
    only the shortlist. Train-inline ann_ivfpq_topk audits at 127 scans;
    this probe is single-digit. Parquet round-trips the doubles
    bit-identically, so the SAME oracle gates both forms."""
    import shutil
    import tempfile

    emb = _t(spark, sf_dir, "embeddings")
    path = f"{tempfile.gettempdir()}/spark_graft_ivfpq_index_{stable_work_key(sf_dir)}"
    shutil.rmtree(path, ignore_errors=True)
    similarity.write_ivfpq_index(
        emb, path, num_cells=8, m=8, ks=16, train_iters=1, dim=64
    )
    return similarity.ivfpq_index_topk(
        spark, path, emb.filter(F.col("vec_id") < 20), corpus=emb,
        k=5, nprobe=3, rerank_n=200,
    )


@register(
    "ann_ivfpq_index_append",
    _ivfpq_sql(
        num_cells=8, nprobe=3, m=8, ks=16, iters=1, dim=64, topk=5,
        rerank_n=200, train_where="vec_id % 2 = 0",
    ),
    tags=["similarity", "ml", "maintenance", "scale"],
)
def ann_ivfpq_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF-PQ maintenance — the full production loop with
    BOTH models frozen: the coarse quantizer comes from history (here
    the seeded first-8 — frozen across generations), the residual
    codebooks are trained ONCE on day 1 (even vec_ids), and day 2 (odd
    vec_ids) is assigned + residual-encoded with the persisted models
    and appended into the cell_id= directories — nothing on disk is
    retouched. Assignment and per-subspace encoding are deterministic
    given the models, so append ≡ one-shot encode of the union: the
    oracle replays the same scenario (residual k-means CTEs restricted
    to day-1 rows; assignment/encoding over everything). Per ingest
    day: one broadcast assignment + m broadcast argmins over the DELTA
    only. Completes the maintenance matrix (IVF, PQ, IVF-PQ × build /
    probe / append)."""
    import shutil
    import tempfile

    emb = _t(spark, sf_dir, "embeddings")
    day1 = emb.filter(F.col("vec_id") % 2 == 0)
    day2 = emb.filter(F.col("vec_id") % 2 == 1)
    cents = similarity.seeded_centroids(emb, 8)
    path = f"{tempfile.gettempdir()}/spark_graft_ivfpq_append_{stable_work_key(sf_dir)}"
    shutil.rmtree(path, ignore_errors=True)
    similarity.write_ivfpq_index(
        day1, path, num_cells=8, m=8, ks=16, train_iters=1, dim=64,
        centroids=cents,
    )
    similarity.append_ivfpq_index(spark, day2, path, dim=64)
    return similarity.ivfpq_index_topk(
        spark, path, emb.filter(F.col("vec_id") < 20), corpus=emb,
        k=5, nprobe=3, rerank_n=200,
    )


@register(
    "streaming_ivfpq_index_ingest",
    _ivfpq_sql(
        num_cells=8, nprobe=3, m=8, ks=16, iters=1, dim=64, topk=5,
        rerank_n=200, train_where="vec_id % 4 = 0",
    ),
    tags=["similarity", "streaming", "maintenance", "scale"],
)
def streaming_ivfpq_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF-PQ index built BY A STREAM — the full production ANN
    maintenance loop with BOTH models frozen, completing the streaming
    half of the index matrix (SRP r11, PQ earlier this round, IVF-PQ
    here): the coarse quantizer is the seeded historical one, the
    residual codebooks train once on the tag-0 slice, then all
    embeddings replay in 4 micro-batches through the idempotent
    frozen-models ingest (streaming/pq_ingest.run_ivfpq_ingest_batchlike
    — anti-join replay skip on a column-pruned codes scan, broadcast
    coarse assignment + map-only residual encode per batch), with the
    CELL-PARTITIONED codes table compacting on the every-3-batches
    cadence via the layout-preserving compact(partition_col='cell_id').
    Assignment and encoding are deterministic given the models, so the
    post-stream probe value-hashes the SAME unrolled oracle as the
    batch append (residual k-means restricted to the historical rows,
    assignment/encoding over everything). At 100 TB each ingest day is
    one broadcast assignment + one map-only encode over the delta, and
    hot-cell fragments stay O(cadence)."""
    from reddit_tech_jobs_data_pipeline_spark.streaming.pq_ingest import (
        run_ivfpq_ingest_batchlike,
    )

    return run_ivfpq_ingest_batchlike(spark, sf_dir, n_tags=4, maintenance_every=3)


def _pca_sql(dim: int, iters: int) -> str:
    rng = f"range(1, {dim + 1})"
    zeros = f"list_transform({rng}, i -> 0.0)"
    addv = f"(acc, x) -> list_transform({rng}, j -> acc[j] + x[j])"
    parts = [
        "vecs AS (SELECT vec_id,"
        " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)",
        "nn AS (SELECT count(*) AS c FROM vecs)",
        f"""musum AS (
      SELECT list_reduce(list_prepend({zeros}, list(v ORDER BY vec_id)), {addv}) AS ms
      FROM vecs
    )""",
        "mu AS (SELECT list_transform(ms, s -> s / c) AS m"
        " FROM musum CROSS JOIN nn)",
        f"""xc AS (
      SELECT vec_id, list_transform({rng}, j -> v[j] - m[j]) AS x
      FROM vecs CROSS JOIN mu
    )""",
        f"v0 AS (SELECT list_transform({rng},"
        " j -> CASE WHEN j = 1 THEN 1.0 ELSE 0.0 END) AS vv)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""d{i} AS (
      SELECT vec_id, x,
             list_reduce(list_transform({rng},
               j -> x[j] * vv[j]), (p, q) -> p + q) AS dt
      FROM xc CROSS JOIN v{i - 1}
    ),
    w{i} AS (
      SELECT list_reduce(
        list_prepend({zeros},
          list(list_transform({rng}, j -> dt * x[j]) ORDER BY vec_id)),
        {addv}) AS w
      FROM d{i}
    ),
    v{i} AS (
      SELECT list_transform(w, y -> y / sqrt(
        list_reduce(list_transform(w, z -> z * z), (p, q) -> p + q))) AS vv
      FROM w{i}
    )"""
        )
    sep = ",\n    "
    return f"""
    WITH {sep.join(parts)},
    fd AS (
      SELECT vec_id,
             list_reduce(list_transform({rng},
               j -> x[j] * vv[j]), (p, q) -> p + q) AS dt,
             list_reduce(list_transform(x, z -> z * z), (p, q) -> p + q) AS tot
      FROM xc CROSS JOIN v{iters}
    ),
    ev AS (SELECT sum(dt * dt) / sum(tot) AS r FROM fd)
    SELECT CAST(pos AS BIGINT) AS pos,
           round(vv[pos], 4) AS loading,
           round(r, 4) AS explained_var
    FROM range(1, {dim + 1}) t(pos) CROSS JOIN v{iters} CROSS JOIN ev
    """


@register(
    "embedding_pca_power",
    _pca_sql(dim=64, iters=3),
    tags=["ml", "iterative", "scale", "float-tol"],
)
def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the centered embeddings via 3 fixed
    power-iteration rounds (init e₁) — the spectral preprocessing step
    (whitening axes, index rotation, drift directions) computed without
    materializing the covariance. Spark side: commutative per-dim sums,
    one aggregate pass per round, driver state = the 64-vector (the
    100 TB shape — operators/pca.py). Oracle: identical fixed loop with
    ordered sequential folds; reassociation noise ≪ the 4-dp rounding,
    float-tol gated locally (the kmeans_lloyd_clusters_scale numeric
    contract). Output: (pos, loading, explained_var) per dimension."""
    from reddit_tech_jobs_data_pipeline_spark.operators.pca import top_component

    emb = _t(spark, sf_dir, "embeddings")
    v, explained = top_component(emb, dim=64, iters=3)
    rows = [(i + 1, round(x, 4), round(explained, 4)) for i, x in enumerate(v)]
    return spark.createDataFrame(rows, "pos long, loading double, explained_var double")


def _mmr_sql(k: int, lam: float) -> str:
    cos6 = (
        "round(list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
    )
    one_m = 1.0 - lam
    parts = [
        "vecs AS (SELECT vec_id,"
        " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)",
        "q AS (SELECT v AS qv FROM vecs WHERE vec_id = 0)",
        f"""rel AS (
      SELECT vec_id, v, {cos6.format(a="v", b="qv")} AS rel
      FROM vecs CROSS JOIN q WHERE vec_id <> 0
    )""",
        f"""p1 AS (
      SELECT vec_id, v, rel, round({lam} * rel, 6) AS sc
      FROM rel ORDER BY sc DESC, vec_id LIMIT 1
    )""",
    ]
    for i in range(2, k + 1):
        prev = [f"p{j}" for j in range(1, i)]
        joins = " CROSS JOIN ".join(prev)
        sims = ", ".join(
            cos6.format(a="r.v", b=f"{p}.v") for p in prev
        )
        maxsim = f"greatest({sims})" if len(prev) > 1 else sims
        excl = " AND ".join(f"r.vec_id <> {p}.vec_id" for p in prev)
        parts.append(
            f"""p{i} AS (
      SELECT vec_id, v, rel, sc FROM (
        SELECT r.vec_id, r.v, r.rel,
               round({lam} * r.rel - {one_m} * {maxsim}, 6) AS sc
        FROM rel r CROSS JOIN {joins}
        WHERE {excl}
      ) ORDER BY sc DESC, vec_id LIMIT 1
    )"""
        )
    sep = ",\n    "
    union = "\n      UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS rank, vec_id,"
        f" round(sc, 4) AS mmr_score, round(rel, 4) AS rel FROM p{i}"
        for i in range(1, k + 1)
    )
    return f"""
    WITH {sep.join(parts)}
    SELECT * FROM ({union}) ORDER BY rank
    """


@register(
    "mmr_diverse_topk",
    _mmr_sql(k=4, lam=0.7),
    tags=["similarity", "sampling", "iterative", "scale"],
)
def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance diverse top-4 around query vector 0
    (λ=0.7): greedy argmax of λ·rel − (1−λ)·max-sim-to-selected, the
    diversity-aware subset selection that replaces plain top-k when the
    nearest neighbors are near-duplicates of each other. Each greedy
    step is one corpus pass against ≤ k literal vectors; selection
    scores are rounded to 6 dp with id tiebreaks so the argmax — and
    therefore the whole greedy trajectory — is engine-exact (the
    ivf cos6/cos4 contract). The oracle unrolls the identical k steps.
    See operators/similarity.mmr_topk."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.mmr_topk(emb, query_id=0, k=4, lam=0.7)


# ===========================================================================
# Leakage-safe train/val/test split (operators/dedup.leakage_safe_split):
# the guard between dedup and training — split by near-dup CLUSTER, not by
# document, so no pair of near-duplicates ever straddles the train/eval
# boundary. The audit query measures what the naive per-doc split would
# have leaked on the same corpus.
# ===========================================================================

_CC_SPLIT_SQL = f"""
    {_minhash_sql(16, 4)},
    {_JACCARD_VERIFY_SQL.format(candidate_filter="JOIN cand ON cand.id_a = a.id AND cand.id_b = b.id")},
    pairs AS (SELECT id_a, id_b FROM scored WHERE jaccard_raw >= 0.7),
    cedges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(id, label) AS (
      SELECT src, src FROM cedges
      UNION
      SELECT e.src, r.label FROM cedges e JOIN reach r ON e.dst = r.id
    ),
    cc AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id),
    grouped AS (
      SELECT c.id, coalesce(cc.cluster_id, c.id) AS group_id
      FROM corpus c LEFT JOIN cc ON cc.id = c.id
    ),
    assigned AS (
      SELECT id, group_id,
             ('0x' || substr(md5(CAST(group_id AS VARCHAR)), 1, 4))::BIGINT % 10
               AS bucket
      FROM grouped
    ),
    splits AS (
      SELECT id, group_id,
             CASE WHEN bucket < 8 THEN 'train'
                  WHEN bucket < 9 THEN 'val'
                  ELSE 'test' END AS split
      FROM assigned
    )
"""


@register(
    "leakage_safe_split",
    f"""
    WITH RECURSIVE {_CORPUS_SQL}, {_SHINGLE_SQL},
    {_CC_SPLIT_SQL}
    SELECT id, group_id, split FROM splits
    """,
    tags=["dedup", "split", "iterative", "scale"],
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware split assignment: MinHash-LSH pairs → star-contraction
    CC → md5(group) bucket split (80/10/10). Every near-dup cluster lands
    wholly in one split; the oracle replays CC via recursive CTE and the
    identical md5-bucket arithmetic (hex-parse parity pinned by the
    minhash family oracles)."""
    corpus = _corpus_df(spark, sf_dir)
    pairs = dedup.minhash_lsh_dedup_pairs(
        corpus, "text", "id", num_hashes=16, bands=4, n=3, threshold=0.7
    )
    return dedup.leakage_safe_split(corpus, pairs)


@register(
    "split_leakage_audit",
    f"""
    WITH RECURSIVE {_CORPUS_SQL}, {_SHINGLE_SQL},
    {_CC_SPLIT_SQL},
    naive AS (
      SELECT id,
             CASE WHEN ('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 4))::BIGINT % 10 < 8
                  THEN 'train'
                  WHEN ('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 4))::BIGINT % 10 < 9
                  THEN 'val'
                  ELSE 'test' END AS split
      FROM corpus
    ),
    audits AS (
      SELECT 'doc_hash' AS scheme, count(*) AS crossing_pairs
      FROM pairs p JOIN naive a ON a.id = p.id_a JOIN naive b ON b.id = p.id_b
      WHERE a.split <> b.split
      UNION ALL
      SELECT 'cluster_hash' AS scheme, count(*) AS crossing_pairs
      FROM pairs p JOIN splits a ON a.id = p.id_a JOIN splits b ON b.id = p.id_b
      WHERE a.split <> b.split
    )
    SELECT scheme, crossing_pairs FROM audits
    """,
    tags=["dedup", "split", "iterative", "scale"],
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counts verified near-dup pairs whose endpoints land in DIFFERENT
    splits under (a) the naive per-document hash split and (b) the
    cluster-aware split — the measured property the operator exists for:
    (b) is 0 by construction (both endpoints of every pair share a
    component, hence a group_id, hence a split), while (a) leaks ~2·P/10·
    (n_buckets-1)/n_buckets of pairs across the boundary. Same pair set,
    same hash family on both engines."""
    corpus = _corpus_df(spark, sf_dir)
    pairs = dedup.minhash_lsh_dedup_pairs(
        corpus, "text", "id", num_hashes=16, bands=4, n=3, threshold=0.7
    ).localCheckpoint()
    aware = dedup.leakage_safe_split(corpus, pairs)

    def _bucket_split(col):
        bucket = (
            F.conv(F.substring(F.md5(col.cast("string")), 1, 4), 16, 10).cast("long")
            % 10
        )
        return (
            F.when(bucket < 8, "train").when(bucket < 9, "val").otherwise("test")
        )

    naive = corpus.select("id", _bucket_split(F.col("id")).alias("split"))

    def _crossings(splits: DataFrame, scheme: str) -> DataFrame:
        a = splits.select(F.col("id").alias("id_a"), F.col("split").alias("sa"))
        b = splits.select(F.col("id").alias("id_b"), F.col("split").alias("sb"))
        return (
            pairs.join(a, "id_a")
            .join(b, "id_b")
            .filter(F.col("sa") != F.col("sb"))
            .agg(F.count(F.lit(1)).alias("crossing_pairs"))
            .select(F.lit(scheme).alias("scheme"), "crossing_pairs")
        )

    return _crossings(naive, "doc_hash").unionByName(
        _crossings(aware.select("id", "split"), "cluster_hash")
    )


# ===========================================================================
# Signed-random-projection LSH (Charikar 2002) — the data-independent
# cosine LSH: bit p of the signature is the sign of the dot product with
# a fixed random hyperplane. The planes are md5-derived literals shared
# verbatim by the Spark plan and the oracle SQL (no cross-engine RNG).
# ===========================================================================

_SRP_PLANES = similarity.srp_planes(n_planes=8, dim=64)


def _srp_sig_sql(vec: str, planes=None) -> str:
    bits = []
    for plane in (planes if planes is not None else _SRP_PLANES):
        lit = "[" + ", ".join(repr(w) for w in plane) + "]"
        bits.append(
            f"(CASE WHEN list_dot_product({vec}, {lit}) >= 0 THEN '1' ELSE '0' END)"
        )
    return " || ".join(bits)


# Shared oracle for every SRP form (inline, persisted-index probe,
# index append): the signature depends only on the fixed plane
# literals, so all three compute the identical candidate set + rerank.
_SRP_TOPK_SQL = f"""
    WITH c AS (SELECT vec_id AS neighbor_id, {_DVEC} AS cvec,
                      {_srp_sig_sql(_DVEC)} AS sig FROM embeddings),
    q AS (SELECT vec_id AS query_id, {_DVEC} AS qvec,
                 {_srp_sig_sql(_DVEC)} AS sig FROM embeddings WHERE vec_id < 16),
    scored AS (
      SELECT query_id, neighbor_id,
             round({_cosine_sql("qvec", "cvec")}, 4) AS cosine
      FROM c JOIN q USING (sig) WHERE neighbor_id <> query_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """


@register(
    "srp_lsh_ann_topk",
    _SRP_TOPK_SQL,
    tags=["similarity", "scale"],
)
def srp_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-bit SRP-LSH top-5: random-hyperplane signatures bucket the
    corpus, candidates equi-join on the signature, exact cosine rerank.
    Complements ann_bucketed_topk (raw-coordinate signs): SRP's
    guarantee P[bit collision] = 1 - angle/pi holds for ANY embedding
    basis, which matters when coordinates are correlated (post-PCA or
    whitened spaces make coordinate signs near-degenerate). Measured
    recall@5 on the driver's isotropic random embeddings (sf0.01,
    single probe, 8 bits): 0.016 — matching the (1 - theta/pi)^8
    theory at theta ~ pi/2, the sign-LSH worst case; clustered real
    embeddings sit far higher (pinned in
    tests/test_similarity_guards.py)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.srp_ann_topk(
        emb, emb.filter(F.col("vec_id") < 16), planes=_SRP_PLANES, k=5
    )


@register(
    "ann_srp_index_topk",
    _SRP_TOPK_SQL,
    tags=["similarity", "maintenance", "scale"],
)
def ann_srp_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The on-disk SRP read path — fourth persisted index family beside
    IVF / PQ / IVF-PQ (build-once/probe-many): raw vectors land in one
    directory per occupied 8-bit bucket (write_srp_index), and the probe
    signatures its queries, collects only the distinct probed BUCKET
    KEYS (≤ min(|queries|, 256) strings — never data) and reads just
    those directories via partition pruning. Parquet round-trips the
    doubles bit-identically, so scores replicate srp_lsh_ann_topk
    exactly and the SAME oracle gates the inline and persisted forms.
    At 100 TB a query workload reads occupied-bucket/total bytes instead
    of re-signaturing the corpus per run."""
    import tempfile

    emb = _t(spark, sf_dir, "embeddings")
    path = f"{tempfile.gettempdir()}/spark_graft_srp_index_{stable_work_key(sf_dir)}"
    similarity.write_srp_index(emb, _SRP_PLANES, path)
    return similarity.srp_index_topk(
        spark, path, emb.filter(F.col("vec_id") < 16), planes=_SRP_PLANES, k=5
    )


@register(
    "ann_srp_index_append",
    _SRP_TOPK_SQL,
    tags=["similarity", "maintenance", "scale"],
)
def ann_srp_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SRP index maintenance — the trivially-frozen-model
    append: the 'model' is the fixed plane literals, so day 2's vectors
    (odd vec_ids) signature identically whether encoded at build time or
    appended later; append ≡ rebuild exactly, and THE SAME full-corpus
    oracle as the one-shot build gates the probe after the append. Each
    ingest day costs one map-only signature pass over the DELTA + a
    partitioned append into the touched bucket dirs (untouched buckets
    aren't rewritten) — no retraining step exists to skip, which is the
    operational argument for SRP over trained quantizers when recall
    targets allow it."""
    import shutil
    import tempfile

    emb = _t(spark, sf_dir, "embeddings")
    day1 = emb.filter(F.col("vec_id") % 2 == 0)
    day2 = emb.filter(F.col("vec_id") % 2 == 1)
    path = f"{tempfile.gettempdir()}/spark_graft_srp_append_{stable_work_key(sf_dir)}"
    shutil.rmtree(path, ignore_errors=True)
    similarity.write_srp_index(day1, _SRP_PLANES, path)
    similarity.append_srp_index(day2, _SRP_PLANES, path)
    return similarity.srp_index_topk(
        spark, path, emb.filter(F.col("vec_id") < 16), planes=_SRP_PLANES, k=5
    )


_SRP_PLANES_6 = similarity.srp_planes(n_planes=6, dim=64)


def _srp_stream_sql() -> str:
    return f"""
    WITH c AS (SELECT vec_id AS neighbor_id, {_DVEC} AS cvec,
                      {_srp_sig_sql(_DVEC, _SRP_PLANES_6)} AS sig FROM embeddings),
    q AS (SELECT vec_id AS query_id, {_DVEC} AS qvec,
                 {_srp_sig_sql(_DVEC, _SRP_PLANES_6)} AS sig
          FROM embeddings WHERE vec_id < 16),
    scored AS (
      SELECT query_id, neighbor_id,
             round({_cosine_sql("qvec", "cvec")}, 4) AS cosine
      FROM c JOIN q USING (sig) WHERE neighbor_id <> query_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """


@register(
    "streaming_srp_index_ingest",
    _srp_stream_sql(),
    tags=["similarity", "streaming", "maintenance", "scale"],
)
def streaming_srp_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SRP index built BY A STREAM: embeddings replay in 4
    micro-batches (vec_id % 4 tag slices), each batch appends its
    signatured vectors into the bucket layout with the
    incremental_dedup idempotent-append discipline (replayed ids are
    anti-joined out against a column-pruned store scan), and the
    partition-preserving compaction runs on the every-3-batches cadence
    so hot buckets stay at O(cadence) fragments. The probe over the
    streamed index hash-matches the SAME inline-SRP oracle shape —
    stream-ingested ≡ batch-built, the frozen-model guarantee made
    end-to-end observable. This query runs 6 planes (64 buckets): at
    the demo SF the partitioned-write cost is per-DIRECTORY commit
    overhead, so bucket count is the knob that keeps the e2e stream
    honest-but-cheap (real batches amortize 2^b dirs trivially)."""
    from reddit_tech_jobs_data_pipeline_spark.streaming.srp_ingest import (
        run_srp_ingest_batchlike,
    )

    return run_srp_ingest_batchlike(spark, sf_dir, n_tags=4, maintenance_every=3)


@register(
    "srp_bucket_histogram",
    f"""
    SELECT sig, CAST(count(*) AS BIGINT) AS n_vectors,
           round(count(*) * 1.0 / sum(count(*)) OVER (), 4) AS share
    FROM (SELECT {_srp_sig_sql(_DVEC)} AS sig FROM embeddings)
    GROUP BY sig ORDER BY sig
    """,
    tags=["similarity", "stats", "scale"],
)
def srp_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP bucket-occupancy audit — the layout-health check an operator
    runs before trusting a write_srp_index layout: per-bucket vector
    count and corpus share. A healthy isotropic corpus spreads across
    the 2^b buckets (collision prob per pair = prod(1 - theta/pi));
    heavy skew here means the planes are degenerate for this embedding
    basis and probe cost is unbalanced (the same role
    partition_skew_report plays for shuffle keys). One map-only
    signature projection + one groupBy(sig) — b dot products per row,
    partial-aggregated."""
    emb = _t(spark, sf_dir, "embeddings")
    sig = similarity.srp_signature("embedding", _SRP_PLANES)
    w_all = Window.partitionBy()
    return (
        emb.select(sig.alias("sig"))
        .groupBy("sig")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .select(
            "sig",
            "n_vectors",
            F.round(F.col("n_vectors") / F.sum("n_vectors").over(w_all), 4).alias(
                "share"
            ),
        )
        .orderBy("sig")
    )


@register(
    "cluster_quality_survivor",
    f"""
    WITH RECURSIVE {_CORPUS_SQL}, {_SHINGLE_SQL},
    {_minhash_sql(16, 4)},
    {_JACCARD_VERIFY_SQL.format(candidate_filter="JOIN cand ON cand.id_a = a.id AND cand.id_b = b.id")},
    pairs AS (SELECT id_a, id_b FROM scored WHERE jaccard_raw >= 0.7),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(id, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id
    ),
    clusters AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id),
    ranked AS (
      SELECT c.cluster_id, c.id,
             row_number() OVER (
               PARTITION BY c.cluster_id
               ORDER BY length(coalesce(t.text, '')) DESC, c.id ASC
             ) AS rn
      FROM clusters c JOIN corpus t ON t.id = c.id
    )
    SELECT cluster_id,
           max(CASE WHEN rn = 1 THEN id END)   AS survivor_id,
           CAST(count(*) AS BIGINT)            AS n_members
    FROM ranked GROUP BY cluster_id
    """,
    tags=["dedup", "iterative", "scale"],
)
def cluster_quality_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-priority dedup survivorship: instead of keeping each
    near-dup cluster's MINIMUM id (near_dup_deduped_corpus), keep its
    BEST member — here longest text, id tiebreak — the FineWeb-style
    policy (when a template spawns variants, keep the most complete
    one). Emits (cluster_id, survivor_id, n_members) per multi-member
    cluster: the audit table a curation run ships with the corpus.
    Survivor choice is one row_number window over cluster members —
    cluster-sized groups, partitioned on cluster_id; everything upstream
    is the shared LSH→verify→star-contraction machinery."""
    corpus = _corpus_df(spark, sf_dir)
    pairs = dedup.minhash_lsh_dedup_pairs(
        corpus, "text", "id", num_hashes=16, bands=4, n=3, threshold=0.7
    )
    clusters = dedup.cluster_near_dups(pairs)
    members = clusters.join(
        corpus.select(
            "id", F.length(F.coalesce(F.col("text"), F.lit(""))).alias("__len")
        ),
        "id",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("__len").desc(), F.col("id").asc()
    )
    ranked = members.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("cluster_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("id"))).alias("survivor_id"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
    )


@register(
    "temporal_holdout_split",
    """
    WITH d AS (
      SELECT user_id, epoch(date_trunc('day', ts)) / 86400 AS day FROM events
    ),
    cut AS (
      SELECT
        max(CASE WHEN cum <= 0.70 THEN day END) AS c_train,
        max(CASE WHEN cum <= 0.85 THEN day END) AS c_val
      FROM (
        SELECT day,
               sum(count(*)) OVER (ORDER BY day) * 1.0
                 / (SELECT count(*) FROM d) AS cum
        FROM d GROUP BY day
      )
    ),
    tagged AS (
      SELECT user_id, day,
             CASE WHEN day <= c_train THEN 'train'
                  WHEN day <= c_val   THEN 'val'
                  ELSE 'test' END AS split
      FROM d CROSS JOIN cut
    ),
    per_split AS (
      SELECT split, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(min(day) AS BIGINT) AS min_day,
             CAST(max(day) AS BIGINT) AS max_day,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM tagged GROUP BY split
    ),
    leak AS (
      SELECT CAST(count(*) AS BIGINT) AS n_leaking_users FROM (
        SELECT user_id FROM tagged GROUP BY user_id
        HAVING count(DISTINCT split) > 1
      )
    )
    SELECT split, n_rows, min_day, max_day, n_users, n_leaking_users
    FROM per_split CROSS JOIN leak
    """,
    tags=["split", "scale"],
)
def temporal_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/val/test holdout (70/15/15 by EVENT count, cut at
    whole-day boundaries): the split every forecasting/recsys dataset
    needs — train strictly before val strictly before test, cutoffs
    derived from the day-level cumulative distribution. The leak column
    is the honest caveat a temporal split must report: users spanning
    the cutoffs appear on both sides (entity leakage), which is exactly
    what the cluster-aware split family (leakage_safe_split) prevents
    for CONTENT leakage — this query quantifies how much entity overlap
    a time-based split accepts. Day histogram is tiny (date-range-sized);
    cutoffs broadcast; the corpus streams through once."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select(
        "user_id",
        (F.unix_timestamp(F.date_trunc("day", F.col("ts"))) / 86400)
        .cast("long")
        .alias("day"),
    )
    total = d.count()
    days = d.groupBy("day").agg(F.count(F.lit(1)).alias("n"))
    cum = days.withColumn(
        "cum",
        F.sum("n").over(Window.orderBy("day")) * 1.0 / F.lit(total),
    )
    cut = cum.agg(
        F.max(F.when(F.col("cum") <= 0.70, F.col("day"))).alias("c_train"),
        F.max(F.when(F.col("cum") <= 0.85, F.col("day"))).alias("c_val"),
    )
    tagged = d.join(F.broadcast(cut)).select(
        "user_id",
        "day",
        F.when(F.col("day") <= F.col("c_train"), F.lit("train"))
        .when(F.col("day") <= F.col("c_val"), F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    per_split = tagged.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("day").cast("long").alias("min_day"),
        F.max("day").cast("long").alias("max_day"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    leak = (
        tagged.groupBy("user_id")
        .agg(F.countDistinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .agg(F.count(F.lit(1)).cast("long").alias("n_leaking_users"))
    )
    return per_split.join(F.broadcast(leak))
