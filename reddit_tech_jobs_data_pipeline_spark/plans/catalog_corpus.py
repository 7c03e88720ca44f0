"""Corpus/IR query shapes over ``documents``: TF-IDF term ranking, an
inverted index, token co-occurrence, and concentration analytics
(revenue deciles + Gini) over the sales tables.

These are the retrieval-side counterparts of the dedup/quality operators
in catalog_scale.py — together they cover the index-build and scoring
stages of a training-data / search pipeline. The tokenizer is the shared
reference-faithful one (functions/extract.tokens ≡ the oracle's
``regexp_split_to_array(lower(text), '\\W+')`` with empties dropped —
reference semantics at utils/common_words.py equivalent, see
functions/extract.py:110).

Determinism notes:
* TF-IDF ranks on the ROUNDED score with a term tiebreaker (playbook
  rule: never order on unrounded doubles across engines); idf = ln(N/df)
  where N/df is the same double in both engines;
* posting lists are sorted then joined to one string;
* deciles use ntile over a total order (spend DESC, custkey);
* Gini normalizes a summation by n²·mean before rounding, absorbing
  cross-engine summation-order noise.

Scale notes (SCALE.md): tf/df/postings are groupBy shuffles on term —
skew lives in stopword-like terms; salt or drop top-df terms at 100 TB.
Co-occurrence joins exploded tokens on doc_id (bounded per-doc fan-out).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from reddit_tech_jobs_data_pipeline_spark.functions.extract import tokens
from reddit_tech_jobs_data_pipeline_spark.operators import dedup as dedup_ops
from reddit_tech_jobs_data_pipeline_spark.operators import ranking
from reddit_tech_jobs_data_pipeline_spark.plans.catalog import _t, register
from reddit_tech_jobs_data_pipeline_spark.plans.catalog_scale import (
    _TOKS,
    DSIR_ONESHOT_SQL,
)
from reddit_tech_jobs_data_pipeline_spark.plans.catalog_scale import (
    _CORPUS_SQL as _SC_CORPUS_SQL,
)
from reddit_tech_jobs_data_pipeline_spark.plans.catalog_scale import (
    _JACCARD_VERIFY_SQL as _SC_JACCARD_VERIFY_SQL,
)
from reddit_tech_jobs_data_pipeline_spark.plans.catalog_scale import (
    _SHINGLE_SQL as _SC_SHINGLE_SQL,
)
from reddit_tech_jobs_data_pipeline_spark.plans.catalog_scale import (
    _minhash_sql as _sc_minhash_sql,
)


def _tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, term, tf) for non-null-text docs — one explode + one
    groupBy; shared by the IR queries."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return (
        docs.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


_TF_SQL = f"""
      SELECT doc_id, term, count(*) AS tf
      FROM (SELECT doc_id, unnest({_TOKS}) AS term
            FROM documents WHERE text IS NOT NULL)
      GROUP BY 1, 2
"""


@register(
    "tfidf_top_terms",
    f"""
    WITH tf AS ({_TF_SQL}),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             round(tf.tf * ln((SELECT n FROM n) * 1.0 / df.df), 4) AS tfidf
      FROM tf JOIN df USING (term)
    )
    SELECT doc_id, term, tf, tfidf
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                      ORDER BY tfidf DESC, term) AS rk FROM scored)
    WHERE rk <= 3
    ORDER BY doc_id, tfidf DESC, term
    """,
    tags=["text", "ir", "tfidf"],
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document. df is computed from the tf
    relation (already one row per doc×term, so count(*) IS the document
    frequency); N (docs with ≥1 token) is a 1-row agg broadcast into the
    score. Ranking orders on the rounded score so both engines agree."""
    tf = _tf(spark, sf_dir)
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = tf.agg(F.count_distinct("doc_id").alias("n"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .withColumn("tfidf", F.round(F.col("tf") * F.log(F.col("n") / F.col("df")), 4))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tf", "tfidf")
        .orderBy("doc_id", F.col("tfidf").desc(), "term")
    )


@register(
    "inverted_index",
    f"""
    WITH tf AS ({_TF_SQL})
    SELECT term,
           count(*) AS n_docs,
           CAST(sum(tf) AS BIGINT) AS total_tf,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
    FROM tf GROUP BY term ORDER BY term
    """,
    tags=["text", "ir", "index"],
)
def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting lists per term: doc count, collection frequency, and the
    sorted doc_id list serialized to one string. collect_list is
    unordered in a distributed agg, so the list is array_sort'ed before
    joining — same total order as the oracle's ORDER BY inside
    string_agg. At 100 TB cap posting length (top-df terms are skew)."""
    tf = _tf(spark, sf_dir)
    postings = F.array_join(
        F.transform(F.array_sort(F.collect_list("doc_id")), lambda x: x.cast("string")),
        ",",
    )
    return (
        tf.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tf").alias("total_tf"),
            postings.alias("postings"),
        )
        .orderBy("term")
    )


@register(
    "token_cooccurrence_topk",
    f"""
    WITH tf AS ({_TF_SQL})
    SELECT a.term AS term1, b.term AS term2, count(*) AS n_docs
    FROM tf a JOIN tf b ON a.doc_id = b.doc_id AND a.term < b.term
    GROUP BY 1, 2
    ORDER BY n_docs DESC, term1, term2
    LIMIT 20
    """,
    tags=["text", "ir", "cooccurrence"],
)
def token_cooccurrence_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 token pairs by document co-occurrence. The pair space is
    generated by an equi-join on doc_id (per-doc quadratic, globally
    linear in Σ|doc_vocab|²); counts are integers so the top-k needs only
    the lexicographic tiebreaker."""
    tf = _tf(spark, sf_dir)
    a = tf.select("doc_id", F.col("term").alias("term1"))
    b = tf.select("doc_id", F.col("term").alias("term2"))
    return (
        a.join(b, "doc_id")
        .filter(F.col("term1") < F.col("term2"))
        .groupBy("term1", "term2")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.col("n_docs").desc(), "term1", "term2")
        .limit(20)
    )


_DECILE_SQL = """
    WITH spend AS (
      SELECT c_custkey, round(sum(o_totalprice), 2) AS spend
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1
    ), tiled AS (
      SELECT c_custkey, spend,
             ntile(10) OVER (ORDER BY spend DESC, c_custkey) AS decile
      FROM spend
    )
    SELECT decile, count(*) AS n_customers,
           round(sum(spend), 2) AS revenue,
           round(sum(spend) / (SELECT sum(spend) FROM spend), 4) AS share
    FROM tiled GROUP BY decile ORDER BY decile
    """


def _customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("spend"))
    )


def _decile_share(spend: DataFrame, tiled: DataFrame) -> DataFrame:
    total = spend.agg(F.sum("spend").alias("total"))
    return (
        tiled.groupBy("decile")
        .agg(F.count(F.lit(1)).alias("n_customers"), F.sum("spend").alias("rev"))
        .crossJoin(F.broadcast(total))
        .select(
            "decile",
            "n_customers",
            F.round("rev", 2).alias("revenue"),
            F.round(F.col("rev") / F.col("total"), 4).alias("share"),
        )
        .orderBy("decile")
    )


@register(
    "revenue_decile_share",
    _DECILE_SQL,
    tags=["analytics", "window", "concentration"],
)
def revenue_decile_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration: customers ntile'd into spend deciles
    (total order: rounded spend DESC, custkey), each decile's share of
    total. This is the global-window oracle twin;
    ``revenue_decile_share_scale`` computes the identical tiling with a
    distributed rank (operators/ranking.py) and no global sort."""
    spend = _customer_spend(spark, sf_dir)
    tiled = spend.withColumn(
        "decile",
        F.ntile(10)
        .over(Window.orderBy(F.col("spend").desc(), "c_custkey"))
        .cast("long"),
    )
    return _decile_share(spend, tiled)


@register(
    "revenue_decile_share_scale",
    _DECILE_SQL,
    tags=["analytics", "window", "concentration", "scale"],
)
def revenue_decile_share_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB tiling plan: exact global rank via the two-phase
    range-partitioned prefix count (operators/ranking.py — no
    single-partition window), then ntile reproduced arithmetically
    from (rank, n). Integer-exact, so the SAME ntile oracle gates it —
    better than the sampled-CDF alternative, which would need a
    tolerance gate."""
    spend = _customer_spend(spark, sf_dir)
    ranked = ranking.global_row_number(
        spend, [F.col("spend").desc(), F.col("c_custkey")], "i", scale=True
    )
    n = ranked.agg(F.count(F.lit(1)).cast("long").alias("n"))
    tiled = ranked.crossJoin(F.broadcast(n)).withColumn(
        "decile", ranking.ntile_from_rank(F.col("i"), F.col("n"), 10)
    )
    return _decile_share(spend, tiled)


_GINI_SQL = """
    WITH spend AS (
      SELECT c_custkey, round(sum(o_totalprice), 2) AS spend
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1
    ), ranked AS (
      SELECT spend,
             row_number() OVER (ORDER BY spend, c_custkey) AS i,
             count(*) OVER () AS n
      FROM spend
    )
    SELECT round(sum((2.0 * i - n - 1) * spend) / (max(n) * sum(spend)), 4) AS gini,
           CAST(max(n) AS BIGINT) AS n_customers
    FROM ranked
    """


def _gini_from_ranked(ranked: DataFrame) -> DataFrame:
    return ranked.agg(
        F.round(
            F.sum((2.0 * F.col("i") - F.col("n") - 1) * F.col("spend"))
            / (F.max("n") * F.sum("spend")),
            4,
        ).alias("gini"),
        F.max("n").cast("long").alias("n_customers"),
    )


@register("revenue_gini", _GINI_SQL, tags=["analytics", "concentration"])
def revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend via the sorted-rank identity
    G = Σ(2i-n-1)·xᵢ / (n·Σx). One global-sort window (rank), then a
    scalar aggregation; the big normalizer absorbs summation-order noise
    before the 4-dp round. ``revenue_gini_scale`` is the
    distributed-rank plan against the same oracle."""
    spend = _customer_spend(spark, sf_dir)
    w = Window.orderBy("spend", "c_custkey")
    ranked = spend.select(
        "spend",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    return _gini_from_ranked(ranked)


@register(
    "revenue_gini_scale",
    _GINI_SQL,
    tags=["analytics", "concentration", "scale"],
)
def revenue_gini_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB Gini plan: exact rank from the two-phase distributed
    row_number (operators/ranking.py), n as a broadcast scalar, then
    the same one-row aggregation — no single-partition window. Rank is
    integer-exact; the Σ(2i-n-1)·xᵢ double sum reassociates across
    partitions but the n²·mean normalizer + 4-dp round absorb it (the
    pagerank-scale precedent)."""
    spend = _customer_spend(spark, sf_dir)
    ranked = ranking.global_row_number(
        spend, [F.col("spend"), F.col("c_custkey")], "i", scale=True
    )
    n = spend.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return _gini_from_ranked(ranked.crossJoin(F.broadcast(n)))


# ===========================================================================
# URL canonicalization + domain rollup (functions/urls.py) — the
# web-corpus hygiene stage (C4/RefinedWeb-style): dedupe by canonical
# URL, quota by registrable domain. Documents carry no URL column, so
# both engines synthesize the SAME deterministic raw URL per doc_id
# (mixed-case scheme/host, default + non-default ports, tracking
# params, fragments, trailing slashes, multi-label ccTLD hosts) — the
# established perturbed-copies pattern.
# ===========================================================================

_RAW_URL_SQL = """
  urls AS (
    SELECT doc_id, source,
      (CASE doc_id % 3 WHEN 0 THEN 'http' WHEN 1 THEN 'HTTPS' ELSE 'https' END)
      || '://'
      || (CASE doc_id % 7 WHEN 0 THEN 'WWW.Example.COM' WHEN 1 THEN 'news.Site.co.uk'
                          WHEN 2 THEN 'cdn.Example.com' WHEN 3 THEN 'sub.domain.org'
                          WHEN 4 THEN 'localhost' WHEN 5 THEN '192.168.0.3'
                          ELSE '[2001:DB8::1]' END)
      || (CASE doc_id % 5 WHEN 0 THEN ':80' WHEN 1 THEN '' WHEN 2 THEN ':443'
                          WHEN 3 THEN ':8080' ELSE '' END)
      || (CASE (doc_id + 2) % 5 WHEN 0 THEN '/a/b/' WHEN 1 THEN '/a/b' WHEN 2 THEN '/'
                                WHEN 3 THEN '' ELSE '/x//' END)
      || (CASE (doc_id + 1) % 4 WHEN 0 THEN '?utm_source=x&b=2&a=1' WHEN 1 THEN '?gclid=9'
                                WHEN 2 THEN '' ELSE '?z=1&utm_campaign=c&y=2' END)
      || (CASE (doc_id + 1) % 3 WHEN 0 THEN '#sec' ELSE '' END)
      AS raw_url
    FROM documents
  )
"""

_URL_RE_SQL = r"'^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?.*$'"
_TRACK_RE_SQL = r"'^(utm_[^=]*|fbclid|gclid|msclkid|mc_eid)='"

_CANON_SQL = f"""
  parts AS (
    SELECT doc_id, source, raw_url,
           lower(regexp_extract(raw_url, {_URL_RE_SQL}, 1)) AS scheme,
           lower(regexp_extract(raw_url, {_URL_RE_SQL}, 2)) AS auth0,
           regexp_replace(regexp_extract(raw_url, {_URL_RE_SQL}, 3), '/+$', '') AS path,
           regexp_extract(raw_url, {_URL_RE_SQL}, 4) AS q
    FROM urls
  ),
  canon AS (
    SELECT doc_id, source, raw_url,
      scheme,
      CASE WHEN scheme = 'http' THEN regexp_replace(auth0, ':80$', '')
           WHEN scheme = 'https' THEN regexp_replace(auth0, ':443$', '')
           ELSE auth0 END AS auth,
      path,
      CASE WHEN len(list_filter(string_split(substr(q, 2), '&'),
                     x -> x <> '' AND NOT regexp_matches(x, {_TRACK_RE_SQL}))) > 0
           THEN '?' || array_to_string(
                  list_sort(list_filter(string_split(substr(q, 2), '&'),
                    x -> x <> '' AND NOT regexp_matches(x, {_TRACK_RE_SQL}))), '&')
           ELSE '' END AS qc
    FROM parts
  ),
  curls AS (
    SELECT doc_id, source, raw_url,
           scheme || '://' || auth || path || qc AS canon_url,
           regexp_replace(regexp_replace(auth, '^[^@]*@', ''), ':[0-9]*$', '') AS host
    FROM canon
  ),
  domains AS (
    SELECT doc_id, source, raw_url, canon_url, host,
      CASE WHEN host LIKE '[%' OR regexp_matches(host, '^\\d{{1,3}}(\\.\\d{{1,3}}){{3}}$')
            OR len(string_split(host, '.')) < 2
           THEN host
           WHEN len(string_split(host, '.')) >= 3
            AND string_split(host, '.')[len(string_split(host, '.')) - 1]
                IN ('co','com','org','net','ac','gov','edu')
           THEN concat_ws('.',
                  string_split(host, '.')[len(string_split(host, '.')) - 2],
                  string_split(host, '.')[len(string_split(host, '.')) - 1],
                  string_split(host, '.')[len(string_split(host, '.'))])
           WHEN len(string_split(host, '.')) >= 2
           THEN concat_ws('.',
                  string_split(host, '.')[len(string_split(host, '.')) - 1],
                  string_split(host, '.')[len(string_split(host, '.'))])
           ELSE host END AS domain
    FROM curls
  )
"""


def _raw_url_col(i: Column) -> Column:
    """The deterministic synthetic raw URL for an id column — Spark twin
    of _RAW_URL_SQL, parameterized so the injected-copy corpus (ids
    shifted +100000) can carry URLs too (combined_dedup_clusters)."""

    def pick(mod, options, col=i):
        c = F.when(col % mod == 0, F.lit(options[0]))
        for k in range(1, mod):
            c = c.when(col % mod == k, F.lit(options[k]))
        return c

    return F.concat(
        pick(3, ["http", "HTTPS", "https"]),
        F.lit("://"),
        pick(
            7,
            [
                "WWW.Example.COM",
                "news.Site.co.uk",
                "cdn.Example.com",
                "sub.domain.org",
                "localhost",
                "192.168.0.3",
                "[2001:DB8::1]",
            ],
        ),
        pick(5, [":80", "", ":443", ":8080", ""]),
        pick(5, ["/a/b/", "/a/b", "/", "", "/x//"], col=i + 2),
        pick(4, ["?utm_source=x&b=2&a=1", "?gclid=9", "", "?z=1&utm_campaign=c&y=2"], col=i + 1),
        pick(3, ["#sec", "", ""], col=i + 1),
    )


def _raw_urls_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "documents").select(
        "doc_id", "source", _raw_url_col(F.col("doc_id")).alias("raw_url")
    )


@register(
    "url_canonicalize_battery",
    f"""
    WITH {_RAW_URL_SQL}, {_CANON_SQL}
    SELECT doc_id, raw_url, canon_url, host, domain
    FROM domains WHERE doc_id < 120
    """,
    tags=["corpus", "urls"],
)
def url_canonicalize_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every canonicalization rule exercised and cross-engine-pinned:
    case folding, default-port stripping (http:80 and https:443 strip,
    https:80/:8080 survive), fragment drop, tracking-param removal with
    byte-order param sort, trailing-slash trim, and the registrable-
    domain heuristic incl. the co.uk allowlist branch AND the atomic-host
    bypass (``localhost``, bare IPv4, bracketed IPv6 with/without port —
    each rolls up as itself, cross-engine-pinned). Pure Catalyst — the
    plan is a single narrow projection."""
    from reddit_tech_jobs_data_pipeline_spark.functions import urls as U

    raw = _raw_urls_df(spark, sf_dir).filter(F.col("doc_id") < 120)
    host = U.url_host(F.col("raw_url"))
    return raw.select(
        "doc_id",
        "raw_url",
        U.canonicalize_url(F.col("raw_url")).alias("canon_url"),
        host.alias("host"),
        U.registrable_domain(host).alias("domain"),
    )


@register(
    "canonical_url_dedup",
    f"""
    WITH {_RAW_URL_SQL}, {_CANON_SQL}
    SELECT canon_url, count(*) AS n_docs, min(doc_id) AS keeper_doc
    FROM domains GROUP BY canon_url
    """,
    tags=["corpus", "urls", "dedup"],
)
def canonical_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level exact dedup: group by CANONICAL url (raw variants that
    differ only by case/port/params/fragment/slashes collapse together),
    keeper = min doc_id — the pre-text web-corpus dedup pass. One
    hash-shuffle groupBy on the canonical string; at 100 TB this is the
    cheapest dedup stage and runs before any shingling touches text."""
    from reddit_tech_jobs_data_pipeline_spark.functions import urls as U

    raw = _raw_urls_df(spark, sf_dir)
    return (
        raw.select("doc_id", U.canonicalize_url(F.col("raw_url")).alias("canon_url"))
        .groupBy("canon_url")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_doc"),
        )
    )


@register(
    "domain_doc_rollup",
    f"""
    WITH {_RAW_URL_SQL}, {_CANON_SQL}
    SELECT domain, count(*) AS n_docs,
           count(DISTINCT source) AS n_sources,
           count(DISTINCT canon_url) AS n_urls
    FROM domains GROUP BY domain
    """,
    tags=["corpus", "urls"],
)
def domain_doc_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registrable-domain rollup — the unit of per-site quotas and
    blocklists in web-corpus curation. Aggregates shuffle on the
    low-cardinality domain key with map-side partial aggregation;
    hot-domain skew is the known risk and the two-phase salted agg
    (salted_agg_equivalence) is the mitigation at 100 TB."""
    from reddit_tech_jobs_data_pipeline_spark.functions import urls as U

    raw = _raw_urls_df(spark, sf_dir)
    host = U.url_host(F.col("raw_url"))
    canon = U.canonicalize_url(F.col("raw_url"))
    return (
        raw.select(
            "source",
            canon.alias("canon_url"),
            U.registrable_domain(host).alias("domain"),
        )
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.countDistinct("canon_url").alias("n_urls"),
        )
    )


@register(
    "domain_quota_cap",
    f"""
    WITH {_RAW_URL_SQL}, {_CANON_SQL},
    keepers AS (
      SELECT canon_url, min(doc_id) AS doc_id, min(domain) AS domain
      FROM domains GROUP BY canon_url
    )
    SELECT domain, doc_id, canon_url FROM (
      SELECT domain, doc_id, canon_url,
             row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rn
      FROM keepers
    ) WHERE rn <= 5
    """,
    tags=["corpus", "urls", "sampling", "scale"],
)
def domain_quota_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registrable-domain quota enforcement — the curation step
    BETWEEN URL-level dedup and text-level dedup in a web-corpus
    pipeline (no single site may dominate the mix): canonical-URL dedup
    first (keeper = min doc_id per canonical URL), then keep at most N=5
    keeper docs per registrable domain in deterministic (doc_id) order.

    100 TB shape: one hash-shuffle groupBy on canon_url (high
    cardinality, well-spread), then a per-domain top-N on the far
    smaller keeper set — a hot domain is exactly the skew case, so at
    scale the rank runs two-phase per (domain, salt) first as in
    per_source_quota_cap / operators/ranking.py. The domain column
    derives functionally from canon_url, so min(domain) per group is
    exact, not an arbitrary pick."""
    from pyspark.sql import Window

    from reddit_tech_jobs_data_pipeline_spark.functions import urls as U

    raw = _raw_urls_df(spark, sf_dir)
    host = U.url_host(F.col("raw_url"))
    keepers = (
        raw.select(
            "doc_id",
            U.canonicalize_url(F.col("raw_url")).alias("canon_url"),
            U.registrable_domain(host).alias("domain"),
        )
        .groupBy("canon_url")
        .agg(F.min("doc_id").alias("doc_id"), F.min("domain").alias("domain"))
    )
    w = Window.partitionBy("domain").orderBy("doc_id")
    return (
        keepers.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("domain", "doc_id", "canon_url")
    )


# --- PSL-as-data battery -----------------------------------------------
# Oracle-gates functions/urls.registrable_domain_psl (longest-match
# public-suffix lookup via chained broadcast joins) against a DuckDB
# longest-match twin over the SAME inline mini-PSL, on hosts chosen to
# hit every branch: 1/2/4-label suffixes, private-section suffixes,
# heuristic-fallback hosts, and atomic hosts.

_PSL_SUFFIXES = [
    "com", "org", "uk", "co.uk", "jp", "nagoya.jp",
    "us", "k12.ma.us", "pvt.k12.ma.us", "io", "github.io", "fr", "gouv.fr",
]
_PSL_HOSTS = [
    "www.example.com",    # depth-1 match, agrees with heuristic
    "news.site.co.uk",    # depth-2 match, agrees (allowlist covers co.uk)
    "foo.nagoya.jp",      # depth-2 match, DIVERGES from heuristic
    "a.b.pvt.k12.ma.us",  # depth-4 match, DIVERGES
    "user.github.io",     # private-section suffix, DIVERGES
    "site.gouv.fr",       # multi-part ccTLD, DIVERGES
    "localhost",          # atomic → heuristic fallback → itself
    "unknown.tld.zz",     # no PSL match → heuristic fallback
]


def _heuristic_domain_sql(col: str) -> str:
    ls = f"string_split({col}, '.')"
    return f"""
      CASE WHEN {col} LIKE '[%' OR regexp_matches({col}, '^\\d{{1,3}}(\\.\\d{{1,3}}){{3}}$')
            OR len({ls}) < 2
           THEN {col}
           WHEN len({ls}) >= 3
            AND {ls}[len({ls}) - 1] IN ('co','com','org','net','ac','gov','edu')
           THEN concat_ws('.', {ls}[len({ls}) - 2], {ls}[len({ls}) - 1], {ls}[len({ls})])
           ELSE concat_ws('.', {ls}[len({ls}) - 1], {ls}[len({ls})]) END
    """


_PSL_HOST_CASE = "CASE doc_id % 8 " + " ".join(
    f"WHEN {k} THEN '{h}'" for k, h in enumerate(_PSL_HOSTS[:-1])
) + f" ELSE '{_PSL_HOSTS[-1]}' END"

_PSL_VALUES = ", ".join(f"('{s}')" for s in _PSL_SUFFIXES)


@register(
    "psl_domain_battery",
    f"""
    WITH hosts AS (
      SELECT doc_id, {_PSL_HOST_CASE} AS host
      FROM documents WHERE doc_id < 200
    ),
    psl AS (SELECT * FROM (VALUES {_PSL_VALUES}) t(suffix)),
    cand AS (
      SELECT h.doc_id, len(string_split(p.suffix, '.')) AS d
      FROM hosts h JOIN psl p
        ON len(string_split(h.host, '.')) > len(string_split(p.suffix, '.'))
       AND array_to_string(list_slice(string_split(h.host, '.'),
             len(string_split(h.host, '.')) - len(string_split(p.suffix, '.')) + 1,
             len(string_split(h.host, '.'))), '.') = p.suffix
    ),
    best AS (SELECT doc_id, max(d) AS d FROM cand GROUP BY doc_id)
    SELECT h.doc_id, h.host,
      CASE WHEN b.d IS NOT NULL
           THEN array_to_string(list_slice(string_split(h.host, '.'),
                  len(string_split(h.host, '.')) - b.d,
                  len(string_split(h.host, '.'))), '.')
           ELSE {_heuristic_domain_sql('h.host')} END AS domain_psl,
      {_heuristic_domain_sql('h.host')} AS domain_heur,
      (CASE WHEN b.d IS NOT NULL
            THEN array_to_string(list_slice(string_split(h.host, '.'),
                   len(string_split(h.host, '.')) - b.d,
                   len(string_split(h.host, '.'))), '.')
            ELSE {_heuristic_domain_sql('h.host')} END)
        <> ({_heuristic_domain_sql('h.host')}) AS diverges
    FROM hosts h LEFT JOIN best b USING (doc_id)
    """,
    tags=["corpus", "urls"],
)
def psl_domain_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSL-as-data registrable domains, cross-engine-pinned: Spark runs
    registrable_domain_psl (chained broadcast longest-match joins over
    the inline mini-PSL, heuristic fallback); DuckDB recomputes longest
    match relationally. ``diverges`` marks exactly the hosts where the
    data-driven PSL beats the allowlist heuristic (nagoya.jp,
    pvt.k12.ma.us, github.io, gouv.fr shapes) — divergence itself is
    part of the pinned contract. 100 TB shape: corpus-side narrow
    pipeline through d broadcast hash joins, zero shuffle."""
    from reddit_tech_jobs_data_pipeline_spark.functions import urls as U

    host = F.col("host")
    hosts = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
    )
    case = F.when(F.col("doc_id") % 8 == 0, F.lit(_PSL_HOSTS[0]))
    for k in range(1, 7):
        case = case.when(F.col("doc_id") % 8 == k, F.lit(_PSL_HOSTS[k]))
    hosts = hosts.withColumn("host", case.otherwise(F.lit(_PSL_HOSTS[7])))
    psl = spark.createDataFrame([(s,) for s in _PSL_SUFFIXES], "suffix string")
    out = U.registrable_domain_psl(hosts, "host", psl, out_col="domain_psl")
    return out.select(
        "doc_id",
        "host",
        "domain_psl",
        U.registrable_domain(host).alias("domain_heur"),
        (F.col("domain_psl") != U.registrable_domain(host)).alias("diverges"),
    )


@register(
    "domain_token_quota",
    f"""
    WITH {_RAW_URL_SQL}, {_CANON_SQL},
    keepers AS (
      SELECT canon_url, min(doc_id) AS doc_id, min(domain) AS domain
      FROM domains GROUP BY canon_url
    ),
    sized AS (
      SELECT k.domain, k.doc_id,
             coalesce(len(list_filter(
               regexp_split_to_array(lower(d.text), '\\W+'), x -> x <> '')), 0)
               AS n_tokens
      FROM keepers k JOIN documents d ON d.doc_id = k.doc_id
    )
    SELECT domain, doc_id, n_tokens, cum_tokens FROM (
      SELECT domain, doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY domain ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_tokens
      FROM sized
    ) WHERE cum_tokens <= 500
    """,
    tags=["corpus", "urls", "sampling", "scale"],
)
def domain_token_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget flavor of the per-domain quota: after canonical-URL
    dedup, each registrable domain contributes docs in deterministic
    (doc_id) order only until its CUMULATIVE token count would exceed
    the budget (500 here) — the docs-vs-tokens distinction matters
    because a domain of few huge pages can dominate a token-counted
    training mix while passing a doc-count cap.

    100 TB shape: same as domain_quota_cap (groupBy canon_url, then a
    per-domain window over the much smaller keeper set) plus one
    broadcast-friendly join back to documents for token counts; the
    running sum is a single window — the distributed two-phase prefix
    sum in operators/packing.py is the drop-in at extreme per-domain
    cardinality."""
    from reddit_tech_jobs_data_pipeline_spark.functions import urls as U

    raw = _raw_urls_df(spark, sf_dir)
    host = U.url_host(F.col("raw_url"))
    keepers = (
        raw.select(
            "doc_id",
            U.canonicalize_url(F.col("raw_url")).alias("canon_url"),
            U.registrable_domain(host).alias("domain"),
        )
        .groupBy("canon_url")
        .agg(F.min("doc_id").alias("doc_id"), F.min("domain").alias("domain"))
    )
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.coalesce(F.size(tokens("text")), F.lit(0)).cast("long").alias("n_tokens"),
    )
    sized = keepers.join(docs, "doc_id").select("domain", "doc_id", "n_tokens")
    w = (
        Window.partitionBy("domain")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        sized.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= 500)
        .select("domain", "doc_id", "n_tokens", "cum_tokens")
    )


@register(
    "leakage_safe_splits",
    f"""
    WITH {_RAW_URL_SQL}, {_CANON_SQL},
    keyed AS (
      SELECT doc_id, canon_url,
             ('0x' || substr(md5(canon_url), 1, 8))::BIGINT AS h
      FROM domains
    ),
    tagged AS (
      SELECT doc_id, canon_url,
             CASE WHEN h % 100 < 98 THEN 'train'
                  WHEN h % 100 < 99 THEN 'val'
                  ELSE 'test' END AS split
      FROM keyed
    )
    SELECT split,
           count(*) AS n_docs,
           count(DISTINCT canon_url) AS n_urls,
           CAST(min(doc_id) AS BIGINT) AS min_doc
    FROM tagged GROUP BY split
    """,
    tags=["corpus", "sampling", "scale"],
)
def leakage_safe_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment WITHOUT URL leakage: the split key is
    the md5 of the CANONICAL URL, not the doc id — every variant of the
    same page (case, tracking params, trailing slash, fragment) hashes
    to the same split, so URL-level near-duplicates can never straddle
    train and test. 98/1/1 by hash band — deterministic, engine- and
    partitioning-independent (the universe-sampling property of
    deterministic_sample, applied to the leakage boundary). Narrow
    projection + one groupBy for the report; the per-doc assignment
    itself is shuffle-free at 100 TB."""
    from reddit_tech_jobs_data_pipeline_spark.functions import urls as U

    raw = _raw_urls_df(spark, sf_dir)
    canon = U.canonicalize_url(F.col("raw_url"))
    h = F.conv(F.substring(F.md5(canon), 1, 8), 16, 10).cast("long")
    tagged = raw.select(
        "doc_id",
        canon.alias("canon_url"),
        F.when(h % 100 < 98, F.lit("train"))
        .when(h % 100 < 99, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    return tagged.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("canon_url").alias("n_urls"),
        F.min("doc_id").cast("long").alias("min_doc"),
    )


# Shared CTE chain: per-doc ordered-fold sum (s) and token count over the
# corpus' own empirical unigram distribution. Used by
# unigram_logprob_quality AND curriculum_quality_order below.
_UNIGRAM_CTES = f"""
    d AS (SELECT doc_id, {_TOKS} AS ws FROM documents WHERE text IS NOT NULL),
    tok AS (SELECT doc_id, unnest(ws) AS term, generate_subscripts(ws, 1) AS pos FROM d),
    cnt AS (SELECT term, count(*) AS c FROM tok GROUP BY term),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cnt),
    lpm AS (SELECT term, log10(c * 1.0 / (SELECT n FROM tot)) AS lp FROM cnt),
    per AS (
      SELECT t.doc_id,
             count(*) AS n_tok,
             list_reduce(list_prepend(0.0, list(m.lp ORDER BY t.pos)),
                         (a, x) -> a + x) AS s
      FROM tok t JOIN lpm m USING (term)
      GROUP BY t.doc_id
    )
"""


@register(
    "unigram_logprob_quality",
    f"""
    WITH {_UNIGRAM_CTES}
    SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
           round(s / n_tok, 4) AS mean_logp
    FROM per
    """,
    tags=["text", "quality", "scale"],
)
def unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model-flavoured quality score without an LM dependency:
    per-doc mean unigram log10-probability under the corpus' own
    empirical token distribution (the classic cheap perplexity proxy —
    gibberish and boilerplate-free junk score far below fluent text).
    Per-doc summation is an ORDERED fold over tokens in document order
    (sort_array(collect_list(struct(pos, lp))) then aggregate — the
    kmeans/Gini playbook), so both engines add the same doubles in the
    same sequence and the 4-dp round is safely inside fp noise.

    100 TB shape: token explode + one groupBy(term) for the vocabulary
    (map-side combined; vocab ≪ corpus), the logp table joins back
    broadcast (cap to a top-V vocabulary + OOV floor when the real
    vocab outgrows broadcast range), and one groupBy(doc_id) whose
    per-doc state is the token list — bounded by doc length exactly
    like token_budget_packing's per-doc arrays."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tok = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "term")
    )
    # vocab table materialized once: the total-count agg and the logp
    # projection below are separate branches, and without the checkpoint
    # each re-derives cnt from its OWN corpus scan (plan-audited 3 scans
    # before; 2 after — the two remaining passes, vocab-build and
    # score-join, are the inherent aggregate-then-apply pair)
    cnt = (
        tok.groupBy("term").agg(F.count(F.lit(1)).alias("c")).localCheckpoint()
    )
    tot = cnt.agg(F.sum("c").cast("long").alias("n"))
    lpm = cnt.crossJoin(F.broadcast(tot)).select(
        "term", F.log10(F.col("c") * 1.0 / F.col("n")).alias("lp")
    )
    per = (
        tok.join(F.broadcast(lpm), "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.aggregate(
                F.sort_array(F.collect_list(F.struct("pos", "lp"))),
                F.lit(0.0),
                lambda acc, x: acc + x["lp"],
            ).alias("s"),
        )
    )
    return per.select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tok"),
        F.round(F.col("s") / F.col("n_tok"), 4).alias("mean_logp"),
    )


@register(
    "doc_chunking_windows",
    f"""
    WITH d AS (
      SELECT doc_id, {_TOKS} AS ws FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id,
           CAST(s // 48 AS BIGINT) AS chunk_idx,
           CAST(s AS BIGINT) AS start_tok,
           CAST(len(list_slice(ws, s + 1, s + 64)) AS BIGINT) AS n_chunk_tokens,
           array_to_string(list_slice(ws, s + 1, s + 64), ' ') AS chunk_text
    FROM d, unnest(range(0, len(ws), 48)) t(s)
    """,
    tags=["corpus", "text", "scale"],
)
def doc_chunking_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the context-window prep step
    between cleaning and packing in a training pipeline: each doc is
    split into windows of up to 64 tokens at stride 48 (25% overlap so
    no boundary loses context). Pure integer arithmetic over the token
    array (sequence → explode → slice) — no floats anywhere, so the
    cross-engine contract is exact by construction.

    100 TB shape: narrow per-doc explode with bounded fan-out
    (ceil(n_tok/stride) chunks/doc) and ZERO shuffles — chunking is a
    map; the downstream packer (token_budget_packing) does the
    shuffling. Degenerate docs (null/empty token list) produce no
    chunks on either engine."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # no size(ws) > 0 filter: sequence(0, -1, 48) is empty, so explode
    # drops zero-token docs anyway — the filter only forced a second
    # tokenizer run via predicate pushdown (alias substitution)
    base = docs.select("doc_id", tokens("text").alias("ws"))
    chunks = base.select(
        "doc_id",
        "ws",
        F.explode(
            F.sequence(F.lit(0), F.size("ws") - 1, F.lit(48))
        ).alias("s"),
    )
    chunk = F.slice("ws", F.col("s") + 1, 64)
    return chunks.select(
        "doc_id",
        (F.col("s") / 48).cast("long").alias("chunk_idx"),
        F.col("s").cast("long").alias("start_tok"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


@register(
    "repeated_ngram_coverage",
    f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS ws FROM documents WHERE text IS NOT NULL),
    b AS (SELECT doc_id, len(ws) AS n_tok, ws FROM d WHERE len(ws) > 0),
    g AS (
      SELECT doc_id, CAST(s AS BIGINT) AS pos,
             substr(md5(array_to_string(list_slice(ws, s + 1, s + 8), ' ')), 1, 16) AS gh
      FROM b, unnest(range(0, greatest(n_tok - 7, 0))) t(s)
    ),
    dup AS (SELECT gh FROM g GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
    sp AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gh)),
    cov0 AS (
      SELECT doc_id,
             coalesce(least(8, pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)), 8) AS contrib
      FROM sp
    ),
    cov AS (SELECT doc_id, count(*) AS dup_spans, sum(contrib) AS covered
            FROM cov0 GROUP BY doc_id)
    SELECT b.doc_id, CAST(b.n_tok AS BIGINT) AS n_tok,
           CAST(coalesce(dup_spans, 0) AS BIGINT) AS dup_spans,
           CAST(coalesce(covered, 0) AS BIGINT) AS covered_tok,
           round(coalesce(covered, 0) * 1.0 / b.n_tok, 4) AS coverage
    FROM b LEFT JOIN cov USING (doc_id)
    """,
    tags=["corpus", "dedup", "scale"],
)
def repeated_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup, distributed form (Lee et al. 2022): per-doc
    fraction of tokens covered by 8-grams that also occur in >= 1 other
    document — catches boilerplate paragraphs whole-doc MinHash misses.
    Union-of-spans is closed-form for fixed-length intervals (one lag
    window per doc); see operators/dedup.repeated_ngram_coverage for the
    100 TB shuffle analysis (inverted-index shape, no all-pairs)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_ops.repeated_ngram_coverage(docs, n=8, min_docs=2)


@register(
    "dsir_importance_weights",
    DSIR_ONESHOT_SQL,
    tags=["corpus", "sampling", "quality", "scale"],
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling", arXiv:2302.03169): score
    every raw-pool document by how target-like its hashed-bigram feature
    distribution is. Features are bigrams hashed into 256 md5 buckets;
    the weight is the per-feature mean log-likelihood ratio
    ln p_target(b) - ln q_raw(b) with add-1 smoothing over the fixed
    bucket domain. Here the "target" corpus is sources src0/src1 and the
    raw pool is everything else — downstream, resample the raw pool
    proportional to exp(logw) (quality_weighted_sample's machinery).

    Determinism: per-doc summation is an ORDERED fold over feature
    positions (the unigram_logprob_quality playbook), so both engines
    add identical doubles in the same sequence; counts/totals are exact
    integers; the 4-dp round happens after the per-feature mean.

    100 TB shape: the bucket histograms are two map-side-combined
    groupBys that collapse to <= 256 rows each — the log-ratio table is
    broadcast BY CONSTRUCTION no matter the corpus size (that is the
    point of hashed features: the model size is fixed while the corpus
    grows), and the per-doc pass is one explode + one broadcast join +
    one groupBy(doc_id) with doc-length-bounded state. Implementation:
    operators/dsir.dsir_weights (the -0.0 normalization is documented
    there)."""
    from reddit_tech_jobs_data_pipeline_spark.operators import dsir

    docs = _t(spark, sf_dir, "documents")
    return dsir.dsir_weights(
        docs, F.col("source").isin("src0", "src1"), "text", "doc_id", 256
    )


@register(
    "duplicate_span_clip",
    f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS ws FROM documents WHERE text IS NOT NULL),
    b AS (SELECT doc_id, len(ws) AS n_tok, ws FROM d WHERE len(ws) > 0),
    g AS (
      SELECT doc_id, CAST(s AS BIGINT) AS pos,
             substr(md5(array_to_string(list_slice(ws, s + 1, s + 8), ' ')), 1, 16) AS gh
      FROM b, unnest(range(0, greatest(n_tok - 7, 0))) t(s)
    ),
    keepers AS (
      SELECT gh, min(doc_id) AS keeper
      FROM g GROUP BY gh HAVING count(DISTINCT doc_id) >= 2
    ),
    covered AS (
      SELECT DISTINCT g.doc_id, CAST(tp AS BIGINT) AS tpos
      FROM g JOIN keepers USING (gh), unnest(range(g.pos, g.pos + 8)) u(tp)
      WHERE g.doc_id <> keepers.keeper
    ),
    toks AS (
      SELECT doc_id, CAST(generate_subscripts(ws, 1) - 1 AS BIGINT) AS tpos,
             unnest(ws) AS term
      FROM b
    ),
    kept AS (
      SELECT t.doc_id, t.tpos, t.term
      FROM toks t ANTI JOIN covered c ON t.doc_id = c.doc_id AND t.tpos = c.tpos
    ),
    rebuilt AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(term, ' ' ORDER BY tpos) AS clean_text
      FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id, CAST(b.n_tok AS BIGINT) AS n_tok,
           CAST(b.n_tok - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
           coalesce(clean_text, '') AS clean_text
    FROM b LEFT JOIN rebuilt USING (doc_id)
    """,
    tags=["corpus", "dedup", "scale"],
)
def duplicate_span_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transform half of exact-substring dedup (Lee et al. 2022):
    every cross-doc duplicated 8-gram survives in ONE document
    corpus-wide (lowest doc id; that keeper retains all its in-doc
    occurrences) and is clipped from all other docs; surviving tokens
    re-join in order. Pairs with repeated_ngram_coverage (the measure
    half); see operators/dedup.duplicate_span_clip for the 100 TB
    analysis (inverted-index skeleton + bounded span expansion +
    doc-keyed anti-join)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_ops.duplicate_span_clip(docs, n=8)


@register(
    "corpus_export_e2e",
    f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS ws FROM documents WHERE text IS NOT NULL),
    b AS (SELECT doc_id, len(ws) AS n_tok, ws FROM d WHERE len(ws) > 0),
    g AS (
      SELECT doc_id, CAST(s AS BIGINT) AS pos,
             substr(md5(array_to_string(list_slice(ws, s + 1, s + 8), ' ')), 1, 16) AS gh
      FROM b, unnest(range(0, greatest(n_tok - 7, 0))) t(s)
    ),
    keepers AS (
      SELECT gh, min(doc_id) AS keeper
      FROM g GROUP BY gh HAVING count(DISTINCT doc_id) >= 2
    ),
    covered AS (
      SELECT DISTINCT g.doc_id, CAST(tp AS BIGINT) AS tpos
      FROM g JOIN keepers USING (gh), unnest(range(g.pos, g.pos + 8)) u(tp)
      WHERE g.doc_id <> keepers.keeper
    ),
    clipped AS (
      SELECT b.doc_id, b.n_tok,
             b.n_tok - coalesce(c.n_cov, 0) AS n_clean
      FROM b LEFT JOIN (SELECT doc_id, count(*) AS n_cov FROM covered GROUP BY doc_id) c
        USING (doc_id)
    ),
    kept AS (
      SELECT doc_id, n_clean FROM clipped
      WHERE n_clean >= 10 AND (n_tok - n_clean) * 2 < n_tok
    ),
    split AS (
      SELECT doc_id, n_clean,
             ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS sb
      FROM kept
    ),
    train AS (SELECT doc_id, n_clean FROM split WHERE sb < 98),
    sharded AS (
      SELECT doc_id, n_clean,
             ('0x' || substr(md5('s0:1:' || CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT % 8 AS shard
      FROM train
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           count(*) AS n_docs,
           CAST(sum(n_clean) AS BIGINT) AS n_tokens,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM sharded GROUP BY shard
    """,
    tags=["corpus", "dedup", "sampling", "scale"],
)
def corpus_export_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The export tail of the training pipeline as ONE query, catching
    interface drift between the round-7 stages the per-stage oracles
    cannot: exact-substring span clip (duplicate_span_clip) → keep docs
    with >= 10 surviving tokens and < 50% clipped (integer predicate:
    2 * removed < n_tok — no float thresholds anywhere) → 98% train
    split (doc-keyed md5 band) → deterministic epoch-shuffle shard
    assignment (operators/shuffling.epoch_shuffle keys) → per-shard
    manifest (docs, clean tokens, first doc). All counts are integers;
    the one ratio is expressed as a cross-multiplication, so the
    cross-engine contract is exact by construction.

    100 TB shape: the clip dominates (see duplicate_span_clip); the
    tail adds two stateless hash maps and ONE 8-row groupBy."""
    from reddit_tech_jobs_data_pipeline_spark.operators import shuffling

    docs = _t(spark, sf_dir, "documents")
    clipped = dedup_ops.duplicate_span_clip(docs, n=8)
    kept = clipped.select(
        "doc_id", (F.col("n_tok") - F.col("n_removed")).alias("n_clean"), "n_tok"
    ).filter(
        (F.col("n_clean") >= 10)
        & ((F.col("n_tok") - F.col("n_clean")) * 2 < F.col("n_tok"))
    )
    sb = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long") % 100
    train = kept.filter(sb < 98).select("doc_id", "n_clean")
    # shard_key only — the manifest needs no in-shard rank, so skip
    # epoch_shuffle's per-shard window (the writer path realizes order)
    sharded = train.withColumn(
        "shard", shuffling.shard_key("doc_id", seed="s0", epoch=1, num_shards=8)
    )
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_clean").cast("long").alias("n_tokens"),
        F.min("doc_id").cast("long").alias("first_doc"),
    )


def _multimodal_export_sql() -> str:
    """Recursive-CTE twin of the multimodal export chain: the
    corpus_export_e2e CTEs with the image-survivor stage (the
    image_dedup_survivors recursive CC) anti-joined in between the span
    clip and the split."""
    from reddit_tech_jobs_data_pipeline_spark.plans.catalog_analytics import (
        _phash_cte_body,
    )

    return f"""
    WITH RECURSIVE {_phash_cte_body()},
    iedges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(id, label) AS (
      SELECT src, src FROM iedges
      UNION
      SELECT e.src, r.label FROM iedges e JOIN reach r ON e.dst = r.id
    ),
    cl AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id),
    csizes AS (SELECT cluster_id, count(*) AS n FROM cl GROUP BY cluster_id),
    surv AS (
      SELECT d0.doc_id AS sid, CAST(coalesce(sz.n, 1) AS BIGINT) AS cluster_size
      FROM documents d0
      LEFT JOIN cl ON cl.id = d0.doc_id
      LEFT JOIN csizes sz ON sz.cluster_id = cl.cluster_id
      WHERE cl.id IS NULL OR cl.id = cl.cluster_id
    ),
    d AS (SELECT doc_id, {_TOKS} AS ws FROM documents WHERE text IS NOT NULL),
    b AS (SELECT doc_id, len(ws) AS n_tok, ws FROM d WHERE len(ws) > 0),
    g AS (
      SELECT doc_id, CAST(gs AS BIGINT) AS pos,
             substr(md5(array_to_string(list_slice(ws, gs + 1, gs + 8), ' ')), 1, 16) AS gh
      FROM b, unnest(range(0, greatest(n_tok - 7, 0))) t(gs)
    ),
    keepers AS (
      SELECT gh, min(doc_id) AS keeper
      FROM g GROUP BY gh HAVING count(DISTINCT doc_id) >= 2
    ),
    covered AS (
      SELECT DISTINCT g.doc_id, CAST(tp AS BIGINT) AS tpos
      FROM g JOIN keepers USING (gh), unnest(range(g.pos, g.pos + 8)) u(tp)
      WHERE g.doc_id <> keepers.keeper
    ),
    clipped AS (
      SELECT b.doc_id, b.n_tok,
             b.n_tok - coalesce(c.n_cov, 0) AS n_clean
      FROM b LEFT JOIN (SELECT doc_id, count(*) AS n_cov FROM covered GROUP BY doc_id) c
        USING (doc_id)
    ),
    kept AS (
      SELECT doc_id, n_clean FROM clipped
      WHERE n_clean >= 10 AND (n_tok - n_clean) * 2 < n_tok
    ),
    kept_img AS (
      SELECT k.doc_id, k.n_clean, s2.cluster_size
      FROM kept k JOIN surv s2 ON s2.sid = k.doc_id
    ),
    split AS (
      SELECT doc_id, n_clean, cluster_size,
             ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS sb
      FROM kept_img
    ),
    train AS (SELECT doc_id, n_clean, cluster_size FROM split WHERE sb < 98),
    sharded AS (
      SELECT doc_id, n_clean, cluster_size,
             ('0x' || substr(md5('s0:1:' || CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT % 8 AS shard
      FROM train
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           count(*) AS n_docs,
           CAST(sum(n_clean) AS BIGINT) AS n_tokens,
           CAST(sum(cluster_size) AS BIGINT) AS n_represented,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM sharded GROUP BY shard
    """


@register(
    "multimodal_corpus_export_e2e",
    _multimodal_export_sql(),
    tags=["corpus", "dedup", "multimodal", "sampling", "iterative", "scale"],
)
def multimodal_corpus_export_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus_export_e2e with the IMAGE modality composed in — proving
    the multimodal dedup family is a pipeline stage, not a standalone
    query: exact-substring span clip → keep docs >= 10 clean tokens and
    < 50% clipped → IMAGE-dedup survivor anti-join (the
    image_dedup_survivors CC: a doc whose perceptual-hash cluster
    representative is another doc drops; survivors carry cluster_size)
    → 98% train split → epoch-shuffle shard keys → per-shard manifest.
    The manifest gains n_represented = Σ cluster_size: how many RAW
    corpus items each shard stands for — the provenance weight mixture
    balancing needs so a 40-copy image family doesn't weigh 40×.

    100 TB shape: the span clip and the phash CC are the two audited
    heavyweights (inverted-index skeleton; linear star-edge band join +
    bounded-round contraction); the image stage adds ONE doc-keyed
    hash join to the chain — dedup evidence flows by id, never by
    payload."""
    from reddit_tech_jobs_data_pipeline_spark.operators import shuffling
    from reddit_tech_jobs_data_pipeline_spark.plans.catalog_analytics import (
        _image_survivors_df,
    )

    docs = _t(spark, sf_dir, "documents")
    clipped = dedup_ops.duplicate_span_clip(docs, n=8)
    kept = clipped.select(
        "doc_id", (F.col("n_tok") - F.col("n_removed")).alias("n_clean"), "n_tok"
    ).filter(
        (F.col("n_clean") >= 10)
        & ((F.col("n_tok") - F.col("n_clean")) * 2 < F.col("n_tok"))
    )
    surv = _image_survivors_df(spark, sf_dir).withColumnRenamed("id", "doc_id")
    kept_img = kept.join(surv, "doc_id")
    sb = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long") % 100
    train = kept_img.filter(sb < 98).select("doc_id", "n_clean", "cluster_size")
    sharded = train.withColumn(
        "shard", shuffling.shard_key("doc_id", seed="s0", epoch=1, num_shards=8)
    )
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_clean").cast("long").alias("n_tokens"),
        F.sum("cluster_size").cast("long").alias("n_represented"),
        F.min("doc_id").cast("long").alias("first_doc"),
    )


@register(
    "bigram_backoff_logprob",
    f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS ws FROM documents WHERE text IS NOT NULL),
    b AS (SELECT doc_id, ws, len(ws) AS n_tok FROM d WHERE len(ws) >= 2),
    uni AS (
      SELECT term, count(*) AS c FROM
        (SELECT unnest(ws) AS term FROM d) GROUP BY term
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
    bg AS (
      SELECT doc_id, CAST(s AS BIGINT) AS pos,
             ws[s + 1] AS w1, ws[s + 2] AS w2
      FROM b, unnest(range(0, n_tok - 1)) t(s)
    ),
    bgc AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY w1, w2),
    scored AS (
      SELECT bg.doc_id, bg.pos,
             CASE WHEN bgc.cb IS NOT NULL
                  THEN log10(bgc.cb * 1.0 / u1.c)
                  ELSE log10(0.4 * u2.c / (SELECT n FROM tot))
             END AS lp
      FROM bg
      LEFT JOIN bgc ON bg.w1 = bgc.w1 AND bg.w2 = bgc.w2
      JOIN uni u1 ON bg.w1 = u1.term
      JOIN uni u2 ON bg.w2 = u2.term
    ),
    per AS (
      SELECT doc_id, count(*) AS n_bigrams,
             list_reduce(list_prepend(0.0, list(lp ORDER BY pos)),
                         (a, x) -> a + x) AS s
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
           round(s / n_bigrams, 4) + 0.0 AS mean_logp
    FROM per
    """,
    tags=["text", "quality", "scale"],
)
def bigram_backoff_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM quality score with stupid backoff (Brants et al. 2007,
    "Large Language Models in Machine Translation"): per-doc mean
    log10 S(w_i | w_{i-1}) where S = c(w_{i-1} w_i) / c(w_{i-1}) when
    the bigram was seen, else 0.4 * c(w_i) / N — the CCNet-style
    perplexity-proxy upgrade of unigram_logprob_quality (a doc of
    plausible words in an implausible ORDER now scores low). The LM is
    the corpus' own counts; filter docs in the low tail.

    Determinism: every per-position score is a double computed from
    exact integer counts with the SAME operation order on both engines
    ((cb·1.0)/c1; (0.4·c2)/N); the per-doc sum is the ordered fold; the
    4-dp rounded mean gets the -0.0 normalization (a doc whose every
    bigram is deterministic — ratio 1, log 0 — folds to ±0.0).

    100 TB shape: one groupBy(w1,w2) builds the bigram table (map-side
    combined; its size is bounded by distinct bigrams, not corpus
    tokens) and joins back on the bigram key — the inverted-index
    shuffle; the unigram table is vocabulary-sized and broadcast (cap
    to top-V + OOV floor past broadcast range, the unigram playbook);
    the per-doc fold state is doc-length-bounded."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select("doc_id", tokens("text").alias("ws"))
    # unigram model table materialized once — it feeds three branches
    # (the total agg + two broadcast joins), each of which would
    # otherwise re-derive it from its own corpus scan (plan-audited
    # 5 scans before, 3 after; the remaining three are the inherent
    # passes: unigram build, bigram-table build, score join)
    uni = (
        toks.select(F.explode("ws").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    tot = uni.agg(F.sum("c").cast("long").alias("n"))
    bg = (
        # empty-position explode drops short docs without a filter(size)
        # whose pushdown would re-run the tokenizer per row; the when
        # guard is required because sequence(0, size-2) goes DESCENDING
        # for size < 2
        toks.select(
            "doc_id",
            "ws",
            F.explode(
                F.when(
                    F.size("ws") >= 2, F.sequence(F.lit(0), F.size("ws") - 2)
                ).otherwise(F.array().cast("array<int>"))
            ).alias("pos"),
        )
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            F.element_at("ws", F.col("pos") + 1).alias("w1"),
            F.element_at("ws", F.col("pos") + 2).alias("w2"),
        )
    )
    bgc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    scored = (
        bg.join(bgc, ["w1", "w2"], "left")
        .join(F.broadcast(uni.withColumnsRenamed({"term": "w1", "c": "c1"})), "w1")
        .join(F.broadcast(uni.withColumnsRenamed({"term": "w2", "c": "c2"})), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "pos",
            F.when(
                F.col("cb").isNotNull(), F.log10(F.col("cb") * 1.0 / F.col("c1"))
            )
            .otherwise(F.log10(F.lit(0.4) * F.col("c2") / F.col("n")))
            .alias("lp"),
        )
    )
    per = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("pos", "lp"))),
            F.lit(0.0),
            lambda acc, x: acc + x["lp"],
        ).alias("s"),
    )
    return per.select(
        "doc_id",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        (F.round(F.col("s") / F.col("n_bigrams"), 4) + 0.0).alias("mean_logp"),
    )


@register(
    "curriculum_quality_order",
    f"""
    WITH {_UNIGRAM_CTES},
    q AS (SELECT doc_id, round(s / n_tok, 4) AS mean_logp FROM per),
    t AS (
      SELECT doc_id, mean_logp,
             ntile(10) OVER (ORDER BY mean_logp DESC, doc_id) AS decile,
             md5('cur:1:' || CAST(doc_id AS VARCHAR)) AS h
      FROM q
    )
    SELECT doc_id, mean_logp, CAST(decile AS BIGINT) AS decile,
           CAST(row_number() OVER (PARTITION BY decile ORDER BY h, doc_id)
                AS BIGINT) AS pos_in_decile
    FROM t
    """,
    tags=["corpus", "sampling", "export", "scale"],
)
def curriculum_quality_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-curriculum training order: docs are cut into 10 deciles of
    the unigram-LM quality proxy (decile 1 = most fluent; ties break on
    doc_id over the 4-dp ROUNDED score — playbook rule, never order on
    unrounded doubles across engines) and SHUFFLED within each decile by
    a seeded md5 (the epoch_shuffle_shards keying). A trainer consumes
    deciles in order: highest-quality data first, annealing downward —
    the ordering knob epoch_shuffle_shards (uniform) deliberately does
    not have. Docs with NULL text have no score and are absent.

    100 TB shape: the score is unigram_logprob_quality's (vocab groupBy
    + broadcast logp join, doc-bounded fold state). The exact global
    ntile is oracle-parity mode — a single-partition sort over one row
    per doc; the production mode is BUILT at
    operators/curriculum.curriculum_order_scale (approxQuantile cut
    points broadcast into a when-chain — the documented
    revenue_decile_share / RFM playbook — plus the range-partitioned
    physical writer write_curriculum_shards; agreement vs this exact
    ntile measured in tests/test_curriculum.py). The within-decile md5
    order is cluster-size/retry-invariant like all seeded-hash orders
    here."""
    per = unigram_logprob_quality(spark, sf_dir)
    t = per.select(
        "doc_id",
        "mean_logp",
        F.ntile(10)
        .over(Window.orderBy(F.col("mean_logp").desc(), "doc_id"))
        .alias("decile"),
        F.md5(F.concat(F.lit("cur:1:"), F.col("doc_id").cast("string"))).alias("h"),
    )
    wd = Window.partitionBy("decile").orderBy("h", "doc_id")
    return t.select(
        "doc_id",
        "mean_logp",
        F.col("decile").cast("long").alias("decile"),
        F.row_number().over(wd).cast("long").alias("pos_in_decile"),
    )


# ===========================================================================
# Combined-evidence dedup: URL-equality edges ∪ content-LSH edges → one
# connected-components pass. RefinedWeb runs URL dedup THEN text dedup
# as separate stages; the union-CC gives the transitive closure across
# BOTH evidence types in one clustering (A=B by canonical URL, B=C by
# near-dup text ⇒ {A,B,C} one cluster — the sequential form misses the
# A~C identity unless it re-clusters).
# ===========================================================================

# the corpus (injected-copy) id space carries the same synthetic URLs,
# keyed on id instead of doc_id
_CORPUS_URL_SQL = (
    (_RAW_URL_SQL + ",\n" + _CANON_SQL)
    .replace("doc_id, source", "id")
    .replace("doc_id", "id")
    .replace("FROM documents", "FROM corpus")
)


@register(
    "combined_dedup_clusters",
    f"""
    WITH RECURSIVE {_SC_CORPUS_SQL}, {_SC_SHINGLE_SQL},
    {_sc_minhash_sql(16, 4)},
    {_SC_JACCARD_VERIFY_SQL.format(candidate_filter="JOIN cand ON cand.id_a = a.id AND cand.id_b = b.id")},
    tpairs AS (SELECT id_a, id_b FROM scored WHERE jaccard_raw >= 0.7),
    {_CORPUS_URL_SQL},
    ukeep AS (SELECT canon_url, min(id) AS mid FROM curls GROUP BY canon_url),
    upairs AS (
      SELECT c.id AS id_a, k.mid AS id_b
      FROM curls c JOIN ukeep k USING (canon_url)
      WHERE c.id <> k.mid
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM tpairs
      UNION SELECT id_b, id_a FROM tpairs
      UNION SELECT id_a, id_b FROM upairs
      UNION SELECT id_b, id_a FROM upairs
    ),
    reach(id, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id
    )
    SELECT id, min(label) AS cluster_id FROM reach GROUP BY id
    """,
    tags=["dedup", "urls", "iterative", "scale"],
)
def combined_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-of-evidence dedup clusters: edge set = (docs sharing a
    canonical URL) ∪ (MinHash-LSH verified near-dup text pairs), one
    O(log n) star-contraction CC over both. URL edges are star-shaped
    (every member → the group's min id), so each URL group contributes
    |group|-1 edges, never a quadratic clique; text edges are the
    candidates-only LSH pairs. 100 TB shape: both edge builders are the
    existing audited plans (one canonicalize groupBy; band join +
    verify), the union is shuffle-free concatenation, and the CC is the
    same bounded-round contraction the text-only clustering uses."""
    from reddit_tech_jobs_data_pipeline_spark.functions import urls as U
    from reddit_tech_jobs_data_pipeline_spark.plans.catalog_scale import _corpus_df

    corpus = _corpus_df(spark, sf_dir)
    tpairs = dedup_ops.minhash_lsh_dedup_pairs(
        corpus, "text", "id", num_hashes=16, bands=4, n=3, threshold=0.7
    ).select("id_a", "id_b")
    curls = corpus.select(
        "id", U.canonicalize_url(_raw_url_col(F.col("id"))).alias("canon_url")
    )
    ukeep = curls.groupBy("canon_url").agg(F.min("id").alias("mid"))
    upairs = (
        curls.join(ukeep, "canon_url")
        .filter(F.col("id") != F.col("mid"))
        .select(F.col("id").alias("id_a"), F.col("mid").alias("id_b"))
    )
    return dedup_ops.cluster_near_dups(tpairs.unionByName(upairs))


def _multimodal_combined_sql() -> str:
    """Recursive-CTE twin of the three-evidence union: text-LSH pairs +
    URL star edges (combined_dedup_clusters' CTEs) + image perceptual-
    hash pairs over the corpus id space (copies re-host their
    original's image: the phash hx chain keyed on id % 100000, so every
    copy pairs with its original at Hamming 0 and with its original's
    family at the family distance)."""
    from reddit_tech_jobs_data_pipeline_spark.plans.catalog_analytics import (
        _PHASH_HAM,
        _afp_hx_ctes,
        _phash_band_cte,
        _phash_hx_ctes,
    )

    return f"""
    WITH RECURSIVE {_SC_CORPUS_SQL}, {_SC_SHINGLE_SQL},
    {_sc_minhash_sql(16, 4)},
    {_SC_JACCARD_VERIFY_SQL.format(candidate_filter="JOIN cand ON cand.id_a = a.id AND cand.id_b = b.id")},
    tpairs AS (SELECT id_a, id_b FROM scored WHERE jaccard_raw >= 0.7),
    {_phash_hx_ctes(src="(SELECT id FROM corpus WHERE (id % 100000) % 20 < 4) isrc", id_expr="id", fam_expr="(id % 100000) // 4", var_expr="(id % 100000) % 4")},
    {_phash_band_cte("hx", "iband")},
    ipairs AS (
      SELECT DISTINCT a.id AS id_a, b2.id AS id_b
      FROM iband a
      JOIN iband b2 ON a.band_i = b2.band_i AND a.bval = b2.bval AND a.id < b2.id
      WHERE {_PHASH_HAM} <= 2
    ),
    {_afp_hx_ctes(src="(SELECT id FROM corpus WHERE (id % 100000) % 50 = 1) asrc", id_expr="id", fam_expr="((id % 100000) // 25) // 4", var_expr="((id % 100000) // 25) % 4", prefix="a")},
    {_phash_band_cte("ahx", "aband")},
    apairs AS (
      SELECT DISTINCT a.id AS id_a, b2.id AS id_b
      FROM aband a
      JOIN aband b2 ON a.band_i = b2.band_i AND a.bval = b2.bval AND a.id < b2.id
      WHERE {_PHASH_HAM} <= 2
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM tpairs
      UNION SELECT id_b, id_a FROM tpairs
      UNION SELECT id_a, id_b FROM ipairs
      UNION SELECT id_b, id_a FROM ipairs
      UNION SELECT id_a, id_b FROM apairs
      UNION SELECT id_b, id_a FROM apairs
    ),
    reach(id, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id
    )
    SELECT id, min(label) AS cluster_id FROM reach GROUP BY id
    """


@register(
    "multimodal_combined_clusters",
    _multimodal_combined_sql(),
    tags=["dedup", "multimodal", "urls", "iterative", "scale"],
)
def multimodal_combined_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-MODAL duplicate identity by CONTENT evidence (the
    companion of combined_dedup_clusters, whose URL ∪ text-LSH union
    misses a document whose text changed but whose IMAGE or AUDIO is
    identical): edge set = MinHash-LSH verified text pairs ∪
    perceptual-hash image pairs ∪ audio-fingerprint pairs, one
    O(log n) star-contraction CC over all three. The planted corpus
    makes every modality load-bearing — SPARSE image families (each
    20-block's first four docs share an image; most images are unique,
    as in any real corpus) link docs whose texts are unrelated, the
    sparse audio families STRADDLE the image blocks (every 50th doc,
    family key spanning a 100-id block, so an audio pair links two
    docs unrelated in every other modality), and the injected copies
    (+100000, text lightly edited, image re-hosted unchanged) link via
    BOTH text and a Hamming-0 image edge — pinned both ways in
    tests/test_scale_ops.py (the link exists with the modality's
    edges, vanishes without).

    Evidence DENSITY is a correctness dial for transitive clustering,
    measured on this fixture: uniting the synthetic URL star groups
    and an every-doc image tiling percolated all 550 ids into ONE
    cluster (the classic dedup over-merge, where coarse or saturating
    edge types weld unrelated clusters through chains). Hence this
    query unions content evidence at realistic sparsity and leaves URL
    evidence to combined_dedup_clusters; production unions more types
    only when their precision holds, or gates the CC with a
    cluster-size cap.

    100 TB shape: each edge builder is the existing audited plan (LSH
    band join + verify; fingerprint band joins in the LINEAR star-edge
    mode — connectivity-equivalent, no B² expansion on identical-media
    floods); the union is shuffle-free concatenation and the CC is the
    same bounded-round contraction every clustering here uses."""
    from reddit_tech_jobs_data_pipeline_spark.operators.dedup import (
        hamming_band_pairs,
    )
    from reddit_tech_jobs_data_pipeline_spark.operators.multimodal import (
        audio_fingerprint,
        image_ahash,
    )
    from reddit_tech_jobs_data_pipeline_spark.plans.catalog_analytics import (
        _afp_blobs,
        _phash_blobs,
    )
    from reddit_tech_jobs_data_pipeline_spark.plans.catalog_scale import _corpus_df

    corpus = _corpus_df(spark, sf_dir)
    tpairs = dedup_ops.minhash_lsh_dedup_pairs(
        corpus, "text", "id", num_hashes=16, bands=4, n=3, threshold=0.7
    ).select("id_a", "id_b")
    corpus_keyed = corpus.select("id", (F.col("id") % 100000).alias("doc_id"))
    # sparse image evidence — only each 20-block's first four docs carry
    # the family image (most real images are unique; a corpus where
    # EVERY image has near-dups percolates any transitive clustering,
    # measured below in the URL note)
    image_keyed = corpus_keyed.filter(F.col("doc_id") % 20 < 4)
    ipairs = hamming_band_pairs(
        image_ahash(_phash_blobs(image_keyed, id_col="id")).localCheckpoint(),
        max_hamming=2,
        exact_pairs=False,
    ).select("id_a", "id_b")
    # sparse audio evidence STRADDLING the image families: every 50th
    # doc (offset 1) carries a clip whose family key spans a 100-id
    # block, so an audio pair links two docs whose images, texts and
    # URLs are all unrelated — the edge type is load-bearing, not an
    # echo of the image families (pinned in tests)
    audio_keyed = corpus_keyed.filter(F.col("doc_id") % 50 == 1).select(
        "id", F.expr("doc_id DIV 25").alias("doc_id")
    )
    apairs = hamming_band_pairs(
        audio_fingerprint(_afp_blobs(audio_keyed, id_col="id")).localCheckpoint(),
        max_hamming=2,
        exact_pairs=False,
    ).select("id_a", "id_b")
    return dedup_ops.cluster_near_dups(
        tpairs.unionByName(ipairs).unionByName(apairs)
    )


_BM25_K1, _BM25_B, _RRF_K = 1.2, 0.75, 60

_QUERY_A = ["join", "scan", "filter", "window", "vector"]
_QUERY_B = ["customer", "order", "merge", "batch", "stream"]


def _bm25_sql(terms: list[str], tag: str) -> tuple[str, str]:
    """(CTE chain, scored-select) for a BM25 ranking of `documents`
    against ``terms``; CTE names are suffixed with ``tag`` so two
    rankings can coexist in one WITH clause."""
    n = len(terms)
    tf_cols = ",\n             ".join(
        f"length(list_filter(ws, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ",\n             ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}" for i in range(n)
    )
    score = "\n           + ".join(
        f"ln((n - df{i} + 0.5) / (df{i} + 0.5) + 1) * tf{i} * 2.2"
        f" / (tf{i} + 1.2 * (0.25 + 0.75 * dl / avgdl))"
        for i in range(n)
    )
    any_tf = " + ".join(f"tf{i}" for i in range(n))
    ctes = f"""
    d{tag} AS (SELECT doc_id, {{_TOKS}} AS ws FROM documents
               WHERE text IS NOT NULL),
    t{tag} AS (
      SELECT doc_id, length(ws) AS dl,
             {tf_cols}
      FROM d{tag}
    ),
    s{tag} AS (
      SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
             count(*) AS n,
             {df_cols}
      FROM t{tag}
    )"""
    scored = (
        f"SELECT doc_id, round({score}, 4) AS bm25\n"
        f"    FROM t{tag} CROSS JOIN s{tag}\n"
        f"    WHERE {any_tf} > 0"
    )
    return ctes, scored


def _bm25_scored(spark: SparkSession, sf_dir: str, terms: list[str]) -> DataFrame:
    """(doc_id, bm25) for every doc matching ≥1 query term — the Spark
    twin of _bm25_sql. Array-function tf (no explode), one conditional
    aggregate collapsed to a 1-row broadcast (localCheckpoint'd so the
    scoring branch does not re-derive it), fixed-order arithmetic score
    (bit-identical across engines). Two corpus passes: stats + score."""

    def _is(term):
        # single-arg lambda via factory: a default-arg closure would make
        # PySpark read the signature as the (element, index) filter form
        return lambda x: x == F.lit(term)

    from reddit_tech_jobs_data_pipeline_spark.functions.extract import bind1

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # bind1: one tokenizer run shared by dl and every per-term tf (was
    # len(terms)+1 tokenizations per row)
    packed = bind1(
        tokens("text"),
        lambda ws: F.struct(
            F.size(ws).alias("dl"),
            *[
                F.size(F.filter(ws, _is(tt))).alias(f"tf{i}")
                for i, tt in enumerate(terms)
            ],
        ),
    )
    # localCheckpoint: t feeds BOTH the stats agg and the scoring branch
    # (two corpus passes before), and the tf>0 filter otherwise pushes
    # below the projection re-inlining the packed expression per field —
    # materializing (doc_id, dl, tf0..k) is 7 numbers/doc and leaves ONE
    # tokenizer pass total
    t = (
        docs.select("doc_id", packed.alias("__p"))
        .select("doc_id", "__p.*")
        .localCheckpoint()
    )
    stats = t.agg(
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)).alias(f"df{i}")
            for i in range(len(terms))
        ],
    ).localCheckpoint()
    score = None
    for i in range(len(terms)):
        idf = F.log(
            (F.col("n") - F.col(f"df{i}") + 0.5) / (F.col(f"df{i}") + 0.5) + 1
        )
        part = idf * F.col(f"tf{i}") * 2.2 / (
            F.col(f"tf{i}") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
        )
        score = part if score is None else score + part
    return (
        t.crossJoin(F.broadcast(stats))
        .filter(sum(F.col(f"tf{i}") for i in range(len(terms))) > 0)
        .select("doc_id", F.round(score, 4).alias("bm25"))
    )


_BM25_CTES_A, _BM25_SCORED_A = _bm25_sql(_QUERY_A, "qa")
_BM25_CTES_B, _BM25_SCORED_B = _bm25_sql(_QUERY_B, "qb")


@register(
    "bm25_doc_ranking",
    f"""
    WITH {_BM25_CTES_A}
    {_BM25_SCORED_A}
    ORDER BY bm25 DESC, doc_id LIMIT 20
    """.format(_TOKS=_TOKS),
    tags=["text", "ir", "scale"],
)
def bm25_doc_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring (Robertson-Walker, k1=1.2, b=0.75,
    +1-smoothed idf) of every document against a fixed 5-term query —
    the ranking function behind classic lexical search and the lexical
    half of hybrid RAG retrieval. Top-20 by (rounded score, doc_id).

    Spark-first shape — NO explode, NO per-term shuffle (see
    _bm25_scored); the rounded order and the LIMIT-20 cut are
    deterministic, and top-20 is TakeOrderedAndProject, never a global
    sort."""
    return (
        _bm25_scored(spark, sf_dir, _QUERY_A)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


@register(
    "rrf_multi_query_fusion",
    f"""
    WITH {_BM25_CTES_A},
    {_BM25_CTES_B},
    sc_a AS ({_BM25_SCORED_A}),
    sc_b AS ({_BM25_SCORED_B}),
    top_a AS (SELECT doc_id, bm25 FROM sc_a
              ORDER BY bm25 DESC, doc_id LIMIT 100),
    top_b AS (SELECT doc_id, bm25 FROM sc_b
              ORDER BY bm25 DESC, doc_id LIMIT 100),
    rk_a AS (SELECT doc_id,
                    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r
             FROM top_a),
    rk_b AS (SELECT doc_id,
                    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r
             FROM top_b)
    SELECT doc_id,
           round(coalesce(1.0 / (60 + a.r), 0)
                 + coalesce(1.0 / (60 + b.r), 0), 6) AS rrf
    FROM rk_a a FULL OUTER JOIN rk_b b USING (doc_id)
    ORDER BY rrf DESC, doc_id LIMIT 15
    """.format(_TOKS=_TOKS),
    tags=["text", "ir", "scale"],
)
def rrf_multi_query_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of two BM25 query
    formulations — the standard zero-tuning way to merge rankings from
    multiple query rewrites (and, with an ANN ranking as one side, the
    hybrid-retrieval fusion step): rrf(d) = Σ_q 1/(60 + rank_q(d)) over
    each query's top-100 list.

    100 TB shape: each ranker's top-100 is TakeOrderedAndProject
    (per-partition heaps, never a global sort); the rank window then
    runs on 100 ROWS per ranker (the documented K-row license — this is
    exactly why RRF is defined over top-k lists), and the fusion is a
    100-vs-100 full outer join. Ranks break ties on (rounded score,
    doc_id), and 1/(60+rank) divides exact integers, so the fused order
    is cross-engine deterministic end to end."""
    ranked = []
    for terms in (_QUERY_A, _QUERY_B):
        top = (
            _bm25_scored(spark, sf_dir, terms)
            .orderBy(F.col("bm25").desc(), "doc_id")
            .limit(100)
        )
        w = Window.orderBy(F.col("bm25").desc(), "doc_id")
        ranked.append(top.select("doc_id", F.row_number().over(w).alias("r")))
    a, b = ranked
    return (
        a.withColumnsRenamed({"r": "ra"})
        .join(b.withColumnsRenamed({"r": "rb"}), "doc_id", "full_outer")
        .select(
            "doc_id",
            F.round(
                F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("ra")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("rb")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(15)
    )
