"""Analytics over the posts model + streaming + multimodal + JSON —
the queries the reference's sink table exists to serve (SURVEY.md §2.5's
engine-level surface: EP3 ad-hoc analytics), plus the streaming and
multimodal operator entries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reddit_tech_jobs_data_pipeline_spark import pipeline
from reddit_tech_jobs_data_pipeline_spark.operators import multimodal
from reddit_tech_jobs_data_pipeline_spark.plans.catalog import _t, register
from reddit_tech_jobs_data_pipeline_spark.plans.catalog_posts import _CORPUS_SQL, _titles_df
from reddit_tech_jobs_data_pipeline_spark.streaming.events import (
    run_dedup_stream_batchlike,
    run_interval_join_batchlike,
    run_session_windows_batchlike,
    run_stream_static_join_batchlike,
    run_windowed_counts_batchlike,
)
from reddit_tech_jobs_data_pipeline_spark.workdirs import stable_work_key

# Enriched-posts CTE (dedup + salary + position extraction only — the
# slices these analytics need), shared by the oracle SQL below.
_POSTS_SQL = f"""
  {_CORPUS_SQL},
  posts AS (
    SELECT post_id, title, lower(title) AS lt,
      CASE WHEN regexp_extract(lower(title), '([A-Za-z$€£]*)\\s*(\\d+(?:\\.\\d+)?)k\\s?-\\s?(\\d+(?:\\.\\d+)?)k', 2) <> ''
           THEN CAST(regexp_extract(lower(title), '([A-Za-z$€£]*)\\s*(\\d+(?:\\.\\d+)?)k\\s?-\\s?(\\d+(?:\\.\\d+)?)k', 2) AS DOUBLE) * 1000
      END AS lower_salary,
      coalesce(
        nullif(regexp_extract(title, '(?i)(Data\\s*Engineer|Machine\\s*Learning\\s*Engineer|AI\\s*Engineer|Software\\s*Engineer|Backend\\s*Engineer|Frontend\\s*Engineer|Fullstack\\s*Engineer|DevOps\\s*Engineer|Cloud\\s*Engineer|Data\\s*Scientist|Data\\s*Analyst|QA\\s*Engineer|Security\\s*Engineer|Research\\s*Scientist)', 1), ''),
        nullif(regexp_extract(title, '(?i)(Engineer|Scientist|Manager|Developer|Architect|Analyst|Specialist|Director|Lead|Principal|Coordinator|Consultant|VP|Head)', 1), '')
      ) AS job_position,
      coalesce(
        nullif(regexp_extract(title, '(?i)(Remote|Telecommute|Virtual|Home\\s*Office|Hybrid)', 1), ''),
        nullif(regexp_extract(title, '(?i)(New\\s*York|San\\s*Francisco|California|London|Berlin|Toronto|Austin|Boston|Seattle|Chicago|Vancouver|Los\\s*Angeles|Dallas|Miami|Washington\\s*DC|Montreal|Paris|Singapore|Sydney|Zurich|Gdansk)', 1), ''),
        nullif(regexp_extract(title, '(?i)(US|United\\s*States|Canada|UK|Germany|Australia|India|Singapore|Switzerland|France|Poland)', 1), '')
      ) AS location,
      list_filter(regexp_split_to_array(lower(title), '\\W+'), x -> x <> '') AS ws
    FROM deduped
  )
"""

_TECH_LIST_SQL = (
    "['python','java','javascript','typescript','c++','c#','ruby','go','sql','rust',"
    "'scala','react','angular','vue','django','flask','spring','tensorflow','pytorch',"
    "'kubernetes','docker','aws','azure','gcp','terraform','jenkins','redis','mongodb',"
    "'postgresql','mysql']"
)


def _posts_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipeline.enrich(
        pipeline.dedup_first_seen(_titles_df(spark, sf_dir), ["post_id", "title"], "scrape_seq")
    )


@register(
    "salary_percentiles_by_position",
    f"""
    WITH {_POSTS_SQL}
    SELECT job_position,
           count(lower_salary) AS n_salaries,
           round(quantile_cont(lower_salary, 0.5), 2)  AS p50_salary,
           round(quantile_cont(lower_salary, 0.9), 2)  AS p90_salary,
           round(avg(lower_salary), 2)                 AS avg_salary
    FROM posts
    WHERE job_position IS NOT NULL AND lower_salary IS NOT NULL
    GROUP BY job_position
    """,
    tags=["agg", "percentile"],
)
def salary_percentiles_by_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    posts = _posts_df(spark, sf_dir)
    return (
        posts.filter(F.col("job_position").isNotNull() & F.col("lower_salary").isNotNull())
        .groupBy("job_position")
        .agg(
            F.count("lower_salary").alias("n_salaries"),
            F.round(F.expr("percentile(lower_salary, 0.5)"), 2).alias("p50_salary"),
            F.round(F.expr("percentile(lower_salary, 0.9)"), 2).alias("p90_salary"),
            F.round(F.avg("lower_salary"), 2).alias("avg_salary"),
        )
    )


@register(
    "technology_frequency",
    f"""
    WITH {_POSTS_SQL},
    exploded AS (
      SELECT unnest(list_filter({_TECH_LIST_SQL}::VARCHAR[],
                    k -> list_contains(ws, k))) AS technology
      FROM posts
    )
    SELECT technology, count(*) AS n_posts
    FROM exploded GROUP BY technology
    """,
    tags=["agg", "array"],
)
def technology_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    posts = _posts_df(spark, sf_dir)
    return (
        posts.select(F.explode("technologies").alias("technology"))
        .groupBy("technology")
        .agg(F.count(F.lit(1)).alias("n_posts"))
    )


@register(
    "top_locations",
    f"""
    WITH {_POSTS_SQL}
    SELECT location, count(*) AS n_posts
    FROM posts WHERE location IS NOT NULL
    GROUP BY location
    ORDER BY n_posts DESC, location
    LIMIT 5
    """,
    tags=["agg", "topk"],
)
def top_locations(spark: SparkSession, sf_dir: str) -> DataFrame:
    posts = _posts_df(spark, sf_dir)
    return (
        posts.filter(F.col("location").isNotNull())
        .groupBy("location")
        .agg(F.count(F.lit(1)).alias("n_posts"))
        .orderBy(F.col("n_posts").desc(), F.col("location"))
        .limit(5)
    )


@register(
    "json_props_extract",
    """
    SELECT event_type,
           count(*) AS n_events,
           round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS avg_k
    FROM events
    GROUP BY event_type
    """,
    tags=["json", "agg"],
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"), F.round(F.avg(k), 4).alias("avg_k")
    )


@register(
    "variant_props_extract",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           CAST(json_extract_string(props, '$.missing') AS BIGINT) AS missing_field
    FROM events
    """,
    tags=["json", "variant"],
)
def variant_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VariantType path for semi-structured data: ``parse_json``
    once into the binary variant encoding, then typed ``variant_get`` /
    ``try_variant_get`` field reads. Versus per-field
    ``get_json_object`` (json_props_extract), the document is parsed
    ONCE however many fields are read, and the shredded binary form is
    columnar-friendly — the right default for wide semi-structured
    events at scale. Missing paths via try_variant_get → NULL, matching
    the oracle's json_extract_string."""
    ev = _t(spark, sf_dir, "events")
    v = F.parse_json("props")
    return ev.select(
        "event_id",
        F.try_variant_get(v, "$.k", "bigint").alias("k"),
        F.try_variant_get(v, "$.missing", "bigint").alias("missing_field"),
    )


@register(
    "streaming_window_counts",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
    tags=["streaming"],
)
def streaming_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming tumbling-window agg run to completion over the
    finite events input; semantics equal the batch GROUP BY, which is
    exactly what the oracle asserts."""
    return run_windowed_counts_batchlike(spark, sf_dir)


@register(
    "streaming_interval_join",
    """
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
           CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS delay_sec
    FROM events c JOIN events p ON c.user_id = p.user_id
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
      AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
    tags=["streaming"],
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner interval join run to completion over the
    finite input; inner-join semantics equal the batch range self-join
    the oracle runs — watermarks only bound STATE, they drop no rows of
    a finite in-order replay."""
    return run_interval_join_batchlike(spark, sf_dir)


@register(
    "streaming_session_windows",
    """
    WITH ms AS (SELECT user_id, value, epoch_ms(ts) AS tms FROM events),
    flagged AS (
      SELECT user_id, value, tms,
        CASE WHEN lag(tms) OVER w IS NULL OR tms - lag(tms) OVER w > 1800000
             THEN 1 ELSE 0 END AS new_session
      FROM ms WINDOW w AS (PARTITION BY user_id ORDER BY tms)
    ),
    sessioned AS (
      SELECT user_id, value, tms,
        sum(new_session) OVER (PARTITION BY user_id ORDER BY tms
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
      FROM flagged
    )
    SELECT user_id, min(tms) AS session_start_ms,
           max(tms) + 1800000 AS session_end_ms,
           count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM sessioned GROUP BY user_id, seq
    """,
    tags=["streaming", "sessionization"],
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window running under readStream (complete mode over the
    finite replay); equals the batch session_window_native, which is
    what the shared oracle asserts. Session state is bounded by the
    watermark — sessions whose window end precedes it are finalized and
    evicted."""
    return run_session_windows_batchlike(spark, sf_dir)


@register(
    "streaming_static_join",
    """
    SELECT c.c_mktsegment, e.event_type,
           count(*) AS n_events, round(sum(e.value), 2) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment, e.event_type
    """,
    tags=["streaming", "join"],
)
def streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment join + windowless agg in
    complete mode; equals the batch join the oracle runs."""
    return run_stream_static_join_batchlike(spark, sf_dir)


@register(
    "streaming_dedup_events",
    """
    SELECT event_id, user_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
           round(value, 2) AS value
    FROM events
    """,
    tags=["streaming", "dedup"],
)
def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup (``dropDuplicatesWithinWatermark``):
    the events table is replayed DOUBLED (each row twice — the at-least-
    once delivery a retried scrape or replayed micro-batch produces,
    dags/dag.py:380-421's ON CONFLICT case) and the stream must emit each
    event_id exactly once, i.e. exactly the batch table the oracle reads.
    State is bounded by the watermark horizon (keys are evicted once the
    watermark passes them), so state size is O(events per 2h window), not
    O(corpus) — the property that makes this run forever at stream scale.
    Duplicate rows are bit-identical, so survivor choice is unobservable
    and the output deterministic."""
    import tempfile

    from reddit_tech_jobs_data_pipeline_spark.sources.testdata import load_table

    ev = load_table(spark, sf_dir, "events")
    src = f"{tempfile.gettempdir()}/spark_graft_stream_dedup_{stable_work_key(sf_dir)}"
    ev.unionAll(ev).coalesce(1).write.mode("overwrite").parquet(src)
    out = run_dedup_stream_batchlike(
        spark, src, spark.read.parquet(src).schema, name="cat_stream_dedup"
    )
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        F.round("value", 2).alias("value"),
    )


@register(
    "multimodal_features",
    """
    SELECT doc_id AS id,
           (['image','audio','video'])[doc_id % 3 + 1] AS modality,
           octet_length(encode(coalesce(text, ''))) AS n_bytes,
           md5(coalesce(text, '')) AS content_md5
    FROM documents
    """,
    tags=["multimodal", "scale"],
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: synthesize blobs from documents, extract
    the stand-in features as Catalyst expressions (codec stubbed — see
    operators/multimodal.py), compare the deterministic outputs."""
    docs = _t(spark, sf_dir, "documents")
    blobs = multimodal.synthesize_blobs(docs)
    feats = multimodal.decode_features(blobs)
    return feats.select(
        "id", "modality", F.col("n_bytes").cast("long").alias("n_bytes"), "content_md5"
    )


_HEXVAL = "(strpos('0123456789abcdef', substr(hx, {c}, 1)) - 1)"


def _hex_byte_sql(j: int) -> str:
    # byte j of an md5 hex string, 0-based: 16*hexval(char 2j+1) + hexval(char 2j+2)
    return f"({_HEXVAL.format(c=2 * j + 1)} * 16 + {_HEXVAL.format(c=2 * j + 2)})"


@register(
    "multimodal_real_decode",
    f"""
    WITH h AS (
      SELECT doc_id AS id, md5(coalesce(text, '')) AS hx FROM documents
    )
    SELECT id,
           CAST(1 AS BOOLEAN) AS decode_ok,
           '1x1x3' AS shape_s,
           CAST({_hex_byte_sql(0)} AS VARCHAR) || ',' ||
           CAST({_hex_byte_sql(1)} AS VARCHAR) || ',' ||
           CAST({_hex_byte_sql(2)} AS VARCHAR) AS pixel
    FROM h
    """,
    tags=["multimodal", "scale"],
)
def multimodal_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decoding, oracle-checked: each document becomes an
    actual binary P6 PPM (1×1, pixel = first 3 md5 bytes of the text),
    which ``decode_real_features`` decodes with the pure-numpy raster
    decoder on the executors; the oracle derives the same byte values
    arithmetically from the md5 hex string. A decoder bug (header parse,
    offset, channel order) breaks the hash match — this is decode
    verified end-to-end against an independent engine, not a stub."""
    docs = _t(spark, sf_dir, "documents")
    blobs = docs.select(
        F.col("doc_id").alias("id"),
        F.lit("image").alias("modality"),
        F.concat(
            F.lit(b"P6\n1 1\n255\n"),
            F.expr("substring(unhex(md5(encode(coalesce(text, ''), 'UTF-8'))), 1, 3)"),
        ).alias("content"),
    )
    feats = multimodal.decode_real_features(blobs)
    return feats.select(
        "id",
        "decode_ok",
        F.concat_ws("x", F.transform("shape", lambda d: d.cast("string"))).alias(
            "shape_s"
        ),
        F.concat_ws(
            ",", F.transform("feature", lambda v: v.cast("int").cast("string"))
        ).alias("pixel"),
    )


# minimal PCM16 mono 8 kHz WAV header for a fixed 4-byte (2-sample) data
# chunk; sizes are literals because the payload length is fixed
_WAV_HEADER = (
    b"RIFF\x28\x00\x00\x00WAVE"
    b"fmt \x10\x00\x00\x00\x01\x00\x01\x00\x40\x1f\x00\x00\x80\x3e\x00\x00\x02\x00\x10\x00"
    b"data\x04\x00\x00\x00"
)


@register(
    "multimodal_real_decode_audio",
    f"""
    WITH h AS (
      SELECT doc_id AS id, md5(coalesce(text, '')) AS hx FROM documents
    ),
    s AS (
      SELECT id,
             {_hex_byte_sql(0)} + 256 * {_hex_byte_sql(1)} AS u0,
             {_hex_byte_sql(2)} + 256 * {_hex_byte_sql(3)} AS u1
      FROM h
    )
    SELECT id,
           CAST(1 AS BOOLEAN) AS decode_ok,
           '2x1' AS shape_s,
           round(sqrt((CAST(u0 - 65536 * CAST(u0 >= 32768 AS INTEGER) AS DOUBLE) ** 2
                     + CAST(u1 - 65536 * CAST(u1 >= 32768 AS INTEGER) AS DOUBLE) ** 2) / 2.0), 6)
             AS rms
    FROM s
    """,
    tags=["multimodal", "scale"],
)
def multimodal_real_decode_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decoding, oracle-checked: each document becomes an
    actual PCM16 mono WAV (2 samples = first 4 md5 bytes, little-endian
    int16), decoded by the pure-numpy RIFF parser on the executors; the
    oracle reconstructs the same signed samples arithmetically from the
    md5 hex and recomputes the RMS. Chunk-walk or endianness bugs break
    the hash match."""
    docs = _t(spark, sf_dir, "documents")
    blobs = docs.select(
        F.col("doc_id").alias("id"),
        F.lit("audio").alias("modality"),
        F.concat(
            F.lit(_WAV_HEADER),
            F.expr("substring(unhex(md5(encode(coalesce(text, ''), 'UTF-8'))), 1, 4)"),
        ).alias("content"),
    )
    feats = multimodal.decode_real_features(blobs)
    return feats.select(
        "id",
        "decode_ok",
        F.concat_ws("x", F.transform("shape", lambda d: d.cast("string"))).alias(
            "shape_s"
        ),
        F.round(F.element_at("feature", 2), 6).alias("rms"),
    )


# PCM16 mono 8 kHz WAV header for a 16-byte (8-sample) data chunk
_WAV_HEADER_16 = (
    b"RIFF\x34\x00\x00\x00WAVE"
    b"fmt \x10\x00\x00\x00\x01\x00\x01\x00\x40\x1f\x00\x00\x80\x3e\x00\x00\x02\x00\x10\x00"
    b"data\x10\x00\x00\x00"
)


def _signed16_sql(j: int) -> str:
    """Signed little-endian int16 sample j from md5 hex bytes (2j, 2j+1)."""
    u = f"({_hex_byte_sql(2 * j)} + 256 * {_hex_byte_sql(2 * j + 1)})"
    return f"CAST({u} - 65536 * CAST({u} >= 32768 AS INTEGER) AS DOUBLE)"


def _win_rms_sql(first_sample: int, n: int) -> str:
    sq = " + ".join(f"{_signed16_sql(first_sample + k)} ** 2" for k in range(n))
    return f"round(sqrt(({sq}) / {n}.0), 6)"


@register(
    "audio_energy_windows",
    f"""
    WITH h AS (
      SELECT doc_id AS id, md5(coalesce(text, '')) AS hx FROM documents
    ),
    w AS (
      SELECT id, 0 AS window_i, {_win_rms_sql(0, 4)} AS rms FROM h
      UNION ALL
      SELECT id, 1 AS window_i, {_win_rms_sql(4, 4)} AS rms FROM h
    )
    SELECT id, window_i, 4 AS n_samples, rms,
           rms < 8192.0 AS is_silence
    FROM w
    """,
    tags=["multimodal", "scale"],
)
def audio_energy_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL windowed audio feature extraction, oracle-checked: each doc
    becomes an actual 8-sample PCM16 WAV (first 16 md5 bytes as
    little-endian int16), the executors decode it with the numpy RIFF
    parser and frame it into two 4-sample energy windows
    (operators/multimodal.audio_energy_windows — the silence-trimming /
    VAD preprocessing shape); the oracle reconstructs the same signed
    samples arithmetically from the md5 hex and recomputes each
    window's RMS. The silence threshold compares the SAME IEEE double on
    both engines (integer samples → one sqrt), so the flag can't flip."""
    docs = _t(spark, sf_dir, "documents")
    blobs = docs.select(
        F.col("doc_id").alias("id"),
        F.lit("audio").alias("modality"),
        F.concat(
            F.lit(_WAV_HEADER_16),
            F.expr("substring(unhex(md5(encode(coalesce(text, ''), 'UTF-8'))), 1, 16)"),
        ).alias("content"),
    )
    wins = multimodal.audio_energy_windows(blobs, frame=4, silence_rms=8192.0)
    # the emitted flag re-derives from the ROUNDED rms so the gate
    # arithmetic is identical cross-engine (seasonal_residual_outliers
    # precedent); the operator's own unrounded flag is pinned in pytest
    return wins.select(
        "id",
        "window_i",
        "n_samples",
        F.round("rms", 6).alias("rms"),
        (F.round("rms", 6) < 8192.0).alias("is_silence"),
    )


@register(
    "multimodal_frame_sample",
    """
    WITH blobs AS (
      SELECT doc_id AS id,
             (['image','audio','video'])[doc_id % 3 + 1] AS modality,
             coalesce(text, '') AS payload
      FROM documents
    ),
    counted AS (
      SELECT id, modality, payload,
             CASE modality
               WHEN 'video' THEN 1 + octet_length(encode(payload)) % 4
               WHEN 'audio' THEN 2
               ELSE 1 END AS n_frames
      FROM blobs
    )
    SELECT id, modality,
           CAST(unnest(generate_series(0, n_frames - 1)) AS INTEGER) AS frame_idx,
           md5(payload || '#' || CAST(unnest(generate_series(0, n_frames - 1)) AS VARCHAR))
             AS frame_md5
    FROM counted
    """,
    tags=["multimodal", "scale"],
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-frame / audio-window fan-out (1 blob → N frame rows) via
    explode(sequence(...)); the oracle replicates the deterministic
    frame-count rule and per-frame hash with generate_series."""
    docs = _t(spark, sf_dir, "documents")
    blobs = multimodal.synthesize_blobs(docs)
    return multimodal.frame_sample(blobs)


def _resize_pixels_sql() -> str:
    # NN 2x2 -> 3x3: src index map floor(i*2/3) = [0, 0, 1] per axis; the
    # flattened 27 output bytes reference md5 bytes (r*2 + c)*3 + ch
    idx = [0, 0, 1]
    terms = [
        f"CAST({_hex_byte_sql((r * 2 + c) * 3 + ch)} AS VARCHAR)"
        for r in idx
        for c in idx
        for ch in range(3)
    ]
    return " || ',' || ".join(terms)


@register(
    "multimodal_resize",
    f"""
    WITH h AS (
      SELECT doc_id AS id, md5(coalesce(text, '')) AS hx FROM documents
    )
    SELECT id,
           CAST(1 AS BOOLEAN) AS decode_ok,
           '3x3x3' AS shape_s,
           {_resize_pixels_sql()} AS pixels_s
    FROM h
    """,
    tags=["multimodal", "scale"],
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize, oracle-checked: each document becomes a 2×2
    binary P6 PPM (pixels = first 12 md5 bytes), decoded and
    nearest-neighbor-resampled to 3×3 by pure numpy on the executors
    (operators/multimodal.resize_images); the oracle reproduces the NN
    index map (floor(i·2/3) = [0,0,1]) arithmetically over the md5 hex,
    so an off-by-one in the resample indexing breaks the hash match.
    Completes the decode / feature-extract / RESIZE / frame-sample
    multimodal quartet."""
    docs = _t(spark, sf_dir, "documents")
    blobs = docs.select(
        F.col("doc_id").alias("id"),
        F.concat(
            F.lit(b"P6\n2 2\n255\n"),
            F.expr("substring(unhex(md5(encode(coalesce(text, ''), 'UTF-8'))), 1, 12)"),
        ).alias("content"),
    )
    out = multimodal.resize_images(blobs, 3, 3)
    return out.select(
        "id",
        "decode_ok",
        F.concat_ws("x", F.transform("shape", lambda d: d.cast("string"))).alias("shape_s"),
        F.concat_ws(",", F.transform("pixels", lambda v: v.cast("string"))).alias("pixels_s"),
    )


# ---------------------------------------------------------------------------
# Multimodal near-dup dedup (round 12): perceptual image hashing. The
# synthetic images are REAL binary P6 PPMs whose 8×8 grayscale pixels
# derive from md5 of a FAMILY key (doc_id DIV 4) with one per-document
# variant pixel — so each 4-doc family is a planted near-duplicate
# cluster (same image up to a small brightness change in one pixel),
# exactly the recompressed/re-encoded duplicate population an image
# training corpus carries. Family count grows WITH the corpus (ids DIV
# 4), so planted-pair volume is linear, never quadratic.
# ---------------------------------------------------------------------------


def _phash_gray_sql() -> str:
    """g0..g63 for the oracle: the same md5-derived gray bytes the Spark
    side renders into PPM pixels, as hex-char arithmetic (the
    multimodal_real_decode precedent). g0 is the variant pixel (byte
    vidx of the family's ':p' block, vidx carried by the m CTE);
    g1..g63 are bytes 1..15 of block ':0' then all of ':1'..':3'."""
    cols = [
        "((strpos('0123456789abcdef', substr(mp, 2*vidx+1, 1)) - 1) * 16 + "
        "(strpos('0123456789abcdef', substr(mp, 2*vidx+2, 1)) - 1)) AS g0"
    ]
    for j in range(1, 64):
        h = f"m{j // 16}"
        c = 2 * (j % 16) + 1
        cols.append(
            f"((strpos('0123456789abcdef', substr({h}, {c}, 1)) - 1) * 16 + "
            f"(strpos('0123456789abcdef', substr({h}, {c + 1}, 1)) - 1)) AS g{j}"
        )
    return ", ".join(cols)


def _phash_hx_ctes(
    src: str = "documents",
    id_expr: str = "doc_id",
    fam_expr: str = "doc_id // 4",
    var_expr: str = "doc_id % 4",
) -> str:
    """CTEs from ``src`` to per-item hash halves ``hx(id, h_lo, h_hi)``
    — the arithmetic twin of image_ahash over the planted-family PPMs.
    Parameterized on the id / family / variant expressions so the same
    chain renders over ``documents`` (default) or the injected-copy
    ``corpus`` id space (copies re-host their original's image:
    fam/var keyed on id % 100000)."""
    ssum = " + ".join(f"g{j}" for j in range(64))
    lo = " + ".join(
        f"(CASE WHEN 64*g{j} > ssum THEN {1 << j} ELSE 0 END)" for j in range(32)
    )
    hi = " + ".join(
        f"(CASE WHEN 64*g{j + 32} > ssum THEN {1 << j} ELSE 0 END)" for j in range(32)
    )
    blocks = ",\n        ".join(
        f"md5('ph:' || CAST({fam_expr} AS VARCHAR) || ':{k}') AS m{k}"
        for k in range(4)
    )
    return f"""m AS (
      SELECT {id_expr} AS doc_id, ({var_expr}) AS vidx,
        md5('ph:' || CAST({fam_expr} AS VARCHAR) || ':p') AS mp,
        {blocks}
      FROM {src}
    ),
    px AS (SELECT doc_id, {_phash_gray_sql()} FROM m),
    s AS (SELECT *, {ssum} AS ssum FROM px),
    hx AS (SELECT doc_id AS id, {lo} AS h_lo, {hi} AS h_hi FROM s)"""


def _phash_band_cte(src: str, name: str) -> str:
    """One banding CTE over a hash table ``src(id, h_lo, h_hi)`` — the
    SQL twin of the 4×16-bit split in dedup.hamming_band_pairs."""
    return f"""{name} AS (
      SELECT id, h_lo, h_hi, b.band_i,
        CASE b.band_i WHEN 0 THEN h_lo % 65536 WHEN 1 THEN h_lo // 65536
             WHEN 2 THEN h_hi % 65536 ELSE h_hi // 65536 END AS bval
      FROM {src}, (SELECT unnest([0, 1, 2, 3]) AS band_i) b
    )"""


_PHASH_HAM = "bit_count(xor(a.h_lo, b2.h_lo)) + bit_count(xor(a.h_hi, b2.h_hi))"


def _phash_cte_body() -> str:
    """The shared CTE chain (hashes → band join → verified ``pairs``),
    composed by the pair query and the survivor materialization."""
    return f"""{_phash_hx_ctes()},
    {_phash_band_cte("hx", "band")},
    pairs AS (
      SELECT DISTINCT a.id AS id_a, b2.id AS id_b,
        CAST({_PHASH_HAM} AS BIGINT) AS hamming
      FROM band a
      JOIN band b2 ON a.band_i = b2.band_i AND a.bval = b2.bval AND a.id < b2.id
      WHERE {_PHASH_HAM} <= 2
    )"""


def _phash_oracle_sql() -> str:
    return f"""
    WITH {_phash_cte_body()}
    SELECT id_a, id_b, hamming FROM pairs ORDER BY id_a, id_b
    """


def _phash_blobs(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Render each document's family-derived 8×8 grayscale image as REAL
    binary P6 PPM bytes (r=g=b=gray byte), entirely in Catalyst binary
    expressions — no Python in the synthesis path. ``id_col`` names the
    OUTPUT id when it differs from the ``doc_id`` render key (the
    injected-copy corpus: copies carry their own id but re-host their
    original's image, so pixels derive from doc_id = id % 100000)."""

    def pix(j: int):
        if j == 0:
            return F.expr(
                "substring(unhex(md5(concat('ph:', CAST(doc_id DIV 4 AS STRING), "
                "':p'))), CAST(doc_id % 4 AS INT) + 1, 1)"
            )
        return F.expr(
            f"substring(unhex(md5(concat('ph:', CAST(doc_id DIV 4 AS STRING), "
            f"':{j // 16}'))), {j % 16 + 1}, 1)"
        )

    parts = [F.lit(b"P6\n8 8\n255\n")]
    for j in range(64):
        p = pix(j)
        parts += [p, p, p]
    return docs.select(F.col(id_col).alias("id"), F.concat(*parts).alias("content"))


@register(
    "image_phash_near_dup",
    _phash_oracle_sql(),
    tags=["multimodal", "dedup", "similarity", "scale"],
)
def image_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup, end to end and oracle-checked — the
    multimodal member of the near-dup family (text MinHash/SimHash,
    URL, embedding-cosine … and now images): every document renders as
    an actual 8×8 P6 PPM, the executors DECODE the real bytes
    (pure-numpy raster decoder), aHash them (integer grayscale,
    strict P·gray > Σgray threshold — multimodal.image_ahash), and
    near-dup pairs come from 4×16-bit Hamming banding
    (dedup.hamming_band_pairs: pigeonhole-complete for Hamming ≤ 3,
    verified exact ≤ 2 via xor/bit_count). The oracle recomputes the
    same integer pipeline from the md5 hex — a decoder header bug, a
    channel-order swap, a threshold off-by-one, or a band split error
    all break the hash match.

    100 TB design: hashing is one mapInArrow pass (rasters never
    shuffle — 3 longs per image leave the executor); candidates come
    only from the 65536-bucket band equi-join, so the pair volume is
    set by true near-dups (planted linear here), never N²."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    # fingerprint ONCE: the pair machinery references the hash table in
    # several join branches, and an unmaterialized Python-side decode
    # would re-run per branch (measured 1.99 -> 1.10 s at sf0.1)
    hashes = multimodal.image_ahash(_phash_blobs(docs)).localCheckpoint()
    from reddit_tech_jobs_data_pipeline_spark.operators.dedup import (
        hamming_band_pairs,
    )

    return (
        hamming_band_pairs(hashes, band_bits=16, max_hamming=2)
        .select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))
        .orderBy("id_a", "id_b")
    )


def _phash_blobs_mixed(docs: DataFrame) -> DataFrame:
    """_phash_blobs with a PLANTED DEGENERATE FLOOD: every 25th doc
    renders MONOCHROME (all 64 pixels the same gray — the gray byte
    varies per doc, from md5, but aHash maps EVERY monochrome image to
    (0, 0): no pixel is strictly above the mean, all bits clear). This
    is the real-world failure mode the hot-content levers exist for —
    bulk identical fingerprints from distinct payloads — planted so the
    exact-hash collapse fires against the oracle, not only in unit
    fixtures. Flood size grows with the corpus (ids % 25), so the
    degenerate population scales like production monochrome bulk."""

    def pix(j: int):
        if j == 0:
            return F.expr(
                "substring(unhex(md5(concat('ph:', CAST(doc_id DIV 4 AS STRING), "
                "':p'))), CAST(doc_id % 4 AS INT) + 1, 1)"
            )
        return F.expr(
            f"substring(unhex(md5(concat('ph:', CAST(doc_id DIV 4 AS STRING), "
            f"':{j // 16}'))), {j % 16 + 1}, 1)"
        )

    mono_byte = F.expr(
        "substring(unhex(md5(concat('mono:', CAST(doc_id AS STRING)))), 1, 1)"
    )
    parts, mono_parts = [F.lit(b"P6\n8 8\n255\n")], [F.lit(b"P6\n8 8\n255\n")]
    for j in range(64):
        pf, pm = pix(j), mono_byte
        parts += [pf, pf, pf]
        mono_parts += [pm, pm, pm]
    # two filtered branches unioned, NOT a when/otherwise over both
    # 193-part concats: the single conditional tree exceeded the JVM
    # method limit and fell back to interpreted evaluation (and
    # CollapseProject undoes any staging split); each branch alone
    # codegens like _phash_blobs does
    fam = docs.filter(F.col("doc_id") % 25 != 0).select(
        F.col("doc_id").alias("id"), F.concat(*parts).alias("content")
    )
    mono = docs.filter(F.col("doc_id") % 25 == 0).select(
        F.col("doc_id").alias("id"), F.concat(*mono_parts).alias("content")
    )
    return fam.unionByName(mono)


def _phash_mixed_hx_ctes() -> str:
    """hx for the mixed fixture: the standard family hash chain, with
    every 25th id overridden to the monochrome (0, 0) — exactly what
    aHash computes for a constant raster (no pixel strictly above the
    mean)."""
    return f"""{_phash_hx_ctes()},
    hxm AS (
      SELECT id,
             CASE WHEN id % 25 = 0 THEN 0 ELSE h_lo END AS h_lo,
             CASE WHEN id % 25 = 0 THEN 0 ELSE h_hi END AS h_hi
      FROM hx
    )"""


@register(
    "multimodal_duplicate_census",
    f"""
    WITH {_phash_mixed_hx_ctes()}
    SELECT h_lo, h_hi, CAST(count(*) AS BIGINT) AS n_members,
           CAST(min(id) AS BIGINT) AS rep_id
    FROM hxm GROUP BY h_lo, h_hi HAVING count(*) >= 2
    ORDER BY n_members DESC, h_lo, h_hi
    """,
    tags=["multimodal", "dedup", "observability", "scale"],
)
def multimodal_duplicate_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-content OBSERVABILITY surface for the fingerprint family:
    every exact-fingerprint group with ≥ 2 members, its size and its
    representative — the census an operator reads before (or after)
    turning the max_band_df / max_frame_df dials, because a capped key
    should be a visible population, not a silent drop. Run against the
    degenerate-flood fixture (every 25th doc monochrome → one (0,0)
    group whose size grows with the corpus) so the census actually has
    a flood to report, oracle-checked. One groupBy on the 2-long hash —
    the cheapest possible pass over the fingerprint store; at 100 TB
    this is the same shape as any key-frequency profile."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    hashes = multimodal.image_ahash(_phash_blobs_mixed(docs))
    return (
        hashes.groupBy("h_lo", "h_hi")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.min("id").cast("long").alias("rep_id"),
        )
        .filter(F.col("n_members") >= 2)
        .orderBy(F.col("n_members").desc(), "h_lo", "h_hi")
    )


@register(
    "image_dedup_monochrome_flood",
    f"""
    WITH RECURSIVE {_phash_mixed_hx_ctes()},
    {_phash_band_cte("hxm", "band")},
    pairs AS (
      SELECT DISTINCT a.id AS id_a, b2.id AS id_b
      FROM band a
      JOIN band b2 ON a.band_i = b2.band_i AND a.bval = b2.bval AND a.id < b2.id
      WHERE {_PHASH_HAM} <= 2
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(id, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id
    ),
    cl AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id),
    sizes AS (SELECT cluster_id, count(*) AS n FROM cl GROUP BY cluster_id)
    SELECT d.doc_id AS id, CAST(coalesce(sz.n, 1) AS BIGINT) AS cluster_size
    FROM documents d
    LEFT JOIN cl ON cl.id = d.doc_id
    LEFT JOIN sizes sz ON sz.cluster_id = cl.cluster_id
    WHERE cl.id IS NULL OR cl.id = cl.cluster_id
    ORDER BY id
    """,
    tags=["multimodal", "dedup", "iterative", "scale"],
)
def image_dedup_monochrome_flood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """image_dedup_survivors against the DEGENERATE-FLOOD fixture — the
    r12 verdict's scale-killer scenario run end to end with the levers
    on and value-hash-checked against the oracle: every 25th doc is a
    monochrome image (distinct bytes, ONE fingerprint), so without the
    exact-hash collapse the band join would explode quadratically in
    the flood; with it, the flood is one representative row through the
    join, the star-edge mode emits |flood|-1 linear edges, and the CC
    collapses the whole flood to a single survivor whose cluster_size
    IS the flood census (plus every normal family surviving as usual).
    The oracle replays full band-join pairs + recursive CC — component
    equivalence of the star-edge form is therefore checked against an
    independent engine on a real flood, not just in unit tests."""
    from reddit_tech_jobs_data_pipeline_spark.operators.dedup import (
        cluster_near_dups,
        hamming_band_pairs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    # fingerprint once — see image_phash_near_dup
    hashes = multimodal.image_ahash(_phash_blobs_mixed(docs)).localCheckpoint()
    pairs = hamming_band_pairs(hashes, band_bits=16, max_hamming=2, exact_pairs=False)
    clusters = cluster_near_dups(pairs.select("id_a", "id_b"))
    sizes = clusters.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n"))
    dupes = clusters.filter(F.col("id") != F.col("cluster_id")).select("id")
    base = docs.select(F.col("doc_id").alias("id"))
    survivors = base.join(dupes, "id", "left_anti")
    return (
        survivors.join(
            clusters.join(sizes, "cluster_id").select("id", "n"), "id", "left"
        )
        .select("id", F.coalesce("n", F.lit(1)).cast("long").alias("cluster_size"))
        .orderBy("id")
    )


def _shot_blobs(docs: DataFrame) -> DataFrame:
    """Render each document as a 6-frame raw clip with a PLANTED SHOT
    STRUCTURE: frames 0-2 render from shot key 0, frames 3-5 from shot
    key 1 (keys salted per doc), so consecutive frames are identical
    within a shot and ~32 Hamming bits apart across the cut at frame 3
    — the fixture shot-boundary detection needs (the 4-frame _vfh_blobs
    clips are all-distinct frames, where every transition is trivially
    a cut). Same staged-digest projection trick as _vfh_blobs."""
    staged = docs.select(
        F.col("doc_id").alias("id"),
        *[
            F.expr(
                f"unhex(md5(concat('sb:', CAST(doc_id AS STRING), ':{f // 3}:{k}')))"
            ).alias(f"b_{f // 3}_{k}")
            for f in (0, 3)
            for k in range(4)
        ],
    )
    parts = []
    for f in range(6):
        parts.append(F.lit(b"P6\n8 8\n255\n"))
        for j in range(64):
            px = F.expr(f"substring(b_{f // 3}_{j // 16}, {j % 16 + 1}, 1)")
            parts += [px, px, px]
    return staged.select("id", F.concat(*parts).alias("content"))


def _shot_oracle_sql() -> str:
    """Twin of the shot-boundary walk: per-frame aHash from the shot
    key (frame f uses key f // 3), then per-frame Hamming against the
    previous frame and the integer cut test."""

    def hexb(h: str, j: int) -> str:
        c = 2 * j + 1
        return (
            f"((strpos('0123456789abcdef', substr({h}, {c}, 1)) - 1) * 16 + "
            f"(strpos('0123456789abcdef', substr({h}, {c + 1}, 1)) - 1))"
        )

    gcols = [f"{hexb(f'm{j // 16}', j % 16)} AS g{j}" for j in range(64)]
    ssum = " + ".join(f"g{j}" for j in range(64))
    lo = " + ".join(
        f"(CASE WHEN 64*g{j} > ssum THEN {1 << j} ELSE 0 END)" for j in range(32)
    )
    hi = " + ".join(
        f"(CASE WHEN 64*g{j + 32} > ssum THEN {1 << j} ELSE 0 END)" for j in range(32)
    )
    mcols = ", ".join(
        f"md5('sb:' || CAST(doc_id AS VARCHAR) || ':' || CAST(f // 3 AS VARCHAR) "
        f"|| ':{k}') AS m{k}"
        for k in range(4)
    )
    return f"""
    WITH fr AS (
      SELECT doc_id, f.f
      FROM documents, (SELECT unnest([0, 1, 2, 3, 4, 5]) AS f) f
    ),
    m AS (SELECT doc_id, f, {mcols} FROM fr),
    px AS (SELECT doc_id, f, {", ".join(gcols)} FROM m),
    s AS (SELECT *, {ssum} AS ssum FROM px),
    hx AS (SELECT doc_id AS id, f, {lo} AS h_lo, {hi} AS h_hi FROM s)
    SELECT a.id, CAST(a.f AS INT) AS frame_idx,
           CAST(bit_count(xor(a.h_lo, p.h_lo))
              + bit_count(xor(a.h_hi, p.h_hi)) AS BIGINT) AS hamming_prev,
           (bit_count(xor(a.h_lo, p.h_lo))
              + bit_count(xor(a.h_hi, p.h_hi))) > 10 AS is_cut
    FROM hx a JOIN hx p ON a.id = p.id AND a.f = p.f + 1
    ORDER BY a.id, a.f
    """


@register(
    "video_shot_boundaries",
    _shot_oracle_sql(),
    tags=["multimodal", "window", "scale"],
)
def video_shot_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection by perceptual-hash delta — the standard
    content-based segmentation primitive (a hard cut moves most of the
    frame's luminance pattern, so consecutive-frame aHash Hamming jumps
    from ~0 within a shot to ~32 across a cut): walk + decode + aHash
    every frame (multimodal.video_frame_hashes — one mapInArrow pass,
    rasters never shuffle), then ONE lag window per video over the
    3-long frame rows and the integer cut test hamming > 10. The
    planted clips carry two 3-frame shots, so exactly frame 3 cuts per
    video; within-shot deltas are 0. The oracle recomputes frame
    hashes from the md5 hex and replays the lag as a self-join.

    100 TB: segmentation cost = the decode pass (honest per-frame
    work) + a window over (id, frame_idx) — shuffle weight is 3 longs
    per frame, never pixels; downstream shot-level dedup rides the
    same vote machinery as whole-video dedup, keyed on cut-bounded
    segments instead of clips."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    fh = multimodal.video_frame_hashes(_shot_blobs(docs))
    w = Window.partitionBy("id").orderBy("frame_idx")
    ham = F.bit_count(
        F.col("h_lo").bitwiseXOR(F.lag("h_lo").over(w))
    ) + F.bit_count(F.col("h_hi").bitwiseXOR(F.lag("h_hi").over(w)))
    return (
        fh.select("id", "frame_idx", ham.alias("hamming_prev"))
        .filter(F.col("hamming_prev").isNotNull())
        .select(
            "id",
            "frame_idx",
            F.col("hamming_prev").cast("long").alias("hamming_prev"),
            (F.col("hamming_prev") > 10).alias("is_cut"),
        )
        .orderBy("id", "frame_idx")
    )


def _afp_hx_ctes(
    src: str = "documents",
    id_expr: str = "doc_id",
    fam_expr: str = "doc_id // 4",
    var_expr: str = "doc_id % 4",
    prefix: str = "",
) -> str:
    """CTEs from ``src`` to per-clip fingerprint halves ``{prefix}hx(id,
    h_lo, h_hi)`` — the arithmetic twin of audio_fingerprint over the
    planted-family WAVs: 128 little-endian int16 samples reconstructed
    from md5 hex (the multimodal_real_decode_audio arithmetic), 64
    two-sample frame energies, 63 delta-sign bits packed into two
    32-bit longs. Parameterized like _phash_hx_ctes (id / family /
    variant expressions for the injected-copy corpus, where copies
    re-host their original's clip); ``prefix`` renames the CTEs so the
    chain can coexist with the image chain in one WITH clause."""

    def hb(h: str, b: int) -> str:
        return (
            f"((strpos('0123456789abcdef', substr({h}, {2 * b + 1}, 1)) - 1) * 16 + "
            f"(strpos('0123456789abcdef', substr({h}, {2 * b + 2}, 1)) - 1))"
        )

    ucols = [
        "(((strpos('0123456789abcdef', substr(mp, 4*vidx+1, 1)) - 1) * 16 + "
        "(strpos('0123456789abcdef', substr(mp, 4*vidx+2, 1)) - 1)) + 256 * "
        "((strpos('0123456789abcdef', substr(mp, 4*vidx+3, 1)) - 1) * 16 + "
        "(strpos('0123456789abcdef', substr(mp, 4*vidx+4, 1)) - 1))) AS u0"
    ]
    for i in range(1, 128):
        k, j = i // 8, i % 8
        ucols.append(f"({hb(f'm{k}', 2 * j)} + 256 * {hb(f'm{k}', 2 * j + 1)}) AS u{i}")
    scols = [
        f"(u{i} - 65536 * CAST(u{i} >= 32768 AS BIGINT)) AS s{i}" for i in range(128)
    ]
    ecols = [f"(s{2*w}*s{2*w} + s{2*w+1}*s{2*w+1}) AS e{w}" for w in range(64)]
    lo = " + ".join(
        f"(CASE WHEN e{j + 1} > e{j} THEN {1 << j} ELSE 0 END)" for j in range(32)
    )
    hi = " + ".join(
        f"(CASE WHEN e{j + 33} > e{j + 32} THEN {1 << j} ELSE 0 END)" for j in range(31)
    )
    mcols = ", ".join(
        f"md5('af:' || CAST({fam_expr} AS VARCHAR) || ':{k}') AS m{k}"
        for k in range(16)
    )
    pf = prefix
    return f"""{pf}m AS (
      SELECT {id_expr} AS doc_id, ({var_expr}) AS vidx,
             md5('af:' || CAST({fam_expr} AS VARCHAR) || ':p') AS mp,
             {mcols}
      FROM {src}
    ),
    {pf}u AS (SELECT doc_id, vidx, {", ".join(ucols)} FROM {pf}m),
    {pf}sN AS (SELECT doc_id, {", ".join(scols)} FROM {pf}u),
    {pf}e AS (SELECT doc_id, {", ".join(ecols)} FROM {pf}sN),
    {pf}hx AS (SELECT doc_id AS id, {lo} AS h_lo, {hi} AS h_hi FROM {pf}e)"""


def _afp_oracle_sql() -> str:
    """Unrolled DuckDB twin of the energy-delta audio fingerprint
    (_afp_hx_ctes), then the same band/verify SQL as the image phash."""
    return f"""
    WITH {_afp_hx_ctes()},
    {_phash_band_cte("hx", "band")}
    SELECT DISTINCT a.id AS id_a, b2.id AS id_b,
      CAST({_PHASH_HAM} AS BIGINT) AS hamming
    FROM band a
    JOIN band b2 ON a.band_i = b2.band_i AND a.bval = b2.bval AND a.id < b2.id
    WHERE {_PHASH_HAM} <= 2
    ORDER BY id_a, id_b
    """


# PCM16 mono 8 kHz WAV header for a fixed 256-byte (128-sample) data
# chunk; sizes are literals because the payload length is fixed
_AFP_WAV_HEADER = (
    b"RIFF\x24\x01\x00\x00WAVE"
    b"fmt \x10\x00\x00\x00\x01\x00\x01\x00\x40\x1f\x00\x00\x80\x3e\x00\x00\x02\x00\x10\x00"
    b"data\x00\x01\x00\x00"
)


def _afp_blobs(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Render each document's family-derived 128-sample clip as a REAL
    PCM16 WAV — sample bytes straight from md5 digests (sample 0 is the
    per-doc variant pair), header + payload all Catalyst binary
    expressions. ``id_col`` names the OUTPUT id when it differs from
    the ``doc_id`` render key (the injected-copy corpus: copies carry
    their own id but re-host their original's clip)."""
    p0 = F.expr(
        "substring(unhex(md5(concat('af:', CAST(doc_id DIV 4 AS STRING), ':p'))), "
        "2*CAST(doc_id % 4 AS INT)+1, 2)"
    )
    parts = [
        F.lit(_AFP_WAV_HEADER),
        p0,
        F.expr(
            "substring(unhex(md5(concat('af:', CAST(doc_id DIV 4 AS STRING), "
            "':0'))), 3, 14)"
        ),
    ]
    for k in range(1, 16):
        parts.append(
            F.expr(
                f"substring(unhex(md5(concat('af:', CAST(doc_id DIV 4 AS STRING), "
                f"':{k}'))), 1, 16)"
            )
        )
    return docs.select(F.col(id_col).alias("id"), F.concat(*parts).alias("content"))


@register(
    "audio_fingerprint_near_dup",
    _afp_oracle_sql(),
    tags=["multimodal", "dedup", "similarity", "scale"],
)
def audio_fingerprint_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup dedup, end to end and oracle-checked — completes
    the multimodal dedup pair (image_phash_near_dup is the visual
    sibling): every document renders as an actual 128-sample PCM16 WAV,
    the executors DECODE the real RIFF bytes (pure-numpy chunk walk),
    fingerprint them with the energy-delta sign code
    (multimodal.audio_fingerprint — simplified Haitsma–Kalker: bit j =
    E[j+1] > E[j] over 64 two-sample frames, integer-exact), and pairs
    come from the SAME 4×16-bit Hamming banding as the image hash
    (dedup.hamming_band_pairs consumes both modalities unchanged). The
    planted families (doc_id DIV 4, one variant sample pair per doc)
    give linear pair volume; the oracle reconstructs signed samples,
    frame energies, delta bits, packing and banding from the md5 hex —
    an endianness bug, a chunk-walk error, an energy overflow or a
    band split error all break the value hash.

    100 TB design: one mapInArrow pass per clip (samples never cross
    a shuffle; 3 longs leave the executor), candidates only from the
    65536-bucket band equi-join — the same shape as every other
    near-dup family."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    # fingerprint once — see image_phash_near_dup
    fps = multimodal.audio_fingerprint(_afp_blobs(docs)).localCheckpoint()
    from reddit_tech_jobs_data_pipeline_spark.operators.dedup import (
        hamming_band_pairs,
    )

    return (
        hamming_band_pairs(fps, band_bits=16, max_hamming=2)
        .select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))
        .orderBy("id_a", "id_b")
    )


# The hot-frame cap wired into the video query AND its oracle twin: a
# frame hash carried by more distinct videos is a stop frame (black
# frame / ident card class) and is dropped before the vote join. The
# planted families peak at 4 videos per shared frame hash, so the cap
# is semantically inert at fixture scale while staying oracle-verified
# end to end (a real trigger changes both engines identically).
_VFH_MAX_FRAME_DF = 16


def _vfh_hx_ctes() -> str:
    """CTEs from documents to per-FRAME hash halves ``hx(id, f, h_lo,
    h_hi)`` — the arithmetic twin of video_frame_hashes over the
    planted-family clips: each doc carries 4 frames (frame f of family
    doc_id DIV 4, except frame doc_id % 4 which is doc-specific), every
    frame aHashes exactly like the image oracle."""

    def hexb(h: str, j: int) -> str:
        c = 2 * j + 1
        return (
            f"((strpos('0123456789abcdef', substr({h}, {c}, 1)) - 1) * 16 + "
            f"(strpos('0123456789abcdef', substr({h}, {c + 1}, 1)) - 1))"
        )

    gcols = [f"{hexb(f'm{j // 16}', j % 16)} AS g{j}" for j in range(64)]
    ssum = " + ".join(f"g{j}" for j in range(64))
    lo = " + ".join(
        f"(CASE WHEN 64*g{j} > ssum THEN {1 << j} ELSE 0 END)" for j in range(32)
    )
    hi = " + ".join(
        f"(CASE WHEN 64*g{j + 32} > ssum THEN {1 << j} ELSE 0 END)" for j in range(32)
    )
    mcols = ", ".join(f"md5(fkey || ':{k}') AS m{k}" for k in range(4))
    return f"""fr AS (
      SELECT doc_id, f.f,
        CASE WHEN f.f = doc_id % 4
             THEN 'vf:' || CAST(doc_id AS VARCHAR) || ':v'
             ELSE 'vf:' || CAST(doc_id // 4 AS VARCHAR) || ':' || CAST(f.f AS VARCHAR)
        END AS fkey
      FROM documents, (SELECT unnest([0, 1, 2, 3]) AS f) f
    ),
    m AS (SELECT doc_id, f, {mcols} FROM fr),
    px AS (SELECT doc_id, f, {", ".join(gcols)} FROM m),
    s AS (SELECT *, {ssum} AS ssum FROM px),
    hx AS (SELECT doc_id AS id, f, {lo} AS h_lo, {hi} AS h_hi FROM s)"""


def _vfh_oracle_sql() -> str:
    """Unrolled DuckDB twin of the per-frame perceptual hash
    (_vfh_hx_ctes): videos pair when they share >= 2 distinct frame
    hashes — after the _VFH_MAX_FRAME_DF stop-frame cap, mirrored here
    as the fok/hxd CTEs."""
    return f"""
    WITH {_vfh_hx_ctes()},
    fok AS (
      SELECT h_lo, h_hi FROM (
        SELECT h_lo, h_hi, count(DISTINCT id) AS c FROM hx GROUP BY 1, 2
      ) WHERE c <= {_VFH_MAX_FRAME_DF}
    ),
    hxd AS (
      SELECT DISTINCT id, h_lo, h_hi FROM hx JOIN fok USING (h_lo, h_hi)
    )
    SELECT a.id AS id_a, b.id AS id_b, CAST(count(*) AS BIGINT) AS shared_frames
    FROM hxd a JOIN hxd b ON a.h_lo = b.h_lo AND a.h_hi = b.h_hi AND a.id < b.id
    GROUP BY 1, 2 HAVING count(*) >= 2
    ORDER BY id_a, id_b
    """


def _vfh_blobs(docs: DataFrame) -> DataFrame:
    """Render each document's 4-frame clip as REAL concatenated P6 PPM
    frames (frame f = family frame except the doc-specific frame at
    index doc_id % 4). Two-step projection: the 16 md5 digests
    materialize ONCE as intermediate binary columns, then the raster
    bytes are substrings of those — without the staging projection each
    of the 768 per-byte substrings re-evaluated its md5 (measured 10.2 s
    → the digest work dominated the fixture at sf0.1). Synthesis is
    fixture-only; real payloads arrive as binary columns and skip
    this."""
    staged = docs.select(
        F.col("doc_id").alias("id"),
        *[
            F.expr(
                f"unhex(md5(concat(CASE WHEN {f} = doc_id % 4 "
                f"THEN concat('vf:', CAST(doc_id AS STRING), ':v') "
                f"ELSE concat('vf:', CAST(doc_id DIV 4 AS STRING), ':{f}') END"
                f", ':{k}')))"
            ).alias(f"b_{f}_{k}")
            for f in range(4)
            for k in range(4)
        ],
    )
    parts = []
    for f in range(4):
        parts.append(F.lit(b"P6\n8 8\n255\n"))
        for j in range(64):
            p = F.expr(f"substring(b_{f}_{j // 16}, {j % 16 + 1}, 1)")
            parts += [p, p, p]
    return staged.select("id", F.concat(*parts).alias("content"))


@register(
    "video_framehash_near_dup",
    _vfh_oracle_sql(),
    tags=["multimodal", "dedup", "similarity", "scale"],
)
def video_framehash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup by frame-hash voting — completes the multimodal
    dedup triple (image aHash, audio energy-delta, and now video): each
    document renders as a 4-frame raw clip (concatenated real P6
    frames), the executors WALK and DECODE every frame
    (multimodal.video_frame_hashes — the pure-numpy raster decoder per
    frame, image_ahash's exact integer pipeline per hash), and two
    videos pair when they share >= 2 distinct frame hashes — the
    content-based-video-retrieval blocking shape (a re-encoded or
    lightly-edited copy keeps most keyframes; requiring multiple shared
    frames suppresses single-frame coincidences). The planted families
    share 3 of 4 frames pairwise-intersecting in 2, so every family
    pair survives and volume stays linear.

    The pairing is ONE frame-hash equi-join + a grouped count (per-item
    hash sets deduplicated first) — videos are never compared pairwise,
    and the join key space (64-bit hashes) keeps unrelated videos
    apart. The _VFH_MAX_FRAME_DF stop-frame cap
    (dedup.shared_hash_vote_pairs) drops frame hashes shared by
    unboundedly many videos — black frames, ident cards — BEFORE the
    join, the lever that keeps candidate volume linear on real corpora
    (such frames carry no duplicate evidence). The oracle recomputes
    frame hashes from the md5 hex and replays the same cap + join/vote
    in SQL."""
    from reddit_tech_jobs_data_pipeline_spark.operators.dedup import (
        shared_hash_vote_pairs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    # frame-hash once: the vote self-joins the per-frame table — see
    # image_phash_near_dup for the re-decode hazard
    fh = multimodal.video_frame_hashes(_vfh_blobs(docs)).localCheckpoint()
    return (
        shared_hash_vote_pairs(fh, min_shared=2, max_frame_df=_VFH_MAX_FRAME_DF)
        .select("id_a", "id_b", F.col("shared_frames").cast("long").alias("shared_frames"))
        .orderBy("id_a", "id_b")
    )


@register(
    "image_dedup_survivors",
    f"""
    WITH RECURSIVE {_phash_cte_body()},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(id, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id
    ),
    cl AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id),
    sizes AS (SELECT cluster_id, count(*) AS n FROM cl GROUP BY cluster_id)
    SELECT d.doc_id AS id, CAST(coalesce(sz.n, 1) AS BIGINT) AS cluster_size
    FROM documents d
    LEFT JOIN cl ON cl.id = d.doc_id
    LEFT JOIN sizes sz ON sz.cluster_id = cl.cluster_id
    WHERE cl.id IS NULL OR cl.id = cl.cluster_id
    ORDER BY id
    """,
    tags=["multimodal", "dedup", "iterative", "scale"],
)
def image_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image-dedup MATERIALIZATION — corpus in, cleaned corpus out
    (near_dup_deduped_corpus's contract for the image modality):
    perceptual-hash pairs (image_phash_near_dup's exact pipeline) →
    connected components (star contraction, O(log n) rounds) → one
    canonical survivor per cluster (minimum id), every other member
    dropped via a single hash-partitioned anti join. Output keeps each
    survivor's cluster_size (1 for never-duplicated images) — the
    provenance column a curation pipeline carries into mixture
    weighting (a 40-copy image should not weigh 40×). The oracle
    replays CC as a recursive min-reachable-id CTE over the same
    pairs."""
    return _image_survivors_df(spark, sf_dir).orderBy("id")


def _image_survivors_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, cluster_size) of image-dedup survivors, unordered — the
    composable core of image_dedup_survivors, reused as a stage by the
    multimodal export chain (multimodal_corpus_export_e2e)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    # fingerprint once — see image_phash_near_dup
    hashes = multimodal.image_ahash(_phash_blobs(docs)).localCheckpoint()
    from reddit_tech_jobs_data_pipeline_spark.operators.dedup import (
        cluster_near_dups,
        hamming_band_pairs,
    )

    # exact_pairs=False: the CC only needs connectivity, and the linear
    # star-edge form keeps identical-hash floods (monochrome bulk) from
    # expanding to B² edges before the contraction even starts
    pairs = hamming_band_pairs(hashes, band_bits=16, max_hamming=2, exact_pairs=False)
    clusters = cluster_near_dups(pairs.select("id_a", "id_b"))
    sizes = clusters.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n"))
    dupes = clusters.filter(F.col("id") != F.col("cluster_id")).select("id")
    base = docs.select(F.col("doc_id").alias("id"))
    survivors = base.join(dupes, "id", "left_anti")
    return survivors.join(
        clusters.join(sizes, "cluster_id").select("id", "n"), "id", "left"
    ).select("id", F.coalesce("n", F.lit(1)).cast("long").alias("cluster_size"))


def _two_round_fp_ingest_sql(hx_ctes: str) -> str:
    """The shared two-micro-batch dedup-at-ingest replay for WHOLE-ITEM
    fingerprints, parameterized on the modality's hash derivation CTEs
    (must end in ``hx(id, h_lo, h_hi)``): batch 1 (id % 4 < 2) dedups
    internally, batch 2 dedups against batch 1's survivors AND
    internally, and the final store is the union of survivor ids —
    exactly fingerprint_ingest.ingest_batch_fingerprints' rules, so the
    streaming composition (mtime batch order, store append, dup
    routing) must preserve the batch operator's semantics to
    hash-match."""
    return f"""
    WITH {hx_ctes},
    b1 AS (SELECT * FROM hx WHERE id % 4 < 2),
    b2 AS (SELECT * FROM hx WHERE id % 4 >= 2),
    {_phash_band_cte("b1", "band1")},
    {_phash_band_cte("b2", "band2")},
    d1 AS (
      SELECT DISTINCT b2.id FROM band1 a
      JOIN band1 b2 ON a.band_i = b2.band_i AND a.bval = b2.bval AND a.id < b2.id
      WHERE {_PHASH_HAM} <= 2
    ),
    s1 AS (SELECT * FROM b1 WHERE id NOT IN (SELECT id FROM d1)),
    {_phash_band_cte("s1", "bands1")},
    d2 AS (
      SELECT DISTINCT a.id FROM band2 a
      JOIN bands1 b2 ON a.band_i = b2.band_i AND a.bval = b2.bval
      WHERE {_PHASH_HAM} <= 2
      UNION
      SELECT DISTINCT b2.id FROM band2 a
      JOIN band2 b2 ON a.band_i = b2.band_i AND a.bval = b2.bval AND a.id < b2.id
      WHERE {_PHASH_HAM} <= 2
    ),
    s2 AS (SELECT * FROM b2 WHERE id NOT IN (SELECT id FROM d2))
    SELECT id FROM s1 UNION ALL SELECT id FROM s2 ORDER BY id
    """


@register(
    "streaming_image_dedup_ingest",
    _two_round_fp_ingest_sql(_phash_hx_ctes()),
    tags=["multimodal", "dedup", "streaming", "incremental", "scale"],
)
def streaming_image_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image dedup-AT-INGEST end to end through the real streaming
    engine (streaming/fingerprint_ingest.py) — the image modality's
    streaming_incremental_dedup: the planted-family images arrive in
    two micro-batches (family members doc_id % 4 < 2, then the rest),
    each batch is decoded + aHashed once, deduped against the persisted
    hash store (cross band join; an arrival within Hamming ≤ 2 of any
    stored survivor drops) and against itself (larger id of a verified
    pair drops), and survivors append their 3-long hash rows — the
    corpus of accepted images exists only as its hash store, rasters
    are never re-read. Replay safety is structural: a replayed batch's
    survivors self-match at Hamming 0 against the store and drop
    (pinned in tests/test_image_phash.py). The oracle replays both
    rounds in SQL over the same md5-derived hashes, so the streaming
    composition (mtime batch order, store append, dup routing) must
    preserve the batch operator's exact semantics to hash-match."""
    from reddit_tech_jobs_data_pipeline_spark.streaming.fingerprint_ingest import (
        ingest_batch_fingerprints,
        run_two_batch_ingest_batchlike,
    )

    return run_two_batch_ingest_batchlike(
        spark,
        _phash_blobs(_t(spark, sf_dir, "documents").select("doc_id")),
        f"imgdedup_{stable_work_key(sf_dir)}",
        multimodal.image_ahash,
        ingest_batch_fingerprints,
    )


@register(
    "streaming_audio_dedup_ingest",
    _two_round_fp_ingest_sql(_afp_hx_ctes()),
    tags=["multimodal", "dedup", "streaming", "incremental", "scale"],
)
def streaming_audio_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio dedup-AT-INGEST end to end through the real streaming
    engine — the energy-delta fingerprint riding the SAME
    modality-agnostic store + band-join loop as images
    (streaming/fingerprint_ingest.py; the fingerprints share the
    (id, h_lo, h_hi) shape, so nothing modality-specific exists below
    the decode): planted-family clips arrive in two micro-batches,
    each batch is decoded + fingerprinted once
    (multimodal.audio_fingerprint), deduped against the persisted
    store and itself, and survivors append 3 longs per clip — the
    accepted audio corpus exists only as its fingerprint store, samples
    are never re-read. The oracle replays both rounds in SQL over the
    same md5-derived fingerprints (the _afp_hx_ctes arithmetic), so an
    endianness bug, a batch-order break, or a dup-routing error all
    break the value hash."""
    from reddit_tech_jobs_data_pipeline_spark.streaming.fingerprint_ingest import (
        ingest_batch_fingerprints,
        run_two_batch_ingest_batchlike,
    )

    return run_two_batch_ingest_batchlike(
        spark,
        _afp_blobs(_t(spark, sf_dir, "documents").select("doc_id")),
        f"audiodedup_{stable_work_key(sf_dir)}",
        multimodal.audio_fingerprint,
        ingest_batch_fingerprints,
    )


def _vfh_two_round_sql() -> str:
    """Two-micro-batch replay of the per-frame VOTE ingest
    (fingerprint_ingest.ingest_batch_frame_votes): per-video distinct
    frame hashes, batch 1 dedups internally (≥2 shared frames, larger
    id drops), batch 2 votes against batch 1's surviving frame store
    AND internally, final store ids = union of survivors."""
    return f"""
    WITH {_vfh_hx_ctes()},
    hxd AS (SELECT DISTINCT id, h_lo, h_hi FROM hx),
    b1 AS (SELECT * FROM hxd WHERE id % 4 < 2),
    b2 AS (SELECT * FROM hxd WHERE id % 4 >= 2),
    p1 AS (
      SELECT a.id AS ia, b.id AS ib, count(*) AS c
      FROM b1 a JOIN b1 b ON a.h_lo = b.h_lo AND a.h_hi = b.h_hi AND a.id < b.id
      GROUP BY 1, 2
    ),
    d1 AS (SELECT DISTINCT ib AS id FROM p1 WHERE c >= 2),
    s1 AS (SELECT * FROM b1 WHERE id NOT IN (SELECT id FROM d1)),
    px2 AS (
      SELECT a.id AS ia, s.id AS isid, count(*) AS c
      FROM b2 a JOIN s1 s ON a.h_lo = s.h_lo AND a.h_hi = s.h_hi
      GROUP BY 1, 2
    ),
    p2 AS (
      SELECT a.id AS ia, b.id AS ib, count(*) AS c
      FROM b2 a JOIN b2 b ON a.h_lo = b.h_lo AND a.h_hi = b.h_hi AND a.id < b.id
      GROUP BY 1, 2
    ),
    d2 AS (
      SELECT DISTINCT ia AS id FROM px2 WHERE c >= 2
      UNION
      SELECT DISTINCT ib AS id FROM p2 WHERE c >= 2
    ),
    s2 AS (SELECT * FROM b2 WHERE id NOT IN (SELECT id FROM d2))
    SELECT DISTINCT id FROM (SELECT id FROM s1 UNION ALL SELECT id FROM s2)
    ORDER BY id
    """


@register(
    "streaming_video_dedup_ingest",
    _vfh_two_round_sql(),
    tags=["multimodal", "dedup", "streaming", "incremental", "scale"],
)
def streaming_video_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video dedup-AT-INGEST end to end through the real streaming
    engine — the per-frame VOTE variant of the fingerprint store
    (streaming/fingerprint_ingest.ingest_batch_frame_votes): each
    micro-batch's clips are walked + frame-decoded + aHashed once
    (multimodal.video_frame_hashes), an arrival sharing ≥ 2 distinct
    frame hashes with ANY single stored video drops (the CBVR blocking
    vote, dedup.shared_hash_vote_pairs_cross), batch-internal pairs
    drop the larger id, and survivors append one row per distinct
    frame hash — the accepted video corpus exists only as its frame
    store, rasters never re-read. The store carries frames (not
    whole-clip hashes), so a later re-edited copy that keeps ≥2
    keyframes of ANY accepted video still dedups. The oracle replays
    both rounds' votes in SQL over the same md5-derived frame
    hashes."""
    from reddit_tech_jobs_data_pipeline_spark.streaming.fingerprint_ingest import (
        ingest_batch_frame_votes,
        run_two_batch_ingest_batchlike,
    )

    return run_two_batch_ingest_batchlike(
        spark,
        _vfh_blobs(_t(spark, sf_dir, "documents").select("doc_id")),
        f"videodedup_{stable_work_key(sf_dir)}",
        multimodal.video_frame_hashes,
        ingest_batch_frame_votes,
        distinct_ids=True,
    )
