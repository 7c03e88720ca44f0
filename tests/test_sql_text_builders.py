"""The wide MinHash and SRP expressions are built as SQL text and parsed
once (operators/dedup.py, operators/similarity.py). Two pins:

* golden values — MinHash signatures, LSH band keys and SRP bucket keys
  are PERSISTED (signature stores, band indexes, sig= directories), so
  the text builders must stay bit-identical to the Column-API builders
  they replaced. The expected values below were computed with the
  Column-API builders. A literal that parses as INT instead of BIGINT,
  or DECIMAL instead of DOUBLE, changes them (xxhash64 hashes the type).
* py4j budget — building each plan must cost a small, fixed number of
  driver→JVM round trips. Built one Column call per literal, the same
  plans took ~1.6k-3.3k each, the bulk of a streaming micro-batch's
  driver time."""

from __future__ import annotations

import pytest

from reddit_tech_jobs_data_pipeline_spark.operators import dedup, similarity

DOC = (
    "the quick brown fox jumps over the lazy dog while the quick red fox "
    "naps by the old barn door"
)
MH_GOLDEN = [
    318376324, 42976103, 848567647, 99085528, 135069989, 717762429, 1066450,
    365491866, 313838361, 53641444, 73610331, 41271591, 171678806, 297908614,
    119811519, 510145532,
]
BKEY_GOLDEN = [
    -2674794916991037625, 6504270486087940977, 1531183872850934235,
    7891370697705918410,
]
VEC = [((i * 37) % 19 - 9) / 8.0 for i in range(64)]

ROUND_TRIP_BUDGET = 60


@pytest.fixture(scope="module")
def doc_sig(spark):
    docs = spark.createDataFrame([(7, DOC)], "id long, text string")
    return dedup.minhash_signatures(docs, "text", "id", 16, 3)


@pytest.fixture(scope="module")
def emb(spark):
    return spark.createDataFrame([(1, VEC)], "vec_id long, embedding array<float>")


def test_tokens_sql_matches_tokens(spark):
    """The shingle table tokenizes with tokens_sql; it must split exactly
    like the Column-API tokens() every other text operator uses."""
    from pyspark.sql import functions as F

    from reddit_tech_jobs_data_pipeline_spark.functions.extract import tokens, tokens_sql

    df = spark.createDataFrame(
        [("C++ and C# -- Spark_SQL, naïve café!",), ("",), ("  ...  ",), (None,)], "t string"
    )
    got = df.select(tokens("t").alias("a"), F.expr(tokens_sql("t")).alias("b")).collect()
    assert all(r.a == r.b for r in got), got


def test_minhash_signature_golden(doc_sig):
    r = doc_sig.first()
    assert [r[f"mh_{i}"] for i in range(16)] == MH_GOLDEN
    assert dict(doc_sig.dtypes)["mh_0"] == "bigint"


def test_banded_keys_golden(doc_sig):
    assert [r.bkey for r in dedup.banded_keys(doc_sig, 16, 4).collect()] == BKEY_GOLDEN


def test_srp_keys_golden(emb):
    bucket = similarity._srp_bucket_sql("embedding", similarity.srp_planes(6, 64))
    assert emb.selectExpr(f"{bucket} AS s").first().s == "b010010"
    sig = similarity.srp_signature("embedding", similarity.srp_planes(16, 64))
    assert emb.select(sig.alias("s")).first().s == "0100101110011010"


def test_signature_agreement_counts_equal_components(spark, doc_sig):
    other = doc_sig.selectExpr("8 AS id", "mh_0 + 1 AS mh_0", *[f"mh_{i}" for i in range(1, 16)])
    pairs = spark.createDataFrame([(7, 7), (7, 8)], "id_a long, id_b long")
    out = dedup.signature_agreement(pairs, doc_sig, doc_sig.unionByName(other))
    assert dict(out.dtypes)["n_agree"] == "int"
    assert sorted((r.id_b, r.n_agree) for r in out.collect()) == [(7, 16), (8, 15)]


@pytest.fixture
def count_round_trips(spark):
    import threading

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = [0]
    me = threading.get_ident()

    def counting(*args, **kwargs):
        # only this thread's calls: py4j's finalizer thread sends the
        # deletes of garbage-collected JVM references at random times
        if threading.get_ident() == me:
            calls[0] += 1
        return send(*args, **kwargs)

    def count(build) -> int:
        build()  # first use resolves JVM classes once per process
        calls[0] = 0
        client.send_command = counting
        try:
            build()
        finally:
            client.send_command = send
        return calls[0]

    return count


def test_builders_stay_within_round_trip_budget(spark, emb, count_round_trips):
    docs = spark.createDataFrame([(7, DOC)], "id long, text string")
    sig = dedup.minhash_signatures(docs, "text", "id", 16, 3)
    pairs = spark.createDataFrame([(7, 7)], "id_a long, id_b long")
    planes = similarity.srp_planes(6, 64)
    builds = {
        "minhash_signatures": lambda: dedup.minhash_signatures(docs, "text", "id", 16, 3),
        "signature_agreement": lambda: dedup.signature_agreement(pairs, sig, sig, 16),
        "banded_keys": lambda: dedup.banded_keys(sig, 16, 4),
        "srp_signature": lambda: emb.select(similarity.srp_signature("embedding", planes)),
    }
    used = {name: count_round_trips(build) for name, build in builds.items()}
    assert all(n <= ROUND_TRIP_BUDGET for n in used.values()), used
