"""Contrastive training-data mining over embedding columns — hard
negatives and triplets for embedding/retrieval model training.

The curation step between "corpus with embeddings + labels" and "batches
a contrastive loss can learn from": random negatives are trivially easy
(the loss saturates); the examples that carry gradient are the
highest-similarity WRONG-label neighbors (hard negatives) and, per
anchor, the least-similar SAME-label partner (hardest positive). Both
are top-k-by-cosine shapes with a label predicate, so they reuse the
broadcast + per-query-window plan of operators/similarity.py.

Scale contract: the query/anchor set broadcasts (bounded, like every
query-driven top-k here); the corpus side is one narrow scan — the
label predicate is fused into the join condition so wrong-label rows
die before the shuffle. Mining for EVERY corpus row as anchor is the
|C|² regime — there the production path is anchor batching (loop the
bounded-anchor form) or an ANN prefilter (ivf_ann_topk) feeding this
verify, same candidates-then-verify discipline as the dedup family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from reddit_tech_jobs_data_pipeline_spark.operators.similarity import _dvec, _topk, cosine

__all__ = ["hard_negative_topk", "triplet_mining"]


def _scored_pairs(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    same_label: bool,
) -> DataFrame:
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("n_label"),
        _dvec(F.col(vec_col)).alias("cvec"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("q_label"),
        _dvec(F.col(vec_col)).alias("qvec"),
    )
    label_pred = (
        F.col("n_label") == F.col("q_label")
        if same_label
        else F.col("n_label") != F.col("q_label")
    )
    return c.join(
        F.broadcast(q),
        (F.col("neighbor_id") != F.col("query_id")) & label_pred,
    ).select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("qvec"), F.col("cvec")), 4).alias("cosine"),
    )


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Top-k highest-cosine different-label neighbors per query — the
    hard negatives. Ranking is by 4-dp-rounded cosine with neighbor-id
    tiebreak (deterministic and oracle-comparable, same contract as
    brute_force_topk). Output: (query_id, neighbor_id, cosine, rank)."""
    return _topk(_scored_pairs(corpus, queries, id_col, vec_col, label_col, False), k)


def triplet_mining(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """One training triplet per anchor: the hardest positive (same
    label, LOWEST cosine — the pull that is hardest to satisfy) and the
    hardest negative (different label, HIGHEST cosine — the push that is
    hardest to satisfy), plus ``margin = pos_cos − neg_cos`` (< 0 means
    the anchor is currently mis-embedded; sort ascending for a
    hardest-first curriculum). Anchors with no same-label or no
    different-label partner produce no row (inner-join semantics — a
    triplet needs all three legs).

    Both legs come from ONE scored pass: the corpus is scanned once,
    joined once against the broadcast anchors, and BOTH rank-1 picks are
    conditional struct min/max aggregates in a single groupBy(anchor) —
    ``min(struct(cosine, id)) over same-label rows`` is lexicographically
    the (lowest-cosine, lowest-id) positive and ``max(struct(cosine,
    −id, id))`` the (highest-cosine, lowest-id) negative; null-valued
    conditions are skipped by min/max, so a missing leg surfaces as a
    null struct and the anchor is dropped. One exchange, WITH map-side
    partial aggregation (each task reduces its slice to ≤ |anchors|
    rows before the shuffle — a window plan would shuffle every scored
    pair). Everything downstream is anchors-sized.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("n_label"),
        _dvec(F.col(vec_col)).alias("cvec"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("q_label"),
        _dvec(F.col(vec_col)).alias("qvec"),
    )
    scored = c.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("qvec"), F.col("cvec")), 4).alias("cosine"),
        (F.col("n_label") == F.col("q_label")).alias("same"),
    )
    pos_s = F.min(
        F.when(
            F.col("same"),
            F.struct(F.col("cosine").alias("c"), F.col("neighbor_id").alias("i")),
        )
    )
    neg_s = F.max(
        F.when(
            ~F.col("same"),
            F.struct(
                F.col("cosine").alias("c"),
                (-F.col("neighbor_id")).alias("ni"),
                F.col("neighbor_id").alias("i"),
            ),
        )
    )
    agg = (
        scored.groupBy("query_id")
        .agg(pos_s.alias("p"), neg_s.alias("n"))
        .filter(F.col("p").isNotNull() & F.col("n").isNotNull())
    )
    return agg.select(
        "query_id",
        F.col("p.i").alias("pos_id"),
        F.col("p.c").alias("pos_cos"),
        F.col("n.i").alias("neg_id"),
        F.col("n.c").alias("neg_cos"),
        F.round(F.col("p.c") - F.col("n.c"), 4).alias("margin"),
    )
