"""Hybrid lexical+vector retrieval with reciprocal-rank fusion.

The retrieval stack a curation pipeline uses for targeted corpus probes
(finding near-matches of an eval prompt, sourcing hard negatives, auditing
what a dedup pass would have caught): a BM25 keyword leg over the document
text and an exact-cosine vector leg over the aligned embedding table, fused
by reciprocal-rank fusion (RRF, Cormack et al.) — rank-based, so the two
legs need no score calibration.

Scale design: the query set is small and broadcast on both legs. The BM25
leg filters the exploded token stream to query terms INSIDE the scan stage
(only matching tokens survive, the q59 plan), so aggregation input is
|matches|, not |corpus tokens|. The vector leg is the q26 broadcast-query
corpus scan. Fusion then operates on two (|queries| × k)-row relations —
driver-scale regardless of corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from esop_spark.operators.iterate import share_relation

from esop_spark.operators.similarity import ann_topk


def hybrid_retrieval(
    documents: DataFrame,
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    k_rrf: int = 60,
    m_terms: int = 6,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    vec_id_col: str = "vec_id",
) -> DataFrame:
    """Per query document: BM25 top-k (query = the doc's first ``m_terms``
    distinct tokens) ∪ cosine top-k (query = the doc's embedding), fused by
    RRF score Σ 1/(k_rrf + rank); self-matches excluded on both legs.

    Ranks use the round-6 score with id tie-break (deterministic across
    engines); the RRF ordering itself is exact rational arithmetic on
    integer ranks. Output: one row per (query, fused candidate) with both
    leg ranks (null where a leg missed the doc) and the fused rank ≤ k.
    """
    words = F.split(F.col(text_col), " ")
    q_terms = (
        documents.filter(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("query_id"),
            F.explode(F.array_distinct(F.slice(words, 1, m_terms))).alias("term"),
        )
    )
    q_terms = F.broadcast(q_terms)
    term_set = F.broadcast(q_terms.select("term").distinct())

    toks = documents.select(
        F.col(id_col),
        F.size(words).cast("bigint").alias("dl"),
        F.explode(words).alias("term"),
    ).join(term_set, "term", "left_semi")
    # Round 11 (guide §5): tf (term-filtered, query-term grain) feeds the
    # df census and the contribution join — two corpus tokenize passes
    # unpersisted.
    tf = share_relation(
        toks.groupBy(id_col, "term").agg(
            F.count(F.lit(1)).cast("double").alias("tf"), F.first("dl").alias("dl")
        )
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    stats = documents.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg(F.size(words)).alias("avgdl"),
    )
    contrib = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .join(q_terms, "term")
        .filter(F.col("query_id") != F.col(id_col))
        .withColumn(
            "idf",
            F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)),
        )
        .withColumn(
            "c",
            F.col("idf")
            * F.col("tf")
            * (k1 + 1.0)
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))),
        )
    )
    bm25 = contrib.groupBy("query_id", id_col).agg(
        F.round(F.sum("c"), 6).alias("bm25")
    )
    wb = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col(id_col).asc()
    )
    bm_top = (
        bm25.withColumn("bm25_rank", F.row_number().over(wb).cast("bigint"))
        .filter(F.col("bm25_rank") <= k)
        .select("query_id", F.col(id_col).alias("doc"), "bm25_rank")
    )

    cos_top = ann_topk(embeddings, query_ids, k, vec_col, vec_id_col).select(
        F.col("query_id").alias("cq"),
        F.col("neighbor_id").alias("cdoc"),
        F.col("rank").alias("cos_rank"),
    )

    fused = bm_top.join(
        cos_top,
        (F.col("query_id") == F.col("cq")) & (F.col("doc") == F.col("cdoc")),
        "full_outer",
    ).select(
        F.coalesce(F.col("query_id"), F.col("cq")).cast("bigint").alias("query_id"),
        F.coalesce(F.col("doc"), F.col("cdoc")).cast("bigint").alias("doc_id"),
        F.col("bm25_rank"),
        F.col("cos_rank"),
        (
            F.coalesce(1.0 / (F.lit(k_rrf) + F.col("bm25_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(k_rrf) + F.col("cos_rank")), F.lit(0.0))
        ).alias("_rrf"),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("_rrf").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(wf).cast("bigint"))
        .filter(F.col("fused_rank") <= k)
        .select(
            "query_id",
            "doc_id",
            "bm25_rank",
            "cos_rank",
            F.round("_rrf", 6).alias("rrf_score"),
            "fused_rank",
        )
    )
