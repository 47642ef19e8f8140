"""Passage-score -> document-score aggregation (SURVEY §2.4, MaxP family).

Reference: ``final-project/src/aggregation.py`` — MaxP (:12-20), SumP
(:23-31), FirstP (:34-42), AvgP (:45-51), TopKP (:54-62), Max-First hybrid
(:65-78), registry+dispatch (:81-128), rank (:131-139).

Canonical input: ``passages(qid, docid, passage_idx, score)``. All strategies
are single hash aggregations (partial+final map-side combine — free in Spark);
TopKP adds one window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.ranking import rank_desc


def max_p(p: DataFrame) -> DataFrame:
    return p.groupBy("qid", "docid").agg(F.max("score").alias("score"))


def sum_p(p: DataFrame) -> DataFrame:
    return p.groupBy("qid", "docid").agg(F.sum("score").alias("score"))


def first_p(p: DataFrame) -> DataFrame:
    """Score of the passage with the smallest passage_idx (aggregation.py:34-42)."""
    return p.groupBy("qid", "docid").agg(
        F.expr("min_by(score, passage_idx)").alias("score"))


def avg_p(p: DataFrame) -> DataFrame:
    return p.groupBy("qid", "docid").agg(F.avg("score").alias("score"))


def topk_p(p: DataFrame, k: int = 3) -> DataFrame:
    """Mean of the top-k passage scores (aggregation.py:54-62); ties broken
    by passage_idx asc for determinism."""
    return (
        rank_desc(p, "score", "passage_idx", by=("qid", "docid"), k=k,
                  name="_r")
        .groupBy("qid", "docid")
        .agg(F.avg("score").alias("score"))
    )


def max_first_hybrid(p: DataFrame, max_weight: float = 0.7) -> DataFrame:
    """max_weight*MaxP + (1-max_weight)*FirstP (aggregation.py:65-78)."""
    return p.groupBy("qid", "docid").agg(
        (F.lit(max_weight) * F.max("score")
         + F.lit(1.0 - max_weight) * F.expr("min_by(score, passage_idx)")
         ).alias("score"))


STRATEGIES = {
    "max": max_p,
    "sum": sum_p,
    "first": first_p,
    "avg": avg_p,
    "top3": lambda p: topk_p(p, 3),
    "top5": lambda p: topk_p(p, 5),
    "max_first": max_first_hybrid,
}


def aggregate(p: DataFrame, strategy: str = "max", **kwargs) -> DataFrame:
    """Registry dispatch mirroring aggregation.py:81-128."""
    if strategy not in STRATEGIES:
        raise ValueError(f"unknown aggregation strategy: {strategy!r}")
    return STRATEGIES[strategy](p, **kwargs)


def minmax_normalize(run: DataFrame, degenerate_preserve: bool = True) -> DataFrame:
    """Per-qid min-max normalization (reference main.py:132-138,168-172;
    degenerate ranges preserve the score in the main variant, map to 0.5 in
    the fusion variant — see operators/fusion.py)."""
    w = Window.partitionBy("qid")
    mx, mn = F.max("score").over(w), F.min("score").over(w)
    degen = F.col("score") if degenerate_preserve else F.lit(0.5)
    return run.withColumn(
        "score_norm",
        F.when(mx == mn, degen).otherwise((F.col("score") - mn) / (mx - mn)))


def interpolate_rerank(bm25_norm: DataFrame, reranked: DataFrame,
                       neural_weight: float = 0.8,
                       unreranked_scale: float = 0.3) -> DataFrame:
    """Reference run-2 interpolation (main.py:174-184): reranked docs get
    w*neural + (1-w)*bm25_norm; docs never reranked keep bm25_norm*scale."""
    joined = bm25_norm.select("qid", "docid", F.col("score_norm")).join(
        reranked.select("qid", "docid", F.col("score").alias("neural")),
        ["qid", "docid"], "left")
    return joined.select(
        "qid", "docid",
        F.when(
            F.col("neural").isNotNull(),
            F.lit(neural_weight) * F.col("neural")
            + F.lit(1.0 - neural_weight) * F.col("score_norm"))
        .otherwise(F.col("score_norm") * F.lit(unreranked_scale))
        .alias("score"))
