"""Run fusion operators — RRF / CombSUM / CombMNZ / weighted (SURVEY §2.6).

Reference: ``final-project/src/fusion.py`` — RRF (:36-65), CombSUM (:68-89),
CombMNZ (:92-122), weighted (:125-153), dispatcher (:156-206). Semantics are
FULL OUTER union-aggregate: a doc absent from run r contributes nothing
(dict accumulation at fusion.py:59-63) — never an inner join.

Canonical relation: ``run(run_id, qid, docid, score)`` (one DataFrame holding
all runs, or a list of per-run DataFrames tagged via ``tag_runs``).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.ranking import rank_desc

RRF_K_DEFAULT = 60  # reference src/config.py / main.py:92-96


def tag_runs(runs: dict[str, DataFrame]) -> DataFrame:
    """{run_id: run(qid, docid, score)} -> single tagged relation."""
    tagged = [df.select(F.lit(rid).alias("run_id"), "qid", "docid", "score")
              for rid, df in runs.items()]
    return reduce(lambda a, b: a.unionByName(b), tagged)


def _minmax_norm(tagged: DataFrame, degenerate: float = 0.5) -> DataFrame:
    """Per-(run_id, qid) min-max normalization; constant-score runs map to
    `degenerate` (0.5, reference fusion.py:19-20)."""
    w = Window.partitionBy("run_id", "qid")
    return tagged.withColumn(
        "norm",
        F.when(F.max("score").over(w) == F.min("score").over(w),
               F.lit(degenerate))
        .otherwise((F.col("score") - F.min("score").over(w))
                   / (F.max("score").over(w) - F.min("score").over(w))),
    )


def rrf(tagged: DataFrame, k: int = RRF_K_DEFAULT) -> DataFrame:
    """Reciprocal-rank fusion: score(d) = sum over runs 1/(k + rank_r(d)),
    rank_r within (run_id, qid) by the pinned total order (the reference
    relies on stable dict/sort order, fusion.py:28-33)."""
    return (
        rank_desc(tagged, "score", "docid", by=("run_id", "qid"))
        .groupBy("qid", "docid")
        .agg(F.sum(1.0 / (F.lit(float(k)) + F.col("rank"))).alias("score"))
    )


def combsum(tagged: DataFrame) -> DataFrame:
    """Sum of min-max-normalized scores (fusion.py:68-89)."""
    return (_minmax_norm(tagged).groupBy("qid", "docid")
            .agg(F.sum("norm").alias("score")))


def combmnz(tagged: DataFrame) -> DataFrame:
    """CombSUM x number of runs containing the doc (fusion.py:92-122)."""
    return (
        _minmax_norm(tagged).groupBy("qid", "docid")
        .agg((F.sum("norm") * F.count("*")).alias("score"))
    )


def weighted_fusion(tagged: DataFrame, weights: dict[str, float]) -> DataFrame:
    """sum_i w_i * norm_i with a broadcast run_id->weight dim
    (fusion.py:125-153)."""
    spark = tagged.sparkSession
    wdf = spark.createDataFrame(
        [(rid, float(w)) for rid, w in weights.items()],
        "run_id string, weight double")
    return (
        _minmax_norm(tagged)
        .join(F.broadcast(wdf), "run_id", "inner")
        .groupBy("qid", "docid")
        .agg(F.sum(F.col("weight") * F.col("norm")).alias("score"))
    )


FUSION_METHODS = {
    "rrf": rrf,
    "combsum": combsum,
    "combmnz": combmnz,
    "weighted": weighted_fusion,
}


def fuse(tagged: DataFrame, method: str = "rrf", **kwargs) -> DataFrame:
    """Strategy dispatch mirroring the reference registry (fusion.py:156-206).
    Single-run inputs pass through unchanged (sorted downstream)."""
    if method not in FUSION_METHODS:
        raise ValueError(f"unknown fusion method: {method!r}")
    return FUSION_METHODS[method](tagged, **kwargs)
