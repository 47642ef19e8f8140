"""Native IR evaluation as DataFrame plans (SURVEY §2.7, E2-E4).

Reference: ``final-project/src/evaluation.py`` wraps pytrec_eval — MAP
(:46-67), comprehensive metrics map/ndcg/ndcg@k/P@k/recall@k (:70-108),
per-query + weak-query filter (:111-147). We implement the same measures
natively (trec_eval definitions):

* AP   = (1/R) * sum over relevant retrieved docs of P@rank(d)
* P@k  = |relevant in top k| / k
* R@k  = |relevant in top k| / R
* nDCG@k = DCG@k / IDCG@k with linear gain rel and 1/log2(rank+1) discount
  (trec_eval m_ndcg semantics)

Inputs: ``run(qid, docid, score)`` and ``qrels(qid, docid, rel)``. Ranks are
recomputed with the engine's pinned total order (score DESC, docid ASC).
Queries with no relevant judgments are excluded (pytrec_eval behavior).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.ranking import rank_desc


def _with_rel(run: DataFrame, qrels: DataFrame) -> DataFrame:
    rel = qrels.select("qid", "docid", F.col("rel").cast("int").alias("rel"))
    return (rank_desc(run.select("qid", "docid", "score"), "score", "docid")
            .join(rel, ["qid", "docid"], "left")
            .withColumn("rel", F.coalesce(F.col("rel"), F.lit(0)))
            .withColumn("is_rel", (F.col("rel") > 0).cast("int")))


def _num_rel(qrels: DataFrame) -> DataFrame:
    return (qrels.filter(F.col("rel") > 0).groupBy("qid")
            .agg(F.count("*").alias("num_rel")))


def average_precision(run: DataFrame, qrels: DataFrame) -> DataFrame:
    """(qid, ap) per query — evaluation.py:46-67 semantics."""
    j = _with_rel(run, qrels)
    w = Window.partitionBy("qid").orderBy("rank")
    j = j.withColumn("cum_rel", F.sum("is_rel").over(w))
    per_q = (
        j.filter(F.col("is_rel") == 1)
        .groupBy("qid")
        .agg(F.sum(F.col("cum_rel") / F.col("rank")).alias("sum_prec"))
    )
    return (
        _num_rel(qrels)
        .join(per_q, "qid", "left")
        .select("qid", (F.coalesce(F.col("sum_prec"), F.lit(0.0))
                        / F.col("num_rel")).alias("ap"))
    )


def precision_at(run: DataFrame, qrels: DataFrame, k: int) -> DataFrame:
    j = _with_rel(run, qrels).filter(F.col("rank") <= k)
    per_q = j.groupBy("qid").agg((F.sum("is_rel") / F.lit(float(k))).alias(f"p_{k}"))
    return (_num_rel(qrels).join(per_q, "qid", "left")
            .select("qid", F.coalesce(F.col(f"p_{k}"), F.lit(0.0)).alias(f"p_{k}")))


def recall_at(run: DataFrame, qrels: DataFrame, k: int) -> DataFrame:
    j = _with_rel(run, qrels).filter(F.col("rank") <= k)
    per_q = j.groupBy("qid").agg(F.sum("is_rel").alias("rel_ret"))
    return (_num_rel(qrels).join(per_q, "qid", "left")
            .select("qid", (F.coalesce(F.col("rel_ret"), F.lit(0))
                            / F.col("num_rel")).alias(f"recall_{k}")))


def ndcg_at(run: DataFrame, qrels: DataFrame, k: int | None = None) -> DataFrame:
    """nDCG (optionally @k): linear gain, log2(rank+1) discount."""
    j = _with_rel(run, qrels)
    if k is not None:
        j = j.filter(F.col("rank") <= k)
    dcg = (j.withColumn("g", F.col("rel") / F.log2(F.col("rank") + 1))
           .groupBy("qid").agg(F.sum("g").alias("dcg")))
    ideal = rank_desc(qrels.filter(F.col("rel") > 0), "rel", "docid", k=k,
                      name="irank")
    idcg = (ideal.withColumn("g", F.col("rel") / F.log2(F.col("irank") + 1))
            .groupBy("qid").agg(F.sum("g").alias("idcg")))
    name = "ndcg" if k is None else f"ndcg_{k}"
    return (idcg.join(dcg, "qid", "left")
            .select("qid", (F.coalesce(F.col("dcg"), F.lit(0.0))
                            / F.col("idcg")).alias(name)))


def metric_suite(run: DataFrame, qrels: DataFrame, ndcg_k: int = 10,
                 p_k: int = 10, r_k: int = 100) -> DataFrame:
    """(qid, map, ndcg_{k}, p_{k}, recall_{k}) in ONE plan — value-identical
    to composing average_precision/ndcg_at/precision_at/recall_at with
    inner qid joins, but the run is ranked/joined/windowed ONCE and all
    four metrics come out of a single conditional aggregate (guide
    §2.3/§2.4: the composed shape re-ranked and re-joined the same run
    five times — 50 Exchange nodes at the entry registry's shape; this
    plan has ~7). Output rows: qids with >= 1 relevant judgment, exactly
    as before (each old frame was keyed by that same set)."""
    j = _with_rel(run, qrels)
    w = Window.partitionBy("qid").orderBy("rank")
    j = j.withColumn("cum_rel", F.sum("is_rel").over(w))
    per_q = j.groupBy("qid").agg(
        F.sum(F.when(F.col("is_rel") == 1,
                     F.col("cum_rel") / F.col("rank"))).alias("sum_prec"),
        F.sum(F.when(F.col("rank") <= ndcg_k,
                     F.col("rel") / F.log2(F.col("rank") + 1))).alias("dcg"),
        F.sum(F.when(F.col("rank") <= p_k,
                     F.col("is_rel"))).alias("p_hits"),
        F.sum(F.when(F.col("rank") <= r_k,
                     F.col("is_rel"))).alias("rel_ret"))
    nr_idcg = (rank_desc(qrels.filter(F.col("rel") > 0), "rel", "docid",
                         name="irank")
               .groupBy("qid").agg(
                   F.count("*").alias("num_rel"),
                   F.sum(F.when(F.col("irank") <= ndcg_k,
                                F.col("rel") / F.log2(F.col("irank") + 1)))
                   .alias("idcg")))
    return (nr_idcg.join(per_q, "qid", "left")
            .select(
                "qid",
                (F.coalesce(F.col("sum_prec"), F.lit(0.0))
                 / F.col("num_rel")).alias("map"),
                (F.coalesce(F.col("dcg"), F.lit(0.0))
                 / F.col("idcg")).alias(f"ndcg_{ndcg_k}"),
                (F.coalesce(F.col("p_hits"), F.lit(0))
                 / F.lit(float(p_k))).alias(f"p_{p_k}"),
                (F.coalesce(F.col("rel_ret"), F.lit(0))
                 / F.col("num_rel")).alias(f"recall_{r_k}")))


def evaluate_run(run: DataFrame, qrels: DataFrame,
                 p_cutoffs: tuple[int, ...] = (10, 20, 100, 1000),
                 r_cutoffs: tuple[int, ...] = (100, 1000),
                 ndcg_cutoffs: tuple[int | None, ...] = (None, 10, 100),
                 ) -> DataFrame:
    """Comprehensive per-query metric table (evaluation.py:70-108 measure
    set: map, ndcg, ndcg@10/100, P@10/20/100/1000, recall@100/1000)."""
    out = average_precision(run, qrels).withColumnRenamed("ap", "map")
    for k in ndcg_cutoffs:
        out = out.join(ndcg_at(run, qrels, k), "qid", "left")
    for k in p_cutoffs:
        out = out.join(precision_at(run, qrels, k), "qid", "left")
    for k in r_cutoffs:
        out = out.join(recall_at(run, qrels, k), "qid", "left")
    return out


def mean_metrics(per_query: DataFrame) -> DataFrame:
    """Mean of every metric column across queries (evaluation.py:66-67,92-95)."""
    cols = [c for c in per_query.columns if c != "qid"]
    return per_query.agg(*[F.avg(c).alias(c) for c in cols])


def weak_queries(per_query: DataFrame, metric: str = "map",
                 threshold: float = 0.1) -> DataFrame:
    """Queries scoring below threshold (evaluation.py:111-147)."""
    return per_query.filter(F.col(metric) < threshold)
