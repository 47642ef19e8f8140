"""The reference's 3-run pipeline as DataFrame plans (SURVEY §3 EP1/EP2).

Reference: ``final-project/src/main.py`` ``run_pipeline`` (:26-234):
* Run 1 (:70-99): BM25+RM3 over original queries, BM25+RM3 over expanded
  queries, RRF-fused (k=60), TREC sink.
* Run 2 (:101-189): BM25 over expanded queries -> per-query min-max norm ->
  chunk top docs into passages -> neural rerank -> MaxP -> norm ->
  interpolate 0.8*neural + 0.2*bm25 (unreranked keep bm25*0.3) -> TREC sink.
  The NEURAL scorer itself is out of scope for v0 (SURVEY §2.9) — the stage
  takes any (passages -> scored passages) callable; the default is a
  deterministic lexical stand-in (query-term overlap ratio) so the plumbing
  is real and testable end to end.
* Run 3 (:191-204): RRF(run1, run2).
* Evaluate (:206-227): native MAP/NDCG/P@k table per run.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.ranking import rank_desc
from ..functions.text import simple_words
from ..operators.aggregation import (interpolate_rerank, max_p,
                                     minmax_normalize)
from ..operators.evaluation import evaluate_run, mean_metrics
from ..operators.fusion import rrf, tag_runs
from ..operators.passages import make_passages
from ..sources.trec_io import write_run
from .query import IndexReader, SearchParams, attach_urls, search, search_rm3

RerankFn = Callable[[DataFrame, DataFrame], DataFrame]


def docs_from_pages(reader, pages: DataFrame,
                    recompute_text: bool = False) -> DataFrame:
    """(docid, text) without a materialized docs table: join the raw pages
    corpus back through docmap on url — the petabyte-scale shape where
    re-copying text into the catalog is unaffordable
    (IndexConfig.materialize_docs=False)."""
    df = pages
    if recompute_text:
        import pandas as pd
        from ..functions.text import extract_text_series

        @F.pandas_udf("string")
        def _extract(html: pd.Series) -> pd.Series:
            return extract_text_series(html)
        df = df.withColumn("text", _extract(F.col("html")))
    return df.select("url", "text").join(reader.docmap, "url").select(
        "docid", "text")


def auto_rerank_breadth(depth: int) -> int:
    """R11 (reference main.py:109-114): bi-encoder breadth auto-scaled from
    retrieval depth — min(depth*15, max(3000, depth*8))."""
    return min(depth * 15, max(3000, depth * 8))


def lexical_overlap_reranker(passages: DataFrame, queries: DataFrame
                             ) -> DataFrame:
    """Deterministic neural-stage stand-in: score = |query terms in passage|
    / |query terms| (simple split tokens). Replace with a Pandas-UDF model
    scorer (SURVEY N1-N5) when GPUs/models exist."""
    q = queries.select(
        "qid", F.array_distinct(simple_words("text")).alias("qterms"))
    p = passages.join(F.broadcast(q), "qid")
    ptoks = simple_words("passage_text")
    overlap = F.size(F.array_intersect(F.array_distinct(ptoks),
                                       F.col("qterms")))
    return p.select(
        "qid", "docid", "passage_idx",
        (overlap / F.greatest(F.size("qterms"), F.lit(1)))
        .cast("double").alias("score"))


def run1_lexical(reader: IndexReader, queries: DataFrame,
                 queries_expanded: DataFrame, docs: DataFrame,
                 params: SearchParams = SearchParams(),
                 rrf_k: int = 60) -> DataFrame:
    """RRF(BM25+RM3(original), BM25+RM3(expanded)) — main.py:70-99."""
    r_orig = search_rm3(reader, queries, docs, params=params)
    r_exp = search_rm3(reader, queries_expanded, docs, params=params)
    tagged = tag_runs({
        "orig": r_orig.select("qid", "docid", "score"),
        "exp": r_exp.select("qid", "docid", "score"),
    })
    return rrf(tagged, k=rrf_k)


def run2_reranked(reader: IndexReader, queries_expanded: DataFrame,
                  docs: DataFrame, reranker: RerankFn | None = None,
                  params: SearchParams = SearchParams(),
                  rerank_depth: int = 100) -> DataFrame:
    """BM25 -> norm -> chunk -> rerank -> MaxP -> norm -> interpolate
    (main.py:101-189). `rerank_depth` mirrors the auto-scaled breadth
    (main.py:109-114, R11) — driver-side scalar."""
    reranker = reranker or lexical_overlap_reranker
    first = search(reader, queries_expanded, params)
    bm25_norm = minmax_normalize(first.select("qid", "docid", "score"))
    top = first.filter(F.col("rank") <= rerank_depth).select("qid", "docid")
    # chunk each doc ONCE even when several queries retrieved it
    wanted = top.select("docid").distinct()
    fetch = (docs.select("docid", "text").join(F.broadcast(wanted), "docid")
             .select(F.col("docid").cast("string").alias("docid"), "text"))
    passages = make_passages(fetch, id_col="docid")
    passages = passages.join(
        top.select(F.col("docid").cast("string").alias("docid"), "qid"),
        "docid")
    scored = reranker(
        passages.withColumnRenamed("text", "passage_text"),
        queries_expanded)
    doc_scores = max_p(scored)  # MaxP (main.py:166)
    neural_norm = minmax_normalize(doc_scores).select(
        "qid", F.col("docid").cast("long").alias("docid"),
        F.col("score_norm").alias("score"))
    return interpolate_rerank(bm25_norm, neural_norm)


def run3_fused(run1: DataFrame, run2: DataFrame, rrf_k: int = 60) -> DataFrame:
    """RRF(run1, run2) — main.py:191-204."""
    return rrf(tag_runs({"run1": run1, "run2": run2}), k=rrf_k)


def run_pipeline(reader: IndexReader, queries: DataFrame,
                 queries_expanded: DataFrame, docs: DataFrame,
                 qrels: DataFrame | None = None,
                 out_dir: str | None = None,
                 params: SearchParams = SearchParams(),
                 reranker: RerankFn | None = None) -> dict:
    """Full EP1/EP2 flow. Returns {'run1'|'run2'|'run3': DataFrame,
    'metrics': DataFrame|None}; writes TREC files when out_dir is given."""
    # each run feeds three consumers (fusion, TREC sink, metrics) — persist
    # instead of recomputing the full search plan per consumer
    run1 = run1_lexical(reader, queries, queries_expanded, docs, params).persist()
    run2 = run2_reranked(reader, queries_expanded, docs, reranker, params).persist()
    run1.count(), run2.count()
    run3 = run3_fused(run1, run2).persist()
    out = {"run1": run1, "run2": run2, "run3": run3, "metrics": None}
    if out_dir:
        import os
        os.makedirs(out_dir, exist_ok=True)
        for name, run in (("run_1", run1), ("run_2", run2), ("run_3", run3)):
            with_urls = attach_urls(
                reader, rank_desc(run, "score", "docid", k=1000)).select(
                "qid", F.col("url").alias("docid"), "score")
            write_run(with_urls, os.path.join(out_dir, f"{name}.res"), name)
    if qrels is not None:
        rows = []
        for name, run in (("run1", run1), ("run2", run2), ("run3", run3)):
            m = mean_metrics(evaluate_run(
                run.select("qid", "docid", "score"), qrels,
                p_cutoffs=(10,), r_cutoffs=(1000,),
                ndcg_cutoffs=(10,))).collect()[0]
            rows.append((name, float(m["map"]), float(m["p_10"]),
                         float(m["recall_1000"])))
        out["metrics"] = reader.spark.createDataFrame(
            rows, "run string, map double, p_10 double, recall_1000 double")
    return out
