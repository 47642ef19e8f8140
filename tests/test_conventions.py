"""The engine's pinned query conventions, each held by one function.

* The simple word tokenizer: ``simple_words`` (JVM), ``simple_words_sql``
  (DuckDB) and ``tokenize(stem=False, stop=False)`` (Python) return the
  same token lists on any Unicode text, null included.
* Null and empty text count zero tokens whatever ``spark.sql.ansi.enabled``
  says (with ANSI off, ``size(null)`` is -1).
* The ranking total order: ``functions.ranking.rank_desc`` is the only
  score-ranking window in the package.
"""

from __future__ import annotations

import ast
from pathlib import Path

import duckdb
import pandas as pd
from hypothesis import example, given, settings
from hypothesis import strategies as st

from text_retrieval_and_search_engines_spark import entry_queries
from text_retrieval_and_search_engines_spark.functions.text import (
    simple_words, simple_words_sql, tokenize)
from text_retrieval_and_search_engines_spark.operators.textstats import \
    quality_features
from text_retrieval_and_search_engines_spark.plans.bm25_relational import \
    bm25_topk

PKG = Path(__file__).resolve().parents[1] / "text_retrieval_and_search_engines_spark"

# U+0130 lowercases to 'i' + U+0307 in Java and Python but to 'i' in DuckDB;
# U+212A (Kelvin sign) lowercases to ASCII 'k'; emoji and RTL are delimiters
TRICKY = ["İstanbul", "K", "KELVINKİİ", "😀 emoji👍🏽ok",
          "שלום עולם abc", "مرحبا 123", "", None]
_chars = st.one_of(st.characters(), st.sampled_from("İK😀שم"))
_texts = st.one_of(st.none(), st.sampled_from(TRICKY),
                   st.text(_chars, max_size=40))


@settings(max_examples=25, deadline=None)
@example(TRICKY)
@given(st.lists(_texts, min_size=1, max_size=20))
def test_simple_words_twins_agree(spark, texts):
    py = [tokenize(t, stem=False, stop=False) for t in texts]
    rows = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    jvm = [list(r.w) for r in rows.select(
        "i", simple_words("text").alias("w")).orderBy("i").collect()]
    frame = pd.DataFrame({"i": range(len(texts)), "text": texts})  # noqa: F841
    sql = [list(w) for (w,) in duckdb.execute(
        f"SELECT {simple_words_sql('text')} FROM frame ORDER BY i").fetchall()]
    assert jvm == py
    assert sql == py


def test_null_text_counts_zero_tokens_under_both_ansi_modes(spark, tmp_path):
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    docs = spark.createDataFrame(
        [(0, "spark query join"), (1, None), (2, ""), (3, "join the table")],
        "doc_id long, text string")
    docs.write.parquet(str(tmp_path / "documents.parquet"))

    def run():
        stats = entry_queries.q_collection_stats(spark, str(tmp_path)).first()
        top = bm25_topk(docs, [("q", "spark join")], k=10).collect()
        words = {r.doc_id: r.n_words for r in quality_features(docs).collect()}
        return (stats.total_tokens, stats.avgdl,
                [(r.doc_id, r.score, r.rank) for r in top], words)

    try:
        spark.conf.set("spark.sql.ansi.enabled", "true")
        on = run()
        spark.conf.set("spark.sql.ansi.enabled", "false")
        off = run()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "true")
    assert on == off
    total, avgdl, top, words = on
    assert (total, avgdl) == (6, 1.5)
    assert [d for d, _, _ in top] == [0, 3]
    assert words[1] == 0 and words[2] == 0


def test_bm25_topk_empty_query_keeps_the_doc_id_type(spark):
    docs = spark.createDataFrame([("a", "spark join"), ("b", "table scan")],
                                 "doc_id string, text string")
    full = bm25_topk(docs, [("q", "spark")], k=5)
    assert full.count() == 1
    for text in ("", "!!!"):
        empty = bm25_topk(docs, [("q", text)], k=5)
        assert empty.schema == full.schema
        assert empty.count() == 0


def _calls_in_functions(path: Path, call: str) -> list[str]:
    """Names of the top-level functions whose source contains ``call``."""
    src = path.read_text()
    return [node.name for node in ast.parse(src).body
            if isinstance(node, ast.FunctionDef)
            and call in (ast.get_source_segment(src, node) or "")]


def test_one_tokenizer_regex_and_one_ranking_window():
    files = sorted(PKG.rglob("*.py"))
    regex = [p.relative_to(PKG).as_posix() for p in files
             if "a-z0-9" in p.read_text()]
    assert regex == ["functions/text.py"]
    row_number = {p.relative_to(PKG).as_posix(): p.read_text().count(
        "F.row_number()") for p in files}
    assert {k: v for k, v in row_number.items() if v} == {
        "functions/ranking.py": 1,
        "entry_queries.py": 1,        # passage order by ts, not a score
        "plans/index_build.py": 1,    # latest capture per url
    }
    assert _calls_in_functions(PKG / "entry_queries.py",
                               "F.row_number()") == ["_passages"]
    assert _calls_in_functions(PKG / "plans/index_build.py",
                               "F.row_number()") == ["dedup_recrawls"]
