"""Text analysis for training-data pipelines: language-ID, quality scoring,
token counting, document fingerprinting.

All per-doc features are JVM column expressions (codegen, SQL-twinnable for
the DuckDB oracle); the winnowing fingerprint is a vectorized numpy kernel
(pytest-checked — rolling hashes aren't sanely expressible in ANSI SQL).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import simple_words

# tiny pinned function-word lists (n-gram-free heuristic language ID)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for", "with", "was"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"),
    "fr": ("le", "la", "les", "et", "est", "une", "des", "dans", "que", "pour"),
    "es": ("el", "la", "los", "las", "es", "una", "por", "que", "para", "con"),
}


def language_id(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Heuristic language-ID: argmax over marker-word hit counts; 'und'
    (undetermined) when no markers hit. Deterministic tie-break: language
    code ascending. One split, per-language filtered counts (codegen)."""
    out = docs.select(F.col(id_col).alias("doc_id"),
                      simple_words(text_col).alias("_w"))
    score_cols = []
    for lang in sorted(LANG_MARKERS):
        markers = list(LANG_MARKERS[lang])
        out = out.withColumn(
            f"hits_{lang}",
            F.size(F.filter(F.col("_w"), lambda w: w.isin(markers))))
        score_cols.append(f"hits_{lang}")
    best = F.greatest(*[F.col(c) for c in score_cols])
    guess = F.lit("und")
    for lang in sorted(LANG_MARKERS, reverse=True):
        guess = F.when((F.col(f"hits_{lang}") == best) & (best > 0),
                       F.lit(lang)).otherwise(guess)
    return out.select("doc_id", *score_cols, guess.alias("lang_guess"))


def quality_features(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     keep: tuple[str, ...] = ()) -> DataFrame:
    """Per-doc quality features (length, word stats, punct/digit/stopword
    ratios) + a pinned composite score in [0,1]. ``keep`` names input
    columns to pass through unchanged, so feature stages CHAIN as narrow
    maps instead of re-joining on doc_id (see operators/curate.py)."""
    t = F.col(text_col)
    n_chars = F.length(t)
    words = simple_words(t)
    n_words = F.size(words)
    mean_wlen = F.when(n_words > 0,
                       F.aggregate(words, F.lit(0),
                                   lambda acc, w: acc + F.length(w))
                       .cast("double") / n_words).otherwise(F.lit(0.0))
    n_punct = F.length(F.regexp_replace(t, r"[^.,;:!?]", ""))
    n_digit = F.length(F.regexp_replace(t, r"[^0-9]", ""))
    stop_hits = F.size(F.filter(
        words, lambda w: w.isin(["the", "and", "of", "to", "in", "is",
                                 "that", "for", "with", "was"])))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(0.0)
    digit_ratio = F.when(n_chars > 0, n_digit / n_chars).otherwise(0.0)
    stop_ratio = F.when(n_words > 0, stop_hits / n_words).otherwise(0.0)
    length_ok = ((n_words >= 10) & (n_words <= 5000)).cast("double")
    wlen_ok = ((mean_wlen >= 2.0) & (mean_wlen <= 12.0)).cast("double")
    score = (0.4 * length_ok + 0.2 * wlen_ok
             + 0.2 * (1.0 - F.least(punct_ratio * 10, F.lit(1.0)))
             + 0.2 * (1.0 - F.least(digit_ratio * 5, F.lit(1.0))))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        *[F.col(c) for c in keep],
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        F.round(mean_wlen, 6).alias("mean_word_len"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(digit_ratio, 6).alias("digit_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(score, 6).alias("quality_score"),
    )


def token_counts(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Whitespace tokens + BPE-ish subword estimate (a word of length L
    costs ceil(L/4) subword tokens — the usual ~4-chars/token heuristic)."""
    t = F.col(text_col)
    ws = F.filter(F.split(t, r"\s+"), lambda w: w != "")
    words = simple_words(t)
    bpe = F.aggregate(words, F.lit(0).cast("long"),
                      lambda acc, w: acc + F.ceil(F.length(w) / 4.0))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(ws).cast("long").alias("ws_tokens"),
        F.size(words).cast("long").alias("word_tokens"),
        bpe.alias("bpe_tokens"),
    )


def doc_fingerprint(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Content fingerprint: md5 of whitespace-normalized lowercase text
    (the SQL-twinnable exact variant; see `winnowing_fingerprints` for the
    rolling-hash sketch)."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return docs.select(F.col(id_col).alias("doc_id"),
                       F.md5(norm).alias("fingerprint"))


def repetition_stats(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     keep: tuple[str, ...] = ()) -> DataFrame:
    """Gopher-style word-level repetition features (Rae et al. 2021 §A1.1
    use line/paragraph duplication plus top-n-gram character share as
    quality filters; this corpus is single-line word text, so the word-level
    family is the meaningful one): type-token ratio, top-unigram share,
    top-bigram share, and unigram entropy.

    ZERO-shuffle plan: per-doc features come from `array_sort` + one
    `F.aggregate` run-length pass over the sorted token array — all
    JVM-side catalyst expressions, no explode/groupBy token shuffle, so at
    100 TB this is a pure map stage that pipelines with the parquet scan.

    Entropy is H = ln(n) - (sum_types c*ln c)/n; all ratios rounded to 6dp
    (the registry's cross-engine float convention). ``keep`` passes input
    columns through so feature stages chain shuffle-free.
    """
    words = simple_words(text_col)

    def run_stats(arr_sql: str, prefix: str):
        """(n, ntypes, max_run, sum c*ln c) over a SORTED string array via
        one aggregate pass; returns SQL for a struct column."""
        return f"""
        aggregate(
          array_sort({arr_sql}),
          struct('' AS prev, 0L AS run, 0L AS ntypes, 0L AS maxrun,
                 0.0D AS sumclnc, 0L AS n),
          (acc, w) -> IF(w = acc.prev,
            struct(w AS prev, acc.run + 1L AS run, acc.ntypes AS ntypes,
                   acc.maxrun AS maxrun, acc.sumclnc AS sumclnc,
                   acc.n + 1L AS n),
            struct(w AS prev, 1L AS run, acc.ntypes + 1L AS ntypes,
                   greatest(acc.maxrun, acc.run) AS maxrun,
                   acc.sumclnc + IF(acc.run > 0L,
                                    CAST(acc.run AS DOUBLE) * ln(acc.run),
                                    0.0D) AS sumclnc,
                   acc.n + 1L AS n)),
          acc -> struct(
            acc.n AS n, acc.ntypes AS ntypes,
            greatest(acc.maxrun, acc.run) AS maxrun,
            acc.sumclnc + IF(acc.run > 0L,
                             CAST(acc.run AS DOUBLE) * ln(acc.run),
                             0.0D) AS sumclnc)
        ) AS {prefix}"""

    bigrams_sql = ("zip_with(slice(_w, 1, greatest(size(_w) - 1, 0)), "
                   "slice(_w, 2, greatest(size(_w) - 1, 0)), "
                   "(a, b) -> concat(a, ' ', b))")
    base = docs.select(F.col(id_col).alias("doc_id"),
                       *[F.col(c) for c in keep], words.alias("_w"))
    st = base.selectExpr("doc_id", *[f"`{c}`" for c in keep],
                         run_stats("_w", "u"), run_stats(bigrams_sql, "b"))
    n = F.col("u.n").cast("double")
    safe = F.when(n > 0, n)
    return st.select(
        "doc_id",
        *[F.col(c) for c in keep],
        F.col("u.n").alias("n_words"),
        F.col("u.ntypes").alias("n_types"),
        F.round(F.coalesce(F.col("u.ntypes") / safe, F.lit(0.0)), 6)
        .alias("type_token_ratio"),
        F.round(F.coalesce(F.col("u.maxrun") / safe, F.lit(0.0)), 6)
        .alias("top_unigram_frac"),
        F.round(F.coalesce(F.col("b.maxrun")
                           / F.when(F.col("b.n") > 0,
                                    F.col("b.n").cast("double")),
                           F.lit(0.0)), 6).alias("top_bigram_frac"),
        F.round(F.coalesce(F.log(n) - F.col("u.sumclnc") / safe,
                           F.lit(0.0)), 6).alias("unigram_entropy"),
    )


def source_mix(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Corpus-composition stats per (source, lang) — the domain-mixing
    table a training-data pipeline reports before sampling: doc counts,
    char volume, and each language's share within its source. Low-key-
    cardinality groupBy (partial aggregation makes the shuffle rows ~=
    n_sources x n_langs x n_tasks, not n_docs) + one tiny window."""
    g = (docs.groupBy("source", "lang")
         .agg(F.count("*").alias("n_docs"),
              F.sum("n_chars").alias("tot_chars")))
    w = Window.partitionBy("source")
    return g.select(
        "source", "lang", "n_docs", "tot_chars",
        F.round(F.col("n_docs")
                / F.sum("n_docs").over(w).cast("double"), 6)
        .alias("share_of_source"))


def winnowing_fingerprints(docs: DataFrame, k: int = 7, window: int = 4,
                           id_col: str = "doc_id", text_col: str = "text"
                           ) -> DataFrame:
    """Winnowing document sketch (Schleimer et al. 2003): Karp-Rabin rolling
    hashes over char k-grams, min per sliding window, distinct mins =
    fingerprint set. Vectorized numpy kernel (no per-char Python loops)."""
    # powers B^(k-1), ..., B^0 with natural uint64 wraparound (deterministic)
    BASE_INT = 1000003
    powers = np.array(
        [pow(BASE_INT, k - 1 - j, 1 << 64) for j in range(k)], dtype=np.uint64)

    def kernel(iterator):
        from numpy.lib.stride_tricks import sliding_window_view
        for pdf in iterator:
            ids, fps = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                s = " ".join(str(text).lower().split())
                arr = np.frombuffer(s.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
                n = arr.size
                if n < k:
                    ids.append(doc_id)
                    fps.append([int(arr.sum())] if n else [0])
                    continue
                # vectorized k-gram hashes: (windows * powers).sum, uint64 wrap
                h = (sliding_window_view(arr, k) * powers).sum(
                    axis=1, dtype=np.uint64)
                m = h.size
                if m <= window:
                    mins = np.array([h.min()])
                else:
                    mins = np.unique(
                        np.min(sliding_window_view(h, window), axis=1))
                ids.append(doc_id)
                # numpy uint64 -> int64 reinterpret (same bits) for LongType
                fps.append([int(v) for v in mins.view(np.int64)])
            yield pd.DataFrame({"doc_id": ids, "fingerprints": fps})

    return docs.select(F.col(id_col).alias("doc_id"),
                       F.col(text_col).alias("text")).mapInPandas(
        kernel, schema="doc_id long, fingerprints array<long>")
