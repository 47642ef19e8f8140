"""Benchmark decontamination + duplicated-substring-span statistics.

Two corpus hygiene operators every large-scale training-data pipeline
runs before the index/training stage (the reference repo assumes a clean
corpus — final-project/src/data_loader.py — this engine supplies the
cleaning):

* ``contamination_stats`` — GPT-3-appendix-style n-gram decontamination:
  flag corpus documents that share any word n-gram with a benchmark/eval
  set, so evaluation text never leaks into training data. The benchmark
  side is SMALL by definition (thousands of eval items), so its distinct
  n-gram hashes are broadcast; the corpus side stays a narrow window map +
  broadcast hash join — no corpus-sized shuffle of gram STRINGS. The
  exchanges move (doc_id, count) aggregates: one over matched windows
  (tiny by construction) and one per-doc window total (8-byte rows with
  full map-side combine).

* ``dup_span_stats`` — Lee et al. 2021 ("Deduplicating Training Data
  Makes Language Models Better") substring-level duplication, expressed
  relationally: every length-n word window is hashed; a window is a
  duplicated span iff its hash occurs >= min_count times across the
  WHOLE corpus (within-doc repeats count). Per-doc output is the
  duplicated-window fraction, the curation signal used to drop
  boilerplate-heavy pages. Scale shape: the exploded window frame is
  O(tokens) rows of (int64 hash) — exactly the index build's posting
  volume — and the hash groupBy is safe under head-key skew because
  partial aggregation collapses each task's contribution to its distinct
  hashes before the exchange (a 'the quick brown fox'-class boilerplate
  gram costs one row per task, not one per occurrence).

Both join on a 64-bit window hash rather than the gram string — 8-byte
shuffle keys instead of arbitrary-length text. Production default is JVM
xxhash64 (one codegen op per window); the oracle-gated entries pass
hash_impl="md5" to use the pinned h64 (operators/dedup.h64) whose
h64_sql twin lets DuckDB compute IDENTICAL keys, so the oracle exercises
identical semantics, collisions included.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import simple_words, simple_words_sql
from .dedup import h64, h64_sql

NGRAM_SEED = "ng:"


def _gram_key(col: Column, hash_impl: str) -> Column:
    """Window-hash key. ``"fast"`` (the production default) is JVM
    xxhash64 — one codegen op per window; ``"md5"`` is the repo's
    SQL-twinnable h64 (an md5 per window, ~10x slower at corpus scale)
    used by the oracle-gated entries so DuckDB computes identical keys.
    Both are consistent hashes of the same gram string; results differ
    only on (astronomically unlikely) 64-bit collisions."""
    if hash_impl == "fast":
        return F.xxhash64(F.lit(NGRAM_SEED), col)
    if hash_impl == "md5":
        return h64(col, NGRAM_SEED)
    raise ValueError(f"unknown hash_impl {hash_impl!r}")


def word_ngram_array(text_col: Column, n: int) -> Column:
    """Array of space-joined word n-grams of ``text_col`` over
    ``functions.text.simple_words`` (the engine's pinned word
    tokenization). Empty array when the doc has fewer than n words. Pure
    codegen: split + transform over a sequence of window starts; no
    explode, no shuffle."""
    words = simple_words(text_col)
    # sequence(0, size-n) DESCENDS when size < n (Spark semantics) — guard.
    grams = F.transform(
        F.sequence(F.lit(1), F.size(words) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(words, i, n)))
    return F.when(F.size(words) >= n, grams) \
            .otherwise(F.array().cast("array<string>"))


def ngram_sql(n: int, text_expr: str = "text") -> str:
    """DuckDB twin of word_ngram_array (1-based list_slice, same guard)."""
    words = simple_words_sql(text_expr)
    return (
        f"CASE WHEN len({words}) >= {n} THEN "
        f"list_transform(generate_series(1, len({words}) - {n - 1}), "
        f"i -> array_to_string(list_slice({words}, i, i + {n - 1}), ' ')) "
        f"ELSE [] END")


def _materialize(df: DataFrame, persist: bool, scratch_path: str | None,
                 cache_registry: list | None) -> DataFrame:
    """Run-once option for a frame with multiple consumers (VERDICT r4
    item 1: the O(tokens) exploded window frame feeds 2-3 consumers whose
    narrow lineage otherwise re-runs the split+slice+hash subtree per
    consumer — at 100 TB that is 2-3 full corpus-scan-and-tokenize passes).

    ``scratch_path`` writes the frame to parquet and reads it back (true
    scratch materialization — survives executor loss, no memory pressure,
    the web-scale default); ``persist`` caches it (MEMORY_AND_DISK),
    appending to ``cache_registry`` when given so the caller can unpersist
    after its last action (the curate DAG's convention). Default: neither —
    the recompute-per-consumer shape, fine when the corpus is small or the
    caller consumes the result once."""
    if scratch_path is not None:
        df.write.mode("overwrite").parquet(scratch_path)
        return df.sparkSession.read.parquet(scratch_path)
    if persist:
        df = df.persist()
        if cache_registry is not None:
            cache_registry.append(df)
    return df


def benchmark_ngrams(bench: DataFrame, n: int,
                     text_col: str = "text",
                     hash_impl: str = "fast") -> DataFrame:
    """Distinct window-hash keys (xxhash64 by default, twin-able h64
    with hash_impl="md5") of every word n-gram in the benchmark set —
    the broadcast side of contamination_stats. Distinct keeps the
    broadcast minimal; at real benchmark sizes (10^3-10^5 items) this is
    a few MB."""
    return (bench
            .select(F.explode(word_ngram_array(F.col(text_col), n))
                    .alias("gram"))
            .select(_gram_key(F.col("gram"), hash_impl).alias("gram_h"))
            .distinct())


def contamination_stats(docs: DataFrame, bench: DataFrame, n: int = 5,
                        id_col: str = "doc_id",
                        text_col: str = "text",
                        bench_text_col: str | None = None,
                        hash_impl: str = "fast",
                        persist: bool = False,
                        scratch_path: str | None = None,
                        cache_registry: list | None = None) -> DataFrame:
    """Per-doc benchmark contamination: (doc_id, n_windows, n_hits,
    contaminated). A doc is contaminated iff ANY of its word n-grams
    appears in the benchmark set (the GPT-3 appendix-C rule, n=13 there;
    parameterized here because the right n tracks tokenizer granularity).

    Plan: ONE window-build pass (narrow map -> explode -> hash); from
    that exploded frame, an INNER broadcast join against the benchmark
    hashes -> groupBy(doc_id) over matched rows only (bounded by
    contaminated volume) AND a groupBy(doc_id) window total (partial
    aggregation, 8-byte rows); zero-window docs are restored by a left
    join from a plain ids scan that never builds windows.
    ``bench_text_col`` names the benchmark frame's text column when it
    differs from the corpus one (defaults to text_col).

    ``persist=True`` / ``scratch_path=`` make the window-build pass run
    ONCE instead of once per consumer (see _materialize) — at 100 TB pass
    one of them; the default recomputes the narrow subtree per consumer."""
    from ..functions.partitioning import ensure_min_partitions
    docs = ensure_min_partitions(docs)
    bgrams = F.broadcast(benchmark_ngrams(
        bench, n, bench_text_col if bench_text_col is not None else text_col,
        hash_impl=hash_impl))
    # r6: n_windows is size(word_ngram_array) — a NARROW per-doc
    # expression on the ids scan (guide §2.3), replacing the old
    # groupBy(doc_id) over the exploded frame: one fewer full
    # window-build pass (non-persist mode) / one fewer cache-read
    # aggregate (persist mode). Identical integers by construction.
    ids = docs.select(F.col(id_col).alias("doc_id"),
                      F.size(word_ngram_array(F.col(text_col), n))
                      .cast("long").alias("n_windows"))
    exploded = (docs
                .select(F.col(id_col).alias("doc_id"),
                        F.explode(word_ngram_array(F.col(text_col), n))
                        .alias("gram"))
                .select("doc_id",
                        _gram_key(F.col("gram"), hash_impl).alias("gram_h")))
    exploded = _materialize(exploded, persist, scratch_path, cache_registry)
    hits = (exploded
            .join(bgrams, "gram_h")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_hits")))
    return (ids
            .join(hits, "doc_id", "left")
            .select(
                "doc_id", "n_windows",
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("long")
                .alias("n_hits"))
            .withColumn("contaminated", (F.col("n_hits") > 0).cast("int")))


def contamination_sql(docs_rel: str, bench_rel: str, n: int = 5) -> str:
    """DuckDB twin of contamination_stats (same h64 join keys)."""
    g = ngram_sql(n)
    h = h64_sql("gram", NGRAM_SEED)
    return f"""
WITH bgrams AS (
  SELECT DISTINCT {h} AS gram_h
  FROM (SELECT unnest({g}) AS gram FROM {bench_rel})),
base AS (SELECT doc_id, {g} AS grams FROM {docs_rel}),
per_doc AS (SELECT doc_id, len(grams)::BIGINT AS n_windows FROM base),
exploded AS (
  SELECT doc_id, {h} AS gram_h
  FROM (SELECT doc_id, unnest(grams) AS gram FROM base)),
hits AS (
  SELECT doc_id, count(*)::BIGINT AS n_hits
  FROM exploded JOIN bgrams USING (gram_h)
  GROUP BY doc_id)
SELECT p.doc_id, p.n_windows,
       coalesce(h.n_hits, 0)::BIGINT AS n_hits,
       (coalesce(h.n_hits, 0) > 0)::INT AS contaminated
FROM per_doc p LEFT JOIN hits h ON p.doc_id = h.doc_id
"""


def dup_span_stats(docs: DataFrame, n: int = 10, min_count: int = 2,
                   id_col: str = "doc_id",
                   text_col: str = "text",
                   hash_impl: str = "fast",
                   persist: bool = False,
                   scratch_path: str | None = None,
                   cache_registry: list | None = None) -> DataFrame:
    """Per-doc duplicated-substring-span fraction: (doc_id, n_windows,
    n_dup_windows, dup_frac). A window is duplicated iff its n-gram hash
    occurs >= min_count times corpus-wide (within-doc repeats included —
    a page that repeats its own boilerplate is as much a dup-span source
    as two pages sharing it).

    Plan: one explode -> hash groupBy(gram_h) count (partial+final, skew
    collapsed map-side) -> filter >= min_count -> hash join back on
    gram_h -> groupBy(doc_id). Per-doc window totals come from the SAME
    exploded frame (zero-window docs restored by an ids left join whose
    scan never builds windows). The exploded frame has THREE consumers
    (per-doc totals, dup-gram counts, hit counts) — pass ``persist=True``
    or ``scratch_path=`` to run the split+slice+hash subtree ONCE instead
    of per consumer (see _materialize); at 100 TB always do. Exchanges
    move O(tokens) 8-byte keys — the same volume the postings build
    moves, which holds at 3.1B postings (BENCH.md 20M-doc run)."""
    # r6: n_windows narrowly from size(word_ngram_array) — see
    # contamination_stats; the exploded frame keeps TWO consumers
    # (dup-gram counts, hit counts) instead of three.
    from ..functions.partitioning import ensure_min_partitions
    docs = ensure_min_partitions(docs)
    ids = docs.select(F.col(id_col).alias("doc_id"),
                      F.size(word_ngram_array(F.col(text_col), n))
                      .cast("long").alias("n_windows"))
    exploded = (docs
                .select(F.col(id_col).alias("doc_id"),
                        F.explode(word_ngram_array(F.col(text_col), n))
                        .alias("gram"))
                .select("doc_id",
                        _gram_key(F.col("gram"), hash_impl)
                        .alias("gram_h")))
    exploded = _materialize(exploded, persist, scratch_path, cache_registry)
    dup_grams = (exploded.groupBy("gram_h")
                 .agg(F.count("*").alias("occ"))
                 .filter(F.col("occ") >= min_count)
                 .select("gram_h"))
    dup_counts = (exploded.join(dup_grams, "gram_h")
                  .groupBy("doc_id")
                  .agg(F.count("*").alias("n_dup_windows")))
    return (ids
            .join(dup_counts, "doc_id", "left")
            .select(
                "doc_id", "n_windows",
                F.coalesce(F.col("n_dup_windows"), F.lit(0)).cast("long")
                .alias("n_dup_windows"))
            .withColumn(
                "dup_frac",
                F.round(F.when(F.col("n_windows") > 0,
                               F.col("n_dup_windows")
                               / F.col("n_windows"))
                        .otherwise(F.lit(0.0)), 6)))


def dup_span_sql(docs_rel: str, n: int = 10, min_count: int = 2) -> str:
    """DuckDB twin of dup_span_stats."""
    g = ngram_sql(n)
    h = h64_sql("gram", NGRAM_SEED)
    return f"""
WITH base AS (SELECT doc_id, {g} AS grams FROM {docs_rel}),
per_doc AS (SELECT doc_id, len(grams)::BIGINT AS n_windows FROM base),
exploded AS (
  SELECT doc_id, {h} AS gram_h
  FROM (SELECT doc_id, unnest(grams) AS gram FROM base)),
dup_grams AS (
  SELECT gram_h FROM exploded GROUP BY gram_h
  HAVING count(*) >= {min_count}),
dup_counts AS (
  SELECT doc_id, count(*)::BIGINT AS n_dup_windows
  FROM exploded JOIN dup_grams USING (gram_h)
  GROUP BY doc_id)
SELECT p.doc_id, p.n_windows,
       coalesce(d.n_dup_windows, 0)::BIGINT AS n_dup_windows,
       round(CASE WHEN p.n_windows > 0
             THEN coalesce(d.n_dup_windows, 0) / p.n_windows
             ELSE 0.0 END, 6) AS dup_frac
FROM per_doc p LEFT JOIN dup_counts d ON p.doc_id = d.doc_id
"""
