"""BM25 / RM3 query execution (SURVEY.md §3 "query job", M3-M4).

Reference semantics: Pyserini/Lucene BM25 with k1=0.9, b=0.4
(``final-project/src/bm25_retrieval.py:45-135``, defaults
``src/config.py:53-55``), disjunctive OR over query terms, top-k=1000,
optional RM3 feedback (fb_docs=10, fb_terms=10, original_query_weight=0.5,
``src/bm25_retrieval.py:119-123``). Batch search is the native Spark shape
(the reference fakes it with an 8-thread pool, ``src/bm25_retrieval.py:138-178``).

Plan:
  queries --Arrow tokenize--> (qid, term, weight)          [tiny]
         \\--broadcast-join--> termstats (df per term)      [no shuffle]
  postings --broadcast-join--> matched (qid x term chunks) [no shuffle]
  matched --groupBy(qid, range_id) Arrow kernel-->         [ONE shuffle]
      decode chunks, accumulate float64 scores in lexicographic term order
      (pinned summation order = oracle), local top-k
  --window rank (score DESC, docid ASC) <= k-->            [tiny shuffle]
      global top-k merge ("partition-parallel score-then-global-merge").

Collection stats (N, avgdl, per-term df) travel as broadcast values; doc
lengths ride inline in postings payloads — scoring never shuffles
document-length data (north_star).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import codec
from ..functions.ranking import rank_desc
from ..functions.text import term_freqs, tokenize_series
from ..sources.tables import Catalog

K1_DEFAULT = 0.9   # reference src/config.py:53-55
B_DEFAULT = 0.4

SCORED_SCHEMA = "qid string, docid long, score double"


@dataclass(frozen=True)
class SearchParams:
    k1: float = K1_DEFAULT
    b: float = B_DEFAULT
    k: int = 1000                 # retrieval depth (reference default)
    mode: str = "or"              # "or" = disjunctive | "and" = intersection
    algo: str = "exact"           # "exact" = exhaustive vectorized scoring |
                                  # "bmw" = block-max WAND pruning (identical
                                  # results, proven by property test)


class IndexReader:
    """Loads the catalog tables once and caches driver-side scalars."""

    def __init__(self, spark: SparkSession, catalog: Catalog):
        self.spark = spark
        self.catalog = catalog
        from .index_build import POSTINGS_SCHEMA
        # merge-on-read: appended termstats delta rows aggregate lazily;
        # a purely batch-built index reads the base table with no extra agg
        from ..streaming.incremental import (read_termstats,
                                             recover_postings_buckets,
                                             recover_table)
        for t in ("stats", "termstats"):
            recover_table(catalog, t)   # heal an interrupted swap on open
        if not catalog.use_iceberg and "://" not in catalog.root:
            recover_postings_buckets(catalog)
        # Freeze the epoch snapshot for the whole multi-table open: every
        # epoch not done at THIS point is excluded from every table read
        # below, even if its done marker lands between the opens — the
        # reader sees one consistent pre-epoch state across postings/
        # termstats/docmap/stats (ADVICE r3).
        snap = catalog.epoch_state()[1]
        self._snapshot_done = snap
        self.postings = catalog.read_table(spark, "postings",
                                           schema=POSTINGS_SCHEMA,
                                           snapshot_done=snap)
        self.termstats_raw = catalog.read_table(
            spark, "termstats", schema="term string, df long, cf long",
            snapshot_done=snap)
        self.termstats_deltas = (catalog.latest_fingerprint("termstats")
                                 or "").startswith("append-delta")
        self.termstats = read_termstats(spark, catalog, snapshot_done=snap)
        self.docmap = catalog.read_table(spark, "docmap", snapshot_done=snap)
        from .index_build import read_stats_row
        row = read_stats_row(spark, catalog, snapshot_done=snap)
        self.n_docs = int(row["n_docs"])
        self.avgdl = float(row["avgdl"])
        self.range_size = int(row["range_size"])
        self.n_term_buckets = int(row["n_term_buckets"]) \
            if row["n_term_buckets"] is not None else 0
        self.analyzer = (row["analyzer"]
                         if row["analyzer"] is not None else "english")
        # driver-side term->df memo (Lucene term-dictionary-cache analogue):
        # absent terms cache as None so repeated OOV queries stay job-free.
        # Snapshot semantics: tied to THIS reader — reopen the reader after
        # an append, exactly like reopening a Lucene searcher.
        self._df_cache: dict[str, int | None] = {}

    _DF_CACHE_MAX = 1_000_000

    def df_lookup(self, terms: list[str]) -> dict[str, int]:
        """df for each term, serving repeats from the driver memo; ONE
        Spark job for only the never-seen terms (zero jobs when warm)."""
        missing = [t for t in terms if t not in self._df_cache]
        if missing:
            if len(self._df_cache) + len(missing) > self._DF_CACHE_MAX:
                self._df_cache.clear()
            rows = (self.termstats.filter(F.col("term").isin(missing))
                    .collect())
            found = {r["term"]: int(r["df"]) for r in rows}
            for t in missing:
                self._df_cache[t] = found.get(t)
        out = {}
        for t in terms:
            v = self._df_cache[t]
            if v is not None:
                out[t] = v
        return out

    def cache(self) -> "IndexReader":
        """Pin postings + termstats in executor memory for repeated-query
        workloads (an interactive search service shape). At 10^12-doc scale
        use Spark's storage-level spill; here it's a plain persist."""
        self.postings = self.postings.persist()
        self.termstats = self.termstats.persist()
        self.postings.count()
        self.termstats.count()
        if getattr(self, "termstats_deltas", False):
            self.termstats_raw = self.termstats_raw.persist()
            self.termstats_raw.count()
        return self


def tokenize_queries(queries: DataFrame, analyzer: str = "english"
                     ) -> DataFrame:
    """(qid, text) -> (qid, term, weight=query tf). Same pinned analyzer as
    indexing (functions/text.py)."""
    simple = analyzer == "simple"

    def kernel(iterator):
        for pdf in iterator:
            toks = tokenize_series(pdf["text"], stem=not simple,
                                   stop=not simple)
            qids, terms, weights = [], [], []
            for qid, ts in zip(pdf["qid"], toks):
                for t, w in term_freqs(ts).items():
                    qids.append(qid)
                    terms.append(t)
                    weights.append(float(w))
            yield pd.DataFrame({"qid": qids, "term": terms, "weight": weights})

    return queries.mapInPandas(kernel, schema="qid string, term string, weight double")


def _score_and_merge(reader: IndexReader, qt: DataFrame,
                     params: SearchParams,
                     buckets: list[int] | None = None) -> DataFrame:
    """Shared tail of every search plan: postings x query-terms broadcast
    join -> per-(qid, range) Arrow scoring kernel -> global top-k window.
    `qt` columns: qid, term, weight, df, n_qterms."""
    n_docs, avgdl = reader.n_docs, reader.avgdl
    range_size = reader.range_size
    k1, b, k, mode = params.k1, params.b, params.k, params.mode

    extra = (["block_last", "block_max_tf", "block_min_dl",
              "goff", "toff", "doff"] if params.algo == "bmw" else [])
    postings = reader.postings
    if buckets is not None:
        # static partition pruning: only buckets holding this query's terms
        postings = postings.filter(F.col("term_bucket").isin(buckets))
        join_keys = ["term"]
        qt_cols = ["qid", "term", "weight", "df", "n_qterms"]
    elif reader.n_term_buckets:
        # join on the partition column too -> Spark dynamic partition
        # pruning skips non-matching term_bucket directories at scan time
        qt = qt.withColumn(
            "term_bucket",
            (F.conv(F.substring(F.md5("term"), 1, 15), 16, 10)
             .cast("long") % reader.n_term_buckets).cast("int"))
        join_keys = ["term_bucket", "term"]
        qt_cols = ["qid", "term", "term_bucket", "weight", "df", "n_qterms"]
    else:
        join_keys = ["term"]
        qt_cols = ["qid", "term", "weight", "df", "n_qterms"]
    matched = postings.join(
        F.broadcast(qt.select(*qt_cols)), join_keys, "inner",
    ).select("qid", "term", "weight", "df", "n_qterms", "range_id",
             "payload", *extra)

    if params.algo == "bmw":
        from .bmw import bmw_topk_rows

        # Same mapInArrow group-walk shape as the exact path: rows sorted
        # by (qid, range_id, term) in-task (no per-group argsort, no
        # applyInPandas per-group materialization), one merged tie-safe
        # top-k emitted per qid held by the task.
        def bmw_kernel_arrow(batches):
            import pyarrow as pa
            import pyarrow.compute as pc

            group_rows: list = []
            cur = None             # (qid, range_id) of the open group
            qid_bufs: list = []
            buf_qid = None
            out_q: list = []
            out_d: list = []
            out_s: list = []

            def trim(cand, scores):
                if cand.size > k:
                    part = np.argpartition(-scores, k - 1)
                    kth = scores[part[k - 1]]
                    keep = part[scores[part] >= kth]
                    cand, scores = cand[keep], scores[keep]
                sel = np.lexsort((cand, -scores))
                cand, scores = cand[sel], scores[sel]
                if cand.size > k:
                    cand, scores = cand[:k], scores[:k]
                return cand, scores

            def flush_qid():
                nonlocal buf_qid
                if buf_qid is None or not qid_bufs:
                    buf_qid = None
                    return
                if len(qid_bufs) == 1:
                    d, s = qid_bufs[0]
                else:
                    d = np.concatenate([x[0] for x in qid_bufs])
                    s = np.concatenate([x[1] for x in qid_bufs])
                    d, s = trim(d, s)
                qid_bufs.clear()
                if d.size:
                    out_q.append(np.repeat(buf_qid, d.size))
                    out_d.append(d)
                    out_s.append(s)
                buf_qid = None

            def finish():
                nonlocal cur, buf_qid
                if cur is None:
                    return
                qid, range_id = cur
                d, s = bmw_topk_rows(group_rows, int(range_id) * range_size,
                                     n_docs, avgdl, k1, b, k, mode)
                group_rows.clear()
                cur = None
                if qid != buf_qid:
                    flush_qid()
                if d.size:
                    buf_qid = qid
                    qid_bufs.append((d, s))

            # Columnar row walk (same pattern as the exact kernel below and
            # the compaction kernel): scalars come out as numpy arrays, the
            # six list columns as (flat values, row offsets) so each row's
            # block metadata is a zero-copy numpy VIEW, and payload bytes
            # stay an Arrow buffer — no per-row to_pylist dict that copies
            # payloads and boxes every block-max entry (VERDICT r3 item 1).
            def flat(col):
                vals = col.flatten().to_numpy(zero_copy_only=False)
                lens = pc.list_value_length(col).to_numpy(
                    zero_copy_only=False).astype(np.int64)
                off = np.empty(lens.size + 1, dtype=np.int64)
                off[0] = 0
                np.cumsum(lens, out=off[1:])
                return vals, off

            for batch in batches:
                idx = batch.schema.get_field_index
                qids = batch.column(idx("qid")).to_numpy(zero_copy_only=False)
                rids = batch.column(idx("range_id")).to_numpy()
                wgts = batch.column(idx("weight")).to_numpy()
                dfs = batch.column(idx("df")).to_numpy()
                nqs = batch.column(idx("n_qterms")).to_numpy()
                payloads = batch.column(idx("payload"))
                bl_v, bl_o = flat(batch.column(idx("block_last")))
                btf_v, btf_o = flat(batch.column(idx("block_max_tf")))
                bdl_v, bdl_o = flat(batch.column(idx("block_min_dl")))
                go_v, go_o = flat(batch.column(idx("goff")))
                to_v, to_o = flat(batch.column(idx("toff")))
                do_v, do_o = flat(batch.column(idx("doff")))
                for i in range(len(qids)):
                    key = (qids[i], int(rids[i]))
                    if cur is not None and cur != key:
                        finish()
                    if cur is None:
                        cur = key
                    group_rows.append({
                        "weight": wgts[i], "df": dfs[i],
                        "n_qterms": nqs[i],
                        "payload": payloads[i].as_buffer(),
                        "block_last": bl_v[bl_o[i]:bl_o[i + 1]],
                        "block_max_tf": btf_v[btf_o[i]:btf_o[i + 1]],
                        "block_min_dl": bdl_v[bdl_o[i]:bdl_o[i + 1]],
                        "goff": go_v[go_o[i]:go_o[i + 1]],
                        "toff": to_v[to_o[i]:to_o[i + 1]],
                        "doff": do_v[do_o[i]:do_o[i + 1]],
                    })
            finish()
            flush_qid()
            if out_q:
                yield pa.RecordBatch.from_arrays([
                    pa.array(np.concatenate(out_q), type=pa.string()),
                    pa.array(np.concatenate(out_d), type=pa.int64()),
                    pa.array(np.concatenate(out_s), type=pa.float64()),
                ], names=["qid", "docid", "score"])

        n_shuffle = int(matched.sparkSession.conf.get(
            "spark.sql.shuffle.partitions"))
        scored = (matched
                  .repartition(n_shuffle, "qid", "range_id")
                  .sortWithinPartitions("qid", "range_id", "term")
                  .mapInArrow(bmw_kernel_arrow, schema=SCORED_SCHEMA))
        return rank_desc(scored, "score", "docid", k=k)

    # Exhaustive scoring as a mapInArrow group-walk over rows sorted by
    # (qid, range_id, term) — NOT applyInPandas, whose ~10 ms per-group
    # pandas materialization dominates large query batches (500 q x ~15
    # ranges = thousands of groups). The in-task sort also delivers the
    # pinned lexicographic term summation order for free (terms are ASCII,
    # so Spark's UTF8 binary sort == the oracle's python str order).
    # The dense accumulators are allocated ONCE per task and reset by
    # zeroing only the touched slots after each group.
    def score_kernel_arrow(batches):
        import pyarrow as pa

        acc = np.zeros(range_size, dtype=np.float64)
        hits = np.zeros(range_size, dtype=np.int32)
        cur = None            # (qid, range_id, n_qterms) of the open group
        # per-qid candidate buffers: all groups of one qid are CONTIGUOUS in
        # the task (rows sorted by qid first), so the task emits ONE merged
        # top-k per qid it holds instead of one per (qid, range) — ~ranges/
        # partitions fewer rows into the global top-k exchange
        qid_bufs: list = []   # [(docids, scores), ...] for buf_qid
        buf_qid = None
        out_q: list = []
        out_d: list = []
        out_s: list = []

        def trim(cand, scores, offset=0):
            """Tie-safe local top-k in the pinned (score DESC, id ASC)
            order; keeps every candidate tied at the k-th score before the
            final truncate (a bare argpartition[:k] could evict a
            smaller-docid tie — mirrors bmw.py's >= theta trim)."""
            if cand.size > k:
                part = np.argpartition(-scores, k - 1)
                kth = scores[part[k - 1]]
                keep = part[scores[part] >= kth]
                cand, scores = cand[keep], scores[keep]
            sel = np.lexsort((cand, -scores))
            cand, scores = cand[sel], scores[sel]
            if cand.size > k:
                cand, scores = cand[:k], scores[:k]
            return cand, scores

        def flush_qid():
            nonlocal buf_qid
            if buf_qid is None or not qid_bufs:
                buf_qid = None
                return
            if len(qid_bufs) == 1:
                d, s = qid_bufs[0]
            else:
                d = np.concatenate([b[0] for b in qid_bufs])
                s = np.concatenate([b[1] for b in qid_bufs])
                d, s = trim(d, s)
            qid_bufs.clear()
            if d.size:
                out_q.append(np.repeat(buf_qid, d.size))
                out_d.append(d)
                out_s.append(s)
            buf_qid = None

        def finish():
            nonlocal cur, buf_qid
            if cur is None:
                return
            qid, range_id, n_qterms = cur
            base = int(range_id) * range_size
            if mode == "and":
                cand = np.flatnonzero(hits == n_qterms)
            else:
                cand = np.flatnonzero(hits)
            scores = acc[cand]
            # reset only touched slots (touched == hits > 0 slots)
            nz = np.flatnonzero(hits)
            acc[nz] = 0.0
            hits[nz] = 0
            cur = None
            cand, scores = trim(cand, scores)
            if qid != buf_qid:
                flush_qid()
            if cand.size:
                buf_qid = qid
                qid_bufs.append(((cand + base).astype(np.int64), scores))

        def drain():
            batch = pa.RecordBatch.from_arrays([
                pa.array(np.concatenate(out_q), type=pa.string()),
                pa.array(np.concatenate(out_d), type=pa.int64()),
                pa.array(np.concatenate(out_s), type=pa.float64()),
            ], names=["qid", "docid", "score"])
            out_q.clear(), out_d.clear(), out_s.clear()
            return batch

        for batch in batches:
            idx = batch.schema.get_field_index
            qids = batch.column(idx("qid")).to_numpy(zero_copy_only=False)
            rids = batch.column(idx("range_id")).to_numpy()
            wgts = batch.column(idx("weight")).to_numpy()
            dfs = batch.column(idx("df")).to_numpy()
            nqs = batch.column(idx("n_qterms")).to_numpy()
            payloads = batch.column(idx("payload"))
            for i in range(len(qids)):
                key = (qids[i], int(rids[i]), int(nqs[i]))
                if cur is not None and cur != key:
                    finish()
                if cur is None:
                    cur = key
                base = int(rids[i]) * range_size
                docids, tfs, dls = codec.decode_postings(
                    payloads[i].as_buffer(), range_start=base)
                if docids.size == 0:
                    continue
                idf = np.log(1.0 + (n_docs - float(dfs[i]) + 0.5)
                             / (float(dfs[i]) + 0.5))
                s = float(wgts[i]) * (
                    idf * codec.bm25_tf_norm(tfs, dls, k1, b, avgdl))
                loc = docids - base
                acc[loc] += s
                hits[loc] += 1
            if out_q and sum(a.size for a in out_d) >= 500_000:
                yield drain()
        finish()
        flush_qid()
        if out_q:
            yield drain()

    n_shuffle = int(matched.sparkSession.conf.get(
        "spark.sql.shuffle.partitions"))
    scored = (matched
              .repartition(n_shuffle, "qid", "range_id")
              .sortWithinPartitions("qid", "range_id", "term")
              .mapInArrow(score_kernel_arrow, schema=SCORED_SCHEMA))
    return rank_desc(scored, "score", "docid", k=k)


def search_terms(reader: IndexReader, qterms: DataFrame,
                 params: SearchParams = SearchParams()) -> DataFrame:
    """Weighted-term search: qterms(qid, term, weight) -> (qid, docid, score,
    rank). This is both the BM25 core and the RM3 second pass (weights
    multiply per-term BM25 contributions, SURVEY R8)."""
    # df per query term: broadcast the tiny query side; termstats streams.
    # When append deltas exist, join the RAW delta rows first and aggregate
    # the tiny joined relation — joining the merge-on-read VIEW would put a
    # full-vocab shuffle under every cold batch query (Catalyst cannot push
    # a join below an aggregate).
    if getattr(reader, "termstats_deltas", False):
        qt = (reader.termstats_raw.join(F.broadcast(qterms), "term", "inner")
              .groupBy("qid", "term", "weight")
              .agg(F.sum("df").alias("df")))
    else:
        qt = reader.termstats.join(F.broadcast(qterms), "term", "inner")
    # per-qid count of index-matched terms (conjunctive mode needs the GLOBAL
    # count — a term absent from one docid range still vetoes its docs).
    qt_counts = qt.groupBy("qid").agg(
        F.countDistinct("term").alias("n_qterms"))
    qt = qt.join(qt_counts, "qid")
    return _score_and_merge(reader, qt, params)


def search(reader: IndexReader, queries: DataFrame,
           params: SearchParams = SearchParams()) -> DataFrame:
    """BM25 top-k over (qid, text) queries — reference R1/R3 batch search."""
    return search_terms(reader, tokenize_queries(queries, reader.analyzer),
                        params)


def search_fast(reader: IndexReader, queries: list[tuple[str, str]],
                params: SearchParams = SearchParams()) -> DataFrame:
    """Low-latency path for small query batches: analyze queries DRIVER-side
    with the same pinned tokenizer, look up term stats with one job, and go
    straight to the scoring stage (2 jobs total instead of ~4 — the shape of
    an interactive front-end; the reference's per-call ``searcher.search``
    is the analogous single-query path, src/bm25_retrieval.py:45-85)."""
    from ..functions.text import tokenize

    simple = reader.analyzer == "simple"
    rows = []
    for qid, text in queries:
        toks = tokenize(text, stem=not simple, stop=not simple)
        for t, wgt in term_freqs(toks).items():
            rows.append((qid, t, float(wgt)))
    if not rows:
        return _empty_results(reader.spark)
    terms = sorted({t for _, t, _ in rows})
    df_map = reader.df_lookup(terms)   # warm repeats: zero Spark jobs
    n_q = {}
    for qid, t, _ in rows:
        if t in df_map:
            n_q[qid] = n_q.get(qid, 0) + 1
    qt_rows = [(qid, t, wgt, df_map[t], n_q[qid])
               for qid, t, wgt in rows if t in df_map]
    if not qt_rows:
        return _empty_results(reader.spark)
    qt = reader.spark.createDataFrame(
        qt_rows, "qid string, term string, weight double, df long, n_qterms int")
    buckets = None
    if reader.n_term_buckets:
        from .index_build import term_bucket
        buckets = sorted({term_bucket(t, reader.n_term_buckets)
                          for _, t, _, _, _ in qt_rows})
    return _score_and_merge(reader, qt, params, buckets=buckets)


def _empty_results(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [], "qid string, docid long, score double, rank int")


def attach_urls(reader: IndexReader, results: DataFrame) -> DataFrame:
    """Map dense docids back to external ids (urls). The result side is tiny
    (<= k per query), so broadcast it against the huge docmap."""
    return reader.docmap.join(F.broadcast(results), "docid", "inner")


# ---------------------------------------------------------------------- RM3

def rm3_expand(reader: IndexReader, queries: DataFrame, docs: DataFrame,
               fb_docs: int = 10, fb_terms: int = 10,
               original_query_weight: float = 0.5,
               params: SearchParams = SearchParams()) -> DataFrame:
    """RM3 relevance model -> expanded weighted terms (qid, term, weight).

    Mirrors the oracle exactly (oracle/bm25_oracle.py:rm3_expand); reference
    semantics from Anserini's Rm3Reranker invoked via ``set_rm3``
    (``src/bm25_retrieval.py:88-135``).
    """
    first = search(reader, queries,
                   SearchParams(params.k1, params.b, fb_docs, "or"))
    fb = docs.select("docid", "text").join(
        F.broadcast(first.select("qid", "docid", "score")), "docid", "inner")
    fb = fb.join(F.broadcast(queries.withColumnRenamed("text", "query_text")), "qid")
    lam = original_query_weight
    # feedback docs MUST be analyzed with the index's analyzer, or the
    # expansion terms never match the postings (simple vs stemmed english)
    do_stem = reader.analyzer != "simple"

    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        (qid,) = key
        qtf = term_freqs(list(tokenize_series(
            pd.Series([pdf["query_text"].iloc[0]]),
            stem=do_stem, stop=do_stem))[0])
        qlen = sum(qtf.values())
        pq = {t: tf / qlen for t, tf in qtf.items()} if qlen else {}
        total = float(pdf["score"].sum())
        pr: dict[str, float] = {}
        tok_lists = tokenize_series(pdf["text"], stem=do_stem, stop=do_stem)
        for toks, s in zip(tok_lists, pdf["score"]):
            pdw = s / total if total > 0 else 1.0 / len(pdf)
            dl = len(toks)
            if dl == 0:
                continue
            for term, tf in term_freqs(toks).items():
                pr[term] = pr.get(term, 0.0) + pdw * (tf / dl)
        top = sorted(pr.items(), key=lambda kv: (-kv[1], kv[0]))[:fb_terms]
        fbw = dict(top)
        terms = sorted(set(pq) | set(fbw))
        return pd.DataFrame({
            "qid": np.repeat(qid, len(terms)),
            "term": terms,
            "weight": [lam * pq.get(t, 0.0) + (1 - lam) * fbw.get(t, 0.0)
                       for t in terms],
        })

    return fb.groupBy("qid").applyInPandas(
        kernel, schema="qid string, term string, weight double")


def search_rm3(reader: IndexReader, queries: DataFrame, docs: DataFrame,
               fb_docs: int = 10, fb_terms: int = 10,
               original_query_weight: float = 0.5,
               params: SearchParams = SearchParams()) -> DataFrame:
    """BM25+RM3 two-pass search — reference R2/R4."""
    expanded = rm3_expand(reader, queries, docs, fb_docs, fb_terms,
                          original_query_weight, params)
    return search_terms(reader, expanded, params)
