"""Distributed inverted-index build (SURVEY.md §3 "index build job", M1).

Plan (all DataFrame + Arrow kernels; the reference's equivalent structure is
Lucene's segment index opened at ``final-project/src/bm25_retrieval.py:28-42``):

1. scan pages (Iceberg/parquet) -> filter langs -> extract text (vectorized
   Arrow UDF, byte-identical to the oracle extractor).
2. deterministic dense docid assignment: global rank by url via scalable
   two-phase zipWithIndex (range-repartition by url, per-partition offsets
   broadcast; NO single-partition window). The rank is a pure function of the
   url set, so docids are identical at any parallelism.
3. tokenize once per doc (Arrow kernel) -> one row per doc with parallel
   term/tf arrays + dl -> JVM-side explode to (docid, term, tf, dl).
4. partition postings by (term, range_id = docid // range_size): the docid
   range is a DETERMINISTIC salt — a head term's postings split into bounded
   chunks, so build-side skew is capped at range_size postings per task
   (north_star "salted hash-partitioning on term"), and chunk boundaries are
   aligned across terms so query-time scoring can parallelize by docid range.
   Per (term, range) an Arrow kernel sorts by docid and emits the
   delta+varbyte payload + block-max metadata; whole-term views are obtained
   by a sort-merge combine over chunks (functions/codec.py order guarantees).
5. aggregate term stats (df, cf) from chunk stats; collection stats
   (N, avgdl) from doclens — tiny, broadcast at query time so scoring never
   shuffles document-length data (dl additionally rides inline in payloads).
6. per-partition lineage rows (input split, term range, postings count,
   bytes, wall time) -> metrics table; each phase commits a snapshot so the
   build is resumable (north_star).
"""

from __future__ import annotations

import hashlib
import json
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass

import numpy as np
import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import codec
from ..functions.text import extract_text_series, tokenize_series
from ..sources.tables import Catalog

TOKENS_SCHEMA = "docid long, dl long, terms array<string>, tfs array<int>"
POSTINGS_SCHEMA = (
    "term string, term_bucket int, range_id long, df_chunk long, "
    "cf_chunk long, payload binary, block_last array<long>, "
    "block_max_tf array<int>, block_min_dl array<int>, goff array<int>, "
    "toff array<int>, doff array<int>, build_partition int, build_ms double"
)

# stats is a single-logical-row table; appends ADD one tag-prefixed row per
# epoch (running counters), so the live row is the one with the highest
# next_docid — see read_stats_row. The explicit schema also covers legacy
# 6-column base rows (missing counters read back as null).
STATS_SCHEMA = (
    "n_docs long, avgdl double, range_size long, block int, "
    "n_term_buckets int, analyzer string, total_dl double, next_docid long"
)


def read_stats_row(spark: SparkSession, catalog: "Catalog",
                   snapshot_done: set[str] | None = None):
    """The LIVE stats row: appends leave one row per epoch (append-mode
    like every other table, so the whole epoch publishes atomically under
    the done marker); the newest is the max next_docid (strictly
    monotone per non-empty append; ties are byte-identical rows). Legacy
    single-row tables pass through untouched. `snapshot_done` pins a
    multi-table open to one epoch snapshot (see Catalog.read_table)."""
    rows = catalog.read_table(spark, "stats", schema=STATS_SCHEMA,
                              snapshot_done=snapshot_done).collect()
    if len(rows) == 1:
        return rows[0]
    return max(rows, key=lambda r: (r["next_docid"] if r["next_docid"]
                                    is not None else -1, r["n_docs"]))


def term_bucket(term: str, n_buckets: int) -> int:
    """Pinned term->bucket hash (md5-based, same family as operators/dedup).
    The postings table is PARTITIONED by this column, so a query's scan
    prunes to the buckets of its own terms — the Parquet-native analogue of
    Lucene's term dictionary lookup."""
    import hashlib
    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:15], 16) % n_buckets


@dataclass(frozen=True)
class IndexConfig:
    """Build-time knobs. k1/b are NOT here — they stay query-time parameters
    exactly as in the reference (``set_bm25``, src/bm25_retrieval.py:70)."""

    # docids per postings chunk. This is the engine's shard size: it bounds
    # (a) the build-side merge group (<= range_size postings), (b) the
    # query-side dense accumulator (range_size float64s), and (c) per-chunk
    # encode/decode overhead amortization (chunks should hold >=10k postings
    # for head terms — over-salting measured 3x slower at 10^6 docs).
    # Tuning rule: local/bench 2^16-2^17; 10^9 docs ~2^20; 10^12 docs ~2^22
    # (4M docs/range -> 32 MB accumulator, ~250k ranges = query fan-out units
    # on a 1000-executor cluster, max head-term chunk ~40 MB).
    range_size: int = 1 << 17
    block: int = 128                   # postings per block-max block
    n_term_buckets: int = 32           # postings partition-pruning buckets
    analyzer: str = "english"          # "english" (stop+Porter, the pinned
                                       # reference chain) | "simple"
                                       # (simple_words tokens only — the
                                       # SQL-twinnable variant)
    langs: tuple[str, ...] = ("en",)   # analyzer is English (robust04)
    recompute_text: bool = True        # html -> text via pinned extractor
    n_partitions: int | None = None    # docid-assignment range partitions
    materialize_docs: bool = True      # write docs(docid,url,text)? At petabyte
                                       # scale keep False: it would re-copy the
                                       # whole corpus; RM3 re-fetches text via
                                       # docmap joined back to the pages table

    def fingerprint(self, input_fp: str) -> str:
        blob = json.dumps([asdict(self), input_fp], sort_keys=True, default=list)
        return hashlib.sha256(blob.encode()).hexdigest()[:16]


# --------------------------------------------------------------------------
# phase 1: docs table (url, docid, text, dl? no — text only) + docid ranks
# --------------------------------------------------------------------------

def assign_docids(pages: DataFrame, n_partitions: int | None = None,
                  cache_registry: list | None = None) -> DataFrame:
    """Deterministic dense docid = global rank of url (0-based).

    Scalable two-phase zipWithIndex: range-partition + sort by url, count per
    partition, broadcast offsets, per-partition arange. Rank is
    parallelism-invariant; reference docids are external strings
    (``FBIS3-10082``-style) — ours map via the docmap table (SURVEY.md §1.2).

    The range-partitioned projection is persisted for the two passes; pass
    ``cache_registry`` to receive it for unpersisting once the output has
    been materialized (a long-running append stream would otherwise leak one
    cached DataFrame per micro-batch).
    """
    spark = pages.sparkSession
    n_parts = n_partitions or max(spark.sparkContext.defaultParallelism, 8)
    part = (
        pages.repartitionByRange(n_parts, "url")
        .sortWithinPartitions("url")
        .persist()
    )
    if cache_registry is not None:
        cache_registry.append(part)
    # one JVM pass: per-partition counts for the rank offsets AND a
    # distinct-count dup probe (equal urls land in one range partition, so
    # per-partition distinct equals global distinct)
    counts = (
        part.select(F.spark_partition_id().alias("pid"), "url")
        .groupBy("pid")
        .agg(F.count("*").alias("count"),
             F.countDistinct("url").alias("n_distinct"))
        .collect()
    )
    if any(r["count"] != r["n_distinct"] for r in counts):
        raise ValueError(
            "assign_docids requires unique urls — extract_docs dedupes "
            "recrawls before ranking; pass deduped input here")
    by_pid = {r["pid"]: r["count"] for r in counts}
    offsets, acc = {}, 0
    for pid in sorted(by_pid):
        offsets[pid] = acc
        acc += by_pid[pid]
    b_offsets = spark.sparkContext.broadcast(offsets)

    # note: StructType.add mutates in place — build a fresh copy instead
    out_schema = T.StructType(
        list(part.schema.fields) + [T.StructField("docid", T.LongType())])

    def attach(iterator):
        ctx = TaskContext.get()
        base = b_offsets.value.get(ctx.partitionId() if ctx else 0, 0)
        for pdf in iterator:
            n = len(pdf)
            yield pdf.assign(docid=np.arange(base, base + n, dtype=np.int64))
            base += n

    return part.mapInPandas(attach, schema=out_schema)


def extract_docs(pages: DataFrame, cfg: IndexConfig,
                 cache_registry: list | None = None) -> DataFrame:
    """Filter langs, (re)extract text byte-identically, assign docids.

    The rank-by-url sort runs on the URL PROJECTION only (a few percent of
    the corpus bytes) and joins back — never range-shuffles the full text.
    AQE turns the join into a broadcast when the docmap fits; at 10^12 docs
    it degrades to a hash join on url, still cheaper than sorting payloads.
    """
    df = pages
    if cfg.langs:
        df = df.filter(F.col("lang").isin(list(cfg.langs)))
    # Recrawl dedup (urls are NOT assumed unique — the pages schema carries
    # warc_ts, so duplicate captures are expected at Common-Crawl scale; a
    # many-to-many url join would inflate df/cf and duplicate docids).
    # The dup probe rides FREE on assign_docids' counts pass: clean corpora
    # (the common case) never pay the full-row dedup shuffle.
    try:
        docmap = assign_docids(df.select("url"), cfg.n_partitions,
                               cache_registry=cache_registry)
    except ValueError:
        df = dedup_recrawls(df)
        docmap = assign_docids(df.select("url"), cfg.n_partitions,
                               cache_registry=cache_registry)
    if cfg.recompute_text:
        @F.pandas_udf("string")
        def _extract(html: pd.Series) -> pd.Series:
            return extract_text_series(html)
        df = df.withColumn("text", _extract(F.col("html")))
    # r6 note: an ensure_min_partitions round-robin here was A/B'd and
    # REJECTED — the bench corpus reads as 8 splits, which already feeds
    # the tokenize kernel adequately, and the full-text exchange (plus its
    # sort-before-repartition) cost more than the extra parallelism bought
    # (min-of-reps 8.5 s -> 11.8 s at sf1.0). The under-split pathology the
    # entry operators fix does not bite here because extract_docs' caller
    # pipeline was already shaped around the docmap join.
    return df.select("url", "text").join(docmap, "url").select(
        "docid", "url", "text")


def dedup_recrawls(df: DataFrame) -> DataFrame:
    """Keep ONE row per url: the latest warc_ts capture, ties broken by
    content hash (deterministic at any parallelism)."""
    from pyspark.sql import Window

    order = []
    if "warc_ts" in df.columns:
        order.append(F.desc("warc_ts"))
    tie_col = "html" if "html" in df.columns else "text"
    order.append(F.asc(F.md5(F.col(tie_col).cast("binary"))))
    w = Window.partitionBy("url").orderBy(*order)
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


# --------------------------------------------------------------------------
# phase 2: tokenize -> (docid, term, tf, dl); doclens
# --------------------------------------------------------------------------

def tokenize_docs(docs: DataFrame, analyzer: str = "english") -> DataFrame:
    """One pass per doc -> (docid, dl, terms[], tfs[]). Zero-token docs
    keep a row (dl=0, empty arrays) so N/avgdl count them (oracle parity).

    The kernel is a fused findall -> stop -> stem -> dict count loop,
    byte-parity-pinned against functions/text.py's scalar analyzer
    (tests/test_text.py::test_tokenize_docs_matches_scalar_twin). Its
    working set (short token strings, small dicts, the lru stem cache)
    lives in L1/L2: ~2.5M tokens/s/core single-threaded, where an Arrow
    split/dictionary-encode kernel measured 4.5 s vs 1.19 s for 3M tokens
    on a memory-bandwidth-contended host (BENCH.md r4 'tokenize kernel
    A/B')."""
    from ..functions.text import STOPWORDS, _stem_cached, _TOKEN_RE

    def kernel(iterator):
        findall = _TOKEN_RE.findall
        stem = _stem_cached if analyzer == "english" else (lambda t: t)
        stop = STOPWORDS if analyzer == "english" else frozenset()
        for pdf in iterator:
            terms, tfs, dls = [], [], []
            for text in pdf["text"]:
                # single fused pass: tokenize -> stop -> stem -> tf counts
                # (minimal allocation; the pandas .str chain costs ~3 extra
                # object-array passes per batch)
                tf: dict[str, int] = {}
                dl = 0
                for tok in findall(("" if text is None else text).lower()):
                    if tok in stop:
                        continue
                    dl += 1
                    st = stem(tok)
                    tf[st] = tf.get(st, 0) + 1
                ks = list(tf.keys())
                terms.append(ks)
                tfs.append([tf[k] for k in ks])
                dls.append(dl)
            yield pd.DataFrame({
                "docid": pdf["docid"].astype("int64"),
                "dl": pd.Series(dls, dtype="int64"),
                "terms": terms,
                "tfs": tfs,
            })

    return docs.select("docid", "text").mapInPandas(kernel,
                                                    schema=TOKENS_SCHEMA)


def explode_tokens(doc_tokens: DataFrame) -> DataFrame:
    """JVM-side flatten to (docid, term, tf, dl) — no Python in the explode."""
    return (
        doc_tokens
        .select("docid", "dl", F.explode(F.arrays_zip("terms", "tfs")).alias("e"))
        .select(
            "docid",
            F.col("e.terms").alias("term"),
            F.col("e.tfs").cast("int").alias("tf"),
            "dl",
        )
    )


# --------------------------------------------------------------------------
# phase 3: postings chunks per (term, range)
# --------------------------------------------------------------------------

def build_postings(doc_tokens: DataFrame, cfg: IndexConfig,
                   _stop_after_runs: bool = False) -> DataFrame:
    """(term, range_id)-partitioned chunk encode: delta+varbyte payload +
    block-max metadata + per-block skip offsets. Max group size = range_size
    (the deterministic skew cap).

    Physical shape: ONE shuffle (repartition by (term, range_id)) + in-task
    sort, then a mapInPandas kernel that walks group boundaries in numpy —
    NOT applyInPandas, whose per-group pandas materialization costs ~10ms x
    millions of (term, range) groups. Groups can span Arrow batches, so the
    kernel carries the open tail group between batches.
    """
    range_size = cfg.range_size
    block = cfg.block
    n_buckets = cfg.n_term_buckets
    # within-range offsets cross the shuffle as int32 (RUNS_SCHEMA) — a
    # range_size beyond 2^31 would silently truncate them (ADVICE r2). The
    # documented tuning ceiling is 2^22 (10^12-doc corpora); fail loudly
    # well before the representable bound.
    if range_size >= 1 << 31:
        raise ValueError(
            f"IndexConfig.range_size={range_size} exceeds the int32 "
            "within-range offset bound (2^31); the tuned ceiling is 2^22")

    def encode_run(term: str, range_id: int, docids, tfs, dls, out, t0):
        rs = int(range_id) * range_size
        payload, bl, btf, bdl, go, to, do = codec.encode_chunk(
            docids, tfs, dls, range_start=rs, block=block)
        ctx = TaskContext.get()
        out.append((
            term, term_bucket(term, n_buckets), int(range_id),
            int(docids.size), int(tfs.sum()) if tfs.size else 0, payload,
            bl.tolist(), btf.astype(np.int32).tolist(),
            bdl.astype(np.int32).tolist(), go.astype(np.int32).tolist(),
            to.astype(np.int32).tolist(), do.astype(np.int32).tolist(),
            ctx.partitionId() if ctx else -1,
            (time.perf_counter() - t0) * 1e3,
        ))

    import pyarrow as pa
    import pyarrow.compute as pc

    # offs = docid - range_id*range_size: int32 within-range offsets halve
    # the docid bytes crossing the shuffle (range_size <= 2^22 << 2^31)
    RUNS_SCHEMA = ("term string, range_id long, offs array<int>, "
                   "tfs array<int>, dls array<int>")
    POSTINGS_PA_SCHEMA = pa.schema([
        ("term", pa.string()), ("term_bucket", pa.int32()),
        ("range_id", pa.int64()), ("df_chunk", pa.int64()),
        ("cf_chunk", pa.int64()), ("payload", pa.binary()),
        ("block_last", pa.list_(pa.int64())),
        ("block_max_tf", pa.list_(pa.int32())),
        ("block_min_dl", pa.list_(pa.int32())),
        ("goff", pa.list_(pa.int32())), ("toff", pa.list_(pa.int32())),
        ("doff", pa.list_(pa.int32())), ("build_partition", pa.int32()),
        ("build_ms", pa.float64()),
    ])

    # ---- map-side combine: per-input-partition partial posting runs -------
    # Instead of shuffling one row per token occurrence (tens of millions),
    # each input partition locally groups its tokens into (term, range) RUNS
    # with array payloads — ~2 orders of magnitude fewer shuffle rows, same
    # bytes, trivial sort cost. This is the "salted runs ... merged via
    # sort-merge combine across partitions" of the north_star.
    RUNS_FLUSH_TOKENS = 4_000_000  # ~bounded memory per task; extra runs
                                   # per (term, range) are fine — the merge
                                   # side combines any number of them

    def runs_kernel(batches):
        import os as _os
        _prof = _os.environ.get("SPARK_GRAFT_PROFILE") == "1"
        _t_start = time.perf_counter()
        _t_flush = 0.0
        _t_body = 0.0
        # Arrow-native map side: term bytes NEVER materialize as Python
        # strings (the old mapInPandas form built ~1 PyObject per token —
        # the measured map-side wall at 10^8 tokens). Terms stay in Arrow
        # buffers; dictionary_encode (C++ hash) replaces pd.factorize; the
        # output list rows are ListArray.from_arrays over flat numpy — no
        # per-row slices, no pandas.
        t_chunks: list = []          # flat pa.StringArray chunks
        tf_chunks: list = []         # flat pa.Int32Array chunks
        d_parts: list = []           # numpy int64 (docid repeated per token)
        dl_parts: list = []          # numpy int32
        buffered = 0

        def flush():
            nonlocal buffered
            terms_flat = (t_chunks[0] if len(t_chunks) == 1
                          else pa.concat_arrays(t_chunks))
            enc = pc.dictionary_encode(terms_flat)
            vocab = enc.dictionary
            codes = enc.indices.to_numpy().astype(np.int64)
            docids = np.concatenate(d_parts)
            dl_a = np.concatenate(dl_parts)
            tf_a = (tf_chunks[0] if len(tf_chunks) == 1
                    else pa.concat_arrays(tf_chunks)).to_numpy()
            t_chunks.clear(), tf_chunks.clear(), d_parts.clear(), dl_parts.clear()
            buffered = 0
            # single combined int64 sort key (code, docid) — sorting by
            # docid within code also orders ranges; (term, docid) pairs are
            # unique so no stability is needed. Falls back to lexsort if the
            # key could overflow (10^12-doc corpora with huge flush vocabs).
            span = int(docids.max()) + 1
            if len(vocab) * span < (1 << 62):
                order = np.argsort(codes.astype(np.int64) * span + docids)
            else:
                ranges0 = docids // range_size
                order = np.lexsort((docids, ranges0, codes))
            # ONE structured-record gather instead of five: every random
            # gather touches a whole cache line per element, so permuting a
            # packed 20-byte record costs ~1x line traffic where five
            # separate fancy-indexes cost ~5x — the measured flush wall at
            # 24 workers is memory-bound, not CPU-bound.
            rng_a = (docids // range_size).astype(np.int32)
            rec = np.empty(docids.size, dtype=[
                ("c", "<i4"), ("r", "<i4"), ("o", "<i4"),
                ("t", "<i4"), ("l", "<i4")])
            rec["c"] = codes
            rec["r"] = rng_a
            rec["o"] = (docids - rng_a.astype(np.int64) * range_size
                        ).astype(np.int32)
            rec["t"] = tf_a
            rec["l"] = dl_a
            rec = rec[order]
            codes_s, ranges_s = rec["c"], rec["r"]
            change = np.flatnonzero(
                (codes_s[1:] != codes_s[:-1])
                | (ranges_s[1:] != ranges_s[:-1])) + 1
            bounds = np.concatenate(([0], change, [codes_s.size]))
            starts = bounds[:-1]
            group_terms = pc.take(vocab, pa.array(
                np.ascontiguousarray(codes_s[starts]), type=pa.int32()))
            group_ranges = pa.array(
                ranges_s[starts].astype(np.int64), type=pa.int64())
            offsets = pa.array(bounds.astype(np.int32), type=pa.int32())
            yield pa.RecordBatch.from_arrays([
                group_terms, group_ranges,
                pa.ListArray.from_arrays(offsets, pa.array(
                    np.ascontiguousarray(rec["o"]))),
                pa.ListArray.from_arrays(offsets, pa.array(
                    np.ascontiguousarray(rec["t"]))),
                pa.ListArray.from_arrays(offsets, pa.array(
                    np.ascontiguousarray(rec["l"]))),
            ], names=["term", "range_id", "offs", "tfs", "dls"])

        for batch in batches:
            _t0 = time.perf_counter()
            tl = batch.column(batch.schema.get_field_index("terms"))
            counts = pc.list_value_length(tl).to_numpy(
                zero_copy_only=False).astype(np.int64)
            n_tok = int(counts.sum())
            if n_tok == 0:
                continue
            docid_col = batch.column(
                batch.schema.get_field_index("docid")).to_numpy()
            dl_col = batch.column(
                batch.schema.get_field_index("dl")).to_numpy()
            d_parts.append(np.repeat(docid_col.astype(np.int64), counts))
            dl_parts.append(np.repeat(dl_col.astype(np.int32), counts))
            t_chunks.append(tl.flatten())
            tf_chunks.append(batch.column(
                batch.schema.get_field_index("tfs")).flatten())
            buffered += n_tok
            _t_body += time.perf_counter() - _t0
            if buffered >= RUNS_FLUSH_TOKENS:
                _t0 = time.perf_counter()
                yield from flush()
                _t_flush += time.perf_counter() - _t0
        if d_parts:
            _t0 = time.perf_counter()
            yield from flush()
            _t_flush += time.perf_counter() - _t0
        if _prof:
            import sys as _sys
            _sys.stderr.write(
                f"RUNSPROF wall={time.perf_counter() - _t_start:.2f} "
                f"body={_t_body:.2f} flush={_t_flush:.2f}\n")

    # ---- reduce side: sort-merge combine runs per (term, range) -----------
    # Arrow-native: rows of one (term, range) group are ADJACENT after the
    # in-task sort, so their flat list values are CONTIGUOUS in the Arrow
    # values buffer — a group's postings are a zero-copy slice, no
    # per-run concatenate, no pandas object columns.
    def merge_kernel(batches):
        import os as _os
        _prof = _os.environ.get("SPARK_GRAFT_PROFILE") == "1"
        _t_start = time.perf_counter()
        _t_body = 0.0
        # held = (term, range_id, offs, tfs, dls, multi_run) carried tail
        held: tuple | None = None

        def emit_group(term, range_id, offs, tfs, dls, multi_run: bool,
                       out: list, t0: float):
            if multi_run:
                order = np.argsort(offs, kind="stable")
                offs, tfs, dls = offs[order], tfs[order], dls[order]
            docids = offs.astype(np.int64)
            docids += int(range_id) * range_size
            encode_run(term, int(range_id), docids, tfs, dls, out, t0)

        def out_batch(out: list):
            arrays = [pa.array(col, type=f.type)
                      for col, f in zip(zip(*out), POSTINGS_PA_SCHEMA)]
            return pa.RecordBatch.from_arrays(arrays,
                                              schema=POSTINGS_PA_SCHEMA)

        def flat(col):
            vals = col.flatten().to_numpy(zero_copy_only=False)
            lens = pc.list_value_length(col).to_numpy(
                zero_copy_only=False).astype(np.int64)
            row_off = np.empty(lens.size + 1, dtype=np.int64)
            row_off[0] = 0
            np.cumsum(lens, out=row_off[1:])
            return vals, row_off

        for batch in batches:
            _tb = time.perf_counter()
            idx = batch.schema.get_field_index
            terms = batch.column(idx("term")).to_numpy(zero_copy_only=False)
            ranges = batch.column(idx("range_id")).to_numpy()
            offs_f, row_off = flat(batch.column(idx("offs")))
            tfs_f, _ = flat(batch.column(idx("tfs")))
            dls_f, _ = flat(batch.column(idx("dls")))
            n = terms.size
            if n == 0:
                continue
            change = np.flatnonzero(
                (terms[1:] != terms[:-1]) | (ranges[1:] != ranges[:-1])) + 1
            bounds = np.concatenate(([0], change, [n]))
            out: list = []
            t0 = time.perf_counter()
            # first group may continue the held tail from the previous batch
            start_gi = 0
            if held is not None:
                h_term, h_range, h_offs, h_tfs, h_dls, _ = held
                hi = int(bounds[1])
                same = (terms[0] == h_term and int(ranges[0]) == int(h_range))
                if same and len(bounds) == 2:
                    # whole batch continues the held group
                    held = (h_term, h_range,
                            np.concatenate((h_offs, offs_f)),
                            np.concatenate((h_tfs, tfs_f)),
                            np.concatenate((h_dls, dls_f)), True)
                    continue
                if same:
                    emit_group(h_term, h_range,
                               np.concatenate((h_offs,
                                               offs_f[:row_off[hi]])),
                               np.concatenate((h_tfs, tfs_f[:row_off[hi]])),
                               np.concatenate((h_dls, dls_f[:row_off[hi]])),
                               True, out, t0)
                    start_gi = 1
                else:
                    emit_group(h_term, h_range, h_offs, h_tfs, h_dls,
                               held[5], out, t0)
                held = None
                t0 = time.perf_counter()
            # hold back the last (possibly batch-spanning) group
            lo_last = int(bounds[-2])
            held = (terms[lo_last], int(ranges[lo_last]),
                    np.array(offs_f[row_off[lo_last]:]),
                    np.array(tfs_f[row_off[lo_last]:]),
                    np.array(dls_f[row_off[lo_last]:]),
                    n - lo_last > 1)
            for gi in range(start_gi, len(bounds) - 2):
                lo, hi = int(bounds[gi]), int(bounds[gi + 1])
                emit_group(terms[lo], ranges[lo],
                           offs_f[row_off[lo]:row_off[hi]],
                           tfs_f[row_off[lo]:row_off[hi]],
                           dls_f[row_off[lo]:row_off[hi]],
                           hi - lo > 1, out, t0)
                t0 = time.perf_counter()
            _t_body += time.perf_counter() - _tb
            if out:
                yield out_batch(out)
        if held is not None and held[2].size:
            out = []
            emit_group(held[0], held[1], held[2], held[3], held[4], held[5],
                       out, time.perf_counter())
            yield out_batch(out)
        if _prof:
            import sys as _sys
            _sys.stderr.write(
                f"MERGEPROF wall={time.perf_counter() - _t_start:.2f} "
                f"body={_t_body:.2f}\n")

    spark = doc_tokens.sparkSession
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    runs = doc_tokens.select("docid", "dl", "terms", "tfs").mapInArrow(
        runs_kernel, schema=RUNS_SCHEMA)
    if _stop_after_runs:
        return runs
    # Shuffle key is (term_bucket, range_id), NOT (term, range_id): bucket is
    # a function of term, so a (term, range) group still lands whole in one
    # task — and the output partitions are already bucket-aligned, so the
    # final partitionBy("term_bucket") write needs NO second shuffle of the
    # payload bytes. The JVM expression mirrors term_bucket() exactly.
    bucket_col = F.pmod(
        F.conv(F.substring(F.md5(F.col("term")), 1, 15), 16, 10)
        .cast("long"), F.lit(n_buckets)).cast("int")
    parted = (runs.withColumn("term_bucket", bucket_col)
              .repartition(n_shuffle, "term_bucket", "range_id")
              .sortWithinPartitions("term", "range_id")
              .drop("term_bucket"))
    return parted.mapInArrow(merge_kernel, schema=POSTINGS_SCHEMA)


def lineage_from_postings(postings: DataFrame) -> DataFrame:
    """Per-build-partition lineage: term range, postings count, bytes, wall
    time (north_star metrics table)."""
    return (
        postings.groupBy("build_partition")
        .agg(
            F.min("term").alias("term_min"),
            F.max("term").alias("term_max"),
            F.count("*").alias("n_chunks"),
            F.sum("df_chunk").alias("n_postings"),
            F.sum(F.octet_length("payload")).alias("bytes"),
            F.sum("build_ms").alias("wall_time_ms"),
        )
        .withColumn("phase", F.lit("postings"))
    )


# --------------------------------------------------------------------------
# driver: full build with snapshot-resumable phases
# --------------------------------------------------------------------------

def build_index(spark: SparkSession, pages: DataFrame, catalog: Catalog,
                cfg: IndexConfig = IndexConfig(), input_fp: str = "",
                force: bool = False) -> dict:
    """Run all phases; skip any whose snapshot fingerprint already matches
    (resumability contract). Returns a summary dict.

    Phase layout (one read of the raw corpus total):
      1. doc_tokens: extract -> docid assignment -> tokenize, fused into a
         single pass over pages; emits doc_tokens + docmap (+ docs if
         cfg.materialize_docs — off for petabyte corpora, it re-copies text).
      2. postings: doc_tokens -> explode -> (term, range) chunk encode.
      3. meta: doclens/stats from doc_tokens; termstats/lineage from
         postings (each source read once, cached across its two aggregates).
    """
    fp = cfg.fingerprint(input_fp)
    t_start = time.perf_counter()
    phase_sec: dict[str, float] = {}

    if force or not catalog.has_table("doc_tokens", fp):
        caches: list = []
        docs = extract_docs(pages, cfg, cache_registry=caches)
        if cfg.materialize_docs:
            catalog.write_table(docs, "docs", fingerprint=fp)
            docs = catalog.read_table(spark, "docs")
        else:
            docs = docs.persist()
            docs.count()  # materialize once; concurrent writers read cache
        # independent writes run as concurrent Spark jobs (driver threads)
        with ThreadPoolExecutor(2) as ex:
            f1 = ex.submit(catalog.write_table, docs.select("docid", "url"),
                           "docmap", fp)
            f2 = ex.submit(catalog.write_table,
                           tokenize_docs(docs, cfg.analyzer),
                           "doc_tokens", fp)
            f1.result(), f2.result()
        docs.unpersist()
        for c in caches:
            c.unpersist()
        phase_sec["tokenize"] = round(time.perf_counter() - t_start, 2)
    doc_tokens = catalog.read_table(spark, "doc_tokens")

    if force or not catalog.has_table("postings", fp):
        t_p = time.perf_counter()
        # no repartition: build_postings already shuffled by (term_bucket,
        # range_id), so the write is bucket-aligned without moving payloads
        catalog.write_table(
            build_postings(doc_tokens, cfg),
            "postings", fingerprint=fp, partition_by=["term_bucket"])
        phase_sec["postings"] = round(time.perf_counter() - t_p, 2)

    if force or not catalog.has_table("stats", fp):
        t_m = time.perf_counter()
        postings = catalog.read_table(spark, "postings",
                                      schema=POSTINGS_SCHEMA).persist()
        postings.count()
        termstats = postings.groupBy("term").agg(
            F.sum("df_chunk").alias("df"), F.sum("cf_chunk").alias("cf"))
        with ThreadPoolExecutor(4) as ex:
            f1 = ex.submit(catalog.write_table,
                           doc_tokens.select("docid", "dl"), "doclens", fp)
            f2 = ex.submit(catalog.write_table, termstats, "termstats", fp)
            f3 = ex.submit(catalog.write_table,
                           lineage_from_postings(postings), "lineage", fp)
            f4 = ex.submit(lambda: doc_tokens.agg(
                F.count("*").alias("n_docs"),
                F.avg("dl").alias("avgdl"),
                F.sum("dl").alias("total_dl"),
                F.max("docid").alias("max_docid")).collect()[0])
            f1.result(), f2.result(), f3.result()
            agg = f4.result()
        postings.unpersist()
        # full STATS_SCHEMA row (total_dl/next_docid running counters) so
        # append-mode stats rows share one schema with the base row
        stats = spark.createDataFrame(
            [(int(agg["n_docs"]), float(agg["avgdl"] or 0.0),
              cfg.range_size, cfg.block, cfg.n_term_buckets, cfg.analyzer,
              float(agg["total_dl"] or 0.0),
              int(agg["max_docid"] if agg["max_docid"] is not None
                  else -1) + 1)],
            STATS_SCHEMA)
        catalog.write_table(stats, "stats", fingerprint=fp)
        phase_sec["meta"] = round(time.perf_counter() - t_m, 2)

    srow = read_stats_row(spark, catalog)
    return {
        "n_docs": srow["n_docs"],
        "avgdl": srow["avgdl"],
        "fingerprint": fp,
        "build_sec": time.perf_counter() - t_start,
        "phase_sec": phase_sec,
    }
