"""The benchmark workloads.

Each is a closed loop with one client: a request starts when the previous
one returns. Inputs are generated from the seed and written to parquet
before any timing starts. Output checks run after the timed phase.

Every workload returns a ``Result``: the requests attempted and failed,
the end-to-end metrics, the per-layer metrics (traced runs only) and a
report of workload properties and per-workload metric names.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import pandas as pd

import checks
import gen

# sizes: every run, with its set-up and checks, has to fit the benchmark's
# run budget (see README.md)
INDEX_DOCS = 3000
EPOCH_DOCS, EPOCHS = 200, 1
BATCH_QUERIES, WARM_QUERIES = 50, 5
SINGLES_PER_BATCH = 3
# the batch k lies well below the corpus size and the docs a query
# matches, so BMW's threshold gets set and its block skipping is exercised
SINGLE_K, BATCH_K = 10, 100
CURATE_DOCS = 300
NEARDUP_DOCS, NEARDUP_BATCHES = 80, 2
SETUP_REPEATS = 3
# one serving round (index: an exact+BMW batch pair; curate: the near-dup
# batches) per this many --seconds; the work done never depends on speed
SECONDS_PER_ROUND = 10
CODEC_SAMPLE_ROWS = 2000
JACCARD, MAX_LOSS = 0.8, 2e-3     # the engine's near-dup defaults
inf = float("inf")


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    report: dict = field(default_factory=dict)


class Run:
    """What a workload needs: the session, tracer, paths and seed."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: float,
                 session_s: float):
        self.spark, self.tracer = spark, tracer
        self.work, self.seed = work, seed
        self.session_s = session_s
        self.rounds = max(1, round(seconds / SECONDS_PER_ROUND))
        self.corpus = gen.Corpus(seed)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def write_inputs(self, make) -> float:
        """Generate and write the inputs SETUP_REPEATS times; returns the
        median wall (the outputs of every repeat are identical)."""
        walls = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            make()
            walls.append(time.perf_counter() - t0)
        return statistics.median(walls)

    def warm_up(self, fn) -> float:
        """Run the untimed warm-up ``fn`` in a span; returns its wall. A
        failure is reported and the run goes on: the timed requests on a
        broken path fail and are counted."""
        t0 = time.perf_counter()
        with self.tracer.span("warmup") as sp:
            try:
                fn(sp)
            except Exception:
                traceback.print_exc()
        return time.perf_counter() - t0

    def request(self, res: Result, name: str, fn, **attrs):
        """Run one timed request inside a span; an exception counts as a
        failed request and the loop goes on."""
        res.attempted += 1
        with self.tracer.span(name, **attrs) as sp:
            try:
                return fn(sp)
            except Exception:
                res.failed += 1
                sp.attrs["error"] = traceback.format_exc(limit=3)
                sys.stderr.write(sp.attrs["error"])
                return None


def write_parquet(pdf: pd.DataFrame, path: str) -> None:
    pdf.to_parquet(path, index=False)


def _median(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else default


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in
               glob.glob(os.path.join(path, "**", "*"), recursive=True)
               if os.path.isfile(f))


def _spans(run: Run, name: str) -> list[int]:
    return [i for i, s in enumerate(run.tracer.spans) if s.name == name]


def _child(run: Run, i: int, name: str) -> int | None:
    for j in run.tracer.children(i):
        if run.tracer.spans[j].name == name:
            return j
    return None


def _wall(run: Run, i: int | None) -> float | None:
    return run.tracer.spans[i].wall if i is not None else None


# ------------------------------------------------------------------- index

def index(run: Run) -> Result:
    """Build, serve, then append, in one closed loop.

    1. ``build_index`` over a fresh corpus (timed).
    2. Open and cache an ``IndexReader`` (timed), then warm the query paths
       with one untimed exact and one BMW batch; their wall counts as
       set-up.
    3. Serve ``run.rounds`` pairs: single ``search_fast`` queries (k=10)
       before each 50-query ``search`` batch (k=100); a pair is an exact
       and a BMW batch over the same query set.
    4. ``append_pages_batch`` epochs of fresh pages; after each one the
       reader is reopened uncached and a 50-query exact batch runs."""
    from text_retrieval_and_search_engines_spark.plans.index_build import (
        IndexConfig, build_index)
    from text_retrieval_and_search_engines_spark.plans.query import (
        IndexReader, SearchParams, search, search_fast)
    from text_retrieval_and_search_engines_spark.sources.tables import Catalog
    from text_retrieval_and_search_engines_spark.streaming.incremental import \
        append_pages_batch

    spark, tr, c = run.spark, run.tracer, run.corpus
    res = Result()
    base = c.pages("base", INDEX_DOCS)
    epochs = [c.pages(f"epoch{e}", EPOCH_DOCS) for e in range(EPOCHS)]
    singles = c.queries("single", 400)
    # batch queries are topical: they match one host's docid range densely
    # and the rest sparsely, which is what BMW's block bounds can skip
    sets = {name: c.queries(name, n, topical=True) for name, n in
            [(f"batch{j}", BATCH_QUERIES) for j in range(run.rounds)]
            + [("warm", WARM_QUERIES), ("fresh", BATCH_QUERIES)]}

    def make_inputs():
        write_parquet(base, run.path("base.parquet"))
        for e, pdf in enumerate(epochs):
            write_parquet(pdf, run.path(f"epoch{e}.parquet"))
        for name, qs in sets.items():
            write_parquet(pd.DataFrame(qs, columns=["qid", "text"]),
                          run.path(f"{name}.parquet"))
    inputs_s = run.write_inputs(make_inputs)

    catalog = Catalog(run.path("catalog"))
    cfg = IndexConfig()
    single_rows: list = []       # ((qid, text), rows)
    batch_rows: list = []        # (query set, algo, rows)
    fresh_rows: list = []        # (epochs applied, rows)
    seg_probe: list = []         # (segments per bucket before, after) an epoch

    def batch(sp, name: str, algo: str, reader, into: list, tag) -> None:
        with tr.span(f"{sp.name}.plan"):
            df = search(reader, spark.read.parquet(run.path(f"{name}.parquet")),
                        SearchParams(k=BATCH_K, algo=algo))
        with tr.span(f"{sp.name}.exec"):
            into.append((tag, algo, df.collect()))

    t_start = time.perf_counter()

    def build(sp):
        info = build_index(spark, spark.read.parquet(run.path("base.parquet")),
                           catalog, cfg, input_fp=f"seed{run.seed}")
        sp.attrs["phases"] = info["phase_sec"]
    run.request(res, "build", build)
    # the base index's files, for the untimed BMW pruning replay
    base_files = {t: sorted(glob.glob(os.path.join(catalog.path(t), "**",
                                                   "*.parquet"),
                                      recursive=True))
                  for t in ("postings", "termstats")}
    reader = run.request(res, "reader",
                         lambda sp: IndexReader(spark, catalog).cache())

    def warm_up(sp):
        for algo in ("exact", "bmw"):
            search(reader, spark.read.parquet(run.path("warm.parquet")),
                   SearchParams(k=BATCH_K, algo=algo)).collect()
    warm_s = run.warm_up(warm_up)
    setup_s = run.session_s + inputs_s + warm_s

    next_single = 0

    def single(sp):
        qid, text = singles[next_single]
        with tr.span("query.plan"):
            df = search_fast(reader, [(qid, text)], SearchParams(k=SINGLE_K))
        with tr.span("query.exec"):
            single_rows.append(((qid, text), df.collect()))

    for qset in range(run.rounds):
        for name, algo in (("batch", "exact"), ("bmw", "bmw")):
            for _ in range(SINGLES_PER_BATCH):
                run.request(res, "query", single)
                next_single += 1
            run.request(res, name, lambda sp, a=algo, q=qset: batch(
                sp, f"batch{q}", a, reader, batch_rows, q), set=qset)

    # Retire the serving reader before the appends. Spark's cache manager
    # matches a later read of the same catalog tables to the frames that
    # IndexReader.cache() pinned, so while they stay cached every reopened
    # reader would serve the pre-append postings.
    if reader is not None:
        reader.postings.unpersist()
        reader.termstats.unpersist()
    for e in range(EPOCHS):
        def append(sp, e=e):
            append_pages_batch(spark,
                               spark.read.parquet(run.path(f"epoch{e}.parquet")),
                               catalog, cfg, epoch_tag=f"e{e}")
        before = _segments(catalog)
        run.request(res, "append", append, epoch=e)
        seg_probe.append((before, _segments(catalog)))

        def fresh(sp, e=e):
            with tr.span("fresh.open"):
                fresh_reader = IndexReader(spark, catalog)
            batch(sp, "fresh", "exact", fresh_reader, fresh_rows, e + 1)
        run.request(res, "fresh", fresh, epoch=e)
    loop_s = time.perf_counter() - t_start - warm_s

    # ---- checks (untimed)
    t_check = time.perf_counter()
    failed = set()
    ids = checks.url_docids(base["url"].tolist())
    idx = checks.oracle([(ids[u], t) for u, t in zip(base["url"], base["text"])])
    for n, (q, rows) in enumerate(single_rows):
        if checks.check_queries(idx, [q], rows, SINGLE_K):
            failed.add(("single", n))
    exact = {q: rows for q, algo, rows in batch_rows if algo == "exact"}
    for n, (q, algo, rows) in enumerate(batch_rows):
        if checks.check_queries(idx, sets[f"batch{q}"], rows, BATCH_K) or (
                algo == "bmw" and q in exact
                and checks.ranked(rows) != checks.ranked(exact[q])):
            failed.add(("batch", n))
    # after the appends: the doc count, then every post-epoch batch against
    # the oracle over base + appended pages, compared by url
    final = IndexReader(spark, catalog)
    if final.n_docs != INDEX_DOCS + EPOCH_DOCS * EPOCHS:
        failed.add(("n_docs", 0))
    docmap = {int(r["docid"]): r["url"] for r in final.docmap.collect()}
    texts = dict(zip(base["url"], base["text"]))
    applied = 0
    for n_applied, _, rows in fresh_rows:
        while applied < n_applied:
            pdf = epochs[applied]
            ids.update(checks.url_docids(pdf["url"].tolist(), base=len(ids)))
            texts.update(zip(pdf["url"], pdf["text"]))
            applied += 1
        idx = checks.oracle([(d, texts[u]) for u, d in ids.items()])
        url_of = {d: u for u, d in ids.items()}
        if checks.check_queries(idx, sets["fresh"], rows, BATCH_K,
                                got_key=docmap.get, want_key=url_of.get):
            failed.add(("fresh", n_applied))
    res.failed += len(failed)
    pruning = (_bmw_pruning(base_files, reader, [
        q for j in range(run.rounds) for q in sets[f"batch{j}"]])
        if reader is not None else {})
    check_s = time.perf_counter() - t_check
    res.report["failed_checks"] = sorted(map(list, failed))

    walls = {k: [tr.spans[i].wall for i in _spans(run, k)]
             for k in ("build", "query", "batch", "bmw", "append", "fresh")}
    reads = walls["batch"] + walls["bmw"] + walls["fresh"]
    appended = EPOCH_DOCS * EPOCHS
    text_bytes = gen.text_bytes(base) + sum(gen.text_bytes(p) for p in epochs)
    disk = _dir_bytes(catalog.root) / text_bytes
    res.report.update({
        "phases": {"loop_s": loop_s, "check_s": check_s},
        "workload": {**gen.describe_pages(base),
                     "single_queries": len(walls["query"]),
                     "batches_exact": len(walls["batch"]),
                     "batches_bmw": len(walls["bmw"]),
                     "query_term_repeat_share": gen.term_repeat_share(
                         [q for q, _ in single_rows]),
                     "epochs": EPOCHS, "epoch_docs": EPOCH_DOCS,
                     "batch_k": BATCH_K, **pruning},
        "metrics": {
            "build_docs_per_s": INDEX_DOCS / _median(walls["build"], inf),
            "query_p50_s": _median(walls["query"]),
            "batch_qps": BATCH_QUERIES / _median(walls["batch"], inf),
            "bmw_batch_qps": BATCH_QUERIES / _median(walls["bmw"], inf),
            "append_docs_per_s": appended / sum(walls["append"] or [inf]),
            "append_epoch_p50_s": _median(walls["append"]),
            "fresh_batch_qps": BATCH_QUERIES / _median(walls["fresh"], inf),
            "index_bytes_per_text_byte": disk}})
    res.e2e = {
        "setup_s": setup_s,
        "bulk_items_per_s": res.report["metrics"]["build_docs_per_s"],
        "latency_p50_s": _median(walls["query"]),
        "read_items_per_s": BATCH_QUERIES * len(reads) / sum(reads or [inf]),
        "append_p50_s": _median(walls["append"]),
        "disk_bytes_per_text_byte": disk}
    if tr.enabled:
        res.layers = _index_layers(run, catalog, base, single_rows, seg_probe)
        res.layers["bmw.blocks_skipped_share"] = pruning.get(
            "bmw_blocks_skipped_share", 0.0)
    return res


def _segments(catalog) -> dict[str, int]:
    """Epoch-tagged (appended) parquet files per postings bucket: the
    filesystem probe the engine's auto-compaction uses."""
    out = {}
    for d in glob.glob(os.path.join(catalog.path("postings"), "term_bucket=*")):
        out[os.path.basename(d)] = sum(
            1 for f in os.listdir(d) if f.endswith(".parquet") and "__" in f)
    return out


def _bmw_pruning(files: dict, reader, queries: list[tuple[str, str]]
                 ) -> dict:
    """Replay the engine's BMW kernel on the base index for ``queries`` at
    the batch k and count the blocks it decodes: the share of the query
    terms' blocks it skipped, and the (query, range) groups on which it
    stopped early. The kernel is the engine's own function; only its block
    decoder is wrapped, to count calls."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from text_retrieval_and_search_engines_spark.functions import codec
    from text_retrieval_and_search_engines_spark.functions.text import (
        term_freqs, tokenize)
    from text_retrieval_and_search_engines_spark.plans import bmw
    from text_retrieval_and_search_engines_spark.plans.query import \
        SearchParams

    qtf = {qid: term_freqs(tokenize(text)) for qid, text in queries}
    terms = sorted({t for tf in qtf.values() for t in tf})

    def read(table: str, cols: list[str]) -> pd.DataFrame:
        return pa.concat_tables(
            pq.read_table(f, columns=cols, filters=[("term", "in", terms)])
            for f in files[table]).to_pandas()
    meta = ["block_last", "block_max_tf", "block_min_dl", "goff", "toff",
            "doff"]
    post = read("postings", ["term", "range_id", "payload", *meta])
    ts = read("termstats", ["term", "df"])
    df = dict(zip(ts["term"], ts["df"]))
    p = SearchParams()
    decoded = []
    decode_block = codec.decode_block

    def counting(*a, **kw):
        decoded.append(1)
        return decode_block(*a, **kw)
    codec.decode_block = counting
    blocks = groups = pruned = 0
    try:
        for qid, tf in qtf.items():
            q = post[post["term"].isin(tf)].sort_values(["range_id", "term"])
            for rid, g in q.groupby("range_id"):
                rows = [{"weight": float(tf[r["term"]]), "df": df[r["term"]],
                         "n_qterms": len(tf), "payload": r["payload"],
                         **{c: np.asarray(r[c]) for c in meta}}
                        for r in g.to_dict("records")]
                n = sum(r["block_last"].size for r in rows)
                before = len(decoded)
                bmw.bmw_topk_rows(rows, int(rid) * reader.range_size,
                                  float(reader.n_docs), float(reader.avgdl),
                                  p.k1, p.b, BATCH_K, p.mode)
                blocks += n
                groups += 1
                pruned += len(decoded) - before < n
    finally:
        codec.decode_block = decode_block
    return {"bmw_blocks_skipped_share":
            1 - len(decoded) / blocks if blocks else 0.0,
            "bmw_groups": groups, "bmw_groups_pruned": pruned}


def _index_layers(run: Run, catalog, base, single_rows, seg_probe) -> dict:
    tr = run.tracer
    out = _build_layers(run, _spans(run, "build")[0])
    out.update(_tables_layers(run, catalog))
    out.update(_codec_layers(catalog))
    out.update(_text_layers(base))

    def med(spans, f):
        return _median(f(i) for i in spans)

    def tot(i):
        return tr.stage_totals(tr.descendants(i))

    def child_wall(i, name):
        return _wall(run, _child(run, i, name))

    q = _spans(run, "query")
    plans = [p for p in (_child(run, i, "query.plan") for i in q)
             if p is not None]
    out.update({
        "query.plan_s": med(q, lambda i: child_wall(i, "query.plan")),
        "query.exec_s": med(q, lambda i: child_wall(i, "query.exec")),
        "query.jobs": med(q, lambda i: tot(i)["jobs"]),
        "query.stages": med(q, lambda i: tot(i)["stages"]),
        "query.tasks": med(q, lambda i: tot(i)["tasks"]),
        "query.task_s": med(q, lambda i: tot(i)["task_s"]),
        "query.jvm_cpu_ms": 1e3 * med(q, lambda i: tr.spans[i].attrs["jvm_cpu_s"]),
        "query.py_cpu_ms": 1e3 * med(q, lambda i: tr.spans[i].attrs["py_cpu_s"]),
        "query.shuffle_kb": med(q, lambda i: (tot(i)["shuffle_read"]
                                              + tot(i)["shuffle_write"]) / 1e3),
        "query.driver_s": med(q, lambda i: tot(i)["driver_s"]),
        "query.df_lookup_jobs": (sum(tot(p)["jobs"] for p in plans)
                                 / max(len(plans), 1)),
        "query.term_repeat_share": gen.term_repeat_share(
            [qq for qq, _ in single_rows])})
    b, m = _spans(run, "batch"), _spans(run, "bmw")
    out.update({
        "batch.exec_s": med(b, lambda i: child_wall(i, "batch.exec")),
        "batch.tasks": med(b, lambda i: tot(i)["tasks"]),
        "batch.py_cpu_s": med(b, lambda i: tr.spans[i].attrs["py_cpu_s"]),
        "batch.shuffle_read_mb": med(b, lambda i: tot(i)["shuffle_read"] / 1e6),
        "bmw.exec_s": med(m, lambda i: child_wall(i, "bmw.exec")),
        "bmw.task_s": med(m, lambda i: tot(i)["task_s"]),
        "bmw.py_cpu_s": med(m, lambda i: tr.spans[i].attrs["py_cpu_s"])})
    # BMW / exact Python-worker CPU over the query sets both ran
    cpu = {k: {tr.spans[i].attrs["set"]: tr.spans[i].attrs["py_cpu_s"]
               for i in spans} for k, spans in (("exact", b), ("bmw", m))}
    common = set(cpu["exact"]) & set(cpu["bmw"])
    exact_cpu = sum(cpu["exact"][s] for s in common)
    out["bmw.py_cpu_ratio"] = (sum(cpu["bmw"][s] for s in common) / exact_cpu
                               if exact_cpu else 0.0)

    ap, fr = _spans(run, "append"), _spans(run, "fresh")
    compacted = [i for i, (bef, aft) in zip(ap, seg_probe)
                 if any(aft.get(k, 0) < v for k, v in bef.items())]
    ts_dir = catalog.path("termstats")
    out.update({
        "append.epoch_s": med(ap, lambda i: tr.spans[i].wall),
        "append.reader_open_s": med(fr, lambda i: child_wall(i, "fresh.open")),
        "append.compactions": len(compacted),
        "append.compact_epoch_s": med(compacted, lambda i: tr.spans[i].wall),
        "append.segments_max": max((max(aft.values(), default=0)
                                    for _, aft in seg_probe), default=0),
        "append.termstats_deltas": sum(
            1 for f in os.listdir(ts_dir)
            if f.endswith(".parquet") and "__" in f),
        "append.tasks": med(ap, lambda i: tot(i)["tasks"]),
        "append.jvm_cpu_s": med(ap, lambda i: tr.spans[i].attrs["jvm_cpu_s"]),
        "append.py_cpu_s": med(ap, lambda i: tr.spans[i].attrs["py_cpu_s"]),
        "append.driver_s": med(ap, lambda i: tot(i)["driver_s"]),
        "fresh.exec_s": med(fr, lambda i: child_wall(i, "fresh.exec")),
        "fresh.tasks": med(fr, lambda i: tot(i)["tasks"])})
    return out


# ------------------------------------------------------------------ curate

def curate(run: Run) -> Result:
    """Training-data curation: a timed ``curate_corpus(write_state=True)``
    over short pages with planted exact and near copies, then
    ``filter_appended_neardups`` micro-batches holding planted near copies
    of base docs; each batch advances the signature state.

    There is no warm-up: a tiny untimed ``curate_corpus`` cost about as
    much as the first-use compilation it saves and left the spread of the
    timed calls unchanged."""
    from text_retrieval_and_search_engines_spark.operators.curate import (
        NEARDUP_SIG_TABLE, curate_corpus, filter_appended_neardups)
    from text_retrieval_and_search_engines_spark.sources.tables import Catalog

    spark, tr, c = run.spark, run.tracer, run.corpus
    res = Result()
    docs, plants = c.curation_docs("curate", CURATE_DOCS)
    originals = docs.iloc[:CURATE_DOCS - sum(len(v) for v in plants.values())]
    n_batches = NEARDUP_BATCHES * run.rounds
    batches = [c.curation_docs(f"neardup{b}", NEARDUP_DOCS,
                               first_id=(b + 1) * 10**7, exact=0.0, near=0.1,
                               far=0.0, spam=0.0, sources=originals)
               for b in range(n_batches)]

    def make_inputs():
        write_parquet(docs, run.path("docs.parquet"))
        for b, (pdf, _) in enumerate(batches):
            write_parquet(pdf, run.path(f"neardup{b}.parquet"))
    inputs_s = run.write_inputs(make_inputs)

    setup_s = run.session_s + inputs_s

    catalog = Catalog(run.path("catalog"))
    out_path = run.path("curated.parquet")
    stats: dict = {}
    kept_by_batch: list = []     # (batch index, stats, kept ids)
    t_start = time.perf_counter()

    def curate_call(sp):
        _, st = curate_corpus(spark, spark.read.parquet(run.path("docs.parquet")),
                              catalog, write_state=True, out_path=out_path)
        stats.update(st)
    run.request(res, "curate", curate_call)

    for b in range(n_batches):
        def neardup(sp, b=b):
            kept, st = filter_appended_neardups(
                spark, spark.read.parquet(run.path(f"neardup{b}.parquet")),
                catalog, jaccard=JACCARD, max_loss=MAX_LOSS,
                update_state_tag=f"nb{b}")
            try:
                ids = {int(r["doc_id"]) for r in kept.select("doc_id").collect()}
            finally:
                kept.unpersist()
            kept_by_batch.append((b, st, ids))
        run.request(res, "neardup", neardup, batch=b)
    loop_s = time.perf_counter() - t_start
    t_check = time.perf_counter()

    # ---- checks (untimed)
    text = dict(zip(docs["doc_id"].tolist(), docs["text"].tolist()))
    kept_ids = set(pd.read_parquet(out_path, columns=["doc_id"])["doc_id"]
                   .tolist()) if os.path.exists(out_path) else set()
    dropped = set(text) - kept_ids
    drops = sum(v for k, v in stats.items() if k.startswith("dropped_"))
    decisions = checks.pair_decisions(
        plants["near"] + plants["far"], text, dropped, JACCARD, MAX_LOSS)
    curate_ok = (stats.get("rows_in") == CURATE_DOCS
                 and stats.get("rows_in") == stats.get("rows_out", -1) + drops
                 and stats.get("rows_out") == len(kept_ids)
                 and all(cp in dropped for _, cp in plants["exact"])
                 and decisions["ok"])
    res.failed += not curate_ok and bool(stats)
    batch_checks = []
    for bi, st, ids in kept_by_batch:
        pdf, bpl = batches[bi]
        btext = {**text, **dict(zip(pdf["doc_id"].tolist(),
                                    pdf["text"].tolist()))}
        d = checks.pair_decisions(bpl["near"], btext,
                                  set(pdf["doc_id"].tolist()) - ids,
                                  JACCARD, MAX_LOSS, live=kept_ids)
        ok = (st["batch_in"] == len(pdf) == st["kept"]
              + st["dropped_near_base"] + st["dropped_within_batch"]
              and st["kept"] == len(ids) and d["ok"])
        res.failed += not ok
        batch_checks.append(d)

    nd = [tr.spans[i].wall for i in _spans(run, "neardup")]
    cur = [tr.spans[i].wall for i in _spans(run, "curate")]
    check_s = time.perf_counter() - t_check
    res.report = {
        "phases": {"loop_s": loop_s, "check_s": check_s},
        "workload": {"docs": CURATE_DOCS, "text_bytes": gen.text_bytes(docs),
                     "tokens_per_doc": round(float(
                         docs["text"].str.count(" ").mean() + 1), 1),
                     "planted_exact": len(plants["exact"]),
                     "planted_near": len(plants["near"]),
                     "planted_far": len(plants["far"]),
                     "planted_spam": len(plants["spam"]),
                     "neardup_batches": len(kept_by_batch),
                     "neardup_batch_docs": NEARDUP_DOCS,
                     "neardup_planted_per_batch": len(batches[0][1]["near"])},
        "curate_stats": stats,
        "checks": {"curate_pairs": decisions, "batches": batch_checks},
        "metrics": {
            "curate_docs_per_s": CURATE_DOCS / cur[0] if cur else 0.0,
            "neardup_docs_per_s": NEARDUP_DOCS * len(nd) / sum(nd or [inf]),
            "neardup_batch_p50_s": _median(nd)}}
    res.e2e = {
        "setup_s": setup_s,
        "bulk_items_per_s": res.report["metrics"]["curate_docs_per_s"],
        "latency_p50_s": _median(nd),
        "read_items_per_s": res.report["metrics"]["neardup_docs_per_s"],
        "append_p50_s": _median(nd),
        "disk_bytes_per_text_byte": _dir_bytes(catalog.root)
        / gen.text_bytes(docs)}
    if tr.enabled:
        res.layers = _curate_layers(run, catalog, NEARDUP_SIG_TABLE)
    return res


def _curate_layers(run: Run, catalog, sig_table: str) -> dict:
    tr = run.tracer
    out = _tables_layers(run, catalog)
    cur = _spans(run, "curate")
    t = tr.stage_totals(tr.descendants(cur[0])) if cur else {}
    sp = tr.spans[cur[0]].attrs if cur else {}
    m = {(r["phase"], r["metric"]): int(r["value"])
         for r in catalog.read_table(run.spark, "metrics").collect()}
    coll = m.get(("curate_minhash_prefilter", "band_collisions_in"),
                 m.get(("curate_minhash_prefilter", "candidates_in"), 0))
    pref = coll - m.get(("curate_minhash_prefilter", "candidates_pruned"), 0)
    ver = m.get(("curate_minhash_verify", "pairs_verified"), 0)
    nd = _spans(run, "neardup")
    out.update({
        "curate.task_s": t.get("task_s", 0.0),
        "curate.jvm_cpu_s": sp.get("jvm_cpu_s", 0.0),
        "curate.py_cpu_s": sp.get("py_cpu_s", 0.0),
        "curate.shuffle_write_mb": t.get("shuffle_write", 0) / 1e6,
        "curate.spill_mb": t.get("spill", 0) / 1e6,
        "curate.driver_s": t.get("driver_s", 0.0),
        "dedup.band_collisions": coll,
        "dedup.prefiltered_pairs": pref,
        "dedup.verified_pairs": ver,
        "dedup.prefilter_keep_ratio": pref / coll if coll else 0.0,
        "dedup.verify_yield": ver / pref if pref else 0.0,
        "neardup.batch_s": _median(tr.spans[i].wall for i in nd),
        "neardup.state_rows": catalog.read_table(run.spark, sig_table).count(),
        "neardup.py_cpu_s": _median(tr.spans[i].attrs["py_cpu_s"] for i in nd)})
    return out


# ------------------------------------------------- layers shared by workloads

def _build_layers(run: Run, i: int) -> dict:
    tr = run.tracer
    sp = tr.spans[i]
    t = tr.stage_totals(tr.descendants(i))
    ph = sp.attrs.get("phases", {})
    return {"build.tokenize_s": ph.get("tokenize", 0.0),
            "build.postings_s": ph.get("postings", 0.0),
            "build.meta_s": ph.get("meta", 0.0),
            "build.task_s": t["task_s"],
            "build.jvm_cpu_s": sp.attrs["jvm_cpu_s"],
            "build.py_cpu_s": sp.attrs["py_cpu_s"],
            "build.shuffle_write_mb": t["shuffle_write"] / 1e6,
            "build.spill_mb": t["spill"] / 1e6,
            "build.driver_s": t["driver_s"]}


def _tables_layers(run: Run, catalog) -> dict:
    files = glob.glob(os.path.join(catalog.root, "**", "*.parquet"),
                      recursive=True)
    with open(os.path.join(catalog.root, "_snapshots.json")) as f:
        entries = len(json.load(f)["snapshots"])
    return {"tables.write_s": sum(s.wall for s in run.tracer.spans
                                  if s.name == "tables.write"),
            "tables.files": len(files),
            "tables.index_mb": _dir_bytes(catalog.root) / 1e6,
            "tables.manifest_entries": entries}


def _codec_layers(catalog) -> dict:
    """Decode, then re-encode, a fixed sample of the postings payloads of
    the run's index: CODEC_SAMPLE_ROWS rows spread evenly over the rows in
    (term, range) order."""
    import numpy as np
    import pyarrow.dataset as ds

    from text_retrieval_and_search_engines_spark.functions import codec
    from text_retrieval_and_search_engines_spark.plans.index_build import \
        IndexConfig
    tbl = ds.dataset(catalog.path("postings"), format="parquet",
                     partitioning="hive").to_table(
        columns=["term", "range_id", "payload"]).sort_by(
        [("term", "ascending"), ("range_id", "ascending")])
    step = max(1, tbl.num_rows // CODEC_SAMPLE_ROWS)
    tbl = tbl.take(np.arange(0, tbl.num_rows, step))
    starts = (np.asarray(tbl["range_id"].to_numpy(zero_copy_only=False))
              * IndexConfig().range_size).tolist()
    payloads = tbl["payload"].to_pylist()
    t0 = time.perf_counter()
    decoded = [codec.decode_postings(p, s) for p, s in zip(payloads, starts)]
    dec_s = time.perf_counter() - t0
    n = sum(d[0].size for d in decoded)
    t0 = time.perf_counter()
    for (d, tf, dl), s in zip(decoded, starts):
        codec.encode_chunk(d, tf, dl, s)
    enc_s = time.perf_counter() - t0
    return {"codec.decode_postings_per_s": n / dec_s if dec_s else 0.0,
            "codec.encode_postings_per_s": n / enc_s if enc_s else 0.0}


def _text_layers(pages: pd.DataFrame, sample: int = 300) -> dict:
    """``tokenize`` throughput over the first ``sample`` docs, after one
    warm pass (the stemmer memo is warm in a long-lived worker)."""
    from text_retrieval_and_search_engines_spark.functions.text import tokenize
    texts = pages["text"].head(sample).tolist()
    for t in texts:
        tokenize(t)
    t0 = time.perf_counter()
    n = sum(len(tokenize(t)) for t in texts)
    return {"text.tokens_per_s": n / (time.perf_counter() - t0)}


WORKLOADS = {"index": index, "curate": curate}
