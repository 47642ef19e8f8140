"""Metric catalogue: every metric the benchmark reports, with its unit,
direction, the engine layer it belongs to and the end-to-end metric it
should move. ``BENCHMARK.json`` at the repository root is generated from
this file:

    python3 perfbench/metrics.py > BENCHMARK.json

and ``run.py`` refuses to run when the two disagree.
"""

from __future__ import annotations

import json

RUN_SECONDS = 10   # one serving round per 10 s (workloads.SECONDS_PER_ROUND)

WORKLOADS = [
    ("index", "build_index, then single/exact/BMW queries on a cached reader, "
              "then append epochs each read back uncached: text, index_build, "
              "tables, query, bmw, codec, incremental"),
    ("curate", "curate_corpus with planted exact and near copies, then "
               "filter_appended_neardups batches: textstats, dedup and curate; "
               "the index and query layers are bypassed"),
]

# name, unit, better, bound, meaning (index | curate)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25,
     "session start + input generation (median of 3 generations) + "
     "untimed warm-up batches after the build | the same, no warm-up"),
    ("bulk_items_per_s", "items/s", "higher", 0.25,
     "one-shot bulk call: build_index docs/s | curate_corpus docs/s"),
    ("latency_p50_s", "s", "lower", 0.25,
     "median of the smallest interactive request: single search_fast query "
     "(k=10) | filter_appended_neardups micro-batch"),
    ("read_items_per_s", "items/s", "higher", 0.25,
     "50-query batches (exact, BMW and post-epoch with reader reopen), "
     "queries per second of batch wall | near-dup batch docs/s"),
    ("append_p50_s", "s", "lower", 0.25,
     "median incremental write: append_pages_batch epoch | "
     "filter_appended_neardups micro-batch (advances the state)"),
    ("disk_bytes_per_text_byte", "ratio", "lower", 0.1,
     "catalog bytes on disk after the loop / input text bytes"),
]

# name, unit, better, layer (module), end-to-end metric it should move
PER_LAYER = [
    ("session.start_s", "s", "lower", "session", "setup_s"),
    ("text.tokens_per_s", "tokens/s", "higher", "functions.text",
     "bulk_items_per_s"),
    ("codec.encode_postings_per_s", "postings/s", "higher", "functions.codec",
     "bulk_items_per_s"),
    ("codec.decode_postings_per_s", "postings/s", "higher", "functions.codec",
     "read_items_per_s"),
    ("build.tokenize_s", "s", "lower", "plans.index_build", "bulk_items_per_s"),
    ("build.postings_s", "s", "lower", "plans.index_build", "bulk_items_per_s"),
    ("build.meta_s", "s", "lower", "plans.index_build", "bulk_items_per_s"),
    ("build.task_s", "s", "lower", "plans.index_build", "bulk_items_per_s"),
    ("build.jvm_cpu_s", "s", "lower", "plans.index_build", "bulk_items_per_s"),
    ("build.py_cpu_s", "s", "lower", "plans.index_build", "bulk_items_per_s"),
    ("build.shuffle_write_mb", "MB", "lower", "plans.index_build",
     "bulk_items_per_s"),
    ("build.spill_mb", "MB", "lower", "plans.index_build", "bulk_items_per_s"),
    ("build.driver_s", "s", "lower", "plans.index_build", "bulk_items_per_s"),
    ("tables.write_s", "s", "lower", "sources.tables", "latency_p50_s"),
    ("tables.files", "count", "lower", "sources.tables",
     "disk_bytes_per_text_byte"),
    ("tables.index_mb", "MB", "lower", "sources.tables",
     "disk_bytes_per_text_byte"),
    ("tables.manifest_entries", "count", "lower", "sources.tables",
     "latency_p50_s"),
    ("query.plan_s", "s", "lower", "plans.query", "latency_p50_s"),
    ("query.exec_s", "s", "lower", "plans.query", "latency_p50_s"),
    ("query.jobs", "count", "lower", "plans.query", "latency_p50_s"),
    ("query.stages", "count", "lower", "plans.query", "latency_p50_s"),
    ("query.tasks", "count", "lower", "plans.query", "latency_p50_s"),
    ("query.task_s", "s", "lower", "plans.query", "latency_p50_s"),
    ("query.jvm_cpu_ms", "ms", "lower", "plans.query", "latency_p50_s"),
    ("query.py_cpu_ms", "ms", "lower", "plans.query", "latency_p50_s"),
    ("query.shuffle_kb", "kB", "lower", "plans.query", "latency_p50_s"),
    ("query.driver_s", "s", "lower", "plans.query", "latency_p50_s"),
    ("query.df_lookup_jobs", "count", "lower", "plans.query", "latency_p50_s"),
    ("query.term_repeat_share", "ratio", "higher", "plans.query",
     "latency_p50_s"),
    ("batch.exec_s", "s", "lower", "plans.query", "bulk_items_per_s"),
    ("batch.tasks", "count", "lower", "plans.query", "bulk_items_per_s"),
    ("batch.py_cpu_s", "s", "lower", "plans.query", "bulk_items_per_s"),
    ("batch.shuffle_read_mb", "MB", "lower", "plans.query", "bulk_items_per_s"),
    ("bmw.exec_s", "s", "lower", "plans.bmw", "read_items_per_s"),
    ("bmw.task_s", "s", "lower", "plans.bmw", "read_items_per_s"),
    ("bmw.py_cpu_s", "s", "lower", "plans.bmw", "read_items_per_s"),
    ("bmw.py_cpu_ratio", "ratio", "lower", "plans.bmw", "read_items_per_s"),
    ("bmw.blocks_skipped_share", "ratio", "higher", "plans.bmw",
     "read_items_per_s"),
    ("append.epoch_s", "s", "lower", "streaming.incremental", "latency_p50_s"),
    ("append.reader_open_s", "s", "lower", "streaming.incremental",
     "read_items_per_s"),
    ("append.compactions", "count", "lower", "streaming.incremental",
     "latency_p50_s"),
    ("append.compact_epoch_s", "s", "lower", "streaming.incremental",
     "latency_p50_s"),
    ("append.segments_max", "count", "lower", "streaming.incremental",
     "read_items_per_s"),
    ("append.termstats_deltas", "count", "lower", "streaming.incremental",
     "read_items_per_s"),
    ("append.tasks", "count", "lower", "streaming.incremental",
     "latency_p50_s"),
    ("append.jvm_cpu_s", "s", "lower", "streaming.incremental",
     "latency_p50_s"),
    ("append.py_cpu_s", "s", "lower", "streaming.incremental",
     "latency_p50_s"),
    ("append.driver_s", "s", "lower", "streaming.incremental",
     "latency_p50_s"),
    ("fresh.exec_s", "s", "lower", "plans.query", "read_items_per_s"),
    ("fresh.tasks", "count", "lower", "plans.query", "read_items_per_s"),
    ("curate.task_s", "s", "lower", "operators.curate", "bulk_items_per_s"),
    ("curate.jvm_cpu_s", "s", "lower", "operators.curate", "bulk_items_per_s"),
    ("curate.py_cpu_s", "s", "lower", "operators.curate", "bulk_items_per_s"),
    ("curate.shuffle_write_mb", "MB", "lower", "operators.curate",
     "bulk_items_per_s"),
    ("curate.spill_mb", "MB", "lower", "operators.curate", "bulk_items_per_s"),
    ("curate.driver_s", "s", "lower", "operators.curate", "bulk_items_per_s"),
    ("dedup.band_collisions", "count", "lower", "operators.dedup",
     "bulk_items_per_s"),
    ("dedup.prefiltered_pairs", "count", "lower", "operators.dedup",
     "bulk_items_per_s"),
    ("dedup.verified_pairs", "count", "higher", "operators.dedup",
     "bulk_items_per_s"),
    ("dedup.prefilter_keep_ratio", "ratio", "lower", "operators.dedup",
     "bulk_items_per_s"),
    ("dedup.verify_yield", "ratio", "higher", "operators.dedup",
     "bulk_items_per_s"),
    ("neardup.batch_s", "s", "lower", "operators.curate", "latency_p50_s"),
    ("neardup.state_rows", "count", "lower", "operators.curate",
     "read_items_per_s"),
    ("neardup.py_cpu_s", "s", "lower", "operators.dedup", "latency_p50_s"),
]


def manifest() -> dict:
    """The BENCHMARK.json document."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bd}
                       for n, u, b, bd, _ in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b}
                      for n, u, b, _, _ in PER_LAYER],
    }


if __name__ == "__main__":
    print(json.dumps(manifest(), indent=2))
