from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from text_retrieval_and_search_engines_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", master=os.environ.get("SPARK_MASTER", "local[4]"),
                  shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_pages():
    """Deterministic 200-doc corpus (FIXTURES.md 'tiny')."""
    from text_retrieval_and_search_engines_spark.sources.pages import synth_pages
    return synth_pages(200, seed=42, vocab_size=500)


@pytest.fixture(scope="session")
def tiny_index(spark, tiny_pages, tmp_path_factory):
    """Built index over the tiny corpus + the matching oracle."""
    from text_retrieval_and_search_engines_spark.oracle.bm25_oracle import OracleIndex
    from text_retrieval_and_search_engines_spark.plans.index_build import (
        IndexConfig, build_index)
    from text_retrieval_and_search_engines_spark.plans.query import IndexReader
    from text_retrieval_and_search_engines_spark.sources.tables import Catalog

    root = str(tmp_path_factory.mktemp("catalog"))
    catalog = Catalog(root)
    cfg = IndexConfig(range_size=64, block=16)  # small so chunking is exercised
    pages_df = spark.createDataFrame(tiny_pages)
    build_index(spark, pages_df, catalog, cfg, input_fp="tiny200")
    reader = IndexReader(spark, catalog)

    en = tiny_pages[tiny_pages.lang == "en"].sort_values("url").reset_index(drop=True)
    oracle = OracleIndex.build(list(zip(range(len(en)), en["text"])))
    return reader, oracle, catalog, en


def _lsh_reference(new_sigs, base_sigs=None, bar=0, n_hashes=8, bands=4,
                   max_bucket=10_000):
    """Brute-force MinHash LSH pairs over collected signature frames: md5
    band keys of the first `n_hashes` components, the bucket cap on the
    capped side (base when given, else new), pairs agreeing on >= `bar`
    components. One-sided (no base): a < b; two-sided: new x base with
    a != b. Returns ({(a, b): matches}, drop report, {bucket: size} of
    the cap-surviving buckets)."""
    import hashlib
    from collections import defaultdict

    def collect(df):
        w = sum(c.startswith("mh_") for c in df.columns)
        return {r["doc_id"]: [r[f"mh_{j}"] for j in range(w)]
                for r in df.collect()}

    def buckets(sigs):
        rows, out = n_hashes // bands, defaultdict(list)
        for d, s in sigs.items():
            for b in range(bands):
                band = "|".join(map(str, s[b * rows:(b + 1) * rows]))
                out[(b, hashlib.md5(band.encode()).hexdigest())].append(d)
        return out

    new = collect(new_sigs)
    other = new if base_sigs is None else collect(base_sigs)
    capped = buckets(other)
    over = {k: v for k, v in capped.items() if 0 < max_bucket < len(v)}
    kept = {k: v for k, v in capped.items() if k not in over}
    report = {"dropped_buckets": len(over),
              "dropped_rows": sum(map(len, over.values())),
              "max_bucket": max(max_bucket, 0)}
    pairs = {}
    for k, ids in (kept if base_sigs is None else buckets(new)).items():
        for a in ids:
            for b in kept.get(k, ()):
                m = sum(x == y for x, y in zip(new[a], other[b]))
                if (a < b if base_sigs is None else a != b) and m >= bar:
                    pairs[(a, b)] = m
    return pairs, report, {k: len(v) for k, v in kept.items()}


@pytest.fixture(scope="session")
def lsh_reference():
    """The brute-force LSH reference the pair kernel is checked against."""
    return _lsh_reference
