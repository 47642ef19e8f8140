"""Curation pipeline tests: planted junk corpus -> every drop reason
exercised, counts exact, metrics landed, survivors intact."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from text_retrieval_and_search_engines_spark.operators.curate import (
    CurateConfig, curate_corpus)
from text_retrieval_and_search_engines_spark.sources.tables import Catalog

GOOD = ("the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the afternoon sun")
GOOD2 = ("completely different content about spark engines and inverted "
         "indexes with postings lists and block max pruning for the win")


@pytest.fixture()
def planted(spark):
    rows = [
        (0, GOOD, "en", "s1"),
        (1, GOOD2, "en", "s1"),
        (2, "too short", "en", "s2"),                      # quality: n_words
        (3, "spam spam " * 40 + "spam", "en", "s2"),       # repetition
        (4, GOOD, "en", "s2"),                             # exact dup of 0
        (5, "  The QUICK   brown fox jumps over the lazy dog while the "
            "cat watches from the warm windowsill in the afternoon sun ",
         "en", "s2"),                                      # normalized dup of 0
        (6, GOOD2.replace("win", "ages"), "en", "s3"),     # near dup of 1
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string")


def test_curate_drops_every_reason_and_records_metrics(spark, planted,
                                                       tmp_path):
    cat = Catalog(str(tmp_path / "ccat"))
    curated, stats = curate_corpus(
        spark, planted, cat,
        CurateConfig(min_words=5, max_top_bigram_frac=0.3, jaccard=0.5,
                     max_bucket=0))
    ids = sorted(r["doc_id"] for r in curated.select("doc_id").collect())
    assert ids == [0, 1]
    assert stats == {"rows_in": 7, "dropped_quality": 2,
                     "dropped_contaminated": 0, "dropped_dup_spans": 0,
                     "dropped_exact_dup": 2, "dropped_near_dup": 1,
                     "rows_out": 2}
    # schema preserved, extra columns intact
    assert curated.columns == ["doc_id", "text", "lang", "source"]
    srcs = {r["doc_id"]: r["source"] for r in curated.collect()}
    assert srcs == {0: "s1", 1: "s1"}

    m = cat.read_table(spark, "metrics").collect()
    by = {(r["phase"], r["metric"]): r["value"] for r in m}
    assert by[("curate", "rows_in")] == 7
    assert by[("curate", "rows_out")] == 2
    assert by[("curate", "dropped_near_dup")] == 1
    # the LSH bucket-cap drop report landed too (cap disabled -> zeros)
    assert by[("curate_minhash_lsh", "dropped_rows")] == 0
    # ...and the estimate-prefilter report (candidates counted, bar +
    # calibrated loss bound recorded — no silent truncation)
    assert by[("curate_minhash_prefilter", "band_collisions_in")] >= \
        by[("curate_minhash_prefilter", "candidates_pruned")]
    assert by[("curate_minhash_prefilter", "min_matches")] == 8  # thr 0.5
    assert 0 < by[("curate_minhash_prefilter", "true_pair_loss_ppm")] <= 2000


def test_curate_near_none_and_simhash_modes(spark, planted, tmp_path):
    cat = Catalog(str(tmp_path / "ccat2"))
    _, stats = curate_corpus(
        spark, planted, cat, CurateConfig(near="none", max_bucket=0))
    assert stats["dropped_near_dup"] == 0
    assert stats["rows_out"] == 3          # near-dup of 1 survives

    _, st2 = curate_corpus(
        spark, planted, cat,
        CurateConfig(near="simhash", simhash_max_hamming=8, max_bucket=0))
    assert st2["rows_out"] <= 3            # simhash radius catches the pair

    with pytest.raises(ValueError):
        curate_corpus(spark, planted, cat, CurateConfig(near="bogus"))


def test_curate_shields_feature_name_collisions(spark, tmp_path):
    """An input column named like a computed feature (n_chars here, as in
    the driver's documents table) must pass through unchanged."""
    docs = spark.createDataFrame(
        [(0, GOOD, 999), (1, GOOD2, 123)],
        "doc_id long, text string, n_chars long")
    cat = Catalog(str(tmp_path / "ccat3"))
    curated, stats = curate_corpus(
        spark, docs, cat, CurateConfig(near="none", max_bucket=0))
    assert stats["rows_out"] == 2
    vals = {r["doc_id"]: r["n_chars"] for r in curated.collect()}
    assert vals == {0: 999, 1: 123}


def test_curate_feature_stage_is_shuffle_free(spark, planted):
    """PLANS.md claim: the quality+repetition feature stage CHAINS as
    narrow maps via keep= (no doc_id re-join) and the filters fold into
    the same map stage — the physical plan up to the flag column must
    contain NO Exchange."""
    from text_retrieval_and_search_engines_spark.operators import textstats
    feats = textstats.repetition_stats(
        textstats.quality_features(planted, keep=("text",)),
        text_col="text", keep=("text", "quality_score"))
    flagged = feats.select(
        "doc_id", "text",
        ((F.col("quality_score") >= 0.4) & (F.col("n_words") >= 5)
         & (F.col("top_bigram_frac") <= 0.3)).alias("_qual_ok"))
    plan = flagged._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_curate_writes_out_path(spark, planted, tmp_path):
    cat = Catalog(str(tmp_path / "ccat4"))
    out = str(tmp_path / "curated.parquet")
    _, stats = curate_corpus(
        spark, planted, cat, CurateConfig(near="none", max_bucket=0),
        out_path=out)
    back = spark.read.parquet(out)
    assert back.count() == stats["rows_out"]
    assert set(back.columns) == {"doc_id", "text", "lang", "source"}


EVAL_TEXT = ("which query planner rewrites a broadcast join into a "
             "shuffled hash join when the dimension table exceeds the "
             "configured threshold during adaptive execution")


def test_curate_optional_stages_redact_decontam_dupspan(spark, tmp_path):
    cat = Catalog(str(tmp_path / "ccat5"))
    boiler = ("all rights reserved copyright notice site map terms of "
              "service privacy policy contact us about this website here")
    rows = [
        (0, GOOD + " email me at bob@example.org please", "en", "s1"),
        (1, GOOD2, "en", "s1"),
        # benchmark leak: contains the eval doc's text verbatim
        (2, "as the eval set says " + EVAL_TEXT + " end of page",
         "en", "s2"),
        # boilerplate-heavy: two pages sharing a long tail -> dup spans
        (3, "page variant one mentions databases briefly then " + boiler,
         "en", "s3"),
        (4, "page variant two mentions compilers briefly then " + boiler,
         "en", "s3"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string")
    bench = spark.createDataFrame([(100, EVAL_TEXT)],
                                  "doc_id long, text string")
    curated, stats = curate_corpus(
        spark, docs, cat,
        CurateConfig(near="none", max_bucket=0, redact_pii=True,
                     max_dup_frac=0.4, dup_span_ngram=8, decontam_ngram=13),
        bench=bench)
    ids = sorted(r["doc_id"] for r in curated.select("doc_id").collect())
    assert ids == [0, 1]
    assert stats["dropped_contaminated"] == 1      # doc 2
    assert stats["dropped_dup_spans"] == 2         # docs 3 and 4
    assert stats["rows_in"] == stats["rows_out"] + sum(
        v for k, v in stats.items() if k.startswith("dropped_"))
    texts = {r["doc_id"]: r["text"] for r in curated.collect()}
    assert "<EMAIL>" in texts[0] and "bob@" not in texts[0]
    m = cat.read_table(spark, "metrics").collect()
    by = {(r["phase"], r["metric"]): r["value"] for r in m}
    assert by[("curate", "dropped_contaminated")] == 1
    assert by[("curate", "dropped_dup_spans")] == 2


def test_lsh_prefiltered_pairs_kernel_matches_join(spark, lsh_reference):
    """The Arrow bucket-walk kernel produces exactly the prefiltered pair
    set and cap-surviving bucket sizes of the brute-force reference (same
    band keys, same integer match bar, in pure Python)."""
    import random

    from text_retrieval_and_search_engines_spark.operators import dedup

    rng = random.Random(7)
    width = dedup.PREFILTER_N
    rows = []
    # 20 clusters of 3 near-identical signatures (band-colliding) + 40
    # singletons; within clusters vary the agreement so the bar both
    # passes and fails
    for c in range(20):
        base = [rng.getrandbits(40) for _ in range(width)]
        for m in range(3):
            sig = list(base)
            n_flip = [0, width - dedup.prefilter_min_matches(0.8, width),
                      width - 8][m]          # 0 / at-bar / below-bar
            for j in rng.sample(range(8, width), n_flip):
                sig[j] = rng.getrandbits(40)
            rows.append((c * 3 + m, *sig))
    for s in range(40):
        rows.append((1000 + s, *[rng.getrandbits(40) for _ in range(width)]))
    schema = "doc_id long, " + ", ".join(f"mh_{j} long"
                                         for j in range(width))
    sigs = spark.createDataFrame(rows, schema)
    bar = dedup.prefilter_min_matches(0.8, width)

    pairs, sizes = dedup.minhash_lsh_prefiltered_pairs(sigs, min_matches=bar)
    want, _, want_sizes = lsh_reference(sigs, bar=bar)
    got = sorted((r["doc_a"], r["doc_b"]) for r in pairs.collect())
    assert got == sorted(want)
    assert sorted((r["band_id"], r["band_key"], r["bucket_n"])
                  for r in sizes.collect()) == \
        sorted((b, k, n) for (b, k), n in want_sizes.items())
    assert len(got) >= 20      # the tight clusters survive
    assert len(got) < 60       # the below-bar members are pruned


def test_lsh_prefiltered_pairs_kernel_string_ids(spark, lsh_reference):
    """String doc ids (the curate-by-url path): pair set and orientation
    (a < b in UTF-8 byte order — orientation picks the DROPPED doc) match
    the reference's Python string order."""
    import random

    from text_retrieval_and_search_engines_spark.operators import dedup

    rng = random.Random(11)
    width = dedup.PREFILTER_N
    rows = []
    for c in range(12):
        base = [rng.getrandbits(40) for _ in range(width)]
        # url and its longer '?near' twin: prefix ordering must hold
        rows.append((f"https://x/{c:04d}", *base))
        rows.append((f"https://x/{c:04d}?near", *base))
    schema = ("doc_id string, "
              + ", ".join(f"mh_{j} long" for j in range(width)))
    sigs = spark.createDataFrame(rows, schema)
    bar = dedup.prefilter_min_matches(0.8, width)
    pairs, _ = dedup.minhash_lsh_prefiltered_pairs(sigs, min_matches=bar)
    got = sorted((r["doc_a"], r["doc_b"]) for r in pairs.collect())
    assert got == sorted(lsh_reference(sigs, bar=bar)[0])
    assert len(got) == 12
    assert all(a < b for a, b in got)


def test_vs_base_kernel_matches_join(spark, lsh_reference):
    """The two-sided (new x base) walk produces exactly the reference's
    (doc_a, doc_b, est_matches) set, string ids included (the append
    path's url keys), with the base-side cap report."""
    import random

    from text_retrieval_and_search_engines_spark.operators import dedup

    rng = random.Random(5)
    width = dedup.PREFILTER_N

    def sig_rows(prefix, n, bases):
        rows = []
        for i in range(n):
            if i < len(bases):           # near-dup of base i: high overlap
                sig = list(bases[i])
                for j in rng.sample(range(8, width), 6):
                    sig[j] = rng.getrandbits(40)
            else:
                sig = [rng.getrandbits(40) for _ in range(width)]
            rows.append((f"{prefix}{i:05d}", *sig))
        return rows

    base_sigs_py = [[rng.getrandbits(40) for _ in range(width)]
                    for _ in range(15)]
    schema = ("doc_id string, "
              + ", ".join(f"mh_{j} long" for j in range(width)))
    base = spark.createDataFrame(
        [(f"base{i:05d}", *s) for i, s in enumerate(base_sigs_py)]
        + sig_rows("basex", 25, []), schema)
    new = spark.createDataFrame(sig_rows("new", 30, base_sigs_py[:10]),
                                schema)
    bar = dedup.prefilter_min_matches(0.8, width)
    report: dict = {}
    df = dedup.minhash_neardup_vs_base(new, base, min_matches=bar,
                                       drop_report=report)
    got = sorted((r["doc_a"], r["doc_b"], r["est_matches"])
                 for r in df.collect())
    want, want_report, _ = lsh_reference(new, base, bar=bar)
    assert got == sorted((a, b, m) for (a, b), m in want.items())
    assert report == want_report
    assert len(got) >= 8       # the planted near-dups matched


# non-ASCII ids: Latin-1 accent, CJK, emoji (1-, 3- and 4-byte UTF-8)
UTF8_URLS = ["https://x/café", "https://x/日本語", "https://x/🦊"]


def _utf8_sig_frames(spark, width):
    """Base frame of the UTF8_URLS (+ an ASCII url) and a new frame of
    '?near' twins sharing every component, so each url pairs."""
    import random
    rng = random.Random(3)
    base = [(u, *[rng.getrandbits(40) for _ in range(width)])
            for u in UTF8_URLS + ["https://x/plain"]]
    schema = ("doc_id string, "
              + ", ".join(f"mh_{j} long" for j in range(width)))
    new = [(r[0] + "?near", *r[1:]) for r in base]
    return (spark.createDataFrame(base, schema),
            spark.createDataFrame(new, schema))


def test_lsh_prefiltered_pairs_non_ascii_string_ids(spark, lsh_reference):
    """Non-ASCII string ids travel through the kernel as UTF-8 bytes
    (a fixed-width ASCII encoding raised UnicodeEncodeError) and come
    back as the same strings, oriented by code-point order."""
    from text_retrieval_and_search_engines_spark.operators import dedup

    base, new = _utf8_sig_frames(spark, dedup.PREFILTER_N)
    sigs = base.unionByName(new)
    bar = dedup.prefilter_min_matches(0.8, dedup.PREFILTER_N)
    pairs, _ = dedup.minhash_lsh_prefiltered_pairs(sigs, min_matches=bar)
    got = sorted((r["doc_a"], r["doc_b"]) for r in pairs.collect())
    assert got == sorted(lsh_reference(sigs, bar=bar)[0])
    assert {(u, u + "?near") for u in UTF8_URLS} <= set(got)


def test_vs_base_non_ascii_string_ids(spark, lsh_reference):
    """The two-sided walk carries non-ASCII url ids on both sides."""
    from text_retrieval_and_search_engines_spark.operators import dedup

    base, new = _utf8_sig_frames(spark, dedup.PREFILTER_N)
    got = {(r["doc_a"], r["doc_b"]): r["est_matches"]
           for r in dedup.minhash_neardup_vs_base(new, base).collect()}
    bar = dedup.prefilter_min_matches(0.8, dedup.PREFILTER_N)
    assert got == lsh_reference(new, base, bar=bar)[0]
    assert got[("https://x/🦊?near", "https://x/🦊")] == dedup.PREFILTER_N


def test_lsh_pairs_reject_unsupported_id_types(spark):
    """The kernel carries int, long and string ids only: another id type,
    or a string/number mix between new and base, raises TypeError naming
    the types instead of switching algorithm; int vs long widens."""
    from text_retrieval_and_search_engines_spark.operators import dedup

    cols = ", ".join(f"mh_{j} long" for j in range(8))
    row = tuple(range(8))
    dbl = spark.createDataFrame([(1.0, *row)], f"doc_id double, {cols}")
    with pytest.raises(TypeError, match="double"):
        dedup.minhash_lsh_prefiltered_pairs(dbl, min_matches=0)
    strs = spark.createDataFrame([("a", *row)], f"doc_id string, {cols}")
    longs = spark.createDataFrame([(1, *row)], f"doc_id long, {cols}")
    with pytest.raises(TypeError, match="string vs bigint"):
        dedup.minhash_neardup_vs_base(strs, longs)
    ints = spark.createDataFrame([(2, *row)], f"doc_id int, {cols}")
    pairs = dedup.minhash_neardup_vs_base(ints, longs)
    assert pairs.schema["doc_a"].dataType.simpleString() == "bigint"
    assert [(r["doc_a"], r["doc_b"]) for r in pairs.collect()] == [(2, 1)]


@settings(max_examples=10, deadline=None)
@given(data=st.data())
def test_lsh_pair_kernel_matches_reference_property(spark, lsh_reference,
                                                    data):
    """Random signatures (small value alphabet, so bands collide), long or
    non-ASCII string ids, a random bar and a random cap: both walk modes
    equal the brute-force reference, drop reports included."""
    from text_retrieval_and_search_engines_spark.operators import dedup

    width = 6
    string_ids = data.draw(st.booleans(), label="string_ids")
    ids = data.draw(st.lists(
        st.text(alphabet="aé日🦊", min_size=1, max_size=3) if string_ids
        else st.integers(-2**40, 2**40), min_size=2, max_size=14,
        unique=True), label="ids")
    sig = st.lists(st.integers(0, 2), min_size=width, max_size=width)
    rows = [(i, *data.draw(sig)) for i in ids]
    bar = data.draw(st.integers(0, width), label="bar")
    max_bucket = data.draw(st.integers(0, 6), label="max_bucket")
    # new = rows[:split], base = rows[lo:]: overlapping ids exercise a != b
    split = data.draw(st.integers(1, len(rows) - 1), label="split")
    lo = data.draw(st.integers(0, split), label="lo")
    schema = (f"doc_id {'string' if string_ids else 'long'}, "
              + ", ".join(f"mh_{j} long" for j in range(width)))
    sigs = spark.createDataFrame(rows, schema)
    new = spark.createDataFrame(rows[:split], schema)
    base = spark.createDataFrame(rows[lo:], schema)

    rep: dict = {}
    pairs, _ = dedup.minhash_lsh_prefiltered_pairs(
        sigs, bar, n_hashes=4, bands=2, max_bucket=max_bucket,
        drop_report=rep)
    want, want_rep, _ = lsh_reference(sigs, bar=bar, n_hashes=4, bands=2,
                                      max_bucket=max_bucket)
    assert sorted(tuple(r) for r in pairs.collect()) == sorted(want)
    assert rep == want_rep

    rep2: dict = {}
    vs = dedup.minhash_neardup_vs_base(
        new, base, n_hashes=4, bands=2, min_matches=bar,
        max_bucket=max_bucket, drop_report=rep2)
    want2, want_rep2, _ = lsh_reference(new, base, bar=bar, n_hashes=4,
                                        bands=2, max_bucket=max_bucket)
    assert sorted(tuple(r) for r in vs.collect()) == \
        sorted((a, b, m) for (a, b), m in want2.items())
    assert rep2 == want_rep2
