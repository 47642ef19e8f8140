from __future__ import annotations

import pandas as pd

from text_retrieval_and_search_engines_spark.functions.porter import porter_stem
from text_retrieval_and_search_engines_spark.functions.text import (
    STOPWORDS, extract_text, extract_text_series, tokenize, tokenize_series)
from text_retrieval_and_search_engines_spark.sources.pages import synth_pages

# Golden vectors for the classic Porter algorithm (public test pairs from the
# algorithm definition paper).
PORTER_GOLDEN = {
    "caresses": "caress", "ponies": "poni", "ties": "ti", "caress": "caress",
    "cats": "cat", "feed": "feed", "agreed": "agre", "plastered": "plaster",
    "bled": "bled", "motoring": "motor", "sing": "sing", "conflated": "conflat",
    "troubled": "troubl", "sized": "size", "hopping": "hop", "tanned": "tan",
    "falling": "fall", "hissing": "hiss", "fizzed": "fizz", "failing": "fail",
    "filing": "file", "happy": "happi", "sky": "sky", "relational": "relat",
    "conditional": "condit", "rational": "ration", "valenci": "valenc",
    "hesitanci": "hesit", "digitizer": "digit", "conformabli": "conform",
    "radicalli": "radic", "differentli": "differ", "vileli": "vile",
    "analogousli": "analog", "vietnamization": "vietnam", "predication": "predic",
    "operator": "oper", "feudalism": "feudal", "decisiveness": "decis",
    "hopefulness": "hope", "callousness": "callous", "formaliti": "formal",
    "sensitiviti": "sensit", "sensibiliti": "sensibl", "triplicate": "triplic",
    "formative": "form", "formalize": "formal", "electriciti": "electr",
    "electrical": "electr", "hopeful": "hope", "goodness": "good",
    "revival": "reviv", "allowance": "allow", "inference": "infer",
    "airliner": "airlin", "gyroscopic": "gyroscop", "adjustable": "adjust",
    "defensible": "defens", "irritant": "irrit", "replacement": "replac",
    "adjustment": "adjust", "dependent": "depend", "adoption": "adopt",
    "homologou": "homolog", "communism": "commun", "activate": "activ",
    "angulariti": "angular", "homologous": "homolog", "effective": "effect",
    "bowdlerize": "bowdler", "probate": "probat", "rate": "rate",
    "cease": "ceas", "controll": "control", "roll": "roll",
}


def test_porter_golden_vectors():
    bad = {w: (porter_stem(w), want) for w, want in PORTER_GOLDEN.items()
           if porter_stem(w) != want}
    assert not bad, bad


def test_tokenize_stopwords_and_stemming():
    assert tokenize("The running dogs and THE cats") == ["run", "dog", "cat"]
    assert tokenize("") == []
    assert tokenize("the and of to") == []  # stopword-only
    assert tokenize("x1 42 foo-bar") == ["x1", "42", "foo", "bar"]


def test_tokenize_series_matches_scalar():
    texts = ["The running dogs", "", "café 中文 naïve", "a b c 123  multiple   spaces",
             "Optimization of national connections!"]
    got = tokenize_series(pd.Series(texts))
    assert list(got) == [tokenize(t) for t in texts]


def test_extract_series_matches_scalar_on_corpus():
    pdf = synth_pages(60, seed=42, vocab_size=300)
    vec = extract_text_series(pdf["html"])
    for html, v in zip(pdf["html"], vec):
        assert extract_text(html) == v  # byte-identical twins


def test_extract_rules():
    html = (b"<html><head><title>T1 tt</title><script>ignore<me></script>"
            b"</head><body><p>Hello &amp; world</p><p>B<br>c</p></body></html>")
    txt = extract_text(html)
    assert "ignore" not in txt
    assert "Hello & world" in txt
    assert "T1 tt" in txt
    assert "B\nc" in txt.replace("\n\n", "\n")


def test_pages_text_column_is_pinned_extraction():
    pdf = synth_pages(30, seed=42, vocab_size=200)
    for h, t in zip(pdf["html"], pdf["text"]):
        assert extract_text(h) == t


def test_stopword_set_is_lucene_default():
    assert len(STOPWORDS) == 33
    assert {"the", "and", "was", "will", "such"} <= STOPWORDS


def test_tokenize_docs_matches_scalar_twin(spark):
    """The tokenize_docs kernel must agree with the pinned scalar
    analyzer per doc: same token MULTISET {term: tf}, same dl (tokens
    after stop removal), zero-token docs keep a (dl=0, []) row."""
    from text_retrieval_and_search_engines_spark.functions.text import (
        term_freqs)
    from text_retrieval_and_search_engines_spark.plans.index_build import (
        tokenize_docs)

    texts = [
        "The running dogs and THE cats kept RUNNING fast",
        "x1 42 foo-bar foo--bar ... foo",
        "",
        "the and of to",                      # stopword-only -> dl 0
        None,
        "Ceci n'est PAS une pipe; cafés & naïve İstanbul",
        "aa " * 500 + "bb",                   # repetition-heavy
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "docid long, text string")

    for analyzer in ("english", "simple"):
        out = {r["docid"]: r for r in
               tokenize_docs(docs, analyzer).collect()}
        assert set(out) == set(range(len(texts)))   # every doc keeps a row
        for i, t in enumerate(texts):
            toks = tokenize("" if t is None else t,
                            stem=analyzer == "english",
                            stop=analyzer == "english")
            want = term_freqs(toks)
            got = dict(zip(out[i]["terms"], out[i]["tfs"]))
            assert got == want, (analyzer, i)
            assert out[i]["dl"] == len(toks), (analyzer, i)
