"""Pinned text analysis chain: HTML extraction + tokenization.

These pure functions are THE contract of the engine: the Spark Arrow UDFs and
the single-node pytest oracle call the exact same code, so extracted text is
byte-identical per url and token streams agree exactly (BASELINE.json
input_hint; reference analysis chain is Anserini's default English analyzer —
tokenize, lowercase, stopword removal, Porter stem — invoked implicitly at
reference ``final-project/src/bm25_retrieval.py:75,125``).

Vectorization: the extractor is a chain of pandas ``.str`` regex ops (no
per-row Python); the tokenizer lowercases/splits vectorized and stems through
a per-batch memo table (cost ~O(unique terms), not O(tokens)).
"""

from __future__ import annotations

import re
from functools import lru_cache

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from .porter import porter_stem

# Lucene/Anserini default English stopword set (public, 33 words).
STOPWORDS = frozenset(
    """a an and are as at be but by for if in into is it no not of on or such
    that the their then there these they this to was will with""".split()
)

# The simple word tokenizer: lowercase, split on [^a-z0-9]+, drop empties.
# ``findall`` of the token class gives the same words as the split form.
_TOKEN_RE = re.compile(r"[a-z0-9]+")
_SPLIT_RE = r"[^a-z0-9]+"

# --- extractor rule table (applied in order; shared by both twins) -----------
# Each entry: (compiled regex, replacement). Applied on the utf-8-decoded,
# lowercased-nothing (case-preserving) html string.
_EXTRACT_RULES: list[tuple[re.Pattern, str]] = [
    (re.compile(r"(?is)<script\b.*?</script>"), " "),
    (re.compile(r"(?is)<style\b.*?</style>"), " "),
    (re.compile(r"(?is)<!--.*?-->"), " "),
    (re.compile(r"(?i)</(?:p|div|title|h[1-6]|li|tr|table|ul|ol|blockquote)>"), "\n"),
    (re.compile(r"(?i)<br\s*/?>"), "\n"),
    (re.compile(r"(?s)<[^>]*>"), " "),
]
# Fixed entity map (pinned subset; applied after tag stripping).
_ENTITY_RULES: list[tuple[re.Pattern, str]] = [
    (re.compile(r"&nbsp;"), " "),
    (re.compile(r"&lt;"), "<"),
    (re.compile(r"&gt;"), ">"),
    (re.compile(r"&quot;"), '"'),
    (re.compile(r"&#39;"), "'"),
    (re.compile(r"&amp;"), "&"),
]
_WS_RUN = re.compile(r"[ \t\r\f\v]+")
_BLANK_LINES = re.compile(r"\n\s*\n+")


def extract_text(html: bytes | str) -> str:
    """html bytes -> extracted text. Pure-Python twin of the Arrow UDF."""
    s = html.decode("utf-8", errors="replace") if isinstance(html, (bytes, bytearray)) else html
    for pat, rep in _EXTRACT_RULES:
        s = pat.sub(rep, s)
    for pat, rep in _ENTITY_RULES:
        s = pat.sub(rep, s)
    s = _WS_RUN.sub(" ", s)
    s = "\n".join(line.strip() for line in s.split("\n"))
    s = _BLANK_LINES.sub("\n", s).strip()
    return s


def extract_text_series(html: pd.Series) -> pd.Series:
    """Vectorized twin: same rule table via pandas .str ops."""
    s = html.map(
        lambda b: b.decode("utf-8", errors="replace")
        if isinstance(b, (bytes, bytearray))
        else ("" if b is None else b)
    )
    for pat, rep in _EXTRACT_RULES:
        s = s.str.replace(pat, rep, regex=True)
    for pat, rep in _ENTITY_RULES:
        s = s.str.replace(pat, rep, regex=True)
    s = s.str.replace(_WS_RUN, " ", regex=True)
    s = s.str.split("\n").map(lambda ls: "\n".join(x.strip() for x in ls))
    s = s.str.replace(_BLANK_LINES, "\n", regex=True).str.strip()
    return s


@lru_cache(maxsize=1 << 20)
def _stem_cached(tok: str) -> str:
    return porter_stem(tok)


def simple_words(col: Column | str) -> Column:
    """The simple word tokenizer as a JVM expression: the token array of
    ``tokenize(text, stem=False, stop=False)``. Null text is an empty
    array (so ``size`` is 0 whatever ``spark.sql.ansi.enabled`` says)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(F.coalesce(c, F.lit(""))), _SPLIT_RE),
                    lambda w: w != "")


def simple_words_sql(expr: str = "text") -> str:
    """DuckDB twin of ``simple_words``. DuckDB lowercases U+0130 to a bare
    'i'; Java and Python give 'i' + U+0307 (Unicode's only unconditional
    special-case lowercase mapping), so it is mapped before ``lower``."""
    return (f"list_filter(string_split_regex(lower(replace("
            f"coalesce({expr}, ''), chr(304), 'i' || chr(775))), "
            f"'{_SPLIT_RE}'), w -> w != '')")


def tokenize(text: str | None, stem: bool = True,
             stop: bool = True) -> list[str]:
    """lowercase -> simple words -> stopword removal -> Porter stem."""
    toks = _TOKEN_RE.findall(text.lower()) if text else []
    if stop:
        toks = [t for t in toks if t not in STOPWORDS]
    if stem:
        toks = [_stem_cached(t) for t in toks]
    return toks


def tokenize_series(text: pd.Series, stem: bool = True, stop: bool = True) -> pd.Series:
    """Vectorized tokenizer: regex findall via .str, memoized stemming."""
    lowered = text.fillna("").str.lower()
    tok_lists = lowered.str.findall(_TOKEN_RE)
    if stop:
        tok_lists = tok_lists.map(lambda ts: [t for t in ts if t not in STOPWORDS])
    if stem:
        tok_lists = tok_lists.map(lambda ts: [_stem_cached(t) for t in ts])
    return tok_lists


def term_freqs(tokens: list[str]) -> dict[str, int]:
    """Token list -> {term: tf}. Pinned (insertion-order-free) counting."""
    tf: dict[str, int] = {}
    for t in tokens:
        tf[t] = tf.get(t, 0) + 1
    return tf
