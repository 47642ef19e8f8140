"""Seeded input generator for the benchmark workloads.

Every input is a pure function of the run seed, so the same seed gives the
same pages, queries and curation corpus. The generator is the benchmark's
own: it imports nothing from the engine package, so a change to the
package cannot change a workload's inputs.

Shapes:
* pages(url, html, text, lang): words drawn Zipf(1.07) from a fixed
  vocabulary of pseudo-words, except a TOPIC_SHARE drawn from the topic
  of the page's host; log-normal (heavy-tailed) lengths that sum to
  ``mean_tokens`` per doc; about ``non_ascii`` of the urls carry a
  non-ASCII path segment. ``html`` wraps ``text`` so the engine's
  extractor returns ``text`` unchanged.
* queries: 1-4 terms drawn from a Zipf distribution over the same
  vocabulary, so later queries repeat earlier terms; topical queries draw
  each query's terms from one host topic's words instead.
* curation docs(doc_id, text): short pages with planted exact copies,
  planted near copies (one word replaced, char-shingle Jaccard about 0.9),
  planted far variants (half the words replaced, Jaccard well below the
  near-dup threshold) and repetitive spam that the quality filter drops.
"""

from __future__ import annotations

import math
import zlib

import numpy as np
import pandas as pd

ZIPF_S = 1.07
QUERY_ZIPF_S = 1.7   # about half of a run's query terms repeat earlier ones
# Each host has a topic: TOPIC_SHARE of its pages' words come from the
# topic's own TOPIC_WORDS words, which lie outside the vocabulary's head
# and so are rare on other hosts. Docids follow url order and urls group
# by host, so docid ranges differ in their term statistics, as the sites
# of a web crawl do; this is what block-max pruning feeds on.
TOPIC_SHARE = 0.3
TOPIC_FIRST, TOPIC_WORDS = 200, 500
NON_ASCII_SEGMENTS = ("café", "straße", "新闻", "ñandú", "øre", "日本語",
                      "über", "naïve", "Ωmega", "привет")
ASCII_SEGMENTS = ("news", "blog", "wiki", "docs", "shop", "forum", "home",
                  "about", "media", "sport")
HOSTS = ("example.org", "example.com", "example.net", "sample.io")
VOCAB_SEED = 20_240_101
SHINGLE_K = 5   # the engine's char-shingle width (near-dup check recomputes)

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


class Corpus:
    """Vocabulary and term distribution shared by one run's inputs."""

    def __init__(self, seed: int, vocab_size: int = 20_000):
        self.seed = seed
        # the vocabulary is fixed; which words a doc or query draws is not
        rng = np.random.default_rng(VOCAB_SEED)
        words: list[str] = []
        seen: set[str] = set()
        while len(words) < vocab_size:
            lens = rng.integers(3, 11, size=vocab_size)
            for n in lens:
                w = "".join(rng.choice(_LETTERS, size=int(n)))
                if w not in seen:
                    seen.add(w)
                    words.append(w)
                    if len(words) == vocab_size:
                        break
        self.vocab = words
        self.cdf = _zipf_cdf(vocab_size, ZIPF_S)
        topical = np.arange(TOPIC_FIRST, TOPIC_FIRST
                            + TOPIC_WORDS * len(HOSTS))
        self.topic_words = [topical[t::len(HOSTS)] for t in range(len(HOSTS))]
        self.topic_cdf = _zipf_cdf(TOPIC_WORDS, ZIPF_S)
        self.query_cdf = _zipf_cdf(vocab_size, QUERY_ZIPF_S)
        self.topic_query_cdf = _zipf_cdf(TOPIC_WORDS, QUERY_ZIPF_S)

    def _draw(self, rng: np.random.Generator, n: int, cdf=None) -> np.ndarray:
        cdf = self.cdf if cdf is None else cdf
        return np.minimum(np.searchsorted(cdf, rng.random(n)), cdf.size - 1)

    def texts(self, rng: np.random.Generator, lengths: np.ndarray,
              topics: np.ndarray | None = None) -> list[str]:
        """Texts of the given lengths; with ``topics`` (one per text) a
        TOPIC_SHARE of each text's words come from its topic."""
        ids = self._draw(rng, int(lengths.sum()))
        if topics is not None:
            topic_of = np.repeat(topics, lengths)
            mine = rng.random(ids.size) < TOPIC_SHARE
            for t, words in enumerate(self.topic_words):
                sel = np.flatnonzero(mine & (topic_of == t))
                ids[sel] = words[self._draw(rng, sel.size, self.topic_cdf)]
        vocab = self.vocab
        out, pos = [], 0
        for n in lengths.tolist():
            out.append(" ".join([vocab[j] for j in ids[pos:pos + n].tolist()]))
            pos += n
        return out

    def pages(self, stream: str, n: int, mean_tokens: int = 335,
              non_ascii: float = 0.10) -> pd.DataFrame:
        """``n`` pages whose urls are unique within ``stream``."""
        rng = np.random.default_rng([self.seed, _stream_key(stream)])
        lengths = _lengths(rng, n, mean_tokens, 1.0, 5, 5000)
        hosts = rng.integers(0, len(HOSTS), n)
        texts = self.texts(rng, lengths, hosts)
        wide = rng.random(n) < non_ascii
        seg_a = rng.integers(0, len(ASCII_SEGMENTS), n)
        seg_u = rng.integers(0, len(NON_ASCII_SEGMENTS), n)
        urls = [f"https://{HOSTS[h]}/"
                f"{NON_ASCII_SEGMENTS[u] if w else ASCII_SEGMENTS[a]}/"
                f"{stream}-{i:07d}"
                for i, (h, w, a, u) in enumerate(zip(
                    hosts.tolist(), wide.tolist(), seg_a.tolist(),
                    seg_u.tolist()))]
        html = [f"<html><body><p>{t}</p></body></html>".encode()
                for t in texts]
        return pd.DataFrame({"url": urls, "html": html, "text": texts,
                             "lang": "en"})

    def queries(self, stream: str, n: int, topical: bool = False
                ) -> list[tuple[str, str]]:
        """``n`` (qid, text) queries of 1-4 terms, Zipf-drawn from the
        whole vocabulary or, with ``topical``, each query from the words
        of one topic."""
        rng = np.random.default_rng([self.seed, _stream_key(stream)])
        lens = rng.integers(1, 5, n)
        if topical:
            topics = np.repeat(rng.integers(0, len(HOSTS), n), lens)
            ranks = self._draw(rng, topics.size, self.topic_query_cdf)
            ids = np.array([self.topic_words[t][r] for t, r in
                            zip(topics.tolist(), ranks.tolist())], np.int64)
        else:
            ids = self._draw(rng, int(lens.sum()), self.query_cdf)
        out, pos = [], 0
        for q, k in enumerate(lens.tolist()):
            out.append((f"{stream}-{q:05d}",
                        " ".join(self.vocab[j] for j in ids[pos:pos + k])))
            pos += k
        return out

    def curation_docs(self, stream: str, n: int, first_id: int = 0,
                      mean_tokens: int = 60, exact: float = 0.02,
                      near: float = 0.05, far: float = 0.01,
                      spam: float = 0.01, sources: pd.DataFrame | None = None
                      ) -> tuple[pd.DataFrame, dict]:
        """``n`` (doc_id, text) docs: original docs plus planted copies.

        Copies always get a higher doc_id than their source, so the engine
        (which drops the higher id of a duplicate pair) drops the copy.
        With ``sources`` the near copies are made of those docs instead of
        this batch's originals (the near-copies-of-base batches).
        Returns (docs, plants): plants lists the (source_id, copy_id) pairs
        of each kind and the spam ids."""
        rng = np.random.default_rng([self.seed, _stream_key(stream)])
        n_exact = int(round(n * exact))
        n_near = int(round(n * near))
        n_far = int(round(n * far))
        n_spam = int(round(n * spam))
        n_orig = n - n_exact - n_near - n_far - n_spam
        lengths = _lengths(rng, n_orig, mean_tokens, 0.6, 12, 400)
        texts = self.texts(rng, lengths)
        ids = list(range(first_id, first_id + n_orig))
        pool = (sources if sources is not None
                else pd.DataFrame({"doc_id": ids, "text": texts}))
        # copy sources: docs long enough that one replaced word keeps the
        # shingle Jaccard far above the threshold
        long_ok = pool["text"].str.count(" ").to_numpy() >= 39
        cand = pool[long_ok]
        pick = rng.choice(len(cand), size=n_exact + n_near + n_far,
                          replace=False)
        src_ids = cand["doc_id"].to_numpy()[pick].tolist()
        src_txt = cand["text"].to_numpy()[pick].tolist()
        next_id = first_id + n_orig
        plants: dict = {"exact": [], "near": [], "far": [], "spam": []}
        for j, (sid, t) in enumerate(zip(src_ids, src_txt)):
            if j < n_exact:
                kind, new = "exact", t
            elif j < n_exact + n_near:
                kind, new = "near", self._mutate(rng, t, 1)
            else:
                kind = "far"
                new = self._mutate(rng, t, len(t.split()) // 2)
            ids.append(next_id)
            texts.append(new)
            plants[kind].append((int(sid), next_id))
            next_id += 1
        for _ in range(n_spam):
            w = self.vocab[int(rng.integers(0, 200))]
            v = self.vocab[int(rng.integers(0, 200))]
            ids.append(next_id)
            texts.append(" ".join([w, v] * 20))
            plants["spam"].append(next_id)
            next_id += 1
        return pd.DataFrame({"doc_id": np.array(ids, dtype=np.int64),
                             "text": texts}), plants

    def _mutate(self, rng: np.random.Generator, text: str, n_words: int
                ) -> str:
        words = text.split()
        pos = rng.choice(len(words), size=n_words, replace=False)
        fresh = self._draw(rng, n_words)
        for p, f in zip(pos.tolist(), fresh.tolist()):
            # the replacement word never occurs in the source, so the copy
            # always differs from it
            words[p] = self.vocab[f] + "q"
        return " ".join(words)


def shingle_jaccard(a: str, b: str, k: int = SHINGLE_K) -> float:
    """Char k-shingle Jaccard after the engine's dedup normalization
    (lowercase, whitespace runs collapsed, trimmed)."""
    sa, sb = _shingles(a, k), _shingles(b, k)
    return len(sa & sb) / len(sa | sb)


def _shingles(text: str, k: int) -> set[str]:
    t = " ".join(text.lower().split())
    if len(t) <= k:
        return {t}
    return {t[i:i + k] for i in range(len(t) - k + 1)}


def describe_pages(pdf: pd.DataFrame) -> dict:
    """Workload properties of a pages frame."""
    n = len(pdf)
    return {"docs": n,
            "text_bytes": text_bytes(pdf),
            "tokens_per_doc": round(
                float(pdf["text"].str.count(" ").sum() + n) / max(n, 1), 1),
            "non_ascii_url_share": round(
                float((~pdf["url"].map(str.isascii)).mean()), 4)}


def text_bytes(pdf: pd.DataFrame) -> int:
    return int(pdf["text"].map(lambda t: len(t.encode())).sum())


def term_repeat_share(queries: list[tuple[str, str]]) -> float:
    """Share of query terms already seen in an earlier query."""
    seen: set[str] = set()
    total = repeats = 0
    for _, text in queries:
        for t in text.split():
            total += 1
            repeats += t in seen
        seen.update(text.split())
    return repeats / total if total else 0.0


def _lengths(rng: np.random.Generator, n: int, mean: int, sigma: float,
             lo: int, hi: int) -> np.ndarray:
    """Log-normal doc lengths in [lo, hi], rescaled so that they sum to
    exactly ``n * mean``: the tail varies with the seed, the total work
    does not."""
    raw = rng.lognormal(math.log(mean) - sigma ** 2 / 2, sigma, n)
    lengths = np.clip(np.round(raw * (n * mean / raw.sum())), lo, hi
                      ).astype(np.int64)
    rest = n * mean - int(lengths.sum())
    order = np.argsort(-lengths) if rest < 0 else np.argsort(lengths)
    for i in order:                 # settle the rounding/clipping remainder
        if rest == 0:
            break
        step = max(lo - lengths[i], rest) if rest < 0 else \
            min(hi - lengths[i], rest)
        lengths[i] += step
        rest -= step
    return lengths


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    p = np.arange(1, n + 1, dtype=np.float64) ** (-s)
    return np.cumsum(p / p.sum())


def _stream_key(stream: str) -> int:
    return zlib.crc32(stream.encode())
