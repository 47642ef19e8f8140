"""Output checks. They run after the timed phase, never inside it.

* index-workload query results are compared with the package's pure-Python
  BM25 oracle built over the same documents: the same docids in the same
  rank order and the same scores (relative tolerance 1e-9).
* curation drop counts must add up, every planted exact copy must be
  dropped, and each planted near or far pair must be decided the way its
  recomputed char-shingle Jaccard says, up to the misses the operator's
  LSH banding and its stated estimate loss bound allow.
"""

from __future__ import annotations

import math

from gen import shingle_jaccard

SCORE_RTOL = 1e-9
LSH_HASHES, LSH_BANDS = 8, 4      # the engine's default banding signature
MISS_TAIL = 1e-6                  # allowed-miss count: binomial tail bound


def url_docids(urls: list[str], base: int = 0) -> dict[str, int]:
    """The engine's docid assignment: ``base`` + rank of the url in
    UTF-8 byte order (Python code-point order is the same order)."""
    return {u: base + i for i, u in enumerate(sorted(urls))}


def oracle(docs: list[tuple[int, str]]):
    from text_retrieval_and_search_engines_spark.oracle.bm25_oracle import \
        OracleIndex
    return OracleIndex.build(docs)


def ranked(rows) -> dict[str, list[tuple[int, float]]]:
    """Engine rows (qid, docid, score, rank) -> {qid: [(docid, score)]}."""
    out: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r["qid"], r["rank"])):
        out.setdefault(r["qid"], []).append((int(r["docid"]),
                                             float(r["score"])))
    return out


def same_ranking(got: list[tuple], want: list[tuple]) -> bool:
    return (len(got) == len(want)
            and all(g[0] == w[0] for g, w in zip(got, want))
            and all(math.isclose(g[1], w[1], rel_tol=SCORE_RTOL,
                                 abs_tol=SCORE_RTOL)
                    for g, w in zip(got, want)))


def check_queries(idx, queries: list[tuple[str, str]], rows, k: int,
                  got_key=None, want_key=None) -> int:
    """Number of queries whose engine top-k differs from the oracle's.
    ``got_key``/``want_key`` map engine/oracle docids to the compared
    identity (e.g. both to urls); by default docids are compared."""
    got = ranked(rows)
    bad = 0
    for qid, text in queries:
        want = [(d if want_key is None else want_key(d), s)
                for d, s in idx.search(text, k=k)]
        mine = [(d if got_key is None else got_key(d), s)
                for d, s in got.get(qid, [])]
        bad += not same_ranking(mine, want)
    return bad


def band_miss(j: float) -> float:
    """Probability that banded LSH never collides a pair of Jaccard j."""
    rows = LSH_HASHES // LSH_BANDS
    return (1.0 - j ** rows) ** LSH_BANDS


def miss_allowance(n: int, p: float) -> int:
    """Smallest m with P(Binomial(n, p) > m) <= MISS_TAIL."""
    p = min(max(p, 0.0), 1.0)
    cdf, m = 0.0, 0
    while m <= n:
        cdf += math.comb(n, m) * p ** m * (1 - p) ** (n - m)
        if 1.0 - cdf <= MISS_TAIL:
            return m
        m += 1
    return n


def pair_decisions(pairs: list[tuple[int, int]], text: dict[int, str],
                   dropped: set[int], threshold: float, max_loss: float,
                   live: set[int] | None = None) -> dict:
    """Check planted (source, copy) pairs: a copy whose shingle Jaccard
    with its source is >= threshold must be dropped, one below it must be
    kept. Misses of true pairs are allowed up to the binomial bound of
    (banding miss + estimate loss); a drop below the threshold is always
    wrong. Pairs whose source is not in ``live`` are skipped."""
    true_p, misses, false_drops, checked = [], 0, 0, 0
    for src, cp in pairs:
        if live is not None and src not in live:
            continue
        checked += 1
        j = shingle_jaccard(text[src], text[cp])
        if j >= threshold:
            true_p.append(band_miss(j) + max_loss)
            misses += cp not in dropped
        else:
            false_drops += cp in dropped
    allowed = miss_allowance(len(true_p), max(true_p, default=0.0))
    return {"checked": checked, "true_pairs": len(true_p), "misses": misses,
            "allowed_misses": allowed, "false_drops": false_drops,
            "ok": false_drops == 0 and misses <= allowed}
