"""The benchmark's correctness gate must reject wrong results.

    python3 -m pytest perfbench/test_oracle.py -q

A small pure-Python BM25 and phrase matcher (a third restatement of
the pinned rules) produces known-good top-k lists; the DuckDB oracle
must accept them and reject every corruption: two ranks swapped, a
score off in the last place that matters, a row dropped, a docid
duplicated, a phrase hit that is not adjacent.
"""

from __future__ import annotations

import math
import os
import re
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import inputs  # noqa: E402
import workloads  # noqa: E402
from oracle import Oracle, matches  # noqa: E402

K = 10


def _tokens(text: str) -> list[str]:
    return re.findall(r"[a-z0-9]+", text.lower())


@pytest.fixture(scope="module")
def corpus():
    docs = inputs.corpus(seed=3, stream=1, n_docs=300).to_pandas()
    docmap = docs[["url"]].sort_values("url").reset_index(drop=True)
    docmap["docid"] = range(len(docmap))
    toks = {d: _tokens(t) for d, t in zip(docmap["docid"], docs.set_index("url").loc[docmap["url"], "text"])}
    oracle = Oracle(docs, docmap)
    yield toks, oracle
    oracle.close()


def _bm25(toks: dict, qterms: list[str], docs: list[int]) -> list[tuple[int, float]]:
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    tfs = {d: Counter(t) for d, t in toks.items()}
    df = {q: sum(1 for c in tfs.values() if q in c) for q in qterms}
    scored = []
    for d in docs:
        s = 0.0
        for q in qterms:
            tf = tfs[d][q]
            if tf:
                idf = math.log(1 + (n - df[q] + 0.5) / (df[q] + 0.5))
                s += idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len(toks[d]) / avgdl))
        scored.append((d, s))
    scored.sort(key=lambda x: (-x[1], x[0]))
    return scored[:K]


def _term_topk(toks: dict, query: str) -> list[tuple[int, float]]:
    qterms = sorted(set(_tokens(query)))
    return _bm25(toks, qterms, [d for d, t in toks.items() if set(t) & set(qterms)])


def _phrase_topk(toks: dict, phrase: str) -> list[tuple[int, float]]:
    w1, w2 = _tokens(phrase)
    hits = [d for d, t in toks.items() if any(a == w1 and b == w2 for a, b in zip(t, t[1:]))]
    return _bm25(toks, sorted({w1, w2}), hits)


def _queries() -> list[str]:
    return inputs.term_queries(seed=3, stream=2, n=20) + ["bababa cecece", "bababa"]


def test_oracle_accepts_correct_term_results(corpus):
    toks, oracle = corpus
    qs = _queries()
    want = oracle.topk([(i, q, K) for i, q in enumerate(qs)])
    for i, q in enumerate(qs):
        assert matches(_term_topk(toks, q), want[i], K), q


def test_oracle_accepts_correct_phrase_results(corpus):
    toks, oracle = corpus
    docs = inputs.corpus(seed=3, stream=1, n_docs=300)
    phrases = inputs.phrases(seed=3, stream=4, docs=docs, n=10)
    want = oracle.phrase_topk([(i, p, K) for i, p in enumerate(phrases)])
    for i, p in enumerate(phrases):
        got = _phrase_topk(toks, p)
        assert got, p
        assert matches(got, want[i], K), p


def _corruptions(good: list[tuple[int, float]]):
    # two ranks with different scores swapped
    for r in range(len(good) - 1):
        if abs(good[r][1] - good[r + 1][1]) > 1e-6:
            swapped = list(good)
            swapped[r], swapped[r + 1] = swapped[r + 1], swapped[r]
            yield "swap", swapped
            break
    yield "score", [(d, s * (1 + 1e-6)) if r == 0 else (d, s) for r, (d, s) in enumerate(good)]
    yield "dropped", good[:-1]
    yield "duplicate", good[:-1] + [good[0]]


def test_oracle_rejects_corrupted_results(corpus):
    toks, oracle = corpus
    q = "bababa cecece"  # head terms: a full top-10 with distinct scores
    want = oracle.topk([(0, q, K)])[0]
    good = _term_topk(toks, q)
    assert len(good) == K and matches(good, want, K)
    kinds = []
    for kind, bad in _corruptions(good):
        kinds.append(kind)
        assert not matches(bad, want, K), kind
    assert kinds == ["swap", "score", "dropped", "duplicate"]


def test_oracle_rejects_non_adjacent_phrase_hit(corpus):
    toks, oracle = corpus
    w1, w2 = "bababa", "cecece"
    want = oracle.phrase_topk([(0, f"{w1} {w2}", K)])[0]
    adjacent = {d for d, _ in want[0]}
    both = [d for d, t in toks.items() if w1 in t and w2 in t and d not in adjacent]
    assert both, "fixture needs a doc holding both words apart"
    fake = _bm25(toks, sorted({w1, w2}), sorted(adjacent | {both[0]}))
    assert not matches(fake, want, K)


def test_mismatch_counts_as_failed_op(corpus):
    toks, oracle = corpus
    ctx = workloads.Ctx(None, "", 0, None)
    q = "bababa cecece"
    good = _term_topk(toks, q)
    bad = [good[1], good[0]] + good[2:]
    ctx._verify(oracle, [(q, good), (q, bad)], [])
    assert (ctx.checked, ctx.failed) == (2, 1)
