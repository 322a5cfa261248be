"""Seeded workload inputs, materialized to parquet before any timing.

Every input is a pure function of ``--seed``. Documents follow the
shape of ``fixtures.webtext`` (a 3-6 term title plus 1-3 paragraphs of
20-60 terms, newline-joined, ``https://exampleNNNN.test/page/NNNNNNNN``
urls) and draw their terms from that fixture's 10k-term vocabulary
under its Zipf(1.07) law. They are drawn in one vectorized pass rather
than through ``generate_webtext`` so that generating inputs stays a
fraction of a second per run; the engine only ever sees the parquet
files written here. Each (seed, stream) pair is an independent random
stream; callers give every input its own stream number.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from semantic_search_engine_spark.fixtures.webtext import (
    VOCAB_SIZE,
    ZIPF_S,
    generate_queries,
    vocab,
    zipf_probs,
)

# disjoint url index ranges per stream keep urls unique across the
# base corpus and every micro-batch of one run
_STREAM_STRIDE = 10_000_000


def corpus(seed: int, stream: int, n_docs: int) -> pa.Table:
    """(url, text) for docs ``stream*STRIDE .. +n_docs`` of ``seed``."""
    rng = np.random.default_rng([seed, stream])
    n_title = rng.integers(3, 7, n_docs)
    n_paras = rng.integers(1, 4, n_docs)
    para_len = rng.integers(20, 61, (n_docs, 3))
    para_len = np.where(np.arange(3)[None, :] < n_paras[:, None], para_len, 0)
    lens = np.concatenate([n_title[:, None], para_len], axis=1).ravel()
    words = vocab()[rng.choice(VOCAB_SIZE, size=int(lens.sum()), p=zipf_probs())]
    ends = np.cumsum(lens)
    starts = ends - lens
    texts = []
    for i in range(n_docs):
        parts = [" ".join(words[starts[j]:ends[j]]) for j in range(4 * i, 4 * i + 4) if lens[j]]
        texts.append("\n".join(parts))
    first = stream * _STREAM_STRIDE
    sites = rng.integers(0, 100, n_docs)
    urls = [f"https://example{s:04d}.test/page/{first + i:08d}" for i, s in enumerate(sites)]
    return pa.table({"url": urls, "text": texts})


def term_queries(seed: int, stream: int, n: int, max_terms: int = 3) -> list[str]:
    """``n`` queries of 1..max_terms terms drawn uniformly over the
    vocabulary (every band equally likely, so the set is wide)."""
    rng = np.random.default_rng([seed, stream])
    v = vocab()
    return [
        " ".join(v[rng.integers(0, VOCAB_SIZE, int(rng.integers(1, max_terms + 1)))])
        for _ in range(n)
    ]


def zipf_log(seed: int, stream: int, pool: list, n: int, s: float = ZIPF_S) -> list:
    """``n`` draws from ``pool`` with Zipf(s) weights over a random
    ranking of the pool, so that each stream repeats different entries
    most. The default is the fixture's term law, taken as the law of
    query popularity too."""
    rng = np.random.default_rng([seed, stream])
    rank = rng.permutation(len(pool))
    w = 1.0 / np.arange(1, len(pool) + 1, dtype=np.float64) ** s
    idx = rng.choice(len(pool), size=n, p=w / w.sum())
    return [pool[i] for i in rank[idx]]


def query_pool(seed: int, n: int) -> list[str]:
    """``n`` queries made by the fixture's own query generator
    (``fixtures.webtext.generate_queries``: 1-4 terms, each from the
    head, mid or tail band of the vocabulary), plus its
    out-of-vocabulary query."""
    return [q["query"] for q in generate_queries(seed, n)]


def phrases(seed: int, stream: int, docs: pa.Table, n: int) -> list[str]:
    """``n`` two-term phrases taken from adjacent tokens of random docs
    of ``docs``, so every phrase has at least one hit."""
    rng = np.random.default_rng([seed, stream])
    texts = docs.column("text").to_pylist()
    out = []
    while len(out) < n:
        toks = texts[int(rng.integers(0, len(texts)))].split()
        i = int(rng.integers(0, len(toks) - 1))
        out.append(f"{toks[i]} {toks[i + 1]}")
    return out


def write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def text_bytes(table: pa.Table) -> int:
    return sum(len(t.encode()) for t in table.column("text").to_pylist())
