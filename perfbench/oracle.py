"""Independent brute-force BM25 oracle in DuckDB.

Shares nothing with the engine but the data and the pinned rules,
which are restated here in SQL: tokens are the maximal ``[a-z0-9]+``
runs of the lowercased text; BM25 has k1=1.2, b=0.75,
idf = ln(1 + (N - df + 0.5) / (df + 0.5)), avgdl = total tokens / N;
a query scores its distinct terms; ranks order by (score desc, docid
asc). A two-term phrase hits a doc whose token ``i`` is the first word
and token ``i + 1`` the second, and scores like the query of its
distinct terms. Engine docids are mapped to the corpus through the
index's docmap (docid, url).
"""

from __future__ import annotations

import re

import duckdb
import pandas as pd

TOL = 1e-9  # relative score tolerance (float64 summation order)
_EXTRA = 32  # rows past k kept so boundary ties can be recognized
_TOKEN = re.compile(r"[a-z0-9]+")

_SETUP_SQL = """
CREATE TABLE toks AS
  SELECT m.docid, list_filter(regexp_split_to_array(lower(d.text), '[^a-z0-9]+'), t -> t <> '') AS tl
  FROM documents d JOIN docmap m USING (url);
CREATE TABLE tok AS
  SELECT docid, unnest(tl) AS term, generate_subscripts(tl, 1) AS pos FROM toks;
CREATE TABLE tf AS SELECT docid, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2;
CREATE TABLE dl AS SELECT docid, len(tl)::DOUBLE AS dl FROM toks;
CREATE TABLE st AS SELECT count(*)::DOUBLE AS n, sum(dl) / count(*) AS avgdl FROM dl;
CREATE TABLE df AS SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1;
"""

_SCORE_SQL = """
WITH sc AS (
  SELECT h.qid, tf.docid,
         sum(ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * (1.2 + 1)) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))) AS score
  FROM hits h
  JOIN qterms q ON q.qid = h.qid
  JOIN tf ON tf.docid = h.docid AND tf.term = q.term
  JOIN df ON df.term = q.term
  JOIN dl ON dl.docid = h.docid
  CROSS JOIN st
  GROUP BY 1, 2
),
rk AS (
  SELECT qid, docid, score,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, docid ASC) AS rank,
         count(*) OVER (PARTITION BY qid) AS n_match
  FROM sc
)
SELECT r.qid, r.docid, r.score, r.n_match
FROM rk r JOIN qk USING (qid)
WHERE r.rank <= qk.k + {extra}
ORDER BY r.qid, r.rank
"""

# docs holding any query term
_TERM_HITS_SQL = "CREATE TEMP TABLE hits AS SELECT DISTINCT q.qid, tf.docid FROM qterms q JOIN tf USING (term)"
# docs where word1 is directly followed by word2
_PHRASE_HITS_SQL = """
CREATE TEMP TABLE hits AS
SELECT DISTINCT p.qid, a.docid
FROM phr p
JOIN tok a ON a.term = p.w1
JOIN tok b ON b.docid = a.docid AND b.pos = a.pos + 1 AND b.term = p.w2
"""


class Oracle:
    """Top-k ground truth over one corpus state.

    ``documents``: (url, text); ``docmap``: (docid, url) read from the
    index under test."""

    def __init__(self, documents: pd.DataFrame, docmap: pd.DataFrame):
        self.con = duckdb.connect()
        self.con.register("documents", documents[["url", "text"]])
        self.con.register("docmap", docmap[["docid", "url"]])
        self.con.execute(_SETUP_SQL)

    def close(self) -> None:
        self.con.close()

    def _run(self, hits_sql: str, qterms: list, qk: list) -> dict:
        con = self.con
        con.register("qterms", pd.DataFrame(qterms, columns=["qid", "term"]))
        con.register("qk", pd.DataFrame(qk, columns=["qid", "k"]))
        con.execute("DROP TABLE IF EXISTS hits")
        con.execute(hits_sql)
        rows = con.execute(_SCORE_SQL.format(extra=_EXTRA)).fetchall()
        out: dict[int, tuple[list, int]] = {qid: ([], 0) for qid, _ in qk}
        for qid, docid, score, n_match in rows:
            out[qid][0].append((int(docid), float(score)))
            out[qid] = (out[qid][0], int(n_match))
        return out

    def topk(self, queries: list[tuple[int, str, int]]) -> dict:
        """queries: [(qid, text, k)] → {qid: ([(docid, score)...], n_match)}."""
        qterms = [
            (qid, t) for qid, text, _ in queries for t in sorted(set(_TOKEN.findall(text.lower())))
        ]
        return self._run(_TERM_HITS_SQL, qterms, [(qid, k) for qid, _, k in queries])

    def phrase_topk(self, phrases: list[tuple[int, str, int]]) -> dict:
        """Two-word phrases: [(qid, "w1 w2", k)] → as :meth:`topk`."""
        self.con.register(
            "phr",
            pd.DataFrame(
                [(qid, *_TOKEN.findall(text.lower())) for qid, text, _ in phrases],
                columns=["qid", "w1", "w2"],
            ),
        )
        qterms = [
            (qid, t) for qid, text, _ in phrases for t in sorted(set(_TOKEN.findall(text.lower())))
        ]
        return self._run(_PHRASE_HITS_SQL, qterms, [(qid, k) for qid, _, k in phrases])


def matches(got: list[tuple[int, float]], want: tuple[list, int], k: int) -> bool:
    """Rank-identical (docid, score) check of one engine top-k against
    the oracle's ranked list. A docid may differ from the oracle's at
    the same rank only inside a group of equal scores (ties whose
    order is decided by last-bit float noise)."""
    ranked, n_match = want
    if len(got) != min(k, n_match) or len({d for d, _ in got}) != len(got):
        return False
    for r, (docid, score) in enumerate(got):
        w_doc, w_score = ranked[r]
        if abs(score - w_score) > TOL * max(1.0, abs(w_score)):
            return False
        if docid != w_doc and not any(
            d == docid and abs(s - w_score) <= TOL * max(1.0, abs(w_score)) for d, s in ranked
        ):
            return False
    return True
