"""Index-backed top-k retrieval: exhaustive and block-max-pruned paths.

Exhaustive (reference-semantics baseline, SURVEY §3.2):
  query terms filter → postings scan (the `term` filter is pushed to
  parquet; postings are term-sorted per shard, so min/max stats skip
  row groups once a shard file holds more than one) →
  batch-decode blocks in Arrow batches (one vectorized varint pass per
  batch, no per-block Python) → Σ impact per (qid, docid) → per-qid
  top-k (window row_number, ties score desc / docid asc).

Block-max pruned ("WAND" path, north_star): per-shard groups — the
index is document-sharded, every doc's postings live in exactly one
shard — run a batched block-max algorithm per query, sharing a decoded-
block cache across the whole query batch:

  1. σ_t   = max block_max of term t in this shard (upper bound on any
             single-term contribution here)
  2. seed θ = k-th best exact score of the docs in the single highest-
             block_max block (exact scoring via cross-term lookup)
  3. keep block b of term t iff block_max(b) + Σ_{t'≠t} σ_{t'} ≥ θ.
     Soundness: for a doc d, total(d) ≤ block_max(b_t(d)) +
     Σ_{t'≠t} σ_{t'} for ANY term t containing d; if every block
     containing d is dropped, total(d) < θ, so d cannot displace the
     seeded top-k (ties included — ≥ keeps the boundary).
  4. candidates = docids of kept blocks; exact-score them — skipped
     blocks overlapping a candidate are decoded on demand.
  5. emit per-(qid, shard) top-k; global merge = window row_number ≤ k.

Analog of the reference's n-probe bucket pruning + two-level heap
(/root/reference/src/IVF.py:165-191): block_max metadata plays the
centroid-distance role, θ the n_probe cut, per-shard top-k the local
heap, the global window the final heapq.nlargest.
"""

from __future__ import annotations

import os
import threading

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.localdf import local_df
from pyspark.sql import functions as F

from ..functions.bm25 import impact_np
from ..functions.tokenizer import tokenize
from ..sources import index_store
from .codec import decode_block, decode_blocks_batch, decode_positions

RESULT_SCHEMA = "qid int, k int, docid long, score double"

# broadcasts from prior search_index_wand / search_index_phrase calls,
# unpersisted on the next call so executor-side broadcast blocks don't
# accumulate across batches. Shared module state by design (the
# steady-state serving loop is one batch at a time): unpersisting is
# PERF-only — a still-referenced result DataFrame from an earlier batch
# lazily re-broadcasts from the driver, so collect earlier batches
# before issuing the next to avoid the refetch. The lock makes the
# pop/append sequence safe for concurrent driver threads.
_LIVE_PLAN_BROADCASTS: list = []
_PLAN_BC_LOCK = threading.Lock()


def _rotate_plan_broadcast(spark: SparkSession, payload) -> "object":
    """Unpersist prior plan broadcasts (not destroy — see note above)
    and register a new one, atomically under the module lock."""
    with _PLAN_BC_LOCK:
        while _LIVE_PLAN_BROADCASTS:
            try:
                _LIVE_PLAN_BROADCASTS.pop().unpersist(blocking=False)
            except Exception:
                pass
        bc = spark.sparkContext.broadcast(payload)
        _LIVE_PLAN_BROADCASTS.append(bc)
    return bc


class IndexReader:
    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self.stats = index_store.read_stats(spark, index_dir)
        self._frames: dict = {}

    def postings(self, positions: bool = False) -> DataFrame:
        # memoized: a fresh read re-lists the partitioned postings dirs
        # on the driver every call (~0.1-0.2 s per query batch); the
        # DataFrame's FileIndex caches the listing across reuses. The
        # files of a finalized index are immutable, so reuse is safe.
        key = ("postings", positions)
        if key not in self._frames:
            self._frames[key] = index_store.read_postings(
                self.spark, self.index_dir, positions=positions
            )
        return self._frames[key]

    def dictionary(self) -> DataFrame:
        if "dictionary" not in self._frames:
            self._frames["dictionary"] = index_store.read_dictionary(self.spark, self.index_dir)
        return self._frames["dictionary"]

    def idf_map(self, terms: list[str]) -> dict[str, float]:
        if not terms:
            return {}
        rows = self.dictionary().filter(F.col("term").isin(terms)).select("term", "idf").collect()
        return {r["term"]: float(r["idf"]) for r in rows}


def _query_plan(queries: list[dict]) -> tuple[list[tuple[int, int, list[str]]], list[str]]:
    """[(qid, k, sorted distinct terms)], all distinct terms."""
    plan = []
    allterms: set[str] = set()
    for q in queries:
        terms = sorted(set(tokenize(q["query"])))
        plan.append((int(q["qid"]), int(q["k"]), terms))
        allterms.update(terms)
    return plan, sorted(allterms)


def _topk_window(cand: DataFrame) -> DataFrame:
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("docid"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.col("k"))
        .select("qid", "rank", "docid", "score")
    )


def _empty_result(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], "qid int, rank int, docid long, score double")


def search_index_exhaustive(reader: IndexReader, queries: list[dict]) -> DataFrame:
    """(qid, rank, docid, score) via full decode of matching terms.

    A query dict may carry ``"exclude"`` — the same Lucene MUST_NOT
    contract as ``search_index_wand``: exclusion terms' postings ride
    the same scan (flagged ``excl``), their decoded (qid, docid) pairs
    anti-join the scored candidates BEFORE top-k, and they are never
    scored. An OOV exclude term excludes nothing. Without excludes the
    plan is the original two-stage scan→agg (no anti-join stage)."""
    spark = reader.spark
    plan, terms = _query_plan(queries)
    idf_map = reader.idf_map(terms)
    if not idf_map:
        return _empty_result(spark)
    avgdl = float(reader.stats["avgdl"])
    xmap = {
        int(q["qid"]): sorted(set(tokenize(q.get("exclude", ""))))
        for q in queries
    }
    xterms = sorted({t for xs in xmap.values() for t in xs})
    xknown = set(reader.idf_map(xterms)) if xterms else set()
    qrows = [(qid, k, t, False) for qid, k, ts in plan for t in ts if t in idf_map]
    xrows = [
        (qid, 0, t, True)
        for qid, xs in xmap.items()
        for t in xs
        if t in xknown
    ]
    qdf = local_df(spark, qrows + xrows, "qid int, k int, term string, excl boolean")

    scan_terms = list(idf_map) + sorted(xknown - set(idf_map))
    blocks = reader.postings().filter(F.col("term").isin(scan_terms)).join(
        F.broadcast(qdf), "term"
    )

    def decode_score(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            ns = pdf["n"].to_numpy()
            d, tfs, dls, _ = decode_blocks_batch(
                pdf["first_docid"].to_numpy(), ns,
                pdf["docids_bin"], pdf["tfs_bin"], pdf["dls_bin"],
            )
            # Exclusion terms have no idf entry -> NaN impact; those
            # rows are flagged and never reach the score sum.
            idf_rep = np.repeat(pdf["term"].map(idf_map).to_numpy(dtype=np.float64), ns)
            imp = impact_np(tfs, dls, idf_rep, avgdl)
            yield pd.DataFrame(
                {
                    "qid": np.repeat(pdf["qid"].to_numpy(np.int32), ns),
                    "k": np.repeat(pdf["k"].to_numpy(np.int32), ns),
                    "docid": d,
                    "impact": imp,
                    "excl": np.repeat(pdf["excl"].to_numpy(bool), ns),
                }
            )

    decoded = blocks.mapInPandas(
        decode_score, "qid int, k int, docid long, impact double, excl boolean"
    )
    if xrows:
        # One scan, one shuffle: fold the disqualification into the
        # same aggregation (max(excl) marks a doc hit by any MUST_NOT
        # term; its positive impacts are summed but the row is dropped
        # before top-k). Exclusion rows carry k=0, so max(k) recovers
        # the query's real k.
        cand = (
            decoded.groupBy("qid", "docid")
            .agg(
                F.sum(F.when(~F.col("excl"), F.col("impact"))).alias("score"),
                F.max("k").alias("k"),
                F.max("excl").alias("is_excl"),
            )
            .filter(~F.col("is_excl") & F.col("score").isNotNull())
            .select("qid", "k", "docid", "score")
        )
    else:
        cand = (
            decoded.filter(~F.col("excl"))
            .groupBy("qid", "k", "docid")
            .agg(F.sum("impact").alias("score"))
        )
    return _topk_window(cand)


def search_index_qld(
    reader: IndexReader, queries: list[dict], mu: float = 2000.0
) -> DataFrame:
    """(qid, rank, docid, score) under Dirichlet-smoothed query
    likelihood (operators/topk.py:search_lm_dirichlet's formula,
    pinned identically) served FROM THE INDEX — the Lucene
    per-query similarity switch at the on-disk serving level.

    The index stores tf and dl per posting (not cf), so scoring is two
    stages over ONE term-filtered scan: the decoded (qid, term, docid,
    tf, dl) frame is persisted, collection frequencies aggregate from
    it (≤ Σ|q| rows — exactly the query terms' postings, never the
    corpus), then per-doc scores sum the smoothed logs plus the
    L·ln(μ/(dl+μ)) norm. Corpus-absent terms drop from both the sum
    and L; only docs matching ≥1 term rank; ties (score desc, docid
    asc). T comes from index stats (finalize's total-token count,
    zero-token docs included)."""
    spark = reader.spark
    plan, terms = _query_plan(queries)
    idf_map = reader.idf_map(terms)  # existence only — QLD needs no idf
    if not idf_map:
        return _empty_result(spark)
    total_tokens = float(reader.stats["total_tokens"])
    qrows = [(qid, k, t) for qid, k, ts in plan for t in ts if t in idf_map]
    qdf = local_df(spark, qrows, "qid int, k int, term string")
    blocks = reader.postings().filter(F.col("term").isin(list(idf_map))).join(
        F.broadcast(qdf), "term"
    )

    def decode_rows(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            ns = pdf["n"].to_numpy()
            d, tfs, dls, _ = decode_blocks_batch(
                pdf["first_docid"].to_numpy(), ns,
                pdf["docids_bin"], pdf["tfs_bin"], pdf["dls_bin"],
            )
            yield pd.DataFrame(
                {
                    "qid": np.repeat(pdf["qid"].to_numpy(np.int32), ns),
                    "k": np.repeat(pdf["k"].to_numpy(np.int32), ns),
                    "term": np.repeat(pdf["term"].to_numpy(object), ns),
                    "docid": d,
                    "tf": tfs,
                    "dl": dls,
                }
            )

    decoded = blocks.mapInPandas(
        decode_rows, "qid int, k int, term string, docid long, tf long, dl long"
    ).persist()
    try:
        cf_rows = decoded.groupBy("term").agg(F.sum("tf").alias("cf")).collect()
        cf_map = {r["term"]: float(r["cf"]) for r in cf_rows}
        l_map = {
            qid: float(sum(1 for t in ts if t in cf_map))
            for qid, _, ts in plan
        }
        if not cf_map:
            return _empty_result(spark)
        cf_df = local_df(spark, [(t, c) for t, c in cf_map.items()], "term string, cf double")
        l_df = local_df(spark, [(int(q), l) for q, l in l_map.items()], "qid int, L double")
        per = F.log(
            F.lit(1.0)
            + F.col("tf").cast("double")
            / (F.lit(float(mu)) * (F.col("cf") / F.lit(total_tokens)))
        )
        norm = F.col("L") * F.log(
            F.lit(float(mu)) / (F.max("dl").cast("double") + F.lit(float(mu)))
        )
        cand = (
            decoded.join(F.broadcast(cf_df), "term")
            .join(F.broadcast(l_df), "qid")
            .groupBy("qid", "k", "docid", "L")
            .agg((F.sum(per) + norm).alias("score"))
            .select("qid", "k", "docid", "score")
        )
        # localCheckpoint cuts the lineage (k rows per query), so the
        # decoded frame can release before the caller ever collects —
        # the same iterative-lineage discipline as connected_components
        return _topk_window(cand).localCheckpoint(eager=True)
    finally:
        decoded.unpersist(blocking=False)


def _score_candidates(cands: np.ndarray, per_term: dict, idf_map, avgdl) -> np.ndarray:
    """Exact BM25 for candidate docids; per_term[t] = (docids, tfs, dls)
    sorted arrays covering every candidate's potential match. Summation
    in sorted-term order (pinned)."""
    total = np.zeros(cands.size, dtype=np.float64)
    for t in sorted(per_term):
        d, tfs, dls = per_term[t]
        if d.size == 0:
            continue
        pos = np.searchsorted(d, cands)
        pos_c = np.minimum(pos, d.size - 1)
        hit = d[pos_c] == cands
        if hit.any():
            total[hit] += impact_np(tfs[pos_c[hit]], dls[pos_c[hit]], idf_map[t], avgdl)
    return total


def _vec_prune_blocks(pdf: "pd.DataFrame", known_plan, idf_map, avgdl) -> "pd.DataFrame":
    """Batch-exact block-max pruning for the vectorized kernel
    (VERDICT r07 #2): drop block rows no query can need, BEFORE the
    one-pass batch decode.

    Per query the rule is literally the loop kernel's: seed θ_q from
    the query's argmax-block_max block (exclusions applied before
    seeding, candidates scored EXACTLY via the shared decode cache),
    then keep block i of term t for q iff
    ``bm[i] + (sig_sum_q − σ_{t,q}) ≥ θ_q`` — evaluated in the same
    float expression shape as the loop kernel, per query, and OR-folded
    over the batch, so the kept set is exactly the UNION of the loop
    kernel's per-query kept sets (plus all exclusion-term blocks, which
    the scoring kernel needs to zero excluded docs).

    Soundness of the pruned SCORE MATRIX (the subtle half): for any
    query q, every doc d with full score S(d) ≥ θ_q has, for EVERY
    query term t with d ∈ postings(t), its t-block B kept for q —
    because bm_B + (sig_sum_q − σ_t) ≥ imp_t(d) + Σ_{t'≠t} σ_{t'} ≥
    S(d) ≥ θ_q. So every such doc's matrix score is COMPLETE, the seed
    set guarantees ≥ k complete docs at θ_q > −inf, and any doc with a
    (possibly incomplete) matrix score has true S < θ_q ≤ kth-true —
    strictly below every reported score, ties included. Rows and scores
    therefore stay bit-identical to the unpruned kernel
    (pytest-asserted). ``SSSE_WAND_VEC_PRUNE=0`` disables."""
    terms_arr = pdf["term"].to_numpy()
    first = pdf["first_docid"].to_numpy()
    last = pdf["last_docid"].to_numpy()
    bm = pdf["block_max"].to_numpy()
    d_bins = pdf["docids_bin"].to_numpy()
    t_bins = pdf["tfs_bin"].to_numpy()
    l_bins = pdf["dls_bin"].to_numpy()
    pos_by_term: dict = {}
    for t in np.unique(terms_arr):
        sel = np.flatnonzero(terms_arr == t)
        pos_by_term[t] = sel[np.argsort(first[sel], kind="stable")]

    decoded: dict = {}

    def dec(i: int):
        if i not in decoded:
            decoded[i] = decode_block(int(first[i]), d_bins[i], t_bins[i], l_bins[i])
        return decoded[i]

    def per_term_for(cands, qterms):
        out = {}
        for t in qterms:
            parts = []
            for i in pos_by_term.get(t, ()):
                lo = np.searchsorted(cands, first[i])
                hi = np.searchsorted(cands, last[i], side="right")
                if hi > lo:
                    parts.append(dec(int(i)))
            out[t] = (
                tuple(np.concatenate([p[j] for p in parts]) for j in range(3))
                if parts else (np.empty(0, np.int64),) * 3
            )
        return out

    def drop_excluded(cands, xs):
        if not xs or cands.size == 0:
            return cands
        xparts = []
        for t in xs:
            for i in pos_by_term.get(t, ()):
                lo = np.searchsorted(cands, first[i])
                hi = np.searchsorted(cands, last[i], side="right")
                if hi > lo:
                    xparts.append(dec(int(i))[0])
        if not xparts:
            return cands
        return cands[~np.isin(cands, np.concatenate(xparts))]

    keep = np.zeros(len(pdf), dtype=bool)
    xterms_all: set = set()
    for qid, k, qterms, xs in known_plan:
        xterms_all.update(xs)
        q_pos = [p for t in qterms for p in pos_by_term.get(t, ())]
        if not q_pos:
            continue
        q_pos = np.asarray(q_pos, dtype=np.int64)
        sigma = {t: float(bm[pos_by_term[t]].max()) for t in qterms if t in pos_by_term}
        sig_sum = float(sum(sigma.values()))
        seed_i = int(q_pos[bm[q_pos].argmax()])
        seed_docs = drop_excluded(dec(seed_i)[0], xs)
        seed_scores = _score_candidates(
            seed_docs, per_term_for(seed_docs, qterms), idf_map, avgdl
        )
        theta = float(np.sort(seed_scores)[-k]) if seed_scores.size >= k else float("-inf")
        if theta == float("-inf"):
            keep[q_pos] = True
            continue
        bounds = bm[q_pos] + (sig_sum - np.array([sigma[t] for t in terms_arr[q_pos]]))
        keep[q_pos] |= bounds >= theta
    # exclusion terms: the kernel zeroes excluded docs' cells, so every
    # exclusion-term block must be available
    for t in xterms_all:
        keep[pos_by_term.get(t, np.empty(0, np.int64))] = True
    if keep.all():
        return pdf
    return pdf[keep].reset_index(drop=True)


def search_index_wand(
    reader: IndexReader,
    queries: list[dict],
    theta_factor: float = 1.0,
    keep_boundary_ties: bool = False,
    distributed_idf: bool | None = None,
    vectorized: bool | None = None,
) -> DataFrame:
    """(qid, rank, docid, score) via per-shard block-max pruning.

    One applyInPandas group per shard (not per (qid, shard)) — the
    whole query batch runs against each shard with a shared decoded-
    block cache, amortizing group/UDF overhead across queries.

    ``theta_factor`` > 1 inflates the pruning threshold θ — blocks are
    kept only if bound ≥ θ·factor — trading recall for fewer decodes
    (the analog of the reference's n_probe < n_clusters approximate
    mode, /root/reference/src/IVF.py:12-20). 1.0 (default) is EXACT:
    the bound argument in the module docstring guarantees no true
    top-k doc is pruned. Approximate recall is measured in
    scripts/recall_eval.py.

    ``keep_boundary_ties`` changes the contract for callers that want
    to re-break ties under their OWN ordering (e.g. external doc_id
    after a docmap join): every shard emits ALL docs whose score ties
    the shard's k-th score, and the global merge uses rank() over
    (score desc) alone, so every doc that could enter the top-k under
    ANY tie-break survives. Soundness: a doc with score strictly below
    its shard's k-th score already has k better-scored docs in that
    shard alone, so no tie-break can pull it into the global top-k.
    The default (False) pins ties on internal docid, exactly k rows.

    The two dials are mutually exclusive: ``keep_boundary_ties``'s
    all-ties guarantee relies on exact pruning (θ·1.0) — an inflated
    threshold can drop whole blocks holding tie docs — so combining it
    with ``theta_factor != 1.0`` raises rather than silently voiding
    the guarantee.

    ``distributed_idf`` (default: auto at > ``SSSE_IDF_COLLECT_MAX``
    distinct terms, 100k) removes the one remaining driver-bound
    structure at mega-batch width: instead of collecting a term→idf
    dict to the driver (and pushing a giant ``isin`` literal into the
    scan), the distinct query terms become a small DataFrame that is
    broadcast-joined against the dictionary for idf and then against
    the postings as the scan filter — the idf values ride the block
    rows into each shard kernel, which rebuilds its (tiny) local slice
    of the map from the group's own columns. Results are identical to
    the collected path (pytest-asserted); per-query OOV handling moves
    into the kernel, where a term with no postings in any group simply
    contributes no blocks.

    ``vectorized`` (default: auto at ≥ ``SSSE_WAND_VECTORIZE_MIN``
    queries, 512; exact pruning only) switches each shard-group kernel
    from the per-query WAND loop to one CROSS-QUERY NumPy pass: all the
    group's blocks decode in a single vectorized call, per-posting
    impacts are computed ONCE for the whole batch, and query chunks
    score through per-term scatter-adds into a (docs × queries) matrix
    with per-column top-k selection. At mega-batch width nearly every
    term's blocks are needed by SOME query, so block-max pruning saves
    little while per-(query, group) Python bookkeeping dominates — the
    measured 10⁴-query ceiling. Row- and score-IDENTICAL to the loop
    path (pytest-asserted): scatter-adds run in sorted-term order, the
    same float64 accumulation sequence as ``_score_candidates``, and
    the θ=1.0 WAND bound guarantees the loop path's pruned candidates
    can never reach the top-k boundary. Requires ``theta_factor=1.0``
    (the approximate mode is a pruning dial, which this path has no
    analog for).

    A query dict may carry ``"exclude"`` — Lucene's BooleanQuery
    MUST_NOT: its tokens disqualify any doc containing them, applied
    BEFORE top-k selection so excluded docs never occupy result slots.
    Exclusion terms are never scored; their postings ride the scan so
    each shard kernel can subtract their docs locally (a doc's
    postings all live in one shard). In the loop kernel the subtract
    reads only exclusion blocks overlapping the candidate range and
    ALSO applies to the θ seed (an excluded doc's score would inflate
    θ above the true k-th valid score and make the block cut unsound);
    the vectorized kernel zeroes the excluded docs' score cells — the
    same surviving rows bit-for-bit. An OOV exclude term excludes
    nothing; plain and MUST_NOT queries mix freely in one batch, in
    both kernels."""
    if vectorized and theta_factor != 1.0:
        raise ValueError(
            "vectorized scoring is exhaustive-exact and has no analog of "
            f"the theta_factor pruning dial (got {theta_factor})"
        )
    if keep_boundary_ties and theta_factor != 1.0:
        raise ValueError(
            "keep_boundary_ties guarantees every possible tie-break survivor "
            "only under exact pruning; theta_factor must be 1.0 with it "
            f"(got {theta_factor})"
        )
    import os as _os

    spark = reader.spark
    plan, terms = _query_plan(queries)
    # Lucene-style MUST_NOT: a query dict's "exclude" string tokenizes
    # to terms whose presence disqualifies a doc. Exclusion terms are
    # never scored — their postings ride along in the scan only so each
    # shard kernel can subtract their docs (a doc's postings all live
    # in one shard, so exclusion is group-local exact). An OOV exclude
    # term excludes nothing.
    xmap = {
        int(q["qid"]): sorted(set(tokenize(q.get("exclude", ""))))
        for q in queries
    }
    xterms = sorted({t for xs in xmap.values() for t in xs})
    if distributed_idf is None:
        distributed_idf = len(terms) > int(_os.environ.get("SSSE_IDF_COLLECT_MAX", "100000"))
    if distributed_idf:
        idf_map = None
        known_plan = [(q, k, ts, xmap[q]) for q, k, ts in plan if ts]
    else:
        idf_map = reader.idf_map(terms)
        if not idf_map:
            return _empty_result(spark)
        known_plan = [
            (qid, k, [t for t in ts if t in idf_map], xmap[qid])
            for qid, k, ts in plan
        ]
        known_plan = [(q, k, ts, xs) for q, k, ts, xs in known_plan if ts]
    if not known_plan:
        return _empty_result(spark)
    if vectorized is None:
        vectorized = theta_factor == 1.0 and len(known_plan) >= int(
            _os.environ.get("SSSE_WAND_VECTORIZE_MIN", "512")
        )
    # ship the query plan + idf map as a broadcast variable (cached once
    # per executor) rather than a UDF closure (re-shipped per task) —
    # matters once the batch reaches 10^5+ queries. Previous calls'
    # broadcasts are unpersisted (see _LIVE_PLAN_BROADCASTS), so
    # repeated batches in a long-lived session keep at most one plan
    # broadcast resident on executors.
    avgdl = float(reader.stats["avgdl"])
    bc = _rotate_plan_broadcast(spark, (known_plan, idf_map, avgdl))

    # Bundle shards into at most ~4×parallelism task groups: shards are
    # docid-disjoint, so any union of whole shards is a valid WAND unit
    # (σ bounds just get looser); group count stays bounded as the
    # size-tiered shard count grows with the corpus. Swept at 1001
    # queries on this host: 4×cpus beats 1×/2×/8×/16× at both 400k and
    # 2M docs (smaller groups balance better and keep tighter σ bounds;
    # beyond that, per-(query, group) bookkeeping dominates).
    per_cpu = int(_os.environ.get("SSSE_WAND_GROUPS_PER_CPU", "4"))
    n_groups = per_cpu * int(spark.conf.get("spark.sql.shuffle.partitions"))
    if distributed_idf:
        # term filter + idf as a broadcast JOIN instead of an isin
        # literal + driver dict: scales to 10^6-distinct-term batches
        # with zero O(terms) Python state on the driver. Exclusion
        # terms join too (their idf is ignored; only their docids are
        # read in the kernels).
        scan_terms = sorted(set(terms) | set(xterms))
        terms_df = local_df(spark, [(t,) for t in scan_terms], "term string")
        term_idf = reader.dictionary().join(F.broadcast(terms_df), "term").select("term", "idf")
        blocks = reader.postings().join(F.broadcast(term_idf), "term")
    else:
        scan_terms = sorted(set(idf_map) | set(xterms))
        blocks = reader.postings().filter(F.col("term").isin(scan_terms))
    # explicit partition count: AQE's byte-based coalescing would fold
    # this tiny-bytes exchange into ONE partition and serialize the
    # compute-heavy-per-byte Python kernels (measured: the whole query
    # batch in one task); an explicit repartition count is exempt from
    # coalescing and satisfies the groupBy's clustering, so no second
    # exchange is added. Group count/keys (and results) are unchanged.
    blocks = blocks.withColumn(
        "_qgroup", F.pmod(F.col("shard"), F.lit(n_groups))
    ).repartition(n_groups, "_qgroup")

    def wand_shard(key, pdf: pd.DataFrame) -> pd.DataFrame:
        known_plan, idf_map, avgdl = bc.value
        if idf_map is None:  # distributed idf: rebuild this group's slice
            idf_map = {
                t: float(v) for t, v in zip(pdf["term"].to_numpy(), pdf["idf"].to_numpy())
            }
        if len(pdf) == 0:
            return pd.DataFrame(
                {c: pd.Series(dtype=t) for c, t in
                 [("qid", "int32"), ("k", "int32"), ("docid", "int64"), ("score", "float64")]}
            )
        terms_arr = pdf["term"].to_numpy()
        first = pdf["first_docid"].to_numpy()
        last = pdf["last_docid"].to_numpy()
        bm = pdf["block_max"].to_numpy()
        d_bins = pdf["docids_bin"].to_numpy()
        t_bins = pdf["tfs_bin"].to_numpy()
        l_bins = pdf["dls_bin"].to_numpy()

        # per-term block positions ordered by first_docid (runs are disjoint)
        pos_by_term: dict[str, np.ndarray] = {}
        for t in np.unique(terms_arr):
            sel = np.flatnonzero(terms_arr == t)
            pos_by_term[t] = sel[np.argsort(first[sel], kind="stable")]

        decoded: dict[int, tuple] = {}

        def dec(i: int):
            if i not in decoded:
                decoded[i] = decode_block(int(first[i]), d_bins[i], t_bins[i], l_bins[i])
            return decoded[i]

        def per_term_for(cands: np.ndarray, qterms: list[str]) -> dict:
            out = {}
            for t in qterms:
                parts = []
                for i in pos_by_term.get(t, ()):  # ordered by first_docid
                    lo = np.searchsorted(cands, first[i])
                    hi = np.searchsorted(cands, last[i], side="right")
                    if hi > lo:
                        parts.append(dec(int(i)))
                if parts:
                    out[t] = tuple(np.concatenate([p[j] for p in parts]) for j in range(3))
                else:
                    out[t] = (np.empty(0, np.int64),) * 3
            return out

        def drop_excluded(cands: np.ndarray, xs: list[str]) -> np.ndarray:
            """Remove candidates containing ANY exclusion term, reading
            only exclusion blocks that overlap the candidate range (the
            same block-subset select as per_term_for)."""
            if not xs or cands.size == 0:
                return cands
            xparts = []
            for t in xs:
                for i in pos_by_term.get(t, ()):
                    lo = np.searchsorted(cands, first[i])
                    hi = np.searchsorted(cands, last[i], side="right")
                    if hi > lo:
                        xparts.append(dec(int(i))[0])
            if not xparts:
                return cands
            return cands[~np.isin(cands, np.concatenate(xparts))]

        # plain-array accumulation, one DataFrame per group (not per
        # query) — the phrase kernel's measured constructor-overhead fix
        out_qid, out_k, out_docid, out_score = [], [], [], []
        for qid, k, qterms, xs in known_plan:
            q_pos = [p for t in qterms for p in pos_by_term.get(t, ())]
            if not q_pos:
                continue
            q_pos = np.asarray(q_pos, dtype=np.int64)
            sigma = {t: float(bm[pos_by_term[t]].max()) for t in qterms if t in pos_by_term}
            sig_sum = float(sum(sigma.values()))

            # seed θ from the highest-block_max block of this query.
            # Exclusion applies BEFORE seeding: an excluded doc's score
            # would inflate θ above the true k-th valid score and make
            # the block cut unsound.
            seed_i = int(q_pos[bm[q_pos].argmax()])
            seed_docs = drop_excluded(dec(seed_i)[0], xs)
            seed_scores = _score_candidates(seed_docs, per_term_for(seed_docs, qterms), idf_map, avgdl)
            theta = float(np.sort(seed_scores)[-k]) if seed_scores.size >= k else float("-inf")

            bounds = bm[q_pos] + (sig_sum - np.array([sigma[t] for t in terms_arr[q_pos]]))
            # BM25 impacts are positive, so θ>0 whenever seeded; guard
            # anyway so factor>1 never LOWERS a non-positive threshold
            thr = theta * theta_factor if theta > 0 else theta
            kept = q_pos[bounds >= thr]
            if kept.size == 0:
                continue
            if len(qterms) == 1:
                # one term: runs are docid-disjoint and ordered by
                # first_docid → concatenation is already sorted-unique,
                # and the decoded (tf, dl) runs score directly (no
                # candidate re-lookup)
                decs = [dec(int(i)) for i in kept]
                cands = np.concatenate([d0 for d0, _, _ in decs])
                tfs = np.concatenate([d1 for _, d1, _ in decs])
                dls = np.concatenate([d2 for _, _, d2 in decs])
                if xs:
                    keep_m = np.isin(cands, drop_excluded(cands, xs))
                    cands, tfs, dls = cands[keep_m], tfs[keep_m], dls[keep_m]
                if cands.size == 0:
                    continue
                scores = impact_np(tfs, dls, idf_map[qterms[0]], avgdl)
            else:
                cands = np.unique(np.concatenate([dec(int(i))[0] for i in kept]))
                cands = drop_excluded(cands, xs)
                if cands.size == 0:
                    continue
                scores = _score_candidates(cands, per_term_for(cands, qterms), idf_map, avgdl)
            if scores.size > k:
                # head-term queries score 10^5+ candidates: full lexsort
                # is the per-query hot spot. Select by the k-th score
                # (keeping boundary ties), then order the small set —
                # identical (score desc, docid asc) result.
                kth = np.partition(scores, scores.size - k)[scores.size - k]
                sel = np.flatnonzero(scores >= kth)
                cands, scores = cands[sel], scores[sel]
            order = np.lexsort((cands, -scores))
            if not keep_boundary_ties:
                order = order[:k]
            out_qid.append(np.full(order.size, qid, dtype=np.int32))
            out_k.append(np.full(order.size, k, dtype=np.int32))
            out_docid.append(cands[order])
            out_score.append(scores[order])
        if not out_qid:
            return pd.DataFrame(
                {c: pd.Series(dtype=t) for c, t in
                 [("qid", "int32"), ("k", "int32"), ("docid", "int64"), ("score", "float64")]}
            )
        return pd.DataFrame(
            {
                "qid": np.concatenate(out_qid),
                "k": np.concatenate(out_k),
                "docid": np.concatenate(out_docid),
                "score": np.concatenate(out_score),
            }
        )

    def wand_shard_vec(key, pdf: pd.DataFrame) -> pd.DataFrame:
        """Cross-query vectorized scorer (mega-batch mode): one decode +
        one impact pass for the whole group, then chunked (docs ×
        queries) scatter-add scoring. Sorted-term add order keeps the
        float64 accumulation sequence identical to _score_candidates,
        so rows AND scores match the loop kernel bit-for-bit."""
        known_plan, idf_map, avgdl = bc.value
        if idf_map is None:  # distributed idf: rebuild this group's slice
            idf_map = {
                t: float(v) for t, v in zip(pdf["term"].to_numpy(), pdf["idf"].to_numpy())
            }
        empty = pd.DataFrame(
            {c: pd.Series(dtype=t) for c, t in
             [("qid", "int32"), ("k", "int32"), ("docid", "int64"), ("score", "float64")]}
        )
        if len(pdf) == 0:
            return empty
        if os.environ.get("SSSE_WAND_VEC_PRUNE", "1") != "0":
            pdf = _vec_prune_blocks(pdf, known_plan, idf_map, avgdl)
            if len(pdf) == 0:
                return empty
        # blocks sorted by term -> each term's postings are one
        # contiguous slice of the concatenated decode below
        pdf = pdf.sort_values("term", kind="stable", ignore_index=True)
        ns = pdf["n"].to_numpy()
        d_all, tf_all, dl_all, _ = decode_blocks_batch(
            pdf["first_docid"].to_numpy(), ns,
            pdf["docids_bin"], pdf["tfs_bin"], pdf["dls_bin"],
        )
        terms_arr = pdf["term"].to_numpy()
        # exclusion-only terms have no idf in the collected map; their
        # impacts are never added (t2q maps positive terms only)
        idf_rep = np.repeat(
            np.array([idf_map.get(t, 0.0) for t in terms_arr], dtype=np.float64), ns
        )
        imp_all = impact_np(tf_all, dl_all, idf_rep, avgdl)
        D = np.unique(d_all)  # dense doc axis of the score matrix
        row_all = np.searchsorted(D, d_all)
        post_off = np.concatenate([[0], np.cumsum(ns)]).astype(np.int64)
        blk_new = np.concatenate([[True], terms_arr[1:] != terms_arr[:-1]])
        t_first = np.flatnonzero(blk_new)
        t_start = post_off[t_first]
        t_end = np.concatenate([t_start[1:], [post_off[-1]]])
        term_slice = {
            t: (int(s), int(e))
            for t, s, e in zip(terms_arr[t_first], t_start, t_end)
        }
        # reverse index: term -> ordinals of the batch queries using it
        # (and x2q for exclusion terms — their docs are zeroed after
        # accumulation, the vectorized form of the loop path's subtract)
        t2q: dict[str, list[int]] = {}
        x2q: dict[str, list[int]] = {}
        n_q = len(known_plan)
        ks = np.empty(n_q, dtype=np.int64)
        qids = np.empty(n_q, dtype=np.int64)
        for qi, (qid, k, qterms, xs) in enumerate(known_plan):
            ks[qi], qids[qi] = k, qid
            for t in qterms:
                if t in term_slice:
                    t2q.setdefault(t, []).append(qi)
            for t in xs:
                if t in term_slice:
                    x2q.setdefault(t, []).append(qi)
        t2q_arr = {t: np.asarray(v, dtype=np.int64) for t, v in t2q.items()}
        sorted_terms = sorted(t2q_arr)
        x2q_arr = {t: np.asarray(v, dtype=np.int64) for t, v in x2q.items()}
        # chunk width bounds the matrix at |D| × chunk doubles — and the
        # cell budget bounds it ABSOLUTELY (default 32M cells ≈ 256 MB
        # float64 per task): a fat shard group at 100-TB scale shrinks
        # the chunk instead of blowing task memory. Results are
        # chunk-invariant (per-query columns are independent).
        chunk = max(1, int(os.environ.get("SSSE_WAND_VEC_CHUNK", "128")))
        cell_budget = int(os.environ.get("SSSE_WAND_VEC_CELL_BUDGET", "32000000"))
        chunk = max(1, min(chunk, cell_budget // max(D.size, 1)))
        out_qid, out_k, out_docid, out_score = [], [], [], []
        for c0 in range(0, n_q, chunk):
            c1 = min(c0 + chunk, n_q)
            scores = np.zeros((c1 - c0, D.size), dtype=np.float64)
            for t in sorted_terms:  # sorted order == the loop path's
                qs = t2q_arr[t]  # ascending query ordinals
                qs = qs[np.searchsorted(qs, c0) : np.searchsorted(qs, c1)]
                if qs.size == 0:
                    continue
                s, e = term_slice[t]
                r, v = row_all[s:e], imp_all[s:e]
                if qs.size >= 2 and r.size * 10 >= D.size:
                    # head term shared by many queries: scatter once
                    # into a dense row, then contiguous SIMD adds per
                    # query (measured ~10× over per-query fancy adds).
                    # Bitwise-identical: the extra cells add +0.0 to
                    # nonnegative partial sums, which is exact.
                    tmp = np.zeros(D.size, dtype=np.float64)
                    tmp[r] = v
                    for q in qs:
                        scores[q - c0] += tmp
                else:
                    for q in qs:
                        scores[q - c0, r] += v
            # MUST_NOT: zero the excluded docs' cells — the col > 0
            # filter below then drops them, matching the loop kernel's
            # candidate subtraction row-for-row
            for t in sorted(x2q_arr):
                qs = x2q_arr[t]
                qs = qs[np.searchsorted(qs, c0) : np.searchsorted(qs, c1)]
                if qs.size == 0:
                    continue
                s, e = term_slice[t]
                r = row_all[s:e]
                for q in qs:
                    scores[q - c0, r] = 0.0
            for j in range(c1 - c0):
                col = scores[j]
                k = int(ks[c0 + j])
                pos = np.flatnonzero(col > 0.0)  # docs with >=1 query term
                if pos.size == 0:
                    continue
                if pos.size > k:
                    vals = col[pos]
                    kth = np.partition(vals, vals.size - k)[vals.size - k]
                    sel = pos[vals >= kth]  # boundary ties kept
                else:
                    sel = pos
                sc, cands = col[sel], D[sel]
                order = np.lexsort((cands, -sc))
                if not keep_boundary_ties:
                    order = order[:k]
                out_qid.append(np.full(order.size, qids[c0 + j], dtype=np.int32))
                out_k.append(np.full(order.size, k, dtype=np.int32))
                out_docid.append(cands[order])
                out_score.append(sc[order])
        if not out_qid:
            return empty
        return pd.DataFrame(
            {
                "qid": np.concatenate(out_qid),
                "k": np.concatenate(out_k),
                "docid": np.concatenate(out_docid),
                "score": np.concatenate(out_score),
            }
        )

    kernel = wand_shard_vec if vectorized else wand_shard
    local = blocks.groupBy("_qgroup").applyInPandas(kernel, RESULT_SCHEMA)
    if keep_boundary_ties:
        w = Window.partitionBy("qid").orderBy(F.desc("score"))
        return (
            local.withColumn("rank", F.rank().over(w))
            .filter(F.col("rank") <= F.col("k"))
            .select("qid", "rank", "docid", "score")
        )
    return _topk_window(local)


def _phrase_survivors(
    cands: np.ndarray, words: list[str], data: dict, with_window: bool = False
):
    """Candidates (sorted docids, all containing every phrase term) →
    the subset where the words occur ADJACENTLY in order, from
    positions alone. data[t] = (docids, tfs, dls, positions,
    run_starts) with positions strictly increasing per posting run.

    Vectorized occurrence join: word j at in-doc position p supports a
    phrase start at p−j, so each word contributes the sorted key set
    {cand_index·M + (p−j)} and a phrase occurrence is a key present in
    EVERY word's set — L−1 sorted intersections over the candidates'
    position runs, no per-doc Python loop. Duplicate phrase words reuse
    the same decoded run at their own offsets (handled naturally).

    ``with_window=True`` additionally returns the LEFTMOST match
    window per hit, ``(hits, win_start, win_end)`` — every adjacency
    window has span L−1, so leftmost-minimal degenerates to the first
    occurrence (keys are sorted; the first key per doc is it)."""
    if cands.size == 0 or not words:
        e = np.empty(0, dtype=np.int64)
        return (cands, e.copy(), e.copy()) if with_window else cands
    L = len(words)
    M = max(int(data[w][3].max()) if data[w][3].size else 0 for w in set(words)) + L + 2
    keys = None
    for j, w in enumerate(words):
        d, tf, _, pos, rs = data[w]
        r = np.searchsorted(d, cands)
        counts = tf[r]
        total = int(counts.sum())
        out_start = np.concatenate([[0], np.cumsum(counts)[:-1]])
        idx = np.repeat(rs[r] - out_start, counts) + np.arange(total, dtype=np.int64)
        p = pos[idx]
        ci = np.repeat(np.arange(cands.size, dtype=np.int64), counts)
        kj = (ci * M + p - j)[p >= j]
        keys = kj if keys is None else np.intersect1d(keys, kj, assume_unique=True)
        if keys.size == 0:
            e = np.empty(0, dtype=np.int64)
            return (e, e.copy(), e.copy()) if with_window else e
    if not with_window:
        return cands[np.unique(keys // M)]
    uci, first_idx = np.unique(keys // M, return_index=True)
    ws = keys[first_idx] % M  # keys sorted -> first key per doc = leftmost
    return cands[uci], ws, ws + (L - 1)


def _interval_max(vals: np.ndarray, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """max(vals[lo[i]:hi[i]]) per query interval, -1 where empty —
    vectorized sparse-table range-maximum. Build is O(n log n), the
    queries are O(1) each via the classic two-overlapping-powers-of-two
    lookup, so total cost is independent of the interval WIDTH (the
    property the proximity-boost chain filter needs: its windows are
    max_gap wide, and a per-offset probe would pay O(max_gap) passes)."""
    res = np.full(lo.size, -1, dtype=np.int64)
    n = vals.size
    ok = hi > lo
    if n == 0 or not ok.any():
        return res
    levels = [vals]
    j = 1
    while (1 << j) <= n:
        prev, half = levels[-1], 1 << (j - 1)
        m = n - (1 << j) + 1
        levels.append(np.maximum(prev[:m], prev[half : half + m]))
        j += 1
    # floor(log2(len)) exactly: frexp exponent − 1 (exact for int lens)
    lg = np.zeros(lo.size, dtype=np.int64)
    lg[ok] = np.frexp((hi - lo)[ok].astype(np.float64))[1] - 1
    for g in np.unique(lg[ok]):
        m = ok & (lg == g)
        L = levels[g]
        res[m] = np.maximum(L[lo[m]], L[hi[m] - (1 << int(g))])
    return res


def _chain_survivors(
    cands: np.ndarray, words: list[str], data: dict, max_gap: int,
    with_slack: bool = False, with_window: bool = False,
):
    """Ordered within-gap (proximity) match: the subset of candidates
    containing positions p_0 < p_1 < … < p_{L-1}, one per word in
    order, with every consecutive gap in [1, max_gap]. ``max_gap=1``
    is exactly phrase adjacency.

    Chain filter, one sorted-array pass per word: S_0 = word 0's
    occurrence keys; S_j keeps word j's occurrences with a predecessor
    in [key−max_gap, key). Keys are cand_index·M + position with
    M > max position + max_gap, so windows can never cross documents.
    O(total candidate positions · L) with binary searches — no per-doc
    Python loop.

    ``with_slack=True`` returns ``(survivor docids, min_slack)`` where
    min_slack[i] is the minimal total extra gap over all valid chains
    in that doc: (p_{L-1} − p_0) − (L−1), 0 iff an exact-adjacent
    match exists. Computed by propagating the MAX chain-start per end
    key (span = end − start, so the tightest chain ending at a key is
    the one with the latest start; any chain decomposes through a
    predecessor, so the per-key max is exact), then a per-doc min over
    final keys — the per-key predecessor max is a windowed range-max
    over [key−max_gap, key) (:func:`_interval_max`), so the cost is
    independent of ``max_gap``, same as the unboosted path.

    ``with_window=True`` (implies the slack DP) returns
    ``(survivor docids, min_slack, win_start, win_end)`` where the
    window is the LEFTMOST-minimal valid chain: among chains achieving
    the doc's minimal span, the one with the smallest end position
    (its start is end − span, unique) — the deterministic pick a SQL
    oracle can reproduce with min(span) then min(end)."""
    if with_window:
        with_slack = True
    empty = np.empty(0, dtype=np.int64)

    def _empty_ret():
        if with_window:
            return empty, empty.copy(), empty.copy(), empty.copy()
        return (empty, empty.copy()) if with_slack else empty

    if cands.size == 0 or not words:
        if cands.size == 0:
            return _empty_ret()
        return (cands, empty.copy()) if with_slack else cands
    L = len(words)
    M = (
        max(int(data[w][3].max()) if data[w][3].size else 0 for w in set(words))
        + max_gap + 2
    )

    def keys_for(w: str) -> np.ndarray:
        d, tf, _, pos, rs = data[w]
        r = np.searchsorted(d, cands)
        counts = tf[r]
        total = int(counts.sum())
        out_start = np.concatenate([[0], np.cumsum(counts)[:-1]])
        idx = np.repeat(rs[r] - out_start, counts) + np.arange(total, dtype=np.int64)
        ci = np.repeat(np.arange(cands.size, dtype=np.int64), counts)
        return ci * M + pos[idx]  # ci asc, positions asc per run → sorted

    survivors = keys_for(words[0])
    starts = survivors % M if with_slack else None  # chain start = own position
    for w in words[1:]:
        if survivors.size == 0:
            return _empty_ret()
        q = keys_for(w)
        if not with_slack:
            lo = np.searchsorted(survivors, q - max_gap)
            hi = np.searchsorted(survivors, q)  # predecessors strictly below q
            survivors = q[hi > lo]
        else:
            # predecessor window [q−max_gap, q): the windowed MAX of
            # chain starts over it, one sparse-table range-max — cost
            # independent of max_gap (a NEAR/50 boost query pays the
            # same as NEAR/2). q−max_gap below a doc's key range cannot
            # alias another doc (positions < M − max_gap − 2, same
            # non-aliasing argument as the unboosted window above).
            lo = np.searchsorted(survivors, q - max_gap)
            hi = np.searchsorted(survivors, q)
            best = _interval_max(starts, lo, hi)
            keep = best >= 0
            survivors, starts = q[keep], best[keep]
    if survivors.size == 0:
        return _empty_ret()
    if not with_slack:
        return cands[np.unique(survivors // M)]
    ci = survivors // M
    end = survivors % M
    span = end - starts
    uci, first_idx = np.unique(ci, return_index=True)
    min_span = np.minimum.reduceat(span, first_idx)
    min_slack = min_span - (L - 1)
    if not with_window:
        return cands[uci], min_slack
    counts = np.diff(np.concatenate([first_idx, [ci.size]]))
    is_min = span == np.repeat(min_span, counts)
    masked_end = np.where(is_min, end, np.iinfo(np.int64).max)
    win_end = np.minimum.reduceat(masked_end, first_idx)
    return cands[uci], min_slack, win_end - min_span, win_end


def _window_survivors(
    cands: np.ndarray, words: list[str], data: dict, max_span: int,
    with_slack: bool = False, with_window: bool = False,
):
    """Unordered within-window (NEAR/W) match: the subset of candidates
    containing ALL distinct query words inside some token window of
    span ≤ ``max_span`` (span = max position − min position of the
    covering occurrence set), in ANY order — Lucene's unordered
    SpanNear, the third member of the span family next to phrase
    adjacency and ordered slop.

    Minimal-cover sweep, fully vectorized: every occurrence of every
    query word is an ANCHOR (candidate window minimum); for each
    anchor, each word's earliest occurrence ≥ the anchor is one
    ``searchsorted`` into that word's sorted key array (keys =
    cand_index·M + position, so cross-document probes self-invalidate
    via the key-space check); the window end is the max over words and
    the doc's minimal span is a ``minimum.reduceat`` over its anchors.
    The true minimal window's leftmost element is an occurrence of
    some word, so anchoring on occurrences is exhaustive. O(total
    candidate positions · L · log) with no per-doc Python loop.

    ``with_slack=True`` additionally returns min_span − (L−1) per
    surviving doc (0 iff some window packs the L distinct words into
    L consecutive tokens) — the unordered analog of the chain filter's
    slack, feeding the same proximity-boost formula.

    ``with_window=True`` (implies slack) returns ``(hits, slack,
    win_start, win_end)``, the LEFTMOST-minimal covering window: the
    smallest anchor among those achieving the doc's minimal span
    (every minimal window's leftmost element is an anchor, so the
    anchor set contains every minimal window start — the pick is
    min(span) then min(start), the same deterministic rule a SQL
    oracle reproduces; with equal spans min start ≡ min end, so the
    tie-break family matches the ordered path's)."""
    if with_window:
        with_slack = True
    uw = sorted(set(words))
    L = len(uw)
    empty = np.empty(0, dtype=np.int64)

    def _empty_ret():
        if with_window:
            return empty, empty.copy(), empty.copy(), empty.copy()
        return (empty, empty.copy()) if with_slack else empty

    if cands.size == 0 or not uw:
        if cands.size == 0:
            return _empty_ret()
        return (cands, empty.copy()) if with_slack else cands
    M = (
        max(int(data[w][3].max()) if data[w][3].size else 0 for w in uw)
        + max_span + 2
    )
    keys = {}
    for w in uw:
        d, tf, _, pos, rs = data[w]
        r = np.searchsorted(d, cands)
        counts = tf[r]
        total = int(counts.sum())
        out_start = np.concatenate([[0], np.cumsum(counts)[:-1]])
        idx = np.repeat(rs[r] - out_start, counts) + np.arange(total, dtype=np.int64)
        ci = np.repeat(np.arange(cands.size, dtype=np.int64), counts)
        keys[w] = ci * M + pos[idx]  # sorted: ci asc, positions asc per run
    anchors = np.sort(np.concatenate(list(keys.values())))
    valid = np.ones(anchors.size, dtype=bool)
    end = anchors.copy()
    for w in uw:
        kw = keys[w]
        p = np.searchsorted(kw, anchors)
        ok = p < kw.size
        nxt = kw[np.minimum(p, max(kw.size - 1, 0))]
        ok &= (nxt // M) == (anchors // M)  # same doc
        valid &= ok
        end = np.maximum(end, np.where(ok, nxt, anchors))
    va = anchors[valid]
    if va.size == 0:
        return _empty_ret()
    spans = end[valid] - va  # same-doc guaranteed, so plain difference
    ci = va // M
    uci, first = np.unique(ci, return_index=True)
    min_span = np.minimum.reduceat(spans, first)
    sel = np.flatnonzero(min_span <= max_span)
    hits = cands[uci[sel]]
    if not with_slack:
        return hits
    slack = (min_span[sel] - (L - 1)).astype(np.int64)
    if not with_window:
        return hits, slack
    counts = np.diff(np.concatenate([first, [ci.size]]))
    is_min = spans == np.repeat(min_span, counts)
    masked_start = np.where(is_min, va % M, np.iinfo(np.int64).max)
    ws = np.minimum.reduceat(masked_start, first)[sel]
    return hits, slack, ws, ws + min_span[sel]


def _span_hits(
    cands: np.ndarray, words: list[str], data: dict, gap: int,
    unordered: bool, with_slack: bool, with_window: bool = False,
):
    """(hits, slack | None) — the ONE dispatch between the three span
    filters (phrase adjacency / ordered chain / unordered window),
    shared verbatim by the distributed kernel and the local probe so
    their row-identity contract cannot drift. ``slack`` is None when
    the caller doesn't need it (no boost), else the per-hit minimal
    extra gap (0 for adjacency by definition).

    ``with_window=True`` returns ``(hits, slack, win_start,
    win_end)``: the LEFTMOST-minimal match window per hit across ALL
    THREE span filters (Lucene-highlighting parity; see
    :func:`_chain_survivors` / :func:`_window_survivors`), with slack
    always materialized."""
    if unordered:
        if with_window:
            return _window_survivors(cands, words, data, gap, with_window=True)
        if not with_slack:
            return _window_survivors(cands, words, data, gap), None
        return _window_survivors(cands, words, data, gap, with_slack=True)
    if with_window:
        if gap == 1:
            hits, ws, we = _phrase_survivors(cands, words, data, with_window=True)
            return hits, np.zeros(hits.size, dtype=np.int64), ws, we
        return _chain_survivors(cands, words, data, gap, with_window=True)
    if not with_slack:
        hits = (
            _phrase_survivors(cands, words, data)
            if gap == 1
            else _chain_survivors(cands, words, data, gap)
        )
        return hits, None
    if gap == 1:
        hits = _phrase_survivors(cands, words, data)
        return hits, np.zeros(hits.size, dtype=np.int64)  # adjacency ⇒ slack 0
    return _chain_survivors(cands, words, data, gap, with_slack=True)


def _boosted(scores: np.ndarray, slack, qterms: list[str], idf_map: dict, boost: float):
    """score + boost · Σidf / (1 + slack) — the one proximity-boost
    formula, shared by both serving paths; identity when slack is
    None (boost off)."""
    if slack is None:
        return scores
    idf_sum = float(sum(idf_map[t] for t in qterms))
    return scores + boost * (idf_sum / (1.0 + slack))


def search_index_phrase(
    reader: IndexReader,
    queries: list[dict],
    keep_boundary_ties: bool = False,
    max_gap: int = 1,
    distributed_idf: bool | None = None,
    proximity_boost: float = 0.0,
    unordered: bool = False,
    emit_windows: bool = False,
) -> DataFrame:
    """Index-only phrase retrieval: (qid, rank, docid, score) for
    phrase queries, verified from the POSITIONS stream — the stored
    text is never re-read (contrast topk.search_phrase, the
    positionless fallback). Requires a ``store_positions=True`` index.

    ``keep_boundary_ties`` has the ``search_index_wand`` contract:
    every shard emits all docs tying its k-th score and the global
    merge keeps every potential top-k member, for callers re-breaking
    ties under their own ordering (e.g. external doc_id).

    ``max_gap`` relaxes adjacency to ordered proximity (Lucene-style
    ordered slop): the words must appear in order with every
    consecutive in-doc gap in [1, max_gap]. The default 1 is exact
    phrase adjacency; larger gaps use the same candidate cut and
    positions streams with the chain filter (:func:`_chain_survivors`).
    A query dict may carry its own ``"gap"`` key to override
    ``max_gap`` per query — one batch can mix phrase and proximity
    retrieval.

    Rows are identical to the positionless plan: candidates = docs
    containing every distinct phrase term (conjunctive cut — a doc's
    postings all live in one shard, so the intersection is per-shard
    local), adjacency verified from decoded positions, survivors
    ranked by BM25 over the distinct terms under (score desc, docid
    asc). Decode volume per shard group is rarest-first: the least
    frequent phrase term decodes fully to seed the candidate set, and
    every other term decodes ONLY blocks whose (first_docid,
    last_docid) range overlaps surviving candidates — a phrase
    containing a stop-word-frequency term pays for the rare term's
    postings, not the stop word's (the block-skip analog of WAND's
    θ pruning, driven by the conjunctive cut instead of score
    bounds). The stored text is never read; that's the
    bytes-for-latency trade vs the text-fetch plan, and at 100 TB it
    removes the corpus random-read per query entirely.

    Mega-batch ready: the query plan ships as a BROADCAST variable
    (cached once per executor, previous calls' plan broadcasts
    unpersisted — the WAND path's discipline), and ``distributed_idf``
    (default: auto above ``SSSE_IDF_COLLECT_MAX`` distinct terms,
    100k) replaces the driver-collected idf dict + ``isin`` literal
    with a broadcast term⋈dictionary join whose idf values ride the
    block rows into each kernel — zero O(terms) driver state at
    10⁴-10⁶-phrase width. Results are identical either way
    (pytest-asserted at a 1000-phrase batch): with distributed idf the
    conjunctive any-OOV-term-voids-the-query rule moves into the
    kernel, where a query whose term has no postings in a group never
    emits there (an index-wide OOV term emits from no group — the
    same voiding).

    ``proximity_boost`` (default 0.0 = OFF; every oracle entry runs
    with it off and is unchanged) completes the Lucene analogy by
    RANKING on closeness, not just verifying it: score = BM25 +
    proximity_boost · Σ_t idf(t) / (1 + min_slack), where min_slack
    is the doc's minimal total extra gap over all valid ordered
    chains, (p_last − p_first) − (L−1) — 0 for an exact adjacent
    match, so tighter matches of the same terms rank higher and a
    ``max_gap=1`` query gets the constant full bonus. The match set
    is unchanged — the bonus only reorders docs that already
    qualify; semantics pinned by pytest.

    ``unordered`` switches to Lucene's UNORDERED SpanNear: the
    distinct query words must all appear inside some token window of
    SPAN ≤ ``max_gap`` (span = max − min position of the covering
    set), in any order (:func:`_window_survivors` — minimal-cover
    sweep anchored on every query-word occurrence). A query dict may
    carry its own ``"unordered"`` key, so one batch can mix phrase,
    ordered-slop, and unordered-window retrieval; with
    ``proximity_boost`` the slack is min_span − (L−1), the same
    formula as the ordered path.

    ``emit_windows=True`` appends two columns —
    ``win_start``, ``win_end``, 0-based token offsets of each hit's
    LEFTMOST-minimal match window (among chains achieving the doc's
    minimal span, the smallest end position; start = end − span;
    for unordered windows the smallest start, the same rule since
    equal spans make min start ≡ min end) — the Lucene-highlighting
    primitive: join docids back to stored text and slice tokens
    [win_start, win_end] to render snippets.
    Ranking and hit set are unchanged; the tie-break is deterministic
    so a SQL oracle reproduces the offsets exactly."""
    spark = reader.spark
    if not reader.stats.get("has_positions"):
        raise ValueError(
            "search_index_phrase needs a positions-enabled index — "
            "build with store_positions=True (falling back to "
            "topk.search_phrase re-reads stored text instead)"
        )
    # word ORDER and duplicates matter for phrases, so the plan keeps
    # each query's full word list (not _query_plan's distinct sets)
    tokenized = [
        (
            int(q["qid"]), int(q["k"]), tokenize(q["query"]),
            int(q.get("gap", max_gap)), bool(q.get("unordered", unordered)),
        )
        for q in queries
    ]
    terms = sorted({t for _, _, ws, _, _ in tokenized for t in ws})
    if distributed_idf is None:
        distributed_idf = len(terms) > int(os.environ.get("SSSE_IDF_COLLECT_MAX", "100000"))
    if distributed_idf:
        idf_map = None
        known_plan = [p for p in tokenized if p[2]]
    else:
        idf_map = reader.idf_map(terms)
        # conjunctive semantics: any unknown term voids its query
        known_plan = [
            p for p in tokenized if p[2] and all(t in idf_map for t in p[2])
        ]
    if not known_plan:
        return _empty_result(spark)
    avgdl = float(reader.stats["avgdl"])
    used = sorted({t for _, _, ws, _, _ in known_plan for t in ws})
    # plan + idf map as a broadcast (cached once per executor), not a
    # UDF closure (re-shipped per task) — the WAND path's pattern incl.
    # the unpersist-previous-calls discipline (_LIVE_PLAN_BROADCASTS)
    bc = _rotate_plan_broadcast(spark, (known_plan, idf_map, avgdl))

    per_cpu = int(os.environ.get("SSSE_WAND_GROUPS_PER_CPU", "4"))
    n_groups = per_cpu * int(spark.conf.get("spark.sql.shuffle.partitions"))
    base = reader.postings(positions=True)
    if distributed_idf:
        # term filter as a broadcast JOIN instead of a 10⁵+-string isin
        # literal; idf rides the block rows (rebuilt per group below)
        terms_df = local_df(spark, [(t,) for t in used], "term string")
        term_idf = reader.dictionary().join(F.broadcast(terms_df), "term").select("term", "idf")
        blocks = base.join(F.broadcast(term_idf), "term")
    else:
        blocks = base.filter(F.col("term").isin(used))
    # explicit count: exempt from AQE coalescing (see search_index_wand)
    blocks = blocks.withColumn(
        "_qgroup", F.pmod(F.col("shard"), F.lit(n_groups))
    ).repartition(n_groups, "_qgroup")

    def phrase_shard(key, pdf: pd.DataFrame) -> pd.DataFrame:
        known_plan, idf_map, avgdl = bc.value
        if idf_map is None:  # distributed idf: rebuild this group's slice
            idf_map = {
                t: float(v) for t, v in zip(pdf["term"].to_numpy(), pdf["idf"].to_numpy())
            }
        out_cols = [("qid", "int32"), ("k", "int32"), ("docid", "int64"), ("score", "float64")]
        if emit_windows:
            out_cols += [("win_start", "int64"), ("win_end", "int64")]
        empty = pd.DataFrame({c: pd.Series(dtype=t) for c, t in out_cols})
        if len(pdf) == 0:
            return empty
        # blocks grouped per term, NOT decoded yet — decode is driven
        # rarest-first per query below. Runs are first_docid-ordered and
        # docid-disjoint, so any subset's concatenation is sorted-unique.
        # ONE sort + plain NumPy column arrays with a (start, end) slice
        # per term: the per-term pandas sub-DataFrames this replaces
        # spent more kernel time in pandas bookkeeping (per-term
        # sort_values, Series.sum, __getitem__) than in decode + span
        # verification combined (profiled at 10³-query width).
        pdf = pdf.sort_values(["term", "first_docid"], kind="stable", ignore_index=True)
        term_np = pdf["term"].to_numpy()
        first_np = pdf["first_docid"].to_numpy()
        last_np = pdf["last_docid"].to_numpy()
        n_np = pdf["n"].to_numpy()
        dbin_np = pdf["docids_bin"].to_numpy()
        tbin_np = pdf["tfs_bin"].to_numpy()
        lbin_np = pdf["dls_bin"].to_numpy()
        pbin_np = pdf["positions_bin"].to_numpy()
        blk_new = np.concatenate([[True], term_np[1:] != term_np[:-1]])
        t_starts = np.flatnonzero(blk_new)
        t_ends = np.concatenate([t_starts[1:], [len(term_np)]])
        by_term = {
            term_np[s]: (int(s), int(e)) for s, e in zip(t_starts, t_ends)
        }
        n_sum = {t: int(n_np[s:e].sum()) for t, (s, e) in by_term.items()}
        full_cache: dict[str, tuple] = {}

        def decode_rows(idx) -> tuple:
            d, tf, dl, _ = decode_blocks_batch(
                first_np[idx], n_np[idx], dbin_np[idx], tbin_np[idx], lbin_np[idx]
            )
            pos, rs = decode_positions(tf, pbin_np[idx])
            return (d, tf, dl, pos, rs)

        # a term used by SEVERAL of the batch's queries decodes FULLY
        # once and is reused (results identical — the span filters and
        # scorer searchsorted candidates into the term's arrays, so a
        # superset decode changes nothing). The per-query candidate-
        # driven subset decode below stays the path for single-use
        # terms, where it is strictly cheaper; at mega-batch width the
        # vocabulary repeats heavily and re-selecting overlapping block
        # subsets per query was the kernel's hot spot. SIZE GUARD: a
        # subset decode touches ≥1 block per use, so full decode (B
        # blocks) can only pay off when B is within a small multiple of
        # the term's use count — without it, two queries sharing one
        # stop-word would decode the index's largest positions stream
        # fully and pin it in full_cache (the small-batch anti-case).
        from collections import Counter

        use_counts = Counter(t for _, _, ws, _, _ in known_plan for t in set(ws))

        def full_decode(t: str) -> tuple:
            if t not in full_cache:
                s, e = by_term[t]
                full_cache[t] = decode_rows(slice(s, e))
            return full_cache[t]

        def prefer_full(t: str) -> bool:
            s, e = by_term[t]
            return t in full_cache or (
                use_counts[t] >= 2 and (e - s) <= 8 * use_counts[t]
            )

        # accumulate plain arrays and build ONE DataFrame per group —
        # a per-query pd.DataFrame costs ~100 µs of constructor
        # overhead, which at (10³ queries × n_groups) was a measured
        # ~20% of the whole mega-batch (the wand_shard_vec discipline)
        out_qid, out_k, out_docid, out_score = [], [], [], []
        out_ws, out_we = [], []
        for qid, k, words, gap, uo in known_plan:
            qterms = sorted(set(words))
            if any(t not in by_term for t in qterms):
                continue  # conjunctive: all terms must appear in this group
            # rarest term first (fewest postings in this group): decode
            # it fully; every later term decodes only blocks overlapping
            # the surviving candidate set. Coverage invariant: a final
            # hit's posting in term t lives in a block whose range
            # contains the hit, and the hit was a candidate when t's
            # blocks were selected — so kept blocks cover every hit for
            # both verification and scoring.
            order_t = sorted(qterms, key=lambda t: (n_sum[t], t))
            data: dict[str, tuple] = {order_t[0]: full_decode(order_t[0])}
            cands = data[order_t[0]][0]
            for t in order_t[1:]:
                if cands.size == 0:
                    break
                if prefer_full(t):
                    data[t] = full_decode(t)
                    cands = np.intersect1d(cands, data[t][0], assume_unique=True)
                    continue
                s, e = by_term[t]
                lo = np.searchsorted(cands, first_np[s:e])
                hi = np.searchsorted(cands, last_np[s:e], side="right")
                sel = np.flatnonzero(hi > lo)
                if sel.size == 0:
                    cands = np.empty(0, dtype=np.int64)
                    break
                data[t] = decode_rows(sel + s)
                cands = np.intersect1d(cands, data[t][0], assume_unique=True)
            if cands.size == 0:
                continue
            if emit_windows:
                hits, slack, ws, we = _span_hits(
                    cands, words, data, gap, uo, True, with_window=True
                )
                if proximity_boost == 0.0:
                    slack = None  # boost off ignores slack (exact identity)
            else:
                ws = we = None
                hits, slack = _span_hits(
                    cands, words, data, gap, uo, proximity_boost != 0.0
                )
            if hits.size == 0:
                continue
            per_term = {t: (data[t][0], data[t][1], data[t][2]) for t in qterms}
            scores = _boosted(
                _score_candidates(hits, per_term, idf_map, avgdl),
                slack, qterms, idf_map, proximity_boost,
            )
            if scores.size > k:
                kth = np.partition(scores, scores.size - k)[scores.size - k]
                sel = np.flatnonzero(scores >= kth)
                hits, scores = hits[sel], scores[sel]
                if ws is not None:
                    ws, we = ws[sel], we[sel]
            order = np.lexsort((hits, -scores))
            if not keep_boundary_ties:
                order = order[:k]
            out_qid.append(np.full(order.size, qid, dtype=np.int32))
            out_k.append(np.full(order.size, k, dtype=np.int32))
            out_docid.append(hits[order])
            out_score.append(scores[order])
            if ws is not None:
                out_ws.append(ws[order])
                out_we.append(we[order])
        if not out_qid:
            return empty
        out = {
            "qid": np.concatenate(out_qid),
            "k": np.concatenate(out_k),
            "docid": np.concatenate(out_docid),
            "score": np.concatenate(out_score),
        }
        if emit_windows:
            out["win_start"] = np.concatenate(out_ws)
            out["win_end"] = np.concatenate(out_we)
        return pd.DataFrame(out)

    schema = (
        RESULT_SCHEMA + ", win_start long, win_end long"
        if emit_windows else RESULT_SCHEMA
    )
    extra = ["win_start", "win_end"] if emit_windows else []
    local = blocks.groupBy("_qgroup").applyInPandas(phrase_shard, schema)
    if keep_boundary_ties:
        w = Window.partitionBy("qid").orderBy(F.desc("score"))
        return (
            local.withColumn("rank", F.rank().over(w))
            .filter(F.col("rank") <= F.col("k"))
            .select("qid", "rank", "docid", "score", *extra)
        )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("docid"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.col("k"))
        .select("qid", "rank", "docid", "score", *extra)
    )


class LocalIndexProbe:
    """Driver-local single-query BM25 top-k over a saved index
    directory — the text-side twin of ``similarity.LocalIVFProbe``.

    The distributed paths are the right plan for query BATCHES (one
    amortized job), but a single k≤10 lookup pays the ~0.3 s Spark
    job-scheduling floor for a 10-row answer. This probe serves it
    entirely in-process. It reads the index ONCE, at open: the
    postings' compressed block columns, sorted by
    ``(term, first_docid)`` into one contiguous Arrow table, and the
    dictionary's ``(term, idf)`` sorted by term. A query then touches
    only its terms' blocks: a binary search of the term columns finds
    each term's contiguous row range (OOV = not in the dictionary), and
    the range's slice of each payload column's values buffer is decoded
    by the shared vectorized varint codec and scored by the SAME
    ``_score_candidates`` kernel with the same sorted-term float64
    accumulation order and the same (score desc, docid asc) tie rule —
    so rows are identical to ``search_index_wand`` /
    ``search_index_exhaustive`` at θ·1.0 (pytest-asserted). The
    reference's serving shape (its ``src/IVF.py:159-191``: map the
    packed segments once, touch only probed regions, heapq the
    candidates) re-derived for the text index.

    Memory: the index's compressed postings stay resident (about their
    parquet bytes on disk), plus an LRU of the most recent
    ``cache_terms`` terms' DECODED postings (and idf), so hot-term
    serving skips the decode too. Because nothing is read after open,
    the probe keeps serving the snapshot it opened even when a later
    ``finalize_index`` rewrites the directory."""

    def __init__(self, index_dir: str, cache_terms: int = 4096, arrow_threads: int | None = None):
        from collections import OrderedDict

        import pyarrow as pa
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq

        # OMP_NUM_THREADS=1 (common in Spark drivers) pins pyarrow's
        # compute pool to one thread and serializes fragment decode —
        # same fix as LocalIVFProbe (see its __init__ note)
        want = arrow_threads or min(8, os.cpu_count() or 8)
        if pa.cpu_count() < want:
            pa.set_cpu_count(want)

        self.index_dir = index_dir
        stats = pq.read_table(f"{index_dir}/stats").to_pylist()[0]
        self.avgdl = float(stats["avgdl"])
        self.n_docs = int(stats["n_docs"])
        self.total_tokens = int(stats.get("total_tokens", 0))
        self.has_positions = bool(stats.get("has_positions", False))

        def read_sorted(sub: str, cols: list[str], keys: list[str]) -> dict:
            # an index whose docs all tokenized empty has no term rows:
            # its parquet dirs carry no schema to select from
            dset = ds.dataset(f"{index_dir}/{sub}", format="parquet")
            if "term" not in dset.schema.names:
                return {c: np.empty(0, dtype=object if c == "term" else np.int64) for c in cols}
            tbl = dset.to_table(columns=cols)
            # 64-bit offsets: the sorted payload columns concatenate
            # into one chunk each, which may outgrow 2 GiB
            tbl = tbl.cast(pa.schema([
                pa.field(f.name, pa.large_binary()) if pa.types.is_binary(f.type) else f
                for f in tbl.schema
            ]))
            tbl = tbl.sort_by([(k, "ascending") for k in keys])
            out = {}
            for c in cols:
                arr = tbl.column(c).combine_chunks()
                if pa.types.is_large_binary(arr.type):
                    _, offsets, values = arr.buffers()
                    out[c] = (
                        np.frombuffer(offsets, dtype=np.int64)[arr.offset : arr.offset + len(arr) + 1],
                        np.frombuffer(values, dtype=np.uint8),
                    )
                else:
                    out[c] = arr.to_numpy(zero_copy_only=False)
            return out

        cols = ["term", "first_docid", "n", "docids_bin", "tfs_bin", "dls_bin"]
        if self.has_positions:
            cols.append("positions_bin")
        self._blocks = read_sorted("postings", cols, ["term", "first_docid"])
        dictionary = read_sorted("dictionary", ["term", "idf"], ["term"])
        self._terms, self._idf = dictionary["term"], dictionary["idf"]
        # term -> (idf, docids, tfs, dls, positions|None, run_starts|None)
        # | None for known-OOV terms
        self._cache: "OrderedDict[str, tuple | None]" = OrderedDict()
        self._cache_cap = cache_terms

    def _payload(self, col: str, lo: int, hi: int) -> list:
        """Rows [lo, hi)'s ``col`` payloads as ONE buffer slice — the
        blocks are contiguous in the column's values buffer, so their
        concatenation is a single zero-copy view."""
        offsets, values = self._blocks[col]
        return [values[offsets[lo] : offsets[hi]]]

    def _load_terms(self, terms: list[str], positions: bool = False) -> dict[str, tuple]:
        miss = [
            t for t in terms
            if t not in self._cache
            or (positions and self._cache[t] is not None and self._cache[t][4] is None)
        ]
        if miss:
            keys = np.array(miss, dtype=object)
            at = np.searchsorted(self._terms, keys)
            known = np.zeros(len(miss), dtype=bool)
            ok = at < self._terms.size
            known[ok] = self._terms[at[ok]] == keys[ok]
            b = self._blocks
            los = np.searchsorted(b["term"], keys, side="left")
            his = np.searchsorted(b["term"], keys, side="right")
            for t, i, is_known, lo, hi in zip(miss, at, known, los, his):
                if not is_known:
                    self._cache[t] = None  # OOV — cached as such
                    continue
                d, tf, dl, _ = decode_blocks_batch(
                    b["first_docid"][lo:hi], b["n"][lo:hi],
                    self._payload("docids_bin", lo, hi),
                    self._payload("tfs_bin", lo, hi),
                    self._payload("dls_bin", lo, hi),
                )
                # shards are docid-disjoint and runs are first_docid-
                # ordered, so the concatenation is already sorted-unique
                if positions:
                    pos, rs = decode_positions(tf, self._payload("positions_bin", lo, hi))
                else:
                    pos, rs = None, None
                self._cache[t] = (float(self._idf[i]), d, tf, dl, pos, rs)
        out = {}
        for t in terms:
            self._cache.move_to_end(t)
            if self._cache[t] is not None:
                out[t] = self._cache[t]
        while len(self._cache) > self._cache_cap:
            self._cache.popitem(last=False)
        return out

    def search_batch(
        self,
        queries: list[str],
        k: int = 10,
        excludes: list[str] | None = None,
    ) -> list[list[tuple[int, int, float]]]:
        """Per-query results for a BATCH of queries: ``search`` on each,
        in order. ``excludes`` is the per-query MUST_NOT list (parallel
        to ``queries``; "" or None = no exclusion for that slot) with
        the same contract as ``search(exclude=)``."""
        if excludes is not None and len(excludes) != len(queries):
            raise ValueError(
                f"excludes must parallel queries: {len(excludes)} != {len(queries)}"
            )
        xs = excludes if excludes is not None else [""] * len(queries)
        return [self.search(q, k=k, exclude=x or "") for q, x in zip(queries, xs)]

    def search(
        self, query: str, k: int = 10, exclude: str = ""
    ) -> list[tuple[int, int, float]]:
        """[(rank, docid, score)] — identical rows to the distributed
        exact paths for this (query, k). ``exclude`` is the MUST_NOT
        contract of ``search_index_wand``: its tokens disqualify docs
        BEFORE top-k; surviving scores are unchanged (exclusion is a
        filter), so rows stay identical to the distributed boolean
        path. Excluded terms' postings cache in the same LRU."""
        terms = sorted(set(tokenize(query)))
        loaded = self._load_terms(terms)
        if not loaded:
            return []
        idf_map = {t: v[0] for t, v in loaded.items()}
        per_term = {t: (v[1], v[2], v[3]) for t, v in loaded.items()}
        cands = np.unique(np.concatenate([v[1] for v in loaded.values()]))
        xterms = sorted(set(tokenize(exclude))) if exclude else []
        if xterms:
            xloaded = self._load_terms(xterms)
            if xloaded:
                xdocs = np.concatenate([v[1] for v in xloaded.values()])
                cands = cands[~np.isin(cands, xdocs)]
                if cands.size == 0:
                    return []
        scores = _score_candidates(cands, per_term, idf_map, self.avgdl)
        if scores.size > k:
            kth = np.partition(scores, scores.size - k)[scores.size - k]
            sel = np.flatnonzero(scores >= kth)
            cands, scores = cands[sel], scores[sel]
        order = np.lexsort((cands, -scores))[:k]
        return [(r + 1, int(cands[i]), float(scores[i])) for r, i in enumerate(order)]

    def search_qld(
        self, query: str, k: int = 10, mu: float = 2000.0
    ) -> list[tuple[int, int, float]]:
        """[(rank, docid, score)] under Dirichlet query likelihood —
        the third serving tier of the similarity switch (text path:
        ``topk.search_lm_dirichlet``; distributed index:
        ``search_index_qld``; HERE: driver-local, no Spark job), same
        pinned formula and tie rule, identical rows to the distributed
        path (pytest-asserted). cf comes from the probe's own loaded
        postings (each term's FULL posting list is resident, so the
        sum is exact); T from the index stats."""
        terms = sorted(set(tokenize(query)))
        loaded = self._load_terms(terms)
        if not loaded:
            return []
        T = float(self.total_tokens)
        L = float(len(loaded))
        cands = np.unique(np.concatenate([v[1] for v in loaded.values()]))
        scores = np.zeros(cands.size, dtype=np.float64)
        dl_arr = np.zeros(cands.size, dtype=np.float64)
        for t in sorted(loaded):
            _, d, tf, dl = loaded[t][0], loaded[t][1], loaded[t][2], loaded[t][3]
            cf = float(tf.sum())
            pos = np.searchsorted(d, cands)
            pos_c = np.minimum(pos, d.size - 1)
            hit = d[pos_c] == cands
            if hit.any():
                scores[hit] += np.log(
                    1.0 + tf[pos_c[hit]].astype(np.float64) / (mu * (cf / T))
                )
                dl_arr[hit] = dl[pos_c[hit]].astype(np.float64)
        scores += L * np.log(mu / (dl_arr + mu))
        if scores.size > k:
            kth = np.partition(scores, scores.size - k)[scores.size - k]
            sel = np.flatnonzero(scores >= kth)
            cands, scores = cands[sel], scores[sel]
        order = np.lexsort((cands, -scores))[:k]
        return [(r + 1, int(cands[i]), float(scores[i])) for r, i in enumerate(order)]

    def search_phrase(
        self, phrase: str, k: int = 10, max_gap: int = 1,
        proximity_boost: float = 0.0, unordered: bool = False,
        return_window: bool = False,
    ) -> list[tuple]:
        """[(rank, docid, score)] — phrase (adjacency-exact, ordered
        proximity with ``max_gap`` > 1, or unordered NEAR-window with
        ``unordered=True``) top-k from the positions stream, identical
        rows to ``search_index_phrase`` for this (phrase, k, max_gap,
        proximity_boost, unordered). Needs a ``store_positions=True``
        index. ``proximity_boost`` has the distributed path's
        semantics (BM25 + boost · Σidf/(1+min_slack), default OFF).

        ``return_window=True`` appends the
        leftmost-minimal match window: [(rank, docid, score,
        win_start, win_end)] with 0-based token offsets — the
        Lucene-highlighting primitive (slice the doc's tokens at
        [win_start, win_end] to render the snippet). Ranking is
        unchanged."""
        # an index with zero postings has no positions to miss: every
        # phrase term is OOV there, so it answers [] below
        if not self.has_positions and self._terms.size:
            raise ValueError(
                "LocalIndexProbe.search_phrase needs a positions-enabled "
                "index — build with store_positions=True"
            )
        words = tokenize(phrase)
        if not words:
            return []
        qterms = sorted(set(words))
        loaded = self._load_terms(qterms, positions=True)
        if len(loaded) < len(qterms):
            return []  # conjunctive: any OOV term voids the phrase
        idf_map = {t: v[0] for t, v in loaded.items()}
        data = {t: (v[1], v[2], v[3], v[4], v[5]) for t, v in loaded.items()}
        cands = data[qterms[0]][0]
        for t in qterms[1:]:
            cands = np.intersect1d(cands, data[t][0], assume_unique=True)
            if cands.size == 0:
                return []
        if return_window:
            hits, slack, ws, we = _span_hits(
                cands, words, data, max_gap, unordered, True, with_window=True
            )
            if proximity_boost == 0.0:
                slack = None  # exact-identity path: boost off ignores slack
        else:
            ws = we = None
            hits, slack = _span_hits(
                cands, words, data, max_gap, unordered, proximity_boost != 0.0
            )
        if hits.size == 0:
            return []
        per_term = {t: (data[t][0], data[t][1], data[t][2]) for t in qterms}
        scores = _boosted(
            _score_candidates(hits, per_term, idf_map, self.avgdl),
            slack, qterms, idf_map, proximity_boost,
        )
        if scores.size > k:
            kth = np.partition(scores, scores.size - k)[scores.size - k]
            sel = np.flatnonzero(scores >= kth)
            hits, scores = hits[sel], scores[sel]
            if ws is not None:
                ws, we = ws[sel], we[sel]
        order = np.lexsort((hits, -scores))[:k]
        if ws is not None:
            return [
                (r + 1, int(hits[i]), float(scores[i]), int(ws[i]), int(we[i]))
                for r, i in enumerate(order)
            ]
        return [(r + 1, int(hits[i]), float(scores[i])) for r, i in enumerate(order)]


def render_snippets(
    hits: DataFrame,
    docs: DataFrame,
    pad: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Window offsets → snippet TEXT: join window-bearing hits (the
    ``emit_windows=True`` output mapped to external ids) back to the
    stored corpus, re-tokenize JVM-side with the pinned tokenizer, and
    slice tokens ``[win_start − pad, win_end + pad]`` (clamped) into a
    space-joined snippet — the last step of Lucene-style highlighting,
    as pure column expressions (no UDF, no Python).

    100-TB shape: hits are k rows per query — broadcast them and scan
    the corpus ONCE with the join pushed down; the corpus side never
    shuffles. Offsets index the pinned tokenizer's stream, so the
    snippet provably contains the match (oracle-checked end to end)."""
    from ..functions.tokenizer import tokens_col

    if pad < 0:
        raise ValueError(f"pad must be >= 0, got {pad}")
    ts = tokens_col(F.col(text_col))
    start = F.greatest(F.col("win_start") - pad, F.lit(0))
    end = F.least(F.col("win_end") + pad, F.size(ts) - 1)
    snippet = F.concat_ws(" ", F.slice(ts, start + 1, end - start + 1))
    return (
        docs.select(id_col, text_col)
        .join(F.broadcast(hits), id_col)
        .select(*[c for c in hits.columns], snippet.alias("snippet"))
    )


def local_snippets(
    index_dir: str,
    corpus_path: str,
    hits: list[tuple],
    pad: int = 2,
    id_col: str = "url",
    text_col: str = "text",
) -> list[tuple]:
    """Driver-local twin of :func:`render_snippets` for
    ``LocalIndexProbe.search_phrase(return_window=True)`` output —
    window offsets → snippet TEXT without a Spark job, completing the
    probe serving path (search → window → rendered highlight) for
    single interactive lookups.

    ``hits`` rows are ``(rank, docid, score, win_start, win_end)``;
    returns the same rows extended with ``(doc_key, snippet)``. The
    internal docids resolve through the index's own ``docmap`` and the
    text through a ``doc-key``-filtered pyarrow read of the stored
    corpus.
    Tokenization is the pinned Python ``tokenize`` (pytest-pinned to
    the JVM ``tokens_col``), and the slice/clamp algebra is the same
    expression, so the snippet STRING is identical to the distributed
    renderer's for the same hit (pytest-asserted). Like the probe's
    postings reads, this trusts committed-compaction GC (docmap rows
    are deduped by docid as a crash-window guard)."""
    import pyarrow.dataset as ds

    if pad < 0:
        raise ValueError(f"pad must be >= 0, got {pad}")
    if not hits:
        return []
    docids = sorted({int(h[1]) for h in hits})
    dm = ds.dataset(f"{index_dir}/docmap", format="parquet").to_table(
        columns=["docid", "url"], filter=ds.field("docid").isin(docids)
    )
    key_by_docid: dict[int, str] = {}
    for d, u in zip(dm["docid"].to_pylist(), dm["url"].to_pylist()):
        key_by_docid.setdefault(int(d), u)
    missing = [d for d in docids if d not in key_by_docid]
    if missing:
        raise KeyError(f"docids absent from {index_dir}/docmap: {missing[:5]}")
    keys = sorted(set(key_by_docid.values()))
    ct = ds.dataset(corpus_path, format="parquet").to_table(
        columns=[id_col, text_col], filter=ds.field(id_col).isin(keys)
    )
    text_by_key = dict(zip(ct[id_col].to_pylist(), ct[text_col].to_pylist()))
    miss_txt = [k for k in keys if k not in text_by_key]
    if miss_txt:
        raise KeyError(f"doc keys absent from corpus {corpus_path}: {miss_txt[:5]}")
    out = []
    for h in hits:
        docid, ws, we = int(h[1]), int(h[-2]), int(h[-1])
        key = key_by_docid[docid]
        toks = tokenize(text_by_key[key])
        lo = max(ws - pad, 0)
        hi = min(we + pad, len(toks) - 1)
        out.append(tuple(h) + (key, " ".join(toks[lo : hi + 1])))
    return out
