"""The three workloads: ``bulk_build``, ``serve`` and ``ingest_stream``.

Each is a closed loop with one caller: every engine entry point is a
blocking in-process call, and ingest/compaction are single-writer. A
workload writes its inputs (``make_inputs``, untimed), gets ready
(``setup``, timed as ``setup_s``), then runs measured passes
(``run_pass``). Engine calls go through module attributes
(``build.build_segments`` rather than an imported name) so that the
traced pass can replace them with recording wrappers.
"""

from __future__ import annotations

import contextlib
import inspect
import math
import os
import re
import shutil
import statistics
import sys
import time
import traceback
import weakref
from collections import OrderedDict
from dataclasses import dataclass, field

import pandas as pd
import pyarrow.compute as pc
import pyarrow.dataset as ds

from semantic_search_engine_spark.operators import build, query
from semantic_search_engine_spark.sources import index_store

import inputs
from oracle import Oracle, matches
from spans import dir_state

_TOKEN = re.compile(r"[a-z0-9]+")
K = 10


def terms_of(text: str) -> list[str]:
    return sorted(set(_TOKEN.findall(text.lower())))


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def dir_bytes(path: str) -> int:
    return sum(sz for sz, _ in dir_state(path).values())


@dataclass
class Pass:
    """What one measured pass observed."""

    ops: list[float] = field(default_factory=list)  # the workload's op latencies, s
    items: float = 0.0  # docs ingested
    busy_s: float = 0.0  # timed write work
    items_per_s: float = 0.0
    index_ratio: list[float] = field(default_factory=list)
    probe_lat: list[float] = field(default_factory=list)  # term probes, s
    probe_hit: list[bool] = field(default_factory=list)
    phrase_lat: list[float] = field(default_factory=list)
    report: dict = field(default_factory=dict)


class Ctx:
    """Per-run state shared by a workload's steps."""

    def __init__(self, spark, work: str, seed: int, rec):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.rec = rec
        self.attempted = 0
        self.failed = 0
        self.checked = 0
        self.text_in = 0  # text bytes handed to write calls while tracing
        self.index_dir = ""  # the index per-layer byte metrics describe
        self.queries: list[str] = []  # sample for posting_bytes_per_query
        # per probe instance: the terms this benchmark sent it, least
        # recent first, trimmed to the probe's LRU capacity
        self.sent_terms: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
        self.evicted = 0  # terms trimmed from ``sent_terms`` while measuring
        self.pending: list[tuple] = []  # results awaiting the oracle
        self._rid = 0

    def log(self, what: str, since: float) -> None:
        """Progress line on stderr: ``what`` took since ``since``."""
        print(f"[perfbench] {what}: {time.perf_counter() - since:.2f} s", file=sys.stderr, flush=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def docs(self, path: str, text_bytes: int):
        """The materialized parquet input as a DataFrame."""
        if self.rec.enabled:
            self.text_in += text_bytes
        return self.spark.read.parquet(path)

    def probe_search(self, probe, text: str, p: Pass, phrase: bool = False):
        """One timed probe request; a raise counts as a failed op."""
        self.attempted += 1
        self._rid += 1
        hit = self.send_terms(probe, terms_of(text))
        try:
            with self.rec.request(self._rid):
                t0 = time.perf_counter()
                res = probe.search_phrase(text, k=K) if phrase else probe.search(text, k=K)
                dt = time.perf_counter() - t0
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        if phrase:
            p.phrase_lat.append(dt)
        else:
            p.probe_lat.append(dt)
            p.probe_hit.append(hit)
        return [(d, s) for _, d, s in res]

    def send_terms(self, probe, terms: list[str]) -> bool:
        """Record that ``terms`` go to ``probe``; True when all of them
        were among the last ``cache_terms`` distinct terms sent to it,
        that is, resident in its LRU of decoded postings."""
        sent = self.sent_terms.setdefault(probe, OrderedDict())
        hit = all(t in sent for t in terms)
        for t in terms:
            sent[t] = None
            sent.move_to_end(t)
        cap = cache_terms(probe)
        while len(sent) > cap:
            sent.popitem(last=False)
            self.evicted += 1
        return hit

    def check_later(self, index_dir: str, documents: pd.DataFrame, terms: list,
                    phrases: list = ()) -> None:
        """Queue engine top-k lists [(text, got)] for verification
        against ``documents`` through the index's docmap. The oracle
        runs after the run's memory is read, so its footprint stays out
        of ``peak_rss_mb``."""
        docmap = index_store.read_docmap(self.spark, index_dir).select("docid", "url").toPandas()
        self.pending.append((documents, docmap, list(terms), list(phrases)))

    def run_checks(self) -> None:
        """Verify every queued result; each mismatch is a failed op."""
        oracle, key = None, None
        for documents, docmap, terms, phrases in self.pending:
            if key is None or key[0] is not documents or not key[1].equals(docmap):
                if oracle is not None:
                    oracle.close()
                oracle, key = Oracle(documents, docmap), (documents, docmap)
            self._verify(oracle, terms, phrases)
        if oracle is not None:
            oracle.close()
        self.pending.clear()

    def _verify(self, oracle: Oracle, terms: list, phrases: list) -> None:
        for items, fn in ((terms, oracle.topk), (phrases, oracle.phrase_topk)):
            items = [(q, got) for q, got in items if got is not None]
            if not items:
                continue
            want = fn([(i, q, K) for i, (q, _) in enumerate(items)])
            for i, (q, got) in enumerate(items):
                self.checked += 1
                if not matches(got, want[i], K):
                    self.failed += 1
                    print(f"oracle mismatch: {q!r}: got {got[:3]}... want {want[i][0][:3]}...",
                          file=sys.stderr)

    def probing(self):
        """Traced pass: record the codec calls the driver-local probe
        makes. Only around probe use — Spark kernels pickle the same
        module global, and the wrapper must not reach them."""
        if not self.rec.enabled:
            return contextlib.nullcontext()
        orig = query.decode_blocks_batch
        wrapped = self.rec.counted(orig, "codec.decode_blocks_batch", lambda a: a[1].sum())

        @contextlib.contextmanager
        def patched():
            query.decode_blocks_batch = wrapped
            try:
                yield
            finally:
                query.decode_blocks_batch = orig

        return patched()


def cache_terms(probe) -> int:
    """How many terms' decoded postings ``probe`` keeps resident."""
    return getattr(probe, "_cache_cap", 4096)


def posting_bytes_per_query(index_dir: str, queries: list[str]) -> float:
    """Mean stored bytes of the posting blocks a query's terms read."""
    dset = ds.dataset(os.path.join(index_dir, "postings"), format="parquet")
    cols = [c for c in ("docids_bin", "tfs_bin", "dls_bin", "positions_bin") if c in dset.schema.names]
    terms = sorted({t for q in queries for t in terms_of(q)})
    tbl = dset.to_table(columns=["term"] + cols, filter=ds.field("term").isin(terms))
    size = pc.binary_length(tbl.column(cols[0]))
    for c in cols[1:]:
        size = pc.add(size, pc.binary_length(tbl.column(c)))
    per_term: dict[str, int] = {}
    for t, b in zip(tbl.column("term").to_pylist(), size.to_pylist()):
        per_term[t] = per_term.get(t, 0) + b
    return statistics.fmean(sum(per_term.get(t, 0) for t in terms_of(q)) for q in queries)


class BulkBuild:
    """Repeated build_segments + finalize_index of one corpus, each into
    a fresh directory, no positions."""

    name = "bulk_build"
    TOUCH = ("write", "read")  # entry points a traced run adds in set-up
    N_DOCS = 10_000
    N_CHECK = 40

    def make_inputs(self, ctx: Ctx) -> None:
        corpus = inputs.corpus(ctx.seed, 1, self.N_DOCS)
        self.corpus_path = inputs.write(corpus, ctx.path("in", "corpus.parquet"))
        self.documents = corpus.to_pandas()
        self.text_bytes = inputs.text_bytes(corpus)
        self.checks = inputs.term_queries(ctx.seed, 2, self.N_CHECK)
        ctx.queries = self.checks

    def _build(self, ctx: Ctx, d: str) -> float:
        docs = ctx.docs(self.corpus_path, self.text_bytes)
        t0 = time.perf_counter()
        build.build_segments(docs, d)
        build.finalize_index(ctx.spark, d)
        return time.perf_counter() - t0

    def setup(self, ctx: Ctx) -> None:
        d = ctx.path("warm-build")
        self._build(ctx, d)  # first calls run ~2x slower: untimed
        with ctx.probing():
            query.LocalIndexProbe(d).search(self.checks[0], k=K)
        shutil.rmtree(d)

    def _check(self, ctx: Ctx, d: str, p: Pass) -> None:
        with ctx.probing():
            probe = query.LocalIndexProbe(d)
            got = [(q, ctx.probe_search(probe, q, p)) for q in self.checks]
        ctx.check_later(d, self.documents, got)

    def run_pass(self, ctx: Ctx, seconds: float, tag: str) -> Pass:
        p = Pass()
        prev = None
        while p.busy_s < seconds:
            d = ctx.path(f"bulk-{tag}-{len(p.ops)}")
            ctx.attempted += 1
            dt = self._build(ctx, d)
            p.ops.append(dt)
            p.busy_s += dt
            p.index_ratio.append(dir_bytes(d) / self.text_bytes)
            if len(p.ops) == 1:
                self._check(ctx, d, p)  # the first build of the pass
            if prev:
                shutil.rmtree(prev)
            prev = ctx.index_dir = d
        if len(p.ops) > 1:
            self._check(ctx, prev, p)  # and the last
        # timing metrics describe builds only; the check probes above
        # feed the per-layer probe metrics of a traced pass
        p.report = {
            "build_docs_per_s": (statistics.median(self.N_DOCS / t for t in p.ops), "docs/s"),
            "index_bytes_per_text_byte": (statistics.median(p.index_ratio), "ratio"),
            "builds": (len(p.ops), "count"),
        }
        p.items_per_s = statistics.median(self.N_DOCS / t for t in p.ops)
        return p


@dataclass
class QueryLog:
    """One seeded request log: (is_phrase, text) pairs."""

    requests: list
    start: int  # the first request after the probe's LRU has filled
    cursor: int = 0  # the next request to send


def resident(requests: list, end: int, cap: int) -> list[str]:
    """The LRU's content after ``requests[:end]``: their last ``cap``
    distinct terms, least recently used first. A request touches its
    terms in sorted order, as the probe does."""
    seen: dict[str, None] = {}
    for i in range(end - 1, -1, -1):
        for t in reversed(terms_of(requests[i][1])):
            if t not in seen:
                seen[t] = None
                if len(seen) == cap:
                    return list(reversed(seen))
    return list(reversed(seen))


class Serve:
    """Closed-loop probe/phrase requests over a positions index, then
    fixed-width distributed WAND batches."""

    name = "serve"
    TOUCH = ("write",)
    N_DOCS = 10_000
    POOL = 20_000  # queries the logs repeat (fixture query generator)
    LOGS = 4  # independent logs per pass, each repeating other queries most
    LOG = 40_000  # pre-generated requests per log; the loop never reaches the end
    N_PHRASES = 400
    PHRASE_EVERY = 10  # every 10th request is a phrase
    BATCH = 100
    N_BATCHES = 16
    WARM_BATCHES = 6
    MEASURED_BATCHES = 6
    LOOP_SHARE = 0.5  # share of --seconds spent in the closed loop
    CHECK_EVERY = 11  # every 11th term request's result is verified

    def make_inputs(self, ctx: Ctx) -> None:
        corpus = inputs.corpus(ctx.seed, 1, self.N_DOCS)
        self.corpus_path = inputs.write(corpus, ctx.path("in", "corpus.parquet"))
        self.documents = corpus.to_pandas()
        self.text_bytes = inputs.text_bytes(corpus)
        pool = inputs.query_pool(ctx.seed, self.POOL)
        phr = inputs.phrases(ctx.seed, 4, corpus, self.N_PHRASES)
        cap = inspect.signature(query.LocalIndexProbe).parameters["cache_terms"].default
        self.logs = []
        for r in range(self.LOGS):
            terms = inputs.zipf_log(ctx.seed, 40 + r, pool, self.LOG)
            phrases = inputs.zipf_log(ctx.seed, 50 + r, phr, self.LOG // self.PHRASE_EVERY)
            requests = [
                (True, phrases[i // self.PHRASE_EVERY]) if i % self.PHRASE_EVERY == 0 else (False, q)
                for i, q in enumerate(terms)
            ]
            # timing starts where the log's distinct terms first exceed
            # the probe's LRU capacity: the cache is full, and every new
            # term evicts one
            seen: set[str] = set()
            for i, (_, q) in enumerate(requests):
                seen.update(terms_of(q))
                if len(seen) > cap:
                    break
            self.logs.append(QueryLog(requests, i + 1, i + 1))
        flat = inputs.term_queries(ctx.seed, 7, self.BATCH * self.N_BATCHES)
        self.batches = [flat[i : i + self.BATCH] for i in range(0, len(flat), self.BATCH)]
        log = self.logs[0]
        ctx.queries = [q for ph, q in log.requests[log.start : log.start + 4000] if not ph]
        self.batch_cursor = 0

    def setup(self, ctx: Ctx) -> None:
        t0 = time.perf_counter()
        d = ctx.index_dir = ctx.path("serve-index")
        build.build_segments(ctx.docs(self.corpus_path, self.text_bytes), d, store_positions=True)
        build.finalize_index(ctx.spark, d)
        ctx.log("index build", t0)
        t0 = time.perf_counter()
        self.reader = query.IndexReader(ctx.spark, d)
        for batch in self.batches[: self.WARM_BATCHES]:
            self._wand(ctx, batch)
        ctx.log("wand warm-up", t0)
        # last, so that JVM work the batches set off has wound down
        # before the driver-local loop starts timing
        t0 = time.perf_counter()
        with ctx.probing():
            self.probe = query.LocalIndexProbe(d)
            requests = self.logs[0].requests
            self.probe.search(next(q for ph, q in requests if not ph), k=K)
            self.probe.search_phrase(next(q for ph, q in requests if ph), k=K)
        ctx.log("probe warm-up", t0)

    def _enter(self, ctx: Ctx, log: QueryLog) -> None:
        """Untimed: bring the probe's LRU to the state ``log``'s requests
        so far leave, by sending its resident terms, least recent first,
        as one-term queries. Terms resident before and not among them
        are evicted. Recorded spans would count these as requests, so
        the recorder is off."""
        terms = resident(log.requests, log.cursor, cache_terms(self.probe))
        enabled, ctx.rec.enabled = ctx.rec.enabled, False
        try:
            self.probe.search_batch(terms, k=K)
        finally:
            ctx.rec.enabled = enabled
        ctx.sent_terms[self.probe] = OrderedDict.fromkeys(terms)

    def _wand(self, ctx: Ctx, batch: list[str]) -> tuple[float, dict]:
        qs = [{"qid": i, "query": q, "k": K} for i, q in enumerate(batch)]
        ctx.attempted += len(qs)
        with ctx.rec.span("query.search_index_wand"):
            t0 = time.perf_counter()
            rows = query.search_index_wand(self.reader, qs).collect()
            dt = time.perf_counter() - t0
        out: dict[int, list] = {i: [] for i in range(len(qs))}
        for r in sorted(rows, key=lambda r: (r["qid"], r["rank"])):
            out[r["qid"]].append((int(r["docid"]), float(r["score"])))
        return dt, out

    def run_pass(self, ctx: Ctx, seconds: float, tag: str) -> Pass:
        # The hit path's cost depends on which queries a log repeats
        # most, so one pass spreads its loop time over several logs.
        p = Pass()
        term_checks, phrase_checks, wand_checks = [], [], []
        ctx.evicted = 0
        for log in self.logs:
            self._enter(ctx, log)
            t_end = time.perf_counter() + seconds * self.LOOP_SHARE / len(self.logs)
            with ctx.probing():
                while time.perf_counter() < t_end:
                    phrase, q = log.requests[log.cursor % len(log.requests)]
                    log.cursor += 1
                    got = ctx.probe_search(self.probe, q, p, phrase=phrase)
                    if phrase:
                        phrase_checks.append((q, got))
                    elif log.cursor % self.CHECK_EVERY == 0:
                        term_checks.append((q, got))
        evicted = ctx.evicted
        # a fixed batch count: batch times keep falling for the first
        # ~15 batches of a process (JIT), so a time-bounded count would
        # move the median along that curve
        wand_s: list[float] = []
        while len(wand_s) < self.MEASURED_BATCHES:
            batch = self.batches[self.batch_cursor % len(self.batches)]
            self.batch_cursor += 1
            dt, out = self._wand(ctx, batch)
            wand_s.append(dt)
            wand_checks += [(batch[i], out[i]) for i in range(0, len(batch), 10)]
        p.ops = p.probe_lat
        p.items_per_s = self.BATCH / statistics.median(wand_s)
        ctx.check_later(ctx.index_dir, self.documents, term_checks + wand_checks, phrase_checks)
        p.report = {
            "probe_p50_ms": (1e3 * pct(p.probe_lat, 50), "ms"),
            "probe_p99_ms": (1e3 * pct(p.probe_lat, 99), "ms"),
            "probe_queries": (len(p.probe_lat), "count"),
            "probe_miss_share": (p.probe_hit.count(False) / len(p.probe_hit), "fraction"),
            "phrase_p50_ms": (1e3 * pct(p.phrase_lat, 50), "ms"),
            "phrases": (len(p.phrase_lat), "count"),
            "batch_qps": (p.items_per_s, "queries/s"),
            "wand_batches": (len(wand_s), "count"),
            "preload_requests": (statistics.median(g.start for g in self.logs), "count"),
            "sent_distinct_terms": (statistics.median(
                len({t for _, q in g.requests[: g.cursor] for t in terms_of(q)}) for g in self.logs
            ), "count"),
            "probe_cache_terms": (cache_terms(self.probe), "count"),
            "evicted_terms": (evicted, "count"),
        }
        p.index_ratio = [dir_bytes(ctx.index_dir) / self.text_bytes]
        return p


class IngestStream:
    """Micro-batch ingest beside a base index: per batch ingest
    (finalize=False) → compact(tier_k=4) → finalize → a fresh probe
    answers a fixed query sample; a manifest snapshot every 2nd batch."""

    name = "ingest_stream"
    TOUCH = ("read",)
    BASE_DOCS = 2_000
    BATCH_DOCS = 500
    N_BATCHES = 4  # one full tier: the 4th batch triggers a merge
    TIER_K = 4
    SNAPSHOT_EVERY = 2
    CHECK_EVERY = 2  # verify after the snapshot batches (the 4th also merged)
    N_SAMPLE = 30
    EPISODE_S = 15  # about one episode's timed work on a 4-core host

    def make_inputs(self, ctx: Ctx) -> None:
        base = inputs.corpus(ctx.seed, 1, self.BASE_DOCS)
        self.base_path = inputs.write(base, ctx.path("in", "base.parquet"))
        self.base_bytes = inputs.text_bytes(base)
        self.batches = []
        documents = [base.to_pandas()]
        for b in range(self.N_BATCHES):
            t = inputs.corpus(ctx.seed, 10 + b, self.BATCH_DOCS)
            documents.append(t.to_pandas())
            self.batches.append((inputs.write(t, ctx.path("in", f"batch-{b}.parquet")), inputs.text_bytes(t)))
        # corpus state after each batch: base, base + batch 0, ...
        self.documents = [pd.concat(documents[: i + 1]) for i in range(len(documents))]
        self.warm = [
            (inputs.write(t, ctx.path("in", f"warm-{b}.parquet")), inputs.text_bytes(t))
            for b, t in enumerate(inputs.corpus(ctx.seed, 20 + b, 200) for b in range(2))
        ]
        self.sample = inputs.term_queries(ctx.seed, 8, self.N_SAMPLE)
        ctx.queries = self.sample

    def setup(self, ctx: Ctx) -> None:
        self.base_dir = ctx.path("ingest-base")
        build.build_segments(ctx.docs(self.base_path, self.base_bytes), self.base_dir)
        build.finalize_index(ctx.spark, self.base_dir)
        # first calls of the per-batch functions, on a throwaway copy
        d = ctx.path("ingest-warm")
        shutil.copytree(self.base_dir, d)
        for i, (path, nbytes) in enumerate(self.warm):
            build.ingest_generation(ctx.docs(path, nbytes), d, finalize=False, tag=f"warm-{i}")
        build.compact_generations(ctx.spark, d, tier_k=2)
        build.finalize_index(ctx.spark, d)
        index_store.snapshot_manifest(ctx.spark, d)
        with ctx.probing():
            query.LocalIndexProbe(d).search(self.sample[0], k=K)
        shutil.rmtree(d)

    def _episode(self, ctx: Ctx, d: str, p: Pass) -> None:
        shutil.copytree(self.base_dir, d)
        text_bytes = self.base_bytes
        for b, (path, nbytes) in enumerate(self.batches):
            docs = ctx.docs(path, nbytes)
            ctx.attempted += 1
            t0 = time.perf_counter()
            build.ingest_generation(docs, d, finalize=False, tag=f"batch-{b}")
            build.compact_generations(ctx.spark, d, tier_k=self.TIER_K)
            build.finalize_index(ctx.spark, d)
            t_write = time.perf_counter() - t0
            with ctx.probing():
                probe = query.LocalIndexProbe(d)
                got = [(q, ctx.probe_search(probe, q, p)) for q in self.sample]
            fresh = time.perf_counter() - t0
            if (b + 1) % self.SNAPSHOT_EVERY == 0:
                t1 = time.perf_counter()
                index_store.snapshot_manifest(ctx.spark, d)
                t_write += time.perf_counter() - t1
            p.ops.append(fresh)
            p.busy_s += t_write
            p.items += self.BATCH_DOCS
            text_bytes += nbytes
            if (b + 1) % self.CHECK_EVERY == 0:
                # the oracle sees base + batches so far
                ctx.check_later(d, self.documents[b + 1], got)
        p.index_ratio.append(dir_bytes(d) / text_bytes)

    def run_pass(self, ctx: Ctx, seconds: float, tag: str) -> Pass:
        # a whole number of episodes, fixed by --seconds: a time-bounded
        # count would flip between n and n+1 from run to run
        p = Pass()
        for e in range(max(1, round(seconds / self.EPISODE_S))):
            if e:
                shutil.rmtree(ctx.index_dir)
            d = ctx.index_dir = ctx.path(f"ingest-{tag}-{e}")
            self._episode(ctx, d, p)
        p.items_per_s = p.items / p.busy_s
        p.report = {
            "ingest_docs_per_s": (p.items_per_s, "docs/s"),
            "freshness_p50_s": (statistics.median(p.ops), "s"),
            "fresh_probe_p50_ms": (1e3 * pct(p.probe_lat, 50), "ms"),
            "index_bytes_per_text_byte": (statistics.median(p.index_ratio), "ratio"),
            "micro_batches": (len(p.ops), "count"),
        }
        return p


WORKLOADS = {w.name: w for w in (BulkBuild, Serve, IngestStream)}
