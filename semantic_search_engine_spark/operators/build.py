"""SPIMI index build: per-shard posting segments → finalize (LSM merge).

Spark restatement of the reference's chunked build
(/root/reference/src/IVF.py:130-143) without its defects (whole index
in driver RAM /root/reference/src/IVF.py:85-86; silent tail drop
/root/reference/src/IVF.py:152-153):

  corpus → shard = pmod(xxhash64(url), P)            (map-side)
         → per-shard counts → exclusive prefix-sum offsets via a Window
           over the P count rows (the reference's cumsum/roll CSR
           directory, /root/reference/src/IVF.py:79-81; executor-side,
           zero O(P) driver state)
         → groupBy(shard).applyInPandas(SPIMI writer)  — the ONE
           corpus shuffle. Inside the Arrow kernel, per shard:
             docids  = offset + rank of url in the shard (sorted)
             blocks  = tokenize → tf runs → delta-gap varint encode
             segment + docmap parquet written DIRECTLY (pyarrow,
             tmp + atomic rename), one tiny metrics row returned
         → manifest row per shard from the returned metrics
  finalize: global df/idf from block headers (NO decode), block_max
           attach (single decode pass), dictionary + stats + postings.

Scale properties:
  * ONE pass, ONE shuffle per batch: docid minting, tokenization, tf
    aggregation, encoding, segment/docmap writes, and build metrics all
    happen inside the same per-shard Arrow kernel — no corpus cache, no
    second docmap pass, no post-hoc metrics scan, no window sort of
    full text rows (all of which were measured serial-tail/JVM-sort
    cost at 2→8-thread scaling).
  * head-term skew is bounded by construction: a term's postings
    within a shard ≤ shard size; shards are hash(url)-balanced. The
    per-(term, shard) runs ARE the salted sub-keys of the north_rule
    (salt = doc-shard), and global posting lists are ordered
    concatenations of runs because shard docid ranges are contiguous
    and disjoint (same prefix-sum layout as operators/docids.py).
  * kernel file writes go to a per-batch stage dir and are promoted by
    the driver before the manifest commit point; writes are
    tmp + os.replace so a retried task can never leave a torn file.
    (On an object store you'd swap this for the cluster's job
    committer; task speculation must stay off for direct writes.)
  * resume: finished shards are skipped via a broadcast left-anti join
    against the manifest (never a driver-side id list).
"""

from __future__ import annotations

import logging
import os
import shutil
import time
import uuid

log = logging.getLogger(__name__)

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.bm25 import idf_col, impact_np
from ..functions.localdf import local_df
from ..sources import index_store
from ..sources.index_store import METRICS_SCHEMA, POSTING_SCHEMA, SEGMENT_SCHEMA
from .codec import decode_blocks_batch, encode_segment_blocks

METRICS_COLS = [
    "shard", "n_docs", "sum_dl", "n_terms", "n_blocks",
    "n_postings", "payload_bytes", "first_docid", "last_docid",
]


def _atomic_write(table, path: str) -> None:
    """pyarrow parquet write via tmp + os.replace — a retried/killed
    task can never leave a torn file at the final name."""
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _make_spimi_writer(stage_dir: str, store_positions: bool = False):
    """Kernel factory: a BUNDLE of shards' docs → per shard: docids,
    encoded posting blocks, segment + docmap parquet files (written
    in-kernel), one metrics row each.

    Bundling (group key = pmod(shard, n_groups), same trick as the WAND
    serving path): one applyInPandas group per ~task instead of one per
    shard keeps the number of concurrent JVM↔Python Arrow streams at
    the task count and amortizes per-group stream setup — the measured
    group-pipeline stall at 2→8 threads (BENCH/BASELINE.md) shrinks as
    groups get fatter. The per-shard working set stays small because
    the kernel splits the bundle and processes one shard at a time.

    Fully vectorized per shard: tokenization (pandas findall, pinned
    tokenizer), tf aggregation (factorize + lexsort + run-length),
    block encoding (one whole-segment varint pass sliced by byte
    offsets) — no per-term or per-posting Python loops. Tokenizing here
    instead of JVM-side avoids materializing an array<string> column
    (profiled 30-60 s per 20k docs for the columnar array encode
    alone)."""

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame({c: pd.Series(dtype="int64") for c in METRICS_COLS})
        outs = [
            _spimi_one_shard(stage_dir, int(shard), sub, store_positions)
            for shard, sub in pdf.groupby("shard", sort=True)
        ]
        return pd.DataFrame(outs)[METRICS_COLS]

    return kernel


def _spimi_one_shard(
    stage_dir: str, shard: int, pdf: pd.DataFrame, store_positions: bool = False
) -> dict:
    """One shard's docs → segment + docmap files + a metrics dict.

    ``store_positions`` adds the per-block token-positions stream
    (delta-varint, run lengths = the stored tfs) that powers index-only
    phrase serving (operators/query.py:search_index_phrase)."""
    import pyarrow as pa

    from ..functions.tokenizer import tokenize_series

    offset = int(pdf["_offset"].iloc[0])
    expected = int(pdf["_n"].iloc[0])
    if len(pdf) != expected:
        # the offsets job and this kernel job scanned the input
        # separately — a nondeterministic source (sample/limit/
        # shuffle-order-dependent) would silently overlap docid
        # ranges; fail loudly instead
        raise ValueError(
            f"shard {shard}: kernel saw {len(pdf)} rows but the offset pass "
            f"counted {expected} — build input must be deterministic across jobs"
        )
    order = np.argsort(pdf["url"].to_numpy(), kind="stable")
    pdf = pdf.iloc[order]
    docids = offset + np.arange(len(pdf), dtype=np.int64)

    _atomic_write(
        pa.table({"docid": docids, "url": pdf["url"].to_numpy()}),
        os.path.join(stage_dir, "docmap", f"shard={shard}", "part-0.parquet"),
    )

    tokens = tokenize_series(pdf["text"])
    lens = tokens.str.len().to_numpy().astype(np.int64)
    metrics = {
        "shard": shard,
        "n_docs": len(pdf),
        "sum_dl": int(lens.sum()),
        "n_terms": 0,
        "n_blocks": 0,
        "n_postings": 0,
        "payload_bytes": 0,
        "first_docid": int(docids[0]),
        "last_docid": int(docids[-1]),
    }
    terms = (
        np.concatenate([np.asarray(t, dtype=object) for t in tokens])
        if lens.sum()
        else np.empty(0, dtype=object)
    )
    if terms.size == 0:
        # every doc tokenizes to nothing — docmap + metrics only
        return metrics

    docids_rep = np.repeat(docids, lens)
    dls_rep = np.repeat(lens, lens)  # dl of the owning doc, one per token
    codes, uniques = pd.factorize(terms, sort=True)
    # tf per (term, docid): sort by (term, docid), then run-length encode
    torder = np.lexsort((docids_rep, codes))
    tc, dc, lc = codes[torder], docids_rep[torder], dls_rep[torder]
    is_new = np.empty(tc.size, dtype=bool)
    is_new[0] = True
    np.logical_or(tc[1:] != tc[:-1], dc[1:] != dc[:-1], out=is_new[1:])
    starts = np.flatnonzero(is_new)
    tf = np.diff(np.concatenate([starts, [tc.size]]))

    pos_gaps = None
    if store_positions:
        # absolute in-doc token position of each occurrence; the
        # (term, doc) lexsort is stable, so positions stay ascending
        # within each posting run → encode as (absolute first, deltas)
        doc_starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
        pos_sorted = (
            np.arange(terms.size, dtype=np.int64) - np.repeat(doc_starts, lens)
        )[torder]
        pos_gaps = np.empty(pos_sorted.size, dtype=np.int64)
        pos_gaps[0] = pos_sorted[0]
        np.subtract(pos_sorted[1:], pos_sorted[:-1], out=pos_gaps[1:])
        pos_gaps[starts] = pos_sorted[starts]  # run starts carry absolutes

    blocks = encode_segment_blocks(tc[starts], dc[starts], tf, lc[starts], pos_gaps=pos_gaps)
    bin_cols = ("docids_bin", "tfs_bin", "dls_bin") + (
        ("positions_bin",) if store_positions else ()
    )
    payload = sum(len(b) for col in bin_cols for b in blocks[col])
    seg_cols = {
        "term": pa.array(
            np.asarray(uniques, dtype=object)[blocks["term_id"]], type=pa.string()
        ),
        "block_seq": pa.array(blocks["block_seq"].astype(np.int32), type=pa.int32()),
        "first_docid": pa.array(blocks["first_docid"].astype(np.int64), type=pa.int64()),
        "last_docid": pa.array(blocks["last_docid"].astype(np.int64), type=pa.int64()),
        "n": pa.array(blocks["n"].astype(np.int32), type=pa.int32()),
        "block_cf": pa.array(blocks["block_cf"].astype(np.int64), type=pa.int64()),
        "docids_bin": pa.array(list(blocks["docids_bin"]), type=pa.binary()),
        "tfs_bin": pa.array(list(blocks["tfs_bin"]), type=pa.binary()),
        "dls_bin": pa.array(list(blocks["dls_bin"]), type=pa.binary()),
    }
    if store_positions:
        seg_cols["positions_bin"] = pa.array(list(blocks["positions_bin"]), type=pa.binary())
    seg = pa.table(seg_cols)
    _atomic_write(seg, os.path.join(stage_dir, "segments", f"shard={shard}", "part-0.parquet"))
    metrics.update(
        n_terms=int(len(uniques)),
        n_blocks=int(blocks["n"].size),
        n_postings=int(starts.size),
        payload_bytes=int(payload),
    )
    return metrics


DOCS_PER_SHARD = int(os.environ.get("SSSE_DOCS_PER_SHARD", 15_000))


def auto_num_shards(docs: DataFrame) -> int:
    """Size-tiered shard count (the reference's per-size config pattern,
    /root/reference/src/IVF.py:12-20): pin shard size to ~DOCS_PER_SHARD
    docs so the per-shard Arrow working set stays small — SPIMI kernel
    memory is O(shard tokens), and oversized shards measured ~10× slower
    on this host (page-fault-bound). At real cluster scale this knob is
    tuned to executor memory instead; shards are the unit of build
    parallelism, resume, and salted merge either way."""
    n = docs.count()
    cpus = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return max(cpus, -(-n // DOCS_PER_SHARD))


def pending_in_range(
    prepared: DataFrame, finished_df: DataFrame | None, lo: int, hi: int
) -> DataFrame:
    """Docs of shard range [lo, hi) not yet recorded in the manifest:
    a range predicate + broadcast left-anti join — no shard-id literal
    lists in the plan, whatever the corpus size."""
    part = prepared.filter((F.col("shard") >= lo) & (F.col("shard") < hi))
    if finished_df is not None:
        part = part.join(F.broadcast(finished_df), "shard", "left_anti")
    return part


def build_segments(
    docs: DataFrame,
    index_dir: str,
    num_shards: int | None = None,
    batch_shards: int | None = None,
    text_col: str = "text",
    url_col: str = "url",
    max_batches: int | None = None,
    shard_base: int = 0,
    docid_base: int = 0,
    store_positions: bool = False,
) -> int:
    """Build (or resume) per-shard segments + docmap + manifest.

    ``max_batches`` exists for the kill/resume test — a bounded run is
    indistinguishable from a killed one. ``shard_base``/``docid_base``
    place this corpus as an LSM generation after existing shards (see
    :func:`append_index`). ``store_positions`` adds the phrase-serving
    positions stream to every block (appends to a positions index must
    pass it too — finalize refuses mixed-generation layouts). Returns
    #shards built this run.
    """
    spark = docs.sparkSession
    timing = os.environ.get("SSSE_TIMING") == "1"
    t0 = time.perf_counter()
    if num_shards is None:
        num_shards = auto_num_shards(docs)
    if batch_shards is None:
        batch_shards = num_shards  # single batch by default
    os.makedirs(index_dir, exist_ok=True)
    # leftover stage dirs from a killed run are pre-commit garbage
    for name in os.listdir(index_dir):
        if name.startswith("_stage_"):
            shutil.rmtree(os.path.join(index_dir, name), ignore_errors=True)

    lo_all, hi_all = shard_base, shard_base + num_shards
    # a compacted-away range must never be rebuilt: its manifest rows
    # are filtered as retired, so new work there would be invisible —
    # the one scenario is resuming a pre-compaction crashed build after
    # someone compacted over it; fail loudly instead of losing docs
    for lo, hi, why in index_store.retired_shard_ranges(index_dir):
        if lo_all < hi and lo < hi_all:
            raise ValueError(
                f"shard range [{lo_all}, {hi_all}) overlaps range "
                f"[{lo}, {hi}) retired by {why} — "
                "retired ranges cannot be rebuilt"
            )
    # snapshot-floor backstop: a snapshot drops UNTAGGED retired
    # records, so a range below the floor with no surviving record and
    # no live manifest rows was retired before the snapshot — rebuild
    # there would be invisible, same as the explicit check above
    floor = index_store.snapshot_floors(index_dir)[0]
    if lo_all < floor:
        rec_overlap = any(
            not g.get("retired")
            and lo_all < int(g["shard_base"]) + int(g["num_shards"])
            and int(g["shard_base"]) < hi_all
            for g in index_store.read_generations(index_dir)
        )
        if not rec_overlap:
            m = index_store.read_manifest(spark, index_dir)
            has_rows = m is not None and bool(
                m.filter((F.col("shard") >= lo_all) & (F.col("shard") < hi_all))
                .limit(1)
                .count()
            )
            if not has_rows:
                raise ValueError(
                    f"shard range [{lo_all}, {hi_all}) is below the snapshot "
                    f"floor {floor} with no live generation record or manifest "
                    "rows — it was retired before the snapshot and cannot be "
                    "rebuilt"
                )
    gen_range = (F.col("shard") >= lo_all) & (F.col("shard") < hi_all)
    # bundle shards into ~groups_per_cpu × parallelism Arrow groups
    # (execution knob only — shard layout, docids, and files are
    # identical at any group count). Swept on this host: 4×cpus beats
    # per-shard groups at 2→8-thread scaling (fewer concurrent Arrow
    # streams, less per-group pipeline stall) while keeping balls-in-
    # bins imbalance across tasks acceptable.
    groups_per_cpu = int(os.environ.get("SSSE_BUILD_GROUPS_PER_CPU", "4"))
    n_groups = max(1, groups_per_cpu * int(spark.conf.get("spark.sql.shuffle.partitions")))

    # Resume state stays a DataFrame: batches are contiguous shard
    # RANGES (a 2-value predicate, never a shard-id literal list), and
    # finished shards are dropped with a broadcast left-anti join against
    # the manifest — driver state per batch is bounded by batch_shards,
    # not by the corpus (at 100 TB the manifest has ~10^6 rows; only the
    # active range's ids are ever collected).
    manifest = index_store.read_manifest(spark, index_dir)
    if manifest is not None and (
        manifest.filter(gen_range).select("shard").distinct().count() >= num_shards
    ):
        return 0
    finished_df = manifest.select("shard").distinct() if manifest is not None else None

    prepared = docs.select(
        (F.lit(shard_base) + F.pmod(F.xxhash64(F.col(url_col)), F.lit(num_shards)))
        .cast("int")
        .alias("shard"),
        F.col(url_col).alias("url"),
        F.col(text_col).alias("text"),
    )
    # per-shard counts → exclusive prefix-sum docid offsets (A2/W1: the
    # CSR-directory analog). Entirely executor-side: a Window prefix-sum
    # over the num_shards count rows (one task sorts O(num_shards) rows,
    # spillable — NOT a driver collect, which at 100 TB / 15k docs per
    # shard would be 10^6-10^7 rows of driver state). The expected count
    # `_n` rides along so the kernel can assert input determinism.
    from pyspark.sql import Window as _W

    counts = prepared.groupBy("shard").agg(F.count("*").alias("_n"))
    w_off = _W.orderBy("shard").rowsBetween(_W.unboundedPreceding, -1)
    offset_df = counts.select(
        "shard",
        (F.lit(docid_base) + F.coalesce(F.sum("_n").over(w_off), F.lit(0))).alias("_offset"),
        "_n",
    ).cache()
    offset_df.count()  # materialize once; batches below reuse the cache
    if timing:
        print(f"[build] shards+offsets {time.perf_counter() - t0:.1f}s")

    built = 0
    processed = 0
    ranges = [(lo, min(lo + batch_shards, hi_all)) for lo in range(lo_all, hi_all, batch_shards)]
    try:
        for lo, hi in ranges:
            if max_batches is not None and processed >= max_batches:
                break
            in_range = (F.col("shard") >= lo) & (F.col("shard") < hi)
            if manifest is not None:
                done = {
                    r["shard"]
                    for r in manifest.filter(in_range).select("shard").distinct().collect()
                }
            else:
                done = set()
            batch = [s for s in range(lo, hi) if s not in done]
            if not batch:
                continue
            processed += 1
            t0 = time.perf_counter()
            batch_id = uuid.uuid4().hex[:12]
            stage = os.path.join(index_dir, f"_stage_{batch_id}")
            part = pending_in_range(prepared, finished_df if done else None, lo, hi)
            met = (
                part.join(F.broadcast(offset_df), "shard")
                .withColumn("_bgroup", F.pmod(F.col("shard"), F.lit(n_groups)))
                # explicit count: AQE byte-coalescing would serialize
                # the SPIMI kernels into one task (tiny shuffled bytes,
                # heavy per-byte compute); identical layout/results
                .repartition(n_groups, "_bgroup")
                .groupBy("_bgroup")
                .applyInPandas(_make_spimi_writer(stage, store_positions), METRICS_SCHEMA)
                .collect()
            )
            if timing:
                print(f"[build] spimi+write batch={len(batch)} {time.perf_counter() - t0:.1f}s")
                t0 = time.perf_counter()
            # promote staged shard dirs, THEN commit the manifest row —
            # a kill between the two is rebuilt+overwritten on resume
            index_store.promote_staged(stage, index_dir, ("segments", "docmap"), batch)
            byshard = {int(r["shard"]): r for r in met}
            rows = []
            for s in batch:
                b = byshard.get(s)
                rows.append(
                    {
                        "shard": s,
                        "n_docs": int(b["n_docs"]) if b else 0,
                        "sum_dl": int(b["sum_dl"]) if b else 0,
                        "n_terms": int(b["n_terms"]) if b else 0,
                        "n_blocks": int(b["n_blocks"]) if b else 0,
                        "n_postings": int(b["n_postings"]) if b else 0,
                        "payload_bytes": int(b["payload_bytes"]) if b else 0,
                        "first_docid": int(b["first_docid"]) if b else -1,
                        "last_docid": int(b["last_docid"]) if b else -1,
                        "batch_id": batch_id,
                    }
                )
            index_store.append_manifest(spark, index_dir, rows)
            built += len(batch)
            if timing:
                print(f"[build] promote+manifest {time.perf_counter() - t0:.1f}s")
    finally:
        offset_df.unpersist()
    return built


def finalize_index(spark: SparkSession, index_dir: str) -> dict:
    """LSM-merge finalize: global stats + dictionary from block headers
    (no payload decode), then a single decode pass to attach block_max,
    writing postings sorted by (term, block_seq) within each shard.
    Parquet min/max term stats prune term-filtered scans only once a
    shard file outgrows one row group (Spark's 128 MB default); below
    that a scan reads each shard's whole file."""
    timing = os.environ.get("SSSE_TIMING") == "1"
    t0 = time.perf_counter()
    manifest = index_store.read_manifest(spark, index_dir)
    if manifest is None:
        raise ValueError(
            f"no build manifest under {index_dir!r} — run build_segments first "
            "(an empty corpus produces no segments)"
        )
    # ONE bounded collect serves both the global stats and the live-
    # shard list below (manifest rows are per-shard metadata — ~10^6
    # rows at 100 TB): the previous shape paid a separate agg job plus
    # a broadcast-subquery job inside the postings write
    mrows = manifest.select("shard", "n_docs", "sum_dl").collect()
    live_shards = sorted({int(r["shard"]) for r in mrows})
    n_docs = sum(int(r["n_docs"]) for r in mrows)
    total_tokens = sum(int(r["sum_dl"]) for r in mrows)
    num_shards = len(live_shards)
    if n_docs == 0:
        raise ValueError(f"index at {index_dir!r} recorded 0 documents — nothing to finalize")
    avgdl = total_tokens / n_docs

    seg_dir = os.path.join(index_dir, "segments")
    if os.path.isdir(seg_dir) and any(e.startswith("shard=") for e in os.listdir(seg_dir)):
        segs = index_store.read_segments(spark, index_dir)
        # only LIVE shards: a crash window can leave unrecorded segment
        # dirs (a killed build batch pre-commit, or a compaction's
        # retired-but-not-yet-GC'd shards) — the manifest is the truth,
        # so finalize semi-joins against it rather than trusting the
        # directory listing (broadcast of shard ids — bounded)
        segs = segs.join(
            F.broadcast(local_df(spark, [(s,) for s in live_shards], "shard int")),
            "shard", "semi",
        )
    else:
        # corpus built, but zero postings (every doc tokenized empty)
        segs = spark.createDataFrame([], SEGMENT_SCHEMA)
    # mergeSchema in read_segments surfaces positions_bin if ANY
    # generation stored it; the kernel below refuses null payloads, so
    # a mixed positions/positionless index fails loudly at finalize
    has_positions = "positions_bin" in segs.columns
    dictionary = (
        segs.groupBy("term")
        .agg(F.sum("n").alias("df"), F.sum("block_cf").alias("cf"), F.count("*").alias("n_blocks"))
        .withColumn("idf", idf_col(F.col("df").cast("double"), n_docs))
    )
    dictionary.write.mode("overwrite").parquet(os.path.join(index_dir, "dictionary"))
    dict_df = index_store.read_dictionary(spark, index_dir)
    if timing:
        print(f"[finalize] stats+dictionary {time.perf_counter() - t0:.1f}s")
        t0 = time.perf_counter()

    joined = segs.join(dict_df.select("term", "idf"), "term")
    out_cols = [
        "shard", "term", "block_seq", "first_docid", "last_docid",
        "n", "block_cf", "docids_bin", "tfs_bin", "dls_bin", "block_max",
    ] + (["positions_bin"] if has_positions else [])

    def attach_block_max(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            if has_positions and pdf["positions_bin"].isna().any():
                raise ValueError(
                    "some segments lack the positions stream — every "
                    "generation of a positions index must be built with "
                    "store_positions=True"
                )
            _, tfs, dls, block_starts = decode_blocks_batch(
                pdf["first_docid"].to_numpy(), pdf["n"].to_numpy(),
                pdf["docids_bin"], pdf["tfs_bin"], pdf["dls_bin"],
            )
            idf_rep = np.repeat(pdf["idf"].to_numpy(), pdf["n"].to_numpy())
            impacts = impact_np(tfs, dls, idf_rep, avgdl)
            bm = np.maximum.reduceat(impacts, block_starts)
            out = pdf.drop(columns=["idf"]).copy()
            out["block_max"] = bm
            yield out[out_cols]

    # no repartition("shard"): segment files are per-shard and a scan
    # split never crosses a file, so each task already holds whole
    # shards — the old exchange re-shuffled the ENTIRE postings payload
    # only to land it where it started (guide §2.4). Sorting within the
    # task by (shard, term, block_seq) preserves the per-shard-file
    # (term, block_seq) order that parquet min/max term pruning relies
    # on; partitionBy still writes one dir per shard.
    (
        joined.mapInPandas(
            attach_block_max,
            index_store.POSTING_SCHEMA_POS if has_positions else POSTING_SCHEMA,
        )
        .sortWithinPartitions("shard", "term", "block_seq")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(os.path.join(index_dir, "postings"))
    )
    if timing:
        print(f"[finalize] block_max+postings {time.perf_counter() - t0:.1f}s")
    stats = {
        "n_docs": n_docs,
        "avgdl": float(avgdl),
        "total_tokens": total_tokens,
        "num_shards": num_shards,
        "has_positions": bool(has_positions),
    }
    # one metadata row — written directly with pyarrow (atomic rename)
    # instead of a Spark job: a local-relation write costs seconds of
    # pure overhead per build (see index_store.append_manifest)
    import pyarrow as pa

    stats_dir = os.path.join(index_dir, "stats")
    os.makedirs(stats_dir, exist_ok=True)
    for old in os.listdir(stats_dir):
        if old.endswith(".parquet"):
            os.remove(os.path.join(stats_dir, old))
    _atomic_write(
        pa.table(
            {
                "n_docs": pa.array([n_docs], pa.int64()),
                "avgdl": pa.array([float(avgdl)], pa.float64()),
                "total_tokens": pa.array([total_tokens], pa.int64()),
                "num_shards": pa.array([num_shards], pa.int32()),
                "has_positions": pa.array([bool(has_positions)], pa.bool_()),
            }
        ),
        os.path.join(stats_dir, "part-0.parquet"),
    )
    return stats


def build_index(
    docs: DataFrame,
    index_dir: str,
    num_shards: int | None = None,
    batch_shards: int | None = None,
    text_col: str = "text",
    url_col: str = "url",
    store_positions: bool = False,
) -> dict:
    """Full pipeline: segments (resumable) + finalize. Returns stats."""
    build_segments(
        docs, index_dir, num_shards, batch_shards, text_col, url_col,
        store_positions=store_positions,
    )
    return finalize_index(docs.sparkSession, index_dir)


def ingest_generation(
    docs: DataFrame,
    index_dir: str,
    num_shards: int | None = None,
    batch_shards: int | None = None,
    text_col: str = "text",
    url_col: str = "url",
    tag: str | None = None,
    finalize: bool = True,
    store_positions: bool = False,
) -> dict | None:
    """Allocate-or-resume one LSM generation for ``docs`` and build its
    segments; optionally finalize (the compaction pass).

    Generation protocol: ``generations.jsonl`` records (shard_base,
    docid_base, docid_ceiling, num_shards[, tag]) BEFORE the
    generation's first batch commits, so a killed ingest re-run with
    the same docs resumes with the same bases instead of allocating a
    duplicate range. ``tag`` makes ingestion idempotent per tag: a
    COMPLETE generation with the same tag is skipped entirely — the
    replay protection Structured Streaming's foreachBatch needs
    (streaming/ingest.py).

    Allocation safety: new ranges come from the generations-log
    high-water mark (max over ALL recorded generations of
    shard_base + num_shards and docid_ceiling), not from manifest
    maxima — an allocated-but-unfinished generation (crashed tagged
    ingest) therefore can never have its shard/docid range reused by a
    later ingest, and resuming the crashed one later cannot collide.
    An untagged ingest resumes the last generation only if that
    generation is itself untagged; a crashed *tagged* generation is
    only ever resumed by its own tag. Ingests are sequential; url
    uniqueness across generations is the caller's contract (same as
    within one build)."""
    spark = docs.sparkSession
    if num_shards is None:
        num_shards = auto_num_shards(docs)
    os.makedirs(index_dir, exist_ok=True)
    manifest = index_store.read_manifest(spark, index_dir)
    # ingest allocation records only — compaction records share the log
    # (they are the compaction commit points) but never resume as
    # ingests; they DO count toward the shard high-water mark below
    gens = index_store.ingest_records(index_dir)
    all_records = index_store.read_generations(index_dir)
    retired = index_store.retired_gen_bases(index_dir)

    def complete(g: dict) -> bool:
        # a generation replaced by a committed compaction has no
        # manifest rows left, but its docs ARE in the index — a tagged
        # replay must see it as ingested, not rebuild it
        if int(g["shard_base"]) in retired:
            return True
        if manifest is None:
            return False
        rng = (F.col("shard") >= g["shard_base"]) & (
            F.col("shard") < g["shard_base"] + g["num_shards"]
        )
        return manifest.filter(rng).select("shard").distinct().count() >= g["num_shards"]

    gen = None
    if tag is not None:
        tagged = [g for g in gens if g.get("tag") == tag]
        if tagged:
            g = tagged[-1]
            if complete(g):  # replayed micro-batch: already ingested
                return finalize_index(spark, index_dir) if finalize else None
            gen = g
    elif gens and not complete(gens[-1]) and "tag" not in gens[-1]:
        # only an untagged ingest may resume an untagged generation; a
        # crashed TAGGED generation waits for its own tag's replay
        gen = gens[-1]
    if gen is not None and gen["num_shards"] != num_shards:
        raise ValueError(
            "unfinished generation with a different shard count — "
            "re-run with the same docs/num_shards to resume it"
        )
    if gen is None:
        # allocate from the high-water mark over BOTH committed shards
        # (manifest) and every recorded allocation (generations log,
        # compaction records included — their merged shard ranges must
        # never be reused) — an incomplete generation's reserved range
        # is never reused
        # snapshot floors first: records dropped by a snapshot (untagged
        # retired generations) must never shrink the hwm
        shard_hwm, docid_hwm = index_store.snapshot_floors(index_dir)
        if manifest is not None:
            agg = manifest.agg(
                F.max("last_docid").alias("d"), F.max("shard").alias("s")
            ).collect()[0]
            shard_hwm = max(shard_hwm, int(agg["s"]) + 1)
            docid_hwm = max(docid_hwm, int(agg["d"]) + 1)
        for g in all_records:
            shard_hwm = max(shard_hwm, int(g["shard_base"]) + int(g["num_shards"]))
            if "compact_id" in g or g.get("retired"):
                # merged shards carry existing docids only; a snapshot's
                # retired stub has no docid fields (floors cover it)
                continue
            if "docid_ceiling" in g:
                docid_hwm = max(docid_hwm, int(g["docid_ceiling"]))
            elif complete(g):
                # complete pre-ceiling generation (older log layout): its
                # committed docids are already in the manifest max above
                docid_hwm = max(docid_hwm, int(g["docid_base"]))
            else:
                # an INCOMPLETE pre-ceiling generation has an unknowable
                # reserved docid extent — allocating past docid_base could
                # collide with its uncommitted shards when it later
                # resumes. Refuse rather than risk duplicate docids.
                raise ValueError(
                    f"generations log contains an incomplete pre-ceiling record "
                    f"(shard_base={g['shard_base']}, docid_base={g['docid_base']}, "
                    f"tag={g.get('tag')!r}) whose reserved docid range is unknown; "
                    f"resume that ingest (same docs/tag) to completion before "
                    f"allocating a new generation"
                )
        gen = {
            "shard_base": shard_hwm,
            "docid_base": docid_hwm,
            # reserve the docid range up front (one count job per
            # ingest — micro-batch sized, not corpus sized)
            "docid_ceiling": docid_hwm + docs.count(),
            "num_shards": int(num_shards),
        }
        if tag is not None:
            gen["tag"] = tag
        index_store.append_generation(index_dir, gen)

    build_segments(
        docs, index_dir, num_shards=gen["num_shards"], batch_shards=batch_shards,
        text_col=text_col, url_col=url_col,
        shard_base=gen["shard_base"], docid_base=gen["docid_base"],
        store_positions=store_positions,
    )
    return finalize_index(spark, index_dir) if finalize else None


def _shard_hwm(spark: SparkSession, index_dir: str) -> int:
    """First unallocated shard id: max over the live manifest AND every
    log record (ingest or compaction — retired ranges are never
    reused)."""
    hwm = index_store.snapshot_floors(index_dir)[0]
    manifest = index_store.read_manifest(spark, index_dir)
    if manifest is not None:
        s = manifest.agg(F.max("shard")).collect()[0][0]
        if s is not None:
            hwm = int(s) + 1
    for g in index_store.read_generations(index_dir):
        hwm = max(hwm, int(g["shard_base"]) + int(g["num_shards"]))
    return hwm


def _live_generations(spark: SparkSession, index_dir: str) -> list[dict]:
    """[{shard_base, num_shards, n_docs}] for every live generation:
    log records (ingest allocations and merged generations alike) not
    retired by a committed compaction, plus the implicit BASE
    generation — shards below the first recorded base, i.e. a
    ``build_index`` run that predates the generation log. n_docs comes
    from the live manifest (one bounded aggregate)."""
    manifest = index_store.read_manifest(spark, index_dir)
    if manifest is None:
        return []
    retired = index_store.retired_gen_bases(index_dir)
    recs = {
        (int(g["shard_base"]), int(g["num_shards"]))
        for g in index_store.read_generations(index_dir)
        if int(g["shard_base"]) not in retired
    }
    counts = {
        int(r["shard"]): int(r["n"])
        for r in manifest.groupBy("shard").agg(F.sum("n_docs").alias("n")).collect()
    }
    recorded_lo = min((b for b, _ in recs), default=None)
    base_hi = recorded_lo if recorded_lo is not None else (max(counts) + 1 if counts else 0)
    if base_hi > 0 and 0 not in retired and any(s < base_hi for s in counts):
        recs.add((0, base_hi))  # pre-log build_index base generation
    out = []
    for base, ns in sorted(recs):
        covered = sum(1 for s in range(base, base + ns) if s in counts)
        if covered < ns:
            # incomplete (crashed / still-ingesting) generation: its
            # resume must finish before its shards can be merged away
            continue
        out.append(
            {
                "shard_base": base,
                "num_shards": ns,
                "n_docs": sum(counts.get(s, 0) for s in range(base, base + ns)),
            }
        )
    return out


def gc_retired(index_dir: str) -> int:
    """Delete segment/docmap dirs of shards retired by committed
    compactions (the post-commit cleanup; re-run on the next compaction
    after a crash — and automatically by ``snapshot_manifest`` BEFORE
    folding, while the retire ranges are still recorded). Returns
    #dirs removed."""
    return index_store.gc_shard_ranges(
        index_dir,
        [(lo, hi) for lo, hi, _ in index_store.retired_shard_ranges(index_dir)],
    )


def _merge_tier(
    spark: SparkSession, index_dir: str, tier: list[dict], gc: bool = True
) -> None:
    """K-way-merge one tier's generations into a single merged
    generation: the tier shards' segment BLOCKS are re-grouped under
    fresh merged shard ids (whole old shards assigned contiguously in
    docid order, balanced by doc count — block payloads are untouched
    and docids are stable, so posting runs stay docid-sorted
    concatenations), block_seq renumbered per (shard, term), docmaps
    moved alongside. Cost is O(tier), never O(index) — the point of
    tiered compaction vs finalize's full rewrite.

    Commit protocol (single-writer, crash-safe at every point):
      1. staged segments + docmap written, then promoted into place —
         unrecorded dirs; invisible (finalize semi-joins the manifest)
      2. manifest rows appended with batch_id ``compact-<id>`` —
         still invisible (read_manifest drops compact rows with no
         matching log record)
      3. ONE log line appended: the commit — atomically retires the
         old ranges and activates the new rows
      4. old shard dirs GC'd (re-run on the next compaction if killed)
    """
    from pyspark.sql import Window as _W

    manifest = index_store.read_manifest(spark, index_dir)
    assert manifest is not None
    ranges = [
        (int(g["shard_base"]), int(g["shard_base"]) + int(g["num_shards"]))
        for g in tier
    ]
    pred = None
    for lo, hi in ranges:
        p = (F.col("shard") >= lo) & (F.col("shard") < hi)
        pred = p if pred is None else (pred | p)
    mrows = [r.asDict() for r in manifest.filter(pred).collect()]
    total_docs = sum(r["n_docs"] for r in mrows)
    n_new = max(1, -(-total_docs // DOCS_PER_SHARD))
    shard_hwm = _shard_hwm(spark, index_dir)
    old_sorted = sorted(
        mrows,
        key=lambda r: (r["first_docid"] if r["n_docs"] > 0 else 2**62, r["shard"]),
    )
    old2new: dict[int, int] = {}
    acc, idx = 0, 0
    target = total_docs / n_new if total_docs else 1.0
    for r in old_sorted:
        old2new[int(r["shard"])] = shard_hwm + idx
        acc += int(r["n_docs"])
        if acc >= (idx + 1) * target and idx < n_new - 1:
            idx += 1
    n_used = idx + 1
    new_ids = list(range(shard_hwm, shard_hwm + n_used))
    compact_id = uuid.uuid4().hex[:12]
    stage = os.path.join(index_dir, f"_stage_compact_{compact_id}")

    map_df = local_df(
        spark, [(o, n) for o, n in old2new.items()], "shard int, new_shard int"
    )
    segs = index_store.read_segments(spark, index_dir).filter(pred)
    has_positions = "positions_bin" in segs.columns
    cols = [
        "term", "block_seq", "first_docid", "last_docid", "n", "block_cf",
        "docids_bin", "tfs_bin", "dls_bin",
    ] + (["positions_bin"] if has_positions else [])
    w = _W.partitionBy("new_shard", "term").orderBy("first_docid")
    (
        segs.join(F.broadcast(map_df), "shard")
        .withColumn("block_seq", (F.row_number().over(w) - 1).cast("int"))
        .select(F.col("new_shard").alias("shard"), *cols)
        .write.partitionBy("shard")
        .parquet(os.path.join(stage, "segments"))
    )
    (
        spark.read.parquet(os.path.join(index_dir, "docmap"))
        .filter(pred)
        .join(F.broadcast(map_df), "shard")
        .select(F.col("new_shard").alias("shard"), "docid", "url")
        .write.partitionBy("shard")
        .parquet(os.path.join(stage, "docmap"))
    )
    nt = {
        int(r["shard"]): int(r["nt"])
        for r in spark.read.parquet(os.path.join(stage, "segments"))
        .groupBy("shard")
        .agg(F.countDistinct("term").alias("nt"))
        .collect()
    }
    index_store.promote_staged(stage, index_dir, ("segments", "docmap"), new_ids)

    per: dict[int, dict] = {
        n: {
            "shard": n, "n_docs": 0, "sum_dl": 0, "n_terms": nt.get(n, 0),
            "n_blocks": 0, "n_postings": 0, "payload_bytes": 0,
            "first_docid": -1, "last_docid": -1,
            "batch_id": f"compact-{compact_id}",
        }
        for n in new_ids
    }
    for r in mrows:
        b = per[old2new[int(r["shard"])]]
        b["n_docs"] += int(r["n_docs"])
        b["sum_dl"] += int(r["sum_dl"])
        b["n_blocks"] += int(r["n_blocks"])
        b["n_postings"] += int(r["n_postings"])
        b["payload_bytes"] += int(r["payload_bytes"])
        if r["n_docs"] > 0:
            fd, ld = int(r["first_docid"]), int(r["last_docid"])
            b["first_docid"] = fd if b["first_docid"] < 0 else min(b["first_docid"], fd)
            b["last_docid"] = max(b["last_docid"], ld)
    index_store.append_manifest(spark, index_dir, [per[n] for n in new_ids])
    # THE commit point: one appended log line retires the old ranges
    # and activates the compact-<id> manifest rows
    index_store.append_generation(
        index_dir,
        {
            "compact_id": compact_id,
            "shard_base": shard_hwm,
            "num_shards": n_used,
            "retires": [[lo, hi] for lo, hi in ranges],
            "retires_gen_bases": [int(g["shard_base"]) for g in tier],
        },
    )
    if gc:
        gc_retired(index_dir)


def compact_generations(
    spark: SparkSession,
    index_dir: str,
    tier_k: int = 4,
    max_merges: int | None = None,
    gc: bool = True,
    snapshot_after: int = 0,
    snapshot_tag_horizon: int | None = None,
) -> int:
    """Size-tiered LSM compaction: while any size class holds ≥
    ``tier_k`` live generations, k-way-merge the ``tier_k`` smallest of
    that class into one merged generation (class = how many times
    n_docs divides by ``tier_k`` — the classic size-tiering, so a
    merged generation climbs one class and live-generation count stays
    O(tier_k · log(total/batch))). Each merge touches ONLY the tier's
    shards — O(tier) I/O, vs :func:`finalize_index`'s O(index) full
    rewrite — which is what bounds probe read amplification (postings
    fragment count) under continuous micro-batch ingest: ingest with
    ``finalize=False``, compact, finalize once per serving snapshot.

    Returns the number of merges performed. Results are serving-
    identical to an uncompacted (or all-at-once-built) index because
    block payloads and docids never change — only their grouping into
    shard files — and finalize recomputes all global stats either way
    (pytest + oracle-asserted). Single-writer, like ingest; see
    :func:`_merge_tier` for the per-merge crash-safety protocol. A
    crashed compaction leaves only invisible garbage (staged dirs,
    orphaned ``compact-*`` manifest rows) that this function GCs on
    its next run.

    ``gc=False`` defers deletion of retired shard directories (the
    post-commit cleanup only — commits are unaffected): retired dirs
    are invisible to every reader that re-plans (manifest-filtered),
    but a LONG-RUNNING query planned before the commit may still hold
    file handles into them; a deployment with concurrent readers
    compacts with gc=False and calls :func:`gc_retired` from a quiet
    window once in-flight readers drain — the standard LSM
    reader-grace discipline.

    ``snapshot_after=N`` is the metadata auto-policy: when the current
    epoch's generations log holds ≥ N committed compaction records
    AFTER this run's merges, fold it with
    :func:`index_store.snapshot_manifest` — the policy is keyed on
    compaction COUNT because that (not live size, not batch count) is
    exactly what grows every future ``read_manifest``'s retire-range
    predicates and the log. A batch-maintenance caller then never
    needs to schedule snapshots separately: compact in a loop and
    metadata stays O(live) forever. 0 (default) keeps snapshots
    manual. ``snapshot_tag_horizon`` is forwarded verbatim — the same
    opt-in replay-fencing contract documented at
    ``snapshot_manifest``. Requires the snapshot's quiet-window
    discipline: with ``gc=False`` the snapshot itself would GC retired
    dirs, so the combination refuses loudly rather than silently
    breaking reader grace."""
    if snapshot_after > 0 and not gc:
        raise ValueError(
            "snapshot_after with gc=False would GC retired dirs inside "
            "snapshot_manifest and break the reader-grace deferral — "
            "snapshot from the quiet window instead (gc_retired + "
            "snapshot_manifest)"
        )
    if tier_k < 2:
        raise ValueError(f"tier_k must be >= 2, got {tier_k}")
    # recovery: leftover stage dirs + retired dirs from a killed run
    for name in os.listdir(index_dir):
        if name.startswith("_stage_compact_"):
            shutil.rmtree(os.path.join(index_dir, name), ignore_errors=True)
    if gc:
        gc_retired(index_dir)
    merges = 0
    while max_merges is None or merges < max_merges:
        gens = _live_generations(spark, index_dir)
        if len(gens) < tier_k:
            break
        by_class: dict[int, list[dict]] = {}
        for g in gens:
            c, n = 0, max(int(g["n_docs"]), 1)
            while n >= tier_k:
                n //= tier_k
                c += 1
            by_class.setdefault(c, []).append(g)
        tier = None
        for c in sorted(by_class):
            if len(by_class[c]) >= tier_k:
                tier = sorted(
                    by_class[c], key=lambda g: (g["n_docs"], g["shard_base"])
                )[:tier_k]
                break
        if tier is None:
            break
        _merge_tier(spark, index_dir, tier, gc=gc)
        merges += 1
    if (
        snapshot_after > 0
        and len(index_store.compact_records(index_dir)) >= snapshot_after
    ):
        index_store.snapshot_manifest(
            spark, index_dir, tag_horizon=snapshot_tag_horizon
        )
    return merges


def append_index(
    docs: DataFrame,
    index_dir: str,
    num_shards: int | None = None,
    batch_shards: int | None = None,
    text_col: str = "text",
    url_col: str = "url",
    store_positions: bool = False,
) -> dict:
    """LSM append: ingest a new corpus generation into an existing
    index. The generation gets the next contiguous shard range and
    docid range (so global posting lists remain ordered concatenations
    of per-shard runs), its segments build exactly like a base build
    (resumable per batch), and :func:`finalize_index` is the compaction
    step — global df/idf and block_max are recomputed over all
    generations' segments, which is what makes appended and
    built-at-once indexes answer queries identically."""
    if index_store.read_manifest(docs.sparkSession, index_dir) is None:
        raise ValueError("append_index needs an existing index — run build_index first")
    stats = ingest_generation(
        docs, index_dir, num_shards=num_shards, batch_shards=batch_shards,
        text_col=text_col, url_col=url_col, finalize=True,
        store_positions=store_positions,
    )
    assert stats is not None
    return stats
