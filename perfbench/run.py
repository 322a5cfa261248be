"""Engine benchmark: one workload, one seed, one driver process.

    python3 perfbench/run.py --workload {bulk_build,serve,ingest_stream} \
        --seed N --seconds S --trace {0,1}

Runs from the root of a checkout of the repository, on
``local[<nproc>]``. Inputs are generated from ``--seed`` and written to
parquet before anything is timed; every sampled result is checked
against an independent DuckDB oracle. The last line of standard output
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it reports the workload's own named
figures. Exits 1 on any oracle mismatch. Scratch files go to
``.perfbench-work/`` in the checkout; a traced run leaves its spans in
``.perfbench-work/spans/``.
"""

from __future__ import annotations

import os
import sys

# One fixed string-hash seed: with per-process randomization the
# driver-local probe's sub-millisecond latencies shifted ~10% from run
# to run (dict/set layouts), which no sample count inside a run evens
# out. Re-exec before anything else is imported.
if __name__ == "__main__" and os.environ.get("PYTHONHASHSEED") != "0":
    os.environ["PYTHONHASHSEED"] = "0"
    os.execv(sys.executable, [sys.executable, *sys.argv])

import time

T_PROCESS = time.perf_counter()

import argparse
import json
import shutil
import signal
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

# the engine is imported before anything else happens, so a checkout
# without it fails at once
from semantic_search_engine_spark import session  # noqa: E402
from semantic_search_engine_spark.operators import build, query  # noqa: E402
from semantic_search_engine_spark.sources import index_store  # noqa: E402

import inputs  # noqa: E402
import workloads  # noqa: E402
from spans import Recorder, hwm_mb  # noqa: E402

DRIVER_MEMORY = "1g"

# engine entry points a traced run records: (owner, attribute, span
# name, writes the index directory given as its second argument,
# may launch Spark jobs)
TRACED = [
    (build, "build_segments", "build.build_segments", True, True),
    (build, "finalize_index", "build.finalize_index", True, True),
    (build, "ingest_generation", "build.ingest_generation", True, True),
    (build, "compact_generations", "build.compact_generations", True, True),
    (index_store, "snapshot_manifest", "index_store.snapshot_manifest", True, True),
    (query.LocalIndexProbe, "__init__", "query.LocalIndexProbe.open", False, False),
    (query.LocalIndexProbe, "search", "query.LocalIndexProbe.search", False, False),
    (query.LocalIndexProbe, "search_phrase", "query.LocalIndexProbe.search_phrase", False, False),
]

BYTE_GROUPS = ("postings", "segments", "dictionary", "docmap")


def start_spark(work: str, cores: int):
    """Session on local[cores] with a pinned driver heap and every
    scratch directory inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # local-mode Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return session.get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the status tracker is the source of the job counts
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def jvm_pid() -> int:
    """The driver JVM: the launcher pyspark started (spark-submit execs
    spark-class, which execs java)."""
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/comm") as f:
        comm = f.read().strip()
    if comm != "java":
        raise RuntimeError(f"gateway process {pid} is {comm!r}, not the JVM")
    return pid


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)


def touch_all(ctx: workloads.Ctx, wl) -> None:
    """Traced runs only: call the traced entry points the workload
    itself never reaches once, on a tiny positions index, so that every
    layer has spans in every workload."""
    seed = ctx.seed
    docs = inputs.corpus(seed, 30, 200)
    path = inputs.write(docs, ctx.path("in", "touch.parquet"))
    d = ctx.path("touch-index")
    build.build_segments(ctx.docs(path, inputs.text_bytes(docs)), d, store_positions=True)
    build.finalize_index(ctx.spark, d)
    if "write" in wl.TOUCH:
        for i in range(2):
            t = inputs.corpus(seed, 31 + i, 100)
            p = inputs.write(t, ctx.path("in", f"touch-{i}.parquet"))
            build.ingest_generation(
                ctx.docs(p, inputs.text_bytes(t)), d, finalize=False, tag=f"t{i}",
                store_positions=True,
            )
        build.compact_generations(ctx.spark, d, tier_k=2)
        build.finalize_index(ctx.spark, d)
        index_store.snapshot_manifest(ctx.spark, d)
    if "read" in wl.TOUCH:
        scratch = workloads.Pass()
        words = docs.column("text")[0].as_py().split()
        with ctx.probing():
            probe = query.LocalIndexProbe(d)
            ctx.probe_search(probe, f"{words[0]} {words[1]}", scratch, phrase=True)
        with ctx.rec.span("query.search_index_wand"):
            query.search_index_wand(
                query.IndexReader(ctx.spark, d), [{"qid": 0, "query": words[0], "k": 10}]
            ).collect()
    shutil.rmtree(d)


def end_to_end(setup_s: float, p: workloads.Pass, mem: dict) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (mem["driver"] + mem["jvm"], "MB"),
        "index_bytes_per_text_byte": (statistics.median(p.index_ratio), "ratio"),
        "op_mean_ms": (1e3 * statistics.fmean(p.ops), "ms"),
        "throughput_per_s": (p.items_per_s, "1/s"),
    }


def per_layer(rec: Recorder, ctx: workloads.Ctx, plain: workloads.Pass,
              traced: workloads.Pass, mem: dict) -> dict:
    # a call's figures come from the traced pass when the workload
    # makes it there, else from set-up (warm-up and touch_all)
    by_name: dict[str, list] = {}
    for s in rec.spans:
        by_name.setdefault(s.name, []).append(s)
    for name, spans in by_name.items():
        in_pass = [s for s in spans if s.attrs["phase"] == "pass"]
        by_name[name] = in_pass or spans

    def med(name: str, key: str | None = None) -> float:
        spans = by_name.get(name, [])
        if not spans:
            return 0.0
        if key is None:
            return statistics.median(s.end - s.start for s in spans)
        return statistics.median_low(s.attrs.get(key, 0) for s in spans)

    out: dict[str, tuple[float, str]] = {"session.get_spark_s": (med("session.get_spark"), "s")}
    for fn in ("build_segments", "finalize_index"):
        out[f"build.{fn}_s"] = (med(f"build.{fn}"), "s")
        for key in ("jobs", "stages", "tasks"):
            out[f"build.{fn}.{key}"] = (med(f"build.{fn}", key), "count")
    out["build.ingest_generation_s"] = (med("build.ingest_generation"), "s")
    out["build.ingest_generation.jobs"] = (med("build.ingest_generation", "jobs"), "count")
    out["build.compact_generations_s"] = (med("build.compact_generations"), "s")
    out["build.merges"] = (
        sum(s.attrs.get("result", 0) for s in by_name.get("build.compact_generations", [])), "count"
    )
    out["index_store.snapshot_manifest_s"] = (med("index_store.snapshot_manifest"), "s")

    d = ctx.index_dir
    groups = {g: 0 for g in BYTE_GROUPS + ("manifest",)}
    for entry in os.listdir(d):
        path = os.path.join(d, entry)
        size = workloads.dir_bytes(path) if os.path.isdir(path) else os.path.getsize(path)
        groups[entry if entry in BYTE_GROUPS else "manifest"] += size
    for g, size in groups.items():
        out[f"index_store.bytes.{g}"] = (size, "bytes")
    written = sum(s.attrs.get("bytes_written", 0) for s in rec.spans)
    out["index_store.bytes_written_per_text_byte"] = (written / max(ctx.text_in, 1), "ratio")
    retired = index_store.retired_gen_bases(d)
    live = [
        g for g in index_store.read_generations(d)
        if int(g["shard_base"]) not in retired and not g.get("retired")
    ]
    # a base built before any logged generation is one more live one
    base = 0 not in retired and not any(int(g["shard_base"]) == 0 for g in live)
    out["index_store.live_generations"] = (len(live) + int(base), "count")
    out["index_store.postings_files"] = (
        sum(f.endswith(".parquet") for _, _, fs in os.walk(os.path.join(d, "postings")) for f in fs),
        "count",
    )

    out["query.LocalIndexProbe.open_ms"] = (1e3 * med("query.LocalIndexProbe.open"), "ms")
    hits = [t for t, h in zip(traced.probe_lat, traced.probe_hit) if h]
    misses = [t for t, h in zip(traced.probe_lat, traced.probe_hit) if not h]
    out["query.probe_hit_ms"] = (1e3 * statistics.median(hits) if hits else 0.0, "ms")
    out["query.probe_miss_ms"] = (1e3 * statistics.median(misses) if misses else 0.0, "ms")
    out["query.probe_repeat_share"] = (len(hits) / max(len(traced.probe_lat), 1), "fraction")
    out["query.posting_bytes_per_query"] = (
        workloads.posting_bytes_per_query(d, ctx.queries), "bytes"
    )
    out["query.search_index_wand_s"] = (med("query.search_index_wand"), "s")
    out["query.search_index_wand.jobs"] = (med("query.search_index_wand", "jobs"), "count")
    out["query.search_index_wand.tasks"] = (med("query.search_index_wand", "tasks"), "count")

    codec = by_name.get("codec.decode_blocks_batch", [])
    probes = len(by_name.get("query.LocalIndexProbe.search", [])) + len(
        by_name.get("query.LocalIndexProbe.search_phrase", [])
    )
    out["codec.decode_blocks_batch_s"] = (med("codec.decode_blocks_batch"), "s")
    out["codec.decoded_postings"] = (
        sum(s.attrs.get("n", 0) for s in codec) / max(probes, 1), "postings/query"
    )
    out["mem.jvm_hwm_mb"] = (mem["jvm"], "MB")
    out["mem.driver_hwm_mb"] = (mem["driver"], "MB")
    for layer, secs in sorted(rec.self_times().items()):
        out[f"self.{layer}_s"] = (secs, "s")
    for layer in ("session", "build", "index_store", "query", "codec"):
        out.setdefault(f"self.{layer}_s", (0.0, "s"))
    out["trace.overhead_share"] = (
        statistics.fmean(traced.ops) / statistics.fmean(plain.ops) - 1.0, "fraction"
    )
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a terminated run still stops Spark and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    wl = workloads.WORKLOADS[args.workload]()
    spark = None
    try:
        t0 = time.perf_counter()
        ctx = workloads.Ctx(None, work, args.seed, None)
        wl.make_inputs(ctx)
        input_s = time.perf_counter() - t0
        ctx.log("inputs", t0)

        t0 = time.perf_counter()
        spark = start_spark(work, cores)
        t_spark = time.perf_counter()
        ctx.log("spark session", t0)
        ctx.spark = spark
        rec = ctx.rec = Recorder(spark.sparkContext)
        rec.enabled = bool(args.trace)
        rec.add("session.get_spark", t0, t_spark)
        if args.trace:
            with rec.patched(TRACED):
                wl.setup(ctx)
                touch_all(ctx, wl)
        else:
            wl.setup(ctx)
        setup_s = time.perf_counter() - T_PROCESS - input_s
        ctx.attempted = 0  # set-up requests are not measured work; failures still count
        ctx.log("set-up since process start", T_PROCESS)
        t0 = time.perf_counter()

        if args.trace:
            rec.enabled = False
            plain = wl.run_pass(ctx, args.seconds, "plain")
            rec.enabled, rec.phase = True, "pass"
            with rec.patched(TRACED):
                measured = wl.run_pass(ctx, args.seconds, "traced")
            rec.enabled = False
        else:
            plain = measured = wl.run_pass(ctx, args.seconds, "plain")
        ctx.log("measured passes", t0)
        mem = {"driver": hwm_mb(os.getpid()), "jvm": hwm_mb(jvm_pid())}
        t0 = time.perf_counter()
        ctx.run_checks()
        ctx.log("oracle checks", t0)

        if args.trace:
            rec.resolve_jobs()
            metrics = per_layer(rec, ctx, plain, measured, mem)
            rec.dump(os.path.join(ROOT, ".perfbench-work", "spans",
                                  f"{args.workload}-seed{args.seed}.jsonl"))
        else:
            metrics = end_to_end(setup_s, measured, mem)
        report = dict(end_to_end(setup_s, plain, mem), **plain.report)
        report["error_rate"] = (ctx.failed / max(ctx.attempted, 1), "fraction")
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    correct = ctx.failed == 0 and ctx.checked > 0
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "master": f"local[{cores}]", "driver_memory": DRIVER_MEMORY,
        "checked": ctx.checked,
        "report": {k: {"value": v, "unit": u} for k, (v, u) in report.items()},
    }))
    print(json.dumps({
        "correct": correct,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
