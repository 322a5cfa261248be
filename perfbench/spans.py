"""Span recorder and per-call accounting for traced runs.

Spans are recorded around the engine's public calls from outside the
engine: the benchmark replaces module attributes (``build.build_segments``
and friends) with recording wrappers for the traced pass only, so calls
the engine makes to its own public functions (``ingest_generation`` →
``build_segments``) become child spans. Every span carries a Spark job
group; job, stage and task counts are read from the status tracker once
the run ends. Write-path spans also walk the index directory before and
after the call to count the bytes of files created or rewritten.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    parent: int | None
    request: int | None
    name: str
    start: float
    end: float = 0.0
    group: str = ""
    attrs: dict = field(default_factory=dict)


def dir_state(path: str) -> dict[str, tuple[int, int]]:
    """{file: (size, mtime_ns)} under ``path``."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:  # a concurrent rename/GC
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def bytes_written(before: dict, after: dict) -> int:
    return sum(sz for p, (sz, mt) in after.items() if before.get(p) != (sz, mt))


def hwm_mb(pid: int) -> float:
    """VmHWM (peak resident set) of ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Recorder:
    """In-memory spans; ``enabled`` is False outside traced stages.
    ``phase`` names the stage new spans belong to."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.enabled = False
        self.phase = "setup"
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._request: int | None = None

    @contextlib.contextmanager
    def span(self, name: str, walk_dir: str | None = None, spark_jobs: bool = True):
        """Record the enclosed block. Spans that may launch Spark jobs
        get a job group of their own; setting one is a JVM round trip,
        so driver-local calls (``spark_jobs=False``) skip it."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), parent.sid if parent else None, self._request, name, 0.0)
        s.attrs["phase"] = self.phase
        s.group = f"perfbench-{s.sid}" if spark_jobs else ""
        # only the outermost write-path span walks: nested calls
        # (ingest_generation → build_segments) would double-count
        walking = walk_dir is not None and not any("walk" in p.attrs for p in self._stack)
        before = dir_state(walk_dir) if walking else None
        if walking:
            s.attrs["walk"] = True
        if s.group:
            self.sc.setJobGroup(s.group, name)
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if s.group:
                outer = next((p for p in reversed(self._stack) if p.group), None)
                if outer is not None:
                    self.sc.setJobGroup(outer.group, outer.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            if before is not None:
                s.attrs["bytes_written"] = bytes_written(before, dir_state(walk_dir))
            self.spans.append(s)

    def add(self, name: str, start: float, end: float) -> None:
        """A span for work timed by the caller (no job group)."""
        if self.enabled:
            self.spans.append(
                Span(next(self._ids), None, None, name, start, end, attrs={"phase": self.phase})
            )

    @contextlib.contextmanager
    def request(self, rid: int):
        """Spans opened inside share request id ``rid``."""
        old, self._request = self._request, rid
        try:
            yield
        finally:
            self._request = old

    def wrap(self, fn, name: str, walks_index_dir: bool = False, spark_jobs: bool = True):
        """Recording wrapper; write-path functions take the index
        directory as their second positional argument."""

        def traced(*args, **kwargs):
            walk = args[1] if walks_index_dir and len(args) > 1 else None
            with self.span(name, walk_dir=walk, spark_jobs=spark_jobs) as s:
                out = fn(*args, **kwargs)
                if s is not None and isinstance(out, int):
                    s.attrs["result"] = out
                return out

        traced.__wrapped__ = fn
        return traced

    @contextlib.contextmanager
    def patched(self, targets: list[tuple[object, str, str, bool, bool]]):
        """Install wrappers on (module_or_class, attr, span name,
        walks_index_dir, spark_jobs) for the duration of the block."""
        saved = []
        try:
            for owner, attr, name, walks, jobs in targets:
                orig = getattr(owner, attr)
                saved.append((owner, attr, orig))
                setattr(owner, attr, self.wrap(orig, name, walks, jobs))
            yield
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    def counted(self, fn, name: str, count):
        """Wrapper that also records ``count(args)`` as ``n``."""

        def traced(*args, **kwargs):
            with self.span(name, spark_jobs=False) as s:
                out = fn(*args, **kwargs)
                if s is not None:
                    s.attrs["n"] = int(count(args))
                return out

        return traced

    def resolve_jobs(self, timeout_s: float = 10.0) -> None:
        """Attach (jobs, stages, tasks) to every span, inclusive of its
        children's groups. Waits for the listener bus to report every
        job of every group as finished."""
        st = self.sc.statusTracker()
        deadline = time.monotonic() + timeout_s
        own: dict[int, tuple[int, int, int]] = {}
        for s in self.spans:
            if not s.group:
                own[s.sid] = (0, 0, 0)
                continue
            while True:
                jobs = st.getJobIdsForGroup(s.group)
                infos = [st.getJobInfo(j) for j in jobs]
                done = all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos)
                if done or time.monotonic() > deadline:
                    break
                time.sleep(0.05)
            stages = [sid for i in infos if i is not None for sid in i.stageIds]
            tasks = 0
            for sid in stages:
                si = st.getStageInfo(sid)
                tasks += si.numTasks if si is not None else 0
            own[s.sid] = (len(jobs), len(stages), tasks)
        kids: dict[int, list[int]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s.sid)

        def total(sid: int) -> tuple[int, int, int]:
            j, g, t = own.get(sid, (0, 0, 0))
            for c in kids.get(sid, []):
                cj, cg, ct = total(c)
                j, g, t = j + cj, g + cg, t + ct
            return j, g, t

        for s in self.spans:
            s.attrs["jobs"], s.attrs["stages"], s.attrs["tasks"] = total(s.sid)

    def self_times(self) -> dict[str, float]:
        """Seconds per layer (the span name's first component), each
        span counted minus its children's time."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for s in self.spans:
            layer = s.name.split(".")[0]
            out[layer] = out.get(layer, 0.0) + (s.end - s.start) - child_time.get(s.sid, 0.0)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({
                    "id": s.sid, "parent": s.parent, "request": s.request, "name": s.name,
                    "start": s.start, "end": s.end,
                    **{k: v for k, v in s.attrs.items() if k != "walk"},
                }) + "\n")
