"""In-memory span tracing for the benchmark's traced runs.

Spans are opened from the benchmark's own files: around the benchmark's
calls (``op``, ``plans.build``, ``session.warmup``) and, by patching, around
every public function of the traced package modules at each name a caller
looks it up (the defining module and every module that imported the
name), plus ``DataFrameWriter.parquet`` and ``PlanCache.get_or_build``.

Each span records its parent and operation id.  While a span is the
innermost open one, Spark jobs run in the span's own job group, so after
each operation :meth:`Tracer.collect_spark` reads the jobs of every group
back from ``statusTracker()`` and the application status store and
attaches them to the span that launched them.  Self time is a span's
duration minus the part its children cover (:func:`self_times`).
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

PACKAGE = "bakery_big_data_spark"

#: Modules whose public functions get a span at every binding.
TRACED_MODULES = (
    "sources.tables",
    "sources.sinks",
    "sources.snapshots",
    "quality",
    "operators.mutation",
    "operators.keys",
    "operators.dedup",
    "operators.repetition",
    "pipeline.medallion",
    "pipeline.curation",
)

#: Private functions worth a span of their own.
EXTRA_FUNCTIONS = (
    ("pipeline.curation", "_build_curation_manifest", "pipeline.curation.build_manifest"),
)

#: Spark counters kept per span; times in seconds, sizes in bytes.
SPARK_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "shuffle_bytes",
    "spill_bytes",
    "executor_run_s",
)


@dataclass
class Span:
    span_id: int
    name: str
    parent_id: int | None
    op_id: str | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    spark: dict = field(default_factory=dict)
    jobs: list = field(default_factory=list)  # [(submitted_s, completed_s)]

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> duration minus the union of its children's intervals."""
    kids: dict[int, list] = defaultdict(list)
    for s in spans:
        if s.parent_id is not None:
            kids[s.parent_id].append((s.start, s.end))
    return {
        s.span_id: s.duration - covered(kids[s.span_id], s.start, s.end)
        for s in spans
    }


def descendants(spans: list[Span], root: Span) -> list[Span]:
    """``root`` and every span below it."""
    kids: dict[int, list] = defaultdict(list)
    for s in spans:
        if s.parent_id is not None:
            kids[s.parent_id].append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids[s.span_id])
    return out


def written(path: str, lo: float, hi: float) -> tuple[int, int]:
    """(bytes, files) of data files under ``path`` modified within [lo, hi]."""
    n_bytes = n_files = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if fn.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(root, fn))
            if lo - 0.01 <= st.st_mtime <= hi + 0.01:
                n_bytes += st.st_size
                n_files += 1
    return n_bytes, n_files


def _arg(args: tuple, kwargs: dict, i: int, name: str):
    return args[i] if len(args) > i else kwargs.get(name)


def _target_path(args: tuple, kwargs: dict) -> dict:
    """The table path of a write: second argument of every traced writer."""
    path = _arg(args, kwargs, 1, "path")
    if path is None:
        path = kwargs.get("table_path")
    return {} if path is None else {"path": str(path)}


def _input_bytes(args: tuple, kwargs: dict) -> dict:
    path = os.path.join(_arg(args, kwargs, 1, "sf_dir"), f"{_arg(args, kwargs, 2, 'name')}.parquet")
    return {"bytes": os.path.getsize(path)}


#: Span attributes recorded per traced function.
DESCRIBE = {
    "sources.tables.load_table": _input_bytes,
    "sources.sinks.overwrite_partitions": _target_path,
    "sources.snapshots.write_snapshot": _target_path,
}


class Tracer:
    """Span recorder.  ``enabled=False`` makes every method a cheap no-op,
    so untraced runs share the workloads' code."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, int] = defaultdict(int)
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self._sc = None

    # ---- spans -------------------------------------------------------
    def attach(self, spark) -> None:
        """Route Spark jobs into per-span job groups from now on."""
        if self.enabled:
            self._sc = spark.sparkContext

    def _set_group(self, span: Span | None) -> None:
        if self._sc is not None:
            gid = None if span is None else f"perfbench-{span.span_id}"
            self._sc.setLocalProperty("spark.jobGroup.id", gid)

    @contextmanager
    def span(self, name: str, op_id: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            span_id=len(self.spans),
            name=name,
            parent_id=None if parent is None else parent.span_id,
            op_id=op_id if op_id is not None else (parent and parent.op_id),
            start=time.time(),
            attrs=attrs,
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    # ---- patching ----------------------------------------------------
    def _wrap(self, owner, attr: str, name: str, describe=None) -> None:
        """Replace ``owner.attr`` by a spanned call; ``describe(args,
        kwargs)`` may return attributes recorded on the span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            attrs = {} if describe is None else describe(args, kwargs)
            with tracer.span(name, **attrs):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        """Patch every traced function at every binding in the package."""
        if not self.enabled:
            return
        import importlib

        from pyspark.sql.readwriter import DataFrameWriter

        from bakery_big_data_spark.operators.cache import PlanCache

        targets: dict[int, tuple[object, str]] = {}
        for short in TRACED_MODULES:
            mod = importlib.import_module(f"{PACKAGE}.{short}")
            for fname, fn in vars(mod).items():
                if (
                    inspect.isfunction(fn)
                    and not fname.startswith("_")
                    and fn.__module__ == mod.__name__
                ):
                    targets[id(fn)] = (fn, f"{short}.{fname}")
        for short, fname, span_name in EXTRA_FUNCTIONS:
            mod = importlib.import_module(f"{PACKAGE}.{short}")
            fn = getattr(mod, fname)
            targets[id(fn)] = (fn, span_name)
        for mod in [m for n, m in sys.modules.items() if n.startswith(PACKAGE) and m]:
            for attr, val in list(vars(mod).items()):
                hit = targets.get(id(val))
                if hit is not None and hit[0] is val:
                    self._wrap(mod, attr, hit[1], DESCRIBE.get(hit[1]))
        self._wrap(DataFrameWriter, "parquet", "sources.sinks.parquet_write", _target_path)
        self._patch_cache(PlanCache)

    def _patch_cache(self, cls) -> None:
        orig = cls.get_or_build
        tracer = self

        @functools.wraps(orig)
        def get_or_build(cache, spark, key, build):
            built = []

            def counted_build():
                built.append(True)
                return build()

            before = len(cache)
            with tracer.span("operators.cache.get_or_build"):
                value = orig(cache, spark, key, counted_build)
            tracer.counts["cache_lookups"] += 1
            if built:
                tracer.counts["cache_evictions"] += max(0, before + 1 - len(cache))
            else:
                tracer.counts["cache_hits"] += 1
            return value

        setattr(cls, "get_or_build", get_or_build)
        self._patches.append((cls, "get_or_build", orig))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # ---- Spark counters ---------------------------------------------
    def collect_spark(self, spans: list[Span]) -> None:
        """Attach the jobs of each span's group to the span (call once the
        operation's jobs have finished)."""
        if self._sc is None:
            return
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self._sc.statusTracker()
        for s in spans:
            acc = dict.fromkeys(SPARK_KEYS, 0)
            for jid in tracker.getJobIdsForGroup(f"perfbench-{s.span_id}"):
                job = store.job(jid)
                acc["jobs"] += 1
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    s.jobs.append(
                        (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                    )
                ids = job.stageIds()
                for i in range(ids.size()):
                    st = store.lastStageAttempt(ids.apply(i))
                    if st.status().toString() == "SKIPPED":
                        continue
                    acc["stages"] += 1
                    acc["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                    acc["failed_tasks"] += st.numFailedTasks()
                    acc["shuffle_bytes"] += st.shuffleWriteBytes()
                    acc["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    acc["executor_run_s"] += st.executorRunTime() / 1000.0
            s.spark = acc

    def measure_writes(self, spans: list[Span]) -> None:
        """Bytes and files each parquet write left on disk."""
        for s in spans:
            if s.name == "sources.sinks.parquet_write" and "path" in s.attrs:
                s.attrs["bytes"], s.attrs["files"] = written(s.attrs["path"], s.start, s.end)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s), default=str) + "\n")
