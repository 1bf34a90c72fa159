"""Metric definitions and their computation from a run's cycles and spans.

``END_TO_END`` is what a user of the system sees and carries the bound by
which a change may worsen it.  Every workload reports every end-to-end
metric, so they are phrased per operation and per cycle (see
perfbench/workloads.py): ``op_p50_ms`` is the median arrival on
``medallion_incremental`` (its per-arrival freshness), the median request
on ``serving_mix``, the pass on ``curation_fresh`` (its ``curation_s``);
``cycle_s`` is all arrivals plus derived dims (incremental total), one
round over every serving query, or one curation pass; ``ops_per_s`` is
operations per busy second (queries per second on ``serving_mix``).
Peak memory is only per-layer (``driver_rss_mb``, ``jvm_rss_mb``): the
JVM's peak varied by up to a quarter between runs of one workload, more
than a bound could allow.  ``PER_LAYER`` comes from the traced run; each
entry names the end-to-end metric it should move.  Unless a name says
otherwise, a per-layer figure is a mean per timed operation, summed
over the operation's spans.  ``BENCHMARK.json`` lists exactly these
(checked by ``perfbench/tests/test_contract.py``).
"""

from __future__ import annotations

import os

from perfbench import stats
from perfbench.trace import SPARK_KEYS, covered, descendants, self_times

# (name, unit, better, bound)
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("op_p50_ms", "ms", "lower", 0.25),
    ("cycle_s", "s", "lower", 0.25),
    ("ops_per_s", "1/s", "higher", 0.25),
)

#: Tables the incremental path commits (arrivals plus derived dims).
MEDALLION_TABLES = (
    "silver_events",
    "silver_feedback",
    "gold_dim_user",
    "gold_dim_user_scd2",
    "gold_fact_daily",
    "gold_fact_feedback_daily",
    "gold_dim_type_stats",
    "gold_fact_user_daily",
    "type_user_state",
)
CURATION_TABLES = ("curation_manifest", "training_corpus", "packed_train")
#: Layers whose spans launch Spark jobs (``quality`` only builds lazy
#: DataFrames; their jobs run under the caller's span).
SPARK_LAYERS = ("sources", "operators", "pipeline", "plans")

_OPS = "op_p50_ms cycle_s"
# (name, unit, better, end-to-end metric it should move)
PER_LAYER = (
    ("session.get_spark_s", "s", "lower", "setup_s"),
    ("session.inputs_s", "s", "lower", "setup_s"),
    ("session.warmup_s", "s", "lower", "setup_s"),
    ("sources.input_bytes", "bytes", "lower", _OPS),
    ("sources.tables.load_table.calls", "count", "lower", _OPS),
    ("sources.sinks.overwrite_partitions.self_s", "s", "lower", _OPS),
    ("sources.sinks.overwrite_partitions.calls", "count", "lower", _OPS),
    ("sources.sinks.parquet_write.self_s", "s", "lower", _OPS),
    ("sources.sinks.bytes_written", "bytes", "lower", _OPS),
    ("sources.sinks.files_written", "count", "lower", _OPS),
    ("sources.snapshots.write_snapshot.self_s", "s", "lower", _OPS),
    ("sources.snapshots.read_snapshot.self_s", "s", "lower", _OPS),
    ("sources.snapshots.bytes_written", "bytes", "lower", _OPS),
    ("quality.self_s", "s", "lower", _OPS),
    ("operators.mutation.scd2_apply.self_s", "s", "lower", _OPS),
    ("operators.keys.self_s", "s", "lower", _OPS),
    ("operators.dedup.self_s", "s", "lower", _OPS),
    ("operators.repetition.self_s", "s", "lower", _OPS),
    ("operators.cache.lookups", "count", "lower", _OPS),
    ("operators.cache.hit_ratio", "ratio", "higher", _OPS),
    ("operators.cache.evictions", "count", "lower", _OPS),
    ("pipeline.medallion.apply_medallion_arrival.self_s", "s", "lower", _OPS),
    ("pipeline.medallion.derive_medallion_dims.self_s", "s", "lower", "cycle_s"),
    *((f"pipeline.medallion.commit_s.{t}", "s", "lower", _OPS) for t in MEDALLION_TABLES),
    ("pipeline.curation.run_curation_pipeline.self_s", "s", "lower", _OPS),
    ("pipeline.curation.build_manifest.self_s", "s", "lower", _OPS),
    *((f"pipeline.curation.commit_s.{t}", "s", "lower", _OPS) for t in CURATION_TABLES),
    ("plans.build_ms", "ms", "lower", _OPS),
    ("plans.exec_ms", "ms", "lower", _OPS),
    ("plans.build_share", "ratio", "lower", _OPS),
    *((f"spark.{k}", "s" if k.endswith("_s") else ("bytes" if k.endswith("bytes") else "count"),
       "lower", _OPS) for k in SPARK_KEYS),
    ("spark.core_busy_ratio", "ratio", "higher", _OPS),
    ("spark.driver_gap_s", "s", "lower", _OPS),
    *((f"spark.jobs.{layer}", "count", "lower", _OPS) for layer in SPARK_LAYERS),
    *((f"spark.executor_run_s.{layer}", "s", "lower", _OPS) for layer in SPARK_LAYERS),
    ("failed_ratio", "ratio", "lower", "every metric"),
    ("lake_bytes_per_input_byte", "ratio", "lower", "cycle_s"),
    ("op_samples", "count", "higher", "op_p50_ms"),
    ("traced_op_p50_ms", "ms", "lower", "op_p50_ms"),
    ("trace.spans_per_op", "count", "lower", "op_p50_ms"),
    ("cores", "count", "higher", "every timing"),
    ("driver_rss_mb", "MB", "lower", "peak memory"),
    ("jvm_rss_mb", "MB", "lower", "peak memory"),
)

_UNIT = {name: unit for name, unit, *_ in (*END_TO_END, *PER_LAYER)}


def _out(values: dict) -> dict:
    return {k: {"value": float(v), "unit": _UNIT[k]} for k, v in values.items()}


def end_to_end(setup_s: float, cycles: list) -> dict:
    op_s = [x for c in cycles for x in c.op_s]
    return _out(
        {
            "setup_s": setup_s,
            "op_p50_ms": stats.percentile(op_s, 50.0) * 1000.0,
            "cycle_s": stats.percentile([c.cycle_s for c in cycles], 50.0),
            "ops_per_s": len(op_s) / sum(op_s),
        }
    )


def _table(path: str) -> str:
    path = path.rstrip("/")
    base = os.path.basename(path)
    return os.path.basename(os.path.dirname(path)) if base.startswith("v=") else base


def per_layer(tracer, cycles: list, input_bytes: int, cores: int, rss_mb: dict) -> dict:
    spans = tracer.spans
    ops = [s for s in spans if s.name == "op"]
    n = max(len(ops), 1)
    selfs = self_times(spans)
    by_id = {s.span_id: s for s in spans}
    inside = [d for op in ops for d in descendants(spans, op)]
    out: dict[str, float] = {name: 0.0 for name, *_ in PER_LAYER}

    def add(name: str, value: float) -> None:
        out[name] = out.get(name, 0.0) + value / n

    for s in inside:
        layer = s.name.split(".")[0]
        for key in ("self_s", "calls"):
            name = f"{s.name}.{key}"
            if name in out:
                add(name, selfs[s.span_id] if key == "self_s" else 1)
        for prefix in ("quality", "operators.keys", "operators.dedup", "operators.repetition"):
            if s.name.startswith(prefix + "."):
                add(f"{prefix}.self_s", selfs[s.span_id])
        if s.name == "sources.tables.load_table":
            add("sources.input_bytes", s.attrs.get("bytes", 0))
        if s.name == "sources.sinks.parquet_write":
            add("sources.sinks.bytes_written", s.attrs.get("bytes", 0))
            add("sources.sinks.files_written", s.attrs.get("files", 0))
            parent = by_id.get(s.parent_id)
            if parent is not None and parent.name == "sources.snapshots.write_snapshot":
                add("sources.snapshots.bytes_written", s.attrs.get("bytes", 0))
            table = _table(s.attrs.get("path", ""))
            for pipe, tables in (("medallion", MEDALLION_TABLES), ("curation", CURATION_TABLES)):
                if table in tables:
                    add(f"pipeline.{pipe}.commit_s.{table}", s.duration)
        if s.name in ("plans.build", "plans.exec"):
            add(f"{s.name}_ms", s.duration * 1000.0)
        for key in SPARK_KEYS:
            add(f"spark.{key}", s.spark.get(key, 0))
        if layer in SPARK_LAYERS:
            add(f"spark.jobs.{layer}", s.spark.get("jobs", 0))
            add(f"spark.executor_run_s.{layer}", s.spark.get("executor_run_s", 0.0))

    for op in ops:
        jobs = [j for d in descendants(spans, op) for j in d.jobs]
        add("spark.driver_gap_s", op.duration - covered(jobs, op.start, op.end))
    op_wall = sum(op.duration for op in ops)
    if op_wall > 0:
        out["spark.core_busy_ratio"] = out["spark.executor_run_s"] * n / (op_wall * cores)
    busy = out["plans.build_ms"] + out["plans.exec_ms"]
    out["plans.build_share"] = out["plans.build_ms"] / busy if busy else 0.0

    counts = tracer.counts
    out["operators.cache.lookups"] = counts["cache_lookups"] / n
    out["operators.cache.evictions"] = counts["cache_evictions"] / n
    if counts["cache_lookups"]:
        out["operators.cache.hit_ratio"] = counts["cache_hits"] / counts["cache_lookups"]

    for s in spans:
        if s.name in ("session.get_spark", "session.inputs", "session.warmup"):
            out[f"{s.name}_s"] = s.duration

    op_s = [x for c in cycles for x in c.op_s]
    summary = stats.summarize(op_s)
    attempted = sum(c.ops for c in cycles)
    failed = sum(c.failed_ops + c.failed_checks for c in cycles)
    out["failed_ratio"] = failed / max(attempted, 1)
    if input_bytes:
        out["lake_bytes_per_input_byte"] = (
            sum(c.lake_bytes for c in cycles) / len(cycles) / input_bytes
        )
    out["op_samples"] = summary["n"]
    out["traced_op_p50_ms"] = summary["p50"] * 1000.0
    out["trace.spans_per_op"] = len(inside) / n
    out["cores"] = cores
    out["driver_rss_mb"] = rss_mb["driver"]
    out["jvm_rss_mb"] = rss_mb["jvm"]
    return _out(out)
