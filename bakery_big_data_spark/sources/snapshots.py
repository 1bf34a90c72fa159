"""Snapshot-versioned parquet tables: time travel + incremental diff.

The reference gets table versioning from Iceberg (every MERGE/append
commits a snapshot; readers can time-travel and diff).  This is the
plain-parquet equivalent the rest of the engine composes with:

- each commit writes a NEW immutable directory ``v=<n>`` and then swaps a
  tiny JSON manifest (atomic rename), so readers never see a half-written
  version and concurrent reads of an old version keep working;
- ``read_snapshot`` resolves the manifest (or an explicit version) to one
  directory — a plain columnar scan, no merge-on-read cost;
- ``snapshot_diff`` computes row-level changes between two versions with a
  single full-outer join on the key — the incremental-read primitive that
  feeds downstream CDC application (cf. plans/medallion.py
  ``cdc_apply_changes``).

At 100 TB: versions share nothing (copy-on-write at table granularity is
the WRONG default for huge tables — Iceberg rewrites only changed files;
documented here so callers version partitions, not whole tables: pass a
partition directory as ``table_path`` and version each partition
independently, which is exactly the granularity the engine's
dynamic-partition-overwrite mutations touch).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from bakery_big_data_spark.sources.tables import read_parquet

_MANIFEST = "_snapshot_manifest.json"


def _manifest_path(table_path: str) -> str:
    return os.path.join(table_path, _MANIFEST)


def _load_manifest(table_path: str) -> dict:
    try:
        with open(_manifest_path(table_path)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {"current": 0, "versions": []}


def write_snapshot(
    df: DataFrame, table_path: str, meta: dict | None = None
) -> int:
    """Commit ``df`` as the table's next version; returns the version number.

    The data directory is fully written before the manifest swap, and the
    manifest swap is an atomic rename — a crash mid-commit leaves the
    previous version current and an orphan directory (harmless, re-written
    by the next commit of that version number).  ``meta`` rides INSIDE the
    same atomic swap (stored per version under ``meta``), which is what
    lets a streaming sink make data + applied-batch-id a single commit —
    the transactional-write half of exactly-once (see
    :func:`last_commit_meta`).
    """
    import datetime

    m = _load_manifest(table_path)
    version = m["current"] + 1
    vdir = os.path.join(table_path, f"v={version}")
    df.write.mode("overwrite").parquet(vdir)
    stamps = dict(m.get("committed_at", {}))
    stamps[str(version)] = datetime.datetime.now(datetime.timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S.%f+00:00"
    )
    metas = dict(m.get("meta", {}))
    if meta is not None:
        metas[str(version)] = meta
    m = {
        "current": version,
        "versions": m["versions"] + [version],
        "committed_at": stamps,
        "meta": metas,
    }
    tmp = _manifest_path(table_path) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(m, fh)
    os.replace(tmp, _manifest_path(table_path))  # atomic on POSIX
    return version


def read_snapshot(
    spark: SparkSession, table_path: str, version: int | None = None
) -> DataFrame:
    """Read the current (or an explicit historical) version — time travel."""
    m = _load_manifest(table_path)
    v = m["current"] if version is None else version
    if v not in m["versions"]:
        raise ValueError(f"version {v} not in {m['versions']} at {table_path}")
    return read_parquet(spark, os.path.join(table_path, f"v={v}"))


def snapshot_diff(
    spark: SparkSession,
    table_path: str,
    key_cols: list[str],
    from_version: int,
    to_version: int,
) -> DataFrame:
    """Row-level changes between two versions: one full-outer join on the key.

    Returns every changed row with ``_change ∈ {{'insert','delete','update'}}``
    and the after-image columns (before-image for deletes).  Unchanged rows
    are filtered by comparing the full row structs, so the diff output is
    proportional to the change set, not the table.
    """
    from pyspark.sql import functions as F

    old = read_snapshot(spark, table_path, from_version)
    new = read_snapshot(spark, table_path, to_version)
    data_cols = [c for c in new.columns if c not in key_cols]
    o = old.select(
        *key_cols, F.struct(*data_cols).alias("_before")
    )
    n = new.select(
        *key_cols, F.struct(*data_cols).alias("_after")
    )
    j = o.join(n, key_cols, "full_outer")
    change = (
        F.when(F.col("_before").isNull(), "insert")
        .when(F.col("_after").isNull(), "delete")
        .when(~F.col("_before").eqNullSafe(F.col("_after")), "update")
    )
    return (
        j.withColumn("_change", change)
        .filter(F.col("_change").isNotNull())
        .select(
            *key_cols,
            "_change",
            F.coalesce(F.col("_after"), F.col("_before")).alias("_row"),
        )
        .select(*key_cols, "_change", "_row.*")
    )


def expire_snapshots(table_path: str, keep_last: int = 1) -> list[int]:
    """Lakehouse maintenance: expire all but the last ``keep_last`` versions
    (the Iceberg ``expire_snapshots`` shape — without expiry a time-travel
    table at 100 TB retains every historical copy forever).

    Commit order is crash-safe in the same way as ``write_snapshot``: the
    manifest is atomically swapped to the retained version list FIRST, then
    the expired data directories are deleted — a crash between the two
    leaves orphan directories (invisible to readers, re-deletable) rather
    than a manifest pointing at missing data.  Returns the expired
    versions.
    """
    import shutil

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1: the current version can never expire")
    m = _load_manifest(table_path)
    versions = sorted(m["versions"])
    if m["current"] not in versions[-keep_last:]:
        raise ValueError(
            f"current version {m['current']} would expire with keep_last={keep_last}"
        )
    expired, kept = versions[:-keep_last], versions[-keep_last:]
    if not expired:
        return []
    keep_set = set(kept)
    stamps = {
        str(v): ts
        for v, ts in m.get("committed_at", {}).items()
        if int(v) in keep_set
    }
    # meta rides retention too — dropping it would e.g. forget a streaming
    # sink's applied-batch-id and let a replayed batch double-count
    metas = {
        str(v): mv
        for v, mv in m.get("meta", {}).items()
        if int(v) in keep_set
    }
    tmp = _manifest_path(table_path) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(
            {
                "current": m["current"],
                "versions": kept,
                "committed_at": stamps,
                "meta": metas,
            },
            fh,
        )
    os.replace(tmp, _manifest_path(table_path))
    for v in expired:
        shutil.rmtree(os.path.join(table_path, f"v={v}"), ignore_errors=True)
    return expired


def read_snapshot_as_of(
    spark: SparkSession, table_path: str, as_of: str
) -> DataFrame:
    """Timestamp time travel: the newest version committed at or before
    ``as_of`` (ISO-8601 UTC) — the `FOR TIMESTAMP AS OF` read.

    Commit times are recorded by ``write_snapshot`` in the manifest
    (``committed_at``, UTC).  Manifests written before this field existed
    resolve as if every surviving version carries its file's commit order
    but no wall-clock — those raise, pointing at version-based reads,
    rather than silently guessing.
    """
    m = _load_manifest(table_path)
    stamps: dict = m.get("committed_at", {})
    if not stamps:
        raise ValueError(
            f"{table_path} manifest predates commit timestamps — "
            "use read_snapshot(version=...)"
        )
    eligible = [
        int(v)
        for v in m["versions"]
        if str(v) in stamps and stamps[str(v)] <= as_of
    ]
    if not eligible:
        raise ValueError(
            f"no version of {table_path} committed at or before {as_of}"
        )
    return read_snapshot(spark, table_path, version=max(eligible))


def table_exists(table_path: str) -> bool:
    """True once at least one version has been committed at ``table_path``.

    Distinguishes "table not created yet" (expected on a sink's first
    batch) from genuine read errors — callers should branch on this
    instead of swallowing exceptions around :func:`read_snapshot`, so a
    transient or corrupt-manifest failure fails the batch (and the
    checkpoint retries) rather than silently discarding accumulated state.
    """
    return bool(_load_manifest(table_path)["versions"])


def last_commit_meta(table_path: str) -> dict | None:
    """The ``meta`` recorded with the current version's commit (None if the
    table does not exist yet or the commit carried no meta)."""
    m = _load_manifest(table_path)
    return m.get("meta", {}).get(str(m.get("current")))


# --------------------------------------------------------------------------
# Append-only log tables (r11 verdict task 4)
#
# write_snapshot rewrites the WHOLE table every commit — right for
# versioned batch tables, wrong for streaming state that only grows: a
# replay of B micro-batches rewrites O(corpus) state B times (the
# dominant cost of streaming_semantic_ingest_gate's ×100 run in r11).
# An append-log table commits only the Δ each batch (same atomic
# manifest swap, same per-version meta for exactly-once batch guards);
# readers union the base + appended segments, and compact_log folds the
# segments back into one base when the segment count grows — the
# Iceberg/Delta append+compact shape at file granularity.
# --------------------------------------------------------------------------


def append_commit(
    df: DataFrame, table_path: str, meta: dict | None = None
) -> int:
    """Commit ``df`` as a Δ-sized APPEND segment (next version).

    I/O is proportional to ``df``, never to the accumulated table.  The
    manifest swap is the same crash-safe atomic rename as
    :func:`write_snapshot`; ``meta`` rides the swap, so an applied-batch
    id and its data commit together (exactly-once under checkpoint
    re-delivery)."""
    import datetime

    m = _load_manifest(table_path)
    version = m["current"] + 1
    vdir = os.path.join(table_path, f"v={version}")
    df.write.mode("overwrite").parquet(vdir)
    stamps = dict(m.get("committed_at", {}))
    stamps[str(version)] = datetime.datetime.now(
        datetime.timezone.utc
    ).strftime("%Y-%m-%dT%H:%M:%S.%f+00:00")
    metas = dict(m.get("meta", {}))
    if meta is not None:
        metas[str(version)] = meta
    kinds = dict(m.get("kind", {}))
    kinds[str(version)] = "append"
    m = {
        "current": version,
        "versions": m["versions"] + [version],
        "committed_at": stamps,
        "meta": metas,
        "kind": kinds,
    }
    tmp = _manifest_path(table_path) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(m, fh)
    os.replace(tmp, _manifest_path(table_path))
    return version


def _log_segments(table_path: str) -> list[int]:
    """Versions a log read unions: the newest base (compacted) segment,
    if any, plus every append segment after it.  Versions written by
    plain :func:`write_snapshot` (no ``kind`` entry) count as base —
    a log table can start from a full snapshot and go append-only."""
    m = _load_manifest(table_path)
    kinds = m.get("kind", {})
    bases = [v for v in m["versions"] if kinds.get(str(v), "base") == "base"]
    floor_v = max(bases) if bases else 0
    return sorted(
        v
        for v in m["versions"]
        if v == floor_v or (v > floor_v and kinds.get(str(v)) == "append")
    )


def read_log(spark: SparkSession, table_path: str) -> DataFrame:
    """Union of the current base segment + all later append segments —
    the accumulated state of an append-log table.  One multi-path
    parquet scan (a single relation, not a union tree), so partition
    count tracks total data, not segment count."""
    segs = _log_segments(table_path)
    if not segs:
        raise ValueError(f"no segments at {table_path}")
    return spark.read.parquet(
        *[os.path.join(table_path, f"v={v}") for v in segs]
    )


def compact_log(
    spark: SparkSession, table_path: str, max_segments: int = 16
) -> bool:
    """Fold the log's segments into one BASE version when more than
    ``max_segments`` would otherwise accumulate (unbounded segment
    counts mean unbounded open-file/list costs at 100 TB).  The
    compacted rewrite is one new version committed with the same atomic
    swap; old segments are expired after the swap, so a crash leaves
    either the old segment list or the new base — never a partial mix.
    Returns True if a compaction ran."""
    segs = _log_segments(table_path)
    if len(segs) <= max_segments:
        return False
    m = _load_manifest(table_path)
    merged = read_log(spark, table_path)
    version = m["current"] + 1
    vdir = os.path.join(table_path, f"v={version}")
    merged.write.mode("overwrite").parquet(vdir)
    import datetime
    import shutil

    stamps = dict(m.get("committed_at", {}))
    stamps[str(version)] = datetime.datetime.now(
        datetime.timezone.utc
    ).strftime("%Y-%m-%dT%H:%M:%S.%f+00:00")
    metas = dict(m.get("meta", {}))
    cur_meta = metas.get(str(m["current"]))
    if cur_meta is not None:  # the batch guard must survive compaction
        metas[str(version)] = cur_meta
    kinds = dict(m.get("kind", {}))
    kinds[str(version)] = "base"
    keep = [v for v in m["versions"] if v not in set(segs)] + [version]
    new_m = {
        "current": version,
        "versions": sorted(keep),
        "committed_at": {k: v for k, v in stamps.items() if int(k) in set(keep)},
        "meta": {k: v for k, v in metas.items() if int(k) in set(keep)},
        "kind": {k: v for k, v in kinds.items() if int(k) in set(keep)},
    }
    tmp = _manifest_path(table_path) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(new_m, fh)
    os.replace(tmp, _manifest_path(table_path))
    for v in segs:
        shutil.rmtree(
            os.path.join(table_path, f"v={v}"), ignore_errors=True
        )
    return True
