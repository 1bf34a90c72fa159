"""Snapshot versioning: time travel, atomic manifest swap, incremental diff."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from bakery_big_data_spark.sources.snapshots import (
    read_snapshot,
    snapshot_diff,
    write_snapshot,
)
from bakery_big_data_spark.sources.tables import load_table


def _base(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 300)
        .select("event_id", "value", "event_type")
    )


def test_time_travel_and_current(spark, sf_dir, tmp_path):
    table = str(tmp_path / "tbl")
    v1 = write_snapshot(_base(spark, sf_dir), table)
    mutated = _base(spark, sf_dir).withColumn(
        "value",
        F.when(F.col("event_id") % 2 == 0, F.col("value") * 10).otherwise(
            F.col("value")
        ),
    ).filter(F.col("event_id") != 7)  # delete one row
    v2 = write_snapshot(mutated, table)
    assert (v1, v2) == (1, 2)

    cur = read_snapshot(spark, table)  # current == v2
    old = read_snapshot(spark, table, version=1)
    assert old.count() == 300
    assert cur.count() == 299
    # the historical version is untouched by the new commit
    assert old.filter(F.col("event_id") == 7).count() == 1


def test_snapshot_diff_rowlevel(spark, sf_dir, tmp_path):
    table = str(tmp_path / "tbl")
    write_snapshot(_base(spark, sf_dir), table)
    mutated = (
        _base(spark, sf_dir)
        .filter(F.col("event_id") != 7)  # delete
        .withColumn(
            "value",
            F.when(F.col("event_id") == 8, F.lit(999.0)).otherwise(F.col("value")),
        )  # update
    )
    extra = _base(spark, sf_dir).filter(F.col("event_id") == 0).select(
        (F.col("event_id") + 100000).alias("event_id"), "value", "event_type"
    )  # insert
    write_snapshot(mutated.unionByName(extra), table)

    d = {r.event_id: r for r in snapshot_diff(spark, table, ["event_id"], 1, 2).collect()}
    assert set(d) == {7, 8, 100000}
    assert d[7]._change == "delete"
    assert d[8]._change == "update" and d[8].value == 999.0
    assert d[100000]._change == "insert"


def test_manifest_survives_partial_data(spark, sf_dir, tmp_path):
    """An orphan v-directory without a manifest swap must not be readable as
    current: only the manifest decides visibility."""
    table = str(tmp_path / "tbl")
    write_snapshot(_base(spark, sf_dir), table)
    # simulate a crashed commit: data dir exists, manifest never swapped
    _base(spark, sf_dir).limit(5).write.parquet(os.path.join(table, "v=99"))
    assert read_snapshot(spark, table).count() == 300  # still v1
    try:
        read_snapshot(spark, table, version=99)
        raise AssertionError("orphan version must not resolve")
    except ValueError:
        pass


def test_snapshot_diff_null_fields(spark, tmp_path):
    """Updates touching NULL fields are detected null-safely: NULL→value,
    value→NULL, and NULL→NULL all classify correctly (a plain <> comparison
    would silently drop every NULL-involving update)."""
    table = str(tmp_path / "tbl")
    v1 = spark.createDataFrame(
        [(1, None, "a"), (2, 5.0, "b"), (3, None, "c"), (4, 7.0, "d")],
        "k int, value double, tag string",
    )
    v2 = spark.createDataFrame(
        [(1, 9.0, "a"), (2, None, "b"), (3, None, "c"), (4, 7.0, "d")],
        "k int, value double, tag string",
    )
    write_snapshot(v1, table)
    write_snapshot(v2, table)
    d = {r.k: r._change for r in snapshot_diff(spark, table, ["k"], 1, 2).collect()}
    assert d == {1: "update", 2: "update"}  # 3 (NULL==NULL) and 4 unchanged


def test_half_committed_scratch_table_rebuilds(spark, sf_dir, monkeypatch):
    """A crash between the two scratch write_snapshot calls leaves no store
    entry; the next call rebuilds the table from scratch with both
    versions instead of failing on 'version 2 not in [1]'."""
    import json

    import pytest

    from bakery_big_data_spark.plans.io_paths import _snapshot_table_path
    from bakery_big_data_spark.sources import snapshots

    real = snapshots.write_snapshot
    calls = []

    def crash_on_second(df, path, *args, **kwargs):
        calls.append(path)
        if len(calls) == 2:
            raise RuntimeError("crash between the two commits")
        return real(df, path, *args, **kwargs)

    # a fresh session: the shared one may already hold this table
    fresh = spark.newSession()
    monkeypatch.setattr(snapshots, "write_snapshot", crash_on_second)
    with pytest.raises(RuntimeError, match="crash between"):
        _snapshot_table_path(fresh, sf_dir)
    monkeypatch.setattr(snapshots, "write_snapshot", real)
    path = _snapshot_table_path(fresh, sf_dir)
    m = json.load(open(os.path.join(path, "_snapshot_manifest.json")))
    assert m["versions"] == [1, 2]


def test_expire_snapshots_retains_current(spark, sf_dir, tmp_path):
    from bakery_big_data_spark.sources.snapshots import expire_snapshots

    table = str(tmp_path / "t_expire")
    base = _base(spark, sf_dir)
    v1 = write_snapshot(base, table)
    v2 = write_snapshot(base.withColumn("value", F.col("value") + 1), table)
    v3 = write_snapshot(base.withColumn("value", F.col("value") + 2), table)

    expired = expire_snapshots(table, keep_last=2)
    assert expired == [v1]
    assert not os.path.exists(os.path.join(table, f"v={v1}"))
    # current + previous still readable (time travel within retention)
    assert read_snapshot(spark, table).count() == base.count()
    assert read_snapshot(spark, table, version=v2).count() == base.count()
    # expired version now rejected with the manifest's retained list
    import pytest

    with pytest.raises(ValueError, match="not in"):
        read_snapshot(spark, table, version=v1)
    with pytest.raises(ValueError, match="expire"):
        expire_snapshots(table, keep_last=0)
    # idempotent: nothing further to expire at the same retention
    assert expire_snapshots(table, keep_last=2) == []
    assert read_snapshot(spark, table, version=v3).count() == base.count()


def test_timestamp_time_travel(spark, sf_dir, tmp_path):
    import pytest

    from bakery_big_data_spark.sources.snapshots import (
        expire_snapshots,
        read_snapshot_as_of,
    )

    table = str(tmp_path / "t_asof")
    base = _base(spark, sf_dir)
    import json as _json

    v1 = write_snapshot(base, table)
    v2 = write_snapshot(base.withColumn("value", F.col("value") + 1), table)
    with open(os.path.join(table, "_snapshot_manifest.json")) as fh:
        stamps = _json.load(fh)["committed_at"]
    t1, t2 = stamps[str(v1)], stamps[str(v2)]

    # as-of exactly t1 -> v1; as-of t2 (and later) -> v2; before t1 -> error
    s1 = read_snapshot_as_of(spark, table, t1)
    assert s1.agg(F.sum(F.col("value").cast("decimal(30,6)"))).first()[0] == \
        base.agg(F.sum(F.col("value").cast("decimal(30,6)"))).first()[0]
    assert read_snapshot_as_of(spark, table, "9999-01-01T00:00:00.000000+00:00").count() == base.count()
    with pytest.raises(ValueError, match="at or before"):
        read_snapshot_as_of(spark, table, "1990-01-01T00:00:00.000000+00:00")

    # retention keeps the surviving versions' timestamps
    expire_snapshots(table, keep_last=1)
    assert read_snapshot_as_of(spark, table, t2).count() == base.count()
    with pytest.raises(ValueError, match="at or before"):
        read_snapshot_as_of(spark, table, t1)


def test_append_log_accumulates_and_compacts(spark, sf_dir, tmp_path):
    """Append-log tables (streaming-gate state, r11 verdict task 4):
    each commit is Δ-sized; read_log unions base + appends; compact_log
    folds segments into one base without changing content, carries the
    newest commit's meta (the exactly-once batch guard), and later
    appends keep accumulating on top of the compacted base."""
    from bakery_big_data_spark.sources.snapshots import (
        append_commit,
        compact_log,
        last_commit_meta,
        read_log,
        table_exists,
    )

    table = str(tmp_path / "log")
    assert not table_exists(table)
    rows = _base(spark, sf_dir).limit(90)
    chunks = [
        rows.filter(F.col("event_id") % 3 == k).localCheckpoint()
        for k in range(3)
    ]
    for bi, chunk in enumerate(chunks):
        append_commit(chunk, table, meta={"batch": bi})
        # a segment dir per commit, each containing only its Δ
        assert os.path.isdir(os.path.join(table, f"v={bi + 1}"))
    assert last_commit_meta(table) == {"batch": 2}
    expect = {tuple(r) for c in chunks for r in c.collect()}
    assert {tuple(r) for r in read_log(spark, table).collect()} == expect

    # idempotent batch re-delivery guard: the caller checks
    # last_commit_meta before appending — meta survives compaction
    assert compact_log(spark, table, max_segments=2) is True
    assert last_commit_meta(table) == {"batch": 2}
    assert {tuple(r) for r in read_log(spark, table).collect()} == expect
    # segments folded: the original append dirs are gone
    for bi in range(3):
        assert not os.path.isdir(os.path.join(table, f"v={bi + 1}"))

    # appends continue on top of the compacted base
    extra = _base(spark, sf_dir).filter(
        (F.col("event_id") >= 90) & (F.col("event_id") < 120)
    ).localCheckpoint()
    append_commit(extra, table, meta={"batch": 3})
    expect |= {tuple(r) for r in extra.collect()}
    assert {tuple(r) for r in read_log(spark, table).collect()} == expect
    assert compact_log(spark, table, max_segments=2) is False  # under limit
