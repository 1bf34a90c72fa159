"""Early-warning guard for driver-environment shifts.

The driver regenerates ``/root/testdata`` between rounds and has already
shipped two different parquet timestamp annotations (NANOS in rounds 1-2,
NTZ-MICROS in round 3+ — each silently breaking queries that read tables
directly).  These tests fail loudly at the loader if the annotation shifts
again, and prove the session store rebuilds every materialization whose
input content changed — one red test instead of N red driver rows.
"""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql.types import TimestampNTZType, TimestampType

from bakery_big_data_spark.sources.tables import TPCH_TABLES, load_table


@pytest.mark.parametrize("name", TPCH_TABLES)
def test_every_table_loads_with_ltz_timestamps(spark, sf_dir, name):
    """load_table must normalize whatever annotation the driver shipped to
    TIMESTAMP (LTZ): any NTZ field leaking through breaks unix_micros /
    to_json in downstream plans (the r03 failure mode)."""
    df = load_table(spark, sf_dir, name)
    for f in df.schema.fields:
        assert not isinstance(f.dataType, TimestampNTZType), (
            f"{name}.{f.name} loaded as TIMESTAMP_NTZ — the testdata "
            f"annotation shifted again; extend load_table's normalization"
        )
    assert df.count() > 0


def test_events_ts_is_ltz_timestamp(spark, sf_dir):
    ts = dict(load_table(spark, sf_dir, "events").dtypes)["ts"]
    assert ts == "timestamp", ts  # LTZ, not timestamp_ntz / bigint-nanos


def _events_copy(sf_dir, tmp_path):
    """A private sf directory holding a copy of ``sf_dir``'s events table."""
    import shutil

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copy2(os.path.join(sf_dir, "events.parquet"), sf / "events.parquet")
    os.chmod(sf / "events.parquet", 0o644)
    return str(sf)


def _regenerate_events(sf, keep):
    """Rewrite ``sf``'s events in place with only ``event_id < keep``,
    restoring the old mtime — a regenerated table an mtime check misses."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    path = os.path.join(sf, "events.parquet")
    st = os.stat(path)
    table = pq.read_table(path)
    pq.write_table(table.filter(pc.less(table["event_id"], keep)), path)
    os.utime(path, (st.st_atime, st.st_mtime))


def test_partitioned_scratch_staleness_fires(spark, sf_dir, tmp_path):
    """Regenerated events content must rebuild the partitioned copy; an
    unchanged table reuses it."""
    from bakery_big_data_spark.plans.io_paths import partitioned_events_path

    sf = _events_copy(sf_dir, tmp_path)
    n = load_table(spark, sf, "events").count()
    p1 = partitioned_events_path(spark, sf)
    assert partitioned_events_path(spark, sf) == p1
    assert spark.read.parquet(p1).count() == n

    _regenerate_events(sf, 600)
    p2 = partitioned_events_path(spark, sf)
    assert p2 != p1, "stale partitioned scratch not rebuilt"
    assert spark.read.parquet(p2).count() == 600 < n


def test_streaming_replay_staleness_fires(spark, sf_dir, tmp_path):
    """Regenerated events content must give the replay a new source and
    checkpoint: a resumed old checkpoint would return the old rows."""
    from bakery_big_data_spark.plans.streaming_q import streaming_ingest_replay

    sf = _events_copy(sf_dir, tmp_path)
    n = streaming_ingest_replay(spark, sf).count()
    assert streaming_ingest_replay(spark, sf).count() == n  # checkpoint resumed

    _regenerate_events(sf, 600)
    assert streaming_ingest_replay(spark, sf).count() == 600 < n, (
        "stale streaming replay not rebuilt"
    )


def test_snapshot_scratch_staleness_fires(spark, sf_dir, tmp_path):
    """Regenerated events content must rebuild both snapshot versions."""
    from bakery_big_data_spark.plans.io_paths import _snapshot_table_path
    from bakery_big_data_spark.sources.snapshots import read_snapshot

    sf = _events_copy(sf_dir, tmp_path)
    p1 = _snapshot_table_path(spark, sf)
    assert _snapshot_table_path(spark, sf) == p1
    n = read_snapshot(spark, p1, 1).count()

    _regenerate_events(sf, 600)
    p2 = _snapshot_table_path(spark, sf)
    assert p2 != p1, "stale snapshot scratch not rebuilt"
    assert read_snapshot(spark, p2, 1).count() == 600 < n
    assert read_snapshot(spark, p2, 2).count() == 594  # event_id % 100 != 0


def _jobs(spark, fn):
    """(fn's result, ids of the Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"test-store-{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_session_store_keys_by_content(spark, tmp_path):
    """The store behind every materializing row: an unchanged input is
    reused without a Spark job; a rewrite with other content is rebuilt
    even with its mtime restored; a same-basename sibling gets its own
    result; a failed build leaves no entry; a new session starts empty."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from bakery_big_data_spark.sources.store import materialize, store_root

    builds = []

    def total(session, sf, fail=False):
        path = os.path.join(sf, "x.parquet")

        def build(out):
            assert os.listdir(out) == []  # a failed build's files are gone
            builds.append(out)
            agg = session.read.parquet(path).agg(F.sum("a").alias("s"))
            agg.write.parquet(os.path.join(out, "sum"))
            if fail:
                raise RuntimeError("build failed")

        out = materialize(session, "test_sum", [path], build)
        return session.read.parquet(os.path.join(out, "sum")).first().s

    dir_a = tmp_path / "a" / "sfX"
    dir_a.mkdir(parents=True)
    src = dir_a / "x.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3]}), src)
    assert total(spark, str(dir_a)) == 6
    _, jobs = _jobs(spark, lambda: materialize(spark, "test_sum", [str(src)], None))
    assert jobs == [] and len(builds) == 1  # reused: build not called

    # in-place rewrite, same size, mtime restored
    st = os.stat(src)
    pq.write_table(pa.table({"a": [4, 5, 6]}), src)
    os.utime(src, (st.st_atime, st.st_mtime))
    assert total(spark, str(dir_a)) == 15
    assert len(builds) == 2

    # a same-basename sibling copied with its mtime, then other data
    dir_b = tmp_path / "b" / "sfX"
    dir_b.mkdir(parents=True)
    other = tmp_path / "other.parquet"
    pq.write_table(pa.table({"a": [10, 20]}), other)
    shutil.copy2(other, dir_b / "x.parquet")
    old = st.st_mtime - 3600
    os.utime(dir_b / "x.parquet", (old, old))
    assert total(spark, str(dir_b)) == 30
    assert total(spark, str(dir_a)) == 15 and len(builds) == 3

    # a failed build leaves no entry; the next call rebuilds
    pq.write_table(pa.table({"a": [7]}), src)
    with pytest.raises(RuntimeError, match="build failed"):
        total(spark, str(dir_a), fail=True)
    assert total(spark, str(dir_a)) == 7 and len(builds) == 5

    # a new session has its own, empty store
    fresh = spark.newSession()
    assert store_root(fresh) != store_root(spark)
    assert total(fresh, str(dir_a)) == 7 and len(builds) == 6
    assert builds[-1].startswith(store_root(fresh))


def test_package_writes_nothing_into_its_checkout(spark, sf_dir):
    """Materializing rows read only what they wrote under the session's
    store root, and nothing new appears in the checkout."""
    from urllib.parse import urlparse

    from bakery_big_data_spark.plans import REGISTRY
    from bakery_big_data_spark.sources.store import store_root

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "bakery_big_data_spark")
    for root, _dirs, files in os.walk(pkg):
        for fn in files:
            if fn.endswith(".py"):
                with open(os.path.join(root, fn)) as fh:
                    assert repo not in fh.read(), f"{fn} names the checkout"

    def checkout_files():
        out = set()
        for root, dirs, files in os.walk(repo):
            dirs[:] = [d for d in dirs if d not in (".git", "__pycache__")]
            out.update(os.path.join(root, fn) for fn in files)
        return out

    before = checkout_files()
    fresh = spark.newSession()
    root = store_root(fresh)
    for name in (
        "partition_pruned_scan",
        "bucketed_colocated_join",
        "csv_ddl_roundtrip",
        "snapshot_incremental_diff",
        "orc_source_roundtrip",
    ):
        df = REGISTRY[name].build(fresh, sf_dir)
        assert df.count() > 0
        read = [urlparse(f).path for f in df.inputFiles()]
        assert read and all(p.startswith(root + os.sep) for p in read), (name, read)
    assert checkout_files() - before == set()
