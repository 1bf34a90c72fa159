"""The session-scoped parquet catalog behind ``load_table`` and
``read_snapshot``: hits run no Spark job, every kind of rewrite misses, a
hit reads exactly the schema a bare ``spark.read.parquet`` infers, and a
hit of ``load_table`` returns the miss's rows under fresh attribute ids."""

from __future__ import annotations

import os
import sys
import threading
import uuid
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from bakery_big_data_spark.session import tune
from bakery_big_data_spark.sources import tables
from bakery_big_data_spark.sources.sinks import overwrite_partitions
from bakery_big_data_spark.sources.snapshots import read_snapshot, write_snapshot
from bakery_big_data_spark.sources.tables import TPCH_TABLES, load_table, read_parquet


def _jobs(spark, fn):
    """(fn's result, ids of the Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"test-tables-{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_of_unchanged_table_runs_no_job(spark, sf_dir, tmp_path):
    src = tmp_path / "orders.parquet"
    pq.write_table(pq.read_table(f"{sf_dir}/orders.parquet"), src)
    load = lambda: load_table(spark, str(tmp_path), "orders")  # noqa: E731
    first, first_jobs = _jobs(spark, load)
    second, second_jobs = _jobs(spark, load)
    assert len(first_jobs) == 1  # the miss infers the schema
    assert second_jobs == []
    assert second.schema == first.schema
    assert second.count() == first.count() == pq.read_metadata(src).num_rows


def test_in_place_rewrite_under_same_name_and_size_is_seen(spark, tmp_path):
    path = tmp_path / "x.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    size = os.path.getsize(path)
    assert load_table(spark, str(tmp_path), "x").columns == ["a"]
    pq.write_table(pa.table({"b": [1, 2, 3]}), path)
    assert os.path.getsize(path) == size  # only the footer tells them apart
    df = load_table(spark, str(tmp_path), "x")
    assert df.columns == ["b"]
    assert [r.b for r in df.orderBy("b").collect()] == [1, 2, 3]


def test_spark_overwrite_of_partitioned_directory_is_seen(spark, tmp_path):
    path = str(tmp_path / "lake")
    spark.range(6).select(
        (F.col("id") % 2).alias("p"), F.col("id").cast("int").alias("x")
    ).write.partitionBy("p").parquet(path)
    assert dict(read_parquet(spark, path).dtypes) == {"x": "int", "p": "int"}
    spark.range(4).select(
        (F.col("id") % 2).alias("p"),
        F.col("id").cast("string").alias("x"),
        F.lit(1.5).alias("y"),
    ).write.mode("overwrite").partitionBy("p").parquet(path)
    df = read_parquet(spark, path)
    assert df.dtypes == [("x", "string"), ("y", "double"), ("p", "int")]
    assert df.count() == 4


def test_partition_overwrite_and_snapshot_commit_are_seen(spark, tmp_path):
    lake = str(tmp_path / "facts")
    rows = spark.range(4).select(
        F.col("id").alias("k"),
        F.expr("date_add(DATE'2024-01-01', CAST(id % 2 AS INT))").alias("d"),
    )
    overwrite_partitions(rows, lake, ["d"])
    assert read_parquet(spark, lake).count() == 4
    new_day = rows.filter("k = 0").withColumn("d", F.lit("2024-01-05").cast("date"))
    overwrite_partitions(new_day, lake, ["d"])
    assert read_parquet(spark, lake).count() == 5

    table = str(tmp_path / "state")
    write_snapshot(spark.range(3), table)
    assert read_snapshot(spark, table).columns == ["id"]
    write_snapshot(spark.range(3).withColumn("v", F.lit("x")), table)
    assert read_snapshot(spark, table).columns == ["id", "v"]
    assert read_snapshot(spark, table, version=1).columns == ["id"]


def test_catalog_schema_equals_inferred_schema(spark, sf01_dir, tmp_path):
    for name in TPCH_TABLES:
        path = f"{sf01_dir}/{name}.parquet"
        read_parquet(spark, path)
        hit, jobs = _jobs(spark, lambda: read_parquet(spark, path))
        assert jobs == [], name
        assert hit.schema == spark.read.parquet(path).schema, name

    lake = str(tmp_path / "events_by_type")
    load_table(spark, sf01_dir, "events").write.partitionBy("event_type").parquet(lake)
    read_parquet(spark, lake)
    hit, jobs = _jobs(spark, lambda: read_parquet(spark, lake))
    assert jobs == []
    assert hit.schema == spark.read.parquet(lake).schema
    assert hit.count() == spark.read.parquet(lake).count()


def test_inference_conf_change_misses(spark, tmp_path):
    path = str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"v": pa.array([b"ab", b"cd"], pa.binary())}), path)
    assert dict(read_parquet(spark, path).dtypes) == {"v": "binary"}
    conf = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "true")
    try:
        df, jobs = _jobs(spark, lambda: read_parquet(spark, path))
        assert len(jobs) == 1
        assert dict(df.dtypes) == {"v": "string"}
    finally:
        spark.conf.set(conf, old)
    assert dict(read_parquet(spark, path).dtypes) == {"v": "binary"}


def test_sessions_do_not_share_entries(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1]}), path)
    read_parquet(spark, path)
    other = spark.newSession()
    assert os.path.abspath(path) not in tables._CATALOG.get(other, {})
    _, jobs = _jobs(other, lambda: read_parquet(other, path))
    assert len(jobs) == 1
    assert os.path.abspath(path) in tables._CATALOG[other]


def test_one_entry_per_path(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    for n in range(1, 4):
        pq.write_table(pa.table({f"c{n}": [n]}), path)
        read_parquet(spark, path)
    key = os.path.abspath(path)
    entry = tables._CATALOG[spark][key]
    assert [f.name for f in entry.schema.fields] == ["c3"]
    assert (entry.n_files, entry.n_bytes) == (1, os.path.getsize(path))


def test_concurrent_reads_leave_one_entry_per_path(spark, sf01_dir):
    """8 threads resolve one shared path and one path each at the same
    moment, on a session whose catalog starts empty; a lost update would
    leave a path without its entry."""
    session = spark.newSession()
    shared = f"{sf01_dir}/events.parquet"
    own = [f"{sf01_dir}/{n}.parquet" for n in TPCH_TABLES if n != "events"][:8]
    start = threading.Barrier(len(own), timeout=120)

    def read(path):
        start.wait()
        return read_parquet(session, shared).schema, read_parquet(session, path).schema

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=len(own)) as pool:
            seen = list(pool.map(read, own, timeout=300))
    finally:
        sys.setswitchinterval(interval)

    entries = tables._CATALOG[session]
    assert set(entries) == {os.path.abspath(p) for p in [shared, *own]}
    for path in [shared, *own]:
        entry = entries[os.path.abspath(path)]
        assert entry.schema == spark.read.parquet(path).schema, path
        assert entry.n_bytes == tables.data_bytes(path), path
    for (shared_schema, own_schema), path in zip(seen, own):
        assert shared_schema == entries[os.path.abspath(shared)].schema
        assert own_schema == entries[os.path.abspath(path)].schema


def _rows(df) -> list[str]:
    return sorted(map(repr, df.collect()))


def test_load_table_hit_equals_miss(spark, sf01_dir, tmp_path):
    """Every test table, plus ``events`` with TIMESTAMP(NANOS) ``ts``, on a
    session whose catalog starts empty: the first load misses, the second
    hits, and both have the same schema and rows."""
    session = tune(spark.newSession())
    nanos = pq.read_table(f"{sf01_dir}/events.parquet")
    ts = nanos.schema.get_field_index("ts")
    nanos = nanos.set_column(ts, "ts", nanos.column(ts).cast(pa.timestamp("ns")))
    pq.write_table(nanos, tmp_path / "events.parquet")
    assert pq.read_schema(tmp_path / "events.parquet").field("ts").type.unit == "ns"

    for sf, name in [(sf01_dir, n) for n in TPCH_TABLES] + [(str(tmp_path), "events")]:
        miss, miss_jobs = _jobs(session, lambda: load_table(session, sf, name))
        hit, hit_jobs = _jobs(session, lambda: load_table(session, sf, name))
        assert len(miss_jobs) == 1 and hit_jobs == [], name
        assert hit.schema == miss.schema, name
        assert _rows(hit) == _rows(miss), name
    assert dict(hit.dtypes)["ts"] == "timestamp"
    assert _rows(hit) == _rows(load_table(session, sf01_dir, "events"))


def test_hits_self_join_like_fresh_reads(spark, sf01_dir):
    """``nation_market_share`` joins ``nation`` to itself; two hits must
    carry distinct attribute ids, as two fresh reads do (two reads of one
    temp view would not, and the join condition would be ambiguous)."""
    load_table(spark, sf01_dir, "nation")
    n1, n2 = load_table(spark, sf01_dir, "nation"), load_table(spark, sf01_dir, "nation")
    f1 = spark.read.parquet(f"{sf01_dir}/nation.parquet")
    f2 = spark.read.parquet(f"{sf01_dir}/nation.parquet")
    got = _rows(n1.join(n2, n1["n_regionkey"] == n2["n_nationkey"]))
    want = _rows(f1.join(f2, f1["n_regionkey"] == f2["n_nationkey"]))
    assert got == want and len(got) == 25


def test_rewrite_after_hit_reads_new_rows(spark, sf01_dir, tmp_path):
    nation = pq.read_table(f"{sf01_dir}/nation.parquet")
    path = tmp_path / "nation.parquet"
    pq.write_table(nation, path)
    load_table(spark, str(tmp_path), "nation")
    hit, jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "nation"))
    assert jobs == [] and hit.count() == 25
    pq.write_table(nation.slice(20), path)
    df, jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "nation"))
    assert len(jobs) == 1
    assert sorted(r.n_nationkey for r in df.collect()) == sorted(
        nation.column("n_nationkey").to_pylist()[20:]
    )
