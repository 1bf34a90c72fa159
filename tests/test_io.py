"""Write-path tests: partitioned layouts + pruning proof (explain-based),
dynamic partition overwrite, CSV ingest with casts, saveAsTable/DDL/CTAS."""

from __future__ import annotations

import os
import threading
import time

import pytest
from pyspark.sql import functions as F

from bakery_big_data_spark.sources.csv import read_csv_with_casts
from bakery_big_data_spark.sources.sinks import (
    append_parquet,
    create_database,
    create_table_ddl,
    ctas_backup,
    overwrite_partitions,
    save_as_table,
    write_partitioned,
)
from bakery_big_data_spark.sources.tables import load_table

@pytest.fixture()
def scratch(tmp_path):
    return str(tmp_path)


def test_partitioned_write_prunes_scan(spark, sf_dir, scratch):
    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    path = f"{scratch}/events_by_date"
    write_partitioned(ev, path, ["event_date"])
    # layout: one directory per date
    dirs = [d for d in os.listdir(path) if d.startswith("event_date=")]
    assert len(dirs) > 1

    back = spark.read.parquet(path)
    one_day = back.filter(F.col("event_date") == "2024-01-05")
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_date" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], "date predicate must prune at the partition level"
    expected = ev.filter(F.to_date("ts") == "2024-01-05").count()
    assert one_day.count() == expected


def test_dynamic_partition_overwrite_touches_only_changed(spark, sf_dir, scratch):
    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    path = f"{scratch}/events_mut"
    write_partitioned(ev, path, ["event_date"])
    before = spark.read.parquet(path)
    untouched_before = before.filter(F.col("event_date") != "2024-01-05").count()

    # mutate one day (UPDATE-style) and commit just that partition
    changed = (
        spark.read.parquet(path)
        .filter(F.col("event_date") == "2024-01-05")
        .withColumn("value", F.col("value") * 2)
    )
    overwrite_partitions(changed, path, ["event_date"])

    after = spark.read.parquet(path)
    assert after.filter(F.col("event_date") != "2024-01-05").count() == untouched_before
    v_orig = (
        ev.filter(F.to_date("ts") == "2024-01-05")
        .agg(F.sum(F.col("value").cast("decimal(30,6)")))
        .first()[0]
    )
    v_new = (
        after.filter(F.col("event_date") == "2024-01-05")
        .agg(F.sum(F.col("value").cast("decimal(30,6)")))
        .first()[0]
    )
    assert float(v_new) == pytest.approx(2 * float(v_orig))


def test_overwrite_partitions_leaves_session_state_alone(spark, tmp_path):
    """Dynamic mode is the write's own option: the session conf never
    changes, so a plain partitioned overwrite running at the same time in
    another thread keeps static semantics (drops the partitions it does
    not write)."""
    conf = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(conf)

    def days(*ds, slow=False):
        df = spark.createDataFrame([(d, d) for d in ds], "k int, d int")
        if slow:  # keep the write running while the other one commits
            df = df.withColumn(
                "z", F.expr("reflect('java.lang.Thread', 'sleep', CAST(3000 AS BIGINT))")
            )
        return df

    dynamic, static = str(tmp_path / "dynamic"), str(tmp_path / "static")
    days(1, slow=True).write.partitionBy("d").parquet(dynamic)
    days(1, 2).write.partitionBy("d").parquet(static)
    started = threading.Event()

    def dynamic_write():
        started.set()
        overwrite_partitions(days(2, slow=True), dynamic, ["d"])

    t = threading.Thread(target=dynamic_write)
    t.start()
    assert started.wait(timeout=60)
    time.sleep(1.0)  # the dynamic write is inside its 3 s task now
    days(1).write.mode("overwrite").partitionBy("d").parquet(static)
    t.join(timeout=300)
    assert not t.is_alive()

    assert spark.conf.get(conf) == before
    assert sorted(r.d for r in spark.read.parquet(static).collect()) == [1]
    assert sorted(r.d for r in spark.read.parquet(dynamic).collect()) == [1, 2]


def test_append_accumulates(spark, sf_dir, scratch):
    ev = load_table(spark, sf_dir, "events").limit(100)
    path = f"{scratch}/appended"
    append_parquet(ev, path)
    append_parquet(ev, path)
    assert spark.read.parquet(path).count() == 200


def test_csv_source_with_casts_and_dotted_columns(spark, sf_dir, scratch):
    ev = (
        load_table(spark, sf_dir, "events")
        .limit(500)
        .select(
            "event_id",
            F.col("ts").cast("string").alias("ts"),
            "value",
            F.get_json_object("props", "$.k").alias("payload.k"),
        )
    )
    path = f"{scratch}/events_csv"
    ev.write.mode("overwrite").option("header", "true").csv(path)

    back = read_csv_with_casts(
        spark,
        path,
        casts={
            "event_id": "bigint",
            "ts": "timestamp",
            "value": "double",
            "payload.k": "int",
        },
        rename={"payload.k": "payload_k"},
    )
    assert dict(back.dtypes) == {
        "event_id": "bigint",
        "ts": "timestamp",
        "value": "double",
        "payload_k": "int",
    }
    assert back.count() == 500
    # values survive the string round-trip
    orig_sum = ev.agg(F.sum(F.col("value").cast("decimal(30,6)"))).first()[0]
    back_sum = back.agg(F.sum(F.col("value").cast("decimal(30,6)"))).first()[0]
    assert orig_sum == back_sum


def test_saveastable_ddl_ctas(spark, sf_dir, scratch):
    create_database(spark, "t_io_db", f"{scratch}/warehouse")
    try:
        create_table_ddl(
            spark,
            "t_io_db.sales",
            "event_id BIGINT, value DOUBLE, event_date DATE",
            partitioned_by="event_date",
        )
        ev = (
            load_table(spark, sf_dir, "events")
            .limit(300)
            .select("event_id", "value", F.to_date("ts").alias("event_date"))
        )
        save_as_table(
            ev, "t_io_db.sales", partition_cols=["event_date"], mode="append"
        )
        assert spark.table("t_io_db.sales").count() == 300

        ctas_backup(spark, "t_io_db.sales", "t_io_db.sales_backup")
        assert spark.table("t_io_db.sales_backup").count() == 300
    finally:
        spark.sql("DROP DATABASE IF EXISTS t_io_db CASCADE")


def test_synthetic_datasource_partitioned_and_deterministic(spark):
    """The custom Python DataSource generates inside executors: row content
    is a pure function of event_id (identical across partition counts), and
    the partition count drives generation parallelism."""
    from bakery_big_data_spark.sources.generator import register_synthetic_source

    register_synthetic_source(spark)

    def load(parts):
        return (
            spark.read.format("synthetic_events")
            .option("n_rows", 500)
            .option("n_partitions", parts)
            .load()
        )

    a = load(4)
    assert a.rdd.getNumPartitions() == 4
    assert a.count() == 500
    rows_a = {r.event_id: (r.ts, r.user_id, r.event_type, r.value) for r in a.collect()}
    rows_b = {r.event_id: (r.ts, r.user_id, r.event_type, r.value) for r in load(9).collect()}
    assert rows_a == rows_b  # layout-independent generation
    types = {r.event_type for r in a.collect()}
    assert types <= {"view", "click", "purchase", "signup", "error"}
    assert len(types) >= 3


def test_orc_and_json_roundtrip(spark, sf_dir, tmp_path):
    """S4-adjacent format coverage: ORC and JSON-lines batch round-trips
    preserve row content exactly (JSON via explicit schema on read)."""
    import pyspark.sql.functions as F

    from bakery_big_data_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "value", "event_type"
    )
    orc_p, json_p = str(tmp_path / "e_orc"), str(tmp_path / "e_json")
    ev.write.orc(orc_p)
    ev.write.json(json_p)
    back_orc = spark.read.orc(orc_p)
    back_json = spark.read.schema(
        "event_id LONG, value DOUBLE, event_type STRING"
    ).json(json_p)
    for back in (back_orc, back_json):
        assert back.count() == ev.count()
        assert (
            back.agg(F.sum(F.col("value").cast("decimal(30,6)"))).first()[0]
            == ev.agg(F.sum(F.col("value").cast("decimal(30,6)"))).first()[0]
        )


def test_zorder_layout_skips_on_both_dimensions(spark, sf_dir, tmp_path):
    """Z-ordered files must bound BOTH dimensions: a single-user predicate
    and a single-day predicate each touch a minority of files, whereas a
    user-sorted layout only bounds user (a day predicate hits every file)."""
    from bakery_big_data_spark.operators.layout import write_zordered
    from bakery_big_data_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        ).alias("day"),
    )
    n_files = 8
    zpath = str(tmp_path / "z")
    upath = str(tmp_path / "u")
    write_zordered(ev, zpath, ("user_id", "day"), num_files=n_files)
    ev.repartitionByRange(n_files, "user_id").sortWithinPartitions(
        "user_id"
    ).write.parquet(upath)

    def files_hit(path, cond):
        df = spark.read.parquet(path).withColumn("_f", F.input_file_name())
        return df.filter(cond).select("_f").distinct().count()

    probe_user = ev.select(F.min("user_id")).first()[0]
    z_user = files_hit(zpath, F.col("user_id") == probe_user)
    z_day = files_hit(zpath, F.col("day") == 3)
    u_day = files_hit(upath, F.col("day") == 3)
    # user-sorted layout cannot bound day: the day predicate hits all files
    assert u_day == n_files
    # the z-order trade: the secondary dimension keeps real skipping
    # (>= 2x fewer files than the single-key sort) ...
    assert z_day * 2 <= u_day
    # ... while the primary dimension stays bounded too (a single user
    # never spans the whole curve; the exact fraction scales ~sqrt(files))
    assert z_user < n_files


def test_optimize_table_compacts_and_clusters(spark, sf_dir, tmp_path):
    """OPTIMIZE with zorder dims fixes both streamed-table pathologies in
    one pass: many small files -> few, and interleaved dimension values ->
    clustered files a day-predicate can skip."""
    from bakery_big_data_spark.sources.sinks import optimize_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        ).alias("day"),
    )
    path = str(tmp_path / "frag")
    # fragment: 20 small appends (a streaming sink's leavings)
    for i in range(20):
        ev.filter(F.col("event_id") % 20 == i).coalesce(1).write.mode(
            "append"
        ).parquet(path)
    n_rows = spark.read.parquet(path).count()

    before, after = optimize_table(
        spark, path, zorder_dims=("user_id", "day"), min_files=4,
        target_file_bytes=64 * 1024,
    )
    assert before == 20
    assert after < before
    got = spark.read.parquet(path)
    assert got.count() == n_rows
    # clustered: a single-day predicate no longer touches every file
    hit = (
        got.withColumn("_f", F.input_file_name())
        .filter(F.col("day") == 3)
        .select("_f")
        .distinct()
        .count()
    )
    assert hit < after


def test_synthetic_streaming_source_offsets_and_determinism(spark, tmp_path):
    """The Spark 4 Python STREAMING data source: offset-tracked micro-batches
    drain the id range exactly once, and the landed rows are bit-identical
    to the batch reader's (rows are a pure function of event_id, so
    checkpoint replays regenerate lost batches exactly)."""
    import time

    from bakery_big_data_spark.sources.generator import (
        register_synthetic_source,
    )

    register_synthetic_source(spark)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    n = 500
    q = (
        spark.readStream.format("synthetic_events")
        .option("n_rows", n)
        .option("rows_per_batch", 150)
        .load()
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch(lambda df, bid: df.write.mode("append").parquet(out))
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = time.time() + 120
    import os

    def landed():
        try:
            return spark.read.parquet(out).count()
        except Exception:
            return 0

    while landed() < n and time.time() < deadline:
        time.sleep(1)
    q.stop()
    got = spark.read.parquet(out)
    assert got.count() == n  # every id exactly once — offsets never overlap
    batch = (
        spark.read.format("synthetic_events").option("n_rows", n).load()
    )
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in batch.collect()
    }


def test_custom_jsonl_sink_commit_protocol(spark, sf_dir, tmp_path):
    """The Python DataSourceWriter sink: per-task staged files publish
    atomically on commit (manifest lists exactly the published files), the
    round-trip preserves rows, and orphaned staged files stay invisible to
    manifest-honoring readers."""
    import json as _json
    import os as _os

    from bakery_big_data_spark.sources.jsonl_sink import (
        read_committed,
        register_jsonl_sink,
    )

    register_jsonl_sink(spark)
    path = str(tmp_path / "sink")
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "event_type", "value")
        .limit(300)
    )
    ev.repartition(4).write.format("jsonl_sink").option("path", path).mode(
        "append"
    ).save()

    manifest = _json.load(open(_os.path.join(path, "_SINK_COMMIT")))
    assert sum(f["n_rows"] for f in manifest["files"]) == 300
    back = read_committed(spark, path)
    parsed = back.select(
        F.from_json(
            "value", "event_id LONG, event_type STRING, value DOUBLE"
        ).alias("d")
    ).select("d.*")
    assert parsed.count() == 300
    assert {r.event_id for r in parsed.collect()} == {
        r.event_id for r in ev.collect()
    }
    # an orphaned staged file (failed/speculative task leftovers) is not
    # visible through the manifest path
    _os.makedirs(_os.path.join(path, "_staging"), exist_ok=True)
    with open(_os.path.join(path, "_staging", "orphan.jsonl"), "w") as fh:
        fh.write('{"event_id": 999999}\n')
    assert read_committed(spark, path).count() == back.count()


def test_compaction_preserves_content_and_shrinks_files(spark, sf_dir, tmp_path):
    """64 micro-batch-sized files -> a handful of target-size files with
    row-identical content, via shuffle-free coalesce."""
    from bakery_big_data_spark.sources.maintenance import compact_parquet
    from bakery_big_data_spark.plans.base import t as load

    src = str(tmp_path / "frag")
    dst = str(tmp_path / "compact")
    ev = load(spark, sf_dir, "events")
    ev.repartition(64).write.parquet(src)
    import os

    n_in = sum(1 for f in os.listdir(src) if f.endswith(".parquet"))
    assert n_in == 64
    n_out = compact_parquet(spark, src, dst, target_bytes=8 << 20)
    assert n_out < n_in
    a = sorted(map(tuple, spark.read.parquet(src).collect()))
    b = sorted(map(tuple, spark.read.parquet(dst).collect()))
    assert a == b


def test_compaction_clustering_tightens_stats(spark, sf_dir, tmp_path):
    """The order_by rewrite must leave each output file covering fewer
    distinct event_types than the fragmented input files (tighter footer
    min/max -> row-group pruning on the cluster column)."""
    from bakery_big_data_spark.sources.maintenance import compact_parquet
    from bakery_big_data_spark.plans.base import t as load
    import os

    src = str(tmp_path / "frag")
    dst = str(tmp_path / "clustered")
    load(spark, sf_dir, "events").repartition(16).write.parquet(src)
    # tiny target so even the sf0.001 table splits into several clustered
    # files (one file would trivially hold all types)
    compact_parquet(
        spark, src, dst, target_bytes=16 << 10, order_by=["event_type"]
    )

    def max_types_per_file(path):
        worst = 0
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            n = (
                spark.read.parquet(os.path.join(path, f))
                .select("event_type")
                .distinct()
                .count()
            )
            worst = max(worst, n)
        return worst

    # every fragmented file sees ~all 5 types; clustered files must not
    assert max_types_per_file(src) == 5
    assert max_types_per_file(dst) < 5
    a = sorted(map(tuple, spark.read.parquet(src).collect()))
    b = sorted(map(tuple, spark.read.parquet(dst).collect()))
    assert a == b


def _py_hilbert(x, y, bits):
    d = 0
    s = 1 << (bits - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
        s >>= 1
    return d


def test_hilbert_key_bijective_and_adjacent(spark):
    """Over the full 16x16 grid the Hilbert fold must be a bijection onto
    0..255 whose CONSECUTIVE indices are edge-adjacent cells — the
    locality property the Z-curve lacks (and the reason a Hilbert range
    partition has tighter per-file footprints)."""
    from bakery_big_data_spark.operators.layout import with_hilbert_key

    grid = spark.createDataFrame(
        [(x, y) for x in range(16) for y in range(16)], "x long, y long"
    )
    rows = with_hilbert_key(grid, "x", "y", bits=4).collect()
    by_d = {r["hkey"]: (r["x"], r["y"]) for r in rows}
    assert sorted(by_d) == list(range(256))
    for d in range(255):
        (x1, y1), (x2, y2) = by_d[d], by_d[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1


def test_hilbert_key_matches_reference_fold(spark):
    """bits=8 spot-check against the pure-python reference recurrence."""
    from bakery_big_data_spark.operators.layout import with_hilbert_key

    pts = [(i * 37 % 256, i * 101 % 256) for i in range(64)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {
        (r["x"], r["y"]): r["hkey"]
        for r in with_hilbert_key(df, "x", "y", bits=8).collect()
    }
    for x, y in pts:
        assert got[(x, y)] == _py_hilbert(x, y, 8)
