"""CLI job entry points run end to end and report layer counts."""

from __future__ import annotations

import os

from bakery_big_data_spark.jobs import main


def test_medallion_job_cli(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("jobs"))
    counts = main(["medallion", "--sf-dir", sf_dir, "--out", out])
    assert counts["bronze"] > counts["silver"] > 0
    assert counts["fact_daily"] == counts["ml_features"] > 0
    assert os.path.isdir(f"{out}/gold_fact_daily")


def test_maintenance_job(spark, sf_dir, tmp_path):
    """The nightly maintenance subcommand compacts fragmented parquet
    tables and expires old snapshot versions in one sweep."""
    from pyspark.sql import functions as F

    from bakery_big_data_spark.jobs import main
    from bakery_big_data_spark.sources.snapshots import (
        read_snapshot,
        write_snapshot,
    )
    from bakery_big_data_spark.sources.tables import load_table

    lake = tmp_path / "lake"
    lake.mkdir()
    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    # fragmented plain table
    for i in range(6):
        ev.filter(F.col("event_id") % 6 == i).coalesce(1).write.mode(
            "append"
        ).parquet(str(lake / "frag"))
    # versioned table with history
    for bump in range(3):
        write_snapshot(
            ev.withColumn("value", F.col("value") + bump), str(lake / "gold")
        )

    out = main(
        ["maintenance", "--lake", str(lake), "--keep-last", "1"]
    )
    assert out["tables_optimized"] == 1
    assert out["versions_expired"] == 2
    assert spark.read.parquet(str(lake / "frag")).count() == ev.count()
    assert read_snapshot(spark, str(lake / "gold")).count() == ev.count()


def test_maintenance_zorder_falls_back_on_missing_dims(spark, sf_dir, tmp_path):
    """--zorder dims apply only to tables carrying those columns with
    INTEGRAL types (the Morton key is bit interleaving); tables missing a
    dim — or carrying it as a double — must get plain compaction instead
    of failing the sweep mid-loop (after earlier tables were rewritten)."""
    from pyspark.sql import functions as F

    from bakery_big_data_spark.jobs import main
    from bakery_big_data_spark.sources.tables import load_table

    lake = tmp_path / "lake"
    lake.mkdir()
    ev = load_table(spark, sf_dir, "events")
    with_dims = ev.select("event_id", "user_id", "value")  # both dims BIGINT
    missing_dim = ev.select("event_id", "value")           # no user_id
    double_dim = ev.select("event_id", F.col("value").alias("user_id"))
    for name, df in (
        ("zt", with_dims),
        ("plain", missing_dim),
        ("dbl", double_dim),
    ):
        for i in range(3):
            df.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode(
                "append"
            ).parquet(str(lake / name))

    out = main(
        [
            "maintenance",
            "--lake",
            str(lake),
            "--keep-last",
            "1",
            "--zorder",
            "event_id,user_id",
        ]
    )
    assert out["tables_optimized"] == 3  # all survive the sweep
    for name in ("zt", "plain", "dbl"):
        assert spark.read.parquet(str(lake / name)).count() == ev.count()
