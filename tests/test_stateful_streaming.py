"""Stateful streaming test: running per-user totals accumulate across
micro-batches AND across restarts (state store + checkpoint)."""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from bakery_big_data_spark.sources.tables import load_table
from bakery_big_data_spark.streaming.ingest import (
    JSON_OPTIONS,
    read_json_stream,
)
from bakery_big_data_spark.streaming.stateful import running_user_totals


def _write_json(spark, sf_dir, path, lo, hi):
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_id") >= lo) & (F.col("event_id") < hi)
    )
    ev.select(
        F.to_json(F.struct(*ev.columns), JSON_OPTIONS).alias("value")
    ).coalesce(1).write.mode("append").text(path)


def test_state_accumulates_across_restarts(spark, sf_dir, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("stateful"))
    src, out, ckpt = f"{base}/src", f"{base}/out", f"{base}/ckpt"

    def run_once():
        stream = running_user_totals(read_json_stream(spark, src))
        q = (
            stream.writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch(
                lambda df, bid: df.withColumn("batch_id", F.lit(bid))
                .write.mode("append")
                .parquet(out)
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _write_json(spark, sf_dir, src, 0, 400)
    run_once()
    _write_json(spark, sf_dir, src, 400, 1000)
    run_once()  # restart: state must resume from the checkpointed store

    got = spark.read.parquet(out)
    # last emission per user = totals over BOTH batches
    latest = got.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("user_id").orderBy(F.col("batch_id").desc())
        ),
    ).filter(F.col("rn") == 1)
    batch = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 1000)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    l = {(r.user_id, r.n_events) for r in latest.select("user_id", "n_events").collect()}
    b = {(r.user_id, r.n_events) for r in batch.collect()}
    assert l == b


import pytest


@pytest.mark.parametrize("max_files", [1, None])
def test_idle_session_flush_matches_batch_sessionization(
    spark, sf_dir, max_files, tmp_path_factory
):
    """The event-time-timeout sessionizer must flush exactly the sessions
    a batch lag/gap sessionization derives, once a sentinel event advances
    the watermark past every real session's end + gap.

    max_files=1 replays one chronological file per micro-batch;
    max_files=None lets the file source coalesce ALL files (including the
    sentinel) into a single batch — the load condition that used to
    register a timeout behind the watermark and crash the query with
    INVALID_TIMEOUT_TIMESTAMP."""
    from bakery_big_data_spark.streaming.stateful import idle_session_flush

    base = str(tmp_path_factory.mktemp("stateful"))
    src, out, ckpt = f"{base}/src", f"{base}/out", f"{base}/ckpt"

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 1200)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    )
    # four chronological files -> four micro-batches in event-time order
    rows = ev.orderBy("ts", "event_id").collect()
    quarter = max(1, len(rows) // 4)
    import json as _json

    os.makedirs(src, exist_ok=True)
    for i in range(4):
        chunk = rows[i * quarter : None if i == 3 else (i + 1) * quarter]
        with open(f"{src}/part-{i}.json", "w") as fh:
            for r in chunk:
                fh.write(
                    _json.dumps(
                        {
                            "event_id": r.event_id,
                            "ts": r.ts.strftime("%Y-%m-%dT%H:%M:%S.%f+00:00"),
                            "user_id": r.user_id,
                            "event_type": r.event_type,
                            "value": r.value,
                            "props": r.props,
                        }
                    )
                    + "\n"
                )
    # sentinel far past everything: advances the watermark so every real
    # session's timeout fires during its batch
    max_ts = rows[-1].ts
    import datetime as _dt

    sentinel_ts = max_ts + _dt.timedelta(hours=10)
    with open(f"{src}/part-4-sentinel.json", "w") as fh:
        fh.write(
            _json.dumps(
                {
                    "event_id": 999999,
                    "ts": sentinel_ts.strftime("%Y-%m-%dT%H:%M:%S.%f+00:00"),
                    "user_id": -1,
                    "event_type": "sentinel",
                    "value": 0.0,
                    "props": "{}",
                }
            )
            + "\n"
        )
    # The file source delivers files oldest first by millisecond mtime, and
    # files written within one tick tie; a sentinel delivered before
    # part-3 would push the watermark past part-3's real events.  Stamp
    # strictly increasing mtimes, in the order the files must arrive.
    for i, name in enumerate(
        ["part-0.json", "part-1.json", "part-2.json", "part-3.json",
         "part-4-sentinel.json"]
    ):
        os.utime(f"{src}/{name}", (1_600_000_000 + i, 1_600_000_000 + i))

    stream = idle_session_flush(
        read_json_stream(spark, src, max_files_per_trigger=max_files),
        watermark_delay="10 minutes",
        gap_minutes=30,
    )
    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch(lambda df, bid: df.write.mode("append").parquet(out))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    flushed = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.read.parquet(out).filter(F.col("user_id") >= 0).collect()
    }

    # batch expectation: lag/gap sessionization over the same slice
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
            <= 1800,
            0,
        ).otherwise(1),
    )
    sess = flagged.withColumn(
        "sid",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    expected = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in sess.groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .collect()
    }
    assert flushed == expected


def _has_protobuf() -> bool:
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def test_tws_plan_construction_is_dependency_free(spark, sf_dir):
    """The transformWithStateInPandas operator must BUILD its streaming
    plan without the protobuf runtime dependency (the state-server
    protocol only loads at execution) — the plumbing contract the env
    gate in streaming/stateful.py promises."""
    from bakery_big_data_spark.streaming.stateful import (
        TWS_OUTPUT_DDL,
        running_user_profile_tws,
    )

    stream = spark.readStream.format("rate").load().selectExpr(
        "value AS event_id",
        "timestamp AS ts",
        "value % 5 AS user_id",
        "CASE WHEN value % 2 = 0 THEN 'click' ELSE 'view' END AS event_type",
        "CAST(value AS DOUBLE) / 7.0 AS value",
    )
    out = running_user_profile_tws(stream)
    assert out.isStreaming
    assert out.schema.simpleString() == (
        "struct<"
        + TWS_OUTPUT_DDL.replace(" LONG", ":bigint").replace(", ", ",")
        + ">"
    )


def test_tws_profile_matches_batch_aggregate(spark, sf_dir, tmp_path_factory):
    """End-to-end drain of the transformWithStateInPandas profile across
    4 micro-batches == the batch aggregate (int64-cents totals are
    order-independent, so micro-batching cannot change them).  Auto-skips
    where the protobuf state-server dependency is unavailable."""
    import pytest

    if not _has_protobuf():
        pytest.skip("google.protobuf unavailable — transformWithState "
                    "cannot execute in this environment (documented gate)")

    import time

    from bakery_big_data_spark.streaming.ingest import start_append_sink
    from bakery_big_data_spark.streaming.stateful import (
        running_user_profile_tws,
    )

    base = str(tmp_path_factory.mktemp("stateful"))
    src, out, ckpt = f"{base}/src", f"{base}/out", f"{base}/ckpt"
    for i in range(4):
        _write_json(spark, sf_dir, src, i * 100, (i + 1) * 100)
        time.sleep(0.05)
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    try:
        saved = spark.conf.get(provider_key)
    except Exception:
        saved = None
    spark.conf.set(provider_key, rocksdb)
    try:
        stream = read_json_stream(spark, src, max_files_per_trigger=1)
        q = start_append_sink(
            running_user_profile_tws(stream),
            out,
            ckpt,
            available_now=True,
            query_name="tws_parity",
        )
        q.awaitTermination()
    finally:
        if saved is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, saved)
    landed = spark.read.parquet(out)
    w = Window.partitionBy("user_id").orderBy(F.col("batch_id").desc())
    final = {
        (r["user_id"], r["n_events"], r["total_cents"], r["n_types"])
        for r in landed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "batch_id")
        .collect()
    }
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 400)
    batch = {
        (r["user_id"], r["n"], r["c"], r["t"])
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * F.lit(100.0)).cast("bigint"))
            .cast("bigint")
            .alias("c"),
            F.countDistinct("event_type").alias("t"),
        )
        .collect()
    }
    assert final == batch
