"""Streaming-slice tests: file-stream ingest with checkpoint resume,
watermarked windowed aggregation vs batch equivalence, multi-query
supervision."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from bakery_big_data_spark.sources.tables import load_table
from bakery_big_data_spark.streaming.ingest import (
    JSON_OPTIONS,
    read_json_stream,
    start_append_sink,
    supervise,
    windowed_counts,
)


def _dirs(tmp_path_factory):
    base = tmp_path_factory.mktemp("streaming")
    return (
        f"{base}/src",
        f"{base}/out",
        f"{base}/ckpt",
    )


def _write_json_batch(spark, sf_dir, path, lo, hi, mode="append"):
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_id") >= lo) & (F.col("event_id") < hi)
    )
    ev.select(
        F.to_json(F.struct(*ev.columns), JSON_OPTIONS).alias("value")
    ).coalesce(1).write.mode(mode).text(path)


def test_ingest_and_checkpoint_resume(spark, sf_dir, tmp_path_factory):
    src, out, ckpt = _dirs(tmp_path_factory)
    _write_json_batch(spark, sf_dir, src, 0, 200)

    def run():
        q = start_append_sink(
            read_json_stream(spark, src), out, ckpt, available_now=True
        )
        q.awaitTermination()

    run()
    assert spark.read.parquet(out).count() == 200

    # resume with no new input: checkpoint prevents re-ingest
    run()
    assert spark.read.parquet(out).count() == 200

    # new file arrives → only the delta is appended
    _write_json_batch(spark, sf_dir, src, 200, 260)
    run()
    got = spark.read.parquet(out)
    assert got.count() == 260
    assert got.select(F.countDistinct("event_id")).first()[0] == 260
    # decode fidelity: values survive JSON round-trip exactly
    orig = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 260)
        .agg(F.sum(F.col("value").cast("decimal(30,6)")))
        .first()[0]
    )
    assert got.agg(F.sum(F.col("value").cast("decimal(30,6)"))).first()[0] == orig


def test_watermarked_window_agg_matches_batch(spark, sf_dir, tmp_path_factory):
    src, out, ckpt = _dirs(tmp_path_factory)
    _write_json_batch(spark, sf_dir, src, 0, 2000)

    stream = read_json_stream(spark, src)
    agg = windowed_counts(stream, watermark_delay="10 minutes", window_size="1 hour")

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out)

    q = (
        agg.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = spark.read.parquet(out)
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    max_ts = ev.agg(F.max("ts")).first()[0]
    batch = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), F.col("w.end").alias("we"), "event_type", "n_events")
    )
    # append mode emits only windows closed by the final watermark
    import datetime

    wm = max_ts - datetime.timedelta(minutes=10)
    expected = batch.filter(F.col("we") <= F.lit(wm)).drop("we")
    g = {(r.window_start, r.event_type, r.n_events) for r in got.collect()}
    e = {(r.window_start, r.event_type, r.n_events) for r in expected.collect()}
    assert g == e
    assert g, "at least one window must have closed"


def test_stream_dedup_drops_duplicates(spark, sf_dir, tmp_path_factory):
    from bakery_big_data_spark.streaming.ingest import dedup_stream

    src, out, ckpt = _dirs(tmp_path_factory)
    # the same 300 events delivered twice (at-least-once duplication)
    _write_json_batch(spark, sf_dir, src, 0, 300)
    _write_json_batch(spark, sf_dir, src, 0, 300)

    q = (
        dedup_stream(read_json_stream(spark, src))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch(lambda df, bid: df.write.mode("append").parquet(out))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out)
    assert got.count() == 300
    assert got.select(F.countDistinct("event_id")).first()[0] == 300


def test_stream_static_enrichment(spark, sf_dir, tmp_path_factory):
    from bakery_big_data_spark.streaming.ingest import enrich_with_dim

    src, out, ckpt = _dirs(tmp_path_factory)
    _write_json_batch(spark, sf_dir, src, 0, 500)
    dim = (
        load_table(spark, sf_dir, "events")
        .select("event_type")
        .distinct()
        .withColumn("type_len", F.length("event_type"))
    )
    q = (
        enrich_with_dim(read_json_stream(spark, src), dim, "event_type")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch(lambda df, bid: df.write.mode("append").parquet(out))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out)
    assert got.count() == 500
    assert got.filter(F.col("type_len").isNull()).count() == 0


def test_supervise_multi_query(spark, sf_dir, tmp_path_factory):
    src1, out1, ck1 = _dirs(tmp_path_factory)
    src2, out2, ck2 = _dirs(tmp_path_factory)
    _write_json_batch(spark, sf_dir, src1, 0, 100)
    _write_json_batch(spark, sf_dir, src2, 100, 250)
    q1 = start_append_sink(
        read_json_stream(spark, src1), out1, ck1, query_name="s1"
    )
    q2 = start_append_sink(
        read_json_stream(spark, src2), out2, ck2, query_name="s2"
    )
    supervise([q1, q2])
    assert spark.read.parquet(out1).count() == 100
    assert spark.read.parquet(out2).count() == 150


def test_dlq_routes_malformed_lines(spark, sf_dir, tmp_path):
    """Dead-letter routing: well-formed lines land in the table, garbage
    lines land raw in the DLQ, and a checkpoint resume re-ingests neither."""
    from bakery_big_data_spark.streaming.ingest import (
        read_json_stream_with_raw,
        start_dlq_sink,
    )

    base = str(tmp_path)
    src, out, dlq, ckpt = (os.path.join(base, d) for d in ("src", "out", "dlq", "ck"))
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 50)
    good = ev.select(F.to_json(F.struct(*ev.columns), JSON_OPTIONS).alias("value"))
    bad = spark.createDataFrame(
        [("this is not json",), ("{truncated",), ("<xml/>",)], ["value"]
    )
    good.unionAll(bad).coalesce(1).write.mode("overwrite").text(src)

    def run():
        q = start_dlq_sink(read_json_stream_with_raw(spark, src), out, dlq, ckpt)
        q.awaitTermination()

    run()
    assert spark.read.parquet(out).count() == 50
    dlq_rows = {r.raw_line for r in spark.read.parquet(dlq).collect()}
    assert dlq_rows == {"this is not json", "{truncated", "<xml/>"}

    run()  # checkpoint resume: no double-ingest on either path
    assert spark.read.parquet(out).count() == 50
    assert spark.read.parquet(dlq).count() == 3


def test_streaming_merge_sink_upserts(spark, sf_dir, tmp_path):
    """Streaming MERGE sink: a second drop of the same keys with newer
    recency updates in place (no duplicates), older recency is ignored,
    and new keys insert — per micro-batch, through the batch merge
    operator."""
    from bakery_big_data_spark.streaming.ingest import start_merge_sink

    base = str(tmp_path)
    src, tbl, ckpt = (os.path.join(base, d) for d in ("src", "tbl", "ck"))
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 100)

    def drop(df):
        import glob
        import shutil
        import uuid

        os.makedirs(src, exist_ok=True)
        staging = os.path.join(base, "staging")
        df.select(
            F.to_json(F.struct(*ev.columns), JSON_OPTIONS).alias("value")
        ).coalesce(1).write.mode("overwrite").text(staging)
        # the file stream does not recurse: land each drop as a flat,
        # uniquely-named file directly under src
        for f in glob.glob(os.path.join(staging, "part-*.txt")):
            shutil.move(f, os.path.join(src, uuid.uuid4().hex + ".txt"))
        q = start_merge_sink(
            read_json_stream(spark, src), tbl, ckpt,
            keys=["event_id"], recency_col="ts",
        )
        q.awaitTermination()

    drop(ev)
    assert spark.read.parquet(tbl).count() == 100

    # newer versions of ids 0-49 (+1 hour, value*10) and 20 new ids
    newer = ev.filter(F.col("event_id") < 50).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 1 HOUR")
    ).withColumn("value", F.col("value") * 10)
    fresh = load_table(spark, sf_dir, "events").filter(
        F.col("event_id").between(100, 119)
    )
    drop(newer.unionByName(fresh))

    final = spark.read.parquet(tbl)
    assert final.count() == 120  # 100 upserted + 20 inserted, no dupes
    assert final.select(F.countDistinct("event_id")).first()[0] == 120
    updated = final.filter(F.col("event_id") < 50)
    orig = {r.event_id: r.value for r in ev.filter(F.col("event_id") < 50).collect()}
    for r in updated.collect():
        assert abs(r.value - orig[r.event_id] * 10) < 1e-9  # newer won


def test_stream_stream_interval_join_matches_batch(spark, sf_dir):
    """The availableNow drain of the watermarked stream-stream interval
    join must land exactly the batch join (inner matches emit immediately;
    the watermark only bounds state), and a checkpointed re-run with no
    new input must not change the landed table."""
    from bakery_big_data_spark.plans import REGISTRY

    q = REGISTRY["streaming_stream_stream_join"]
    first = {tuple(r) for r in q.build(spark, sf_dir).collect()}
    again = {tuple(r) for r in q.build(spark, sf_dir).collect()}
    assert first and first == again

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 1500)
    l = ev.filter(F.col("event_type").isin("click", "view")).alias("l")
    r = ev.filter(F.col("event_type") == "purchase").alias("r")
    batch = {
        tuple(row)
        for row in l.join(
            r,
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("r.ts") >= F.col("l.ts"))
            & (F.col("r.ts") <= F.col("l.ts") + F.expr("INTERVAL 2 hours")),
        )
        .select(
            "l.user_id", "l.event_id", "l.event_type", "l.ts",
            "r.event_id", "r.ts",
        )
        .collect()
    }
    assert first == batch


def test_streaming_dedup_replay_idempotent(spark, sf_dir):
    from bakery_big_data_spark.plans import REGISTRY

    q = REGISTRY["streaming_dedup_replay"]
    first = q.build(spark, sf_dir)
    n1, d1 = first.count(), first.select(F.countDistinct("event_id")).first()[0]
    assert n1 == d1  # every duplicate dropped
    assert q.build(spark, sf_dir).count() == n1  # checkpoint resume: no growth


def test_snapshot_rollup_sink_incremental_and_exactly_once(
    spark, sf_dir, tmp_path_factory
):
    """The versioned-gold streaming sink: one snapshot version per
    micro-batch, final state equals the batch rollup, historical versions
    readable, and a manually replayed batch is detected via the
    applied-batch-id committed inside the manifest (no double count)."""
    from bakery_big_data_spark.sources.snapshots import (
        last_commit_meta,
        read_snapshot,
    )
    from bakery_big_data_spark.streaming.ingest import (
        start_snapshot_rollup_sink,
    )

    base = str(tmp_path_factory.mktemp("streaming"))
    src, table, ckpt = f"{base}/src", f"{base}/table", f"{base}/ckpt"
    _write_json_batch(spark, sf_dir, src, 0, 400)
    _write_json_batch(spark, sf_dir, src, 400, 800)

    q = start_snapshot_rollup_sink(
        read_json_stream(spark, src, max_files_per_trigger=1),
        table, ckpt,
    )
    q.awaitTermination()

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 800)
    expected = {
        (r.event_type, r.n_events, r.value_sum)
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,6)"))
            .cast("double")
            .alias("value_sum"),
        )
        .collect()
    }
    got = {
        (r.event_type, r.n_events, r.value_sum)
        for r in read_snapshot(spark, table).collect()
    }
    assert got == expected
    # one version per micro-batch, all time-travelable
    assert read_snapshot(spark, table, version=1).count() > 0
    meta = last_commit_meta(table)
    assert meta is not None and meta["batch_id"] >= 1
    # checkpoint resume with no new input: no new version, no double count
    from bakery_big_data_spark.sources.snapshots import _load_manifest

    v_before = _load_manifest(table)["current"]
    q2 = start_snapshot_rollup_sink(
        read_json_stream(spark, src, max_files_per_trigger=1), table, ckpt
    )
    q2.awaitTermination()
    assert _load_manifest(table)["current"] == v_before
    assert {
        (r.event_type, r.n_events, r.value_sum)
        for r in read_snapshot(spark, table).collect()
    } == expected
