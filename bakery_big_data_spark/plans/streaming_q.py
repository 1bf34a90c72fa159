"""Driver-contract streaming query: end-to-end checkpointed ingest replay.

Runs the real Structured Streaming pipeline (file JSON-lines source →
explicit-schema decode → checkpointed foreachBatch append sink,
``availableNow`` trigger) into a table in the session store
(sources/store.py), then returns the landed table.  The checkpoint makes
the query idempotent across re-runs in a session (no new input → no new
rows), so the oracle — the same slice of
``events`` straight from parquet — holds on every invocation and
hash-checks the full S1→S2→S3→T4 path including JSON round-trip fidelity.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bakery_big_data_spark.plans.base import register, t
from bakery_big_data_spark.sources.store import materialize, table_files
from bakery_big_data_spark.streaming.ingest import (
    JSON_OPTIONS,
    read_json_stream,
    start_append_sink,
    windowed_counts,
)

_N = 1500


def _write_json_src(src: str, df: DataFrame) -> None:
    df.select(
        F.to_json(F.struct(*df.columns), JSON_OPTIONS).alias("value")
    ).coalesce(1).write.mode("overwrite").text(src)


def _events_source(spark: SparkSession, sf_dir: str, name: str, write) -> str:
    """Store directory of streaming row ``name``: ``write(ev, base)`` lays
    down its JSON source(s) from the first ``_N`` events, once per session
    and events content.  The row's sink output and checkpoint live beside
    them, so a repeat call in the session resumes the checkpoint."""

    def build(base: str) -> None:
        write(t(spark, sf_dir, "events").filter(F.col("event_id") < _N), base)

    return materialize(spark, name, table_files(sf_dir, "events"), build)


def _plain_source(ev: DataFrame, base: str) -> None:
    _write_json_src(os.path.join(base, "src"), ev)


def _paths(base: str, *names: str) -> list[str]:
    return [os.path.join(base, n) for n in names]


@register(
    "streaming_ingest_replay",
    f"""
    SELECT event_id, ts, user_id, event_type, value
    FROM events WHERE event_id < {_N}
    """,
    doc="S1-S3/T2/T4 streaming ingest: JSON-lines stream → from_json decode "
        "→ checkpointed availableNow append sink, landed table returned; "
        "checkpoint resume keeps the result stable across re-runs "
        "(watermark/supervision covered in tests/test_streaming.py)",
)
def streaming_ingest_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _events_source(spark, sf_dir, "streaming_ingest_replay", _plain_source)
    src, out, ckpt = _paths(base, "src", "out", "ckpt")
    q = start_append_sink(
        read_json_stream(spark, src), out, ckpt, available_now=True,
        query_name="replay",
    )
    q.awaitTermination()
    return spark.read.parquet(out).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


@register(
    "streaming_watermark_parity",
    f"""
    WITH src AS (
      SELECT ts, event_type FROM events WHERE event_id < {_N}
    ), m AS (SELECT MAX(ts) AS mx FROM src)
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events
    FROM src, m
    GROUP BY date_trunc('hour', ts), event_type, mx
    HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR <= mx - INTERVAL 10 MINUTE
    """,
    doc="T1-T4 watermarked tumbling-window aggregation, STREAM-RUN: the "
        "JSON-lines stream drains under availableNow through "
        "withWatermark('ts','10 minutes') + window('ts','1 hour') in append "
        "mode into a checkpointed sink, and the landed frame is returned.  "
        "Append mode emits exactly the windows whose end the final watermark "
        "(max event time − 10 min) passed — the oracle states that cutoff "
        "declaratively, so the driver hash-checks the streaming runtime's "
        "late-data semantics (reference stream_to_bronze.py:157-163 "
        "watermark; window aggs are a rebuild extension, SURVEY §2.9 "
        "'not present')",
)
def streaming_watermark_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _events_source(spark, sf_dir, "streaming_watermark_parity", _plain_source)
    src, out, ckpt = _paths(base, "src", "out", "ckpt")
    agg = windowed_counts(
        read_json_stream(spark, src),
        watermark_delay="10 minutes",
        window_size="1 hour",
    )
    q = start_append_sink(agg, out, ckpt, available_now=True, query_name="wm_parity")
    q.awaitTermination()
    return spark.read.parquet(out).select("window_start", "event_type", "n_events")


@register(
    "streaming_session_windows",
    f"""
    WITH src AS (
      SELECT user_id, event_id, ts, value FROM events WHERE event_id < {_N}
    ), m AS (SELECT MAX(ts) AS mx FROM src),
    flagged AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w <= 1800000000
                  THEN 0 ELSE 1 END AS new_session
      FROM src
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS session_value
    FROM sess, m
    GROUP BY user_id, sid, mx
    HAVING MAX(ts) + INTERVAL 30 MINUTE <= mx - INTERVAL 10 MINUTE
    """,
    doc="Stateful streaming SESSION windows, STREAM-RUN (merging window "
        "state in the state store): the JSON-lines stream drains under "
        "availableNow through withWatermark + session_window(30 min) in "
        "append mode, and the landed frame is returned.  A session emits "
        "exactly when the final watermark (max event time − 10 min) "
        "passes its end (last event + gap) — the oracle derives the same "
        "sessions from first principles (lag + cumulative gap flags, "
        "event_id tiebreaks) and states the emission cutoff as a HAVING "
        "on the session end, so the driver hash-checks the streaming "
        "runtime's session-merge AND late-data semantics in one row "
        "(stateful counterpart of session_window_agg; SURVEY §2.9 "
        "session windows are a rebuild extension)",
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bakery_big_data_spark.streaming.ingest import session_window_counts

    base = _events_source(spark, sf_dir, "streaming_session_windows", _plain_source)
    src, out, ckpt = _paths(base, "src", "out", "ckpt")
    agg = session_window_counts(
        read_json_stream(spark, src),
        watermark_delay="10 minutes",
        gap="30 minutes",
    )
    q = start_append_sink(agg, out, ckpt, available_now=True, query_name="sess_parity")
    q.awaitTermination()
    return spark.read.parquet(out).select(
        "user_id", "session_start", "n_events", "session_value"
    )


@register(
    "streaming_dedup_replay",
    f"""
    SELECT event_id, ts, user_id, event_type, value
    FROM events WHERE event_id < {_N}
    """,
    doc="Streaming EXACT dedup, STREAM-RUN: the JSON-lines source carries "
        "every 5th event TWICE (at-least-once delivery), and the stream "
        "drains through withWatermark + dropDuplicatesWithinWatermark"
        "(event_id) into a checkpointed append sink — keyed dedup state is "
        "retained only until the watermark passes (bounded at 100 TB/day, "
        "unlike unbounded dropDuplicates state).  The oracle is the clean "
        "slice: a hash match proves every duplicate was dropped and every "
        "unique event kept exactly once",
)
def streaming_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bakery_big_data_spark.streaming.ingest import dedup_stream

    def write(ev: DataFrame, base: str) -> None:
        dup = ev.unionAll(ev.filter(F.col("event_id") % 5 == 0))
        _write_json_src(os.path.join(base, "src"), dup)

    base = _events_source(spark, sf_dir, "streaming_dedup_replay", write)
    src, out, ckpt = _paths(base, "src", "out", "ckpt")
    deduped = dedup_stream(read_json_stream(spark, src), watermark_delay="10 minutes")
    q = start_append_sink(
        deduped, out, ckpt, available_now=True, query_name="dedup_replay"
    )
    q.awaitTermination()
    return spark.read.parquet(out).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


@register(
    "streaming_stream_stream_join",
    f"""
    WITH src AS (
      SELECT event_id, ts, user_id, event_type
      FROM events WHERE event_id < {_N}
    ), l AS (
      SELECT * FROM src WHERE event_type IN ('click', 'view')
    ), r AS (
      SELECT * FROM src WHERE event_type = 'purchase'
    )
    SELECT l.user_id AS user_id,
           l.event_id AS src_event_id,
           l.event_type AS src_type,
           l.ts AS src_ts,
           r.event_id AS purchase_id,
           r.ts AS purchase_ts
    FROM l JOIN r
      ON l.user_id = r.user_id
     AND r.ts >= l.ts
     AND r.ts <= l.ts + INTERVAL 2 HOUR
    """,
    doc="Stream-stream INNER interval join, STREAM-RUN (attribution shape: "
        "purchases matched to same-user clicks/views within 2 h): two "
        "watermarked JSON-lines streams join on user + event-time interval "
        "into a checkpointed append sink.  The interval bound lets the "
        "state store evict rows the other side's watermark has passed — "
        "bounded join state on unbounded streams; inner matches emit "
        "immediately, so the full availableNow drain hash-matches the "
        "batch join stated by the oracle",
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bakery_big_data_spark.streaming.ingest import interval_join_streams

    def write(ev: DataFrame, base: str) -> None:
        _write_json_src(
            os.path.join(base, "src_l"),
            ev.filter(F.col("event_type").isin("click", "view")),
        )
        _write_json_src(
            os.path.join(base, "src_r"), ev.filter(F.col("event_type") == "purchase")
        )

    base = _events_source(spark, sf_dir, "streaming_stream_stream_join", write)
    src_l, src_r, out, ckpt = _paths(base, "src_l", "src_r", "out", "ckpt")
    joined = interval_join_streams(
        read_json_stream(spark, src_l),
        read_json_stream(spark, src_r),
        attribution_window="2 hours",
        watermark_delay="10 minutes",
    )
    q = start_append_sink(
        joined, out, ckpt, available_now=True, query_name="ssj_replay"
    )
    q.awaitTermination()
    return spark.read.parquet(out).select(
        "user_id", "src_event_id", "src_type", "src_ts",
        "purchase_id", "purchase_ts",
    )


@register(
    "streaming_versioned_rollup",
    f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS value_sum
    FROM events WHERE event_id < {_N}
    GROUP BY event_type
    """,
    doc="Streaming incremental GOLD maintenance, STREAM-RUN with version "
        "history: the replay stream drains through the snapshot-rollup "
        "sink (one snapshot version per micro-batch; the applied batch_id "
        "commits INSIDE the manifest's atomic swap, so crash-replays are "
        "skipped, not double-counted — transactional exactly-once).  The "
        "returned frame is the CURRENT version of the versioned gold "
        "table; the oracle states the equivalent batch rollup, so the "
        "hash certifies the whole incremental fold across batches",
)
def streaming_versioned_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bakery_big_data_spark.sources.snapshots import read_snapshot
    from bakery_big_data_spark.streaming.ingest import (
        start_snapshot_rollup_sink,
    )

    base = _events_source(spark, sf_dir, "streaming_versioned_rollup", _plain_source)
    src, table, ckpt = _paths(base, "src", "table", "ckpt")
    q = start_snapshot_rollup_sink(
        read_json_stream(spark, src), table, ckpt,
        query_name="vroll_replay",
    )
    q.awaitTermination()
    return read_snapshot(spark, table).select(
        "event_type", "n_events", "value_sum"
    )


_GEN_N = 3000


@register(
    "streaming_custom_source_agg",
    f"""
    WITH gen AS (
      SELECT i AS event_id,
             CAST(((i*1103515245+12345+1*7919) % 2147483647) * 150
                  // 2147483647 AS BIGINT) AS user_id,
             ['view','click','purchase','signup','error']
               [1 + CAST(((i*1103515245+12345+2*7919) % 2147483647) * 5
                         // 2147483647 AS INT)] AS event_type,
             CAST(((i*1103515245+12345+3*7919) % 2147483647) * 10000
                  // 2147483647 AS DOUBLE) / 100 AS value
      FROM range(0, {_GEN_N}) t(i)
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS value_sum
    FROM gen GROUP BY event_type
    """,
    doc="The CUSTOM Python streaming source, STREAM-RUN and hash-certified "
        "end to end: the synthetic-events SimpleDataSourceStreamReader "
        "drains its offset-tracked micro-batches into a checkpointed sink, "
        "and the landed rollup must hash-match an oracle that RE-SYNTHESIZES "
        "every row in pure SQL — possible because the generator is integer "
        "LCG arithmetic ('mix*range // M', floor-quantized values; Python "
        "round() and float truncation were deliberately avoided as not "
        "SQL-restatable).  Certifies the source's offset exactness AND the "
        "generator's engine-independence in one row",
)
def streaming_custom_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import time

    from bakery_big_data_spark.sources.generator import (
        register_synthetic_source,
    )

    register_synthetic_source(spark)

    def build(base: str) -> None:
        out, ckpt = _paths(base, "out", "ckpt")

        def _landed() -> int:
            """Rows in the stopped query's sink; 0 if no batch landed."""
            return spark.read.parquet(out).count() if os.path.isdir(out) else 0

        q = (
            spark.readStream.format("synthetic_events")
            .option("n_rows", _GEN_N)
            .option("rows_per_batch", 700)
            .load()
            .writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            # per-batch-id overwrite directories keep checkpoint-replayed
            # batches exactly-once (a plain append would double-write on
            # retry — see start_append_sink)
            .foreachBatch(
                lambda df, bid: df.write.mode("overwrite").parquet(
                    os.path.join(out, f"batch_id={bid}")
                )
            )
            .trigger(processingTime="0 seconds")
            .queryName("gen_drain")
            .start()
        )
        # poll the query's progress, not the sink: the sink does not exist
        # before the first batch lands, and a batch's progress is reported
        # only after foreachBatch has written it
        deadline = time.time() + 120
        while (
            sum(p.numInputRows for p in q.recentProgress) < _GEN_N
            and time.time() < deadline
        ):
            time.sleep(0.5)
        q.stop()
        q.awaitTermination()
        if (got := _landed()) < _GEN_N:
            # raising leaves no store entry: the next call redrains
            raise TimeoutError(
                f"synthetic source drained only {got}/{_GEN_N} rows "
                "within 120s"
            )

    base = materialize(spark, "streaming_custom_source_agg", [], build)
    landed = spark.read.parquet(os.path.join(base, "out"))
    return landed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.col("value").cast("decimal(30,6)"))
        .cast("double")
        .alias("value_sum"),
    )


@register(
    "streaming_stateful_sessions",
    f"""
    WITH src AS (
      SELECT user_id, event_id, ts, value FROM events WHERE event_id < {_N}
    ), flagged AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w <= 1800000000
                  THEN 0 ELSE 1 END AS new_session
      FROM src
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts, value,
             CAST(SUM(new_session) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS sid
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
    doc="CUSTOM stateful operator, STREAM-RUN: the hand-rolled "
        "applyInPandasWithState sessionizer (event-time TIMEOUTS — "
        "register at end+gap, flush on hasTimedOut, reclaim state; "
        "streaming/stateful.py::idle_session_flush) drains a chronological "
        "4-file replay one file per micro-batch, with a far-future "
        "sentinel batch advancing the watermark so every real session's "
        "timeout fires.  The landed sessions (sentinel excluded) must "
        "hash-match the first-principles batch lag/gap sessionization — "
        "certifying raw state-store timeout semantics, not just the "
        "built-in session_window (which streaming_session_windows covers)",
)
def streaming_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bakery_big_data_spark.streaming.ingest import (
        read_json_stream,
        start_append_sink,
    )
    from bakery_big_data_spark.streaming.stateful import idle_session_flush

    def write(ev: DataFrame, base: str) -> None:
        from pyspark.sql import Window as _W

        src = os.path.join(base, "src")
        # chronological quarters via ntile — NO .collect(): each bucket is
        # appended as its own file in order, so the file source (mtime
        # order) replays event time monotonically across micro-batches
        bucketed = ev.withColumn(
            "_b", F.ntile(4).over(_W.orderBy("ts", "event_id"))
        )
        import time as _time

        for i in range(1, 5):
            chunk = bucketed.filter(F.col("_b") == i).drop("_b")
            chunk.select(
                F.to_json(F.struct(*chunk.columns), JSON_OPTIONS).alias(
                    "value"
                )
            ).coalesce(1).write.mode("append").text(src)
            # the file source orders batches by modification time; keep
            # bucket mtimes strictly increasing even on coarse filesystems
            _time.sleep(0.05)
        sentinel = ev.agg(
            F.lit(999999).cast("long").alias("event_id"),
            (F.max("ts") + F.expr("INTERVAL 10 HOURS")).alias("ts"),
            F.lit(-1).cast("long").alias("user_id"),
            F.lit("sentinel").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        )
        sentinel.select(
            F.to_json(F.struct(*sentinel.columns), JSON_OPTIONS).alias(
                "value"
            )
        ).coalesce(1).write.mode("append").text(src)

    base = _events_source(spark, sf_dir, "streaming_stateful_sessions", write)
    src, out, ckpt = _paths(base, "src", "out", "ckpt")
    stream = idle_session_flush(
        read_json_stream(spark, src, max_files_per_trigger=1),
        watermark_delay="10 minutes",
        gap_minutes=30,
    )
    q = start_append_sink(
        stream, out, ckpt, available_now=True, query_name="stateful_sess"
    )
    q.awaitTermination()
    return (
        spark.read.parquet(out)
        .filter(F.col("user_id") >= 0)
        .select("user_id", "session_start", "session_end", "n_events")
    )


def _interval_join_sources(ev: DataFrame, base: str) -> None:
    """Write the two interval-join replay sides (touchpoints / purchases)
    as chronological JSON sources ``src_l`` and ``src_r``, each finished
    with a far-future sentinel batch so every watermark passes every real
    row's interval end and all pending outer-join state expires."""
    import time as _time

    sentinel = ev.agg(
        F.lit(999999).cast("long").alias("event_id"),
        (F.max("ts") + F.expr("INTERVAL 10 HOURS")).alias("ts"),
        F.lit(-1).cast("long").alias("user_id"),
        F.lit("sentinel").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    for src, flt in (
        (os.path.join(base, "src_l"), F.col("event_type").isin("click", "view")),
        (os.path.join(base, "src_r"), F.col("event_type") == "purchase"),
    ):
        side = ev.filter(flt)
        _write_json_src(src, side)
        _time.sleep(0.05)
        sentinel.select(
            F.to_json(F.struct(*sentinel.columns), JSON_OPTIONS).alias(
                "value"
            )
        ).coalesce(1).write.mode("append").text(src)


@register(
    "streaming_stream_stream_left_join",
    f"""
    WITH src AS (
      SELECT event_id, ts, user_id, event_type
      FROM events WHERE event_id < {_N}
    ), l AS (
      SELECT * FROM src WHERE event_type IN ('click', 'view')
    ), r AS (
      SELECT * FROM src WHERE event_type = 'purchase'
    )
    SELECT l.user_id AS user_id,
           l.event_id AS src_event_id,
           l.ts AS src_ts,
           r.event_id AS purchase_id,
           r.ts AS purchase_ts
    FROM l LEFT JOIN r
      ON l.user_id = r.user_id
     AND r.ts >= l.ts
     AND r.ts <= l.ts + INTERVAL 2 HOUR
    """,
    doc="Stream-stream LEFT OUTER interval join, STREAM-RUN — the hard "
        "semantic corner: matches emit on arrival, but an unmatched left "
        "row may only emit once BOTH watermarks pass its interval end "
        "(otherwise the join would fabricate NULLs for merely-late "
        "matches).  The replay therefore drains chronological halves one "
        "micro-batch at a time and finishes with a far-future sentinel "
        "batch on each side, forcing every pending left row's state to "
        "expire; the landed table (sentinels excluded) must hash-match "
        "the plain batch LEFT JOIN — certifying both the match path and "
        "the state-expiry NULL path of outer stream-stream joins",
)
def streaming_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bakery_big_data_spark.streaming.ingest import (
        interval_left_join_streams,
    )

    base = _events_source(
        spark, sf_dir, "streaming_stream_stream_left_join", _interval_join_sources
    )
    src_l, src_r, out, ckpt = _paths(base, "src_l", "src_r", "out", "ckpt")
    joined = interval_left_join_streams(
        read_json_stream(spark, src_l, max_files_per_trigger=1),
        read_json_stream(spark, src_r, max_files_per_trigger=1),
        attribution_window="2 hours",
        watermark_delay="10 minutes",
    )
    q = start_append_sink(
        joined, out, ckpt, available_now=True, query_name="sslj_replay"
    )
    q.awaitTermination()
    return (
        spark.read.parquet(out)
        .filter(F.col("user_id") >= 0)
        .select("user_id", "src_event_id", "src_ts", "purchase_id", "purchase_ts")
    )


@register(
    "streaming_merge_upsert_state",
    f"""
    WITH src AS (
      SELECT user_id, ts, event_type, value
      FROM events WHERE event_id < {_N}
      UNION ALL
      SELECT user_id, ts, event_type, value
      FROM events WHERE event_id < {_N} AND event_id % 3 = 0
    )
    SELECT user_id, ts AS last_ts, event_type AS last_type,
           value AS last_value
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_type DESC,
                                            value DESC) AS rk
      FROM (SELECT DISTINCT user_id, ts, event_type, value FROM src)
    ) WHERE rk = 1
    """,
    doc="Streaming MERGE sink, STREAM-RUN: the replay (with every 3rd "
        "event delivered twice — at-least-once) drains through "
        "start_merge_sink, which applies the batch recency-conditioned "
        "MERGE per micro-batch into an atomically-swapped state table "
        "(the reference's streaming→silver MERGE, bronze_to_silver.py:"
        "78-90 run per batch).  The landed per-user latest state must "
        "hash-match the declarative latest-row-per-key oracle — "
        "duplicate delivery AND cross-batch recency conflicts both "
        "resolved by the merge, certified in one row",
)
def streaming_merge_upsert_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bakery_big_data_spark.streaming.ingest import start_merge_sink

    def write(ev: DataFrame, base: str) -> None:
        dup = ev.unionAll(ev.filter(F.col("event_id") % 3 == 0))
        _write_json_src(os.path.join(base, "src"), dup)

    base = _events_source(spark, sf_dir, "streaming_merge_upsert_state", write)
    src, table, ckpt = _paths(base, "src", "table", "ckpt")
    stream = read_json_stream(spark, src, max_files_per_trigger=1).select(
        "user_id", "ts", "event_type", "value"
    )
    q = start_merge_sink(
        stream, table, ckpt,
        keys=["user_id"], recency_col="ts",
        available_now=True, query_name="merge_state",
    )
    q.awaitTermination()
    return spark.read.parquet(table).select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
    )


@register(
    "streaming_stream_stream_full_join",
    f"""
    WITH src AS (
      SELECT event_id, ts, user_id, event_type
      FROM events WHERE event_id < {_N}
    ), l AS (
      SELECT * FROM src WHERE event_type IN ('click', 'view')
    ), r AS (
      SELECT * FROM src WHERE event_type = 'purchase'
    )
    SELECT COALESCE(l.user_id, r.user_id) AS user_id,
           l.event_id AS src_event_id,
           l.ts AS src_ts,
           r.event_id AS purchase_id,
           r.ts AS purchase_ts
    FROM l FULL JOIN r
      ON l.user_id = r.user_id
     AND r.ts >= l.ts
     AND r.ts <= l.ts + INTERVAL 2 HOUR
    """,
    doc="Stream-stream FULL OUTER interval join, STREAM-RUN — completes "
        "the stream-join matrix (inner and LEFT already certified): BOTH "
        "outer corners emit exactly once when both watermarks pass the "
        "row's interval end — touchpoints with no conversion in the "
        "window (NULL right) AND conversions with no preceding touchpoint "
        "(NULL left, the orphan-conversion audit).  Same chronological "
        "replay + per-side far-future sentinel discipline as the LEFT "
        "row; the landed table (sentinels excluded on the coalesced key) "
        "must hash-match the plain batch FULL JOIN",
)
def streaming_stream_stream_full_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from bakery_big_data_spark.streaming.ingest import (
        interval_full_join_streams,
    )

    base = _events_source(
        spark, sf_dir, "streaming_stream_stream_full_join", _interval_join_sources
    )
    src_l, src_r, out, ckpt = _paths(base, "src_l", "src_r", "out", "ckpt")
    joined = interval_full_join_streams(
        read_json_stream(spark, src_l, max_files_per_trigger=1),
        read_json_stream(spark, src_r, max_files_per_trigger=1),
        attribution_window="2 hours",
        watermark_delay="10 minutes",
    )
    q = start_append_sink(
        joined, out, ckpt, available_now=True, query_name="ssfj_replay"
    )
    q.awaitTermination()
    return (
        spark.read.parquet(out)
        .filter(F.col("user_id") >= 0)
        .select(
            "user_id", "src_event_id", "src_ts", "purchase_id", "purchase_ts"
        )
    )


@register(
    "streaming_dead_letter_routing",
    f"""
    SELECT 'ok' AS side, event_id, event_type, value
    FROM events WHERE event_id < {_N} AND event_id % 37 <> 0
    UNION ALL
    SELECT 'dlq' AS side, event_id,
           CAST(NULL AS VARCHAR) AS event_type, CAST(NULL AS DOUBLE) AS value
    FROM events WHERE event_id < {_N} AND event_id % 37 = 0
    """,
    doc="S1-S3 dead-letter routing, stream-run and hash-certified: the "
        "replay source deterministically corrupts every 37th event's line "
        "('CORRUPT|<id>' instead of JSON); the stream decodes with "
        "columnNameOfCorruptRecord and the DLQ sink routes parse failures "
        "to the quarantine table as raw text while good rows land decoded "
        "(streaming/ingest.py::start_dlq_sink — both sides per-batch-id "
        "overwrites, exactly-once under checkpoint replay).  The returned "
        "frame unions decoded values with ids parsed back out of the "
        "quarantined raw lines; the oracle restates the corruption rule "
        "over the events table, so the hash certifies that EVERY corrupt "
        "line was quarantined (none parsed, none lost) and every valid "
        "line decoded to exact values — malformed messages neither poison "
        "the stream nor vanish",
)
def streaming_dead_letter_routing(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from bakery_big_data_spark.streaming.ingest import (
        JSON_OPTIONS,
        read_json_stream_with_raw,
        start_dlq_sink,
    )

    def write(ev: DataFrame, base: str) -> None:
        line = F.when(
            F.col("event_id") % 37 == 0,
            F.concat(F.lit("CORRUPT|"), F.col("event_id").cast("string")),
        ).otherwise(F.to_json(F.struct(*ev.columns), JSON_OPTIONS))
        ev.select(line.alias("value")).coalesce(1).write.mode(
            "overwrite"
        ).text(os.path.join(base, "src"))

    base = _events_source(spark, sf_dir, "streaming_dead_letter_routing", write)
    src, out, dlq, ckpt = _paths(base, "src", "out", "dlq", "ckpt")
    q = start_dlq_sink(
        read_json_stream_with_raw(spark, src), out, dlq, ckpt,
        query_name="dlq_replay",
    )
    q.awaitTermination()
    ok = spark.read.parquet(out).select(
        F.lit("ok").alias("side"), "event_id", "event_type", "value"
    )
    bad = spark.read.parquet(dlq).select(
        F.lit("dlq").alias("side"),
        F.split(F.col("raw_line"), r"\|").getItem(1).cast("long").alias(
            "event_id"
        ),
        F.lit(None).cast("string").alias("event_type"),
        F.lit(None).cast("double").alias("value"),
    )
    return ok.unionByName(bad)


_RATE_QUOTA = 2


@register(
    "streaming_rate_limit_gate",
    f"""
    SELECT event_id, user_id, CAST(ts AS DATE) AS d,
           ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                              ORDER BY ts, event_id) <= {_RATE_QUOTA}
             AS is_admitted
    FROM events
    """,
    doc="STREAMING per-key quota gate == batch rank truth, certified by "
        "hash — admission control at the well: streaming/rate_gate.py "
        "replays events as event-id-ordered micro-batches; each "
        "foreachBatch unions arrivals with the bounded admitted-set state "
        "(<= quota rows per (user, day) — throttled events NEVER enter "
        "state), re-ranks only the touched keys by the deterministic "
        "(ts, event_id) admission order, and commits state + decision "
        "ledger batch-id-guarded (checkpoint re-delivery exactly-once).  "
        "The admitted set is monotone toward the key's (ts,event_id)-"
        "minimal quota, so the gate converges to ROW_NUMBER() <= quota "
        "under ANY arrival order, with late demotion revising admitted "
        "verdicts when earlier-keyed events arrive late (provably a no-op "
        "under ordered replay; tests cover shuffled arrival).  Delta-"
        "shaped per batch: one semi-join restricts re-ranking to touched "
        "keys — state and per-batch work stay bounded at 100 TB",
)
def streaming_rate_limit_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bakery_big_data_spark.streaming.rate_gate import (
        run_streaming_rate_gate,
    )

    def build(base: str) -> None:
        dec = run_streaming_rate_gate(
            spark, sf_dir, base, quota=_RATE_QUOTA, n_chunks=4
        )
        dec.write.parquet(f"{base}/decisions_out")

    base = materialize(
        spark, "streaming_rate_limit_gate", table_files(sf_dir, "events"), build
    )
    return spark.read.parquet(f"{base}/decisions_out")


_HOP_US = 86_400_000_000  # 1-day slide
_HOP_WIN_US = 3 * _HOP_US  # 3-day windows


@register(
    "streaming_hopping_window_parity",
    f"""
    WITH src AS (
      SELECT event_type, epoch_us(ts) AS us FROM events WHERE event_id < {_N}
    ), m AS (
      SELECT MAX(us) AS mx_us FROM src
    ), hops AS (
      SELECT event_type,
             (us // {_HOP_US} - g.i) * {_HOP_US} AS win_start_us
      FROM src, generate_series(0, 2) AS g(i)
    )
    SELECT win_start_us, event_type, COUNT(*) AS n_events
    FROM hops, m
    GROUP BY win_start_us, event_type, mx_us
    HAVING win_start_us + {_HOP_WIN_US} <= mx_us - 600000000
    """,
    doc="Watermarked HOPPING-window aggregation, STREAM-RUN — the "
        "streaming sibling of window_hopping_traffic: the JSON-lines "
        "stream drains under availableNow through "
        "withWatermark('ts','10 minutes') + window('ts','3 days','1 day') "
        "in append mode into a checkpointed sink.  Overlap meets "
        "watermark semantics: each row pre-expands into its 3 member "
        "windows BEFORE the stateful agg (state = open windows x types, "
        "bounded), and append emits a window exactly when the final "
        "watermark (max event time - 10 min) passes its END — so "
        "overlapping windows close in slide-sized ripples, one per day "
        "of watermark advance.  The oracle states membership with a "
        "generate_series offset join and the cutoff as integer micro "
        "arithmetic (timezone-proof), certifying the streaming "
        "runtime's emission set bit-for-bit",
)
def streaming_hopping_window_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _events_source(
        spark, sf_dir, "streaming_hopping_window_parity", _plain_source
    )
    src, out, ckpt = _paths(base, "src", "out", "ckpt")
    agg = windowed_counts(
        read_json_stream(spark, src),
        watermark_delay="10 minutes",
        window_size="3 days",
        slide="1 day",
    )
    q = start_append_sink(
        agg, out, ckpt, available_now=True, query_name="hop_parity"
    )
    q.awaitTermination()
    return spark.read.parquet(out).select(
        F.unix_micros(F.col("window_start")).alias("win_start_us"),
        "event_type",
        "n_events",
    )
