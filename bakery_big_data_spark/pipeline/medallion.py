"""Medallion pipeline assembly: Bronze → Silver → Gold (+ ML features).

The reference's end-to-end batch path (``bronze_to_silver.py`` →
``silver_to_gold.py`` → ``update_ml_features.py``) re-expressed as **pure
DataFrame builders** — no side effects until :func:`run_medallion` commits
each layer as a date-partitioned parquet table (dynamic partition overwrite,
so re-running a day is idempotent — the property the reference's
``MERGE``-based jobs guarantee via Iceberg).

Layout note: the pipeline writes partition-pruned but does NOT Z-order
inline — ingest stays one cheap partitioned write, and multi-dimensional
clustering is the nightly ``jobs maintenance`` pass (``optimize_table``
with zorder dims), exactly Delta/Iceberg's ingest-then-OPTIMIZE split:
clustering in the hot path would add a range shuffle per micro-run for a
benefit only scans enjoy.

Layer shapes mirror the reference over the driver's ``events`` table:

- **bronze**: raw events + ingestion-time bifurcation (T7,
  ``generate_inventory_updates.py:78-101``) and processing status;
- **silver**: quality-rule fold + threshold gate (§2.11,
  ``bronze_to_silver.py:23-33,45-51``), typed derivations (event_date,
  time_of_day bucket — ``generate_sales_events.py:45-54``);
- **gold**: calendar dim (``silver_to_gold.py:44-64``), user dim
  (``:246-263``), daily fact rollup (``:373-386``);
- **ml features**: rolling 8-row mean + calendar/dim left joins
  (``update_ml_features.py:66-77,134-150``).

Scale: every layer is scan → map → single keyed shuffle; facts/features are
partition-pruned by event_date; dims broadcast at join time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bakery_big_data_spark.quality import QualityRule, apply_quality_rules, quality_gate
from bakery_big_data_spark.sources.sinks import (
    commit_concurrently,
    overwrite_partitions,
)
from bakery_big_data_spark.sources.tables import load_table, read_parquet


def event_rules() -> list[QualityRule]:
    """Quality rules for the event stream (same fold as the reference's
    sales/inventory/equipment rule sets, bronze_to_silver.py:45-51)."""
    return [
        QualityRule("not_error", F.col("event_type") != "error", 55),
        QualityRule("value_band", F.col("value").between(0, 150), 20),
        QualityRule("has_payload_key", F.get_json_object("props", "$.k").isNotNull(), 15),
        QualityRule("has_user", F.col("user_id").isNotNull(), 20),
    ]


EVENT_RULES_SQL = (
    "CAST(100"
    " - (CASE WHEN COALESCE(event_type <> 'error', FALSE) THEN 0 ELSE 55 END)"
    " - (CASE WHEN COALESCE(value BETWEEN 0 AND 150, FALSE) THEN 0 ELSE 20 END)"
    " - (CASE WHEN COALESCE(json_extract_string(props, '$.k') IS NOT NULL, FALSE) THEN 0 ELSE 15 END)"
    " - (CASE WHEN COALESCE(user_id IS NOT NULL, FALSE) THEN 0 ELSE 20 END)"
    " AS INT)"
)


def bronze_from_raw(ev: DataFrame) -> DataFrame:
    """Bronze derivation over RAW event rows (ingestion-time bifurcation +
    status, T7) — shared by the batch reader (:func:`bronze_events`) and
    the streaming micro-batch path (:func:`run_medallion_stream_fed`),
    which receives the same raw schema from the JSON decode."""
    hours_us = (F.col("event_id") % 50) * F.lit(3600000000).cast("bigint")
    return ev.select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        "value",
        "props",
        F.timestamp_micros(F.unix_micros("ts") + hours_us).alias("ingestion_ts"),
        (F.col("event_id") % 50).cast("double").alias("late_arrival_hours"),
        F.when(F.col("event_id") % 4 == 0, "pending")
        .otherwise("processed")
        .alias("processing_status"),
    )


def bronze_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bronze: raw events + ingestion-time bifurcation + status (T7)."""
    return bronze_from_raw(load_table(spark, sf_dir, "events"))


def silver_events(bronze: DataFrame, gate: int = 50) -> DataFrame:
    """Silver: quality fold → gate → typed derivations.

    Mirrors bronze_to_silver.py:53-73 (withColumn chain + §2.11 scoring +
    final select); map-only, no shuffle.
    """
    scored = apply_quality_rules(bronze, event_rules())
    hour = F.hour("ts")
    return quality_gate(scored, threshold=gate).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.to_date("ts").alias("event_date"),
        F.when(hour.between(5, 10), "morning")
        .when(hour.between(11, 13), "lunch")
        .when(hour.between(14, 17), "afternoon")
        .when(hour.between(18, 22), "evening")
        .otherwise("off_hours")
        .alias("time_of_day"),
        "data_quality_score",
        F.col("ingestion_ts").alias("etl_timestamp"),
    )


def feedback_rules() -> list[QualityRule]:
    """Quality rules for customer feedback (reference
    load_bronze_from_csv.py:106-128 feedback ingest; the Bronze→Silver
    feedback processor is MISSING in the reference — SURVEY §1.3 'never
    populated' gap — and is made real here per §7.2 step 6)."""
    return [
        QualityRule("valid_rating", F.col("rating").between(1, 5), 40),
        QualityRule("has_customer", F.col("customer_id").isNotNull(), 35),
        QualityRule("has_time", F.col("feedback_time").isNotNull(), 25),
    ]


FEEDBACK_RULES_SQL = (
    "CAST(100"
    " - (CASE WHEN COALESCE(rating BETWEEN 1 AND 5, FALSE) THEN 0 ELSE 40 END)"
    " - (CASE WHEN COALESCE(customer_id IS NOT NULL, FALSE) THEN 0 ELSE 35 END)"
    " - (CASE WHEN COALESCE(feedback_time IS NOT NULL, FALSE) THEN 0 ELSE 25 END)"
    " AS INT)"
)


def bronze_feedback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bronze feedback rows derived deterministically from ``events`` —
    the same shape as the reference's customer_feedback CSV ingest
    (load_bronze_from_csv.py:106-128): id, time, customer, rating 1-5,
    platform, verified flag."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").alias("feedback_id"),
        F.col("ts").alias("feedback_time"),
        F.col("user_id").alias("customer_id"),
        ((F.col("event_id") % 5) + 1).cast("int").alias("rating"),
        F.col("event_type").alias("platform"),
        (F.col("event_id") % 3 == 0).alias("verified_purchase"),
    )


def silver_feedback(bronze: DataFrame, gate: int = 50) -> DataFrame:
    """Silver feedback: quality fold → gate → rating→sentiment_category
    case ladder (the derivation the reference computes at CSV-ingest time,
    load_bronze_from_csv.py:117-125, moved into the engine's Silver layer
    where the reference's missing feedback processor should live).
    Map-only: one projection, no shuffle."""
    scored = apply_quality_rules(bronze, feedback_rules())
    return quality_gate(scored, threshold=gate).select(
        "feedback_id",
        "customer_id",
        F.to_date("feedback_time").alias("feedback_date"),
        "rating",
        "platform",
        "verified_purchase",
        F.when(F.col("rating") >= 4, "positive")
        .when(F.col("rating") == 3, "neutral")
        .otherwise("negative")
        .alias("sentiment_category"),
        "data_quality_score",
    )


def gold_dim_calendar(silver: DataFrame) -> DataFrame:
    """Calendar dim from observed dates (silver_to_gold.py:44-64)."""
    d = F.col("event_date")
    weekday = F.date_format(d, "EEEE")
    return silver.select("event_date").distinct().select(
        d,
        F.year(d).alias("year_num"),
        F.month(d).alias("month_num"),
        F.dayofmonth(d).alias("day_of_month"),
        weekday.alias("weekday_name"),
        weekday.isin("Saturday", "Sunday").alias("is_weekend"),
    )


def gold_dim_user(silver: DataFrame) -> DataFrame:
    """User dim: first-seen date + activity breadth (silver_to_gold.py:
    246-263 dim_customer semantics: DISTINCT + MAX/MIN per entity)."""
    return silver.groupBy("user_id").agg(
        F.min("event_date").alias("first_seen_date"),
        F.max("event_date").alias("last_seen_date"),
        F.countDistinct("event_type").alias("n_event_types"),
    )


def gold_fact_daily(silver: DataFrame) -> DataFrame:
    """Daily fact rollup (silver_to_gold.py:373-386): decimal-exact sums."""
    return silver.groupBy("event_date", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("total_value"),
        F.sum(F.when(F.col("time_of_day") == "off_hours", 1).otherwise(0))
        .cast("bigint")
        .alias("n_off_hours"),
    )


def gold_fact_feedback_daily(silver_fb: DataFrame) -> DataFrame:
    """Second fact: daily feedback rollup (the reference's
    fact_customer_feedback, init_iceberg_tables.py:426-439) — count,
    exact-ratio mean rating, verified count.  One keyed shuffle."""
    return silver_fb.groupBy(
        F.col("feedback_date").alias("event_date")
    ).agg(
        F.count(F.lit(1)).alias("n_feedback"),
        # SUM(int)/COUNT is exact-int division to double — bit-identical
        # cross-engine, unlike a native AVG over doubles
        (F.sum("rating").cast("double") / F.count(F.lit(1))).alias("avg_rating"),
        F.sum(F.when(F.col("verified_purchase"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_verified"),
    )


def gold_dim_type_stats(silver: DataFrame) -> DataFrame:
    """Per-event_type stats dim (the reference's current_pricing lookup,
    update_ml_features.py:86-95): overall mean value + user reach."""
    return silver.groupBy("event_type").agg(
        (
            F.sum(F.col("value").cast("decimal(30,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_value_type"),
        F.countDistinct("user_id").alias("n_users_type"),
    )


def gold_seasonality(fact: DataFrame, calendar: DataFrame) -> DataFrame:
    """Seasonality index per event_type (update_ml_features.py:121-131:
    in-season mean over overall mean, NULL when the type never trades in
    season — here season = weekend): all sums/counts are exact integers,
    so the two-division ratio is bit-identical cross-engine."""
    j = fact.join(
        F.broadcast(calendar.select("event_date", "is_weekend")), "event_date"
    )
    wk_sum = F.sum(F.when(F.col("is_weekend"), F.col("n_events"))).cast("double")
    wk_cnt = F.sum(F.when(F.col("is_weekend"), F.lit(1)))
    tot_sum = F.sum("n_events").cast("double")
    tot_cnt = F.count(F.lit(1))
    return j.groupBy("event_type").agg(
        ((wk_sum / wk_cnt) / (tot_sum / tot_cnt)).alias("seasonality_index")
    )


def gold_dim_user_scd2(
    silver: DataFrame, split_date: str = "2024-01-16"
) -> DataFrame:
    """SCD2 user dimension: the pre-``split_date`` activity profile is the
    current dimension (initial load), the full-range profile is the staged
    batch, and :func:`scd2_apply` re-versions users whose lifetime-value
    decile band moved (reference silver_to_gold.py:130-165 dim_store SCD2,
    over the engine's user entity; the banded attribute mirrors the
    reference's thresholded price SCD2, :205-231 — sub-band drift must NOT
    re-version).  New users insert, unchanged users pass through, changed
    users close + re-open with the lazy in-plan key base.
    """
    from bakery_big_data_spark.operators.mutation import scd2_apply

    def profile(df: DataFrame) -> DataFrame:
        # exact-int band: decimal mean floored to a decile — deterministic
        # across engines and partitionings, unlike a raw double mean
        return df.groupBy("user_id").agg(
            F.floor(
                F.sum(F.col("value").cast("decimal(30,6)"))
                / F.count(F.lit(1))
                / 10
            )
            .cast("int")
            .alias("value_band"),
            F.min("event_date").alias("first_seen_date"),
        )

    current = profile(
        silver.filter(F.col("event_date") < F.lit(split_date).cast("date"))
    ).select(
        F.col("user_id").cast("bigint").alias("surrogate_key"),
        "user_id",
        "value_band",
        "first_seen_date",
        F.lit("2024-01-01").cast("date").alias("start_date"),
        F.lit(None).cast("date").alias("end_date"),
        F.lit(True).alias("is_current"),
    )
    staged = profile(silver)
    return scd2_apply(
        current,
        staged,
        business_key="user_id",
        # first_seen_date is monotone-stable (later events never lower a
        # min), so tracking it adds no spurious re-versions; drift comes
        # from the value band only
        tracked=["value_band", "first_seen_date"],
        effective_date=split_date,
        key_base=None,
    )


def gold_dim_promotions(silver: DataFrame) -> DataFrame:
    """Promotions dim with VALIDITY RANGES (reference fact_promotions,
    init_iceberg_tables.py:410-425): one campaign per event_type, active
    for a 10-day window staggered by the type's alphabetical ordinal —
    deterministic, so the oracle derives the identical ranges."""
    w = Window.orderBy("event_type")
    return (
        silver.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.concat(F.lit("camp_"), F.col("event_type")).alias(
                "marketing_campaign"
            ),
            (F.row_number().over(w) - 1).alias("_ord"),
        )
        .select(
            "event_type",
            "marketing_campaign",
            F.date_add(F.lit("2024-01-01").cast("date"), F.col("_ord") * 5).alias(
                "start_date"
            ),
            F.date_add(
                F.lit("2024-01-01").cast("date"), F.col("_ord") * 5 + 9
            ).alias("end_date"),
        )
    )


def ml_features_wide(
    fact: DataFrame,
    calendar: DataFrame,
    fb_fact: DataFrame,
    season: DataFrame,
    type_stats: DataFrame,
    promotions: DataFrame | None = None,
) -> DataFrame:
    """Reference-width feature build (update_ml_features.py:134-139: the
    6-way chain base ⟕ trend ⟕ inventory ⟕ pricing ⟕ promotions ⟕
    seasonality): the daily fact is enriched with rolling trend (window,
    the sales_trend leg), calendar attributes, the feedback fact
    (promotions leg), per-type seasonality, and per-type stats (pricing
    leg).  Every non-fact side is a broadcast left join — the fact keeps
    its partitioning end to end, so at 100 TB this is one window shuffle
    plus map-side joins.  When ``promotions`` is given, the reference's
    active_promotions leg joins on a VALIDITY RANGE
    (update_ml_features.py:100-108: ``date BETWEEN start AND end``, active
    flag coalesced to false) — on a broadcast join the range predicate is
    a map-side post-filter on the type-equality condition."""
    w8 = (
        Window.partitionBy("event_type").orderBy("event_date").rowsBetween(-7, 0)
    )
    rolled = fact.select(
        "event_date",
        "event_type",
        "n_events",
        "total_value",
        (
            F.sum(F.col("total_value").cast("decimal(30,6)")).over(w8).cast("double")
            / F.count(F.lit(1)).over(w8)
        ).alias("value_trend_8d"),
    )
    out = (
        rolled.join(
            F.broadcast(
                calendar.select("event_date", "is_weekend", "weekday_name")
            ),
            "event_date",
            "left",
        )
        .join(F.broadcast(fb_fact), "event_date", "left")
        .join(F.broadcast(season), "event_type", "left")
        .join(F.broadcast(type_stats), "event_type", "left")
    )
    cols = [
        "event_date",
        "event_type",
        "n_events",
        "total_value",
        "value_trend_8d",
        "is_weekend",
        "weekday_name",
        "n_feedback",
        "avg_rating",
        "n_verified",
        "seasonality_index",
        "avg_value_type",
        "n_users_type",
    ]
    if promotions is None:
        return out.select(*cols)
    p = promotions.select(
        F.col("event_type").alias("_p_type"),
        "marketing_campaign",
        "start_date",
        "end_date",
    )
    return out.join(
        F.broadcast(p),
        (F.col("event_type") == F.col("_p_type"))
        & F.col("event_date").between(F.col("start_date"), F.col("end_date")),
        "left",
    ).select(
        *cols,
        F.col("_p_type").isNotNull().alias("promotion_active"),
        "marketing_campaign",
    )


def gold_fact_user_daily(silver: DataFrame) -> DataFrame:
    """Third fact: per-(user, day) activity rollup (the reference's
    fact_equipment_performance shape, init_iceberg_tables.py:440-462 —
    entity × day utilization metrics).  One keyed shuffle."""
    return silver.groupBy("event_date", "user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(30,6)"))
        .cast("double")
        .alias("total_value"),
        F.countDistinct("event_type").alias("n_types"),
    )


def ml_user_features(user_fact: DataFrame) -> DataFrame:
    """Third feature table: per-user rolling activity + burst flag (the
    reference's equipment_maintenance_features pattern,
    init_iceberg_tables.py:491-510 / update_ml_features.py rolling
    health metrics): 7-row trailing mean of daily event counts and a
    burst flag when a day runs ≥2× its trailing mean.  The trailing mean
    is a ratio of exact integers, so the flag is engine-exact even at the
    threshold boundary."""
    w7 = Window.partitionBy("user_id").orderBy("event_date").rowsBetween(-6, 0)
    trailing = (
        F.sum("n_events").over(w7).cast("double") / F.count(F.lit(1)).over(w7)
    )
    return user_fact.select(
        "event_date",
        "user_id",
        "n_events",
        "total_value",
        "n_types",
        trailing.alias("events_trend_7d"),
        (F.col("n_events").cast("double") >= 2 * trailing).alias("is_burst"),
    )


def ml_features_daily(fact: DataFrame, calendar: DataFrame) -> DataFrame:
    """Rolling features (update_ml_features.py:66-77): 8-row trailing mean
    per event_type + calendar attributes via broadcast left join."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_date")
        .rowsBetween(-7, 0)
    )
    rolled = fact.select(
        "event_date",
        "event_type",
        "n_events",
        "total_value",
        # decimal-exact frame sum (plans/base.py convention): frame AVG of
        # doubles is summation-order-sensitive across engines
        (
            F.sum(F.col("total_value").cast("decimal(30,6)")).over(w).cast("double")
            / F.count(F.lit(1)).over(w)
        ).alias("value_trend_8d"),
        F.sum("n_events").over(
            Window.partitionBy("event_type")
            .orderBy("event_date")
            .rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cumulative_events"),
    )
    return rolled.join(F.broadcast(calendar), "event_date", "left").select(
        "event_date",
        "event_type",
        "n_events",
        "total_value",
        "value_trend_8d",
        "cumulative_events",
        "is_weekend",
        "weekday_name",
    )


def run_medallion(
    spark: SparkSession, sf_dir: str, base_path: str
) -> dict[str, DataFrame]:
    """Commit all layers as date-partitioned parquet (idempotent re-runs via
    dynamic partition overwrite); returns the layer frames re-read from
    their committed locations."""
    bronze = bronze_events(spark, sf_dir).withColumn(
        "event_date", F.to_date("ts")
    )
    overwrite_partitions(bronze, f"{base_path}/bronze_events", ["event_date"])
    bronze_r = read_parquet(spark, f"{base_path}/bronze_events")

    silver = silver_events(bronze_r.drop("event_date"))
    overwrite_partitions(silver, f"{base_path}/silver_events", ["event_date"])
    silver_r = read_parquet(spark, f"{base_path}/silver_events")

    fb_silver = silver_feedback(bronze_feedback(spark, sf_dir))
    overwrite_partitions(
        fb_silver.withColumn("event_date", F.col("feedback_date")),
        f"{base_path}/silver_feedback",
        ["event_date"],
    )
    fb_silver_r = read_parquet(spark, f"{base_path}/silver_feedback").drop(
        "event_date"
    )

    cal = gold_dim_calendar(silver_r)
    cal.write.mode("overwrite").parquet(f"{base_path}/gold_dim_calendar")
    users = gold_dim_user(silver_r)
    users.write.mode("overwrite").parquet(f"{base_path}/gold_dim_user")
    users_scd2 = gold_dim_user_scd2(silver_r)
    users_scd2.write.mode("overwrite").parquet(f"{base_path}/gold_dim_user_scd2")
    fact = gold_fact_daily(silver_r)
    overwrite_partitions(fact, f"{base_path}/gold_fact_daily", ["event_date"])

    cal_r = read_parquet(spark, f"{base_path}/gold_dim_calendar")
    fact_r = read_parquet(spark, f"{base_path}/gold_fact_daily")

    fb_fact = gold_fact_feedback_daily(fb_silver_r)
    overwrite_partitions(
        fb_fact, f"{base_path}/gold_fact_feedback_daily", ["event_date"]
    )
    fb_fact_r = read_parquet(spark, f"{base_path}/gold_fact_feedback_daily")

    type_stats = gold_dim_type_stats(silver_r)
    type_stats.write.mode("overwrite").parquet(f"{base_path}/gold_dim_type_stats")
    season = gold_seasonality(fact_r, cal_r)
    season.write.mode("overwrite").parquet(f"{base_path}/gold_seasonality")
    promos = gold_dim_promotions(silver_r)
    promos.write.mode("overwrite").parquet(f"{base_path}/gold_dim_promotions")

    feats = ml_features_daily(fact_r, cal_r)
    overwrite_partitions(feats, f"{base_path}/ml_features_daily", ["event_date"])
    wide = ml_features_wide(
        fact_r,
        cal_r,
        fb_fact_r,
        read_parquet(spark, f"{base_path}/gold_seasonality"),
        read_parquet(spark, f"{base_path}/gold_dim_type_stats"),
        read_parquet(spark, f"{base_path}/gold_dim_promotions"),
    )
    overwrite_partitions(wide, f"{base_path}/ml_features_wide", ["event_date"])

    user_fact = gold_fact_user_daily(silver_r)
    overwrite_partitions(
        user_fact, f"{base_path}/gold_fact_user_daily", ["event_date"]
    )
    user_feats = ml_user_features(
        read_parquet(spark, f"{base_path}/gold_fact_user_daily")
    )
    overwrite_partitions(
        user_feats, f"{base_path}/ml_user_features", ["event_date"]
    )

    return {
        "bronze": bronze_r,
        "silver": silver_r,
        "silver_feedback": fb_silver_r,
        "dim_calendar": cal_r,
        "dim_user": read_parquet(spark, f"{base_path}/gold_dim_user"),
        "dim_user_scd2": read_parquet(spark, f"{base_path}/gold_dim_user_scd2"),
        "dim_type_stats": read_parquet(spark, f"{base_path}/gold_dim_type_stats"),
        "dim_promotions": read_parquet(spark, f"{base_path}/gold_dim_promotions"),
        "seasonality": read_parquet(spark, f"{base_path}/gold_seasonality"),
        "fact_daily": fact_r,
        "fact_feedback_daily": fb_fact_r,
        "ml_features": read_parquet(spark, f"{base_path}/ml_features_daily"),
        "ml_features_wide": read_parquet(spark, f"{base_path}/ml_features_wide"),
        "fact_user_daily": read_parquet(spark, f"{base_path}/gold_fact_user_daily"),
        "ml_user_features": read_parquet(spark, f"{base_path}/ml_user_features"),
    }


def run_medallion_incremental(
    spark: SparkSession,
    sf_dir: str,
    base_path: str,
    n_chunks: int = 4,
    arrival_plan: str = "ordered",
) -> dict[str, DataFrame]:
    """The 100 TB DAILY pattern: process only the NEW day-chunk, never the
    history — the semantics the reference gets from its 2-hourly Airflow
    batch (``orchestration/bakery_batch_etl.py:25`` schedule) driving
    Iceberg ``MERGE INTO`` jobs (``processing/jobs/bronze_to_silver.py:79``
    / ``:152``), re-expressed on parquet with partition overwrite +
    snapshot-manifest state.  ``run_medallion`` recomputes all layers from
    scratch; this runner replays the same corpus as ``n_chunks``
    chronological arrivals and maintains every table incrementally:

    - **silver / silver_feedback Δ** — the map-only transforms run on the
      new chunk's rows only; dynamic partition overwrite commits just the
      new day partitions.
    - **facts Δ** — every fact row depends only on its own day, so the
      chunk's facts are computed from the lazy Δ silver alone (never from
      the just-written silver table) and land as day-partition overwrites
      (re-running a day stays idempotent).
    - **dim state via Δ-aggregation** — one auxiliary state table at
      ``(event_type, user_id)`` grain (counts, decimal value sums, date
      bounds) is merged per chunk: ``old ∪ Δ → re-aggregate``.  Sums, counts,
      mins and maxes are associative, so the merged state equals the
      full-history aggregate EXACTLY (decimal sums — no float drift);
      ``dim_user`` and ``dim_type_stats`` (including its COUNT(DISTINCT
      user_id), the classic non-associative aggregate) are then derived
      from state, never from a history rescan.  Committed through the
      snapshot manifest (atomic swap, time-travelable); in production the
      rewrite becomes a key-bucketed MERGE, but the maintained quantity is
      identical.
    - **SCD2 on changed keys** — each chunk stages profiles ONLY for users
      touched in the chunk (derived from the merged state, so the band
      reflects full history) and runs :func:`scd2_apply`; untouched users'
      versions pass through.  Chunked arrival legitimately records MORE
      version history than the one-shot run, so the cross-run invariant is
      the OPEN snapshot: every user's ``is_current`` (band, first_seen)
      must equal the full run's staged profile.

    Each arrival commits in two waves (see :func:`apply_medallion_arrival`):
    the silver, fact and state commits at once — no wave-1 commit reads
    another's output — then the SCD2 commit that reads the merged state;
    :func:`derive_medallion_dims` commits its two dims as one more wave.

    The per-chunk driver work is one bounded ``collect`` of distinct DATES
    (calendar metadata, O(days), never data rows).  Parity with the
    from-scratch run is hash-certified by ``medallion_incremental_parity``.

    ``arrival_plan`` (real ingest is not chronological): ``"ordered"`` —
    contiguous day ranges, ascending; ``"shuffled"`` — same ranges,
    deterministically permuted arrival order; ``"interleaved"`` — chunk
    ``ci`` holds every ``n_chunks``-th day (date ranges maximally
    overlap), delivered shuffled.  Silver/fact day-partition overwrites
    and the associative (event_type, user_id) state merge are
    order-independent; the SCD2 OPEN snapshot is too, because the last
    arrival touching a user sees that user's complete state (a chunk
    contributes to a user's state iff it touches the user) — version
    HISTORY legitimately differs, which is exactly why the certified
    invariant is the open snapshot
    (tests/test_pipeline.py::test_medallion_incremental_out_of_order).
    """
    from bakery_big_data_spark.pipeline.curation import _arrival_order

    bronze_all = bronze_events(spark, sf_dir)
    dates = sorted(
        r[0]
        for r in bronze_all.select(F.to_date("ts").alias("d")).distinct().collect()
    )

    order = (
        list(range(n_chunks))
        if arrival_plan == "ordered"
        else _arrival_order(n_chunks)
    )
    for seq, ci in enumerate(order):
        if arrival_plan == "interleaved":
            chunk = dates[ci::n_chunks]
        else:
            chunk = dates[
                ci * len(dates) // n_chunks : (ci + 1) * len(dates) // n_chunks
            ]
        if not chunk:
            continue
        bronze_d = bronze_all.filter(F.to_date("ts").isin(chunk))
        apply_medallion_arrival(
            spark, sf_dir, base_path, bronze_d, seq, chunk[0], chunk[-1],
            chunk_dates=chunk,
        )

    return derive_medallion_dims(spark, base_path)


def apply_medallion_arrival(
    spark: SparkSession,
    sf_dir: str,
    base_path: str,
    bronze_d: DataFrame,
    arrival_id: int,
    lo,
    hi,
    chunk_dates: list | None = None,
) -> None:
    """Maintain every medallion table for ONE arrival of bronze rows
    covering the date range ``[lo, hi]`` — the shared chunk body of
    :func:`run_medallion_incremental` (batch-chunked replay) and
    :func:`run_medallion_stream_fed` (foreachBatch micro-batches driving
    the same maintenance).  Each DAY must belong to exactly one arrival,
    but arrival order is free (the open-snapshot SCD2 invariant and the
    associative state merge are order-independent — see the runner
    docstring); ``arrival_id`` must be the monotone arrival-sequence
    position.  ``chunk_dates`` lists the arrival's exact days when they
    are NOT the contiguous range [lo, hi] (the interleaved plan); the
    silver deltas are filtered to the arrival's own days, so rows of
    previously-landed days inside [lo, hi] can never be merged into the
    state twice.

    The arrival commits in two waves (:func:`commit_concurrently`):

    1. ``silver_events``, ``silver_feedback``, the three day-partitioned
       facts and the ``type_user_state`` merge, all at once.  No wave-1
       commit reads another's output: the facts and the state delta are
       built from the lazy silver delta, never from the just-written
       ``silver_events``;
    2. the SCD2 commit, which reads the state wave 1 committed.

    Each stateful table carries its own applied-id guard inside its
    snapshot commit, so replaying an arrival (crash recovery, checkpoint
    re-delivery) is exactly-once; a wave returns only after all its
    commits finished, so a failed arrival leaves no write running.
    """
    from bakery_big_data_spark.operators.mutation import scd2_apply
    from bakery_big_data_spark.sources.snapshots import (
        last_commit_meta,
        read_snapshot,
        table_exists,
        write_snapshot,
    )

    state_path = f"{base_path}/type_user_state"
    scd2_path = f"{base_path}/gold_dim_user_scd2"
    ci = arrival_id

    day_filter = (
        (lambda c: c.isin(chunk_dates))
        if chunk_dates is not None
        else (lambda c: c.between(lo, hi))
    )
    silver_d = silver_events(bronze_d).filter(day_filter(F.col("event_date")))
    fb_d = silver_feedback(bronze_feedback(spark, sf_dir)).filter(
        day_filter(F.col("feedback_date"))
    )

    def days_of(table: str, build):
        # the frame is built inside the commit's own thread
        return lambda: overwrite_partitions(
            build(), f"{base_path}/{table}", ["event_date"]
        )

    def commit_state() -> None:
        # Exactly-once state maintenance under retries: the applied chunk
        # id rides INSIDE each snapshot commit (same transactional pattern
        # as the streaming versioned-rollup sink), so re-running a chunk
        # after a crash never merges its delta twice.  The partition
        # overwrites are naturally idempotent; each stateful table
        # carries its OWN guard, so a crash between the state commit and
        # the SCD2 commit replays only the missing one.
        applied = last_commit_meta(state_path)
        if applied is not None and applied.get("chunk", -1) >= ci:
            return
        delta_state = silver_d.groupBy("event_type", "user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,6)"))
            .cast("decimal(38,6)")
            .alias("value_sum"),
            F.min("event_date").alias("min_date"),
            F.max("event_date").alias("max_date"),
        )
        if table_exists(state_path):
            prev = read_snapshot(spark, state_path).withColumn(
                "value_sum", F.col("value_sum").cast("decimal(38,6)")
            )
            merged = (
                prev.unionByName(delta_state)
                .groupBy("event_type", "user_id")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("value_sum")
                    .cast("decimal(38,6)")
                    .alias("value_sum"),
                    F.min("min_date").alias("min_date"),
                    F.max("max_date").alias("max_date"),
                )
            )
        else:
            merged = delta_state
        write_snapshot(merged, state_path, meta={"chunk": ci})

    commit_concurrently(
        spark,
        [
            days_of("silver_events", lambda: silver_d),
            days_of(
                "silver_feedback",
                lambda: fb_d.withColumn("event_date", F.col("feedback_date")),
            ),
            days_of("gold_fact_daily", lambda: gold_fact_daily(silver_d)),
            days_of(
                "gold_fact_feedback_daily", lambda: gold_fact_feedback_daily(fb_d)
            ),
            days_of("gold_fact_user_daily", lambda: gold_fact_user_daily(silver_d)),
            commit_state,
        ],
    )

    # SCD2: staged profiles come from merged state (full-history band),
    # restricted to the chunk's touched users — changed keys only.
    applied = last_commit_meta(scd2_path)
    if applied is not None and applied.get("chunk", -1) >= ci:
        return
    state = read_snapshot(spark, state_path)
    profile = state.groupBy("user_id").agg(
        F.floor(F.sum("value_sum") / F.sum("n_events") / 10)
        .cast("int")
        .alias("value_band"),
        F.min("min_date").alias("first_seen_date"),
    )
    staged = profile.join(silver_d.select("user_id").distinct(), "user_id")
    if not table_exists(scd2_path):
        current = staged.select(
            F.col("user_id").cast("bigint").alias("surrogate_key"),
            "user_id",
            "value_band",
            "first_seen_date",
            F.lit("2024-01-01").cast("date").alias("start_date"),
            F.lit(None).cast("date").alias("end_date"),
            F.lit(True).alias("is_current"),
        )
    else:
        current = scd2_apply(
            read_snapshot(spark, scd2_path),
            staged,
            business_key="user_id",
            tracked=["value_band", "first_seen_date"],
            effective_date=str(lo),
            key_base=None,
        )
    write_snapshot(current, scd2_path, meta={"chunk": ci})


def derive_medallion_dims(
    spark: SparkSession, base_path: str
) -> dict[str, DataFrame]:
    """Derive the state-backed dims and return the maintained-table map —
    the shared tail of both incremental runners.  The two dims read only
    the committed state, so they commit as one wave."""
    from bakery_big_data_spark.sources.snapshots import read_snapshot

    state_path = f"{base_path}/type_user_state"
    scd2_path = f"{base_path}/gold_dim_user_scd2"

    # dims derived from maintained state — no history rescan
    state = read_snapshot(spark, state_path)
    dim_user = state.groupBy("user_id").agg(
        F.min("min_date").alias("first_seen_date"),
        F.max("max_date").alias("last_seen_date"),
        F.count(F.lit(1)).alias("n_event_types"),
    )
    type_stats = state.groupBy("event_type").agg(
        (F.sum("value_sum").cast("double") / F.sum("n_events")).alias(
            "avg_value_type"
        ),
        F.count(F.lit(1)).alias("n_users_type"),
    )
    # both dims read only the committed state: one wave
    commit_concurrently(
        spark,
        [
            lambda: dim_user.write.mode("overwrite").parquet(
                f"{base_path}/gold_dim_user"
            ),
            lambda: type_stats.write.mode("overwrite").parquet(
                f"{base_path}/gold_dim_type_stats"
            ),
        ],
    )

    return {
        "silver": read_parquet(spark, f"{base_path}/silver_events"),
        "silver_feedback": read_parquet(spark, f"{base_path}/silver_feedback"),
        "fact_daily": read_parquet(spark, f"{base_path}/gold_fact_daily"),
        "fact_feedback_daily": read_parquet(
            spark, f"{base_path}/gold_fact_feedback_daily"
        ),
        "fact_user_daily": read_parquet(
            spark, f"{base_path}/gold_fact_user_daily"
        ),
        "dim_user": read_parquet(spark, f"{base_path}/gold_dim_user"),
        "dim_type_stats": read_parquet(
            spark, f"{base_path}/gold_dim_type_stats"
        ),
        "dim_user_scd2": read_snapshot(spark, scd2_path),
    }


def run_medallion_stream_fed(
    spark: SparkSession, sf_dir: str, base_path: str, n_chunks: int = 4
) -> dict[str, DataFrame]:
    """The reference's REAL topology — stream→bronze, incremental→gold —
    composed end to end: ``stream_to_bronze.py`` lands micro-batches,
    ``bakery_batch_etl.py`` schedules the batch maintenance; here ONE
    Structured Streaming query does both, with each ``foreachBatch``
    micro-batch driving :func:`apply_medallion_arrival` (the same chunk
    body the batch-chunked :func:`run_medallion_incremental` uses).

    Mechanics: the raw events are replayed as ``n_chunks`` chronological
    JSON-lines files (one per day-range, strictly increasing mtimes so the
    file source delivers them in order); ``maxFilesPerTrigger=1`` makes
    each micro-batch exactly one chronological arrival.  The handler
    re-derives bronze from the decoded rows (:func:`bronze_from_raw` —
    identical to the batch reader), takes the arrival's date bounds (a
    bounded 1-row collect, the same class as the runner's date discovery),
    and applies the full maintenance: silver/fact dynamic partition
    overwrites + Δ-merged state + SCD2, all guarded by the micro-batch id
    INSIDE each snapshot commit — checkpoint re-delivery after a crash
    replays the arrival exactly-once (partition overwrites idempotent,
    state merges skipped by the applied-id guard).

    ``streaming_incremental_gold_parity`` hash-certifies the result
    against the SAME from-scratch DuckDB oracle as the batch-chunked
    parity row: stream-fed incremental == full batch run.

    100 TB: this is dedup-at-the-well for pipeline cost — continuous
    ingest maintains the gold layer at Δ cost per micro-batch, and the
    maintenance work is the micro-batch's day partitions + O(touched
    keys), never a history rescan.
    """
    import os
    import shutil

    from bakery_big_data_spark.streaming.ingest import (
        JSON_OPTIONS,
        read_json_stream,
    )

    src = f"{base_path}/stream_src"
    ckpt = f"{base_path}/ckpt"
    raw = load_table(spark, sf_dir, "events")
    dates = sorted(
        r[0]
        for r in raw.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    if not os.path.exists(f"{src}/_done"):
        shutil.rmtree(src, ignore_errors=True)
        os.makedirs(src, exist_ok=True)
        stamp = 1_600_000_000  # strictly increasing mtimes => file order
        for ci in range(n_chunks):
            chunk = dates[
                ci * len(dates) // n_chunks : (ci + 1) * len(dates) // n_chunks
            ]
            if not chunk:
                continue
            part = raw.filter(F.to_date("ts").between(chunk[0], chunk[-1]))
            tmp = f"{src}/_tmp{ci}"
            part.select(
                F.to_json(F.struct(*part.columns), JSON_OPTIONS).alias("value")
            ).coalesce(1).write.mode("overwrite").text(tmp)
            pf = next(
                f for f in os.listdir(tmp)
                if f.startswith("part-") and f.endswith(".txt")
            )
            dst = f"{src}/{ci:03d}.json"
            os.replace(f"{tmp}/{pf}", dst)
            shutil.rmtree(tmp)
            os.utime(dst, (stamp + ci, stamp + ci))
        with open(f"{src}/_done", "w") as fh:
            fh.write("ok")
        os.utime(f"{src}/_done", (stamp - 10, stamp - 10))

    stream = read_json_stream(spark, src, max_files_per_trigger=1)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        bronze_d = bronze_from_raw(batch_df)
        bounds = bronze_d.agg(
            F.min(F.to_date("ts")).alias("lo"),
            F.max(F.to_date("ts")).alias("hi"),
        ).collect()[0]
        if bounds["lo"] is None:
            return  # empty micro-batch
        apply_medallion_arrival(
            spark, sf_dir, base_path, bronze_d, int(batch_id),
            bounds["lo"], bounds["hi"],
        )

    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .queryName("medallion_stream_fed")
        .start()
    )
    q.awaitTermination()
    return derive_medallion_dims(spark, base_path)
