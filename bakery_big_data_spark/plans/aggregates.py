"""Aggregation queries — SURVEY.md §2.4 (A1–A10) + §2.7 set ops (U1/U2).

Scale notes: every groupBy here is a hash aggregate with map-side partial
combine (decimal sums are combinable); no aggregation pulls rows to the
driver except the deliberate scalar A4 pattern, which returns a 1-row frame
instead of `.collect()` (the reference's anti-pattern, SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bakery_big_data_spark.plans.base import (
    davg,
    dstd,
    dsum,
    dtrunc,
    register,
    sql_davg,
    sql_dstd,
    sql_dsum,
    sql_dtrunc,
    t,
)


@register(
    "daily_revenue_rollup",
    f"""
    SELECT CAST(o_orderdate AS DATE) AS order_date,
           o_orderstatus,
           {sql_dsum('o_totalprice', 'total_revenue')},
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY CAST(o_orderdate AS DATE), o_orderstatus
    """,
    doc="A1/A2 grouped aggregation — daily revenue (reference update_ml_features.py:52-63, "
        "silver_to_gold.py:373-386)",
)
def daily_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_orderdate").cast("date").alias("order_date"), "o_orderstatus")
        .agg(dsum("o_totalprice", "total_revenue"), F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "conditional_pivot_agg",
    f"""
    SELECT l_returnflag,
           {sql_dsum("CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END", 'qty_finished')},
           {sql_dsum("CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END", 'qty_open')},
           CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_discount
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="A3 conditional (pivot-style) aggregation — SUM(CASE WHEN …) "
        "(reference update_ml_features.py:56-58, silver_to_gold.py:380-381)",
)
def conditional_pivot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        dsum(F.when(F.col("l_linestatus") == "F", F.col("l_quantity")).otherwise(0), "qty_finished"),
        dsum(F.when(F.col("l_linestatus") == "O", F.col("l_quantity")).otherwise(0), "qty_open"),
        F.sum(F.when(F.col("l_discount") > 0.05, 1).otherwise(0)).alias("n_high_discount"),
    )


@register(
    "global_scalar_uniqueness",
    """
    SELECT CAST(MAX(o_orderdate) AS DATE) AS max_order_date,
           CAST(MIN(o_orderdate) AS DATE) AS min_order_date,
           COALESCE(MAX(o_orderkey), 0) AS max_key,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS n_days,
           CASE WHEN COUNT(*) = COUNT(DISTINCT o_orderkey) THEN TRUE ELSE FALSE END AS pk_unique
    FROM orders
    """,
    doc="A4+A5 global scalar aggregate: processing-date / surrogate-key-base "
        "discovery (bronze_to_silver.py:292-299, silver_to_gold.py:155,227,268) "
        "+ COUNT/COUNT(DISTINCT) uniqueness probe "
        "(bakery_csv_etl_pipeline.py:121-146) in one 1-row frame, no collect",
)
def global_scalar_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return o.agg(
        F.max(F.col("o_orderdate").cast("date")).alias("max_order_date"),
        F.min(F.col("o_orderdate").cast("date")).alias("min_order_date"),
        F.coalesce(F.max("o_orderkey"), F.lit(0)).alias("max_key"),
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct(F.col("o_orderdate").cast("date")).alias("n_days"),
        (F.count(F.lit(1)) == F.countDistinct("o_orderkey")).alias("pk_unique"),
    )


@register(
    "group_stats_report",
    f"""
    SELECT 'part_type' AS entity,
           p_type AS group_key,
           {sql_dtrunc(sql_davg('p_retailprice', 'x').replace(' AS x', ''), 'avg_band')},
           {sql_dstd('p_retailprice', 'val_stddev')},
           {sql_davg('p_retailprice', 'val_mean')},
           COUNT(*) AS n
    FROM part
    GROUP BY p_type
    UNION ALL
    SELECT 'event_type' AS entity,
           event_type AS group_key,
           {sql_dtrunc(sql_davg('value', 'x').replace(' AS x', ''), 'avg_band')},
           {sql_dstd('value', 'val_stddev')},
           {sql_davg('value', 'val_mean')},
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
    doc="A6+A7+U1 grouped statistics report: AVG with deterministic 2-decimal "
        "banding (silver_to_gold.py:174-186 ROUND(AVG(unit_price),2)) and "
        "exact-sum STDDEV fluctuation (update_ml_features.py:204-212) per "
        "entity, unioned across two fact families — each branch one "
        "map-side-combinable hash agg",
)
def group_stats_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    def stats(df: DataFrame, entity: str, key: str, val: str) -> DataFrame:
        avg_col = F.sum(F.col(val).cast("decimal(30,6)")).cast("double") / F.count(val)
        return df.groupBy(key).agg(
            dtrunc(avg_col, "avg_band"),
            dstd(val, "val_stddev"),
            davg(val, "val_mean"),
            F.count(F.lit(1)).alias("n"),
        ).select(
            F.lit(entity).alias("entity"),
            F.col(key).alias("group_key"),
            "avg_band",
            "val_stddev",
            "val_mean",
            "n",
        )

    return stats(t(spark, sf_dir, "part"), "part_type", "p_type", "p_retailprice").unionAll(
        stats(t(spark, sf_dir, "events"), "event_type", "event_type", "value")
    )


@register(
    "distinct_entities",
    """
    SELECT DISTINCT c_mktsegment, c_nationkey
    FROM customer
    WHERE c_acctbal > 0
    """,
    doc="A8 DISTINCT projection (reference silver_to_gold.py:246-253, "
        "update_ml_features.py:100-108)",
)
def distinct_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    return c.filter(F.col("c_acctbal") > 0).select("c_mktsegment", "c_nationkey").distinct()


@register(
    "seasonality_ratio_of_aggs",
    f"""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN EXTRACT(month FROM l_shipdate) IN (12,1,2)
                         THEN CAST(l_quantity AS DECIMAL(30,6)) END) AS DOUBLE)
             / COUNT(CASE WHEN EXTRACT(month FROM l_shipdate) IN (12,1,2) THEN 1 END)
             / NULLIF({sql_davg('l_quantity', 'x').replace(' AS x', '')}, 0)
             AS winter_index
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="A9 ratio-of-aggregates — seasonality index "
        "(reference update_ml_features.py:122-131)",
)
def seasonality_ratio_of_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    winter = F.month("l_shipdate").isin(12, 1, 2)
    qty_dec = F.col("l_quantity").cast("decimal(30,6)")
    winter_avg = (
        F.sum(F.when(winter, qty_dec)).cast("double")
        / F.count(F.when(winter, F.lit(1)))
    )
    overall_avg = F.sum(qty_dec).cast("double") / F.count("l_quantity")
    return li.groupBy("l_returnflag").agg(
        (winter_avg / F.nullif(overall_avg, F.lit(0.0))).alias("winter_index")
    )


@register(
    "approx_count_distinct_scale",
    """
    SELECT COUNT(DISTINCT user_id) AS exact_users, TRUE AS within_bound
    FROM events
    """,
    doc="Scale-path A5: HyperLogLog distinct count (the DataSketches "
        "hll_sketch_agg at lgConfigK=14) for 100 TB cardinality "
        "estimation, quantitatively certified: the estimate itself is "
        "engine-specific (never hashable), but |approx-exact|/exact <= 5% "
        "at a relative standard error of 1.04/sqrt(2^14) = 0.81% is a "
        ">6-sigma assertion the oracle states as TRUE — the same "
        "derived-metric pattern as the ANN recall row, so the sketch's "
        "accuracy (not just its row shape) is driver-checkable",
)
def approx_count_distinct_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hll_distinct_within_bound(t(spark, sf_dir, "events"))


def hll_distinct_within_bound(ev: DataFrame) -> DataFrame:
    """One row: the exact distinct ``user_id`` count of ``ev`` and whether
    the HLL estimate lands within 5% of it."""
    # Two single-pass aggregates + a 1-row broadcast cross, NOT one mixed
    # aggregate: planning COUNT(DISTINCT) next to another aggregate goes
    # through Expand, whose phase-1 grouping key is (gid, user_id) — so
    # the HLL register buffer would be allocated PER DISTINCT USER in the
    # partial aggregation instead of once per task.  Split, each leg is a
    # plain one-buffer/percolated-distinct pass over the single projected
    # column; the integers are unchanged.  The sketch is DataSketches'
    # compact HLL, not approx_count_distinct(rsd=0.01): HyperLogLog++ at
    # that rsd carries ~2.7k long words of aggregation buffer per task
    # and took 1.3-1.7 s per warm call at perfbench's serving scale on 4
    # cores, against 0.15-0.21 s here.
    approx = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", 14)).alias("_approx")
    )
    exact = ev.agg(F.countDistinct("user_id").alias("exact_users"))
    return exact.crossJoin(F.broadcast(approx)).select(
        "exact_users",
        (
            F.abs(F.col("_approx") - F.col("exact_users"))
            / F.col("exact_users").cast("double")
            <= 0.05
        ).alias("within_bound"),
    )
