"""Write-path queries: partition pruning and bucketed co-located joins
(S5/S7/S12 demonstrated through the driver contract).

``partition_pruned_scan`` materializes a date-partitioned copy of ``events``
once per session and events content (in the session store,
sources/store.py), then aggregates one day through the partition filter —
the plan touches exactly one partition directory (asserted via explain in
tests/test_io.py; reference semantics: PARTITIONED BY (date) +
literal-date scans, init_iceberg_tables.py:46 / bronze_to_silver.py:39-43).

``bucketed_colocated_join`` pre-buckets both join sides on the key — the
other half of the 100 TB partitioning story: a fact-fact join too big to
broadcast normally shuffles BOTH sides every run; bucketing pays that
shuffle once at write time, after which every join and every per-key
aggregation on the bucket key plans with ZERO Exchange nodes (asserted in
tests/test_plans.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bakery_big_data_spark.plans.base import register, sql_dsum, t
from bakery_big_data_spark.sources.sinks import write_partitioned
from bakery_big_data_spark.sources.store import materialize, table_files, table_name


def partitioned_events_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize events partitioned by event_date, once per session and
    events content."""

    def build(out: str) -> None:
        ev = t(spark, sf_dir, "events").withColumn(
            "event_date", F.to_date("ts")
        )
        write_partitioned(ev, os.path.join(out, "events_by_date"), ["event_date"])

    out = materialize(
        spark, "partitioned_events", table_files(sf_dir, "events"), build
    )
    return os.path.join(out, "events_by_date")


@register(
    "partition_pruned_scan",
    f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           {sql_dsum('value', 'total_value')}
    FROM events
    WHERE CAST(ts AS DATE) = DATE '2024-01-05'
    GROUP BY event_type
    """,
    doc="S7 partition-predicate pushdown on a real PARTITIONED BY "
        "(event_date) layout: the literal date predicate becomes a "
        "PartitionFilter — one directory scanned regardless of table size "
        "(the property that bounds every batch-ETL scan at 100 TB)",
)
def partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = partitioned_events_path(spark, sf_dir)
    ev = spark.read.parquet(path)
    return (
        ev.filter(F.col("event_date") == F.lit("2024-01-05").cast("date"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,6)"))
            .cast("double")
            .alias("total_value"),
        )
    )


_N_BUCKETS = 8


def bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize orders + customer as bucketed/sorted catalog tables
    (once per session and input content): ``bucketBy(8, custkey)
    .sortBy(custkey)`` on both sides, so they are hash-co-located AND
    pre-sorted on the join key.

    Tables are EXTERNAL (explicit ``path`` in the session store) — bucket
    metadata lives in the session catalog, and each table's name derives
    from its store directory, so a session never reads another session's
    table (``newSession()`` siblings share the catalog, not the store).
    """

    def build(out: str) -> None:
        for table, key in (("orders", "o_custkey"), ("customer", "c_custkey")):
            (
                t(spark, sf_dir, table)
                .write.bucketBy(_N_BUCKETS, key)
                .sortBy(key)
                .mode("overwrite")
                .option("path", os.path.join(out, table))
                .format("parquet")
                .saveAsTable(table_name(f"bkt_{table}", out))
            )

    out = materialize(
        spark, "bucketed", table_files(sf_dir, "orders", "customer"), build
    )
    return table_name("bkt_orders", out), table_name("bkt_customer", out)


@register(
    "bucketed_colocated_join",
    f"""
    SELECT c.c_custkey,
           c.c_mktsegment,
           COUNT(*) AS n_orders,
           {sql_dsum('o.o_totalprice', 'lifetime_value')}
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    WHERE c.c_custkey <= 1000
    GROUP BY c.c_custkey, c.c_mktsegment
    """,
    doc="Bucketed co-located join + co-located aggregation: both sides are "
        "bucketBy(8, custkey).sortBy(custkey) catalog tables, so the "
        "SortMergeJoin needs NO Exchange and NO Sort on either side, and "
        "the per-customer aggregation reuses the same hash distribution — "
        "the whole plan runs with zero shuffles (tests/test_plans.py "
        "asserts no Exchange node).  At 100 TB this converts every "
        "recurring fact-fact join on the bucket key from two full shuffles "
        "per run into a one-time write-side cost",
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o_name, c_name = bucketed_tables(spark, sf_dir)
    o = spark.table(o_name)
    c = spark.table(c_name).filter(F.col("c_custkey") <= 1000)
    joined = c.hint("merge").join(o, c.c_custkey == o.o_custkey)
    return joined.groupBy("c_custkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
        .cast("double")
        .alias("lifetime_value"),
    )


def _csv_roundtrip_table(spark: SparkSession, sf_dir: str) -> str:
    """Write a customer slice as CSV, read it back with an explicit schema
    and CTAS it into a catalog database, once per session and customer
    content; returns the catalog table.  Values are stringified
    deterministically (acctbal pre-cast to DECIMAL(15,2); the generator
    emits exact 2-decimal values at every sf, so the cast is exact) and
    the round trip is certified against the SOURCE table by the oracle —
    headers use dotted names ('cust.key', 'acct.bal') to exercise
    quoted-identifier handling on read.  The database name derives from
    the store directory, so its location is this session's."""
    from pyspark.sql.types import (
        DecimalType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from bakery_big_data_spark.sources.sinks import create_database

    schema = StructType(
        [
            StructField("cust.key", LongType()),
            StructField("segment", StringType()),
            StructField("acct.bal", DecimalType(15, 2)),
        ]
    )

    def build(out: str) -> None:
        csv_dir = os.path.join(out, "customer_sample_csv")
        (
            t(spark, sf_dir, "customer")
            .filter(F.col("c_custkey") <= 2000)
            .select(
                F.col("c_custkey").alias("cust.key"),
                F.col("c_mktsegment").alias("segment"),
                F.col("c_acctbal").cast("decimal(15,2)").alias("acct.bal"),
            )
            .coalesce(1)
            .write.option("header", True)
            .csv(csv_dir)
        )
        csv = spark.read.schema(schema).option("header", True).csv(csv_dir)
        db = table_name("csv_ddl", out)
        create_database(spark, db, os.path.join(out, "db"))
        # a failed earlier attempt may have left the table in the catalog
        spark.sql(f"DROP TABLE IF EXISTS {db}.customer_roundtrip")
        csv.createOrReplaceTempView("_csv_src")
        spark.sql(
            f"CREATE TABLE {db}.customer_roundtrip USING parquet AS "
            "SELECT `cust.key` AS cust_key, segment, `acct.bal` AS acct_bal "
            "FROM _csv_src"
        )

    out = materialize(spark, "csv_ddl", table_files(sf_dir, "customer"), build)
    return f"{table_name('csv_ddl', out)}.customer_roundtrip"


@register(
    "csv_ddl_roundtrip",
    """
    SELECT c_mktsegment AS segment,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(15,2))) AS DOUBLE)
             AS total_balance,
           CAST(MAX(c_custkey) AS BIGINT) AS max_key
    FROM customer
    WHERE c_custkey <= 2000
    GROUP BY c_mktsegment
    """,
    doc="S4+S12+S13 in one driver row: a CSV copy written by the engine "
        "is read back with an EXPLICIT schema (no inference — dotted "
        "headers 'cust.key'/'acct.bal' exercise backtick quoting, decimal "
        "casts keep the text round-trip exact: the generator emits exact "
        "2-decimal acctbal at every sf), CTAS'd into a catalog "
        "database (CREATE DATABASE + CREATE TABLE AS SELECT, reference "
        "init_iceberg_tables.py:29 namespaces / "
        "bakery_csv_etl_pipeline.py:260-262 CTAS), and aggregated from the "
        "catalog table.  The oracle recomputes the aggregate from the "
        "SOURCE customer table, so the hash certifies the whole "
        "write-CSV -> read-CSV -> CTAS -> aggregate round trip end to "
        "end",
)
def csv_ddl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl = _csv_roundtrip_table(spark, sf_dir)
    return spark.table(tbl).groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("acct_bal").cast("double").alias("total_balance"),
        F.max("cust_key").cast("bigint").alias("max_key"),
    )


def _snapshot_table_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize a 2-version snapshot table from events, once per session
    and events content; a build that fails between the two commits leaves
    no entry, so the next call rebuilds both versions."""
    from bakery_big_data_spark.sources.snapshots import write_snapshot

    def build(out: str) -> None:
        path = os.path.join(out, "events")
        base = (
            t(spark, sf_dir, "events")
            .filter(F.col("event_id") < 2000)
            .select("event_id", "value", "event_type")
        )
        write_snapshot(base, path)
        v2 = base.filter(F.col("event_id") % 100 != 0).withColumn(
            "value",
            F.when(F.col("event_id") % 7 == 0, F.col("value") * 2).otherwise(
                F.col("value")
            ),
        )
        write_snapshot(v2, path)

    out = materialize(spark, "snapshot_events", table_files(sf_dir, "events"), build)
    return os.path.join(out, "events")


@register(
    "snapshot_incremental_diff",
    """
    WITH v1 AS (
      SELECT event_id, value, event_type FROM events WHERE event_id < 2000
    ), v2 AS (
      SELECT event_id,
             CASE WHEN event_id % 7 = 0 THEN value * 2 ELSE value END AS value,
             event_type
      FROM events WHERE event_id < 2000 AND event_id % 100 <> 0
    )
    SELECT COALESCE(v1.event_id, v2.event_id) AS event_id,
           CASE WHEN v1.event_id IS NULL THEN 'insert'
                WHEN v2.event_id IS NULL THEN 'delete'
                ELSE 'update' END AS _change,
           COALESCE(v2.value, v1.value) AS value,
           COALESCE(v2.event_type, v1.event_type) AS event_type
    FROM v1 FULL OUTER JOIN v2 ON v1.event_id = v2.event_id
    WHERE v1.event_id IS NULL OR v2.event_id IS NULL
       OR (v1.value IS DISTINCT FROM v2.value
           OR v1.event_type IS DISTINCT FROM v2.event_type)
    """,
    doc="Snapshot time-travel + incremental diff through the versioned "
        "parquet table layer (sources/snapshots.py — the Iceberg snapshot/"
        "changelog capability the reference relies on, rebuilt over plain "
        "parquet with an atomic manifest swap): two real committed versions "
        "are read back and diffed with ONE full-outer join on the key, "
        "emitting row-level insert/update/delete changes.  Diff output is "
        "proportional to the change set; the oracle recomputes both "
        "versions declaratively",
)
def snapshot_incremental_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bakery_big_data_spark.sources.snapshots import snapshot_diff

    path = _snapshot_table_path(spark, sf_dir)
    return snapshot_diff(spark, path, ["event_id"], 1, 2)


@register(
    "incremental_fact_maintenance",
    """
    WITH v2 AS (
      SELECT event_id,
             CASE WHEN event_id % 7 = 0 THEN value * 2 ELSE value END AS value,
             event_type
      FROM events WHERE event_id < 2000 AND event_id % 100 <> 0
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
    FROM v2 GROUP BY event_type
    """,
    doc="Incremental view maintenance: the v2 daily fact is produced from "
        "the v1 fact plus a delta aggregation over ONLY the changed keys "
        "(negate the old images, add the new images, merge into the "
        "existing aggregate) — fact(v2) = fact(v1) ⊕ Δ, never a full v2 "
        "rescan.  The change keys come from the snapshot layer's "
        "row-level diff; SUM/COUNT are self-maintainable so the merge is "
        "one outer join on the group key against a delta frame sized by "
        "the change set.  The oracle recomputes the v2 fact directly, so "
        "the hash check proves the maintenance identity end-to-end.  At "
        "100 TB this is the difference between re-aggregating the table "
        "and touching O(changes)",
)
def incremental_fact_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bakery_big_data_spark.sources.snapshots import read_snapshot, snapshot_diff

    path = _snapshot_table_path(spark, sf_dir)
    v1 = read_snapshot(spark, path, 1)
    v2 = read_snapshot(spark, path, 2)

    def fact(df: DataFrame, sign: int = 1) -> DataFrame:
        return df.groupBy("event_type").agg(
            (F.count(F.lit(1)) * sign).alias("n_events"),
            (
                F.sum(F.col("value").cast("decimal(30,6)")) * sign
            ).alias("total_dec"),
        )

    changed = snapshot_diff(spark, path, ["event_id"], 1, 2).select("event_id")
    # Δ = (− old images of changed keys) ∪ (+ new images of changed keys)
    old_part = fact(v1.join(F.broadcast(changed), "event_id", "left_semi"), -1)
    new_part = fact(v2.join(F.broadcast(changed), "event_id", "left_semi"), 1)
    base = fact(v1, 1)
    merged = (
        base.unionByName(old_part)
        .unionByName(new_part)
        .groupBy("event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("total_dec").cast("double").alias("total_value"),
        )
        .filter(F.col("n_events") > 0)
    )
    return merged


@register(
    "layout_zorder_keys",
    """
    WITH base AS (
      SELECT event_id, user_id, ts,
             user_id & 65535 AS sx,
             CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) & 65535 AS sy
      FROM events WHERE event_id < 2000
    ), s1 AS (
      SELECT event_id, user_id, ts,
             (sx | (sx << 8)) & 16711935 AS ax,
             (sy | (sy << 8)) & 16711935 AS ay
      FROM base
    ), s2 AS (
      SELECT event_id, user_id, ts,
             (ax | (ax << 4)) & 252645135 AS bx,
             (ay | (ay << 4)) & 252645135 AS by
      FROM s1
    ), s3 AS (
      SELECT event_id, user_id, ts,
             (bx | (bx << 2)) & 858993459 AS cx,
             (by | (by << 2)) & 858993459 AS cy
      FROM s2
    ), s4 AS (
      SELECT event_id, user_id, ts,
             (cx | (cx << 1)) & 1431655765 AS dx,
             (cy | (cy << 1)) & 1431655765 AS dy
      FROM s3
    )
    SELECT event_id,
           user_id AS x,
           CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS y,
           CAST(dx | (dy << 1) AS BIGINT) AS zkey,
           CAST((dx | (dy << 1)) >> 16 AS BIGINT) AS ztile
    FROM s4
    """,
    doc="Z-order (Morton) clustering keys for two-dimensional data "
        "skipping: the low 16 bits of (user_id, day-index) interleaved via "
        "magic-mask bit spreading — pure BIGINT shifts/masks, hash-exact on "
        "any engine.  ztile = zkey >> 16 is the coarse Z-curve tile a "
        "range-partitioned writer assigns to one file, giving every file a "
        "bounded rectangle in (user, day) space so scans filtering EITHER "
        "dimension prune on footer min/max stats (Delta OPTIMIZE ZORDER / "
        "Iceberg z-ordered rewrite, re-expressed as repartitionByRange + "
        "sortWithinPartitions in operators/layout.py; the measured file "
        "skipping is asserted in tests/test_io.py)",
)
def layout_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bakery_big_data_spark.operators.layout import morton_key

    ev = t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    day = F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")).cast(
        "bigint"
    )
    keyed = ev.select(
        "event_id",
        F.col("user_id").alias("x"),
        day.alias("y"),
        morton_key(F.col("user_id"), day).cast("bigint").alias("zkey"),
    )
    return keyed.withColumn(
        "ztile", F.shiftright(F.col("zkey"), 16).cast("bigint")
    )


@register(
    "bucket_pruned_point_lookup",
    f"""
    SELECT o_custkey, COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice', 'total_spend')}
    FROM orders WHERE o_custkey = 42 GROUP BY o_custkey
    """,
    doc="Bucket PRUNING on the bucketed orders table — the read-side "
        "payoff completing bucketed_colocated_join's shuffle story: an "
        "equality predicate on the bucket key lets Spark scan 1 of the 8 "
        "buckets (SelectedBucketsCount asserted in tests/test_plans.py), "
        "so a point lookup on a 100 TB fact table touches 1/8 of the "
        "files BEFORE row-group statistics even apply — the poor man's "
        "index every bucketed warehouse table carries for free.  "
        "Composes with the zero-exchange aggregation (same hash "
        "distribution)",
)
def bucket_pruned_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o_name, _ = bucketed_tables(spark, sf_dir)
    o = spark.table(o_name).filter(F.col("o_custkey") == 42)
    return o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
        .cast("double")
        .alias("total_spend"),
    )


def _hilbert_oracle(bits: int = 8) -> str:
    """Unrolled Hilbert xy2d as a CTE chain restating the exact per-level
    integer arithmetic of operators/layout.py::with_hilbert_key."""
    parts = [
        """
    WITH l0 AS (
      SELECT event_id,
             user_id & 255 AS x,
             CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                  AS BIGINT) & 255 AS y,
             user_id & 255 AS hx,
             CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                  AS BIGINT) & 255 AS hy,
             CAST(0 AS BIGINT) AS hd
      FROM events WHERE event_id < 2000
    )"""
    ]
    step = 0
    for level in range(bits - 1, -1, -1):
        s = 1 << level
        prev = f"l{step}"
        step += 1
        parts.append(
            f""", la{step} AS (
      SELECT event_id, x, y, hx, hy, hd,
             CASE WHEN (hx & {s}) > 0 THEN 1 ELSE 0 END AS rx,
             CASE WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END AS ry
      FROM {prev}
    ), l{step} AS (
      SELECT event_id, x, y,
             CASE WHEN ry = 0
                  THEN (CASE WHEN rx = 1 THEN {s - 1} - hy ELSE hy END)
                  ELSE hx END AS hx,
             CASE WHEN ry = 0
                  THEN (CASE WHEN rx = 1 THEN {s - 1} - hx ELSE hx END)
                  ELSE hy END AS hy,
             hd + {s * s} * CAST(xor(3 * rx, ry) AS BIGINT) AS hd
      FROM la{step}
    )"""
        )
    parts.append(
        f"""
    SELECT event_id, x, y, hd AS hkey,
           CAST(hd >> 8 AS BIGINT) AS htile
    FROM l{step}
    """
    )
    return "".join(parts)


@register(
    "layout_hilbert_keys",
    _hilbert_oracle(8),
    doc="Hilbert-curve clustering keys — the locality-preserving sibling "
        "of layout_zorder_keys: consecutive Hilbert indices are ALWAYS "
        "edge-adjacent cells (property-tested as a bijection with unit "
        "steps over the full 256x256 grid), where the Z-curve jumps "
        "across the plane at every power-of-two boundary.  A range-"
        "partitioned writer therefore gives each file a compact blob in "
        "(user, day) space instead of a rectangle union — tighter "
        "footer min/max on BOTH dimensions, fewer false-positive file "
        "reads at 100 TB.  The 8-level reflect+transpose fold runs as "
        "chained bound-column projections (CollapseProject cannot "
        "explode the multiply-referenced state into a 4^8-node tree) "
        "and the oracle restates the identical level chain as CTEs — "
        "integer-only, hash-exact",
)
def layout_hilbert_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bakery_big_data_spark.operators.layout import with_hilbert_key

    ev = t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    day = F.datediff(
        F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
    ).cast("bigint")
    keyed = ev.select(
        "event_id",
        F.col("user_id").bitwiseAND(F.lit(255)).alias("x"),
        day.bitwiseAND(F.lit(255)).alias("y"),
    )
    return with_hilbert_key(keyed, "x", "y", out_col="hkey", bits=8).withColumn(
        "htile", F.shiftright(F.col("hkey"), 8).cast("bigint")
    )


def _orc_copy_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize an ORC copy of an orders slice, once per session and
    orders content.  Unlike the CSV row there is no text stringification:
    ORC is a typed columnar format, so doubles round-trip bit-exactly with
    no decimal staging."""

    def build(out: str) -> None:
        (
            t(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") <= 8000)
            .select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
            .coalesce(1)
            .write.option("compression", "zstd")
            .orc(os.path.join(out, "orders_orc"))
        )

    out = materialize(spark, "orc_roundtrip", table_files(sf_dir, "orders"), build)
    return os.path.join(out, "orders_orc")


@register(
    "orc_source_roundtrip",
    f"""
    SELECT o_orderstatus AS status,
           o_orderpriority AS priority,
           COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice', 'total_price')},
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    WHERE o_orderkey <= 8000
    GROUP BY o_orderstatus, o_orderpriority
    """,
    doc="ORC source/sink round trip — the catalog's third file format "
        "next to parquet and CSV (S4/S5 family breadth; Spark's ORC "
        "reader is native-vectorized with the same predicate-pushdown / "
        "column-pruning surface as parquet): an orders slice is written "
        "to zstd ORC by the engine, read back with an EXPLICIT schema, "
        "and aggregated; the oracle recomputes from the SOURCE parquet, "
        "so the hash certifies the typed write->read round trip end to "
        "end (doubles bit-exact — no text staging); like the CSV row, "
        "the copy lives in the session store (sources/store.py)",
)
def orc_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    path = _orc_copy_path(spark, sf_dir)
    schema = StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_orderstatus", StringType()),
            StructField("o_orderpriority", StringType()),
            StructField("o_totalprice", DoubleType()),
        ]
    )
    orc = spark.read.schema(schema).orc(path)
    return orc.groupBy(
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
        .cast("double")
        .alias("total_price"),
        F.max("o_orderkey").alias("max_key"),
    )
