"""SparkSession construction and session-level defaults.

The reference ships its session config in ``processing/config/spark-defaults.conf``
(AQE + coalescePartitions + skewJoin enabled, Kryo serializer) and forces UTC via
``-Duser.timezone=UTC`` (reference makefile:139-140).  We adopt the same
semantics-affecting defaults; infra-only knobs (S3A tuning, Iceberg catalog)
are out of scope for the parquet-backed test harness.

Generated code compiles once per session.  Whole-stage codegen compiles
one Java class per distinct stage, keyed by the generated source: the plan
shape and its inlined literals, never the input path.  Spark keeps those
classes in an LRU of ``spark.sql.codegen.cache.maxEntries`` entries, 100 by
default (split over 4 Guava segments, so about 25 each).  The engine's
working sets are larger.  Measured distinct classes, 4 cores:

- one perfbench run: about 230 on ``serving_mix``, 205 on
  ``medallion_incremental`` and 106 on ``curation_fresh``;
- one ``bench.py`` catalog sweep at sf0.1: 2949.

At 100 entries the LRU thrashes: a timed ``serving_mix`` round compiled 216
classes where 4 are new to it (its warm-up ran the same queries), a
``medallion_incremental`` cycle compiled 253 where 54 are new, and an sf0.01
``bench.py`` sweep, two runs per query, compiled 5840 where 2974 are
distinct.  ``CODEGEN_CACHE_ENTRIES`` holds a
whole sweep, with room for each segment's share to vary, so a session that
serves the catalog again compiles nothing.  That cost 11 MB of metaspace
after the sf0.01 sweep: 225 MB at 100 entries, 236 MB at 4096.

The conf is static: Spark reads it once per JVM, when the codegen cache is
first used, so ``get_spark`` sets it on the builder and ``tune`` cannot.  A
session someone else built, such as the test driver's, keeps Spark's
default.

Plans build without call-site capture.  With
``spark.python.sql.dataFrameDebugging.enabled`` on (Spark's default), every
``functions.*`` and ``Column`` call looks up the active session, reads
``spark.sql.stackTracesInDataFrameContext``, captures the Python call stack
and sets, then clears, ``PySparkCurrentOrigin`` in the JVM: several py4j
round trips per expression.  Turning it off cut a warm build of the 22
``serving_mix`` queries from about 12.5k py4j round trips to about 5k
(sf0.01, 4 cores).  ``get_spark`` turns it off (``DATAFRAME_DEBUGGING``).

The trade: an error raised by a DataFrame expression, such as an ANSI
divide-by-zero, no longer names the Python line that built the
expression.  PySpark reads the setting once per process, from the session
active at the first wrapped call, and caches it, so setting it on a
running session does nothing.  To get call sites back while debugging,
start a fresh process and build the session yourself, not through
``get_spark``, with the conf set to ``true`` before any DataFrame call;
the catalog's queries only ``tune`` the session they are handed::

    spark = SparkSession.builder.config(
        "spark.python.sql.dataFrameDebugging.enabled", "true"
    ).getOrCreate()
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime-settable confs applied to *any* session we are handed (the test
#: driver builds its own SparkSession); only semantics-affecting, idempotent.
RUNTIME_CONF = {
    # Deterministic date/timestamp bucketing (reference runs everything UTC).
    "spark.sql.session.timeZone": "UTC",
    # AQE on, as in the reference spark-defaults.conf:17-19.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # The driver's events.parquet carries TIMESTAMP(NANOS), which vanilla
    # Spark rejects (PARQUET_TYPE_ILLEGAL); read nanos as long and let the
    # loader truncate to micros (sources/tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

#: Entries of Spark's generated-class cache (``spark.sql.codegen.cache.maxEntries``);
#: sized above the largest working set measured, see the module docstring.
CODEGEN_CACHE_ENTRIES = 4096

#: ``spark.python.sql.dataFrameDebugging.enabled``: off, so building a plan
#: captures no Python call sites (see the module docstring).
DATAFRAME_DEBUGGING = "false"


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime defaults to an existing session (idempotent, cheap).

    Query builders call this so results are deterministic regardless of who
    constructed the session.
    """
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Non-runtime-settable on this build — leave the session's value.
            pass
    return spark


def get_spark(app_name: str = "bakery-big-data-spark") -> SparkSession:
    """Build (or fetch) a local session sized for the test environment.

    local[$SPARK_GRAFT_CPUS] with a shuffle-partition count matched to the
    core count — at 100 TB scale the same code runs with cluster-appropriate
    ``spark.sql.shuffle.partitions`` (AQE coalescing makes the exact number
    forgiving).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.sql.dataFrameDebugging.enabled", DATAFRAME_DEBUGGING)
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())
