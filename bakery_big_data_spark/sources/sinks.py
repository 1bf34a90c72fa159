"""Write paths — SURVEY.md §2.1 S5/S6/S12/S13: parquet append, partitioned
layouts, dynamic partition overwrite, saveAsTable, DDL, CTAS backup.

The reference writes through Iceberg (append snapshots + MERGE rewrites,
``load_bronze_from_csv.py:48``, ``bronze_to_silver.py:219-221``,
``init_iceberg_tables.py:29-531``).  On plain parquet the equivalent
contract is:

- **append** for immutable event/fact data (S5);
- **identity partition columns** (`PARTITIONED BY (date)`,
  ``init_iceberg_tables.py:46``) as directory partitioning — Catalyst then
  prunes partitions for literal predicates exactly like Iceberg does
  (asserted via explain in tests/test_io.py);
- **dynamic partition overwrite** as the MERGE/UPDATE commit path: compute
  the post-mutation state of *affected partitions only* (operators.mutation
  is pure) and overwrite just those directories — the lakehouse
  read-modify-overwrite pattern, touching none of the other partitions.
  Dynamic mode is a write option (``partitionOverwriteMode=dynamic``) of
  that one write, never a session conf, so a plain overwrite running at
  the same time keeps its static semantics;
- **concurrent commits** of independent tables: :func:`commit_concurrently`
  runs one wave of commits that do not read each other's output, one
  thread each, and returns only once all of them have finished.

At 100 TB: date-partitioned tables keep every batch-ETL scan bounded by the
processing window, and partition overwrite keeps mutation I/O proportional
to changed partitions, not table size.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target


def append_parquet(df: DataFrame, path: str) -> None:
    """S5 batch append sink (reference load_bronze_from_csv.py:48,70,101)."""
    df.write.mode("append").parquet(path)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """S12 partitioned layout (reference PARTITIONED BY (date),
    init_iceberg_tables.py:46,65 — days() transform becomes an explicit
    derived date column partition)."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def overwrite_partitions(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Dynamic partition overwrite: replace only the partitions present in
    ``df`` — the parquet-native commit for MERGE/UPDATE/SCD2 results
    (reference's Iceberg row-level DML, bronze_to_silver.py:78-90).  The
    mode is this write's option; the session conf is left alone."""
    df.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy(*partition_cols).parquet(path)


def commit_concurrently(
    spark: SparkSession, commits: list[Callable[[], object]]
) -> None:
    """Run a wave of independent commits at once, one thread each.

    The reference runs DAG steps that do not depend on each other side by
    side (``silver_to_gold >> [generate_reports, data_quality_summary]``,
    ``bakery_batch_etl.py:161``); a wave is that fan-out inside one
    Spark application.  No commit may read another's output.  Each thread inherits
    the caller's Spark local properties and session tags (job group,
    scheduler pool).  Returns once EVERY commit has finished, then
    re-raises the first failure in list order — no write outlives a
    failed wave.
    """
    with ThreadPoolExecutor(max_workers=len(commits)) as pool:
        # one wrapper per commit: each copies the local properties, so the
        # threads never share one mutable Properties object
        futures = [
            pool.submit(inheritable_thread_target(spark)(commit))
            for commit in commits
        ]
    for future in futures:
        future.result()  # re-raises a failed commit's exception


def create_database(spark: SparkSession, name: str, location: str) -> None:
    """S12 CREATE DATABASE (reference namespaces bronze/silver/gold,
    init_iceberg_tables.py:29)."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {name} LOCATION '{location}'")


def save_as_table(
    df: DataFrame,
    table: str,
    partition_cols: list[str] | None = None,
    mode: str = "append",
) -> None:
    """S6 saveAsTable sink (reference bronze_to_silver.py:219-221,
    silver_to_gold.py:66,165,...)."""
    w = df.write.mode(mode).format("parquet")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.saveAsTable(table)


def create_table_ddl(
    spark: SparkSession,
    table: str,
    columns_ddl: str,
    partitioned_by: str | None = None,
) -> None:
    """S12 CREATE TABLE DDL using parquet (reference init_iceberg_tables.py
    26-table catalog, USING iceberg → USING parquet)."""
    part = f" PARTITIONED BY ({partitioned_by})" if partitioned_by else ""
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {table} ({columns_ddl}) USING parquet{part}"
    )


def ctas_backup(spark: SparkSession, src_table: str, backup_table: str) -> None:
    """S13 CTAS backup (reference bakery_csv_etl_pipeline.py:260-262)."""
    spark.sql(
        f"CREATE TABLE {backup_table} USING parquet AS SELECT * FROM {src_table}"
    )


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 1,
) -> tuple[int, int]:
    """Small-file compaction for an unpartitioned parquet directory.

    Streaming sinks and frequent small appends fragment a table into many
    tiny files; at scale every reader then pays per-file open/footer costs
    and loses large sequential reads.  Compaction rewrites the directory
    into ``max(total_bytes / target_file_bytes, min_files)`` files (the
    maintenance job Iceberg calls rewrite_data_files; plain-parquet
    equivalent).

    Returns (files_before, files_after).  The rewrite stages into a sibling
    directory and swaps via two renames — single-writer maintenance only:
    between the renames the table path briefly does not exist, and a crash
    in that window leaves the data under ``._compact_old`` (recover by
    renaming it back).  Readers that must never observe the gap need a
    manifest indirection instead (see :mod:`sources.snapshots`, whose
    visible path never disappears).
    """
    import math
    import os
    import shutil

    def _data_files(p: str) -> list[str]:
        return [
            os.path.join(dp, f)
            for dp, _, fs in os.walk(p)
            for f in fs
            if f.endswith(".parquet")
        ]

    before = _data_files(path)
    total = sum(os.path.getsize(f) for f in before)
    n_out = max(min_files, math.ceil(total / target_file_bytes))
    staged = path.rstrip("/") + "._compact_tmp"
    shutil.rmtree(staged, ignore_errors=True)
    # coalesce, not repartition: shrinking file count needs no shuffle.
    spark.read.parquet(path).coalesce(n_out).write.mode("overwrite").parquet(staged)
    backup = path.rstrip("/") + "._compact_old"
    shutil.rmtree(backup, ignore_errors=True)
    os.rename(path, backup)
    os.rename(staged, path)
    shutil.rmtree(backup)
    return len(before), len(_data_files(path))


def optimize_table(
    spark: SparkSession,
    path: str,
    zorder_dims: tuple[str, str] | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 1,
) -> tuple[int, int]:
    """Lakehouse OPTIMIZE: compaction, optionally Z-ORDER re-clustered.

    With ``zorder_dims`` the rewrite range-partitions on the Morton key of
    the two dimensions (operators/layout.py) instead of coalescing — the
    shape of Delta's ``OPTIMIZE ... ZORDER BY`` / Iceberg's sort-rewrite:
    one pass fixes BOTH pathologies a streamed table accumulates (small
    files AND interleaved dimension values that defeat min/max skipping).
    Same single-writer swap discipline as :func:`compact_parquet_dir`.

    Returns (files_before, files_after).
    """
    import math
    import os
    import shutil

    from bakery_big_data_spark.operators.layout import write_zordered

    if zorder_dims is None:
        return compact_parquet_dir(spark, path, target_file_bytes, min_files)

    def _data_files(p: str) -> list[str]:
        return [
            os.path.join(dp, f)
            for dp, _, fs in os.walk(p)
            for f in fs
            if f.endswith(".parquet")
        ]

    before = _data_files(path)
    total = sum(os.path.getsize(f) for f in before)
    n_out = max(min_files, math.ceil(total / target_file_bytes))
    staged = path.rstrip("/") + "._optimize_tmp"
    shutil.rmtree(staged, ignore_errors=True)
    write_zordered(spark.read.parquet(path), staged, zorder_dims, num_files=n_out)
    backup = path.rstrip("/") + "._optimize_old"
    shutil.rmtree(backup, ignore_errors=True)
    os.rename(path, backup)
    os.rename(staged, path)
    shutil.rmtree(backup)
    return len(before), len(_data_files(path))
