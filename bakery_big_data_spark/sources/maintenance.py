"""Table maintenance: small-file compaction with optional stats
clustering.

The operational reality behind every streaming/incremental sink in this
repo (append sinks, snapshot swaps, foreachBatch commits): each
micro-batch lands its own files, and after a week a 100 TB table is
millions of kilobyte-sized parquet files — scan planning dominated by
file-open overhead, row-group statistics too fine to prune anything.
Compaction rewrites a directory to ~``target_bytes`` files:

- **coalesce, not repartition**: shrinking the file count needs NO
  shuffle — ``coalesce`` merges input splits reader-side, so compacting
  a terabyte moves it exactly once (read + write), never through an
  exchange;
- **optional clustering** (``order_by``): sorting within the coalesced
  partitions tightens per-row-group min/max statistics, so post-
  compaction scans with predicates on the cluster column skip row
  groups — the cheap sibling of the z-order row (layout_zorder_keys)
  for one-dimensional predicates.  This DOES shuffle (a range exchange)
  — it buys pruning with one extra pass, the standard trade;
- content equality (same rows, any order) is the correctness contract,
  asserted row-for-row in tests/test_io.py.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bakery_big_data_spark.sources.tables import data_bytes


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    target_bytes: int = 128 << 20,
    order_by: list[str] | None = None,
) -> int:
    """Rewrite the parquet directory ``src`` into ``dst`` with
    ~``target_bytes`` output files; returns the output file count.

    ``order_by`` switches from shuffle-free coalesce to a clustered
    rewrite (repartitionByRange + sortWithinPartitions) that tightens
    row-group statistics on the given columns.
    """
    n_out = max(1, math.ceil(data_bytes(src) / target_bytes))
    df: DataFrame = spark.read.parquet(src)
    if order_by:
        out = df.repartitionByRange(
            n_out, *[F.col(c) for c in order_by]
        ).sortWithinPartitions(*order_by)
    else:
        out = df.coalesce(n_out)
    out.write.mode("overwrite").parquet(dst)
    return sum(
        1
        for f in os.listdir(dst)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
