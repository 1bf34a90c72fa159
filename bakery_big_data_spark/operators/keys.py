"""Scalable dense surrogate-key assignment (SURVEY.md §2.5 W1).

The reference assigns surrogate keys with a *global* ``row_number()`` over an
unpartitioned window (``silver_to_gold.py:157-159,229-231,270-273``), which
funnels every row through one partition — fine for a 5-row store dim, fatal
at 100 TB.  :func:`add_surrogate_key` produces the **same dense sequential
keys** with a range-partitioned plan:

1. ``repartitionByRange`` on the ordering columns — partition *i* holds a
   contiguous key range strictly below partition *i+1*'s;
2. per-partition row counts (a tiny aggregate, one row per partition);
3. cumulative offsets over that tiny frame (single-partition window over
   O(num_partitions) rows — trivially cheap);
4. broadcast the offsets back and add a *partition-local* ``row_number``.

Every heavy step is fully parallel; the only serial work is the
O(partitions)-row offset scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_PID = "_sk_pid"
_RN = "_sk_rn"
_CNT = "_sk_cnt"
_OFF = "_sk_off"


def add_surrogate_key(
    df: DataFrame,
    order_by: list[str | Column],
    key_col: str = "surrogate_key",
    base: int | Column = 0,
    num_partitions: int | None = None,
) -> DataFrame:
    """Assign dense keys ``base+1 .. base+N`` in ``order_by`` order.

    ``order_by`` must be a total order (include a unique tiebreak column) —
    rows that compare equal may land in either of two adjacent range
    partitions, which would make key assignment nondeterministic.

    ``base`` may be a Column already present on ``df`` (e.g. a lazily
    computed MAX(key) broadcast onto every row) — the plan then stays fully
    lazy with no driver scalar read.
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    base_col = base if isinstance(base, Column) else F.lit(base)
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    # localCheckpoint is CORRECTNESS here, not caching courtesy: the
    # counts branch and the local-rank branch below both consume
    # `ranged`, and RangePartitioner SAMPLES its split points with a
    # per-RDD-instance seed — if exchange reuse does not deduplicate the
    # two branches (AQE timing, differing projections), each evaluates
    # its own exchange with its own boundaries, and the offsets no
    # longer correspond to the partitions the local row_numbers were
    # computed in (observed: NTILE(5) emitting bucket 6 — a rank past
    # N).  An eager localCheckpoint pins exactly ONE materialization of
    # one partitioner; unlike persist() (whose CacheManager entry is
    # never freed without an explicit unpersist, leaking one pinned
    # frame per call in long-lived sessions, and whose evicted blocks
    # silently RECOMPUTE with fresh sample boundaries) the checkpoint
    # blocks are released by the ContextCleaner once the returned frame
    # is garbage-collected, and block loss fails loudly instead of
    # resampling.
    ranged = (
        df.repartitionByRange(num_partitions, *cols)
        .withColumn(_PID, F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = ranged.groupBy(_PID).agg(F.count(F.lit(1)).alias(_CNT))
    # Cumulative offset of rows in all partitions before this one; the frame
    # is one row per partition, so the unpartitioned window is O(partitions).
    offsets = counts.withColumn(
        _OFF,
        F.coalesce(
            F.sum(_CNT).over(
                Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select(_PID, _OFF)
    local = ranged.withColumn(
        _RN, F.row_number().over(Window.partitionBy(_PID).orderBy(*cols))
    )
    return (
        local.join(F.broadcast(offsets), _PID)
        .withColumn(key_col, (base_col + F.col(_OFF) + F.col(_RN)).cast("bigint"))
        .drop(_PID, _RN, _OFF)
    )


def add_prefix_sum(
    df: DataFrame,
    partition_by: str,
    order_by: list[str | Column],
    value_col: str,
    out_col: str = "prefix_sum",
    num_partitions: int | None = None,
    out_type: str | None = "bigint",
    total_col: str | None = None,
) -> DataFrame:
    """Scalable running SUM of ``value_col`` within each ``partition_by``
    group, in ``order_by`` order (inclusive of the current row).

    A plain ``SUM() OVER (PARTITION BY g ORDER BY ...)`` funnels each
    group through ONE task — fatal when groups are few and huge (a 5-lang
    stratum column over a 100 TB corpus).  Same decomposition as
    :func:`add_surrogate_key`: range-partition on (group, order) so each
    group's order is contiguous across partitions, take per-(partition,
    group) partial sums (tiny frame), cumulate THOSE per group (window
    over O(partitions) rows), broadcast the offsets back, and add a
    partition-local running sum.  ``order_by`` must be a total order
    within each group — OR rows tying on (group, order) must be
    interchangeable for the caller (identical ``value_col`` and the
    downstream consumer order-invariant over ties, e.g. a MAX/multiset
    aggregate), since ties may straddle two adjacent range partitions.

    ``out_type`` casts the result (default ``bigint`` for the original
    count-style callers); pass ``None`` to keep the native sum type —
    exact for DECIMAL running sums, whose addition is associative, so the
    decomposed partial+offset sum is bit-identical to the single-task
    window's.

    ``total_col`` additionally attaches each group's GRAND TOTAL of
    ``value_col`` (the ``SUM() OVER (PARTITION BY g)`` unbounded frame),
    folded into the offsets broadcast as one unbounded window over the
    O(partitions)-row partials — no second corpus pass, no second
    unbounded window over the data, no extra broadcast join.
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    # localCheckpoint for the same correctness reason as
    # add_surrogate_key: the partials branch and the local running-sum
    # branch must see the SAME sampled range boundaries — and the
    # checkpoint blocks are GC-released instead of pinned forever.
    ranged = (
        df.repartitionByRange(num_partitions, F.col(partition_by), *cols)
        .withColumn(_PID, F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    partials = ranged.groupBy(_PID, partition_by).agg(
        F.sum(value_col).alias(_CNT)
    )
    offset_cols = [_PID, partition_by, _OFF]
    offsets = partials.withColumn(
        _OFF,
        F.coalesce(
            F.sum(_CNT).over(
                Window.partitionBy(partition_by)
                .orderBy(_PID)
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    if total_col is not None:
        # group grand total folded into the SAME broadcast frame (one
        # unbounded window over the O(partitions)-row partials) — no
        # second rollup job, no second broadcast join
        offsets = offsets.withColumn(
            total_col,
            F.sum(_CNT).over(
                Window.partitionBy(partition_by).rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
        offset_cols.append(total_col)
    offsets = offsets.select(*offset_cols)
    local = ranged.withColumn(
        _RN,
        F.sum(value_col).over(
            Window.partitionBy(_PID, partition_by)
            .orderBy(*cols)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    running = F.col(_OFF) + F.col(_RN)
    if out_type is not None:
        running = running.cast(out_type)
    return (
        local.join(F.broadcast(offsets), [_PID, partition_by])
        .withColumn(out_col, running)
        .drop(_PID, _RN, _OFF)
    )


def scalable_ntile(
    df: DataFrame,
    order_by: list[str | Column],
    k: int,
    out_col: str = "ntile",
    num_partitions: int | None = None,
    n_rows: DataFrame | None = None,
) -> DataFrame:
    """Global NTILE(k) without the single-task global window.

    Unpartitioned ``NTILE(k) OVER (ORDER BY ...)`` funnels the whole table
    through one task.  Here the global dense rank comes from
    :func:`add_surrogate_key` (fully parallel range decomposition) and the
    bucket from SQL NTILE's closed form — larger buckets first: with
    ``q, m = divmod(n, k)``, rows ranked ≤ ``m·(q+1)`` land in bucket
    ``ceil(r/(q+1))``, the rest in ``m + ceil((r - m·(q+1))/q)``.  All
    BIGINT arithmetic; ``order_by`` must be a total order.
    """
    ranked = add_surrogate_key(
        df, order_by, key_col="_nt_rank", num_partitions=num_partitions
    )
    # ``n_rows`` (a 1-row frame with column ``_nt_n`` = COUNT(*) of ``df``)
    # lets callers that ntile the SAME frame by several orders share one
    # count rollup + one broadcast subtree instead of re-counting the
    # checkpointed frame per call (r13 verdict task 9, rfm_segmentation).
    # Caller contract: the count must be df's exact row count (checked
    # below where a wrong count is detectable).
    n_row = (
        n_rows
        if n_rows is not None
        else ranked.groupBy().agg(F.count(F.lit(1)).alias("_nt_n"))
    )
    # Exact BIGINT arithmetic throughout: every division is the SQL `div`
    # operator (integer division), never float `/` — quotients stay exact
    # past 2^53 rows.  PySpark Columns have no `div` operator, so the
    # closed form is one SQL expression over the joined columns.
    # ceil_div(a, b) for positive a, b is (a + b - 1) div b.
    q = f"(_nt_n div {k})"
    m = f"(_nt_n % {k})"
    thresh = f"({m} * ({q} + 1))"
    # the otherwise-branch is unreachable when q = 0 (n < k puts every row
    # under thresh = n), but the denominator still must be non-zero there —
    # greatest(q, 1) keeps it inert
    safe_q = f"greatest({q}, 1L)"
    bucket = F.expr(
        f"CASE WHEN _nt_rank <= {thresh} "
        f"THEN (_nt_rank + {q}) div ({q} + 1) "
        f"ELSE {m} + ((_nt_rank - {thresh}) + {safe_q} - 1) div {safe_q} "
        f"END"
    )
    # a wrong caller-supplied count puts buckets outside [1, k]: fail the
    # job instead of emitting plausible-looking wrong tiles (no extra job,
    # no clamping that would hide the error)
    checked = F.when(bucket.between(1, k), bucket).otherwise(
        F.raise_error(
            F.lit(
                f"scalable_ntile: bucket outside [1, {k}]: "
                "n_rows is not the row count"
            )
        )
    )
    return (
        ranked.join(F.broadcast(n_row))
        .withColumn(out_col, checked.cast("int"))
        .drop("_nt_rank", "_nt_n")
    )
