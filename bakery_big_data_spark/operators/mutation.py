"""Parquet-native mutation operators: MERGE, UPDATE, SCD Type 2.

The reference mutates Iceberg tables with SQL DML — ``MERGE INTO``
insert-if-absent dedup (``bronze_to_silver.py:78-83``), recency-conditioned
upsert (``bronze_to_silver.py:151-157``), status-flip ``UPDATE``
(``bronze_to_silver.py:85-90``), and SCD2 close-old/insert-new
(``silver_to_gold.py:130-165,205-231``).  Plain parquet has no row-level DML,
so each operator here is a **pure DataFrame → DataFrame transform** producing
the post-mutation table state; the write layer (sources/sinks.py) persists it
with dynamic partition overwrite, touching only affected partitions.

Scale notes (100 TB design point):
- every operator is a single shuffle on the merge keys (or map-only for
  UPDATE); no driver round-trips — the reference's collect-an-IN-list
  pattern (``silver_to_gold.py:144-152``, SURVEY.md J9) is rewritten away;
- the upsert is union + per-key window instead of join-then-rewrite, which
  AQE skew-handles for free and keeps partial aggregation map-side;
- SCD2 surrogate keys come from operators.keys.add_surrogate_key (range
  partitioned), not a global single-partition window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bakery_big_data_spark.operators.keys import add_surrogate_key

_SRC = "_m_src"


def merge_insert_if_absent(
    target: DataFrame, source: DataFrame, keys: list[str]
) -> DataFrame:
    """MERGE … WHEN NOT MATCHED THEN INSERT * (dedup merge).

    Reference ``bronze_to_silver.py:78-83``: new rows whose key is absent
    from the target are inserted; matched rows are left untouched.  Source
    rows are key-deduplicated first (the reference's MERGE would fail on
    duplicate source keys).  Plan: shuffle source on keys for the anti join
    (broadcast if small), zero data movement of the target beyond the scan.
    """
    new_rows = source.dropDuplicates(keys).join(target, keys, "left_anti")
    return target.unionByName(new_rows.select(*target.columns))


def merge_upsert_when_newer(
    target: DataFrame, source: DataFrame, keys: list[str], recency_col: str
) -> DataFrame:
    """MERGE … WHEN MATCHED AND s.recency > t.recency THEN UPDATE, else INSERT.

    Reference ``bronze_to_silver.py:151-157``: late-arriving data replaces a
    matched target row only when *strictly newer* by ``recency_col``;
    unmatched source rows are inserted.  Implemented as union + per-key
    ``max(struct(recency, target-preference, payload…))`` — a lexicographic
    hash aggregate, so winner selection is MAP-SIDE COMBINABLE (partial max
    per input partition before the shuffle), unlike the sort-based
    window/row_number formulation.  Target wins recency ties — the
    strict-inequality MERGE semantics; residual full ties resolve by max
    payload (deterministic).
    """
    tagged = target.withColumn(_SRC, F.lit(0)).unionByName(
        source.select(*target.columns).withColumn(_SRC, F.lit(1))
    )
    payload = [c for c in target.columns if c not in keys]
    packed = F.struct(
        F.col(recency_col).alias("_r"),
        (1 - F.col(_SRC)).alias("_pref"),  # target (src=0) outranks on ties
        *[F.col(c).alias(c) for c in payload],
    )
    won = tagged.groupBy(*keys).agg(F.max(packed).alias("_w"))
    return won.select(
        *keys, *[F.col(f"_w.{c}").alias(c) for c in payload]
    ).select(*target.columns)


def update_where(
    df: DataFrame, condition: Column, assignments: dict[str, Column]
) -> DataFrame:
    """UPDATE … SET … WHERE … as a map-only columnar rewrite.

    Reference ``bronze_to_silver.py:85-90`` (processing_status flip) and
    ``silver_to_gold.py:146-152`` (SCD2 close).  No shuffle: each assignment
    becomes ``when(condition, value).otherwise(old)`` inside whole-stage
    codegen.  All assignments go into ONE projection so the condition and
    every value expression see the *pre-update* row — SQL UPDATE semantics;
    chained withColumn would leak earlier assignments into later conditions.
    """
    return df.withColumns(
        {
            col_name: F.when(condition, value).otherwise(F.col(col_name))
            for col_name, value in assignments.items()
        }
    )


def delete_where(df: DataFrame, condition: Column) -> DataFrame:
    """DELETE … WHERE … — retain rows not matching (map-only filter)."""
    return df.filter(~F.coalesce(condition, F.lit(False)))


def scd2_apply(
    current: DataFrame,
    staged: DataFrame,
    business_key: str,
    tracked: list[str],
    effective_date: str,
    surrogate_key_col: str = "surrogate_key",
    start_col: str = "start_date",
    end_col: str = "end_date",
    flag_col: str = "is_current",
    key_base: int | None = None,
    drift_condition: Column | None = None,
) -> DataFrame:
    """SCD Type 2: detect changes, close old versions, insert new ones.

    Reference ``silver_to_gold.py:130-165`` (dim_store) and ``:205-231``
    (dim_product_pricing): staged rows that are new, or whose tracked
    attributes differ from the open (``is_current``) version, close that
    version (``end_date`` = effective date, flag false) and insert a fresh
    version keyed ``max_key + dense sequence``.  Historical (already-closed)
    rows pass through untouched.  Null-safe comparison on tracked columns.

    ``drift_condition`` overrides the default any-attribute-differs
    detection with a custom predicate over staged columns and the open
    version's values exposed as ``_cur_<attr>`` — e.g. the reference's
    relative price-change threshold ``abs(new-old)/old > 0.05``
    (``silver_to_gold.py:205-212``), which deliberately IGNORES sub-threshold
    drift instead of re-versioning on every tick.

    ``key_base``: highest existing surrogate key; when None it is derived
    INSIDE the plan — a 1-row ``COALESCE(MAX(key),0)`` aggregate broadcast
    onto the insert rows (the lazy form of the reference's eager scalar
    lookup, ``silver_to_gold.py:155``).  No driver action either way.
    """
    open_rows = current.filter(F.col(flag_col))

    # J4 change detection: staged ⟕ open on the business key, keep new keys
    # and rows where any tracked attribute drifted (null-safe).
    cur_cmp = open_rows.select(
        F.col(business_key),
        F.lit(True).alias("_cur_present"),
        *[F.col(c).alias(f"_cur_{c}") for c in tracked],
    )
    if drift_condition is not None:
        drift = drift_condition
    else:
        drift = F.lit(False)
        for c in tracked:
            drift = drift | ~F.col(c).eqNullSafe(F.col(f"_cur_{c}"))
    drift = F.coalesce(drift, F.lit(False))
    changed = (
        staged.join(cur_cmp, business_key, "left")
        .filter(~F.coalesce(F.col("_cur_present"), F.lit(False)) | drift)
        .select(business_key, *tracked)
    )

    if key_base is None:
        # Lazy scalar: 1-row MAX(key) aggregate broadcast-crossed onto the
        # insert rows (Catalyst plans a broadcast of a single row) — the
        # declarative replacement for the reference's eager .first() lookup.
        kb = current.agg(
            F.coalesce(F.max(surrogate_key_col), F.lit(0))
            .cast("bigint")
            .alias("_key_base")
        )
        changed = changed.crossJoin(F.broadcast(kb))
        base: int | Column = F.col("_key_base")
    else:
        base = key_base

    inserts = add_surrogate_key(
        changed, [business_key], key_col=surrogate_key_col, base=base
    ).select(
        surrogate_key_col,
        business_key,
        *tracked,
        F.lit(effective_date).cast("date").alias(start_col),
        F.lit(None).cast("date").alias(end_col),
        F.lit(True).alias(flag_col),
    )

    # Close open versions of changed keys (S11 UPDATE, no driver IN-list).
    # The keys come from the inserts (one row per changed key), which read
    # add_surrogate_key's checkpoint: the change set is detected once.
    chg_keys = inserts.select(business_key).withColumn("_chg", F.lit(True))
    closing = F.coalesce(F.col("_chg"), F.lit(False)) & F.col(flag_col)
    kept = (
        current.join(chg_keys, business_key, "left")
        .withColumn(
            end_col,
            F.when(closing, F.lit(effective_date).cast("date")).otherwise(
                F.col(end_col)
            ),
        )
        .withColumn(
            flag_col, F.when(closing, F.lit(False)).otherwise(F.col(flag_col))
        )
        .drop("_chg")
    )
    return kept.unionByName(inserts.select(*current.columns))
