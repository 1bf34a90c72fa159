"""Invariant tests for the behavioral-analytics family (the oracle proves
value equality; these pin the semantic properties the oracles can't state)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bakery_big_data_spark.plans import REGISTRY


def test_funnel_counts_monotone(spark, sf_dir):
    r = REGISTRY["funnel_conversion"].build(spark, sf_dir).collect()[0]
    assert r.n_view >= r.n_view_click >= r.n_full_funnel >= 0
    assert 0.0 <= r.full_conversion <= r.view_to_click <= 1.0


def test_cohort_retention_baseline_is_one(spark, sf_dir):
    rows = REGISTRY["cohort_retention"].build(spark, sf_dir).collect()
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault(r.cohort_week, {})[r.week_offset] = r
    for cohort, offs in by_cohort.items():
        assert 0 in offs, f"cohort {cohort} missing offset 0"
        assert abs(offs[0].retention - 1.0) < 1e-12
        assert all(0.0 < o.retention <= 1.0 for o in offs.values())


def test_gapfill_carries_last_observation(spark, sf_dir):
    rows = REGISTRY["timeseries_gapfill"].build(spark, sf_dir).collect()
    series = {}
    for r in sorted(rows, key=lambda r: (r.event_type, r.d)):
        series.setdefault(r.event_type, []).append(r)
    assert series
    for rs in series.values():
        # spine is contiguous daily
        for a, b in zip(rs, rs[1:]):
            assert (b.d - a.d).days == 1
        # forward fill: unobserved days repeat the last observed value
        last = None
        for r in rs:
            if r.is_observed:
                last = r.revenue_filled
            else:
                assert r.revenue_filled == last


def test_session_window_consistent_with_sessionize(spark, sf_dir):
    """The built-in session_window and the lag/cumsum sessionizer must agree
    on the TOTAL number of sessions (they implement the same 30-min gap)."""
    n_sessions = REGISTRY["session_window_agg"].build(spark, sf_dir).count()
    sess = REGISTRY["sessionize_events"].build(spark, sf_dir)
    n_from_idx = (
        sess.groupBy("user_id")
        .agg(F.countDistinct("session_idx").alias("n"))
        .agg(F.sum("n"))
        .first()[0]
    )
    assert n_sessions == n_from_idx


def test_anomaly_zscore_flags_match_threshold(spark, sf_dir):
    rows = REGISTRY["anomaly_zscore_daily"].build(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.is_anomaly == (abs(r.zscore) > 2.0)


def test_sweep_bucket_width_is_validated(spark, sf_dir, monkeypatch):
    from tests.oracle import compare, duck_connect

    q = REGISTRY["sessions_peak_concurrency"]
    for bad in ("7000000", str(2 * 86_400_000_000), "0"):
        monkeypatch.setenv("SPARK_GRAFT_SWEEP_BUCKET_US", bad)
        with pytest.raises(ValueError, match="SPARK_GRAFT_SWEEP_BUCKET_US"):
            q.build(spark, sf_dir)
    monkeypatch.delenv("SPARK_GRAFT_SWEEP_BUCKET_US")
    con = duck_connect(sf_dir)
    try:
        compare(q.build(spark, sf_dir), con, q.oracle)
    finally:
        con.close()


def test_scalable_ntile_rejects_a_wrong_row_count(spark, sf_dir):
    from pyspark.errors import PySparkException

    from bakery_big_data_spark.operators.keys import scalable_ntile
    from tests.oracle import compare, duck_connect

    df = spark.range(20).withColumnRenamed("id", "k")
    wrong = spark.range(1).select(F.lit(10).cast("bigint").alias("_nt_n"))
    with pytest.raises(PySparkException, match="n_rows is not the row count"):
        scalable_ntile(df, ["k"], 4, n_rows=wrong).collect()
    right = spark.range(1).select(F.lit(20).cast("bigint").alias("_nt_n"))
    tiles = scalable_ntile(df, ["k"], 4, n_rows=right).orderBy("k").collect()
    assert [r.ntile for r in tiles] == [1] * 5 + [2] * 5 + [3] * 5 + [4] * 5

    q = REGISTRY["rfm_segmentation"]
    con = duck_connect(sf_dir)
    try:
        compare(q.build(spark, sf_dir), con, q.oracle)
    finally:
        con.close()
