"""Quantitative bars for the sketch query and the compaction maintenance op."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from bakery_big_data_spark.plans import REGISTRY
from bakery_big_data_spark.plans.aggregates import hll_distinct_within_bound
from bakery_big_data_spark.sources.sinks import compact_parquet_dir
from bakery_big_data_spark.sources.tables import load_table
from tests.oracle import compare, duck_connect


def test_hll_sketch_error_bound(spark, sf01_dir):
    """The merged-sketch estimate must sit within 5% of the exact distinct
    count (default lgConfigK=12 gives ~1.6% standard error — 5% is >3σ).
    The query now carries the bound as its own column (the oracle states
    it TRUE), so the invariant is asserted on the emitted row."""
    row = (
        REGISTRY["sketch_incremental_distinct"]
        .build(spark, sf01_dir)
        .collect()[0]
    )
    assert row["exact_distinct_users"] > 0
    assert row["within_bound"] is True


def test_hll_distinct_bound_holds_in_dense_mode(spark, sf01_dir):
    """100k distinct ids push the lgConfigK=14 sketch into its dense HLL
    mode (the 150 users of the sf0.01 events stay in its sparse coupon
    modes); the estimate must still land within 5% of exact, and the
    catalog row must match its oracle."""
    ids = spark.range(100_000).withColumnRenamed("id", "user_id")
    row = hll_distinct_within_bound(ids).collect()[0]
    assert row["exact_users"] == 100_000
    assert row["within_bound"] is True

    q = REGISTRY["approx_count_distinct_scale"]
    compare(q.build(spark, sf01_dir), duck_connect(sf01_dir), q.oracle)


def test_hll_daily_sketches_merge_like_raw(spark, sf01_dir):
    """Associativity: merging per-day sketches equals sketching the raw rows
    directly — the property that makes persisted day-level sketches a valid
    substitute for raw rescans at any date-range granularity."""
    ev = load_table(spark, sf01_dir, "events")
    via_days = (
        ev.groupBy(F.to_date("ts").alias("d"))
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .collect()[0]["est"]
    )
    direct = (
        ev.agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"))
        .collect()[0]["est"]
    )
    assert via_days == direct


def test_compact_parquet_dir(spark, sf_dir, tmp_path):
    """Compaction shrinks a fragmented table to the computed file count and
    preserves the data exactly."""
    target = str(tmp_path / "fragmented")
    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    ev.repartition(16).write.parquet(target)  # fragment: 16 small files
    before_rows = spark.read.parquet(target).count()

    n_before, n_after = compact_parquet_dir(
        spark, target, target_file_bytes=1 << 30
    )
    assert n_before == 16
    assert n_after == 1  # everything fits one target-size file
    after = spark.read.parquet(target)
    assert after.count() == before_rows
    assert (
        after.agg(F.sum("event_id")).collect()[0][0]
        == ev.agg(F.sum("event_id")).collect()[0][0]
    )
    assert not os.path.exists(target + "._compact_tmp")
    assert not os.path.exists(target + "._compact_old")


def test_gd_regression_learns_and_matches_reference_fold(spark, sf_dir):
    """ml_linear_regression_gd must (a) actually LEARN — standardized MSE
    falls from 1.0 (zero-weight start) well below it on the exact linear
    ground truth y = x1 - x2 — and (b) reproduce a pure-numpy fold of
    the same 8-round GD on the same floor-quantized sufficient
    statistics (the BPE/PCA reference-fold pattern, tolerance only for
    the 1e-9 quantization)."""
    import numpy as np

    from bakery_big_data_spark.plans import REGISTRY
    from bakery_big_data_spark.plans.base import t

    r = REGISTRY["ml_linear_regression_gd"].build(spark, sf_dir).collect()[0]
    assert r["mse"] < 0.5
    rows = (
        t(spark, sf_dir, "lineitem")
        .select("l_extendedprice", "l_discount")
        .collect()
    )
    ep = np.array([x["l_extendedprice"] for x in rows])
    d = np.array([x["l_discount"] for x in rows])
    X = np.stack([ep, ep * d], axis=1)
    y = ep * (1.0 - d)
    Xs = (X - X.mean(0)) / X.std(0)
    ys = (y - y.mean()) / y.std()
    n = len(ys)
    a1, a2 = Xs.mean(0)
    a11 = float(Xs[:, 0] @ Xs[:, 0]) / n
    a12 = float(Xs[:, 0] @ Xs[:, 1]) / n
    a22 = float(Xs[:, 1] @ Xs[:, 1]) / n
    c0, c1, c2 = float(ys.mean()), float(Xs[:, 0] @ ys) / n, float(Xs[:, 1] @ ys) / n
    w0 = w1 = w2 = 0.0
    for _ in range(8):
        g0 = (w0 + a1 * w1 + a2 * w2) - c0
        g1 = (a1 * w0 + a11 * w1 + a12 * w2) - c1
        g2 = (a2 * w0 + a12 * w1 + a22 * w2) - c2
        w0, w1, w2 = w0 - 0.1 * g0, w1 - 0.1 * g1, w2 - 0.1 * g2
    assert abs(r["w1"] - w1) < 1e-4 and abs(r["w2"] - w2) < 1e-4
    assert abs(r["w0"] - w0) < 1e-4
