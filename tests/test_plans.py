"""Physical-plan guardrails: the properties that matter at 100 TB, asserted
over EVERY registered query so a regression can't slip in silently.

- no BroadcastNestedLoopJoin / CartesianProduct outside the explicit
  allowlist (cross-join synthesis is small×small by design);
- dimension joins actually broadcast;
- filters reach the parquet scan (PushedFilters non-empty where expected).
"""

from __future__ import annotations

import pytest

from bakery_big_data_spark.plans import REGISTRY

# Queries allowed to contain a nested-loop/cartesian product — each is a
# deliberate small×small or broadcast-bounded plan.
NESTED_LOOP_ALLOWED = {
    "join_cross_synthesize",  # 25×5 dim synthesis (reference J6)
    # deliberate 1-row broadcast: the BATCH-GLOBAL pipeline-gate decision
    # (one aggregate row) crossed onto every group row — the reference's
    # DAG-level gate re-expressed declaratively (ADVICE r09)
    "quality_configured_gate",
    # deliberate 1-row broadcasts: edge-count / sampled-count / sampled
    # triangle-count scalars crossed into the one-row DOULION report
    "graph_triangle_doulion_estimate",
    # same deliberate broadcast exact-baseline shape as the other recall
    # rows: 20-query set crossed over the corpus, twice (full + truncated)
    "embedding_matryoshka_recall",
    # deliberate broadcast scan: tiny query set × corpus, O(corpus) work —
    # the exact-baseline shape for ANN (the scale path is similarity_ann_lsh)
    "similarity_topk_bruteforce",
    # same deliberate broadcast exact baseline feeding the recall compare;
    # the ANN side itself is bucket-equi-joined
    "similarity_ann_recall",
    # same exact-baseline broadcast inside the IVF recall-floor compare
    "similarity_ivf_recall",
    # same exact-baseline broadcast (brute_force_topk) inside the served-
    # index recall-floor compare; the SERVE side is a partition-pruned
    # scan + broadcast equi-join (asserted in tests/test_similarity.py)
    "similarity_ivf_served",
    # deliberate dim×salt replication (5 rows × 16 salts) feeding the
    # skew-mitigation shuffle join
    "skew_salted_join",
    # deliberate bounded cross join (200 parts × 10 suppliers) — the
    # reference's feature-synthesis shape (update_ml_features.py:301)
    "seeded_synthetic_features",
    # deliberate 1-row broadcast: the lazy in-plan COALESCE(MAX(key),0)
    # surrogate-key base crossed onto the insert rows (operators/mutation.py
    # scd2_apply) — the declarative replacement for an eager .first() lookup;
    # the nested-loop side is exactly one row
    "scd2_versioning",
    "medallion_dim_user_scd2",  # same scd2_apply lazy 1-row key base
    "scd2_point_in_time_join",  # same scd2_apply lazy 1-row key base
    # deliberate 1-row broadcast: the lazy corpus-total divisor crossed onto
    # the bucket counts (the declarative replacement for an eager .count())
    "curation_length_histogram",
    # deliberate 1-row broadcast: total-token divisor onto the top-100
    # vocabulary frame
    "text_vocab_coverage",
    # deliberate 1-row broadcast: the lazy corpus-size N crossed onto the
    # (term, tf, df) frame for the idf numerator — declarative replacement
    # for an eager .count()
    "text_tfidf_top_terms",
    # deliberate 1-row broadcast: the lazy (N, avgdl) corpus stats crossed
    # onto the query-term and contribution frames (same class as the tfidf
    # idf numerator)
    "text_bm25_retrieval",
    # deliberate 1-row × 1-row cross: the merged-sketch estimate joined to
    # the exact distinct count for the error-bound column
    "sketch_incremental_distinct",
    # deliberate bins-sized (9-row) + 1-row broadcast crosses: the global
    # histogram grid and total onto the per-(type, day) frame — the full
    # expected-count grid is the point (zero-observed cells must
    # contribute their expectation)
    "drift_chisquare_daily",
    # deliberate 1-row crosses: two bottom-k sketch rows + four exact
    # scalar counts assembled into the single certified output row
    "sketch_kmv_set_ops",
    # deliberate 1-row broadcast: the lazy corpus anchor date (max
    # o_orderdate) crossed onto the per-customer frame for recency, plus
    # scalable_ntile's lazy row-count cross (operators/keys.py)
    "rfm_segmentation",
    # scalable_ntile's lazy 1-row row-count cross
    "feature_quantile_binning",
    # deliberate 1-row broadcast: the lazy corpus size N modulo for the
    # key-derived negative-candidate LCG
    "contrastive_negative_sampling",
    # deliberate 1-row broadcast per merge round: the pair-argmax crossed
    # onto the vocab frame (operators/bpe.py) — no driver round trip
    "bpe_vocab_merges",
    # deliberate 1-row broadcast: the lazy total-token count crossed onto
    # the top-20 frame for the CMS error-bound column
    "sketch_count_min_heavy_hitters",
    # deliberate 1-row broadcast: the lazy train-token total crossed onto
    # the unigram vocab frame for the p1 denominator (the tfidf idf-N /
    # vocab-coverage idiom)
    "text_perplexity_filter",
    # deliberate 4-row broadcast cross: the per-quantile sample estimates
    # crossed onto events for the exact-rank certification pass
    "sketch_bottomk_quantiles",
    # deliberate 1-row broadcast: the lazy basket-count N crossed onto the
    # qualified rule pairs for the lift denominator
    "market_basket_rules",
    # deliberate 1-row broadcasts: the 64-dim mean array crossed onto the
    # corpus for centering, and the per-round norm crossed onto the
    # 64-row vector frame
    "embedding_pca_power_iteration",
    # deliberate 1-row broadcast: the standardization stats (means/stds)
    # crossed onto the corpus before the sufficient-statistic pass
    "ml_linear_regression_gd",
    # deliberate 1-row x 1-row cross: the top-10-keys total joined onto
    # the skew-summary scalars
    "skew_profile_keys",
    # deliberate 1-row crosses: row count, exact-F2, and sketch estimate
    # assembled into the single certified output row
    "sketch_cms_selfjoin_size",
    # deliberate 1-row crosses: stream sizes, exact join count, and the
    # inner-product estimate assembled into the single certified row
    "sketch_cms_join_size_estimate",
    # deliberate n_clusters-row (16) broadcast crosses: Lloyd's assignment
    # step IS corpus × centroid-frame (operators/similarity.py
    # lloyd_centroids / lloyd_ivf_topk) — bounded side is the 16-row
    # centroid table, never corpus × corpus
    "similarity_ivf_topk",
    # deliberate 1-row broadcasts: the standardization stats cross (the
    # linreg pattern) plus one weights-frame cross per GD round — the
    # per-round corpus gradient pass IS corpus × 1-row weight state
    "ml_logistic_classifier_gd",
    # same trained-weights 1-row cross, plus one scoring pass for the
    # reliability binning
    "ml_classifier_calibration",
    # deliberate 1-row broadcasts: the (k+1)-th-largest decrement onto the
    # <=k*P-row partial-summary frame, and the lazy stream total onto the
    # top-20 frame for the bound columns
    "sketch_misra_gries_heavy_hitters",
    # the semantic leg is the documented 5-query broadcast brute-force
    # baseline (same class as similarity_topk_bruteforce); the 100 TB
    # swap-in is the banded-LSH leg, which RRF consumes unchanged
    "retrieval_hybrid_rrf",
    # deliberate 1-row broadcast: the lazy total-purchase count crossed
    # onto the attributed frame for the share denominator
    "attribution_last_touch",
    # deliberate 1-row broadcast: the lazy amount total crossed onto the
    # 9-digit frame for the observed-share denominator
    "audit_benford_first_digit",
    # deliberate 1-row broadcast: the lazy revenue total crossed onto the
    # part frame for class boundaries
    "pareto_abc_classification",
    # deliberate 1-row broadcast: the lazy max-date cross bounding the
    # 28-day backtest window
    "timeseries_forecast_backtest",
    # deliberate 1-row × 1-row broadcast cross: the n_upserted scalar
    # joined onto the served-topk summary row for the certified output
    # (same class as sketch_incremental_distinct's final assembly)
    "similarity_ivf_upsert_served",
    # deliberate 1-row × 1-row broadcast cross: the HLL estimate joined
    # onto the exact-count row — split from one mixed aggregate so the
    # Expand-planned distinct no longer allocates an HLL sketch buffer
    # per (gid, user_id) partial group
    "approx_count_distinct_scale",
}

# mapInPandas/applyInPandas plans (python stages); still shuffle-sane but
# their string form differs.
PANDAS_QUERIES = {
    "embedding_cosine_near_dup_pairs",
    "multimodal_image_features",
    "multimodal_frame_sample",
    "multimodal_audio_window_rms",
    "multimodal_image_real_bmp_features",
    "multimodal_video_real_y4m_frames",
}


def _plan(spark, sf_dir, name: str) -> str:
    df = REGISTRY[name].build(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_accidental_nested_loop(name, spark, sf_dir):
    plan = _plan(spark, sf_dir, name)
    if name in NESTED_LOOP_ALLOWED:
        return
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    assert (
        "BroadcastNestedLoopJoin" not in plan
    ), f"{name} plans a nested-loop join"


def test_flagship_pushes_filter_down(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pricing_summary_quality_gated")
    scan = plan[plan.index("FileScan") :]
    assert "PushedFilters: [" in scan
    pushed = scan.split("PushedFilters: [")[1].split("]")[0]
    assert "l_shipdate" in pushed, "date predicate must reach the scan"


def test_dim_joins_broadcast(spark, sf_dir):
    for name in ("join_inner_broadcast_dim", "join_multiway_star", "join_range_interval"):
        plan = _plan(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, f"{name} lost its broadcast join"


def test_topk_avoids_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "topk_leaderboards")
    assert "TakeOrderedAndProject" in plan


def test_bucketed_join_has_zero_exchanges(spark, sf_dir):
    """Both sides bucketed+sorted on the join key: the SortMergeJoin and the
    downstream per-key aggregation must introduce NO shuffle and NO sort —
    the co-location contract that makes recurring fact-fact joins shuffle-free
    at 100 TB."""
    plan = _plan(spark, sf_dir, "bucketed_colocated_join")
    assert "Exchange" not in plan, "bucketed join must not shuffle"
    assert "SortMergeJoin" in plan


@pytest.mark.parametrize(
    "name,col",
    [
        ("filter_project_cast", "o_totalprice"),
        ("string_math_functions", "c_custkey"),
        ("update_status_flip", "o_orderkey"),  # projection only — see below
    ],
)
def test_filters_and_projection_reach_scan(name, col, spark, sf_dir):
    """Merged queries must not lose pushdown: the filter (or at minimum the
    pruned column list) appears at the FileScan."""
    plan = _plan(spark, sf_dir, name)
    scan = plan[plan.index("FileScan") :]
    assert col in scan.split("ReadSchema")[0] or col in scan, f"{name}: {col} not at scan"
    if name != "update_status_flip":
        assert "PushedFilters: [" in scan
        pushed = scan.split("PushedFilters: [")[1].split("]")[0]
        assert pushed.strip(), f"{name}: no pushed filters"


def test_features_wide_enrichment_all_broadcast(spark, sf_dir):
    """The 7-source feature chain must keep every enrichment leg a
    broadcast join — a SortMergeJoin anywhere means a dim side lost its
    broadcast and the fact would shuffle per leg at scale."""
    plan = _plan(spark, sf_dir, "medallion_features_wide")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 5


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """100 TB lever: with a selective dim side and shuffle join, Spark's
    runtime bloom filter (on by default in this engine's session) injects
    a might_contain() pre-filter into the FACT side, built from a
    bloom_filter_agg over the dim keys — rows that cannot join are dropped
    at the scan instead of shuffled.  Assert the injection and that it is
    semantics-preserving."""
    from pyspark.sql import functions as F

    from bakery_big_data_spark.plans.base import t

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    sel = F.col("o_totalprice") > 500000
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    try:
        o = t(spark, sf_dir, "orders").filter(sel).select("o_orderkey")
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, "bloom filter not injected"
        assert "bloom_filter_agg" in plan
        n_bloom = j.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold"
        )
    o = t(spark, sf_dir, "orders").filter(sel).select("o_orderkey")
    assert n_bloom == li.join(o, li.l_orderkey == o.o_orderkey).count()


def test_repetition_filters_is_map_only(spark, sf_dir):
    """The Gopher metrics must add NO exchange beyond spread()'s one
    round-robin fan-out of the single-split corpus — repetition scoring is
    a projection, and any groupBy-shaped histogram sneaking back in would
    shuffle the whole token stream at 100 TB."""
    plan = _plan(spark, sf_dir, "text_repetition_filters")
    assert plan.count("Exchange") == 1, plan
    assert "RoundRobinPartitioning" in plan


def _iter_logical_nodes(jnode):
    yield jnode
    ch = jnode.children()
    for i in range(ch.size()):
        yield from _iter_logical_nodes(ch.apply(i))


# Node classes that bound the cardinality flowing into a global window:
# everything above an Aggregate is O(groups); above a GlobalLimit, O(k).
_BOUNDING_NODES = {"Aggregate", "GlobalLimit"}
# Leaves that are bounded by construction (literal rows / 1-row relations).
_BOUNDED_LEAVES = {"LocalRelation", "OneRowRelation"}
# Queries allowed to violate the rule — must carry a docstring justifying
# why their global window input is bounded some other way.  Empty today;
# additions need a review.
GLOBAL_WINDOW_ALLOWED: set[str] = set()


def _bounded_subtree(jnode) -> bool:
    cls = jnode.getClass().getSimpleName()
    if cls in _BOUNDING_NODES:
        return True
    ch = jnode.children()
    if ch.size() == 0:
        return cls in _BOUNDED_LEAVES
    return all(
        _bounded_subtree(ch.apply(i)) for i in range(ch.size())
    )


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_global_window_over_base_table(name, spark, sf_dir):
    """No unpartitioned WindowExec over an unbounded input: a global
    Window.orderBy over a fact table serializes the whole table through
    ONE task at 100 TB.  Every window with an empty partition spec must
    sit above an Aggregate (O(groups) rows) or a GlobalLimit (O(k)) on
    every path to a base-table scan — the convention the range-decomposed
    key/prefix-sum operators (operators/keys.py) exist to preserve."""
    df = REGISTRY[name].build(spark, sf_dir)
    lp = df._jdf.queryExecution().optimizedPlan()
    for n in _iter_logical_nodes(lp):
        if (
            n.getClass().getSimpleName() == "Window"
            and n.partitionSpec().isEmpty()
        ):
            if name in GLOBAL_WINDOW_ALLOWED:
                continue
            child = n.children().apply(0)
            assert _bounded_subtree(child), (
                f"{name}: unpartitioned Window over an unbounded input — "
                "decompose via operators/keys.py or partition the window"
            )


def test_phash_pairs_is_banded_equi_join(spark, sf_dir):
    """Perceptual near-dup pairs must come from the band-bucket EQUI-join:
    a hash join keyed on (band, val) — never a cartesian/nested-loop pair
    enumeration — with the Hamming cut applied as a join condition."""
    plan = _plan(spark, sf_dir, "multimodal_phash_pairs")
    assert "HashJoin" in plan  # broadcast at test size, shuffled at scale
    assert "band" in plan and "val" in plan
    assert "CartesianProduct" not in plan
    assert "bit_count" in plan  # exact Hamming filter rides the join


def test_aqe_skew_join_splits_hot_partition(spark):
    """The engine's session enables AQE skew-join handling
    (session.py RUNTIME_CONF); prove it actually fires: a join with one
    hot key (200k rows vs ~200/partition elsewhere) must execute as
    SortMergeJoin(skew=true) with an AQEShuffleRead that splits the hot
    partition — the runtime complement of the manual salting patterns
    (skew_salted_join / skew_salted_aggregation), for skew discovered at
    run time rather than known in advance.  Result correctness asserted
    alongside the plan shape."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        )
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    try:
        left = spark.range(200000).select(
            F.lit(0).alias("k"), F.col("id").alias("v")
        ).union(
            spark.range(20000).select(
                (F.col("id") % 100 + 1).alias("k"), F.col("id").alias("v")
            )
        )
        right = spark.range(101).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right, "k")
        n = len(j.collect())
        assert n == 220000  # every left row matches exactly one right row
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
        assert "skewed" in plan  # AQEShuffleRead split the hot partition
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bucket_pruned_point_lookup_scans_one_bucket(spark, sf_dir):
    """The equality predicate on the bucket key must prune the scan to a
    single bucket — the read-side payoff of bucketing."""
    plan = _plan(spark, sf_dir, "bucket_pruned_point_lookup")
    assert "SelectedBucketsCount: 1 out of 8" in plan


def test_triangle_topk_is_take_ordered_not_global_window(spark, sf_dir):
    """r10 x100 lesson: the triangle row's final top-20 must plan as
    TakeOrderedAndProject (per-partition heaps + 20-row driver merge), not
    a global row_number window — an unpartitioned window sorts the whole
    node-sized aggregate (~2M parts at the x100 corpus) in ONE partition.
    The ranking window that remains operates on the 20 survivors only."""
    plan = _plan(spark, sf_dir, "graph_triangle_copurchase")
    assert "TakeOrderedAndProject" in plan
