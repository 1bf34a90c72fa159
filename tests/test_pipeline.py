"""End-to-end medallion pipeline test: all layers land partitioned,
re-running is idempotent, gates and joins behave."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from bakery_big_data_spark.pipeline.medallion import run_medallion


def test_medallion_end_to_end(spark, sf_dir, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("pipeline"))
    layers = run_medallion(spark, sf_dir, base)

    n_bronze = layers["bronze"].count()
    n_silver = layers["silver"].count()
    assert 0 < n_silver < n_bronze  # gate actually quarantines rows
    assert layers["silver"].agg(F.min("data_quality_score")).first()[0] >= 50

    # every fact row joins a calendar dim row
    fact, cal = layers["fact_daily"], layers["dim_calendar"]
    unmatched = fact.join(cal, "event_date", "left_anti").count()
    assert unmatched == 0

    # features: one row per fact row, rolling mean within value bounds
    feats = layers["ml_features"]
    assert feats.count() == fact.count()
    bad = feats.filter(
        (F.col("value_trend_8d") <= 0) | F.col("weekday_name").isNull()
    ).count()
    assert bad == 0

    # partitioned layout on disk
    assert any(
        d.startswith("event_date=")
        for d in os.listdir(f"{base}/silver_events")
    )

    # wide features: one row per fact row, every enrichment leg present
    wide = layers["ml_features_wide"]
    assert wide.count() == fact.count()
    assert wide.filter(F.col("avg_value_type").isNull()).count() == 0
    assert wide.filter(F.col("n_users_type") <= 0).count() == 0
    # seasonality: NULL only allowed for types never seen on a weekend
    weekend_types = {
        r.event_type
        for r in wide.filter(F.col("is_weekend")).select("event_type").distinct().collect()
    }
    null_season = {
        r.event_type
        for r in wide.filter(F.col("seasonality_index").isNull())
        .select("event_type")
        .distinct()
        .collect()
    }
    assert not (null_season & weekend_types)

    # second fact joins the calendar date spine
    fbf = layers["fact_feedback_daily"]
    assert fbf.filter(F.col("avg_rating").between(1, 5)).count() == fbf.count()

    # third fact + user feature table: one feature row per fact row, the
    # trailing mean is positive, and burst days really run >= 2x trailing
    ufact, ufeat = layers["fact_user_daily"], layers["ml_user_features"]
    assert ufeat.count() == ufact.count()
    assert ufeat.filter(F.col("events_trend_7d") <= 0).count() == 0
    bad_burst = ufeat.filter(
        F.col("is_burst")
        & (F.col("n_events") < 2 * F.col("events_trend_7d"))
    ).count()
    assert bad_burst == 0

    # promotions dim: every campaign window is 10 days, ranges staggered
    promos = layers["dim_promotions"]
    assert promos.filter(
        F.datediff("end_date", "start_date") != 9
    ).count() == 0
    wide_active = wide.filter(F.col("promotion_active"))
    assert wide_active.filter(F.col("marketing_campaign").isNull()).count() == 0

    # SCD2 user dim: exactly one open version per user, closed versions
    # carry end_date = effective date, and re-versioned users have 2 rows
    scd2 = layers["dim_user_scd2"]
    open_per_user = (
        scd2.filter("is_current").groupBy("user_id").count()
        .filter("count > 1").count()
    )
    assert open_per_user == 0
    closed = scd2.filter(~F.col("is_current"))
    assert closed.filter(F.col("end_date").isNull()).count() == 0
    assert closed.count() > 0  # breadth really grew for someone
    versioned = scd2.groupBy("user_id").count().filter("count = 2")
    assert versioned.count() == closed.count()

    # idempotence: re-running the whole pipeline changes nothing
    counts1 = {k: df.count() for k, df in layers.items()}
    layers2 = run_medallion(spark, sf_dir, base)
    counts2 = {k: df.count() for k, df in layers2.items()}
    assert counts1 == counts2
    s1 = layers2["silver"].agg(
        F.sum(F.col("value").cast("decimal(30,6)"))
    ).first()[0]
    assert s1 is not None


def test_curation_pipeline_end_to_end(spark, sf_dir, tmp_path):
    """run_curation_pipeline commits an auditable manifest covering every
    corpus doc plus a split-partitioned training corpus containing exactly
    the is_training winners; idempotent re-run."""
    from pyspark.sql import functions as F

    from bakery_big_data_spark.pipeline.curation import run_curation_pipeline
    from bakery_big_data_spark.sources.tables import load_table

    base = str(tmp_path / "lake")
    layers = run_curation_pipeline(spark, sf_dir, base)
    n_docs = load_table(spark, sf_dir, "documents").count()
    manifest = layers["curation_manifest"]
    assert manifest.count() == n_docs  # every doc audited
    training = layers["training_corpus"]
    n_train = manifest.filter(F.col("is_training")).count()
    assert 0 < n_train < n_docs
    assert training.count() == n_train
    # benchmark docs never train; non-canonicals never train
    joined = training.join(manifest, "doc_id")
    assert joined.filter(F.col("is_benchmark")).count() == 0
    assert joined.filter(~F.col("is_canonical")).count() == 0
    # split partitioning materialized on disk
    import os

    assert any(
        d.startswith("split=") for d in os.listdir(f"{base}/training_corpus")
    )
    # packed batches cover exactly the train split, within token budget
    packed = layers["packed_train"]
    n_train_split = manifest.filter(
        F.col("is_training") & (F.col("split") == "train")
    ).count()
    assert packed.count() == n_train_split
    per_pack = packed.groupBy("shard", "pack_id").agg(
        F.sum("n_tokens").alias("tok")
    )
    # a pack may overshoot by at most one document's tokens (first-fit)
    max_doc = packed.agg(F.max("n_tokens")).first()[0]
    assert per_pack.filter(F.col("tok") > 2048 + max_doc).count() == 0
    # idempotent
    again = run_curation_pipeline(spark, sf_dir, base)
    assert again["training_corpus"].count() == n_train


def test_incremental_medallion_replay_is_idempotent(spark, sf_dir, tmp_path_factory):
    """Re-running the incremental runner over an already-processed corpus
    (the crash-recovery shape: every chunk replays) must change NOTHING —
    partition overwrites rewrite identical data, and the applied-chunk
    guards must skip the state merge and SCD2 apply instead of
    double-counting deltas or stamping spurious versions."""
    from bakery_big_data_spark.pipeline.medallion import (
        run_medallion_incremental,
    )
    from bakery_big_data_spark.sources.snapshots import _load_manifest

    base = str(tmp_path_factory.mktemp("pipeline"))
    run_medallion_incremental(spark, sf_dir, base, n_chunks=3)

    def snapshot_counts():
        state_versions = _load_manifest(f"{base}/type_user_state")["versions"]
        scd2_versions = _load_manifest(f"{base}/gold_dim_user_scd2")["versions"]
        fact = spark.read.parquet(f"{base}/gold_fact_daily")
        dim = spark.read.parquet(f"{base}/gold_dim_user")
        return (
            list(state_versions),
            list(scd2_versions),
            fact.count(),
            fact.agg(F.sum("n_events")).collect()[0][0],
            {(r.user_id, r.n_event_types) for r in dim.collect()},
        )

    before = snapshot_counts()
    run_medallion_incremental(spark, sf_dir, base, n_chunks=3)  # full replay
    after = snapshot_counts()
    assert before == after


def test_incremental_medallion_chunking_invariance(spark, sf_dir, tmp_path_factory):
    """The maintained state must not depend on HOW history was chunked:
    2-chunk and 4-chunk replays of the same corpus must agree on every
    derived table, and the SCD2 dimension must keep exactly one open
    version per user whose profile equals the full-history profile."""
    from bakery_big_data_spark.pipeline.medallion import (
        run_medallion_incremental,
    )

    outs = {}
    for n_chunks in (2, 4):
        base = str(tmp_path_factory.mktemp("pipeline"))
        outs[n_chunks] = run_medallion_incremental(
            spark, sf_dir, base, n_chunks=n_chunks
        )

    def facts(layers):
        return {
            (str(r.event_date), r.event_type, r.n_events, r.total_value)
            for r in layers["fact_daily"].collect()
        }

    def dim(layers):
        return {
            (r.user_id, str(r.first_seen_date), str(r.last_seen_date), r.n_event_types)
            for r in layers["dim_user"].collect()
        }

    def scd2_open(layers):
        cur = layers["dim_user_scd2"].filter(F.col("is_current"))
        return {
            (r.user_id, r.value_band, str(r.first_seen_date))
            for r in cur.collect()
        }

    assert facts(outs[2]) == facts(outs[4])
    assert dim(outs[2]) == dim(outs[4])
    assert scd2_open(outs[2]) == scd2_open(outs[4])
    # exactly one open version per user, regardless of chunking
    for layers in outs.values():
        cur = layers["dim_user_scd2"].filter(F.col("is_current"))
        n_users = cur.select("user_id").distinct().count()
        assert cur.count() == n_users


@pytest.mark.parametrize("plan", ["shuffled", "interleaved"])
def test_medallion_incremental_out_of_order(spark, sf_dir, plan, tmp_path_factory):
    """Out-of-order arrivals (shuffled contiguous day ranges; interleaved
    every-Nth-day chunks with maximally overlapping date ranges) must
    produce the same facts, dims, and SCD2 OPEN snapshot as the ordered
    replay.  Version HISTORY legitimately differs — the open snapshot is
    the cross-order invariant (the last arrival touching a user sees that
    user's complete state)."""
    from bakery_big_data_spark.pipeline.medallion import (
        run_medallion_incremental,
    )

    outs = {}
    for p in ("ordered", plan):
        base = str(tmp_path_factory.mktemp("pipeline"))
        outs[p] = run_medallion_incremental(
            spark, sf_dir, base, n_chunks=3, arrival_plan=p
        )

    def facts(layers):
        return {
            (str(r.event_date), r.event_type, r.n_events, r.total_value)
            for r in layers["fact_daily"].collect()
        }

    def dim(layers):
        return {
            (r.user_id, str(r.first_seen_date), str(r.last_seen_date),
             r.n_event_types)
            for r in layers["dim_user"].collect()
        }

    def scd2_open(layers):
        cur = layers["dim_user_scd2"].filter(F.col("is_current"))
        return {
            (r.user_id, r.value_band, str(r.first_seen_date))
            for r in cur.collect()
        }

    assert facts(outs["ordered"]) == facts(outs[plan])
    assert dim(outs["ordered"]) == dim(outs[plan])
    assert scd2_open(outs["ordered"]) == scd2_open(outs[plan])
    cur = outs[plan]["dim_user_scd2"].filter(F.col("is_current"))
    assert cur.count() == cur.select("user_id").distinct().count()


@pytest.mark.parametrize("plan", ["shuffled", "interleaved"])
def test_curation_incremental_out_of_order(spark, sf_dir, plan, tmp_path_factory):
    """The curation manifest must be IDENTICAL (full-row equality, not
    just an invariant subset) under out-of-order arrival — the maintained
    state is arrival-order-independent by construction."""
    from bakery_big_data_spark.pipeline.curation import (
        run_curation_incremental,
    )


    def rows(plan_name):
        base = str(tmp_path_factory.mktemp("pipeline"))
        m = run_curation_incremental(
            spark, sf_dir, base, n_chunks=3, arrival_plan=plan_name
        )
        return sorted(tuple(r) for r in m.collect())

    assert rows("ordered") == rows(plan)


def test_incremental_curation_replay_is_idempotent(spark, sf_dir, tmp_path_factory):
    """Replaying the incremental curation runner over already-processed
    chunks must not double-merge any state (contamination counters and
    pair sets are the dangerous ones) or stamp new snapshot versions."""
    from bakery_big_data_spark.pipeline.curation import (
        run_curation_incremental,
    )
    from bakery_big_data_spark.sources.snapshots import _load_manifest

    base = str(tmp_path_factory.mktemp("pipeline"))

    def fingerprint(m):
        rows = {
            (r.doc_id, r.canonical_id, r.contamination_ratio, r.is_training)
            for r in m.collect()
        }
        versions = {
            t: list(_load_manifest(f"{base}/{t}")["versions"])
            for t in ("doc_state", "band_state", "bench_grams", "pairs_state")
        }
        return rows, versions

    first = fingerprint(run_curation_incremental(spark, sf_dir, base, 3))
    second = fingerprint(run_curation_incremental(spark, sf_dir, base, 3))
    assert first == second


@pytest.mark.parametrize(
    "crash_table",
    ["doc_state", "bench_grams", "band_state", "pairs_state"],
)
def test_incremental_curation_survives_mid_chunk_crash(
    spark, sf_dir, crash_table, tmp_path_factory
):
    """Crash at EACH of the four state commits of a chunk (commit order:
    doc_state -> bench_grams -> band_state -> pairs_state), then replay:
    the rerun must converge to exactly the full-run manifest in every
    window.  The bench_grams point is the historically dangerous one (a
    crash there replays with doc committed but bench not — the
    retro-contamination scores derived from never-seen benchmark grams
    must not be lost); the other three cover the partially-applied-chunk
    windows after it."""
    from bakery_big_data_spark.pipeline.curation import (
        curation_manifest,
        run_curation_incremental,
    )
    from bakery_big_data_spark.sources import snapshots as snapmod

    base = str(tmp_path_factory.mktemp("pipeline"))

    real_write = snapmod.write_snapshot
    state = {"armed": True}

    def crashing_write(df, table_path, meta=None):
        if state["armed"] and table_path.endswith(f"/{crash_table}"):
            state["armed"] = False  # crash exactly once, on the 1st chunk
            raise RuntimeError(f"injected crash at {crash_table} commit")
        return real_write(df, table_path, meta=meta)

    snapmod.write_snapshot = crashing_write
    try:
        try:
            run_curation_incremental(spark, sf_dir, base, n_chunks=2)
            raise AssertionError("injected crash did not fire")
        except RuntimeError as exc:
            assert "injected" in str(exc)
    finally:
        snapmod.write_snapshot = real_write

    got = run_curation_incremental(spark, sf_dir, base, n_chunks=2)  # replay
    want = curation_manifest(spark, sf_dir)
    key = lambda df: {  # noqa: E731
        (r.doc_id, r.canonical_id, round(r.contamination_ratio, 12), r.is_training)
        for r in df.collect()
    }
    assert key(got) == key(want)


def test_stream_fed_medallion_checkpoint_rerun_is_idempotent(
    spark, sf_dir, tmp_path_factory
):
    """Re-invoking the stream-fed runner over an existing checkpoint must
    replay NOTHING (availableNow finds no new files) and change no
    maintained table — the restart contract of the foreachBatch bridge."""
    from bakery_big_data_spark.pipeline.medallion import (
        run_medallion_stream_fed,
    )

    base = str(tmp_path_factory.mktemp("pipeline"))

    def fingerprint(outs):
        fact = {
            tuple(r) for r in outs["fact_daily"].collect()
        }
        scd2 = {
            (r.user_id, r.value_band, r.first_seen_date)
            for r in outs["dim_user_scd2"].filter(F.col("is_current")).collect()
        }
        state = {
            tuple(r) for r in outs["dim_type_stats"].collect()
        }
        return fact, scd2, state

    first = fingerprint(run_medallion_stream_fed(spark, sf_dir, base, 3))
    second = fingerprint(run_medallion_stream_fed(spark, sf_dir, base, 3))
    assert first == second


def test_streaming_dedup_gate_survives_mid_batch_crash(spark, sf_dir, tmp_path_factory):
    """Crash between the band-state commit and the decisions commit of a
    micro-batch, then restart the stream: checkpoint re-delivery must
    replay the batch exactly-once (duplicate band/shingle rows from the
    partially-applied batch are tolerated by the distinct/agg shapes) and
    the final decision table must equal the uncrashed run's."""
    from bakery_big_data_spark.sources import snapshots as snapmod
    from bakery_big_data_spark.streaming.dedup_gate import (
        run_streaming_dedup_gate,
    )

    clean_base = str(tmp_path_factory.mktemp("pipeline"))
    crash_base = str(tmp_path_factory.mktemp("pipeline"))

    want = {
        tuple(r)
        for r in run_streaming_dedup_gate(spark, sf_dir, clean_base, 3).collect()
    }

    real_write = snapmod.write_snapshot
    state = {"armed": True}

    def crashing_write(df, table_path, meta=None):
        if state["armed"] and table_path.endswith("/decisions"):
            state["armed"] = False
            raise RuntimeError("injected crash before decisions commit")
        return real_write(df, table_path, meta=meta)

    snapmod.write_snapshot = crashing_write
    try:
        try:
            run_streaming_dedup_gate(spark, sf_dir, crash_base, 3)
            raise AssertionError("injected crash did not fire")
        except Exception as exc:  # surfaces as StreamingQueryException
            assert "injected" in str(exc)
    finally:
        snapmod.write_snapshot = real_write

    got = {
        tuple(r)
        for r in run_streaming_dedup_gate(spark, sf_dir, crash_base, 3).collect()
    }
    assert got == want


def test_streaming_dedup_gate_chain_topology_matches_batch(spark, tmp_path):
    """Crafted corpus pinning the star-contraction (NOT transitive
    closure) semantics across chunk boundaries: docs 1-2-3 form a chain
    (1~2, 2~3, but 1!~3), with the chain split so 1 arrives in batch 1
    and 2, 3 in batch 2 (intra-batch pair), plus an isolated doc.
    Expected, matching batch canonical_assignment: 2 -> 1 (dropped),
    3 -> 2 (dropped — its smallest verified neighbor, even though 2 was
    itself dropped), 1 and 9 kept."""
    import json

    from bakery_big_data_spark.streaming.dedup_gate import (
        run_streaming_dedup_gate,
    )

    # >=3 words per shingle; overlap engineered: 1~2 and 2~3 share >50%
    # trigram shingles, 1 and 3 share none.
    base_words = ["w%d" % i for i in range(12)]
    d1 = " ".join(base_words)
    d2 = " ".join(base_words[2:] + ["x1", "x2"])   # high overlap with d1
    d3 = " ".join(base_words[4:] + ["x1", "x2", "z1", "z2"])  # overlaps d2
    d9 = "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11 q12"

    docs = [(1, d1), (2, d2), (3, d3), (9, d9)]
    sf_dir = str(tmp_path / "sf")
    import os

    os.makedirs(sf_dir, exist_ok=True)
    spark.createDataFrame(docs, "doc_id LONG, text STRING").write.mode(
        "overwrite"
    ).parquet(f"{sf_dir}/documents.parquet")

    # batch truth: canonical_assignment over verified LSH pairs
    from bakery_big_data_spark.operators.dedup import (
        candidate_pairs,
        canonical_assignment,
        verify_pairs,
        word_shingles,
    )
    from pyspark.sql import functions as F2

    sh = spark.createDataFrame(docs, "doc_id LONG, text STRING").select(
        "doc_id", word_shingles("text", n=3).alias("shingles")
    )
    pairs = verify_pairs(
        candidate_pairs(sh, "doc_id", "shingles", bands=16, rows_per_band=2),
        sh, "doc_id", "shingles", threshold=0.5,
    )
    batch = {
        (r.doc_id, r.canonical_id)
        for r in canonical_assignment(sh, "doc_id", pairs).collect()
    }

    got = {
        (r.doc_id, r.canonical_id)
        for r in run_streaming_dedup_gate(
            spark, sf_dir, str(tmp_path / "gate"), n_chunks=2
        ).collect()
    }
    assert got == batch
    # the topology itself must be the interesting one: 2 merged into 1,
    # and if 2~3 verified, 3 chains to 2 (star contraction, not closure)
    assert (2, 1) in got


def test_streaming_dedup_gate_out_of_order(spark, sf_dir, tmp_path_factory):
    """Shuffled chunk delivery (larger doc-id ranges arriving FIRST) must
    converge to the same decision table as ordered delivery: the gate
    catches each banded pair when its later-arriving partner probes the
    index and retroactively demotes an admitted doc whose smaller partner
    arrives late (late canonical demotion)."""
    from bakery_big_data_spark.streaming.dedup_gate import (
        run_streaming_dedup_gate,
    )

    ordered = {
        tuple(r)
        for r in run_streaming_dedup_gate(
            spark, sf_dir, str(tmp_path_factory.mktemp("pipeline")), n_chunks=3
        ).collect()
    }
    shuffled = {
        tuple(r)
        for r in run_streaming_dedup_gate(
            spark,
            sf_dir,
            str(tmp_path_factory.mktemp("pipeline")),
            n_chunks=3,
            arrival_rank=[2, 0, 1],
        ).collect()
    }
    assert shuffled == ordered
    assert any(not kept for (_, _, kept) in ordered)  # pairs exist


def test_streaming_semantic_gate_out_of_order(spark, sf_dir, tmp_path_factory):
    """The embedding-space gate must also converge to the ordered-arrival
    decision table under shuffled chunk delivery (same both-directions
    candidates + late canonical demotion as the MinHash gate)."""
    from bakery_big_data_spark.streaming.dedup_gate import (
        run_streaming_semantic_gate,
    )

    ordered = {
        tuple(r)
        for r in run_streaming_semantic_gate(
            spark, sf_dir, str(tmp_path_factory.mktemp("pipeline")), n_chunks=3
        ).collect()
    }
    shuffled = {
        tuple(r)
        for r in run_streaming_semantic_gate(
            spark,
            sf_dir,
            str(tmp_path_factory.mktemp("pipeline")),
            n_chunks=3,
            arrival_rank=[1, 2, 0],
        ).collect()
    }
    assert shuffled == ordered


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_streaming_dedup_gate_arrival_fuzz(spark, sf_dir, seed, tmp_path_factory):
    """Adversarial arrival fuzz: randomized chunk count AND randomized
    delivery permutation per seed — the gate's decision table must stay
    identical to the 1-chunk (all-at-once) delivery, which is itself the
    driver-certified batch canonicalization.  Deterministic seeds (no
    runtime randomness) so failures replay exactly."""
    import random

    from bakery_big_data_spark.streaming.dedup_gate import (
        run_streaming_dedup_gate,
    )

    rng = random.Random(1000 + seed)
    n_chunks = rng.choice([2, 4, 5])
    rank = list(range(n_chunks))
    rng.shuffle(rank)

    baseline = {
        tuple(r)
        for r in run_streaming_dedup_gate(
            spark, sf_dir, str(tmp_path_factory.mktemp("pipeline")), n_chunks=1
        ).collect()
    }
    fuzzed = {
        tuple(r)
        for r in run_streaming_dedup_gate(
            spark,
            sf_dir,
            str(tmp_path_factory.mktemp("pipeline")),
            n_chunks=n_chunks,
            arrival_rank=rank,
        ).collect()
    }
    assert fuzzed == baseline


@pytest.mark.parametrize("crash_table", ["gold_fact_user_daily", "type_user_state"])
def test_incremental_medallion_survives_crash_inside_a_wave(
    spark, sf_dir, tmp_path, monkeypatch, crash_table
):
    """One wave-1 commit of the second arrival fails (a partition commit,
    or the state commit).  The arrival must raise only after every sibling
    commit of its wave finished, leave no staging directory and skip the
    SCD2 wave; a replay must equal an uncrashed run."""
    import time
    from collections import Counter

    from bakery_big_data_spark.pipeline import medallion
    from bakery_big_data_spark.sources import snapshots as snapmod

    clean, crashed = str(tmp_path / "clean"), str(tmp_path / "crashed")

    def outcome(layers, base):
        return (
            {tuple(r) for r in layers["fact_daily"].collect()},
            {tuple(r) for r in layers["fact_feedback_daily"].collect()},
            {tuple(r) for r in layers["fact_user_daily"].collect()},
            {tuple(r) for r in layers["dim_user"].collect()},
            {
                (r.user_id, r.value_band, r.first_seen_date)
                for r in layers["dim_user_scd2"].filter("is_current").collect()
            },
            snapmod._load_manifest(f"{base}/type_user_state")["versions"],
        )

    want = outcome(
        medallion.run_medallion_incremental(spark, sf_dir, clean, n_chunks=3), clean
    )

    calls, finished = Counter(), {}
    real_overwrite, real_snapshot = medallion.overwrite_partitions, snapmod.write_snapshot

    def commit(table, write):
        calls[table] += 1
        if table == crash_table and calls[table] == 2:  # the second arrival
            raise RuntimeError(f"injected crash at {table}")
        out = write()
        finished.setdefault(table, []).append(time.time())
        return out

    monkeypatch.setattr(
        medallion,
        "overwrite_partitions",
        lambda df, path, cols: commit(
            os.path.basename(path), lambda: real_overwrite(df, path, cols)
        ),
    )
    monkeypatch.setattr(
        snapmod,
        "write_snapshot",
        lambda df, path, meta=None: commit(
            os.path.basename(path), lambda: real_snapshot(df, path, meta=meta)
        ),
    )
    with pytest.raises(RuntimeError, match="injected"):
        medallion.run_medallion_incremental(spark, sf_dir, crashed, n_chunks=3)
    raised_at = time.time()
    monkeypatch.undo()

    wave = {
        "silver_events",
        "silver_feedback",
        "gold_fact_daily",
        "gold_fact_feedback_daily",
        "gold_fact_user_daily",
        "type_user_state",
    }
    for table in wave - {crash_table}:
        assert len(finished[table]) == 2, table  # both arrivals committed it
        assert finished[table][-1] <= raised_at, table
    assert len(finished[crash_table]) == 1
    assert len(finished["gold_dim_user_scd2"]) == 1  # wave 2 never ran
    staging = [
        d for _root, dirs, _files in os.walk(crashed) for d in dirs
        if d.startswith(".spark-staging")
    ]
    assert staging == []

    got = outcome(
        medallion.run_medallion_incremental(spark, sf_dir, crashed, n_chunks=3),
        crashed,
    )
    assert got == want


def test_stream_fed_medallion_survives_mid_arrival_crash(
    spark, sf_dir, tmp_path_factory
):
    """Crash between the state commit and the SCD2 commit of a streaming
    arrival, then restart: checkpoint re-delivery must replay the arrival
    exactly-once (state guard skips the already-merged delta; the SCD2
    apply runs on the replay) and converge to the uncrashed run."""
    from bakery_big_data_spark.pipeline.medallion import (
        run_medallion_stream_fed,
    )
    from bakery_big_data_spark.sources import snapshots as snapmod

    clean_base = str(tmp_path_factory.mktemp("pipeline"))
    crash_base = str(tmp_path_factory.mktemp("pipeline"))

    def fingerprint(outs):
        return (
            {tuple(r) for r in outs["fact_daily"].collect()},
            {
                (r.user_id, r.value_band, r.first_seen_date)
                for r in outs["dim_user_scd2"]
                .filter(F.col("is_current"))
                .collect()
            },
        )

    want = fingerprint(run_medallion_stream_fed(spark, sf_dir, clean_base, 2))

    real_write = snapmod.write_snapshot
    state = {"armed": True}

    def crashing_write(df, table_path, meta=None):
        if state["armed"] and table_path.endswith("/gold_dim_user_scd2"):
            state["armed"] = False
            raise RuntimeError("injected crash before scd2 commit")
        return real_write(df, table_path, meta=meta)

    snapmod.write_snapshot = crashing_write
    try:
        try:
            run_medallion_stream_fed(spark, sf_dir, crash_base, 2)
            raise AssertionError("injected crash did not fire")
        except Exception as exc:
            assert "injected" in str(exc)
    finally:
        snapmod.write_snapshot = real_write

    got = fingerprint(run_medallion_stream_fed(spark, sf_dir, crash_base, 2))
    assert got == want


def test_streaming_rate_gate_out_of_order(spark, sf_dir, tmp_path_factory):
    """Shuffled chunk delivery must converge to the same admission ledger
    as ordered delivery: the admitted set per (user, day) is monotone
    toward the (ts, event_id)-minimal quota, and late demotion revises
    earlier admits when earlier-keyed events arrive late.  (Chunks range
    over event_id while admission orders by ts — so even ordered replay
    exercises demotion; shuffling the chunks must change nothing.)"""
    from bakery_big_data_spark.streaming.rate_gate import (
        run_streaming_rate_gate,
    )

    ordered = {
        tuple(r)
        for r in run_streaming_rate_gate(
            spark, sf_dir, str(tmp_path_factory.mktemp("pipeline")), quota=2, n_chunks=3
        ).collect()
    }
    shuffled = {
        tuple(r)
        for r in run_streaming_rate_gate(
            spark,
            sf_dir,
            str(tmp_path_factory.mktemp("pipeline")),
            quota=2,
            n_chunks=3,
            arrival_rank=[2, 0, 1],
        ).collect()
    }
    assert shuffled == ordered
    admitted = sum(1 for (_, _, _, adm) in ordered if adm)
    assert 0 < admitted < len(ordered)  # the quota actually bites


def test_streaming_semantic_gate_threshold_boundary_pair(spark, tmp_path_factory):
    """r11 ADVICE: the numpy candidate pre-filter drops pairs below
    ``threshold - margin`` before the order-exact phase-2 re-score; a pair
    whose EXACT cosine sits exactly AT the threshold must survive the
    pre-filter (margin covers matmul-vs-JVM-fold divergence) and be marked
    duplicate.  Engineered corpus: v1=[3,4,0...], v2=[4,3,0...] has cosine
    exactly 24/25 = 0.96 in float64 (integer components, exact norms), run
    at threshold=0.96 — equality, the knife edge.  v3 is orthogonal
    (cosine 0) and must stay kept."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bakery_big_data_spark.streaming.dedup_gate import (
        run_streaming_semantic_gate,
    )

    corpus_dir = str(tmp_path_factory.mktemp("pipeline"))
    dim = 64
    v1 = [0.0] * dim
    v1[0], v1[1] = 3.0, 4.0
    v2 = [0.0] * dim
    v2[0], v2[1] = 4.0, 3.0
    v3 = [0.0] * dim
    v3[7] = 5.0
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([1, 2, 3], type=pa.int64()),
                "embedding": pa.array(
                    [v1, v2, v3], type=pa.list_(pa.float32())
                ),
            }
        ),
        os.path.join(corpus_dir, "embeddings.parquet"),
    )

    decisions = {
        r.vec_id: (r.canonical_id, r.is_kept)
        for r in run_streaming_semantic_gate(
            spark,
            corpus_dir,
            str(tmp_path_factory.mktemp("pipeline")),
            n_chunks=2,
            threshold=0.96,
        ).collect()
    }
    assert decisions[1] == (1, True)
    assert decisions[2] == (1, False), (
        "boundary pair (exact cosine == threshold) was lost by the "
        "candidate pre-filter margin"
    )
    assert decisions[3] == (3, True)


def test_streaming_semantic_gate_compaction_pressure_and_replay(
    spark, tmp_path_factory
):
    """r12 verdict task 6 + r12 ADVICE (medium): a replay long enough to
    cross ``compact_log``'s ``max_segments`` MID-STREAM (>16 micro-batches)
    must

    - not fail when compaction deletes superseded segment dirs while the
      batch's lazy frames are pending (the gate now materializes its
      decision frame before any state commit — pre-fix this run died with
      FileNotFound on batch 17 reading just-deleted bucket/vec segments),
    - keep the decision table identical to all-at-once delivery (the
      arrival-order-independence contract survives compaction), and
    - carry the exactly-once batch guard across compaction + a full
      checkpoint replay (meta rides the compacted base; replaying the
      stream applies nothing twice).
    """
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bakery_big_data_spark.streaming.dedup_gate import (
        run_streaming_semantic_gate,
    )

    corpus_dir = str(tmp_path_factory.mktemp("pipeline"))
    dim = 64
    n_chunks = 18

    # 36 deterministic vectors, 2 per chunk; vec i and i+18 are identical
    # (cosine 1.0) so every chunk's pair partner arrives 9 chunks later —
    # late demotions keep landing while segments accumulate and compact.
    # Distinct bases use DISJOINT coordinate pairs (2b, 2b+1) so cross-base
    # cosine is exactly 0 — an overlapping layout (b, b+7) silently put
    # bases 7 apart at cosine 12/25 = 0.48 >= the 0.45 gate threshold and
    # perturbed the expected canonicals.
    vecs, ids = [], []
    for i in range(36):
        v = [0.0] * dim
        base = i % 18
        v[2 * base] = 3.0
        v[2 * base + 1] = 4.0
        vecs.append(v)
        ids.append(i + 1)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, type=pa.int64()),
                "embedding": pa.array(vecs, type=pa.list_(pa.float32())),
            }
        ),
        os.path.join(corpus_dir, "embeddings.parquet"),
    )

    want = {
        tuple(r)
        for r in run_streaming_semantic_gate(
            spark, corpus_dir, str(tmp_path_factory.mktemp("pipeline")), n_chunks=1
        ).collect()
    }
    # the engineered duplicates must actually bite: each i+18 demotes to i
    assert {(19, 1, False), (36, 18, False)} <= want

    base = str(tmp_path_factory.mktemp("pipeline"))
    got = {
        tuple(r)
        for r in run_streaming_semantic_gate(
            spark, corpus_dir, base, n_chunks=n_chunks
        ).collect()
    }
    assert got == want

    # compaction genuinely fired mid-stream: 18 appends per state table
    # against max_segments=16 must leave a compacted 'base' segment (a
    # version > 1 with kind=base) and fewer live segments than batches
    for table in ("bucket_state", "vec_state", "decisions"):
        with open(f"{base}/{table}/_snapshot_manifest.json") as fh:
            m = json.load(fh)
        compacted = [
            int(v) for v, k in m.get("kind", {}).items()
            if k == "base" and int(v) > 1
        ]
        assert compacted, f"{table}: no mid-stream compaction happened"
        assert len(m["versions"]) < n_chunks
        # the exactly-once batch guard survived compaction
        assert m["meta"][str(m["current"])]["batch"] == n_chunks - 1

    # full checkpoint replay: nothing re-applies, decisions unchanged
    manifests_before = {}
    for table in ("bucket_state", "vec_state", "decisions"):
        with open(f"{base}/{table}/_snapshot_manifest.json") as fh:
            manifests_before[table] = json.load(fh)
    replay = {
        tuple(r)
        for r in run_streaming_semantic_gate(
            spark, corpus_dir, base, n_chunks=n_chunks
        ).collect()
    }
    assert replay == want
    for table in ("bucket_state", "vec_state", "decisions"):
        with open(f"{base}/{table}/_snapshot_manifest.json") as fh:
            assert json.load(fh) == manifests_before[table], (
                f"{table}: replay re-applied state"
            )
