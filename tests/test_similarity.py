"""Similarity-search property tests: ANN recall vs the exact baseline and
candidate-pruning behavior."""

from __future__ import annotations

from pyspark.sql import functions as F

from bakery_big_data_spark.operators.similarity import (
    ann_topk,
    brute_force_topk,
    hyperplane_signature,
    hyperplane_planes,
    ivf_topk,
    to_double_vec,
)


def test_ann_recall_vs_bruteforce(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(queries, emb, "vec_id", "embedding", k=10)
    approx = ann_topk(queries, emb, "vec_id", "embedding", k=10)
    e = {(r.q_id, r.c_id) for r in exact.collect()}
    a = {(r.q_id, r.c_id) for r in approx.collect()}
    assert len(e) == 10 * 10
    recall = len(e & a) / len(e)
    # random (unclustered) vectors + 64 buckets with 1-bit probing: a loose
    # but deterministic floor; clustered real data recalls far higher
    assert recall >= 0.15, f"ANN recall collapsed: {recall}"
    # and the ANN result must itself be internally exact (reranked scores
    # equal the brute-force scores for the pairs it did find)
    escore = {(r.q_id, r.c_id): r.cosine for r in exact.collect()}
    for r in approx.collect():
        if (r.q_id, r.c_id) in escore:
            assert abs(escore[(r.q_id, r.c_id)] - r.cosine) == 0.0


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(queries, emb, "vec_id", "embedding", k=10)
    approx = ivf_topk(queries, emb, "vec_id", "embedding", k=10)
    e = {(r.q_id, r.c_id) for r in exact.collect()}
    a = {(r.q_id, r.c_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # probing 3/16 data-adaptive cells; unclustered corpus → loose floor
    assert recall >= 0.15, f"IVF recall collapsed: {recall}"
    # determinism: same seed → same result
    again = {
        (r.q_id, r.c_id)
        for r in ivf_topk(queries, emb, "vec_id", "embedding", k=10).collect()
    }
    assert a == again


def test_ann_recall_bar_sf001(spark):
    """Quantitative quality bar at driver scale (sf0.01): the multi-table
    multi-probe operating point (L=4 tables, 6 planes, Hamming≤2) must reach
    recall@10 ≥ 0.9 against the exact baseline — on UNIFORM-RANDOM vectors,
    the worst case for LSH (real clustered embeddings recall higher at the
    same cost)."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = brute_force_topk(queries, emb, "vec_id", "embedding", k=10)
    approx = ann_topk(
        queries, emb, "vec_id", "embedding", k=10,
        num_tables=4, probe_hamming=2,
    )
    e = {(r.q_id, r.c_id) for r in exact.collect()}
    a = {(r.q_id, r.c_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.9, f"multi-table ANN recall below bar: {recall}"


def test_ivf_recall_bar_sf001(spark):
    """IVF at driver scale: probing 12/16 cells must reach recall@10 ≥ 0.9
    vs the exact baseline on uniform-random vectors (the n_probe dial's
    documented high-recall operating point)."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = brute_force_topk(queries, emb, "vec_id", "embedding", k=10)
    approx = ivf_topk(queries, emb, "vec_id", "embedding", k=10, n_probe=12)
    e = {(r.q_id, r.c_id) for r in exact.collect()}
    a = {(r.q_id, r.c_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.9, f"IVF recall below bar: {recall}"


def test_hyperplane_bucketing_prunes(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    planes = hyperplane_planes(6, 64, seed=7)
    bucketed = emb.select(
        hyperplane_signature(to_double_vec("embedding"), planes).alias("b")
    )
    n = emb.count()
    stats = bucketed.groupBy("b").count()
    n_buckets = stats.count()
    biggest = stats.agg(F.max("count")).first()[0]
    assert n_buckets > 16  # signatures actually spread over the key space
    assert biggest < n / 2  # no degenerate mega-bucket


def test_semantic_dedup_catches_planted_duplicates(spark):
    """Identical vectors collide in EVERY LSH table (cosine 1.0), so the
    star contraction must canonicalize them to the min id regardless of
    banding luck; a far-away vector must keep itself."""
    from bakery_big_data_spark.operators.similarity import semantic_dedup

    base = [float((j * 7 + 3) % 11) - 5.0 for j in range(64)]
    other = [float((j * 13 + 1) % 17) - 8.0 for j in range(64)]
    rows = [(1, base), (2, base), (5, [x * 2.0 for x in base]), (9, other)]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    got = {
        r.vec_id: (r.canonical_id, r.is_kept)
        for r in semantic_dedup(df, "vec_id", "embedding", 0.99).collect()
    }
    # 1, 2 identical; 5 is a positive scaling (cosine exactly 1.0)
    assert got[1] == (1, True)
    assert got[2] == (1, False)
    assert got[5] == (1, False)
    assert got[9] == (9, True)


def test_pca_power_iteration_matches_reference_fold(spark, sf_dir):
    """Parity with a pure-numpy fold of the SAME fixed-round algorithm
    (the BPE reference-fold pattern): identical centering, scatter
    matrix, matvec, and normalization — up to the 1e-12 floor
    quantization the certified plan applies per addend.  Also asserts
    the power-iteration invariants: unit-norm output and a Rayleigh
    estimate that is sane for the scatter spectrum.  (The corpus is
    near-isotropic — tiny spectral gap — so a fixed-round run is a
    TRAINING-STEP parity row like the 4-round PageRank, not a claim of
    convergence to the exact eigenvector.)"""
    import numpy as np

    from bakery_big_data_spark.plans import REGISTRY
    from bakery_big_data_spark.plans.base import t

    rows = (
        REGISTRY["embedding_pca_power_iteration"]
        .build(spark, sf_dir)
        .orderBy("dim_idx")
        .collect()
    )
    v = np.array([r["component"] for r in rows])
    lam = rows[0]["eigenvalue"]
    # covariance-scale values (~1e-2..1) make the 1e-12 per-addend floor
    # quantization relatively coarser than under raw scatter — unit norm
    # holds to ~1e-7, and bit-exactness is the DuckDB oracle's job
    assert abs(float(np.linalg.norm(v)) - 1.0) < 1e-6

    X = np.array(
        [
            r["embedding"]
            for r in t(spark, sf_dir, "embeddings")
            .select("embedding")
            .collect()
        ],
        dtype=np.float64,
    )
    Xc = X - X.mean(axis=0)
    S = (Xc.T @ Xc) / len(X)  # covariance, matching the scale-stable plan
    ref = np.full(64, 0.125)
    for _ in range(4):
        w = S @ ref
        ref = w / np.linalg.norm(w)
    ref_lam = float(np.linalg.norm(S @ ref / np.linalg.norm(ref)))
    assert np.allclose(v, ref, atol=1e-6)
    evals = np.linalg.eigvalsh(S)
    assert evals[0] - 1e-9 <= lam <= evals[-1] + 1e-9
    assert abs(lam - ref_lam) / ref_lam < 0.05


def test_ivf_served_index_memoized_and_pruned(spark, sf_dir):
    """The served-IVF row's two production claims: (1) the disk index is
    built ONCE — a second build call at the same (sf, params) returns the
    same artifact without retraining (manifest mtime unchanged); (2) the
    serve path scans the index with a PARTITION filter on the probed
    cluster ids, i.e. unprobed clusters' files are pruned, not read and
    discarded.  Plus the recall floor the oracle hashes."""
    import os

    from pyspark.sql import functions as F

    from bakery_big_data_spark.operators.similarity import (
        _IVF_INDEX_META,
        build_ivf_served_index,
        ivf_served_topk,
    )
    from bakery_big_data_spark.plans import REGISTRY
    from bakery_big_data_spark.plans.base import t

    path = build_ivf_served_index(spark, sf_dir)
    marker = os.path.join(path, _IVF_INDEX_META)
    mtime = os.path.getmtime(marker)
    assert build_ivf_served_index(spark, sf_dir) == path
    assert os.path.getmtime(marker) == mtime, "index was retrained on reuse"
    # partitionBy layout on disk
    assert any(
        e.startswith("_cluster=") for e in os.listdir(path)
    ), "index is not cluster-partitioned"

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    served = ivf_served_topk(
        spark, path, queries, "vec_id", "embedding", k=10, n_probe=8
    )
    plan = served._jdf.queryExecution().executedPlan().toString()
    scan = plan[plan.index("ivf_index") :]
    assert "PartitionFilters: [_cluster" in plan, "probe set must prune partitions"
    assert "INSET" in scan or "in(_cluster" in scan

    row = REGISTRY["similarity_ivf_served"].build(spark, sf_dir).collect()[0]
    assert row.meets_recall_floor
    # every served hit is a real corpus neighbor of a real query
    got = served.collect()
    assert got and all(r.q_id < 5 and r.q_id != r.c_id for r in got)


def test_ivf_served_index_detects_sibling_corpus_with_older_mtime(
    spark, sf_dir, tmp_path
):
    """A different corpus at a same-basename sibling path with an OLDER
    mtime must get its own index, not silently serve the first corpus's
    neighbors."""
    import os

    from pyspark.sql import functions as F

    from bakery_big_data_spark.operators.similarity import build_ivf_served_index
    from bakery_big_data_spark.plans.base import t

    # two same-basename sibling corpora, B's files strictly OLDER
    dir_a = os.path.join(tmp_path, "a", "sfSIB")
    dir_b = os.path.join(tmp_path, "b", "sfSIB")
    os.makedirs(dir_a)
    os.makedirs(dir_b)
    emb = t(spark, sf_dir, "embeddings").limit(64)
    emb.filter(F.col("vec_id") % 2 == 0).toPandas().to_parquet(
        os.path.join(dir_a, "embeddings.parquet")
    )
    emb.filter(F.col("vec_id") % 2 == 1).toPandas().to_parquet(
        os.path.join(dir_b, "embeddings.parquet")
    )
    old = os.path.getmtime(os.path.join(dir_a, "embeddings.parquet")) - 3600
    os.utime(os.path.join(dir_b, "embeddings.parquet"), (old, old))

    path_a = build_ivf_served_index(spark, dir_a, n_clusters=2)
    ids_a = {
        r.c_id for r in spark.read.parquet(path_a).select("c_id").collect()
    }
    assert ids_a and all(i % 2 == 0 for i in ids_a)

    path_b = build_ivf_served_index(spark, dir_b, n_clusters=2)
    ids_b = {
        r.c_id for r in spark.read.parquet(path_b).select("c_id").collect()
    }
    assert ids_b and all(i % 2 == 1 for i in ids_b), (
        "stale sibling-corpus index served"
    )


def test_hyperplane_prefix_property_and_scaled_params():
    """dedup_semantic_scaled's oracle masks ONE 12-bit signature per table
    down to k low bits — sound only if the first k of a 12-plane draw
    equal a k-plane draw (numpy Generator draws are sequential).  Pin the
    property and the Python/SQL-mirrored dial itself."""
    from bakery_big_data_spark.operators.similarity import hyperplane_planes
    from bakery_big_data_spark.plans.similarity import (
        semdedup_scaled_params,
    )

    for seed in (7, 1007, 11007):
        full = hyperplane_planes(12, 64, seed)
        for k in (4, 6, 11):
            assert hyperplane_planes(k, 64, seed) == full[:k]

    assert semdedup_scaled_params(125) == (4, 0)    # calibration floor
    assert semdedup_scaled_params(500) == (6, 1)    # sf0.001 / sf0.01
    assert semdedup_scaled_params(2000) == (8, 1)   # sf0.1
    assert semdedup_scaled_params(20000) == (11, 1)  # x10 corpus
    assert semdedup_scaled_params(200000) == (12, 1)  # x100 corpus (clamp)


def test_ivf_upsert_appends_servable_rows(spark, sf_dir):
    """The upsert path's two claims: (1) every nonzero-norm held-out
    vector lands in the cluster-partitioned layout with a valid cluster
    assignment; (2) an upserted vector is SERVABLE — probing with the
    vector itself returns it as the top cosine hit (its own assignment
    is the first probed cluster)."""
    from pyspark.sql import functions as F

    from bakery_big_data_spark.operators.similarity import (
        build_ivf_upserted_index,
        ivf_served_topk,
    )
    from bakery_big_data_spark.plans.base import t

    path = build_ivf_upserted_index(spark, sf_dir)
    emb = t(spark, sf_dir, "embeddings")
    idx = spark.read.parquet(path)

    # (1) counts: base + upserted == all nonzero-norm vectors, upserted
    # rows carry real cluster ids
    from bakery_big_data_spark.operators.similarity import with_norm2

    n_all = with_norm2(emb, "embedding", "_n2").count()
    assert idx.count() == n_all
    up = idx.filter(F.col("c_id") % 17 == 0)
    assert up.count() > 0
    n_clusters = idx.select("_cluster").distinct().count()
    assert up.filter(
        (F.col("_cluster") < 0) | (F.col("_cluster") >= 16)
    ).count() == 0 and n_clusters <= 16

    # (2) serve an upserted vector's own neighborhood: probing with the
    # vector itself must return the vector as a top hit (cosine 1 with
    # itself is excluded; instead assert it appears among ANOTHER
    # query's candidates when that query IS the vector + tiny noise —
    # simplest exact check: top-1 of a query equal to the upserted
    # vector is its exact duplicate or itself-excluded nearest; so we
    # check the vector is RETRIEVABLE: a self-query at k=1, n_probe=1
    # must hit its own cluster and return SOME neighbor)
    probe_vec = up.limit(1).collect()[0]
    q = spark.createDataFrame(
        [(999_999_999, [float(x) for x in probe_vec._cv])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    got = ivf_served_topk(
        spark, path, q, "vec_id", "embedding", k=5, n_probe=1
    ).collect()
    assert got, "upserted vector's own cluster served no candidates"
    # the nearest neighbor of the upserted vector's exact position must
    # include the upserted row itself (cosine 1.0, id != query id)
    assert any(r.c_id == probe_vec.c_id for r in got), (
        "upserted row not retrievable from its assigned cluster"
    )
