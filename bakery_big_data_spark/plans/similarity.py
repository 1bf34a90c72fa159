"""Similarity-search queries over ``embeddings.parquet`` — brute-force
cosine top-k (oracle-exact), embedding near-dup pairs (oracle-exact), and
LSH-bucketed ANN (rows-only; recall asserted in tests/test_similarity.py).

The DuckDB oracles compute dot products with order-exact ``list_reduce``
folds over the vector pairs — the same element order as the Spark side's
``F.aggregate``, so cosine values are bit-identical (per-product DECIMAL
casts were dropped: double→decimal rounding can differ cross-engine at a
1-ulp half boundary; see operators/similarity.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bakery_big_data_spark.operators.cache import PlanCache
from bakery_big_data_spark.operators.similarity import (
    ann_topk,
    brute_force_topk,
    hyperplane_planes,
    ivf_topk,
    near_dup_pairs,
)
from bakery_big_data_spark.plans.base import register, t

#: Persisted per-(session, sf) pair frames shared across query rows: the
#: exact all-pairs truth at cosine>=0.45 (near-dup row + recall row's
#: labeled verifier), the LSH candidate pairs at the same threshold
#: (recall row + SemDeDup canonicalization row), the 5-query brute-force
#: top-10 ground truth (five rows measure recall against the identical
#: frame), and the pinned-dial SemDeDup pairs on the vec_id<2000
#: certificate slice (scaled + clusters rows).  max_entries covers one
#: sf's full working set without LRU thrash during a catalog sweep.
_SIM_CACHE = PlanCache(max_entries=8)


def _bf_truth_topk(
    spark: SparkSession, sf_dir: str, nq: int = 5
) -> DataFrame:
    """Exact brute-force cosine top-10 ground truth — the recall baseline
    six rows compare against (bruteforce, ann_recall, ivf_recall,
    ivf_served, ivf_upsert_served at nq=5; matryoshka_recall's full-dim
    leg at nq=20).  One full-corpus scoring pass per (session, sf)
    instead of six (guide §1.2): the pass scores the UNION query set
    (vec_id < 20) once, and each consumer filters to its panel —
    per-query top-k is independent of which other queries share the
    pass, so the filtered frame is bit-identical to a dedicated
    nq-query pass.  The persisted frame is 20×10 rows."""
    full = _SIM_CACHE.get_or_build(
        spark,
        (sf_dir, "bf_topk20_k10"),
        lambda: brute_force_topk(
            t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 20),
            t(spark, sf_dir, "embeddings"),
            "vec_id",
            "embedding",
            k=10,
        ).persist(),
    )
    return full if nq >= 20 else full.filter(F.col("q_id") < nq)


def _sds_pinned_sample_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup pairs at the PINNED operating point (default 12×4 banding,
    threshold 0.45) over the deterministic vec_id < 2000 certificate
    slice — shared by dedup_semantic_scaled (labels them caught/missed)
    and dedup_semantic_clusters (contracts them to components)."""
    from bakery_big_data_spark.operators.similarity import (
        semantic_dedup_pairs,
    )

    return _SIM_CACHE.get_or_build(
        spark,
        (sf_dir, "sds_pinned_sample", 0.45),
        lambda: semantic_dedup_pairs(
            t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < _SDS_SAMPLE),
            "vec_id",
            "embedding",
            threshold=0.45,
        ).persist(),
    )


def _truth_pairs_045(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _SIM_CACHE.get_or_build(
        spark,
        (sf_dir, "near_dup_pairs", 0.45),
        lambda: near_dup_pairs(
            t(spark, sf_dir, "embeddings"), "vec_id", "embedding",
            threshold=0.45,
        ).persist(),
    )


def _semdedup_pairs_045(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bakery_big_data_spark.operators.similarity import (
        semantic_dedup_pairs,
    )

    return _SIM_CACHE.get_or_build(
        spark,
        (sf_dir, "semantic_dedup_pairs", 0.45),
        lambda: semantic_dedup_pairs(
            t(spark, sf_dir, "embeddings"), "vec_id", "embedding",
            threshold=0.45,
        ).persist(),
    )


def _sig_sql(planes: list[list[float]], vec_expr: str) -> str:
    """DuckDB expression for the hyperplane sign-bit signature of
    ``vec_expr`` — the SAME seeded planes ann_topk uses, embedded as
    literals (the planes are deterministic given the seed, so the static
    oracle string can carry them).  list_reduce is a sequential left fold,
    matching Spark's F.aggregate element order, so every dot product is
    bit-identical and every sign bit agrees even at the float boundary."""
    terms = []
    for j, plane in enumerate(planes):
        lits = ",".join(repr(float(v)) for v in plane)
        dot = (
            f"list_reduce(list_transform(list_zip({vec_expr}, [{lits}]),"
            f" s -> s[1] * s[2]), (a, b) -> a + b)"
        )
        terms.append(f"CASE WHEN {dot} >= 0 THEN {1 << j} ELSE 0 END")
    return "(" + " + ".join(terms) + ")"

# vectors as arrays with order-exact squared norms (list_reduce shares
# F.aggregate's element order, so every fold is bit-identical — see
# operators/similarity.py on why per-product DECIMAL casts are unsafe)
_FOLD_DOT = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE),"
    " list_transform(list_zip({a}, {b}), s -> s[1] * s[2])), (x, y) -> x + y)"
)
_VEC_CTE = f"""
    e AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), nrm AS MATERIALIZED (
      SELECT vec_id, v, n2 FROM (
        SELECT vec_id, v, {_FOLD_DOT.format(a='v', b='v')} AS n2 FROM e
      ) WHERE n2 > 0
    )
"""


@register(
    "similarity_topk_bruteforce",
    f"""
    WITH {_VEC_CTE}
    SELECT a.vec_id AS q_id, b.vec_id AS c_id,
           {_FOLD_DOT.format(a='a.v', b='b.v')} / sqrt(a.n2 * b.n2) AS cosine
    FROM nrm a JOIN nrm b ON a.vec_id <> b.vec_id
    WHERE a.vec_id < 5
    QUALIFY ROW_NUMBER() OVER (PARTITION BY a.vec_id
                               ORDER BY cosine DESC, b.vec_id) <= 10
    """,
    doc="Brute-force exact cosine top-10 for a 5-query set: broadcast query "
        "side over the corpus, map-only scoring, per-query top-k window — "
        "the ANN baseline; zip_with/aggregate order-exact dot products",
)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bf_truth_topk(spark, sf_dir)


@register(
    "embedding_cosine_near_dup_pairs",
    f"""
    WITH {_VEC_CTE}
    SELECT id_a, id_b, cosine FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {_FOLD_DOT.format(a='a.v', b='b.v')} / sqrt(a.n2 * b.n2) AS cosine
      FROM nrm a JOIN nrm b ON a.vec_id < b.vec_id
    ) WHERE cosine >= 0.45
    """,
    doc="Embedding-cosine near-duplicate pairs (threshold 0.45) — all-pairs "
        "exactness baseline with broadcast nested loop; the 100 TB candidate "
        "path is hyperplane bucketing (see similarity_ann_lsh / dedup LSH)",
)
def embedding_cosine_near_dup_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _truth_pairs_045(spark, sf_dir)


@register(
    "similarity_ann_lsh",
    f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), sig AS (
      SELECT vec_id, {_sig_sql(hyperplane_planes(6, 64, 7), 'v')} AS s0
      FROM e
    ), nrm AS MATERIALIZED (
      SELECT vec_id, v, n2 FROM (
        SELECT vec_id, v, {_FOLD_DOT.format(a='v', b='v')} AS n2 FROM e
      ) WHERE n2 > 0
    ), scored AS (
      SELECT a.vec_id AS q_id, b.vec_id AS c_id,
             {_FOLD_DOT.format(a='a.v', b='b.v')} / sqrt(a.n2 * b.n2)
               AS cosine
      FROM nrm a JOIN nrm b ON a.vec_id <> b.vec_id
      WHERE a.vec_id < 5
    )
    SELECT s.q_id, s.c_id, s.cosine FROM scored s
    JOIN sig sq ON sq.vec_id = s.q_id
    JOIN sig sc ON sc.vec_id = s.c_id
    WHERE bit_count(xor(CAST(sq.s0 AS BIGINT), CAST(sc.s0 AS BIGINT))) <= 1
    QUALIFY ROW_NUMBER() OVER (PARTITION BY s.q_id
                               ORDER BY s.cosine DESC, s.c_id) <= 10
    """,
    doc="ANN top-10 via random-hyperplane LSH (6 planes, 64 buckets, "
        "Hamming-1 multi-probe) + exact rerank of candidates — probes ~11% "
        "of the corpus per query instead of 100%.  UPGRADED from rows-only "
        "in r07: the oracle re-derives the seeded signature table as "
        "literals (same fold order, so every sign bit agrees) and "
        "restates Hamming-1 probe membership as bit_count(xor) <= 1 over "
        "the exact cosine ranking — bucket assignment, probe set, rerank "
        "order and the returned cosines are all hash-certified (the same "
        "re-derivation pattern as similarity_ann_recall, at the cheap "
        "1-table operating point this query runs)",
)
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return ann_topk(queries, emb, "vec_id", "embedding", k=10)


@register(
    "similarity_ann_recall",
    f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), sig AS (
      SELECT vec_id,
             {_sig_sql(hyperplane_planes(6, 64, 7), 'v')} AS s0,
             {_sig_sql(hyperplane_planes(6, 64, 1007), 'v')} AS s1,
             {_sig_sql(hyperplane_planes(6, 64, 2007), 'v')} AS s2,
             {_sig_sql(hyperplane_planes(6, 64, 3007), 'v')} AS s3
      FROM e
    ), nrm AS MATERIALIZED (
      SELECT vec_id, v, n2 FROM (
        SELECT vec_id, v, {_FOLD_DOT.format(a='v', b='v')} AS n2 FROM e
      ) WHERE n2 > 0
    ), scored AS (
      SELECT a.vec_id AS q_id, b.vec_id AS c_id,
             {_FOLD_DOT.format(a='a.v', b='b.v')} / sqrt(a.n2 * b.n2)
               AS cosine
      FROM nrm a JOIN nrm b ON a.vec_id <> b.vec_id
      WHERE a.vec_id < 5
    ), bf AS (
      SELECT q_id, c_id FROM scored
      QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
                                 ORDER BY cosine DESC, c_id) <= 10
    ), ann AS (
      SELECT s.q_id, s.c_id FROM scored s
      JOIN sig sq ON sq.vec_id = s.q_id
      JOIN sig sc ON sc.vec_id = s.c_id
      WHERE bit_count(xor(CAST(sq.s0 AS BIGINT), CAST(sc.s0 AS BIGINT))) <= 2
         OR bit_count(xor(CAST(sq.s1 AS BIGINT), CAST(sc.s1 AS BIGINT))) <= 2
         OR bit_count(xor(CAST(sq.s2 AS BIGINT), CAST(sc.s2 AS BIGINT))) <= 2
         OR bit_count(xor(CAST(sq.s3 AS BIGINT), CAST(sc.s3 AS BIGINT))) <= 2
      QUALIFY ROW_NUMBER() OVER (PARTITION BY s.q_id
                                 ORDER BY s.cosine DESC, s.c_id) <= 10
    )
    SELECT q.vec_id AS q_id,
           CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hits,
           CAST(COALESCE(h.n, 0) AS DOUBLE) / 10 AS recall_at_10
    FROM (SELECT vec_id FROM nrm WHERE vec_id < 5) q
    LEFT JOIN (
      SELECT bf.q_id, COUNT(*) AS n
      FROM bf JOIN ann USING (q_id, c_id) GROUP BY bf.q_id
    ) h ON h.q_id = q.vec_id
    """,
    doc="Quantitative ANN quality row: recall@10 of the hyperplane-LSH "
        "path at its high-recall operating point (L=4 tables × 6 seeded "
        "planes, Hamming-2 multi-probe, exact rerank — recall@10 ≈ 0.96 "
        "even on adversarial uniform-random embeddings) against the "
        "in-plan brute-force baseline, per query.  The oracle re-derives "
        "ALL FOUR signature tables in DuckDB — the seeded planes are "
        "embedded as literals and folded in Spark's element order "
        "(list_reduce ≡ F.aggregate), and any-table Hamming-2 probe "
        "membership becomes an OR of bit_count(xor) <= 2 — so the hash "
        "check certifies bucket assignment, probe set, rerank order, AND "
        "the resulting recall end-to-end across engines (upgrade of the "
        "rows-only similarity_ann_lsh)",
)
def similarity_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    ann = ann_topk(
        queries,
        emb,
        "vec_id",
        "embedding",
        k=10,
        num_tables=4,
        probe_hamming=2,
    ).select("q_id", "c_id")
    bf = _bf_truth_topk(spark, sf_dir).select("q_id", "c_id")
    hits = bf.join(ann, ["q_id", "c_id"]).groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    from bakery_big_data_spark.operators.similarity import with_norm2

    # zero-norm queries have no defined neighbors — keep the base set
    # aligned with the norm-filtered scoring paths (and the oracle's nrm)
    base = with_norm2(queries, "embedding").select(
        F.col("vec_id").alias("q_id")
    )
    return base.join(hits, "q_id", "left").select(
        "q_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
        (F.coalesce(F.col("n_hits"), F.lit(0)).cast("double") / 10).alias(
            "recall_at_10"
        ),
    )


_FOLD_D2 = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE),"
    " list_transform(list_zip({a}, {b}),"
    " s -> (s[1] - s[2]) * (s[1] - s[2]))), (x, y) -> x + y)"
)


def _lloyd_ivf_oracle(
    n_clusters: int = 16,
    n_probe: int = 3,
    n_iters: int = 2,
    k: int = 10,
) -> str:
    """Unrolled-CTE re-derivation of the WHOLE portable IVF pipeline —
    init centroids, ``n_iters`` Lloyd rounds (order-exact dist2 argmin +
    fixed-point centroid means), final assignment, probe, cosine rerank —
    so the top-k row is hash-certified TRAINING INCLUDED (same unrolled
    pattern as the BPE merge oracle).  Every float op mirrors the Spark
    fold order; centroid means go through bigint fixed-point sums, so the
    trained quantizer is bit-identical cross-engine."""

    def asg(name: str, cent: str) -> str:
        d2 = _FOLD_D2.format(a="n.v", b="c.cv")
        return f"""{name} AS MATERIALIZED (
      SELECT vec_id, v, n2, j FROM (
        SELECT n.vec_id, n.v, n.n2, c.j,
               row_number() OVER (PARTITION BY n.vec_id
                                  ORDER BY {d2}, c.j) AS rk
        FROM nrm n CROSS JOIN {cent} c
      ) WHERE rk = 1
    )"""

    def upd(name: str, prev_cent: str, asg_name: str) -> str:
        return f"""{name} AS MATERIALIZED (
      SELECT c.j, COALESCE(u.cv, c.cv) AS cv
      FROM {prev_cent} c LEFT JOIN (
        SELECT j, list(cval ORDER BY pos) AS cv FROM (
          SELECT j, pos,
                 CAST(SUM(CAST(FLOOR(val * 1e12) AS BIGINT)) AS DOUBLE)
                   / 1e12 / COUNT(*) AS cval
          FROM (SELECT j, generate_subscripts(v, 1) AS pos,
                       unnest(v) AS val
                FROM {asg_name})
          GROUP BY j, pos
        ) GROUP BY j
      ) u ON u.j = c.j
    )"""

    ctes = [
        f"""cent0 AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS j,
             v AS cv
      FROM (SELECT vec_id, v FROM nrm ORDER BY vec_id LIMIT {n_clusters})
    )"""
    ]
    for it in range(n_iters):
        ctes.append(asg(f"asg{it}", f"cent{it}"))
        ctes.append(upd(f"cent{it + 1}", f"cent{it}", f"asg{it}"))
    ctes.append(asg("asgf", f"cent{n_iters}"))
    d2q = _FOLD_D2.format(a="q.v", b="c.cv")
    dotqc = _FOLD_DOT.format(a="p.qv", b="a.v")
    cte_block = ",\n    ".join(ctes)
    return f"""
    WITH {_VEC_CTE}, {cte_block},
    probes AS MATERIALIZED (
      SELECT q_id, qv, qn, j FROM (
        SELECT q.vec_id AS q_id, q.v AS qv, q.n2 AS qn, c.j,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {d2q}, c.j) AS rk
        FROM (SELECT * FROM nrm WHERE vec_id < 5) q
        CROSS JOIN cent{n_iters} c
      ) WHERE rk <= {n_probe}
    )
    SELECT q_id, c_id, cosine FROM (
      SELECT p.q_id, a.vec_id AS c_id,
             {dotqc} / sqrt(p.qn * a.n2) AS cosine,
             row_number() OVER (
               PARTITION BY p.q_id
               ORDER BY {dotqc} / sqrt(p.qn * a.n2) DESC, a.vec_id) AS rk
      FROM probes p JOIN asgf a ON a.j = p.j
      WHERE a.vec_id <> p.q_id
    ) WHERE rk <= {k}
    """


@register(
    "similarity_ivf_topk",
    _lloyd_ivf_oracle(),
    doc="IVF ANN top-10, hash-certified TRAINING INCLUDED (upgraded from "
        "rows-only): the coarse quantizer is a fixed-iteration Lloyd "
        "k-means whose every step is engine-portable — id-ordered init, "
        "order-exact dist2 argmin (ties -> smaller cluster), FIXED-POINT "
        "centroid means (bigint floor(val*1e12) sums: order-free AND "
        "bit-identical cross-engine, where a float-sum mean would drift "
        "both ways) — then 3-of-16 nearest-centroid probes and exact "
        "cosine rerank.  The oracle re-derives init + both Lloyd rounds + "
        "assignment + probe + rerank as an unrolled CTE (the BPE-oracle "
        "pattern), so the hash certifies the trained index itself, not "
        "just the lookup.  The ML-lib kmeans|| quantizer stays the "
        "production trainer (operators/similarity.py::ivf_topk), quality-"
        "certified by similarity_ivf_recall; this row certifies the IVF "
        "mechanics end to end "
        "(operators/similarity.py::lloyd_ivf_topk)",
)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bakery_big_data_spark.operators.similarity import lloyd_ivf_topk

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return lloyd_ivf_topk(
        queries, emb, "vec_id", "embedding", k=10,
        cache_key=sf_dir + ":lloyd",
    )


@register(
    "embedding_label_centroids",
    """
    WITH e AS (
      SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), x AS (
      SELECT label, unnest(v) AS val, generate_subscripts(v, 1) AS pos FROM e
    )
    SELECT label,
           CAST(pos AS INT) AS dim_idx,
           CAST(SUM(CAST(FLOOR(val * 1e12) AS BIGINT)) AS DOUBLE)
             / 1e12 / COUNT(*) AS centroid_val,
           COUNT(*) AS n_vectors
    FROM x GROUP BY label, pos
    """,
    doc="Per-label mean-pooled embedding centroids at (label, dimension) "
        "grain — the centroid-update step of IVF/KMeans index training and "
        "the class-prototype build of a retrieval pipeline, as a pure "
        "aggregate.  Positional explode → one hash aggregation keyed "
        "(label, dim): partial sums combine map-side, so the shuffle "
        "carries at most n_labels x dim rows per partition regardless of "
        "corpus size; decimal-exact sums keep values bit-identical to the "
        "oracle under any partitioning",
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    x = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val"),
    )
    # floor-quantize to 1e-12 BEFORE summing (not DECIMAL rounding): float32
    # inputs are finite binary fractions, so their doubles can tie EXACTLY at
    # the decimal midpoint (e.g. 0.1983642578125 at scale 12) and Spark
    # (half-up) and DuckDB (half-even) then round apart.  floor() is
    # bit-identical in both engines; the bigint sum is order-free and exact.
    return x.groupBy("label", (F.col("pos") + 1).cast("int").alias("dim_idx")).agg(
        (
            F.sum(F.floor(F.col("val") * 1e12).cast("bigint")).cast("double")
            / F.lit(1e12)
            / F.count(F.lit(1))
        ).alias("centroid_val"),
        F.count(F.lit(1)).alias("n_vectors"),
    )


@register(
    "embedding_int8_quantize",
    """
    WITH e AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), m AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) AS max_abs
      FROM e
    ), s AS (
      SELECT vec_id, v, max_abs,
             CAST(127 AS DOUBLE) / max_abs AS scale
      FROM m WHERE max_abs > 0
    ), x AS (
      SELECT vec_id, max_abs, scale, unnest(v) AS val FROM s
    ), q AS (
      SELECT vec_id, max_abs, scale, val,
             CAST(GREATEST(-127, LEAST(127,
               CAST(floor(val * scale + 0.5) AS BIGINT))) AS BIGINT) AS qv
      FROM x
    )
    SELECT vec_id, max_abs,
           CAST(SUM(qv) AS BIGINT) AS q_sum,
           CAST(SUM(abs(qv)) AS BIGINT) AS q_l1,
           MAX(abs(val - qv / scale)) AS recon_err_max,
           MAX(abs(val - qv / scale)) <= CAST(5 AS DOUBLE) / (10 * scale)
             AS within_half_step
    FROM q GROUP BY vec_id, max_abs, scale
    """,
    doc="Int8 scalar quantization of the embedding store (the 4x storage/"
        "bandwidth lever for a 100 TB vector corpus: float32 -> int8 with "
        "per-vector max-abs scaling).  Map-only Spark pass (higher-order "
        "fold per row, no explode/shuffle); emits exact-arithmetic "
        "certificates instead of the array itself: signed/L1 checksums of "
        "the quantized codes (BIGINT-exact) and the max reconstruction "
        "error, asserted <= the half-step bound 0.5/scale.  Every float op "
        "is a single IEEE mul/div/floor — bit-identical cross-engine, so "
        "the whole quantizer is hash-certified",
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    base = emb.select(
        "vec_id",
        v.alias("v"),
        F.array_max(F.transform(v, lambda x: F.abs(x))).alias("max_abs"),
    ).filter(F.col("max_abs") > 0)
    scale = (F.lit(127).cast("double") / F.col("max_abs")).alias("scale")
    scaled = base.select("vec_id", "v", "max_abs", scale)
    q = F.transform(
        F.col("v"),
        lambda x: F.greatest(
            F.lit(-127).cast("bigint"),
            F.least(
                F.lit(127).cast("bigint"),
                F.floor(x * F.col("scale") + F.lit(0.5)),
            ),
        ),
    )
    qd = scaled.withColumn("q", q)
    recon_err = F.array_max(
        F.zip_with(
            F.col("v"), F.col("q"), lambda x, qi: F.abs(x - qi / F.col("scale"))
        )
    )
    return qd.select(
        "vec_id",
        "max_abs",
        F.aggregate(
            F.col("q"), F.lit(0).cast("bigint"), lambda a, x: a + x
        ).alias("q_sum"),
        F.aggregate(
            F.col("q"), F.lit(0).cast("bigint"), lambda a, x: a + F.abs(x)
        ).alias("q_l1"),
        recon_err.alias("recon_err_max"),
        (
            recon_err
            <= F.lit(5).cast("double") / (F.lit(10) * F.col("scale"))
        ).alias("within_half_step"),
    )


def _rp_oracle() -> str:
    from bakery_big_data_spark.operators.similarity import rademacher_planes

    comps = []
    for i, plane in enumerate(rademacher_planes(8, 64, seed=11)):
        lits = ",".join(str(w) for w in plane)
        # Order-exact left fold (the _sig_sql pattern): ±1 products are
        # float-exact and list_reduce matches F.aggregate's element order,
        # so the double sum is bit-identical.  A per-product DECIMAL cast
        # is NOT safe here: double→decimal rounding at a 1-ulp half
        # boundary can differ between engines (observed once in 256k
        # products at sf0.01).
        s = (
            f"CAST(list_reduce(list_prepend(CAST(0 AS DOUBLE),"
            f" list_transform(list_zip(v, [{lits}]), s -> s[1] * s[2])),"
            f" (a, b) -> a + b) * 0.25 AS DOUBLE) AS p{i}"
        )
        comps.append(s)
    cols = ",\n           ".join(comps)
    return f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    )
    SELECT vec_id,
           {cols}
    FROM e
    """


@register(
    "embedding_random_projection",
    _rp_oracle(),
    doc="Johnson-Lindenstrauss compression for the 100 TB embedding store: "
        "8-component Rademacher (±1) projection of the 64-dim vectors, "
        "scaled by the fixed constant 0.25 — exact in binary, and any "
        "uniform scale preserves the distance RATIOS the JL guarantee is "
        "about (1/sqrt(k) would not be float-exact).  ±1 entries make "
        "every product a sign flip (float-exact; Achlioptas 2003 "
        "'database-friendly' projections), and each component is an "
        "ORDER-EXACT in-row double fold (the _sig_sql pattern — "
        "F.aggregate and list_reduce share element order, so sums are "
        "bit-identical; a per-product DECIMAL cast is NOT: double→decimal "
        "rounding at a 1-ulp half boundary flipped one of 256k products "
        "between engines).  Map-only: no explode, no shuffle — the "
        "projection streams out of the scan.  The reduced vectors are "
        "what the ANN index at scale actually stores: 8 doubles vs 64 "
        "floats",
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bakery_big_data_spark.operators.similarity import rademacher_planes

    planes = rademacher_planes(8, 64, seed=11)
    emb = t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")

    def comp(plane: list[int]) -> F.Column:
        prods = F.zip_with(
            v,
            F.array(*[F.lit(float(w)) for w in plane]),
            lambda x, w: x * w,
        )
        return (
            F.aggregate(prods, F.lit(0.0), lambda a, b: a + b) * F.lit(0.25)
        )

    return emb.select(
        "vec_id", *[comp(p).alias(f"p{i}") for i, p in enumerate(planes)]
    )


@register(
    "contrastive_negative_sampling",
    """
    WITH n AS (
      SELECT COUNT(*) AS n_vecs FROM embeddings
    ), anchors AS (
      SELECT vec_id AS anchor_id, label AS anchor_label
      FROM embeddings WHERE vec_id < 50
    ), cands AS (
      SELECT a.anchor_id, a.anchor_label,
             i AS try_idx,
             CAST((a.anchor_id * 2654435761 + i * 40503 + 97) % n.n_vecs
                  AS BIGINT) AS cand_id
      FROM anchors a, n, range(1, 25) t(i)
    ), valid AS (
      SELECT c.anchor_id, c.anchor_label, c.try_idx, c.cand_id,
             e.label AS cand_label
      FROM cands c JOIN embeddings e ON e.vec_id = c.cand_id
      WHERE c.cand_id <> c.anchor_id AND e.label <> c.anchor_label
    )
    SELECT anchor_id, cand_id AS negative_id, cand_label AS negative_label,
           CAST(rk AS BIGINT) AS neg_rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY anchor_id ORDER BY try_idx, cand_id) AS rk
      FROM (
        SELECT DISTINCT ON (anchor_id, cand_id)
               anchor_id, cand_id, cand_label, try_idx
        FROM valid
        ORDER BY anchor_id, cand_id, try_idx
      )
    ) WHERE rk <= 8
    """,
    doc="Deterministic negative sampling for contrastive training: each "
        "anchor draws candidate ids from a key-derived LCG sequence "
        "(layout- and engine-independent — F.rand would resample on every "
        "re-run and leak across epochs), drops self and same-label hits "
        "(the standard in-batch false-negative filter), dedupes repeat "
        "draws keeping the earliest try, and keeps the first 8 survivors "
        "in draw order.  Plan: candidate synthesis is a map-side explode "
        "of 24 tries per anchor; the only shuffles are the label-lookup "
        "equi-join and the per-anchor top-k window — no RNG state, no "
        "driver loop, reproducible at any scale",
)
def contrastive_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "label")
    n_row = emb.agg(F.count(F.lit(1)).alias("n_vecs"))
    anchors = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("anchor_id"), F.col("label").alias("anchor_label")
    )
    cands = (
        anchors.crossJoin(F.broadcast(n_row))
        .select(
            "anchor_id",
            "anchor_label",
            F.explode(F.sequence(F.lit(1), F.lit(24))).alias("try_idx"),
            "n_vecs",
        )
        .withColumn(
            "cand_id",
            (
                F.col("anchor_id").cast("bigint") * 2654435761
                + F.col("try_idx").cast("bigint") * 40503
                + 97
            )
            % F.col("n_vecs"),
        )
    )
    valid = (
        cands.join(
            emb.select(
                F.col("vec_id").alias("cand_id"),
                F.col("label").alias("cand_label"),
            ),
            "cand_id",
        )
        .filter(
            (F.col("cand_id") != F.col("anchor_id"))
            & (F.col("cand_label") != F.col("anchor_label"))
        )
    )
    # dedupe repeat draws of the same candidate, keeping the earliest try
    first_try = Window.partitionBy("anchor_id", "cand_id").orderBy("try_idx")
    deduped = (
        valid.withColumn("_ft", F.row_number().over(first_try))
        .filter(F.col("_ft") == 1)
        .drop("_ft")
    )
    rank_w = Window.partitionBy("anchor_id").orderBy("try_idx", "cand_id")
    return (
        deduped.withColumn("rk", F.row_number().over(rank_w))
        .filter(F.col("rk") <= 8)
        .select(
            "anchor_id",
            F.col("cand_id").alias("negative_id"),
            F.col("cand_label").alias("negative_label"),
            F.col("rk").cast("bigint").alias("neg_rank"),
        )
    )


@register(
    "similarity_ivf_recall",
    """
    SELECT CAST(5 AS BIGINT) AS n_queries,
           CAST(50 AS BIGINT) AS n_possible,
           TRUE AS meets_recall_floor
    FROM embeddings LIMIT 1
    """,
    doc="Quantitative IVF quality row (the bound-certification pattern of "
        "similarity_ann_recall / the sketch rows): the 5-query IVF result "
        "at n_probe=8 of 16 clusters is intersected with the in-plan "
        "brute-force top-10, and the TOTAL hit count across queries must "
        "clear 25/50 (aggregate recall >= 0.5).  Observed >= 35/50 on "
        "adversarial uniform-random vectors at both sf0.01 and sf0.1 — "
        "clustered real embeddings recall far higher — so the bound "
        "carries ~1.4x margin.  The candidate sets themselves are "
        "quantizer-specific (never hashable); the floor is what any "
        "engine must reproduce",
)
def similarity_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    ann = ivf_topk(
        queries, emb, "vec_id", "embedding", k=10, n_probe=8,
        cache_key=sf_dir + ":recall8",
    ).select("q_id", "c_id")
    bf = _bf_truth_topk(spark, sf_dir).select("q_id", "c_id")
    hits = bf.join(ann, ["q_id", "c_id"]).agg(
        F.count(F.lit(1)).alias("_hits")
    )
    return hits.select(
        F.lit(5).cast("bigint").alias("n_queries"),
        F.lit(50).cast("bigint").alias("n_possible"),
        (F.col("_hits") >= 25).alias("meets_recall_floor"),
    )


_SEMDEDUP_TABLES = 12
_SEMDEDUP_PLANES = 4


def _semdedup_bucket_cond() -> str:
    """OR-of-tables collision condition for the semantic-dedup oracle:
    same seeds/planes/band count as the Spark operator's defaults (exact
    bucket equality — the no-probe banding operating point)."""
    return " OR ".join(
        f"sa.s{i} = sb.s{i}" for i in range(_SEMDEDUP_TABLES)
    )


_SEMDEDUP_SIG_SQL = ", ".join(
    f"{_sig_sql(hyperplane_planes(_SEMDEDUP_PLANES, 64, 7 + 1000 * i), 'v')}"
    f" AS s{i}"
    for i in range(_SEMDEDUP_TABLES)
)

_SEMDEDUP_PAIRS_SQL = f"""
    sig AS (
      SELECT vec_id, {_SEMDEDUP_SIG_SQL} FROM e
    ), sd_pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {_FOLD_DOT.format(a='a.v', b='b.v')} / sqrt(a.n2 * b.n2)
               AS cosine
      FROM nrm a JOIN nrm b ON a.vec_id < b.vec_id
      JOIN sig sa ON sa.vec_id = a.vec_id
      JOIN sig sb ON sb.vec_id = b.vec_id
      WHERE ({_semdedup_bucket_cond()})
        AND {_FOLD_DOT.format(a='a.v', b='b.v')} / sqrt(a.n2 * b.n2) >= 0.45
    )
"""


_SEMDEDUP_CANON_SQL = f"""
    WITH {_VEC_CTE}, {_SEMDEDUP_PAIRS_SQL},
    nbr AS (
      SELECT id_a AS vec_id, id_b AS nb FROM sd_pairs
      UNION ALL SELECT id_b, id_a FROM sd_pairs
    )
    SELECT e.vec_id,
           LEAST(e.vec_id, COALESCE(MIN(n.nb), e.vec_id)) AS canonical_id,
           e.vec_id = LEAST(e.vec_id, COALESCE(MIN(n.nb), e.vec_id))
             AS is_kept
    FROM e LEFT JOIN nbr n ON e.vec_id = n.vec_id
    GROUP BY e.vec_id
    """


@register(
    "dedup_semantic_embedding",
    _SEMDEDUP_CANON_SQL,
    doc="SemDeDup-shaped SEMANTIC dedup over the embedding column (Abbas "
        "et al. 2023): near-dup pairs at cosine >= 0.45 from multi-table "
        "hyperplane-LSH candidates (L=12 tables x 4 seeded planes, "
        "exact-bucket — probe_hamming=0, the semantic_dedup_pairs "
        "default; work is sum(bucket^2) per table, never all-pairs) -> "
        "exact order-exact "
        "cosine gate -> min-id star contraction; every vector keeps an "
        "auditable (canonical_id, is_kept) row, zero-norm vectors "
        "canonicalize to themselves.  The oracle re-derives all four "
        "signature tables as literals and restates probe membership as "
        "OR(bit_count(xor) <= 2), so the hash certifies bucketing, "
        "probing, the cosine gate, AND the contraction "
        "(operators/similarity.py::semantic_dedup)",
)
def dedup_semantic_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bakery_big_data_spark.operators.similarity import semantic_dedup

    emb = t(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb,
        "vec_id",
        "embedding",
        threshold=0.45,
        pairs=_semdedup_pairs_045(spark, sf_dir),
    )


@register(
    "dedup_semantic_recall",
    f"""
    WITH {_VEC_CTE}, {_SEMDEDUP_PAIRS_SQL},
    truth AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {_FOLD_DOT.format(a='a.v', b='b.v')} / sqrt(a.n2 * b.n2)
               AS cosine
      FROM nrm a JOIN nrm b ON a.vec_id < b.vec_id
      WHERE {_FOLD_DOT.format(a='a.v', b='b.v')} / sqrt(a.n2 * b.n2) >= 0.45
    )
    SELECT t.id_a, t.id_b, t.cosine,
           p.id_a IS NOT NULL AS caught_by_lsh
    FROM truth t
    LEFT JOIN sd_pairs p ON t.id_a = p.id_a AND t.id_b = p.id_b
    """,
    doc="Quantitative certification of the semantic-dedup scale path: "
        "every TRUE near-dup pair (exact all-pairs cosine >= 0.45 — the "
        "labeled verifier, blocked-matmul Arrow path) flagged with whether "
        "the LSH-bucketed candidate generation caught it.  Measured "
        "caught/true = 13/14 at sf0.01, 135/144 at sf0.1 — the oracle "
        "hash-certifies the per-pair flags, so the recall figure is "
        "STATED TRUE cross-engine rather than asserted (same pattern as "
        "similarity_ann_recall)",
)
def dedup_semantic_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    truth = _truth_pairs_045(spark, sf_dir)
    lsh = _semdedup_pairs_045(spark, sf_dir).select(
        "id_a", "id_b", F.lit(True).alias("_c")
    )
    return (
        truth.join(lsh, ["id_a", "id_b"], "left")
        .select(
            "id_a",
            "id_b",
            "cosine",
            F.coalesce(F.col("_c"), F.lit(False)).alias("caught_by_lsh"),
        )
    )


@register(
    "streaming_semantic_ingest_gate",
    _SEMDEDUP_CANON_SQL,
    doc="STREAMING semantic ingest gate == batch SemDeDup "
        "canonicalization, certified by hash — the embedding-space analog "
        "of streaming_dedup_ingest_gate (dedup-at-the-well for vector "
        "corpora): streaming/dedup_gate.py::run_streaming_semantic_gate "
        "replays the embeddings as vec-id-ordered micro-batches; each "
        "foreachBatch probes the new vectors' hyperplane-LSH signatures "
        "(L=12 tables x 4 seeded planes — the batch operating point) "
        "against the accumulated bucket index, verifies candidates with "
        "the order-exact cosine fold (bit-identical to the oracle's "
        "list_reduce), and decides keep/drop AT ARRIVAL with "
        "batch-id-guarded state commits (checkpoint re-delivery "
        "exactly-once).  Ordered arrival makes greedy first-wins equal "
        "the batch star contraction, so the oracle is the SAME "
        "re-derived-signature SQL as dedup_semantic_embedding",
)
def streaming_semantic_ingest_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from bakery_big_data_spark.sources.store import materialize, table_files
    from bakery_big_data_spark.streaming.dedup_gate import (
        run_streaming_semantic_gate,
    )

    def build(base: str) -> None:
        dec = run_streaming_semantic_gate(spark, sf_dir, base, n_chunks=4)
        dec.write.parquet(f"{base}/decisions_out")

    base = materialize(
        spark, "streaming_semantic_ingest_gate",
        table_files(sf_dir, "embeddings"), build,
    )
    return spark.read.parquet(f"{base}/decisions_out")


_PCA_ITERS = 4


def _pca_oracle(iters: int) -> str:
    """Unrolled power-iteration oracle: scatter-matrix build + ``iters``
    matrix-vector rounds, restating the identical floor-quantized
    integer sums (the embedding_label_centroids convention — DECIMAL
    rounding of full-precision floats can tie at decimal midpoints
    where Spark half-up and DuckDB half-even split; floor cannot)."""
    parts = [
        """
    WITH e AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), xl AS MATERIALIZED (
      SELECT vec_id, generate_subscripts(v, 1) - 1 AS j, unnest(v) AS val
      FROM e
    ), mu AS MATERIALIZED (
      SELECT j,
             CAST(SUM(CAST(FLOOR(val * 1e12) AS BIGINT)) AS DOUBLE) / 1e12
               / COUNT(*) AS m
      FROM xl GROUP BY j
    ), cx AS MATERIALIZED (
      SELECT xl.vec_id, xl.j, xl.val - mu.m AS c
      FROM xl JOIN mu ON xl.j = mu.j
    ), smat AS MATERIALIZED (
      SELECT a.j AS j, b.j AS k,
             CAST(SUM(CAST(FLOOR(a.c * b.c * 1e12) AS BIGINT)) AS DOUBLE)
               / 1e12 / COUNT(*) AS s
      FROM cx a JOIN cx b ON a.vec_id = b.vec_id
      GROUP BY a.j, b.j
    ), v0 AS (
      SELECT j AS k, 0.125 AS vk FROM mu
    )"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""", w{i} AS MATERIALIZED (
      SELECT s.j,
             CAST(SUM(CAST(FLOOR(s.s * v.vk * 1e12) AS BIGINT)) AS DOUBLE)
               / 1e12 AS w
      FROM smat s JOIN v{i - 1} v ON s.k = v.k
      GROUP BY s.j
    ), n{i} AS MATERIALIZED (
      SELECT sqrt(CAST(SUM(CAST(FLOOR(w * w * 1e12) AS BIGINT)) AS DOUBLE)
                  / 1e12) AS nrm
      FROM w{i}
    ), v{i} AS MATERIALIZED (
      SELECT j AS k, w / nrm AS vk FROM w{i}, n{i}
    )"""
        )
    parts.append(
        f"""
    SELECT CAST(v.k AS INT) AS dim_idx, v.vk AS component,
           n.nrm AS eigenvalue
    FROM v{iters} v, n{iters} n
    """
    )
    return "".join(parts)


@register(
    "embedding_pca_power_iteration",
    _pca_oracle(_PCA_ITERS),
    doc="Distributed PCA — top principal component of the embedding "
        "corpus via scatter-matrix aggregation + fixed-round power "
        "iteration, every float op hash-certified.  The 100 TB-relevant "
        "stage is the SCATTER MATRIX: each row expands to its dim^2 "
        "centered outer products inside one codegen'd projection "
        "(nested transform + flatten, no join, no shuffle before the "
        "agg), and the (j,k)-keyed hash aggregation combines map-side, "
        "so the shuffle carries at most dim^2 partials per partition "
        "regardless of corpus size.  The iteration then runs on the "
        "materialized dim^2-cell frame with a LINEAR plan: the matvec "
        "is one 64-row hash agg and the normalization pulls the norm "
        "from an unpartitioned WINDOW over the same frame — so every "
        "round references the previous round's frame exactly ONCE and "
        "the whole k-round loop is one lazy plan with one lineage cut "
        "total (the former per-round agg+crossJoin referenced w twice, "
        "forcing an eager localCheckpoint per round — ~5 driver-blocking "
        "jobs this plan doesn't have).  Numeric discipline: means, "
        "covariance cells (scatter/n — raw scatter grows with corpus "
        "size and overflowed the fixed-point norm at the ×100 stress "
        "corpus; covariance keeps iteration values O(variance) at any "
        "scale), matvec sums, and the norm all floor-quantize addends "
        "at 1e-12 (the embedding_label_centroids convention — "
        "full-precision float addends are where decimal half-up vs "
        "half-even rounding diverges) and SUM exactly in DECIMAL(38,0) "
        "(int64 accumulators overflow once n addends of ~1e12 units "
        "pass 9e18; DuckDB's SUM(BIGINT) is HUGEINT already); integer "
        "sums are order-free, so the window-summed "
        "norm is bit-identical to the former global agg and the "
        f"oracle's unrolled {_PCA_ITERS}-round CTE chain certifies the "
        "trained component and eigenvalue bit-for-bit.  "
        "Sign/convergence are pinned by the fixed all-positive start "
        "vector and fixed round count",
)
def embedding_pca_power_iteration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    from bakery_big_data_spark.operators.checkpointing import cut_lineage

    q = F.lit(1e12)

    # Addends are floor-quantized (bit-identical cross-engine) but the
    # SUM runs in DECIMAL(38,0), not BIGINT: the scatter sum is n
    # addends of ~1e12-unit magnitude, so an int64 accumulator overflows
    # once n*|cell| passes ~9e18 — the ×100 stress corpus (200k vectors)
    # found exactly that (ARITHMETIC_OVERFLOW in the norm window), and a
    # 100 TB corpus is far past it.  DuckDB's SUM(BIGINT) already
    # accumulates in HUGEINT; decimal(38,0) is Spark's exact-integer
    # twin, still map-side combinable.
    def qsum(col):
        return (
            F.sum(F.floor(col * q).cast("decimal(38,0)")).cast("double") / q
        )

    def qwin(col):
        """Window twin of qsum (unpartitioned frame-wide sum): the SAME
        floor-quantized addends and order-free exact-integer sum, but
        available inside a projection — so the normalization step can
        reference the matvec frame once instead of agg+crossJoin'ing it
        (which references it twice and doubles the plan per round)."""
        return (
            F.sum(F.floor(col * q).cast("decimal(38,0)"))
            .over(Window.partitionBy())
            .cast("double")
            / q
        )

    from bakery_big_data_spark.plans.base import spread

    # spread: the scatter expansion is dim²/2 products PER ROW — CPU-bound
    # work that would serialize on the single input split a small parquet
    # arrives as (no-op at real scale, where the scan has many splits)
    emb = spread(
        t(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
    )
    xl = emb.select(F.posexplode("v").alias("j", "val"))
    mu = xl.groupBy("j").agg(
        (qsum(F.col("val")) / F.count(F.lit(1))).alias("m")
    )
    mu_arr = mu.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "m"))),
            lambda s: s["m"],
        ).alias("mu")
    )
    centered = emb.crossJoin(F.broadcast(mu_arr)).select(
        F.zip_with("v", "mu", lambda a, b: a - b).alias("c")
    )
    # Only the UPPER triangle (k >= j) is generated, exploded, and
    # aggregated — dim(dim+1)/2 products per row instead of dim², halving
    # the corpus-sized explode+shuffle (the query's one corpus-∝ stage).
    # The lower triangle is mirrored at matrix-build time, which is
    # bit-exact: IEEE multiplication commutes, so cell (k,j) would sum
    # the identical floor-quantized addends the oracle computes for it.
    outer = F.transform(
        F.col("c"),
        lambda xj, j: F.transform(
            # slice from j+1 (1-based) onward: ONLY k >= j is ever built —
            # no discarded lower-triangle structs to construct and filter
            F.slice(F.col("c"), j + 1, F.size(F.col("c")) - j),
            lambda xk, k: F.struct(
                j.alias("j"), (j + k).alias("k"), (xj * xk).alias("p")
            ),
        ),
    )
    upper = F.flatten(outer)
    pairs = centered.select(F.explode(upper).alias("s")).select(
        F.col("s.j").alias("j"), F.col("s.k").alias("k"), F.col("s.p").alias("p")
    )
    # cut BEFORE the mirror union: both union legs reference the frame,
    # and an uncut agg would execute its corpus-sized lineage twice (the
    # r09 connected-components unionAll lesson).  This is the ONE
    # lineage cut in the query — the iteration below stays lazy.
    # Cells are COVARIANCE (scatter / n), not raw scatter: scatter
    # magnitudes grow linearly with corpus size, so the downstream
    # fixed-point matvec/norm quantization would both overflow and lose
    # its 1e-12 resolution at scale; covariance keeps every iteration
    # value O(feature variance) at ANY corpus size.  The eigenvector is
    # unchanged (scaling preserves direction); the eigenvalue is the
    # covariance eigenvalue — the scale-stable quantity.
    smat_u = cut_lineage(
        pairs.groupBy("j", "k").agg(
            (qsum(F.col("p")) / F.count(F.lit(1))).alias("s")
        ),
        None,
    )
    smat = smat_u.unionAll(
        smat_u.filter(F.col("k") > F.col("j")).select(
            F.col("k").alias("j"), F.col("j").alias("k"), F.col("s")
        )
    )  # union of materialized dim²-bounded blocks — cheap to re-scan per round

    v = smat_u.filter(F.col("k") == F.col("j")).select(
        F.col("j").alias("k"), F.lit(0.125).alias("vk")
    )
    for _ in range(_PCA_ITERS):
        w = (
            smat.join(v, "k")
            .groupBy("j")
            .agg(qsum(F.col("s") * F.col("vk")).alias("w"))
        )
        # norm via unpartitioned window: w referenced ONCE, plan linear
        v = w.select(
            F.col("j").alias("k"),
            (F.col("w") / F.sqrt(qwin(F.col("w") * F.col("w")))).alias("vk"),
            F.sqrt(qwin(F.col("w") * F.col("w"))).alias("nrm"),
        )
    return v.select(
        F.col("k").cast("int").alias("dim_idx"),
        F.col("vk").alias("component"),
        F.col("nrm").alias("eigenvalue"),
    )


def _hybrid_oracle() -> str:
    from bakery_big_data_spark.plans.textops import _BM25_CTES

    return f"""
    WITH {_BM25_CTES}, lex AS (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY score DESC, doc_id) AS lr
      FROM scored
      QUALIFY lr <= 20
    ), {_VEC_CTE}, qdoc AS (
      SELECT source, MIN(doc_id) AS q_id FROM documents GROUP BY source
    ), qv AS (
      SELECT q.source, q.q_id, n.v AS qvv, n.n2 AS qn2
      FROM qdoc q JOIN nrm n ON n.vec_id = q.q_id
    ), semall AS (
      SELECT qv.source, b.vec_id AS doc_id,
             {_FOLD_DOT.format(a='qv.qvv', b='b.v')}
               / sqrt(qv.qn2 * b.n2) AS cosine
      FROM qv JOIN nrm b ON b.vec_id <> qv.q_id
    ), sem AS (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY cosine DESC, doc_id) AS sr
      FROM semall
      QUALIFY sr <= 20
    ), fused AS (
      SELECT COALESCE(l.source, s.source) AS query_source,
             COALESCE(l.doc_id, s.doc_id) AS doc_id,
             COALESCE(1.0 / (60.0 + CAST(l.lr AS DOUBLE)), 0.0)
               + COALESCE(1.0 / (60.0 + CAST(s.sr AS DOUBLE)), 0.0)
               AS rrf_score,
             l.lr AS lex_rank, s.sr AS sem_rank
      FROM lex l FULL JOIN sem s
        ON l.source = s.source AND l.doc_id = s.doc_id
    )
    SELECT * FROM (
      SELECT query_source, doc_id, rrf_score, lex_rank, sem_rank,
             ROW_NUMBER() OVER (PARTITION BY query_source
                                ORDER BY rrf_score DESC, doc_id) AS rk
      FROM fused
    ) WHERE rk <= 10
    """


@register(
    "retrieval_hybrid_rrf",
    _hybrid_oracle(),
    doc="HYBRID retrieval with reciprocal-rank fusion (Cormack et al. "
        "2009, the fusion rule RAG stacks run in production): per "
        "source, a LEXICAL leg (the certified BM25 scorer — "
        "plans/textops.py::_bm25_scored, shared verbatim with "
        "text_bm25_retrieval) and a SEMANTIC query-by-example leg (the "
        "source's lowest-doc_id document's embedding scored by exact "
        "cosine against the corpus) each produce a top-20 list; a doc's "
        "fused score is sum(1/(60+rank)) over the lists containing it, "
        "missing-list membership contributing 0, final top-10 per "
        "query.  Rank fusion needs NO score calibration between legs — "
        "that's why it wins in practice over weighted score sums.  "
        "Determinism: ranks are integers; 1/(60+r) and the two-term sum "
        "are single IEEE ops; equal fused scores (e.g. lex-only rank r "
        "vs sem-only rank r) tie-break by doc_id in both engines.  "
        "Scale shape: each leg is top-K-bounded before fusion (fusion "
        "joins K-row frames, never corpora); the semantic leg here is "
        "the documented broadcast brute-force baseline — at 100 TB swap "
        "in the banded-LSH ANN leg (similarity_ann_lsh) unchanged, "
        "since RRF consumes only ranks",
)
def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from bakery_big_data_spark.operators.similarity import brute_force_topk
    from bakery_big_data_spark.plans.textops import _bm25_scored

    wl = Window.partitionBy("source").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    lex = (
        _bm25_scored(spark, sf_dir)
        .withColumn("lr", F.row_number().over(wl))
        .filter(F.col("lr") <= 20)
        .select("source", "doc_id", "lr")
    )
    docs = t(spark, sf_dir, "documents").select("doc_id", "source")
    qdoc = docs.groupBy("source").agg(F.min("doc_id").alias("q_id"))
    emb = t(spark, sf_dir, "embeddings")
    qvec = qdoc.join(emb, F.col("q_id") == F.col("vec_id")).select(
        F.col("q_id").alias("vec_id"), "embedding"
    )
    topk = brute_force_topk(qvec, emb, "vec_id", "embedding", k=20)
    ws = Window.partitionBy("source").orderBy(
        F.col("cosine").desc(), F.col("doc_id")
    )
    sem = (
        topk.join(F.broadcast(qdoc), "q_id")
        .select("source", F.col("c_id").alias("doc_id"), "cosine")
        .withColumn("sr", F.row_number().over(ws))
        .filter(F.col("sr") <= 20)
        .select("source", "doc_id", "sr")
    )
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(60.0) + F.col("lr").cast("double")), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(60.0) + F.col("sr").cast("double")), F.lit(0.0)
    )
    wf = Window.partitionBy("query_source").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id")
    )
    return (
        lex.join(sem, ["source", "doc_id"], "full")
        .select(
            F.col("source").alias("query_source"),
            "doc_id",
            rrf.alias("rrf_score"),
            F.col("lr").alias("lex_rank"),
            F.col("sr").alias("sem_rank"),
        )
        .withColumn("rk", F.row_number().over(wf))
        .filter(F.col("rk") <= 10)
    )


@register(
    "clustering_silhouette_eval",
    """
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), ex AS (
      SELECT vec_id, label, dim, v[dim] AS val
      FROM e, UNNEST(generate_series(1, 64)) AS u(dim)
    ), nl AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY label
    ), cent AS (
      SELECT ex.label AS clabel, dim,
             (CAST(SUM(CAST(FLOOR(val * 1e6) AS BIGINT)) AS DOUBLE) / 1e6)
               / MAX(nl.n) AS c
      FROM ex JOIN nl ON nl.label = ex.label
      GROUP BY ex.label, dim
    ), d2 AS (
      SELECT ex.vec_id, ex.label AS own, cent.clabel,
             CAST(SUM(CAST(FLOOR((val - c) * (val - c) * 1e9) AS BIGINT))
                  AS DOUBLE) / 1e9 AS dist2
      FROM ex JOIN cent ON ex.dim = cent.dim
      GROUP BY ex.vec_id, ex.label, cent.clabel
    ), ab AS (
      SELECT vec_id, own,
             MAX(CASE WHEN clabel = own THEN dist2 END) AS a2,
             MIN(CASE WHEN clabel <> own THEN dist2 END) AS b2
      FROM d2 GROUP BY vec_id, own
    ), s AS (
      SELECT vec_id, own,
             CASE WHEN GREATEST(sqrt(a2), sqrt(b2)) = 0.0 THEN 0.0
                  ELSE (sqrt(b2) - sqrt(a2))
                       / GREATEST(sqrt(a2), sqrt(b2))
             END AS sil
      FROM ab
    )
    SELECT own AS label,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           (CAST(SUM(CAST(FLOOR(sil * 1e9) AS BIGINT)) AS DOUBLE) / 1e9)
             / COUNT(*) AS avg_silhouette
    FROM s GROUP BY own
    """,
    doc="CLUSTERING EVALUATION via the simplified (centroid-based) "
        "silhouette (Rousseeuw 1987; the centroid form is the standard "
        "at-scale variant — O(n*k) distances instead of O(n^2) "
        "pairwise): per point, a = distance to its own label centroid, "
        "b = distance to the nearest other centroid, s = (b-a)/max(a,b) "
        "(0 when both are 0); per label the point count and mean "
        "silhouette — the evaluation half of the IVF/KMeans story, the "
        "number you read before trusting a quantizer or a label "
        "assignment.  Determinism discipline: centroid means, per-"
        "(point,centroid) squared distances, and the silhouette mean "
        "all accumulate as int64 floor-quantized sums (order-"
        "independent; sqrt is correctly-rounded IEEE in both engines), "
        "so every value is bit-identical.  Plan shape: one posexplode "
        "-> (label,dim) map-side-combinable centroid agg (k*64 rows, "
        "broadcast back) -> one shuffle keyed (vec,clabel) for the "
        "distance agg -> per-vec pivot -> per-label mean.  At 100 TB "
        "the distance stage is the only corpus-sized pass and it is "
        "embarrassingly parallel",
)
def clustering_silhouette_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        "label",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "v"
        ),
    )
    ex = e.select(
        "vec_id", "label", F.posexplode("v").alias("dim", "val")
    )
    nl = e.groupBy("label").agg(F.count(F.lit(1)).alias("n"))

    def qs(col, scale):
        return F.sum(F.floor(col * F.lit(scale)).cast("bigint")).cast(
            "double"
        ) / F.lit(scale)

    cent = (
        ex.join(F.broadcast(nl), "label")
        .groupBy(F.col("label").alias("clabel"), "dim")
        .agg((qs(F.col("val"), 1e6) / F.max("n")).alias("c"))
    )
    d2 = (
        ex.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", F.col("label").alias("own"), "clabel")
        .agg(
            qs(
                (F.col("val") - F.col("c")) * (F.col("val") - F.col("c")),
                1e9,
            ).alias("dist2")
        )
    )
    ab = d2.groupBy("vec_id", "own").agg(
        F.max(F.when(F.col("clabel") == F.col("own"), F.col("dist2"))).alias(
            "a2"
        ),
        F.min(F.when(F.col("clabel") != F.col("own"), F.col("dist2"))).alias(
            "b2"
        ),
    )
    big = F.greatest(F.sqrt(F.col("a2")), F.sqrt(F.col("b2")))
    s = ab.select(
        "own",
        F.when(big == F.lit(0.0), F.lit(0.0))
        .otherwise((F.sqrt(F.col("b2")) - F.sqrt(F.col("a2"))) / big)
        .alias("sil"),
    )
    return s.groupBy(F.col("own").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        (qs(F.col("sil"), 1e9) / F.count(F.lit(1))).alias(
            "avg_silhouette"
        ),
    )


_MRL_DIMS = 16
_MRL_K = 10
_MRL_NQ = 20


@register(
    "embedding_matryoshka_recall",
    f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), et AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding[1:{_MRL_DIMS}],
                            x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), nrm AS MATERIALIZED (
      SELECT vec_id, v, n2 FROM (
        SELECT vec_id, v, {_FOLD_DOT.format(a='v', b='v')} AS n2 FROM e
      ) WHERE n2 > 0
    ), nrmt AS MATERIALIZED (
      SELECT vec_id, v, n2 FROM (
        SELECT vec_id, v, {_FOLD_DOT.format(a='v', b='v')} AS n2 FROM et
      ) WHERE n2 > 0
    ), ftop AS (
      SELECT a.vec_id AS q_id, b.vec_id AS c_id
      FROM nrm a JOIN nrm b ON a.vec_id <> b.vec_id
      WHERE a.vec_id < {_MRL_NQ}
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY a.vec_id
        ORDER BY {_FOLD_DOT.format(a='a.v', b='b.v')}
                   / sqrt(a.n2 * b.n2) DESC, b.vec_id) <= {_MRL_K}
    ), ttop AS (
      SELECT a.vec_id AS q_id, b.vec_id AS c_id
      FROM nrmt a JOIN nrmt b ON a.vec_id <> b.vec_id
      WHERE a.vec_id < {_MRL_NQ}
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY a.vec_id
        ORDER BY {_FOLD_DOT.format(a='a.v', b='b.v')}
                   / sqrt(a.n2 * b.n2) DESC, b.vec_id) <= {_MRL_K}
    )
    SELECT f.q_id,
           CAST(COUNT(*) AS BIGINT) AS n_full,
           CAST(COUNT(t.c_id) AS BIGINT) AS n_overlap,
           CAST(COUNT(t.c_id) AS DOUBLE) / COUNT(*) AS recall_at_k
    FROM ftop f
    LEFT JOIN ttop t ON t.q_id = f.q_id AND t.c_id = f.c_id
    GROUP BY f.q_id
    """,
    doc="Matryoshka-representation truncation eval (Kusupati et al., "
        "NeurIPS 2022 shape): exact cosine top-10 per query on the FIRST "
        f"{_MRL_DIMS} of 64 dims vs the full-width top-10, reporting "
        "per-query overlap and recall@k — the retrieval-quality check a "
        "pipeline runs before storing truncated (4x cheaper) vectors.  "
        "Both sides reuse the brute-force exact-baseline machinery "
        "(broadcast query side, map-only scoring, per-query top-k window); "
        "at 100 TB the same eval runs over a sampled query set against an "
        "IVF/LSH index — this row certifies the measurement itself, "
        "including both engines agreeing on the truncated-space ranking",
)
def embedding_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    trunc = emb.select(
        "vec_id", F.slice("embedding", 1, _MRL_DIMS).alias("embedding")
    )
    # full-dim leg = the shared brute-force truth pass at nq=20 (one
    # corpus scoring pass serves this row AND the five 5-query recall
    # rows); the truncated-dim leg is inherently its own pass
    full_top = _bf_truth_topk(spark, sf_dir, nq=_MRL_NQ).select(
        "q_id", "c_id"
    )
    trunc_top = brute_force_topk(
        trunc.filter(F.col("vec_id") < _MRL_NQ), trunc, "vec_id", "embedding",
        k=_MRL_K,
    ).select(
        F.col("q_id").alias("_tq"), F.col("c_id").alias("_tc"),
        F.lit(1).alias("_hit"),
    )
    return (
        full_top.join(
            trunc_top,
            (F.col("q_id") == F.col("_tq")) & (F.col("c_id") == F.col("_tc")),
            "left",
        )
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("n_full"),
            F.count("_hit").alias("n_overlap"),
            (F.count("_hit").cast("double") / F.count(F.lit(1)))
            .alias("recall_at_k"),
        )
    )


@register(
    "similarity_ivf_served",
    """
    SELECT CAST(5 AS BIGINT) AS n_queries,
           CAST(50 AS BIGINT) AS n_possible,
           TRUE AS meets_recall_floor
    FROM embeddings LIMIT 1
    """,
    doc="Production-path IVF serving (r10 verdict task 2, splitting "
        "certification from serving): the index is built ONCE per corpus "
        "by operators/similarity.py::build_ivf_served_index — seeded "
        "kmeans|| quantizer, corpus written as parquet PARTITIONED BY "
        "cluster id, centroids in the index manifest — and the query "
        "path does zero training: centroid ranking from manifest "
        "literals, then a partition-PRUNED scan of only the probed "
        "clusters' files (PartitionFilters asserted in "
        "tests/test_similarity.py) and exact cosine rerank.  Train-once/"
        "serve-many is the shape a 100 TB pipeline actually runs; the "
        "in-plan-Lloyd similarity_ivf_topk row remains the training-"
        "included certification.  Quality is pinned exactly like "
        "similarity_ivf_recall: the 8-of-16-probe result must recover "
        ">= 25 of the 5 queries' brute-force top-10 (observed >= 35/50 "
        "on adversarial uniform vectors; clustered real embeddings "
        "recall higher), so the hash certifies the served index clears "
        "the same floor as a freshly trained one "
        "(operators/similarity.py::ivf_served_topk)",
)
def similarity_ivf_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bakery_big_data_spark.operators.similarity import (
        build_ivf_served_index,
        ivf_served_topk,
    )

    index_path = build_ivf_served_index(spark, sf_dir)
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    ann = ivf_served_topk(
        spark, index_path, queries, "vec_id", "embedding", k=10, n_probe=8
    ).select("q_id", "c_id")
    bf = _bf_truth_topk(spark, sf_dir).select("q_id", "c_id")
    hits = bf.join(ann, ["q_id", "c_id"]).agg(
        F.count(F.lit(1)).alias("_hits")
    )
    return hits.select(
        F.lit(5).cast("bigint").alias("n_queries"),
        F.lit(50).cast("bigint").alias("n_possible"),
        (F.col("_hits") >= 25).alias("meets_recall_floor"),
    )


# --------------------------------------------------------------------------
# Corpus-scaled SemDeDup operating point (r11 verdict task 3)
#
# dedup_semantic_embedding certifies the PINNED operating point (L=12
# tables x 4 planes) — at the x100 corpus its sum(bucket^2) wall is the
# catalog's worst (915.6 s, PERF.md r11).  The documented production dial
# is raising bucket granularity with corpus size; this row RUNS that
# dial: k(n) = clamp(4 + floor(log2(n / 125)), 4, 12) planes per table,
# with Hamming-1 multiprobe buying back per-table recall once k > 4.
# Candidate work scales as L * n^2 / 2^k * (1 + k), so each doubling of
# the corpus adds one plane and holds bucket sizes ~flat.
#
# Certification (recall-vs-pinned, hash-exact at every oracle SF): the
# output is every PINNED pair within a fixed deterministic sample
# (vec_id < 2000 — the whole corpus at the oracle SFs, a constant-cost
# certificate slice at x10/x100), flagged with whether the SCALED
# operating point catches it.  Both sides are SQL-restatable because
# hyperplane signatures have the PREFIX property (numpy Generator draws
# are sequential, so the first k of 12 planes equal a k-plane draw —
# asserted in tests/test_similarity.py): the oracle derives ONE 12-bit
# signature per table and masks to the low k bits, k computed from
# COUNT(*) in SQL exactly as the Spark side computes it from .count().
# The scaled-vs-pinned collision test is PAIRWISE (bucket membership
# depends only on the two vectors), so restricting the certificate to
# the sample loses nothing.
# --------------------------------------------------------------------------

_SDS_MAXK = 12       # full signature width; k is a low-bit mask of it
_SDS_N0 = 125.0      # k = 4 + floor(log2(n / N0)), clamped to [4, 12]
_SDS_SAMPLE = 2000   # recall-certificate slice (full corpus at oracle SFs)

_SDS_SIG_SQL = ", ".join(
    f"{_sig_sql(hyperplane_planes(_SDS_MAXK, 64, 7 + 1000 * i), 'v')}"
    f" AS t{i}"
    for i in range(_SEMDEDUP_TABLES)
)

_SDS_PINNED_COND = " OR ".join(
    f"(xor(sa.t{i}, sb.t{i}) & 15) = 0" for i in range(_SEMDEDUP_TABLES)
)
_SDS_SCALED_COND = " OR ".join(
    f"bit_count(xor(sa.t{i}, sb.t{i}) & p.kmask) <= p.h"
    for i in range(_SEMDEDUP_TABLES)
)

_SDS_SQL = f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id < {_SDS_SAMPLE}
    ), nrm AS MATERIALIZED (
      SELECT vec_id, v, n2 FROM (
        SELECT vec_id, v, {_FOLD_DOT.format(a='v', b='v')} AS n2 FROM e
      ) WHERE n2 > 0
    ), params AS (
      SELECT ((1 << k) - 1) AS kmask,
             CASE WHEN k = 4 THEN 0 ELSE 1 END AS h
      FROM (
        SELECT LEAST({_SDS_MAXK}, GREATEST(4,
                 4 + CAST(FLOOR(LOG2(COUNT(*) / {_SDS_N0})) AS INT))) AS k
        FROM embeddings
      )
    ), sig AS MATERIALIZED (
      SELECT vec_id, {_SDS_SIG_SQL} FROM e
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_FOLD_DOT.format(a='a.v', b='b.v')} / sqrt(a.n2 * b.n2)
             AS cosine,
           ({_SDS_SCALED_COND}) AS caught_by_scaled
    FROM nrm a JOIN nrm b ON a.vec_id < b.vec_id
    JOIN sig sa ON sa.vec_id = a.vec_id
    JOIN sig sb ON sb.vec_id = b.vec_id
    CROSS JOIN params p
    WHERE ({_SDS_PINNED_COND})
      AND {_FOLD_DOT.format(a='a.v', b='b.v')} / sqrt(a.n2 * b.n2) >= 0.45
    """


def semdedup_scaled_params(n: int) -> tuple[int, int]:
    """(num_planes, probe_hamming) for a corpus of ``n`` vectors — the
    Python mirror of the oracle's ``params`` CTE (same floor/log2 float
    math, IEEE754 on both engines)."""
    import math

    k = min(_SDS_MAXK, max(4, 4 + int(math.floor(math.log2(n / _SDS_N0)))))
    return k, (0 if k == 4 else 1)


@register(
    "dedup_semantic_scaled",
    _SDS_SQL,
    doc="Corpus-scaled SemDeDup operating point (the production dial the "
        "pinned dedup_semantic_embedding row documents but never ran): "
        "k(n) = clamp(4 + floor(log2(n/125)), 4, 12) hyperplane bits per "
        "table with Hamming-1 multiprobe once k > 4, so bucket sizes stay "
        "~flat as the corpus doubles and candidate work is L*n^2/2^k*(1+k) "
        "instead of the pinned L*n^2/16.  Output = every pinned-operating-"
        "point pair inside the deterministic vec_id<2000 certificate "
        "slice, flagged caught_by_scaled; hash-exact both engines via the "
        "plane PREFIX property (oracle masks one 12-bit signature per "
        "table to k low bits, k from COUNT(*) in SQL).  The x100 wall "
        "times the FULL-corpus scaled candidate pass "
        "(operators/similarity.py::semantic_dedup_pairs at k=12/probe-1) "
        "plus a constant-size pinned pass on the slice",
)
def dedup_semantic_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bakery_big_data_spark.operators.similarity import (
        semantic_dedup_pairs,
    )

    emb = t(spark, sf_dir, "embeddings")
    k, h = semdedup_scaled_params(emb.count())
    # pinned-dial pairs on the certificate slice: shared with
    # dedup_semantic_clusters via _SIM_CACHE (one banding pass, not two)
    pinned = _sds_pinned_sample_pairs(spark, sf_dir)
    scaled = semantic_dedup_pairs(
        emb, "vec_id", "embedding", threshold=0.45,
        num_planes=k, probe_hamming=h,
    ).select("id_a", "id_b", F.lit(True).alias("_c"))
    return (
        pinned.join(scaled, ["id_a", "id_b"], "left")
        .select(
            "id_a", "id_b", "cosine",
            F.coalesce(F.col("_c"), F.lit(False)).alias("caught_by_scaled"),
        )
    )


_SDC_SQL = f"""
    WITH RECURSIVE e AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id < {_SDS_SAMPLE}
    ), nrm AS MATERIALIZED (
      SELECT vec_id, v, n2 FROM (
        SELECT vec_id, v, {_FOLD_DOT.format(a='v', b='v')} AS n2 FROM e
      ) WHERE n2 > 0
    ), sig AS MATERIALIZED (
      SELECT vec_id, {_SDS_SIG_SQL} FROM e
    ), pairs AS MATERIALIZED (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM nrm a JOIN nrm b ON a.vec_id < b.vec_id
      JOIN sig sa ON sa.vec_id = a.vec_id
      JOIN sig sb ON sb.vec_id = b.vec_id
      WHERE ({_SDS_PINNED_COND})
        AND {_FOLD_DOT.format(a='a.v', b='b.v')} / sqrt(a.n2 * b.n2) >= 0.45
    ), edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ), reach(node, r) AS (
      SELECT vec_id, vec_id FROM e
      UNION
      SELECT ed.b, reach.r FROM reach JOIN edges ed ON ed.a = reach.node
    ), canon AS (
      SELECT node AS vec_id, MIN(r) AS canonical_id FROM reach GROUP BY node
    )
    SELECT vec_id, CAST(canonical_id AS BIGINT) AS canonical_id,
           CAST(COUNT(*) OVER (PARTITION BY canonical_id) AS BIGINT)
             AS cluster_size,
           vec_id = canonical_id AS is_kept
    FROM canon
    """


@register(
    "dedup_semantic_clusters",
    _SDC_SQL,
    doc="SemDeDup keep-one-per-cluster canonicalization END TO END (r12 "
        "verdict task 5c — the step the pair rows stop short of): the "
        "banded-LSH verified pair stream "
        "(operators/similarity.py::semantic_dedup_pairs, the "
        "dedup_semantic_embedding operating point) is contracted to TRUE "
        "connected components via the iterative min-label fixpoint "
        "(operators/dedup.py::connected_components — chains across "
        "buckets resolve to one cluster, which single-pass star "
        "contraction cannot do), and every vector gets its cluster "
        "verdict: canonical member (min vec_id), cluster size, keep/drop. "
        "Zero-norm vectors emit no pairs and canonicalize to themselves. "
        "Certified on the deterministic vec_id<2000 certificate "
        "slice (the full corpus at every oracle SF) against a recursive-"
        "CTE transitive closure; the corpus-scale path swaps in the k(n) "
        "scaled dial exactly as dedup_semantic_scaled does — the ×100 "
        "PERF entry runs THAT composition (full-corpus scaled pairs + "
        "fixpoint), so the certified semantics and the stress-measured "
        "plan are the same code",
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bakery_big_data_spark.operators.dedup import connected_components

    emb = t(spark, sf_dir, "embeddings")
    sample = emb.filter(F.col("vec_id") < _SDS_SAMPLE)
    # pinned-dial pairs on the certificate slice: shared with
    # dedup_semantic_scaled via _SIM_CACHE (one banding pass, not two)
    pairs = _sds_pinned_sample_pairs(spark, sf_dir).select("id_a", "id_b")
    comp = connected_components(sample.select("vec_id"), pairs, "vec_id")
    sizes = comp.groupBy("canonical_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return comp.join(sizes, "canonical_id").select(
        "vec_id",
        F.col("canonical_id").cast("bigint").alias("canonical_id"),
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
        (F.col("vec_id") == F.col("canonical_id")).alias("is_kept"),
    )


@register(
    "similarity_ivf_upsert_served",
    f"""
    WITH {_VEC_CTE}
    SELECT CAST(5 AS BIGINT) AS n_queries,
           CAST(50 AS BIGINT) AS n_possible,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM nrm
             WHERE vec_id % 17 = 0) AS n_upserted,
           TRUE AS meets_recall_floor
    """,
    doc="Incremental IVF index MAINTENANCE (the path a growing corpus "
        "actually runs between quantizer retrains): the quantizer is "
        "trained WITHOUT the vec_id %% 17 == 0 slice, the slice is then "
        "ivf_index_upsert-ed — nearest-existing-centroid assignment from "
        "manifest literals, map-only, Delta-sized appends into the "
        "cluster-partitioned layout, manifest untouched — and the "
        "UNCHANGED serve path (ivf_served_topk: partition-pruned scan + "
        "exact rerank) must still clear the same >= 25/50 recall floor "
        "against brute force over the FULL corpus, upserted vectors "
        "included.  n_upserted is SQL-restated (COUNT of nonzero-norm "
        "held-out vectors), so the hash certifies the upsert actually "
        "carried every servable held-out row "
        "(operators/similarity.py::ivf_index_upsert, "
        "::build_ivf_upserted_index)",
)
def similarity_ivf_upsert_served(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from bakery_big_data_spark.operators.similarity import (
        build_ivf_upserted_index,
        ivf_served_topk,
    )

    index_path = build_ivf_upserted_index(spark, sf_dir)
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    ann = ivf_served_topk(
        spark, index_path, queries, "vec_id", "embedding", k=10, n_probe=8
    ).select("q_id", "c_id")
    bf = _bf_truth_topk(spark, sf_dir).select("q_id", "c_id")
    hits = bf.join(ann, ["q_id", "c_id"]).agg(
        F.count(F.lit(1)).alias("_hits")
    )
    # n_upserted read from the index itself (bounded scalar: one count
    # over the held-out slice's index rows), so the certified number
    # reflects what is actually ON DISK, not what should be
    idx_up = (
        spark.read.parquet(index_path)
        .filter(F.col("c_id") % 17 == 0)
        .agg(F.count(F.lit(1)).alias("_n_up"))
    )
    return hits.crossJoin(F.broadcast(idx_up)).select(
        F.lit(5).cast("bigint").alias("n_queries"),
        F.lit(50).cast("bigint").alias("n_possible"),
        F.col("_n_up").cast("bigint").alias("n_upserted"),
        (F.col("_hits") >= 25).alias("meets_recall_floor"),
    )
