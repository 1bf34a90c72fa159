"""Embedding similarity-search operators: exact cosine top-k, all-pairs
near-dup, and random-hyperplane LSH ANN.

LLM-data-pipeline extension family (no counterpart in the reference, which
has no vector columns).  All vector math is built-in higher-order functions
(``zip_with`` + ``aggregate``) over ``array<float>`` columns — JVM-side, no
Python UDFs, no linear-algebra dependency.

Determinism: dot products and squared norms are ORDER-EXACT pure-double
left folds in array-element order — each float32 pair is widened to DOUBLE
(exact), multiplied (IEEE, same bits in any engine), and accumulated in the
array's fixed order, which ``F.aggregate`` and DuckDB's ``list_reduce``
share.  In-row folds are also layout-independent (array order never depends
on partitioning), so cosine scores are bit-identical to the oracle on any
cluster size.  (The decimal-sum convention in plans/base.py remains right
for CROSS-ROW aggregation, where no canonical order exists; per-product
double→decimal casts were dropped here after a cross-engine 1-ulp rounding
flip — see ``dot_exact``.)

100 TB notes: brute-force top-k broadcasts the *query set* (small by
construction) over the corpus — map-only, no shuffle, linear scan; the ANN
path buckets the corpus by hyperplane signature so each query probes
``(hamming≤1 buckets) ≈ corpus/2^planes × (planes+1)`` candidates instead of
the full corpus; recall/probe-cost trades off via ``num_planes``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bakery_big_data_spark.operators.cache import PlanCache

def to_double_vec(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot_exact(a: Column, b: Column) -> Column:
    """Order-exact dot product of two double vectors → DOUBLE.

    Pure-double LEFT FOLD in array-element order: ``F.aggregate`` and a SQL
    engine's sequential ``list_reduce`` visit elements identically, so the
    sum is bit-identical cross-engine — and layout-independent too, because
    the fold runs inside one row (array order never depends on
    partitioning).  The earlier per-product DECIMAL(30,12) cast was NOT
    cross-engine-safe: double→decimal rounding at a 1-ulp half boundary
    differs between Spark's exact BigDecimal expansion and DuckDB's
    conversion on real float32 data (one flip observed in 256k products,
    round 5) — a latent red-row risk on every testdata regeneration."""
    products = F.zip_with(a, b, lambda x, y: x * y)
    return F.aggregate(products, F.lit(0.0), lambda acc, p: acc + p)


def norm2_exact(a: Column) -> Column:
    """Squared L2 norm with the same exact-summation convention."""
    return dot_exact(a, a)


def with_norm2(df: DataFrame, vec_col: str, out: str = "_norm2") -> DataFrame:
    """Materialize double-vector + squared norm once per row (avoids
    re-evaluating the fold expression at every pair).

    ZERO-NORM vectors are dropped: cosine is undefined for them, and the
    division would raise under ANSI the first time a corpus carries a
    failed-encode all-zero embedding (caught by the adversarial-
    regeneration suite, round 5); every cosine oracle filters ``n2 > 0``
    to match."""
    return (
        df.withColumn(vec_col, to_double_vec(vec_col))
        .withColumn(out, norm2_exact(F.col(vec_col)))
        .filter(F.col(out) > 0)
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """Exact top-k cosine neighbors per query → (q_id, c_id, cosine).

    Broadcast the (small) query side over the corpus: map-only pair scoring,
    then a per-query top-k window (the only shuffle, keyed by query — tiny).
    Ties broken by neighbor id for cross-engine determinism.
    """
    q = with_norm2(queries, vec_col, "_qn").select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("_qv"),
        "_qn",
    )
    c = with_norm2(corpus, vec_col, "_cn").select(
        F.col(id_col).alias("c_id"),
        F.col(vec_col).alias("_cv"),
        "_cn",
    )
    cosine = dot_exact(F.col("_qv"), F.col("_cv")) / F.sqrt(
        F.col("_qn") * F.col("_cn")
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("c_id")
    )
    return (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", cosine.alias("cosine"))
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def _block_pair_fn(threshold_margin: float):
    """applyInPandas kernel: numpy double matmul over one block pair,
    emitting candidate (id_a < id_b) pairs with approx cosine above the
    margined threshold.  float64 matmul error is ~1e-13, the margin 1e-6 —
    phase 1 is a strict superset of the exact answer."""
    import numpy as np
    import pandas as pd

    def fn(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        ba, bb = key
        left = pdf[pdf["_side"] == 0]
        right = left if ba == bb else pdf[pdf["_side"] == 1]
        # emptiness BEFORE np.stack — a block can be empty once zero-norm
        # vectors are filtered upstream, and stack([]) raises
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
        ids_a = left["vid"].to_numpy()
        mat_a = np.stack(left["v"].to_numpy())
        if ba == bb:
            ids_b, mat_b = ids_a, mat_a
        else:
            ids_b = right["vid"].to_numpy()
            mat_b = np.stack(right["v"].to_numpy())
        na = np.sqrt((mat_a * mat_a).sum(axis=1))
        nb = np.sqrt((mat_b * mat_b).sum(axis=1))
        sims = (mat_a @ mat_b.T) / np.outer(na, nb)
        ii, jj = np.nonzero(sims >= threshold_margin)
        a, b = ids_a[ii], ids_b[jj]
        keep = a != b
        lo, hi = np.minimum(a, b)[keep], np.maximum(a, b)[keep]
        if ba == bb:  # same-block pairs appear (i,j) and (j,i) — halve
            # dedup on the (lo, hi) pair itself — no packed-key arithmetic,
            # so ids may use the full 64-bit range without collisions
            pairs = np.unique(np.stack([lo, hi]), axis=1)
            lo, hi = pairs[0], pairs[1]
        return pd.DataFrame({"id_a": lo, "id_b": hi})

    return fn


def near_dup_pairs(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    num_blocks: int = 8,
) -> DataFrame:
    """All-pairs embedding near-duplicates (id_a < id_b, cosine ≥ threshold).

    Two-phase blocked design:

    1. **candidates** — blocked all-pairs scored with an Arrow-batched
       ``applyInPandas`` numpy matmul (the one place built-in expressions
       genuinely can't compete: an interpreted per-pair fold is ~100× slower
       than BLAS).  The corpus is split into ``num_blocks`` id-hash blocks;
       every unordered block pair becomes one group, so no driver collect
       and no broadcast of the full corpus — replication factor is
       O(num_blocks), the standard distributed block-matmul layout.
       Phase-1 threshold is margined (−1e-6) so it is a strict superset.
    2. **exact verify** — candidates re-scored JVM-side with the
       decimal-exact dot (same bits as the DuckDB oracle) and filtered at
       the true threshold.

    Still O(n²) work by nature — at 100 TB restrict phase 1 to LSH-bucketed
    candidates (ann_topk's hyperplane signature) and keep phase 2 as-is.
    """
    spark = corpus.sparkSession
    c = corpus.select(
        F.col(id_col).cast("long").alias("vid"),
        to_double_vec(vec_col).alias("v"),
        (F.col(id_col) % num_blocks).alias("_blk"),
    )
    bp = spark.createDataFrame(
        [(a, b) for a in range(num_blocks) for b in range(num_blocks) if a <= b],
        "ba INT, bb INT",
    )
    left = c.join(F.broadcast(bp), c["_blk"] == bp["ba"]).withColumn(
        "_side", F.lit(0)
    )
    right = c.join(F.broadcast(bp), c["_blk"] == bp["bb"]).withColumn(
        "_side", F.lit(1)
    )
    candidates = (
        left.unionByName(right)
        .groupBy("ba", "bb")
        .applyInPandas(
            _block_pair_fn(threshold - 1e-6), "id_a LONG, id_b LONG"
        )
        .distinct()
    )
    a = with_norm2(corpus, vec_col, "_na").select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"), "_na"
    )
    b = with_norm2(corpus, vec_col, "_nb").select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"), "_nb"
    )
    cosine = dot_exact(F.col("_va"), F.col("_vb")) / F.sqrt(
        F.col("_na") * F.col("_nb")
    )
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", cosine.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def hyperplane_planes(num_planes: int, dim: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (seeded, reproducible)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((num_planes, dim)).tolist()


def hyperplane_signature(
    vec: Column | str, planes: list[list[float]]
) -> Column:
    """Sign-bit signature: bit j = (vec · plane_j >= 0) → INT bucket id.

    When ``vec`` is a column NAME the whole signature is assembled as ONE
    ``F.expr`` string — the Column-API equivalent issues hundreds of py4j
    lambda round-trips per signature (measured ~0.5 s of driver-side plan
    construction per table side at 4 tables), while a single expr is one
    call; the resolved expression tree (zip_with → aggregate fold in array
    order) is identical either way."""
    if isinstance(vec, str):
        terms = []
        for j, plane in enumerate(planes):
            lits = ",".join(f"{float(x)!r}D" for x in plane)
            dot = (
                f"aggregate(zip_with(`{vec}`, array({lits}),"
                f" (x, y) -> x * y), 0.0D, (acc, p) -> acc + p)"
            )
            terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << j} ELSE 0 END)")
        return F.expr(f"CAST(({' + '.join(terms)}) AS INT)")
    sig: Column = F.lit(0)
    for j, plane in enumerate(planes):
        lit_plane = F.lit([float(x) for x in plane])
        d = F.aggregate(
            F.zip_with(vec, lit_plane, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, p: acc + p,
        )
        sig = sig + F.when(d >= 0, F.lit(1 << j)).otherwise(F.lit(0))
    return sig.cast("int")


#: (session, cache_key, n_clusters, seed) → (assigned DataFrame, centers) —
#: the trained coarse quantizer is an INDEX: build once, query many times.
#: Bounded LRU with unpersist-on-evict + weakref session identity
#: (operators/cache.py) — a long-lived session serving many scale factors
#: holds at most 2 persisted indexes.
_IVF_INDEX_CACHE = PlanCache(max_entries=2)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_clusters: int = 16,
    n_probe: int = 3,
    seed: int = 7,
    cache_key: str | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: k-means-partition the corpus, probe the
    ``n_probe`` nearest centroids per query, exact-rerank candidates.

    The other classic ANN layout besides hyperplane LSH: a trained coarse
    quantizer adapts bucket boundaries to the data distribution, so probe
    cost is ``n_probe/n_clusters`` of the corpus with recall concentrated
    where vectors actually live.  Training is one KMeans fit (seeded →
    deterministic); centroids are tiny and shipped to queries as literals —
    no corpus broadcast, no driver collect of data rows.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    def _build_index(persist: bool):
        c0 = with_norm2(corpus, vec_col, "_cn").select(
            F.col(id_col).alias("c_id"), F.col(vec_col).alias("_cv"), "_cn"
        )
        feat = c0.withColumn("_feat", array_to_vector(F.col("_cv")))
        model = KMeans(
            k=n_clusters, seed=seed, featuresCol="_feat", predictionCol="_cluster"
        ).fit(feat)
        built = model.transform(feat).select("c_id", "_cv", "_cn", "_cluster")
        if persist:
            built = built.persist()
        ctrs = [list(map(float, ctr)) for ctr in model.clusterCenters()]
        return built, ctrs

    if cache_key is not None:
        assigned, centers = _IVF_INDEX_CACHE.get_or_build(
            corpus.sparkSession,
            (cache_key, n_clusters, seed),
            lambda: _build_index(True),
        )
    else:
        assigned, centers = _build_index(False)

    def dist2(vec: Column, center: list[float]) -> Column:
        lit_c = F.lit([float(x) for x in center])
        return F.aggregate(
            F.zip_with(vec, lit_c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, d: acc + d,
        )

    ranked = F.array_sort(
        F.array(
            *[
                F.struct(
                    dist2(F.col("_qv"), ctr).alias("d"),
                    F.lit(i).alias("cluster"),
                )
                for i, ctr in enumerate(centers)
            ]
        )
    )
    q0 = with_norm2(queries, vec_col, "_qn").select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("_qv"), "_qn"
    )
    # second projection: the probe expression references the materialized
    # _qv column (same-select lateral alias + explode trips the analyzer)
    q = q0.select(
        "q_id",
        "_qv",
        "_qn",
        F.explode(
            F.transform(
                F.slice(ranked, 1, n_probe), lambda s: s.getField("cluster")
            )
        ).alias("_cluster"),
    )
    cosine = dot_exact(F.col("_qv"), F.col("_cv")) / F.sqrt(
        F.col("_qn") * F.col("_cn")
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("c_id")
    )
    return (
        assigned.join(F.broadcast(q), "_cluster")
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", cosine.alias("cosine"))
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def _probe_masks(num_planes: int, probe_hamming: int) -> list[int]:
    """Signature XOR masks for multi-probe: own bucket, then every bucket
    within the given Hamming distance of the signature."""
    import itertools

    masks = [0]
    if probe_hamming >= 1:
        masks += [1 << j for j in range(num_planes)]
    if probe_hamming >= 2:
        masks += [
            (1 << a) | (1 << b)
            for a, b in itertools.combinations(range(num_planes), 2)
        ]
    return masks


def ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    num_planes: int = 6,
    seed: int = 7,
    dim: int = 64,
    num_tables: int = 1,
    probe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k via multi-table, multi-probe hyperplane LSH →
    (q_id, c_id, cosine), candidates exact-reranked.

    Recall/cost dials (the standard LSH tradeoffs):

    - ``probe_hamming``: probe every bucket within this Hamming distance of
      the query's signature — 1 probes (planes+1)/2^planes of the corpus in
      expectation, 2 adds the C(planes,2) two-bit flips;
    - ``num_tables``: L independent plane sets; a neighbor is found if ANY
      table buckets it with the query (miss rate decays geometrically in L).
      The corpus-side index carries L entries per vector — the classic
      space-for-recall LSH trade; candidates are deduped before rerank.

    Defaults (1 table, Hamming 1) are the cheap operating point; (L=4,
    Hamming 2, 6 planes) measures recall@10 ≥ 0.9 against the exact baseline
    even on the adversarial *uniform-random* test embeddings
    (tests/test_similarity.py; clustered real embeddings recall far higher
    at the same cost).  Deterministic given the seeded planes.
    """
    tables = [
        hyperplane_planes(num_planes, dim, seed + 1000 * t_idx)
        for t_idx in range(num_tables)
    ]
    masks = _probe_masks(num_planes, probe_hamming)

    cosine = dot_exact(F.col("_qv"), F.col("_cv")) / F.sqrt(
        F.col("_qn") * F.col("_cn")
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("c_id")
    )

    if num_tables == 1:
        # fast path: no table dimension, no corpus-side explode — the corpus
        # carries one inline signature column and the join key is the bucket
        planes = tables[0]
        c1 = with_norm2(corpus, vec_col, "_cn").select(
            F.col(id_col).alias("c_id"),
            F.col(vec_col).alias("_cv"),
            "_cn",
            hyperplane_signature(vec_col, planes).alias("_bucket"),
        )
        q1 = (
            with_norm2(queries, vec_col, "_qn")
            .select(
                F.col(id_col).alias("q_id"),
                F.col(vec_col).alias("_qv"),
                "_qn",
                hyperplane_signature(vec_col, planes).alias("_sig"),
            )
            .select(
                "q_id",
                "_qv",
                "_qn",
                F.explode(
                    F.array(*[F.col("_sig").bitwiseXOR(F.lit(m)) for m in masks])
                ).alias("_bucket"),
            )
        )
        return (
            c1.join(F.broadcast(q1), "_bucket")
            .filter(F.col("q_id") != F.col("c_id"))
            .select("q_id", "c_id", cosine.alias("cosine"))
            .withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= k)
            .drop("_rk")
        )

    c_sigs = F.array(
        *[
            F.struct(
                F.lit(t_idx).alias("t"),
                hyperplane_signature(vec_col, planes).alias("s"),
            )
            for t_idx, planes in enumerate(tables)
        ]
    )
    c = (
        with_norm2(corpus, vec_col, "_cn")
        .select(
            F.col(id_col).alias("c_id"),
            F.col(vec_col).alias("_cv"),
            "_cn",
            F.explode(c_sigs).alias("_ts"),
        )
        .select("c_id", "_cv", "_cn", F.col("_ts.t").alias("_t"), F.col("_ts.s").alias("_bucket"))
    )
    # signatures materialize ONCE per (row, table) in a first projection;
    # the probe array then XORs the tiny signature COLUMNS — inlining the
    # 6×64-term signature expression into every one of the |masks|×L probe
    # structs multiplies the codegen tree ~90× and stalls compilation
    q_sigged = with_norm2(queries, vec_col, "_qn").select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("_qv"),
        "_qn",
        *[
            hyperplane_signature(vec_col, planes).alias(f"_s{t_idx}")
            for t_idx, planes in enumerate(tables)
        ],
    )
    # one expr call for the |tables|×|masks| probe array — struct-by-struct
    # Column construction is ~3 py4j round trips per probe (264 for the
    # L=4/H=2 point), pure driver-side latency
    q_probes = F.expr(
        "array("
        + ",".join(
            f"named_struct('t', {t_idx}, 's', _s{t_idx} ^ {m})"
            for t_idx in range(len(tables))
            for m in masks
        )
        + ")"
    )
    q = q_sigged.select(
        "q_id", "_qv", "_qn", F.explode(q_probes).alias("_ts")
    ).select(
        "q_id", "_qv", "_qn", F.col("_ts.t").alias("_t"), F.col("_ts.s").alias("_bucket")
    )
    return (
        c.join(F.broadcast(q), ["_t", "_bucket"])
        .filter(F.col("q_id") != F.col("c_id"))
        # dedupe BEFORE scoring: the same pair can hit in several tables,
        # and the decimal-exact cosine is the expensive leg — score each
        # surviving pair once (vectors ride along; identical per pair, so
        # the kept row is value-deterministic)
        .select("q_id", "c_id", "_qv", "_qn", "_cv", "_cn")
        .dropDuplicates(["q_id", "c_id"])
        .select("q_id", "c_id", cosine.alias("cosine"))
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def rademacher_planes(num_comps: int, dim: int, seed: int = 11) -> list[list[int]]:
    """Deterministic ±1 (Rademacher) projection matrix.

    Johnson-Lindenstrauss with ±1 entries (Achlioptas 2003: database-
    friendly random projections) preserves pairwise distances like
    Gaussian planes but keeps every product a SIGN FLIP — float-exact, so
    the projection is reproducible bit-for-bit on any engine, unlike a
    Gaussian matrix whose products inherit multiplication rounding order.
    """
    import random

    rng = random.Random(seed)
    return [
        [1 if rng.random() < 0.5 else -1 for _ in range(dim)]
        for _ in range(num_comps)
    ]


#: Phase-1 candidate scoring dtype for the SemDeDup family (r12): ship
#: and score float32 (half Arrow bytes, ~2x SIMD) — the 1e-3 margin
#: dominates f32 unit-cosine error and phase 2 re-scores exactly.
_PHASE1_F32 = True


def semantic_dedup_pairs(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.45,
    num_planes: int = 4,
    seed: int = 7,
    dim: int = 64,
    num_tables: int = 12,
    probe_hamming: int = 0,
) -> DataFrame:
    """Semantic near-duplicate pairs at ``cosine ≥ threshold`` with
    LSH-bucketed candidates — the SemDeDup shape (Abbas et al. 2023,
    arXiv:2303.09540: embedding-space dedup inside coarse partitions)
    with the hyperplane tables standing in for the k-means partitions, so
    every bit of the partitioning is seeded and ANSI-SQL-restatable (the
    trained IVF quantizer is not).

    Candidates: a pair surfaces iff its signatures collide exactly in ANY
    of the L seeded tables (MinHash-banding geometry: narrow bands, many
    tables — miss rate decays geometrically in L), optionally widened by
    Hamming-``probe_hamming`` XOR probes.  The no-probe default (L=12 ×
    4 planes) ships each vector through the bucket shuffle 12 times vs
    ~90 for an equivalent-recall probing config — Arrow volume, not the
    matmul, is the phase-1 cost.  Work is Σ bucket² per table, never
    all-pairs.  Measured pair recall vs the exact all-pairs truth: 13/14
    at sf0.01, 135/144 at sf0.1 — certified quantitatively by
    ``dedup_semantic_recall``.  At larger corpora raise ``num_planes``
    (bucket granularity must track corpus size) and ``num_tables`` /
    ``probe_hamming`` to buy the recall back — the standard LSH dial.
    """
    tables = [
        hyperplane_planes(num_planes, dim, seed + 1000 * t)
        for t in range(num_tables)
    ]
    masks = _probe_masks(num_planes, probe_hamming)
    # _vf: the phase-1 shuffle payload, cast to float32 HERE — below the
    # explode.  An expression in the same projection as the explode lands
    # ABOVE the Generate and re-evaluates once per generated row (~L×(1+k)
    # times per vector — measured 1.7× slower than shipping f64!); a
    # plain column reference is just copied.  On an ARRAY<FLOAT> source
    # the cast is a no-op and phase 1 ships the original f32 bytes.
    base = (
        with_norm2(
            corpus.withColumn("_vf", F.col(vec_col).cast("array<float>")),
            vec_col,
            "_n2",
        )
        .filter(F.col("_n2") > 0)
        .select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).alias("_v"),
            "_vf",
            "_n2",
            *[
                hyperplane_signature(vec_col, p).alias(f"_s{t}")
                for t, p in enumerate(tables)
            ],
        )
    )
    # Two-phase scoring, the near_dup_pairs blocked-matmul design with
    # LSH buckets replacing id-hash blocks.  Phase 1: every vector lands
    # once per (table, own-bucket) as an INDEX row and once per (table,
    # probe-bucket) as a PROBE row; ONE shuffle groups each bucket, and a
    # numpy matmul scores probe × index inside the group with a margined
    # threshold (strict superset).  The shuffled vector payload and the
    # matmul are FLOAT32 (r12): half the Arrow bytes through the
    # bucket-grouping exchange and ~2× the SIMD matmul throughput, at a
    # worst-case unit-cosine error ~1e-5 — three orders under the 1e-3
    # margin, so the candidate set stays a strict superset and the
    # OUTPUT BITS are unchanged (phase 2 below re-scores survivors with
    # the order-exact float64 JVM fold at the true threshold, exactly as
    # the oracle does).  An interpreted 64-dim fold per candidate would
    # be ~100× slower, and a pair-level vector join would re-shuffle
    # |candidates| × vector-width.
    margin = threshold - 1e-3
    f32 = _PHASE1_F32
    # ONE explode carries both roles (separate probe/index branches would
    # evaluate every signature fold per row twice): each row emits its own
    # bucket per table as the INDEX side, plus (only with probing) the
    # non-zero XOR masks as PROBE entries.
    entries = [
        F.struct(
            F.lit(t).alias("t"), F.col(f"_s{t}").alias("s"), F.lit(1).alias("side")
        )
        for t in range(len(tables))
    ] + [
        F.struct(
            F.lit(t).alias("t"),
            F.col(f"_s{t}").bitwiseXOR(F.lit(m)).alias("s"),
            F.lit(0).alias("side"),
        )
        for t in range(len(tables))
        for m in masks
        if m != 0
    ]
    bucket_rows = base.select(
        "vid",
        (F.col("_vf") if f32 else F.col("_v")).alias("v"),
        F.explode(F.array(*entries)).alias("b"),
    ).select("vid", "v", "b.t", "b.s", F.col("b.side").alias("_side"))

    def bucket_fn(key, pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
        index = pdf[pdf["_side"] == 1]
        if len(index) == 0:
            return empty
        ids_i = index["vid"].to_numpy()
        mat_i = np.stack(index["v"].to_numpy()).astype(np.float32 if f32 else np.float64)
        ni = np.sqrt((mat_i * mat_i).sum(axis=1))
        outs = []

        def emit(ids_a, mat_a, na):
            sims = (mat_a @ mat_i.T) / np.outer(na, ni)
            ii, jj = np.nonzero(sims >= sims.dtype.type(margin))
            a, b = ids_a[ii], ids_i[jj]
            keep = a != b
            lo, hi = np.minimum(a, b)[keep], np.maximum(a, b)[keep]
            outs.append(pd.DataFrame({"id_a": lo, "id_b": hi}))

        emit(ids_i, mat_i, ni)  # own-bucket collisions (index × index)
        probe = pdf[pdf["_side"] == 0]
        if len(probe):  # widened radius (probe × index)
            ids_p = probe["vid"].to_numpy()
            mat_p = np.stack(probe["v"].to_numpy()).astype(np.float32 if f32 else np.float64)
            emit(ids_p, mat_p, np.sqrt((mat_p * mat_p).sum(axis=1)))
        return pd.concat(outs, ignore_index=True) if outs else empty

    survivors = (
        bucket_rows.groupBy("t", "s")
        .applyInPandas(bucket_fn, "id_a LONG, id_b LONG")
        .distinct()
    )
    a = base.select(F.col("vid").alias("id_a"), F.col("_v").alias("_va"), F.col("_n2").alias("_na"))
    b = base.select(F.col("vid").alias("id_b"), F.col("_v").alias("_vb"), F.col("_n2").alias("_nb"))
    cosine = dot_exact(F.col("_va"), F.col("_vb")) / F.sqrt(
        F.col("_na") * F.col("_nb")
    )
    return (
        survivors.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", cosine.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def semantic_dedup(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.45,
    pairs: DataFrame | None = None,
    **lsh_kwargs,
) -> DataFrame:
    """Per-vector semantic-dedup verdict: LSH-candidate pairs → exact
    cosine gate → min-id star contraction (the same canonicalization shape
    the exact-dedup family and the curation manifest use; full transitive
    closure is the connected-components operator).  EVERY corpus id is
    kept in the output with its canonical and ``is_kept`` — dedup
    decisions must be auditable, zero-norm vectors canonicalize to
    themselves.

    ``pairs`` lets a caller that has already materialized the candidate
    pairs (plans/similarity.py memoizes them per session — the recall row
    and this row share them) skip re-deriving the LSH + cosine pipeline;
    it must be the ``(id_a, id_b, cosine)`` frame ``semantic_dedup_pairs``
    returns for the same corpus/threshold."""
    if pairs is None:
        pairs = semantic_dedup_pairs(
            corpus, id_col, vec_col, threshold, **lsh_kwargs
        )
    # explode, not a two-branch union: a union evaluates the whole LSH +
    # two-phase-cosine pipeline once per branch
    nbrs = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("id_a").alias("vid"), F.col("id_b").alias("nb")),
                F.struct(F.col("id_b").alias("vid"), F.col("id_a").alias("nb")),
            )
        ).alias("e")
    ).select("e.vid", "e.nb")
    return (
        corpus.select(F.col(id_col).alias("vec_id"))
        .join(nbrs, F.col("vec_id") == F.col("vid"), "left")
        .groupBy("vec_id")
        .agg(
            F.least(
                F.col("vec_id"), F.coalesce(F.min("nb"), F.col("vec_id"))
            ).alias("canonical_id")
        )
        .withColumn("is_kept", F.col("vec_id") == F.col("canonical_id"))
    )


def dist2_exact(a: Column, b: Column) -> Column:
    """Order-exact squared euclidean distance (the :func:`dot_exact`
    fold discipline applied to (x-y)^2 terms) — bit-identical to a SQL
    engine's sequential list_reduce."""
    diffs = F.zip_with(a, b, lambda x, y: (x - y) * (x - y))
    return F.aggregate(diffs, F.lit(0.0), lambda acc, d: acc + d)


def _centroid_array(cent: DataFrame) -> DataFrame:
    """The n_clusters-row (j, cv) centroid frame contracted to ONE row
    holding a j-sorted ``_cents`` array — the broadcast form that lets the
    per-vector nearest-centroid argmin run entirely MAP-SIDE.  The former
    shape (crossJoin against the 16-row frame + a row_number window
    partitioned by vector id) exploded every corpus row 16x and then
    shuffled AND sorted that 16x stream just to keep rank 1; per Lloyd
    round that was a corpus×16 Exchange+Sort+Window for what is
    arithmetically a per-row min over 16 candidates (guide §2.1: the best
    shuffle is the one you delete)."""
    return cent.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("j", "cv"))).alias("_cents")
    )


def _centroid_ranks(vec: Column) -> Column:
    """(d, j) structs for ``vec`` against every centroid in the broadcast
    ``_cents`` array — order-exact dist2, ready for array_min (argmin,
    ties -> smaller j: struct comparison is field-wise, d then j — the
    same total order the former ``orderBy(dist2, j)`` window used) or
    array_sort + slice (top-n_probe)."""
    return F.transform(
        F.col("_cents"),
        lambda c: F.struct(
            dist2_exact(vec, c.getField("cv")).alias("d"),
            c.getField("j").alias("j"),
        ),
    )


def _argmin_cluster(vec: Column) -> Column:
    """j of the nearest centroid (order-exact dist2, ties -> smaller j),
    computed per row with zero shuffle."""
    return F.array_min(_centroid_ranks(vec)).getField("j")


def lloyd_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_clusters: int = 16,
    n_iters: int = 2,
) -> DataFrame:
    """ENGINE-PORTABLE coarse quantizer: fixed-iteration Lloyd k-means
    whose every arithmetic step is reproducible in ANSI-ish SQL, so an
    IVF top-k built on it can be hash-certified end to end (the ML-lib
    ``KMeans`` in :func:`ivf_topk` trains a better quantizer via kmeans||
    but its RNG lives only in the JVM — its quality is certified by the
    recall-bound row instead).

    Deterministic recipe, mirrored verbatim by the DuckDB oracle:

    - init: centroid ``j`` = vector of the (j+1)-th smallest id;
    - ``n_iters`` Lloyd rounds: assign each vector to the centroid with
      the smallest order-exact ``dist2`` (ties -> smaller j), then update
      each centroid dimension as a FIXED-POINT mean —
      ``double(SUM(floor(val*1e12)::bigint)) / 1e12 / n`` — integer sums
      are order-free so the mean is bit-identical under any partitioning
      AND across engines (the float-sum mean would drift both ways);
      clusters that lose all members keep their previous centroid;
    - returns the final (j, cv) centroid frame (n_clusters rows).

    Everything is DataFrame ops: the argmin is a MAP-SIDE array_min over
    the broadcast 1-row centroid-array frame (zero shuffle — see
    :func:`_centroid_array`), the update is one (cluster, dim) hash
    aggregation; per round that is one tiny broadcast and one
    map-side-combinable shuffle of at most clusters x dim rows per
    partition — Lloyd's cost profile at 100 TB.
    The bigint fixed-point sum holds exactly below ~9e15, i.e. ~9000
    vectors per (cluster, dim) at unit-scale values — the certification
    operating point, not a production limit (production uses ivf_topk).
    """
    nrm = with_norm2(corpus, vec_col, "_n2").select(
        F.col(id_col).alias("_vid"), F.col(vec_col).alias("_v")
    )
    # TakeOrdered(16) FIRST, so the numbering window runs over a
    # GlobalLimit-bounded 16-row frame, never the corpus (the
    # no-global-window plan guard's convention)
    cent = (
        nrm.orderBy("_vid")
        .limit(n_clusters)
        .withColumn("_rn", F.row_number().over(Window.orderBy("_vid")))
        .select((F.col("_rn") - 1).alias("j"), F.col("_v").alias("cv"))
        .localCheckpoint(eager=True)  # tiny; cut before the loop doubles it
    )
    for _ in range(n_iters):
        asg = (
            nrm.crossJoin(F.broadcast(_centroid_array(cent)))
            .select(
                "_vid",
                "_v",
                _argmin_cluster(F.col("_v")).alias("_cluster"),
            )
        )
        upd = (
            asg.select(
                "_cluster", F.posexplode(F.col("_v")).alias("_pos", "_val")
            )
            .groupBy("_cluster", "_pos")
            .agg(
                (
                    F.sum(F.floor(F.col("_val") * 1e12).cast("bigint"))
                    .cast("double")
                    / F.lit(1e12)
                    / F.count(F.lit(1))
                ).alias("_cval")
            )
            .groupBy("_cluster")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("_pos", "_cval"))
                    ),
                    lambda s: s.getField("_cval"),
                ).alias("_newcv")
            )
        )
        cent = (
            cent.join(upd, cent.j == upd._cluster, "left")
            .select(
                "j", F.coalesce(F.col("_newcv"), F.col("cv")).alias("cv")
            )
            .localCheckpoint(eager=True)
        )
    return cent


def lloyd_ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_clusters: int = 16,
    n_probe: int = 3,
    n_iters: int = 2,
    cache_key: str | None = None,
) -> DataFrame:
    """IVF top-k over the :func:`lloyd_centroids` quantizer — the
    hash-certifiable IVF row: probe the ``n_probe`` nearest centroids
    (order-exact dist2, ties -> smaller j), exact-cosine-rerank only the
    probed clusters' members, ``row_number`` ties broken on candidate id.
    Identical plan shape to :func:`ivf_topk` (broadcast centroid frame,
    cluster equi-join, per-query window) with the trained-quantizer RNG
    replaced by the portable recipe.

    ``cache_key``: like :func:`ivf_topk`'s, pins the trained index — the
    cluster-assigned corpus and the centroid array — in the shared
    ``_IVF_INDEX_CACHE`` (bounded LRU, unpersist-on-evict).  A quantizer
    is an index: build once per (session, corpus), serve every query
    batch from it; the recipe is seeded/deterministic so cached and
    fresh builds are bit-identical."""

    def _build_index(persist: bool):
        cent = lloyd_centroids(corpus, id_col, vec_col, n_clusters, n_iters)
        centarr = _centroid_array(cent)
        c0 = with_norm2(corpus, vec_col, "_cn").select(
            F.col(id_col).alias("c_id"), F.col(vec_col).alias("_cv"), "_cn"
        )
        # map-side argmin over the broadcast centroid array — same total
        # order (dist2, then j) the former per-c_id window used, with no
        # corpus×16 Exchange+Sort behind it
        built = c0.crossJoin(F.broadcast(centarr)).select(
            "c_id",
            "_cv",
            "_cn",
            _argmin_cluster(F.col("_cv")).alias("_cluster"),
        )
        if persist:
            built = built.persist()
        return built, centarr

    if cache_key is not None:
        assigned, centarr = _IVF_INDEX_CACHE.get_or_build(
            corpus.sparkSession,
            (cache_key, "lloyd", n_clusters, n_iters),
            lambda: _build_index(True),
        )
    else:
        assigned, centarr = _build_index(False)

    q0 = with_norm2(queries, vec_col, "_qn").select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("_qv"), "_qn"
    )
    # top-n_probe clusters per query: sort the 16 (d, j) structs in-row
    # and explode the head — the query frame is tiny, the win is plan
    # uniformity (no window at all in this function)
    probes = q0.crossJoin(F.broadcast(centarr)).select(
        "q_id",
        "_qv",
        "_qn",
        F.explode(
            F.transform(
                F.slice(
                    F.array_sort(_centroid_ranks(F.col("_qv"))),
                    1,
                    n_probe,
                ),
                lambda s: s.getField("j"),
            )
        ).alias("_cluster"),
    )
    cosine = dot_exact(F.col("_qv"), F.col("_cv")) / F.sqrt(
        F.col("_qn") * F.col("_cn")
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("c_id")
    )
    return (
        assigned.join(F.broadcast(probes), "_cluster")
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", cosine.alias("cosine"))
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


_IVF_INDEX_META = "_index_meta.json"


def _write_ivf_index(
    index: str, feat: DataFrame, n_clusters: int, seed: int, **meta
) -> None:
    """Train a seeded ML-lib kmeans|| quantizer on ``feat`` (``c_id``,
    ``_cv``, ``_cn``, ``_feat``), write the assigned corpus partitioned by
    ``_cluster`` at ``index`` and the centroids (plus ``meta``) beside it."""
    import json
    import os

    from pyspark.ml.clustering import KMeans

    model = KMeans(
        k=n_clusters, seed=seed, featuresCol="_feat", predictionCol="_cluster",
    ).fit(feat)
    (
        model.transform(feat)
        .select("c_id", "_cv", "_cn", "_cluster")
        .write.partitionBy("_cluster")
        .parquet(index)
    )
    meta = {
        "n_clusters": n_clusters,
        "seed": seed,
        **meta,
        "centroids": [[float(x) for x in ctr] for ctr in model.clusterCenters()],
    }
    with open(os.path.join(index, _IVF_INDEX_META), "w") as fh:
        json.dump(meta, fh)


def build_ivf_served_index(
    spark,
    sf_dir: str,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    seed: int = 7,
) -> str:
    """Build (once per session and corpus content, see sources/store.py)
    and return the path of a materialized IVF index: the corpus
    cluster-assigned by a seeded ML-lib kmeans|| quantizer and written as
    parquet **partitioned by ``_cluster``**, with the trained centroids
    riding in a ``_index_meta.json`` beside the data.

    This is the production IVF shape at 100 TB — train once, serve many:
    the quantizer cost is paid at build time (and amortized over every
    query batch), the index is a columnar table whose PARTITION layout
    encodes the cluster structure, so a serving probe of ``n_probe`` of
    ``n_clusters`` clusters is a partition-PRUNED scan that never opens
    the other clusters' files (contrast :func:`ivf_topk`, which re-trains
    per session, and ``lloyd_ivf_topk``, which re-trains per QUERY to
    stay oracle-certifiable).  The store keys the index by the corpus's
    content, so a rewritten or different corpus gets its own index.
    """
    import os

    from pyspark.ml.functions import array_to_vector

    from bakery_big_data_spark.sources.store import materialize

    src = os.path.join(sf_dir, f"{table}.parquet")

    def build(out: str) -> None:
        feat = with_norm2(spark.read.parquet(src), vec_col, "_cn").select(
            F.col(id_col).alias("c_id"), F.col(vec_col).alias("_cv"), "_cn"
        ).withColumn("_feat", array_to_vector(F.col("_cv")))
        _write_ivf_index(os.path.join(out, "ivf_index"), feat, n_clusters, seed)

    out = materialize(
        spark, "ivf_index", [src], build, id_col, vec_col, n_clusters, seed
    )
    return os.path.join(out, "ivf_index")


def ivf_served_topk(
    spark,
    index_path: str,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_probe: int = 3,
) -> DataFrame:
    """Serve ANN top-k from a :func:`build_ivf_served_index` artifact —
    NO training in the query path.

    Centroids come from the index manifest (driver-side JSON, tiny); each
    query ranks them as literal expressions (same ranked-array shape as
    :func:`ivf_topk`), and the union of probed cluster ids — a driver
    read bounded by ``n_clusters`` integers, never data rows — becomes a
    partition filter on the index scan, so only the probed clusters'
    parquet files are ever opened (``PartitionFilters`` in the scan,
    asserted by tests/test_similarity.py).  At 100 TB with the default 16/8
    operating point the serve path reads half the index bytes and zero
    training CPU; candidates are exact-cosine reranked per query."""
    import json
    import os

    with open(os.path.join(index_path, _IVF_INDEX_META)) as fh:
        centers = json.load(fh)["centroids"]

    def dist2(vec: Column, center: list[float]) -> Column:
        lit_c = F.lit([float(x) for x in center])
        return F.aggregate(
            F.zip_with(vec, lit_c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, d: acc + d,
        )

    ranked = F.array_sort(
        F.array(
            *[
                F.struct(
                    dist2(F.col("_qv"), ctr).alias("d"),
                    F.lit(i).alias("cluster"),
                )
                for i, ctr in enumerate(centers)
            ]
        )
    )
    q0 = with_norm2(queries, vec_col, "_qn").select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("_qv"), "_qn"
    )
    q = q0.select(
        "q_id",
        "_qv",
        "_qn",
        F.explode(
            F.transform(
                F.slice(ranked, 1, n_probe), lambda s: s.getField("cluster")
            )
        ).alias("_cluster"),
    )
    # bounded driver read: DISTINCT probed cluster ids (≤ n_clusters
    # ints) — the literal IN-list is what turns cluster membership into
    # parquet PARTITION PRUNING on the index scan
    probed = sorted(
        r[0] for r in q.select("_cluster").distinct().collect()
    )
    idx = spark.read.parquet(index_path).filter(
        F.col("_cluster").isin(probed)
    )
    cosine = dot_exact(F.col("_qv"), F.col("_cv")) / F.sqrt(
        F.col("_qn") * F.col("_cn")
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("c_id")
    )
    return (
        idx.join(F.broadcast(q), "_cluster")
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", cosine.alias("cosine"))
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def ivf_index_upsert(
    spark,
    index_path: str,
    new_rows: DataFrame,
    id_col: str,
    vec_col: str,
) -> None:
    """Incremental IVF index MAINTENANCE: assign new vectors to their
    nearest EXISTING centroid (manifest literals — map-only, zero
    training) and append them into the cluster-partitioned parquet
    layout.  I/O is Δ-sized (only the new rows' partition files are
    written; existing files untouched), the manifest is unchanged, and
    the serve path (:func:`ivf_served_topk`) needs no code change — the
    appended rows are picked up by the same partition-pruned scan.  This
    is the production shape for a growing corpus: retrain the quantizer
    on drift schedules, not per ingest batch.  Centroid-assignment uses
    the same Euclidean ranking as the probe path, so an upserted vector
    is always found by probing its own assignment first."""
    import json
    import os

    with open(os.path.join(index_path, _IVF_INDEX_META)) as fh:
        centers = json.load(fh)["centroids"]

    def dist2(vec, center):
        lit_c = F.lit([float(x) for x in center])
        return F.aggregate(
            F.zip_with(vec, lit_c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, d: acc + d,
        )

    # zero-norm vectors are excluded from the index (they have no cosine
    # direction — keeping them would NaN the serve rerank and break the
    # oracle's n2>0 count parity; matches the nrm CTE on the oracle side)
    feat = (
        with_norm2(new_rows, vec_col, "_cn")
        .filter(F.col("_cn") > 0)
        .select(
            F.col(id_col).alias("c_id"),
            F.col(vec_col).alias("_cv"),
            "_cn",
        )
    )
    ranked = F.array_sort(
        F.array(
            *[
                F.struct(
                    dist2(F.col("_cv"), ctr).alias("d"),
                    F.lit(i).alias("cluster"),
                )
                for i, ctr in enumerate(centers)
            ]
        )
    )
    (
        feat.withColumn("_cluster", ranked[0].getField("cluster"))
        .write.mode("append")
        .partitionBy("_cluster")
        .parquet(index_path)
    )


def build_ivf_upserted_index(
    spark,
    sf_dir: str,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    seed: int = 7,
    holdout_mod: int = 17,
) -> str:
    """Materialized index certifying the upsert path: the quantizer is
    trained on the corpus MINUS the ``id %% holdout_mod == 0`` slice, the
    base index is written cluster-partitioned, and the held-out slice is
    then :func:`ivf_index_upsert`-ed into it — all in one store build
    (see :func:`build_ivf_served_index`), so a failed upsert leaves no
    index behind."""
    import os

    from pyspark.ml.functions import array_to_vector

    from bakery_big_data_spark.sources.store import materialize

    src = os.path.join(sf_dir, f"{table}.parquet")

    def build(out: str) -> None:
        index = os.path.join(out, "ivf_index")
        corpus = spark.read.parquet(src)
        base = corpus.filter(F.col(id_col) % holdout_mod != 0)
        # zero-norm vectors excluded, matching ivf_index_upsert and the
        # oracle's nrm (n2 > 0) CTE
        feat = with_norm2(base, vec_col, "_cn").filter(
            F.col("_cn") > 0
        ).select(
            F.col(id_col).alias("c_id"), F.col(vec_col).alias("_cv"), "_cn"
        ).withColumn("_feat", array_to_vector(F.col("_cv")))
        _write_ivf_index(index, feat, n_clusters, seed, holdout_mod=holdout_mod)
        ivf_index_upsert(
            spark,
            index,
            corpus.filter(F.col(id_col) % holdout_mod == 0),
            id_col,
            vec_col,
        )

    out = materialize(
        spark, "ivf_index_upserted", [src], build,
        id_col, vec_col, n_clusters, seed, holdout_mod,
    )
    return os.path.join(out, "ivf_index")
