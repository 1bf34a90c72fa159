"""Deduplication queries over ``documents.parquet`` — the LLM-data-pipeline
dedup family (exact, exact n-gram Jaccard, MinHash+LSH, canonicalization,
SimHash).

Oracle strategy: the exact-Jaccard pipelines are reproduced verbatim in
DuckDB SQL (set algebra is engine-independent).  The MinHash+LSH family
(pairs / canonical assignment / connected components) is BANDING-AWARE
end-to-end: candidates come from the engine-portable MinHash banding
(md5-half + Carter-Wegman, bit-identical cross-engine) and every oracle
re-derives the identical banded candidate predicate in SQL before exact
verification, so the certification holds at every scale factor.  The
previous all-pairs oracles only coincided where banding recall happened
to be 100% — true at sf0.01, but the r09 sf0.1 `bench.py --verify`
sweep surfaced five borderline J≈0.5 pairs the banding (correctly,
probabilistically) missed.  Recall itself is certified quantitatively by
dedup_minhash_recall.  SimHash emits engine-portable md5-half bits and
is hash-certified (r08).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bakery_big_data_spark.operators.cache import PlanCache
from bakery_big_data_spark.operators.dedup import (
    canonical_assignment,
    connected_components,
    portable_candidate_pairs,
    simhash_banded_pairs,
    verify_pairs,
    with_portable_simhash,
    word_shingles,
)
from bakery_big_data_spark.plans.base import register, spread, t
from bakery_big_data_spark.sources.tables import data_bytes

# Shared oracle: exact word-trigram Jaccard pairs at threshold 0.5 computed
# with plain set SQL (shared-shingle candidates, never all-pairs).
_EXACT_PAIRS_SQL = """
    WITH docs AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), bg AS (
      SELECT doc_id,
             list_distinct(
               list_transform(generate_series(1, len(ws) - 2),
                              i -> ws[i] || '_' || ws[i + 1] || '_' || ws[i + 2])) AS bs
      FROM docs
    ), sizes AS (
      SELECT doc_id, len(bs) AS n FROM bg
    ), tok AS (
      SELECT doc_id, unnest(bs) AS b FROM bg
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM tok a JOIN tok b ON a.b = b.b AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), j AS (
      SELECT id_a, id_b, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
    )
    SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.5
"""


def _portable_sig_ctes() -> str:
    """DuckDB CTEs re-deriving the portable MinHash signature table: same
    md5-half base hash, same Carter-Wegman slots as
    ``operators/dedup.py::with_portable_minhash_bands``."""
    from bakery_big_data_spark.operators.dedup import PORTABLE_MINHASH_CW

    h = "(('0x' || substr(md5(g), 1, 8))::BIGINT & 2147483647)"
    slots = ",\n             ".join(
        f"list_min(list_transform(bs, g -> ({a} * {h} + {b}) % 2147483647))"
        for a, b in PORTABLE_MINHASH_CW
    )
    return f"""
    docs2 AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), bg2 AS (
      SELECT doc_id,
             list_distinct(
               list_transform(generate_series(1, len(ws) - 2),
                              i -> ws[i] || '_' || ws[i + 1] || '_' || ws[i + 2])) AS bs
      FROM docs2
    ), sig AS (
      SELECT doc_id,
             [{slots}] AS sig
      FROM bg2 WHERE len(bs) > 0
    )"""


def _portable_band_collision_pred() -> str:
    """OR over the 16 BIGINT band-pair-encoded keys — band j of ``sa``
    equals band j of ``sb`` (exactly the implementation's (band_idx,
    band_hash) equi-join predicate)."""
    return "\n              OR ".join(
        f"(sa.sig[{2 * j + 1}] * 2147483648 + sa.sig[{2 * j + 2}]"
        f" = sb.sig[{2 * j + 1}] * 2147483648 + sb.sig[{2 * j + 2}])"
        for j in range(16)
    )


#: Bounded LRU (unpersist-on-evict, weakref session identity) — see
#: operators/cache.py; at most 2 scale factors' shingle frames stay pinned.
_SHINGLE_CACHE = PlanCache(max_entries=2)

#: LSH-verified near-dup pairs (id_a, id_b, jaccard — ~25 rows/sf).  Three
#: queries (LSH pairs, canonical assignment, connected components) derive
#: the IDENTICAL pairs frame through minhash → banding → exact verify;
#: caching it turns the second and third builds into a tiny table read.
_PAIRS_CACHE = PlanCache(max_entries=2)

#: Portable-SimHash signatures (doc_id, hi, lo — ~24 B/doc).  Persisted
#: because the banded self-join references the frame from both sides and
#: the band-array projection would otherwise inline the vote fold into
#: every band expression per side (the same CollapseProject blowup the ANN
#: signature tables hit in round 5 — ~12× the fold cost).
# shared by the simhash, phash, and cross-doc-span families — hold one
# artifact per family without LRU thrash during a full catalog sweep
_SIG_CACHE = PlanCache(max_entries=4)


def _lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH-verified near-dup pairs, built once per (session, sf).

    Candidates come from the ENGINE-PORTABLE MinHash banding (16×2,
    md5-half + Carter-Wegman — operators/dedup.py::portable_candidate_
    pairs) rather than the xxhash64 family: banding recall is < 1 for
    borderline-Jaccard pairs, so the family's oracles must re-derive the
    exact candidate predicate in SQL, which is only possible when both
    engines compute bit-identical band keys.  Found the hard way at
    sf0.1 (r09 ``bench.py --verify``): the xxhash64 banding missed five
    true J≈0.5 pairs that the all-pairs oracle contained — recall was
    coincidentally 100% at the driver's sf0.01 but not one SF up (the
    same lesson as the r08 streaming-gate oracles, now applied to the
    whole batch-LSH family)."""

    def build() -> DataFrame:
        docs = _shingled(spark, sf_dir, cache=True)
        cands = portable_candidate_pairs(
            docs, "doc_id", "shingles", bands=16, rows_per_band=2
        )
        return verify_pairs(
            cands, docs, "doc_id", "shingles", threshold=0.5
        ).persist()

    return _PAIRS_CACHE.get_or_build(spark, (sf_dir, "lsh_pairs"), build)


def _banded_pairs_sql() -> str:
    """The LSH family's pair predicate in DuckDB: true J>=0.5 pairs
    RESTRICTED to portable-banding candidate collisions — the exact
    output of ``_lsh_pairs`` at every scale factor."""
    return f"""
    all_pairs AS ({_EXACT_PAIRS_SQL}),
    {_portable_sig_ctes()},
    pairs AS (
      SELECT p.id_a, p.id_b, p.jaccard
      FROM all_pairs p
      JOIN sig sa ON sa.doc_id = p.id_a
      JOIN sig sb ON sb.doc_id = p.id_b
      WHERE ({_portable_band_collision_pred()})
    )"""


def _shingled(spark: SparkSession, sf_dir: str, cache: bool = False) -> DataFrame:
    """Trigram-shingled corpus.  ``cache=True`` persists it for queries
    whose DAG references the frame from several branches (candidates +
    verify sides) — shingle construction is the dominant per-doc cost and
    would otherwise be re-evaluated per branch (the reference's
    recompute-the-plan anti-pattern, SURVEY.md §4).  The persisted frame is
    memoized per (session, sf) so repeated query builds share ONE cache
    entry instead of stacking copies."""
    if cache:
        return _SHINGLE_CACHE.get_or_build(
            spark,
            (sf_dir,),
            lambda: (
                spread(t(spark, sf_dir, "documents"))
                .select("doc_id", word_shingles("text", n=3).alias("shingles"))
                .persist()
            ),
        )
    return spread(t(spark, sf_dir, "documents")).select(
        "doc_id", word_shingles("text", n=3).alias("shingles")
    )


#: Shared-shingle intersection counts with both set sizes attached —
#: (id_a, id_b, _inter, _na, _nb) for every doc pair sharing >= 1 trigram
#: shingle.  THREE rows derive their answer from exactly this frame
#: (dedup_ngram_jaccard_pairs, the truth side of dedup_minhash_recall and
#: dedup_containment_pairs), and each previously re-ran the Σ df² shared-
#: token self-join to rebuild it (guide §1.2: the same decision table
#: re-derived per row is the first redundancy to remove).  ~1.13M rows of
#: five numerics at sf0.1 — small enough to pin, corpus-pass-sized to build.
_INTER_CACHE = PlanCache(max_entries=2)

#: r14 (r13 verdict task 4): persisting the pair frame WINS at sf0.1
#: (trio 0.53×) and ×10 (<1.0×) but LOSES at ×100 (1.35× — the columnar
#: cache write+read of the ~100×-scaled pair frame exceeds the two saved
#: Σ df² joins' codegen recompute).  Gate the persist on the input corpus
#: size: below the threshold the shared frame is pinned, above it each
#: consumer keeps the plain (unpersisted) builder — identical plan, no
#: cache materialization.  The threshold sits between the measured ×10 win
#: and ×100 loss (documents.parquet is ~0.6 MB at sf0.1, ~6 MB at ×10,
#: ~60 MB at ×100).
_INTER_PERSIST_MAX_BYTES = 24 * 1024 * 1024


def _inter_persist_ok(sf_dir: str) -> bool:
    """Data bytes of documents.parquet, a single file or a directory of
    part files, within the persist gate (a missing path has 0 bytes)."""
    path = os.path.join(sf_dir, "documents.parquet")
    return data_bytes(path) <= _INTER_PERSIST_MAX_BYTES


def _inter_sized(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build(persist: bool = True) -> DataFrame:
        docs = _shingled(spark, sf_dir, cache=True)
        tok = docs.select(
            "doc_id", F.explode(F.col("shingles")).alias("_tok")
        )
        a, b = tok.alias("a"), tok.alias("b")
        inter = (
            a.join(
                b,
                (F.col("a._tok") == F.col("b._tok"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"),
            )
            .agg(F.count(F.lit(1)).alias("_inter"))
        )
        sizes = docs.select("doc_id", F.size(F.col("shingles")).alias("_n"))
        out = (
            inter.join(
                sizes.select(
                    F.col("doc_id").alias("id_a"), F.col("_n").alias("_na")
                ),
                "id_a",
            )
            .join(
                sizes.select(
                    F.col("doc_id").alias("id_b"), F.col("_n").alias("_nb")
                ),
                "id_b",
            )
        )
        return out.persist() if persist else out

    if not _inter_persist_ok(sf_dir):
        # above the size gate: plain builder per consumer, no pinning
        return build(persist=False)
    return _INTER_CACHE.get_or_build(spark, (sf_dir, "inter_sized"), build)


def _exact_pairs_from_inter(
    spark: SparkSession, sf_dir: str, threshold: float
) -> DataFrame:
    """Exact Jaccard pairs at ``threshold`` off the shared intersection
    frame — selection order, expressions and output schema identical to
    ``operators.dedup.exact_ngram_pairs`` (same counts, same single IEEE
    divide), only the intersection join is shared instead of rebuilt."""
    jac = F.col("_inter").cast("double") / (
        F.col("_na") + F.col("_nb") - F.col("_inter")
    )
    return (
        _inter_sized(spark, sf_dir)
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


@register(
    "dedup_exact_content",
    """
    SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
    FROM (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
    )
    GROUP BY text
    """,
    doc="Exact content dedup: hash-groupBy on full text, min-id canonical + "
        "multiplicity (duplicate delivery simulated by re-appending every 5th "
        "doc); map-side combinable single shuffle",
)
def dedup_exact_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.unionAll(d.filter(F.col("doc_id") % 5 == 0))
    return (
        corpus.groupBy("text")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("doc_id", "n_copies")
    )


@register(
    "dedup_ngram_jaccard_pairs",
    _EXACT_PAIRS_SQL,
    doc="Exact word-trigram Jaccard near-dup pairs (threshold 0.5) via "
        "shared-shingle candidate join + exact set verification — the "
        "100%-recall baseline the LSH path is measured against",
)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _exact_pairs_from_inter(spark, sf_dir, threshold=0.5)


@register(
    "dedup_minhash_lsh_pairs",
    f"""
    WITH {_banded_pairs_sql()}
    SELECT id_a, id_b, jaccard FROM pairs
    """,
    doc="MinHash(32 portable slots) + LSH(b=16, r=2) banded candidate "
        "pairs, exact-Jaccard verified at 0.5 — candidates come from the "
        "band-bucket equi-join, never all-pairs; the oracle re-derives "
        "the IDENTICAL portable banding predicate before verification "
        "(banding-aware — valid at every SF, not just where recall is "
        "luckily 100%; recall itself is certified by dedup_minhash_recall)",
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lsh_pairs(spark, sf_dir)


@register(
    "dedup_canonical_assignment",
    f"""
    WITH {_banded_pairs_sql()},
    nbr AS (
      SELECT id_a AS doc_id, id_b AS nb FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    )
    SELECT d.doc_id,
           LEAST(d.doc_id, COALESCE(MIN(n.nb), d.doc_id)) AS canonical_id
    FROM documents d LEFT JOIN nbr n ON d.doc_id = n.doc_id
    GROUP BY d.doc_id
    """,
    doc="Duplicate-cluster canonicalization: every doc → min(self, near-dup "
        "neighbors) single-pass star contraction over the LSH-verified pairs "
        "(banding-aware oracle — see dedup_minhash_lsh_pairs)",
)
def dedup_canonical_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _shingled(spark, sf_dir, cache=True)
    return canonical_assignment(docs, "doc_id", _lsh_pairs(spark, sf_dir))


@register(
    "dedup_connected_components",
    f"""
    WITH RECURSIVE {_banded_pairs_sql()},
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ), reach(node, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.node
    )
    SELECT node AS doc_id, CAST(MIN(r) AS BIGINT) AS canonical_id
    FROM reach GROUP BY node
    """,
    doc="True connected-components duplicate clustering: iterative min-label "
        "propagation to a fixpoint (handles chains the single-pass star "
        "contraction cannot; tests/test_dedup.py proves the chain case).  "
        "Oracle upgraded (round 5) to a RECURSIVE-CTE transitive closure "
        "with per-node reachable-minimum — a true fixpoint, so the row "
        "stays green even if regenerated testdata grows chained clusters "
        "(the previous star-contraction oracle only coincided because "
        "current clusters are disjoint pairs)",
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _shingled(spark, sf_dir, cache=True)
    return connected_components(docs, _lsh_pairs(spark, sf_dir), "doc_id")


@register(
    "dedup_simhash_banded_pairs",
    """
    WITH docs AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), sh AS (
      SELECT doc_id, list_distinct(
        list_transform(generate_series(1, len(ws) - 1),
                       i -> ws[i] || '_' || ws[i + 1])) AS gs
      FROM docs
    ), wh AS (
      SELECT doc_id,
        list_transform(gs, w ->
          ('0x' || substr(md5(w), 1, 8))::BIGINT & 2147483647) AS h1,
        list_transform(gs, w ->
          ('0x' || substr(md5(w), 9, 8))::BIGINT & 2147483647) AS h2
      FROM sh
    ), sig AS (
      SELECT doc_id,
        CAST(list_sum(list_transform(range(0, 31), i ->
          CASE WHEN list_sum(list_transform(h1, h ->
            CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
          THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS hi,
        CAST(list_sum(list_transform(range(0, 31), i ->
          CASE WHEN list_sum(list_transform(h2, h ->
            CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
          THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS lo
      FROM wh
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.hi, b.hi))
              + bit_count(xor(a.lo, b.lo)) AS BIGINT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 5
    """,
    doc="Engine-portable SimHash(62) near-dup pairs: word-bigram shingles → "
        "md5 hex halves as two 31-bit hashes → per-bit majority vote → two "
        "31-bit BIGINT halves; pairs at Hamming <= 5 found via a 6-band "
        "disjoint-bit bucket equi-join (pigeonhole-guaranteed 100% recall at "
        "the threshold — never all-pairs; the oracle IS all-pairs, proving "
        "banding lost nothing).  Unlike dedup_simhash_fingerprint's "
        "xxhash64 bits, every bit here is cross-engine reproducible",
)
def dedup_simhash_banded_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = _SIG_CACHE.get_or_build(
        spark,
        (sf_dir, "portable_simhash"),
        lambda: (
            with_portable_simhash(
                spread(t(spark, sf_dir, "documents").select("doc_id", "text")),
                "text",
            )
            .select("doc_id", "simhash_hi", "simhash_lo")
            .persist()
        ),
    )
    return simhash_banded_pairs(sigs, "doc_id", max_hamming=5)


@register(
    "dedup_simhash_fingerprint",
    """
    WITH docs AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), sh AS (
      SELECT doc_id, list_distinct(
        list_transform(generate_series(1, len(ws) - 1),
                       i -> ws[i] || '_' || ws[i + 1])) AS gs
      FROM docs
    ), wh AS (
      SELECT doc_id,
        list_transform(gs, w ->
          ('0x' || substr(md5(w), 1, 8))::BIGINT & 2147483647) AS h1,
        list_transform(gs, w ->
          ('0x' || substr(md5(w), 9, 8))::BIGINT & 2147483647) AS h2
      FROM sh
    )
    SELECT doc_id,
      CAST(list_sum(list_transform(range(0, 31), i ->
        CASE WHEN list_sum(list_transform(h1, h ->
          CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
        THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS simhash_hi,
      CAST(list_sum(list_transform(range(0, 31), i ->
        CASE WHEN list_sum(list_transform(h2, h ->
          CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
        THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS simhash_lo
    FROM wh
    """,
    doc="SimHash document fingerprints as (hi, lo) BIGINT halves, "
        "hash-certified per bit (upgraded from rows-only): the registered "
        "row ships the engine-PORTABLE signature (word-bigram shingles -> "
        "md5 hex halves as two 31-bit hashes -> per-bit majority vote — "
        "the same bits dedup_simhash_banded_pairs' banding is certified "
        "on), so every fingerprint bit is re-derived by the oracle.  The "
        "xxhash64-based with_simhash stays the throughput variant (one "
        "JVM hash per word vs 32 md5 slots; its bit PATTERNS are "
        "Spark-specific, which is why the certified row uses the portable "
        "family — locality behavior of both is property-tested in "
        "tests/test_dedup.py)",
)
def dedup_simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = _SIG_CACHE.get_or_build(
        spark,
        (sf_dir, "portable_simhash"),
        lambda: (
            with_portable_simhash(
                spread(t(spark, sf_dir, "documents").select("doc_id", "text")),
                "text",
            )
            .select("doc_id", "simhash_hi", "simhash_lo")
            .persist()
        ),
    )
    return sigs


@register(
    "dedup_exact_normalized",
    """
    WITH norm AS (
      SELECT doc_id,
             regexp_replace(trim(regexp_replace(lower(text),
                            '[^a-z0-9 ]', '', 'g')), ' +', ' ', 'g')
               AS norm_text
      FROM documents
    )
    SELECT MIN(doc_id) AS canonical_id,
           COUNT(*) AS n_members,
           CAST(md5(norm_text) AS VARCHAR) AS content_key
    FROM norm
    GROUP BY norm_text
    """,
    doc="Exact dedup on NORMALIZED text (the CCNet-style step real "
        "pipelines run before exact hashing: lowercase, strip "
        "non-alphanumerics, collapse whitespace — so 'Hello,  World!' and "
        "'hello world' collapse to one key).  Regex normalization is "
        "engine-portable (POSIX classes avoided deliberately — their "
        "locale behavior differs), the group key ships as md5 so the "
        "shuffle carries 32-byte keys instead of document bodies at "
        "100 TB, and the hash-agg is map-side combinable",
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    norm = F.regexp_replace(
        F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", "")),
        " +",
        " ",
    )
    return (
        d.select("doc_id", F.md5(norm).alias("content_key"))
        .groupBy("content_key")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select("canonical_id", "n_members", "content_key")
    )


def _span_base_occ(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(base, occ) for the 5-token cross-doc span family: ``base`` carries
    per-doc token/span counts, ``occ`` one (doc_id, pos, g) row per span
    position (memoized per (session, sf) — shared by the span-statistics
    and span-interval queries)."""
    d = spread(t(spark, sf_dir, "documents").select("doc_id", "text"))
    ws = F.split(F.col("text"), " ")
    n = F.size(ws)
    idx = F.when(n >= 5, F.sequence(F.lit(1), n - 4)).otherwise(
        F.array().cast("array<int>")
    )
    base = d.select(
        "doc_id",
        n.alias("n"),
        F.greatest(n - 4, F.lit(0)).alias("n_spans"),
        F.transform(
            idx,
            lambda i: F.struct(
                i.alias("pos"), F.array_join(F.slice(ws, i, 5), " ").alias("g")
            ),
        ).alias("_spans"),
    )
    occ = _SIG_CACHE.get_or_build(
        spark,
        (sf_dir, "cross_doc_occ"),
        lambda: base.select("doc_id", F.explode("_spans").alias("s"))
        .select("doc_id", "s.pos", "s.g")
        .persist(),
    )
    return base, occ


def _span_dup_positions(occ: DataFrame) -> DataFrame:
    """(doc_id, pos) of every span position whose VALUE occurs more than
    once corpus-wide."""
    cnt = occ.groupBy("g").agg(F.count(F.lit(1)).alias("c"))
    return occ.join(cnt.filter(F.col("c") > 1).select("g"), "g")




@register(
    "dedup_cross_doc_spans",
    """
    WITH docs AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), base AS (
      SELECT doc_id, ws, len(ws) AS n,
             greatest(len(ws) - 4, 0) AS n_spans
      FROM docs
    ), occ AS (
      SELECT doc_id, i AS pos,
             ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
                   || ws[i+3] || ' ' || ws[i+4] AS g
      FROM base, UNNEST(generate_series(1, n - 4)) AS u(i)
    ), cnt AS (
      SELECT g, COUNT(*) AS c FROM occ GROUP BY g
    ), dup AS (
      SELECT o.doc_id, o.pos FROM occ o JOIN cnt ON o.g = cnt.g
      WHERE cnt.c > 1
    ), dupstats AS (
      SELECT doc_id, COUNT(*) AS n_dup_spans FROM dup GROUP BY doc_id
    ), cov AS (
      SELECT doc_id, COUNT(DISTINCT tok) AS covered_tokens
      FROM (SELECT doc_id, unnest(generate_series(pos, pos + 4)) AS tok
            FROM dup)
      GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(b.n_spans AS BIGINT) AS n_spans,
           CAST(COALESCE(d.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
           CAST(COALESCE(c.covered_tokens, 0) AS BIGINT) AS covered_tokens,
           CAST(COALESCE(c.covered_tokens, 0) AS DOUBLE) / b.n
             AS dup_token_frac
    FROM base b
    LEFT JOIN dupstats d ON b.doc_id = d.doc_id
    LEFT JOIN cov c ON b.doc_id = c.doc_id
    """,
    doc="C4-style CROSS-DOCUMENT span dedup statistics (Raffel et al. "
        "2020 §2.2 deduplicates any three-sentence span occurring more "
        "than once in the corpus; here the span unit is the 5-token "
        "window): every span position whose VALUE occurs >1 time "
        "corpus-wide (within-doc repeats included) is flagged, and each "
        "document reports its duplicated-span count plus the fraction of "
        "its tokens covered by the UNION of flagged windows (interval "
        "union via explode-distinct — overlapping windows never "
        "double-count).  Sub-document granularity distinguishes this "
        "from whole-doc dedup AND from the within-doc repetition "
        "filters.  Plan: one posexplode -> span hash-agg (map-side "
        "combinable; at 100 TB ship xxhash64(span) as the group key so "
        "the shuffle carries 8-byte keys, not text) -> membership join "
        "back -> per-doc coverage agg",
)
def dedup_cross_doc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    base, occ = _span_base_occ(spark, sf_dir)
    dup = _span_dup_positions(occ)
    dupstats = dup.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_spans")
    )
    cov = (
        dup.select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + 4)).alias("tok"),
        )
        .groupBy("doc_id")
        .agg(F.countDistinct("tok").alias("covered_tokens"))
    )
    return (
        base.drop("_spans")
        .join(dupstats, "doc_id", "left")
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_spans").cast("bigint").alias("n_spans"),
            F.coalesce(F.col("n_dup_spans"), F.lit(0))
            .cast("bigint")
            .alias("n_dup_spans"),
            F.coalesce(F.col("covered_tokens"), F.lit(0))
            .cast("bigint")
            .alias("covered_tokens"),
            (
                F.coalesce(F.col("covered_tokens"), F.lit(0)).cast("double")
                / F.col("n")
            ).alias("dup_token_frac"),
        )
    )


def _banded_gate_oracle() -> str:
    """Banding-AWARE gate oracle: neighbors are the pairs that are BOTH
    true near-dups (Jaccard >= 0.5) AND collide in at least one portable
    MinHash band — the implementation's exact candidate predicate.  The
    previous all-pairs oracle only matched at scale factors where banding
    recall happened to be 100% (25/25 at sf0.01 but 251/256 at sf0.1 —
    see dedup_minhash_recall), i.e. it certified at toy scale only; this
    one is valid at every scale factor because both engines apply the
    identical LSH candidate filter."""
    return f"""
    WITH pairs AS ({_EXACT_PAIRS_SQL}),
    {_portable_sig_ctes()},
    banded AS (
      SELECT p.id_a, p.id_b
      FROM pairs p
      JOIN sig sa ON sa.doc_id = p.id_a
      JOIN sig sb ON sb.doc_id = p.id_b
      WHERE ({_portable_band_collision_pred()})
    ),
    nbr AS (
      SELECT id_a AS doc_id, id_b AS nb FROM banded
      UNION ALL
      SELECT id_b, id_a FROM banded
    )
    SELECT d.doc_id,
           LEAST(d.doc_id, COALESCE(MIN(n.nb), d.doc_id)) AS canonical_id,
           d.doc_id = LEAST(d.doc_id, COALESCE(MIN(n.nb), d.doc_id))
             AS is_kept
    FROM documents d LEFT JOIN nbr n ON d.doc_id = n.doc_id
    GROUP BY d.doc_id
    """


@register(
    "streaming_dedup_ingest_gate",
    _banded_gate_oracle(),
    doc="STREAMING near-dup ingest gate == batch LSH canonicalization, "
        "certified by hash — dedup-at-the-well, the production shape for "
        "dedup at 100 TB: streaming/dedup_gate.py replays the corpus as "
        "doc-id-ordered micro-batches; each foreachBatch probes the new "
        "docs' portable MinHash bands against the accumulated band index "
        "(band equi-join, never all-pairs), exact-Jaccard-verifies "
        "candidates, and decides keep/drop AT ARRIVAL, committing "
        "band/shingle/decision state with the micro-batch id inside each "
        "snapshot swap (checkpoint re-delivery exactly-once).  Ordered "
        "arrival makes greedy first-wins equal the batch star contraction "
        "(LEAST(self, MIN(neighbors)) — larger neighbors never lower the "
        "min), and the oracle re-derives the SAME portable-banding "
        "candidate predicate in SQL (banding-aware, like "
        "dedup_minhash_recall) so the certification holds at every scale "
        "factor, not just where banding recall is luckily 100%",
)
def streaming_dedup_ingest_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bakery_big_data_spark.sources.store import materialize, table_files
    from bakery_big_data_spark.streaming.dedup_gate import (
        run_streaming_dedup_gate,
    )

    def build(base: str) -> None:
        dec = run_streaming_dedup_gate(spark, sf_dir, base, n_chunks=4)
        dec.write.parquet(f"{base}/decisions_out")

    base = materialize(
        spark, "streaming_dedup_ingest_gate", table_files(sf_dir, "documents"),
        build,
    )
    return spark.read.parquet(f"{base}/decisions_out")


def _portable_minhash_recall_oracle() -> str:
    """Every true pair flagged with whether portable banding collides in
    any band."""
    return f"""
    WITH pairs AS ({_EXACT_PAIRS_SQL}),
    {_portable_sig_ctes()}
    SELECT p.id_a, p.id_b, p.jaccard,
           ({_portable_band_collision_pred()}) AS caught_by_banding
    FROM pairs p
    JOIN sig sa ON sa.doc_id = p.id_a
    JOIN sig sb ON sb.doc_id = p.id_b
    """


@register(
    "dedup_minhash_recall",
    _portable_minhash_recall_oracle(),
    doc="Quantitative certification of MinHash-LSH banding recall — the "
        "bound row the MinHash family lacked (the semantic and ANN "
        "families already carry theirs): every TRUE trigram-Jaccard>=0.5 "
        "pair flagged with whether 16x2 banding over a fully "
        "ENGINE-PORTABLE MinHash (md5-half base + Carter-Wegman slots, "
        "operators/dedup.py::with_portable_minhash_bands) collides in "
        "any band.  The oracle re-derives every signature slot and band "
        "key in DuckDB, so the per-pair flags are STATED TRUE "
        "cross-engine and the recall figure is certified, not asserted.  "
        "Context from the r07 sf0.1 cross-check: the production xxhash "
        "banding catches 251/256 true pairs at sf0.1 — banding recall at "
        "threshold is probabilistic ((1-J^r)^b ~ 1-2% misses near "
        "J=0.5), which is exactly why this row exists",
)
def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bakery_big_data_spark.operators.dedup import (
        with_portable_minhash_bands,
    )

    sh = _shingled(spark, sf_dir, cache=True)
    truth = _exact_pairs_from_inter(spark, sf_dir, threshold=0.5)
    bands = with_portable_minhash_bands(
        sh.filter(F.size("shingles") > 0), "doc_id", "shingles"
    )
    a = bands.select(
        F.col("doc_id").alias("id_a"), F.col("band_keys").alias("_ba")
    )
    b = bands.select(
        F.col("doc_id").alias("id_b"), F.col("band_keys").alias("_bb")
    )
    return (
        truth.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            "jaccard",
            F.exists(
                F.zip_with(F.col("_ba"), F.col("_bb"), lambda x, y: x == y),
                lambda v: v,
            ).alias("caught_by_banding"),
        )
    )


@register(
    "dedup_prefix_filter_pairs",
    _EXACT_PAIRS_SQL.replace("jaccard >= 0.5", "jaccard >= 0.8"),
    doc="Exact Jaccard pairs at threshold 0.8 with PPJoin-style "
        "positional PREFIX FILTERING: each doc's shingles are ordered by "
        "ascending global frequency and only the |x| - ceil(t|x|) + 1 "
        "rarest (~20% at t=0.8) participate in the candidate join, plus "
        "the t|A| <= |B| length filter — both cuts lossless (prefix-"
        "filtering theorem; proved on data at t=0.5 AND t=0.8 in "
        "tests/test_dedup.py), so output = the exact all-pairs truth.  "
        "The at-scale contrast: exact_ngram_pairs' candidate volume is "
        "sum(df^2) over the WHOLE vocabulary and explodes on frequent "
        "shingles; prefix candidates live only on rare tokens, and the "
        "prefix shrinks linearly with t — at t=0.8 on sf0.1 this corpus "
        "yields 43.5k candidates vs 1.13M shared-token pairs (26x; at "
        "t=0.5 the prefix is half the doc and only buys 3.6x — PERF.md).  "
        "Third candidate-generation strategy next to all-shared-token "
        "and MinHash banding (exact recall, unlike LSH)",
)
def dedup_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bakery_big_data_spark.operators.dedup import prefix_filter_pairs

    docs = _shingled(spark, sf_dir, cache=True)
    return prefix_filter_pairs(docs, "doc_id", "shingles", threshold=0.8)


@register(
    "dedup_containment_pairs",
    """
    WITH docs AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), bg AS (
      SELECT doc_id,
             list_distinct(
               list_transform(generate_series(1, len(ws) - 2),
                              i -> ws[i] || '_' || ws[i + 1] || '_' || ws[i + 2])) AS bs
      FROM docs
    ), sizes AS (
      SELECT doc_id, len(bs) AS n FROM bg
    ), tok AS (
      SELECT doc_id, unnest(bs) AS b FROM bg
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM tok a JOIN tok b ON a.b = b.b AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), j AS (
      SELECT id_a, id_b, i, sa.n AS na, sb.n AS nb
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
    )
    SELECT id_a AS src_id, id_b AS dst_id,
           CAST(i AS DOUBLE) / na AS containment
    FROM j WHERE CAST(i AS DOUBLE) / na >= 0.8
    UNION ALL
    SELECT id_b, id_a, CAST(i AS DOUBLE) / nb
    FROM j WHERE CAST(i AS DOUBLE) / nb >= 0.8
    """,
    doc="DIRECTED near-containment pairs (|A∩B|/|A| >= 0.8 on trigram "
        "shingle sets): the asymmetric cousin of Jaccard the dedup "
        "literature uses to catch SUBSET duplication — a short doc "
        "quoted/embedded inside a longer one scores high containment but "
        "LOW Jaccard (the union is dominated by the host), so the "
        "symmetric rows miss exactly this class.  Both directions emitted "
        "from ONE undirected shared-shingle intersection join (the "
        "id_a<id_b count join computed once, two ratio projections) — no "
        "second join, no doubled shuffle.  Same candidate machinery as "
        "the exact-Jaccard baseline; at extreme scale the prefix-filter "
        "route applies unchanged (containment >= t implies a shared "
        "token among the |A| - ceil(t|A|) + 1 rarest of A)",
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the undirected intersection join is the SHARED frame (r13: one
    # Σ df² pass serves this row, the exact-Jaccard baseline and the
    # minhash-recall truth side); column names restated for the ratio
    # projections below, values identical to the former inline join
    j = _inter_sized(spark, sf_dir).select(
        "id_a",
        "id_b",
        F.col("_inter").alias("i"),
        F.col("_na").alias("na"),
        F.col("_nb").alias("nb"),
    )
    fwd = j.filter(
        F.col("i").cast("double") / F.col("na") >= 0.8
    ).select(
        F.col("id_a").alias("src_id"),
        F.col("id_b").alias("dst_id"),
        (F.col("i").cast("double") / F.col("na")).alias("containment"),
    )
    rev = j.filter(
        F.col("i").cast("double") / F.col("nb") >= 0.8
    ).select(
        F.col("id_b").alias("src_id"),
        F.col("id_a").alias("dst_id"),
        (F.col("i").cast("double") / F.col("nb")).alias("containment"),
    )
    return fwd.unionAll(rev)


@register(
    "dedup_span_intervals",
    """
    WITH docs AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), base AS (
      SELECT doc_id, ws, len(ws) AS n FROM docs
    ), occ AS (
      SELECT doc_id, i AS pos,
             ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
                   || ws[i+3] || ' ' || ws[i+4] AS g
      FROM base, UNNEST(generate_series(1, n - 4)) AS u(i)
    ), cnt AS (
      SELECT g, COUNT(*) AS c FROM occ GROUP BY g
    ), dup AS (
      SELECT o.doc_id, o.pos FROM occ o JOIN cnt ON o.g = cnt.g
      WHERE cnt.c > 1
    ), ord AS (
      SELECT doc_id, pos,
             CASE WHEN LAG(pos) OVER w IS NULL
                       OR pos - LAG(pos) OVER w > 5
                  THEN 1 ELSE 0 END AS brk
      FROM dup
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), isl AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM ord
    ), iv AS (
      SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + 4 AS e
      FROM isl GROUP BY doc_id, island
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(MAX(e - s + 1) AS BIGINT) AS longest_run,
           CAST(SUM(e - s + 1) AS BIGINT) AS covered_tokens
    FROM iv GROUP BY doc_id
    """,
    doc="MAXIMAL duplicated-span INTERVALS — the statistic span-REMOVAL "
        "needs (Lee et al. 2022, 'Deduplicating training data makes "
        "language models better', removes every duplicated substring "
        "over a length floor; removal operates on merged intervals, not "
        "raw window hits): the flagged 5-token positions of "
        "dedup_cross_doc_spans merged per doc into maximal runs via "
        "gap-and-islands (an island breaks when the next flagged pos "
        "starts past the previous window's token coverage, gap > 5), "
        "emitting per doc the interval count, the LONGEST duplicated "
        "run in tokens, and total covered tokens — the last is "
        "definitionally equal to dedup_cross_doc_spans' "
        "explode-distinct coverage, a cross-query invariant the test "
        "suite asserts.  Plan: the shared memoized (doc,pos,g) span "
        "frame -> span-value hash-agg membership join (the one corpus "
        "shuffle) -> per-doc lag + running-sum windows (PARTITIONED by "
        "doc, never global) -> two-level agg.  At 100 TB ship "
        "xxhash64(span) as the membership key so the shuffle carries "
        "8-byte keys, not text",
)
def dedup_span_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    _, occ = _span_base_occ(spark, sf_dir)
    dup = _span_dup_positions(occ)
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev = F.lag("pos").over(w)
    ord_ = dup.select(
        "doc_id",
        "pos",
        F.when(
            prev.isNull() | (F.col("pos") - prev > 5), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("brk"),
    )
    isl = ord_.select(
        "doc_id",
        "pos",
        F.sum("brk")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("island"),
    )
    iv = isl.groupBy("doc_id", "island").agg(
        F.min("pos").alias("s"), (F.max("pos") + F.lit(4)).alias("e")
    )
    ln = F.col("e") - F.col("s") + F.lit(1)
    return iv.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.max(ln).cast("bigint").alias("longest_run"),
        F.sum(ln).cast("bigint").alias("covered_tokens"),
    )
