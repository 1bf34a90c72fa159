"""Driver-contract queries for the medallion pipeline layers — the pure
transforms behind pipeline/medallion.py, hash-checked layer by layer
(bronze→silver transform, gold daily fact, ML feature build)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bakery_big_data_spark.pipeline.medallion import (
    EVENT_RULES_SQL,
    FEEDBACK_RULES_SQL,
    bronze_events,
    bronze_feedback,
    gold_dim_calendar,
    gold_dim_promotions,
    gold_dim_type_stats,
    gold_fact_daily,
    gold_fact_feedback_daily,
    gold_seasonality,
    ml_features_daily,
    ml_features_wide,
    silver_events,
    silver_feedback,
)
from bakery_big_data_spark.operators.cache import PlanCache
from bakery_big_data_spark.plans.base import register
from bakery_big_data_spark.sources.store import materialize, table_files

#: Silver is a MATERIALIZED layer in a medallion architecture — production
#: writes it once and every gold/ML consumer reads the table.  The in-session
#: analog: persist the silver frame once per (session, sf) and let every
#: multi-consumer row (features_wide's 6 enrichment legs, SCD2's two
#: profiles, ml_features' fact+calendar) read the cached blocks instead of
#: re-running the scan+score lineage per leg.  r09→r10 adjudication measured
#: the per-leg re-derivation — not shared-artifact session interaction — as
#: the entire cost of the two bench slowdowns (PERF.md "Round-10:
#: medallion slowdown adjudication").
_MEDALLION_CACHE = PlanCache(max_entries=2)


def _silver_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _MEDALLION_CACHE.get_or_build(
        spark,
        (sf_dir, "silver_events"),
        lambda: silver_events(bronze_events(spark, sf_dir)).persist(),
    )


_SILVER_SQL = f"""
    WITH bronze AS (
      SELECT *,
             make_timestamp(epoch_us(ts) + (event_id % 50) * 3600000000)
               AS ingestion_ts
      FROM events
    ), scored AS (
      SELECT *, {EVENT_RULES_SQL} AS q FROM bronze
    )
    SELECT event_id, user_id, event_type, value,
           CAST(ts AS DATE) AS event_date,
           CASE
             WHEN EXTRACT(hour FROM ts) BETWEEN 5 AND 10 THEN 'morning'
             WHEN EXTRACT(hour FROM ts) BETWEEN 11 AND 13 THEN 'lunch'
             WHEN EXTRACT(hour FROM ts) BETWEEN 14 AND 17 THEN 'afternoon'
             WHEN EXTRACT(hour FROM ts) BETWEEN 18 AND 22 THEN 'evening'
             ELSE 'off_hours'
           END AS time_of_day,
           q AS data_quality_score,
           ingestion_ts AS etl_timestamp
    FROM scored WHERE q >= 50
"""

_FACT_SQL = f"""
    SELECT event_date, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value,
           CAST(SUM(CASE WHEN time_of_day = 'off_hours' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_off_hours
    FROM ({_SILVER_SQL})
    GROUP BY event_date, event_type
"""


@register(
    "medallion_silver_transform",
    _SILVER_SQL,
    doc="Bronze→Silver transform end to end: ingestion-time bifurcation "
        "(T7), quality-rule fold + threshold gate (§2.11), typed "
        "derivations (reference bronze_to_silver.py:39-73); map-only",
)
def medallion_silver_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    return silver_events(bronze_events(spark, sf_dir))


@register(
    "medallion_gold_daily_fact",
    _FACT_SQL,
    doc="Silver→Gold daily fact rollup with conditional aggregation "
        "(reference silver_to_gold.py:373-386): decimal-exact sums, "
        "map-side-combinable single shuffle",
)
def medallion_gold_daily_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gold_fact_daily(silver_events(bronze_events(spark, sf_dir)))


@register(
    "medallion_ml_features",
    f"""
    WITH fact AS ({_FACT_SQL}),
    cal AS (
      SELECT DISTINCT event_date,
             dayname(event_date) AS weekday_name,
             dayname(event_date) IN ('Saturday','Sunday') AS is_weekend
      FROM ({_SILVER_SQL})
    )
    SELECT f.event_date, f.event_type, f.n_events, f.total_value,
           CAST(SUM(CAST(f.total_value AS DECIMAL(30,6))) OVER w8 AS DOUBLE)
             / COUNT(*) OVER w8 AS value_trend_8d,
           CAST(SUM(f.n_events) OVER wcum AS BIGINT) AS cumulative_events,
           c.is_weekend, c.weekday_name
    FROM fact f LEFT JOIN cal c USING (event_date)
    WINDOW
      w8 AS (PARTITION BY f.event_type ORDER BY f.event_date
             ROWS BETWEEN 7 PRECEDING AND CURRENT ROW),
      wcum AS (PARTITION BY f.event_type ORDER BY f.event_date
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    doc="ML feature build: 8-row trailing mean + cumulative counts per "
        "event_type, calendar attributes via broadcast left join "
        "(reference update_ml_features.py:66-77,134-150)",
)
def medallion_ml_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    silver = _silver_cached(spark, sf_dir)
    return ml_features_daily(gold_fact_daily(silver), gold_dim_calendar(silver))


_FB_SILVER_SQL = f"""
    WITH fb_bronze AS (
      SELECT event_id AS feedback_id,
             ts AS feedback_time,
             user_id AS customer_id,
             CAST(event_id % 5 + 1 AS INT) AS rating,
             event_type AS platform,
             event_id % 3 = 0 AS verified_purchase
      FROM events
    ), fb_scored AS (
      SELECT *, {FEEDBACK_RULES_SQL} AS q FROM fb_bronze
    )
    SELECT feedback_id, customer_id,
           CAST(feedback_time AS DATE) AS feedback_date,
           rating, platform, verified_purchase,
           CASE WHEN rating >= 4 THEN 'positive'
                WHEN rating = 3 THEN 'neutral'
                ELSE 'negative' END AS sentiment_category,
           q AS data_quality_score
    FROM fb_scored WHERE q >= 50
"""


@register(
    "medallion_feedback_silver",
    _FB_SILVER_SQL,
    doc="Bronze→Silver feedback path with rating→sentiment_category case "
        "ladder + quality fold (reference load_bronze_from_csv.py:106-128; "
        "the reference DECLARES silver.customer_feedback but ships no "
        "processor for it — SURVEY §1.3 gap, closed per §7.2 step 6); "
        "map-only, no shuffle",
)
def medallion_feedback_silver(spark: SparkSession, sf_dir: str) -> DataFrame:
    return silver_feedback(bronze_feedback(spark, sf_dir))


@register(
    "medallion_features_wide",
    f"""
    WITH fact AS ({_FACT_SQL}),
    cal AS (
      SELECT DISTINCT event_date,
             dayname(event_date) AS weekday_name,
             dayname(event_date) IN ('Saturday','Sunday') AS is_weekend
      FROM ({_SILVER_SQL})
    ),
    fbf AS (
      SELECT feedback_date AS event_date,
             COUNT(*) AS n_feedback,
             CAST(SUM(rating) AS DOUBLE) / COUNT(*) AS avg_rating,
             CAST(SUM(CASE WHEN verified_purchase THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_verified
      FROM ({_FB_SILVER_SQL})
      GROUP BY feedback_date
    ),
    season AS (
      SELECT f.event_type,
             (CAST(SUM(CASE WHEN c.is_weekend THEN f.n_events END) AS DOUBLE)
                / SUM(CASE WHEN c.is_weekend THEN 1 END))
             / (CAST(SUM(f.n_events) AS DOUBLE) / COUNT(*))
               AS seasonality_index
      FROM fact f JOIN cal c USING (event_date)
      GROUP BY f.event_type
    ),
    tstats AS (
      SELECT event_type,
             CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)
               AS avg_value_type,
             COUNT(DISTINCT user_id) AS n_users_type
      FROM ({_SILVER_SQL})
      GROUP BY event_type
    ),
    promo AS (
      SELECT event_type,
             'camp_' || event_type AS marketing_campaign,
             DATE '2024-01-01' + CAST((rn - 1) * 5 AS INTEGER) AS start_date,
             DATE '2024-01-01' + CAST((rn - 1) * 5 + 9 AS INTEGER) AS end_date
      FROM (SELECT event_type,
                   ROW_NUMBER() OVER (ORDER BY event_type) AS rn
            FROM (SELECT DISTINCT event_type FROM ({_SILVER_SQL})))
    )
    SELECT f.event_date, f.event_type, f.n_events, f.total_value,
           CAST(SUM(CAST(f.total_value AS DECIMAL(30,6))) OVER w8 AS DOUBLE)
             / COUNT(*) OVER w8 AS value_trend_8d,
           c.is_weekend, c.weekday_name,
           fbf.n_feedback, fbf.avg_rating, fbf.n_verified,
           s.seasonality_index, t.avg_value_type, t.n_users_type,
           p.event_type IS NOT NULL AS promotion_active,
           p.marketing_campaign
    FROM fact f
    LEFT JOIN cal c USING (event_date)
    LEFT JOIN fbf USING (event_date)
    LEFT JOIN season s ON f.event_type = s.event_type
    LEFT JOIN tstats t ON f.event_type = t.event_type
    LEFT JOIN promo p ON f.event_type = p.event_type
                     AND f.event_date BETWEEN p.start_date AND p.end_date
    WINDOW w8 AS (PARTITION BY f.event_type ORDER BY f.event_date
                  ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
    """,
    doc="Reference-width ML feature build (update_ml_features.py:134-139 "
        "6-way chain): daily fact ⟕ rolling trend (window) ⟕ calendar dim "
        "⟕ feedback fact ⟕ per-type seasonality index (:121-131) ⟕ "
        "per-type stats (pricing leg) ⟕ promotions dim on a VALIDITY "
        "RANGE (:100-108 — date BETWEEN start AND end, active flag "
        "coalesced false, campaign NULL when inactive).  The fact keeps "
        "its partitioning end to end — every enrichment side is a "
        "broadcast left join (the range predicate rides the type-equality "
        "hash join as a map-side post-filter), so the whole build is one "
        "window shuffle plus map-side joins at any scale",
)
def medallion_features_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    silver = _silver_cached(spark, sf_dir)
    fact = gold_fact_daily(silver)
    cal = gold_dim_calendar(silver)
    return ml_features_wide(
        fact,
        cal,
        gold_fact_feedback_daily(silver_feedback(bronze_feedback(spark, sf_dir))),
        gold_seasonality(fact, cal),
        gold_dim_type_stats(silver),
        gold_dim_promotions(silver),
    )


_USER_PROFILE_SQL = """
      SELECT user_id,
             CAST(FLOOR(SUM(CAST(value AS DECIMAL(30,6))) / COUNT(*) / 10)
                  AS INT) AS value_band,
             MIN(event_date) AS first_seen_date
      FROM silver {where} GROUP BY user_id
"""


@register(
    "medallion_user_features",
    f"""
    WITH ufact AS (
      SELECT event_date, user_id,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value,
             COUNT(DISTINCT event_type) AS n_types
      FROM ({_SILVER_SQL})
      GROUP BY event_date, user_id
    )
    SELECT event_date, user_id, n_events, total_value, n_types,
           CAST(SUM(n_events) OVER w7 AS DOUBLE) / COUNT(*) OVER w7
             AS events_trend_7d,
           CAST(n_events AS DOUBLE)
             >= 2 * (CAST(SUM(n_events) OVER w7 AS DOUBLE)
                     / COUNT(*) OVER w7) AS is_burst
    FROM ufact
    WINDOW w7 AS (PARTITION BY user_id ORDER BY event_date
                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    doc="Third ML feature table: per-user daily activity fact (the "
        "reference's fact_equipment_performance shape, "
        "init_iceberg_tables.py:440-462) + 7-row trailing mean and a "
        "2×-trailing burst flag (equipment_maintenance_features pattern, "
        ":491-510).  The trailing mean is a ratio of exact integers, so "
        "the threshold flag is engine-exact; one agg shuffle + one "
        "same-keyed window",
)
def medallion_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bakery_big_data_spark.pipeline.medallion import (
        gold_fact_user_daily,
        ml_user_features,
    )

    return ml_user_features(
        gold_fact_user_daily(silver_events(bronze_events(spark, sf_dir)))
    )


@register(
    "medallion_dim_user_scd2",
    f"""
    WITH silver AS ({_SILVER_SQL}),
    cur AS ({_USER_PROFILE_SQL.format(where="WHERE event_date < DATE '2024-01-16'")}),
    fullp AS ({_USER_PROFILE_SQL.format(where="")}),
    chg AS (
      SELECT f.* FROM fullp f LEFT JOIN cur c USING (user_id)
      WHERE c.user_id IS NULL
         OR f.value_band IS DISTINCT FROM c.value_band
         OR f.first_seen_date IS DISTINCT FROM c.first_seen_date
    )
    SELECT CAST(c.user_id AS BIGINT) AS surrogate_key,
           c.user_id, c.value_band, c.first_seen_date,
           DATE '2024-01-01' AS start_date,
           CASE WHEN ch.user_id IS NOT NULL THEN DATE '2024-01-16' END
             AS end_date,
           ch.user_id IS NULL AS is_current
    FROM cur c LEFT JOIN chg ch USING (user_id)
    UNION ALL
    SELECT CAST((SELECT COALESCE(MAX(CAST(user_id AS BIGINT)), 0) FROM cur)
                + ROW_NUMBER() OVER (ORDER BY user_id) AS BIGINT),
           user_id, value_band, first_seen_date,
           DATE '2024-01-16', NULL, TRUE
    FROM chg
    """,
    doc="SCD2 user dimension inside the medallion chain (reference "
        "silver_to_gold.py:130-165 dim_store SCD2): the pre-split profile "
        "is the current dim, the full-range profile is the staged batch, "
        "and users whose exact-decimal value band moved are re-versioned "
        "(close + insert with the lazy in-plan key base).  The banded "
        "attribute mirrors the reference's thresholded price SCD2 "
        "(:205-231): sub-band drift must NOT open a version",
)
def medallion_dim_user_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bakery_big_data_spark.pipeline.medallion import gold_dim_user_scd2

    return gold_dim_user_scd2(_silver_cached(spark, sf_dir))


from bakery_big_data_spark.plans.dedup import _banded_pairs_sql  # noqa: E402


# Pairs are BANDING-AWARE (portable MinHash banding ∩ exact J>=0.5 —
# the identical predicate both the batch _lsh_pairs and the incremental
# band-index maintain), not all-pairs: banding recall is <1 for
# borderline pairs, so an all-pairs oracle certifies only at scale
# factors where recall is luckily 100% (diverged at sf0.1, r09
# bench.py --verify; the r08 streaming-gate lesson applied to curation).
_CURATION_MANIFEST_SQL =     f"""
    WITH {_banded_pairs_sql()},
    nbr AS (
      SELECT id_a AS doc_id, id_b AS nb FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ), canon AS (
      SELECT d.doc_id,
             LEAST(d.doc_id, COALESCE(MIN(n.nb), d.doc_id)) AS canonical_id
      FROM documents d LEFT JOIN nbr n ON d.doc_id = n.doc_id
      GROUP BY d.doc_id
    ), grams AS (
      SELECT doc_id,
             list_distinct(
               list_transform(generate_series(1, len(ws) - 2),
                              i -> ws[i] || '_' || ws[i + 1] || '_' || ws[i + 2])) AS gs
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    ), bench AS (
      SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % 25 = 0
    ), corpus AS (
      SELECT doc_id, gs, len(gs) AS n_grams FROM grams WHERE doc_id % 25 <> 0
    ), shared AS (
      SELECT c.doc_id, COUNT(*) AS n_shared
      FROM (SELECT doc_id, unnest(gs) AS g FROM corpus) c
      JOIN bench b ON c.g = b.g
      GROUP BY c.doc_id
    ), contam AS (
      SELECT corpus.doc_id,
             CASE WHEN n_grams = 0 THEN 0.0
                  ELSE CAST(COALESCE(n_shared, 0) AS DOUBLE) / n_grams
             END AS contamination_ratio
      FROM corpus LEFT JOIN shared ON corpus.doc_id = shared.doc_id
    ), base AS (
      SELECT doc_id, lang, n_chars,
             (n_chars >= 20 AND
              CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                / len(string_split(text, ' ')) >= 0.30) AS passes_quality,
             doc_id % 25 = 0 AS is_benchmark
      FROM documents
    ), rep_base AS (
      SELECT doc_id, text, string_split(text, ' ') AS ws,
             string_split(text, chr(10)) AS lines, len(text) AS tc
      FROM documents
    ), rep_t2 AS (
      SELECT doc_id, MAX(c * len(g)) AS top2 FROM (
        SELECT doc_id, g, COUNT(*) AS c FROM (
          SELECT doc_id, unnest(list_transform(
                   generate_series(1, greatest(len(ws) - 1, 0)),
                   i -> ws[i] || ' ' || ws[i + 1])) AS g
          FROM rep_base) GROUP BY 1, 2) GROUP BY 1
    ), rep_t3 AS (
      SELECT doc_id, MAX(c * len(g)) AS top3 FROM (
        SELECT doc_id, g, COUNT(*) AS c FROM (
          SELECT doc_id, unnest(list_transform(
                   generate_series(1, greatest(len(ws) - 2, 0)),
                   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
          FROM rep_base) GROUP BY 1, 2) GROUP BY 1
    ), rep_d5 AS (
      SELECT doc_id,
             SUM(CASE WHEN c > 1 THEN (c - 1) * len(g) ELSE 0 END) AS dup5
      FROM (
        SELECT doc_id, g, COUNT(*) AS c FROM (
          SELECT doc_id, unnest(list_transform(
                   generate_series(1, greatest(len(ws) - 4, 0)),
                   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
                        || ws[i+3] || ' ' || ws[i+4])) AS g
          FROM rep_base) GROUP BY 1, 2) GROUP BY 1
    ), rep AS (
      SELECT rb.doc_id,
             (len(rb.ws) BETWEEN 50 AND 100000
              AND CAST(list_sum(list_transform(rb.ws, w -> len(w)))
                       AS DOUBLE) / len(rb.ws) BETWEEN 3.0 AND 10.0
              AND CAST((len(rb.text) - len(replace(rb.text, '#', '')))
                       + (len(rb.text) - len(replace(rb.text, '...', '')))
                         // 3 AS DOUBLE) / len(rb.ws) < 0.1
              AND CAST(len(list_filter(rb.lines,
                     l -> l LIKE '- %' OR l LIKE '* %' OR l LIKE '•%'))
                   AS DOUBLE) / len(rb.lines) < 0.9
              AND CAST(len(list_filter(rb.lines, l -> l LIKE '%...'))
                   AS DOUBLE) / len(rb.lines) < 0.3
              AND CAST(len(list_filter(rb.ws,
                     w -> regexp_matches(w, '[a-zA-Z]')))
                   AS DOUBLE) / len(rb.ws) >= 0.8
              AND CAST(len(rb.lines) - len(list_distinct(rb.lines))
                   AS DOUBLE) / len(rb.lines) <= 0.3
              AND CAST(COALESCE(t2.top2, 0) AS DOUBLE) / rb.tc <= 0.20
              AND CAST(COALESCE(t3.top3, 0) AS DOUBLE) / rb.tc <= 0.18
              AND CAST(COALESCE(d5.dup5, 0) AS DOUBLE) / rb.tc <= 0.15)
               AS passes_repetition
      FROM rep_base rb
      LEFT JOIN rep_t2 t2 ON rb.doc_id = t2.doc_id
      LEFT JOIN rep_t3 t3 ON rb.doc_id = t3.doc_id
      LEFT JOIN rep_d5 d5 ON rb.doc_id = d5.doc_id
    )
    SELECT b.doc_id, b.lang, b.n_chars, b.passes_quality,
           r.passes_repetition, b.is_benchmark,
           c.canonical_id,
           b.doc_id = c.canonical_id AS is_canonical,
           COALESCE(m.contamination_ratio, 0.0) AS contamination_ratio,
           CASE
             WHEN ((b.doc_id * 2654435761 + 97531) % 2147483647)
                  / 2147483647.0 < 0.8 THEN 'train'
             WHEN ((b.doc_id * 2654435761 + 97531) % 2147483647)
                  / 2147483647.0 < 0.9 THEN 'val'
             ELSE 'test'
           END AS split,
           (b.passes_quality AND r.passes_repetition AND NOT b.is_benchmark
            AND b.doc_id = c.canonical_id
            AND COALESCE(m.contamination_ratio, 0.0) < 0.5) AS is_training
    FROM base b
    JOIN canon c ON b.doc_id = c.doc_id
    JOIN rep r ON b.doc_id = r.doc_id
    LEFT JOIN contam m ON b.doc_id = m.doc_id
    """


@register(
    "curation_pipeline_manifest",
    _CURATION_MANIFEST_SQL,
    doc="The LLM-data pipeline CHAINED end to end (pipeline/curation.py — "
        "the curation counterpart of run_medallion): quality gate → "
        "Gopher repetition/boilerplate gate (operators/repetition.py, "
        "map-only run-length n-gram histograms riding the same scan) → "
        "LSH-dedup canonicalization → benchmark decontamination → "
        "key-derived split, emitted as a per-document manifest that keeps "
        "EVERY doc with its flags (curation decisions must be auditable — "
        "drops are recorded, not vanished) and the final is_training "
        "verdict.  One shingle lineage (shared PlanCache) feeds both the "
        "dedup and decontamination stages; the oracle restates the whole "
        "chain in one SQL composition, so the driver hash certifies the "
        "STAGE INTERACTIONS, not just each operator alone",
)
def curation_pipeline_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bakery_big_data_spark.pipeline.curation import curation_manifest

    return curation_manifest(spark, sf_dir)


@register(
    "curation_license_gate",
    f"""
    WITH man AS ({_CURATION_MANIFEST_SQL}), gov AS (
      SELECT doc_id, source,
             ('0x' || substr(md5('robots:' || source), 1, 8))::BIGINT
               & 2147483647 AS hs,
             ('0x' || substr(md5('lic:' || CAST(doc_id AS VARCHAR)), 1, 8))
               ::BIGINT & 2147483647 AS hd
      FROM documents
    )
    SELECT g.doc_id, g.source,
           CASE WHEN g.hs % 8 <= 5 THEN 'allow'
                WHEN g.hs % 8 = 6 THEN 'noai'
                ELSE 'disallow' END AS robots_policy,
           CASE WHEN g.hd % 100 < 70 THEN 'permissive'
                WHEN g.hd % 100 < 90 THEN 'by-nc'
                WHEN g.hd % 100 < 97 THEN 'proprietary'
                ELSE 'unknown' END AS license,
           g.hs % 8 <= 5 AS robots_allowed,
           g.hd % 100 < 70 AS license_allowed,
           m.is_training,
           (m.is_training AND g.hs % 8 <= 5 AND g.hd % 100 < 70)
             AS is_trainable
    FROM gov g JOIN man m ON g.doc_id = m.doc_id
    """,
    doc="Robots/licence governance gating JOINED INTO the curation "
        "manifest (r12 verdict task 5b — the compliance stage RefinedWeb/"
        "C4-class pipelines run before anything else): per-SOURCE robots "
        "policy (allow / noai / disallow — the robots.txt + ai.txt opt-out "
        "signal a crawler records at fetch time) and per-DOCUMENT licence "
        "class (permissive / by-nc / proprietary / unknown) are joined "
        "onto the full chained manifest, and the final is_trainable "
        "verdict is the conjunction of the content chain's is_training "
        "with both governance gates — certifying the STAGE INTERACTION, "
        "not the gates alone.  The metadata is a deterministic md5-half "
        "synthesis (the catalog's portable-hash convention, mirrored "
        "exactly in SQL) because the corpus ships no governance columns; "
        "production swaps the two derivations for a crawl-metadata "
        "broadcast join keyed the same way.  Plan cost on top of the "
        "manifest chain: two map-only hash projections + one doc-keyed "
        "equi-join — no new shuffle class; at 100 TB the gate stays "
        "embarrassingly parallel and drops docs BEFORE the expensive "
        "downstream tokenize/train stages pay for them",
)
def curation_license_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from bakery_big_data_spark.pipeline.curation import curation_manifest
    from bakery_big_data_spark.plans.base import t

    man = curation_manifest(spark, sf_dir).select("doc_id", "is_training")

    def half_hash(expr):
        return (
            F.conv(F.substring(F.md5(expr), 1, 8), 16, 10)
            .cast("bigint")
            .bitwiseAND(F.lit(2147483647))
        )

    gov = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        half_hash(F.concat(F.lit("robots:"), F.col("source"))).alias("hs"),
        half_hash(
            F.concat(F.lit("lic:"), F.col("doc_id").cast("string"))
        ).alias("hd"),
    )
    robots_allowed = F.col("hs") % 8 <= 5
    license_allowed = F.col("hd") % 100 < 70
    return gov.join(man, "doc_id").select(
        "doc_id",
        "source",
        F.when(robots_allowed, "allow")
        .when(F.col("hs") % 8 == 6, "noai")
        .otherwise("disallow")
        .alias("robots_policy"),
        F.when(license_allowed, "permissive")
        .when(F.col("hd") % 100 < 90, "by-nc")
        .when(F.col("hd") % 100 < 97, "proprietary")
        .otherwise("unknown")
        .alias("license"),
        robots_allowed.alias("robots_allowed"),
        license_allowed.alias("license_allowed"),
        "is_training",
        (F.col("is_training") & robots_allowed & license_allowed).alias(
            "is_trainable"
        ),
    )


def _medallion_parity_frame(spark: SparkSession, base: str) -> DataFrame:
    """Unpivot every maintained medallion table under ``base`` into the
    (layer, key, metric, value) parity frame both incremental runners
    are hash-certified with."""
    from pyspark.sql import functions as F

    from bakery_big_data_spark.sources.snapshots import read_snapshot

    def tall(df: DataFrame, layer: str, key, metrics: dict) -> DataFrame:
        frames = []
        for metric, expr in metrics.items():
            frames.append(
                df.select(
                    F.lit(layer).alias("layer"),
                    key.alias("key"),
                    F.lit(metric).alias("metric"),
                    expr.cast("double").alias("value"),
                )
            )
        out = frames[0]
        for fr in frames[1:]:
            out = out.unionAll(fr)
        return out

    epoch = F.lit("1970-01-01").cast("date")
    fact = spark.read.parquet(f"{base}/gold_fact_daily")
    fbf = spark.read.parquet(f"{base}/gold_fact_feedback_daily")
    uf = spark.read.parquet(f"{base}/gold_fact_user_daily")
    du = spark.read.parquet(f"{base}/gold_dim_user")
    ts = spark.read.parquet(f"{base}/gold_dim_type_stats")
    scd2 = read_snapshot(spark, f"{base}/gold_dim_user_scd2").filter(
        F.col("is_current")
    )

    date_type_key = F.concat(
        F.col("event_date").cast("string"), F.lit("|"), F.col("event_type")
    )
    date_user_key = F.concat(
        F.col("event_date").cast("string"),
        F.lit("|"),
        F.col("user_id").cast("string"),
    )
    parts = [
        tall(fact, "fact_daily", date_type_key, {
            "n_events": F.col("n_events"),
            "total_value": F.col("total_value"),
            "n_off_hours": F.col("n_off_hours"),
        }),
        tall(fbf, "fact_feedback_daily", F.col("event_date").cast("string"), {
            "n_feedback": F.col("n_feedback"),
            "avg_rating": F.col("avg_rating"),
            "n_verified": F.col("n_verified"),
        }),
        tall(uf, "fact_user_daily", date_user_key, {
            "n_events": F.col("n_events"),
            "total_value": F.col("total_value"),
            "n_types": F.col("n_types"),
        }),
        tall(du, "dim_user", F.col("user_id").cast("string"), {
            "first_seen_days": F.datediff(F.col("first_seen_date"), epoch),
            "last_seen_days": F.datediff(F.col("last_seen_date"), epoch),
            "n_event_types": F.col("n_event_types"),
        }),
        tall(ts, "dim_type_stats", F.col("event_type"), {
            "avg_value_type": F.col("avg_value_type"),
            "n_users_type": F.col("n_users_type"),
        }),
        tall(scd2, "scd2_current", F.col("user_id").cast("string"), {
            "value_band": F.col("value_band"),
            "first_seen_days": F.datediff(F.col("first_seen_date"), epoch),
        }),
    ]
    out = parts[0]
    for fr in parts[1:]:
        out = out.unionAll(fr)
    return out


_MEDALLION_PARITY_SQL = f"""
    WITH silver AS ({_SILVER_SQL}), fb AS ({_FB_SILVER_SQL}),
    fact AS (
      SELECT event_date, event_type, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value,
             SUM(CASE WHEN time_of_day = 'off_hours' THEN 1 ELSE 0 END)
               AS n_off_hours
      FROM silver GROUP BY 1, 2
    ), fbf AS (
      SELECT feedback_date, COUNT(*) AS n_feedback,
             CAST(SUM(rating) AS DOUBLE) / COUNT(*) AS avg_rating,
             SUM(CASE WHEN verified_purchase THEN 1 ELSE 0 END) AS n_verified
      FROM fb GROUP BY 1
    ), uf AS (
      SELECT event_date, user_id, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value,
             COUNT(DISTINCT event_type) AS n_types
      FROM silver GROUP BY 1, 2
    ), du AS (
      SELECT user_id, MIN(event_date) AS first_seen,
             MAX(event_date) AS last_seen,
             COUNT(DISTINCT event_type) AS n_event_types
      FROM silver GROUP BY 1
    ), tstats AS (
      SELECT event_type,
             CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)
               AS avg_value_type,
             COUNT(DISTINCT user_id) AS n_users_type
      FROM silver GROUP BY 1
    ), prof AS (
      SELECT user_id,
             CAST(FLOOR(SUM(CAST(value AS DECIMAL(30,6))) / COUNT(*) / 10)
                  AS INT) AS value_band,
             MIN(event_date) AS first_seen
      FROM silver GROUP BY 1
    )
    SELECT 'fact_daily' AS layer,
           CAST(event_date AS VARCHAR) || '|' || event_type AS key,
           'n_events' AS metric, CAST(n_events AS DOUBLE) AS value FROM fact
    UNION ALL SELECT 'fact_daily', CAST(event_date AS VARCHAR) || '|' || event_type,
           'total_value', total_value FROM fact
    UNION ALL SELECT 'fact_daily', CAST(event_date AS VARCHAR) || '|' || event_type,
           'n_off_hours', CAST(n_off_hours AS DOUBLE) FROM fact
    UNION ALL SELECT 'fact_feedback_daily', CAST(feedback_date AS VARCHAR),
           'n_feedback', CAST(n_feedback AS DOUBLE) FROM fbf
    UNION ALL SELECT 'fact_feedback_daily', CAST(feedback_date AS VARCHAR),
           'avg_rating', avg_rating FROM fbf
    UNION ALL SELECT 'fact_feedback_daily', CAST(feedback_date AS VARCHAR),
           'n_verified', CAST(n_verified AS DOUBLE) FROM fbf
    UNION ALL SELECT 'fact_user_daily',
           CAST(event_date AS VARCHAR) || '|' || CAST(user_id AS VARCHAR),
           'n_events', CAST(n_events AS DOUBLE) FROM uf
    UNION ALL SELECT 'fact_user_daily',
           CAST(event_date AS VARCHAR) || '|' || CAST(user_id AS VARCHAR),
           'total_value', total_value FROM uf
    UNION ALL SELECT 'fact_user_daily',
           CAST(event_date AS VARCHAR) || '|' || CAST(user_id AS VARCHAR),
           'n_types', CAST(n_types AS DOUBLE) FROM uf
    UNION ALL SELECT 'dim_user', CAST(user_id AS VARCHAR), 'first_seen_days',
           CAST(first_seen - DATE '1970-01-01' AS DOUBLE) FROM du
    UNION ALL SELECT 'dim_user', CAST(user_id AS VARCHAR), 'last_seen_days',
           CAST(last_seen - DATE '1970-01-01' AS DOUBLE) FROM du
    UNION ALL SELECT 'dim_user', CAST(user_id AS VARCHAR), 'n_event_types',
           CAST(n_event_types AS DOUBLE) FROM du
    UNION ALL SELECT 'dim_type_stats', event_type, 'avg_value_type',
           avg_value_type FROM tstats
    UNION ALL SELECT 'dim_type_stats', event_type, 'n_users_type',
           CAST(n_users_type AS DOUBLE) FROM tstats
    UNION ALL SELECT 'scd2_current', CAST(user_id AS VARCHAR), 'value_band',
           CAST(value_band AS DOUBLE) FROM prof
    UNION ALL SELECT 'scd2_current', CAST(user_id AS VARCHAR),
           'first_seen_days',
           CAST(first_seen - DATE '1970-01-01' AS DOUBLE) FROM prof
    """


@register(
    "medallion_incremental_parity",
    _MEDALLION_PARITY_SQL,
    doc="INCREMENTAL medallion == FULL medallion, certified by hash: "
        "pipeline/medallion.py::run_medallion_incremental replays the "
        "corpus as 4 chronological day-chunk arrivals — silver/fact Δ by "
        "dynamic partition overwrite, dims by Δ-merged (event_type, "
        "user_id) state (associative decimal sums, so COUNT(DISTINCT) and "
        "banded averages derive exactly from state), SCD2 applied per "
        "chunk to touched keys only — then every maintained table is "
        "unpivoted into one (layer, key, metric, value) frame.  The "
        "oracle computes the same frame FROM-SCRATCH over the raw events "
        "(full-run semantics), so the driver hash proves "
        "incremental_run(chunks 1..N) == full_run for three facts, two "
        "derived dims, and the SCD2 open snapshot (band + first_seen — "
        "chunked arrival legitimately records more version HISTORY; the "
        "open snapshot is the cross-run invariant)",
)
def medallion_incremental_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bakery_big_data_spark.pipeline.medallion import (
        run_medallion_incremental,
    )

    def build(base: str) -> None:
        run_medallion_incremental(spark, sf_dir, base, n_chunks=4)

    base = materialize(
        spark, "medallion_incremental_parity", table_files(sf_dir, "events"), build
    )
    return _medallion_parity_frame(spark, base)


@register(
    "curation_incremental_parity",
    _CURATION_MANIFEST_SQL,
    doc="INCREMENTAL curation == FULL curation, certified by hash: "
        "pipeline/curation.py::run_curation_incremental replays the corpus "
        "as 4 doc-id-range arrivals and maintains every stage's state by "
        "Δ-work only — new docs shingle/gate once, candidate pairs join "
        "only the NEW docs' MinHash bands against the accumulated band "
        "index (band collisions are pairwise, so the full run's candidate "
        "set is reproduced exactly), exact Jaccard verifies only new "
        "candidates, and contamination counters update via two Δ-joins "
        "(new docs vs the full benchmark gram set, OLD docs vs only the "
        "never-seen grams — a late-arriving benchmark doc "
        "retro-contaminates earlier docs exactly as the full run scores "
        "them).  The oracle is the SAME from-scratch SQL composition the "
        "full-run manifest row uses, so the driver hash proves "
        "incremental_run(chunks 1..N) == full_run across quality, "
        "repetition, dedup-canonicalization, decontamination, split, and "
        "the is_training verdict",
)
def curation_incremental_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bakery_big_data_spark.pipeline.curation import (
        run_curation_incremental,
    )

    def build(base: str) -> None:
        manifest = run_curation_incremental(spark, sf_dir, base, n_chunks=4)
        manifest.write.parquet(f"{base}/manifest")

    base = materialize(
        spark, "curation_incremental_parity", table_files(sf_dir, "documents"), build
    )
    return spark.read.parquet(f"{base}/manifest")


@register(
    "curation_outoforder_parity",
    _CURATION_MANIFEST_SQL,
    doc="OUT-OF-ORDER incremental curation == FULL curation, certified by "
        "hash — the stronger arrival-robustness claim on top of "
        "curation_incremental_parity (which replays ascending doc-id "
        "ranges): here chunk ci is doc_id % 4 == ci, so every arrival's "
        "id range spans the whole corpus (maximally overlapping ranges), "
        "and the four arrivals land in a deterministic non-chronological "
        "permutation.  Real ingest is not ordered; the maintained state "
        "is arrival-order-independent by construction (bench grams and "
        "bands are unions, retro-contamination partitions doc-gram "
        "contributions by first-seen arrival, candidate pairs are covered "
        "when the later-arriving partner lands), and the oracle is the "
        "SAME from-scratch SQL composition as the full-run manifest row "
        "(pipeline/curation.py::run_curation_incremental, "
        "arrival_plan='interleaved')",
)
def curation_outoforder_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bakery_big_data_spark.pipeline.curation import (
        run_curation_incremental,
    )

    def build(base: str) -> None:
        manifest = run_curation_incremental(
            spark, sf_dir, base, n_chunks=4, arrival_plan="interleaved"
        )
        manifest.write.parquet(f"{base}/manifest")

    base = materialize(
        spark, "curation_outoforder_parity", table_files(sf_dir, "documents"), build
    )
    return spark.read.parquet(f"{base}/manifest")


@register(
    "streaming_incremental_gold_parity",
    _MEDALLION_PARITY_SQL,
    doc="STREAM-FED incremental gold == FULL batch medallion, certified "
        "by hash — the reference's real topology (stream_to_bronze.py "
        "landing micro-batches + bakery_batch_etl.py's scheduled "
        "maintenance) composed into ONE Structured Streaming query: "
        "pipeline/medallion.py::run_medallion_stream_fed replays the "
        "events as chronological JSON-lines files, maxFilesPerTrigger=1 "
        "makes each micro-batch one day-range arrival, and foreachBatch "
        "drives apply_medallion_arrival — the SAME chunk body as the "
        "batch-chunked runner — with the micro-batch id committed inside "
        "every snapshot swap (checkpoint re-delivery is exactly-once).  "
        "The oracle is the identical from-scratch SQL the batch parity "
        "row uses, so the driver hash proves stream_fed(batches 1..N) == "
        "full_run for three facts, two derived dims, and the SCD2 open "
        "snapshot",
)
def streaming_incremental_gold_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from bakery_big_data_spark.pipeline.medallion import (
        run_medallion_stream_fed,
    )

    def build(base: str) -> None:
        run_medallion_stream_fed(spark, sf_dir, base, n_chunks=4)

    base = materialize(
        spark, "streaming_incremental_gold_parity", table_files(sf_dir, "events"), build
    )
    return _medallion_parity_frame(spark, base)


@register(
    "streaming_curation_parity",
    _CURATION_MANIFEST_SQL,
    doc="STREAM-FED incremental curation == FULL curation, certified by "
        "hash — the curation counterpart of "
        "streaming_incremental_gold_parity: "
        "pipeline/curation.py::run_curation_stream_fed replays the corpus "
        "as doc-id-ordered JSON micro-batches and each foreachBatch "
        "drives apply_curation_arrival (the SAME chunk body as the "
        "batch-chunked IVM runner — quality+repetition gates, Δ LSH "
        "banding, exact-Jaccard verify, retro-decontamination, all state "
        "committed with the micro-batch id, doc->bench->band->pairs "
        "order preserved).  The final manifest derives from state only; "
        "the oracle is the SAME from-scratch SQL composition as "
        "curation_pipeline_manifest, so the driver hash proves "
        "stream_fed(batches 1..N) == full_run for the whole "
        "gated/deduped/decontaminated/split chain",
)
def streaming_curation_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bakery_big_data_spark.pipeline.curation import (
        run_curation_stream_fed,
    )

    def build(base: str) -> None:
        manifest = run_curation_stream_fed(spark, sf_dir, base, n_chunks=4)
        manifest.write.parquet(f"{base}/manifest")

    base = materialize(
        spark, "streaming_curation_parity", table_files(sf_dir, "documents"), build
    )
    return spark.read.parquet(f"{base}/manifest")
