"""Training-data curation pipeline assembly — the LLM-data counterpart of
:mod:`pipeline.medallion`.

The catalog proves each curation operator alone (dedup, decontamination,
splits, packing); a real pretraining run chains them in a fixed order over
one corpus scan lineage.  This module assembles that chain as pure
DataFrame builders and one committing runner:

1. **quality gate** — minimum length + lexical diversity (the cheap
   filters run FIRST so every later stage sees fewer rows);
2. **repetition gate** — the Gopher/C4 boilerplate filters
   (operators/repetition.py) as a map-only projection on the same scan;
3. **dedup canonicalization** — LSH-verified near-dup pairs → min-id star
   contraction; only cluster canonicals survive (non-canonicals carry
   their canonical_id in the manifest for lineage);
4. **decontamination** — word-trigram overlap vs the benchmark slice
   (doc_id % 25 == 0 here); benchmark docs themselves never become
   training docs;
5. **split assignment** — the key-derived LCG uniform (layout- and
   engine-independent; F.rand would reshuffle splits across re-runs).

:func:`run_curation_incremental` maintains the same chain under batched
corpus ARRIVALS with Δ-work only (snapshot-committed doc/band/bench-gram/
pair state, per-table applied-chunk guards) — hash-certified equal to the
from-scratch run by ``curation_incremental_parity``.

The manifest keeps EVERY corpus doc with its flags — curation decisions
must be auditable, so drops are recorded, not silently vanished.  At
100 TB each stage is the operator already proven at the catalog level:
the expensive candidate generation (shingles) is computed once and shared
via the dedup family's bounded PlanCache.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bakery_big_data_spark.sources.tables import read_parquet

_LCG_M = 2147483647
_SPLIT_A = 2654435761
_SPLIT_C = 97531

MIN_CHARS = 20
MIN_TTR = 0.30
CONTAMINATION_MAX = 0.5

#: Persisted per-(session, sf) manifest — two registered rows consume the
#: full chained manifest (curation_pipeline_manifest emits it verbatim,
#: curation_license_gate joins governance onto it), and each used to
#: re-run the whole gate→dedup→decontaminate→split chain.  The manifest is
#: doc-count-sized (one row per doc, no text), so the persisted frame is
#: tiny relative to the chain that builds it.
_MANIFEST_CACHE = None  # initialized lazily to avoid an import cycle


def curation_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document curation manifest (cached per session/sf): every doc
    with its gate flags, duplicate-cluster canonical, contamination ratio,
    split, and the final ``is_training`` verdict."""
    global _MANIFEST_CACHE
    if _MANIFEST_CACHE is None:
        from bakery_big_data_spark.operators.cache import PlanCache

        _MANIFEST_CACHE = PlanCache(max_entries=2)
    return _MANIFEST_CACHE.get_or_build(
        spark,
        (sf_dir, "curation_manifest"),
        lambda: _build_curation_manifest(spark, sf_dir).persist(),
    )


def _build_curation_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The uncached manifest chain body (see :func:`curation_manifest`)."""
    from bakery_big_data_spark.operators.repetition import with_passes_gopher
    from bakery_big_data_spark.plans.base import spread, t
    from bakery_big_data_spark.plans.dedup import _lsh_pairs, _shingled

    d = spread(
        t(spark, sf_dir, "documents").select("doc_id", "text", "lang", "n_chars")
    )
    ws = F.split(F.col("text"), " ")
    ttr = F.size(F.array_distinct(ws)).cast("double") / F.size(ws)
    # Gopher repetition/boilerplate gate (operators/repetition.py) — a
    # map-only projection riding the same scan as the cheap quality gate,
    # no extra stage (spread() gives the interpreted higher-order folds
    # full parallelism when the corpus arrives as one split)
    gated = with_passes_gopher(d, "text", "passes_repetition").select(
        "doc_id",
        "lang",
        "n_chars",
        ((F.col("n_chars") >= MIN_CHARS) & (ttr >= MIN_TTR)).alias(
            "passes_quality"
        ),
        "passes_repetition",
        (F.col("doc_id") % 25 == 0).alias("is_benchmark"),
    )

    # duplicate-cluster canonical via the shared LSH-verified pairs
    pairs = _lsh_pairs(spark, sf_dir)
    nbrs = pairs.select(
        F.col("id_a").alias("doc_id"), F.col("id_b").alias("nb")
    ).unionAll(pairs.select(F.col("id_b").alias("doc_id"), F.col("id_a").alias("nb")))
    canon = (
        gated.select("doc_id")
        .join(nbrs, "doc_id", "left")
        .groupBy("doc_id")
        .agg(
            F.least(
                F.col("doc_id"), F.coalesce(F.min("nb"), F.col("doc_id"))
            ).alias("canonical_id")
        )
    )

    # contamination vs the benchmark slice: corpus-side explode once,
    # broadcast the benchmark gram hashes (plans/curation.py shape)
    sh = _shingled(spark, sf_dir, cache=True)
    bench_grams = (
        sh.filter(F.col("doc_id") % 25 == 0)
        .select(F.explode("shingles").alias("g"))
        .select(F.xxhash64("g").alias("gh"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    corpus_grams = (
        sh.filter(F.col("doc_id") % 25 != 0)
        .select("doc_id", F.explode_outer("shingles").alias("g"))
        .select(
            "doc_id",
            F.col("g").isNotNull().alias("is_gram"),
            F.when(F.col("g").isNotNull(), F.xxhash64("g")).alias("gh"),
        )
    )
    contamination = (
        corpus_grams.join(F.broadcast(bench_grams), "gh", "left")
        .groupBy("doc_id")
        .agg(
            F.count_if("is_gram").alias("_n_grams"),
            F.count("hit").alias("_n_shared"),
        )
        .select(
            "doc_id",
            F.when(F.col("_n_grams") == 0, F.lit(0.0))
            .otherwise(F.col("_n_shared").cast("double") / F.col("_n_grams"))
            .alias("contamination_ratio"),
        )
    )

    u = (
        (F.col("doc_id").cast("bigint") * _SPLIT_A + F.lit(_SPLIT_C)) % _LCG_M
    ) / F.lit(float(_LCG_M))
    manifest = (
        gated.join(canon, "doc_id")
        .join(contamination, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "n_chars",
            "passes_quality",
            "passes_repetition",
            "is_benchmark",
            "canonical_id",
            (F.col("doc_id") == F.col("canonical_id")).alias("is_canonical"),
            F.coalesce(F.col("contamination_ratio"), F.lit(0.0)).alias(
                "contamination_ratio"
            ),
            F.when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test").alias(
                "split"
            ),
        )
    )
    return manifest.withColumn(
        "is_training",
        F.col("passes_quality")
        & F.col("passes_repetition")
        & ~F.col("is_benchmark")
        & F.col("is_canonical")
        & (F.col("contamination_ratio") < CONTAMINATION_MAX),
    )


def run_curation_pipeline(
    spark: SparkSession, sf_dir: str, base_path: str
) -> dict[str, DataFrame]:
    """Commit the manifest + the split-partitioned training corpus; returns
    the layers re-read from disk (the committed truth, not the plan)."""
    manifest = curation_manifest(spark, sf_dir)
    manifest.write.mode("overwrite").parquet(f"{base_path}/curation_manifest")

    from bakery_big_data_spark.plans.base import t

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    committed = read_parquet(spark, f"{base_path}/curation_manifest")
    training = (
        committed.filter(F.col("is_training"))
        .select("doc_id", "split", "n_chars")
        .join(docs, "doc_id")
    )
    training.write.mode("overwrite").partitionBy("split").parquet(
        f"{base_path}/training_corpus"
    )

    # final stage: pack the TRAIN split into ~fixed-token batches (the
    # sharded running-offset layout of curation_pack_sequences, applied to
    # the committed corpus instead of the raw one — packs never straddle
    # splits, and shard count scales with the cluster)
    from pyspark.sql import Window

    corpus = read_parquet(spark, f"{base_path}/training_corpus")
    toks = corpus.filter(F.col("split") == "train").select(
        "doc_id",
        (F.col("doc_id") % 8).alias("shard"),
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = toks.select(
        "doc_id",
        "shard",
        "n_tokens",
        # integer `div` — float `/`+cast mis-buckets past 2^53 offsets
        F.expr(
            "coalesce(sum(n_tokens) over (partition by shard order by doc_id"
            " rows between unbounded preceding and 1 preceding), 0) div 2048"
        ).cast("bigint").alias("pack_id"),
    )
    packed.write.mode("overwrite").parquet(f"{base_path}/packed_train")
    return {
        "curation_manifest": read_parquet(spark, f"{base_path}/curation_manifest"),
        "training_corpus": read_parquet(spark, f"{base_path}/training_corpus"),
        "packed_train": read_parquet(spark, f"{base_path}/packed_train"),
    }


def _arrival_order(n: int) -> list[int]:
    """Deterministic non-identity permutation of range(n) (stride n-1,
    offset 1 — coprime, so every chunk appears exactly once); used by the
    out-of-order arrival plans so replays are reproducible without any
    runtime randomness."""
    if n <= 1:
        return list(range(n))
    return [(i * (n - 1) + 1) % n for i in range(n)]


def run_curation_incremental(
    spark: SparkSession,
    sf_dir: str,
    base_path: str,
    n_chunks: int = 4,
    arrival_plan: str = "ordered",
) -> DataFrame:
    """Incremental-view-maintenance for the curation chain: the corpus
    arrives as ``n_chunks`` doc-id-range batches and every stage's state
    is maintained by Δ-work only — the 100 TB daily-crawl pattern, where
    re-shingling yesterday's petabytes per arrival is not an option.

    Maintained state (all committed through the atomic snapshot manifest
    with per-table applied-chunk guards, so crash replays are exactly-once
    — same discipline as ``run_medallion_incremental``):

    - ``doc_state`` — per-doc arrival-time columns (quality + repetition
      gates, benchmark flag, DISTINCT trigram shingles) plus the running
      contamination counters ``(n_grams, n_shared)``;
    - ``band_state`` — each doc's 16 MinHash band hashes (the LSH index);
    - ``bench_grams`` — the distinct benchmark gram-hash set seen so far;
    - ``pairs_state`` — verified near-dup pairs accumulated.

    Δ-work per chunk: new docs shingle/gate once (map-only); candidate
    pairs come from joining ONLY the new docs' bands against the full band
    index (band collisions are pairwise, so new-vs-all ∪ new-vs-new over
    all chunks reproduces the full run's candidate set EXACTLY); exact
    Jaccard verifies only the new candidates; contamination counters
    update by two Δ-joins — new docs vs the full bench set, old docs vs
    only the NEVER-SEEN bench grams (so a benchmark doc arriving late
    retro-contaminates earlier docs, exactly as the full run scores them).
    State carries distinct shingle STRINGS for bit-exact Jaccard parity
    with the from-scratch run; at extreme scale the verify proxy would be
    the MinHash signature already in ``band_state``.

    Returns the final manifest, which ``curation_incremental_parity``
    hash-certifies against the SAME DuckDB oracle as the full-run
    ``curation_pipeline_manifest`` — incremental == full, stage
    interactions included.

    ``arrival_plan`` stresses arrival-order assumptions (real ingest is
    not doc-id-ordered):

    - ``"ordered"`` — contiguous doc-id ranges, ascending (the daily-crawl
      happy path);
    - ``"shuffled"`` — the same contiguous ranges delivered in a
      deterministic non-chronological permutation;
    - ``"interleaved"`` — chunk ``ci`` is ``doc_id % n_chunks == ci``
      (every chunk's id range spans the whole corpus — maximally
      overlapping ranges), delivered shuffled.

    The maintained state is arrival-order-INDEPENDENT by construction —
    bench grams and bands are unions, the retro-contamination split
    (new-vs-full-bench ∪ old-vs-never-seen) partitions each doc×gram
    contribution by first-seen arrival, and candidate pairs are covered
    when the later-arriving partner lands — so the final manifest is
    hash-identical under every plan (``curation_outoforder_parity``
    certifies the interleaved plan against the same from-scratch oracle;
    each doc must still arrive exactly once — duplicate delivery of the
    SAME arrival is the replay path the chunk guards already cover).
    """
    from bakery_big_data_spark.plans.base import spread, t
    from bakery_big_data_spark.sources.snapshots import last_commit_meta

    docs_all = t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    lo_hi = docs_all.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
    lo_all, hi_all = int(lo_hi[0]), int(lo_hi[1])
    span = hi_all - lo_all + 1
    bounds = [lo_all + span * i // n_chunks for i in range(n_chunks + 1)]

    ds_path = f"{base_path}/doc_state"
    band_path = f"{base_path}/band_state"
    bench_path = f"{base_path}/bench_grams"
    pairs_path = f"{base_path}/pairs_state"

    def _applied(path: str, ci: int) -> bool:
        meta = last_commit_meta(path)
        return meta is not None and meta.get("chunk", -1) >= ci

    order = (
        list(range(n_chunks))
        if arrival_plan == "ordered"
        else _arrival_order(n_chunks)
    )
    # the applied-guard id is the arrival SEQUENCE position (monotone
    # regardless of which chunk arrives when), never the chunk index
    for seq, ci in enumerate(order):
        if arrival_plan == "interleaved":
            pred = F.col("doc_id") % n_chunks == ci
        else:
            clo, chi = bounds[ci], bounds[ci + 1] - 1
            if chi < clo:
                continue
            pred = F.col("doc_id").between(clo, chi)
        if all(
            _applied(p, seq)
            for p in (ds_path, band_path, bench_path, pairs_path)
        ):
            continue
        delta = spread(docs_all.filter(pred))
        apply_curation_arrival(spark, base_path, delta, seq)

    return derive_curation_manifest(spark, base_path)


def apply_curation_arrival(
    spark: SparkSession,
    base_path: str,
    delta_docs: DataFrame,
    arrival_id: int,
) -> None:
    """Maintain every curation-state table for ONE doc-range arrival —
    the shared chunk body of :func:`run_curation_incremental` (batch
    replay) and :func:`run_curation_stream_fed` (foreachBatch
    micro-batches).  ``delta_docs`` must carry (doc_id, text, lang,
    n_chars); each document must arrive in exactly ONE arrival, but
    arrival ORDER is free — the maintained state is order-independent
    (see ``run_curation_incremental``), certified by the out-of-order
    parity row.  ``arrival_id`` must be the monotone arrival-sequence
    position; each state table carries its own applied-id guard inside
    the snapshot commit (commit order doc->bench->band->pairs is
    load-bearing — see the inline comments)."""
    from bakery_big_data_spark.operators.dedup import (
        verify_pairs,
        with_portable_minhash_bands,
        word_shingles,
    )
    from bakery_big_data_spark.operators.repetition import with_passes_gopher
    from bakery_big_data_spark.sources.snapshots import (
        last_commit_meta,
        read_snapshot,
        table_exists,
        write_snapshot,
    )

    ds_path = f"{base_path}/doc_state"
    band_path = f"{base_path}/band_state"
    bench_path = f"{base_path}/bench_grams"
    pairs_path = f"{base_path}/pairs_state"
    ci = arrival_id

    def _applied(path: str, i: int) -> bool:
        meta = last_commit_meta(path)
        return meta is not None and meta.get("chunk", -1) >= i

    delta = delta_docs  # caller supplies the (already-spread) arrival
    ws = F.split(F.col("text"), " ")
    ttr = F.size(F.array_distinct(ws)).cast("double") / F.size(ws)
    feat = with_passes_gopher(delta, "text", "passes_repetition").select(
        "doc_id",
        "lang",
        "n_chars",
        ((F.col("n_chars") >= MIN_CHARS) & (ttr >= MIN_TTR)).alias(
            "passes_quality"
        ),
        "passes_repetition",
        (F.col("doc_id") % 25 == 0).alias("is_benchmark"),
        word_shingles("text", n=3).alias("shingles"),
    )

    # --- benchmark gram set: old ∪ never-seen-new -------------------
    # COMMIT ORDER IS LOAD-BEARING: doc_state commits BEFORE
    # bench_grams.  new_only (the never-seen grams that drive the
    # retro-update of old docs) is derived from the bench state of the
    # PREVIOUS chunk, so if bench_grams had already advanced when a
    # crashed chunk replays, new_only would come out empty and the
    # retro-scores would be silently lost.  With doc-then-bench order,
    # a replayed chunk either recomputes both from the old bench state
    # or skips both.
    new_bench = (
        feat.filter(F.col("is_benchmark"))
        .select(F.explode("shingles").alias("g"))
        .select(F.xxhash64("g").alias("gh"))
        .distinct()
    )
    if table_exists(bench_path):
        old_bench = read_snapshot(spark, bench_path)
        new_only = new_bench.join(old_bench, "gh", "left_anti")
        full_bench = old_bench.unionByName(new_only)
    else:
        new_only = new_bench
        full_bench = new_bench

    # --- doc state: new docs scored vs the full bench set, old docs
    # retro-updated vs only the never-seen grams ---------------------
    if not _applied(ds_path, ci):
        dg = feat.select(
            "doc_id", F.explode_outer("shingles").alias("g")
        ).select(
            "doc_id", F.when(F.col("g").isNotNull(), F.xxhash64("g")).alias("gh")
        )
        shared0 = (
            dg.join(full_bench, "gh")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("_n_shared0"))
        )
        new_state = (
            feat.join(shared0, "doc_id", "left")
            .select(
                "doc_id",
                "lang",
                "n_chars",
                "passes_quality",
                "passes_repetition",
                "is_benchmark",
                "shingles",
                F.size("shingles").cast("bigint").alias("n_grams"),
                F.coalesce(F.col("_n_shared0"), F.lit(0))
                .cast("bigint")
                .alias("n_shared"),
            )
        )
        if table_exists(ds_path):
            old = read_snapshot(spark, ds_path)
            og = old.select(
                "doc_id", F.explode("shingles").alias("g")
            ).select("doc_id", F.xxhash64("g").alias("gh"))
            add = (
                og.join(new_only, "gh")
                .groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("_add"))
            )
            old = (
                old.join(add, "doc_id", "left")
                .withColumn(
                    "n_shared",
                    F.col("n_shared")
                    + F.coalesce(F.col("_add"), F.lit(0)),
                )
                .drop("_add")
            )
            merged = old.unionByName(new_state)
        else:
            merged = new_state
        write_snapshot(merged, ds_path, meta={"chunk": ci})
    doc_state = read_snapshot(spark, ds_path)
    if not _applied(bench_path, ci):
        write_snapshot(full_bench, bench_path, meta={"chunk": ci})

    # --- LSH index + Δ candidate pairs ------------------------------
    # PORTABLE banding (same family as the batch _lsh_pairs and the
    # streaming gate): incremental == batch requires the identical
    # candidate predicate, and the banding-aware curation oracle
    # re-derives exactly this family's collisions in SQL.
    dbands = with_portable_minhash_bands(
        feat.filter(F.size("shingles") > 0), "doc_id", "shingles"
    ).select(
        "doc_id",
        F.posexplode("band_keys").alias("band_idx", "band_hash"),
    )
    if not _applied(band_path, ci):
        all_bands = (
            read_snapshot(spark, band_path).unionByName(dbands)
            if table_exists(band_path)
            else dbands
        )
        write_snapshot(all_bands, band_path, meta={"chunk": ci})
    all_bands = read_snapshot(spark, band_path)

    if not _applied(pairs_path, ci):
        n, o = dbands.alias("n"), all_bands.alias("o")
        cand = (
            n.join(
                o,
                (F.col("n.band_idx") == F.col("o.band_idx"))
                & (F.col("n.band_hash") == F.col("o.band_hash"))
                & (F.col("n.doc_id") != F.col("o.doc_id")),
            )
            .select(
                F.least(F.col("n.doc_id"), F.col("o.doc_id")).alias("id_a"),
                F.greatest(F.col("n.doc_id"), F.col("o.doc_id")).alias(
                    "id_b"
                ),
            )
            .distinct()
        )
        verified = verify_pairs(
            cand,
            doc_state.select("doc_id", "shingles"),
            "doc_id",
            "shingles",
            threshold=0.5,
        ).select("id_a", "id_b")
        pairs = (
            read_snapshot(spark, pairs_path)
            .unionByName(verified)
            .distinct()
            if table_exists(pairs_path)
            else verified.distinct()
        )
        write_snapshot(pairs, pairs_path, meta={"chunk": ci})


def derive_curation_manifest(spark: SparkSession, base_path: str) -> DataFrame:
    """Final manifest from maintained state only — the shared tail of
    both incremental runners."""
    from bakery_big_data_spark.sources.snapshots import read_snapshot

    ds_path = f"{base_path}/doc_state"
    pairs_path = f"{base_path}/pairs_state"

    # --- final manifest, derived from state only ------------------------
    state = read_snapshot(spark, ds_path)
    pairs = read_snapshot(spark, pairs_path)
    nbrs = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("id_a").alias("doc_id"), F.col("id_b").alias("nb")),
                F.struct(F.col("id_b").alias("doc_id"), F.col("id_a").alias("nb")),
            )
        ).alias("e")
    ).select("e.doc_id", "e.nb")
    canon = (
        state.select("doc_id")
        .join(nbrs, "doc_id", "left")
        .groupBy("doc_id")
        .agg(
            F.least(
                F.col("doc_id"), F.coalesce(F.min("nb"), F.col("doc_id"))
            ).alias("canonical_id")
        )
    )
    u = (
        (F.col("doc_id").cast("bigint") * _SPLIT_A + F.lit(_SPLIT_C)) % _LCG_M
    ) / F.lit(float(_LCG_M))
    contamination = (
        F.when(F.col("is_benchmark") | (F.col("n_grams") == 0), F.lit(0.0))
        .otherwise(F.col("n_shared").cast("double") / F.col("n_grams"))
    )
    manifest = (
        state.join(canon, "doc_id")
        .select(
            "doc_id",
            "lang",
            "n_chars",
            "passes_quality",
            "passes_repetition",
            "is_benchmark",
            "canonical_id",
            (F.col("doc_id") == F.col("canonical_id")).alias("is_canonical"),
            contamination.alias("contamination_ratio"),
            F.when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test").alias(
                "split"
            ),
        )
    )
    return manifest.withColumn(
        "is_training",
        F.col("passes_quality")
        & F.col("passes_repetition")
        & ~F.col("is_benchmark")
        & (F.col("doc_id") == F.col("canonical_id"))
        & (F.col("contamination_ratio") < CONTAMINATION_MAX),
    )


def run_curation_stream_fed(
    spark: SparkSession, sf_dir: str, base_path: str, n_chunks: int = 4
) -> DataFrame:
    """Stream-fed incremental curation — the curation counterpart of
    ``run_medallion_stream_fed``: ONE Structured Streaming query replays
    the corpus as doc-id-ordered JSON arrivals and each ``foreachBatch``
    micro-batch drives :func:`apply_curation_arrival` (the same chunk
    body as the batch replay), so the ENTIRE gated/deduped/
    decontaminated/split chain is maintained at ingest time, Δ-cost per
    micro-batch.  State commits carry the micro-batch id (checkpoint
    re-delivery exactly-once; commit order doc->bench->band->pairs
    preserved by the shared body).  The final manifest derives from state
    only and ``streaming_curation_parity`` hash-certifies it against the
    SAME from-scratch oracle as the batch rows — stream-fed incremental
    == full curation run."""
    from bakery_big_data_spark.plans.base import spread
    from bakery_big_data_spark.sources.tables import load_table
    from bakery_big_data_spark.streaming.dedup_gate import (
        write_ordered_json_chunks,
    )
    from bakery_big_data_spark.streaming.ingest import read_json_stream

    src = f"{base_path}/stream_src"
    ckpt = f"{base_path}/ckpt"
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    write_ordered_json_chunks(docs, src, "doc_id", n_chunks)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        apply_curation_arrival(
            spark, base_path, spread(batch_df), int(batch_id)
        )

    q = (
        read_json_stream(
            spark, src,
            schema_ddl="doc_id LONG, text STRING, lang STRING, n_chars LONG",
            max_files_per_trigger=1,
        )
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .queryName("curation_stream_fed")
        .start()
    )
    q.awaitTermination()
    return derive_curation_manifest(spark, base_path)
