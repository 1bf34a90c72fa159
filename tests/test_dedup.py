"""Dedup-family property tests: LSH recall vs the exact baseline, SimHash
locality, and shingle edge cases."""

from __future__ import annotations

from pyspark.sql import functions as F

from bakery_big_data_spark.operators.dedup import (
    candidate_pairs,
    exact_ngram_pairs,
    hamming64,
    simhash64,
    verify_pairs,
    word_shingles,
)


def _shingled(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", word_shingles("text", 3).alias("shingles"))
    )


def test_lsh_matches_exact_baseline(spark, sf_dir):
    docs = _shingled(spark, sf_dir)
    exact = {
        (r.id_a, r.id_b)
        for r in exact_ngram_pairs(docs, "doc_id", "shingles", 0.5).collect()
    }
    cands = candidate_pairs(docs, "doc_id", "shingles", bands=16, rows_per_band=2)
    lsh = {
        (r.id_a, r.id_b)
        for r in verify_pairs(cands, docs, "doc_id", "shingles", 0.5).collect()
    }
    assert exact, "corpus should contain planted near-dup pairs"
    assert lsh == exact  # full recall at these band parameters, no false positives


def test_connected_components_resolves_chains(spark):
    from bakery_big_data_spark.operators.dedup import (
        canonical_assignment,
        connected_components,
    )

    verts = spark.createDataFrame([(i,) for i in range(6)], "doc_id LONG")
    # chain 1-2-3-4 (no direct 1-4 edge) + isolated 0, 5
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "id_a LONG, id_b LONG"
    )
    cc = {
        r.doc_id: r.canonical_id
        for r in connected_components(verts, pairs, "doc_id").collect()
    }
    assert cc == {0: 0, 1: 1, 2: 1, 3: 1, 4: 1, 5: 5}
    # the single-pass star contraction provably under-resolves the chain
    sp = {
        r.doc_id: r.canonical_id
        for r in canonical_assignment(verts, "doc_id", pairs).collect()
    }
    assert sp[4] == 3  # one hop only — why the iterative operator exists


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """Reliable-checkpoint mode must produce the identical fixpoint as
    the default persist/localCheckpoint mode."""
    from bakery_big_data_spark.operators.dedup import connected_components

    verts = spark.createDataFrame([(i,) for i in range(30)], "doc_id LONG")
    # two deep chains + a clique + isolates
    edges = (
        [(i, i + 1) for i in range(0, 9)]
        + [(i, i + 1) for i in range(10, 19)]
        + [(20, 21), (20, 22), (21, 22)]
    )
    pairs = spark.createDataFrame(edges, "id_a LONG, id_b LONG")
    base = sorted(
        tuple(r) for r in connected_components(verts, pairs, "doc_id").collect()
    )
    ckpt = sorted(
        tuple(r)
        for r in connected_components(
            verts, pairs, "doc_id", checkpoint_dir=str(tmp_path / "cc_ckpt")
        ).collect()
    )
    assert base == ckpt


def test_shingles_short_docs(spark):
    df = spark.createDataFrame([("a b c",), ("solo",), ("",)], ["text"])
    out = df.select(word_shingles("text", 2).alias("s")).collect()
    assert out[0].s == ["a_b", "b_c"]
    assert out[1].s == []  # 1 word < n: empty, not a descending-sequence crash
    # empty string splits to [''] → single token → empty shingle set
    assert out[2].s == []


def test_simhash_identity_and_locality(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fp = docs.select("doc_id", "text", simhash64("text").alias("fp"))
    # identical text → identical fingerprint
    two = fp.limit(1).unionAll(fp.limit(1))
    vals = two.select("fp").collect()
    assert vals[0].fp == vals[1].fp

    # near-dup pairs (exact baseline) are closer in Hamming space than an
    # arbitrary non-dup pair population
    shingles = docs.select("doc_id", word_shingles("text", 2).alias("shingles"))
    pairs = exact_ngram_pairs(shingles, "doc_id", "shingles", 0.5)
    fa = fp.select(F.col("doc_id").alias("id_a"), F.col("fp").alias("fp_a"))
    fb = fp.select(F.col("doc_id").alias("id_b"), F.col("fp").alias("fp_b"))
    dup_ham = (
        pairs.join(fa, "id_a").join(fb, "id_b")
        .select(hamming64(F.col("fp_a"), F.col("fp_b")).alias("h"))
        .agg(F.avg("h"))
        .first()[0]
    )
    rand_ham = (
        fa.crossJoin(fb)
        .filter(F.col("id_a") + 7 == F.col("id_b"))  # arbitrary offset pairs
        .select(hamming64(F.col("fp_a"), F.col("fp_b")).alias("h"))
        .agg(F.avg("h"))
        .first()[0]
    )
    assert dup_ham < rand_ham / 2


def test_portable_simhash_banded_recall(spark, sf_dir):
    """Banded candidate generation must find EVERY pair at Hamming <= 5
    (pigeonhole over 6 disjoint bands) — compare against an all-pairs scan
    computed Spark-side; and the guard rejects thresholds past the
    guarantee."""
    import pytest

    from bakery_big_data_spark.operators.dedup import (
        simhash_banded_pairs,
        with_portable_simhash,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    sigs = with_portable_simhash(docs, "text").select(
        "doc_id", "simhash_hi", "simhash_lo"
    )
    banded = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_banded_pairs(sigs, "doc_id", max_hamming=5).collect()
    }
    a, b = sigs.alias("a"), sigs.alias("b")
    ham = (
        F.bit_count(F.col("a.simhash_hi").bitwiseXOR(F.col("b.simhash_hi")))
        + F.bit_count(F.col("a.simhash_lo").bitwiseXOR(F.col("b.simhash_lo")))
    ).cast("bigint")
    allpairs = {
        (r.id_a, r.id_b, r.hamming)
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= 5)
        .collect()
    }
    assert allpairs, "corpus should contain near-dup pairs under SimHash"
    assert banded == allpairs
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_banded_pairs(sigs, "doc_id", max_hamming=6)


def test_prefix_filter_equals_exact(spark, sf_dir):
    """Prefix filtering is lossless: identical pair set + jaccards as the
    all-shared-token exact join (the prefix-filtering theorem, on data)."""
    from bakery_big_data_spark.operators.dedup import (
        exact_ngram_pairs,
        prefix_filter_pairs,
        word_shingles,
    )
    from bakery_big_data_spark.plans.base import t as load
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", word_shingles("text", n=3).alias("sh")
    )
    exact = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in exact_ngram_pairs(docs, "doc_id", "sh", 0.5).collect()
    }
    pf = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in prefix_filter_pairs(docs, "doc_id", "sh", 0.5).collect()
    }
    assert pf == exact
    assert len(pf) > 0


def test_prefix_filter_candidate_volume_is_smaller(spark, sf_dir):
    """The point of the optimization: prefix candidates must be a strict
    subset of the shared-token candidate volume on a corpus with frequent
    shingles (here: every token pair the exact join touches)."""
    from bakery_big_data_spark.operators.dedup import word_shingles
    from bakery_big_data_spark.plans.base import t as load
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", word_shingles("text", n=3).alias("sh")
    )
    tok = docs.filter(F.size("sh") > 0).select(
        "doc_id", F.explode("sh").alias("tok")
    )
    shared = (
        tok.alias("a")
        .join(
            tok.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id"), F.col("b.doc_id"))
        .distinct()
        .count()
    )
    dfreq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    prefix = (
        tok.join(dfreq, "tok")
        .withColumn("pos", F.row_number().over(w))
        .join(docs.select("doc_id", F.size("sh").alias("n")), "doc_id")
        .filter(F.col("pos") <= F.col("n") - F.ceil(0.5 * F.col("n")) + 1)
    )
    pf_cands = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id"), F.col("b.doc_id"))
        .distinct()
        .count()
    )
    assert pf_cands < shared


def test_prefix_filter_lossless_at_high_threshold(spark, sf_dir):
    """t=0.8 (the registered row's regime: ~20% prefixes) must still be
    lossless against the exact baseline."""
    from bakery_big_data_spark.operators.dedup import (
        exact_ngram_pairs,
        prefix_filter_pairs,
        word_shingles,
    )
    from bakery_big_data_spark.plans.base import t as load

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", word_shingles("text", n=3).alias("sh")
    )
    exact = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in exact_ngram_pairs(docs, "doc_id", "sh", 0.8).collect()
    }
    pf = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in prefix_filter_pairs(docs, "doc_id", "sh", 0.8).collect()
    }
    assert pf == exact
    assert len(pf) > 0


def test_span_intervals_cover_equals_cross_doc_union(spark, sf_dir):
    """Cross-query invariant: the gap-and-islands interval lengths of
    dedup_span_intervals must sum, per doc, to exactly the explode-distinct
    token-coverage of dedup_cross_doc_spans — two independent formulations
    of the same union-of-windows measure."""
    from bakery_big_data_spark.plans import REGISTRY

    iv = {
        r["doc_id"]: r["covered_tokens"]
        for r in REGISTRY["dedup_span_intervals"].build(spark, sf_dir).collect()
    }
    cov = {
        r["doc_id"]: r["covered_tokens"]
        for r in REGISTRY["dedup_cross_doc_spans"].build(spark, sf_dir).collect()
        if r["covered_tokens"] > 0
    }
    assert iv == cov
    assert len(iv) > 0


def test_inter_persist_gate_measures_directory_layout(tmp_path, monkeypatch):
    """The pair-frame persist gate sums the part files of a directory-layout
    documents.parquet (the directory entry's own size is a few KB)."""
    import bakery_big_data_spark.plans.dedup as plans_dedup

    docs = tmp_path / "documents.parquet"
    docs.mkdir()
    for i in range(3):
        (docs / f"part-{i:05d}.parquet").write_bytes(b"x" * 1000)
    (docs / "_SUCCESS").write_bytes(b"")
    monkeypatch.setattr(plans_dedup, "_INTER_PERSIST_MAX_BYTES", 2500)
    assert not plans_dedup._inter_persist_ok(str(tmp_path))
    monkeypatch.setattr(plans_dedup, "_INTER_PERSIST_MAX_BYTES", 3000)
    assert plans_dedup._inter_persist_ok(str(tmp_path))
