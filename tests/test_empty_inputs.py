"""Empty-input robustness: every operator family must return an empty
(not erroring) result when its input has zero rows — the edge every
incremental pipeline hits on its first run or an empty partition day."""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_functions_variant_spark.operators import dedup, similarity, text
from datafusion_functions_variant_spark.sources.tables import load_table

from .conftest import SF_DIR


def _empty_docs(spark):
    return load_table(spark, SF_DIR, "documents").where(F.lit(False))


def _empty_emb(spark):
    return load_table(spark, SF_DIR, "embeddings").where(F.lit(False))


def test_exact_dedup_empty(spark):
    assert dedup.exact_dedup_groups(_empty_docs(spark), "text", "doc_id").count() == 0


def test_minhash_empty(spark):
    sigs = dedup.minhash_signatures(_empty_docs(spark), "text", "doc_id", n=8, num_hashes=8)
    assert sigs.count() == 0
    assert dedup.lsh_candidate_pairs(sigs, "doc_id", num_hashes=8, bands=2).count() == 0


def test_simhash_empty(spark):
    assert dedup.simhash_signatures(_empty_docs(spark), "text", "doc_id").count() == 0


def test_simhash_near_pairs_empty_and_singleton(spark):
    """Zero docs -> zero pairs at the auto-sized default cap (a count of
    0) and at an explicit one, with an observation that reads back
    without raising; one doc -> one signature whose chunk buckets are
    all singletons, so zero pairs (never a self-pair)."""
    from pyspark.sql import Observation

    from datafusion_functions_variant_spark.plans.observe import observed_metrics

    sigs0 = dedup.simhash_signatures(_empty_docs(spark), "text", "doc_id")
    assert dedup.simhash_near_pairs(sigs0, "doc_id").count() == 0
    obs = Observation()
    pairs = dedup.simhash_near_pairs(
        sigs0, "doc_id", max_hamming=4, max_bucket=64, observation=obs
    )
    assert pairs.count() == 0
    got = observed_metrics(obs, n_buckets=0, n_colliding_buckets=0,
                           n_overflow_buckets=0, max_bucket_size=None)
    assert got["n_buckets"] == 0

    one = spark.createDataFrame(
        [(7, "one lonely document")], "doc_id long, text string"
    )
    sigs1 = dedup.simhash_signatures(one, "text", "doc_id")
    assert sigs1.count() == 1
    assert dedup.simhash_near_pairs(sigs1, "doc_id").count() == 0


def test_similarity_empty_corpus(spark):
    emb = _empty_emb(spark)
    queries = load_table(spark, SF_DIR, "embeddings").where(F.col("vec_id") < 2)
    assert similarity.brute_force_topk(emb, queries, k=3).count() == 0
    assert similarity.radius_search(emb, queries, threshold=0.2).count() == 0


def test_similarity_empty_queries(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    assert similarity.brute_force_topk(emb, _empty_emb(spark), k=3).count() == 0


def test_text_ops_empty(spark):
    docs = _empty_docs(spark)
    assert text.quality_stats(docs, "text", "doc_id").count() == 0
    assert text.lang_id(docs, "text", "doc_id").count() == 0
    assert text.token_counts(docs, "text", "doc_id").count() == 0


def test_text_ops_empty_string_docs(spark):
    """Empty / whitespace-only DOCUMENTS (not just zero rows) must not
    raise under ANSI mode: ratios surface NULL, keep flags false."""
    from datafusion_functions_variant_spark.operators import text as t

    df = spark.createDataFrame(
        [(1, ""), (2, "a"), (3, "   ")], "doc_id long, text string"
    )
    q = {r.doc_id: r for r in t.quality_stats(df, "text", "doc_id").collect()}
    assert q[1].stopword_ratio is None and q[1].n_words == 0
    g = {r.doc_id: r for r in t.gopher_rules(df, "text", "doc_id").collect()}
    assert g[1].mean_word_len is None and g[1].keep is False
    assert g[3].keep is False
    assert t.lang_id(df, "text", "doc_id").count() == 3
    assert t.token_counts(df, "text", "doc_id").count() == 3
    assert t.repetition_stats(df, "text", "doc_id").count() == 3


def test_graph_ops_empty(spark):
    from datafusion_functions_variant_spark.operators import graph

    empty_pairs = spark.createDataFrame([], "src long, dst long")
    assert graph.min_label_components(empty_pairs).count() == 0
    assert graph.triangle_counts(empty_pairs).count() == 0


def test_bpe_empty_vocab(spark):
    from datafusion_functions_variant_spark.operators.text import bpe_merge_rounds

    vocab = spark.createDataFrame([], "word string, n long")
    merges, syms = bpe_merge_rounds(vocab, rounds=2)
    assert merges.count() == 0
    assert syms.count() == 0


def test_pq_empty_queries(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    assert (
        similarity.pq_topk(emb, _empty_emb(spark), k=3, m=8, ks=16, dim=64).count()
        == 0
    )
    assert (
        similarity.pq_topk(
            emb, _empty_emb(spark), k=3, m=8, ks=16, dim=64, shortlist=32
        ).count()
        == 0
    )


def test_interpolate_empty_events(spark):
    from datafusion_functions_variant_spark.operators.timeseries import (
        hourly_interpolate_linear,
    )

    ev = load_table(spark, SF_DIR, "events").where(F.lit(False))
    assert hourly_interpolate_linear(ev).count() == 0


def test_lsh_pairs_with_observation_empty(spark):
    """The fused observe() audit on a zero-row corpus: no pairs, and
    the metrics read must not raise. AQE's empty-relation propagation
    makes Spark record an EMPTY metrics row here (pyspark's raw
    Observation.get raises converting it) — observed_metrics() is the
    safe read, returning the caller's empty-aggregate defaults."""
    from pyspark.sql import Observation

    from datafusion_functions_variant_spark.plans.observe import observed_metrics

    sigs = dedup.minhash_signatures(
        _empty_docs(spark), "text", "doc_id", n=8, num_hashes=8
    )
    obs = Observation()
    pairs = dedup.lsh_candidate_pairs(
        sigs, "doc_id", num_hashes=8, bands=2, observation=obs
    )
    assert pairs.count() == 0
    got = observed_metrics(obs, n_buckets=0, n_colliding_buckets=0,
                           n_overflow_buckets=0, max_bucket_size=None)
    assert got["n_buckets"] == 0
    assert got["max_bucket_size"] is None


def test_bloom_empty_build_side(spark):
    """A bloom built from ZERO keys must be all-zero bits (every probe
    misses) — the first-run edge of the prescreen path."""
    from datafusion_functions_variant_spark.operators import bloom

    keys = _empty_docs(spark).select("doc_id")
    m = bloom.bloom_m_bits(0)
    bits = bloom.bloom_build(keys, F.col("doc_id"), m)
    probe = (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id")
        .crossJoin(F.broadcast(bits))
        .where(F.expr(bloom.bloom_member_sql("doc_id", m)))
    )
    assert probe.count() == 0


def test_snapshot_diff_identical_sides(spark):
    """Identical snapshots diff to ZERO rows — and no bucket is ever
    expanded (the dirty list itself is empty)."""
    from datafusion_functions_variant_spark.operators.reconcile import (
        bucketed_snapshot_diff,
    )

    a = load_table(spark, SF_DIR, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    assert bucketed_snapshot_diff(a, a, "okey", ["price"]).count() == 0


def test_snapshot_diff_empty_vs_full(spark):
    """Empty-vs-full degenerates to 'everything inserted' — count
    equals the full side, all kind 'I'."""
    from datafusion_functions_variant_spark.operators.reconcile import (
        bucketed_snapshot_diff,
    )

    full = load_table(spark, SF_DIR, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    empty = full.where(F.lit(False))
    diff = bucketed_snapshot_diff(empty, full, "okey", ["price"])
    n_full = full.count()
    rows = diff.groupBy("kind").count().collect()
    assert len(rows) == 1 and rows[0]["kind"] == "I" and rows[0]["count"] == n_full


def test_ivm_empty_changelog_is_identity(spark):
    """Maintaining with an EMPTY changelog must return the stored
    rollup unchanged — no rows lost to the merge join, none invented."""
    from datafusion_functions_variant_spark.operators import ivm
    from pyspark.sql import functions as F

    base = spark.createDataFrame(
        [("2024-03-01", 2, "x", 10.0), ("2024-03-01", 3, "y", 5.5)],
        "day string, hour int, event_type string, vd double",
    ).select("day", "hour", "event_type",
             F.col("vd").cast("decimal(18,2)").alias("v"))
    rollup0 = ivm.rollup_full(base, "ivm_empty_base")
    empty = (
        base.where(F.lit(False))
        .withColumn("sign", F.lit(1))
        .select("day", "hour", "event_type", "sign", "v")
    )
    maintained = ivm.merge_rollup(
        rollup0, ivm.rollup_delta(empty, "ivm_empty_delta")
    )
    key = lambda r: (r["day"], r["hour"], r["event_type"])
    got = {key(r): (r["n"], r["s"]) for r in maintained.collect()}
    want = {key(r): (r["n"], r["s"]) for r in rollup0.collect()}
    assert got == want and len(got) == 5  # 2 day+hour+type, 2 day+hour, 1 day


def test_phash_empty_and_singleton_corpora(spark):
    """Zero images -> zero signatures and zero pairs; one image ->
    one signature, zero pairs (the self-join must not self-pair)."""
    import pandas as pd
    from datafusion_functions_variant_spark.operators import phash
    from datafusion_functions_variant_spark.operators import png as pngmod

    empty = spark.createDataFrame([], "asset_id long, payload binary")
    sigs0 = phash.dhash_bands(empty, "asset_id", "payload")
    assert sigs0.count() == 0
    assert phash.neardup_pairs(sigs0, "asset_id").count() == 0

    one = spark.createDataFrame(pd.DataFrame(
        [(7, pngmod.encode_png(18, 16, bytes(range(200)) + bytes(88), 1, 0))],
        columns=["asset_id", "payload"],
    ))
    sigs1 = phash.dhash_bands(one, "asset_id", "payload")
    assert sigs1.count() == 1
    assert phash.neardup_pairs(sigs1, "asset_id").count() == 0
