"""Physical-plan audits — the 100 TB design assertions (SURVEY.md §4):
filters push to the parquet scan, small dims broadcast, scans prune
columns, top-k compiles to TakeOrderedAndProject, whole-stage codegen
covers the hot path. These guard against regressions that would only
hurt at scale."""

import pytest

from datafusion_functions_variant_spark.queries import load_all_queries

REGISTRY = load_all_queries()
# PLANS_SF_DIR overrides the scale the pins are audited at — the pins
# are SHAPE assertions and must hold at every SF (run the suite with
# PLANS_SF_DIR=/root/testdata/sf0.01 to audit at driver scale)
import os as _os

SF = _os.environ.get("PLANS_SF_DIR", "/root/testdata/sf0.001")


def plan_of(spark, name: str) -> str:
    df = REGISTRY[name].build(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(spark, name: str) -> str:
    df = REGISTRY[name].build(spark, SF)
    return spark.sparkContext._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_scan(spark):
    plan = formatted(spark, "variant_filter_pushdown")
    assert "PushedFilters" in plan
    # the event_type predicate must reach the parquet reader
    assert "event_type" in plan.split("PushedFilters")[1][:500]


def test_q1_pushes_date_filter(spark):
    plan = formatted(spark, "q1_pricing_summary")
    pushed = plan.split("PushedFilters")[1][:300]
    assert "l_shipdate" in pushed


def test_q1_prunes_columns(spark):
    plan = formatted(spark, "q1_pricing_summary")
    # ReadSchema must not include unused columns like l_partkey/l_suppkey
    read = plan.split("ReadSchema")[1][:400]
    assert "l_partkey" not in read
    assert "l_comment" not in read


def test_q5_broadcasts_dimensions(spark):
    plan = plan_of(spark, "q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 4  # c, s, n, r all broadcast


def test_q3_broadcasts_filtered_dim(spark):
    plan = plan_of(spark, "q3_shipping_priority")
    assert "BroadcastHashJoin" in plan


def test_topk_is_take_ordered(spark):
    plan = plan_of(spark, "topk_expensive_parts")
    assert "TakeOrderedAndProject" in plan


def test_semi_anti_join_strategies(spark):
    plan = plan_of(spark, "join_semi_anti")
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_whole_stage_codegen_on_agg_path(spark):
    # AQE hides codegen spans until the final plan exists — execute first
    df = REGISTRY["variant_events_agg"].build(spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # codegen stages render as "*(n) Node" in the tree string
    assert "WholeStageCodegen" in plan or "*(1)" in plan
    assert "HashAggregate" in plan


def test_partial_aggregation_present(spark):
    # map-side combine: two HashAggregate nodes (partial + final)
    plan = plan_of(spark, "q1_pricing_summary")
    assert plan.count("HashAggregate") >= 2


def test_range_join_is_broadcast_not_cartesian(spark):
    plan = plan_of(spark, "range_join_quantity_bands")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_asof_join_single_shuffle_per_side(spark):
    # union-merge as-of: no nested-loop/cartesian anywhere
    plan = plan_of(spark, "asof_join_events_orders")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_exists_rewritten_to_semi_anti(spark):
    plan = plan_of(spark, "exists_subquery_sql")
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_bucketed_join_has_no_exchange(spark):
    # both sides bucketed on the join key → SMJ reads buckets in place
    plan = plan_of(spark, "bucketed_colocated_join")
    join_part = plan.split("SortMergeJoin")[1] if "SortMergeJoin" in plan else plan
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    del join_part


def test_q6_pushes_all_predicates(spark):
    plan = formatted(spark, "q6_forecast_revenue")
    pushed = plan.split("PushedFilters")[1][:600]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed


def test_q9_never_hints_orders_broadcast(spark):
    # we HINT broadcast only for true dims (part, supplier, nation);
    # orders must be left to Catalyst (it may still auto-broadcast at
    # toy scale, but at 100 TB the threshold demotes it to a shuffle
    # join — a hard hint would not)
    df = REGISTRY["q9_part_profit_by_nation"].build(spark, SF)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("UnresolvedHint") + analyzed.count("ResolvedHint") == 3
    plan = plan_of(spark, "q9_part_profit_by_nation")
    assert plan.count("BroadcastHashJoin") >= 3


def test_q10_broadcasts_all_dims(spark):
    plan = plan_of(spark, "q10_returned_items")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "TakeOrderedAndProject" in plan


def test_partitioned_sink_prunes_partitions(spark):
    df = REGISTRY["sink_partitioned_roundtrip"].build(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the o_orderstatus=F predicate must become a PartitionFilter
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan or \
        "o_orderstatus#" in plan.split("PartitionFilters")[1][:200]


def test_q8_broadcasts_every_dim_chain(spark):
    # part, supplier->nation, customer->nation->region all broadcast;
    # only lineitem<->orders may ever shuffle
    plan = plan_of(spark, "q8_market_share")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_q19_envelope_predicates_push_to_scan(spark):
    plan = formatted(spark, "q19_disjunctive_revenue")
    li_pushed, part_pushed = [
        seg[:700] for seg in plan.split("PushedFilters")[1:]
    ]
    assert "GreaterThanOrEqual(l_quantity,1.0)" in li_pushed
    assert "LessThanOrEqual(l_quantity,40.0)" in li_pushed
    assert "In(p_brand" in part_pushed


def test_q21_scans_lineitem_once(spark):
    # the EXISTS + NOT-EXISTS pair is rewritten as one per-order agg:
    # lineitem must appear exactly once in the plan (semi+anti joins
    # would scan and shuffle it three times)
    plan = formatted(spark, "q21_waiting_suppliers")
    assert plan.count("lineitem.parquet") == 1


def test_q22_anti_join_and_inplan_scalar(spark):
    plan = plan_of(spark, "q22_dormant_high_balance")
    assert "LeftAnti" in plan
    # the global average joins in as a broadcast, not a collected literal
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_q2_broadcasts_dims_and_windows_once(spark):
    plan = plan_of(spark, "q2_min_cost_supplier")
    # part + supplier/nation/region chains broadcast; the correlated
    # MIN is ONE window (one exchange on ps_partkey), not an agg+join
    assert plan.count("BroadcastHashJoin") >= 2
    assert plan.count("Window") == 1


def test_q16_not_in_is_broadcast_anti(spark):
    plan = plan_of(spark, "q16_supplier_variety")
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_global_sort_rank_never_single_partitions(spark):
    # the whole point: no SinglePartition exchange anywhere — the
    # naive row_number() OVER (ORDER BY ...) would plan one
    plan = plan_of(spark, "global_sort_rank")
    assert "SinglePartition" not in plan


def test_merge_upsert_is_one_join_pass(spark):
    plan = plan_of(spark, "merge_upsert_customer_balance")
    assert "FullOuter" in plan
    # three MERGE branches from ONE join: no union of per-action scans
    assert "Union" not in plan


def test_scd2_windows_share_one_shuffle(spark):
    # lag (change detection) + lead (validity interval) both partition
    # by user_id: exactly one exchange for the window stack
    plan = plan_of(spark, "scd2_user_status_history")
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_minhash_signatures_have_no_gram_exchange(spark):
    # in-row signing: the grams are hashed and min-reduced inside one
    # projection, so neither the gram stream nor the doc ids shuffle
    from datafusion_functions_variant_spark.operators import dedup
    from datafusion_functions_variant_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    sigs = dedup.minhash_signatures(docs, "text", "doc_id")
    plan = sigs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 0
    for node in ("Generate", "HashAggregate"):
        assert node not in plan, node


def test_runtime_bloom_filter_injection(spark):
    """At 100 TB a selective dim filter should also prune the FACT scan
    — Spark's runtime bloom filter (might_contain on the join key)
    does exactly that for shuffle joins. The thresholds gate it to
    big application-side scans, so we lower them to demonstrate the
    mechanism on test data; production keeps the defaults."""
    from pyspark.sql import functions as F

    from datafusion_functions_variant_spark.sources.tables import load_table

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "1KB",
        )
        li = load_table(spark, SF, "lineitem")
        o = load_table(spark, SF, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy(
            "o_orderpriority"
        ).count()
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_unpivot_is_expand_not_union(spark):
    plan = plan_of(spark, "unpivot_lineitem_measures")
    assert "Expand" in plan
    assert plan.count("lineitem.parquet") == 1  # one scan, not 4


def test_asof_forward_single_shuffle_per_side(spark):
    # union-merge as-of: exactly one exchange on the key for the
    # window, never a sort-merge range self-join
    plan = plan_of(spark, "asof_join_forward_tolerance")
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("Window") >= 1


def test_simhash_signature_build_fused_no_shuffle(spark):
    # the fused in-row signature build must stay a pure projection:
    # no Exchange, no Generate (explode) — the 60x bit-explode is the
    # scale regression this pins against
    from datafusion_functions_variant_spark.operators import dedup
    from datafusion_functions_variant_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    sigs = dedup.simhash_signatures(docs, "text", "doc_id")
    plan = sigs._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Generate" not in plan


def test_shredded_storage_pushes_path_filter(spark):
    # the $.k range predicate must reach the parquet scan of the
    # shredded store as native column filters — the whole point of
    # shredding at write time
    plan = formatted(spark, "variant_shredded_storage")
    pushed = plan.split("PushedFilters")[-1][:300]
    assert "GreaterThanOrEqual(k,10)" in pushed
    assert "LessThanOrEqual(k,49)" in pushed


def test_shredded_array_pushes_indexed_path_filter(spark):
    # the $.tags[0] IN-filter must reach the parquet scan of the
    # shredded store as a native In filter on the typed column — an
    # INDEXED variant path getting row-group pruning for free
    plan = formatted(spark, "variant_shredded_array")
    pushed = plan.split("PushedFilters")[-1][:300]
    assert "In(tag0" in pushed


def test_shredded_wildcard_no_python_and_pruned_scan(spark):
    # $.items[*].price shredding: the read-back query must run with
    # ZERO Python evaluation (the per-element extraction happened at
    # write time; the fold is zip_with/aggregate inside codegen) and
    # the scan must prune to exactly the columns it needs — the
    # residual is read only for the $.items[0].sku fallback
    plan = formatted(spark, "variant_shredded_wildcard")
    read_back = plan.split("Scan parquet")[-1]
    # every Python-eval node Spark can emit contains one of these two
    # substrings (BatchEvalPython, ArrowEvalPython, MapInPandas,
    # FlatMapGroupsInPandas, ...)
    assert "EvalPython" not in read_back
    assert "InPandas" not in read_back
    schema = read_back.split("ReadSchema")[-1][:300]
    assert "prices" in schema and "qtys" in schema
    assert "event_id" not in schema  # unused passthrough pruned away


def test_orc_roundtrip_pushes_predicate(spark):
    # the l_quantity predicate must reach the ORC scan (stripe min/max
    # pruning) just as it would a parquet scan
    plan = formatted(spark, "source_orc_roundtrip")
    scan_part = plan.split("Scan orc")[-1]
    assert "PushedFilters" in scan_part
    assert "l_quantity" in scan_part.split("PushedFilters")[1][:200]


def test_join_dpp_injects_dynamic_pruning(spark):
    # the partitioned fact scan must carry a runtime pruning subquery
    # fed by the dim join keys — not a full scan of every partition
    plan = plan_of(spark, "join_dynamic_partition_pruning")
    assert "dynamicpruningexpression" in plan.lower()


def test_lateral_join_decorrelates_to_window_topk(spark):
    # Catalyst must decorrelate the LATERAL subquery into a per-group
    # window top-k (WindowGroupLimit prunes map-side) joined once —
    # never a nested-loop re-scan of customer per nation row
    plan = plan_of(spark, "lateral_join_top2_per_nation")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_recursive_cte_is_distributed_joins(spark):
    # each recursion level is a distributed join of the frontier
    # against the base scan — no collect-based driver loop
    plan = plan_of(spark, "recursive_cte_key_tree")
    assert "UnionLoop" in plan or "Join" in plan


def test_decontamination_broadcasts_benchmark_side(spark):
    # the benchmark gram set must broadcast; the training corpus must
    # reach the join straight from its Generate (no gram-level
    # exchange on the big side — its only Exchange is the final
    # per-doc count)
    plan = plan_of(spark, "text_decontamination")
    assert "BroadcastHashJoin" in plan
    join_part = plan.split("BroadcastHashJoin")[1]
    big_side = join_part.split("BroadcastExchange")[0]
    assert "Exchange hashpartitioning" not in big_side


def test_bm25_corpus_never_shuffles(spark):
    # collection stats (1 row) broadcast back over the corpus; the
    # corpus side reaches the top-k straight from its scan — its only
    # operators are projection, the broadcast cross-join, and
    # TakeOrderedAndProject (no hashpartitioning exchange at all)
    plan = plan_of(spark, "text_bm25_search")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "Exchange hashpartitioning" not in plan


def test_quality_classifier_weights_broadcast_token_stream_unshuffled(spark):
    # the 4096-weight model joins the exploded token stream via
    # broadcast-hash — the token stream itself must reach the join
    # straight from the scan (no hashpartitioning exchange before the
    # weight lookup); shuffles happen only on the per-doc and per-lang
    # aggregates downstream
    plan = plan_of(spark, "text_quality_classifier")
    assert "BroadcastHashJoin" in plan
    big_side = plan.split("BroadcastHashJoin")[1].split("BroadcastExchange")[0]
    assert "Exchange hashpartitioning" not in big_side


def test_unigram_logprob_model_broadcast(spark):
    # the 4096-bucket unigram model and the 1-row total re-enter the
    # scoring pass via broadcast joins; the token stream is scored
    # without a pre-join shuffle
    plan = plan_of(spark, "text_unigram_logprob")
    assert "BroadcastHashJoin" in plan
    big_side = plan.split("BroadcastHashJoin")[1].split("BroadcastExchange")[0]
    assert "Exchange hashpartitioning" not in big_side


def test_multimodal_decode_queries_stay_in_one_python_pipeline(spark):
    # synth (mapInPandas) → decode (mapInPandas) must chain with no
    # hashpartitioning exchange between them: payload bytes are never
    # shuffled — the property that matters when payloads dominate bytes
    for name in ("multimodal_png_decode", "multimodal_wav_decode",
                 "multimodal_y4m_frames"):
        plan = plan_of(spark, name)
        assert plan.count("MapInPandas") == 2, name
        assert "Exchange hashpartitioning" not in plan, name


def test_hybrid_rrf_topk_heaps_not_global_sorts(spark):
    # each ranker's corpus-wide top-50 must compile to
    # TakeOrderedAndProject (distributed heap merge); the query vector
    # reaches the corpus by broadcast, never a cartesian shuffle
    plan = plan_of(spark, "retrieval_hybrid_rrf")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_heavy_hitters_single_vocab_aggregate(spark):
    # the explode+groupBy vocabulary aggregation must appear exactly
    # once — the support threshold's total comes from a cheap per-doc
    # length sum, not a recompute of the token aggregation
    plan = plan_of(spark, "text_heavy_hitters")
    assert plan.count("Generate explode") == 1
    assert "BroadcastExchange" in plan


def test_profile_is_single_scan(spark):
    # one wide aggregate over one scan; unpivot happens by exploding
    # the 1-row aggregate, never by re-running the scan per column
    plan = plan_of(spark, "profile_lineitem_stats")
    assert plan.count("FileScan") == 1


def test_join_hint_forces_shuffled_hash(spark):
    # the shuffle_hash hint must override the optimizer's default
    # broadcast choice for the small dim — hint-driven strategy
    # control is the big-side escape hatch at scale
    plan = plan_of(spark, "join_strategy_hints")
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_zscore_broadcasts_group_stats(spark):
    # the per-group (mu, sigma) side must broadcast; no window over
    # the low-cardinality (skewed) event_type key
    plan = plan_of(spark, "events_anomaly_zscore")
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_variant_grouping_sets_single_expand(spark):
    # all three grouping sets come from ONE Expand pass over the
    # shredded projection — not a re-scan per set
    plan = plan_of(spark, "variant_grouping_sets")
    assert plan.count("Expand") == 1
    assert plan.count("FileScan") == 1


def test_window_sliding_distinct_is_expand_not_self_join(spark):
    """The 1h/30m sliding window must compile to Spark's in-row window
    generator (one Expand, size/slide = 2 copies per row) feeding hash
    aggregates — NOT a windows-table self-join and NOT a row explosion
    beyond the window_count factor. Pins the docstring claim in
    queries/analysis.py (window_sliding_distinct_users)."""
    plan = plan_of(spark, "window_sliding_distinct_users")
    assert "Expand" in plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    # distinct-agg rewrite: (window, user) pre-aggregate then per-window
    assert plan.count("HashAggregate") >= 2


def test_boilerplate_coverage_broadcasts_boiler_set(spark):
    """The df>=3 boilerplate grams join back into the per-document
    coverage pass as a broadcast — the corpus-sized gram stream must
    not shuffle for that join (it shuffles once, for the df count)."""
    plan = plan_of(spark, "text_boilerplate_coverage")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_inverted_index_gates_collect_behind_df_filter(spark):
    """Posting lists may only be collected for the df<=16 rare tail:
    the collect_set aggregate must sit above a broadcast join with the
    filtered df relation, so stopword-scale terms never reach it."""
    plan = plan_of(spark, "text_inverted_index")
    assert "ObjectHashAggregate" in plan  # the collect_set pass
    assert "BroadcastHashJoin" in plan    # rare-term gate is broadcast
    # exactly one collect_set aggregate pair (partial+final), not one
    # per term class
    assert plan.count("collect_set") <= 2


def test_cluster_canonical_broadcasts_labels(spark):
    """Component labels are candidate-pair-sized; the documents join
    against them must broadcast the labels, never shuffle the corpus."""
    plan = plan_of(spark, "dedup_cluster_canonical")
    assert "BroadcastHashJoin" in plan


def test_interval_overlap_is_hash_join_not_range_product(spark):
    """The timeline-bucket formulation must execute the overlap join as
    an equi hash/merge join on (key, bucket) — never a nested-loop or
    cartesian range product."""
    plan = plan_of(spark, "join_interval_overlap_sessions")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_nearest_single_sort_two_frames(spark):
    """Nearest as-of must evaluate BOTH directional window frames over
    one sort/exchange — no cartesian, no second shuffle for the
    forward pass."""
    plan = plan_of(spark, "asof_join_nearest_orders")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # both frames share the partitioning: exactly one Window node
    import re

    assert len(re.findall(r"\bWindow\b", plan)) == 1


def test_chunk_dedup_two_hash_exchanges_one_scan(spark):
    # chunk dedup promise: corpus shuffles exactly twice (chunk-hash
    # window, then doc_id regroup); chunks are built in-row from ONE
    # scan of documents
    plan = plan_of(spark, "dedup_chunk_exact")
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("documents.parquet") == 1


def test_ewma_single_window_single_shuffle(spark):
    # all 32 lag terms (numerator + denominator) must fuse into ONE
    # Window node over ONE user_id exchange — the formulation is
    # worthless if each lag re-sorts
    plan = plan_of(spark, "timeseries_ewma_fixed_point")
    assert plan.count("Exchange hashpartitioning(user_id") == 1
    assert plan.count("Window") == 1


def test_pq_encode_is_pure_projection(spark):
    # the PQ index build (vector -> m codes) is a codegen'd map pass:
    # codeword literals ride the expression tree, so no Exchange and
    # no Generate may appear
    from datafusion_functions_variant_spark.operators import similarity
    from datafusion_functions_variant_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    books = similarity.pq_codebooks(emb, m=8, ks=16, dim=64)
    encoded = similarity.pq_encode(emb, books)
    plan = encoded._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Generate" not in plan


def test_cms_probes_join_broadcast(spark):
    # the depth x width counter tables are sketch-sized: every probe
    # join must broadcast them, never sort-merge the corpus
    plan = plan_of(spark, "freq_cms_tokens")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pagerank_no_cartesian_product(spark):
    # per-iteration plans are edge-key joins plus 1-row stat
    # broadcasts; a CartesianProduct would mean the N/teleport scalar
    # leaked into a real cross join
    plan = plan_of(spark, "pagerank_candidate_graph")
    assert "CartesianProduct" not in plan


def test_interpolation_single_key_exchange(spark):
    # both neighbor windows (backward last, forward first) must share
    # the single key-partitioned exchange; the spine build adds only
    # the broadcast of the 1-row bounds and the distinct-keys agg
    plan = plan_of(spark, "timeseries_interpolate_linear")
    assert plan.count("Exchange hashpartitioning(key") <= 2  # dense join + windows
    assert "CartesianProduct" not in plan


def test_resample_broadcasts_rate_table(spark):
    # the per-language rate table is 4 rows: it must broadcast onto
    # the corpus scan, never shuffle the documents on lang
    plan = plan_of(spark, "dataset_importance_resample")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_audio_framing_no_shuffle_before_python(spark):
    # framing is a pure Arrow-batched map over the scan: no Exchange
    # may precede the Python stage (the orderBy at the end is the
    # only range exchange, for presentation)
    plan = plan_of(spark, "multimodal_audio_framing")
    before_python = plan.split("MapInPandas")[-1]  # below = upstream
    assert "Exchange" not in before_python


def test_semantic_clusters_broadcast_centroids_no_cartesian(spark):
    # the 16-row centroid table must broadcast onto the corpus pass,
    # and the within-cluster pair join must be a real equi-join on cid
    # — never a cartesian product of the corpus with itself
    plan = plan_of(spark, "dedup_semantic_clusters")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_skew_profile_is_takeordered(spark):
    # top-10 heaviest keys must compile to TakeOrderedAndProject —
    # a full global sort of the key histogram defeats the pre-flight's
    # purpose
    plan = plan_of(spark, "join_key_skew_profile")
    assert "TakeOrderedAndProject" in plan


def test_incremental_index_probe_equijoins_no_cartesian(spark):
    # the incoming batch probes the corpus band index through equi-
    # joins on (band_id, band_hash) — never a cartesian or a broadcast
    # of the corpus side; the probe signatures are built in-row, so no
    # gram explode/groupBy may appear on the incoming branch
    plan = plan_of(spark, "dedup_incremental_index")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_knn_graph_bucket_joins_never_all_pairs(spark):
    # both band joins are hash equi-joins on the 8-bit sign bucket —
    # a plain self cross-join here would be O(n^2) at any scale
    plan = plan_of(spark, "similarity_knn_graph")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan


def test_funnel_report_single_scan_single_window(spark):
    # the cascade computes every per-doc feature in-row over ONE
    # documents scan; the only shuffles are the prefix-hash window and
    # the final 1-row aggregate
    plan = plan_of(spark, "curation_funnel_report")
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Window") == 1


def test_bpe_encode_vocab_broadcast_back(spark):
    # the encoded vocabulary (word -> token count) must broadcast onto
    # the corpus word stream — shuffling the corpus on `word` would
    # move the whole dataset to encode it
    plan = plan_of(spark, "tokenizer_bpe_encode")
    assert "BroadcastHashJoin" in plan


def test_late_arrival_no_single_partition_event_window(spark):
    # the arrival-order running max must decompose into the per-bucket
    # window + the bucket-aggregate prefix: the only single-partition
    # window may run over the bucket AGGREGATE relation (days), and
    # the prefix table must broadcast back onto the events
    plan = plan_of(spark, "events_late_arrival_profile")
    assert "BroadcastHashJoin" in plan
    # two Window nodes total: in-bucket (partitioned) + bucket-prefix
    assert plan.count("Window") == 2


def test_ivf_list_stats_zero_shuffle_assignment(spark):
    # centroid assignment is a codegen'd projection (centroid literals
    # in the expression tree) — no join may feed the 16-group count
    plan = plan_of(spark, "similarity_ivf_list_stats")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_band_sweep_no_pair_materialization(spark):
    # three band configs share one signature pipeline and aggregate
    # bucket COUNTS only — no join (pair expansion) anywhere
    plan = plan_of(spark, "dedup_lsh_band_sweep")
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    # one in-row signing projection (8 permutations) feeds all three
    # splits: a per-split branch would sign every document again
    assert plan.count("array_min(") == 8


def test_norm_profile_single_agg_no_join(spark):
    plan = plan_of(spark, "embedding_norm_profile")
    assert "Join" not in plan


def test_pipeline_capstone_no_pair_expansion_single_scan(spark):
    # the near-dup stage must be a bucket-min comparison (groupBy +
    # join on the band key), never a pair-expansion join or cartesian;
    # the whole pipeline reads documents ONCE
    plan = plan_of(spark, "pipeline_crawl_to_shards")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("FileScan parquet") == 1


def test_stump_search_topk_and_broadcast_only(spark):
    # the split-search ranking must be TakeOrderedAndProject (top-5,
    # never a full sort of the stump table) and the class totals must
    # reach the stumps via broadcast, not a shuffled join
    plan = plan_of(spark, "classifier_stump_search")
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_bucketed_index_probe_shuffles_only_the_batch(spark):
    # the persisted band index must be read as a BUCKETED table (no
    # Exchange on the index side of the semi-join); the single hash
    # exchange on the join key belongs to the probe (batch) side
    plan = plan_of(spark, "dedup_incremental_bucketed_index")
    assert "Bucketed: true" in plan
    assert "SelectedBucketsCount" in plan
    assert plan.count("Exchange hashpartitioning(bh2") == 1


def test_chunk_near_bucket_min_no_pair_join(spark):
    # near-chunk precedence must resolve via the bucket-min compare —
    # no pair-expansion join, no cartesian, and the flag join is an
    # equi-join on the chunk key
    plan = plan_of(spark, "dedup_chunk_near")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_epoch_shuffle_no_global_sort(spark):
    # the per-epoch permutation must come from hash keys + shard-local
    # sorted aggregation — a corpus-wide single-partition sort would
    # defeat the design
    plan = plan_of(spark, "dataset_epoch_shuffle")
    assert "SinglePartition" not in plan


def test_curriculum_stages_no_single_partition_sort(spark):
    # quartile assignment rides global_rank's bucketed ranking — the
    # naive NTILE() OVER (ORDER BY ...) would put the whole corpus
    # through one unpartitioned window; here every window is keyed by
    # the range bucket, and the only SinglePartition exchange is the
    # 1-row scalar count() that broadcasts back as the stage divisor
    plan = plan_of(spark, "dataset_curriculum_stages")
    assert "windowspecdefinition(_bucket" in plan
    assert plan.count("Exchange SinglePartition") <= 1
    assert "CartesianProduct" not in plan  # count joins via broadcast


def test_asof_snapshot_one_window_exchange_broadcast_scalar(spark):
    # lag (change detect) + lead (validity) share ONE user_id
    # partitioning, and the as-of instant joins in as a broadcast
    # 1-row aggregate — never a second history pass
    plan = plan_of(spark, "scd2_asof_snapshot")
    assert plan.count("hashpartitioning(user_id") <= 1
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_cusum_one_series_exchange_mapside_combine(spark):
    # daily counts partial-aggregate map-side; ONE event_type exchange
    # feeds both window frames (prefix + totals) AND the final argmax
    # aggregate — the corpus never shuffles twice
    plan = plan_of(spark, "timeseries_cusum_changepoint")
    import re
    series_exchanges = re.findall(
        r"Exchange hashpartitioning\(event_type#\d+, \d+\)", plan
    )
    assert len(series_exchanges) == 1
    assert "partial_count" in plan
    assert plan.count("Window") == 2


def test_knn_canonical_no_all_pairs_and_checkpointed_canon(spark):
    # the canonicalized twin: exact groupBy(embedding) first, then the
    # same bucket equi-joins — never a cross join; the canonical set
    # must enter the graph as a checkpointed scan (three consumers),
    # not as a re-executed aggregate lineage
    plan = plan_of(spark, "similarity_knn_graph_canonical")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Scan ExistingRDD" in plan  # the localCheckpoint artifact
    # the embedding groupBy must NOT re-run inside the graph stage
    assert "HashAggregate(keys=[embedding" not in plan


def test_knn_bucket_stats_joinless_two_aggregates(spark):
    # the pre-flight audit prices the candidate-pair workload WITHOUT
    # running any join: one exploded projection, one (band,bucket)
    # groupBy, one per-band aggregate — if a join appears here the
    # audit costs what it was meant to predict
    plan = plan_of(spark, "knn_bucket_stats")
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_similarity_recall_audit_bucket_join_not_all_pairs(spark):
    # the audit's approximate side must use the equi-join on bucket
    # (the scheme it audits); the only nested-loop join allowed is the
    # intended broadcast cross for the exact baseline — and NO
    # non-broadcast cartesian anywhere, or the audit itself would not
    # survive the corpus it is meant to pre-flight
    plan = plan_of(spark, "similarity_recall_audit")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # bucket equi-join, queries broadcast
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # exact baseline only


def test_dedup_lsh_recall_audit_gram_blocked_truth(spark):
    # ground truth must be gram-BLOCKED (equi-join on the gram), never
    # an all-pairs document cross; the final 1-row summary crosses are
    # broadcast by construction
    plan = plan_of(spark, "dedup_lsh_recall_audit")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan  # gram join


def test_dedup_substring_spans_no_fanout_join_no_python(spark):
    # the Lee-et-al span profile: gram extraction is in-row (zero
    # Python nodes), the df-gate flag join is an equi-join (never a
    # cartesian), and the per-gram build side has one row per key so
    # join output == probe input — no pair enumeration anywhere
    plan = plan_of(spark, "dedup_substring_spans")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan
    # equi-joins only; the strategy (broadcast at tiny SF, shuffle at
    # scale) is Catalyst's call — the pin is "never a pair cross"
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )


def test_token_budget_single_exchange(spark):
    # the running-sum window shuffles on source once; the accounting
    # groupBy reuses that hash partitioning — any second Exchange means
    # Catalyst stopped recognizing the shared partitioning
    plan = plan_of(spark, "curation_token_budget")
    assert plan.count("Exchange hashpartitioning(source") == 1
    assert "CartesianProduct" not in plan


def test_media_pipeline_payloads_never_shuffled(spark):
    # the media capstone: synth → decode chain with no Exchange between
    # the Python stages (payload bytes never cross the wire), and the
    # whole post-decode pipeline costs exactly two narrow-row shuffles
    # (content-hash dedup window + shape-class packing window; the
    # manifest groupBy reuses the packing partitioning)
    plan = plan_of(spark, "pipeline_media_to_shards")
    parts = plan.split("MapInPandas")
    assert len(parts) - 1 == 2
    assert all("Exchange hashpartitioning" not in p for p in parts[1:])
    assert plan.count("Exchange hashpartitioning") == 2


def test_skyline_no_dominance_self_join(spark):
    # the skyline must compile to the bucket-SFS shape: broadcast
    # joins only — never the O(n^2) dominance self-join the oracle
    # spec uses (no cartesian, no sort-merge theta join)
    plan = plan_of(spark, "skyline_pareto_front")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 1


def test_trajectory_topk_heap_not_global_sort(spark):
    # top-10 trajectory pairs must compile to TakeOrderedAndProject;
    # candidates come from the df-gated shingle join — no all-pairs
    # user join shape anywhere
    plan = plan_of(spark, "trajectory_topk_similarity")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bloom_prefilter_probe_is_mapside(spark):
    # the explicit bloom probe must be a map-side Filter on the big
    # side (element_at/shiftright against the broadcast 1-row bitset)
    # BEFORE the exact join — the probe side contributes zero
    # exchanges beyond the final aggregation, and the bloom build's
    # only shuffles are on the tiny filtered build side
    plan = plan_of(spark, "join_bloom_prefilter")
    assert "shiftright(element_at(bits" in plan
    assert "CartesianProduct" not in plan
    # exact verify stays a broadcast join; the probe scan is never
    # shuffled before the partial aggregation
    assert "BroadcastHashJoin" in plan
    # between the bitset cross-join and the orders scan: only the
    # pushed filter — no shuffle touches the probe side pre-join
    probe_section = plan.split("BroadcastNestedLoopJoin")[1].split("FileScan")[0]
    assert "Exchange" not in probe_section
    # whole query: exactly 2 hash exchanges — the build side's word
    # groupBy and the final partial-aggregated groupBy (probe side
    # contributes none of its own)
    assert plan.count("Exchange hashpartitioning") == 2


def test_snapshot_diff_expands_only_dirty_buckets(spark):
    # phase-3 row recovery must be gated by a broadcast SEMI join on
    # the dirty-bucket list (both sides), and the summaries must carry
    # all three fingerprints (count / bit_xor / exact decimal sum)
    plan = plan_of(spark, "snapshot_diff_bucketed")
    assert plan.count("LeftSemi") >= 2
    assert "bit_xor" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mad_histogram_reduces_corpus_before_windows(spark):
    # the holistic median/MAD must be computed from the (group, cents)
    # histogram: corpus-side partial aggregation present, events scan
    # pruned to exactly the two needed columns, and NO native sort-based
    # holistic aggregate (percentile/median) anywhere — the windows run
    # over the domain-bounded hist, never the raw corpus
    plan = plan_of(spark, "stats_mad_histogram")
    assert "partial_count(1)" in plan
    scans = [s for s in plan.split("FileScan parquet ")[1:] if "events.parquet" in s]
    assert scans
    assert all(
        "ReadSchema: struct<event_type:string,value:double>" in s for s in scans
    )
    assert "percentile" not in plan
    assert "median" not in plan


def test_phrase_search_joins_postings_not_corpus(spark):
    # the term filters must apply in the same stage as the Generate
    # (only the two phrase terms' postings reach the join), and the
    # adjacency join is an equi-join — never a cartesian/NL shape
    plan = plan_of(spark, "text_phrase_search")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # postings filter visible between Generate and the join
    assert "term#" in plan and ("= table" in plan or "(term#" in plan)


def test_analyze_stats_is_one_scan_with_expand(spark):
    # four exact count-distincts in one aggregate: lineitem scanned
    # ONCE, Expand fans the rows per distinct column (the oracle scans
    # four times — agreement cross-checks the rewrite)
    plan = formatted(spark, "table_analyze_stats")
    assert plan.count("lineitem.parquet") == 1
    raw = plan_of(spark, "table_analyze_stats")
    assert "Expand" in raw


def test_ohlc_bars_is_one_combined_aggregate_not_window(spark):
    # min_by/max_by champions build in ONE map-side-combined groupBy:
    # partial champions BELOW the single exchange (the shuffle moves
    # one champion per group per map partition, never the events), and
    # no Window/time-sort anywhere (the row_number formulation would
    # shuffle every event to its group and sort by ts inside it)
    plan = plan_of(spark, "timeseries_ohlc_bars")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" not in plan
    assert "partial_min_by" in plan and "partial_max_by" in plan
    below = plan.split("Exchange hashpartitioning")[1]
    assert "partial_min_by" in below
    # the only sorts are group-key run sorts for SortAggregate — never
    # a sort keyed by the time/tiebreak column
    assert "Sort [sk#" not in plan and "sk# ASC" not in plan


def test_lpa_iterations_read_checkpoints_not_lsh_pipeline(spark):
    # each LPA iteration must consume the localCheckpoint'ed edge/state
    # RDDs — the executed plan of the returned frame contains Scan
    # ExistingRDD nodes and does NOT re-embed the minhash/LSH pipeline
    # (no posexplode/Generate, no documents scan)
    plan = plan_of(spark, "graph_label_propagation")
    assert "ExistingRDD" in plan
    assert "documents.parquet" not in plan
    assert "Generate" not in plan
    assert "CartesianProduct" not in plan


def test_streaks_distinct_reduces_before_window(spark):
    # the corpus must reduce via the map-side-combined DISTINCT before
    # the per-supplier window: partial aggregate below the first
    # exchange, and the window partitions by the high-cardinality
    # supplier key (never a SinglePartition sort)
    plan = plan_of(spark, "supplier_shipping_streaks")
    assert "SinglePartition" not in plan
    assert "partial" in plan  # map-side combine on the distinct
    assert "HashAggregate(keys=[l_suppkey" in plan
    assert "Window" in plan


def test_bloom_prescreen_guards_the_semi_join(spark):
    # the bloom membership test must sit on the batch side BEFORE the
    # exact index LeftSemi — bands are shed map-side, and the exact
    # semi-join still runs (FP removal), so results can't depend on
    # the bloom
    plan = plan_of(spark, "dedup_bloom_prescreen")
    assert "shiftright(element_at(bits" in plan
    assert "LeftSemi" in plan
    probe_section = plan.split("LeftSemi")[0]
    assert "shiftright(element_at(bits" in probe_section
    assert "CartesianProduct" not in plan


def test_bitemporal_filters_push_before_window(spark):
    # both time-axis predicates must reach the scan as data filters
    # (partition pruning at scale); the window runs on survivors only
    plan = formatted(spark, "scd2_bitemporal_asof")
    # the valid_from axis pushes to the scan (Catalyst even rewrites
    # to_date(ts) <= date into a timestamp range predicate); the
    # recorded_at axis is a computed column, filtered in the same
    # codegen stage pre-shuffle
    pushed = plan.split("PushedFilters")[1][:400]
    assert "LessThan(o_orderdate" in pushed  # 1998-01-02 bound
    raw = plan_of(spark, "scd2_bitemporal_asof")
    assert "SinglePartition" not in raw
    # rn = 1 compiles to WindowGroupLimit — per-partition top-1
    # pre-aggregation before the window shuffle
    assert "WindowGroupLimit" in raw


def test_png_thumbnail_payload_chain_has_no_shuffle(spark):
    # synth → resize → featurize are chained mapInPandas stages: image
    # payloads must never cross an Exchange (only the range sort of the
    # 8-byte ids below the chain shuffles)
    plan = plan_of(spark, "multimodal_png_thumbnail")
    assert plan.count("MapInPandas") == 3
    # the only Exchange in the whole plan is the range partitioning
    # of the ids sorted below the chain
    assert plan.count("Exchange") == 1
    assert "rangepartitioning" in plan


def test_embeddings_capstone_flags_without_pair_dump(spark):
    # the near-dup stage must end in a LeftSemi flag (no K² pair
    # output), the gate must run map-side (no exchange before the
    # canonicalize groupBy beyond fan_out's round-robin), and no
    # cartesian/NL anywhere
    plan = plan_of(spark, "pipeline_embeddings_curation")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the canonicalize groupBy(embedding) is materialized ONCE as a
    # checkpoint (round 15: four consumers read canon — per-label
    # count, both near-dup join sides, the flagged semi-join; without
    # the checkpoint each re-executed the gated scan + aggregate
    # chain). The final plan must read the checkpoint artifact and
    # must NOT re-run the embedding aggregate inside it.
    assert "Scan ExistingRDD" in plan
    assert "HashAggregate(keys=[embedding" not in plan


def test_spatial_neighbor_join_is_equi_not_cross(spark):
    # the grid join must compile to an equi-join on the cell keys with
    # the x9 Generate on the SMALL side — never the oracle's theta
    # cross product
    plan = plan_of(spark, "spatial_grid_neighbor_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert plan.count("Generate explode") == 2  # dx and dy on supplier side only


def test_spatial_nearest_guarded_two_phase(spark):
    # phase 1 is the cell equi-join (no cartesian); phase 2's brute
    # force runs ONLY on the anti-joined remainder against the
    # broadcast dim (BroadcastNestedLoopJoin is the explicit, intended
    # small-dim shape there — never CartesianProduct)
    plan = plan_of(spark, "spatial_nearest_supplier")
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the explicit fallback
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_wav_resample_payload_chain_has_no_shuffle(spark):
    # same discipline as the image thumbnail: three chained
    # mapInPandas stages, the only Exchange is the range sort of the
    # ids below the chain
    plan = plan_of(spark, "multimodal_wav_resample")
    assert plan.count("MapInPandas") == 3
    assert plan.count("Exchange") == 1
    assert "rangepartitioning" in plan


def test_y4m_downsample_payload_chain_has_no_shuffle(spark):
    # video leg of the resize triple: same 1-Exchange chained
    # mapInPandas discipline as image/audio
    plan = plan_of(spark, "multimodal_y4m_downsample")
    assert plan.count("MapInPandas") == 3
    assert plan.count("Exchange") == 1


def test_rollup_maintenance_merges_delta_not_recompute(spark):
    # incremental view maintenance: exactly TWO grouping-sets branches
    # (the stored-rollup build + the signed changelog delta) merged by
    # one null-safe full-outer join — no third Expand means the
    # maintained result is NEVER recomputed from the applied corpus
    plan = plan_of(spark, "rollup_incremental_maintenance")
    assert plan.count("Expand") == 2
    assert "FullOuter" in plan
    # the delta branch scans only changelog rows (both fixture
    # predicates reach the scan as data filters, so the delta
    # exchange is changelog-sized, not corpus-sized)
    assert "% 17" in plan and "% 10" in plan
    # scans prune to the 4 columns the rollup needs
    assert "payload" not in plan and "user_id" not in plan


def test_image_phash_payloads_stay_in_stage_no_all_pairs(spark):
    # perceptual image dedup, round-9 flood-proof formulation: the
    # encode→decode→dHash chain is one mapInPandas pipeline (pixels
    # never shuffle — no Exchange carries the payload column) and is
    # referenced exactly ONCE (the old band self-join evaluated it
    # per join side); candidates come from the routed-subgroup bucket
    # expansion — NO join operator of any kind exists in the plan, so
    # an identical-logo flood cannot go O(n²)
    import re

    plan = plan_of(spark, "dedup_image_phash")
    assert plan.count("MapInPandas") == 2  # encode + dhash, once each
    for node in ("CartesianProduct", "SortMergeJoin", "ShuffledHashJoin",
                 "BroadcastHashJoin", "BroadcastNestedLoopJoin"):
        assert node not in plan, node
    assert plan.count("Window") == 1  # the bucket-size/keeper annotate
    for m in re.finditer(r"Exchange [^\n]*", plan):
        assert "payload" not in m.group(0), m.group(0)


def _near_dup_pairs(spark, op):
    """(signature frame, pair frame, bucket key) for one of the three
    near-dup operators built on ``dedup.routed_bucket_pairs``."""
    from pyspark.sql import functions as F

    from datafusion_functions_variant_spark.operators import dedup, phash
    from datafusion_functions_variant_spark.sources.tables import load_table

    if op == "dhash":
        sigs = spark.range(64).select(
            F.col("id").alias("asset_id"),
            *[((F.col("id") % 7) + k).cast("int").alias(f"band{k}") for k in range(4)],
        )
        return sigs, phash.neardup_pairs(sigs, "asset_id"), ["bi", "bv"]
    docs = load_table(spark, SF, "documents")
    if op == "minhash":
        sigs = dedup.minhash_signatures(docs, "text", "doc_id")
        pairs = dedup.lsh_candidate_pairs(sigs, "doc_id", num_hashes=8, bands=2)
        return sigs, pairs, ["band_id", "band_hash"]
    sigs = dedup.simhash_signatures(docs, "text", "doc_id")
    pairs = dedup.simhash_near_pairs(sigs, "doc_id", max_hamming=4, max_bucket=4096)
    return sigs, pairs, ["chunk_id", "chunk_val"]


@pytest.mark.parametrize("op", ["minhash", "simhash", "dhash"])
def test_routed_bucket_pairs_share_one_bucket_exchange(spark, op):
    # bounded-state pin for dedup.routed_bucket_pairs under each of its
    # three operators: the window that annotates bucket size/keeper and
    # the routed-subgroup aggregate share ONE hash exchange on the
    # bucket key (the groupBy's clustering is a superset of the
    # window's partitioning, so no second shuffle may appear), and no
    # join node exists — the overflow path emits star pairs from
    # single-member subgroups, never from a per-bucket id array
    import re

    sigs, pairs, key = _near_dup_pairs(spark, op)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    exchanged = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    on_key = [
        e for e in exchanged
        if [c.split("#")[0] for c in e.split(", ")[:-1]] == key
    ]
    assert len(on_key) == 1, plan
    # the subgroup aggregate (bucket key + _sub) reuses that exchange
    assert not any("_sub" in e for e in exchanged), plan
    assert plan.count("Window") == 1
    for node in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"):
        assert node not in plan, node
    if op == "minhash":
        # exactly 2 exchanges beyond whatever the signature stage needs:
        # the band-key window (shared with the subgroup aggregate) and
        # the final pair-count groupBy
        base = sigs._jdf.queryExecution().executedPlan().toString().count(
            "Exchange hashpartitioning"
        )
        assert plan.count("Exchange hashpartitioning") == base + 2, plan


def test_aqe_skew_join_split_engages_at_runtime(spark):
    """Runtime proof (not just a pre-flight) that Spark's AQE skew-join
    splitting engages on a hot-key corpus: a deterministic 80%-one-key
    fact side sort-merge-joined under production-shape AQE settings
    (thresholds scaled down to local[32] data volumes — at cluster
    scale the defaults play the same role) must finalize with
    SortMergeJoin(skew=true) and a skewed AQEShuffleRead. This is the
    automatic complement to the manual salting fallback pinned by
    `skew_salted_join` (used when a side is broadcast-ineligible)."""
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "65536",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in tuned}
    for k, v in tuned.items():
        spark.conf.set(k, v)
    try:
        big = spark.range(0, 400_000).select(
            F.when(F.col("id") % 10 < 8, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.concat(F.lit("payload_"), F.col("id").cast("string")).alias("p"),
        )
        small = spark.range(0, 50_000).select(
            F.col("id").alias("k"), F.col("id").alias("v")
        )
        j = big.join(small, "k").agg(F.count(F.lit(1)).alias("n"))
        [row] = j.collect()  # execution finalizes the adaptive plan
        # hot key 0: 320k fact rows x 1 dim row; organic: ids < 50k
        # with id % 10 in {8, 9} -> 10k one-to-one matches
        assert row["n"] == 320_000 + 10_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
        assert "skewed" in plan  # AQEShuffleRead split the hot partition
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_rollup_rewrite_adds_no_corpus_scan(spark):
    # the continuous-aggregate READ path answers from the maintained
    # rollup's (day) grouping set: exactly the maintenance plan's two
    # corpus scans and two grouping-sets branches — the rewrite itself
    # contributes no additional scan or aggregation
    plan = plan_of(spark, "rollup_rewrite_answering")
    assert plan.count("FileScan") == 2
    assert plan.count("Expand") == 2


def test_expectations_fuse_rules_into_per_table_scans(spark):
    # data-contract battery: all same-table rules share ONE fused
    # conditional-count aggregate — orders is scanned exactly twice
    # (fused agg + FK anti-join probe), lineitem/events/customer once
    # for their rule groups (customer twice: rule agg + FK dim side)
    plan = plan_of(spark, "quality_expectations_report")
    assert plan.count("orders.parquet") == 2
    assert plan.count("lineitem.parquet") == 1
    assert plan.count("events.parquet") == 1
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# Size-aware streaming history probes (verdict r9 #1): past the
# broadcast threshold the history side of every ingest probe must be a
# bucketed in-place index scan, never a BroadcastExchange — the probes
# must survive a history that exceeds executor memory. These pins read
# the EXECUTED micro-batch plan (core.LAST_EXECUTED_PLAN), not a batch
# reconstruction.
# ---------------------------------------------------------------------------


def _stream_plan(spark, name: str) -> str:
    from datafusion_functions_variant_spark.streaming import core

    REGISTRY[name].build(spark, SF)
    plan = core.LAST_EXECUTED_PLAN[0]
    assert plan, "no executed streaming plan captured"
    return plan


def test_stream_dedup_scale_path_no_history_broadcast(spark):
    plan = _stream_plan(spark, "stream_dedup_against_corpus_indexed")
    # the fingerprint history must never broadcast on the forced scale
    # path; the anti-join reads the bucketed index in place and only
    # the arriving batch shuffles
    assert "BroadcastHashJoin" not in plan
    assert "SortMergeJoin" in plan and "LeftAnti" in plan
    assert "hist_dedup_content_idx" in plan
    assert "SelectedBucketsCount" in plan
    # the bloom bitset is built ONCE at index-build time; a bit_or
    # aggregate inside the micro-batch plan would mean every batch
    # re-scans the whole index to rebuild it
    assert "bit_or" not in plan


def test_stream_neardup_scale_path_bucketed_probe(spark):
    plan = _stream_plan(spark, "stream_neardup_at_ingest_indexed")
    assert "BroadcastHashJoin" not in plan
    assert "hist_neardup_band_idx" in plan
    assert plan.count("SelectedBucketsCount") >= 2  # both band joins in place
    assert "bit_or" not in plan


def test_stream_funnel_scale_path_bucketed_probes_single_pass(spark):
    plan = _stream_plan(spark, "stream_ingest_funnel_indexed")
    assert "BroadcastHashJoin" not in plan
    assert "hist_funnel_prefix_idx" in plan
    assert "hist_funnel_band_idx" in plan
    # single-pass bloom gating: bloom-cleared keys become salted
    # sentinels instead of a second union branch that would re-scan
    # the source and re-run the feature pipeline
    assert "Union" not in plan
    assert "bit_or" not in plan


def test_stream_dedup_scale_path_single_scan(spark):
    plan = _stream_plan(spark, "stream_dedup_against_corpus_indexed")
    assert "Union" not in plan  # same single-pass discipline
    # the arriving batch is scanned once per plan section (the
    # executed plan prints Final + Initial, so ≤2 total)
    assert plan.count("documents.parquet") <= 2


def test_stream_history_small_path_still_broadcasts(spark):
    # the other half of the size-aware contract: below the threshold
    # the history ships as a broadcast hash join (optimal at test SF)
    # and no bucketed index is referenced
    plan = _stream_plan(spark, "stream_dedup_against_corpus")
    assert "BroadcastHashJoin" in plan
    assert "hist_dedup_content_idx" not in plan


@pytest.mark.parametrize(
    "name,table",
    [
        ("stream_dedup_index_update", "stream_upd_hash_idx"),
        ("stream_dedup_index_update_tiered", "stream_tiered_hash_idx"),
    ],
    ids=["stream_dedup_index_update", "stream_dedup_index_update_tiered"],
)
def test_stream_index_update_bloom_ahead_of_smj(spark, name, table):
    # r11: the self-updating ingest index capstone probes through
    # streaming/history.py — the per-batch verdict plan must show the
    # map-side Bloom prescreen (member bits feeding the salted-
    # sentinel probe key) AHEAD of a merge SMJ that reads the bucketed
    # index in place. Captured from the batch that actually ran inside
    # foreachBatch (core.LAST_INGEST_PLAN); the tiered cell's index
    # has been through promotions by then.
    from datafusion_functions_variant_spark.streaming import core

    REGISTRY[name].build(spark, SF)
    plan = core.LAST_INGEST_PLAN[0]
    assert plan, "no ingest probe plan captured"
    assert "SortMergeJoin" in plan and "LeftOuter" in plan
    # the index side never broadcasts and is read bucket-in-place
    assert "BroadcastHashJoin" not in plan
    assert table in plan
    assert "SelectedBucketsCount" in plan
    # bloom membership runs map-side in the probe-key projection
    # (shiftright/element_at over the broadcast bits words)
    assert "shiftright" in plan and "element_at" in plan
    # the bitset is maintained incrementally — a bit_or aggregate in
    # the batch plan would mean the whole index is re-scanned per batch
    assert "bit_or" not in plan


@pytest.mark.parametrize(
    "name,table",
    [
        ("stream_dedup_index_restart", "stream_restart_hash_idx"),
        ("stream_dedup_index_restart_tiered", "stream_trestart_hash_idx"),
    ],
    ids=["stream_dedup_index_restart", "stream_dedup_index_restart_tiered"],
)
def test_stream_index_restart_recovered_probe_plan(spark, name, table):
    """The restart capstone's LAST captured batch plan is batch 2 —
    probed by the attach()-RECOVERED index: the re-registered external
    tables must still be read bucket-in-place (no Exchange under them,
    no broadcast), and the REBUILT bitset must still prescreen
    map-side. Recovery changing the probe topology would be a silent
    100 TB regression the answer hash can't see."""
    from datafusion_functions_variant_spark.streaming import core

    REGISTRY[name].build(spark, SF)
    plan = core.LAST_INGEST_PLAN[0]
    assert plan, "no ingest probe plan captured"
    assert "SortMergeJoin" in plan and "LeftOuter" in plan
    assert "BroadcastHashJoin" not in plan
    assert table in plan
    assert "SelectedBucketsCount" in plan
    assert "shiftright" in plan and "element_at" in plan
    assert "bit_or" not in plan


def test_shredded_multikey_partition_and_pushed_filters(spark):
    # round 15 (r14 verdict optional #7): TWO write-time-shredded key
    # paths, BOTH pruning at the scan — $.lang landed as a hive
    # partition column (the language slice never lists the other
    # languages' files) and $.body.text as a typed column whose guard
    # is a native parquet PushedFilter; the envelope residual never
    # enters the ReadSchema
    plan = formatted(spark, "variant_shredded_multikey")
    scan = plan.split("Scan parquet")[-1].split("(2)")[0]
    part = scan.split("PartitionFilters")[-1].split("\n")[0]
    assert "lang_s" in part and "IN (en,de)" in part, part
    pushed = scan.split("PushedFilters")[-1].split("\n")[0]
    assert "IsNotNull(body_text)" in pushed, pushed
    schema = scan.split("ReadSchema")[-1][:200]
    assert "body_text" in schema
    assert "_residual" not in schema and "doc_id" not in schema


def test_stage_boundary_local_and_reliable_paths(spark, tmp_path):
    """Round 16 (VERDICT r15 #5): the r15 materialization sites ride
    ``stage_boundary`` — localCheckpoint by default (plan unchanged
    locally: an ExistingRDD scan), and a RELIABLE ``checkpoint`` when
    ``spark.graft.checkpoint.reliable=true`` (executor-loss-safe at
    cluster scale; files land under the session checkpoint dir)."""
    import os

    from datafusion_functions_variant_spark.plans.session import (
        CHECKPOINT_RELIABLE_CONF,
        stage_boundary,
    )

    df = spark.range(100).selectExpr("id", "id * 2 AS y")

    local = stage_boundary(df)
    assert local.count() == 100
    assert "ExistingRDD" in local._jdf.queryExecution().executedPlan().toString()

    ckdir = str(tmp_path / "ck")
    spark.sparkContext.setCheckpointDir(ckdir)
    spark.conf.set(CHECKPOINT_RELIABLE_CONF, "true")
    try:
        rel = stage_boundary(df)
        assert rel.count() == 100
        assert sorted(r.id for r in rel.collect()) == list(range(100))
        # the reliable path actually wrote checkpoint data
        found = []
        for root, _dirs, files in os.walk(ckdir):
            found.extend(files)
        assert found, "reliable checkpoint wrote nothing"
    finally:
        spark.conf.unset(CHECKPOINT_RELIABLE_CONF)


#: the ops of the ``native_ingest`` perfbench workload: together their
#: generated classes outnumber Spark's default cache of 100 entries
NATIVE_INGEST_OPS = (
    "variant_events_agg",
    "variant_get_typed",
    "variant_filter_pushdown",
    "variant_shredded_storage",
    "dedup_minhash_lsh",
)


def test_codegen_cache_holds_the_native_ops_working_set(spark):
    """``get_session`` sizes the generated-class cache (static conf
    ``spark.sql.codegen.cache.maxEntries``) to the working set: once the
    native ops have run in turn twice, a third sweep compiles nothing
    with Janino. At Spark's default of 100 the ops evict each other's
    classes and the third sweep recompiles."""
    codegen = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def sweep():
        for name in NATIVE_INGEST_OPS:
            REGISTRY[name].build(spark, SF).collect()

    sweep()
    sweep()
    before = codegen.METRIC_COMPILATION_TIME().getCount()
    sweep()
    assert codegen.METRIC_COMPILATION_TIME().getCount() == before
