"""Plan-shape guardrails: pushdown reaches the scan, metadata joins
broadcast, shuffle counts stay minimal, hot paths stay in codegen.
These are the properties that keep the engine viable at 100 TB — a
regression here is a performance bug even if results stay correct.
"""

import re

import pytest
from pyspark.sql import functions as F

from kafka_replicator_spark.operators.checkpoints import resume_filter
from kafka_replicator_spark.plans.explain import (
    broadcast_build_columns,
    count_exchanges,
    has_broadcast_join,
    has_wholestage_codegen,
    physical_plan,
    pushed_filters,
)
from kafka_replicator_spark.queries import all_queries
from kafka_replicator_spark.sources.tables import load_table

QUERIES = all_queries()


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = li.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    pf = pushed_filters(df)
    assert any("l_quantity" in f for f in pf), f"no pushdown: {pf}"


def test_column_pruning_reaches_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = li.select("l_orderkey", "l_quantity")
    plan = physical_plan(df)
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" not in read_schema, "scan reads unprojected columns"


def test_resume_filter_broadcasts_checkpoints(spark, messages):
    cps = spark.createDataFrame(
        [("r", "events", 0, 10, 0)],
        schema="region string, topic string, partition_id int, msg_offset long, ts_ns long",
    )
    assert has_broadcast_join(resume_filter(messages, cps))


def test_q5_star_join_broadcasts_dims(spark, sf_dir):
    df = QUERIES["a_q5_region_revenue"].fn(spark, sf_dir)
    assert has_broadcast_join(df)
    # fact table shuffles once for the final groupBy at most
    assert count_exchanges(df) <= 2, physical_plan(df)


def test_q1_single_shuffle(spark, sf_dir):
    df = QUERIES["a_q1_pricing_summary"].fn(spark, sf_dir)
    assert count_exchanges(df) == 1, "Q1 should shuffle exactly once (partial agg first)"
    assert has_wholestage_codegen(df)
    assert any("l_shipdate" in f for f in pushed_filters(df)), "date filter not pushed"


def test_minhash_shuffle_budget(spark, sf_dir):
    # shingle explode + one groupBy: a single shuffle, everything else
    # map-side.  Clear cached subtrees first — an InMemoryRelation left by
    # another query prints its internal exchange into this plan and would
    # make the count order-dependent.
    spark.catalog.clearCache()
    df = QUERIES["p_minhash_signatures"].fn(spark, sf_dir)
    assert count_exchanges(df) <= 1, physical_plan(df)


def test_simhash_shuffle_budget(spark, sf_dir):
    # token explode + ONE groupBy(doc_id) carrying 32 conditional sums —
    # the 32× bit fan-out flavor shuffled 32×|tokens| rows for the same
    # output.  Budget: spread repartition + the agg shuffle.
    spark.catalog.clearCache()
    df = QUERIES["p_simhash"].fn(spark, sf_dir)
    assert count_exchanges(df) <= 2, physical_plan(df)


def test_segment_plan_partial_aggregation(spark, sf_dir):
    df = QUERIES["r_t1_segment_plan"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "partial" in plan.lower(), "segment accumulation must map-side combine"


def test_message_projection_stays_codegen(spark, messages):
    assert has_wholestage_codegen(messages.select("topic", "partition_id", "msg_offset", "msg_size"))


def test_jaccard_join_is_hash_not_nested_loop(spark, sf_dir):
    plan = physical_plan(QUERIES["p_dedup_jaccard"].fn(spark, sf_dir), mode="simple")
    assert "NestedLoop" not in plan, "shingle self-join must be a hash join"


def test_cosine_topk_broadcasts_probes(spark, sf_dir):
    assert has_broadcast_join(QUERIES["p_cosine_topk"].fn(spark, sf_dir))


def test_range_join_is_equi_join_on_buckets(spark, sf_dir):
    plan = physical_plan(QUERIES["a_range_join"].fn(spark, sf_dir), mode="simple")
    assert "NestedLoop" not in plan, "bucketized range join must not nested-loop"


def test_chunking_stays_codegen(spark, sf_dir):
    assert has_wholestage_codegen(QUERIES["p_chunk_documents"].fn(spark, sf_dir))


def test_curation_ops_are_map_only(spark, sf_dir):
    """The curation stages (quality gate, PII scrub, sampling) must compile
    to zero-exchange map-only plans — at 100 TB they fuse into the scan."""
    for name in ("p_quality_rules", "p_pii_scrub", "p_stratified_sample"):
        df = QUERIES[name].fn(spark, sf_dir)
        assert count_exchanges(df) == 0, f"{name} shuffles: " + physical_plan(df)
        assert has_wholestage_codegen(df), f"{name} fell out of codegen"


def test_stratified_sample_prunes_scan(spark, sf_dir):
    """The sample's 3-column output must not drag the text column through
    the scan."""
    df = QUERIES["p_stratified_sample"].fn(spark, sf_dir)
    plan = physical_plan(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read_schema, "sample scan reads the text column"


def test_q4_semi_join_broadcast(spark, sf_dir):
    """Q4's EXISTS must compile to a broadcast left-semi join (orders-side
    date filter pushed), one shuffle for the priority aggregate."""
    df = QUERIES["a_q4_priority_lateness"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "LeftSemi" in plan
    assert has_broadcast_join(df)
    assert count_exchanges(df) == 1
    assert any("o_orderdate" in f for f in pushed_filters(df))


def test_q7_bination_broadcast_single_shuffle(spark, sf_dir):
    """Q7's five dimension joins all broadcast; the fact shuffles exactly
    once for the final group-by."""
    df = QUERIES["a_q7_bination_volume"].fn(spark, sf_dir)
    assert has_broadcast_join(df)
    assert count_exchanges(df) == 1, physical_plan(df)


def test_q19_or_bracket_pushes_single_side_residual(spark, sf_dir):
    """Catalyst must derive the lineitem-only residual of the OR-of-AND
    bracket (the l_quantity disjunction) and push it into the scan."""
    df = QUERIES["a_q19_bracket_scan"].fn(spark, sf_dir)
    assert any("l_quantity" in f for f in pushed_filters(df)), pushed_filters(df)
    assert count_exchanges(df) == 1


def test_new_aggregate_queries_single_shuffle(spark, sf_dir):
    """Funnel, quantiles and correlation are one-shuffle aggregations;
    Q8's seven-table star broadcasts every dim and shuffles once."""
    for name in ("a_funnel_steps", "a_quantiles", "a_correlation"):
        df = QUERIES[name].fn(spark, sf_dir)
        assert count_exchanges(df) == 1, f"{name}: " + physical_plan(df)
    q8 = QUERIES["a_q8_market_share"].fn(spark, sf_dir)
    assert has_broadcast_join(q8)
    assert count_exchanges(q8) == 1


def test_retention_cohort_shuffle_budget(spark, sf_dir):
    """Retention pays the cohort aggregate plus the distinct-count's
    two-phase expansion — 3 exchanges, no more (the cohort map broadcasts)."""
    df = QUERIES["a_retention_cohorts"].fn(spark, sf_dir)
    assert has_broadcast_join(df)
    assert count_exchanges(df) <= 3, physical_plan(df)


# ------------------------------------------------------ round-3 TPC-H suite

TPCH_R3_EXCHANGE_BUDGET = {
    # measured at sf0.001 with dims explicitly broadcast; budgets leave one
    # exchange of headroom for when the fixture outgrows auto-broadcast of
    # the orders side (AQE re-plans those joins at scale)
    "a_q17_small_qty_revenue": 3,
    "a_q21_waiting_suppliers": 4,
    "a_q13_order_count_histogram": 3,
    "a_q22_idle_balances": 3,
    "a_q2_min_cost_supplier": 3,
    "a_q9_product_profit": 3,
    "a_q11_important_stock": 3,
    "a_q12_ship_priority_classes": 2,
    "a_q15_top_supplier": 4,
    "a_q16_part_supplier_variety": 3,
    "a_q18_large_volume_customers": 3,
    "a_q20_excess_supply": 4,
}


@pytest.mark.parametrize("name", sorted(TPCH_R3_EXCHANGE_BUDGET))
def test_tpch_r3_plan_shape(spark, sf_dir, name):
    """Every round-3 TPC-H query broadcasts its dimension side(s), stays in
    whole-stage codegen, and keeps its shuffle count within budget."""
    spark.catalog.clearCache()
    df = QUERIES[name].fn(spark, sf_dir)
    assert has_broadcast_join(df), name
    assert has_wholestage_codegen(df), name
    assert count_exchanges(df) <= TPCH_R3_EXCHANGE_BUDGET[name], (
        f"{name}: " + physical_plan(df)
    )


def test_tpch_r3_date_filters_pushed(spark, sf_dir):
    """Q12/Q15/Q20's shipdate windows must reach the parquet scan."""
    for name in ("a_q12_ship_priority_classes", "a_q15_top_supplier", "a_q20_excess_supply"):
        df = QUERIES[name].fn(spark, sf_dir)
        assert any("l_shipdate" in f for f in pushed_filters(df)), name


def test_unigram_logprob_plan(spark, sf_dir):
    # vocab agg + token-key join + per-doc agg: bounded shuffles, total
    # broadcast (1-row), codegen end to end.
    spark.catalog.clearCache()
    df = QUERIES["p_unigram_logprob"].fn(spark, sf_dir)
    assert has_broadcast_join(df), "1-row total frame must broadcast"
    assert count_exchanges(df) <= 5, physical_plan(df)
    assert has_wholestage_codegen(df)


def test_prefix_dedup_plan(spark, sf_dir):
    # one range shuffle for the sort, partition-local windows, and a tiny
    # broadcast for the boundary stitch — NO global single-partition window.
    spark.catalog.clearCache()
    df = QUERIES["p_prefix_dedup"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert has_broadcast_join(df), "boundary bounds frame must broadcast"
    assert "rangepartitioning" in plan.lower(), plan
    # the only single-partition exchange allowed is the tiny bounds frame's
    # global window; the document-scale window must be pid-partitioned
    assert plan.count("SinglePartition") <= 1, plan


def test_quantized_topk_plan(spark, sf_dir):
    # probes broadcast against the quantized corpus — the corpus itself
    # never shuffles; scores stay integer (no float expression in the sort).
    spark.catalog.clearCache()
    df = QUERIES["p_quantized_topk"].fn(spark, sf_dir)
    assert has_broadcast_join(df), "probe side must broadcast"


def test_corpus_mix_plan(spark, sf_dir):
    # per-source windows after one source shuffle; the budgets dim joins
    # back broadcast.
    spark.catalog.clearCache()
    df = QUERIES["p_corpus_mix"].fn(spark, sf_dir)
    assert has_broadcast_join(df), "budget dim must broadcast"
    assert "SinglePartition" not in physical_plan(df).split("Project")[0], physical_plan(df)


def test_incremental_dedup_semi_joins_broadcast(spark, sf_dir):
    # both corpus indexes (content hashes, band keys) reach the incoming
    # side as broadcast left-semi joins — the incoming batch never shuffles
    # for the lookup.
    spark.catalog.clearCache()
    df = QUERIES["p_incremental_dedup"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "LeftSemi" in plan, plan
    assert has_broadcast_join(df)


def test_hll_register_path_two_shuffles(spark, sf_dir):
    # production sketch path: (group,bucket) partial-max, then group combine —
    # bounded state (256 registers/group) regardless of key cardinality
    from kafka_replicator_spark.functions.sketches import hll_estimate

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("event_id").cast("string").alias("eid")
    )
    df = hll_estimate(ev, F.col("eid"), ["event_type"])
    assert count_exchanges(df) == 2, physical_plan(df)
    assert has_wholestage_codegen(df)


def test_media_embed_topk_broadcasts_probes(spark, sf_dir):
    df = QUERIES["p_media_embed_topk"].fn(spark, sf_dir)
    assert has_broadcast_join(df)
    # probes broadcast + one window shuffle on probe_id; the corpus embedding
    # side never exchanges
    assert count_exchanges(df) <= 2, physical_plan(df)


def test_pps_sample_broadcasts_group_totals(spark, sf_dir):
    # per-group weight totals are metadata-scale: one agg shuffle, broadcast
    # back onto the fact side — the document scan itself never exchanges
    df = QUERIES["p_pps_sample"].fn(spark, sf_dir)
    assert has_broadcast_join(df)
    assert count_exchanges(df) <= 1, physical_plan(df)
    assert has_wholestage_codegen(df)


def test_dup_spans_shuffle_budget(spark, sf_dir):
    # explode → window-count on wh → per-doc rollup: the window frame moves
    # at most twice (plus the conditional spread() of a compact input)
    df = QUERIES["p_dup_spans"].fn(spark, sf_dir)
    assert count_exchanges(df) <= 3, physical_plan(df)


def test_kmv_overlap_pairwise_stage_is_sketch_scale(spark, sf_dir):
    # the pairwise estimator joins a sources×k sketch against the source
    # list — that join must broadcast, never shuffle the corpus
    df = QUERIES["p_kmv_overlap"].fn(spark, sf_dir)
    assert has_broadcast_join(df)


def test_oph_jaccard_readout_broadcasts_registers(spark, sf_dir):
    # registers are groups×64 rows — the pairwise readout joins them
    # broadcast; the corpus-scale shingle frame never reaches that join
    df = QUERIES["p_oph_jaccard"].fn(spark, sf_dir)
    assert has_broadcast_join(df)


def test_inverted_index_shuffle_budget(spark, sf_dir):
    # explode → (token, doc) tf agg → per-token rollup (+ conditional spread)
    df = QUERIES["p_inverted_index"].fn(spark, sf_dir)
    assert count_exchanges(df) <= 3, physical_plan(df)


def test_doc_repetition_single_shuffle(spark, sf_dir):
    # doc-hash pre-partitioning satisfies BOTH downstream groupBys (subset
    # rule): the exploded gram stream itself is never shuffled.
    spark.catalog.clearCache()
    df = QUERIES["p_doc_repetition"].fn(spark, sf_dir)
    assert count_exchanges(df) == 1, physical_plan(df)


def test_doc_entropy_single_shuffle(spark, sf_dir):
    spark.catalog.clearCache()
    df = QUERIES["p_doc_entropy"].fn(spark, sf_dir)
    assert count_exchanges(df) == 1, physical_plan(df)


def test_curriculum_buckets_plan(spark, sf_dir):
    # ONE range shuffle for the global order (cached), ranks from
    # monotonically_increasing_id — no Window operator, no pid re-shuffle,
    # no single-partition exchange; offsets broadcast.
    spark.catalog.clearCache()
    df = QUERIES["p_curriculum_buckets"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert has_broadcast_join(df), "per-partition offset frame must broadcast"
    assert "Window" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_quality_classifier_single_shuffle(spark, sf_dir):
    # hashed projection: no vocabulary join, one doc-keyed exchange total
    spark.catalog.clearCache()
    df = QUERIES["p_quality_classifier"].fn(spark, sf_dir)
    assert count_exchanges(df) == 1, physical_plan(df)


def test_temperature_mix_prefilter_precedes_window(spark, sf_dir):
    # The rank window must see the hash-prefiltered survivor frame
    # (~4·total_sample rows, cached during the exactness guard), NEVER the
    # raw corpus: the returned plan reads InMemoryTableScan only — no
    # parquet scan of documents, no SinglePartition funnel of the document
    # stream.  The broadcast quota join and the h < thr prefilter live
    # inside the cached frame, upstream of the window by construction.
    from kafka_replicator_spark.cacheutil import release_cached

    spark.catalog.clearCache()
    release_cached()
    df = QUERIES["p_temperature_mix"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "InMemoryTableScan" in plan, plan
    # explain() inlines the cached relation's own (already-materialized)
    # plan below the InMemoryTableScan node — only the section ABOVE it is
    # what the caller's action executes
    live = plan[: plan.index("InMemoryTableScan")]
    assert "Window" in live, plan
    assert "Scan parquet" not in live, f"window input must be the prefiltered cache\n{plan}"
    assert "SinglePartition" not in live, plan
    release_cached()


def test_knn_graph_block_join_no_cartesian(spark, sf_dir):
    df = QUERIES["p_knn_graph"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "Cartesian" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    # the rank window is keyed by vec_id — never a single-partition funnel
    assert "SinglePartition" not in plan, plan


def test_skyline_stitch_broadcasts_prefix(spark, sf_dir):
    from kafka_replicator_spark.cacheutil import release_cached

    spark.catalog.clearCache()
    release_cached()
    df = QUERIES["a_skyline_parts"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # the per-partition prefix maxima join must broadcast (metadata-scale)
    assert has_broadcast_join(df), plan
    # the running-max window is partitioned by spark_partition_id — the
    # global strict-prefix max arrives via the stitch, not a global window
    assert "SinglePartition, ENSURE_REQUIREMENTS" not in plan, plan
    release_cached()


def test_lang_confusion_totals_broadcast(spark, sf_dir):
    df = QUERIES["p_lang_confusion"].fn(spark, sf_dir)
    assert has_broadcast_join(df)


def test_decayed_value_single_fact_shuffle(spark, sf_dir):
    # max-ts totals ride a broadcast 1-row frame; the event stream itself
    # shuffles once (user groupBy) — the agg before it is partial
    df = QUERIES["a_decayed_value"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "Cartesian" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_epoch_plan_totals_broadcast(spark, sf_dir):
    df = QUERIES["p_epoch_plan"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastExchange" in plan, plan
    assert "Cartesian" not in plan, plan


def test_winnowing_is_map_only_after_spread(spark, sf_dir):
    # selection is per-document array math: no join, no window, no
    # aggregation exchange — the only exchange is the explode-parallelism
    # repartition (hashing.spread)
    df = QUERIES["p_winnowing"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "Window" not in plan and "Join" not in plan, plan
    # no hash/range/single-partition shuffle at all — only the round-robin
    # spread repartition (not counted: it carries no clustering contract)
    assert count_exchanges(df) == 0, plan


def test_cond_entropy_marginals_stay_vocab_sized(spark, sf_dir):
    # pair counts shuffle once on the bigram key; the left-marginal
    # aggregation and join run over the vocabulary-sized pair-count frame,
    # never the token stream
    df = QUERIES["p_cond_entropy"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "Cartesian" not in plan, plan
    assert count_exchanges(df) <= 4, plan


def test_nation_trade_balance_broadcasts_dims(spark, sf_dir):
    df = QUERIES["a_nation_trade_balance"].fn(spark, sf_dir)
    assert has_broadcast_join(df)


def test_time_seasonality_single_pass(spark, sf_dir):
    spark.catalog.clearCache()
    df = QUERIES["a_time_seasonality"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastExchange" in plan, plan
    # one event-stream aggregation shuffle + the 1-row total over the
    # cached 168-row cell frame (the cached relation's defining exchange
    # prints once per InMemoryTableScan reference, so the string count is
    # 3 even though the aggregation executes once)
    assert "InMemoryTableScan" in plan, plan
    assert count_exchanges(df) <= 3, plan


def test_bucketed_tables_join_without_shuffle(spark, sf_dir, tmp_path):
    # the 100 TB co-location story: two tables bucketed+sorted on the join
    # key join with ZERO exchanges — what pre-bucketed segment/checkpoint
    # storage buys on a real cluster (CLAUDE.md conventions; storage-level
    # analog of spread_by_key's in-query clustering contract)
    from kafka_replicator_spark.sources.tables import load_table

    spark.sql(f"CREATE DATABASE IF NOT EXISTS bkt LOCATION '{tmp_path}/warehouse'")
    try:
        orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
        (orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
               .mode("overwrite").saveAsTable("bkt.orders_b"))
        (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
             .mode("overwrite").saveAsTable("bkt.lineitem_b"))
        a = spark.table("bkt.orders_b")
        b = spark.table("bkt.lineitem_b")
        # the small-SF side would auto-broadcast and hide what bucketing
        # buys — disable the threshold so the plan shows the shuffle-join
        # path a 100 TB fact-fact join takes
        thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = a.join(b, a["o_orderkey"] == b["l_orderkey"]).groupBy(
                "o_orderkey"
            ).agg(F.sum("l_quantity").alias("q"))
            plan = physical_plan(joined, mode="simple")
            assert "SortMergeJoin" in plan, plan
            # bucketing satisfies the join AND the groupBy distribution:
            # the only acceptable exchange count is zero
            assert count_exchanges(joined) == 0, plan
            assert joined.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt.orders_b")
        spark.sql("DROP TABLE IF EXISTS bkt.lineitem_b")
        spark.sql("DROP DATABASE IF EXISTS bkt")


# ------------------------------------------------ staged-round families


def test_column_profile_single_pass(spark, sf_dir):
    # one scan, no join; the multi-distinct aggregation compiles to Spark's
    # Expand plan (one gid per distinct column) with partial aggregation
    # BEFORE each of its two exchanges — distinct-value-scale shuffles
    df = QUERIES["p_column_profile"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "Join" not in plan, plan
    assert count_exchanges(df) <= 2, plan


def test_fk_orphans_distinct_before_antijoin(spark, sf_dir):
    df = QUERIES["p_fk_integrity"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "Cartesian" not in plan, plan
    # anti joins present for the orphan probes
    assert "LeftAnti" in plan, plan


def test_autocorr_collapses_to_day_grain(spark, sf_dir):
    spark.catalog.clearCache()
    df = QUERIES["a_autocorr_daily"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # the lag self-join runs on the cached day-grain frame and broadcasts
    assert has_broadcast_join(df), plan
    assert "InMemoryTableScan" in plan, plan


def test_attribution_window_is_per_user(spark, sf_dir):
    df = QUERIES["a_attribution_last_touch"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "SinglePartition, ENSURE_REQUIREMENTS" not in plan, plan
    assert "Cartesian" not in plan, plan


def test_kneser_ney_topk_broadcasts_past_vocab(spark, sf_dir):
    df = QUERIES["p_kneser_ney"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # the k-row top frame broadcasts against the vocab-scale stats frames
    assert has_broadcast_join(df), plan
    # distributed TakeOrdered, not a global sort
    assert "TakeOrderedAndProject" in plan, plan
    assert "Cartesian" not in plan, plan


def test_triangle_census_no_cartesian_no_global_window(spark, sf_dir):
    spark.catalog.clearCache()
    df = QUERIES["p_triangle_census"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # every join keys on an edge endpoint (wedge/closing joins) — a
    # cartesian here would be the O(n^2) failure mode at scale; the only
    # windows are the kNN edge builder's per-vector rank (keyed), and the
    # scalar aggregates legitimately funnel 1-row partials
    assert "CartesianProduct" not in plan, plan


def test_embedding_covariance_joins_on_vec_key(spark, sf_dir):
    spark.catalog.clearCache()
    df = QUERIES["p_embedding_covariance"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    # diagonal moments ride broadcast frames
    assert has_broadcast_join(df), plan


def test_per_source_sample_prefilter_precedes_window(spark, sf_dir):
    # same contract as p_temperature_mix: the rank window reads the cached
    # hash-prefiltered survivor frame, never the raw document stream
    from kafka_replicator_spark.cacheutil import release_cached

    spark.catalog.clearCache()
    release_cached()
    df = QUERIES["p_per_source_sample"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "InMemoryTableScan" in plan, plan
    release_cached()


def test_histogram_quantiles_window_is_bucket_bounded(spark, sf_dir):
    spark.catalog.clearCache()
    df = QUERIES["p_histogram_quantiles"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # the raw value stream reaches only min/max + bucket aggregations; the
    # cumulative window runs AFTER the B-row histogram collapse
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    # hive-partitioned layout + a partition-column filter must prune at
    # planning time: the scan's file index shows a partition filter and the
    # non-matching directories never appear in the plan's location count
    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "docs_by_lang")
    docs.write.partitionBy("lang").mode("overwrite").parquet(out)
    langs = [r.lang for r in docs.select("lang").distinct().collect()]
    back = spark.read.parquet(out).filter(F.col("lang") == langs[0])
    plan = physical_plan(back)
    assert "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters")[1].splitlines()[0], plan
    got = back.count()
    exp = docs.filter(F.col("lang") == langs[0]).count()
    assert got == exp


def test_bm25_topk_is_takeordered(spark, sf_dir):
    spark.catalog.clearCache()
    df = QUERIES["p_bm25_scores"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert has_broadcast_join(df), plan
    assert "CartesianProduct" not in plan, plan


def test_length_drift_pairs_join_on_grid(spark, sf_dir):
    spark.catalog.clearCache()
    df = QUERIES["p_length_drift"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # the source-pair comparison joins on the 32-row grid key, never a
    # cartesian across sources
    assert "CartesianProduct" not in plan, plan
    assert has_broadcast_join(df), plan


def test_weighted_median_reads_cached_range_placement(spark, sf_dir):
    from kafka_replicator_spark.cacheutil import release_cached

    spark.catalog.clearCache()
    release_cached()
    df = QUERIES["a_weighted_median_price"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # the stitch contract: the plan reads the cached tagged frame (same
    # range placement the prefix observed), prefix rides a broadcast join
    assert "InMemoryTableScan" in plan, plan
    assert has_broadcast_join(df), plan
    release_cached()


def test_auc_stitch_no_global_window(spark, sf_dir):
    from kafka_replicator_spark.cacheutil import release_cached

    spark.catalog.clearCache()
    release_cached()
    df = QUERIES["p_auc_quality"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # the strictly-below prefix must come from the range-partition stitch
    # (cached tagged frame + broadcast offsets), NEVER a single-partition
    # global window over distinct scores: every window spec must be keyed
    # by the stitch partition id (the final 1-row aggregate's
    # SinglePartition exchange is legitimate and ignored)
    for frag in plan.split("windowspecdefinition(")[1:]:
        assert frag.startswith("__pid"), frag[:120]
    assert "InMemoryTableScan" in plan, plan
    assert has_broadcast_join(df), plan
    release_cached()


def test_rrf_fusion_joins_topk_frames_only(spark, sf_dir):
    spark.catalog.clearCache()
    df = QUERIES["p_rrf_fusion"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # both input rankings end in TakeOrdered before the fusion join — the
    # corpus never reshuffles for the fusion stage
    assert plan.count("TakeOrderedAndProject") >= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_dup_span_extents_windows_partition_by_doc(spark, sf_dir):
    spark.catalog.clearCache()
    df = QUERIES["p_dup_span_extents"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # islands/lag windows must be keyed by doc_id (the wh occurrence count
    # is the only corpus-wide window, keyed by the hash itself)
    for frag in plan.split("Window [")[1:]:
        spec = frag.split("\n", 1)[0][:300]
        assert ("doc_id" in spec) or ("wh" in spec), spec


def test_top_ngrams_no_global_window(spark, sf_dir):
    spark.catalog.clearCache()
    df = QUERIES["p_top_ngrams"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # the vocabulary-scale top-k cut is a distributed TakeOrdered — there
    # must be NO single-partition Window over the full bigram-DF frame
    assert "Window [" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_cms_heavy_hitters_no_global_window(spark, sf_dir):
    spark.catalog.clearCache()
    df = QUERIES["p_cms_heavy_hitters"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # the token-count top-20 cut is a distributed TakeOrdered — there must
    # be NO single-partition Window over the vocabulary-scale count frame
    assert "Window [" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_trimmed_mean_rides_the_stitch(spark, sf_dir):
    from kafka_replicator_spark.cacheutil import release_cached

    spark.catalog.clearCache()
    release_cached()
    df = QUERIES["a_trimmed_mean_price"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # the global rank comes from the range-partition stitch: every window
    # spec keyed by the stitch partition id, prefix offsets broadcast —
    # never a single-partition row_number over the fact table
    for frag in plan.split("windowspecdefinition(")[1:]:
        assert frag.startswith("__pid"), frag[:120]
    assert "InMemoryTableScan" in plan, plan
    assert has_broadcast_join(df), plan
    release_cached()


def test_quota_sample_window_keyed_by_cell(spark, sf_dir):
    spark.catalog.clearCache()
    df = QUERIES["p_quota_sample"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # the rank window must be keyed by the (source, lang) cell
    frags = plan.split("windowspecdefinition(")[1:]
    assert frags, plan
    for frag in frags:
        assert frag.startswith("source"), frag[:120]


def test_jl_distortion_broadcasts_sign_matrix(spark, sf_dir):
    spark.catalog.clearCache()
    df = QUERIES["p_jl_distortion"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert has_broadcast_join(df), plan
    assert "CartesianProduct" not in plan, plan


def test_theil_sen_pairs_at_day_grain(spark, sf_dir):
    from kafka_replicator_spark.cacheutil import release_cached

    spark.catalog.clearCache()
    release_cached()
    df = QUERIES["a_theil_sen_trend"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # the pairwise-slope join reads the CACHED day-grain frame on both
    # sides (orders are never self-joined at row grain)
    assert "InMemoryTableScan" in plan, plan
    release_cached()


def test_pareto_threshold_broadcasts(spark, sf_dir):
    from kafka_replicator_spark.cacheutil import release_cached

    spark.catalog.clearCache()
    release_cached()
    df = QUERIES["a_pareto_top_quartile"].fn(spark, sf_dir)
    assert has_broadcast_join(df)
    release_cached()


def test_sorted_neighborhood_no_cartesian(spark, sf_dir):
    from kafka_replicator_spark.cacheutil import release_cached

    spark.catalog.clearCache()
    release_cached()
    df = QUERIES["p_sorted_neighborhood"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # neighbor candidates come from an EQUI join on rank+d, the verify from
    # the shingle-hash equi join — never a cartesian or range join
    assert "CartesianProduct" not in plan, plan
    # the global rank comes from the cached range-placed frame + broadcast
    # offsets (the curriculum/stitch pattern)
    assert "InMemoryTableScan" in plan, plan
    assert has_broadcast_join(df), plan
    release_cached()


def test_semantic_dedup_sweep_cluster_confined(spark, sf_dir):
    from kafka_replicator_spark.cacheutil import release_cached

    spark.catalog.clearCache()
    release_cached()
    df = QUERIES["p_semantic_dedup_sweep"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # the pair stage joins on centroid_id (cluster-confined); the only
    # broadcast-cross product is the 3-row threshold frame
    assert "CartesianProduct" not in plan, plan
    assert has_broadcast_join(df), plan
    release_cached()


def test_nation_share_drift_broadcasts_dims(spark, sf_dir):
    from kafka_replicator_spark.cacheutil import release_cached

    spark.catalog.clearCache()
    release_cached()
    df = QUERIES["a_nation_share_drift"].fn(spark, sf_dir)
    assert has_broadcast_join(df)
    release_cached()


def test_kcore_driver_and_distributed_paths_agree(spark, sf_dir, monkeypatch):
    from kafka_replicator_spark.cacheutil import release_cached
    from kafka_replicator_spark.queries import pipeline_r6
    from kafka_replicator_spark.queries.pipeline_r6 import q_kcore_peel

    spark.catalog.clearCache()
    release_cached()
    fast = sorted(tuple(r) for r in q_kcore_peel(spark, sf_dir).collect())
    release_cached()
    # a guard of 0 forces the distributed peel (the guarded driver fast
    # path must be a pure optimization, never a semantic change)
    monkeypatch.setattr(pipeline_r6, "_KCORE_SMALL_EDGES", 0)
    slow = sorted(tuple(r) for r in q_kcore_peel(spark, sf_dir).collect())
    release_cached()
    assert fast == slow, (fast, slow)


def test_kcore_guard_boundary_agrees(spark, sf_dir, monkeypatch):
    """At a guard equal to the graph's edge count the peel runs on the
    driver (one collect, nothing cached); one below it, the distributed
    peel runs on the cached edge frame.  Same rows."""
    from kafka_replicator_spark.cacheutil import _TRACKED, release_cached
    from kafka_replicator_spark.functions import graph, similarity
    from kafka_replicator_spark.queries import pipeline_r6
    from kafka_replicator_spark.queries.pipeline_r6 import q_kcore_peel
    from kafka_replicator_spark.sources.tables import load_table

    release_cached()
    n_edges = graph.undirect(
        similarity.label_knn_graph(load_table(spark, sf_dir, "embeddings"))
    ).count()
    release_cached()
    rows = {}
    for limit, driver in ((n_edges, True), (n_edges - 1, False)):
        monkeypatch.setattr(pipeline_r6, "_KCORE_SMALL_EDGES", limit)
        df = q_kcore_peel(spark, sf_dir)
        assert (not _TRACKED) == driver, limit
        rows[driver] = sorted(tuple(r) for r in df.collect())
        release_cached()
    assert rows[True] == rows[False] and len(rows[True]) == 3


def test_hard_negatives_two_phase_topk(spark, sf_dir):
    spark.catalog.clearCache()
    df = QUERIES["p_hard_negatives"].fn(spark, sf_dir)
    plan = physical_plan(df)
    frags = plan.split("windowspecdefinition(")[1:]
    # two rank phases: the corpus-scale sort is keyed by (pid, part) so no
    # task sorts probe x corpus rows; the global phase sees survivors only
    assert len(frags) == 2, plan
    assert any("part" in f.split(",")[1] for f in frags), plan
    for f in frags:
        assert f.startswith("pid"), f[:120]


def test_rebalance_rendezvous_no_rank_no_item_fanout(spark, sf_dir):
    spark.catalog.clearCache()
    df = QUERIES["r_rebalance_rendezvous"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # HRW assignment is a per-item argmax — no global rank window ever
    # (that's the whole advantage over roundrobin at scale), and the
    # worker-grid fan-out is a broadcast nested-loop over the TINY
    # (owner8, owner9) aggregate, never over the item-scale frame
    assert "Window [" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_simhash_bit_balance_single_scalar_agg(spark, sf_dir):
    spark.catalog.clearCache()
    df = QUERIES["p_simhash_bit_balance"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # the 32 per-bit sums ride ONE scalar aggregate (map-side partial);
    # the bit unpivot explodes a literal array on the single result row —
    # no window, no join, no per-bit pass over the corpus
    assert "Window [" not in plan, plan
    assert "Join" not in plan, plan


def test_scalar_quant_error_broadcasts_dim_stats(spark, sf_dir):
    spark.catalog.clearCache()
    df = QUERIES["p_scalar_quant_error"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # the 64-row per-dim min/max frame broadcasts back onto the exploded
    # components; the quantization itself is pure column math
    assert has_broadcast_join(df), plan
    assert "Window [" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_f3_pop_floor_join_broadcasts(spark, sf_dir):
    spark.catalog.clearCache()
    df = QUERIES["r_f3_superseded_pop"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # plan_compaction's resume-floor and qualification joins are
    # metadata-scale and must broadcast; the pop itself is a filter
    assert has_broadcast_join(df), plan
    assert "CartesianProduct" not in plan, plan


def test_x4_roundtrip_stays_scalar(spark, sf_dir):
    spark.catalog.clearCache()
    df = QUERIES["r_x4_url_roundtrip"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # encode/decode/compare is pure column math inside codegen — one
    # partition-grain aggregate, no window, no join
    assert "Window [" not in plan, plan
    assert "Join" not in plan, plan
    assert has_wholestage_codegen(df), plan


def test_laspeyres_caches_part_year_and_broadcasts_base(spark, sf_dir):
    from kafka_replicator_spark.cacheutil import release_cached

    spark.catalog.clearCache()
    release_cached()
    df = QUERIES["a_laspeyres_price_index"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # the part-year frame is cached (read 3x: base-year scalar, base
    # basket, target prices) and the 1-row base-year bound broadcasts
    assert "InMemoryTableScan" in plan, plan
    assert has_broadcast_join(df), plan
    release_cached()


def test_ann_ndcg_broadcasts_labels(spark, sf_dir):
    spark.catalog.clearCache()
    df = QUERIES["p_ann_ndcg"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert has_broadcast_join(df), plan
    assert "CartesianProduct" not in plan, plan
    # The build side must be the PROBE-GRAIN frame (≤ probes×k rows) — never
    # the corpus-scale label projection (one row per vector; 10-20 GB past
    # the broadcast limit at 100×).  The old pin only asserted "a broadcast
    # join exists", which passed either way (VERDICT r06 #1).
    _assert_no_corpus_label_broadcast(df)


# A bare corpus label projection broadcasts exactly TWO columns: one vector
# id + one of these.  The legitimate probe-grain builds are recognizable by
# their id column: a frame keyed by probe_id is bounded by the probe list
# (≤ probes or probes×k rows) whatever else rides along — since the round-7
# redundant inner hints were dropped (VERDICT r07 #6), Catalyst may build
# the bare (probe_id, probe_label) projection itself, which is the
# CORRECT side.  The defect this pins against is a 2-column label build
# keyed by a CORPUS id (vec_id / neighbor_id / doc_id): one row per vector,
# 10-20 GB past the broadcast limit at 100x.
_LABELISH = {"label", "p_lbl", "n_lbl", "probe_label", "n_label", "true_label"}
#: the exemption is backed by construction, not just naming: every ANN-eval
#: site bounds its probe-label projection with an explicit
#: .filter(vec_id.isin(PROBES)) before the rename, so a probe_id-named
#: build is ≤ |probes| rows regardless of constraint propagation
_PROBE_GRAIN_IDS = {"probe_id"}


def _assert_no_corpus_label_broadcast(df):
    builds = broadcast_build_columns(df)
    assert builds, physical_plan(df)
    exempted = False
    for cols in builds:
        if set(cols) & _PROBE_GRAIN_IDS:
            exempted = True  # probe-grain build side — bounded by the probe list
            continue
        assert not (len(cols) <= 2 and set(cols) & _LABELISH), (
            f"corpus-side label broadcast: {cols}"
        )
    if exempted:
        # the exemption must not rest on the NAME alone (ADVICE r08): the
        # plan itself has to carry the bounding membership filter — every
        # ANN-eval site filters .isin(probes) on vec_id (the probe's
        # pre-rename id) before the probe_id rename, which Spark renders as
        # `vec_id#N IN (...)` or `vec_id#N INSET ...` in a Filter/Scan node.
        # Anchored to that exact column (ADVICE r09): a membership filter on
        # some OTHER id (e.g. centroid_id) must not satisfy the pin.
        plan = physical_plan(df)
        assert re.search(r"\bvec_id#\d+L? (IN \(|INSET )", plan), (
            "probe_id-named build exempted but no vec_id IN/INSET "
            "membership filter found in the plan:\n" + plan
        )


@pytest.mark.parametrize(
    "qname", ["p_ann_mrr", "p_ann_label_precision", "p_ann_map", "p_knn_label_eval"]
)
def test_ann_eval_broadcast_side_is_probe_grain(spark, sf_dir, qname):
    # Same wrong-side-broadcast pin for the rest of the ANN-eval family.
    spark.catalog.clearCache()
    df = QUERIES[qname].fn(spark, sf_dir)
    _assert_no_corpus_label_broadcast(df)


def test_label_propagation_round_window_keyed_by_node(spark, sf_dir):
    # the query's RETURNED frame is the collected per-round stats (an
    # RDD scan — rounds run eagerly to truncate lineage), so the window
    # must be pinned on the per-round intermediate: rebuild round 1
    # exactly as q_label_propagation does and assert its rank window is
    # keyed by node (per-key size = the node's degree), never global
    from pyspark.sql import Window

    from kafka_replicator_spark.functions import graph, similarity
    from kafka_replicator_spark.sources.tables import load_table

    spark.catalog.clearCache()
    e = graph.undirect(
        similarity.label_knn_graph(load_table(spark, sf_dir, "embeddings"))
    )
    nb = e.select(F.col("u").alias("node"), F.col("v").alias("nb")).unionAll(
        e.select(F.col("v").alias("node"), F.col("u").alias("nb"))
    )
    labels = nb.select("node").distinct().select(
        "node", F.col("node").alias("lbl")
    )
    cnts = (
        nb.join(
            labels.select(F.col("node").alias("nb"), F.col("lbl")), "nb"
        )
        .groupBy("node", "lbl")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    w = Window.partitionBy("node").orderBy(F.desc("cnt"), F.asc("lbl"))
    new = (
        cnts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("node", "lbl")
    )
    plan = physical_plan(new)
    frags = plan.split("windowspecdefinition(")[1:]
    assert frags, plan
    # every window is keyed: the LPA rank by node, the kNN builder's
    # per-vector top-k by (label, vec_id) — the r14 subset-rule spec whose
    # leading key lets the label join's exchange satisfy the window —
    # never an unpartitioned window
    for frag in frags:
        assert frag.startswith("node") or frag.startswith("vec_id") or frag.startswith(
            "label"
        ), frag[:120]


def test_cramers_v_windows_keyed_by_margin(spark, sf_dir):
    from kafka_replicator_spark.cacheutil import release_cached

    spark.catalog.clearCache()
    release_cached()
    df = QUERIES["a_cramers_v"].fn(spark, sf_dir)
    plan = physical_plan(df)
    frags = plan.split("windowspecdefinition(")[1:]
    assert frags, plan
    for frag in frags:
        assert frag.startswith("nk") or frag.startswith("seg"), frag[:120]
    release_cached()


def test_key_cardinality_two_partial_aggs_no_window(spark, sf_dir):
    spark.catalog.clearCache()
    df = QUERIES["r_key_cardinality_profile"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "Window [" not in plan, plan
    assert "Join" not in plan, plan


def test_mode_price_brand_no_window_broadcasts_maxima(spark, sf_dir):
    spark.catalog.clearCache()
    df = QUERIES["a_mode_price_brand"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # the mode is two hash aggregations + a broadcast join — never a window
    assert "Window [" not in plan, plan
    assert has_broadcast_join(df), plan


def test_abc_classes_windows_keyed_by_stitch_pid(spark, sf_dir):
    from kafka_replicator_spark.cacheutil import release_cached

    spark.catalog.clearCache()
    release_cached()
    df = QUERIES["a_abc_classes"].fn(spark, sf_dir)
    plan = physical_plan(df)
    frags = plan.split("windowspecdefinition(")[1:]
    assert frags, plan
    # the cumulative-share scan is partition-local on the stitch tag — no
    # single-partition window over the parts frame
    for frag in frags:
        assert frag.startswith("__pid"), frag[:120]
    assert has_broadcast_join(df), plan
    release_cached()


def test_changepoint_sse_takeordered_single_bounded_window(spark, sf_dir):
    from kafka_replicator_spark.cacheutil import release_cached

    spark.catalog.clearCache()
    release_cached()
    df = QUERIES["a_changepoint_sse"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # the argmax is a distributed TakeOrdered; the only windows are the
    # documented bounded day grain (~2400 rows), ordered by day
    assert "TakeOrderedAndProject" in plan, plan
    frags = plan.split("windowspecdefinition(")[1:]
    assert frags, plan
    for frag in frags:
        assert frag.startswith("day"), frag[:120]
    release_cached()


def test_brand_stability_windows_keyed_by_month(spark, sf_dir):
    from kafka_replicator_spark.cacheutil import release_cached

    spark.catalog.clearCache()
    release_cached()
    df = QUERIES["a_top_brand_stability"].fn(spark, sf_dir)
    plan = physical_plan(df)
    frags = plan.split("windowspecdefinition(")[1:]
    assert frags, plan
    for frag in frags:
        assert frag.startswith("ym"), frag[:120]
    assert has_broadcast_join(df), plan
    release_cached()


def test_t13_overlap_windows_keyed_by_partition(spark, sf_dir):
    spark.catalog.clearCache()
    df = QUERIES["r_t13_overlap_tolerance"].fn(spark, sf_dir)
    plan = physical_plan(df)
    frags = plan.split("windowspecdefinition(")[1:]
    assert frags, plan
    # the absorption scan is keyed by (topic, partition) — never global.
    # (_w0 is the offset-synthesis window of events_as_messages, keyed by
    # the computed partition hash)
    for frag in frags:
        assert frag.startswith(("topic", "_w0")), frag[:120]


def test_x5_codec_stays_in_two_exchanges(spark, sf_dir):
    spark.catalog.clearCache()
    df = QUERIES["r_x5_checkpoint_codec"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # one shuffle for the per-partition head aggregate; the matrix side is a
    # literal local frame; the codec UDFs are Arrow-batched evals
    assert "ArrowEvalPython" in plan, plan
    assert count_exchanges(df) <= 2, plan


# ---------------------------------------------- round-7 staged batch pins


def test_kmeans_elbow_stays_map_side(spark, sf_dir):
    # seeds are literal arrays: per-vector distances must be pure map-side
    # folds — no join against a seed frame, no per-vector window
    from kafka_replicator_spark.cacheutil import release_cached

    spark.catalog.clearCache()
    release_cached()
    df = QUERIES["p_kmeans_elbow"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "Join" not in plan, plan
    assert "Window [" not in plan, plan
    release_cached()


def test_peak_open_orders_window_is_nation_partitioned(spark, sf_dir):
    from kafka_replicator_spark.cacheutil import release_cached

    spark.catalog.clearCache()
    release_cached()
    df = QUERIES["a_peak_open_orders"].fn(spark, sf_dir)
    plan = physical_plan(df, mode="simple")
    # the running concurrency sum must be keyed by nation, never global
    assert "windowspecdefinition(nation" in plan, plan
    assert has_broadcast_join(df), plan
    release_cached()


def test_mann_kendall_day_pairs_broadcast(spark, sf_dir):
    from kafka_replicator_spark.cacheutil import release_cached

    spark.catalog.clearCache()
    release_cached()
    df = QUERIES["a_mann_kendall_daily"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # the non-equi day1<day2 pair join must build on the broadcast tiny day
    # frame — a CartesianProduct here would be quadratic in partitions
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    release_cached()


def test_cron_grid_filters_without_joins(spark, sf_dir):
    from kafka_replicator_spark.cacheutil import release_cached

    spark.catalog.clearCache()
    release_cached()
    df = QUERIES["r_t14_cron_grid"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # per-spec match = a filter over the cached field grid; the specs are
    # literal predicates, never a join against a spec table
    assert "Join" not in plan, plan
    assert "InMemoryTableScan" in plan, plan
    release_cached()


def test_lsh_transitivity_no_cartesian(spark, sf_dir):
    from kafka_replicator_spark.cacheutil import release_cached

    spark.catalog.clearCache()
    release_cached()
    df = QUERIES["p_lsh_pair_transitivity"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # triangles via ordered equi-joins on the sparse candidate set only
    assert "CartesianProduct" not in plan, plan
    release_cached()


def test_jm_smoothing_topk_is_take_ordered(spark, sf_dir):
    from kafka_replicator_spark.cacheutil import release_cached

    spark.catalog.clearCache()
    release_cached()
    df = QUERIES["p_jm_smoothing"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # distributed top-k — never a single-partition global rank window
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window [" not in plan, plan
    release_cached()


def test_t5_first_delay_heads_need_no_window(spark, sf_dir):
    from kafka_replicator_spark.cacheutil import release_cached

    spark.catalog.clearCache()
    release_cached()
    df = QUERIES["r_t5_first_delay"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # heap-head per partition = min_by aggregation, not a rank window
    assert "Window [" not in plan, plan
    release_cached()


def test_semantic_dedup_2level_assignment_has_no_window(spark, sf_dir):
    """The two-level assignment's argmaxes are map-side partial aggregations
    (max of struct(cos, -id)) — the flat ivf_assign's per-vec_id row_number
    Window (a full shuffle of the N x C scored frame) must be absent; all
    centroid scoring joins broadcast the (bounded) centroid side."""
    from kafka_replicator_spark.cacheutil import release_cached

    spark.catalog.clearCache()
    release_cached()
    df = QUERIES["p_semantic_dedup_2level"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "Window [" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastExchange" in plan, plan
    release_cached()


def test_composed_chains_have_no_cartesian(spark, sf_dir):
    """The composed end-to-end chains must not smuggle in a cartesian:
    every stage join is keyed (doc_id / source / band_key), and the pack
    manifest's only pandas stage is the single metadata boundary walk."""
    from kafka_replicator_spark.cacheutil import release_cached

    for qname in (
        "p_e2e_curation_funnel",
        "p_e2e_pack_manifest",
        "p_e2e_mix_dedup_interaction",
        "p_e2e_split_leakage",
    ):
        spark.catalog.clearCache()
        release_cached()
        df = QUERIES[qname].fn(spark, sf_dir)
        plan = physical_plan(df)
        assert "CartesianProduct" not in plan, (qname, plan)
        if qname == "p_e2e_pack_manifest":
            # simple mode prints each node once (formatted lists it twice)
            simple = physical_plan(df, mode="simple")
            assert simple.count("FlatMapGroupsInPandas") == 1, simple
    release_cached()


def test_mix_pack_no_per_source_window(spark, sf_dir):
    """VERDICT r08 #1: corpus_mix / pack_sequences / the mix-budget sweep
    and the e2e chains that compose them must never rank or prefix-sum
    inside ``Window.partitionBy(source)`` over the document grain — source
    cardinality is O(10-100), so each such window partition is a whole
    source serialized onto one task (a multi-TB single-task sort at
    100 TB).  The grouped range-prefix stitch replaces it; any window spec
    partitioning on source must also carry __pid (a bounded single
    range-partition slice) or a finer key (pack_id)."""
    from kafka_replicator_spark.cacheutil import release_cached
    from kafka_replicator_spark.plans.explain import window_partition_specs

    for qname in (
        "p_corpus_mix",
        "p_pack_sequences",
        "a_mix_budget_sensitivity",
        "p_e2e_curation_funnel",
        "p_e2e_pack_manifest",
        "p_e2e_mix_dedup_interaction",
    ):
        spark.catalog.clearCache()
        release_cached()
        df = QUERIES[qname].fn(spark, sf_dir)
        specs = window_partition_specs(df)
        assert ["source"] not in specs, (qname, specs)
        release_cached()


def test_substring_dedup_no_all_pairs(spark, sf_dir):
    """VERDICT r09 #5 pin: the substring cutter's only corpus-wide stage is
    the window-hash occurrence count (keyed by the hash itself); the cut is
    a doc-grain join + JVM-side array filter — no CartesianProduct, no
    doc×doc join, every window keyed by doc_id or the hash."""
    from kafka_replicator_spark.cacheutil import release_cached

    spark.catalog.clearCache()
    for qname in ("p_substring_dedup", "p_e2e_substring_pack"):
        df = QUERIES[qname].fn(spark, sf_dir)
        plan = physical_plan(df)
        assert "CartesianProduct" not in plan, qname
        for frag in plan.split("Window [")[1:]:
            spec = frag.split("\n", 1)[0][:300]
            assert ("doc_id" in spec) or ("wh" in spec) or ("__pid" in spec), (
                qname,
                spec,
            )
        release_cached()
