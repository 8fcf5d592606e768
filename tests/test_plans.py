"""Physical-plan shape assertions for the scale-critical queries.

Correctness tests prove the VALUES; these prove the PLANS — the properties
that decide whether a query survives a 1000-executor, 100 TB run: filters
reaching the parquet scan, small dimensions broadcast instead of shuffled,
per-row operators staying shuffle-free, and the only cartesian product
being the one that is labeled as such. A regression here (a lost broadcast
hint, a filter that stops pushing down) changes no answer at sf0.001 but
multiplies cost at scale, which is exactly why it needs a test.
"""

from __future__ import annotations

import pytest
from conftest import missing_reference_file

from mrjob_spark.queries import REGISTRY

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_parquet_scan_pushes_filters_and_prunes_columns(spark):
    plan = _plan(spark, "s7_parquet_scan_pushdown")
    assert "PushedFilters: [" in plan
    # at least one real pushed predicate, not an empty list
    assert "PushedFilters: []" not in plan


def test_star_join_broadcasts_every_dimension(spark):
    plan = _plan(spark, "j2_broadcast_star")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims must never shuffle the fact


def test_semi_and_anti_joins_broadcast_small_side(spark):
    for name in ("j3_semi_join", "j3_anti_join"):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan, name


def test_topk_per_group_uses_window_group_limit(spark):
    # WindowGroupLimit prunes per-partition before the shuffle — the
    # difference between shipping k rows and shipping every row per group
    plan = _plan(spark, "o6_topk_per_group")
    assert "WindowGroupLimit" in plan


def test_global_sort_limit_avoids_total_sort(spark):
    # LIMIT + ORDER BY must compile to TakeOrderedAndProject (per-partition
    # top-N + merge), not a full global Sort
    plan = _plan(spark, "o4_global_sort_limit")
    assert "TakeOrderedAndProject" in plan


def test_weighted_mixture_has_no_shuffle(spark):
    # pure per-row hash math: any Exchange means someone broke the design
    plan = _plan(spark, "l8_weighted_mixture")
    assert "Exchange" not in plan


def test_quality_filter_no_hash_shuffle(spark):
    # per-row math must never hash-shuffle; the ONE allowed exchange is
    # the narrow round-robin parallelism recovery (sf1 screen: the regex
    # work on a single-row-group scan ran serially, 20.7x per 10x docs)
    plan = _plan(spark, "l8_quality_filter")
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("Exchange") <= 1


def test_sequence_packing_shuffles_once_on_source(spark):
    plan = _plan(spark, "l8_sequence_packing")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "source" in plan


def test_only_labeled_query_is_cartesian(spark):
    # l3_knn_bruteforce is the labeled correctness baseline (broadcast
    # nested loop over a 10-vector query set); nothing else may go cartesian
    for name, spec in REGISTRY.items():
        if name.startswith(("x", "o3", "a8", "s1", "s4", "s6", "s10", "o1",
                            "s7_csv", "s7_json", "mr_")):
            continue  # dataflow/IO queries execute jobs at build time
        plan = _plan(spark, name)
        if name == "l3_knn_bruteforce":
            assert ("BroadcastNestedLoopJoin" in plan
                    or "CartesianProduct" in plan)
        else:
            assert "CartesianProduct" not in plan, name


def test_exact_dedup_aggregates_partially_before_shuffle(spark):
    # partial_min/partial_count markers prove map-side combine: the shuffle
    # carries one row per distinct hash per partition, not per document
    plan = _plan(spark, "l1_exact_dedup")
    assert "partial_" in plan or "HashAggregate" in plan
    assert plan.index("HashAggregate") < plan.index("Exchange")


def test_q3_pushes_all_three_filters_and_takes_ordered(spark):
    plan = _plan(spark, "q3_shipping_priority")
    # every scan carries a real pushed predicate; top-10 never global-sorts
    assert plan.count("PushedFilters: [") >= 3
    assert "PushedFilters: []" not in plan
    assert "TakeOrderedAndProject" in plan


def test_q5_join_cycle_stays_equi(spark):
    # the customer-nation = supplier-nation cycle must ride the supplier
    # join as a key, never degrade to a cartesian + filter
    plan = _plan(spark, "q5_local_supplier_volume")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tfidf_broadcasts_model_and_corpus_count(spark):
    # the big side (doc-term counts) must shuffle exactly for its own
    # aggregation; the df table and 1-row corpus count join back broadcast
    plan = _plan(spark, "l4_tfidf")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_text_classifier_scores_via_broadcast_model(spark):
    # scoring = map-side join of the doc-term stream against the trained
    # (lang, term) model — a shuffled join here would re-shuffle the whole
    # token stream per language at scale
    plan = _plan(spark, "l5_text_classifier")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ngrams_single_shuffle(spark):
    # bigrams are built in-row (zip_with over shifted slices): the only
    # exchange is the count's own aggregation shuffle
    plan = _plan(spark, "l4_ngrams")
    assert plan.count("Exchange hashpartitioning") == 1


def test_q18_semi_joins_subquery_and_broadcasts_customer(spark):
    # the HAVING subquery's surviving keys must reach orders as a
    # semi/existence join (never materializing the IN as a full join),
    # and the customer dim must broadcast
    plan = _plan(spark, "q18_large_volume_customer")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan or "ExistenceJoin" in plan


def test_correlated_subquery_decorrelates(spark):
    # the per-row scalar subquery must rewrite to one aggregate joined
    # back — a nested-loop re-execution per outer row would be quadratic
    plan = _plan(spark, "sql2_correlated_subquery")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan


def test_q7_nation_pair_disjunction_collapses_to_equi_joins(spark):
    # the bilateral nation-pair predicate must arrive as pre-filtered
    # broadcast dims + an inequality filter, never a BNLJ over the
    # disjunction; the shipdate range must push into the lineitem scan
    plan = _plan(spark, "q7_volume_shipping")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters: [" in plan


def test_q10_takes_ordered_and_broadcasts_nation(spark):
    plan = _plan(spark, "q10_returned_items")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    # returnflag filter reaches the lineitem scan
    assert "PushedFilters: [" in plan
    assert "PushedFilters: []" not in plan


def test_q14_single_row_aggregate_broadcasts_part(spark):
    # part joins broadcast; the only exchange is the 1-row final agg's
    plan = _plan(spark, "q14_promo_revenue")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_token_mask_is_shuffle_free(spark):
    # redaction is pure per-row column math: any Exchange is a regression
    plan = _plan(spark, "l8_token_mask")
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_repetition_filter_two_partial_aggs_no_join(spark):
    # (doc_id, tok) counts then per-doc stats: two hash exchanges, both
    # fed by partial aggregates, and no join anywhere
    plan = _plan(spark, "l5_repetition_filter")
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Join" not in plan


def test_vocab_coverage_topn_no_global_window_funnel(spark):
    # r3 verdict fix: web-scale vocab must NOT be ranked through one
    # unpartitioned window. Top-50 compiles to TakeOrderedAndProject
    # (per-partition top-N), the corpus total is a broadcast scalar, the
    # token-count shuffle feeding both branches is computed once (AQE
    # stage reuse — only visible in the final adaptive plan), and the
    # only window runs post-limit over ≤50 rows keyed on the constant
    # broadcast-total column — never an empty partition spec (a foldable
    # literal key would be optimized away back into the global funnel)
    df = REGISTRY["l4_vocab_coverage"].fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "TakeOrderedAndProject" in plan
    assert "ReusedExchange" in final
    assert "windowspecdefinition(_total#" in plan  # partition spec present


def test_q4_exists_compiles_to_semi_join_with_pushed_filters(spark):
    # EXISTS must become a semi join (one output row per order, no dedup),
    # with the date window and returnflag both reaching their scans
    plan = _plan(spark, "q4_order_priority")
    assert "LeftSemi" in plan
    assert plan.count("PushedFilters: [") >= 2
    assert "PushedFilters: []" not in plan


def test_q6_is_one_pruned_scan_with_partial_agg(spark):
    # the pure-scan aggregate: no join, all three predicates pushed, only
    # the four referenced columns read, one single-row final exchange
    plan = _plan(spark, "q6_forecast_revenue")
    assert "Join" not in plan
    assert "PushedFilters: []" not in plan
    assert plan.count("Exchange") == 1
    assert "l_tax" not in plan  # column pruning: untouched columns absent


def test_q8_filters_dims_before_fact_no_forced_fact_broadcast(spark):
    # the q9/q12 scale-adaptive policy (VERDICT r6 task 2): only the
    # bounded dims (nation⨝region, nation, PROMO-filtered part) carry
    # hints and must appear as broadcast build sides; the fact-sided joins
    # (orders/customer/supplier) are hint-free — AQE's choice, so the test
    # must NOT pin them to broadcast. What IS pinned: the date/type/region
    # filters reach the scans (pushed), and no join degenerates cartesian.
    plan = _plan(spark, "q8_market_share")
    assert "CartesianProduct" not in plan
    assert "PushedFilters: []" not in plan
    assert plan.count("BroadcastExchange") >= 3  # the three dim hints
    # no F.broadcast() on a fact side: the DataFrame code carries hints
    # only on the three dims (source-level guard — the plan can't tell a
    # hinted broadcast from an estimated one)
    import inspect

    from mrjob_spark.queries import composites

    # 4 = nation⨝region (outer hint + region's inner), nation, part
    src = inspect.getsource(composites.q8_market_share)
    assert src.count("F.broadcast") == 4


def test_q13_outer_join_keeps_zero_bucket_condition_in_join(spark):
    # the priority predicate must stay in the join condition — a WHERE
    # would drop zero-order customers and silently turn the join inner
    plan = _plan(spark, "q13_customer_distribution")
    assert "LeftOuter" in plan


def test_q15_scans_lineitem_once_no_window(spark):
    # r3 verdict fix: the max arrives as a one-row broadcast scalar, the
    # revenue shuffle feeding both branches is computed once (AQE stage
    # reuse → one lineitem scan in the final plan), and no unpartitioned
    # WindowExec funnels the per-supplier aggregate through one task
    df = REGISTRY["q15_top_supplier"].fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "ReusedExchange" in final
    assert final.count("lineitem.parquet") == 1
    assert "Window" not in final


def test_q17_threshold_join_copartitions_no_cartesian(spark):
    # the decorrelated per-partkey threshold joins back on the same key
    # its aggregate shuffled on — co-partitioned, never nested-loop
    plan = _plan(spark, "q17_small_quantity_revenue")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q19_disjunction_weakenings_reach_both_scans(spark):
    # the hand-derived per-side implications of the OR must prune both
    # scans; the disjunction itself stays a residual on a broadcast join
    plan = _plan(spark, "q19_disjunctive_join")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("PushedFilters: [") >= 2
    assert "PushedFilters: []" not in plan


def test_q22_anti_join_builds_on_filtered_orders(spark):
    # NOT EXISTS → LEFT ANTI with the priority+date filters pushed into
    # the orders scan; the scalar average arrives as a one-row broadcast
    plan = _plan(spark, "q22_sales_opportunity")
    assert "LeftAnti" in plan
    assert "PushedFilters: []" not in plan


def test_span_dedup_capped_single_scan_no_window(spark):
    # the skew-proof twin must replace the span_h window with a hash-agg
    # + join-back whose two branches REUSE one exchange: one corpus scan,
    # a hot span is a partial-agg counter cell, never a window partition
    df = REGISTRY["l2_span_dedup_capped"].fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "ReusedExchange" in final
    assert final.count("documents.parquet") == 1
    assert "Window" not in final


def test_scalable_packing_windows_on_subbuckets(spark):
    # the running sum must run inside (source, __bucket) partitions with
    # the prefix offsets broadcast back — never one window task per source
    plan = _plan(spark, "l8_sequence_packing_scalable")
    assert "__bucket" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pipeline_end_to_end_is_single_scan(spark):
    # the four-stage composition must stay ONE corpus scan: per-row gates
    # fuse into the scan, dedup is a window (not an aggregate joined back,
    # which would re-tokenize the corpus), packing is the source window
    plan = _plan(spark, "l8_pipeline_end_to_end")
    assert plan.count("documents.parquet") == 1
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_global_shuffle_never_funnels_to_one_partition(spark):
    # the per-shard row_number must run shard-parallel: one hash exchange
    # on shard, and no SinglePartition exchange anywhere — a global-window
    # formulation would funnel the corpus through one task
    plan = _plan(spark, "l8_global_shuffle")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in plan
    assert "EvalPython" not in plan


def test_span_dedup_single_scan_no_join(spark):
    # one corpus scan (the in-row array_distinct + window form — the
    # two-branch hot-set join re-tokenized the corpus twice), no join,
    # and exactly two hash exchanges: span_h window, doc_id aggregate
    plan = _plan(spark, "l2_span_dedup")
    assert plan.count("documents.parquet") == 1
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 2
    assert "EvalPython" not in plan


def test_kmeans_assignment_broadcasts_centroids_no_window(spark):
    # the per-round assignment must score against the bounded driver-
    # resident centroid state — never a shuffled join on the corpus and
    # never a per-vector ranking window. Round 12: the k-way crossJoin +
    # interpreted integer fold became ONE Arrow map stage (closure-
    # captured k×dim centroid matrix, exact int64 matrix math), so the
    # pin is now: a MapInArrow assignment, zero joins of any kind, no
    # window, no row-wise Python
    plan = _plan(spark, "l3_kmeans_assign")
    assert "MapInArrow" in plan
    assert "Join" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan


def test_quantize_is_one_scan_zero_shuffle(spark):
    # int8 quantization is pure per-row array math: one pruned scan, no
    # aggregation exchange, no join, nothing leaves the JVM
    plan = _plan(spark, "l3_embedding_quantize")
    assert plan.count("embeddings.parquet") == 1
    assert "Exchange hashpartitioning" not in plan
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_two_stage_knn_single_corpus_scan_carries_vectors(spark):
    # the re-rank must happen in-row on the candidate set (vectors carried
    # through the coarse top-k window), not via a second corpus join;
    # embeddings appears twice: corpus + the broadcast 10-query side
    plan = _plan(spark, "l3_knn_two_stage")
    assert plan.count("embeddings.parquet") == 2
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    # coarse prune then exact rerank: exactly the two ranking windows,
    # and the coarse top-20 must run as a PARTIAL (map-side) group limit —
    # each scan partition keeps <= 20 rows per query BEFORE the exchange,
    # so the per-query window partition is bounded by 20 x n_partitions,
    # never the corpus (the funnel the two-stage form must not have)
    assert plan.count("RunningWindowFunction") <= 2
    assert "row_number(), 20, Partial" in plan


def test_bigram_lm_windows_over_counts_not_corpus(spark):
    # bigram extraction is in-row (zip_with over shifted slices): one
    # corpus scan, and the w1 windows run over the aggregated counts
    # table (vocab-bounded partitions), never over exploded corpus rows
    plan = _plan(spark, "l4_bigram_lm")
    assert plan.count("documents.parquet") == 1
    assert "EvalPython" not in plan
    # counts aggregate exchange + w1 window exchange, nothing more
    assert plan.count("Exchange hashpartitioning") == 2


def test_bucketed_join_runs_without_join_exchange(spark):
    # the registry's bucketed-join query must join straight off the bucket
    # files: both scans Bucketed, SortMergeJoin with no exchange under it —
    # the shuffle was paid at write time (write_bucketed_table). The ONE
    # allowed exchange is the final aggregation's own (keyed on
    # c_mktsegment, not the bucket column).
    df = REGISTRY["s13_bucketed_join"].fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Bucketed: true") == 2
    assert "SortMergeJoin" in final
    assert final.count("Exchange") <= 2  # agg shuffle + its AQE read
    assert "Exchange hashpartitioning(o_custkey" not in final
    assert "Exchange hashpartitioning(c_custkey" not in final


# --- round 5: the remaining TPC-H shapes (composites.py part 2) ----------


def test_q2_min_cost_decorrelates_with_one_fact_scan(spark):
    # the correlated min-cost subquery decorrelates into a per-part
    # aggregate joined back; both branches must hang off the SAME grouped
    # exchange (AQE stage reuse -> one lineitem scan at runtime), with the
    # region/part filters broadcast-reducing the bridge pre-aggregate
    df = REGISTRY["q2_min_cost_supplier"].fn(spark, SF_DIR)
    df.collect()
    final = (
        df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert "ReusedExchange" in final
    assert final.count("lineitem.parquet") == 1
    assert "CartesianProduct" not in final


def test_q9_profit_star_filters_dims_before_fact(spark):
    # the only selective filter (p_name LIKE) lives on part: it must
    # reduce the dim before the fact join (broadcast), and the LIKE must
    # reach the part scan as a pushed predicate. The orders fact join is
    # deliberately hint-free (scale-adaptive; ADVICE r5) — the test must
    # NOT pin it to broadcast, so no global "SortMergeJoin not in plan".
    plan = _plan(spark, "q9_product_type_profit")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "PushedFilters: []" not in plan
    # the dims that DO carry hints stay broadcast: part-filtered and
    # supplier⨝nation each appear as a BroadcastExchange build side
    assert plan.count("BroadcastExchange") >= 2


def test_q11_threshold_reuses_value_aggregate(spark):
    # the HAVING > (SELECT sum(...) * frac) scalar subquery must not
    # rescan the fact: threshold and output both hang off the one
    # per-part aggregate (ReusedExchange), the threshold arriving as a
    # one-row broadcast (BNLJ on a single-row side, the q15/q22 idiom)
    df = REGISTRY["q11_important_parts"].fn(spark, SF_DIR)
    df.collect()
    final = (
        df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert "ReusedExchange" in final
    assert final.count("lineitem.parquet") == 1
    assert "CartesianProduct" not in final


def test_q12_fact_fact_join_prunes_lineitem_side(spark):
    # a genuine fact-to-fact join: the lineitem side must arrive filtered
    # (returnflag + ship year pushed to its scan); the priority split is
    # conditional sums after ONE join, not two joins
    plan = _plan(spark, "q12_priority_class")
    assert plan.count("lineitem.parquet") == 1
    assert plan.count("orders.parquet") == 1
    assert "PushedFilters: []" not in plan
    assert "CartesianProduct" not in plan


def test_q16_denylist_is_broadcast_anti_join(spark):
    # NOT IN compiles to LEFT ANTI against the broadcast denylist; the
    # part predicates broadcast-reduce the bridge before the distinct agg
    plan = _plan(spark, "q16_supplier_part_counts")
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q20_stacked_aggregates_share_one_fact_scan(spark):
    # Q20's nested-subquery tower: per-(part,supplier) quantities, per-part
    # totals re-aggregated FROM that table, threshold join-back — all off
    # one scan (ReusedExchange; the explicit isnotnull guards keep the
    # subtrees canonically equal), qualifying suppliers applied LEFT SEMI
    df = REGISTRY["q20_dominant_suppliers"].fn(spark, SF_DIR)
    df.collect()
    final = (
        df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert "ReusedExchange" in final
    assert final.count("lineitem.parquet") == 1
    assert "LeftSemi" in final


def test_q21_exists_pair_compiles_to_semi_and_anti(spark):
    # EXISTS / NOT EXISTS against the same fact: one LEFT SEMI, one LEFT
    # ANTI, each equi on the order key with the supplier inequality as a
    # residual — never a per-row subquery, never a cartesian
    plan = _plan(spark, "q21_waiting_suppliers")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_j5_bucketed_band_join_is_equi_not_nested_loop(spark):
    # the band quantizes into bucket keys: a hash equi-join with the
    # BETWEEN as residual — never the BNLJ the naive band join costs
    # (measured 20.2x per 10x data vs 2.7x for this form)
    plan = _plan(spark, "j5_range_join_bucketed")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_neardup_ivf_no_window_no_cartesian(spark):
    # centroid scoring is the Arrow assignment map stage (exact int64
    # matrix math against the closure-captured k-row centroid state —
    # round 12, no crossJoin, no per-vector WindowExec); candidate
    # pair-gen is a plain equi self-join; the verify tail is the cogroup
    # Arrow scorer
    df = REGISTRY["l2_embedding_neardup_ivf"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "MapInArrow" in plan
    assert "FlatMapCoGroupsInArrow" in plan


def test_incremental_dedup_never_shuffles_history(spark):
    # the ingestion-time contract: history is probed with a map-side
    # broadcast LeftSemi (batch hashes build side) — the history scan
    # reaches its join with NO exchange, and the only hash exchanges are
    # the three batch/candidate-bounded aggregations (batch-hash distinct,
    # batch_first, hist_match). A SortMergeJoin anywhere means the corpus
    # got shuffled for a batch-sized probe.
    plan = _plan(spark, "l1_incremental_dedup")
    assert "LeftSemi, BuildRight" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 3


def test_pii_redaction_is_map_only(spark):
    # corpus hygiene must be a pure map pass: one scan, regex column math
    # inside whole-stage codegen, ZERO exchanges — any shuffle here would
    # be a plan bug that turns a 100 TB scrub into a 100 TB shuffle
    plan = _plan(spark, "l9_pii_redaction")
    assert "Exchange" not in plan
    assert "FileScan parquet" in plan


def test_stratified_split_partial_aggs_and_prunes_text(spark):
    # one partial-agg shuffle on the tiny (source, lang, split) key space,
    # and the scan must NOT read the text column (the split is a pure
    # function of doc_id + metadata) — at 100 TB reading text here would
    # multiply the scanned bytes by ~100×
    plan = _plan(spark, "l8_stratified_split")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan
    assert "text:string" not in plan


def test_balanced_sample_prefilters_and_group_limits(spark):
    # the per-source k-sample must never rank a whole source: the hash
    # threshold joins map-side against broadcast per-source counts, and
    # the rank runs under WindowGroupLimit with a PARTIAL pass before the
    # exchange — the shuffle carries at most k rows per source per task,
    # at any corpus size. Only doc_id+source are read (no text).
    plan = _plan(spark, "l8_balanced_sample")
    assert plan.count("WindowGroupLimit") == 2  # Partial + Final
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "text:string" not in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_neardup_tight_adaptive_k_same_plan_shape(spark):
    # the tight tier shares the ivf body (one _ivf_neardup_pairs), so its
    # plan pins are the same: no per-vector WindowExec (top-probe via the
    # Arrow assignment map stage), no cartesian anywhere — candidate
    # generation is a plain equi self-join on cluster id even with the
    # SF-adaptive cell count in play
    df = REGISTRY["l2_embedding_neardup_tight"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "MapInArrow" in plan
    assert "FlatMapCoGroupsInArrow" in plan


def test_neardup_planted_no_cartesian_and_exact_twin_derivation(spark):
    # the planted tier reuses _ivf_neardup_pairs over an augmented
    # frame: same pins (no cartesian, no per-vector window), and the
    # union must not smuggle in a float-arithmetic transform — the twin
    # derivation is zero-or-passthrough only, so both engines agree
    # bit-for-bit
    df = REGISTRY["l2_embedding_neardup_planted"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    # every returned pair is planted-vs-base at cosine >= 0.8 (the base
    # corpus tops out at 0.68, planted twins measure >= 0.81)
    rows = df.collect()
    assert rows, "planted pairs must be found (recall 1.0 at test SF)"
    for r in rows:
        assert r.cosine >= 0.8
        assert (r.id_a < 1_000_000_000) != (r.id_b < 1_000_000_000)
        # twins pair with their own original
        assert r.id_b - 1_000_000_000 == r.id_a


def test_semdedup_prune_no_cartesian_and_verdict_shape(spark):
    # SemDeDup = within-cell pairs only (probe=1): the corpus must never
    # self-join unblocked, no per-vector window, and the verdict join's
    # drops side is duplicate-rate-bounded so it must broadcast
    df = REGISTRY["l2_semdedup_prune"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    rows = {r.vec_id: r for r in df.collect()}
    # one verdict per corpus item, drops name a kept lower-id twin
    assert len(rows) == 500
    for r in rows.values():
        if not r.kept:
            assert r.kept_twin is not None and r.kept_twin < r.vec_id
            assert rows[r.kept_twin].kept or rows[r.kept_twin].kept_twin \
                is not None  # twin is itself verdicted
            assert r.max_cosine >= 0.45
        else:
            assert r.kept_twin is None and r.max_cosine is None


def test_dsir_model_broadcasts_and_scan_count(spark):
    # the hashed model is constant-sized (<=256 rows) BY CONSTRUCTION —
    # it must broadcast against the token stream, never shuffle it; the
    # only unpartitioned window runs over that bounded model frame
    df = REGISTRY["l8_dsir_select"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    rows = df.collect()
    assert len(rows) == 500
    # en docs must skew positive vs the rest (the weight separates the
    # target distribution), and selection is exactly the weight's sign
    for r in rows:
        assert r.selected == (r.log_importance >= 0)


def test_paragraph_dedup_single_scan_no_window(spark):
    # first-occurrence selection must be the skew-proof hash aggregate
    # (min(struct)) + join-back sharing ONE exchange: the corpus is
    # tokenized once, a boilerplate paragraph is a partial-agg cell,
    # never a window partition
    df = REGISTRY["l2_paragraph_dedup"].fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "ReusedExchange" in final
    assert final.count("documents.parquet") == 1
    assert "Window" not in final


def test_temperature_mixture_broadcasts_thresholds(spark):
    # the per-domain threshold table (|langs| rows) must broadcast back
    # against the corpus: keep decisions are map-side, the corpus never
    # shuffles for the join
    plan = _plan(spark, "l8_temperature_mixture")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pq_codes_join_is_broadcast_no_cartesian(spark):
    # the ADC lookup table (queries x m x codebook_k rows) and the
    # candidate id set must broadcast against the codes/corpus — the
    # only acceptable plan has zero shuffled joins of corpus-sized
    # inputs and no cartesian product anywhere
    df = REGISTRY["l3_knn_pq"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    rows = df.collect()
    # the audit itself must pass here too, not just under the driver
    assert len(rows) == 10
    assert all(r.recall_ge_floor for r in rows)


def test_bpe_encode_joins_vocab_not_corpus_merge_chain(spark):
    # the 12-merge regexp chain must run over the DISTINCT-word table
    # only; the corpus token stream joins the tiny word->count table and
    # partial-aggregates per doc — no cartesian, no window
    df = REGISTRY["l4_bpe_encode"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    rows = df.collect()
    assert len(rows) == 500
    # merges strictly compress: tokens-per-word must be < symbols-per-word
    assert all(r.n_bpe_tokens >= r.n_words for r in rows)
    assert any(r.tokens_per_word > 1.0 for r in rows)


def test_ccnet_clean_broadcasts_thresholds_no_corpus_window(spark):
    # tercile thresholds must broadcast back (map-side bucketing — no
    # per-language ntile window funneling a language through one task);
    # the only window is the vocab-bounded LM model's PARTITION BY w1
    df = REGISTRY["l10_ccnet_clean"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    rows = df.collect()
    assert len(rows) == 500
    verdicts = {r.verdict for r in rows}
    assert verdicts == {"keep", "drop_tail", "drop_dup"}
    # tail tercile must be dropped, head kept
    for r in rows:
        if r.verdict == "keep":
            assert r.ppl_bucket in ("head", "middle")


def test_substring_dedup_single_scan_no_window(spark):
    # occurrence count + probe must share ONE exchange of the anchor
    # stream (corpus scanned and tokenized once); a hot shingle is a
    # partial-agg counter cell; the run/coverage chaining is in-row
    # array math, so NO window operator appears anywhere in the plan
    df = REGISTRY["l2_substring_dedup"].fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "ReusedExchange" in final
    assert final.count("documents.parquet") == 1
    assert "Window" not in final


def test_ivf_pq_prunes_before_adc_no_cartesian(spark):
    # IVFADC: the kmeans centroid table and the ADC table ride broadcast
    # joins (bounded driver state); nothing cartesians; the ADC join is
    # keyed by (query, sub, code) AGAINST THE PROBED PAIRS ONLY — the
    # plan must show the cand_pairs/codes join feeding the pdist sum
    df = REGISTRY["l3_knn_ivf_pq"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    rows = df.collect()
    assert len(rows) == 10
    # deterministic index: the measured floor holds with margin (0.80
    # min per-query recall at oracle SFs) — a flipped flag is a broken
    # quantizer or clustering change, not noise
    assert all(r.recall_ge_floor for r in rows)


def test_substring_dedup_clean_single_scan_no_window(spark):
    # the removal form must keep the audit's exchange-reuse shape: the
    # one anchor exchange feeds BOTH the occ+first aggregate and the
    # probe (corpus tokenized once); no window operator anywhere
    df = REGISTRY["l2_substring_dedup_clean"].fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "ReusedExchange" in final
    assert final.count("documents.parquet") == 1
    assert "Window" not in final


def test_neardup_admission_history_never_shuffles(spark):
    # st12 (ST x L2): the corpus-sized history band index must be probed
    # by a broadcast LeftSemi of the batch's keys — never shuffled, never
    # sort-merge joined — and the batch's first-arrival aggregate is the
    # shared cache barrier feeding BOTH its consumers (flag join + probe
    # keys). If column pruning ever forks that branch again, the second
    # InMemoryTableScan disappears and a third scan+shingle pass of the
    # batch silently returns (the bug this pin was written against).
    df = REGISTRY["st12_incremental_neardup"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "LeftSemi, BuildRight" in plan
    # history scanned exactly once (its filter is the NOT-batch predicate)
    hist_scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "NOT ((doc_id" in ln
    ]
    assert len(hist_scans) == 1
    assert plan.count("InMemoryTableScan") == 2
    assert "Window" not in plan


def test_cross_modal_dedup_shuffles_hashes_only(spark):
    # the L1 idiom over BinaryType: the media store must partial-agg its
    # content hashes map-side BEFORE the shuffle (bytes never move — the
    # exchange carries distinct 16-byte hashes + counts), and the doc
    # join rides the hash key. At sf the aggregated hash table
    # broadcasts; at scale it degrades to a hash-key SMJ, which is the
    # documented one-shuffle-each-side plan — so the pin is the partial
    # agg + key, not the join strategy.
    df = REGISTRY["l6_cross_modal_dedup"].fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "partial_count" in final and "partial_min" in final
    assert "CartesianProduct" not in final
    assert "Window" not in final
    # the ONLY shuffle is the media hash aggregate's
    assert final.count("Exchange hashpartitioning") == 1


def test_media_metadata_extract_zero_shuffles(spark):
    # synth → sniff is a pure map chain: two Arrow MapInPandas stages
    # directly over the scan, payload bytes never leave their task —
    # NO exchange of any kind may appear
    df = REGISTRY["l6_media_metadata_extract"].fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") == 2
    assert "Exchange" not in final
    assert final.count("documents.parquet") == 1


def test_url_dedup_inrow_canonicalize_hash_agg(spark):
    # canonicalization must stay in-row JVM expression math (no Python
    # node of any kind) and first-occurrence selection must be the
    # skew-proof partial hash aggregate; every shuffle in the plan is
    # keyed on the canonical url (at sf the verdict join-back broadcasts;
    # at scale it degrades to a same-key join — the pin is the key and
    # the partial agg, not the join strategy)
    df = REGISTRY["l1_url_dedup"].fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "partial_count" in final and "partial_min" in final
    assert "CartesianProduct" not in final
    assert "Window" not in final
    assert "MapInPandas" not in final and "ArrowEvalPython" not in final
    import re as _re

    for m in _re.finditer(r"Exchange hashpartitioning\((\w+)", final):
        assert m.group(1).startswith("canonical_url"), m.group(0)


def test_source_divergence_single_docterm_intermediate(spark):
    # the tf-idf idiom: ONE (source, word) shuffled partial-count
    # intermediate feeds corpus totals, per-source totals, and the KL
    # join — the corpus is tokenized once; per-source state broadcasts
    # back; the grand total is a 1-row broadcast (its
    # BroadcastNestedLoopJoin is the bounded-side pattern the
    # registry-wide audit allows); no window anywhere
    df = REGISTRY["l7_source_divergence"].fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "partial_count" in final
    assert "CartesianProduct" not in final
    assert "Window" not in final
    assert "MapInPandas" not in final and "BatchEvalPython" not in final


def test_embedding_admission_index_streams_batch_broadcasts(spark):
    # st13's admission asymmetry: the cosine probe is a BroadcastHashJoin
    # on the cell key with the ARRIVALS side as the build (the corpus
    # index streams — it never shuffles for admission; the only
    # history-side exchange is the batch twin's inline index
    # CONSTRUCTION, which production precomputes); per-arrival max is
    # map-side partial; the only nested-loop joins are the k-row
    # centroid broadcasts (the bounded-side pattern); no window
    import re as _re

    df = REGISTRY["st13_incremental_embedding_neardup"].fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert _re.search(
        r"BroadcastHashJoin \[cluster#\d+L?\], \[cluster#\d+L?\],"
        r" Inner, BuildRight", final)
    assert "partial_max" in final
    assert "CartesianProduct" not in final
    assert "Window" not in final


def test_registry_wide_no_unlabeled_cartesian_no_rowwise_python(spark):
    # The two unconditional scale-killers, enforced across EVERY
    # registered query in one sweep (round 11): a CartesianProduct is
    # legal only under a baseline_of label (the honest quadratic kept
    # for oracle parity), and a row-at-a-time Python UDF
    # (BatchEvalPython) is never legal — the Python surface must ride
    # Arrow (mapInPandas/applyInPandas/pandas_udf) or stay JVM-side.
    # BroadcastNestedLoopJoin is deliberately NOT flagged: every
    # instance in the registry broadcasts a bounded side (1-row corpus
    # stats, a k-row query set, a centroid table), which is linear in
    # the big side at any scale. A query that executes a file of the
    # reference tree cannot build its plan where that file is absent; only
    # such a query is passed over, and only there.
    offenders = {}
    for name, spec in REGISTRY.items():
        if missing_reference_file(name):
            continue
        plan = spec.fn(spark, SF_DIR)._jdf.queryExecution() \
            .executedPlan().toString()
        bad = []
        if "CartesianProduct" in plan and not spec.baseline_of:
            bad.append("unlabeled CartesianProduct")
        if "BatchEvalPython" in plan:
            bad.append("row-wise Python UDF (BatchEvalPython)")
        if bad:
            offenders[name] = bad
    assert offenders == {}, offenders


def test_a1_enters_at_cluster_parallelism(spark):
    # the DECIMAL(38,6) partial aggregation is a1's per-row cost, so a
    # single-row-group scan must fan out to defaultParallelism before the
    # aggregate (parallelize_narrow_scan; no-op once the layout has
    # >= cores splits, i.e. at any real scale) — and the shuffle must
    # carry only the six referenced columns, never the whole row
    plan = _plan(spark, "a1_pricing_summary")
    cores = spark.sparkContext.defaultParallelism
    assert f"RoundRobinPartitioning({cores})" in plan
    assert "l_shipdate" not in plan  # column pruning below the fan-out
