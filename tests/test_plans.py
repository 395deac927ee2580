"""Scale audits: pin the physical-plan properties that matter at 100 TB —
dimension joins stay broadcast, filters reach the parquet scan, column
pruning holds, map-only queries stay shuffle-free, and nothing silently
becomes a cartesian product or a Python row loop.

A failure here means Catalyst chose a plan that would regress on a real
cluster even if the sf0.01 answer is still correct.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chainhouse_spark.plans.audit import audit, plan_facts
from chainhouse_spark.queries import QUERIES

SF = "/root/testdata/sf0.01"


def q(spark, name):
    return QUERIES[name](spark, SF)


def test_q1_single_shuffle_pushdown(spark):
    # scan → partial agg → 1 exchange → final agg; ship-date filter pushed.
    assert audit(q(spark, "q1_pricing_summary"),
                 max_shuffle_exchanges=1, require_pushed_filters=True,
                 forbid_python=True) == []


def test_q1_column_pruning(spark):
    # q1 touches 7 of lineitem's 16 columns; the scan must not read more.
    f = plan_facts(q(spark, "q1_pricing_summary"))
    assert f.scans == 1
    assert f.read_schemas and f.read_schemas[0].count(":") <= 7


def test_q3_broadcasts_dimensions(spark):
    # customer and orders broadcast into the lineitem scan side: 2 BHJ,
    # no sort-merge, single shuffle for the final aggregation.
    assert audit(q(spark, "q3_shipping_priority"),
                 require_broadcast_joins=2, max_shuffle_exchanges=1,
                 forbid_sortmerge=True) == []


def test_q5_all_joins_broadcast(spark):
    # 6-table star join: all 5 joins broadcast at this scale; at 100 TB the
    # lineitem-orders edge would flip to SMJ but dims must stay broadcast.
    f = plan_facts(q(spark, "q5_region_revenue"))
    assert f.broadcast_joins == 5
    assert f.sortmerge_joins == 0
    assert f.shuffle_exchanges <= 1


def test_q6_is_scan_filter_agg(spark):
    f = plan_facts(q(spark, "q6_forecast_revenue"))
    assert f.scans == 1 and f.pushed_filters
    assert f.shuffle_exchanges <= 1
    # scan reads only the 4 columns the query touches
    assert f.read_schemas[0].count(":") <= 4


def test_map_only_queries_have_no_shuffle(spark):
    # per-document scoring is embarrassingly parallel — any Exchange is a bug.
    for name in ("text_quality_scores", "text_langid", "text_token_stats",
                 "text_fingerprint", "embedding_norms"):
        f = plan_facts(q(spark, name))
        assert f.shuffle_exchanges == 0, f"{name} shuffles"
        assert f.cartesian_products == 0


def test_dedup_exact_single_shuffle(spark):
    f = plan_facts(q(spark, "dedup_exact"))
    assert f.shuffle_exchanges <= 1
    assert f.python_evals == 0


def test_fact_fact_join_uses_sort_merge_or_broadcast(spark):
    # no cartesian, no Python; at sf0.01 the build side fits broadcast.
    assert audit(q(spark, "join_fact_fact"), max_shuffle_exchanges=2) == []


def test_codegen_covers_scalar_queries(spark):
    # scalar-function queries must stay inside whole-stage codegen.
    for name in ("scalar_string_funcs", "scalar_math_funcs", "scalar_conditional"):
        f = plan_facts(q(spark, name))
        assert f.codegen_spans >= 1, f"{name} fell out of codegen"
        assert f.python_evals == 0


def test_multimodal_ops_are_single_python_stage(spark):
    # decode ops: exactly one MapInPandas; at most the spread() repartition
    # (widening the single-file scan to cluster parallelism) before it.
    for name in ("mm_image_features", "mm_audio_features"):
        f = plan_facts(q(spark, name))
        assert f.python_evals == 1, name
        assert f.shuffle_exchanges <= 1, f"{name} shuffles beyond spread"


def test_ann_bruteforce_broadcasts_queries(spark):
    # query-vectors × corpus: the tiny query side must broadcast (BNLJ is the
    # intended physical form of the cross join), corpus side never shuffles
    # until top-k.
    f = plan_facts(q(spark, "ann_bruteforce_topk"))
    assert f.nested_loop_joins + f.broadcast_joins >= 1
    assert f.cartesian_products == 0


@pytest.mark.parametrize("name", ["q1_pricing_summary", "q5_region_revenue"])
def test_aqe_enabled(spark, name):
    assert plan_facts(q(spark, name)).aqe


def test_q4_semi_join_form(spark):
    # EXISTS compiles to a LeftSemi join — lineitem never expands orders.
    from chainhouse_spark.plans.audit import explain_formatted

    df = q(spark, "q4_order_priority")
    f = plan_facts(df)
    assert "LeftSemi" in explain_formatted(df)
    assert f.cartesian_products == 0 and f.shuffle_exchanges <= 1


def test_q22_anti_join_form(spark):
    # NOT EXISTS compiles to LeftAnti; the scalar-average broadcast is the
    # single BroadcastNestedLoopJoin (one row — intended).
    from chainhouse_spark.plans.audit import explain_formatted

    df = q(spark, "q22_idle_customers")
    f = plan_facts(df)
    assert "LeftAnti" in explain_formatted(df)
    assert f.nested_loop_joins <= 1 and f.cartesian_products == 0


def test_rollups_shuffle_budget(spark):
    # minute rollup: exactly one shuffle over raw events; the hour rollup
    # adds exactly one more (re-aggregating partials, never rescanning).
    assert plan_facts(q(spark, "ts_rollup_minute")).shuffle_exchanges == 1
    assert plan_facts(q(spark, "ts_rollup_hour_from_minute")).shuffle_exchanges == 2
    # gap-fill joins the generated spine via broadcast — no extra shuffle.
    f = plan_facts(q(spark, "ts_minute_spine_gapfill"))
    assert f.broadcast_joins + f.nested_loop_joins >= 1 and f.shuffle_exchanges <= 1


def test_tpch_completion_broadcast_and_shuffle_budget(spark):
    # q2: supply agg + window are the only shuffles; part/supplier/nation/
    # region all broadcast. q8: the full 8-table star keeps every dimension
    # broadcast — one fact shuffle. q20: semi-join chain, one shuffle.
    assert audit(q(spark, "q2_min_cost_supplier"),
                 require_broadcast_joins=4, max_shuffle_exchanges=2,
                 forbid_sortmerge=True) == []
    assert audit(q(spark, "q8_market_share"),
                 require_broadcast_joins=7, max_shuffle_exchanges=1,
                 forbid_sortmerge=True) == []
    assert audit(q(spark, "q20_excess_suppliers"),
                 require_broadcast_joins=3, max_shuffle_exchanges=1,
                 forbid_sortmerge=True) == []


def test_q21_per_order_agg_form(spark):
    # the EXISTS/NOT-EXISTS pair must stay a per-order aggregate (one
    # lineitem⨝orders edge), never two correlated self-joins.
    f = plan_facts(q(spark, "q21_waiting_supplier"))
    assert f.cartesian_products == 0 and f.python_evals == 0
    assert f.shuffle_exchanges <= 4


def test_sessionize_single_shuffle(spark):
    # both windows and the final group-by share the user_id partitioning:
    # the whole operator moves data exactly once.
    f = plan_facts(q(spark, "sessionize_batch"))
    assert f.shuffle_exchanges == 1
    assert f.python_evals == 0


def test_tfidf_single_tokenize_pass(spark):
    # df/dlen are windows over the one tf aggregate — the corpus is
    # tokenized once (the only second scan is the 1-row doc count).
    f = plan_facts(q(spark, "tfidf_top_terms"))
    assert f.scans <= 2
    assert f.shuffle_exchanges <= 4
    assert f.cartesian_products == 0


def test_sampling_gates_are_map_only(spark):
    # hash-gate membership must never shuffle; aggregating variants get
    # exactly the one final agg exchange.
    assert plan_facts(q(spark, "split_train_test_hash")).shuffle_exchanges == 0
    assert plan_facts(q(spark, "interleave_weighted_sources")).shuffle_exchanges == 1
    assert plan_facts(q(spark, "sample_stratified_per_lang")).shuffle_exchanges == 1


def test_salted_agg_two_exchanges(spark):
    # the salt fans the hot key over 16 reducers: partial agg + final agg,
    # exactly two exchanges, nothing else.
    assert plan_facts(q(spark, "agg_salted_two_phase")).shuffle_exchanges == 2


def test_runtime_bloom_filter_injection(spark):
    # At 100 TB the default thresholds (build <=10 MB post-filter, probe
    # scan >=10 GB) inject a bloom filter on the fact scan of every
    # dim-filtered shuffle join, cutting shuffled rows pre-exchange. Locally
    # the probe scan is tiny, so lower the thresholds to prove the
    # injection machinery works end-to-end.
    from pyspark.sql import functions as F

    from chainhouse_spark.plans.audit import explain_formatted

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        o = spark.read.parquet(f"{SF}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        l = spark.read.parquet(f"{SF}/lineitem.parquet")
        j = (
            l.join(o, l.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.sum("l_quantity").alias("sum_qty"))
        )
        text = explain_formatted(j)
        assert "might_contain" in text, "bloom filter not injected on probe side"
        # the filter must reach the fact scan's data filters, not sit above it
        assert "bloom" in text.lower()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_chunking_is_map_only(spark):
    # sequence+explode chunk generators are pure row functions — an Exchange
    # would mean the generator accidentally aggregated or repartitioned.
    for name in ("text_chunk_chars", "text_chunk_words", "text_pii_redaction"):
        f = plan_facts(q(spark, name))
        assert f.shuffle_exchanges == 0, f"{name} shuffles"
        assert f.python_evals == 0, f"{name} left JVM"


def test_statistics_single_shuffle(spark):
    # moment sketches are algebraic: scan → partial agg → 1 exchange → final
    # agg → float formulas on the aggregate rows only.
    for name in ("stat_corr_regression", "stat_moments",
                 "stat_histogram_fixed_bins", "agg_conditional_bool"):
        f = plan_facts(q(spark, name))
        assert f.shuffle_exchanges == 1, f"{name}: {f.shuffle_exchanges} shuffles"
        assert f.python_evals == 0


def test_topk_uses_ordered_limit_not_global_sort(spark):
    # TakeOrderedAndProject pushes the limit into the sort: per-partition
    # top-k then a k-row merge — never a full global sort of the aggregate.
    from chainhouse_spark.plans.audit import explain_formatted
    df = q(spark, "topk_heavy_hitters")
    text = explain_formatted(df)
    assert "TakeOrderedAndProject" in text
    f = plan_facts(df)
    assert f.shuffle_exchanges == 1  # the count aggregate's exchange only


def test_funnel_reuses_user_partitioning(spark):
    # All three funnel stages and both left joins hash on user_id; Catalyst
    # must plan the whole funnel with a bounded number of exchanges (the
    # per-stage aggregates), not re-shuffle per join edge.
    f = plan_facts(q(spark, "funnel_depth_histogram"))
    assert f.cartesian_products == 0
    assert f.python_evals == 0
    # stage aggs + joins + final histogram; > 8 means partitioning reuse broke
    assert f.shuffle_exchanges <= 8, f.shuffle_exchanges


def test_ohlc_single_shuffle(spark):
    f = plan_facts(q(spark, "ts_ohlc_bars"))
    assert f.shuffle_exchanges == 1
    assert f.python_evals == 0


def test_graph_edges_join_on_orderkey_no_cartesian(spark):
    # the pair self-join must be an equi-join on l_orderkey (the < predicate
    # as post-join condition), never a nested-loop cartesian.
    f = plan_facts(q(spark, "graph_degree_distribution"))
    assert f.cartesian_products == 0
    assert f.nested_loop_joins == 0
    # triangle count: the wedge/closure joins must be equi (hash) joins; the
    # only allowed nested-loop is the final 1-row × 1-row scalar combine.
    f = plan_facts(q(spark, "graph_triangle_count"))
    assert f.cartesian_products + f.nested_loop_joins <= 1
    assert f.broadcast_joins + f.sortmerge_joins + f.shuffled_hash_joins >= 2


def test_interval_join_binned_is_equi_join(spark):
    # the binning rewrite must give the planner a hash-joinable equi key —
    # a nested-loop/cartesian here means the containment predicate leaked
    # back into the join condition as the ONLY condition.
    f = plan_facts(q(spark, "interval_join_binned"))
    assert f.cartesian_products == 0
    assert f.nested_loop_joins == 0
    assert f.broadcast_joins + f.sortmerge_joins + f.shuffled_hash_joins >= 1


def test_dynamic_partition_pruning_on_partitioned_layout(spark, tmp_path):
    """At-rest layouts partitioned on a join key must get runtime partition
    pruning: a selective dim-side filter becomes a dynamicpruning subquery
    on the fact scan, so a 100 TB fact table reads only the partitions the
    surviving dim keys touch — partition elimination decided at RUN time,
    the Spark analogue of ClickHouse's partition pruning."""
    from chainhouse_spark.tables import load_table

    fact_dir = str(tmp_path / "orders_by_priority")
    o = load_table(spark, SF, "orders")
    o.write.partitionBy("o_orderpriority").mode("overwrite").parquet(fact_dir)

    fact = spark.read.parquet(fact_dir)
    dim = (
        spark.createDataFrame(
            [("1-URGENT", "hot"), ("5-LOW", "cold")], ["o_orderpriority", "tier"]
        )
        .filter(F.col("tier") == "hot")
    )
    joined = fact.join(dim, "o_orderpriority").groupBy("tier").count()
    plan = joined._jdf.queryExecution().toString()
    assert "dynamicpruning" in plan.lower()


def test_lttb_no_cartesian_no_python(spark):
    # LTTB is windows + one aggregate + an equi-join on (series, bucket) —
    # a cartesian or Python stage means the rewrite leaked.
    f = plan_facts(q(spark, "ts_lttb_downsample"))
    assert f.cartesian_products == 0 and f.nested_loop_joins == 0
    assert f.python_evals == 0


def test_edit_distance_blocking_is_equi_join(spark):
    # deletion-neighborhood blocking must reach the planner as a plain
    # equi-join on the variant key — never a quadratic nested loop.
    f = plan_facts(q(spark, "dedup_edit_distance_pairs"))
    assert f.cartesian_products == 0
    assert f.nested_loop_joins == 0
    assert f.broadcast_joins + f.sortmerge_joins + f.shuffled_hash_joins >= 1


def test_zscore_outliers_broadcasts_moments(spark):
    # group moments are a |groups|-row aggregate broadcast back onto the
    # fact rows: flagging is map-only after one tiny agg.
    f = plan_facts(q(spark, "stat_zscore_outliers"))
    assert f.broadcast_joins >= 1
    assert f.sortmerge_joins == 0
    assert f.python_evals == 0


def test_geo_near_pairs_is_equi_join(spark):
    # Band blocking must compile to a hash/sort-merge EQUI join — a
    # BroadcastNestedLoop or CartesianProduct here means the candidate
    # generation degraded to all-pairs and would never finish at scale.
    f = plan_facts(q(spark, "geo_grid_near_pairs"))
    assert f.cartesian_products == 0
    assert f.nested_loop_joins == 0
    assert f.broadcast_joins + f.sortmerge_joins + f.shuffled_hash_joins >= 1
    assert f.python_evals == 0


def test_substring_spans_single_shuffle(spark):
    # Shingle generation is map-only (sequence+transform+explode, JVM-side);
    # the only exchange is the hash aggregate on the shingle.
    f = plan_facts(q(spark, "dedup_substring_spans"))
    assert f.shuffle_exchanges <= 1
    assert f.python_evals == 0


def test_sequence_match_single_shuffle(spark):
    # One shuffle on user_id builds the per-user event string; the regex
    # match and final count are a rollup of that layout.
    f = plan_facts(q(spark, "sequence_match_regex"))
    assert f.shuffle_exchanges <= 2  # user_id agg + final matched rollup
    assert f.python_evals == 0


def test_ema_and_moving_median_single_shuffle(spark):
    # Fixed-fan-in window math: one exchange on user_id, all lags/frames
    # evaluated in a single Window pass, no Python.
    for name in ("ts_ema_trailing", "window_moving_median"):
        f = plan_facts(q(spark, name))
        assert f.shuffle_exchanges <= 1, name
        assert f.python_evals == 0, name


def test_url_ip_queries_stay_jvm_side(spark):
    # parse_url / split / conv are all built-ins — no Python stage; the URL
    # projection is map-only, the IP rollup shuffles only on its group key.
    f_url = plan_facts(q(spark, "scalar_url_funcs"))
    assert f_url.shuffle_exchanges == 0
    assert f_url.python_evals == 0
    f_ip = plan_facts(q(spark, "scalar_ip_funcs"))
    assert f_ip.python_evals == 0


def test_bm25_is_scan_plus_broadcast_globals(spark):
    # The scorer must stay one map-only pass over documents: per-term tf via
    # filter() on the token array (no explode), globals broadcast back, and
    # the top-k as TakeOrderedAndProject — never a global sort.
    from chainhouse_spark.plans.audit import explain_formatted
    df = q(spark, "search_bm25_topk")
    f = plan_facts(df)
    assert f.python_evals == 0
    assert f.cartesian_products == 0  # broadcast 1-row globals is BNLJ-free
    text = explain_formatted(df)
    assert "TakeOrderedAndProject" in text


def test_inverted_index_bounded_shuffles(spark):
    # tokenize+tf partials map-side; exchanges only on (term, doc) then term.
    f = plan_facts(q(spark, "search_inverted_index"))
    assert f.shuffle_exchanges <= 2
    assert f.python_evals == 0


def test_minhash_lsh_shuffle_budget(spark):
    # Carter-Wegman signatures: scan → explode+hash (map) → partial-min
    # combine → 1 exchange (doc_id) → 1 exchange (band,bh) → pair expand →
    # dedup exchange. Budget pinned so the single-md5 rewrite can't silently
    # grow a shuffle; everything stays JVM-side.
    assert audit(q(spark, "dedup_minhash_lsh"),
                 max_shuffle_exchanges=3, forbid_python=True) == []


def test_agg_approx_distinct_stays_two_exchanges(spark):
    # approx+exact distinct twins share one expand: partial → exchange →
    # final (+1 for the multi-distinct expand path). No Python, no extra
    # scan per aggregate.
    f = plan_facts(q(spark, "agg_approx_distinct"))
    assert f.scans == 1
    assert f.python_evals == 0
    assert f.shuffle_exchanges <= 2


def test_eth_blocks_hex_view_is_map_only(spark):
    # 21-column hex projection: dedup exchange from the pipeline's K8
    # contract is the only shuffle; the hex view itself adds none and no
    # Python (the fixture source is a local relation, so codegen spans are
    # not asserted — the projection expressions are all built-ins).
    f = plan_facts(q(spark, "eth_blocks_table"))
    assert f.python_evals == 0
    assert f.shuffle_exchanges <= 1


def test_pagerank_summary_bounded_shuffles(spark):
    # 5 iterations × (join+agg) over localCheckpoint-truncated lineage; the
    # invariant summary adds one final agg. Pin an upper bound so an extra
    # per-iteration exchange (e.g. lost partitioning reuse) fails loudly.
    f = plan_facts(q(spark, "graph_pagerank"))
    assert f.python_evals == 0
    assert f.cartesian_products == 0


def test_audience_matrix_single_user_shuffle(spark):
    # One user-keyed groupBy builds the type sets; pair expansion happens
    # in place and the remaining aggregates/joins run on the tiny |types|²
    # key space (broadcast). No self-join of the distinct relation, no
    # second pass over events, no Python.
    f = plan_facts(q(spark, "audience_overlap_matrix"))
    assert f.python_evals == 0
    assert f.sortmerge_joins == 0
    assert f.cartesian_products == 0
    # user groupBy (appears once per consuming branch of the cached set
    # build) + 2 tiny-key aggs. Budget covers both cache states: cold
    # plans show <= 4; once the parity suite has materialized the cached
    # set build, the InMemoryTableScan rewrite surfaces one more exchange
    # (same physical work — the cache REMOVES a recompute).
    assert f.shuffle_exchanges <= 5


def test_theta_set_ops_one_sketch_aggregate(spark):
    # Every set-op branch reads one per-type sketch aggregate. The plan
    # lists 6 exchanges: groupBy(h) under each of the three branches
    # (identical subtrees), the rank window's under both sides of the pair
    # join (groupBy(event_type) reuses its partitioning) and the
    # exact-intersection groupBy. Pairs come from a broadcast nested loop
    # over <= |types| rows, never a cartesian product of row-sized inputs.
    f = plan_facts(q(spark, "sketch_theta_set_ops"))
    assert f.shuffle_exchanges <= 6
    assert f.cartesian_products == 0
    assert f.python_evals == 0
    assert f.single_partition_suspects == []


def test_simhash_one_generate_two_exchanges(spark):
    # conv() decodes the sketch's hex digits once per token; the 32 bit
    # votes are conditional sums in ONE groupBy(doc_id). Pin: exactly one
    # Generate (the token explode — no per-bit sequence explode) and at
    # most 2 shuffles (spread + the aggregation), all JVM-side.
    import re

    from chainhouse_spark.plans.audit import explain_formatted

    df = q(spark, "dedup_simhash")
    f = plan_facts(df)
    assert f.python_evals == 0
    assert f.shuffle_exchanges <= 2
    text = explain_formatted(df)
    gens = len(re.findall(r"^\s*\(\d+\)\s+Generate\b", text, re.M))
    assert gens == 1


def test_rollup_reagg_has_no_expand(spark):
    # Native rollup Expands every raw row N+1 ways; the re-aggregation form
    # must not — its subtotals derive from the compacted finest grain.
    from chainhouse_spark.plans.audit import explain_formatted

    native = explain_formatted(q(spark, "agg_rollup"))
    reagg = explain_formatted(q(spark, "agg_rollup_reagg"))
    assert "Expand" in native
    assert "Expand" not in reagg
    f = plan_facts(q(spark, "agg_rollup_reagg"))
    assert f.python_evals == 0


def test_pq_adc_scan_carries_codes_not_vectors(spark):
    # The PQ rank shuffle input is (query_id, cand_id, adc) — the corpus
    # vectors must not flow through the window exchange.
    from chainhouse_spark.operators.pq import pq_topk
    from chainhouse_spark.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    df = pq_topk(emb, emb.filter(F.col("vec_id") < 3), k=5, shortlist=20)
    f = plan_facts(df)
    assert f.python_evals == 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan  # query side broadcasts


def test_reorg_full_table_touched_once_per_walk_step(spark):
    # canonical_chain's per-iteration joins broadcast the frontier; the
    # candidate side is height-pruned. No Python stages anywhere.
    from chainhouse_spark.operators.reorg import canonical_chain

    rows = [(i, f"c{i}", f"c{i-1}") for i in range(12)]
    rows += [(5, "f5", "c4"), (6, "f6", "f5")]
    blocks = spark.createDataFrame(rows, ["number", "hash", "parentHash"])
    df = canonical_chain(blocks)
    f = plan_facts(df)
    assert f.python_evals == 0


def test_training_export_plan_shapes(spark):
    """Round-4 training-export family: shuffles carry ids/hashes/counts,
    never text; the reservoir is a top-k, never a global sort."""
    # shuffle shards: one window exchange keyed by shard; map-only hash,
    # no joins, no Python.
    assert audit(q(spark, "corpus_shuffle_shards"),
                 max_shuffle_exchanges=1, forbid_python=True) == []
    f = plan_facts(q(spark, "corpus_shuffle_shards"))
    # rows entering the exchange are (doc_id, hash, shard) — text pruned.
    assert f.read_schemas and "text" not in f.read_schemas[0]

    # weighted reservoir: TakeOrderedAndProject (partial per-partition
    # top-k), NOT a global Sort+Limit over the corpus.
    plan = (
        QUERIES["sample_weighted_reservoir"](spark, SF)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan

    # batch packing: window (by bucket) + final agg; one tokenize pass,
    # text pruned after it, no joins.
    f = plan_facts(q(spark, "batch_by_length_buckets"))
    assert f.shuffle_exchanges <= 3
    assert f.broadcast_joins == 0 and f.sortmerge_joins == 0
    assert f.python_evals == 0


def test_lm_and_dsir_rank_via_ordered_limit(spark):
    # Corpus-level model train + score queries: the final rank must be
    # TakeOrderedAndProject (per-partition top-k, k-row merge), never a
    # global Sort of every document; count/weight tables join back onto
    # the token stream with bounded exchanges and zero Python stages.
    from chainhouse_spark.plans.audit import explain_formatted

    for name, max_x in [
        ("lm_bigram_perplexity_rank", 8),
        ("dsir_importance_select", 8),
    ]:
        df = q(spark, name)
        text = explain_formatted(df)
        assert "TakeOrderedAndProject" in text, name
        f = plan_facts(df)
        assert f.shuffle_exchanges <= max_x, (name, f.shuffle_exchanges)
        assert f.python_evals == 0, name


def test_image_ahash_single_python_stage(spark):
    # Perceptual-hash dedup: exactly one Python (decode) stage; the band
    # collision count is a JVM-side equi-join on 16-bit keys — the plan
    # must never cross to Python twice or go cartesian.
    f = plan_facts(q(spark, "mm_image_ahash_dedup"))
    assert f.python_evals == 1
    assert f.cartesian_products == 0


def test_image_phash_single_python_stage(spark):
    # DCT perceptual hash: same contract as aHash — exactly one Python
    # (decode+DCT) stage, band collisions via JVM window, no cartesian.
    f = plan_facts(q(spark, "mm_image_phash_dedup"))
    assert f.python_evals == 1
    assert f.cartesian_products == 0


def test_video_scene_cuts_map_only(spark):
    # Scene-cut detection is partition-local per video: one Python stage,
    # no cartesian, and the only allowed exchange is spread()'s
    # parallelism-widening repartition before the Python stage — the
    # per-video reduction itself happens inside the op.
    f = plan_facts(q(spark, "mm_video_scene_cuts"))
    assert f.python_evals == 1
    assert f.shuffle_exchanges <= 1
    assert f.cartesian_products == 0


def test_kappa_and_psi_single_scan(spark):
    # Both derive everything from one corpus-collapsing aggregate: one
    # parquet scan (no branch re-scans the corpus), no Python stages, and
    # every post-cube exchange moves cube-sized data. PSI's fixed-bin
    # pivot makes it one shuffle total; kappa's marginal-event explode
    # adds two cube-sized exchanges after its cube.
    for name, max_x in [("eval_cohens_kappa", 4), ("drift_psi_by_source", 2)]:
        f = plan_facts(q(spark, name))
        assert f.scans == 1, (name, f.scans)
        assert f.python_evals == 0, name
        assert f.cartesian_products == 0, name
        assert f.shuffle_exchanges <= max_x, (name, f.shuffle_exchanges)


def test_join_skew_preflight_reuses_exchange(spark):
    # The pre-flight costs ONE key-count shuffle: the totals branch must
    # read the reused exchange at runtime (AQE ReusedExchange), never
    # re-scan the fact table, and the top-10 must be an ordered limit.
    from chainhouse_spark.plans.audit import explain_formatted

    df = q(spark, "join_skew_preflight")
    assert "TakeOrderedAndProject" in explain_formatted(df)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed


def test_runs_test_single_scan_bounded_shuffles(spark):
    # All windows and the final group share the event_type partitioning:
    # one corpus scan, bounded exchanges, no Python.
    f = plan_facts(q(spark, "stat_runs_test"))
    assert f.scans == 1
    assert f.shuffle_exchanges <= 2
    assert f.python_evals == 0


def test_dataset_card_single_scan(spark):
    # The card derives everything — dup rate, quality mean, exact median —
    # from ONE corpus scan; the multi-distinct expand and the median
    # windows all share the source partitioning.
    f = plan_facts(q(spark, "dataset_card_by_source"))
    assert f.scans == 1
    assert f.python_evals == 0
    assert f.cartesian_products == 0
    assert f.shuffle_exchanges <= 4


def test_single_partition_classifier_on_synthetic_plans(spark):
    # The audit must tell bounded gathers apart from true one-task funnels.
    from pyspark.sql import Window

    from chainhouse_spark.operators.ranking import (
        global_row_number,
        global_running_sums,
    )

    base = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 7).alias("k"), F.rand(42).alias("v")
    )
    # 1-row scalar aggregate: SinglePartition gather of partials — benign.
    f = plan_facts(base.agg(F.sum("v").alias("s")))
    assert f.single_partition_exchanges >= 1
    assert f.single_partition_suspects == []
    # Unpartitioned window over unbounded input — the round-5 bug class.
    w = Window.orderBy("v", "id")
    f = plan_facts(base.select("id", F.row_number().over(w).alias("rk")))
    assert f.single_partition_suspects, "global window must be a suspect"
    # Window AFTER an ordered limit-k: <= k rows — benign.
    top = base.orderBy(F.desc("v"), "id").limit(10)
    f = plan_facts(top.select("id", F.row_number().over(w).alias("rk")))
    assert f.single_partition_suspects == []
    # The distributed replacements themselves must audit clean: their only
    # SinglePartition exchange is the __gr_pid / __gr_blk offsets window.
    f = plan_facts(global_row_number(base, [F.asc("v"), F.asc("id")], "rk"))
    assert f.single_partition_suspects == []
    f = plan_facts(global_running_sums(base, "id", {"v": "run_v"}))
    assert f.single_partition_suspects == []


def test_deglobalized_windows_have_no_suspects(spark):
    # The six round-5 scale-audit findings plus the two the new classifier
    # caught (vocab_build, stat_mann_whitney_u): all rank/prefix-sum logic
    # now runs distributed (operators/ranking.py) or after a bounded cap.
    for name in (
        "search_hybrid_rrf", "mine_hard_negatives", "stat_ks_two_sample",
        "audience_rfm_segments", "funnel_latency_percentiles",
        "tokenize_with_vocab", "vocab_build", "stat_mann_whitney_u",
    ):
        f = plan_facts(q(spark, name))
        assert f.single_partition_suspects == [], (
            f"{name} funnels unbounded rows into one task: "
            f"{f.single_partition_suspects}"
        )
        assert f.cartesian_products == 0


def test_round6_additions_plan_shapes(spark):
    # One-scan scalar aggregates: bootstrap SE and MDE ship only exact
    # integer power sums through a single partial->final merge.
    for name in ("stat_bootstrap_se", "stat_ab_power_mde"):
        f = plan_facts(q(spark, name))
        assert f.scans == 1, name
        assert f.shuffle_exchanges <= 1, name
        assert f.python_evals == 0 and f.cartesian_products == 0, name
        assert f.single_partition_suspects == [], name
    # Seasonality: hourly aggregate + type-partitioned windows, one scan.
    f = plan_facts(q(spark, "ts_seasonality_strength"))
    assert f.scans == 1
    assert f.python_evals == 0 and f.cartesian_products == 0
    assert f.single_partition_suspects == []
    # Cohort LTV: cohort-partitioned cumulative window, broadcast sizes.
    f = plan_facts(q(spark, "audience_ltv_cohort"))
    assert f.python_evals == 0 and f.cartesian_products == 0
    assert f.single_partition_suspects == []
    # Iterated-join queries and the eval harness: no cartesians, no Python,
    # nothing funnels into one task.
    for name in (
        "graph_label_propagation", "eval_retrieval_ndcg",
        "eth_base_fee_projection", "sample_temperature_mixing",
    ):
        f = plan_facts(q(spark, name))
        assert f.python_evals == 0 and f.cartesian_products == 0, name
        assert f.single_partition_suspects == [], name


def test_single_partition_exemptions_are_exact():
    """ADVICE r06: the benign exemptions must not fire on lookalikes — a
    column merely CONTAINING '__gr_pid' in its name, or a global Aggregate
    whose exchange child is NOT a partial aggregate (unbounded raw rows
    funneled into one task). Handcrafted formatted-plan text drives the
    classifier directly."""
    from chainhouse_spark.plans.audit import _single_partition_suspects

    def plan(child_name, child_block, input_cols):
        return (
            "== Physical Plan ==\n"
            "SortAggregate (3)\n"
            "+- Exchange (2)\n"
            f"   +- {child_name} (1)\n"
            "\n\n"
            f"(1) {child_name}\n"
            f"{child_block}"
            "\n"
            "(2) Exchange\n"
            f"Input [1]: [{input_cols}]\n"
            "Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=9]\n"
            "\n"
            "(3) SortAggregate\n"
            "Input [1]: [buf#7]\n"
            "Functions [1]: [collect_list(x#1, 0, 0)]\n"
        )

    # True two-phase gather: child is a partial aggregate -> benign.
    benign = plan(
        "SortAggregate",
        "Input [1]: [x#1]\nFunctions [1]: [partial_collect_list(x#1, 0, 0)]\n",
        "buf#7",
    )
    assert _single_partition_suspects(benign) == []
    # Global agg fed raw rows through a Sort child -> suspect.
    funnel = plan("Sort", "Input [1]: [x#1]\nArguments: [x#1 ASC]\n", "x#1")
    assert _single_partition_suspects(funnel) == ["SortAggregate"]
    # Exact __gr_pid attribute exempts ...
    pid = plan("Sort", "Input [1]: [x#1]\nArguments: [x#1 ASC]\n",
               "x#1, __gr_pid#12L")
    assert _single_partition_suspects(pid) == []
    # ... and so does the block-form __gr_blk attribute (an int column) ...
    blk = plan("Sort", "Input [1]: [x#1]\nArguments: [x#1 ASC]\n",
               "x#1, __gr_blk#12")
    assert _single_partition_suspects(blk) == []
    # ... but a column whose name merely contains the substring does not.
    lookalike = plan("Sort", "Input [1]: [x#1]\nArguments: [x#1 ASC]\n",
                     "x#1, my__gr_pid_copy#12L")
    assert _single_partition_suspects(lookalike) == ["SortAggregate"]


def test_round7_additions_plan_shapes(spark):
    # Breakpoint-broadcast bucketing (no NTILE-over-everything): the only
    # join is the broadcast of the 3-quantile scalar row; no single-task
    # funnel survives.
    for name in ("curriculum_difficulty_order", "ts_paa_sax"):
        f = plan_facts(q(spark, name))
        # the 1-row breakpoint combine is a broadcast nested-loop (keyless),
        # never a cartesian product or a sort-merge join
        assert f.nested_loop_joins == 1, name
        assert f.cartesian_products == 0, name
        assert f.sortmerge_joins == 0, name
        assert f.single_partition_suspects == [], name
    # Window-scan attribution: the purchase-x-click pair join must never
    # appear — user-keyed window shuffles only, no join of any kind.
    f = plan_facts(q(spark, "attribution_position_based"))
    assert f.broadcast_joins + f.sortmerge_joins + f.nested_loop_joins == 0
    assert f.single_partition_suspects == []
    # Decimal-quantized decay: one user-keyed aggregate, map-side weights.
    f = plan_facts(q(spark, "audience_engagement_decay"))
    assert f.shuffle_exchanges <= 2
    assert f.python_evals == 0
    # Gini through the distributed exact rank: no unpartitioned window.
    f = plan_facts(q(spark, "eth_value_gini"))
    assert f.single_partition_suspects == []


def test_kcore_is_checkpoint_bounded(spark):
    # The peel's final plan must read from checkpointed RDD scans, not
    # re-derive the order-part self-join per keep reference (the 79s-at-
    # sf0.1 regression class). ExistingRDD scans appear for localCheckpoint
    # children; the raw lineitem parquet scan must appear at most once
    # (inside the checkpoint lineage it is not re-planned).
    df = q(spark, "graph_kcore_peel")
    text = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert text.count("Scan parquet") <= 1, (
        "k-core final plan re-derives the edge self-join "
        f"({text.count('Scan parquet')} parquet scans)"
    )
    assert "Scan ExistingRDD" in text


def test_marginal_joins_not_force_broadcast(spark):
    # Degree tables (link prediction) and per-part marginals (basket lift)
    # grow linearly with the data — a forced F.broadcast on them becomes a
    # multi-GB broadcast abort at 100 TB. The analyzed plan must carry NO
    # broadcast hint on those joins (AQE may still CHOOSE broadcast at this
    # scale — either physical strategy is fine); the only allowed hint in
    # basket_pair_lift is the 1-row n_orders scalar combine.
    def n_hints(df):
        return df._jdf.queryExecution().analyzed().toString().count(
            "strategy=broadcast"
        )

    assert n_hints(q(spark, "graph_link_prediction")) == 0
    assert n_hints(q(spark, "basket_pair_lift")) == 1
    # and the joins themselves must still be equi (hash-joinable), never
    # nested-loop, whatever strategy AQE picks.
    for name in ("graph_link_prediction", "basket_pair_lift"):
        f = plan_facts(q(spark, name))
        assert f.cartesian_products == 0
        # basket lift's scalar combine is the one permitted BNLJ
        assert f.nested_loop_joins <= 1


def test_round9_additions_plan_shapes(spark):
    # The nine round-9 additions: never a cartesian product, never a Python
    # eval, never an unpartitioned-window funnel. Rank-based stats ride the
    # distributed exact prefix sum; branched consumers read bounded-size
    # localCheckpoints instead of re-scanning the base table.
    for name in (
        "stat_kruskal_wallis", "eval_auc_roc", "stat_theils_u",
        "surv_kaplan_meier", "drift_js_divergence", "eval_retrieval_map",
        "text_simpson_diversity", "ts_theil_sen_slope", "graph_modularity",
        "stat_jarque_bera", "text_burstiness", "ts_hurst_rs",
        "eval_confusion_mcc", "text_ngram_entropy_rate",
        "stat_randomization_test", "drift_ks_by_source",
    ):
        f = plan_facts(q(spark, name))
        assert f.cartesian_products == 0, name
        assert f.python_evals == 0, name
        assert f.single_partition_suspects == [], name
    # JS divergence keeps PSI's conditional-pivot single-scan shape: one
    # corpus scan, one count shuffle, no joins of any kind.
    f = plan_facts(q(spark, "drift_js_divergence"))
    assert f.scans == 1
    assert f.shuffle_exchanges <= 1
    assert f.broadcast_joins + f.sortmerge_joins + f.nested_loop_joins == 0
    # Simpson diversity: one corpus scan, two map-side-combinable shuffles.
    f = plan_facts(q(spark, "text_simpson_diversity"))
    assert f.scans == 1
    assert f.shuffle_exchanges <= 2
    # The modularity edge table feeds sym/m/ec through ONE materialization:
    # no parquet re-scan of lineitem may survive outside the checkpoint
    # lineage (was 24 scans before the checkpoint).
    from chainhouse_spark.plans.audit import explain_formatted

    text = explain_formatted(q(spark, "graph_modularity"))
    assert text.count("Scan parquet") == 0
    assert "Scan ExistingRDD" in text
    # Theil-Sen: the pair join must be an equi-join on the series key (the
    # day inequality is a post-join filter), never a cartesian.
    f = plan_facts(q(spark, "ts_theil_sen_slope"))
    assert f.broadcast_joins + f.sortmerge_joins + f.shuffled_hash_joins >= 1


def test_jarque_bera_single_scan(spark):
    # One scan, one shuffle of five decimals — the "ship moments" shape.
    f = plan_facts(q(spark, "stat_jarque_bera"))
    assert f.scans == 1
    assert f.shuffle_exchanges <= 1


def test_hurst_windows_are_partitioned(spark):
    # The chunk windows partition by (w, chunk); the only global structure
    # is the distributed row-number machinery (checkpoint-backed), so no
    # single-partition funnel may appear.
    f = plan_facts(q(spark, "ts_hurst_rs"))
    assert f.single_partition_suspects == []
    assert f.shuffle_exchanges <= 4


def test_ch_dialect_totals_sample_plan(spark):
    # SAMPLE's hash-gate must sit at the scan (map-side filter before any
    # exchange), the grouping-sets expand stays one aggregation tree, and
    # topK's higher-order functions stay JVM-side (no Python evals). The
    # expected budget: expand + partial agg → 1 exchange → final agg,
    # plus AQE artifacts.
    f = plan_facts(q(spark, "ch_dialect_totals_sample"))
    assert f.cartesian_products == 0
    assert f.python_evals == 0
    assert f.shuffle_exchanges <= 2, f.shuffle_exchanges


def test_contamination_span_plan(spark):
    # Shingling map-only; anchor join is an equi-join on shingle content
    # (broadcast at test scale, hash at 100 TB — never a cartesian); the
    # island aggregate reuses the window's (doc_a, doc_b, diag)
    # partitioning, so the whole chain is join + window + 1 final-agg
    # exchange. Column pruning must reach the scan (doc_id, text only).
    f = plan_facts(q(spark, "contamination_span_report"))
    assert f.cartesian_products == 0 and f.python_evals == 0
    assert f.shuffle_exchanges <= 4, f.shuffle_exchanges
    assert all("doc_id:bigint,text:string" in s for s in f.read_schemas)


def test_contamination_rate_plan(spark):
    # Same span pipeline as contamination_span_report plus a per-doc max
    # and the join back to eval docs — still no cartesian, no Python, and
    # the doc-side scan prunes to (doc_id, text / doc_id, source).
    f = plan_facts(q(spark, "contamination_rate_by_source"))
    assert f.cartesian_products == 0 and f.python_evals == 0
    assert f.shuffle_exchanges <= 6, f.shuffle_exchanges


def test_brier_decomposition_plan(spark):
    # One scan -> 10-bin cell cube via map-side partial agg; all term math
    # runs on <= 10 rows (the totals cross-join is a 1-row broadcast BNLJ,
    # and 3 of the 4 exchanges are single-partition hops over the cube).
    f = plan_facts(q(spark, "eval_brier_decomposition"))
    assert f.python_evals == 0 and f.cartesian_products == 0
    assert f.shuffle_exchanges <= 4, f.shuffle_exchanges
    assert f.nested_loop_joins <= 1  # the 1-row totals broadcast


def test_lsh_band_plan_single_bucket_shuffle(spark):
    # The planner must never materialize pairs: one signature aggregation,
    # one (r, band, key) bucket count, one 5-row rollup — join-free.
    f = plan_facts(q(spark, "dedup_lsh_band_plan"))
    assert f.python_evals == 0 and f.cartesian_products == 0
    assert (f.broadcast_joins + f.sortmerge_joins
            + f.shuffled_hash_joins + f.nested_loop_joins) == 0
    assert f.shuffle_exchanges <= 3, f.shuffle_exchanges


def test_column_profile_single_value_shuffle(spark):
    # One scan stacked 6-wide map-side; the only data-sized exchange is
    # the (col, snap, value) count — everything after runs on <= 24 rows.
    f = plan_facts(q(spark, "drift_column_profile"))
    assert f.python_evals == 0 and f.cartesian_products == 0
    assert f.scans == 1, f.scans
    assert f.shuffle_exchanges <= 4, f.shuffle_exchanges


def test_vocab_coverage_curve_no_global_window(spark):
    # The prefix sum must be the distributed two-phase form — no
    # unpartitioned data-sized window; single token-count shuffle feeds it.
    f = plan_facts(q(spark, "vocab_coverage_curve"))
    assert f.python_evals == 0 and f.cartesian_products == 0
    assert f.single_partition_suspects == [], f.single_partition_suspects
    assert f.shuffle_exchanges <= 5, f.shuffle_exchanges


def test_dedup_impact_plan(spark):
    # Content-hash agg + hash join-back + source rollup + the 1-row totals
    # broadcast (BNLJ) — 5 exchanges, of which only the first two carry
    # data-sized rows (16-byte hash keys), the rest per-source aggregates.
    f = plan_facts(q(spark, "dedup_impact_on_mixture"))
    assert f.python_evals == 0 and f.cartesian_products == 0
    assert f.shuffle_exchanges <= 5, f.shuffle_exchanges
    assert f.nested_loop_joins <= 1  # the 1-row totals broadcast


def test_ks_fdr_bh_plan(spark):
    # Per-source ECDF windows (never a global data-sized window). The BH
    # step-up uses the two-phase global_row_number over the <= |sources|
    # p-value rows, so NO single-partition Sort suspect appears; the extra
    # exchanges it costs all carry aggregate-sized rows (5 of them are
    # explicit single-partition hops over <= 20 rows).
    f = plan_facts(q(spark, "drift_ks_fdr_bh"))
    assert f.python_evals == 0 and f.cartesian_products == 0
    assert f.single_partition_suspects == [], f.single_partition_suspects
    assert f.shuffle_exchanges <= 13, f.shuffle_exchanges


def test_lsh_recall_report_single_plan(spark):
    # Both pair pipelines feed ONE full-outer join + aggregate — no
    # cartesian, no Python, each pipeline computed once in a single plan.
    f = plan_facts(q(spark, "dedup_lsh_recall_report"))
    assert f.python_evals == 0 and f.cartesian_products == 0
    assert f.shuffle_exchanges <= 10, f.shuffle_exchanges


def test_semantic_dedup_cells_plan(spark):
    # Candidate generation is cell-blocked (one (cell, salt) shuffle via
    # embedding_near_pairs), star components iterate on the pair relation
    # behind per-round checkpoints (the final round's label fixup stays in
    # this plan: 2 node-keyed equi-joins), and the report is one id-equi
    # join back to documents + one per-source aggregate. Never all-pairs,
    # no Python; every exchange is node/id-keyed (pair- or corpus-sized,
    # never quadratic).
    f = plan_facts(q(spark, "semantic_dedup_cells"))
    assert f.python_evals == 0 and f.cartesian_products == 0
    assert f.single_partition_suspects == [], f.single_partition_suspects
    assert f.shuffle_exchanges <= 6, f.shuffle_exchanges


def test_lsh_planned_executes_like_unplanned(spark):
    # The planner-driven executor must produce the SAME physical shape as
    # dedup_minhash_lsh: join-free bucket expansion (groupBy + in-place
    # member-list expansion), bounded shuffles, nothing pair-quadratic.
    f = plan_facts(q(spark, "dedup_minhash_lsh_planned"))
    assert f.python_evals == 0 and f.cartesian_products == 0
    assert (f.broadcast_joins + f.sortmerge_joins
            + f.shuffled_hash_joins + f.nested_loop_joins) == 0
    assert f.shuffle_exchanges <= 4, f.shuffle_exchanges


def test_span_corruption_queries_are_map_only(spark):
    # Both the plan and the target extraction are scan -> integer math ->
    # explode -> slice: ZERO shuffles, no joins, no Python.
    for name in ("span_corruption_plan", "span_corruption_targets"):
        f = plan_facts(q(spark, name))
        assert f.python_evals == 0 and f.cartesian_products == 0
        assert f.shuffle_exchanges == 0, (name, f.shuffle_exchanges)
        assert (f.broadcast_joins + f.sortmerge_joins
                + f.shuffled_hash_joins + f.nested_loop_joins) == 0


def test_semantic_contamination_plans(spark):
    # The whole family shares the cell-blocked train×eval pair shuffle
    # from embedding_cross_pairs — never all-pairs, never train×train,
    # no Python; the report joins are eval-set-sized (broadcast at this
    # scale). Per-query shuffle ceilings pin the shared shape.
    for name, max_shuf in (
        ("contamination_semantic_cells", 5),
        ("contamination_semantic_by_cell", 4),
        ("contamination_semantic_nearest", 3),
        ("semantic_purge_plan", 2),
    ):
        f = plan_facts(q(spark, name))
        assert f.python_evals == 0 and f.cartesian_products == 0, name
        assert f.single_partition_suspects == [], (name, f.single_partition_suspects)
        assert f.shuffle_exchanges <= max_shuf, (name, f.shuffle_exchanges)


def test_lexical_vs_semantic_plan(spark):
    # Two leak-flag pipelines (span anchors + cell cosine) feed one eval
    # spine + per-source rollup: no cartesian, no Python, and both flag
    # joins stay id-keyed.
    f = plan_facts(q(spark, "contamination_lexical_vs_semantic"))
    assert f.python_evals == 0 and f.cartesian_products == 0
    assert f.single_partition_suspects == [], f.single_partition_suspects
    assert f.shuffle_exchanges <= 8, f.shuffle_exchanges


def test_tau_sweep_plan(spark):
    # One pass over the cell-blocked pair relation reduced to per-id
    # maxima; the six thresholds are answered off the 6-row integer spine
    # via broadcast nested-loop expansions (spine × id-maxima) — small by
    # construction, never a data×data cartesian.
    f = plan_facts(q(spark, "contamination_semantic_tau_sweep"))
    assert f.python_evals == 0 and f.cartesian_products == 0
    assert f.single_partition_suspects == [], f.single_partition_suspects
    assert f.nested_loop_joins <= 3  # 2 spine expansions + 1-row total
    assert f.shuffle_exchanges <= 8, f.shuffle_exchanges


def test_stream_semantic_decontaminate_rollup_plan(spark):
    # The returned frame is the batch rollup of the final streaming state:
    # memory-sink scan + broadcast doc join, zero additional shuffles —
    # all heavy lifting happened inside the stream (map-side broadcast
    # cell join + the one complete-mode aggregation).
    f = plan_facts(q(spark, "stream_semantic_decontaminate"))
    assert f.python_evals == 0 and f.cartesian_products == 0
    assert f.shuffle_exchanges == 0, f.shuffle_exchanges


def test_semantic_manifest_plan(spark):
    # Purge set reduced to distinct ids before the spine join; the only
    # shuffles are the shared pair generation, the distinct, the id-equi
    # join and the per-source rollup — no cartesian, no Python.
    f = plan_facts(q(spark, "semantic_decontaminate_manifest"))
    assert f.python_evals == 0 and f.cartesian_products == 0
    assert f.single_partition_suspects == [], f.single_partition_suspects
    assert f.shuffle_exchanges <= 6, f.shuffle_exchanges


def test_semantic_dedup_ivf_plan(spark):
    # Trained-cell variant keeps the cell-blocked candidate shape: no
    # cartesian beyond the two 1-row invariant broadcasts (BNLJ), no
    # Python in the report plan (k-means fit runs in its own bounded
    # driver jobs before this plan exists), components behind per-round
    # checkpoints.
    f = plan_facts(q(spark, "semantic_dedup_ivf_cells"))
    assert f.python_evals == 0 and f.cartesian_products == 0
    assert f.nested_loop_joins <= 2  # the 1-row checks broadcasts
    assert f.shuffle_exchanges <= 20, f.shuffle_exchanges


def test_ks_norm_drift_partitioned_windows(spark):
    # Norm computed map-side, one (source, v) count shuffle, ECDF windows
    # partitioned by source — never a single-task global window.
    f = plan_facts(q(spark, "drift_ks_norm_by_source"))
    assert f.python_evals == 0 and f.cartesian_products == 0
    assert f.single_partition_suspects == [], f.single_partition_suspects
    assert f.shuffle_exchanges <= 4, f.shuffle_exchanges
