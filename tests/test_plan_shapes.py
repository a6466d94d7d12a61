"""Physical-plan regression tests: the scale-critical plan properties
(broadcast dimension joins, parquet filter pushdown, bounded exchange
counts) must survive refactors — a correct-but-shuffling plan is a bug at
100 TB even when values match."""

from __future__ import annotations

from prefect_flow_arc_alto_to_json_spark.functions.scale import data_shuffles
from prefect_flow_arc_alto_to_json_spark.plans import EXTRA_QUERIES, QUERIES

# Plan pins outlive graded-window rotations: look a query up in either tier
_ALL_QUERIES = {**QUERIES, **EXTRA_QUERIES}


def _plan(spark, name, sf_dir) -> str:
    df = _ALL_QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q3_broadcasts_dims_and_pushes_filters(spark, sf_dir):
    plan = _plan(spark, "q3_shipping_priority", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims must not shuffle-join at this size
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plan
    assert "GreaterThan(l_shipdate" in plan  # range predicate reached the scan


def test_q5_star_join_all_broadcast(spark, sf_dir):
    plan = _plan(spark, "q5_region_revenue", sf_dir)
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_q1_scan_prunes_columns(spark, sf_dir):
    plan = _plan(spark, "q1_pricing_summary", sf_dir)
    # 7 needed columns, not the full 16-column lineitem schema
    read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "l_orderkey" not in read_schema
    assert "l_comment" not in read_schema
    assert "l_quantity" in read_schema


def test_dedup_exact_single_exchange(spark, sf_dir):
    # normalize+hash is narrow; the ONLY shuffle is the groupBy on the digest
    # (fan_out is a no-op here iff input partitions >= parallelism, so allow
    # its round-robin exchange + the agg exchange, nothing more)
    plan = _plan(spark, "dedup_exact", sf_dir)
    assert plan.count("Exchange") <= 2, plan


def test_transcript_plan_is_shuffle_free(spark):
    # the order-safe array_join(flatten(...)) formulation must never shuffle
    from pyspark.sql import functions as F

    from prefect_flow_arc_alto_to_json_spark.operators.alto import (
        simplify_alto,
        transcript,
    )

    df = spark.createDataFrame(
        [("a", "<alto><Layout/></alto>")], "name string, xml string"
    )
    out = simplify_alto(df).withColumn("t", transcript("simplified"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_alto_parse_runs_once_per_row(spark):
    """from_xml stays in its own projection: every field of the simplified
    document reads the one parse instead of re-parsing the body."""
    from prefect_flow_arc_alto_to_json_spark.operators.alto import simplify_alto

    df = spark.createDataFrame(
        [("a", "<alto><Layout/></alto>")], "name string, xml string"
    )
    plan = simplify_alto(df)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("from_xml(") == 1, plan


def test_capped_posting_join_is_broadcast_anti(spark, sf_dir):
    """The posting-frequency cap must be a BROADCAST anti-join on the tiny
    overflow set — if it ever degrades to a shuffled join, the cap itself
    becomes a posting shuffle at 100 TB (defeating its purpose)."""
    from prefect_flow_arc_alto_to_json_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from prefect_flow_arc_alto_to_json_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    plan = (
        ngram_jaccard_pairs(docs, threshold=0.8, max_doc_freq=20)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_minhash_bucket_cap_is_broadcast_anti(spark, sf_dir):
    from prefect_flow_arc_alto_to_json_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from prefect_flow_arc_alto_to_json_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    plan = (
        minhash_lsh_pairs(docs, threshold=0.5, max_bucket_size=20)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


# ---------------------------------------------------------------------------
# Shuffle-exchange budgets for the dedup/similarity family (round-5): the
# 100x-scale argument ("every pair-generating path is banded/bucketed and
# shuffles ids, not payloads") is only durable if the shuffle COUNT can't
# silently creep. Budgets are the measured counts of the audited plans —
# a failure here means a refactor added a shuffle stage the audit never saw.
# Counts exclude BroadcastExchange (replication, not a shuffle) and
# ReusedExchange (a replay of an already-counted shuffle, not a new one).
# ---------------------------------------------------------------------------

_SHUFFLE_BUDGETS = {
    # banded bucket self-join: shingle explode/agg + band explode + pair agg
    "dedup_minhash_pairs": 5,
    # posting join: per-doc sizes + posting explode + pair agg
    "dedup_ngram_jaccard": 3,
    # chunk-banding: signature agg + band bucket join + pair dedup
    "dedup_simhash_pairs": 3,
    # + doc-freq recount and the capped posting rebuild
    "dedup_ngram_jaccard_capped": 9,
    # id-only probe joins: corpus bucketing + probe join + topk agg
    "sim_lsh_topk": 4,
    # asymmetric probe join + pair agg
    "sim_embedding_near_dup_lsh": 2,
    # centroid assign + probe-pruned cells + topk agg
    "sim_ivf_topk": 6,
    # broadcast query set; corpus-side local topk + global merge
    "sim_brute_topk": 2,
    # full composition: quality gate -> exact dedup -> capped posting join
    # -> broadcast anti-join, one lazy plan
    "pipeline_clean_corpus": 16,
    # digest-only groupBy (+ fan_out round-robin at test partition counts)
    "dedup_exact": 2,
    "mm_dedup_exact": 1,
    # canonical two-Exchange salted shape: partial agg on (key, salt),
    # final agg on key (round-6: skew family pinned alongside dedup/sim)
    "q_salted_agg_skew": 2,
    # freqItems sketch: planted-skew union + one-row driver collect; the
    # hashable-guarantee projection re-aggregates once
    "q_freq_items_skew": 2,
    # round-6 additions — budgets are the measured static counts at test
    # scale (AQE collapses several via ReuseExchange at runtime):
    # prefix build (df agg + posting join + rank window) + prefix self-join
    # + candidate distinct; verification is broadcast-only
    "dedup_prefix_jaccard": 11,
    # dup-gram agg + semi mark join + island window (the (id, isl) collapse
    # rides the window's id partitioning — subset-satisfies, no exchange)
    "text_dup_spans": 5,
    # vocab count agg + scoring join + 1-row total + per-doc agg
    "text_unigram_logprob": 7,
    # the whole 3-step funnel + per-user collapse on ONE user_id exchange
    "q_funnel_steps": 1,
    # nation sketch agg + region union agg + exact count (2-phase)
    "q_hll_rollup": 4,
    # SCD2: change-collapse + versioning windows share ONE user Exchange
    "q_scd2_history": 1,
    # lag window + (prev, cur) agg + tiny row-normalize window
    "q_event_transitions": 3,
    # first-seen window + (cohort, offset) distinct agg
    "q_cohort_retention": 2,
    # round-6 late additions:
    # quantized broadcast nested loop: corpus-side local topk + merge
    "sim_int8_topk": 2,
    # persisted-state read + 2 batch partials merged on the view key
    "q_incremental_mv": 3,
    # two per-snapshot bin counts + the 10-row spine window
    "q_psi_drift": 3,
    # ONE group-key exchange (WindowGroupLimit pre-cuts partitions)
    "text_group_sample": 1,
    # post-checkpoint: cell self-join + dropped distinct + kept mark join
    # (the index build's own exchanges are truncated by localCheckpoint —
    # at scale that's the bucketed-by-cent_id write)
    "sim_semantic_dedup": 4,
    # topk merge + vote agg (label join rides broadcast)
    "sim_knn_classify": 2,
    # ONE (label, dim) exchange; posexplode collapses map-side first
    "sim_label_centroids": 1,
    # round-7 additions — the eval / time-series / governance families:
    # score-histogram agg + distribution-window sort (corpus never windows)
    "q_roc_auc": 2,
    "q_roc_auc_by_lang": 2,
    # 1-row min/max broadcast + ≤10-bin agg
    "q_calibration_bins": 2,
    # per-user totals agg + the dense-ids rank device (round 10: range
    # repartition + O(partitions) offset agg + final checkpoint-stub
    # exchange replace the former SINGLE-PARTITION user-grain window —
    # two more exchanges, all parallel, none a collapse)
    "q_gini_concentration": 4,
    # contingency agg persisted once; margins/N/terms re-read it (static
    # dump embeds the cached subtree per consumer — runtime runs it once)
    "q_chi_square_independence": 10,
    # quasi-id class agg + 1-row census
    "q_k_anonymity": 2,
    # daily pre-agg + per-user normal-equation agg
    "q_daily_trend_slope": 2,
    # daily pre-agg + per-user window (shared user exchange)
    "q_rolling_zscore_anomaly": 2,
    # daily agg + grid join/ffill on the same user partitioning
    "q_resample_daily_ffill": 2,
    # (doc, term) agg + per-doc agg
    "text_token_entropy": 2,
    # token agg + vocab TakeOrdered + per-doc agg (vocab join broadcast)
    "text_vocab_oov": 2,
    # MG candidates (≤29/partition) + candidate count + 1-row total
    "q_mg_heavy_hitters": 3,
    # broadcast anchors × corpus; local topk + global rank merge
    "sim_hard_negatives": 1,
    # bounds agg (1-row) + per-z-cell agg
    "q_zorder_index": 2,
    # final plan reads the checkpointed last iteration: the per-iteration
    # join/agg exchanges are behind localCheckpoint boundaries; the
    # returned projection itself adds none
    "q_pagerank_trade": 0,
    # mergeSchema read is a pure scan
    "q_schema_evolution": 0,
    # vocab agg feeds both the term map and the 1-row totals, so the
    # static plan shows its exchange under each consumer (plus the global
    # agg's single-partition exchange); AQE's ReuseExchange collapses the
    # duplicates at runtime (the tpch_q11 precedent)
    "text_js_divergence": 7,
    # compacted read-back is a pure scan
    "q_compaction_invariance": 0,
    # ONE user_id window exchange serves both lags + trigram agg; the
    # top-20 window runs single-partition over <=125 aggregated cells
    "q_event_trigrams": 2,
    # one 10-moment global agg (1-row exchange); pair algebra is driver-free
    "q_corr_matrix": 1,
    # moment agg exchange; the filter scan joins it by broadcast
    "q_outlier_zscore": 1,
    # post-checkpoint: the tiny counts agg + offset-cumsum + stitch join
    # exchanges (the range shuffle sits behind the correctness-pinning
    # localCheckpoint — see operators/ids.py)
    "q_dense_ids": 3,
    # one group agg over the parallel JSON scan
    "q_json_source_permissive": 1,
    # decode kernel is narrow; ONE asset_id exchange for the lag window
    "mm_scene_cuts": 1,
    # ONE user_id exchange; carry-forward frame replaces the self-join
    "q_attribution_last_touch": 1,
    # signatures are narrow kernel output; ONE (w, wv) band-bucket
    # exchange covers join + pair distinct
    "mm_image_near_dup": 1,
    # (w1,w2) count agg + w1 count agg + scoring joins + per-doc agg
    # (vocab is a broadcast 1-row)
    "text_bigram_logprob": 5,
    # stateless map + ONE (doc, bucket) partial-agg exchange
    "text_hashed_features": 1,
    # (type, day) agg exchange + type-window exchange over daily rows
    "q_dod_growth": 2,
    # one parse_json narrow map + the per-type agg exchange
    "q_variant_shred": 1,
    # per-user MIN + per-day count + the ~30-row running-sum window
    "q_cumulative_distinct_users": 3,
    # decode kernel narrow; ONE (asset, state) islands-window exchange
    # serves the segment collapse too
    "mm_audio_segments": 1,
    # round-7 additions:
    # (w1,w2) count agg + unigram count agg + two vocab scoring joins +
    # the top-100 TakeOrdered (totals ride a broadcast 1-row)
    "text_pmi_collocations": 5,
    # ORC read-back + the 6-group partial agg; CSV read-back is a pure
    # scan + md5 projection
    "q_orc_roundtrip": 1,
    "q_csv_roundtrip": 0,
    # keyless range join rewritten onto the bin equi key: the window-side
    # broadcast carries the join; ONE window_id agg exchange. The reason
    # this query exists — no nested-loop/cartesian — is pinned separately
    # in test_range_bin_join_never_nested_loop.
    "q_range_bin_join": 1,
    # round-7 late additions:
    # snapshot reads are pure scans; the diff join broadcasts one side
    "q_time_travel": 0,
    "q_snapshot_diff": 0,
    # sketch matrix agg + probe estimate agg + exact counts agg (the
    # 1024-cell sketch side broadcasts into the probe join)
    "q_cms_heavy_hitters": 3,
    # three 1-row table fingerprints (one global-agg exchange each)
    "q_table_checksum": 3,
    # narrow key computation + TakeOrdered — no shuffle at all
    "text_weighted_sample": 0,
    # bucketed layout: the JOIN is exchange-free by construction; only
    # the final priority agg shuffles
    "q_bucketed_join": 1,
    # dynamic-overwrite read-back is a pure partitioned scan
    "q_partition_backfill": 0,
    # post-checkpoint: test-side assignment agg + cell cross join +
    # contaminated distinct + kept mark join (same family as
    # sim_semantic_dedup, plus the second corpus' assignment)
    "sim_decontaminate": 7,
    # tokenize → sequence → posexplode → slice: map-only
    "text_chunk_overlap": 0,
    # round-8 family — measured static counts at test scale:
    # PQ: encode min_by agg + ADC (query_id, vid) agg + shortlist window
    # + rerank topk window; codebook/LUT/subspace joins all broadcast
    "sim_pq_topk": 6,
    # signature agg + band probe join (broadcast probe) + candidate
    # distinct + verification joins on the persisted sigs
    "dedup_incremental_minhash": 5,
    # stratum counts + 1-row min + broadcast-joined rates + kept recount;
    # corpus-sized pass stays a narrow hash predicate
    "text_temperature_mix": 7,
    # one grouped COUNT(DISTINCT) (two-phase expand)
    "q_l_diversity": 2,
    # range exchange (dense ids) + per-partition counts + bin census
    "q_quantile_binning": 5,
    # hash-order range exchange + partition counts agg
    "corpus_shuffle_order": 3,
    # purge-list distinct + broadcast anti-join + per-type census
    "q_gdpr_purge": 3,
    # posexplode fan-out + ONE map-side-combining groupBy on dim
    "q_feature_scale": 2,
    # unigram LM fit (vocab + totals + per-doc agg) + dense-id ranking
    # + tercile census — the full CCNet composition
    "text_perplexity_buckets": 14,
    # round-8 late additions:
    # two index builds (IVF assign, PQ encode) + candidate-bounded ADC agg
    # + shortlist/rerank windows; candidates and LUTs broadcast
    "sim_ivfadc_topk": 11,
    # posting explode + gram-df agg + posting join back + per-doc agg
    "text_ngram_novelty": 4,
    # two bounded top-k branches + the union re-aggregate + fused rank
    "sim_hybrid_rrf": 6,
    # two brute-force branches (broadcast query) + broadcast set join
    "sim_matryoshka_overlap": 4,
    # vocab count agg + vocab-sized rank + 1-row moments
    "text_zipf_slope": 3,
}


# TPC-H breadth family (round-6): these plans' scale story is "facts shuffle
# only on their agg/join keys; every dimension broadcasts". Budgets are the
# measured counts; SortMergeJoin is forbidden because at test scale every
# join side that isn't a fact aggregate is dimension-sized.
_TPCH_SHUFFLE_BUDGETS = {
    "tpch_q2_max_acctbal_supplier": 1,  # window over nationkey
    "tpch_q4_late_ship_priority": 1,  # semi join + priority agg
    "tpch_q7_nation_volume": 1,  # orderkey join; nation dims broadcast
    "tpch_q8_market_share": 1,  # orderkey join; region/nation/cust broadcast
    "tpch_q9_product_profit": 1,  # orderkey join; part/supplier broadcast
    # partkey agg + 1-row global agg; the static plan shows the partkey
    # exchange twice (under val and under tot) but the ReuseExchange rule
    # collapses them in the adaptive final plan — verified: after collect
    # the plan carries a ReusedExchange for it, so real shuffles = 2
    "tpch_q11_important_parts": 3,
    "tpch_q12_priority_split": 2,  # orderkey join + returnflag agg
    "tpch_q13_customer_distribution": 2,  # custkey agg + c_count agg
    "tpch_q14_promo_revenue": 1,  # 1-row global agg
    "tpch_q15_top_supplier": 2,  # suppkey agg + the 1-row MAX agg (r10: max broadcast replaced the global rank window)
    "tpch_q16_supplier_cnt": 2,  # count-distinct expand (2-phase)
    "tpch_q17_small_qty_revenue": 2,  # partkey agg + 1-row global agg
    "tpch_q18_large_volume_customer": 1,  # orderkey agg; rest broadcast
    "tpch_q19_disjunctive_join": 1,  # broadcast join + 1-row agg
    "tpch_q20_promo_excess_suppliers": 1,  # suppkey agg; semi broadcast
    "tpch_q21_last_shipper": 5,  # two per-order agg passes + name agg + topk
    "tpch_q22_dormant_customers": 2,  # stats agg + nationkey agg
}


def test_tpch_shuffle_budgets(spark, sf_dir):
    from prefect_flow_arc_alto_to_json_spark.plans import EXTRA_QUERIES

    spark.catalog.clearCache()
    over = {}
    for name, budget in _TPCH_SHUFFLE_BUDGETS.items():
        df = EXTRA_QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        shuffles = data_shuffles(plan)
        assert "SortMergeJoin" not in plan, (name, plan)
        # every join must be broadcast-shaped (hash for equi joins; the
        # 1-row global-scalar crossJoins in q11/q22 are nested-loop)
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
            name,
            plan,
        )
        if shuffles > budget:
            over[name] = (shuffles, budget)
    assert not over, f"shuffle-count regressions (got, budget): {over}"


def test_tpch_q19_pushes_implied_predicates(spark, sf_dir):
    """The disjunctive predicate's single-side implications must be inferred
    and pushed below the join — q19's raison d'etre. The assertion targets
    the lineitem SCAN's DataFilters specifically: the join's own residual
    condition also mentions l_quantity, so matching anywhere after the join
    token would pass even with zero pushdown."""
    from prefect_flow_arc_alto_to_json_spark.plans import EXTRA_QUERIES

    df = EXTRA_QUERIES["tpch_q19_disjunctive_join"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    li_scans = [
        line
        for line in plan.splitlines()
        if "FileScan" in line and "l_extendedprice" in line
    ]
    assert li_scans, plan
    # the inferred quantity-range disjunction reached the scan itself
    assert any(
        "DataFilters" in line and "l_quantity" in line.split("DataFilters")[1]
        for line in li_scans
    ), li_scans
    # and a PURE single-side Filter (quantity ranges, no part columns)
    # sits below the join
    assert any(
        "Filter" in line and "l_quantity" in line and "p_brand" not in line
        for line in plan.splitlines()
    ), plan


def test_dedup_similarity_shuffle_budgets(spark, sf_dir):
    # clearCache in the helper matters here most: if an earlier test left
    # a scoped_persist relation cached, the plan dump embeds the
    # InMemoryRelation's OWN subtree and double-counts its exchanges.
    _assert_family_budgets(spark, sf_dir, _SHUFFLE_BUDGETS)


def test_salted_join_exercises_shuffled_path(spark, sf_dir):
    """q_salted_join_skew must run the salted SHUFFLE join (its reason to
    exist) — a broadcast of the dim would bypass the salt entirely."""
    from prefect_flow_arc_alto_to_json_spark.plans import EXTRA_QUERIES

    spark.catalog.clearCache()
    df = EXTRA_QUERIES["q_salted_join_skew"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    # the join's exchanges partition on BOTH the key and the salt — the
    # property that spreads a hot key across reducers
    assert "__salt" in plan, plan
    shuffles = data_shuffles(plan)
    assert shuffles <= 4, plan


def test_range_bin_join_never_nested_loop(spark, sf_dir):
    """q_range_bin_join exists to replace the BroadcastNestedLoopJoin a
    keyless range predicate otherwise plans: the executed plan must carry
    the containment as an EQUI join on the time bin, with no nested-loop
    or cartesian operator anywhere."""
    from prefect_flow_arc_alto_to_json_spark.plans import EXTRA_QUERIES

    df = EXTRA_QUERIES["q_range_bin_join"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_orc_scan_pushes_filters_and_prunes_columns(spark, sf_dir):
    """The ORC path (q_orc_roundtrip's format) must get the same pushdown
    machinery as parquet: predicate into PushedFilters, projection into
    ReadSchema — format breadth is only useful at 100 TB if the scan
    still skips."""
    import tempfile

    from pyspark.sql import functions as F

    from prefect_flow_arc_alto_to_json_spark.sources import load_table

    p = tempfile.mkdtemp(prefix="orc_push_") + "/orders"
    load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    ).write.orc(p)
    df = (
        spark.read.orc(p)
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)" in plan
    read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "o_orderpriority" not in read_schema, read_schema


def test_runtime_bloom_filter_injection(spark, sf_dir):
    """Catalyst's own runtime bloom filter (the automatic sibling of
    operators/bloom.py — same pre-shuffle pruning idea, injected when a
    shuffle join has a selective creation side): with broadcast disabled
    the lineitem⋈supplier(nation=3) join must carry a bloom_filter_agg
    subquery and a might_contain predicate on the fact scan side. The
    manual operator stays the explicit/portable form (works under AQE
    changes, carries an oracle); this pin proves we also leave Catalyst
    free to inject its own where stats allow."""
    from pyspark.sql import functions as F

    from prefect_flow_arc_alto_to_json_spark.sources import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_suppkey", "l_quantity"
        )
        supp = (
            load_table(spark, sf_dir, "supplier")
            .where(F.col("s_nationkey") == 3)
            .select("s_suppkey")
        )
        j = li.join(supp, li["l_suppkey"] == supp["s_suppkey"])
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_coalesces_small_shuffles(spark, sf_dir):
    """AQE runtime re-planning pin: a 32-partition shuffle over a tiny
    aggregate must coalesce at runtime (AQEShuffleRead coalesced) — the
    mechanism that keeps the static shuffle.partitions setting safe at
    BOTH ends of the scale (small inputs don't fragment into thousands
    of empty tasks; the same config still fans out on big inputs)."""
    from pyspark.sql import functions as F

    from prefect_flow_arc_alto_to_json_spark.sources import load_table

    df = (
        load_table(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    df.collect()  # AQE finalizes the plan only on execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in plan, plan
    assert "coalesced" in plan, plan


def _assert_family_budgets(spark, sf_dir, budgets, forbid=("SortMergeJoin",)):
    """Shared body of the per-round budget families: audit uncached static
    plans, forbid the listed join strategies, collect shuffle overages."""
    from prefect_flow_arc_alto_to_json_spark.plans import EXTRA_QUERIES

    spark.catalog.clearCache()
    all_q = {**QUERIES, **EXTRA_QUERIES}
    over = {}
    for name, budget in budgets.items():
        df = all_q[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        for bad in forbid:
            assert bad not in plan, (name, bad, plan[:2000])
        shuffles = data_shuffles(plan)
        if shuffles > budget:
            over[name] = (shuffles, budget)
    assert not over, f"shuffle-count regressions (got, budget): {over}"


#: Round-8 family: exchange budgets measured under the suite session
#: (sf0.001 fixtures; fan_out's round-robin adds an Exchange vs a bare
#: probe session). Every plan must also stay SortMergeJoin-free —
#: the two large-large self-joins (basket pairs, posting verify) are
#: shuffle-hash hinted because their persisted inputs carry no stats.
_R8_SHUFFLE_BUDGETS = {
    "q_market_basket": 12,
    "dedup_minhash_calibration": 9,
    "q_audience_overlap": 3,
    "q_mutual_information": 8,
    "q_skyline_pareto": 2,
    "q_event_pattern_match": 1,
    "q_ols_regression": 1,
    "q_ab_cuped": 7,
    "sim_mips_topk": 1,
    "q_cdc_apply": 1,
    "text_bpe_merges": 0,  # vocab loop checkpoints at construction time
    "q_lpa_communities": 1,
    "q_t_closeness": 5,
    "q_degree_assortativity": 6,
    "text_simpson_diversity": 3,
    "text_burstiness": 5,
    "q_ewma_daily": 2,
    "sim_ivf_recall_curve": 11,
    "sim_cluster_purity": 5,
    "q_abtest_proportions": 2,
}


def test_round8_family_shuffle_budgets(spark, sf_dir):
    _assert_family_budgets(spark, sf_dir, _R8_SHUFFLE_BUDGETS)


_R9_SHUFFLE_BUDGETS = {
    # geo: radius join is broadcast-index (0 exchanges); NN adds only the
    # argmin window's partitioning
    "q_geo_radius_join": 0,
    "q_geo_nearest_supplier": 1,
    "q_geo_grid_density": 2,
    # model build + scoring off ONE persisted per-(doc,tok) tf relation
    # (round-13 restructure: the only corpus-sized shuffle). The static
    # count re-tallies tf's exchange under each of its 5 uncached
    # consumers; at runtime scoped_persist materializes it once.
    "text_naive_bayes": 21,
    # constant-size gradient/weight relations; the 1-row crossJoins are
    # broadcast, each corpus pass map-side
    "q_logreg_gd": 14,
    "q_kmv_distinct_rollup": 6,
    "q_holt_linear_trend": 2,
    # edge build collapses into the checkpoint; relaxations re-plan from it
    "q_bellman_ford_trade": 0,
    "sim_jl_topk": 1,
    "sim_mutual_nn": 6,
}


#: Round-10 block (session round 8): the round-7 close-out family that
#: landed after the last sweep (grid DBSCAN, k-core, CUSUM, RFM, TF-IDF
#: pairs, DP noise, clustering coefficient) plus the round-8 additions
#: (decision stump, de-windowed shard plan, KMV join estimate) and the
#: freshly graded promotions. Budgets are the measured static counts at
#: sf0.001 under the suite session; every plan must be SMJ- and
#: cartesian-free (clustering_coefficient's statless deg x tri join is
#: shuffle_hash hinted for exactly this pin).
_R10_SHUFFLE_BUDGETS = {
    "q_geo_grid_dbscan": 0,  # label rounds hide behind localCheckpoint
    "q_kcore_trade": 1,
    "q_cusum_changepoint": 4,
    "q_rfm_segments": 6,
    "text_tfidf_cosine_pairs": 27,  # tf/df/norm stages + posting self-join
    "q_dp_noisy_counts": 1,
    "q_clustering_coefficient": 2,
    "q_decision_stump": 4,  # bin histogram + bounded-relation ranks
    "corpus_shard_plan": 4,  # dense-ids range exchange + offsets + rollup
    "q_kmv_join_estimate": 12,  # 2 sketch distincts + tiny scalar combines
    "q_time_travel": 0,
    "q_recursive_reachability": 1,
    "sim_ivfadc_topk": 11,
    "q_cms_heavy_hitters": 3,
    # round-8 late additions: composed leak-counting (pair relation
    # localCheckpointed for its 3 consumers), the spectral eigen-solve
    # (rounds hide behind per-round checkpoints), bounded-fan-out CF,
    # and the decorrelated LATERAL (one customer-key exchange)
    "pipeline_leakage_safe_split": 8,
    "q_spectral_partition": 0,
    "q_item_cf": 15,
    "q_lateral_topk": 1,
    "q_mst_boruvka": 3,  # node-keyed label joins; rounds behind checkpoints
    "q_personalized_pagerank": 0,  # iterations hide behind checkpoints
    "q_als_half_step": 2,  # item-vector distinct + one user-key groupBy
}


def test_round10_family_shuffle_budgets(spark, sf_dir):
    _assert_family_budgets(
        spark,
        sf_dir,
        _R10_SHUFFLE_BUDGETS,
        forbid=("SortMergeJoin", "CartesianProduct"),
    )


def test_round9_family_shuffle_budgets(spark, sf_dir):
    _assert_family_budgets(spark, sf_dir, _R9_SHUFFLE_BUDGETS)


def test_dynamic_partition_pruning_fires(spark, sf_dir, tmp_path):
    """Dynamic partition pruning: joining a hive-partitioned fact on its
    partition column against a filtered dim must inject a runtime
    dynamicpruning predicate into the fact scan — at 100 TB this is the
    difference between scanning one partition and scanning the table.
    Catalyst only plans DPP when the partitioned side looks expensive
    enough, so the fact here is the full lineitem joined through a
    partitioned date-key table; the pin asserts the subquery marker in
    the optimized plan."""
    import pyspark.sql.functions as F

    from prefect_flow_arc_alto_to_json_spark.sources import load_table

    fact_dir = str(tmp_path / "orders_part")
    orders = load_table(spark, sf_dir, "orders")
    orders.withColumn(
        "prio", F.substring("o_orderpriority", 1, 1)
    ).write.partitionBy("prio").mode("overwrite").parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    dim = (
        load_table(spark, sf_dir, "orders")
        .select(F.substring("o_orderpriority", 1, 1).alias("prio"))
        .distinct()
        .where(F.col("prio") == "1")
    )
    saved = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.useStats", None)
    try:
        # the tiny local fixture defeats the cost heuristic; force the
        # fallback ratio path so the plan decision is deterministic
        spark.conf.set(
            "spark.sql.optimizer.dynamicPartitionPruning.useStats", "false"
        )
        j = fact.join(dim, "prio").groupBy("prio").count()
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "dynamicpruning" in plan.lower(), plan[:3000]
        assert j.count() > 0
    finally:
        if saved is not None:
            spark.conf.set(
                "spark.sql.optimizer.dynamicPartitionPruning.useStats", saved
            )


def test_aqe_splits_skewed_join_partitions(spark, sf_dir):
    """Catalyst's OptimizeSkewedJoin — the RUNTIME complement of the
    manual salting pair (q_salted_agg_skew / q_salted_join_skew): under
    AQE, a sort-merge join whose one partition dwarfs the advisory size
    must be split in place (skew=true in the final plan) without any
    query rewrite. Pinned with a planted 70%-hot-key join and thresholds
    scaled to the local fixture (1KB vs the production 256MB defaults); at fleet scale the same mechanism fires
    on real 256 MB partitions."""
    import pyspark.sql.functions as F

    from prefect_flow_arc_alto_to_json_spark.sources import load_table

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # repartition(8): the sf0.001 scan is ONE map task, and a skewed
        # reduce partition with a single map block has nothing to split —
        # the optimizer (correctly) skips it. Real clusters always have
        # map parallelism; the fixture must too.
        li = (
            load_table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_quantity")
            .repartition(8)
        )
        # plant the hot key: ~70% of fact rows collapse onto key 1. Both
        # join inputs must be PLAIN shuffles feeding the SMJ directly —
        # a same-key aggregate on one side satisfies the join's
        # distribution without a re-readable shuffle stage, and
        # OptimizeSkewedJoin then has nothing to split (first version of
        # this test proved that the hard way).
        skewed = li.withColumn(
            "k",
            F.when(F.pmod(F.col("l_orderkey"), 10) < 7, F.lit(1)).otherwise(
                F.col("l_orderkey")
            ),
        )
        right = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("k"), "o_totalprice"
        )
        j = skewed.join(right, "k").select(
            F.sum(F.col("l_quantity") + F.col("o_totalprice"))
        )
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:3000]
    finally:
        # conf.get(k, None) returns None for keys never explicitly set
        # (NOT their built-in default) — those must be UNSET, not skipped,
        # or autoBroadcastJoinThreshold=-1 leaks into every later test
        # and flips their static join plans to SortMergeJoin.
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


#: Round-9 family: the ALS alternation, CV-by-histogram, robust MAD,
#: weighted sampling, Yannakakis chain, boosted stumps + directed SCC
#: (both loop-checkpointed — their normal static plans are stubs; the
#: per-iteration bodies are audited in PLAN_AUDIT.md under per-iter).
_R11_SHUFFLE_BUDGETS = {
    "q_als_iteration": 4,
    "q_cv_stump_oof": 10,  # fold-hist groupBy + bounded-relation passes
    "q_mad_outliers": 1,
    "corpus_weighted_sample": 0,  # TakeOrderedAndProject, no exchange
    "q_yannakakis_chain": 4,  # 2 reducer semi-key passes + join + agg
    "q_boosted_stumps": 2,
    "q_scc_trade": 2,
    "q_equidepth_stats": 3,  # boundary/assign passes on the value stub
    "q_frequent_triples": 8,  # basket distinct + pair/triple counting
    "q_hilbert_vs_zorder": 2,
    "q_scd2_pointintime": 2,  # version windows + user-keyed residual join
    "q_k_anon_generalize": 4,  # QI groupBy + hierarchy recheck
    "q_autocorrelation": 5,  # daily rollup + spine + lag join on the calendar
    "q_bootstrap_poisson": 1,  # replica fan-out is map-side; ONE partial agg
}


def test_round11_smj_free(spark, sf_dir):
    """The two self-join-heavy round-9 queries must stay SMJ-free: their
    checkpointed stubs carry no stats, so without the shuffle_hash /
    broadcast hints Catalyst silently SMJ-sorts the basket and lattice
    joins (caught by plan_audit in-round; this pins it)."""
    from prefect_flow_arc_alto_to_json_spark.plans import EXTRA_QUERIES

    for name in ("q_frequent_triples", "q_mad_outliers"):
        plan = (
            EXTRA_QUERIES[name](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "SortMergeJoin" not in plan, name


def test_round11_family_shuffle_budgets(spark, sf_dir):
    _assert_family_budgets(spark, sf_dir, _R11_SHUFFLE_BUDGETS)


def test_yannakakis_reduction_is_dangling_free(spark, sf_dir):
    """The Yannakakis property: after the bottom-up reducer pass, NO
    dangling tuple enters a join — every reduced lineitem row finds its
    order, every reduced order finds a customer AND at least one item.
    This is what distinguishes the explicit reducer from Catalyst's
    probabilistic Bloom pruning (which only shrinks, never guarantees)."""
    from pyspark.sql import functions as F

    from prefect_flow_arc_alto_to_json_spark.sources import load_table

    cust = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", "c_nationkey")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1997-01-01")
        )
        .select("o_orderkey", "o_custkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    o_red = orders.join(
        F.broadcast(cust.select(F.col("c_custkey").alias("o_custkey")).distinct()),
        "o_custkey",
        "left_semi",
    )
    l_red = li.join(
        o_red.select(F.col("o_orderkey").alias("l_orderkey")).distinct(),
        "l_orderkey",
        "left_semi",
    )
    n_l_red = l_red.count()
    assert n_l_red > 0, "probe must be non-vacuous"
    joined = l_red.join(
        o_red.select(F.col("o_orderkey").alias("l_orderkey")), "l_orderkey"
    )
    assert joined.count() == n_l_red  # every reduced item finds its order
    # every reduced order has a customer (semi-join invariant) and, after
    # the item-side reduction, at least one item — i.e. no dangling order
    o_with_items = o_red.join(
        l_red.select(F.col("l_orderkey").alias("o_orderkey")).distinct(),
        "o_orderkey",
        "left_semi",
    )
    assert o_with_items.count() == o_red.select("o_orderkey").distinct().count()


#: Round-12 block (session round 9, second wave): calibration, the
#: vector-state recurrence, the quantile sketch and LOO encoding.
#: Budgets measured at sf0.001 (PLAN_AUDIT rows). Isotonic's 8
#: BroadcastNestedLoopJoins are 10-row bounded lattice joins by
#: construction — SMJ/cartesian stay forbidden.
_R12_SHUFFLE_BUDGETS = {
    "q_isotonic_calibration": 10,  # 1 data-sized binning + 9 tiny-lattice aggs
    "q_holt_winters_seasonal": 2,  # daily pre-agg + the grouped Arrow pass
    "q_quantile_sketch_rollup": 11,  # day/type sketch windows + hist + joins
    "q_target_encode_loo": 2,  # category sums + global 1-row agg
    # wave 3: graph link prediction (edge build behind localCheckpoint,
    # wedge join shuffle_hash), local-DP randomized response, and the
    # vocab-bounded TextRank composition (audited per-iter in PLAN_AUDIT)
    "q_link_prediction": 5,
    "q_randomized_response": 1,
    # wave 4: ER scoring (blocking+cmp behind localCheckpoint; the BNLJ
    # is the 1-row weight crossJoin) and the contraction fold (loops and
    # pair gen behind checkpoints; final assembly only)
    "dedup_fellegi_sunter": 1,
    "dedup_incremental_components": 1,
}


def test_round12_family_shuffle_budgets(spark, sf_dir):
    _assert_family_budgets(
        spark,
        sf_dir,
        _R12_SHUFFLE_BUDGETS,
        forbid=("SortMergeJoin", "CartesianProduct"),
    )


def test_global_windows_only_on_bounded_relations():
    """Round-9 VERDICT #2: every `WindowExec: No Partition Defined`
    warning in the bench tail must be attributable. plan_audit.py now
    counts unpartitioned Window nodes per query (the `global win`
    column); this gate cross-references the committed PLAN_AUDIT.md
    against plan_audit.GLOBAL_WINDOW_ALLOWED — a query may carry a
    global window ONLY with a documented bounded-relation justification.
    Freshness of PLAN_AUDIT.md itself is enforced by the pre-commit
    `plan_audit.py --check` gate, so the artifact this reads tracks the
    live registry."""
    import os
    import re

    import plan_audit as pa

    path = os.path.join(os.path.dirname(__file__), "..", "PLAN_AUDIT.md")
    rows = {}
    for line in open(path):
        if not line.startswith("| ") or line.startswith(("| query", "|---")):
            continue
        cells = [c.strip() for c in line.strip().strip("|").split("|")]
        if len(cells) == 10 and re.fullmatch(r"\d+", cells[9]):
            rows[cells[0]] = int(cells[9])
    assert rows, "PLAN_AUDIT.md has no parseable 10-column rows"
    offenders = sorted(
        n for n, gw in rows.items()
        if gw > 0 and n not in pa.GLOBAL_WINDOW_ALLOWED
    )
    assert not offenders, (
        "queries with an unpartitioned Window but no documented bound in "
        f"plan_audit.GLOBAL_WINDOW_ALLOWED: {offenders}"
    )
    # the allowlist must not rot: every entry names a live audited query
    stale = sorted(set(pa.GLOBAL_WINDOW_ALLOWED) - set(rows))
    assert not stale, f"GLOBAL_WINDOW_ALLOWED references unaudited rows: {stale}"


def test_iterative_set_covers_all_loop_ckpt_callers():
    """STRUCTURAL insurance for the per-iteration audit (round-9
    q_katz_centrality gap, round-12 q_stable_matching gap — both made
    impossible to repeat): derive, from the AST, every registered query
    whose body uses loop_ckpt / loop_rounds / loop_ckpt_counted directly
    OR calls an operator function that does (transitively through
    operators/*.py), and assert each one is in plan_audit.ITERATIVE so
    plan_audit audits its per-round body instead of the vacuous
    post-checkpoint stub."""
    import ast
    import pathlib
    import sys

    sys.path.insert(0, "/root/repo")
    from plan_audit import ITERATIVE

    pkg = pathlib.Path(
        "/root/repo/prefect_flow_arc_alto_to_json_spark"
    )
    loop = {"loop_ckpt", "loop_rounds", "loop_ckpt_counted", "loop_ckpt_lazy"}

    def touched(fn_node):
        out = set()
        for node in ast.walk(fn_node):
            if isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
        return out

    # operator functions -> names they touch (module-level defs only)
    op_touch: dict[str, set] = {}
    for p in (pkg / "operators").glob("*.py"):
        for node in ast.parse(p.read_text()).body:
            if isinstance(node, ast.FunctionDef):
                op_touch[node.name] = touched(node)
    # transitive closure: an operator is loop-using if it touches loop_*
    # or another loop-using operator
    loop_ops: set = set()
    changed = True
    while changed:
        changed = False
        for name, t in op_touch.items():
            if name not in loop_ops and t & (loop | loop_ops):
                loop_ops.add(name)
                changed = True

    needed = set()
    for p in (pkg / "plans").glob("*.py"):
        for node in ast.parse(p.read_text()).body:
            if not isinstance(node, ast.FunctionDef):
                continue
            qname = None
            for dec in node.decorator_list:
                if (
                    isinstance(dec, ast.Call)
                    and getattr(dec.func, "id", "") == "query"
                    and dec.args
                    and isinstance(dec.args[0], ast.Constant)
                ):
                    qname = dec.args[0].value
            if qname and touched(node) & (loop | loop_ops):
                needed.add(qname)

    assert needed, "AST scan found no loop queries — scanner broken?"
    missing = needed - ITERATIVE
    assert not missing, (
        f"loop_ckpt-using queries missing from plan_audit.ITERATIVE: "
        f"{sorted(missing)} — add them so the per-iteration audit sees "
        "their round bodies"
    )
