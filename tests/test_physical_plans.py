"""Physical-plan audits: assert the plans we designed for are the plans
Catalyst actually picks — pushdown reaching the scan, broadcast joins where
a dim side is small, top-k without a global sort, partial aggregation, and
the metas pipeline's single shuffle. A regression here is a 100 TB
performance bug even when results stay correct."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from metas_judiciarias_etl_spark import registry
from metas_judiciarias_etl_spark.metas.pipeline import compute_resumo, read_court_csvs
from tests import metas_fixtures

registry.load_all()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def _without_fanout(plan: str) -> str:
    """Mask the deliberate small-scan fan-out exchange (sources/parquet.py:
    a keyless round-robin repartition on the documents/embeddings compute
    roots) so map-only / shuffle-count assertions below judge the QUERY's
    shuffles, not the gated input fan-out."""
    return plan.replace("Exchange RoundRobinPartitioning", "ScanFanout")


@pytest.fixture(scope="module")
def sf(sf_small):
    return sf_small


def test_q1_filter_pushdown_and_pruning(spark, sf):
    df = registry.QUERIES["q1_pricing_summary"](spark, sf)
    plan = _formatted(df)
    # the shipdate predicate must reach the parquet scan...
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # ...and the scan must NOT read columns the query never touches
    assert "l_comment" not in plan
    assert "l_partkey" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_q5_broadcasts_all_dims(spark, sf):
    df = registry.QUERIES["q5_local_supplier_volume"](spark, sf)
    plan = _plan(df)
    # supplier/nation/region ride broadcast joins; orders⋈lineitem is the
    # only shuffle join
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1


def test_j1_dim_lookup_is_broadcast_no_shuffle_on_fact(spark, sf):
    df = registry.QUERIES["j1_dim_lookup_fallback"](spark, sf)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    # no exchange on the probe side: the only exchange is the broadcast one
    assert plan.count("Exchange") == plan.count("BroadcastExchange")


def test_topk_avoids_global_sort(spark, sf):
    df = registry.QUERIES["w1_topk_sort"](spark, sf)
    plan = _plan(df)
    # orderBy+limit must compile to per-partition top-k + driver merge
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_agg_is_partial_then_final(spark, sf):
    df = registry.QUERIES["q1_pricing_summary"](spark, sf)
    plan = _plan(df)
    # two HashAggregates (partial + final) around one shuffle: map-side
    # combine is on
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan or "partial" in _formatted(df)


def test_whole_stage_codegen_covers_agg(spark, sf):
    df = registry.QUERIES["a4_guarded_ratio_kernel"](spark, sf)
    sc = df.sparkSession.sparkContext
    # AQE hides codegen spans pre-execution; 'codegen' mode compiles them
    plan = sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "codegen")
    assert "WholeStageCodegen" in plan  # kernels stayed UDF-free / JVM-side


def test_metas_pipeline_single_shuffle(spark, tmp_path):
    d = str(tmp_path / "courts")
    metas_fixtures.generate(d)
    resumo = compute_resumo(read_court_csvs(spark, d))
    plan = _plan(resumo)
    # the whole metas computation is ONE groupBy shuffle; factors are a
    # folded CASE tree (no join at all)
    n_shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert n_shuffles == 1, f"expected exactly 1 shuffle, plan:\n{plan[:2000]}"
    assert "Join" not in plan
    assert "pythonUDF" not in plan.lower()


def test_dedup_exact_partial_agg(spark, sf):
    df = registry.QUERIES["dedup_exact"](spark, sf)
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 2  # map-side combine on md5 key


def test_similarity_bruteforce_broadcasts_queries(spark, sf):
    df = registry.QUERIES["sim_cosine_topk_bruteforce"](spark, sf)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_q18_aggregates_before_join(spark, sf):
    df = registry.QUERIES["q18_large_volume_customers"](spark, sf)
    plan = _plan(df)
    # partial+final agg on lineitem, and the HAVING filter sits on the
    # aggregate output — not a post-join filter over raw lineitem rows
    assert plan.count("HashAggregate") >= 2
    agg_idx = plan.index("HashAggregate")
    join_idx = min(
        i for i in (plan.find("SortMergeJoin"), plan.find("ShuffledHashJoin"),
                    plan.find("BroadcastHashJoin")) if i >= 0
    )
    # tree prints top-down: joins sit ABOVE (before) the aggregate child
    assert join_idx < agg_idx
    assert "CartesianProduct" not in plan


def test_q10_broadcasts_nation_and_takes_topk(spark, sf):
    df = registry.QUERIES["q10_returned_revenue"](spark, sf)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan  # nation (25 rows) never shuffles
    assert "TakeOrderedAndProject" in plan  # top-20 without a global sort
    fmt = _formatted(df)
    # the returnflag filter reaches the lineitem parquet scan
    assert "EqualTo(l_returnflag,R)" in fmt


def test_decontam_broadcasts_eval_side(spark, sf):
    df = registry.QUERIES["decontam_ngram_overlap"](spark, sf)
    plan = _plan(df)
    # the benchmark shingle set broadcasts; the training side is probed
    # without a shuffle join, and nothing degrades to all-pairs
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_top_tokens_is_partial_count_plus_topk(spark, sf):
    df = registry.QUERIES["text_top_tokens"](spark, sf)
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 2  # map-side partial counts
    assert "TakeOrderedAndProject" in plan  # no global sort for the top-25
    assert "rangepartitioning" not in plan.lower()


def test_q8_broadcasts_every_dimension(spark, sf):
    df = registry.QUERIES["q8_market_share"](spark, sf)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 6
    # at most the fact-fact join shuffles; the final agg is the only
    # other exchange
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1
    assert "CartesianProduct" not in plan


def test_q19_disjunction_stays_hash_join(spark, sf):
    df = registry.QUERIES["q19_disjunctive_revenue"](spark, sf)
    plan = _plan(df)
    # the OR-of-ANDs predicate must not degrade the equi-join to a
    # nested-loop/cartesian plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_pii_scrub_is_map_only(spark, sf):
    df = registry.QUERIES["text_pii_scrub"](spark, sf)
    plan = _without_fanout(_plan(df))
    assert "Exchange" not in plan  # zero shuffles beyond the scan fan-out
    assert "pythonUDF" not in plan.lower()


def test_aqe_runtime_replans_shuffle_reads(spark, sf):
    """AQE must actually re-plan at runtime: after execution the final
    adaptive plan shows coalesced shuffle reads (32 static shuffle
    partitions are wrong for small stage outputs — and for 100 TB stage
    outputs in the other direction; the point is the runtime feedback
    loop is ON and effective, not the static setting)."""
    df = registry.QUERIES["q3_shipping_priority"](spark, sf)
    df.collect()  # drive THIS DataFrame's QueryExecution to the final plan
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    assert "AQEShuffleRead" in plan


def test_dpp_partitioned_fact_prunes_at_runtime(spark, sf, tmp_path):
    """Dynamic partition pruning: a partitioned fact joined to a filtered
    dim plans a dynamicpruning subquery on the partition column — at
    scale the fact side reads only the dim-selected partitions."""
    from metas_judiciarias_etl_spark.sources.layout import write_partitioned
    from metas_judiciarias_etl_spark.sources.parquet import load_table

    ev = load_table(spark, sf, "events")
    path = str(tmp_path / "events_dpp")
    write_partitioned(ev, path, ["event_type"])
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("click", 1), ("view", 2), ("error", 3)], "event_type string, w int"
    ).filter(F.col("w") == 1)
    joined = fact.join(dim, "event_type")
    plan = _plan(joined)
    assert "dynamicpruning" in plan.lower(), plan[:1500]


def test_topn_per_group_uses_group_limit(spark, sf):
    df = registry.QUERIES["window_topn_per_group"](spark, sf)
    plan = _plan(df)
    # rn <= 3 must push into the window sort as a group-limit so a hot
    # group keeps 3 rows past its sort instead of ranking everything
    assert "WindowGroupLimit" in plan


def test_sessionize_single_shuffle(spark, sf):
    """Both session windows and the per-session aggregate share the
    user_id hash partitioning — the whole sessionization must be ONE
    shuffle (a second exchange on (user_id, session_seq) would mean
    Catalyst missed that the subset partitioning already co-locates it)."""
    df = registry.QUERIES["sessionize_events"](spark, sf)
    plan = _plan(df)
    n_shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert n_shuffles == 1, plan[:2000]
    assert "pythonUDF" not in plan.lower()


def test_concurrent_intervals_aggregates_before_global_window(spark, sf):
    """Sweep-line concurrency: the day-level groupBy (partial+final) must
    collapse cardinality BEFORE the single-partition running-sum window —
    the window over raw boundary events would be a data-volume sort."""
    df = registry.QUERIES["concurrent_intervals"](spark, sf)
    plan = _plan(df)
    assert plan.count("Window") == 1
    assert plan.count("HashAggregate") >= 2  # map-side partial on day key
    win_idx = plan.index("Window")
    agg_idx = plan.index("HashAggregate")
    # tree prints top-down: the window sits above the aggregate child
    assert win_idx < agg_idx, plan[:2000]


def test_histogram_is_one_partial_agg_no_join(spark, sf):
    df = registry.QUERIES["histogram_equi_width"](spark, sf)
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 2  # ≤20 buckets after map-side combine
    assert "Join" not in plan
    n_shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert n_shuffles == 1, plan[:2000]


def test_pagerank_iterations_stay_broadcast(spark, sf):
    """After the DISTINCT edge build (≤ V² nation pairs, lineage truncated
    by localCheckpoint) every iteration join is over tiny tables — all
    broadcast, no cartesian, no sort-merge."""
    df = registry.QUERIES["pagerank_integer"](spark, sf)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_tfidf_topk_uses_group_limit_and_broadcast_count(spark, sf):
    df = registry.QUERIES["text_tfidf_topk"](spark, sf)
    plan = _plan(df)
    # rn <= 5 pushes into the per-source window sort as a group limit
    assert "WindowGroupLimit" in plan
    # the 1-row corpus count rides a broadcast, never a shuffle
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    # round 8: ONE tokenize lineage — df rides a window over token, so
    # the old tf-join-dfreq (a second tokenize subtree) must be gone
    assert "SortMergeJoin" not in plan
    assert plan.count("Generate") == 1


def test_gapfill_grid_is_broadcast_not_cartesian_shuffle(spark, sf):
    df = registry.QUERIES["gapfill_locf"](spark, sf)
    plan = _plan(df)
    # grid = tiny bounds row x distinct keys: must be a broadcast-side
    # product, never a shuffle cartesian; LOCF is exactly one Window pass
    assert "CartesianProduct" not in plan
    assert plan.count("Window") == 1


def test_runtime_bloom_filter_prunes_shuffle_join_probe(spark, sf):
    """Runtime bloom-filter injection: when a selective dim side of a
    SHUFFLE join is small, Catalyst builds a bloom filter from it and
    applies `might_contain` on the fact side BEFORE the fact shuffle —
    at 100 TB this drops most fact rows pre-exchange. Verify the rewrite
    actually fires in this Spark build (thresholds scaled to test data;
    autoBroadcast off to force the shuffle-join shape that needs it)."""
    from metas_judiciarias_etl_spark.sources.parquet import load_table

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB"
        )
        li = load_table(spark, sf, "lineitem")
        supp = load_table(spark, sf, "supplier").filter(
            F.col("s_acctbal") > 9000  # selective: bloom build side stays tiny
        )
        joined = li.join(supp, li["l_suppkey"] == supp["s_suppkey"]).groupBy(
            "s_nationkey"
        ).agg(F.count(F.lit(1)).alias("n"))
        plan = _plan(joined)
        assert "might_contain" in plan, plan[:2500]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_ohlc_is_one_partial_agg_shuffle(spark, sf):
    df = registry.QUERIES["ohlc_bars"](spark, sf)
    plan = _plan(df)
    # struct-valued min/max can't use a mutable hash buffer, so Spark picks
    # SortAggregate — still partial (map-side) + final around exactly ONE
    # exchange, which is the property that matters at scale
    assert plan.count("SortAggregate") + plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_time_weighted_avg_single_user_shuffle(spark, sf):
    df = registry.QUERIES["time_weighted_avg"](spark, sf)
    plan = _plan(df)
    # lead() and the final agg share the user_id partitioning: the window
    # shuffle is the only fact-sized exchange (agg reuses or coalesces it)
    assert plan.count("Exchange") <= 2
    assert "Join" not in plan


def test_anomaly_zscore_broadcasts_moments(spark, sf):
    df = registry.QUERIES["anomaly_zscore"](spark, sf)
    plan = _plan(df)
    # the 3-row moment table must come back via broadcast, never a
    # fact-sized shuffle join
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_chunk_documents_is_map_only(spark, sf):
    df = registry.QUERIES["chunk_documents"](spark, sf)
    plan = _without_fanout(_plan(df))
    # sequence+explode row expansion stays in the scan(-fanout) partition
    assert "Exchange" not in plan
    assert "Generate" in plan


def test_zorder_interleave_stays_in_codegen(spark, sf):
    df = registry.QUERIES["zorder_bucket"](spark, sf)
    plan = _plan(df)
    # 20 bit-ops fold into the scan-stage projection: one tiny-key shuffle
    assert plan.count("Exchange") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_corr_exact_one_partial_agg(spark, sf):
    df = registry.QUERIES["corr_exact"](spark, sf)
    plan = _plan(df)
    # all five moments fold into one partial+final aggregate pass
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") == 1


def test_skyline_local_pass_reduces_before_global_sort(spark, sf):
    df = registry.QUERIES["skyline_dominance"](spark, sf)
    plan = _plan(df)
    # pass 1 partitions by hash bucket (parallel), pass 2's single-partition
    # sort only ever sees local-skyline survivors
    assert plan.count("Window") >= 2
    assert "hashpartitioning(__b" in plan


def test_weighted_sample_uses_group_limit(spark, sf):
    df = registry.QUERIES["weighted_sample_topk"](spark, sf)
    plan = _plan(df)
    # rank<=k compiles to WindowGroupLimit: per-partition top-k pre-filter
    assert "WindowGroupLimit" in plan


def test_grouped_linear_fit_is_single_arrow_exchange(spark, sf):
    df = registry.QUERIES["grouped_linear_fit"](spark, sf)
    plan = _plan(df)
    # one group shuffle feeding the Arrow worker; the window pre-pass
    # shares the same event_type partitioning (no second fact shuffle)
    assert "FlatMapGroupsInPandas" in plan
    assert plan.count("Exchange") - plan.count("BroadcastExchange") <= 1


def test_snapshot_diff_joins_once_on_the_key(spark, sf):
    df = registry.QUERIES["table_snapshot_diff"](spark, sf)
    plan = _plan(df)
    # one full-outer key join + the final tiny-key agg; never a cartesian
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan


def test_spatial_grid_join_avoids_cross_product(spark, sf):
    df = registry.QUERIES["spatial_grid_join"](spark, sf)
    plan = _plan(df)
    # the radius join must ride the grid-cell equi-join, never a
    # cartesian/nested-loop pairing
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_skew_salted_join_honors_shuffle_hash(spark, sf):
    df = registry.QUERIES["skew_salted_join"](spark, sf)
    plan = _plan(df)
    # the hint must keep the salted join on the shuffle path (the demo is
    # about spreading a hot key across tasks)
    assert "ShuffledHashJoin" in plan


def test_pq_codebook_broadcasts_and_aggregates_once(spark, sf):
    df = registry.QUERIES["pq_code_histogram"](spark, sf)
    plan = _plan(df)
    # the 8-row codebook rides a broadcast nested-loop (tiny, by design);
    # the per-vector argmin is partial+final around ONE fact shuffle
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    # count actual shuffle nodes, not the substring (ReusedExchange and
    # BroadcastExchange also contain "Exchange")
    n_shuffles = plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange SinglePartition"
    ) + plan.count("Exchange rangepartitioning")
    assert n_shuffles <= 2  # argmin agg + tiny code histogram


def test_pq_adc_search_all_joins_broadcast(spark, sf):
    df = registry.QUERIES["sim_l2_topk_pq"](spark, sf)
    plan = _plan(df)
    # every tiny side (codebook x2, distance table) is explicitly broadcast —
    # the code join and both crossJoins must never fall to a shuffle join or
    # an unbroadcast cartesian pairing
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_normalized_dedup_fuses_into_scan(spark, sf):
    df = registry.QUERIES["dedup_normalized_text"](spark, sf)
    plan = _plan(df)
    # canonicalize + hash must fuse into the scan stage (one Project over
    # FileScan, no UDF); count(distinct raw_hash) expands to the standard
    # two-phase distinct agg, so exactly 2 shuffles — the second carries
    # already-reduced (norm_hash, raw_hash) pairs, not document text
    n_shuffles = plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange SinglePartition"
    ) + plan.count("Exchange rangepartitioning")
    assert n_shuffles == 2
    assert "BatchEvalPython" not in plan  # no row-at-a-time UDF
    assert plan.count("HashAggregate") >= 3  # partials before every exchange


def test_decontam_containment_broadcasts_eval_side(spark, sf):
    df = registry.QUERIES["decontam_containment"](spark, sf)
    plan = _plan(df)
    assert "BroadcastExchange" in plan  # eval shingles ride a broadcast
    assert "CartesianProduct" not in plan


def test_retention_cohorts_no_cartesian(spark, sf):
    df = registry.QUERIES["retention_cohorts"](spark, sf)
    plan = _plan(df)
    # cohort join keys on user_id (same key as the cohort aggregation)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_audio_rms_is_map_only(spark, sf):
    df = registry.QUERIES["mm_audio_rms_windows"](spark, sf)
    plan = _without_fanout(_plan(df))
    assert "Exchange" not in plan  # explode-in-partition, zero query shuffles


def test_dataset_split_is_single_agg(spark, sf):
    df = registry.QUERIES["dataset_split_hash"](spark, sf)
    plan = _plan(df)
    # split predicate is a scan-stage projection; one partial+final agg
    n_shuffles = plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange SinglePartition"
    ) + plan.count("Exchange rangepartitioning")
    assert n_shuffles == 1


# ---------------------------------------------------------------------------
# Round-4 additions
# ---------------------------------------------------------------------------
def test_ewma_window_and_agg_share_user_shuffle(spark, sf):
    df = registry.QUERIES["ewma_halflife"](spark, sf)
    plan = _plan(df)
    # row_number window and the groupBy both key on user_id: one exchange
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_bitmap_distinct_is_two_partial_aggs_no_expand(spark, sf):
    df = registry.QUERIES["bitmap_distinct_users"](spark, sf)
    plan = _plan(df)
    # the whole point: distinct counting WITHOUT an Expand/count-distinct
    # rewrite — two partial-aggregatable integer aggs, nothing else
    assert "Expand" not in plan
    assert plan.count("Exchange") == 2
    assert "Join" not in plan


def test_compaction_bins_window_partitions_by_source(spark, sf):
    df = registry.QUERIES["compaction_bins"](spark, sf)
    plan = _plan(df)
    # the prefix-sum window must partition by source (no global ordering)
    assert "Window" in plan
    assert "hashpartitioning(source" in plan
    # one shuffle for the window, one for the (source, bin) agg at most
    assert plan.count("Exchange") <= 2
    assert "Join" not in plan


def test_cms_sketch_and_probes_join_broadcast(spark, sf):
    df = registry.QUERIES["cms_heavy_hitters"](spark, sf)
    plan = _plan(df)
    # the 4-row depth table and the 1024-cell sketch ride broadcasts;
    # nothing fact-sized ever sort-merge-joins
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_phrase_search_filters_before_join(spark, sf):
    df = registry.QUERIES["text_phrase_search"](spark, sf)
    plan = _formatted(df)
    # each side must filter its term BEFORE the positional join (posting-
    # list probe, not corpus-wide join): the token predicates appear as
    # Filter operators feeding the join, and the join is an equi hash join
    assert "SortMergeJoin" in _plan(df) or "ShuffledHashJoin" in _plan(df) or "BroadcastHashJoin" in _plan(df)
    assert plan.count("Filter") >= 2


def test_kcore_rounds_reuse_persisted_edges(spark, sf):
    df = registry.QUERIES["graph_kcore_peel"](spark, sf)
    plan = _plan(df)
    # every peel round reads the persisted edge set, not the raw scan:
    # the lineitem self-join appears once as InMemoryTableScan reuse
    assert "InMemoryTableScan" in plan


def test_scene_cuts_single_doc_window_shuffle(spark, sf):
    df = registry.QUERIES["mm_scene_cuts"](spark, sf)
    plan = _plan(df)
    # Arrow worker (map-only) -> one doc_id exchange shared by the lag
    # window and the per-doc agg
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan
    assert plan.count("Exchange") <= 2
    assert "Join" not in plan


def test_stream_static_enrich_broadcasts_dim(spark, sf):
    df = registry.QUERIES["stream_static_enrich"](spark, sf)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_winsorized_bounds_broadcast_back(spark, sf):
    df = registry.QUERIES["winsorized_stats"](spark, sf)
    plan = _plan(df)
    # the 3-row bounds table must come back via broadcast, and the rank
    # window must not add a second fact-sized exchange beyond the group key
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_key_skew_hhi_two_partial_aggs_no_sort(spark, sf):
    df = registry.QUERIES["key_skew_hhi"](spark, sf)
    plan = _plan(df)
    # the point vs Gini: concentration WITHOUT any global sort or window
    assert "Window" not in plan
    assert "Sort " not in plan
    assert plan.count("Exchange") == 2


def test_ri_audit_uses_anti_joins(spark, sf):
    df = registry.QUERIES["ri_orphan_audit"](spark, sf)
    plan = _plan(df)
    assert plan.count("LeftAnti") >= 3


def test_period_over_period_windows_after_rollup(spark, sf):
    df = registry.QUERIES["period_over_period"](spark, sf)
    plan = _plan(df)
    # the lag window must run over the monthly rollup (tiny), never the
    # raw fact rows: Window sits above the final HashAggregate
    assert plan.index("Window") < plan.index("HashAggregate")
    assert "Join" not in plan


def test_array_set_ops_is_map_only(spark, sf):
    df = registry.QUERIES["array_set_ops"](spark, sf)
    plan = _without_fanout(_plan(df))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_column_profile_single_pass_expand(spark, sf):
    df = registry.QUERIES["dq_column_profile"](spark, sf)
    plan = _plan(df)
    # one Expand-based multi-distinct pass: distinct-expansion exchange +
    # the final single-partition gather, nothing else; stack() runs above
    # the aggregate, so no join and no window ever touch fact rows
    assert "Expand" in plan
    assert plan.count("Exchange") == 2
    assert "Join" not in plan


def test_basket_pairs_no_cartesian_topk(spark, sf):
    df = registry.QUERIES["basket_pair_counts"](spark, sf)
    plan = _plan(df)
    # pair generation is an equi-join on l_orderkey with the < predicate
    # as a join condition — never a cartesian/nested-loop product
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_interval_coverage_single_user_exchange(spark, sf):
    df = registry.QUERIES["interval_coverage"](spark, sf)
    plan = _plan(df)
    # gaps-and-islands end-to-end on ONE user_id exchange: both windows,
    # the per-island extent agg, and the per-user rollup reuse it
    assert plan.count("Exchange") == 1
    assert plan.count("Window") == 2
    assert "Join" not in plan


def test_path_trigrams_shared_window_sort(spark, sf):
    df = registry.QUERIES["path_trigrams"](spark, sf)
    plan = _plan(df)
    # both lead() columns fold into one Window over one (user_id) sort;
    # top-k is TakeOrderedAndProject, not a global sort
    assert plan.count("Window") == 1
    assert plan.count("Exchange") == 2
    assert "TakeOrderedAndProject" in plan


def test_attribution_shares_window_exchange(spark, sf):
    df = registry.QUERIES["attribution_last_touch"](spark, sf)
    plan = _plan(df)
    # both running last() columns fold into ONE Window over one user_id
    # exchange; the only other exchange is the 3-key channel rollup
    assert plan.count("Window") == 1
    assert plan.count("Exchange") == 2
    assert "Join" not in plan


def test_vocab_coverage_ranks_vocabulary_not_corpus(spark, sf):
    df = registry.QUERIES["vocab_coverage"](spark, sf)
    plan = _plan(df)
    # the rank window's single-partition sort must sit ABOVE the token
    # count aggregate (vocabulary-sized input), never below it
    assert plan.index("HashAggregate") < plan.index("Window")
    assert plan.count("Window") == 1
    assert "Join" not in plan


def test_df_spectrum_no_joins_two_aggs(spark, sf):
    # round 8: the (doc_id, token) de-dup moved in-row (array_distinct
    # before the explode), deleting the fact-scale DISTINCT exchange —
    # two exchanges remain: token-keyed df count + tiny band rollup
    df = registry.QUERIES["token_df_spectrum"](spark, sf)
    plan = _without_fanout(_plan(df))
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("Exchange") == 2


def test_label_propagation_no_cartesian(spark, sf):
    df = registry.QUERIES["graph_label_propagation"](spark, sf)
    plan = _plan(df)
    # every per-round join is an equi-join on node ids
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_equi_depth_boundary_row_broadcasts(spark, sf):
    df = registry.QUERIES["histogram_equi_depth"](spark, sf)
    plan = _plan(df)
    # the 1-row quantile boundary table must come back via broadcast;
    # no window/sort anywhere — just two aggs and the broadcast join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan


def test_rrf_fusion_adds_no_fact_scale_work(spark, sf):
    df = registry.QUERIES["sim_rank_fusion_rrf"](spark, sf)
    plan = _plan(df)
    # fusion layers two windows + one keyed agg over per-query top-k
    # lists; it must not introduce any cartesian/nested-loop join beyond
    # what the composed indexes already use
    assert "CartesianProduct" not in plan
    fused_windows = plan.count("Window")
    assert fused_windows >= 3  # per-list re-rank x2 + fused top-k


def test_emb_outlier_moments_broadcast_back(spark, sf):
    df = registry.QUERIES["emb_outlier_zscore"](spark, sf)
    plan = _plan(df)
    # the (label, dim) moment table joins back by broadcast — the
    # exploded fact side must never shuffle for the join itself
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name", ["emb_centroids", "emb_outlier_zscore", "emb_pca_top_component"]
)
def test_embedding_moments_are_partial_aggregatable(spark, sf, name):
    df = registry.QUERIES[name](spark, sf)
    plan = _plan(df)
    # the fact-scale moment aggregations are plain integer sums: codegen
    # HashAggregate with map-side partials, NOT an ObjectHashAggregate
    # buffering a collect_list of the whole group (the 100x scale-killer
    # this family used to carry). emb_pca's power-iteration loop still
    # folds DIM-bounded lists — those groups are 64 rows, fine — so the
    # assertion is on the object-agg operator, absent everywhere except
    # that bounded loop.
    if name != "emb_pca_top_component":
        assert "HashAggregate" in plan
        assert "collect_list" not in plan
        assert "ObjectHashAggregate" not in plan
    else:
        # round 8: the covariance table and every power-iteration vector
        # are eagerly localCheckpoint-ed (the per-vector self-join became
        # an in-row posexplode assembly, and iteration k must not replay
        # iterations 1..k-1) — so the residual plan reads checkpointed
        # partitions instead of carrying the 700+-Exchange lineage
        # (git show 36a4832:plans/r08/emb_pca_top_component_{before,after}.txt:
        # 724 -> 0).
        # The moment aggregations themselves are covered by the two
        # uncheckpointed family members above.
        assert "Scan ExistingRDD" in plan
        assert "ObjectHashAggregate" not in plan


def test_source_matrix_lookups_broadcast(spark, sf):
    df = registry.QUERIES["dedup_source_matrix"](spark, sf)
    plan = _plan(df)
    # both doc_id -> source lookups ride explicit broadcasts; the pair
    # list must never be shuffled for them
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_label_margin_lookups_broadcast(spark, sf):
    df = registry.QUERIES["sim_label_margin"](spark, sf)
    plan = _plan(df)
    # the two label lookups against the top-k list are broadcast joins
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_bloom_prune_probe_side_never_shuffle_joins(spark, sf):
    df = registry.QUERIES["bloom_semi_join_prune"](spark, sf)
    plan = _plan(df)
    # three word-table probes + the build-key truth lookup all ride
    # broadcasts; the fact-side lineitem scan joins without any keyed
    # shuffle (the whole point of a runtime bloom filter), and the only
    # nested-loop is the final 1-row bits_set crossJoin
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_zonemap_is_metadata_scale(spark, sf):
    df = registry.QUERIES["data_skipping_zonemap"](spark, sf)
    plan = _plan(df)
    # one bucket-keyed aggregation builds the zone table; the soundness
    # check joins it back by broadcast; the 1-row stats crossJoin is a
    # broadcast nested loop — never a shuffle join, never a sort
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_prefix_filter_never_degrades_to_all_pairs(spark, sf):
    df = registry.QUERIES["dedup_prefix_filter_jaccard"](spark, sf)
    plan = _plan(df)
    # candidates must come from the shingle-keyed prefix join — never a
    # cartesian/nested-loop expansion over the corpus
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hits_normalizers_broadcast(spark, sf):
    df = registry.QUERIES["graph_hits_scores"](spark, sf)
    plan = _plan(df)
    # round 8: the edge table and each half-round's score table are
    # eagerly localCheckpoint-ed — the round-7 lazy persist left every
    # normalizer's broadcast job replaying the whole upstream chain per
    # branch (11.3 s bench tail). The normalizer broadcasts now execute
    # inside the per-round build jobs, so the residual plan must read
    # checkpointed partitions instead of carrying the iteration lineage
    # (git show 36a4832:plans/r08/graph_hits_scores_{before,after}.txt:
    # 484 Exchange -> 0)
    # and stay free of cartesian expansion.
    assert "Scan ExistingRDD" in plan
    assert "Exchange" not in plan  # lineage truncated, nothing replayed
    assert "CartesianProduct" not in plan


def test_gini_ranks_within_nation_single_fact_shuffle(spark, sf):
    df = registry.QUERIES["gini_concentration"](spark, sf)
    plan = _plan(df)
    # orders aggregate per customer, join customer on the same key, rank
    # inside nation partitions; the nation name lookup broadcasts; no
    # cartesian anywhere
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ks_windows_over_distinct_support_only(spark, sf):
    df = registry.QUERIES["ks_two_sample"](spark, sf)
    plan = _plan(df)
    # the reference-source scalar and the totals row ride broadcast
    # nested loops (1-row sides; the per-value branch repeats in the
    # totals subtree, so 3 appear); the corpus is touched only by
    # metric-keyed hash aggregations before the window
    assert plan.count("BroadcastNestedLoopJoin") == 3
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 2


def test_jackknife_second_stage_is_bucket_scale(spark, sf):
    df = registry.QUERIES["jackknife_bucket_ci"](spark, sf)
    plan = _plan(df)
    # one fact shuffle into 32 bucket partials with map-side combine;
    # the fold stage is a single-partition 32-row aggregate — no joins
    assert "partial_sum" in plan or "HashAggregate" in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_bfs_frontier_joins_broadcast(spark, sf):
    df = registry.QUERIES["graph_bfs_distance"](spark, sf)
    plan = _plan(df)
    # every frontier expansion and visited anti-join rides a vertex-scale
    # broadcast; nothing cartesian, no sort-merge join in the loop
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_collocation_topk_never_global_sorts(spark, sf):
    df = registry.QUERIES["text_collocation_pmi"](spark, sf)
    plan = _plan(df)
    # top-k by lift is TakeOrderedAndProject over the scored
    # vocabulary-sized table — a full Sort+Exchange would be the 100 TB
    # regression; the 1-row total joins by broadcast
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_lsh_recall_hit_count_is_pair_keyed(spark, sf):
    df = registry.QUERIES["dedup_lsh_recall"](spark, sf)
    plan = _plan(df)
    # the truth-vs-candidate intersection is a semi join on the pair key;
    # the only nested loops are the two 1-row count crossJoins
    assert "LeftSemi" in plan
    assert plan.count("BroadcastNestedLoopJoin") == 2
    assert "CartesianProduct" not in plan


def test_cow_amplification_single_scan_no_join(spark, sf):
    df = registry.QUERIES["cow_write_amplification"](spark, sf)
    plan = _plan(df)
    # the delete predicate folds into the one file-keyed aggregation —
    # no join, no second scan of the fact table
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1


def test_modularity_label_joins_broadcast(spark, sf):
    df = registry.QUERIES["graph_modularity"](spark, sf)
    plan = _plan(df)
    # vertex-scale label lookups broadcast onto the edge table; the
    # 1-row edge total is the only nested loop (the composed LPA subplan
    # keeps its own keyed-shuffle joins — those are the registered
    # query's documented shape, not this audit's)
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "CartesianProduct" not in plan


def test_int8_quantize_is_map_only(spark, sf):
    df = registry.QUERIES["emb_int8_quantize"](spark, sf)
    plan = _without_fanout(_plan(df))
    # pure per-row array math: no query exchange, no aggregate, no join
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_burstiness_two_agg_no_join(spark, sf):
    df = registry.QUERIES["events_user_burstiness"](spark, sf)
    plan = _plan(df)
    # fact rows -> (type,user) partials -> type moments; nothing else
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 3


def test_pointbiserial_flag_join_is_doc_keyed(spark, sf):
    df = registry.QUERIES["quality_dup_pointbiserial"](spark, sf)
    plan = _plan(df)
    # the membership flag joins on doc_id (broadcast or keyed) — never a
    # cartesian expansion over the corpus
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_zipf_sorts_only_the_top_v(spark, sf):
    df = registry.QUERIES["text_zipf_slope"](spark, sf)
    plan = _plan(df)
    # top-V extraction is TakeOrderedAndProject (per-partition top-k +
    # driver merge); the only full Sort in the plan feeds the V-row
    # rank window, not the vocabulary table
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan


def test_burst_collapse_single_user_window_exchange(spark, sf):
    df = registry.QUERIES["events_burst_collapse"](spark, sf)
    plan = _plan(df)
    # one keyed window exchange + the type rollup; no joins
    assert "Join" not in plan
    assert plan.count("Window") == 1


def test_neyman_single_fact_pass_constant_state(spark, sf):
    df = registry.QUERIES["neyman_allocation"](spark, sf)
    plan = _plan(df)
    # one stratum-keyed aggregation over the scan; the denominator fold
    # and rebroadcast run over stratum-cardinality rows (1-row crossJoin)
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "SortMergeJoin" not in plan
    assert plan.count("Scan parquet") <= 2


def test_boilerplate_single_hash_agg_topk(spark, sf):
    df = registry.QUERIES["boilerplate_chunks"](spark, sf)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan


def test_seasonal_anomaly_is_calendar_scale_after_decompose(spark, sf):
    df = registry.QUERIES["seasonal_residual_anomaly"](spark, sf)
    plan = _plan(df)
    # one calendar-sized fold + a 1-row broadcast back; the composed
    # decomposition contributes the only fact-scale work
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "CartesianProduct" not in plan


def test_nprobe_curve_reuses_one_index_build(spark, sf):
    df = registry.QUERIES["sim_ivf_nprobe_curve"](spark, sf)
    plan = _plan(df)
    # the assignment/probe caches feed all three settings: the union's
    # branches must read InMemoryTableScan, not rebuild the index
    assert plan.count("InMemoryTableScan") >= 6
    assert "CartesianProduct" not in plan


def test_band_sweep_shares_one_signature_build(spark, sf):
    df = registry.QUERIES["dedup_lsh_band_sweep"](spark, sf)
    plan = _plan(df)
    # all three banding schemes, the truth semi joins, and the hashed
    # verify joins read persisted tables — never a cartesian expansion
    assert plan.count("InMemoryTableScan") >= 8
    assert "CartesianProduct" not in plan


def test_bpe_curve_reads_cached_states(spark, sf):
    df = registry.QUERIES["bpe_compression_curve"](spark, sf)
    plan = _plan(df)
    # per-state counts read the persisted sequence tables; no joins
    assert "InMemoryTableScan" in plan
    assert "Join" not in plan


def test_gate_sweep_single_cached_pass(spark, sf):
    df = registry.QUERIES["quality_gate_sweep"](spark, sf)
    plan = _plan(df)
    # three thresholds ride conditional aggregates over ONE cached join
    # result; the totals row broadcasts back per threshold
    assert plan.count("InMemoryTableScan") >= 3
    assert "CartesianProduct" not in plan


def test_theil_sen_pairs_join_is_calendar_scale(spark, sf):
    df = registry.QUERIES["theil_sen_trend"](spark, sf)
    plan = _plan(df)
    # the pairwise-slope join runs over the cached month rollup (calendar
    # rows), not the fact table — both median passes and the pair join
    # read InMemoryTableScan (each cached relation PRINTS its build
    # subtree, so counting raw parquet scans here would over-count)
    assert plan.count("InMemoryTableScan") >= 3
    assert plan.count("BroadcastNestedLoopJoin") == 2  # m>m filter + slope


def test_minhash_estimate_joins_are_doc_keyed(spark, sf):
    df = registry.QUERIES["dedup_minhash_estimate_error"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan  # shared signature cache


def test_decontam_curve_probes_broadcast(spark, sf):
    df = registry.QUERIES["decontam_ngram_size_curve"](spark, sf)
    plan = _plan(df)
    # every per-K probe joins against a broadcast eval shingle set —
    # the training side never shuffle-joins
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_roc_auc_windows_over_score_support_only(spark, sf):
    df = registry.QUERIES["roc_auc_exact"](spark, sf)
    plan = _plan(df)
    # corpus rows are collapsed by a score-keyed hash aggregation before
    # the rank window; the label join is doc_id-keyed — never cartesian
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2
    # the only Sorts feed the support-scale window (+ the CC loop inside
    # dedup_clusters) — none of them sort the raw document scan directly
    assert "SortMergeJoin" not in plan.split("Window")[0]


def test_average_precision_single_rank_window(spark, sf):
    df = registry.QUERIES["pr_auc_average_precision"](spark, sf)
    plan = _plan(df)
    # rank + running-positives share ONE window over one sort; the
    # totals row rides a broadcast
    assert plan.count("Window") == 1
    assert "BroadcastNestedLoopJoin" in plan


def test_calibration_bins_single_rollup(spark, sf):
    df = registry.QUERIES["score_calibration_bins"](spark, sf)
    plan = _plan(df)
    # one 10-group hash rollup after map-only binning — no window, no
    # sort, no cartesian expansion
    assert "Window(" not in plan
    assert "CartesianProduct" not in plan


def test_anova_single_source_rollup_no_window(spark, sf):
    df = registry.QUERIES["anova_oneway_f"](spark, sf)
    plan = _plan(df)
    # corpus collapses in ONE source-keyed partial-aggregatable rollup;
    # no window, no join, no sort of raw rows
    assert "Window(" not in plan
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2


def test_kruskal_windows_over_value_support_only(spark, sf):
    df = registry.QUERIES["kruskal_wallis"](spark, sf)
    plan = _plan(df)
    # the rank window's input is the aggregated value support, and the
    # group join is value-keyed — never cartesian over the corpus
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 4


def test_poisson_bootstrap_is_one_pass_no_row_shuffle(spark, sf):
    df = registry.QUERIES["poisson_bootstrap_ci"](spark, sf)
    # round 8: the orders load opts into the small-scan fan-out (16 md5s
    # per row is the compute-bound unsplittable-scan case) — mask that
    # deliberate exchange; the QUERY still shuffles only aggregate state
    plan = _without_fanout(_plan(df))
    # all 32 replicates ride ONE scan -> partial agg -> single-partition
    # final agg; the only exchange carries 65-long aggregate state
    assert plan.count("Exchange") == 1
    assert "Join" not in plan
    assert "Window(" not in plan
    assert plan.count("HashAggregate") == 2


def test_ndcg_no_cartesian_rerank_windows_partitioned(spark, sf):
    df = registry.QUERIES["sim_ndcg_ivf"](spark, sf)
    plan = _plan(df)
    # the hit join is (query_id, vec_id)-keyed; the only nested-loop
    # joins are the composed queries' broadcast query-set expansions
    assert "CartesianProduct" not in plan


def test_hubness_knn_is_bucket_equi_join(spark, sf):
    df = registry.QUERIES["emb_hubness"](spark, sf)
    plan = _plan(df)
    # candidates come from the bucket equi-join — never a cross product
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ols_is_single_aggregation_pass(spark, sf):
    df = registry.QUERIES["ols_two_feature"](spark, sf)
    plan = _plan(df)
    # ten moments in ONE partial-aggregatable pass; no join/window/sort
    assert plan.count("Exchange") == 1
    assert "Join" not in plan
    assert plan.count("HashAggregate") == 2


def test_bh_fdr_windows_are_vocab_scale(spark, sf):
    df = registry.QUERIES["bh_fdr_token_drift"](spark, sf)
    plan = _plan(df)
    # the rank/step-up windows run AFTER the top-V cut — their input is
    # V rows, and candidates join through a broadcast of the V-token list
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 1


def test_kendall_pair_join_is_cell_scale(spark, sf):
    df = registry.QUERIES["kendall_tau_b"](spark, sf)
    plan = _plan(df)
    # the x-inequality pair join runs over the banded CELL table, whose
    # build is an (x,y)-keyed hash rollup of the corpus
    assert plan.count("HashAggregate") >= 4
    # 1-row aggregates meet via broadcast nested loops — but the pair
    # source must be the aggregated cells, never raw docs: the explode-
    # free plan has exactly one corpus-side scan pair (docs + quality)
    assert "CartesianProduct" not in plan


def test_quantile_normalize_integer_equi_join(spark, sf):
    df = registry.QUERIES["score_quantile_normalize"](spark, sf)
    plan = _plan(df)
    # the quantile map lands as an integer equi-join on k — no range
    # join, no cartesian
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_weighted_sssp_rounds_are_broadcast_joins(spark, sf):
    df = registry.QUERIES["graph_weighted_sssp"](spark, sf)
    plan = _plan(df)
    # every relaxation round joins the vertex-scale distance table via
    # broadcast; nothing cartesian
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_label_noise_knn_is_bucket_equi_join(spark, sf):
    df = registry.QUERIES["knn_label_noise"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fourier_fit_is_calendar_scale_after_rollup(spark, sf):
    df = registry.QUERIES["seasonal_fourier_fit"](spark, sf)
    plan = _plan(df)
    # one day-keyed rollup + one moment pass; no joins or windows
    assert "Join" not in plan
    assert "Window(" not in plan
    assert plan.count("HashAggregate") >= 4


def test_transition_gini_adds_one_rollup(spark, sf):
    df = registry.QUERIES["markov_transition_gini"](spark, sf)
    plan = _plan(df)
    assert "Join" not in plan
    assert plan.count("Window") == 1  # the lead() pass it composes


def test_er_weights_bucketed_candidates_no_cross(spark, sf):
    df = registry.QUERIES["er_match_weights"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bm25_broadcasts_query_terms_and_takeordered(spark, sf):
    df = registry.QUERIES["bm25_topk"](spark, sf)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan  # global top-k never full-sorts
    assert "BroadcastHashJoin" in plan  # 3-row query-term table broadcast
    assert "CartesianProduct" not in plan


def test_er_pattern_precision_bucketed_no_cross_blowup(spark, sf):
    df = registry.QUERIES["er_pattern_precision"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    # the only nested-loop join is the 1-row learned-tally broadcast
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_dataset_card_one_scan_family_no_cross(spark, sf):
    df = registry.QUERIES["dataset_card_by_source"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 6  # three partial+final agg pairs


def test_k_anonymity_one_fact_agg(spark, sf):
    df = registry.QUERIES["k_anonymity_audit"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # threshold table rides a broadcast


def test_vocab_growth_two_token_aggs_then_tiny(spark, sf):
    df = registry.QUERIES["vocab_growth_curve"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    # source-rank window (planned twice — ranks feeds two branches) +
    # prefix sum; all three run on ≤|sources| rows
    assert plan.count("Window") <= 3


def test_mmr_pool_prefilter_is_takeordered(spark, sf):
    df = registry.QUERIES["sim_mmr_diverse_topk"](spark, sf)
    # the returned 5-row frame is a local relation; assert the POOL build
    # plan instead: corpus scan -> broadcast query row -> top-M
    from metas_judiciarias_etl_spark.operators.similarity import (
        MMR_POOL,
        MMR_QUERY_ID,
        _dot,
        _with_norm,
    )
    from metas_judiciarias_etl_spark.sources.parquet import load_table

    base = _with_norm(load_table(spark, sf, "embeddings"))
    q0 = base.filter(F.col("vec_id") == MMR_QUERY_ID).select(
        F.col("embedding").alias("q_emb"), F.col("nrm").alias("q_nrm")
    )
    pool = (
        base.filter(F.col("vec_id") != MMR_QUERY_ID)
        .crossJoin(F.broadcast(q0))
        .orderBy(F.desc("nrm"))
        .limit(MMR_POOL)
    )
    plan = _plan(pool)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_silhouette_anchor_broadcast_bounded(spark, sf):
    df = registry.QUERIES["emb_silhouette_by_label"](spark, sf)
    plan = _plan(df)
    # the all-pairs stage must be anchors-broadcast x one corpus scan,
    # never a shuffled cartesian
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("HashAggregate") >= 4  # two keyed reductions


def test_brier_decomposition_single_rollup(spark, sf):
    df = registry.QUERIES["brier_decomposition"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    # the only nested loops are the two 1-row broadcast totals
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_backoff_score_vocab_keyed_joins(spark, sf):
    df = registry.QUERIES["crosssource_backoff_score"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_markov_removal_result_is_local_after_fact_work(spark, sf):
    # fact-scale work (lead window + aggs) runs in Spark inside the query
    # builder; the <=25-row value iteration is driver-side, so the result
    # frame is a local relation with no residual distributed lineage
    df = registry.QUERIES["attribution_markov_removal"](spark, sf)
    plan = _plan(df)
    assert "LocalTableScan" in plan or "Scan ExistingRDD" in plan
    assert "Exchange" not in plan


def test_cuped_single_user_pass(spark, sf):
    df = registry.QUERIES["cuped_adjustment"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 4  # user pass + two rollups


def test_conformal_qhat_broadcasts_into_test_fold(spark, sf):
    df = registry.QUERIES["conformal_interval_calibration"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # the <=|types| q-hat rows


def test_conductance_label_broadcasts(spark, sf):
    df = registry.QUERIES["graph_conductance"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # vertex-scale labels broadcast


def test_temperature_mix_single_agg(spark, sf):
    df = registry.QUERIES["source_temperature_mix"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2  # source agg partial+final


def test_fd_audit_scans_pruned_to_pair(spark, sf):
    df = registry.QUERIES["fd_candidate_audit"](spark, sf)
    fmt = _formatted(df)
    # the orders scan for the PK candidate must read only its (A, B) pair
    assert "ReadSchema: struct<o_orderkey:bigint,o_orderdate" in fmt
    plan = _plan(df)
    assert "CartesianProduct" not in plan


def test_two_phase_rank_no_single_partition_sort(spark, sf):
    df = registry.QUERIES["global_rank_two_phase"](spark, sf)
    plan = _plan(df)
    # the ranking window partitions by bucket — never a global
    # range-partitioned sort of the fact table
    assert "rangepartitioning" not in plan.lower()
    assert "SinglePartition" not in plan.split("Window")[0]
    assert "BroadcastHashJoin" in plan  # tiny offset table broadcast
    assert "CartesianProduct" not in plan


def test_f1_threshold_support_sized_windows(spark, sf):
    df = registry.QUERIES["f1_optimal_threshold"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2  # corpus -> support collapse


def test_l_diversity_one_fact_agg(spark, sf):
    df = registry.QUERIES["l_diversity_audit"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # threshold table rides a broadcast
    fmt = _formatted(df)
    # the documents scan must be pruned to the QI tuple + sensitive column
    assert "ReadSchema: struct<lang:string,source:string,n_chars:" in fmt


def test_lang_agreement_tiny_meets_on_broadcast(spark, sf):
    for name in ("lang_agreement_ari", "lang_agreement_nmi"):
        df = registry.QUERIES[name](spark, sf)
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" not in plan  # 1-row aggs meet via broadcast
        assert "BroadcastNestedLoopJoin" in plan


def test_sim_mrr_no_cartesian(spark, sf):
    df = registry.QUERIES["sim_mrr_ivf"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan


def test_psi_drift_single_fact_pass(spark, sf):
    df = registry.QUERIES["score_psi_drift"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    fmt = _formatted(df)
    # the documents scan is pruned to (source, n_chars)
    assert "ReadSchema: struct<source:string,n_chars:bigint>" in fmt


def test_js_divergence_one_conditional_agg(spark, sf):
    df = registry.QUERIES["dist_js_divergence"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "Join" not in plan  # two cohorts from ONE conditional agg, no join
    fmt = _formatted(df)
    assert "ReadSchema: struct<user_id:bigint,event_type:string>" in fmt


def test_repeated_substrings_pruned_scan(spark, sf):
    df = registry.QUERIES["dedup_repeated_substrings"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    fmt = _formatted(df)
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in fmt


def test_rbo_no_cartesian(spark, sf):
    df = registry.QUERIES["sim_rbo_overlap"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan


def test_shapley_no_cartesian_no_nested_loop(spark, sf):
    df = registry.QUERIES["attribution_shapley"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_delta_method_pruned_single_pass(spark, sf):
    df = registry.QUERIES["delta_method_ratio_ci"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "Join" not in plan  # one fact pass, two chained aggregations
    fmt = _formatted(df)
    assert "ReadSchema: struct<user_id:bigint,value:double>" in fmt


def test_sprt_single_pass_no_join(spark, sf):
    df = registry.QUERIES["sprt_sequential_test"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "Join" not in plan  # one day-keyed agg + one bounded window


def test_empirical_bayes_pruned_scan(spark, sf):
    df = registry.QUERIES["empirical_bayes_rates"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    fmt = _formatted(df)
    assert "ReadSchema: struct<source:string,n_chars:bigint>" in fmt


def test_feature_mi_single_expand_pass(spark, sf):
    df = registry.QUERIES["feature_mi_ranking"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    # the 3-feature stack rides ONE corpus pass (stack() lowers to a
    # Generate node; grouping-set style plans would show Expand)
    assert "Generate" in plan or "Expand" in plan
    fmt = _formatted(df)
    # text is never read — the scan prunes to the 4 metadata columns
    assert (
        "ReadSchema: struct<doc_id:bigint,lang:string,source:string,"
        "n_chars:bigint>" in fmt
    )


def test_fertility_pruned_single_pass(spark, sf):
    df = registry.QUERIES["tokenizer_fertility_by_lang"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "Join" not in plan
    fmt = _formatted(df)
    assert (
        "ReadSchema: struct<text:string,lang:string,n_chars:bigint>" in fmt
    )


def test_decontam_embedding_bucketed_never_allpairs(spark, sf):
    df = registry.QUERIES["decontam_embedding_cosine"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan  # bucket equi-join only


def test_group_sequential_no_cartesian(spark, sf):
    df = registry.QUERIES["group_sequential_looks"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan


def test_stratified_standardization_pruned(spark, sf):
    df = registry.QUERIES["stratified_standardization"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    fmt = _formatted(df)
    assert (
        "ReadSchema: struct<user_id:bigint,event_type:string,value:double>"
        in fmt
    )


def test_srm_single_distinct_pass(spark, sf):
    df = registry.QUERIES["ab_srm_check"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "Join" not in plan
    fmt = _formatted(df)
    assert "ReadSchema: struct<user_id:bigint>" in fmt


def test_forecast_backtest_pruned(spark, sf):
    df = registry.QUERIES["forecast_backtest_naive"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "Join" not in plan


def test_qini_no_cartesian(spark, sf):
    df = registry.QUERIES["uplift_qini_deciles"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "Join" not in plan
    fmt = _formatted(df)
    assert (
        "ReadSchema: struct<user_id:bigint,event_type:string>" in fmt
    )


def test_yuen_no_cartesian(spark, sf):
    df = registry.QUERIES["yuen_trimmed_ttest"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan


def test_join_state_peak_pruned(spark, sf):
    df = registry.QUERIES["stream_join_state_peak"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "Join" not in plan
    fmt = _formatted(df)
    assert "ReadSchema: struct<ts:" in fmt  # 2-column scan only


def test_median_order_ci_no_cartesian(spark, sf):
    df = registry.QUERIES["median_order_ci"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan


def test_hill_takeordered_frontier(spark, sf):
    df = registry.QUERIES["tail_index_hill"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan  # top-(k+1), never a global sort


def test_covariate_balance_single_pass(spark, sf):
    df = registry.QUERIES["covariate_balance_smd"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "Join" not in plan


def test_prf_no_cartesian(spark, sf):
    df = registry.QUERIES["bm25_prf_terms"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan


def test_partial_correlation_single_pass(spark, sf):
    df = registry.QUERIES["partial_correlation"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "Join" not in plan


def test_stump_support_window_no_cartesian(spark, sf):
    df = registry.QUERIES["decision_stump_split"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan


def test_kappa_no_cartesian(spark, sf):
    df = registry.QUERIES["cohens_kappa_langid"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan


def test_tost_single_pass(spark, sf):
    df = registry.QUERIES["ab_tost_equivalence"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "Join" not in plan


def test_dynamic_gap_sessions_one_exchange(spark, sf):
    df = registry.QUERIES["dynamic_gap_sessions"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "Join" not in plan


def test_hll_overlap_sketch_side_broadcast(spark, sf):
    df = registry.QUERIES["source_shingle_overlap_hll"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan


def test_detector_ensemble_no_cartesian(spark, sf):
    df = registry.QUERIES["dedup_detector_ensemble"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan


def test_loso_single_pass(spark, sf):
    df = registry.QUERIES["loso_source_influence"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    fmt = _formatted(df)
    assert "ReadSchema: struct<source:string,n_chars:bigint>" in fmt


def test_pinball_no_cartesian(spark, sf):
    df = registry.QUERIES["pinball_loss_eval"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan


def test_ips_single_pass(spark, sf):
    df = registry.QUERIES["ips_policy_replay"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "Join" not in plan


def test_heavy_hitter_drift_group_limit(spark, sf):
    df = registry.QUERIES["heavy_hitter_drift"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan  # top-k frontier, no full sort


def test_holm_no_cartesian(spark, sf):
    df = registry.QUERIES["holm_fwer_token_drift"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan


def test_norm_effect_no_cartesian_beyond_broadcast(spark, sf):
    df = registry.QUERIES["sim_norm_effect_rbo"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan


def test_ece_no_cartesian(spark, sf):
    df = registry.QUERIES["calibration_ece"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan


def test_lorenz_no_cartesian(spark, sf):
    df = registry.QUERIES["lorenz_curve_deciles"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan


def test_popularity_baseline_no_cartesian(spark, sf):
    df = registry.QUERIES["popularity_baseline_hitrate"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan


def test_atkinson_single_pass(spark, sf):
    df = registry.QUERIES["atkinson_index"](spark, sf)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "Join" not in plan
    fmt = _formatted(df)
    assert (
        "ReadSchema: struct<o_custkey:bigint,o_totalprice:double>" in fmt
    )


def test_registry_wide_no_cartesian_no_row_python(spark, sf):
    """The GLOBAL anti-pattern audit: every registered query's physical
    plan must contain (a) no CartesianProduct — broadcast nested-loop
    joins of tiny aggregates are the sanctioned scalar pattern, a true
    cartesian is never acceptable — and (b) no row-at-a-time Python
    evaluation (BatchEvalPython); only Arrow-batched forms
    (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas) may appear.
    Unlike the per-query pins above, this covers every FUTURE query
    automatically. Plan building executes the eager memo/persist side
    effects at sf0.001, so the sweep costs ~2-3 min, not hours."""
    from metas_judiciarias_etl_spark import memo

    bad_cart, bad_py = [], []
    try:
        for name in sorted(registry.QUERIES):
            plan = _plan(registry.QUERIES[name](spark, sf))
            if "CartesianProduct" in plan:
                bad_cart.append(name)
            low = plan.lower()
            if "batchevalpython" in low:
                bad_py.append(name)
    finally:
        memo.clear(spark)
        spark.catalog.clearCache()
    assert not bad_cart, f"cartesian products in: {bad_cart}"
    assert not bad_py, f"row-at-a-time Python UDFs in: {bad_py}"


def test_fanout_scan_keeps_pushdown(spark, sf):
    """The round-8 gated fan-out (sources/parquet.py): a documents load is
    fanned out to defaultParallelism via a keyless round-robin Repartition,
    and Catalyst must still push filters and column pruning THROUGH that
    exchange down to the parquet scan — otherwise the fan-out would turn
    every filtered text query into a full-table read."""
    from metas_judiciarias_etl_spark.sources.parquet import load_table

    df = (
        load_table(spark, sf, "documents")
        .filter(F.col("doc_id") <= 10)
        .select("doc_id", "source")
    )
    plan = _formatted(df)
    assert "RoundRobinPartitioning" in plan  # the fan-out fired
    assert "PushedFilters: [IsNotNull(doc_id), LessThanOrEqual(doc_id,10)]" in plan
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "text" not in read_schema  # pruning reached the scan


def test_non_fanout_tables_scan_without_exchange(spark, sf):
    """Round-8 regression pin for the round-7 pessimization: scans of the
    relational/event tables must NOT acquire a round-robin fan-out exchange
    — guide §2.5 applies to compute-bound unsplittable scans (documents,
    embeddings), not to every scan."""
    from metas_judiciarias_etl_spark.sources.parquet import load_table

    for name in ("lineitem", "orders", "customer", "events"):
        plan = _plan(load_table(spark, sf, name))
        assert "RoundRobinPartitioning" not in plan, name
