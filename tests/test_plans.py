"""Physical-plan audits: the scale properties SURVEY.md §4 promises must be
visible in the executed plan, not just intended.

Each assertion pins a property that matters at 100 TB: filters/projections
reaching the scan, partial aggregation, TakeOrderedAndProject for top-K,
broadcast joins for dimensions, and the absence of cartesian products in
LSH candidate generation.
"""

from __future__ import annotations

import pytest

from hadoop_hive_analysis_spark.plans.registry import QUERIES


def final_plan(df) -> str:
    # Execute first: with AQE the pre-execution plan is provisional.
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    cache: dict[str, str] = {}

    def get(name: str) -> str:
        if name not in cache:
            cache[name] = final_plan(QUERIES[name].fn(spark, sf_dir))
        return cache[name]

    return get


def test_q1a_scan_pushdown_and_pruning(plans):
    p = plans("q1a_top_suppliers_by_revenue")
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in p
    # column pruning: the 11-column lineitem scan reads exactly 4 columns
    assert "ReadSchema: struct<l_suppkey:bigint,l_extendedprice:double" in p
    assert "l_orderkey" not in p.split("ReadSchema")[1].splitlines()[0]


def test_q1a_partial_final_aggregation(plans):
    # the reference's hand-registered combiner == Spark's partial HashAggregate
    p = plans("q1a_top_suppliers_by_revenue")
    assert p.count("HashAggregate") >= 2


def test_q1a_takeordered_replaces_two_mr_jobs(plans):
    assert "TakeOrderedAndProject" in plans("q1a_top_suppliers_by_revenue")


def test_q2_broadcasts_aggregated_side(plans):
    p = plans("q2_supplier_revenue_rightouter")
    assert "BroadcastHashJoin" in p
    assert "BuildLeft" in p
    assert "SortMergeJoin" not in p


def test_star_join_broadcasts_every_dimension(plans):
    p = plans("revenue_by_region")
    # orders/customer/nation/region joins must all be broadcast at this
    # scale; the only allowed shuffle is the aggregation itself
    assert p.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in p


def test_lsh_candidate_join_is_not_cartesian(plans):
    for name in ("dedup_minhash_lsh", "dedup_simhash"):
        p = plans(name)
        assert "CartesianProduct" not in p, name


def test_ann_broadcasts_query_set(plans):
    p = plans("ann_bruteforce_topk")
    assert "Broadcast" in p


def test_window_rank_uses_group_limit_pushdown(plans):
    # Spark ≥3.5 plans rank()<=k as WindowGroupLimit (per-partition heap
    # before the full window sort) — the per-group top-K scale property.
    assert "WindowGroupLimit" in plans("window_rank_orders")


def test_semi_anti_plan_no_aggregation_dedup(plans):
    # semi/anti joins must not plan as join+distinct
    p = plans("semi_join_customers")
    assert "LeftSemi" in p
    p = plans("anti_join_customers")
    assert "LeftAnti" in p


def test_pricing_summary_partial_aggregation(plans):
    p = plans("pricing_summary")
    assert p.count("HashAggregate") >= 2
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p


def test_shipping_priority_broadcasts_and_takeordered(plans):
    p = plans("shipping_priority")
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p


def test_brand_revenue_broadcasts_dimension(plans):
    p = plans("brand_revenue")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_ngram_df_cut_is_anti_join_not_window(spark, sf_dir, plans):
    # The stop-shingle df cut must not sort the full shingle table: the
    # hot-set anti-join replaces the count() OVER (PARTITION BY shingle)
    # window (round-2 regression: the window form was 1.35x slower).
    # The cut subplan is inspected pre-checkpoint (the consumer replaces
    # it with an RDD scan once materialized).
    from hadoop_hive_analysis_spark.operators.dedup import _informative_shingles

    cut = final_plan(_informative_shingles(spark, sf_dir))
    assert "LeftAnti" in cut
    assert "Window" not in cut
    # And the consumer must run the cut ONCE: its four references to the
    # cut table are scans of the materialized RDD, not four re-executions
    # of the aggregation + anti-join (round-4 audit: the un-materialized
    # form shuffled the full shingle table 4x).
    p = plans("dedup_ngram_jaccard")
    assert "Window" not in p
    assert "LeftAnti" not in p  # cut runs inside the checkpoint, not inline
    assert p.count("Scan ExistingRDD") >= 4


def test_range_join_is_bucketed_hash_join_not_nested_loop(plans):
    # The interval join must run as an equi-join on the coarse day bucket
    # (exploded interval side broadcast), never as a nested-loop over all
    # intervals per event: BNLJ is O(N*M) and its cost is invisible at
    # 24 fixtures but dominates at real campaign counts.
    p = plans("events_campaign_range_join")
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_stratified_sample_uses_window_group_limit(plans):
    # The per-stratum quota must collapse map-side: WindowGroupLimit keeps
    # K rows per stratum per map task BEFORE the exchange, so the shuffle
    # moves O(K * tasks) rows, not the corpus. Without it the window sorts
    # whole strata in single tasks (~5 language-sized partitions at 100 TB).
    p = plans("train_stratified_sample")
    assert "WindowGroupLimit" in p


def test_events_day_bounded_scan_prunes_partitions(spark, sf_dir, plans):
    # The benched date-range query must prune at planning time: the day
    # predicate binds to the partition column, and only the 7 matching
    # day= directories are ever read.
    p = plans("events_day_bounded_agg")
    assert "PartitionFilters: [isnotnull(day" in p

    import pyspark.sql.functions as F

    from hadoop_hive_analysis_spark.operators.events import PRUNE_END, PRUNE_START
    from hadoop_hive_analysis_spark.sources.catalog import events_partitioned_path

    ev = spark.read.parquet(events_partitioned_path(spark, sf_dir))
    files = (
        ev.filter((F.col("day") >= PRUNE_START) & (F.col("day") <= PRUNE_END))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    )
    days = {r.f.split("day=")[1].split("/")[0] for r in files}
    assert days == {f"2024-01-{d:02d}" for d in range(8, 15)}


def test_registry_driver_window_exactly_full():
    # The driver scores a 50-slot window; stay exactly full (maximum
    # scored coverage) — registry.py asserts the <= cap at import, this
    # pins the == so an accidental demotion is also loud.
    from hadoop_hive_analysis_spark.plans.registry import (
        DRIVER_SLOT_CAP,
        oracle_sql_map,
        query_map,
    )

    assert len(query_map()) == DRIVER_SLOT_CAP
    # and the scored window is FULLY hash-checked since the r12 rotation
    # demoted the 3 rows-only entries (bpe pair + embedding_kmeans, each
    # carried bit-exactly in pytest) — every scored slot now has an oracle
    assert len(oracle_sql_map()) == DRIVER_SLOT_CAP


def test_driver_maps_follow_declared_window_order():
    from hadoop_hive_analysis_spark.plans.registry import (
        DRIVER_WINDOW,
        oracle_sql_map,
        query_map,
    )

    assert tuple(query_map()) == DRIVER_WINDOW
    assert tuple(oracle_sql_map()) == DRIVER_WINDOW


@pytest.mark.parametrize(
    "bad, why",
    [
        (lambda w: w[:-1] + (w[0],), "duplicate"),
        (lambda w: w[:-1] + ("no_such_query",), "unknown"),
        (lambda w: w[:-1], "49 entries"),
    ],
)
def test_driver_window_check_rejects_bad_windows(bad, why):
    from hadoop_hive_analysis_spark.plans.registry import (
        DRIVER_WINDOW,
        QUERIES,
        check_driver_window,
    )

    check_driver_window(DRIVER_WINDOW, QUERIES)  # the declared one passes
    with pytest.raises(RuntimeError, match=why):
        check_driver_window(bad(DRIVER_WINDOW), QUERIES)


def test_centroid_aggregates_map_side_before_one_exchange(plans):
    # Element-wise vector aggregation must collapse to |groups| x DIM rows
    # per map task (partial HashAggregate) before its single exchange on
    # (label, dim) — the shuffle must never carry one row per vector
    # component of the corpus.
    p = plans("embedding_group_centroid")
    assert p.count("hashpartitioning(label") == 1
    assert "partial_count" in p or "partial_sum" in p


def test_funnel_is_one_pass_single_partition_agg(plans):
    # The funnel's only exchange is the SinglePartition gather of 5
    # counters: the corpus itself (text, token arrays) must never
    # shuffle.
    p = plans("corpus_filter_funnel")
    assert "SinglePartition" in p
    assert "hashpartitioning" not in p


def test_no_redundant_corpus_scans_in_dedup_and_text_ops(plans):
    # Round-4 audit: multi-branch operators re-executed their shared
    # subplan (shingle explode / signature agg / tf agg) once per branch,
    # re-scanning the corpus 2-6x per query. The shared frame is now
    # materialized (localCheckpoint), so the final plan reads the corpus
    # at most the by-design number of times and references the
    # materialized RDD for every other branch.
    expectations = [
        # (query, substring, max occurrences in the executed plan)
        ("dedup_simhash", "documents.parquet", 0),  # sig agg inside ckpt
        ("dedup_minhash_lsh", "documents.parquet", 0),  # explode inside ckpt
        ("dedup_ngram_jaccard", "documents.parquet", 0),
        ("doc_tfidf_topterms", "documents.parquet", 0),  # tf inside ckpt
        ("contamination_ngram", "documents.parquet", 1),  # bench side only
    ]
    for name, needle, mx in expectations:
        p = plans(name)
        assert p.count(needle) <= mx, (name, p.count(needle))
        assert "Scan ExistingRDD" in p, name  # the materialized frame


def test_mixture_resample_has_no_sort_and_broadcasts_rates(plans):
    # Mixture balancing must be the zero-sort shape: the only exchanges
    # belong to the tiny per-language count aggregation; the rate table
    # broadcasts back and the keep is a map-side filter. A Sort or a
    # window over the corpus means someone reintroduced exact-quota
    # ranking — the scale-killer form.
    p = plans("data_mixture_resample")
    assert "Window" not in p
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p


def test_duplicated_spans_single_span_explode(plans):
    # The stride-1 span frame feeds both the dup-set aggregation and the
    # mark-back join: it must be materialized (one explode, RDD-scan
    # consumers), not re-exploded per branch.
    p = plans("duplicated_spans")
    assert p.count("documents.parquet") == 0
    assert "Scan ExistingRDD" in p


def test_tfidf_cosine_materializes_weight_frame(plans):
    # The df-capped posting-list frame feeds two branches (norms + the
    # row-wise pair enumeration): it must be materialized, not
    # re-derived from the corpus per branch. The r20 restructure also
    # removed the posting self-join entirely (dot = Σ w² over shared
    # shingles because the weight is global per shingle), so no join on
    # the shingle string may reappear.
    p = plans("doc_tfidf_cosine_pairs")
    assert p.count("documents.parquet") == 0
    assert "Scan ExistingRDD" in p
    assert "SortMergeJoin" not in p


def test_span_scrub_single_corpus_scan_and_broadcast_starts(plans):
    # The tokenized corpus is materialized once and feeds BOTH span
    # generation and the scrub pass (zero parquet re-scans in the final
    # plan); the per-doc dup-start arrays come back via a broadcast
    # join, so corpus tokens never shuffle.
    p = plans("span_scrub")
    assert p.count("documents.parquet") == 0
    assert "Scan ExistingRDD" in p
    assert "BroadcastHashJoin" in p
    # the corpus side must not be sort-merge joined (that would shuffle
    # every token array)
    assert "SortMergeJoin" not in p


def test_token_rarity_single_explode_and_partial_aggs(plans):
    # One materialized explode; the token-count aggregation and the
    # per-doc rollup must both partial-aggregate map-side (the Zipf head
    # would otherwise ship every token instance to one reducer).
    p = plans("doc_token_rarity")
    assert p.count("documents.parquet") == 0
    assert "Scan ExistingRDD" in p
    assert "partial_count" in p or "Partial" in p


def test_dedup_collapse_anti_join_broadcasts_losers(plans):
    # The corpus-side scan must flow into a BroadcastHashJoin LeftAnti
    # against the (tiny) loser set — the corpus is never shuffled.
    p = plans("dedup_collapse")
    assert "LeftAnti, BuildRight" in p
    assert "BroadcastHashJoin" in p


def test_bm25_windowgrouplimit_and_broadcast_terms(plans):
    """BM25 top-K must be WindowGroupLimit (partial per-partition top-K,
    never a corpus sort) and the probe-term dimension must broadcast."""
    p = plans("doc_bm25_search")
    assert "WindowGroupLimit" in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_priority_sample_takeordered_no_global_sort(plans):
    """Selection is TakeOrderedAndProject; the only window runs over the
    K+1-row checkpointed frame (no corpus-wide Sort + Window)."""
    p = plans("train_priority_sample")
    assert "TakeOrderedAndProject" in p


def test_heavy_hitters_broadcast_candidates(plans):
    """Phase-2 recount joins the corpus against BROADCAST candidates —
    the shuffle after it is bounded by |candidates|, not vocabulary."""
    p = plans("doc_heavy_hitters")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_source_drift_single_tokenize(plans):
    """The (source, tok) counts frame is checkpointed once and feeds
    token totals, source totals, and the final agg: the executed plan
    re-reads the checkpoint (ExistingRDD) in every branch and contains
    NO parquet scan and NO explode — the corpus was tokenized exactly
    once, at checkpoint materialization."""
    p = plans("source_token_drift")
    assert "Scan ExistingRDD" in p
    assert "Scan parquet" not in p
    assert "Generate explode" not in p
    assert "CartesianProduct" not in p


def test_runtime_bloom_filter_prefilters_fact_side(spark, sf_dir):
    """Runtime-filter demonstration pinned: a shuffle join against a
    selectively-filtered dimension injects a bloom_filter_agg on the dim
    side and a might_contain pre-filter on the FACT side — rows that
    cannot join are dropped before the fact shuffle, the mechanism that
    matters at 100 TB. Defaults hide it at fixture scale only because of
    the 10 GB application-side scan threshold (a SIZE gate, zeroed here);
    the bloom confs themselves are Spark defaults."""
    from hadoop_hive_analysis_spark.sources.catalog import load_table

    from pyspark.sql import functions as F

    keys = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
    }
    prev = {k: spark.conf.get(k) for k in keys}
    try:
        for k, v in keys.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
        # and the result is unaffected by the runtime filter
        rows = j.collect()
        plain = (
            li.join(orders.hint("broadcast"), li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
            .collect()
        )
        assert sorted(map(tuple, rows)) == sorted(map(tuple, plain))
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_latest_state_partial_agg_not_window(plans):
    """CDC compaction must be partial->final HashAggregate (struct-max),
    NOT a Window + row_number: the shuffle moves at most one candidate
    row per (key, map task), never the full history."""
    p = plans("events_latest_state")
    assert "Window" not in p
    assert p.count("Exchange") == 1
    # struct carries a string field -> Catalyst picks SortAggregate, but
    # the property that matters is the map-side combine: a partial_max
    # runs BEFORE the one exchange.
    assert "partial_max" in p.split("Exchange")[1]


def test_scd2_single_shuffle_for_three_windows(plans):
    """SCD2's lag, lead, and row_number all share one (user_id; ts,
    event_id) spec: one Exchange, one Sort, window nodes reuse both."""
    p = plans("events_scd2_intervals")
    assert p.count("Exchange") == 1
    assert p.count("Sort") == 1


def test_bigram_lm_single_tokenize(plans):
    """The bigram explode is materialized once and reused by the bigram
    count, the left-token count, and the join-back probe — no second
    corpus scan or re-explode per consumer."""
    p = plans("doc_bigram_lm_score")
    assert "Scan parquet" not in p
    assert "Scan ExistingRDD" in p
    assert "CartesianProduct" not in p


def test_ohlc_single_partial_agg_no_window(plans):
    """OHLC first/last must be struct-extremum partial aggregates — one
    exchange of bars, never a Window sort over raw ticks."""
    p = plans("events_ohlc_bars")
    assert "Window" not in p
    assert p.count("Exchange hashpartitioning") == 1
    assert "partial_min(struct" in p.split("Exchange hashpartitioning")[1]


def test_aqe_splits_skewed_join_partition(spark):
    """Skewed-JOIN mitigation pinned: a hot key that funnels most of the
    fact side into one reduce partition is split by AQE at runtime
    (SortMergeJoin(skew=true) reading 'coalesced and skewed'), so no
    single task sorts the whole hot key — the join-side complement of
    the salted-aggregation operators (skew.py), which exist because
    aggregation has no such automatic mitigation. Thresholds are scaled
    down to fixture bytes; the mechanism (map-output size stats ->
    partition split) is the one that fires at 100 TB defaults.

    The plan is read from the SAME query execution that ran (collect),
    because AQE finalizes in place — the noop-write helper used by the
    other pins inspects a fresh, never-executed plan."""
    from pyspark.sql import functions as F

    keys = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "100KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "100KB",
    }
    prev = {k: spark.conf.get(k) for k in keys}
    try:
        for k, v in keys.items():
            spark.conf.set(k, v)
        hot = spark.range(3_000_000).select(F.lit(0).alias("k"), F.col("id").alias("v"))
        cold = spark.range(5_000).select(
            (F.col("id") % 50 + 1).alias("k"), F.col("id").alias("v")
        )
        dim = spark.range(51).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("attr")
        )
        df = hot.union(cold).join(dim, "k").groupBy("attr").agg(
            F.count("*").alias("n")
        )
        rows = {r.attr: r.n for r in df.collect()}
        p = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in p
        assert "SortMergeJoin(skew=true)" in p
        assert "coalesced and skewed" in p
        # and the split join is still exact
        assert rows[0] == 3_000_000
        assert rows[10] == 100
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_rolling_stats_single_window_pass(plans):
    """All four rolling aggregates share one frame spec: exactly one
    Window node over one Exchange+Sort on (user_id; ts, event_id)."""
    p = plans("events_rolling_stats")
    assert p.count("Window [") == 1
    assert p.count("Exchange hashpartitioning") == 1


def test_merge_upsert_full_outer_reuses_agg_partitioning(plans):
    # The MERGE apply: both sides reduce via struct-max partial->final
    # HashAggregate on user_id, and the full-outer SortMergeJoin reuses
    # that partitioning — exactly one exchange per side, none between
    # the aggregates and the join.
    p = plans("events_merge_upsert")
    assert "FullOuter" in p
    assert p.count("Exchange hashpartitioning(user_id") <= 2
    assert "partial_max" in p or "partial_count" in p


def test_gap_fill_window_runs_on_grid_not_events(plans):
    # The dense grid comes from sequence()+explode of a 1-row bounds
    # aggregate (Generate), the raw events reduce through ONE partial-agg
    # shuffle, and the LOCF window sorts the GRID, never raw events.
    p = plans("events_gap_fill")
    assert "Generate explode(sequence(" in p
    assert "Window" in p
    # exactly one exchange carries the (event_type, bucket) aggregation
    # of raw events; the grid side exchanges only grid-sized frames
    assert "partial_count" in p


def test_quality_classifier_zero_shuffle_single_scan(plans):
    # Classifier inference is ONE codegen fold per document: no
    # exchanges, no joins, one parquet scan.
    p = plans("doc_quality_classifier")
    assert "Exchange" not in p
    assert "Join" not in p
    assert p.count("Scan parquet") == 1


def test_daily_trend_moment_aggregation(plans):
    # The regression state is partial-aggregable int64 moments — two
    # HashAggregate pairs (daily rollup, then moments), no window, no
    # join, one scan.
    p = plans("events_daily_trend")
    assert "Join" not in p
    assert "Window" not in p
    assert p.count("Scan parquet") == 1


def test_markov_transition_frame_materialized_once(plans):
    # The type²-bounded transition frame is materialized once (RDD
    # scan) so the row-total branch reads it instead of re-running the
    # corpus window pass (unmaterialized, the executed plan carried TWO
    # user_id exchanges — measured); the conditional denominator joins
    # back via broadcast, and no corpus-sized exchange survives in the
    # consumer plan.
    p = plans("events_markov_transitions")
    assert "Scan ExistingRDD" in p
    assert "Exchange hashpartitioning(user_id" not in p
    assert "BroadcastHashJoin" in p
    assert "events.parquet" not in p


def test_editdistance_no_cartesian_and_bounded_candidates(plans):
    """The levenshtein verify must run on equi-join candidates only:
    no cartesian/nested-loop pair enumeration anywhere in the plan, and
    the length lower-bound filter sits before the DP (levenshtein
    appears under a Filter, not as a join condition)."""
    p = plans("dedup_editdistance")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "levenshtein" in p


def test_snapshot_diff_full_outer_sortmerge(plans):
    """The corpus delta must be ONE FullOuter SortMergeJoin on doc_id —
    neither snapshot side assumed broadcastable."""
    p = plans("corpus_snapshot_diff")
    assert "FullOuter" in p
    assert "SortMergeJoin" in p
    assert "CartesianProduct" not in p


def test_paragraph_dedup_has_no_window(plans):
    """The skew-safe claim, checked: duplicate counting AND canonical
    selection are partial-agg (count + min-struct over digest) — a
    row_number formulation would plan a Window whose hot partition is
    the most-duplicated paragraph. Neither half may contain one."""
    for name in ("dedup_paragraphs", "paragraph_scrub"):
        p = plans(name)
        assert "Window" not in p, name
        assert "partial_count" in p or "partial" in p.lower(), name


def test_encoding_screen_zero_exchanges(plans):
    """One codegen regexp pass per document — any Exchange here means a
    shuffle crept into a scan-bound screen."""
    p = plans("text_encoding_screen")
    assert "Exchange" not in p


def test_budget_select_sorts_bins_not_corpus(plans):
    """The histogram-threshold claim, checked: the only Sorts feed the
    two bounded windows (≤1000 bin rows; the one straddling bin) — the
    corpus-sized side reaches its joins un-sorted (broadcast hash, not
    sort-merge), i.e. no global quality sort anywhere."""
    p = plans("corpus_budget_select")
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p
    # windows exist (bin cumulative + straddling-bin running sum), but
    # a global ORDER BY of the corpus would appear as a Sort ABOVE the
    # final union/project — pin the plan to window-scoped sorts only
    assert p.count("Window") >= 2


def test_hybrid_fusion_joins_are_bounded(plans):
    """The vector side is a broadcast nested loop against the 6-row
    probe set (the documented deliberate cartesian); the corpus-sized
    frames never meet in an unbounded nested loop — every other join is
    hash- or sort-based on keys."""
    p = plans("doc_hybrid_search_rrf")
    assert "CartesianProduct" not in p


def test_freshness_report_single_pass(plans):
    """One partial-agg shuffle of |types| rows against a broadcast
    1-row clock: no Window, no sort-merge join."""
    p = plans("events_freshness_report")
    assert "Window" not in p
    assert "SortMergeJoin" not in p
    assert "BroadcastNestedLoopJoin" in p  # the 1-row clock cross join


def test_cluster_quality_materializes_pairs_once(plans):
    """The verified-pair frame feeds BOTH component discovery and the
    per-cluster stats agg; cluster_quality_from_pairs must checkpoint it
    so the MinHash producer executes ONCE (un-checkpointed, the doubled
    producer held enough simultaneous broadcast state to abort a
    measured 500k-doc/16 GiB run). Pin: the visible plan reads the
    checkpointed RDD, never the documents parquet — i.e. zero upstream
    re-execution survives in the final plan."""
    p = plans("dedup_cluster_quality")
    assert "documents.parquet" not in p
    assert "Scan ExistingRDD" in p
