"""Plan-shape regression tests: the physical plans we rely on at scale
must not silently regress. These assert the properties that matter at
100 TB — broadcasts where intended, pruned scans, partial aggregation,
no cartesian products — straight from `explain` output.
"""

import re

import pytest
from pyspark.sql import functions as F

from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.queries import (
    REGISTRY,
)

from conftest import SF_SMOKE


def _plan(spark, name: str) -> str:
    fn, _ = REGISTRY[name]
    df = fn(spark, SF_SMOKE)
    return df._jdf.queryExecution().executedPlan().toString()


def test_flagship_join_broadcasts_dimension(spark):
    plan = _plan(spark, "flagship_stedi_join")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_flagship_scan_is_pruned(spark):
    plan = _plan(spark, "flagship_stedi_join")
    # customer scan must read only the two columns the pipeline uses
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    assert set(m.group(1).split(",")) <= {
        "c_custkey:bigint",
        "c_name:string",
    }


def test_tpch_q1_partial_aggregation(spark):
    """The shuffle must carry partial aggregates, not raw rows:
    HashAggregate appears BELOW the exchange (map-side combine)."""
    plan = _plan(spark, "tpch_q1_pricing_summary")
    agg_then_exchange = re.search(
        r"Exchange hashpartitioning.*?HashAggregate", plan, re.S
    )
    assert agg_then_exchange, plan


def test_tpch_q1_filter_pushed_to_scan(spark):
    plan = _plan(spark, "tpch_q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_tpch_q3_broadcasts_filtered_customer(spark):
    plan = _plan(spark, "tpch_q3_top_orders")
    assert plan.count("BroadcastHashJoin") >= 1
    # the selective segment filter reaches the parquet scan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan


def test_topk_uses_take_ordered(spark):
    """Global sort+limit must compile to TakeOrderedAndProject — each
    partition contributes K rows; no full global sort."""
    plan = _plan(spark, "orderby_limit_orders")
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan or "global=true" not in plan.split("TakeOrdered")[0]


def test_minhash_no_cartesian(spark):
    plan = _plan(spark, "dedup_minhash_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_lsh_candidates_equijoin(spark):
    """Multi-probe must stay an equi-join on the bucket (hash-joinable),
    never a nested-loop over the corpus."""
    plan = _plan(spark, "ann_lsh_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_multimodal_payload_pruned_before_exchange(spark):
    """Binary payloads must not cross a shuffle in the feature path."""
    fn, _ = REGISTRY["multimodal_features"]
    df = fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # narrow end-to-end


@pytest.mark.parametrize("name", ["audio_frame_energy", "image_resize_nearest"])
def test_multimodal_arrow_paths_no_shuffle(spark, name):
    """The audio-energy and resize Arrow paths are narrow mapInPandas
    over the scan partitioning: zero Exchanges end-to-end (payloads
    never shuffle), and the scan reads only the payload columns."""
    fn, _ = REGISTRY[name]
    df = fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_events_scan_prunes_props(spark):
    """risk_calc only needs (user_id, value): the JSON props column —
    the widest in the table — must not be read."""
    plan = _plan(spark, "risk_calc_per_customer")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and "props" not in m.group(1), plan


def test_top_bigrams_no_global_window(spark):
    """Round-1 form ranked with a global row_number window — the whole
    bigram vocabulary sorted on ONE task. The fix must keep
    TakeOrderedAndProject and no Window operator at all."""
    plan = _plan(spark, "top_bigrams")
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


@pytest.mark.parametrize(
    "name", ["ntile_quartiles_scale", "percent_rank_cume_dist_scale"]
)
def test_two_pass_ranking_no_single_partition_window(spark, name):
    """The scale variants' only Window operators must be partitioned by
    the range-partition id (_pid) — never a no-partition global window."""
    plan = _plan(spark, name)
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "_pid" in line, line
    assert "CartesianProduct" not in plan  # offsets/total joins are broadcast


@pytest.mark.parametrize(
    "name",
    [
        "ntile_quartiles_scale",
        "percent_rank_cume_dist_scale",
        "pack_shards_token_budget",
        "peak_concurrency",
        "skyline_pareto_docs",
        "active_coverage_time",
        "watermark_lateness_profile",
    ],
)
def test_two_pass_ranking_reuses_range_exchange(spark, name):
    """Two-pass ranking correctness depends on BOTH branches (local
    windows and counts/totals) reading the SAME range partitioning:
    boundaries come from per-materialization sampling, so the range
    exchange must execute exactly once. AQE's exchange reuse is not a
    guarantee (measured: pack_shards materialized a second range
    exchange before the _pin fix), and persist()'s cache lookup
    silently MISSES when the input lineage holds a localCheckpoint
    (r8 finding), so ranking.py pins the subtree with
    localCheckpoint(eager=True) — the consumer plan must read the
    frozen RDD (Scan ExistingRDD) and contain ZERO live range
    exchanges that could re-sample boundaries."""
    fn, _ = REGISTRY[name]
    df = fn(spark, SF_SMOKE)
    try:
        df.collect()
        final = (
            df._jdf.queryExecution().executedPlan().toString().split("Initial Plan")[0]
        )
        materialized = re.findall(r"Exchange rangepartitioning", final)
        assert len(materialized) == 0, final
        assert "Scan ExistingRDD" in final, final
    finally:
        spark.catalog.clearCache()


def test_pack_shards_no_single_partition_window(spark):
    plan = _plan(spark, "pack_shards_token_budget")
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "_pid" in line, line


def test_decontaminate_broadcasts_eval_side(spark):
    """The eval/benchmark shingle set must broadcast; the train side
    must never end up in a cartesian or nested-loop join."""
    plan = _plan(spark, "decontaminate_ngram_overlap")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_runtime_bloom_filter_join(spark):
    """Under scale-representative thresholds, the optimizer must inject
    a bloom filter built from the filtered orders keys into the
    lineitem scan (semi-join reduction before the shuffle)."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.joins import (
        BLOOM_JOIN_CONFS,
    )

    saved = {}
    for k, v in BLOOM_JOIN_CONFS.items():
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        plan = _plan(spark, "runtime_filtered_join")
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_curation_end_to_end_scale_shape(spark):
    """The composed curation plan must inherit every stage's scale
    property: no cartesian, no nested-loop over the corpus, and no
    global (non-_pid) window. (The r4 mega-bucket gate is a broadcast
    anti-join, not a window, so the _pid rule stays strict.)"""
    plan = _plan(spark, "curation_end_to_end")
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "_pid" in line, line


def test_ngram_jaccard_band_is_equijoin(spark):
    """The id-band candidate join must be the exploded equi-join form,
    never a range-theta nested loop."""
    plan = _plan(spark, "ngram_jaccard_pairs")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_embedding_dedup_or_amplified_equijoin(spark):
    """The OR-amplified multi-table LSH must stay a (table, bucket) hash
    equi-join — OR-ing tables via explode, never via a disjunctive
    (nested-loop) join condition."""
    plan = _plan(spark, "dedup_embedding_cosine")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tfidf_builds_lazily(spark, monkeypatch):
    """q_tfidf must not run any driver-side action at plan-build time
    (the corpus size rides along as a broadcast 1-row aggregate, not a
    docs.count()): at 100 TB an eager count() is a second full scan and
    a synchronization barrier. Any DataFrame action during build fails
    the test. (Parquet footer/schema reads are not DataFrame actions
    and are exempt — they're metadata, not data scans.)"""
    from pyspark.sql import DataFrame as _DF

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.queries import (
        q_tfidf,
    )

    def _boom(name):
        def f(*a, **k):
            raise AssertionError(f"driver-side {name}() during plan build")

        return f

    for action in ("count", "collect", "first", "take", "head", "toPandas"):
        monkeypatch.setattr(_DF, action, _boom(action))
    df = q_tfidf(spark, SF_SMOKE)
    assert "tfidf" in df.columns


def test_inspect_helpers_report_plan_properties(spark):
    """plans/inspect.py must agree with the raw-regex assertions above
    on known plans: pushed filters and pruned columns on tpch_q1, a
    single-partition window in the exact ntile form but NOT in its
    scale twin, and fewer-shuffle plans for narrow pipelines."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans import (
        inspect as pi,
    )

    q1 = REGISTRY["tpch_q1_pricing_summary"][0](spark, SF_SMOKE)
    scans = pi.scan_report(q1)
    assert len(scans) == 1 and scans[0]["format"] == "parquet"
    assert any("l_shipdate" in f for f in scans[0]["pushed_filters"])
    assert "l_comment" not in scans[0]["read_columns"]

    exact = REGISTRY["ntile_quartiles"][0](spark, SF_SMOKE)
    scale = REGISTRY["ntile_quartiles_scale"][0](spark, SF_SMOKE)
    assert pi.single_partition_windows(exact)  # fidelity form: global window
    assert not pi.single_partition_windows(scale)  # two-pass form: none

    decode = REGISTRY["customer_decode"][0](spark, SF_SMOKE)
    assert pi.exchange_count(decode) == 0  # narrow pipeline: no shuffle


def test_funnel_single_user_exchange(spark):
    """All three funnel stage-windows share one partitionBy(user_id)
    spec: the plan must contain exactly ONE user_id hash exchange (plus
    the final single-partition agg exchange), with the Window ops
    stacked on it."""
    plan = _plan(spark, "event_funnel_stages")
    assert "CartesianProduct" not in plan
    # single-column spec = the windows' exchange; the final countDistinct
    # expand-agg also hashes on (user_id + flag columns) but its key
    # PRINT ORDER depends on expression ids, so match only the
    # one-column form
    user_exchanges = len(re.findall(r"Exchange hashpartitioning\(user_id#\d+L?, \d+\)", plan))
    assert user_exchanges == 1, plan


def test_fuzzy_pairs_blocked_equijoin(spark):
    """The fuzzy match must join on the blocking key, never cartesian
    or broadcast-nested-loop over all pairs."""
    plan = _plan(spark, "fuzzy_prefix_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_quantile_sketch_partial_aggregation(spark):
    """The only full-data pass is the binning groupBy, which must
    partial-aggregate below its exchange (the sketch property: shuffles
    carry ≤200 bins per priority, not raw rows)."""
    plan = _plan(spark, "quantile_bins_sketch")
    assert re.search(r"Exchange hashpartitioning.*?HashAggregate", plan, re.S), plan


def test_rolling_range_frame_single_exchange(spark):
    """The RANGE frame evaluates with one user_id exchange and no
    row-duplication (no explode/join in the plan)."""
    plan = _plan(spark, "rolling_hour_avg")
    assert len(re.findall(r"Exchange hashpartitioning\(user_id", plan)) == 1, plan
    assert "CartesianProduct" not in plan


def test_lateral_top2_decorrelates(spark):
    """The correlated LATERAL LIMIT subquery must decorrelate into a
    join + per-key ranking — not re-execute per outer row (no nested
    loop, no cartesian)."""
    plan = _plan(spark, "lateral_top2_orders")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q5_pushdown_and_broadcasts(spark):
    """Six-table join: the o_orderdate range must reach the orders scan
    as PushedFilters, the post-filter dimension chain must broadcast,
    and nothing may plan as cartesian."""
    plan = _plan(spark, "tpch_q5_local_supplier_volume")
    assert "CartesianProduct" not in plan
    assert re.search(r"PushedFilters: \[.*GreaterThanOrEqual\(o_orderdate", plan), plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_tpch_q6_full_pushdown_single_scan(spark):
    """Q6 is the canonical pushdown probe: all three predicates must
    reach the lineitem scan as PushedFilters, the ReadSchema must carry
    only the four referenced columns, and the whole query must be
    scan -> partial agg -> single-row reduce (no join, no Window).

    The default spark.sql.maxMetadataStringLength=100 truncates the
    PushedFilters list mid-name; raise it while capturing the plan."""
    old = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        plan = _plan(spark, "tpch_q6_forecast_revenue")
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", old)
    assert re.search(r"PushedFilters: \[.*GreaterThanOrEqual\(l_shipdate", plan), plan
    assert re.search(r"PushedFilters: \[.*LessThan\(l_quantity", plan), plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}, cols
    assert "Join" not in plan and "Window" not in plan


def test_tpch_q4_semi_join_no_distinct(spark):
    """EXISTS must plan as a LEFT SEMI hash join -- the semi short-circuits
    at first match, so no dedup exchange on the lineitem side."""
    plan = _plan(spark, "tpch_q4_order_priority")
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan


def test_tpch_q10_take_ordered_top20(spark):
    """The global top-20 must compile to TakeOrderedAndProject (per-task
    heaps + driver merge), never a global Sort."""
    plan = _plan(spark, "tpch_q10_returned_item_revenue")
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    ["tpch_q14_promo_revenue", "tpch_q16_supplier_cnt", "tpch_q19_disjunctive_revenue"],
)
def test_part_dim_broadcasts(spark, name):
    """Every lineitem-x-part query must broadcast the part side (forced
    in-code; at 100 TB AQE would pick the same) and keep the fact side
    shuffle-free up to the aggregate."""
    plan = _plan(spark, name)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan


def test_tpch_q18_semi_join_and_take_ordered(spark):
    """The HAVING subquery must feed a LEFT SEMI join (IN (subquery)
    without a dedup exchange) and the top-100 must be
    TakeOrderedAndProject."""
    plan = _plan(spark, "tpch_q18_large_volume_customer")
    assert "LeftSemi" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_mixture_threshold_single_scan_no_prejoin_shuffle(spark):
    """Threshold sampling is scan -> filter -> per-lang agg: exactly one
    exchange (the final lang groupBy), no join anywhere."""
    plan = _plan(spark, "mixture_sample_md5_threshold")
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 2, plan  # partial->final agg pair


def test_global_shuffle_order_no_single_partition_window(spark):
    """The reproducible-permutation query must rank via the two-pass
    range-partitioned machinery: any Window in the plan is partitioned
    by the range-partition id, never a global no-partition window."""
    plan = _plan(spark, "global_shuffle_order")
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "_pid" in line, line
    assert "CartesianProduct" not in plan


def test_mixture_temperature_broadcasts_rates(spark):
    """The 5-row per-lang rates table must broadcast back onto the
    corpus scan — the sample filter may not shuffle the documents."""
    plan = _plan(spark, "mixture_temperature_resample")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_observe_quality_single_pass_metrics(spark):
    """Observation metrics must ride the materializing job itself —
    row/null counters with zero extra scans. Verify values against
    directly computed ones and that the observed plan adds no Exchange."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.inspect import (
        observe_quality,
    )
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.sources.files import (
        load_table,
    )

    df = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    observed, obs = observe_quality(df, numeric_col="o_totalprice")
    n_collected = len(observed.collect())
    got = obs.get
    assert got["n_rows"] == n_collected
    assert got["n_any_null"] == df.filter(
        "o_orderkey IS NULL OR o_totalprice IS NULL OR o_orderpriority IS NULL"
    ).count()
    row = df.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    ).collect()[0]
    assert got["min_o_totalprice"] == row.lo and got["max_o_totalprice"] == row.hi
    plan = observed._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan  # metrics piggyback, no shuffle


def test_tpch_q22_anti_join_lazy_average(spark):
    """Q22's scalar average must enter the plan as a broadcast 1-row
    join (lazy end-to-end — no driver-side collect), and the
    no-recent-order predicate must plan as LEFT ANTI."""
    plan = _plan(spark, "tpch_q22_global_sales_opportunity")
    assert "LeftAnti" in plan, plan
    assert "Broadcast" in plan, plan


def test_tpch_q13_left_outer_preserves_zero_counts(spark):
    """Q13 must keep customers with zero orders (LEFT OUTER) and
    partial-aggregate the per-customer counts map-side."""
    plan = _plan(spark, "tpch_q13_customer_distribution")
    assert "LeftOuter" in plan, plan
    assert re.search(r"Exchange hashpartitioning.*?HashAggregate", plan, re.S), plan


def test_tpch_q8_one_fact_shuffle(spark):
    """The 8-table Q8: every dimension chain must broadcast — the only
    sort-merge (big) shuffle pair allowed is lineitem/orders on
    orderkey, plus the customer join."""
    plan = _plan(spark, "tpch_q8_market_share")
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert "CartesianProduct" not in plan


def test_tpch_q17_decorrelated_avg_no_nested_loop(spark):
    """The per-part average must decorrelate to a self-aggregate +
    equi-join (partkey-copartitioned), never re-execute per fact row."""
    plan = _plan(spark, "tpch_q17_small_quantity_revenue")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan


def test_tpch_q15_reads_persisted_revenue_frontier(spark):
    """Q15's revenue aggregate is consumed twice (scalar max + equality
    filter); it must be materialized once (lazy localCheckpoint) so
    both branches read the checkpointed RDD instead of re-aggregating
    lineitem, and the max must enter as a broadcast — not a collect.
    localCheckpoint (vs persist) so the blocks are ContextCleaner-freed
    on dereference instead of leaking in the CacheManager across a
    sequential all-registry driver run."""
    # session-shared fixture: other tests' caches must not bleed into
    # the isEmpty assertion below
    spark.catalog.clearCache()
    fn, _ = REGISTRY["tpch_q15_top_supplier"]
    df = fn(spark, SF_SMOKE)
    df.collect()
    final = (
        df._jdf.queryExecution().executedPlan().toString().split("Initial Plan")[0]
    )
    assert "ExistingRDD" in final, final
    assert "Broadcast" in final, final
    # the frontier must NOT have left a CacheManager entry behind
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_keep_best_single_aggregate_no_window(spark):
    """dedup_cluster_keep_best's per-cluster argmin must be the
    min(struct(logit, doc_id)) hash aggregate (map-side partials, one
    cluster exchange), NOT a corpus-wide row_number window, and the
    tiny cluster-label frame must broadcast onto the corpus scan."""
    plan = _plan(spark, "dedup_cluster_keep_best")
    assert "CartesianProduct" not in plan
    # the consolidation tail (above the checkpointed CC labels, which
    # appear as an ExistingRDD leaf) must be window-free: the argmin is
    # the struct-min hash aggregate, not row_number
    tail = plan.split("Scan ExistingRDD")[0]
    assert "row_number" not in tail
    assert "windowspecdefinition" not in tail
    assert "BroadcastHashJoin" in plan


def test_ngram_novelty_copartitions_on_bigram(spark):
    """The corpus bigram count and the join-back must share the bigram
    hash partitioning (count reuses the join's exchange), with the only
    other exchange being the final per-doc aggregate — and never a
    cartesian or nested loop."""
    import re

    fn, _ = REGISTRY["ngram_novelty_scores"]
    df = fn(spark, SF_SMOKE)
    df.collect()
    final = (
        df._jdf.queryExecution().executedPlan().toString().split("Initial Plan")[0]
    )
    assert "CartesianProduct" not in final
    assert "BroadcastNestedLoopJoin" not in final
    keys = re.findall(r"Exchange hashpartitioning\(([^,)]+)", final)
    roots = sorted({k.split("#")[0] for k in keys})
    assert roots == ["bg", "doc_id"], keys


def test_frame_sample_is_narrow(spark):
    """multimodal_frame_sample must be a pure per-row fan-out: zero
    exchanges, zero joins — payloads never move between executors."""
    plan = _plan(spark, "multimodal_frame_sample")
    assert "Exchange" not in plan
    assert "Join" not in plan


# ---- round-4 second wave (plans/warehouse.py) ----


def test_range_join_binned_to_hash_join(spark):
    """The no-equi-key range join must NOT plan as a nested-loop over
    the fact table: binning turns it into a hash equi-join on `bin`
    (broadcast here — the incident side is tiny by construction) with
    the time predicate as a residual."""
    plan = _plan(spark, "range_join_error_bursts")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_scd2_join_is_keyed_not_nested_loop(spark):
    """SCD2 point-in-time join hashes on the user equi-key; the
    interval-containment predicate rides as a residual/filter, never a
    nested loop over the fact."""
    plan = _plan(spark, "scd2_point_in_time_state")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_time_bucket_rollup_single_expand_one_shuffle(spark):
    """Three grains in one pass: Expand feeds a partially-aggregated
    hash agg — exactly one hashpartitioning exchange, not three scans."""
    plan = _plan(spark, "time_bucket_rollup_multi")
    assert "Expand" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.index("HashAggregate") < plan.rindex("HashAggregate")


def test_bpe_pairs_vocab_first_take_ordered(spark):
    """Pair expansion happens on the word-frequency dict (post-agg),
    and the top-50 is TakeOrdered — no global sort of all pairs."""
    plan = _plan(spark, "bpe_pair_merge_counts")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    keys = re.findall(r"Exchange hashpartitioning\(([^,)]+)", plan)
    roots = sorted({k.split("#")[0] for k in keys})
    assert roots == ["pair", "w"], keys


def test_inverted_index_term_copartition(spark):
    """(term, doc) reduce, per-term ranking, and the final term agg
    must all hash on term — two term-rooted exchanges, no extra
    repartition for the window or final aggregate."""
    plan = _plan(spark, "inverted_index_postings")
    keys = re.findall(r"Exchange hashpartitioning\(([^,)]+)", plan)
    roots = [k.split("#")[0] for k in keys]
    assert roots and set(roots) == {"term"}, keys
    assert len(roots) <= 2, keys
    assert "CartesianProduct" not in plan


def test_skew_profile_take_ordered_single_count_shuffle(spark):
    """Key counts shuffle once on user_id; totals come from the counts
    (1-row broadcast back), and top-10 is TakeOrdered."""
    plan = _plan(spark, "skew_key_profile")
    assert "TakeOrderedAndProject" in plan
    keys = re.findall(r"Exchange hashpartitioning\(([^,)]+)", plan)
    roots = sorted({k.split("#")[0] for k in keys})
    assert roots == ["user_id"], keys


def test_zscore_broadcasts_moments(spark):
    """Per-type moments (5 rows) broadcast back onto the fact scan —
    the fact table shuffles only for the tiny moment aggregate, and the
    join itself is a broadcast hash join on event_type."""
    plan = _plan(spark, "anomaly_zscore_events")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    keys = re.findall(r"Exchange hashpartitioning\(([^,)]+)", plan)
    roots = sorted({k.split("#")[0] for k in keys})
    assert roots == ["event_type"], keys


def test_doc_length_histogram_partial_agg(spark):
    """≤64 bucket keys: map-side combine below one exchange."""
    plan = _plan(spark, "doc_length_histogram")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.index("HashAggregate") < plan.rindex("HashAggregate")


def test_flagship_decode_chain_evaluated_once(spark):
    """The null-rejection filter and the join's inferred key null-check
    must NOT re-inline the envelope decode chain into their conditions:
    the evaluated_once Generate barrier keeps the executed plan at one
    from_json per parse site (4 total across both legs' two parses —
    it was 8 when pushdown duplicated the chains)."""
    plan = _plan(spark, "flagship_stedi_join")
    assert "Generate explode" in plan
    assert plan.count("from_json") <= 4, plan.count("from_json")


def test_lang_id_confusion_single_partial_agg(spark):
    plan = _plan(spark, "lang_id_confusion")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.index("HashAggregate") < plan.rindex("HashAggregate")


def test_ngram_diversity_source_rooted_exchanges(spark):
    """Both aggregates key on source first — no re-keying between the
    (source, bg) reduce and the per-source rollup."""
    plan = _plan(spark, "ngram_diversity_by_source")
    keys = re.findall(r"Exchange hashpartitioning\(([^,)]+)", plan)
    roots = sorted({k.split("#")[0] for k in keys})
    assert roots == ["source"], keys
    assert "CartesianProduct" not in plan


def test_quality_quartile_one_source_exchange(spark):
    """row_number and the per-source count share one partitioning —
    a single source-keyed exchange, never a global window."""
    plan = _plan(spark, "quality_top_quartile_per_source")
    keys = re.findall(r"Exchange hashpartitioning\(([^,)]+)", plan)
    roots = sorted({k.split("#")[0] for k in keys})
    assert roots == ["source"], keys
    assert "SinglePartition" not in plan


def test_source_overlap_join_on_shingle(spark):
    """The self-join hashes on the shingle (per-shingle fan-out bounded
    by |sources|); never a cartesian/nested loop."""
    plan = _plan(spark, "source_overlap_matrix")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan


def test_label_balance_no_global_window(spark):
    """Ranking is label-partitioned (no global window); the min-count
    reaches the fact side as a 1-row broadcast (the IdentityBroadcast /
    scalar pattern), and the embedding payload is pruned from every
    scan — only (vec_id, label) move."""
    plan = _plan(spark, "label_balance_downsample")
    keys = re.findall(r"Exchange hashpartitioning\(([^,)]+)", plan)
    roots = sorted({k.split("#")[0] for k in keys})
    assert roots == ["label"], keys
    # row_number must ride the label partitioning, not SinglePartition
    assert "windowspecdefinition(label" in plan
    assert "BroadcastExchange" in plan
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        assert "embedding" not in m.group(1), m.group(1)


def test_transition_matrix_one_user_exchange(spark):
    """lead() window keys on user_id; the transition rollup is a
    ≤|types|² partial agg — exactly two hash exchanges, no more."""
    plan = _plan(spark, "event_transition_matrix")
    keys = re.findall(r"Exchange hashpartitioning\(([^,)]+)", plan)
    roots = sorted({k.split("#")[0] for k in keys})
    # the rollup exchange keys on the pre-alias (event_type, next_type)
    assert roots == ["event_type", "user_id"], keys


def test_nucleus_sample_single_source_exchange(spark):
    """row_number, running sum, and the total share ONE source-keyed
    exchange; no SinglePartition window anywhere."""
    plan = _plan(spark, "nucleus_sample_per_source")
    keys = re.findall(r"Exchange hashpartitioning\(([^,)]+)", plan)
    roots = sorted({k.split("#")[0] for k in keys})
    assert roots == ["source"], keys
    assert "windowspecdefinition(source" in plan


def test_table_profile_single_pass(spark):
    """Both distinct-counts and all plain aggregates ride ONE scan: an
    Expand feeds partial aggregates — no per-statistic jobs, no second
    scan of events."""
    plan = _plan(spark, "table_profile_events")
    assert plan.count("Scan parquet") == 1
    assert "Expand" in plan
    assert plan.index("HashAggregate") < plan.rindex("HashAggregate")


def test_sparse_cosine_postings_equijoin(spark):
    """The postings self-join must be a hash equi-join on the shingle
    key — never a cartesian/BNLJ — and the df cap must gate postings
    BEFORE the join (a Filter on the aggregate side)."""
    plan = _plan(spark, "sparse_cosine_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    spark.catalog.clearCache()


def test_prefix_filter_join_shape(spark):
    """Prefix-filtered set-similarity join: exploded-prefix equi-join,
    no cartesian, and no global window (per-doc prefix extraction is
    sort_array over the row's own structs, not a ranking window)."""
    plan = _plan(spark, "setsim_prefix_filter_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "windowspecdefinition" not in plan.lower()
    spark.catalog.clearCache()


def test_systematic_pps_no_single_partition_window(spark):
    """The cumulative sum must be the two-pass range-partitioned form:
    any window runs partitioned by _pid, and the scalar totals attach
    via a broadcast (1-row) join, which is the only legitimate
    single-partition stage."""
    plan = _plan(spark, "systematic_pps_sample")
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "_pid" in m.group(1), f"non-_pid window: {m.group(0)}"
    assert "CartesianProduct" not in plan
    spark.catalog.clearCache()


def test_windowed_topk_batch_window_above_aggregate(spark):
    """The rank window must run over the (window, type) AGGREGATE — a
    per-window partition of ≤|types| rows — never over raw events. The
    executed plan must show the hash aggregate below the Window node
    (partial aggregation pattern), and the window keyed on
    window_start."""
    plan = _plan(spark, "windowed_topk_batch")
    w = plan.find("Window")
    agg = plan.find("HashAggregate")
    assert w != -1 and agg != -1
    # Window node is printed ABOVE its child aggregate in the tree dump
    assert w < agg, plan[:2000]
    m = re.search(r"windowspecdefinition\(([^)]*)\)", plan)
    assert m and "window_start" in m.group(1), m


def test_bot_regularity_single_user_exchange(spark):
    """The lag window and the grouped aggregate both key on user_id —
    the executed plan must contain exactly one user-rooted exchange
    (the window's), with the aggregate reusing its partitioning, and
    every window partitioned by user_id."""
    plan = _plan(spark, "bot_regularity_timing")
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "user_id" in m.group(1), m.group(0)
    assert plan.count("Exchange hashpartitioning(user_id") <= 1, plan[:3000]


def test_incremental_near_dup_equijoin_no_cartesian(spark):
    """Batch-vs-corpus candidate generation must be a hash equi-join on
    (band, bucket) — never cartesian/BNLJ — and the exact verify joins
    stay hash joins."""
    plan = _plan(spark, "incremental_near_dup_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    spark.catalog.clearCache()


def test_triangle_closure_all_equijoins(spark):
    """Wedge formation and closure must be hash equi-joins (pivot key,
    then (v,w) pair key) — no cartesian/BNLJ anywhere in the plan; the
    only window is the final top-20 rank over per-node counts."""
    plan = _plan(spark, "triangle_parts_copurchase")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    spark.catalog.clearCache()


def test_pagerank_no_cartesian(spark):
    """Every PageRank round is a keyed join + aggregate — no
    cartesian/BNLJ anywhere in the final executed plan."""
    plan = _plan(spark, "pagerank_parts_copurchase")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    spark.catalog.clearCache()


def test_exact_substr_spans_no_cartesian_and_bounded_window(spark):
    """ExactSubstr spans must stay linear: digest-count equi-join back
    to positions (no pair-of-occurrences join, no cartesian), and the
    only window is partitioned per document — never corpus-global."""
    plan = _plan(spark, "exact_substr_spans")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # gaps-and-islands window is keyed by _id (per-document, bounded)
    assert "partitionBy=[_id" in plan.replace(" ", "") or "_id" in plan
    spark.catalog.clearCache()


def test_bloom_probe_broadcasts_word_table(spark):
    """The Bloom prefilter's whole point is a LOCAL probe: the sparse
    word table must arrive at the batch side as a broadcast hash join,
    never a shuffled sort-merge join (which would re-create the full
    exchange the filter exists to avoid)."""
    plan = _plan(spark, "bloom_prefilter_ingest_dedup")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    spark.catalog.clearCache()


def test_sensor_gap_interpolation_single_exchange(spark):
    """Both IGNORE NULLS frames (bracketing reading before/after) ride
    the SAME user-keyed sort: exactly one exchange in the plan — a
    second one would mean the frames were planned as separate
    windows."""
    plan = _plan(spark, "sensor_gap_interpolation")
    import re

    n_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_exchanges == 1, f"{n_exchanges} exchanges:\n{plan[:2000]}"
    assert "CartesianProduct" not in plan
    spark.catalog.clearCache()


def test_semdedup_assignment_is_narrow(spark):
    """Centroid assignment must be per-row array math over a 1-row
    broadcast (zero shuffle); the ONLY hash exchange in the plan is
    the per-cluster rank."""
    fn, _ = REGISTRY["semdedup_cluster_cap"]
    df = fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert "CartesianProduct" not in plan


def test_snapshot_cdc_full_outer_no_cartesian(spark):
    """CDC diff is a single key-partitioned full outer join."""
    fn, _ = REGISTRY["snapshot_cdc_diff"]
    df = fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FullOuter" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_interval_overlap_broadcasts_windows(spark):
    """The binned overlap join must be a bin equi-join with the tiny
    window side broadcast — never a nested-loop over spans."""
    plan = _plan(spark, "interval_overlap_join")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_weighted_median_single_exchange(spark):
    """The cumsum window, per-source total window, and the final pick
    aggregate all share hashpartitioning(source): exactly ONE hash
    exchange end-to-end."""
    plan = _plan(spark, "weighted_median_doc_length")
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan


def test_bigram_lift_topk_and_no_cartesian(spark):
    """Top-50 by lift must compile to TakeOrderedAndProject (per-partition
    heaps, never a global sort materialization) and the only nested-loop
    joins allowed are the two 1-row scalar-total broadcasts — the vocab
    joins themselves must be hash equi-joins on the word key."""
    plan = _plan(spark, "bigram_lift_collocations")
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # scalar totals (n_uni, n_bg) attach via broadcast nested-loop: 2 max
    assert len(re.findall(r"BroadcastNestedLoopJoin", plan)) <= 2, plan
    # the word-key vocabulary joins stay equi (shuffle or broadcast hash)
    assert re.search(r"(Shuffled|Broadcast)HashJoin|SortMergeJoin", plan), plan


def test_symdelete_no_cartesian(spark):
    """The ed-1 join must be a variant-key equi-join — the whole point
    is avoiding the oracle's brute-force cross join."""
    plan = _plan(spark, "symdelete_ed1_pairs")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert re.search(r"(Shuffled|Broadcast)HashJoin|SortMergeJoin", plan), plan


def test_vocab_coverage_broadcasts_vocab(spark):
    """The top-K vocab cut must be TakeOrderedAndProject and the
    coverage join must broadcast the K-row vocab — the token stream
    (corpus-sized) must never shuffle for the join."""
    plan = _plan(spark, "vocab_coverage_topk")
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_contrastive_triplets_no_global_window(spark):
    """The negative-ranking window must partition by anchor_id — never
    a no-partition global window over the candidate join."""
    plan = _plan(spark, "contrastive_triplets")
    for line in plan.splitlines():
        if "Window" in line and "row_number" in line:
            assert "anchor_id" in line, line
    assert "CartesianProduct" not in plan


def test_link_prediction_all_equijoins(spark):
    """Wedge generation, degree joins, and the edge anti-join must all
    be hash equi-joins — a cartesian here is the classic link-
    prediction blow-up."""
    plan = _plan(spark, "link_prediction_scores")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ks_two_sample_single_corpus_exchange(spark):
    """Only the (source, n_chars) aggregate touches the corpus; the
    ECDF grid cross join runs on post-aggregate dimension tables, so
    exactly one exchange may hash-partition on raw scan output."""
    plan = _plan(spark, "ks_two_sample_sources")
    # the corpus aggregate must combine map-side before its exchange
    assert re.search(r"Exchange hashpartitioning.*?HashAggregate", plan, re.S), plan


def test_chi_square_map_side_partials(spark):
    plan = _plan(spark, "chi_square_independence")
    assert re.search(r"Exchange hashpartitioning.*?HashAggregate", plan, re.S), plan
    assert "CartesianProduct" not in plan


def test_mom_revenue_broadcasts_dims(spark):
    plan = _plan(spark, "mom_revenue_growth")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_markov_edge_table_checkpointed(spark):
    """The 30-round loop must iterate on the checkpointed ≤|types|²
    edge table, never re-deriving the corpus window: the final plan
    contains no events scan (only LogicalRDD/checkpoint scans)."""
    fn, _ = REGISTRY["markov_stationary_events"]
    df = fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan, plan


def test_kaplan_meier_shares_user_exchange(spark):
    """first-event window + per-user aggregate should produce at most
    two user-keyed exchanges (window, then join+agg reuse); the
    KM windows run post-aggregate on the tiny lifetime table."""
    plan = _plan(spark, "kaplan_meier_retention")
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 3, f"{n_exchanges} exchanges:\n{plan}"


def test_zipf_readability_no_join(spark):
    """Both token-explode profiles are scan → explode → aggregate:
    no join may appear anywhere in either plan."""
    for name in ("readability_forcast", "zipf_slope_by_source"):
        plan = _plan(spark, name)
        assert "Join" not in plan, f"{name}:\n{plan}"


def test_cube_single_expand_single_exchange(spark):
    """CUBE must plan as one Expand feeding one partial-agg exchange —
    not four scans or four exchanges."""
    plan = _plan(spark, "cube_event_profile")
    assert plan.count("Expand") >= 1
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert re.search(r"Exchange hashpartitioning.*?HashAggregate", plan, re.S), plan


def test_anova_single_exchange(spark):
    """One corpus aggregate; the SSB/SSW assembly is post-aggregate."""
    plan = _plan(spark, "anova_value_by_type")
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_seasonality_autocorr_broadcasts_lags(spark):
    """The 2-row lag table must broadcast; the lag self-join runs on
    the post-aggregate hourly table (equi-join, no cartesian on the
    corpus)."""
    plan = _plan(spark, "seasonality_autocorr")
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_unpivot_is_narrow_expand(spark):
    """Unpivot must plan as a narrow Expand on the aggregated wide
    table — no exchange of its own, no join. (Spark's pivot itself
    costs two exchanges: the (user,type) pre-count and the pivotfirst
    re-key on user; the unpivot adds zero.)"""
    plan = _plan(spark, "unpivot_event_matrix")
    assert "Expand" in plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "Join" not in plan


def test_loo_encoding_single_window_exchange(spark):
    """sum and count share the event_type partition spec: one
    category-keyed exchange feeds both window functions."""
    plan = _plan(spark, "loo_target_encoding")
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "Join" not in plan


def test_centroid_shift_broadcasts_global(spark):
    """The global-centroid table (|dims| rows) must broadcast onto the
    per-label sums; the only corpus exchange is the (label,pos)
    aggregate after posexplode."""
    plan = _plan(spark, "embedding_centroid_shift")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_last_touch_single_user_exchange(spark):
    """Both IGNORE-NULLS windows share one user-keyed partition spec:
    one corpus exchange, no self-join."""
    plan = _plan(spark, "last_touch_attribution")
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "Join" not in plan


def test_bigram_lm_broadcasts_model(spark):
    """The bigram/context/vocab model tables broadcast onto the test
    bigrams — scoring must not shuffle the test corpus."""
    plan = _plan(spark, "bigram_lm_perplexity")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_decision_stump_single_corpus_exchange(spark):
    """One (x) aggregate touches the corpus; the cumulative windows and
    rank run on the value-domain table."""
    plan = _plan(spark, "decision_stump_split")
    assert re.search(r"Exchange hashpartitioning.*?HashAggregate", plan, re.S), plan
    assert "Join" not in plan


def test_transition_entropy_broadcast_only_joins(spark):
    """All joins are 1-row / |types|-row broadcasts onto the tiny
    transition table — never a shuffle join."""
    plan = _plan(spark, "transition_entropy_mi")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bitmap_intersect_map_side_bitor(spark):
    """bit_or must partially aggregate below the exchange (commutative
    pack), and the word-aligned pair join must never go cartesian."""
    plan = _plan(spark, "bitmap_intersect_users")
    assert re.search(r"Exchange hashpartitioning.*?HashAggregate", plan, re.S), plan
    assert "CartesianProduct" not in plan


def test_peak_concurrency_sweeps_endpoints_not_events(spark):
    """The global-order sweep window must run AFTER the session
    aggregate — on session endpoints, never on raw events. Enforced
    structurally: every no-partition window sits above the session
    HashAggregate in the plan tree (events only ever feed the
    user-keyed sessionization window)."""
    plan = _plan(spark, "peak_concurrency")
    assert "CartesianProduct" not in plan
    # the raw-events window is user-partitioned; sweep windows are
    # separated from the scan by the session aggregate:
    scan_to_first_window = plan.split("windowspecdefinition")[0]
    assert "HashAggregate" in scan_to_first_window or "user_id" in plan
    for line in plan.splitlines():
        if "windowspecdefinition" in line and "user_id" not in line:
            # global sweep/rank windows: must consume aggregated rows
            assert "sid" not in line, line


def test_cusum_and_eta_map_side_partials(spark):
    for name in ("cusum_changepoint", "seasonal_strength_eta"):
        plan = _plan(spark, name)
        assert re.search(
            r"Exchange hashpartitioning.*?HashAggregate", plan, re.S
        ), f"{name}:\n{plan}"
        assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "rfm_segments",
        "loo_target_encoding",
        "peak_concurrency",
        "skyline_pareto_docs",
    ],
)
def test_no_corpus_global_window(spark, name):
    """These run ranking/cumsum/suffix-max over corpus-sized frames:
    every window must be partitioned (_pid / key / category), never the
    no-partition form that single-tasks the corpus (the round-1
    WindowExec scale-killer). The only allowed unpartitioned windows
    are over provably dimension-sized frames, of which these have
    none."""
    plan = _plan(spark, name)
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert (
                "_pid" in line
                or "user_id" in line
                or "event_type" in line
                or "windowspecdefinition(x" in line
            ), f"{name}: {line}"


@pytest.mark.parametrize(
    "name",
    [
        "mannwhitney_u_click_view",
        "spearman_value_vs_time",
        "quantile_normalize_by_source",
        "kfold_assignment_balanced",
        "active_coverage_time",
    ],
)
def test_session3_ranking_users_no_global_window(spark, name):
    """The r6-session-3 consumers of the two-pass ranking primitives:
    every Window in the plan must be partitioned by the range-partition
    id, and the triangular offset joins must broadcast (no cartesian)."""
    plan = _plan(spark, name)
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "_pid" in line, f"{name}: {line}"
    assert "CartesianProduct" not in plan


def test_weighted_sample_uses_take_ordered(spark):
    """E-S weighted sampling must be a global top-k
    (TakeOrderedAndProject), never a full sort of the corpus."""
    plan = _plan(spark, "weighted_sample_wor")
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_weighted_sample_wor_es_take_ordered(spark):
    """The r11 Efraimidis-Spirakis variant (r11 ADVICE): the corpus cut
    must be TakeOrderedAndProject with no single-partition shuffle; the
    rank-naming window runs AFTER the limit on the bounded k-row
    result."""
    plan = _plan(spark, "weighted_sample_without_replacement")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange SinglePartition" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "item_item_cosine_parts",
        "dirichlet_lm_topk",
        "kl_surprise_docs",
        "rbo_bm25_vs_lm",
    ],
)
def test_global_topk_pre_pruned_not_single_partition_sort(spark, name):
    """r11 VERDICT #3: global top-k cuts over data-proportional frames
    (pruned item-item pair set, per-doc score rankings) must be
    pre-pruned to k per partition before any single-partition step.
    Catalyst's LimitPushDownThroughWindow rewrites the
    row_number()<=k / orderBy().limit(k) pattern into
    TakeOrderedAndProject (per-partition heap-k + driver merge of p*k
    rows) — this pin asserts the rewrite actually fires, i.e. the plan
    contains the TakeOrdered prune and never plans a corpus-wide
    single-partition Sort (the only allowed SinglePartition exchanges
    sit ABOVE a TakeOrdered/limit, ranking a bounded <=k-row frame)."""
    plan = _plan(spark, name)
    assert "TakeOrderedAndProject" in plan, name
    # every Sort that is global (the `true` flag = global sort) must
    # not appear — TakeOrdered replaces it; per-join-partition sorts
    # (flag false) are fine.
    for line in plan.splitlines():
        if "+- Sort [" in line:
            assert "], false," in line, f"{name}: global sort: {line}"


def test_embedding_diversity_no_pair_join(spark):
    """The norm-of-sum identity must keep the plan join-free between
    embedding rows: aggregates only, no join of the corpus to itself
    (the |labels|-row finalize join is fine — assert no SortMergeJoin
    and no cartesian)."""
    plan = _plan(spark, "embedding_diversity_by_label")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_gdpr_cascade_semi_joins_broadcast(spark):
    """Erasure counting must stay semi-join shaped: broadcast left-semi
    probes, no row-widening inner joins of fact tables."""
    plan = _plan(spark, "gdpr_erasure_cascade")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_mv_maintenance_merge_is_small_join(spark):
    """Incremental MV maintenance merges two (type, day) aggregates —
    the plan must show partial aggregation on both inputs and a
    full-outer join, with no second scan shape beyond the two
    aggregates' inputs."""
    plan = _plan(spark, "mv_incremental_maintenance")
    assert "FullOuter" in plan
    assert "partial_count" in plan or "partial" in plan.lower()


def test_lateness_profile_no_global_window(spark):
    """The running watermark max must come from the two-pass
    global_running_max — only _pid-partitioned windows, no cartesian."""
    plan = _plan(spark, "watermark_lateness_profile")
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "_pid" in line, line
    assert "CartesianProduct" not in plan


def test_asof_join_fanout_free(spark):
    """r8: the as-of join is the UNION + carry-forward running-max
    plan — NO join operator anywhere (the old equi+range join's
    |events|·orders-per-user fan-out was a 3-round perf regression),
    one hash exchange on the user key, a per-user sort, a Window."""
    plan = _plan(spark, "asof_latest_order_before_event")
    for op in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert op not in plan, op
    assert "Window" in plan
    assert "Union" in plan
    # exactly one data exchange (the user-key hash partitioning for
    # the window); no range/single partitioning of the corpus
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Exchange SinglePartition" not in plan


def test_shingle_containment_blocked_equijoin(spark):
    """Pair generation happens in-block post-collect: no join operator
    between corpus-sized inputs, no cartesian; the only joins permitted
    are none at all (collect+transform does the pairing)."""
    plan = _plan(spark, "shingle_containment_pairs")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kl_and_dirichlet_use_take_ordered(spark):
    """Top-20 cuts must be TakeOrderedAndProject (per-partition heaps),
    never a global sort of the scored corpus."""
    for name in ("kl_surprise_docs", "dirichlet_lm_topk"):
        plan = _plan(spark, name)
        assert "TakeOrderedAndProject" in plan, name
    # and the rank window then runs on exactly the 20 surviving rows,
    # which is the only SinglePartition exchange allowed
    plan = _plan(spark, "kl_surprise_docs")
    assert plan.count("Exchange SinglePartition") <= 1


def test_duplicate_payment_pairs_equijoin(spark):
    """The 24h predicate must ride on a (user, cents) equi-join —
    never a nested-loop range join over the corpus."""
    plan = _plan(spark, "duplicate_payment_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_welch_partial_aggregation(spark):
    """The Welch sufficient statistics must combine map-side: a
    HashAggregate below the exchange, raw rows never shuffle."""
    plan = _plan(spark, "welch_ttest_click_view")
    pre, _, post = plan.partition("Exchange")
    assert "HashAggregate" in post  # partial agg below the first exchange


def test_eb_shrunk_take_ordered_top20(spark):
    """The QUALIFY rank<=20 spelling must optimize to
    TakeOrderedAndProject at row scale (WindowGroupLimit rewrite) with
    the rank window running on just the 20 survivors — never a global
    sort/window over all users. Same contract for the linkage top-20
    (which legitimately carries four extra SinglePartition exchanges:
    its 1-row u-probability/N scalar aggregates)."""
    for name, max_sp in (
        ("eb_shrunk_purchase_rate", 1),
        ("fellegi_sunter_linkage", 5),
    ):
        plan = _plan(spark, name)
        assert "TakeOrderedAndProject" in plan, name
        assert plan.count("Exchange SinglePartition") <= max_sp, name
        # the window must sit directly on the 20-row TakeOrdered result
        win = plan.index("Window [row_number()")
        tk = plan.index("TakeOrderedAndProject", win)
        assert 0 < tk - win < 400, name  # adjacent operators, not a resort


def test_shapley_lattice_joins_are_broadcast(spark):
    """All Shapley lattice work (16-row mask frames, 4-row channel
    grid) must ride broadcast joins; the only row-scale exchange is
    the per-user aggregate. No cartesian of corpus-sized inputs."""
    plan = _plan(spark, "shapley_channel_attribution")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_heaps_checkpoint_joins_are_broadcast(spark):
    """Checkpoint thresholds (10-row grid) join the vocab/doc-count
    aggregates via broadcast inequality joins; no corpus-vs-corpus
    join and no single-partition window anywhere."""
    plan = _plan(spark, "heaps_law_vocab_growth")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_mann_kendall_pairs_on_bounded_domain(spark):
    """The O(days²) sign join must be a broadcast over the
    day-aggregate (bounded domain), never a shuffle join — the
    row-scale exchange is the single (day) hash aggregate."""
    plan = _plan(spark, "mann_kendall_trend_daily")
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_clustering_coefficient_take_ordered_top20(spark):
    """The cc top-20 must be TakeOrderedAndProject with its rank
    window on the 20 survivors (WindowGroupLimit rewrite); per-node
    frames never pass through a single-partition exchange and the
    wedge joins are all equi (no cartesian)."""
    plan = _plan(spark, "clustering_coefficient_copurchase")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange SinglePartition") == 0
    win = plan.index("Window [row_number()")
    tk = plan.index("TakeOrderedAndProject", win)
    assert 0 < tk - win < 400  # adjacent operators, not a resort


def test_friedman_windows_partitioned_by_day(spark):
    """Friedman's rank machinery must run in per-day windows (k rows
    each), never a global window; the only single-partition exchanges
    are the 1-row dims/ties/final scalar aggregates."""
    plan = _plan(spark, "friedman_event_counts")
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange SinglePartition") <= 3
    assert "windowspecdefinition(day" in plan
    # no global (unpartitioned) window: every spec opens with a
    # partition column, not directly with an ordering spec
    import re

    for spec in re.findall(r"windowspecdefinition\(([^,]+)", plan):
        assert "ASC" not in spec and "DESC" not in spec, spec


def test_sprt_walk_is_per_user_window(spark):
    """The SPRT walk is a per-user partitioned cumsum — no global
    window, no single-partition exchange, no sort-merge join (the
    crossed/all-users join rides broadcast or shuffled-hash at this
    scale; what's pinned is that nothing serializes)."""
    plan = _plan(spark, "sprt_purchase_decision")
    assert "windowspecdefinition(user_id" in plan
    assert plan.count("Exchange SinglePartition") == 0
    assert "CartesianProduct" not in plan


def test_cramers_v_marginals_broadcast(spark):
    """Cell/marginal joins on the ≤r·c contingency frames must ride
    broadcast; single-partition exchanges only for the 1-row N scalar
    and final assembly."""
    plan = _plan(spark, "cramers_v_type_dow")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange SinglePartition") <= 2


def test_bh_fdr_post_agg_frames_are_small(spark):
    """Everything after the one corpus hash-agg is a k=5-row frame:
    no sort-merge join, no cartesian; the single-partition exchanges
    are the 1-row total/cutoff scalars and the k-row rank window."""
    plan = _plan(spark, "bh_fdr_high_value_rate")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange SinglePartition") <= 4


def test_stratified_ate_broadcasts_dimension(spark):
    """The orders→customer stratum join must broadcast the dim; after
    the (stratum) agg everything is a ≤25-row frame (1-row N scalar +
    final reduce are the only single-partition exchanges)."""
    plan = _plan(spark, "stratified_ate_urgent_orders")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange SinglePartition") <= 2


def test_log_rank_at_risk_join_is_broadcast(spark):
    """The log-rank at-risk table comes from a broadcast non-equi
    self-join of the tiny per-day count frame — never a cartesian
    product — and the only windows are the two-pass helper's per-_pid
    cumsums (no global window over unaggregated rows)."""
    plan = _plan(spark, "log_rank_conversion_survival")
    assert "CartesianProduct" not in plan
    for spec in re.findall(r"windowspecdefinition\(([^,]+)", plan):
        assert "ASC" not in spec and "DESC" not in spec, spec
    m = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert m
    for schema in m:
        assert set(schema.split(",")) <= {
            "user_id:bigint",
            "ts:timestamp",
            "ts:timestamp_ntz",
            "event_type:string",
            "value:double",
        }, schema


def test_brown_forsythe_median_join_broadcast(spark):
    """Per-type medians (k rows) must broadcast back onto the corpus;
    cumulative counts ride the two-pass helper (per-_pid windows
    only); no cartesian product anywhere."""
    plan = _plan(spark, "brown_forsythe_value_by_type")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    for spec in re.findall(r"windowspecdefinition\(([^,]+)", plan):
        assert "ASC" not in spec and "DESC" not in spec, spec


def test_hodges_lehmann_pair_join_broadcast(spark):
    """The m·n difference product is a broadcast nested-loop over two
    calendar-bounded hourly frames (never CartesianProduct), and the
    difference-median machinery is the per-_pid two-pass form."""
    plan = _plan(spark, "hodges_lehmann_click_vs_view")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    for spec in re.findall(r"windowspecdefinition\(([^,]+)", plan):
        assert "ASC" not in spec and "DESC" not in spec, spec


def test_wasserstein_no_global_window(spark):
    """W1's cumulative mass imbalance and neighbor gap must come from
    the two-pass helpers (per-_pid windows, rn+1 equi-join) — no
    global lead()/running-sum window, no cartesian product."""
    plan = _plan(spark, "wasserstein_click_vs_view")
    assert "CartesianProduct" not in plan
    for spec in re.findall(r"windowspecdefinition\(([^,]+)", plan):
        assert "ASC" not in spec and "DESC" not in spec, spec


def test_assortativity_degree_joins_broadcast(spark):
    """Endpoint-degree lookups must broadcast the |V|-row degree frame
    onto the edge list (never sort-merge both sides of the tiny dim);
    no cartesian product; the final stats are one reduce."""
    plan = _plan(spark, "degree_assortativity_copurchase")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_ndcg_rankings_take_ordered(spark):
    """Both top-10 rankings (quantized retrieval per query-partition,
    ideal by grade) must ride WindowGroupLimit/TakeOrdered shapes over
    aggregated frames; grade/weight joins broadcast; no cartesian."""
    plan = _plan(spark, "ndcg_mrr_dense_retrieval")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan or "TakeOrderedAndProject" in plan


def test_cohens_kappa_post_agg_tiny(spark):
    """Everything after the one corpus scan is a ≤|langs|²-row frame:
    marginal join broadcasts, no sort-merge join, no cartesian; the
    single-partition exchanges are the 1-row totals/final assembly."""
    plan = _plan(spark, "cohens_kappa_lang_id")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange SinglePartition") <= 3


def test_nelson_aalen_at_risk_join_broadcast(spark):
    """The per-cohort at-risk table is a broadcast non-equi self-join
    of the tiny (g, dur) count frame; cumulative hazard rides the
    two-pass helper (per-_pid windows only); no cartesian product."""
    plan = _plan(spark, "nelson_aalen_hazard")
    assert "CartesianProduct" not in plan
    for spec in re.findall(r"windowspecdefinition\(([^,]+)", plan):
        assert "ASC" not in spec and "DESC" not in spec, spec


def test_l_diversity_single_agg(spark):
    """One hash aggregate over customer into ≤|nations|·|segments|
    rows; the min-l join is a broadcast 1-row frame; the scan reads
    only the three columns used."""
    plan = _plan(spark, "l_diversity_report")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    assert set(m.group(1).split(",")) <= {
        "c_nationkey:bigint",
        "c_nationkey:int",
        "c_mktsegment:string",
        "c_acctbal:double",
        "c_acctbal:decimal(12,2)",
    }, m.group(1)


def test_video_shot_boundaries_narrow(spark):
    """The shot detector is a narrow mapInPandas over the payload
    partitioning: zero exchanges of any kind, payload pruned to four
    small output columns."""
    plan = _plan(spark, "video_shot_boundaries")
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan


def test_iv_wald_single_user_agg(spark):
    """One per-user hash agg feeds a 2-row group reduce and a 1-row
    pivot: no joins at all (no SMJ/broadcast/cartesian), scan pruned
    to the three columns used."""
    plan = _plan(spark, "iv_wald_estimate")
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    m = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert m
    for schema in m:
        assert set(schema.split(",")) <= {
            "user_id:bigint",
            "event_type:string",
            "value:double",
        }, schema


def test_robust_stl_band_join_broadcast(spark):
    """The 7-day rolling-median window is a broadcast band self-join
    of the tiny daily frame (never cartesian/SMJ); per-dow medians
    group that frame; only the first agg touches the corpus."""
    plan = _plan(spark, "robust_stl_daily_volume")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_t_closeness_per_class_windows_only(spark):
    """Cumulative-difference windows must open with the class columns
    (≤11-row partitions), never an unpartitioned spec; the bucket
    grid rides broadcast; no cartesian beyond the broadcast grid."""
    plan = _plan(spark, "t_closeness_report")
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition(c_nationkey" in plan
    import re as _re

    for spec in _re.findall(r"windowspecdefinition\(([^,]+)", plan):
        assert "ASC" not in spec and "DESC" not in spec, spec


def test_motif_take_ordered_selection(spark):
    """Motif/discord argmin/argmax are TakeOrderedAndProject over the
    tiny pair frame; the window-pair build is broadcast band joins;
    per-window minima partition by start day (no global window)."""
    plan = _plan(spark, "timeseries_motif_discovery")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    import re as _re

    for spec in _re.findall(r"windowspecdefinition\(([^,]+)", plan):
        assert "ASC" not in spec and "DESC" not in spec, spec


def test_obf_looks_join_broadcast(spark):
    """Each event joins the broadcast 4-row looks table (band
    condition) into a 4-group hash aggregate; bounds join broadcast;
    no sort-merge join, no cartesian product."""
    plan = _plan(spark, "obrien_fleming_sequential")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_huber_iterations_on_histogram(spark):
    """All four IRLS iterations run over the distinct-value histogram
    with 1-row broadcast location frames — no cartesian, no SMJ, no
    unpartitioned window (the two-pass helper's _pid specs only)."""
    plan = _plan(spark, "huber_location_value")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    for spec in re.findall(r"windowspecdefinition\(([^,]+)", plan):
        assert "ASC" not in spec and "DESC" not in spec, spec


def test_spearman_matrix_tiny_frames(spark):
    """All rank/pair machinery lives on the |types|·|days| grid:
    broadcast joins only after the first agg, two-pass _pid windows
    only, no cartesian beyond the broadcast type×day grid."""
    plan = _plan(spark, "spearman_matrix_daily_volumes")
    assert "CartesianProduct" not in plan
    for spec in re.findall(r"windowspecdefinition\(([^,]+)", plan):
        assert "ASC" not in spec and "DESC" not in spec, spec


def test_ccf_lag_join_broadcast(spark):
    """The 7-row lag table and the purchase series broadcast onto the
    click series; per-lag sums are one hash agg; no SMJ/cartesian."""
    plan = _plan(spark, "ccf_click_purchase_leadlag")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_granger_lag_joins_broadcast(spark):
    """Lag alignment is two broadcast self-joins of the tiny daily
    frame; the OLS assembly is one 1-row reduce — no SMJ, no
    cartesian."""
    plan = _plan(spark, "granger_click_to_purchase")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_km_curve_at_risk_broadcast(spark):
    """The KM curve's corpus work is the Nelson-Aalen plan: per-user
    agg + broadcast non-equi at-risk self-join; no cartesian; the
    product chain itself is driver-side over the bounded collect."""
    plan = _plan(spark, "kaplan_meier_conversion_curve")
    assert "CartesianProduct" not in plan
    for spec in re.findall(r"windowspecdefinition\(([^,]+)", plan):
        assert "ASC" not in spec and "DESC" not in spec, spec


def test_mantel_haenszel_dim_broadcast(spark):
    """Customer dim broadcasts onto orders; everything after the
    |nations| hash agg is 25-row arithmetic — no SMJ, no cartesian."""
    plan = _plan(spark, "mantel_haenszel_urgent_fulfilled")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_dunn_pairs_broadcast_and_takeordered_free(spark):
    """Pooled ranks ride the two-pass helper; the pair/threshold
    machinery is all broadcast joins over ≤10-row frames (the 10-row
    ranking window is the BH family's accepted k-row shape); no
    cartesian beyond broadcast products, no sort-merge join."""
    plan = _plan(spark, "dunn_posthoc_value_pairs")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_semantic_dedup_pairs_join_on_cell(spark):
    """dedup_semantic_embedding's pairwise stage must stay keyed on
    `cell` (candidates = Σ cell², never N²): scoring and the component
    closure run in ONE grouped-pandas stage, fed by a hash exchange on
    `cell` — no cartesian, no nested-loop join."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.dedup import (
        semantic_dedup,
    )
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.sources.files import (
        load_table,
    )
    from pyspark.sql import functions as F

    emb = load_table(spark, SF_SMOKE, "embeddings")
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    out = semantic_dedup(base, n_planes=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    groups = re.findall(r"FlatMapGroupsInPandas \[(\w+)#", plan)
    assert groups == ["cell"], groups
    exchanges = re.findall(r"Exchange hashpartitioning\((\w+)#", plan)
    assert exchanges == ["cell"], exchanges


def test_sequence_pack_single_exchange_per_shard(spark):
    """sequence_pack_nextfit must reach applyInPandas through ONE hash
    exchange on `shard` — packing is shard-local by design; any extra
    corpus-wide exchange or sort beyond the per-group Arrow stage is a
    regression."""
    plan = _plan(spark, "sequence_pack_nextfit")
    assert "FlatMapGroupsInPandas" in plan or "FlatMapGroupsIn" in plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan
    assert "CartesianProduct" not in plan


def test_lift_gains_uses_two_pass_rank_no_global_window(spark):
    """lift_gains_deciles must rank via the two-pass range-partitioned
    machinery, not a single-partition global window over the corpus
    (the 'No Partition Defined' trap)."""
    plan = _plan(spark, "lift_gains_deciles")
    for line in plan.splitlines():
        if "Window [" not in line:
            continue
        assert "_pid" in line or "decile" in line, line


def test_dbscan_candidate_join_is_grid_equijoin(spark):
    """r10 VERDICT weak item: the DBSCAN candidate stage must be the
    ε-grid cell EQUI-JOIN, never a cartesian — asserted on the LAZY
    pair plan (the registered query localCheckpoints it, which would
    hide the join behind an ExistingRDD scan)."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.stats_r10 import (
        _dbscan_candidate_pairs,
    )

    q = spark.createDataFrame(
        [(i, [i * 7 % 300, i * 13 % 300]) for i in range(40)],
        "vec_id long, qv array<bigint>",
    )
    pairs = _dbscan_candidate_pairs(q)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # and the full registered query must also stay cartesian-free
    full = _plan(spark, "dbscan_embeddings")
    assert "CartesianProduct" not in full
    assert "BroadcastNestedLoopJoin" not in full


def test_incremental_semantic_dedup_is_cell_equijoin(spark):
    """The batch-probes-index join must be a hash-joinable equi-join on
    `cell` — never a cartesian/nested-loop over the corpus index."""
    plan = _plan(spark, "incremental_semantic_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_item_item_cosine_no_cartesian(spark):
    """Basket pairing must be an equi-join on the customer key (plus
    the capped-basket filter), never a nested loop over parts."""
    plan = _plan(spark, "item_item_cosine_parts")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_misra_gries_no_cartesian(spark):
    """The MG pipeline is hash aggregates + windows; the only scalar
    join (total N) must be a broadcast of a 1-row aggregate."""
    plan = _plan(spark, "misra_gries_heavy_hitters")
    assert "CartesianProduct" not in plan


def test_burrows_delta_no_cartesian(spark):
    """Everything after the (source, word) aggregate runs on the
    sources×top-20 grid; the grid build must broadcast the 20-word
    spine, and the pair join stays an equi-join on the word."""
    plan = _plan(spark, "burrows_delta_sources")
    assert "CartesianProduct" not in plan
