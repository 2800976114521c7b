"""Physical-plan assertions: the properties that matter at 100 TB.

Each test pins a scale property of a real query's plan — if a refactor
regresses pushdown, pruning, broadcast choice, or partial aggregation,
these fail before any benchmark notices.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ml_feature_store_pipeline_spark import plans
from ml_feature_store_pipeline_spark.extractors import UserEventExtractor
from ml_feature_store_pipeline_spark.harness import query_registry
from ml_feature_store_pipeline_spark.sources.readers import read_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registry():
    return query_registry()


def test_filter_pushdown_reaches_parquet(spark, registry):
    df = registry["scan_filter_project"](spark, SF)
    pushed = " ".join(plans.pushed_filters(df))
    assert "o_orderstatus" in pushed
    assert "o_totalprice" in pushed


def test_column_pruning(spark, registry):
    df = registry["scan_filter_project"](spark, SF)
    read_cols = set(plans.scan_read_schema(df))
    # orders has 6 columns; the scan must read only the 3 needed
    assert read_cols == {"o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"}


def test_in_list_pushdown(spark, registry):
    df = registry["filter_in_list"](spark, SF)
    assert any("In(c_mktsegment" in p or "c_mktsegment" in p for p in plans.pushed_filters(df))


def test_flagship_has_partial_aggregation(spark):
    events = read_table(spark, SF, "events")
    df = UserEventExtractor(amount_col="value", timestamp_col="ts").extract(events)
    assert plans.has_partial_aggregation(df)
    # exact countDistinct forces the 2-exchange expand plan: partial aggs on
    # (user, event_type), shuffle, merge, shuffle on user. That extra
    # exchange is the price of exactness…
    assert plans.count_exchanges(df) == 2


def test_approx_flagship_saves_an_exchange(spark):
    # …and the approx variant (HLL sketch) collapses it back to ONE shuffle —
    # the 100 TB configuration (SURVEY C6 flag).
    from ml_feature_store_pipeline_spark.extractors import ApproxUserEventExtractor

    events = read_table(spark, SF, "events")
    df = ApproxUserEventExtractor(amount_col="value", timestamp_col="ts").extract(events)
    assert plans.has_partial_aggregation(df)
    assert plans.count_exchanges(df) == 1


def test_flagship_single_aggregation_no_joins(spark):
    events = read_table(spark, SF, "events")
    df = UserEventExtractor(amount_col="value", timestamp_col="ts").extract(events)
    plan = plans.executed_plan(df)
    assert "Join" not in plan  # all 8 aggregates + ratios in ONE pass
    assert plans.whole_stage_codegen_spans(df) >= 1


def test_star_join_broadcasts_dims(spark, registry):
    df = registry["revenue_by_region"](spark, SF)
    plan = plans.executed_plan(df)
    assert plan.count("BroadcastHashJoin") == 3  # customer, nation, region
    assert "SortMergeJoin" not in plan


def test_asof_join_is_single_shuffle_no_range_explosion(spark, registry):
    df = registry["asof_events_orders"](spark, SF)
    plan = plans.executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan


def test_q6_all_predicates_pushed(spark, registry):
    df = registry["tpch_q6"](spark, SF)
    pushed = " ".join(plans.pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed
    # scan reads only the 4 referenced columns of 11
    assert set(plans.scan_read_schema(df)) == {
        "l_shipdate", "l_discount", "l_quantity", "l_extendedprice",
    }


def test_q5_broadcasts_dims_single_fact_shuffle(spark, registry):
    df = registry["tpch_q5_like"](spark, SF)
    plan = plans.executed_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3  # nation, region, dims-bundle
    assert plan.count("SortMergeJoin") <= 1  # only orders⋈lineitem may shuffle


def test_topk_uses_take_ordered_not_full_sort(spark, registry):
    df = registry["topk_latest_events"](spark, SF)
    assert "TakeOrderedAndProject" in plans.executed_plan(df)


def test_version_read_prunes_partitions(spark, tmp_path):
    """Partition pruning: a version-filtered store read lists ONE directory."""
    from ml_feature_store_pipeline_spark.config import FeatureMetadata
    from ml_feature_store_pipeline_spark.store import FeatureStore

    store = FeatureStore(spark, str(tmp_path / "fs"))
    events = read_table(spark, SF, "events")
    feats = UserEventExtractor(amount_col="value", timestamp_col="ts").extract(events)
    v1 = store.register_features(feats, FeatureMetadata(description="v1"))
    v2 = store.register_features(
        feats.withColumn("total_amount", F.col("total_amount") * 2),
        FeatureMetadata(description="v2"),
    )
    df = store.get_features(v1)
    plan = plans.formatted_plan(df)
    # the scan's partition filter must pin the version column
    assert "feature_version" in plan
    assert df.rdd.getNumPartitions() <= spark.sparkContext.defaultParallelism * 2
    got = df.select("feature_version").distinct().collect()
    assert [r[0] for r in got] == [v1]


def test_user_filter_pushed_to_store_scan(spark, tmp_path):
    from ml_feature_store_pipeline_spark.config import FeatureMetadata
    from ml_feature_store_pipeline_spark.store import FeatureStore

    store = FeatureStore(spark, str(tmp_path / "fs2"))
    events = read_table(spark, SF, "events")
    feats = UserEventExtractor(amount_col="value", timestamp_col="ts").extract(events)
    store.register_features(feats, FeatureMetadata(description="v1"))
    df = store.get_features(user_ids=[1, 2, 3])
    pushed = " ".join(plans.pushed_filters(df))
    assert "user_id" in pushed


def test_q4_exists_is_semi_join_no_fanout(spark, registry):
    """Correlated EXISTS must plan as a LEFT SEMI join (one probe row per
    order), never an inner join + distinct."""
    df = registry["tpch_q4_like"](spark, SF)
    plan = plans.executed_plan(df)
    assert "LeftSemi" in plan
    assert "Distinct" not in plan


def test_q12_prunes_orders_scan(spark, registry):
    df = registry["tpch_q12_like"](spark, SF)
    # orders scan must read only the join key + priority
    schemas = plans.formatted_plan(df)
    assert "o_totalprice" not in schemas and "o_custkey" not in schemas


def test_q18_topk_is_take_ordered(spark, registry):
    """Global ORDER BY + LIMIT 100 must be TakeOrdered — never a full sort
    of the joined result."""
    df = registry["tpch_q18_like"](spark, SF)
    assert "TakeOrderedAndProject" in plans.executed_plan(df)


def test_aqe_splits_skewed_join_partition(spark):
    """SCALE.md's skew claim, executed: one hot key dominating the build
    side must trigger AQE's skew-join split (skew=true in the final
    adaptive plan) instead of one straggler task."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        big = spark.range(300_000).select(
            F.lit(1).alias("k"), F.col("id").alias("v")
        ).union(
            spark.range(10_000).select((F.col("id") % 100 + 2).alias("k"), F.col("id").alias("v"))
        )
        right = spark.range(200).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
        j = big.join(right, "k")
        assert len(j.collect()) == 310_000
        final = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final
        assert "skewed" in final  # AQEShuffleRead split the hot partition
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_interval_join_is_equi_join_not_nested_loop(spark, registry):
    # the point of bucketizing: the range predicate must ride an equi-join
    # (hash/sort-merge on the bucket id), never a nested-loop cross product
    df = registry["interval_join_price_buckets"](spark, SF)
    plan = plans.executed_plan(df)
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_key_skew_profile_partial_agg_and_topn(spark, registry):
    df = registry["key_skew_profile_events"](spark, SF)
    assert plans.has_partial_aggregation(df)       # count combines map-side
    assert "TakeOrderedAndProject" in plans.executed_plan(df)  # no full sort


def test_stratified_sample_is_scan_filter_no_shuffle(spark):
    from ml_feature_store_pipeline_spark.operators.sampling import (
        stratified_sample_deterministic,
    )

    e = read_table(spark, SF, "events")
    out = stratified_sample_deterministic(
        e, "event_id", "event_type", {"purchase": 1.0}, default_fraction=0.1
    )
    assert plans.count_exchanges(out) == 0         # membership is a pure filter


def test_parallelize_keeps_pushdown_and_pruning(spark):
    # the small-file parallelism rescue must not cost the scan its
    # pushed filters or pruned schema (repartition sits above the scan)
    li = read_table(spark, SF, "lineitem", parallelize=True)
    q = li.filter(F.col("l_quantity") > 49).select("l_orderkey", "l_quantity")
    pushed = " ".join(plans.pushed_filters(q))
    assert "l_quantity" in pushed
    assert set(plans.scan_read_schema(q)) == {"l_orderkey", "l_quantity"}
    assert q.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_q7_broadcasts_both_dim_chains(spark, registry):
    df = registry["tpch_q7_like"](spark, SF)
    plan = plans.executed_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2  # supplier and customer chains
    assert plans.has_partial_aggregation(df)


def test_q15_argmax_joins_are_broadcast(spark, registry):
    df = registry["tpch_q15_like"](spark, SF)
    plan = plans.executed_plan(df)
    # scalar max and supplier dim both ride broadcasts; revenue aggregates once
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_q19_pushes_column_local_disjunctions(spark, registry):
    df = registry["tpch_q19_like"](spark, SF)
    pushed = " ".join(plans.pushed_filters(df))
    # the OR-of-ANDs can't push whole, but each side's column-local
    # disjunction must reach its scan
    assert "p_brand" in pushed
    assert "l_quantity" in pushed or "l_partkey" in pushed
    assert plans.has_broadcast_join(df)


def test_kmv_and_weighted_sample_use_takeordered(spark, registry):
    for name in ("kmv_distinct_orderkeys", "weighted_sample_events"):
        df = registry[name](spark, SF)
        assert "TakeOrderedAndProject" in plans.executed_plan(df), name


def test_scd2_compress_single_exchange(spark):
    from ml_feature_store_pipeline_spark.operators.windows import scd2_compress

    e = read_table(spark, SF, "events")
    h = scd2_compress(e, ["user_id"], "ts", ["event_type"], order_tiebreak=["event_id"])
    # both window passes share the (user_id) partitioning: exactly one exchange
    assert plans.count_exchanges(h) == 1


def test_scd2_read_is_equi_join_on_key(spark, registry):
    df = registry["pit_scd2_orders_state"](spark, SF)
    plan = plans.executed_plan(df)
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_grouped_topk_uses_window_group_limit(spark, registry):
    df = registry["top3_orders_per_priority"](spark, SF)
    plan = plans.executed_plan(df)
    # Spark 3.5+ pushes the rank filter below the window sort
    assert "WindowGroupLimit" in plan


def test_two_stage_distinct_shuffles_pair_first(spark):
    from ml_feature_store_pipeline_spark.operators.skew import exact_distinct_two_stage

    e = read_table(spark, SF, "events")
    df = exact_distinct_two_stage(e, ["event_type"], "user_id")
    plan = plans.executed_plan(df)
    # stage-1 exchange must be keyed by the (key, value) PAIR - that's the
    # skew spread - and no Expand (the countDistinct plan marker) appears
    assert "Expand" not in plan
    assert plan.count("Exchange") >= 2
    import re
    # plans print top-down, so the DEEPEST (stage-1) exchange is the last
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert "user_id" in exchanges[-1] and "event_type" in exchanges[-1]


def test_pair_expansion_streams_through_generators(spark):
    """The bucket pair expansion must be two chained Generate nodes
    (posexplode + explode of the successor slice), NEVER a
    flatten(transform(transform(...))): the flattened form materializes a
    degenerate bucket's entire C(n,2) pair array (~50M structs at the
    default cap) as one interpreted in-memory value and OOM'd at 200k docs
    on a low-entropy corpus (round-4 scalecheck)."""
    from ml_feature_store_pipeline_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, f"tok{i % 3} tok{(i + 1) % 3} tok{(i + 2) % 3} common text here") for i in range(30)],
        "doc_id long, text string",
    )
    for df in (
        dedup.lsh_candidate_pairs(docs, "doc_id", "text"),
        dedup.simhash_near_pairs(docs, "doc_id", "text", max_hamming=3),
    ):
        plan = plans.executed_plan(df)
        assert plan.count("Generate") >= 2, plan
        assert "flatten" not in plan.lower(), plan


def test_q13_left_join_with_join_side_predicate(spark, registry):
    """The priority predicate must live IN the left join (a post-filter
    would silently drop zero-order customers)."""
    df = registry["tpch_q13_like"](spark, SF)
    plan = plans.executed_plan(df)
    assert "LeftOuter" in plan
    # both aggregations partial-aggregate
    assert plan.count("HashAggregate") >= 4
    # left-join semantics: every customer lands in exactly one bucket, so
    # the distribution sums to |customers| (an inner join would lose the
    # zero-non-urgent-order customers and break this)
    from ml_feature_store_pipeline_spark.sources.readers import read_table

    rows = {r["c_count"]: r["custdist"] for r in df.collect()}
    assert sum(rows.values()) == read_table(spark, SF, "customer").count()


def test_q17_broadcasts_per_part_averages(spark, registry):
    df = registry["tpch_q17_like"](spark, SF)
    plan = plans.executed_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q22_anti_join_with_pushed_priority_filter(spark, registry):
    df = registry["tpch_q22_like"](spark, SF)
    plan = plans.executed_plan(df)
    assert "LeftAnti" in plan
    pushed = " ".join(plans.pushed_filters(df))
    assert "o_orderpriority" in pushed


def test_bloom_prune_probe_side_never_shuffles_before_agg(spark, registry):
    """The lineitem side of bloom_prune_lineitem must reach the final
    aggregation through broadcast joins only — the whole point of probing
    membership via a bitmap is that the fact scan crosses no exchange."""
    df = registry["bloom_prune_lineitem"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 5  # 4 word probes + the marker join


def test_merge_upsert_target_is_broadcast_anti(spark, registry):
    df = registry["merge_upsert_orders"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # the snapshot side must not shuffle


def test_negative_sample_items_dim_is_broadcast(spark, registry):
    """The item universe joins in broadcast (dense index is dim-sized);
    only the positives/distinct machinery may shuffle."""
    df = registry["negative_sample_pairs"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_target_encode_single_category_shuffle(spark, registry):
    """One groupBy on the category + a broadcast of the 1-row total: the
    facts are scanned once and shuffled once (category cardinality out)."""
    df = registry["target_encode_events"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


# ---------------------------------------------------------------------------
# round-7 zero-shuffle scan claims, pinned at the plan level
# ---------------------------------------------------------------------------


def test_gopher_filter_is_exchange_free(spark, registry):
    """gopher_rules claims a pure codegen scan — any Exchange in the plan
    means a rule started aggregating. r12: the split-starved-scan rescue
    (read_table parallelize=True — a no-op on healthily-split input) adds
    one DELIBERATE RoundRobin repartition so the regex rules don't
    serialize onto the single-row-group testdata scan; the invariant
    stays "no aggregation/join shuffle", so only non-round-robin
    exchanges are banned."""
    df = registry["gopher_filter_docs"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    bad = [
        ln for ln in plan.splitlines()
        if "Exchange" in ln and "RoundRobinPartitioning" not in ln
    ]
    assert not bad, bad
    # r12 ADVICE: the allowance is ONE deliberate rescue exchange — a
    # second RoundRobin means an accidental repartition crept in
    rescue = [
        ln for ln in plan.splitlines()
        if "Exchange" in ln and "RoundRobinPartitioning" in ln
    ]
    assert len(rescue) <= 1, plan


def test_bpe_token_stats_is_exchange_free(spark, registry):
    df = registry["bpe_token_stats_docs"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_random_projection_is_exchange_free(spark, registry):
    df = registry["random_projection_embeddings"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan  # md5 weights live in codegen


def test_maxsim_broadcasts_queries_never_shuffles_doc_vectors(spark, registry):
    """The doc-vector side must reach the per-(qvec, doc) max through a
    broadcast join; the only exchanges carry (query, doc) aggregates."""
    df = registry["maxsim_multivector_topk"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_vocab_coverage_topn_is_take_ordered(spark, registry):
    """The top-n cut must be TakeOrderedAndProject — a global Sort of the
    word counts would be the scale bug the docstring rules out."""
    df = registry["vocab_coverage_docs"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_rfm_has_no_global_sort_and_broadcasts_boundaries(spark, registry):
    """rfm_scores claims 'no global ntile sort': the only acceptable
    exchanges are the key-grain hash aggregates — a rangepartitioning
    exchange would mean a global sort crept in. Boundary attachment must
    be a broadcast, never a shuffled join."""
    df = registry["rfm_segments"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan
    assert "ntile(" not in plan.lower().replace("percentile(", "")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_touch_attribution_single_key_shuffle(spark, registry):
    """Both touches and both per-channel rollups must ride ONE
    hashpartitioning exchange on the key — the window pass; extra
    fact-sized exchanges would mean the touches are computed twice."""
    from ml_feature_store_pipeline_spark.operators import windows as windows_ops
    from ml_feature_store_pipeline_spark.sources.readers import read_table

    events = read_table(spark, SF, "events")
    out = windows_ops.touch_attribution(
        events, "user_id", "ts", "event_type",
        conversion="purchase", tie_col="event_id", value_col="value",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # one exchange per union branch feeds the window (Spark dedups them at
    # runtime via ReuseExchange in the executed plan); events themselves
    # shuffle only on the window key
    assert plan.count("hashpartitioning(user_id") <= 2
    assert "rangepartitioning" not in plan


# ---------------------------------------------------------------------------
# round-7 session/quality-wave plan claims
# ---------------------------------------------------------------------------


def test_ohlc_window_and_agg_share_one_key_exchange(spark, registry):
    """The first/last window and the extremes/volume groupBy both key on
    (user, bucket) — a second fact-sized exchange would mean the agg
    repartitioned instead of reusing the window's shuffle."""
    df = registry["ohlc_user_value_daily"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("hashpartitioning(user_id") == 1
    assert "rangepartitioning" not in plan


def test_benford_is_exchange_light_and_broadcasts(spark, registry):
    """A 9-group count: the only exchanges may carry digit partials (and
    the single-row total); the spine/total attachment must broadcast."""
    df = registry["benford_orders_totalprice"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_mutual_information_single_contingency_exchange(spark, registry):
    """Everything after the |cats|×bins contingency aggregate runs on that
    dimension-sized table — exactly one exchange may touch fact rows."""
    df = registry["event_value_mutual_info"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the contingency groupBy partials are the only fact-sized shuffle;
    # the marginal windows re-exchange only (x, y, c) cells
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "rangepartitioning" not in plan or plan.count("rangepartitioning") <= 2


def test_session_trigrams_topk_is_take_ordered(spark, registry):
    """The top-10 over ≤|vocab|³ n-gram counts must be TakeOrdered, never
    a global data sort."""
    df = registry["session_trigrams_events"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_part_copurchase_distincts_before_self_join(spark, registry):
    """The self-join must consume the DISTINCT (order, part) set — a
    SortMergeJoin on the raw lineitem would square the fact table."""
    df = registry["part_copurchase_lift"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    # marginals attach via broadcast (AQE may pick BHJ for the co-keyed
    # self-join too; what must NOT appear is a cartesian product)
    assert "CartesianProduct" not in plan


def test_gini_skew_window_runs_on_count_of_counts(spark, registry):
    """The global cumulative window must consume the (count, multiplicity)
    table: a window keyed on the raw per-key counts (or worse, rows)
    would be the |keys| single-task rank the operator exists to avoid."""
    from ml_feature_store_pipeline_spark.operators import drift as drift_ops
    from ml_feature_store_pipeline_spark.sources.readers import read_table

    events = read_table(spark, SF, "events")
    out = drift_ops.key_gini_skew(events, ["user_id"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    # two hash aggregates (per-key count, count-of-counts) before the
    # single-partition window over distinct count values
    assert plan.count("Exchange hashpartitioning") >= 2
    assert "Exchange SinglePartition" in plan  # the tiny runs-table window


# ---------------------------------------------------------------------------
# round-7 statistics / retrieval / clustering waves, pinned at the plan level
# ---------------------------------------------------------------------------


def test_corr_matrix_single_moment_aggregate(spark, registry):
    """correlation_matrix claims ONE map-side-combinable aggregate: no
    joins, no windows, a single exchange for the final 1-row combine."""
    df = registry["corr_matrix_lineitem"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # r12: one extra DELIBERATE RoundRobin exchange may sit between the
    # scan and the partial aggregate (read_table's split-starved-scan
    # rescue, no-op at healthy split counts) — the pinned claim stays
    # "exactly one combine exchange, no joins, no windows"
    combine = [
        ln for ln in plan.splitlines()
        if "Exchange" in ln and "RoundRobinPartitioning" not in ln
    ]
    assert len(combine) == 1, combine
    # r12 ADVICE: at most the ONE deliberate rescue exchange — a second
    # RoundRobin means an accidental repartition crept in
    rescue = [
        ln for ln in plan.splitlines()
        if "Exchange" in ln and "RoundRobinPartitioning" in ln
    ]
    assert len(rescue) <= 1, plan
    assert "Join" not in plan and "Window" not in plan


def test_spearman_ranks_are_banded_not_global(spark, registry):
    """Every Window in the Spearman plan partitions by the rank band —
    an 'Exchange SinglePartition' feeding a Window would mean the global
    sort the banding exists to avoid."""
    df = registry["spearman_price_quantity"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    import re

    for m in re.finditer(r"Exchange SinglePartition", plan):
        # single-partition exchanges may only feed the FINAL 1-row agg,
        # never a Window; windows must hash-partition on __band
        pre = plan[: m.start()].splitlines()[-1]
        assert "Window" not in pre
    assert "hashpartitioning(__band" in plan


def test_kmeans_assignment_has_no_shuffle_join(spark, registry):
    """r13: the Lloyd trajectory is ONE unrolled lazy plan — each
    iteration's centroid model is a SINGLE-ROW packed frame that
    broadcast-cross-joins onto the corpus (IdentityBroadcastMode), so
    the former per-iteration collect+literal rebuild is gone. The pinned
    invariant: centroids attach by broadcast ONLY — no shuffle join of
    any kind — and every hash exchange is a dimension-keyed aggregate
    (__cluster[, __pos]), never a fact-keyed join exchange."""
    df = registry["kmeans_embeddings"](spark, SF)
    df.collect()  # pin the FINAL adaptive plan, not the unresolved one
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan
    # the only broadcasts are the one-row centroid packs
    for ln in plan.splitlines():
        if "BroadcastExchange" in ln:
            assert "IdentityBroadcastMode" in ln, ln
        if "Exchange hashpartitioning" in ln:
            assert "__cluster" in ln, ln


def test_bm25_topk_is_take_ordered(spark, registry):
    """BM25's top-k must be TakeOrderedAndProject (distributed top-k),
    never a global Sort feeding a Limit."""
    df = registry["bm25_topk_docs"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan  # df/stats tables join broadcast


def test_triangle_wedge_join_has_no_cartesian(spark, registry):
    df = registry["triangle_stats_copurchase"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_roc_auc_single_class_aggregate(spark, registry):
    """ROC AUC = one banded rank pass + one 1-row aggregate; no joins
    beyond the band-offset broadcast."""
    df = registry["roc_auc_embeddings"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "hashpartitioning(__band" in plan


def test_substring_decontaminate_train_windows_never_shuffle(spark, registry):
    """The r9 scale claim, pinned: the TRAIN side's exploded windows reach
    the candidate hash-join map-side (both eval joins broadcast) — no
    Exchange may sit between the train-side Generate and its joins. The
    only non-broadcast exchanges allowed are the input repartitions
    (upstream of Generate), the eval-hash distinct, and the bounded
    pair-count aggregate (downstream of the joins)."""
    import re

    df = registry["substring_decontaminate_docs"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    parsed = []
    for ln in final.splitlines():
        m = re.match(r"^([ :]*(?:[+:]- )?)(?:\*\(\d+\) )?(.*)$", ln)
        parsed.append((len(m.group(1)), m.group(2).strip()))
    gens = [i for i, (_, op) in enumerate(parsed) if op.startswith("Generate")]
    assert len(gens) >= 2  # train + eval explode both present
    # the train Generate is the one whose ancestors include the pair agg;
    # for BOTH, walk up: no shuffle Exchange before the first join unless
    # it's the eval side's distinct (keyed on eval_id, __h)
    checked = 0
    for i in gens:
        cur = parsed[i][0]
        for j in range(i - 1, -1, -1):
            jind, jop = parsed[j]
            if not jop or jind >= cur:
                continue
            cur = jind
            if "Join" in jop:
                checked += 1
                break
            if jop.startswith("Exchange") and "hashpartitioning(eval_id" not in jop:
                raise AssertionError(f"train windows shuffled via {jop}\n{plan}")
            if jop.startswith("BroadcastExchange"):
                # eval side: broadcast is the point; stop at its join
                checked += 1
                break
    assert checked >= 1, plan
    # and the verify is IN the join, not a post-join filter pass
    assert "Contains" in final


def test_temporal_split_audit_is_three_exchanges(spark, registry):
    """One entity-window shuffle, one (stratum, entity) aggregate exchange,
    one |strata| rollup exchange — the whole audit. A fourth exchange
    appearing means someone broke the window/agg key alignment."""
    import re

    df = registry["temporal_split_leakage_audit"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    # prefix class [ :]* — a join's left-branch lines are ':'-prefixed and
    # plain \s* would silently skip any Exchange living there (r9 review)
    n_shuffles = len(re.findall(r"(?m)^[ :]*(?:[+:]- )?Exchange ", final))
    assert n_shuffles <= 3, final


def test_tfidf_posting_cap_has_no_single_partition_window(spark, registry):
    """The r10 rank-bounded posting cap runs TWO windows (per-(term, pid)
    superset cut, then exact per-term top-R) — both must partition by
    their keys; a SinglePartition ENSURE_REQUIREMENTS exchange feeding a
    Window means the two-phase skew split regressed to a global sort.
    (The scalar countDistinct broadcast legitimately single-partitions —
    the check walks each Window's own subtree, the plan-audit matcher.)"""
    import re

    tree_art = re.compile(r"^[\s:+|-]*")
    depth = lambda line: len(tree_art.match(line).group(0))

    df = registry["tfidf_doc_similarity_topk"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.split("== Initial Plan ==")[0].splitlines()
    for i, line in enumerate(lines):
        op = tree_art.sub("", line)
        if not (op.startswith("Window ") or op.startswith("WindowGroupLimit ")):
            continue
        d = depth(line)
        for nxt in lines[i + 1 :]:
            if nxt.strip() and depth(nxt) <= d:
                break
            body = tree_art.sub("", nxt)
            assert not body.startswith(
                "Exchange SinglePartition, ENSURE_REQUIREMENTS"
            ), line + "\n" + nxt
            if body.startswith("Exchange "):
                break


def test_kl_mixture_sample_is_a_scan_filter_no_shuffle(spark):
    """The r10 loop-closer's SAMPLE stage: once the weights are in hand
    (metadata-scale plan arithmetic), membership is a pure md5 filter on
    the scan — zero exchanges before the caller's own aggregate."""
    import re

    from ml_feature_store_pipeline_spark.functions import token_count
    from ml_feature_store_pipeline_spark.operators import sampling

    docs = read_table(spark, SF, "documents")
    weights = sampling.kl_mixture_weights({"src0": 0.1, "src1": 1.2})
    kept = sampling.mixture_sample_by_tokens(
        docs, "doc_id", "source", weights, n_tokens=token_count(F.col("text"))
    )
    plan = kept._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert not re.search(r"(?m)^[ :]*(?:[+:]- )?Exchange ", final), final
