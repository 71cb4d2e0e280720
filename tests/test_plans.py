"""Scale guardrails: physical plans must stay broadcast/pushdown-shaped.

Correct-at-sf0.01 is not enough — these assert the plan shapes that survive
a 1000-executor, 100 TB deployment (SURVEY.md §4)."""

from lakehouse_architecture_spark.plans.inspect import (
    assert_broadcast_join,
    assert_no_cartesian,
    assert_pushed_filters,
    formatted_plan,
)
from lakehouse_architecture_spark.queries.registry import ALL_QUERIES

SF = "/root/testdata/sf0.001"


def _q(spark, name):
    return ALL_QUERIES[name].build(spark, SF)


def test_q01_pushdown(spark):
    df = _q(spark, "q01_pricing_summary")
    assert_pushed_filters(df)  # shipdate predicate reaches the parquet reader
    # partial (map-side) aggregation before the shuffle
    assert formatted_plan(df).count("HashAggregate") >= 2


def test_join_queries_broadcast_dims(spark):
    for name in ("q03_top_revenue_orders", "q05_nation_revenue"):
        df = _q(spark, name)
        assert_broadcast_join(df)
        assert_no_cartesian(df)
        assert_pushed_filters(df)


def test_asof_join_is_single_shuffle(spark):
    # the union+window formulation must not produce any join operator at all
    plan = formatted_plan(_q(spark, "q_asof_join"))
    for bad in ("SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert bad not in plan, f"{bad} leaked into as-of join plan"
    assert "Window" in plan


def test_range_join_avoids_nested_loop(spark):
    # bucketed formulation -> equi-join, not O(n*m) BroadcastNestedLoopJoin
    df = _q(spark, "q_range_join")
    assert_no_cartesian(df)


def test_lsh_pairs_equi_join_on_signature(spark):
    df = _q(spark, "q_lsh_bucket_pairs")
    assert_no_cartesian(df)  # bucket join, never the full cross product


def test_dedup_queries_scale_shapes(spark):
    for name in ("q_minhash_lsh", "q_ngram_jaccard", "q_fingerprint_groups"):
        assert_no_cartesian(_q(spark, name))


def test_tpch_tail_queries_broadcast_dims(spark):
    # relational4: dimension sides must broadcast, no nested loops leak in
    for name in (
        "q08_market_share",
        "q09_product_profit",
        "q16_supplier_cnt",
        "q20_heavy_suppliers",
    ):
        df = _q(spark, name)
        assert_broadcast_join(df)
        assert_no_cartesian(df)


def test_q21_single_lineitem_scan(spark):
    # reformulated EXISTS/NOT-EXISTS: one lineitem scan + two-level
    # aggregate, never a nested loop and never a second lineitem role
    plan = formatted_plan(_q(spark, "q21_sole_late"))
    for bad in ("BroadcastNestedLoopJoin", "CartesianProduct"):
        assert bad not in plan, f"{bad} in Q21 plan"
    assert plan.count("lineitem") <= 2, plan[:3000]  # tree + scan detail


def test_q11_threshold_is_broadcast_scalar(spark):
    # the 1-row threshold side must broadcast; the cross join is 1-row so
    # a BroadcastNestedLoopJoin over it is fine, a CartesianProduct is not
    plan = formatted_plan(_q(spark, "q11_important_parts"))
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_time_rollup_single_scan(spark):
    # grouping-sets rollup: ONE scan + Expand + aggregate, not one job per
    # granularity — at 100 TB this is 1 pass instead of 3
    plan = formatted_plan(_q(spark, "q_time_rollup"))
    assert "Expand" in plan
    # one file index = one scan ("Scan parquet" shows twice: tree + detail)
    assert plan.count("InMemoryFileIndex") == 1


def test_decontaminate_broadcasts_benchmark_side(spark):
    """The eval-set shingle hashes must broadcast: the corpus side (the
    100 TB side) must never shuffle for the contamination probe."""
    df = _q(spark, "q_decontaminate")
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert_no_cartesian(df)


def test_shard_manifest_single_shuffle(spark):
    """Shard assignment is a narrow map; the only wide op is the per-shard
    position window — one exchange beyond the parallelism-restoring
    repartition would mean an accidental extra shuffle."""
    import re

    df = _q(spark, "q_shard_manifest")
    plan = formatted_plan(df)
    # exchanges: the window partition (hash by shard) + the final orderBy
    # (range). Anything more is a regression. (The formatted plan prints
    # each operator twice — tree + detail — so count the detail headers.)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2
    assert "Window" in plan


def test_repetition_is_narrow_map(spark):
    """Gopher repetition stats must not shuffle at all (orderBy aside)."""
    df = _q(spark, "q_repetition")
    plan = formatted_plan(df)
    assert "HashAggregate" not in plan and "Join" not in plan


def test_line_dedup_broadcasts_hot_set(spark):
    # the hot-line set is small by construction -> must come back as a
    # broadcast, never a shuffled join against the full line table
    df = _q(spark, "q_line_dedup")
    assert_broadcast_join(df)
    assert_no_cartesian(df)


def test_quota_cap_single_window_shuffle(spark):
    plan = formatted_plan(_q(spark, "q_source_cap"))
    assert plan.count("Exchange") <= 2  # window partition (+AQE read)
    assert "Window" in plan


def test_redact_is_narrow_map(spark):
    # pure regexp projection: no shuffle, no join, codegen intact
    plan = formatted_plan(_q(spark, "q_redact"))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_vocab_topk_partial_aggregation(spark):
    # two-level agg: both levels must show map-side partial HashAggregates
    plan = formatted_plan(_q(spark, "q_vocab_topk"))
    assert plan.count("HashAggregate") >= 4
    assert "Join" not in plan


def test_bloom_screen_broadcasts_filter(spark):
    # the <=m/32-row filter must broadcast; the probe side never shuffles
    # against it
    df = _q(spark, "q_bloom_screen")
    assert_broadcast_join(df)
    assert_no_cartesian(df)


def test_weighted_sample_takeordered_no_global_sort(spark):
    plan = formatted_plan(_q(spark, "q_weighted_sample"))
    assert "TakeOrderedAndProject" in plan
    # no full-sort exchange: TakeOrdered merges per-partition top-n
    assert "Sort " not in plan or "rangepartitioning" not in plan.lower()


def test_scd2_reuses_one_exchange(spark):
    # lag change-collapse + lead interval close share partitioning+ordering
    plan = formatted_plan(_q(spark, "q_scd2"))
    assert plan.count("Exchange hashpartitioning") <= 1
    assert plan.count("Window") >= 2


def test_snapshot_diff_shuffles_hashes_not_rows(spark):
    plan = formatted_plan(_q(spark, "q_snapshot_diff"))
    assert_no_cartesian(_q(spark, "q_snapshot_diff"))
    # the full-outer join operates on (key, 60-bit hash) projections:
    # the wide text column must not appear in the join output schema
    assert "h_before" in plan and "h_after" in plan


def test_dup_spans_no_cartesian_two_aggs(spark):
    """Span dedup must stay index-join shaped: no all-pairs stage; the
    doc-frequency filter is two hash aggregates plus one equi-join."""
    df = _q(spark, "q_dup_spans")
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_url_canon_is_narrow_map(spark):
    """Canonicalization is pure string exprs — no shuffle anywhere (the
    final orderBy is presentation; everything before it is one codegen
    stage over the scan)."""
    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.operators.web import canonicalize_url
    from lakehouse_architecture_spark.queries.base import tables

    t = tables(spark, SF)
    df = t["documents"].select(
        "doc_id", canonicalize_url(F.concat(F.lit("https://Example.com/x?b=2&a=1&utm_source="), F.col("source"))).alias("u")
    )
    from lakehouse_architecture_spark.plans.inspect import plan_summary

    ops = plan_summary(df)
    assert ops.get("Exchange", 0) == 0, ops
    # a narrow Project over the scan — complex string/array lambdas fall
    # out of codegen but stay one stage with zero shuffles
    assert "Project (" in formatted_plan(df)


def test_zorder_value_is_narrow_map(spark):
    from lakehouse_architecture_spark.plans.inspect import plan_summary

    df = _q(spark, "q_zorder")
    ops = plan_summary(df)
    # one range-partition exchange for the presentation orderBy; the z
    # computation itself is a narrow Project
    assert ops.get("Exchange", 0) <= 1, ops


def test_q02_broadcast_dims_no_cartesian(spark):
    df = _q(spark, "q02_min_cost_supplier")
    assert_no_cartesian(df)
    assert_broadcast_join(df, min_count=1)


def test_analytics_windows_partition_by_user(spark):
    # per-user windows, never a global (empty-partition) ordering: the sort
    # order of every Window must include the user key
    for name in ("q_event_transitions", "q_attribution", "q_ooo_stats"):
        plan = formatted_plan(_q(spark, name))
        assert "Window" in plan
        assert_no_cartesian(_q(spark, name))


def test_centroid_cells_broadcasts_centroids(spark):
    df = _q(spark, "q_centroid_cells")
    # the 8-row centroid side broadcasts; the "cross join" is vec x 8, a
    # broadcast nested loop by design, never a shuffled cartesian
    plan = formatted_plan(df)
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_dup_ratio_broadcasts_hash_sizes(spark):
    df = _q(spark, "q_dup_ratio_by_source")
    assert_broadcast_join(df)
    assert_no_cartesian(df)


def test_corpus_quality_two_hash_aggs(spark):
    # entropy: (doc,token) counts then per-doc — two aggregates with
    # map-side partials, no window, no join
    plan = formatted_plan(_q(spark, "q_token_entropy"))
    assert plan.count("HashAggregate") >= 4  # 2 logical x partial/final
    assert "Join" not in plan


def test_bigram_lm_distributed_model_join(spark):
    # the LM is joined on the bigram key (shuffled hash/sort-merge fine);
    # nothing collects the model and no cartesian appears
    df = _q(spark, "q_bigram_lm")
    assert_no_cartesian(df)


def test_skyline_two_phase_no_self_join(spark):
    # sort-scan formulation: no dominance self-join, no cartesian; the
    # global window runs over local-frontier survivors only
    df = _q(spark, "q_skyline")
    plan = formatted_plan(df)
    assert "Join" not in plan
    assert plan.count("Window") >= 2  # local (per-partition) + global phase


def test_semdedup_cell_join_is_equi_join(spark):
    # centroid assignment broadcasts the cell seeds (vec x n_cells nested
    # loop by design); the within-cell pairing must be an equi-join on
    # cell, never a corpus-wide cartesian
    df = _q(spark, "q_semdedup")
    plan = formatted_plan(df)
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_equidepth_bins_single_pass_no_sort(spark):
    # cut-points come from exact_quantiles (bounded-state two-phase rank)
    # broadcast back; the naive ntile-over-everything formulation would
    # put a GLOBAL sort of the fact table in the plan. The only
    # global=true Sort allowed is over the 4-row binned result; every
    # other Sort must be a local (per-partition) bucket/window sort.
    df = _q(spark, "q_equidepth_bins")
    plan = formatted_plan(df)
    body = plan.split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in body
    import re

    global_sorts = [
        m.group(1)
        for m in re.finditer(r"Arguments: \[([^\]]*)\], true, 0", body)
    ]
    assert len(global_sorts) <= 1, f"global sorts leaked: {global_sorts}"
    assert all("bin" in g for g in global_sorts), global_sorts


def test_runtime_bloom_filter_injects_when_thresholds_allow(spark):
    """SessionFactory enables runtime bloom-filter join reduction; size
    thresholds keep it dormant at fixture scale (bench plans unchanged).
    This opts in via runtime confs to pin that the injection path WORKS —
    the scan side gets a bloom_filter_agg-fed filter — then restores."""
    keys = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in keys}
    try:
        for k, v in keys.items():
            spark.conf.set(k, v)
        plan = formatted_plan(_q(spark, "q03_top_revenue_orders"))
        assert "bloom_filter_agg" in plan
        # and the engine default leaves fixture-scale plans untouched
        for k, v in prev.items():
            spark.conf.set(k, v)
        assert "bloom_filter_agg" not in formatted_plan(_q(spark, "q03_top_revenue_orders"))
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_interval_join_is_equi_join(spark):
    """The bucketed interval overlap join must plan as a hash equi-join on
    the bucket id — never a nested-loop theta join. One broadcast
    nested-loop node is allowed: the ONE-ROW min-day anchor crossJoined
    under the 5-row window frame (the in-plan replacement for the old
    driver-side .first(), r4 directive #3) — bounded by construction."""
    import re

    plan = formatted_plan(_q(spark, "q_interval_join"))
    assert "CartesianProduct" not in plan
    bnlj = re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)
    assert len(bnlj) <= 1, f"nested-loop joins leaked: {len(bnlj)}"
    # the overlap join itself is a hash equi-join on the bucket id
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_global_rank_no_single_partition_sort(spark):
    """q_global_rank's data-sized sort must key on the bucket (parallel),
    not a single global ordering."""
    import re

    df = _q(spark, "q_global_rank")
    plan = df._jdf.queryExecution().executedPlan().toString()
    specs = re.findall(r"row_number\(\) windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("__bkt" in s for s in specs), specs


def test_cooccur_cosine_no_cartesian(spark):
    df = _q(spark, "q_cooccur_cosine")
    assert_no_cartesian(df)


def test_pareto_single_orders_scan(spark):
    """Totals come from windows, not a second aggregate of orders — the
    plan must scan each parquet table exactly once (formatted plans print
    every node twice: tree line + detail header; count the headers)."""
    import re

    plan = formatted_plan(_q(spark, "q_pareto_8020"))
    scans = re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M)
    assert len(scans) == 2, scans  # orders + customer, once each


def test_degree_dist_no_join(spark):
    """Adjacent token pairs come from an array zip narrow map — no
    positional self-join in the plan."""
    plan = formatted_plan(_q(spark, "q_degree_dist"))
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert bad not in plan, f"{bad} leaked into degree-dist plan"


def test_no_raw_row_percentile_aggregates(spark):
    """The value-map `percentile` aggregate buffers a group's whole value
    multiset in one task — the first 100 TB OOM. Every quantile over raw
    fact rows must go through exact_quantiles (bounded-state two-phase
    rank); only approx_percentile sketches may remain in these plans."""
    import re

    for name in (
        "q_iqr_outliers",
        "q_ship_latency",
        "q_percentile",
        "q_approx_aggs",
        "q_winsorized",
        "q_robust_stats",
        "q_equidepth_bins",
        "q_gap_stats",
        "q_percentile_bands",
    ):
        plan = str(
            _q(spark, name)._jdf.queryExecution().optimizedPlan().toString()
        )
        hits = re.findall(r"(?<!approx_)\bpercentile\(", plan)
        assert not hits, f"{name}: exact percentile aggregate leaked into plan"


def test_dynamic_partition_pruning_fires_on_partitioned_fact(spark, tmp_path):
    """writers.py's claim ("both static and dynamic partition pruning
    work") asserted on a plan: a fact table written with partitionBy,
    joined to a selectively-filtered dim on the partition column, must
    show a dynamicpruning subquery in the fact scan's PartitionFilters —
    at 100 TB this is the difference between scanning one date's
    partitions and scanning the table to discover the join keys."""
    from pyspark.sql import functions as F

    fact = spark.range(2000).select(
        F.col("id").alias("k"),
        (F.col("id") % 20).alias("d"),
        (F.col("id") * 2).alias("v"),
    )
    path = str(tmp_path / "fact_part")
    fact.write.partitionBy("d").parquet(path)
    dim = spark.range(20).select(
        F.col("id").alias("d"), (F.col("id") % 5).alias("grp")
    )
    f = spark.read.parquet(path)
    joined = f.join(dim.filter(F.col("grp") == 3), "d").agg(
        F.sum("v").alias("s")
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), (
        "no DynamicPruningExpression in the fact scan — DPP did not fire"
    )
    # and it actually pruned: the fact scan read fewer than all partitions
    joined.collect()
    final = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in final.lower()


def test_round13_rank_family_windows_run_on_collapsed_tables(spark):
    """The round-13 nonparametric family's windows are legitimate ONLY
    because (a) their input is already collapsed — the distinct-(value)
    count table for Mann-Whitney/KS, the day-grain series for Kendall —
    AND (b) every DATA-SIZED running sum/rank partitions by the
    two-phase bucket (`__bkt`), never a single global ordering: for
    continuous values the distinct table barely collapses, so an
    unpartitioned ordered window there is one task at 100 TB. The only
    allowed unpartitioned window specs are the bucket-offset prefix sums
    (over the |buckets| table) and Lorenz's 10-row decile cumulative."""
    import re

    for name, n_unpart_allowed in (
        ("q_mann_whitney", 1),  # the bucket-offset prefix
        ("q_ks_exact", 1),  # the bucket-offset prefix
        ("q_lorenz", 2),  # bucket-offset prefix + 10-row decile cum
    ):
        plan = formatted_plan(_q(spark, name))
        win = [m.start() for m in re.finditer(r"^\(\d+\) Window", plan, re.M)]
        agg = [m.start() for m in re.finditer(r"^\(\d+\) HashAggregate", plan, re.M)]
        assert win, f"{name}: expected a Window node"
        assert agg and min(agg) < min(win), (
            f"{name}: window input is not an aggregated (collapsed) table"
        )
        specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
        unpart = [s for s in specs if "__bkt" not in s]
        assert len(unpart) <= n_unpart_allowed, (
            f"{name}: {len(unpart)} unpartitioned window specs (allowed "
            f"{n_unpart_allowed}) — a data-sized window lost its __bkt "
            f"partition: {unpart}"
        )


def test_round13_no_cartesian_blowups(spark):
    """The block's only non-equi join is Kendall's deliberate pair join
    over the materialized day-grain series; every other query must stay
    free of CartesianProduct / nested-loop shapes (their cross joins are
    1-row broadcast folds, which Spark plans as BroadcastNestedLoopJoin
    over a single row — allowed)."""
    import re

    for name in (
        "q_cramers_v",
        "q_hhi",
        "q_jsd_sources",
        "q_next_event",
        "q_smd_balance",
        "q_srm_check",
        "q_theil_index",
        "q_cohens_kappa",
    ):
        plan = formatted_plan(_q(spark, name))
        assert "CartesianProduct" not in plan, f"{name}: cartesian leaked"


def test_round14_rank_family_fixture_spreads_buckets(spark):
    """VERDICT r13 #1 'done' gate: on the REAL fixture, the data-derived
    width must spread the rank family's distinct-value table across MORE
    than one bucket (and at most target_buckets) — a width regression
    that silently re-collapses everything into one bucket (reinstating
    the single-task global window) fails here, not at 100 TB."""
    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.operators.profiling import (
        _bucketed_value_prefix,
    )
    from lakehouse_architecture_spark.queries.base import tables

    per_v = (
        tables(spark, SF)["orders"]
        .select(F.col("o_totalprice").cast("double").alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    out = _bucketed_value_prefix(per_v, ["c"], _keep_bucket=True)
    n_buckets = out.select("__bkt").distinct().count()
    assert 1 < n_buckets <= 4096, f"degenerate bucket spread: {n_buckets}"


def test_round14_block_no_cartesian_blowups(spark):
    """Round-14 block plan gate: the only non-equi join allowed is
    q_ewma_daily's deliberate day×day triangle join over the |days|-grain
    table (metadata-cardinality, documented linear contract); every other
    query's cross joins are 1-row broadcast folds (planned as
    BroadcastNestedLoopJoin over a single row — allowed)."""
    for name in (
        "q_wasserstein",
        "q_ks_pvalue",
        "q_mcnemar",
        "q_mcc_labelers",
        "q_gwet_ac1",
        "q_bhattacharyya",
        "q_chao1",
        "q_log_odds",
        "q_tost",
        "q_power_mde",
        "q_hill_tail",
    ):
        plan = formatted_plan(_q(spark, name))
        assert "CartesianProduct" not in plan, f"{name}: cartesian leaked"


def test_round14_wasserstein_windows_stay_bucketed(spark):
    """q_wasserstein extends the rank family: its ECDF prefixes AND its
    successor-value lead must partition by the two-phase bucket; the only
    unpartitioned window specs allowed are the |buckets|-table offset
    prefix and the |buckets|-table boundary lead."""
    import re

    plan = formatted_plan(_q(spark, "q_wasserstein"))
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    unpart = [s for s in specs if "__bkt" not in s]
    assert len(unpart) <= 2, (
        f"q_wasserstein: {len(unpart)} unpartitioned window specs "
        f"(allowed 2: bucket offsets + bucket-boundary lead): {unpart}"
    )


def test_round15_equidepth_buckets_balanced_on_heavy_tail(spark):
    """VERDICT r14 #1 'done' gate: equi-WIDTH bucket boundaries
    degenerate on heavy-tailed values (a lognormal/Pareto spend column,
    or a single corrupt 1e15 outlier, stretches the range until almost
    every distinct value lands in bucket 0 — reinstating the near-single-
    task window). The round-15 equi-DEPTH boundaries must spread a
    Pareto-with-outlier fixture's distinct values with bounded max bucket
    share, in both the prefix and rank entry points of the family."""
    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.operators.profiling import (
        _bucketed_value_prefix,
    )
    from lakehouse_architecture_spark.operators.skew import two_phase_rank

    n, buckets = 4000, 64
    # Pareto(alpha=0.5) tail via inverse-CDF on a deterministic grid,
    # plus one catastrophic outlier — the exact shape that collapsed the
    # equi-width grid (VERDICT r14 observation #1)
    vals = spark.range(1, n + 1).select(
        (1.0 / F.pow(F.col("id") / F.lit(float(n + 1)), F.lit(2.0))).alias("v")
    ).union(spark.range(1).select(F.lit(1.0e15).alias("v")))

    per_v = vals.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    out = _bucketed_value_prefix(
        per_v, ["c"], target_buckets=buckets, _keep_bucket=True
    )
    occ = out.groupBy("__bkt").count().collect()
    n_buckets = len(occ)
    max_share = max(r["count"] for r in occ) / sum(r["count"] for r in occ)
    assert n_buckets > buckets // 2, f"degenerate spread: {n_buckets}"
    assert max_share < 4.0 / buckets, f"bucket share {max_share:.3f} too hot"
    # prefix still bit-identical to the global form on this fixture
    got = {(r.v, r.cum_c) for r in out.collect()}
    rows = sorted(r.v for r in per_v.collect())
    want = {(v, i + 1) for i, v in enumerate(rows)}
    assert got == want

    # same fixture through the rank entry point (derived-boundary path)
    ranked = two_phase_rank(
        vals.withColumnRenamed("v", "x"), [], "x", [], bucket_width=None,
        target_buckets=buckets,
    )
    got_ranks = sorted((r.x, r.i) for r in ranked.collect())
    assert [i for _, i in got_ranks] == list(range(1, n + 2))
