"""Physical-plan audits (SURVEY.md §4): the scale properties that keep
these queries viable at 100 TB, asserted on explain() output so a
regression in plan shape fails fast — pushdown reaching the scan,
dimension joins broadcasting, top-k using bounded heaps, no accidental
cartesian products, map-side partial aggregation.

Explain-only: no data is scanned, so these run at sf0.001 in seconds.
"""

from __future__ import annotations

import re

import pytest

from spark_lakehouse_medallion_pipeline_spark.plans import explain
from spark_lakehouse_medallion_pipeline_spark.queries import QUERIES
from spark_lakehouse_medallion_pipeline_spark.queries._common import _scratch_root

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    return explain.formatted(QUERIES[name](spark, SF))


def test_q01_filter_pushed_to_scan(spark):
    plan = plan_of(spark, "q01_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan  # predicate reached parquet
    # Column pruning: the unused quantity-irrelevant columns never leave the scan.
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        assert "l_orderkey" not in m.group(1)


def test_q01_partial_aggregation(spark):
    """Map-side combine: two HashAggregates (partial + final) around one
    exchange — the shuffle carries one row per (flag,status,partition),
    not one per lineitem."""
    plan = plan_of(spark, "q01_pricing_summary")
    assert plan.count("HashAggregate") >= 2


def test_star_joins_broadcast(spark):
    """Dim tables (region/nation/customer at these sizes, and the orders
    side once filtered) must broadcast — a shuffled join of lineitem
    against a KB-sized dim is the classic at-scale mistake."""
    for name in ["q03_top_orders_by_revenue", "q04_regional_revenue", "q05_brand_part_revenue"]:
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name


def test_no_accidental_cartesian(spark):
    """Every join in the battery must have an equi- or bounded condition.
    (q43's capped slice self-join is the one sanctioned nested-loop.)"""
    for name in [
        "q03_top_orders_by_revenue",
        "q06_customer_order_stats",
        "q07_customers_without_orders",
        "q15_clickers_who_purchase",
        "q24_asof_purchase_click",
        "q33_minhash_candidates",
        "q37_lsh_knn_join",
        "q45_ivf_knn",
    ]:
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name


def test_topk_uses_bounded_heap(spark):
    """ORDER BY ... LIMIT k must plan as TakeOrderedAndProject (per-
    partition heaps), never a full sort of the input."""
    for name in ["q03_top_orders_by_revenue", "q14_top10_customers", "q36_knn_vec0"]:
        plan = plan_of(spark, name)
        assert "TakeOrderedAndProject" in plan, name


def test_knn_pushdown(spark):
    plan = plan_of(spark, "q36_knn_vec0")
    # If another test already cached the embeddings scan, Spark swaps the
    # parquet relation for the cache and parquet pushdown doesn't apply.
    assert "Not(EqualTo(vec_id,0))" in plan or "InMemoryRelation" in plan


def test_semi_anti_joins_planned(spark):
    got = plan_of(spark, "q15_clickers_who_purchase")
    missing = plan_of(spark, "q16_clickers_no_purchase")
    assert "LeftSemi" in got
    assert "LeftAnti" in missing


def test_minhash_partial_min_before_shuffle(spark):
    """Signature aggregation must show partial HashAggregate (map-side
    mins) — the property that keeps the shuffle ~|docs| not |shingles|."""
    plan = plan_of(spark, "q33_minhash_candidates")
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan


def test_exchange_budget(spark):
    """Shuffle-count ceilings for the headline queries: a plan change
    that adds an exchange (e.g. a lost broadcast) should fail loudly."""
    budgets = {
        "q01_pricing_summary": 1,
        "q04_regional_revenue": 1,
        "q19_daily_event_kpis": 2,
        "q13_running_customer_spend": 1,
        "q28_exact_dedup_docs": 1,
        "q93_common_prefix_strip": 1,
        "q95_sequence_packing": 1,
        # decorrelated TPC-H shapes: the window/broadcast rewrites hold
        # these at their measured floors (the naive EXISTS self-joins /
        # per-group scalar subqueries would add 2+ exchanges each)
        "q97_waiting_supplier": 2,
        "q98_idle_rich_customers": 4,
        "q99_min_cost_supplier": 2,
        "q100_important_parts": 4,
    }
    for name, budget in budgets.items():
        df = QUERIES[name](spark, SF)
        n = explain.count_exchanges(df)
        assert n <= budget, f"{name}: {n} exchanges > budget {budget}"


def test_pivot_single_shuffle(spark):
    """q52's pinned pivot values mean no distinct-values pre-scan job;
    the two pivot aggregate phases must each have a map-side partial
    (every Exchange is fed by a HashAggregate, so shuffles carry
    post-aggregation cardinality, not raw events)."""
    plan = plan_of(spark, "q52_pivot_daily_type_revenue")
    assert len(set(re.findall(r"\((\d+)\) Scan parquet", plan))) == 1  # no distinct-values pre-scan
    assert plan.count("Exchange") <= 4
    assert plan.count("HashAggregate") >= 4  # partial+final around each


def test_correlated_subqueries_decorrelate(spark):
    """q56/q62's EXISTS / NOT EXISTS / scalar subqueries must decorrelate
    to semi/anti/aggregate joins — per-row subquery re-execution would be
    unrunnable at scale."""
    for name in ["q56_correlated_subqueries", "q62_last_shipper_per_order"]:
        plan = plan_of(spark, name)
        assert "LeftSemi" in plan, name
        assert "LeftAnti" in plan, name
        assert "CartesianProduct" not in plan, name


def test_systematic_sample_pushdown(spark):
    """q61's key-mod predicate is deterministic, so it must reach the
    scan as a data filter (not post-scan)."""
    plan = plan_of(spark, "q61_systematic_sample")
    assert "Filter" in plan
    # and the scan only reads the three referenced columns
    import re as _re

    for m in _re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = m.group(1)
        assert "l_comment" not in cols and "l_partkey" not in cols


def test_unpivot_no_multi_scan(spark):
    """q53's unpivot must expand rows from ONE lineitem scan — the naive
    UNION ALL form scans the table once per measure."""
    plan = plan_of(spark, "q53_unpivot_charges")
    assert len(set(re.findall(r"\((\d+)\) Scan parquet", plan))) == 1


def test_tpch_shapes_broadcast_dims(spark):
    """q68-q70: the nation/part/supplier dimension sides must broadcast;
    none of the new join-heavy shapes may plan a cartesian product."""
    for name in ["q68_nation_trade_flow", "q69_market_share", "q70_promo_revenue_share"]:
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name


def test_q72_single_shuffle_key(spark):
    """q72: the decorrelated per-part aggregate and the join back both key
    on l_partkey; the brand filter must reach the part scan."""
    plan = plan_of(spark, "q72_small_qty_revenue")
    assert "CartesianProduct" not in plan
    assert "Brand#1" in plan  # filter pushed into the part scan


def test_q73_having_before_joins(spark):
    """q73: the quantity HAVING must apply to the aggregate BEFORE the
    joins to orders/customer (a filter over sum_qty_cents in the plan),
    so only ~0.3% of orders reach the join."""
    plan = plan_of(spark, "q73_large_volume_orders")
    assert re.search(r"Filter.*sum_qty_cents", plan) or "25000" in plan
    assert "TakeOrdered" in plan  # LIMIT 100 as bounded heap, not full sort


def test_window_families_single_shuffle(spark):
    """Every per-user window query reuses ONE (user_id) exchange: q12's
    lag, q21's two stacked windows (lag + cumsum), q22's native session
    window, q77's range frame. A second exchange would mean the windows
    stopped sharing their partitioning — the classic silent 2x shuffle."""
    for name, budget in {
        "q12_user_event_gaps": 1,
        "q21_sessionization": 1,
        "q22_session_window_native": 1,
        "q77_rolling_1h_by_user": 1,
    }.items():
        df = QUERIES[name](spark, SF)
        n = explain.count_exchanges(df)
        assert n <= budget, f"{name}: {n} exchanges > budget {budget}"


def test_q46_no_array_in_output_schema(spark):
    """q46's collect_list must leave the plan as a joined string — the
    driver's canonicalizer cannot hash array cells (round-1 harness red)."""
    df = QUERIES["q46_order_lifecycle"](spark, SF)
    assert not any("array" in f.dataType.simpleString() for f in df.schema.fields)


def test_round3_queries_plan_shapes(spark):
    """Round-3 additions: the curation scans must be shuffle-FREE (pure
    scan-side Column exprs — the 100 TB contract for q105-q107), the
    TPC-H shapes broadcast their dims with no cartesian, and the
    recursive spine stays at its 2-exchange floor."""
    for name in ["q105_gopher_quality", "q106_mixture_sample", "q107_doc_chunks"]:
        df = QUERIES[name](spark, SF)
        assert explain.count_exchanges(df) == 0, name
    for name, budget in {
        "q103_supplier_part_counts": 2,
        "q104_heavy_red_suppliers": 4,
        "q108_monthly_order_spine": 2,
    }.items():
        df = QUERIES[name](spark, SF)
        plan = explain.formatted(df)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastHashJoin" in plan, name
        assert explain.count_exchanges(df) <= budget, name


def test_new_curation_queries_plan_shapes(spark):
    """q114-q117 scale contracts: repeated-line removal stays at its
    3-exchange floor (freq agg, anti-join, reassembly), the URL rollup
    at 2 (countDistinct split), token-budget at its single per-source
    window shuffle, and the Arrow normalization is a pure map (0)."""
    budgets = {
        "q114_repeated_line_removal": 3,
        "q115_url_battery": 2,
        "q116_token_budget": 1,
        "q117_arrow_normalize": 0,
    }
    for name, budget in budgets.items():
        df = QUERIES[name](spark, SF)
        assert explain.count_exchanges(df) <= budget, name
        assert "CartesianProduct" not in explain.formatted(df), name


def test_runtime_bloom_filter_injected(spark):
    """Runtime row-group filtering: a shuffled join whose build side has
    a selective filter gets a bloom filter injected on the probe side
    (might_contain over xxhash64 of the join key) — at 100 TB this skips
    whole row groups of the fact scan before the shuffle. Thresholds are
    forced here because the local corpus is far below the 10 GB
    application-side default; the assert pins that the OPTIMIZER RULE
    fires, which is plan shape, not data size."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1B",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        o = spark.read.parquet(f"{SF}/orders.parquet").filter(
            "o_orderpriority = '1-URGENT'"
        )
        plan = explain.formatted(li.join(o, li.l_orderkey == o.o_orderkey))
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_dynamic_partition_pruning_on_partitioned_join(spark, tmp_path):
    """Joining a Hive-partitioned fact to a filtered dim on the
    partition column must inject a dynamicpruning PartitionFilter — at
    100 TB this is the difference between scanning one partition and
    scanning the table. The filter appears as a subquery against the
    dim side feeding the fact scan's partition pruning."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    fact_dir = str(tmp_path / "dpp_fact")
    ev.selectExpr("event_id", "user_id", "value", "event_type").write.partitionBy(
        "event_type"
    ).parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    dim = spark.createDataFrame(
        [("click", "c"), ("view", "v")], "event_type string, label string"
    ).filter("label = 'c'")
    plan = explain.formatted(fact.join(dim, "event_type"))
    assert "dynamicpruningexpression" in plan.lower()


def test_bloom_prefilter_broadcasts_bitset_not_reference(spark):
    """q137 scale contract: the bloom word-table joins BROADCAST (2
    hash probes), no cartesian, and the probe side's only shuffle is
    the final exact-verify semi-join + the per-source aggregate — the
    bit-table build aggregate is bounded by m_bits/64 rows."""
    plan = plan_of(spark, "q137_bloom_prefilter_dedup")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    df = QUERIES["q137_bloom_prefilter_dedup"](spark, SF)
    # build-agg (1) + verify semi-join side (1) + final groupBy (1) + sort (1)
    assert explain.count_exchanges(df) <= 5


def test_analytics_and_lm_plan_shapes(spark):
    """Funnel/retention/bigram-LM scale contracts: no cartesian products
    (q136's V scalar rides a broadcast nested-loop, which is fine for a
    1-row build side), and funnel stages reuse the user_id partitioning
    rather than re-exchanging per stage."""
    for name, budget in {
        # measured floors at sf0.001 (3 of q134's 8 are 1-row stage counts)
        "q134_funnel_conversion": 8,
        "q135_retention_cohorts": 4,
        "q136_bigram_lm_score": 5,
        "q139_mad_outliers": 5,
    }.items():
        df = QUERIES[name](spark, SF)
        plan = explain.formatted(df)
        assert "CartesianProduct" not in plan, name
        assert explain.count_exchanges(df) <= budget, name


def test_skew_report_and_salt_suggestion(spark):
    """A 90%-hot key must be reported with the right shares and a salt
    factor that scales with the measured ratio; a uniform key suggests
    no salting."""
    from pyspark.sql import functions as F

    from spark_lakehouse_medallion_pipeline_spark.plans import skew

    hot = spark.range(0, 1000).select(
        F.when(F.col("id") < 900, F.lit("hot")).otherwise(
            F.concat(F.lit("k"), F.col("id").cast("string"))
        ).alias("k")
    )
    rep = skew.skew_report(hot, "k")
    assert rep.n_rows == 1000 and rep.n_keys == 101
    assert rep.top_keys[0] == ("hot", 900)
    assert abs(rep.max_share - 0.9) < 1e-9
    assert rep.skew_ratio == pytest.approx(0.9 * 101)
    assert 1 < skew.suggest_salts(rep) <= 256
    assert skew.suggest_salts(rep, max_salts=8) == 8

    uniform = spark.range(0, 1000).select((F.col("id") % 100).alias("k"))
    assert skew.suggest_salts(skew.skew_report(uniform, "k")) == 1

    empty = skew.skew_report(spark.range(0).select(F.col("id").alias("k")), "k")
    assert empty.n_rows == 0 and skew.suggest_salts(empty) == 1


def test_robustness_and_bitmap_plan_shapes(spark):
    """q141/q144/q145/q146 scale contracts: no cartesian products; the
    by-name union stays one scan per shard feeding ONE aggregate
    exchange; the bitmap families hold their two-level aggregate floors
    (per-bucket partial -> tiny merged state, never a distinct
    re-shuffle of raw rows per rollup)."""
    for name, budget in {
        "q141_try_battery": 2,
        "q144_union_by_name": 2,
        "q145_bitmap_distinct": 3,
        "q146_bitmap_rollup_merge": 4,
    }.items():
        df = QUERIES[name](spark, SF)
        plan = explain.formatted(df)
        assert "CartesianProduct" not in plan, name
        assert explain.count_exchanges(df) <= budget, name


def test_lint_plan_flags_antipatterns_and_passes_clean(spark):
    from pyspark.sql import functions as F

    from spark_lakehouse_medallion_pipeline_spark.plans import lint

    # clean: the flagship aggregate must produce zero findings
    assert lint.lint_plan(QUERIES["q01_pricing_summary"](spark, SF)) == []

    # cartesian: two unconditioned sides too big to broadcast (threshold
    # off forces the CartesianProduct plan a real oversized case gets)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a = spark.range(0, 1000).select(F.col("id").alias("x"))
        b = spark.range(0, 1000).select(F.col("id").alias("y"))
        finds = lint.lint_plan(a.crossJoin(b))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert any(f.startswith("cartesian") for f in finds)

    # python-udf: a row-at-a-time udf in the projection
    from pyspark.sql.functions import udf

    slow = spark.range(0, 10).select(udf(lambda v: v + 1, "long")(F.col("id")))
    finds = lint.lint_plan(slow)
    assert any(f.startswith("python-udf") for f in finds)

    # exchange-count: re-keyed aggregates that each force a new shuffle
    # (unlike stacked repartition() calls, which CollapseRepartition folds)
    df = spark.range(0, 1000).select((F.col("id") % 7).alias("k7"), "id")
    g1 = df.groupBy("k7").agg(F.count(F.lit(1)).alias("n"))
    g2 = g1.groupBy((F.col("n") % 5).alias("k5")).agg(F.sum("n").alias("s"))
    g3 = g2.groupBy((F.col("s") % 3).alias("k3")).agg(F.count(F.lit(1)).alias("m"))
    finds = lint.lint_plan(g3, max_exchanges=2)
    assert any(f.startswith("exchange-count") for f in finds)


def _lint_sweep(spark, names) -> dict:
    """Cartesian / row-at-a-time-Python findings per entry of ``names``.
    (q65's UDTF is a deliberate Python-surface query — BatchEvalPythonUDTF
    is its documented cost; generator-based medallion entries run
    pipelines, not single plans, and are audited by their own tests.)"""
    from spark_lakehouse_medallion_pipeline_spark.plans import lint

    allow_python = {"q65_udtf_tokenize", "q39_multimodal_features", "q40_zscore_by_type",
                    "q124_python_datasource", "q118_ols_by_group"}
    bad = {}
    for name in names:
        if name.startswith("medallion_"):
            continue
        try:
            finds = [
                f
                for f in lint.lint_plan(QUERIES[name](spark, SF), max_exchanges=99)
                if f.startswith(("cartesian", "python-udf"))
            ]
        except Exception as exc:  # pragma: no cover - surface build errors
            bad[name] = [f"plan build failed: {exc}"][:1]
            continue
        if name in allow_python:
            finds = [f for f in finds if not f.startswith("python-udf")]
        if finds:
            bad[name] = finds
    return bad


@pytest.mark.slow
def test_lint_clean_across_driver_snapshot(spark):
    """Whole-battery hygiene: every driver-snapshot query (the first 50
    registry entries) must be free of cartesian products and
    row-at-a-time Python UDFs."""
    bad = _lint_sweep(spark, list(QUERIES)[:50])
    assert not bad, bad


@pytest.mark.slow
def test_lint_clean_across_bench_headline(spark):
    """The bench set evolves separately from the driver snapshot; lint
    it too so a new bench entry can't regress plan shape silently. Only
    the headline entries outside the snapshot are built here: the
    snapshot sweep already covers the rest with the same rules."""
    import bench

    snapshot = set(list(QUERIES)[:50])
    bad = _lint_sweep(spark, [n for n in dict.fromkeys(bench.HEADLINE) if n not in snapshot])
    assert not bad, bad


def test_new_sampling_and_gapfill_plans_are_single_keyed_shuffles(spark):
    """stratified_exact_sample must serve count + rank from ONE stratum
    shuffle; gap_fill_interpolate's spine join and carry windows must
    reuse the sparse aggregate's key partitioning (2 exchanges total:
    the pre-agg shuffle and the per-key one)."""
    from spark_lakehouse_medallion_pipeline_spark.plans import explain
    from spark_lakehouse_medallion_pipeline_spark.queries import QUERIES as Q

    assert explain.count_exchanges(Q["q154_stratified_sample"](spark, SF)) == 1
    assert explain.count_exchanges(Q["q155_gap_fill_interpolate"](spark, SF)) <= 2


def test_q182_three_exchange_budget(spark):
    """q182 dup-ngram scoring holds its documented 3-exchange floor:
    (ngram, doc_id) aggregate (map-side combine on hot n-grams), ngram
    window for the cross-doc count, doc_id final aggregate — a lost
    combine or an accidental join-back would add a fourth."""
    df = QUERIES["q182_dup_ngram_fraction"](spark, SF)
    n = explain.count_exchanges(df)
    assert n <= 3, f"q182: {n} exchanges > budget 3"


def test_kmeans_assignment_shuffle_free(spark):
    """q191's final plan: centroid assignment is literal-inlined codegen
    and the (id) point build is the ONLY exchange; the k-row centroid
    join must stay broadcast (a sort-merge join here would mean the
    bounded driver-side model leaked into a distributed join)."""
    df = QUERIES["q191_kmeans_spend_segments"](spark, SF)
    assert explain.count_exchanges(df) <= 1
    plan = explain.formatted(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_analyze_stats_exchange_budgets(spark):
    """q193 (column stats) holds 2 exchanges (partial/final of the
    expand-distinct aggregate over the single-explode stack); q194
    (histogram) holds 2 (1-row min/max aggregate + the 10-key groupBy)
    with the bounds join staying broadcast."""
    for name in ("q193_column_stats", "q194_price_histogram"):
        df = QUERIES[name](spark, SF)
        n = explain.count_exchanges(df)
        assert n <= 2, f"{name}: {n} exchanges > budget 2"
    plan = explain.formatted(QUERIES["q194_price_histogram"](spark, SF))
    assert "SortMergeJoin" not in plan


def test_sketch_stats_one_exchange(spark):
    """q199 (sketch-based ANALYZE twin) must beat q193's budget: with
    approx_count_distinct there is no expand-distinct rewrite, so the
    whole stats pass is ONE map-side-combined exchange — the property
    that makes it the 100 TB form."""
    df = QUERIES["q199_column_stats_sketch"](spark, SF)
    n = explain.count_exchanges(df)
    assert n <= 1, f"q199: {n} exchanges > budget 1"


def test_equidepth_histogram_plan(spark):
    """q203 must be the broadcast-boundaries shape, NOT a global ntile:
    one percentile aggregate + one 8-key groupBy (<= 2 exchanges), the
    bounds join broadcast, and no Sort anywhere in the plan."""
    df = QUERIES["q203_equidepth_histogram"](spark, SF)
    n = explain.count_exchanges(df)
    assert n <= 2, f"q203: {n} exchanges > budget 2"
    plan = explain.formatted(df)
    assert "SortMergeJoin" not in plan
    # no Window operator: a global-ntile implementation would show one
    # (note "percentile" the aggregate contains the substring "ntile",
    # so match the operator, not the function name)
    assert "Window" not in plan


def test_round8_late_families_plan_shapes(spark):
    """Plan-shape pins for the round-8-late analytics families — each
    assertion is the property that keeps the query viable at 100 TB."""
    # q219: the pair self-join is user-keyed on a distinct-shrunk
    # relation — no SortMergeJoin of the raw stream, final stats joins
    # broadcast
    plan = plan_of(spark, "q219_basket_lift")
    assert "BroadcastHashJoin" in plan
    # q223: the part dimension must broadcast onto lineitem, and the
    # whole query is one map-combinable aggregate after it
    df = QUERIES["q223_brand_discount_response"](spark, SF)
    plan = explain.formatted(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert explain.count_exchanges(df) <= 2
    # q227: every FK edge is a broadcast LEFT join (dims are the small
    # side) — a single SortMergeJoin here would shuffle the fact table
    # six times
    plan = plan_of(spark, "q227_referential_integrity_audit")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # q217/q194 shape: 1-row total broadcast back, no sort-merge
    plan = plan_of(spark, "q217_benford_audit")
    assert "SortMergeJoin" not in plan
    # q213: two data-sized exchanges (the stacked base aggregate and
    # the (col, value) counts); the ndv rollup, mode window, and join
    # alignment exchanges all run on the vocabulary-sized remainder —
    # 5 total, budget-pinned so a lost broadcast fails loudly
    df = QUERIES["q213_categorical_profile"](spark, SF)
    assert explain.count_exchanges(df) <= 5


def test_no_single_partition_window_in_ranked_analytics(spark):
    """VERDICT r8 Next #2: the five dimension-rank analytics queries
    must carry NO single-partition WindowExec (the `No Partition
    Defined` / Exchange SinglePartition form) — their global ranks now
    come from relational.distributed_rank (two-pass range-partitioned
    rank) or relational.top_k_ranked (TakeOrderedAndProject + broadcast
    self-join), both of which survive a 100x dimension growth. A
    partitioned WindowExec prints `Window [exprs], [part], [order]`
    (two `], [` separators); the banned global form prints only
    `Window [exprs], [order]` (one)."""
    for name in (
        "q174_pareto_abc",
        "q205_join_skew_profile",
        "q212_ir_eval_metrics",
        "q215_gini_spend",
        "q234_abc_xyz_matrix",
    ):
        df = QUERIES[name](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        bad = [
            ln.strip()[:160]
            for ln in plan.splitlines()
            if "Window [" in ln and ln.count("], [") == 1
        ]
        assert not bad, f"{name} still has a global WindowExec: {bad}"


def test_round9_families_plan_shapes(spark):
    """Plan-shape pins for the round-9 families — each assertion is the
    property that keeps the query viable at 100 TB."""
    # q236/q237 ingest contracts: scan -> distributed write ->
    # distributed re-read -> ONE map-combinable aggregate; the single
    # exchange is the final 1-row combine (quarantine accounting adds
    # no shuffle)
    for name in ("q236_csv_quarantine", "q237_jsonl_quarantine"):
        df = QUERIES[name](spark, SF)
        assert explain.count_exchanges(df) <= 1, name
    # q240 MAD: two grouped exact-percentile aggregates on the 5-key
    # priority column with a broadcast (never sort-merge) median join
    df = QUERIES["q240_mad_robust_scale"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert explain.count_exchanges(df) <= 2
    assert "SortMergeJoin" not in plan
    # q241 kappa: one scan, map-side flags, a 1-row combine
    df = QUERIES["q241_filter_agreement_kappa"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert explain.count_exchanges(df) <= 1
    assert "SortMergeJoin" not in plan
    # q239 split: cluster join is hash/broadcast (never a cartesian of
    # docs) and no window anywhere
    df = QUERIES["q239_leakage_safe_split"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "Window [" not in plan
    # q238 blocking audit: band and token joins are KEYED (the only
    # nested-loop joins are the broadcast 1-row stats assembly) and no
    # window; truth-side quadratics never leave the sampled corpus
    df = QUERIES["q238_blocking_quality"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window [" not in plan
    assert "CartesianProduct" not in plan


def test_round10_families_plan_shapes(spark):
    """Plan-shape pins for the round-10 families — each assertion is
    the property that keeps the query viable at 100 TB."""
    # q247 schema drift: merged read -> ONE map-combined aggregate
    df = QUERIES["q247_parquet_schema_drift"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert explain.count_exchanges(df) <= 1
    assert "Window [" not in plan
    # q248 KM: two user-keyed aggregates + the 1-row tally; the 4-bin
    # spine is pure Column arithmetic (no join, no window)
    df = QUERIES["q248_kaplan_meier"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert explain.count_exchanges(df) <= 3
    assert "Window [" not in plan
    assert "CartesianProduct" not in plan
    # q249 Mann-Whitney: value-domain aggregate + distributed_rank's two
    # balanced exchanges (+ its broadcast offsets) + 1-row reduce; the
    # only WindowExec is the rank's PARTITIONED local pass — never the
    # single-partition global form
    # q250 RFM: three chained rank passes, each range + pid-hash +
    # broadcast-offset exchanges over the customer model — all balanced
    for name, budget in (
        ("q249_mann_whitney", 6),
        ("q250_rfm_scores", 16),
    ):
        df = QUERIES[name](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert explain.count_exchanges(df) <= budget, name
        bad = [
            ln.strip()[:160]
            for ln in plan.splitlines()
            if "Window [" in ln and ln.count("], [") == 1
        ]
        assert not bad, f"{name} has a global WindowExec: {bad}"


def test_round10_late_families_plan_shapes(spark):
    """q251-q253 plan pins."""
    import re

    # q252 partition pruning: the month equality must reach the scan as
    # a PartitionFilter (directory-level pruning), NOT a post-scan
    # Filter; one exchange (the day rollup)
    df = QUERIES["q252_partition_pruned_read"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert explain.count_exchanges(df) <= 1
    pf = re.search(r"PartitionFilters: \[[^\]]*\bmon\b[^\]]*=[^\]]*\]", plan)
    assert pf, "month filter did not reach PartitionFilters"
    # q253 zipf: vocabulary-sized rank (two balanced exchanges + the
    # token groupBy + 1-row median broadcast), no global window
    df = QUERIES["q253_zipf_rank_frequency"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert explain.count_exchanges(df) <= 7
    bad = [
        ln.strip()[:160]
        for ln in plan.splitlines()
        if "Window [" in ln and ln.count("], [") == 1
    ]
    assert not bad, f"q253 has a global WindowExec: {bad}"
    # q251 spearman: the returned relation is the 1-row driver-side
    # model (the q214 Gram precedent) — the distributed work is the
    # rank passes + ONE 6-sum aggregate inside the function
    df = QUERIES["q251_spearman_rank_corr"](spark, SF)
    assert df.count() == 1


def test_round10_stats_families_plan_shapes(spark):
    """q255-q257 plan pins — each assertion is the property that keeps
    the query viable at 100 TB."""
    # q255 KS: value-domain aggregate, then BOTH ECDF prefix sums ride
    # ONE distributed_rank (range + pid-hash exchanges, PARTITIONED
    # window only), then broadcast 1-row max/argmax joins
    df = QUERIES["q255_ks_two_sample"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    bad = [
        ln.strip()[:160]
        for ln in plan.splitlines()
        if "Window [" in ln and ln.count("], [") == 1
    ]
    assert not bad, f"q255 has a global WindowExec: {bad}"
    assert "CartesianProduct" not in plan
    # q256 Mann-Kendall: the quadratic pair join runs on the
    # calendar-bounded monthly aggregate, never the fact table — the
    # join must be an equi-join on nation (hash/broadcast), not a
    # cartesian product
    df = QUERIES["q256_mann_kendall_trend"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Window [" not in plan
    # q257 binpack: inventory aggregate -> PER-SOURCE partitioned
    # window (never global) -> one bin rollup
    df = QUERIES["q257_compaction_binpack_plan"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    bad = [
        ln.strip()[:160]
        for ln in plan.splitlines()
        if "Window [" in ln and ln.count("], [") == 1
    ]
    assert not bad, f"q257 has a global WindowExec: {bad}"
    assert explain.count_exchanges(df) <= 3


def test_q258_q259_plan_shapes(spark):
    """q258 Theil-Sen: the pair join is an equi-join on nation over the
    monthly aggregate (no cartesian), and its ordering windows are
    PARTITIONED by nation — never the global single-partition form.
    q259 seasonal: the one global window runs on the ~84-row month
    spine (the calendar-bounded class the plan audit admits) — pin that
    its input is the POST-aggregate relation, not the fact table, by
    budgeting exchanges."""
    df = QUERIES["q258_theil_sen_slope"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # one `], [` separator + an ordering spec = the global form; a
    # partition-only window (q258's per-nation COUNT frame) also prints
    # one separator but no ASC/DESC and never funnels to one task
    bad = [
        ln.strip()[:160]
        for ln in plan.splitlines()
        if "Window [" in ln
        and ln.count("], [") == 1
        and (" ASC" in ln or " DESC" in ln)
    ]
    assert not bad, f"q258 has a global WindowExec: {bad}"
    df = QUERIES["q259_seasonal_index"](spark, SF)
    # monthly aggregate (1-2 exchanges w/ partial agg) + the spine
    # window's single-partition exchange + the final moy rollup
    assert explain.count_exchanges(df) <= 5


def test_q260_skyline_plan_shape(spark):
    """q260: price-domain aggregate + the rank's balanced exchanges +
    a BROADCAST probe join back to the scan — never a cartesian, never
    a global ordered window, and the probe side must be broadcast (the
    frontier is <= |size domain| rows by construction)."""
    df = QUERIES["q260_pareto_skyline"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    bad = [
        ln.strip()[:160]
        for ln in plan.splitlines()
        if "Window [" in ln
        and ln.count("], [") == 1
        and (" ASC" in ln or " DESC" in ln)
    ]
    assert not bad, f"q260 has a global WindowExec: {bad}"
    assert "BroadcastHashJoin" in plan


def test_q261_q262_q263_plan_shapes(spark):
    """Block-2 plan pins. q261 OLS: monthly aggregate + ONE nation-
    keyed 5-sum aggregate, pure Column arithmetic after — no window,
    no cartesian (the 1-row mk0 broadcast is the only cross join).
    q262 erasure audit: the tombstone key-mod predicates must PUSH DOWN
    to the scans, and the lineitem cascade is an UNHINTED equi-join —
    the tombstone slice is data-proportional (~1% of orders), so the
    strategy is AQE's call: broadcast at small SF, shuffle at scale.
    The pin accepts any hash-join strategy and only forbids a
    cartesian product.
    q263 inverted index: posting ranking is a PER-TOKEN partitioned
    window, never the global single-partition form."""
    df = QUERIES["q261_ols_trend_slope"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window [" not in plan
    assert "CartesianProduct" not in plan
    df = QUERIES["q262_erasure_cascade_audit"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert (
        "BroadcastHashJoin" in plan
        or "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
    )
    assert "CartesianProduct" not in plan
    # The lineitem cascade must NOT carry a forced broadcast of the
    # data-proportional tombstone side (driver OOM at the 100 TB
    # design point); the source asserts the hint is absent.
    import inspect

    src = inspect.getsource(QUERIES["q262_erasure_cascade_audit"])
    assert "F.broadcast(tomb_orders" not in src
    # key-mod tombstone filter reaches at least one parquet scan as a
    # pushed data filter (deterministic predicate)
    assert "PushedFilters" in plan or "Filter" in plan
    df = QUERIES["q263_inverted_index"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    bad = [
        ln.strip()[:160]
        for ln in plan.splitlines()
        if "Window [" in ln
        and ln.count("], [") == 1
        and (" ASC" in ln or " DESC" in ln)
    ]
    assert not bad, f"q263 has a global WindowExec: {bad}"
    assert "CartesianProduct" not in plan


def test_q265_q266_plan_shapes(spark):
    """Round-11 plan pins. q265 weighted systematic sample: the prefix
    weights ride distributed_rank — the only Window is partitioned by
    the range-bucket id, never the global single-partition form; no
    cartesian (the 1-row total-weight broadcast is a BNLJ). q266
    salted skew aggregate: the skew fix IS the plan shape — every
    pre-final exchange must spread the hot key with the salt (or the
    salt+user expand for the exact distinct), and only the LAST
    aggregation exchange may hash on hot_key alone, over the bounded
    |keys| x 16 partial rows."""
    df = QUERIES["q265_weighted_systematic_sample"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    bad = [
        ln.strip()[:160]
        for ln in plan.splitlines()
        if "Window [" in ln
        and ln.count("], [") == 1
        and (" ASC" in ln or " DESC" in ln)
    ]
    assert not bad, f"q265 has a global WindowExec: {bad}"

    df = QUERIES["q266_salted_skew_aggregate"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    hashes = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "hot_key" in ln
    ]
    assert hashes, "q266 lost its hash exchanges"
    salted = [ln for ln in hashes if "_salt" in ln]
    unsalted = [ln for ln in hashes if "_salt" not in ln]
    # at least one exchange spreads the hot key over the salts, and
    # exactly one (the bounded final re-combination) hashes on the
    # bare key
    assert salted, f"q266 has no salted exchange: {hashes}"
    assert len(unsalted) == 1, f"q266 bare-key exchanges: {unsalted}"


def test_q267_q268_plan_shapes(spark):
    """q267 bucketed co-located join: the SortMergeJoin must consume
    the bucketed layout directly — NO exchange on the join key; the
    single hash exchange left is the 5-row segment aggregate. q268
    exact heavy hitters: pass 1 is a shuffle-free MapInPandas whose
    bounded candidate set broadcasts into a left-semi probe; the only
    data-sized exchanges hash on hot_key (the map-combined recount)."""
    df = QUERIES["q267_bucketed_colocated_join"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning(o_custkey" not in plan
    assert "CartesianProduct" not in plan

    df = QUERIES["q268_heavy_hitters_exact"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "LeftSemi" in plan and "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def global_windows(plan: str) -> list[str]:
    """WindowExec lines with NO partition spec (single-partition global
    sort) — the scale-killer shape; partitioned windows don't match."""
    return [
        ln.strip()[:160]
        for ln in plan.splitlines()
        if "Window [" in ln
        and ln.count("], [") == 1
        and (" ASC" in ln or " DESC" in ln)
    ]


def test_q269_q270_q271_plan_shapes(spark):
    """q269 IVM: the merge is a |keys|-bounded full-outer join — no
    cartesian, no window at all. q270 zone-map audit: both zonings ride
    distributed_rank, so no global single-partition window. q271
    gap-fill: every analytic window is PARTITIONED by nation (the
    ~84-row calendar frame), never the global form; the spine cross
    join is the bounded broadcast of the month sequence."""
    df = QUERIES["q269_incremental_view_maintenance"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Window [" not in plan

    df = QUERIES["q270_zonemap_skipping_audit"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert not global_windows(plan), "q270 has a global WindowExec"

    df = QUERIES["q271_gap_fill_interpolate"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert not global_windows(plan), "q271 has a global WindowExec"


def test_q272_q273_q274_plan_shapes(spark):
    """q272 motif match: ONE per-user aggregate, regexes are JVM
    expressions over the collapsed rows — no cartesian, no window.
    q273 TVD drift: one map-combined groupBy + 1-row broadcasts only.
    q274 consistent hashing: every ring side must BROADCAST (64/68
    rows); no CartesianProduct node anywhere (the bounded cross joins
    plan as broadcast nested loops)."""
    for name in (
        "q272_sequence_motif_match",
        "q273_distribution_drift_tvd",
        "q274_consistent_hash_rebalance",
    ):
        df = QUERIES[name](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
    plan = (
        QUERIES["q272_sequence_motif_match"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # r12 whale cap: the per-user row_number truncation window is
    # partitioned (never global) and rides the SAME user_id hash
    # exchange the collect aggregate needs — exactly one shuffle.
    assert not global_windows(plan), "q272 has a global WindowExec"
    import re as _re

    n_shuffles = len(_re.findall(r"Exchange hashpartitioning", plan))
    assert n_shuffles == 1, f"q272 expected 1 shuffle, got {n_shuffles}"
    plan = (
        QUERIES["q274_consistent_hash_rebalance"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastExchange" in plan


def test_q275_q276_q277_q278_plan_shapes(spark):
    """q275 SCD2: the PIT join must be a key join (SortMergeJoin /
    shuffled hash on user_id) with the range predicate as post-filter —
    never a cartesian; its lead() window is per-user. q276 interval
    overlap: the bucket equi key must SURVIVE — never
    BroadcastNestedLoop or CartesianProduct. The broadcast choice is
    AQE's (the exploded interval side is data-proportional, so a
    forced hint would be the q262-class scale defect); the pin is the
    negative invariant, not the physical strategy. q277:
    dense_rank window partitioned per nation, never global. q278: the
    pre-write zoning rides distributed_rank (no global window) and one
    hash exchange on the zone id."""
    for name in (
        "q275_scd2_dimension_history",
        "q276_interval_overlap_join",
        "q277_topk_with_ties",
    ):
        df = QUERIES[name](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert not global_windows(plan), f"{name} has a global WindowExec"
        if name == "q276_interval_overlap_join":
            # Negative pin only: the blocking bucket must survive as an
            # equi key (BHJ or SMJ/SHJ are both fine — AQE's call); a
            # nested-loop or cartesian means the key was lost.
            assert "BroadcastNestedLoop" not in plan, (
                "q276 fell back to nested-loop — blocking key lost"
            )

    # q278's returned DataFrame is the bounded per-zone audit; the scale
    # shape to pin is the PRE-WRITE plan: distributed_rank (no global
    # window) + one exchange on z so each zone lands in one task
    from pyspark.sql import functions as F

    from spark_lakehouse_medallion_pipeline_spark.operators.relational import (
        distributed_rank,
    )

    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_shipdate").cast("date").alias("sd"),
    )
    zoned = distributed_rank(
        li,
        [F.col("sd").asc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc()],
        rank_col="_r",
    ).select("sd", F.expr("(_r - 1) div 10000").alias("z"))
    pre_write = zoned.repartition(F.col("z")).sortWithinPartitions("z", "sd")
    plan = pre_write._jdf.queryExecution().executedPlan().toString()
    assert not global_windows(plan), "q278 pre-write has a global WindowExec"
    assert "Exchange hashpartitioning(z" in plan, "q278 zone exchange missing"


def test_q279_q280_plan_shapes(spark):
    """q279 z-order audit: both zonings ride distributed_rank (no
    global window); the 1-row maxima broadcast may nested-loop but a
    true CartesianProduct is banned. q280 watermark audit: the
    exclusive prefix max is the rank primitive's cummax form — no
    global WindowExec anywhere."""
    for name in (
        "q279_zorder_interleave_audit",
        "q280_watermark_late_data_audit",
    ):
        df = QUERIES[name](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert not global_windows(plan), f"{name} has a global WindowExec"


def test_q281_q282_plan_shapes(spark):
    """q281 SCD2 merge: the delta window is per-user (never global),
    the close-out join is an equi key join — no cartesian. q282
    reconciliation: the drill side must be gated by a BROADCAST of the
    diverged-bucket id set (row work bounded by divergence), digests
    are map-combined aggregates, no cartesian anywhere (the 1-row
    summary x drill combine is a broadcast nested loop, which is the
    sanctioned bounded form)."""
    for name in ("q281_scd2_incremental_merge", "q282_replica_divergence_audit"):
        df = QUERIES[name](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert not global_windows(plan), f"{name} has a global WindowExec"
    plan = (
        QUERIES["q282_replica_divergence_audit"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, "q282 diverged-bucket gate not broadcast"


def test_q283_q284_plan_shapes(spark):
    """q283 vote: two equi full-outer joins on the PK quadruple — no
    cartesian, no window at all. q284 order verification: every rank
    is distributed (no global WindowExec), the consecutive-rank pair
    former is an EQUI join."""
    for name in ("q283_majority_vote_repair", "q284_sortedness_audit"):
        df = QUERIES[name](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert not global_windows(plan), f"{name} has a global WindowExec"


def test_q276_scan_pruning_and_q282_map_combine(spark):
    """q276: the lineitem scan must read ONLY the two referenced
    columns (shipdate, extendedprice) — a scan dragging all 11 columns
    through the broadcast join would be the classic width mistake.
    q282: both digest aggregates must be map-combined (partial+final
    HashAggregate pairs), so the shuffle carries ~|buckets| rows per
    side, never |rows|."""
    plan = explain.formatted(QUERIES["q276_interval_overlap_join"](spark, SF))
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = m.group(1)
        if "l_shipdate" in cols:
            assert "l_comment" not in cols and "l_quantity" not in cols
            assert "l_partkey" not in cols and "l_suppkey" not in cols
    plan2 = explain.formatted(QUERIES["q282_replica_divergence_audit"](spark, SF))
    assert plan2.count("HashAggregate") >= 4  # partial+final per side


def test_q278_one_file_per_zone_on_disk(spark):
    """The q278 writer contract, checked on the filesystem itself:
    after the query runs, each z= directory of each layout holds
    EXACTLY ONE parquet data file (the one-exchange-per-zone claim) and
    the zone-directory count equals the audit's n_files."""
    import glob
    import os
    import tempfile

    rows = {
        r["layout"]: r
        for r in QUERIES["q278_sorted_write_zonemap"](spark, SF).collect()
    }
    tag = os.path.basename(SF.rstrip("/"))
    app = spark.sparkContext.applicationId
    base = os.path.join(_scratch_root(), f"spark_graft_q278_{tag}_{app}")
    for layout in ("natural", "sorted"):
        zdirs = sorted(glob.glob(os.path.join(base, layout, "z=*")))
        assert len(zdirs) == rows[layout]["n_files"]
        for zdir in zdirs:
            files = [f for f in os.listdir(zdir) if f.endswith(".parquet")]
            assert len(files) == 1, f"{zdir} has {len(files)} files"


@pytest.mark.slow
def test_q278_zone_size_caps_file_count(spark, tmp_path):
    """The r12 VERDICT hardening item, exercised for real: past
    |rows| = _Q270_ZONE_ROWS * _Q278_TARGET_FILES the zone size grows
    with the corpus so the per-layout file count — and therefore the
    driver-side footer walk — stays capped at ~_Q278_TARGET_FILES
    instead of growing as |rows|/10,000. A 2M-row synthetic lineitem
    (above the 1.28M boundary) must produce exactly
    ceil(2M / ceil(2M/128)) = 128 files per layout, all
    footer-verified."""
    import glob
    import os
    import tempfile

    from pyspark.sql import functions as F

    from spark_lakehouse_medallion_pipeline_spark.queries.layout import (
        _Q278_TARGET_FILES,
    )

    n = 2_000_000
    (
        spark.range(n)
        .select(
            (F.col("id") + 1).alias("l_orderkey"),
            F.lit(1).cast("int").alias("l_linenumber"),
            F.date_add(
                F.lit("1992-01-01").cast("date"),
                # non-monotone in l_orderkey so 'natural' has inversions
                ((F.col("id") * 48271) % 2400).cast("int"),
            ).cast("timestamp").alias("l_shipdate"),
        )
        .write.parquet(str(tmp_path / "lineitem.parquet"))
    )
    rows = {
        r["layout"]: r.asDict()
        for r in QUERIES["q278_sorted_write_zonemap"](spark, str(tmp_path)).collect()
    }
    zrows = -(-n // _Q278_TARGET_FILES)  # 15,625
    want_files = -(-n // zrows)  # 128
    tag = os.path.basename(str(tmp_path).rstrip("/"))
    app = spark.sparkContext.applicationId
    base = os.path.join(_scratch_root(), f"spark_graft_q278_{tag}_{app}")
    for layout in ("natural", "sorted"):
        assert rows[layout]["n_files"] == want_files
        assert rows[layout]["footer_verified"] == 1
        zdirs = glob.glob(os.path.join(base, layout, "z=*"))
        assert len(zdirs) == want_files


def test_q285_q286_plan_shapes(spark):
    """q285 stream-stream replay: one distributed_rank (no global
    WindowExec), the pair join is an EQUI join on user_id (the 1-row
    watermark-maxima combine may broadcast-nested-loop — sanctioned
    bounded form — but a true CartesianProduct is banned). q286 salted
    join: the join MUST be a SortMergeJoin keyed on BOTH sk and _salt
    (hot-key rows spread over 16 tasks), never a broadcast (that would
    hide the skew this entry exists to treat), and the downstream
    aggregate must be map-combined."""
    for name in (
        "q285_stream_stream_interval_join",
        "q289_stream_outer_join_timing",
    ):
        plan = (
            QUERIES[name](spark, SF)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan, name
        assert not global_windows(plan), f"{name} has a global WindowExec"

    plan2 = (
        QUERIES["q286_salted_skew_join"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin [sk" in plan2 and "_salt" in plan2.split(
        "SortMergeJoin", 1
    )[1].split("\n", 1)[0], "q286 join not keyed on (sk, _salt)"
    assert "BroadcastHashJoin" not in plan2, (
        "q286 join broadcast — the salt demo requires the shuffle path"
    )
    assert "CartesianProduct" not in plan2
    import re as _re

    assert _re.search(r"Exchange hashpartitioning\(sk#\d+L, _salt", plan2), (
        "q286 probe exchange not salted"
    )
    assert plan2.count("HashAggregate") >= 4  # partial+final, both stages


def test_q287_q288_plan_shapes(spark):
    """q287 compaction: prefix-sum binpack rides distributed_rank (no
    global WindowExec anywhere in the result plan) and no cartesian.
    q288 bloom pruning: the bloom build aggregate must be map-combined
    (partial+final bit_or around the (z, word) exchange), no global
    window; the probe x zone spine is a bounded broadcast (nested-loop
    allowed, true CartesianProduct banned)."""
    plan = (
        QUERIES["q287_compaction_execute"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert not global_windows(plan), "q287 has a global WindowExec"

    plan2 = (
        QUERIES["q288_bloom_zone_pruning"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan2
    assert not global_windows(plan2), "q288 has a global WindowExec"
    assert plan2.count("HashAggregate") >= 2  # bit_or partial+final


def test_q290_dynamic_pruning_pinned_and_invisible(spark):
    """q290: the fact scan's PartitionFilters must carry a
    dynamicpruningexpression — runtime partition pruning driven by the
    JOIN, with no literal predicate on the fact side (q252 covers the
    static case). And pruning must be invisible to semantics: the
    result with DPP disabled is byte-identical."""
    df = QUERIES["q290_dynamic_partition_pruning"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, "q290 fact scan lost its DPP filter"
    assert "CartesianProduct" not in plan
    want = sorted(tuple(r) for r in df.collect())
    conf = "spark.sql.optimizer.dynamicPartitionPruning.enabled"
    old = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "false")
        got = sorted(
            tuple(r)
            for r in QUERIES["q290_dynamic_partition_pruning"](spark, SF).collect()
        )
    finally:
        spark.conf.set(conf, old)
    assert got == want


def test_q292_q298_plan_shapes(spark):
    """q292 emission timing and q298 dedup TTL both ride ONE
    distributed_rank pass for the arrival-order watermark: no global
    WindowExec may appear, and no CartesianProduct (the 1-row
    end-of-stream maxima combine is the sanctioned bounded broadcast).
    q298's per-key chain must run on the Arrow partition surface —
    MapInPandas over (delay, key)-sorted partitions (the r14
    optimization replacing one pandas object per ~9-row group), never
    a row-at-a-time Python UDF and never per-group FlatMapGroupsInPandas."""
    for name in (
        "q292_stream_window_emission_timing",
        "q298_stream_dedup_ttl_replay",
    ):
        plan = (
            QUERIES[name](spark, SF)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan, name
        assert not global_windows(plan), f"{name} has a global WindowExec"
        if name == "q298_stream_dedup_ttl_replay":
            assert "MapInPandas" in plan, "q298 chain not on the Arrow surface"
            assert "FlatMapGroupsInPandas" not in plan, (
                "q298 chain regressed to per-group pandas objects"
            )
            assert "BatchEvalPython" not in plan, "q298 has a row-wise UDF"
