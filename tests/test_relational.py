"""Relational helpers (X1-X13) + plan-shape assertions (the 100 TB checks:
broadcast where intended, TakeOrdered instead of global sort, pushed filters)."""

from __future__ import annotations
import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F

from spark_lakehouse_medallion_pipeline_spark.operators import relational
from spark_lakehouse_medallion_pipeline_spark.queries import QUERIES


def test_top_k_deterministic(spark):
    df = spark.createDataFrame(
        [(1, 5.0), (2, 5.0), (3, 1.0)], "id long, v double"
    )
    out = df.orderBy(F.desc("v"), F.col("id")).limit(2).collect()
    assert [(r["id"], r["v"]) for r in out] == [(1, 5.0), (2, 5.0)]


def test_top_k_plan_uses_take_ordered(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    plan = li.orderBy(
        F.desc("l_extendedprice"), F.col("l_orderkey")
    ).limit(10)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_broadcast_hint_sticks(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = F.broadcast(spark.read.parquet(f"{sf_dir}/part.parquet"))
    plan = (
        li.join(part, li.l_partkey == part.p_partkey)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    from spark_lakehouse_medallion_pipeline_spark.plans import explain

    assert explain.has_pushed_filters(df)
    plan = explain.formatted(df)
    assert "EqualTo(o_orderpriority,1-URGENT)" in plan
    # column pruning: only the filter + projected columns are read
    assert explain.scan_schema_contains_only(df, {"o_orderkey", "o_orderpriority"})


def test_running_agg(spark):
    df = spark.createDataFrame(
        [(1, 1, 10.0), (1, 2, 5.0), (2, 1, 7.0)], "k long, seq long, v double"
    )
    w = Window.partitionBy("k").orderBy("seq").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    out = df.withColumn("run", F.sum("v").over(w))
    got = {(r["k"], r["seq"]): r["run"] for r in out.collect()}
    assert got == {(1, 1): 10.0, (1, 2): 15.0, (2, 1): 7.0}


def test_ranked_in_group(spark):
    df = spark.createDataFrame(
        [("a", 3.0), ("a", 9.0), ("b", 1.0)], "g string, v double"
    )
    out = df.withColumn("rn", F.row_number().over(Window.partitionBy("g").orderBy(F.desc("v"))))
    got = {(r["g"], r["v"]): r["rn"] for r in out.collect()}
    assert got == {("a", 9.0): 1, ("a", 3.0): 2, ("b", 1.0): 1}


def test_approx_distinct_within_rsd(spark, sf_dir, events):
    exact = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact")
    )
    approx = QUERIES["q30_approx_distinct_users"](spark, sf_dir)
    joined = exact.join(approx, "event_type").collect()
    for r in joined:
        assert abs(r["approx_users"] - r["exact"]) <= max(3, 0.1 * r["exact"])


def test_salted_join_matches_plain(spark, sf_dir):
    from spark_lakehouse_medallion_pipeline_spark.operators.relational import salted_join

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    plain = orders.join(customer, "o_custkey").count()
    salted = salted_join(orders, customer, "o_custkey", n_salts=4).count()
    assert salted == plain


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path_factory):
    """Two tables bucketed on the join key must SortMergeJoin with zero
    shuffle exchanges — the pre-shuffled layout doing its job."""
    from spark_lakehouse_medallion_pipeline_spark.operators.relational import write_bucketed_table
    from spark_lakehouse_medallion_pipeline_spark.plans import explain

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    # A managed table's directory can survive a previous session whose
    # (in-memory) catalog is gone; clear both halves before writing.
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for tbl in ("b_orders", "b_customer"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(f"{warehouse}/{tbl}", ignore_errors=True)
    write_bucketed_table(orders, "b_orders", "o_custkey", 4)
    write_bucketed_table(
        customer.withColumnRenamed("c_custkey", "o_custkey"), "b_customer", "o_custkey", 4
    )
    joined = (
        spark.table("b_orders")
        .join(spark.table("b_customer").hint("merge"), "o_custkey")
        .select("o_orderkey", "c_name")
    )
    assert explain.count_exchanges(joined) == 0
    assert joined.count() == orders.count()


def test_q82_predicates_pushed_to_scan(spark, sf_dir):
    from spark_lakehouse_medallion_pipeline_spark.plans import explain
    from spark_lakehouse_medallion_pipeline_spark.queries import QUERIES

    df = QUERIES["q82_forecast_revenue_change"](spark, sf_dir)
    plan = explain.formatted(df)
    # ship-date range and quantity cap must reach the parquet scan
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:400]
    assert "LessThan(l_quantity,24" in plan


def test_q83_broadcasts_dims_and_takeordered(spark, sf_dir):
    from spark_lakehouse_medallion_pipeline_spark.queries import QUERIES

    df = QUERIES["q83_returned_item_customers"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_q84_outer_join_covers_every_customer(spark, sf_dir):
    from spark_lakehouse_medallion_pipeline_spark.queries import QUERIES

    dist = QUERIES["q84_order_count_distribution"](spark, sf_dir).collect()
    n_cust = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert sum(r["custdist"] for r in dist) == n_cust


def test_q85_part_side_broadcast(spark, sf_dir):
    from spark_lakehouse_medallion_pipeline_spark.queries import QUERIES

    df = QUERIES["q85_disjunctive_brand_revenue"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_q87_split_counts_sum_to_join_size(spark, sf_dir):
    from pyspark.sql import functions as F
    from spark_lakehouse_medallion_pipeline_spark.queries import QUERIES

    rows = QUERIES["q87_priority_shipping_split"](spark, sf_dir).collect()
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    total = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
    assert sum(r["high_line_count"] + r["low_line_count"] for r in rows) == total


def test_q88_semi_join_no_duplication(spark, sf_dir):
    from pyspark.sql import functions as F
    from spark_lakehouse_medallion_pipeline_spark.queries import QUERIES

    df = QUERIES["q88_late_order_priority"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    # Order counts can never exceed the quarter's order count.
    quarter = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    assert sum(r["order_count"] for r in df.collect()) <= quarter.count()


def test_q91_hll_estimates_bound_exact(spark, sf_dir):
    from pyspark.sql import functions as F
    from spark_lakehouse_medallion_pipeline_spark.queries import QUERIES
    from spark_lakehouse_medallion_pipeline_spark.sources.io import read_events

    est = {
        r["event_type"]: r["approx_users"]
        for r in QUERIES["q91_hll_sketch_users"](spark, sf_dir).collect()
    }
    ev = read_events(spark, sf_dir)
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    exact["__all__"] = ev.select("user_id").distinct().count()
    assert set(est) == set(exact)
    for k, e in exact.items():
        assert abs(est[k] - e) <= max(2, 0.05 * e), (k, est[k], e)


def test_q113_approx_top_k_exact_at_test_scale(spark, sf_dir):
    """With maxItemsTracked far above the part universe the sketch is
    exact: same (item, count) set as the exact groupBy top-k (ties make
    the ORDER unstable, so compare counts of the k-th value rather than
    identity of the cut line)."""
    from pyspark.sql import functions as F

    from spark_lakehouse_medallion_pipeline_spark.queries import QUERIES

    got = {
        (r["l_partkey"], r["n_shipments"])
        for r in QUERIES["q113_approx_top_k"](spark, sf_dir).collect()
    }
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    exact = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "l_partkey")
        .collect()
    )
    exact_counts = {r["l_partkey"]: r["n"] for r in exact}
    assert len(got) == 10
    kth = sorted((n for _, n in got), reverse=True)[9]
    for part, n in got:
        assert exact_counts[part] == n        # counts are exact
        assert n >= kth                       # all returned are >= the cut
    # every strictly-above-cut part must be present
    must = {p for p, n in exact_counts.items() if n > kth}
    assert must <= {p for p, _ in got}


def test_pagerank_int_hand_computed(spark):
    """Integer PageRank: a 2-cycle is a fixed point at the initial rank;
    a source->sink edge gives the sink exactly the damped formula value,
    reproduced here with python ints (same floor divisions)."""
    from spark_lakehouse_medallion_pipeline_spark.operators.graph import (
        PAGERANK_SCALE as S,
    )
    from spark_lakehouse_medallion_pipeline_spark.operators.graph import pagerank_int

    cyc = spark.createDataFrame([("a", "b"), ("b", "a")], "src string, dst string")
    got = {r["name"]: r["rank"] for r in pagerank_int(cyc, iterations=3).collect()}
    assert got == {"a": S, "b": S}  # symmetric cycle is a fixed point

    chain = spark.createDataFrame([("a", "b")], "src string, dst string")
    ra, rb = S, S
    for _ in range(3):
        contrib_b = ra // 1
        ra, rb = (15 * S + 85 * 0) // 100, (15 * S + 85 * contrib_b) // 100
    got = {r["name"]: r["rank"] for r in pagerank_int(chain, iterations=3).collect()}
    assert got == {"a": ra, "b": rb}
    assert got["b"] > got["a"]


def test_stratified_exact_sample_quota_and_determinism(spark):
    from spark_lakehouse_medallion_pipeline_spark.operators import relational

    rows = [(i, "big") for i in range(100)] + [(1000 + i, "small") for i in range(7)]
    rows += [(2000 + i, "tiny") for i in range(3)]  # floor(3/5) = 0 kept
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = relational.stratified_exact_sample(
        df, ["source"], frac_num=1, frac_den=5, order_col="doc_id"
    )
    got = out.groupBy("source").count().collect()
    counts = {r["source"]: r["count"] for r in got}
    assert counts == {"big": 20, "small": 1}  # exact floor quotas; tiny absent
    # deterministic: same ids on rerun, and a subset of the next-larger quota
    ids1 = {r["doc_id"] for r in out.collect()}
    ids2 = {
        r["doc_id"]
        for r in relational.stratified_exact_sample(
            df, ["source"], 1, 5, "doc_id"
        ).collect()
    }
    assert ids1 == ids2
    bigger = {
        r["doc_id"]
        for r in relational.stratified_exact_sample(
            df, ["source"], 2, 5, "doc_id"
        ).collect()
    }
    assert ids1 < bigger  # nested quotas: rank prefix property


def test_label_propagation_two_cliques_bridge(spark):
    """Hand-traced synchronous LPA: two triangles {1,2,3} and
    {10,11,12} joined by a 3-10 bridge converge to two communities
    (labels 1 and 3) in 3 rounds under the smallest-label tie-break."""
    from spark_lakehouse_medallion_pipeline_spark.operators.graph import (
        label_propagation,
    )

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (10, 11), (10, 12), (11, 12), (3, 10)],
        "src long, dst long",
    )
    got = {
        r["vertex"]: r["community"]
        for r in label_propagation(edges, rounds=3).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 3, 11: 3, 12: 3}


def test_bfs_hops_hand_traced(spark):
    """Path 1-2-3-4 plus disjoint 5-6 plus seed 9 absent from the graph:
    3 rounds from seeds {1, 9} reach the whole path (dist = hop count),
    leave 5/6 ABSENT (the unreached-vertices contract), and keep the
    off-graph seed at distance 0."""
    from spark_lakehouse_medallion_pipeline_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,), (9,)], "vertex long")
    got = {r["vertex"]: r["dist"] for r in bfs_hops(edges, seeds, rounds=3).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 9: 0}


def test_bfs_hops_min_over_multiple_sources(spark):
    """Vertex reachable from two seeds keeps the SHORTER distance: on
    1-2-3-4-5 with seeds {1, 5}, vertex 3 is 2 hops from either end and
    2/4 are 1 hop from their nearer seed."""
    from spark_lakehouse_medallion_pipeline_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,), (5,)], "vertex long")
    got = {r["vertex"]: r["dist"] for r in bfs_hops(edges, seeds, rounds=2).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 1, 5: 0}


def _global_window_lines(df):
    """Physical-plan Window nodes with NO partition spec (the single-
    partition form this repo bans): a partitioned WindowExec prints
    `Window [exprs], [partcols], [ordercols]` (two `], [` separators),
    the global form only `Window [exprs], [ordercols]` (one)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [
        ln.strip()
        for ln in plan.splitlines()
        if "Window [" in ln and ln.count("], [") == 1
    ]


def test_distributed_rank_matches_ansi_row_number(spark):
    from pyspark.sql import Window

    # 37 rows across 5 range partitions with deliberate ties in the
    # first key so cross-partition-boundary offsets are exercised.
    rows = [(i % 7, 100 - i, i) for i in range(37)]
    df = spark.createDataFrame(rows, "g int, v int, id int").repartition(6)
    got = relational.distributed_rank(
        df,
        [F.col("g").asc(), F.col("v").desc(), F.col("id").asc()],
        rank_col="r",
        cumsum_cols={"v": "cum"},
        ntile_col="tile",
        n_tiles=4,
        num_partitions=5,
    )
    w = Window.orderBy(F.col("g").asc(), F.col("v").desc(), F.col("id").asc())
    want = df.select(
        "id",
        F.row_number().over(w).cast("long").alias("r"),
        F.sum("v")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("cum"),
        F.ntile(4).over(w).alias("tile"),
    )
    g = {x["id"]: (x["r"], x["cum"], x["tile"]) for x in got.collect()}
    e = {x["id"]: (x["r"], x["cum"], x["tile"]) for x in want.collect()}
    assert g == e
    assert not _global_window_lines(got)


def test_distributed_rank_multi_cumsum_matches_ansi(spark):
    """cumsum_cols: several prefix sums share one two-pass rank — the
    KS-test shape (both samples' ECDF counts at every value) must match
    the ANSI running sums exactly, including across range-partition
    boundaries."""
    from pyspark.sql import Window

    rows = [(100 - i, i % 3, (i * i) % 11, i) for i in range(41)]
    df = spark.createDataFrame(rows, "v int, a int, b int, id int").repartition(7)
    got = relational.distributed_rank(
        df,
        [F.col("v").asc(), F.col("id").asc()],
        rank_col="r",
        cumsum_cols={"a": "cum_a", "b": "cum_b", "id": "cum_id"},
        num_partitions=5,
    )
    w = Window.orderBy(F.col("v").asc(), F.col("id").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = df.select(
        "id",
        F.sum("a").over(w).cast("long").alias("cum_a"),
        F.sum("b").over(w).cast("long").alias("cum_b"),
        F.sum("id").over(w).cast("long").alias("cum_id"),
    )
    g = {x["id"]: (x["cum_a"], x["cum_b"], x["cum_id"]) for x in got.collect()}
    e = {x["id"]: (x["cum_a"], x["cum_b"], x["cum_id"]) for x in want.collect()}
    assert g == e
    assert not _global_window_lines(got)
    # no scratch columns leak into the output schema
    assert not [c for c in got.columns if c.startswith("_")]


def test_distributed_rank_exclusive_cummax_matches_ansi(spark):
    """cummax_cols: the exclusive prefix max must equal ANSI
    MAX(x) OVER (ORDER BY ... ROWS BETWEEN UNBOUNDED PRECEDING AND
    1 PRECEDING) — NULL on the first row, cross-partition maxima
    folded in, and composable with cumsum in the same call."""
    from pyspark.sql import Window

    rows = [((i * 13) % 29, (i * 7) % 17, i) for i in range(43)]
    df = spark.createDataFrame(rows, "v int, s int, id int").repartition(6)
    got = relational.distributed_rank(
        df,
        [F.col("v").asc(), F.col("id").asc()],
        rank_col="r",
        cumsum_cols={"s": "cum_s"},
        cummax_cols={"s": "premax_s", "id": "premax_id"},
        num_partitions=5,
    )
    wo = Window.orderBy(F.col("v").asc(), F.col("id").asc())
    want = df.select(
        "id",
        F.sum("s")
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("cum_s"),
        F.max("s")
        .over(wo.rowsBetween(Window.unboundedPreceding, -1))
        .cast("long")
        .alias("premax_s"),
        F.max("id")
        .over(wo.rowsBetween(Window.unboundedPreceding, -1))
        .cast("long")
        .alias("premax_id"),
    )
    g = {x["id"]: (x["cum_s"], x["premax_s"], x["premax_id"]) for x in got.collect()}
    e = {x["id"]: (x["cum_s"], x["premax_s"], x["premax_id"]) for x in want.collect()}
    assert g == e
    # exactly one NULL premax: the globally first row
    assert sum(1 for v in g.values() if v[1] is None) == 1
    assert not _global_window_lines(got)
    assert not [c for c in got.columns if c.startswith("_")]


def test_distributed_rank_empty_and_tiny(spark):
    df = spark.createDataFrame([], "v int, id int")
    got = relational.distributed_rank(
        df, [F.col("v").asc(), F.col("id").asc()], rank_col="r"
    )
    assert got.count() == 0
    # fewer rows than tiles: tile == rank (ANSI NTILE degenerate case)
    df3 = spark.createDataFrame([(5, 1), (3, 2), (9, 3)], "v int, id int")
    got3 = relational.distributed_rank(
        df3,
        [F.col("v").asc(), F.col("id").asc()],
        rank_col="r",
        ntile_col="t",
        n_tiles=10,
        num_partitions=2,
    ).collect()
    by_id = {x["id"]: (x["r"], x["t"]) for x in got3}
    assert by_id == {2: (1, 1), 1: (2, 2), 3: (3, 3)}


def test_top_k_ranked_matches_window_and_has_no_window_exec(spark):
    from pyspark.sql import Window

    rows = [(i % 5, 200 - (i * 7) % 40, i) for i in range(50)]
    df = spark.createDataFrame(rows, "a int, s int, id int")
    got = relational.top_k_ranked(
        df, [("s", True), ("id", False)], 10, rank_col="rk"
    )
    w = Window.orderBy(F.col("s").desc(), F.col("id").asc())
    want = (
        df.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 10)
    )
    g = {(x["id"], x["rk"]) for x in got.collect()}
    e = {(x["id"], x["rk"]) for x in want.collect()}
    assert g == e
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # the selection itself compiles to TakeOrderedAndProject (it runs
    # inside the operator's eager checkpoint, so assert on the
    # pre-checkpoint shape directly)
    sel = df.orderBy(F.col("s").desc(), F.col("id").asc()).limit(10)
    assert "TakeOrderedAndProject" in sel._jdf.queryExecution().executedPlan().toString()


@pytest.mark.slow
def test_distributed_rank_pins_released_after_gc(spark):
    """distributed_rank pins its range partition with a lazy
    localCheckpoint owned by the returned frame: nothing enters the
    session's CacheManager, and once the frames are dropped and
    garbage-collected the pinned RDDs leave getPersistentRDDs() — no
    registry, no cap, no release call."""
    import gc
    import time

    sc = spark.sparkContext

    # Track OUR RDD ids, not the global count: the ContextCleaner
    # asynchronously drops other tests' GC'd caches, so a global
    # baseline is unstable inside a shared session.
    def pinned_ids():
        return set(sc._jsc.getPersistentRDDs().keySet().toArray())

    cache = spark._jsparkSession.sharedState().cacheManager()
    before, cached = pinned_ids(), cache.numCachedEntries()
    df = spark.createDataFrame(
        [(i % 7, 100 - i, i) for i in range(37)], "g int, v int, id int"
    )
    frames = [
        relational.distributed_rank(
            df,
            [F.col("v").asc(), F.col("id").asc()],
            rank_col=f"r{k}",
            num_partitions=2 + k,
        )
        for k in range(10)
    ]
    for k, f in enumerate(frames):
        assert sorted(r[f"r{k}"] for r in f.collect()) == list(range(1, 38))
    assert len(pinned_ids() - before) >= 10  # pins live with their frames
    assert cache.numCachedEntries() == cached
    del frames, f
    gc.collect()
    # Queued SQL-execution-end events hold each finished query's plan
    # until delivered; drain them so the wait sees only the frames' pins.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    deadline = time.monotonic() + 60
    while pinned_ids() - before:
        assert time.monotonic() < deadline, pinned_ids() - before
        gc.collect()
        sc._jvm.System.gc()
        time.sleep(1)
