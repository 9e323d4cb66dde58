"""Physical-plan assertions for the r7 scale fixes (r6 verdict items
#4/#5/#7): the raw-fact order-statistic family (fd_bin_width,
qq_table, winsorized_mean) must locate ranks through the two-pass
histogram (operators/rank_select.py), gini/lorenz must rank through
the two-level distributed prefix-sum, media_shard_plan must cumsum
through per-block windows, and peak_concurrency must sweep without a
global sort. Concretely: the ONLY unpartitioned windows allowed in
any of these plans are over bucket/block tables (bounded n_buckets
rows), never over a fact-sized column order."""

from __future__ import annotations

import re

from tests.oracle_harness import plan_str as _plan, unpartitioned_window_orders

SF = "/root/testdata/sf0.001"

# Columns that only ever exist on bounded bucket/block tables.
_BUCKET_COLS = {"b", "_b", "blk", "decile"}


def _assert_only_bucket_global_windows(plan: str) -> None:
    bad = [
        c for c in unpartitioned_window_orders(plan) if c not in _BUCKET_COLS
    ]
    assert not bad, f"fact-sized unpartitioned window(s) over: {bad}"


def test_fd_bin_width_two_pass(spark):
    from airflow_baseball_spark.queries_relational2 import q_fd_bin_width

    plan = _plan(q_fd_bin_width(spark, SF))
    _assert_only_bucket_global_windows(plan)
    # pass-2 row_number is partitioned (rank_label present in spec)
    assert "rank_label" in plan


def test_qq_table_two_pass(spark):
    from airflow_baseball_spark.queries_eval import q_qq_table

    plan = _plan(q_qq_table(spark, SF))
    _assert_only_bucket_global_windows(plan)


def test_winsorized_mean_two_pass(spark):
    from airflow_baseball_spark.queries_eval import q_winsorized_mean

    plan = _plan(q_winsorized_mean(spark, SF))
    _assert_only_bucket_global_windows(plan)


def test_gini_distributed_rank(spark):
    from airflow_baseball_spark.queries_relational2 import q_gini_coefficient

    plan = _plan(q_gini_coefficient(spark, SF))
    _assert_only_bucket_global_windows(plan)


def test_lorenz_distributed_rank(spark):
    from airflow_baseball_spark.queries_relational2 import q_lorenz_curve

    plan = _plan(q_lorenz_curve(spark, SF))
    _assert_only_bucket_global_windows(plan)


def test_media_shard_plan_two_level(spark):
    from airflow_baseball_spark.queries_multimodal import q_media_shard_plan

    plan = _plan(q_media_shard_plan(spark, SF))
    _assert_only_bucket_global_windows(plan)
    # the fact-sized cumsum is partitioned by block
    assert re.search(r"windowspecdefinition\(blk#\d+L?, asset_id", plan)


def test_peak_concurrency_two_level_sweep(spark):
    from airflow_baseball_spark.queries_relational2 import q_peak_concurrency

    plan = _plan(q_peak_concurrency(spark, SF))
    _assert_only_bucket_global_windows(plan)
    # argmax is a combinable aggregate, not a global DESC sort: a
    # load-DESC window would appear as an unpartitioned spec over
    # `load`, which the assertion above already forbids
    assert "row_number" not in plan or "load" not in "".join(
        unpartitioned_window_orders(plan)
    )


def test_rank_pick_matches_naive(spark):
    """Property check on the reusable operator itself: rank_pick's
    selected values equal the naive global-sort answer for several
    rank specs on real data."""
    from pyspark.sql import functions as F

    from airflow_baseball_spark.operators.rank_select import rank_pick
    from airflow_baseball_spark.schemas import load_table

    base = (
        load_table(spark, SF, "orders")
        .select(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("v")
        )
    )
    got = {
        r["rank_label"]: r["v"]
        for r in rank_pick(
            base,
            "v",
            [
                ("p10", lambda n: F.expr("(n + 9) div 10")),
                ("p50", lambda n: F.expr("(n + 1) div 2")),
                ("p90", lambda n: F.expr("(9 * n + 9) div 10")),
            ],
        ).collect()
    }
    vals = sorted(r["v"] for r in base.collect())
    n = len(vals)
    want = {
        "p10": vals[(n + 9) // 10 - 1],
        "p50": vals[(n + 1) // 2 - 1],
        "p90": vals[(9 * n + 9) // 10 - 1],
    }
    assert got == want


def test_global_rank_and_cumsum_match_naive(spark):
    """with_global_rank / with_global_cumsum are row-for-row identical
    to the naive single-partition window forms."""
    from pyspark.sql import functions as F

    from airflow_baseball_spark.operators.rank_select import (
        with_global_cumsum,
        with_global_rank,
    )
    from airflow_baseball_spark.schemas import load_table

    ev = (
        load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("c"))
    )
    ranked = with_global_rank(ev, "c", tiebreak_cols=["user_id"]).collect()
    naive = sorted(ranked, key=lambda r: (r["c"], r["user_id"]))
    for i, r in enumerate(naive, start=1):
        assert r["i"] == i

    csum = with_global_cumsum(
        ev.select(F.col("user_id").alias("t"), "c"), "t", "c", cum_col="cum"
    ).collect()
    run = 0
    for r in sorted(csum, key=lambda r: r["t"]):
        run += r["c"]
        assert r["cum"] == run


def test_weighted_median_two_level(spark):
    from airflow_baseball_spark.queries_relational2 import q_weighted_median

    plan = _plan(q_weighted_median(spark, SF))
    _assert_only_bucket_global_windows(plan)


def test_skyline_two_level_and_correct(spark):
    from airflow_baseball_spark.queries_relational2 import q_skyline_pareto

    df = q_skyline_pareto(spark, SF)
    _assert_only_bucket_global_windows(_plan(df))
    rows = df.collect()
    assert rows
    # frontier property: strictly decreasing n_orders as spend rises
    rows.sort(key=lambda r: r.spend)
    for lo, hi in zip(rows, rows[1:]):
        assert hi.spend > lo.spend and hi.n_orders < lo.n_orders


# --- r7 low-cardinality-window sweep: a window partitioned ONLY by a
# --- handful-valued key (event_type, cls, returnflag, seg) over raw
# --- fact order funnels each key's full volume through one task; the
# --- rewritten plans must show the two-level structure instead.


def test_equi_depth_bins_grouped_two_level(spark):
    from airflow_baseball_spark.queries_relational import q_equi_depth_bins

    plan = _plan(q_equi_depth_bins(spark, SF))
    # no per-type window ordering the raw value directly
    assert not re.search(
        r"windowspecdefinition\(event_type#\d+, (value|vc)#\d+L? ASC", plan
    )
    # the rank window is (event_type, _b)-partitioned
    assert re.search(
        r"windowspecdefinition\(event_type#\d+, _b#\d+L?, vc#\d+L? ASC", plan
    )


def test_quantile_normalize_grouped_two_pass(spark):
    from airflow_baseball_spark.queries_stats import q_quantile_normalize

    plan = _plan(q_quantile_normalize(spark, SF))
    assert not re.search(
        r"windowspecdefinition\(cls#\d+, (x|v)#\d+L? ASC", plan
    )


def test_weighted_reservoir_two_phase(spark):
    from airflow_baseball_spark.queries_sampling import q_weighted_reservoir

    plan = _plan(q_weighted_reservoir(spark, SF))
    # phase-1 salted window must exist ((k % 64) partition expr)
    assert "% 64" in plan


def test_twap_block_stitched(spark):
    from airflow_baseball_spark.queries_timeseries import q_twap

    plan = _plan(q_twap(spark, SF))
    # the LEAD over raw events is (event_type, d)-partitioned; a bare
    # per-type window ordering us/ts must not exist
    assert not re.search(
        r"windowspecdefinition\(event_type#\d+, (ts|us)#\d+L? ASC", plan
    )


def test_weighted_median_histogram_locate(spark):
    from airflow_baseball_spark.queries_mining import q_weighted_median

    plan = _plan(q_weighted_median(spark, SF))
    # bucket-offset window over (flag, b) must exist; the old raw
    # cumulative form ordered (price, orderkey, linenumber)
    assert re.search(
        r"windowspecdefinition\(l_returnflag#\d+, b#\d+L? ASC", plan
    )
    assert "l_orderkey" not in plan or not re.search(
        r"windowspecdefinition\(l_returnflag#\d+, price#", plan
    )


def test_pareto_frontier_two_level_runmax(spark):
    from airflow_baseball_spark.queries_mining import q_pareto_frontier

    plan = _plan(q_pareto_frontier(spark, SF))
    _assert_only_bucket_global_windows(plan)


def test_percentile_disc_two_pass(spark):
    """percentile_disc must pick ranks from the weighted
    (priority, latency-day) table — ONE combinable pass over the fact
    (r11: replaced the grouped two-pass histogram, which re-evaluated
    the lineitem⋈orders join once per pass). The windows may only run
    over the calendar-bounded weighted table: the plan must aggregate
    by (priority, lat) BELOW every window, and lineitem is scanned
    exactly once."""
    from airflow_baseball_spark.queries_relational2 import q_percentile_disc

    plan = _plan(q_percentile_disc(spark, SF))
    _assert_only_bucket_global_windows(plan)
    # the cumsum window rides above the weighted pre-aggregation
    assert "cum_before" in plan
    # one-pass property: a single lineitem scan feeds everything
    assert plan.count("lineitem.parquet") == 1


def test_percentile_cont_two_pass(spark):
    from airflow_baseball_spark.queries_relational2 import q_percentile_cont

    plan = _plan(q_percentile_cont(spark, SF))
    _assert_only_bucket_global_windows(plan)
    assert "cum_before" in plan
    assert plan.count("lineitem.parquet") == 1


def test_topk_with_ties_threshold_prefilter(spark):
    """topk_with_ties must window only over the rank-3-threshold
    survivors (≤3+ties rows per nation), not sort the whole customer
    table through 25 nation partitions. The histogram threshold path
    is visible as rank_label; the survivors window is still rank()
    but fed by the broadcast-threshold filter."""
    from airflow_baseball_spark.queries_relational import q_topk_with_ties

    plan = _plan(q_topk_with_ties(spark, SF))
    _assert_only_bucket_global_windows(plan)
    assert "rank_label" in plan
    assert "thr_cents" in plan


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """Spark-native scan pruning: a fact written partitioned by ship
    year, joined to a filtered dim on the partition column, must get
    a runtime `dynamicpruning` partition filter -- at 100 TB this is
    the difference between scanning one year and scanning seven."""
    from pyspark.sql import functions as F

    from airflow_baseball_spark.schemas import load_table

    li = load_table(spark, SF, "lineitem").select(
        "l_orderkey",
        "l_extendedprice",
        F.year("l_shipdate").alias("ship_year"),
    )
    path = str(tmp_path / "li_by_year")
    li.write.partitionBy("ship_year").parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [(1996, "pick"), (1997, "skip")], ["yr", "tag"]
    ).filter(F.col("tag") == "pick")
    joined = fact.join(
        F.broadcast(dim), fact["ship_year"] == dim["yr"]
    ).groupBy("yr").count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
