"""Round-8h additions: the classical randomness/robust-trend closers
over the daily revenue frame — turning-point and Bartels rank tests
(is the series random?), the Sen slope confidence interval (how sure
is the robust trend?), and Dixon's Q on the weekday means (is one
weekday an outlier?).

House rules: all four run on calendar-bounded frames (days / dow /
day-pairs); test statistics are exact integers wherever the math
allows (turning counts, rank sums, slope ranks), with one
`_r6`-guarded identical-IEEE expression at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from airflow_baseball_spark import registry
from airflow_baseball_spark.functions.scalar import round6_portable as _r6
from airflow_baseball_spark.functions.scalar import r6_sql as _r6_sql
from airflow_baseball_spark.queries_round8f import (
    _DAILY_CENTS_CTE,
    _daily_cents,
)

# ---------------------------------------------------------------------------
# Turning-point test of serial randomness
# ---------------------------------------------------------------------------


def q_turning_point_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning-point test on daily revenue: T counts strict local
    maxima/minima among consecutive triples; for an iid series
    E[T] = 2(n−2)/3 and Var[T] = (16n−29)/90, z = (T−E)/sd — the
    textbook first screen for serial structure (runs_test's
    peak-count sibling; too few turns reads as trend, too many as
    alternation).

    Exactness: T is a pure-integer count of STRICT DECIMAL
    comparisons (equal-neighbor triples — measure-zero on cents —
    count as non-turns on both engines identically); z is one `_r6`
    expression. Scale: one allowlisted days-bounded window."""
    daily = _daily_cents(spark, sf_dir)
    w = Window.orderBy("d")
    t = daily.select(
        F.col("x").alias("x0"),
        F.lead("x", 1).over(w).alias("x1"),
        F.lead("x", 2).over(w).alias("x2"),
    ).filter(F.col("x2").isNotNull())
    is_turn = (
        ((F.col("x1") > F.col("x0")) & (F.col("x1") > F.col("x2")))
        | ((F.col("x1") < F.col("x0")) & (F.col("x1") < F.col("x2")))
    ).cast("long")
    agg = t.agg(
        (F.count("*") + 2).alias("n_days"),
        F.sum(is_turn).cast("long").alias("n_turns"),
    )
    n = F.col("n_days").cast("double")
    mean = F.lit(2.0) * (n - 2) / F.lit(3.0)
    var = (F.lit(16.0) * n - 29) / F.lit(90.0)
    return agg.select(
        "n_days",
        "n_turns",
        _r6((F.col("n_turns").cast("double") - mean) / F.sqrt(var)).alias(
            "z_stat"
        ),
    )


registry.register(
    "turning_point_test",
    q_turning_point_test,
    f"""
    WITH {_DAILY_CENTS_CTE},
    trip AS (
      SELECT x AS x0,
             LEAD(x, 1) OVER (ORDER BY d) AS x1,
             LEAD(x, 2) OVER (ORDER BY d) AS x2
      FROM daily
    ),
    agg AS (
      SELECT COUNT(*) + 2 AS n_days,
             CAST(SUM(CAST((x1 > x0 AND x1 > x2)
                           OR (x1 < x0 AND x1 < x2) AS BIGINT))
                  AS BIGINT) AS n_turns
      FROM trip WHERE x2 IS NOT NULL
    )
    SELECT n_days, n_turns,
           {_r6_sql(
             "(CAST(n_turns AS DOUBLE)"
             " - 2.0 * (CAST(n_days AS DOUBLE) - 2) / 3.0)"
             " / SQRT((16.0 * CAST(n_days AS DOUBLE) - 29) / 90.0)"
           )} AS z_stat
    FROM agg
    """,
)


# ---------------------------------------------------------------------------
# Bartels rank test (rank von Neumann ratio)
# ---------------------------------------------------------------------------


def q_bartels_rank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartels' rank version of the von Neumann ratio on daily
    revenue: with ranks R_i of the series (row_number over exact
    cents, day tiebreak), RVN = Σ(R_i − R_{i+1})² / Σ(R_i − R̄)².
    E[RVN] = 2; under randomness
    z = (RVN − 2) / sqrt(4(n−2)(5n²−2n−9) / (5n(n+1)(n−1)²)) — the
    rank-robust serial-correlation screen next to turning_point_test
    (RVN < 2 reads as positive autocorrelation).

    Exactness: the numerator is an exact BIGINT; the denominator is
    the closed form n(n²−1)/12 (row_number ranks are a permutation —
    no ties); z is one `_r6` expression. Scale: two allowlisted
    days-bounded windows sharing one sort."""
    daily = _daily_cents(spark, sf_dir)
    wr = Window.orderBy(F.col("x").asc(), F.col("d").asc())
    ranked = daily.select(
        "d", F.row_number().over(wr).alias("r")
    )
    wd = Window.orderBy("d")
    diffs = ranked.select(
        F.col("r"),
        F.lead("r").over(wd).alias("r_next"),
    )
    agg = diffs.agg(
        F.count("*").alias("n_days"),
        F.sum(
            F.when(
                F.col("r_next").isNotNull(),
                (F.col("r") - F.col("r_next"))
                * (F.col("r") - F.col("r_next")),
            )
        ).cast("long").alias("nm"),
    )
    n = F.col("n_days").cast("double")
    denom = n * (n * n - 1) / F.lit(12.0)
    rvn = F.col("nm").cast("double") / denom
    var = (
        F.lit(4.0)
        * (n - 2)
        * (F.lit(5.0) * n * n - 2 * n - 9)
        / (F.lit(5.0) * n * (n + 1) * (n - 1) * (n - 1))
    )
    return agg.select(
        "n_days",
        "nm",
        _r6(rvn).alias("rvn"),
        _r6((rvn - F.lit(2.0)) / F.sqrt(var)).alias("z_stat"),
    )


registry.register(
    "bartels_rank_test",
    q_bartels_rank_test,
    f"""
    WITH {_DAILY_CENTS_CTE},
    ranked AS (
      SELECT d, ROW_NUMBER() OVER (ORDER BY x ASC, d ASC) AS r
      FROM daily
    ),
    diffs AS (
      SELECT r, LEAD(r) OVER (ORDER BY d) AS r_next FROM ranked
    ),
    agg AS (
      SELECT COUNT(*) AS n_days,
             CAST(SUM(CASE WHEN r_next IS NOT NULL
                  THEN (r - r_next) * (r - r_next) END) AS BIGINT) AS nm
      FROM diffs
    )
    SELECT n_days, nm,
           {_r6_sql(
             "CAST(nm AS DOUBLE) / (CAST(n_days AS DOUBLE)"
             " * (CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE) - 1)"
             " / 12.0)"
           )} AS rvn,
           {_r6_sql(
             "(CAST(nm AS DOUBLE) / (CAST(n_days AS DOUBLE)"
             " * (CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE) - 1)"
             " / 12.0) - 2.0)"
             " / SQRT(4.0 * (CAST(n_days AS DOUBLE) - 2)"
             "   * (5.0 * CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE)"
             "      - 2 * CAST(n_days AS DOUBLE) - 9)"
             "   / (5.0 * CAST(n_days AS DOUBLE)"
             "      * (CAST(n_days AS DOUBLE) + 1)"
             "      * (CAST(n_days AS DOUBLE) - 1)"
             "      * (CAST(n_days AS DOUBLE) - 1)))"
           )} AS z_stat
    FROM agg
    """,
)


# ---------------------------------------------------------------------------
# Sen slope with the rank-based confidence interval
# ---------------------------------------------------------------------------


def q_sen_slope_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen slope of daily revenue with the Gilbert/Sen
    rank-based 95% CI: with p pairwise slopes and
    C = 1.96·sqrt(Var[S]) (Var[S] = n(n−1)(2n+5)/18), the CI
    endpoints are the slopes at ranks ceil((p−C)/2) and
    ceil((p+C)/2)+1 — the uncertainty statement theil_sen_slope
    itself omits, computed without any residual model.

    Exactness: slopes are the portable integer micro-cents/day; all
    three picks are row_number order statistics with (slope, rank)
    determinism; the rank positions floor/ceil the SAME double on
    both engines. Scale: the day×day pair table is calendar-bounded;
    ONE slope sort serves the median and both endpoints
    (allowlisted)."""
    from airflow_baseball_spark.queries_stats import _daily_series, _floor_div

    daily = _daily_series(spark, sf_dir)
    a = daily.select(F.col("d").alias("da"), F.col("v").alias("va"))
    b = daily.select(F.col("d").alias("db"), F.col("v").alias("vb"))
    pairs = a.join(b, F.col("da") < F.col("db")).select(
        _floor_div(
            (F.col("vb") - F.col("va")) * F.lit(1000000),
            F.col("db") - F.col("da"),
        )
        .cast("long")
        .alias("slope_micro")
    )
    # r9 re-tier (r8 verdict #6): ONE window pass instead of two —
    # the pair count is exactly C(n_days, 2), so `p` comes from the
    # broadcast day count as pure integer arithmetic and the
    # count-over-() second WindowExec buffer pass disappears; only
    # the row_number sort over the calendar-bounded days² frame
    # remains (allowlisted — days² is constant in fact volume). (A
    # collect_list/array_sort single-task rewrite was measured SLOWER
    # here — 4.9-5.6 s vs 3.3-3.5 s at sf0.1; r11 also measured the
    # rank_select.with_global_rank two-level rank and rejected it:
    # heavy-tailed slopes collapse range buckets to one, so it
    # degenerates to the same single-task sort plus overhead,
    # 6.7-8.1 s isolated.)
    w = Window.orderBy("slope_micro")
    ranked = pairs.select(
        "slope_micro",
        F.row_number().over(w).alias("rn"),
    )
    nd_tbl = daily.agg(F.count("*").alias("n_days"))
    j = ranked.crossJoin(F.broadcast(nd_tbl))
    p = F.call_function(
        "div", F.col("n_days") * (F.col("n_days") - 1), F.lit(2)
    )
    n = F.col("n_days").cast("double")
    c = F.lit(1.96) * F.sqrt(n * (n - 1) * (2 * n + 5) / F.lit(18.0))
    lo_rank = F.ceil((p.cast("double") - c) / 2).cast("long")
    hi_rank = (F.ceil((p.cast("double") + c) / 2) + 1).cast("long")
    med_rank = ((p + 1) / 2).cast("long")
    agg = j.agg(
        F.max("n_days").alias("n_days"),
        F.max(p).alias("n_pairs"),
        F.max(
            F.when(
                F.col("rn") == F.greatest(med_rank, F.lit(1)),
                F.col("slope_micro"),
            )
        ).alias("sen_slope_micro"),
        F.max(
            F.when(
                F.col("rn") == F.greatest(lo_rank, F.lit(1)),
                F.col("slope_micro"),
            )
        ).alias("lo_micro"),
        F.max(
            F.when(
                F.col("rn") == F.least(hi_rank, p),
                F.col("slope_micro"),
            )
        ).alias("hi_micro"),
    )
    return agg.select(
        "n_days",
        "n_pairs",
        "sen_slope_micro",
        "lo_micro",
        "hi_micro",
        _r6(F.col("sen_slope_micro").cast("double") / (1e6 * 100.0)).alias(
            "slope_dollars"
        ),
        _r6(F.col("lo_micro").cast("double") / (1e6 * 100.0)).alias(
            "ci_lo_dollars"
        ),
        _r6(F.col("hi_micro").cast("double") / (1e6 * 100.0)).alias(
            "ci_hi_dollars"
        ),
    )


def _sen_ci_sql() -> str:
    fd = (
        "(((vb - va) * 1000000)"
        " - ((((vb - va) * 1000000) % (db - da)) + (db - da)) % (db - da))"
        " // (db - da)"
    )
    c = (
        "1.96 * SQRT(CAST(n_days AS DOUBLE)"
        " * (CAST(n_days AS DOUBLE) - 1)"
        " * (2 * CAST(n_days AS DOUBLE) + 5) / 18.0)"
    )
    return f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', o_orderdate) AS d,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) / 100
                           AS DECIMAL(18,2))) * 100 AS BIGINT) AS v
      FROM orders GROUP BY 1
    ),
    pairs AS (
      SELECT CAST({fd} AS BIGINT) AS slope_micro
      FROM daily a(da, va) JOIN daily b(db, vb) ON a.da < b.db
    ),
    ranked AS (
      SELECT slope_micro,
             ROW_NUMBER() OVER (ORDER BY slope_micro) AS rn
      FROM pairs
    ),
    -- p = C(n_days, 2) exactly: no second count-over-() window pass
    nd AS (SELECT COUNT(*) AS n_days,
                  (COUNT(*) * (COUNT(*) - 1)) // 2 AS p FROM daily),
    j AS (SELECT r.*, nd.n_days, nd.p FROM ranked r CROSS JOIN nd)
    SELECT MAX(n_days) AS n_days,
           CAST(MAX(p) AS BIGINT) AS n_pairs,
           MAX(CASE WHEN rn = GREATEST((p + 1) // 2, 1)
               THEN slope_micro END) AS sen_slope_micro,
           MAX(CASE WHEN rn = GREATEST(CAST(CEIL(
                 (CAST(p AS DOUBLE) - {c}) / 2) AS BIGINT), 1)
               THEN slope_micro END) AS lo_micro,
           MAX(CASE WHEN rn = LEAST(CAST(CEIL(
                 (CAST(p AS DOUBLE) + {c}) / 2) AS BIGINT) + 1, p)
               THEN slope_micro END) AS hi_micro,
           {_r6_sql(
             "CAST(MAX(CASE WHEN rn = GREATEST((p + 1) // 2, 1)"
             " THEN slope_micro END) AS DOUBLE) / (1000000.0 * 100.0)"
           )} AS slope_dollars,
           {_r6_sql(
             "CAST(MAX(CASE WHEN rn = GREATEST(CAST(CEIL("
             f" (CAST(p AS DOUBLE) - {c}) / 2) AS BIGINT), 1)"
             " THEN slope_micro END) AS DOUBLE) / (1000000.0 * 100.0)"
           )} AS ci_lo_dollars,
           {_r6_sql(
             "CAST(MAX(CASE WHEN rn = LEAST(CAST(CEIL("
             f" (CAST(p AS DOUBLE) + {c}) / 2) AS BIGINT) + 1, p)"
             " THEN slope_micro END) AS DOUBLE) / (1000000.0 * 100.0)"
           )} AS ci_hi_dollars
    FROM j
    """


registry.register("sen_slope_ci", q_sen_slope_ci, _sen_ci_sql())


# ---------------------------------------------------------------------------
# Dixon's Q on the weekday means
# ---------------------------------------------------------------------------


def q_dixon_q_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dixon's Q over the seven weekday mean revenues: with the means
    sorted, Q_low = (x(2)−x(1))/(x(7)−x(1)) asks whether the weakest
    weekday is an outlier and Q_high = (x(7)−x(6))/(x(7)−x(1)) the
    strongest — the small-sample outlier screen (n=7 is squarely
    Dixon territory; Grubbs/GESD handle the long daily series).

    Exactness: weekday means are single divisions of exact BIGINT
    sums; the sort orders those identical doubles with a dow
    tiebreak; both Q ratios are `_r6`-guarded. Scale: everything
    after one fact pass happens on a 7-row frame."""
    daily = _daily_cents(spark, sf_dir)
    dowm = (
        daily.select(F.pmod(F.col("d"), F.lit(7)).alias("dow"), "x")
        .groupBy("dow")
        .agg(F.count("*").alias("nd"), F.sum("x").alias("sx"))
        .select(
            "dow",
            (F.col("sx").cast("double") / F.col("nd").cast("double")).alias(
                "m"
            ),
        )
    )
    w = Window.orderBy(F.col("m").asc(), F.col("dow").asc())
    ranked = dowm.select(
        "dow", "m", F.row_number().over(w).alias("rk")
    )
    agg = ranked.agg(
        F.max(F.when(F.col("rk") == 1, F.col("m"))).alias("x1"),
        F.max(F.when(F.col("rk") == 2, F.col("m"))).alias("x2"),
        F.max(F.when(F.col("rk") == 6, F.col("m"))).alias("x6"),
        F.max(F.when(F.col("rk") == 7, F.col("m"))).alias("x7"),
        F.max(F.when(F.col("rk") == 1, F.col("dow"))).alias("low_dow"),
        F.max(F.when(F.col("rk") == 7, F.col("dow"))).alias("high_dow"),
    )
    rng = F.col("x7") - F.col("x1")
    return agg.select(
        "low_dow",
        "high_dow",
        _r6((F.col("x2") - F.col("x1")) / rng).alias("q_low"),
        _r6((F.col("x7") - F.col("x6")) / rng).alias("q_high"),
        _r6(rng / F.lit(100.0)).alias("range_dollars"),
    )


registry.register(
    "dixon_q_test",
    q_dixon_q_test,
    f"""
    WITH {_DAILY_CENTS_CTE},
    dowm AS (
      SELECT CAST((d % 7 + 7) % 7 AS INTEGER) AS dow,
             CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS m
      FROM daily GROUP BY 1
    ),
    ranked AS (
      SELECT dow, m, ROW_NUMBER() OVER (ORDER BY m ASC, dow ASC) AS rk
      FROM dowm
    ),
    agg AS (
      SELECT MAX(CASE WHEN rk = 1 THEN m END) AS x1,
             MAX(CASE WHEN rk = 2 THEN m END) AS x2,
             MAX(CASE WHEN rk = 6 THEN m END) AS x6,
             MAX(CASE WHEN rk = 7 THEN m END) AS x7,
             MAX(CASE WHEN rk = 1 THEN dow END) AS low_dow,
             MAX(CASE WHEN rk = 7 THEN dow END) AS high_dow
      FROM ranked
    )
    SELECT low_dow, high_dow,
           {_r6_sql("(x2 - x1) / (x7 - x1)")} AS q_low,
           {_r6_sql("(x7 - x6) / (x7 - x1)")} AS q_high,
           {_r6_sql("(x7 - x1) / 100.0")} AS range_dollars
    FROM agg
    """,
)
