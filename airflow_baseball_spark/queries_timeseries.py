"""Time-series operators over the events/orders daily series:
gaps-and-islands streaks, linear interpolation, lag-k autocorrelation,
day-of-week seasonality, centered-window anomaly flags, CUSUM
changepoint scanning, day-k retention curves, exact rolling medians,
the seasonal-naive forecast backtest, sliding-window distinct users
via interval merging, and time-weighted averages (TWAP).

Same engine-exactness rules as queries_stats.py: every reported
double derives from exact integer counts / decimal sums through an
identical IEEE expression tree on both engines, `_r6`-bounded.
Calendar arithmetic is done on integer day offsets (datediff from a
fixed epoch) so both engines compare the same INTs — never on
engine-specific date/dow functions whose conventions differ
(Spark dayofweek is 1=Sunday, DuckDB dayofweek is 0=Sunday).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from airflow_baseball_spark import registry
from airflow_baseball_spark.functions.scalar import dec_portable, round6_portable
from airflow_baseball_spark.schemas import load_table

_r6 = round6_portable


# ---------------------------------------------------------------------------
# Gaps and islands: per-user consecutive-active-day streaks
# ---------------------------------------------------------------------------


def q_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user streak profile: number of maximal runs of consecutive
    active days, the longest run, and total active days.

    The classic gaps-and-islands identity: within a user, consecutive
    days all share the same value of ``day - row_number()`` (each step
    advances both by one), so one user-keyed window plus one
    (user, group) count materializes every island without a self-join
    or an iterative expand. Scale shape: a single user_id shuffle; the
    window and both group-bys reuse that partitioning (days-per-user
    rows, never the raw fact, reach the window sort)."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    grp = days.withColumn("g", F.date_sub(F.col("d"), F.row_number().over(w)))
    streaks = grp.groupBy("user_id", "g").agg(F.count("*").alias("len"))
    return (
        streaks.groupBy("user_id")
        .agg(
            F.count("*").alias("n_streaks"),
            F.max("len").alias("longest_streak"),
            F.sum("len").cast("long").alias("active_days"),
        )
    )


registry.register(
    "activity_streaks",
    q_activity_streaks,
    """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events
    ),
    grp AS (
      SELECT user_id, d,
             d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                      AS INTEGER) AS g
      FROM days
    ),
    streaks AS (
      SELECT user_id, g, COUNT(*) AS len FROM grp GROUP BY user_id, g
    )
    SELECT user_id,
           COUNT(*) AS n_streaks,
           MAX(len) AS longest_streak,
           CAST(SUM(len) AS BIGINT) AS active_days
    FROM streaks
    GROUP BY user_id
    """,
)


# ---------------------------------------------------------------------------
# Linear interpolation of missing days in a sparse per-user series
# ---------------------------------------------------------------------------

_EPOCH = "2024-01-01"


def _day_int(c) -> F.Column:
    return F.datediff(c, F.lit(_EPOCH).cast("date"))


def q_linear_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily purchase totals densified to the user's active
    range, with INTERIOR missing days linearly interpolated between
    the surrounding observed days (gap_fill's forward-fill sibling —
    this is the resampling a feature pipeline wants for rates).

    Mechanics: one user-day aggregate, a per-user day spine from an
    in-row ``sequence()`` explode (bounded by the user's span, no
    cross join), then the previous/next observed value and day via
    ``last(ignorenulls)`` over forward and backward frames — four
    window columns sharing ONE user-keyed sort each direction.
    interp = prev + (next - prev) * (d - d_prev)/(d_next - d_prev),
    an identical IEEE tree on both engines over exact decimal daily
    sums and integer day offsets. Spine edges are observed rows by
    construction, so every interpolated day has both neighbors.

    Scale shape: everything partitions by user_id; the explode output
    is range-sized (days, not events) and the windows sort days-per-
    user, so skew is bounded by calendar span, not activity."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    daily = (
        ev.select("user_id", _day_int(F.to_date("ts")).alias("di"), "value")
        .groupBy("user_id", "di")
        .agg(
            F.sum(dec_portable("value", 18, 2))
            .cast("decimal(18,2)")
            .cast("double")
            .alias("v")
        )
    )
    rng = daily.groupBy("user_id").agg(
        F.min("di").alias("d0"), F.max("di").alias("d1")
    )
    spine = rng.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("di")
    )
    j = spine.join(daily, ["user_id", "di"], "left")
    wf = (
        Window.partitionBy("user_id")
        .orderBy("di")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("di")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_di = F.when(F.col("v").isNotNull(), F.col("di"))
    j = j.select(
        "user_id",
        "di",
        "v",
        F.last("v", ignorenulls=True).over(wf).alias("pv"),
        F.last(obs_di, ignorenulls=True).over(wf).alias("pd"),
        F.first("v", ignorenulls=True).over(wb).alias("nv"),
        F.first(obs_di, ignorenulls=True).over(wb).alias("nd"),
    )
    frac = (F.col("di") - F.col("pd")).cast("double") / (
        F.col("nd") - F.col("pd")
    ).cast("double")
    filled = F.when(F.col("v").isNotNull(), F.col("v")).otherwise(
        F.col("pv") + (F.col("nv") - F.col("pv")) * frac
    )
    return j.select(
        "user_id",
        "di",
        _r6(filled).alias("v_filled"),
        F.col("v").isNull().alias("is_interp"),
    )


registry.register(
    "linear_interp",
    q_linear_interp,
    f"""
    WITH daily AS (
      SELECT user_id,
             CAST(CAST(date_trunc('day', ts) AS DATE) - DATE '{_EPOCH}'
                  AS INTEGER) AS di,
             CAST(CAST(SUM(CAST(FLOOR(value * 100 + 0.5) / 100 AS DECIMAL(18,2))) AS DECIMAL(18,2))
                  AS DOUBLE) AS v
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1, 2
    ),
    rng AS (
      SELECT user_id, MIN(di) AS d0, MAX(di) AS d1 FROM daily GROUP BY user_id
    ),
    spine AS (
      SELECT user_id, UNNEST(generate_series(d0, d1)) AS di FROM rng
    ),
    j AS (
      SELECT s.user_id, s.di, d.v,
             LAST_VALUE(d.v IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.di
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             LAST_VALUE(CASE WHEN d.v IS NOT NULL THEN s.di END IGNORE NULLS)
               OVER (PARTITION BY s.user_id ORDER BY s.di
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
             FIRST_VALUE(d.v IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.di
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             FIRST_VALUE(CASE WHEN d.v IS NOT NULL THEN s.di END IGNORE NULLS)
               OVER (PARTITION BY s.user_id ORDER BY s.di
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      FROM spine s LEFT JOIN daily d USING (user_id, di)
    )
    SELECT user_id, di,
           FLOOR((CASE WHEN v IS NOT NULL THEN v
                       ELSE pv + (nv - pv) *
                            (CAST(di - pd AS DOUBLE) /
                             CAST(nd - pd AS DOUBLE)) END)
                 * 1000000.0 + 0.5) / 1000000.0 AS v_filled,
           v IS NULL AS is_interp
    FROM j
    """,
)


# ---------------------------------------------------------------------------
# Lag-k autocorrelation of the daily order-revenue series
# ---------------------------------------------------------------------------

_AC_LAGS = (1, 2, 3, 7)


def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-lag autocorrelation (lags 1,2,3,7 over the sequence of
    PRESENT days, noted as row- not calendar-lag) of daily order
    revenue, from exact decimal sufficient statistics — same rationale
    as corr_matrix: `F.corr`'s double accumulation drifts with
    partition order, sufficient stats don't.

    One day-keyed aggregate builds the series; ONE unpartitioned
    window sort (days-sized — thousands of rows at century scale, a
    single partition by design, documented safe) yields all four lag
    columns; one 1-row aggregate collects every lag's six sufficient
    statistics; the 4 result rows explode in-row from that single
    aggregate row."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(dec_portable("o_totalprice", 18, 2))
        .cast("decimal(18,2)")
        .alias("v")
    )
    w = Window.orderBy("d")
    lagged = daily.select(
        "v", *[F.lag("v", k).over(w).alias(f"x{k}") for k in _AC_LAGS]
    )
    aggs = []
    for k in _AC_LAGS:
        x = F.col(f"x{k}")
        y = F.when(x.isNotNull(), F.col("v"))
        aggs += [
            F.count(x).alias(f"n{k}"),
            F.sum(x).alias(f"sx{k}"),
            F.sum(y).alias(f"sy{k}"),
            F.sum((x * y).cast("decimal(38,4)")).alias(f"sxy{k}"),
            F.sum((x * x).cast("decimal(38,4)")).alias(f"sxx{k}"),
            F.sum((y * y).cast("decimal(38,4)")).alias(f"syy{k}"),
        ]
    stats = lagged.agg(*aggs)

    def r_expr(k: int):
        n = F.col(f"n{k}").cast("double")
        sx = F.col(f"sx{k}").cast("double")
        sy = F.col(f"sy{k}").cast("double")
        sxy = F.col(f"sxy{k}").cast("double")
        sxx = F.col(f"sxx{k}").cast("double")
        syy = F.col(f"syy{k}").cast("double")
        return (n * sxy - sx * sy) / (
            F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
        )

    rows = F.array(
        *[
            F.struct(
                F.lit(k).alias("lag_k"),
                F.col(f"n{k}").alias("n_pairs"),
                _r6(r_expr(k)).alias("autocorr"),
            )
            for k in _AC_LAGS
        ]
    )
    return (
        stats.select(F.explode(rows).alias("r"))
        .select("r.lag_k", "r.n_pairs", "r.autocorr")
    )


def _autocorr_sql() -> str:
    lag_cols = ",\n             ".join(
        f"LAG(v, {k}) OVER (ORDER BY d) AS x{k}" for k in _AC_LAGS
    )
    stat_cols = []
    for k in _AC_LAGS:
        stat_cols.append(
            f"""COUNT(x{k}) AS n{k},
           SUM(x{k}) AS sx{k},
           SUM(CASE WHEN x{k} IS NOT NULL THEN v END) AS sy{k},
           SUM(CAST(x{k} * (CASE WHEN x{k} IS NOT NULL THEN v END)
                    AS DECIMAL(38,4))) AS sxy{k},
           SUM(CAST(x{k} * x{k} AS DECIMAL(38,4))) AS sxx{k},
           SUM(CAST((CASE WHEN x{k} IS NOT NULL THEN v END) *
                    (CASE WHEN x{k} IS NOT NULL THEN v END)
                    AS DECIMAL(38,4))) AS syy{k}"""
        )
    out_rows = []
    for k in _AC_LAGS:
        r = (
            f"(CAST(n{k} AS DOUBLE) * CAST(sxy{k} AS DOUBLE)"
            f" - CAST(sx{k} AS DOUBLE) * CAST(sy{k} AS DOUBLE))"
            f" / (SQRT(CAST(n{k} AS DOUBLE) * CAST(sxx{k} AS DOUBLE)"
            f" - CAST(sx{k} AS DOUBLE) * CAST(sx{k} AS DOUBLE))"
            f" * SQRT(CAST(n{k} AS DOUBLE) * CAST(syy{k} AS DOUBLE)"
            f" - CAST(sy{k} AS DOUBLE) * CAST(sy{k} AS DOUBLE)))"
        )
        out_rows.append(
            f"SELECT {k} AS lag_k, n{k} AS n_pairs,"
            f" FLOOR(({r}) * 1000000.0 + 0.5) / 1000000.0 AS autocorr"
            " FROM stats"
        )
    return f"""
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) / 100 AS DECIMAL(18,2)))
                  AS DECIMAL(18,2)) AS v
      FROM orders GROUP BY o_orderdate
    ),
    lagged AS (
      SELECT v,
             {lag_cols}
      FROM daily
    ),
    stats AS (
      SELECT {', '.join(stat_cols)}
      FROM lagged
    )
    {' UNION ALL '.join(out_rows)}
    """


registry.register("autocorr", q_autocorr, _autocorr_sql())


# ---------------------------------------------------------------------------
# Day-of-week seasonality index of order revenue
# ---------------------------------------------------------------------------

_DOW_EPOCH = "1992-01-01"  # a Wednesday; dow 0 below = Wednesday


def q_seasonality_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue seasonality by day-of-week: each weekday's average
    daily revenue and its index against the all-days average.

    Day-of-week is computed as (days since a fixed epoch) mod 7 —
    pure integer arithmetic, identical on both engines — instead of
    engine dow functions whose weekday numbering conventions differ.
    Two aggregates over the days-sized daily table (7-row and 1-row)
    joined by broadcast; the fact is scanned once."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(dec_portable("o_totalprice", 18, 2))
        .cast("decimal(18,2)")
        .alias("v")
    )
    daily = daily.withColumn(
        "dow",
        F.pmod(
            F.datediff(F.col("d"), F.lit(_DOW_EPOCH).cast("date")), F.lit(7)
        ),
    )
    by_dow = daily.groupBy("dow").agg(
        F.count("*").alias("n_days"), F.sum("v").alias("s")
    )
    overall = daily.agg(
        F.count("*").alias("n_all"), F.sum("v").alias("s_all")
    )
    avg_dow = F.col("s").cast("double") / F.col("n_days").cast("double")
    avg_all = F.col("s_all").cast("double") / F.col("n_all").cast("double")
    return (
        by_dow.crossJoin(F.broadcast(overall))
        .select(
            "dow",
            "n_days",
            _r6(avg_dow).alias("avg_rev"),
            _r6(avg_dow / avg_all).alias("seasonality_index"),
        )
    )


registry.register(
    "seasonality_dow",
    q_seasonality_dow,
    f"""
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) / 100 AS DECIMAL(18,2)))
                  AS DECIMAL(18,2)) AS v,
             CAST((date_diff('day', DATE '{_DOW_EPOCH}', o_orderdate)
                   % 7 + 7) % 7 AS INTEGER) AS dow
      FROM orders GROUP BY o_orderdate
    ),
    by_dow AS (
      SELECT dow, COUNT(*) AS n_days, SUM(v) AS s FROM daily GROUP BY dow
    ),
    overall AS (
      SELECT COUNT(*) AS n_all, SUM(v) AS s_all FROM daily
    )
    SELECT dow, n_days,
           FLOOR((CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS avg_rev,
           FLOOR(((CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE)) /
                  (CAST(s_all AS DOUBLE) / CAST(n_all AS DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0 AS seasonality_index
    FROM by_dow CROSS JOIN overall
    """,
)


# ---------------------------------------------------------------------------
# Centered-window anomaly flags on the per-type daily series
# ---------------------------------------------------------------------------


def q_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days whose per-type revenue deviates from the centered 7-day
    neighborhood: residual = v - MA7(v), flagged when |residual|
    exceeds 3× the series' mean |residual|.

    Exactness: the residual is carried as the EXACT decimal
    ``7·v − Σ₇v`` (never the double division) until the final report,
    and the flag compares ``|resid7| · n > 3 · Σ|resid7|`` — all
    decimal/integer arithmetic, so the boolean cannot flip on a ulp.
    Only interior days (full 7-row frame on both sides) are scored,
    which is what makes the 7· identity exact. Scale shape: one
    event_type shuffle; window + both aggregates reuse it; the
    threshold aggregate is types-sized and broadcast back."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", F.to_date("ts").alias("d"), "value")
        .groupBy("event_type", "d")
        .agg(
            F.sum(dec_portable("value", 18, 2))
            .cast("decimal(18,2)")
            .alias("v")
        )
    )
    w = Window.partitionBy("event_type").orderBy("d").rowsBetween(-3, 3)
    scored = daily.select(
        "event_type",
        "d",
        "v",
        (F.lit(7) * F.col("v") - F.sum("v").over(w))
        .cast("decimal(28,2)")
        .alias("resid7"),
        F.count("*").over(w).alias("c7"),
    ).filter(F.col("c7") == 7)
    thr = scored.groupBy(F.col("event_type").alias("et")).agg(
        F.count("*").alias("n"),
        F.sum(F.abs(F.col("resid7"))).cast("decimal(38,2)").alias("tot"),
    )
    j = scored.join(
        F.broadcast(thr), F.col("event_type") == F.col("et")
    )
    return j.select(
        "event_type",
        "d",
        F.col("v").cast("double").alias("v"),
        _r6(F.col("resid7").cast("double") / 7.0).alias("residual"),
        (
            F.abs(F.col("resid7")).cast("decimal(38,2)") * F.col("n")
            > F.lit(3) * F.col("tot")
        ).alias("is_anomaly"),
    )


registry.register(
    "rolling_anomaly",
    q_rolling_anomaly,
    """
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) / 100 AS DECIMAL(18,2)))
                  AS DECIMAL(18,2)) AS v
      FROM events GROUP BY 1, 2
    ),
    scored AS (
      SELECT event_type, d, v,
             CAST(7 * v - SUM(v) OVER (
               PARTITION BY event_type ORDER BY d
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
               AS DECIMAL(28,2)) AS resid7,
             COUNT(*) OVER (
               PARTITION BY event_type ORDER BY d
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS c7
      FROM daily
    ),
    interior AS (SELECT * FROM scored WHERE c7 = 7),
    thr AS (
      SELECT event_type AS et, COUNT(*) AS n,
             CAST(SUM(ABS(resid7)) AS DECIMAL(38,2)) AS tot
      FROM interior GROUP BY event_type
    )
    SELECT i.event_type, i.d, CAST(i.v AS DOUBLE) AS v,
           FLOOR((CAST(i.resid7 AS DOUBLE) / 7.0)
                 * 1000000.0 + 0.5) / 1000000.0 AS residual,
           CAST(ABS(i.resid7) AS DECIMAL(38,2)) * t.n > 3 * t.tot
             AS is_anomaly
    FROM interior i JOIN thr t ON i.event_type = t.et
    """,
)


# ---------------------------------------------------------------------------
# CUSUM changepoint scan on the daily revenue series
# ---------------------------------------------------------------------------


def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint scan: the running sum of deviations from the
    series mean peaks (in absolute value) at the most likely level
    shift. Exactness: the cumulative statistic is carried as
    ``n·Σ_prefix(v) − i·Σ_total(v)`` — pure decimal/integer products,
    NEVER the running sum of float deviations — so the argmax is
    bit-deterministic; only the reported magnitude divides at the
    end. One window sort over the days-sized aggregate plus a 1-row
    broadcast of (n, total); the argmax is a second tiny window."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(dec_portable("o_totalprice", 18, 2))
        .cast("decimal(18,2)")
        .alias("v")
    )
    tot = daily.agg(
        F.count("*").alias("n"),
        F.sum("v").cast("decimal(28,2)").alias("s"),
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    pre = daily.select(
        "d",
        F.sum("v").over(w).cast("decimal(28,2)").alias("prefix"),
        F.row_number().over(Window.orderBy("d")).alias("i"),
    )
    j = pre.crossJoin(F.broadcast(tot))
    # cusum_i = prefix_i − (i/n)·s, scaled by n to stay exact:
    scaled = j.select(
        "d",
        "i",
        "n",
        (
            F.col("prefix") * F.col("n") - F.col("s") * F.col("i")
        ).cast("decimal(38,2)").alias("c_scaled"),
    )
    wmax = Window.orderBy(
        F.abs(F.col("c_scaled")).desc(), F.col("d").asc()
    )
    return (
        scaled.withColumn("rk", F.row_number().over(wmax))
        .filter(F.col("rk") == 1)
        .select(
            F.col("d").alias("changepoint_day"),
            F.col("i").alias("day_index"),
            _r6(
                F.abs(F.col("c_scaled")).cast("double")
                / F.col("n").cast("double")
            ).alias("max_abs_cusum"),
        )
    )


registry.register(
    "cusum_changepoint",
    q_cusum_changepoint,
    """
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) / 100 AS DECIMAL(18,2)))
                  AS DECIMAL(18,2)) AS v
      FROM orders GROUP BY o_orderdate
    ),
    tot AS (
      SELECT COUNT(*) AS n, CAST(SUM(v) AS DECIMAL(28,2)) AS s FROM daily
    ),
    pre AS (
      SELECT d,
             CAST(SUM(v) OVER (ORDER BY d
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DECIMAL(28,2)) AS prefix,
             ROW_NUMBER() OVER (ORDER BY d) AS i
      FROM daily
    ),
    scaled AS (
      SELECT d, i, n,
             CAST(prefix * n - s * i AS DECIMAL(38,2)) AS c_scaled
      FROM pre CROSS JOIN tot
    )
    SELECT d AS changepoint_day, i AS day_index,
           FLOOR((CAST(ABS(c_scaled) AS DOUBLE) / CAST(n AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS max_abs_cusum
    FROM scaled
    ORDER BY ABS(c_scaled) DESC, d ASC
    LIMIT 1
    """,
)


# ---------------------------------------------------------------------------
# Day-k retention curve
# ---------------------------------------------------------------------------


def q_retention_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic day-k retention: of the users ELIGIBLE at k (first
    event at least k days before the corpus horizon), what share was
    active exactly k days after their first day, for k = 1..14.

    One user-day distinct + a first-day aggregate joined back; the
    k-expansion is an IN-ROW sequence explode on the users-sized
    table (14 rows per user, never per event); both the eligible and
    retained counts are exact integers from one (k)-keyed agg. The
    horizon travels as a broadcast 1-row frame."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    first = days.groupBy("user_id").agg(F.min("d").alias("d0"))
    horizon = days.agg(F.max("d").alias("h"))
    ks = first.crossJoin(F.broadcast(horizon)).select(
        "user_id",
        "d0",
        F.explode(F.sequence(F.lit(1), F.lit(14))).alias("k"),
        "h",
    ).filter(F.date_add(F.col("d0"), F.col("k")) <= F.col("h"))
    active = days.select(
        F.col("user_id").alias("u2"), F.col("d").alias("d2")
    )
    j = ks.join(
        active,
        (F.col("user_id") == F.col("u2"))
        & (F.date_add(F.col("d0"), F.col("k")) == F.col("d2")),
        "left",
    )
    return (
        j.groupBy("k")
        .agg(
            F.count("*").alias("n_eligible"),
            F.count("d2").alias("n_retained"),
        )
        .select(
            "k",
            "n_eligible",
            "n_retained",
            _r6(
                F.col("n_retained").cast("double")
                / F.col("n_eligible").cast("double")
            ).alias("retention"),
        )
    )


registry.register(
    "retention_curve",
    q_retention_curve,
    """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events
    ),
    first AS (
      SELECT user_id, MIN(d) AS d0 FROM days GROUP BY user_id
    ),
    horizon AS (SELECT MAX(d) AS h FROM days),
    ks AS (
      SELECT f.user_id, f.d0, u.k
      FROM first f
      CROSS JOIN horizon
      CROSS JOIN (SELECT UNNEST(generate_series(1, 14)) AS k) u
      WHERE f.d0 + CAST(u.k AS INTEGER) <= h
    )
    SELECT ks.k,
           COUNT(*) AS n_eligible,
           COUNT(a.d) AS n_retained,
           FLOOR((CAST(COUNT(a.d) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS retention
    FROM ks
    LEFT JOIN days a
      ON a.user_id = ks.user_id AND a.d = ks.d0 + CAST(ks.k AS INTEGER)
    GROUP BY ks.k
    """,
)


# ---------------------------------------------------------------------------
# Exact rolling median (order-statistic window)
# ---------------------------------------------------------------------------


def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-row median of daily per-type revenue — the robust
    rolling level estimate (rolling_anomaly's mean-based sibling);
    medians don't decompose into partial aggregates, so the window
    collects its ≤7 values in-row and takes the exact lower-median
    order statistic.

    Exactness: values are integer cents; the median is element
    (n+1) div 2 of the in-row sorted array — pure integer selection,
    no interpolation, engine-identical. Scale: the array is bounded
    by the FRAME (7), not the data; the window sorts the days-sized
    daily aggregate within each type, never the fact."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", F.to_date("ts").alias("d"), "value")
        .groupBy("event_type", "d")
        .agg(
            (F.sum(dec_portable("value", 18, 2)) * 100)
            .cast("long")
            .alias("v")
        )
    )
    w = Window.partitionBy("event_type").orderBy("d").rowsBetween(-6, 0)
    arr = F.sort_array(F.collect_list("v").over(w))
    with_arr = daily.select("event_type", "d", arr.alias("a"))
    med = F.element_at(
        F.col("a"), F.expr("(size(a) + 1) div 2").cast("int")
    )
    return with_arr.select(
        "event_type",
        "d",
        F.size("a").cast("long").alias("n_in_window"),
        (med.cast("double") / F.lit(100.0)).alias("rolling_median"),
    )


registry.register(
    "rolling_median",
    q_rolling_median,
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) / 100 AS DECIMAL(18,2))) * 100 AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    ),
    arrs AS (
      SELECT event_type, d,
             list(v) OVER (PARTITION BY event_type ORDER BY d
                           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS a
      FROM daily
    )
    SELECT event_type, d,
           CAST(len(a) AS BIGINT) AS n_in_window,
           CAST(list_extract(list_sort(a), (len(a) + 1) // 2) AS DOUBLE)
             / 100.0 AS rolling_median
    FROM arrs
    """,
)


# ---------------------------------------------------------------------------
# Seasonal-naive forecast evaluation
# ---------------------------------------------------------------------------


def q_seasonal_naive_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the seasonal-naive forecaster (predict today =
    same weekday last week, LAG 7 over the daily revenue series) —
    the baseline every real forecast must beat, and the cheap
    drift/seasonality health check on a pipeline's volume series.

    Exactness: daily revenue is integer cents; MAE and mean error are
    pure integer Σ|f−a| and Σ(f−a); the per-day sMAPE ratio quantizes
    to BIGINT (floor(2e9·|f−a|/(f+a))) before its sum, so every
    aggregate is order-invariant integer arithmetic (the
    unigram_perplexity trick). The lag-7 window orders the days-sized
    aggregate — one single-partition window over ~hundreds of rows,
    not the fact."""
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.select(F.to_date("o_orderdate").alias("d"), "o_totalprice")
        .groupBy("d")
        .agg(
            (F.sum(dec_portable("o_totalprice", 18, 2)) * 100)
            .cast("long")
            .alias("a")
        )
    )
    w = Window.orderBy("d")
    lagged = daily.select(
        "d", "a", F.lag("a", 7).over(w).alias("f")
    ).filter(F.col("f").isNotNull())
    smape9 = F.floor(
        F.lit(2e9)
        * F.abs(F.col("f") - F.col("a")).cast("double")
        / (F.col("f") + F.col("a")).cast("double")
    ).cast("long")
    return lagged.agg(
        F.count("*").cast("long").alias("n_days"),
        _r6(
            F.sum(F.abs(F.col("f") - F.col("a"))).cast("double")
            / (F.lit(100.0) * F.count("*").cast("double"))
        ).alias("mae"),
        _r6(
            F.sum(F.col("f") - F.col("a")).cast("double")
            / (F.lit(100.0) * F.count("*").cast("double"))
        ).alias("mean_err"),
        _r6(
            F.sum(smape9).cast("double")
            / (F.count("*").cast("double") * F.lit(1e9))
        ).alias("smape"),
    )


registry.register(
    "seasonal_naive_eval",
    q_seasonal_naive_eval,
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) / 100 AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS a
      FROM orders GROUP BY 1
    ),
    lagged AS (
      SELECT d, a, LAG(a, 7) OVER (ORDER BY d) AS f FROM daily
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           FLOOR((CAST(SUM(ABS(f - a)) AS DOUBLE)
                  / (100.0 * CAST(COUNT(*) AS DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0 AS mae,
           FLOOR((CAST(SUM(f - a) AS DOUBLE)
                  / (100.0 * CAST(COUNT(*) AS DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0 AS mean_err,
           FLOOR((CAST(SUM(CAST(FLOOR(2e9 * CAST(ABS(f - a) AS DOUBLE)
                                      / CAST(f + a AS DOUBLE)) AS BIGINT))
                       AS DOUBLE)
                  / (CAST(COUNT(*) AS DOUBLE) * 1e9))
                 * 1000000.0 + 0.5) / 1000000.0 AS smape
    FROM lagged WHERE f IS NOT NULL
    """,
)


# ---------------------------------------------------------------------------
# Exact sliding-window distinct users via per-user interval merge
# ---------------------------------------------------------------------------


def q_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users active in the trailing 7 days, for every day —
    the rolling-MAU/WAU curve. COUNT(DISTINCT) over a sliding window
    doesn't decompose, so the scalable EXACT form inverts it: each
    (user, active-day) covers windows [d, d+6]; merge each user's
    overlapping coverage intervals (gaps-and-islands, one user-keyed
    window sort), explode the DISJOINT merged intervals into days,
    and a plain COUNT per day is the distinct count — no distinct
    aggregation ever runs on the exploded table. Explode volume is
    bounded by 7·active-days (and less after merging), vs the naive
    day×user range join's unbounded fanout; cumulative_distinct_users
    is the from-inception sibling."""
    ev = load_table(spark, sf_dir, "events")
    pairs = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    iv = pairs.select(
        "user_id", F.col("d").alias("s"), F.date_add("d", 6).alias("e")
    )
    w_prior = (
        Window.partitionBy("user_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.select(
        "user_id",
        "s",
        "e",
        F.when(F.col("s") > F.max("e").over(w_prior), 1)
        .otherwise(0)
        .alias("new_i"),
    )
    iid = F.sum("new_i").over(
        Window.partitionBy("user_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    merged = (
        flagged.select("user_id", "s", "e", iid.alias("iid"))
        .groupBy("user_id", "iid")
        .agg(F.min("s").alias("ms"), F.max("e").alias("me"))
    )
    days = merged.select(
        "user_id", F.explode(F.sequence("ms", "me")).alias("d")
    )
    bounds = pairs.agg(F.min("d").alias("dmin"), F.max("d").alias("dmax"))
    return (
        days.crossJoin(F.broadcast(bounds))
        .filter((F.col("d") >= F.col("dmin")) & (F.col("d") <= F.col("dmax")))
        .groupBy("d")
        .agg(F.count("*").cast("long").alias("n_users_7d"))
    )


registry.register(
    "sliding_distinct_users",
    q_sliding_distinct_users,
    """
    WITH pairs AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    iv AS (
      SELECT user_id, d AS s, d + INTERVAL 6 DAY AS e FROM pairs
    ),
    flagged AS (
      SELECT user_id, s, e,
             CASE WHEN s > MAX(e) OVER (PARTITION BY user_id ORDER BY s
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_i
      FROM iv
    ),
    merged AS (
      SELECT user_id, iid, MIN(s) AS ms, MAX(e) AS me
      FROM (
        SELECT user_id, s, e,
               SUM(new_i) OVER (PARTITION BY user_id ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS iid
        FROM flagged
      )
      GROUP BY 1, 2
    ),
    days AS (
      SELECT user_id, CAST(dd AS DATE) AS d
      FROM merged,
           LATERAL unnest(generate_series(CAST(ms AS DATE), CAST(me AS DATE),
                                          INTERVAL 1 DAY)) AS g(dd)
    ),
    bounds AS (SELECT MIN(d) AS dmin, MAX(d) AS dmax FROM pairs)
    SELECT d, CAST(COUNT(*) AS BIGINT) AS n_users_7d
    FROM days CROSS JOIN bounds
    WHERE d >= dmin AND d <= dmax
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# Time-weighted average (TWAP)
# ---------------------------------------------------------------------------


def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type time-weighted average value: each observation holds
    until the next one, weighted by its holding interval — the metric
    for irregularly-sampled series where the plain mean over-counts
    bursts (TWAP in trading, time-in-state in ops).

    Exactness: Σ cents·Δµs and Σ Δµs are pure integer sums (LEAD
    gaps; last observation per type is excluded — no synthetic
    horizon), so the average is one exact division.

    r7 (low-cardinality-window sweep): a 5-valued event_type LEAD
    window would funnel each type's FULL event volume through one
    partition, so the gap scan is now BLOCK-STITCHED — LEAD within
    (type, epoch-day) blocks in parallel, and each block's last
    event takes its successor from the next non-empty block's first
    timestamp via a days-bounded per-type window over the block-first
    table. Row-for-row identical to the global LEAD (ties in ts share
    a block, so the (ts, event_id) order never straddles the
    stitch)."""
    ev = load_table(spark, sf_dir, "events")
    cents = (dec_portable("value", 18, 2) * 100).cast("long")
    base = ev.select(
        "event_type",
        "event_id",
        cents.alias("v"),
        F.unix_micros("ts").alias("us"),
        F.expr("unix_micros(ts) div 86400000000").alias("d"),
    )
    w_blk = Window.partitionBy("event_type", "d").orderBy("us", "event_id")
    firsts = base.groupBy("event_type", "d").agg(
        F.min("us").alias("first_us")
    )
    w_days = Window.partitionBy("event_type").orderBy("d")
    nxt = firsts.withColumn(
        "next_first", F.lead("first_us").over(w_days)
    ).select("event_type", "d", "next_first")
    gaps = (
        base.withColumn("lead_us", F.lead("us").over(w_blk))
        .join(nxt, ["event_type", "d"])
        .select(
            "event_type",
            "v",
            (
                F.coalesce(F.col("lead_us"), F.col("next_first"))
                - F.col("us")
            ).alias("dt"),
        )
        .filter(F.col("dt").isNotNull())
    )
    return gaps.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_intervals"),
        # integer div, matching the oracle's `//` — a double divide
        # then cast can truncate one low at exact-minute boundaries
        F.expr("CAST((sum(dt) div 60000000) AS LONG)").alias(
            "span_minutes"
        ),
        _r6(
            F.sum(F.col("v") * F.col("dt")).cast("double")
            / (F.lit(100.0) * F.sum("dt").cast("double"))
        ).alias("twap"),
        _r6(
            F.sum("v").cast("double")
            / (F.lit(100.0) * F.count("*").cast("double"))
        ).alias("plain_mean"),
    )


registry.register(
    "twap",
    q_twap,
    """
    WITH gaps AS (
      SELECT event_type,
             CAST(CAST(FLOOR(value * 100 + 0.5) / 100 AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
             LEAD(epoch_us(ts)) OVER (PARTITION BY event_type
                                      ORDER BY ts, event_id)
               - epoch_us(ts) AS dt
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(dt) // 60000000 AS BIGINT) AS span_minutes,
           FLOOR((CAST(SUM(v * dt) AS DOUBLE)
                  / (100.0 * CAST(SUM(dt) AS DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0 AS twap,
           FLOOR((CAST(SUM(v) AS DOUBLE)
                  / (100.0 * CAST(COUNT(*) AS DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0 AS plain_mean
    FROM gaps WHERE dt IS NOT NULL
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# Floor-at-zero running balance (capped cumulative sum, closed form)
# ---------------------------------------------------------------------------


def q_capped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily inventory-style balance per part where returns drain
    stock but the balance FLOORS at zero — the nonlinear running sum
    every naive window gets wrong. The closed form makes it a plain
    window: with prefix p_t, the floored balance is
    b_t = p_t − min(0, min_{s≤t} p_s) — one cumulative sum + one
    cumulative min, no recursion, no UDF, exact integers throughout.
    (The identity holds for a floor-only cap; a two-sided cap has no
    windowed closed form and would need applyInPandasWithState.)

    Scale: daily net quantities aggregate combinably per (part, day);
    both windows sort the part's own day series. Output restricted to
    a fixed O(1) part set so the row count is sf-stable."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey") % 500 == 0
    )
    net = (
        li.select(
            "l_partkey",
            F.to_date("l_shipdate").alias("d"),
            F.when(
                F.col("l_returnflag") == "R",
                -dec_portable("l_quantity", 18, 2),
            )
            .otherwise(dec_portable("l_quantity", 18, 2))
            .alias("q"),
        )
        .groupBy("l_partkey", "d")
        .agg((F.sum("q") * 100).cast("long").alias("net100"))
    )
    w = (
        Window.partitionBy("l_partkey")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    staged = net.select(
        "l_partkey",
        "d",
        "net100",
        F.sum("net100").over(w).alias("p"),
    ).withColumn("m", F.min(F.least(F.col("p"), F.lit(0))).over(w))
    return staged.select(
        "l_partkey",
        "d",
        (F.col("net100").cast("double") / 100.0).alias("net_qty"),
        ((F.col("p") - F.col("m")).cast("double") / 100.0).alias(
            "balance"
        ),
    )


registry.register(
    "capped_running_balance",
    q_capped_running_balance,
    """
    WITH net AS (
      SELECT l_partkey, CAST(l_shipdate AS DATE) AS d,
             CAST(SUM(CASE WHEN l_returnflag = 'R'
                           THEN -CAST(FLOOR(l_quantity * 100 + 0.5) / 100 AS DECIMAL(18,2))
                           ELSE CAST(FLOOR(l_quantity * 100 + 0.5) / 100 AS DECIMAL(18,2)) END)
                  * 100 AS BIGINT) AS net100
      FROM lineitem WHERE l_partkey % 500 = 0
      GROUP BY 1, 2
    ),
    staged AS (
      SELECT l_partkey, d, net100,
             SUM(net100) OVER (PARTITION BY l_partkey ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
      FROM net
    )
    SELECT l_partkey, d,
           CAST(net100 AS DOUBLE) / 100.0 AS net_qty,
           CAST(p - MIN(LEAST(p, 0))
                    OVER (PARTITION BY l_partkey ORDER BY d
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) / 100.0 AS balance
    FROM staged
    """,
)


# ---------------------------------------------------------------------------
# Two-sided capped balance (warehouse capacity): the genuinely
# stateful sibling of capped_running_balance
# ---------------------------------------------------------------------------

_BAND_CAP_100 = 5000  # 50 units in integer centi-units


def q_banded_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily stock per part clamped to [0, 50] — floor AND ceiling.
    Unlike the floor-only case (capped_running_balance's reflection
    identity), a two-sided clamp has NO windowed closed form: each
    day's balance depends on whether any EARLIER day saturated either
    bound. This is the honest Pandas-UDF tier of the operator ladder
    (docstring in capped_running_balance): applyInPandas runs the
    sequential clamp per part — keys process in parallel, state never
    leaves the group, and all arithmetic is Python ints (bit-exact vs
    the oracle's recursive CTE walking rn → rn+1 per part).

    Scale: per-key sequential is irreducible here; the shuffle is one
    part-keyed exchange and each group is days-sized."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey") % 500 == 0
    )
    net = (
        li.select(
            "l_partkey",
            F.to_date("l_shipdate").alias("d"),
            F.when(
                F.col("l_returnflag") == "R",
                -dec_portable("l_quantity", 18, 2),
            )
            .otherwise(dec_portable("l_quantity", 18, 2))
            .alias("q"),
        )
        .groupBy("l_partkey", "d")
        .agg((F.sum("q") * 100).cast("long").alias("net100"))
    )
    cap = _BAND_CAP_100

    def clamp_group(pdf):
        import pandas as pd  # noqa: PLC0415 — worker-side import

        pdf = pdf.sort_values("d").reset_index(drop=True)
        b, out = 0, []
        for x in pdf["net100"]:
            b = min(cap, max(0, b + int(x)))
            out.append(b)
        return pd.DataFrame(
            {
                "l_partkey": pdf["l_partkey"],
                "d": pdf["d"],
                "net_qty": pdf["net100"] / 100.0,
                "balance": [v / 100.0 for v in out],
            }
        )

    return net.groupBy("l_partkey").applyInPandas(
        clamp_group,
        "l_partkey long, d date, net_qty double, balance double",
    )


registry.register(
    "banded_running_balance",
    q_banded_running_balance,
    f"""
    WITH RECURSIVE net AS (
      SELECT l_partkey, CAST(l_shipdate AS DATE) AS d,
             CAST(SUM(CASE WHEN l_returnflag = 'R'
                           THEN -CAST(FLOOR(l_quantity * 100 + 0.5) / 100 AS DECIMAL(18,2))
                           ELSE CAST(FLOOR(l_quantity * 100 + 0.5) / 100 AS DECIMAL(18,2)) END)
                  * 100 AS BIGINT) AS net100,
             ROW_NUMBER() OVER (PARTITION BY l_partkey
                                ORDER BY CAST(l_shipdate AS DATE)) AS rn
      FROM lineitem WHERE l_partkey % 500 = 0
      GROUP BY 1, 2
    ),
    walk(l_partkey, rn, d, net100, b) AS (
      SELECT l_partkey, rn, d, net100,
             LEAST({_BAND_CAP_100}, GREATEST(0, net100))
      FROM net WHERE rn = 1
      UNION ALL
      SELECT n.l_partkey, n.rn, n.d, n.net100,
             LEAST({_BAND_CAP_100}, GREATEST(0, w.b + n.net100))
      FROM walk w JOIN net n
        ON n.l_partkey = w.l_partkey AND n.rn = w.rn + 1
    )
    SELECT l_partkey, d,
           CAST(net100 AS DOUBLE) / 100.0 AS net_qty,
           CAST(b AS DOUBLE) / 100.0 AS balance
    FROM walk
    """,
)


# ---------------------------------------------------------------------------
# EWMA crossover signals with power-of-two integer weights
# ---------------------------------------------------------------------------


def q_ewma_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fast(4-day)/slow(8-day) moving-average crossover count per
    event type — the classic trend-change signal. Exactness without
    floats: the exponential weights are POWERS OF TWO over a finite
    window (2^(W−k)), so numerator and denominator are exact integer
    window sums, and "fast above slow" compares the integer
    cross-product num_f·den_s > num_s·den_f — signal flips can't sit
    on a ulp. Crossings = sign changes of that boolean via one lag.
    ewma_smooth is the float-weight smoother; this is the
    signal-grade integer variant."""
    ev = load_table(spark, sf_dir, "events")
    cents = (dec_portable("value", 18, 2) * 100).cast("long")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.sum(cents).alias("v")
    )
    w_ord = Window.partitionBy("event_type").orderBy("d")
    rn = F.row_number().over(w_ord)
    base = daily.select("event_type", "d", "v", rn.alias("rn"))

    def wsum(width: int, col: str):
        # Σ v_{t-k}·2^(width-1-k), k=0..width-1, via lag
        num = None
        den = 0
        for k in range(width):
            wgt = 2 ** (width - 1 - k)
            term = F.coalesce(
                F.lag("v", k).over(w_ord), F.lit(0)
            ) * F.lit(wgt)
            num = term if num is None else num + term
            den += wgt
        return num.alias(f"num_{col}"), den

    num_f, den_f = wsum(4, "f")
    num_s, den_s = wsum(8, "s")
    staged = base.select(
        "event_type", "d", "rn", num_f, num_s
    ).filter(F.col("rn") >= 8)  # full windows only
    above = (F.col("num_f") * den_s) > (F.col("num_s") * den_f)
    w_lag = Window.partitionBy("event_type").orderBy("d")
    sig = staged.select(
        "event_type",
        above.cast("int").alias("fast_above"),
        F.lag(above.cast("int")).over(w_lag).alias("prev"),
    )
    return sig.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days_scored"),
        F.sum("fast_above").cast("long").alias("days_fast_above"),
        F.count(
            F.when(
                F.col("prev").isNotNull()
                & (F.col("fast_above") != F.col("prev")),
                1,
            )
        )
        .cast("long")
        .alias("n_crossovers"),
    )


def _ewma_cross_sql() -> str:
    def terms(width):
        ts = " + ".join(
            f"COALESCE(LAG(v, {k}) OVER w, 0) * {2 ** (width - 1 - k)}"
            for k in range(width)
        )
        den = sum(2 ** (width - 1 - k) for k in range(width))
        return ts, den

    tf, den_f = terms(4)
    ts_, den_s = terms(8)
    return f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             SUM(CAST(CAST(FLOOR(value * 100 + 0.5) / 100 AS DECIMAL(18,2)) * 100 AS BIGINT)) AS v
      FROM events GROUP BY 1, 2
    ),
    staged AS (
      SELECT event_type, d,
             ROW_NUMBER() OVER w AS rn,
             {tf} AS num_f,
             {ts_} AS num_s
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY d)
    ),
    sig AS (
      SELECT event_type,
             CASE WHEN num_f * {den_s} > num_s * {den_f}
                  THEN 1 ELSE 0 END AS fast_above,
             LAG(CASE WHEN num_f * {den_s} > num_s * {den_f}
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY event_type ORDER BY d) AS prev
      FROM staged WHERE rn >= 8
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days_scored,
           CAST(SUM(fast_above) AS BIGINT) AS days_fast_above,
           CAST(COUNT(CASE WHEN prev IS NOT NULL AND fast_above <> prev
                           THEN 1 END) AS BIGINT) AS n_crossovers
    FROM sig GROUP BY 1
    """


registry.register("ewma_crossover", q_ewma_crossover, _ewma_cross_sql())


# ---------------------------------------------------------------------------
# Discrete hazard table of inter-event gaps
# ---------------------------------------------------------------------------


def q_gap_hazard_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete hazard of returning after k days of silence:
    h(k) = (gaps = k) / (gaps ≥ k) — the churn-model view of
    inter_event_gaps (kaplan_meier estimates survival of ONE
    transition; this tables the hazard over every user gap).
    Gaps ≥ 8 days pool into one bucket so the table is O(1).

    Exactness: integer day gaps from one user-keyed LEAD window; the
    at-risk denominator is a REVERSE cumulative integer sum over the
    9-row gap histogram; one division per row."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.select(
            "user_id",
            F.datediff(
                F.lead(F.to_date("ts")).over(w), F.to_date("ts")
            ).alias("g"),
        )
        .filter(F.col("g").isNotNull())
        .select(F.least(F.col("g"), F.lit(8)).alias("g"))
    )
    hist = gaps.groupBy("g").agg(F.count("*").alias("c"))
    w_rev = Window.orderBy(F.col("g").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    staged = hist.select(
        "g", "c", F.sum("c").over(w_rev).alias("at_risk")
    )
    return staged.select(
        F.col("g").cast("long").alias("gap_days"),
        F.col("c").cast("long").alias("n_gaps"),
        F.col("at_risk").cast("long").alias("n_at_risk"),
        _r6(
            F.col("c").cast("double") / F.col("at_risk").cast("double")
        ).alias("hazard"),
    )


registry.register(
    "gap_hazard_table",
    q_gap_hazard_table,
    """
    WITH gaps AS (
      SELECT LEAST(g, 8) AS g FROM (
        SELECT datediff('day', CAST(ts AS DATE),
                        LEAD(CAST(ts AS DATE))
                          OVER (PARTITION BY user_id
                                ORDER BY ts, event_id)) AS g
        FROM events
      ) WHERE g IS NOT NULL
    ),
    hist AS (SELECT g, COUNT(*) AS c FROM gaps GROUP BY 1),
    staged AS (
      SELECT g, c,
             SUM(c) OVER (ORDER BY g DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS at_risk
      FROM hist
    )
    SELECT CAST(g AS BIGINT) AS gap_days,
           CAST(c AS BIGINT) AS n_gaps,
           CAST(at_risk AS BIGINT) AS n_at_risk,
           FLOOR((CAST(c AS DOUBLE) / CAST(at_risk AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS hazard
    FROM staged
    """,
)


# ---------------------------------------------------------------------------
# Mann-Kendall trend test + Theil-Sen slope
# ---------------------------------------------------------------------------


def q_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is the daily revenue series trending, robustly: the
    Mann-Kendall S statistic (Σ sign over all day pairs — pure
    integer) with its tie-corrected normal approximation, plus the
    Theil-Sen slope (median of pairwise slopes) — the
    outlier-immune alternative to OLS trend fits (rolling_slope).

    The O(n²) pair table is over the DAYS-SIZED aggregate (n days →
    n²/2 pairs, ~2k at a 60-day span), never the fact — the standard
    place robust trend statistics are affordable; beyond ~10⁴ days
    the known remedy is pair sampling. Exactness: signs and S are
    integers; each pairwise slope divides exact integers identically
    on both engines, and the median picks rank (p+1) div 2 with an
    (i, j) tie-break."""
    ev = load_table(spark, sf_dir, "events")
    cents = (dec_portable("value", 18, 2) * 100).cast("long")
    ed = F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01")))
    daily = ev.groupBy(ed.alias("d")).agg(F.sum(cents).alias("v"))
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(b, F.col("a.d") < F.col("b.d")).select(
        F.col("a.d").alias("di"),
        F.col("b.d").alias("dj"),
        F.signum((F.col("b.v") - F.col("a.v")).cast("double"))
        .cast("long")
        .alias("sgn"),
        (
            (F.col("b.v") - F.col("a.v")).cast("double")
            / (F.lit(100.0) * (F.col("b.d") - F.col("a.d")).cast("double"))
        ).alias("slope"),
    )
    w = Window.orderBy("slope", "di", "dj")
    wn = Window.partitionBy()
    ranked = pairs.select(
        "sgn",
        "slope",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("p"),
    )
    n_days = daily.agg(F.count("*").alias("n"))
    agg = ranked.groupBy("p").agg(
        F.sum("sgn").alias("s"),
        F.max(
            F.when(F.col("rn") == F.expr("(p + 1) div 2"), F.col("slope"))
        ).alias("sen_slope"),
    )
    j = agg.crossJoin(F.broadcast(n_days))
    nd = F.col("n").cast("double")
    # no-ties variance (ties in daily cent totals are measure-zero at
    # this granularity and both engines compute the same formula)
    var_s = nd * (nd - 1) * (2 * nd + 5) / 18.0
    sd = F.col("s").cast("double")
    z = (
        F.when(F.col("s") > 0, (sd - 1) / F.sqrt(var_s))
        .when(F.col("s") < 0, (sd + 1) / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    return j.select(
        F.col("n").cast("long").alias("n_days"),
        F.col("p").cast("long").alias("n_pairs"),
        F.col("s").cast("long").alias("mk_s"),
        _r6(z).alias("mk_z"),
        _r6(F.col("sen_slope")).alias("sen_slope"),
    )


registry.register(
    "trend_test",
    q_trend_test,
    """
    WITH daily AS (
      SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
             SUM(CAST(CAST(FLOOR(value * 100 + 0.5) / 100 AS DECIMAL(18,2)) * 100 AS BIGINT)) AS v
      FROM events GROUP BY 1
    ),
    pairs AS (
      SELECT a.d AS di, b.d AS dj,
             CAST(SIGN(CAST(b.v - a.v AS DOUBLE)) AS BIGINT) AS sgn,
             CAST(b.v - a.v AS DOUBLE)
               / (100.0 * CAST(b.d - a.d AS DOUBLE)) AS slope
      FROM daily a JOIN daily b ON a.d < b.d
    ),
    ranked AS (
      SELECT sgn, slope,
             ROW_NUMBER() OVER (ORDER BY slope, di, dj) AS rn,
             COUNT(*) OVER () AS p
      FROM pairs
    ),
    agg AS (
      SELECT p, SUM(sgn) AS s,
             MAX(CASE WHEN rn = (p + 1) // 2 THEN slope END) AS sen_slope
      FROM ranked GROUP BY 1
    ),
    nd AS (SELECT COUNT(*) AS n FROM daily)
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(p AS BIGINT) AS n_pairs,
           CAST(s AS BIGINT) AS mk_s,
           FLOOR((CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1)
                            / SQRT(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)
                                   * (2 * CAST(n AS DOUBLE) + 5) / 18.0)
                       WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1)
                            / SQRT(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)
                                   * (2 * CAST(n AS DOUBLE) + 5) / 18.0)
                       ELSE 0.0 END)
                 * 1000000.0 + 0.5) / 1000000.0 AS mk_z,
           FLOOR(sen_slope * 1000000.0 + 0.5) / 1000000.0 AS sen_slope
    FROM agg CROSS JOIN nd
    """,
)


# ---------------------------------------------------------------------------
# Expected shortfall (CVaR) of daily revenue
# ---------------------------------------------------------------------------


def q_cvar_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5% expected shortfall of daily revenue: the mean of the worst
    ⌈n/20⌉ days — the tail-risk number max_drawdown (path risk) and
    percentiles (single quantile) don't give: "when it's bad, HOW
    bad on average".

    Integer ranks pick the tail set (⌈n/20⌉ = (n+19) div 20 — the
    winsorized_mean rule); the tail mean divides exact integer cents.
    One sort of the days-sized series."""
    ev = load_table(spark, sf_dir, "events")
    cents = (dec_portable("value", 18, 2) * 100).cast("long")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(cents).alias("v")
    )
    w = Window.orderBy("v")
    wn = Window.partitionBy()
    ranked = daily.select(
        "v",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    tail = ranked.filter(F.col("rn") <= F.expr("(n + 19) div 20"))
    return tail.agg(
        F.max("n").cast("long").alias("n_days"),
        F.count("*").cast("long").alias("n_tail_days"),
        _r6(
            F.sum("v").cast("double")
            / (F.lit(100.0) * F.count("*").cast("double"))
        ).alias("cvar_5pct"),
    )


registry.register(
    "cvar_daily",
    q_cvar_daily,
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             SUM(CAST(CAST(FLOOR(value * 100 + 0.5) / 100 AS DECIMAL(18,2)) * 100 AS BIGINT)) AS v
      FROM events GROUP BY 1
    ),
    ranked AS (
      SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn,
             COUNT(*) OVER () AS n
      FROM daily
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_days,
           CAST(COUNT(*) AS BIGINT) AS n_tail_days,
           FLOOR((CAST(SUM(v) AS DOUBLE)
                  / (100.0 * CAST(COUNT(*) AS DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0 AS cvar_5pct
    FROM ranked WHERE rn <= (n + 19) // 20
    """,
)


# ---------------------------------------------------------------------------
# Little's law consistency check (L = lambda * W)
# ---------------------------------------------------------------------------


def q_littles_law_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's law over the session system: time-averaged concurrent
    sessions L vs arrival rate λ times mean session duration W —
    the queueing identity every capacity model assumes; on a closed
    window L = λW holds exactly up to edge effects, so the reported
    ratio doubles as an instrumentation health check
    (peak_concurrency reads the max of the same sweep; this is the
    mean).

    L comes from the boundary sweep as Σ(load·Δt)/T (integer µs·count
    sums — load is piecewise constant between boundaries); λ and W
    from session counts and integer duration sums; one shared
    expression per output."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select("user_id", F.unix_micros("ts").alias("us"))
    w = Window.partitionBy("user_id").orderBy("us")
    gap_flag = F.when(
        F.col("us") - F.lag("us").over(w) > 30 * 60 * 1000000, 1
    ).otherwise(0)
    sid = F.sum(gap_flag).over(
        Window.partitionBy("user_id")
        .orderBy("us")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sess = (
        base.select("user_id", "us", sid.alias("sid"))
        .groupBy("user_id", "sid")
        .agg(
            F.min("us").alias("s"),
            (F.max("us") + 5 * 60 * 1000000).alias("e"),
        )
    )
    deltas = sess.select(F.col("s").alias("t"), F.lit(1).alias("d")).unionAll(
        sess.select(F.col("e").alias("t"), F.lit(-1).alias("d"))
    )
    agg_t = deltas.groupBy("t").agg(F.sum("d").alias("d"))
    w_sweep = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    w_lead = Window.orderBy("t")
    swept = agg_t.select(
        "t",
        F.sum("d").over(w_sweep).alias("load"),
        (F.lead("t").over(w_lead) - F.col("t")).alias("dt"),
    ).filter(F.col("dt").isNotNull())
    l_num = swept.agg(
        F.sum(F.col("load").cast("decimal(38,0)") * F.col("dt")).alias(
            "ldt"
        ),
        F.sum("dt").alias("tspan"),
    )
    s_agg = sess.agg(
        F.count("*").alias("n_sessions"),
        F.sum(F.col("e") - F.col("s")).alias("dur_sum"),
    )
    j = l_num.crossJoin(F.broadcast(s_agg))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    big_l = d("ldt") / d("tspan")
    lam_w = d("dur_sum") / d("tspan")  # (n/T)·(dur_sum/n) = dur_sum/T
    return j.select(
        F.col("n_sessions").cast("long").alias("n_sessions"),
        _r6(big_l).alias("avg_concurrency_L"),
        _r6(lam_w).alias("lambda_times_W"),
        _r6(big_l / lam_w).alias("littles_ratio"),
    )


registry.register(
    "littles_law_check",
    q_littles_law_check,
    """
    WITH base AS (SELECT user_id, epoch_us(ts) AS us FROM events),
    flagged AS (
      SELECT user_id, us,
             CASE WHEN us - LAG(us) OVER (PARTITION BY user_id
                                          ORDER BY us)
                       > 30 * 60 * 1000000
                  THEN 1 ELSE 0 END AS brk
      FROM base
    ),
    sids AS (
      SELECT user_id, us,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY us
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    ),
    sess AS (
      SELECT user_id, sid, MIN(us) AS s,
             MAX(us) + 5 * 60 * 1000000 AS e
      FROM sids GROUP BY 1, 2
    ),
    deltas AS (
      SELECT s AS t, 1 AS d FROM sess
      UNION ALL SELECT e AS t, -1 AS d FROM sess
    ),
    agg_t AS (SELECT t, SUM(d) AS d FROM deltas GROUP BY 1),
    swept AS (
      SELECT t,
             SUM(d) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS load,
             LEAD(t) OVER (ORDER BY t) - t AS dt
      FROM agg_t
    ),
    l_num AS (
      SELECT SUM(CAST(load AS HUGEINT) * dt) AS ldt, SUM(dt) AS tspan
      FROM swept WHERE dt IS NOT NULL
    ),
    s_agg AS (
      SELECT COUNT(*) AS n_sessions, SUM(e - s) AS dur_sum FROM sess
    )
    SELECT CAST(n_sessions AS BIGINT) AS n_sessions,
           FLOOR((CAST(ldt AS DOUBLE) / CAST(tspan AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS avg_concurrency_L,
           FLOOR((CAST(dur_sum AS DOUBLE) / CAST(tspan AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS lambda_times_W,
           FLOOR(((CAST(ldt AS DOUBLE) / CAST(tspan AS DOUBLE))
                  / (CAST(dur_sum AS DOUBLE) / CAST(tspan AS DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0 AS littles_ratio
    FROM l_num CROSS JOIN s_agg
    """,
)


# ---------------------------------------------------------------------------
# Rolling correlation of two daily series
# ---------------------------------------------------------------------------


def q_rolling_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 14-day Pearson correlation between click and purchase
    daily revenue, for every day with a full window — the DYNAMIC
    dependence read (cross_correlation gives one static number per
    lag; regimes where the series decouple show up here first).

    The day table carries both series as exact integer cents (full
    outer on day, zero-filled); all five sufficient statistics are
    INTEGER window sums over the 14-row frame, and r derives from
    them through one shared expression per row — no float ever
    accumulates across rows."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    cents = (dec_portable("value", 18, 2) * 100).cast("long")
    daily = (
        ev.groupBy(F.to_date("ts").alias("d"))
        .pivot("event_type", ["click", "purchase"])
        .agg(F.sum(cents))
        .select(
            "d",
            F.coalesce(F.col("click"), F.lit(0)).alias("x"),
            F.coalesce(F.col("purchase"), F.lit(0)).alias("y"),
        )
    )
    w = Window.orderBy("d").rowsBetween(-13, 0)
    staged = daily.select(
        "d",
        F.count("*").over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
    ).filter(F.col("n") == 14)
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    num = dd("n") * dd("sxy") - dd("sx") * dd("sy")
    den = F.sqrt(dd("n") * dd("sxx") - dd("sx") * dd("sx")) * F.sqrt(
        dd("n") * dd("syy") - dd("sy") * dd("sy")
    )
    return staged.select("d", _r6(num / den).alias("rolling_r"))


registry.register(
    "rolling_correlation",
    q_rolling_correlation,
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             SUM(CASE WHEN event_type = 'click'
                      THEN CAST(CAST(FLOOR(value * 100 + 0.5) / 100 AS DECIMAL(18,2)) * 100
                                AS BIGINT) ELSE 0 END) AS x,
             SUM(CASE WHEN event_type = 'purchase'
                      THEN CAST(CAST(FLOOR(value * 100 + 0.5) / 100 AS DECIMAL(18,2)) * 100
                                AS BIGINT) ELSE 0 END) AS y
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY 1
    ),
    staged AS (
      SELECT d,
             COUNT(*) OVER w AS n,
             SUM(x) OVER w AS sx, SUM(y) OVER w AS sy,
             SUM(x * y) OVER w AS sxy,
             SUM(x * x) OVER w AS sxx, SUM(y * y) OVER w AS syy
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT d,
           FLOOR(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     * SQRT(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
                 * 1000000.0 + 0.5) / 1000000.0 AS rolling_r
    FROM staged WHERE n = 14
    """,
)


# ---------------------------------------------------------------------------
# XmR (individuals + moving range) control chart
# ---------------------------------------------------------------------------


def q_xmr_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart individuals chart over daily revenue: natural process
    limits x̄ ± 2.66·m̄R (mean moving range) and the days that breach
    them — the SPC practitioner's default (cusum detects sustained
    shifts; XmR flags single excursions against short-term noise).

    The breach flag never touches a float: |x − x̄| > 2.66·m̄R
    cross-multiplies to |x·n·(n−1)·100 − S·(n−1)·100| >
    266·n·ΣmR — all BIGINT products (magnitudes documented ≤ ~10¹⁵
    at sf0.1). Limits themselves are reported as `_r6` doubles from
    the same exact sums."""
    ev = load_table(spark, sf_dir, "events")
    cents = (dec_portable("value", 18, 2) * 100).cast("long")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(cents).alias("x")
    )
    w = Window.orderBy("d")
    with_mr = daily.select(
        "d", "x", F.abs(F.col("x") - F.lag("x").over(w)).alias("mr")
    )
    wn = Window.partitionBy()
    staged = with_mr.select(
        "d",
        "x",
        F.sum("x").over(wn).alias("s"),
        F.count("*").over(wn).alias("n"),
        F.sum("mr").over(wn).alias("smr"),  # n-1 terms
    )
    breach = (
        F.abs(
            F.col("x") * F.col("n") * (F.col("n") - 1) * 100
            - F.col("s") * (F.col("n") - 1) * 100
        )
        > F.lit(266) * F.col("n") * F.col("smr")
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    mean = dd("s") / (dd("n") * 100.0)
    mrbar = dd("smr") / ((dd("n") - 1) * 100.0)
    return staged.agg(
        F.max("n").cast("long").alias("n_days"),
        _r6(F.max(mean)).alias("center"),
        _r6(F.max(mean - 2.66 * mrbar)).alias("lcl"),
        _r6(F.max(mean + 2.66 * mrbar)).alias("ucl"),
        F.count(F.when(breach, 1)).cast("long").alias("n_breaches"),
    )


registry.register(
    "xmr_control",
    q_xmr_control,
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             SUM(CAST(CAST(FLOOR(value * 100 + 0.5) / 100 AS DECIMAL(18,2)) * 100 AS BIGINT)) AS x
      FROM events GROUP BY 1
    ),
    with_mr AS (
      SELECT d, x, ABS(x - LAG(x) OVER (ORDER BY d)) AS mr FROM daily
    ),
    staged AS (
      SELECT d, x,
             SUM(x) OVER () AS s,
             COUNT(*) OVER () AS n,
             SUM(mr) OVER () AS smr
      FROM with_mr
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_days,
           FLOOR((CAST(MAX(s) AS DOUBLE) / (CAST(MAX(n) AS DOUBLE) * 100.0))
                 * 1000000.0 + 0.5) / 1000000.0 AS center,
           FLOOR((CAST(MAX(s) AS DOUBLE) / (CAST(MAX(n) AS DOUBLE) * 100.0)
                  - 2.66 * CAST(MAX(smr) AS DOUBLE)
                         / ((CAST(MAX(n) AS DOUBLE) - 1) * 100.0))
                 * 1000000.0 + 0.5) / 1000000.0 AS lcl,
           FLOOR((CAST(MAX(s) AS DOUBLE) / (CAST(MAX(n) AS DOUBLE) * 100.0)
                  + 2.66 * CAST(MAX(smr) AS DOUBLE)
                         / ((CAST(MAX(n) AS DOUBLE) - 1) * 100.0))
                 * 1000000.0 + 0.5) / 1000000.0 AS ucl,
           CAST(COUNT(CASE WHEN ABS(x * n * (n - 1) * 100
                                    - s * (n - 1) * 100)
                                > 266 * n * smr THEN 1 END) AS BIGINT)
             AS n_breaches
    FROM staged
    """,
)


# ---------------------------------------------------------------------------
# Holt double-exponential smoothing with dyadic integer state
# ---------------------------------------------------------------------------


def q_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (level + trend) smoothing of each nation's daily
    order revenue with α = β = 1/2 — the trend-aware upgrade of
    `ewma_smooth` (a plain EWMA lags a trending series by a constant;
    Holt's trend state removes that lag), emitting the one-step-ahead
    forecast each day.

    α = β = 1/2 makes every update a DYADIC rational, so the whole
    recurrence runs in exact integer cents with one floor-halving per
    step:  l_t = ⌊(y_t + l_{t−1} + b_{t−1})/2⌋,
           b_t = ⌊(l_t − l_{t−1} + b_{t−1})/2⌋  — Python's // floors
    and the oracle's recursive CTE uses the canonical-remainder floor,
    so both walks are bit-identical (the banded_running_balance
    pattern: a genuine cross-row recurrence is the honest
    applyInPandas tier; keys run in parallel, state stays per-group).

    Scale: the shuffle is one nation-keyed exchange; each group is
    days-sized (scale-invariant — more data fattens the daily sums,
    not the series length)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    daily = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy(
            F.col("c_nationkey").alias("nationkey"),
            F.col("o_orderdate").cast("date").alias("d"),
        )
        .agg(
            F.expr(
                "CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) / 100 AS DECIMAL(18,2))) * 100"
                " AS BIGINT)"
            ).alias("y_cents")
        )
    )

    def holt_group(pdf):
        import pandas as pd  # noqa: PLC0415 — worker-side import

        pdf = pdf.sort_values("d").reset_index(drop=True)
        lev = trend = None
        levels, trends, forecasts = [], [], []
        for y in pdf["y_cents"]:
            y = int(y)
            if lev is None:
                forecasts.append(y)
                lev, trend = y, 0
            else:
                forecasts.append(lev + trend)
                new_lev = (y + lev + trend) // 2
                trend = (new_lev - lev + trend) // 2
                lev = new_lev
            levels.append(lev)
            trends.append(trend)
        return pd.DataFrame(
            {
                "nationkey": pdf["nationkey"],
                "d": pdf["d"],
                "y_cents": pdf["y_cents"],
                "level_cents": levels,
                "trend_cents": trends,
                "forecast_cents": forecasts,
            }
        )

    return daily.groupBy("nationkey").applyInPandas(
        holt_group,
        "nationkey long, d date, y_cents long, level_cents long,"
        " trend_cents long, forecast_cents long",
    )


registry.register(
    "holt_linear",
    q_holt_linear,
    """
    WITH RECURSIVE daily AS (
      SELECT c.c_nationkey AS nationkey,
             CAST(o.o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) / 100 AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS y_cents,
             ROW_NUMBER() OVER (PARTITION BY c.c_nationkey
                                ORDER BY CAST(o.o_orderdate AS DATE))
               AS rn
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    walk(nationkey, rn, d, y_cents, lev, tr, fc) AS (
      SELECT nationkey, rn, d, y_cents, y_cents, 0, y_cents
      FROM daily WHERE rn = 1
      UNION ALL
      SELECT n.nationkey, n.rn, n.d, n.y_cents,
             (n.y_cents + w.lev + w.tr
              - ((((n.y_cents + w.lev + w.tr) % 2) + 2) % 2)) / 2,
             ((((n.y_cents + w.lev + w.tr
                 - ((((n.y_cents + w.lev + w.tr) % 2) + 2) % 2)) / 2)
               - w.lev + w.tr)
              - ((((((n.y_cents + w.lev + w.tr
                      - ((((n.y_cents + w.lev + w.tr) % 2) + 2) % 2)) / 2)
                    - w.lev + w.tr) % 2) + 2) % 2)) / 2,
             w.lev + w.tr
      FROM walk w JOIN daily n
        ON n.nationkey = w.nationkey AND n.rn = w.rn + 1
    )
    SELECT nationkey, d, y_cents,
           CAST(lev AS BIGINT) AS level_cents,
           CAST(tr AS BIGINT) AS trend_cents,
           CAST(fc AS BIGINT) AS forecast_cents
    FROM walk
    """,
)


# ---------------------------------------------------------------------------
# Classical additive seasonal decomposition (trend / weekly / remainder)
# ---------------------------------------------------------------------------


def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of daily order revenue:
    y = trend + weekly seasonal + remainder. Trend is the centered
    7-day moving average (NULL until a full window exists — the
    textbook definition, no edge fudging); the seasonal component is
    the per-weekday mean of the detrended series; the remainder is
    what's left — the series-quality triage (is the variance trend,
    calendar, or noise?) that precedes any forecasting model choice
    (`holt_linear`, `seasonal_naive_eval`).

    Exactness: trend = ⌊Σ₇/7⌋ on integer cents (positive — plain DIV);
    weekday means use the canonical-remainder floor division because
    detrended values go negative; weekday = epoch-day mod 7 (the
    seasonality_dow idiom — no session-TZ dependence). Scale: the
    daily rollup is combinable and scale-invariant (~2.4k rows at any
    SF); the unpartitioned windows run on that rollup, never the
    fact."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        F.expr(
            "CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) / 100 AS DECIMAL(18,2))) * 100"
            " AS BIGINT)"
        ).alias("y_cents")
    )
    w7 = Window.orderBy("d").rowsBetween(-3, 3)
    staged = daily.select(
        "d",
        "y_cents",
        F.when(
            F.count("*").over(w7) == 7,
            F.expr("SUM(y_cents) OVER (ORDER BY d ROWS BETWEEN 3"
                   " PRECEDING AND 3 FOLLOWING) DIV 7"),
        ).alias("trend_cents"),
        (
            F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")) % 7
        ).alias("dow"),
    ).withColumn(
        "detr", F.col("y_cents") - F.col("trend_cents")
    )
    wd = Window.partitionBy("dow")
    num = F.sum("detr").over(wd)
    cnt = F.count("detr").over(wd)
    rem = ((num % cnt) + cnt) % cnt
    out = staged.withColumn(
        "seasonal_cents",
        F.when(cnt > 0, ((num - rem) / cnt).cast("long")),
    )
    return out.select(
        "d",
        "y_cents",
        "trend_cents",
        "seasonal_cents",
        (F.col("detr") - F.col("seasonal_cents")).alias("remainder_cents"),
    )


registry.register(
    "seasonal_decompose",
    q_seasonal_decompose,
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) / 100 AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS y_cents
      FROM orders GROUP BY 1
    ),
    staged AS (
      SELECT d, y_cents,
             CASE WHEN COUNT(*) OVER (ORDER BY d ROWS BETWEEN 3
                       PRECEDING AND 3 FOLLOWING) = 7
                  THEN (SUM(y_cents) OVER (ORDER BY d ROWS BETWEEN
                        3 PRECEDING AND 3 FOLLOWING)) // 7
             END AS trend_cents,
             DATEDIFF('day', DATE '1970-01-01', d) % 7 AS dow
      FROM daily
    ),
    detr AS (
      SELECT *, y_cents - trend_cents AS dv FROM staged
    ),
    seas AS (
      SELECT *,
             SUM(dv) OVER (PARTITION BY dow) AS num,
             COUNT(dv) OVER (PARTITION BY dow) AS cnt
      FROM detr
    )
    SELECT d, y_cents, trend_cents,
           CASE WHEN cnt > 0 THEN
             (num - (((num % cnt) + cnt) % cnt)) // cnt
           END AS seasonal_cents,
           dv - CASE WHEN cnt > 0 THEN
             (num - (((num % cnt) + cnt) % cnt)) // cnt
           END AS remainder_cents
    FROM seas
    """,
)


# ---------------------------------------------------------------------------
# Pinball loss of trailing-window quantile forecasts
# ---------------------------------------------------------------------------


def q_pinball_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball (quantile) loss of the naive trailing-28-day P50/P90
    forecasts of daily revenue — the scoring rule that makes quantile
    forecasts honest (expected loss is minimized exactly by the true
    quantile), and the eval a probabilistic-forecasting pipeline runs
    next to `seasonal_naive_eval`'s point metrics.

    The forecast for day t is the exact ⌈q·28⌉-th smallest of the 28
    previous daily totals: an in-row order statistic on a
    collect_list window (28 integers sorted per row — never a global
    sort), so forecasts and losses are pure integers: loss =
    max(q·(y−f), (q−1)·(y−f)) in milli-units, summed exactly, one
    floor division for the mean. Scale: the daily rollup is
    scale-invariant; the 28-element arrays are O(1) per row."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        F.expr(
            "CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) / 100 AS DECIMAL(18,2))) * 100"
            " AS BIGINT)"
        ).alias("y_cents")
    )
    w28 = Window.orderBy("d").rowsBetween(-28, -1)
    staged = daily.select(
        "d",
        "y_cents",
        F.when(
            F.count("*").over(w28) == 28,
            F.array_sort(F.collect_list("y_cents").over(w28)),
        ).alias("hist"),
    ).filter(F.col("hist").isNotNull())
    parts = []
    for q_milli, kth in ((500, 14), (900, 26)):
        err = F.col("y_cents") - F.element_at("hist", kth)
        loss = F.greatest(
            F.lit(q_milli) * err, F.lit(q_milli - 1000) * err
        )
        parts.append(
            staged.select(loss.alias("loss")).agg(
                F.lit(q_milli).alias("q_milli"),
                F.count("*").alias("n_days"),
                F.expr("SUM(loss) DIV COUNT(*)").alias(
                    "mean_pinball_milli"
                ),
            )
        )
    return parts[0].unionAll(parts[1])


registry.register(
    "pinball_loss",
    q_pinball_loss,
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) / 100 AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS y_cents
      FROM orders GROUP BY 1
    ),
    staged AS (
      SELECT d, y_cents,
             CASE WHEN COUNT(*) OVER (ORDER BY d ROWS BETWEEN 28
                       PRECEDING AND 1 PRECEDING) = 28
                  THEN list_sort(list(y_cents) OVER (ORDER BY d ROWS
                       BETWEEN 28 PRECEDING AND 1 PRECEDING))
             END AS hist
      FROM daily
    ),
    f AS (SELECT * FROM staged WHERE hist IS NOT NULL)
    SELECT 500 AS q_milli, COUNT(*) AS n_days,
           SUM(GREATEST(500 * (y_cents - hist[14]),
                        -500 * (y_cents - hist[14]))) // COUNT(*)
             AS mean_pinball_milli
    FROM f
    UNION ALL
    SELECT 900, COUNT(*),
           SUM(GREATEST(900 * (y_cents - hist[26]),
                        -100 * (y_cents - hist[26]))) // COUNT(*)
    FROM f
    """,
)


# ---------------------------------------------------------------------------
# Periodogram probe at calendar frequencies (exact trig-table DFT)
# ---------------------------------------------------------------------------

_PERIODS = (7, 30, 91)


def _trig_rows() -> list[tuple[int, int, int, int]]:
    """Quantized trig table: ONE Python source of truth feeds both
    engines as literals, so no libm cos/sin ulp difference can reach
    a floor boundary (the chi2_features lesson applied to trig)."""
    import math

    rows = []
    for p in _PERIODS:
        for k in range(p):
            ang = 2.0 * math.pi * k / p
            rows.append(
                (
                    p,
                    k,
                    math.floor(math.cos(ang) * 1_000_000),
                    math.floor(math.sin(ang) * 1_000_000),
                )
            )
    return rows


def q_periodogram_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DFT power of mean-centered daily revenue at the three calendar
    frequencies that matter for a retail series (weekly, monthly,
    quarterly) — the spectral cross-check of `seasonal_decompose` and
    `seasonality_dow`: amplitude(p) = |Σ y'ₜ·e^{−2πi·t/p}|/n, big at
    p=7 if the weekly cycle is real.

    Exactness: cos/sin values come from a 128-row quantized trig
    table generated ONCE in Python and shipped as literals to BOTH
    engines (broadcast dim on the Spark side, VALUES on the oracle
    side) — the only way a libm-dependent function can never flip a
    floor; S and C are exact integer sums of y'·cos_micro products;
    the final amplitude is one double expression on two exact
    integers. Scale: the daily rollup is scale-invariant, the trig
    dim is O(1), the phase join broadcasts."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        F.expr(
            "CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) / 100 AS DECIMAL(18,2))) * 100"
            " AS BIGINT)"
        ).alias("y_cents")
    )
    mean_df = daily.agg(
        F.expr("SUM(y_cents) DIV COUNT(*)").alias("mu"),
        F.count("*").alias("n_days"),
    )
    trig = spark.createDataFrame(
        _trig_rows(), "p int, k int, cos_micro long, sin_micro long"
    )
    staged = (
        daily.crossJoin(F.broadcast(mean_df))
        .select(
            (F.col("y_cents") - F.col("mu")).alias("yc"),
            (
                F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
            ).alias("ed"),
            "n_days",
        )
        .crossJoin(
            F.broadcast(
                spark.createDataFrame(
                    [(p,) for p in _PERIODS], "p int"
                )
            )
        )
        .withColumn("k", F.col("ed") % F.col("p"))
        .join(F.broadcast(trig), ["p", "k"])
    )
    agg = staged.groupBy("p").agg(
        F.max("n_days").alias("n_days"),
        F.sum(F.col("yc") * F.col("cos_micro")).alias("s_cos"),
        F.sum(F.col("yc") * F.col("sin_micro")).alias("s_sin"),
    )
    amp = F.sqrt(
        F.col("s_cos").cast("double") * F.col("s_cos").cast("double")
        + F.col("s_sin").cast("double") * F.col("s_sin").cast("double")
    ) / (F.col("n_days").cast("double") * 1e6)
    return agg.select(
        F.col("p").alias("period_days"),
        "n_days",
        _r6(amp / 100.0).alias("amplitude_dollars"),
    )


def _periodogram_sql() -> str:
    values = ",\n      ".join(
        f"({p}, {k}, {c}, {s})" for p, k, c, s in _trig_rows()
    )
    return f"""
    WITH trig(p, k, cos_micro, sin_micro) AS (
      VALUES {values}
    ),
    daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) / 100 AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS y_cents
      FROM orders GROUP BY 1
    ),
    m AS (SELECT SUM(y_cents) // COUNT(*) AS mu, COUNT(*) AS n_days
          FROM daily),
    staged AS (
      SELECT t.p, d.y_cents - m.mu AS yc, m.n_days,
             t.cos_micro, t.sin_micro
      FROM daily d
      CROSS JOIN m
      JOIN trig t
        ON t.k = DATEDIFF('day', DATE '1970-01-01', d.d) % t.p
    ),
    agg AS (
      SELECT p, MAX(n_days) AS n_days,
             SUM(yc * cos_micro) AS s_cos,
             SUM(yc * sin_micro) AS s_sin
      FROM staged GROUP BY 1
    )
    SELECT p AS period_days, CAST(n_days AS BIGINT) AS n_days,
           FLOOR(SQRT(CAST(s_cos AS DOUBLE) * CAST(s_cos AS DOUBLE)
                      + CAST(s_sin AS DOUBLE) * CAST(s_sin AS DOUBLE))
                 / (CAST(n_days AS DOUBLE) * 1e6) / 100.0
                 * 1000000.0 + 0.5) / 1000000.0 AS amplitude_dollars
    FROM agg
    """


registry.register(
    "periodogram_probe", q_periodogram_probe, _periodogram_sql()
)


# ---------------------------------------------------------------------------
# Hierarchical forecast reconciliation (top-down largest remainder)
# ---------------------------------------------------------------------------


def q_forecast_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-down forecast reconciliation: take each REGION's next-
    period naive forecast (its last 28 days of order revenue), then
    allocate it to member NATIONS proportionally to their historical
    share using exact largest-remainder integer quotas — so the
    nation forecasts sum EXACTLY to the region forecast (the coherence
    property ad-hoc per-nation forecasts lack, and the reason
    hierarchical pipelines reconcile). Reports both the allocated
    (top-down) and the nation's own bottom-up number, whose gap is
    the reconciliation adjustment.

    Exactness: shares and quotas are the largest-remainder integer
    method (floor quotas + ranked remainders — the mixture_weights
    machinery); everything is integer cents. Shapes: two bounded
    rollups (region, nation), one broadcast join, one remainder-rank
    window over ≤ 25 rows."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"),
        F.col("n_regionkey").alias("regionkey"),
    )
    maxd = orders.agg(F.max(F.col("o_orderdate").cast("date")).alias("mx"))
    fact = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), "c_nationkey")
        .crossJoin(F.broadcast(maxd))
        .filter(
            F.col("o_orderdate").cast("date")
            >= F.date_sub(F.col("mx"), 27)
        )
        .select(
            "regionkey",
            "c_nationkey",
            F.expr(
                "CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) / 100 AS DECIMAL(18,2)) * 100"
                " AS BIGINT)"
            ).alias("cents"),
        )
    )
    by_nation = fact.groupBy("regionkey", "c_nationkey").agg(
        F.sum("cents").alias("bottom_up_cents")
    )
    by_region = by_nation.groupBy("regionkey").agg(
        F.sum("bottom_up_cents").alias("region_cents")
    )
    # NOTE: with proportions defined on the same 28-day history the
    # quota is the share of the region total itself — the allocation
    # identity test (top_down == bottom_up) is the reconciliation
    # fixpoint; the machinery below is the general largest-remainder
    # form that holds for ANY region-level forecast.
    short = by_region.select(
        "regionkey",
        (
            F.col("region_cents")
        ).alias("target_cents"),
    )
    alloc = by_nation.join(F.broadcast(short), "regionkey").select(
        "regionkey",
        "c_nationkey",
        "bottom_up_cents",
        "target_cents",
    )
    tot = alloc.groupBy("regionkey").agg(
        F.sum("bottom_up_cents").alias("hist_cents"),
    )
    staged2 = alloc.join(F.broadcast(tot), "regionkey").select(
        "regionkey",
        "c_nationkey",
        "bottom_up_cents",
        "target_cents",
        # cents totals reach ~1e11 at sf0.1, so the share product
        # needs 128-bit headroom: DECIMAL(18,0)^2 -> DECIMAL(37,0)
        # is exact and cannot overflow; quotient/remainder fit BIGINT.
        F.expr(
            "CAST((CAST(bottom_up_cents AS DECIMAL(18,0))"
            " * CAST(target_cents AS DECIMAL(18,0)))"
            " DIV hist_cents AS BIGINT)"
        ).alias("quota_floor"),
        F.expr(
            "CAST((CAST(bottom_up_cents AS DECIMAL(18,0))"
            " * CAST(target_cents AS DECIMAL(18,0)))"
            " % hist_cents AS BIGINT)"
        ).alias("rem"),
        "hist_cents",
    )
    wr = Window.partitionBy("regionkey").orderBy(
        F.col("rem").desc(), F.col("c_nationkey").asc()
    )
    short_by_region = staged2.groupBy("regionkey").agg(
        (
            F.max("target_cents") - F.sum("quota_floor")
        ).alias("shortfall")
    )
    return (
        staged2.withColumn("rk", F.row_number().over(wr))
        .join(F.broadcast(short_by_region), "regionkey")
        .select(
            "regionkey",
            "c_nationkey",
            "bottom_up_cents",
            (
                F.col("quota_floor")
                + F.when(F.col("rk") <= F.col("shortfall"), 1).otherwise(0)
            ).alias("top_down_cents"),
        )
    )


registry.register(
    "forecast_reconciliation",
    q_forecast_reconciliation,
    """
    WITH maxd AS (
      SELECT MAX(CAST(o_orderdate AS DATE)) AS mx FROM orders
    ),
    fact AS (
      SELECT n.n_regionkey AS regionkey, c.c_nationkey,
             CAST(CAST(FLOOR(o.o_totalprice * 100 + 0.5) / 100 AS DECIMAL(18,2)) * 100
                  AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      CROSS JOIN maxd
      WHERE CAST(o.o_orderdate AS DATE) >= mx - INTERVAL 27 DAY
    ),
    by_nation AS (
      SELECT regionkey, c_nationkey, SUM(cents) AS bottom_up_cents
      FROM fact GROUP BY 1, 2
    ),
    tot AS (
      SELECT regionkey, SUM(bottom_up_cents) AS hist_cents,
             SUM(bottom_up_cents) AS target_cents
      FROM by_nation GROUP BY 1
    ),
    staged2 AS (
      SELECT b.regionkey, b.c_nationkey, b.bottom_up_cents,
             t.target_cents,
             CAST((CAST(b.bottom_up_cents AS HUGEINT)
                   * t.target_cents) // t.hist_cents AS BIGINT)
               AS quota_floor,
             CAST((CAST(b.bottom_up_cents AS HUGEINT)
                   * t.target_cents) % t.hist_cents AS BIGINT)
               AS rem
      FROM by_nation b JOIN tot t ON b.regionkey = t.regionkey
    ),
    short AS (
      SELECT regionkey,
             MAX(target_cents) - SUM(quota_floor) AS shortfall
      FROM staged2 GROUP BY 1
    )
    SELECT s.regionkey, s.c_nationkey,
           CAST(s.bottom_up_cents AS BIGINT) AS bottom_up_cents,
           CAST(s.quota_floor
                + CASE WHEN ROW_NUMBER() OVER (
                         PARTITION BY s.regionkey
                         ORDER BY s.rem DESC, s.c_nationkey ASC)
                       <= sh.shortfall THEN 1 ELSE 0 END
             AS BIGINT) AS top_down_cents
    FROM staged2 s JOIN short sh ON s.regionkey = sh.regionkey
    """,
)


# ---------------------------------------------------------------------------
# STL-style seasonality/trend strength scores
# ---------------------------------------------------------------------------


def q_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyndman's strength-of-components scores on the
    `seasonal_decompose` output: F_seasonal = max(0, 1 −
    Var(remainder)/Var(seasonal + remainder)) and the trend analog —
    the one-number answers to "is this series worth a seasonal
    model?" that feed model selection (near 0 → `holt_linear`
    suffices; near 1 → the weekly cycle must be modeled).

    Exactness: components are already exact integer cents, so each
    variance is a DECIMAL(38)-exact centered moment (the CUPED
    discipline) and the scores are single double expressions on
    exact inputs. Shapes: one pass over the days-sized decomposition
    table."""
    dec = q_seasonal_decompose(spark, sf_dir).filter(
        F.col("remainder_cents").isNotNull()
    )
    d38 = "decimal(38,0)"
    staged = dec.select(
        F.col("remainder_cents").alias("r"),
        (F.col("seasonal_cents") + F.col("remainder_cents")).alias("sr"),
        (F.col("trend_cents") + F.col("remainder_cents")).alias("tr"),
    )
    agg = staged.agg(
        F.count("*").cast(d38).alias("n"),
        F.sum(F.col("r").cast(d38)).alias("s_r"),
        F.sum((F.col("r") * F.col("r")).cast(d38)).alias("ss_r"),
        F.sum(F.col("sr").cast(d38)).alias("s_sr"),
        F.sum((F.col("sr") * F.col("sr")).cast(d38)).alias("ss_sr"),
        F.sum(F.col("tr").cast(d38)).alias("s_tr"),
        F.sum((F.col("tr") * F.col("tr")).cast(d38)).alias("ss_tr"),
    )
    var_r = (F.col("n") * F.col("ss_r") - F.col("s_r") * F.col("s_r")).cast(
        "double"
    )
    var_sr = (
        F.col("n") * F.col("ss_sr") - F.col("s_sr") * F.col("s_sr")
    ).cast("double")
    var_tr = (
        F.col("n") * F.col("ss_tr") - F.col("s_tr") * F.col("s_tr")
    ).cast("double")
    return agg.select(
        F.col("n").cast("long").alias("n_days"),
        _r6(F.greatest(F.lit(0.0), F.lit(1.0) - var_r / var_sr)).alias(
            "f_seasonal"
        ),
        _r6(F.greatest(F.lit(0.0), F.lit(1.0) - var_r / var_tr)).alias(
            "f_trend"
        ),
    )


def _strength_sql() -> str:
    from airflow_baseball_spark import registry as _reg

    # raw=True: compose from the registered text; the composed
    # query's own HUGEINT outputs are cast by oracle_sql() like any other
    decompose_sql = _reg.oracle_sql(raw=True)["seasonal_decompose"]
    return f"""
    WITH dec AS ({decompose_sql}),
    staged AS (
      SELECT remainder_cents AS r,
             seasonal_cents + remainder_cents AS sr,
             trend_cents + remainder_cents AS tr
      FROM dec WHERE remainder_cents IS NOT NULL
    ),
    agg AS (
      SELECT COUNT(*) AS n,
             SUM(r) AS s_r, SUM(r * r) AS ss_r,
             SUM(sr) AS s_sr, SUM(sr * sr) AS ss_sr,
             SUM(tr) AS s_tr, SUM(tr * tr) AS ss_tr
      FROM staged
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           FLOOR(GREATEST(0.0,
             1.0 - CAST(n * ss_r - s_r * s_r AS DOUBLE)
                   / CAST(n * ss_sr - s_sr * s_sr AS DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS f_seasonal,
           FLOOR(GREATEST(0.0,
             1.0 - CAST(n * ss_r - s_r * s_r AS DOUBLE)
                   / CAST(n * ss_tr - s_tr * s_tr AS DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS f_trend
    FROM agg
    """


registry.register(
    "seasonality_strength", q_seasonality_strength, _strength_sql()
)


# ---------------------------------------------------------------------------
# Single-changepoint detection by exact SSE minimization
# ---------------------------------------------------------------------------


def q_sse_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single changepoint of daily revenue by exact two-segment
    SSE minimization — binary segmentation's first (and load-bearing)
    step, the offline complement of `cusum_changepoint` (CUSUM streams
    and thresholds; this one answers "where exactly, and how much
    does the split explain?"). One cumulative scan gives every
    candidate's two-segment fit: SSE_left + SSE_right with
    SSE = Σy² − (Σy)²/n per side.

    Exactness: cumulative Σy and Σy² are DECIMAL(38)-exact; the
    per-candidate gain comparison is a double on exact inputs with
    the day as tiebreak (a 1-ulp tie cannot flip the argmax because
    equal-gain candidates resolve by date on both engines). Shapes:
    windows over the days-sized rollup only."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        F.expr(
            "CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) / 100 AS DECIMAL(18,2))) * 100"
            " AS BIGINT)"
        ).alias("y")
    )
    d38 = "decimal(38,0)"
    wc = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "d",
        F.sum(F.col("y").cast(d38)).over(wc).alias("cs"),
        F.sum((F.col("y") * F.col("y")).cast(d38)).over(wc).alias("css"),
        F.row_number().over(Window.orderBy("d")).alias("k"),
    )
    tot = daily.agg(
        F.count("*").alias("n"),
        F.sum(F.col("y").cast(d38)).alias("ts"),
        F.sum((F.col("y") * F.col("y")).cast(d38)).alias("tss"),
    )
    cand = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("k") < F.col("n"))
        .select(
            "d",
            "k",
            "n",
            (
                F.col("css").cast("double")
                - F.col("cs").cast("double")
                * F.col("cs").cast("double")
                / F.col("k").cast("double")
                + (F.col("tss") - F.col("css")).cast("double")
                - (F.col("ts") - F.col("cs")).cast("double")
                * (F.col("ts") - F.col("cs")).cast("double")
                / (F.col("n") - F.col("k")).cast("double")
            ).alias("sse2"),
            (
                F.col("tss").cast("double")
                - F.col("ts").cast("double")
                * F.col("ts").cast("double")
                / F.col("n").cast("double")
            ).alias("sse1"),
        )
    )
    wbest = Window.orderBy(F.col("sse2").asc(), F.col("d").asc())
    return (
        cand.withColumn("rk", F.row_number().over(wbest))
        .filter(F.col("rk") == 1)
        .select(
            F.col("d").alias("changepoint_date"),
            F.col("k").alias("n_before"),
            (F.col("n") - F.col("k")).alias("n_after"),
            _r6((F.lit(1.0) - F.col("sse2") / F.col("sse1"))).alias(
                "variance_explained"
            ),
        )
    )


registry.register(
    "sse_changepoint",
    q_sse_changepoint,
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) / 100 AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    cum AS (
      SELECT d,
             SUM(y) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cs,
             SUM(y * y) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
                              PRECEDING AND CURRENT ROW) AS css,
             ROW_NUMBER() OVER (ORDER BY d) AS k
      FROM daily
    ),
    tot AS (
      SELECT COUNT(*) AS n, SUM(y) AS ts, SUM(y * y) AS tss
      FROM daily
    ),
    cand AS (
      SELECT c.d, c.k, t.n,
             CAST(c.css AS DOUBLE)
               - CAST(c.cs AS DOUBLE) * CAST(c.cs AS DOUBLE)
                 / CAST(c.k AS DOUBLE)
               + CAST(t.tss - c.css AS DOUBLE)
               - CAST(t.ts - c.cs AS DOUBLE)
                 * CAST(t.ts - c.cs AS DOUBLE)
                 / CAST(t.n - c.k AS DOUBLE) AS sse2,
             CAST(t.tss AS DOUBLE)
               - CAST(t.ts AS DOUBLE) * CAST(t.ts AS DOUBLE)
                 / CAST(t.n AS DOUBLE) AS sse1
      FROM cum c CROSS JOIN tot t
      WHERE c.k < t.n
    )
    SELECT d AS changepoint_date,
           CAST(k AS BIGINT) AS n_before,
           CAST(n - k AS BIGINT) AS n_after,
           FLOOR((1.0 - sse2 / sse1) * 1000000.0 + 0.5) / 1000000.0
             AS variance_explained
    FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY sse2 ASC, d ASC) AS rk
      FROM cand
    ) WHERE rk = 1
    """,
)


# ---------------------------------------------------------------------------
# Holt–Winters additive seasonal smoothing (dyadic-exact, m = 7)
# ---------------------------------------------------------------------------


def q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt–Winters additive triple smoothing of each nation's daily
    order revenue: level + trend + a period-7 seasonal state, with
    α = β = γ = 1/2 — `holt_linear`'s seasonal upgrade (a trend-only
    model lags a weekly cycle by half its amplitude; the seasonal
    state removes that) — emitting the one-step-ahead forecast
    l + b + s_{t−7} each day.

    Dyadic α/β/γ keep every update an exact floor-halved integer:
      l_t = ⌊(y_t − s_{t−7} + l_{t−1} + b_{t−1})/2⌋
      b_t = ⌊(l_t − l_{t−1} + b_{t−1})/2⌋
      s_t = ⌊(y_t − l_t + s_{t−7})/2⌋
    with the seasonal ring seeded to zeros (the first week reduces to
    plain Holt — a deterministic init both engines share). The
    seasonal lag is over OBSERVED rows (documented; the daily rollup
    is near-dense so row-lag ≈ calendar-lag). The oracle walks the
    same recurrence in a recursive CTE carrying the 7-slot seasonal
    ring as a LIST, with canonical-remainder floors (DuckDB's // is
    truncating) — bit-identical to the Python walk.

    Scale: the `holt_linear` shape — one nation-keyed exchange, each
    group days-sized (scale-invariant), honest applyInPandas for a
    genuine cross-row recurrence."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    daily = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy(
            F.col("c_nationkey").alias("nationkey"),
            F.col("o_orderdate").cast("date").alias("d"),
        )
        .agg(
            F.expr(
                "CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) / 100 AS DECIMAL(18,2))) * 100"
                " AS BIGINT)"
            ).alias("y_cents")
        )
    )

    def hw_group(pdf):
        import pandas as pd  # noqa: PLC0415 — worker-side import

        pdf = pdf.sort_values("d").reset_index(drop=True)
        ring = [0] * 7
        lev = tr = None
        levels, trends, seasons, forecasts = [], [], [], []
        for y in pdf["y_cents"]:
            y = int(y)
            s_old = ring[0]
            if lev is None:
                forecasts.append(y)
                lev, tr = y, 0
            else:
                forecasts.append(lev + tr + s_old)
                new_lev = (y - s_old + lev + tr) // 2
                tr = (new_lev - lev + tr) // 2
                lev = new_lev
            s_new = (y - lev + s_old) // 2
            ring = ring[1:] + [s_new]
            levels.append(lev)
            trends.append(tr)
            seasons.append(s_new)
        return pd.DataFrame(
            {
                "nationkey": pdf["nationkey"],
                "d": pdf["d"],
                "y_cents": pdf["y_cents"],
                "level_cents": levels,
                "trend_cents": trends,
                "season_cents": seasons,
                "forecast_cents": forecasts,
            }
        )

    return daily.groupBy("nationkey").applyInPandas(
        hw_group,
        "nationkey long, d date, y_cents long, level_cents long,"
        " trend_cents long, season_cents long, forecast_cents long",
    )


def _hw_floor2(e: str) -> str:
    """Floor-halve SQL: subtract the canonical (non-negative) mod-2
    remainder, then // 2 is exact on the even result."""
    return f"(({e}) - (((({e}) % 2) + 2) % 2)) // 2"


registry.register(
    "holt_winters",
    q_holt_winters,
    f"""
    WITH RECURSIVE daily AS (
      SELECT c.c_nationkey AS nationkey,
             CAST(o.o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) / 100 AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS y_cents,
             ROW_NUMBER() OVER (PARTITION BY c.c_nationkey
                                ORDER BY CAST(o.o_orderdate AS DATE))
               AS rn
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    walk(nationkey, rn, d, y_cents, lev, tr, s_new, fc, ring) AS (
      SELECT nationkey, rn, d, y_cents, y_cents, 0,
             {_hw_floor2("y_cents - y_cents + 0")},
             y_cents,
             [0, 0, 0, 0, 0, 0, CAST({_hw_floor2("y_cents - y_cents + 0")}
                                     AS BIGINT)]
      FROM daily WHERE rn = 1
      UNION ALL
      SELECT n.nationkey, n.rn, n.d, n.y_cents,
             x2.lev_new, x3.tr_new, x3.s_nxt,
             w.lev + w.tr + x1.s_old,
             list_append(w.ring[2:7], CAST(x3.s_nxt AS BIGINT))
      FROM walk w
      JOIN daily n
        ON n.nationkey = w.nationkey AND n.rn = w.rn + 1,
      LATERAL (SELECT w.ring[1] AS s_old) x1,
      LATERAL (SELECT {_hw_floor2("n.y_cents - x1.s_old + w.lev + w.tr")}
                 AS lev_new) x2,
      LATERAL (SELECT {_hw_floor2("x2.lev_new - w.lev + w.tr")} AS tr_new,
                      {_hw_floor2("n.y_cents - x2.lev_new + x1.s_old")}
                 AS s_nxt) x3
    )
    SELECT nationkey, d, y_cents,
           CAST(lev AS BIGINT) AS level_cents,
           CAST(tr AS BIGINT) AS trend_cents,
           CAST(s_new AS BIGINT) AS season_cents,
           CAST(fc AS BIGINT) AS forecast_cents
    FROM walk
    """,
)


# ---------------------------------------------------------------------------
# Page-Hinkley drift detector (window form, no recursion)
# ---------------------------------------------------------------------------


def q_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley mean-drift detector over each nation's daily order
    revenue: PH_t = Σ_{i≤t}(x_i − x̄_i), where x̄_i is the running mean
    THROUGH i, and the alarm fires when PH_t − min_{s≤t} PH_s exceeds
    λ — the sequential changepoint monitor a feed-health pipeline
    runs daily (`cusum_changepoint` needs a known reference mean;
    Page-Hinkley estimates it as it goes, which is the production
    shape where no one hands you the baseline).

    The textbook recurrence is sequential, but PH unrolls into pure
    window algebra: each term x_i − S_i/i is exact-integer-derived
    (one subtraction, one division), quantized to BIGINT micro-cents
    BEFORE the cumulative sum, so the running PH, its running min,
    and the drift statistic are all exact integer window sums — no
    applyInPandas, no recursion, engine-exact by construction.

    Scale: one shuffle on nationkey; three window passes share the
    same sort. λ = $5,000 (5·10¹¹ micro-cents), documented literal."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    daily = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy(
            F.col("c_nationkey").alias("nationkey"),
            F.col("o_orderdate").cast("date").alias("d"),
        )
        .agg(
            F.expr(
                "CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) / 100 AS DECIMAL(18,2))) * 100"
                " AS BIGINT)"
            ).alias("x_cents")
        )
    )
    wcum = (
        Window.partitionBy("nationkey")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    t = daily.select(
        "nationkey",
        "d",
        "x_cents",
        F.sum("x_cents").over(wcum).alias("s_run"),
        F.count("*").over(wcum).alias("t_run"),
    )
    term = F.col("x_cents").cast("double") - F.col("s_run").cast(
        "double"
    ) / F.col("t_run").cast("double")
    t2 = t.select(
        "nationkey",
        "d",
        "x_cents",
        F.floor(term * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("term_micro"),
    )
    ph = F.sum("term_micro").over(wcum).alias("ph_micro")
    t3 = t2.select("nationkey", "d", "x_cents", ph)
    drift = F.col("ph_micro") - F.min("ph_micro").over(wcum)
    return t3.select(
        "nationkey",
        "d",
        "x_cents",
        "ph_micro",
        drift.alias("drift_micro"),
        (drift > F.lit(500000000000)).alias("alarm"),
    )


registry.register(
    "page_hinkley",
    q_page_hinkley,
    """
    WITH daily AS (
      SELECT c.c_nationkey AS nationkey,
             CAST(o.o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) / 100 AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS x_cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    run AS (
      SELECT nationkey, d, x_cents,
             SUM(x_cents) OVER w AS s_run,
             COUNT(*) OVER w AS t_run
      FROM daily
      WINDOW w AS (PARTITION BY nationkey ORDER BY d
                   ROWS UNBOUNDED PRECEDING)
    ),
    quant AS (
      SELECT nationkey, d, x_cents,
             CAST(FLOOR((CAST(x_cents AS DOUBLE)
                         - CAST(s_run AS DOUBLE) / CAST(t_run AS DOUBLE))
                        * 1000000.0 + 0.5) AS BIGINT) AS term_micro
      FROM run
    ),
    phw AS (
      SELECT nationkey, d, x_cents,
             SUM(term_micro) OVER w AS ph_micro
      FROM quant
      WINDOW w AS (PARTITION BY nationkey ORDER BY d
                   ROWS UNBOUNDED PRECEDING)
    )
    SELECT nationkey, d, x_cents, ph_micro,
           ph_micro - MIN(ph_micro) OVER w AS drift_micro,
           (ph_micro - MIN(ph_micro) OVER w) > 500000000000 AS alarm
    FROM phw
    WINDOW w AS (PARTITION BY nationkey ORDER BY d
                 ROWS UNBOUNDED PRECEDING)
    """,
)


# ---------------------------------------------------------------------------
# Croston's method for intermittent demand (dyadic-exact)
# ---------------------------------------------------------------------------


def q_croston_intermittent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's intermittent-demand forecast over the first 10 demand
    dates of each sampled part-supplier lane (partkey ≡ 0 mod 37 —
    the house probe-slice idiom; 10 steps is the documented eval
    window, keeping the state walk depth scale-invariant): demand
    sizes and inter-arrival intervals are smoothed SEPARATELY —
    `holt_linear` on a sparse series chases zeros to a meaningless
    average, which is exactly the failure Croston exists to fix for
    slow-moving SKUs.

    Dyadic α = 1/2 keeps both states exact floor-halved integers:
      z_i = ⌊(q_i + z_{i−1})/2⌋   (size),  z_1 = q_1
      p_i = ⌊(g_i + p_{i−1})/2⌋   (interval), p_1 = 1 (documented init)
    with g_i = days since the previous demand. The demand rate z/p
    and its Syntetos-Boylan correction (1−α/2)·z/p = 0.75·z/p are the
    only float ops, `_r6`-bounded. All operands are non-negative so
    truncating and flooring division agree — DuckDB's `//` is exact
    here without the canonical-remainder guard holt_winters needs.

    Because the eval window is DEPTH-BOUNDED, the recurrence unrolls
    into 10 chained column stages over per-lane (q, gap) arrays —
    pure whole-stage codegen, zero Python. (The first cut ran the
    walk in applyInPandas: ~2k one-row-at-a-time Arrow groups cost
    42 s at sf0.1 vs <1 s unrolled — per-GROUP overhead, not data,
    the canonical grouped-map anti-pattern for tiny groups. An
    UNBOUNDED walk would still take the Pandas tier, but batched by
    lane ranges, not by lane.)

    Scale: one lane-keyed aggregation collects the ≤10-element
    arrays; everything after is in-row."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey") % 37 == 0
    )
    demand = (
        li.groupBy(
            "l_partkey",
            "l_suppkey",
            F.col("l_shipdate").cast("date").alias("d"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("q")
        )
    )
    wlane = Window.partitionBy("l_partkey", "l_suppkey").orderBy("d")
    first10 = (
        demand.withColumn("rn", F.row_number().over(wlane))
        .filter(F.col("rn") <= 10)
        .withColumn(
            "gap",
            F.coalesce(
                F.datediff(F.col("d"), F.lag("d").over(wlane)), F.lit(0)
            ),
        )
    )
    lanes = first10.groupBy("l_partkey", "l_suppkey").agg(
        F.sort_array(
            F.collect_list(F.struct("rn", "d", "q", "gap"))
        ).alias("a")
    )
    # unroll the 10-step walk as chained columns (linear tree growth,
    # the with_hilbert discipline)
    lanes = lanes.withColumn(
        "z1", F.element_at("a", 1)["q"]
    ).withColumn("p1", F.lit(1).cast("long"))
    for k in range(2, 11):
        lanes = lanes.withColumn(
            f"z{k}",
            F.when(
                F.size("a") >= k,
                F.expr(f"(element_at(a, {k}).q + z{k - 1}) DIV 2"),
            ),
        ).withColumn(
            f"p{k}",
            F.when(
                F.size("a") >= k,
                F.expr(
                    f"(CAST(element_at(a, {k}).gap AS BIGINT)"
                    f" + p{k - 1}) DIV 2"
                ),
            ),
        )
    zs = F.array(*[F.col(f"z{k}") for k in range(1, 11)])
    ps = F.array(*[F.col(f"p{k}") for k in range(1, 11)])
    exploded = lanes.select(
        "l_partkey",
        "l_suppkey",
        zs.alias("zs"),
        ps.alias("ps"),
        F.posexplode("a").alias("idx0", "e"),
    )
    walked = exploded.select(
        "l_partkey",
        "l_suppkey",
        F.col("e")["rn"].alias("rn"),
        F.col("e")["d"].alias("d"),
        F.col("e")["q"].alias("q"),
        F.col("e")["gap"].alias("gap"),
        F.element_at("zs", F.col("idx0") + 1).alias("z_size"),
        F.element_at("ps", F.col("idx0") + 1).alias("p_interval"),
    )
    rate = F.col("z_size").cast("double") / F.col("p_interval").cast(
        "double"
    )
    return walked.select(
        "l_partkey",
        "l_suppkey",
        "rn",
        "d",
        "q",
        "gap",
        F.col("z_size").cast("long").alias("z_size"),
        F.col("p_interval").cast("long").alias("p_interval"),
        _r6(rate).alias("demand_rate"),
        _r6(F.lit(0.75) * rate).alias("sba_rate"),
    )


registry.register(
    "croston_intermittent",
    q_croston_intermittent,
    """
    WITH RECURSIVE demand AS (
      SELECT l_partkey, l_suppkey, CAST(l_shipdate AS DATE) AS d,
             SUM(CAST(l_quantity AS BIGINT)) AS q
      FROM lineitem WHERE l_partkey % 37 = 0
      GROUP BY 1, 2, 3
    ),
    seq AS (
      SELECT l_partkey, l_suppkey, d, q,
             ROW_NUMBER() OVER (PARTITION BY l_partkey, l_suppkey
                                ORDER BY d) AS rn,
             COALESCE(datediff('day',
                 LAG(d) OVER (PARTITION BY l_partkey, l_suppkey
                              ORDER BY d), d), 0) AS gap
      FROM demand
    ),
    first10 AS (SELECT * FROM seq WHERE rn <= 10),
    walk(l_partkey, l_suppkey, rn, d, q, gap, z_size, p_interval) AS (
      SELECT l_partkey, l_suppkey, rn, d, q, gap, q, CAST(1 AS BIGINT)
      FROM first10 WHERE rn = 1
      UNION ALL
      SELECT n.l_partkey, n.l_suppkey, n.rn, n.d, n.q, n.gap,
             (n.q + w.z_size) // 2,
             (n.gap + w.p_interval) // 2
      FROM walk w
      JOIN first10 n
        ON n.l_partkey = w.l_partkey AND n.l_suppkey = w.l_suppkey
       AND n.rn = w.rn + 1
    )
    SELECT l_partkey, l_suppkey, CAST(rn AS INT) AS rn, d, q,
           CAST(gap AS INT) AS gap, z_size, p_interval,
           FLOOR(CAST(z_size AS DOUBLE) / CAST(p_interval AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS demand_rate,
           FLOOR(0.75 * (CAST(z_size AS DOUBLE)
                         / CAST(p_interval AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS sba_rate
    FROM walk
    """,
)


# ---------------------------------------------------------------------------
# Deterministic RANSAC trend fit (exact integer inlier algebra)
# ---------------------------------------------------------------------------


def q_ransac_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANSAC line fit of global daily order revenue vs time: 33
    trials, each drawing a 2-day sample via md5 ranking (the house
    identity-coin idiom — deterministic on both engines, uniform
    enough for RANSAC), scoring the candidate line by how many days
    fall inside an ε-band, and flagging the consensus winner —
    the robust alternative to `theil_sen_slope` when the series has
    STRUCTURAL outliers (promo spikes, backfill gaps) that even a
    median-of-slopes estimator drags toward.

    Exactness: the inlier test is cross-multiplied into pure integer
    arithmetic — |(y−y1)·Δx − (x−x1)·Δy| ≤ ε·Δx — so membership never
    touches a float; ε itself is an exact integer (20 % of mean daily
    revenue via BIGINT division). The only floats are the reported
    per-trial slopes, `_r6`-bounded. Ties on the consensus count
    break by trial id.

    Scale: the day table is date-bounded (scale-invariant); trials ×
    days is a broadcast nested loop over a dimension-sized frame; the
    fact table is touched once for the daily rollup."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("x")
    ).agg(
        F.expr(
            "CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) / 100 AS DECIMAL(18,2))) * 100"
            " AS BIGINT)"
        ).alias("y")
    )
    tot = daily.agg(
        F.sum("y").alias("s_tot"), F.count("*").alias("n_days")
    ).select(F.expr("s_tot DIV (5 * n_days)").alias("eps"))
    trials = spark.range(0, 33).select(F.col("id").alias("trial"))
    hashed = trials.crossJoin(daily).select(
        "trial",
        "x",
        "y",
        F.md5(
            F.concat_ws("#", F.col("trial").cast("string"),
                        F.col("x").cast("string"))
        ).alias("h"),
    )
    wt = Window.partitionBy("trial").orderBy("h", "x")
    samp = (
        hashed.withColumn("rn", F.row_number().over(wt))
        .filter(F.col("rn") <= 2)
        .groupBy("trial")
        .agg(
            F.min("x").alias("x1"),
            F.expr("min_by(y, x)").alias("y1"),
            F.max("x").alias("x2"),
            F.expr("max_by(y, x)").alias("y2"),
        )
    )
    scored = (
        daily.crossJoin(F.broadcast(samp))
        .crossJoin(F.broadcast(tot))
        .filter(
            F.abs(
                (F.col("y") - F.col("y1")) * (F.col("x2") - F.col("x1"))
                - (F.col("x") - F.col("x1")) * (F.col("y2") - F.col("y1"))
            )
            <= F.col("eps") * (F.col("x2") - F.col("x1"))
        )
        .groupBy("trial", "x1", "y1", "x2", "y2")
        .agg(F.count("*").alias("n_inliers"))
    )
    wbest = Window.orderBy(F.desc("n_inliers"), F.asc("trial"))
    return scored.withColumn("rk", F.row_number().over(wbest)).select(
        "trial",
        "x1",
        "x2",
        F.col("n_inliers").cast("long").alias("n_inliers"),
        _r6(
            (F.col("y2") - F.col("y1")).cast("double")
            / (F.col("x2") - F.col("x1")).cast("double")
        ).alias("slope_cents_per_day"),
        (F.col("rk") == 1).alias("is_best"),
    )


registry.register(
    "ransac_trend",
    q_ransac_trend,
    """
    WITH daily AS (
      SELECT datediff('day', DATE '1970-01-01',
                      CAST(o_orderdate AS DATE)) AS x,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) / 100 AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    tot AS (
      SELECT SUM(y) // (5 * COUNT(*)) AS eps FROM daily
    ),
    trials AS (SELECT UNNEST(range(0, 33)) AS trial),
    hashed AS (
      SELECT t.trial, d.x, d.y,
             md5(CONCAT(CAST(t.trial AS VARCHAR), '#',
                        CAST(d.x AS VARCHAR))) AS h
      FROM trials t CROSS JOIN daily d
    ),
    samp AS (
      SELECT trial,
             MIN(x) AS x1, MIN_BY(y, x) AS y1,
             MAX(x) AS x2, MAX_BY(y, x) AS y2
      FROM (
        SELECT trial, x, y,
               ROW_NUMBER() OVER (PARTITION BY trial ORDER BY h, x) AS rn
        FROM hashed
      ) WHERE rn <= 2
      GROUP BY 1
    ),
    scored AS (
      SELECT s.trial, s.x1, s.y1, s.x2, s.y2, COUNT(*) AS n_inliers
      FROM daily d CROSS JOIN samp s CROSS JOIN tot
      WHERE ABS((d.y - s.y1) * (s.x2 - s.x1)
                - (d.x - s.x1) * (s.y2 - s.y1))
            <= tot.eps * (s.x2 - s.x1)
      GROUP BY 1, 2, 3, 4, 5
    )
    SELECT trial, x1, x2, CAST(n_inliers AS BIGINT) AS n_inliers,
           FLOOR(CAST(y2 - y1 AS DOUBLE) / CAST(x2 - x1 AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS slope_cents_per_day,
           ROW_NUMBER() OVER (ORDER BY n_inliers DESC, trial ASC) = 1
             AS is_best
    FROM scored
    """,
)


# ---------------------------------------------------------------------------
# Multiwindow SLO error-budget burn alerting
# ---------------------------------------------------------------------------


def q_slo_burn_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiwindow error-budget burn rate over the event stream (SRE
    workbook alerting): per hour, the 1 h and 6 h error rates as
    multiples of a 1 % SLO budget, paging only when BOTH windows burn
    hot (14.4× / 6×) — the standard two-window guard that a single
    `rolling_anomaly` threshold cannot express (short window alone is
    noisy, long window alone pages hours late).

    Exactness: counts per epoch-hour are exact; the 6 h lookback is a
    RANGE frame on the integer hour key (calendar-correct even with
    gap hours — a ROWS frame would silently stretch across gaps);
    burn rates are single divisions on exact sums, `_r6`-bounded, and
    the page decision compares those same exact-derived doubles to
    literal thresholds.

    Scale: one combinable rollup to hour grain, one ordered window on
    a date-bounded table."""
    ev = load_table(spark, sf_dir, "events")
    hour = F.expr("unix_micros(ts) DIV 3600000000")
    hourly = ev.groupBy(hour.alias("h")).agg(
        F.count("*").alias("tot"),
        F.sum(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        ).alias("err"),
    )
    w6 = Window.orderBy("h").rangeBetween(-5, 0)
    t = hourly.select(
        "h",
        "tot",
        "err",
        F.sum("tot").over(w6).alias("tot6"),
        F.sum("err").over(w6).alias("err6"),
    )
    burn1 = (
        F.col("err").cast("double") / F.col("tot").cast("double")
    ) / F.lit(0.01)
    burn6 = (
        F.col("err6").cast("double") / F.col("tot6").cast("double")
    ) / F.lit(0.01)
    return t.select(
        "h",
        F.col("tot").cast("long").alias("tot_1h"),
        F.col("err").cast("long").alias("err_1h"),
        F.col("tot6").cast("long").alias("tot_6h"),
        F.col("err6").cast("long").alias("err_6h"),
        _r6(burn1).alias("burn_1h"),
        _r6(burn6).alias("burn_6h"),
        ((burn1 > F.lit(14.4)) & (burn6 > F.lit(6.0))).alias("page_alert"),
    )


registry.register(
    "slo_burn_alert",
    q_slo_burn_alert,
    """
    WITH hourly AS (
      SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
             COUNT(*) AS tot,
             SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS err
      FROM events GROUP BY 1
    ),
    t AS (
      SELECT h, tot, err,
             SUM(tot) OVER w AS tot6, SUM(err) OVER w AS err6
      FROM hourly
      WINDOW w AS (ORDER BY h RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)
    )
    SELECT h, CAST(tot AS BIGINT) AS tot_1h, CAST(err AS BIGINT) AS err_1h,
           CAST(tot6 AS BIGINT) AS tot_6h, CAST(err6 AS BIGINT) AS err_6h,
           FLOOR((CAST(err AS DOUBLE) / CAST(tot AS DOUBLE)) / 0.01
                 * 1000000.0 + 0.5) / 1000000.0 AS burn_1h,
           FLOOR((CAST(err6 AS DOUBLE) / CAST(tot6 AS DOUBLE)) / 0.01
                 * 1000000.0 + 0.5) / 1000000.0 AS burn_6h,
           ((CAST(err AS DOUBLE) / CAST(tot AS DOUBLE)) / 0.01 > 14.4
            AND (CAST(err6 AS DOUBLE) / CAST(tot6 AS DOUBLE)) / 0.01 > 6.0)
             AS page_alert
    FROM t
    """,
)


# ---------------------------------------------------------------------------
# Viterbi 2-state HMM regime decode (exact integer max-sum DP)
# ---------------------------------------------------------------------------

import math as _math

# log-probabilities as micro-nat BIGINT literals, floored once in
# Python so both engines share byte-identical integer weights
_VIT_LT_SAME = _math.floor(_math.log(0.9) * 1e6)  # stay in regime
_VIT_LT_SWITCH = _math.floor(_math.log(0.1) * 1e6)  # switch regime
_VIT_LE_MATCH = _math.floor(_math.log(0.8) * 1e6)  # obs agrees w/ state
_VIT_LE_MISS = _math.floor(_math.log(0.2) * 1e6)  # obs disagrees


def q_viterbi_regime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi decode of a 2-state (low/high) revenue-regime HMM over
    each nation's daily series — the MAP state PATH, which is what
    `hysteresis_episodes`' threshold rule approximates without a
    model: Viterbi trades isolated threshold crossings against the
    switch penalty globally, so one noisy day cannot break a regime.

    Observations are "day above the nation's median" (lower-median
    rank rule — exact). All weights are micro-nat INTEGER literals
    (floored once in Python, shared by both engines), so the forward
    max-sum DP and the backpointer walk are pure integer arithmetic
    with a fixed tie rule (prefer state 0) — bit-exact by
    construction, no floats anywhere in the decode.

    Scale: one nation-keyed exchange; each group is days-sized, the
    honest applyInPandas tier for a genuine forward-backward
    recurrence (the oracle replays it as TWO recursive CTEs: forward
    scores+backpointers, then the backward path walk)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    daily = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy(
            F.col("c_nationkey").alias("nationkey"),
            F.col("o_orderdate").cast("date").alias("d"),
        )
        .agg(
            F.expr(
                "CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) / 100 AS DECIMAL(18,2))) * 100"
                " AS BIGINT)"
            ).alias("y_cents")
        )
    )
    wr = Window.partitionBy("nationkey").orderBy("y_cents", "d")
    wn = Window.partitionBy("nationkey")
    med = (
        daily.withColumn("vrn", F.row_number().over(wr))
        .withColumn("ng", F.count("*").over(wn))
        .filter(F.col("vrn") == F.expr("(ng + 1) DIV 2"))
        .select("nationkey", F.col("y_cents").alias("med"))
    )
    obs_df = daily.join(F.broadcast(med), "nationkey").select(
        "nationkey",
        "d",
        "y_cents",
        (F.col("y_cents") > F.col("med")).cast("int").alias("obs"),
    )

    lt_same, lt_switch = _VIT_LT_SAME, _VIT_LT_SWITCH
    le_match, le_miss = _VIT_LE_MATCH, _VIT_LE_MISS

    def viterbi_group(pdf):
        import pandas as pd  # noqa: PLC0415 — worker-side import

        pdf = pdf.sort_values("d").reset_index(drop=True)
        obs = [int(o) for o in pdf["obs"]]

        def le(state, o):
            return le_match if state == o else le_miss

        v0 = le(0, obs[0])
        v1 = le(1, obs[0])
        bps = [(0, 0)]
        for o in obs[1:]:
            c00, c10 = v0 + lt_same, v1 + lt_switch
            c01, c11 = v0 + lt_switch, v1 + lt_same
            bp0 = 0 if c00 >= c10 else 1
            bp1 = 0 if c01 >= c11 else 1
            v0, v1 = max(c00, c10) + le(0, o), max(c01, c11) + le(1, o)
            bps.append((bp0, bp1))
        state = 0 if v0 >= v1 else 1
        path = [state]
        for t in range(len(obs) - 1, 0, -1):
            state = bps[t][state]
            path.append(state)
        path.reverse()
        out = pdf[["nationkey", "d", "y_cents", "obs"]].copy()
        out["regime"] = path
        return out

    # r11: AQE coalesced the KB-scale nation exchange to ONE
    # partition, so all 25 per-nation decodes (plus their Arrow
    # conversions) ran serially in a single Python worker (2.25 s
    # single-task stage). An explicit nationkey hash repartition
    # SATISFIES applyInPandas' ClusteredDistribution requirement, so
    # no further exchange is planned and the groups decode in
    # parallel. Scale-adaptive: partition count follows the session's
    # default parallelism, and the decode itself is unchanged.
    par = spark.sparkContext.defaultParallelism
    return (
        obs_df.repartition(par, "nationkey")
        .groupBy("nationkey")
        .applyInPandas(
            viterbi_group,
            "nationkey long, d date, y_cents long, obs int, regime int",
        )
    )


def _viterbi_sql() -> str:
    lt_same, lt_switch = _VIT_LT_SAME, _VIT_LT_SWITCH
    le_match, le_miss = _VIT_LE_MATCH, _VIT_LE_MISS
    le0 = f"(CASE WHEN {{o}} = 0 THEN {le_match} ELSE {le_miss} END)"
    le1 = f"(CASE WHEN {{o}} = 1 THEN {le_match} ELSE {le_miss} END)"
    # The forward pass CARRIES its backpointer trail as a list (the
    # holt_winters ring idiom): a second recursive CTE that joined the
    # forward CTE directly would re-evaluate the whole forward
    # recursion once per backward step (measured minutes, quadratic);
    # walking a materialized per-nation list is linear.
    return f"""
    WITH RECURSIVE daily AS MATERIALIZED (
      SELECT c.c_nationkey AS nationkey,
             CAST(o.o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) / 100 AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS y_cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    med AS MATERIALIZED (
      SELECT nationkey, y_cents AS med FROM (
        SELECT nationkey, y_cents,
               ROW_NUMBER() OVER (PARTITION BY nationkey
                                  ORDER BY y_cents, d) AS vrn,
               COUNT(*) OVER (PARTITION BY nationkey) AS ng
        FROM daily
      ) WHERE vrn = (ng + 1) // 2
    ),
    seq AS MATERIALIZED (
      SELECT dy.nationkey, dy.d, dy.y_cents,
             CASE WHEN dy.y_cents > m.med THEN 1 ELSE 0 END AS obs,
             ROW_NUMBER() OVER (PARTITION BY dy.nationkey
                                ORDER BY dy.d) AS rn,
             COUNT(*) OVER (PARTITION BY dy.nationkey) AS n_rows
      FROM daily dy JOIN med m ON dy.nationkey = m.nationkey
    ),
    fwd(nationkey, rn, n_rows, v0, v1, bps) AS (
      SELECT nationkey, rn, n_rows,
             CAST({le0.format(o="obs")} AS BIGINT),
             CAST({le1.format(o="obs")} AS BIGINT),
             [0]
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT n.nationkey, n.rn, n.n_rows,
             GREATEST(w.v0 + {lt_same}, w.v1 + {lt_switch})
               + {le0.format(o="n.obs")},
             GREATEST(w.v0 + {lt_switch}, w.v1 + {lt_same})
               + {le1.format(o="n.obs")},
             list_append(w.bps,
               (CASE WHEN w.v0 + {lt_same} >= w.v1 + {lt_switch}
                     THEN 0 ELSE 1 END) * 2
               + (CASE WHEN w.v0 + {lt_switch} >= w.v1 + {lt_same}
                       THEN 0 ELSE 1 END))
      FROM fwd w JOIN seq n
        ON n.nationkey = w.nationkey AND n.rn = w.rn + 1
    ),
    final AS MATERIALIZED (
      SELECT nationkey, n_rows, v0, v1, bps
      FROM fwd WHERE rn = n_rows
    ),
    back(nationkey, rn, state) AS (
      SELECT nationkey, n_rows,
             CASE WHEN v0 >= v1 THEN 0 ELSE 1 END
      FROM final
      UNION ALL
      SELECT b.nationkey, b.rn - 1,
             CASE WHEN b.state = 0 THEN f.bps[b.rn] // 2
                  ELSE f.bps[b.rn] % 2 END
      FROM back b JOIN final f ON f.nationkey = b.nationkey
      WHERE b.rn > 1
    )
    SELECT s.nationkey, s.d, s.y_cents, CAST(s.obs AS INT) AS obs,
           CAST(b.state AS INT) AS regime
    FROM seq s JOIN back b
      ON s.nationkey = b.nationkey AND s.rn = b.rn
    """


registry.register("viterbi_regime", q_viterbi_regime, _viterbi_sql())


# ---------------------------------------------------------------------------
# Banded dynamic-time-warping distance between paired nation series
# ---------------------------------------------------------------------------

_DTW_BAND = 3  # Sakoe-Chiba half-width
_DTW_INF = 4 * 10**15  # unreachable-cell sentinel, far above any real path


def q_dtw_band_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded (Sakoe-Chiba, |i−j| ≤ 3) dynamic-time-warping distance
    between the weekly revenue series of nation pairs (2k, 2k+1) —
    the alignment-tolerant series distance `cross_correlation` only
    approximates with integer lags: DTW absorbs local speed-ups (a
    promo landing a week later in one market) that shift-by-constant
    comparison punishes.

    Exactness: both series are gap-filled integer weekly cents on the
    shared global week spine; every DP cell is exact integer
    arithmetic (|a−b| costs, LEAST over three predecessors, an
    integer INF sentinel for out-of-band cells), so the distance is
    a BIGINT — the normalized per-step column is the single division.

    Scale: series are calendar-bounded (not fact-sized); the walk is
    a genuine sequential recurrence → honest applyInPandas per pair,
    with the oracle replaying it as a recursive CTE that carries the
    7-cell band as a list and unrolls the within-row left-to-right
    dependency as chained LATERALs."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    wk = F.expr(
        "datediff(CAST(o_orderdate AS DATE), DATE '1970-01-05') DIV 7"
    )
    weekly = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("nationkey"), wk.alias("wk"))
        .agg(
            F.expr(
                "CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) / 100 AS DECIMAL(18,2))) * 100"
                " AS BIGINT)"
            ).alias("y")
        )
    )
    spine = weekly.select("wk").distinct()
    nations = weekly.select("nationkey").distinct()
    dense = (
        spine.crossJoin(F.broadcast(nations))
        .join(weekly, ["nationkey", "wk"], "left")
        .select(
            "nationkey", "wk", F.coalesce("y", F.lit(0)).alias("y")
        )
    )
    a_side = dense.filter(F.col("nationkey") % 2 == 0).select(
        (F.col("nationkey") / 2).cast("long").alias("pair_id"),
        "wk",
        F.col("y").alias("a"),
    )
    b_side = dense.filter(F.col("nationkey") % 2 == 1).select(
        (F.col("nationkey") / 2).cast("long").alias("pair_id"),
        "wk",
        F.col("y").alias("b"),
    )
    series = a_side.join(b_side, ["pair_id", "wk"])

    band, inf = _DTW_BAND, _DTW_INF

    def dtw_group(pdf):
        import pandas as pd  # noqa: PLC0415 — worker-side import

        pdf = pdf.sort_values("wk").reset_index(drop=True)
        a = [int(v) for v in pdf["a"]]
        b = [int(v) for v in pdf["b"]]
        n = len(a)
        width = 2 * band + 1
        prev = [inf] * width
        prev[band] = 0  # virtual D(0,0)
        for i in range(1, n + 1):
            cur = [inf] * width
            for k in range(width):
                j = i - band + k
                if j < 1 or j > n:
                    continue
                up = prev[k + 1] if k + 1 < width else inf
                diag = prev[k]
                left = cur[k - 1] if k >= 1 else inf
                best = min(up, diag, left)
                if best >= inf:
                    continue
                cur[k] = min(best + abs(a[i - 1] - b[j - 1]), inf)
            prev = cur
        d = prev[band]
        return pd.DataFrame(
            {
                "pair_id": [int(pdf["pair_id"].iloc[0])],
                "n_weeks": [n],
                "dtw_cents": [d],
            }
        )

    walked = series.groupBy("pair_id").applyInPandas(
        dtw_group, "pair_id long, n_weeks long, dtw_cents long"
    )
    return walked.select(
        "pair_id",
        "n_weeks",
        "dtw_cents",
        _r6(
            F.col("dtw_cents").cast("double")
            / F.col("n_weeks").cast("double")
        ).alias("dtw_per_step"),
    )


def _dtw_sql() -> str:
    band, inf = _DTW_BAND, _DTW_INF
    width = 2 * band + 1
    # blist[k] = b at j = i - band - 1 + k, built from lag/lead
    bcols = []
    for k in range(1, width + 1):
        off = k - band - 1
        if off < 0:
            bcols.append(f"LAG(b, {-off}) OVER w")
        elif off == 0:
            bcols.append("b")
        else:
            bcols.append(f"LEAD(b, {off}) OVER w")
    blist = "[" + ", ".join(bcols) + "]"
    # chained LATERALs: c1..c7 with the left-neighbor dependency
    laterals = []
    for k in range(1, width + 1):
        up = f"w.d[{k + 1}]" if k + 1 <= width else str(inf)
        diag = f"w.d[{k}]"
        left = f"x{k - 1}.c{k - 1}" if k >= 2 else str(inf)
        cell = f"""CASE
            WHEN n.rn - {band + 1} + {k} < 1
              OR n.rn - {band + 1} + {k} > n.n_weeks
              OR n.blist[{k}] IS NULL THEN {inf}
            WHEN LEAST({up}, {diag}, {left}) >= {inf} THEN {inf}
            ELSE LEAST(LEAST({up}, {diag}, {left})
                       + ABS(n.a - n.blist[{k}]), {inf})
          END AS c{k}"""
        laterals.append(f"LATERAL (SELECT {cell}) x{k}")
    lateral_sql = ",\n      ".join(laterals)
    dlist = "[" + ", ".join(f"x{k}.c{k}" for k in range(1, width + 1)) + "]"
    init = "[" + ", ".join(
        "0" if k == band + 1 else str(inf) for k in range(1, width + 1)
    ) + "]"
    return f"""
    WITH RECURSIVE weekly AS MATERIALIZED (
      SELECT c.c_nationkey AS nationkey,
             datediff('day', DATE '1970-01-05',
                      CAST(o.o_orderdate AS DATE)) // 7 AS wk,
             CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) / 100 AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    spine AS (SELECT DISTINCT wk FROM weekly),
    nations AS (SELECT DISTINCT nationkey FROM weekly),
    dense AS (
      SELECT n.nationkey, s.wk, COALESCE(w.y, 0) AS y
      FROM spine s CROSS JOIN nations n
      LEFT JOIN weekly w
        ON w.nationkey = n.nationkey AND w.wk = s.wk
    ),
    series AS MATERIALIZED (
      SELECT a.pair_id, a.wk, a.a, b.b
      FROM (SELECT nationkey // 2 AS pair_id, wk, y AS a
            FROM dense WHERE nationkey % 2 = 0) a
      JOIN (SELECT nationkey // 2 AS pair_id, wk, y AS b
            FROM dense WHERE nationkey % 2 = 1) b
        ON a.pair_id = b.pair_id AND a.wk = b.wk
    ),
    seq AS MATERIALIZED (
      SELECT pair_id, a,
             ROW_NUMBER() OVER w AS rn,
             COUNT(*) OVER (PARTITION BY pair_id) AS n_weeks,
             {blist} AS blist
      FROM series
      WINDOW w AS (PARTITION BY pair_id ORDER BY wk)
    ),
    walk(pair_id, rn, n_weeks, d) AS (
      SELECT pair_id, 0, n_weeks, {init}
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT n.pair_id, n.rn, n.n_weeks, {dlist}
      FROM walk w
      JOIN seq n ON n.pair_id = w.pair_id AND n.rn = w.rn + 1,
      {lateral_sql}
    )
    SELECT pair_id, CAST(n_weeks AS BIGINT) AS n_weeks,
           CAST(d[{band + 1}] AS BIGINT) AS dtw_cents,
           FLOOR(CAST(d[{band + 1}] AS DOUBLE)
                 / CAST(n_weeks AS DOUBLE) * 1000000.0 + 0.5)
             / 1000000.0 AS dtw_per_step
    FROM walk WHERE rn = n_weeks
    """


registry.register("dtw_band_distance", q_dtw_band_distance, _dtw_sql())


# ---------------------------------------------------------------------------
# Walk-forward backtest: expanding-mean vs seasonal-naive
# ---------------------------------------------------------------------------


def q_walk_forward_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward (expanding-window) backtest of two monthly revenue
    forecasters — expanding mean of all prior months vs seasonal
    naive (same month last year) — scored out-of-sample on every
    month that has both: the honest protocol for picking a
    forecaster (`seasonal_naive_eval` scores ONE method; a model
    CHOICE needs both under the same walk, and in-sample fit is the
    classic leak this protocol exists to prevent).

    Exactness: monthly cents are exact; the expanding mean is an
    exact integer floor division of prefix sums (never a float
    average); both absolute-percentage errors quantize to micro
    BEFORE any aggregation. Scale: one month-grain rollup (calendar-
    bounded), two window passes sharing one sort."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.expr(
            "(YEAR(CAST(o_orderdate AS DATE)) * 12"
            " + MONTH(CAST(o_orderdate AS DATE)) - 1)"
        ).alias("m")
    ).agg(
        F.expr(
            "CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) / 100 AS DECIMAL(18,2))) * 100"
            " AS BIGINT)"
        ).alias("y")
    )
    w_m = Window.orderBy("m")
    t = monthly.select(
        "m",
        "y",
        F.expr(
            "CAST(SUM(y) OVER (ORDER BY m"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) DIV"
            " COUNT(y) OVER (ORDER BY m"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
            " AS BIGINT)"
        ).alias("fc_mean"),
        F.when(
            F.lag("m", 12).over(w_m) == F.col("m") - 12,
            F.lag("y", 12).over(w_m),
        ).alias("fc_snaive"),
    ).filter(F.col("fc_mean").isNotNull() & F.col("fc_snaive").isNotNull())
    ape = lambda fc: F.floor(  # noqa: E731
        F.abs(F.col("y") - fc).cast("double")
        / F.col("y").cast("double")
        * F.lit(1.0e6)
        + F.lit(0.5)
    ).cast("long")
    return t.select(
        "m",
        "y",
        "fc_mean",
        "fc_snaive",
        _r6(ape(F.col("fc_mean")).cast("double") / F.lit(1.0e6)).alias(
            "ape_mean"
        ),
        _r6(
            ape(F.col("fc_snaive")).cast("double") / F.lit(1.0e6)
        ).alias("ape_snaive"),
        (ape(F.col("fc_snaive")) < ape(F.col("fc_mean"))).alias(
            "snaive_wins"
        ),
    )


registry.register(
    "walk_forward_backtest",
    q_walk_forward_backtest,
    """
    WITH monthly AS (
      SELECT (YEAR(CAST(o_orderdate AS DATE)) * 12
              + MONTH(CAST(o_orderdate AS DATE)) - 1) AS m,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) / 100 AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    t AS (
      SELECT m, y,
             CAST(SUM(y) OVER wp // COUNT(y) OVER wp AS BIGINT)
               AS fc_mean,
             CASE WHEN LAG(m, 12) OVER wm = m - 12
                  THEN LAG(y, 12) OVER wm END AS fc_snaive
      FROM monthly
      WINDOW wp AS (ORDER BY m
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             wm AS (ORDER BY m)
    )
    SELECT m, y, fc_mean, fc_snaive,
           FLOOR(CAST(ABS(y - fc_mean) AS DOUBLE) / CAST(y AS DOUBLE)
                 * 1.0e6 + 0.5) / 1.0e6 AS ape_mean,
           FLOOR(CAST(ABS(y - fc_snaive) AS DOUBLE) / CAST(y AS DOUBLE)
                 * 1.0e6 + 0.5) / 1.0e6 AS ape_snaive,
           CAST(FLOOR(CAST(ABS(y - fc_snaive) AS DOUBLE)
                      / CAST(y AS DOUBLE) * 1.0e6 + 0.5) AS BIGINT)
           < CAST(FLOOR(CAST(ABS(y - fc_mean) AS DOUBLE)
                        / CAST(y AS DOUBLE) * 1.0e6 + 0.5) AS BIGINT)
             AS snaive_wins
    FROM t
    WHERE fc_mean IS NOT NULL AND fc_snaive IS NOT NULL
    """,
)


# ---------------------------------------------------------------------------
# Matrix-profile-lite motif discovery (exact L1 window distances)
# ---------------------------------------------------------------------------


def q_motif_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix-profile-lite over the global weekly revenue series:
    for every 4-week window, the L1 distance to its nearest
    NON-OVERLAPPING other window (exclusion zone |i−j| < 4) and that
    neighbor's position — the motif/discord primitive: the smallest
    profile values are repeated shapes (motifs: recurring demand
    patterns), the largest are discords (`rolling_anomaly` flags
    point outliers; a discord is a whole anomalous WEEK-SHAPE).

    Exactness: windows are 4 exact integer cents pulled by LEAD over
    one sort; distances are integer L1 sums; the argmin tie-breaks on
    the smaller neighbor index — pure integer ordering end to end.
    The motif flag marks the 3 smallest profile values (rank rule).

    Scale: the window table is calendar-bounded, so the all-pairs
    self-join is bounded by (weeks)², independent of fact-table size
    — the O(n²) is on the summary, never the data; at higher
    resolutions you would band the join on |i−j| like
    dtw_band_distance."""
    orders = load_table(spark, sf_dir, "orders")
    wk = F.expr(
        "datediff(CAST(o_orderdate AS DATE), DATE '1970-01-05') DIV 7"
    )
    weekly = orders.groupBy(wk.alias("wk")).agg(
        F.expr(
            "CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) / 100 AS DECIMAL(18,2))) * 100"
            " AS BIGINT)"
        ).alias("y")
    )
    w = Window.orderBy("wk")
    wins = (
        weekly.select(
            F.row_number().over(w).alias("i"),
            "wk",
            F.array(
                F.col("y"),
                F.lead("y", 1).over(w),
                F.lead("y", 2).over(w),
                F.lead("y", 3).over(w),
            ).alias("win"),
        )
        .filter(~F.exists("win", lambda x: x.isNull()))
        .localCheckpoint()
    )
    a = wins.select(
        F.col("i").alias("ia"), F.col("wk").alias("wk_a"),
        F.col("win").alias("wa"),
    )
    b = wins.select(F.col("i").alias("ib"), F.col("win").alias("wb"))
    dist = F.aggregate(
        F.zip_with("wa", "wb", lambda x, y: F.abs(x - y)),
        F.lit(0).cast("long"),
        lambda acc, e: acc + e,
    )
    pairs = a.join(b, F.abs(F.col("ia") - F.col("ib")) >= 4).select(
        "ia", "wk_a", "ib", dist.alias("d")
    )
    wmin = Window.partitionBy("ia").orderBy(
        F.col("d").asc(), F.col("ib").asc()
    )
    prof = (
        pairs.withColumn("rk", F.row_number().over(wmin))
        .filter(F.col("rk") == 1)
        .select("ia", "wk_a", F.col("ib").alias("nn_i"), F.col("d").alias("mp_dist"))
    )
    wrank = Window.orderBy(F.col("mp_dist").asc(), F.col("ia").asc())
    return prof.select(
        F.col("ia").alias("i"),
        F.col("wk_a").alias("wk"),
        "nn_i",
        "mp_dist",
        (F.row_number().over(wrank) <= 3).alias("is_motif"),
    )


registry.register(
    "motif_discovery",
    q_motif_discovery,
    """
    WITH weekly AS (
      SELECT datediff('day', DATE '1970-01-05',
                      CAST(o_orderdate AS DATE)) // 7 AS wk,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) / 100 AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    wins AS (
      SELECT i, wk, win FROM (
        SELECT ROW_NUMBER() OVER (ORDER BY wk) AS i, wk,
               [y, LEAD(y, 1) OVER (ORDER BY wk),
                LEAD(y, 2) OVER (ORDER BY wk),
                LEAD(y, 3) OVER (ORDER BY wk)] AS win
        FROM weekly
      ) WHERE NOT EXISTS (SELECT 1 FROM UNNEST(win) AS t(e)
                          WHERE e IS NULL)
    ),
    pairs AS (
      SELECT a.i AS ia, a.wk AS wk_a, b.i AS ib,
             list_sum(list_transform(list_zip(a.win, b.win),
               z -> ABS(z[1] - z[2]))) AS d
      FROM wins a JOIN wins b ON ABS(a.i - b.i) >= 4
    ),
    prof AS (
      SELECT ia, wk_a, ib AS nn_i, d AS mp_dist FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY ia
                                     ORDER BY d ASC, ib ASC) AS rk
        FROM pairs
      ) WHERE rk = 1
    )
    SELECT ia AS i, wk_a AS wk, nn_i, mp_dist,
           ROW_NUMBER() OVER (ORDER BY mp_dist ASC, ia ASC) <= 3
             AS is_motif
    FROM prof
    """,
)


# ---------------------------------------------------------------------------
# Sample autocorrelation function (lags 1..7)
# ---------------------------------------------------------------------------


def q_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample ACF of the daily-revenue series at lags 1..7 — the
    diagnostic that decides AR order / weekly structure before any
    forecasting model (seasonality_dow says WHICH day; the ACF says
    HOW MUCH memory the series has).

    Exactness: with x integer daily cents, n·x_t − S is an exact
    integer, so every cross term (n·x_t − S)(n·x_{t+k} − S) and the
    lag-0 denominator are exact DECIMAL(38,0) sums (the products
    reach ~1e20 — past BIGINT, inside decimal/hugeint); r_k is ONE
    double division of two exact integers (identical nearest-double
    conversions on both engines), then _r6. Lags come from one
    in-row explode joined back on the integer day key — the series
    table is days-bounded, so every step is small; the only
    fact-scale work is the daily aggregate."""
    o = load_table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
    daily = o.groupBy(day.alias("d")).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("x")
    )
    tot = daily.agg(
        F.count("*").alias("n"), F.sum("x").alias("s")
    )
    centered = daily.crossJoin(F.broadcast(tot)).select(
        "d",
        (
            F.col("n").cast("decimal(38,0)") * F.col("x")
            - F.col("s").cast("decimal(38,0)")
        ).alias("c"),
        "n",
    )
    lagged = centered.select(
        F.col("d").alias("d2"), F.col("c").alias("c2")
    )
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("k"))
    pairs = centered.crossJoin(F.broadcast(lags)).join(
        lagged, F.col("d2") == F.col("d") + F.col("k")
    )
    num = pairs.groupBy("k").agg(
        F.sum((F.col("c") * F.col("c2")).cast("decimal(38,0)")).alias("num"),
        F.count("*").alias("n_pairs"),
    )
    den = centered.agg(
        F.sum((F.col("c") * F.col("c")).cast("decimal(38,0)")).alias("den")
    )
    return (
        num.crossJoin(F.broadcast(den))
        .select(
            F.col("k").cast("long").alias("lag"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            round6_portable(
                F.col("num").cast("double") / F.col("den").cast("double")
            ).alias("acf"),
        )
    )


registry.register(
    "acf_lags",
    q_acf_lags,
    """
    WITH daily AS (
      SELECT epoch_us(o_orderdate) // 86400000000 AS d,
             SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS x
      FROM orders GROUP BY 1
    ),
    tot AS (SELECT COUNT(*) AS n, SUM(x) AS s FROM daily),
    centered AS (
      SELECT d, CAST(t.n AS HUGEINT) * x - t.s AS c
      FROM daily CROSS JOIN tot t
    ),
    pairs AS (
      SELECT k.k, a.c AS c, b.c AS c2
      FROM centered a
      CROSS JOIN (SELECT UNNEST(generate_series(1, 7)) AS k) k
      JOIN centered b ON b.d = a.d + k.k
    ),
    num AS (
      SELECT k, SUM(c * c2) AS num, COUNT(*) AS n_pairs
      FROM pairs GROUP BY k
    ),
    den AS (SELECT SUM(c * c) AS den FROM centered)
    SELECT CAST(k AS BIGINT) AS lag,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           FLOOR((CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS acf
    FROM num CROSS JOIN den
    """,
)


# ---------------------------------------------------------------------------
# Ljung-Box portmanteau test (companion to acf_lags)
# ---------------------------------------------------------------------------


def q_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box Q over the first 7 daily-revenue autocorrelations —
    the is-this-white-noise gate run before trusting any model
    residuals: Q = n(n+2)·Σ r_k²/(n−k).

    Exactness: r_k re-uses acf_lags' exact-integer construction
    (DECIMAL(38,0) cross sums, one double division each); each
    r_k²/(n−k) term quantizes to PICO-units BEFORE the 7-term sum
    (quantize-before-sum), and Q is one multiplication of exact
    integers-turned-doubles. Everything past the daily aggregate is
    days-bounded."""
    o = load_table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
    daily = o.groupBy(day.alias("d")).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("x")
    )
    tot = daily.agg(F.count("*").alias("n"), F.sum("x").alias("s"))
    centered = daily.crossJoin(F.broadcast(tot)).select(
        "d",
        (
            F.col("n").cast("decimal(38,0)") * F.col("x")
            - F.col("s").cast("decimal(38,0)")
        ).alias("c"),
        "n",
    )
    lagged = centered.select(F.col("d").alias("d2"), F.col("c").alias("c2"))
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("k"))
    num = (
        centered.crossJoin(F.broadcast(lags))
        .join(lagged, F.col("d2") == F.col("d") + F.col("k"))
        .groupBy("k", "n")
        .agg(F.sum((F.col("c") * F.col("c2")).cast("decimal(38,0)")).alias("num"))
    )
    den = centered.agg(
        F.sum((F.col("c") * F.col("c")).cast("decimal(38,0)")).alias("den")
    )
    r = F.col("num").cast("double") / F.col("den").cast("double")
    term_p = F.floor(
        r * r / (F.col("n") - F.col("k")).cast("double") * F.lit(1e12)
    ).cast("long")
    acc = (
        num.crossJoin(F.broadcast(den))
        .select("n", term_p.alias("tp"))
        .groupBy("n")
        .agg(F.sum("tp").alias("sum_p"))
    )
    q = (
        F.col("n").cast("double")
        * (F.col("n").cast("double") + 2.0)
        * (F.col("sum_p").cast("double") / F.lit(1e12))
    )
    return acc.select(
        F.col("n").cast("long").alias("n_days"),
        F.lit(7).cast("long").alias("n_lags"),
        round6_portable(q).alias("ljung_box_q"),
    )


registry.register(
    "ljung_box",
    q_ljung_box,
    """
    WITH daily AS (
      SELECT epoch_us(o_orderdate) // 86400000000 AS d,
             SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS x
      FROM orders GROUP BY 1
    ),
    tot AS (SELECT COUNT(*) AS n, SUM(x) AS s FROM daily),
    centered AS (
      SELECT d, CAST(t.n AS HUGEINT) * x - t.s AS c, t.n
      FROM daily CROSS JOIN tot t
    ),
    num AS (
      SELECT k.k, a.n, SUM(a.c * b.c) AS num
      FROM centered a
      CROSS JOIN (SELECT UNNEST(generate_series(1, 7)) AS k) k
      JOIN centered b ON b.d = a.d + k.k
      GROUP BY 1, 2
    ),
    den AS (SELECT SUM(c * c) AS den FROM centered),
    acc AS (
      SELECT n,
             SUM(CAST(FLOOR((CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
                            * (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
                            / CAST(n - k AS DOUBLE) * 1e12) AS BIGINT))
               AS sum_p
      FROM num CROSS JOIN den GROUP BY 1
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(7 AS BIGINT) AS n_lags,
           FLOOR((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0)
                  * (CAST(sum_p AS DOUBLE) / 1e12))
                 * 1000000.0 + 0.5) / 1000000.0 AS ljung_box_q
    FROM acc
    """,
)


# ---------------------------------------------------------------------------
# RSI (relative strength index) over the daily revenue series
# ---------------------------------------------------------------------------


def q_rsi_indicator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day RSI of daily order revenue, summarized per year: days
    overbought (RSI>70), days oversold (RSI<30), and the mean RSI --
    the momentum oscillator in every trading/ops dashboard (here:
    'is revenue momentum running hot or cold this year'). Cutler's
    RSI (simple 14-day sums), not Wilder's -- Wilder's smoothing is
    a sequential recurrence; the simple form is a windowed closed
    form, the same tier distinction as `holt_linear` documents.

    Exactness: daily revenue is floor-cents quantized per row before
    the daily sum; diffs/gains/losses stay BIGINT; each day's RSI =
    100*gain/(gain+loss) is one correctly-rounded division,
    micro-quantized BEFORE the per-year mean (quantize-before-sum).
    Scale: all windows run over the ~2400-row daily AGGREGATE (the
    bounded-domain exception the plan tests allow), never the
    fact."""
    o = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("pc"),
    )
    daily = o.groupBy("d").agg(F.sum("pc").cast("long").alias("cents"))
    w_lag = Window.orderBy("d")
    diffed = daily.select(
        "d",
        (F.col("cents") - F.lag("cents", 1).over(w_lag)).alias("diff"),
    ).filter(F.col("diff").isNotNull())
    gl = diffed.select(
        "d",
        F.greatest(F.col("diff"), F.lit(0)).cast("long").alias("gain"),
        F.greatest(-F.col("diff"), F.lit(0)).cast("long").alias("loss"),
    )
    w14 = Window.orderBy("d").rowsBetween(-13, 0)
    rsi_rows = gl.select(
        "d",
        F.sum("gain").over(w14).alias("g14"),
        F.sum("loss").over(w14).alias("l14"),
        F.count("*").over(w14).alias("nw"),
    ).filter(F.col("nw") == 14)
    rsi = rsi_rows.select(
        F.year("d").alias("yr"),
        F.floor(
            F.lit(100.0)
            * F.col("g14").cast("double")
            / (F.col("g14") + F.col("l14")).cast("double")
            * 1000000.0
            + F.lit(0.5)
        ).cast("long").alias("rsi_micro"),
    )
    return (
        rsi.groupBy("yr")
        .agg(
            F.count("*").alias("n_days"),
            F.sum((F.col("rsi_micro") > 70000000).cast("long"))
            .cast("long")
            .alias("days_overbought"),
            F.sum((F.col("rsi_micro") < 30000000).cast("long"))
            .cast("long")
            .alias("days_oversold"),
            _r6(
                F.sum("rsi_micro").cast("double")
                / F.count("*").cast("double")
                / 1000000.0
            ).alias("mean_rsi"),
        )
        .orderBy("yr")
    )


registry.register(
    "rsi_indicator",
    q_rsi_indicator,
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    diffed AS (
      SELECT d, cents - LAG(cents, 1) OVER (ORDER BY d) AS diff FROM daily
    ),
    gl AS (
      SELECT d,
             CAST(GREATEST(diff, 0) AS BIGINT) AS gain,
             CAST(GREATEST(-diff, 0) AS BIGINT) AS loss
      FROM diffed WHERE diff IS NOT NULL
    ),
    win AS (
      SELECT d,
             SUM(gain) OVER w AS g14,
             SUM(loss) OVER w AS l14,
             COUNT(*) OVER w AS nw
      FROM gl
      WINDOW w AS (ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    ),
    rsi AS (
      SELECT CAST(EXTRACT(year FROM d) AS INT) AS yr,
             CAST(FLOOR(100.0 * CAST(g14 AS DOUBLE)
                        / CAST(g14 + l14 AS DOUBLE)
                        * 1000000.0 + 0.5) AS BIGINT) AS rsi_micro
      FROM win WHERE nw = 14
    )
    SELECT yr, COUNT(*) AS n_days,
           CAST(SUM(CAST(rsi_micro > 70000000 AS BIGINT)) AS BIGINT)
             AS days_overbought,
           CAST(SUM(CAST(rsi_micro < 30000000 AS BIGINT)) AS BIGINT)
             AS days_oversold,
           FLOOR(CAST(SUM(rsi_micro) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                 / 1000000.0 * 1000000.0 + 0.5) / 1000000.0 AS mean_rsi
    FROM rsi GROUP BY yr ORDER BY yr
    """,
)


# ---------------------------------------------------------------------------
# Bollinger bands over the daily revenue series
# ---------------------------------------------------------------------------


def q_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger-band breakout audit per year: how many days did
    daily revenue close above mean+2sigma / below mean-2sigma of its
    trailing 20-day window, and the mean relative band width -- the
    volatility-regime readout (tight bands = calm, wide = turbulent)
    behind band-squeeze alerting.

    Exactness: the 20-day rolling sum and sum-of-squares run over
    exact BIGINT cents (sum sq as DECIMAL(38,0) -- cents^2 breaks
    BIGINT past ~sf0.3); sigma = sqrt((w*S2 - S^2)/w^2) is the
    deterministic IEEE tree over those exact values (population
    form); breach tests compare exact cents (as double) against the
    band expression -- same tree both engines. Band width is
    micro-quantized before the yearly mean. Scale: windows over the
    bounded daily aggregate only."""
    o = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("pc"),
    )
    daily = o.groupBy("d").agg(F.sum("pc").cast("long").alias("cents"))
    w20 = Window.orderBy("d").rowsBetween(-19, 0)
    rolled = daily.select(
        "d",
        "cents",
        F.sum("cents").over(w20).alias("s1"),
        F.sum(
            F.col("cents").cast("decimal(18,0)")
            * F.col("cents").cast("decimal(18,0)")
        ).over(w20).alias("s2"),
        F.count("*").over(w20).alias("nw"),
    ).filter(F.col("nw") == 20)
    wd = F.lit(20.0)
    mean_c = F.col("s1").cast("double") / wd
    sigma = F.sqrt(
        (wd * F.col("s2").cast("double")
         - F.col("s1").cast("double") * F.col("s1").cast("double"))
        / (wd * wd)
    )
    upper = mean_c + 2.0 * sigma
    lower = mean_c - 2.0 * sigma
    c_d = F.col("cents").cast("double")
    flagged = rolled.select(
        F.year("d").alias("yr"),
        (c_d > upper).cast("long").alias("up"),
        (c_d < lower).cast("long").alias("dn"),
        F.floor(
            F.lit(4.0) * sigma / mean_c * 1000000.0 + F.lit(0.5)
        ).cast("long").alias("bw_micro"),
    )
    return (
        flagged.groupBy("yr")
        .agg(
            F.count("*").alias("n_days"),
            F.sum("up").cast("long").alias("upper_breaches"),
            F.sum("dn").cast("long").alias("lower_breaches"),
            _r6(
                F.sum("bw_micro").cast("double")
                / F.count("*").cast("double")
                / 1000000.0
            ).alias("mean_rel_bandwidth"),
        )
        .orderBy("yr")
    )


registry.register(
    "bollinger_bands",
    q_bollinger_bands,
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    rolled AS (
      SELECT d, cents,
             SUM(cents) OVER w AS s1,
             -- r11: DECIMAL(38,0) operands (int128 path) -- DuckDB's
             -- DECIMAL(18)xDECIMAL(18) multiply stays int64 and
             -- overflowed at sf0.1 (the docstring's DECIMAL(38)
             -- intent now actually holds); value-identical
             SUM(CAST(cents AS DECIMAL(38,0))
                 * CAST(cents AS DECIMAL(38,0))) OVER w AS s2,
             COUNT(*) OVER w AS nw
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ),
    calc AS (
      SELECT CAST(EXTRACT(year FROM d) AS INT) AS yr, cents,
             CAST(s1 AS DOUBLE) / 20.0 AS mean_c,
             SQRT((20.0 * CAST(s2 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                  / (20.0 * 20.0)) AS sigma
      FROM rolled WHERE nw = 20
    ),
    flagged AS (
      SELECT yr,
             CAST(CAST(cents AS DOUBLE) > mean_c + 2.0 * sigma AS BIGINT)
               AS up,
             CAST(CAST(cents AS DOUBLE) < mean_c - 2.0 * sigma AS BIGINT)
               AS dn,
             CAST(FLOOR(4.0 * sigma / mean_c * 1000000.0 + 0.5) AS BIGINT)
               AS bw_micro
      FROM calc
    )
    SELECT yr, COUNT(*) AS n_days,
           CAST(SUM(up) AS BIGINT) AS upper_breaches,
           CAST(SUM(dn) AS BIGINT) AS lower_breaches,
           FLOOR(CAST(SUM(bw_micro) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                 / 1000000.0 * 1000000.0 + 0.5) / 1000000.0
             AS mean_rel_bandwidth
    FROM flagged GROUP BY yr ORDER BY yr
    """,
)


# ---------------------------------------------------------------------------
# OLS residual diagnostics: Durbin-Watson + Breusch-Pagan
# ---------------------------------------------------------------------------


def q_regression_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual diagnostics for the daily-revenue-on-time OLS trend:
    Durbin-Watson (serial correlation of residuals -- DW ~ 2 means
    none, ~0 means the trend line is missing a persistent pattern)
    and the Breusch-Pagan LM statistic (heteroscedasticity --
    does residual variance itself trend?). The two checks that
    decide whether `regression_suite`/`ols_two_factor` standard
    errors can be believed.

    Exactness: the trend fit uses exact BIGINT sufficient statistics
    (cents, epoch-day index); residuals are a deterministic IEEE
    expression per day, squared in DOLLARS and quantized to integer
    units BEFORE every sum (quantize-before-sum -- cents^2 would
    overflow and float sums would be partition-ordered), so DW's
    numerator/denominator and BP's regression of e^2 on t are ratios
    of exact BIGINTs. Lag runs over the bounded ~2400-row daily
    aggregate. BP's e^2 is additionally scaled to (millions of
    dollars)^2 before quantization so its SQUARED sums stay in BIGINT
    range (R^2 is scale-invariant up to the shared quantization grid,
    which both engines apply identically)."""
    o = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("pc"),
    )
    daily = o.groupBy("d").agg(F.sum("pc").cast("long").alias("cents"))
    daily = daily.select(
        "d",
        "cents",
        F.datediff(F.col("d"), F.lit("1992-01-01").cast("date"))
        .cast("long")
        .alias("t"),
    )
    sums = daily.agg(
        F.count("*").alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("st2"),
        F.sum("cents").cast("long").alias("sy"),
        F.sum(F.col("t") * F.col("cents")).cast("long").alias("sty"),
    )
    n = F.col("n").cast("double")
    st = F.col("st").cast("double")
    st2 = F.col("st2").cast("double")
    sy = F.col("sy").cast("double")
    sty = F.col("sty").cast("double")
    slope = (n * sty - st * sy) / (n * st2 - st * st)
    intercept = (sy - slope * st) / n
    with_resid = daily.crossJoin(
        F.broadcast(
            sums.select(
                "n", slope.alias("b"), intercept.alias("a")
            )
        )
    ).select(
        "d",
        "t",
        "n",
        (
            (F.col("cents").cast("double")
             - F.col("a")
             - F.col("b") * F.col("t").cast("double"))
            / 100.0
        ).alias("e"),
    )
    w = Window.orderBy("d")
    lagged = with_resid.select(
        "t",
        "n",
        "e",
        F.lag("e", 1).over(w).alias("e_prev"),
    )
    quant = lagged.select(
        "t",
        "n",
        F.floor(F.col("e") * F.col("e") + F.lit(0.5))
        .cast("long")
        .alias("e2"),
        F.when(
            F.col("e_prev").isNotNull(),
            F.floor(
                (F.col("e") - F.col("e_prev"))
                * (F.col("e") - F.col("e_prev"))
                + F.lit(0.5)
            ).cast("long"),
        ).alias("de2"),
        F.floor(F.col("e") * F.col("e") * 0.000001 + F.lit(0.5))
        .cast("long")
        .alias("u"),
    )
    fin = quant.agg(
        F.max("n").alias("n"),
        F.sum("e2").cast("long").alias("se2"),
        F.sum("de2").cast("long").alias("sde2"),
        F.sum("u").cast("long").alias("su"),
        F.sum(F.col("u") * F.col("u")).cast("long").alias("su2"),
        F.sum(F.col("t") * F.col("u")).cast("long").alias("stu"),
        F.sum("t").cast("long").alias("st"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("st2"),
    )
    nn = F.col("n").cast("double")
    dw = F.col("sde2").cast("double") / F.col("se2").cast("double")
    r_num = (
        nn * F.col("stu").cast("double")
        - F.col("st").cast("double") * F.col("su").cast("double")
    )
    r_den = (
        (nn * F.col("st2").cast("double")
         - F.col("st").cast("double") * F.col("st").cast("double"))
        * (nn * F.col("su2").cast("double")
           - F.col("su").cast("double") * F.col("su").cast("double"))
    )
    bp_lm = nn * (r_num * r_num / r_den)
    return fin.select(
        F.col("n").cast("long").alias("n_days"),
        _r6(dw).alias("durbin_watson"),
        _r6(F.lit(1.0) - dw / 2.0).alias("rho1_approx"),
        _r6(bp_lm).alias("breusch_pagan_lm"),
    )


registry.register(
    "regression_diagnostics",
    q_regression_diagnostics,
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(date_diff('day', DATE '1992-01-01',
                            CAST(o_orderdate AS DATE)) AS BIGINT) AS t,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2
    ),
    sums AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(t) AS BIGINT) AS st,
             CAST(SUM(t * t) AS BIGINT) AS st2,
             CAST(SUM(cents) AS BIGINT) AS sy,
             CAST(SUM(t * cents) AS BIGINT) AS sty
      FROM daily
    ),
    fit AS (
      SELECT n,
             (CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
              - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(st2 AS DOUBLE)
                - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) AS b,
             st, sy
      FROM sums
    ),
    fit2 AS (
      SELECT n, b,
             (CAST(sy AS DOUBLE) - b * CAST(st AS DOUBLE))
               / CAST(n AS DOUBLE) AS a
      FROM fit
    ),
    resid AS (
      SELECT d.d, d.t, f.n,
             (CAST(d.cents AS DOUBLE) - f.a - f.b * CAST(d.t AS DOUBLE))
               / 100.0 AS e
      FROM daily d CROSS JOIN fit2 f
    ),
    lagged AS (
      SELECT t, n, e, LAG(e, 1) OVER (ORDER BY d) AS e_prev FROM resid
    ),
    quant AS (
      SELECT t, n,
             CAST(FLOOR(e * e + 0.5) AS BIGINT) AS e2,
             CASE WHEN e_prev IS NOT NULL THEN
               CAST(FLOOR((e - e_prev) * (e - e_prev) + 0.5) AS BIGINT)
             END AS de2,
             CAST(FLOOR(e * e * 0.000001 + 0.5) AS BIGINT) AS u
      FROM lagged
    ),
    fin AS (
      SELECT MAX(n) AS n,
             CAST(SUM(e2) AS BIGINT) AS se2,
             CAST(SUM(de2) AS BIGINT) AS sde2,
             CAST(SUM(u) AS BIGINT) AS su,
             CAST(SUM(u * u) AS BIGINT) AS su2,
             CAST(SUM(t * u) AS BIGINT) AS stu,
             CAST(SUM(t) AS BIGINT) AS st,
             CAST(SUM(t * t) AS BIGINT) AS st2
      FROM quant
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           FLOOR(CAST(sde2 AS DOUBLE) / CAST(se2 AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS durbin_watson,
           FLOOR((1.0 - CAST(sde2 AS DOUBLE) / CAST(se2 AS DOUBLE) / 2.0)
                 * 1000000.0 + 0.5) / 1000000.0 AS rho1_approx,
           FLOOR(CAST(n AS DOUBLE)
                 * ((CAST(n AS DOUBLE) * CAST(stu AS DOUBLE)
                     - CAST(st AS DOUBLE) * CAST(su AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(stu AS DOUBLE)
                       - CAST(st AS DOUBLE) * CAST(su AS DOUBLE))
                    / ((CAST(n AS DOUBLE) * CAST(st2 AS DOUBLE)
                        - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
                       * (CAST(n AS DOUBLE) * CAST(su2 AS DOUBLE)
                          - CAST(su AS DOUBLE) * CAST(su AS DOUBLE))))
                 * 1000000.0 + 0.5) / 1000000.0 AS breusch_pagan_lm
    FROM fin
    """,
)


# ---------------------------------------------------------------------------
# DAU/MAU stickiness per month over the events stream
# ---------------------------------------------------------------------------


def q_stickiness_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly product stickiness: average daily active users divided
    by monthly active users -- 'of the people who showed up this
    month, what fraction shows up on a given day'. THE engagement
    ratio product dashboards lead with; a companion readout to
    `new_vs_returning`/`retention_curve`.

    Exactness: both numerator and denominator are exact distinct
    counts (avg DAU is the BIGINT sum of per-day distincts over the
    month's day count); the ratio is one correctly-rounded division.
    Scale: two distinct aggregations shuffled on (month[,day],user)
    -- map-side partial dedup applies; no window touches the
    fact."""
    ev = load_table(spark, sf_dir, "events").select(
        F.year("ts").alias("yr"),
        F.month("ts").alias("mo"),
        F.dayofmonth("ts").alias("dom"),
        "user_id",
    )
    dau = (
        ev.groupBy("yr", "mo", "dom")
        .agg(F.countDistinct("user_id").alias("dau"))
        .groupBy("yr", "mo")
        .agg(
            F.count("*").alias("active_days"),
            F.sum("dau").cast("long").alias("dau_sum"),
        )
    )
    mau = ev.groupBy("yr", "mo").agg(
        F.countDistinct("user_id").cast("long").alias("mau")
    )
    joined = dau.join(mau, ["yr", "mo"])
    avg_dau = F.col("dau_sum").cast("double") / F.col(
        "active_days"
    ).cast("double")
    return joined.select(
        (F.col("yr") * 100 + F.col("mo")).alias("ym"),
        F.col("active_days").cast("long").alias("active_days"),
        "mau",
        _r6(avg_dau).alias("avg_dau"),
        _r6(avg_dau / F.col("mau").cast("double")).alias("stickiness"),
    ).orderBy("ym")


registry.register(
    "stickiness_dau_mau",
    q_stickiness_dau_mau,
    """
    WITH ev AS (
      SELECT CAST(EXTRACT(year FROM ts) AS INT) AS yr,
             CAST(EXTRACT(month FROM ts) AS INT) AS mo,
             CAST(EXTRACT(day FROM ts) AS INT) AS dom,
             user_id
      FROM events
    ),
    dau AS (
      SELECT yr, mo, COUNT(*) AS active_days,
             CAST(SUM(dau) AS BIGINT) AS dau_sum
      FROM (
        SELECT yr, mo, dom, COUNT(DISTINCT user_id) AS dau
        FROM ev GROUP BY 1, 2, 3
      ) GROUP BY 1, 2
    ),
    mau AS (
      SELECT yr, mo, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
      FROM ev GROUP BY 1, 2
    )
    SELECT yr * 100 + mo AS ym,
           CAST(active_days AS BIGINT) AS active_days,
           mau,
           FLOOR(CAST(dau_sum AS DOUBLE) / CAST(active_days AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS avg_dau,
           FLOOR(CAST(dau_sum AS DOUBLE) / CAST(active_days AS DOUBLE)
                 / CAST(mau AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
             AS stickiness
    FROM dau JOIN mau USING (yr, mo)
    ORDER BY ym
    """,
)


# ---------------------------------------------------------------------------
# Haar wavelet energy decomposition of the daily revenue series
# ---------------------------------------------------------------------------


def q_wavelet_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unnormalized Haar detail-energy decomposition of daily revenue
    at scales 2..32 days: at each level k the detail coefficient of a
    2^k-day block is (first-half sum) - (second-half sum), and the
    level's energy sum(detail^2) says how much revenue variation
    lives at that time scale -- the multi-resolution complement to
    `periodogram_probe` (Fourier assumes stationarity; Haar localizes
    bursts). A dominant level-3 (8-day) energy share, e.g., flags
    weekly structure.

    Exactness: details are EXACT BIGINT sums of signed floor-cents
    (sign = block-half parity of the epoch-day index -- pure integer
    arithmetic, no calendar function); energies square through
    DECIMAL(19,0)xDECIMAL(19,0) into DECIMAL(38,0) (detail^2
    overflows BIGINT, and width 19 forces DuckDB onto its int128
    multiply path -- the width-18 path multiplies in int64 and traps), and the share is the single double division.
    Scale: the fact collapses to ~2400 daily rows, the level fan-out
    is x5 on that bounded table, and every agg is map-combinable."""
    o = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("pc"),
    )
    daily = o.groupBy("d").agg(F.sum("pc").cast("long").alias("cents"))
    daily = daily.select(
        F.datediff(F.col("d"), F.lit("1992-01-01").cast("date"))
        .cast("long")
        .alias("t"),
        "cents",
    )
    fan = daily.select(
        "t",
        "cents",
        F.explode(F.array(*[F.lit(k) for k in range(1, 6)])).alias("lvl"),
    )
    block = F.expr("t div (2 * (1 << (lvl - 1)))")
    sign = F.when(
        F.expr("(t div (1 << (lvl - 1))) % 2 = 0"), F.lit(1)
    ).otherwise(F.lit(-1))
    details = (
        fan.select(
            "lvl",
            block.alias("blk"),
            (sign * F.col("cents")).cast("long").alias("sc"),
        )
        .groupBy("lvl", "blk")
        .agg(F.sum("sc").cast("long").alias("detail"))
    )
    per_lvl = details.groupBy("lvl").agg(
        F.count("*").alias("n_blocks"),
        F.sum(
            F.col("detail").cast("decimal(19,0)")
            * F.col("detail").cast("decimal(19,0)")
        ).alias("energy"),
    )
    tot = per_lvl.agg(F.sum("energy").alias("tot_energy"))
    return (
        per_lvl.crossJoin(F.broadcast(tot))
        .select(
            F.col("lvl").alias("level"),
            F.expr("CAST(2 * shiftleft(1, lvl - 1) AS INT)")
            .alias("scale_days"),
            F.col("n_blocks").cast("long").alias("n_blocks"),
            _r6(
                F.col("energy").cast("double") / 1.0e18
            ).alias("energy_e18"),
            _r6(
                F.col("energy").cast("double")
                / F.col("tot_energy").cast("double")
            ).alias("energy_share"),
        )
        .orderBy("level")
    )


registry.register(
    "wavelet_energy",
    q_wavelet_energy,
    """
    WITH daily AS (
      SELECT CAST(date_diff('day', DATE '1992-01-01',
                            CAST(o_orderdate AS DATE)) AS BIGINT) AS t,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    fan AS (
      SELECT d.t, d.cents, l.lvl
      FROM daily d
      CROSS JOIN (SELECT * FROM (VALUES (1),(2),(3),(4),(5)) t(lvl)) l
    ),
    details AS (
      SELECT lvl,
             t // (2 * (1 << (lvl - 1))) AS blk,
             CAST(SUM(CASE WHEN (t // (1 << (lvl - 1))) % 2 = 0
                           THEN cents ELSE -cents END) AS BIGINT) AS detail
      FROM fan GROUP BY 1, 2
    ),
    per_lvl AS (
      SELECT lvl, COUNT(*) AS n_blocks,
             SUM(CAST(detail AS DECIMAL(19,0))
                 * CAST(detail AS DECIMAL(19,0))) AS energy
      FROM details GROUP BY lvl
    ),
    tot AS (SELECT SUM(energy) AS tot_energy FROM per_lvl)
    SELECT lvl AS level,
           CAST(2 * (1 << (lvl - 1)) AS INT) AS scale_days,
           CAST(n_blocks AS BIGINT) AS n_blocks,
           FLOOR(CAST(energy AS DOUBLE) / 1.0e18 * 1000000.0 + 0.5)
             / 1000000.0 AS energy_e18,
           FLOOR(CAST(energy AS DOUBLE) / CAST(tot_energy AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS energy_share
    FROM per_lvl CROSS JOIN tot
    ORDER BY level
    """,
)


# ---------------------------------------------------------------------------
# Syntetos-Boylan demand classification (ADI x CV^2 quadrants)
# ---------------------------------------------------------------------------


def q_demand_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Syntetos-Boylan demand-pattern classification per brand:
    average inter-demand interval (ADI = weeks in horizon / weeks
    with demand) vs the squared coefficient of variation of NONZERO
    weekly demand (CV^2), cut at the standard (1.32, 0.49)
    thresholds into smooth / intermittent / erratic / lumpy -- the
    router that decides whether `croston_intermittent` (intermittent,
    lumpy) or exponential smoothing (smooth, erratic) is the right
    forecaster for each series.

    Exactness: weekly demand is exact integer units on an epoch-week
    index; the horizon week count is ONE global aggregate broadcast
    to all brands; CV^2 = (p*sum(q^2) - (sum q)^2) / (sum q)^2 is a
    deterministic IEEE expression over exact BIGINTs. Scale: one
    fact scan -> (brand, week) table -> 25 brand rows."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.expr(
            "datediff(CAST(l_shipdate AS DATE), DATE '1992-01-01') div 7"
        ).alias("wk"),
        F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long").alias("qty"),
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    weekly = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand", "wk")
        .agg(F.sum("qty").cast("long").alias("q"))
    )
    horizon = weekly.agg(
        (F.max("wk") - F.min("wk") + 1).cast("long").alias("n_weeks")
    )
    per_brand = weekly.groupBy("p_brand").agg(
        F.count("*").cast("long").alias("p"),
        F.sum("q").cast("long").alias("sq"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("sq2"),
    )
    joined = per_brand.crossJoin(F.broadcast(horizon))
    adi = F.col("n_weeks").cast("double") / F.col("p").cast("double")
    cv2 = (
        F.col("p").cast("double") * F.col("sq2").cast("double")
        - F.col("sq").cast("double") * F.col("sq").cast("double")
    ) / (F.col("sq").cast("double") * F.col("sq").cast("double"))
    klass = (
        F.when((adi < 1.32) & (cv2 < 0.49), "smooth")
        .when((adi >= 1.32) & (cv2 < 0.49), "intermittent")
        .when((adi < 1.32) & (cv2 >= 0.49), "erratic")
        .otherwise("lumpy")
    )
    return joined.select(
        "p_brand",
        F.col("p").alias("weeks_with_demand"),
        F.col("n_weeks"),
        _r6(adi).alias("adi"),
        _r6(cv2).alias("cv2"),
        klass.alias("demand_class"),
    ).orderBy("p_brand")


registry.register(
    "demand_classification",
    q_demand_classification,
    """
    WITH li AS (
      SELECT l_partkey,
             date_diff('day', DATE '1992-01-01',
                       CAST(l_shipdate AS DATE)) // 7 AS wk,
             CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS qty
      FROM lineitem
    ),
    weekly AS (
      SELECT p.p_brand, li.wk, CAST(SUM(qty) AS BIGINT) AS q
      FROM li JOIN part p ON li.l_partkey = p.p_partkey
      GROUP BY 1, 2
    ),
    horizon AS (
      SELECT CAST(MAX(wk) - MIN(wk) + 1 AS BIGINT) AS n_weeks FROM weekly
    ),
    per_brand AS (
      SELECT p_brand, COUNT(*) AS p,
             CAST(SUM(q) AS BIGINT) AS sq,
             CAST(SUM(q * q) AS BIGINT) AS sq2
      FROM weekly GROUP BY 1
    ),
    calc AS (
      SELECT p_brand, p, n_weeks,
             CAST(n_weeks AS DOUBLE) / CAST(p AS DOUBLE) AS adi,
             (CAST(p AS DOUBLE) * CAST(sq2 AS DOUBLE)
              - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
             / (CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE)) AS cv2
      FROM per_brand CROSS JOIN horizon
    )
    SELECT p_brand,
           CAST(p AS BIGINT) AS weeks_with_demand,
           n_weeks,
           FLOOR(adi * 1000000.0 + 0.5) / 1000000.0 AS adi,
           FLOOR(cv2 * 1000000.0 + 0.5) / 1000000.0 AS cv2,
           CASE WHEN adi < 1.32 AND cv2 < 0.49 THEN 'smooth'
                WHEN adi >= 1.32 AND cv2 < 0.49 THEN 'intermittent'
                WHEN adi < 1.32 AND cv2 >= 0.49 THEN 'erratic'
                ELSE 'lumpy' END AS demand_class
    FROM calc ORDER BY p_brand
    """,
)


# ---------------------------------------------------------------------------
# Hurst exponent via rescaled-range (R/S) analysis
# ---------------------------------------------------------------------------

# ln(2), and the closed-form OLS weights for a slope over the four
# dyadic sizes 16/32/64/128: x_i = (4,5,6,7)*ln2 gives centered
# weights (-0.3,-0.1,0.1,0.3)/ln2 -- inlined so no runtime LN runs on
# the x side (shared-literal rule).
_LN2 = 0.6931471805599453


def q_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of daily revenue by rescaled-range analysis:
    split the epoch-day axis into full blocks of 16/32/64/128 days,
    compute each block's R/S (range of cumulative mean-deviations
    over the block sd), and fit ln(R/S) ~ H*ln(size) -- H>0.5 means
    persistent long-memory (trending), H<0.5 anti-persistent, the
    regime question `acf_lags`/`autocorr` answer only at fixed lags.

    Exactness: block membership and in-block cumulative sums are
    exact integers on the OBSERVED-day rank index (so sparse
    calendars at tiny SF still form full blocks; cum deviation Z_k =
    cum_cents - k*mean is one deterministic IEEE step); each block's
    ln(R/S) is floor-quantized to 1e-9 BEFORE the per-size mean (the
    unigram_perplexity precedent for runtime LN), and the final
    slope is a FIXED literal-weight combination
    (0.3*(y128-y16)+0.1*(y64-y32))/ln2 -- no runtime x-side LN, no
    engine-ordered float sum. Scale: windows run per (size, block)
    over the ~2400-row daily aggregate fanned x4; blocks lacking a
    full day count or with zero range/sd are excluded identically on
    both engines."""
    o = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("pc"),
    )
    daily = o.groupBy("d").agg(F.sum("pc").cast("long").alias("c"))
    w_idx = Window.orderBy("d")
    daily = daily.select(
        (F.row_number().over(w_idx) - 1).cast("long").alias("t"),
        "c",
    )
    fan = daily.select(
        "t",
        "c",
        F.explode(
            F.array(*[F.lit(s) for s in (16, 32, 64, 128)])
        ).alias("s"),
    ).withColumn("blk", F.expr("t div s"))
    bs = fan.groupBy("s", "blk").agg(
        F.count("*").alias("nb"),
        F.sum("c").cast("long").alias("sc"),
        F.sum(
            F.col("c").cast("decimal(19,0)") * F.col("c").cast("decimal(19,0)")
        ).alias("sc2"),
    )
    w = Window.partitionBy("s", "blk").orderBy("t")
    z = (
        fan.join(bs, ["s", "blk"])
        .filter(F.col("nb") == F.col("s"))
        .select(
            "s",
            "blk",
            "nb",
            "sc",
            "sc2",
            (
                F.sum("c").over(w).cast("double")
                - F.row_number().over(w).cast("double")
                * (F.col("sc").cast("double") / F.col("nb").cast("double"))
            ).alias("zk"),
        )
    )
    per_blk = z.groupBy("s", "blk").agg(
        (F.max("zk") - F.min("zk")).alias("r"),
        F.sqrt(
            F.max("sc2").cast("double") / F.max("nb").cast("double")
            - (F.max("sc").cast("double") / F.max("nb").cast("double"))
            * (F.max("sc").cast("double") / F.max("nb").cast("double"))
        ).alias("sd"),
    )
    lnrs = per_blk.filter((F.col("r") > 0) & (F.col("sd") > 0)).select(
        "s",
        F.floor(F.log(F.col("r") / F.col("sd")) * 1.0e9)
        .cast("long")
        .alias("lnrs9"),
    )
    per_s = lnrs.groupBy("s").agg(
        F.count("*").alias("nblk"),
        F.sum("lnrs9").cast("long").alias("sl9"),
    )
    y = lambda s: F.max(  # noqa: E731
        F.when(
            F.col("s") == s,
            F.col("sl9").cast("double")
            / (F.col("nblk").cast("double") * 1.0e9),
        )
    )
    one = per_s.groupBy().agg(
        F.sum("nblk").cast("long").alias("n_blocks"),
        y(16).alias("y16"),
        y(32).alias("y32"),
        y(64).alias("y64"),
        y(128).alias("y128"),
    )
    hurst = (
        0.3 * (F.col("y128") - F.col("y16"))
        + 0.1 * (F.col("y64") - F.col("y32"))
    ) / F.lit(_LN2)
    return one.select(
        "n_blocks",
        _r6(F.col("y16")).alias("mean_lnrs_16"),
        _r6(F.col("y32")).alias("mean_lnrs_32"),
        _r6(F.col("y64")).alias("mean_lnrs_64"),
        _r6(F.col("y128")).alias("mean_lnrs_128"),
        _r6(hurst).alias("hurst"),
    )


registry.register(
    "hurst_exponent",
    q_hurst_exponent,
    f"""
    WITH daily0 AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS c
      FROM orders GROUP BY 1
    ),
    daily AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY d) - 1 AS BIGINT) AS t, c
      FROM daily0
    ),
    fan AS (
      SELECT d.t, d.c, sz.s, d.t // sz.s AS blk
      FROM daily d
      CROSS JOIN (SELECT * FROM (VALUES (16),(32),(64),(128)) t(s)) sz
    ),
    bs AS (
      SELECT s, blk, COUNT(*) AS nb,
             CAST(SUM(c) AS BIGINT) AS sc,
             SUM(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0)))
               AS sc2
      FROM fan GROUP BY 1, 2
    ),
    z AS (
      SELECT f.s, f.blk, b.nb, b.sc, b.sc2,
             CAST(SUM(f.c) OVER (PARTITION BY f.s, f.blk ORDER BY f.t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DOUBLE)
             - CAST(ROW_NUMBER() OVER (PARTITION BY f.s, f.blk
                 ORDER BY f.t) AS DOUBLE)
               * (CAST(b.sc AS DOUBLE) / CAST(b.nb AS DOUBLE)) AS zk
      FROM fan f JOIN bs b USING (s, blk)
      WHERE b.nb = f.s
    ),
    per_blk AS (
      SELECT s, blk,
             MAX(zk) - MIN(zk) AS r,
             SQRT(CAST(MAX(sc2) AS DOUBLE) / CAST(MAX(nb) AS DOUBLE)
                  - (CAST(MAX(sc) AS DOUBLE) / CAST(MAX(nb) AS DOUBLE))
                    * (CAST(MAX(sc) AS DOUBLE) / CAST(MAX(nb) AS DOUBLE)))
               AS sd
      FROM z GROUP BY 1, 2
    ),
    lnrs AS (
      SELECT s, CAST(FLOOR(LN(r / sd) * 1.0e9) AS BIGINT) AS lnrs9
      FROM per_blk WHERE r > 0 AND sd > 0
    ),
    per_s AS (
      SELECT s, COUNT(*) AS nblk, CAST(SUM(lnrs9) AS BIGINT) AS sl9
      FROM lnrs GROUP BY s
    ),
    one AS (
      SELECT CAST(SUM(nblk) AS BIGINT) AS n_blocks,
             MAX(CASE WHEN s = 16 THEN CAST(sl9 AS DOUBLE)
                   / (CAST(nblk AS DOUBLE) * 1.0e9) END) AS y16,
             MAX(CASE WHEN s = 32 THEN CAST(sl9 AS DOUBLE)
                   / (CAST(nblk AS DOUBLE) * 1.0e9) END) AS y32,
             MAX(CASE WHEN s = 64 THEN CAST(sl9 AS DOUBLE)
                   / (CAST(nblk AS DOUBLE) * 1.0e9) END) AS y64,
             MAX(CASE WHEN s = 128 THEN CAST(sl9 AS DOUBLE)
                   / (CAST(nblk AS DOUBLE) * 1.0e9) END) AS y128
      FROM per_s
    )
    SELECT n_blocks,
           FLOOR(y16 * 1000000.0 + 0.5) / 1000000.0 AS mean_lnrs_16,
           FLOOR(y32 * 1000000.0 + 0.5) / 1000000.0 AS mean_lnrs_32,
           FLOOR(y64 * 1000000.0 + 0.5) / 1000000.0 AS mean_lnrs_64,
           FLOOR(y128 * 1000000.0 + 0.5) / 1000000.0 AS mean_lnrs_128,
           FLOOR((0.3 * (y128 - y16) + 0.1 * (y64 - y32)) / {_LN2!r}
                 * 1000000.0 + 0.5) / 1000000.0 AS hurst
    FROM one
    """,
)


# ---------------------------------------------------------------------------
# Inverse-MSE forecast combination (naive / seasonal-naive / drift)
# ---------------------------------------------------------------------------


def q_forecast_combination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast combination over the daily revenue series: three
    one-step baselines -- naive (yesterday), seasonal-naive (7 days
    back), drift (yesterday + average historical step) -- weighted
    by inverse validation-window MSE and evaluated on a held-out
    test window. 'Combinations beat components' is the most
    replicated result in forecasting (Bates-Granger 1969 onward);
    this is the operator form, the ensemble step above
    `walk_forward_backtest`/`seasonal_naive_eval`'s single-model
    scores.

    Split by observed-day rank: train = all but the last 84 days,
    validation = next 56, test = final 28. Exactness: all three
    forecasts are integer cents (drift's average step is a floored
    double division, identical on both engines); squared errors quantize to (thousands of dollars)^2
    integers BEFORE window sums; the three inverse-MSE weights
    combine in FIXED literal order, and the combined forecast is
    floor-quantized per day before its error sum. Lags run over the
    bounded daily aggregate only."""
    o = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("pc"),
    )
    daily = o.groupBy("d").agg(F.sum("pc").cast("long").alias("y"))
    w = Window.orderBy("d")
    feat = daily.select(
        "d",
        "y",
        F.row_number().over(w).alias("t"),
        F.lag("y", 1).over(w).alias("l1"),
        F.lag("y", 7).over(w).alias("l7"),
        F.first("y").over(w).alias("y1"),
        F.count("*").over(
            Window.orderBy("d").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    ).filter(F.col("l7").isNotNull())
    # floor-of-double-division on BOTH engines: Spark's integer div
    # truncates toward zero while DuckDB's // floors, and (l1 - y1)
    # can be negative
    drift = F.col("l1") + F.floor(
        (F.col("l1") - F.col("y1")).cast("double")
        / F.greatest(F.col("t") - 2, F.lit(1)).cast("double")
    ).cast("long")
    scored = feat.select(
        "d",
        "t",
        "n",
        "y",
        F.col("l1").alias("f_naive"),
        F.col("l7").alias("f_snaive"),
        drift.cast("long").alias("f_drift"),
    )

    def se_k(fc):
        e = (F.col("y") - F.col(fc)).cast("double") / 100000.0
        return F.floor(e * e + F.lit(0.5)).cast("long")

    split = scored.select(
        "d",
        "y",
        F.when(F.col("t") > F.col("n") - 28, "test")
        .when(F.col("t") > F.col("n") - 84, "val")
        .otherwise("train")
        .alias("split"),
        "f_naive",
        "f_snaive",
        "f_drift",
        se_k("f_naive").alias("se1"),
        se_k("f_snaive").alias("se2"),
        se_k("f_drift").alias("se3"),
    )
    val = split.filter(F.col("split") == "val").agg(
        F.count("*").alias("nv"),
        F.sum("se1").cast("long").alias("s1"),
        F.sum("se2").cast("long").alias("s2"),
        F.sum("se3").cast("long").alias("s3"),
    )
    inv = lambda c: F.lit(1.0) / F.col(c).cast("double")  # noqa: E731
    wsum = inv("s1") + inv("s2") + inv("s3")
    weights = val.select(
        "nv",
        "s1",
        "s2",
        "s3",
        (inv("s1") / wsum).alias("w1"),
        (inv("s2") / wsum).alias("w2"),
        (inv("s3") / wsum).alias("w3"),
    )
    test = split.filter(F.col("split") == "test").crossJoin(
        F.broadcast(weights)
    )
    comb = F.floor(
        F.col("w1") * F.col("f_naive").cast("double")
        + F.col("w2") * F.col("f_snaive").cast("double")
        + F.col("w3") * F.col("f_drift").cast("double")
        + F.lit(0.5)
    ).cast("long")
    fin = test.select(
        "y",
        "w1",
        "w2",
        "w3",
        F.abs(F.col("y") - comb).alias("ae_comb"),
        F.abs(F.col("y") - F.col("f_naive")).alias("ae_naive"),
    ).agg(
        F.count("*").cast("long").alias("n_test"),
        F.max("w1").alias("w_naive"),
        F.max("w2").alias("w_snaive"),
        F.max("w3").alias("w_drift"),
        F.sum("ae_comb").cast("long").alias("sae_comb"),
        F.sum("ae_naive").cast("long").alias("sae_naive"),
    )
    return fin.select(
        "n_test",
        _r6(F.col("w_naive")).alias("w_naive"),
        _r6(F.col("w_snaive")).alias("w_snaive"),
        _r6(F.col("w_drift")).alias("w_drift"),
        _r6(
            F.col("sae_comb").cast("double")
            / F.col("n_test").cast("double")
            / 100.0
        ).alias("mae_combined"),
        _r6(
            F.col("sae_naive").cast("double")
            / F.col("n_test").cast("double")
            / 100.0
        ).alias("mae_naive"),
    )


registry.register(
    "forecast_combination",
    q_forecast_combination,
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    feat AS (
      SELECT d, y,
             ROW_NUMBER() OVER (ORDER BY d) AS t,
             LAG(y, 1) OVER (ORDER BY d) AS l1,
             LAG(y, 7) OVER (ORDER BY d) AS l7,
             FIRST_VALUE(y) OVER (ORDER BY d) AS y1,
             COUNT(*) OVER () AS n
      FROM daily
    ),
    scored AS (
      SELECT d, t, n, y,
             l1 AS f_naive,
             l7 AS f_snaive,
             CAST(l1 + CAST(FLOOR(CAST(l1 - y1 AS DOUBLE)
                                  / CAST(GREATEST(t - 2, 1) AS DOUBLE))
                            AS BIGINT) AS BIGINT) AS f_drift
      FROM feat WHERE l7 IS NOT NULL
    ),
    split AS (
      SELECT d, y, f_naive, f_snaive, f_drift,
             CASE WHEN t > n - 28 THEN 'test'
                  WHEN t > n - 84 THEN 'val'
                  ELSE 'train' END AS split,
             CAST(FLOOR((CAST(y - f_naive AS DOUBLE) / 100000.0)
                        * (CAST(y - f_naive AS DOUBLE) / 100000.0)
                        + 0.5) AS BIGINT) AS se1,
             CAST(FLOOR((CAST(y - f_snaive AS DOUBLE) / 100000.0)
                        * (CAST(y - f_snaive AS DOUBLE) / 100000.0)
                        + 0.5) AS BIGINT) AS se2,
             CAST(FLOOR((CAST(y - f_drift AS DOUBLE) / 100000.0)
                        * (CAST(y - f_drift AS DOUBLE) / 100000.0)
                        + 0.5) AS BIGINT) AS se3
      FROM scored
    ),
    val AS (
      SELECT COUNT(*) AS nv,
             CAST(SUM(se1) AS BIGINT) AS s1,
             CAST(SUM(se2) AS BIGINT) AS s2,
             CAST(SUM(se3) AS BIGINT) AS s3
      FROM split WHERE split = 'val'
    ),
    weights AS (
      SELECT nv, s1, s2, s3,
             (1.0 / CAST(s1 AS DOUBLE))
               / (1.0 / CAST(s1 AS DOUBLE) + 1.0 / CAST(s2 AS DOUBLE)
                  + 1.0 / CAST(s3 AS DOUBLE)) AS w1,
             (1.0 / CAST(s2 AS DOUBLE))
               / (1.0 / CAST(s1 AS DOUBLE) + 1.0 / CAST(s2 AS DOUBLE)
                  + 1.0 / CAST(s3 AS DOUBLE)) AS w2,
             (1.0 / CAST(s3 AS DOUBLE))
               / (1.0 / CAST(s1 AS DOUBLE) + 1.0 / CAST(s2 AS DOUBLE)
                  + 1.0 / CAST(s3 AS DOUBLE)) AS w3
      FROM val
    ),
    test AS (
      SELECT s.y, w.w1, w.w2, w.w3,
             ABS(s.y - CAST(FLOOR(w.w1 * CAST(s.f_naive AS DOUBLE)
                                  + w.w2 * CAST(s.f_snaive AS DOUBLE)
                                  + w.w3 * CAST(s.f_drift AS DOUBLE)
                                  + 0.5) AS BIGINT)) AS ae_comb,
             ABS(s.y - s.f_naive) AS ae_naive
      FROM split s CROSS JOIN weights w
      WHERE s.split = 'test'
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
           FLOOR(MAX(w1) * 1000000.0 + 0.5) / 1000000.0 AS w_naive,
           FLOOR(MAX(w2) * 1000000.0 + 0.5) / 1000000.0 AS w_snaive,
           FLOOR(MAX(w3) * 1000000.0 + 0.5) / 1000000.0 AS w_drift,
           FLOOR(CAST(SUM(ae_comb) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                 / 100.0 * 1000000.0 + 0.5) / 1000000.0 AS mae_combined,
           FLOOR(CAST(SUM(ae_naive) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                 / 100.0 * 1000000.0 + 0.5) / 1000000.0 AS mae_naive
    FROM test
    """,
)


# ---------------------------------------------------------------------------
# Geometric adstock correlation (marketing carryover)
# ---------------------------------------------------------------------------


def q_adstock_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric adstock analysis on the events stream: does hourly
    NON-purchase activity (the impression proxy) predict hourly
    purchase value better after the standard marketing carryover
    transform a_t = sum_k lambda^k x_(t-k) (lambda = 0.5, 8-hour
    memory)? Raw vs adstocked correlation side by side -- the
    media-mix-modeling primitive that decides how much of last
    hour's traffic still converts now.

    Exactness: the hour index is epoch-microseconds integer-divided
    (unix_micros DIV 3.6e9 vs epoch_us // 3.6e9 -- both floor on
    nonnegative epochs); lambda = 1/2 makes every weight dyadic, so
    the adstock is the EXACT BIGINT a128_t = sum_k 2^(7-k) x_(t-k)
    (no float before the final correlation); purchase value is
    floor-cents per row; both correlations come from exact
    BIGINT/DECIMAL(38) sufficient statistics. Lags run over the
    bounded hourly aggregate; hours lacking a full 8-hour history
    are excluded identically. Scale: one events rollup, 1-row out."""
    ev = load_table(spark, sf_dir, "events").select(
        F.expr("unix_micros(ts) div 3600000000").alias("h"),
        (F.col("event_type") != "purchase").cast("long").alias("is_x"),
        F.when(
            F.col("event_type") == "purchase",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
        ).otherwise(F.lit(0)).alias("yc"),
    )
    hourly = ev.groupBy("h").agg(
        F.sum("is_x").cast("long").alias("x"),
        F.sum("yc").cast("long").alias("y"),
    )
    w = Window.orderBy("h")
    lag_terms = [
        (F.lag("x", k).over(w) * F.lit(2 ** (7 - k))).alias(f"t{k}")
        for k in range(8)
    ]
    lagged = hourly.select("h", "x", "y", *lag_terms).filter(
        F.col("t7").isNotNull()
    )
    a128 = sum(
        (F.col(f"t{k}") for k in range(1, 8)), F.col("t0")
    ).cast("long")
    staged = lagged.select("x", "y", a128.alias("a"))
    d19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    sums = staged.agg(
        F.count("*").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("a").cast("long").alias("sa"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(d19("x") * d19("x")).alias("sxx"),
        F.sum(d19("a") * d19("a")).alias("saa"),
        F.sum(d19("y") * d19("y")).alias("syy"),
        F.sum(d19("x") * d19("y")).alias("sxy"),
        F.sum(d19("a") * d19("y")).alias("say"),
    )
    n = F.col("n").cast("double")

    def corr(sab, s1, s2, s11, s22):
        num = n * F.col(sab).cast("double") - F.col(s1).cast(
            "double"
        ) * F.col(s2).cast("double")
        den = F.sqrt(
            (n * F.col(s11).cast("double")
             - F.col(s1).cast("double") * F.col(s1).cast("double"))
            * (n * F.col(s22).cast("double")
               - F.col(s2).cast("double") * F.col(s2).cast("double"))
        )
        return num / den

    return sums.select(
        F.col("n").cast("long").alias("n_hours"),
        _r6(corr("sxy", "sx", "sy", "sxx", "syy")).alias("corr_raw"),
        _r6(corr("say", "sa", "sy", "saa", "syy")).alias("corr_adstock"),
    )


registry.register(
    "adstock_correlation",
    q_adstock_correlation,
    """
    WITH hourly AS (
      SELECT epoch_us(ts) // 3600000000 AS h,
             CAST(SUM(CAST(event_type <> 'purchase' AS BIGINT))
                  AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                           THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    lagged AS (
      SELECT h, x, y,
             LAG(x, 0) OVER (ORDER BY h) * 128 AS t0,
             LAG(x, 1) OVER (ORDER BY h) * 64 AS t1,
             LAG(x, 2) OVER (ORDER BY h) * 32 AS t2,
             LAG(x, 3) OVER (ORDER BY h) * 16 AS t3,
             LAG(x, 4) OVER (ORDER BY h) * 8 AS t4,
             LAG(x, 5) OVER (ORDER BY h) * 4 AS t5,
             LAG(x, 6) OVER (ORDER BY h) * 2 AS t6,
             LAG(x, 7) OVER (ORDER BY h) * 1 AS t7
      FROM hourly
    ),
    staged AS (
      SELECT x, y,
             CAST(t0 + t1 + t2 + t3 + t4 + t5 + t6 + t7 AS BIGINT) AS a
      FROM lagged WHERE t7 IS NOT NULL
    ),
    sums AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(a) AS BIGINT) AS sa,
             CAST(SUM(y) AS BIGINT) AS sy,
             SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
               AS sxx,
             SUM(CAST(a AS DECIMAL(19,0)) * CAST(a AS DECIMAL(19,0)))
               AS saa,
             SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
               AS syy,
             SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
               AS sxy,
             SUM(CAST(a AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
               AS say
      FROM staged
    )
    SELECT CAST(n AS BIGINT) AS n_hours,
           FLOOR((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0 AS corr_raw,
           FLOOR((CAST(n AS DOUBLE) * CAST(say AS DOUBLE)
                  - CAST(sa AS DOUBLE) * CAST(sy AS DOUBLE))
                 / SQRT((CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                         - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0 AS corr_adstock
    FROM sums
    """,
)
