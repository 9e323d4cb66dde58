"""Round-8f additions: iterated outlier testing (generalized ESD),
cross-price elasticity, seasonal Mann-Kendall, split-stability audit,
funnel A/A significance, and a discrete goodness-of-fit test — the
deeper QA layer over the round-1..8 stats families.

House rules: the daily / weekly / brand frames are calendar- or
catalog-bounded before any window; ln values quantize to integer
nano/micro units BEFORE sufficient-statistic sums; argmax picks break
ties on the key; md5 identity coins drive every synthetic split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from airflow_baseball_spark import registry
from airflow_baseball_spark.functions.scalar import round6_portable as _r6
from airflow_baseball_spark.functions.scalar import r6_sql as _r6_sql
from airflow_baseball_spark.schemas import load_table

_DAILY_CENTS_CTE = """
    daily AS (
      SELECT date_diff('day', DATE '1970-01-01', o_orderdate) AS d,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS x
      FROM orders GROUP BY 1
    )
"""


def _daily_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
    return o.groupBy(d.alias("d")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
        .alias("x")
    )


# ---------------------------------------------------------------------------
# Generalized ESD (3 unrolled rounds) on the daily series
# ---------------------------------------------------------------------------


def q_gesd_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized ESD outlier sequence (Rosner), three unrolled
    rounds on daily revenue: each round reports the most extreme
    remaining day's studentized deviation R_i = |x* − mean|/sd, then
    removes it and updates the sufficient statistics EXACTLY
    (subtracting the removed cents from the BIGINT/DECIMAL sums —
    no re-scan drift). Grubbs' test is round 1; GESD is what a
    monitoring pipeline actually needs when spikes cluster.

    Exactness: the argmax compares |x·n − Σx| — pure BIGINT — with
    the earliest-day tiebreak; each R_i is one identical-IEEE
    expression of exact integers (`_r6`). Scale: three bounded
    global sorts of the days-sized frame (allowlisted); the fact is
    scanned once."""
    daily = _daily_cents(spark, sf_dir)
    out_rows = []
    # s: 1-row DataFrame with n, sx, sxx; removed days accumulate
    s = daily.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(
            F.col("x").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)")
        ).alias("sxx"),
    )
    remaining = daily
    for rnd in (1, 2, 3):
        j = remaining.crossJoin(F.broadcast(s))
        score = F.abs(
            F.col("x").cast("decimal(38,0)") * F.col("n")
            - F.col("sx").cast("decimal(38,0)")
        )
        picked = (
            j.withColumn("sc", score)
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.orderBy(F.col("sc").desc(), F.col("d").asc())
                ),
            )
            .filter(F.col("rn") == 1)
            .select("d", "x", "n", "sx", "sxx", "sc")
        )
        n = F.col("n").cast("double")
        mean = F.col("sx").cast("double") / n
        var = (
            n * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        ) / (n * (n - F.lit(1.0)))
        r_stat = F.abs(F.col("x").cast("double") - mean) / F.sqrt(var)
        out_rows.append(
            picked.select(
                F.lit(rnd).alias("round"),
                F.col("d").alias("day_removed"),
                F.col("x").alias("x_cents"),
                F.col("n").cast("long").alias("n_before"),
                _r6(r_stat).alias("r_stat"),
            )
        )
        s = picked.select(
            (F.col("n") - 1).alias("n"),
            (F.col("sx") - F.col("x")).alias("sx"),
            (
                F.col("sxx")
                - F.col("x").cast("decimal(19,0)")
                * F.col("x").cast("decimal(19,0)")
            ).alias("sxx"),
        )
        remaining = remaining.join(
            F.broadcast(picked.select(F.col("d").alias("d_rm"))),
            F.col("d") == F.col("d_rm"),
            "left_anti",
        )
    out = out_rows[0].unionAll(out_rows[1]).unionAll(out_rows[2])
    return out


def _gesd_round_sql(rnd: int, src: str, stats: str) -> str:
    """One GESD round: pick from {src} using {stats}, emit row and
    next-round stats."""
    return f"""
    pick{rnd} AS (
      SELECT d, x, n, sx, sxx
      FROM (
        SELECT r.d, r.x, s.n, s.sx, s.sxx,
               ROW_NUMBER() OVER (
                 ORDER BY ABS(CAST(r.x AS DECIMAL(38,0)) * s.n
                              - CAST(s.sx AS DECIMAL(38,0))) DESC,
                          r.d ASC) AS rn
        FROM {src} r CROSS JOIN {stats} s
      ) WHERE rn = 1
    ),
    row{rnd} AS (
      SELECT {rnd} AS round, d AS day_removed, x AS x_cents,
             CAST(n AS BIGINT) AS n_before,
             {_r6_sql(
               "ABS(CAST(x AS DOUBLE)"
               " - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
               " / SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
               "   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
               "   / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))"
             )} AS r_stat
      FROM pick{rnd}
    ),
    stats{rnd} AS (
      SELECT n - 1 AS n, sx - x AS sx,
             sxx - CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))
               AS sxx
      FROM pick{rnd}
    ),
    rem{rnd} AS (
      SELECT r.* FROM {src} r
      WHERE r.d NOT IN (SELECT d FROM pick{rnd})
    )"""


registry.register(
    "gesd_outliers",
    q_gesd_outliers,
    f"""
    WITH {_DAILY_CENTS_CTE},
    stats0 AS (
      SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
             SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
               AS sxx
      FROM daily
    ),
    {_gesd_round_sql(1, "daily", "stats0")},
    {_gesd_round_sql(2, "rem1", "stats1")},
    {_gesd_round_sql(3, "rem2", "stats2")}
    SELECT * FROM row1
    UNION ALL SELECT * FROM row2
    UNION ALL SELECT * FROM row3
    """,
)


# ---------------------------------------------------------------------------
# Cross-price elasticity grid over the top-5 revenue brands
# ---------------------------------------------------------------------------


def q_cross_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-price elasticity proxies over the top-5 revenue brands:
    for each ordered pair (A, B), A != B, the OLS slope of
    ln(weekly quantity of B) on ln(weekly avg unit price of A) —
    positive slopes read as substitutes, negative as complements
    (price_elasticity's own-price machinery widened to the pair
    grid).

    Exactness: both ln values quantize to integer NANO units per week
    BEFORE the sufficient-statistic sums (price_elasticity
    precedent), so the slope is one identical-IEEE expression of
    exact BIGINTs. Scale: one fact pass to the (brand × week) frame;
    the pair grid is 20 rows joined on the bounded week axis."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    wk = (
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
        / 7
    ).cast("long")
    base = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            "p_brand",
            wk.alias("wk"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("ext_cents"),
            F.floor(F.col("l_quantity") * 100 + F.lit(0.5))
            .cast("long")
            .alias("qty_hund"),
        )
    )
    bw = base.groupBy("p_brand", "wk").agg(
        F.sum("ext_cents").alias("ext"),
        F.sum("qty_hund").alias("qty"),
    )
    top5 = (
        bw.groupBy("p_brand")
        .agg(F.sum("ext").alias("rev"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.col("rev").desc(), F.col("p_brand").asc())
            ),
        )
        .filter(F.col("rk") <= 5)
        .select("p_brand")
    )
    bw5 = bw.join(F.broadcast(top5), "p_brand")
    ln_price_nano = F.floor(
        F.log(
            F.col("ext").cast("double") / F.col("qty").cast("double")
        )
        * 1e9
    ).cast("long")
    ln_qty_nano = F.floor(
        F.log(F.col("qty").cast("double") / 100.0) * 1e9
    ).cast("long")
    a = bw5.select(
        F.col("p_brand").alias("brand_a"),
        F.col("wk").alias("wka"),
        ln_price_nano.alias("lp"),
    )
    b = bw5.select(
        F.col("p_brand").alias("brand_b"),
        F.col("wk").alias("wkb"),
        ln_qty_nano.alias("lq"),
    )
    pairs = a.join(
        b,
        (F.col("wka") == F.col("wkb"))
        & (F.col("brand_a") != F.col("brand_b")),
    )
    agg = pairs.groupBy("brand_a", "brand_b").agg(
        F.count("*").alias("n_weeks"),
        F.sum("lp").alias("sx"),
        F.sum("lq").alias("sy"),
        F.sum(
            F.col("lp").cast("decimal(38,0)") * F.col("lq").cast("decimal(38,0)")
        ).alias("sxy"),
        F.sum(
            F.col("lp").cast("decimal(38,0)") * F.col("lp").cast("decimal(38,0)")
        ).alias("sxx"),
    )
    n = F.col("n_weeks").cast("double")
    slope = (
        n * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        n * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    return agg.select(
        "brand_a",
        "brand_b",
        "n_weeks",
        _r6(slope).alias("cross_elasticity"),
    )


registry.register(
    "cross_price_elasticity",
    q_cross_price_elasticity,
    f"""
    WITH base AS (
      SELECT p.p_brand,
             CAST(FLOOR(date_diff('day', DATE '1970-01-01', o.o_orderdate)
                        / 7.0) AS BIGINT) AS wk,
             CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)
               AS ext_cents,
             CAST(FLOOR(l.l_quantity * 100 + 0.5) AS BIGINT) AS qty_hund
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    bw AS (
      SELECT p_brand, wk, CAST(SUM(ext_cents) AS BIGINT) AS ext,
             CAST(SUM(qty_hund) AS BIGINT) AS qty
      FROM base GROUP BY 1, 2
    ),
    top5 AS (
      SELECT p_brand FROM (
        SELECT p_brand,
               ROW_NUMBER() OVER (ORDER BY SUM(ext) DESC, p_brand ASC)
                 AS rk
        FROM bw GROUP BY p_brand
      ) WHERE rk <= 5
    ),
    bw5 AS (
      SELECT bw.p_brand, bw.wk,
             CAST(FLOOR(LN(CAST(ext AS DOUBLE) / CAST(qty AS DOUBLE))
                        * 1000000000.0) AS BIGINT) AS lp,
             CAST(FLOOR(LN(CAST(qty AS DOUBLE) / 100.0)
                        * 1000000000.0) AS BIGINT) AS lq
      FROM bw JOIN top5 USING (p_brand)
    ),
    pairs AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
             a.lp, b.lq
      FROM bw5 a JOIN bw5 b
        ON a.wk = b.wk AND a.p_brand != b.p_brand
    ),
    agg AS (
      SELECT brand_a, brand_b, COUNT(*) AS n_weeks,
             CAST(SUM(lp) AS BIGINT) AS sx,
             CAST(SUM(lq) AS BIGINT) AS sy,
             SUM(CAST(lp AS DECIMAL(38,0)) * CAST(lq AS DECIMAL(38,0)))
               AS sxy,
             SUM(CAST(lp AS DECIMAL(38,0)) * CAST(lp AS DECIMAL(38,0)))
               AS sxx
      FROM pairs GROUP BY 1, 2
    )
    SELECT brand_a, brand_b, n_weeks,
           {_r6_sql(
             "(CAST(n_weeks AS DOUBLE) * CAST(sxy AS DOUBLE)"
             " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
             " / (CAST(n_weeks AS DOUBLE) * CAST(sxx AS DOUBLE)"
             " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
           )} AS cross_elasticity
    FROM agg
    """,
)


# ---------------------------------------------------------------------------
# Seasonal Mann-Kendall trend test (day-of-week strata)
# ---------------------------------------------------------------------------


def q_seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal Mann-Kendall trend test on daily revenue with
    day-of-week strata: S_j sums sign(x_l − x_k) over day pairs
    WITHIN each weekday only (a weekly cycle can no longer masquerade
    as trend — trend_test's plain MK sibling), the total S sums the
    strata, and Var[S] = Σ_j n_j(n_j−1)(2n_j+5)/18 (cents ties are
    measure-zero but the sign handles them exactly).

    Exactness: S is a pure-integer pair sum; z is one `_r6`
    expression of exact integers (the standard ±1 continuity
    correction). Scale: pairs join within strata — the day×day table
    split 7 ways, still calendar-bounded."""
    daily = _daily_cents(spark, sf_dir)
    t = daily.select(
        "d", "x", F.pmod(F.col("d"), F.lit(7)).alias("dow")
    )
    a = t.select(
        F.col("dow"), F.col("d").alias("da"), F.col("x").alias("xa")
    )
    b = t.select(
        F.col("dow").alias("dow_b"),
        F.col("d").alias("db"),
        F.col("x").alias("xb"),
    )
    pairs = a.join(
        b, (F.col("dow") == F.col("dow_b")) & (F.col("da") < F.col("db"))
    ).select(
        "dow",
        F.signum((F.col("xb") - F.col("xa")).cast("double")).cast("int").alias(
            "sg"
        ),
    )
    per_dow = pairs.groupBy("dow").agg(
        F.sum("sg").cast("long").alias("s_j"), F.count("*").alias("n_pairs")
    )
    nj = t.groupBy("dow").agg(F.count("*").alias("n_j"))
    per_dow = per_dow.join(nj, "dow")
    tot = per_dow.agg(
        F.sum("s_j").cast("long").alias("s_total"),
        F.sum(
            F.col("n_j") * (F.col("n_j") - 1) * (2 * F.col("n_j") + 5)
        ).cast("long").alias("var18"),
    )
    s = F.col("s_total").cast("double")
    var = F.col("var18").cast("double") / 18.0
    z = F.when(F.col("s_total") > 0, (s - 1.0) / F.sqrt(var)).when(
        F.col("s_total") < 0, (s + 1.0) / F.sqrt(var)
    ).otherwise(F.lit(0.0))
    tot = tot.select("s_total", "var18", _r6(z).alias("z_stat"))
    return (
        per_dow.crossJoin(F.broadcast(tot))
        .select(
            "dow", "n_j", "s_j", "n_pairs", "s_total", "var18", "z_stat"
        )
    )


registry.register(
    "seasonal_mann_kendall",
    q_seasonal_mann_kendall,
    f"""
    WITH {_DAILY_CENTS_CTE},
    t AS (
      SELECT d, x, CAST((d % 7 + 7) % 7 AS INTEGER) AS dow FROM daily
    ),
    pairs AS (
      SELECT a.dow, CAST(SIGN(b.x - a.x) AS INTEGER) AS sg
      FROM t a JOIN t b ON a.dow = b.dow AND a.d < b.d
    ),
    per_dow0 AS (
      SELECT dow, CAST(SUM(sg) AS BIGINT) AS s_j, COUNT(*) AS n_pairs
      FROM pairs GROUP BY 1
    ),
    nj AS (SELECT dow, COUNT(*) AS n_j FROM t GROUP BY 1),
    per_dow AS (
      SELECT p.dow, nj.n_j, p.s_j, p.n_pairs
      FROM per_dow0 p JOIN nj USING (dow)
    ),
    tot AS (
      SELECT CAST(SUM(s_j) AS BIGINT) AS s_total,
             CAST(SUM(n_j * (n_j - 1) * (2 * n_j + 5)) AS BIGINT) AS var18
      FROM per_dow
    )
    SELECT dow, n_j, s_j, n_pairs, s_total, var18,
           CASE WHEN s_total > 0 THEN {_r6_sql(
             "(CAST(s_total AS DOUBLE) - 1.0)"
             " / SQRT(CAST(var18 AS DOUBLE) / 18.0)"
           )}
                WHEN s_total < 0 THEN {_r6_sql(
             "(CAST(s_total AS DOUBLE) + 1.0)"
             " / SQRT(CAST(var18 AS DOUBLE) / 18.0)"
           )}
                ELSE 0.0 END AS z_stat
    FROM per_dow CROSS JOIN tot
    """,
)


# ---------------------------------------------------------------------------
# Split-stability audit across md5 salts
# ---------------------------------------------------------------------------


def q_split_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test split stability: the same 20% holdout drawn with
    five different md5 salts, reporting each split's test-set mean
    order revenue and the across-salt spread — the audit that
    certifies a metric is insensitive to WHICH deterministic split
    the pipeline happened to ship (hash_sample's QA companion).

    Exactness: membership is the md5 identity coin on
    (salt, orderkey); per-salt sums are exact cents; the spread is
    max−min over five `_r6` doubles computed identically on both
    engines. Scale: ONE fact pass evaluates all five salts (the salt
    axis explodes in-row, 5× rows of a single column), then a 5-row
    aggregate."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    salted = o.select(
        F.explode(F.sequence(F.lit(0), F.lit(4))).alias("salt"),
        "o_orderkey",
        "cents",
    ).withColumn(
        "in_test",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("salt").cast("string"),
                            F.col("o_orderkey").cast("string"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % 5
            == 0
        ).cast("int"),
    )
    per_salt = (
        salted.filter(F.col("in_test") == 1)
        .groupBy("salt")
        .agg(
            F.count("*").alias("n_test"),
            F.sum("cents").alias("s_cents"),
        )
    )
    mean_d = F.col("s_cents").cast("double") / F.col("n_test").cast(
        "double"
    ) / 100.0
    scored = per_salt.select(
        "salt", "n_test", _r6(mean_d).alias("mean_test_dollars")
    )
    spread = scored.agg(
        _r6(
            F.max("mean_test_dollars") - F.min("mean_test_dollars")
        ).alias("spread_dollars")
    )
    return (
        scored.crossJoin(F.broadcast(spread))
        .select(
            "salt", "n_test", "mean_test_dollars", "spread_dollars"
        )
    )


registry.register(
    "split_stability",
    q_split_stability,
    f"""
    WITH o AS (
      SELECT o_orderkey,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    salted AS (
      SELECT t.salt, o.o_orderkey, o.cents,
             CASE WHEN CAST(CONCAT('0x',
                    SUBSTRING(MD5(CONCAT(CAST(t.salt AS VARCHAR), ':',
                                         CAST(o.o_orderkey AS VARCHAR))),
                              1, 15)) AS BIGINT) % 5 = 0
                  THEN 1 ELSE 0 END AS in_test
      FROM o, UNNEST(range(0, 5)) AS t(salt)
    ),
    per_salt AS (
      SELECT salt, COUNT(*) AS n_test,
             CAST(SUM(cents) AS BIGINT) AS s_cents
      FROM salted WHERE in_test = 1
      GROUP BY 1
    ),
    scored AS (
      SELECT CAST(salt AS INTEGER) AS salt, n_test,
             {_r6_sql(
               "CAST(s_cents AS DOUBLE) / CAST(n_test AS DOUBLE) / 100.0"
             )} AS mean_test_dollars
      FROM per_salt
    ),
    spread AS (
      SELECT {_r6_sql(
        "MAX(mean_test_dollars) - MIN(mean_test_dollars)"
      )} AS spread_dollars
      FROM scored
    )
    SELECT salt, n_test, mean_test_dollars, spread_dollars
    FROM scored CROSS JOIN spread
    """,
)


# ---------------------------------------------------------------------------
# Funnel A/A significance (placebo z-tests per step)
# ---------------------------------------------------------------------------


def q_funnel_aa_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/A placebo test on the view→click→purchase funnel: users
    split by the md5 identity coin into two arms that SHOULD convert
    identically; each step reports both arms' ordered-progression
    conversions and the two-proportion z — the pipeline's false-
    positive calibration check (a |z| > 2 here means the testing
    harness, not the product, is broken).

    Exactness: per-user first-event times compare as exact epoch
    microseconds; counts are integers and z is one identical-IEEE
    expression (`_r6`). Scale: three type-filtered user aggregates
    joined on user_id (the funnel shape), then a 2-row arm frame."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros(F.col("ts")).alias("us")
    )

    def first_of(t: str, name: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == t)
            .groupBy("user_id")
            .agg(F.min("us").alias(name))
        )

    v = first_of("view", "t_view")
    c = first_of("click", "t_click")
    p = first_of("purchase", "t_purch")
    j = (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            (
                F.conv(
                    F.substring(
                        F.md5(F.col("user_id").cast("string")), 1, 15
                    ),
                    16,
                    10,
                ).cast("long")
                % 2
            ).alias("arm"),
            (
                F.col("t_click").isNotNull()
                & (F.col("t_click") > F.col("t_view"))
            ).alias("clk"),
            (
                F.col("t_click").isNotNull()
                & (F.col("t_click") > F.col("t_view"))
                & F.col("t_purch").isNotNull()
                & (F.col("t_purch") > F.col("t_click"))
            ).alias("pur"),
        )
    )
    arms = j.groupBy("arm").agg(
        F.count("*").alias("n_view"),
        F.sum(F.col("clk").cast("long")).cast("long").alias("n_click"),
        F.sum(F.col("pur").cast("long")).cast("long").alias("n_purch"),
    )
    a0 = arms.filter(F.col("arm") == 0).select(
        F.col("n_view").alias("v0"),
        F.col("n_click").alias("c0"),
        F.col("n_purch").alias("p0"),
    )
    a1 = arms.filter(F.col("arm") == 1).select(
        F.col("n_view").alias("v1"),
        F.col("n_click").alias("c1"),
        F.col("n_purch").alias("p1"),
    )
    wide = a0.crossJoin(a1)

    def z_expr(x0, n0, x1, n1):
        p0 = x0.cast("double") / n0.cast("double")
        p1 = x1.cast("double") / n1.cast("double")
        pp = (x0 + x1).cast("double") / (n0 + n1).cast("double")
        return (p0 - p1) / F.sqrt(
            pp
            * (F.lit(1.0) - pp)
            * (
                F.lit(1.0) / n0.cast("double")
                + F.lit(1.0) / n1.cast("double")
            )
        )

    steps = F.array(
        F.struct(
            F.lit("view_to_click").alias("step"),
            F.col("v0").alias("n0"),
            F.col("c0").alias("x0"),
            F.col("v1").alias("n1"),
            F.col("c1").alias("x1"),
            _r6(
                z_expr(F.col("c0"), F.col("v0"), F.col("c1"), F.col("v1"))
            ).alias("z_stat"),
        ),
        F.struct(
            F.lit("click_to_purchase").alias("step"),
            F.col("c0").alias("n0"),
            F.col("p0").alias("x0"),
            F.col("c1").alias("n1"),
            F.col("p1").alias("x1"),
            _r6(
                z_expr(F.col("p0"), F.col("c0"), F.col("p1"), F.col("c1"))
            ).alias("z_stat"),
        ),
    )
    return wide.select(F.explode(steps).alias("s")).select(
        "s.step", "s.n0", "s.x0", "s.n1", "s.x1", "s.z_stat"
    )


def _aa_z_sql(x0: str, n0: str, x1: str, n1: str) -> str:
    p0 = f"(CAST({x0} AS DOUBLE) / CAST({n0} AS DOUBLE))"
    p1 = f"(CAST({x1} AS DOUBLE) / CAST({n1} AS DOUBLE))"
    pp = f"(CAST({x0} + {x1} AS DOUBLE) / CAST({n0} + {n1} AS DOUBLE))"
    return (
        f"(({p0}) - ({p1})) / SQRT(({pp}) * (1.0 - ({pp}))"
        f" * (1.0 / CAST({n0} AS DOUBLE) + 1.0 / CAST({n1} AS DOUBLE)))"
    )


registry.register(
    "funnel_aa_test",
    q_funnel_aa_test,
    f"""
    WITH ev AS (
      SELECT user_id, event_type, epoch_us(ts) AS us FROM events
    ),
    v AS (SELECT user_id, MIN(us) AS t_view FROM ev
          WHERE event_type = 'view' GROUP BY 1),
    c AS (SELECT user_id, MIN(us) AS t_click FROM ev
          WHERE event_type = 'click' GROUP BY 1),
    p AS (SELECT user_id, MIN(us) AS t_purch FROM ev
          WHERE event_type = 'purchase' GROUP BY 1),
    j AS (
      SELECT CAST(CONCAT('0x', SUBSTRING(MD5(CAST(v.user_id AS VARCHAR)),
                                         1, 15)) AS BIGINT) % 2 AS arm,
             (c.t_click IS NOT NULL AND c.t_click > v.t_view) AS clk,
             (c.t_click IS NOT NULL AND c.t_click > v.t_view
              AND p.t_purch IS NOT NULL AND p.t_purch > c.t_click) AS pur
      FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
    ),
    arms AS (
      SELECT arm, COUNT(*) AS n_view,
             CAST(SUM(CAST(clk AS BIGINT)) AS BIGINT) AS n_click,
             CAST(SUM(CAST(pur AS BIGINT)) AS BIGINT) AS n_purch
      FROM j GROUP BY 1
    ),
    wide AS (
      SELECT a0.n_view AS v0, a0.n_click AS c0, a0.n_purch AS p0,
             a1.n_view AS v1, a1.n_click AS c1, a1.n_purch AS p1
      FROM (SELECT * FROM arms WHERE arm = 0) a0
      CROSS JOIN (SELECT * FROM arms WHERE arm = 1) a1
    )
    SELECT 'view_to_click' AS step, v0 AS n0, c0 AS x0, v1 AS n1,
           c1 AS x1,
           {_r6_sql(_aa_z_sql("c0", "v0", "c1", "v1"))} AS z_stat
    FROM wide
    UNION ALL
    SELECT 'click_to_purchase', c0, p0, c1, p1,
           {_r6_sql(_aa_z_sql("p0", "c0", "p1", "c1"))}
    FROM wide
    """,
)


# ---------------------------------------------------------------------------
# Geometric goodness-of-fit on orders-per-customer
# ---------------------------------------------------------------------------


def q_geometric_gof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric goodness-of-fit for order frequency: k = orders per
    active customer, fitted P(K=k) = (1-p)^(k-1)·p with the
    moment estimator p = n/Σk (an exact rational), chi-square over
    buckets k = 1..10 plus a ≥11 tail — the discrete-GOF companion
    to jarque_bera/ks_statistic ("is order frequency memoryless?").

    Exactness: observed counts are integers; p is an exact integer
    ratio and expected counts use identical pow/libm, each `_r6`'d;
    the chi-square sums 11 such terms (`_r6`-guarded). Scale: one
    orders pass to per-customer counts, one 11-cell frame."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(F.count("*").alias("k"))
    bucketed = per_cust.select(
        F.least(F.col("k"), F.lit(11)).cast("int").alias("kb")
    ).groupBy("kb").agg(F.count("*").alias("observed"))
    tot = per_cust.agg(
        F.count("*").alias("n_cust"), F.sum("k").cast("long").alias("sum_k")
    )
    grid = (
        load_table(spark, sf_dir, "orders")
        .sparkSession.range(1, 12)
        .select(F.col("id").cast("int").alias("kb"))
    )
    j = (
        grid.join(bucketed, "kb", "left")
        .select("kb", F.coalesce("observed", F.lit(0)).alias("observed"))
        .crossJoin(F.broadcast(tot))
    )
    n = F.col("n_cust").cast("double")
    p = n / F.col("sum_k").cast("double")
    expected = F.when(
        F.col("kb") < 11,
        n * F.pow(F.lit(1.0) - p, F.col("kb").cast("double") - 1) * p,
    ).otherwise(n * F.pow(F.lit(1.0) - p, F.lit(10.0)))
    terms = j.select(
        "kb",
        "observed",
        "n_cust",
        "sum_k",
        expected.alias("expected_raw"),
    )
    chi = terms.agg(
        _r6(
            F.sum(
                (F.col("observed").cast("double") - F.col("expected_raw"))
                * (F.col("observed").cast("double") - F.col("expected_raw"))
                / F.col("expected_raw")
            )
        ).alias("chi2"),
        (F.count("*") - 2).cast("long").alias("df"),
    )
    return (
        terms.crossJoin(F.broadcast(chi))
        .select(
            "kb",
            "observed",
            _r6(F.col("expected_raw")).alias("expected"),
            "n_cust",
            "sum_k",
            "chi2",
            "df",
        )
    )


registry.register(
    "geometric_gof",
    q_geometric_gof,
    f"""
    WITH per_cust AS (
      SELECT o_custkey, COUNT(*) AS k FROM orders GROUP BY 1
    ),
    bucketed AS (
      SELECT CAST(LEAST(k, 11) AS INTEGER) AS kb, COUNT(*) AS observed
      FROM per_cust GROUP BY 1
    ),
    tot AS (
      SELECT COUNT(*) AS n_cust, CAST(SUM(k) AS BIGINT) AS sum_k
      FROM per_cust
    ),
    grid AS (
      SELECT CAST(kb AS INTEGER) AS kb
      FROM UNNEST(range(1, 12)) AS t(kb)
    ),
    j AS (
      SELECT g.kb, COALESCE(b.observed, 0) AS observed, t.n_cust, t.sum_k
      FROM grid g LEFT JOIN bucketed b ON g.kb = b.kb CROSS JOIN tot t
    ),
    terms AS (
      SELECT kb, observed, n_cust, sum_k,
             CASE WHEN kb < 11 THEN
               CAST(n_cust AS DOUBLE)
               * POW(1.0 - CAST(n_cust AS DOUBLE) / CAST(sum_k AS DOUBLE),
                     CAST(kb AS DOUBLE) - 1)
               * (CAST(n_cust AS DOUBLE) / CAST(sum_k AS DOUBLE))
             ELSE
               CAST(n_cust AS DOUBLE)
               * POW(1.0 - CAST(n_cust AS DOUBLE) / CAST(sum_k AS DOUBLE),
                     10.0)
             END AS expected_raw
      FROM j
    ),
    chi AS (
      SELECT {_r6_sql(
        "SUM((CAST(observed AS DOUBLE) - expected_raw)"
        " * (CAST(observed AS DOUBLE) - expected_raw) / expected_raw)"
      )} AS chi2,
             CAST(COUNT(*) - 2 AS BIGINT) AS df
      FROM terms
    )
    SELECT kb, observed,
           {_r6_sql("expected_raw")} AS expected,
           n_cust, sum_k, chi2, df
    FROM terms CROSS JOIN chi
    """,
)
