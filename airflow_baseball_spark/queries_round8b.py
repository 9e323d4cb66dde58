"""Round-8b additions: series-complexity diagnostics (permutation /
sample entropy, PACF, Page trend), rank-agreement metrics (RBO,
ERR@k), and exact multiple-testing control (sign test + Benjamini-
Hochberg) — the second-order health checks an analytics pipeline runs
on top of the round-1..8 aggregates.

House rules throughout: every fact table is aggregated to a
calendar-bounded frame (days / weeks / brands / types) before any
window or self-join touches it, money is quantized to integer cents
BEFORE summation, cross-engine float surfaces are either exact dyadic
rationals (sign-test p-values), identical-IEEE expression trees, or
``_r6``-guarded final divisions. Global windows only ever sort the
bounded frames and are allowlisted in tests/test_plan_quality_r8.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from airflow_baseball_spark import registry
from airflow_baseball_spark.functions.scalar import dec_portable
from airflow_baseball_spark.functions.scalar import round6_portable as _r6
from airflow_baseball_spark.functions.scalar import r6_sql as _r6_sql
from airflow_baseball_spark.schemas import load_table

_DAILY_CTE = """
    daily AS (
      SELECT o_orderdate AS d,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) / 100
                           AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS v
      FROM orders GROUP BY o_orderdate
    )
"""


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact decimal daily order revenue — the calendar-bounded series
    (2,399 rows on the driver generation; thousands at century scale)
    every operator below starts from. One fact pass, map-combinable."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(dec_portable("o_totalprice", 18, 2))
        .cast("decimal(18,2)")
        .alias("v")
    )


# ---------------------------------------------------------------------------
# Permutation entropy (Bandt-Pompe ordinal patterns, m=3)
# ---------------------------------------------------------------------------


def q_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bandt-Pompe permutation entropy of the daily revenue series at
    embedding dimension m=3: each consecutive triple is reduced to its
    ordinal pattern (ties broken by temporal position, the standard
    stable-argsort convention), pattern frequencies give
    H = -sum p ln p.

    Exactness: patterns come from DECIMAL comparisons (exact both
    engines); the only floats are the per-pattern share and the
    entropy, both ``_r6``-guarded single divisions of exact BIGINTs.
    Scale: one fact pass to the days-sized series; the ONE
    unpartitioned window is days-bounded (documented safe,
    allowlisted); pattern space is 6 rows."""
    daily = _daily(spark, sf_dir)
    w = Window.orderBy("d")
    t = daily.select(
        F.col("v").alias("x0"),
        F.lead("v", 1).over(w).alias("x1"),
        F.lead("v", 2).over(w).alias("x2"),
    ).filter(F.col("x2").isNotNull())
    x0, x1, x2 = F.col("x0"), F.col("x1"), F.col("x2")
    b = lambda c: c.cast("int")  # noqa: E731
    r0 = b(x1 < x0) + b(x2 < x0)
    r1 = b(x0 <= x1) + b(x2 < x1)
    r2 = b(x0 <= x2) + b(x1 <= x2)
    pats = t.select(
        (r0 * 100 + r1 * 10 + r2).alias("pattern")
    ).groupBy("pattern").agg(F.count("*").alias("cnt"))
    tot = pats.agg(F.sum("cnt").alias("n_triples"))
    share = F.col("cnt").cast("double") / F.col("n_triples").cast("double")
    ent = pats.crossJoin(F.broadcast(tot)).agg(
        _r6(-F.sum(share * F.log(share))).alias("perm_entropy")
    )
    return (
        pats.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ent))
        .select(
            "pattern",
            "cnt",
            _r6(share).alias("share"),
            "n_triples",
            "perm_entropy",
        )
    )


registry.register(
    "permutation_entropy",
    q_permutation_entropy,
    f"""
    WITH {_DAILY_CTE},
    trip AS (
      SELECT v AS x0,
             LEAD(v, 1) OVER (ORDER BY d) AS x1,
             LEAD(v, 2) OVER (ORDER BY d) AS x2
      FROM daily
    ),
    pats AS (
      SELECT (CAST(x1 < x0 AS INTEGER) + CAST(x2 < x0 AS INTEGER)) * 100
             + (CAST(x0 <= x1 AS INTEGER) + CAST(x2 < x1 AS INTEGER)) * 10
             + (CAST(x0 <= x2 AS INTEGER) + CAST(x1 <= x2 AS INTEGER))
               AS pattern,
             COUNT(*) AS cnt
      FROM trip WHERE x2 IS NOT NULL
      GROUP BY 1
    ),
    tot AS (SELECT SUM(cnt) AS n_triples FROM pats),
    ent AS (
      SELECT {_r6_sql(
        "-SUM((CAST(cnt AS DOUBLE) / CAST(n_triples AS DOUBLE)) "
        "* LN(CAST(cnt AS DOUBLE) / CAST(n_triples AS DOUBLE)))"
      )} AS perm_entropy
      FROM pats CROSS JOIN tot
    )
    SELECT pattern, cnt,
           {_r6_sql("CAST(cnt AS DOUBLE) / CAST(n_triples AS DOUBLE)")}
             AS share,
           n_triples, perm_entropy
    FROM pats CROSS JOIN tot CROSS JOIN ent
    """,
)


# ---------------------------------------------------------------------------
# Sample entropy (SampEn, m=2, r = floor(0.2 * sd) integer cents)
# ---------------------------------------------------------------------------


def q_sample_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample entropy of the daily revenue series: SampEn(m=2, r) =
    -ln(A/B) where B counts template pairs (i<j) matching in m=2
    dimensions under Chebyshev tolerance r and A the same in m+1=3
    dimensions. Templates are the triples with all three points
    present (one shared index set for A and B — documented variant).

    Exactness: series values are exact integer cents; the tolerance is
    an INTEGER, floor(0.2 * sd) with sd from exact decimal sufficient
    statistics (identical sqrt both engines), so every match test is
    integer arithmetic. Scale: the self-join is days² (calendar-
    bounded — 5.8M comparisons at the driver span, independent of
    fact size); the window is the allowlisted days sort."""
    daily = _daily(spark, sf_dir)
    w = Window.orderBy("d")
    t = (
        daily.select(
            F.row_number().over(w).alias("i"),
            (F.col("v") * 100).cast("long").alias("x0"),
            (F.lead("v", 1).over(w) * 100).cast("long").alias("x1"),
            (F.lead("v", 2).over(w) * 100).cast("long").alias("x2"),
        )
        .filter(F.col("x2").isNotNull())
    )
    stats = t.agg(
        F.count("*").alias("n"),
        F.sum(F.col("x0").cast("decimal(38,0)")).alias("sx"),
        F.sum(
            (F.col("x0").cast("decimal(19,0)") * F.col("x0").cast("decimal(19,0)"))
        ).alias("sxx"),
    )
    nn = F.col("n").cast("double")
    sd = F.sqrt(
        (nn * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double"))
        / (nn * (nn - F.lit(1.0)))
    )
    rtol = stats.select(
        F.col("n").alias("n_templates"),
        F.floor(sd * F.lit(0.2)).cast("long").alias("r_tol"),
    )
    a = t.select(
        F.col("i").alias("ia"),
        F.col("x0").alias("a0"),
        F.col("x1").alias("a1"),
        F.col("x2").alias("a2"),
    )
    pairs = a.crossJoin(F.broadcast(rtol)).join(
        t.select(
            F.col("i").alias("ib"),
            F.col("x0").alias("b0"),
            F.col("x1").alias("b1"),
            F.col("x2").alias("b2"),
        ),
        F.col("ia") < F.col("ib"),
    )
    d01 = F.greatest(
        F.abs(F.col("a0") - F.col("b0")), F.abs(F.col("a1") - F.col("b1"))
    )
    d012 = F.greatest(d01, F.abs(F.col("a2") - F.col("b2")))
    out = pairs.agg(
        F.first("n_templates").alias("n_templates"),
        F.first("r_tol").alias("r_tol"),
        F.sum((d01 <= F.col("r_tol")).cast("long")).alias("b_matches"),
        F.sum((d012 <= F.col("r_tol")).cast("long")).alias("a_matches"),
    )
    ratio = F.col("a_matches").cast("double") / F.col("b_matches").cast("double")
    return out.select(
        "n_templates",
        "r_tol",
        "b_matches",
        "a_matches",
        F.when(
            (F.col("a_matches") > 0) & (F.col("b_matches") > 0),
            _r6(-F.log(ratio)),
        ).alias("sampen"),
        # shape congruence on degenerate input (r8 ADVICE): <4 days
        # make the template self-join empty — the oracle's GROUP BY
        # then emits zero rows, while a bare global agg here would
        # emit one all-NULL row; drop it so both shapes agree
    ).where(F.col("b_matches").isNotNull())


registry.register(
    "sample_entropy",
    q_sample_entropy,
    f"""
    WITH {_DAILY_CTE},
    trip AS (
      SELECT ROW_NUMBER() OVER (ORDER BY d) AS i,
             CAST(v * 100 AS BIGINT) AS x0,
             CAST(LEAD(v, 1) OVER (ORDER BY d) * 100 AS BIGINT) AS x1,
             CAST(LEAD(v, 2) OVER (ORDER BY d) * 100 AS BIGINT) AS x2
      FROM daily
    ),
    t AS (SELECT * FROM trip WHERE x2 IS NOT NULL),
    stats AS (
      SELECT COUNT(*) AS n_templates,
             CAST(FLOOR(
               SQRT((CAST(COUNT(*) AS DOUBLE)
                       * CAST(SUM(CAST(x0 AS DECIMAL(19,0))
                                  * CAST(x0 AS DECIMAL(19,0))) AS DOUBLE)
                     - CAST(SUM(CAST(x0 AS DECIMAL(38,0))) AS DOUBLE)
                       * CAST(SUM(CAST(x0 AS DECIMAL(38,0))) AS DOUBLE))
                    / (CAST(COUNT(*) AS DOUBLE)
                       * (CAST(COUNT(*) AS DOUBLE) - 1.0)))
               * 0.2) AS BIGINT) AS r_tol
      FROM t
    ),
    pairs AS (
      SELECT s.n_templates, s.r_tol,
             SUM(CAST(GREATEST(ABS(a.x0 - b.x0), ABS(a.x1 - b.x1))
                      <= s.r_tol AS BIGINT)) AS b_matches,
             SUM(CAST(GREATEST(ABS(a.x0 - b.x0), ABS(a.x1 - b.x1),
                               ABS(a.x2 - b.x2))
                      <= s.r_tol AS BIGINT)) AS a_matches
      FROM t a JOIN t b ON a.i < b.i CROSS JOIN stats s
      GROUP BY 1, 2
    )
    SELECT n_templates, r_tol, b_matches, a_matches,
           CASE WHEN a_matches > 0 AND b_matches > 0 THEN
             {_r6_sql(
               "-LN(CAST(a_matches AS DOUBLE) / CAST(b_matches AS DOUBLE))"
             )}
           END AS sampen
    FROM pairs
    """,
)


# ---------------------------------------------------------------------------
# Partial autocorrelation (Durbin-Levinson on sample autocorrelations)
# ---------------------------------------------------------------------------


def q_pacf_yule_walker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PACF at lags 1-3 of the daily revenue series via the Durbin-
    Levinson recursion on sample autocorrelations, where each r_k is
    the Pearson correlation of the lag-k pairs (pairwise-complete
    convention, same as the `autocorr` query).

    Exactness: every sufficient statistic is an exact DECIMAL sum;
    r_k and the recursion are the SAME IEEE expression tree written
    on both engines, with `_r6` on the emitted values. Scale: one
    fact pass, one allowlisted days-bounded window sort, one 1-row
    aggregate; the recursion is constant work."""
    daily = _daily(spark, sf_dir)
    w = Window.orderBy("d")
    aggs = []
    for k in (1, 2, 3):
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
    stats = daily.select("v", *[F.lag("v", k).over(w).alias(f"x{k}") for k in (1, 2, 3)]).agg(*aggs)

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

    r1, r2, r3 = r_expr(1), r_expr(2), r_expr(3)
    p1 = r1
    p2 = (r2 - r1 * r1) / (F.lit(1.0) - r1 * r1)
    phi21 = r1 - p2 * r1
    p3 = (r3 - phi21 * r2 - p2 * r1) / (
        F.lit(1.0) - phi21 * r1 - p2 * r2
    )
    rows = F.array(
        F.struct(F.lit(1).alias("lag_k"), _r6(p1).alias("pacf")),
        F.struct(F.lit(2).alias("lag_k"), _r6(p2).alias("pacf")),
        F.struct(F.lit(3).alias("lag_k"), _r6(p3).alias("pacf")),
    )
    return stats.select(F.explode(rows).alias("r")).select(
        "r.lag_k", "r.pacf"
    )


def _pacf_sql() -> str:
    parts = []
    for k in (1, 2, 3):
        parts.append(
            # r11: the products are widened BEFORE multiplying --
            # DuckDB's DECIMAL(18,2)xDECIMAL(18,2) multiply yields
            # DECIMAL(18,4) on the int64 fast path and overflowed at
            # sf0.1 (daily cents ~1.8e9, product ~3e18 > 1e18); a
            # DECIMAL(38,2) left operand takes the int128 path and
            # the outer cast keeps the original DECIMAL(38,4) shape.
            # Exact decimal arithmetic, value-identical.
            f"COUNT(x{k}) AS n{k}, SUM(x{k}) AS sx{k},\n"
            f"      SUM(CASE WHEN x{k} IS NOT NULL THEN v END) AS sy{k},\n"
            f"      SUM(CAST(CAST(x{k} AS DECIMAL(38,2)) * v\n"
            f"           AS DECIMAL(38,4))) AS sxy{k},\n"
            f"      SUM(CAST(CAST(x{k} AS DECIMAL(38,2)) * x{k}\n"
            f"           AS DECIMAL(38,4))) AS sxx{k},\n"
            f"      SUM(CAST(CAST(CASE WHEN x{k} IS NOT NULL THEN v END\n"
            f"                AS DECIMAL(38,2))\n"
            f"           * CASE WHEN x{k} IS NOT NULL THEN v END\n"
            f"           AS DECIMAL(38,4))) AS syy{k}"
        )
    sums = ",\n      ".join(parts)

    def r(k: int) -> str:
        return (
            f"((CAST(n{k} AS DOUBLE) * CAST(sxy{k} AS DOUBLE)"
            f" - CAST(sx{k} AS DOUBLE) * CAST(sy{k} AS DOUBLE))"
            f" / (SQRT(CAST(n{k} AS DOUBLE) * CAST(sxx{k} AS DOUBLE)"
            f" - CAST(sx{k} AS DOUBLE) * CAST(sx{k} AS DOUBLE))"
            f" * SQRT(CAST(n{k} AS DOUBLE) * CAST(syy{k} AS DOUBLE)"
            f" - CAST(sy{k} AS DOUBLE) * CAST(sy{k} AS DOUBLE))))"
        )

    return f"""
    WITH {_DAILY_CTE},
    lagged AS (
      SELECT v,
             LAG(v, 1) OVER (ORDER BY d) AS x1,
             LAG(v, 2) OVER (ORDER BY d) AS x2,
             LAG(v, 3) OVER (ORDER BY d) AS x3
      FROM daily
    ),
    stats AS (
      SELECT {sums}
      FROM lagged
    ),
    rs AS (
      SELECT {r(1)} AS r1, {r(2)} AS r2, {r(3)} AS r3 FROM stats
    ),
    dl AS (
      SELECT r1, r2, r3,
             (r2 - r1 * r1) / (1.0 - r1 * r1) AS p2
      FROM rs
    ),
    dl2 AS (
      SELECT r1, r2, r3, p2, r1 - p2 * r1 AS phi21 FROM dl
    )
    SELECT lag_k,
           CASE lag_k
             WHEN 1 THEN {_r6_sql("r1")}
             WHEN 2 THEN {_r6_sql("p2")}
             ELSE {_r6_sql(
               "(r3 - phi21 * r2 - p2 * r1)"
               " / (1.0 - phi21 * r1 - p2 * r2)"
             )}
           END AS pacf
    FROM dl2, UNNEST([1, 2, 3]) AS t(lag_k)
    """


registry.register("pacf_yule_walker", q_pacf_yule_walker, _pacf_sql())


# ---------------------------------------------------------------------------
# Page's trend test (ordered alternatives across the week)
# ---------------------------------------------------------------------------


def q_page_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L test for a monotone day-of-week trend in daily
    revenue: blocks are complete calendar weeks (7 observed days),
    treatments are the weekday slots in epoch-day order, ranks are
    within-block (exact DECIMAL ordering, ties broken by weekday).
    L = sum over days of (weekday_slot + 1) * within_week_rank, with
    the standard normal approximation z = (L - E[L]) / sd[L],
    E[L] = k*n*(n+1)^2/4 and Var[L] = k*n^2*(n+1)*(n^2-1)/144 (n=7).

    Exactness: L is an exact BIGINT; z is one `_r6`-guarded float
    expression of integers. Scale: ranks use weekly-PARTITIONED
    windows (7 rows per partition); no global sort anywhere."""
    daily = _daily(spark, sf_dir)
    di = F.datediff(F.col("d"), F.lit("1990-01-01").cast("date"))
    t = daily.select(
        "v",
        (di / 7).cast("long").alias("wk"),
        F.pmod(di, F.lit(7)).alias("dow"),
    )
    full = (
        t.groupBy("wk").agg(F.count("*").alias("nd")).filter(F.col("nd") == 7)
    )
    t = t.join(F.broadcast(full.select("wk")), "wk")
    rnk = F.row_number().over(
        Window.partitionBy("wk").orderBy(F.col("v").asc(), F.col("dow").asc())
    )
    ranked = t.select("wk", "dow", rnk.alias("rnk"))
    out = ranked.agg(
        (F.countDistinct("wk")).alias("k_weeks"),
        F.coalesce(
            F.sum((F.col("dow") + 1) * F.col("rnk")).cast("long"), F.lit(0)
        ).alias("l_stat"),
    )
    k = F.col("k_weeks").cast("double")
    mean = k * F.lit(112.0)
    var = k * F.lit(18816.0 / 144.0)
    return out.select(
        "k_weeks",
        "l_stat",
        F.when(
            F.col("k_weeks") > 0,
            _r6((F.col("l_stat").cast("double") - mean) / F.sqrt(var)),
        ).alias("z_stat"),
    )


registry.register(
    "page_trend_test",
    q_page_trend_test,
    f"""
    WITH {_DAILY_CTE},
    t0 AS (
      SELECT v,
             CAST(FLOOR(date_diff('day', DATE '1990-01-01', d) / 7.0)
                  AS BIGINT) AS wk,
             CAST((date_diff('day', DATE '1990-01-01', d) % 7 + 7) % 7
                  AS INTEGER) AS dow
      FROM daily
    ),
    full_wk AS (
      SELECT wk FROM t0 GROUP BY wk HAVING COUNT(*) = 7
    ),
    ranked AS (
      SELECT t0.wk, t0.dow,
             ROW_NUMBER() OVER (PARTITION BY t0.wk
                                ORDER BY t0.v ASC, t0.dow ASC) AS rnk
      FROM t0 JOIN full_wk USING (wk)
    ),
    agg AS (
      SELECT COUNT(DISTINCT wk) AS k_weeks,
             COALESCE(CAST(SUM((dow + 1) * rnk) AS BIGINT), 0) AS l_stat
      FROM ranked
    )
    SELECT k_weeks, l_stat,
           CASE WHEN k_weeks > 0 THEN {_r6_sql(
             "(CAST(l_stat AS DOUBLE) - CAST(k_weeks AS DOUBLE) * 112.0)"
             " / SQRT(CAST(k_weeks AS DOUBLE) * (18816.0 / 144.0))"
           )} END AS z_stat
    FROM agg
    """,
)


# ---------------------------------------------------------------------------
# Rank-biased overlap of the brand revenue ranking, H1 vs H2
# ---------------------------------------------------------------------------


def q_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated rank-biased overlap (Webber et al., p=0.9, depth 20)
    between the brand-by-revenue rankings of the first and second
    halves of the order-date span: at each depth d the weight
    p^(d-1)/d multiplies the prefix-intersection size, and
    RBO@20 = (1-p) * sum of the weighted terms.

    Exactness: rankings order exact integer cents with a brand
    tiebreak; the prefix-intersection size at depth d is the count of
    brands whose BOTH ranks are <= d (pure integers); p^(d-1) is
    identical libm pow on both engines and the per-depth term plus
    the final sum are `_r6`-guarded. Scale: two fact passes aggregate
    to the 25-row brand frame; the global windows sort that bounded
    frame (allowlisted); depths explode from a constant sequence."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    span = o.agg(
        F.min("o_orderdate").alias("dmin"), F.max("o_orderdate").alias("dmax")
    ).select(
        (
            F.datediff("dmax", "dmin") / 2
        ).cast("long").alias("half_span"),
        "dmin",
    )
    rev = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .crossJoin(F.broadcast(span))
        .select(
            "p_brand",
            (
                F.datediff(F.col("o_orderdate"), F.col("dmin"))
                <= F.col("half_span")
            ).alias("is_h1"),
            (dec_portable("l_extendedprice", 18, 2) * 100)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("p_brand")
        .agg(
            F.sum(F.when(F.col("is_h1"), F.col("cents")).otherwise(0)).alias(
                "rev_h1"
            ),
            F.sum(
                F.when(~F.col("is_h1"), F.col("cents")).otherwise(0)
            ).alias("rev_h2"),
        )
    )
    ra = F.row_number().over(
        Window.orderBy(F.col("rev_h1").desc(), F.col("p_brand").asc())
    )
    rb = F.row_number().over(
        Window.orderBy(F.col("rev_h2").desc(), F.col("p_brand").asc())
    )
    ranked = rev.select("p_brand", ra.alias("ra"), rb.alias("rb"))
    depths = spark.range(1, 21).select(F.col("id").cast("int").alias("depth"))
    per_depth = (
        depths.join(
            ranked.filter((F.col("ra") <= 20) & (F.col("rb") <= 20)),
            F.greatest(F.col("ra"), F.col("rb")) <= F.col("depth"),
            "left",
        )
        .groupBy("depth")
        .agg(F.count("p_brand").alias("x_d"))
    )
    term = (
        F.pow(F.lit(0.9), F.col("depth").cast("double") - 1)
        * F.col("x_d").cast("double")
        / F.col("depth").cast("double")
    )
    rbo = per_depth.agg(_r6(F.lit(0.1) * F.sum(term)).alias("rbo"))
    return (
        per_depth.crossJoin(F.broadcast(rbo))
        .select("depth", "x_d", _r6(term).alias("term"), "rbo")
    )


registry.register(
    "rank_biased_overlap",
    q_rank_biased_overlap,
    f"""
    WITH span AS (
      SELECT MIN(o_orderdate) AS dmin,
             CAST(FLOOR(date_diff('day', MIN(o_orderdate),
                                  MAX(o_orderdate)) / 2.0) AS BIGINT)
               AS half_span
      FROM orders
    ),
    rev AS (
      SELECT p.p_brand,
             SUM(CASE WHEN date_diff('day', s.dmin, o.o_orderdate)
                        <= s.half_span
                 THEN CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                 ELSE 0 END) AS rev_h1,
             SUM(CASE WHEN date_diff('day', s.dmin, o.o_orderdate)
                        > s.half_span
                 THEN CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                 ELSE 0 END) AS rev_h2
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      CROSS JOIN span s
      GROUP BY 1
    ),
    ranked AS (
      SELECT p_brand,
             ROW_NUMBER() OVER (ORDER BY rev_h1 DESC, p_brand ASC) AS ra,
             ROW_NUMBER() OVER (ORDER BY rev_h2 DESC, p_brand ASC) AS rb
      FROM rev
    ),
    per_depth AS (
      SELECT d.depth, COUNT(r.p_brand) AS x_d
      FROM UNNEST(range(1, 21)) AS d(depth)
      LEFT JOIN (SELECT * FROM ranked WHERE ra <= 20 AND rb <= 20) r
        ON GREATEST(r.ra, r.rb) <= d.depth
      GROUP BY 1
    ),
    rbo AS (
      SELECT {_r6_sql(
        "0.1 * SUM(POW(0.9, CAST(depth AS DOUBLE) - 1)"
        " * CAST(x_d AS DOUBLE) / CAST(depth AS DOUBLE))"
      )} AS rbo
      FROM per_depth
    )
    SELECT CAST(depth AS INTEGER) AS depth, x_d,
           {_r6_sql(
             "POW(0.9, CAST(depth AS DOUBLE) - 1)"
             " * CAST(x_d AS DOUBLE) / CAST(depth AS DOUBLE)"
           )} AS term,
           rbo
    FROM per_depth CROSS JOIN rbo
    """,
)


# ---------------------------------------------------------------------------
# Expected reciprocal rank at 5 (cascade user model) per market segment
# ---------------------------------------------------------------------------


def q_err_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ERR@5 (Chapelle's cascade model) per market segment: the top-5
    brands by first-half revenue form each segment's ranked list; the
    relevance grade g in 0..4 is the brand's second-half standing
    among those five (best H2 revenue -> g=4), R = (2^g - 1) / 2^4,
    and ERR = sum over ranks r of R_r / r * prod_{j<r} (1 - R_j).

    Exactness: grades come from exact-cents rankings; R and (1-R) are
    dyadic rationals (exact doubles); the cascade product is
    exp(cumulative-ordered-sum(ln(1-R))) — a deterministic
    rank-ordered window on both engines — and the 5-term final sum is
    `_r6`-guarded. Scale: one fact pass to the (segment x brand)
    frame (125 rows); every window is segment-partitioned."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    span = o.agg(
        F.min("o_orderdate").alias("dmin"), F.max("o_orderdate").alias("dmax")
    ).select(
        (F.datediff("dmax", "dmin") / 2).cast("long").alias("half_span"),
        "dmin",
    )
    rev = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, F.col("o_custkey") == c["c_custkey"])
        .crossJoin(F.broadcast(span))
        .select(
            "c_mktsegment",
            "p_brand",
            (
                F.datediff(F.col("o_orderdate"), F.col("dmin"))
                <= F.col("half_span")
            ).alias("is_h1"),
            (dec_portable("l_extendedprice", 18, 2) * 100)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("c_mktsegment", "p_brand")
        .agg(
            F.sum(F.when(F.col("is_h1"), F.col("cents")).otherwise(0)).alias(
                "rev_h1"
            ),
            F.sum(
                F.when(~F.col("is_h1"), F.col("cents")).otherwise(0)
            ).alias("rev_h2"),
        )
    )
    wseg = Window.partitionBy("c_mktsegment")
    top5 = rev.withColumn(
        "r",
        F.row_number().over(
            wseg.orderBy(F.col("rev_h1").desc(), F.col("p_brand").asc())
        ),
    ).filter(F.col("r") <= 5)
    graded = top5.withColumn(
        "g",
        F.lit(5)
        - F.row_number().over(
            wseg.orderBy(F.col("rev_h2").desc(), F.col("p_brand").asc())
        ),
    )
    rel = (F.pow(F.lit(2.0), F.col("g").cast("double")) - 1) / F.lit(16.0)
    graded = graded.withColumn("rel", rel)
    stop = F.exp(
        F.coalesce(
            F.sum(F.log(F.lit(1.0) - F.col("rel"))).over(
                wseg.orderBy("r").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0.0),
        )
    )
    terms = graded.select(
        "c_mktsegment",
        "r",
        (F.col("rel") / F.col("r").cast("double") * stop).alias("term"),
    )
    return (
        terms.groupBy("c_mktsegment")
        .agg(_r6(F.sum("term")).alias("err_at_5"))
    )


registry.register(
    "err_at_k",
    q_err_at_k,
    """
    WITH span AS (
      SELECT MIN(o_orderdate) AS dmin,
             CAST(FLOOR(date_diff('day', MIN(o_orderdate),
                                  MAX(o_orderdate)) / 2.0) AS BIGINT)
               AS half_span
      FROM orders
    ),
    rev AS (
      SELECT c.c_mktsegment, p.p_brand,
             SUM(CASE WHEN date_diff('day', s.dmin, o.o_orderdate)
                        <= s.half_span
                 THEN CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                 ELSE 0 END) AS rev_h1,
             SUM(CASE WHEN date_diff('day', s.dmin, o.o_orderdate)
                        > s.half_span
                 THEN CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                 ELSE 0 END) AS rev_h2
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      CROSS JOIN span s
      GROUP BY 1, 2
    ),
    top5 AS (
      SELECT * FROM (
        SELECT c_mktsegment, p_brand, rev_h2,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                  ORDER BY rev_h1 DESC, p_brand ASC) AS r
        FROM rev
      ) WHERE r <= 5
    ),
    graded AS (
      SELECT c_mktsegment, r,
             (POW(2.0, CAST(5 - ROW_NUMBER() OVER (
                PARTITION BY c_mktsegment
                ORDER BY rev_h2 DESC, p_brand ASC) AS DOUBLE)) - 1)
             / 16.0 AS rel
      FROM top5
    ),
    terms AS (
      SELECT c_mktsegment, r, rel,
             EXP(COALESCE(SUM(LN(1.0 - rel)) OVER (
               PARTITION BY c_mktsegment ORDER BY r
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0))
               AS stop_prob
      FROM graded
    )
    SELECT c_mktsegment,
           FLOOR(SUM(rel / CAST(r AS DOUBLE) * stop_prob)
                 * 1000000.0 + 0.5) / 1000000.0 AS err_at_5
    FROM terms
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# Exact sign test per event type + Benjamini-Hochberg FDR control
# ---------------------------------------------------------------------------


def q_sign_test_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type exact sign test of daily event counts against
    the global median, with Benjamini-Hochberg FDR control across the
    type family: k = days strictly above the all-(type,day) median
    count (order-statistic pick, value at ascending position
    (N+1)//2), two-sided p = min(1, 2 * sum_{j>=max(k,n-k)}
    C(n,j) / 2^n), and BH rejects ranks 1..i* where i* is the largest
    i with p_(i) <= 0.05 * i / m.

    Exactness: the p-values are EXACT dyadic rationals — binomial
    coefficients build by PURE-INTEGER recurrence inside an in-row
    ``aggregate()`` (Spark ``div`` / DuckDB ``//``; every step of
    acc*(n-j+i)/i divides exactly), scaled by the exact power 2^-n —
    so both engines emit bit-equal doubles with no rounding guard;
    the BH comparison multiplies the dyadic p by the exact small
    integer 20*m. Domain guard (r8 ADVICE): both sides filter to
    n_days <= 60, the bound under which the recurrence's intermediate
    product C(n,j)*(n-j+i) stays inside BIGINT — beyond it the exact
    test needs log-space tails, and a silently-imprecise p is worse
    than an absent row. The testdata generation spans ~30 days; the
    filter is an identity there. Scale: one fact pass to the
    (type x day) frame (types x calendar days); the ONE global sort
    orders that bounded frame (allowlisted)."""
    ev = load_table(spark, sf_dir, "events")
    td = ev.groupBy(
        F.col("event_type"), F.to_date("ts").alias("day")
    ).agg(F.count("*").alias("cnt"))
    med = (
        td.select(
            "cnt",
            F.row_number().over(Window.orderBy(F.col("cnt").asc())).alias(
                "rn"
            ),
            F.count("*").over(Window.partitionBy()).alias("n_all"),
        )
        .filter(
            F.col("rn")
            == ((F.col("n_all") + 1) / 2).cast("long")
        )
        .select(F.col("cnt").alias("med"))
    )
    per_type = (
        td.crossJoin(F.broadcast(med))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_days"),
            F.sum((F.col("cnt") > F.col("med")).cast("long")).alias(
                "k_above"
            ),
        )
        # BIGINT-exactness domain of the C(n,j) recurrence (docstring)
        .filter(F.col("n_days") <= 60)
    )
    n = F.col("n_days")
    # tail = sum_{j=t..n} C(n,j); C via the exact integer recurrence
    # acc_i = acc_{i-1} * (n - j + i) div i (always divides exactly).
    # One SQL higher-order expression so the division is the INTEGER
    # `div` (r8 ADVICE) — `/` on Spark longs routes through a double
    # and silently loses exactness past 2^53; div matches the
    # oracle's `//` and stays exact to the documented n_days<=60 cap
    tail = F.expr(
        """
        aggregate(
          sequence(greatest(k_above, n_days - k_above), n_days),
          CAST(0 AS BIGINT),
          (acc, j) -> acc + aggregate(
            CASE WHEN j > 0 THEN sequence(1, j)
                 ELSE CAST(array() AS array<int>) END,
            CAST(1 AS BIGINT),
            (c, i) -> CAST((c * (n_days - j + i)) div i AS BIGINT)
          )
        )
        """
    )
    scored = per_type.select(
        "event_type",
        "n_days",
        "k_above",
        F.least(
            F.lit(1.0),
            F.lit(2.0)
            * tail.cast("double")
            * F.pow(F.lit(0.5), n.cast("double")),
        ).alias("p_exact"),
    )
    m_tbl = scored.agg(F.count("*").alias("m"))
    ranked = scored.crossJoin(F.broadcast(m_tbl)).select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.col("p_exact").asc(), F.col("event_type").asc()))
        .alias("bh_rank"),
    )
    flagged = ranked.withColumn(
        "ok",
        (
            F.col("p_exact") * F.lit(20.0) * F.col("m").cast("double")
            <= F.col("bh_rank").cast("double")
        ).cast("int"),
    )
    istar = flagged.agg(
        F.max(F.when(F.col("ok") == 1, F.col("bh_rank")).otherwise(0)).alias(
            "i_star"
        )
    )
    return (
        flagged.crossJoin(F.broadcast(istar))
        .select(
            "event_type",
            "n_days",
            "k_above",
            "p_exact",
            "bh_rank",
            (F.col("bh_rank") <= F.col("i_star")).cast("int").alias(
                "bh_reject"
            ),
        )
    )


registry.register(
    "sign_test_bh",
    q_sign_test_bh,
    """
    WITH td AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
    ),
    med AS (
      SELECT cnt AS med FROM (
        SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt ASC) AS rn,
               COUNT(*) OVER () AS n_all
        FROM td
      ) WHERE rn = (n_all + 1) // 2
    ),
    per_type AS (
      SELECT event_type, COUNT(*) AS n_days,
             CAST(SUM(CAST(cnt > med AS BIGINT)) AS BIGINT) AS k_above
      FROM td CROSS JOIN med
      GROUP BY 1
      HAVING COUNT(*) <= 60  -- BIGINT-exactness domain of C(n,j)
    ),
    tails AS (
      SELECT event_type, n_days, k_above, j
      FROM per_type,
           UNNEST(range(GREATEST(k_above, n_days - k_above),
                        n_days + 1)) AS t(j)
    ),
    scored AS (
      SELECT event_type, n_days, k_above,
             LEAST(1.0, 2.0 * CAST(SUM(list_reduce(
               list_prepend(CAST(1 AS BIGINT),
                            range(CAST(1 AS BIGINT), j + 1)),
               (acc, i) -> CAST(acc * (n_days - j + i) // i AS BIGINT)))
               AS DOUBLE)
               * POW(0.5, CAST(n_days AS DOUBLE))) AS p_exact
      FROM tails
      GROUP BY 1, 2, 3
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY p_exact ASC, event_type ASC)
               AS bh_rank,
             COUNT(*) OVER () AS m
      FROM scored
    ),
    flagged AS (
      SELECT *, CAST(p_exact * 20.0 * CAST(m AS DOUBLE)
                     <= CAST(bh_rank AS DOUBLE) AS INTEGER) AS ok
      FROM ranked
    ),
    istar AS (
      SELECT MAX(CASE WHEN ok = 1 THEN bh_rank ELSE 0 END) AS i_star
      FROM flagged
    )
    SELECT event_type, n_days, k_above, p_exact,
           CAST(bh_rank AS BIGINT) AS bh_rank,
           CAST(bh_rank <= i_star AS INTEGER) AS bh_reject
    FROM flagged CROSS JOIN istar
    """,
)


# ---------------------------------------------------------------------------
# Plug-in Markov entropy rate of the event-type process
# ---------------------------------------------------------------------------


def q_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plug-in (empirical first-order Markov) entropy rate of each
    user's event-type stream: transitions (a -> b) from consecutive
    events per user ordered by (ts, event_id); H = sum over pairs of
    (n_ab / N) * -ln(n_ab / n_a) where n_a is the source marginal and
    N the total transition count.

    Exactness: all counts are exact BIGINTs; the conditional
    probability and each entropy contribution are `_r6`-guarded
    single-float expressions, and the repeated total is the
    `_r6`-guarded sum over the types^2-bounded pair frame. Scale: the
    transition extraction uses a user-PARTITIONED window (per-user
    sequences, shards freely); everything after is types^2 rows."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("a"),
            F.lead("event_type").over(w).alias("b"),
        )
        .filter(F.col("b").isNotNull())
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_ab"))
    )
    marg = pairs.groupBy("a").agg(F.sum("n_ab").alias("n_a"))
    tot = pairs.agg(F.sum("n_ab").alias("n_tot"))
    j = pairs.join(F.broadcast(marg), "a").crossJoin(F.broadcast(tot))
    p_cond = F.col("n_ab").cast("double") / F.col("n_a").cast("double")
    contrib = (
        F.col("n_ab").cast("double") / F.col("n_tot").cast("double")
    ) * -F.log(p_cond)
    hrate = j.agg(_r6(F.sum(contrib)).alias("entropy_rate"))
    return (
        j.crossJoin(F.broadcast(hrate))
        .select(
            "a",
            "b",
            "n_ab",
            _r6(p_cond).alias("p_cond"),
            _r6(contrib).alias("h_term"),
            "entropy_rate",
        )
    )


registry.register(
    "markov_entropy_rate",
    q_markov_entropy_rate,
    """
    WITH seq AS (
      SELECT event_type AS a,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS b
      FROM events
    ),
    pairs AS (
      SELECT a, b, COUNT(*) AS n_ab FROM seq WHERE b IS NOT NULL
      GROUP BY 1, 2
    ),
    marg AS (SELECT a, SUM(n_ab) AS n_a FROM pairs GROUP BY 1),
    tot AS (SELECT SUM(n_ab) AS n_tot FROM pairs),
    j AS (
      SELECT p.a, p.b, p.n_ab, m.n_a, t.n_tot
      FROM pairs p JOIN marg m USING (a) CROSS JOIN tot t
    ),
    hrate AS (
      SELECT FLOOR(SUM((CAST(n_ab AS DOUBLE) / CAST(n_tot AS DOUBLE))
                       * -LN(CAST(n_ab AS DOUBLE) / CAST(n_a AS DOUBLE)))
                   * 1000000.0 + 0.5) / 1000000.0 AS entropy_rate
      FROM j
    )
    SELECT a, b, n_ab,
           FLOOR((CAST(n_ab AS DOUBLE) / CAST(n_a AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS p_cond,
           FLOOR(((CAST(n_ab AS DOUBLE) / CAST(n_tot AS DOUBLE))
                  * -LN(CAST(n_ab AS DOUBLE) / CAST(n_a AS DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0 AS h_term,
           entropy_rate
    FROM j CROSS JOIN hrate
    """,
)
