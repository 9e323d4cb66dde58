"""Round-8e additions: SQL-string API surface (correlated NOT EXISTS,
window shares — proof the engine serves SQL-first users identically
to the DataFrame DSL), a SimHash bit-balance audit, calendar lift,
Weibull lifetime fitting, and catalog cold-start coverage.

House rules: SQL-string queries run through temp views + spark.sql
(the sql_api_pricing precedent) with BIGINT-only or `_r6`-guarded
surfaces; log-moment sums quantize per-gap to micro-nats before the
cross-row sum; everything aggregates to bounded frames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airflow_baseball_spark import registry
from airflow_baseball_spark.functions.scalar import round6_portable as _r6
from airflow_baseball_spark.functions.scalar import r6_sql as _r6_sql
from airflow_baseball_spark.schemas import load_table

# ---------------------------------------------------------------------------
# SQL-string API: correlated NOT EXISTS (inactive suppliers by nation)
# ---------------------------------------------------------------------------


def q_sql_api_exists_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated NOT EXISTS through the SQL STRING interface: per
    nation, how many suppliers have NO bulk lineitem (quantity > 45) —
    the anti-join written the way a SQL-first analyst writes it, to
    prove the subquery-decorrelation path of the engine (Catalyst
    rewrites the correlated NOT EXISTS into the same left-anti hash
    join the DSL produces).

    Exactness: pure integer counts. Scale: decorrelated anti join
    shuffles on suppkey; nation dim broadcasts."""
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView(
        "supp_sql_api"
    )
    load_table(spark, sf_dir, "nation").createOrReplaceTempView(
        "nation_sql_api"
    )
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "li_sql_api_ea"
    )
    return spark.sql(
        """
        SELECT n.n_name AS nation,
               COUNT(*) AS n_suppliers,
               SUM(CASE WHEN NOT EXISTS (
                     SELECT 1 FROM li_sql_api_ea l
                     WHERE l.l_suppkey = s.s_suppkey
                       AND l.l_quantity > 45
                   ) THEN 1 ELSE 0 END) AS n_no_bulk
        FROM supp_sql_api s
        JOIN nation_sql_api n ON s.s_nationkey = n.n_nationkey
        GROUP BY n.n_name
        """
    )


registry.register(
    "sql_api_exists_anti",
    q_sql_api_exists_anti,
    """
    SELECT n.n_name AS nation,
           COUNT(*) AS n_suppliers,
           CAST(SUM(CASE WHEN NOT EXISTS (
                 SELECT 1 FROM lineitem l
                 WHERE l.l_suppkey = s.s_suppkey
                   AND l.l_quantity > 45
               ) THEN 1 ELSE 0 END) AS BIGINT) AS n_no_bulk
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)


# ---------------------------------------------------------------------------
# SQL-string API: window revenue share (nation within region)
# ---------------------------------------------------------------------------


def q_sql_api_window_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation revenue share within its region through the SQL STRING
    interface — SUM OVER (PARTITION BY) in SQL text, the analyst's
    percent-of-total idiom (sql_api_pricing's window-function
    sibling).

    Exactness: cents are exact BIGINTs; the share is one `_r6`
    division inside the SQL. Scale: one fact pass to the 25-row
    nation frame; the window partitions that frame by region."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_sql_api_ws"
    )
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "cust_sql_api_ws"
    )
    load_table(spark, sf_dir, "nation").createOrReplaceTempView(
        "nation_sql_api_ws"
    )
    load_table(spark, sf_dir, "region").createOrReplaceTempView(
        "region_sql_api_ws"
    )
    return spark.sql(
        """
        WITH nat_rev AS (
          SELECT r.r_name AS region, n.n_name AS nation,
                 SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
                   AS rev_cents
          FROM orders_sql_api_ws o
          JOIN cust_sql_api_ws c ON o.o_custkey = c.c_custkey
          JOIN nation_sql_api_ws n ON c.c_nationkey = n.n_nationkey
          JOIN region_sql_api_ws r ON n.n_regionkey = r.r_regionkey
          GROUP BY r.r_name, n.n_name
        )
        SELECT region, nation, rev_cents,
               CAST(FLOOR(CAST(rev_cents AS DOUBLE)
                     / CAST(SUM(rev_cents) OVER (PARTITION BY region)
                            AS DOUBLE) * 1e6 + 0.5) / 1e6 AS DOUBLE)
                 AS region_share
        FROM nat_rev
        """
    )


registry.register(
    "sql_api_window_share",
    q_sql_api_window_share,
    """
    WITH nat_rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS rev_cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY r.r_name, n.n_name
    )
    SELECT region, nation, rev_cents,
           FLOOR(CAST(rev_cents AS DOUBLE)
                 / CAST(SUM(rev_cents) OVER (PARTITION BY region)
                        AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
             AS region_share
    FROM nat_rev
    """,
)


# ---------------------------------------------------------------------------
# SimHash bit-balance audit
# ---------------------------------------------------------------------------


def q_simhash_bit_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bit-prevalence audit of the corpus SimHash fingerprints: for
    every bit position, the share of documents with that bit set.
    A healthy hash keeps every bit near 0.5; a skewed bit (the max
    deviation is reported on every row) weakens Hamming-distance
    near-dup detection by collapsing fingerprint diversity.

    Exactness: bit extraction and counts are pure integers; share and
    deviation are `_r6` divisions. Scale: fingerprints come from the
    existing one-pass SimHash (token explode + in-row bit votes); the
    audit explodes SIMHASH_BITS bits per DOC-SIGNATURE row (docs ×
    bits, not tokens × bits) and aggregates to a bits-sized frame."""
    from airflow_baseball_spark.queries_text import _simhash_fps
    from airflow_baseball_spark.text import dedup

    sigs = _simhash_fps(spark, sf_dir)
    bits = sigs.select(
        F.explode(
            F.sequence(F.lit(0), F.lit(dedup.SIMHASH_BITS - 1))
        ).alias("bit"),
        F.col("simhash"),
    ).select(
        "bit",
        F.expr("shiftright(simhash, bit) & 1").alias("b"),
    )
    per_bit = bits.groupBy("bit").agg(
        F.count("*").alias("n_docs"),
        F.sum("b").cast("long").alias("n_ones"),
    )
    share = F.col("n_ones").cast("double") / F.col("n_docs").cast("double")
    dev = F.abs(share - F.lit(0.5))
    worst = per_bit.agg(_r6(F.max(dev)).alias("max_deviation"))
    return (
        per_bit.crossJoin(F.broadcast(worst))
        .select(
            "bit",
            "n_docs",
            "n_ones",
            _r6(share).alias("share_ones"),
            _r6(dev).alias("deviation"),
            "max_deviation",
        )
    )


def _simhash_bit_balance_sql() -> str:
    from airflow_baseball_spark.queries_text import _simhash_sql

    from airflow_baseball_spark.text import dedup as _dd
    nbits = _dd.SIMHASH_BITS
    return f"""
    WITH sig AS ({_simhash_sql()}),
    bits AS (
      SELECT t.bit, (simhash // (1 << t.bit)) % 2 AS b
      FROM sig, UNNEST(range(0, {nbits})) AS t(bit)
    ),
    per_bit AS (
      SELECT bit, COUNT(*) AS n_docs, CAST(SUM(b) AS BIGINT) AS n_ones
      FROM bits GROUP BY 1
    ),
    worst AS (
      SELECT {_r6_sql(
        "MAX(ABS(CAST(n_ones AS DOUBLE) / CAST(n_docs AS DOUBLE) - 0.5))"
      )} AS max_deviation
      FROM per_bit
    )
    SELECT CAST(bit AS INTEGER) AS bit, n_docs, n_ones,
           {_r6_sql("CAST(n_ones AS DOUBLE) / CAST(n_docs AS DOUBLE)")}
             AS share_ones,
           {_r6_sql(
             "ABS(CAST(n_ones AS DOUBLE) / CAST(n_docs AS DOUBLE) - 0.5)"
           )} AS deviation,
           max_deviation
    FROM per_bit CROSS JOIN worst
    """


registry.register(
    "simhash_bit_balance",
    q_simhash_bit_balance,
    _simhash_bit_balance_sql(),
)


# ---------------------------------------------------------------------------
# Month-end revenue lift by quarter
# ---------------------------------------------------------------------------


def q_holiday_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-end purchasing lift by quarter: average daily revenue on
    run-up days (day-of-month >= 25) versus ordinary days, and their
    ratio — the calendar-effect read a demand planner checks before
    trusting a forecast's seasonal profile.

    Exactness: daily revenue is exact cents; the two averages and the
    lift are `_r6` divisions of exact sums. Scale: one fact pass to
    the days-sized frame, then an 8-cell aggregate."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
        .alias("cents")
    )
    cells = (
        daily.select(
            F.quarter("d").alias("qtr"),
            (F.dayofmonth("d") >= 25).alias("is_end"),
            "cents",
        )
        .groupBy("qtr", "is_end")
        .agg(F.count("*").alias("n_days"), F.sum("cents").alias("s"))
    )
    endc = cells.filter(F.col("is_end")).select(
        "qtr",
        F.col("n_days").alias("n_end_days"),
        F.col("s").alias("s_end"),
    )
    othc = cells.filter(~F.col("is_end")).select(
        F.col("qtr").alias("qtr2"),
        F.col("n_days").alias("n_other_days"),
        F.col("s").alias("s_other"),
    )
    j = endc.join(othc, endc["qtr"] == othc["qtr2"])
    avg_end = F.col("s_end").cast("double") / F.col("n_end_days").cast(
        "double"
    ) / 100.0
    avg_other = F.col("s_other").cast("double") / F.col(
        "n_other_days"
    ).cast("double") / 100.0
    return j.select(
        "qtr",
        "n_end_days",
        "n_other_days",
        _r6(avg_end).alias("avg_end_dollars"),
        _r6(avg_other).alias("avg_other_dollars"),
        _r6(avg_end / avg_other).alias("lift"),
    )


registry.register(
    "holiday_lift",
    q_holiday_lift,
    f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    cells AS (
      SELECT quarter(d) AS qtr, day(d) >= 25 AS is_end,
             COUNT(*) AS n_days, CAST(SUM(cents) AS BIGINT) AS s
      FROM daily GROUP BY 1, 2
    )
    SELECT e.qtr, e.n_days AS n_end_days, o.n_days AS n_other_days,
           {_r6_sql(
             "CAST(e.s AS DOUBLE) / CAST(e.n_days AS DOUBLE) / 100.0"
           )} AS avg_end_dollars,
           {_r6_sql(
             "CAST(o.s AS DOUBLE) / CAST(o.n_days AS DOUBLE) / 100.0"
           )} AS avg_other_dollars,
           {_r6_sql(
             "(CAST(e.s AS DOUBLE) / CAST(e.n_days AS DOUBLE))"
             " / (CAST(o.s AS DOUBLE) / CAST(o.n_days AS DOUBLE))"
           )} AS lift
    FROM (SELECT * FROM cells WHERE is_end) e
    JOIN (SELECT * FROM cells WHERE NOT is_end) o ON e.qtr = o.qtr
    """,
)


# ---------------------------------------------------------------------------
# Weibull lifetime fit on inter-event gaps (log-moment estimator)
# ---------------------------------------------------------------------------


def q_weibull_moments_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull(k, lambda) fit to per-user inter-event gaps by type,
    via the closed-form log-moment (Menon) estimator: with
    L = ln(gap_seconds), k = (pi/sqrt(6)) / sd(L) and
    lambda = exp(mean(L) + gamma_EM / k) — the parametric lifetime
    model next to the nonparametric kaplan_meier/nelson_aalen pair
    (k < 1 reads as bursty, k > 1 as regular).

    Exactness: each ln-gap quantizes to exact integer MICRO-nats
    before the sums (quantize-before-sum; the square sum rides
    DECIMAL(38,0)), so mean/sd inputs are engine-identical integers
    and the k/lambda tree is identical IEEE/libm. Scale: gaps from a
    user-partitioned lag; sums are map-combinable by type."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        F.unix_micros(F.col("ts")).alias("us"),
        "event_id",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("event_type", "user_id").orderBy(
        "us", "event_id"
    )
    gaps = (
        ev.withColumn("gap_us", F.col("us") - F.lag("us").over(w))
        .filter(F.col("gap_us") > 0)
        .select(
            "event_type",
            F.floor(
                F.log(F.col("gap_us").cast("double") / 1e6) * 1e6
                + F.lit(0.5)
            )
            .cast("long")
            .alias("l_micro"),
        )
    )
    agg = gaps.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        F.sum("l_micro").alias("sl"),
        F.sum(
            (
                F.col("l_micro").cast("decimal(19,0)")
                * F.col("l_micro").cast("decimal(19,0)")
            )
        ).alias("sll"),
    )
    n = F.col("n_gaps").cast("double")
    mean_l = F.col("sl").cast("double") / n / 1e6
    var_l = (
        (
            n * F.col("sll").cast("double")
            - F.col("sl").cast("double") * F.col("sl").cast("double")
        )
        / (n * (n - F.lit(1.0)))
        / 1e12
    )
    k = F.lit(1.2825498301618641) / F.sqrt(var_l)  # pi/sqrt(6)
    lam = F.exp(mean_l + F.lit(0.5772156649015329) / k)
    return agg.select(
        "event_type",
        "n_gaps",
        _r6(mean_l).alias("mean_log_gap"),
        _r6(F.sqrt(var_l)).alias("sd_log_gap"),
        _r6(k).alias("k_shape"),
        _r6(lam).alias("lambda_scale_sec"),
    )


registry.register(
    "weibull_moments_fit",
    q_weibull_moments_fit,
    f"""
    WITH ev AS (
      SELECT event_type, user_id, epoch_us(ts) AS us, event_id
      FROM events
    ),
    gaps AS (
      SELECT event_type,
             CAST(FLOOR(LN(CAST(us - LAG(us) OVER (
               PARTITION BY event_type, user_id ORDER BY us, event_id)
               AS DOUBLE) / 1000000.0) * 1000000.0 + 0.5) AS BIGINT)
               AS l_micro
      FROM ev
      QUALIFY us - LAG(us) OVER (PARTITION BY event_type, user_id
                                 ORDER BY us, event_id) > 0
    ),
    agg AS (
      SELECT event_type, COUNT(*) AS n_gaps,
             CAST(SUM(l_micro) AS BIGINT) AS sl,
             SUM(CAST(l_micro AS DECIMAL(19,0))
                 * CAST(l_micro AS DECIMAL(19,0))) AS sll
      FROM gaps GROUP BY 1
    )
    SELECT event_type, n_gaps,
           {_r6_sql(
             "CAST(sl AS DOUBLE) / CAST(n_gaps AS DOUBLE) / 1000000.0"
           )} AS mean_log_gap,
           {_r6_sql(
             "SQRT((CAST(n_gaps AS DOUBLE) * CAST(sll AS DOUBLE)"
             " - CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE))"
             " / (CAST(n_gaps AS DOUBLE)"
             "    * (CAST(n_gaps AS DOUBLE) - 1.0)) / 1e12)"
           )} AS sd_log_gap,
           {_r6_sql(
             "1.2825498301618641 / SQRT((CAST(n_gaps AS DOUBLE)"
             " * CAST(sll AS DOUBLE)"
             " - CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE))"
             " / (CAST(n_gaps AS DOUBLE)"
             "    * (CAST(n_gaps AS DOUBLE) - 1.0)) / 1e12)"
           )} AS k_shape,
           {_r6_sql(
             "EXP(CAST(sl AS DOUBLE) / CAST(n_gaps AS DOUBLE) / 1000000.0"
             " + 0.5772156649015329 / (1.2825498301618641"
             "   / SQRT((CAST(n_gaps AS DOUBLE) * CAST(sll AS DOUBLE)"
             "      - CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE))"
             "      / (CAST(n_gaps AS DOUBLE)"
             "         * (CAST(n_gaps AS DOUBLE) - 1.0)) / 1e12)))"
           )} AS lambda_scale_sec
    FROM agg
    """,
)


# ---------------------------------------------------------------------------
# Catalog cold-start coverage
# ---------------------------------------------------------------------------


def q_cold_start_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog cold-start audit: parts appearing in at most one
    distinct order ("cold" — a co-purchase recommender has no signal
    for them), with their count share and revenue share — the
    coverage number that decides whether a popularity fallback is
    needed at serving time.

    Exactness: distinct-order counts, cents sums and the two shares
    are exact-integer work plus `_r6` divisions. Scale: one fact pass
    groups by partkey (combinable count-distinct on the orderkey via
    two-level agg); no joins beyond the part dim row count."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_orderkey",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    per_part = li.groupBy("l_partkey").agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.sum("cents").alias("rev"),
    )
    n_parts_total = load_table(spark, sf_dir, "part").agg(
        F.count("*").alias("n_catalog")
    )
    agg = per_part.agg(
        F.count("*").alias("n_active_parts"),
        F.sum((F.col("n_orders") <= 1).cast("long")).cast("long").alias(
            "n_cold"
        ),
        F.sum("rev").cast("long").alias("total_rev_cents"),
        F.sum(F.when(F.col("n_orders") <= 1, F.col("rev")).otherwise(0))
        .cast("long")
        .alias("cold_rev_cents"),
    )
    j = agg.crossJoin(F.broadcast(n_parts_total))
    return j.select(
        "n_catalog",
        "n_active_parts",
        "n_cold",
        "cold_rev_cents",
        "total_rev_cents",
        _r6(
            F.col("n_cold").cast("double")
            / F.col("n_active_parts").cast("double")
        ).alias("cold_part_share"),
        _r6(
            F.col("cold_rev_cents").cast("double")
            / F.col("total_rev_cents").cast("double")
        ).alias("cold_rev_share"),
        _r6(
            (F.col("n_catalog") - F.col("n_active_parts")).cast("double")
            / F.col("n_catalog").cast("double")
        ).alias("never_sold_share"),
    )


registry.register(
    "cold_start_coverage",
    q_cold_start_coverage,
    f"""
    WITH per_part AS (
      SELECT l_partkey, COUNT(DISTINCT l_orderkey) AS n_orders,
             CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS rev
      FROM lineitem GROUP BY 1
    ),
    cat AS (SELECT COUNT(*) AS n_catalog FROM part),
    agg AS (
      SELECT COUNT(*) AS n_active_parts,
             CAST(SUM(CASE WHEN n_orders <= 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_cold,
             CAST(SUM(rev) AS BIGINT) AS total_rev_cents,
             CAST(SUM(CASE WHEN n_orders <= 1 THEN rev ELSE 0 END)
                  AS BIGINT) AS cold_rev_cents
      FROM per_part
    )
    SELECT n_catalog, n_active_parts, n_cold, cold_rev_cents,
           total_rev_cents,
           {_r6_sql(
             "CAST(n_cold AS DOUBLE) / CAST(n_active_parts AS DOUBLE)"
           )} AS cold_part_share,
           {_r6_sql(
             "CAST(cold_rev_cents AS DOUBLE)"
             " / CAST(total_rev_cents AS DOUBLE)"
           )} AS cold_rev_share,
           {_r6_sql(
             "CAST(n_catalog - n_active_parts AS DOUBLE)"
             " / CAST(n_catalog AS DOUBLE)"
           )} AS never_sold_share
    FROM agg CROSS JOIN cat
    """,
)
