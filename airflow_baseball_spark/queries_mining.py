"""Data-mining + graph operators: market-basket co-occurrence
(support/lift), population-stability-index drift, RFM segmentation,
the brand co-purchase graph family (degrees, wedges/triangles,
clustering, assortativity, k-core, Jaccard, Adamic-Adar link
prediction), DBSCAN-style grid-density clustering, and the Markov
stationary distribution via pure-integer power iteration.

Same engine-exactness rules as queries_stats.py: every reported double
derives from exact integer counts / decimal sums through an identical
IEEE expression tree on both engines, `_r6`-bounded.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from airflow_baseball_spark import registry
from airflow_baseball_spark.functions.scalar import dec_portable, round6_portable
from airflow_baseball_spark.operators.graph import (
    count_triangles_oriented,
    enumerate_triangles,
)
from airflow_baseball_spark.schemas import load_table

_r6 = round6_portable


# ---------------------------------------------------------------------------
# Market-basket pairs: brand co-occurrence within orders
# ---------------------------------------------------------------------------


def _brand_pair_counts(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Per-order distinct brand sets → in-row unordered pair expansion
    → (brand_a < brand_b, support) counts. Shared by basket_pairs and
    triangle_count; see q_basket_pairs for the scale rationale.

    collect_set IS the dedup — a separate .distinct() first would add
    a full (orderkey, brand) shuffle of the fact for nothing (the set
    agg dedups in its partial state map-side). One shuffle, on
    l_orderkey only."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"]).select(
        "l_orderkey", "p_brand"
    )
    baskets = ob.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("p_brand")).alias("brands")
    )
    pairs = baskets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("brands"),
                    lambda a: F.filter(
                        F.transform(
                            F.col("brands"),
                            lambda b: F.struct(a.alias("brand_a"), b.alias("brand_b")),
                        ),
                        lambda s: s["brand_a"] < s["brand_b"],
                    ),
                )
            )
        ).alias("p")
    ).select("p.brand_a", "p.brand_b")
    support = pairs.groupBy("brand_a", "brand_b").agg(F.count("*").alias("support"))
    return baskets, support


def _brand_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole brand co-purchase statistics family — pair supports,
    per-brand basket counts, and the total basket count — from ONE
    pass over the fact, materialized once per (session, sf_dir).

    r11: five separate consumers (basket_pairs, assoc_rules, and the
    support5_edges / above_avg_edges / support5_weighted seam builds)
    each re-derived the fact scan + orderkey shuffle behind
    _brand_pair_counts, and basket_pairs/assoc_rules referenced the
    basket table 3× more inside their own plans. One tagged explode —
    each basket emits its in-row brand pairs, its single brands
    (brand_b NULL), and one '__ALL__' sentinel — rides a single
    orderkey shuffle and one brand²-bounded groupBy, so every
    downstream fact (support, n_brand, n_orders) is a filter over
    this ≤(brand²/2 + brands + 1)-row materialized table. Counts are
    identical by construction: the pair expansion is byte-for-byte
    the one in _brand_pair_counts, the singles count = baskets
    containing the brand (brand sets are distinct per order), and the
    sentinel count = basket count."""
    from airflow_baseball_spark.operators.graph import materialize_edge_list

    return materialize_edge_list(
        spark, sf_dir, "brand_pair_stats", _brand_pair_stats_build
    )


def _brand_pair_stats_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The un-materialized _brand_pair_stats plan — module-level so
    plan tests can pin the in-row expansion shape (the materialized
    seam hides it behind a checkpoint scan)."""
    baskets, _ = _brand_pair_counts(spark, sf_dir)
    pairs = F.flatten(
        F.transform(
            F.col("brands"),
            lambda a: F.filter(
                F.transform(
                    F.col("brands"),
                    lambda b: F.struct(
                        a.alias("brand_a"), b.alias("brand_b")
                    ),
                ),
                lambda s: s["brand_a"] < s["brand_b"],
            ),
        )
    )
    singles = F.transform(
        F.col("brands"),
        lambda a: F.struct(
            a.alias("brand_a"),
            F.lit(None).cast("string").alias("brand_b"),
        ),
    )
    sentinel = F.array(
        F.struct(
            F.lit("__ALL__").alias("brand_a"),
            F.lit(None).cast("string").alias("brand_b"),
        )
    )
    return (
        baskets.select(
            F.explode(F.concat(pairs, singles, sentinel)).alias("p")
        )
        .groupBy(
            F.col("p.brand_a").alias("brand_a"),
            F.col("p.brand_b").alias("brand_b"),
        )
        .agg(F.count("*").alias("n"))
    )


def _brand_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(brand_a, brand_b, support) derived from _brand_pair_stats."""
    t = _brand_pair_stats(spark, sf_dir)
    return t.filter(F.col("brand_b").isNotNull()).select(
        "brand_a", "brand_b", F.col("n").alias("support")
    )


def _brand_basket_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(p_brand, n_brand) basket counts per brand, from the stats seam."""
    t = _brand_pair_stats(spark, sf_dir)
    return t.filter(
        F.col("brand_b").isNull() & (F.col("brand_a") != "__ALL__")
    ).select(F.col("brand_a").alias("p_brand"), F.col("n").alias("n_brand"))


def _n_orders_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-row (n_orders) total basket count, from the stats seam."""
    t = _brand_pair_stats(spark, sf_dir)
    return t.filter(F.col("brand_a") == "__ALL__").select(
        F.col("n").alias("n_orders")
    )


def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support + lift for brand pairs co-purchased in one order.

    Scale shape: ONE orderkey shuffle builds per-order distinct brand
    sets (collect_set); the quadratic step — unordered pair expansion —
    runs IN-ROW over each order's set (bounded by lines-per-order, ~7,
    never by catalog size), so no self-join of the fact with itself.
    Pair counts and per-brand counts are combiner-friendly aggs over
    brand²-bounded keys; the lift denominators come back as one
    broadcast. A true all-pairs self-join on l_orderkey — the naive
    form — would shuffle the fact twice and explode skewed orders
    quadratically ACROSS rows; this form keeps the quadratic work
    inside a row where Tungsten iterates an array.

    Brand totals and the order count both derive from the SAME single
    fact pass as the supports — r11: all three now read the
    materialized _brand_pair_stats table (one orderkey shuffle per
    session, shared with assoc_rules and the graph edge seams),
    where the previous form re-evaluated the basket subtree once per
    consumer inside this one plan."""
    support = _brand_support(spark, sf_dir)
    brand_n = _brand_basket_counts(spark, sf_dir)
    n_orders = _n_orders_frame(spark, sf_dir)
    na = brand_n.select(
        F.col("p_brand").alias("ba"), F.col("n_brand").alias("n_a")
    )
    nb = brand_n.select(
        F.col("p_brand").alias("bb"), F.col("n_brand").alias("n_b")
    )
    return (
        support.filter(F.col("support") >= 5)
        .join(F.broadcast(na), F.col("brand_a") == F.col("ba"))
        .join(F.broadcast(nb), F.col("brand_b") == F.col("bb"))
        .crossJoin(F.broadcast(n_orders))
        .select(
            "brand_a",
            "brand_b",
            "support",
            _r6(
                F.col("support").cast("double")
                * F.col("n_orders").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ).alias("lift"),
        )
    )


registry.register(
    "basket_pairs",
    q_basket_pairs,
    """
    WITH ob AS MATERIALIZED (
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    pairs AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, COUNT(*) AS support
      FROM ob a JOIN ob b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY 1, 2
    ),
    bn AS (SELECT p_brand, COUNT(*) AS n_brand FROM ob GROUP BY 1),
    tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM ob)
    SELECT pr.brand_a, pr.brand_b, pr.support,
           FLOOR(CAST(pr.support AS DOUBLE) * CAST(t.n_orders AS DOUBLE)
                 / (CAST(na.n_brand AS DOUBLE) * CAST(nb.n_brand AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS lift
    FROM pairs pr
    JOIN bn na ON pr.brand_a = na.p_brand
    JOIN bn nb ON pr.brand_b = nb.p_brand
    CROSS JOIN tot t
    WHERE pr.support >= 5
    """,
)


# ---------------------------------------------------------------------------
# PSI distribution drift between two periods
# ---------------------------------------------------------------------------


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index of the quantity distribution, 1997
    shipments vs 1998. One combinable pass bins BOTH periods
    (conditional counts per bin); period totals re-aggregate the
    bin-count table, not the fact. Per-bin PSI terms are reported (the
    headline PSI is their sum — left to the caller so the projection
    stays per-bin and hashable); bins empty in either period are
    excluded, as standard."""
    # Epoch-day window bounds (1997-01-01=9862, 1998-01-01=10227,
    # 1999-01-01=10592 days since 1970-01-01): r7 rebuild — the
    # TIMESTAMP-literal comparisons shipped in r5/r6 stayed driver-red,
    # and literal-vs-column comparisons are the one read-path a
    # tz-tagged vintage + non-UTC driver DuckDB session can shift
    # (measured: `ts < TIMESTAMP '1998-01-01'` flips at the boundary
    # under SET TimeZone on tagged parquet; epoch-integer reads never
    # move). Spark's datediff under the load_table UTC pin IS the
    # epoch day, matching the oracle's epoch_us // us-per-day.
    day = F.datediff(F.col("l_shipdate"), F.lit("1970-01-01").cast("date"))
    li = load_table(spark, sf_dir, "lineitem").filter(
        (day >= F.lit(9862)) & (day < F.lit(10592))
    )
    in97 = day < F.lit(10227)
    bins = li.groupBy(
        F.floor(F.col("l_quantity") / 5.0).cast("int").alias("bin")
    ).agg(
        F.sum(in97.cast("long")).alias("n_a"),
        F.sum((~in97).cast("long")).alias("n_b"),
    )
    totals = bins.agg(
        F.sum("n_a").alias("tot_a"), F.sum("n_b").alias("tot_b")
    )
    # Exactness (r5 driver flagged the p/q-in-doubles form): the cross
    # products n_a*tot_b and n_b*tot_a are exact BIGINTs, so both the
    # ln argument and the (p-q) numerator are exact integer ratios —
    # the identical expression tree yields bit-identical doubles on
    # both engines, with ln the only libm op (on an identical input).
    num_a = F.col("n_a") * F.col("tot_b")
    num_b = F.col("n_b") * F.col("tot_a")
    diff = (num_a - num_b).cast("double") / (
        F.col("tot_a") * F.col("tot_b")
    ).cast("double")
    lnr = F.log(num_a.cast("double") / num_b.cast("double"))
    return (
        bins.crossJoin(F.broadcast(totals))
        .filter((F.col("n_a") > 0) & (F.col("n_b") > 0))
        .select(
            "bin",
            "n_a",
            "n_b",
            # BIGINT micro-units, not /1e6-to-double (r6 verdict): the
            # only remaining engine surface is ln on an exact integer
            # ratio; everything hashed is pure integer.
            F.floor(diff * lnr * F.lit(1000000.0) + F.lit(0.5))
            .cast("long")
            .alias("psi_term_micro"),
        )
    )


registry.register(
    "psi_drift",
    q_psi_drift,
    """
    WITH bins AS (
      SELECT CAST(FLOOR(l_quantity / 5.0) AS INT) AS bin,
             SUM(CASE WHEN epoch_us(l_shipdate) // 86400000000 < 10227
                 THEN 1 ELSE 0 END) AS n_a,
             SUM(CASE WHEN epoch_us(l_shipdate) // 86400000000 < 10227
                 THEN 0 ELSE 1 END) AS n_b
      FROM lineitem
      WHERE epoch_us(l_shipdate) // 86400000000 >= 9862
        AND epoch_us(l_shipdate) // 86400000000 < 10592
      GROUP BY 1
    ),
    tot AS (SELECT SUM(n_a) AS tot_a, SUM(n_b) AS tot_b FROM bins)
    SELECT b.bin, b.n_a, b.n_b,
           CAST(FLOOR((CAST(b.n_a * t.tot_b - b.n_b * t.tot_a AS DOUBLE)
                       / CAST(t.tot_a * t.tot_b AS DOUBLE))
                      * LN(CAST(b.n_a * t.tot_b AS DOUBLE)
                           / CAST(b.n_b * t.tot_a AS DOUBLE))
                      * 1000000.0 + 0.5) AS BIGINT) AS psi_term_micro
    FROM bins b CROSS JOIN tot t
    WHERE b.n_a > 0 AND b.n_b > 0
    """,
)


# ---------------------------------------------------------------------------
# RFM segmentation via broadcast quartile boundaries (no global NTILE)
# ---------------------------------------------------------------------------

_RFM_ASOF = "2001-09-01"


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency/Frequency/Monetary quartile scores per customer.

    Scale design: the textbook global NTILE(4) serializes the whole
    customer table through ONE window task. Instead the three quartile
    boundaries per measure (9 scalars) come from one exact-percentile
    agg and broadcast back, and each score is
    `1 + (x>q1) + (x>q2) + (x>q3)` — in-row, embarrassingly parallel,
    and identical arithmetic on both engines. Tile populations are
    only approximately N/4 (boundary ties all land one side), which is
    what segmentation wants anyway — equal *thresholds*, not equal
    counts."""
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.datediff(F.lit(_RFM_ASOF).cast("date"), F.max("o_orderdate"))
        .cast("double")
        .alias("recency_days"),
        F.count("*").cast("double").alias("frequency"),
        F.sum(dec_portable("o_totalprice", 18, 2))
        .cast("double")
        .alias("monetary"),
    )
    qs = per_cust.agg(
        *[
            F.expr(f"percentile({m}, {p})").alias(f"{m}_q{i}")
            for m in ("recency_days", "frequency", "monetary")
            for i, p in ((1, 0.25), (2, 0.5), (3, 0.75))
        ]
    )

    def score(m: str) -> Column:
        return (
            F.lit(1)
            + (F.col(m) > F.col(f"{m}_q1")).cast("int")
            + (F.col(m) > F.col(f"{m}_q2")).cast("int")
            + (F.col(m) > F.col(f"{m}_q3")).cast("int")
        )

    scored = per_cust.crossJoin(F.broadcast(qs)).select(
        "o_custkey",
        score("recency_days").alias("r_score"),
        score("frequency").alias("f_score"),
        score("monetary").alias("m_score"),
    )
    return scored.withColumn(
        "segment",
        F.when(
            (F.col("r_score") == 1) & (F.col("f_score") >= 3), F.lit("champion")
        )
        .when(
            (F.col("r_score") >= 3) & (F.col("f_score") <= 2), F.lit("dormant")
        )
        .otherwise(F.lit("regular")),
    )


registry.register(
    "rfm_segments",
    q_rfm_segments,
    f"""
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(DATE_DIFF('day', CAST(MAX(o_orderdate) AS DATE),
                            DATE '{_RFM_ASOF}') AS DOUBLE) AS recency_days,
             CAST(COUNT(*) AS DOUBLE) AS frequency,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) / 100 AS DECIMAL(18,2))) AS DOUBLE)
               AS monetary
      FROM orders GROUP BY 1
    ),
    qs AS (
      SELECT QUANTILE_CONT(recency_days, 0.25) AS recency_days_q1,
             QUANTILE_CONT(recency_days, 0.5) AS recency_days_q2,
             QUANTILE_CONT(recency_days, 0.75) AS recency_days_q3,
             QUANTILE_CONT(frequency, 0.25) AS frequency_q1,
             QUANTILE_CONT(frequency, 0.5) AS frequency_q2,
             QUANTILE_CONT(frequency, 0.75) AS frequency_q3,
             QUANTILE_CONT(monetary, 0.25) AS monetary_q1,
             QUANTILE_CONT(monetary, 0.5) AS monetary_q2,
             QUANTILE_CONT(monetary, 0.75) AS monetary_q3
      FROM per_cust
    ),
    scored AS (
      SELECT p.o_custkey,
             1 + CAST(p.recency_days > q.recency_days_q1 AS INT)
               + CAST(p.recency_days > q.recency_days_q2 AS INT)
               + CAST(p.recency_days > q.recency_days_q3 AS INT) AS r_score,
             1 + CAST(p.frequency > q.frequency_q1 AS INT)
               + CAST(p.frequency > q.frequency_q2 AS INT)
               + CAST(p.frequency > q.frequency_q3 AS INT) AS f_score,
             1 + CAST(p.monetary > q.monetary_q1 AS INT)
               + CAST(p.monetary > q.monetary_q2 AS INT)
               + CAST(p.monetary > q.monetary_q3 AS INT) AS m_score
      FROM per_cust p CROSS JOIN qs q
    )
    SELECT o_custkey, r_score, f_score, m_score,
           CASE WHEN r_score = 1 AND f_score >= 3 THEN 'champion'
                WHEN r_score >= 3 AND f_score <= 2 THEN 'dormant'
                ELSE 'regular' END AS segment
    FROM scored
    """,
)


# ---------------------------------------------------------------------------
# Triangle count + transitivity on the brand co-purchase graph
# ---------------------------------------------------------------------------


def _support5_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase edges with support >= 5 (the complete-at-any-SF
    threshold triangle_count and degree_distribution share), derived
    once per (session, sf_dir): the underlying _brand_pair_counts
    subtree (fact scan + orderkey self-join) is referenced 4-6× per
    consumer plan, so materializing the brand²-bounded edge list is
    the same disposition as _above_avg_edges."""
    from airflow_baseball_spark.operators.graph import materialize_edge_list

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        return (
            _brand_support(spark, sf_dir)
            .filter(F.col("support") >= 5)
            .select("brand_a", "brand_b")
        )

    return materialize_edge_list(spark, sf_dir, "support5_edges", build)


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count and transitivity of the co-purchase graph
    (edges = brand pairs with support >= 5, stored brand_a < brand_b).

    Degree-ordered enumeration (the hub-skew fix): every edge is
    oriented from its lower-(degree, id) endpoint to the higher one
    via orient_edges_by_degree, wedges form by self-joining the
    oriented list on the SOURCE vertex, and each wedge probes the
    oriented edge set once to close. Every triangle is found exactly
    once (at its minimum-(degree, id) corner), and per-vertex join
    fanout is bounded by the vertex's oriented out-degree ≤ O(√|E|)
    instead of its raw degree — a power-law hub no longer fans out
    quadratically (test_graph_metrics asserts the bound on a
    synthetic hub graph). Wedge totals use Σ deg·(deg−1) (exact
    integers), halved once at the end."""
    edges = _support5_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("brand_a").alias("v"))
        .unionAll(edges.select(F.col("brand_b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    counts = deg.agg(
        F.count("*").alias("n_vertices"),
        (F.sum(F.col("d") * (F.col("d") - 1)) / 2).cast("long").alias("n_wedges"),
    )
    tri = count_triangles_oriented(edges, deg).agg(
        F.count("*").alias("n_triangles")
    )
    n_edges = edges.agg(F.count("*").alias("n_edges"))
    return (
        counts.crossJoin(F.broadcast(tri))
        .crossJoin(F.broadcast(n_edges))
        .select(
            "n_vertices",
            "n_edges",
            "n_wedges",
            "n_triangles",
            _r6(
                F.lit(3.0)
                * F.col("n_triangles").cast("double")
                / F.col("n_wedges").cast("double")
            ).alias("transitivity"),
        )
    )


registry.register(
    "triangle_count",
    q_triangle_count,
    """
    WITH ob AS MATERIALIZED (
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    pairs AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, COUNT(*) AS support
      FROM ob a JOIN ob b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY 1, 2
    ),
    edges AS (SELECT brand_a, brand_b FROM pairs WHERE support >= 5),
    deg AS (
      SELECT v, COUNT(*) AS d FROM (
        SELECT brand_a AS v FROM edges
        UNION ALL SELECT brand_b AS v FROM edges
      ) GROUP BY 1
    ),
    counts AS (
      SELECT COUNT(*) AS n_vertices,
             CAST(SUM(d * (d - 1)) / 2 AS BIGINT) AS n_wedges
      FROM deg
    ),
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM edges e1
      JOIN edges e2 ON e1.brand_b = e2.brand_a
      JOIN edges e3 ON e3.brand_a = e1.brand_a AND e3.brand_b = e2.brand_b
    ),
    ne AS (SELECT COUNT(*) AS n_edges FROM edges)
    SELECT c.n_vertices, ne.n_edges, c.n_wedges, t.n_triangles,
           FLOOR(3.0 * CAST(t.n_triangles AS DOUBLE)
                 / CAST(c.n_wedges AS DOUBLE) * 1000000.0 + 0.5)
             / 1000000.0 AS transitivity
    FROM counts c, tri t, ne
    """,
)


# ---------------------------------------------------------------------------
# Weighted median per group (cumulative-weight window)
# ---------------------------------------------------------------------------


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag: the smallest
    price whose cumulative weight reaches half the group total.

    All weights stay exact (integer hundredth-units inside the
    histogram; the OUTPUT total re-sums the DECIMAL weights so its
    double projection keeps the oracle's expression tree); the
    half-total comparison is cum ≥ ⌈W/2⌉ so no division ever happens.
    The picked VALUE is tie-order-independent (threshold crossing
    inside a run of equal prices yields that price), so per-price
    weight totals suffice.

    r7 (low-cardinality-window sweep): the previous form sorted raw
    lineitem through a 3-partition per-returnflag cumulative window —
    the qq_table flag shape. r12 (§2.3 shuffle fewer bytes): the r7
    form still shuffled a ~590k-row (flag, cents) table — cents of
    l_extendedprice are nearly unique per row, so that groupBy was a
    full-fact shuffle with no combine. Now every fact-scale
    aggregation is BUCKET-grain (flags × 1024 — map-side combinable
    to KBs): per-flag stats and the weighted histogram come straight
    off raw rows, and only the located bucket's rows (~1/1024 of the
    fact) are ever grouped per-cent for the pass-2 cumulate. Bucket
    sums equal the old per-price-then-bucket sums by BIGINT/DECIMAL
    associativity; the bucket expression, the crossing rule and the
    pass-2 window are unchanged, so the picked row is identical
    (oracle-verified sf0.01 + sf0.1)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        dec_portable("l_extendedprice", 18, 2).alias("price"),
        dec_portable("l_quantity", 18, 2).alias("wt"),
    ).select(
        "l_returnflag",
        "price",
        (F.col("price") * 100).cast("long").alias("pc"),
        (F.col("wt") * 100).cast("long").alias("w"),
        F.col("wt").alias("wt_dec"),
    )
    stats = li.groupBy("l_returnflag").agg(
        F.sum("w").alias("tw"),
        F.sum("wt_dec").alias("tot_wt"),
        F.min("pc").alias("lo"),
        F.max("pc").alias("hi"),
    )
    binned = li.join(F.broadcast(stats), "l_returnflag").withColumn(
        "b", F.expr("((pc - lo) * 1024) div (hi - lo + 1)")
    )
    w_off = Window.partitionBy("l_returnflag").orderBy("b").rowsBetween(
        Window.unboundedPreceding, -1
    )
    buckets = (
        binned.groupBy("l_returnflag", "b")
        .agg(F.sum("w").alias("bw"))
        .withColumn(
            "cum_before", F.coalesce(F.sum("bw").over(w_off), F.lit(0))
        )
    )
    located = (
        buckets.join(F.broadcast(stats), "l_returnflag")
        .filter(
            (F.col("cum_before") < F.expr("(tw + 1) div 2"))
            & (
                F.col("cum_before") + F.col("bw")
                >= F.expr("(tw + 1) div 2")
            )
        )
        .select(
            F.col("l_returnflag").alias("_g"),
            F.col("b").alias("target_b"),
            (F.expr("(tw + 1) div 2") - F.col("cum_before")).alias("resid"),
        )
    )
    w_in = Window.partitionBy("l_returnflag").orderBy("pc").rowsBetween(
        Window.unboundedPreceding, 0
    )
    pass2 = (
        binned.join(
            F.broadcast(located),
            (F.col("l_returnflag") == F.col("_g"))
            & (F.col("b") == F.col("target_b")),
        )
        .groupBy("l_returnflag", "pc")
        .agg(
            F.min("price").alias("price"),
            F.sum("w").alias("w"),
            F.max("resid").alias("resid"),
            F.max("tot_wt").alias("tot_wt"),
        )
        .withColumn("cum_in", F.sum("w").over(w_in))
        .filter(F.col("cum_in") >= F.col("resid"))
    )
    return pass2.groupBy("l_returnflag").agg(
        F.min("price").cast("double").alias("weighted_median_price"),
        F.max(F.col("tot_wt")).cast("double").alias("total_weight"),
    )


registry.register(
    "weighted_median",
    q_weighted_median,
    """
    WITH cum AS (
      SELECT l_returnflag,
             CAST(FLOOR(l_extendedprice * 100 + 0.5) / 100 AS DECIMAL(18,2)) AS price,
             SUM(CAST(FLOOR(l_quantity * 100 + 0.5) / 100 AS DECIMAL(18,2))) OVER (
               PARTITION BY l_returnflag
               ORDER BY CAST(FLOOR(l_extendedprice * 100 + 0.5) / 100 AS DECIMAL(18,2)) ASC,
                        l_orderkey ASC, l_linenumber ASC) AS cum_wt,
             SUM(CAST(FLOOR(l_quantity * 100 + 0.5) / 100 AS DECIMAL(18,2))) OVER (
               PARTITION BY l_returnflag) AS tot_wt
      FROM lineitem
    )
    SELECT l_returnflag,
           CAST(MIN(price) AS DOUBLE) AS weighted_median_price,
           CAST(MAX(tot_wt) AS DOUBLE) AS total_weight
    FROM cum
    WHERE cum_wt * 2 >= tot_wt
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# Pareto frontier (2D skyline) over customer summaries
# ---------------------------------------------------------------------------


def q_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-dominated customers on (account balance, order count): no
    other customer is ≥ on both measures and > on at least one.

    The sort-scan skyline: group points by the x-value, take each
    x-group's max y, running-max those group maxima in descending-x
    order, and a point survives iff it holds its x-group's max y AND
    strictly beats the running max of every strictly-greater x. Input
    is the per-customer SUMMARY (dim-sized, one fact shuffle to
    build); r7 makes the r6 docstring's promised upgrade real — the
    descending running max runs through
    rank_select.with_global_running_max (per-range-bucket maxima +
    a bucket-table prefix), so even a fact-scale x-domain never
    crosses one partition."""
    from airflow_baseball_spark.operators.rank_select import (
        with_global_running_max,
    )

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    pts = (
        orders.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
        .join(cust, F.col("o_custkey") == cust["c_custkey"])
        .select("c_custkey", "c_acctbal", "n_orders")
    )
    grp = pts.groupBy("c_acctbal").agg(F.max("n_orders").alias("grp_max"))
    grp = with_global_running_max(
        grp.withColumn(
            "ac", (dec_portable("c_acctbal", 18, 2) * 100).cast("long")
        ),
        "ac",
        "grp_max",
        out_col="prev_max",
        descending=True,
    )
    return (
        pts.join(grp, "c_acctbal")
        .filter(
            (F.col("n_orders") == F.col("grp_max"))
            & (F.col("prev_max").isNull() | (F.col("prev_max") < F.col("n_orders")))
        )
        .select("c_custkey", "c_acctbal", "n_orders")
    )


registry.register(
    "pareto_frontier",
    q_pareto_frontier,
    """
    WITH pts AS (
      SELECT c.c_custkey, c.c_acctbal, o.n_orders
      FROM (SELECT o_custkey, COUNT(*) AS n_orders
            FROM orders GROUP BY 1) o
      JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    grp AS (
      SELECT c_acctbal, MAX(n_orders) AS grp_max,
             MAX(MAX(n_orders)) OVER (
               ORDER BY c_acctbal DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      FROM pts GROUP BY 1
    )
    SELECT p.c_custkey, p.c_acctbal, p.n_orders
    FROM pts p JOIN grp g ON p.c_acctbal = g.c_acctbal
    WHERE p.n_orders = g.grp_max
      AND (g.prev_max IS NULL OR g.prev_max < p.n_orders)
    """,
)


# ---------------------------------------------------------------------------
# Cohort LTV: cumulative revenue per first-order cohort
# ---------------------------------------------------------------------------


def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-lifetime-value curve: customers cohorted by first-order
    year, revenue accumulated across order-year offsets. Complements
    retention_cohorts (which counts active USERS) with the money view.

    Shape: one custkey agg derives cohorts (min year), broadcast back
    onto orders (no second fact shuffle for the cohort label), then a
    (cohort, offset) agg of exact decimal revenue and a running-sum
    window over the cohort×offset grid — the window input is
    years²-sized, not fact-sized."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    cohorts = orders.groupBy("o_custkey").agg(
        F.min(F.year("o_orderdate")).alias("cohort_year")
    )
    rev = (
        orders.join(F.broadcast(cohorts), "o_custkey")
        .groupBy(
            "cohort_year",
            (F.year("o_orderdate") - F.col("cohort_year")).alias("year_offset"),
        )
        .agg(
            F.sum(dec_portable("o_totalprice", 18, 2)).alias("rev_dec"),
            F.countDistinct("o_custkey").alias("active_customers"),
        )
    )
    w = (
        Window.partitionBy("cohort_year")
        .orderBy("year_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return rev.select(
        "cohort_year",
        "year_offset",
        "active_customers",
        F.col("rev_dec").cast("double").alias("period_revenue"),
        F.sum("rev_dec").over(w).cast("double").alias("cumulative_revenue"),
    )


registry.register(
    "cohort_ltv",
    q_cohort_ltv,
    """
    WITH cohorts AS (
      SELECT o_custkey, MIN(YEAR(o_orderdate)) AS cohort_year
      FROM orders GROUP BY 1
    ),
    rev AS (
      SELECT c.cohort_year,
             YEAR(o.o_orderdate) - c.cohort_year AS year_offset,
             SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) / 100 AS DECIMAL(18,2))) AS rev_dec,
             COUNT(DISTINCT o.o_custkey) AS active_customers
      FROM orders o JOIN cohorts c ON o.o_custkey = c.o_custkey
      GROUP BY 1, 2
    )
    SELECT cohort_year, year_offset, active_customers,
           CAST(rev_dec AS DOUBLE) AS period_revenue,
           CAST(SUM(rev_dec) OVER (
             PARTITION BY cohort_year ORDER BY year_offset
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS cumulative_revenue
    FROM rev
    """,
)


# ---------------------------------------------------------------------------
# Degree distribution of the co-purchase graph
# ---------------------------------------------------------------------------


def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the brand co-purchase graph (edges shared
    with basket_pairs/triangle_count): vertices per degree value —
    the first thing to look at before any graph algorithm, since a
    heavy-tailed histogram is what forces the degree-ordered
    orientation documented in triangle_count. Two tiny aggs over the
    (session-memoized) brand²-bounded edge list."""
    edges = _support5_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("brand_a").alias("v"))
        .unionAll(edges.select(F.col("brand_b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count("*").alias("n_vertices"))


registry.register(
    "degree_distribution",
    q_degree_distribution,
    """
    WITH ob AS MATERIALIZED (
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    pairs AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, COUNT(*) AS support
      FROM ob a JOIN ob b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY 1, 2
    ),
    edges AS (SELECT brand_a, brand_b FROM pairs WHERE support >= 5),
    deg AS (
      SELECT v, COUNT(*) AS degree FROM (
        SELECT brand_a AS v FROM edges
        UNION ALL SELECT brand_b AS v FROM edges
      ) GROUP BY 1
    )
    SELECT degree, COUNT(*) AS n_vertices FROM deg GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# Graph metrics on the above-average co-purchase graph
# ---------------------------------------------------------------------------

_PAIRS_SQL = """
    WITH ob AS MATERIALIZED (
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    pairs AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, COUNT(*) AS support
      FROM ob a JOIN ob b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY 1, 2
    ),
    stats AS (SELECT COUNT(*) AS n_pairs, SUM(support) AS tot FROM pairs),
    edges AS (
      SELECT brand_a, brand_b FROM pairs CROSS JOIN stats
      WHERE support * n_pairs > tot
    )
"""


def _above_avg_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase edges with ABOVE-AVERAGE support — the threshold
    basket_pairs/triangle_count use (support >= 5) keeps the complete
    brand graph at every SF because supports scale with data volume;
    `support · n_pairs > Σ support` is the scale-invariant integer
    comparison (no division, no float) that halves the graph at any
    SF and gives the metrics below nontrivial structure.

    The brand²-bounded result is localCheckpoint'ed: every consumer
    (wedge join, triangle join, degree table, peel rounds) references
    it 2-4× in one plan, and each reference would otherwise re-derive
    the fact scan + orderkey shuffle — measured ~1 s per extra
    reference at sf0.1. (Same lineage-truncation rationale and FT
    caveat as operators/connected_components.py.) Materialized ONCE
    per (session, sf_dir) via operators/graph.materialize_edge_list,
    so the 6 graph queries sharing this subtree derive it once per
    session instead of once per query."""
    from airflow_baseball_spark.operators.graph import materialize_edge_list

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        support = _brand_support(spark, sf_dir)
        stats = support.agg(
            F.count("*").alias("n_pairs"), F.sum("support").alias("tot")
        )
        return (
            support.crossJoin(F.broadcast(stats))
            .filter(F.col("support") * F.col("n_pairs") > F.col("tot"))
            .select("brand_a", "brand_b")
        )

    return materialize_edge_list(spark, sf_dir, "above_avg_edges", build)


def _degrees(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("brand_a").alias("v"))
        .unionAll(edges.select(F.col("brand_b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("degree"))
    )


def q_node_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood Jaccard similarity for brand pairs sharing at
    least one co-purchase neighbor: |N(a)∩N(b)| / |N(a)∪N(b)|.

    The scalable shape: bidirectional adjacency self-joined on the
    MIDDLE vertex (wedge enumeration) — common-neighbor counts arrive
    grouped without materializing any neighbor set, and degrees join
    in by broadcast; |union| = da + db - common is integer identity,
    so the only float op is the final division.

    Hub-skew posture: unlike triangle closure (where degree-ordered
    orientation PRUNES wedges — see operators/graph.py), every wedge
    at a middle vertex here contributes to some pair's common count,
    so the d(c)² fanout is output-inherent. The fix is therefore
    execution-side: the self-join is SALTED on the middle vertex
    (left side bucketed by hash(neighbor) % S, right side replicated
    S×), which splits a hub's d² wedge enumeration across S tasks
    instead of one straggler. Output is identical — every (l, r)
    neighbor pair still meets exactly once, in the bucket keyed by
    the left neighbor's hash."""
    edges = _above_avg_edges(spark, sf_dir)
    n_salt = 8
    adj = edges.select(
        F.col("brand_a").alias("c"), F.col("brand_b").alias("x")
    ).unionAll(
        edges.select(F.col("brand_b").alias("c"), F.col("brand_a").alias("x"))
    )
    adj_l = adj.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("x")), F.lit(n_salt))
    )
    adj_r = adj.withColumn(
        "_salt",
        F.explode(
            F.array(*[F.lit(i).cast("bigint") for i in range(n_salt)])
        ),
    )
    wedges = (
        adj_l.alias("l")
        .join(
            adj_r.alias("r"),
            (F.col("l.c") == F.col("r.c"))
            & (F.col("l._salt") == F.col("r._salt")),
        )
        .filter(F.col("l.x") < F.col("r.x"))
        .groupBy(
            F.col("l.x").alias("brand_a"), F.col("r.x").alias("brand_b")
        )
        .agg(F.count("*").alias("common"))
    )
    deg = _degrees(edges)
    da = deg.select(F.col("v").alias("va"), F.col("degree").alias("da"))
    db = deg.select(F.col("v").alias("vb"), F.col("degree").alias("db"))
    return (
        wedges.join(F.broadcast(da), F.col("brand_a") == F.col("va"))
        .join(F.broadcast(db), F.col("brand_b") == F.col("vb"))
        .select(
            "brand_a",
            "brand_b",
            "common",
            _r6(
                F.col("common").cast("double")
                / (F.col("da") + F.col("db") - F.col("common")).cast("double")
            ).alias("jaccard"),
        )
    )


registry.register(
    "node_jaccard",
    q_node_jaccard,
    _PAIRS_SQL
    + """,
    adj AS (
      SELECT brand_a AS c, brand_b AS x FROM edges
      UNION ALL SELECT brand_b AS c, brand_a AS x FROM edges
    ),
    wedges AS (
      SELECT l.x AS brand_a, r.x AS brand_b, COUNT(*) AS common
      FROM adj l JOIN adj r ON l.c = r.c AND l.x < r.x
      GROUP BY 1, 2
    ),
    deg AS (
      SELECT v, COUNT(*) AS degree FROM (
        SELECT brand_a AS v FROM edges
        UNION ALL SELECT brand_b AS v FROM edges
      ) GROUP BY 1
    )
    SELECT w.brand_a, w.brand_b, w.common,
           FLOOR((CAST(w.common AS DOUBLE) /
                  CAST(da.degree + db.degree - w.common AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS jaccard
    FROM wedges w
    JOIN deg da ON w.brand_a = da.v
    JOIN deg db ON w.brand_b = db.v
    """,
)


def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per brand: closed triangles at the
    vertex over its possible neighbor pairs, 2·tri / (d·(d−1)).

    Triangle enumeration uses the degree-ordered orientation
    (operators/graph.py: each triangle found once at its minimum-
    (degree, id) corner, per-vertex wedge fanout bounded by the
    oriented out-degree ≤ O(√|E|) — the hub-skew fix), then the 3
    member vertices explode IN-ROW and one count per vertex lands
    against the broadcast degree table. Vertices with degree < 2
    report 0.0 (no possible pair), via left join + coalesce so they
    aren't silently dropped."""
    edges = _above_avg_edges(spark, sf_dir)
    tri_v = (
        enumerate_triangles(edges)
        .select(
            F.explode(
                F.array(F.col("va"), F.col("vb"), F.col("vc"))
            ).alias("v")
        )
        .groupBy("v")
        .agg(F.count("*").alias("n_tri"))
    )
    deg = _degrees(edges)
    return (
        deg.join(F.broadcast(tri_v), "v", "left")
        .select(
            "v",
            "degree",
            F.coalesce(F.col("n_tri"), F.lit(0)).alias("n_tri"),
            F.when(F.col("degree") < 2, F.lit(0.0))
            .otherwise(
                _r6(
                    F.lit(2.0)
                    * F.coalesce(F.col("n_tri"), F.lit(0)).cast("double")
                    / (
                        F.col("degree") * (F.col("degree") - 1)
                    ).cast("double")
                )
            )
            .alias("clustering_coeff"),
        )
    )


registry.register(
    "clustering_coeff",
    q_clustering_coeff,
    _PAIRS_SQL
    + """,
    tri AS (
      SELECT e1.brand_a AS a, e1.brand_b AS b, e2.brand_b AS c
      FROM edges e1
      JOIN edges e2 ON e1.brand_b = e2.brand_a
      JOIN edges e3 ON e1.brand_a = e3.brand_a AND e2.brand_b = e3.brand_b
    ),
    tri_v AS (
      SELECT v, COUNT(*) AS n_tri FROM (
        SELECT a AS v FROM tri
        UNION ALL SELECT b AS v FROM tri
        UNION ALL SELECT c AS v FROM tri
      ) GROUP BY 1
    ),
    deg AS (
      SELECT v, COUNT(*) AS degree FROM (
        SELECT brand_a AS v FROM edges
        UNION ALL SELECT brand_b AS v FROM edges
      ) GROUP BY 1
    )
    SELECT d.v, d.degree, COALESCE(t.n_tri, 0) AS n_tri,
           CASE WHEN d.degree < 2 THEN 0.0
                ELSE FLOOR((2.0 * CAST(COALESCE(t.n_tri, 0) AS DOUBLE) /
                            CAST(d.degree * (d.degree - 1) AS DOUBLE))
                           * 1000000.0 + 0.5) / 1000000.0
           END AS clustering_coeff
    FROM deg d LEFT JOIN tri_v t ON d.v = t.v
    """,
)


def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph: Pearson r between
    the endpoint degrees over every edge taken in BOTH orientations
    (the standard undirected convention, which also makes Σx = Σy by
    symmetry). All sufficient statistics are exact integer sums —
    degrees are small ints — so the only IEEE ops are the final
    divisions, identical on both engines (same rationale as
    corr_matrix). One broadcast degree join, one 1-row aggregate."""
    edges = _above_avg_edges(spark, sf_dir)
    deg = _degrees(edges)
    dx = deg.select(F.col("v").alias("vx"), F.col("degree").alias("dx"))
    dy = deg.select(F.col("v").alias("vy"), F.col("degree").alias("dy"))
    both = edges.select(
        F.col("brand_a").alias("s"), F.col("brand_b").alias("t")
    ).unionAll(
        edges.select(F.col("brand_b").alias("s"), F.col("brand_a").alias("t"))
    )
    j = both.join(F.broadcast(dx), F.col("s") == F.col("vx")).join(
        F.broadcast(dy), F.col("t") == F.col("vy")
    )
    stats = j.agg(
        F.count("*").alias("n"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    return stats.select(
        (F.col("n") / 2).cast("long").alias("n_edges"),
        _r6(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
        ).alias("assortativity"),
    )


registry.register(
    "degree_assortativity",
    q_degree_assortativity,
    _PAIRS_SQL
    + """,
    deg AS (
      SELECT v, COUNT(*) AS degree FROM (
        SELECT brand_a AS v FROM edges
        UNION ALL SELECT brand_b AS v FROM edges
      ) GROUP BY 1
    ),
    bi AS (
      SELECT brand_a AS s, brand_b AS t FROM edges
      UNION ALL SELECT brand_b AS s, brand_a AS t FROM edges
    ),
    st AS (
      SELECT COUNT(*) AS n, SUM(dx.degree) AS sx, SUM(dy.degree) AS sy,
             SUM(dx.degree * dy.degree) AS sxy,
             SUM(dx.degree * dx.degree) AS sxx,
             SUM(dy.degree * dy.degree) AS syy
      FROM bi b JOIN deg dx ON b.s = dx.v JOIN deg dy ON b.t = dy.v
    )
    SELECT CAST(n / 2 AS BIGINT) AS n_edges,
           FLOOR(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                  (SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
                   SQRT(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
                 * 1000000.0 + 0.5) / 1000000.0 AS assortativity
    FROM st
    """,
)


def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional association rules antecedent→consequent over the
    co-purchased brand pairs (support >= 5, same pair base as
    basket_pairs): confidence = P(consequent | antecedent) and lift.
    Both directions of each unordered pair are emitted by an IN-ROW
    union (no second shuffle); per-brand basket counts and the basket
    total join in by broadcast, so the fact is still scanned once and
    shuffled once on orderkey (r11: once per SESSION — supports,
    brand counts, and the basket total all read the materialized
    _brand_pair_stats table)."""
    support = _brand_support(spark, sf_dir)
    brand_n = _brand_basket_counts(spark, sf_dir)
    n_orders = _n_orders_frame(spark, sf_dir)
    rules = support.filter(F.col("support") >= 5).select(
        F.explode(
            F.array(
                F.struct(
                    F.col("brand_a").alias("antecedent"),
                    F.col("brand_b").alias("consequent"),
                    F.col("support").alias("support"),
                ),
                F.struct(
                    F.col("brand_b").alias("antecedent"),
                    F.col("brand_a").alias("consequent"),
                    F.col("support").alias("support"),
                ),
            )
        ).alias("r")
    ).select("r.antecedent", "r.consequent", "r.support")
    na = brand_n.select(
        F.col("p_brand").alias("ba"), F.col("n_brand").alias("n_ante")
    )
    nc = brand_n.select(
        F.col("p_brand").alias("bc"), F.col("n_brand").alias("n_cons")
    )
    return (
        rules.join(F.broadcast(na), F.col("antecedent") == F.col("ba"))
        .join(F.broadcast(nc), F.col("consequent") == F.col("bc"))
        .crossJoin(F.broadcast(n_orders))
        .select(
            "antecedent",
            "consequent",
            "support",
            _r6(
                F.col("support").cast("double") / F.col("n_ante").cast("double")
            ).alias("confidence"),
            _r6(
                F.col("support").cast("double")
                * F.col("n_orders").cast("double")
                / (F.col("n_ante").cast("double") * F.col("n_cons").cast("double"))
            ).alias("lift"),
        )
    )


registry.register(
    "assoc_rules",
    q_assoc_rules,
    """
    WITH ob AS MATERIALIZED (
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    pairs AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, COUNT(*) AS support
      FROM ob a JOIN ob b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY 1, 2
    ),
    rules AS (
      SELECT brand_a AS antecedent, brand_b AS consequent, support
      FROM pairs WHERE support >= 5
      UNION ALL
      SELECT brand_b AS antecedent, brand_a AS consequent, support
      FROM pairs WHERE support >= 5
    ),
    brand_n AS (
      SELECT p_brand, COUNT(*) AS n_brand FROM ob GROUP BY p_brand
    ),
    n_orders AS (
      SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM ob
    )
    SELECT r.antecedent, r.consequent, r.support,
           FLOOR((CAST(r.support AS DOUBLE) / CAST(na.n_brand AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS confidence,
           FLOOR((CAST(r.support AS DOUBLE) * CAST(n_orders.n_orders AS DOUBLE) /
                  (CAST(na.n_brand AS DOUBLE) * CAST(nc.n_brand AS DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0 AS lift
    FROM rules r
    JOIN brand_n na ON r.antecedent = na.p_brand
    JOIN brand_n nc ON r.consequent = nc.p_brand
    CROSS JOIN n_orders
    """,
)


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peeling of the co-purchase graph: 3 synchronized
    rounds of "drop every vertex with degree < k", k chosen
    scale-invariantly as HALF the floored mean degree ⌊⌊2|E|/|V|⌋/2⌋
    — the sparse fringe peels while a non-empty dense core survives
    at every SF (the full mean empties this graph: its degree spread
    is narrow enough that one peel cascades).
    Output: surviving vertices with their residual degree.

    The FIXED round count is what makes an iterative algorithm
    oracle-checkable — the DuckDB twin unrolls the same 3 rounds as
    chained CTEs (same pattern as kmeans_fit's unrolled Lloyd
    iterations). True peeling runs to fixpoint; at scale each round
    is a degree-agg + semi-join pair on the shrinking edge list (the
    connected-components playbook: O(rounds) bounded shuffles).
    k travels as a broadcast 1-row frame — no driver-side collect.

    The base edge list arrives localCheckpoint'ed (_above_avg_edges):
    without that, three rounds of self-referencing joins re-derive
    the fact scan + orderkey shuffle once per degree computation —
    measured 45 s → ~2 s at sf0.1."""
    edges = _above_avg_edges(spark, sf_dir)
    # `div`, not cast(x/y): both engines must FLOOR the mean degree
    # (Spark's long cast truncates the double quotient, DuckDB's CAST
    # rounds — integer division sidesteps the divergence)
    kdf = _degrees(edges).agg(
        F.expr("(sum(degree) div count(*)) div 2").alias("k")
    )
    for _ in range(3):
        deg = _degrees(edges)
        keep = (
            deg.crossJoin(F.broadcast(kdf))
            .filter(F.col("degree") >= F.col("k"))
            .select("v")
        )
        # per-round checkpoint: keep is referenced twice and edges
        # feeds the next round twice more — without truncation the
        # plan grows ~3^r subtrees (stage-scheduling overhead, not
        # data, is what compounds on a 150-row frame)
        edges = (
            edges.join(keep.withColumnRenamed("v", "brand_a"), "brand_a")
            .join(keep.withColumnRenamed("v", "brand_b"), "brand_b")
            .localCheckpoint()
        )
    return _degrees(edges).select("v", "degree")


def _kcore_sql() -> str:
    rounds = []
    prev = "e0"
    for r in range(3):
        rounds.append(
            f"""d{r} AS (
      SELECT v, COUNT(*) AS degree FROM (
        SELECT brand_a AS v FROM {prev}
        UNION ALL SELECT brand_b AS v FROM {prev}
      ) GROUP BY 1
    ),
    keep{r} AS (SELECT v FROM d{r} CROSS JOIN kv WHERE degree >= k),
    e{r + 1} AS (
      SELECT e.brand_a, e.brand_b FROM {prev} e
      JOIN keep{r} ka ON e.brand_a = ka.v
      JOIN keep{r} kb ON e.brand_b = kb.v
    )"""
        )
        prev = f"e{r + 1}"
    return (
        _PAIRS_SQL
        + """,
    e0 AS (SELECT brand_a, brand_b FROM edges),
    kv AS (
      SELECT (SUM(degree) // COUNT(*)) // 2 AS k FROM (
        SELECT v, COUNT(*) AS degree FROM (
          SELECT brand_a AS v FROM e0
          UNION ALL SELECT brand_b AS v FROM e0
        ) GROUP BY 1
      )
    ),
    """
        + ",\n    ".join(rounds)
        + """
    SELECT v, COUNT(*) AS degree FROM (
      SELECT brand_a AS v FROM e3
      UNION ALL SELECT brand_b AS v FROM e3
    ) GROUP BY 1
    """
    )


registry.register("kcore", q_kcore, _kcore_sql())


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction
# ---------------------------------------------------------------------------


def q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link-prediction score for brand pairs with at least
    one common co-purchase neighbor: AA(a,b) = Σ_{z∈N(a)∩N(b)}
    1/ln(deg z) — node_jaccard's degree-weighted sibling (rare shared
    neighbors count more), plus an is_existing_edge flag so the
    non-edge rows are the ranked link predictions.

    Exactness: the per-VERTEX weight 1/ln(deg z) quantizes to an
    exact BIGINT (floor(1e9/ln deg)) BEFORE the per-pair sum — the
    unigram_perplexity trick — so the wedge-grouped Σ is pure integer
    arithmetic, order-invariant across engines; deg z ≥ 2 for any
    common neighbor, so ln never sees 1. Shape: the same middle-vertex
    wedge join as node_jaccard with the degree table broadcast onto
    the adjacency BEFORE wedging — common-neighbor weights arrive
    grouped, no neighbor sets materialize."""
    edges = _above_avg_edges(spark, sf_dir)
    # degree-1 vertices can never be a wedge middle (they have one
    # neighbor) — prune BEFORE the eager w9 computation or ln(1)=0
    # divides by zero
    deg = _degrees(edges).filter(F.col("degree") >= 2)
    w9 = F.floor(
        F.lit(1e9) / F.log(F.col("degree").cast("double"))
    ).cast("long")
    adj = (
        edges.select(F.col("brand_a").alias("c"), F.col("brand_b").alias("x"))
        .unionAll(
            edges.select(
                F.col("brand_b").alias("c"), F.col("brand_a").alias("x")
            )
        )
        .join(F.broadcast(deg.select(F.col("v").alias("c"), w9.alias("w9"))), "c")
    )
    wedges = (
        adj.alias("l")
        .join(adj.alias("r"), F.col("l.c") == F.col("r.c"))
        .filter(F.col("l.x") < F.col("r.x"))
        .groupBy(
            F.col("l.x").alias("brand_a"), F.col("r.x").alias("brand_b")
        )
        .agg(
            F.count("*").alias("n_common"),
            F.sum(F.col("l.w9")).alias("aa9"),
        )
    )
    flagged = wedges.join(
        edges.withColumn("is_e", F.lit(1)),
        ["brand_a", "brand_b"],
        "left",
    )
    return flagged.select(
        "brand_a",
        "brand_b",
        F.col("n_common").cast("long").alias("n_common"),
        F.coalesce(F.col("is_e"), F.lit(0)).cast("long").alias(
            "is_existing_edge"
        ),
        _r6(F.col("aa9").cast("double") / F.lit(1e9)).alias("adamic_adar"),
    )


registry.register(
    "adamic_adar",
    q_adamic_adar,
    _PAIRS_SQL
    + """,
    deg AS (
      SELECT v, COUNT(*) AS degree FROM (
        SELECT brand_a AS v FROM edges
        UNION ALL SELECT brand_b AS v FROM edges
      ) GROUP BY 1
    ),
    adj AS (
      SELECT a.c, a.x,
             CAST(FLOOR(1e9 / LN(CAST(d.degree AS DOUBLE))) AS BIGINT) AS w9
      FROM (SELECT brand_a AS c, brand_b AS x FROM edges
            UNION ALL SELECT brand_b AS c, brand_a AS x FROM edges) a
      JOIN deg d ON a.c = d.v AND d.degree >= 2
    ),
    wedges AS (
      SELECT l.x AS brand_a, r.x AS brand_b,
             COUNT(*) AS n_common, SUM(l.w9) AS aa9
      FROM adj l JOIN adj r ON l.c = r.c AND l.x < r.x
      GROUP BY 1, 2
    )
    SELECT w.brand_a, w.brand_b,
           CAST(w.n_common AS BIGINT) AS n_common,
           CAST(CASE WHEN e.brand_a IS NULL THEN 0 ELSE 1 END AS BIGINT)
             AS is_existing_edge,
           FLOOR((CAST(w.aa9 AS DOUBLE) / 1e9) * 1000000.0 + 0.5)
             / 1000000.0 AS adamic_adar
    FROM wedges w
    LEFT JOIN edges e
      ON w.brand_a = e.brand_a AND w.brand_b = e.brand_b
    """,
)


# ---------------------------------------------------------------------------
# DBSCAN-style grid-density clustering
# ---------------------------------------------------------------------------

_GRID_R = 0.1
_GRID_MINPTS = 5


def q_dbscan_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-density clustering of the embedding cloud's first two
    dimensions: cells of side 0.1 with ≥5 points are dense, and
    8-neighbor-adjacent dense cells merge into clusters (the
    GriDBSCAN/density-grid family — DBSCAN's scalable approximation
    that replaces the ε-neighborhood query with a grid histogram).

    Scale shape: the fact contributes ONE combinable cell-count
    groupBy; everything after (adjacency self-join, iterative CC via
    operators/connected_components.py) runs on the dense-cell table,
    bounded by the grid, not the data. Cell ids are exact integers
    (floor of float/const division — identical IEEE on both engines);
    the oracle closes the same adjacency with a recursive CTE, so
    components match by construction."""
    emb = load_table(spark, sf_dir, "embeddings")
    cells = (
        emb.select(
            F.floor(
                F.col("embedding").getItem(0).cast("double") / F.lit(_GRID_R)
            ).alias("cx"),
            F.floor(
                F.col("embedding").getItem(1).cast("double") / F.lit(_GRID_R)
            ).alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count("*").alias("n_points"))
        .filter(F.col("n_points") >= _GRID_MINPTS)
    )
    nid = ((F.col("cx") + 100) * 1000 + (F.col("cy") + 100)).cast("long")
    dense = cells.select("cx", "cy", "n_points", nid.alias("nid"))
    a, b = dense.alias("a"), dense.alias("b")
    edges = (
        a.join(
            b,
            (F.abs(F.col("a.cx") - F.col("b.cx")) <= 1)
            & (F.abs(F.col("a.cy") - F.col("b.cy")) <= 1)
            & (F.col("a.nid") < F.col("b.nid")),
        )
        .select(F.col("a.nid").alias("id_a"), F.col("b.nid").alias("id_b"))
    )
    from airflow_baseball_spark.operators.connected_components import (
        connected_components,
    )

    comp = connected_components(edges)
    return dense.join(
        comp, dense["nid"] == comp["node"], "left"
    ).select(
        F.col("cx").cast("long").alias("cx"),
        F.col("cy").cast("long").alias("cy"),
        F.col("n_points").cast("long").alias("n_points"),
        F.coalesce(F.col("root"), F.col("nid")).cast("long").alias(
            "cluster_root"
        ),
    )


registry.register(
    "dbscan_grid",
    q_dbscan_grid,
    f"""
    WITH RECURSIVE
    dense AS (
      SELECT cx, cy, COUNT(*) AS n_points,
             (cx + 100) * 1000 + (cy + 100) AS nid
      FROM (
        SELECT FLOOR(CAST(embedding[1] AS DOUBLE) / {_GRID_R}) AS cx,
               FLOOR(CAST(embedding[2] AS DOUBLE) / {_GRID_R}) AS cy
        FROM embeddings
      )
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_GRID_MINPTS}
    ),
    sym AS (
      SELECT a.nid AS u, b.nid AS v
      FROM dense a JOIN dense b
        ON ABS(a.cx - b.cx) <= 1 AND ABS(a.cy - b.cy) <= 1
       AND a.nid <> b.nid
    ),
    reach(u, v) AS (
      SELECT u, v FROM sym
      UNION
      SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
    ),
    comp AS (SELECT u AS node, LEAST(u, MIN(v)) AS root
             FROM reach GROUP BY u)
    SELECT CAST(d.cx AS BIGINT) AS cx, CAST(d.cy AS BIGINT) AS cy,
           CAST(d.n_points AS BIGINT) AS n_points,
           CAST(COALESCE(c.root, d.nid) AS BIGINT) AS cluster_root
    FROM dense d LEFT JOIN comp c ON d.nid = c.node
    """,
)


# ---------------------------------------------------------------------------
# Markov-chain stationary distribution (quantized power iteration)
# ---------------------------------------------------------------------------

_MARKOV_K = 12
_MARKOV_SCALE = 1000000000


def q_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type transition chain
    (event_transitions' matrix, iterated): where does a user's
    session settle in the long run — the journey-level importance
    score, PageRank's chain-analysis sibling on the states graph.

    Spark does the corpus-sized work (one user-keyed LEAD window +
    the |types|² count agg); the matrix itself is states²-bounded
    METADATA, so the 12 power iterations run on collected integers —
    the league-scalars/k-means-partials precedent for provably
    bounded driver state. Bit-exactness: probabilities quantize to
    integers p9 = n·1e9 div row_n and every iteration is
    x9'_j = Σ_i (x9_i·p9_ij div 1e9) — PURE integer arithmetic with
    per-term floors, matching the oracle's 12 unrolled CTEs term for
    term (floor loss drains mass identically on both sides; the
    leaked ~1e-9/round is far below the `_r6` report)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count("*").alias("n"))
    )
    rows = trans.collect()  # |types|^2-bounded
    row_tot: dict[str, int] = {}
    for r in rows:
        row_tot[r.event_type] = row_tot.get(r.event_type, 0) + r.n
    p9 = {
        (r.event_type, r.next_type): (r.n * _MARKOV_SCALE) // row_tot[r.event_type]
        for r in rows
    }
    states = sorted(row_tot)
    x9 = {s: _MARKOV_SCALE // len(states) for s in states}
    for _ in range(_MARKOV_K):
        nxt: dict[str, int] = {}
        for (i, j), p in p9.items():
            if i in x9:
                nxt[j] = nxt.get(j, 0) + (x9[i] * p) // _MARKOV_SCALE
        x9 = nxt
    out = [(s, x9.get(s, 0)) for s in sorted(set(states) | set(x9))]
    return spark.createDataFrame(out, "event_type string, x9 long").select(
        "event_type",
        _r6(F.col("x9").cast("double") / F.lit(float(_MARKOV_SCALE))).alias(
            "stationary_p"
        ),
    )


def _markov_sql() -> str:
    s = _MARKOV_SCALE
    ctes = []
    prev = "x0"
    for k in range(_MARKOV_K):
        ctes.append(
            f"""x{k + 1} AS (
      SELECT p.next_type AS j,
             CAST(SUM(x.x9 * p.p9 // {s}) AS BIGINT) AS x9
      FROM {prev} x JOIN p9 p ON x.j = p.event_type
      GROUP BY 1
    )"""
        )
        prev = f"x{k + 1}"
    return (
        f"""
    WITH trans AS (
      SELECT event_type, next_type, COUNT(*) AS n
      FROM (
        SELECT event_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
      ) WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    ),
    row_tot AS (SELECT event_type, SUM(n) AS rn FROM trans GROUP BY 1),
    p9 AS (
      SELECT t.event_type, t.next_type,
             (t.n * {s}) // r.rn AS p9
      FROM trans t JOIN row_tot r ON t.event_type = r.event_type
    ),
    x0 AS (
      SELECT event_type AS j,
             CAST({s} // (SELECT COUNT(*) FROM row_tot) AS BIGINT) AS x9
      FROM row_tot
    ),
    """
        + ",\n    ".join(ctes)
        + f"""
    SELECT j AS event_type,
           FLOOR((CAST(x9 AS DOUBLE) / {s}.0) * 1000000.0 + 0.5)
             / 1000000.0 AS stationary_p
    FROM {prev}
    """
    )


registry.register("markov_stationary", q_markov_stationary, _markov_sql())


# ---------------------------------------------------------------------------
# Popularity-recommender hit rate
# ---------------------------------------------------------------------------


def q_popularity_hitrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hit-rate@3 of the popularity recommender: the 3 brands with the
    widest first-half customer reach, scored on second-half orders
    (hit = the order contains a recommended brand) — the cold-start
    baseline every recommender must beat, evaluated offline like
    policy_replay_eval.

    Time split at the integer midpoint epoch-day; popularity ranks by
    exact distinct-customer counts (brand tie-break); the test-side
    hit flag is a semi-join against the 3-row broadcast. Counts only.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    epoch_day = F.datediff(
        F.to_date("o_orderdate"), F.to_date(F.lit("1970-01-01"))
    )
    o = orders.select(
        "o_orderkey", "o_custkey", epoch_day.alias("d")
    )
    bounds = o.agg(
        ((F.min("d") + F.max("d")) - (F.min("d") + F.max("d")) % 2).alias(
            "mid2"
        )
    )
    ob = (
        o.crossJoin(F.broadcast(bounds))
        .withColumn("is_train", (F.col("d") * 2) < F.col("mid2"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .select("o_orderkey", "o_custkey", "is_train", "p_brand")
    )
    pop = (
        ob.filter(F.col("is_train"))
        .groupBy("p_brand")
        .agg(F.countDistinct("o_custkey").alias("reach"))
    )
    w = Window.orderBy(F.col("reach").desc(), "p_brand")
    top3 = (
        pop.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(F.col("p_brand").alias("rec_brand"))
    )
    test_orders = ob.filter(~F.col("is_train"))
    # one pass over the distinct test orders with the hit flag
    per_order = (
        test_orders.join(
            F.broadcast(top3),
            F.col("p_brand") == F.col("rec_brand"),
            "left",
        )
        .groupBy("o_orderkey")
        .agg(
            F.max(
                F.when(F.col("rec_brand").isNotNull(), 1).otherwise(0)
            ).alias("hit")
        )
    )
    return per_order.agg(
        F.count("*").cast("long").alias("n_test_orders"),
        F.sum("hit").cast("long").alias("n_hit_orders"),
        _r6(
            F.sum("hit").cast("double") / F.count("*").cast("double")
        ).alias("hit_rate_at3"),
    )


registry.register(
    "popularity_hitrate",
    q_popularity_hitrate,
    """
    WITH o AS (
      SELECT o_orderkey, o_custkey,
             datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS d
      FROM orders
    ),
    bounds AS (
      SELECT (MIN(d) + MAX(d)) - (MIN(d) + MAX(d)) % 2 AS mid2 FROM o
    ),
    ob AS (
      SELECT o.o_orderkey, o.o_custkey, (o.d * 2) < b.mid2 AS is_train,
             p.p_brand
      FROM o CROSS JOIN bounds b
      JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      JOIN part p ON l.l_partkey = p.p_partkey
    ),
    top3 AS (
      SELECT p_brand AS rec_brand FROM (
        SELECT p_brand,
               ROW_NUMBER() OVER (ORDER BY COUNT(DISTINCT o_custkey) DESC,
                                           p_brand) AS rk
        FROM ob WHERE is_train GROUP BY p_brand
      ) WHERE rk <= 3
    ),
    test_orders AS (SELECT * FROM ob WHERE NOT is_train),
    hit AS (
      SELECT DISTINCT o_orderkey FROM test_orders
      WHERE p_brand IN (SELECT rec_brand FROM top3)
    )
    SELECT (SELECT CAST(COUNT(DISTINCT o_orderkey) AS BIGINT)
            FROM test_orders) AS n_test_orders,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM hit) AS n_hit_orders,
           FLOOR(((SELECT CAST(COUNT(*) AS DOUBLE) FROM hit)
                  / (SELECT CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE)
                     FROM test_orders))
                 * 1000000.0 + 0.5) / 1000000.0 AS hit_rate_at3
    """,
)


# ---------------------------------------------------------------------------
# Effective catalog size (diversity indices)
# ---------------------------------------------------------------------------


def q_effective_catalog_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many brands does the revenue REALLY spread over: the
    Shannon effective number exp(H) and the Simpson/inverse-HHI
    effective number 1/Σp² of brand revenue shares — the two
    diversity indices product teams quote next to raw brand counts
    (hhi_concentration reports Σp²; these convert to head-counts).

    Shares are exact integer-cent ratios; Σp² computes as the integer
    cross-product Σs²/S² (one exact ratio); H follows entropy_profile
    (ln over ≤|brands| terms, `_r6`)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    cents = (dec_portable("l_extendedprice", 18, 2) * 100).cast(
        "long"
    )
    rev = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(F.sum(cents).alias("s"))
    )
    wn = Window.partitionBy()
    staged = rev.select(
        "s",
        F.sum("s").over(wn).alias("tot"),
        F.count("*").over(wn).alias("k"),
    )
    h_term = (
        F.col("s").cast("double") / F.col("tot").cast("double")
    ) * F.log(F.col("s").cast("double") / F.col("tot").cast("double"))
    simpson_num = F.col("s").cast("double") * F.col("s").cast("double")
    agg = staged.groupBy("tot", "k").agg(
        F.sum(h_term).alias("negH"),
        F.sum(simpson_num).alias("ss2"),
    )
    return agg.select(
        F.col("k").cast("long").alias("n_brands"),
        _r6(F.exp(-F.col("negH"))).alias("shannon_effective"),
        _r6(
            (F.col("tot").cast("double") * F.col("tot").cast("double"))
            / F.col("ss2")
        ).alias("simpson_effective"),
    )


registry.register(
    "effective_catalog_size",
    q_effective_catalog_size,
    """
    WITH rev AS (
      SELECT p.p_brand,
             SUM(CAST(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) / 100 AS DECIMAL(18,2)) * 100
                      AS BIGINT)) AS s
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1
    ),
    staged AS (
      SELECT s, SUM(s) OVER () AS tot, COUNT(*) OVER () AS k FROM rev
    ),
    agg AS (
      SELECT tot, k,
             SUM((CAST(s AS DOUBLE) / CAST(tot AS DOUBLE))
                 * LN(CAST(s AS DOUBLE) / CAST(tot AS DOUBLE))) AS negH,
             SUM(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) AS ss2
      FROM staged GROUP BY 1, 2
    )
    SELECT CAST(k AS BIGINT) AS n_brands,
           FLOOR(EXP(-negH) * 1000000.0 + 0.5) / 1000000.0
             AS shannon_effective,
           FLOOR(((CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)) / ss2)
                 * 1000000.0 + 0.5) / 1000000.0 AS simpson_effective
    FROM agg
    """,
)


# ---------------------------------------------------------------------------
# ABC-XYZ inventory matrix
# ---------------------------------------------------------------------------


def q_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ABC×XYZ planning matrix: parts classed by revenue share
    (A/B/C via cumulative 80/95% cuts — abc_classification's rule)
    crossed with demand variability (X/Y/Z via the coefficient of
    variation of weekly quantities) — the 9-cell grid that sets
    service levels and safety stock.

    Exactness: revenue cuts compare integer cumulative cross-products
    (cum·100 ≤ tot·80); CV classes compare VARIANCE to mean² in pure
    integers (n·Σq² − S² vs thresh²·S²/… rearranged to integer
    products: X iff n·(nΣq²−S²) ≤ thresh²·S² with thresh scaled by
    10) — no float enters any class boundary. Output is the 9-cell
    rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = (dec_portable("l_extendedprice", 18, 2) * 100).cast(
        "long"
    )
    week = F.expr(
        "datediff(to_date(l_shipdate), to_date('1970-01-01')) div 7"
    )
    weekly = li.groupBy("l_partkey", week.alias("w")).agg(
        F.sum(dec_portable("l_quantity", 18, 2) * 100)
        .cast("long")
        .alias("q"),
        F.sum(cents).alias("r"),
    )
    per_part = weekly.groupBy("l_partkey").agg(
        F.count("*").alias("nw"),
        F.sum("q").alias("sq"),
        F.sum(F.col("q") * F.col("q")).alias("qq"),
        F.sum("r").alias("rev"),
    )
    w_rev = Window.orderBy(F.col("rev").desc(), "l_partkey").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wn = Window.partitionBy()
    staged = per_part.select(
        "l_partkey",
        "nw",
        "sq",
        "qq",
        "rev",
        F.sum("rev").over(w_rev).alias("cum"),
        F.sum("rev").over(wn).alias("tot"),
    )
    abc = (
        F.when(F.col("cum") * 100 <= F.col("tot") * 80, "A")
        .when(F.col("cum") * 100 <= F.col("tot") * 95, "B")
        .otherwise("C")
    )
    # CV² = (n·Σq² − S²)/S²;  X: CV ≤ 0.5, Y: ≤ 1.0, else Z — in
    # integers: n·Σq²−S² vs (thresh·10)²·S² / 100
    var_num = (
        F.col("nw").cast("decimal(38,0)") * F.col("qq").cast("decimal(38,0)")
        - F.col("sq").cast("decimal(38,0)") * F.col("sq").cast("decimal(38,0)")
    )
    s2 = F.col("sq").cast("decimal(38,0)") * F.col("sq").cast("decimal(38,0)")
    xyz = (
        F.when(var_num * 100 <= s2 * 25, "X")
        .when(var_num * 100 <= s2 * 100, "Y")
        .otherwise("Z")
    )
    return (
        staged.select(abc.alias("abc"), xyz.alias("xyz"), "rev")
        .groupBy("abc", "xyz")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            _r6(F.sum("rev").cast("double") / 100.0).alias("revenue"),
        )
    )


registry.register(
    "abc_xyz_matrix",
    q_abc_xyz_matrix,
    """
    WITH weekly AS (
      SELECT l_partkey,
             datediff('day', DATE '1970-01-01',
                      CAST(l_shipdate AS DATE)) // 7 AS w,
             CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) / 100 AS DECIMAL(18,2)) * 100) AS BIGINT)
               AS q,
             SUM(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) / 100 AS DECIMAL(18,2)) * 100
                      AS BIGINT)) AS r
      FROM lineitem GROUP BY 1, 2
    ),
    per_part AS (
      SELECT l_partkey, COUNT(*) AS nw, SUM(q) AS sq,
             SUM(q * q) AS qq, SUM(r) AS rev
      FROM weekly GROUP BY 1
    ),
    staged AS (
      SELECT l_partkey, nw, sq, qq, rev,
             SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(rev) OVER () AS tot
      FROM per_part
    ),
    classed AS (
      SELECT CASE WHEN cum * 100 <= tot * 80 THEN 'A'
                  WHEN cum * 100 <= tot * 95 THEN 'B'
                  ELSE 'C' END AS abc,
             CASE WHEN (CAST(nw AS HUGEINT) * qq
                        - CAST(sq AS HUGEINT) * sq) * 100
                       <= CAST(sq AS HUGEINT) * sq * 25 THEN 'X'
                  WHEN (CAST(nw AS HUGEINT) * qq
                        - CAST(sq AS HUGEINT) * sq) * 100
                       <= CAST(sq AS HUGEINT) * sq * 100 THEN 'Y'
                  ELSE 'Z' END AS xyz,
             rev
      FROM staged
    )
    SELECT abc, xyz,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           FLOOR((CAST(SUM(rev) AS DOUBLE) / 100.0) * 1000000.0 + 0.5)
             / 1000000.0 AS revenue
    FROM classed GROUP BY 1, 2
    """,
)


# ---------------------------------------------------------------------------
# One-row graph summary (global transitivity)
# ---------------------------------------------------------------------------


def q_graph_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-purchase graph's one-row card: nodes, edges, wedges,
    triangles, and global transitivity 3·△/wedges — the summary the
    per-vertex metrics (clustering_coeff, degree_distribution) roll
    up to. Wedges = Σ d·(d−1)/2 from the degree table (integer);
    triangles reuse the oriented 2-join; transitivity is ONE exact
    integer ratio."""
    edges = _above_avg_edges(spark, sf_dir)
    deg = _degrees(edges)
    e1 = edges.select(F.col("brand_a").alias("a"), F.col("brand_b").alias("b"))
    e2 = edges.select(F.col("brand_a").alias("b2"), F.col("brand_b").alias("c"))
    e3 = edges.select(F.col("brand_a").alias("a3"), F.col("brand_b").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .count()
    )
    summ = deg.agg(
        F.count("*").alias("n_nodes"),
        (F.sum(F.col("degree") * (F.col("degree") - 1)) / 2)
        .cast("long")
        .alias("wedges"),
        (F.sum("degree") / 2).cast("long").alias("n_edges"),
    )
    return summ.select(
        F.col("n_nodes").cast("long").alias("n_nodes"),
        "n_edges",
        "wedges",
        F.lit(tri).cast("long").alias("triangles"),
        _r6(
            F.lit(3.0)
            * F.lit(float(tri))
            / F.col("wedges").cast("double")
        ).alias("transitivity"),
    )


registry.register(
    "graph_summary",
    q_graph_summary,
    _PAIRS_SQL
    + """,
    deg AS (
      SELECT v, COUNT(*) AS degree FROM (
        SELECT brand_a AS v FROM edges
        UNION ALL SELECT brand_b AS v FROM edges
      ) GROUP BY 1
    ),
    tri AS (
      SELECT COUNT(*) AS t
      FROM edges e1
      JOIN edges e2 ON e1.brand_b = e2.brand_a
      JOIN edges e3 ON e1.brand_a = e3.brand_a
                   AND e2.brand_b = e3.brand_b
    ),
    summ AS (
      SELECT COUNT(*) AS n_nodes,
             SUM(degree * (degree - 1)) // 2 AS wedges,
             SUM(degree) // 2 AS n_edges
      FROM deg
    )
    SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(n_edges AS BIGINT) AS n_edges,
           CAST(wedges AS BIGINT) AS wedges,
           CAST(t AS BIGINT) AS triangles,
           FLOOR((3.0 * CAST(t AS DOUBLE) / CAST(wedges AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS transitivity
    FROM summ CROSS JOIN tri
    """,
)


# ---------------------------------------------------------------------------
# Single-source supply risk
# ---------------------------------------------------------------------------


def q_single_source_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose entire shipped volume comes from ONE supplier, per
    brand — the procurement risk screen (hhi_concentration measures
    revenue concentration; this flags the hard single-point-of-
    failure corner). One (part, supplier) distinct pass, a part-level
    rollup, a brand-level rollup — all counts."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    per_part = ps.groupBy("l_partkey").agg(
        F.count("*").alias("n_suppliers")
    )
    j = per_part.join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    )
    out = j.groupBy("p_brand").agg(
        F.count("*").cast("long").alias("n_parts"),
        F.count(F.when(F.col("n_suppliers") == 1, 1))
        .cast("long")
        .alias("n_single_sourced"),
    )
    return out.select(
        "p_brand",
        "n_parts",
        "n_single_sourced",
        _r6(
            F.col("n_single_sourced").cast("double")
            / F.col("n_parts").cast("double")
        ).alias("single_source_share"),
    )


registry.register(
    "single_source_risk",
    q_single_source_risk,
    """
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    per_part AS (
      SELECT l_partkey, COUNT(*) AS n_suppliers FROM ps GROUP BY 1
    )
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(COUNT(CASE WHEN pp.n_suppliers = 1 THEN 1 END) AS BIGINT)
             AS n_single_sourced,
           FLOOR((CAST(COUNT(CASE WHEN pp.n_suppliers = 1 THEN 1 END)
                       AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS single_source_share
    FROM per_part pp JOIN part p ON pp.l_partkey = p.p_partkey
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# Top-k ranking stability between periods
# ---------------------------------------------------------------------------


def q_topk_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How stable is the brand revenue top-10 between the first and
    second half of the data: overlap@k for k = 1…10 plus an
    RBO-style average — the ranking-churn metric that tells a
    merchandising dashboard whether this week's "top sellers" list
    means anything.

    Two per-period rank tables (ties broken by brand), one join on
    brand, overlap@k counted as pairs ranked ≤ k in BOTH periods —
    all integers; the average overlap ratio is the one division per
    row."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ed = F.expr(
        "datediff(to_date(l_shipdate), to_date('1970-01-01'))"
    )
    cents = (dec_portable("l_extendedprice", 18, 2) * 100).cast(
        "long"
    )
    base = li.join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    ).select("p_brand", cents.alias("v"), ed.alias("d"))
    bounds = base.agg(
        ((F.min("d") + F.max("d")) - (F.min("d") + F.max("d")) % 2).alias(
            "mid2"
        )
    )
    per = (
        base.crossJoin(F.broadcast(bounds))
        .withColumn("p", (F.col("d") * 2 >= F.col("mid2")).cast("int"))
        .groupBy("p_brand", "p")
        .agg(F.sum("v").alias("rev"))
    )
    w = Window.partitionBy("p").orderBy(F.col("rev").desc(), "p_brand")
    ranked = per.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= 10
    )
    r0 = ranked.filter(F.col("p") == 0).select(
        "p_brand", F.col("rk").alias("rk0")
    )
    r1 = ranked.filter(F.col("p") == 1).select(
        F.col("p_brand").alias("b1"), F.col("rk").alias("rk1")
    )
    j = r0.join(r1, F.col("p_brand") == F.col("b1"))
    ks = spark.range(1, 11).select(F.col("id").cast("int").alias("k"))
    overl = (
        ks.join(
            j,
            (F.col("rk0") <= F.col("k")) & (F.col("rk1") <= F.col("k")),
            "left",
        )
        .groupBy("k")
        .agg(F.count("p_brand").alias("n_overlap"))
    )
    return overl.select(
        F.col("k").cast("long").alias("k"),
        F.col("n_overlap").cast("long").alias("n_overlap"),
        _r6(
            F.col("n_overlap").cast("double") / F.col("k").cast("double")
        ).alias("overlap_at_k"),
    )


registry.register(
    "topk_stability",
    q_topk_stability,
    """
    WITH base AS (
      SELECT p.p_brand,
             CAST(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) / 100 AS DECIMAL(18,2)) * 100
                  AS BIGINT) AS v,
             datediff('day', DATE '1970-01-01',
                      CAST(l.l_shipdate AS DATE)) AS d
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    bounds AS (
      SELECT (MIN(d) + MAX(d)) - (MIN(d) + MAX(d)) % 2 AS mid2 FROM base
    ),
    per AS (
      SELECT p_brand, CASE WHEN b.d * 2 >= bo.mid2 THEN 1 ELSE 0 END AS p,
             SUM(v) AS rev
      FROM base b CROSS JOIN bounds bo GROUP BY 1, 2
    ),
    ranked AS (
      SELECT p_brand, p,
             ROW_NUMBER() OVER (PARTITION BY p
                                ORDER BY rev DESC, p_brand) AS rk
      FROM per
    ),
    j AS (
      SELECT r0.p_brand, r0.rk AS rk0, r1.rk AS rk1
      FROM (SELECT * FROM ranked WHERE p = 0 AND rk <= 10) r0
      JOIN (SELECT * FROM ranked WHERE p = 1 AND rk <= 10) r1
        ON r0.p_brand = r1.p_brand
    )
    SELECT CAST(k AS BIGINT) AS k,
           CAST(COUNT(CASE WHEN rk0 <= k AND rk1 <= k THEN 1 END)
                AS BIGINT) AS n_overlap,
           FLOOR((CAST(COUNT(CASE WHEN rk0 <= k AND rk1 <= k THEN 1 END)
                       AS DOUBLE) / CAST(k AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS overlap_at_k
    FROM (SELECT unnest(generate_series(1, 10)) AS k) ks
    LEFT JOIN j ON TRUE
    GROUP BY k
    """,
)


# ---------------------------------------------------------------------------
# Bounded-hop weighted shortest paths on the co-purchase graph
# ---------------------------------------------------------------------------


def q_sssp_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest-path costs from the lexicographically smallest brand to
    every brand reachable in ≤ 6 hops, edge cost = floor(1e9/support)
    (strong co-purchase = cheap hop) — the weighted-reachability
    primitive behind substitution/affinity ranking.

    Bellman-Ford relax rounds (operators/graph.sssp_bounded): the hop
    bound pins the semantics so a 6-round unrolled CTE replicates the
    answer exactly; costs are exact BIGINTs throughout (floor of a
    correctly-rounded double ratio is engine-identical; sums are
    integer)."""
    from airflow_baseball_spark.operators.graph import (
        materialize_edge_list,
        sssp_bounded,
    )

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        return (
            _brand_support(spark, sf_dir)
            .filter(F.col("support") >= 5)
            .select(
                "brand_a",
                "brand_b",
                F.floor(F.lit(1000000000) / F.col("support"))
                .cast("long")
                .alias("w"),
            )
        )

    edges_w = materialize_edge_list(
        spark, sf_dir, "support5_weighted", build
    )
    source = (
        edges_w.select(F.col("brand_a").alias("node"))
        .unionAll(edges_w.select(F.col("brand_b").alias("node")))
        .agg(F.min("node").alias("node"))
    )
    return sssp_bounded(edges_w, source, max_hops=6)


def _sssp_sql(rounds: int = 6) -> str:
    steps = []
    prev = "d0"
    for i in range(1, rounds + 1):
        steps.append(f"""
    d{i} AS (
      SELECT node, MIN(cost) AS cost FROM (
        SELECT node, cost FROM {prev}
        UNION ALL
        SELECT e.t AS node, d.cost + e.w AS cost
        FROM {prev} d JOIN sym e ON d.node = e.s
      ) GROUP BY 1
    )""")
        prev = f"d{i}"
    return f"""
    WITH ob AS MATERIALIZED (
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    pairs AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, COUNT(*) AS support
      FROM ob a JOIN ob b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT brand_a, brand_b,
             CAST(FLOOR(1000000000 / support) AS BIGINT) AS w
      FROM pairs WHERE support >= 5
    ),
    sym AS (
      SELECT brand_a AS s, brand_b AS t, w FROM edges
      UNION ALL SELECT brand_b, brand_a, w FROM edges
    ),
    d0 AS (SELECT MIN(s) AS node, CAST(0 AS BIGINT) AS cost FROM sym),
    {",".join(steps)}
    SELECT node, cost FROM {prev}
    """


registry.register("sssp_bounded", q_sssp_bounded, _sssp_sql())


# ---------------------------------------------------------------------------
# Label propagation (mode-based, synchronous bounded rounds)
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 3


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community labels on the co-purchase graph via synchronous
    label propagation: each round every vertex adopts the MODE of its
    neighbors' labels (ties to the smallest label), starting from
    self-labels. Mode-based updates are what separates LPA from the
    min-label connected-components machinery — labels can coexist
    inside one component, which is the community signal.

    Bounded at 3 synchronous rounds so the semantics are exact (LPA
    has no canonical fixed point; the bounded form is deterministic
    and lets the oracle unroll the identical rounds). Each round is
    one neighbor join + one (v, lbl) count + one per-v argmax window
    — all keyed on the vertex id, localCheckpoint'ed per round."""
    edges = _above_avg_edges(spark, sf_dir)
    sym = edges.select(
        F.col("brand_a").alias("v"), F.col("brand_b").alias("u")
    ).unionAll(
        edges.select(F.col("brand_b").alias("v"), F.col("brand_a").alias("u"))
    ).localCheckpoint()
    labels = sym.select("v").distinct().withColumn(
        "lbl", F.col("v")
    ).localCheckpoint()
    for _ in range(_LPA_ROUNDS):
        nbr = sym.join(
            labels.select(F.col("v").alias("u"), "lbl"), "u"
        ).select("v", "lbl")
        counts = nbr.groupBy("v", "lbl").agg(F.count("*").alias("n"))
        w = Window.partitionBy("v").orderBy(
            F.col("n").desc(), F.col("lbl").asc()
        )
        labels = (
            counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("v", "lbl")
            .localCheckpoint()
        )
    sizes = labels.groupBy("lbl").agg(F.count("*").alias("n_members"))
    return labels.join(F.broadcast(sizes), "lbl").select(
        "v", "lbl", "n_members"
    )


def _lpa_sql(rounds: int = _LPA_ROUNDS) -> str:
    steps = []
    prev = "l0"
    for i in range(1, rounds + 1):
        steps.append(f"""
    l{i} AS (
      SELECT v, lbl FROM (
        SELECT c.v, c.lbl,
               ROW_NUMBER() OVER (PARTITION BY c.v
                                  ORDER BY c.n DESC, c.lbl ASC) AS rn
        FROM (
          SELECT s.v, p.lbl, COUNT(*) AS n
          FROM sym s JOIN {prev} p ON s.u = p.v
          GROUP BY 1, 2
        ) c
      ) WHERE rn = 1
    )""")
        prev = f"l{i}"
    return f"""
    WITH {_PAIRS_SQL.strip().removeprefix("WITH")},
    sym AS (
      SELECT brand_a AS v, brand_b AS u FROM edges
      UNION ALL SELECT brand_b, brand_a FROM edges
    ),
    l0 AS (SELECT DISTINCT v, v AS lbl FROM sym),
    {",".join(steps)},
    sizes AS (SELECT lbl, COUNT(*) AS n_members FROM {prev} GROUP BY 1)
    SELECT f.v, f.lbl, s.n_members
    FROM {prev} f JOIN sizes s ON f.lbl = s.lbl
    """


registry.register("label_propagation", q_label_propagation, _lpa_sql())


# ---------------------------------------------------------------------------
# Bounded harmonic centrality from the min-id vertex
# ---------------------------------------------------------------------------


def q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic centrality of the lexicographically smallest brand on
    the co-purchase graph, hop-bounded at 6: Σ 1/dist over vertices
    reached within 6 hops — the disconnected-graph-safe closeness
    variant (unreached vertices contribute exactly 0, no infinite
    distances to special-case).

    Reuses operators/bfs.bfs_distances (frontier expansion, visited
    set localCheckpoint'ed per hop). Exactness: each 1/d term is
    quantized to the exact integer 1000000 div d BEFORE the sum —
    order-invariant integer arithmetic; the oracle unrolls the same
    6 BFS rounds."""
    from airflow_baseball_spark.operators.bfs import bfs_distances

    edges = _above_avg_edges(spark, sf_dir)
    sym = edges.select(
        F.col("brand_a").alias("src"), F.col("brand_b").alias("dst")
    ).unionAll(
        edges.select(F.col("brand_b").alias("src"), F.col("brand_a").alias("dst"))
    )
    source = (
        sym.select(F.col("src").alias("node")).agg(
            F.min("node").alias("node")
        )
    )
    dists = bfs_distances(sym, source, max_hops=6)
    term = F.when(
        F.col("dist") > 0, F.floor(F.lit(1000000) / F.col("dist")).cast("long")
    ).otherwise(F.lit(0))
    return dists.agg(
        F.min(F.when(F.col("dist") == 0, F.col("node"))).alias("source"),
        F.sum(F.when(F.col("dist") > 0, 1).otherwise(0)).alias("n_reached"),
        F.sum(term).alias("harmonic_micro"),
        _r6(F.sum(term).cast("double") / 1000000.0).alias("harmonic"),
    )


def _harmonic_sql(rounds: int = 6) -> str:
    # r11: each hop CTE is AS MATERIALIZED. Every d{i} references
    # d{i-1} TWICE (carry-forward branch + expansion branch), and
    # DuckDB's planner inlines CTE references — so the un-hinted form
    # duplicates the whole upstream tree per reference, 2^rounds
    # copies of the lineitem-scanning pairs subtree by hop 6. At
    # sf0.01 that is merely slow; at sf0.1 it exhausted >79 GB of
    # temp (OVERFLOW_r10.txt addendum). MATERIALIZED computes each
    # hop once, restoring the linear cost the unrolled-iteration
    # oracles are designed for (the PPR/LPA oracles reference their
    # previous round exactly once per step, which is why only this
    # one blew up). sym2 is materialized too: it is referenced in
    # all 6 hop expansions. Row-set semantics are unchanged — the
    # hint only pins evaluate-once.
    steps = []
    prev = "d0"
    for i in range(1, rounds + 1):
        steps.append(f"""
    d{i} AS MATERIALIZED (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM {prev}
        UNION ALL
        SELECT e.t AS node, d.dist + 1 AS dist
        FROM {prev} d JOIN sym2 e ON d.node = e.s
      ) GROUP BY 1
    )""")
        prev = f"d{i}"
    return f"""
    WITH {_PAIRS_SQL.strip().removeprefix("WITH")},
    sym2 AS MATERIALIZED (
      SELECT brand_a AS s, brand_b AS t FROM edges
      UNION ALL SELECT brand_b, brand_a FROM edges
    ),
    d0 AS (SELECT MIN(s) AS node, 0 AS dist FROM sym2),
    {",".join(steps)}
    SELECT MIN(CASE WHEN dist = 0 THEN node END) AS source,
           SUM(CASE WHEN dist > 0 THEN 1 ELSE 0 END) AS n_reached,
           SUM(CASE WHEN dist > 0
               THEN CAST(1000000 // dist AS BIGINT) ELSE 0 END)
             AS harmonic_micro,
           FLOOR(CAST(SUM(CASE WHEN dist > 0
                          THEN CAST(1000000 // dist AS BIGINT)
                          ELSE 0 END) AS DOUBLE)
                 / 1000000.0 * 1000000.0 + 0.5) / 1000000.0 AS harmonic
    FROM {prev}
    """


registry.register("harmonic_centrality", q_harmonic_centrality, _harmonic_sql())


# ---------------------------------------------------------------------------
# Modularity of the label-propagation communities
# ---------------------------------------------------------------------------


def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the `label_propagation` partition on the
    co-purchase graph — the standard "are these communities real?"
    score (Q > 0 means denser-than-chance inside communities). Per
    community c with within-edge count e_c, degree mass d_c and m
    total edges: contribution = e_c/m − (d_c/2m)² — reported as the
    EXACT integer rational floor((4m·e_c − d_c²)·1e6 / 4m²) per
    community via the portable canonical-remainder floor division
    (numerator can be negative for chance-dominated communities).

    Shapes: labels come from the shared 3-round LPA (same memoized
    edge list); within-edges are two broadcast-able label lookups on
    the brand²-bounded edge table; degrees re-aggregate it. Nothing
    here exceeds the brand-vocabulary size at any SF."""
    edges = _above_avg_edges(spark, sf_dir)
    labels = q_label_propagation(spark, sf_dir).select("v", "lbl")
    la = labels.select(F.col("v").alias("brand_a"), F.col("lbl").alias("la"))
    lb = labels.select(F.col("v").alias("brand_b"), F.col("lbl").alias("lb"))
    labeled = edges.join(F.broadcast(la), "brand_a").join(
        F.broadcast(lb), "brand_b"
    )
    m = edges.count()
    within = (
        labeled.filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("lbl"))
        .agg(F.count("*").alias("e_within"))
    )
    deg = (
        edges.select(F.col("brand_a").alias("v"))
        .unionAll(edges.select(F.col("brand_b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("degree"))
    )
    dmass = (
        deg.join(F.broadcast(labels), "v")
        .groupBy("lbl")
        .agg(F.sum("degree").alias("d_c"), F.count("*").alias("n_members"))
    )
    staged = dmass.join(F.broadcast(within), "lbl", "left").select(
        "lbl",
        "n_members",
        F.coalesce("e_within", F.lit(0)).alias("e_within"),
        "d_c",
        (
            (F.lit(4 * m) * F.coalesce("e_within", F.lit(0)) - F.col("d_c") * F.col("d_c"))
            * F.lit(1000000)
        ).alias("num"),
    )
    den = F.lit(4 * m * m)
    rem = ((F.col("num") % den) + den) % den
    return staged.select(
        "lbl",
        "n_members",
        "e_within",
        "d_c",
        ((F.col("num") - rem) / den).cast("long").alias("q_contrib_micro"),
    )


def _modularity_sql(rounds: int = _LPA_ROUNDS) -> str:
    steps = []
    prev = "l0"
    for i in range(1, rounds + 1):
        steps.append(f"""
    l{i} AS (
      SELECT v, lbl FROM (
        SELECT c.v, c.lbl,
               ROW_NUMBER() OVER (PARTITION BY c.v
                                  ORDER BY c.n DESC, c.lbl ASC) AS rn
        FROM (
          SELECT s.v, p.lbl, COUNT(*) AS n
          FROM sym s JOIN {prev} p ON s.u = p.v
          GROUP BY 1, 2
        ) c
      ) WHERE rn = 1
    )""")
        prev = f"l{i}"
    return f"""
    WITH {_PAIRS_SQL.strip().removeprefix("WITH")},
    sym AS (
      SELECT brand_a AS v, brand_b AS u FROM edges
      UNION ALL SELECT brand_b, brand_a FROM edges
    ),
    l0 AS (SELECT DISTINCT v, v AS lbl FROM sym),
    {",".join(steps)},
    m AS (SELECT COUNT(*) AS m FROM edges),
    within AS (
      SELECT la.lbl, COUNT(*) AS e_within
      FROM edges e
      JOIN {prev} la ON e.brand_a = la.v
      JOIN {prev} lb ON e.brand_b = lb.v
      WHERE la.lbl = lb.lbl
      GROUP BY 1
    ),
    deg AS (
      SELECT v, COUNT(*) AS degree FROM (
        SELECT brand_a AS v FROM edges
        UNION ALL SELECT brand_b AS v FROM edges
      ) GROUP BY 1
    ),
    dmass AS (
      SELECT f.lbl, SUM(d.degree) AS d_c, COUNT(*) AS n_members
      FROM {prev} f JOIN deg d ON f.v = d.v
      GROUP BY 1
    ),
    staged AS (
      SELECT dm.lbl, dm.n_members,
             COALESCE(w.e_within, 0) AS e_within, dm.d_c,
             (4 * m.m * COALESCE(w.e_within, 0) - dm.d_c * dm.d_c)
               * 1000000 AS num,
             4 * m.m * m.m AS den
      FROM dmass dm
      LEFT JOIN within w ON dm.lbl = w.lbl
      CROSS JOIN m
    )
    SELECT lbl, CAST(n_members AS BIGINT) AS n_members,
           CAST(e_within AS BIGINT) AS e_within,
           CAST(d_c AS BIGINT) AS d_c,
           CAST((num - (((num % den) + den) % den)) / den AS BIGINT)
             AS q_contrib_micro
    FROM staged
    """


registry.register("graph_modularity", q_graph_modularity, _modularity_sql())


# ---------------------------------------------------------------------------
# Bounded k-truss peel (k=4: every edge in >= 2 triangles)
# ---------------------------------------------------------------------------

_TRUSS_ROUNDS = 3


def q_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss of the co-purchase graph via 3 synchronous peel rounds:
    each round recomputes per-edge triangle support over the SURVIVING
    edge set and drops edges in < 2 triangles — the cohesive-subgraph
    upgrade of `kcore` (degree is gameable by hub spokes; triangle
    support is not). Bounded rounds keep the semantics exact and
    oracle-unrollable (the LPA convention); on this brand graph 3
    rounds reach the fixpoint.

    Shapes: support is one wedge join per round over the
    brand²-bounded edge list (canonical a<b orientation keeps each
    triangle counted once per edge), localCheckpoint'ed so round r+1
    doesn't re-derive round r's join tree. Output: surviving edges
    with their final-set support — all integer."""
    edges = _above_avg_edges(spark, sf_dir)

    def support(e: DataFrame) -> DataFrame:
        sym = e.select(
            F.col("brand_a").alias("src"), F.col("brand_b").alias("dst")
        ).unionAll(
            e.select(F.col("brand_b").alias("src"), F.col("brand_a").alias("dst"))
        )
        x = sym.select(F.col("src").alias("brand_a"), F.col("dst").alias("c"))
        y = sym.select(F.col("src").alias("brand_b"), F.col("dst").alias("c"))
        return (
            e.join(x, "brand_a")
            .join(y, ["brand_b", "c"])
            .groupBy("brand_a", "brand_b")
            .agg(F.count("*").alias("support"))
        )

    for _ in range(_TRUSS_ROUNDS):
        edges = (
            support(edges)
            .filter(F.col("support") >= 2)
            .select("brand_a", "brand_b")
            .localCheckpoint()
        )
    return support(edges)


def _ktruss_sql(rounds: int = _TRUSS_ROUNDS) -> str:
    # r11: every per-round CTE is AS MATERIALIZED. The un-hinted form
    # is the worst inlining multiplier in the suite: s{i} reads e{i}
    # twice, sup{i} reads e{i} once and s{i} twice, so each peeling
    # round inlines FIVE copies of the previous round's whole tree --
    # 5^rounds copies of the lineitem-scanning pairs subtree by the
    # final support pass. Third instance of the pathology fixed this
    # round (harmonic_centrality, bradley_terry); at sf0.1 this one
    # filled 74 GB of DuckDB temp before being killed
    # (ORACLE_SF01_r11.txt / PERF_NOTES r11 addendum #2).
    # MATERIALIZED pins evaluate-once; row-set semantics unchanged.
    def sym(i: int) -> str:
        return f"""
    s{i} AS MATERIALIZED (
      SELECT brand_a AS src, brand_b AS dst FROM e{i}
      UNION ALL SELECT brand_b, brand_a FROM e{i}
    )"""

    def sup(i: int) -> str:
        return f"""
    sup{i} AS MATERIALIZED (
      SELECT e.brand_a, e.brand_b, COUNT(*) AS support
      FROM e{i} e
      JOIN s{i} x ON e.brand_a = x.src
      JOIN s{i} y ON e.brand_b = y.src AND x.dst = y.dst
      GROUP BY 1, 2
    )"""

    steps = []
    for i in range(rounds):
        steps.append(sym(i))
        steps.append(sup(i))
        steps.append(
            f"""
    e{i + 1} AS MATERIALIZED (
      SELECT brand_a, brand_b FROM sup{i} WHERE support >= 2
    )"""
        )
    steps.append(sym(rounds))
    steps.append(sup(rounds))
    return f"""
    WITH {_PAIRS_SQL.strip().removeprefix("WITH")},
    e0 AS MATERIALIZED (SELECT brand_a, brand_b FROM edges),
    {",".join(steps)}
    SELECT brand_a, brand_b, CAST(support AS BIGINT) AS support
    FROM sup{rounds}
    """


registry.register("ktruss", q_ktruss, _ktruss_sql())


# ---------------------------------------------------------------------------
# Personalized PageRank (integer nano-mass, bounded rounds)
# ---------------------------------------------------------------------------

_PPR_ROUNDS = 6
_PPR_ALPHA_MICRO = 150000  # restart probability 0.15 in micro units


def q_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the lexicographically smallest
    brand on the co-purchase graph: 6 rounds of
    v ← 0.85·Pᵀv + 0.15·e_src — the "related to THIS item" ranking
    (global `pagerank` scores popularity; the personalized teleport
    localizes it; `harmonic_centrality` is the unweighted-distance
    sibling). Unlike the float `pagerank` (attested IEEE replica),
    this walk runs ENTIRELY in integers — the markov_attribution
    discipline: per-edge probability = 1e6 div deg, nano-mass
    BIGINTs, mass·p div 1e6 per step — so no reduction-order term
    exists at all. The floor leaks ≤ deg·1ulp of mass per node per
    round (documented, deterministic on both engines).

    Shapes (r11 optimization): the walk state is brand-vocabulary-
    bounded (24 nodes / 272 directed transitions at sf0.1 — constant
    in fact volume), so after the one fact-scale derivation the whole
    iteration packs into a single row of arrays and each round is ONE
    in-row higher-order-function projection over ≤|brands|² elements,
    localCheckpoint'ed on that 1-row frame (the per-round boundary
    keeps CollapseProject from inlining round k's masses into round
    k+1's lambdas, where codegen would re-evaluate them per element).
    The previous form ran each round as two brand-keyed joins + an
    aggregation + a multi-partition checkpoint — 6× the full
    stage-scheduling cost for a 24-node graph (6.3 s at sf0.1, ~95%
    orchestration; plans/r11/personalized_pagerank_{before,after}.txt).
    The arithmetic is UNCHANGED: per-dst inflow = Σ mass·p_micro DIV
    1e6 (empty in-neighborhood → 0, as the old COALESCE), then
    (inflow·keep) DIV 1e6 + restart at the lexicographically smallest
    node — all BIGINT, so the fold order cannot move a single ulp and
    the rows match the old output exactly."""
    edges = _above_avg_edges(spark, sf_dir)
    sym = edges.select(
        F.col("brand_a").alias("src"), F.col("brand_b").alias("dst")
    ).unionAll(
        edges.select(F.col("brand_b").alias("src"), F.col("brand_a").alias("dst"))
    )
    deg = sym.groupBy("src").agg(F.count("*").alias("deg"))
    trans = sym.join(deg, "src").select(
        "src", "dst", F.expr("1000000 DIV deg").alias("p_micro")
    )
    packed = trans.agg(
        F.sort_array(
            F.collect_list(F.struct("src", "dst", "p_micro"))
        ).alias("es")
    ).select(
        "es",
        F.array_sort(
            F.array_distinct(F.transform("es", lambda e: e["src"]))
        ).alias("ns"),
    )
    state = packed.select(
        "es",
        "ns",
        F.transform(
            "ns",
            lambda n: F.when(
                n == F.element_at("ns", 1), F.lit(1_000_000_000)
            )
            .otherwise(F.lit(0))
            .cast("long"),
        ).alias("ms"),
    ).localCheckpoint()
    keep = 1_000_000 - _PPR_ALPHA_MICRO
    restart = _PPR_ALPHA_MICRO * 1000
    for _ in range(_PPR_ROUNDS):
        inflow = lambda n: F.call_function(  # noqa: E731
            "div",
            F.aggregate(
                F.filter(F.col("es"), lambda e: e["dst"] == n),
                F.lit(0).cast("long"),
                lambda acc, e: acc
                + F.element_at(
                    F.col("ms"),
                    F.array_position(F.col("ns"), e["src"]).cast("int"),
                )
                * e["p_micro"],
            ),
            F.lit(1_000_000),
        )
        state = state.select(
            "es",
            "ns",
            F.transform(
                "ns",
                lambda n: (
                    F.call_function(
                        "div", inflow(n) * F.lit(keep), F.lit(1_000_000)
                    )
                    + F.when(
                        n == F.element_at("ns", 1), F.lit(restart)
                    ).otherwise(F.lit(0))
                ).cast("long"),
            ).alias("ms"),
        ).localCheckpoint()
    return state.select(
        F.explode(F.arrays_zip("ns", "ms")).alias("z")
    ).select(
        F.col("z.ns").alias("node"), F.col("z.ms").alias("ppr_nano")
    )


def _ppr_sql(rounds: int = _PPR_ROUNDS) -> str:
    keep = 1_000_000 - _PPR_ALPHA_MICRO
    restart = _PPR_ALPHA_MICRO * 1000
    steps = []
    prev = "v0"
    for i in range(1, rounds + 1):
        steps.append(f"""
    i{i} AS (
      SELECT t.dst, SUM(v.mass * t.p_micro) // 1000000 AS inflow
      FROM {prev} v JOIN trans t ON v.node = t.src
      GROUP BY 1
    ),
    v{i} AS (
      SELECT n.node,
             (COALESCE(i.inflow, 0) * {keep}) // 1000000
               + CASE WHEN n.node = (SELECT src_node FROM src)
                      THEN {restart} ELSE 0 END AS mass
      FROM nodes n LEFT JOIN i{i} i ON n.node = i.dst
    )""")
        prev = f"v{i}"
    return f"""
    WITH {_PAIRS_SQL.strip().removeprefix("WITH")},
    sym AS (
      SELECT brand_a AS src, brand_b AS dst FROM edges
      UNION ALL SELECT brand_b, brand_a FROM edges
    ),
    deg AS (SELECT src, COUNT(*) AS deg FROM sym GROUP BY 1),
    trans AS (
      SELECT s.src, s.dst, 1000000 // d.deg AS p_micro
      FROM sym s JOIN deg d ON s.src = d.src
    ),
    nodes AS (SELECT DISTINCT src AS node FROM sym),
    src AS (SELECT MIN(node) AS src_node FROM nodes),
    v0 AS (
      SELECT node,
             CASE WHEN node = (SELECT src_node FROM src)
                  THEN CAST(1000000000 AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END AS mass
      FROM nodes
    ),
    {",".join(steps)}
    SELECT node, CAST(mass AS BIGINT) AS ppr_nano FROM {prev}
    """


registry.register(
    "personalized_pagerank", q_personalized_pagerank, _ppr_sql()
)


# ---------------------------------------------------------------------------
# Bradley-Terry strength from pairwise in-basket preferences
# ---------------------------------------------------------------------------

_BT_ROUNDS = 4


def q_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry strengths from pairwise preferences — the
    arena-eval aggregation (chatbot-arena-style pairwise votes →
    global ranking), replayed over in-basket brand "matches": when an
    order contains two brands, the one with the larger line quantity
    wins (ties to the lexicographically smaller brand — determinism
    over elegance). Four minorization-maximization rounds of
    π_i ← W_i / Σ_j n_ij/(π_i+π_j), renormalized each round.

    Exactness: every MM step runs in integers — per-pair terms
    (n_ij·1e12) div (π_i+π_j), per-item updates (W_i·1e12) div D,
    renormalization by largest-remainder-free scalar division — so 4
    rounds × both engines land on identical micro strengths with no
    float reduction anywhere. Shapes: the match table is
    brand²-bounded; each round is one keyed join + agg over it."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy("l_orderkey", "p_brand")
        .agg(
            F.expr(
                "CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) / 100 AS DECIMAL(18,2))) * 100"
                " AS BIGINT)"
            ).alias("qty")
        )
    )
    a = ob.select(
        F.col("l_orderkey").alias("ok"),
        F.col("p_brand").alias("brand_a"),
        F.col("qty").alias("qa"),
    )
    b = ob.select(
        F.col("l_orderkey").alias("ok"),
        F.col("p_brand").alias("brand_b"),
        F.col("qty").alias("qb"),
    )
    matches = (
        a.join(b, "ok")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .select(
            "brand_a",
            "brand_b",
            F.when(
                (F.col("qa") > F.col("qb"))
                | (F.col("qa") == F.col("qb")),
                1,
            )
            .otherwise(0)
            .alias("a_wins"),
        )
    )
    pair = matches.groupBy("brand_a", "brand_b").agg(
        F.count("*").alias("n_games"), F.sum("a_wins").alias("wins_a")
    )
    # r11 (optimization): everything downstream of `pair` is
    # brand-vocabulary-bounded (≤ |brands|² directed rows — constant
    # in fact volume), so the 4 MM rounds pack into one row of arrays
    # and each round is ONE in-row HOF projection, localCheckpoint'ed
    # on that 1-row frame (the boundary stops CollapseProject from
    # inlining round k's strengths into round k+1's lambdas, where
    # codegen would re-evaluate them per element). The previous form
    # ran each round as two brand-keyed joins + two aggregations + a
    # broadcast + a multi-partition checkpoint (4.7 s at sf0.1,
    # mostly stage orchestration for a ≤25-item table;
    # plans/r11/bradley_terry_{before,after}.txt). Arithmetic is
    # UNCHANGED and all-BIGINT — per-pair (n_ij·1e12) DIV (π_i+π_j),
    # per-item (W_i·1e12) DIV D, renormalization
    # (π_raw·n_items·1e6) DIV Σπ_raw — so the fold order cannot move
    # a value and rows match the join form exactly (n_items comes
    # from size(items) instead of a driver-side count — same value,
    # one fewer job).
    dirs = pair.select(
        F.col("brand_a").alias("i"),
        F.col("brand_b").alias("j"),
        "n_games",
        F.col("wins_a").alias("wins_i"),
    ).unionAll(
        pair.select(
            F.col("brand_b").alias("i"),
            F.col("brand_a").alias("j"),
            "n_games",
            (F.col("n_games") - F.col("wins_a")).alias("wins_i"),
        )
    )
    packed = dirs.agg(
        F.sort_array(
            F.collect_list(F.struct("i", "j", "n_games", "wins_i"))
        ).alias("ds")
    ).select(
        "ds",
        F.array_sort(
            F.array_distinct(F.transform("ds", lambda d: d["i"]))
        ).alias("its"),
    )

    def _sum_over(field):
        return lambda n: F.aggregate(
            F.filter(F.col("ds"), lambda d: d["i"] == n),
            F.lit(0).cast("long"),
            lambda acc, d: acc + d[field],
        )

    state = packed.select(
        "ds",
        "its",
        F.transform("its", _sum_over("wins_i")).alias("ws"),
        F.transform("its", _sum_over("n_games")).alias("gs"),
        F.transform(
            "its", lambda _: F.lit(1_000_000).cast("long")
        ).alias("pis"),
    ).localCheckpoint()
    t12 = F.lit(10**12)
    for _ in range(_BT_ROUNDS):
        pos = lambda n: F.array_position(  # noqa: E731
            F.col("its"), n
        ).cast("int")
        d6 = F.transform(
            "its",
            lambda n: F.aggregate(
                F.filter(F.col("ds"), lambda d: d["i"] == n),
                F.lit(0).cast("long"),
                lambda acc, d: acc
                + F.call_function(
                    "div",
                    d["n_games"] * t12,
                    F.element_at(F.col("pis"), pos(n))
                    + F.element_at(F.col("pis"), pos(d["j"])),
                ),
            ),
        )
        praw = F.zip_with(
            F.col("ws"), d6, lambda w, d: F.call_function("div", w * t12, d)
        )
        s = F.aggregate(
            praw, F.lit(0).cast("long"), lambda acc, x: acc + x
        )
        state = state.select(
            "ds",
            "its",
            "ws",
            "gs",
            F.transform(
                praw,
                lambda p: F.call_function(
                    "div",
                    p * F.size("its").cast("long") * F.lit(1_000_000),
                    s,
                ),
            ).alias("pis"),
        ).localCheckpoint()
    return state.select(
        F.explode(F.arrays_zip("its", "gs", "ws", "pis")).alias("z")
    ).select(
        F.col("z.its").alias("brand"),
        F.col("z.gs").alias("games"),
        F.col("z.ws").alias("wins"),
        F.col("z.pis").alias("bt_micro"),
    )


def _bt_sql(rounds: int = _BT_ROUNDS) -> str:
    # r11: every multi-referenced CTE is AS MATERIALIZED. DuckDB
    # inlines CTE references, and this oracle is dense with double
    # references -- t{r} joins the previous round TWICE (pi_i / pi_j),
    # p{r} reads r{r} twice (FROM + scalar SUM subquery), dirs reads
    # pair twice (the UNION ALL symmetrization), matches self-joins
    # ob, and dirs/wtab are re-read every round -- so the un-hinted
    # tree doubles per MM round on top of an already-squared base:
    # at sf0.1 it exhausted >79 GB of DuckDB temp (the same pathology
    # fixed for _harmonic_sql this round; see ORACLE_SF01_r11.txt).
    # MATERIALIZED pins evaluate-once; row-set semantics unchanged.
    steps = []
    prev = "p0"
    for r in range(1, rounds + 1):
        steps.append(f"""
    t{r} AS MATERIALIZED (
      SELECT d.i,
             SUM((d.n_games * 1000000000000)
                 // (pi_i.pi + pi_j.pi)) AS d6
      FROM dirs d
      JOIN {prev} pi_i ON d.i = pi_i.i
      JOIN {prev} pi_j ON d.j = pi_j.i
      GROUP BY 1
    ),
    r{r} AS MATERIALIZED (
      SELECT w.i, (w.w * 1000000000000) // t.d6 AS pi_raw
      FROM wtab w JOIN t{r} t ON w.i = t.i
    ),
    p{r} AS MATERIALIZED (
      SELECT i,
             (pi_raw * (SELECT COUNT(*) FROM wtab) * 1000000)
               // (SELECT SUM(pi_raw) FROM r{r}) AS pi
      FROM r{r}
    )""")
        prev = f"p{r}"
    return f"""
    WITH ob AS MATERIALIZED (
      SELECT l.l_orderkey AS ok, p.p_brand,
             CAST(SUM(CAST(FLOOR(l.l_quantity * 100 + 0.5) / 100 AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS qty
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    ),
    matches AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
             CASE WHEN a.qty >= b.qty THEN 1 ELSE 0 END AS a_wins
      FROM ob a JOIN ob b
        ON a.ok = b.ok AND a.p_brand < b.p_brand
    ),
    pair AS MATERIALIZED (
      SELECT brand_a, brand_b, COUNT(*) AS n_games,
             SUM(a_wins) AS wins_a
      FROM matches GROUP BY 1, 2
    ),
    dirs AS MATERIALIZED (
      SELECT brand_a AS i, brand_b AS j, n_games, wins_a AS wins_i
      FROM pair
      UNION ALL
      SELECT brand_b, brand_a, n_games, n_games - wins_a FROM pair
    ),
    wtab AS MATERIALIZED (
      SELECT i, SUM(wins_i) AS w, SUM(n_games) AS games
      FROM dirs GROUP BY 1
    ),
    p0 AS MATERIALIZED (SELECT i, CAST(1000000 AS BIGINT) AS pi FROM wtab),
    {",".join(steps)}
    SELECT w.i AS brand, CAST(w.games AS BIGINT) AS games,
           CAST(w.w AS BIGINT) AS wins,
           CAST(p.pi AS BIGINT) AS bt_micro
    FROM wtab w JOIN {prev} p ON w.i = p.i
    """


registry.register("bradley_terry", q_bradley_terry, _bt_sql())


# ---------------------------------------------------------------------------
# 3-node / 3-path motif census (closed-form graphlet counts)
# ---------------------------------------------------------------------------


def q_path3_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected small-motif census of the co-purchase graph: wedges
    (paths of length 2), triangles, and paths of length 3 — the
    graphlet signature used to compare network snapshots (two graphs
    with equal degree sequences but different motif counts have
    genuinely different local structure; this is the cheap network-
    drift check run before anything as heavy as `graph_modularity`).

    Everything beyond the triangle count is CLOSED-FORM integer
    arithmetic on degrees — the scale story: wedges = Σ_v C(d_v,2)
    (vertex-sized), 3-edge walks Σ_{(u,v)∈E}(d_u−1)(d_v−1) is one
    edge×degree broadcast join (edge-sized, no enumeration), and
    paths3 = walks − 3·triangles corrects the walks that double back
    through a triangle. Only the triangle term enumerates anything,
    and it runs degree-ordered (O(√|E|) fanout — the hub-skew bound
    test_graph_metrics asserts). All counts are exact BIGINTs; the
    one float is the final paths3-per-wedge ratio."""
    edges = _support5_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("brand_a").alias("v"))
        .unionAll(edges.select(F.col("brand_b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    wedges = deg.agg(
        F.count("*").alias("n_vertices"),
        (F.sum(F.col("d") * (F.col("d") - 1)) / 2)
        .cast("long")
        .alias("n_wedges"),
    )
    da = deg.select(F.col("v").alias("_va"), F.col("d").alias("_da"))
    db = deg.select(F.col("v").alias("_vb"), F.col("d").alias("_db"))
    walks = (
        edges.join(F.broadcast(da), F.col("brand_a") == F.col("_va"))
        .join(F.broadcast(db), F.col("brand_b") == F.col("_vb"))
        .agg(
            F.count("*").alias("n_edges"),
            F.sum(
                (F.col("_da") - 1).cast("long") * (F.col("_db") - 1)
            ).alias("n_walks3"),
        )
    )
    tri = count_triangles_oriented(edges, deg).agg(
        F.count("*").alias("n_triangles")
    )
    return (
        wedges.crossJoin(F.broadcast(walks))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_vertices",
            "n_edges",
            "n_wedges",
            F.col("n_triangles").cast("long").alias("n_triangles"),
            (
                F.col("n_walks3") - 3 * F.col("n_triangles")
            ).cast("long").alias("n_paths3"),
            _r6(
                (
                    F.col("n_walks3") - 3 * F.col("n_triangles")
                ).cast("double")
                / F.col("n_wedges").cast("double")
            ).alias("paths3_per_wedge"),
        )
    )


registry.register(
    "path3_motifs",
    q_path3_motifs,
    """
    WITH ob AS MATERIALIZED (
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    pairs AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, COUNT(*) AS support
      FROM ob a JOIN ob b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY 1, 2
    ),
    edges AS (SELECT brand_a, brand_b FROM pairs WHERE support >= 5),
    deg AS (
      SELECT v, COUNT(*) AS d FROM (
        SELECT brand_a AS v FROM edges
        UNION ALL SELECT brand_b AS v FROM edges
      ) GROUP BY 1
    ),
    wedges AS (
      SELECT COUNT(*) AS n_vertices,
             CAST(SUM(d * (d - 1)) / 2 AS BIGINT) AS n_wedges
      FROM deg
    ),
    walks AS (
      SELECT COUNT(*) AS n_edges,
             SUM((da.d - 1) * (db.d - 1)) AS n_walks3
      FROM edges e
      JOIN deg da ON e.brand_a = da.v
      JOIN deg db ON e.brand_b = db.v
    ),
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM edges e1
      JOIN edges e2 ON e1.brand_b = e2.brand_a
      JOIN edges e3 ON e3.brand_a = e1.brand_a AND e3.brand_b = e2.brand_b
    )
    SELECT w.n_vertices, wa.n_edges, w.n_wedges,
           CAST(t.n_triangles AS BIGINT) AS n_triangles,
           CAST(wa.n_walks3 - 3 * t.n_triangles AS BIGINT) AS n_paths3,
           FLOOR(CAST(wa.n_walks3 - 3 * t.n_triangles AS DOUBLE)
                 / CAST(w.n_wedges AS DOUBLE) * 1000000.0 + 0.5)
             / 1000000.0 AS paths3_per_wedge
    FROM wedges w, walks wa, tri t
    """,
)


# ---------------------------------------------------------------------------
# Gap-constrained sequential pattern mining (SPADE-lite, 2-item)
# ---------------------------------------------------------------------------


def q_seq_gap_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-item sequential patterns a→b where b follows a within the
    next 3 events of the same user — `event_transitions` counts only
    ADJACENT successors, which misses every pattern with an
    interleaved noise event (click→[view]→purchase); the gap window
    is what makes this sequence MINING rather than a Markov matrix.
    Reports occurrence count and user support per pattern.

    Spark shape: one shuffle on user_id serves all three lead
    offsets (same window frame, single sort), the three successor
    columns stack via posexplode in-row, and the pattern grain is
    |types|²·3 — the fact table is never self-joined (the oracle's
    rn-band join is the O(n·gap) formulation the window form avoids
    re-shuffling for). Determinism: the (ts, event_id) sort key is
    total, so successor assignment is engine-exact; all outputs are
    exact counts."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    with_leads = ev.select(
        "user_id",
        F.col("event_type").alias("a"),
        F.array(
            F.lead("event_type", 1).over(w),
            F.lead("event_type", 2).over(w),
            F.lead("event_type", 3).over(w),
        ).alias("succ"),
    )
    pairs = (
        with_leads.select(
            "user_id",
            "a",
            F.posexplode("succ").alias("gap0", "b"),
        )
        .filter(F.col("b").isNotNull())
        .select("user_id", "a", "b", (F.col("gap0") + 1).alias("gap"))
    )
    return (
        pairs.groupBy("a", "b")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.when(F.col("gap") == 1, 1).otherwise(0)).alias(
                "n_adjacent"
            ),
        )
        .select(
            "a",
            "b",
            F.col("n_occurrences").cast("long").alias("n_occurrences"),
            F.col("n_users").cast("long").alias("n_users"),
            F.col("n_adjacent").cast("long").alias("n_adjacent"),
        )
    )


registry.register(
    "seq_gap_patterns",
    q_seq_gap_patterns,
    """
    WITH seq AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    )
    SELECT e1.event_type AS a, e2.event_type AS b,
           COUNT(*) AS n_occurrences,
           COUNT(DISTINCT e1.user_id) AS n_users,
           SUM(CASE WHEN e2.rn - e1.rn = 1 THEN 1 ELSE 0 END)
             AS n_adjacent
    FROM seq e1
    JOIN seq e2
      ON e1.user_id = e2.user_id
     AND e2.rn - e1.rn BETWEEN 1 AND 3
    GROUP BY 1, 2
    """,
)


# ---------------------------------------------------------------------------
# Bipartite butterfly (C4) census on the customer-brand graph
# ---------------------------------------------------------------------------


def q_bipartite_butterflies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Butterfly (2×2 biclique) census of the bipartite customer↔brand
    purchase graph: for every brand pair, the number of butterflies
    C(common_customers, 2) they close — the bipartite analogue of the
    triangle (bipartite graphs HAVE no triangles, so `triangle_count`
    is structurally blind here; butterflies are the standard cohesion
    motif for user-item graphs, the backbone signal behind co-purchase
    recommendation confidence).

    Exactness: pure integer counting end to end — incidence is a
    DISTINCT projection, common-neighbor counts come from one
    incidence self-join, and C(n,2) is integer arithmetic; the one
    float is each pair's share of the global butterfly total.

    Scale: the wedge self-join fans out per customer as C(deg, 2),
    but the brand side is dimension-bounded (≤ |brands| ≈ 25), so
    per-customer fanout is ≤ C(25,2) — bounded by the dimension, not
    the fact table (for item-scale right sides you would degree-order
    the join exactly as operators/graph.orient_edges_by_degree does;
    documented so the disposition is explicit). The pair aggregate is
    |brands|²-sized."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    inc = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select("o_custkey", "p_brand")
    )
    inc = inc.distinct()
    a = inc.select(F.col("o_custkey").alias("c"), F.col("p_brand").alias("brand_a"))
    b = inc.select(F.col("o_custkey").alias("c"), F.col("p_brand").alias("brand_b"))
    pairs = (
        a.join(b, "c")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").alias("n_common"))
    )
    with_bf = pairs.select(
        "brand_a",
        "brand_b",
        "n_common",
        (F.col("n_common") * (F.col("n_common") - 1) / 2)
        .cast("long")
        .alias("n_butterflies"),
    )
    tot = with_bf.agg(F.sum("n_butterflies").alias("total_bf"))
    return with_bf.crossJoin(F.broadcast(tot)).select(
        "brand_a",
        "brand_b",
        F.col("n_common").cast("long").alias("n_common"),
        "n_butterflies",
        F.col("total_bf").cast("long").alias("total_butterflies"),
        _r6(
            F.col("n_butterflies").cast("double")
            / F.col("total_bf").cast("double")
        ).alias("bf_share"),
    )


registry.register(
    "bipartite_butterflies",
    q_bipartite_butterflies,
    """
    WITH inc AS (
      SELECT DISTINCT o.o_custkey, p.p_brand
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    pairs AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
             COUNT(*) AS n_common
      FROM inc a JOIN inc b
        ON a.o_custkey = b.o_custkey AND a.p_brand < b.p_brand
      GROUP BY 1, 2
    ),
    with_bf AS (
      SELECT brand_a, brand_b, n_common,
             CAST(n_common * (n_common - 1) / 2 AS BIGINT)
               AS n_butterflies
      FROM pairs
    ),
    tot AS (SELECT SUM(n_butterflies) AS total_bf FROM with_bf)
    SELECT w.brand_a, w.brand_b, CAST(w.n_common AS BIGINT) AS n_common,
           w.n_butterflies, CAST(t.total_bf AS BIGINT)
             AS total_butterflies,
           FLOOR(CAST(w.n_butterflies AS DOUBLE)
                 / CAST(t.total_bf AS DOUBLE) * 1000000.0 + 0.5)
             / 1000000.0 AS bf_share
    FROM with_bf w CROSS JOIN tot t
    """,
)


# ---------------------------------------------------------------------------
# Rich-club coefficient over the co-purchase graph
# ---------------------------------------------------------------------------


def q_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient φ(k) of the co-purchase graph at degree
    cuts k ∈ {1, 2, 4, 8, 16}: among vertices of degree > k, the
    realized fraction of possible edges — "do the hubs trade with
    each other" (`degree_assortativity` answers it on average; the
    rich-club curve localizes WHERE in the degree spectrum the elite
    clique forms, the classic core-structure probe).

    Exactness: pure integer counting — per-cut member and
    edge-within counts against a broadcast degree table; φ is the
    single division 2e/(n(n−1)), `_r6`-bounded.

    Scale: degrees are vertex-sized (broadcast); each cut filters the
    edge list with two hash probes — the k-grid multiplies a
    dimension, never the fact table."""
    edges = _support5_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("brand_a").alias("v"))
        .unionAll(edges.select(F.col("brand_b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    ks = spark.range(0, 5).select(
        F.expr("shiftleft(1, CAST(id AS INT))").alias("k")
    )
    members = (
        ks.join(deg)
        .filter(F.col("d") > F.col("k"))
        .groupBy("k")
        .agg(F.count("*").alias("n_members"))
    )
    da = deg.select(F.col("v").alias("_va"), F.col("d").alias("_da"))
    db = deg.select(F.col("v").alias("_vb"), F.col("d").alias("_db"))
    edeg = edges.join(
        F.broadcast(da), F.col("brand_a") == F.col("_va")
    ).join(F.broadcast(db), F.col("brand_b") == F.col("_vb"))
    ewithin = (
        ks.join(edeg)
        .filter((F.col("_da") > F.col("k")) & (F.col("_db") > F.col("k")))
        .groupBy("k")
        .agg(F.count("*").alias("e_within"))
    )
    joined = members.join(ewithin, "k", "left").select(
        "k",
        "n_members",
        F.coalesce(F.col("e_within"), F.lit(0)).alias("e_within"),
    )
    nm = F.col("n_members").cast("double")
    phi = F.when(
        F.col("n_members") >= 2,
        F.lit(2.0) * F.col("e_within").cast("double") / (nm * (nm - 1)),
    ).otherwise(F.lit(0.0))
    return joined.select(
        F.col("k").cast("long").alias("k"),
        F.col("n_members").cast("long").alias("n_members"),
        F.col("e_within").cast("long").alias("e_within"),
        _r6(phi).alias("phi"),
    )


registry.register(
    "rich_club",
    q_rich_club,
    """
    WITH ob AS MATERIALIZED (
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    pairs AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, COUNT(*) AS support
      FROM ob a JOIN ob b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY 1, 2
    ),
    edges AS (SELECT brand_a, brand_b FROM pairs WHERE support >= 5),
    deg AS (
      SELECT v, COUNT(*) AS d FROM (
        SELECT brand_a AS v FROM edges
        UNION ALL SELECT brand_b AS v FROM edges
      ) GROUP BY 1
    ),
    ks AS (SELECT UNNEST([1, 2, 4, 8, 16]) AS k),
    members AS (
      SELECT k, COUNT(*) AS n_members
      FROM ks CROSS JOIN deg WHERE d > k GROUP BY 1
    ),
    ewithin AS (
      SELECT k, COUNT(*) AS e_within
      FROM ks CROSS JOIN edges e
      JOIN deg da ON e.brand_a = da.v
      JOIN deg db ON e.brand_b = db.v
      WHERE da.d > k AND db.d > k
      GROUP BY 1
    )
    SELECT CAST(m.k AS BIGINT) AS k,
           CAST(m.n_members AS BIGINT) AS n_members,
           CAST(COALESCE(w.e_within, 0) AS BIGINT) AS e_within,
           FLOOR(CASE WHEN m.n_members >= 2 THEN
                   2.0 * CAST(COALESCE(w.e_within, 0) AS DOUBLE)
                   / (CAST(m.n_members AS DOUBLE)
                      * (CAST(m.n_members AS DOUBLE) - 1))
                 ELSE 0.0 END * 1000000.0 + 0.5) / 1000000.0 AS phi
    FROM members m LEFT JOIN ewithin w ON m.k = w.k
    """,
)


# ---------------------------------------------------------------------------
# HITS hubs/authorities by exact 2-iteration path counting
# ---------------------------------------------------------------------------


def q_hits_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two exact HITS iterations on the customer->part purchase
    bipartite graph, from all-ones: a1(part) = degree, h1(customer) =
    sum of its parts' degrees, a2(part) = sum of its buyers' h1 --
    pure PATH COUNTS, so every score is an exact BIGINT and the
    'authority' ranking (parts bought by customers who buy
    well-connected parts) needs no float iteration at all. The
    integer-exact cousin of `pagerank` (which needs damped floats)
    -- two iterations already separate broad-appeal parts from
    equally-popular niche ones.

    Scale: edges are DISTINCT (custkey, partkey) pairs (one shuffle);
    each iteration is a key-partitioned join+agg; the top-10 cut
    compiles to TakeOrdered (per-partition heads, no global sort).
    Tie-break (score desc, partkey asc) is total."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    # r11: the three iteration consumers (a1, h1, a2) join/group the
    # edge list on DIFFERENT keys, so no exchange is reusable and the
    # fact join + distinct re-ran 3× (three 6.1 MB shuffle writes in
    # the profile); materialize the distinct edge list once (same
    # lineage-truncation disposition as triangle_count's seam)
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p")
        )
        .distinct()
        .localCheckpoint()
    )
    a1 = edges.groupBy("p").agg(F.count("*").cast("long").alias("a1"))
    h1 = (
        edges.join(a1, "p")
        .groupBy("c")
        .agg(F.sum("a1").cast("long").alias("h1"))
    )
    a2 = (
        edges.join(h1, "c")
        .groupBy("p")
        .agg(F.sum("h1").cast("long").alias("a2"), F.count("*").alias("deg"))
    )
    return (
        a2.select(
            F.col("p").alias("p_partkey"),
            F.col("deg").cast("long").alias("n_buyers"),
            "a2",
        )
        .orderBy(F.col("a2").desc(), F.col("p_partkey"))
        .limit(10)
    )


registry.register(
    "hits_authorities",
    q_hits_authorities,
    """
    WITH edges AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    a1 AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS a1 FROM edges GROUP BY p),
    h1 AS (
      SELECT e.c, CAST(SUM(a.a1) AS BIGINT) AS h1
      FROM edges e JOIN a1 a USING (p) GROUP BY e.c
    ),
    a2 AS (
      SELECT e.p, CAST(SUM(h.h1) AS BIGINT) AS a2,
             CAST(COUNT(*) AS BIGINT) AS deg
      FROM edges e JOIN h1 h USING (c) GROUP BY e.p
    )
    SELECT p AS p_partkey, deg AS n_buyers, a2
    FROM a2 ORDER BY a2 DESC, p_partkey LIMIT 10
    """,
)


# ---------------------------------------------------------------------------
# Spatial grid-join kNN (geohash-style cell bucketing)
# ---------------------------------------------------------------------------


def q_spatial_knn_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor search via a spatial GRID JOIN: customers are
    placed at deterministic planar coordinates (md5 identity coins --
    x, y in [0, 10000)), bucketed into 500x500 cells, and each probe
    point (custkey < 50) finds its nearest other customer by joining
    only the 3x3 neighborhood of its cell -- the geohash/S2 cell
    pattern that turns an O(n^2) all-pairs distance scan into a
    local join, THE scale shape for any spatial workload (and the
    2-D sibling of `ivf_topk`'s coarse-quantize-then-probe).

    Exactness: coordinates and squared distances are pure BIGINTs
    (no sqrt needed to rank); the winner per probe is a
    lexicographic MIN over (d2, neighbor key), so ties are total.
    Semantics: the HALO-RESTRICTED nearest neighbor (a ring-bounded
    ANN, exact whenever the true NN lies within one cell width --
    true at working densities, pytest-checked at sf0.01; the
    production recipe widens the halo ring-by-ring until a hit).
    Scale: one hash pass, one cell-keyed join restricted to probes,
    no windows."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.md5(F.concat(F.lit("sx:"), F.col("c_custkey").cast("string")))
        .alias("hx"),
        F.md5(F.concat(F.lit("sy:"), F.col("c_custkey").cast("string")))
        .alias("hy"),
    )
    pts = cust.select(
        "k",
        (F.conv(F.substring("hx", 1, 8), 16, 10).cast("long") % 10000)
        .alias("x"),
        (F.conv(F.substring("hy", 1, 8), 16, 10).cast("long") % 10000)
        .alias("y"),
    ).select(
        "k", "x", "y",
        F.expr("x div 500").alias("cx"),
        F.expr("y div 500").alias("cy"),
    )
    probes = pts.filter(F.col("k") < 50).select(
        F.col("k").alias("pk"),
        F.col("x").alias("px"),
        F.col("y").alias("py"),
        F.col("cx").alias("pcx"),
        F.col("cy").alias("pcy"),
    )
    halo = probes.select(
        "pk", "px", "py",
        F.explode(
            F.array(*[F.lit(d) for d in (-1, 0, 1)])
        ).alias("dx"),
        "pcx", "pcy",
    ).select(
        "pk", "px", "py",
        (F.col("pcx") + F.col("dx")).alias("cx"),
        F.explode(F.array(*[F.lit(d) for d in (-1, 0, 1)])).alias("dy"),
        "pcy",
    ).select(
        "pk", "px", "py", "cx", (F.col("pcy") + F.col("dy")).alias("cy")
    )
    cand = halo.join(pts, ["cx", "cy"]).filter(F.col("k") != F.col("pk"))
    d2 = (
        (F.col("x") - F.col("px")) * (F.col("x") - F.col("px"))
        + (F.col("y") - F.col("py")) * (F.col("y") - F.col("py"))
    )
    best = cand.select(
        "pk",
        F.struct(d2.cast("long").alias("d2"), F.col("k").alias("nn")).alias(
            "s"
        ),
    ).groupBy("pk").agg(F.min("s").alias("s"))
    return best.select(
        F.col("pk").alias("probe_key"),
        F.col("s.nn").alias("nn_key"),
        F.col("s.d2").alias("d2"),
    ).orderBy("probe_key")


_SPATIAL_HEX = (
    "CAST(list_sum(list_transform(generate_series(1, 8), "
    "hp -> (strpos('0123456789abcdef', "
    "substring(md5('{pfx}' || CAST(c_custkey AS VARCHAR)), hp, 1)) - 1) "
    "* 16 ** (8 - hp))) AS BIGINT) % 10000"
)

registry.register(
    "spatial_knn_grid",
    q_spatial_knn_grid,
    f"""
    WITH pts AS (
      SELECT c_custkey AS k,
             {_SPATIAL_HEX.format(pfx="sx:")} AS x,
             {_SPATIAL_HEX.format(pfx="sy:")} AS y
      FROM customer
    ),
    cells AS (
      SELECT k, x, y, x // 500 AS cx, y // 500 AS cy FROM pts
    ),
    probes AS (
      SELECT k AS pk, x AS px, y AS py, cx AS pcx, cy AS pcy
      FROM cells WHERE k < 50
    ),
    halo AS (
      SELECT p.pk, p.px, p.py, p.pcx + dx.d AS cx, p.pcy + dy.d AS cy
      FROM probes p
      CROSS JOIN (SELECT * FROM (VALUES (-1),(0),(1)) t(d)) dx
      CROSS JOIN (SELECT * FROM (VALUES (-1),(0),(1)) t(d)) dy
    ),
    cand AS (
      SELECT h.pk,
             (c.x - h.px) * (c.x - h.px)
             + (c.y - h.py) * (c.y - h.py) AS d2,
             c.k AS nn
      FROM halo h JOIN cells c ON h.cx = c.cx AND h.cy = c.cy
      WHERE c.k <> h.pk
    ),
    ranked AS (
      SELECT pk, d2, nn,
             ROW_NUMBER() OVER (PARTITION BY pk
                                ORDER BY d2, nn) AS rn
      FROM cand
    )
    SELECT pk AS probe_key, nn AS nn_key, CAST(d2 AS BIGINT) AS d2
    FROM ranked WHERE rn = 1 ORDER BY probe_key
    """,
)
