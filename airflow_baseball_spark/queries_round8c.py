"""Round-8c additions: bounded-graph centrality (Katz), causal and
classifier-eval depth (stratified g-formula ATE, Hanley-McNeil AUC CI,
Cliff's delta, Mood's median test), rank-distance (Spearman footrule),
sequence depth (trigram transitions), and the GDPR erasure-sweep audit
a production data platform runs before a deletion batch.

House rules: facts aggregate to bounded frames (brands / segments /
distinct cents / types) before any window or self-join; treatments
and deletion sets use the md5 identity coin (engine-identical); every
emitted float is an `_r6`-guarded division of exact integers or an
identical-IEEE two-engine expression tree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from airflow_baseball_spark import registry
from airflow_baseball_spark.functions.scalar import dec_portable
from airflow_baseball_spark.functions.scalar import round6_portable as _r6
from airflow_baseball_spark.functions.scalar import r6_sql as _r6_sql
from airflow_baseball_spark.schemas import load_table

_EDGES_CTE = """
    ob AS (
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    prs AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, COUNT(*) AS support
      FROM ob a JOIN ob b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY 1, 2
    ),
    edges AS (SELECT brand_a, brand_b FROM prs WHERE support >= 5)
"""


# ---------------------------------------------------------------------------
# Truncated Katz centrality (3 walk terms, beta = 0.1) on the
# co-purchase graph
# ---------------------------------------------------------------------------


def q_katz_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality truncated at walk length 3 (beta = 0.1) on the
    support>=5 brand co-purchase graph (the graph family's shared
    edge list): score(v) = sum_k beta^k * walks_k(v) where walks_k(v)
    counts length-k walks ending at v.

    Exactness: with beta = 1/10 the score is the exact INTEGER
    100*w1 + 10*w2 + w3 over 1000 — walk counts propagate by integer
    joins (w_{k+1}(v) = sum over edges (u,v) of w_k(u)), so the hash
    surface is BIGINT + one `_r6` division. Scale: the edge list is
    brand²-bounded (<=300 rows at any SF — the fact appears once, in
    the shared basket-pair subtree); three bounded self-joins."""
    from airflow_baseball_spark.queries_mining import _support5_edges

    e = _support5_edges(spark, sf_dir)
    sym = e.select(
        F.col("brand_a").alias("u"), F.col("brand_b").alias("v")
    ).unionAll(
        e.select(F.col("brand_b").alias("u"), F.col("brand_a").alias("v"))
    )
    w1 = sym.groupBy("v").agg(F.count("*").alias("w1"))
    w2 = (
        sym.join(w1.withColumnRenamed("v", "u"), "u")
        .groupBy("v")
        .agg(F.sum("w1").alias("w2"))
    )
    w3 = (
        sym.join(
            w2.withColumnRenamed("v", "u"), "u"
        )
        .groupBy("v")
        .agg(F.sum("w2").alias("w3"))
    )
    out = (
        w1.join(w2, "v", "left")
        .join(w3, "v", "left")
        .select(
            F.col("v").alias("brand"),
            "w1",
            F.coalesce("w2", F.lit(0)).alias("w2"),
            F.coalesce("w3", F.lit(0)).alias("w3"),
        )
    )
    milli = (
        F.col("w1") * 100 + F.col("w2") * 10 + F.col("w3")
    ).cast("long")
    return out.select(
        "brand",
        "w1",
        "w2",
        "w3",
        milli.alias("katz_milli"),
        _r6(milli.cast("double") / F.lit(1000.0)).alias("katz"),
    )


registry.register(
    "katz_3step",
    q_katz_3step,
    f"""
    WITH {_EDGES_CTE},
    sym AS (
      SELECT brand_a AS u, brand_b AS v FROM edges
      UNION ALL
      SELECT brand_b AS u, brand_a AS v FROM edges
    ),
    w1 AS (SELECT v, COUNT(*) AS w1 FROM sym GROUP BY 1),
    w2 AS (
      SELECT s.v, CAST(SUM(w.w1) AS BIGINT) AS w2
      FROM sym s JOIN w1 w ON s.u = w.v GROUP BY 1
    ),
    w3 AS (
      SELECT s.v, CAST(SUM(w.w2) AS BIGINT) AS w3
      FROM sym s JOIN w2 w ON s.u = w.v GROUP BY 1
    )
    SELECT w1.v AS brand, w1.w1,
           COALESCE(w2.w2, 0) AS w2,
           COALESCE(w3.w3, 0) AS w3,
           CAST(w1.w1 * 100 + COALESCE(w2.w2, 0) * 10 + COALESCE(w3.w3, 0)
                AS BIGINT) AS katz_milli,
           {_r6_sql(
             "CAST(w1.w1 * 100 + COALESCE(w2.w2, 0) * 10"
             " + COALESCE(w3.w3, 0) AS DOUBLE) / 1000.0"
           )} AS katz
    FROM w1 LEFT JOIN w2 ON w1.v = w2.v LEFT JOIN w3 ON w1.v = w3.v
    """,
)


# ---------------------------------------------------------------------------
# Stratified g-formula ATE (saturated outcome model)
# ---------------------------------------------------------------------------


def q_stratified_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-formula / standardization ATE with a saturated (per-segment)
    outcome model: treatment is the md5 identity coin on the order
    key, outcome is order revenue, strata are market segments.
    ATE = sum_s (n_s / n) * (mean_treated_s - mean_control_s) — the
    estimator AIPW collapses to when the outcome model is the exact
    within-stratum mean (the augmentation term vanishes identically;
    documented so the ipw_ate twin stays the IPW exercise).

    Exactness: every mean is one division of exact BIGINT cent sums;
    the overall ATE combines the five per-segment doubles in an
    identical two-engine tree, `_r6`-guarded. Scale: one fact pass to
    the 5-row segment frame; customer joins by key."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    coin = (
        F.conv(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15),
            16,
            10,
        ).cast("long")
        % 2
    )
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    seg = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .select(
            "c_mktsegment", coin.alias("t"), cents.alias("y")
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_s"),
            F.sum("t").cast("long").alias("n1"),
            F.sum(F.col("t") * F.col("y")).cast("long").alias("y1"),
            F.sum((1 - F.col("t")) * F.col("y")).cast("long").alias("y0"),
        )
    )
    m1 = F.col("y1").cast("double") / F.col("n1").cast("double") / 100.0
    m0 = (
        F.col("y0").cast("double")
        / (F.col("n_s") - F.col("n1")).cast("double")
        / 100.0
    )
    tot = seg.agg(F.sum("n_s").alias("n_all"))
    ate = (
        seg.crossJoin(F.broadcast(tot))
        .agg(
            _r6(
                F.sum(
                    F.col("n_s").cast("double")
                    / F.col("n_all").cast("double")
                    * (m1 - m0)
                )
            ).alias("ate_dollars")
        )
    )
    return (
        seg.crossJoin(F.broadcast(ate))
        .select(
            "c_mktsegment",
            "n_s",
            "n1",
            _r6(m1).alias("mean_treated"),
            _r6(m0).alias("mean_control"),
            _r6(m1 - m0).alias("diff"),
            "ate_dollars",
        )
    )


registry.register(
    "stratified_ate",
    q_stratified_ate,
    f"""
    WITH seg AS (
      SELECT c.c_mktsegment,
             COUNT(*) AS n_s,
             CAST(SUM(CAST(CONCAT('0x',
                 SUBSTRING(MD5(CAST(o.o_orderkey AS VARCHAR)), 1, 15))
                 AS BIGINT) % 2) AS BIGINT) AS n1,
             CAST(SUM((CAST(CONCAT('0x',
                 SUBSTRING(MD5(CAST(o.o_orderkey AS VARCHAR)), 1, 15))
                 AS BIGINT) % 2)
                 * CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
                 AS BIGINT) AS y1,
             CAST(SUM((1 - CAST(CONCAT('0x',
                 SUBSTRING(MD5(CAST(o.o_orderkey AS VARCHAR)), 1, 15))
                 AS BIGINT) % 2)
                 * CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
                 AS BIGINT) AS y0
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1
    ),
    tot AS (SELECT SUM(n_s) AS n_all FROM seg),
    ate AS (
      SELECT {_r6_sql(
        "SUM(CAST(n_s AS DOUBLE) / CAST(n_all AS DOUBLE)"
        " * (CAST(y1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100.0"
        "    - CAST(y0 AS DOUBLE) / CAST(n_s - n1 AS DOUBLE) / 100.0))"
      )} AS ate_dollars
      FROM seg CROSS JOIN tot
    )
    SELECT c_mktsegment, n_s, n1,
           {_r6_sql("CAST(y1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100.0")}
             AS mean_treated,
           {_r6_sql(
             "CAST(y0 AS DOUBLE) / CAST(n_s - n1 AS DOUBLE) / 100.0"
           )} AS mean_control,
           {_r6_sql(
             "CAST(y1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100.0"
             " - CAST(y0 AS DOUBLE) / CAST(n_s - n1 AS DOUBLE) / 100.0"
           )} AS diff,
           ate_dollars
    FROM seg CROSS JOIN ate
    """,
)


# ---------------------------------------------------------------------------
# AUC with the Hanley-McNeil confidence interval
# ---------------------------------------------------------------------------


def q_auc_ci_hanley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of event value separating purchase from click (the
    auc_roc statistic) extended with the Hanley-McNeil standard error
    and the 95% CI: Q1 = A/(2-A), Q2 = 2A²/(1+A),
    SE² = (A(1-A) + (n1-1)(Q1-A²) + (n0-1)(Q2-A²)) / (n1·n0).

    Exactness: the doubled pair count is an exact BIGINT (auc_roc's
    never-divide-until-the-end trick); A, SE and the clamped CI are
    one identical-IEEE expression tree on both engines, emitted
    through `_r6`. Scale: one combinable fact groupBy; the window
    runs on the distinct-cents table (price-granularity bounded)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    cents = (dec_portable("value", 18, 2) * 100).cast("long")
    per_v = (
        ev.select(
            cents.alias("v"),
            (F.col("event_type") == "purchase").alias("is_pos"),
        )
        .groupBy("v")
        .agg(
            F.count(F.when(F.col("is_pos"), 1)).alias("na_v"),
            F.count(F.when(~F.col("is_pos"), 1)).alias("nb_v"),
        )
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = per_v.select(
        "na_v",
        "nb_v",
        F.coalesce(F.sum("nb_v").over(w), F.lit(0)).alias("cb_below"),
    )
    agg = cum.agg(
        F.sum("na_v").cast("long").alias("n1"),
        F.sum("nb_v").cast("long").alias("n0"),
        F.sum(
            F.col("na_v") * (2 * F.col("cb_below") + F.col("nb_v"))
        ).cast("long").alias("dbl_pairs"),
    )
    n1 = F.col("n1").cast("double")
    n0 = F.col("n0").cast("double")
    a = F.col("dbl_pairs").cast("double") / (F.lit(2.0) * n1 * n0)
    q1 = a / (F.lit(2.0) - a)
    q2 = F.lit(2.0) * a * a / (F.lit(1.0) + a)
    se = F.sqrt(
        (
            a * (F.lit(1.0) - a)
            + (n1 - F.lit(1.0)) * (q1 - a * a)
            + (n0 - F.lit(1.0)) * (q2 - a * a)
        )
        / (n1 * n0)
    )
    return agg.select(
        "n1",
        "n0",
        _r6(a).alias("auc"),
        _r6(se).alias("se_hanley"),
        _r6(F.greatest(F.lit(0.0), a - F.lit(1.96) * se)).alias("ci_lo"),
        _r6(F.least(F.lit(1.0), a + F.lit(1.96) * se)).alias("ci_hi"),
    )


_AUC_A = (
    "CAST(dbl_pairs AS DOUBLE)"
    " / (2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE))"
)
_AUC_SE = (
    f"SQRT((({_AUC_A}) * (1.0 - ({_AUC_A}))"
    f" + (CAST(n1 AS DOUBLE) - 1.0)"
    f"   * (({_AUC_A}) / (2.0 - ({_AUC_A})) - ({_AUC_A}) * ({_AUC_A}))"
    f" + (CAST(n0 AS DOUBLE) - 1.0)"
    f"   * (2.0 * ({_AUC_A}) * ({_AUC_A}) / (1.0 + ({_AUC_A}))"
    f"      - ({_AUC_A}) * ({_AUC_A})))"
    f" / (CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)))"
)

registry.register(
    "auc_ci_hanley",
    q_auc_ci_hanley,
    f"""
    WITH per_v AS (
      SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v,
             COUNT(*) FILTER (WHERE event_type = 'purchase') AS na_v,
             COUNT(*) FILTER (WHERE event_type = 'click') AS nb_v
      FROM events
      WHERE event_type IN ('purchase', 'click')
      GROUP BY 1
    ),
    cum AS (
      SELECT na_v, nb_v,
             COALESCE(SUM(nb_v) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cb_below
      FROM per_v
    ),
    agg AS (
      SELECT CAST(SUM(na_v) AS BIGINT) AS n1,
             CAST(SUM(nb_v) AS BIGINT) AS n0,
             CAST(SUM(na_v * (2 * cb_below + nb_v)) AS BIGINT) AS dbl_pairs
      FROM cum
    )
    SELECT n1, n0,
           {_r6_sql(_AUC_A)} AS auc,
           {_r6_sql(_AUC_SE)} AS se_hanley,
           {_r6_sql(f"GREATEST(0.0, ({_AUC_A}) - 1.96 * ({_AUC_SE}))")}
             AS ci_lo,
           {_r6_sql(f"LEAST(1.0, ({_AUC_A}) + 1.96 * ({_AUC_SE}))")}
             AS ci_hi
    FROM agg
    """,
)


# ---------------------------------------------------------------------------
# GDPR erasure sweep — deletion-batch impact audit across the schema
# ---------------------------------------------------------------------------


def q_erasure_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten audit: the deletion set is the md5
    identity coin on the customer key (md5 % 20 == 0, a deterministic
    ~5% batch), and the sweep reports — per affected table — total
    rows, rows to erase, and the erase fraction, following the
    foreign-key fan-out customer -> orders -> lineitem.

    Exactness: pure integer counts plus one `_r6` division per row.
    Scale: each table contributes ONE scan; lineitem reaches the
    deletion set through the orders join on its key (no customer-side
    broadcast assumption — the flagged-orders side is filtered before
    the join and carries only the key column)."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    coin = (
        F.conv(
            F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 15),
            16,
            10,
        ).cast("long")
        % 20
        == 0
    )
    cust = c.select("c_custkey", coin.alias("del"))
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    od = o.join(cust, o["o_custkey"] == cust["c_custkey"]).select(
        "o_orderkey", "del"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    lid = li.join(od, li["l_orderkey"] == od["o_orderkey"]).select(
        od["del"].alias("del")
    )

    def audit(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.lit(name).alias("table_name"),
            F.count("*").alias("n_rows"),
            F.sum(F.col("del").cast("long")).cast("long").alias("n_erase"),
        )

    out = (
        audit(cust, "customer")
        .unionAll(audit(od, "orders"))
        .unionAll(audit(lid, "lineitem"))
    )
    return out.select(
        "table_name",
        "n_rows",
        "n_erase",
        _r6(
            F.col("n_erase").cast("double") / F.col("n_rows").cast("double")
        ).alias("erase_frac"),
    )


registry.register(
    "erasure_sweep",
    q_erasure_sweep,
    f"""
    WITH cust AS (
      SELECT c_custkey,
             CAST(CONCAT('0x', SUBSTRING(MD5(CAST(c_custkey AS VARCHAR)),
                                         1, 15)) AS BIGINT) % 20 = 0 AS del
      FROM customer
    ),
    od AS (
      SELECT o.o_orderkey, c.del
      FROM orders o JOIN cust c ON o.o_custkey = c.c_custkey
    ),
    lid AS (
      SELECT od.del
      FROM lineitem l JOIN od ON l.l_orderkey = od.o_orderkey
    ),
    u AS (
      SELECT 'customer' AS table_name, COUNT(*) AS n_rows,
             CAST(SUM(CAST(del AS BIGINT)) AS BIGINT) AS n_erase FROM cust
      UNION ALL
      SELECT 'orders', COUNT(*),
             CAST(SUM(CAST(del AS BIGINT)) AS BIGINT) FROM od
      UNION ALL
      SELECT 'lineitem', COUNT(*),
             CAST(SUM(CAST(del AS BIGINT)) AS BIGINT) FROM lid
    )
    SELECT table_name, n_rows, n_erase,
           {_r6_sql("CAST(n_erase AS DOUBLE) / CAST(n_rows AS DOUBLE)")}
             AS erase_frac
    FROM u
    """,
)


# ---------------------------------------------------------------------------
# Second-order (trigram) event transitions
# ---------------------------------------------------------------------------


def q_trigram_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order Markov structure of the event stream: counts of
    consecutive type trigrams (a, b, c) per user order (ts, event_id)
    and the conditional probability p(c | a, b) against the bigram
    marginal — event_transitions' memory-depth extension.

    Exactness: counts are exact; p_cond is one `_r6` division.
    Scale: the double LEAD runs user-PARTITIONED (per-user sequences
    shard freely); the join to bigram marginals is types²-keyed on a
    types³-bounded frame."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        ev.select(
            F.col("event_type").alias("a"),
            F.lead("event_type", 1).over(w).alias("b"),
            F.lead("event_type", 2).over(w).alias("c"),
        )
        .filter(F.col("c").isNotNull())
        .groupBy("a", "b", "c")
        .agg(F.count("*").alias("n_abc"))
    )
    bi = tri.groupBy("a", "b").agg(F.sum("n_abc").alias("n_ab"))
    return (
        tri.join(bi, ["a", "b"])
        .select(
            "a",
            "b",
            "c",
            "n_abc",
            "n_ab",
            _r6(
                F.col("n_abc").cast("double") / F.col("n_ab").cast("double")
            ).alias("p_cond"),
        )
    )


registry.register(
    "trigram_transitions",
    q_trigram_transitions,
    f"""
    WITH seq AS (
      SELECT event_type AS a,
             LEAD(event_type, 1) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS b,
             LEAD(event_type, 2) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS c
      FROM events
    ),
    tri AS (
      SELECT a, b, c, COUNT(*) AS n_abc FROM seq WHERE c IS NOT NULL
      GROUP BY 1, 2, 3
    ),
    bi AS (
      SELECT a, b, CAST(SUM(n_abc) AS BIGINT) AS n_ab FROM tri GROUP BY 1, 2
    )
    SELECT t.a, t.b, t.c, t.n_abc, b.n_ab,
           {_r6_sql("CAST(t.n_abc AS DOUBLE) / CAST(b.n_ab AS DOUBLE)")}
             AS p_cond
    FROM tri t JOIN bi b ON t.a = b.a AND t.b = b.b
    """,
)


# ---------------------------------------------------------------------------
# Spearman footrule distance between the H1 and H2 brand rankings
# ---------------------------------------------------------------------------

_BRAND_HALVES_CTE = """
    span AS (
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
    )
"""


def _brand_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1/H2 brand rankings by exact revenue cents (shared with
    rank_biased_overlap — same derivation, brand-bounded frame)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    span = o.agg(
        F.min("o_orderdate").alias("dmin"), F.max("o_orderdate").alias("dmax")
    ).select(
        (F.datediff("dmax", "dmin") / 2).cast("long").alias("half_span"),
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
    return rev.select("p_brand", ra.alias("ra"), rb.alias("rb"))


def q_spearman_footrule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman footrule distance between the first-half and
    second-half brand revenue rankings: F = sum |ra - rb|, with the
    normalized similarity 1 - F / floor(n²/2) (the footrule's maximum
    over permutations of n items).

    Exactness: ranks and F are exact integers; the similarity is one
    `_r6` division. Scale: same brand-bounded frame as
    rank_biased_overlap — two fact-pass aggregates, 25-row windows
    (allowlisted)."""
    ranked = _brand_ranked(spark, sf_dir)
    agg = ranked.agg(
        F.count("*").alias("n_items"),
        F.sum(F.abs(F.col("ra") - F.col("rb"))).cast("long").alias(
            "footrule"
        ),
    )
    fmax = ((F.col("n_items") * F.col("n_items")) / 2).cast("long")
    return agg.select(
        "n_items",
        "footrule",
        fmax.alias("f_max"),
        _r6(
            F.lit(1.0)
            - F.col("footrule").cast("double") / fmax.cast("double")
        ).alias("similarity"),
    )


registry.register(
    "spearman_footrule",
    q_spearman_footrule,
    f"""
    WITH {_BRAND_HALVES_CTE},
    agg AS (
      SELECT COUNT(*) AS n_items,
             CAST(SUM(ABS(ra - rb)) AS BIGINT) AS footrule
      FROM ranked
    )
    SELECT n_items, footrule,
           CAST(FLOOR(n_items * n_items / 2.0) AS BIGINT) AS f_max,
           {_r6_sql(
             "1.0 - CAST(footrule AS DOUBLE)"
             " / CAST(FLOOR(n_items * n_items / 2.0) AS DOUBLE)"
           )} AS similarity
    FROM agg
    """,
)


# ---------------------------------------------------------------------------
# Cliff's delta effect size (purchase vs click values)
# ---------------------------------------------------------------------------


def q_cliff_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta ordinal effect size between purchase and click
    event values: delta = (#(x > y) - #(x < y)) / (n1*n0) over all
    cross pairs, with the conventional magnitude bands (|d| < 0.147
    negligible, < 0.33 small, < 0.474 medium, else large).

    Exactness: win/loss pair counts are exact BIGINTs from ONE
    value-ordered cumulative window over the distinct-cents frame
    (auc_roc's machinery — delta = 2*AUC - 1 - tie_share, computed
    directly from the same sums); the band compare runs on the
    identical two-engine delta double. Scale: combinable fact
    groupBy; distinct-cents-bounded window (allowlisted)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    cents = (dec_portable("value", 18, 2) * 100).cast("long")
    per_v = (
        ev.select(
            cents.alias("v"),
            (F.col("event_type") == "purchase").alias("is_pos"),
        )
        .groupBy("v")
        .agg(
            F.count(F.when(F.col("is_pos"), 1)).alias("na_v"),
            F.count(F.when(~F.col("is_pos"), 1)).alias("nb_v"),
        )
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = per_v.select(
        "na_v",
        "nb_v",
        F.coalesce(F.sum("nb_v").over(w), F.lit(0)).alias("cb_below"),
        F.coalesce(F.sum("na_v").over(w), F.lit(0)).alias("ca_below"),
    )
    agg = cum.agg(
        F.sum("na_v").cast("long").alias("n1"),
        F.sum("nb_v").cast("long").alias("n0"),
        F.sum(F.col("na_v") * F.col("cb_below")).cast("long").alias("wins"),
        F.sum(F.col("nb_v") * F.col("ca_below")).cast("long").alias(
            "losses"
        ),
    )
    delta = (F.col("wins") - F.col("losses")).cast("double") / (
        F.col("n1").cast("double") * F.col("n0").cast("double")
    )
    mag = (
        F.when(F.abs(delta) < 0.147, F.lit("negligible"))
        .when(F.abs(delta) < 0.33, F.lit("small"))
        .when(F.abs(delta) < 0.474, F.lit("medium"))
        .otherwise(F.lit("large"))
    )
    return agg.select(
        "n1",
        "n0",
        "wins",
        "losses",
        _r6(delta).alias("cliff_delta"),
        mag.alias("magnitude"),
    )


registry.register(
    "cliff_delta",
    q_cliff_delta,
    f"""
    WITH per_v AS (
      SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v,
             COUNT(*) FILTER (WHERE event_type = 'purchase') AS na_v,
             COUNT(*) FILTER (WHERE event_type = 'click') AS nb_v
      FROM events
      WHERE event_type IN ('purchase', 'click')
      GROUP BY 1
    ),
    cum AS (
      SELECT na_v, nb_v,
             COALESCE(SUM(nb_v) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cb_below,
             COALESCE(SUM(na_v) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS ca_below
      FROM per_v
    ),
    agg AS (
      SELECT CAST(SUM(na_v) AS BIGINT) AS n1,
             CAST(SUM(nb_v) AS BIGINT) AS n0,
             CAST(SUM(na_v * cb_below) AS BIGINT) AS wins,
             CAST(SUM(nb_v * ca_below) AS BIGINT) AS losses
      FROM cum
    )
    SELECT n1, n0, wins, losses,
           {_r6_sql(
             "CAST(wins - losses AS DOUBLE)"
             " / (CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE))"
           )} AS cliff_delta,
           CASE
             WHEN ABS(CAST(wins - losses AS DOUBLE)
                      / (CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE))) < 0.147
               THEN 'negligible'
             WHEN ABS(CAST(wins - losses AS DOUBLE)
                      / (CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE))) < 0.33
               THEN 'small'
             WHEN ABS(CAST(wins - losses AS DOUBLE)
                      / (CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE))) < 0.474
               THEN 'medium'
             ELSE 'large'
           END AS magnitude
    FROM agg
    """,
)


# ---------------------------------------------------------------------------
# Mood's median test across event types
# ---------------------------------------------------------------------------


def q_mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test across all event types: the grand median of
    event values (order-statistic pick at ascending position
    (N+1)//2, located through the distinct-cents histogram — never a
    full sort of the fact), the per-type above/not-above contingency
    counts, and the chi-square statistic over the 2×k table.

    Exactness: the median locate compares exact integer cumulative
    counts; the chi-square combines exact integers in an identical
    two-engine double tree, `_r6`-guarded. Scale: one combinable
    groupBy to distinct cents (bounded by price granularity); ONE
    window over that bounded frame (allowlisted); per-type counts are
    a second combinable fact pass."""
    ev = load_table(spark, sf_dir, "events")
    cents = (dec_portable("value", 18, 2) * 100).cast("long")
    hist = (
        ev.select(cents.alias("v"))
        .groupBy("v")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.orderBy("v")
    cum = hist.select(
        "v",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(
            Window.orderBy("v").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n_all"),
    )
    med = (
        cum.filter(F.col("cum") >= ((F.col("n_all") + 1) / 2).cast("long"))
        .agg(F.min("v").alias("med"))
    )
    per_type = (
        ev.select("event_type", cents.alias("v"))
        .crossJoin(F.broadcast(med))
        .groupBy("event_type")
        .agg(
            F.sum((F.col("v") > F.col("med")).cast("long")).cast("long").alias(
                "n_above"
            ),
            F.sum((F.col("v") <= F.col("med")).cast("long")).cast("long").alias(
                "n_below"
            ),
        )
    )
    tot = per_type.agg(
        F.sum("n_above").alias("ta"),
        F.sum("n_below").alias("tb"),
        F.sum(F.col("n_above") + F.col("n_below")).alias("n"),
    )
    j = per_type.crossJoin(F.broadcast(tot))
    row_tot = (F.col("n_above") + F.col("n_below")).cast("double")
    ea = row_tot * F.col("ta").cast("double") / F.col("n").cast("double")
    eb = row_tot * F.col("tb").cast("double") / F.col("n").cast("double")
    term = (
        (F.col("n_above").cast("double") - ea) * (F.col("n_above").cast("double") - ea) / ea
        + (F.col("n_below").cast("double") - eb) * (F.col("n_below").cast("double") - eb) / eb
    )
    chi2 = j.agg(
        _r6(F.sum(term)).alias("chi2"),
        (F.count("*") - 1).cast("long").alias("df"),
    )
    return (
        per_type.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(chi2))
        .select(
            "event_type",
            "n_above",
            "n_below",
            F.col("med").alias("grand_median_cents"),
            "chi2",
            "df",
        )
    )


registry.register(
    "mood_median_test",
    q_mood_median_test,
    f"""
    WITH hist AS (
      SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v,
             COUNT(*) AS cnt
      FROM events GROUP BY 1
    ),
    cum AS (
      SELECT v, SUM(cnt) OVER (ORDER BY v) AS cum,
             SUM(cnt) OVER () AS n_all
      FROM hist
    ),
    med AS (
      SELECT MIN(v) AS med FROM cum WHERE cum >= (n_all + 1) // 2
    ),
    per_type AS (
      SELECT event_type,
             CAST(SUM(CAST(CAST(FLOOR(value * 100 + 0.5) AS BIGINT) > med
                           AS BIGINT)) AS BIGINT) AS n_above,
             CAST(SUM(CAST(CAST(FLOOR(value * 100 + 0.5) AS BIGINT) <= med
                           AS BIGINT)) AS BIGINT) AS n_below
      FROM events CROSS JOIN med
      GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(n_above) AS BIGINT) AS ta,
             CAST(SUM(n_below) AS BIGINT) AS tb,
             CAST(SUM(n_above + n_below) AS BIGINT) AS n
      FROM per_type
    ),
    chi2 AS (
      SELECT {_r6_sql(
        "SUM("
        "  (CAST(n_above AS DOUBLE)"
        "   - CAST(n_above + n_below AS DOUBLE) * CAST(ta AS DOUBLE)"
        "     / CAST(n AS DOUBLE))"
        "  * (CAST(n_above AS DOUBLE)"
        "   - CAST(n_above + n_below AS DOUBLE) * CAST(ta AS DOUBLE)"
        "     / CAST(n AS DOUBLE))"
        "  / (CAST(n_above + n_below AS DOUBLE) * CAST(ta AS DOUBLE)"
        "     / CAST(n AS DOUBLE))"
        "  + (CAST(n_below AS DOUBLE)"
        "   - CAST(n_above + n_below AS DOUBLE) * CAST(tb AS DOUBLE)"
        "     / CAST(n AS DOUBLE))"
        "  * (CAST(n_below AS DOUBLE)"
        "   - CAST(n_above + n_below AS DOUBLE) * CAST(tb AS DOUBLE)"
        "     / CAST(n AS DOUBLE))"
        "  / (CAST(n_below + n_above AS DOUBLE) * CAST(tb AS DOUBLE)"
        "     / CAST(n AS DOUBLE)))"
      )} AS chi2,
             CAST(COUNT(*) - 1 AS BIGINT) AS df
      FROM per_type CROSS JOIN tot
    )
    SELECT event_type, n_above, n_below,
           med AS grand_median_cents, chi2, df
    FROM per_type CROSS JOIN med CROSS JOIN chi2
    """,
)
