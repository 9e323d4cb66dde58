"""Model/data evaluation + privacy statistics: rank-based ROC-AUC
(with the Mann-Whitney U it is equivalent to), categorical mutual
information, a Kaplan-Meier survival curve, Theil T inequality,
Cramér's V association, winsorized means, a Zipf power-law fit,
Wilson score intervals, a k-anonymity audit, deterministic-Laplace
DP counts, and the IR ranking metrics MRR and NDCG@5 — the
evaluation layer a training-data pipeline runs between dataset
builds.

Engine-independence convention (same as queries_stats): every checked
double is derived from EXACT integer aggregates through an identical
IEEE expression tree on both engines, then `_r6` floor-rounded. Where
``ln``/``exp`` appear, their arguments are exact integer ratios and
the surrounding float sums are either ORDERED cumulative windows
(deterministic summation order on both engines) or bounded to a few
dozen terms — the entropy_profile precedent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from airflow_baseball_spark import registry
from airflow_baseball_spark.functions.scalar import dec_portable, round6_portable
from airflow_baseball_spark.schemas import load_table

_r6 = round6_portable


# ---------------------------------------------------------------------------
# ROC-AUC / Mann-Whitney U via rank statistics
# ---------------------------------------------------------------------------


def q_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of ``value`` as a score separating purchase (positive)
    from click (negative) events — the classifier-free feature-quality
    probe: AUC = P(score_pos > score_neg) + ½·P(=), identically the
    Mann-Whitney U statistic scaled by 1/(n₁n₀).

    Exactness: values quantize to exact cents; per distinct cent the
    two class counts aggregate once (map-side combinable), and ONE
    value-ordered window yields, for every distinct value, the count
    of negatives strictly below. The doubled pair count
    ``Σ na_v·(2·cb_below + nb_v)`` is an INTEGER (wins counted twice,
    ties once), so the only float op is the single final division —
    the same never-divide-until-the-end trick as ks_statistic, which
    this query complements (KS asks "do the distributions differ",
    AUC asks "how well does the value rank the classes").

    Scale: the window runs on the distinct-value table (bounded by
    price granularity, not event volume); the fact table contributes
    one combinable groupBy.
    """
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
        F.sum("na_v").alias("n_pos"),
        F.sum("nb_v").alias("n_neg"),
        F.sum(
            F.col("na_v") * (F.lit(2) * F.col("cb_below") + F.col("nb_v"))
        ).alias("num2"),
    )
    return agg.select(
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        (F.col("num2").cast("double") / F.lit(2.0)).alias("u_stat"),
        _r6(
            F.col("num2").cast("double")
            / (
                F.lit(2.0)
                * F.col("n_pos").cast("double")
                * F.col("n_neg").cast("double")
            )
        ).alias("auc"),
    )


registry.register(
    "auc_roc",
    q_auc_roc,
    """
    WITH per_v AS (
      SELECT CAST(CAST(FLOOR(value * 100 + 0.5) / 100 AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
             COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS na_v,
             COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS nb_v
      FROM events WHERE event_type IN ('purchase', 'click')
      GROUP BY 1
    ),
    cum AS (
      SELECT na_v, nb_v,
             COALESCE(SUM(nb_v) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cb_below
      FROM per_v
    )
    SELECT CAST(SUM(na_v) AS BIGINT) AS n_pos,
           CAST(SUM(nb_v) AS BIGINT) AS n_neg,
           CAST(SUM(na_v * (2 * cb_below + nb_v)) AS DOUBLE) / 2.0 AS u_stat,
           FLOOR((CAST(SUM(na_v * (2 * cb_below + nb_v)) AS DOUBLE)
                  / (2.0 * CAST(SUM(na_v) AS DOUBLE)
                         * CAST(SUM(nb_v) AS DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0 AS auc
    FROM cum
    """,
)


# ---------------------------------------------------------------------------
# Mutual information between categorical columns
# ---------------------------------------------------------------------------


def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(lang; source) over documents in nats —
    the dependence probe behind feature selection and dataset-mixture
    audits (does language leak the source, i.e. is a per-source
    language balance needed before training?).

    One joint groupBy on the fact, then BOTH marginals and the grand
    total come from windows over the joint-count table (cells ≤
    |lang|·|source|, never corpus-sized) — the fact is scanned once.
    Each term (c/N)·ln(c·N / (cx·cy)) has an exact integer ratio
    inside the ln and is written as the IDENTICAL expression tree on
    both engines; the final Σ spans ≤ a few dozen cells (`_r6`).
    """
    docs = load_table(spark, sf_dir, "documents")
    joint = docs.groupBy("lang", "source").agg(F.count("*").alias("c"))
    wx = Window.partitionBy("lang")
    wy = Window.partitionBy("source")
    wn = Window.partitionBy()
    cells = joint.select(
        "c",
        F.sum("c").over(wx).alias("cx"),
        F.sum("c").over(wy).alias("cy"),
        F.sum("c").over(wn).alias("n"),
    )
    term = (F.col("c").cast("double") / F.col("n").cast("double")) * F.log(
        (F.col("c").cast("double") * F.col("n").cast("double"))
        / (F.col("cx").cast("double") * F.col("cy").cast("double"))
    )
    return cells.agg(
        F.max("n").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_cells"),
        _r6(F.sum(term)).alias("mi_nats"),
    )


registry.register(
    "mutual_information",
    q_mutual_information,
    """
    WITH joint AS (
      SELECT lang, source, COUNT(*) AS c FROM documents GROUP BY 1, 2
    ),
    cells AS (
      SELECT c,
             SUM(c) OVER (PARTITION BY lang) AS cx,
             SUM(c) OVER (PARTITION BY source) AS cy,
             SUM(c) OVER () AS n
      FROM joint
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           FLOOR(SUM((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                     * LN((CAST(c AS DOUBLE) * CAST(n AS DOUBLE))
                          / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))))
                 * 1000000.0 + 0.5) / 1000000.0 AS mi_nats
    FROM cells
    """,
)


# ---------------------------------------------------------------------------
# Kaplan-Meier survival curve (signup -> purchase, right-censored)
# ---------------------------------------------------------------------------


def _purchase_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The signup→purchase survival cohort shared by kaplan_meier,
    logrank_test, nelson_aalen and rmst_survival: one row per signed-up
    user with ``d`` = days from first signup to first purchase, or to
    the last event when the user never purchased (right-censored), and
    ``is_event`` = 1 for a purchase, else 0 (never NULL, matching the
    oracles' ``CASE … ELSE 0``)."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "t0"
        ),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("tp"),
        F.max("ts").alias("tlast"),
    )
    bought = F.col("tp") >= F.col("t0")
    return per_user.filter(F.col("t0").isNotNull()).select(
        "user_id",
        F.when(bought, F.datediff(F.to_date("tp"), F.to_date("t0")))
        .otherwise(F.datediff(F.to_date("tlast"), F.to_date("t0")))
        .alias("d"),
        F.when(bought, 1).otherwise(0).alias("is_event"),
    )


def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier estimate of "days from first signup to first
    purchase": users who never purchase are right-censored at their
    last observed event — the survival-analysis complement of
    time_to_conversion (which reports raw durations for converters
    only; KM uses the censored users' partial information too).

    S(t) = Π_{event days d ≤ t} (1 − deaths_d / at_risk_d), computed
    as exp of an ORDERED cumulative sum of ln((n−d)/n) terms — the
    window order fixes the float summation order on both engines, and
    every ln argument is an exact integer ratio. A cumulative max
    flag handles the at-risk-set-exhausted boundary (S = 0 exactly,
    never ln(0)). The windows run on the distinct-duration-day table
    (≤ observation span in days), not on users or events.
    """
    cohort = _purchase_cohort(spark, sf_dir)
    per_d = cohort.groupBy("d").agg(
        F.sum("is_event").alias("n_ev"),
        F.count("*").alias("n_all"),
    )
    w_before = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    w_tot = Window.partitionBy()
    risk = per_d.select(
        "d",
        "n_ev",
        (
            F.sum("n_all").over(w_tot)
            - F.coalesce(F.sum("n_all").over(w_before), F.lit(0))
        ).alias("n_risk"),
    )
    ln_term = F.when(
        (F.col("n_ev") > 0) & (F.col("n_risk") > F.col("n_ev")),
        F.log(
            (F.col("n_risk") - F.col("n_ev")).cast("double")
            / F.col("n_risk").cast("double")
        ),
    ).otherwise(F.lit(0.0))
    dead = F.when(
        (F.col("n_ev") > 0) & (F.col("n_risk") == F.col("n_ev")), 1
    ).otherwise(0)
    w_cum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    curve = risk.select(
        "d",
        "n_ev",
        "n_risk",
        F.sum(ln_term).over(w_cum).alias("lnS"),
        F.max(dead).over(w_cum).alias("exhausted"),
    )
    return curve.filter(F.col("n_ev") > 0).select(
        F.col("d").cast("long").alias("day"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("n_ev").cast("long").alias("n_event"),
        _r6(
            F.when(F.col("exhausted") == 1, F.lit(0.0)).otherwise(
                F.exp(F.col("lnS"))
            )
        ).alias("survival"),
    )


# ---------------------------------------------------------------------------
# Theil T inequality index
# ---------------------------------------------------------------------------


def q_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality of order values — the decomposable sibling
    of gini_coefficient/lorenz_curve: T = (Σ x·ln x)/(N·μ) − ln μ.

    The one float sum (Σ c·x·ln x over distinct cent values) runs as
    an ORDERED cumulative window and the final row is taken — both
    engines then add the identical terms in the identical ascending-v
    order, so the sum is bit-deterministic even over ~N distinct
    prices (the plain-agg ≤-few-dozen-terms allowance doesn't stretch
    that far). N and Σ x stay integer cents; μ and ln μ derive from
    them through one shared expression. The window runs single-
    partition but on the distinct-price table, not the fact — at
    100 TB that's bounded by price granularity; if it ever isn't,
    the same two-level trick as ks_statistic's argmax applies."""
    orders = load_table(spark, sf_dir, "orders")
    cents = (dec_portable("o_totalprice", 18, 2) * 100).cast("long")
    per_v = orders.select(cents.alias("v")).groupBy("v").agg(
        F.count("*").alias("c")
    )
    xd = F.col("v").cast("double") / F.lit(100.0)
    term = F.col("c").cast("double") * xd * F.log(xd)
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wn = Window.partitionBy()
    cum = per_v.select(
        "v",
        F.sum(term).over(w).alias("s_xlnx"),
        F.sum("c").over(wn).alias("n"),
        F.sum(F.col("c") * F.col("v")).over(wn).alias("cents_tot"),
        F.max("v").over(wn).alias("v_max"),
    ).filter(F.col("v") == F.col("v_max"))
    mu = F.col("cents_tot").cast("double") / (
        F.lit(100.0) * F.col("n").cast("double")
    )
    return cum.select(
        F.col("n").cast("long").alias("n_orders"),
        _r6(mu).alias("mean_price"),
        _r6(
            F.col("s_xlnx") / (F.col("n").cast("double") * mu) - F.log(mu)
        ).alias("theil_t"),
    )


registry.register(
    "theil_index",
    q_theil_index,
    """
    WITH per_v AS (
      SELECT CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) / 100 AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
             COUNT(*) AS c
      FROM orders GROUP BY 1
    ),
    cum AS (
      SELECT v,
             SUM(CAST(c AS DOUBLE) * (CAST(v AS DOUBLE) / 100.0)
                 * LN(CAST(v AS DOUBLE) / 100.0))
               OVER (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS s_xlnx,
             SUM(c) OVER () AS n,
             SUM(c * v) OVER () AS cents_tot,
             MAX(v) OVER () AS v_max
      FROM per_v
    )
    SELECT CAST(n AS BIGINT) AS n_orders,
           FLOOR((CAST(cents_tot AS DOUBLE) / (100.0 * CAST(n AS DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0 AS mean_price,
           FLOOR((s_xlnx / (CAST(n AS DOUBLE)
                            * (CAST(cents_tot AS DOUBLE)
                               / (100.0 * CAST(n AS DOUBLE))))
                  - LN(CAST(cents_tot AS DOUBLE)
                       / (100.0 * CAST(n AS DOUBLE))))
                 * 1000000.0 + 0.5) / 1000000.0 AS theil_t
    FROM cum WHERE v = v_max
    """,
)


# ---------------------------------------------------------------------------
# Cramér's V association strength
# ---------------------------------------------------------------------------


def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V between market segment and nation over customers —
    the [0,1]-normalized effect size on top of chi2_features' raw
    statistic: V = sqrt(χ² / (N·min(r−1, c−1))).

    χ² sums (o−e)²/e over the r×c contingency cells; the cells table
    comes from ONE fact groupBy with marginals as windows over it
    (never a second fact scan), and the float sum runs as an ordered
    cumulative window over (segment, nation) for bit-deterministic
    summation. r, c, N are exact integers from the same pass."""
    cust = load_table(spark, sf_dir, "customer")
    joint = cust.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count("*").alias("o")
    )
    wx = Window.partitionBy("c_mktsegment")
    wy = Window.partitionBy("c_nationkey")
    wn = Window.partitionBy()
    e = (F.col("rx").cast("double") * F.col("cy").cast("double")) / F.col(
        "n"
    ).cast("double")
    cells = joint.select(
        "c_mktsegment",
        "c_nationkey",
        "o",
        F.sum("o").over(wx).alias("rx"),
        F.sum("o").over(wy).alias("cy"),
        F.sum("o").over(wn).alias("n"),
    )
    term = (F.col("o").cast("double") - e) * (
        F.col("o").cast("double") - e
    ) / e
    w_cum = Window.orderBy("c_mktsegment", "c_nationkey").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_last = Window.orderBy(
        F.col("c_mktsegment").desc(), F.col("c_nationkey").desc()
    )
    scored = cells.select(
        F.sum(term).over(w_cum).alias("chi2"),
        F.col("n"),
        F.row_number().over(w_last).alias("rk"),
    ).filter(F.col("rk") == 1)
    dims = cust.agg(
        F.countDistinct("c_mktsegment").alias("r"),
        F.countDistinct("c_nationkey").alias("c"),
    )
    out = scored.crossJoin(F.broadcast(dims))
    return out.select(
        F.col("n").cast("long").alias("n_customers"),
        F.col("r").cast("long").alias("n_segments"),
        F.col("c").cast("long").alias("n_nations"),
        _r6(F.col("chi2")).alias("chi2"),
        _r6(
            F.sqrt(
                F.col("chi2")
                / (
                    F.col("n").cast("double")
                    * F.least(F.col("r") - 1, F.col("c") - 1).cast("double")
                )
            )
        ).alias("cramers_v"),
    )


registry.register(
    "cramers_v",
    q_cramers_v,
    """
    WITH joint AS (
      SELECT c_mktsegment, c_nationkey, COUNT(*) AS o
      FROM customer GROUP BY 1, 2
    ),
    cells AS (
      SELECT c_mktsegment, c_nationkey, o,
             SUM(o) OVER (PARTITION BY c_mktsegment) AS rx,
             SUM(o) OVER (PARTITION BY c_nationkey) AS cy,
             SUM(o) OVER () AS n
      FROM joint
    ),
    scored AS (
      SELECT SUM((CAST(o AS DOUBLE)
                  - (CAST(rx AS DOUBLE) * CAST(cy AS DOUBLE))
                    / CAST(n AS DOUBLE))
                 * (CAST(o AS DOUBLE)
                    - (CAST(rx AS DOUBLE) * CAST(cy AS DOUBLE))
                      / CAST(n AS DOUBLE))
                 / ((CAST(rx AS DOUBLE) * CAST(cy AS DOUBLE))
                    / CAST(n AS DOUBLE)))
               OVER (ORDER BY c_mktsegment, c_nationkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS chi2,
             n,
             ROW_NUMBER() OVER (ORDER BY c_mktsegment DESC,
                                         c_nationkey DESC) AS rk
      FROM cells
    ),
    dims AS (
      SELECT COUNT(DISTINCT c_mktsegment) AS r,
             COUNT(DISTINCT c_nationkey) AS c
      FROM customer
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(r AS BIGINT) AS n_segments,
           CAST(c AS BIGINT) AS n_nations,
           FLOOR(chi2 * 1000000.0 + 0.5) / 1000000.0 AS chi2,
           FLOOR(SQRT(chi2 / (CAST(n AS DOUBLE)
                              * CAST(LEAST(r - 1, c - 1) AS DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0 AS cramers_v
    FROM scored, dims WHERE rk = 1
    """,
)


# ---------------------------------------------------------------------------
# Winsorized mean per group
# ---------------------------------------------------------------------------


def q_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment winsorized mean of account balances: clamp to the
    exact [p05, p95] discrete percentiles, then average — the
    outlier-robust aggregate between robust_stats' median/MAD and the
    raw mean.

    Exact rank rule on both engines: k = ⌈q·n⌉ computed in INTEGER
    arithmetic ((n+19) div 20 — never 0.05·n in floats, whose
    representation error flips ⌈⌉ at exact multiples), boundary =
    value at row_number k of the segment-ordered cents. Clamped sums
    stay integer cents, so the means are single exact divisions.
    Scale: one rank window per segment (parallel across segments) +
    one broadcast of the 5-row boundary table back onto the fact."""
    cust = load_table(spark, sf_dir, "customer")
    cents = (dec_portable("c_acctbal", 18, 2) * 100).cast("long")
    base = cust.select(F.col("c_mktsegment").alias("seg"), cents.alias("v"))
    # r7 (r6 verdict item #4): percentile boundaries via the two-pass
    # histogram rank-locate (operators/rank_select.py) instead of a
    # per-segment row_number over every raw customer row.
    from airflow_baseball_spark.operators.rank_select import rank_pick

    picked = rank_pick(
        base,
        "v",
        [
            ("p05", lambda n: F.expr("(n + 19) div 20")),
            ("p95", lambda n: F.expr("(19 * n + 19) div 20")),
        ],
        group_cols=["seg"],
    )
    bounds = (
        picked.groupBy("seg")
        .pivot("rank_label", ["p05", "p95"])
        .agg(F.min("v"))
        .select(
            "seg",
            F.col("p05").alias("lo"),
            F.col("p95").alias("hi"),
        )
    )
    clamped = base.join(F.broadcast(bounds), "seg").select(
        "seg",
        "v",
        F.least(F.greatest(F.col("v"), F.col("lo")), F.col("hi")).alias("cv"),
        "lo",
        "hi",
    )
    return (
        clamped.groupBy("seg")
        .agg(
            F.count("*").alias("n"),
            F.min("lo").alias("lo"),
            F.min("hi").alias("hi"),
            F.sum("v").alias("sv"),
            F.sum("cv").alias("scv"),
        )
        .select(
            F.col("seg").alias("c_mktsegment"),
            F.col("n").cast("long").alias("n"),
            (F.col("lo").cast("double") / 100.0).alias("p05"),
            (F.col("hi").cast("double") / 100.0).alias("p95"),
            _r6(
                F.col("sv").cast("double")
                / (F.lit(100.0) * F.col("n").cast("double"))
            ).alias("mean_raw"),
            _r6(
                F.col("scv").cast("double")
                / (F.lit(100.0) * F.col("n").cast("double"))
            ).alias("mean_winsor"),
        )
    )


registry.register(
    "winsorized_mean",
    q_winsorized_mean,
    """
    WITH base AS (
      SELECT c_mktsegment AS seg,
             CAST(CAST(FLOOR(c_acctbal * 100 + 0.5) / 100 AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      FROM customer
    ),
    ranked AS (
      SELECT seg, v,
             ROW_NUMBER() OVER (PARTITION BY seg ORDER BY v) AS rk,
             COUNT(*) OVER (PARTITION BY seg) AS n
      FROM base
    ),
    bounds AS (
      SELECT seg, MIN(v) AS lo, MAX(v) AS hi
      FROM ranked
      WHERE rk = (n + 19) // 20 OR rk = (19 * n + 19) // 20
      GROUP BY 1
    )
    SELECT b.seg AS c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(bd.lo) AS DOUBLE) / 100.0 AS p05,
           CAST(MIN(bd.hi) AS DOUBLE) / 100.0 AS p95,
           FLOOR((CAST(SUM(b.v) AS DOUBLE)
                  / (100.0 * CAST(COUNT(*) AS DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0 AS mean_raw,
           FLOOR((CAST(SUM(LEAST(GREATEST(b.v, bd.lo), bd.hi)) AS DOUBLE)
                  / (100.0 * CAST(COUNT(*) AS DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0 AS mean_winsor
    FROM base b JOIN bounds bd ON b.seg = bd.seg
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# Zipf power-law fit over the term-frequency distribution
# ---------------------------------------------------------------------------


def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS fit of ln(frequency) on ln(rank) over the top-100 corpus
    terms — the Zipf power-law exponent, a standard corpus-health
    probe (natural text slopes ≈ −1; synthetic/templated corpora
    flatten or steepen it). Builds on vocab_topk's term table.

    The four OLS sums run as ordered cumulative windows over rank and
    the rank-100 row is taken, so the 100-term float sums add in one
    fixed order on both engines; slope and intercept then derive from
    those five exact doubles through one shared closed form."""
    from airflow_baseball_spark.text import analysis

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(analysis.tokens(F.col("text"))).alias("term"))
    counts = toks.groupBy("term").agg(F.count("*").alias("n"))
    top = counts.orderBy(F.col("n").desc(), "term").limit(100)
    w_rank = Window.orderBy(F.col("n").desc(), "term")
    ranked = top.select(
        "n", F.row_number().over(w_rank).cast("long").alias("rank")
    )
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("n").cast("double"))
    w_cum = Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    sums = ranked.select(
        "rank",
        F.sum(x).over(w_cum).alias("sx"),
        F.sum(y).over(w_cum).alias("sy"),
        F.sum(x * y).over(w_cum).alias("sxy"),
        F.sum(x * x).over(w_cum).alias("sxx"),
        F.max("rank").over(w_all).alias("kk"),
    ).filter(F.col("rank") == F.col("kk"))  # last row = full ordered sums
    k = F.col("kk").cast("double")
    slope = (k * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        k * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return sums.select(
        F.col("rank").alias("n_terms"),
        _r6(slope).alias("zipf_slope"),
        _r6((F.col("sy") - slope * F.col("sx")) / k).alias("intercept"),
    )


registry.register(
    "zipf_slope",
    q_zipf_slope,
    """
    WITH counts AS (
      SELECT term, COUNT(*) AS n
      FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS term
            FROM documents)
      GROUP BY 1
    ),
    top AS (
      SELECT n, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, term) AS BIGINT)
               AS rank
      FROM counts ORDER BY n DESC, term LIMIT 100
    ),
    sums AS (
      SELECT rank,
             SUM(LN(CAST(rank AS DOUBLE)))
               OVER (ORDER BY rank
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sx,
             SUM(LN(CAST(n AS DOUBLE)))
               OVER (ORDER BY rank
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sy,
             SUM(LN(CAST(rank AS DOUBLE)) * LN(CAST(n AS DOUBLE)))
               OVER (ORDER BY rank
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sxy,
             SUM(LN(CAST(rank AS DOUBLE)) * LN(CAST(rank AS DOUBLE)))
               OVER (ORDER BY rank
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sxx,
             MAX(rank) OVER () AS kk
      FROM top
    )
    SELECT rank AS n_terms,
           FLOOR(((CAST(kk AS DOUBLE) * sxy - sx * sy)
                  / (CAST(kk AS DOUBLE) * sxx - sx * sx))
                 * 1000000.0 + 0.5) / 1000000.0 AS zipf_slope,
           FLOOR(((sy - ((CAST(kk AS DOUBLE) * sxy - sx * sy)
                         / (CAST(kk AS DOUBLE) * sxx - sx * sx)) * sx)
                  / CAST(kk AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS intercept
    FROM sums WHERE rank = kk
    """,
)


registry.register(
    "kaplan_meier",
    q_kaplan_meier,
    """
    WITH per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t0,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS tp,
             MAX(ts) AS tlast
      FROM events GROUP BY 1
    ),
    cohort AS (
      SELECT CASE WHEN tp >= t0
                  THEN datediff('day', CAST(t0 AS DATE), CAST(tp AS DATE))
                  ELSE datediff('day', CAST(t0 AS DATE), CAST(tlast AS DATE))
             END AS d,
             CASE WHEN tp >= t0 THEN 1 ELSE 0 END AS is_event
      FROM per_user WHERE t0 IS NOT NULL
    ),
    per_d AS (
      SELECT d, SUM(is_event) AS n_ev, COUNT(*) AS n_all
      FROM cohort GROUP BY 1
    ),
    risk AS (
      SELECT d, n_ev,
             SUM(n_all) OVER ()
               - COALESCE(SUM(n_all) OVER (ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM per_d
    ),
    curve AS (
      SELECT d, n_ev, n_risk,
             SUM(CASE WHEN n_ev > 0 AND n_risk > n_ev
                      THEN LN(CAST(n_risk - n_ev AS DOUBLE)
                              / CAST(n_risk AS DOUBLE))
                      ELSE 0.0 END)
               OVER (ORDER BY d
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS lnS,
             MAX(CASE WHEN n_ev > 0 AND n_risk = n_ev THEN 1 ELSE 0 END)
               OVER (ORDER BY d
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS exhausted
      FROM risk
    )
    SELECT CAST(d AS BIGINT) AS day,
           CAST(n_risk AS BIGINT) AS n_risk,
           CAST(n_ev AS BIGINT) AS n_event,
           FLOOR((CASE WHEN exhausted = 1 THEN 0.0 ELSE EXP(lnS) END)
                 * 1000000.0 + 0.5) / 1000000.0 AS survival
    FROM curve WHERE n_ev > 0
    """,
)


# ---------------------------------------------------------------------------
# Wilson score confidence interval per group
# ---------------------------------------------------------------------------


def q_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source share of English documents with a Wilson 95% score
    interval — the proportion CI that stays inside [0,1] and behaves
    at small n (what a dataset card should quote instead of ±1.96·SE).

    One combinable groupBy yields exact (k, n) per source; every
    reported double derives from those two integers through one
    shared closed-form expression tree (z = 1.96 literal), `_r6`."""
    docs = load_table(spark, sf_dir, "documents")
    agg = docs.groupBy("source").agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("k"),
    )
    z = F.lit(1.96)
    n = F.col("n").cast("double")
    p = F.col("k").cast("double") / n
    denom = F.lit(1.0) + z * z / n
    center = (p + z * z / (F.lit(2.0) * n)) / denom
    half = (
        z
        * F.sqrt(
            p * (F.lit(1.0) - p) / n
            + z * z / (F.lit(4.0) * n * n)
        )
        / denom
    )
    return agg.select(
        "source",
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k"),
        _r6(p).alias("p_hat"),
        _r6(center - half).alias("ci_lo"),
        _r6(center + half).alias("ci_hi"),
    )


registry.register(
    "wilson_ci",
    q_wilson_ci,
    """
    WITH agg AS (
      SELECT source, COUNT(*) AS n,
             COUNT(CASE WHEN lang = 'en' THEN 1 END) AS k
      FROM documents GROUP BY 1
    )
    SELECT source,
           CAST(n AS BIGINT) AS n,
           CAST(k AS BIGINT) AS k,
           FLOOR((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS p_hat,
           FLOOR((((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                   + 1.96 * 1.96 / (2.0 * CAST(n AS DOUBLE)))
                  / (1.0 + 1.96 * 1.96 / CAST(n AS DOUBLE))
                  - (1.96 * SQRT((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                                 * (1.0 - CAST(k AS DOUBLE)
                                          / CAST(n AS DOUBLE))
                                 / CAST(n AS DOUBLE)
                                 + 1.96 * 1.96
                                   / (4.0 * CAST(n AS DOUBLE)
                                          * CAST(n AS DOUBLE)))
                     / (1.0 + 1.96 * 1.96 / CAST(n AS DOUBLE))))
                 * 1000000.0 + 0.5) / 1000000.0 AS ci_lo,
           FLOOR((((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                   + 1.96 * 1.96 / (2.0 * CAST(n AS DOUBLE)))
                  / (1.0 + 1.96 * 1.96 / CAST(n AS DOUBLE))
                  + (1.96 * SQRT((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                                 * (1.0 - CAST(k AS DOUBLE)
                                          / CAST(n AS DOUBLE))
                                 / CAST(n AS DOUBLE)
                                 + 1.96 * 1.96
                                   / (4.0 * CAST(n AS DOUBLE)
                                          * CAST(n AS DOUBLE)))
                     / (1.0 + 1.96 * 1.96 / CAST(n AS DOUBLE))))
                 * 1000000.0 + 0.5) / 1000000.0 AS ci_hi
    FROM agg
    """,
)


# ---------------------------------------------------------------------------
# k-anonymity audit
# ---------------------------------------------------------------------------

_KANON_K = 5


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of customers under the quasi-identifier
    (nation, market segment, balance rounded to $100): how many
    equivalence classes fall below k=5, and how many rows a
    suppression pass would drop — the pre-release privacy gate for
    sharing user-derived training data.

    The balance generalization is integer arithmetic on exact cents
    (cents div 10000, never float rounding); everything reported is a
    count. One combinable groupBy on the quasi-identifier, then a
    segments-sized rollup of the class table."""
    cust = load_table(spark, sf_dir, "customer")
    bal_bucket = F.expr(
        "CAST(CAST(FLOOR(c_acctbal * 100 + 0.5) / 100 AS DECIMAL(18,2)) * 100 AS BIGINT) div 10000"
    )
    classes = cust.groupBy(
        "c_mktsegment", "c_nationkey", bal_bucket.alias("bal100")
    ).agg(F.count("*").alias("n"))
    return (
        classes.groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_classes"),
            F.count(F.when(F.col("n") < _KANON_K, 1))
            .cast("long")
            .alias("n_violating"),
            F.sum(F.when(F.col("n") < _KANON_K, F.col("n")).otherwise(0))
            .cast("long")
            .alias("n_suppressed_rows"),
            F.min("n").cast("long").alias("min_class_size"),
        )
    )


registry.register(
    "k_anonymity",
    q_k_anonymity,
    f"""
    WITH classes AS (
      SELECT c_mktsegment, c_nationkey,
             CAST(CAST(FLOOR(c_acctbal * 100 + 0.5) / 100 AS DECIMAL(18,2)) * 100 AS BIGINT) // 10000
               AS bal100,
             COUNT(*) AS n
      FROM customer GROUP BY 1, 2, 3
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(COUNT(CASE WHEN n < {_KANON_K} THEN 1 END) AS BIGINT)
             AS n_violating,
           CAST(SUM(CASE WHEN n < {_KANON_K} THEN n ELSE 0 END) AS BIGINT)
             AS n_suppressed_rows,
           CAST(MIN(n) AS BIGINT) AS min_class_size
    FROM classes GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# Differentially-private noisy counts (deterministic Laplace)
# ---------------------------------------------------------------------------


def q_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type counts with ε=1 Laplace noise — the
    differential-privacy release mechanism, made REPRODUCIBLE by
    inverting the md5 identity coin (hash_unit on the group key)
    through the Laplace CDF instead of drawing live randomness: noise
    = −sign(u−½)·ln(1−2|u−½|)/ε. Deterministic noise is a real
    pattern (seeded DP for auditable releases); the clamp keeps
    ln away from 0 at the coin's edge values.

    Exact counts from one combinable groupBy; u and the noise derive
    from the group NAME, so the expression tree is engine-identical
    (ln precision per the entropy precedent)."""
    from airflow_baseball_spark.operators.sampling import hash_unit

    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count("*").alias("n"))
    u = hash_unit(F.col("event_type"), seed="dp")
    half = u - F.lit(0.5)
    mag = F.greatest(
        F.lit(1e-12), F.lit(1.0) - F.lit(2.0) * F.abs(half)
    )
    noise = -F.signum(half) * F.log(mag)  # eps = 1
    return counts.select(
        "event_type",
        F.col("n").cast("long").alias("true_n"),
        _r6(F.col("n").cast("double") + noise).alias("noisy_n"),
    )


def _dp_sql() -> str:
    from airflow_baseball_spark.operators.sampling import hash_unit_sql

    u = hash_unit_sql("event_type", "dp")
    return f"""
    WITH counts AS (
      SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1
    ),
    coin AS (
      SELECT event_type, n,
             {u} AS u
      FROM counts
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS true_n,
           FLOOR((CAST(n AS DOUBLE)
                  + (-SIGN(u - 0.5)
                     * LN(GREATEST(1e-12, 1.0 - 2.0 * ABS(u - 0.5)))))
                 * 1000000.0 + 0.5) / 1000000.0 AS noisy_n
    FROM coin
    """


registry.register("dp_noisy_counts", q_dp_noisy_counts, _dp_sql())


# ---------------------------------------------------------------------------
# IR metrics: MRR and NDCG@5 over session event rankings
# ---------------------------------------------------------------------------


def q_mrr_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean reciprocal rank of the first purchase within each user's
    event sequence — the IR ranking metric applied to journeys (how
    early does the converting action appear). Sessions without a
    purchase contribute rank ∞ → 0, the standard MRR convention.

    Reciprocals quantize to BIGINT (floor(1e9/pos)) before the mean —
    order-invariant integer sums; positions come from one user-keyed
    window."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pos = ev.select(
        "user_id",
        "event_type",
        F.row_number().over(w).alias("pos"),
    )
    first_p = (
        pos.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("pos").alias("fp"))
    )
    users = pos.select("user_id").distinct()
    scored = users.join(first_p, "user_id", "left").select(
        F.when(
            F.col("fp").isNotNull(),
            F.floor(F.lit(1000000000) / F.col("fp")).cast("long"),
        )
        .otherwise(F.lit(0))
        .alias("rr9")
    )
    return scored.agg(
        F.count("*").cast("long").alias("n_users"),
        F.count(F.when(F.col("rr9") > 0, 1)).cast("long").alias(
            "n_converting"
        ),
        _r6(
            F.sum("rr9").cast("double")
            / (F.count("*").cast("double") * F.lit(1e9))
        ).alias("mrr"),
    )


registry.register(
    "mrr_metric",
    q_mrr_metric,
    """
    WITH pos AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS pos
      FROM events
    ),
    first_p AS (
      SELECT user_id, MIN(pos) AS fp FROM pos
      WHERE event_type = 'purchase' GROUP BY 1
    ),
    scored AS (
      SELECT CASE WHEN f.fp IS NOT NULL
                  THEN CAST(FLOOR(1000000000 / f.fp) AS BIGINT)
                  ELSE 0 END AS rr9
      FROM (SELECT DISTINCT user_id FROM pos) u
      LEFT JOIN first_p f USING (user_id)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(CASE WHEN rr9 > 0 THEN 1 END) AS BIGINT)
             AS n_converting,
           FLOOR((CAST(SUM(rr9) AS DOUBLE)
                  / (CAST(COUNT(*) AS DOUBLE) * 1e9))
                 * 1000000.0 + 0.5) / 1000000.0 AS mrr
    FROM scored
    """,
)


# ---------------------------------------------------------------------------
# NDCG@5 with value gains
# ---------------------------------------------------------------------------


def q_ndcg_at5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean NDCG@5 over users, scoring each user's first five events
    by their value as graded relevance: DCG = Σ gain/log2(pos+1)
    against the ideal (value-sorted) ordering of the SAME five gains
    — how well does arrival order match value order.

    Per-position discounted gains quantize to BIGINT
    (floor(cents·1e6/log2(pos+1))) before summing, so DCG and IDCG
    are integer sums; the per-user ratio and the final mean divide
    exact integers (mean over users ordered-summed via the
    quantization — each user's ndcg re-quantizes to 1e9)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cents = (dec_portable("value", 18, 2) * 100).cast("long")
    top5 = (
        ev.select(
            "user_id",
            cents.alias("g"),
            F.row_number().over(w).alias("pos"),
        )
        .filter(F.col("pos") <= 5)
    )
    w_ideal = Window.partitionBy("user_id").orderBy(
        F.col("g").desc(), "pos"
    )
    staged = top5.select(
        "user_id",
        "g",
        "pos",
        F.row_number().over(w_ideal).alias("ipos"),
    )
    disc = lambda p: F.log(F.lit(2.0)) / F.log(  # noqa: E731
        p.cast("double") + F.lit(1.0)
    )
    q = lambda p: F.floor(  # noqa: E731
        F.col("g").cast("double") * F.lit(1e6) * disc(p)
    ).cast("long")
    per_user = staged.groupBy("user_id").agg(
        F.sum(q(F.col("pos"))).alias("dcg6"),
        F.sum(q(F.col("ipos"))).alias("idcg6"),
    )
    ndcg9 = F.when(
        F.col("idcg6") > 0,
        F.floor(
            F.col("dcg6").cast("double")
            * F.lit(1e9)
            / F.col("idcg6").cast("double")
        ).cast("long"),
    ).otherwise(F.lit(1000000000))
    scored = per_user.select(ndcg9.alias("n9"))
    return scored.agg(
        F.count("*").cast("long").alias("n_users"),
        _r6(
            F.sum("n9").cast("double")
            / (F.count("*").cast("double") * F.lit(1e9))
        ).alias("mean_ndcg_at5"),
    )


registry.register(
    "ndcg_at5",
    q_ndcg_at5,
    """
    WITH top5 AS (
      SELECT user_id,
             CAST(CAST(FLOOR(value * 100 + 0.5) / 100 AS DECIMAL(18,2)) * 100 AS BIGINT) AS g,
             pos
      FROM (
        SELECT user_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS pos
        FROM events
      ) WHERE pos <= 5
    ),
    staged AS (
      SELECT user_id, g, pos,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY g DESC, pos) AS ipos
      FROM top5
    ),
    per_user AS (
      SELECT user_id,
             SUM(CAST(FLOOR(CAST(g AS DOUBLE) * 1e6
                            * (LN(2.0) / LN(CAST(pos AS DOUBLE) + 1.0)))
                      AS BIGINT)) AS dcg6,
             SUM(CAST(FLOOR(CAST(g AS DOUBLE) * 1e6
                            * (LN(2.0) / LN(CAST(ipos AS DOUBLE) + 1.0)))
                      AS BIGINT)) AS idcg6
      FROM staged GROUP BY 1
    ),
    scored AS (
      SELECT CASE WHEN idcg6 > 0
                  THEN CAST(FLOOR(CAST(dcg6 AS DOUBLE) * 1e9
                                  / CAST(idcg6 AS DOUBLE)) AS BIGINT)
                  ELSE 1000000000 END AS n9
      FROM per_user
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           FLOOR((CAST(SUM(n9) AS DOUBLE)
                  / (CAST(COUNT(*) AS DOUBLE) * 1e9))
                 * 1000000.0 + 0.5) / 1000000.0 AS mean_ndcg_at5
    FROM scored
    """,
)


# ---------------------------------------------------------------------------
# Offline policy replay evaluation
# ---------------------------------------------------------------------------


def q_policy_replay_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline (counterfactual) evaluation by replay: learn a policy
    "the modal event type per weekday" on the FIRST half of the log,
    then score it on the second half as the mean value of the events
    the policy would have chosen — the replay estimator that
    evaluates a recommender without deploying it.

    Time split at the integer midpoint day (epoch-day arithmetic, the
    module's calendar rule — never engine dow functions); the modal
    action per weekday breaks ties lexicographically; all reported
    values are exact integer ratios."""
    ev = load_table(spark, sf_dir, "events")
    epoch_day = F.datediff(
        F.to_date("ts"), F.to_date(F.lit("1970-01-01"))
    )
    cents = (dec_portable("value", 18, 2) * 100).cast("long")
    base = ev.select(
        "event_type",
        cents.alias("v"),
        epoch_day.alias("d"),
        (epoch_day % 7).alias("dow"),
    )
    bounds = base.agg(
        ((F.min("d") + F.max("d")) - (F.min("d") + F.max("d")) % 2)
        .alias("mid2")
    )  # 2*midpoint, integer
    with_split = base.crossJoin(F.broadcast(bounds)).withColumn(
        "is_train", (F.col("d") * 2) < F.col("mid2")
    )
    train_counts = (
        with_split.filter(F.col("is_train"))
        .groupBy("dow", "event_type")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("dow").orderBy(F.col("n").desc(), "event_type")
    policy = (
        train_counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("dow", F.col("event_type").alias("action"))
    )
    test = with_split.filter(~F.col("is_train"))
    scored = test.join(F.broadcast(policy), "dow").select(
        (F.col("event_type") == F.col("action")).alias("match"), "v"
    )
    return scored.agg(
        F.count("*").cast("long").alias("n_eval"),
        F.count(F.when(F.col("match"), 1)).cast("long").alias("n_matched"),
        _r6(
            F.count(F.when(F.col("match"), 1)).cast("double")
            / F.count("*").cast("double")
        ).alias("match_rate"),
        _r6(
            F.sum(F.when(F.col("match"), F.col("v")).otherwise(0)).cast(
                "double"
            )
            / (
                F.lit(100.0)
                * F.count(F.when(F.col("match"), 1)).cast("double")
            )
        ).alias("matched_mean_value"),
        _r6(
            F.sum("v").cast("double")
            / (F.lit(100.0) * F.count("*").cast("double"))
        ).alias("overall_mean_value"),
    )


registry.register(
    "policy_replay_eval",
    q_policy_replay_eval,
    """
    WITH base AS (
      SELECT event_type,
             CAST(CAST(FLOOR(value * 100 + 0.5) / 100 AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
             datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
             datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7
               AS dow
      FROM events
    ),
    bounds AS (
      SELECT (MIN(d) + MAX(d)) - (MIN(d) + MAX(d)) % 2 AS mid2 FROM base
    ),
    with_split AS (
      SELECT b.*, (b.d * 2) < bo.mid2 AS is_train
      FROM base b CROSS JOIN bounds bo
    ),
    policy AS (
      SELECT dow, event_type AS action FROM (
        SELECT dow, event_type,
               ROW_NUMBER() OVER (PARTITION BY dow
                                  ORDER BY COUNT(*) DESC, event_type) AS rk
        FROM with_split WHERE is_train GROUP BY dow, event_type
      ) WHERE rk = 1
    ),
    scored AS (
      SELECT t.event_type = p.action AS match, t.v
      FROM with_split t JOIN policy p USING (dow)
      WHERE NOT t.is_train
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_eval,
           CAST(COUNT(CASE WHEN match THEN 1 END) AS BIGINT) AS n_matched,
           FLOOR((CAST(COUNT(CASE WHEN match THEN 1 END) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE)) * 1000000.0 + 0.5)
             / 1000000.0 AS match_rate,
           FLOOR((CAST(SUM(CASE WHEN match THEN v ELSE 0 END) AS DOUBLE)
                  / (100.0 * CAST(COUNT(CASE WHEN match THEN 1 END)
                                  AS DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0 AS matched_mean_value,
           FLOOR((CAST(SUM(v) AS DOUBLE)
                  / (100.0 * CAST(COUNT(*) AS DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0 AS overall_mean_value
    FROM scored
    """,
)


# ---------------------------------------------------------------------------
# Q-Q quantile comparison table
# ---------------------------------------------------------------------------


def q_qq_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-quantile table of purchase vs click values at deciles
    1..9 — ks_statistic's diagnostic companion (KS says IF the
    distributions differ; the Q-Q table says WHERE). Discrete
    ceil(p·n) ranks in pure integer arithmetic ((k·n + 9) div 10),
    one value sort per class on the distinct-cent table."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    cents = (dec_portable("value", 18, 2) * 100).cast("long")
    base = ev.select(F.col("event_type").alias("cls"), cents.alias("v"))
    # r7 (r6 verdict item #4): per-class deciles via the two-pass
    # histogram rank-locate (operators/rank_select.py) — the previous
    # form row_numbered each class's raw events through ONE partition
    # (2 classes = 2 partitions sorting n/2 each).
    from airflow_baseball_spark.operators.rank_select import rank_pick

    picked = rank_pick(
        base,
        "v",
        [
            (str(k), lambda n, k=k: F.expr(f"({k} * n + 9) div 10"))
            for k in range(1, 10)
        ],
        group_cols=["cls"],
    )
    q = (
        picked.withColumn("k", F.col("rank_label").cast("int"))
        .groupBy("k")
        .pivot("cls", ["purchase", "click"])
        .agg(F.min("v"))
    )
    return q.select(
        F.col("k").cast("long").alias("decile"),
        (F.col("purchase").cast("double") / 100.0).alias("q_purchase"),
        (F.col("click").cast("double") / 100.0).alias("q_click"),
        _r6(
            (F.col("purchase") - F.col("click")).cast("double") / 100.0
        ).alias("qq_diff"),
    )


registry.register(
    "qq_table",
    q_qq_table,
    """
    WITH base AS (
      SELECT event_type AS cls,
             CAST(CAST(FLOOR(value * 100 + 0.5) / 100 AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      FROM events WHERE event_type IN ('purchase', 'click')
    ),
    ranked AS (
      SELECT cls, v,
             ROW_NUMBER() OVER (PARTITION BY cls ORDER BY v) AS rn,
             COUNT(*) OVER (PARTITION BY cls) AS n
      FROM base
    ),
    lv AS (
      SELECT cls, v, k
      FROM ranked, LATERAL unnest(generate_series(1, 9)) AS g(k)
      WHERE rn = (k * n + 9) // 10
    )
    SELECT CAST(k AS BIGINT) AS decile,
           CAST(MIN(CASE WHEN cls = 'purchase' THEN v END) AS DOUBLE)
             / 100.0 AS q_purchase,
           CAST(MIN(CASE WHEN cls = 'click' THEN v END) AS DOUBLE)
             / 100.0 AS q_click,
           FLOOR((CAST(MIN(CASE WHEN cls = 'purchase' THEN v END)
                       - MIN(CASE WHEN cls = 'click' THEN v END) AS DOUBLE)
                  / 100.0) * 1000000.0 + 0.5) / 1000000.0 AS qq_diff
    FROM lv GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# Distribution overlap coefficient
# ---------------------------------------------------------------------------


def q_overlap_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlap coefficient between the purchase and click value
    distributions: OVL = Σ_v min(p_v, q_v) — the fraction of
    probability mass the two classes share (1 = identical, 0 =
    disjoint). Completes the distribution-comparison kit: KS (max
    gap), Q-Q (where), OVL (how much overlap).

    Exactness: per distinct cent the class counts are integers, and
    min(na_v/na, nb_v/nb) is computed as the INTEGER cross-product
    min(na_v·nb, nb_v·na) — the whole sum is one exact BIGINT, one
    final division. One combinable groupBy on the fact."""
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
    wn = Window.partitionBy()
    staged = per_v.select(
        "na_v",
        "nb_v",
        F.sum("na_v").over(wn).alias("na"),
        F.sum("nb_v").over(wn).alias("nb"),
    )
    return staged.agg(
        F.max("na").cast("long").alias("n_purchase"),
        F.max("nb").cast("long").alias("n_click"),
        F.count("*").cast("long").alias("n_distinct_values"),
        _r6(
            F.sum(
                F.least(
                    F.col("na_v") * F.col("nb"), F.col("nb_v") * F.col("na")
                )
            ).cast("double")
            / (F.max("na") * F.max("nb")).cast("double")
        ).alias("overlap"),
    )


registry.register(
    "overlap_coefficient",
    q_overlap_coefficient,
    """
    WITH per_v AS (
      SELECT CAST(CAST(FLOOR(value * 100 + 0.5) / 100 AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
             COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS na_v,
             COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS nb_v
      FROM events WHERE event_type IN ('purchase', 'click')
      GROUP BY 1
    ),
    staged AS (
      SELECT na_v, nb_v,
             SUM(na_v) OVER () AS na, SUM(nb_v) OVER () AS nb
      FROM per_v
    )
    SELECT CAST(MAX(na) AS BIGINT) AS n_purchase,
           CAST(MAX(nb) AS BIGINT) AS n_click,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_values,
           FLOOR((CAST(SUM(LEAST(na_v * nb, nb_v * na)) AS DOUBLE)
                  / CAST(MAX(na) * MAX(nb) AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS overlap
    FROM staged
    """,
)


# ---------------------------------------------------------------------------
# Simpson's paradox detector
# ---------------------------------------------------------------------------


def q_simpson_paradox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the customer-balance health comparison between the two
    largest market segments REVERSE inside individual nations?
    Aggregation-reversal (Simpson's paradox) is the classic trap in
    cohort dashboards; this audit counts the strata that disagree
    with the pooled conclusion.

    Every rate comparison is an INTEGER cross-product
    (k₁·n₂ vs k₂·n₁ — never a float division), so winner flags can't
    flip on a ulp. Shape: one (nation, segment) groupBy; the pooled
    and per-nation comparisons run on that cells table."""
    cust = load_table(spark, sf_dir, "customer")
    cells = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("c_acctbal") > 0, 1)).alias("k"),
    )
    seg_tot = cells.groupBy("c_mktsegment").agg(
        F.sum("n").alias("n"), F.sum("k").alias("k")
    )
    w = Window.orderBy(F.col("n").desc(), "c_mktsegment")
    top2 = seg_tot.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= 2
    )
    a = top2.filter(F.col("rk") == 1).select(
        F.col("c_mktsegment").alias("seg_a"),
        F.col("n").alias("na"),
        F.col("k").alias("ka"),
    )
    b = top2.filter(F.col("rk") == 2).select(
        F.col("c_mktsegment").alias("seg_b"),
        F.col("n").alias("nb"),
        F.col("k").alias("kb"),
    )
    pooled = a.crossJoin(b).select(
        "seg_a",
        "seg_b",
        (F.col("ka") * F.col("nb") > F.col("kb") * F.col("na")).alias(
            "a_wins_pooled"
        ),
    )
    pa = cells.alias("x").join(
        F.broadcast(pooled), F.col("x.c_mktsegment") == F.col("seg_a")
    ).select(
        F.col("x.c_nationkey").alias("nat"),
        F.col("x.n").alias("na_s"),
        F.col("x.k").alias("ka_s"),
        "seg_a",
        "seg_b",
        "a_wins_pooled",
    )
    pb = cells.alias("y").select(
        F.col("y.c_nationkey").alias("nat_b"),
        F.col("y.c_mktsegment").alias("seg_b2"),
        F.col("y.n").alias("nb_s"),
        F.col("y.k").alias("kb_s"),
    )
    strata = pa.join(
        pb,
        (F.col("nat") == F.col("nat_b"))
        & (F.col("seg_b2") == F.col("seg_b")),
    ).select(
        "seg_a",
        "seg_b",
        "a_wins_pooled",
        (F.col("ka_s") * F.col("nb_s") > F.col("kb_s") * F.col("na_s")).alias(
            "a_wins_stratum"
        ),
    )
    return strata.groupBy("seg_a", "seg_b", "a_wins_pooled").agg(
        F.count("*").cast("long").alias("n_strata"),
        F.count(
            F.when(F.col("a_wins_stratum") != F.col("a_wins_pooled"), 1)
        )
        .cast("long")
        .alias("n_reversed"),
    )


registry.register(
    "simpson_paradox",
    q_simpson_paradox,
    """
    WITH cells AS (
      SELECT c_nationkey, c_mktsegment, COUNT(*) AS n,
             COUNT(CASE WHEN c_acctbal > 0 THEN 1 END) AS k
      FROM customer GROUP BY 1, 2
    ),
    seg_tot AS (
      SELECT c_mktsegment, SUM(n) AS n, SUM(k) AS k
      FROM cells GROUP BY 1
    ),
    top2 AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY n DESC, c_mktsegment) AS rk
      FROM seg_tot
    ),
    pooled AS (
      SELECT a.c_mktsegment AS seg_a, b.c_mktsegment AS seg_b,
             a.k * b.n > b.k * a.n AS a_wins_pooled
      FROM (SELECT * FROM top2 WHERE rk = 1) a
      CROSS JOIN (SELECT * FROM top2 WHERE rk = 2) b
    ),
    strata AS (
      SELECT p.seg_a, p.seg_b, p.a_wins_pooled,
             x.k * y.n > y.k * x.n AS a_wins_stratum
      FROM pooled p
      JOIN cells x ON x.c_mktsegment = p.seg_a
      JOIN cells y ON y.c_mktsegment = p.seg_b
                  AND y.c_nationkey = x.c_nationkey
    )
    SELECT seg_a, seg_b, a_wins_pooled,
           CAST(COUNT(*) AS BIGINT) AS n_strata,
           CAST(COUNT(CASE WHEN a_wins_stratum <> a_wins_pooled THEN 1 END)
                AS BIGINT) AS n_reversed
    FROM strata GROUP BY 1, 2, 3
    """,
)


# ---------------------------------------------------------------------------
# Rare-combination detector
# ---------------------------------------------------------------------------


def q_rare_combos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Singleton cells of (lang, source, log₂ length bin): documents
    whose attribute combination is unique in the corpus — the
    rare-combo screen that feeds both anomaly review queues and
    re-identification risk checks (k_anonymity's k=1 corner, on the
    corpus side). Bins via the integer LENGTH(bin(n))−1 trick; two
    combinable aggregates, all counts."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " ")).cast("long")
    cells = docs.select(
        "lang",
        "source",
        (F.length(F.bin(n_tok)) - 1).cast("long").alias("len_bin"),
    ).groupBy("lang", "source", "len_bin").agg(F.count("*").alias("c"))
    return cells.groupBy("source").agg(
        F.count("*").cast("long").alias("n_combos"),
        F.count(F.when(F.col("c") == 1, 1)).cast("long").alias(
            "n_singleton_combos"
        ),
        F.sum("c").cast("long").alias("n_docs"),
    )


registry.register(
    "rare_combos",
    q_rare_combos,
    """
    WITH cells AS (
      SELECT lang, source,
             CAST(LENGTH(bin(len(string_split(text, ' ')))) - 1 AS BIGINT)
               AS len_bin,
             COUNT(*) AS c
      FROM documents GROUP BY 1, 2, 3
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_combos,
           CAST(COUNT(CASE WHEN c = 1 THEN 1 END) AS BIGINT)
             AS n_singleton_combos,
           CAST(SUM(c) AS BIGINT) AS n_docs
    FROM cells GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# Ratio metric with delta-method CI
# ---------------------------------------------------------------------------


def q_ratio_metric_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-per-event as a RATIO-OF-MEANS metric over users, with
    its delta-method 95% CI: R = Σx/Σy and
    Var(R) ≈ (Σ of (x − R·y)² over users) / (n·ȳ²·n) — the standard
    experimentation-platform treatment of ratio metrics, where
    averaging per-user ratios would mis-weight heavy users and a
    plain row-level mean ignores user clustering.

    Two-pass exactness: pass 1 computes R from exact integer sums;
    pass 2's residual sum uses the five exact sufficient statistics
    (Σx², Σxy, Σy² — all integers) expanded algebraically, so no
    per-user float residual is ever summed: Σ(x−Ry)² =
    Σx² − 2RΣxy + R²Σy², one shared expression."""
    ev = load_table(spark, sf_dir, "events")
    cents = (dec_portable("value", 18, 2) * 100).cast("long")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", cents).otherwise(0)
        ).alias("x"),
        F.count("*").alias("y"),
    )
    suff = per_user.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    r = d("sx") / d("sy")
    resid2 = d("sxx") - 2 * r * d("sxy") + r * r * d("syy")
    ybar = d("sy") / d("n")
    se = F.sqrt(resid2 / d("n")) / (ybar * F.sqrt(d("n")))
    return suff.select(
        F.col("n").cast("long").alias("n_users"),
        _r6(r / F.lit(100.0)).alias("revenue_per_event"),
        _r6((r - F.lit(1.96) * se) / F.lit(100.0)).alias("ci_lo"),
        _r6((r + F.lit(1.96) * se) / F.lit(100.0)).alias("ci_hi"),
    )


registry.register(
    "ratio_metric_delta",
    q_ratio_metric_delta,
    """
    WITH per_user AS (
      SELECT user_id,
             SUM(CASE WHEN event_type = 'purchase'
                      THEN CAST(CAST(FLOOR(value * 100 + 0.5) / 100 AS DECIMAL(18,2)) * 100
                                AS BIGINT)
                      ELSE 0 END) AS x,
             COUNT(*) AS y
      FROM events GROUP BY 1
    ),
    suff AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
      FROM per_user
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           FLOOR(((CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE)) / 100.0)
                 * 1000000.0 + 0.5) / 1000000.0 AS revenue_per_event,
           FLOOR((((CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                   - 1.96 * (SQRT((CAST(sxx AS DOUBLE)
                                   - 2 * (CAST(sx AS DOUBLE)
                                          / CAST(sy AS DOUBLE))
                                     * CAST(sxy AS DOUBLE)
                                   + (CAST(sx AS DOUBLE)
                                      / CAST(sy AS DOUBLE))
                                     * (CAST(sx AS DOUBLE)
                                        / CAST(sy AS DOUBLE))
                                     * CAST(syy AS DOUBLE))
                                  / CAST(n AS DOUBLE))
                             / ((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                                * SQRT(CAST(n AS DOUBLE))))) / 100.0)
                 * 1000000.0 + 0.5) / 1000000.0 AS ci_lo,
           FLOOR((((CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                   + 1.96 * (SQRT((CAST(sxx AS DOUBLE)
                                   - 2 * (CAST(sx AS DOUBLE)
                                          / CAST(sy AS DOUBLE))
                                     * CAST(sxy AS DOUBLE)
                                   + (CAST(sx AS DOUBLE)
                                      / CAST(sy AS DOUBLE))
                                     * (CAST(sx AS DOUBLE)
                                        / CAST(sy AS DOUBLE))
                                     * CAST(syy AS DOUBLE))
                                  / CAST(n AS DOUBLE))
                             / ((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                                * SQRT(CAST(n AS DOUBLE))))) / 100.0)
                 * 1000000.0 + 0.5) / 1000000.0 AS ci_hi
    FROM suff
    """,
)


# ---------------------------------------------------------------------------
# Log-rank test between two hash-assigned arms
# ---------------------------------------------------------------------------


def q_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test comparing signup→purchase survival between two
    hash-assigned user arms (the md5 A/B coin, so this doubles as an
    A/A check: Z should be ordinary-normal noise) — kaplan_meier's
    inferential partner, THE standard two-group survival comparison.

    At every pooled event day: observed arm-A events d₁, expected
    E = d·n₁/n, variance V = d·n₁·n₂·(n−d)/(n²·(n−1)). Each E term
    quantizes via INTEGER division (d·n₁·1e6 div n) and each V term
    via (d·n₁·n₂·(n−d)·1e2 div (n²·(n−1))) — both engines sum the
    same integers, so Z is bit-deterministic; the coarse 1e-2 V
    quantum is far inside statistical noise and chosen to keep the
    BIGINT product under 2⁶³ for user counts up to ~3·10⁴ (document
    and rescale for bigger cohorts). The day×arm grid is days-sized;
    at-risk counts come from per-arm cumulative windows over it."""
    from airflow_baseball_spark.operators.sampling import hash_unit

    cohort = _purchase_cohort(spark, sf_dir).withColumn(
        "arm",
        F.when(hash_unit(F.col("user_id"), seed="ab") < 0.5, 0).otherwise(1),
    )
    per = cohort.groupBy("arm", "d").agg(
        F.sum("is_event").alias("n_ev"), F.count("*").alias("n_all")
    )
    days = cohort.select("d").distinct()
    arms = spark.range(2).select(F.col("id").cast("int").alias("arm"))
    grid = days.crossJoin(arms).join(per, ["arm", "d"], "left").select(
        "arm",
        "d",
        F.coalesce(F.col("n_ev"), F.lit(0)).alias("n_ev"),
        F.coalesce(F.col("n_all"), F.lit(0)).alias("n_all"),
    )
    w_b = (
        Window.partitionBy("arm")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_t = Window.partitionBy("arm")
    risk = grid.select(
        "arm",
        "d",
        "n_ev",
        (
            F.sum("n_all").over(w_t)
            - F.coalesce(F.sum("n_all").over(w_b), F.lit(0))
        ).alias("at_risk"),
    )
    a0 = risk.filter(F.col("arm") == 0).select(
        "d", F.col("n_ev").alias("d1"), F.col("at_risk").alias("n1")
    )
    a1 = risk.filter(F.col("arm") == 1).select(
        F.col("d").alias("d_"),
        F.col("n_ev").alias("d2"),
        F.col("at_risk").alias("n2"),
    )
    j = (
        a0.join(a1, F.col("d") == F.col("d_"))
        .withColumn("dt", F.col("d1") + F.col("d2"))
        .withColumn("n", F.col("n1") + F.col("n2"))
        .filter((F.col("dt") > 0) & (F.col("n") > 1))
    )
    e6 = F.expr("(dt * n1 * 1000000) div n")
    v2 = F.expr(
        "(dt * n1 * n2 * (n - dt) * 100) div (n * n * (n - 1))"
    )
    agg = j.agg(
        F.sum("d1").alias("o1"),
        F.sum(e6).alias("se6"),
        F.sum(v2).alias("sv2"),
        F.count("*").alias("n_event_days"),
    )
    z = (
        F.col("o1").cast("double") - F.col("se6").cast("double") / 1e6
    ) / F.sqrt(F.col("sv2").cast("double") / 1e2)
    return agg.select(
        F.col("n_event_days").cast("long").alias("n_event_days"),
        F.col("o1").cast("long").alias("observed_a"),
        _r6(F.col("se6").cast("double") / 1e6).alias("expected_a"),
        _r6(z).alias("logrank_z"),
    )


def _logrank_sql() -> str:
    from airflow_baseball_spark.operators.sampling import hash_unit_sql

    u = hash_unit_sql("user_id", "ab")
    return f"""
    WITH per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t0,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS tp,
             MAX(ts) AS tlast
      FROM events GROUP BY 1
    ),
    cohort AS (
      SELECT CASE WHEN tp >= t0
                  THEN datediff('day', CAST(t0 AS DATE), CAST(tp AS DATE))
                  ELSE datediff('day', CAST(t0 AS DATE),
                                CAST(tlast AS DATE))
             END AS d,
             CASE WHEN tp >= t0 THEN 1 ELSE 0 END AS is_event,
             CASE WHEN {u} < 0.5 THEN 0 ELSE 1 END AS arm
      FROM per_user WHERE t0 IS NOT NULL
    ),
    per AS (
      SELECT arm, d, SUM(is_event) AS n_ev, COUNT(*) AS n_all
      FROM cohort GROUP BY 1, 2
    ),
    grid AS (
      SELECT a.arm, dd.d,
             COALESCE(p.n_ev, 0) AS n_ev, COALESCE(p.n_all, 0) AS n_all
      FROM (SELECT DISTINCT d FROM cohort) dd
      CROSS JOIN (SELECT 0 AS arm UNION ALL SELECT 1) a
      LEFT JOIN per p ON p.arm = a.arm AND p.d = dd.d
    ),
    risk AS (
      SELECT arm, d, n_ev,
             SUM(n_all) OVER (PARTITION BY arm)
               - COALESCE(SUM(n_all) OVER (PARTITION BY arm ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS at_risk
      FROM grid
    ),
    j AS (
      SELECT a0.d, a0.n_ev AS d1, a0.at_risk AS n1,
             a1.n_ev AS d2, a1.at_risk AS n2,
             a0.n_ev + a1.n_ev AS dt,
             a0.at_risk + a1.at_risk AS n
      FROM (SELECT * FROM risk WHERE arm = 0) a0
      JOIN (SELECT * FROM risk WHERE arm = 1) a1 ON a0.d = a1.d
      WHERE a0.n_ev + a1.n_ev > 0 AND a0.at_risk + a1.at_risk > 1
    ),
    agg AS (
      SELECT SUM(d1) AS o1,
             SUM((dt * n1 * 1000000) // n) AS se6,
             SUM((dt * n1 * n2 * (n - dt) * 100) // (n * n * (n - 1)))
               AS sv2,
             COUNT(*) AS n_event_days
      FROM j
    )
    SELECT CAST(n_event_days AS BIGINT) AS n_event_days,
           CAST(o1 AS BIGINT) AS observed_a,
           FLOOR((CAST(se6 AS DOUBLE) / 1e6) * 1000000.0 + 0.5)
             / 1000000.0 AS expected_a,
           FLOOR(((CAST(o1 AS DOUBLE) - CAST(se6 AS DOUBLE) / 1e6)
                  / SQRT(CAST(sv2 AS DOUBLE) / 1e2))
                 * 1000000.0 + 0.5) / 1000000.0 AS logrank_z
    FROM agg
    """


registry.register("logrank_test", q_logrank_test, _logrank_sql())


# ---------------------------------------------------------------------------
# Matthews correlation coefficient at the median threshold
# ---------------------------------------------------------------------------


def q_mcc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MCC of "value above the pooled median" as a purchase-vs-click
    classifier — the confusion-matrix summary that stays honest under
    class imbalance (auc_roc ranks; MCC scores one operating point).

    The threshold is the exact pooled lower median (integer rank
    (n+1) div 2); the four confusion cells are exact counts, and MCC
    = (TP·TN − FP·FN)/√((TP+FP)(TP+FN)(TN+FP)(TN+FN)) is one shared
    expression — products up to n⁴ run in doubles (exact integers
    magnitudes ≤ 2⁵³ for n ≤ ~3·10⁵ per class at this formula's
    pairings; document and widen to DECIMAL beyond)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    cents = (dec_portable("value", 18, 2) * 100).cast("long")
    base = ev.select(
        cents.alias("v"),
        (F.col("event_type") == "purchase").alias("is_pos"),
    )
    w = Window.orderBy("v")
    wn = Window.partitionBy()
    ranked = base.select(
        "v",
        "is_pos",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    med = ranked.filter(
        F.col("rn") == F.expr("(n + 1) div 2")
    ).select(F.col("v").alias("thr"))
    scored = base.crossJoin(F.broadcast(med))
    cells = scored.agg(
        F.count(
            F.when(F.col("is_pos") & (F.col("v") > F.col("thr")), 1)
        ).alias("tp"),
        F.count(
            F.when(~F.col("is_pos") & (F.col("v") > F.col("thr")), 1)
        ).alias("fp"),
        F.count(
            F.when(F.col("is_pos") & (F.col("v") <= F.col("thr")), 1)
        ).alias("fn"),
        F.count(
            F.when(~F.col("is_pos") & (F.col("v") <= F.col("thr")), 1)
        ).alias("tn"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    num = d("tp") * d("tn") - d("fp") * d("fn")
    den = F.sqrt(
        (d("tp") + d("fp"))
        * (d("tp") + d("fn"))
        * (d("tn") + d("fp"))
        * (d("tn") + d("fn"))
    )
    return cells.select(
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        F.col("tn").cast("long").alias("tn"),
        _r6(num / den).alias("mcc"),
    )


registry.register(
    "mcc_score",
    q_mcc_score,
    """
    WITH base AS (
      SELECT CAST(CAST(FLOOR(value * 100 + 0.5) / 100 AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
             event_type = 'purchase' AS is_pos
      FROM events WHERE event_type IN ('purchase', 'click')
    ),
    med AS (
      SELECT v AS thr FROM (
        SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn,
               COUNT(*) OVER () AS n
        FROM base
      ) WHERE rn = (n + 1) // 2
    ),
    cells AS (
      SELECT COUNT(CASE WHEN is_pos AND v > thr THEN 1 END) AS tp,
             COUNT(CASE WHEN NOT is_pos AND v > thr THEN 1 END) AS fp,
             COUNT(CASE WHEN is_pos AND v <= thr THEN 1 END) AS fn,
             COUNT(CASE WHEN NOT is_pos AND v <= thr THEN 1 END) AS tn
      FROM base CROSS JOIN med
    )
    SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
           FLOOR(((CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE)
                   - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE))
                  / SQRT((CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE))
                         * (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE))
                         * (CAST(tn AS DOUBLE) + CAST(fp AS DOUBLE))
                         * (CAST(tn AS DOUBLE) + CAST(fn AS DOUBLE))))
                 * 1000000.0 + 0.5) / 1000000.0 AS mcc
    FROM cells
    """,
)


# ---------------------------------------------------------------------------
# Churn-baseline classifier evaluation
# ---------------------------------------------------------------------------


def q_churn_baseline_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the recency churn rule "inactive in the last 14
    train days ⇒ will churn" against the truth "no activity in the
    test window" — the baseline every churn model must beat, scored
    with exact confusion counts, precision, recall and F1
    (churn_flag produces the rule; this closes the loop on a time
    split like policy_replay_eval).

    Split at the integer midpoint epoch-day; per-user last-train-day
    and any-test-activity come from ONE conditional aggregate; every
    reported number is an exact count ratio (F1 = 2TP/(2TP+FP+FN) —
    never the precision·recall float form)."""
    ev = load_table(spark, sf_dir, "events")
    ed = F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01")))
    base = ev.select("user_id", ed.alias("d"))
    bounds = base.agg(
        ((F.min("d") + F.max("d")) - (F.min("d") + F.max("d")) % 2).alias(
            "mid2"
        )
    )
    per_user = (
        base.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("d") * 2 < F.col("mid2"), F.col("d"))
            ).alias("last_train_d"),
            F.count(
                F.when(F.col("d") * 2 >= F.col("mid2"), 1)
            ).alias("n_test"),
            F.max(F.expr("mid2 div 2")).alias("mid"),
        )
        .filter(F.col("last_train_d").isNotNull())  # active in train
    )
    scored = per_user.select(
        (F.col("mid") - F.col("last_train_d") > 14).alias("pred_churn"),
        (F.col("n_test") == 0).alias("true_churn"),
    )
    cells = scored.agg(
        F.count(F.when(F.col("pred_churn") & F.col("true_churn"), 1)).alias(
            "tp"
        ),
        F.count(
            F.when(F.col("pred_churn") & ~F.col("true_churn"), 1)
        ).alias("fp"),
        F.count(
            F.when(~F.col("pred_churn") & F.col("true_churn"), 1)
        ).alias("fn"),
        F.count(
            F.when(~F.col("pred_churn") & ~F.col("true_churn"), 1)
        ).alias("tn"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return cells.select(
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        F.col("tn").cast("long").alias("tn"),
        _r6(d("tp") / F.greatest(d("tp") + d("fp"), F.lit(1.0))).alias(
            "precision"
        ),
        _r6(d("tp") / F.greatest(d("tp") + d("fn"), F.lit(1.0))).alias(
            "recall"
        ),
        _r6(
            2 * d("tp")
            / F.greatest(2 * d("tp") + d("fp") + d("fn"), F.lit(1.0))
        ).alias("f1"),
    )


registry.register(
    "churn_baseline_eval",
    q_churn_baseline_eval,
    """
    WITH base AS (
      SELECT user_id,
             datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
      FROM events
    ),
    bounds AS (
      SELECT (MIN(d) + MAX(d)) - (MIN(d) + MAX(d)) % 2 AS mid2 FROM base
    ),
    per_user AS (
      SELECT user_id,
             MAX(CASE WHEN d * 2 < mid2 THEN d END) AS last_train_d,
             COUNT(CASE WHEN d * 2 >= mid2 THEN 1 END) AS n_test,
             MAX(mid2 // 2) AS mid
      FROM base CROSS JOIN bounds
      GROUP BY 1
      HAVING MAX(CASE WHEN d * 2 < mid2 THEN d END) IS NOT NULL
    ),
    scored AS (
      SELECT (mid - last_train_d > 14) AS pred_churn,
             (n_test = 0) AS true_churn
      FROM per_user
    ),
    cells AS (
      SELECT COUNT(CASE WHEN pred_churn AND true_churn THEN 1 END) AS tp,
             COUNT(CASE WHEN pred_churn AND NOT true_churn THEN 1 END)
               AS fp,
             COUNT(CASE WHEN NOT pred_churn AND true_churn THEN 1 END)
               AS fn,
             COUNT(CASE WHEN NOT pred_churn AND NOT true_churn THEN 1 END)
               AS tn
      FROM scored
    )
    SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
           FLOOR((CAST(tp AS DOUBLE)
                  / GREATEST(CAST(tp + fp AS DOUBLE), 1.0))
                 * 1000000.0 + 0.5) / 1000000.0 AS precision,
           FLOOR((CAST(tp AS DOUBLE)
                  / GREATEST(CAST(tp + fn AS DOUBLE), 1.0))
                 * 1000000.0 + 0.5) / 1000000.0 AS recall,
           FLOOR((2 * CAST(tp AS DOUBLE)
                  / GREATEST(CAST(2 * tp + fp + fn AS DOUBLE), 1.0))
                 * 1000000.0 + 0.5) / 1000000.0 AS f1
    FROM cells
    """,
)


# ---------------------------------------------------------------------------
# Odds ratio per market segment
# ---------------------------------------------------------------------------


def q_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Odds ratio of positive account balance for each segment vs all
    OTHER segments, with the Woolf log-CI — the case-control effect
    measure (wilson_ci gives one group's rate; the OR compares a
    group against its complement). a·d/(b·c) from four exact counts;
    the CI uses ln OR ± 1.96·√(1/a+1/b+1/c+1/d) through one shared
    expression (all cells are nonzero here; the Haldane +½ fallback
    is documented, not needed)."""
    cust = load_table(spark, sf_dir, "customer")
    per_seg = cust.groupBy("c_mktsegment").agg(
        F.count(F.when(F.col("c_acctbal") > 0, 1)).alias("a"),
        F.count(F.when(F.col("c_acctbal") <= 0, 1)).alias("b"),
    )
    wn = Window.partitionBy()
    staged = per_seg.select(
        "c_mktsegment",
        "a",
        "b",
        (F.sum("a").over(wn) - F.col("a")).alias("c"),
        (F.sum("b").over(wn) - F.col("b")).alias("d"),
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    orr = (dd("a") * dd("d")) / (dd("b") * dd("c"))
    se = F.sqrt(1 / dd("a") + 1 / dd("b") + 1 / dd("c") + 1 / dd("d"))
    return staged.select(
        "c_mktsegment",
        F.col("a").cast("long").alias("n_pos"),
        F.col("b").cast("long").alias("n_nonpos"),
        _r6(orr).alias("odds_ratio"),
        _r6(F.exp(F.log(orr) - F.lit(1.96) * se)).alias("ci_lo"),
        _r6(F.exp(F.log(orr) + F.lit(1.96) * se)).alias("ci_hi"),
    )


registry.register(
    "odds_ratio",
    q_odds_ratio,
    """
    WITH per_seg AS (
      SELECT c_mktsegment,
             COUNT(CASE WHEN c_acctbal > 0 THEN 1 END) AS a,
             COUNT(CASE WHEN c_acctbal <= 0 THEN 1 END) AS b
      FROM customer GROUP BY 1
    ),
    staged AS (
      SELECT c_mktsegment, a, b,
             SUM(a) OVER () - a AS c,
             SUM(b) OVER () - b AS d
      FROM per_seg
    )
    SELECT c_mktsegment,
           CAST(a AS BIGINT) AS n_pos,
           CAST(b AS BIGINT) AS n_nonpos,
           FLOOR(((CAST(a AS DOUBLE) * CAST(d AS DOUBLE))
                  / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0 AS odds_ratio,
           FLOOR(EXP(LN((CAST(a AS DOUBLE) * CAST(d AS DOUBLE))
                        / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)))
                     - 1.96 * SQRT(1 / CAST(a AS DOUBLE)
                                   + 1 / CAST(b AS DOUBLE)
                                   + 1 / CAST(c AS DOUBLE)
                                   + 1 / CAST(d AS DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0 AS ci_lo,
           FLOOR(EXP(LN((CAST(a AS DOUBLE) * CAST(d AS DOUBLE))
                        / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)))
                     + 1.96 * SQRT(1 / CAST(a AS DOUBLE)
                                   + 1 / CAST(b AS DOUBLE)
                                   + 1 / CAST(c AS DOUBLE)
                                   + 1 / CAST(d AS DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0 AS ci_hi
    FROM staged
    """,
)


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — k-anonymity's necessary complement: a
    class of 50 identical-looking customers still leaks if they all
    share one SENSITIVE value (homogeneity attack). Under the same
    quasi-identifier as k_anonymity (nation, segment, $100-bucketed
    balance), treating the ORDER PRIORITY MIX of a customer's orders
    as the sensitive attribute: per segment, how many equivalence
    classes have < 2 distinct sensitive values among their members,
    and how many rows sit in those homogeneous classes.

    Counts only; the distinct-sensitive count per class is one
    two-level combinable aggregate (distinct at (class, sensitive)
    grain first, never a set collect)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    bal_bucket = F.expr(
        "CAST(CAST(FLOOR(c_acctbal * 100 + 0.5) / 100 AS DECIMAL(18,2)) * 100 AS BIGINT) div 10000"
    )
    base = cust.select(
        "c_custkey",
        "c_mktsegment",
        "c_nationkey",
        bal_bucket.alias("bal100"),
    ).join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
    sens = F.coalesce(F.col("o_orderpriority"), F.lit("<none>"))
    cls_sens = base.groupBy(
        "c_mktsegment", "c_nationkey", "bal100", sens.alias("s")
    ).agg(F.countDistinct("c_custkey").alias("n_members_s"))
    classes = cls_sens.groupBy("c_mktsegment", "c_nationkey", "bal100").agg(
        F.count("*").alias("l_distinct"),
    )
    members = base.groupBy("c_mktsegment", "c_nationkey", "bal100").agg(
        F.countDistinct("c_custkey").alias("n_members")
    )
    audit = classes.join(
        members, ["c_mktsegment", "c_nationkey", "bal100"]
    )
    return (
        audit.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_classes"),
            F.sum(F.when(F.col("l_distinct") < 2, 1).otherwise(0)).alias(
                "n_homogeneous_classes"
            ),
            F.sum(
                F.when(F.col("l_distinct") < 2, F.col("n_members")).otherwise(
                    0
                )
            ).alias("n_exposed_members"),
            F.min("l_distinct").alias("min_l"),
        )
    )


registry.register(
    "l_diversity",
    q_l_diversity,
    """
    WITH base AS (
      SELECT c.c_custkey, c.c_mktsegment, c.c_nationkey,
             CAST(CAST(FLOOR(c.c_acctbal * 100 + 0.5) / 100 AS DECIMAL(18,2)) * 100 AS BIGINT)
               // 10000 AS bal100,
             COALESCE(o.o_orderpriority, '<none>') AS s
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    ),
    cls_sens AS (
      SELECT c_mktsegment, c_nationkey, bal100, s,
             COUNT(DISTINCT c_custkey) AS n_members_s
      FROM base GROUP BY 1, 2, 3, 4
    ),
    classes AS (
      SELECT c_mktsegment, c_nationkey, bal100,
             COUNT(*) AS l_distinct
      FROM cls_sens GROUP BY 1, 2, 3
    ),
    members AS (
      SELECT c_mktsegment, c_nationkey, bal100,
             COUNT(DISTINCT c_custkey) AS n_members
      FROM base GROUP BY 1, 2, 3
    )
    SELECT cl.c_mktsegment,
           COUNT(*) AS n_classes,
           SUM(CASE WHEN cl.l_distinct < 2 THEN 1 ELSE 0 END)
             AS n_homogeneous_classes,
           SUM(CASE WHEN cl.l_distinct < 2 THEN m.n_members ELSE 0 END)
             AS n_exposed_members,
           MIN(cl.l_distinct) AS min_l
    FROM classes cl
    JOIN members m ON cl.c_mktsegment = m.c_mktsegment
                  AND cl.c_nationkey = m.c_nationkey
                  AND cl.bal100 = m.bal100
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# Cohen's kappa: agreement between two deterministic annotators
# ---------------------------------------------------------------------------


def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic document "annotators"
    (label-quality audit for a labeling pipeline: raw agreement is
    inflated by chance when the class prior is skewed; kappa is the
    chance-corrected rate every annotation vendor reports). Annotator
    A terciles by n_chars, annotator B by whitespace token count —
    correlated-but-distinct heuristics, so kappa lands strictly
    between 0 and 1.

    Exactness: with N items, A-marginals r_i, B-marginals c_i and
    diagonal agreement D, kappa = (N·D − Σ r_i·c_i)/(N² − Σ r_i·c_i)
    — every input an exact integer, one portable floor-division at
    the end (the numerator can be negative, so `div`/`//` disagree;
    the canonical-remainder idiom is exact on both engines). Shapes:
    one scan → 9-cell contingency; marginal products come from the
    cells, never a second scan."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", F.size(F.split("text", " ")).alias("n_toks")
    )
    lbl_a = (
        F.when(F.col("n_chars") < 400, 0)
        .when(F.col("n_chars") < 900, 1)
        .otherwise(2)
    )
    lbl_b = (
        F.when(F.col("n_toks") < 80, 0)
        .when(F.col("n_toks") < 180, 1)
        .otherwise(2)
    )
    cells = docs.select(lbl_a.alias("la"), lbl_b.alias("lb")).groupBy(
        "la", "lb"
    ).agg(F.count("*").alias("n"))
    marg_a = cells.groupBy(F.col("la").alias("lbl")).agg(
        F.sum("n").alias("r")
    )
    marg_b = cells.groupBy(F.col("lb").alias("lbl")).agg(
        F.sum("n").alias("c")
    )
    chance = marg_a.join(marg_b, "lbl", "full_outer").agg(
        F.sum(
            F.coalesce(F.col("r"), F.lit(0))
            * F.coalesce(F.col("c"), F.lit(0))
        ).alias("sum_rc")
    )
    totals = cells.agg(
        F.sum("n").alias("n_items"),
        F.sum(F.when(F.col("la") == F.col("lb"), F.col("n")).otherwise(0)).alias(
            "n_agree"
        ),
    )
    out = totals.crossJoin(F.broadcast(chance))
    num = (F.col("n_items") * F.col("n_agree") - F.col("sum_rc")) * F.lit(
        1000000
    )
    den = F.col("n_items") * F.col("n_items") - F.col("sum_rc")
    rem = ((num % den) + den) % den
    kappa_micro = ((num - rem) / den).cast("long")
    return out.select(
        "n_items",
        "n_agree",
        F.expr("(n_agree * 1000000) DIV n_items").alias("po_micro"),
        kappa_micro.alias("kappa_micro"),
        _r6(kappa_micro.cast("double") / 1000000.0).alias("kappa"),
    )


registry.register(
    "cohens_kappa",
    q_cohens_kappa,
    """
    WITH lab AS (
      SELECT CASE WHEN n_chars < 400 THEN 0
                  WHEN n_chars < 900 THEN 1 ELSE 2 END AS la,
             CASE WHEN len(string_split(text, ' ')) < 80 THEN 0
                  WHEN len(string_split(text, ' ')) < 180 THEN 1
                  ELSE 2 END AS lb
      FROM documents
    ),
    cells AS (SELECT la, lb, COUNT(*) AS n FROM lab GROUP BY 1, 2),
    ma AS (SELECT la AS lbl, SUM(n) AS r FROM cells GROUP BY 1),
    mb AS (SELECT lb AS lbl, SUM(n) AS c FROM cells GROUP BY 1),
    chance AS (
      SELECT SUM(COALESCE(r, 0) * COALESCE(c, 0)) AS sum_rc
      FROM ma FULL OUTER JOIN mb USING (lbl)
    ),
    totals AS (
      SELECT SUM(n) AS n_items,
             SUM(CASE WHEN la = lb THEN n ELSE 0 END) AS n_agree
      FROM cells
    ),
    k AS (
      SELECT n_items, n_agree, sum_rc,
             (n_items * n_agree - sum_rc) * 1000000 AS num,
             n_items * n_items - sum_rc AS den
      FROM totals, chance
    )
    SELECT CAST(n_items AS BIGINT) AS n_items,
           CAST(n_agree AS BIGINT) AS n_agree,
           (n_agree * 1000000) // n_items AS po_micro,
           CAST((num - (((num % den) + den) % den)) / den AS BIGINT)
             AS kappa_micro,
           FLOOR(CAST((num - (((num % den) + den) % den)) / den AS DOUBLE)
                 / 1000000.0 * 1000000.0 + 0.5) / 1000000.0 AS kappa
    FROM k
    """,
)


# ---------------------------------------------------------------------------
# Split-conformal prediction intervals with test coverage
# ---------------------------------------------------------------------------


def q_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals per order priority: fit a
    trivial per-group model (calibration-split mean price) on a
    deterministic 40% calibration split, take q̂ = the
    ⌈0.9·(n_cal+1)⌉-th smallest absolute residual (the finite-sample-
    valid conformal quantile), then report EMPIRICAL coverage of
    pred ± q̂ on the held-out 60% — the distribution-free guarantee
    (≥ 90%) a model-serving pipeline audits before shipping intervals.

    Exactness: the split is o_orderkey % 5 (no RNG), prices are exact
    cents, the group mean is one integer floor-division, residuals
    are integers, q̂ is an exact integer order statistic
    (row_number over residual, orderkey tiebreak), and coverage is
    integer-counted then micro-quantized. Shapes: one groupBy for the
    model, one window for the order statistic (partitioned by the
    5-key group column — never a global sort), one broadcast join of
    the 5-row (mean, q̂) model onto the test scan."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.expr(
            "CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) / 100 AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("cents"),
    )
    calib = orders.filter(F.col("o_orderkey") % 5 < 2)
    test = orders.filter(F.col("o_orderkey") % 5 >= 2)
    model = calib.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_calib"),
        F.expr("SUM(cents) DIV COUNT(*)").alias("pred_cents"),
    )
    resid = calib.join(F.broadcast(model), "o_orderpriority").select(
        "o_orderkey",
        "o_orderpriority",
        "n_calib",
        F.abs(F.col("cents") - F.col("pred_cents")).alias("r"),
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("r").asc(), F.col("o_orderkey").asc()
    )
    # k = ceil(0.9 * (n+1)) = (9*(n+1) + 9) div 10 ... exact integer:
    k = F.expr("-((-9 * (n_calib + 1)) DIV 10)")
    qhat = (
        resid.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == F.least(k, F.col("n_calib")))
        .select("o_orderpriority", F.col("r").alias("qhat_cents"))
    )
    fitted = model.join(qhat, "o_orderpriority")
    covered = (
        test.join(F.broadcast(fitted), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.max("n_calib").alias("n_calib"),
            F.max("pred_cents").alias("pred_cents"),
            F.max("qhat_cents").alias("qhat_cents"),
            F.count("*").alias("n_test"),
            F.sum(
                (
                    F.abs(F.col("cents") - F.col("pred_cents"))
                    <= F.col("qhat_cents")
                ).cast("long")
            ).alias("n_covered"),
        )
    )
    return covered.select(
        "o_orderpriority",
        "n_calib",
        "n_test",
        "pred_cents",
        "qhat_cents",
        "n_covered",
        F.expr("(n_covered * 1000000) DIV n_test").alias("coverage_micro"),
    )


registry.register(
    "conformal_interval",
    q_conformal_interval,
    """
    WITH o AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) / 100 AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ),
    calib AS (SELECT * FROM o WHERE o_orderkey % 5 < 2),
    tst AS (SELECT * FROM o WHERE o_orderkey % 5 >= 2),
    model AS (
      SELECT o_orderpriority, COUNT(*) AS n_calib,
             SUM(cents) // COUNT(*) AS pred_cents
      FROM calib GROUP BY 1
    ),
    resid AS (
      SELECT c.o_orderkey, c.o_orderpriority, m.n_calib,
             ABS(c.cents - m.pred_cents) AS r,
             ROW_NUMBER() OVER (PARTITION BY c.o_orderpriority
                                ORDER BY ABS(c.cents - m.pred_cents) ASC,
                                         c.o_orderkey ASC) AS rn
      FROM calib c JOIN model m USING (o_orderpriority)
    ),
    qh AS (
      SELECT o_orderpriority, r AS qhat_cents
      FROM resid
      WHERE rn = LEAST(-((-9 * (n_calib + 1)) // 10), n_calib)
    )
    SELECT t.o_orderpriority,
           MAX(m.n_calib) AS n_calib,
           COUNT(*) AS n_test,
           MAX(m.pred_cents) AS pred_cents,
           MAX(q.qhat_cents) AS qhat_cents,
           SUM(CASE WHEN ABS(t.cents - m.pred_cents) <= q.qhat_cents
                    THEN 1 ELSE 0 END) AS n_covered,
           (SUM(CASE WHEN ABS(t.cents - m.pred_cents) <= q.qhat_cents
                     THEN 1 ELSE 0 END) * 1000000) // COUNT(*)
             AS coverage_micro
    FROM tst t
    JOIN model m USING (o_orderpriority)
    JOIN qh q USING (o_orderpriority)
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# Qini / uplift curve over a deterministic A/B assignment
# ---------------------------------------------------------------------------


def q_uplift_qini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini curve for uplift evaluation: users split into treatment /
    control by key parity (the deterministic stand-in for an A/B
    assignment), outcome = converted (any purchase), targeting score
    = activity volume. Ranking users by score, the curve reports per
    cumulative decile the incremental conversions over the control
    baseline scaled to the treated population — the standard "who
    should we target first?" audit, and the causal sibling of
    `decile_lift` (which ignores the control arm).

    Exactness: counts are integers; qini(k) = (R_t·N_c − R_c·N_t)
    ·1e3 / N_c uses one portable canonical-remainder floor division
    (the numerator goes negative when targeting is anti-correlated).
    Shapes: one user-grain rollup of events, a 10-row decile agg,
    cumulative windows over those 10 rows."""
    ev = load_table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.count("*").alias("score"),
        F.max(
            (F.col("event_type") == "purchase").cast("int")
        ).alias("converted"),
    )
    n_tot = users.count()
    ranked = users.select(
        "user_id",
        "score",
        "converted",
        (F.col("user_id") % 2 == 0).cast("int").alias("treated"),
        F.expr(
            f"(((ROW_NUMBER() OVER (ORDER BY score DESC, user_id ASC))"
            f" - 1) * 10) DIV {n_tot}"
        ).cast("int").alias("decile"),
    )
    per_dec = ranked.groupBy("decile").agg(
        F.sum("treated").alias("nt"),
        F.sum(F.lit(1) - F.col("treated")).alias("nc"),
        F.sum(F.col("treated") * F.col("converted")).alias("rt"),
        F.sum((F.lit(1) - F.col("treated")) * F.col("converted")).alias(
            "rc"
        ),
    )
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = per_dec.select(
        "decile",
        F.sum("nt").over(wc).alias("n_treated_cum"),
        F.sum("nc").over(wc).alias("n_control_cum"),
        F.sum("rt").over(wc).alias("resp_treated_cum"),
        F.sum("rc").over(wc).alias("resp_control_cum"),
    )
    num = (
        F.col("resp_treated_cum") * F.col("n_control_cum")
        - F.col("resp_control_cum") * F.col("n_treated_cum")
    ) * F.lit(1000)
    den = F.col("n_control_cum")
    rem = ((num % den) + den) % den
    return cum.withColumn(
        "qini_milli", ((num - rem) / den).cast("long")
    )


registry.register(
    "uplift_qini",
    q_uplift_qini,
    """
    WITH users AS (
      SELECT user_id, COUNT(*) AS score,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM events GROUP BY 1
    ),
    ranked AS (
      SELECT user_id, score, converted,
             CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS treated,
             CAST(((ROW_NUMBER() OVER (ORDER BY score DESC, user_id ASC)
                    - 1) * 10) // (SELECT COUNT(*) FROM users) AS INT)
               AS decile
      FROM users
    ),
    per_dec AS (
      SELECT decile,
             SUM(treated) AS nt, SUM(1 - treated) AS nc,
             SUM(treated * converted) AS rt,
             SUM((1 - treated) * converted) AS rc
      FROM ranked GROUP BY 1
    ),
    cum AS (
      SELECT decile,
             SUM(nt) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED
                           PRECEDING AND CURRENT ROW) AS n_treated_cum,
             SUM(nc) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED
                           PRECEDING AND CURRENT ROW) AS n_control_cum,
             SUM(rt) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED
                           PRECEDING AND CURRENT ROW)
               AS resp_treated_cum,
             SUM(rc) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED
                           PRECEDING AND CURRENT ROW)
               AS resp_control_cum
      FROM per_dec
    )
    SELECT decile,
           CAST(n_treated_cum AS BIGINT) AS n_treated_cum,
           CAST(n_control_cum AS BIGINT) AS n_control_cum,
           CAST(resp_treated_cum AS BIGINT) AS resp_treated_cum,
           CAST(resp_control_cum AS BIGINT) AS resp_control_cum,
           CAST(((resp_treated_cum * n_control_cum
                  - resp_control_cum * n_treated_cum) * 1000
                 - ((((resp_treated_cum * n_control_cum
                       - resp_control_cum * n_treated_cum) * 1000)
                     % n_control_cum + n_control_cum) % n_control_cum))
                / n_control_cum AS BIGINT) AS qini_milli
    FROM cum
    """,
)


# ---------------------------------------------------------------------------
# pass@k estimator (Codex-style unbiased combinatorial form)
# ---------------------------------------------------------------------------

_PASS_KS = (1, 3, 5)


def q_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unbiased pass@k estimator (Chen et al.'s eval for sampled
    generations): per problem with n attempts and c successes,
    pass@k = 1 − C(n−c,k)/C(n,k), averaged over problems — here
    replayed over the event log (problem = user, attempt = event,
    success = purchase), the exact aggregation shape of a sampled
    code/QA eval harness at corpus scale.

    Exactness: the binomial ratio is evaluated as k chained integer
    steps p ← (p·(n−c−i)) div (n−i) from p = 1e6 — identical
    truncation order on both engines, never a factorial overflow and
    never a float product; problems with n < k use every attempt
    (p = 0 when n−c < k, i.e. a success is guaranteed inside any k).
    Means divide exact integer sums once. Shapes: one user-grain
    rollup, then a 3-row output."""
    ev = load_table(spark, sf_dir, "events")
    probs = ev.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(
            (F.col("event_type") == "purchase").cast("long")
        ).alias("c"),
    )
    out_rows = []
    for k in _PASS_KS:
        expr = "CAST(1000000 AS BIGINT)"
        for i in range(k):
            expr = (
                f"(CASE WHEN n - c - {i} > 0 AND n - {i} > 0 THEN"
                f" (({expr}) * (n - c - {i})) DIV (n - {i})"
                f" ELSE 0 END)"
            )
        fail_micro = F.expr(expr)
        out_rows.append(
            probs.select(
                fail_micro.alias("fail_micro")
            ).agg(
                F.lit(k).alias("k"),
                F.count("*").alias("n_problems"),
                F.expr(
                    "SUM(1000000 - fail_micro) DIV COUNT(*)"
                ).alias("mean_pass_micro"),
            )
        )
    out = out_rows[0]
    for df in out_rows[1:]:
        out = out.unionAll(df)
    return out


def _pass_at_k_sql() -> str:
    branches = []
    for k in _PASS_KS:
        expr = "CAST(1000000 AS BIGINT)"
        for i in range(k):
            expr = (
                f"(CASE WHEN n - c - {i} > 0 AND n - {i} > 0 THEN"
                f" (({expr}) * (n - c - {i})) // (n - {i})"
                f" ELSE 0 END)"
            )
        branches.append(f"""
    SELECT {k} AS k, COUNT(*) AS n_problems,
           SUM(1000000 - {expr}) // COUNT(*) AS mean_pass_micro
    FROM probs""")
    body = "\n    UNION ALL".join(branches)
    return f"""
    WITH probs AS (
      SELECT user_id, COUNT(*) AS n,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS c
      FROM events GROUP BY 1
    )
    {body}
    """


registry.register("pass_at_k", q_pass_at_k, _pass_at_k_sql())


# ---------------------------------------------------------------------------
# SPRT sequential-test replay
# ---------------------------------------------------------------------------

# ln(1.2), ln(0.8), ln(19) floor-quantized to nano in Python ONCE —
# the periodogram trig-table discipline: libm never runs inside the
# hashed plan on either engine.
_SPRT_C1_NANO = 182321556
_SPRT_C0_NANO = -223143552
_SPRT_THRESH_NANO = 2944438979
_SPRT_BLOCK = 1024


def q_sprt_abtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald SPRT replay over the user enrollment stream: test
    H0: conversion = 0.5 vs H1: conversion = 0.6 (α = β = 0.05),
    accumulating the log-likelihood ratio user by user in enrollment
    (user_id) order and reporting the FIRST crossing of ±ln(19) —
    the always-valid sequential alternative to `welch_ttest`-style
    fixed-horizon tests (peeking at a fixed-n test inflates false
    positives; the SPRT is designed to be peeked at).

    Exactness: the two per-outcome LLR increments and the threshold
    are Python-quantized nano-nat constants (no libm in the plan);
    the running sum is integer. Scale: the cumulative scan uses the
    two-level block prefix (per-block sums → tiny block-table prefix
    → in-block window), the late_arrival_audit pattern — never one
    global single-partition window over users."""
    ev = load_table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.max(
            (F.col("event_type") == "purchase").cast("int")
        ).alias("x")
    )
    inc = F.when(
        F.col("x") == 1, F.lit(_SPRT_C1_NANO)
    ).otherwise(F.lit(_SPRT_C0_NANO))
    staged = users.select(
        "user_id",
        "x",
        inc.alias("inc"),
        F.expr(f"user_id DIV {_SPRT_BLOCK}").alias("blk"),
    )
    blocks = staged.groupBy("blk").agg(F.sum("inc").alias("blk_sum"))
    wb = Window.orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)
    prior = blocks.select(
        "blk", F.coalesce(F.sum("blk_sum").over(wb), F.lit(0)).alias("prior")
    )
    wi = Window.partitionBy("blk").orderBy("user_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = (
        staged.join(F.broadcast(prior), "blk")
        .withColumn("llr", F.col("prior") + F.sum("inc").over(wi))
    )
    crossed = cum.filter(
        (F.col("llr") >= _SPRT_THRESH_NANO)
        | (F.col("llr") <= -_SPRT_THRESH_NANO)
    ).agg(F.min("user_id").alias("first_cross_user"))
    final = cum.agg(
        F.count("*").alias("n_users"),
        F.sum("x").alias("n_conversions"),
        F.sum("inc").alias("llr_final_nano"),
    )
    out = final.crossJoin(F.broadcast(crossed))
    decision = (
        F.when(F.col("first_cross_user").isNull(), F.lit("continue"))
        .when(F.col("llr_final_nano") > 0, F.lit("accept_h1"))
        .otherwise(F.lit("accept_h0"))
    )
    cross_llr = cum.select("user_id", "llr")
    at_cross = out.join(
        cross_llr,
        out["first_cross_user"] == cross_llr["user_id"],
        "left",
    )
    return at_cross.select(
        "n_users",
        "n_conversions",
        "llr_final_nano",
        F.coalesce("first_cross_user", F.lit(-1)).alias(
            "first_cross_user"
        ),
        F.when(F.col("first_cross_user").isNull(), F.lit("continue"))
        .when(F.col("llr") > 0, F.lit("accept_h1"))
        .otherwise(F.lit("accept_h0"))
        .alias("decision"),
    )


registry.register(
    "sprt_abtest",
    q_sprt_abtest,
    f"""
    WITH users AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS x
      FROM events GROUP BY 1
    ),
    staged AS (
      SELECT user_id, x,
             CASE WHEN x = 1 THEN {_SPRT_C1_NANO}
                  ELSE {_SPRT_C0_NANO} END AS inc,
             user_id // {_SPRT_BLOCK} AS blk
      FROM users
    ),
    blocks AS (SELECT blk, SUM(inc) AS blk_sum FROM staged GROUP BY 1),
    prior AS (
      SELECT blk,
             COALESCE(SUM(blk_sum) OVER (ORDER BY blk ROWS BETWEEN
                      UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
      FROM blocks
    ),
    cum AS (
      SELECT s.user_id, s.x,
             p.prior + SUM(s.inc) OVER (PARTITION BY s.blk
                       ORDER BY s.user_id ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW) AS llr
      FROM staged s JOIN prior p ON s.blk = p.blk
    ),
    crossed AS (
      SELECT MIN(user_id) AS first_cross_user FROM cum
      WHERE llr >= {_SPRT_THRESH_NANO} OR llr <= -{_SPRT_THRESH_NANO}
    ),
    final AS (
      SELECT COUNT(*) AS n_users, SUM(x) AS n_conversions,
             SUM(CASE WHEN x = 1 THEN {_SPRT_C1_NANO}
                      ELSE {_SPRT_C0_NANO} END) AS llr_final_nano
      FROM staged
    )
    SELECT f.n_users,
           CAST(f.n_conversions AS BIGINT) AS n_conversions,
           CAST(f.llr_final_nano AS BIGINT) AS llr_final_nano,
           COALESCE(c.first_cross_user, -1) AS first_cross_user,
           CASE WHEN c.first_cross_user IS NULL THEN 'continue'
                WHEN (SELECT llr FROM cum
                      WHERE user_id = c.first_cross_user) > 0
                  THEN 'accept_h1'
                ELSE 'accept_h0' END AS decision
    FROM final f CROSS JOIN crossed c
    """,
)


# ---------------------------------------------------------------------------
# Decision stump: exact best Gini split on one feature
# ---------------------------------------------------------------------------


def q_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a depth-1 decision tree: the single best account-balance
    threshold separating customers WITH at least one urgent order
    from those without, by minimum weighted Gini impurity — the split
    search inside every tree/GBM trainer, run as a pure aggregation:
    bucket the feature ($1000 bins), one cumulative scan gives every
    candidate split's left/right class counts, and the argmin is a
    window head. No sampling, no iteration — at any scale this is
    one groupBy plus windows over the bucket table.

    Exactness: class counts are integers; each side's purity term
    (pos² + neg²)·1e6 div n_side is integer-quantized before the
    comparison, and the argmax tiebreak is the threshold itself —
    so the chosen split is bit-stable on both engines."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.expr(
            "CAST(CAST(FLOOR(c_acctbal * 100 + 0.5) / 100 AS DECIMAL(18,2)) * 100 AS BIGINT)"
            " DIV 100000"
        ).alias("bucket"),
    )
    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
    )
    labeled = cust.join(
        urgent, cust["c_custkey"] == urgent["o_custkey"], "left"
    ).select(
        "bucket",
        F.col("o_custkey").isNotNull().cast("long").alias("pos"),
    )
    per_bucket = labeled.groupBy("bucket").agg(
        F.sum("pos").alias("np"), F.sum(F.lit(1) - F.col("pos")).alias("nn")
    )
    wc = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    # totals ride the same window spec (unbounded frame) so the
    # customer/orders subtree is scanned ONCE — no second aggregate
    # branch re-reading the fact tables
    wt = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per_bucket.select(
        "bucket",
        F.sum("np").over(wc).alias("lp"),
        F.sum("nn").over(wc).alias("ln"),
        F.sum("np").over(wt).alias("tp"),
        F.sum("nn").over(wt).alias("tn"),
    )
    cand = (
        cum
        .withColumn("rp", F.col("tp") - F.col("lp"))
        .withColumn("rn", F.col("tn") - F.col("ln"))
        .filter((F.col("lp") + F.col("ln") > 0) & (F.col("rp") + F.col("rn") > 0))
        .withColumn(
            "score_micro",
            F.expr(
                "(lp * lp + ln * ln) * 1000000 DIV (lp + ln)"
                " + (rp * rp + rn * rn) * 1000000 DIV (rp + rn)"
            ),
        )
    )
    wbest = Window.orderBy(
        F.col("score_micro").desc(), F.col("bucket").asc()
    )
    return (
        cand.withColumn("rk", F.row_number().over(wbest))
        .filter(F.col("rk") == 1)
        .select(
            (F.col("bucket") * 100000).alias("threshold_cents"),
            (F.col("lp") + F.col("ln")).alias("n_left"),
            (F.col("rp") + F.col("rn")).alias("n_right"),
            F.col("lp").alias("pos_left"),
            F.col("rp").alias("pos_right"),
            F.expr(
                "1000000 - score_micro DIV (lp + ln + rp + rn)"
            ).alias("gini_micro"),
        )
    )


registry.register(
    "decision_stump",
    q_decision_stump,
    """
    WITH labeled AS (
      SELECT CAST(CAST(FLOOR(c.c_acctbal * 100 + 0.5) / 100 AS DECIMAL(18,2)) * 100 AS BIGINT)
               // 100000 AS bucket,
             CASE WHEN EXISTS (
               SELECT 1 FROM orders o
               WHERE o.o_custkey = c.c_custkey
                 AND o.o_orderpriority = '1-URGENT'
             ) THEN 1 ELSE 0 END AS pos
      FROM customer c
    ),
    per_bucket AS (
      SELECT bucket, SUM(pos) AS np, SUM(1 - pos) AS nn
      FROM labeled GROUP BY 1
    ),
    cum AS (
      SELECT bucket,
             SUM(np) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED
                           PRECEDING AND CURRENT ROW) AS lp,
             SUM(nn) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED
                           PRECEDING AND CURRENT ROW) AS ln
      FROM per_bucket
    ),
    tot AS (SELECT SUM(np) AS tp, SUM(nn) AS tn FROM per_bucket),
    cand AS (
      SELECT c.bucket, c.lp, c.ln,
             t.tp - c.lp AS rp, t.tn - c.ln AS rn,
             (c.lp * c.lp + c.ln * c.ln) * 1000000 // (c.lp + c.ln)
               + ((t.tp - c.lp) * (t.tp - c.lp)
                  + (t.tn - c.ln) * (t.tn - c.ln)) * 1000000
                 // ((t.tp - c.lp) + (t.tn - c.ln)) AS score_micro
      FROM cum c CROSS JOIN tot t
      WHERE c.lp + c.ln > 0 AND (t.tp - c.lp) + (t.tn - c.ln) > 0
    )
    SELECT bucket * 100000 AS threshold_cents,
           CAST(lp + ln AS BIGINT) AS n_left,
           CAST(rp + rn AS BIGINT) AS n_right,
           CAST(lp AS BIGINT) AS pos_left,
           CAST(rp AS BIGINT) AS pos_right,
           CAST(1000000 - score_micro // (lp + ln + rp + rn)
             AS BIGINT) AS gini_micro
    FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY score_micro DESC,
                                   bucket ASC) AS rk
      FROM cand
    ) WHERE rk = 1
    """,
)


# ---------------------------------------------------------------------------
# Brier score decomposition (reliability / resolution / uncertainty)
# ---------------------------------------------------------------------------


def q_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy's decomposition of the Brier score — Brier = REL − RES
    + UNC — for a probability forecaster built the honest way: train
    on odd orderkeys (urgent-rate per totalprice decile), score even
    orderkeys. REL (reliability, want 0) penalizes calibration gaps
    between forecast p_k and realized rate o_k; RES (resolution, want
    big) rewards bins whose rates differ from the base rate; UNC is
    the outcome variance floor. The standard deeper read on
    `auc_roc`/`decile_lift`'s single numbers.

    Exactness: decile bins come from nine broadcast boundaries scored
    in-row (`1 + Σ(pc > q_i)` — the rfm_segments idiom; a global
    NTILE would serialize the fact through one window task). r7 (r6
    ADVICE): the boundaries are RANK-RULE k-th-smallest integer cents
    located by the two-pass histogram (operators/rank_select.py), not
    interpolated percentile()/QUANTILE_CONT — the (1-f)·a+f·b float
    interpolation can differ by 1 ulp between engines and flip the
    bin membership of a boundary row, exactly the latent driver-hash
    risk the house no-interpolation rule exists to prevent. Every
    rate is a correctly-rounded division of exact counts; each bin's
    REL/RES term is quantized to integer PICO-units BEFORE the 10-row
    sum (quantize-before-sum), so partition order cannot move the
    output. Shapes: one fact scan, a 10-row bin table, 1-row
    output."""
    from airflow_baseball_spark.operators.rank_select import rank_pick

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("pc"),
        (F.col("o_orderpriority") == "1-URGENT").cast("long").alias("y"),
        (F.col("o_orderkey") % 2 == 1).cast("int").alias("is_train"),
    )
    picked = rank_pick(
        o.select(F.col("pc").alias("v")),
        "v",
        [
            (f"q{i}", lambda n, i=i: F.expr(f"({i} * n + 9) div 10"))
            for i in range(1, 10)
        ],
    )
    qs = picked.groupBy().pivot(
        "rank_label", [f"q{i}" for i in range(1, 10)]
    ).agg(F.min("v"))
    kcol = F.lit(1)
    for i in range(1, 10):
        kcol = kcol + (F.col("pc") > F.col(f"q{i}")).cast("int")
    binned = o.crossJoin(F.broadcast(qs)).withColumn("k", kcol)
    cells = binned.groupBy("k").agg(
        F.sum(F.when(F.col("is_train") == 1, 1).otherwise(0)).alias("n_tr"),
        F.sum(F.when(F.col("is_train") == 1, F.col("y")).otherwise(0)).alias(
            "s_tr"
        ),
        F.sum(F.when(F.col("is_train") == 0, 1).otherwise(0)).alias("n_te"),
        F.sum(F.when(F.col("is_train") == 0, F.col("y")).otherwise(0)).alias(
            "s_te"
        ),
    )
    tot = cells.agg(
        F.sum("n_te").alias("n"), F.sum("s_te").alias("s")
    )
    p_k = F.col("s_tr").cast("double") / F.col("n_tr").cast("double")
    o_k = F.col("s_te").cast("double") / F.col("n_te").cast("double")
    obar = F.col("s").cast("double") / F.col("n").cast("double")
    nk = F.col("n_te").cast("double")
    terms = cells.crossJoin(F.broadcast(tot)).select(
        F.floor(nk * (p_k - o_k) * (p_k - o_k) * 1e12).alias("rel_pico"),
        F.floor(nk * (o_k - obar) * (o_k - obar) * 1e12).alias("res_pico"),
        "n",
        "s",
    )
    agg = terms.groupBy("n", "s").agg(
        F.sum("rel_pico").alias("rel_sum"),
        F.sum("res_pico").alias("res_sum"),
    )
    nn = F.col("n").cast("double")
    return agg.select(
        F.col("n").cast("long").alias("n_test"),
        F.col("s").cast("long").alias("n_pos_test"),
        _r6(F.col("rel_sum").cast("double") / 1e12 / nn).alias(
            "reliability"
        ),
        _r6(F.col("res_sum").cast("double") / 1e12 / nn).alias(
            "resolution"
        ),
        _r6(obar * (F.lit(1.0) - obar)).alias("uncertainty"),
    )


registry.register(
    "brier_decomposition",
    q_brier_decomposition,
    """
    WITH o AS (
      SELECT o_orderkey,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS pc,
             CAST(o_orderpriority = '1-URGENT' AS BIGINT) AS y,
             CAST(o_orderkey % 2 = 1 AS INT) AS is_train
      FROM orders
    ),
    ranked AS (
      SELECT pc, ROW_NUMBER() OVER (ORDER BY pc) AS rn,
             COUNT(*) OVER () AS n FROM o
    ),
    qs AS (
      SELECT MIN(CASE WHEN rn = (1 * n + 9) // 10 THEN pc END) AS q1,
             MIN(CASE WHEN rn = (2 * n + 9) // 10 THEN pc END) AS q2,
             MIN(CASE WHEN rn = (3 * n + 9) // 10 THEN pc END) AS q3,
             MIN(CASE WHEN rn = (4 * n + 9) // 10 THEN pc END) AS q4,
             MIN(CASE WHEN rn = (5 * n + 9) // 10 THEN pc END) AS q5,
             MIN(CASE WHEN rn = (6 * n + 9) // 10 THEN pc END) AS q6,
             MIN(CASE WHEN rn = (7 * n + 9) // 10 THEN pc END) AS q7,
             MIN(CASE WHEN rn = (8 * n + 9) // 10 THEN pc END) AS q8,
             MIN(CASE WHEN rn = (9 * n + 9) // 10 THEN pc END) AS q9
      FROM ranked
    ),
    binned AS (
      SELECT o.*,
             1 + CAST(pc > q1 AS INT) + CAST(pc > q2 AS INT)
               + CAST(pc > q3 AS INT) + CAST(pc > q4 AS INT)
               + CAST(pc > q5 AS INT) + CAST(pc > q6 AS INT)
               + CAST(pc > q7 AS INT) + CAST(pc > q8 AS INT)
               + CAST(pc > q9 AS INT) AS k
      FROM o CROSS JOIN qs
    ),
    cells AS (
      SELECT k,
             SUM(CASE WHEN is_train = 1 THEN 1 ELSE 0 END) AS n_tr,
             SUM(CASE WHEN is_train = 1 THEN y ELSE 0 END) AS s_tr,
             SUM(CASE WHEN is_train = 0 THEN 1 ELSE 0 END) AS n_te,
             SUM(CASE WHEN is_train = 0 THEN y ELSE 0 END) AS s_te
      FROM binned GROUP BY 1
    ),
    tot AS (SELECT SUM(n_te) AS n, SUM(s_te) AS s FROM cells),
    terms AS (
      SELECT
        FLOOR(CAST(n_te AS DOUBLE)
              * (CAST(s_tr AS DOUBLE) / CAST(n_tr AS DOUBLE)
                 - CAST(s_te AS DOUBLE) / CAST(n_te AS DOUBLE))
              * (CAST(s_tr AS DOUBLE) / CAST(n_tr AS DOUBLE)
                 - CAST(s_te AS DOUBLE) / CAST(n_te AS DOUBLE))
              * 1e12) AS rel_pico,
        FLOOR(CAST(n_te AS DOUBLE)
              * (CAST(s_te AS DOUBLE) / CAST(n_te AS DOUBLE)
                 - CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE))
              * (CAST(s_te AS DOUBLE) / CAST(n_te AS DOUBLE)
                 - CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE))
              * 1e12) AS res_pico,
        t.n, t.s
      FROM cells CROSS JOIN tot t
    ),
    agg AS (
      SELECT n, s, SUM(rel_pico) AS rel_sum, SUM(res_pico) AS res_sum
      FROM terms GROUP BY 1, 2
    )
    SELECT CAST(n AS BIGINT) AS n_test, CAST(s AS BIGINT) AS n_pos_test,
           FLOOR(CAST(rel_sum AS DOUBLE) / 1e12 / CAST(n AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS reliability,
           FLOOR(CAST(res_sum AS DOUBLE) / 1e12 / CAST(n AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS resolution,
           FLOOR((CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                 * (1.0 - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS uncertainty
    FROM agg
    """,
)


# ---------------------------------------------------------------------------
# McNemar paired-classifier comparison
# ---------------------------------------------------------------------------


def q_mcnemar_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar test comparing two deterministic rule classifiers on
    the SAME instances (truth: event is a purchase; rule A: value ≥
    $35; rule B: evening-hour event) — the paired-model comparison an
    eval pipeline runs before swapping model versions: accuracy
    deltas on shared data are dominated by the b/c discordant cells,
    and the unpaired `welch_ttest` on two accuracy columns ignores
    the pairing entirely (that is the classic wrong test here).

    χ² = (b−c)²/(b+c) with the continuity-corrected variant
    (|b−c|−1)²/(b+c) alongside; b = A-right-B-wrong, c = the reverse.

    Exactness: all four contingency cells are exact counts from pure
    boolean column expressions; both statistics are one integer-
    derived division each, `_r6`-bounded. Scale: a single combinable
    aggregation over the fact table — no shuffle wider than one row.
    """
    ev = load_table(spark, sf_dir, "events")
    truth = F.col("event_type") == F.lit("purchase")
    cents = (dec_portable("value", 18, 2) * 100).cast("long")
    pred_a = cents >= F.lit(3500)
    pred_b = F.hour("ts") >= F.lit(12)
    a_ok = (pred_a == truth).cast("long")
    b_ok = (pred_b == truth).cast("long")
    agg = ev.agg(
        F.count("*").alias("n"),
        F.sum(a_ok * b_ok).alias("both_right"),
        F.sum((1 - a_ok) * (1 - b_ok)).alias("both_wrong"),
        F.sum(a_ok * (1 - b_ok)).alias("b_cell"),
        F.sum((1 - a_ok) * b_ok).alias("c_cell"),
    )
    diff = (F.col("b_cell") - F.col("c_cell")).cast("double")
    tot = (F.col("b_cell") + F.col("c_cell")).cast("double")
    cc = F.abs(F.col("b_cell") - F.col("c_cell")).cast("double") - F.lit(
        1.0
    )
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("both_right").cast("long").alias("both_right"),
        F.col("both_wrong").cast("long").alias("both_wrong"),
        F.col("b_cell").cast("long").alias("b_cell"),
        F.col("c_cell").cast("long").alias("c_cell"),
        _r6(diff * diff / tot).alias("mcnemar_chi2"),
        _r6(cc * cc / tot).alias("mcnemar_chi2_cc"),
    )


registry.register(
    "mcnemar_paired",
    q_mcnemar_paired,
    """
    WITH cells AS (
      SELECT COUNT(*) AS n,
             SUM(a_ok * b_ok) AS both_right,
             SUM((1 - a_ok) * (1 - b_ok)) AS both_wrong,
             SUM(a_ok * (1 - b_ok)) AS b_cell,
             SUM((1 - a_ok) * b_ok) AS c_cell
      FROM (
        SELECT
          CASE WHEN (CAST(CAST(FLOOR(value * 100 + 0.5) / 100 AS DECIMAL(18,2)) * 100 AS BIGINT)
                     >= 3500) = (event_type = 'purchase')
               THEN 1 ELSE 0 END AS a_ok,
          CASE WHEN (HOUR(ts) >= 12) = (event_type = 'purchase')
               THEN 1 ELSE 0 END AS b_ok
        FROM events
      )
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(both_right AS BIGINT) AS both_right,
           CAST(both_wrong AS BIGINT) AS both_wrong,
           CAST(b_cell AS BIGINT) AS b_cell,
           CAST(c_cell AS BIGINT) AS c_cell,
           FLOOR(CAST(b_cell - c_cell AS DOUBLE)
                 * CAST(b_cell - c_cell AS DOUBLE)
                 / CAST(b_cell + c_cell AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS mcnemar_chi2,
           FLOOR((CAST(ABS(b_cell - c_cell) AS DOUBLE) - 1.0)
                 * (CAST(ABS(b_cell - c_cell) AS DOUBLE) - 1.0)
                 / CAST(b_cell + c_cell AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS mcnemar_chi2_cc
    FROM cells
    """,
)


# ---------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard
# ---------------------------------------------------------------------------


def q_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard of days-from-signup-to-purchase
    (same censored cohort as `kaplan_meier`): H(t) = Σ_{d≤t} e_d/r_d
    with its counting-process variance Σ e_d/r_d² — the estimator a
    pipeline prefers over KM when the HAZARD (instantaneous
    conversion pressure) is the decision variable, e.g. picking the
    day to send a nudge; KM's survival curve integrates that signal
    away.

    Exactness: every increment e/r and e/r² is one division on exact
    integer counts, quantized to BIGINT 1e-12 units BEFORE the
    cumulative sum (increments are ≤ 1, so picometer quantization
    never overflows), making the running sums exact integers — the
    stricter cousin of kaplan_meier's ordered-ln-sum. The windows run
    on the distinct-duration-day table, not on users."""
    cohort = _purchase_cohort(spark, sf_dir)
    per_d = cohort.groupBy("d").agg(
        F.sum("is_event").alias("n_ev"),
        F.count("*").alias("n_all"),
    )
    w_before = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    w_cum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    w_tot = Window.partitionBy()
    risk = per_d.select(
        "d",
        "n_ev",
        (
            F.sum("n_all").over(w_tot)
            - F.coalesce(F.sum("n_all").over(w_before), F.lit(0))
        ).alias("n_risk"),
    )
    ed = F.col("n_ev").cast("double")
    rd = F.col("n_risk").cast("double")
    quant = risk.select(
        "d",
        "n_ev",
        "n_risk",
        F.floor(ed / rd * F.lit(1.0e12) + F.lit(0.5))
        .cast("long")
        .alias("h_pico"),
        F.floor(ed / (rd * rd) * F.lit(1.0e12) + F.lit(0.5))
        .cast("long")
        .alias("v_pico"),
    )
    return quant.select(
        "d",
        F.col("n_ev").cast("long").alias("n_ev"),
        F.col("n_risk").cast("long").alias("n_risk"),
        _r6(F.sum("h_pico").over(w_cum).cast("double") / F.lit(1.0e12)).alias(
            "cum_hazard"
        ),
        _r6(F.sum("v_pico").over(w_cum).cast("double") / F.lit(1.0e12)).alias(
            "hazard_var"
        ),
    )


registry.register(
    "nelson_aalen",
    q_nelson_aalen,
    """
    WITH per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t0,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS tp,
             MAX(ts) AS tlast
      FROM events GROUP BY 1
    ),
    cohort AS (
      SELECT CASE WHEN tp >= t0
                  THEN datediff('day', CAST(t0 AS DATE), CAST(tp AS DATE))
                  ELSE datediff('day', CAST(t0 AS DATE), CAST(tlast AS DATE))
             END AS d,
             CASE WHEN tp >= t0 THEN 1 ELSE 0 END AS is_event
      FROM per_user WHERE t0 IS NOT NULL
    ),
    per_d AS (
      SELECT d, SUM(is_event) AS n_ev, COUNT(*) AS n_all
      FROM cohort GROUP BY 1
    ),
    risk AS (
      SELECT d, n_ev,
             SUM(n_all) OVER ()
             - COALESCE(SUM(n_all) OVER (ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM per_d
    ),
    quant AS (
      SELECT d, n_ev, n_risk,
             CAST(FLOOR(CAST(n_ev AS DOUBLE) / CAST(n_risk AS DOUBLE)
                        * 1.0e12 + 0.5) AS BIGINT) AS h_pico,
             CAST(FLOOR(CAST(n_ev AS DOUBLE)
                        / (CAST(n_risk AS DOUBLE) * CAST(n_risk AS DOUBLE))
                        * 1.0e12 + 0.5) AS BIGINT) AS v_pico
      FROM risk
    )
    SELECT d, CAST(n_ev AS BIGINT) AS n_ev,
           CAST(n_risk AS BIGINT) AS n_risk,
           FLOOR(CAST(SUM(h_pico) OVER (ORDER BY d
                   ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 1.0e12
                 * 1000000.0 + 0.5) / 1000000.0 AS cum_hazard,
           FLOOR(CAST(SUM(v_pico) OVER (ORDER BY d
                   ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 1.0e12
                 * 1000000.0 + 0.5) / 1000000.0 AS hazard_var
    FROM quant
    """,
)


# ---------------------------------------------------------------------------
# Isotonic (PAVA) calibration via the max-min-average identity
# ---------------------------------------------------------------------------


def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic regression of purchase rate on the event-value score,
    over 20 fixed score bins — the standard recalibration step when a
    model's scores rank well but their magnitudes drift (Platt
    scaling assumes a sigmoid; isotonic assumes only monotonicity,
    which is why eval pipelines default to it past ~1k samples).

    Instead of the sequential pool-adjacent-violators walk, the fit
    uses the closed-form minimax identity — fit(t) = max_{i≤t}
    min_{j≥t} avg(y on bins i..j) — which turns PAVA into pure join
    algebra over prefix sums: B bins → B(B+1)/2 interval averages,
    each ONE division on exact integer (positives, count) prefix
    differences, then min/max comparisons (exact on identical
    doubles). No recursion, no applyInPandas, engine-exact.

    Scale: the fact table contributes one combinable groupBy to the
    B-row bin table; everything after is B³ ≤ 8000 driver-free row
    combinations — scale-invariant in corpus size."""
    ev = load_table(spark, sf_dir, "events")
    bins = (
        ev.select(
            F.least(
                F.expr(
                    "CAST(CAST(FLOOR(value * 100 + 0.5) / 100 AS DECIMAL(18,2)) * 100 AS BIGINT)"
                    " DIV 500"
                ),
                F.lit(19),
            ).alias("b"),
            (F.col("event_type") == "purchase").cast("long").alias("y"),
        )
        .groupBy("b")
        .agg(F.count("*").alias("n"), F.sum("y").alias("k"))
    )
    w_cum = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    # pref is referenced four times (lo/hi sides, the t anchor, and the
    # final join); materialize the 20-row frame once so the fact-table
    # rollup runs a single time instead of once per reference.
    pref = bins.select(
        "b",
        "n",
        "k",
        F.sum("n").over(w_cum).alias("cn"),
        F.sum("k").over(w_cum).alias("ck"),
    ).localCheckpoint()
    lo = pref.select(
        F.col("b").alias("i"),
        (F.col("cn") - F.col("n")).alias("cn_lo"),
        (F.col("ck") - F.col("k")).alias("ck_lo"),
    )
    hi = pref.select(
        F.col("b").alias("j"),
        F.col("cn").alias("cn_hi"),
        F.col("ck").alias("ck_hi"),
    )
    ratios = lo.join(hi, F.col("j") >= F.col("i")).select(
        "i",
        "j",
        (
            (F.col("ck_hi") - F.col("ck_lo")).cast("double")
            / (F.col("cn_hi") - F.col("cn_lo")).cast("double")
        ).alias("r"),
    )
    ts = pref.select(F.col("b").alias("t"))
    m_it = (
        ts.join(
            ratios,
            (F.col("i") <= F.col("t")) & (F.col("j") >= F.col("t")),
        )
        .groupBy("t", "i")
        .agg(F.min("r").alias("m"))
    )
    fit = m_it.groupBy("t").agg(F.max("m").alias("iso"))
    return (
        pref.join(fit, pref["b"] == fit["t"])
        .select(
            "b",
            F.col("n").cast("long").alias("n"),
            F.col("k").cast("long").alias("k"),
            _r6(
                F.col("k").cast("double") / F.col("n").cast("double")
            ).alias("raw_rate"),
            _r6(F.col("iso")).alias("iso_rate"),
        )
    )


registry.register(
    "isotonic_calibration",
    q_isotonic_calibration,
    """
    WITH bins AS (
      SELECT LEAST(CAST(CAST(FLOOR(value * 100 + 0.5) / 100 AS DECIMAL(18,2)) * 100 AS BIGINT)
                   // 500, 19) AS b,
             COUNT(*) AS n,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS k
      FROM events GROUP BY 1
    ),
    pref AS (
      SELECT b, n, k,
             SUM(n) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cn,
             SUM(k) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS ck
      FROM bins
    ),
    ratios AS (
      SELECT lo.b AS i, hi.b AS j,
             CAST(hi.ck - (lo.ck - lo.k) AS DOUBLE)
             / CAST(hi.cn - (lo.cn - lo.n) AS DOUBLE) AS r
      FROM pref lo JOIN pref hi ON hi.b >= lo.b
    ),
    m_it AS (
      SELECT t.b AS t, r.i, MIN(r.r) AS m
      FROM pref t JOIN ratios r ON r.i <= t.b AND r.j >= t.b
      GROUP BY 1, 2
    ),
    fit AS (SELECT t, MAX(m) AS iso FROM m_it GROUP BY 1)
    SELECT p.b, CAST(p.n AS BIGINT) AS n, CAST(p.k AS BIGINT) AS k,
           FLOOR(CAST(p.k AS DOUBLE) / CAST(p.n AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS raw_rate,
           FLOOR(f.iso * 1000000.0 + 0.5) / 1000000.0 AS iso_rate
    FROM pref p JOIN fit f ON p.b = f.t
    """,
)


# ---------------------------------------------------------------------------
# Precision-recall threshold sweep
# ---------------------------------------------------------------------------


def q_pr_curve_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full precision/recall/F1 sweep over every distinct score
    threshold, scoring `value` as a purchase-vs-click classifier —
    the operating-point table a deployment reads AFTER `auc_roc` says
    the ranking is good: AUC picks the model, this picks the
    threshold.

    Exactness: per distinct cent value the two class counts aggregate
    once; ONE descending cumulative window yields TP/FP at the
    "predict positive when score ≥ t" cut; precision, recall, and F1
    are each a single division on exact integers (F1 via the
    2TP/(2TP+FP+FN) form — one division, no nested rounding),
    `_r6`-bounded.

    Scale: the sweep grain is the distinct-value table (price
    granularity — the auc_roc disposition), fact table touched once,
    map-side combinable."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    cents = (dec_portable("value", 18, 2) * 100).cast("long")
    per_v = ev.groupBy(cents.alias("v")).agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("pos"),
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("neg"),
    )
    w_ge = Window.orderBy(F.desc("v")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_tot = Window.partitionBy()
    t = per_v.select(
        "v",
        F.sum("pos").over(w_ge).alias("tp"),
        F.sum("neg").over(w_ge).alias("fp"),
        F.sum("pos").over(w_tot).alias("p_tot"),
    )
    tp, fp = F.col("tp").cast("double"), F.col("fp").cast("double")
    fn = (F.col("p_tot") - F.col("tp")).cast("double")
    return t.select(
        "v",
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        (F.col("p_tot") - F.col("tp")).cast("long").alias("fn"),
        _r6(tp / (tp + fp)).alias("precision"),
        _r6(tp / F.col("p_tot").cast("double")).alias("recall"),
        _r6(F.lit(2.0) * tp / (F.lit(2.0) * tp + fp + fn)).alias("f1"),
    )


registry.register(
    "pr_curve_sweep",
    q_pr_curve_sweep,
    """
    WITH per_v AS (
      SELECT CAST(CAST(FLOOR(value * 100 + 0.5) / 100 AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS pos,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS neg
      FROM events WHERE event_type IN ('purchase', 'click')
      GROUP BY 1
    ),
    t AS (
      SELECT v,
             SUM(pos) OVER (ORDER BY v DESC ROWS UNBOUNDED PRECEDING)
               AS tp,
             SUM(neg) OVER (ORDER BY v DESC ROWS UNBOUNDED PRECEDING)
               AS fp,
             SUM(pos) OVER () AS p_tot
      FROM per_v
    )
    SELECT v, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(p_tot - tp AS BIGINT) AS fn,
           FLOOR(CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE)
                                       + CAST(fp AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS precision,
           FLOOR(CAST(tp AS DOUBLE) / CAST(p_tot AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS recall,
           FLOOR(2.0 * CAST(tp AS DOUBLE)
                 / (2.0 * CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)
                    + CAST(p_tot - tp AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS f1
    FROM t
    """,
)


# ---------------------------------------------------------------------------
# Mean Average Precision @ 10 (pure-integer AP)
# ---------------------------------------------------------------------------


def q_map_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP@10 with binary relevance (purchase events) over each
    user's first ten events in arrival order — the ranking-quality
    companion to mrr_metric/ndcg_at5.

    Exactness: unlike NDCG's log discounts, AP is PURE RATIONAL —
    precision@k = r_k/k on integer counts — so every per-hit term
    quantizes as floor(r_k·1e9 / k) BIGINT with INTEGER division
    (no doubles, no libm anywhere until the final mean), and
    AP@10 = Σterms / R is again integer division. Users with no
    relevant event in the window score 0, as standard.

    Scale: one user-keyed window for positions (events are already
    user-partitioned by the shuffle), integer aggregates after."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    top10 = (
        ev.select(
            "user_id",
            (F.col("event_type") == "purchase").cast("long").alias("rel"),
            F.row_number().over(w).alias("pos"),
        )
        .filter(F.col("pos") <= 10)
    )
    wcum = Window.partitionBy("user_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    staged = top10.withColumn("r_k", F.sum("rel").over(wcum))
    per_user = staged.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("rel") == 1,
                F.expr("r_k * 1000000000 div pos"),
            ).otherwise(F.lit(0))
        ).alias("term9"),
        F.sum("rel").alias("r_total"),
    )
    ap9 = F.when(
        F.col("r_total") > 0, F.expr("term9 div r_total")
    ).otherwise(F.lit(0))
    scored = per_user.select(ap9.alias("ap9"))
    return scored.agg(
        F.count("*").cast("long").alias("n_users"),
        _r6(
            F.sum("ap9").cast("double")
            / (F.count("*").cast("double") * F.lit(1e9))
        ).alias("map_at_10"),
    )


registry.register(
    "map_at_k",
    q_map_at_k,
    """
    WITH top10 AS (
      SELECT user_id,
             CAST(event_type = 'purchase' AS BIGINT) AS rel,
             pos
      FROM (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS pos
        FROM events
      ) WHERE pos <= 10
    ),
    staged AS (
      SELECT user_id, rel, pos,
             SUM(rel) OVER (PARTITION BY user_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r_k
      FROM top10
    ),
    per_user AS (
      SELECT user_id,
             SUM(CASE WHEN rel = 1 THEN r_k * 1000000000 // pos
                 ELSE 0 END) AS term9,
             SUM(rel) AS r_total
      FROM staged GROUP BY 1
    ),
    scored AS (
      SELECT CASE WHEN r_total > 0 THEN term9 // r_total ELSE 0 END AS ap9
      FROM per_user
    )
    SELECT COUNT(*) AS n_users,
           FLOOR((CAST(SUM(ap9) AS DOUBLE)
                  / (CAST(COUNT(*) AS DOUBLE) * 1e9))
                 * 1000000.0 + 0.5) / 1000000.0 AS map_at_10
    FROM scored
    """,
)


# ---------------------------------------------------------------------------
# Inverse-propensity-weighted ATE (integer weights)
# ---------------------------------------------------------------------------


def q_ipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-weighted average-treatment-effect estimate
    under KNOWN stratified propensities — the observational-data
    counterpart of srm_check/cuped_adjustment. Treatment is the house
    md5 identity coin on the order key; the propensity depends on the
    customer segment (1/4 for AUTOMOBILE/BUILDING, else 1/2), so the
    naive treated-vs-control mean is confounded by segment and IPW
    reweights it out.

    Exactness: with p in {1/4, 1/2}, the IPW weights 1/p and 1/(1-p)
    scale to INTEGERS after multiplying by 12 (48/24 treated,
    16/24 control), so both weighted revenue sums are exact BIGINT
    cent sums and the estimate is one final division (then _r6).
    No libm, no doubles mid-stream."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    coin = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % 2
    )
    low_p = F.col("c_mktsegment").isin("AUTOMOBILE", "BUILDING")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    base = o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"]).select(
        coin.alias("t"),
        low_p.alias("lp"),
        cents.alias("y"),
    )
    # 12/p: 48 when p=1/4 else 24; 12/(1-p): 16 when p=1/4 else 24
    w_t = F.when(F.col("lp"), F.lit(48)).otherwise(F.lit(24))
    w_c = F.when(F.col("lp"), F.lit(16)).otherwise(F.lit(24))
    agg = base.agg(
        F.count("*").alias("n"),
        F.sum(F.col("t") * F.col("y") * w_t).alias("s_t12"),
        F.sum((1 - F.col("t")) * F.col("y") * w_c).alias("s_c12"),
        F.sum("t").alias("n_treated"),
    )
    n12 = F.col("n").cast("double") * 12.0
    return agg.select(
        F.col("n").cast("long").alias("n_orders"),
        F.col("n_treated").cast("long").alias("n_treated"),
        _r6(
            (F.col("s_t12") - F.col("s_c12")).cast("double")
            / (n12 * 100.0)
        ).alias("ate_ipw_dollars"),
    )


registry.register(
    "ipw_ate",
    q_ipw_ate,
    """
    WITH base AS (
      SELECT CAST(CONCAT('0x', SUBSTRING(MD5(CAST(o.o_orderkey AS VARCHAR)),
                                         1, 15)) AS BIGINT) % 2 AS t,
             c.c_mktsegment IN ('AUTOMOBILE', 'BUILDING') AS lp,
             CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT COUNT(*) AS n_orders,
           SUM(t) AS n_treated,
           FLOOR((CAST(SUM(t * y * (CASE WHEN lp THEN 48 ELSE 24 END))
                       - SUM((1 - t) * y * (CASE WHEN lp THEN 16 ELSE 24 END))
                       AS DOUBLE)
                  / (CAST(COUNT(*) AS DOUBLE) * 12.0 * 100.0))
                 * 1000000.0 + 0.5) / 1000000.0 AS ate_ipw_dollars
    FROM base
    """,
)


# ---------------------------------------------------------------------------
# Regression discontinuity estimate (local linear, closed form)
# ---------------------------------------------------------------------------


def q_rdd_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharp regression-discontinuity estimate: does urgent-priority
    incidence jump at the $150,000 order-value threshold? Local
    LINEAR fit on each side of the cutoff within a $50k bandwidth
    (the Imbens-Lemieux workhorse; a naive above/below mean-diff is
    biased by the within-band trend), effect = right-intercept minus
    left-intercept at the cutoff. On synthetic TPC-H-ish data the
    true jump is ~0; the machinery is the deliverable.

    Exactness: the running variable is floor-cents (double price
    quantized per row); each side's five sufficient statistics
    (n, sum d, sum d^2, sum y, sum d*y with d = cents - cutoff) are
    EXACT BIGINT sums, so the closed-form intercept
    (sy*sd2 - sd*sdy)/(n*sd2 - sd^2) is a deterministic IEEE
    expression over exact integers (products taken in double -- the
    BIGINT cross-products would overflow past sf1, documented).
    Scale: one filtered fact scan, map-combinable aggs, 1-row
    output."""
    cutoff, half = 15_000_000, 5_000_000
    o = load_table(spark, sf_dir, "orders").select(
        (
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            - F.lit(cutoff)
        ).alias("d"),
        (F.col("o_orderpriority") == "1-URGENT").cast("long").alias("y"),
    ).filter((F.col("d") >= -half) & (F.col("d") < half))
    side = o.withColumn("s", (F.col("d") >= 0).cast("int"))
    agg = side.groupBy("s").agg(
        F.count("*").alias("n"),
        F.sum("d").cast("long").alias("sd"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("sd2"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("d") * F.col("y")).cast("long").alias("sdy"),
    )

    def b0(pfx: str):
        n = F.col(f"{pfx}_n").cast("double")
        sd = F.col(f"{pfx}_sd").cast("double")
        sd2 = F.col(f"{pfx}_sd2").cast("double")
        sy = F.col(f"{pfx}_sy").cast("double")
        sdy = F.col(f"{pfx}_sdy").cast("double")
        return (sy * sd2 - sd * sdy) / (n * sd2 - sd * sd)

    one = agg.groupBy().agg(
        *[
            F.max(F.when(F.col("s") == v, F.col(c))).alias(f"{p}_{c}")
            for v, p in [(0, "l"), (1, "r")]
            for c in ["n", "sd", "sd2", "sy", "sdy"]
        ]
    )
    return one.select(
        F.col("l_n").cast("long").alias("n_left"),
        F.col("r_n").cast("long").alias("n_right"),
        _r6(b0("l")).alias("intercept_left"),
        _r6(b0("r")).alias("intercept_right"),
        _r6(b0("r") - b0("l")).alias("rdd_effect"),
    )


registry.register(
    "rdd_estimate",
    q_rdd_estimate,
    """
    WITH band AS (
      SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) - 15000000 AS d,
             CAST(o_orderpriority = '1-URGENT' AS BIGINT) AS y
      FROM orders
      WHERE CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) - 15000000
              >= -5000000
        AND CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) - 15000000
              < 5000000
    ),
    agg AS (
      SELECT CAST(d >= 0 AS INT) AS s,
             COUNT(*) AS n,
             CAST(SUM(d) AS BIGINT) AS sd,
             CAST(SUM(d * d) AS BIGINT) AS sd2,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(d * y) AS BIGINT) AS sdy
      FROM band GROUP BY 1
    ),
    one AS (
      SELECT MAX(CASE WHEN s = 0 THEN n END) AS l_n,
             MAX(CASE WHEN s = 0 THEN sd END) AS l_sd,
             MAX(CASE WHEN s = 0 THEN sd2 END) AS l_sd2,
             MAX(CASE WHEN s = 0 THEN sy END) AS l_sy,
             MAX(CASE WHEN s = 0 THEN sdy END) AS l_sdy,
             MAX(CASE WHEN s = 1 THEN n END) AS r_n,
             MAX(CASE WHEN s = 1 THEN sd END) AS r_sd,
             MAX(CASE WHEN s = 1 THEN sd2 END) AS r_sd2,
             MAX(CASE WHEN s = 1 THEN sy END) AS r_sy,
             MAX(CASE WHEN s = 1 THEN sdy END) AS r_sdy
      FROM agg
    ),
    calc AS (
      SELECT CAST(l_n AS BIGINT) AS n_left, CAST(r_n AS BIGINT) AS n_right,
             (CAST(l_sy AS DOUBLE) * CAST(l_sd2 AS DOUBLE)
              - CAST(l_sd AS DOUBLE) * CAST(l_sdy AS DOUBLE))
             / (CAST(l_n AS DOUBLE) * CAST(l_sd2 AS DOUBLE)
                - CAST(l_sd AS DOUBLE) * CAST(l_sd AS DOUBLE)) AS b0l,
             (CAST(r_sy AS DOUBLE) * CAST(r_sd2 AS DOUBLE)
              - CAST(r_sd AS DOUBLE) * CAST(r_sdy AS DOUBLE))
             / (CAST(r_n AS DOUBLE) * CAST(r_sd2 AS DOUBLE)
                - CAST(r_sd AS DOUBLE) * CAST(r_sd AS DOUBLE)) AS b0r
      FROM one
    )
    SELECT n_left, n_right,
           FLOOR(b0l * 1000000.0 + 0.5) / 1000000.0 AS intercept_left,
           FLOOR(b0r * 1000000.0 + 0.5) / 1000000.0 AS intercept_right,
           FLOOR((b0r - b0l) * 1000000.0 + 0.5) / 1000000.0 AS rdd_effect
    FROM calc
    """,
)


# ---------------------------------------------------------------------------
# Expected calibration error (10-bin ECE) of a trained rate forecaster
# ---------------------------------------------------------------------------


def _train_price_decile_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 1-row (q1..q9) rank-rule decile-boundary frame of
    o_totalprice cents over TRAIN orders (odd orderkeys),
    session-materialized (r12): ece_calibration and macro_f1 derive
    the IDENTICAL boundary frame — each ran its own two-pass
    rank_pick over orders (~8 stages of the per-query cascade). The
    checkpointed frame is 1 row × 9 BIGINTs; same build expression as
    before, so both consumers' bins are unchanged."""
    from airflow_baseball_spark.operators.graph import materialize_edge_list
    from airflow_baseball_spark.operators.rank_select import rank_pick

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        o = load_table(spark, sf_dir, "orders").select(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("pc"),
            (F.col("o_orderkey") % 2 == 1).cast("int").alias("is_train"),
        )
        train = o.filter(F.col("is_train") == 1)
        picked = rank_pick(
            train.select(F.col("pc").alias("v")),
            "v",
            [
                (f"q{i}", lambda n, i=i: F.expr(f"({i} * n + 9) div 10"))
                for i in range(1, 10)
            ],
        )
        return picked.groupBy().pivot(
            "rank_label", [f"q{i}" for i in range(1, 10)]
        ).agg(F.min("v"))

    return materialize_edge_list(
        spark, sf_dir, "train_price_decile_bounds", build
    )


def q_ece_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected Calibration Error of the same train-on-odd /
    score-on-even urgent-rate forecaster as `brier_decomposition`:
    bucket test rows into 10 CONFIDENCE bins, ECE =
    sum_b (n_b/N)*|accuracy_b - confidence_b| -- the single
    reliability number model cards report next to Brier/AUC.

    Exactness: the forecast is carried as the exact integer ratio
    (num, den) from the train bin, so the confidence-bin index is
    PURE INTEGER: least((10*num) div den, 9) -- never a float
    comparison that an ulp could flip. Per-bin confidence sums
    quantize each p to micro-units BEFORE summing
    (quantize-before-sum); each bin's ECE term is quantized to
    pico-units before the <=10-term sum, so no engine-ordered float
    sum exists on the checked path. Decile boundaries are rank-rule
    cents from the two-pass histogram (session-shared with macro_f1
    via _train_price_decile_bounds, r12). Scale: two fact scans
    (boundaries, scoring), bounded tables after."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("pc"),
        (F.col("o_orderpriority") == "1-URGENT").cast("long").alias("y"),
        (F.col("o_orderkey") % 2 == 1).cast("int").alias("is_train"),
    )
    qs = _train_price_decile_bounds(spark, sf_dir)
    kcol = F.lit(1)
    for i in range(1, 10):
        kcol = kcol + (F.col("pc") > F.col(f"q{i}")).cast("int")
    binned = o.crossJoin(F.broadcast(qs)).withColumn("k", kcol)
    # r11 (optimization): train rates and test tallies used to come
    # from two separate `binned` branches — and binned has no exchange
    # below it, so each branch re-scanned orders and re-evaluated the
    # 9-comparison bin expression (two full fact passes where one
    # suffices at any scale). One grouped pass now collects both
    # sides' sufficient statistics per decile (exact integer counts);
    # everything after is algebra on the ≤10-row cells table. Per-bin
    # confidence Σp_micro == n_te·p_micro(k) exactly, because every
    # test row of decile k carries the SAME train ratio — the
    # per-row-sum and count·value forms are identical integers.
    cells = binned.groupBy("k").agg(
        F.sum(F.when(F.col("is_train") == 1, F.col("y")).otherwise(0)).alias(
            "num"
        ),
        F.sum(F.when(F.col("is_train") == 1, 1).otherwise(0)).alias("den"),
        F.sum(F.when(F.col("is_train") == 0, 1).otherwise(0)).alias("n_te"),
        F.sum(F.when(F.col("is_train") == 0, F.col("y")).otherwise(0)).alias(
            "s_te"
        ),
    ).filter((F.col("n_te") > 0) & (F.col("den") > 0))
    # (den > 0 replicates the old inner join against train rates — a
    # decile with test rows but no train rows contributed nothing)
    # integer confidence bin: least((10*num) div den, 9)
    scored = cells.withColumn(
        "cb",
        F.least(
            F.expr("(10 * num) div den").cast("int"), F.lit(9)
        ),
    ).withColumn(
        "p_micro",
        F.floor(
            F.col("num").cast("double") / F.col("den").cast("double")
            * 1000000.0
            + F.lit(0.5)
        ).cast("long"),
    )
    per_bin = scored.groupBy("cb").agg(
        F.sum("n_te").cast("long").alias("n_b"),
        F.sum("s_te").cast("long").alias("pos_b"),
        F.sum(F.col("n_te") * F.col("p_micro")).cast("long").alias(
            "sp_micro"
        ),
    )
    n_total = per_bin.groupBy().agg(
        F.sum("n_b").cast("long").alias("n_test")
    )
    joined = per_bin.crossJoin(F.broadcast(n_total))
    gap = F.abs(
        F.col("pos_b").cast("double") / F.col("n_b").cast("double")
        - F.col("sp_micro").cast("double")
        / (F.col("n_b").cast("double") * 1000000.0)
    )
    term_pico = F.floor(
        F.col("n_b").cast("double") / F.col("n_test").cast("double")
        * gap
        * 1.0e12
        + F.lit(0.5)
    ).cast("long")
    out = joined.select(
        "cb", "n_b", F.col("n_test"), term_pico.alias("tp"), gap.alias("g")
    ).groupBy().agg(
        F.max("n_test").alias("n_test"),
        F.count("*").cast("long").alias("n_bins_nonempty"),
        _r6(F.sum("tp").cast("double") / 1.0e12).alias("ece"),
        _r6(F.max("g")).alias("max_gap"),
    )
    return out


registry.register(
    "ece_calibration",
    q_ece_calibration,
    """
    WITH o AS (
      SELECT o_orderkey,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS pc,
             CAST(o_orderpriority = '1-URGENT' AS BIGINT) AS y,
             CAST(o_orderkey % 2 = 1 AS INT) AS is_train
      FROM orders
    ),
    ranked AS (
      SELECT pc, ROW_NUMBER() OVER (ORDER BY pc) AS rn,
             COUNT(*) OVER () AS n
      FROM o WHERE is_train = 1
    ),
    qs AS (
      SELECT MAX(CASE WHEN rn = (1 * n + 9) // 10 THEN pc END) AS q1,
             MAX(CASE WHEN rn = (2 * n + 9) // 10 THEN pc END) AS q2,
             MAX(CASE WHEN rn = (3 * n + 9) // 10 THEN pc END) AS q3,
             MAX(CASE WHEN rn = (4 * n + 9) // 10 THEN pc END) AS q4,
             MAX(CASE WHEN rn = (5 * n + 9) // 10 THEN pc END) AS q5,
             MAX(CASE WHEN rn = (6 * n + 9) // 10 THEN pc END) AS q6,
             MAX(CASE WHEN rn = (7 * n + 9) // 10 THEN pc END) AS q7,
             MAX(CASE WHEN rn = (8 * n + 9) // 10 THEN pc END) AS q8,
             MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN pc END) AS q9
      FROM ranked
    ),
    binned AS (
      SELECT o.*,
             1 + CAST(pc > q1 AS INT) + CAST(pc > q2 AS INT)
               + CAST(pc > q3 AS INT) + CAST(pc > q4 AS INT)
               + CAST(pc > q5 AS INT) + CAST(pc > q6 AS INT)
               + CAST(pc > q7 AS INT) + CAST(pc > q8 AS INT)
               + CAST(pc > q9 AS INT) AS k
      FROM o CROSS JOIN qs
    ),
    rates AS (
      SELECT k, SUM(y) AS num, COUNT(*) AS den
      FROM binned WHERE is_train = 1 GROUP BY k
    ),
    test AS (
      SELECT b.y,
             LEAST(CAST((10 * r.num) // r.den AS INT), 9) AS cb,
             CAST(FLOOR(CAST(r.num AS DOUBLE) / CAST(r.den AS DOUBLE)
                        * 1000000.0 + 0.5) AS BIGINT) AS p_micro
      FROM binned b JOIN rates r USING (k)
      WHERE b.is_train = 0
    ),
    per_bin AS (
      SELECT cb, COUNT(*) AS n_b,
             CAST(SUM(y) AS BIGINT) AS pos_b,
             CAST(SUM(p_micro) AS BIGINT) AS sp_micro
      FROM test GROUP BY cb
    ),
    tot AS (SELECT CAST(SUM(n_b) AS BIGINT) AS n_test FROM per_bin),
    terms AS (
      SELECT n_test, n_b,
             ABS(CAST(pos_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                 - CAST(sp_micro AS DOUBLE)
                   / (CAST(n_b AS DOUBLE) * 1000000.0)) AS g,
             CAST(FLOOR(CAST(n_b AS DOUBLE) / CAST(n_test AS DOUBLE)
                        * ABS(CAST(pos_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                              - CAST(sp_micro AS DOUBLE)
                                / (CAST(n_b AS DOUBLE) * 1000000.0))
                        * 1.0e12 + 0.5) AS BIGINT) AS tp
      FROM per_bin CROSS JOIN tot
    )
    SELECT MAX(n_test) AS n_test,
           CAST(COUNT(*) AS BIGINT) AS n_bins_nonempty,
           FLOOR(CAST(SUM(tp) AS DOUBLE) / 1.0e12 * 1000000.0 + 0.5)
             / 1000000.0 AS ece,
           FLOOR(MAX(g) * 1000000.0 + 0.5) / 1000000.0 AS max_gap
    FROM terms
    """,
)


# ---------------------------------------------------------------------------
# Macro-averaged F1 of a decile-majority classifier
# ---------------------------------------------------------------------------


def q_macro_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 and the MACRO averages for a
    5-class order-priority classifier (predict the train-majority
    class of the row's price decile -- the standard 'beatable
    baseline' row of a model card). Macro averaging weights every
    class equally, which is the metric that exposes a
    majority-class-only classifier: it scores ~1/k, not the ~52%
    accuracy micro metrics report.

    Exactness: the confusion matrix is exact counts; each class's
    P/R/F1 is a deterministic IEEE ratio quantized to micro-units,
    and the MACRO row sums those QUANTIZED integers
    (quantize-before-sum -- order-invariant) before one division by
    5. Majority tie-break is (count desc, class asc) over the
    50-row decile x class table. Scale: boundaries + one scoring
    scan; windows only over bounded tables. Boundaries session-shared
    with ece_calibration via _train_price_decile_bounds (r12)."""
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("pc"),
        F.col("o_orderpriority").alias("klass"),
        (F.col("o_orderkey") % 2 == 1).cast("int").alias("is_train"),
    )
    qs = _train_price_decile_bounds(spark, sf_dir)
    kcol = F.lit(1)
    for i in range(1, 10):
        kcol = kcol + (F.col("pc") > F.col(f"q{i}")).cast("int")
    binned = o.crossJoin(F.broadcast(qs)).withColumn("k", kcol)
    # r11 (optimization): the train majority table and the test
    # scoring used to be two separate `binned` branches — two full
    # fact passes (binned has no exchange below it, so nothing is
    # reused). One grouped pass now collects BOTH sides' counts per
    # (decile, class); the majority election and the confusion matrix
    # are algebra over that ≤50-row table (c_tr>0 / c_te>0 filters
    # replicate the old branch filters and inner joins exactly — all
    # integers, identical confusion counts).
    pb = binned.groupBy("k", "klass").agg(
        F.sum(F.when(F.col("is_train") == 1, 1).otherwise(0)).alias("c_tr"),
        F.sum(F.when(F.col("is_train") == 0, 1).otherwise(0)).alias("c_te"),
    )
    maj = pb.filter(F.col("c_tr") > 0).select(
        "k", "klass", F.col("c_tr").alias("c")
    )
    w = Window.partitionBy("k").orderBy(F.col("c").desc(), F.col("klass"))
    pred_map = (
        maj.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("k", F.col("klass").alias("pred"))
    )
    conf = (
        pb.filter(F.col("c_te") > 0)
        .join(F.broadcast(pred_map), "k")
        .groupBy("klass", "pred")
        .agg(F.sum("c_te").alias("c"))
    )
    stats = conf.groupBy().agg(
        F.sum("c").cast("long").alias("n_test"),
        *[
            F.sum(
                F.when(
                    (F.col("klass") == p) & (F.col("pred") == p), F.col("c")
                ).otherwise(0)
            ).cast("long").alias(f"tp_{i}")
            for i, p in enumerate(prios)
        ],
        *[
            F.sum(
                F.when(F.col("pred") == p, F.col("c")).otherwise(0)
            ).cast("long").alias(f"pp_{i}")
            for i, p in enumerate(prios)
        ],
        *[
            F.sum(
                F.when(F.col("klass") == p, F.col("c")).otherwise(0)
            ).cast("long").alias(f"tt_{i}")
            for i, p in enumerate(prios)
        ],
    )

    def micro(num, den):
        return F.when(den > 0,
                      F.floor(num.cast("double") / den.cast("double")
                              * 1000000.0 + F.lit(0.5)).cast("long")
                      ).otherwise(F.lit(0).cast("long"))

    def f1m(tp, pp, tt):
        return F.when(
            tp > 0,
            F.floor(
                2.0 * tp.cast("double")
                / (pp.cast("double") + tt.cast("double"))
                * 1000000.0
                + F.lit(0.5)
            ).cast("long"),
        ).otherwise(F.lit(0).cast("long"))

    # one exploded pass builds the 5 class rows AND the MACRO row from
    # the single sufficient-statistics row -- a per-class union would
    # re-evaluate the scoring subtree (a fact scan) once per class
    structs = []
    for i, p in enumerate(prios):
        tp, pp, tt = F.col(f"tp_{i}"), F.col(f"pp_{i}"), F.col(f"tt_{i}")
        structs.append(
            F.struct(
                F.lit(p).alias("klass"),
                tt.alias("n_true"),
                micro(tp, pp).alias("prec_micro"),
                micro(tp, tt).alias("rec_micro"),
                f1m(tp, pp, tt).alias("f1_micro"),
            )
        )
    idx = list(range(len(prios)))
    cols = {
        "prec_micro": lambda i: micro(
            F.col(f"tp_{i}"), F.col(f"pp_{i}")
        ),
        "rec_micro": lambda i: micro(F.col(f"tp_{i}"), F.col(f"tt_{i}")),
        "f1_micro": lambda i: f1m(
            F.col(f"tp_{i}"), F.col(f"pp_{i}"), F.col(f"tt_{i}")
        ),
    }

    def macro_sum(key):
        total = cols[key](0)
        for i in idx[1:]:
            total = total + cols[key](i)
        return total

    structs.append(
        F.struct(
            F.lit("MACRO").alias("klass"),
            F.col("n_test").alias("n_true"),
            (macro_sum("prec_micro") / 5).cast("long").alias("prec_micro"),
            (macro_sum("rec_micro") / 5).cast("long").alias("rec_micro"),
            (macro_sum("f1_micro") / 5).cast("long").alias("f1_micro"),
        )
    )
    allrows = stats.select(
        F.explode(F.array(*structs)).alias("s")
    ).select("s.*")
    return allrows.select(
        "klass",
        "n_true",
        (F.col("prec_micro").cast("double") / 1000000.0).alias("precision"),
        (F.col("rec_micro").cast("double") / 1000000.0).alias("recall"),
        (F.col("f1_micro").cast("double") / 1000000.0).alias("f1"),
    )


registry.register(
    "macro_f1",
    q_macro_f1,
    """
    WITH o AS (
      SELECT o_orderkey,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS pc,
             o_orderpriority AS klass,
             CAST(o_orderkey % 2 = 1 AS INT) AS is_train
      FROM orders
    ),
    ranked AS (
      SELECT pc, ROW_NUMBER() OVER (ORDER BY pc) AS rn,
             COUNT(*) OVER () AS n
      FROM o WHERE is_train = 1
    ),
    qs AS (
      SELECT MAX(CASE WHEN rn = (1 * n + 9) // 10 THEN pc END) AS q1,
             MAX(CASE WHEN rn = (2 * n + 9) // 10 THEN pc END) AS q2,
             MAX(CASE WHEN rn = (3 * n + 9) // 10 THEN pc END) AS q3,
             MAX(CASE WHEN rn = (4 * n + 9) // 10 THEN pc END) AS q4,
             MAX(CASE WHEN rn = (5 * n + 9) // 10 THEN pc END) AS q5,
             MAX(CASE WHEN rn = (6 * n + 9) // 10 THEN pc END) AS q6,
             MAX(CASE WHEN rn = (7 * n + 9) // 10 THEN pc END) AS q7,
             MAX(CASE WHEN rn = (8 * n + 9) // 10 THEN pc END) AS q8,
             MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN pc END) AS q9
      FROM ranked
    ),
    binned AS (
      SELECT o.*,
             1 + CAST(pc > q1 AS INT) + CAST(pc > q2 AS INT)
               + CAST(pc > q3 AS INT) + CAST(pc > q4 AS INT)
               + CAST(pc > q5 AS INT) + CAST(pc > q6 AS INT)
               + CAST(pc > q7 AS INT) + CAST(pc > q8 AS INT)
               + CAST(pc > q9 AS INT) AS k
      FROM o CROSS JOIN qs
    ),
    maj AS (
      SELECT k, klass, COUNT(*) AS c,
             ROW_NUMBER() OVER (PARTITION BY k
                                ORDER BY COUNT(*) DESC, klass) AS rn
      FROM binned WHERE is_train = 1 GROUP BY k, klass
    ),
    pred_map AS (SELECT k, klass AS pred FROM maj WHERE rn = 1),
    conf AS (
      SELECT b.klass, p.pred, COUNT(*) AS c
      FROM binned b JOIN pred_map p USING (k)
      WHERE b.is_train = 0 GROUP BY 1, 2
    ),
    stats AS (
      SELECT k.klass,
             COALESCE(SUM(CASE WHEN c.pred = k.klass
                               AND c.klass = k.klass THEN c.c END), 0) AS tp,
             COALESCE(SUM(CASE WHEN c.pred = k.klass THEN c.c END), 0) AS pp,
             COALESCE(SUM(CASE WHEN c.klass = k.klass THEN c.c END), 0) AS tt
      FROM (SELECT DISTINCT klass FROM o) k LEFT JOIN conf c ON TRUE
      GROUP BY k.klass
    ),
    per AS (
      SELECT klass, CAST(tt AS BIGINT) AS n_true,
             CASE WHEN pp > 0 THEN CAST(FLOOR(CAST(tp AS DOUBLE)
               / CAST(pp AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
               ELSE 0 END AS prec_micro,
             CASE WHEN tt > 0 THEN CAST(FLOOR(CAST(tp AS DOUBLE)
               / CAST(tt AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
               ELSE 0 END AS rec_micro,
             CASE WHEN tp > 0 THEN CAST(FLOOR(2.0 * CAST(tp AS DOUBLE)
               / (CAST(pp AS DOUBLE) + CAST(tt AS DOUBLE))
               * 1000000.0 + 0.5) AS BIGINT)
               ELSE 0 END AS f1_micro
      FROM stats
    ),
    macro AS (
      SELECT 'MACRO' AS klass, CAST(SUM(n_true) AS BIGINT) AS n_true,
             CAST(SUM(prec_micro) // 5 AS BIGINT) AS prec_micro,
             CAST(SUM(rec_micro) // 5 AS BIGINT) AS rec_micro,
             CAST(SUM(f1_micro) // 5 AS BIGINT) AS f1_micro
      FROM per
    ),
    allrows AS (SELECT * FROM per UNION ALL SELECT * FROM macro)
    SELECT klass, n_true,
           CAST(prec_micro AS DOUBLE) / 1000000.0 AS precision,
           CAST(rec_micro AS DOUBLE) / 1000000.0 AS recall,
           CAST(f1_micro AS DOUBLE) / 1000000.0 AS f1
    FROM allrows
    """,
)


# ---------------------------------------------------------------------------
# Restricted mean survival time (area under the KM curve to tau)
# ---------------------------------------------------------------------------


def q_rmst_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time at tau = 30 days for the same
    signup->purchase cohort as `kaplan_meier`: the area under the KM
    curve up to tau -- 'the average number of purchase-free days in
    the first month', the estimand reported when median survival is
    undefined (curve never crosses 0.5) and the one that stays valid
    under heavy censoring.

    Construction: the survival curve is the identical
    exp(ordered-cumsum of ln((n-d)/n)) staircase as kaplan_meier
    (ordered window fixes the float summation order); RMST adds the
    staircase integral sum S(d_i)*(min(next_d, tau) - d_i) plus the
    initial min(d_1, tau)*1 strip, with each rectangle
    floor-quantized to 1e-9 BEFORE the final sum
    (quantize-before-sum over ~100 event days). All windows run on
    the distinct-duration-day table, never on users or events."""
    tau = 30
    cohort = _purchase_cohort(spark, sf_dir)
    per_d = cohort.groupBy("d").agg(
        F.sum("is_event").alias("n_ev"),
        F.count("*").alias("n_all"),
    )
    w_before = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    w_tot = Window.partitionBy()
    risk = per_d.select(
        "d",
        "n_ev",
        (
            F.sum("n_all").over(w_tot)
            - F.coalesce(F.sum("n_all").over(w_before), F.lit(0))
        ).alias("n_risk"),
    )
    ln_term = F.when(
        (F.col("n_ev") > 0) & (F.col("n_risk") > F.col("n_ev")),
        F.log(
            (F.col("n_risk") - F.col("n_ev")).cast("double")
            / F.col("n_risk").cast("double")
        ),
    ).otherwise(F.lit(0.0))
    dead = F.when(
        (F.col("n_ev") > 0) & (F.col("n_risk") == F.col("n_ev")), 1
    ).otherwise(0)
    w_cum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    curve = risk.select(
        "d",
        "n_ev",
        F.sum(ln_term).over(w_cum).alias("lnS"),
        F.max(dead).over(w_cum).alias("exhausted"),
    )
    events = curve.filter(
        (F.col("n_ev") > 0) & (F.col("d") < tau)
    )
    w_lead = Window.orderBy("d")
    s_col = F.when(F.col("exhausted") == 1, F.lit(0.0)).otherwise(
        F.exp(F.col("lnS"))
    )
    strips = events.select(
        "d",
        F.floor(
            s_col
            * (
                F.least(
                    F.coalesce(F.lead("d", 1).over(w_lead), F.lit(tau)),
                    F.lit(tau),
                )
                - F.col("d")
            ).cast("double")
            * 1.0e9
            + F.lit(0.5)
        ).cast("long").alias("a9"),
    )
    agg = strips.agg(
        F.count("*").cast("long").alias("event_days_before_tau"),
        F.min("d").alias("d1"),
        F.sum("a9").cast("long").alias("sa9"),
    )
    rmst = (
        F.least(F.coalesce(F.col("d1"), F.lit(tau)), F.lit(tau))
        .cast("double")
        + F.col("sa9").cast("double") / 1.0e9
    )
    return agg.select(
        F.lit(tau).alias("tau_days"),
        "event_days_before_tau",
        _r6(F.coalesce(rmst, F.lit(float(tau)))).alias("rmst_days"),
    )


registry.register(
    "rmst_survival",
    q_rmst_survival,
    """
    WITH per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t0,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS tp,
             MAX(ts) AS tlast
      FROM events GROUP BY 1
    ),
    cohort AS (
      SELECT CASE WHEN tp >= t0
                  THEN datediff('day', CAST(t0 AS DATE), CAST(tp AS DATE))
                  ELSE datediff('day', CAST(t0 AS DATE), CAST(tlast AS DATE))
             END AS d,
             CASE WHEN tp >= t0 THEN 1 ELSE 0 END AS is_event
      FROM per_user WHERE t0 IS NOT NULL
    ),
    per_d AS (
      SELECT d, SUM(is_event) AS n_ev, COUNT(*) AS n_all
      FROM cohort GROUP BY 1
    ),
    risk AS (
      SELECT d, n_ev,
             SUM(n_all) OVER ()
               - COALESCE(SUM(n_all) OVER (ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM per_d
    ),
    curve AS (
      SELECT d, n_ev,
             SUM(CASE WHEN n_ev > 0 AND n_risk > n_ev
                      THEN LN(CAST(n_risk - n_ev AS DOUBLE)
                              / CAST(n_risk AS DOUBLE))
                      ELSE 0.0 END)
               OVER (ORDER BY d
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS lnS,
             MAX(CASE WHEN n_ev > 0 AND n_risk = n_ev THEN 1 ELSE 0 END)
               OVER (ORDER BY d
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS exhausted
      FROM risk
    ),
    evd AS (
      SELECT d,
             CASE WHEN exhausted = 1 THEN 0.0 ELSE EXP(lnS) END AS s
      FROM curve WHERE n_ev > 0 AND d < 30
    ),
    strips AS (
      SELECT d,
             CAST(FLOOR(s * CAST(LEAST(COALESCE(LEAD(d, 1)
                     OVER (ORDER BY d), 30), 30) - d AS DOUBLE)
                   * 1.0e9 + 0.5) AS BIGINT) AS a9
      FROM evd
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS event_days_before_tau,
             MIN(d) AS d1,
             CAST(SUM(a9) AS BIGINT) AS sa9
      FROM strips
    )
    SELECT 30 AS tau_days,
           event_days_before_tau,
           FLOOR(COALESCE(CAST(LEAST(COALESCE(d1, 30), 30) AS DOUBLE)
                          + CAST(sa9 AS DOUBLE) / 1.0e9, 30.0)
                 * 1000000.0 + 0.5) / 1000000.0 AS rmst_days
    FROM agg
    """,
)
