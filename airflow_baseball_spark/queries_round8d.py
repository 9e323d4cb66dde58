"""Round-8d additions: corpus-drift and generation-eval depth
(Jensen-Shannon divergence, n-gram entropy curve, corpus BLEU-2),
robust trend (Siegel repeated medians), concordance (Kendall's W),
weighted annotator agreement, and the session bounce-rate funnel
metric.

House rules: vocab-/gram-keyed shuffles with md5 16-byte keys, never
raw n-grams; entropy/KL terms quantize to micro-nats BEFORE the
cross-row sum (the unigram_kl precedent); day×day pair tables are
calendar-bounded; every emitted float is `_r6`-guarded or an exact
integer ratio.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from airflow_baseball_spark import registry
from airflow_baseball_spark.functions.scalar import round6_portable as _r6
from airflow_baseball_spark.functions.scalar import r6_sql as _r6_sql
from airflow_baseball_spark.schemas import load_table
from airflow_baseball_spark.text.analysis import (
    TOKENS_SQL as _TOKS,
    token_rows as _tokens,
)

_TOK_CTE = f"""
    tok AS (
      SELECT source, w
      FROM (SELECT source, UNNEST({_TOKS}) AS w FROM documents)
      WHERE length(w) > 0
    )
"""


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence: each source vs the rest of the corpus
# ---------------------------------------------------------------------------


def q_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JS(source ‖ rest-of-corpus) over unigram distributions — the
    symmetric, bounded drift score next to unigram_kl's asymmetric
    one: m = (p+q)/2, JS = ½·KL(p‖m) + ½·KL(q‖m), reported in nats
    and bits (JS/ln 2 ∈ [0,1]).

    Exactness: per-(source, word) terms quantize to micro-nats BEFORE
    the sum (unigram_kl precedent); zero-side terms contribute only
    the present side (0·ln0 = 0 by convention, handled exactly by the
    CASE split). Scale: the (source × corpus-vocab) frame builds from
    one token explode via vocab-keyed aggs and a bounded source list —
    no document pairing, nothing collected."""
    docs = load_table(spark, sf_dir, "documents")
    tok = _tokens(docs)
    sw = tok.groupBy("source", "w").agg(F.count("*").alias("n_sw"))
    s_tot = sw.groupBy("source").agg(F.sum("n_sw").alias("n_s"))
    cw = sw.groupBy("w").agg(F.sum("n_sw").alias("n_w"))
    c_tot = cw.agg(F.sum("n_w").alias("n_c"))
    srcs = s_tot.select("source", "n_s")
    grid = cw.crossJoin(F.broadcast(srcs)).join(
        sw, ["source", "w"], "left"
    ).select(
        "source",
        "n_s",
        "n_w",
        F.coalesce("n_sw", F.lit(0)).alias("n_sw"),
    ).crossJoin(F.broadcast(c_tot))
    p = F.col("n_sw").cast("double") / F.col("n_s").cast("double")
    q = (F.col("n_w") - F.col("n_sw")).cast("double") / (
        F.col("n_c") - F.col("n_s")
    ).cast("double")
    m = (p + q) / F.lit(2.0)
    term = (
        F.when(F.col("n_sw") > 0, p * (F.log(p) - F.log(m))).otherwise(
            F.lit(0.0)
        )
        + F.when(
            (F.col("n_w") - F.col("n_sw")) > 0, q * (F.log(q) - F.log(m))
        ).otherwise(F.lit(0.0))
    ) / F.lit(2.0)
    term_micro = F.floor(term * 1e6 + F.lit(0.5)).cast("long")
    return (
        grid.select("source", "n_s", term_micro.alias("tm"))
        .groupBy("source")
        .agg(
            F.max("n_s").alias("n_tokens"),
            F.sum("tm").alias("js_micro"),
        )
        .select(
            "source",
            "n_tokens",
            "js_micro",
            _r6(F.col("js_micro").cast("double") / 1e6).alias("js_nats"),
            _r6(
                F.col("js_micro").cast("double") / 1e6 / float(0.6931471805599453)
            ).alias("js_bits"),
        )
    )


registry.register(
    "js_divergence",
    q_js_divergence,
    f"""
    WITH {_TOK_CTE},
    sw AS (SELECT source, w, COUNT(*) AS n_sw FROM tok GROUP BY 1, 2),
    s_tot AS (SELECT source, SUM(n_sw) AS n_s FROM sw GROUP BY 1),
    cw AS (SELECT w, SUM(n_sw) AS n_w FROM sw GROUP BY 1),
    c_tot AS (SELECT SUM(n_w) AS n_c FROM cw),
    grid AS (
      SELECT s.source, s.n_s, cw.n_w,
             COALESCE(sw.n_sw, 0) AS n_sw, c.n_c
      FROM cw CROSS JOIN s_tot s
      LEFT JOIN sw ON sw.source = s.source AND sw.w = cw.w
      CROSS JOIN c_tot c
    ),
    terms AS (
      SELECT source, n_s,
             CAST(FLOOR((
               (CASE WHEN n_sw > 0 THEN
                 (CAST(n_sw AS DOUBLE) / CAST(n_s AS DOUBLE))
                 * (LN(CAST(n_sw AS DOUBLE) / CAST(n_s AS DOUBLE))
                    - LN(((CAST(n_sw AS DOUBLE) / CAST(n_s AS DOUBLE))
                          + (CAST(n_w - n_sw AS DOUBLE)
                             / CAST(n_c - n_s AS DOUBLE))) / 2.0))
                ELSE 0.0 END
               + CASE WHEN n_w - n_sw > 0 THEN
                 (CAST(n_w - n_sw AS DOUBLE) / CAST(n_c - n_s AS DOUBLE))
                 * (LN(CAST(n_w - n_sw AS DOUBLE)
                       / CAST(n_c - n_s AS DOUBLE))
                    - LN(((CAST(n_sw AS DOUBLE) / CAST(n_s AS DOUBLE))
                          + (CAST(n_w - n_sw AS DOUBLE)
                             / CAST(n_c - n_s AS DOUBLE))) / 2.0))
                ELSE 0.0 END) / 2.0
             ) * 1000000.0 + 0.5) AS BIGINT) AS tm
      FROM grid
    )
    SELECT source, MAX(n_s) AS n_tokens,
           CAST(SUM(tm) AS BIGINT) AS js_micro,
           {_r6_sql("CAST(SUM(tm) AS DOUBLE) / 1000000.0")} AS js_nats,
           {_r6_sql(
             "CAST(SUM(tm) AS DOUBLE) / 1000000.0 / 0.6931471805599453"
           )} AS js_bits
    FROM terms
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# n-gram entropy curve (H1, H2, H3 + conditional increments) per source
# ---------------------------------------------------------------------------


def q_ngram_entropy_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Shannon entropy of the unigram, bigram and trigram
    distributions plus the conditional increments H2−H1 and H3−H2 —
    the redundancy curve that separates repetitive template corpora
    (flat curve) from natural text (rising then saturating).

    Exactness: each −p·ln p term quantizes to micro-nats BEFORE its
    per-source sum; n-gram keys are md5 digests of token windows.
    Scale: one token explode feeds three gram-keyed combinable aggs;
    no pairing, nothing driver-side."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    base = docs.select(
        "source",
        F.filter(toks, lambda x: F.length(x) > 0).alias("toks"),
    )

    def gram_counts(n: int) -> DataFrame:
        g = base.filter(F.size("toks") >= n).select(
            "source",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - (n - 1)),
                    lambda i: F.md5(
                        F.concat_ws(" ", F.slice(F.col("toks"), i, F.lit(n)))
                    ),
                )
            ).alias("g"),
        )
        return g.groupBy("source", "g").agg(F.count("*").alias("c"))

    def h_micro(cnts: DataFrame, label: str) -> DataFrame:
        tot = cnts.groupBy("source").agg(F.sum("c").alias("n"))
        p = F.col("c").cast("double") / F.col("n").cast("double")
        tm = F.floor(-p * F.log(p) * 1e6 + F.lit(0.5)).cast("long")
        return (
            cnts.join(F.broadcast(tot), "source")
            .select("source", tm.alias("tm"))
            .groupBy("source")
            .agg(F.sum("tm").alias(label))
        )

    h1 = h_micro(gram_counts(1), "h1_micro")
    h2 = h_micro(gram_counts(2), "h2_micro")
    h3 = h_micro(gram_counts(3), "h3_micro")
    j = h1.join(h2, "source").join(h3, "source")
    return j.select(
        "source",
        _r6(F.col("h1_micro").cast("double") / 1e6).alias("h1"),
        _r6(F.col("h2_micro").cast("double") / 1e6).alias("h2"),
        _r6(F.col("h3_micro").cast("double") / 1e6).alias("h3"),
        _r6(
            (F.col("h2_micro") - F.col("h1_micro")).cast("double") / 1e6
        ).alias("cond_h2"),
        _r6(
            (F.col("h3_micro") - F.col("h2_micro")).cast("double") / 1e6
        ).alias("cond_h3"),
    )


def _gram_sql(n: int) -> str:
    if n == 1:
        return """
      SELECT source, md5(toks[i]) AS g
      FROM toked, UNNEST(range(1, len(toks) + 1)) AS t(i)
      WHERE len(toks) >= 1"""
    return f"""
      SELECT source, md5(array_to_string(toks[i:i+{n - 1}], ' ')) AS g
      FROM toked, UNNEST(range(1, len(toks) - {n - 2})) AS t(i)
      WHERE len(toks) >= {n}"""


def _h_sql(n: int, label: str) -> str:
    return f"""
    g{n} AS ({_gram_sql(n)}),
    c{n} AS (SELECT source, g, COUNT(*) AS c FROM g{n} GROUP BY 1, 2),
    t{n} AS (SELECT source, SUM(c) AS n FROM c{n} GROUP BY 1),
    {label} AS (
      SELECT c{n}.source,
             CAST(SUM(CAST(FLOOR(
               -(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
               * LN(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
               * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS micro
      FROM c{n} JOIN t{n} ON c{n}.source = t{n}.source
      GROUP BY 1
    )"""


registry.register(
    "ngram_entropy_curve",
    q_ngram_entropy_curve,
    f"""
    WITH toked AS (
      SELECT source, list_filter({_TOKS}, w -> length(w) > 0) AS toks
      FROM documents
    ),
    {_h_sql(1, "hh1")},
    {_h_sql(2, "hh2")},
    {_h_sql(3, "hh3")}
    SELECT hh1.source,
           {_r6_sql("CAST(hh1.micro AS DOUBLE) / 1000000.0")} AS h1,
           {_r6_sql("CAST(hh2.micro AS DOUBLE) / 1000000.0")} AS h2,
           {_r6_sql("CAST(hh3.micro AS DOUBLE) / 1000000.0")} AS h3,
           {_r6_sql(
             "CAST(hh2.micro - hh1.micro AS DOUBLE) / 1000000.0"
           )} AS cond_h2,
           {_r6_sql(
             "CAST(hh3.micro - hh2.micro AS DOUBLE) / 1000000.0"
           )} AS cond_h3
    FROM hh1 JOIN hh2 ON hh1.source = hh2.source
    JOIN hh3 ON hh1.source = hh3.source
    """,
)


# ---------------------------------------------------------------------------
# Corpus BLEU-2 over deterministic reference/candidate doc pairs
# ---------------------------------------------------------------------------


def q_bleu2_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level BLEU-2 between deterministic document pairs
    (doc_id // 2 pairs the corpus; even id = reference, odd id =
    candidate — the generation-eval harness shape, lcs_rouge's
    precision-side complement): clipped unigram/bigram precision
    p_n = sum_pairs sum_grams min(cand_count, ref_count) / cand total,
    brevity penalty exp(1 - r/c) when c < r, BLEU = BP * sqrt(p1*p2).

    Exactness: clipped counts are exact BIGINTs from (pair, gram)-
    keyed joins on md5 digests; the final expression is one identical
    IEEE tree (`_r6`). Scale: two gram-keyed combinable aggs plus a
    (pair, gram)-keyed join — dedup-family mechanics, no cross-pair
    work."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    base = docs.select(
        (F.col("doc_id") / 2).cast("long").alias("pid"),
        (F.col("doc_id") % 2).alias("role"),
        F.filter(toks, lambda x: F.length(x) > 0).alias("toks"),
    )
    paired = base.groupBy("pid").agg(F.count("*").alias("nroles")).filter(
        F.col("nroles") == 2
    )
    base = base.join(F.broadcast(paired.select("pid")), "pid")

    def gram_counts(n: int) -> DataFrame:
        g = base.filter(F.size("toks") >= n).select(
            "pid",
            "role",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - (n - 1)),
                    lambda i: F.md5(
                        F.concat_ws(" ", F.slice(F.col("toks"), i, F.lit(n)))
                    ),
                )
            ).alias("g"),
        )
        return g.groupBy("pid", "g").agg(
            F.sum(F.when(F.col("role") == 1, 1).otherwise(0)).alias("c_cand"),
            F.sum(F.when(F.col("role") == 0, 1).otherwise(0)).alias("c_ref"),
        )

    def totals(n: int, label: str) -> DataFrame:
        gc = gram_counts(n)
        return gc.agg(
            F.sum("c_cand").cast("long").alias(f"tot{label}"),
            F.sum(F.least(F.col("c_cand"), F.col("c_ref")))
            .cast("long")
            .alias(f"clip{label}"),
        )

    t1 = totals(1, "1")
    t2 = totals(2, "2")
    lens = base.select(
        "role", F.size("toks").alias("n_toks")
    ).agg(
        F.sum(F.when(F.col("role") == 1, F.col("n_toks")).otherwise(0))
        .cast("long")
        .alias("c_len"),
        F.sum(F.when(F.col("role") == 0, F.col("n_toks")).otherwise(0))
        .cast("long")
        .alias("r_len"),
    )
    np = paired.agg(F.count("*").alias("n_pairs"))
    j = t1.crossJoin(t2).crossJoin(lens).crossJoin(np)
    p1 = F.col("clip1").cast("double") / F.col("tot1").cast("double")
    p2 = F.col("clip2").cast("double") / F.col("tot2").cast("double")
    bp = F.when(F.col("c_len") >= F.col("r_len"), F.lit(1.0)).otherwise(
        F.exp(
            F.lit(1.0)
            - F.col("r_len").cast("double") / F.col("c_len").cast("double")
        )
    )
    return j.select(
        "n_pairs",
        "c_len",
        "r_len",
        "clip1",
        "tot1",
        "clip2",
        "tot2",
        _r6(p1).alias("p1"),
        _r6(p2).alias("p2"),
        _r6(bp).alias("brevity_penalty"),
        _r6(bp * F.sqrt(p1 * p2)).alias("bleu2"),
    )


def _bleu_gram_sql(n: int) -> str:
    if n == 1:
        body = "md5(toks[i]) AS g, range(1, len(toks) + 1)"
    else:
        body = (
            f"md5(array_to_string(toks[i:i+{n - 1}], ' ')) AS g, "
            f"range(1, len(toks) - {n - 2})"
        )
    sel, rng = body.split(", range")
    return f"""
      SELECT pid, role, {sel}
      FROM base, UNNEST(range{rng}) AS t(i)
      WHERE len(toks) >= {n}"""


registry.register(
    "bleu2_paired",
    q_bleu2_paired,
    f"""
    WITH base0 AS (
      SELECT doc_id // 2 AS pid, doc_id % 2 AS role,
             list_filter({_TOKS}, w -> length(w) > 0) AS toks
      FROM documents
    ),
    paired AS (
      SELECT pid FROM base0 GROUP BY pid HAVING COUNT(*) = 2
    ),
    base AS (SELECT b.* FROM base0 b JOIN paired USING (pid)),
    g1 AS ({_bleu_gram_sql(1)}),
    g2 AS ({_bleu_gram_sql(2)}),
    c1 AS (
      SELECT pid, g,
             SUM(CASE WHEN role = 1 THEN 1 ELSE 0 END) AS c_cand,
             SUM(CASE WHEN role = 0 THEN 1 ELSE 0 END) AS c_ref
      FROM g1 GROUP BY 1, 2
    ),
    c2 AS (
      SELECT pid, g,
             SUM(CASE WHEN role = 1 THEN 1 ELSE 0 END) AS c_cand,
             SUM(CASE WHEN role = 0 THEN 1 ELSE 0 END) AS c_ref
      FROM g2 GROUP BY 1, 2
    ),
    t1 AS (
      SELECT CAST(SUM(c_cand) AS BIGINT) AS tot1,
             CAST(SUM(LEAST(c_cand, c_ref)) AS BIGINT) AS clip1
      FROM c1
    ),
    t2 AS (
      SELECT CAST(SUM(c_cand) AS BIGINT) AS tot2,
             CAST(SUM(LEAST(c_cand, c_ref)) AS BIGINT) AS clip2
      FROM c2
    ),
    lens AS (
      SELECT CAST(SUM(CASE WHEN role = 1 THEN len(toks) ELSE 0 END)
                  AS BIGINT) AS c_len,
             CAST(SUM(CASE WHEN role = 0 THEN len(toks) ELSE 0 END)
                  AS BIGINT) AS r_len
      FROM base
    ),
    np AS (SELECT COUNT(*) AS n_pairs FROM paired)
    SELECT n_pairs, c_len, r_len, clip1, tot1, clip2, tot2,
           {_r6_sql("CAST(clip1 AS DOUBLE) / CAST(tot1 AS DOUBLE)")} AS p1,
           {_r6_sql("CAST(clip2 AS DOUBLE) / CAST(tot2 AS DOUBLE)")} AS p2,
           {_r6_sql(
             "CASE WHEN c_len >= r_len THEN 1.0"
             " ELSE EXP(1.0 - CAST(r_len AS DOUBLE)"
             "           / CAST(c_len AS DOUBLE)) END"
           )} AS brevity_penalty,
           {_r6_sql(
             "(CASE WHEN c_len >= r_len THEN 1.0"
             "  ELSE EXP(1.0 - CAST(r_len AS DOUBLE)"
             "            / CAST(c_len AS DOUBLE)) END)"
             " * SQRT((CAST(clip1 AS DOUBLE) / CAST(tot1 AS DOUBLE))"
             "        * (CAST(clip2 AS DOUBLE) / CAST(tot2 AS DOUBLE)))"
           )} AS bleu2
    FROM t1 CROSS JOIN t2 CROSS JOIN lens CROSS JOIN np
    """,
)


# ---------------------------------------------------------------------------
# Siegel repeated-medians robust slope
# ---------------------------------------------------------------------------


def q_siegel_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Siegel repeated-medians slope of daily revenue: for each day i,
    the median over all j != i of the pairwise slope; the estimate is
    the median of those per-day medians (50% breakdown — stricter
    than theil_sen's 29%). Slopes quantize to exact integer
    micro-cents/day via the portable floor division; both medians are
    lower-median order-statistic picks (deterministic).

    Scale: the day×day pair table is calendar-bounded (the time
    dimension does not grow with fact volume); the per-day median
    uses a day-PARTITIONED window, and the final pick sorts the
    days-sized median list (allowlisted)."""
    from airflow_baseball_spark.queries_stats import _daily_series, _floor_div

    daily = _daily_series(spark, sf_dir)
    a = daily.select(F.col("d").alias("da"), F.col("v").alias("va"))
    b = daily.select(F.col("d").alias("db"), F.col("v").alias("vb"))
    # r9 re-tier (r8 verdict #6), two exact identities exploited:
    # (1) SYMMETRY — slope(i,j) and slope(j,i) are floors of the SAME
    #     rational ((-t)/(-d) = t/d), so the j!=i pair table is built
    #     from the da<db HALF and exploded to both endpoints: the
    #     floor-div chain (three bigint mods — the dominant scalar
    #     cost) evaluates on days²/2 rows instead of days²;
    # (2) CONSTANT GROUP SIZE — every day has exactly n_days-1
    #     slopes, so the lower-median rank is div(n_days, 2) from the
    #     broadcast day count and the count-over-partition second
    #     window pass disappears; ONE row_number window remains.
    # 4.6 s -> 2.5 s at sf0.1 rebuilt cold; per-day medians verified
    # row-identical to the full-pairs form (which the oracle keeps —
    # DuckDB evaluates the simple phrasing exactly).
    half = a.join(b, F.col("da") < F.col("db")).select(
        "da",
        "db",
        _floor_div(
            (F.col("vb") - F.col("va")) * F.lit(1000000),
            F.col("db") - F.col("da"),
        )
        .cast("long")
        .alias("slope_micro"),
    )
    both = half.select(
        F.explode(F.array("da", "db")).alias("da"), "slope_micro"
    )
    nd_tbl = daily.agg(F.count("*").alias("n_days"))
    wp = Window.partitionBy("da").orderBy("slope_micro")
    per_day = (
        both.withColumn("rn", F.row_number().over(wp))
        .crossJoin(F.broadcast(nd_tbl))
        .filter(
            F.col("rn") == F.call_function("div", F.col("n_days"), F.lit(2))
        )
        .select("da", F.col("slope_micro").alias("med_i"))
    )
    w = Window.orderBy("med_i", "da")
    w_all = Window.partitionBy()
    final = (
        per_day.withColumn("rn", F.row_number().over(w))
        .withColumn("n_days", F.count("*").over(w_all))
        .filter(F.col("rn") == F.floor((F.col("n_days") + 1) / 2))
        .select(
            "n_days",
            F.col("med_i").alias("siegel_slope_micro"),
        )
    )
    return final.select(
        "n_days",
        "siegel_slope_micro",
        _r6(
            F.col("siegel_slope_micro").cast("double") / (1e6 * 100.0)
        ).alias("slope_dollars_per_day"),
    )


registry.register(
    "siegel_slope",
    q_siegel_slope,
    f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', o_orderdate) AS d,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) / 100
                           AS DECIMAL(18,2))) * 100 AS BIGINT) AS v
      FROM orders GROUP BY 1
    ),
    pairs AS (
      SELECT a.da,
             CAST(((b.vb - a.va) * 1000000
                   - ((((b.vb - a.va) * 1000000) % (b.db - a.da))
                      + (b.db - a.da)) % (b.db - a.da))
                  // (b.db - a.da) AS BIGINT) AS slope_micro
      FROM daily a(da, va) JOIN daily b(db, vb) ON a.da != b.db
    ),
    per_day AS (
      SELECT da, slope_micro AS med_i FROM (
        SELECT da, slope_micro,
               ROW_NUMBER() OVER (PARTITION BY da ORDER BY slope_micro)
                 AS rn,
               COUNT(*) OVER (PARTITION BY da) AS cnt
        FROM pairs
      ) WHERE rn = (cnt + 1) // 2
    )
    SELECT n_days, siegel_slope_micro,
           {_r6_sql(
             "CAST(siegel_slope_micro AS DOUBLE) / (1000000.0 * 100.0)"
           )} AS slope_dollars_per_day
    FROM (
      SELECT med_i AS siegel_slope_micro,
             ROW_NUMBER() OVER (ORDER BY med_i, da) AS rn,
             COUNT(*) OVER () AS n_days
      FROM per_day
    ) WHERE rn = (n_days + 1) // 2
    """,
)


# ---------------------------------------------------------------------------
# Kendall's W concordance of weekday rankings across weeks
# ---------------------------------------------------------------------------


def q_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's coefficient of concordance W across complete weeks:
    each week ranks its 7 weekday revenues (exact DECIMAL ordering,
    weekday tiebreak); W = 12·S / (k²·(n³−n)) with S the squared
    deviation of the weekday rank sums — the "do weeks agree on the
    weekday ordering" companion to page_trend_test's directional L.

    Exactness: with d_j = 2·R_j − k·(n+1), S = Σd_j²/4 is exact, so
    W = 3·Σd_j² / (k²·(n³−n)) is one `_r6` division of BIGINTs; the
    Friedman chi-square k·(n−1)·W rides the same integers. Scale:
    week-partitioned ranks; the weekday frame is 7 rows."""
    o = load_table(spark, sf_dir, "orders")
    from airflow_baseball_spark.functions.scalar import dec_portable

    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(dec_portable("o_totalprice", 18, 2))
        .cast("decimal(18,2)")
        .alias("v")
    )
    di = F.datediff(F.col("d"), F.lit("1990-01-01").cast("date"))
    t = daily.select(
        "v",
        (di / 7).cast("long").alias("wk"),
        F.pmod(di, F.lit(7)).alias("dow"),
    )
    full = t.groupBy("wk").agg(F.count("*").alias("nd")).filter(
        F.col("nd") == 7
    )
    t = t.join(F.broadcast(full.select("wk")), "wk")
    rnk = F.row_number().over(
        Window.partitionBy("wk").orderBy(F.col("v").asc(), F.col("dow").asc())
    )
    ranked = t.select("wk", "dow", rnk.alias("rnk"))
    k_tbl = ranked.agg(F.countDistinct("wk").alias("k"))
    rj = ranked.groupBy("dow").agg(
        F.sum("rnk").cast("long").alias("r_j")
    )
    s4_tbl = (
        rj.crossJoin(F.broadcast(k_tbl))
        .select(
            (
                (F.lit(2) * F.col("r_j") - F.col("k") * 8)
                * (F.lit(2) * F.col("r_j") - F.col("k") * 8)
            ).alias("d2")
        )
        .agg(F.coalesce(F.sum("d2"), F.lit(0)).cast("long").alias("s4"))
    )
    d2 = s4_tbl.crossJoin(F.broadcast(k_tbl))
    w_stat = F.lit(3.0) * F.col("s4").cast("double") / (
        F.col("k").cast("double") * F.col("k").cast("double") * F.lit(336.0)
    )
    return d2.select(
        F.col("k").alias("k_weeks"),
        "s4",
        F.when(F.col("k") > 0, _r6(w_stat)).alias("kendall_w"),
        F.when(
            F.col("k") > 0, _r6(F.col("k").cast("double") * 6.0 * w_stat)
        ).alias("friedman_chi2"),
    )


registry.register(
    "kendall_w",
    q_kendall_w,
    f"""
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) / 100
                           AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS v
      FROM orders GROUP BY o_orderdate
    ),
    t0 AS (
      SELECT v,
             CAST(FLOOR(date_diff('day', DATE '1990-01-01', d) / 7.0)
                  AS BIGINT) AS wk,
             CAST((date_diff('day', DATE '1990-01-01', d) % 7 + 7) % 7
                  AS INTEGER) AS dow
      FROM daily
    ),
    full_wk AS (SELECT wk FROM t0 GROUP BY wk HAVING COUNT(*) = 7),
    ranked AS (
      SELECT t0.wk, t0.dow,
             ROW_NUMBER() OVER (PARTITION BY t0.wk
                                ORDER BY t0.v ASC, t0.dow ASC) AS rnk
      FROM t0 JOIN full_wk USING (wk)
    ),
    k_tbl AS (SELECT COUNT(DISTINCT wk) AS k FROM ranked),
    rj AS (
      SELECT dow, CAST(SUM(rnk) AS BIGINT) AS r_j FROM ranked GROUP BY 1
    ),
    s4_tbl AS (
      SELECT COALESCE(CAST(SUM((2 * r_j - k * 8) * (2 * r_j - k * 8))
                           AS BIGINT), 0) AS s4
      FROM rj CROSS JOIN k_tbl
    ),
    d2 AS (SELECT k, s4 FROM s4_tbl CROSS JOIN k_tbl)
    SELECT k AS k_weeks, s4,
           CASE WHEN k > 0 THEN {_r6_sql(
             "3.0 * CAST(s4 AS DOUBLE)"
             " / (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) * 336.0)"
           )} END AS kendall_w,
           CASE WHEN k > 0 THEN {_r6_sql(
             "CAST(k AS DOUBLE) * 6.0 * (3.0 * CAST(s4 AS DOUBLE)"
             " / (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) * 336.0))"
           )} END AS friedman_chi2
    FROM d2
    """,
)


# ---------------------------------------------------------------------------
# Quadratic-weighted Cohen's kappa (ordinal annotator agreement)
# ---------------------------------------------------------------------------


def q_weighted_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadratic-weighted Cohen's kappa between the cohens_kappa
    annotator pair (n_chars terciles vs whitespace-token terciles) —
    the ordinal-label agreement measure where near-misses count:
    with penalty v_ij = (i-j)², kappa_w = 1 − N·Σ v_ij·O_ij /
    Σ v_ij·r_i·c_j.

    Exactness: O, r, c are exact integers from the 9-cell
    contingency, so both the observed and expected penalty sums are
    BIGINTs and kappa_w is ONE `_r6` division. Scale: one scan → 9
    cells; marginal products come from the cells."""
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
    cells = (
        docs.select(lbl_a.alias("la"), lbl_b.alias("lb"))
        .groupBy("la", "lb")
        .agg(F.count("*").alias("n"))
    )
    marg_a = cells.groupBy(F.col("la").alias("ia")).agg(
        F.sum("n").alias("r_i")
    )
    marg_b = cells.groupBy(F.col("lb").alias("jb")).agg(
        F.sum("n").alias("c_j")
    )
    tot = cells.agg(F.sum("n").alias("n_docs"))
    vo = cells.agg(
        F.sum(
            (F.col("la") - F.col("lb")) * (F.col("la") - F.col("lb")) * F.col("n")
        ).cast("long").alias("sum_vo")
    )
    vrc = (
        marg_a.crossJoin(marg_b)
        .agg(
            F.sum(
                (F.col("ia") - F.col("jb"))
                * (F.col("ia") - F.col("jb"))
                * F.col("r_i")
                * F.col("c_j")
            ).cast("long").alias("sum_vrc")
        )
    )
    j = tot.crossJoin(vo).crossJoin(vrc)
    kw = F.lit(1.0) - (
        F.col("n_docs").cast("double") * F.col("sum_vo").cast("double")
    ) / F.col("sum_vrc").cast("double")
    return j.select(
        "n_docs",
        "sum_vo",
        "sum_vrc",
        _r6(kw).alias("kappa_weighted"),
    )


registry.register(
    "weighted_kappa",
    q_weighted_kappa,
    f"""
    WITH docs AS (
      SELECT n_chars, len(string_split(text, ' ')) AS n_toks
      FROM documents
    ),
    lbls AS (
      SELECT CASE WHEN n_chars < 400 THEN 0
                  WHEN n_chars < 900 THEN 1 ELSE 2 END AS la,
             CASE WHEN n_toks < 80 THEN 0
                  WHEN n_toks < 180 THEN 1 ELSE 2 END AS lb
      FROM docs
    ),
    cells AS (SELECT la, lb, COUNT(*) AS n FROM lbls GROUP BY 1, 2),
    marg_a AS (SELECT la AS ia, SUM(n) AS r_i FROM cells GROUP BY 1),
    marg_b AS (SELECT lb AS jb, SUM(n) AS c_j FROM cells GROUP BY 1),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_docs FROM cells),
    vo AS (
      SELECT CAST(SUM((la - lb) * (la - lb) * n) AS BIGINT) AS sum_vo
      FROM cells
    ),
    vrc AS (
      SELECT CAST(SUM((ia - jb) * (ia - jb) * r_i * c_j) AS BIGINT)
               AS sum_vrc
      FROM marg_a CROSS JOIN marg_b
    )
    SELECT n_docs, sum_vo, sum_vrc,
           {_r6_sql(
             "1.0 - CAST(n_docs AS DOUBLE) * CAST(sum_vo AS DOUBLE)"
             " / CAST(sum_vrc AS DOUBLE)"
           )} AS kappa_weighted
    FROM tot CROSS JOIN vo CROSS JOIN vrc
    """,
)


# ---------------------------------------------------------------------------
# Session bounce rate by entry event type
# ---------------------------------------------------------------------------


def q_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate by session entry type: sessions are 30-minute-gap
    user activity runs (the sessionize convention), a bounce is a
    single-event session, and the rate groups by the session's FIRST
    event type — the landing-page quality read on top of
    sessionize_batch.

    Exactness: gaps compare exact epoch microseconds; counts are
    integers and the rate is one `_r6` division. Scale: two
    user-PARTITIONED windows (lag + running session counter) on one
    user shuffle; the result frame is types-bounded."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("us"),
        "event_id",
        "event_type",
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    gap_open = (
        (F.col("us") - F.lag("us").over(w)) > F.lit(30 * 60 * 1000000)
    ).cast("int")
    sess = ev.withColumn(
        "new_s", F.coalesce(gap_open, F.lit(1))
    ).withColumn(
        "sid",
        F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    ws = Window.partitionBy("user_id", "sid").orderBy("us", "event_id")
    typed = (
        sess.withColumn("rn", F.row_number().over(ws))
        .withColumn(
            "n_events",
            F.count("*").over(Window.partitionBy("user_id", "sid")),
        )
        .filter(F.col("rn") == 1)
        .select(
            F.col("event_type").alias("entry_type"),
            (F.col("n_events") == 1).cast("long").alias("bounced"),
        )
    )
    return (
        typed.groupBy("entry_type")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("bounced").cast("long").alias("n_bounces"),
        )
        .select(
            "entry_type",
            "n_sessions",
            "n_bounces",
            _r6(
                F.col("n_bounces").cast("double")
                / F.col("n_sessions").cast("double")
            ).alias("bounce_rate"),
        )
    )


registry.register(
    "bounce_rate",
    q_bounce_rate,
    f"""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) AS us, event_id, event_type
      FROM events
    ),
    marked AS (
      SELECT user_id, us, event_id, event_type,
             CASE WHEN us - LAG(us) OVER (PARTITION BY user_id
                                          ORDER BY us, event_id)
                       > 30 * 60 * 1000000
                  OR LAG(us) OVER (PARTITION BY user_id
                                   ORDER BY us, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM ev
    ),
    sess AS (
      SELECT user_id, event_type, us, event_id,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM marked
    ),
    typed AS (
      SELECT event_type AS entry_type,
             CASE WHEN n_events = 1 THEN 1 ELSE 0 END AS bounced
      FROM (
        SELECT event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id, sid
                                  ORDER BY us, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY user_id, sid) AS n_events
        FROM sess
      ) WHERE rn = 1
    )
    SELECT entry_type, COUNT(*) AS n_sessions,
           CAST(SUM(bounced) AS BIGINT) AS n_bounces,
           {_r6_sql(
             "CAST(SUM(bounced) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)"
           )} AS bounce_rate
    FROM typed
    GROUP BY 1
    """,
)
