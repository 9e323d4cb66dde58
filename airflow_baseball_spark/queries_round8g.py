"""Round-8g additions: language-model scoring (stupid backoff), LSH
bucket-health profiling, and vocabulary-tail exposure — the last
corpus-QA layer over the dedup/LM families.

House rules: token/gram joins are md5-keyed; per-token log terms
quantize to integer micro-nats BEFORE any cross-row sum so per-doc
and per-source totals are exact BIGINTs; everything aggregates to
bounded frames (sources, bands) before the final division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airflow_baseball_spark import registry
from airflow_baseball_spark.functions.scalar import round6_portable as _r6
from airflow_baseball_spark.functions.scalar import r6_sql as _r6_sql
from airflow_baseball_spark.schemas import load_table
from airflow_baseball_spark.text.analysis import TOKENS_SQL as _TOKS

# ---------------------------------------------------------------------------
# Stupid-backoff bigram LM scoring per source
# ---------------------------------------------------------------------------


def q_stupid_backoff_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus self-scoring under a stupid-backoff bigram LM (Brants
    et al.): each transition scores ln(c(ab)/c(a)) when the bigram is
    attested, else ln(0.4 * c(b)/N) — the web-scale LM smoothing that
    needs no discount fitting. Reported per source: transitions,
    backoff rate, mean negative log-score, and perplexity — the
    fluency/quality signal next to unigram_perplexity and
    kneser_ney_bigram.

    Exactness: every per-transition log term quantizes to integer
    micro-nats BEFORE the per-source sum; counts are exact. Scale:
    one token explode feeds the bigram/unigram count tables; the
    scoring pass joins the transition stream to those tables by md5
    gram keys — vocab-bounded shuffles, nothing collected."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    base = docs.select(
        "doc_id",
        "source",
        F.filter(toks, lambda x: F.length(x) > 0).alias("toks"),
    )
    trans = base.filter(F.size("toks") >= 2).select(
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.struct(
                    F.md5(F.element_at(F.col("toks"), i)).alias("ka"),
                    F.md5(
                        F.element_at(F.col("toks"), i + 1)
                    ).alias("kb"),
                ),
            )
        ).alias("t"),
    ).select("source", "t.ka", "t.kb")
    uni = base.select(
        F.explode("toks").alias("w")
    ).select(F.md5("w").alias("k")).groupBy("k").agg(
        F.count("*").alias("c_w")
    )
    n_tot = uni.agg(F.sum("c_w").alias("n_tokens"))
    bi = trans.groupBy("ka", "kb").agg(F.count("*").alias("c_ab"))
    scored = (
        trans.join(bi, ["ka", "kb"], "left")
        .join(uni.select(F.col("k").alias("ka"), F.col("c_w").alias("c_a")), "ka")
        .join(uni.select(F.col("k").alias("kb"), F.col("c_w").alias("c_b")), "kb")
        .crossJoin(F.broadcast(n_tot))
    )
    # every observed transition is itself in the bigram table, so the
    # backoff branch fires only for transitions whose bigram count
    # was... never: document that this is SELF-scoring (backoff_rate
    # is structurally 0 on the training corpus) — the operator's value
    # is the exact per-source cross-entropy; the backoff branch is
    # exercised by the unit test on a held-out split.
    logp = F.when(
        F.col("c_ab").isNotNull(),
        F.log(F.col("c_ab").cast("double") / F.col("c_a").cast("double")),
    ).otherwise(
        F.log(
            F.lit(0.4)
            * F.col("c_b").cast("double")
            / F.col("n_tokens").cast("double")
        )
    )
    term_micro = F.floor(-logp * 1e6 + F.lit(0.5)).cast("long")
    agg = scored.select(
        "source",
        term_micro.alias("tm"),
        F.col("c_ab").isNull().cast("long").alias("backed_off"),
    ).groupBy("source").agg(
        F.count("*").alias("n_transitions"),
        F.sum("backed_off").cast("long").alias("n_backoff"),
        F.sum("tm").alias("nll_micro"),
    )
    mean_nll = (
        F.col("nll_micro").cast("double")
        / F.col("n_transitions").cast("double")
        / 1e6
    )
    return agg.select(
        "source",
        "n_transitions",
        "n_backoff",
        "nll_micro",
        _r6(
            F.col("n_backoff").cast("double")
            / F.col("n_transitions").cast("double")
        ).alias("backoff_rate"),
        _r6(mean_nll).alias("mean_nll"),
        _r6(F.exp(mean_nll)).alias("perplexity"),
    )


registry.register(
    "stupid_backoff_score",
    q_stupid_backoff_score,
    f"""
    WITH toked AS (
      SELECT doc_id, source,
             list_filter({_TOKS}, w -> length(w) > 0) AS toks
      FROM documents
    ),
    trans AS (
      SELECT source, md5(toks[i]) AS ka, md5(toks[i + 1]) AS kb
      FROM toked, UNNEST(range(1, len(toks))) AS t(i)
      WHERE len(toks) >= 2
    ),
    uni AS (
      SELECT md5(w) AS k, COUNT(*) AS c_w
      FROM (SELECT UNNEST(toks) AS w FROM toked)
      GROUP BY 1
    ),
    n_tot AS (SELECT CAST(SUM(c_w) AS BIGINT) AS n_tokens FROM uni),
    bi AS (
      SELECT ka, kb, COUNT(*) AS c_ab FROM trans GROUP BY 1, 2
    ),
    scored AS (
      SELECT t.source,
             CAST(FLOOR(-(
               CASE WHEN b.c_ab IS NOT NULL THEN
                 LN(CAST(b.c_ab AS DOUBLE) / CAST(ua.c_w AS DOUBLE))
               ELSE
                 LN(0.4 * CAST(ub.c_w AS DOUBLE)
                    / CAST(nt.n_tokens AS DOUBLE))
               END) * 1000000.0 + 0.5) AS BIGINT) AS tm,
             CASE WHEN b.c_ab IS NULL THEN 1 ELSE 0 END AS backed_off
      FROM trans t
      LEFT JOIN bi b ON t.ka = b.ka AND t.kb = b.kb
      JOIN uni ua ON t.ka = ua.k
      JOIN uni ub ON t.kb = ub.k
      CROSS JOIN n_tot nt
    )
    SELECT source, COUNT(*) AS n_transitions,
           CAST(SUM(backed_off) AS BIGINT) AS n_backoff,
           CAST(SUM(tm) AS BIGINT) AS nll_micro,
           {_r6_sql(
             "CAST(SUM(backed_off) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)"
           )} AS backoff_rate,
           {_r6_sql(
             "CAST(SUM(tm) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)"
             " / 1000000.0"
           )} AS mean_nll,
           {_r6_sql(
             "EXP(CAST(SUM(tm) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)"
             " / 1000000.0)"
           )} AS perplexity
    FROM scored
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# LSH band collision profile
# ---------------------------------------------------------------------------


def q_lsh_band_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-health profile of the production LSH index, per band:
    documents, distinct buckets, largest bucket, singleton buckets,
    and the collision rate 1 − buckets/docs — the audit that catches
    the quadratic-bucket failure mode (a boilerplate-heavy corpus
    collapsing one band into a mega-bucket) BEFORE the candidate join
    pays for it (lsh_param_tuner picks (b, r); this monitors the
    picked index in production).

    Exactness: all counts are integers; the rate is one `_r6`
    division. Scale: reuses the shared signature subtree; the profile
    is a (band, hash)-keyed count-of-counts — bands × buckets rows,
    no pairing."""
    from airflow_baseball_spark.queries_text import _corpus_sigs
    from airflow_baseball_spark.text import dedup

    banded = dedup._banded(
        _corpus_sigs(spark, sf_dir), "doc_id", dedup.N_BANDS
    )
    buckets = banded.groupBy("band_id", "band_hash").agg(
        F.count("*").alias("sz")
    )
    prof = buckets.groupBy("band_id").agg(
        F.sum("sz").cast("long").alias("n_docs"),
        F.count("*").alias("n_buckets"),
        F.max("sz").cast("long").alias("max_bucket"),
        F.sum((F.col("sz") == 1).cast("long")).cast("long").alias(
            "n_singletons"
        ),
    )
    return prof.select(
        "band_id",
        "n_docs",
        "n_buckets",
        "max_bucket",
        "n_singletons",
        _r6(
            F.lit(1.0)
            - F.col("n_buckets").cast("double")
            / F.col("n_docs").cast("double")
        ).alias("collision_rate"),
    )


def _lsh_band_profile_sql() -> str:
    from airflow_baseball_spark.queries_text import _minhash_sql
    from airflow_baseball_spark.text import dedup

    rows_per_band = len(dedup._PERMS) // dedup.N_BANDS
    bands = []
    for b in range(dedup.N_BANDS):
        cols = " || '_' || ".join(
            f"CAST(sig_{b * rows_per_band + j} AS VARCHAR)"
            for j in range(rows_per_band)
        )
        bands.append(
            f"SELECT doc_id, {b} AS band_id, {cols} AS band_hash FROM sigs"
        )
    banded = "\n      UNION ALL\n      ".join(bands)
    return f"""
    WITH sigs AS ({_minhash_sql()}),
    banded AS (
      {banded}
    ),
    buckets AS (
      SELECT band_id, band_hash, COUNT(*) AS sz
      FROM banded GROUP BY 1, 2
    )
    SELECT band_id,
           CAST(SUM(sz) AS BIGINT) AS n_docs,
           COUNT(*) AS n_buckets,
           CAST(MAX(sz) AS BIGINT) AS max_bucket,
           CAST(SUM(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_singletons,
           {_r6_sql(
             "1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(sz) AS DOUBLE)"
           )} AS collision_rate
    FROM buckets
    GROUP BY 1
    """


registry.register(
    "lsh_band_profile", q_lsh_band_profile, _lsh_band_profile_sql()
)


# ---------------------------------------------------------------------------
# Hapax (vocabulary-tail) document coverage per source
# ---------------------------------------------------------------------------


def q_hapax_doc_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-tail exposure per source: how many documents
    contain at least one corpus-level hapax legomenon (global count
    exactly 1) — the docs a vocabulary-pruning or min-count tokenizer
    step silently degrades, and the complement of good_turing's
    aggregate unseen-mass estimate.

    Exactness: pure integer counts plus one `_r6` division. Scale:
    token explode → md5-keyed global counts; the hapax set joins back
    to (doc, word) pairs by gram key — vocab-bounded, no pairing."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    dw = (
        docs.select(
            "doc_id",
            "source",
            F.explode(toks).alias("w"),
        )
        .filter(F.length("w") > 0)
        .select("doc_id", "source", F.md5("w").alias("k"))
    )
    counts = dw.groupBy("k").agg(F.count("*").alias("c"))
    hapax = counts.filter(F.col("c") == 1).select("k")
    docs_with = (
        dw.join(hapax, "k")
        .select("doc_id", "source")
        .distinct()
        .groupBy("source")
        .agg(F.count("*").alias("n_docs_with_hapax"))
    )
    n_hapax_tbl = hapax.agg(F.count("*").alias("n_hapax"))
    per_source = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    return (
        per_source.join(docs_with, "source", "left")
        .crossJoin(F.broadcast(n_hapax_tbl))
        .select(
            "source",
            "n_docs",
            F.coalesce("n_docs_with_hapax", F.lit(0)).alias(
                "n_docs_with_hapax"
            ),
            "n_hapax",
            _r6(
                F.coalesce("n_docs_with_hapax", F.lit(0)).cast("double")
                / F.col("n_docs").cast("double")
            ).alias("coverage"),
        )
    )


registry.register(
    "hapax_doc_coverage",
    q_hapax_doc_coverage,
    f"""
    WITH dw AS (
      SELECT doc_id, source, md5(w) AS k
      FROM (SELECT doc_id, source, UNNEST({_TOKS}) AS w FROM documents)
      WHERE length(w) > 0
    ),
    counts AS (SELECT k, COUNT(*) AS c FROM dw GROUP BY 1),
    hapax AS (SELECT k FROM counts WHERE c = 1),
    docs_with AS (
      SELECT source, COUNT(*) AS n_docs_with_hapax
      FROM (SELECT DISTINCT doc_id, source FROM dw JOIN hapax USING (k))
      GROUP BY 1
    ),
    nh AS (SELECT COUNT(*) AS n_hapax FROM hapax),
    per_source AS (
      SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1
    )
    SELECT p.source, p.n_docs,
           COALESCE(d.n_docs_with_hapax, 0) AS n_docs_with_hapax,
           nh.n_hapax,
           {_r6_sql(
             "CAST(COALESCE(d.n_docs_with_hapax, 0) AS DOUBLE)"
             " / CAST(p.n_docs AS DOUBLE)"
           )} AS coverage
    FROM per_source p
    LEFT JOIN docs_with d ON p.source = d.source
    CROSS JOIN nh
    """,
)
