"""Round-8 additions: generation-diversity and lexical-quality
metrics over ``documents`` — the standard text-corpus health checks a
training-data pipeline runs next to dedup (distinct-n, type/token,
per-source KL drift, shingle containment).

House rules throughout: whitespace tokenization (byte-safe — identical
on both engines for any text vintage), md5 gram keys (16-byte shuffle
payload, never raw n-grams), integer-exact hash surfaces with the one
`_r6`-bounded float division at the end (entropy precedent), no
pairwise work without a blocking key and a hot-key cap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airflow_baseball_spark import registry
from airflow_baseball_spark.functions.scalar import round6_portable as _r6
from airflow_baseball_spark.schemas import load_table
from airflow_baseball_spark.text.analysis import (
    TOKENS_SQL as _TOKS,
    token_rows as _tokens,
)


# ---------------------------------------------------------------------------
# distinct-n diversity (the generation-eval distinct-1 / distinct-2)
# ---------------------------------------------------------------------------


def q_distinct_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-1 / distinct-2 ratios — the diversity
    metric used to catch mode collapse in generated corpora (Li et
    al.'s distinct-n): distinct unigrams over total tokens, distinct
    word-bigrams over total bigrams.

    Scale: tokens explode once; both distinct counts are gram-keyed
    aggs (md5 16-byte keys for bigrams), so the plan is two
    map-combinable shuffles keyed by (source, gram) — no document
    pairing, no collect. The two ratios are single divisions of exact
    BIGINTs (`_r6`)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    base = docs.select("source", toks.alias("toks"))
    uni = base.select("source", F.explode("toks").alias("w")).filter(
        F.length("w") > 0
    )
    uni_stats = uni.groupBy("source").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("w").alias("n_types"),
    )
    bigrams = base.filter(F.size("toks") >= 2).select(
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.md5(
                    F.concat_ws(" ", F.slice(F.col("toks"), i, F.lit(2)))
                ),
            )
        ).alias("g"),
    )
    bi_stats = bigrams.groupBy("source").agg(
        F.count("*").alias("n_bigrams"),
        F.countDistinct("g").alias("n_bigram_types"),
    )
    return (
        uni_stats.join(bi_stats, "source")
        .select(
            "source",
            "n_tokens",
            "n_types",
            "n_bigrams",
            "n_bigram_types",
            _r6(
                F.col("n_types").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("distinct1"),
            _r6(
                F.col("n_bigram_types").cast("double")
                / F.col("n_bigrams").cast("double")
            ).alias("distinct2"),
        )
    )


registry.register(
    "distinct_ngrams",
    q_distinct_ngrams,
    f"""
    WITH toked AS (
      SELECT doc_id, source, {_TOKS} AS toks FROM documents
    ),
    uni AS (
      SELECT source, COUNT(*) AS n_tokens, COUNT(DISTINCT w) AS n_types
      FROM (SELECT source, UNNEST(toks) AS w FROM toked)
      WHERE length(w) > 0
      GROUP BY 1
    ),
    bi AS (
      SELECT source, COUNT(*) AS n_bigrams,
             COUNT(DISTINCT g) AS n_bigram_types
      FROM (
        SELECT source,
               md5(toks[i] || ' ' || toks[i + 1]) AS g
        FROM toked, UNNEST(range(1, len(toks))) AS t(i)
        WHERE len(toks) >= 2
      )
      GROUP BY 1
    )
    SELECT u.source, n_tokens, n_types, n_bigrams, n_bigram_types,
           FLOOR(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS distinct1,
           FLOOR(CAST(n_bigram_types AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS distinct2
    FROM uni u JOIN bi b ON u.source = b.source
    """,
)


# ---------------------------------------------------------------------------
# type/token ratio + hapax share (lexical-quality screen)
# ---------------------------------------------------------------------------


def q_type_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source type/token ratio and hapax share (fraction of types
    occurring exactly once) — the cheap lexical-richness screen that
    separates boilerplate-heavy sources from natural text. One
    (source, word)-keyed count (map-combinable), one source-keyed
    rollup; ratios are exact-integer divisions."""
    tok = _tokens(load_table(spark, sf_dir, "documents"))
    wc = tok.groupBy("source", "w").agg(F.count("*").alias("n"))
    return (
        wc.groupBy("source")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.count("*").alias("n_types"),
            F.count(F.when(F.col("n") == 1, 1)).alias("n_hapax"),
        )
        .select(
            "source",
            "n_tokens",
            "n_types",
            "n_hapax",
            _r6(
                F.col("n_types").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("ttr"),
            _r6(
                F.col("n_hapax").cast("double")
                / F.col("n_types").cast("double")
            ).alias("hapax_share"),
        )
    )


registry.register(
    "type_token_ratio",
    q_type_token_ratio,
    f"""
    WITH wc AS (
      SELECT source, w, COUNT(*) AS n
      FROM (
        SELECT source, UNNEST({_TOKS}) AS w FROM documents
      )
      WHERE length(w) > 0
      GROUP BY 1, 2
    )
    SELECT source,
           SUM(n) AS n_tokens,
           COUNT(*) AS n_types,
           SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS n_hapax,
           FLOOR(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS ttr,
           FLOOR(CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS hapax_share
    FROM wc GROUP BY source
    """,
)


# ---------------------------------------------------------------------------
# per-source unigram KL vs the corpus (mixture drift)
# ---------------------------------------------------------------------------


def q_unigram_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(source ‖ corpus) over the unigram distribution, with add-one
    smoothing on the corpus side — the drift score that flags a source
    whose vocabulary usage diverges from the mixture it feeds.

    Exactness: the KL sum is Σ_w p_s(w)·ln(p_s(w)/q(w)) over exact
    integer counts; per-term floats are an identical IEEE/libm
    expression tree on both engines (LN verified engine-identical by
    the retired probe_engine_echo), and the cross-term reduction is
    the house entropy precedent: quantize each term to micro-nats
    BEFORE the sum, so summation order cannot move the hash.

    Scale: counts are (source, word)- and word-keyed aggs; the KL join
    is word-keyed between two vocabulary-bounded tables. Nothing
    pairwise, nothing collected."""
    tok = _tokens(load_table(spark, sf_dir, "documents"))
    sw = tok.groupBy("source", "w").agg(F.count("*").alias("n_sw"))
    s_tot = sw.groupBy("source").agg(F.sum("n_sw").alias("n_s"))
    cw = sw.groupBy("w").agg(F.sum("n_sw").alias("n_w"))
    c_tot = cw.agg(
        F.sum("n_w").alias("n_c"), F.count("*").alias("v")
    )
    j = (
        sw.join(F.broadcast(s_tot), "source")
        .join(cw, "w")
        .crossJoin(F.broadcast(c_tot))
    )
    p_s = F.col("n_sw").cast("double") / F.col("n_s").cast("double")
    q_c = (F.col("n_w").cast("double") + 1.0) / (
        F.col("n_c").cast("double") + F.col("v").cast("double")
    )
    term_micro = F.floor(
        p_s * (F.log(p_s) - F.log(q_c)) * 1e6 + F.lit(0.5)
    ).cast("long")
    return (
        j.groupBy("source")
        .agg(
            F.max("n_s").alias("n_tokens"),
            F.count("*").alias("n_terms"),
            F.sum(term_micro).alias("kl_micro"),
        )
        .select(
            "source",
            "n_tokens",
            "n_terms",
            "kl_micro",
            _r6(F.col("kl_micro").cast("double") / 1e6).alias("kl_nats"),
        )
    )


registry.register(
    "unigram_kl",
    q_unigram_kl,
    f"""
    WITH tok AS (
      SELECT source, w
      FROM (SELECT source, UNNEST({_TOKS}) AS w FROM documents)
      WHERE length(w) > 0
    ),
    sw AS (SELECT source, w, COUNT(*) AS n_sw FROM tok GROUP BY 1, 2),
    s_tot AS (SELECT source, SUM(n_sw) AS n_s FROM sw GROUP BY 1),
    cw AS (SELECT w, SUM(n_sw) AS n_w FROM sw GROUP BY 1),
    c_tot AS (SELECT SUM(n_w) AS n_c, COUNT(*) AS v FROM cw),
    terms AS (
      SELECT sw.source,
             s_tot.n_s,
             CAST(FLOOR(
               (CAST(n_sw AS DOUBLE) / CAST(n_s AS DOUBLE))
               * (LN(CAST(n_sw AS DOUBLE) / CAST(n_s AS DOUBLE))
                  - LN((CAST(n_w AS DOUBLE) + 1.0)
                       / (CAST(n_c AS DOUBLE) + CAST(v AS DOUBLE))))
               * 1e6 + 0.5) AS BIGINT) AS term_micro
      FROM sw
      JOIN s_tot ON sw.source = s_tot.source
      JOIN cw ON sw.w = cw.w
      CROSS JOIN c_tot
    )
    SELECT source,
           MAX(n_s) AS n_tokens,
           COUNT(*) AS n_terms,
           SUM(term_micro) AS kl_micro,
           FLOOR(CAST(SUM(term_micro) AS DOUBLE) / 1e6
                 * 1000000.0 + 0.5) / 1000000.0 AS kl_nats
    FROM terms GROUP BY source
    """,
)


# ---------------------------------------------------------------------------
# shingle containment (asymmetric near-dup: quote/subset detection)
# ---------------------------------------------------------------------------

_CONTAIN_DF_CAP = 64  # skip shingles shared by more docs (boilerplate)
_CONTAIN_MIN = 0.8  # report pairs where A is ≥80% contained in B


def q_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment |A∩B| / |A| over word-5-gram shingle
    sets — the subset/quotation detector Jaccard misses (a short doc
    fully quoted inside a long one has low Jaccard but containment 1).

    Scale design: shingles are md5 keys; candidate pairs come ONLY
    from co-occurrence under a shingle whose document frequency is ≤
    {cap} (hot boilerplate shingles generate quadratic pairs and zero
    signal — the same hot-key cap as the media near-dup family), so
    pair volume is bounded by Σ min(df,cap)² per shingle, never
    |docs|². The intersection size falls out of the same explode (one
    groupBy over (a,b)); |A| joins in from a per-doc distinct-shingle
    count. Output keeps pairs with containment ≥ {min_c} — count plus
    max-containment fingerprint per source pair keeps the surface
    integer-plus-one-ratio."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    base = docs.select("doc_id", toks.alias("toks")).filter(
        F.size("toks") >= 5
    )
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 4),
            lambda i: F.md5(
                F.concat_ws(" ", F.slice(F.col("toks"), i, F.lit(5)))
            ),
        )
    )
    ds = base.select("doc_id", F.explode(shingles).alias("s"))
    sizes = ds.groupBy("doc_id").agg(F.count("*").alias("n_a"))
    df_ok = (
        ds.groupBy("s")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= _CONTAIN_DF_CAP)
        .select("s")
    )
    # df_ok is also a few-hundred-k-key table: keep it partitioned on s
    # (it rides its own groupBy exchange) instead of broadcast-building
    # the whole key set in every probe task
    pruned = ds.join(df_ok.hint("shuffle_hash"), "s")
    a = pruned.select(F.col("doc_id").alias("a"), "s")
    b = pruned.select(F.col("doc_id").alias("b"), "s")
    # r11: the planner broadcast the whole pruned shingle table for
    # this self-join, so EVERY task rebuilt the full multi-hundred-k
    # row hash relation before emitting its pairs; shuffle_hash keeps
    # the join partitioned on s — each task builds only its shard
    inter = (
        a.join(b.hint("shuffle_hash"), "s")
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_inter"))
    )
    scored = (
        inter.join(sizes.withColumnRenamed("doc_id", "a"), "a")
        .select(
            "a",
            "b",
            "n_inter",
            "n_a",
            _r6(
                F.col("n_inter").cast("double") / F.col("n_a").cast("double")
            ).alias("containment"),
        )
        .filter(F.col("containment") >= _CONTAIN_MIN)
    )
    return scored.agg(
        F.count("*").alias("n_pairs"),
        F.coalesce(F.sum("n_inter"), F.lit(0)).cast("long").alias(
            "sum_inter"
        ),
        F.coalesce(
            # explicit floor: a bare double→int cast TRUNCATES on Spark
            # but ROUNDS on DuckDB — floor(x+0.5) is engine-identical
            F.sum(F.floor(F.col("containment") * 1e6 + F.lit(0.5)).cast("long")),
            F.lit(0),
        ).alias("sum_containment_micro"),
    )


q_shingle_containment.__doc__ = q_shingle_containment.__doc__.format(
    cap=_CONTAIN_DF_CAP, min_c=_CONTAIN_MIN
)

registry.register(
    "shingle_containment",
    q_shingle_containment,
    f"""
    WITH toked AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    ds AS (
      SELECT DISTINCT doc_id,
             md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                 || ' ' || toks[i+3] || ' ' || toks[i+4]) AS s
      FROM toked, UNNEST(range(1, len(toks) - 3)) AS t(i)
      WHERE len(toks) >= 5
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_a FROM ds GROUP BY 1),
    ok AS (
      SELECT s FROM ds GROUP BY s HAVING COUNT(*) <= {_CONTAIN_DF_CAP}
    ),
    pruned AS (SELECT ds.* FROM ds JOIN ok USING (s)),
    inter AS (
      SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS n_inter
      FROM pruned x JOIN pruned y USING (s)
      WHERE x.doc_id <> y.doc_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT a, b, n_inter, n_a,
             FLOOR(CAST(n_inter AS DOUBLE) / CAST(n_a AS DOUBLE)
                   * 1000000.0 + 0.5) / 1000000.0 AS containment
      FROM inter JOIN sizes ON inter.a = sizes.doc_id
    )
    SELECT COUNT(*) AS n_pairs,
           CAST(COALESCE(SUM(n_inter), 0) AS BIGINT) AS sum_inter,
           COALESCE(SUM(CAST(FLOOR(containment * 1e6 + 0.5) AS BIGINT)), 0)
             AS sum_containment_micro
    FROM scored WHERE containment >= {_CONTAIN_MIN}
    """,
)


# ---------------------------------------------------------------------------
# winnowing fingerprints (MOSS-style local document fingerprinting)
# ---------------------------------------------------------------------------

_WIN_K = 4  # words per k-gram
_WIN_W = 5  # grams per winnowing window


def q_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (Schleimer/Wilkerson/Aiken, the MOSS algorithm):
    hash every word-{k}-gram, slide a {w}-gram window, keep each
    window's MINIMUM hash — the guaranteed-coverage local fingerprint
    that detects shared passages without shipping full shingle sets
    (any match of ≥ k+w-1 words shares a selected hash). Reported per
    source: documents, selected fingerprints, distinct fingerprints,
    and the cross-document duplication ratio 1 − distinct/selected.

    Exactness: the gram hash IS the md5 hex string and the window
    minimum is LEXICOGRAPHIC string MIN — portable by construction
    (no hex→int conversion exists in both engines; array_min on
    strings is the same lexicographic MIN as the window aggregate).
    Scale (r12, §2.1 remove shuffles outright): the window minimum and
    the per-doc distinct both run IN-ROW — the gram-hash array is
    projected once per doc, each full window's min is an
    array_min(slice(...)) over that array, and array_distinct replaces
    the (doc, wmin) DISTINCT exactly because doc_id is unique per row.
    The old form exploded one row per gram position and shuffled+sorted
    the whole gram table for a per-doc window (token-count-scale
    exchange — grows with the corpus at 100 TB); the in-row form emits
    identical wmins with NO exchange before the final source rollup
    (plans/r12/winnowing_fingerprint_before/after.txt: 3 Exchange →
    1 + countDistinct expansion; oracle-verified sf0.01 + sf0.1)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    base = docs.select("doc_id", "source", toks.alias("toks")).filter(
        F.size("toks") >= _WIN_K + _WIN_W - 1
    )
    hs = base.select(
        "doc_id",
        "source",
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - (_WIN_K - 1)),
            lambda i: F.md5(
                F.concat_ws(" ", F.slice(F.col("toks"), i, F.lit(_WIN_K)))
            ),
        ).alias("hs"),
    )
    # full windows only: starts j ∈ [1, ng-w+1] (1-based) — the same
    # set as the old pos ∈ [0, ng-w] under 0-based posexplode
    sel = hs.select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("hs") - (_WIN_W - 1)),
                    lambda j: F.array_min(
                        F.slice(F.col("hs"), j, F.lit(_WIN_W))
                    ),
                )
            )
        ).alias("wmin"),
    )
    return sel.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count("*").alias("n_selected"),
        F.countDistinct("wmin").alias("n_distinct"),
        _r6(
            1
            - F.countDistinct("wmin").cast("double")
            / F.count("*").cast("double")
        ).alias("dup_ratio"),
    )


q_winnowing_fingerprint.__doc__ = q_winnowing_fingerprint.__doc__.format(
    k=_WIN_K, w=_WIN_W
)

registry.register(
    "winnowing_fingerprint",
    q_winnowing_fingerprint,
    f"""
    WITH toked AS (
      SELECT doc_id, source, {_TOKS} AS toks FROM documents
    ),
    grams AS (
      SELECT doc_id, source, i AS pos,
             md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                 || ' ' || toks[i+3]) AS h
      FROM toked, UNNEST(range(1, len(toks) - {_WIN_K - 2})) AS t(i)
      WHERE len(toks) >= {_WIN_K + _WIN_W - 1}
    ),
    sel AS (
      SELECT DISTINCT doc_id, source, wmin FROM (
        SELECT doc_id, source, pos,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW
                            AND {_WIN_W - 1} FOLLOWING) AS wmin,
               COUNT(*) OVER (PARTITION BY doc_id) AS ng
        FROM grams
      ) WHERE pos <= ng - {_WIN_W - 1}
    )
    SELECT source,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_selected,
           COUNT(DISTINCT wmin) AS n_distinct,
           FLOOR((1 - CAST(COUNT(DISTINCT wmin) AS DOUBLE)
                      / CAST(COUNT(*) AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS dup_ratio
    FROM sel GROUP BY source
    """,
)


# ---------------------------------------------------------------------------
# content-defined chunking (word-level gear/CDC) + chunk-level dedup
# ---------------------------------------------------------------------------

_CDC_MOD = 16  # expected chunk length in words


def q_cdc_word_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking at word granularity: a chunk boundary
    falls AFTER any word whose hash ≡ 0 (mod {m}) — the rolling-hash
    trick (FastCDC/rsync) that keeps chunk boundaries stable under
    insertions, so chunk-level dedup survives edits that shift byte
    offsets. Per source: chunk count, mean chunk length, and the CDC
    dedup ratio (1 − distinct chunk digests / chunks) — the number a
    storage/dedup layer actually acts on.

    Exactness: the boundary test hashes each word's md5 first two hex
    chars into an integer (ascii arithmetic — portable); chunk ids
    are prefix sums of boundary flags over the (doc, pos) order;
    chunk digests are md5 of the ORDERED word join (Spark rebuilds
    order with sort_array over (pos, word) structs — collect_list
    alone is order-nondeterministic). Scale: one explode, one
    doc-partitioned prefix window, one (doc, chunk) agg, one
    digest-keyed distinct — all combinable, no pairing."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    tok = (
        docs.select("doc_id", "source", F.posexplode(toks).alias("pos", "w"))
        .filter(F.length("w") > 0)
    )
    hval = (
        F.ascii(F.substring(F.md5("w"), 1, 1)) * 256
        + F.ascii(F.substring(F.md5("w"), 2, 1))
    ) % _CDC_MOD
    win = W.partitionBy("doc_id").orderBy("pos").rowsBetween(
        W.unboundedPreceding, -1
    )
    chunked = tok.withColumn(
        "chunk",
        F.coalesce(
            F.sum((hval == 0).cast("long")).over(win), F.lit(0)
        ),
    )
    chunks = chunked.groupBy("doc_id", "source", "chunk").agg(
        F.count("*").alias("chunk_len"),
        F.md5(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("pos", "w"))
                    ),
                    lambda s: s["w"],
                ),
                " ",
            )
        ).alias("digest"),
    )
    return chunks.groupBy("source").agg(
        F.count("*").alias("n_chunks"),
        F.sum("chunk_len").alias("n_tokens"),
        F.countDistinct("digest").alias("n_distinct_chunks"),
        _r6(
            F.sum("chunk_len").cast("double") / F.count("*").cast("double")
        ).alias("mean_chunk_len"),
        _r6(
            1
            - F.countDistinct("digest").cast("double")
            / F.count("*").cast("double")
        ).alias("cdc_dup_ratio"),
    )


q_cdc_word_chunks.__doc__ = q_cdc_word_chunks.__doc__.format(m=_CDC_MOD)

registry.register(
    "cdc_word_chunks",
    q_cdc_word_chunks,
    f"""
    WITH tok AS (
      SELECT doc_id, source, i AS pos, toks[i] AS w
      FROM (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
           UNNEST(range(1, len(toks) + 1)) AS t(i)
      WHERE length(toks[i]) > 0
    ),
    flagged AS (
      SELECT doc_id, source, pos, w,
             CASE WHEN (ascii(substr(md5(w), 1, 1)) * 256
                        + ascii(substr(md5(w), 2, 1))) % {_CDC_MOD} = 0
                  THEN 1 ELSE 0 END AS brk
      FROM tok
    ),
    chunked AS (
      SELECT doc_id, source, pos, w,
             COALESCE(SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS chunk
      FROM flagged
    ),
    chunks AS (
      SELECT doc_id, source, chunk,
             COUNT(*) AS chunk_len,
             md5(string_agg(w, ' ' ORDER BY pos)) AS digest
      FROM chunked GROUP BY 1, 2, 3
    )
    SELECT source,
           COUNT(*) AS n_chunks,
           SUM(chunk_len) AS n_tokens,
           COUNT(DISTINCT digest) AS n_distinct_chunks,
           FLOOR(CAST(SUM(chunk_len) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS mean_chunk_len,
           FLOOR((1 - CAST(COUNT(DISTINCT digest) AS DOUBLE)
                      / CAST(COUNT(*) AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS cdc_dup_ratio
    FROM chunks GROUP BY source
    """,
)


# ---------------------------------------------------------------------------
# suffix/prefix overlap (shard-boundary duplicate stitching)
# ---------------------------------------------------------------------------

_OVL_K = 5  # words that must match head-to-tail


def q_suffix_prefix_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-stitching detector: document pairs where A's LAST {k}
    words equal B's FIRST {k} words — the signature of one logical
    document split across scrape shards (full-set Jaccard scores
    these pairs low, so the dedup family misses them). Each doc emits
    one head digest and one tail digest; the join is digest-keyed —
    two tiny md5 tables, no shingle explode, no pairing beyond exact
    digest equality. The digest frame is computed in ONE text scan and
    localCheckpoint'ed before branching (house multi-branch rule —
    without it each join side re-reads the 100 TB text column).
    Output: overlap pair count, distinct stitched docs on each side,
    and an order-invariant pair checksum."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    base = docs.select("doc_id", toks.alias("toks")).filter(
        F.size("toks") >= 2 * _OVL_K  # head and tail must not overlap
    )
    head = F.md5(F.concat_ws(" ", F.slice(F.col("toks"), 1, F.lit(_OVL_K))))
    tail = F.md5(
        F.concat_ws(" ", F.slice(F.col("toks"), -_OVL_K, F.lit(_OVL_K)))
    )
    digests = base.select(
        "doc_id", head.alias("head_d"), tail.alias("tail_d")
    ).localCheckpoint()
    hd = digests.select(
        F.col("doc_id").alias("b"), F.col("head_d").alias("d")
    )
    tl = digests.select(
        F.col("doc_id").alias("a"), F.col("tail_d").alias("d")
    )
    pairs = tl.join(hd, "d").filter(F.col("a") != F.col("b"))
    return pairs.agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("a").alias("n_tail_docs"),
        F.countDistinct("b").alias("n_head_docs"),
        F.coalesce(
            F.sum((F.col("a") * 31 + F.col("b")) % F.lit(1_000_003)),
            F.lit(0),
        ).alias("pair_checksum"),
    )


q_suffix_prefix_overlap.__doc__ = q_suffix_prefix_overlap.__doc__.format(
    k=_OVL_K
)

registry.register(
    "suffix_prefix_overlap",
    q_suffix_prefix_overlap,
    f"""
    WITH toked AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    eligible AS (
      SELECT doc_id, toks FROM toked WHERE len(toks) >= {2 * _OVL_K}
    ),
    hd AS (
      SELECT doc_id AS b,
             md5(array_to_string(toks[1:{_OVL_K}], ' ')) AS d
      FROM eligible
    ),
    tl AS (
      SELECT doc_id AS a,
             md5(array_to_string(toks[len(toks)-{_OVL_K - 1}:len(toks)], ' '))
               AS d
      FROM eligible
    ),
    pairs AS (
      SELECT a, b FROM tl JOIN hd USING (d) WHERE a <> b
    )
    SELECT COUNT(*) AS n_pairs,
           COUNT(DISTINCT a) AS n_tail_docs,
           COUNT(DISTINCT b) AS n_head_docs,
           COALESCE(SUM((a * 31 + b) % 1000003), 0) AS pair_checksum
    FROM pairs
    """,
)


# ---------------------------------------------------------------------------
# Krippendorff's alpha (nominal) — annotation-agreement audit
# ---------------------------------------------------------------------------


def q_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha for nominal data over a two-rating design:
    each customer with ≥2 orders is a UNIT, rated by its EARLIEST and
    LATEST order's priority class — the consistency audit (are first
    and last impressions the same label?) that doubles as the
    inter-annotator agreement metric every labeling pipeline reports.

    Exactness: alpha = 1 − D_o/D_e on the standard coincidence-matrix
    estimator; with two ratings per unit every term is an INTEGER
    (observed disagreements, marginal products), so the hash surface
    is BIGINTs plus one `_r6` division at the end. First/last are the
    rank rule over (o_orderdate, o_orderkey) — engine-deterministic
    under ties. Scale: one shuffle on custkey for the two
    row_numbers; the coincidence matrix is |classes|²-sized."""
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    w_asc = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_desc = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    marked = orders.select(
        "o_custkey",
        "o_orderpriority",
        F.row_number().over(w_asc).alias("rn_a"),
        F.row_number().over(w_desc).alias("rn_d"),
        F.count("*").over(W.partitionBy("o_custkey")).alias("m"),
    ).filter(F.col("m") >= 2)
    first = marked.filter(F.col("rn_a") == 1).select(
        "o_custkey", F.col("o_orderpriority").alias("c1")
    )
    last = marked.filter(F.col("rn_d") == 1).select(
        "o_custkey", F.col("o_orderpriority").alias("c2")
    )
    units = first.join(last, "o_custkey")
    # coincidence matrix: each unit contributes the ordered pairs
    # (c1,c2) and (c2,c1); marginals n_v; with m=2 raters the
    # weights are integral
    pairs = units.select(F.col("c1").alias("v"), F.col("c2").alias("k")).unionAll(
        units.select(F.col("c2").alias("v"), F.col("c1").alias("k"))
    )
    o = pairs.groupBy("v", "k").agg(F.count("*").alias("o_vk"))
    n_v = o.groupBy("v").agg(F.sum("o_vk").alias("n"))
    tot = n_v.agg(
        F.sum("n").alias("n_tot"),
        F.sum(F.col("n") * F.col("n")).alias("sum_n2"),
    )
    dis = o.filter(F.col("v") != F.col("k")).agg(
        F.coalesce(F.sum("o_vk"), F.lit(0)).alias("d_obs")
    )
    # D_o = d_obs / n_tot; D_e = (n_tot² − Σ n_v²) / (n_tot (n_tot−1))
    # alpha = 1 − D_o/D_e = 1 − d_obs (n_tot−1) / (n_tot² − Σ n_v²)
    return (
        dis.crossJoin(tot)
        .select(
            F.col("d_obs").cast("long").alias("d_obs"),
            F.col("n_tot").cast("long").alias("n_tot"),
            F.col("sum_n2").cast("long").alias("sum_n2"),
            _r6(
                1
                - F.col("d_obs").cast("double")
                * (F.col("n_tot").cast("double") - 1)
                / (
                    F.col("n_tot").cast("double")
                    * F.col("n_tot").cast("double")
                    - F.col("sum_n2").cast("double")
                )
            ).alias("alpha"),
        )
    )


registry.register(
    "krippendorff_alpha",
    q_krippendorff_alpha,
    """
    WITH marked AS (
      SELECT o_custkey, o_orderpriority,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC,
                                         o_orderkey DESC) AS rn_d,
             COUNT(*) OVER (PARTITION BY o_custkey) AS m
      FROM orders
    ),
    units AS (
      SELECT f.o_custkey, f.o_orderpriority AS c1, l.o_orderpriority AS c2
      FROM (SELECT * FROM marked WHERE rn_a = 1 AND m >= 2) f
      JOIN (SELECT * FROM marked WHERE rn_d = 1 AND m >= 2) l
        USING (o_custkey)
    ),
    pairs AS (
      SELECT c1 AS v, c2 AS k FROM units
      UNION ALL
      SELECT c2 AS v, c1 AS k FROM units
    ),
    o AS (SELECT v, k, COUNT(*) AS o_vk FROM pairs GROUP BY 1, 2),
    nv AS (SELECT v, SUM(o_vk) AS n FROM o GROUP BY 1),
    tot AS (SELECT SUM(n) AS n_tot, SUM(n * n) AS sum_n2 FROM nv),
    dis AS (
      SELECT COALESCE(SUM(o_vk), 0) AS d_obs FROM o WHERE v <> k
    )
    SELECT CAST(d_obs AS BIGINT) AS d_obs,
           CAST(n_tot AS BIGINT) AS n_tot,
           CAST(sum_n2 AS BIGINT) AS sum_n2,
           FLOOR((1 - CAST(d_obs AS DOUBLE) * (CAST(n_tot AS DOUBLE) - 1)
                      / (CAST(n_tot AS DOUBLE) * CAST(n_tot AS DOUBLE)
                         - CAST(sum_n2 AS DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0 AS alpha
    FROM dis CROSS JOIN tot
    """,
)


# ---------------------------------------------------------------------------
# Fleiss' kappa (3 fixed raters) — multi-rater agreement
# ---------------------------------------------------------------------------


def q_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa over a fixed-m design: every customer with ≥3
    orders is a unit rated m=3 times — by its FIRST, MIDDLE
    (⌈m/2⌉-th by the house rank rule), and LAST order's priority
    class. The multi-rater generalization of the agreement audit
    (krippendorff_alpha is the 2-rating variant).

    κ = (P̄ − P_e)/(1 − P_e) with P̄ = (S2 − N·m)/(N·m·(m−1)) and
    P_e = Σ_j (T_j/(N·m))²; S2 = Σ_units Σ_classes n_ij², T_j the
    class totals — every input is an exact BIGINT aggregate, and κ is
    one `_r6`-bounded expression tree over them (identical IEEE both
    engines). Rater picks are row_numbers over (o_orderdate,
    o_orderkey) — deterministic under ties. One shuffle on custkey;
    the class matrices are |classes|-sized."""
    from pyspark.sql import Window as W

    m = 3
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    w_asc = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    marked = orders.select(
        "o_custkey",
        "o_orderpriority",
        F.row_number().over(w_asc).alias("rn"),
        F.count("*").over(W.partitionBy("o_custkey")).alias("n_ord"),
    ).filter(F.col("n_ord") >= m)
    # integer division (`div`) matches the oracle's `//` exactly —
    # the middle rater is the ⌈m/2⌉-th order by the rank rule
    picked = marked.filter(
        (F.col("rn") == 1)
        | (F.col("rn") == F.expr("(n_ord + 1) div 2"))
        | (F.col("rn") == F.col("n_ord"))
    )
    nij = picked.groupBy("o_custkey", "o_orderpriority").agg(
        F.count("*").alias("n_ij")
    )
    s2 = nij.agg(
        F.sum(F.col("n_ij") * F.col("n_ij")).alias("s2"),
        F.countDistinct("o_custkey").alias("n_units"),
    )
    tj = nij.groupBy("o_orderpriority").agg(F.sum("n_ij").alias("t_j"))
    te = tj.agg(
        F.sum(F.col("t_j") * F.col("t_j")).alias("sum_t2"),
        F.sum("t_j").alias("t_tot"),
    )
    j = s2.crossJoin(te)
    n_d = F.col("n_units").cast("double")
    p_bar = (F.col("s2").cast("double") - n_d * m) / (n_d * m * (m - 1))
    p_e = F.col("sum_t2").cast("double") / ((n_d * m) * (n_d * m))
    return j.select(
        F.col("n_units").cast("long").alias("n_units"),
        F.col("s2").cast("long").alias("s2"),
        F.col("sum_t2").cast("long").alias("sum_t2"),
        F.col("t_tot").cast("long").alias("t_tot"),
        _r6((p_bar - p_e) / (1 - p_e)).alias("kappa"),
    )


registry.register(
    "fleiss_kappa",
    q_fleiss_kappa,
    """
    WITH marked AS (
      SELECT o_custkey, o_orderpriority,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn,
             COUNT(*) OVER (PARTITION BY o_custkey) AS n_ord
      FROM orders
    ),
    picked AS (
      SELECT * FROM marked
      WHERE n_ord >= 3
        AND (rn = 1 OR rn = (n_ord + 1) // 2 OR rn = n_ord)
    ),
    nij AS (
      SELECT o_custkey, o_orderpriority, COUNT(*) AS n_ij
      FROM picked GROUP BY 1, 2
    ),
    s2 AS (
      SELECT SUM(n_ij * n_ij) AS s2,
             COUNT(DISTINCT o_custkey) AS n_units
      FROM nij
    ),
    te AS (
      SELECT SUM(t_j * t_j) AS sum_t2, SUM(t_j) AS t_tot FROM (
        SELECT o_orderpriority, SUM(n_ij) AS t_j FROM nij GROUP BY 1
      )
    )
    SELECT CAST(n_units AS BIGINT) AS n_units,
           CAST(s2 AS BIGINT) AS s2,
           CAST(sum_t2 AS BIGINT) AS sum_t2,
           CAST(t_tot AS BIGINT) AS t_tot,
           FLOOR((((CAST(s2 AS DOUBLE) - CAST(n_units AS DOUBLE) * 3)
                   / (CAST(n_units AS DOUBLE) * 3 * 2)
                   - CAST(sum_t2 AS DOUBLE)
                     / ((CAST(n_units AS DOUBLE) * 3)
                        * (CAST(n_units AS DOUBLE) * 3)))
                  / (1 - CAST(sum_t2 AS DOUBLE)
                         / ((CAST(n_units AS DOUBLE) * 3)
                            * (CAST(n_units AS DOUBLE) * 3))))
                 * 1000000.0 + 0.5) / 1000000.0 AS kappa
    FROM s2 CROSS JOIN te
    """,
)


# ---------------------------------------------------------------------------
# Gwet's AC1 — prevalence-robust two-rater agreement
# ---------------------------------------------------------------------------


def q_gwet_ac1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gwet's AC1 over the same two-rating design as
    krippendorff_alpha (first vs last order priority per ≥2-order
    customer) — the agreement coefficient that stays interpretable
    when one class dominates (kappa's prevalence paradox). Chance
    agreement is p_e = Σ_j π_j(1−π_j)/(K−1) with π_j the pooled class
    share and K the observed class count; AC1 = (p_a − p_e)/(1 − p_e).
    All inputs exact BIGINTs (agreements, pooled class counts, K);
    one `_r6` expression at the end."""
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    w_asc = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_desc = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    marked = orders.select(
        "o_custkey",
        "o_orderpriority",
        F.row_number().over(w_asc).alias("rn_a"),
        F.row_number().over(w_desc).alias("rn_d"),
        F.count("*").over(W.partitionBy("o_custkey")).alias("m"),
    ).filter(F.col("m") >= 2)
    first = marked.filter(F.col("rn_a") == 1).select(
        "o_custkey", F.col("o_orderpriority").alias("c1")
    )
    last = marked.filter(F.col("rn_d") == 1).select(
        "o_custkey", F.col("o_orderpriority").alias("c2")
    )
    units = first.join(last, "o_custkey")
    agg = units.agg(
        F.count("*").alias("n_units"),
        F.sum((F.col("c1") == F.col("c2")).cast("long")).alias("n_agree"),
    )
    pooled = (
        units.select(F.col("c1").alias("c"))
        .unionAll(units.select(F.col("c2").alias("c")))
        .groupBy("c")
        .agg(F.count("*").alias("r_j"))
    )
    kstats = pooled.agg(
        F.count("*").alias("k_classes"),
        F.sum(F.col("r_j") * F.col("r_j")).alias("sum_r2"),
        F.sum("r_j").alias("r_tot"),
    )
    j = agg.crossJoin(kstats)
    n_d = F.col("n_units").cast("double")
    # Σ π(1−π) = 1 − Σπ² with π_j = r_j/(2N)
    p_e = (
        (1 - F.col("sum_r2").cast("double") / (4 * n_d * n_d))
        / (F.col("k_classes").cast("double") - 1)
    )
    p_a = F.col("n_agree").cast("double") / n_d
    return j.select(
        F.col("n_units").cast("long").alias("n_units"),
        F.col("n_agree").cast("long").alias("n_agree"),
        F.col("k_classes").cast("long").alias("k_classes"),
        F.col("sum_r2").cast("long").alias("sum_r2"),
        _r6((p_a - p_e) / (1 - p_e)).alias("ac1"),
    )


registry.register(
    "gwet_ac1",
    q_gwet_ac1,
    """
    WITH marked AS (
      SELECT o_custkey, o_orderpriority,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC,
                                         o_orderkey DESC) AS rn_d,
             COUNT(*) OVER (PARTITION BY o_custkey) AS m
      FROM orders
    ),
    units AS (
      SELECT f.o_custkey, f.o_orderpriority AS c1, l.o_orderpriority AS c2
      FROM (SELECT * FROM marked WHERE rn_a = 1 AND m >= 2) f
      JOIN (SELECT * FROM marked WHERE rn_d = 1 AND m >= 2) l
        USING (o_custkey)
    ),
    agg AS (
      SELECT COUNT(*) AS n_units,
             SUM(CASE WHEN c1 = c2 THEN 1 ELSE 0 END) AS n_agree
      FROM units
    ),
    pooled AS (
      SELECT c, COUNT(*) AS r_j FROM (
        SELECT c1 AS c FROM units UNION ALL SELECT c2 FROM units
      ) GROUP BY 1
    ),
    kstats AS (
      SELECT COUNT(*) AS k_classes, SUM(r_j * r_j) AS sum_r2,
             SUM(r_j) AS r_tot
      FROM pooled
    )
    SELECT CAST(n_units AS BIGINT) AS n_units,
           CAST(n_agree AS BIGINT) AS n_agree,
           CAST(k_classes AS BIGINT) AS k_classes,
           CAST(sum_r2 AS BIGINT) AS sum_r2,
           FLOOR(((CAST(n_agree AS DOUBLE) / CAST(n_units AS DOUBLE)
                   - (1 - CAST(sum_r2 AS DOUBLE)
                          / (4 * CAST(n_units AS DOUBLE)
                             * CAST(n_units AS DOUBLE)))
                     / (CAST(k_classes AS DOUBLE) - 1))
                  / (1 - (1 - CAST(sum_r2 AS DOUBLE)
                              / (4 * CAST(n_units AS DOUBLE)
                                 * CAST(n_units AS DOUBLE)))
                         / (CAST(k_classes AS DOUBLE) - 1)))
                 * 1000000.0 + 0.5) / 1000000.0 AS ac1
    FROM agg CROSS JOIN kstats
    """,
)
