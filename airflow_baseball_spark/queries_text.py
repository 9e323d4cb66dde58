"""LLM-data-pipeline extension queries over ``documents`` /
``embeddings`` (north-star operators; BASELINE.json), each paired with
a DuckDB oracle where SQL-expressible.

Engine-parity rules: hashes are md5 (identical in both engines) or
explicit integer arithmetic; cosine similarities are rounded to 6
places before ranking/thresholding; per-row int-derived doubles stay
unrounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from airflow_baseball_spark import registry
from airflow_baseball_spark.functions.scalar import dec_portable
from airflow_baseball_spark.functions.scalar import round6_portable as _r6
from airflow_baseball_spark.partitioning import spread
from airflow_baseball_spark.schemas import load_table
from airflow_baseball_spark.text import analysis, dedup, similarity
from airflow_baseball_spark.text.analysis import TOKENS_SQL as _TOKS

# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    t = F.col("text")
    return docs.select(
        "doc_id",
        analysis.token_count(t).alias("n_tokens"),
        analysis.bpe_ish_token_count(t).alias("n_bpe_tokens"),
        analysis.punct_ratio(t).alias("punct_ratio"),
        analysis.mean_token_length(t).alias("mean_tok_len"),
        analysis.quality_score(t).alias("quality"),
    )


_SW = {
    lang: "[" + ", ".join(f"'{w}'" for w in ws) + "]"
    for lang, ws in analysis.STOPWORDS.items()
}

registry.register(
    "text_stats",
    q_text_stats,
    f"""
    WITH base AS (
      SELECT doc_id, text,
             len({_TOKS}) AS n_tokens,
             len(regexp_extract_all(text, '[A-Za-z]{{1,4}}|[0-9]|[^A-Za-z0-9\\s]'))
               AS n_bpe_tokens,
             CASE WHEN length(text) > 0 THEN
               (length(text) - length(translate(text, '.,!?;:''"()[]{{}}', '')))
               / length(text) ELSE 0.0e0 END AS punct_ratio,
             CASE WHEN len({_TOKS}) > 0 THEN
               list_sum(list_transform({_TOKS}, t -> length(t))) / len({_TOKS})
             END AS mean_tok_len,
             len(list_filter({_TOKS}, t -> list_contains({_SW['en']}, t)))
               AS sw
      FROM documents
    )
    SELECT doc_id, n_tokens, n_bpe_tokens, punct_ratio, mean_tok_len,
           0.25e0 * least(CAST(n_tokens AS DOUBLE), 100.0e0) / 100.0e0
           + 0.25e0 * (1.0e0 - least(punct_ratio * 5.0e0, 1.0e0))
           + 0.25e0 * least(CASE WHEN CAST(n_tokens AS DOUBLE) > 0
                                 THEN CAST(sw AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                                 ELSE 0.0e0 END * 5.0e0, 1.0e0)
           + 0.25e0 * (1.0e0 - least(abs(mean_tok_len - 5.0e0) / 5.0e0, 1.0e0))
             AS quality
    FROM base
    """,
)


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    t = F.col("text")
    scores = analysis.lang_scores(t)
    return docs.select(
        "doc_id",
        analysis.lang_id(t).alias("lang_pred"),
        scores["en"].alias("score_en"),
        scores["de"].alias("score_de"),
        scores["fr"].alias("score_fr"),
        scores["es"].alias("score_es"),
    )


registry.register(
    "lang_id",
    q_lang_id,
    f"""
    WITH s AS (
      SELECT doc_id,
             len(list_filter({_TOKS}, t -> list_contains({_SW['en']}, t))) AS score_en,
             len(list_filter({_TOKS}, t -> list_contains({_SW['de']}, t))) AS score_de,
             len(list_filter({_TOKS}, t -> list_contains({_SW['fr']}, t))) AS score_fr,
             len(list_filter({_TOKS}, t -> list_contains({_SW['es']}, t))) AS score_es
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN score_en = 0 AND score_de = 0 AND score_fr = 0
                     AND score_es = 0 THEN 'und'
                WHEN score_en >= score_de AND score_en >= score_fr
                     AND score_en >= score_es THEN 'en'
                WHEN score_de >= score_fr AND score_de >= score_es THEN 'de'
                WHEN score_fr >= score_es THEN 'fr'
                ELSE 'es' END AS lang_pred,
           score_en, score_de, score_fr, score_es
    FROM s
    """,
)


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    toked = docs.select("doc_id", analysis.tokens(F.col("text")).alias("toks"))
    return toked.select(
        "doc_id",
        analysis.doc_fingerprint_from_tokens(F.col("toks")).alias("fingerprint"),
    )


registry.register(
    "doc_fingerprint",
    q_doc_fingerprint,
    f"""
    SELECT doc_id,
           list_min(list_transform(
             generate_series(0, greatest(len({_TOKS}) - 3, 0)),
             i -> md5(array_to_string(list_slice({_TOKS}, i + 1, i + 3), ' '))
           )) AS fingerprint
    FROM documents
    """,
)


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(load_table(spark, sf_dir, "documents"))


registry.register(
    "exact_dedup",
    q_exact_dedup,
    """
    SELECT md5(text) AS digest, MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
    FROM documents GROUP BY 1
    """,
)


def _corpus_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document minhash signatures, session-memoized: the in-row
    signature pipeline (char codes → shingle codes → 16 permutation
    scans) is the shared base of minhash_signatures, minhash_lsh_pairs,
    the dedup-cluster family, and minhash_calibration — and any query
    that references it more than once in one plan would otherwise
    recompute the whole scan per reference."""
    from airflow_baseball_spark.operators.graph import materialize_edge_list

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        return dedup.minhash_signatures(
            load_table(spark, sf_dir, "documents")
        )

    return materialize_edge_list(spark, sf_dir, "corpus_minhash_sigs", build)


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _corpus_sigs(spark, sf_dir)


def _minhash_sql() -> str:
    code = "CAST(unicode(substring(sh, 1, 1)) AS BIGINT)"
    for i in range(2, 6):
        code = f"({code} * 31 + CAST(unicode(substring(sh, {i}, 1)) AS BIGINT))"
    sig_exprs = ",\n             ".join(
        f"MIN(({a} * code + {b}) % {dedup._P}) AS sig_{i}"
        for i, (a, b) in enumerate(dedup._PERMS)
    )
    return f"""
    WITH sh_rows AS (
      SELECT DISTINCT doc_id,
             substring(text, pos, 5) AS sh
      FROM (SELECT doc_id, text,
                   unnest(generate_series(1, greatest(length(text) - 4, 1))) AS pos
            FROM documents)
    ),
    coded AS (SELECT doc_id, {code} AS code FROM sh_rows)
    SELECT doc_id,
             {sig_exprs}
    FROM coded GROUP BY doc_id
    """


registry.register("minhash_signatures", q_minhash_signatures, _minhash_sql())


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.lsh_candidate_pairs(_corpus_sigs(spark, sf_dir))


def _lsh_pairs_sql() -> str:
    rows_per_band = len(dedup._PERMS) // dedup.N_BANDS
    bands = []
    for b in range(dedup.N_BANDS):
        cols = " || '_' || ".join(
            f"CAST(sig_{b * rows_per_band + j} AS VARCHAR)"
            for j in range(rows_per_band)
        )
        bands.append(f"SELECT doc_id, {b} AS band_id, {cols} AS band_hash FROM sigs")
    banded = "\n      UNION ALL\n      ".join(bands)
    return f"""
    WITH sigs AS ({_minhash_sql()}),
    banded AS (
      {banded}
    )
    SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
    FROM banded l JOIN banded r
      ON l.band_id = r.band_id AND l.band_hash = r.band_hash
     AND l.doc_id < r.doc_id
    """


registry.register("minhash_lsh_pairs", q_minhash_lsh_pairs, _lsh_pairs_sql())


def _cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_root) via minhash → LSH edges → CC min-label
    propagation — the ONE Spark-side construction dedup_clusters,
    golden_record, and dedup_cluster_sizes all consume, mirroring the
    shared _cc_closure_sql(). Materialized ONCE per (session, sf_dir)
    via operators/graph.materialize_edge_list: the iterative CC
    subtree is the expensive part, and every consumer after the first
    reads the checkpointed label table instead of re-running the
    propagation rounds."""
    from airflow_baseball_spark.operators.graph import materialize_edge_list

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        from airflow_baseball_spark.operators.connected_components import (
            dedup_clusters,
        )

        docs = load_table(spark, sf_dir, "documents")
        edges = dedup.lsh_candidate_edges(_corpus_sigs(spark, sf_dir))
        return dedup_clusters(docs, edges)

    return materialize_edge_list(spark, sf_dir, "cluster_labels", build)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH buckets → single-link duplicate clusters via iterative
    min-label propagation (operators/connected_components.py) over
    star-contracted bucket edges (same components as the all-pairs
    graph, O(bucket) not O(bucket²) edges); the oracle closes the
    all-pairs graph with a recursive CTE — components are identical by
    construction."""
    return _cluster_labels(spark, sf_dir)


def _cc_closure_sql() -> str:
    """The recursive-CTE connected-components closure over the LSH
    candidate edges — the ONE copy both cluster oracles build on, so a
    fix to the closure or edge construction cannot drift between
    dedup_clusters and golden_record."""
    return f"""
    edges AS ({_lsh_pairs_sql()}),
    sym AS (SELECT id_a AS u, id_b AS v FROM edges
            UNION SELECT id_b, id_a FROM edges),
    reach(u, v) AS (
      SELECT u, v FROM sym
      UNION
      SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
    ),
    comp AS (SELECT u AS node, LEAST(u, MIN(v)) AS root
             FROM reach GROUP BY u)"""


def _dedup_clusters_sql() -> str:
    return f"""
    WITH RECURSIVE
    {_cc_closure_sql()}
    SELECT d.doc_id, COALESCE(c.root, d.doc_id) AS cluster_root
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    """


registry.register("dedup_clusters", q_dedup_clusters, _dedup_clusters_sql())


def _simhash_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) fingerprints, session-memoized (r11): the
    token explode + bit-vote aggregation is the shared base of
    simhash, simhash_pairs, and simhash_bit_balance; the materialized
    table is doc-count-sized — same disposition as _corpus_sigs."""
    from airflow_baseball_spark.operators.graph import materialize_edge_list

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        return dedup.simhash(load_table(spark, sf_dir, "documents"))

    return materialize_edge_list(spark, sf_dir, "simhash_fps", build)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash_fps(spark, sf_dir)


def _simhash_sql() -> str:
    hd = dedup.SIMHASH_BITS // 4
    digit = "(strpos('0123456789abcdef', substring(hx, {i}, 1)) - 1)"
    val = " + ".join(
        f"{digit.format(i=i + 1)} * {16 ** (hd - 1 - i)}" for i in range(hd)
    )
    votes = ",\n             ".join(
        f"SUM(CASE WHEN (h // {2**b}) % 2 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(dedup.SIMHASH_BITS)
    )
    fp = " + ".join(
        f"CASE WHEN v{b} > 0 THEN {2**b} ELSE 0 END"
        for b in range(dedup.SIMHASH_BITS)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS}) AS t FROM documents
    ),
    hashed AS (
      SELECT doc_id, substring(md5(t), {33 - hd}, {hd}) AS hx FROM tok
    ),
    vals AS (SELECT doc_id, {val} AS h FROM hashed),
    votes AS (
      SELECT doc_id,
             {votes}
      FROM vals GROUP BY doc_id
    )
    SELECT doc_id, {fp} AS simhash FROM votes
    """


registry.register("simhash", q_simhash, _simhash_sql())


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = dedup.ngram_jaccard_pairs(docs, block_col="source", threshold=0.1)
    return out.select("id_a", "id_b", "jaccard")


registry.register(
    "ngram_jaccard",
    q_ngram_jaccard,
    f"""
    WITH grams AS (
      SELECT doc_id AS gid, source AS blk,
             unnest(list_distinct(list_transform(
               CASE WHEN len({_TOKS}) >= 3
                    THEN generate_series(0, len({_TOKS}) - 3) END,
               i -> array_to_string(list_slice({_TOKS}, i + 1, i + 3), ' ')
             ))) AS gram
      FROM documents
    ),
    sizes AS (SELECT gid, COUNT(*) AS n_grams FROM grams GROUP BY gid),
    inter AS (
      SELECT a.gid AS id_a, b.gid AS id_b, COUNT(*) AS n_inter
      FROM grams a JOIN grams b
        ON a.blk = b.blk AND a.gram = b.gram AND a.gid < b.gid
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           n_inter / (sa.n_grams + sb.n_grams - n_inter) AS jaccard
    FROM inter
    JOIN sizes sa ON id_a = sa.gid
    JOIN sizes sb ON id_b = sb.gid
    WHERE n_inter / (sa.n_grams + sb.n_grams - n_inter) > 0.1e0
    """,
)


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_COS_SQL = """
      ROUND((SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
             FROM (SELECT unnest({a}) x, unnest({b}) y))
            / (sqrt((SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                     FROM (SELECT unnest({a}) x)))
               * sqrt((SELECT SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))
                       FROM (SELECT unnest({b}) y)))), 6)
"""


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # the query set must be O(1) w.r.t. the corpus (it collects to the
    # driver): vec_id < 2500 caps it at 100 queries at any sf
    queries = emb.filter((F.col("vec_id") % 25 == 0) & (F.col("vec_id") < 2500))
    return similarity.cosine_topk(emb, queries, k=3)


registry.register(
    "cosine_topk",
    q_cosine_topk,
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id % 25 = 0 AND vec_id < 2500),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {_COS_SQL.format(a="q.qv", b="e.embedding")} AS cos
      FROM embeddings e, q WHERE e.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos, rank FROM ranked WHERE rank <= 3
    """,
)


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_neardup_pairs(emb, block_col="label", threshold=0.3)


registry.register(
    "embedding_neardup",
    q_embedding_neardup,
    f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_COS_SQL.format(a="a.embedding", b="b.embedding")} AS cos
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_COS_SQL.format(a="a.embedding", b="b.embedding")} > 0.3e0
    """,
)


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (nprobe=1) approximate neighbor search, fully
    oracle-checked: IVF is deterministic and non-iterative, so the
    oracle replicates both stages in SQL — nearest-centroid assignment
    (rounded cosine, ties to the lower centroid id, exactly
    assign_clusters' np.argmax rule) and the within-cluster top-k."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    centroids = emb.filter(F.col("vec_id") < 8)
    return similarity.ivf_topk(emb, queries, centroids, k=3)


def _ivf_topk_sql() -> str:
    assign_cos = _COS_SQL.format(a="e.embedding", b="c.cv")
    pair_cos = _COS_SQL.format(a="q.v", b="ca.v")
    return f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding AS cv
      FROM embeddings WHERE vec_id < 8
    ),
    assign AS (
      SELECT vec_id, cid, v FROM (
        SELECT e.vec_id, c.cid, e.embedding AS v,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {assign_cos} DESC, c.cid
               ) AS rn
        FROM embeddings e CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    scored AS (
      SELECT q.vec_id AS query_id, ca.vec_id AS neighbor_id,
             {pair_cos} AS cos
      FROM assign q
      JOIN assign ca ON ca.cid = q.cid AND ca.vec_id <> q.vec_id
      WHERE q.vec_id % 25 = 0
    )
    SELECT query_id, neighbor_id, cos, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 3
    """


registry.register("ivf_topk", q_ivf_topk, _ivf_topk_sql())


# ---------------------------------------------------------------------------
# TF-IDF
# ---------------------------------------------------------------------------


def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus TF-IDF, two shuffles total: (doc, term)-count groupBy,
    then term document-frequency groupBy broadcast back onto the term
    rows (df table ≈ vocabulary size — broadcastable even at corpus
    scale after a min-df cut). N comes from a 1-row agg cross join, not
    a collect. idf = ln((N+1)/(df+1)) + 1 (smoothed)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.explode(analysis.tokens(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.select(F.count("*").alias("n_docs"))
    return (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") >= 2)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1),
                6,
            ).alias("tfidf"),
        )
    )


registry.register(
    "tfidf",
    q_tfidf,
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS}) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
    ),
    dft AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc_id, tf.term, tf, df,
           ROUND(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf
    FROM tf JOIN dft ON tf.term = dft.term, n
    WHERE df >= 2
    """,
)


# ---------------------------------------------------------------------------
# K-means assignment (IVF coarse-quantizer step, oracle-verified)
# ---------------------------------------------------------------------------


def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-means assignment step: nearest of 8 fixed centroids by
    squared L2, computed in-row against broadcast centroids (the
    oracle-checked version of ivf_topk's coarse quantizer; a full Lloyd
    iteration re-averages members per cluster — a groupBy away)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    dist = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.col("cvec"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0).cast("double"),
        lambda acc, d: acc + d,
    )
    scored = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cid", F.round(dist, 6).alias("d2")
    )
    from pyspark.sql import Window  # noqa: PLC0415

    w = Window.partitionBy("vec_id").orderBy("d2", "cid")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("cid").alias("centroid_id"), F.col("d2").alias("dist_sq"))
    )


_KMEANS_ASSIGN_SQL = """
    WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
               WHERE vec_id < 8),
    scored AS (
      SELECT e.vec_id, c.cid,
             ROUND(list_sum(list_transform(generate_series(1, len(e.embedding)),
                   i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE))
                      * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE)))),
                   6) AS d2
      FROM embeddings e, c
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      FROM scored
    )
    SELECT vec_id, cid AS centroid_id, d2 AS dist_sq FROM ranked WHERE rn = 1
    """

registry.register("kmeans_assign", q_kmeans_assign, _KMEANS_ASSIGN_SQL)


# ---------------------------------------------------------------------------
# SimHash candidate pairs (Hamming-bucketed)
# ---------------------------------------------------------------------------


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_pairs(_simhash_fps(spark, sf_dir))


def _simhash_pairs_sql() -> str:
    bits = dedup.SIMHASH_BITS // 4
    mask = (1 << bits) - 1
    blocks = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, simhash, {b} AS block_id,"
        f" (simhash >> {b * 4}) & 15 AS block_val FROM fps"
        for b in range(4)
    )
    return f"""
    WITH fps AS ({_simhash_sql()}),
    blocks AS (
      {blocks}
    )
    SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
           bit_count(xor(l.simhash, r.simhash)) AS hamming
    FROM blocks l JOIN blocks r
      ON l.block_id = r.block_id AND l.block_val = r.block_val
     AND l.doc_id < r.doc_id
    WHERE bit_count(xor(l.simhash, r.simhash)) <= 3
    """


registry.register("simhash_pairs", q_simhash_pairs, _simhash_pairs_sql())


# ---------------------------------------------------------------------------
# Gopher-style repetition quality rules
# ---------------------------------------------------------------------------


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analysis.gopher_repetition(load_table(spark, sf_dir, "documents"))


registry.register(
    "gopher_quality",
    q_gopher_quality,
    f"""
    WITH toked AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    in_row AS (
      SELECT doc_id, len(toks) AS n_words,
             ROUND(CASE WHEN len(toks) > 0
                   THEN 1.0 - len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE)
                   ELSE 0.0 END, 6) AS dup_word_frac
      FROM toked
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_transform(
               CASE WHEN len(toks) >= 2
                    THEN generate_series(0, len(toks) - 2) END,
               i -> array_to_string(list_slice(toks, i + 1, i + 2), ' ')
             )) AS gram
      FROM toked
    ),
    counts AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM grams GROUP BY 1, 2),
    per_doc AS (SELECT doc_id, MAX(cnt) AS top_cnt, SUM(cnt) AS total_grams
                FROM counts GROUP BY 1)
    SELECT i.doc_id, i.n_words, i.dup_word_frac,
           ROUND(COALESCE(p.top_cnt / CAST(p.total_grams AS DOUBLE), 0.0), 6)
             AS top_bigram_share,
           (i.dup_word_frac <= 0.3 AND
            ROUND(COALESCE(p.top_cnt / CAST(p.total_grams AS DOUBLE), 0.0), 6)
              <= 0.2) AS keep
    FROM in_row i LEFT JOIN per_doc p USING (doc_id)
    """,
)


# ---------------------------------------------------------------------------
# n-gram benchmark decontamination
# ---------------------------------------------------------------------------


def q_ngram_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    return dedup.ngram_decontam(corpus, bench)


registry.register(
    "ngram_decontam",
    q_ngram_decontam,
    f"""
    WITH toked AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               CASE WHEN len(toks) >= 8
                    THEN generate_series(0, len(toks) - 8) END,
               i -> md5(array_to_string(list_slice(toks, i + 1, i + 8), ' '))
             ))) AS gram
      FROM toked
    ),
    bg AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 50 = 0)
    SELECT g.doc_id, COUNT(DISTINCT g.gram) AS n_shared_grams
    FROM grams g JOIN bg USING (gram)
    WHERE g.doc_id % 50 <> 0
    GROUP BY g.doc_id
    """,
)


# ---------------------------------------------------------------------------
# Random-hyperplane LSH over embeddings
# ---------------------------------------------------------------------------


def q_hyperplane_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.hyperplane_lsh_pairs(load_table(spark, sf_dir, "embeddings"))


def _hyperplane_sql() -> str:
    hp_bits = similarity._HP_PLANES // similarity._HP_BANDS
    hp_mask = (1 << hp_bits) - 1
    bit_terms = []
    for p in range(similarity._HP_PLANES):
        w = "[" + ", ".join(str(v) for v in similarity.HP_WEIGHTS[p]) + "]"
        bit_terms.append(
            f"(CASE WHEN list_sum(list_transform(list_zip(q, {w}), "
            f"z -> z[1] * z[2])) >= 0 THEN {2 ** p} ELSE 0 END)"
        )
    fp = "\n           + ".join(bit_terms)
    bands = "\n      UNION ALL\n      ".join(
        f"SELECT vec_id, {b} AS band_id,"
        f" (hp_fp >> {b * hp_bits}) & {hp_mask} AS band_val FROM fps"
        for b in range(similarity._HP_BANDS)
    )
    cos = _COS_SQL.format(a="ea.embedding", b="eb.embedding")
    return f"""
    WITH qv AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
      FROM embeddings
    ),
    fps AS (
      SELECT vec_id,
           {fp}
           AS hp_fp
      FROM qv
    ),
    banded AS (
      {bands}
    ),
    cand AS (
      SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
      FROM banded l JOIN banded r
        ON l.band_id = r.band_id AND l.band_val = r.band_val
       AND l.vec_id < r.vec_id
    )
    SELECT c.id_a, c.id_b, {cos} AS cos
    FROM cand c
    JOIN embeddings ea ON ea.vec_id = c.id_a
    JOIN embeddings eb ON eb.vec_id = c.id_b
    WHERE {cos} > 0.3e0
    """


registry.register("hyperplane_lsh_pairs", q_hyperplane_lsh_pairs, _hyperplane_sql())


# ---------------------------------------------------------------------------
# k-means training (Lloyd's) — checked via a scalar projection of the
# fitted model (cid, n_members, rounded centroid norm: all hashable
# types) against a DuckDB oracle that unrolls the 3 fixed Lloyd
# iterations as chained CTEs. The array-returning kmeans_fit stays the
# library API; only the projection is driver-compared.
# ---------------------------------------------------------------------------


def q_kmeans_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    init = emb.filter(F.col("vec_id") < 8)
    fit = similarity.kmeans_fit(emb, init, n_iter=3)
    sumsq = F.aggregate("centroid", F.lit(0.0), lambda a, x: a + x * x)
    # floor-trick round-to-6 (queries_domain._r6): same IEEE ops as the
    # oracle so boundary averages can't diverge between engines
    return fit.select(
        F.col("cluster_id").alias("cid"),
        "n_members",
        (F.floor(F.sqrt(sumsq) * 1000000.0 + 0.5) / 1000000.0).alias(
            "centroid_norm"
        ),
    )


def _kmeans_fit_sql(n_iter: int = 3) -> str:
    """Unrolled Lloyd's in pure SQL: per iteration, (1) assign every
    vector to its nearest centroid (Euclidean; ties -> lowest cluster
    id, matching np.argmin's first-index rule), (2) recompute centroids
    as element-wise member means via unnest + positional regroup.
    Clusters that lose all members keep their previous centroid and
    report 0 members — the same empty-cluster rule as kmeans_fit."""
    parts = [
        """
    emb AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    c0 AS (
      SELECT vec_id AS cid, v AS cent, CAST(0 AS BIGINT) AS n
      FROM emb WHERE vec_id < 8
    )"""
    ]
    for i in range(1, n_iter + 1):
        parts.append(f"""
    a{i} AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_distance(e.v, c.cent), c.cid
               ) AS rn
        FROM emb e CROSS JOIN c{i - 1} c
      ) WHERE rn = 1
    ),
    m{i} AS (
      SELECT cid, list(mval ORDER BY pos) AS cent, any_value(nm) AS n
      FROM (
        SELECT cid, pos, sum(val) / count(*) AS mval,
               count(*) AS nm
        FROM (
          SELECT a.cid, unnest(e.v) AS val,
                 generate_subscripts(e.v, 1) AS pos
          FROM a{i} a JOIN emb e ON a.vec_id = e.vec_id
        )
        GROUP BY cid, pos
      )
      GROUP BY cid
    ),
    c{i} AS (
      SELECT p.cid, COALESCE(m.cent, p.cent) AS cent,
             COALESCE(m.n, 0) AS n
      FROM c{i - 1} p LEFT JOIN m{i} m USING (cid)
    )""")
    return f"""
    WITH {",".join(parts)}
    SELECT cid, n AS n_members,
           FLOOR(sqrt(list_sum(list_transform(cent, x -> x * x)))
                 * 1000000.0 + 0.5) / 1000000.0 AS centroid_norm
    FROM c{n_iter}
    """


registry.register("kmeans_fit", q_kmeans_fit, _kmeans_fit_sql())


# ---------------------------------------------------------------------------
# Quality-weighted sampling (CCNet-style: keep probability = quality)
# ---------------------------------------------------------------------------


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic importance sampling: each document is kept with
    probability equal to its quality score — the CCNet-style move that
    upsamples clean text without a hard cutoff. The coin flip is the
    identity-hash unit value (operators/sampling.py), so the sample is
    reproducible across runs, engines, and repartitioning; in-row,
    zero shuffle at any corpus size."""
    from airflow_baseball_spark.operators.sampling import hash_unit

    docs = spread(load_table(spark, sf_dir, "documents"))
    t = F.col("text")
    q = analysis.quality_score(t)
    return (
        docs.select("doc_id", q.alias("quality"), hash_unit("doc_id", "w").alias("u"))
        .filter(F.col("u") < F.col("quality"))
        .select("doc_id", F.round("quality", 6).alias("quality"))
    )


def _weighted_sample_sql() -> str:
    from airflow_baseball_spark.operators.sampling import hash_unit_sql

    return f"""
    WITH base AS (
      SELECT doc_id,
             len({_TOKS}) AS n_tokens,
             CASE WHEN length(text) > 0 THEN
               (length(text) - length(translate(text, '.,!?;:''"()[]{{}}', '')))
               / length(text) ELSE 0.0e0 END AS punct_ratio,
             CASE WHEN len({_TOKS}) > 0 THEN
               list_sum(list_transform({_TOKS}, t -> length(t))) / len({_TOKS})
             END AS mean_tok_len,
             len(list_filter({_TOKS}, t -> list_contains({_SW['en']}, t)))
               AS sw
      FROM documents
    ),
    scored AS (
      SELECT doc_id,
             0.25e0 * least(CAST(n_tokens AS DOUBLE), 100.0e0) / 100.0e0
             + 0.25e0 * (1.0e0 - least(punct_ratio * 5.0e0, 1.0e0))
             + 0.25e0 * least(CASE WHEN CAST(n_tokens AS DOUBLE) > 0
                                   THEN CAST(sw AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                                   ELSE 0.0e0 END * 5.0e0, 1.0e0)
             + 0.25e0 * (1.0e0 - least(abs(mean_tok_len - 5.0e0) / 5.0e0, 1.0e0))
               AS quality
      FROM base
    )
    SELECT doc_id, ROUND(quality, 6) AS quality
    FROM scored
    WHERE {hash_unit_sql("doc_id", "w")} < quality
    """


registry.register("weighted_sample", q_weighted_sample, _weighted_sample_sql())


# ---------------------------------------------------------------------------
# Document chunking
# ---------------------------------------------------------------------------


def q_doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 200-char chunks, stride 150 (50-char overlap) — the
    retrieval-style pre-tokenization split; in-row explode, no
    shuffle."""
    from airflow_baseball_spark.text.chunking import doc_chunk

    docs = load_table(spark, sf_dir, "documents")
    return doc_chunk(docs, chunk_size=200, stride=150)


registry.register(
    "doc_chunk",
    q_doc_chunk,
    """
    WITH starts AS (
      SELECT doc_id, text,
             unnest(generate_series(1, length(text), 150)) AS start
      FROM documents
    )
    SELECT doc_id,
           (start - 1) // 150 AS chunk_id,
           CAST(start AS BIGINT) AS chunk_start,
           substring(text, CAST(start AS INT), 200) AS chunk
    FROM starts
    """,
)


# ---------------------------------------------------------------------------
# Incremental dedup (batch vs precomputed store)
# ---------------------------------------------------------------------------


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest shape: docs with doc_id % 10 == 0 play the new
    batch; the rest play the historical corpus, represented ONLY by
    its precomputed signature + digest tables (built here for the
    check; persisted artifacts in production)."""
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    store = docs.filter(F.col("doc_id") % 10 != 0)
    # r11: signatures depend only on the text, so both sides are
    # filters of the session-materialized corpus signature table —
    # the previous form re-ran the 16-permutation in-row hash over
    # 100% of the corpus inside this one query
    sigs = _corpus_sigs(spark, sf_dir)
    store_sigs = sigs.filter(F.col("doc_id") % 10 != 0)
    batch_sigs = sigs.filter(F.col("doc_id") % 10 == 0)
    store_digests = store.select(F.md5(F.col("text")).alias("digest"))
    return dedup.incremental_dedup(
        batch, store_sigs, store_digests, batch_sigs=batch_sigs
    )


def _incremental_dedup_sql() -> str:
    rows_per_band = len(dedup._PERMS) // dedup.N_BANDS
    bands = []
    for b in range(dedup.N_BANDS):
        cols = " || '_' || ".join(
            f"CAST(sig_{b * rows_per_band + j} AS VARCHAR)"
            for j in range(rows_per_band)
        )
        bands.append(f"SELECT doc_id, {b} AS band_id, {cols} AS band_hash FROM sigs")
    banded = "\n      UNION ALL\n      ".join(bands)
    return f"""
    WITH sigs AS ({_minhash_sql()}),
    banded AS (
      {banded}
    ),
    cand AS (
      SELECT b.doc_id, COUNT(DISTINCT s.doc_id) AS n_candidates
      FROM banded b JOIN banded s
        ON b.band_id = s.band_id AND b.band_hash = s.band_hash
      WHERE b.doc_id % 10 = 0 AND s.doc_id % 10 != 0
      GROUP BY 1
    ),
    dig AS (SELECT doc_id, md5(text) AS d FROM documents),
    ex AS (
      SELECT b.doc_id, 1 AS exact_dup FROM dig b
      WHERE b.doc_id % 10 = 0
        AND EXISTS (SELECT 1 FROM dig s
                    WHERE s.doc_id % 10 != 0 AND s.d = b.d)
    )
    SELECT d.doc_id,
           CAST(COALESCE(c.n_candidates, 0) AS BIGINT) AS n_candidates,
           CAST(COALESCE(e.exact_dup, 0) AS INT) AS exact_dup
    FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
    LEFT JOIN cand c USING (doc_id)
    LEFT JOIN ex e USING (doc_id)
    """


registry.register("incremental_dedup", q_incremental_dedup, _incremental_dedup_sql())


# ---------------------------------------------------------------------------
# Vocabulary extraction (global top-K terms)
# ---------------------------------------------------------------------------


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-100 terms by document frequency — the
    first pass of BPE/WordPiece corpus prep. One (term) groupBy with
    map-side combine, then a global top-k; the ORDER BY runs on the
    aggregated term table (vocabulary-sized, not corpus-sized), so at
    100 TB the sort input is millions of rows regardless of corpus
    size. Ties break lexicographically for engine determinism."""
    from pyspark.sql import Window

    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select(F.explode(analysis.tokens(F.col("text"))).alias("term"))
    counts = toks.groupBy("term").agg(F.count("*").alias("n"))
    # orderBy+limit plans as TakeOrderedAndProject: each partition
    # keeps its own top-100, the driver merges — never a global sort
    # or single-partition window over the full vocabulary
    top = counts.orderBy(F.col("n").desc(), "term").limit(100)
    w = Window.orderBy(F.col("n").desc(), "term")  # <=100 rows by now
    return top.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).select("term", "n", "rank")


registry.register(
    "vocab_topk",
    q_vocab_topk,
    f"""
    WITH counts AS (
      SELECT term, COUNT(*) AS n
      FROM (SELECT unnest({_TOKS}) AS term FROM documents)
      GROUP BY 1
    )
    SELECT term, n,
           CAST(ROW_NUMBER() OVER (ORDER BY n DESC, term) AS BIGINT) AS rank
    FROM counts
    ORDER BY n DESC, term
    LIMIT 100
    """,
)


# ---------------------------------------------------------------------------
# Segment-level (CCNet-style) dedup
# ---------------------------------------------------------------------------


def q_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup: drop every repeat of a 16-word segment seen
    anywhere in the corpus, rebuild surviving text per doc. Bodies
    never shuffle (digests + id lists only) — see text/dedup.py."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.segment_dedup(docs, seg_words=16)


registry.register(
    "segment_dedup",
    q_segment_dedup,
    """
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    meta0 AS (
      SELECT doc_id, w,
             unnest(range(0, CAST(ceil(len(w) / 16.0) AS BIGINT))) AS seg_idx
      FROM base
    ),
    meta AS (
      SELECT doc_id, seg_idx,
             md5(array_to_string(w[(seg_idx*16+1):(seg_idx*16+16)], ' ')) AS digest
      FROM meta0
    ),
    marked AS (
      SELECT doc_id, seg_idx,
             ROW_NUMBER() OVER (PARTITION BY digest
                                ORDER BY doc_id, seg_idx) AS rn
      FROM meta
    ),
    kept AS (
      SELECT m.doc_id, m.seg_idx,
             array_to_string(b.w[(m.seg_idx*16+1):(m.seg_idx*16+16)], ' ') AS seg
      FROM marked m JOIN base b USING (doc_id)
      WHERE m.rn = 1
    ),
    folded AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(seg, ' ' ORDER BY seg_idx) AS kept_text
      FROM kept GROUP BY 1
    )
    SELECT b.doc_id,
           CAST(ceil(len(b.w) / 16.0) AS BIGINT) AS n_segs,
           CAST(COALESCE(f.n_kept, 0) AS BIGINT) AS n_kept,
           COALESCE(f.kept_text, '') AS kept_text
    FROM base b LEFT JOIN folded f USING (doc_id)
    """,
)


# ---------------------------------------------------------------------------
# Product-quantization ADC top-k
# ---------------------------------------------------------------------------


def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed ANN scan (4 subspaces × 8 codewords, codebook =
    first 8 embeddings), exactly oracle-checked: every distance is an
    integer micro-unit sum, so encode and ADC replicate bit-for-bit in
    SQL (text/similarity.pq_adc_topk)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    codewords = emb.filter(F.col("vec_id") < 8)
    return similarity.pq_adc_topk(emb, queries, codewords, n_subspaces=4, k=3)


def _pq_adc_sql() -> str:
    micro = (
        "(SELECT SUM(CAST(FLOOR((CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
        " * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT))"
        " FROM (SELECT unnest({a}) x, unnest({b}) y))"
    )
    return f"""
    WITH ms AS (SELECT unnest(range(0, 4)) AS m),
    cw AS (
      SELECT ms.m, e.vec_id AS cid,
             e.embedding[(ms.m*16+1):(ms.m*16+16)] AS cv
      FROM embeddings e CROSS JOIN ms
      WHERE e.vec_id < 8
    ),
    sub AS (
      SELECT e.vec_id, ms.m,
             e.embedding[(ms.m*16+1):(ms.m*16+16)] AS v
      FROM embeddings e CROSS JOIN ms
    ),
    dmat AS (
      SELECT s.vec_id, s.m, c.cid,
             {micro.format(a="s.v", b="c.cv")} AS dm
      FROM sub s JOIN cw c USING (m)
    ),
    enc AS (
      SELECT vec_id, m, cid FROM (
        SELECT vec_id, m, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                  ORDER BY dm, cid) AS rn
        FROM dmat
      ) WHERE rn = 1
    ),
    adc AS (
      SELECT l.vec_id AS query_id, e.vec_id AS neighbor_id,
             SUM(l.dm) AS adc_micro
      FROM enc e JOIN dmat l ON l.m = e.m AND l.cid = e.cid
      WHERE l.vec_id % 25 = 0 AND e.vec_id <> l.vec_id
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, CAST(adc_micro AS BIGINT) AS adc_micro,
           CAST(rank AS INT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY adc_micro, neighbor_id) AS rank
      FROM adc
    ) WHERE rank <= 3
    """


registry.register("pq_adc_topk", q_pq_adc_topk, _pq_adc_sql())


def q_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship (entity-resolution completion) over the near-dup
    clusters: per cluster, elect the canonical document — longest text,
    ties to the lowest doc_id — and report the merged-cluster facts.

    Scale shape: everything downstream of the CC labels is ONE shuffle
    on cluster_root; the election is a row_number window and the
    merged stats ride the same partitioning. The expensive part is the
    clustering itself, shared (via _cluster_labels, recomputed per
    run) with dedup_clusters — a production pipeline materializes the
    label table once and both consumers read it."""
    docs = load_table(spark, sf_dir, "documents")
    labeled = _cluster_labels(spark, sf_dir).join(
        docs.select("doc_id", "n_chars"), "doc_id"
    )
    w = Window.partitionBy("cluster_root").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        labeled.withColumn("rn", F.row_number().over(w))
        .groupBy("cluster_root")
        .agg(
            F.count("*").alias("n_members"),
            F.sum("n_chars").alias("total_chars"),
            F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias(
                "survivor_doc_id"
            ),
            F.max(F.when(F.col("rn") == 1, F.col("n_chars"))).alias(
                "survivor_chars"
            ),
        )
    )


def _golden_record_sql() -> str:
    return f"""
    WITH RECURSIVE
    {_cc_closure_sql()},
    labeled AS (
      SELECT d.doc_id, d.n_chars,
             COALESCE(c.root, d.doc_id) AS cluster_root,
             ROW_NUMBER() OVER (
               PARTITION BY COALESCE(c.root, d.doc_id)
               ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    )
    SELECT cluster_root,
           COUNT(*) AS n_members,
           SUM(n_chars) AS total_chars,
           MAX(CASE WHEN rn = 1 THEN doc_id END) AS survivor_doc_id,
           MAX(CASE WHEN rn = 1 THEN n_chars END) AS survivor_chars
    FROM labeled GROUP BY 1
    """


registry.register("golden_record", q_golden_record, _golden_record_sql())


# ---------------------------------------------------------------------------
# Unigram LM perplexity scoring (quality filtering via corpus LM)
# ---------------------------------------------------------------------------


def q_unigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean negative log-likelihood of each document under the
    corpus's own unigram LM — the classic cheap perplexity filter
    (CCNet buckets documents exactly this way, just with a 5-gram LM).

    Exactness: per-token log-probs are QUANTIZED to an exact BIGINT
    (floor(ln p · 1e9)) BEFORE the per-doc sum, so the summation is
    exact integer arithmetic — order-invariant across engines and
    partition counts — and the 1e-9 scale is divided back out only in
    the final double expression. Summing raw double ln(p) would drift
    in the last ulps per partition order; staging through DECIMAL
    division would hit the engines' different decimal-quotient scale
    rules (measured: 1e-6 flips on ~10% of docs).

    Scale: one (doc, token) count shuffle; the vocabulary table (and
    its total) re-aggregate THAT table, come back as a broadcast, and
    the per-doc score is a second combinable agg. Two fact-derived
    shuffles, no joins against the raw log."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    dt = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    vocab = dt.groupBy("tok").agg(F.sum("tf").alias("n_tok"))
    total = vocab.agg(F.sum("n_tok").alias("n_total"))
    lp9 = F.floor(
        F.log(F.col("n_tok").cast("double") / F.col("n_total").cast("double"))
        * 1e9
    ).cast("long")
    scored = dt.join(
        F.broadcast(vocab.crossJoin(total).select("tok", lp9.alias("lp9"))), "tok"
    )
    from airflow_baseball_spark.functions.scalar import round6_portable

    return scored.groupBy("doc_id").agg(
        F.sum("tf").alias("dl"),
        round6_portable(
            -F.sum(F.col("tf") * F.col("lp9")).cast("double")
            / (F.sum("tf").cast("double") * 1e9)
        ).alias("mean_nll"),
    )


registry.register(
    "unigram_perplexity",
    q_unigram_perplexity,
    """
    WITH dt AS (
      SELECT doc_id, tok, COUNT(*) AS tf
      FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
            FROM documents)
      GROUP BY 1, 2
    ),
    vocab AS (SELECT tok, SUM(tf) AS n_tok FROM dt GROUP BY 1),
    total AS (SELECT SUM(n_tok) AS n_total FROM vocab),
    lp AS (
      SELECT v.tok,
             CAST(FLOOR(LN(CAST(v.n_tok AS DOUBLE)
                           / CAST(t.n_total AS DOUBLE)) * 1e9) AS BIGINT)
               AS lp9
      FROM vocab v CROSS JOIN total t
    )
    SELECT d.doc_id, SUM(d.tf) AS dl,
           FLOOR(-CAST(SUM(d.tf * l.lp9) AS DOUBLE)
                 / (CAST(SUM(d.tf) AS DOUBLE) * 1e9) * 1000000.0 + 0.5)
             / 1000000.0 AS mean_nll
    FROM dt d JOIN lp l ON d.tok = l.tok
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# Per-dimension embedding statistics
# ---------------------------------------------------------------------------


def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance over the embedding column — the
    profile that catches dead dimensions and scale drift before they
    poison an ANN index. posexplode fans each vector into (dim, value)
    rows; one combinable agg over 64 dim keys carries exact decimal
    (n, Σx, Σx²); variance is the standard expansion on exact inputs.
    Elements are widened float→double→DECIMAL identically on both
    engines so the sums are bit-equal."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ex = emb.select(F.posexplode("embedding").alias("dim", "x"))
    xd = dec_portable(F.col("x").cast("double"), 14, 6)
    stats = ex.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum(xd).alias("sx"),
        F.sum((xd * xd).cast("decimal(38,12)")).alias("sxx"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    from airflow_baseball_spark.functions.scalar import round6_portable

    return stats.select(
        (F.col("dim") + 1).alias("dim"),  # 1-based, matches SQL ordinality
        "n",
        round6_portable(sx / n).alias("dim_mean"),
        round6_portable((sxx - sx * sx / n) / (n - F.lit(1.0))).alias("dim_var"),
    )


registry.register(
    "embedding_dim_stats",
    q_embedding_dim_stats,
    """
    WITH ex AS (
      SELECT s.i AS dim,
             CAST(FLOOR(CAST(embedding[s.i] AS DOUBLE) * 1000000 + 0.5) / 1000000
                  AS DECIMAL(14,6)) AS xd
      FROM embeddings,
           UNNEST(generate_series(1, len(embedding))) AS s(i)
    ),
    stats AS (
      SELECT dim, COUNT(*) AS n, SUM(xd) AS sx,
             SUM(CAST(xd * xd AS DECIMAL(38,12))) AS sxx
      FROM ex GROUP BY 1
    )
    SELECT CAST(dim AS INT) AS dim, n,
           FLOOR(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS dim_mean,
           FLOOR((CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                 / (CAST(n AS DOUBLE) - 1.0)
                 * 1000000.0 + 0.5) / 1000000.0 AS dim_var
    FROM stats
    """,
)


# ---------------------------------------------------------------------------
# Skip-gram co-occurrence pairs (word2vec-style context extraction)
# ---------------------------------------------------------------------------


def q_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(center, context) token pair counts within a ±2 position
    window — the extraction pass that feeds word2vec/GloVe-style
    embedding training.

    Scale shape: pair generation is IN-ROW over each document's token
    array (index-aware transform + bounded sequence — the window is a
    constant, so the blowup is ≤ 2·window per token), then ONE
    combinable (center, context) count shuffle bounded by vocab²,
    never corpus size. A positional self-join of the exploded token
    table — the naive form — would shuffle the corpus twice and pay
    a join for what is a per-row neighborhood."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # hoist the tokenization into its own projection: referencing
    # split(text) inside the per-index lambda would re-split the
    # document for EVERY (token, offset) pair — O(tokens²) string
    # work per row (measured 6.2s → ~1s at sf0.1)
    toked = docs.select(F.split(F.col("text"), " ").alias("toks"))
    pairs = toked.select(
        F.explode(
            F.expr(
                """
                flatten(transform(toks, (x, i) ->
                  transform(
                    filter(sequence(greatest(i - 2, 0),
                                    least(i + 2, size(toks) - 1)),
                           j -> j != i),
                    j -> struct(x AS center, toks[j] AS context))))
                """
            )
        ).alias("p")
    ).select("p.center", "p.context")
    return (
        pairs.groupBy("center", "context")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 5)
    )


registry.register(
    "skipgram_pairs",
    q_skipgram_pairs,
    """
    WITH toked AS (SELECT string_split(text, ' ') AS toks FROM documents),
    pairs AS (
      SELECT toks[s.i] AS center, toks[t.j] AS context
      FROM toked,
           UNNEST(generate_series(1, len(toks))) AS s(i),
           UNNEST(generate_series(GREATEST(s.i - 2, 1),
                                  LEAST(s.i + 2, len(toks)))) AS t(j)
      WHERE t.j <> s.i
    )
    SELECT center, context, COUNT(*) AS n
    FROM pairs GROUP BY 1, 2
    HAVING COUNT(*) >= 5
    """,
)


# ---------------------------------------------------------------------------
# Round-5: repetition profile + n-gram novelty scoring
# ---------------------------------------------------------------------------


def q_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: the fraction of
    duplicate tokens and duplicate word-bigrams (1 − distinct/total).
    Everything is IN-ROW array arithmetic over the token split — zero
    shuffles, linear in corpus bytes, embarrassingly parallel at any
    scale; the ratios are exact-int divisions `_r6`-bounded."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    base = docs.select("doc_id", toks.alias("toks")).filter(
        F.size("toks") >= 2
    )
    n = F.size("toks")
    bigrams = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat(
            F.element_at(F.col("toks"), i),
            F.lit(" "),
            F.element_at(F.col("toks"), i + 1),
        ),
    )
    wb = base.select(
        "doc_id",
        n.alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_distinct_tokens"),
        F.size(bigrams).alias("n_bigrams"),
        F.size(F.array_distinct(bigrams)).alias("n_distinct_bigrams"),
    )
    one = F.lit(1.0)
    return wb.select(
        "doc_id",
        "n_tokens",
        _r6(
            one
            - F.col("n_distinct_tokens").cast("double")
            / F.col("n_tokens").cast("double")
        ).alias("dup_token_frac"),
        _r6(
            one
            - F.col("n_distinct_bigrams").cast("double")
            / F.col("n_bigrams").cast("double")
        ).alias("dup_bigram_frac"),
    )


registry.register(
    "repetition_profile",
    q_repetition_profile,
    f"""
    WITH toked AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    base AS (
      SELECT doc_id, toks,
             list_transform(generate_series(1, len(toks) - 1),
                            i -> toks[i] || ' ' || toks[i + 1]) AS bigrams
      FROM toked WHERE len(toks) >= 2
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           FLOOR((1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
                        / CAST(len(toks) AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS dup_token_frac,
           FLOOR((1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE)
                        / CAST(len(bigrams) AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS dup_bigram_frac
    FROM base
    """,
)


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data novelty score: the fraction of each document's
    distinct word-3-grams that appear in NO other document. The gram
    key is an md5 digest (16 bytes shuffle payload, same trick as
    ngram_decontam), the document-frequency table is one gram-keyed
    count, and the per-doc rollup is a second bounded agg — no
    pairwise comparison anywhere, so the plan is two shuffles
    regardless of corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    base = docs.select("doc_id", toks.alias("toks")).filter(
        F.size("toks") >= 3
    )
    grams3 = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 2),
            lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("toks"), i, F.lit(3)))),
        )
    )
    dg = base.select("doc_id", F.explode(grams3).alias("gram"))
    df_counts = dg.groupBy("gram").agg(F.count("*").alias("df"))
    j = dg.join(df_counts, "gram")
    return (
        j.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count(F.when(F.col("df") == 1, 1)).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            _r6(
                F.col("n_novel").cast("double") / F.col("n_grams").cast("double")
            ).alias("novelty"),
        )
    )


registry.register(
    "ngram_novelty",
    q_ngram_novelty,
    f"""
    WITH toked AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, len(toks) - 2),
               i -> md5(array_to_string(list_slice(toks, i, i + 2), ' '))
             ))) AS gram
      FROM toked WHERE len(toks) >= 3
    ),
    dfc AS (SELECT gram, COUNT(*) AS df FROM grams GROUP BY gram)
    SELECT g.doc_id,
           COUNT(*) AS n_grams,
           COUNT(CASE WHEN d.df = 1 THEN 1 END) AS n_novel,
           FLOOR((CAST(COUNT(CASE WHEN d.df = 1 THEN 1 END) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS novelty
    FROM grams g JOIN dfc d USING (gram)
    GROUP BY g.doc_id
    """,
)


def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate SUSPECT rate per ingestion source: the share of
    a feed's documents that share at least one 5-word shingle with
    any other document in the corpus. (An exact-digest version is
    vacuous on this corpus — zero exact dups at every SF — while the
    5-gram signal flags a discriminative ~14 %; exact_dedup already
    covers the digest plan.) The shingle-frequency table is
    corpus-wide md5 keys (16-byte shuffle payload, bodies never
    move); suspects come back per doc via a semi-join-shaped count.
    This is the per-feed rollup an ingestion pipeline alerts on — a
    feed whose rate jumps is re-sending boilerplate."""
    docs = load_table(spark, sf_dir, "documents")
    # r9: project the split ONCE per row — inlining `toks` in the
    # filter, the sequence bound, and the per-shingle slice made
    # codegen re-split the text per shingle (measured 3.8 s -> 1.2 s
    # for the gram build at sf0.1 on the identical source_overlap
    # shape); same tokens, same digests
    base = docs.select(
        "doc_id",
        "source",
        F.split(F.trim(F.col("text")), r"\s+").alias("toks"),
    ).filter(F.size("toks") >= 5)
    grams = base.select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 4),
                    lambda i: F.md5(
                        F.concat_ws(" ", F.slice(F.col("toks"), i, F.lit(5)))
                    ),
                )
            )
        ).alias("g"),
    )
    # ONE pass over the exploded grams: a window count over the gram
    # key flags shared grams in the same shuffle a df-table join would
    # need, without materializing the explode twice (a groupBy+join-
    # back shape re-ran the 1.5M-row explode on both sides — measured
    # 7.9 s → ~4 s at sf0.1)
    wg = Window.partitionBy("g")
    flagged = grams.select(
        "doc_id", "source", (F.count("*").over(wg) > 1).alias("shared")
    )
    per_doc = flagged.groupBy("doc_id", "source").agg(
        F.max("shared").alias("is_suspect")
    )
    j = docs.select("doc_id", "source").join(
        per_doc.select("doc_id", "is_suspect"), "doc_id", "left"
    )
    return (
        j.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("is_suspect"), 1)).alias("n_suspect"),
        )
        .select(
            "source",
            "n_docs",
            "n_suspect",
            _r6(
                F.col("n_suspect").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("suspect_rate"),
        )
    )


registry.register(
    "dup_rate_by_source",
    q_dup_rate_by_source,
    f"""
    WITH toked AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
    grams AS (
      SELECT doc_id, source,
             unnest(list_distinct(list_transform(
               generate_series(1, len(toks) - 4),
               i -> md5(array_to_string(list_slice(toks, i, i + 4), ' '))
             ))) AS g
      FROM toked WHERE len(toks) >= 5
    ),
    freq AS (SELECT g, COUNT(*) AS df FROM grams GROUP BY g),
    suspects AS (
      SELECT DISTINCT gr.doc_id
      FROM grams gr JOIN freq f USING (g) WHERE f.df > 1
    )
    SELECT d.source,
           COUNT(*) AS n_docs,
           COUNT(s.doc_id) AS n_suspect,
           FLOOR((CAST(COUNT(s.doc_id) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS suspect_rate
    FROM documents d LEFT JOIN suspects s USING (doc_id)
    GROUP BY d.source
    """,
)


def q_data_prep_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data prep funnel — the integration query
    that chains the pipeline a pretraining corpus actually runs, and
    reports how much data each stage costs:

      0_raw      → every document
      1_quality  → Gopher repetition keep-flag survivors
      2_dedup    → one representative (min doc_id) per exact digest
                   among quality survivors
      3_decontam → drop benchmark docs (doc_id%50==0, the eval split
                   convention of ngram_decontam) and any survivor
                   sharing an 8-gram with that benchmark

    All four counts land in ONE 1-row aggregate over per-doc flags
    (the flag joins are digest-keyed and benchmark-bounded — no stage
    re-scans the corpus), and the 4 report rows explode in-row.
    Retention fractions are exact-int divisions."""
    docs = load_table(spark, sf_dir, "documents")
    keep_q = analysis.gopher_repetition(docs).select("doc_id", "keep")
    flagged = docs.join(keep_q, "doc_id").select(
        "doc_id", "text", F.col("keep").alias("q_keep")
    )
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    flagged = flagged.withColumn(
        "is_rep", F.row_number().over(w) == 1
    )
    # r11 (optimization): decontam reads only (doc_id, text), so feed it
    # the raw corpus split instead of `flagged` — hanging it off flagged
    # re-evaluated the whole gopher-bigram + md5-window subtree a second
    # time under the decontam branch (profiled: the funnel's two
    # heaviest 32-task stages were that subtree, twice). Same
    # contaminated set: the dropped flag columns never filtered it.
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    contaminated = dedup.ngram_decontam(corpus, bench).select(
        "doc_id", F.lit(True).alias("is_contam")
    )
    scored = flagged.join(contaminated, "doc_id", "left").select(
        "doc_id",
        "q_keep",
        "is_rep",
        (F.col("doc_id") % 50 != 0).alias("is_corpus"),
        F.coalesce(F.col("is_contam"), F.lit(False)).alias("is_contam"),
    )
    s1 = F.col("q_keep")
    s2 = s1 & F.col("is_rep")
    s3 = s2 & F.col("is_corpus") & ~F.col("is_contam")
    agg = scored.agg(
        F.count("*").alias("n0"),
        F.count(F.when(s1, 1)).alias("n1"),
        F.count(F.when(s2, 1)).alias("n2"),
        F.count(F.when(s3, 1)).alias("n3"),
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(stage).alias("stage"),
                F.col(f"n{i}").alias("n_docs"),
                _r6(
                    F.col(f"n{i}").cast("double") / F.col("n0").cast("double")
                ).alias("retained_frac"),
            )
            for i, stage in enumerate(
                ["0_raw", "1_quality", "2_dedup", "3_decontam"]
            )
        ]
    )
    return agg.select(F.explode(rows).alias("r")).select(
        "r.stage", "r.n_docs", "r.retained_frac"
    )


registry.register(
    "data_prep_funnel",
    q_data_prep_funnel,
    f"""
    WITH toked AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    in_row AS (
      SELECT doc_id, len(toks) AS n_words,
             ROUND(CASE WHEN len(toks) > 0
                   THEN 1.0 - len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE)
                   ELSE 0.0 END, 6) AS dup_word_frac
      FROM toked
    ),
    bigrams AS (
      SELECT doc_id,
             unnest(list_transform(
               CASE WHEN len(toks) >= 2
                    THEN generate_series(0, len(toks) - 2) END,
               i -> array_to_string(list_slice(toks, i + 1, i + 2), ' ')
             )) AS gram
      FROM toked
    ),
    bcounts AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM bigrams GROUP BY 1, 2),
    per_doc AS (SELECT doc_id, MAX(cnt) AS top_cnt, SUM(cnt) AS total_grams
                FROM bcounts GROUP BY 1),
    quality AS (
      SELECT i.doc_id,
             (i.dup_word_frac <= 0.3 AND
              ROUND(COALESCE(p.top_cnt / CAST(p.total_grams AS DOUBLE), 0.0), 6)
                <= 0.2) AS q_keep
      FROM in_row i LEFT JOIN per_doc p USING (doc_id)
    ),
    rep AS (
      SELECT d.doc_id,
             ROW_NUMBER() OVER (PARTITION BY md5(d.text)
                                ORDER BY d.doc_id) = 1 AS is_rep
      FROM documents d
    ),
    grams8 AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               CASE WHEN len(toks) >= 8
                    THEN generate_series(0, len(toks) - 8) END,
               i -> md5(array_to_string(list_slice(toks, i + 1, i + 8), ' '))
             ))) AS gram
      FROM toked
    ),
    bg AS (SELECT DISTINCT gram FROM grams8 WHERE doc_id % 50 = 0),
    contam AS (
      SELECT DISTINCT g.doc_id FROM grams8 g JOIN bg USING (gram)
      WHERE g.doc_id % 50 <> 0
    ),
    scored AS (
      SELECT d.doc_id, q.q_keep, r.is_rep,
             d.doc_id % 50 <> 0 AS is_corpus,
             c.doc_id IS NOT NULL AS is_contam
      FROM documents d
      JOIN quality q USING (doc_id)
      JOIN rep r USING (doc_id)
      LEFT JOIN contam c USING (doc_id)
    ),
    agg AS (
      SELECT COUNT(*) AS n0,
             COUNT(CASE WHEN q_keep THEN 1 END) AS n1,
             COUNT(CASE WHEN q_keep AND is_rep THEN 1 END) AS n2,
             COUNT(CASE WHEN q_keep AND is_rep AND is_corpus
                        AND NOT is_contam THEN 1 END) AS n3
      FROM scored
    )
    SELECT '0_raw' AS stage, n0 AS n_docs,
           FLOOR((CAST(n0 AS DOUBLE) / CAST(n0 AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS retained_frac FROM agg
    UNION ALL
    SELECT '1_quality', n1,
           FLOOR((CAST(n1 AS DOUBLE) / CAST(n0 AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 FROM agg
    UNION ALL
    SELECT '2_dedup', n2,
           FLOOR((CAST(n2 AS DOUBLE) / CAST(n0 AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 FROM agg
    UNION ALL
    SELECT '3_decontam', n3,
           FLOOR((CAST(n3 AS DOUBLE) / CAST(n0 AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 FROM agg
    """,
)


# ---------------------------------------------------------------------------
# Power-iteration top principal direction of the embedding Gram matrix
# ---------------------------------------------------------------------------

_PCA_DIM = 64
_PCA_ITERS = 3


def q_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the (uncentered) embedding Gram
    matrix XᵀX by 3 power iterations — the PCA/spectral-init kernel,
    distributed: each iteration is one matvec expressed as an
    embarrassingly-parallel per-row dot product plus ONE dim-keyed
    (64-row) aggregation. X is never collected; the iterate v is a
    1-row broadcast array, localCheckpoint'ed per round so the plan
    stays linear in iterations.

    Engine-exact iteration (the reason this is oracle-checkable at
    all): (1) the in-row dot x·v is a LEFT-CHAINED 64-term add — the
    oracle unrolls it explicitly, the Spark side folds it with
    aggregate(zip_with(...), 0.0, acc+t), and both evaluate the
    identical IEEE tree left-to-right (0.0 + t1 == t1 in VALUE; the
    one IEEE caveat is t1 = -0.0, where 0.0 + (-0.0) = +0.0 flips the
    zero's sign bit vs the old unrolled chain — value-equal, and the
    floor/CAST quantizers downstream absorb it; PERF_NOTES r10), no
    summation-algorithm freedom; (2) per-row contributions quantize
    to integers (floor(x_d·dot·1e6)) BEFORE the cross-row sum, so the
    only order-sensitive reduction in the algorithm is a sum of
    EXACT BIGINTs; (3) the norm uses decimal Σs² (s² overflows
    int64); (4) v re-quantizes to the 1e-6 grid after normalizing,
    so every iteration starts from bit-identical inputs. Same
    quantize-before-reduce trick as unigram_perplexity."""
    emb = load_table(spark, sf_dir, "embeddings").select("embedding")
    vdf = spark.range(1).select(
        F.array(*[F.lit(0.125)] * _PCA_DIM).alias("v")  # 1/√64, exact binary
    )
    for _ in range(_PCA_ITERS):
        # r10: the left-chained dot as a higher-order fold instead of
        # an unrolled 127-node expression — aggregate(zip_with(x·v),
        # 0.0, acc+t) adds the identical products in the identical
        # left-to-right order (0.0 + t1 == t1 in value — only a
        # -0.0 first term would flip the zero's sign bit, and the
        # downstream quantizers absorb that), so the IEEE value is
        # unchanged, but the plan carries a 5-node HOF
        # instead of three 127-node codegen units whose janino
        # compile dominated the query's first-run cost (the bench
        # reading is always a first run; measured in PERF_NOTES r10).
        dot = F.aggregate(
            F.zip_with(
                "embedding", "v", lambda x, y: x.cast("double") * y
            ),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        # r9: project the 64-term dot ONCE per row before the
        # per-element transform — inlining it inside the lambda made
        # codegen evaluate the full chain per element (64x64
        # multiply-adds/row); same IEEE value, ~35% off the matvec
        # stage (the oracle's j{t} CTE always computed it once)
        j = emb.crossJoin(F.broadcast(vdf)).select(
            "embedding", dot.alias("dot")
        )
        q = j.select(
            F.posexplode(
                F.transform(
                    F.col("embedding"),
                    lambda e: F.floor(
                        e.cast("double") * F.col("dot") * 1000000.0
                    ).cast("long"),
                )
            ).alias("pos", "qv")
        )
        wrows = q.groupBy("pos").agg(F.sum("qv").alias("s"))
        normdf = wrows.agg(
            F.sqrt(
                F.sum(
                    (F.col("s").cast("decimal(38,0)") * F.col("s")).cast(
                        "decimal(38,0)"
                    )
                ).cast("double")
            ).alias("nrm")  # = 1e6 · ‖w‖, the 1e6 cancels in v_d below
        )
        vdf = (
            wrows.crossJoin(F.broadcast(normdf))
            .select(
                "pos",
                (
                    F.floor(
                        F.col("s").cast("double") / F.col("nrm") * 1000000.0
                    )
                    / 1000000.0
                ).alias("vd"),
            )
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("vd")))
                    ),
                    lambda st: st["vd"],
                ).alias("v")
            )
            .localCheckpoint()
        )
    return vdf.select(F.posexplode("v").alias("dim", "loading"))


def _pca_power_sql() -> str:
    v0 = "[" + ", ".join(["0.125"] * _PCA_DIM) + "]::DOUBLE[]"
    sql = [f"WITH v0 AS (SELECT {v0} AS v)"]
    prev = "v0"
    for t in range(1, _PCA_ITERS + 1):
        dot = " + ".join(
            f"CAST(e.embedding[{d}] AS DOUBLE) * p.v[{d}]"
            for d in range(1, _PCA_DIM + 1)
        )
        sql.append(
            f""", j{t} AS (
      SELECT e.embedding, ({dot}) AS dot
      FROM embeddings e CROSS JOIN {prev} p
    ),
    q{t} AS (
      SELECT u.pos,
             SUM(CAST(FLOOR(CAST(j.embedding[u.pos] AS DOUBLE) * j.dot
                            * 1000000.0) AS BIGINT)) AS s
      FROM j{t} j CROSS JOIN
           (SELECT UNNEST(generate_series(1, {_PCA_DIM})) AS pos) u
      GROUP BY u.pos
    ),
    n{t} AS (
      SELECT SQRT(CAST(SUM(CAST(CAST(s AS DECIMAL(38,0)) * s
                                AS DECIMAL(38,0))) AS DOUBLE)) AS nrm
      FROM q{t}
    ),
    v{t} AS (
      SELECT list(FLOOR(CAST(s AS DOUBLE) / nrm * 1000000.0) / 1000000.0
                  ORDER BY pos) AS v
      FROM q{t} CROSS JOIN n{t}
    )"""
        )
        prev = f"v{t}"
    sql.append(
        f"""
    SELECT CAST(u.pos - 1 AS INTEGER) AS dim, v.v[u.pos] AS loading
    FROM v{_PCA_ITERS} v CROSS JOIN
         (SELECT UNNEST(generate_series(1, {_PCA_DIM})) AS pos) u
    """
    )
    return "".join(sql)


registry.register("pca_power", q_pca_power, _pca_power_sql())


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-feed content overlap: for each pair of ingestion sources,
    how many distinct 5-word shingles appear in BOTH — the matrix
    that tells you which feeds mirror each other's content. (Exact
    body digests are vacuous on this corpus — zero duplicates — so
    the shingle grain is what carries signal.) Per-shingle distinct
    source sets build in one md5-keyed agg (collect_set dedups
    map-side); the pair expansion is IN-ROW over each ≤|sources| set
    (the basket trick), so no shingle self-join."""
    docs = load_table(spark, sf_dir, "documents")
    # r9: split projected once per row (see dup_rate_by_source) —
    # the inline form re-split the text per shingle: 3.8 s -> 1.2 s
    # for the gram build at sf0.1, identical digests
    base = docs.select(
        "source", F.split(F.trim(F.col("text")), r"\s+").alias("toks")
    ).filter(F.size("toks") >= 5)
    grams = base.select(
        "source",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 4),
                    lambda i: F.md5(
                        F.concat_ws(" ", F.slice(F.col("toks"), i, F.lit(5)))
                    ),
                )
            )
        ).alias("digest"),
    )
    sets = grams.groupBy("digest").agg(
        F.array_sort(F.collect_set("source")).alias("sources")
    )
    pairs = sets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("sources"),
                    lambda a: F.filter(
                        F.transform(
                            F.col("sources"),
                            lambda b: F.struct(
                                a.alias("source_a"), b.alias("source_b")
                            ),
                        ),
                        lambda s: s["source_a"] < s["source_b"],
                    ),
                )
            )
        ).alias("p")
    ).select("p.source_a", "p.source_b")
    return pairs.groupBy("source_a", "source_b").agg(
        F.count("*").alias("shared_digests")
    )


registry.register(
    "source_overlap",
    q_source_overlap,
    f"""
    WITH toked AS (SELECT source, {_TOKS} AS toks FROM documents),
    d AS (
      SELECT DISTINCT source,
             unnest(list_distinct(list_transform(
               generate_series(1, len(toks) - 4),
               i -> md5(array_to_string(list_slice(toks, i, i + 4), ' '))
             ))) AS digest
      FROM toked WHERE len(toks) >= 5
    )
    SELECT a.source AS source_a, b.source AS source_b,
           COUNT(*) AS shared_digests
    FROM d a JOIN d b ON a.digest = b.digest AND a.source < b.source
    GROUP BY 1, 2
    """,
)


# ---------------------------------------------------------------------------
# BPE merge-step training (2 unrolled rounds)
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 2
_BPE_MARKS = ["\x01", "\x02"]


def q_bpe_merge_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE-style tokenizer training, 2 unrolled merge
    rounds: count every adjacent symbol pair across the corpus, merge
    the globally most frequent pair (ties broken lexicographically —
    the determinism that makes a global argmax checkable), rewrite
    the corpus, repeat. Output: (round, merged pair, frequency).

    Per round: pair extraction is IN-ROW (2-char substrings of the
    symbol string), one pair-keyed count shuffle, a 1-row argmax
    (max_by with a (count, pair) struct — no sort of the pair table),
    and a broadcast join carries the winning pair into the in-row
    rewrite. The corpus is localCheckpoint'ed between rounds — round
    2's plan must not re-derive round 1's rewrite per reference.
    Merged symbols are single control chars, so 'symbol' stays
    'one char' and pair extraction needs no tokenizer state."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("s")
    )
    # r11 (optimization): checkpoint the 1-ROW winner per round, not
    # the rewritten corpus. The old form materialized the full corpus
    # each round and — because the tops stayed lazy — the final union
    # re-ran every round's pair extraction+count a SECOND time at
    # action time (2× the explode work, plus a corpus write/read per
    # round). Now each round's count executes exactly once (inside
    # the tiny top checkpoint), the corpus rewrite stays a lazy
    # in-row replace chain over the parquet scan (round r pays r
    # cheap replaces in-stream), and the final union reads 1-row
    # checkpoints. Same counts, same argmax, same rows — only the
    # materialization points moved (isolated 6.2 s → see
    # OPTIMIZATION_r11.md; plans/r11/bpe_merge_steps_{before,after}).
    out_rows = []
    for r in range(_BPE_ROUNDS):
        pairs = docs.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("s") - 1),
                    lambda i: F.col("s").substr(i, F.lit(2)),
                )
            ).alias("pair")
        )
        counts = pairs.groupBy("pair").agg(F.count("*").alias("n"))
        # lexicographically-smallest among max-count pairs: max_by on
        # a (n, negated-order trick) isn't expressible portably, so
        # rank with ONE row_number over the pair-cardinality table
        from pyspark.sql import Window as _W

        w = _W.orderBy(F.col("n").desc(), F.col("pair").asc())
        top = (
            counts.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select(
                F.col("pair").alias("top_pair"), F.col("n").alias("top_n")
            )
            .localCheckpoint()
        )
        out_rows.append(
            top.select(
                F.lit(r).alias("round"),
                F.col("top_pair").alias("merged_pair"),
                F.col("top_n").alias("pair_count"),
            )
        )
        if r + 1 < _BPE_ROUNDS:
            docs = docs.crossJoin(F.broadcast(top)).select(
                "doc_id",
                F.replace(
                    F.col("s"), F.col("top_pair"), F.lit(_BPE_MARKS[r])
                ).alias("s"),
            )
    out = out_rows[0]
    for extra in out_rows[1:]:
        out = out.unionAll(extra)
    return out


def _bpe_sql() -> str:
    parts = ["WITH d0 AS (SELECT doc_id, text AS s FROM documents)"]
    selects = []
    for r in range(_BPE_ROUNDS):
        mark = _BPE_MARKS[r].encode().hex()
        parts.append(
            f""", p{r} AS (
      SELECT unnest(list_transform(
               generate_series(1, length(s) - 1),
               i -> substring(s, i, 2))) AS pair
      FROM d{r}
    ),
    c{r} AS (SELECT pair, COUNT(*) AS n FROM p{r} GROUP BY pair),
    t{r} AS (
      SELECT pair AS top_pair, n AS top_n
      FROM c{r} ORDER BY n DESC, pair ASC LIMIT 1
    ),
    d{r + 1} AS (
      SELECT doc_id, replace(s, t.top_pair, chr({int(mark, 16)})) AS s
      FROM d{r} CROSS JOIN t{r} t
    )"""
        )
        selects.append(
            f"SELECT {r} AS round, top_pair AS merged_pair,"
            f" top_n AS pair_count FROM t{r}"
        )
    return "".join(parts) + " " + " UNION ALL ".join(selects)


registry.register("bpe_merge_steps", q_bpe_merge_steps, _bpe_sql())


def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation: confusion matrix of the stopword
    classifier's prediction against the corpus's labeled ``lang``
    column, with each cell's share of its actual-language row — the
    eval harness every heuristic component needs next to it.
    Prediction is the same in-row expression lang_id checks; one
    (actual, predicted) count shuffle over a languages²-bounded key
    space; row totals broadcast back."""
    docs = load_table(spark, sf_dir, "documents")
    cm = (
        docs.select(
            F.col("lang").alias("actual"),
            analysis.lang_id(F.col("text")).alias("predicted"),
        )
        .groupBy("actual", "predicted")
        .agg(F.count("*").alias("n"))
    )
    totals = cm.groupBy(F.col("actual").alias("a")).agg(
        F.sum("n").cast("long").alias("row_total")
    )
    return (
        cm.join(F.broadcast(totals), F.col("actual") == F.col("a"))
        .select(
            "actual",
            "predicted",
            "n",
            _r6(
                F.col("n").cast("double") / F.col("row_total").cast("double")
            ).alias("row_share"),
        )
    )


registry.register(
    "langid_confusion",
    q_langid_confusion,
    f"""
    WITH s AS (
      SELECT lang AS actual,
             len(list_filter({_TOKS}, t -> list_contains({_SW['en']}, t))) AS score_en,
             len(list_filter({_TOKS}, t -> list_contains({_SW['de']}, t))) AS score_de,
             len(list_filter({_TOKS}, t -> list_contains({_SW['fr']}, t))) AS score_fr,
             len(list_filter({_TOKS}, t -> list_contains({_SW['es']}, t))) AS score_es
      FROM documents
    ),
    p AS (
      SELECT actual,
             CASE WHEN score_en = 0 AND score_de = 0 AND score_fr = 0
                       AND score_es = 0 THEN 'und'
                  WHEN score_en >= score_de AND score_en >= score_fr
                       AND score_en >= score_es THEN 'en'
                  WHEN score_de >= score_fr AND score_de >= score_es THEN 'de'
                  WHEN score_fr >= score_es THEN 'fr'
                  ELSE 'es' END AS predicted
      FROM s
    ),
    cm AS (
      SELECT actual, predicted, COUNT(*) AS n FROM p GROUP BY 1, 2
    ),
    totals AS (
      SELECT actual AS a, CAST(SUM(n) AS BIGINT) AS row_total
      FROM cm GROUP BY actual
    )
    SELECT cm.actual, cm.predicted, cm.n,
           FLOOR((CAST(cm.n AS DOUBLE) / CAST(t.row_total AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS row_share
    FROM cm JOIN totals t ON cm.actual = t.a
    """,
)


def q_embedding_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm profile of the embedding corpus: the
    pre-indexing drift check next to embedding_dim_stats (a label
    whose norm band shifts signals a broken encoder). The squared
    norm is an in-row LEFT-CHAINED 64-term add (pca_power's
    determinism rule — the oracle unrolls the chain, the Spark side
    folds it via similarity._norm in the identical left-to-right IEEE
    order — value-equal even at the -0.0 edge, where the fold's
    0.0 + (-0.0) = +0.0 only flips a zero sign bit the downstream
    floor-quantizer absorbs; PERF_NOTES r10), quantized to the 1e-6
    grid per row, then min/max/mean
    aggregate over exact quantized values (sum of grid values is
    exact in int terms)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qnorm = F.floor(
        similarity._norm(F.col("embedding")) * 1000000.0
    ).cast("long")
    per = emb.select("label", qnorm.alias("qn"))
    return per.groupBy("label").agg(
        F.count("*").alias("n"),
        _r6(F.min("qn").cast("double") / 1000000.0).alias("min_norm"),
        _r6(F.max("qn").cast("double") / 1000000.0).alias("max_norm"),
        _r6(
            F.sum("qn").cast("double")
            / (F.count("*").cast("double") * 1000000.0)
        ).alias("mean_norm"),
    )


def _norm_profile_sql() -> str:
    sq = " + ".join(
        f"CAST(embedding[{d}] AS DOUBLE) * CAST(embedding[{d}] AS DOUBLE)"
        for d in range(1, 65)
    )
    return f"""
    WITH per AS (
      SELECT label,
             CAST(FLOOR(SQRT({sq}) * 1000000.0) AS BIGINT) AS qn
      FROM embeddings
    )
    SELECT label, COUNT(*) AS n,
           FLOOR((CAST(MIN(qn) AS DOUBLE) / 1000000.0)
                 * 1000000.0 + 0.5) / 1000000.0 AS min_norm,
           FLOOR((CAST(MAX(qn) AS DOUBLE) / 1000000.0)
                 * 1000000.0 + 0.5) / 1000000.0 AS max_norm,
           FLOOR((CAST(SUM(qn) AS DOUBLE) /
                  (CAST(COUNT(*) AS DOUBLE) * 1000000.0))
                 * 1000000.0 + 0.5) / 1000000.0 AS mean_norm
    FROM per
    GROUP BY label
    """


registry.register(
    "embedding_norm_profile", q_embedding_norm_profile, _norm_profile_sql()
)


# ---------------------------------------------------------------------------
# ANN recall evaluation: LSH candidate sets vs exact nearest neighbor
# ---------------------------------------------------------------------------


def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@1 audit of the hyperplane-LSH index: for each probe
    vector (vec_id % 125 == 0), does the banded candidate set contain
    the TRUE nearest neighbor? This is the eval harness an ANN index
    ships with — without it a recall regression (bad banding, skewed
    planes) is invisible.

    Exact side: brute force over (probe × corpus) with the cosine as
    a LEFT-CHAINED 64-term dot (pca_power's rule — the oracle unrolls
    the chain, the Spark side folds it with aggregate(zip_with) in
    the identical left-to-right IEEE order — value-equal even at the
    -0.0 edge, where the fold's 0.0 + (-0.0) = +0.0 only flips a zero
    sign bit the floor-quantized score absorbs; PERF_NOTES r10),
    argmax on the
    floor-quantized score with a vec_id tie-break, so the 'true NN'
    is bit-deterministic. Norms are projected ONCE PER SIDE before
    the cross join (r9 rule: a norm depends only on its own row, so
    the per-pair work is the dot alone — a third of the flops,
    bit-identical values). Probes are dimension-bounded and
    broadcast; brute force is the eval's cost by definition, run on a
    sample, never the serving path. Approx side: the SAME
    integer-exact fingerprints the index uses
    (hyperplane_fingerprints), band-explode, one bucket join
    restricted to probe rows.

    Measured recall@1 ≈ 3/16 at sf0.1 — an honest and EXPECTED
    reading: this corpus is near-uniform random, so true NNs sit at
    cos ≈ 0.3-0.4 where 8-bit bands rarely collide. The index is
    banded for the near-dup regime (cos > 0.7, where recall ≈ 1);
    the eval exists precisely to make that operating envelope, and
    any regression of it, a number instead of a vibe."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    probes = emb.filter(F.col("vec_id") % 125 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        similarity._norm(F.col("embedding")).alias("qn"),
    )
    corpus = emb.select(
        "vec_id",
        "embedding",
        similarity._norm(F.col("embedding")).alias("en"),
    )
    cos = similarity.cosine_with_norms(
        F.col("qv"), F.col("embedding"), F.col("qn"), F.col("en")
    )
    scored = (
        corpus.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.floor(cos * 1000000.0).cast("long").alias("qcos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("qcos").desc(), F.col("vec_id").asc()
    )
    exact_nn = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("qid", F.col("vec_id").alias("nn_id"), "qcos")
    )

    fps = similarity.hyperplane_fingerprints(emb).localCheckpoint()
    bits_per = similarity._HP_PLANES // similarity._HP_BANDS
    mask = (1 << bits_per) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.shiftright(F.col("hp_fp"), b * bits_per)
                .bitwiseAND(F.lit(mask))
                .alias("band_val"),
            )
            for b in range(similarity._HP_BANDS)
        ]
    )
    banded = fps.select("vec_id", F.explode(bands).alias("bs")).select(
        "vec_id",
        F.col("bs.band_id").alias("band_id"),
        F.col("bs.band_val").alias("band_val"),
    )
    probe_bands = banded.join(
        F.broadcast(probes.select("qid")),
        banded["vec_id"] == F.col("qid"),
    ).select("qid", "band_id", "band_val")
    cand = (
        probe_bands.join(banded, ["band_id", "band_val"])
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("cand_id"))
        .distinct()
    )
    n_cand = cand.groupBy("qid").agg(F.count("*").alias("n_candidates"))
    hit = cand.withColumnRenamed("cand_id", "nn_id").withColumn(
        "found", F.lit(True)
    )
    return (
        exact_nn.join(hit, ["qid", "nn_id"], "left")
        .join(n_cand, "qid", "left")
        .select(
            "qid",
            "nn_id",
            _r6(F.col("qcos").cast("double") / 1000000.0).alias("nn_cos"),
            F.coalesce(F.col("n_candidates"), F.lit(0)).cast("long").alias(
                "n_candidates"
            ),
            F.coalesce(F.col("found"), F.lit(False)).alias("nn_found"),
        )
    )


def _ann_recall_sql() -> str:
    dot_qe = " + ".join(
        f"CAST(q.qv[{d}] AS DOUBLE) * CAST(e.embedding[{d}] AS DOUBLE)"
        for d in range(1, 65)
    )
    dot_qq = " + ".join(
        f"CAST(q.qv[{d}] AS DOUBLE) * CAST(q.qv[{d}] AS DOUBLE)"
        for d in range(1, 65)
    )
    dot_ee = " + ".join(
        f"CAST(e.embedding[{d}] AS DOUBLE) * CAST(e.embedding[{d}] AS DOUBLE)"
        for d in range(1, 65)
    )
    hp_bits = similarity._HP_PLANES // similarity._HP_BANDS
    hp_mask = (1 << hp_bits) - 1
    bit_terms = []
    for p in range(similarity._HP_PLANES):
        w = "[" + ", ".join(str(v) for v in similarity.HP_WEIGHTS[p]) + "]"
        bit_terms.append(
            f"(CASE WHEN list_sum(list_transform(list_zip(qz, {w}), "
            f"z -> z[1] * z[2])) >= 0 THEN {2 ** p} ELSE 0 END)"
        )
    fp = "\n           + ".join(bit_terms)
    bands = "\n      UNION ALL\n      ".join(
        f"SELECT vec_id, {b} AS band_id,"
        f" (hp_fp >> {b * hp_bits}) & {hp_mask} AS band_val FROM fps"
        for b in range(similarity._HP_BANDS)
    )
    return f"""
    WITH probes AS (
      SELECT vec_id AS qid, embedding AS qv FROM embeddings
      WHERE vec_id % 125 = 0
    ),
    scored AS (
      SELECT q.qid, e.vec_id,
             CAST(FLOOR((({dot_qe}) /
                   (SQRT({dot_qq}) * SQRT({dot_ee}))) * 1000000.0)
                  AS BIGINT) AS qcos
      FROM embeddings e CROSS JOIN probes q
      WHERE e.vec_id <> q.qid
    ),
    exact_nn AS (
      SELECT qid, vec_id AS nn_id, qcos FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                  ORDER BY qcos DESC, vec_id ASC) AS rk
        FROM scored
      ) WHERE rk = 1
    ),
    qv AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qz
      FROM embeddings
    ),
    fps AS (
      SELECT vec_id,
           {fp}
           AS hp_fp
      FROM qv
    ),
    banded AS (
      {bands}
    ),
    cand AS (
      SELECT DISTINCT p.vec_id AS qid, b.vec_id AS cand_id
      FROM banded p
      JOIN banded b ON p.band_id = b.band_id AND p.band_val = b.band_val
      WHERE p.vec_id % 125 = 0 AND b.vec_id <> p.vec_id
    ),
    n_cand AS (
      SELECT qid, COUNT(*) AS n_candidates FROM cand GROUP BY qid
    )
    SELECT x.qid, x.nn_id,
           FLOOR((CAST(x.qcos AS DOUBLE) / 1000000.0)
                 * 1000000.0 + 0.5) / 1000000.0 AS nn_cos,
           CAST(COALESCE(n.n_candidates, 0) AS BIGINT) AS n_candidates,
           COALESCE(c.qid IS NOT NULL, FALSE) AS nn_found
    FROM exact_nn x
    LEFT JOIN cand c ON c.qid = x.qid AND c.cand_id = x.nn_id
    LEFT JOIN n_cand n ON n.qid = x.qid
    """


registry.register("ann_recall_eval", q_ann_recall_eval, _ann_recall_sql())


def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset datasheet for the document corpus: doc/source/
    language cardinalities, exact token and character totals, and the
    mean document length — the header numbers every dataset card
    leads with, producible in ONE map-combinable pass (token counts
    are in-row; the distincts are the only extra aggregates)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum(toks).cast("long").alias("total_tokens"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
        _r6(
            F.sum(toks).cast("double") / F.count("*").cast("double")
        ).alias("mean_doc_tokens"),
    )


registry.register(
    "dataset_card",
    q_dataset_card,
    f"""
    SELECT COUNT(*) AS n_docs,
           COUNT(DISTINCT source) AS n_sources,
           COUNT(DISTINCT lang) AS n_langs,
           CAST(SUM(len({_TOKS})) AS BIGINT) AS total_tokens,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           FLOOR((CAST(SUM(len({_TOKS})) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS mean_doc_tokens
    FROM documents
    """,
)


# ---------------------------------------------------------------------------
# Add-one-smoothed bigram language model, per-source cross-entropy
# ---------------------------------------------------------------------------


def _doc_bigram_rows(docs: DataFrame, *keep: str) -> DataFrame:
    """(keep..., w1, w2) consecutive-token bigram rows computed
    IN-ROW from the split array (r11): the previous posexplode +
    per-doc LEAD window shuffled and sorted every (doc, pos) token
    row once per plan reference — and the bigram base is referenced
    2-4× per LM plan. transform(sequence(...)) emits the identical
    (arr[i], arr[i+1]) pairs straight out of the scan with no
    exchange at all (same tokenizer: split(text, ' '), empties
    kept; docs with < 2 tokens produce no pair in either form)."""
    base = docs.select(*keep, F.split(F.col("text"), " ").alias("arr"))
    return (
        base.filter(F.size("arr") >= 2)
        .select(
            *keep,
            F.explode(
                F.expr(
                    "transform(sequence(1, size(arr) - 1), i ->"
                    " struct(element_at(arr, i) AS w1,"
                    " element_at(arr, i + 1) AS w2))"
                )
            ).alias("b"),
        )
        .select(
            *keep, F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
        )
    )


def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source cross-entropy under the corpus's own add-one
    bigram LM — unigram_perplexity's order-sensitive sibling (a
    shuffled corpus keeps its unigram score but not this one), the
    next-cheapest LM-quality filter after unigram.

    p(w2|w1) = (c(w1,w2)+1) / (c(w1·)+V): counts over observed
    bigrams, V = unigram vocabulary. Per-pair log-probs QUANTIZE to
    BIGINT (floor(ln p · 1e9)) before every sum — the
    unigram_perplexity trick — so all aggregates are order-invariant
    integer arithmetic and perplexity = exp of one exact ratio.

    Scale: bigrams come from the in-row array transform
    (_doc_bigram_rows — no window, no token shuffle); pair stats
    re-aggregate the (doc,pair) table; the
    pair-LM table joins back by pair key (keyed shuffle, never
    broadcast — pair vocab grows with corpus); the source rollup is
    sources-sized."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    big = _doc_bigram_rows(docs, "doc_id", "source")
    doc_pairs = big.groupBy("doc_id", "source", "w1", "w2").agg(
        F.count("*").alias("tf")
    )
    c12 = doc_pairs.groupBy("w1", "w2").agg(F.sum("tf").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).agg(F.countDistinct("tok").alias("v"))
    lp = (
        c12.join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            F.floor(
                F.log(
                    (F.col("c12") + 1).cast("double")
                    / (F.col("c1") + F.col("v")).cast("double")
                )
                * 1e9
            )
            .cast("long")
            .alias("lp9"),
        )
    )
    scored = doc_pairs.join(lp, ["w1", "w2"])
    return (
        scored.groupBy("source")
        .agg(
            F.sum("tf").cast("long").alias("n_bigrams"),
            (
                -F.sum(F.col("tf") * F.col("lp9")).cast("double")
                / (F.sum("tf").cast("double") * F.lit(1e9))
            ).alias("nll"),
        )
        .select(
            "source",
            "n_bigrams",
            _r6(F.col("nll")).alias("mean_nll"),
            _r6(F.exp(F.col("nll"))).alias("perplexity"),
        )
    )


registry.register(
    "bigram_lm",
    q_bigram_lm,
    """
    WITH t AS (
      SELECT doc_id, source, string_split(text, ' ') AS arr FROM documents
    ),
    big AS (
      SELECT doc_id, source, arr[i] AS w1, arr[i + 1] AS w2
      FROM t, LATERAL unnest(generate_series(1, len(arr) - 1)) AS g(i)
    ),
    doc_pairs AS (
      SELECT doc_id, source, w1, w2, COUNT(*) AS tf
      FROM big GROUP BY 1, 2, 3, 4
    ),
    c12 AS (SELECT w1, w2, SUM(tf) AS c12 FROM doc_pairs GROUP BY 1, 2),
    c1 AS (SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY 1),
    vocab AS (
      SELECT COUNT(DISTINCT tok) AS v
      FROM (SELECT unnest(arr) AS tok FROM t)
    ),
    lp AS (
      SELECT a.w1, a.w2,
             CAST(FLOOR(LN(CAST(a.c12 + 1 AS DOUBLE)
                           / CAST(b.c1 + vv.v AS DOUBLE)) * 1e9) AS BIGINT)
               AS lp9
      FROM c12 a JOIN c1 b ON a.w1 = b.w1 CROSS JOIN vocab vv
    ),
    scored AS (
      SELECT d.source, d.tf, l.lp9
      FROM doc_pairs d JOIN lp l ON d.w1 = l.w1 AND d.w2 = l.w2
    )
    SELECT source,
           CAST(SUM(tf) AS BIGINT) AS n_bigrams,
           FLOOR((-CAST(SUM(tf * lp9) AS DOUBLE)
                  / (CAST(SUM(tf) AS DOUBLE) * 1e9))
                 * 1000000.0 + 0.5) / 1000000.0 AS mean_nll,
           FLOOR(EXP(-CAST(SUM(tf * lp9) AS DOUBLE)
                     / (CAST(SUM(tf) AS DOUBLE) * 1e9))
                 * 1000000.0 + 0.5) / 1000000.0 AS perplexity
    FROM scored
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# Matryoshka truncation recall eval
# ---------------------------------------------------------------------------


def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does searching on the first 16 of 64 embedding dims still find
    the true nearest neighbor? Recall@5 of prefix-dim search vs the
    full-dim exact top-1 — the evaluation behind Matryoshka-style
    dimension truncation (the cheapest ANN speedup: shrink the
    vectors, verify the recall envelope; ann_recall_eval is the
    LSH-variant sibling).

    Both sides reuse cosine_topk's blocked partial-top-k (rank on
    ROUND(cos,6) with id tie-break, so sub-1e-6 float noise can't
    reorder); the truncated corpus is an in-row F.slice — no second
    table. One O(1) query set (vec_id%25=0, capped), counts exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter((F.col("vec_id") % 25 == 0) & (F.col("vec_id") < 2500))
    full_nn = similarity.cosine_topk(emb, queries, k=1).select(
        "query_id", "neighbor_id"
    )
    pre = emb.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    pre_q = queries.select(
        "vec_id", F.slice("embedding", 1, 16).alias("embedding")
    )
    pre_top5 = (
        similarity.cosine_topk(pre, pre_q, k=5)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    j = full_nn.join(pre_top5, ["query_id", "neighbor_id"], "left")
    return j.agg(
        F.count("*").cast("long").alias("n_queries"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias(
            "n_hits"
        ),
        _r6(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double")
            / F.count("*").cast("double")
        ).alias("recall_at5"),
    )


registry.register(
    "matryoshka_recall",
    q_matryoshka_recall,
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id % 25 = 0 AND vec_id < 2500),
    full_scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {_COS_SQL.format(a="q.qv", b="e.embedding")} AS cos
      FROM embeddings e, q WHERE e.vec_id <> q.query_id
    ),
    full_nn AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rank
        FROM full_scored
      ) WHERE rank = 1
    ),
    pre_scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {_COS_SQL.format(a="q.qv[1:16]", b="e.embedding[1:16]")} AS cos
      FROM embeddings e, q WHERE e.vec_id <> q.query_id
    ),
    pre_top5 AS (
      SELECT query_id, neighbor_id, 1 AS hit FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rank
        FROM pre_scored
      ) WHERE rank <= 5
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(COALESCE(p.hit, 0)) AS BIGINT) AS n_hits,
           FLOOR((CAST(SUM(COALESCE(p.hit, 0)) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS recall_at5
    FROM full_nn f
    LEFT JOIN pre_top5 p
      ON f.query_id = p.query_id AND f.neighbor_id = p.neighbor_id
    """,
)


# ---------------------------------------------------------------------------
# Per-label embedding centroids + nearest-centroid distances
# ---------------------------------------------------------------------------


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid with the distance to the nearest
    other centroid — the class-separation probe behind
    nearest-class-mean classifiers and label-noise audits (labels
    whose centroids nearly coincide are candidates for merging).

    Exactness: each float32 component QUANTIZES to an integer
    (floor(x·1e6)) before any sum, so per-(label, dim) sums are exact
    integers in any order/partitioning; centroid components are exact
    integer ratios scaled back only inside the final shared distance
    expression. Shape: one in-row posexplode → (label, dim) combinable
    agg (labels·dims rows, corpus-independent); the pairwise centroid
    join is labels²·dims — metadata-sized."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label",
        F.posexplode("embedding").alias("dim", "x"),
    ).select(
        "label",
        "dim",
        F.floor(F.col("x").cast("double") * 1e6).cast("long").alias("q"),
    )
    cent = comp.groupBy("label", "dim").agg(
        F.sum("q").alias("s"), F.count("*").alias("n")
    )
    c = cent.select(
        "label",
        "dim",
        "n",
        (F.col("s").cast("double") / (F.col("n").cast("double") * 1e6)).alias(
            "c"
        ),
    )
    a, b = c.alias("a"), c.alias("b")
    pair_d2 = (
        a.join(
            b,
            (F.col("a.dim") == F.col("b.dim"))
            & (F.col("a.label") != F.col("b.label")),
        )
        .groupBy(
            F.col("a.label").alias("label"),
            F.col("b.label").alias("other"),
        )
        .agg(
            F.sum(
                (F.col("a.c") - F.col("b.c")) * (F.col("a.c") - F.col("b.c"))
            ).alias("d2")
        )
    )
    w = Window.partitionBy("label").orderBy(
        "d2", "other"
    )  # d2 from identical per-dim terms summed in the 64-dim agg; the
    # (d2, other) tie-break keeps the argmin engine-deterministic
    nearest = (
        pair_d2.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("label", F.col("other").alias("nearest_label"), "d2")
    )
    norm = c.groupBy("label").agg(
        F.max("n").cast("long").alias("n_vecs"),
        F.sum(F.col("c") * F.col("c")).alias("norm2"),
    )
    return norm.join(nearest, "label").select(
        F.col("label").cast("long").alias("label"),
        "n_vecs",
        _r6(F.sqrt(F.col("norm2"))).alias("centroid_norm"),
        F.col("nearest_label").cast("long").alias("nearest_label"),
        _r6(F.sqrt(F.col("d2"))).alias("nearest_dist"),
    )


registry.register(
    "label_centroids",
    q_label_centroids,
    """
    WITH comp AS (
      SELECT label, CAST(i AS INTEGER) AS dim,
             CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1e6) AS BIGINT) AS q
      FROM embeddings,
           LATERAL unnest(generate_series(1, len(embedding))) AS g(i)
    ),
    cent AS (
      SELECT label, dim, SUM(q) AS s, COUNT(*) AS n
      FROM comp GROUP BY 1, 2
    ),
    c AS (
      SELECT label, dim, n,
             CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6) AS c
      FROM cent
    ),
    pair_d2 AS (
      SELECT a.label AS label, b.label AS other,
             SUM((a.c - b.c) * (a.c - b.c)) AS d2
      FROM c a JOIN c b ON a.dim = b.dim AND a.label <> b.label
      GROUP BY 1, 2
    ),
    nearest AS (
      SELECT label, other AS nearest_label, d2 FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY label
                                     ORDER BY d2, other) AS rk
        FROM pair_d2
      ) WHERE rk = 1
    ),
    nrm AS (
      SELECT label, MAX(n) AS n_vecs, SUM(c * c) AS norm2
      FROM c GROUP BY 1
    )
    SELECT CAST(n.label AS BIGINT) AS label,
           CAST(n.n_vecs AS BIGINT) AS n_vecs,
           FLOOR(SQRT(n.norm2) * 1000000.0 + 0.5) / 1000000.0
             AS centroid_norm,
           CAST(x.nearest_label AS BIGINT) AS nearest_label,
           FLOOR(SQRT(x.d2) * 1000000.0 + 0.5) / 1000000.0 AS nearest_dist
    FROM nrm n JOIN nearest x ON n.label = x.label
    """,
)


# ---------------------------------------------------------------------------
# Contrastive hard-negative mining
# ---------------------------------------------------------------------------


def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per query vector: the most similar SAME-label vector (the
    positive) and the most similar OTHER-label vector (the hard
    negative), with the contrastive margin between them — the pair
    miner behind embedding fine-tuning (small or negative margins
    mark the pairs worth training on; label_centroids is the
    class-level view).

    The query set is O(1)-capped (the cosine_topk convention) and
    broadcast against the corpus, so the scored frame is |queries|·n —
    one pass, JVM-side zip/dot, no pandas. Ranks order on
    ROUND(cos,6) with id tie-break (sub-1e-6 noise can't reorder);
    per-class top-1 needs the class split BEFORE ranking, which is
    why this isn't a post-filter of global top-k."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "nrm", similarity._norm(F.col("embedding"))
    )
    q = emb.filter(
        (F.col("vec_id") % 25 == 0) & (F.col("vec_id") < 2500)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    scored = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "q_label",
            F.col("vec_id").alias("cand_id"),
            (F.col("label") == F.col("q_label")).alias("same"),
            F.round(
                similarity.cosine_with_norms(
                    F.col("qv"), F.col("embedding"),
                    F.col("qnrm"), F.col("nrm"),
                ),
                6,
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id", "same").orderBy(
        F.col("cos").desc(), "cand_id"
    )
    top = scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") == 1
    )
    pos = top.filter(F.col("same")).select(
        "query_id",
        "q_label",
        F.col("cand_id").alias("pos_id"),
        F.col("cos").alias("pos_cos"),
    )
    neg = top.filter(~F.col("same")).select(
        F.col("query_id").alias("nq"),
        F.col("cand_id").alias("neg_id"),
        F.col("cos").alias("neg_cos"),
    )
    return (
        pos.join(neg, pos["query_id"] == neg["nq"])
        .select(
            "query_id",
            F.col("q_label").cast("long").alias("label"),
            "pos_id",
            "pos_cos",
            "neg_id",
            "neg_cos",
            _r6(F.col("pos_cos") - F.col("neg_cos")).alias("margin"),
        )
    )


registry.register(
    "hard_negative_mining",
    q_hard_negative_mining,
    f"""
    WITH q AS (
      SELECT vec_id AS query_id, label AS q_label, embedding AS qv
      FROM embeddings WHERE vec_id % 25 = 0 AND vec_id < 2500
    ),
    scored AS (
      SELECT q.query_id, q.q_label, e.vec_id AS cand_id,
             e.label = q.q_label AS same,
             {_COS_SQL.format(a="q.qv", b="e.embedding")} AS cos
      FROM embeddings e, q WHERE e.vec_id <> q.query_id
    ),
    top AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id, same
                                     ORDER BY cos DESC, cand_id) AS rk
        FROM scored
      ) WHERE rk = 1
    )
    SELECT p.query_id,
           CAST(p.q_label AS BIGINT) AS label,
           p.cand_id AS pos_id, p.cos AS pos_cos,
           n.cand_id AS neg_id, n.cos AS neg_cos,
           FLOOR((p.cos - n.cos) * 1000000.0 + 0.5) / 1000000.0 AS margin
    FROM (SELECT * FROM top WHERE same) p
    JOIN (SELECT * FROM top WHERE NOT same) n USING (query_id)
    """,
)


# ---------------------------------------------------------------------------
# Dedup cluster-size distribution
# ---------------------------------------------------------------------------


def q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of duplicate-cluster sizes from the LSH/CC clustering
    (dedup_clusters' rollup): how much of the corpus sits in clusters
    of size 1 (unique), 2, 3… — the dedup-audit number that decides
    whether near-dup removal is worth its cost, and the removal-rate
    forecast (docs − clusters = rows a keep-one policy drops).

    Reuses the one Spark-side cluster construction and the one
    recursive-CTE closure oracle; this query only adds two
    cluster-table-sized aggregates on top."""
    labels = _cluster_labels(spark, sf_dir)
    sizes = labels.groupBy("cluster_root").agg(
        F.count("*").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .select(
            F.col("cluster_size").cast("long").alias("cluster_size"),
            F.col("n_clusters").cast("long").alias("n_clusters"),
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("long")
            .alias("n_docs"),
        )
    )


def _cluster_sizes_sql() -> str:
    return f"""
    WITH RECURSIVE
    {_cc_closure_sql()},
    labels AS (
      SELECT d.doc_id, COALESCE(c.root, d.doc_id) AS cluster_root
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    ),
    sizes AS (
      SELECT cluster_root, COUNT(*) AS cluster_size
      FROM labels GROUP BY 1
    )
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
    FROM sizes GROUP BY cluster_size
    """


registry.register(
    "dedup_cluster_sizes", q_dedup_cluster_sizes, _cluster_sizes_sql()
)


# ---------------------------------------------------------------------------
# Nucleus (top-p) successor-set size per context
# ---------------------------------------------------------------------------


def q_nucleus_set_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For the 20 highest-frequency contexts w1: how many successors
    make up the top-p=0.9 nucleus of p(w2|w1) — the LLM sampling
    concept (nucleus/top-p truncation) measured on the corpus bigram
    table; flat successor distributions (big nuclei) mark generic
    contexts, peaked ones (nucleus of 1-2) mark templated text.

    Membership is decided by the INTEGER cross-product
    cum_before·10 < 9·total (strictly-before mass under 90%), so the
    nucleus size is ulp-proof; per-context windows order by (count
    desc, w2) for a total order. The w1 cap keeps output O(1)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    big = _doc_bigram_rows(docs).select("w1", "w2")
    c12 = big.groupBy("w1", "w2").agg(F.count("*").alias("c"))
    w1_tot = c12.groupBy("w1").agg(F.sum("c").alias("tot"))
    w_rank = Window.orderBy(F.col("tot").desc(), "w1")
    top_w1 = (
        w1_tot.withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") <= 20)
        .select("w1", "tot")
    )
    scoped = c12.join(F.broadcast(top_w1), "w1")
    w_cum = (
        Window.partitionBy("w1")
        .orderBy(F.col("c").desc(), "w2")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    staged = scoped.select(
        "w1",
        "tot",
        "c",
        F.coalesce(F.sum("c").over(w_cum), F.lit(0)).alias("cum_before"),
    )
    in_nucleus = F.col("cum_before") * 10 < F.col("tot") * 9
    return staged.groupBy("w1").agg(
        F.max("tot").cast("long").alias("n_bigrams"),
        F.count("*").cast("long").alias("n_successors"),
        F.count(F.when(in_nucleus, 1)).cast("long").alias("nucleus_size"),
    )


registry.register(
    "nucleus_set_size",
    q_nucleus_set_size,
    """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS arr FROM documents
    ),
    big AS (
      SELECT arr[i] AS w1, arr[i + 1] AS w2
      FROM t, LATERAL unnest(generate_series(1, len(arr) - 1)) AS g(i)
    ),
    c12 AS (SELECT w1, w2, COUNT(*) AS c FROM big GROUP BY 1, 2),
    top_w1 AS (
      SELECT w1, tot FROM (
        SELECT w1, SUM(c) AS tot,
               ROW_NUMBER() OVER (ORDER BY SUM(c) DESC, w1) AS rk
        FROM c12 GROUP BY 1
      ) WHERE rk <= 20
    ),
    staged AS (
      SELECT s.w1, t.tot, s.c,
             COALESCE(SUM(s.c) OVER (PARTITION BY s.w1
                 ORDER BY s.c DESC, s.w2
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM c12 s JOIN top_w1 t USING (w1)
    )
    SELECT w1,
           CAST(MAX(tot) AS BIGINT) AS n_bigrams,
           CAST(COUNT(*) AS BIGINT) AS n_successors,
           CAST(COUNT(CASE WHEN cum_before * 10 < tot * 9 THEN 1 END)
                AS BIGINT) AS nucleus_size
    FROM staged GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# Heaps'-law vocabulary growth curve
# ---------------------------------------------------------------------------


def q_heaps_law_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary size at 10%, 20%, … 100% of the corpus (by doc_id
    order) — the Heaps'-law growth curve that forecasts how much NEW
    vocabulary more data will buy (vocab_topk is the head; this is
    the growth law).

    The cumulative-distinct trick: each term contributes at its FIRST
    decile only (min decile per term — one combinable aggregate on
    the token table), so the curve is a 10-row cumulative sum of the
    first-seen histogram — cumulative distinct counting without ever
    re-scanning prefixes. Deciles from integer doc-rank arithmetic
    ((rank·10−1) div n)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    w = Window.orderBy("doc_id")
    wn = Window.partitionBy()
    ranked = docs.select(
        "doc_id",
        "text",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(wn).alias("n"),
    ).select(
        "text",
        F.expr("((rk * 10 - 1) div n) + 1").alias("decile"),
    )
    toks = ranked.select(
        "decile", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    first_seen = toks.groupBy("tok").agg(F.min("decile").alias("fd"))
    hist = first_seen.groupBy("fd").agg(F.count("*").alias("nt"))
    tok_per_dec = toks.groupBy("decile").agg(F.count("*").alias("n_tok"))
    # drive from the decile axis (always 10 rows) — a saturated small
    # corpus puts ALL first-sightings in decile 1 and the later
    # deciles must still report new_terms = 0
    joined = tok_per_dec.join(
        hist, tok_per_dec["decile"] == hist["fd"], "left"
    ).select(
        "decile",
        "n_tok",
        F.coalesce(F.col("nt"), F.lit(0)).alias("new_terms"),
    )
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return joined.select(
        F.col("decile").cast("long").alias("decile"),
        F.sum("n_tok").over(w_cum).cast("long").alias("tokens_cum"),
        F.col("new_terms").cast("long").alias("new_terms"),
        F.sum("new_terms").over(w_cum).cast("long").alias("vocab_cum"),
    )


registry.register(
    "heaps_law_curve",
    q_heaps_law_curve,
    """
    WITH ranked AS (
      SELECT text,
             ((ROW_NUMBER() OVER (ORDER BY doc_id) * 10 - 1)
              // COUNT(*) OVER ()) + 1 AS decile
      FROM documents
    ),
    toks AS (
      SELECT decile, unnest(string_split(text, ' ')) AS tok FROM ranked
    ),
    first_seen AS (SELECT tok, MIN(decile) AS fd FROM toks GROUP BY 1),
    hist AS (SELECT fd, COUNT(*) AS nt FROM first_seen GROUP BY 1),
    per_dec AS (SELECT decile, COUNT(*) AS n_tok FROM toks GROUP BY 1),
    joined AS (
      SELECT d.decile, d.n_tok, COALESCE(h.nt, 0) AS new_terms
      FROM per_dec d LEFT JOIN hist h ON d.decile = h.fd
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(SUM(n_tok) OVER (ORDER BY decile
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS tokens_cum,
           CAST(new_terms AS BIGINT) AS new_terms,
           CAST(SUM(new_terms) OVER (ORDER BY decile
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS vocab_cum
    FROM joined
    """,
)


# ---------------------------------------------------------------------------
# Template/boilerplate detection via prefix grouping
# ---------------------------------------------------------------------------


def q_template_prefix_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detector: documents sharing their first 8 tokens
    are treated as instances of one TEMPLATE (form letters, scraped
    page furniture) — segment_dedup removes repeated interiors; this
    finds repeated OPENINGS, the cheapest template signal.

    The prefix key is the md5 of the 8-token join (digests shuffle,
    not text); per-source rollup reports how template-bound each
    source is. Groups of one are not templates and are counted only
    in the denominator."""
    docs = load_table(spark, sf_dir, "documents")
    prefix = F.md5(
        F.concat_ws(
            " ", F.slice(F.split(F.col("text"), " "), 1, 8)
        )
    )
    grouped = docs.select("source", prefix.alias("pk")).groupBy(
        "source", "pk"
    ).agg(F.count("*").alias("c"))
    return grouped.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.count(F.when(F.col("c") >= 2, 1)).cast("long").alias(
            "n_templates"
        ),
        F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0))
        .cast("long")
        .alias("docs_in_templates"),
        F.max("c").cast("long").alias("max_template_size"),
    )


registry.register(
    "template_prefix_groups",
    q_template_prefix_groups,
    """
    WITH grouped AS (
      SELECT source,
             md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS pk,
             COUNT(*) AS c
      FROM documents GROUP BY 1, 2
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_docs,
           CAST(COUNT(CASE WHEN c >= 2 THEN 1 END) AS BIGINT)
             AS n_templates,
           CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
             AS docs_in_templates,
           CAST(MAX(c) AS BIGINT) AS max_template_size
    FROM grouped GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# Collocation mining by PMI
# ---------------------------------------------------------------------------


def q_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 20 strongest collocations: adjacent word pairs ranked by
    pointwise mutual information PMI = ln(c₁₂·N/(c₁·c₂)), minimum
    pair count 20 — the phrase-mining primitive (multi-word-entity
    candidates for tokenizer merges and stopword-phrase filters).

    Reuses the bigram machinery; the ln argument is an exact integer
    ratio per pair, ranking orders by the `_r6`-rounded PMI with a
    (w1, w2) tie-break so rank membership can't flip inside the
    rounding quantum."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    big = _doc_bigram_rows(docs).select("w1", "w2")
    c12 = big.groupBy("w1", "w2").agg(F.count("*").alias("c"))
    uni = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).groupBy("tok").agg(F.count("*").alias("cu"))
    n_tot = big.agg(F.count("*").alias("n"))
    scored = (
        c12.filter(F.col("c") >= 20)
        .join(uni.withColumnRenamed("tok", "w1").withColumnRenamed("cu", "c1"), "w1")
        .join(uni.withColumnRenamed("tok", "w2").withColumnRenamed("cu", "c2"), "w2")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "w1",
            "w2",
            F.col("c").cast("long").alias("pair_count"),
            _r6(
                F.log(
                    (F.col("c").cast("double") * F.col("n").cast("double"))
                    / (
                        F.col("c1").cast("double")
                        * F.col("c2").cast("double")
                    )
                )
            ).alias("pmi"),
        )
    )
    w_rank = Window.orderBy(F.col("pmi").desc(), "w1", "w2")
    return (
        scored.withColumn("rank", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("rank") <= 20)
    )


registry.register(
    "collocation_pmi",
    q_collocation_pmi,
    """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS arr FROM documents
    ),
    big AS (
      SELECT arr[i] AS w1, arr[i + 1] AS w2
      FROM t, LATERAL unnest(generate_series(1, len(arr) - 1)) AS g(i)
    ),
    c12 AS (SELECT w1, w2, COUNT(*) AS c FROM big GROUP BY 1, 2),
    uni AS (
      SELECT tok, COUNT(*) AS cu
      FROM (SELECT unnest(arr) AS tok FROM t) GROUP BY 1
    ),
    n_tot AS (SELECT COUNT(*) AS n FROM big),
    scored AS (
      SELECT p.w1, p.w2, CAST(p.c AS BIGINT) AS pair_count,
             FLOOR(LN((CAST(p.c AS DOUBLE) * CAST(nt.n AS DOUBLE))
                      / (CAST(u1.cu AS DOUBLE) * CAST(u2.cu AS DOUBLE)))
                   * 1000000.0 + 0.5) / 1000000.0 AS pmi
      FROM c12 p
      JOIN uni u1 ON p.w1 = u1.tok
      JOIN uni u2 ON p.w2 = u2.tok
      CROSS JOIN n_tot nt
      WHERE p.c >= 20
    )
    SELECT w1, w2, pair_count, pmi,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY pmi DESC, w1, w2) AS rank
      FROM scored
    ) WHERE rank <= 20
    """,
)


# ---------------------------------------------------------------------------
# Dedup threshold sweep (operating curve)
# ---------------------------------------------------------------------------


def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operating curve for near-dup removal: candidate pairs kept
    at Jaccard cutoffs 0.1…0.9 — the table that picks ngram_jaccard's
    production threshold (too low removes paraphrases, too high keeps
    templates; the knee is a data-driven choice, not a constant).

    One blocked pair computation (ngram_jaccard's shape with the raw
    intersection/union counts kept), nine in-row threshold explodes
    on the PAIRS table; membership compares the integer cross-product
    n_inter·10 > t·union — never the float jaccard — so the curve
    can't flip on a ulp."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        F.col("doc_id").alias("gid"),
        F.col("source").alias("blk"),
        F.split(F.trim(F.col("text")), r"\s+").alias("tk"),
    ).filter(F.size("tk") >= 3)
    grams = base.select(
        "gid",
        "blk",
        F.explode(
            F.expr(
                "array_distinct(transform(sequence(1, size(tk) - 2), "
                "i -> array_join(slice(tk, i, 3), ' ')))"
            )
        ).alias("gram"),
    )
    sizes = grams.groupBy("gid").agg(F.count("*").alias("n_grams"))
    ga, gb = grams.alias("ga"), grams.alias("gb")
    inter = (
        ga.join(
            gb,
            (F.col("ga.blk") == F.col("gb.blk"))
            & (F.col("ga.gram") == F.col("gb.gram"))
            & (F.col("ga.gid") < F.col("gb.gid")),
        )
        .groupBy(F.col("ga.gid").alias("id_a"), F.col("gb.gid").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sz_a = sizes.select(
        F.col("gid").alias("id_a"), F.col("n_grams").alias("na")
    )
    sz_b = sizes.select(
        F.col("gid").alias("id_b"), F.col("n_grams").alias("nb")
    )
    pairs = (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .select(
            "n_inter",
            (F.col("na") + F.col("nb") - F.col("n_inter")).alias("n_union"),
        )
    )
    lv = pairs.select(
        "n_inter",
        "n_union",
        F.explode(F.sequence(F.lit(1), F.lit(9))).alias("t"),
    )
    kept = lv.filter(F.col("n_inter") * 10 > F.col("t") * F.col("n_union"))
    # r11 (optimization): the candidate-pair total used to be a
    # DRIVER-SIDE pairs.count() — a second job recomputing the whole
    # grams-explode + self-join + three-join subtree from scratch
    # (cross-job SQL plans share no stages). Folding it in as a 1-row
    # broadcast keeps ONE plan in which both consumers sit above the
    # same exchanges, so ReusedExchange computes the expensive subtree
    # once (isolated 3-rep at sf0.1: [4.20, 3.13, 3.10] →
    # [2.97, 2.16, 2.13] s; plan diff in
    # plans/r11/dedup_threshold_sweep_{before,after}.txt).
    tot = pairs.agg(F.count("*").cast("long").alias("n_candidate_pairs"))
    return (
        kept.groupBy("t")
        .agg(F.count("*").alias("n_kept"))
        .crossJoin(F.broadcast(tot))
        .select(
            _r6(F.col("t").cast("double") / 10.0).alias("threshold"),
            F.col("n_kept").cast("long").alias("n_pairs_over"),
            "n_candidate_pairs",
        )
    )


registry.register(
    "dedup_threshold_sweep",
    q_dedup_threshold_sweep,
    f"""
    WITH grams AS (
      SELECT doc_id AS gid, source AS blk,
             unnest(list_distinct(list_transform(
               CASE WHEN len({_TOKS}) >= 3
                    THEN generate_series(0, len({_TOKS}) - 3) END,
               i -> array_to_string(list_slice({_TOKS}, i + 1, i + 3), ' ')
             ))) AS gram
      FROM documents
    ),
    sizes AS (SELECT gid, COUNT(*) AS n_grams FROM grams GROUP BY gid),
    inter AS (
      SELECT a.gid AS id_a, b.gid AS id_b, COUNT(*) AS n_inter
      FROM grams a JOIN grams b
        ON a.blk = b.blk AND a.gram = b.gram AND a.gid < b.gid
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT n_inter,
             sa.n_grams + sb.n_grams - n_inter AS n_union
      FROM inter
      JOIN sizes sa ON id_a = sa.gid
      JOIN sizes sb ON id_b = sb.gid
    ),
    tot AS (SELECT COUNT(*) AS np FROM pairs)
    SELECT FLOOR((CAST(t AS DOUBLE) / 10.0) * 1000000.0 + 0.5)
             / 1000000.0 AS threshold,
           CAST(COUNT(*) AS BIGINT) AS n_pairs_over,
           (SELECT CAST(np AS BIGINT) FROM tot) AS n_candidate_pairs
    FROM pairs, LATERAL unnest(generate_series(1, 9)) AS g(t)
    WHERE n_inter * 10 > t * n_union
    GROUP BY t
    """,
)


# ---------------------------------------------------------------------------
# Tokenizer round-trip fidelity
# ---------------------------------------------------------------------------


def q_tokenizer_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does detokenize(tokenize(x)) reproduce x? Join-by-space of the
    whitespace split vs the trimmed original, per source — the
    tokenizer QA gate (failures mean doubled spaces/tabs the split
    collapses, i.e. information the pipeline silently destroys;
    token_pack and bpe both assume this rate is known). Pure string
    ops, one combinable aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    rt = F.array_join(F.split(F.trim(F.col("text")), r"\s+"), " ")
    exact = (rt == F.trim(F.col("text"))).cast("int")
    return docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(exact).cast("long").alias("n_roundtrip_exact"),
        _r6(
            F.sum(exact).cast("double") / F.count("*").cast("double")
        ).alias("fidelity"),
    )


registry.register(
    "tokenizer_fidelity",
    q_tokenizer_fidelity,
    """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN array_to_string(
                              string_split_regex(trim(text), '\\s+'), ' ')
                              = trim(text)
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_roundtrip_exact,
           FLOOR((CAST(SUM(CASE WHEN array_to_string(
                              string_split_regex(trim(text), '\\s+'), ' ')
                                     = trim(text)
                                THEN 1 ELSE 0 END) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE)) * 1000000.0 + 0.5)
             / 1000000.0 AS fidelity
    FROM documents GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# Embedding split-drift (A/A centroid-shift baseline)
# ---------------------------------------------------------------------------


def q_embedding_split_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid distance between the even-id and odd-id
    halves of the embedding table — an A/A DRIFT BASELINE: any real
    before/after model comparison should exceed this sampling-noise
    floor before anyone calls it drift (label_centroids measures
    between-class separation; this calibrates within-class noise).

    Same quantize-before-sum exactness (floor(x·1e6) ints per
    component); per (label, half, dim) sums are order-invariant and
    the half-vs-half distance is one shared per-dim expression summed
    over 64 dims."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("h"),
        F.posexplode("embedding").alias("dim", "x"),
    ).select(
        "label",
        "h",
        "dim",
        F.floor(F.col("x").cast("double") * 1e6).cast("long").alias("q"),
    )
    cent = comp.groupBy("label", "h", "dim").agg(
        F.sum("q").alias("s"), F.count("*").alias("n")
    )
    c = cent.select(
        "label",
        "h",
        "dim",
        "n",
        (F.col("s").cast("double") / (F.col("n").cast("double") * 1e6)).alias(
            "c"
        ),
    )
    e0 = c.filter(F.col("h") == 0).select(
        "label", "dim", F.col("c").alias("c0"), F.col("n").alias("n0")
    )
    e1 = c.filter(F.col("h") == 1).select(
        F.col("label").alias("l1"),
        F.col("dim").alias("d1"),
        F.col("c").alias("c1"),
        F.col("n").alias("n1"),
    )
    j = e0.join(
        e1, (F.col("label") == F.col("l1")) & (F.col("dim") == F.col("d1"))
    )
    return j.groupBy("label").agg(
        F.max("n0").cast("long").alias("n_even"),
        F.max("n1").cast("long").alias("n_odd"),
        _r6(
            F.sqrt(
                F.sum(
                    (F.col("c0") - F.col("c1"))
                    * (F.col("c0") - F.col("c1"))
                )
            )
        ).alias("aa_centroid_dist"),
    ).select(
        F.col("label").cast("long").alias("label"),
        "n_even",
        "n_odd",
        "aa_centroid_dist",
    )


registry.register(
    "embedding_split_drift",
    q_embedding_split_drift,
    """
    WITH comp AS (
      SELECT label, vec_id % 2 AS h, CAST(i AS INTEGER) AS dim,
             CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1e6) AS BIGINT)
               AS q
      FROM embeddings,
           LATERAL unnest(generate_series(1, len(embedding))) AS g(i)
    ),
    cent AS (
      SELECT label, h, dim, SUM(q) AS s, COUNT(*) AS n
      FROM comp GROUP BY 1, 2, 3
    ),
    c AS (
      SELECT label, h, dim, n,
             CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6) AS c
      FROM cent
    )
    SELECT CAST(e0.label AS BIGINT) AS label,
           CAST(MAX(e0.n) AS BIGINT) AS n_even,
           CAST(MAX(e1.n) AS BIGINT) AS n_odd,
           FLOOR(SQRT(SUM((e0.c - e1.c) * (e0.c - e1.c)))
                 * 1000000.0 + 0.5) / 1000000.0 AS aa_centroid_dist
    FROM (SELECT * FROM c WHERE h = 0) e0
    JOIN (SELECT * FROM c WHERE h = 1) e1
      ON e0.label = e1.label AND e0.dim = e1.dim
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# Burrows' Delta stylometric distance between sources
# ---------------------------------------------------------------------------


def q_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta between every source pair: mean |Δz| of the
    top-50 word relative frequencies, z-scored across sources — the
    classic stylometric fingerprint (two "different" sources with a
    tiny Delta are the same upstream crawler wearing two names — a
    provenance smell dedup by content misses).

    Relative frequencies are exact integer ratios; per-word mean/sd
    span the 20 source points (windows over the 50×20 table); the
    pairwise join is (sources²·50)-sized metadata. Ranking/tie rules
    follow vocab_topk."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count("*").alias("n"))
    top = counts.orderBy(F.col("n").desc(), "tok").limit(50).select("tok")
    sw = toks.join(F.broadcast(top), "tok").groupBy("source", "tok").agg(
        F.count("*").alias("c")
    )
    tot = toks.groupBy("source").agg(F.count("*").alias("t"))
    f = sw.join(tot, "source").select(
        "source",
        "tok",
        (F.col("c").cast("double") / F.col("t").cast("double")).alias("f"),
    )
    ww = Window.partitionBy("tok")
    stats = f.select(
        "source",
        "tok",
        "f",
        F.avg("f").over(ww).alias("mu"),
        F.stddev_pop("f").over(ww).alias("sd"),
    ).filter(F.col("sd") > 0)
    z = stats.select(
        "source", "tok", ((F.col("f") - F.col("mu")) / F.col("sd")).alias("z")
    )
    a, b = z.alias("a"), z.alias("b")
    pairs = a.join(
        b,
        (F.col("a.tok") == F.col("b.tok"))
        & (F.col("a.source") < F.col("b.source")),
    ).select(
        F.col("a.source").alias("source_a"),
        F.col("b.source").alias("source_b"),
        F.abs(F.col("a.z") - F.col("b.z")).alias("dz"),
    )
    return pairs.groupBy("source_a", "source_b").agg(
        F.count("*").cast("long").alias("n_words"),
        _r6(F.avg("dz")).alias("burrows_delta"),
    )


registry.register(
    "burrows_delta",
    q_burrows_delta,
    """
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    top AS (
      SELECT tok FROM (
        SELECT tok, COUNT(*) AS n FROM toks GROUP BY 1
      ) ORDER BY n DESC, tok LIMIT 50
    ),
    sw AS (
      SELECT t.source, t.tok, COUNT(*) AS c
      FROM toks t JOIN top USING (tok)
      GROUP BY 1, 2
    ),
    tot AS (SELECT source, COUNT(*) AS t FROM toks GROUP BY 1),
    f AS (
      SELECT sw.source, sw.tok,
             CAST(sw.c AS DOUBLE) / CAST(tot.t AS DOUBLE) AS f
      FROM sw JOIN tot USING (source)
    ),
    stats AS (
      SELECT source, tok, f,
             AVG(f) OVER (PARTITION BY tok) AS mu,
             STDDEV_POP(f) OVER (PARTITION BY tok) AS sd
      FROM f
    ),
    z AS (
      SELECT source, tok, (f - mu) / sd AS z
      FROM stats WHERE sd > 0
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           FLOOR(AVG(ABS(a.z - b.z)) * 1000000.0 + 0.5) / 1000000.0
             AS burrows_delta
    FROM z a JOIN z b ON a.tok = b.tok AND a.source < b.source
    GROUP BY 1, 2
    """,
)


# ---------------------------------------------------------------------------
# MinHash estimator calibration: estimated vs true Jaccard per bin
# ---------------------------------------------------------------------------


def q_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How biased is the 16-permutation minhash Jaccard estimate?
    Per true-Jaccard decile (over the LSH candidate pairs), the mean
    estimated vs mean true similarity — the table that says whether
    the production dedup threshold (picked on ESTIMATES) corresponds
    to the intended TRUE similarity. Textbook LSH analysis assumes
    unbiasedness; short docs + few permutations bias it, so measure.

    Shapes: candidates-only (never all-pairs), and the true-Jaccard
    verify is IN-ROW: each candidate pair joins the per-doc
    distinct-shingle-code ARRAY (one row per doc, never an exploded
    (doc, code) table — the exploded two-sided join measured 8-9 s at
    sf0.1 vs ~5 s in-row), the estimate is an in-row signature
    comparison after two per-side lookups. The residual cost is the
    honest verify volume itself: 115k candidate pairs × ~1k-element
    array intersects at sf0.1 — the same irreducible-pairs tier as
    fuzzy_name_join and dedup_threshold_sweep. Exactness: per-pair
    true Jaccard is quantized to micro-units by INTEGER division
    ((inter·1e6) div union — exact, order-free), bins are integer
    ((inter·10) div union), and both means divide exact integer sums
    once at the end."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = _corpus_sigs(spark, sf_dir)
    cand = dedup.lsh_candidate_pairs(sigs).localCheckpoint()
    k = len(dedup._PERMS)

    # shingle-code the CANDIDATE docs only (left-semi against the
    # pair ids): the char->shingle pipeline over the full corpus was
    # the residual 5 s — candidates are a small fraction of docs
    cand_ids = (
        cand.select(F.col("id_a").alias("doc_id"))
        .unionAll(cand.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    # r12: (a) the coded table was evaluated once per join branch
    # (the full char->shingle coding pass ran twice); checkpoint it
    # once at candidate size. (b) the planner BROADCAST both
    # code-array branches — a single-task build of a hash relation
    # holding every candidate's ~1k-element array, and corpus-scale
    # at 100 TB (the shingle_containment r11 class); shuffle_hash
    # keeps both joins partitioned on the id (§3.2 pick the strategy
    # deliberately). Values unchanged — plan-only.
    coded = (
        dedup.shingle_code_arrays(docs.join(cand_ids, "doc_id", "left_semi"))
        .select("doc_id", F.array_distinct("__codes").alias("codes"))
        .localCheckpoint()
    )
    ca = coded.select(
        F.col("doc_id").alias("id_a"), F.col("codes").alias("codes_a")
    ).hint("shuffle_hash")
    cb = coded.select(
        F.col("doc_id").alias("id_b"), F.col("codes").alias("codes_b")
    ).hint("shuffle_hash")
    match_expr = sum(
        [
            F.when(
                F.col(f"a.sig_{i}") == F.col(f"b.sig_{i}"), 1
            ).otherwise(0)
            for i in range(k)
        ],
        F.lit(0),
    )
    est = (
        cand.join(sigs.alias("a"), cand["id_a"] == F.col("a.doc_id"))
        .join(sigs.alias("b"), cand["id_b"] == F.col("b.doc_id"))
        .select("id_a", "id_b", match_expr.alias("n_match"))
    )
    n_inter = F.size(F.array_intersect("codes_a", "codes_b"))
    pairs = (
        est.join(ca, "id_a")
        .join(cb, "id_b")
        .select(
            "n_match",
            n_inter.alias("n_inter"),
            (
                F.size("codes_a") + F.size("codes_b") - n_inter
            ).alias("n_union"),
        )
    )
    true_micro = F.expr("(n_inter * 1000000) DIV n_union")
    bin_col = F.expr("CAST((n_inter * 10) DIV n_union AS INT)")
    return (
        pairs.groupBy(bin_col.alias("true_bin"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(true_micro).alias("s_true"),
            F.sum("n_match").alias("s_match"),
        )
        .select(
            "true_bin",
            "n_pairs",
            _r6(
                F.col("s_true").cast("double")
                / (F.col("n_pairs").cast("double") * 1000000.0)
            ).alias("mean_true_jaccard"),
            _r6(
                F.col("s_match").cast("double")
                / (F.col("n_pairs").cast("double") * float(len(dedup._PERMS)))
            ).alias("mean_est_jaccard"),
        )
    )


def _minhash_calibration_sql() -> str:
    k = len(dedup._PERMS)
    code = "CAST(unicode(substring(sh, 1, 1)) AS BIGINT)"
    for i in range(2, 6):
        code = f"({code} * 31 + CAST(unicode(substring(sh, {i}, 1)) AS BIGINT))"
    match_sum = " + ".join(
        f"CASE WHEN a.sig_{i} = b.sig_{i} THEN 1 ELSE 0 END"
        for i in range(k)
    )
    return f"""
    WITH sigs AS ({_minhash_sql()}),
    cand AS ({_lsh_pairs_sql()}),
    sh_rows AS (
      SELECT DISTINCT doc_id,
             substring(text, pos, 5) AS sh
      FROM (SELECT doc_id, text,
                   unnest(generate_series(1, greatest(length(text) - 4, 1))) AS pos
            FROM documents)
    ),
    codes AS (SELECT DISTINCT doc_id, {code} AS code FROM sh_rows),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM codes GROUP BY 1),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
      FROM cand c
      JOIN codes ca ON ca.doc_id = c.id_a
      JOIN codes cb ON cb.doc_id = c.id_b AND cb.code = ca.code
      GROUP BY 1, 2
    ),
    est AS (
      SELECT c.id_a, c.id_b, {match_sum} AS n_match
      FROM cand c
      JOIN sigs a ON a.doc_id = c.id_a
      JOIN sigs b ON b.doc_id = c.id_b
    ),
    pairs AS (
      SELECT e.n_match, i.n_inter,
             sa.n_sh + sb.n_sh - i.n_inter AS n_union
      FROM inter i
      JOIN est e ON e.id_a = i.id_a AND e.id_b = i.id_b
      JOIN sizes sa ON sa.doc_id = i.id_a
      JOIN sizes sb ON sb.doc_id = i.id_b
    )
    SELECT CAST((n_inter * 10) // n_union AS INTEGER) AS true_bin,
           COUNT(*) AS n_pairs,
           FLOOR(CAST(SUM((n_inter * 1000000) // n_union) AS DOUBLE)
                 / (CAST(COUNT(*) AS DOUBLE) * 1000000.0)
                 * 1000000.0 + 0.5) / 1000000.0 AS mean_true_jaccard,
           FLOOR(CAST(SUM(n_match) AS DOUBLE)
                 / (CAST(COUNT(*) AS DOUBLE) * {float(k)})
                 * 1000000.0 + 0.5) / 1000000.0 AS mean_est_jaccard
    FROM pairs
    GROUP BY 1
    """


registry.register(
    "minhash_calibration", q_minhash_calibration, _minhash_calibration_sql()
)


# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram LM
# ---------------------------------------------------------------------------

_KN_D = 0.75


def q_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source cross-entropy under an interpolated Kneser-Ney
    bigram LM — the classical smoothing that add-one (`bigram_lm`)
    approximates badly: KN discounts every observed bigram by a fixed
    D = 0.75 and backs off to the CONTINUATION unigram (how many
    distinct histories precede w2), the famous "San Francisco" fix
    (high-count 'Francisco' almost never follows anything but 'San',
    so its backoff mass should be tiny).

    p(w2|w1) = max(c12−D, 0)/c1 + (D·N1+(w1·)/c1) · N1+(·w2)/T, with
    N1+ the distinct-continuation / distinct-history counts and T the
    distinct bigram types — every model input an exact integer, so
    the per-pair double is one bit-identical expression tree,
    floor-quantized to nano-nats (the bigram_lm discipline) before
    any cross-row sum.

    Scale: identical shapes to bigram_lm (doc-windowed bigrams, pair-
    keyed shuffles, vocabulary-bounded model tables) plus two extra
    pair-table aggregates for the N1+ counts."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    big = _doc_bigram_rows(docs, "doc_id", "source")
    doc_pairs = big.groupBy("doc_id", "source", "w1", "w2").agg(
        F.count("*").alias("tf")
    )
    c12 = doc_pairs.groupBy("w1", "w2").agg(F.sum("tf").alias("c12"))
    c1 = c12.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count("*").alias("nfw")
    )
    nbw = c12.groupBy("w2").agg(F.count("*").alias("nbw"))
    types = c12.agg(F.count("*").alias("t"))
    d = F.lit(_KN_D)
    p = (
        F.greatest(F.col("c12").cast("double") - d, F.lit(0.0))
        / F.col("c1").cast("double")
        + (d * F.col("nfw").cast("double") / F.col("c1").cast("double"))
        * (F.col("nbw").cast("double") / F.col("t").cast("double"))
    )
    lp = (
        c12.join(c1, "w1")
        .join(nbw, "w2")
        .crossJoin(F.broadcast(types))
        .select("w1", "w2", F.floor(F.log(p) * 1e9).cast("long").alias("lp9"))
    )
    scored = doc_pairs.join(lp, ["w1", "w2"])
    nll = -F.sum(F.col("tf") * F.col("lp9")).cast("double") / (
        F.sum("tf").cast("double") * F.lit(1e9)
    )
    return (
        scored.groupBy("source")
        .agg(
            F.sum("tf").cast("long").alias("n_bigrams"),
            nll.alias("nll"),
        )
        .select(
            "source",
            "n_bigrams",
            _r6(F.col("nll")).alias("mean_nll"),
            _r6(F.exp(F.col("nll"))).alias("perplexity"),
        )
    )


registry.register(
    "kneser_ney_bigram",
    q_kneser_ney_bigram,
    f"""
    WITH t AS (
      SELECT doc_id, source, string_split(text, ' ') AS arr FROM documents
    ),
    big AS (
      SELECT doc_id, source, arr[i] AS w1, arr[i + 1] AS w2
      FROM t, LATERAL unnest(generate_series(1, len(arr) - 1)) AS g(i)
    ),
    doc_pairs AS (
      SELECT doc_id, source, w1, w2, COUNT(*) AS tf
      FROM big GROUP BY 1, 2, 3, 4
    ),
    c12 AS (SELECT w1, w2, SUM(tf) AS c12 FROM doc_pairs GROUP BY 1, 2),
    c1 AS (
      SELECT w1, SUM(c12) AS c1, COUNT(*) AS nfw FROM c12 GROUP BY 1
    ),
    nbw AS (SELECT w2, COUNT(*) AS nbw FROM c12 GROUP BY 1),
    types AS (SELECT COUNT(*) AS t FROM c12),
    lp AS (
      SELECT a.w1, a.w2,
             CAST(FLOOR(LN(
               GREATEST(CAST(a.c12 AS DOUBLE) - {_KN_D}, 0.0)
                 / CAST(b.c1 AS DOUBLE)
               + ({_KN_D} * CAST(b.nfw AS DOUBLE) / CAST(b.c1 AS DOUBLE))
                 * (CAST(n.nbw AS DOUBLE) / CAST(ty.t AS DOUBLE))
             ) * 1e9) AS BIGINT) AS lp9
      FROM c12 a
      JOIN c1 b ON a.w1 = b.w1
      JOIN nbw n ON a.w2 = n.w2
      CROSS JOIN types ty
    ),
    scored AS (
      SELECT d.source, d.tf, l.lp9
      FROM doc_pairs d JOIN lp l ON d.w1 = l.w1 AND d.w2 = l.w2
    )
    SELECT source,
           CAST(SUM(tf) AS BIGINT) AS n_bigrams,
           FLOOR((-CAST(SUM(tf * lp9) AS DOUBLE)
                  / (CAST(SUM(tf) AS DOUBLE) * 1e9))
                 * 1000000.0 + 0.5) / 1000000.0 AS mean_nll,
           FLOOR(EXP(-CAST(SUM(tf * lp9) AS DOUBLE)
                     / (CAST(SUM(tf) AS DOUBLE) * 1e9))
                 * 1000000.0 + 0.5) / 1000000.0 AS perplexity
    FROM scored
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# Normalized mutual information of k-means clusters vs true labels
# ---------------------------------------------------------------------------


def q_cluster_nmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External clustering validity: normalized mutual information
    between the `kmeans_assign` partition and the embeddings table's
    ground-truth `label` — the standard "did the clusters recover the
    classes?" score (NMI = I(U;V)/√(H(U)·H(V)), 1 = perfect recovery,
    0 = independent).

    Shapes: one (cluster × label) contingency groupBy — cells ≤
    8·|labels| forever — then marginals re-aggregate the cell table;
    the fact (the assignment join) is scanned once. Exactness: every
    ln sees an exact integer ratio and every term is floor-quantized
    to nano-nats BIGINT before its cross-row sum (the
    quantize-before-sum rule), so MI, H(U), H(V) are exact integers
    and NMI is one final double division."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    assign = q_kmeans_assign(spark, sf_dir).select("vec_id", "centroid_id")
    joint = assign.join(emb, "vec_id").groupBy("centroid_id", "label").agg(
        F.count("*").alias("c")
    )
    wu = Window.partitionBy("centroid_id")
    wv = Window.partitionBy("label")
    wn = Window.partitionBy()
    cells = joint.select(
        "centroid_id",
        "label",
        "c",
        F.sum("c").over(wu).alias("cu"),
        F.sum("c").over(wv).alias("cv"),
        F.sum("c").over(wn).alias("n"),
    )
    mi_term = F.floor(
        (F.col("c").cast("double") / F.col("n").cast("double"))
        * F.log(
            (F.col("c").cast("double") * F.col("n").cast("double"))
            / (F.col("cu").cast("double") * F.col("cv").cast("double"))
        )
        * 1e9
    ).cast("long")
    mi = cells.agg(
        F.max("n").alias("n_vecs"), F.sum(mi_term).alias("mi_nano")
    )
    hu_term = F.floor(
        -(F.col("cu").cast("double") / F.col("n").cast("double"))
        * F.log(F.col("cu").cast("double") / F.col("n").cast("double"))
        * 1e9
    ).cast("long")
    hu = (
        cells.select("centroid_id", "cu", "n")
        .distinct()
        .agg(
            F.count("*").alias("n_clusters"),
            F.sum(hu_term).alias("hu_nano"),
        )
    )
    hv_term = F.floor(
        -(F.col("cv").cast("double") / F.col("n").cast("double"))
        * F.log(F.col("cv").cast("double") / F.col("n").cast("double"))
        * 1e9
    ).cast("long")
    hv = (
        cells.select("label", "cv", "n")
        .distinct()
        .agg(
            F.count("*").alias("n_labels"),
            F.sum(hv_term).alias("hv_nano"),
        )
    )
    out = mi.crossJoin(F.broadcast(hu)).crossJoin(F.broadcast(hv))
    return out.select(
        "n_vecs",
        "n_clusters",
        "n_labels",
        _r6(F.col("mi_nano").cast("double") / 1e9).alias("mi_nats"),
        _r6(
            F.col("mi_nano").cast("double")
            / F.sqrt(
                F.col("hu_nano").cast("double")
                * F.col("hv_nano").cast("double")
            )
        ).alias("nmi"),
    )


registry.register(
    "cluster_nmi",
    q_cluster_nmi,
    f"""
    WITH assign AS ({_KMEANS_ASSIGN_SQL}),
    joint AS (
      SELECT a.centroid_id, e.label, COUNT(*) AS c
      FROM assign a JOIN embeddings e ON a.vec_id = e.vec_id
      GROUP BY 1, 2
    ),
    cells AS (
      SELECT centroid_id, label, c,
             SUM(c) OVER (PARTITION BY centroid_id) AS cu,
             SUM(c) OVER (PARTITION BY label) AS cv,
             SUM(c) OVER () AS n
      FROM joint
    ),
    mi AS (
      SELECT MAX(n) AS n_vecs,
             SUM(CAST(FLOOR((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                 * LN((CAST(c AS DOUBLE) * CAST(n AS DOUBLE))
                      / (CAST(cu AS DOUBLE) * CAST(cv AS DOUBLE)))
                 * 1e9) AS BIGINT)) AS mi_nano
      FROM cells
    ),
    hu AS (
      SELECT COUNT(*) AS n_clusters,
             SUM(CAST(FLOOR(-(CAST(cu AS DOUBLE) / CAST(n AS DOUBLE))
                 * LN(CAST(cu AS DOUBLE) / CAST(n AS DOUBLE))
                 * 1e9) AS BIGINT)) AS hu_nano
      FROM (SELECT DISTINCT centroid_id, cu, n FROM cells)
    ),
    hv AS (
      SELECT COUNT(*) AS n_labels,
             SUM(CAST(FLOOR(-(CAST(cv AS DOUBLE) / CAST(n AS DOUBLE))
                 * LN(CAST(cv AS DOUBLE) / CAST(n AS DOUBLE))
                 * 1e9) AS BIGINT)) AS hv_nano
      FROM (SELECT DISTINCT label, cv, n FROM cells)
    )
    SELECT CAST(mi.n_vecs AS BIGINT) AS n_vecs,
           CAST(hu.n_clusters AS BIGINT) AS n_clusters,
           CAST(hv.n_labels AS BIGINT) AS n_labels,
           FLOOR(CAST(mi.mi_nano AS DOUBLE) / 1e9 * 1000000.0 + 0.5)
             / 1000000.0 AS mi_nats,
           FLOOR(CAST(mi.mi_nano AS DOUBLE)
                 / SQRT(CAST(hu.hu_nano AS DOUBLE)
                        * CAST(hv.hv_nano AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS nmi
    FROM mi, hu, hv
    """,
)


# ---------------------------------------------------------------------------
# IVF nprobe operating curve: recall@3 vs clusters probed
# ---------------------------------------------------------------------------

_NPROBES = (1, 2, 4)


def q_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF tuning curve `ivf_topk` commits to a point of: recall@3
    against the exact top-3 as nprobe sweeps 1 → 2 → 4 of 8 coarse
    cells — the accuracy-vs-cost frontier every ANN deployment reads
    before picking its operating point (dedup_threshold_sweep's
    pattern applied to similarity search).

    Shapes: centroid ranking is ONE corpus × 8-centroid broadcast
    crossJoin ranked per vector (rank 1 = the cell assignment, ranks
    ≤ 4 = the query's probe list — one pass serves every nprobe);
    per-sweep candidates join the query's probe cells to the
    assignment on cluster id, so cost grows linearly with nprobe and
    never approaches all-pairs; the exact reference is one
    query-broadcast scan. Recall is integer hit counting (rounded-
    cosine, id-tiebreak top-3 on both engines), micro-quantized at
    the end."""
    # r9: vector norms are single-vector facts — project them ONCE per
    # corpus row / centroid / query instead of recomputing inside every
    # pairwise cosine (the per-pair cosine was 3x the flops: dot +
    # norm_a + norm_b). Same IEEE doubles — a norm depends only on its
    # own vector — so every rounded cosine is bit-identical.
    # r12 NOTE (measured, rejected): spread() of the (id, vec) rows to
    # parallelize the single-split scoring stages measured 4.0 →
    # 7-13 s isolated — the round-robin exchange under every broadcast
    # branch (cent/qs/probes) serializes the array payload repeatedly
    # and round-robin repartition local-sorts its input
    # (sortBeforeRepartition); consistent with the r11
    # ngram_entropy_curve rejection: array payloads don't spread.
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        similarity._norm(F.col("embedding")).alias("nrm"),
    )
    cent = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("cv"),
        F.col("nrm").alias("cnrm"),
    )
    wv = Window.partitionBy("vec_id").orderBy(
        F.col("ccos").desc(), F.col("cid").asc()
    )
    ranked = (
        emb.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "embedding",
            "nrm",
            "cid",
            F.round(
                similarity._dot(F.col("embedding"), F.col("cv"))
                / (F.col("nrm") * F.col("cnrm")),
                6,
            ).alias("ccos"),
        )
        .withColumn("rnk", F.row_number().over(wv))
    )
    assign = (
        ranked.filter(F.col("rnk") == 1)
        .select("vec_id", "embedding", "nrm", "cid")
        .localCheckpoint()
    )
    is_query = F.col("vec_id") % 25 == 0
    probes = ranked.filter(is_query & (F.col("rnk") <= max(_NPROBES))).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("nrm").alias("qnrm"),
        "cid",
        "rnk",
    )
    qs = emb.filter(is_query).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    nq = qs.agg(F.count("*").alias("n_queries"))

    def top3(scored: DataFrame) -> DataFrame:
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos").desc(), F.col("neighbor_id").asc()
        )
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("query_id", "neighbor_id")
        )

    exact3 = top3(
        emb.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                similarity._dot(F.col("qv"), F.col("embedding"))
                / (F.col("qnrm") * F.col("nrm")),
                6,
            ).alias("cos"),
        )
    ).localCheckpoint()

    # r11 (optimization): the nprobe sweeps are NESTED — candidates at
    # nprobe=1 ⊂ 2 ⊂ 4 — so the pairwise cosines are scored ONCE at
    # max(_NPROBES) with the probe rank attached (each corpus vector
    # lives in exactly one cell, so (query, neighbor) is unique and
    # carries its cell's rank), checkpointed at candidate size, and
    # every sweep point is a filter + top-3 over that table. The
    # previous per-p loop re-scored 1+2+4 = 7 cells' worth of dot
    # products; this scores 4. Same rounded cosines, same top-3.
    scored_all = (
        probes.select("query_id", "qv", "qnrm", "cid", "rnk")
        .join(assign, "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                similarity._dot(F.col("qv"), F.col("embedding"))
                / (F.col("qnrm") * F.col("nrm")),
                6,
            ).alias("cos"),
            "rnk",
        )
        .localCheckpoint()
    )
    parts = []
    for p in _NPROBES:
        cand = scored_all.filter(F.col("rnk") <= p)
        hits = top3(cand).join(exact3, ["query_id", "neighbor_id"], "left_semi")
        parts.append(
            hits.agg(F.count("*").alias("n_hits"))
            .crossJoin(F.broadcast(nq))
            .select(
                F.lit(p).alias("nprobe"),
                "n_queries",
                "n_hits",
                F.expr("(n_hits * 1000000) DIV (3 * n_queries)").alias(
                    "recall_micro"
                ),
            )
        )
    out = parts[0]
    for df in parts[1:]:
        out = out.unionAll(df)
    return out


def _nprobe_sweep_sql() -> str:
    assign_cos = _COS_SQL.format(a="e.embedding", b="c.cv")
    pair_cos = _COS_SQL.format(a="q.qv", b="a.embedding")
    exact_cos = _COS_SQL.format(a="q.qv", b="e.embedding")
    branches = []
    for p in _NPROBES:
        branches.append(f"""
    SELECT {p} AS nprobe,
           (SELECT COUNT(*) FROM qs) AS n_queries,
           (SELECT COUNT(*) FROM (
              SELECT t.query_id, t.neighbor_id FROM (
                SELECT s.query_id, s.neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY s.query_id
                                          ORDER BY s.cos DESC,
                                                   s.neighbor_id ASC) AS rn
                FROM (
                  SELECT q.query_id, a.vec_id AS neighbor_id,
                         {pair_cos} AS cos
                  FROM (SELECT r.vec_id AS query_id, r.embedding AS qv,
                               r.cid
                        FROM ranked r
                        WHERE r.vec_id % 25 = 0 AND r.rnk <= {p}) q
                  JOIN assign a ON a.cid = q.cid
                                AND a.vec_id <> q.query_id
                ) s
              ) t WHERE t.rn <= 3
              ) ap
            JOIN exact3 e3 ON ap.query_id = e3.query_id
                          AND ap.neighbor_id = e3.neighbor_id
           ) AS n_hits""")
    body = "\n    UNION ALL\n    ".join(
        f"SELECT nprobe, CAST(n_queries AS BIGINT) AS n_queries,"
        f" CAST(n_hits AS BIGINT) AS n_hits,"
        f" (n_hits * 1000000) // (3 * n_queries) AS recall_micro"
        f" FROM ({b})"
        for b in branches
    )
    return f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding AS cv
      FROM embeddings WHERE vec_id < 8
    ),
    ranked AS (
      SELECT e.vec_id, e.embedding, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                ORDER BY {assign_cos} DESC, c.cid ASC)
               AS rnk
      FROM embeddings e CROSS JOIN cent c
    ),
    assign AS (
      SELECT vec_id, embedding, cid FROM ranked WHERE rnk = 1
    ),
    qs AS (
      SELECT vec_id AS query_id, embedding AS qv
      FROM embeddings WHERE vec_id % 25 = 0
    ),
    exact3 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                                  ORDER BY {exact_cos} DESC,
                                           e.vec_id ASC) AS rn
        FROM embeddings e CROSS JOIN qs q
        WHERE e.vec_id <> q.query_id
      ) WHERE rn <= 3
    )
    {body}
    """


registry.register("ivf_nprobe_sweep", q_ivf_nprobe_sweep, _nprobe_sweep_sql())


# ---------------------------------------------------------------------------
# ANN hubness diagnostic: k-occurrence skew of exact top-3 neighbors
# ---------------------------------------------------------------------------


def q_ann_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness audit of the embedding space: how unevenly do corpus
    vectors appear in other points' top-3 lists? High-dimensional
    spaces concentrate neighbor lists onto a few "hub" vectors (the
    classic k-occurrence pathology) — which silently degrades every
    consumer of this corpus's neighbor lists (ivf_topk recall,
    hard_negative_mining, embedding_neardup): hubs crowd out true
    neighbors and antihubs become unreachable. Reports the
    k-occurrence distribution over the standard query sample: distinct
    referenced neighbors, max occurrence, the share of all top-3
    slots captured by the 10 biggest hubs, and the antihub count
    (corpus vectors never referenced).

    Shapes: one query-broadcast scan for exact top-3 (the
    cosine_topk plan), then neighbor-keyed integer aggs; the hub
    top-10 is a 10-row ordered head of the occurrence table. All
    outputs integer or micro-quantized."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "nrm", similarity._norm(F.col("embedding"))
    )
    qs = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    exact3 = (
        emb.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                similarity.cosine_with_norms(
                    F.col("qv"), F.col("embedding"),
                    F.col("qnrm"), F.col("nrm"),
                ),
                6,
            ).alias("cos"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neighbor_id")
    )
    occ = exact3.groupBy("neighbor_id").agg(F.count("*").alias("occ"))
    wtop = Window.orderBy(F.col("occ").desc(), F.col("neighbor_id").asc())
    top10 = (
        occ.withColumn("hr", F.row_number().over(wtop))
        .filter(F.col("hr") <= 10)
        .agg(F.sum("occ").alias("top10_occ"))
    )
    stats = occ.agg(
        F.count("*").alias("n_referenced"),
        F.max("occ").alias("max_occ"),
        F.sum("occ").alias("total_slots"),
    )
    nq = qs.agg(F.count("*").alias("n_queries"))
    nc = emb.agg(F.count("*").alias("n_corpus"))
    return (
        stats.crossJoin(F.broadcast(top10))
        .crossJoin(F.broadcast(nq))
        .crossJoin(F.broadcast(nc))
        .select(
            "n_queries",
            "n_referenced",
            (F.col("n_corpus") - F.col("n_referenced")).alias("n_antihubs"),
            "max_occ",
            F.expr("(top10_occ * 1000000) DIV total_slots").alias(
                "top10_share_micro"
            ),
        )
    )


def _hubness_sql() -> str:
    exact_cos = _COS_SQL.format(a="q.qv", b="e.embedding")
    return f"""
    WITH qs AS (
      SELECT vec_id AS query_id, embedding AS qv
      FROM embeddings WHERE vec_id % 25 = 0
    ),
    exact3 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                                  ORDER BY {exact_cos} DESC,
                                           e.vec_id ASC) AS rn
        FROM embeddings e CROSS JOIN qs q
        WHERE e.vec_id <> q.query_id
      ) WHERE rn <= 3
    ),
    occ AS (
      SELECT neighbor_id, COUNT(*) AS occ FROM exact3 GROUP BY 1
    ),
    top10 AS (
      SELECT SUM(occ) AS top10_occ FROM (
        SELECT occ, ROW_NUMBER() OVER (ORDER BY occ DESC,
                                       neighbor_id ASC) AS hr
        FROM occ
      ) WHERE hr <= 10
    ),
    stats AS (
      SELECT COUNT(*) AS n_referenced, MAX(occ) AS max_occ,
             SUM(occ) AS total_slots
      FROM occ
    )
    SELECT (SELECT COUNT(*) FROM qs) AS n_queries,
           CAST(s.n_referenced AS BIGINT) AS n_referenced,
           (SELECT COUNT(*) FROM embeddings) - s.n_referenced
             AS n_antihubs,
           CAST(s.max_occ AS BIGINT) AS max_occ,
           (t.top10_occ * 1000000) // s.total_slots
             AS top10_share_micro
    FROM stats s, top10 t
    """


registry.register("ann_hubness", q_ann_hubness, _hubness_sql())


# ---------------------------------------------------------------------------
# RAKE keyphrase extraction
# ---------------------------------------------------------------------------

_RAKE_STOP = (
    "a", "the", "and", "of", "to", "in", "fast", "slow", "small", "big",
)
_RAKE_MAX_LEN = 4


def q_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction over the corpus (Rose et al.): split
    each document at stopwords into candidate phrases (gaps-and-
    islands on token position — the sessionize trick applied to
    text), score each word by degree/frequency over phrase
    co-membership, and rank phrases by the sum of member-word scores
    — the zero-model keyphrase baseline next to `collocation_pmi`
    (PMI finds surprising pairs; RAKE finds content-word runs).

    Exactness: degree and frequency are integers, word scores are
    (deg·1e6) div freq, phrase scores are integer sums — the top-20
    cut is integer-ordered with a phrase tiebreak. Shapes: islands
    come from the per-doc position window; word stats and phrase
    scores are token-keyed aggs; the final cut is a TakeOrdered
    20-row head, never a global sort."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    nonstop = toks.filter(~F.col("tok").isin(*_RAKE_STOP))
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = nonstop.withColumn(
        "grp", F.col("pos") - F.row_number().over(w)
    )
    wlen = Window.partitionBy("doc_id", "grp")
    members = isl.withColumn("plen", F.count("*").over(wlen)).filter(
        F.col("plen") <= _RAKE_MAX_LEN
    )
    word_scores = members.groupBy("tok").agg(
        F.expr("(SUM(plen) * 1000000) DIV COUNT(*)").alias("w_score")
    )
    phrase_rows = (
        members.join(word_scores, "tok")
        .groupBy("doc_id", "grp")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("phrase"),
            F.sum("w_score").alias("score_micro"),
        )
    )
    return (
        phrase_rows.groupBy("phrase")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.max("score_micro").alias("score_micro"),
        )
        .orderBy(F.col("score_micro").desc(), F.col("phrase").asc())
        .limit(20)
    )


def _rake_sql() -> str:
    stop = ", ".join(f"'{s}'" for s in _RAKE_STOP)
    return f"""
    WITH toks AS (
      SELECT d.doc_id, g.i - 1 AS pos, arr[g.i] AS tok
      FROM (SELECT doc_id, string_split(text, ' ') AS arr
            FROM documents) d,
      LATERAL unnest(generate_series(1, len(arr))) AS g(i)
    ),
    nonstop AS (
      SELECT doc_id, pos, tok FROM toks WHERE tok NOT IN ({stop})
    ),
    isl AS (
      SELECT doc_id, pos, tok,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY pos) AS grp
      FROM nonstop
    ),
    members AS (
      SELECT * FROM (
        SELECT doc_id, pos, tok, grp,
               COUNT(*) OVER (PARTITION BY doc_id, grp) AS plen
        FROM isl
      ) WHERE plen <= {_RAKE_MAX_LEN}
    ),
    word_scores AS (
      SELECT tok, (SUM(plen) * 1000000) // COUNT(*) AS w_score
      FROM members GROUP BY 1
    ),
    phrase_rows AS (
      SELECT m.doc_id, m.grp,
             string_agg(m.tok, ' ' ORDER BY m.pos) AS phrase,
             SUM(w.w_score) AS score_micro
      FROM members m JOIN word_scores w ON m.tok = w.tok
      GROUP BY 1, 2
    )
    SELECT phrase, COUNT(*) AS n_occurrences,
           CAST(MAX(score_micro) AS BIGINT) AS score_micro
    FROM phrase_rows
    GROUP BY 1
    ORDER BY score_micro DESC, phrase ASC
    LIMIT 20
    """


registry.register("rake_keyphrases", q_rake_keyphrases, _rake_sql())


# ---------------------------------------------------------------------------
# Contrastive triplet mining (anchor / hardest positive / hardest negative)
# ---------------------------------------------------------------------------


def q_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mine (anchor, positive, negative) training triplets from the
    labeled embedding corpus — the batch-hard strategy of metric-
    learning pipelines: per anchor, the HARDEST positive (lowest
    cosine among same-label) and HARDEST negative (highest cosine
    among other-label), because easy triplets contribute zero
    gradient. Complements `hard_negative_mining` (query→passage) with
    the label-supervised triplet form, and reports the per-label
    margin profile (how separable is each class?).

    Shapes: one query-broadcast scan scores the anchor sample against
    the corpus (the cosine_topk plan); hardest positive/negative are
    two windowed argmins over that scored table; the rollup is
    label-sized. Exactness: cosines are rounded to 1e-6 on both
    engines, margins use the half-up micro quantize (margin is a
    difference of two 6-dp-rounded doubles, so the +0.5 offset keeps
    every value off the floor boundary), and means divide exact
    integer sums once."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "nrm", similarity._norm(F.col("embedding"))
    )
    anchors = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("av"),
        F.col("label").alias("a_label"),
        F.col("nrm").alias("anrm"),
    )
    scored = (
        emb.crossJoin(F.broadcast(anchors))
        .filter(F.col("vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "a_label",
            F.col("vec_id").alias("cand_id"),
            F.col("label").alias("c_label"),
            F.round(
                similarity.cosine_with_norms(
                    F.col("av"), F.col("embedding"),
                    F.col("anrm"), F.col("nrm"),
                ),
                6,
            ).alias("cos"),
        )
    )
    wp = Window.partitionBy("anchor_id").orderBy(
        F.col("cos").asc(), F.col("cand_id").asc()
    )
    pos = (
        scored.filter(F.col("c_label") == F.col("a_label"))
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
        .select("anchor_id", "a_label", F.col("cos").alias("pos_cos"))
    )
    wn = Window.partitionBy("anchor_id").orderBy(
        F.col("cos").desc(), F.col("cand_id").asc()
    )
    neg = (
        scored.filter(F.col("c_label") != F.col("a_label"))
        .withColumn("rn", F.row_number().over(wn))
        .filter(F.col("rn") == 1)
        .select("anchor_id", F.col("cos").alias("neg_cos"))
    )
    trip = pos.join(neg, "anchor_id").withColumn(
        "margin_micro",
        F.floor(
            (F.col("pos_cos") - F.col("neg_cos")) * 1e6 + 0.5
        ).cast("long"),
    )
    return trip.groupBy("a_label").agg(
        F.count("*").alias("n_anchors"),
        F.sum((F.col("margin_micro") > 0).cast("long")).alias(
            "n_separable"
        ),
        F.expr(
            "(SUM(margin_micro) - ((SUM(margin_micro) % COUNT(*)"
            " + COUNT(*)) % COUNT(*))) / COUNT(*)"
        ).cast("long").alias("mean_margin_micro"),
        F.min("margin_micro").alias("worst_margin_micro"),
    )


def _triplet_sql() -> str:
    cos = _COS_SQL.format(a="a.av", b="e.embedding")
    return f"""
    WITH anchors AS (
      SELECT vec_id AS anchor_id, embedding AS av, label AS a_label
      FROM embeddings WHERE vec_id % 25 = 0
    ),
    scored AS (
      SELECT a.anchor_id, a.a_label, e.vec_id AS cand_id,
             e.label AS c_label, {cos} AS cos
      FROM embeddings e CROSS JOIN anchors a
      WHERE e.vec_id <> a.anchor_id
    ),
    pos AS (
      SELECT anchor_id, a_label, cos AS pos_cos FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                    ORDER BY cos ASC, cand_id ASC) AS rn
        FROM scored WHERE c_label = a_label
      ) WHERE rn = 1
    ),
    neg AS (
      SELECT anchor_id, cos AS neg_cos FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                    ORDER BY cos DESC, cand_id ASC) AS rn
        FROM scored WHERE c_label <> a_label
      ) WHERE rn = 1
    ),
    trip AS (
      SELECT p.a_label,
             CAST(FLOOR((p.pos_cos - n.neg_cos) * 1e6 + 0.5) AS BIGINT)
               AS margin_micro
      FROM pos p JOIN neg n ON p.anchor_id = n.anchor_id
    )
    SELECT a_label, COUNT(*) AS n_anchors,
           SUM(CASE WHEN margin_micro > 0 THEN 1 ELSE 0 END)
             AS n_separable,
           CAST((SUM(margin_micro)
                 - ((SUM(margin_micro) % COUNT(*) + COUNT(*))
                    % COUNT(*))) / COUNT(*) AS BIGINT)
             AS mean_margin_micro,
           MIN(margin_micro) AS worst_margin_micro
    FROM trip GROUP BY 1
    """


registry.register("triplet_mining", q_triplet_mining, _triplet_sql())


# ---------------------------------------------------------------------------
# Vocabulary coverage / OOV audit per source
# ---------------------------------------------------------------------------

_VOCAB_TOPN = 512


def q_vocab_coverage_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary audit: freeze the corpus top-512 token
    vocabulary and report, per source, what fraction of token
    OCCURRENCES and distinct token TYPES fall outside it — the first
    number a fixed-vocab tokenizer (or a fasttext-style hash
    fallback) needs per ingest source, and `vocab_topk`'s consumer-
    side complement (that query builds the vocab; this one audits
    coverage under it).

    Shapes: the vocab cut is an orderBy().limit on the vocabulary-
    sized count table (TakeOrdered, never a corpus sort) and
    broadcasts to the token scan; per-source numbers are integer
    counts with one micro division."""
    toks = load_table(spark, sf_dir, "documents").select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok").asc())
        .limit(_VOCAB_TOPN)
        .select("tok")
    )
    flagged = toks.join(
        F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "tok", "left"
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
            ).alias("n_oov_tokens"),
            F.countDistinct(
                F.when(F.col("in_vocab").isNull(), F.col("tok"))
            ).alias("n_oov_types"),
        )
        .withColumn(
            "oov_rate_micro",
            F.expr("(n_oov_tokens * 1000000) DIV n_tokens"),
        )
    )


registry.register(
    "vocab_coverage_oov",
    q_vocab_coverage_oov,
    f"""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, COUNT(*) AS n FROM toks GROUP BY 1
        ORDER BY n DESC, tok ASC LIMIT {_VOCAB_TOPN}
      )
    )
    SELECT t.source, COUNT(*) AS n_tokens,
           SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
             AS n_oov_tokens,
           COUNT(DISTINCT CASE WHEN v.tok IS NULL THEN t.tok END)
             AS n_oov_types,
           (SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 1000000)
             // COUNT(*) AS oov_rate_micro
    FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# Mutual (reciprocal) kNN pairs within the anchor sample
# ---------------------------------------------------------------------------


def q_mutual_knn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal nearest-neighbor pairs: (a, b) where b is in a's
    exact top-3 AND a is in b's — the high-precision matching
    criterion image/embedding pipelines use before trusting a match
    (one-directional kNN is polluted by hubs — see `ann_hubness`;
    mutuality filters exactly those). Evaluated within the standard
    anchor sample so both directions exist in one scored table.

    Shapes: ONE query-broadcast scan scores sample × corpus; the
    mutual check is a self-join of the top-3 table on reversed ids
    (canonical a < b kills the duplicate); outputs integer ranks and
    the rounded cosine."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "nrm", similarity._norm(F.col("embedding"))
    )
    qs = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    scored = (
        emb.join(
            F.broadcast(qs.select("query_id")),
            emb["vec_id"] == F.col("query_id"),
            "left_semi",
        )
        .crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                similarity.cosine_with_norms(
                    F.col("qv"), F.col("embedding"),
                    F.col("qnrm"), F.col("nrm"),
                ),
                6,
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    top3 = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .localCheckpoint()
    )
    a = top3.select(
        F.col("query_id").alias("id_a"),
        F.col("neighbor_id").alias("id_b"),
        F.col("rn").alias("rank_ab"),
        F.col("cos").alias("cos_ab"),
    )
    b = top3.select(
        F.col("neighbor_id").alias("id_a"),
        F.col("query_id").alias("id_b"),
        F.col("rn").alias("rank_ba"),
    )
    return (
        a.join(b, ["id_a", "id_b"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "rank_ab", "rank_ba", "cos_ab")
    )


def _mutual_knn_sql() -> str:
    cos = _COS_SQL.format(a="q.qv", b="e.embedding")
    return f"""
    WITH qs AS (
      SELECT vec_id AS query_id, embedding AS qv
      FROM embeddings WHERE vec_id % 25 = 0
    ),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id, {cos} AS cos
      FROM embeddings e CROSS JOIN qs q
      WHERE e.vec_id <> q.query_id
        AND e.vec_id % 25 = 0
    ),
    top3 AS (
      SELECT * FROM (
        SELECT query_id, neighbor_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC,
                                           neighbor_id ASC) AS rn
        FROM scored
      ) WHERE rn <= 3
    )
    SELECT a.query_id AS id_a, a.neighbor_id AS id_b,
           a.rn AS rank_ab, b.rn AS rank_ba, a.cos AS cos_ab
    FROM top3 a JOIN top3 b
      ON a.query_id = b.neighbor_id AND a.neighbor_id = b.query_id
    WHERE a.query_id < a.neighbor_id
    """


registry.register("mutual_knn_pairs", q_mutual_knn_pairs, _mutual_knn_sql())


# ---------------------------------------------------------------------------
# Rare-term TF-IDF cosine pairs (posting-list join, df-bounded)
# ---------------------------------------------------------------------------

_RARE_DF_MAX = 16


def q_rare_term_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document similarity pairs by TF-IDF-weighted cosine over RARE
    terms only (df ≤ 16): the classic posting-list self-join made
    scale-safe by construction — a token with df ≤ 16 contributes at
    most 120 pairs, so the join volume is Σ df² over rare tokens and
    common tokens (which IDF down-weights toward zero anyway) never
    enter the join at all. The lexical sibling of `minhash_lsh_pairs`
    (set overlap) and `embedding_neardup` (dense vectors): weighted
    exact similarity on the discriminative vocabulary.

    Exactness: per-(doc, token) weights are integer milli
    (tf · floor(ln(N/df)·1e3) — exact integer ratio inside the ln);
    dots and squared norms are exact BIGINT sums; the cosine is one
    double expression over three integers, rounded half-up."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tf = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    w = (
        tf.join(df.filter(F.col("df") <= _RARE_DF_MAX), "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            (
                F.col("tf")
                * F.floor(
                    F.log(
                        F.col("n_docs").cast("double")
                        / F.col("df").cast("double")
                    )
                    * 1000
                ).cast("long")
            ).alias("w_milli"),
        )
        .localCheckpoint()
    )
    norms = w.groupBy("doc_id").agg(
        F.sum(F.col("w_milli") * F.col("w_milli")).alias("norm2")
    )
    a = w.select(
        F.col("doc_id").alias("id_a"), "tok", F.col("w_milli").alias("wa")
    )
    b = w.select(
        F.col("doc_id").alias("id_b"), "tok", F.col("w_milli").alias("wb")
    )
    dots = (
        a.join(b, "tok")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count("*").alias("n_shared"),
            F.sum(F.col("wa") * F.col("wb")).alias("dot"),
        )
    )
    na = norms.select(F.col("doc_id").alias("id_a"), F.col("norm2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("id_b"), F.col("norm2").alias("nb2"))
    cos = F.floor(
        F.col("dot").cast("double")
        / F.sqrt(F.col("na2").cast("double") * F.col("nb2").cast("double"))
        * 1e6
        + 0.5
    ) / 1e6
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", "n_shared", cos.alias("cos"))
        .filter(F.col("cos") > 0.5)
    )


def _rare_cosine_sql() -> str:
    return f"""
    WITH tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
      ) GROUP BY 1, 2
    ),
    df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
    nd AS (SELECT COUNT(*) AS n_docs FROM documents),
    w AS (
      SELECT t.doc_id, t.tok,
             t.tf * CAST(FLOOR(LN(CAST(n.n_docs AS DOUBLE)
                                   / CAST(d.df AS DOUBLE)) * 1000)
                         AS BIGINT) AS w_milli
      FROM tf t
      JOIN df d ON t.tok = d.tok AND d.df <= {_RARE_DF_MAX}
      CROSS JOIN nd n
    ),
    norms AS (
      SELECT doc_id, SUM(w_milli * w_milli) AS norm2 FROM w GROUP BY 1
    ),
    dots AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             COUNT(*) AS n_shared,
             SUM(a.w_milli * b.w_milli) AS dot
      FROM w a JOIN w b
        ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT d.id_a, d.id_b, d.n_shared,
           FLOOR(CAST(d.dot AS DOUBLE)
                 / SQRT(CAST(na.norm2 AS DOUBLE)
                        * CAST(nb.norm2 AS DOUBLE)) * 1e6 + 0.5) / 1e6
             AS cos
    FROM dots d
    JOIN norms na ON d.id_a = na.doc_id
    JOIN norms nb ON d.id_b = nb.doc_id
    WHERE FLOOR(CAST(d.dot AS DOUBLE)
                / SQRT(CAST(na.norm2 AS DOUBLE)
                       * CAST(nb.norm2 AS DOUBLE)) * 1e6 + 0.5) / 1e6
          > 0.5
    """


registry.register(
    "rare_term_cosine_pairs",
    q_rare_term_cosine_pairs,
    _rare_cosine_sql(),
)


# ---------------------------------------------------------------------------
# kNN label-vote classifier accuracy (exact top-5, per-label report)
# ---------------------------------------------------------------------------


def q_knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN classification quality of the embedding space: for every
    10th vector under id 5000 (the cosine_topk driver-collect cap —
    the query sample must be O(1) w.r.t. the corpus), find its exact
    cosine top-5 among the rest of the corpus, predict the majority
    label of those neighbors (ties → smallest label id), and report
    per-true-label accuracy — the label-consistency probe run on
    every new embedding model before anyone trusts `cosine_topk`
    retrieval with it (high accuracy = the space clusters by label;
    near-chance = the labels are not linearly reachable and ANN
    serving won't help).

    Shapes: the scoring rides similarity.cosine_topk — ONE bounded
    query matrix against the corpus scan with per-partition partial
    top-5 and a lossless merge (never an unblocked self-join, and the
    matmul is one numpy pass per Arrow batch — the first cut computed
    2.5M cosines through interpreted higher-order lambdas, 8.5 s at
    sf0.1 vs ~1 s batched). Votes and the argmax are windows over
    ≤5-row groups; output is |labels| rows. Exactness: cosines are
    round(·,6) doubles (the cosine_topk convention); votes and
    accuracy are integers (acc_micro = correct·1e6 DIV n)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(
        (F.col("vec_id") % 10 == 0) & (F.col("vec_id") < 5000)
    )
    top5 = similarity.cosine_topk(emb, qs, k=5)
    nbr = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("nbr_label"),
    )
    qlbl = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
    )
    votes = (
        top5.join(F.broadcast(nbr), "neighbor_id")
        .join(F.broadcast(qlbl), "query_id")
        .groupBy("query_id", "true_label", "nbr_label")
        .agg(F.count("*").alias("v"))
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.col("v").desc(), F.col("nbr_label").asc()
    )
    pred = votes.withColumn("rk", F.row_number().over(wv)).filter(
        F.col("rk") == 1
    )
    return (
        pred.groupBy("true_label")
        .agg(
            F.count("*").alias("n_queries"),
            F.sum(
                (F.col("nbr_label") == F.col("true_label")).cast("long")
            ).alias("n_correct"),
        )
        .select(
            "true_label",
            "n_queries",
            "n_correct",
            F.expr("n_correct * 1000000 DIV n_queries").alias("acc_micro"),
        )
    )


def _knn_label_sql() -> str:
    cos = _COS_SQL.format(a="q.qv", b="e.embedding")
    return f"""
    WITH qs AS (
      SELECT vec_id AS query_id, embedding AS qv, label AS true_label
      FROM embeddings WHERE vec_id % 10 = 0 AND vec_id < 5000
    ),
    scored AS (
      SELECT q.query_id, q.true_label, e.label AS nbr_label,
             e.vec_id AS neighbor_id, {cos} AS cos
      FROM embeddings e CROSS JOIN qs q
      WHERE e.vec_id <> q.query_id
    ),
    top5 AS (
      SELECT * FROM (
        SELECT query_id, true_label, nbr_label,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC,
                                           neighbor_id ASC) AS rn
        FROM scored
      ) WHERE rn <= 5
    ),
    votes AS (
      SELECT query_id, true_label, nbr_label, COUNT(*) AS v
      FROM top5 GROUP BY 1, 2, 3
    ),
    pred AS (
      SELECT * FROM (
        SELECT query_id, true_label, nbr_label,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY v DESC, nbr_label ASC) AS rk
        FROM votes
      ) WHERE rk = 1
    )
    SELECT true_label, COUNT(*) AS n_queries,
           SUM(CAST(nbr_label = true_label AS BIGINT)) AS n_correct,
           CAST(SUM(CAST(nbr_label = true_label AS BIGINT)) * 1000000
                // COUNT(*) AS BIGINT) AS acc_micro
    FROM pred GROUP BY 1
    """


registry.register("knn_label_accuracy", q_knn_label_accuracy, _knn_label_sql())


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss sign-projection distortion audit
# ---------------------------------------------------------------------------

_JL_K = 16


def _jl_sign(p: int, j: int) -> int:
    """±1 sign for JL plane p, dim j — same fixed LCG family as
    HP_WEIGHTS (similarity._hp_weight) so Spark and the oracle share
    byte-identical projection matrices. The sign reads bit 16, NOT
    the LCG's low bit: an LCG mod 2³¹ alternates its low bit with
    period 2 in the seed, which would make all 16 sign rows identical
    (a rank-1 'projection' — caught by test_jl_distortion)."""
    x = (1103515245 * (p * 64 + j + 1000001) + 12345) % 2147483648
    return 1 if (x >> 16) % 2 == 0 else -1


_JL_SIGNS: list[list[int]] = [
    [_jl_sign(p, j) for j in range(64)] for p in range(_JL_K)
]


def q_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss distortion audit: project the 64-dim
    embeddings to 16 dims with a fixed ±1 sign matrix (Achlioptas'
    database-friendly JL) and report, for a deterministic pair sample
    (vec_id ≡ 0 mod 7 paired with its successor), the ratio of
    projected to original squared L2 distance — the go/no-go check
    before swapping the 4×-cheaper projected vectors into the ANN
    index (`hyperplane_lsh_pairs` et al.): if the distortion band is
    loose on YOUR corpus, the dimension cut is not free.

    Exactness: vectors quantize to 1e-6 BIGINTs (the HP_WEIGHTS
    idiom); projections are one int64 ±1 matmul per Arrow batch and
    both squared distances are pure int64 sums — the distortion ratio
    is the single float division, `_r6`-bounded. A sign-matrix
    projection can never flip with batch order or engine.

    Scale: projection is a map-only stage (zero shuffle); the pair
    sample joins on vec_id (broadcast-sized here, hash join at scale);
    distances are in-row array math — nothing widens with corpus²."""
    import numpy as np  # noqa: PLC0415

    emb = load_table(spark, sf_dir, "embeddings")
    s_t = np.array(_JL_SIGNS, dtype=np.int64).T  # (64, k)

    def project(batches):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            if not len(pdf):
                continue
            v = np.array(list(pdf["embedding"]), dtype="float64") * 1e6
            q = (np.floor(np.abs(v) + 0.5) * np.sign(v)).astype(np.int64)
            proj = q @ s_t  # exact int64, (n, k)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "q": list(q),
                    "proj": list(proj),
                }
            )

    # Both pair sides read the projected table — materialize it once
    # (the enumerate_triangles disposition) so the Arrow matmul stage
    # runs a single time instead of once per join branch.
    pq = (
        spread(emb.select("vec_id", "embedding"))
        .mapInPandas(project, "vec_id long, q array<long>, proj array<long>")
        .localCheckpoint()
    )
    a = pq.filter(F.col("vec_id") % 7 == 0).select(
        F.col("vec_id").alias("id_a"),
        F.col("q").alias("qa"),
        F.col("proj").alias("pa"),
    )
    b = pq.select(
        (F.col("vec_id") - 1).alias("join_id"),
        F.col("vec_id").alias("id_b"),
        F.col("q").alias("qb"),
        F.col("proj").alias("pb"),
    )
    pairs = a.join(b, a["id_a"] == b["join_id"])
    sq_sum = lambda x, y: F.aggregate(  # noqa: E731
        F.zip_with(x, y, lambda u, v: (u - v) * (u - v)),
        F.lit(0).cast("long"),
        lambda acc, e: acc + e,
    )
    d_orig = sq_sum(F.col("qa"), F.col("qb"))
    d_proj = sq_sum(F.col("pa"), F.col("pb"))
    return pairs.select(
        "id_a",
        "id_b",
        d_orig.alias("d_orig_q2"),
        d_proj.alias("d_proj_q2"),
        _r6(
            (d_proj.cast("double") / F.lit(float(_JL_K)))
            / d_orig.cast("double")
        ).alias("distortion"),
    )


def _jl_sql() -> str:
    proj_terms = ",\n             ".join(
        "list_sum(list_transform(list_zip(q, ["
        + ", ".join(str(v) for v in _JL_SIGNS[p])
        + "]), z -> z[1] * z[2]))"
        for p in range(_JL_K)
    )
    return f"""
    WITH qv AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
      FROM embeddings
    ),
    pq AS (
      SELECT vec_id, q,
             [{proj_terms}] AS proj
      FROM qv
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             a.q AS qa, b.q AS qb, a.proj AS pa, b.proj AS pb
      FROM pq a JOIN pq b ON b.vec_id = a.vec_id + 1
      WHERE a.vec_id % 7 = 0
    )
    SELECT id_a, id_b,
           list_sum(list_transform(list_zip(qa, qb),
             z -> (z[1] - z[2]) * (z[1] - z[2]))) AS d_orig_q2,
           list_sum(list_transform(list_zip(pa, pb),
             z -> (z[1] - z[2]) * (z[1] - z[2]))) AS d_proj_q2,
           FLOOR((CAST(list_sum(list_transform(list_zip(pa, pb),
                    z -> (z[1] - z[2]) * (z[1] - z[2]))) AS DOUBLE)
                  / {float(_JL_K)!r})
                 / CAST(list_sum(list_transform(list_zip(qa, qb),
                    z -> (z[1] - z[2]) * (z[1] - z[2]))) AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS distortion
    FROM pairs
    """


registry.register("jl_distortion", q_jl_distortion, _jl_sql())


# ---------------------------------------------------------------------------
# LSH (bands x rows) parameter tuner — exact S-curve integrals
# ---------------------------------------------------------------------------

# candidate (bands, rows_per_band) designs, all <= 64 hashes
_LSH_CONFIGS = [(2, 32), (4, 16), (8, 8), (16, 4), (32, 2), (4, 8), (8, 4), (16, 2)]
_LSH_THRESH = 0.7


def _mul_chain(x: str, n: int) -> str:
    """n-fold product as a left-associated literal chain — identical
    IEEE tree on both engines, no libm POW anywhere."""
    return "(" + " * ".join([x] * n) + ")"


def _lsh_p_expr(b: int, r: int) -> str:
    """Collision probability 1 - (1 - s^r)^b as a pure multiplication
    chain over the grid column ``s``."""
    sr = _mul_chain("s", r)
    return f"1.0 - {_mul_chain(f'(1.0 - {sr})', b)}"


def q_lsh_param_tuner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Design-time tuner for the MinHash banding scheme: for each
    candidate (bands b, rows r) the false-positive area ∫₀ᵗ p(s) ds
    and false-negative area ∫ᵗ¹ (1−p(s)) ds of the S-curve
    p(s) = 1−(1−sʳ)ᵇ at the target Jaccard threshold t = 0.7 — the
    closed-form answer to "which banding should `minhash_lsh_pairs`
    ship" (`minhash_calibration` measures the curve empirically; this
    integrates it analytically, so the two cross-check each other).

    Exactness: every p(s) is a pure multiplication chain (sʳ and
    (1−sʳ)ᵇ unrolled — no libm POW, whose last-ulp behavior differs
    across engines) over exactly-representable grid ordinates
    s = (k+½)/100; each midpoint-rule term is quantized to 1e-12
    BEFORE the per-config sum, so the integrals are exact integer
    arithmetic. The recommendation rank is then deterministic.

    Scale: the whole computation is an 800-row constant dimension —
    it reads no fact table at all (the design step runs BEFORE the
    100 TB job it configures)."""
    grid = spark.range(0, 100).select(
        ((F.col("id").cast("double") + F.lit(0.5)) / F.lit(100.0)).alias(
            "s"
        )
    )
    parts = []
    for b, r in _LSH_CONFIGS:
        parts.append(
            grid.select(
                F.lit(b).alias("bands"),
                F.lit(r).alias("rows_per_band"),
                "s",
                F.expr(_lsh_p_expr(b, r)).alias("p"),
            )
        )
    allp = parts[0]
    for df in parts[1:]:
        allp = allp.unionAll(df)
    fp_term = F.when(
        F.col("s") < F.lit(_LSH_THRESH), F.col("p") * F.lit(0.01)
    ).otherwise(F.lit(0.0))
    fn_term = F.when(
        F.col("s") >= F.lit(_LSH_THRESH),
        (F.lit(1.0) - F.col("p")) * F.lit(0.01),
    ).otherwise(F.lit(0.0))
    quant = allp.select(
        "bands",
        "rows_per_band",
        F.floor(fp_term * F.lit(1.0e12) + F.lit(0.5))
        .cast("long")
        .alias("fp_pico"),
        F.floor(fn_term * F.lit(1.0e12) + F.lit(0.5))
        .cast("long")
        .alias("fn_pico"),
    )
    agg = quant.groupBy("bands", "rows_per_band").agg(
        F.sum("fp_pico").alias("fp_p"), F.sum("fn_pico").alias("fn_p")
    )
    w = Window.orderBy(
        (F.col("fp_p") + F.col("fn_p")).asc(),
        (F.col("bands") * F.col("rows_per_band")).asc(),
        F.col("bands").asc(),
    )
    return agg.select(
        F.col("bands").cast("long").alias("bands"),
        F.col("rows_per_band").cast("long").alias("rows_per_band"),
        (F.col("bands") * F.col("rows_per_band"))
        .cast("long")
        .alias("n_hashes"),
        _r6(F.col("fp_p").cast("double") / F.lit(1.0e12)).alias("fp_area"),
        _r6(F.col("fn_p").cast("double") / F.lit(1.0e12)).alias("fn_area"),
        _r6(
            (F.col("fp_p") + F.col("fn_p")).cast("double") / F.lit(1.0e12)
        ).alias("total_err"),
        (F.row_number().over(w) == 1).alias("is_recommended"),
    )


def _lsh_tuner_sql() -> str:
    branches = []
    for b, r in _LSH_CONFIGS:
        branches.append(
            f"""SELECT {b} AS bands, {r} AS rows_per_band, s,
             {_lsh_p_expr(b, r)} AS p
      FROM grid"""
        )
    union = "\n      UNION ALL\n      ".join(branches)
    return f"""
    WITH grid AS (
      SELECT (CAST(k AS DOUBLE) + 0.5) / 100.0 AS s
      FROM (SELECT UNNEST(range(0, 100)) AS k)
    ),
    allp AS (
      {union}
    ),
    quant AS (
      SELECT bands, rows_per_band,
             CAST(FLOOR(CASE WHEN s < {_LSH_THRESH}
                             THEN p * 0.01 ELSE 0.0 END
                        * 1.0e12 + 0.5) AS BIGINT) AS fp_pico,
             CAST(FLOOR(CASE WHEN s >= {_LSH_THRESH}
                             THEN (1.0 - p) * 0.01 ELSE 0.0 END
                        * 1.0e12 + 0.5) AS BIGINT) AS fn_pico
      FROM allp
    ),
    agg AS (
      SELECT bands, rows_per_band, SUM(fp_pico) AS fp_p,
             SUM(fn_pico) AS fn_p
      FROM quant GROUP BY 1, 2
    )
    SELECT CAST(bands AS BIGINT) AS bands,
           CAST(rows_per_band AS BIGINT) AS rows_per_band,
           CAST(bands * rows_per_band AS BIGINT) AS n_hashes,
           FLOOR(CAST(fp_p AS DOUBLE) / 1.0e12 * 1000000.0 + 0.5)
             / 1000000.0 AS fp_area,
           FLOOR(CAST(fn_p AS DOUBLE) / 1.0e12 * 1000000.0 + 0.5)
             / 1000000.0 AS fn_area,
           FLOOR(CAST(fp_p + fn_p AS DOUBLE) / 1.0e12 * 1000000.0 + 0.5)
             / 1000000.0 AS total_err,
           ROW_NUMBER() OVER (ORDER BY fp_p + fn_p ASC,
                              bands * rows_per_band ASC, bands ASC) = 1
             AS is_recommended
    FROM agg
    """


registry.register("lsh_param_tuner", q_lsh_param_tuner, _lsh_tuner_sql())


# ---------------------------------------------------------------------------
# ARI readability profile per language
# ---------------------------------------------------------------------------


def q_readability_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automated Readability Index per language: ARI = 4.71·(chars/
    words) + 0.5·(words/sentences) − 21.43, the syllable-free
    readability formula (Flesch needs syllable counts — a dictionary
    problem; ARI is pure counting, which is why data pipelines use it
    for quality gates next to `gopher_quality`'s stopword/length
    heuristics).

    Exactness: chars, words (split on space), and sentences
    (terminator count, floored at 1) are exact integers per doc; each
    per-doc ARI is a fixed literal-coefficient expression, quantized
    to micro BEFORE the per-language mean, so the group sums are
    exact integers and the mean is one division. `_r6`-bounded.

    Scale: in-row string ops + one combinable groupBy — zero-shuffle
    until the |langs|-row rollup."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.size(F.split(F.col("text"), " "))
    chars = F.length(F.regexp_replace(F.col("text"), " ", ""))
    sentences = F.greatest(
        F.lit(1),
        F.length(F.col("text"))
        - F.length(F.regexp_replace(F.col("text"), "[.!?]", "")),
    )
    ari = (
        F.lit(4.71) * (chars.cast("double") / words.cast("double"))
        + F.lit(0.5) * (words.cast("double") / sentences.cast("double"))
        - F.lit(21.43)
    )
    per_doc = docs.select(
        "lang",
        words.alias("w"),
        F.floor(ari * F.lit(1.0e6) + F.lit(0.5)).cast("long").alias(
            "ari_micro"
        ),
    )
    g = per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("w").alias("n_words"),
        F.sum("ari_micro").alias("s_ari"),
    )
    return g.select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_words").cast("long").alias("n_words"),
        _r6(
            F.col("s_ari").cast("double")
            / F.col("n_docs").cast("double")
            / F.lit(1.0e6)
        ).alias("mean_ari"),
    )


registry.register(
    "readability_ari",
    q_readability_ari,
    """
    WITH per_doc AS (
      SELECT lang,
             len(string_split(text, ' ')) AS w,
             CAST(FLOOR((4.71 * (CAST(length(replace(text, ' ', ''))
                                      AS DOUBLE)
                                 / CAST(len(string_split(text, ' '))
                                        AS DOUBLE))
                         + 0.5 * (CAST(len(string_split(text, ' '))
                                       AS DOUBLE)
                                  / CAST(GREATEST(1,
                                      length(text)
                                      - length(regexp_replace(text,
                                          '[.!?]', '', 'g'))) AS DOUBLE))
                         - 21.43) * 1.0e6 + 0.5) AS BIGINT) AS ari_micro
      FROM documents
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(w) AS BIGINT) AS n_words,
           FLOOR(CAST(SUM(ari_micro) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) / 1.0e6
                 * 1000000.0 + 0.5) / 1000000.0 AS mean_ari
    FROM per_doc GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# Chao1 unseen-vocabulary estimate + Good-Turing discount table
# ---------------------------------------------------------------------------


def q_chao1_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 species-richness estimate of the corpus vocabulary:
    D + f₁(f₁−1)/(2(f₂+1)) from the frequency-of-frequencies — "how
    many token types exist that this sample never saw", the
    collection-planning number behind `heaps_law_curve` (Heaps says
    vocabulary still grows; Chao1 says by how much), with the sample
    coverage estimate 1 − f₁/N alongside.

    Exactness: the frequency-of-frequencies table is two nested exact
    counts; both estimators are single divisions on exact integers,
    `_r6`-bounded. Scale: token explode → two combinable groupBys;
    the f-of-f table is tiny (≤ max count distinct values)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    per_w = tok.groupBy("w").agg(F.count("*").alias("r"))
    fof = per_w.groupBy("r").agg(F.count("*").alias("f"))
    agg = fof.agg(
        F.sum("f").alias("d_obs"),
        F.sum(F.col("r") * F.col("f")).alias("n_tokens"),
        F.sum(F.when(F.col("r") == 1, F.col("f")).otherwise(0)).alias(
            "f1"
        ),
        F.sum(F.when(F.col("r") == 2, F.col("f")).otherwise(0)).alias(
            "f2"
        ),
    )
    f1d = F.col("f1").cast("double")
    f2d = F.col("f2").cast("double")
    chao1 = F.col("d_obs").cast("double") + f1d * (f1d - 1) / (
        F.lit(2.0) * (f2d + 1)
    )
    coverage = F.lit(1.0) - f1d / F.col("n_tokens").cast("double")
    return agg.select(
        F.col("d_obs").cast("long").alias("d_obs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("f1").cast("long").alias("f1"),
        F.col("f2").cast("long").alias("f2"),
        _r6(chao1).alias("chao1_est"),
        _r6(coverage).alias("coverage"),
    )


registry.register(
    "chao1_richness",
    q_chao1_richness,
    """
    WITH tok AS (
      SELECT UNNEST(string_split(text, ' ')) AS w FROM documents
    ),
    per_w AS (
      SELECT w, COUNT(*) AS r FROM tok WHERE w <> '' GROUP BY 1
    ),
    fof AS (SELECT r, COUNT(*) AS f FROM per_w GROUP BY 1),
    agg AS (
      SELECT SUM(f) AS d_obs, SUM(r * f) AS n_tokens,
             SUM(CASE WHEN r = 1 THEN f ELSE 0 END) AS f1,
             SUM(CASE WHEN r = 2 THEN f ELSE 0 END) AS f2
      FROM fof
    )
    SELECT CAST(d_obs AS BIGINT) AS d_obs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(f1 AS BIGINT) AS f1, CAST(f2 AS BIGINT) AS f2,
           FLOOR((CAST(d_obs AS DOUBLE)
                  + CAST(f1 AS DOUBLE) * (CAST(f1 AS DOUBLE) - 1)
                    / (2.0 * (CAST(f2 AS DOUBLE) + 1)))
                 * 1000000.0 + 0.5) / 1000000.0 AS chao1_est,
           FLOOR((1.0 - CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS coverage
    FROM agg
    """,
)


def q_good_turing_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing adjusted counts r* = (r+1)·N_{r+1}/N_r for the
    low-frequency vocabulary (r ≤ 10) — the smoothing table
    `kneser_ney_bigram`'s absolute discount approximates with a
    constant: GT reads the discount off the frequency-of-frequencies
    itself, and the r*-vs-r gap per row IS the empirical discount
    curve. "Low-frequency" is the 10 SMALLEST observed counts (a rank
    rule — a fixed r ≤ 10 cut goes empty on corpora whose rarest
    token still repeats, e.g. tiny SFs). Rows with no successor count
    (N_{r+1} = 0) surface as NULL r* — the sparse-tail failure GT is
    known for, reported honestly rather than interpolated away.

    Exactness: N_r are exact counts; each r* is one division on
    exact integers (LEAD over the r-ordered f-of-f table),
    `_r6`-bounded. Scale: the f-of-f table is max-count-sized."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    per_w = tok.groupBy("w").agg(F.count("*").alias("r"))
    fof = per_w.groupBy("r").agg(F.count("*").alias("n_r"))
    w = Window.orderBy("r")
    t = fof.select(
        "r",
        "n_r",
        F.when(F.lead("r").over(w) == F.col("r") + 1, F.lead("n_r").over(w))
        .otherwise(F.lit(None))
        .alias("n_r1"),
        F.row_number().over(w).alias("r_rank"),
    ).filter(F.col("r_rank") <= 10)
    rstar = (
        (F.col("r") + 1).cast("double")
        * F.col("n_r1").cast("double")
        / F.col("n_r").cast("double")
    )
    return t.select(
        F.col("r").cast("long").alias("r"),
        F.col("n_r").cast("long").alias("n_r"),
        F.col("n_r1").cast("long").alias("n_r_plus_1"),
        _r6(rstar).alias("r_star"),
        _r6(F.col("r").cast("double") - rstar).alias("gt_discount"),
    )


registry.register(
    "good_turing_counts",
    q_good_turing_counts,
    """
    WITH tok AS (
      SELECT UNNEST(string_split(text, ' ')) AS w FROM documents
    ),
    per_w AS (
      SELECT w, COUNT(*) AS r FROM tok WHERE w <> '' GROUP BY 1
    ),
    fof AS (SELECT r, COUNT(*) AS n_r FROM per_w GROUP BY 1),
    t AS (
      SELECT r, n_r,
             CASE WHEN LEAD(r) OVER (ORDER BY r) = r + 1
                  THEN LEAD(n_r) OVER (ORDER BY r) END AS n_r1,
             ROW_NUMBER() OVER (ORDER BY r) AS r_rank
      FROM fof
    )
    SELECT CAST(r AS BIGINT) AS r, CAST(n_r AS BIGINT) AS n_r,
           CAST(n_r1 AS BIGINT) AS n_r_plus_1,
           FLOOR(CAST(r + 1 AS DOUBLE) * CAST(n_r1 AS DOUBLE)
                 / CAST(n_r AS DOUBLE) * 1000000.0 + 0.5)
             / 1000000.0 AS r_star,
           FLOOR((CAST(r AS DOUBLE)
                  - CAST(r + 1 AS DOUBLE) * CAST(n_r1 AS DOUBLE)
                    / CAST(n_r AS DOUBLE)) * 1000000.0 + 0.5)
             / 1000000.0 AS gt_discount
    FROM t WHERE r_rank <= 10
    """,
)


# ---------------------------------------------------------------------------
# Leave-one-source-out vocabulary value
# ---------------------------------------------------------------------------


def q_source_loo_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-valuation probe: each source's leave-one-out contribution
    to corpus vocabulary — the distinct token types that would VANISH
    if the source were dropped (types exclusive to it) — the
    cheap-but-honest first cut of data valuation (`shapley_attribution`
    prices interaction effects; LOO prices marginal uniqueness, and
    for coverage-style value functions LOO(s) IS the exact Shapley
    term for types held by one source).

    Exactness: pure distinct counting — token×source incidence, each
    token's source count, exclusives per source; the share is the one
    division. Scale: one explode + two combinable groupBys; the
    total-minus-self identity means NO per-source re-scan of the
    corpus (the jackknife_ratio_se disposition)."""
    docs = load_table(spark, sf_dir, "documents")
    inc = (
        docs.select(
            "source", F.explode(F.split(F.col("text"), " ")).alias("w")
        )
        .filter(F.col("w") != "")
        .distinct()
    )
    per_w = inc.groupBy("w").agg(F.count("*").alias("n_sources"))
    vocab = per_w.agg(F.count("*").alias("vocab_total"))
    excl = (
        inc.join(per_w, "w")
        .filter(F.col("n_sources") == 1)
        .groupBy("source")
        .agg(F.count("*").alias("n_exclusive"))
    )
    base = inc.groupBy("source").agg(F.count("*").alias("n_types"))
    return (
        base.join(excl, "source", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "source",
            F.col("n_types").cast("long").alias("n_types"),
            F.coalesce(F.col("n_exclusive"), F.lit(0))
            .cast("long")
            .alias("n_exclusive"),
            F.col("vocab_total").cast("long").alias("vocab_total"),
            _r6(
                F.coalesce(F.col("n_exclusive"), F.lit(0)).cast("double")
                / F.col("vocab_total").cast("double")
            ).alias("loo_vocab_loss"),
        )
    )


registry.register(
    "source_loo_value",
    q_source_loo_value,
    """
    WITH inc AS (
      SELECT DISTINCT source, w FROM (
        SELECT source, UNNEST(string_split(text, ' ')) AS w
        FROM documents
      ) WHERE w <> ''
    ),
    per_w AS (SELECT w, COUNT(*) AS n_sources FROM inc GROUP BY 1),
    vocab AS (SELECT COUNT(*) AS vocab_total FROM per_w),
    excl AS (
      SELECT i.source, COUNT(*) AS n_exclusive
      FROM inc i JOIN per_w p ON i.w = p.w
      WHERE p.n_sources = 1
      GROUP BY 1
    ),
    base AS (SELECT source, COUNT(*) AS n_types FROM inc GROUP BY 1)
    SELECT b.source, CAST(b.n_types AS BIGINT) AS n_types,
           CAST(COALESCE(e.n_exclusive, 0) AS BIGINT) AS n_exclusive,
           CAST(v.vocab_total AS BIGINT) AS vocab_total,
           FLOOR(CAST(COALESCE(e.n_exclusive, 0) AS DOUBLE)
                 / CAST(v.vocab_total AS DOUBLE) * 1000000.0 + 0.5)
             / 1000000.0 AS loo_vocab_loss
    FROM base b LEFT JOIN excl e ON b.source = e.source
    CROSS JOIN vocab v
    """,
)


# ---------------------------------------------------------------------------
# Blocked edit-distance near-dup (fuzzy dedup, levenshtein surface)
# ---------------------------------------------------------------------------


def q_dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-duplicate pairs under BLOCKING — the fuzzy
    tier between exact-hash dedup and MinHash: candidate pairs only
    within (source, byte-length bucket) blocks, scored by Levenshtein
    distance on a fixed 48-char prefix, kept when <= 16 edits.

    Scale: the self-join is an EQUI-join on the block key (no
    all-pairs — the classic dedup blocking strategy), a<b
    canonicalization halves the pairs, and the O(L^2) distance runs
    on the bounded prefix, not the document. Spark's levenshtein and
    DuckDB's levenshtein are both the classic unit-cost edit
    distance, so the scores are engine-identical integers. Real
    corpora tune block width / prefix / threshold; the shape is what
    scales (same blocked equi-join plan as minhash_lsh_pairs)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        (F.octet_length("text") / 32).cast("long").alias("lb"),
        F.substring("text", 1, 48).alias("pfx"),
    )
    a = docs.select(
        F.col("doc_id").alias("id_a"),
        F.col("source").alias("src"),
        F.col("lb").alias("lb"),
        F.col("pfx").alias("pfx_a"),
    )
    b = docs.select(
        F.col("doc_id").alias("id_b"),
        F.col("source").alias("src"),
        F.col("lb").alias("lb"),
        F.col("pfx").alias("pfx_b"),
    )
    pairs = (
        a.join(b, on=["src", "lb"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dist", F.levenshtein("pfx_a", "pfx_b"))
        .filter(F.col("dist") <= 16)
    )
    return pairs.select(
        "id_a", "id_b", "src", F.col("dist").cast("long").alias("edit_dist")
    )


registry.register(
    "dedup_levenshtein",
    q_dedup_levenshtein,
    """
    WITH d AS (
      SELECT doc_id, source, strlen(text) // 32 AS lb,
             substring(text, 1, 48) AS pfx
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.source AS src,
           CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS edit_dist
    FROM d a JOIN d b
      ON a.source = b.source AND a.lb = b.lb AND a.doc_id < b.doc_id
    WHERE levenshtein(a.pfx, b.pfx) <= 16
    """,
)


# ---------------------------------------------------------------------------
# ROUGE-L (LCS) similarity between paired documents
# ---------------------------------------------------------------------------

_LCS_SCHEMA = (
    "pair_id long, n_a int, n_b int, lcs_len int, rouge_f double"
)


def q_lcs_rouge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-L between fixed document pairs (doc 2k vs doc 2k+1 for
    doc_id < 40): longest-common-subsequence length over the first 30
    whitespace tokens and the F-measure 2L/(n_a+n_b) -- the
    order-aware overlap metric eval harnesses report next to n-gram
    overlap (`ngram_jaccard` ignores order; LCS rewards preserved
    sequence). The pair set is a pushed-down doc_id predicate -- no
    per-source window touches the corpus.

    LCS is a genuine O(n*m) sequential recurrence, so the Spark side
    is an honest Arrow-batched applyInPandas per pair (30x30 integer
    DP; the same documented tier as `dtw_band_distance`), and the
    oracle replays it as a recursive CTE over ANTI-DIAGONALS: diag d
    depends only on diags d-1/d-2, so each step is one
    list_transform with no within-step dependency (the trick that
    avoids DTW's chained LATERALs). All DP state is integer; the
    single float is the final F-measure, floor-quantized identically
    on both sides."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.slice(F.split(F.col("text"), " "), 1, 30).alias("toks"),
    ).filter(F.col("doc_id") < 40)
    pairs = docs.select(
        F.expr("doc_id div 2").alias("pair_id"),
        (F.col("doc_id") % 2).cast("int").alias("side"),
        "toks",
    )

    def lcs_group(pdf):
        import math  # noqa: PLC0415 -- worker-side import

        import pandas as pd  # noqa: PLC0415

        sides = {int(r.side): list(r.toks) for r in pdf.itertuples()}
        if 0 not in sides or 1 not in sides:
            return pd.DataFrame(
                columns=["pair_id", "n_a", "n_b", "lcs_len", "rouge_f"]
            )
        a, b = sides[0], sides[1]
        n, m = len(a), len(b)
        prev = [0] * (m + 1)
        for i in range(1, n + 1):
            cur = [0] * (m + 1)
            ai = a[i - 1]
            for j in range(1, m + 1):
                if ai == b[j - 1]:
                    cur[j] = prev[j - 1] + 1
                else:
                    cur[j] = cur[j - 1] if cur[j - 1] >= prev[j] else prev[j]
            prev = cur
        lcs = prev[m]
        rouge = math.floor(2.0 * lcs / (n + m) * 1000000.0 + 0.5) / 1000000.0
        return pd.DataFrame(
            {
                "pair_id": [int(pdf["pair_id"].iloc[0])],
                "n_a": [n],
                "n_b": [m],
                "lcs_len": [lcs],
                "rouge_f": [rouge],
            }
        )

    return (
        pairs.groupBy("pair_id")
        .applyInPandas(lcs_group, _LCS_SCHEMA)
        .orderBy("pair_id")
    )


registry.register(
    "lcs_rouge",
    q_lcs_rouge,
    """
    WITH RECURSIVE docs AS (
      SELECT doc_id, string_split(text, ' ')[1:30] AS toks
      FROM documents WHERE doc_id < 40
    ),
    pairs AS (
      SELECT a.doc_id // 2 AS pair_id, a.toks AS ta, b.toks AS tb
      FROM docs a JOIN docs b ON b.doc_id = a.doc_id + 1
      WHERE a.doc_id % 2 = 0
    ),
    base AS (
      SELECT pair_id, ta, tb,
             CAST(len(ta) AS INT) AS n, CAST(len(tb) AS INT) AS m,
             1 AS d,
             list_transform(range(0, CAST(len(ta) AS INT) + 1),
                            x -> 0) AS prev,
             list_transform(range(0, CAST(len(ta) AS INT) + 1),
                            x -> 0) AS cur
      FROM pairs
    ),
    rec AS (
      SELECT * FROM base
      UNION ALL
      SELECT pair_id, ta, tb, n, m, d + 1 AS d,
             cur AS prev,
             list_transform(range(0, n + 1), i -> CASE
               WHEN i = 0 OR d + 1 - i <= 0 OR d + 1 - i > m THEN 0
               ELSE greatest(
                 cur[i],
                 cur[i + 1],
                 prev[i] + CASE WHEN ta[i] = tb[d + 1 - i]
                                THEN 1 ELSE 0 END)
             END) AS cur
      FROM rec WHERE d < n + m
    )
    SELECT pair_id,
           n AS n_a, m AS n_b,
           CAST(cur[n + 1] AS INT) AS lcs_len,
           FLOOR(2.0 * cur[n + 1] / (n + m) * 1000000.0 + 0.5)
             / 1000000.0 AS rouge_f
    FROM rec WHERE d = n + m
    ORDER BY pair_id
    """,
)
