"""Text analysis operators: tokenization, counting, quality scoring,
language ID, document fingerprinting.

All pure column expressions (JVM-side, codegen) — at 100 TB these run
inside the parquet scan stage with zero shuffles; only per-document
state, no cross-document dependencies.

Portability note for the DuckDB oracles: every hash used here is either
``md5`` (bit-identical across engines) or explicit integer arithmetic —
never an engine's internal ``hash()``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Small in-expression stopword lists per language (public common words).
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "mit", "von", "nicht"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "de", "que", "pour"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "de", "que", "por"],
}

_PUNCT = ".,!?;:'\"()[]{}"


def tokens(text: Column) -> Column:
    """Whitespace tokenization (the baseline tokenizer; BPE-ish regex
    variant in :func:`bpe_ish_token_count`)."""
    return F.split(F.trim(text), r"\s+")


# SQL oracle twin of :func:`tokens` over a ``text`` column.
TOKENS_SQL = "string_split_regex(trim(text), '\\s+')"


def token_rows(docs: DataFrame) -> DataFrame:
    """One row per non-empty whitespace token: (doc_id, source, w)."""
    return docs.select(
        "doc_id", "source", F.explode(tokens(F.col("text"))).alias("w")
    ).filter(F.length("w") > 0)


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """Approximate BPE token count: word pieces + digits + punctuation
    as separate tokens (a common ~4-chars-per-token heuristic is
    ``n_chars/4``; this regex count is sharper and still pure SQL)."""
    return F.size(
        F.regexp_extract_all(text, F.lit(r"[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]"), 0)
    )


def punct_ratio(text: Column) -> Column:
    """Punctuation chars / total chars (0 for empty)."""
    n = F.length(text)
    punct = n - F.length(F.translate(text, _PUNCT, ""))
    return F.when(n > 0, punct / n).otherwise(F.lit(0.0))


def stopword_count(text: Column, lang: str = "en") -> Column:
    """Count of stopword tokens — native higher-order functions (no
    SQL-string round trip), so ``text`` may be ANY column expression,
    not just a bare column reference."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tokens(text), lambda t: F.array_contains(sw, t)))


def mean_token_length(text: Column) -> Column:
    toks = tokens(text)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    return F.when(F.size(toks) > 0, total / F.size(toks))


def quality_score(text: Column, lang: str = "en") -> Column:
    """Composite quality heuristic in [0, ~1]: rewards moderate length,
    low punctuation density, presence of stopwords, sane word lengths.
    Weights are fixed and documented so the oracle can mirror exactly::

        0.25 * min(n_tokens, 100)/100
      + 0.25 * (1 - min(punct_ratio*5, 1))
      + 0.25 * min(stopword_ratio*5, 1)
      + 0.25 * (1 - min(abs(mean_token_len - 5)/5, 1))
    """
    n_tok = token_count(text).cast("double")
    sw = stopword_count(text, lang).cast("double")
    mtl = mean_token_length(text)
    return (
        0.25 * F.least(n_tok, F.lit(100.0)) / 100.0
        + 0.25 * (1.0 - F.least(punct_ratio(text) * 5.0, F.lit(1.0)))
        + 0.25 * F.least(F.when(n_tok > 0, sw / n_tok).otherwise(0.0) * 5.0, F.lit(1.0))
        + 0.25 * (1.0 - F.least(F.abs(mtl - 5.0) / 5.0, F.lit(1.0)))
    )


def lang_scores(text: Column) -> dict[str, Column]:
    """Stopword-hit count per candidate language (n-gram-free heuristic
    suited to whitespace languages; a char-n-gram profile would slot in
    the same way)."""
    return {lang: stopword_count(text, lang) for lang in STOPWORDS}


def lang_id(text: Column) -> Column:
    """argmax language with deterministic tie order en > de > fr > es;
    all-zero scores → 'und' (undetermined)."""
    s = lang_scores(text)
    en, de, fr, es = s["en"], s["de"], s["fr"], s["es"]
    return (
        F.when((en == 0) & (de == 0) & (fr == 0) & (es == 0), F.lit("und"))
        .when((en >= de) & (en >= fr) & (en >= es), F.lit("en"))
        .when((de >= fr) & (de >= es), F.lit("de"))
        .when(fr >= es, F.lit("fr"))
        .otherwise(F.lit("es"))
    )


def doc_fingerprint_from_tokens(toks: Column, n: int = 3) -> Column:
    """Document fingerprint from a *materialized* token-array column:
    minimum md5 over word n-gram windows (a rolling-hash winnowing
    scheme with window = whole doc). Stable across engines (md5 is md5
    everywhere); string min is lexicographic byte order in both Spark
    and DuckDB for hex strings.

    Near-identical docs that share their minimal n-gram collide — the
    cheap first-pass near-dup key (reference has nothing comparable;
    this is north-star surface).

    Take the tokens as a bound column, not an inline ``split``:
    Spark does not common-subexpression-eliminate across higher-order
    lambda bodies, so an inline tokenizer would re-split the text once
    per window (O(len²) per doc — measured 4× slower at sf0.1).
    """
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return F.array_min(F.transform(grams, lambda g: F.md5(g)))


def doc_fingerprint(text: Column, n: int = 3) -> Column:
    """Convenience form over raw text — prefer projecting
    ``tokens(text)`` into a column first and calling
    :func:`doc_fingerprint_from_tokens` (see its note on lambda CSE)."""
    return doc_fingerprint_from_tokens(tokens(text), n)


# ---------------------------------------------------------------------------
# Gopher-style repetition / quality rules
# ---------------------------------------------------------------------------


def gopher_repetition(df, text_col: str = "text", id_col: str = "doc_id"):
    """Per-document repetition metrics in the style of the Gopher /
    MassiveText quality rules (Rae et al. 2021, table A1): fraction of
    duplicate words and the share of the single most frequent word
    bigram, plus a composite keep flag.

    ``dup_word_frac`` is fully in-row (``array_distinct`` — zero
    shuffle). ``top_bigram_share`` needs the per-doc mode, which is an
    explode → count → window-max keyed BY DOC — the groupBy key is
    (doc_id, gram) so map-side partial aggregation collapses each
    partition's repeats before the shuffle, and no key ever exceeds a
    single document's gram count: embarrassingly scalable, skew-free.

    Thresholds (keep if dup_word_frac ≤ 0.3 and top_bigram_share ≤
    0.2) follow the published MassiveText cuts.
    """
    from pyspark.sql import Window  # local: keep module header light
    from airflow_baseball_spark.partitioning import spread

    toks_col = tokens(F.col(text_col))
    base = spread(df).select(
        F.col(id_col),
        toks_col.alias("__toks"),
    )
    in_row = base.select(
        F.col(id_col),
        F.size("__toks").alias("n_words"),
        F.round(
            F.when(
                F.size("__toks") > 0,
                1.0
                - F.size(F.array_distinct("__toks"))
                / F.size("__toks").cast("double"),
            ).otherwise(0.0),
            6,
        ).alias("dup_word_frac"),
        F.col("__toks"),
    )
    bigrams = in_row.select(
        F.col(id_col),
        F.explode(
            F.transform(
                # size guard: a 1-token doc has no bigram (a truncated
                # window would count the lone word as one)
                F.when(
                    F.size("__toks") >= 2,
                    F.sequence(F.lit(0), F.size("__toks") - 2),
                ),
                lambda i: F.concat_ws(" ", F.slice(F.col("__toks"), i + 1, 2)),
            )
        ).alias("gram"),
    )
    counts = bigrams.groupBy(id_col, "gram").agg(F.count("*").alias("cnt"))
    per_doc = counts.groupBy(id_col).agg(
        F.max("cnt").alias("top_cnt"), F.sum("cnt").alias("total_grams")
    )
    return (
        in_row.drop("__toks")
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_words",
            "dup_word_frac",
            F.round(
                F.coalesce(
                    F.col("top_cnt") / F.col("total_grams").cast("double"),
                    F.lit(0.0),
                ),
                6,
            ).alias("top_bigram_share"),
        )
        .withColumn(
            "keep",
            (F.col("dup_word_frac") <= 0.3) & (F.col("top_bigram_share") <= 0.2),
        )
    )
