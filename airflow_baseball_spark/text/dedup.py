"""Deduplication operators for LLM training corpora — exact, MinHash+
LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup.

Scale design (the point of each operator at 100 TB):

* **exact**: one hash-shuffle on a digest of the text, not the text —
  ``md5(text)`` groups are tiny keys; keep min doc_id per group.
* **MinHash+LSH**: per-doc signature is an embarrassingly-parallel map
  (shingle explode + min-agg, combiner-friendly); candidate generation
  shuffles only (band_id, band_hash) keys — never pairs of documents —
  so the quadratic blowup is confined to within-bucket joins.
* **SimHash**: per-doc 16-bit fingerprint via token-hash bit votes;
  near-dup = same fingerprint bucket (or Hamming-adjacent probes).
* **n-gram Jaccard**: exact verification for candidate pairs only.
* **embedding cosine**: blocked self-join (block = label / coarse
  quantizer) — never an unblocked cross join.

Every hash is engine-portable (md5 or explicit integer arithmetic) so
the DuckDB oracles replicate results exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from airflow_baseball_spark.partitioning import spread
from airflow_baseball_spark.text.analysis import tokens

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id document per exact text digest; adds
    ``dup_count``. Shuffles md5 digests, not document bodies."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("digest"))
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("dup_count"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

# k permutations (a*code + b) % P over 5-char shingle codes. Constants
# fixed so oracles can mirror them.
_P = 1_000_003
_PERMS: list[tuple[int, int]] = [
    (131, 7), (137, 11), (139, 13), (149, 17),
    (151, 19), (157, 23), (163, 29), (167, 31),
    (173, 37), (179, 41), (181, 43), (191, 47),
    (193, 53), (197, 59), (199, 61), (211, 67),
]
# 16 sigs → 4 bands × 4 rows: the banding s-curve sits at
# (1/b)^(1/r) ≈ 0.71 Jaccard — r=2 (threshold 0.5) floods candidate
# generation with false-positive pairs (measured 392k pairs from 5k
# docs at sf0.1; the within-bucket join is THE quadratic risk at
# 100 TB). r=4 keeps recall ≈0.99 at J=0.9 while buckets stay tiny.
N_BANDS = 4


def shingle_code_arrays(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, __codes): the rolling-polynomial 5-char shingle codes each
    minhash permutation scans — exposed so consumers that need the
    shingle UNIVERSE itself (true-Jaccard verification, estimator
    calibration) share the exact construction the signatures hash.
    Fully in-row, zero shuffle."""
    text = F.col(text_col)
    chars = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(text), F.lit(1))),
        lambda p: F.ascii(F.substring(text, p, F.lit(1))).cast("long"),
    )
    staged = spread(df).select(F.col(id_col), chars.alias("__chars"))

    def shingle(p: Column) -> Column:
        # chars beyond end → ascii('') = 0, matching substring overrun
        code = F.coalesce(F.get(F.col("__chars"), p - 1), F.lit(0))
        for i in range(1, 5):
            code = code * 31 + F.coalesce(
                F.get(F.col("__chars"), p + (i - 1)), F.lit(0)
            )
        return code

    codes = F.transform(
        F.sequence(
            F.lit(1), F.greatest(F.size("__chars") - 4, F.lit(1))
        ),
        shingle,
    )
    return staged.select(F.col(id_col), codes.alias("__codes"))


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per doc: sig_0..sig_{k-1} minhash values.

    Fully in-row — ZERO shuffle, ZERO row blowup. ``min`` is
    insensitive to duplicate shingles, so instead of exploding one row
    per character position and min-aggregating (a ~100× row blowup plus
    a groupBy exchange), the whole signature is computed with
    higher-order functions: char-code array once (each char converted
    once, not 5×), rolling-polynomial shingle codes, then k
    ``array_min`` permutation scans. At 100 TB this is a pure map
    stage — signatures stream out of the scan with no exchange at all.

    Staged as three projections (chars → codes → sigs); Catalyst's
    CollapseProject keeps multi-referenced non-cheap expressions
    materialized per stage rather than inlining the code array into
    all k permutation scans."""
    coded = shingle_code_arrays(df, text_col=text_col, id_col=id_col)
    sigs = [
        F.array_min(
            F.transform(
                F.col("__codes"), lambda c: (F.lit(a) * c + F.lit(b)) % _P
            )
        ).alias(f"sig_{i}")
        for i, (a, b) in enumerate(_PERMS)
    ]
    return coded.select(F.col(id_col), *sigs)


def _banded(sigs: DataFrame, id_col: str, n_bands: int) -> DataFrame:
    """(id, band_id, band_hash) — one row per signature band, via one
    in-row array explode (not a union of n_bands re-computations of
    the signature pipeline)."""
    rows_per_band = len(_PERMS) // n_bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws(
                    "_",
                    *[f"sig_{b * rows_per_band + j}" for j in range(rows_per_band)],
                ).alias("band_hash"),
            )
            for b in range(n_bands)
        ]
    )
    return sigs.select(F.col(id_col), F.explode(band_structs).alias("bs")).select(
        id_col, F.col("bs.band_id").alias("band_id"), F.col("bs.band_hash").alias("band_hash")
    )


def lsh_candidate_pairs(
    sigs: DataFrame, id_col: str = "doc_id", n_bands: int = N_BANDS
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any band of their
    signature. Shuffle key = (band_id, band_hash) — bucket sizes bound
    the join; skewed mega-buckets would be salted or truncated at
    scale (AQE skew-join handles moderate cases). The l/r join sides
    share one canonical plan so the shuffle exchange is computed once
    and reused (ReuseExchange)."""
    banded = _banded(sigs, id_col, n_bands)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .distinct()
    )


def lsh_candidate_edges(
    sigs: DataFrame, id_col: str = "doc_id", n_bands: int = N_BANDS
) -> DataFrame:
    """Star-contracted candidate edges for CLUSTERING: within each
    (band_id, band_hash) bucket, connect every doc to the bucket's
    min-id doc instead of to every other doc. Connectivity (and thus
    the connected components) is identical to ``lsh_candidate_pairs``,
    but a bucket of m near-identical docs yields m−1 edges instead of
    m(m−1)/2 — the quadratic bucket blowup, THE failure mode of
    LSH-dedup on a 100 TB corpus full of boilerplate, never happens.
    Star edges also collapse component diameter, so label propagation
    converges in a couple of rounds. One window-min shuffle, no
    self-join."""
    from pyspark.sql import Window

    banded = _banded(sigs, id_col, n_bands)
    w = Window.partitionBy("band_id", "band_hash")
    return (
        banded.withColumn("hub", F.min(id_col).over(w))
        .filter(F.col(id_col) != F.col("hub"))
        .select(F.col("hub").alias("id_a"), F.col(id_col).alias("id_b"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

# 32 bits so Hamming blocks are 8-bit (256-value buckets): 4-bit
# blocks cap the bucket keyspace at 16 values, mega-bucketing any
# real corpus (measured 3M+ candidate pairs from 5k docs) — the
# bucket join must never be quadratic in corpus size.
SIMHASH_BITS = 32
_HEX_DIGITS = SIMHASH_BITS // 4


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """SimHash fingerprint: per-token md5 → low hex digits → bit votes
    → sign → fingerprint int. Tokens explode once; the bit dimension is
    an in-row array (no per-bit row blowup)."""
    tok = spread(df).select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    # token hash: low SIMHASH_BITS of md5 via hex digits (portable)
    hx = F.substring(F.md5(F.col("tok")), 33 - _HEX_DIGITS, _HEX_DIGITS)
    val = sum(
        (
            (F.instr(F.lit("0123456789abcdef"), F.substring(hx, i + 1, 1)) - 1)
            .cast("long")
            * F.lit(16 ** (_HEX_DIGITS - 1 - i)).cast("long")
            for i in range(1, _HEX_DIGITS)
        ),
        (F.instr(F.lit("0123456789abcdef"), F.substring(hx, 1, 1)) - 1)
        .cast("long")
        * F.lit(16 ** (_HEX_DIGITS - 1)).cast("long"),
    )
    tok = tok.select(F.col(id_col), val.alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(SIMHASH_BITS)
    ]
    per_doc = tok.groupBy(id_col).agg(*votes)
    fp = sum(
        (
            F.when(F.col(f"v{b}") > 0, F.lit(2**b).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            for b in range(1, SIMHASH_BITS)
        ),
        F.when(F.col("v0") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")),
    )
    return per_doc.select(F.col(id_col), fp.alias("simhash"))


def simhash_pairs(
    fps: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "simhash",
    max_hamming: int = 3,
    n_blocks: int = 4,
) -> DataFrame:
    """Near-dup candidate pairs from SimHash fingerprints at Hamming
    distance ≤ ``max_hamming``.

    Pigeonhole bucketing: the fingerprint splits into ``n_blocks``
    equal blocks; any pair within distance d < n_blocks agrees exactly
    on ≥ 1 block, so bucketing on (block_id, block_val) finds every
    qualifying pair without an all-pairs scan. The shuffle key is the
    small block value — the quadratic work is confined to
    within-bucket joins, then an exact one-expression
    ``bit_count(xor)`` verify filters false candidates. Block width
    (SIMHASH_BITS / n_blocks) sets the bucket keyspace; production
    systems run 64-bit simhash with 16-bit blocks for the same
    reason."""
    bits_per = SIMHASH_BITS // n_blocks
    mask = (1 << bits_per) - 1
    blocks = F.array(
        *[
            F.struct(
                F.lit(b).alias("block_id"),
                F.shiftright(F.col(fp_col), b * bits_per)
                .bitwiseAND(F.lit(mask))
                .alias("block_val"),
            )
            for b in range(n_blocks)
        ]
    )
    bl = fps.select(F.col(id_col), F.col(fp_col), F.explode(blocks).alias("bs")).select(
        id_col, fp_col, F.col("bs.block_id").alias("block_id"), F.col("bs.block_val").alias("block_val")
    )
    l = bl.alias("l")
    r = bl.alias("r")
    # first-agreeing-block wins (r11): a qualifying pair agrees on up
    # to n_blocks buckets, so the old form generated it up to n_blocks
    # times and deduped with a candidate-volume DISTINCT (a second
    # full shuffle + hash of ~15M rows at sf0.1). Emitting a pair ONLY
    # from its minimal agreeing block — every earlier block of the
    # xor must be non-zero — makes each pair unique by construction
    # and the distinct disappears. The xor is computed once and feeds
    # both the earlier-block check and the hamming verify.
    x = F.col(f"l.{fp_col}").bitwiseXOR(F.col(f"r.{fp_col}"))
    min_agree = F.lit(-1)
    for b in range(n_blocks - 1, -1, -1):
        min_agree = F.when(
            F.shiftright(x, b * bits_per).bitwiseAND(F.lit(mask)) == 0,
            F.lit(b),
        ).otherwise(min_agree)
    first_block = F.col("l.block_id") == min_agree
    return (
        l.join(
            r,
            (F.col("l.block_id") == F.col("r.block_id"))
            & (F.col("l.block_val") == F.col("r.block_val"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .filter(first_block)
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.bit_count(x).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------


def ngram_decontam(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Training-set decontamination: corpus docs sharing any word
    ``n``-gram with a benchmark/eval document, with the count of
    distinct shared grams. The join key is ``md5(gram)`` — fixed-width
    digests shuffle, never gram text — and the benchmark side (small
    by construction: eval sets are thousands of docs, the corpus is
    billions) arrives distinct so each gram is probed once.

    Mirrors the n-gram-overlap decontamination procedure published
    with GPT-3/PaLM-style corpus construction."""

    def grams(df: DataFrame) -> DataFrame:
        # r9: tokenize ONCE per row in its own projection — inlining
        # the split in the two size() uses and the per-gram slice made
        # codegen re-split the text per gram (same fix as
        # dup_rate_by_source / source_overlap, ~3x on the gram build)
        staged = spread(df).select(
            F.col(id_col), tokens(F.col(text_col)).alias("__toks")
        )
        # docs shorter than n emit NO grams (a truncated window would
        # let a short doc spuriously "share an n-gram"); explode drops
        # the NULL the when() leaves for them
        windows = F.when(
            F.size("__toks") >= n,
            F.sequence(F.lit(0), F.size("__toks") - n),
        )
        g = F.explode(
            F.array_distinct(
                F.transform(
                    windows,
                    lambda i: F.md5(
                        F.concat_ws(" ", F.slice(F.col("__toks"), i + 1, n))
                    ),
                )
            )
        )
        return staged.select(F.col(id_col), g.alias("gram"))

    bench_grams = grams(benchmark).select("gram").distinct()
    return (
        grams(corpus)
        .join(bench_grams, "gram")
        .groupBy(id_col)
        .agg(F.count_distinct("gram").alias("n_shared_grams"))
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard verification
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    block_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact word-n-gram Jaccard for all pairs *within a block*
    (block = LSH bucket, source, language …). Never call unblocked.
    """
    # materialize the token array first: higher-order lambdas get no CSE,
    # so an inline split would re-tokenize once per n-gram window
    toked = spread(df).select(
        F.col(id_col).alias("gid"),
        F.col(block_col).alias("blk"),
        tokens(F.col(text_col)).alias("toks"),
    )
    toks = F.col("toks")
    grams = toked.select(
        "gid",
        "blk",
        F.explode(
            F.array_distinct(
                F.transform(
                    # size guard: docs shorter than n contribute no
                    # (truncated) grams — they simply pair with nothing
                    F.when(
                        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
                    ),
                    lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
                )
            )
        ).alias("gram"),
    )
    sizes = grams.groupBy("gid").agg(F.count("*").alias("n_grams"))
    a = grams.alias("a")
    b = grams.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.gid") < F.col("b.gid")),
        )
        .groupBy(F.col("a.gid").alias("id_a"), F.col("b.gid").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("gid").alias("id_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("gid").alias("id_b"), F.col("n_grams").alias("nb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter")
                / (F.col("na") + F.col("nb") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") > threshold)
    )


# ---------------------------------------------------------------------------
# incremental dedup against a precomputed signature store
# ---------------------------------------------------------------------------


def incremental_dedup(
    batch: DataFrame,
    store_sigs: DataFrame,
    store_digests: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bands: int = N_BANDS,
    batch_sigs: DataFrame | None = None,
) -> DataFrame:
    """Probe a NEW batch of documents against an EXISTING corpus using
    only the corpus's precomputed artifacts — its minhash signature
    table (16 ints/doc) and exact-digest table — never the corpus text.

    This is how dedup actually runs at 100 TB: the historical corpus
    is not re-shingled per ingest; each daily batch computes its own
    signatures (map-only, O(batch)), then (1) band-joins against the
    stored signature bands for near-dup candidates and (2) semi-joins
    its md5 digests against the stored digest set for exact dups. Both
    joins key on small fixed-width values; the batch side is tiny, so
    at scale both sides of (1) shuffle only band keys and (2) is a
    broadcast semi-join of the batch digests.

    Returns one row per batch doc: ``n_candidates`` (distinct store
    docs sharing >= 1 LSH band) and ``exact_dup`` (0/1).

    ``batch_sigs`` (r11): callers that already hold a signature table
    covering the batch rows (e.g. the session-materialized corpus
    signatures) can pass it and skip the in-row re-hash — signatures
    depend only on the text, so a filtered corpus table is
    identical."""
    b_sigs = (
        batch_sigs
        if batch_sigs is not None
        else minhash_signatures(batch, text_col, id_col)
    )
    bb = _banded(b_sigs, id_col, n_bands).alias("b")
    sb = _banded(store_sigs, id_col, n_bands).alias("s")
    cand = (
        bb.join(
            sb,
            (F.col("b.band_id") == F.col("s.band_id"))
            & (F.col("b.band_hash") == F.col("s.band_hash")),
        )
        .groupBy(F.col(f"b.{id_col}").alias(id_col))
        .agg(F.count_distinct(F.col(f"s.{id_col}")).alias("n_candidates"))
    )
    # The STORE digest table is corpus-sized — never broadcast it. The
    # batch is the small side: broadcast ITS digests into a semi-join
    # that reduces the store to "digests the batch also has" (bounded
    # by the batch), then probe the batch against that tiny hit set.
    batch_digests = batch.select(F.col(id_col), F.md5(F.col(text_col)).alias("digest"))
    hit_digests = (
        store_digests.select("digest")
        .join(F.broadcast(batch_digests.select("digest").distinct()), "digest", "left_semi")
        .distinct()
    )
    exact = (
        batch_digests.join(F.broadcast(hit_digests), "digest", "left_semi")
        .select(id_col)
        .withColumn("exact_dup", F.lit(1))
    )
    return (
        batch.select(id_col)
        .join(cand, id_col, "left")
        .join(exact, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_candidates"), F.lit(0)).cast("long").alias(
                "n_candidates"
            ),
            F.coalesce(F.col("exact_dup"), F.lit(0)).cast("int").alias("exact_dup"),
        )
    )


# ---------------------------------------------------------------------------
# Segment-level (CCNet-style paragraph) dedup
# ---------------------------------------------------------------------------


def segment_dedup(
    df: DataFrame,
    seg_words: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style sub-document dedup: split each document into
    fixed-``seg_words`` word segments, drop every repeat of a segment
    already seen anywhere in the corpus (first occurrence by
    ``(doc_id, seg_idx)`` wins), and rebuild the surviving text.

    Returns one row per input doc: ``doc_id, n_segs, n_kept,
    kept_text`` (empty string when every segment was a repeat).

    Scale design — document BODIES never shuffle:

    1. segment metadata ``(doc_id, seg_idx, md5(segment))`` is an
       in-row explode off the scan (digests only, ~50 B/row);
    2. first-occurrence is one row_number window partitioned by the
       digest — the only corpus-wide shuffle, and it moves digests;
    3. the kept ``seg_idx`` set folds back to one array per doc
       (second small shuffle, ids only) and joins the original table
       on ``doc_id``, where the surviving text is re-sliced IN-ROW
       from the already-loaded body.

    At 100 TB the two shuffles carry ~(corpus segments × 50 B), about
    1-2% of the text volume — vs the naive plan (window over segment
    bodies, then re-group bodies by doc) that shuffles the full corpus
    twice. Segmenting by fixed word windows rather than newlines is
    deliberate: it is layout-independent, and the testdata documents
    are single-line.
    """
    W = int(seg_words)
    if W <= 0:
        raise ValueError("seg_words must be positive")
    from pyspark.sql.window import Window

    base = spread(df).select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("w")
    )
    n_segs = F.ceil(F.size("w") / F.lit(W)).cast("long")
    seg_expr = f"concat_ws(' ', slice(w, seg_idx * {W} + 1, {W}))"
    meta = base.select(
        id_col,
        "w",
        F.explode(F.sequence(F.lit(0).cast("long"), n_segs - 1)).alias("seg_idx"),
    ).select(id_col, "seg_idx", F.md5(F.expr(seg_expr)).alias("digest"))
    win = Window.partitionBy("digest").orderBy(id_col, "seg_idx")
    kept = (
        meta.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == 1)
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("seg_idx")).alias("kept_idxs"))
    )
    rebuilt = F.expr(
        f"concat_ws(' ', transform(kept_idxs, seg_idx -> {seg_expr}))"
    )
    return (
        base.join(kept, id_col, "left")
        .select(
            id_col,
            n_segs.alias("n_segs"),
            F.coalesce(F.size("kept_idxs"), F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce(rebuilt, F.lit("")).alias("kept_text"),
        )
    )
