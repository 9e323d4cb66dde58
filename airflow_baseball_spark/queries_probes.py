"""Driver-environment diagnostic probes, panel v3 (r9).

History: the v1 (r7) and v2 (r8) panels were built on the theory that
the driver's red/green split lived at the data-READ layer (ns→µs
conventions, text encodings, decimal-tie casts). The r8 window
falsified that theory by contradiction — every v2 probe came back red
while same-column, same-primitive real queries stayed green — and the
r9 audit found the actual mechanism one layer up, at the oracle FETCH:
every driver-red ever recorded (19 in r8, 21 samples r5–r8) has a
DuckDB HUGEINT output column, and no green ever did. DuckDB promotes
integer SUMs to HUGEINT (int128); the driver's dtype-preserving fetch
has no int128 container, degrades it to float64, and the value hash
splits on "6.0" vs "6". The v2 probes — all pure-BIGINT SUM surfaces,
chosen deliberately so "a red can never be blamed on float hash
normalization" — were therefore the one shape guaranteed to go red,
measuring their own fetch path instead of the read layer. Full
evidence and the fix (registry.oracle_sql's automatic CAST-to-BIGINT
oracle rewrite: one DESCRIBE against the static DDL per distinct
oracle text, memoized) in PERF_NOTES.md r9; local replica in
tests/driver_sim.py, which reproduces the r8 window 50/50 with raw
oracles and 0/50 red with wrapped ones.

The v3 panel ran in the r9 driver window and came back exactly as
predicted (WINDOW_r9_EXPECTED.md): const pair green, bare-HUGEINT
probe red / cast twin green (the mechanism confirmed live), dup-key
audit green, both carried v2 probes green. With the instrument fully
proven, the r10 panel (v4, per the r9 verdict directive #1) shrinks
to three recurring in-window probes:

====================  ===============================================
probe                  expected / meaning
====================  ===============================================
probe_const_control    GREEN. Constant row, no table reads — a red
                       means the comparison itself broke.
probe_hugeint_cast     GREEN. Integer SUM with the oracle cast to
                       BIGINT — the sentinel that keeps one
                       integer-SUM surface in-window, so any future
                       driver-side fetch change surfaces here first.
probe_dup_keys         GREEN. COUNT(*) − COUNT(DISTINCT key) per
                       table, value-drift-immune: audits that driver
                       data has the local generation's duplicate-key
                       profile.
====================  ===============================================

probe_hugeint_bare — the v3 designed-red positive control — is
RETIRED (unregistered): its job is done, the finding is pinned by
tests/test_driver_sim.py against BARE_HUGEINT_SQL below, and a
permanent designed red both burned a window slot and kept
CORRECTNESS from ever reading all-green. panel_const_twin,
probe_ev_us_round and probe_doc_content stay registered but parked
below position 50 (green everywhere; re-promotable on demand).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airflow_baseball_spark import registry
from airflow_baseball_spark.schemas import load_table

_P = 1_000_003  # prime modulus for order-invariant value checksums


# ---------------------------------------------------------------------------
# control pair: constant query under probe_ and normal names
# ---------------------------------------------------------------------------


def _const_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.range(1).select(
        F.lit(42).cast("long").alias("answer"),
        F.lit(0.5).cast("double").alias("frac"),
        F.lit("control").alias("tag"),
    )


_CONST_SQL = """
    SELECT CAST(42 AS BIGINT) AS answer,
           CAST(0.5 AS DOUBLE) AS frac,
           'control' AS tag
    """

registry.register("probe_const_control", _const_control, _CONST_SQL)
registry.register("panel_const_twin", _const_control, _CONST_SQL)


# ---------------------------------------------------------------------------
# HUGEINT mechanism pair: bare SUM(int) vs CAST AS BIGINT
# ---------------------------------------------------------------------------


def _linenumber_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n"),
        F.sum("l_linenumber").cast("long").alias("s"),
    )


# The bare twin of probe_hugeint_cast: SUM(INTEGER) left un-cast, so
# DuckDB emits HUGEINT and a dtype-sensitive fetch splits on it. This
# WAS registered as probe_hugeint_bare through r9 — the designed-red
# positive control that proved the fetch mechanism from the driver's
# own window (bare red / cast green in CORRECTNESS_r09.json). Retired
# from the registry in r10; kept here as a constant so the pytest
# gate (tests/test_driver_sim.py) can keep reproducing the split
# against _linenumber_sum without shipping a designed red.
BARE_HUGEINT_SQL = """
    SELECT COUNT(*) AS n, SUM(l_linenumber) AS s
    FROM lineitem
    """

registry.register(
    "probe_hugeint_cast",
    _linenumber_sum,
    """
    SELECT COUNT(*) AS n, CAST(SUM(l_linenumber) AS BIGINT) AS s
    FROM lineitem
    """,
)


# ---------------------------------------------------------------------------
# duplicate-key audit (drift-immune counts)
# ---------------------------------------------------------------------------


def q_probe_dup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(*) − COUNT(DISTINCT key) per table — pure counts, immune
    to any value-level drift: green means both engines read the same
    key multiset; a red means they disagree on the data itself. The
    VALUES also audit the generation: doc_id / event_id / o_orderkey
    are unique (0), while the lineitem composite (l_orderkey,
    l_linenumber) is KNOWN non-unique in the standard generation
    (14,168 duplicate rows at sf0.01 — an r9 discovery by this probe;
    tests/test_driver_sim.py pins the profile and records the
    tie-order-insensitivity audit of its two window consumers)."""
    docs = load_table(spark, sf_dir, "documents")
    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    d1 = docs.agg((F.count("*") - F.countDistinct("doc_id")).alias("dup_doc_id"))
    d2 = ev.agg((F.count("*") - F.countDistinct("event_id")).alias("dup_event_id"))
    d3 = orders.agg(
        (F.count("*") - F.countDistinct("o_orderkey")).alias("dup_orderkey")
    )
    d4 = li.agg(
        (
            F.count("*") - F.countDistinct("l_orderkey", "l_linenumber")
        ).alias("dup_lineitem_key")
    )
    return d1.crossJoin(d2).crossJoin(d3).crossJoin(d4)


registry.register(
    "probe_dup_keys",
    q_probe_dup_keys,
    """
    SELECT
      (SELECT COUNT(*) - COUNT(DISTINCT doc_id) FROM documents)
        AS dup_doc_id,
      (SELECT COUNT(*) - COUNT(DISTINCT event_id) FROM events)
        AS dup_event_id,
      (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders)
        AS dup_orderkey,
      (SELECT COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber))
         FROM lineitem) AS dup_lineitem_key
    """,
)


# ---------------------------------------------------------------------------
# carried v2 probes (fetch-fixed): timestamp + text content reads
# ---------------------------------------------------------------------------


def q_probe_ev_us_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.ts fingerprint at µs grain — the engine's actual read
    (load_table, round-half-up on the ns branch) as count +
    order-invariant mod-prime checksum. Green attests value-level
    agreement of the timestamp read under the r8 round-half-up
    convention; red now genuinely means the engines read different
    µs values (the fetch layer is fixed)."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    return ev.agg(
        F.count("*").alias("n"),
        F.sum(us % F.lit(_P)).alias("sum_us_modp"),
    )


registry.register(
    "probe_ev_us_round",
    q_probe_ev_us_round,
    f"""
    SELECT COUNT(*) AS n,
           SUM(((epoch_ns(ts) + 500) // 1000) % {_P}) AS sum_us_modp
    FROM events
    """,
)


def q_probe_doc_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text CONTENT checksum: md5 is byte-defined and
    engine-portable, so an order-invariant sum of the ascii codes of
    the first 8 hex chars (weighted by 31^j — max term ≈ 3.4e12, sum
    at sf0.01 ≈ 2e17, inside BIGINT) moves iff any document's bytes
    differ between the engines' reads."""
    docs = load_table(spark, sf_dir, "documents")
    m = F.md5("text")
    chk = sum(
        (
            F.ascii(F.substring(m, j + 1, 1)).cast("long")
            * F.lit(31 ** j).cast("long")
            for j in range(8)
        ),
        F.lit(0).cast("long"),
    )
    return docs.agg(
        F.count("*").alias("n"),
        F.sum(chk).alias("sum_md5chk"),
    )


registry.register(
    "probe_doc_content",
    q_probe_doc_content,
    """
    SELECT COUNT(*) AS n,
           SUM(
             CAST(ascii(substr(md5(text), 1, 1)) AS BIGINT) * 1
           + CAST(ascii(substr(md5(text), 2, 1)) AS BIGINT) * 31
           + CAST(ascii(substr(md5(text), 3, 1)) AS BIGINT) * 961
           + CAST(ascii(substr(md5(text), 4, 1)) AS BIGINT) * 29791
           + CAST(ascii(substr(md5(text), 5, 1)) AS BIGINT) * 923521
           + CAST(ascii(substr(md5(text), 6, 1)) AS BIGINT) * 28629151
           + CAST(ascii(substr(md5(text), 7, 1)) AS BIGINT) * 887503681
           + CAST(ascii(substr(md5(text), 8, 1)) AS BIGINT) * 27512614111
           ) AS sum_md5chk
    FROM documents
    """,
)
