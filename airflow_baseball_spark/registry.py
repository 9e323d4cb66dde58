"""Query registry — maps every implemented SURVEY.md §2 operator to a
(PySpark callable, DuckDB oracle SQL) pair over the driver testdata.

Conventions (driver compares row count + schema + order-insensitive
value hash, sorting columns by name):

* every computed column is aliased identically on both sides;
* floating-point aggregates are computed over exact quantized units
  (integer cents/micros, or ``functions.scalar.dec_portable`` — the
  floor-quantized DECIMAL) wherever possible, and final double-valued
  expressions are ``round(x, 6)`` on both sides so summation-order
  ulp noise cannot flip the hash;
* when a rounded value can land on a .xxxxxx5 boundary, use
  ``floor(x*1e6 + 0.5)/1e6`` on BOTH sides instead (see
  ``queries_domain._r6``): Spark's ``round()`` goes through Java's
  shortest-string BigDecimal while DuckDB rounds the exact double,
  and they disagree by 1e-6 exactly at ties;
* never ``CAST(double AS DECIMAL(p,s))`` on a value that can carry
  more decimals than ``s``: Spark casts via the shortest decimal
  string (0.615d -> 0.62) while DuckDB rounds the binary value
  (0.615d -> 0.61). r8 swept every such call site to
  ``dec_portable`` / ``FLOOR(x*10^s + 0.5)/10^s`` on both sides; the
  ``driverish`` vintage (tests/make_testdata_variant.py) injects
  3-decimal ties into every stored double so a reintroduced bare cast
  fails the local sweep immediately;
* never SUM raw doubles whose total feeds the hash — quantize BEFORE
  the sum (integer cents): even at identical frames DuckDB's windowed
  aggregation combines through a segment tree whose addition order
  differs from Spark's sequential add, and unordered hash aggs differ
  anyway;
* decimal×decimal chains must keep total scale ≤ the result's
  precision headroom: a product whose precision exceeds 38 triggers
  engine-specific scale-reduction ROUNDING inside the multiply (see
  revenue_waterfall's integer-unit rebuild);
* read timestamps as epoch integers (Spark ``unix_micros`` / DuckDB
  ``epoch_us``), not calendar functions, whenever the result feeds
  the hash; the ns→µs convention at every seam is ROUND-HALF-UP
  ``(ns+500)//1000`` (schemas.load_table, streaming read, and the
  normalization CTEs below — measured rationale in load_table's
  docstring).

Diagnostic-probe pattern (r7-r10): positions 2-4 of the driver window
hold a small recurring panel from ``queries_probes.py`` — tiny
queries that validate the comparison instrument itself. r9
root-caused every driver red ever recorded to ONE fetch-layer
mechanism (DuckDB HUGEINT from integer SUMs degrading to float64 in
the driver's dtype-preserving oracle fetch — PERF_NOTES.md r9), and
the r9 driver window confirmed it live (bare SUM(int) probe red, its
CAST-AS-BIGINT twin green). ``oracle_sql()`` rewrites any HUGEINT
output column to an explicit BIGINT cast: one DESCRIBE against the
static DDL per distinct oracle text, memoized by that text
(``_DEBIGINT_WRAPPED`` below). Since r10 the designed-red bare probe
is retired (mechanism pinned in tests/test_driver_sim.py) and the
panel keeps only a const control, the cast sentinel, and the
duplicate-key audit.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QuerySpec = tuple[Callable[[SparkSession, str], DataFrame], str | None]

_REGISTRY: dict[str, QuerySpec] = {}

# Oracle-side timestamp normalization (r7, after the variant harness
# measured 96/444 oracles flipping under a tz-tagged vintage + non-UTC
# DuckDB session, and several more under ns-precision jitter): every
# oracle that references a timestamp-carrying table gets a CTE that
# SHADOWS the driver's view with
# `make_timestamp((epoch_ns(col)+500)//1000)` — the naive UTC
# µs-ROUNDED wall clock, exactly what schemas.load_table hands the
# Spark side under its UTC pin. For the standard naive-µs generation
# this is an identity map (epoch_ns is then µs*1000 and +500 never
# crosses), so driver-attested greens cannot move; for tz-tagged / ns
# vintages it makes calendar functions, literal comparisons, and raw
# timestamp outputs read identically in both engines regardless of the
# DuckDB session timezone (property-tested in
# tests/test_vintage_robustness and sweepable over the full surface
# via tests/run_oracle_check_variant.py).
#
# r8: the constant inside the choke point moved from truncation
# (//1000) to round-half-up ((+500)//1000), matching load_table's
# ns-read convention — the r7 driver window refuted trunc/trunc
# (probe_events_epoch and interval_union_time red with truncating
# oracles), and rounding is an identity under every truncating or
# µs-native DuckDB scan, so nothing locally green can move (full-sweep
# verified; see schemas.load_table's engine matrix). `main.`
# qualification is required so the CTE body references the view, not
# itself.
_TS_NORM_CTES = {
    "events": (
        "events AS (SELECT * REPLACE (make_timestamp((epoch_ns(ts) "
        "+ 500) // 1000) AS ts) FROM main.events)"
    ),
    "orders": (
        "orders AS (SELECT * REPLACE (make_timestamp(("
        "epoch_ns(o_orderdate) + 500) // 1000) AS o_orderdate) "
        "FROM main.orders)"
    ),
    "lineitem": (
        "lineitem AS (SELECT * REPLACE (make_timestamp(("
        "epoch_ns(l_shipdate) + 500) // 1000) AS l_shipdate) "
        "FROM main.lineitem)"
    ),
}


def _code_start(sql: str) -> int:
    """Offset of the first character of sql that is not whitespace,
    a -- line comment or a /* */ block comment (len(sql) when there
    is none)."""
    i = 0
    while True:
        i += re.match(r"\s*", sql[i:]).end()
        if sql.startswith("--", i):
            nl = sql.find("\n", i)
            i = len(sql) if nl < 0 else nl + 1
        elif sql.startswith("/*", i):
            end = sql.find("*/", i)
            i = len(sql) if end < 0 else end + 2
        else:
            return i


def _tz_normalize_oracle(sql: str) -> str:
    needed = [
        cte
        for name, cte in _TS_NORM_CTES.items()
        if re.search(rf"\b{name}\b", sql)
    ]
    if not needed:
        return sql
    prefix = ",\n         ".join(needed)
    # r8 (r7 ADVICE): strip leading -- and /* */ comments before the
    # WITH match — an oracle beginning with a SQL comment would
    # otherwise be rewritten into `WITH <ctes>, <comment> WITH ...`,
    # which is invalid SQL that fails at driver time, not here.
    s = sql[_code_start(sql) :]
    m = re.match(r"(?is)^(WITH\s+RECURSIVE|WITH)\b", s)
    if m:
        return f"    {m.group(1)} {prefix},\n    {s[m.end():].lstrip()}"
    return f"    WITH {prefix}\n    {s}"


# ---------------------------------------------------------------------------
# r11: evaluate-once protection for multi-referenced oracle CTEs.
#
# DuckDB's planner INLINES every CTE reference. An oracle whose CTE is
# referenced k times therefore evaluates that CTE's whole upstream
# tree k times — and when unrolled-iteration oracles reference the
# previous round more than once per step, the copies COMPOUND
# geometrically: the first full sf0.1 sweep (ORACLE_SF01_r11.txt)
# found harmonic_centrality (2 refs/hop → 2^6) and bradley_terry
# (5 refs/round) exhausting >79 GB of DuckDB temp, and ktruss
# (5 refs/round → ~5^3 on a squared base) filling 74 GB before being
# killed; a static audit then measured kcore at 1,992 inlined copies
# of its lineitem-scanning base CTE, sssp_bounded at 508, katz_3step
# at 400 (PERF_NOTES r11 addendum #2). Rather than hand-hinting 80+
# texts, the fix lives at this seam (the same architecture as
# _tz_normalize_oracle and oracle_sql's HUGEINT rewrite): parse the
# WITH list, propagate inline-copy counts through the CTE dependency DAG
# (already-MATERIALIZED CTEs are evaluate-once barriers), and insert
# `AS MATERIALIZED` on every CTE whose copy count reaches
# _MATERIALIZE_THRESHOLD. Semantics are unchanged — the hint only
# pins evaluate-once — and hand-written hints in the registered texts
# are respected as barriers. Spark-side plans are untouched.
#
# Threshold 4: a plain double reference stays inlined (it can still
# benefit from predicate pushdown into the CTE body and has never
# been a problem at any SF); 4+ copies only arise from compounding
# chains or hub CTEs, which is exactly the pathological class.
_MATERIALIZE_THRESHOLD = 4


def _sql_code_spans(sql: str):
    """Yield (start, end) spans of sql that are CODE — i.e. outside
    '...' string literals (with '' escapes), "..." quoted
    identifiers, -- line comments, and /* */ block comments."""
    i, n = 0, len(sql)
    start = 0
    while i < n:
        ch = sql[i]
        if ch == "'":
            yield (start, i)
            i += 1
            while i < n:
                if sql[i] == "'":
                    if i + 1 < n and sql[i + 1] == "'":
                        i += 2
                        continue
                    i += 1
                    break
                i += 1
            start = i
        elif ch == '"':
            yield (start, i)
            i += 1
            while i < n and sql[i] != '"':
                i += 1
            i += 1
            start = i
        elif ch == "-" and i + 1 < n and sql[i + 1] == "-":
            yield (start, i)
            while i < n and sql[i] != "\n":
                i += 1
            start = i
        elif ch == "/" and i + 1 < n and sql[i + 1] == "*":
            yield (start, i)
            j = sql.find("*/", i + 2)
            i = n if j < 0 else j + 2
            start = i
        else:
            i += 1
    yield (start, n)


def _parse_ctes(sql: str):
    """Locate the top-level WITH list. Returns (ctes, final_start)
    where ctes is a list of dicts {name, materialized, body_span,
    as_end} in definition order — as_end is the code offset right
    after the AS keyword (where a MATERIALIZED hint inserts).
    Returns ([], 0) when there is no top-level WITH."""
    spans = list(_sql_code_spans(sql))

    def code(idx):
        return any(a <= idx < b for a, b in spans)

    # only a STATEMENT-LEADING WITH counts (after leading whitespace /
    # comments): a WITH inside a subquery must not be parsed as the
    # top-level CTE list.
    lead = _code_start(sql)
    m = re.match(r"(?is)WITH\s+(?:RECURSIVE\s+)?", sql[lead:])
    if not m:
        return [], 0
    i = lead + m.end()
    ctes = []
    n = len(sql)
    while True:
        mm = re.match(
            r"(?s)\s*([A-Za-z_][A-Za-z0-9_]*)\s+(AS)\s+(MATERIALIZED\s+)?\(",
            sql[i:],
        )
        if not mm:
            break
        as_end = i + mm.end(2)
        body_open = i + mm.end()  # position just after '('
        depth = 1
        k = body_open
        while k < n and depth:
            if not code(k):
                k += 1
                continue
            if sql[k] == "(":
                depth += 1
            elif sql[k] == ")":
                depth -= 1
            k += 1
        ctes.append(
            {
                "name": mm.group(1),
                "materialized": bool(mm.group(3)),
                "body_span": (body_open, k - 1),
                "as_end": as_end,
            }
        )
        i = k
        mm2 = re.match(r"(?s)\s*,", sql[i:])
        if not mm2:
            break
        i += mm2.end()
    return ctes, i


def _cte_copy_counts(sql: str):
    """Inline-copy count per CTE under DuckDB's inline-per-reference
    model, treating MATERIALIZED CTEs (and recursive self-references,
    which are excluded from counting) as evaluate-once barriers.
    Returns (ctes, copies) from _parse_ctes / {name: count}."""
    ctes, final_start = _parse_ctes(sql)
    if not ctes:
        return ctes, {}
    names = [c["name"] for c in ctes]

    def refs_in(text, producers):
        out = {}
        for p in producers:
            # table references only: FROM/JOIN-prefixed, plus
            # comma-list members (FROM a, b / , LATERAL peers). A bare
            # word count would misread column aliases named after the
            # CTE (ordered_funnel's `MIN(us) AS t1` / `t1.t1`) as
            # references; a comma prefix can still over-match a column
            # list, which only errs toward an extra hint (safe). The
            # (?<![.\w]) lookbehind keeps schema-qualified base-table
            # references (main.events) from counting -- DuckDB
            # resolves those to the base schema, not the CTE.
            k = len(
                re.findall(
                    rf"(?is)(?:\bFROM|\bJOIN|,)\s*(?<![.\w]){re.escape(p)}\b",
                    text,
                )
            )
            if k:
                out[p] = k
        return out

    refs = {}
    for idx, c in enumerate(ctes):
        a, b = c["body_span"]
        refs[c["name"]] = refs_in(sql[a:b], names[:idx])
    final_refs = refs_in(sql[final_start:], names)
    copies = {nm: 0 for nm in names}
    for p, k in final_refs.items():
        copies[p] += k
    for c in reversed(ctes):
        nm = c["name"]
        mult = 1 if c["materialized"] else copies[nm]
        for p, k in refs[nm].items():
            copies[p] += mult * k
    return ctes, copies


def _materialize_hot_ctes(sql: str) -> str:
    """Insert `MATERIALIZED` after AS for every CTE whose inline-copy
    count reaches _MATERIALIZE_THRESHOLD. Idempotent (existing hints
    are barriers and are never duplicated); recursive CTE members
    (body references its own name) are left untouched."""
    # scope guard: the copy-count model is FLAT -- an oracle whose
    # body contains nested WITH clauses (sub-scoped CTE lists, often
    # shadowing outer names, e.g. minhash_calibration's inlined
    # sigs/sh_rows copies) is skipped entirely. Hinting across
    # shadowed scopes is both unsound for the counts and a DuckDB
    # trap: a MATERIALIZED outer CTE shadowed by a nested WITH of the
    # same name trips "INTERNAL Error: Recursive CTE scan found
    # without recursive CTE node" and poisons the connection
    # (reproduced at r11; pinned in tests/test_materialize_pass.py).
    spans = list(_sql_code_spans(sql))
    code_text = "".join(sql[a:b] for a, b in spans)
    if len(re.findall(r"(?i)\bWITH\b", code_text)) > 1:
        return sql
    ctes, copies = _cte_copy_counts(sql)
    if not ctes:
        return sql
    inserts = []
    for c in ctes:
        if c["materialized"]:
            continue
        a, b = c["body_span"]
        if re.search(
            rf"(?is)(?:\bFROM|\bJOIN)\s+(?<![.\w]){re.escape(c['name'])}\b",
            sql[a:b],
        ):
            continue  # recursive member — hint unsupported there
        if copies.get(c["name"], 0) >= _MATERIALIZE_THRESHOLD:
            inserts.append(c["as_end"])
    if not inserts:
        return sql
    out = []
    prev = 0
    for pos in sorted(inserts):
        out.append(sql[prev:pos])
        out.append(" MATERIALIZED")
        prev = pos
    out.append(sql[prev:])
    return "".join(out)


def register(name: str, fn: Callable[[SparkSession, str], DataFrame], sql: str | None) -> None:
    # diagnostic probes (queries_probes.py) must read the RAW views —
    # measuring the un-normalized driver environment is their entire
    # job, so shadowing their inputs would blind the instrument panel
    if sql and not name.startswith("probe_"):
        sql = _tz_normalize_oracle(sql)
        sql = _materialize_hot_ctes(sql)
    _REGISTRY[name] = (fn, sql)


# ---------------------------------------------------------------------------
# r9: HUGEINT elimination at the oracle seam — the round-8/9 instrument
# finding. DuckDB promotes every integer SUM (and arithmetic derived
# from one) to HUGEINT (int128). pandas/arrow have no int128, so
# DuckDB's dtype-preserving fetch paths render HUGEINT as float64
# ("6.0") / decimal128 while Spark's BIGINT collects as a Python int
# ("6") — and the driver's value hash is dtype-sensitive at exactly
# that seam. Measured evidence (see PERF_NOTES.md r9): across every
# driver window ever recorded (r5-r8, 200 rows), ALL 21 samples of
# HUGEINT-emitting oracles were hash-red and NO HUGEINT-emitting
# oracle was ever green — a perfect 50/50 split in the r8 window
# alone, including all 13 "all-red" v2 probes (every one SUMs
# integers) and all six persistent query reds. Local fetchall-based
# comparison converts HUGEINT to exact Python ints, which is why the
# divergence was invisible to four rounds of local sweeps.
#
# The fix is mechanism-agnostic: CAST every HUGEINT output column to
# BIGINT in the oracle text, making the duck-side dtype identical to
# the Spark side under EVERY fetch path (fetchall, .df(), .arrow()).
# Values are unaffected — the house style already keeps every integer
# surface < 2^63 by construction (mod-prime checksums, micro/cent
# quantization). Output types are discovered by DESCRIBE against
# schema-only tables built from the static DDL below, so the rewrite
# is exact, idempotent (a cast column DESCRIBEs as BIGINT), needs no
# data dir, and applies automatically to every current and future
# registration.

# the driver testdata schema (generated from its parquet footers at
# sf0.001; tests/test_driver_sim.py pins it against every testdata dir)
_TESTDATA_DDL = {
    "region": "r_regionkey INTEGER, r_name VARCHAR",
    "nation": "n_nationkey INTEGER, n_name VARCHAR, n_regionkey INTEGER",
    "customer": "c_custkey BIGINT, c_name VARCHAR, c_nationkey INTEGER, c_acctbal DOUBLE, c_mktsegment VARCHAR",
    "supplier": "s_suppkey BIGINT, s_name VARCHAR, s_nationkey INTEGER, s_acctbal DOUBLE",
    "part": "p_partkey BIGINT, p_name VARCHAR, p_brand VARCHAR, p_type VARCHAR, p_size INTEGER, p_retailprice DOUBLE",
    "orders": "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus VARCHAR, o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority VARCHAR",
    "lineitem": "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INTEGER, l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, l_returnflag VARCHAR, l_linestatus VARCHAR, l_shipdate TIMESTAMP",
    "events": "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type VARCHAR, value DOUBLE, props VARCHAR",
    "documents": "doc_id BIGINT, text VARCHAR, lang VARCHAR, source VARCHAR, n_chars BIGINT",
    "embeddings": "vec_id BIGINT, embedding FLOAT[], label INTEGER",
}

# oracle text -> that text with its HUGEINT columns cast to BIGINT
# (the text itself when it has none), or None when its DESCRIBE
# failed. Keyed by text, not name, so a re-registered name is a new
# key and no entry can go stale; a late registration costs one
# DESCRIBE on the next oracle_sql() call.
_DEBIGINT_WRAPPED: dict[str, str | None] = {}

# names whose oracle failed DESCRIBE in the last oracle_sql() call —
# such an oracle ships unwrapped (HUGEINT intact if it has one), which
# is exactly the failure mode the rewrite exists to prevent, so the
# names are surfaced here and asserted empty by the pytest gate
# (tests/test_driver_sim.py) instead of dying at the driver seam.
_DEBIGINT_DESCRIBE_FAILURES: list[str] = []


def _debigint_static_connection():
    """Schema-only DuckDB connection with one empty table per
    testdata table, built from the static DDL."""
    import duckdb

    con = duckdb.connect()
    for t, cols in _TESTDATA_DDL.items():
        con.execute(f"CREATE TABLE {t} ({cols})")
    return con


def _debigint_oracle(con, sql: str) -> str:
    """Rewrite one oracle so no output column is HUGEINT/UHUGEINT:
    wrap in `SELECT * REPLACE (CAST(c AS BIGINT) AS c, ...)`. Returns
    the input unchanged when every column already fetches portably.

    Identifiers are double-quoted (embedded quotes doubled) so an
    alias that is not a plain identifier — auto-generated 'sum(x)',
    a reserved word, mixed case — still produces valid SQL (r9
    ADVICE item #1). CAST(HUGEINT AS BIGINT) raises on overflow in
    DuckDB rather than wrapping; the house style keeps every integer
    surface < 2^63 by construction (mod-prime checksums, micro/cent
    quantization), and tests/run_hugeint_overflow_check.py executes
    every rewritten oracle at the driver's correctness SF, reporting
    per-column |value|/2^63 headroom, to prove the casts cannot
    overflow (r9 ADVICE item #3)."""
    desc = con.execute("DESCRIBE " + sql).fetchall()
    hug = [c for c, t, *_ in desc if t in ("HUGEINT", "UHUGEINT")]
    if not hug:
        return sql

    def _q(c: str) -> str:
        return '"' + c.replace('"', '""') + '"'

    repl = ", ".join(f"CAST({_q(c)} AS BIGINT) AS {_q(c)}" for c in hug)
    return (
        f"SELECT * REPLACE ({repl})\nFROM (\n{sql}\n) AS __debigint_r9"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load()
    return {k: v[0] for k, v in _REGISTRY.items()}


def oracle_sql(raw: bool = False) -> dict[str, str]:
    """Oracle SQL per query. The default path casts every HUGEINT
    output column to BIGINT (see _debigint_oracle), DESCRIBEing each
    distinct text once against the static DDL; ``raw=True`` returns
    the registered text unmodified (oracle-composition and
    driver-simulation use)."""
    _load()
    out = {k: v[1] for k, v in _REGISTRY.items() if v[1] is not None}
    if raw:
        return out
    todo = [
        sql for sql in dict.fromkeys(out.values())
        if sql not in _DEBIGINT_WRAPPED
    ]
    if todo:
        con = _debigint_static_connection()
        try:
            for sql in todo:
                try:
                    _DEBIGINT_WRAPPED[sql] = _debigint_oracle(con, sql)
                except Exception:
                    _DEBIGINT_WRAPPED[sql] = None
        finally:
            con.close()
    _DEBIGINT_DESCRIBE_FAILURES[:] = [
        k for k, sql in out.items() if _DEBIGINT_WRAPPED[sql] is None
    ]
    return {k: _DEBIGINT_WRAPPED[sql] or sql for k, sql in out.items()}


_LOADED = False

# Registry order is the driver's correctness-check order, and the
# driver checks only the first ~50 entries, so _PRIORITY declares that
# window and nothing more; every other query follows in registration
# (import) order. The next rotation's candidates need no hand list:
# they are the registry names that appear in no committed
# CORRECTNESS_r*.json.
_PRIORITY = [
    # -- tier 1: regression canary (driver-green r5,r6,r7,r8,r9)
    "park_factor_flagship",
    # -- tier 2: recurring panel v4 (positions 2-4). const control
    #    guards the comparison itself; the cast sentinel keeps one
    #    integer-SUM surface in-window so a driver-side fetch change
    #    would show up here first; dup_keys audits driver data for
    #    duplicate keys (drift-immune counts).
    "probe_const_control",
    "probe_hugeint_cast",
    "probe_dup_keys",
    # -- tier 3: rotation (positions 5-50). The r12 window: 46 names
    #    never driver-sampled before it, all green on all four local
    #    vintages and under the full-surface driver-fetch sim.
    "viterbi_regime",
    "quantile_normalize",
    "voptimal_histogram",
    "dtw_band_distance",
    "walk_forward_backtest",
    "motif_discovery",
    "capture_recapture",
    "runs_test",
    "source_loo_value",
    "tukey_hsd",
    "friedman_test",
    "cohens_d_segments",
    "poisson_dispersion",
    "newsvendor_quantile",
    "map_at_k",
    "ipw_ate",
    "rdd_estimate",
    "ece_calibration",
    "macro_f1",
    "rmst_survival",
    "schema_evolution",
    "pit_join",
    "funnel_windowed",
    "last_touch_attribution",
    "feature_hashing",
    "target_encode_oof",
    "curriculum_phases",
    "position_attribution",
    "dq_report",
    "pagerank",
    "bloom_prune_join",
    "bfs_reachability",
    "fuzzy_name_join",
    "table_checksum",
    "cms_heavy_hitters",
    "join_size_estimate",
    "cumulative_distinct_users",
    "topk_with_ties",
    "max_drawdown",
    "weighted_median_global",
    "skyline_pareto",
    "brand_percent_rank",
    "iqr_outlier_rate",
    "decile_transition_matrix",
    "not_in_null_trap",
    "price_dispersion",
]


def _load() -> None:
    """Import every module that registers queries (idempotent), then
    move the _PRIORITY window to the front. The sort is stable, so
    every other query keeps its registration order: module import
    order below, then definition order within a module."""
    global _LOADED
    if _LOADED:
        return
    from airflow_baseball_spark import (  # noqa: F401
        queries_core,
        queries_domain,
        queries_eval,
        queries_io,
        queries_llm,
        queries_multimodal,
        queries_relational,
        queries_relational2,
        queries_round8,
        queries_round8b,
        queries_round8c,
        queries_round8d,
        queries_round8e,
        queries_round8f,
        queries_round8g,
        queries_round8h,
        queries_sampling,
        queries_streaming,
        queries_mining,
        queries_probes,
        queries_sketch,
        queries_stats,
        queries_text,
        queries_timeseries,
        queries_tpch,
        queries_tpch2,
    )

    rank = {name: i for i, name in enumerate(_PRIORITY)}
    tail = len(_PRIORITY)
    ordered = sorted(
        _REGISTRY.items(), key=lambda kv: rank.get(kv[0], tail)
    )
    _REGISTRY.clear()
    _REGISTRY.update(ordered)
    _LOADED = True
