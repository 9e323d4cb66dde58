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
output column to an explicit BIGINT cast (``_debigint_all`` below);
since r10 the designed-red bare probe is retired (mechanism pinned in
tests/test_driver_sim.py) and the panel keeps only a const control,
the cast sentinel, and the duplicate-key audit.
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
    s = sql.lstrip()
    while True:
        if s.startswith("--"):
            nl = s.find("\n")
            s = "" if nl < 0 else s[nl + 1 :].lstrip()
        elif s.startswith("/*"):
            end = s.find("*/")
            s = "" if end < 0 else s[end + 2 :].lstrip()
        else:
            break
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
# _tz_normalize_oracle and _debigint_all): parse the WITH list,
# propagate inline-copy counts through the CTE dependency DAG
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
    # top-level CTE list. Leading comments are stripped the same way
    # _tz_normalize_oracle does.
    lead = 0
    while True:
        ws = re.match(r"\s*", sql[lead:])
        lead += ws.end()
        if sql.startswith("--", lead):
            nl = sql.find("\n", lead)
            lead = len(sql) if nl < 0 else nl + 1
        elif sql.startswith("/*", lead):
            end = sql.find("*/", lead)
            lead = len(sql) if end < 0 else end + 2
        else:
            break
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
    global _DEBIGINT_READY
    if sql and not name.startswith("probe_"):
        sql = _tz_normalize_oracle(sql)
        sql = _materialize_hot_ctes(sql)
    _REGISTRY[name] = (fn, sql)
    # registration-time HUGEINT protection (r9 verdict item #5): a
    # registration arriving AFTER the first oracle_sql() call must not
    # miss the already-latched rewrite pass and ship a bare HUGEINT
    # emitter. While the latch is up, rewrap ONLY the new name (the
    # cache is keyed by name, so one DESCRIBE suffices — r10 ADVICE
    # item #2 replaced the unconditional latch-drop that re-DESCRIBEd
    # all 552 oracles per late registration); popping first keeps a
    # RE-registration from resurrecting a stale wrap. Any failure
    # falls back to dropping the latch so the full rebuild — with its
    # static-DDL retry and failure ledger — handles the name.
    if _DEBIGINT_READY:
        _DEBIGINT_CACHE.pop(name, None)
        # a RE-registration that fixes a previously DESCRIBE-failing
        # oracle must also clear its stale entry on the failure
        # ledger, or the pytest gate asserting the ledger empty reds
        # on a name that is now wrapped correctly
        while name in _DEBIGINT_DESCRIBE_FAILURES:
            _DEBIGINT_DESCRIBE_FAILURES.remove(name)
        if sql is not None and name not in _DEBIGINT_EXEMPT:
            try:
                # static DDL, not the parquet probe: one late
                # registration needs one DESCRIBE, and the static
                # types are footer-identical (pinned by
                # test_static_ddl_types_match_parquet_footers) —
                # any mismatch still drops the latch below and the
                # full rebuild re-covers the name
                con = _debigint_static_connection()
                try:
                    wrapped = _debigint_oracle(con, sql)
                finally:
                    con.close()
                if wrapped is not sql:
                    _DEBIGINT_CACHE[name] = wrapped
            except Exception:
                _DEBIGINT_READY = False
    else:
        _DEBIGINT_READY = False


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
# schema-only views (parquet footers when a testdata dir is present,
# else the static DDL below), so the rewrite is exact, idempotent
# (a cast column DESCRIBEs as BIGINT), and applies automatically to
# every current and future registration.

# static schema fallback (generated from the driver testdata parquet
# footers at sf0.001) — lets the wrapper run without any data dir
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

# deliberate HUGEINT emitters (instrument controls) skip the rewrite.
# Empty since r10: probe_hugeint_bare — the designed-red positive
# control that proved the mechanism from the driver's own r9 window —
# is retired (the finding is pinned by tests/test_driver_sim.py with
# an inline bare-SUM oracle, and by the committed r9 artifacts), so
# every shipped oracle now fetches portably under every fetch path.
_DEBIGINT_EXEMPT: frozenset[str] = frozenset()

_DEBIGINT_CACHE: dict[str, str] = {}
_DEBIGINT_READY = False

# oracles whose DESCRIBE failed during _debigint_all — such an oracle
# would ship unwrapped (HUGEINT intact if it has one), which is
# exactly the failure mode the rewrite exists to prevent, so the
# names are surfaced here and asserted empty by the pytest gate
# (tests/test_driver_sim.py) instead of dying at the driver seam
# (r9 ADVICE item #2).
_DEBIGINT_DESCRIBE_FAILURES: list[str] = []


def _debigint_connection():
    import os
    from pathlib import Path

    import duckdb

    for cand in (
        os.environ.get("SPARK_GRAFT_SF_DIR"),
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ):
        if cand and Path(cand).is_dir():
            ok = True
            for t in _TESTDATA_DDL:
                p = Path(cand) / f"{t}.parquet"
                if not p.exists():
                    ok = False
                    break
            if ok:
                con = duckdb.connect()
                for t in _TESTDATA_DDL:
                    p = Path(cand) / f"{t}.parquet"
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
                    )
                return con
    # no testdata dir: the schema-only fallback IS the static-DDL
    # connection — one definition, so the DDL cannot silently diverge
    # from the retry target (r11 review)
    return _debigint_static_connection()


def _debigint_static_connection():
    """Schema-only connection built from the static DDL, bypassing the
    parquet probe — the retry target when a DESCRIBE fails against the
    parquet-backed views (r10 ADVICE item #3: a footer/view quirk in
    one environment must not ship a HUGEINT emitter unwrapped)."""
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


def _debigint_all() -> None:
    global _DEBIGINT_READY
    if _DEBIGINT_READY:
        return
    # full rebuild: the latch is invalidated by register(), so the
    # cache may describe a superseded surface — clear both so stale
    # entries for re-registered or removed names cannot leak through
    # oracle_sql()'s out.update(_DEBIGINT_CACHE)
    _DEBIGINT_CACHE.clear()
    _DEBIGINT_DESCRIBE_FAILURES.clear()
    con = _debigint_connection()
    static_con = None
    try:
        for name, (fn, sql) in _REGISTRY.items():
            if sql is None or name in _DEBIGINT_EXEMPT:
                continue
            try:
                wrapped = _debigint_oracle(con, sql)
            except Exception:
                # a DESCRIBE failure against the parquet-backed views
                # is retried once against the static-DDL fallback (r10
                # ADVICE item #3 — the types are footer-identical, so
                # a view/footer quirk in one environment cannot ship a
                # HUGEINT emitter unwrapped); only if BOTH fail does
                # the original text ship, with the name recorded so
                # the pytest gate flags it instead of the failure
                # staying silent (r9 ADVICE item #2).
                try:
                    if static_con is None:
                        static_con = _debigint_static_connection()
                    wrapped = _debigint_oracle(static_con, sql)
                except Exception:
                    _DEBIGINT_DESCRIBE_FAILURES.append(name)
                    continue
            if wrapped is not sql:
                _DEBIGINT_CACHE[name] = wrapped
    finally:
        con.close()
        if static_con is not None:
            static_con.close()
    _DEBIGINT_READY = True


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load()
    return {k: v[0] for k, v in _REGISTRY.items()}


def oracle_sql(raw: bool = False) -> dict[str, str]:
    """Oracle SQL per query. Default path applies the r9 HUGEINT
    rewrite (see _debigint_all); ``raw=True`` returns the registered
    text unmodified (oracle-composition and driver-simulation use).

    Calls that re-enter during module import (oracle composition at
    registration time, e.g. queries_timeseries._strength_sql) see the
    raw text: the registry is only partially populated mid-load, so
    running — and latching — the HUGEINT rewrite there would freeze a
    wrap cache that misses every later-registered query (r9 bug)."""
    _load()
    out = {k: v[1] for k, v in _REGISTRY.items() if v[1] is not None}
    if raw or _LOADING:
        return out
    _debigint_all()
    out.update(_DEBIGINT_CACHE)
    return out


_LOADED = False
_LOADING = False

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
    global _LOADED, _LOADING
    if _LOADED:
        return
    _LOADING = True
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
    _LOADING = False
