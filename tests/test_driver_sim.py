"""Gates for the r9 instrument finding (PERF_NOTES.md r9): the
driver's oracle fetch is dtype-preserving, DuckDB HUGEINT degrades to
float64 there, and every driver red ever recorded was exactly that
split. These tests pin

1. the repo-wide invariant that `oracle_sql()` never ships a HUGEINT
   output column (the automatic CAST-to-BIGINT rewrite stays on and
   stays complete),
2. the dtype-sensitive local replica (`tests/driver_sim.py`)
   reproducing the split on a bare-HUGEINT oracle and NOT on its cast
   twin — the pair the driver window attests as red/green,
3. the nullable-int refinement: declared BIGINT columns survive NULLs
   (pandas float64) without splitting, pinned driver-side by
   accumulating_snapshot's r8 green.

Full-window replication artifacts: DRIVER_SIM_r9_prefix.txt (raw
oracles, 50/50 agreement with CORRECTNESS_r08.json) and
DRIVER_SIM_r9_postfix.txt (wrapped, 0/50 red).
"""

from __future__ import annotations

from pathlib import Path

import pytest

from tests.driver_sim import compare_driverish
from tests.oracle_harness import duckdb_connect

from airflow_baseball_spark import registry

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    return duckdb_connect(SF)


def test_no_hugeint_in_any_wrapped_oracle(con):
    """The driver-red mechanism, eliminated surface-wide: DESCRIBE
    every shipped oracle; NONE may emit HUGEINT (the designed-red
    control probe_hugeint_bare was retired in r10, so the offender
    list must be empty). A failure here means a new registration SUMs
    integers without the registry rewrite catching it. Also asserts
    no DESCRIBE silently failed during the rewrite pass (r9 ADVICE
    item #2) — a DESCRIBE failure ships the oracle unwrapped, exactly
    the hole the rewrite exists to close."""
    sqls = registry.oracle_sql()
    offenders = []
    for name, sql in sqls.items():
        desc = con.execute("DESCRIBE " + sql).fetchall()
        if any(t in ("HUGEINT", "UHUGEINT") for _, t, *_ in desc):
            offenders.append(name)
    assert offenders == [], offenders
    assert registry._DEBIGINT_DESCRIBE_FAILURES == []


def test_sim_splits_bare_hugeint_not_cast_twin(spark, con):
    """The r9 instrument finding, pinned without a registered designed
    red: the same Spark aggregation against the BARE integer-SUM
    oracle (kept as queries_probes.BARE_HUGEINT_SQL since the probe's
    r10 retirement) must still split under the dtype-sensitive sim,
    while the shipped cast twin stays green — the exact red/green pair
    the r9 driver window attested live (CORRECTNESS_r09.json)."""
    from airflow_baseball_spark import queries_probes

    qs = registry.queries()
    sqls = registry.oracle_sql()
    bare = compare_driverish(
        queries_probes._linenumber_sum(spark, SF),
        con,
        queries_probes.BARE_HUGEINT_SQL,
    )
    cast = compare_driverish(
        qs["probe_hugeint_cast"](spark, SF), con, sqls["probe_hugeint_cast"]
    )
    assert not bare["values_match"], "sim lost its HUGEINT sensitivity"
    assert bare["rowcount_match"] and bare["columns_match"]
    assert cast["values_match"], cast.get("first_diffs")


def test_sim_agrees_with_fetchall_on_wrapped_ex_red(spark, con):
    """tpch_q12ish — four rounds driver-red, value-correct all along:
    with the wrapped oracle both comparators must agree green."""
    from tests.oracle_harness import compare

    qs = registry.queries()
    sqls = registry.oracle_sql()
    df = qs["tpch_q12ish"](spark, SF)
    sim = compare_driverish(df, con, sqls["tpch_q12ish"])
    exact = compare(qs["tpch_q12ish"](spark, SF), con, sqls["tpch_q12ish"])
    assert sim["values_match"], sim.get("first_diffs")
    assert exact["values_match"], exact.get("first_diffs")


def test_sim_nullable_bigint_does_not_split(spark, con):
    """accumulating_snapshot outputs nullable BIGINTs (pandas
    float64); the driver kept it green in r8, so the sim must render
    declared-int64 columns as ints through NULLs."""
    qs = registry.queries()
    sqls = registry.oracle_sql()
    rep = compare_driverish(
        qs["accumulating_snapshot"](spark, SF),
        con,
        sqls["accumulating_snapshot"],
    )
    assert rep["values_match"], rep.get("first_diffs")


def test_static_ddl_fallback_detects_hugeint():
    """The registry's schema-only DESCRIBE environment must work from
    the embedded static DDL alone (no testdata dir) — the driver could
    run oracle_sql() from any cwd. Build the fallback tables directly
    and check a known integer-SUM oracle DESCRIBEs to HUGEINT there
    (i.e. the wrap decision would be identical without parquet)."""
    import duckdb

    con = duckdb.connect()
    for t, cols in registry._TESTDATA_DDL.items():
        con.execute(f"CREATE TABLE {t} ({cols})")
    desc = con.execute(
        "DESCRIBE SELECT SUM(l_linenumber) AS s FROM lineitem"
    ).fetchall()
    assert [t for _, t, *_ in desc] == ["HUGEINT"]
    wrapped = registry._debigint_oracle(
        con, "SELECT SUM(l_linenumber) AS s FROM lineitem"
    )
    desc2 = con.execute("DESCRIBE " + wrapped).fetchall()
    assert [t for _, t, *_ in desc2] == ["BIGINT"]


_REPO = Path(__file__).resolve().parents[1]

# nstz stores its three timestamp columns tz-tagged on purpose (the
# oracle-side _TS_NORM_CTES normalize them back to naive UTC); a
# tz-tagged timestamp never DESCRIBEs as HUGEINT, so the difference
# cannot change a wrap decision.
_NSTZ_TYPES = {
    ("orders", "o_orderdate"): "TIMESTAMP WITH TIME ZONE",
    ("lineitem", "l_shipdate"): "TIMESTAMP WITH TIME ZONE",
    ("events", "ts"): "TIMESTAMP WITH TIME ZONE",
}


@pytest.mark.parametrize(
    "sf, expected_diff",
    [
        pytest.param(sf, diff, id=sf.name)
        for sf, diff in [
            (Path(SF), {}),
            (Path(SF).parent / "sf0.01", {}),
            (Path(SF).parent / "sf0.1", {}),
            (_REPO / "testdata_variants/sf0.001_driverish", {}),
            (_REPO / "testdata_variants/sf0.001_nstz", _NSTZ_TYPES),
        ]
    ],
)
def test_static_ddl_types_match_parquet_footers(sf, expected_diff):
    """The premise behind DESCRIBEing every oracle against the static
    DDL only: it agrees with the parquet footers of each testdata dir
    on every column name and type (save nstz's intended tz-tagged
    timestamps), so a wrap decision cannot depend on which data the
    driver reads. Compare DESCRIBE per table across the two."""
    if not sf.is_dir():
        pytest.skip(f"{sf} not present")
    import duckdb

    pq = duckdb.connect()
    st = registry._debigint_static_connection()
    try:
        for t in registry._TESTDATA_DDL:
            a = pq.execute(
                "DESCRIBE SELECT * FROM "
                f"read_parquet('{sf / (t + '.parquet')}')"
            ).fetchall()
            b = st.execute(f"DESCRIBE {t}").fetchall()
            want = [(c, expected_diff.get((t, c), ty)) for c, ty, *_ in b]
            got = [(c, ty) for c, ty, *_ in a]
            assert got == want, f"{t}: parquet footers {got} != {want}"
    finally:
        pq.close()
        st.close()


def test_late_registration_still_gets_wrapped(con):
    """Registration-time HUGEINT protection (r9 verdict item #5): a
    bare SUM(int) oracle registered AFTER oracle_sql() has already
    run must still ship wrapped. Quoted-identifier path (r9 ADVICE
    item #1) is exercised via an alias that needs quoting."""
    from airflow_baseball_spark import queries_probes

    registry.oracle_sql()  # memoize every registered text first
    name = "zz_test_lint_bare_tmp"
    bare = 'SELECT SUM(l_linenumber) AS "sum(x)" FROM lineitem'
    try:
        registry.register(name, queries_probes._linenumber_sum, bare)
        shipped = registry.oracle_sql()[name]
        assert shipped != bare, "late registration skipped the rewrite"
        desc = con.execute("DESCRIBE " + shipped).fetchall()
        assert [t for _, t, *_ in desc] == ["BIGINT"], desc
    finally:
        registry._REGISTRY.pop(name, None)


def test_late_registration_wraps_incrementally(con, monkeypatch):
    """A registration after oracle_sql() has run costs exactly one
    DESCRIBE on the next call (the memo already holds every other
    text), not a re-DESCRIBE of every registered oracle."""
    from airflow_baseball_spark import queries_probes

    registry.oracle_sql()  # memoize every registered text first
    calls = []
    real = registry._debigint_oracle

    def counting(c, sql):
        calls.append(sql)
        return real(c, sql)

    monkeypatch.setattr(registry, "_debigint_oracle", counting)
    name = "zz_test_lint_incr_tmp"
    bare = "SELECT SUM(l_linenumber) AS incr_s FROM lineitem"
    try:
        registry.register(name, queries_probes._linenumber_sum, bare)
        shipped = registry.oracle_sql()[name]
        assert calls == [registry.oracle_sql(raw=True)[name]], calls
        desc = con.execute("DESCRIBE " + shipped).fetchall()
        assert [t for _, t, *_ in desc] == ["BIGINT"], desc
    finally:
        registry._REGISTRY.pop(name, None)


def test_describe_failure_ships_text_and_is_ledgered():
    """An oracle whose DESCRIBE fails ships as its registered text and
    is named in the failure ledger; the ledger is rebuilt from the
    current registry on every call, so re-registering the name with
    valid text, or removing it, empties it again."""
    from airflow_baseball_spark import queries_probes

    name = "zz_test_lint_badsql_tmp"
    bad = "SELECT no_such_column AS s FROM lineitem"
    try:
        registry.register(name, queries_probes._linenumber_sum, bad)
        shipped = registry.oracle_sql()[name]
        assert shipped == registry.oracle_sql(raw=True)[name]
        assert registry._DEBIGINT_DESCRIBE_FAILURES == [name]
        registry.register(
            name,
            queries_probes._linenumber_sum,
            "SELECT SUM(l_linenumber) AS s FROM lineitem",
        )
        assert "BIGINT" in registry.oracle_sql()[name]
        assert registry._DEBIGINT_DESCRIBE_FAILURES == []
        registry.register(name, queries_probes._linenumber_sum, bad)
        registry.oracle_sql()
        assert registry._DEBIGINT_DESCRIBE_FAILURES == [name]
        registry._REGISTRY.pop(name)
        registry.oracle_sql()
        assert registry._DEBIGINT_DESCRIBE_FAILURES == []
    finally:
        registry._REGISTRY.pop(name, None)
        registry.oracle_sql()


def test_reregistration_does_not_leak_stale_wrap(con):
    """The rewrite memo is keyed by oracle text, so RE-registering a
    name with new SQL (or removing it) cannot leave a stale wrapped
    oracle behind for that name."""
    from airflow_baseball_spark import queries_probes

    name = "zz_test_lint_rereg_tmp"
    bare = "SELECT SUM(l_linenumber) AS s FROM lineitem"
    plain = "SELECT COUNT(*) AS s FROM lineitem"
    try:
        registry.register(name, queries_probes._linenumber_sum, bare)
        first = registry.oracle_sql()[name]
        assert "BIGINT" in first  # wrapped
        registry.register(name, queries_probes._linenumber_sum, plain)
        second = registry.oracle_sql()[name]
        assert "SUM" not in second, "stale wrapped oracle leaked"
        desc = con.execute("DESCRIBE " + second).fetchall()
        assert [t for _, t, *_ in desc] == ["BIGINT"], desc
    finally:
        registry._REGISTRY.pop(name, None)


def test_dup_keys_probe_pins_generation_key_profile(spark, con):
    """Pin the standard generation's duplicate-key profile: doc_id,
    event_id, and o_orderkey are unique; the lineitem composite
    (l_orderkey, l_linenumber) is KNOWN non-unique (1401 duplicate
    rows at sf0.001, 14168 at sf0.01 — discovered r9 by this very
    probe). Window orders must therefore never treat that pair as a
    total key; the two consumers were audited tie-order-insensitive
    (weighted_median: tied rows share the sort-keyed price, so the
    surviving MIN(price) is unchanged; order_line_inversions: join
    set semantics, no ordering). If the uniqueness of the three
    single-column keys ever breaks, every row_number over them needs
    the same audit."""
    qs = registry.queries()
    row = qs["probe_dup_keys"](spark, SF).collect()[0]
    assert (
        row["dup_doc_id"],
        row["dup_event_id"],
        row["dup_orderkey"],
    ) == (0, 0, 0)
    assert row["dup_lineitem_key"] > 0  # known, audited non-uniqueness
