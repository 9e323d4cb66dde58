"""Local replica of the driver's DuckDB-oracle differential check:
row count + schema-insensitive column set + order-insensitive value
hash, with columns sorted by name (per the driver contract in the task
brief). Used by tests to catch mismatches before the driver does."""

from __future__ import annotations

import math
import re
from decimal import Decimal
from pathlib import Path

import duckdb

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TESTDATA_TABLES:
        path = Path(sf_dir) / f"{name}.parquet"
        if path.exists():
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def _norm_cell(v):
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "<nan>"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        # exact shortest-roundtrip repr — NO rounding: the driver
        # hashes exact values, so a 1-ulp engine difference must fail
        # HERE first (the r5 1e-9-rounded form let three ulp-level
        # drifts ship driver-red while locally green)
        return repr(v)
    if isinstance(v, int):
        return str(v)
    return str(v)


def canonical_rows(columns, rows):
    """Sort columns by name, normalize cells, sort rows — order
    insensitive canonical form."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return [columns[i] for i in order], out


def compare(spark_df, con, sql: str) -> dict:
    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]
    res = con.execute(sql)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()

    sc, sr = canonical_rows(s_cols, s_rows)
    dc, dr = canonical_rows(d_cols, d_rows)
    report = {
        "rowcount_match": len(sr) == len(dr),
        "columns_match": sc == dc,
        "values_match": sr == dr,
        "spark_rows": len(sr),
        "duck_rows": len(dr),
        "spark_cols": sc,
        "duck_cols": dc,
    }
    if not report["values_match"] and report["rowcount_match"] and report["columns_match"]:
        diffs = [(a, b) for a, b in zip(sr, dr) if a != b][:5]
        report["first_diffs"] = diffs
    return report


def assert_match(spark_df, con, sql: str, name: str = "") -> None:
    rep = compare(spark_df, con, sql)
    assert rep["columns_match"], f"{name}: column mismatch {rep['spark_cols']} vs {rep['duck_cols']}"
    assert rep["rowcount_match"], f"{name}: rowcount {rep['spark_rows']} vs {rep['duck_rows']}"
    assert rep["values_match"], f"{name}: value mismatch, e.g. {rep.get('first_diffs')}"


def plan_str(df) -> str:
    """Formatted physical plan via the same JVM entry point the CLI's
    df.explain("formatted") uses — one shared copy because the
    PythonSQLUtils API is Spark-internal and version-sensitive."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def unpartitioned_window_orders(plan: str) -> list[str]:
    """First column of every UNPARTITIONED windowspec in a ``plan_str``
    plan (the spec opens directly with `col ASC/DESC` instead of
    partition columns)."""
    out = []
    for spec in re.findall(r"windowspecdefinition\(([^)]*)", plan):
        first = spec.split(",")[0].strip()
        if " ASC" in first or " DESC" in first:
            out.append(re.sub(r"#\d+L?", "", first.split(" ")[0]))
    return out
