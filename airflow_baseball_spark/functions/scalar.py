"""Scalar functions re-expressing the reference's inline Python parsing
(SURVEY.md §2 F1-F9) as native Spark column expressions.

Everything here compiles to Catalyst expressions inside whole-stage
codegen — the reference's row-at-a-time Python equivalents are cited
per function. No Python UDFs: at 100 TB a row-at-a-time UDF on the
scan path is a 10-100× slowdown.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# F1 — score bundle regex (dags/000_scrape_games_result.py:24-29):
# "한화3vs5두산" → (away_team, away_score, home_score, home_team).
_SCORE_RE = r"^(\D+)(\d+)vs(\d+)(\D+)$"


def parse_score_bundle(col: Column) -> list[Column]:
    """Four columns: away_team, away_score, home_score, home_team.
    Non-matching input yields empty strings — pair with
    ``col.rlike(...)`` to reproduce the reference's row-skip."""
    return [
        F.regexp_extract(col, _SCORE_RE, 1).alias("away_team"),
        F.regexp_extract(col, _SCORE_RE, 2).cast("int").alias("away_score"),
        F.regexp_extract(col, _SCORE_RE, 3).cast("int").alias("home_score"),
        F.regexp_extract(col, _SCORE_RE, 4).alias("home_team"),
    ]


def score_bundle_filter(col: Column) -> Column:
    return col.rlike(_SCORE_RE)


# F3 — datetime build (dags/000_scrape_games_result.py:31-36): strip the
# Korean weekday suffix "(월)"… then parse "MM.DD" + "HH:MM" with an
# explicit year (the reference injects datetime.now().year — a latent
# year-boundary bug we fix by making year a parameter).
def parse_game_datetime(date_col: Column, time_col: Column, year: Column | int) -> Column:
    """Total function: an invalid combination (e.g. Feb 29 into a
    non-leap target year — the reference's ``datetime.now().year``
    injection would raise here too) yields NULL instead of aborting the
    job (ANSI-mode to_timestamp throws)."""
    cleaned = F.regexp_replace(date_col, r"\([가-힣]\)", "")
    year_c = F.lit(year) if isinstance(year, int) else year
    return F.try_to_timestamp(
        F.concat(year_c.cast("string"), F.lit("."), cleaned, F.lit(" "), time_col),
        F.lit("yyyy.MM.dd HH:mm"),
    )


# F5 — "-" sentinel → NULL cast (dags/010_scrape_hitters_stats.py:30-33).
def sentinel_to_double(col: Column, sentinel: str = "-", scale: float = 1.0) -> Column:
    out = F.when(col == sentinel, F.lit(None).cast("double")).otherwise(
        col.cast("double")
    )
    if scale != 1.0:
        out = out / F.lit(scale)
    return out


# F6 — baseball innings-pitched fraction parse
# (dags/021_calculate_pitcher_metrics.py:15-30): "5 2/3"→5.667,
# "2/3"→0.667, "5"→5.0. Pure expression: split whole/fraction parts.
def ip_to_float(col: Column) -> Column:
    whole = F.regexp_extract(col, r"^(\d+)(?:\s|$)", 1)
    frac = F.regexp_extract(col, r"(\d+)/(\d+)", 1)
    denom = F.regexp_extract(col, r"(\d+)/(\d+)", 2)
    whole_v = F.when(whole == "", F.lit(0.0)).otherwise(whole.cast("double"))
    frac_v = F.when(
        denom == "", F.lit(0.0)
    ).otherwise(frac.cast("double") / denom.cast("double"))
    return F.when(col.isNull(), F.lit(None).cast("double")).otherwise(
        whole_v + frac_v
    )


# F9 — conditional sign of a 5-inning partial result
# (dags/070_get_game_resulty.py:114-119): away leads → -1, tie → 0,
# home leads → 1.
def game_sign(home_sum: Column, away_sum: Column) -> Column:
    return F.signum(home_sum - away_sum).cast("int")


def round6_portable(c: Column | str) -> Column:
    """Portable round-to-6: floor(x*1e6 + 0.5)/1e6 — the same three
    IEEE ops in both engines, so results agree bit-for-bit at ANY
    scale. Spark's round() converts through Java's shortest-string
    BigDecimal, which can disagree with DuckDB's exact-double ROUND by
    one ulp at .xxxxxx5 boundaries (observed at sf0.1). The single
    canonical copy — query modules import this instead of re-deriving
    the trick."""
    c = F.col(c) if isinstance(c, str) else c
    return F.floor(c * 1000000.0 + 0.5) / 1000000.0


def r6_sql(expr: str) -> str:
    """SQL oracle twin of :func:`round6_portable`."""
    return f"FLOOR(({expr}) * 1000000.0 + 0.5) / 1000000.0"


def dec_portable(c: Column | str, precision: int = 18, scale: int = 2) -> Column:
    """Portable double→DECIMAL(p,s) (r8 sweep, r7 verdict item #3):
    floor(x*10^s + 0.5)/10^s as a DOUBLE first — identical IEEE ops on
    both engines — then the now-safe decimal cast. A bare
    CAST(double AS DECIMAL(p,s)) is engine-DIVERGENT at (s+1)-decimal
    ties: Spark casts via the shortest decimal string (0.615d → 0.62)
    while DuckDB rounds the binary value (→ 0.61); the retired r8
    probe_dec_cast measured exactly this divergence on tie-carrying
    vintages (the local `driverish` vintage still injects such ties). Quantizing first makes the tie
    decision in shared IEEE arithmetic, and the quantized double (an
    exact s-decimal value) casts identically on both engines. Identity
    on values already at ≤s decimals — every driver-attested green is
    unchanged.

    SQL oracle twin: ``CAST(FLOOR(x * 10^s + 0.5) / 10^s AS
    DECIMAL(p,s))``. Enforced by the `driverish` testdata vintage
    (tests/make_testdata_variant.py), which injects 3-decimal tie
    values into every stored double so any remaining bare cast fails
    the local sweep."""
    c = F.col(c) if isinstance(c, str) else c
    m = float(10 ** scale)
    return (F.floor(c * m + 0.5) / m).cast(f"decimal({precision},{scale})")
