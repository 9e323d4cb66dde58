"""Domain-pipeline queries: run the real baseball pipelines (hitter
cascade, pitcher metrics, integration wide-row, game-results parsing)
over baseball-shaped tables derived *deterministically* from the driver
testdata, with full SQL oracle twins.

This is the strongest correctness evidence for SURVEY.md §2: the exact
production code paths (``pipelines/*``) are differentially tested
against DuckDB, not just re-phrasings of their semantics.

Derivations use only integer modular arithmetic and string concat from
testdata keys, so both engines construct bit-identical inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airflow_baseball_spark import registry
from airflow_baseball_spark.pipelines.game_results import (
    five_inning_result,
    parse_game_records,
)
from airflow_baseball_spark.pipelines.hitter_metrics import hitter_metrics
from airflow_baseball_spark.pipelines.integration import integration_records
from airflow_baseball_spark.pipelines.pitcher_metrics import pitcher_metrics
from airflow_baseball_spark.schemas import load_table

# ---------------------------------------------------------------------------
# hitter metric cascade (011+012+013 fused)
# ---------------------------------------------------------------------------


def _hitters_shaped(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    return c.select(
        k.alias("hitter_id"),
        F.col("c_name").alias("player_name"),
        F.col("c_mktsegment").alias("team_name"),
        (k % 53).cast("int").alias("pa"),
        (k % 47).cast("int").alias("ab"),
        (k % 11).cast("int").alias("runs"),
        (k % 17).cast("int").alias("hits"),
        (k % 5).cast("int").alias("doubles"),
        (k % 3).cast("int").alias("triples"),
        (k % 7).cast("int").alias("hr"),
        (k % 4).cast("int").alias("sb"),
        (k % 2).cast("int").alias("cs"),
        (k % 6).cast("int").alias("sac"),
        (k % 2).cast("int").alias("sf"),
        (k % 9).cast("int").alias("bb"),
        (k % 3).cast("int").alias("ibb"),
        (k % 2).cast("int").alias("hbp"),
        (k % 13).cast("int").alias("so"),
        F.when(k % 13 == 0, None).otherwise((k % 40) / 100.0).alias("obp"),
        F.when(k % 17 == 0, None).otherwise((k % 60) / 100.0).alias("slg"),
    )


_HITTERS_SHAPED_SQL = """
  SELECT c_custkey AS hitter_id, c_name AS player_name,
         c_mktsegment AS team_name,
         CAST(c_custkey % 53 AS INT) AS pa,
         CAST(c_custkey % 47 AS INT) AS ab,
         CAST(c_custkey % 11 AS INT) AS runs,
         CAST(c_custkey % 17 AS INT) AS hits,
         CAST(c_custkey % 5 AS INT) AS doubles,
         CAST(c_custkey % 3 AS INT) AS triples,
         CAST(c_custkey % 7 AS INT) AS hr,
         CAST(c_custkey % 4 AS INT) AS sb,
         CAST(c_custkey % 2 AS INT) AS cs,
         CAST(c_custkey % 6 AS INT) AS sac,
         CAST(c_custkey % 2 AS INT) AS sf,
         CAST(c_custkey % 9 AS INT) AS bb,
         CAST(c_custkey % 3 AS INT) AS ibb,
         CAST(c_custkey % 2 AS INT) AS hbp,
         CAST(c_custkey % 13 AS INT) AS so,
         CASE WHEN c_custkey % 13 = 0 THEN NULL
              ELSE (c_custkey % 40) / 100.0 END AS obp,
         CASE WHEN c_custkey % 17 = 0 THEN NULL
              ELSE (c_custkey % 60) / 100.0 END AS slg
  FROM customer
"""


# canonical portable rounding lives in functions/scalar.py
from airflow_baseball_spark.functions.scalar import round6_portable as _r6  # noqa: E402


def q_hitter_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = hitter_metrics(_hitters_shaped(spark, sf_dir))
    # round every double to 6 on both sides — the driver's value hash
    # is ulp-sensitive, so unrounded per-row IEEE results are not safe
    # even when the operation order matches (CORRECTNESS_r01).
    return out.select(
        "hitter_id",
        _r6("wOBA").alias("woba"),
        _r6("wRC").alias("wrc"),
        _r6("k_rate").alias("k_rate"),
        _r6("bb_rate").alias("bb_rate"),
        _r6("babip").alias("babip"),
    )


registry.register(
    "hitter_cascade",
    q_hitter_cascade,
    f"""
    WITH hitters AS ({_HITTERS_SHAPED_SQL}),
    with_woba AS (
      -- e-notation literals force DOUBLE: a bare 0.7 is DECIMAL in
      -- DuckDB and 0.7*int stays exact decimal, diverging from Spark's
      -- double arithmetic by an ulp
      SELECT *,
             CASE WHEN pa - ibb - sac <> 0 THEN
               (0.7e0 * (bb - ibb + hbp) + 0.9e0 * hits + 1.25e0 * doubles
                + 1.6e0 * triples + 2.0e0 * hr + 0.25e0 * sb - 0.5e0 * cs)
               / (pa - ibb - sac) END AS wOBA
      FROM hitters
    ),
    league AS (
      SELECT AVG(wOBA) AS lg_woba, AVG(obp) AS lg_obp, AVG(slg) AS lg_slg,
             SUM(pa) AS lg_pa, SUM(runs) AS lg_runs
      FROM with_woba
    )
    -- floor(x*1e6 + 0.5)/1e6 everywhere: the same IEEE ops as the
    -- Spark side (_r6), agreeing bit-for-bit at any scale — ROUND()
    -- tie handling differs between engines at .xxxxxx5 boundaries
    SELECT hitter_id,
           floor(wOBA * 1.0e6 + 0.5e0) / 1.0e6 AS woba,
           floor((((wOBA - lg_woba)
                   / ((lg_woba - lg_obp) / (lg_slg - lg_obp))
                  + lg_runs / lg_pa) * pa) * 1.0e6 + 0.5e0) / 1.0e6 AS wrc,
           floor((CASE WHEN pa <> 0 THEN so / pa END) * 1.0e6 + 0.5e0)
             / 1.0e6 AS k_rate,
           floor((CASE WHEN pa <> 0 THEN bb / pa END) * 1.0e6 + 0.5e0)
             / 1.0e6 AS bb_rate,
           floor((CASE WHEN ab - so - hr + sf <> 0 THEN
             (hits - hr) / (ab - so - hr + sf) END) * 1.0e6 + 0.5e0)
             / 1.0e6 AS babip
    FROM with_woba CROSS JOIN league
    """,
)


# ---------------------------------------------------------------------------
# pitcher metrics (021)
# ---------------------------------------------------------------------------


def _pitchers_shaped(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ip = (
        F.when(k % 3 == 0, F.concat((k % 9).cast("int").cast("string"), F.lit(" 2/3")))
        .when(k % 3 == 1, F.lit("1/3"))
        .otherwise((k % 9).cast("int").cast("string"))
    )
    era = F.when(k % 19 == 0, F.lit("-")).otherwise(
        ((k % 90) / 10.0).cast("string")
    )
    return c.select(
        k.alias("pitcher_id"),
        era.alias("era"),
        ip.alias("ip"),
        (k % 8).cast("int").alias("hr"),
        (k % 10).cast("int").alias("bb"),
        (k % 15).cast("int").alias("so"),
    )


_PITCHERS_SHAPED_SQL = """
  SELECT c_custkey AS pitcher_id,
         CASE WHEN c_custkey % 19 = 0 THEN '-'
              ELSE CAST((c_custkey % 90) / 10.0 AS VARCHAR) END AS era,
         CASE WHEN c_custkey % 3 = 0
                THEN CAST(CAST(c_custkey % 9 AS INT) AS VARCHAR) || ' 2/3'
              WHEN c_custkey % 3 = 1 THEN '1/3'
              ELSE CAST(CAST(c_custkey % 9 AS INT) AS VARCHAR) END AS ip,
         CAST(c_custkey % 8 AS INT) AS hr,
         CAST(c_custkey % 10 AS INT) AS bb,
         CAST(c_custkey % 15 AS INT) AS so
  FROM customer
"""


def q_pitcher_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = pitcher_metrics(_pitchers_shaped(spark, sf_dir))
    return out.select(
        "pitcher_id",
        F.round("fip", 6).alias("fip"),
        F.round("k_9", 6).alias("k_9"),
        F.round("bb_9", 6).alias("bb_9"),
        F.round("hr_9", 6).alias("hr_9"),
    )


registry.register(
    "pitcher_metrics",
    q_pitcher_metrics,
    f"""
    WITH pitchers AS ({_PITCHERS_SHAPED_SQL}),
    parsed AS (
      SELECT pitcher_id, hr, bb, so,
             (CASE WHEN regexp_extract(ip, '^(\\d+)(\\s|$)', 1) = '' THEN 0.0
                   ELSE CAST(regexp_extract(ip, '^(\\d+)(\\s|$)', 1) AS DOUBLE) END
              + CASE WHEN regexp_extract(ip, '(\\d+)/(\\d+)', 2) = '' THEN 0.0
                     ELSE CAST(regexp_extract(ip, '(\\d+)/(\\d+)', 1) AS DOUBLE)
                          / CAST(regexp_extract(ip, '(\\d+)/(\\d+)', 2) AS DOUBLE) END
             ) AS ip_f,
             TRY_CAST(era AS DOUBLE) AS era_f
      FROM pitchers
    ),
    league AS (
      SELECT SUM(hr) AS lg_hr, SUM(bb) AS lg_bb, SUM(so) AS lg_so,
             SUM(ip_f) AS lg_ip, AVG(era_f) AS lg_era
      FROM parsed
    )
    SELECT pitcher_id,
           CASE WHEN ip_f <> 0 THEN ROUND(
             (13.0 * hr + 3.0 * bb - 2.0 * so) / ip_f
             + (lg_era - (13.0 * lg_hr + 3.0 * lg_bb - 2.0 * lg_so) / lg_ip), 6)
           END AS fip,
           CASE WHEN ip_f <> 0 THEN ROUND(9.0 * so / ip_f, 6) END AS k_9,
           CASE WHEN ip_f <> 0 THEN ROUND(9.0 * bb / ip_f, 6) END AS bb_9,
           CASE WHEN ip_f <> 0 THEN ROUND(9.0 * hr / ip_f, 6) END AS hr_9
    FROM parsed CROSS JOIN league
    """,
)


# ---------------------------------------------------------------------------
# integration wide-row (050/060): C1 drop, C2-C4 NULL fill, B5 filter, path
# ---------------------------------------------------------------------------


def q_integration_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    lineup = c.select(
        F.lit("2025-05-21").cast("date").alias("game_date"),
        F.col("c_name").alias("player"),
        F.col("c_mktsegment").alias("team"),
        (k % 10).cast("int").alias("position"),
        F.concat(F.lit("N"), (k % 25).cast("int").cast("string")).alias("opponent"),
        F.concat(F.lit("S"), (k % 9).cast("int").cast("string")).alias("stadium"),
    )
    master = c.filter(k % 11 != 0).select(  # some lineup players lack a master row
        k.alias("hitter_id"),
        F.col("c_name").alias("player_name"),
        F.col("c_mktsegment").alias("team_name"),
        (k % 53).cast("int").alias("pa"),
    )
    metrics = c.filter(k % 2 == 0).select(
        k.alias("hitter_id"), ((k % 37) / 100.0).alias("wOBA")
    )
    opponents = c.filter(k % 3 == 0).select(
        k.alias("hitter_id"),
        F.concat(F.lit("N"), (k % 25).cast("int").cast("string")).alias(
            "opponent_team"
        ),
        ((k % 31) / 100.0).alias("avg"),
    )
    stadiums = c.filter(k % 5 == 0).select(
        k.alias("hitter_id"),
        F.concat(F.lit("S"), (k % 9).cast("int").cast("string")).alias("stadium"),
        ((k % 29) / 100.0).alias("avg"),
    )
    wide = integration_records(
        lineup, master, metrics, opponents, stadiums, role="hitter"
    )
    return wide.select(
        "hitter_id",
        "position",
        "wOBA",
        "opponent_avg",
        "stadium_avg",
        "recent_games_file_path",
    )


registry.register(
    "integration_wide",
    q_integration_wide,
    """
    WITH lineup AS (
      SELECT c_name AS player, c_mktsegment AS team,
             CAST(c_custkey % 10 AS INT) AS position,
             'N' || CAST(CAST(c_custkey % 25 AS INT) AS VARCHAR) AS opponent,
             'S' || CAST(CAST(c_custkey % 9 AS INT) AS VARCHAR) AS stadium
      FROM customer
    ),
    master AS (
      SELECT c_custkey AS hitter_id, c_name AS player_name,
             c_mktsegment AS team_name
      FROM customer WHERE c_custkey % 11 <> 0
    ),
    metrics AS (
      SELECT c_custkey AS hitter_id, (c_custkey % 37) / 100.0 AS wOBA
      FROM customer WHERE c_custkey % 2 = 0
    ),
    opponents AS (
      SELECT c_custkey AS hitter_id,
             'N' || CAST(CAST(c_custkey % 25 AS INT) AS VARCHAR) AS opponent_team,
             (c_custkey % 31) / 100.0 AS opponent_avg
      FROM customer WHERE c_custkey % 3 = 0
    ),
    stadiums AS (
      SELECT c_custkey AS hitter_id,
             'S' || CAST(CAST(c_custkey % 9 AS INT) AS VARCHAR) AS stadium,
             (c_custkey % 29) / 100.0 AS stadium_avg
      FROM customer WHERE c_custkey % 5 = 0
    )
    SELECT m.hitter_id, l.position, metrics.wOBA,
           o.opponent_avg, s.stadium_avg,
           '/data/hitter/id_bucket=' || CAST(m.hitter_id % 8 AS VARCHAR)
             AS recent_games_file_path
    FROM lineup l
    JOIN master m ON l.player = m.player_name AND l.team = m.team_name
    LEFT JOIN metrics ON m.hitter_id = metrics.hitter_id
    LEFT JOIN opponents o
      ON m.hitter_id = o.hitter_id AND l.opponent = o.opponent_team
    LEFT JOIN stadiums s
      ON m.hitter_id = s.hitter_id AND l.stadium = s.stadium
    WHERE l.position <> 0
    """,
)


# ---------------------------------------------------------------------------
# game-results parsing (000) and 5-inning sign (070)
# ---------------------------------------------------------------------------


def q_game_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    ok, ck = F.col("o_orderkey"), F.col("o_custkey")
    away = F.substring(F.lit("ABCDEFG"), (ck % 5 + 1).cast("int"), 3)
    home = F.substring(F.lit("HIJKLMN"), (ok % 5 + 1).cast("int"), 3)
    score_str = F.when(ok % 13 == 0, F.lit("경기취소")).otherwise(
        F.concat(
            away,
            (ck % 12).cast("int").cast("string"),
            F.lit("vs"),
            (ok % 12).cast("int").cast("string"),
            home,
        )
    )
    # Feb-29 order dates cannot land in (non-leap) 2025 — exclude on
    # both sides; the engine-side parser maps them to NULL anyway.
    orders = orders.filter(
        ~((F.month("o_orderdate") == 2) & (F.dayofmonth("o_orderdate") == 29))
    )
    raw = orders.select(
        F.concat(F.date_format("o_orderdate", "MM.dd"), F.lit("(수)")).alias(
            "date_str"
        ),
        F.lit("18:30").alias("time_str"),
        score_str.alias("score_str"),
        F.concat(F.lit("S"), (ok % 9).cast("int").cast("string")).alias("stadium"),
    )
    return parse_game_records(raw, 2025)


registry.register(
    "game_parse",
    q_game_parse,
    """
    WITH raw AS (
      SELECT strftime(o_orderdate, '%m.%d') || '(수)' AS date_str,
             CASE WHEN o_orderkey % 13 = 0 THEN '경기취소'
                  ELSE substring('ABCDEFG', CAST(o_custkey % 5 + 1 AS INT), 3)
                       || CAST(CAST(o_custkey % 12 AS INT) AS VARCHAR)
                       || 'vs'
                       || CAST(CAST(o_orderkey % 12 AS INT) AS VARCHAR)
                       || substring('HIJKLMN', CAST(o_orderkey % 5 + 1 AS INT), 3)
             END AS score_str,
             'S' || CAST(CAST(o_orderkey % 9 AS INT) AS VARCHAR) AS stadium,
             o_orderdate
      FROM orders
      WHERE NOT (month(o_orderdate) = 2 AND day(o_orderdate) = 29)
    )
    SELECT make_timestamp(2025, month(o_orderdate), day(o_orderdate), 18, 30, 0)
             AS game_date,
           regexp_extract(score_str, '^(\\D+)(\\d+)vs(\\d+)(\\D+)$', 1) AS away_team,
           CAST(regexp_extract(score_str, '^(\\D+)(\\d+)vs(\\d+)(\\D+)$', 2) AS INT)
             AS away_score,
           CAST(regexp_extract(score_str, '^(\\D+)(\\d+)vs(\\d+)(\\D+)$', 3) AS INT)
             AS home_score,
           regexp_extract(score_str, '^(\\D+)(\\d+)vs(\\d+)(\\D+)$', 4) AS home_team,
           stadium
    FROM raw
    WHERE regexp_matches(score_str, '^(\\D+)(\\d+)vs(\\d+)(\\D+)$')
    """,
)


def q_five_inning(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    ok, ck = F.col("o_orderkey"), F.col("o_custkey")
    cols = [ok.alias("game_date"), F.lit("A").alias("away_team"), F.lit("H").alias("home_team")]
    for i in range(1, 6):
        cols.append(((ck + i) % 5).cast("int").alias(f"away_i{i}"))
        cols.append(((ok + i) % 4).cast("int").alias(f"home_i{i}"))
    partials = orders.select(*cols)
    return five_inning_result(partials)


registry.register(
    "five_inning_sign",
    q_five_inning,
    """
    WITH partials AS (
      SELECT o_orderkey AS game_date, 'A' AS away_team, 'H' AS home_team,
             CAST((o_custkey + 1) % 5 AS INT) + CAST((o_custkey + 2) % 5 AS INT)
             + CAST((o_custkey + 3) % 5 AS INT) + CAST((o_custkey + 4) % 5 AS INT)
             + CAST((o_custkey + 5) % 5 AS INT) AS away_score_5,
             CAST((o_orderkey + 1) % 4 AS INT) + CAST((o_orderkey + 2) % 4 AS INT)
             + CAST((o_orderkey + 3) % 4 AS INT) + CAST((o_orderkey + 4) % 4 AS INT)
             + CAST((o_orderkey + 5) % 4 AS INT) AS home_score_5
      FROM orders
    )
    SELECT game_date, away_team, home_team, away_score_5, home_score_5,
           CAST(sign(home_score_5 - away_score_5) AS INT) AS result
    FROM partials
    """,
)
