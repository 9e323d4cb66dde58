"""Integration-stage tests (050/060): join-chain semantics C1-C4,
role filters B5, top-5 recent games E1, partitioned CSV sink A10."""

from __future__ import annotations

import datetime
import os
import tempfile

from pyspark.sql import functions as F

from airflow_baseball_spark.pipelines.integration import (
    integration_records,
    recent_games,
)


def _lineup(spark):
    return spark.createDataFrame(
        [
            (datetime.date(2025, 5, 21), "kim", "T1", 3, "T2", "S1"),
            (datetime.date(2025, 5, 21), "choi", "T2", 5, "T1", "S9"),
            (datetime.date(2025, 5, 21), "ghost", "T9", 4, "T1", "S1"),  # no master
            (datetime.date(2025, 5, 21), "ace", "T1", 0, "T2", "S1"),  # pitcher
        ],
        "game_date date, player string, team string, position int,"
        " opponent string, stadium string",
    )


def test_hitter_integration_join_semantics(spark):
    master = spark.createDataFrame(
        [(1, "kim", "T1", 40), (4, "choi", "T2", 12), (9, "ace", "T1", 0)],
        "hitter_id int, player_name string, team_name string, pa int",
    )
    metrics = spark.createDataFrame([(1, 0.42)], "hitter_id int, wOBA double")
    opponents = spark.createDataFrame(
        [(1, "T2", 0.31)], "hitter_id int, opponent_team string, avg double"
    )
    stadiums = spark.createDataFrame(
        [(1, "S1", 0.28)], "hitter_id int, stadium string, avg double"
    )
    out = {
        r["hitter_id"]: r
        for r in integration_records(
            _lineup(spark), master, metrics, opponents, stadiums, role="hitter"
        ).collect()
    }
    # ghost dropped (C1 inner), ace filtered (B5 position=0)
    assert set(out) == {1, 4}
    assert out[1]["wOBA"] == 0.42
    assert out[4]["wOBA"] is None  # C2 left-join NULL fill
    assert out[1]["opponent_avg"] == 0.31
    assert out[4]["opponent_avg"] is None  # C3 missing split
    assert out[1]["stadium_avg"] == 0.28
    assert out[4]["stadium_avg"] is None  # C4 missing split
    assert out[1]["recent_games_file_path"] == "/data/hitter/id_bucket=1"


def test_pitcher_role_filter(spark):
    master = spark.createDataFrame(
        [(9, "ace", "T1", "5 2/3")],
        "pitcher_id int, player_name string, team_name string, ip string",
    )
    empty_metrics = spark.createDataFrame([], "pitcher_id int, fip double")
    empty_split_o = spark.createDataFrame(
        [], "pitcher_id int, opponent_team string, era string"
    )
    empty_split_s = spark.createDataFrame(
        [], "pitcher_id int, stadium string, era string"
    )
    out = integration_records(
        _lineup(spark), master, empty_metrics, empty_split_o, empty_split_s,
        role="pitcher",
    ).collect()
    assert len(out) == 1 and out[0]["pitcher_id"] == 9  # only position==0


def test_recent_games_top5_and_sink(spark):
    rows = []
    for pid, n in [(1, 7), (2, 5), (3, 2)]:
        for i in range(n):
            rows.append((pid, datetime.date(2025, 5, 1 + i), i))
    games = spark.createDataFrame(rows, "hitter_id int, game_date date, hits int")
    with tempfile.TemporaryDirectory() as d:
        out = recent_games(games, role="hitter", k=5, out_path=f"{d}/rg")
        counts = {
            r["hitter_id"]: r["n"]
            for r in out.groupBy("hitter_id").agg(F.count("*").alias("n")).collect()
        }
        assert counts == {1: 5, 2: 5, 3: 2}
        # player 1 keeps the 5 LATEST dates
        dates = sorted(
            r["game_date"] for r in out.filter(F.col("hitter_id") == 1).collect()
        )
        assert dates[0] == datetime.date(2025, 5, 3)
        back = spark.read.csv(f"{d}/rg", header=True)
        assert back.count() == 12
        # layout contract behind readers of <out>/*/*.csv: directories
        # id_bucket=b with 0 <= b < 8, each id's rows only in id % 8
        # (ids chosen so that a wider modulus would split them apart)
        wide = spark.createDataFrame(
            [(pid, datetime.date(2025, 5, 1), 0) for pid in (1, 9, 17, 66)],
            "hitter_id int, game_date date, hits int",
        )
        recent_games(wide, role="hitter", k=5, out_path=f"{d}/wide")
        placed = {}
        for sub in sorted(os.listdir(f"{d}/wide")):
            if sub.startswith(("_", ".")):
                continue
            name, _, b = sub.partition("=")
            assert name == "id_bucket" and 0 <= int(b) < 8, sub
            for r in spark.read.csv(f"{d}/wide/{sub}", header=True).collect():
                placed.setdefault(int(r["hitter_id"]), set()).add(int(b))
        assert placed == {pid: {pid % 8} for pid in (1, 9, 17, 66)}
