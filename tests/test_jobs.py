"""Stage-runner CLI tests (`airflow_baseball_spark.jobs`) — the
executable each build_airflow_dag task invokes. Drives the reference
chain 001→011/012/013→021→041 end-to-end over a parquet data dir,
checking write semantics per table (overwrite / upsert / append)."""

from __future__ import annotations

import datetime
import os
import tempfile

import pytest

from airflow_baseball_spark.jobs import run_stage
from test_domain_golden import _hitters  # reuse domain fixtures


@pytest.fixture()
def data_dir(spark):
    d = tempfile.mkdtemp(prefix="jobs_")
    spark.createDataFrame(
        [("A", 5, 3), ("A", 2, 2), ("B", 1, 0), ("C", 4, 6)],
        "stadium string, home_score int, away_score int",
    ).write.parquet(f"{d}/game_records.parquet")
    _hitters(spark).write.parquet(f"{d}/hitters.parquet")
    spark.createDataFrame(
        [(1, "5 2/3", 10, 3, 1, "3.50"), (2, "0", 0, 0, 0, "-")],
        "pitcher_id int, ip string, so int, bb int, hr int, era string",
    ).write.parquet(f"{d}/pitchers.parquet")
    return d


def test_compute_chain_runs_over_parquet_dir(spark, data_dir):
    assert run_stage(spark, "park_factor", data_dir) == ["park_factor"]
    assert spark.read.parquet(f"{data_dir}/park_factor").count() == 3

    # 011/012/013 fuse into one idempotent merge: re-running a link is
    # a no-op (the reference's ON DUPLICATE KEY contract)
    assert run_stage(spark, "hitter_woba", data_dir) == ["hitter_metrics"]
    first = spark.read.parquet(f"{data_dir}/hitter_metrics").collect()
    assert run_stage(spark, "hitter_wrc", data_dir) == ["hitter_metrics"]
    again = spark.read.parquet(f"{data_dir}/hitter_metrics").collect()
    assert sorted(map(tuple, first)) == sorted(map(tuple, again))
    assert {"hitter_id", "wOBA", "wRC"} <= set(
        spark.read.parquet(f"{data_dir}/hitter_metrics").columns
    )

    assert run_stage(spark, "pitcher_metrics", data_dir) == ["pitcher_metrics"]
    assert spark.read.parquet(f"{data_dir}/pitcher_metrics").count() == 2


def test_land_stage_validates_presence(spark, data_dir):
    assert run_stage(spark, "land_game_records", data_dir) == []
    with pytest.raises(FileNotFoundError, match="today_games"):
        run_stage(spark, "land_today_games", data_dir)


def test_unknown_stage_fails_loudly(spark, data_dir):
    with pytest.raises(ValueError, match="unknown stage"):
        run_stage(spark, "nope", data_dir)


def _land_game_day(spark, data_dir):
    """The landed lineup and hitter split tables of one game day (kim is
    hitter 1, choi hitter 4); ``hitter_games`` lands separately."""
    spark.createDataFrame(
        [
            (datetime.date(2025, 5, 21), "kim", "T1", 3, "T2", "A"),
            (datetime.date(2025, 5, 21), "choi", "T2", 5, "T1", "B"),
        ],
        "game_date date, player string, team string, position int,"
        " opponent string, stadium string",
    ).write.parquet(f"{data_dir}/today_lineup.parquet")
    spark.createDataFrame(
        [(1, "T2", 0.31)], "hitter_id int, opponent_team string, avg double"
    ).write.parquet(f"{data_dir}/hitter_opponents.parquet")
    spark.createDataFrame(
        [(1, "A", 0.28)], "hitter_id int, stadium string, avg double"
    ).write.parquet(f"{data_dir}/hitter_stadiums.parquet")


def _land_hitter_games(spark, data_dir, rows):
    spark.createDataFrame(rows, "hitter_id int, game_date date, hits int").write.parquet(
        f"{data_dir}/hitter_games.parquet"
    )


def test_game_day_stages_run_end_to_end(spark, data_dir):
    """park_adjusted and hitter_records consume earlier stages' outputs
    plus the landed lineup/split tables — the full 041→050 path."""
    _land_game_day(spark, data_dir)
    _land_hitter_games(
        spark,
        data_dir,
        [(1, datetime.date(2025, 5, 20), 2), (1, datetime.date(2025, 5, 19), 1)],
    )

    run_stage(spark, "park_factor", data_dir)
    run_stage(spark, "hitter_woba", data_dir)
    assert run_stage(spark, "park_adjusted", data_dir) == ["park_adjusted_metrics"]
    assert {"hitter_id", "wRC_plus", "OPS_plus"} <= set(
        spark.read.parquet(f"{data_dir}/park_adjusted_metrics").columns
    )

    written = run_stage(spark, "hitter_records", data_dir)
    assert written == ["hitter_records", "recent_games/hitter"]
    rec = spark.read.parquet(f"{data_dir}/hitter_records")
    # kim (T1, position 3) and choi (T2, position 5) both in masters
    assert rec.count() == 2
    # append semantics: a second run doubles the rows (reference A9)
    run_stage(spark, "hitter_records", data_dir)
    assert spark.read.parquet(f"{data_dir}/hitter_records").count() == 4


def test_records_retry_after_failed_export_appends_once(spark, data_dir):
    """An Airflow retry of a records stage whose recent-games export
    failed appends the night once, and every recorded
    ``recent_games_file_path`` is the export directory holding that
    player's rows."""
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    _land_game_day(spark, data_dir)
    run_stage(spark, "hitter_woba", data_dir)
    with pytest.raises(AnalysisException):
        run_stage(spark, "hitter_records", data_dir)  # hitter_games not landed
    assert not os.path.exists(f"{data_dir}/hitter_records")

    # ids 4 and 12 share bucket 4: a path naming the raw id would miss
    games = [(1, datetime.date(2025, 5, 20), 2), (12, datetime.date(2025, 5, 20), 0)]
    games += [(4, datetime.date(2025, 5, d), 1) for d in range(13, 20)]
    _land_hitter_games(spark, data_dir, games)
    run_stage(spark, "hitter_records", data_dir)
    rec = spark.read.parquet(f"{data_dir}/hitter_records").collect()
    assert len(rec) == 2
    for r in rec:
        path = r["recent_games_file_path"]
        assert os.path.isdir(path), path
        mine = spark.read.csv(path, header=True).filter(
            F.col("hitter_id") == r["hitter_id"]
        )
        assert mine.count() == min(5, sum(g[0] == r["hitter_id"] for g in games))


def _spark_jobs(spark, fn):
    """Run ``fn`` under its own job group; return (result, jobs launched)."""
    import uuid

    sc = spark.sparkContext
    group = f"test_jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count the jobs of one stage call")
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # status store is async
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(spark, path):
    return sorted(map(tuple, spark.read.parquet(path).collect()))


def test_hitter_wrc_after_woba_launches_no_job(spark, data_dir, capsys):
    run_stage(spark, "hitter_woba", data_dir)
    before = _rows(spark, f"{data_dir}/hitter_metrics")
    capsys.readouterr()
    written, jobs = _spark_jobs(spark, lambda: run_stage(spark, "hitter_wrc", data_dir))
    assert written == ["hitter_metrics"]
    assert jobs == 0
    assert _rows(spark, f"{data_dir}/hitter_metrics") == before
    err = capsys.readouterr().err
    assert "hitter_wrc" in err and f"{data_dir}/hitter_metrics" in err
    assert "skipped" in err


def test_changed_input_merges_again(spark, data_dir):
    """game_records feeds wRC through the league run environment; a
    stage that fingerprinted only ``hitters`` would keep the stale wRC."""
    from airflow_baseball_spark.pipelines.hitter_metrics import (
        hitter_metrics,
        league_runs_from_games,
    )

    run_stage(spark, "hitter_woba", data_dir)
    old = {r["hitter_id"]: r["wRC"] for r in spark.read.parquet(f"{data_dir}/hitter_metrics").collect()}
    spark.createDataFrame(
        [("A", 15, 3), ("A", 2, 2), ("B", 1, 0), ("C", 4, 6)],
        "stadium string, home_score int, away_score int",
    ).write.mode("overwrite").parquet(f"{data_dir}/game_records.parquet")
    _, jobs = _spark_jobs(spark, lambda: run_stage(spark, "hitter_wrc", data_dir))
    assert jobs > 0
    games = spark.read.parquet(f"{data_dir}/game_records.parquet")
    hitters = spark.read.parquet(f"{data_dir}/hitters.parquet")
    want = {
        r["hitter_id"]: r["wRC"]
        for r in hitter_metrics(hitters, league_runs_from_games(games)).collect()
    }
    got = {r["hitter_id"]: r["wRC"] for r in spark.read.parquet(f"{data_dir}/hitter_metrics").collect()}
    assert got == want
    assert got != old


def test_target_rewritten_behind_marker_merges_again(spark, data_dir):
    from pyspark.sql import functions as F

    from airflow_baseball_spark.operators.upsert import read_marker, write_marker

    target = f"{data_dir}/hitter_metrics"
    run_stage(spark, "hitter_woba", data_dir)
    want = _rows(spark, target)
    marker = read_marker(spark, target)
    assert marker is not None
    tampered = spark.createDataFrame(
        spark.read.parquet(target).withColumn("wRC", F.lit(0.0)).collect(),
        spark.read.parquet(target).schema,
    )
    tampered.write.mode("overwrite").parquet(target)
    write_marker(spark, target, marker)  # the marker survives, the data moved
    _, jobs = _spark_jobs(spark, lambda: run_stage(spark, "hitter_wrc", data_dir))
    assert jobs > 0
    assert _rows(spark, target) == want


@pytest.mark.parametrize("damage", ["deleted", "truncated"])
def test_remerge_without_marker_leaves_table_unchanged(spark, data_dir, damage):
    """Merge re-run idempotence, and a marker cut short by a crash reads
    as absent instead of failing every later call."""
    from airflow_baseball_spark.operators.upsert import MARKER, read_marker

    target = f"{data_dir}/hitter_metrics"
    run_stage(spark, "hitter_woba", data_dir)
    before = _rows(spark, target)
    for name in (MARKER, f".{MARKER}.crc"):
        if os.path.exists(f"{target}/{name}"):
            os.remove(f"{target}/{name}")
    if damage == "truncated":
        open(f"{target}/{MARKER}", "wb").close()
    assert read_marker(spark, target) is None
    _, jobs = _spark_jobs(spark, lambda: run_stage(spark, "hitter_rates", data_dir))
    assert jobs > 0
    assert _rows(spark, target) == before
    assert read_marker(spark, target) is not None
