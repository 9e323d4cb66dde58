"""Orchestration — the reference's DAG topology as data.

The reference chains 14 DAGs with ``TriggerDagRunOperator``
(`dags/000_scrape_games_result.py:147-153` …, SURVEY.md §2 G2):

    000 → 001 → 010 → 011 → 012 → 013 → 020 → 021
        → 030 → 031 → (040 at game_time − 15 min) → 041 → 050 → 060

plus two cron roots (000 daily 20:00, 070 daily 14:50 — G1) and one
data-driven trigger (031 schedules 040 from ``today_games.game_date`` —
G3). Here that topology is:

* ``STAGES`` — the dependency graph as plain data: each stage's
  reference DAG, its input and output tables and its upstream stages;
  ``jobs.run_stage`` executes one stage;
* :func:`event_time_triggers` — the G3 trigger as an engine operator;
* :func:`build_airflow_dag` — the thin Airflow wrapper, gated behind an
  import-try (Airflow isn't in this container): one ``jobs`` CLI task
  per stage with the same dependency edges and cron on the root.

The trigger's clock is an explicit ``run_ts`` (the reference's KST
``execution_date + 9h``, `dags/030_scrape_today_games_time.py:128-131`,
becomes a pure input — no wall-clock reads inside the engine).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Stage:
    """One reference DAG re-expressed as a pure batch stage."""

    name: str
    ref_dag: str  # reference file this stage derives from
    inputs: tuple[str, ...]  # table names consumed
    outputs: tuple[str, ...]  # table names produced
    after: tuple[str, ...] = field(default_factory=tuple)  # upstream stages
    cron: str | None = None  # G1 roots only
    event_time: str | None = None  # G3: "game_time - 15min"


# The G2 chain. Scrape stages (000/010/020/030/040/070) are ingestion
# boundaries — the engine consumes their landed tables; compute stages
# map to pipelines/ functions wired in jobs.run_stage. ``inputs``/``outputs``
# are load-bearing: ``jobs.run_stage`` fingerprints a keyed merge over
# exactly the declared inputs and writes its one declared output, so a
# table a stage reads but does not declare would let a stale merge be
# skipped.
STAGES: tuple[Stage, ...] = (
    Stage("land_game_records", "dags/000_scrape_games_result.py", (), ("game_records",), cron="0 20 * * *"),
    Stage("park_factor", "dags/001_park_factor_calculation.py", ("game_records",), ("park_factor",), after=("land_game_records",)),
    Stage("land_hitters", "dags/010_scrape_hitters_stats.py", (), ("hitters", "hitter_games", "hitter_opponents", "hitter_stadiums"), after=("park_factor",)),
    Stage("hitter_woba", "dags/011_calculate_hitter_wOBA.py", ("hitters", "game_records"), ("hitter_metrics",), after=("land_hitters",)),
    Stage("hitter_wrc", "dags/012_calculate_hitter_wRC.py", ("hitters", "game_records"), ("hitter_metrics",), after=("hitter_woba",)),
    Stage("hitter_rates", "dags/013_calculate_hitter_metrics.py", ("hitters", "game_records"), ("hitter_metrics",), after=("hitter_wrc",)),
    Stage("land_pitchers", "dags/020_scrape_pitchers_stats.py", (), ("pitchers", "pitcher_games", "pitcher_opponents", "pitcher_stadiums"), after=("hitter_rates",)),
    Stage("pitcher_metrics", "dags/021_calculate_pitcher_metrics.py", ("pitchers",), ("pitcher_metrics",), after=("land_pitchers",)),
    Stage("land_today_games", "dags/030_scrape_today_games_time.py", (), ("today_games",), after=("pitcher_metrics",)),
    Stage("schedule_lineup", "dags/031_schedule_dag_for_get_today_line_up.py", ("today_games",), (), after=("land_today_games",), event_time="game_time - 15min"),
    Stage("land_lineup", "dags/040_baseball_lineup_scraper.py", (), ("today_lineup",), after=("schedule_lineup",)),
    Stage("park_adjusted", "dags/041_calculate_hitter_metrics_with_park_factor.py", ("today_lineup", "hitters", "hitter_metrics", "park_factor"), ("park_adjusted_metrics",), after=("land_lineup",)),
    Stage("hitter_records", "dags/050_insert_hitter_intergration_data.py", ("today_lineup", "hitters", "hitter_metrics", "hitter_opponents", "hitter_stadiums", "hitter_games"), ("hitter_records",), after=("park_adjusted",)),
    Stage("pitcher_records", "dags/060_insert_pitcher_integration_data.py", ("today_lineup", "pitchers", "pitcher_metrics", "pitcher_opponents", "pitcher_stadiums", "pitcher_games"), ("pitcher_records",), after=("hitter_records",)),
    Stage("land_five_innings", "dags/070_get_game_resulty.py", (), ("game_records_until_5_innings",), cron="50 14 * * *"),
)


def validate_chain(stages: tuple[Stage, ...] = STAGES) -> None:
    """Every ``after`` edge resolves; every input is produced upstream
    or landed by an ingestion stage (no forward references)."""
    seen: set[str] = set()
    produced: set[str] = set()
    by_name = {s.name: s for s in stages}
    for s in stages:
        for up in s.after:
            if up not in seen:
                raise ValueError(f"{s.name}: upstream {up!r} not yet defined")
            if up not in by_name:
                raise ValueError(f"{s.name}: unknown upstream {up!r}")
        for t in s.inputs:
            if t not in produced:
                raise ValueError(f"{s.name}: input table {t!r} not produced upstream")
        produced.update(s.outputs)
        seen.add(s.name)


def event_time_triggers(
    today_games: DataFrame,
    run_ts: str,
    lead_minutes: int = 15,
    already_scheduled: DataFrame | None = None,
) -> DataFrame:
    """G3 — the reference's dynamic event-time trigger as an engine
    operator (`dags/031_schedule_dag_for_get_today_line_up.py:30-58`):
    for every game in ``today_games`` (columns ``game_time`` timestamp,
    ``away_team``), the lineup scrape fires ``lead_minutes`` before
    game time. Returns one row per distinct trigger time with a ``due``
    flag against the run timestamp.

    Idempotency mirrors the reference's ``DagRun.find`` guard (:52-55):
    triggers are de-duplicated on ``trigger_time`` and, when
    ``already_scheduled`` (a frame with a ``trigger_time`` column) is
    given, previously-scheduled times are anti-joined away.

    Scale: ``today_games`` is one day's schedule (tiny); the distinct
    and anti-join are broadcast-sized. ``run_ts`` is an explicit
    parameter — no wall-clock reads inside the engine."""
    trig = (
        today_games.select(
            (
                F.col("game_time") - F.expr(f"INTERVAL {int(lead_minutes)} MINUTES")
            ).alias("trigger_time"),
        )
        .distinct()
        .withColumn("due", F.col("trigger_time") <= F.lit(run_ts).cast("timestamp"))
    )
    if already_scheduled is not None:
        trig = trig.join(
            F.broadcast(already_scheduled.select("trigger_time").distinct()),
            "trigger_time",
            "left_anti",
        )
    return trig


def build_airflow_dag(
    dag_id: str = "airflow_baseball_spark", data_dir: str = "/data/tables"
):
    """Thin Airflow DAG mirroring the reference topology: one stage-
    runner task per stage (``airflow_baseball_spark.jobs`` CLI), same
    edges, cron on the roots. Gated: Airflow is not installed in this
    container (the jobs CLI itself is exercised by tests/test_jobs.py)."""
    try:
        from airflow import DAG  # noqa: PLC0415
        from airflow.operators.bash import BashOperator  # noqa: PLC0415
    except ImportError as exc:  # pragma: no cover - env-dependent
        raise NotImplementedError(
            "apache-airflow is not installed; run stages with the "
            "airflow_baseball_spark.jobs CLI, or deploy this factory where "
            "Airflow exists"
        ) from exc

    validate_chain()
    root_cron = next(s.cron for s in STAGES if s.cron)
    dag = DAG(dag_id, schedule_interval=root_cron, catchup=False)
    tasks = {}
    for s in STAGES:
        tasks[s.name] = BashOperator(
            task_id=s.name,
            # plain python entry point: a PySpark app needs spark-submit
            # only for cluster deploy-modes; swap the prefix for
            # `spark-submit --master yarn ...` in that deployment
            bash_command=(
                "python -m airflow_baseball_spark.jobs "
                f"--stage {s.name} --data-dir {data_dir}"
            ),
            dag=dag,
        )
        for up in s.after:
            tasks[up] >> tasks[s.name]
    return dag
