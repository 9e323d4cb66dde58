"""Stage-runner CLI — the executable payload behind
:func:`pipelines.orchestration.build_airflow_dag`.

Each Airflow task (or a cron shell, or an operator-less smoke run)
invokes one reference DAG stage:

    python -m airflow_baseball_spark.jobs --stage park_factor \
        --data-dir /data/tables [--out-dir DIR]

Input tables are ``<data-dir>/<table>.parquet``; outputs land under
``<out-dir>`` (default: data-dir) with the reference's write semantics
per table: ``park_factor`` is rebuilt per run
(`dags/001_park_factor_calculation.py:20-34` drop/create →
overwrite), metric tables upsert on their player-id key
(`dags/utils/queries.py` ON DUPLICATE KEY UPDATE → merge_upsert), and
the wide records tables append (`dags/050_insert_hitter_intergration_data.py:155`).

Ingestion stages (``land_*``) are scrape boundaries (SURVEY §2 A1-A6)
— the runner only validates that their landed tables exist.
``schedule_lineup`` is the G3 event-time trigger, which lives in the
orchestrator (`pipelines/orchestration.py event_time_triggers`); as a
batch stage it is a validated no-op.

The reference's 011→012→013 hitter-metric cascade is one fused Spark
job here (SURVEY §3 entry point 2), so the three stage names all run
``hitter_metrics``. Every keyed-merge stage fingerprints what it would
merge: the computation, the engine's source, the data files of the
inputs its ``STAGES`` entry declares, and the data files of its target.
After a merge it leaves that fingerprint in a hidden marker inside the
target; a later call whose fingerprint equals the marker launches no
Spark job, so ``hitter_wrc`` and ``hitter_rates`` after ``hitter_woba``
cost a file listing. A merge is idempotent either way, so an Airflow
retry or a backfill may rerun any merge stage.
"""

from __future__ import annotations

import argparse
import functools
import hashlib
import os
import sys
from collections.abc import Callable, Sequence
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from airflow_baseball_spark.operators.upsert import (
    data_files,
    merge_upsert,
    read_marker,
    write_marker,
)
from airflow_baseball_spark.pipelines.hitter_metrics import (
    hitter_metrics,
    league_runs_from_games,
    park_adjusted_metrics,
)
from airflow_baseball_spark.pipelines.integration import (
    integration_records,
    recent_games,
)
from airflow_baseball_spark.pipelines.orchestration import STAGES
from airflow_baseball_spark.pipelines.park_factor import park_factor
from airflow_baseball_spark.pipelines.pitcher_metrics import pitcher_metrics

LAND_STAGES = {s.name: s for s in STAGES if s.name.startswith("land_")}
_LANDED = {t for s in LAND_STAGES.values() for t in s.outputs}
_BY_NAME = {s.name: s for s in STAGES}


def _read(spark: SparkSession, data_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{data_dir}/{table}.parquet")


def _table_path(table: str, data_dir: str, out: str) -> str:
    """Landed tables live at ``<data-dir>/<t>.parquet``, engine outputs
    at ``<out-dir>/<t>``."""
    return f"{data_dir}/{table}.parquet" if table in _LANDED else f"{out}/{table}"


@functools.cache
def _source_digest() -> str:
    """SHA-256 over the engine package's ``*.py`` sources, once per
    process: a code fix followed by a backfill never reuses a marker."""
    h = hashlib.sha256()
    root = Path(__file__).resolve().parent
    for f in sorted(root.rglob("*.py")):
        h.update(f.relative_to(root).as_posix().encode() + b"\0")
        h.update(f.read_bytes())
    return h.hexdigest()


def _fingerprint(
    spark: SparkSession, computation: str, inputs: list, target: str
) -> str:
    h = hashlib.sha256(f"{computation}\0{_source_digest()}\0".encode())
    h.update(repr(inputs).encode())
    h.update(repr(data_files(spark, target)).encode())
    return h.hexdigest()


def _keyed_merge(
    spark: SparkSession,
    stage: str,
    data_dir: str,
    out: str,
    key: str,
    build: Callable[[], DataFrame],
) -> list[str]:
    """Merge ``build()`` into the stage's declared output on ``key``,
    unless the target's marker shows this exact merge already ran on
    these inputs. The input listing is taken before the merge, so an
    input that changes while it runs leaves a marker that no longer
    matches, and the next call merges again. The computation is named
    by its target table, so the three hitter stages share one."""
    decl = _BY_NAME[stage]
    (table,) = decl.outputs
    target = f"{out}/{table}"
    inputs = [
        (t, data_files(spark, _table_path(t, data_dir, out))) for t in decl.inputs
    ]
    fp = _fingerprint(spark, table, inputs, target)
    if fp == read_marker(spark, target):
        print(
            f"{stage}: inputs and {target} unchanged since the last merge "
            f"(fingerprint {fp[:12]}); skipped",
            file=sys.stderr,
        )
        return [table]
    merge_upsert(spark, build(), target, keys=[key])
    write_marker(spark, target, _fingerprint(spark, table, inputs, target))
    return [table]


def run_stage(
    spark: SparkSession,
    stage: str,
    data_dir: str,
    out_dir: str | None = None,
) -> list[str]:
    """Execute one stage; returns the list of tables written (empty for
    validation-only stages). Raises on unknown stages or missing landed
    inputs — a silent no-op would let a broken chain 'succeed'."""
    out = out_dir or data_dir
    t = lambda name: _read(spark, data_dir, name)  # noqa: E731

    if stage in LAND_STAGES:
        missing = [
            tbl
            for tbl in LAND_STAGES[stage].outputs
            if not os.path.exists(f"{data_dir}/{tbl}.parquet")
        ]
        if missing:
            raise FileNotFoundError(
                f"{stage}: landed table(s) {missing} absent under {data_dir} "
                "— ingestion runs outside the engine and must land first"
            )
        return []
    if stage == "schedule_lineup":
        return []  # G3 trigger: orchestrator-side (event_time_triggers)
    if stage == "park_factor":
        park_factor(t("game_records")).write.mode("overwrite").parquet(
            f"{out}/park_factor"
        )
        return ["park_factor"]
    if stage in ("hitter_woba", "hitter_wrc", "hitter_rates"):
        return _keyed_merge(
            spark, stage, data_dir, out, "hitter_id",
            lambda: hitter_metrics(
                t("hitters"), league_runs_from_games(t("game_records"))
            ),
        )
    if stage == "pitcher_metrics":
        return _keyed_merge(
            spark, stage, data_dir, out, "pitcher_id",
            lambda: pitcher_metrics(t("pitchers")),
        )
    if stage == "park_adjusted":
        return _keyed_merge(
            spark, stage, data_dir, out, "hitter_id",
            lambda: park_adjusted_metrics(
                t("today_lineup"),
                t("hitters"),
                spark.read.parquet(f"{out}/hitter_metrics"),
                spark.read.parquet(f"{out}/park_factor"),
            ),
        )
    if stage in ("hitter_records", "pitcher_records"):
        role = stage.split("_")[0]
        # the export is an idempotent overwrite and the append is not:
        # export first, so a failed export leaves the records untouched
        # and a retry appends the night once
        recent_games(
            t(f"{role}_games"), role, out_path=f"{out}/recent_games/{role}"
        )
        integration_records(
            t("today_lineup"),
            t(f"{role}s"),
            spark.read.parquet(f"{out}/{role}_metrics"),
            t(f"{role}_opponents"),
            t(f"{role}_stadiums"),
            role=role,
            recent_games_root=f"{out}/recent_games",
        ).write.mode("append").parquet(f"{out}/{stage}")
        return [stage, f"recent_games/{role}"]
    known = ", ".join(s.name for s in STAGES)
    raise ValueError(f"unknown stage {stage!r}; expected one of: {known}")


def main(argv: Sequence[str] | None = None) -> int:
    from airflow_baseball_spark.session import get_spark

    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--stage", required=True)
    p.add_argument("--data-dir", required=True)
    p.add_argument("--out-dir", default=None)
    args = p.parse_args(argv)
    spark = get_spark(app_name=f"stage_{args.stage}")
    written = run_stage(spark, args.stage, args.data_dir, args.out_dir)
    print(f"{args.stage}: wrote {written or 'nothing (validation stage)'}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
