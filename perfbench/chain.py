"""The nightly chain: the reference's compute DAG driven through
``jobs.run_stage`` over several nights of landed, seeded data.

Each night lands a fresh set of tables (``datagen.write_night``) under
``data/night<k>`` before the session starts, then runs the compute
stages in DAG order against one durable output directory, so night 1
creates the targets and later nights merge into them (keyed upsert),
append to the records tables, overwrite ``park_factor`` and rewrite the
partitioned recent-games CSV export.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb

import datagen
from engine import file_count, tree_bytes

# reference DAG order (pipelines/orchestration.py STAGES), compute stages only
STAGES = (
    "park_factor",
    "hitter_woba",
    "hitter_wrc",
    "hitter_rates",
    "pitcher_metrics",
    "park_adjusted",
    "hitter_records",
    "pitcher_records",
)
# stages whose write is a keyed merge_upsert: stage -> (target, landed master)
UPSERT_STAGES = {
    "hitter_woba": ("hitter_metrics", "hitters"),
    "hitter_wrc": ("hitter_metrics", "hitters"),
    "hitter_rates": ("hitter_metrics", "hitters"),
    "pitcher_metrics": ("pitcher_metrics", "pitchers"),
    "park_adjusted": ("park_adjusted_metrics", "hitters"),
}
UPSERT_TARGETS = {
    "hitter_metrics": "hitter_id",
    "pitcher_metrics": "pitcher_id",
    "park_adjusted_metrics": "hitter_id",
}


def run_night(spark, night_dir: Path, out: Path, tracer=None) -> list[tuple[str, float, str | None]]:
    """Run every compute stage for one night; return (stage, seconds,
    error) per stage. A failing stage is recorded and the night goes
    on, as a retried Airflow task would leave later tasks to fail or
    pass on their own inputs."""
    from airflow_baseball_spark import jobs

    results = []
    for stage in STAGES:
        t0 = time.perf_counter()
        files0 = file_count(out) if tracer is not None else 0
        try:
            if tracer is None:
                jobs.run_stage(spark, stage, str(night_dir), str(out))
            else:
                with tracer.phase(stage, "jobs.run_stage"):
                    jobs.run_stage(spark, stage, str(night_dir), str(out))
            err = None
        except Exception as exc:  # noqa: BLE001 — record and keep going
            err = f"{type(exc).__name__}: {exc}"[:500]
            print(f"perfbench: stage {stage} on {night_dir.name} raised {err[:300]}",
                  file=sys.stderr)
        dt = time.perf_counter() - t0
        results.append((stage, dt, err))
        if tracer is not None:
            tracer.add(**{f"jobs.stage_s.{stage}": dt,
                          "io.files_written": max(0, file_count(out) - files0)})
            if stage in UPSERT_STAGES:
                target, master = UPSERT_STAGES[stage]
                tracer.add(**{
                    "upsert.merge_s": dt,
                    "upsert.target_bytes": tree_bytes(out / target),
                    "upsert.delta_bytes": (night_dir / f"{master}.parquet").stat().st_size,
                })
    return results


def _pq(path: Path) -> str:
    return f"read_parquet('{path}/*.parquet')"


def check(out: Path, data: Path, nights: list[int], lineup_rows: dict[int, int]) -> list[str]:
    """Output checks after the timed nights; returns the failed checks.

    ``lineup_rows[k]`` is night k's lineup row count (ten per team: a
    starting pitcher and nine batters). A check that raises fails."""
    last = data / f"night{nights[-1]}"
    checks: dict[str, str] = {}
    for table, key in UPSERT_TARGETS.items():
        checks[f"unique_keys.{table}"] = (
            f"SELECT count(*) > 0 AND count(*) = count(DISTINCT {key}) FROM {_pq(out / table)}"
        )
    # the records tables gain one row per lineup player per night
    batters = sum(lineup_rows[k] * 9 // 10 for k in nights)
    starters = sum(lineup_rows[k] // 10 for k in nights)
    checks["append_rows.hitter_records"] = f"SELECT count(*) = {batters} FROM {_pq(out / 'hitter_records')}"
    checks["append_rows.pitcher_records"] = f"SELECT count(*) = {starters} FROM {_pq(out / 'pitcher_records')}"
    for role in ("hitter", "pitcher"):
        checks[f"recent_games.{role}"] = f"""
            SELECT max(c) <= 5 AND count(*) = (
                SELECT count(DISTINCT {role}_id) FROM '{last}/{role}_games.parquet')
            FROM (SELECT {role}_id, count(*) c FROM
                  read_csv('{out}/recent_games/{role}/*/*.csv', header=true) GROUP BY 1)"""
    checks["park_factor.matches_duckdb"] = f"""
        WITH s AS (SELECT stadium, sum(home_score) sc, sum(away_score) al, count(*) g
                   FROM '{last}/game_records.parquet' GROUP BY 1),
             t AS (SELECT sum(sc) tsc, sum(al) tal, sum(g) tg FROM s),
             want AS (SELECT stadium, ((sc + al) / g) / ((tsc - sc + tal - al) / (tg - g)) pf
                      FROM s, t)
        SELECT count(*) = (SELECT count(*) FROM want)
               AND bool_and(abs(p.park_factor - w.pf) <= 1e-9 * abs(w.pf))
        FROM {_pq(out / 'park_factor')} p JOIN want w USING (stadium)"""
    same = " AND ".join(
        f"coalesce(abs(m.{c} - w.{c}) <= 1e-12, m.{c} IS NULL AND w.{c} IS NULL)"
        for c in ("wOBA", "k_rate", "bb_rate", "babip"))
    checks["hitter_rates.match_duckdb"] = f"""
        WITH want AS (
          SELECT hitter_id,
            CASE WHEN pa - ibb - sac <> 0 THEN (0.7 * (bb - ibb + hbp) + 0.9 * hits
              + 1.25 * doubles + 1.6 * triples + 2.0 * hr + 0.25 * sb - 0.5 * cs)
              / (pa - ibb - sac) END AS wOBA,
            CASE WHEN pa <> 0 THEN so / pa END AS k_rate,
            CASE WHEN pa <> 0 THEN bb / pa END AS bb_rate,
            CASE WHEN ab - so - hr + sf <> 0 THEN (hits - hr) / (ab - so - hr + sf) END AS babip
          FROM '{last}/hitters.parquet')
        SELECT count(*) = (SELECT count(*) FROM want) AND bool_and({same})
        FROM {_pq(out / 'hitter_metrics')} m JOIN want w USING (hitter_id)"""

    bad = []
    con = duckdb.connect()
    try:
        for name, sql in checks.items():
            try:
                ok = con.execute(sql).fetchone()[0] is True
            except duckdb.Error as exc:
                print(f"perfbench: chain check {name} raised {exc}", file=sys.stderr)
                ok = False
            if not ok:
                print(f"perfbench: chain check {name} failed", file=sys.stderr)
                bad.append(name)
    finally:
        con.close()
    return bad


def table_digest(path: Path) -> tuple:
    """Order-insensitive digest of a parquet table directory."""
    con = duckdb.connect()
    try:
        return con.execute(
            f"SELECT count(*), sum(hash(t)) FROM (SELECT * FROM {_pq(path)}) t"
        ).fetchone()
    finally:
        con.close()


class NightlyChain:
    """The ``nightly_chain`` workload. Unit ``u`` is nights ``2u+1`` and
    ``2u+2``; night 1 creates the targets, later nights merge into them."""

    NIGHTS = 2

    def __init__(self, dirs, seed: int) -> None:
        # import (and byte-compile) the stage runner before any timing
        from airflow_baseball_spark import jobs  # noqa: F401

        self.dirs, self.seed = dirs, seed
        self.league = datagen.League()
        self.lineup_rows: dict[int, int] = {}

    def _nights(self, unit: int) -> range:
        return range(unit * self.NIGHTS + 1, (unit + 1) * self.NIGHTS + 1)

    def land(self, unit: int) -> None:
        """Land the unit's nights (ingestion, not measured)."""
        for night in self._nights(unit):
            counts = datagen.write_night(self.dirs.data / f"night{night}", self.league,
                                         self.seed, night)
            self.lineup_rows[night] = counts["today_lineup"]

    def run_unit(self, spark, unit: int, tracer) -> tuple[list[float], int]:
        """Run the unit's nights; return (seconds per stage call, failures)."""
        seconds, failed = [], 0
        for night in self._nights(unit):
            for _, dt, err in run_night(spark, self.dirs.data / f"night{night}",
                                        self.dirs.out, tracer):
                seconds.append(dt)
                failed += err is not None
        return seconds, failed

    def finish(self, spark) -> int:
        """Re-run the fused 011/012/013 merge on the last night; it must
        leave hitter_metrics unchanged. Returns 1 on a failure."""
        from airflow_baseball_spark import jobs

        target = self.dirs.out / "hitter_metrics"
        last = self.dirs.data / f"night{max(self.lineup_rows)}"
        try:
            before = table_digest(target)
            jobs.run_stage(spark, "hitter_rates", str(last), str(self.dirs.out))
            after = table_digest(target)
        except Exception as exc:  # noqa: BLE001 — a failed check, not a crash
            print(f"perfbench: re-running the hitter merge raised {exc!r:.300}", file=sys.stderr)
            return 1
        if before != after:
            print(f"perfbench: re-running the hitter merge changed hitter_metrics "
                  f"{before} -> {after}", file=sys.stderr)
            return 1
        return 0

    def check(self) -> int:
        return len(check(self.dirs.out, self.dirs.data, sorted(self.lineup_rows),
                         self.lineup_rows))
