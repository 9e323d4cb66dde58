"""Orchestration tests: chain topology validity, stage declarations,
Airflow gating."""

from __future__ import annotations

import pytest

from airflow_baseball_spark.pipelines import orchestration as orch


def test_chain_validates():
    orch.validate_chain()


def test_chain_matches_reference_topology():
    names = [s.name for s in orch.STAGES]
    # G2 order: park factor before hitter metrics before park-adjusted
    assert names.index("park_factor") < names.index("hitter_woba")
    assert names.index("hitter_rates") < names.index("park_adjusted")
    assert names.index("park_adjusted") < names.index("hitter_records")
    # G1 roots carry crons; G3 stage carries the event-time trigger
    assert {s.name for s in orch.STAGES if s.cron} == {
        "land_game_records",
        "land_five_innings",
    }
    assert next(s for s in orch.STAGES if s.name == "schedule_lineup").event_time


def test_airflow_factory_gated():
    try:
        import airflow  # noqa: F401

        pytest.skip("airflow present; gate not exercised")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError):
        orch.build_airflow_dag()


def test_airflow_dag_graph_matches_stages():
    """When Airflow IS importable, the generated DAG must reproduce the
    reference chain topology exactly: one task per stage, edge set ==
    STAGES' `after` edges (dags/000_scrape_games_result.py:147-153)."""
    pytest.importorskip("airflow")
    dag = orch.build_airflow_dag()
    assert {t.task_id for t in dag.tasks} == {s.name for s in orch.STAGES}
    want_edges = {(up, s.name) for s in orch.STAGES for up in s.after}
    got_edges = {
        (t.task_id, down) for t in dag.tasks for down in t.downstream_task_ids
    }
    assert got_edges == want_edges


def test_stage_declarations_match_what_jobs_reads_and_writes():
    """jobs.run_stage fingerprints a keyed merge over the declared
    inputs and writes the one declared output."""
    by = {s.name: s for s in orch.STAGES}
    for name in ("hitter_woba", "hitter_wrc", "hitter_rates"):
        assert set(by[name].inputs) == {"hitters", "game_records"}
        assert by[name].outputs == ("hitter_metrics",)
    assert by["pitcher_metrics"].outputs == ("pitcher_metrics",)
    assert by["park_adjusted"].outputs == ("park_adjusted_metrics",)
