"""Tests of the benchmark itself (no Spark session needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(HERE))

import adhoc  # noqa: E402
import classify  # noqa: E402
import datagen  # noqa: E402
import run  # noqa: E402
import telemetry  # noqa: E402

BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def test_benchmark_json_shape():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert BENCH["command"][:2] == ["python3", "perfbench/run.py"]
    assert BENCH["paths"] == ["perfbench"]
    assert [w["name"] for w in BENCH["workloads"]] == list(run.WORKLOADS)
    for m in BENCH["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in BENCH["end_to_end"])


def test_end_to_end_names_match_run():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.END_TO_END


def test_per_layer_names_match_telemetry():
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == telemetry.PER_LAYER


def test_sidecar_schema():
    doc = run.sidecar_doc(
        "adhoc", 3, 4,
        end_to_end={k: 1.0 for k in run.END_TO_END},
        per_layer={k: 0.0 for k in telemetry.PER_LAYER},
        spans=[{"op": "0:q", "layer": "queries.construct", "start": 0.0, "end": 0.5,
                "spark.jobs": 0}],
    )
    run.validate_sidecar(doc)
    json.dumps(doc)
    broken = dict(doc, per_layer={})
    with pytest.raises(ValueError):
        run.validate_sidecar(broken)
    broken = dict(doc, spans=[{"op": "0:q", "layer": "x", "start": 1.0, "end": 0.5}])
    with pytest.raises(ValueError):
        run.validate_sidecar(broken)


def test_frozen_lists_follow_the_classification():
    lists = adhoc.frozen_lists()
    cls = json.loads(classify.OUT.read_text())
    light, heavy = lists["light"], lists["heavy"]
    assert len(light) == len(set(light)) and len(heavy) == len(set(heavy))
    assert not set(light) & set(heavy)
    assert set(light) <= set(cls["classes"]["light"])
    assert set(heavy) <= set(cls["classes"]["heavy"])
    assert classify.classes(cls["records"]) == cls["classes"]
    assert classify.select(cls, cls["registry_order"]) == lists


def test_testdata_is_seeded(tmp_path):
    a = datagen.write_testdata(tmp_path / "a", 0.001, 5)
    datagen.write_testdata(tmp_path / "b", 0.001, 5)
    datagen.write_testdata(tmp_path / "c", 0.001, 6)
    for name in a:
        ta = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        assert ta.equals(pq.read_table(tmp_path / "b" / f"{name}.parquet"))
    assert not pq.read_table(tmp_path / "a" / "orders.parquet").equals(
        pq.read_table(tmp_path / "c" / "orders.parquet"))


def test_night_lineup_joins_its_masters(tmp_path):
    league = datagen.League(teams=8, hitters_per_team=12, pitchers_per_team=3,
                            stadiums=4, history_games=3, split_opponents=2)
    counts = datagen.write_night(tmp_path, league, 9, 2)
    lineup = pq.read_table(tmp_path / "today_lineup.parquet").to_pylist()
    assert counts["today_lineup"] == league.teams * 10
    masters = {}
    for role in ("hitters", "pitchers"):
        for r in pq.read_table(tmp_path / f"{role}.parquet").to_pylist():
            masters[r["player_name"]] = r["team_name"]
    assert all(masters[r["player"]] == r["team"] for r in lineup)
    # night 2 extends night 1's game log instead of rewriting it
    datagen.write_night(tmp_path / "n1", league, 9, 1)
    n1 = pq.read_table(tmp_path / "n1" / "hitter_games.parquet")
    n2 = pq.read_table(tmp_path / "hitter_games.parquet")
    assert n2.slice(0, n1.num_rows).equals(n1)
    assert n2.num_rows > n1.num_rows
