"""The ad-hoc query workload: ``registry.queries()`` entries run one
after another in a closed loop (one client), each checked afterwards
against its DuckDB oracle twin with ``tests/oracle_harness.compare``."""

from __future__ import annotations

import json
import os
import random
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

import datagen

HERE = Path(__file__).resolve().parent
LISTS = HERE / "workloads.json"
SF = 0.01  # the driver's correctness scale: 60,000 lineitem rows


def frozen_lists() -> dict:
    return json.loads(LISTS.read_text())


def resolve(names: list[str]) -> dict:
    """Map each frozen name to its ``registry.queries()`` function.

    Fails loudly on a missing name: a registry change must never
    silently change a workload."""
    from airflow_baseball_spark import registry

    queries = registry.queries()
    missing = [n for n in names if n not in queries]
    if missing:
        raise SystemExit(
            f"perfbench: frozen query names missing from registry.queries(): {missing}"
        )
    return {n: queries[n] for n in names}


def oracle_sql(names: list[str]) -> dict[str, str]:
    """Oracle SQL per name, as registered. The registry's HUGEINT
    rewrite only changes how a driver fetches integer columns; values
    fetched with ``fetchall`` are the same, so the raw text is used."""
    from airflow_baseball_spark import registry

    sqls = registry.oracle_sql(raw=True)
    missing = [n for n in names if n not in sqls]
    if missing:
        raise SystemExit(f"perfbench: no oracle SQL for {missing}")
    return {n: sqls[n] for n in names}


class _Collected:
    """The ``columns`` / ``collect()`` surface ``oracle_harness.compare``
    reads, over rows already collected inside the timed region."""

    def __init__(self, columns: list[str], rows: list) -> None:
        self.columns = columns
        self._rows = rows

    def collect(self) -> list:
        return self._rows


@dataclass
class QueryResult:
    name: str
    seconds: float
    columns: list[str] = field(default_factory=list)
    rows: list = field(default_factory=list)
    error: str | None = None


def _edge_cache_size() -> int:
    from airflow_baseball_spark.operators import graph

    return len(graph._EDGE_CACHE)  # noqa: SLF001


def run_query(spark, name: str, fn, sf_dir: str, tracer=None) -> QueryResult:
    """Construct and collect one query; the timed region is exactly
    ``fn(spark, sf_dir)`` plus ``collect()``. One failing query is
    recorded and never stops the workload."""
    t0 = time.perf_counter()
    try:
        if tracer is None:
            df = fn(spark, sf_dir)
            rows = df.collect()
        else:
            seams0 = _edge_cache_size()
            with tracer.phase(name, "queries.construct") as span:
                df = fn(spark, sf_dir)
            grew = _edge_cache_size() - seams0
            if grew > 0:
                tracer.add(**{"seams.builds": grew,
                              "seams.build_s": span["end"] - span["start"]})
            with tracer.phase(name, "spark.plan"):
                df._jdf.queryExecution().executedPlan()  # noqa: SLF001
            with tracer.phase(name, "spark.exec"):
                rows = df.collect()
            tracer.add(**tracer.plan_shape(df))
        seconds = time.perf_counter() - t0
        return QueryResult(name, seconds, list(df.columns), rows)
    except Exception as exc:  # noqa: BLE001 — record and keep going
        seconds = time.perf_counter() - t0
        print(f"perfbench: {name} raised {type(exc).__name__}: {str(exc)[:300]}",
              file=sys.stderr)
        return QueryResult(name, seconds, error=f"{type(exc).__name__}: {exc}"[:500])


def check(results: list[QueryResult], sqls: dict[str, str], sf_dir: Path) -> list[str]:
    """Names whose result raised or differs from the DuckDB oracle."""
    tests = str(HERE.parent / "tests")
    if tests not in sys.path:
        sys.path.insert(0, tests)
    from oracle_harness import compare, duckdb_connect

    con = duckdb_connect(str(sf_dir))
    bad = []
    try:
        for r in results:
            if r.error is not None:
                bad.append(r.name)
                continue
            rep = compare(_Collected(r.columns, r.rows), con, sqls[r.name])
            if not (rep["rowcount_match"] and rep["columns_match"] and rep["values_match"]):
                print(f"perfbench: {r.name} differs from its oracle: "
                      f"{ {k: rep[k] for k in ('spark_rows', 'duck_rows', 'spark_cols', 'duck_cols')} }",
                      file=sys.stderr)
                bad.append(r.name)
    finally:
        con.close()
    return bad


class Adhoc:
    """The ``adhoc`` workload: one analyst session over the frozen lists,
    the light list in seed-shuffled order, then the heavy list in its
    frozen order, so no heavy query's cost depends on which seam build
    or codegen ran before it."""

    def __init__(self, dirs, seed: int) -> None:
        self.dirs = dirs
        datagen.write_testdata(dirs.data, SF, seed)
        os.environ["SPARK_GRAFT_SF_DIR"] = str(dirs.data)
        lists = frozen_lists()
        self.light = lists["light"]
        self.fns = resolve(lists["light"] + lists["heavy"])
        self.order = random.Random(seed).sample(self.light, len(self.light)) + lists["heavy"]
        self.results: list[QueryResult] = []

    def land(self, unit: int) -> None:
        pass  # the testdata is written once, before the session

    def run_unit(self, spark, unit: int, tracer) -> tuple[list[float], int]:
        """Run every query once; failures are counted by ``check``."""
        ckpt = self.dirs.scratch[2]
        seconds = []
        for name in self.order:
            n_ckpt = len(os.listdir(ckpt)) if tracer is not None else 0
            res = run_query(spark, name, self.fns[name], str(self.dirs.data), tracer)
            seconds.append(res.seconds)
            self.results.append(res)
            if tracer is not None and len(os.listdir(ckpt)) > n_ckpt:
                tracer.add(**{"streaming.drain_s": res.seconds})
        return seconds, 0

    def finish(self, spark) -> int:
        return 0

    def check(self) -> int:
        return len(check(self.results, oracle_sql(sorted(set(self.order))), self.dirs.data))

    def light_seconds(self) -> list[float]:
        light = set(self.light)
        return [r.seconds for r in self.results if r.name in light]
