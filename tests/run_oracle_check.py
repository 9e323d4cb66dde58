"""Standalone oracle check: run registered queries at a given
sf_dir and compare each against its DuckDB oracle, timing every query
(Spark side plus oracle side). Usage:

    python tests/run_oracle_check.py [sf_dir] [name ...]

With no names every registered query runs; an unknown name fails. The
run ends with the total time and the 15 slowest queries.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tests"))

import __spark_entry__ as entrymod
from oracle_harness import compare, duckdb_connect

from airflow_baseball_spark.session import get_spark


def main() -> int:
    args = sys.argv[1:]
    sf = "/root/testdata/sf0.01"
    if args and Path(args[0]).is_dir():
        sf, args = args[0], args[1:]
    spark = get_spark(app_name="oracle_check")
    con = duckdb_connect(sf)
    qs, sqls = entrymod.queries(), entrymod.oracle_sql()
    bad, times = [], {}
    t_all = time.perf_counter()
    for name in args or qs:
        if name not in qs:
            print(f"{name}: UNKNOWN", flush=True)
            bad.append(name)
            continue
        t0 = time.perf_counter()
        try:
            if name not in sqls:
                n = qs[name](spark, sf).count()
                status = f"rows-only n={n}"
            else:
                rep = compare(qs[name](spark, sf), con, sqls[name])
                ok = rep["values_match"] and rep["columns_match"] and rep["rowcount_match"]
                status = "OK" if ok else str(rep.get("first_diffs") or rep)[:400]
                if not ok:
                    bad.append(name)
        except Exception as exc:  # noqa: BLE001
            status = f"ERROR {str(exc)[:300]}"
            bad.append(name)
        times[name] = time.perf_counter() - t0
        print(f"{name}: {status} [{times[name]:.2f}s]", flush=True)
    print(f"\nTOTAL {time.perf_counter() - t_all:.1f}s over {len(times)} queries", flush=True)
    for n, t in sorted(times.items(), key=lambda x: -x[1])[:15]:
        print(f"  slow: {n} {t:.2f}s", flush=True)
    print("FAILED:" if bad else "ALL OK", bad if bad else len(times), flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
