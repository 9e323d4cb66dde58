"""Classify every ``registry.queries()`` entry as light or heavy.

This is the traced run that produced the frozen lists in
``workloads.json``; re-run it only to re-derive them:

    python3 perfbench/classify.py            # writes classification.json

Each query runs in one session over the generated ``sf`` data, with the
seam cache emptied first so every seam consumer pays its own build, as
it does as the first consumer in a fresh session. Recorded per query:
construction seconds and jobs, execution seconds and jobs, the seams
it builds (``operators.graph`` cache keys),
whether it started a streaming query (a new checkpoint directory under
``SPARK_GRAFT_STREAM_CKPT_DIR``), and whether it matches its oracle.

Then ``python3 perfbench/classify.py --select`` freezes the workload
lists into ``workloads.json`` (see ``select``).

Rule (applied in ``classes``):

* light: no job at construction, at most 3 jobs in all, not streaming;
* heavy: launches jobs at construction (seam builds, eager actions,
  per-round checkpoints), or is a streaming drain;
* anything else (no construction job but more than 3 jobs) is neither.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE))

import adhoc  # noqa: E402
import datagen  # noqa: E402
import engine  # noqa: E402
from telemetry import Tracer  # noqa: E402

SEED = 0
OUT = HERE / "classification.json"
LISTS = HERE / "workloads.json"
N_LIGHT = 20
N_STREAMING = 2
# iterative operators (per-round jobs at construction) the heavy list always holds
ITERATIVE = ("bpe_merge_steps", "markov_attribution", "golden_record", "pagerank",
             "minhash_calibration", "ivf_nprobe_sweep")
RULE = ("light: no Spark job at construction, at most 3 jobs in all, not streaming; "
        "heavy: launches jobs at construction (seam builds, eager actions, per-round "
        "checkpoints) or drains a stream; both: matches its DuckDB oracle on the "
        "classification data. Measured one query at a time with the seam cache emptied.")


def classes(records: dict[str, dict]) -> dict[str, list[str]]:
    light, heavy = [], []
    for name, r in records.items():
        if not r["oracle_ok"]:
            continue
        if r["streaming"] or r["construct_jobs"] > 0:
            heavy.append(name)
        elif r["construct_jobs"] + r["exec_jobs"] <= 3:
            light.append(name)
    return {"light": sorted(light), "heavy": sorted(heavy)}


def _stable(name: str) -> str:
    return hashlib.blake2b(name.encode(), digest_size=8).hexdigest()


def select(doc: dict, registry_order: list[str]) -> dict:
    """Freeze the workload lists from a classification.

    * light: the first ``N_LIGHT`` light names by a stable hash
      of the name (independent of registry order);
    * heavy: every ``ITERATIVE`` operator; then, for each seam
      key none of the chosen queries builds yet (taken in registry
      order of its first consumer), its cheapest consumer, by the
      classification's isolated seconds, among those that build no
      seam already covered; then the first ``N_STREAMING`` streaming
      drains by the stable hash. Any one consumer pays the whole
      build in a fresh session, so every seam's build cost is in the
      workload whatever the registry order.
    """
    records, cls = doc["records"], doc["classes"]
    light = sorted(cls["light"], key=_stable)[:N_LIGHT]
    heavy_pool = set(cls["heavy"])
    missing = [n for n in ITERATIVE if n not in heavy_pool]
    if missing:
        raise SystemExit(f"iterative operators not classified heavy: {missing}")
    consumers: dict[str, list[str]] = {}
    for name in registry_order:
        if name in heavy_pool:
            for key in records[name]["seams"]:
                consumers.setdefault(key, []).append(name)
    heavy = list(ITERATIVE)
    covered = {k for n in heavy for k in records[n]["seams"]}
    for key, names in consumers.items():
        if key in covered:
            continue
        # cheapest consumer that builds no seam an earlier pick builds,
        # so no query's time depends on which of two sharers ran first
        free = [n for n in names if not covered & set(records[n]["seams"])]
        pick = min(free or names, key=lambda n: (records[n]["seconds"], n))
        heavy.append(pick)
        covered |= set(records[pick]["seams"])
    streaming = sorted((n for n in heavy_pool if records[n]["streaming"]), key=_stable)
    heavy += streaming[:N_STREAMING]
    return {"rule": RULE, "classification": OUT.name,
            "light": sorted(light), "heavy": sorted(heavy)}


def main() -> int:
    from airflow_baseball_spark import registry
    from airflow_baseball_spark.operators import graph

    dirs = engine.RunDirs.create(HERE.parent)
    try:
        datagen.write_testdata(dirs.data, adhoc.SF, SEED)
        os.environ["SPARK_GRAFT_SF_DIR"] = str(dirs.data)
        queries = registry.queries()
        sqls = adhoc.oracle_sql(list(queries))
        cpus = engine.cores()
        spark, _ = engine.start_session(dirs, cpus)
        tracer = Tracer(spark, cpus)
        ckpt = dirs.scratch[2]
        records = {}
        for i, (name, fn) in enumerate(queries.items()):
            graph._EDGE_CACHE.clear()  # noqa: SLF001 — isolate seam builds
            n_ckpt = len(os.listdir(ckpt))
            n_spans = len(tracer.spans)
            res = adhoc.run_query(spark, name, fn, str(dirs.data), tracer)
            spans = {s["layer"]: s for s in tracer.spans[n_spans:]}
            con = spans.get("queries.construct", {})
            ex = spans.get("spark.exec", {})
            records[name] = {
                "seconds": round(res.seconds, 3),
                "construct_s": round(con.get("end", 0) - con.get("start", 0), 3),
                "construct_jobs": con.get("spark.jobs", 0),
                "exec_jobs": ex.get("spark.jobs", 0) + spans.get("spark.plan", {}).get("spark.jobs", 0),
                "streaming": len(os.listdir(ckpt)) > n_ckpt,
                "seams": sorted(k[3] for k in graph._EDGE_CACHE),  # noqa: SLF001
                "error": res.error,
                "oracle_ok": not adhoc.check([res], sqls, dirs.data),
            }
            print(i, name, records[name], flush=True)
            if (i + 1) % 20 == 0:
                gc.collect()
                spark.sparkContext._jvm.System.gc()  # noqa: SLF001
        engine.stop_session(spark)
    finally:
        dirs.remove()
    OUT.write_text(json.dumps(
        {"sf": adhoc.SF, "seed": SEED, "cpus": cpus, "registry_order": list(queries),
         "records": records, "classes": classes(records)}, indent=1, sort_keys=True) + "\n")
    return 0


def main_select() -> int:
    from airflow_baseball_spark import registry

    doc = json.loads(OUT.read_text())
    LISTS.write_text(json.dumps(select(doc, list(registry.queries())), indent=1) + "\n")
    return 0


if __name__ == "__main__":
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--select", action="store_true", help="freeze workloads.json")
    raise SystemExit(main_select() if p.parse_args().select else main())
