"""Repository benchmark: one command, two workloads, checked outputs.

    python3 perfbench/run.py --workload {nightly_chain,adhoc} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Each run generates its inputs from
``--seed``, starts one fresh driver JVM and SparkSession on
``local[<cores>]`` (set-up, timed as ``setup_s``), runs the workload's
fixed unit of work in a closed loop with one client, and repeats whole
units in the same session until ``--seconds`` of measured time have
passed. Outputs are checked after the timed region; a mismatch counts
as a failed operation. The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports
the per-layer metrics and writes every span and counter to a sidecar
under ``.perfbench_traces/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import resource
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
CHECKOUT = HERE.parent
sys.path.insert(0, str(HERE))

import adhoc  # noqa: E402
import chain  # noqa: E402
import engine  # noqa: E402
from telemetry import PER_LAYER, Tracer  # noqa: E402

TRACE_DIR = CHECKOUT / ".perfbench_traces"
WORKLOADS = {"nightly_chain": chain.NightlyChain, "adhoc": adhoc.Adhoc}

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "ops_ok_ratio": "ratio",
    "scratch_mb_left": "MB",
}


def _require_checkout() -> None:
    """Fail fast, before any work, outside a full checkout."""
    needed = [CHECKOUT / "airflow_baseball_spark" / "registry.py",
              CHECKOUT / "tests" / "oracle_harness.py"]
    missing = [str(p.relative_to(CHECKOUT)) for p in needed if not p.exists()]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        raise SystemExit(2)


def _percentiles(values: list[float]) -> tuple[float, float]:
    """(p50, p90) as statistics.quantiles (exclusive) gives them."""
    if len(values) < 2:
        return (values[0], values[0]) if values else (0.0, 0.0)
    return statistics.median(values), statistics.quantiles(values, n=10)[8]


class Run:
    """One benchmark run: a fresh session, whole units of the workload
    until ``seconds`` of measured time have passed, then the checks."""

    def __init__(self, name: str, seed: int, seconds: float, trace: bool) -> None:
        self.name, self.seed, self.seconds, self.trace = name, seed, seconds, trace
        self.cores = engine.cores()
        self.dirs = engine.RunDirs.create(CHECKOUT)
        self.op_seconds: list[float] = []
        self.unit_seconds: list[float] = []
        self.failed = 0
        self.tracer: Tracer | None = None
        self.phases: dict[str, float] = {}  # untimed phases, for stderr

    def _phase(self, name: str, t0: float) -> None:
        self.phases[name] = time.perf_counter() - t0

    def execute(self) -> None:
        t0 = time.perf_counter()
        self.workload = WORKLOADS[self.name](self.dirs, self.seed)
        self.workload.land(0)
        self._phase("prepare_s", t0)
        spark, self.setup_s = engine.start_session(self.dirs, self.cores)
        try:
            if self.trace:
                self.tracer = Tracer(spark, self.cores)
            unit = 0
            while True:
                t0 = time.perf_counter()
                seconds, failed = self.workload.run_unit(spark, unit, self.tracer)
                self.unit_seconds.append(time.perf_counter() - t0)
                self.op_seconds += seconds
                self.failed += failed
                unit += 1
                if sum(self.unit_seconds) >= self.seconds:
                    break
                self.workload.land(unit)  # between units, not measured
            t0 = time.perf_counter()
            self.jvm_rss_mb = engine.jvm_peak_rss_mb(spark)
            if self.tracer is not None:
                self.tracer.finish()
            self.failed += self.workload.finish(spark)
            self._phase("post_s", t0)
        finally:
            t0 = time.perf_counter()
            engine.stop_session(spark)
            self._phase("stop_s", t0)
        # what the workload leaves behind once its session has ended
        self.scratch_left = self.dirs.scratch_bytes()
        self.ckpt_left = engine.tree_bytes(self.dirs.scratch[2])
        t0 = time.perf_counter()
        self.failed += self.workload.check()
        self._phase("checks_s", t0)

    def metrics(self) -> dict[str, float]:
        attempted = len(self.op_seconds)
        return {
            "setup_s": self.setup_s,
            "wall_s": statistics.fmean(self.unit_seconds),
            "ops_ok_ratio": 1.0 - min(self.failed, attempted) / attempted,
            "scratch_mb_left": self.scratch_left / 2**20,
        }

    def layer_metrics(self, e2e: dict[str, float]) -> dict[str, float]:
        """The traced run's per-layer metrics (``telemetry.PER_LAYER``)."""
        p50, p90 = _percentiles(self.op_seconds)
        light = self.workload.light_seconds() if self.name == "adhoc" else []
        l50, l90 = _percentiles(light)
        self.tracer.add(**{
            "trace.wall_s": e2e["wall_s"],
            "streaming.ckpt_bytes_left": self.ckpt_left,
            "jvm.peak_rss_mb": self.jvm_rss_mb,
            "python.peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
            "ops.p50_s": p50, "ops.p90_s": p90,
            "queries.light_p50_s": l50, "queries.light_p90_s": l90,
        })
        return self.tracer.metrics()


def sidecar_doc(workload: str, seed: int, cores: int, end_to_end: dict,
                per_layer: dict, spans: list[dict]) -> dict:
    """The traced run's sidecar: both metric sets plus every span."""
    return {"workload": workload, "seed": seed, "cores": cores,
            "end_to_end": end_to_end, "per_layer": per_layer, "spans": spans}


def validate_sidecar(doc: dict) -> None:
    """Raise ValueError unless ``doc`` has the sidecar schema."""
    if set(doc) != {"workload", "seed", "cores", "end_to_end", "per_layer", "spans"}:
        raise ValueError(f"sidecar keys {sorted(doc)}")
    if doc["workload"] not in WORKLOADS:
        raise ValueError(f"unknown workload {doc['workload']!r}")
    if set(doc["end_to_end"]) != set(END_TO_END) or set(doc["per_layer"]) != set(PER_LAYER):
        raise ValueError("sidecar metric names differ from BENCHMARK.json")
    for name, value in {**doc["end_to_end"], **doc["per_layer"]}.items():
        if not isinstance(value, (int, float)):
            raise ValueError(f"{name} is not a number: {value!r}")
    for span in doc["spans"]:
        if not {"op", "layer", "start", "end"} <= set(span) or span["end"] < span["start"]:
            raise ValueError(f"bad span {span}")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    _require_checkout()
    sys.path.insert(0, str(CHECKOUT))

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        run.execute()
        print(f"perfbench: {args.workload} seed {args.seed}: "
              + ", ".join(f"{k} {v:.2f}" for k, v in run.phases.items()), file=sys.stderr)
        e2e = run.metrics()
        if run.tracer is not None:
            values = run.layer_metrics(e2e)
            metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}
            doc = sidecar_doc(args.workload, args.seed, run.cores, e2e, values,
                              run.tracer.spans_out())
            validate_sidecar(doc)
            TRACE_DIR.mkdir(exist_ok=True)
            sidecar = TRACE_DIR / f"{args.workload}.seed{args.seed}.json"
            sidecar.write_text(json.dumps(doc, indent=1) + "\n")
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        attempted = len(run.op_seconds)
    finally:
        run.dirs.remove()
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": attempted,
        "failed": min(run.failed, attempted),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
