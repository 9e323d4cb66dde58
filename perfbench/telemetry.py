"""Per-layer telemetry for the traced run (``--trace 1``).

Everything is read from outside the engine, over py4j, around the
benchmark's own calls into each layer:

* ``queries`` / ``jobs`` — wall time of the ``fn(spark, sf_dir)`` call
  (construction) or of the ``run_stage`` call, and the Spark jobs
  launched inside it (one job group per phase);
* ``seams`` — growth of ``operators.graph._EDGE_CACHE`` during
  construction (one entry per session-materialized seam);
* ``spark`` — planning time (forcing ``executedPlan``), execution wall,
  per-job stage and task counters from the status store
  (``statusStore().job`` / ``stageData``), and codegen compiles from
  ``CodegenMetrics`` and ``CodeGenerator.compileTime``;
* ``plan`` — operator counts in the final executed plan;
* ``streaming`` — a ``StreamingQueryListener`` (batches, state rows,
  state memory);
* ``jvm`` — ``GarbageCollectorMXBean`` counts and times.

Spans and counters stay in memory until the workload ends.
"""

from __future__ import annotations

import re
import time
from collections import Counter
from contextlib import contextmanager

# plan-shape counters: node patterns in the final executed plan string
_PLAN_PATTERNS = {
    "plan.exchanges": re.compile(r"\bExchange (?:hashpartitioning|rangepartitioning|RoundRobinPartitioning|SinglePartition)"),
    "plan.broadcast_joins": re.compile(r"\bBroadcast(?:HashJoin|NestedLoopJoin)\b"),
    "plan.windows": re.compile(r"\bWindow(?:GroupLimit)? \["),
    "plan.single_partition": re.compile(r"\bExchange SinglePartition\b"),
}

# per-job counters summed over an operation's jobs
_JOB_COUNTERS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_ms",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "spark.task_failures", "io.bytes_written",
)

# every per-layer metric the traced run reports, with its unit
PER_LAYER = {
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    "seams.builds": "count",
    "seams.build_s": "s",
    "spark.plan_s": "s",
    "spark.codegen_compiles": "count",
    "spark.codegen_compile_ms": "ms",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.slot_idle_ratio": "ratio",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_failures": "count",
    "plan.exchanges": "count",
    "plan.broadcast_joins": "count",
    "plan.windows": "count",
    "plan.single_partition": "count",
    **{f"jobs.stage_s.{s}": "s" for s in (
        "park_factor", "hitter_woba", "hitter_wrc", "hitter_rates",
        "pitcher_metrics", "park_adjusted", "hitter_records", "pitcher_records")},
    "upsert.merge_s": "s",
    "upsert.bytes_written_per_delta_byte": "ratio",
    "io.files_written": "count",
    "io.bytes_written": "bytes",
    "streaming.drain_s": "s",
    "streaming.batches": "count",
    "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "bytes",
    "streaming.ckpt_bytes_left": "bytes",
    "jvm.gc_count": "count",
    "jvm.gc_ms": "ms",
    "jvm.peak_rss_mb": "MB",
    "python.peak_rss_mb": "MB",
    "trace.wall_s": "s",
    "ops.p50_s": "s",
    "ops.p90_s": "s",
    "queries.light_p50_s": "s",
    "queries.light_p90_s": "s",
}


class _StreamTally:
    """State a ``StreamingQueryListener`` fills from progress events."""

    def __init__(self) -> None:
        self.batches = 0
        self.run_ids: list[str] = []  # job group of each started query's batches
        self.state_rows: dict[str, int] = {}
        self.state_mem: dict[str, int] = {}

    def attach(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tally = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802 — called synchronously
                tally.run_ids.append(str(event.runId))

            def onQueryProgress(self, event):  # noqa: N802
                p = event.progress
                qid = str(p.id)
                ops = p.stateOperators or []
                tally.batches += 1
                tally.state_rows[qid] = sum(o.numRowsTotal for o in ops)
                tally.state_mem[qid] = max(
                    tally.state_mem.get(qid, 0), sum(o.memoryUsedBytes for o in ops)
                )

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        spark.streams.addListener(Listener())


class Tracer:
    """Spans and counters for one session."""

    def __init__(self, spark, cores: int) -> None:
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm  # noqa: SLF001
        self.store = self.sc._jsc.sc().statusStore()  # noqa: SLF001
        self.cores = cores
        self.spans: list[dict] = []
        self.counters: Counter = Counter()
        self._seq = 0
        self._stream = _StreamTally()
        self._stream.attach(spark)
        self._gc0 = self._gc()
        self._cg0 = self._codegen()

    def _gc(self) -> tuple[int, int]:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return (sum(b.getCollectionCount() for b in beans),
                sum(b.getCollectionTime() for b in beans))

    def _codegen(self) -> tuple[int, float]:
        hist = self.jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        ns = self.jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
        return hist.getCount(), ns / 1e6

    def _drain_events(self) -> None:
        """Wait until the listener bus has delivered every posted event,
        so the status store and the streaming tally are complete."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001

    def _job_counters(self, groups: list[str]) -> Counter:
        c: Counter = Counter()
        no_quantiles = self.sc._gateway.new_array(self.jvm.double, 0)  # noqa: SLF001
        tracker = self.sc.statusTracker()
        for job_id in (j for g in groups for j in tracker.getJobIdsForGroup(g)):
            c["spark.jobs"] += 1
            stage_ids = self.store.job(job_id).stageIds()
            for i in range(stage_ids.size()):
                attempts = self.store.stageData(
                    stage_ids.apply(i), False, self.jvm.java.util.ArrayList(), False, no_quantiles
                )
                for k in range(attempts.size()):
                    s = attempts.apply(k)
                    if s.status().toString() == "SKIPPED":
                        continue
                    c["spark.stages"] += 1
                    c["spark.tasks"] += s.numCompleteTasks() + s.numFailedTasks()
                    c["spark.task_failures"] += s.numFailedTasks()
                    c["spark.executor_run_ms"] += s.executorRunTime()
                    c["spark.shuffle_read_bytes"] += s.shuffleReadBytes()
                    c["spark.shuffle_write_bytes"] += s.shuffleWriteBytes()
                    c["spark.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                    c["io.bytes_written"] += s.outputBytes()
        return c

    @contextmanager
    def phase(self, op: str, layer: str):
        """Time one phase of an operation (a span) and count the Spark
        jobs it launched, including the micro-batches of any streaming
        query it started (those run under the query's run id)."""
        self._seq += 1
        n_runs = len(self._stream.run_ids)
        group = f"perfbench-{self._seq}"
        self.sc.setJobGroup(group, f"{op}:{layer}")
        span = {"op": op, "layer": layer, "start": time.perf_counter()}
        try:
            yield span
        finally:
            span["end"] = time.perf_counter()
            self.sc.setJobGroup("perfbench-idle", "between operations")
            self._drain_events()
            span.update(self._job_counters([group, *self._stream.run_ids[n_runs:]]))
            self.spans.append(span)

    def plan_shape(self, df) -> dict[str, int]:
        plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        return {k: len(p.findall(plan)) for k, p in _PLAN_PATTERNS.items()}

    def add(self, **counts: float) -> None:
        self.counters.update(counts)

    def finish(self) -> None:
        """Fold the session-wide readers in; call once, before the
        session stops."""
        self._drain_events()
        gc1, cg1 = self._gc(), self._codegen()
        self.add(**{
            "jvm.gc_count": gc1[0] - self._gc0[0],
            "jvm.gc_ms": gc1[1] - self._gc0[1],
            "spark.codegen_compiles": cg1[0] - self._cg0[0],
            "spark.codegen_compile_ms": cg1[1] - self._cg0[1],
            "streaming.batches": self._stream.batches,
            "streaming.state_rows": sum(self._stream.state_rows.values()),
            "streaming.state_mem_bytes": sum(self._stream.state_mem.values()),
        })
        op_wall = 0.0
        for s in self.spans:
            dt = s["end"] - s["start"]
            op_wall += dt
            if s["layer"] != "jobs.run_stage":
                self.counters[f"{s['layer']}_s"] += dt
            if s["layer"] == "queries.construct":
                self.counters["queries.construct_jobs"] += s.get("spark.jobs", 0)
            for k in _JOB_COUNTERS:
                self.counters[k] += s.get(k, 0)
        busy = self.counters["spark.executor_run_ms"] / 1000.0
        self.counters["spark.slot_idle_ratio"] = (
            1.0 - busy / (op_wall * self.cores) if op_wall > 0 else 0.0
        )
        delta = self.counters.pop("upsert.delta_bytes", 0)
        written = self.counters.pop("upsert.target_bytes", 0)
        self.counters["upsert.bytes_written_per_delta_byte"] = written / delta if delta else 0.0

    def metrics(self) -> dict[str, float]:
        return {k: float(self.counters.get(k, 0)) for k in PER_LAYER}

    def spans_out(self) -> list[dict]:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        return [{**s, "start": round(s["start"] - t0, 6), "end": round(s["end"] - t0, 6)}
                for s in self.spans]
