"""Streaming jobs over the ``events`` table.

Scale design: a file-source stream on a 1000-executor cluster reads new
parquet files incrementally (`maxFilesPerTrigger` bounds batch size);
the windowed aggregation is a streaming state-store agg keyed on
(window, event_type) — state size is bounded by the watermark, which
evicts windows older than the lateness budget. Sessionization keys the
state store by ``user_id``; skewed users would be capped by a
max-events-per-session guard at scale.

Each job has a ``run_*_available_now`` wrapper that drains the full
input as a bounded stream (Trigger.AvailableNow) into an in-memory sink
and returns the final static result — this is what the driver-facing
queries call, making the streaming path oracle-checkable against plain
SQL over the same events.
"""

from __future__ import annotations

import os
import tempfile
import uuid
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from airflow_baseball_spark.functions.scalar import dec_portable

# Raw layout of the events parquet as the legacy testdata generations
# ship it: nanosecond-long ``ts`` that the reader rebuilds into a µs
# timestamp (mirrors schemas.load_table). This is both the documented
# raw schema and the fallback used when no probe file exists yet.
EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # ns since epoch
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


# r12 (optimization): session-keyed memo of the probe SCHEMA per
# (applicationId, startTime, sf_dir) — the footer probe in
# read_events_stream runs a schema-inference job per call (~0.1-0.3 s)
# and all 13 drains call it. Same disposition as schemas._READER_MEMO:
# metadata only, no data cached; a fresh session re-probes from disk.
_PROBE_SCHEMA_MEMO: dict[tuple, T.StructType] = {}


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (new files would be
    picked up incrementally on a live directory).

    The events table has shipped ``ts`` as nanosecond longs in some
    testdata generations and native µs timestamps in others (see
    schemas.load_table); a one-file batch footer probe picks the
    streaming schema, and both forms normalize to a session-local µs
    TIMESTAMP so every downstream watermark/window sees one type.
    On a live directory where the stream starts before the first file
    lands, the probe falls back to ``EVENTS_RAW_SCHEMA`` (legacy ns
    longs) instead of failing at setup. Absence is decided by a
    filesystem check, not by catching read errors — a corrupt footer
    or FS fault must fail loudly here, not silently misparse the whole
    stream under the wrong schema (same rule as operators/upsert.py)."""
    # session-TZ pin: streaming window()/watermark boundaries read the
    # session timezone at execution — pin UTC so the stream jobs are
    # deterministic under any caller session (cf. schemas.load_table)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    probe = f"{sf_dir}/events.parquet"
    sc = spark.sparkContext
    token = (sc.applicationId, sc.startTime, sf_dir)
    schema = _PROBE_SCHEMA_MEMO.get(token)
    if schema is None:
        for k in [k for k in _PROBE_SCHEMA_MEMO if k[:2] != token[:2]]:
            _PROBE_SCHEMA_MEMO.pop(k, None)
        jvm_path = spark._jvm.org.apache.hadoop.fs.Path(probe)  # noqa: SLF001
        fs = jvm_path.getFileSystem(  # noqa: SLF001
            spark._jsc.hadoopConfiguration()
        )
        if fs.exists(jvm_path):
            schema = spark.read.parquet(probe).schema
            # memoize only a real probe: a not-yet-fed directory must
            # re-probe on the next call (files may have landed since)
            _PROBE_SCHEMA_MEMO[token] = schema
        else:  # stream not yet fed
            schema = EVENTS_RAW_SCHEMA
    ts_is_long = isinstance(schema["ts"].dataType, T.LongType)
    # file-source streams take a directory; pathGlobFilter scopes it to
    # the events table (new matching files would stream in incrementally)
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if ts_is_long:
        # ns-vintage: round-half-up to µs, matching schemas.load_table's
        # r8 convention (and the oracle normalization's
        # (epoch_ns+500)//1000) — a trunc here would put every stream
        # job one µs below the batch engine on jittered vintages
        return raw.withColumn(
            "ts", F.expr("timestamp_micros((ts + 500) div 1000)")
        )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def _ckpt_dir() -> str:
    """Fresh checkpoint dir for an AvailableNow drain. r11
    (optimization): prefer tmpfs (/dev/shm) when present — the drain's
    commit log is fsync-bound on disk-backed /tmp, and these
    checkpoints are deliberately ephemeral (mkdtemp per run, same
    durability class as before; a production stream puts its
    checkpoint on reliable shared storage regardless of this default).
    ``SPARK_GRAFT_STREAM_CKPT_DIR`` overrides the parent."""
    parent = os.environ.get("SPARK_GRAFT_STREAM_CKPT_DIR")
    if parent is None and os.path.isdir("/dev/shm"):
        parent = "/dev/shm"
    return tempfile.mkdtemp(prefix="ckpt_", dir=parent)


def _scratch_dir(prefix: str) -> str:
    """Ephemeral per-run sink/partials dir for the foreachBatch drains
    (r12): same parent policy as :func:`_ckpt_dir` — these outputs are
    read back within the same run and discarded, so they share the
    checkpoint's durability class; a production stream points its sink
    at real storage regardless of this default."""
    parent = os.environ.get("SPARK_GRAFT_STREAM_CKPT_DIR")
    if parent is None and os.path.isdir("/dev/shm"):
        parent = "/dev/shm"
    return tempfile.mkdtemp(prefix=prefix, dir=parent)


def _drain_to_memory(
    sdf: DataFrame, output_mode: str, state_partitions: int | None = 8
) -> DataFrame:
    """Run a streaming DF to completion (AvailableNow) into a memory
    sink; return the final static table.

    ``state_partitions`` sizes the stateful-operator shuffle (each
    shuffle partition owns one state-store instance, fixed at the
    query's FIRST start by the checkpoint). The right value tracks the
    stream's keyed volume, not the batch default: these driver-scale
    streams carry a handful of keys, where 32 state stores are pure
    per-batch setup overhead (measured 5.2s → 1.5s on the windowed
    count at sf0.1); a production deployment over a firehose sizes it
    up like any shuffle. ``None`` leaves the session config untouched."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    spark = sdf.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    # r12 NOTE (measured, rejected): raising
    # spark.sql.streaming.stateStore.maintenanceInterval to outlive
    # the drain regressed the 13-drain family ~15% in-session — the
    # maintenance task is also what UNLOADS dead providers, so each
    # drain leaked its loaded state stores into the session. Default
    # kept.
    try:
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", _ckpt_dir())
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


# ---------------------------------------------------------------------------
# Windowed aggregation with watermark
# ---------------------------------------------------------------------------


def windowed_event_counts(events: DataFrame, window: str = "1 hour",
                          lateness: str = "1 hour") -> DataFrame:
    """Tumbling-window count + sum per event_type with an event-time
    watermark evicting state older than ``lateness``."""
    return (
        events.withWatermark("ts", lateness)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            # decimal accumulate (exact) → double out: raw SUM(DECIMAL)
            # widens differently per engine and breaks the driver hash
            F.sum(dec_portable("value", 18, 2)).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def run_windowed_counts_available_now(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    # complete mode: emit every window's final state when the bounded
    # stream drains (append mode would hold back windows newer than the
    # final watermark — correct for unbounded streams, not for a drain).
    return _drain_to_memory(windowed_event_counts(ev), "complete")


def hopping_event_counts(
    events: DataFrame,
    window: str = "2 hours",
    slide: str = "1 hour",
    lateness: str = "1 hour",
) -> DataFrame:
    """Hopping (overlapping) windows: each event contributes to
    window/slide state rows — 2 here. State per key is still bounded
    by the watermark exactly as in the tumbling case; the overlap
    multiplies state-store entries by the hop factor, not by time."""
    return (
        events.withWatermark("ts", lateness)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def run_hopping_counts_available_now(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    return _drain_to_memory(hopping_event_counts(ev), "complete")


# ---------------------------------------------------------------------------
# Stateful sessionization (applyInPandasWithState)
# ---------------------------------------------------------------------------

SESSION_GAP_MIN = 30

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ]
)

_GAP_US = SESSION_GAP_MIN * 60 * 1_000_000


def sessionize_stream(
    events: DataFrame,
    gap_us: int = _GAP_US,
    flush_open_at_batch_end: bool = True,
) -> DataFrame:
    """Per-user session builder. State carries the open session across
    micro-batches; a gap > SESSION_GAP_MIN minutes closes it.

    Two modes:

    * ``flush_open_at_batch_end=True`` (bounded drains): end-of-input
      is end-of-stream, so each batch flushes everything — complete
      output for AvailableNow runs over a SINGLE batch. (With multiple
      batches this mode splits sessions that straddle a batch boundary
      — use the streaming mode below.)
    * ``flush_open_at_batch_end=False`` (24/7 streaming): closed
      sessions emit as soon as the gap passes; the open session stays
      in state with an event-time timeout at ``end + gap``, so it emits
      once the watermark proves no earlier event can still arrive.
      Sessions spanning micro-batches merge correctly via the carried
      state (tests/test_streaming.py drives a 3-batch replay).

    The state function is deliberately a *closure*: cloudpickle ships
    closures by value, so Python workers never need this package on
    their PYTHONPATH (the driver may run us from any cwd).
    """

    def sessionize_group(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np  # noqa: PLC0415 — worker-side imports
        import pandas as pd  # noqa: PLC0415

        (user_id,) = key

        def emit(rows):
            return pd.DataFrame(
                {
                    "user_id": [user_id] * len(rows),
                    "session_start": pd.to_datetime([r[0] for r in rows], unit="us"),
                    "session_end": pd.to_datetime([r[1] for r in rows], unit="us"),
                    "n_events": [int(r[2]) for r in rows],
                    # state carries integer CENTS (exact float adds);
                    # /100 here matches the session oracle's
                    # SUM(FLOOR(value*100+0.5))/100 bit for bit
                    "total_value": [float(r[3]) / 100.0 for r in rows],
                }
            )

        carried = tuple(state.get) if state.exists else None

        if state.hasTimedOut:
            # watermark passed end+gap: the held session is final
            state.remove()
            yield emit([carried] if carried else [])
            return

        chunks = [c for c in pdfs if len(c)]
        pdf = pd.concat(chunks, ignore_index=True) if chunks else None
        if pdf is None or not len(pdf):
            yield emit([])
            return

        pdf = pdf.sort_values("ts")
        ts_us = pdf["ts"].to_numpy("datetime64[ns]").astype("int64") // 1_000
        # quantize-before-sum (house exactness rule): integer cents as
        # float64 add EXACTLY under reduceat (|cents| << 2^53), so the
        # per-session total is order- and engine-proof; raw float sums
        # tie-diverge against DuckDB's hash-agg summation order
        vals = np.floor(
            np.nan_to_num(pdf["value"].to_numpy("float64")) * 100.0 + 0.5
        )

        prev_end = carried[1] if carried else np.iinfo("int64").min // 2
        prev = np.concatenate(([prev_end], ts_us[:-1]))
        sess = np.cumsum(ts_us - prev > gap_us)  # 0 joins the carried session
        bounds = np.flatnonzero(np.diff(sess, prepend=sess[0] - 1))

        starts = ts_us[bounds]
        ends = np.append(ts_us[bounds[1:] - 1], ts_us[-1])
        counts = np.diff(np.append(bounds, len(ts_us)))
        totals = np.add.reduceat(vals, bounds)

        out = []
        if carried is not None:
            if sess[0] == 0:  # first batch event continues the carried session
                starts[0] = carried[0]
                counts[0] += carried[2]
                totals[0] += carried[3]
            else:
                out.append(carried)
        out.extend(zip(starts, ends, counts, totals))

        if flush_open_at_batch_end:
            state.remove()
            yield emit(out)
        else:
            *closed, open_sess = out
            open_sess = tuple(
                (int(v) if i < 3 else float(v)) for i, v in enumerate(open_sess)
            )
            state.update(open_sess)
            # emit once the watermark passes end+gap (ms for the API)
            state.setTimeoutTimestamp((open_sess[1] + gap_us) // 1_000)
            yield emit(closed)

    timeout_mode = (
        GroupStateTimeout.NoTimeout
        if flush_open_at_batch_end
        else GroupStateTimeout.EventTimeTimeout
    )
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            sessionize_group,
            SESSION_SCHEMA,
            _STATE_SCHEMA,
            "append",
            timeout_mode,
        )
    )


# ---------------------------------------------------------------------------
# Streaming deduplication
# ---------------------------------------------------------------------------


def dedup_keys_stream(events: DataFrame, lateness: str = "1 hour") -> DataFrame:
    """Streaming key dedup: first occurrence of each (user_id,
    event_type) pair passes, repeats within the watermark window are
    dropped. State holds one entry per distinct key and is evicted once
    the watermark passes — bounded memory on an unbounded stream (plain
    ``dropDuplicates`` would grow state forever). Only the key columns
    are emitted so the result is the deterministic distinct-key set
    regardless of which physical row arrived first."""
    return (
        events.withWatermark("ts", lateness)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


def run_stream_dedup_available_now(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    return _drain_to_memory(dedup_keys_stream(ev), "append")


# ---------------------------------------------------------------------------
# Stream-static join
# ---------------------------------------------------------------------------


def stream_static_enrich(events: DataFrame, nation: DataFrame) -> DataFrame:
    """Enrich a stream against a static dimension (broadcast — the dim
    never shuffles and is re-read per micro-batch, so slowly-changing
    dims pick up updates), then aggregate per dim attribute."""
    joined = events.join(
        F.broadcast(nation),
        (F.col("user_id") % 25) == F.col("n_nationkey"),
    )
    return joined.groupBy("n_name").agg(
        F.count("*").alias("n_events"),
        F.sum(dec_portable("value", 18, 2)).cast("double").alias(
            "total_value"
        ),
    )


def run_stream_static_join_available_now(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airflow_baseball_spark.schemas import load_table  # noqa: PLC0415 — cycle guard

    ev = read_events_stream(spark, sf_dir)
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return _drain_to_memory(stream_static_enrich(ev, nation), "complete")


def run_sessionize_available_now(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    out = _drain_to_memory(sessionize_stream(ev), "append")
    return out.select(
        "user_id",
        "session_start",
        "session_end",
        "n_events",
        (F.floor(F.col("total_value") * 100 + F.lit(0.5)) / 100.0).alias(
            "total_value"
        ),
    )


def run_stream_upsert_available_now(
    spark: SparkSession, sf_dir: str, target_path: str | None = None
) -> DataFrame:
    """CDC-apply sink: each micro-batch MERGEs into a keyed target via
    ``foreachBatch`` + :func:`operators.upsert.merge_upsert` — the
    streaming form of the reference's ON DUPLICATE KEY UPDATE loop
    (`dags/utils/queries.py:5-261`), keeping the LATEST event per
    ``user_id`` (version = event time).

    ``version_col="ts"`` is what makes batching irrelevant: the merge
    keeps the highest-``ts`` row across the STORED table and the batch
    (not "the batch wins"), so keep-latest is associative and an
    out-of-order micro-batch can never regress a newer stored row —
    which is why the AvailableNow drain can be oracle-checked against
    plain batch SQL. At scale the inner merge is the partition-pruned
    variant (X61) and the target is Delta, so per-batch work tracks
    batch size, not table size."""
    from airflow_baseball_spark.operators.upsert import merge_upsert

    target = target_path or _scratch_dir("stream_upsert_") + "/t"
    stream = read_events_stream(spark, sf_dir)

    def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        merge_upsert(
            batch_df.sparkSession,
            batch_df,
            target,
            keys=["user_id"],
            version_col="ts",
        )

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", _ckpt_dir())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(target)


# ---------------------------------------------------------------------------
# Stream-stream interval join
# ---------------------------------------------------------------------------


def stream_stream_pairs(events: DataFrame, max_lag: str = "30 minutes") -> DataFrame:
    """Watermarked stream-stream INNER join: click events matched to
    purchase events of the same user within ``max_lag`` after the
    click (attribution-window shape).

    Both sides are branches of the same source stream; each carries
    its own event-time watermark, and the join condition bounds
    ``purchase_ts`` to ``[click_ts, click_ts + max_lag]``, which is
    what lets Spark evict buffered state: a click older than
    watermark−max_lag can never match a future purchase, so the state
    store holds only the trailing window on each side — bounded memory
    on an unbounded stream. Without the time-range condition Spark
    would (rightly) have to buffer both sides forever."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user_id"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
    )
    return clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {max_lag}")),
    ).select("user_id", "click_ts", "purchase_ts")


def run_stream_stream_join_available_now(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    return _drain_to_memory(stream_stream_pairs(ev), "append")


def quarantine_counts(events: DataFrame) -> DataFrame:
    """Streaming ingest-boundary quarantine: per event_type, parsed vs
    unparseable JSON payloads under the SAME deterministic mangle as
    the batch corrupt_quarantine query (event_id % 37 drops the JSON
    suffix). A stateless per-row parse + a global aggregate — no
    watermark needed (the counts are keyed by type, not time), state
    is |types|-bounded forever."""
    mangled = F.when(
        F.col("event_id") % 37 == 0,
        F.expr("substring(props, 1, length(props) - 2)"),
    ).otherwise(F.col("props"))
    parsed = F.from_json(mangled, T.StructType([T.StructField("k", T.LongType())]))
    return (
        events.select("event_type", parsed["k"].alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_total"),
            F.count("k").alias("n_parsed"),
            F.count(F.when(F.col("k").isNull(), 1)).alias("n_quarantined"),
            F.sum("k").cast("long").alias("k_sum"),
        )
    )


def run_stream_quarantine_available_now(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    return _drain_to_memory(quarantine_counts(ev), "complete")


def windowed_distinct_users(
    events: DataFrame, window: str = "1 day", lateness: str = "1 hour"
) -> DataFrame:
    """Distinct active users per tumbling window — the streaming
    distinct done the bounded-state way: a watermarked
    dropDuplicates on (window, user) keeps one state row per
    user-window (evicted at the watermark) and the downstream count
    is an ordinary streaming agg. A COUNT(DISTINCT) inside the agg is
    unsupported in streaming, and approx_count_distinct trades
    exactness away — this two-step form is the exact, state-bounded
    pattern."""
    w = F.window("ts", window).alias("w")
    return (
        events.withWatermark("ts", lateness)
        .select(w, "user_id", "ts")
        .dropDuplicates(["w", "user_id"])
        .groupBy("w")
        .agg(F.count("*").alias("n_active_users"))
        .select(F.col("w.start").alias("window_start"), "n_active_users")
    )


def run_windowed_users_available_now(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    return _drain_to_memory(windowed_distinct_users(ev), "complete")


# ---------------------------------------------------------------------------
# Native session_window aggregation
# ---------------------------------------------------------------------------


def native_session_windows(
    events: DataFrame, gap: str = "30 minutes"
) -> DataFrame:
    """Per-user sessions via Spark's BUILT-IN ``session_window``
    operator — same semantics as :func:`sessionize_stream`'s custom
    state function (and the batch gaps-and-islands form), expressed
    declaratively so the engine owns the state merging. The window's
    native end is ``last_event + gap``; subtracting the same literal
    gap recovers MAX(ts), aligning all three implementations on one
    oracle."""
    return (
        events.groupBy(
            F.session_window("ts", gap), F.col("user_id")
        )
        .agg(
            F.count("*").alias("n_events"),
            (
                F.sum(
                    F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
                ).cast("double")
                / 100.0
            ).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            (
                F.col("session_window.end") - F.expr(f"INTERVAL {gap}")
            ).alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def run_session_window_available_now(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    return _drain_to_memory(native_session_windows(ev), "complete")


# ---------------------------------------------------------------------------
# foreachBatch incremental aggregate (partials + compaction)
# ---------------------------------------------------------------------------


def run_foreachbatch_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental aggregate via ``foreachBatch`` — the
    escape hatch pattern the built-in sinks can't express: each
    micro-batch appends its COMMUTATIVE partial aggregate (exact
    integer cents) to a partials table; a compaction fold at read
    time produces the materialized view. Append-only partials make
    the per-batch write atomic-enough (a replayed batch after a crash
    re-appends, which a keyed compaction with batch_id dedups — the
    batch_id lands in the partial exactly for that reason).

    The other streaming jobs drain through memory sinks; this one
    exercises the foreachBatch + object-store path a production
    incremental MV actually takes (incremental_mv is the CDC batch
    sibling)."""
    out = _scratch_dir("fbmv_") + "/partials"
    ev = read_events_stream(spark, sf_dir)
    cents = (dec_portable("value", 18, 2) * 100).cast("long")

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.select("event_type", cents.alias("v"))
            .groupBy("event_type")
            .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out)
        )

    q = (
        ev.writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", _ckpt_dir())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    partials = spark.read.parquet(out).dropDuplicates(
        ["event_type", "batch_id"]
    )
    return (
        partials.groupBy("event_type")
        .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_events"),
            (F.col("s").cast("double") / 100.0).alias("total_value"),
        )
    )


def run_window_topk_available_now(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-3 event types by revenue per day window: the windowed
    aggregate runs as a STREAM (complete mode); the rank over each
    window's finished aggregates is a static post-pass on the drained
    result — the standard split for "top-k per window" (rank
    functions aren't available inside streaming aggregations)."""
    ev = read_events_stream(spark, sf_dir)
    cents = (dec_portable("value", 18, 2) * 100).cast("long")
    agg = (
        ev.groupBy(F.window("ts", "1 day"), F.col("event_type"))
        .agg(F.sum(cents).alias("v"))
        .select(
            F.col("window.start").alias("window_start"), "event_type", "v"
        )
    )
    final = _drain_to_memory(agg, "complete")
    from pyspark.sql import Window as W

    w = W.partitionBy("window_start").orderBy(
        F.col("v").desc(), "event_type"
    )
    return (
        final.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "window_start",
            "event_type",
            (F.col("v").cast("double") / 100.0).alias("revenue"),
            F.col("rk").cast("long").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming HLL: windowed distinct-user estimate via register sketch
# ---------------------------------------------------------------------------


def hll_windowed_registers(
    events: DataFrame, window: str = "1 day", lateness: str = "1 hour"
) -> DataFrame:
    """Per-window HLL registers as a STREAMING aggregate: the state
    store holds at most 256 rows per open window (one max-rho per
    register) — constant state per window regardless of stream
    volume, where the exact windowed-distinct job
    (windowed_distinct_users) holds one state row PER USER per
    window. max() is the register merge, so late/out-of-order rows
    within the watermark fold in for free; this is the streaming
    face of the batch sketch (queries_sketch.hll_register_exprs —
    identical hash/register construction, one oracle semantics)."""
    from airflow_baseball_spark.queries_sketch import hll_register_exprs

    idx, rho = hll_register_exprs("user_id")
    return (
        events.withWatermark("ts", lateness)
        .groupBy(F.window("ts", window).alias("w"), idx.alias("reg"))
        .agg(F.max(rho).alias("mrho"))
    )


def run_hll_windowed_available_now(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Drain the streaming register build, then finalize estimates per
    window as a batch step over the tiny (windows × 256) register
    table — sketch state is the streaming OUTPUT; the estimate
    formula never runs inside the stream."""
    from airflow_baseball_spark.queries_sketch import hll_finalize

    ev = read_events_stream(spark, sf_dir)
    regs = _drain_to_memory(hll_windowed_registers(ev), "complete")
    flat = regs.select(
        F.col("w.start").alias("window_start"), "reg", "mrho"
    )
    return hll_finalize(flat, ["window_start"])
