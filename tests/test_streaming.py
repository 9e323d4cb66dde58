"""Streaming-mode tests the oracle can't see: cross-batch state carry.

A 4-file replay (maxFilesPerTrigger=1 → 4 micro-batches) drives
``sessionize_stream(flush_open_at_batch_end=False)``:

* user 100's session straddles the file-1/file-2 boundary → must merge
  via carried state, not split;
* a gap inside file 2 closes the first session → emitted immediately;
* files 3 and 4 carry far-future sentinel events (other users) that
  advance the GLOBAL watermark past ``end + gap`` of users 100/200's
  last sessions, so their held sessions flush via event-time timeout in
  batch 4.

Expected output for users 100/200 == the batch gap-and-islands result.
"""

from __future__ import annotations

import os
import tempfile

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from airflow_baseball_spark.operators.sessionize import sessionize
from airflow_baseball_spark.streaming import jobs

T0 = pd.Timestamp("2024-01-01 00:00:00").value  # ns epoch


def _ns(minutes: float) -> int:
    return T0 + int(minutes * 60 * 1e9)


def _write(path: str, rows: list[tuple], mtime: float) -> None:
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.int64()),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array(["x"] * len(rows), pa.string()),
            "value": pa.array([float(r[3]) for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(tbl, path)
    os.utime(path, (mtime, mtime))


@pytest.fixture(scope="module")
def replay_dir():
    d = tempfile.mkdtemp(prefix="stream_replay_")
    # file 1: user 100 starts a session; user 200 one event
    _write(f"{d}/01.parquet", [
        (1, _ns(0), 100, 1.0),
        (2, _ns(10), 100, 2.0),
        (3, _ns(5), 200, 5.0),
    ], mtime=1_700_000_001)
    # file 2: user 100 continues within gap (25 min after _ns(10)) —
    # must MERGE with the carried session; then a >30min gap opens a
    # second session
    _write(f"{d}/02.parquet", [
        (4, _ns(35), 100, 3.0),
        (5, _ns(120), 100, 4.0),
    ], mtime=1_700_000_002)
    # files 3+4: sentinel users far in the future push the global
    # watermark beyond everyone's end+gap; batch 4 fires the timeouts
    _write(f"{d}/03.parquet", [(6, _ns(60 * 24 * 7), 901, 0.0)], mtime=1_700_000_003)
    _write(f"{d}/04.parquet", [(7, _ns(60 * 24 * 14), 902, 0.0)], mtime=1_700_000_004)
    return d


def test_cross_batch_sessions_match_batch_oracle(spark, replay_dir):
    # read_events_stream's pathGlobFilter targets events.parquet; here
    # we stream the replay files directly
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.readStream.schema(jobs.EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay_dir)
    )
    stream = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    out = jobs._drain_to_memory(
        jobs.sessionize_stream(stream, flush_open_at_batch_end=False), "append"
    )
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"],
         round(r["total_value"], 2))
        for r in out.filter(F.col("user_id") < 900).collect()
    }

    batch_df = spark.createDataFrame(
        pd.DataFrame(
            {
                "user_id": [100, 100, 200, 100, 100],
                "ts": pd.to_datetime(
                    [_ns(0), _ns(10), _ns(5), _ns(35), _ns(120)]
                ),
                "value": [1.0, 2.0, 5.0, 3.0, 4.0],
            }
        )
    )
    want = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"],
         round(r["total_value"], 2))
        for r in sessionize(batch_df).collect()
    }
    assert got == want
    # and specifically: the straddling session merged, not split
    assert (100, pd.Timestamp("2024-01-01 00:00:00"),
            pd.Timestamp("2024-01-01 00:35:00"), 3, 6.0) in got


def test_single_batch_drain_still_flushes_everything(spark, replay_dir):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.readStream.schema(jobs.EVENTS_RAW_SCHEMA).parquet(replay_dir)
    stream = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    out = jobs._drain_to_memory(
        jobs.sessionize_stream(stream, flush_open_at_batch_end=True), "append"
    )
    # every user's sessions emitted, including sentinels
    assert out.filter(F.col("user_id") < 900).count() == 3
    assert out.filter(F.col("user_id") >= 900).count() == 2


def test_stream_dedup_dedups_across_batches(spark, replay_dir):
    """A key seen in batch 1 and again in batch 2 (within the watermark)
    must emit exactly once; distinct keys all appear."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.readStream.schema(jobs.EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay_dir)
    )
    stream = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    out = jobs._drain_to_memory(jobs.dedup_keys_stream(stream), "append")
    rows = [(r["user_id"], r["event_type"]) for r in out.collect()]
    # user 100 appears in files 1 AND 2 — state must swallow the repeat
    assert sorted(rows) == [(100, "x"), (200, "x"), (901, "x"), (902, "x")]


def test_stream_upsert_converges_across_batches(spark, replay_dir, tmp_path):
    """foreachBatch CDC-apply over micro-batches must land the same
    final table as one global keep-latest — associativity of the
    version-column merge, the property the oracle check relies on.
    The replay deliberately delivers an OUT-OF-ORDER batch (user 100's
    oldest event arrives last): batch-wins semantics would regress the
    stored row; the version-column merge must not."""
    import shutil

    from airflow_baseball_spark.operators.upsert import merge_upsert, upsert_dataframe

    ooo_dir = str(tmp_path / "replay")
    shutil.copytree(replay_dir, ooo_dir)
    # file 5 (newest mtime → last micro-batch): a STALE event for user
    # 100, older than everything already merged for that user
    _write(f"{ooo_dir}/05.parquet", [(8, _ns(-60), 100, 99.0)], mtime=1_700_000_005)

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.readStream.schema(jobs.EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(ooo_dir)
    )
    stream = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    target = str(tmp_path / "t")

    def apply_batch(batch_df, _bid):
        merge_upsert(
            batch_df.sparkSession,
            batch_df,
            target,
            keys=["user_id"],
            version_col="ts",
        )

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {tuple(r) for r in spark.read.parquet(target).collect()}
    batch = spark.read.schema(jobs.EVENTS_RAW_SCHEMA).parquet(ooo_dir).withColumn(
        "ts", F.expr("timestamp_micros(ts div 1000)")
    )
    want = {
        tuple(r)
        for r in upsert_dataframe(None, batch, keys=["user_id"], version_col="ts")
        .select(*spark.read.parquet(target).columns)
        .collect()
    }
    assert got == want and len(got) == 4  # users 100, 200, 901, 902
    # the stale out-of-order event must NOT have replaced user 100's row
    u100 = next(r for r in spark.read.parquet(target).collect() if r.user_id == 100)
    assert u100.event_id == 5  # ts(120min) event, not the late ts(-60min) one


def test_windowed_counts_restart_from_checkpoint_exactly_once(spark, tmp_path):
    """Kill-and-resume semantics: drain 1 processes file 1 against a
    fresh checkpoint; file 2 lands; drain 2 restarts from the SAME
    checkpoint and must (a) not reprocess file 1 — its offsets are
    committed — and (b) flush the held hour-windows once the file-2
    event advances the watermark. The parquet sink output must then
    contain every flushed (window, type) exactly once, equal to the
    batch aggregation of file 1."""
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain():
        raw = (
            spark.readStream.schema(jobs.EVENTS_RAW_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        ev = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        q = (
            jobs.windowed_event_counts(ev, window="1 hour", lateness="1 hour")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # file 1: two hour-buckets of ordinary events
    _write(
        f"{src}/01.parquet",
        [
            (1, _ns(5), 100, 1.0),
            (2, _ns(20), 100, 2.0),
            (3, _ns(70), 200, 3.0),
        ],
        mtime=1_700_000_001,
    )
    drain()

    # file 2: far-future sentinel advances the watermark past file 1's
    # windows; the restart must resume from the committed offset
    _write(
        f"{src}/02.parquet",
        [(4, _ns(60 * 24 * 30), 901, 0.0)],
        mtime=1_700_000_002,
    )
    drain()

    final = spark.read.parquet(out)
    rows = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in final.collect()
    }
    # exactly-once across the restart: no duplicated window rows
    assert len(rows) == final.count()
    # equals the batch aggregation of file 1 (file 2's own window is
    # still held behind the final watermark)
    batch = (
        spark.read.schema(jobs.EVENTS_RAW_SCHEMA)
        .parquet(f"{src}/01.parquet")
        .withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("tv"),
        )
        .select(F.col("w.start").alias("ws"), "event_type", "n", "tv")
        .collect()
    )
    assert len(batch) == len(rows)
    for b in batch:
        assert rows[(b["ws"], b["event_type"])] == (b["n"], b["tv"])
