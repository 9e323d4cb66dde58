"""Upsert contract tests (SURVEY.md §5.3): idempotent re-run, duplicate
keys keep latest, column-wise partial update (metric stages each merge
only their own columns), and the storage-level merge round-trip."""

from __future__ import annotations

import tempfile

import pytest

from airflow_baseball_spark.operators.upsert import merge_upsert, upsert_dataframe


def _collect(df):
    return {tuple(r) for r in df.collect()}


def test_upsert_insert_update_idempotent(spark):
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "id int, name string, v double"
    )
    updates = spark.createDataFrame(
        [(2, "b2", 21.0), (3, "c", 30.0)], "id int, name string, v double"
    )
    once = upsert_dataframe(target, updates, keys=["id"])
    assert _collect(once) == {(1, "a", 10.0), (2, "b2", 21.0), (3, "c", 30.0)}
    twice = upsert_dataframe(once, updates, keys=["id"])
    assert _collect(twice) == _collect(once)  # re-run is a no-op


def test_upsert_duplicate_keys_latest_wins(spark):
    updates = spark.createDataFrame(
        [(1, 1.0, 1), (1, 2.0, 2), (1, 0.5, 3)], "id int, v double, version int"
    )
    out = upsert_dataframe(None, updates, keys=["id"], version_col="version")
    assert _collect(out) == {(1, 0.5, 3)}


def test_upsert_columnwise_partial_update(spark):
    """011 writes wOBA, then 013 writes k_rate into the same row — each
    stage must not clobber the other's columns."""
    target = spark.createDataFrame(
        [(1, 0.35, None), (2, 0.30, None)],
        "hitter_id int, wOBA double, k_rate double",
    )
    stage2 = spark.createDataFrame([(1, 0.21), (3, 0.19)], "hitter_id int, k_rate double")
    out = upsert_dataframe(target, stage2, keys=["hitter_id"], update_cols=["k_rate"])
    assert _collect(out) == {
        (1, 0.35, 0.21),
        (2, 0.30, None),
        (3, None, 0.19),  # new key: non-updated columns NULL
    }


def test_merge_upsert_roundtrip(spark):
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/t"
        base = spark.createDataFrame([(1, 1.0), (2, 2.0)], "id int, v double")
        merge_upsert(spark, base, path, keys=["id"])
        upd = spark.createDataFrame([(2, 9.0), (3, 3.0)], "id int, v double")
        merge_upsert(spark, upd, path, keys=["id"])
        merge_upsert(spark, upd, path, keys=["id"])  # idempotent
        out = _collect(spark.read.parquet(path))
        assert out == {(1, 1.0), (2, 9.0), (3, 3.0)}


def test_merge_upsert_recovers_orphaned_backup(spark):
    """Crash between _swap_paths' two renames leaves dst missing and
    the backup holding the only copy. The next merge must restore the
    backup and merge against it — not rebuild the table from the batch
    alone (which would permanently drop every pre-existing row)."""
    import os

    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/t"
        base = spark.createDataFrame([(1, 1.0), (2, 2.0)], "id int, v double")
        merge_upsert(spark, base, path, keys=["id"])
        # simulate the mid-swap crash: dst moved aside, staging never in
        os.rename(path, f"{path}__backup")
        upd = spark.createDataFrame([(2, 9.0), (3, 3.0)], "id int, v double")
        merge_upsert(spark, upd, path, keys=["id"])
        out = _collect(spark.read.parquet(path))
        assert out == {(1, 1.0), (2, 9.0), (3, 3.0)}  # row 1 survived
        assert not os.path.exists(f"{path}__backup")


def test_merge_upsert_read_errors_propagate(spark):
    """A target that EXISTS but cannot be read must fail the merge —
    not be silently treated as missing and overwritten with batch-only
    rows."""
    import os

    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/t"
        os.makedirs(path)
        with open(f"{path}/part-00000.parquet", "wb") as f:
            f.write(b"not a parquet footer")
        upd = spark.createDataFrame([(1, 1.0)], "id int, v double")
        with pytest.raises(Exception):
            merge_upsert(spark, upd, path, keys=["id"])
        # the corrupt target was not clobbered
        assert open(f"{path}/part-00000.parquet", "rb").read().startswith(b"not a")


def test_empty_dir_target_treated_as_missing(spark):
    """A leftover empty directory (e.g. an interrupted first write)
    must count as "table missing" — the merge proceeds from the batch
    alone instead of dying on schema inference forever (ADVICE r3)."""
    from airflow_baseball_spark.operators.upsert import _path_exists

    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/t"
        import os

        os.makedirs(path)
        assert _path_exists(spark, path) is False
        upd = spark.createDataFrame([(1, 1.0), (2, 2.0)], "id int, v double")
        merge_upsert(spark, upd, path, keys=["id"])
        assert _collect(spark.read.parquet(path)) == {(1, 1.0), (2, 2.0)}
        # and a real (partitioned-layout) table still counts as present
        assert _path_exists(spark, path) is True


def test_version_wins_merge_resists_stale_batches(spark):
    """CDC keep-latest: a batch carrying an OLDER version for a stored
    key must not regress the row; batch-wins (no version column) must —
    each mode matching its documented contract."""
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/t"
        fresh = spark.createDataFrame([(1, 10, "new")], "id int, v int, s string")
        merge_upsert(spark, fresh, path, keys=["id"], version_col="v")
        stale = spark.createDataFrame([(1, 5, "old"), (2, 1, "b")],
                                      "id int, v int, s string")
        merge_upsert(spark, stale, path, keys=["id"], version_col="v")
        assert _collect(spark.read.parquet(path)) == {(1, 10, "new"), (2, 1, "b")}
        # no version column: the applied batch wins regardless of version
        merge_upsert(spark, stale, path, keys=["id"])
        assert _collect(spark.read.parquet(path)) == {(1, 5, "old"), (2, 1, "b")}
