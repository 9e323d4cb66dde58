"""Idempotent keyed upsert — Spark analog of MySQL
``INSERT … ON DUPLICATE KEY UPDATE`` (``dags/utils/queries.py:5-261``).

Two layers:

* :func:`upsert_dataframe` — the pure transformation: given the current
  target rows and an updates batch, return the post-merge state
  ("latest wins" per key). Deterministic: ordering is by an explicit
  version column, tie-broken on all non-key columns, so re-running the
  same batch is a no-op (the reference's ON DUPLICATE KEY contract).
* :func:`merge_upsert` — the storage operation: read target parquet if
  present, merge the batch into it, write to a staging path and swap it
  in crash-safely. On a Delta/Iceberg deployment this would be
  ``MERGE INTO``; plain parquet is what this engine writes.

One version rule: with a ``version_col``, :func:`merge_upsert` keeps the
highest version per key across the stored rows and the batch; without
one, the batch replaces the stored row.

Column-wise merge semantics: the reference's metric stages each upsert
only *their* columns (wOBA, then wRC, then k/bb/babip …) into the same
row. :func:`upsert_dataframe`'s ``update_cols`` restricts the merge
accordingly: unlisted columns keep the target's existing value when a
key matches.

:func:`data_files` and the :data:`MARKER` helpers let a caller tell
whether a table changed since it last merged into it (``jobs.run_stage``
skips a merge whose inputs and target are unchanged).

Scale: the union+window dedup shuffles once on the key and rewrites
the whole target. For a large partitioned target,
:func:`merge_upsert_partitioned` reads and overwrites only the
partitions the batch touches.
"""

from __future__ import annotations

from collections.abc import Sequence

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def upsert_dataframe(
    target: DataFrame | None,
    updates: DataFrame,
    keys: Sequence[str],
    update_cols: Sequence[str] | None = None,
    version_col: str | None = None,
) -> DataFrame:
    """Return the merged state of ``target`` after applying ``updates``.

    * rows in ``updates`` whose key exists in ``target`` replace the
      target values of ``update_cols`` (all non-key columns if None);
    * new keys are inserted (missing non-updated columns become NULL);
    * duplicate keys *within* ``updates`` keep the highest
      ``version_col`` (falling back to "any one, deterministically" via
      a total order over all columns).
    """
    keys = list(keys)
    if target is None:
        merged = _dedup_latest(updates, keys, version_col)
        return merged

    if update_cols is None:
        update_cols = [c for c in updates.columns if c not in keys]
    update_cols = list(update_cols)

    upd = _dedup_latest(updates.select(*keys, *update_cols), keys, version_col)
    # Column-wise merge: matched rows take the update's value per
    # update_col, keep target's value for everything else; new keys get
    # NULL for non-updated target columns.
    upd_aliased = upd.select(
        *[F.col(k).alias(f"__u_{k}") for k in keys],
        *[F.col(c).alias(f"__u_{c}") for c in update_cols],
        F.lit(True).alias("__matched"),
    )
    cond = [target[k] == upd_aliased[f"__u_{k}"] for k in keys]
    joined = target.join(upd_aliased, cond, "full_outer")

    out_cols = []
    for c in target.columns:
        if c in keys:
            out_cols.append(F.coalesce(target[c], upd_aliased[f"__u_{c}"]).alias(c))
        elif c in update_cols:
            out_cols.append(
                F.when(F.col("__matched").isNotNull(), upd_aliased[f"__u_{c}"])
                .otherwise(target[c])
                .alias(c)
            )
        else:
            out_cols.append(target[c].alias(c))
    return joined.select(*out_cols)


def _dedup_latest(
    df: DataFrame, keys: Sequence[str], version_col: str | None
) -> DataFrame:
    order = []
    if version_col is not None:
        order.append(F.col(version_col).desc_nulls_last())
    # Deterministic tie-break: total order over remaining columns.
    order.extend(
        F.col(c).desc_nulls_last() for c in df.columns if c not in keys and c != version_col
    )
    if not order:
        return df.dropDuplicates(list(keys))
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_upsert(
    spark: SparkSession,
    updates: DataFrame,
    target_path: str,
    keys: Sequence[str],
    version_col: str | None = None,
) -> None:
    """Merge ``updates`` into the parquet table at ``target_path``.

    Two matched-key semantics:

    * no ``version_col``: the updates batch replaces the stored row
      unconditionally — MySQL ON DUPLICATE KEY UPDATE parity
      (`dags/utils/queries.py:5-261`), where "latest" means "the batch
      being applied".
    * ``version_col`` given: keep the row with the highest version
      across BOTH the stored table and the batch (same total order as
      :func:`_dedup_latest`). This is the CDC-apply contract:
      out-of-order batches cannot regress a newer stored row, and the
      merge is associative across any batch slicing. ``updates``
      carries the full row schema."""
    _recover_backup(spark, target_path)
    # Existence is decided by the filesystem, not by catching read
    # errors: a blanket except would treat a corrupt footer or a
    # transient FS fault as "table missing" and silently rebuild the
    # target from the batch alone.
    if _path_exists(spark, target_path):
        target = spark.read.parquet(target_path)
    else:
        target = None
    if version_col is not None:
        both = updates if target is None else target.unionByName(updates)
        merged = _dedup_latest(both, list(keys), version_col)
    else:
        merged = upsert_dataframe(target, updates, keys)
    # Parquet cannot overwrite a path that the merged plan still reads
    # lazily; stage to a sibling path and swap (distributed — no
    # driver-side collect).
    if target is None:
        merged.write.mode("overwrite").parquet(target_path)
        return
    tmp_path = target_path.rstrip("/") + "__staging"
    merged.write.mode("overwrite").parquet(tmp_path)
    _swap_paths(spark, tmp_path, target_path)


def merge_upsert_partitioned(
    spark: SparkSession,
    updates: DataFrame,
    target_path: str,
    keys: Sequence[str],
    partition_col: str,
) -> list:
    """Partition-pruned upsert — the 100 TB shape of :func:`merge_upsert`.

    A daily batch touches a handful of partitions of a huge target
    (the reference's per-run upserts always land on "today":
    `dags/030_scrape_today_games_time.py:44-56`). Rewriting the whole
    table for that is the scale-killer; this variant:

    1. lists the partitions present in ``updates`` (one tiny distinct
       — bounded by the batch, never the target),
    2. reads ONLY those partitions of the target (the ``isin`` filter
       prunes directories at the source),
    3. merges, and dynamically overwrites just those partitions
       (``partitionOverwriteMode=dynamic`` leaves all other partition
       directories untouched on disk).

    The merged frame is ``localCheckpoint``-ed before the overwrite:
    it is bounded (batch-sized), and materializing it breaks the
    self-read the overwrite would otherwise reject. Returns the list
    of partition values rewritten."""
    parts = [r[0] for r in updates.select(partition_col).distinct().collect()]
    # fs-existence check, not try/except around the read: any real read
    # error (corrupt file, permissions, transient FS fault) must
    # propagate — swallowing it here would dynamic-overwrite the
    # touched partitions with batch-only rows, dropping every
    # pre-existing row whose key is not in the batch.
    if _path_exists(spark, target_path):
        target = spark.read.parquet(target_path).filter(
            F.col(partition_col).isin(parts)
        )
    else:
        target = None
    merged = upsert_dataframe(target, updates, keys).localCheckpoint()
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        merged.write.mode("overwrite").partitionBy(partition_col).parquet(
            target_path
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return parts


def _fs_paths(spark: SparkSession, *paths: str):
    """(FileSystem, Path...) for HDFS-compatible stores and local FS."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    ps = [jvm.org.apache.hadoop.fs.Path(p) for p in paths]
    return (ps[0].getFileSystem(conf), *ps)


def _visible(rel: str) -> bool:
    """True iff no segment of the relative path ``rel`` starts with
    ``_`` or ``.`` — the rule ``spark.read`` applies. A part file under
    an interrupted write's ``_temporary/`` subtree, ``_SUCCESS``,
    ``.crc`` checksums and the :func:`write_marker` file are all
    invisible and never count as data."""
    return all(not seg.startswith(("_", ".")) for seg in rel.split("/"))


def _visible_files(spark: SparkSession, path: str):
    """Yield the Hadoop ``FileStatus`` of every visible data file under
    ``path`` (recursively, so partitioned layouts count; ``path`` itself
    when it is a file). Yields nothing when ``path`` is missing."""
    fs, p = _fs_paths(spark, path)
    if not fs.exists(p):
        return
    base = p.toUri().getPath().rstrip("/")
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        if _visible(st.getPath().toUri().getPath()[len(base) :].lstrip("/")):
            yield st


def data_files(spark: SparkSession, path: str) -> list[tuple[str, int, int]]:
    """Sorted ``(path, length, mtime_ms)`` of the visible data files of
    the table at ``path`` (empty when it is missing) — a cheap version
    stamp: any rewrite of the table changes it, since Spark names every
    written part file afresh."""
    return sorted(
        (st.getPath().toUri().getPath(), st.getLen(), st.getModificationTime())
        for st in _visible_files(spark, path)
    )


def _path_exists(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` holds a readable table: a file, or a directory
    containing at least one visible data file. A leftover EMPTY
    directory — e.g. from an interrupted first write — is "missing",
    not "unreadable": a bare ``fs.exists`` would send it down the read
    path and fail schema inference forever until someone removed the
    dir by hand. Genuinely unreadable data (corrupt footer, FS fault)
    still fails loudly in the subsequent read."""
    return next(_visible_files(spark, path), None) is not None


MARKER = "_stage_inputs"


def read_marker(spark: SparkSession, table_path: str) -> str | None:
    """The text of the table's :data:`MARKER` file, or None if it is
    absent or unreadable. A crash inside :func:`write_marker` leaves a
    truncated file; reading it as "no marker" costs one more merge,
    where raising would fail every later call until the file is removed
    by hand."""
    fs, p = _fs_paths(spark, f"{table_path.rstrip('/')}/{MARKER}")
    if not fs.exists(p):
        return None
    try:
        stream = fs.open(p)
        try:
            return stream.readUTF()
        finally:
            stream.close()
    except Py4JJavaError:
        return None


def write_marker(spark: SparkSession, table_path: str, text: str) -> None:
    """Write ``text`` to the hidden :data:`MARKER` file inside the table
    directory. ``spark.read`` ignores it, and any rewrite of the table
    (:func:`_swap_paths`, an overwrite) removes it with the directory."""
    fs, p = _fs_paths(spark, f"{table_path.rstrip('/')}/{MARKER}")
    stream = fs.create(p, True)
    try:
        stream.writeUTF(text)
    finally:
        stream.close()


def _backup_path(dst: str) -> str:
    return dst.rstrip("/") + "__backup"


def _recover_backup(spark: SparkSession, dst: str) -> None:
    """Roll forward from a crash between :func:`_swap_paths`' two
    renames: if ``dst`` is missing but its backup exists, the backup is
    the ONLY copy of the table — restore it before anything reads (and
    then rewrites) the target. Deleting it instead would permanently
    lose every pre-existing row."""
    fs, dst_p, bak_p = _fs_paths(spark, dst, _backup_path(dst))
    if fs.exists(bak_p) and not fs.exists(dst_p):
        if not fs.rename(bak_p, dst_p):
            raise OSError(
                f"could not restore backup {_backup_path(dst)} to {dst}"
            )


def _swap_paths(spark: SparkSession, src: str, dst: str) -> None:
    """Replace ``dst`` with ``src`` via the Hadoop FileSystem API (works
    on local paths and HDFS-compatible stores alike).

    Crash-safe ordering: rename ``dst`` aside to a backup first, then
    rename ``src`` into place, then drop the backup — a failure at any
    step leaves either the old or the new table fully intact (the
    reference's ON DUPLICATE KEY upsert is transactional; delete-then-
    rename would lose the table if the process died in between)."""
    fs, src_p, dst_p, bak_p = _fs_paths(spark, src, dst, _backup_path(dst))
    if fs.exists(bak_p):
        if not fs.exists(dst_p):
            # prior swap crashed between its two renames: the backup is
            # the only copy — refuse rather than delete it (callers run
            # _recover_backup before reading, so a well-formed merge
            # never reaches this state)
            raise OSError(
                f"backup {_backup_path(dst)} exists but target {dst} is "
                "missing — restore the backup (see _recover_backup) "
                "before swapping"
            )
        fs.delete(bak_p, True)  # stale backup from a crash after the swap
    had_target = fs.exists(dst_p)
    if had_target and not fs.rename(dst_p, bak_p):
        raise OSError(f"could not move {dst} aside to {bak_p}")
    try:
        # rename either returns false or raises (LocalFS raises on a
        # missing source) — treat both as failure and roll back
        ok = fs.rename(src_p, dst_p)
    except Exception:
        ok = False
    if not ok:
        if had_target:
            fs.rename(bak_p, dst_p)  # restore: dst is never left missing
        raise OSError(f"could not rename staging {src} into {dst}")
    fs.delete(bak_p, True)

