"""Sinks. The reference's per-player CSV side files (A10,
`dags/050_insert_hitter_intergration_data.py:124-127`) →
``export_csv_partitioned`` — ONE partitioned write replaces the
reference's per-player loop; the file path becomes derivable from the
partition columns instead of a stored TEXT column.

The other write modes need no helper: the A9 append (the records
tables) and the A11 drop/recreate (``park_factor``,
`dags/001_park_factor_calculation.py:20-34`) are ``df.write`` calls in
``jobs.run_stage``, and the A8 keyed upsert is
``operators.upsert.merge_upsert``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def export_csv_partitioned(
    df: DataFrame, path: str, partition_cols: Sequence[str]
) -> None:
    """The A10 CSV export as a single distributed write, overwriting
    ``path``: ``path/<col>=<val>/…/part-*.csv`` with a header row — the
    reference's ``data/{role}/{game_date}/{id}.csv`` layout, derivable
    from partition values."""
    df.write.mode("overwrite").partitionBy(*partition_cols).csv(path, header=True)
