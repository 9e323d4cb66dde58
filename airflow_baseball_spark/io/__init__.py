"""Sources and sinks (SURVEY.md §2 A).

The reference's I/O surface — MySQL scans (A7), keyed upserts (A8),
plain appends (A9), per-player CSV exports (A10), drop/recreate DDL
(A11) — re-expressed as schema-enforced Spark readers and a partitioned
CSV writer. Upsert semantics live in ``operators.upsert`` (the
engine-side MERGE); the A9 append and A11 overwrite are plain
``df.write`` calls in ``jobs.run_stage``; everything here is format
plumbing.
"""

from airflow_baseball_spark.io.readers import read_csv, read_json  # noqa: F401
from airflow_baseball_spark.io.writers import export_csv_partitioned  # noqa: F401
