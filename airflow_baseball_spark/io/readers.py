"""Schema-enforced readers. No inference anywhere: every reader takes
an explicit ``StructType`` (the engine's analog of the reference's DDL
+ hand-cast ingest, `dags/010_scrape_hitters_stats.py:93-112`), and
malformed rows FAIL FAST rather than silently nulling — the reference's
``int()``/``str_to_float()`` casts raised on bad data too.

Scale notes: CSV/JSON scans are splittable (uncompressed / bzip2) so
they parallelize by HDFS block.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_csv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Comma-separated files with a header row."""
    return (
        spark.read.schema(schema)
        .option("header", "true")
        .option("mode", "FAILFAST")
        .csv(path)
    )


def read_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    return spark.read.schema(schema).option("mode", "FAILFAST").json(path)
