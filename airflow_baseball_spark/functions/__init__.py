"""Scalar column-expression library (SURVEY.md §2 F) — all pure Spark
column expressions (JVM-side, whole-stage-codegen'd); no UDFs in the
hot path."""

from airflow_baseball_spark.functions.scalar import (
    game_sign,
    ip_to_float,
    parse_game_datetime,
    parse_score_bundle,
    sentinel_to_double,
)

__all__ = [
    "game_sign",
    "ip_to_float",
    "parse_game_datetime",
    "parse_score_bundle",
    "sentinel_to_double",
]
