"""Per-sink grouped aggregates: event counts by facility × severity × hour.

Spark plans this as partial (map-side) + final hash aggregation — the
shuffle moves only (facility, severity, hour, partial_count) rows, never
raw events, so it stays cheap at 10^12-row scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hourly_counts(df: DataFrame) -> DataFrame:
    return (
        df.where(F.col("parse_error").isNull())
          .groupBy(
              "rfc", "sink_class", "facility", "severity",
              F.date_trunc("hour", "ts").alias("hour"))
          .agg(F.count("*").alias("n_events"))
    )


def parse_metrics(df: DataFrame) -> DataFrame:
    """Parse-success/failure counters per source — the pipeline's
    observability surface (error-as-data, SURVEY.md §2 cross-cutting)."""
    return (
        df.groupBy("source", "rfc")
          .agg(
              F.count("*").alias("n_total"),
              F.count(F.when(F.col("parse_error").isNull(), 1))
               .alias("n_ok"),
              F.count("parse_error").alias("n_failed"),
          )
    )
