"""Xetra cash-market pipeline — re-design of the reference's
``process_xetra_data`` (/root/reference/dags/spark/etl.py:25-62).

Differences from the reference, by design (SURVEY.md §1.4):
* ``trading_ts`` is a real TimestampType, not a ``date_format`` string
  (the reference's etl.py:56-59 accidentally de-types it). A
  format-compatible string view is available via ``as_reference_strings``
  for golden-matching against reference output.
* Output parquet is partitioned by ``trading_date`` (etl.py:62). No
  per-file record cap is passed, so each scan task writes one file per
  ``trading_date`` it holds; ``write_partitioned_parquet`` takes
  ``max_records_per_file`` for callers that need a cap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quanta_etl_spark.schemas import XETRA_SCHEMA
from quanta_etl_spark.sources.readers import read_csv, write_partitioned_parquet


def with_trading_ts(df: DataFrame) -> DataFrame:
    """Derive the minute timestamp from (trading_date, trading_time
    "HH:mm") — intended semantics of reference etl.py:56-59, typed."""
    return df.withColumn(
        "trading_ts",
        F.to_timestamp(
            F.concat_ws(" ", F.col("trading_date"), F.col("trading_time")),
            "yyyy-MM-dd HH:mm",
        ),
    )


def as_reference_strings(df: DataFrame) -> DataFrame:
    """String view matching the reference's accidental output format
    ("yyyy-MM-dd HH:mm:ss" strings, etl.py:56-59) for golden tests."""
    return df.withColumn(
        "trading_ts", F.date_format("trading_ts", "yyyy-MM-dd HH:mm:ss")
    )


def load_xetra(spark: SparkSession, path: str) -> DataFrame:
    """Schema'd, headered, globbed CSV scan (reference etl.py:50-53).
    ``path`` may be a glob like ``.../*/*.csv`` — file-split parallel."""
    return read_csv(spark, path, XETRA_SCHEMA)


def process_xetra(
    spark: SparkSession, input_path: str, output_path: str | None = None
) -> DataFrame:
    """End-to-end xetra pipeline: scan → derive trading_ts →
    (optionally) write partitioned parquet. Returns the derived frame."""
    df = with_trading_ts(load_xetra(spark, input_path))
    if output_path is not None:
        write_partitioned_parquet(df, output_path, "trading_date")
    return df
