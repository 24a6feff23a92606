"""Loaders for the driver's synthetic TPC-H-ish parquet tables.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}/``.

These are plain parquet scans: explicit-schema-free because parquet is
self-describing; Catalyst still gets column pruning + predicate pushdown
at the scan (verify with ``df.explain`` → ``PushedFilters`` /
``ReadSchema``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quanta_etl_spark.operators.util import scoped_conf

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# events.parquet stores `ts` as INT64(TIMESTAMP(NANOS)) (pandas-written).
# Spark 4 has no ns timestamp type: read it as long (legacy conf) and
# truncate to microseconds — identical to how DuckDB reads the same file.
_NANO_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown testdata table {name!r}; have {TABLES}")
    # The legacy conf is needed while the schema is resolved, here; the
    # scan at action time reads the long column without it (vectorized
    # and row-based readers alike), so the caller's value comes back.
    with scoped_conf(spark, {"spark.sql.legacy.parquet.nanosAsLong": "true"}):
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c in _NANO_TS_COLS.get(name, ()):
        if dict(df.dtypes).get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works on them."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
