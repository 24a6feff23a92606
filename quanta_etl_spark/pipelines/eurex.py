"""Eurex derivatives pipeline — re-design of the reference's
``process_eurex_data`` (/root/reference/dags/spark/etl.py:65-175).

Reference behavior re-expressed with intended types and the
anti-patterns fixed:

* ``trading_ts`` TimestampType, ``maturity_date`` DateType (the
  reference's date_format wrappers at etl.py:102-111 emit strings —
  SURVEY.md §1.4).
* The product-spec dimension join (etl.py:160-164) carries an explicit
  ``broadcast`` hint: 2,728 dim rows vs an unbounded fact side.
* One scan for the three sinks: the reference recomputes the full
  scan+join for each of its three write actions (etl.py:162-175,
  SURVEY.md §3.4). Here both null-key checks (missing_isin /
  missing_underlying, etl.py:166-168) are observed as metrics of the
  main write, and the two small sinks are written from what was
  observed. Nothing is persisted, so the frame is never written twice.
* Without an output path the checks are the generic ``offenders``
  operator's lazy frames.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from quanta_etl_spark.operators.joins import broadcast_dim_join
from quanta_etl_spark.operators.quality import offenders
from quanta_etl_spark.pipelines.xetra import with_trading_ts
from quanta_etl_spark.schemas import EUREX_SCHEMA, PRODUCT_SPEC_SCHEMA
from quanta_etl_spark.sources.readers import (
    read_csv,
    read_parquet,
    write_partitioned_parquet,
)

# Dimension columns consumed by the enrichment (reference etl.py:160-161).
DIM_COLS = ["product_name", "product_type", "underlying_name", "underlying_category"]

# Key columns of both quality reports (reference etl.py:167-168).
QUALITY_KEYS = ["market_segment", "mleg"]

# Largest observed offender set written from the driver. An observed set
# holds at most one entry per distinct (market_segment, mleg) pair of the
# fact data: the product spec lists 2,728 segments and mleg takes a
# handful of values, so a full Eurex history stays below this. Past it
# the sink is built from a read of the parquet the main write just
# committed (4 of its ~40 columns) instead of from a driver-side table.
MAX_OBSERVED_PAIRS = 10_000


def with_maturity(df: DataFrame) -> DataFrame:
    """Maturity derivations (reference etl.py:108-126):
    maturity_string "yyyyMMdd" → DateType maturity_date → day count from
    trading_date → months via the reference's literal /30.5."""
    return (
        df.withColumn("maturity_date", F.to_date("maturity_string", "yyyyMMdd"))
        .withColumn(
            "maturity_days",
            F.datediff(F.col("maturity_date"), F.col("trading_date")),
        )
        .withColumn("maturity_months", F.col("maturity_days") / 30.5)
    )


def load_eurex(spark: SparkSession, path: str) -> DataFrame:
    return read_csv(spark, path, EUREX_SCHEMA)


def load_product_spec(spark: SparkSession, path: str) -> DataFrame:
    """Dimension CSV (reference etl.py:158): positional header bind maps
    header ``Product,Name,Product ISIN,…`` onto our field names."""
    return read_csv(spark, path, PRODUCT_SPEC_SCHEMA)


def enrich_with_product_spec(df: DataFrame, dim: DataFrame) -> DataFrame:
    """Left join on market_segment with broadcast (reference etl.py:160-164)."""
    return broadcast_dim_join(df, dim, "market_segment", "left", DIM_COLS)


@dataclass
class EurexResult:
    enriched: DataFrame
    missing_isin: DataFrame
    missing_underlying: DataFrame


def process_eurex(
    spark: SparkSession,
    input_path: str,
    dim_path: str,
    output_path: str | None = None,
) -> EurexResult:
    """scan → trading_ts → maturity → dim join → quality checks →
    (optionally) 3 partitioned sinks from ONE scan.

    With ``output_path`` the enriched frame is written to
    ``<output_path>/eurex`` (by ``trading_date``) with both null-key
    checks observed inside that write; ``missing_isin`` and
    ``missing_underlying`` are then written by ``market_segment`` from
    the observed pairs, and the result holds those small frames. The
    returned ``enriched`` frame stays lazy: acting on it scans again.
    Without ``output_path`` all three result frames are lazy."""
    df = enrich_with_product_spec(
        with_maturity(with_trading_ts(load_eurex(spark, input_path))),
        load_product_spec(spark, dim_path),
    )
    rules = {
        "missing_isin": F.col("isin").isNull(),
        "missing_underlying": F.col("underlying_symbol").isNull(),
    }
    if output_path is None:
        sinks = {name: offenders(df, bad, QUALITY_KEYS) for name, bad in rules.items()}
    else:
        sinks = _write_with_observed_checks(spark, df, rules, output_path)
    return EurexResult(df, sinks["missing_isin"], sinks["missing_underlying"])


def _write_with_observed_checks(
    spark: SparkSession, df: DataFrame, rules: dict[str, Column], output_path: str
) -> dict[str, DataFrame]:
    """Write ``df`` and one offender sink per rule, scanning ``df`` once.

    Each rule's offender set is ``collect_set`` of the key struct under
    the rule, observed in the main write: ``when`` yields NULL for good
    rows, which ``collect_set`` drops, while a pair with a NULL ``mleg``
    is a non-NULL struct and is kept. The sinks have ``df.select(keys)``'s
    schema and layout. An empty set writes only ``_SUCCESS``, as the
    lazy ``offenders`` frame does."""
    # An Observation serves one Dataset only: a fresh one per call.
    obs = Observation()
    pair = F.struct(*QUALITY_KEYS)
    main = f"{output_path}/eurex"
    write_partitioned_parquet(
        df.observe(
            obs,
            *[F.collect_set(F.when(bad, pair)).alias(n) for n, bad in rules.items()],
        ),
        main,
        "trading_date",
    )
    observed = obs.get
    key_schema = df.select(*QUALITY_KEYS).schema
    sinks = {}
    for name, bad in rules.items():
        pairs = observed[name]
        if len(pairs) <= MAX_OBSERVED_PAIRS:
            # An Arrow table plans a LocalTableScan (no Python worker)
            # whatever the session's Arrow setting; one partition writes
            # one file per market_segment.
            table = pa.Table.from_pylist(
                [p.asDict() for p in pairs], schema=to_arrow_schema(key_schema)
            )
            sink = spark.createDataFrame(table, key_schema).coalesce(1)
        else:
            # The main write has committed: read it back, never fail here.
            sink = offenders(read_parquet(spark, main), bad, QUALITY_KEYS)
        write_partitioned_parquet(sink, f"{output_path}/{name}", "market_segment")
        sinks[name] = sink
    return sinks


def join_derivative_to_underlying(
    eurex: DataFrame, xetra: DataFrame
) -> DataFrame:
    """The documented derivative↔underlying 2-key equi-join (reference
    README.md:175-176): eurex.underlying_isin = xetra.isin AND
    eurex.trading_ts = xetra.trading_ts. Inner join; at scale both
    sides bucket by isin to keep the shuffle one-pass."""
    x = xetra.select(
        F.col("isin").alias("u_isin"),
        F.col("trading_ts").alias("u_ts"),
        F.col("end_price").alias("underlying_end_price"),
        F.col("traded_volume").alias("underlying_traded_volume"),
    )
    return eurex.join(
        x,
        (eurex.underlying_isin == x.u_isin) & (eurex.trading_ts == x.u_ts),
        "inner",
    ).drop("u_isin", "u_ts")
