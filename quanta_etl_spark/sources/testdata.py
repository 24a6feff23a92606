"""Loaders for the driver's synthetic TPC-H-ish parquet tables.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}/``.

These are plain parquet scans with no declared schema: parquet is
self-describing, and :func:`parquet_schema` infers each table's schema
from the files. Catalyst still gets column pruning + predicate pushdown
at the scan (verify with ``df.explain`` → ``PushedFilters`` /
``ReadSchema``).

Inferring a schema costs one Spark job (it reads a footer): about
80 ms warm on a 4-core host, against about 13 ms for a read that is
handed its schema. So :func:`parquet_schema` keeps what it inferred, per process,
in a bounded store (:data:`_SCHEMA_MEMO_SIZE` entries, least recently
used dropped first), and the readers pass the stored schema in. An
entry's key is

* the path, and each file under it as (path, length, modification
  time), from one Hadoop ``FileSystem`` listing (``file:``, ``hdfs:``
  and ``s3a:`` alike);
* every set ``spark.sql.parquet.*`` and ``spark.sql.legacy.parquet.*``
  value, and ``spark.sql.caseSensitive``.

A rewritten file or a changed reader setting is a miss that infers
again, never a stale hit. What the key cannot see: a rewrite that keeps
a file's length and modification time (to the file system's time
resolution), and Hadoop-level ``parquet.*`` settings.
"""

from __future__ import annotations

import copy
import os
import threading
from collections import OrderedDict

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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

_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
_READER_CONF_PREFIXES = ("spark.sql.parquet.", "spark.sql.legacy.parquet.")
_SCHEMA_MEMO_SIZE = 256
_schema_memo: OrderedDict[tuple, StructType] = OrderedDict()
_schema_memo_lock = threading.Lock()


def _files(fs, hp) -> list[tuple[str, int, int]]:
    """(path, length, modification time) of every file at or under the
    Hadoop path ``hp``, hidden ones included."""
    out = []
    for st in fs.listStatus(hp):
        if st.isDirectory():
            out += _files(fs, st.getPath())
        else:
            out.append((st.getPath().toString(), st.getLen(), st.getModificationTime()))
    return out


def _schema_key(spark: SparkSession, path: str) -> tuple:
    """The memo key of ``path`` (see the module docstring). Driver-side
    py4j calls only, no job: 3–5 ms for a one-file table."""
    sc = spark.sparkContext
    jvm = sc._jvm
    hp = jvm.org.apache.hadoop.fs.Path(path)
    files = _files(hp.getFileSystem(sc._jsc.hadoopConfiguration()), hp)
    confs = spark._jsparkSession.conf().getAllAsJava()
    names = jvm.String.join("\n", confs.keySet()).split("\n")
    reader = {
        k: confs.get(k)
        for k in names
        if k.startswith(_READER_CONF_PREFIXES) or k == "spark.sql.caseSensitive"
    }
    reader[_NANOS_AS_LONG] = "true"  # what the inference runs under
    return path, tuple(sorted(files)), tuple(sorted(reader.items()))


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark infers for the parquet at ``path``, read with
    ``nanosAsLong`` set (a ns timestamp column comes back as bigint)
    and the caller's value restored. The first call for a key runs the
    inference job; a later one returns a copy of the stored schema, so
    ``spark.read.schema(s).parquet(path)`` then launches no job. When
    the key cannot be built (the path does not list), this infers
    without storing, and Spark raises its own error for a bad path."""
    try:
        key = _schema_key(spark, path)
    except Py4JError:
        key = None
    with _schema_memo_lock:
        schema = _schema_memo.get(key)
        if schema is not None:
            _schema_memo.move_to_end(key)
            return copy.deepcopy(schema)
    # The legacy conf is needed while the schema is inferred, here; a
    # reader handed the schema, and its scan at action time, read the
    # long column without it (vectorized and row-based readers alike),
    # so the caller's value comes back.
    with scoped_conf(spark, {_NANOS_AS_LONG: "true"}):
        schema = spark.read.parquet(path).schema
    if key is not None:
        with _schema_memo_lock:
            _schema_memo[key] = schema
            if len(_schema_memo) > _SCHEMA_MEMO_SIZE:
                _schema_memo.popitem(last=False)
    return copy.deepcopy(schema)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown testdata table {name!r}; have {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
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
