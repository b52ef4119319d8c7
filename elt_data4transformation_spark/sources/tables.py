"""Testdata table access (TESTDATA.md).

Parquet scans are the canonical source: columnar, predicate-pushdown
and column-pruning friendly (reference analog: ClickHouse MergeTree
scans + pandas file loads, elt/loader_clickhouse.py:284-337).

**Schema memo.** A parquet read without a schema runs one Spark job to
merge the files' footers, even for a single file. ``read_parquet`` runs
that inferred read only on the first call for a given file state and
remembers the ``StructType`` Spark inferred; later calls scan with
``spark.read.schema(memo)``, which runs no job. The memo key is

- the absolute path,
- ``operators.artifacts.source_fingerprint([path])``: the ``(path,
  size, mtime_ns)`` stat of the file, or of every data file under the
  directory, partition subdirectories included, so a rewritten file or
  an added segment misses the memo and is inferred afresh, and
- the session's values of the confs that change what parquet
  inference returns (``_INFERENCE_CONFS``), so the nanos-as-long read
  of ``events.ts`` gets its own entry.

The memo stores only what Spark itself inferred, so a hit reads the
same schema, rows and column order as the inferred read. It keeps at
most ``_MEMO_MAX`` entries, dropping the oldest first. Every parquet
read in the package goes through here, except reads that pass their
own schema or reader options.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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

# session confs that change the schema parquet inference returns
# (partition column types included)
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)
_MEMO_MAX = 256
_SCHEMAS: dict[tuple, StructType] = {}
_SCHEMAS_LOCK = threading.Lock()


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema (one Spark
    job) only on the first call per file state; see the module
    docstring for the memo rule."""
    if not os.path.exists(path):
        # no local file state to key on (a remote URI, or a missing
        # path, which the inferred read reports)
        return spark.read.parquet(path)
    # imported here: operators/ reads through this module
    from ..operators.artifacts import source_fingerprint

    key = (
        os.path.abspath(path),
        source_fingerprint([path]),
        tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS),
    )
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    schema = df.schema
    with _SCHEMAS_LOCK:
        if len(_SCHEMAS) >= _MEMO_MAX:
            del _SCHEMAS[next(iter(_SCHEMAS))]
        _SCHEMAS[key] = schema
    return df


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``read_parquet(spark, path)`` scans with."""
    return read_parquet(spark, path).schema


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table. Lazy — Catalyst prunes columns and pushes
    predicates into the parquet reader for whatever plan is built on top.

    `events.parquet` stores TIMESTAMP(NANOS), which vanilla Spark refuses
    (PARQUET_TYPE_ILLEGAL); read it as long nanos and convert to a
    microsecond timestamp (identical to DuckDB's ns->us read)."""
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            # integer div: double division would round the microsecond up
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: table(spark, sf_dir, t) for t in TABLES}


def spread(df: DataFrame, n: int | None = None) -> DataFrame:
    """Repartition a small-file scan before CPU-heavy per-row work.

    A single-file parquet scan yields one partition, serializing any
    expensive projection (hashing, shingling, vector math) onto one
    core. The shuffle cost of a few thousand rows is trivial next to
    the win of engaging every core; on a real cluster the same helper
    spreads per-document work across executors."""
    if n is None:
        n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n)
