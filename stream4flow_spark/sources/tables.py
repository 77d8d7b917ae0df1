"""Batch table loaders for the driver testdata directories.

`events.ts` is written as parquet TIMESTAMP(NANOS); how Spark reads it
depends on the Spark version:

- older builds (with ``spark.sql.legacy.parquet.nanosAsLong=true``) read it
  as a nanos BIGINT, which ``load_table`` normalizes to a microsecond
  TimestampType column with ``timestamp_micros(ts DIV 1000)`` — integer
  division, no double round-trip, so it truncates exactly like DuckDB's
  ns→µs cast does;
- PySpark 4.1+ reads it natively as TIMESTAMP_NTZ (micros, ns truncated),
  which ``load_table`` casts to TimestampType — exact, because the session
  time zone is pinned UTC (see ``__spark_entry__`` / ``session.py``).

Either way every consumer sees one canonical ``timestamp`` column.

All loads are plain parquet scans: column pruning and predicate pushdown
reach the scan untouched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
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
]

# Columns stored as nanosecond timestamps (read back as long under
# nanosAsLong) that must be normalized to TimestampType.
_NANO_TS_COLUMNS: dict[str, list[str]] = {"events": ["ts"]}


def normalize_ts(df: DataFrame, col: str) -> DataFrame:
    """Normalize one nanos-parquet timestamp column to TimestampType.

    Handles every physical read Spark may produce for TIMESTAMP(NANOS):
    nanos BIGINT (legacy ``nanosAsLong``), TIMESTAMP_NTZ (PySpark 4.1+,
    session TZ pinned UTC so the cast is exact), or already TimestampType.
    """
    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        return df.withColumn(col, F.expr(f"timestamp_micros({col} DIV 1000)"))
    if dtype == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for col in _NANO_TS_COLUMNS.get(name, []):
        df = normalize_ts(df, col)
    return df

