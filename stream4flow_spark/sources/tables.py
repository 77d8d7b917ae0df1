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
reach the scan untouched. A table that is one regular local file is read
with its schema pinned: parquet schema inference runs a Spark job, so it
runs once per file version and inference conf (``_read_parquet``), and
building a query starts no job.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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


# The confs that change the schema parquet inference gives one file.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
# realpath -> ((st_ino, st_mtime_ns, st_size, *conf values), schema): one
# entry per file, replaced when the file or an inference conf changes
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema inferred once per
    file version and inference conf. A path that is not a regular local
    file (a directory, or a URI, which no local stat finds) is read as
    is."""
    try:
        st = os.stat(path)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    real = os.path.realpath(path)
    stamp = (st.st_ino, st.st_mtime_ns, st.st_size,
             *(spark.conf.get(k, None) for k in _INFERENCE_CONFS))
    hit = _SCHEMAS.get(real)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[real] = (stamp, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    for col in _NANO_TS_COLUMNS.get(name, []):
        df = normalize_ts(df, col)
    return df

