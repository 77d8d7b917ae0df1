"""SparkSession factory.

Defaults are tuned for the local[n] test harness but every knob is the one
you would also set on a real cluster:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  broadcast demotion/promotion).
- shuffle.partitions sized to cores locally; on a 1000-executor cluster AQE
  coalescing makes the static number far less critical.
- Arrow enabled so Pandas-UDF paths are batch-vectorized.
- Session timezone pinned UTC so results are comparable with the DuckDB
  oracle (duckdb timestamps are UTC-naive).
- PySpark's per-call call-site capture off (plan building is a fixed
  cost of every query).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "stream4flow-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus and cpus.isdigit() else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Driver testdata stores events.ts as TIMESTAMP(NANOS) which the
        # Spark parquet reader rejects; read it as a nanos long instead and
        # normalize in sources.tables.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # local mode puts executors IN the driver JVM: the whole bench's
        # working set lives in this one heap, and 8g showed 2-4× GC
        # inflation on late queries in an 81-query sequence (the box has
        # 128 GiB — undersizing the heap is the bottleneck, not memory)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        # PySpark 4.1 wraps every DataFrame/Column call to record its
        # Python call site in the JVM: py4j round trips on each call of
        # every query build. Errors then lack that context; a caller
        # gets it back with this key in extra_conf (static: it takes
        # effect only when the session starts)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
