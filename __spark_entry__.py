"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` (every gate query, in name order) at sf=0.01 and
compares it against the matching ``oracle_sql()[name]`` via DuckDB
(row-count + schema + order-insensitive value-hash). All real content
lives in ``stream4flow_spark.registry`` / ``stream4flow_spark.gate``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from stream4flow_spark import registry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    from stream4flow_spark.apps.protocols_statistics import protocols_statistics
    from stream4flow_spark.fixtures.flows import flows_df

    return protocols_statistics(flows_df(spark, "/root/testdata/sf0.001"), "1 hour")


def _wrap(fn: registry.QueryFn) -> registry.QueryFn:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        # The driver may hand us a session it built itself; make sure the
        # two confs correctness depends on are set (both are dynamic).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return fn(spark, sf_dir)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _wrap(fn) for name, fn in registry.queries().items()}


def oracle_sql() -> dict[str, str]:
    return registry.oracle_sql()
