"""Query registry — the single source for the driver gate and bench.

Every implemented operator/query registers here with:
- a callable ``(spark, sf_dir) -> DataFrame`` (the Spark-first pipeline),
- optionally a DuckDB oracle SQL string over the driver's pre-registered
  views (``region nation customer supplier part orders lineitem events
  documents embeddings``) — omitted only for genuinely non-SQL-expressible
  operators (driver then records a weaker rows-only check),
- a ``covers`` tag listing the SURVEY.md §2 operator ids the query
  exercises, so coverage can be audited line by line.

``queries()`` and ``oracle_sql()`` list every registered query in name
order.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    fn: QueryFn
    oracle: str | None
    covers: str


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, covers: str = "", oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(fn=fn, oracle=oracle, covers=covers)
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    _load()
    return {n: REGISTRY[n].fn for n in sorted(REGISTRY)}


def oracle_sql() -> dict[str, str]:
    _load()
    return {
        n: s.oracle for n, s in sorted(REGISTRY.items()) if s.oracle is not None
    }


def _load() -> None:
    """Import every module that defines gate queries."""
    import stream4flow_spark.gate  # noqa: F401
    import stream4flow_spark.gate_llm  # noqa: F401
    import stream4flow_spark.gate_readside  # noqa: F401
    import stream4flow_spark.gate_relational  # noqa: F401
