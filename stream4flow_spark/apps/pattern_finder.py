"""pattern_finder — config-driven generic similarity detector.

Spark-first re-expression of reference
``applications/detection/pattern_finder/spark/pattern_finder.py``: a
declarative config compiles to Column expressions —

- **F8 filter compiler** (:53-98; grammar configuration.yml:36-86): AND of
  filter items, each an OR over elements, with predicate types
  exists/eq/ne/lt/le/gt/ge/nin/ip — ``ip`` takes literal addresses or
  CIDR blocks (configuration.yml:64-69), compiled to the pure-Column
  range compare (F5). KeyError→False becomes NULL-safe coalesce.
- **C17 vector extractor** (:101-131): each vector element is a column
  value, a constant, an arithmetic expression over columns, or a
  REGISTERED named function (reference ``type: module``, e.g. entropy =
  C12). The reference ``eval``'d config strings and imported arbitrary
  module files (:128) — deliberately NOT reproduced; only the fixed
  vocabulary + explicit registry compile.
- **J5 biflow self-join** (:168-194): request/response pairing on swapped
  (src,dst) with a time-proximity bound — built on operators.interval_join
  (bucketized, scalable), oriented request-first by flow start.
- **C13/C14 quadratic-form distance** (distance_functions/*.py:30-44):
  sqrt(Σ((v−p)/p)²) over the request++response vector; p=0 → +inf.
- **C15 distance → weighted one-hot distribution** (:200-223).
- **A17 distribution sum** (:226-253): elementwise sum per (src,dst) key.
- **C16 anomaly shape test** (:256-277): left-half mass ≥ limit AND
  left > right.
- **ST3 suppression** reuses operators.suppression in batch and
  streaming.state in streaming.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from stream4flow_spark import schema as S
from stream4flow_spark.operators.interval_join import interval_join

# ------------------------------------------------------------ F8 filters

def _ip_predicate(c: Column, v) -> Column:
    """The reference's ``ip`` filter type (configuration.yml:64-69):
    value(s) are literal addresses or CIDR blocks; the element matches if
    it equals the address / falls inside the block. CIDR membership is the
    pure-Column range compare from functions.net (F5), no regex/UDF."""
    from stream4flow_spark.functions.net import ip_in_cidr

    values = v if isinstance(v, (list, tuple)) else [v]
    pred = F.lit(False)
    for val in values:
        if "/" in str(val):
            pred = pred | ip_in_cidr(c, str(val))
        else:
            pred = pred | (c == val)
    return pred


_PREDICATES = {
    "exists": lambda c, v: c.isNotNull(),
    "eq": lambda c, v: c == v,
    "ne": lambda c, v: c != v,
    "lt": lambda c, v: c < v,
    "le": lambda c, v: c <= v,
    "gt": lambda c, v: c > v,
    "ge": lambda c, v: c >= v,
    "nin": lambda c, v: ~c.isin(v),
    "ip": _ip_predicate,
}


def compile_filter(items: list[list[dict]]) -> Column:
    """items = AND-list of OR-lists of {element, type, value} dicts.
    Missing fields (NULL) fail the predicate, mirroring the reference's
    KeyError→False (:96-98). Types mirror configuration.yml:41 (``int``
    is spelled ``eq``/``isin`` by value type; ``ip`` accepts addresses
    and CIDR blocks)."""
    conjunction = F.lit(True)
    for ors in items:
        disjunction = F.lit(False)
        for spec in ors:
            col = F.col(spec["element"])
            pred = _PREDICATES[spec["type"]](col, spec.get("value"))
            disjunction = disjunction | F.coalesce(pred, F.lit(False))
        conjunction = conjunction & disjunction
    return conjunction


# ----------------------------------------------------- C17 vector spec

# Named module functions (reference `type: module`, vector_definition/
# directory): a fixed registry of Column->Column transforms — the
# reference imported and called arbitrary module files
# (pattern_finder.py:101-131); here only registered names compile, and
# nothing is eval'd. `entropy` is C12 (element_entropy.py:30-40).
def _entropy_fn(col: Column) -> Column:
    from stream4flow_spark.functions.textfn import element_entropy

    return element_entropy(col)


_VECTOR_FUNCTIONS: dict[str, "object"] = {"entropy": _entropy_fn}


def compile_vector(elements: list[dict]) -> Column:
    """array<double> from a list of {kind: column|constant|expr|function}.
    ``expr`` admits only arithmetic over flow columns; ``function`` calls
    a registered named transform on a column (no eval, no dynamic
    import — the two ways the reference's config could execute arbitrary
    code)."""
    parts: list[Column] = []
    for spec in elements:
        kind = spec["kind"]
        if kind == "column":
            parts.append(F.col(spec["name"]).cast("double"))
        elif kind == "constant":
            parts.append(F.lit(float(spec["value"])))
        elif kind == "expr":
            parts.append(F.expr(spec["sql"]).cast("double"))
        elif kind == "function":
            fn = _VECTOR_FUNCTIONS.get(spec["name"])
            if fn is None:
                raise ValueError(
                    f"unregistered vector function: {spec['name']!r} "
                    f"(known: {sorted(_VECTOR_FUNCTIONS)})"
                )
            parts.append(fn(F.col(spec["column"])).cast("double"))
        else:
            raise ValueError(f"unknown vector element kind: {kind}")
    return F.array(*parts)


# ------------------------------------------- C13/C14 distance, C15 dist

def quadratic_form_distance(vec: Column, pattern: list[float]) -> Column:
    """sqrt(Σ((v_i − p_i)/p_i)²); any p_i = 0 → +Infinity (reference
    simple_quadratic_form.py:36-39)."""
    if any(p == 0 for p in pattern):
        return F.lit(float("inf"))
    terms = F.zip_with(
        vec,
        F.array(*[F.lit(float(p)) for p in pattern]),
        lambda v, p: ((v - p) / p) * ((v - p) / p),
    )
    return F.sqrt(F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x))


def distance_to_distribution(
    dist: Column, thresholds: list[float], weights: list[int]
) -> list[Column]:
    """Weighted one-hot: bucket = first i with dist < thresholds[i], else
    len(thresholds); slot `bucket` carries weights[bucket], others 0
    (reference pattern_finder.py:200-223). Returned as one Column per slot
    so downstream sums stay flat."""
    assert len(weights) == len(thresholds) + 1
    bucket: Column = F.lit(len(thresholds))
    for i in reversed(range(len(thresholds))):
        bucket = F.when(dist < thresholds[i], F.lit(i)).otherwise(bucket)
    return [
        F.when(bucket == i, F.lit(w)).otherwise(F.lit(0)).alias(f"b{i}")
        for i, w in enumerate(weights)
    ]


# ------------------------------------------------------------ J5 biflow

def biflow_pairs(flows: DataFrame, time_difference_ms: int) -> DataFrame:
    """Request/response pairing: response has swapped (src,dst), starts
    strictly after the request, within the proximity bound. Output keeps
    req_*/rsp_* measures (reference :168-194)."""
    base = flows.filter(
        F.col(S.SRC_IP4).isNotNull() & F.col(S.DST_IP4).isNotNull()
        & (F.col(S.SRC_IP4) != F.col(S.DST_IP4))
    ).select(
        F.col(S.SRC_IP4).alias("a"),
        F.col(S.DST_IP4).alias("b"),
        F.col(S.SRC_PORT).alias("sport"),
        F.col(S.DST_PORT).alias("dport"),
        F.col(S.PACKETS).alias("packets"),
        F.col(S.BYTES).alias("bytes"),
        F.col(S.T_START).alias("t"),
        (F.col(S.T_END) - F.col(S.T_START)).alias("dur"),
    )
    req = base.select(
        F.col("a").alias("src_ip"), F.col("b").alias("dst_ip"),
        F.col("packets").alias("req_packets"), F.col("bytes").alias("req_bytes"),
        F.col("dur").alias("req_dur"), F.col("t").alias("req_t"),
    )
    rsp = base.select(
        F.col("b").alias("src_ip"), F.col("a").alias("dst_ip"),
        F.col("packets").alias("rsp_packets"), F.col("bytes").alias("rsp_bytes"),
        F.col("dur").alias("rsp_dur"), F.col("t").alias("rsp_t"),
    )
    paired = interval_join(
        req, rsp,
        on=["src_ip", "dst_ip"],
        left_ts_ms="req_t",
        right_ts_ms="rsp_t",
        tolerance_ms=time_difference_ms,
    )
    return paired.filter(F.col("rsp_t") > F.col("req_t"))


# --------------------------------------------------------- full pipeline

@dataclass
class PatternFinderConfig:
    filters: list[list[dict]] = field(default_factory=list)
    vector: list[dict] = field(default_factory=list)  # over req_*/rsp_* cols
    patterns: dict[str, list[float]] = field(default_factory=dict)
    thresholds: list[float] = field(default_factory=lambda: [1.0, 2.0, 4.0, 8.0])
    weights: list[int] = field(default_factory=lambda: [5, 4, 3, 2, 1])
    time_difference_ms: int = 500
    anomaly_limit: int = 1

    @classmethod
    def from_yaml(cls, path: str) -> "PatternFinderConfig":
        import yaml  # optional dep, baked into the image

        with open(path) as f:
            raw = yaml.safe_load(f)
        return cls(**raw)


def pattern_finder(flows: DataFrame, cfg: PatternFinderConfig) -> DataFrame:
    """Output: src_ip, dst_ip, pattern, pairs, b0..b4 (summed weighted
    one-hot slots), anomaly (left-half mass ≥ limit AND left > right)."""
    filtered = flows.filter(compile_filter(cfg.filters)) if cfg.filters else flows
    pairs = biflow_pairs(filtered, cfg.time_difference_ms)
    vec = compile_vector(cfg.vector)

    per_pattern = []
    for name, pattern in sorted(cfg.patterns.items()):
        d = quadratic_form_distance(vec, pattern)
        slots = distance_to_distribution(d, cfg.thresholds, cfg.weights)
        per_pattern.append(
            pairs.select(
                "src_ip",
                "dst_ip",
                F.lit(name).alias("pattern"),
                *slots,
            )
        )
    fanout = per_pattern[0]
    for p in per_pattern[1:]:
        fanout = fanout.unionByName(p)

    n_slots = len(cfg.weights)
    summed = fanout.groupBy("src_ip", "dst_ip", "pattern").agg(
        F.count("*").alias("pairs"),
        *[F.sum(f"b{i}").alias(f"b{i}") for i in range(n_slots)],  # A17
    )
    half = n_slots // 2
    left = sum((F.col(f"b{i}") for i in range(half)), F.lit(0))
    right = sum((F.col(f"b{i}") for i in range(n_slots - half, n_slots)), F.lit(0))
    return summed.withColumn(
        "anomaly", (left >= cfg.anomaly_limit) & (left > right)  # C16
    )
