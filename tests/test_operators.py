"""Unit tests for the operator library against hand-computed goldens."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stream4flow_spark.operators.interval_join import interval_join
from stream4flow_spark.operators.suppression import suppress_reports
from stream4flow_spark.operators.topk import top_k_per_key


def test_interval_join_matches_brute_force(spark):
    left = spark.createDataFrame(
        [("k1", 1000), ("k1", 9500), ("k2", 5000), ("k3", 100)],
        "k string, lt long",
    )
    right = spark.createDataFrame(
        [("k1", 1500), ("k1", 4200), ("k1", 9400), ("k2", 10_000), ("k4", 1000)],
        "k string, rt long",
    )
    got = sorted(
        (r.k, r.lt, r.rt)
        for r in interval_join(left, right, ["k"], "lt", "rt", 2000).collect()
    )
    # brute force: same-key pairs with |lt-rt| <= 2000
    lrows = [("k1", 1000), ("k1", 9500), ("k2", 5000), ("k3", 100)]
    rrows = [("k1", 1500), ("k1", 4200), ("k1", 9400), ("k2", 10_000), ("k4", 1000)]
    want = sorted(
        (lk, lt, rt)
        for lk, lt in lrows
        for rk, rt in rrows
        if lk == rk and abs(lt - rt) <= 2000
    )
    assert got == want
    assert ("k1", 1000, 1500) in got and ("k1", 9500, 9400) in got


def test_suppress_reports_chain(spark):
    # key A: alerts at t=0,50,120,130,260 with window 100
    #   report t=0 (sum=1); t=50 suppressed; t=120 report (sum 50+120 flows=2)
    #   t=130 suppressed; t=260 report (sum=2)
    rows = [("A", t, 1) for t in [0, 50, 120, 130, 260]] + [("B", 10, 5)]
    alerts = spark.createDataFrame(rows, "key string, ts long, flows long")
    out = suppress_reports(alerts, ["key"], "ts", 100, sum_cols=["flows"])
    got = {(r.key, r.ts): (r.flows, r.report_seq) for r in out.collect()}
    assert got == {
        ("A", 0): (1, 0),
        ("A", 120): (2, 1),
        ("A", 260): (2, 2),
        ("B", 10): (5, 0),
    }


def test_top_k_deterministic_ties(spark):
    df = spark.createDataFrame(
        [("g", "b", 5), ("g", "a", 5), ("g", "c", 9)], "g string, k string, v long"
    )
    got = [
        (r.k, r.rank)
        for r in top_k_per_key(df, ["g"], "v", 2, tiebreak_cols=["k"])
        .orderBy("rank")
        .collect()
    ]
    assert got == [("c", 1), ("a", 2)]


def test_salted_collect_set_and_count_distinct(spark):
    from pyspark.sql import functions as F

    from stream4flow_spark.operators.skew import (
        salted_collect_set,
        salted_count_distinct,
    )

    rows = [("k1", f"v{i % 37}") for i in range(500)] + [
        ("k2", f"v{i}") for i in range(5)
    ]
    df = spark.createDataFrame(rows, "key string, val string")
    direct = {
        r.key: (sorted(r.vals), len(r.vals))
        for r in df.groupBy("key")
        .agg(F.collect_set("val").alias("vals"))
        .collect()
    }
    salted = {
        r.key: r.values for r in salted_collect_set(df, ["key"], "val").collect()
    }
    counts = {
        r.key: r.n_distinct
        for r in salted_count_distinct(df, ["key"], "val").collect()
    }
    for k, (vals, n) in direct.items():
        assert salted[k] == vals
        assert counts[k] == n


def test_top_n_ranked_map_output(spark):
    """O4 — indexed-dict output of the ranked top-N rows."""
    from stream4flow_spark.apps.top_n_host_stats import to_ranked_map, top_n_host_stats
    from stream4flow_spark.fixtures.flows import flows_df
    from tests.conftest import SF_DIR

    stats = top_n_host_stats(
        flows_df(spark, SF_DIR), window_duration="1 hour", n=3
    )
    ranked = to_ranked_map(stats)
    row = ranked.filter(F.size(F.map_keys("ranked")) >= 2).first()
    assert row is not None
    m = row.ranked
    assert set(m.keys()) <= {"0", "1", "2"}
    # rank order preserved: entry "0" has >= flows than entry "1"
    assert m["0"].flows >= m["1"].flows


def test_pattern_finder_config_from_yaml(spark, tmp_path):
    """F8/C17 — the reference's YAML config surface compiles to the same
    pipeline as the programmatic config (no eval, fixed vocabulary)."""
    from stream4flow_spark.apps.pattern_finder import (
        PatternFinderConfig,
        pattern_finder,
    )
    from stream4flow_spark.fixtures.flows import flows_df
    from tests.conftest import SF_DIR

    cfg_yaml = tmp_path / "pf.yml"
    cfg_yaml.write_text(
        """
filters:
  - - {element: ipfix_protocolIdentifier, type: eq, value: 6}
vector:
  - {kind: expr, sql: req_packets}
  - {kind: expr, sql: rsp_packets}
patterns:
  p1: [10.0, 10.0]
thresholds: [1.0, 2.0, 4.0, 8.0]
weights: [5, 4, 3, 2, 1]
time_difference_ms: 86400000
anomaly_limit: 1
"""
    )
    cfg = PatternFinderConfig.from_yaml(str(cfg_yaml))
    assert cfg.patterns == {"p1": [10.0, 10.0]}
    out = pattern_finder(flows_df(spark, SF_DIR), cfg)
    assert out.columns[:4] == ["src_ip", "dst_ip", "pattern", "pairs"]
    assert out.count() >= 0


def test_pattern_finder_ip_filter_and_function_vector(spark):
    """C17 completion: the `ip` filter type (address or CIDR, reference
    configuration.yml:64-69) and the registered-function vector element
    (`entropy` = C12, element_entropy.py:30-40) both compile — no eval,
    no dynamic import."""
    import math

    from pyspark.sql import functions as F

    from stream4flow_spark.apps.pattern_finder import (
        compile_filter,
        compile_vector,
    )

    df = spark.createDataFrame(
        [
            ("10.0.1.5", "aaaa"),     # in 10.0.0.0/16
            ("172.16.3.9", "abab"),   # literal match
            ("192.168.1.1", "abcd"),  # no match
            (None, "aa"),             # NULL -> False (KeyError parity)
        ],
        "ip string, name string",
    )
    keep = compile_filter(
        [[{"element": "ip", "type": "ip", "value": ["10.0.0.0/16", "172.16.3.9"]}]]
    )
    got = {r.ip for r in df.filter(keep).collect()}
    assert got == {"10.0.1.5", "172.16.3.9"}

    vec = compile_vector(
        [
            {"kind": "function", "name": "entropy", "column": "name"},
            {"kind": "constant", "value": 2.0},
        ]
    )
    rows = {r.name: r.v[0] for r in df.select("name", vec.alias("v")).collect()}
    assert rows["aaaa"] == 0.0                      # one symbol
    assert abs(rows["abab"] - 1.0) < 1e-9           # two equi-probable
    assert abs(rows["abcd"] - 2.0) < 1e-9           # four distinct
    assert math.isfinite(rows["aa"]) and rows["aa"] == 0.0

    with __import__("pytest").raises(ValueError):
        compile_vector([{"kind": "function", "name": "not_registered", "column": "name"}])


def test_pattern_finder_suppression_merges_distributions(spark):
    """ST3 — suppressed pattern_finder re-reports elementwise-sum their
    distribution slots (reference pattern_finder.py:280-331): wiring the
    generic suppression operator with the b0..b4 slots as sum_cols."""
    import pandas as pd

    from stream4flow_spark.operators.suppression import suppress_reports

    rows = [
        # key (s,d,p): alerts at t=0, 10s, 40s with distributions
        ("s", "d", "p1", 0, 1, 0, 2, 0, 0),
        ("s", "d", "p1", 10_000, 0, 1, 0, 0, 0),
        ("s", "d", "p1", 40_000, 3, 0, 0, 0, 1),
    ]
    df = spark.createDataFrame(
        rows, "src string, dst string, pattern string, ts_ms long, "
        "b0 long, b1 long, b2 long, b3 long, b4 long"
    )
    out = suppress_reports(
        df, ["src", "dst", "pattern"], "ts_ms", 30_000,
        ["b0", "b1", "b2", "b3", "b4"],
    ).toPandas().sort_values("report_seq")
    # report 0 at t=0 carries its own slots; report 1 at t=40s merges the
    # suppressed t=10s alert's slots with its own
    assert out[["b0", "b1", "b2", "b3", "b4"]].values.tolist() == [
        [1, 0, 2, 0, 0],
        [3, 1, 0, 0, 1],
    ]


def test_host_stats_nested_output_shape(spark):
    """O2 — the reference's nested {"stats": {"total": ..., "tcp_flags":
    ...}} output document (host_stats.py:79-138)."""
    import json

    from stream4flow_spark.apps.host_stats import host_stats, to_output_json
    from stream4flow_spark.fixtures.flows import flows_df
    from tests.conftest import SF_DIR

    stats = host_stats(flows_df(spark, SF_DIR), window_duration="1 hour")
    doc = json.loads(to_output_json(stats).first().value)
    assert doc["@type"] == "host_stats"
    assert set(doc["stats"]) >= {"total", "tcp_flags", "dport_count", "peer_number"}
    assert set(doc["stats"]["total"]) == {"flow", "packets", "bytes"}
    assert set(doc["stats"]["tcp_flags"]) == {
        "FIN", "SYN", "RST", "PSH", "ACK", "URG", "ECE", "CWR"
    }


def test_daily_profile_chained_from_host_stats(spark):
    """S7 — daily profile built from host_stats' hourly RESULTS equals
    the profile computed from raw flows (the reference's Kafka app chain,
    as a result-table pivot)."""
    import pandas as pd

    from stream4flow_spark.apps.host_daily_profile import (
        daily_profile_from_host_stats,
        host_daily_profile,
    )
    from stream4flow_spark.apps.host_stats import host_stats
    from stream4flow_spark.fixtures.flows import flows_df
    from tests.conftest import SF_DIR

    fl = flows_df(spark, SF_DIR)
    direct = host_daily_profile(fl).toPandas()
    chained = daily_profile_from_host_stats(
        host_stats(fl, window_duration="1 hour")
    ).toPandas()
    keys = ["day_ms", "src_ip"]
    pd.testing.assert_frame_equal(
        direct.sort_values(keys, ignore_index=True),
        chained.sort_values(keys, ignore_index=True),
    )


def test_ddos_network_filter_is_anchored(spark):
    """The reference applies network_filter with re.match (anchored);
    '210.0.1.5' must NOT be treated as monitored under the default
    r'10\\.0\\..*' pattern even though rlike would substring-match it."""
    import pandas as pd

    from stream4flow_spark.apps.detection_ddos import ddos_window_aggregate

    pdf = pd.DataFrame(
        [
            (1_000, "203.0.113.1", "10.0.0.1", 5),     # monitored dst
            (2_000, "203.0.113.1", "210.0.1.5", 7),    # NOT monitored
            (3_000, "210.0.1.5", "203.0.113.9", 9),    # NOT monitored src
        ],
        columns=[
            "ipfix_flowStartMilliseconds",
            "ipfix_sourceIPv4Address",
            "ipfix_destinationIPv4Address",
            "ipfix_packetDeltaCount",
        ],
    )
    partials = ddos_window_aggregate(
        spark.createDataFrame(pdf), "10 seconds"  # default network_filter
    )
    hosts = {r.host for r in partials.collect()}
    assert hosts == {"10.0.0.1"}


def test_ddos_skew_safe_aggregate_matches_default(spark):
    """Salted two-stage attacker-set aggregation must produce exactly the
    single-stage result (sums bucket-additive, salt buckets disjoint)."""
    import pandas as pd

    from stream4flow_spark.apps.detection_ddos import ddos_window_aggregate

    rows = []
    for w in range(3):
        t = w * 10_000
        for a in range(40):  # hot victim: many distinct attackers
            rows.append((t + a, f"203.0.113.{a}", "10.0.0.1", 3 + a % 5))
        rows.append((t + 99, "10.0.0.1", "203.0.113.9", 7))  # outgoing leg
        rows.append((t + 50, "203.0.113.5", "10.0.0.2", 2))  # second host
    pdf = pd.DataFrame(
        rows,
        columns=[
            "ipfix_flowStartMilliseconds",
            "ipfix_sourceIPv4Address",
            "ipfix_destinationIPv4Address",
            "ipfix_packetDeltaCount",
        ],
    )
    df = spark.createDataFrame(pdf)
    keys = ["window_start_ms", "host"]
    base = (
        ddos_window_aggregate(df, "10 seconds", skew_safe=False)
        .toPandas().sort_values(keys).reset_index(drop=True)
    )
    salted = (
        ddos_window_aggregate(df, "10 seconds", skew_safe=True, salt_buckets=4)
        .toPandas().sort_values(keys).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(salted[base.columns], base)


def test_ddos_default_path_is_skew_safe_and_bounds_hot_victim(spark):
    """One victim, 100k distinct attackers (the A13 hot key by
    definition): the DEFAULT aggregation must (a) salt the first-stage
    key so no single task accumulates the full attacker set, and (b)
    still emit the exact full set."""
    from pyspark.sql import functions as F

    from stream4flow_spark.apps.detection_ddos import ddos_window_aggregate

    n = 100_000
    flows = spark.range(n).select(
        F.lit(5_000).alias("ipfix_flowStartMilliseconds"),
        # 100k distinct spoofed sources: 10.<1-255>.x.y outside the
        # monitored /16? No — attackers must be OUTSIDE the network
        # filter as sources of the incoming leg; any IP works as source.
        F.concat_ws(
            ".",
            F.lit("203"),
            (F.col("id") / 65536).cast("int") % 256,
            (F.col("id") / 256).cast("int") % 256,
            F.col("id") % 256,
        ).alias("ipfix_sourceIPv4Address"),
        F.lit("10.0.0.1").alias("ipfix_destinationIPv4Address"),
        F.lit(2).alias("ipfix_packetDeltaCount"),
    )
    out = ddos_window_aggregate(flows, "10 seconds")  # default path

    # (a) the default plan salts stage 1: the executed plan aggregates on
    # a pmod(xxhash64(attacker)) key before the final (window, host) agg
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan or "pmod" in plan.lower()

    row = out.collect()[0]
    assert row["host"] == "10.0.0.1"
    assert len(row["attacker_set"]) == n
    assert row["inc"] == 2 * n

    # (b) bounded per-task state: the stage-1 grouping key spreads the
    # victim's attackers across salt buckets; with the default 16 buckets
    # no bucket holds more than ~3x the mean (xxhash64 is uniform)
    buckets = (
        flows.groupBy(
            F.pmod(F.xxhash64("ipfix_sourceIPv4Address"), F.lit(16)).alias("b")
        )
        .count()
        .collect()
    )
    assert len(buckets) == 16
    assert max(r["count"] for r in buckets) < 3 * (n / 16)


# ---------------------------------------------------------------------------
# grouped_exact_percentiles (bounded-state exact percentile)


def test_exact_percentiles_match_builtin(spark):
    """Bounded-state percentile == Spark's own O(rows)-state percentile,
    across ties, tiny groups, and all interpolation positions."""
    import random

    from pyspark.sql import functions as F

    from stream4flow_spark.operators.percentiles import (
        grouped_exact_percentiles,
    )

    rng = random.Random(7)
    rows = [("g1", 42)]  # n=1 group: every percentile must be 42.0
    rows += [("g2", v) for v in (1, 1, 1, 1)]  # all-ties group
    rows += [("g3", rng.randrange(0, 50)) for _ in range(337)]  # dense ties
    rows += [("g4", rng.randrange(0, 10**6)) for _ in range(100)]  # sparse
    df = spark.createDataFrame(rows, "grp string, v long")

    ps = {"p0": 0.0, "p25": 0.25, "p50": 0.5, "p90": 0.9, "p100": 1.0}
    got = (
        grouped_exact_percentiles(df, ["grp"], "v", ps)
        .toPandas().sort_values("grp").reset_index(drop=True)
    )
    want = (
        df.groupBy("grp")
        .agg(*[
            F.expr(f"percentile(v, {p})").alias(name)
            for name, p in ps.items()
        ])
        .toPandas().sort_values("grp").reset_index(drop=True)
    )
    import pandas as pd

    pd.testing.assert_frame_equal(got[want.columns], want)


def test_exact_percentiles_plan_has_no_per_row_aggregate_state(spark):
    """The physical plan must aggregate over (group, value) counts — no
    `percentile` aggregate (whose state is O(group rows)) anywhere."""
    from stream4flow_spark.operators.percentiles import (
        grouped_exact_percentiles,
    )

    df = spark.range(1000).selectExpr("id % 3 AS grp", "id % 97 AS v")
    out = grouped_exact_percentiles(df, ["grp"], "v", {"p50": 0.5})
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "percentile" not in plan.lower()


def test_asof_join_matches_brute_force(spark):
    from stream4flow_spark.operators.asof_join import asof_join

    left = spark.createDataFrame(
        [("k1", 1000, "a"), ("k1", 5000, "b"), ("k1", 200, "c"),
         ("k2", 3000, "d"), ("k3", 700, "e")],
        "k string, lt long, tag string",
    )
    right = spark.createDataFrame(
        [("k1", 1000, 1.0), ("k1", 4000, 2.0), ("k1", 6000, 3.0),
         ("k2", 3500, 4.0), ("k4", 100, 5.0)],
        "k string, rt long, v double",
    )
    got = {
        (r.k, r.lt): (r.rt, r.v)
        for r in asof_join(left, right, ["k"], "lt", "rt").collect()
    }
    # latest right with rt <= lt per key; equal timestamps match (k1@1000);
    # k2's click precedes its only purchase -> dropped; k3 has no right rows
    assert got == {
        ("k1", 1000): (1000, 1.0),
        ("k1", 5000): (4000, 2.0),
    }

    left_how = asof_join(left, right, ["k"], "lt", "rt", how="left")
    rows = {(r.k, r.lt): (r.rt, r.v) for r in left_how.collect()}
    assert len(rows) == 5
    assert rows[("k2", 3000)] == (None, None)
    assert rows[("k3", 700)] == (None, None)
    assert rows[("k1", 200)] == (None, None)

    tol = asof_join(left, right, ["k"], "lt", "rt", tolerance=500)
    assert {(r.k, r.lt) for r in tol.collect()} == {("k1", 1000)}


def test_asof_join_single_exchange_no_join_blowup(spark):
    """The plan must be union + ONE hash exchange + window — not a join
    node (no SortMergeJoin/BroadcastHashJoin/CartesianProduct): the
    shuffle carries each input row exactly once at any scale."""
    from stream4flow_spark.operators.asof_join import asof_join

    left = spark.createDataFrame([("k", 1, "x")], "k string, lt long, t string")
    right = spark.createDataFrame([("k", 1, 1.0)], "k string, rt long, v double")
    plan = (
        asof_join(left, right, ["k"], "lt", "rt")
        ._jdf.queryExecution().executedPlan().toString()
    )
    for node in ("SortMergeJoin", "BroadcastHashJoin", "Cartesian",
                 "BroadcastNestedLoopJoin"):
        assert node not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_asof_join_forward_direction(spark):
    from stream4flow_spark.operators.asof_join import asof_join

    left = spark.createDataFrame(
        [("k", 1000), ("k", 3500), ("k", 9000)], "k string, lt long"
    )
    right = spark.createDataFrame(
        [("k", 1000, 1.0), ("k", 2000, 2.0), ("k", 4000, 3.0)],
        "k string, rt long, v double",
    )
    fwd = {
        (r.lt): (r.rt, r.v)
        for r in asof_join(
            left, right, ["k"], "lt", "rt", direction="forward"
        ).collect()
    }
    # earliest right with rt >= lt; equal timestamps match; lt=9000 has
    # no future right -> dropped (inner)
    assert fwd == {1000: (1000, 1.0), 3500: (4000, 3.0)}

    tol = {
        r.lt
        for r in asof_join(
            left, right, ["k"], "lt", "rt",
            direction="forward", tolerance=400,
        ).collect()
    }
    assert tol == {1000}  # 4000-3500=500 > 400 drops the second match


def test_plan_doctor_flags_known_anti_patterns(spark):
    """The doctor must flag a cartesian product and a data-sized global
    window, and stay quiet (info only) on a well-shaped aggregate."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from stream4flow_spark.plans.doctor import diagnose

    df = spark.range(100).withColumn("v", F.col("id") % 7)

    bad_cart = df.crossJoin(df.select(F.col("id").alias("id2")))
    rules = {f.rule: f.severity for f in diagnose(bad_cart)}
    # a tiny side broadcasts (nested-loop); big sides go CartesianProduct
    # — the doctor flags both shapes
    assert (
        rules.get("cartesian-product") == "error"
        or rules.get("nested-loop-join") == "warn"
    )

    bad_window = df.withColumn(
        "rn", F.row_number().over(Window.orderBy("id"))
    )
    rules = {f.rule: f.severity for f in diagnose(bad_window)}
    assert rules.get("single-partition-exchange") == "warn"

    good = df.groupBy("v").count()
    findings = diagnose(good)
    assert all(f.severity == "info" for f in findings), findings


def test_plan_doctor_distinguishes_scalar_exchange_from_global_window(spark):
    """r7 precision fix: a PER-KEY window above a scalar aggregate's
    1-row SinglePartition exchange (the broadcast-total shape
    llm_unigram_logprob / llm_perplexity_buckets use) must NOT trip the
    global-window warn — only a window whose own input spine is the
    SinglePartition exchange does."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from stream4flow_spark.plans.doctor import diagnose

    df = spark.range(100).withColumn("v", (F.col("id") % 7).cast("double"))
    total = df.agg(F.sum("v").alias("tot"))  # 1-row scalar -> SinglePartition
    scored = df.crossJoin(F.broadcast(total)).withColumn(
        "share", F.col("v") / F.col("tot")
    )
    keyed = scored.withColumn(
        "rn", F.row_number().over(Window.partitionBy("v").orderBy("id"))
    )
    sev = {
        f.rule: f.severity
        for f in diagnose(keyed)
        if f.rule == "single-partition-exchange"
    }
    assert sev == {"single-partition-exchange": "info"}, sev

    glob = scored.withColumn(
        "rn", F.row_number().over(Window.orderBy("id"))
    )
    sev = {
        f.rule: f.severity
        for f in diagnose(glob)
        if f.rule == "single-partition-exchange"
    }
    assert sev == {"single-partition-exchange": "warn"}, sev


def test_gap_fill_hourly_fills_gaps_and_carries_forward(spark):
    from datetime import datetime

    from stream4flow_spark.operators.gapfill import gap_fill_hourly

    rows = [
        (1, datetime(2024, 1, 1, 0, 10), 5.0),
        (1, datetime(2024, 1, 1, 0, 50), 7.0),
        # hours 01 and 02 silent
        (1, datetime(2024, 1, 1, 3, 5), 2.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = sorted(
        gap_fill_hourly(df, "user_id", "ts", "value").collect(),
        key=lambda r: r.bucket,
    )
    assert len(out) == 4  # 00..03 dense
    assert [r.n_events for r in out] == [2, 0, 0, 1]
    assert [r.value_sum for r in out] == [12.0, 0.0, 0.0, 2.0]
    assert [r.last_seen_value for r in out] == [12.0, 12.0, 12.0, 2.0]


def test_approx_percentiles_within_rank_error_of_exact(spark):
    """percentile_approx's Greenwald-Khanna guarantee, verified against
    the exact bounded-state tier: each approximate pXX must sit within
    rank error N/accuracy of the true order statistic per group."""
    from stream4flow_spark.operators.percentiles import (
        grouped_approx_percentiles,
    )
    from stream4flow_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    ps = {"p10": 0.1, "p50": 0.5, "p90": 0.9}
    approx = {
        r.lang: r
        for r in grouped_approx_percentiles(
            docs, ["lang"], "n_chars", ps, accuracy=100
        ).collect()
    }
    values = {}
    for r in docs.select("lang", "n_chars").collect():
        values.setdefault(r.lang, []).append(r.n_chars)
    for lang, vals in values.items():
        vals.sort()
        n = len(vals)
        for name, p in ps.items():
            got = approx[lang][name]
            # rank window the guarantee allows: (p ± 1/accuracy) * n
            lo = vals[max(0, int((p - 1 / 100) * n) - 1)]
            hi = vals[min(n - 1, int((p + 1 / 100) * n) + 1)]
            assert lo <= got <= hi, (lang, name, got, lo, hi)


def test_expect_audit_and_quarantine_agree(spark):
    """The audit's violation counts must equal the quarantine lane's row
    split from the same rules, nulls counting as violations."""
    import pyspark.sql.functions as F

    from stream4flow_spark.operators.expect import audit, quarantine

    df = spark.createDataFrame(
        [(1, 10.0), (2, -1.0), (3, None), (4, 200.0)],
        "id long, v double",
    )
    rules = {
        "v_positive": F.col("v") > 0,
        "v_small": F.col("v") < 100,
    }
    row = audit(df, rules).collect()[0]
    assert row.n_rows == 4
    assert row.v_positive_violations == 2   # -1 and NULL
    assert row.v_small_violations == 2      # 200 and NULL
    ok, bad = quarantine(df, rules)
    assert {r.id for r in ok.collect()} == {1}
    failed = {r.id: set(r.failed_rules) for r in bad.collect()}
    assert failed == {
        2: {"v_positive"},
        3: {"v_positive", "v_small"},
        4: {"v_small"},
    }


def test_expect_audit_grouped_with_clean_lane(spark):
    """Grouped audit: one row per group, and n_clean equals the
    quarantine keep-lane size within each group."""
    import pyspark.sql.functions as F

    from stream4flow_spark.operators.expect import audit, quarantine

    df = spark.createDataFrame(
        [("a", 10.0), ("a", -1.0), ("b", None), ("b", 5.0), ("b", 200.0)],
        "g string, v double",
    )
    rules = {
        "v_positive": F.col("v") > 0,
        "v_small": F.col("v") < 100,
    }
    rows = {
        r.g: r
        for r in audit(
            df, rules, group_cols=["g"], include_clean=True
        ).collect()
    }
    assert rows["a"].n_rows == 2 and rows["a"].n_clean == 1
    assert rows["a"].v_positive_violations == 1
    assert rows["b"].n_rows == 3 and rows["b"].n_clean == 1
    assert rows["b"].v_positive_violations == 1  # the NULL
    assert rows["b"].v_small_violations == 2     # NULL + 200
    ok, _ = quarantine(df, rules)
    per_g = {
        r.g: r.n for r in ok.groupBy("g").agg(F.count("*").alias("n")).collect()
    }
    assert per_g == {g: rows[g].n_clean for g in rows}


def test_pagerank_star_graph_ranks_center_highest(spark):
    """On a star (all spokes -> center) the center must dominate; ranks
    stay within [base, 1], the result is partitioning-independent, and
    dangling mass (the center has no out-edges) only shrinks the total
    (the documented simplification)."""
    from stream4flow_spark.operators.pagerank import pagerank

    edges = [(f"s{i}", "center") for i in range(8)]
    df = spark.createDataFrame(edges, "src string, dst string")
    pr = {r.node: r.pagerank for r in pagerank(df).collect()}
    assert set(pr) == {"center", *{f"s{i}" for i in range(8)}}
    assert pr["center"] == max(pr.values())
    assert all(v > 0 for v in pr.values())
    assert sum(pr.values()) <= 1.0 + 1e-9  # dangling mass dropped, never added
    spokes = {v for k, v in pr.items() if k != "center"}
    assert len(spokes) == 1  # symmetry: all spokes identical

    pr8 = {
        r.node: r.pagerank
        for r in pagerank(df.repartition(8)).collect()
    }
    assert pr8 == pr


def test_pagerank_empty_graph_returns_empty(spark):
    """A filtered flow slice with no edges must yield an empty (node,
    rank) frame, not ZeroDivisionError on the 1/|V| teleport term
    (round-8 ADVICE fix)."""
    from stream4flow_spark.operators.pagerank import pagerank

    df = spark.createDataFrame([], "src string, dst string")
    out = pagerank(df)
    assert out.columns == ["node", "pagerank"]
    assert out.count() == 0


def test_hll_sketch_rollup_error_bound_and_merge_identity(spark):
    from stream4flow_spark.operators.sketches import (
        sketch_estimate,
        sketch_merge,
        sketch_rollup,
    )
    from stream4flow_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events").select(
        "event_type", F.to_date("ts").alias("day"), "user_id"
    )

    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    # rollup per (type, day), merged back to type: within 5% of exact
    rollup = sketch_rollup(ev, ["event_type", "day"], "user_id")
    merged = {
        r.event_type: r.n_distinct
        for r in sketch_merge(rollup, ["event_type"]).collect()
    }
    assert set(merged) == set(exact)
    for t, n in exact.items():
        assert abs(merged[t] - n) / n < 0.05, (t, merged[t], n)

    # merging daily sketches == sketching the whole stream directly
    # (HLL registers are per-item maxima, so elementwise max over parts
    # equals the registers of the combined stream)
    direct = {
        r.event_type: r.n_distinct
        for r in sketch_estimate(
            sketch_rollup(ev, ["event_type"], "user_id"), ["event_type"]
        ).collect()
    }
    assert merged == direct

    # estimates are order/partitioning independent
    re7 = {
        r.event_type: r.n_distinct
        for r in sketch_merge(
            sketch_rollup(ev.repartition(7), ["event_type", "day"], "user_id"),
            ["event_type"],
        ).collect()
    }
    assert re7 == merged


def test_triangle_count_known_graphs(spark):
    from stream4flow_spark.operators.triangles import (
        triangle_count,
        triangles,
    )

    # K4 on {a,b,c,d}: 4 triangles, every node in exactly 3; edges fed
    # with duplicates / reversed direction / a self-loop to exercise
    # canonicalization
    k4 = [("a","b"),("a","c"),("a","d"),("b","c"),("b","d"),("c","d"),
          ("b","a"),("c","c"),("a","b")]
    e = spark.createDataFrame(k4, "src string, dst string")
    tri = triangles(e).collect()
    assert len(tri) == 4
    assert all(r.x < r.y < r.z for r in tri)
    counts = {r.host: r.n_triangles for r in triangle_count(e).collect()}
    assert counts == {"a": 3, "b": 3, "c": 3, "d": 3}

    # star graph (hub h): many wedges at the hub, zero triangles — the
    # degree orientation points every edge INTO the hub, so no wedge
    # even forms there
    star = [("h", f"s{i}") for i in range(20)]
    e2 = spark.createDataFrame(star, "src string, dst string")
    assert triangle_count(e2).count() == 0

    # star + one closing rim edge: exactly 1 triangle
    e3 = spark.createDataFrame(
        star + [("s3", "s7")], "src string, dst string"
    )
    counts3 = {r.host: r.n_triangles for r in triangle_count(e3).collect()}
    assert counts3 == {"h": 1, "s3": 1, "s7": 1}


def test_rolling_distinct_sketch_tracks_exact(spark):
    from stream4flow_spark.operators.sketches import rolling_distinct_sketch
    from stream4flow_spark.operators.window_agg import rolling_distinct
    from stream4flow_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events")
    exact = {
        r.day: r.n_active
        for r in rolling_distinct(ev, "ts", "user_id", 7).collect()
    }
    est = {
        r.day: r.n_active_est
        for r in rolling_distinct_sketch(ev, "ts", "user_id", 7).collect()
    }
    assert set(est) == set(exact)
    for day, n in exact.items():
        assert abs(est[day] - n) / n < 0.05, (day, est[day], n)


def test_kcore_peels_pendants_and_keeps_clique(spark):
    from stream4flow_spark.operators.kcore import kcore

    # K5 on a..e (4-core) + a pendant chain e-p1-p2-p3: chain peels out
    # over cascading rounds, clique survives with in-core degree 4
    k5 = [(x, y) for i, x in enumerate("abcde") for y in "abcde"[i+1:]]
    chain = [("e", "p1"), ("p1", "p2"), ("p2", "p3")]
    e = spark.createDataFrame(k5 + chain, "src string, dst string")

    core = {r.host: r.core_degree for r in kcore(e, k=2).collect()}
    assert core == {x: 4 for x in "abcde"}
    # k above the clique's connectivity: everything peels
    assert kcore(e, k=5).count() == 0
    # fixed_rounds too small to finish the cascade leaves chain remnants;
    # enough rounds matches the converged result
    assert kcore(e, k=2, fixed_rounds=1).count() > 5
    fixed = {
        r.host: r.core_degree
        for r in kcore(e, k=2, fixed_rounds=4).collect()
    }
    assert fixed == core


def test_triangle_orientation_bounds_hub_fanout(spark):
    """The scale property itself, quantified: degree-ordered orientation
    caps the wedge-join fan-out. A 2000-edge hub in a sparse rim keeps
    its raw degree, but every hub edge points INTO it (out-degree 0),
    and no rim node's out-degree exceeds its own tiny degree — the
    wedge work is O(sum outdeg²), independent of the hub."""
    from stream4flow_spark.operators.triangles import _oriented

    hub = [("hub", f"r{i}") for i in range(2000)]
    rim = [(f"r{i}", f"r{i+1}") for i in range(0, 2000, 4)]
    e = spark.createDataFrame(hub + rim, "src string, dst string")
    out = (
        _oriented(e, "src", "dst")
        .groupBy("u")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    # raw max degree is 2000 (the hub); oriented out-degree stays tiny
    assert out <= 3, out


def test_clustering_coefficient_known_values(spark):
    from stream4flow_spark.operators.triangles import clustering_coefficient

    # K4 {a,b,c,d} + pendant e on a: clique nodes b,c,d have coeff 1;
    # a has degree 4 and still only the 3 clique triangles -> 0.5;
    # e has degree 1 -> 0
    k4 = [(x, y) for i, x in enumerate("abcd") for y in "abcd"[i+1:]]
    e = spark.createDataFrame(
        k4 + [("a", "e")], "src string, dst string"
    )
    got = {
        r.host: (r.degree, r.n_triangles, r.coefficient)
        for r in clustering_coefficient(e).collect()
    }
    assert got["b"] == (3, 3, 1.0)
    assert got["c"] == (3, 3, 1.0)
    assert got["d"] == (3, 3, 1.0)
    assert got["a"] == (4, 3, 0.5)
    assert got["e"] == (1, 0, 0.0)


def test_personalized_pagerank_seed_semantics(spark):
    from stream4flow_spark.operators.pagerank import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "c")],
        "src string, dst string",
    )
    # seeds = all nodes must reproduce standard pagerank exactly
    all_nodes = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",)], "node string"
    )
    std = {r.node: r.pagerank for r in pagerank(edges).collect()}
    per = {
        r.node: r.pagerank
        for r in pagerank(edges, seeds=all_nodes).collect()
    }
    assert per == std

    # teleporting only to d: d and its sole successor c dominate, and
    # total mass stays bounded by 1
    seed_d = spark.createDataFrame([("d",)], "node string")
    pd_ = {
        r.node: r.pagerank for r in pagerank(edges, seeds=seed_d).collect()
    }
    assert pd_["d"] > pd_["a"] and pd_["c"] > pd_["a"]
    assert abs(sum(pd_.values())) <= 1.000001

    import pytest

    with pytest.raises(ValueError):
        pagerank(edges, seeds=all_nodes.filter("node = 'zzz'"))

    # a seed absent from the edge graph must not dilute the restart
    # mass: seeds {d, zzz} (zzz not in the graph) == seeds {d} exactly,
    # because base = (1-d)/|seeds ∩ nodes|
    seed_d_plus_ghost = spark.createDataFrame(
        [("d",), ("zzz",)], "node string"
    )
    pg = {
        r.node: r.pagerank
        for r in pagerank(edges, seeds=seed_d_plus_ghost).collect()
    }
    assert pg == pd_


def test_weighted_pagerank_splits_mass_by_weight(spark):
    from stream4flow_spark.operators.pagerank import pagerank

    # a sends to b and c with weights 3:1 — after one iteration b gets
    # 3x c's in-mass share; weight=1 rows must reproduce the unweighted
    # ranks exactly
    edges = spark.createDataFrame(
        [("a", "b", 3.0), ("a", "c", 1.0), ("b", "a", 1.0), ("c", "a", 1.0)],
        "src string, dst string, w double",
    )
    ranks = {
        r.node: r.pagerank
        for r in pagerank(edges, iterations=1, weight_col="w").collect()
    }
    base = (1 - 0.85) / 3
    assert abs(ranks["b"] - (base + 0.85 * (1 / 3) * 0.75)) < 1e-12
    assert abs(ranks["c"] - (base + 0.85 * (1 / 3) * 0.25)) < 1e-12

    ones = edges.withColumn("w", F.lit(1.0))
    w1 = {
        r.node: r.pagerank
        for r in pagerank(ones, iterations=3, weight_col="w").collect()
    }
    unw = {r.node: r.pagerank for r in pagerank(edges, iterations=3).collect()}
    assert w1 == unw

    # duplicate (src,dst) rows pre-sum: (a->b,2)+(a->b,1) == (a->b,3)
    dup = spark.createDataFrame(
        [("a", "b", 2.0), ("a", "b", 1.0), ("a", "c", 1.0),
         ("b", "a", 1.0), ("c", "a", 1.0)],
        "src string, dst string, w double",
    )
    rdup = {
        r.node: r.pagerank
        for r in pagerank(dup, iterations=1, weight_col="w").collect()
    }
    assert rdup == ranks


def test_label_propagation_separates_bridged_cliques(spark):
    from stream4flow_spark.llmdata.dedup import connected_components
    from stream4flow_spark.operators.graph import label_propagation

    # two K4 cliques joined by ONE bridge: one component, two communities
    k4a = [(x, y) for i, x in enumerate("abcd") for y in "abcd"[i+1:]]
    k4b = [(x, y) for i, x in enumerate("efgh") for y in "efgh"[i+1:]]
    e = spark.createDataFrame(
        k4a + k4b + [("d", "e")], "src string, dst string"
    )
    comm = {r.node: r.community for r in label_propagation(e, rounds=5).collect()}
    assert len({comm[x] for x in "abcd"}) == 1
    assert len({comm[x] for x in "efgh"}) == 1
    assert comm["a"] != comm["e"]

    comp = {
        r.id: r.component
        for r in connected_components(
            e.withColumnRenamed("src", "id_a").withColumnRenamed("dst", "id_b")
        ).collect()
    }
    assert len(set(comp.values())) == 1  # reachability says ONE blob


def test_doulion_sampled_triangles(spark):
    from stream4flow_spark.operators.triangles import (
        triangle_count_sampled,
        triangles,
    )

    # K12: C(12,3) = 220 triangles
    k12 = [
        (f"n{i}", f"n{j}") for i in range(12) for j in range(i + 1, 12)
    ]
    e = spark.createDataFrame(k12, "src string, dst string")
    exact = triangles(e).count()
    assert exact == 220

    # p=1 is exactly the exact count
    full = triangle_count_sampled(e, p=1.0).collect()[0][0]
    assert full == exact

    # deterministic: same input, same estimate, twice
    e1 = triangle_count_sampled(e, p=0.7).collect()[0][0]
    e2 = triangle_count_sampled(
        e.repartition(7), p=0.7
    ).collect()[0][0]
    assert e1 == e2
    # unbiased-ish at this density: within 60% of truth for p=0.7
    assert 0.4 * exact <= e1 <= 1.6 * exact, e1


def test_graph_family_composes_with_document_neardup_graph(spark):
    """The graph operators serve the LLM tier too: near-dup pairs from
    the MinHash chain feed communities/centrality directly (ids only).
    Two template families + a cross-link behave as the graph lenses
    predict: each family is community-coherent, and the bridging
    document has the highest centrality. (Family SEPARATION under a
    bridge is pinned on explicit cliques in
    test_label_propagation_separates_bridged_cliques — at this tiny
    scale the bridge dominates and LPA legitimately merges.)"""
    from stream4flow_spark.llmdata.dedup import ngram_jaccard_pairs
    from stream4flow_spark.operators.graph import label_propagation
    from stream4flow_spark.operators.pagerank import pagerank

    t_a = "alpha beta gamma delta epsilon zeta eta theta"
    t_b = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [(0, t_a), (1, t_a + " iota"), (2, t_a + " kappa"),
         (3, t_b), (4, t_b + " nine"), (5, t_b + " ten"),
         (6, t_a + " " + t_b)],  # bridges the families
        "doc_id long, text string",
    )
    pairs = ngram_jaccard_pairs(docs, threshold=0.3).select("id_a", "id_b")
    edges = pairs.select(
        F.col("id_a").cast("string").alias("src"),
        F.col("id_b").cast("string").alias("dst"),
    )
    comm = {
        r.node: r.community
        for r in label_propagation(edges, rounds=4).collect()
    }
    assert len({comm[str(i)] for i in (0, 1, 2)}) == 1
    assert len({comm[str(i)] for i in (3, 4, 5)}) == 1

    pr = {r.node: r.pagerank for r in pagerank(edges).collect()}
    # the bridge document touches both families — highest centrality
    assert pr["6"] == max(pr.values())


def test_kcore_converges_through_deep_peel_cascades(spark):
    from stream4flow_spark.operators.kcore import kcore

    # a 40-node path peels one layer per round from each end: ~20
    # convergence rounds, then nothing survives k=2
    path = [(f"p{i}", f"p{i+1}") for i in range(40)]
    e = spark.createDataFrame(path, "src string, dst string")
    assert kcore(e, k=2).count() == 0
    # adding one chord closes a cycle: the cycle IS the 2-core
    e2 = spark.createDataFrame(
        path + [("p10", "p20")], "src string, dst string"
    )
    core = {r.host for r in kcore(e2, k=2).collect()}
    assert core == {f"p{i}" for i in range(10, 21)}


def test_kcore_default_loop_one_count_action_per_round(spark, monkeypatch):
    """r15: the convergence loop threads the previous round's edge
    count instead of re-counting the already-counted frame — exactly
    ONE count action per peel round (plus the initial count), pinned by
    instrumenting DataFrame.count on a graph with a known peel depth."""
    from stream4flow_spark.operators.kcore import kcore

    # an 8-edge path peels one layer per round from each end:
    # 8 -> 6 -> 4 -> 2 -> 0 edges = 4 rounds, loop exits on n_now == 0
    path = [(f"p{i}", f"p{i+1}") for i in range(8)]
    e = spark.createDataFrame(path, "src string, dst string")
    cls = type(e)  # Spark 4: the classic DataFrame subclass owns count()
    calls = []
    orig = cls.count
    monkeypatch.setattr(cls, "count", lambda self: (calls.append(1), orig(self))[1])
    result = kcore(e, k=2)
    n_loop_counts = len(calls)
    assert orig(result) == 0
    # 1 initial + 4 rounds; the pre-r15 loop re-counted the previous
    # frame every round (2/round -> 8 here)
    assert n_loop_counts == 5, f"{n_loop_counts} count actions in the loop"


def test_bloom_no_false_negatives_and_fpp_bound(spark):
    """operators/bloom.py invariants: every true member passes the
    probe (the property that keeps exact oracles valid through the
    prune), and the observed false-positive rate stays near the target
    (loose 3x bound — it's a probabilistic guarantee)."""
    from pyspark.sql import functions as F

    from stream4flow_spark.operators.bloom import bloom_params, bloom_prune

    keys = spark.range(0, 1000).select((F.col("id") * 3).alias("k"))
    big = spark.range(0, 30000).select(F.col("id").alias("k"))
    got = {r.k for r in bloom_prune(big, keys, "k", 1000, fpp=0.01).collect()}
    members = {r.k for r in keys.collect()} & set(range(30000))
    assert members <= got, "false negative — bloom prune lost a member"
    fp_rate = (len(got) - len(members)) / (30000 - len(members))
    assert fp_rate < 0.03, fp_rate
    m, k = bloom_params(1000, 0.01)
    assert m % 64 == 0 and k >= 1


def test_bloom_pruned_decontamination_is_value_identical(spark):
    """The Bloom prefilter must change NOTHING about contamination
    counts — same rows, same values — while pruning the gram stream
    map-side (no false negatives; the exact join removes the ~fpp
    false positives)."""
    from pyspark.sql import functions as F

    from stream4flow_spark.llmdata.decontaminate import contamination_counts
    from stream4flow_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    train = docs.filter(F.col("doc_id") % 10 != 0)
    plain = {
        r.doc_id: r.n_contaminated_grams
        for r in contamination_counts(
            train, bench, n=3, hash_grams=False
        ).collect()
    }
    pruned = {
        r.doc_id: r.n_contaminated_grams
        for r in contamination_counts(
            train, bench, n=3, hash_grams=False, bloom_prefilter=20_000
        ).collect()
    }
    assert plain == pruned and len(plain) > 0
    # the hashed-gram scale path composes with the prune identically
    hashed = {
        r.doc_id: r.n_contaminated_grams
        for r in contamination_counts(
            train, bench, n=3, hash_grams=True, bloom_prefilter=20_000
        ).collect()
    }
    assert hashed == plain


@pytest.mark.parametrize("broadcast", [True, False])
def test_bloom_sharded_prune_preserves_members_and_exactness(spark, broadcast):
    """The sharded bitmap (the >10^9-key scale path) keeps the same
    contract as the 1-row filter: no false negatives, fpp in range, and
    value-identical exact-join results; an empty shard must emit an
    all-zero bitmap, never drop its probe rows. Parameterized over BOTH
    probe modes — broadcast hash join (≤~10⁹ keys) and the
    broadcast=False shuffled hash join (the ≥10¹⁰-key rung where the
    total bitmap outgrows executor broadcast budgets, DEPLOY.md)."""
    from pyspark.sql import functions as F

    from stream4flow_spark.llmdata.decontaminate import contamination_counts
    from stream4flow_spark.operators.bloom import bloom_prune
    from stream4flow_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    keys = spark.range(0, 1000).select((F.col("id") * 3).alias("k"))
    big = spark.range(0, 30000).select(F.col("id").alias("k"))
    got = {
        r.k
        for r in bloom_prune(
            big, keys, "k", 1000, fpp=0.01, shards=7, broadcast=broadcast
        ).collect()
    }
    members = {r.k for r in keys.collect()} & set(range(30000))
    assert members <= got
    fp_rate = (len(got) - len(members)) / (30000 - len(members))
    assert fp_rate < 0.03, fp_rate

    # empty-shard edge: 2 keys over 64 shards leaves most shards empty;
    # probes routed to those shards must survive routing (and then fail
    # the bit test), not disappear at the join
    tiny = spark.createDataFrame([(5,), (9,)], "k long")
    pruned = bloom_prune(big, tiny, "k", 2, fpp=0.01, shards=64, broadcast=broadcast)
    assert {5, 9} <= {r.k for r in pruned.collect()}

    # exactness through decontamination, sharded
    docs = load_table(spark, SF_DIR, "documents")
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    train = docs.filter(F.col("doc_id") % 10 != 0)
    plain = {
        r.doc_id: r.n_contaminated_grams
        for r in contamination_counts(train, bench, n=3).collect()
    }
    from stream4flow_spark.llmdata.decontaminate import word_ngrams  # noqa: F401
    # route through bloom_prune(shards=4) by pruning the hashed gram
    # stream manually (contamination_counts' bloom_prefilter uses the
    # 1-row form; the sharded form must agree end to end)
    from stream4flow_spark.llmdata.textstats import whitespace_tokens
    from stream4flow_spark.llmdata.dedup import word_grams_from_tokens

    def grams_of(df, keep_id):
        cols = ["doc_id"] if keep_id else []
        toked = df.select(*cols, whitespace_tokens(F.col("text")).alias("__t"))
        return toked.select(
            *cols, F.explode(word_grams_from_tokens(F.col("__t"), 3)).alias("gram")
        ).withColumn("gram", F.xxhash64("gram"))

    cg = bloom_prune(
        grams_of(train, True), grams_of(bench, False).distinct(),
        "gram", 20_000, shards=4, broadcast=broadcast,
    )
    sharded = {
        r.doc_id: r.n
        for r in cg.join(grams_of(bench, False).distinct(), "gram")
        .groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    assert sharded == plain


def test_bloom_prune_broadcast_false_requires_shards(spark):
    """broadcast=False only makes sense on the sharded bitmap — the
    unsharded filter is one row and can only travel by broadcast; the
    misconfiguration must fail loudly at plan time, not silently
    broadcast anyway."""
    from pyspark.sql import functions as F

    from stream4flow_spark.operators.bloom import bloom_prune

    keys = spark.range(0, 10).select(F.col("id").alias("k"))
    big = spark.range(0, 100).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="shards"):
        bloom_prune(big, keys, "k", 10, shards=1, broadcast=False)


def test_bloom_filter_persists_and_reloads(spark, tmp_path):
    """The production story: build the bitmap once, persist it as a
    plain parquet row, reload in a later job and probe — identical
    survivors (the filter is data, not driver state)."""
    from pyspark.sql import functions as F

    from stream4flow_spark.operators.bloom import (
        bloom_params,
        bloom_words,
        might_contain,
    )

    keys = spark.range(0, 500).select((F.col("id") * 7).alias("k"))
    big = spark.range(0, 10000).select(F.col("id").alias("k"))
    m, kh = bloom_params(500, 0.01)
    flt = bloom_words(keys, "k", 500, 0.01)
    path = str(tmp_path / "bloom")
    flt.write.parquet(path)
    reloaded = spark.read.parquet(path).select("bf_words")
    live = {
        r.k
        for r in big.crossJoin(F.broadcast(flt.select("bf_words")))
        .filter(might_contain(F.col("k"), "bf_words", m, kh))
        .collect()
    }
    stored = {
        r.k
        for r in big.crossJoin(F.broadcast(reloaded))
        .filter(might_contain(F.col("k"), "bf_words", m, kh))
        .collect()
    }
    assert live == stored
    assert ({r.k for r in keys.collect()} & set(range(10000))) <= stored


def _total_shuffle_records(df) -> int:
    """Sum shuffleRecordsWritten across every Exchange in the EXECUTED
    (post-AQE) plan — the observed-metrics form of SCALE.md's
    shuffle-write table, usable as a test assertion."""
    df.collect()

    def walk(n):
        yield n
        nm = n.nodeName()
        if nm == "AdaptiveSparkPlan":
            yield from walk(n.executedPlan())
            return
        if "QueryStage" in nm:
            yield from walk(n.plan())
            return
        ch = n.children()
        for i in range(ch.size()):
            yield from walk(ch.apply(i))

    total = 0
    for n in walk(df._jdf.queryExecution().executedPlan()):
        if "Exchange" in n.nodeName() and "Reused" not in n.nodeName():
            it = n.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "shuffleRecordsWritten":
                    total += kv._2().value()
    return total


def test_incremental_exact_substr_bloom_prune_identical_and_cheaper(spark):
    """r9 verdict item 4: the Bloom prune as a consumer inside the
    growing-index family. incremental_exact_substr(bloom_prefilter=...)
    must return EXACTLY the unpruned output (no false negatives through
    the semi-join) while the index side stops shuffling itself in full:
    total shuffle records drop because the corpus gram index — the side
    that grows with the whole corpus — is cut map-side to the
    delta-matching sliver before the exchange."""
    from stream4flow_spark.llmdata.dedup import (
        exact_substr_index,
        incremental_exact_substr,
    )
    from stream4flow_spark.sources.tables import load_table

    # sf0.01 with a 98/2 corpus/delta split: the bitmap build's own
    # shuffle is bounded by shards·(m/64)·tasks regardless of corpus
    # size, so the prune pays off exactly when the index dwarfs the
    # delta — the production proportion (at a 50/50 toy split the
    # bitmap words outweigh the saved index rows, measured r10)
    docs = load_table(spark, "/root/testdata/sf0.01", "documents").select(
        "doc_id", "text"
    )
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    delta = docs.filter(F.col("doc_id") % 50 == 0)
    idx = exact_substr_index(corpus, min_len=15).localCheckpoint()

    plain_df = incremental_exact_substr(
        None, delta, min_len=15, corpus_index=idx
    )
    pruned_df = incremental_exact_substr(
        None, delta, min_len=15, corpus_index=idx,
        bloom_prefilter=50_000, bloom_shards=4,
    )
    key = lambda r: (r.doc_id, r.n_tokens, r.n_removed, r.dedup_text)
    plain_rows = sorted(map(key, plain_df.collect()))
    pruned_rows = sorted(map(key, pruned_df.collect()))
    assert pruned_rows == plain_rows

    # measure with auto-broadcast OFF: at test scale AQE would broadcast
    # the 4 MB index and hide the exchange the prune exists to cut — in
    # production the index is the 100 TB side and can never broadcast.
    # The Bloom bitmap's own F.broadcast hints are explicit and stay
    # honored regardless of the threshold.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plain_shuffle = _total_shuffle_records(
            incremental_exact_substr(None, delta, min_len=15, corpus_index=idx)
        )
        pruned_shuffle = _total_shuffle_records(
            incremental_exact_substr(
                None, delta, min_len=15, corpus_index=idx,
                bloom_prefilter=50_000, bloom_shards=4,
            )
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert pruned_shuffle < plain_shuffle, (
        f"bloom prune did not reduce shuffled rows: "
        f"{pruned_shuffle} >= {plain_shuffle}"
    )


def test_suppress_reports_chunked_scan_bounds_partition_memory(spark):
    """r12 verdict item 5: the batch twin used to pd.concat the WHOLE
    partition before chaining — at an adversarial alerts-per-partition
    skew that is an executor OOM. The kernel now streams sorted Arrow
    batches holding only the trailing key-run carry. Three checks:
    (a) the chunked generator over many tiny batches (key-runs
    deliberately split across batch boundaries, including one giant
    skewed key spanning MANY batches) equals the one-shot kernel over
    the same rows; (b) no materialized chunk ever approaches the
    partition size; (c) the public operator end-to-end agrees with a
    brute-force reference on the same skewed data."""
    import numpy as np
    import pandas as pd

    from stream4flow_spark.operators.suppression import (
        _chain_sorted,
        _chunked_chain,
        suppress_reports,
    )

    rng = np.random.default_rng(7)
    # 30 small keys (3-8 alerts) + one giant key with 5,000 alerts
    rows = []
    for k in range(30):
        for ts in sorted(rng.integers(0, 1000, rng.integers(3, 9))):
            rows.append((f"k{k:02d}", int(ts), 1))
    rows.extend(("whale", int(ts), 1)
                for ts in sorted(rng.integers(0, 100_000, 5000)))
    pdf = pd.DataFrame(rows, columns=["key", "ts", "flows"]).sort_values(
        ["key", "ts"], kind="mergesort", ignore_index=True
    )

    args = (["key"], "ts", 100, ["flows"], ["key", "ts", "flows"])
    want = _chain_sorted(pdf, *args)

    # (a)+(b): feed 64-row batches; the whale key spans ~80 batches
    batches = [pdf.iloc[i:i + 64] for i in range(0, len(pdf), 64)]
    seen_sizes = []
    orig = _chain_sorted

    def spying(chunk, *a):
        seen_sizes.append(len(chunk))
        return orig(chunk, *a)

    import stream4flow_spark.operators.suppression as supp
    supp._chain_sorted, got_parts = spying, []
    try:
        got_parts = list(_chunked_chain(iter(batches), *args))
    finally:
        supp._chain_sorted = orig
    got = pd.concat(got_parts, ignore_index=True)
    pd.testing.assert_frame_equal(
        got.sort_values(["key", "ts"], ignore_index=True),
        want.sort_values(["key", "ts"], ignore_index=True),
    )
    # every kernel chunk is bounded by batch + largest-run carry, far
    # below the full partition (the whale alone is 5,000 rows)
    assert max(seen_sizes) <= 5000 + 64
    # genuinely chunked: the small keys flush in batch-sized chunks
    # BEFORE the whale's run completes, never one whole-input concat
    assert len(seen_sizes) >= 3
    assert sum(seen_sizes) == len(pdf)

    # (c) end-to-end through Spark on the same data
    sdf = spark.createDataFrame(pdf)
    out = (
        suppress_reports(sdf, ["key"], "ts", 100, sum_cols=["flows"])
        .orderBy("key", "ts")
        .toPandas()
    )
    pd.testing.assert_frame_equal(
        out[["key", "ts", "flows", "report_seq"]].reset_index(drop=True),
        want.assign(report_seq=want["report_seq"].astype("int32"))
        .sort_values(["key", "ts"], ignore_index=True)[
            ["key", "ts", "flows", "report_seq"]
        ],
        check_dtype=False,
    )
