"""Batch/stream parity (SURVEY.md §2.1 S1-S4, §2.5, §2.6).

The app pipelines are source-agnostic DataFrame→DataFrame functions; these
tests run them under Structured Streaming (file source → memory sink,
availableNow trigger) and assert bit-identical results to the batch path.
"""

from __future__ import annotations

import contextlib
import os
import time

import pandas as pd
import pytest

from stream4flow_spark.apps.protocols_statistics import protocols_statistics
from stream4flow_spark.fixtures.flows import flows_df
from stream4flow_spark.streaming import (
    run_stream_to_table,
    stream_flows_df,
    suppress_reports_stream,
)
from tests.conftest import SF_DIR


def _pin_read_order(paths) -> None:
    """Give ``paths`` strictly increasing mtimes, one second apart, in
    the order given. The file source reads the oldest file first, and
    back-to-back writes can tie on the millisecond mtime, in which case
    the directory listing, not the write order, decides which file a
    ``maxFilesPerTrigger=1`` stream reads first."""
    t0 = time.time() - 60
    for i, p in enumerate(paths):
        os.utime(p, (t0 + i, t0 + i))


@contextlib.contextmanager
def _split_writes():
    """Set ``llmingest._WHOLE_STORE_BYTES``, the size below which a
    bucketed verify-store write or fold goes into one whole-store file,
    to 0, and restore it: every write splits one file per
    ``id_bucket``, as a store whose writes reach the threshold does."""
    from stream4flow_spark.streaming import llmingest

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(llmingest, "_WHOLE_STORE_BYTES", 0)
        yield


@pytest.fixture
def split_bucket_writes():
    """Bucketed verify-store writes and folds split one file per bucket
    (the layout of a store past the whole-store threshold), whatever
    their size."""
    with _split_writes():
        yield


def _sorted_pdf(df, keys):
    return (
        df.toPandas()
        .sort_values(keys, kind="mergesort")
        .reset_index(drop=True)
    )


def test_stream_protocols_statistics_matches_batch(spark):
    batch = protocols_statistics(flows_df(spark, SF_DIR), "1 hour")
    stream = protocols_statistics(stream_flows_df(spark, SF_DIR), "1 hour")
    got = run_stream_to_table(stream, output_mode="complete")
    keys = ["window_start_ms", "protocol"]
    pd.testing.assert_frame_equal(_sorted_pdf(got, keys), _sorted_pdf(batch, keys))


def test_stream_suppression_matches_batch(spark, tmp_path):
    from stream4flow_spark.operators.suppression import suppress_reports

    # alert stream: 2 keys, alerts every 10s, suppression window 25s
    rows = [
        ("a", t * 10_000, float(t)) for t in range(10)
    ] + [("b", 5_000 + t * 40_000, 1.0) for t in range(4)]
    pdf = pd.DataFrame(rows, columns=["key", "ts_ms", "flows"])
    src = tmp_path / "alerts"
    spark.createDataFrame(pdf).coalesce(1).write.parquet(str(src))

    batch_alerts = spark.read.parquet(str(src))
    expect = _sorted_pdf(
        suppress_reports(batch_alerts, ["key"], "ts_ms", 25_000, ["flows"]),
        ["key", "report_seq"],
    )

    stream_alerts = spark.readStream.schema(batch_alerts.schema).parquet(str(src))
    got_df = suppress_reports_stream(stream_alerts, ["key"], "ts_ms", 25_000, ["flows"])
    got = _sorted_pdf(
        run_stream_to_table(got_df, output_mode="append"), ["key", "report_seq"]
    )
    pd.testing.assert_frame_equal(got, expect)


def test_stream_suppression_state_across_batches(spark, tmp_path):
    """Greedy chain must continue from stored state between micro-batches."""
    from stream4flow_spark.operators.suppression import suppress_reports

    src = tmp_path / "alerts2"
    src.mkdir()
    # file 1: t=0..40s; file 2: t=50..90s (one file per micro-batch)
    p1 = pd.DataFrame(
        [("k", t * 10_000, 1.0) for t in range(5)], columns=["key", "ts_ms", "flows"]
    )
    p2 = pd.DataFrame(
        [("k", 50_000 + t * 10_000, 1.0) for t in range(5)],
        columns=["key", "ts_ms", "flows"],
    )
    spark.createDataFrame(p1).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(p2).coalesce(1).write.parquet(str(src / "f2"))
    _pin_read_order([*(src / "f1").glob("*.parquet"),
                     *(src / "f2").glob("*.parquet")])

    batch_alerts = spark.read.parquet(f"{src}/f*")
    expect = _sorted_pdf(
        suppress_reports(batch_alerts, ["key"], "ts_ms", 25_000, ["flows"]),
        ["key", "report_seq"],
    )

    stream_alerts = (
        spark.readStream.schema(batch_alerts.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    got_df = suppress_reports_stream(
        stream_alerts, ["key"], "ts_ms", 25_000, ["flows"]
    )
    got = _sorted_pdf(
        run_stream_to_table(got_df, output_mode="append"), ["key", "report_seq"]
    )
    pd.testing.assert_frame_equal(got, expect)


def test_stream_interval_join_matches_batch(spark, tmp_path):
    """J4 streaming form: native stream-stream join with watermarks equals
    the batch bucketized interval join."""
    import pandas as pd

    from stream4flow_spark.operators.interval_join import interval_join
    from stream4flow_spark.streaming.joins import stream_interval_join

    # realistic epoch base: timestamps at/near epoch 0 collide with the
    # watermark's floor and would be dropped as late
    B = 1_600_000_000_000
    answers = pd.DataFrame(
        [("c1", "8.8.8.8", B + t * 1_000) for t in range(20)]
        + [("c2", "9.9.9.9", B + 5_000)],
        columns=["client_ip", "resolved_ip", "answer_ms"],
    )
    conns = pd.DataFrame(
        [("c1", "8.8.8.8", B + t * 1_000 + 500) for t in range(0, 40, 2)]
        + [("c2", "9.9.9.9", B + 11_000), ("c3", "7.7.7.7", B + 5_000)],
        columns=["client_ip", "resolved_ip", "conn_ms"],
    )
    pa, pc = tmp_path / "answers", tmp_path / "conns"
    spark.createDataFrame(answers).coalesce(1).write.parquet(str(pa))
    spark.createDataFrame(conns).coalesce(1).write.parquet(str(pc))

    ba, bc = spark.read.parquet(str(pa)), spark.read.parquet(str(pc))
    expect = _sorted_pdf(
        interval_join(
            ba, bc, ["client_ip", "resolved_ip"], "answer_ms", "conn_ms", 2_000
        ),
        ["client_ip", "resolved_ip", "answer_ms", "conn_ms"],
    )

    sa = spark.readStream.schema(ba.schema).parquet(str(pa))
    sc = spark.readStream.schema(bc.schema).parquet(str(pc))
    got_df = stream_interval_join(
        sa, sc, ["client_ip", "resolved_ip"], "answer_ms", "conn_ms", 2_000
    )
    got = _sorted_pdf(
        run_stream_to_table(got_df, output_mode="append"),
        ["client_ip", "resolved_ip", "answer_ms", "conn_ms"],
    )
    pd.testing.assert_frame_equal(
        got[expect.columns], expect
    )


def test_stream_tls_classification_matches_batch(spark):
    """A second full app under streaming (explode fan-out + broadcast
    dim join + windowed agg). Rank-window apps (e.g. dns_statistics'
    global top-100) are deliberately NOT streamed — in streaming the
    top-k runs on the result table (read-side), not in-stream."""
    import pandas as pd

    from stream4flow_spark.apps.tls_classification import tls_classification
    from stream4flow_spark.functions.tls import tls_dimension

    dim = tls_dimension(spark)
    batch = tls_classification(flows_df(spark, SF_DIR), dim, "1 hour")
    stream = tls_classification(stream_flows_df(spark, SF_DIR), dim, "1 hour")
    got = run_stream_to_table(stream, output_mode="complete")
    keys = list(batch.columns)
    pd.testing.assert_frame_equal(_sorted_pdf(got, keys), _sorted_pdf(batch, keys))


def test_watermark_drops_data_later_than_delay(spark, tmp_path):
    """Event-time windowed agg with watermark (append mode): a late row
    inside the watermark is counted; a row later than the watermark is
    dropped; only watermark-finalized windows are emitted."""
    import pandas as pd
    from pyspark.sql import functions as F

    T0 = 1_600_000_000_000
    base = T0 - (T0 % 60_000)  # minute-align

    def write(name, rows):
        # flat files (not Spark's per-write subdirectories) so the file
        # source lists them as three separate inputs
        pdf = pd.DataFrame(rows, columns=["ts_ms"])
        pdf.to_parquet(str(tmp_path / f"{name}.parquet"))

    m = 60_000
    # NB: the watermark computed from batch N's data takes effect in
    # batch N+2's late-row filter (one batch to compute, one to apply),
    # so the late row goes in its own later file.
    write("f1", [base + 10_000, base + 5 * m])            # wm -> +3min
    write("f2", [base + 6 * m + 30_000])                  # wm applies after this
    write("f3", [base + 20_000, base + 4 * m + 10_000])   # too-late; in-watermark
    write("f4", [base + 10 * m])                          # advance wm, finalize
    # the file source orders batches by modification time
    _pin_read_order([tmp_path / f"f{i}.parquet" for i in range(1, 5)])

    schema = "ts_ms long"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path))
    )
    counts = (
        stream.withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
        .withWatermark("ts", "2 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.unix_millis(F.col("w.start")).alias("w_ms"), "n")
    )
    got = {
        r.w_ms: r.n
        for r in run_stream_to_table(counts, output_mode="append").collect()
    }
    # late row at +20s was dropped (window end < watermark), so the base
    # window has 1, not 2; in-watermark late row at +4min10s was kept
    assert got == {base: 1, base + 4 * m: 1, base + 5 * m: 1, base + 6 * m: 1}


def test_stream_host_stats_approx_matches_batch(spark):
    """host_stats streams with exact_distinct=False (HLL sketches merge in
    streaming state; exact countDistinct cannot). HLL is deterministic on
    the same data, so batch-approx and stream-approx match exactly."""
    import pandas as pd

    from stream4flow_spark.apps.host_stats import host_stats

    batch = host_stats(
        flows_df(spark, SF_DIR), window_duration="1 hour", exact_distinct=False
    )
    stream = host_stats(
        stream_flows_df(spark, SF_DIR), window_duration="1 hour", exact_distinct=False
    )
    got = run_stream_to_table(stream, output_mode="complete")
    keys = ["window_start_ms", "src_ip"]
    pd.testing.assert_frame_equal(_sorted_pdf(got, keys), _sorted_pdf(batch, keys))


def test_stream_host_daily_profile_cascade(spark):
    """W4 as chained streaming window aggregations (hourly -> daily via
    window_time): finalized days match the batch profile exactly."""
    import pandas as pd
    from pyspark.sql import functions as F

    from stream4flow_spark.apps.host_daily_profile import (
        host_daily_profile,
        host_daily_profile_stream,
    )

    batch = host_daily_profile(flows_df(spark, SF_DIR))
    stream = host_daily_profile_stream(stream_flows_df(spark, SF_DIR))
    got = run_stream_to_table(stream, output_mode="append")

    # only watermark-finalized days emit; every emitted day must equal
    # the batch row bit for bit, and at least one day must have emitted
    days = [r.day_ms for r in got.select("day_ms").distinct().collect()]
    assert days, "no finalized day emitted"
    expect = batch.filter(F.col("day_ms").isin(days))
    keys = ["day_ms", "src_ip"]
    pd.testing.assert_frame_equal(_sorted_pdf(got, keys), _sorted_pdf(expect, keys))


def test_stream_reflect_ddos_matches_batch(spark):
    """A detection app (union of query/reply legs + grouped sums +
    HAVING) under streaming, complete mode."""
    import pandas as pd

    from stream4flow_spark.apps.reflect_ddos import reflect_ddos

    kw = dict(dns_servers=["10.0.3.96", "10.0.2.47"], min_ratio=0.5, min_replies=1)
    batch = reflect_ddos(flows_df(spark, SF_DIR), **kw)
    stream = reflect_ddos(stream_flows_df(spark, SF_DIR), **kw)
    got = run_stream_to_table(stream, output_mode="complete")
    keys = list(batch.columns)
    pd.testing.assert_frame_equal(_sorted_pdf(got, keys), _sorted_pdf(batch, keys))


def test_stream_ssh_auth_simple_matches_batch(spark):
    """Brute-force detection (band filters + grouped avg + HAVING) under
    streaming, complete mode."""
    import pandas as pd

    from stream4flow_spark.apps.ssh_auth_simple import ssh_auth_simple

    kw = dict(window_duration="1 hour", min_flows=2, packets_band=(1, 200),
              bytes_band=(40, 50_000), max_duration_ms=10**9)
    batch = ssh_auth_simple(flows_df(spark, SF_DIR), **kw)
    stream = ssh_auth_simple(stream_flows_df(spark, SF_DIR), **kw)
    got = run_stream_to_table(stream, output_mode="complete")
    keys = list(batch.columns)
    pd.testing.assert_frame_equal(_sorted_pdf(got, keys), _sorted_pdf(batch, keys))


def test_stream_ports_scan_matches_batch(spark):
    """Scan detection (SYN filter + union of horizontal/vertical legs +
    collect_set aggregate + HAVING) under streaming, complete mode."""
    import pandas as pd

    from stream4flow_spark.apps.ports_scan import ports_scan

    kw = dict(window_duration="1 hour", min_targets=3)
    batch = ports_scan(flows_df(spark, SF_DIR), **kw)
    stream = ports_scan(stream_flows_df(spark, SF_DIR), **kw)
    got = run_stream_to_table(stream, output_mode="complete")
    keys = ["window_start_ms", "scan_type", "src_ip", "key"]
    pd.testing.assert_frame_equal(_sorted_pdf(got, keys), _sorted_pdf(batch, keys))


def test_stream_dns_open_resolvers_matches_batch(spark):
    """Open-resolver detection (bit-test filters + RData decode +
    windowed agg) under streaming, complete mode."""
    import pandas as pd

    from stream4flow_spark.apps.dns_open_resolvers import dns_open_resolvers

    batch = dns_open_resolvers(flows_df(spark, SF_DIR))
    stream = dns_open_resolvers(stream_flows_df(spark, SF_DIR))
    got = run_stream_to_table(stream, output_mode="complete")
    keys = list(batch.columns)
    pd.testing.assert_frame_equal(_sorted_pdf(got, keys), _sorted_pdf(batch, keys))


def test_stream_suppression_ttl_evicts_idle_state(spark, tmp_path):
    """ST2 state GC: a key idle longer than state_ttl_ms is dropped from
    the state store. Observable effect: after eviction the key's chain
    restarts at report_seq=0; without eviction the suppression window
    here (effectively infinite) would swallow the second alert entirely."""
    import time

    src = tmp_path / "ttl_alerts"
    src.mkdir()
    cols = ["key", "ts_ms", "flows"]
    pd.DataFrame([("k", 0, 1.0)], columns=cols).to_parquet(
        str(src / "f1.parquet"), index=False
    )
    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = suppress_reports_stream(
        stream,
        ["key"],
        "ts_ms",
        window_ms=10**12,  # never re-report within one state lifetime
        sum_cols=["flows"],
        state_ttl_ms=2_000,
    )
    name = "ttl_eviction_tbl"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )

    def wait_rows(pred, timeout_s=30):
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            rows = spark.table(name).collect()
            if pred(rows):
                return rows
            time.sleep(0.3)
        raise AssertionError(f"timed out; table={spark.table(name).collect()}")

    try:
        wait_rows(lambda r: len(r) == 1)  # k's first report
        time.sleep(3)  # > TTL with no traffic for k
        # an unrelated key triggers the batch in which k's timeout fires
        pd.DataFrame([("x", 1, 1.0)], columns=cols).to_parquet(
            str(src / "f2.parquet"), index=False
        )
        wait_rows(lambda r: {row.key for row in r} == {"k", "x"})
        # k again: evicted state -> fresh chain (report_seq 0). Without
        # eviction this alert would be suppressed (no row at all).
        pd.DataFrame([("k", 10, 1.0)], columns=cols).to_parquet(
            str(src / "f3.parquet"), index=False
        )
        rows = wait_rows(lambda r: sum(1 for row in r if row.key == "k") == 2)
        assert [r.report_seq for r in rows if r.key == "k"] == [0, 0]
    finally:
        q.stop()


def test_stream_dns_statistics_core_plus_readside_topn(spark):
    """dns_statistics streaming twin: the top=None core streams (complete
    mode), the top-100 rank runs on the drained result table — identical
    to the batch app's in-query rank."""
    from stream4flow_spark.apps.dns_statistics import dns_statistics
    from stream4flow_spark.operators.topk import top_k_per_key

    batch = dns_statistics(flows_df(spark, SF_DIR), top=100)
    stream_core = dns_statistics(stream_flows_df(spark, SF_DIR), top=None)
    table = run_stream_to_table(stream_core, output_mode="complete")
    got_df = top_k_per_key(
        table,
        key_cols=["window_start_ms", "stat_type"],
        order_col="value",
        k=100,
        tiebreak_cols=["key"],
    )
    keys = ["window_start_ms", "stat_type", "key"]
    pd.testing.assert_frame_equal(
        _sorted_pdf(got_df, keys)[list(batch.columns)], _sorted_pdf(batch, keys)
    )


def test_stream_top_n_host_stats_core_plus_readside_topn(spark):
    """top_n_host_stats streaming twin: n=None counted core streams, the
    per-host rank runs on the drained table (same split as dns_statistics)."""
    from stream4flow_spark.apps.top_n_host_stats import top_n_host_stats
    from stream4flow_spark.operators.topk import top_k_per_key

    batch = top_n_host_stats(flows_df(spark, SF_DIR), window_duration="1 hour", n=10)
    stream_core = top_n_host_stats(
        stream_flows_df(spark, SF_DIR), window_duration="1 hour", n=None
    )
    table = run_stream_to_table(stream_core, output_mode="complete")
    got_df = top_k_per_key(
        table,
        key_cols=["window_start_ms", "src_ip", "stat_type"],
        order_col="flows",
        k=10,
        tiebreak_cols=["key"],
    ).select(*batch.columns)
    keys = ["window_start_ms", "src_ip", "stat_type", "key"]
    pd.testing.assert_frame_equal(
        _sorted_pdf(got_df, keys), _sorted_pdf(batch, keys)
    )


def test_stream_pattern_finder_suppression_end_to_end(spark, tmp_path):
    """ST3 end-to-end: pattern_finder anomalies, emitted per micro-batch,
    flow through the applyInPandasWithState suppression twin with the
    distribution slots as sum_cols — parity vs the batch ST3 chain."""
    from stream4flow_spark.apps.pattern_finder import (
        PatternFinderConfig,
        pattern_finder,
    )
    from stream4flow_spark.operators.suppression import suppress_reports

    from pyspark.sql import functions as F

    from stream4flow_spark.gate import _PF_PATTERNS, _PF_THRESH, _PF_WEIGHTS

    cfg = PatternFinderConfig(
        filters=[[{"element": "ipfix_protocolIdentifier", "type": "eq", "value": 6}]],
        vector=[
            {"kind": "expr", "sql": "req_packets"},
            {"kind": "expr", "sql": "req_bytes / 100"},
            {"kind": "expr", "sql": "rsp_packets"},
            {"kind": "expr", "sql": "rsp_bytes / 100"},
        ],
        patterns=_PF_PATTERNS,
        thresholds=_PF_THRESH,
        weights=_PF_WEIGHTS,
        time_difference_ms=500_000,
        anomaly_limit=1,
    )
    sum_cols = ["pairs", "b0", "b1", "b2", "b3", "b4"]

    # handcrafted beacon: each "day" (slice) has one req/rsp biflow whose
    # vector [10, 5, 10, 5] exactly matches p_small (distance 0 -> full
    # b0 mass -> anomaly); p_big stays non-anomalous
    step = 1_000_000
    rows = []
    for d in range(3):
        t0 = d * step
        rows.append(("10.0.0.1", "10.0.0.2", 40000, 80, 6, 10, 500, t0 + 1_000, t0 + 1_500))
        rows.append(("10.0.0.2", "10.0.0.1", 80, 40000, 6, 10, 500, t0 + 2_000, t0 + 2_500))
    flows = spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=[
                "ipfix_sourceIPv4Address",
                "ipfix_destinationIPv4Address",
                "ipfix_sourceTransportPort",
                "ipfix_destinationTransportPort",
                "ipfix_protocolIdentifier",
                "ipfix_packetDeltaCount",
                "ipfix_octetDeltaCount",
                "ipfix_flowStartMilliseconds",
                "ipfix_flowEndMilliseconds",
            ],
        )
    )

    # per-micro-batch alerts: slice flows into the 3 "days" (the
    # reference's batch = one window), run the SAME batch pipeline per
    # slice, stamp the slice time — exactly what a foreachBatch wrapper
    # would emit
    t = "ipfix_flowStartMilliseconds"
    src = tmp_path / "pf_alerts"
    src.mkdir()
    slices = []
    for i in range(3):
        s_lo = i * step
        sl = flows.filter((F.col(t) >= s_lo) & (F.col(t) < s_lo + step))
        alerts = pattern_finder(sl, cfg).filter("anomaly").drop("anomaly")
        alerts = alerts.withColumn("ts_ms", F.lit(s_lo))
        slices.append(alerts)
        alerts.toPandas().to_parquet(str(src / f"b{i}.parquet"), index=False)
    _pin_read_order([src / f"b{i}.parquet" for i in range(3)])

    all_alerts = slices[0]
    for s in slices[1:]:
        all_alerts = all_alerts.unionByName(s)
    keys = ["src_ip", "dst_ip", "pattern"]
    # suppression window covers two slices: slice-0 reports, slice-1 is
    # suppressed into it (sums merge), slice-2 opens report_seq=1
    expect = _sorted_pdf(
        suppress_reports(all_alerts, keys, "ts_ms", int(step * 1.5), sum_cols),
        keys + ["report_seq"],
    )
    # two chains (one per pattern), each: report, suppress, report
    assert list(expect["report_seq"]) == [0, 1, 0, 1]

    stream_alerts = (
        spark.readStream.schema(spark.read.parquet(str(src)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    got_df = suppress_reports_stream(
        stream_alerts, keys, "ts_ms", int(step * 1.5), sum_cols
    )
    got = _sorted_pdf(
        run_stream_to_table(got_df, output_mode="append"), keys + ["report_seq"]
    )
    assert len(expect) > 0
    pd.testing.assert_frame_equal(got[list(expect.columns)], expect)


def _ddos_flows_pdf():
    """Two minutes of 10 s windows: victim 10.0.0.1 has steady in/out
    traffic, then an attack burst in windows 8-9; an unmonitored external
    host receives a bigger burst (must NOT alert — F6 network filter)."""
    rows = []
    v, ext = "10.0.0.1", "198.51.100.9"
    for w in range(12):
        t = w * 10_000
        rows.append((t + 1_000, v, "203.0.113.50", 10))  # outgoing
        rows.append((t + 2_000, "203.0.113.1", v, 10))  # incoming baseline
        rows.append((t + 3_000, "10.0.0.7", ext, 900))  # toward unmonitored
        if w in (8, 9):  # attack burst
            for a in range(5):
                rows.append((t + 4_000 + a, f"203.0.113.{100 + a}", v, 100))
    return pd.DataFrame(
        rows,
        columns=[
            "ipfix_flowStartMilliseconds",
            "ipfix_sourceIPv4Address",
            "ipfix_destinationIPv4Address",
            "ipfix_packetDeltaCount",
        ],
    )


def test_stream_detection_ddos_matches_batch(spark, tmp_path):
    """foreachBatch-compacted baseline (SURVEY §7.2): alerts accumulated
    across micro-batches must equal the batch analytic form."""
    from stream4flow_spark.apps.detection_ddos import detection_ddos
    from stream4flow_spark.streaming.ddos import detection_ddos_stream

    pdf = _ddos_flows_pdf()
    src = tmp_path / "ddosflows"
    src.mkdir()
    # three time-ordered slices -> three micro-batches, one splitting a
    # window across batches (rows 0..14 end mid-window)
    for i, chunk in enumerate([pdf.iloc[:15], pdf.iloc[15:30], pdf.iloc[30:]]):
        chunk.to_parquet(str(src / f"f{i}.parquet"), index=False)
    _pin_read_order([src / f"f{i}.parquet" for i in range(3)])

    params = dict(
        window_duration="10 seconds",
        long_window="60 seconds",
        network_filter=r"^10\.0\.",
        min_ratio=3.0,
        min_packets=50,
    )
    batch_flows = spark.read.parquet(str(src))
    expect = _sorted_pdf(
        detection_ddos(batch_flows, **params), ["window_start_ms", "dst_ip"]
    )
    assert len(expect) >= 1  # the attack window(s)
    assert set(expect["dst_ip"]) == {"10.0.0.1"}  # F6: external never alerts

    stream_flows = (
        spark.readStream.schema(batch_flows.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    got_df = detection_ddos_stream(
        stream_flows,
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        **params,
    )
    got = _sorted_pdf(got_df, ["window_start_ms", "dst_ip"])[list(expect.columns)]
    pd.testing.assert_frame_equal(got, expect)


def test_stream_detection_ddos_gc_bounds_state(spark, tmp_path):
    """Baseline GC: after draining, the compacted state holds only windows
    within the long horizon of the newest window (ST2 analogue)."""
    from stream4flow_spark.streaming.ddos import detection_ddos_stream

    pdf = _ddos_flows_pdf()
    src = tmp_path / "ddosflows2"
    src.mkdir()
    for i, chunk in enumerate([pdf.iloc[:20], pdf.iloc[20:]]):
        chunk.to_parquet(str(src / f"f{i}.parquet"), index=False)
    _pin_read_order([src / "f0.parquet", src / "f1.parquet"])
    batch_schema = spark.read.parquet(str(src)).schema
    stream_flows = (
        spark.readStream.schema(batch_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    state = tmp_path / "state2"
    detection_ddos_stream(
        stream_flows,
        state_dir=str(state),
        checkpoint_dir=str(tmp_path / "ckpt2"),
        window_duration="10 seconds",
        long_window="30 seconds",  # horizon 30s + 2 extra windows
        network_filter=r"^10\.0\.",
        min_ratio=3.0,
        min_packets=50,
        retain_extra_windows=2,
    )
    latest = max(
        (p for p in state.iterdir() if p.name.startswith("v")),
        key=lambda p: (len(p.name), p.name),
    )
    rows = spark.read.parquet(str(latest)).collect()
    windows = {r.window_start_ms for r in rows}
    hi = max(windows)
    assert min(windows) >= hi - (30_000 + 2 * 10_000)
    assert len(windows) <= 6  # 12 windows of data, horizon keeps <= 6


def test_checkpoint_restart_is_exactly_once(spark, tmp_path):
    """Stop a checkpointed streaming query, add new input, restart with
    the SAME checkpoint: already-processed files are not reprocessed and
    the sink holds each record exactly once."""
    import time as _time

    import pandas as pd

    from stream4flow_spark.sources.results import read_results, write_results_stream

    src = tmp_path / "in"
    src.mkdir()
    root = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    B = 1_700_000_000_000

    def arrive(name, n0, n):
        pd.DataFrame(
            {"ts_ms": [B + i * 1000 for i in range(n0, n0 + n)]}
        ).to_parquet(str(src / f"{name}.parquet"))
        _time.sleep(0.2)

    def run_once():
        stream = spark.readStream.schema("ts_ms long").parquet(str(src))
        q = write_results_stream(stream, root, "ts_ms", ck, app_type="t")
        q.processAllAvailable()
        q.stop()

    arrive("f1", 0, 5)
    run_once()
    assert read_results(spark, root).count() == 5

    arrive("f2", 5, 7)
    run_once()  # restart from the same checkpoint
    back = read_results(spark, root)
    assert back.count() == 12  # 5 + 7, nothing duplicated
    assert back.select("ts_ms").distinct().count() == 12

def test_stream_join_then_windowed_agg_matches_batch(spark, tmp_path):
    """Stacked stateful operators: stream-stream interval join feeding a
    windowed count. Batches arrive over three files so the watermark can
    propagate through both operators; finalized windows must match the
    batch join + windowed count."""
    import pandas as pd
    from pyspark.sql import functions as F

    from stream4flow_spark.operators.interval_join import interval_join
    from stream4flow_spark.streaming.joins import stream_interval_join

    B = 1_600_000_000_000
    m = 60_000
    pa, pc = tmp_path / "ans", tmp_path / "con"
    pa.mkdir(), pc.mkdir()

    def write(d, name, rows, ts_col):
        pd.DataFrame(rows, columns=["k", ts_col]).to_parquet(
            str(d / f"{name}.parquet")
        )

    # minute 0 and minute 1 pairs; a final far-future row per side
    # advances the watermark so those windows finalize
    write(pa, "a1", [("k1", B + 10_000), ("k1", B + m + 10_000)], "a_ts")
    write(pc, "c1", [("k1", B + 12_000), ("k1", B + m + 15_000), ("k1", B + m + 20_000)], "c_ts")
    write(pa, "a2", [("k9", B + 120 * m)], "a_ts")
    write(pc, "c2", [("k9", B + 120 * m)], "c_ts")
    _pin_read_order([pa / "a1.parquet", pc / "c1.parquet",
                     pa / "a2.parquet", pc / "c2.parquet"])

    ba = spark.read.parquet(str(pa))
    bc = spark.read.parquet(str(pc))
    expect_all = (
        interval_join(ba, bc, ["k"], "a_ts", "c_ts", 30_000)
        .withColumn("w_ms", F.col("a_ts") - F.col("a_ts") % m)
        .groupBy("w_ms", "k")
        .agg(F.count("*").alias("pairs"))
    )

    sa = (
        spark.readStream.schema("k string, a_ts long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(pa))
    )
    sc = (
        spark.readStream.schema("k string, c_ts long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(pc))
    )
    joined = stream_interval_join(
        sa, sc, ["k"], "a_ts", "c_ts", 30_000, watermark_delay="2 minutes",
        event_time_col="ts",
    )
    agg = (
        joined
        .groupBy(F.window("ts", "1 minute").alias("w"), "k")
        .agg(F.count("*").alias("pairs"))
        .select(F.unix_millis(F.col("w.start")).alias("w_ms"), "k", "pairs")
    )
    got = run_stream_to_table(agg, output_mode="append")
    wins = [r.w_ms for r in got.select("w_ms").distinct().collect()]
    assert wins, "no finalized window emitted"
    expect = expect_all.filter(F.col("w_ms").isin(wins))
    keys = ["w_ms", "k"]
    pd.testing.assert_frame_equal(_sorted_pdf(got, keys), _sorted_pdf(expect, keys))
    # the minute-0 window must be among the finalized ones
    assert B - B % m + 0 in wins or B - B % m in wins


def test_stream_dns_external_resolvers_smoke(spark):
    """The app's streaming form (interval join -> windowed count) builds
    and drains; window finalization across batches is covered by
    test_stream_join_then_windowed_agg_matches_batch."""
    from stream4flow_spark.apps.dns_external_resolvers import (
        dns_external_resolvers_stream,
    )

    df = dns_external_resolvers_stream(
        stream_flows_df(spark, SF_DIR), proximity_ms=604_800_000
    )
    out = run_stream_to_table(df, output_mode="append")
    assert out.count() >= 0


def test_ddos_baseline_batch_retry_is_idempotent(spark, tmp_path):
    """foreachBatch may re-deliver a batch id after a failure: applying the
    same (batch_df, batch_id) twice must not double-count the baseline or
    duplicate alerts."""
    from stream4flow_spark.streaming.ddos import DdosBaselineState

    pdf = _ddos_flows_pdf()
    batch_df = spark.createDataFrame(pdf)
    state = DdosBaselineState(
        spark,
        str(tmp_path / "state"),
        window_duration="10 seconds",
        long_window="60 seconds",
        network_filter=r"^10\.0\.",
        min_ratio=3.0,
        min_packets=50,
    )
    state.apply_batch(batch_df, 0)
    baseline_once = _sorted_pdf(
        spark.read.parquet(state.baseline_path), ["window_start_ms", "host"]
    )
    alerts_once = _sorted_pdf(state.alerts(), ["window_start_ms", "dst_ip"])

    # retried delivery of the same batch id: full no-op
    state.apply_batch(batch_df, 0)
    baseline_twice = _sorted_pdf(
        spark.read.parquet(state.baseline_path), ["window_start_ms", "host"]
    )
    alerts_twice = _sorted_pdf(state.alerts(), ["window_start_ms", "dst_ip"])
    pd.testing.assert_frame_equal(baseline_twice, baseline_once)
    pd.testing.assert_frame_equal(alerts_twice, alerts_once)


def test_ddos_baseline_restart_recovers_from_state_dir(spark, tmp_path):
    """A fresh instance over the same state_dir (= a restarted driver whose
    checkpoint skips processed files) must resume from the committed
    manifest instead of silently starting empty, and end states must match
    an uninterrupted run."""
    from stream4flow_spark.apps.detection_ddos import detection_ddos
    from stream4flow_spark.streaming.ddos import DdosBaselineState

    pdf = _ddos_flows_pdf()
    params = dict(
        window_duration="10 seconds",
        long_window="60 seconds",
        network_filter=r"^10\.0\.",
        min_ratio=3.0,
        min_packets=50,
    )
    first, second = pdf.iloc[:30], pdf.iloc[30:]

    # session 1 applies batch 0, then "crashes"
    s1 = DdosBaselineState(spark, str(tmp_path / "state"), **params)
    s1.apply_batch(spark.createDataFrame(first), 0)
    assert s1.batch_id == 0

    # session 2 recovers the pointer and continues with batch 1
    s2 = DdosBaselineState(spark, str(tmp_path / "state"), **params)
    assert s2.batch_id == 0
    assert s2.baseline_path == s1.baseline_path
    assert s2.emitted_until == s1.emitted_until
    s2.apply_batch(spark.createDataFrame(second), 1)

    expect = _sorted_pdf(
        detection_ddos(spark.createDataFrame(pdf), **params),
        ["window_start_ms", "dst_ip"],
    )
    got = _sorted_pdf(s2.alerts(), ["window_start_ms", "dst_ip"])[
        list(expect.columns)
    ]
    pd.testing.assert_frame_equal(got, expect)


def test_ddos_snapshot_gc_keeps_single_snapshot(spark, tmp_path):
    """Superseded v* snapshot dirs are deleted after each commit — disk
    stays O(1) snapshots instead of growing per batch."""
    from stream4flow_spark.streaming.ddos import DdosBaselineState

    pdf = _ddos_flows_pdf()
    state_dir = tmp_path / "state"
    state = DdosBaselineState(
        spark,
        str(state_dir),
        window_duration="10 seconds",
        long_window="60 seconds",
        network_filter=r"^10\.0\.",
        min_ratio=3.0,
        min_packets=50,
    )
    for i, lo in enumerate(range(0, len(pdf), 10)):
        state.apply_batch(spark.createDataFrame(pdf.iloc[lo : lo + 10]), i)
    snapshots = [p.name for p in state_dir.iterdir() if p.name.startswith("v")]
    manifests = list((state_dir / "manifest").iterdir())
    assert len(snapshots) == 1
    assert len(manifests) == 1


def test_stream_ingest_dedup_matches_batch_exact_dedup(spark, tmp_path):
    """Dedup-on-arrival: the streamed keep-first-per-fingerprint output
    must cover exactly the batch exact_dedup groups (one survivor per
    distinct text), with state bounded by the watermark horizon."""
    from stream4flow_spark.llmdata.dedup import exact_dedup
    from stream4flow_spark.sources.tables import load_table
    from stream4flow_spark.streaming.llmingest import dedup_documents_stream

    import pyspark.sql.functions as F

    docs = load_table(spark, SF_DIR, "documents")
    expect = exact_dedup(docs)  # fp -> keeper/min-id, group_size

    src = tmp_path / "docs"
    src.mkdir()
    pdf = docs.toPandas().sort_values("doc_id")
    half = len(pdf) // 2
    pdf.iloc[:half].to_parquet(str(src / "f0.parquet"), index=False)
    pdf.iloc[half:].to_parquet(str(src / "f1.parquet"), index=False)
    _pin_read_order([src / "f0.parquet", src / "f1.parquet"])

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    # deterministic ingest time: doc_id seconds after a realistic epoch
    # base (ts at epoch 0 sits on the initial watermark floor and is
    # dropped as late) — arrival order == id order, so the first arrival
    # is the min id, matching exact_dedup's keeper choice
    deduped = dedup_documents_stream(
        stream,
        ingest_ts=F.timestamp_millis(
            F.lit(1_600_000_000_000) + F.col("doc_id") * 1000
        ),
    )
    got = run_stream_to_table(deduped, output_mode="append")

    got_fp = {r.fp: r.doc_id for r in got.select("fp", "doc_id").collect()}
    want_fp = {r.fp: r.keeper_id for r in expect.collect()}
    assert got_fp == want_fp  # one survivor per distinct text, min-id keeper


def test_stream_ingest_dedup_late_duplicate_reemits_past_horizon(spark, tmp_path):
    """The documented state-bound trade: a duplicate arriving within the
    watermark horizon is suppressed; one arriving later than the horizon
    (its fingerprint already evicted) is re-emitted — the downstream
    batch exact_dedup pass is the backstop."""
    import pyspark.sql.functions as F

    from stream4flow_spark.streaming.llmingest import dedup_documents_stream

    B = 1_600_000_000_000
    src = tmp_path / "docs"
    src.mkdir()
    # NB: the watermark computed from batch N's data takes effect in
    # batch N+2 (one batch to compute, one to apply) — the spacer row
    # makes doc 3's batch run under the watermark advanced by doc 2, so
    # doc 0's fingerprint is evicted by then.
    rows = [
        (0, "same text", B),                     # original
        (1, "same text", B + 30_000),            # dup inside 1-min horizon
        (2, "other text", B + 10 * 60_000),      # advances the watermark
        (9, "spacer text", B + 10 * 60_000 + 1), # lets the watermark apply
        (3, "same text", B + 11 * 60_000),       # dup PAST the horizon
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "ts_ms"])
    # one file per row, processed in order -> watermark advances between
    for i in range(len(pdf)):
        pdf.iloc[[i]].to_parquet(str(src / f"f{i}.parquet"), index=False)
    _pin_read_order([src / f"f{i}.parquet" for i in range(len(pdf))])

    schema = "doc_id long, text string, ts_ms long"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    deduped = dedup_documents_stream(
        stream,
        ingest_ts=F.timestamp_millis(F.col("ts_ms")),
        horizon="1 minute",
    )
    got = sorted(
        r.doc_id
        for r in run_stream_to_table(deduped, output_mode="append").collect()
    )
    # 0 kept, 1 suppressed (inside horizon), 2+spacer kept, 3 re-emitted
    assert got == [0, 2, 3, 9]


def test_stream_suppression_restart_recovers_state_from_checkpoint(
    spark, tmp_path
):
    """Kill/restart for the ST1 twin (r04 verdict item 8): a SECOND
    streaming query over the same checkpoint must resume the suppression
    chain from the applyInPandasWithState state store — report_seq keeps
    counting and the pending sums carried into the restart are credited
    to the first post-restart report. Without recovery the restarted run
    would re-report immediately at seq=0."""
    from stream4flow_spark.operators.suppression import suppress_reports

    src = tmp_path / "alerts_restart"
    src.mkdir()
    out = str(tmp_path / "reports")
    ck = str(tmp_path / "ck_suppress")

    # run 1: t=0..40s; chain with window 25s reports at t=0 and t=30,
    # leaving next_report_at=55s, seq=2, pending=1.0 (the t=40 alert)
    p1 = pd.DataFrame(
        [("k", t * 10_000, 1.0) for t in range(5)],
        columns=["key", "ts_ms", "flows"],
    )
    # run 2 (after restart): t=50..90s; t=50 must fold into pending
    # (50 < 55), t=60 reports with carried pending credited
    p2 = pd.DataFrame(
        [("k", 50_000 + t * 10_000, 1.0) for t in range(5)],
        columns=["key", "ts_ms", "flows"],
    )
    schema = "key string, ts_ms long, flows double"

    def run_once():
        stream_alerts = spark.readStream.schema(schema).parquet(f"{src}/f*")
        got = suppress_reports_stream(
            stream_alerts, ["key"], "ts_ms", 25_000, ["flows"]
        )
        q = (
            got.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame(p1).coalesce(1).write.parquet(str(src / "f1"))
    run_once()
    first = spark.read.parquet(out).toPandas()
    assert sorted(first["report_seq"]) == [0, 1]

    spark.createDataFrame(p2).coalesce(1).write.parquet(str(src / "f2"))
    run_once()  # fresh query, same checkpoint = driver restart

    got = _sorted_pdf(spark.read.parquet(out), ["key", "report_seq"])
    batch_alerts = spark.read.parquet(f"{src}/f*")
    expect = _sorted_pdf(
        suppress_reports(batch_alerts, ["key"], "ts_ms", 25_000, ["flows"]),
        ["key", "report_seq"],
    )
    pd.testing.assert_frame_equal(got[expect.columns], expect)
    # the restarted run continued the chain, not restarted it
    assert sorted(got["report_seq"]) == [0, 1, 2, 3]


def test_stream_asof_enrich_matches_batch_asof_join(spark, tmp_path):
    """Single-batch parity: with both sides in one micro-batch the
    streaming as-of enrichment must equal the batch as-of join (the
    in-batch kernel processes rows in event-time order)."""
    from stream4flow_spark.operators.asof_join import asof_join
    from stream4flow_spark.sources.tables import load_table
    from stream4flow_spark.streaming.asof import asof_enrich_stream

    import pyspark.sql.functions as F

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "event_type", F.unix_millis("ts").alias("t")
    )
    clicks_b = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", F.col("t").alias("lt")
    )
    purch_b = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("t").alias("rt"), F.col("event_id").alias("p_id")
    )
    want = {
        (r.event_id, r.rt, r.p_id)
        for r in asof_join(
            clicks_b, purch_b, ["user_id"], "lt", "rt", how="left"
        ).collect()
    }

    src = tmp_path / "ev"
    src.mkdir()
    ev.toPandas().to_parquet(str(src / "all.parquet"), index=False)
    stream = spark.readStream.schema(ev.schema).parquet(str(src))
    clicks_s = stream.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", F.col("t").alias("lt")
    )
    purch_s = stream.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("t").alias("rt"), F.col("event_id").alias("p_id")
    )
    got_df = run_stream_to_table(
        asof_enrich_stream(
            clicks_s, purch_s, ["user_id"], "lt", "rt", how="left"
        ),
        output_mode="append",
    )
    got = {(r.event_id, r.rt, r.p_id) for r in got_df.collect()}
    assert got == want


def test_stream_asof_enrich_matches_from_cross_batch_state(spark, tmp_path):
    """Rights in batch 1, lefts in batch 2: the stored latest-right state
    must enrich later batches; a left older than the stored right stays
    unmatched (the documented O(1)-state trade)."""
    from stream4flow_spark.streaming.asof import asof_enrich_stream

    import pandas as pd

    src = tmp_path / "s"
    src.mkdir()
    b1 = pd.DataFrame(
        {"k": ["a", "a"], "side": ["r", "r"], "id": [0, 0],
         "t": [1000, 2000], "v": [1.0, 2.0]}
    )
    b2 = pd.DataFrame(
        {"k": ["a", "a", "a"], "side": ["l", "l", "l"], "id": [1, 2, 3],
         "t": [1500, 2500, 500], "v": [0.0, 0.0, 0.0]}
    )
    b1.to_parquet(str(src / "f0.parquet"), index=False)
    b2.to_parquet(str(src / "f1.parquet"), index=False)
    _pin_read_order([src / "f0.parquet", src / "f1.parquet"])

    import pyspark.sql.functions as F

    stream = (
        spark.readStream.schema("k string, side string, id long, t long, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    lefts = stream.filter(F.col("side") == "l").select("k", "id", F.col("t").alias("lt"))
    rights = stream.filter(F.col("side") == "r").select(
        "k", F.col("t").alias("rt"), F.col("v").alias("rv")
    )
    got = run_stream_to_table(
        asof_enrich_stream(lefts, rights, ["k"], "lt", "rt", how="left"),
        output_mode="append",
    )
    rows = {r.id: (r.rt, r.rv) for r in got.collect()}
    # state after batch 1 = (2000, 2.0): the 2500 left matches it; the
    # 1500 left precedes it (older right 1000 was NOT kept -> unmatched);
    # the 500 left precedes everything
    assert rows == {
        1: (None, None),
        2: (2000, 2.0),
        3: (None, None),
    }


def test_stream_sessionization_matches_batch_lag_sessions(spark, tmp_path):
    """Native session_window streaming sessions must equal the batch
    lag-based sessionizer's (user, start, n_events, duration) set on the
    events table (no exact-gap boundary collisions in the data — the
    two formulations differ only when a gap equals the threshold
    exactly)."""
    from stream4flow_spark.registry import REGISTRY, queries
    from stream4flow_spark.sources.tables import load_table
    from stream4flow_spark.streaming.sessions import sessionize_stream

    queries()
    want = {
        (r.user_id, r.session_start_ms, r.n_events, r.duration_ms)
        for r in REGISTRY["rel_event_sessionization"]
        .fn(spark, SF_DIR)
        .collect()
    }

    import pyspark.sql.functions as F

    # ship ts as unix-ms longs (pandas parquet writes TIMESTAMP(NANOS),
    # which Spark 4 won't read back as a timestamp column)
    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", F.unix_millis("ts").alias("tms")
    )
    src = tmp_path / "ev"
    src.mkdir()
    pdf = ev.toPandas().sort_values("tms")
    half = len(pdf) // 2
    pdf.iloc[:half].to_parquet(str(src / "f0.parquet"), index=False)
    pdf.iloc[half:].to_parquet(str(src / "f1.parquet"), index=False)
    # sentinel far past every real session: the event-time watermark is
    # global, so one future row lets the final no-data micro-batch close
    # (and emit) the last real session of every user
    import pandas as pd

    pd.DataFrame(
        {"user_id": [-1], "tms": [int(pdf["tms"].max()) + 86_400_000]}
    ).to_parquet(str(src / "f2.parquet"), index=False)
    _pin_read_order([src / f"f{i}.parquet" for i in range(3)])
    stream = (
        spark.readStream.schema("user_id long, tms long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .select("user_id", F.timestamp_millis(F.col("tms")).alias("ts"))
    )
    sessions = sessionize_stream(
        stream, ["user_id"], "ts", gap="30 minutes", watermark="0 seconds"
    )
    got_df = run_stream_to_table(sessions, output_mode="append")
    got = {
        (r.user_id, r.session_start_ms, r.n_events, r.duration_ms)
        for r in got_df.collect()
        if r.user_id >= 0  # drop the sentinel's own session
    }
    assert got == want


def test_stream_asof_enrich_restart_recovers_latest_state(spark, tmp_path):
    """Kill/restart for the as-of twin: a SECOND query over the same
    checkpoint must recover the stored latest-right state — a left event
    arriving after the restart matches the right row ingested BEFORE the
    restart. Without recovery it would go unmatched."""
    from stream4flow_spark.streaming.asof import asof_enrich_stream

    import pandas as pd
    import pyspark.sql.functions as F

    src = tmp_path / "s"
    src.mkdir()
    out = str(tmp_path / "enriched")
    ck = str(tmp_path / "ck_asof")
    schema = "k string, side string, id long, t long, v double"

    def run_once():
        stream = spark.readStream.schema(schema).parquet(f"{src}/f*")
        lefts = stream.filter(F.col("side") == "l").select(
            "k", "id", F.col("t").alias("lt")
        )
        rights = stream.filter(F.col("side") == "r").select(
            "k", F.col("t").alias("rt"), F.col("v").alias("rv")
        )
        q = (
            asof_enrich_stream(lefts, rights, ["k"], "lt", "rt", how="left")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    pd.DataFrame(
        {"k": ["a"], "side": ["r"], "id": [0], "t": [1000], "v": [7.5]}
    ).to_parquet(str(src / "f1"), index=False)
    run_once()

    pd.DataFrame(
        {"k": ["a"], "side": ["l"], "id": [1], "t": [2000], "v": [0.0]}
    ).to_parquet(str(src / "f2"), index=False)
    run_once()  # fresh query, same checkpoint = driver restart

    rows = {r.id: (r.rt, r.rv) for r in spark.read.parquet(out).collect()}
    assert rows == {1: (1000, 7.5)}


def test_socket_source_parses_live_flow_stream(spark):
    """S1 stand-in over a REAL network hop: a local TCP server streams
    reference-style dotted-key JSON lines; the socket source + the same
    S2 parse used by the Kafka path must deliver typed rows. (The file
    harness proves the pipelines; this proves live-network ingest
    end-to-end in a brokerless container.)"""
    import json
    import socket
    import socketserver
    import threading
    import time

    lines = [
        json.dumps(
            {
                "ipfix.sourceIPv4Address": f"10.0.0.{i}",
                "ipfix.protocolIdentifier": 6,
                "ipfix.packetDeltaCount": i,
            }
        )
        for i in range(1, 6)
    ]

    class Handler(socketserver.BaseRequestHandler):
        def handle(self):
            self.request.sendall(("\n".join(lines) + "\n").encode())
            time.sleep(8)  # keep the connection open while Spark polls

    srv = socketserver.ThreadingTCPServer(("127.0.0.1", 0), Handler)
    srv.daemon_threads = True
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        from stream4flow_spark.streaming.kafka import read_flow_socket

        flows = read_flow_socket(spark, "127.0.0.1", port)
        q = (
            flows.writeStream.format("memory")
            .queryName("socket_flows")
            .start()
        )
        try:
            deadline = time.time() + 30
            while time.time() < deadline:
                got = spark.sql(
                    "SELECT ipfix_sourceIPv4Address AS ip,"
                    " ipfix_packetDeltaCount AS pkts FROM socket_flows"
                ).collect()
                if len(got) >= 5:
                    break
                time.sleep(0.5)
            assert len(got) >= 5, got
            by_ip = {r.ip: r.pkts for r in got}
            assert by_ip["10.0.0.3"] == 3
        finally:
            q.stop()
    finally:
        srv.shutdown()
        srv.server_close()


def test_observed_metrics_report_quarantine_rate(spark, tmp_path):
    """`observe()` rides the streaming query at zero extra cost and
    surfaces per-batch data-quality counters (rows, corrupt rows) in
    QueryProgress — the production hook an ingest monitor alerts on."""
    import json as _json
    import time

    from pyspark.sql import functions as F

    from stream4flow_spark.streaming.kafka import (
        parse_flow_json_with_quarantine,
    )

    src = tmp_path / "in"
    src.mkdir()
    lines = [
        _json.dumps({"ipfix.sourceIPv4Address": "10.0.0.1"}),
        "BROKEN {",
        _json.dumps({"ipfix.sourceIPv4Address": "10.0.0.2"}),
    ]
    (src / "batch0.txt").write_text("\n".join(lines) + "\n")

    raw = spark.readStream.format("text").load(str(src)).withColumnRenamed(
        "value", "value"
    )
    flows = parse_flow_json_with_quarantine(raw).observe(
        "ingest_quality",
        F.count(F.lit(1)).alias("rows"),
        F.count("_corrupt_record").alias("corrupt_rows"),
    )
    q = (
        flows.writeStream.format("memory")
        .queryName("observed_flows")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    progress = [p for p in q.recentProgress if p.get("observedMetrics")]
    assert progress, "no observedMetrics in any progress event"
    m = progress[-1]["observedMetrics"]["ingest_quality"]
    assert m["rows"] == 3 and m["corrupt_rows"] == 1, m


def test_learned_quality_filter_scores_streaming_docs(spark, tmp_path):
    """The weak-label quality model is map-only, so the SAME fitted
    pipeline scores documents in-stream (train batch, filter on ingest —
    the production deployment shape)."""
    import time

    from pyspark.sql import functions as F

    from stream4flow_spark.llmdata.quality_model import (
        score_quality,
        train_quality_classifier,
    )

    rows = [
        (i, ("good insight method " if i % 2 == 0 else "spam click buy ") * 5,
         1 if i % 2 == 0 else 0)
        for i in range(80)
    ]
    batch = spark.createDataFrame(rows, "doc_id long, text string, label int")
    model = train_quality_classifier(batch, "label", max_iter=10)

    src = tmp_path / "docs"
    src.mkdir()
    batch.select("doc_id", "text").coalesce(1).write.json(str(src / "b0"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .json(str(src / "b0"))
    )
    scored = score_quality(model, stream, id_cols=["doc_id"])
    q = (
        scored.writeStream.format("memory")
        .queryName("stream_scored")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = spark.sql("SELECT * FROM stream_scored").collect()
    assert len(got) == 80
    by_id = {r.doc_id: r.quality_prob for r in got}
    assert all(0.0 <= p <= 1.0 for p in by_id.values())
    # the planted split survives the stream boundary
    assert sum(by_id[i] > 0.5 for i in range(0, 80, 2)) >= 36
    assert sum(by_id[i] < 0.5 for i in range(1, 80, 2)) >= 36


def test_stream_prepare_corpus_matches_batch_pipeline(spark, tmp_path):
    """VERDICT r5 item 3: the end-to-end corpus build, streamed. The
    map-only stages (scrub, quality floors, fingerprint) run the SAME
    code on the readStream frame; dedup is the watermark-bounded
    keep-first; decontamination + split apply per micro-batch (exact —
    per-document decisions against the static benchmark). With id-ordered
    arrival and all duplicates inside the horizon, the streamed output
    must equal batch prepare_corpus row-for-row."""
    import pyspark.sql.functions as F

    from stream4flow_spark.llmdata.pipeline import prepare_corpus
    from stream4flow_spark.sources.tables import load_table
    from stream4flow_spark.streaming.corpus import prepare_corpus_stream

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "lang", "text"
    )
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)

    want = {
        (r.doc_id, r.lang, r.n_tokens, r.split)
        for r in prepare_corpus(corpus, bench, hash_grams=False).collect()
    }

    src = tmp_path / "docs"
    src.mkdir()
    pdf = corpus.toPandas().sort_values("doc_id")
    third = len(pdf) // 3
    for i in range(3):
        chunk = pdf.iloc[i * third : None if i == 2 else (i + 1) * third]
        chunk.to_parquet(str(src / f"f{i}.parquet"), index=False)
    _pin_read_order([src / f"f{i}.parquet" for i in range(3)])

    stream = (
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = prepare_corpus_stream(
        stream,
        bench,
        # id-ordered deterministic arrival, epoch-offset so nothing sits
        # on the initial watermark floor (same trick as the ingest test)
        ingest_ts=F.timestamp_millis(
            F.lit(1_600_000_000_000) + F.col("doc_id") * 1000
        ),
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        hash_grams=False,
    )
    q.awaitTermination(120)

    got_df = spark.read.parquet(str(tmp_path / "out"))
    assert set(got_df.columns) == {"doc_id", "lang", "n_tokens", "split"}
    got = {
        (r.doc_id, r.lang, r.n_tokens, r.split) for r in got_df.collect()
    }
    assert got == want


def test_flowgen_multi_app_kill_restart_soak(spark, tmp_path):
    """VERDICT r5 item 8: one soak over the zero-input pipeline — flowgen
    generates the corpus, three heterogeneous streaming twins consume the
    same arrival directory (exactly-once results sink, arbitrary-state
    suppression, foreachBatch-compacted DDoS baseline), and the whole
    fleet is killed and restarted between every arrival wave (plus one
    restart with NO new data). Each app's accumulated output must equal
    its batch twin over the full input — restarts must neither lose nor
    duplicate anything."""
    import pandas as pd
    import pyspark.sql.functions as F

    from stream4flow_spark.apps.detection_ddos import detection_ddos
    from stream4flow_spark.operators.suppression import suppress_reports
    from stream4flow_spark.schema import DST_IP4, PACKETS, T_START
    from stream4flow_spark.sources.flowgen import FlowGenDataSource
    from stream4flow_spark.sources.results import (
        read_results,
        write_results_stream,
    )
    from stream4flow_spark.streaming.ddos import detection_ddos_stream
    from stream4flow_spark.streaming.state import suppress_reports_stream

    from stream4flow_spark.schema import SRC_IP4, SRC_PORT, DST_PORT

    spark.dataSource.register(FlowGenDataSource)
    gen = (
        spark.read.format("flowgen")
        .option("rows", 1500)
        .option("partitions", 8)
        .option("span_ms", 600_000)
        .load()
    )
    # flowgen traffic is unidirectional (10.* -> 192.168.*); the DDoS
    # score needs monitored hosts with BOTH directions (out != 0), so
    # union a mirrored return-traffic copy, offset 100 ms to keep
    # T_START a unique total order
    mirrored = (
        gen.withColumn("__src", F.col(SRC_IP4))
        .withColumn(SRC_IP4, F.col(DST_IP4))
        .withColumn(DST_IP4, F.col("__src"))
        .drop("__src")
        .withColumn("__sp", F.col(SRC_PORT))
        .withColumn(SRC_PORT, F.col(DST_PORT))
        .withColumn(DST_PORT, F.col("__sp"))
        .drop("__sp")
        .withColumn(T_START, F.col(T_START) + 100)
    )
    flows = gen.unionByName(mirrored)
    # write the time-ordered input ONCE through Spark (T_START is unique
    # per row by the generator's construction), then slice arrival waves
    # with pyarrow so the all-null typed columns keep their schema (a
    # pandas round-trip would re-infer them)
    import pyarrow.parquet as pq

    full_dir = tmp_path / "full"
    flows.orderBy(T_START).coalesce(1).write.parquet(str(full_dir))
    table = pq.read_table(str(full_dir))
    n_rows = table.num_rows
    n_waves = 4
    per = n_rows // n_waves

    src = tmp_path / "arrivals"
    src.mkdir()
    ddos_params = dict(
        window_duration="60 seconds",
        long_window="300 seconds",
        network_filter=r"^192\.168\.",
        min_ratio=0.0,
        min_packets=0,
    )

    def alerts_of(df):
        return df.select(
            F.col(DST_IP4).alias("key"),
            F.col(T_START).alias("ts_ms"),
            F.col(PACKETS).cast("double").alias("flows"),
        ).filter(F.col("key").isNotNull())

    def run_fleet():
        """Start all three twins against the arrival dir, drain, kill."""
        def file_stream():
            return (
                spark.readStream.schema(flows.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src))
            )

        q_ingest = write_results_stream(
            file_stream().select(
                F.col(T_START).alias("ts_ms"), DST_IP4, PACKETS
            ),
            str(tmp_path / "sink_ingest"),
            "ts_ms",
            str(tmp_path / "ck_ingest"),
            app_type="soak",
        )
        q_supp = (
            suppress_reports_stream(
                alerts_of(file_stream()), ["key"], "ts_ms", 120_000, ["flows"]
            )
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "sink_supp"))
            .option("checkpointLocation", str(tmp_path / "ck_supp"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        for q in (q_ingest, q_supp):
            q.processAllAvailable()
            q.stop()
        # drains its own availableNow query internally (same checkpoint
        # + state dirs each cycle = the restart)
        return detection_ddos_stream(
            file_stream(),
            state_dir=str(tmp_path / "ddos_state"),
            checkpoint_dir=str(tmp_path / "ck_ddos"),
            **ddos_params,
        )

    for wave in range(n_waves):
        start = wave * per
        length = n_rows - start if wave == n_waves - 1 else per
        pq.write_table(
            table.slice(start, length), str(src / f"wave{wave}.parquet")
        )
        ddos_alerts = run_fleet()
    ddos_alerts = run_fleet()  # restart with nothing new: must be a no-op

    full = spark.read.parquet(str(src))

    # 1) exactly-once ingest: every flow exactly once despite 5 restarts
    got_ingest = read_results(spark, str(tmp_path / "sink_ingest"))
    assert got_ingest.count() == n_rows
    assert (
        got_ingest.select("ts_ms", DST_IP4, PACKETS).distinct().count()
        == full.select(T_START, DST_IP4, PACKETS).distinct().count()
    )

    # 2) suppression chain == batch over the full alert sequence
    expect_supp = _sorted_pdf(
        suppress_reports(alerts_of(full), ["key"], "ts_ms", 120_000, ["flows"]),
        ["key", "report_seq"],
    )
    got_supp = _sorted_pdf(
        spark.read.parquet(str(tmp_path / "sink_supp")),
        ["key", "report_seq"],
    )[list(expect_supp.columns)]
    pd.testing.assert_frame_equal(got_supp, expect_supp)

    # 3) ddos alerts == batch analytic form over the full input
    expect_ddos = _sorted_pdf(
        detection_ddos(full, **ddos_params), ["window_start_ms", "dst_ip"]
    )
    assert len(expect_ddos) > 50  # the soak actually exercised windows
    got_ddos = _sorted_pdf(ddos_alerts, ["window_start_ms", "dst_ip"])[
        list(expect_ddos.columns)
    ]
    pd.testing.assert_frame_equal(got_ddos, expect_ddos)


def test_stream_neardup_screen_flags_arrivals_against_growing_index(
    spark, tmp_path
):
    """Near-dup-on-arrival: docs stream in waves; each wave screens
    against the index built from EARLIER waves only (signature-estimated
    Jaccard), non-dup arrivals join the index, and a foreachBatch
    restart continues from the on-disk index. First-wave docs can never
    be flagged; a later near-copy must flag with its original as best
    match; unrelated docs must pass clean."""
    import pandas as pd

    from stream4flow_spark.streaming.llmingest import NeardupIndexState

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "today in the bright morning sun")
    near = ("the quick brown fox jumps over the lazy dog again and again "
            "tomorrow in the bright morning sun")
    other = ("completely different words appear in this sentence about "
             "spark engines and distributed execution plans")
    other2 = ("yet another unrelated document discussing parquet files "
              "columnar storage and predicate pushdown at scale")

    src = tmp_path / "docs"
    src.mkdir()
    waves = [
        [(0, base), (1, other)],
        [(2, near), (3, other2)],   # 2 ~ 0; 3 clean
    ]
    schema = "doc_id long, text string"

    def arrive(i):
        pd.DataFrame(waves[i], columns=["doc_id", "text"]).to_parquet(
            str(src / f"w{i}.parquet"), index=False
        )

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        return NeardupIndexState(
            spark,
            str(tmp_path / "index"),
            threshold=0.5,
        ).drain(stream, str(tmp_path / "ckpt"))

    arrive(0)
    st = run()
    assert st.alerts == []  # nothing indexed before wave 0

    arrive(1)
    st = run()  # RESTART: index must have survived on disk
    flagged = {r.id: (r.best_match_id, r.est_jaccard) for r in st.alerts}
    assert set(flagged) == {2}
    assert flagged[2][0] == 0
    assert flagged[2][1] >= 0.5

    # the flagged dup must NOT have joined the index: a third wave with
    # another copy still matches the ORIGINAL (lowest-id chain)
    waves.append([(4, near)])
    arrive(2)
    st = run()
    flagged = {r.id: r.best_match_id for r in st.alerts}
    # alerts are DURABLE: the restarted run reads back wave 1's alert
    # (2 -> 0) alongside the new wave's (4 -> 0)
    assert flagged == {2: 0, 4: 0}


def test_stream_neardup_screen_flags_within_batch_arrivals(spark, tmp_path):
    """ADVICE r6: two near-copies arriving in the SAME micro-batch must
    not both slip into the index — the later id flags against the
    earlier within the batch, only the keeper is indexed — and a
    redelivered batch REPLACES its alerts instead of double-counting
    them."""
    import pandas as pd

    from stream4flow_spark.streaming.llmingest import NeardupIndexState

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "today in the bright morning sun")
    near = base.replace("today", "tomorrow")
    other = ("completely different words appear in this sentence about "
             "spark engines and distributed execution plans")

    src = tmp_path / "docs"
    src.mkdir()
    # ONE file = ONE micro-batch holding both copies
    pd.DataFrame(
        [(0, base), (1, near), (2, other)], columns=["doc_id", "text"]
    ).to_parquet(str(src / "w0.parquet"), index=False)

    def run():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        return NeardupIndexState(
            spark,
            str(tmp_path / "index"),
            threshold=0.5,
        ).drain(stream, str(tmp_path / "ckpt"))

    st = run()
    flagged = {r.id: r.best_match_id for r in st.alerts}
    assert flagged == {1: 0}  # later id flags against earlier, same batch

    # the flagged copy must NOT have joined the index: a later arrival
    # of the same text still matches the ORIGINAL
    pd.DataFrame([(3, near)], columns=["doc_id", "text"]).to_parquet(
        str(src / "w1.parquet"), index=False
    )
    st = run()
    flagged = {r.id: r.best_match_id for r in st.alerts}
    # durable alerts: batch 0's intra-batch flag (1 -> 0) persists
    # across the restart alongside the new arrival's (3 -> 0)
    assert flagged == {1: 0, 3: 0}

    # foreachBatch redelivery: re-applying the same batch_id replaces its
    # alert snapshot (and its index dirs) — totals don't double
    docs = spark.createDataFrame([(4, near)], "doc_id long, text string")
    st.apply_batch(docs, 99)
    once = [(r.id, r.best_match_id) for r in st.alerts]
    st.apply_batch(docs, 99)
    assert [(r.id, r.best_match_id) for r in st.alerts] == once
    assert (4, 0) in once


def test_stream_semantic_screen_matches_batch_incremental(spark, tmp_path):
    """Semantic near-dup-on-arrival (r06 verdict item 4): vectors stream
    in waves against a growing on-disk sign-LSH bucket index; a wave's
    flags must equal the BATCH incremental_semantic_neardup of that wave
    against the corpus indexed so far (same planes/tables/threshold),
    the flagged vector must not join the index, and a foreachBatch
    restart continues from the on-disk index."""
    import pandas as pd

    from stream4flow_spark.llmdata.simsearch import (
        incremental_semantic_neardup,
    )
    from stream4flow_spark.streaming.llmingest import SemanticIndexState

    dim, planes, tables, thr = 8, 2, 8, 0.5
    v0 = [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    v1 = [0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    v2 = [0.9, 0.1, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]   # ~v0 (cos .994)
    v3 = [0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    waves = [[(0, v0), (1, v1)], [(2, v2), (3, v3)]]
    schema = "vec_id long, embedding array<double>"

    src = tmp_path / "vecs"
    src.mkdir()

    def arrive(i):
        pd.DataFrame(waves[i], columns=["vec_id", "embedding"]).to_parquet(
            str(src / f"w{i}.parquet"), index=False
        )

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        return SemanticIndexState(
            spark,
            str(tmp_path / "index"),
            num_planes=planes,
            dim=dim,
            num_tables=tables,
            threshold=thr,
        ).drain(stream, str(tmp_path / "ckpt"))

    arrive(0)
    st = run()
    assert st.alerts == []  # wave 0 is orthogonal — nothing flags

    arrive(1)
    st = run()  # RESTART: index must have survived on disk
    got = {r.id: (r.best_match_id, r.cos) for r in st.alerts}

    corpus = spark.createDataFrame(waves[0], schema)
    delta = spark.createDataFrame(waves[1], schema)
    want = {
        r.vec_id: (r.best_match_id, r.best_cos)
        for r in incremental_semantic_neardup(
            corpus, delta, threshold=thr, num_planes=planes, dim=dim,
            num_tables=tables,
        ).collect()
        if r.is_near_dup
    }
    assert got == want and set(got) == {2}

    # the flagged vector must NOT have joined the index: another copy
    # still matches the ORIGINAL
    waves.append([(4, v2)])
    arrive(2)
    st = run()
    got = {r.id: r.best_match_id for r in st.alerts}
    # durable alerts: wave 1's flag (2 -> 0) survives the restart
    assert got == {2: 0, 4: 0}


def test_stream_chunk_documents_matches_batch(spark, tmp_path):
    """RAG chunk-on-arrival: llm_chunk_documents' stride/slice/explode
    pipeline is pure map-side Column work, so the SAME logic must stream
    unchanged (readStream -> append sink) and emit exactly the batch
    chunks over the same files."""
    from stream4flow_spark.registry import REGISTRY, queries

    queries()
    fn = REGISTRY["llm_chunk_documents"].fn
    want = {
        (r.doc_id, r.chunk_idx, r.start_token, r.n_chunk_tokens, r.chunk_text)
        for r in fn(spark, SF_DIR).collect()
    }

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    src = tmp_path / "docs"
    src.mkdir()
    pdf = docs.toPandas()
    half = len(pdf) // 2
    pdf.iloc[:half].to_parquet(str(src / "f0.parquet"), index=False)
    pdf.iloc[half:].to_parquet(str(src / "f1.parquet"), index=False)
    _pin_read_order([src / "f0.parquet", src / "f1.parquet"])

    # the SAME operator (no logic copy): chunk_documents is pure
    # map-side Column work, so it applies to the streaming frame as-is
    from stream4flow_spark.llmdata.textstats import chunk_documents

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    streamed = chunk_documents(stream, size=64, stride=48)
    got_df = run_stream_to_table(streamed, output_mode="append")
    got = {
        (r.doc_id, r.chunk_idx, r.start_token, r.n_chunk_tokens, r.chunk_text)
        for r in got_df.collect()
    }
    assert got == want


def test_neardup_index_compaction_preserves_screening(spark, tmp_path):
    """Compacting the per-batch index dirs must not change screening:
    a near-copy arriving AFTER compaction still flags against the
    pre-compaction original."""
    import glob

    import pandas as pd

    from stream4flow_spark.streaming.llmingest import NeardupIndexState

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "today in the bright morning sun")
    near = base.replace("today", "tomorrow")
    src = tmp_path / "docs"
    src.mkdir()
    schema = "doc_id long, text string"

    def arrive(name, rows):
        pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
            str(src / name), index=False
        )

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        return NeardupIndexState(
            spark,
            str(tmp_path / "index"),
            threshold=0.5,
        ).drain(stream, str(tmp_path / "ckpt"))

    arrive("w0.parquet", [(0, base)])
    arrive("w1.parquet", [(1, "totally unrelated text about parquet files "
                              "and columnar formats for analytics")])
    _pin_read_order([src / "w0.parquet", src / "w1.parquet"])
    run()
    n_dirs_before = len(glob.glob(str(tmp_path / "index" / "bands" / "batch=*")))
    assert n_dirs_before >= 2
    counts = NeardupIndexState.compact(spark, str(tmp_path / "index"))
    assert counts["sigs"] == 2
    # compacted dir + the PRESERVED newest batch dir (kept as itself so
    # a crash-redelivery of that batch can still exclude its own rows)
    assert len(glob.glob(str(tmp_path / "index" / "bands" / "batch=*"))) == 2

    arrive("w2.parquet", [(2, near)])
    st = run()
    flagged = {r.id: r.best_match_id for r in st.alerts}
    assert flagged == {2: 0}


def test_semantic_index_compaction_preserves_screening(spark, tmp_path):
    """Compacting the semantic index's per-batch dirs must not change
    screening: a near-copy arriving AFTER compaction still flags
    against the pre-compaction original."""
    import glob

    import pandas as pd

    from stream4flow_spark.streaming.llmingest import SemanticIndexState

    dim, planes, tables, thr = 8, 2, 8, 0.5
    v0 = [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    v1 = [0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    near = [0.9, 0.1, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    src = tmp_path / "vecs"
    src.mkdir()

    def arrive(name, rows):
        pd.DataFrame(rows, columns=["vec_id", "embedding"]).to_parquet(
            str(src / name), index=False
        )

    def run():
        stream = (
            spark.readStream.schema("vec_id long, embedding array<double>")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        return SemanticIndexState(
            spark,
            str(tmp_path / "index"),
            num_planes=planes,
            dim=dim,
            num_tables=tables,
            threshold=thr,
        ).drain(stream, str(tmp_path / "ckpt"))

    arrive("w0.parquet", [(0, v0)])
    arrive("w1.parquet", [(1, v1)])
    _pin_read_order([src / "w0.parquet", src / "w1.parquet"])
    run()
    assert len(glob.glob(str(tmp_path / "index" / "buckets" / "batch=*"))) >= 2
    counts = SemanticIndexState.compact(spark, str(tmp_path / "index"))
    assert counts["vecs"] == 2
    # compacted dir + the preserved newest batch dir (crash-safety)
    assert len(glob.glob(str(tmp_path / "index" / "buckets" / "batch=*"))) == 2

    arrive("w2.parquet", [(2, near)])
    st = run()
    flagged = {r.id: r.best_match_id for r in st.alerts}
    assert flagged == {2: 0}


def test_observed_metrics_report_corpus_quality(spark, tmp_path):
    """Corpus-ingest quality counters ride the streaming query via
    observe() — per-batch doc/empty/short counts without a second
    aggregation pass."""
    import pandas as pd

    from stream4flow_spark.streaming.corpus import observe_corpus_quality

    rows = [
        (0, "one short doc"),
        (1, ""),
        (2, " ".join(["tok"] * 30)),
        (3, "   "),
    ]
    src = tmp_path / "docs"
    src.mkdir()
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        str(src / "f0.parquet"), index=False
    )
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(src)
    )
    q = (
        observe_corpus_quality(stream, min_tokens=20)
        .writeStream.format("memory")
        .queryName("observed_corpus")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    progress = [p for p in q.recentProgress if p.get("observedMetrics")]
    assert progress, "no observedMetrics in any progress event"
    m = progress[-1]["observedMetrics"]["corpus_quality"]
    assert m["n_docs"] == 4
    assert m["n_empty"] == 2       # "" and whitespace-only
    assert m["n_short"] == 3       # everything under 20 tokens


def test_stream_prepare_corpus_restart_resumes_exactly(spark, tmp_path):
    """The streamed corpus build must survive a kill-restart: waves
    arrive across two separate query lifetimes sharing one checkpoint +
    output dir, and the union of appended batches still equals batch
    prepare_corpus over everything — nothing lost, nothing re-emitted."""
    import pyspark.sql.functions as F

    from stream4flow_spark.llmdata.pipeline import prepare_corpus
    from stream4flow_spark.sources.tables import load_table
    from stream4flow_spark.streaming.corpus import prepare_corpus_stream

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "lang", "text"
    )
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    want = {
        (r.doc_id, r.lang, r.n_tokens, r.split)
        for r in prepare_corpus(corpus, bench, hash_grams=False).collect()
    }

    src = tmp_path / "docs"
    src.mkdir()
    pdf = corpus.toPandas().sort_values("doc_id")
    half = len(pdf) // 2

    def run():
        stream = (
            spark.readStream.schema(corpus.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = prepare_corpus_stream(
            stream,
            bench,
            ingest_ts=F.timestamp_millis(
                F.lit(1_600_000_000_000) + F.col("doc_id") * 1000
            ),
            out_dir=str(tmp_path / "out"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            hash_grams=False,
        )
        q.awaitTermination(120)

    pdf.iloc[:half].to_parquet(str(src / "w0.parquet"), index=False)
    run()                      # first lifetime, then "crash"
    n_first = spark.read.parquet(str(tmp_path / "out")).count()
    assert 0 < n_first < len(want)
    pdf.iloc[half:].to_parquet(str(src / "w1.parquet"), index=False)
    run()                      # restart from the same checkpoint
    run()                      # and once more with nothing new: no-op
    got_df = spark.read.parquet(str(tmp_path / "out"))
    got = {
        (r.doc_id, r.lang, r.n_tokens, r.split) for r in got_df.collect()
    }
    assert got == want
    assert got_df.count() == len(want)  # exactly once, no dup appends


def test_flowgen_stream_source_equals_batch_and_drives_an_app(spark, tmp_path):
    """The streaming flowgen (Python DataSourceStreamReader) must emit
    exactly the batch flowgen's rows across its micro-batches, and a
    reference app must run on it unchanged — a live synthetic source
    with no files and no broker."""
    import pyspark.sql.functions as F

    from stream4flow_spark.apps.protocols_statistics import (
        protocols_statistics,
    )
    from stream4flow_spark.sources.flowgen import FlowGenDataSource

    spark.dataSource.register(FlowGenDataSource)
    opts = {"rows": "1000", "rows_per_batch": "300", "partitions": "4"}

    batch = spark.read.format("flowgen").options(**opts).load()
    stream = spark.readStream.format("flowgen").options(**opts).load()

    # default micro-batch trigger (NOT availableNow, which snapshots the
    # offset once at start and would stop after the first 300 rows);
    # processAllAvailable returns once latestOffset stops advancing at
    # the rows bound
    q = (
        stream.writeStream.format("memory")
        .queryName("flowgen_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT * FROM flowgen_stream")
    assert got.count() == 1000
    # multiple micro-batches actually happened (offset pacing works)
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 3

    key = ["ipfix_flowStartMilliseconds", "ipfix_sourceIPv4Address",
           "ipfix_destinationTransportPort"]
    assert (
        got.select(*key).exceptAll(batch.select(*key)).count() == 0
        and batch.select(*key).exceptAll(got.select(*key)).count() == 0
    )

    # an app consumes the live source unchanged
    out = protocols_statistics(
        got, "1 hour"
    )
    assert out.count() >= 1


def test_flowgen_stream_drives_windowed_app_to_batch_parity(spark, tmp_path):
    """The live flowgen stream must drive a real windowed aggregation
    (protocols_statistics) to bit-parity with the batch app over the
    same generated rows — the zero-input end-to-end: synthetic source →
    event-time windows → complete-mode result table."""
    import pandas as pd

    from stream4flow_spark.apps.protocols_statistics import (
        protocols_statistics,
    )
    from stream4flow_spark.sources.flowgen import FlowGenDataSource

    spark.dataSource.register(FlowGenDataSource)
    opts = {"rows": "800", "rows_per_batch": "250", "partitions": "4"}
    batch = spark.read.format("flowgen").options(**opts).load()
    expect = _sorted_pdf(
        protocols_statistics(batch, "10 minutes"),
        ["window_start_ms", "protocol"],
    )

    stream = spark.readStream.format("flowgen").options(**opts).load()
    q = (
        protocols_statistics(stream, "10 minutes")
        .writeStream.format("memory")
        .queryName("flowgen_protocols")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = _sorted_pdf(
        spark.sql("SELECT * FROM flowgen_protocols"),
        ["window_start_ms", "protocol"],
    )
    pd.testing.assert_frame_equal(got, expect)


def test_flowgen_stream_restart_resumes_exactly_once(spark, tmp_path):
    """ADVICE r6 (medium): a RESTARTED flowgen stream must resume from
    the checkpointed offset with a FRESH reader instance — no re-emitted
    (duplicate) rows, no gaps, offsets never regress. The simple-reader
    pacing derives from the checkpointed start offset, so each query
    lifetime picks up exactly where the previous one committed. Each
    availableNow lifetime snapshots the next offset once (one
    micro-batch), so draining 650 rows at 250/batch takes three
    lifetimes plus a fourth that must read nothing."""
    from stream4flow_spark.sources.flowgen import FlowGenDataSource

    spark.dataSource.register(FlowGenDataSource)
    opts = {"rows": "650", "rows_per_batch": "250", "partitions": "4"}
    batch = spark.read.format("flowgen").options(**opts).load()

    out = tmp_path / "out"
    counts = []
    for _ in range(4):
        stream = spark.readStream.format("flowgen").options(**opts).load()
        q = (
            stream.writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        counts.append(spark.read.parquet(str(out)).count())
    # strictly monotone to the bound, then idle — a non-monotone reader
    # (the old in-memory-counter pacing) re-emits rows here instead
    assert counts == [250, 500, 650, 650]

    got = spark.read.parquet(str(out))
    key = [
        "ipfix_flowStartMilliseconds",
        "ipfix_sourceIPv4Address",
        "ipfix_destinationTransportPort",
    ]
    assert (
        got.select(*key).exceptAll(batch.select(*key)).count() == 0
        and batch.select(*key).exceptAll(got.select(*key)).count() == 0
    )


def test_stream_scd2_matches_batch_closed_versions(spark, tmp_path):
    """Single-batch parity: the streaming SCD2 fold must emit exactly
    the batch operator's CLOSED version rows (is_current=0) on the
    driver events table."""
    import pyspark.sql.functions as F

    from stream4flow_spark.registry import REGISTRY, queries
    from stream4flow_spark.sources.tables import load_table
    from stream4flow_spark.streaming.runner import run_stream_to_table
    from stream4flow_spark.streaming.scd2 import scd2_stream

    queries()
    batch = REGISTRY["rel_scd2_user_state"].fn(spark, SF_DIR)
    want = {
        (r.user_id, r.event_type, r.valid_from_ms, r.valid_to_ms)
        for r in batch.filter(F.col("is_current") == 0).collect()
    }
    assert want  # the gate data must exercise closures

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "event_type", F.unix_millis("ts").alias("t")
    )
    src = tmp_path / "ev"
    src.mkdir()
    ev.toPandas().to_parquet(str(src / "all.parquet"), index=False)
    stream = spark.readStream.schema(ev.schema).parquet(str(src))
    got_df = run_stream_to_table(
        scd2_stream(stream, ["user_id"], "event_type", "t", "event_id"),
        output_mode="append",
    )
    got = {
        (r.user_id, r.event_type, r.valid_from_ms, r.valid_to_ms)
        for r in got_df.collect()
    }
    assert got == want


def test_stream_scd2_closes_versions_across_batches(spark, tmp_path):
    """The open version carried in state must be closed by a later
    batch's change; same-value events never close; a pre-horizon late
    row is dropped rather than rewriting an emitted interval."""
    import pandas as pd

    from stream4flow_spark.streaming.runner import run_stream_to_table
    from stream4flow_spark.streaming.scd2 import scd2_stream

    from stream4flow_spark.streaming.runner import run_stream_to_table

    src = tmp_path / "ev"
    src.mkdir()
    # batch 1 (f0): u1 signs up at t=10, clicks at t=20 (closes signup)
    pd.DataFrame(
        {"event_id": [1, 2], "user_id": [1, 1],
         "event_type": ["signup", "click"], "t": [10, 20]}
    ).to_parquet(str(src / "f0.parquet"), index=False)
    # batch 2 (f1): same-type click at t=30 (no close), purchase at t=40
    # (closes click@20), and a pre-horizon late signup at t=5 (dropped —
    # an emitted interval can never be rewritten in append mode)
    pd.DataFrame(
        {"event_id": [3, 4, 5], "user_id": [1, 1, 1],
         "event_type": ["click", "purchase", "signup"], "t": [30, 40, 5]}
    ).to_parquet(str(src / "f1.parquet"), index=False)
    _pin_read_order([src / "f0.parquet", src / "f1.parquet"])

    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, t long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    got_df = run_stream_to_table(
        scd2_stream(stream, ["user_id"], "event_type", "t", "event_id"),
        output_mode="append",
    )
    got = {
        (r.user_id, r.event_type, r.valid_from_ms, r.valid_to_ms)
        for r in got_df.collect()
    }
    # signup@10 closed by click@20 in batch 1; click (open across the
    # batch boundary, the t=30 duplicate type notwithstanding) closed by
    # purchase@40 in batch 2; purchase stays open; the t=5 late signup
    # left no trace
    assert got == {(1, "signup", 10, 20), (1, "click", 20, 40)}


def test_stream_budget_admission_matches_batch_prefix(spark, tmp_path):
    """Single-batch parity: arrival-order admission must equal the batch
    token_budget_per_group over the same (arrival) order."""
    import pyspark.sql.functions as F

    from stream4flow_spark.llmdata.sampling import token_budget_per_group
    from stream4flow_spark.sources.tables import load_table
    from stream4flow_spark.streaming.admission import admit_by_budget_stream
    from stream4flow_spark.streaming.runner import run_stream_to_table
    from stream4flow_spark.llmdata.textstats import whitespace_tokens

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id",
        "source",
        F.size(whitespace_tokens(F.col("text"))).cast("long").alias("w"),
    )
    want = {
        (r.source, r.doc_id, r.cum_weight)
        for r in token_budget_per_group(
            docs, "source", budget=800, weight_col="w",
            order_by=[F.col("doc_id").asc()],
        ).collect()
    }

    src = tmp_path / "docs"
    src.mkdir()
    docs.toPandas().to_parquet(str(src / "all.parquet"), index=False)
    stream = spark.readStream.schema(docs.schema).parquet(str(src))
    got_df = run_stream_to_table(
        admit_by_budget_stream(stream, "source", 800, "w", "doc_id"),
        output_mode="append",
    )
    got = {(r.source, r.doc_id, r.cum_weight) for r in got_df.collect()}
    assert got == want and got


def test_stream_budget_admission_ledger_spans_batches(spark, tmp_path):
    """The spent-budget ledger must persist: rows in batch 2 are judged
    against batch 1's cumulative total, and a burst closes the group
    even for smaller later rows (prefix semantics, not bin packing)."""
    import pandas as pd

    from stream4flow_spark.streaming.admission import admit_by_budget_stream
    from stream4flow_spark.streaming.runner import run_stream_to_table

    src = tmp_path / "s"
    src.mkdir()
    pd.DataFrame(
        {"source": ["a", "a"], "doc_id": [1, 2], "w": [40, 30]}
    ).to_parquet(str(src / "f0.parquet"), index=False)
    # batch 2: 31 bursts the 100 budget (cum 101); the later 5-token doc
    # is NOT admitted (ledger counts all seen rows)
    pd.DataFrame(
        {"source": ["a", "a"], "doc_id": [3, 4], "w": [31, 5]}
    ).to_parquet(str(src / "f1.parquet"), index=False)
    _pin_read_order([src / "f0.parquet", src / "f1.parquet"])

    stream = (
        spark.readStream.schema("source string, doc_id long, w long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    got_df = run_stream_to_table(
        admit_by_budget_stream(stream, "source", 100, "w", "doc_id"),
        output_mode="append",
    )
    got = {(r.doc_id, r.cum_weight) for r in got_df.collect()}
    assert got == {(1, 40), (2, 70)}


def test_stream_weighted_reservoir_matches_batch_selection(spark, tmp_path):
    """Prefix parity for the A-ES streaming twin: after the whole stream
    is consumed, the latest emitted reservoir per group equals the
    batch weighted_sample_per_group selection over the same rows — even
    though the stream saw the data in two batches and later rows can
    evict earlier picks."""
    import pandas as pd
    import pyspark.sql.functions as F

    from stream4flow_spark.llmdata.sampling import weighted_sample_per_group
    from stream4flow_spark.sources.tables import load_table
    from stream4flow_spark.streaming.admission import weighted_reservoir_stream
    from stream4flow_spark.streaming.runner import run_stream_to_table

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id",
        "source",
        (F.length("text").cast("double") + 1.0).alias("w"),
    )
    want = {
        (r.source, r.doc_id, r.sample_rank)
        for r in weighted_sample_per_group(
            docs, "source", k=5, weight_col=F.col("w")
        ).collect()
    }

    pdf = docs.toPandas().sort_values("doc_id")
    src = tmp_path / "docs"
    src.mkdir()
    half = len(pdf) // 2
    pdf.iloc[:half].to_parquet(str(src / "f0.parquet"), index=False)
    pdf.iloc[half:].to_parquet(str(src / "f1.parquet"), index=False)
    _pin_read_order([src / "f0.parquet", src / "f1.parquet"])
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    got_df = run_stream_to_table(
        weighted_reservoir_stream(stream, "source", 5, "w", "doc_id"),
        output_mode="update",
    )
    # update mode: the memory sink holds every emission; keep the LAST
    # snapshot per (source, rank)
    emitted = got_df.toPandas()
    latest = emitted.groupby(["source", "sample_rank"]).tail(1)
    got = {
        (r.source, r.doc_id, r.sample_rank) for r in latest.itertuples()
    }
    assert got == want and got


def test_stream_weighted_reservoir_evicts_and_is_idempotent(spark, tmp_path):
    """A heavier batch-2 row must evict a batch-1 pick from the k=2
    reservoir (state carries keys across batches), and re-delivering an
    id leaves the reservoir unchanged (id-merge idempotence)."""
    import pandas as pd
    import pyspark.sql.functions as F

    from stream4flow_spark.llmdata.sampling import weighted_sample_per_group
    from stream4flow_spark.streaming.admission import weighted_reservoir_stream
    from stream4flow_spark.streaming.runner import run_stream_to_table

    b1 = pd.DataFrame({"source": ["a"] * 3, "doc_id": [1, 2, 3],
                       "w": [1.0, 1.0, 1.0]})
    # batch 2: one huge-weight row (wins with overwhelming probability
    # under ln(u)/w) + a re-delivery of id 1
    b2 = pd.DataFrame({"source": ["a", "a"], "doc_id": [4, 1],
                       "w": [1e9, 1.0]})
    src = tmp_path / "s"
    src.mkdir()
    b1.to_parquet(str(src / "f0.parquet"), index=False)
    b2.to_parquet(str(src / "f1.parquet"), index=False)
    _pin_read_order([src / "f0.parquet", src / "f1.parquet"])
    stream = (
        spark.readStream.schema("source string, doc_id long, w double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    got_df = run_stream_to_table(
        weighted_reservoir_stream(stream, "source", 2, "w", "doc_id"),
        output_mode="update",
    )
    emitted = got_df.toPandas()
    latest = emitted.groupby(["source", "sample_rank"]).tail(1)
    got = {(r.doc_id, r.sample_rank) for r in latest.itertuples()}

    docs = spark.createDataFrame(
        pd.concat([b1, b2]).drop_duplicates("doc_id"))
    want = {
        (r.doc_id, r.sample_rank)
        for r in weighted_sample_per_group(
            docs, "source", k=2, weight_col=F.col("w")
        ).collect()
    }
    assert got == want
    assert 4 in {d for d, _ in got}  # the heavy row made the reservoir


def test_stream_rolling_active_matches_batch(spark, tmp_path):
    """The chained dedup→sliding-window streaming twin must track the
    batch fan-out rolling_distinct within the approx_count_distinct
    error on every observed day once the watermark closes all windows
    (sentinel trick). Exact COUNT(DISTINCT) is not expressible in a
    streaming aggregate — the twin's window state is an HLL± sketch."""
    import pandas as pd
    import pyspark.sql.functions as F

    from stream4flow_spark.operators.window_agg import rolling_distinct
    from stream4flow_spark.sources.tables import load_table
    from stream4flow_spark.streaming.rolling import rolling_active_stream

    ev = load_table(spark, SF_DIR, "events")
    want = {
        str(r.day): r.n_active
        for r in rolling_distinct(ev, "ts", "user_id", 7).collect()
    }
    observed_days = set(want)

    src = tmp_path / "ev_roll"
    src.mkdir()
    pdf = (
        ev.select("user_id", F.unix_millis("ts").alias("tms"))
        .toPandas()
        .sort_values("tms")
    )
    half = len(pdf) // 2
    pdf.iloc[:half].to_parquet(str(src / "f0.parquet"), index=False)
    pdf.iloc[half:].to_parquet(str(src / "f1.parquet"), index=False)
    # sentinel 30 days past the end: the global watermark passes every
    # real window, so all counts emit in append mode
    pd.DataFrame(
        {"user_id": [-1], "tms": [int(pdf["tms"].max()) + 30 * 86_400_000]}
    ).to_parquet(str(src / "f2.parquet"), index=False)
    _pin_read_order([src / f"f{i}.parquet" for i in range(3)])

    stream = (
        spark.readStream.schema("user_id long, tms long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .select("user_id", F.timestamp_millis(F.col("tms")).alias("ts"))
    )
    out = run_stream_to_table(
        rolling_active_stream(stream, "user_id", "ts", 7),
        output_mode="append",
    )
    got = {r.day: r.n_active_est for r in out.collect()}
    # the stream's observed-day filter must yield EXACTLY the batch
    # day set (plus the sentinel's own far-future day, which is real)
    sentinel_days = set(got) - observed_days
    assert len(sentinel_days) <= 1, sentinel_days
    got = {d: n for d, n in got.items() if d in observed_days}
    exact = dict(want)
    assert set(got) == set(exact)
    for day, n in exact.items():
        assert abs(got[day] - n) / n <= 0.05, (day, got[day], n)


def test_stream_sketch_table_matches_batch_and_survives_compaction(
    spark, tmp_path
):
    """Streaming-maintained sketch table == batch sketch_rollup on the
    same data (exact estimate identity: HLL registers are per-item
    maxima), redelivery of a batch dir is idempotent, and compaction
    changes nothing."""
    import pyspark.sql.functions as F

    from stream4flow_spark.operators.sketches import (
        sketch_estimate,
        sketch_merge,
        sketch_rollup,
    )
    from stream4flow_spark.sources.tables import load_table
    from stream4flow_spark.streaming.sketches import (
        compact_sketch_table,
        read_sketch_table,
        sketch_rollup_stream,
    )

    ev = load_table(spark, SF_DIR, "events")
    want = {
        r.event_type: r.n_distinct
        for r in sketch_merge(
            sketch_rollup(
                ev.select("event_type", F.to_date("ts").alias("day"), "user_id"),
                ["event_type", "day"],
                "user_id",
            ),
            ["event_type"],
        ).collect()
    }

    src = tmp_path / "ev_sk"
    src.mkdir()
    pdf = ev.select(
        "event_type", F.unix_millis("ts").alias("tms"), "user_id"
    ).toPandas()
    third = len(pdf) // 3
    for i in range(3):
        lo = i * third
        hi = None if i == 2 else (i + 1) * third
        pdf.iloc[lo:hi].to_parquet(str(src / f"f{i}.parquet"), index=False)
    _pin_read_order([src / f"f{i}.parquet" for i in range(3)])

    table = str(tmp_path / "sketch_table")
    stream = (
        spark.readStream.schema("event_type string, tms long, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .select(
            "event_type", F.timestamp_millis(F.col("tms")).alias("ts"),
            "user_id",
        )
    )
    q = sketch_rollup_stream(
        stream, ["event_type"], "user_id", "ts", table,
        checkpoint_dir=str(tmp_path / "ck"),
    )
    q.awaitTermination()

    def merged_counts():
        return {
            r.event_type: r.n_distinct
            for r in sketch_merge(
                read_sketch_table(spark, table, ["event_type"]),
                ["event_type"],
            ).collect()
        }

    assert merged_counts() == want

    # redelivery: re-writing one batch's sketches replaces, not extends
    import glob
    batch_dirs = sorted(glob.glob(f"{table}/batch=*"))
    assert len(batch_dirs) >= 2
    # materialize before the self-overwrite (lazy read + overwrite of
    # the same dir would delete the files before the scan runs)
    replay = spark.read.parquet(batch_dirs[0]).localCheckpoint(eager=True)
    replay.write.mode("overwrite").parquet(batch_dirs[0])
    assert merged_counts() == want

    # compaction: one dir left, estimates unchanged; the merged dir is
    # renamed into the batch=* namespace BEFORE the superseded dirs are
    # deleted (crash-safe — readers never see an empty table)
    compact_sketch_table(spark, table, ["event_type"])
    assert sorted(glob.glob(f"{table}/batch=*")) == [
        f"{table}/batch=compacted-1"
    ]
    assert merged_counts() == want

    # re-compaction gets a fresh generation suffix, never an in-place
    # overwrite of the live compacted dir
    compact_sketch_table(spark, table, ["event_type"])
    assert sorted(glob.glob(f"{table}/batch=*")) == [
        f"{table}/batch=compacted-2"
    ]
    assert merged_counts() == want


def test_stream_attribution_matches_batch_aggregate(spark, tmp_path):
    """Per-conversion streaming credits, aggregated, must equal the
    batch rel_attribution output when batches arrive in event order;
    a second run split mid-history must also agree (cross-batch state
    carries first/last touch)."""
    import pandas as pd
    import pyspark.sql.functions as F

    from stream4flow_spark.registry import REGISTRY, queries
    from stream4flow_spark.sources.tables import load_table
    from stream4flow_spark.streaming.attribution import attribution_stream

    queries()
    want = {
        (r.model, r.touch_type): (r.n_conversions, r.revenue)
        for r in REGISTRY["rel_attribution"].fn(spark, SF_DIR).collect()
    }

    ev = load_table(spark, SF_DIR, "events")
    pdf = (
        ev.select(
            "user_id", F.unix_millis("ts").alias("tms"), "event_id",
            "event_type", "value",
        )
        .toPandas()
        .sort_values(["tms", "event_id"])
    )
    src = tmp_path / "ev_attr"
    src.mkdir()
    half = len(pdf) // 2
    pdf.iloc[:half].to_parquet(str(src / "f0.parquet"), index=False)
    pdf.iloc[half:].to_parquet(str(src / "f1.parquet"), index=False)
    _pin_read_order([src / "f0.parquet", src / "f1.parquet"])

    stream = (
        spark.readStream.schema(
            "user_id long, tms long, event_id long, event_type string,"
            " value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    credited = attribution_stream(
        stream, ["view", "click"], "purchase",
        ts_col="tms",
    )
    got_rows = run_stream_to_table(credited, output_mode="append")

    unioned = got_rows.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("first_touch").alias("model"),
                    F.col("first_touch").alias("touch_type"),
                ),
                F.struct(
                    F.lit("last_touch").alias("model"),
                    F.col("last_touch").alias("touch_type"),
                ),
            )
        ).alias("m"),
        F.col("value").cast("decimal(10,2)").alias("v"),
    )
    got = {
        (r.model, r.touch_type): (r.n_conversions, r.revenue)
        for r in unioned.groupBy("m.model", "m.touch_type")
        .agg(
            F.count("*").alias("n_conversions"),
            F.sum("v").cast("decimal(38,2)").cast("string").alias("revenue"),
        )
        .collect()
    }
    assert got == want


def test_stream_attribution_late_older_touch_across_batches(
    spark, tmp_path
):
    """A touch arriving in a LATER micro-batch with an OLDER event time
    must not overwrite a newer stored last touch — and must take over
    the first-touch slot (state keeps each slot's (t, eid) key, so
    cross-batch disorder resolves by event time, not arrival order)."""
    from stream4flow_spark.streaming.attribution import attribution_stream
    from stream4flow_spark.streaming.runner import run_stream_to_table

    src = tmp_path / "ev_late"
    src.mkdir()
    rows = [
        # batch 0: the newer touch arrives first
        [(1, 100, 1, "click", 0.0)],
        # batch 1: a LATE, event-time-OLDER touch
        [(1, 50, 0, "view", 0.0)],
        # batch 2: the conversion
        [(1, 200, 2, "purchase", 10.0)],
    ]
    import pandas as pd

    import os
    import time

    now = time.time()
    for i, batch in enumerate(rows):
        p = str(src / f"f{i}.parquet")
        pd.DataFrame(
            batch,
            columns=["user_id", "tms", "event_id", "event_type", "value"],
        ).to_parquet(p, index=False)
        # pin strictly increasing mtimes so the file source's
        # oldest-first ordering matches arrival order deterministically
        os.utime(p, (now + i, now + i))

    stream = (
        spark.readStream.schema(
            "user_id long, tms long, event_id long, event_type string,"
            " value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    credited = attribution_stream(
        stream, ["view", "click"], "purchase", ts_col="tms"
    )
    got = run_stream_to_table(credited, output_mode="append").collect()
    assert len(got) == 1
    r = got[0]
    assert r.first_touch == "view"  # event-time-oldest, despite late arrival
    assert r.last_touch == "click"  # newer stored touch survives the late one


def test_stream_exact_substr_matches_batch(spark, tmp_path):
    """Draining id-ordered waves through the ExactSubstr arrival index
    must reproduce the BATCH exact_substr_dedup output document-for-
    document (the parity property incremental_exact_substr documents:
    prior ids precede delta ids => incremental == batch-restricted);
    a restart between waves must continue from the on-disk gram index,
    and compaction must not change the screen."""
    import pandas as pd
    import pyspark.sql.functions as F

    from stream4flow_spark.llmdata.dedup import exact_substr_dedup
    from stream4flow_spark.sources.tables import load_table
    from stream4flow_spark.streaming.llmingest import ExactSubstrIndexState

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    want = {
        r.doc_id: (r.n_tokens, r.n_removed, r.dedup_text)
        for r in exact_substr_dedup(docs, min_len=15).collect()
    }

    pdf = docs.toPandas().sort_values("doc_id")
    src = tmp_path / "docs"
    src.mkdir()
    third = len(pdf) // 3
    bounds = [(0, third), (third, 2 * third), (2 * third, len(pdf))]
    for i, (lo, hi) in enumerate(bounds[:2]):
        pdf.iloc[lo:hi].to_parquet(str(src / f"w{i}.parquet"), index=False)
    _pin_read_order([src / "w0.parquet", src / "w1.parquet"])

    def run():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        return ExactSubstrIndexState(
            spark,
            str(tmp_path / "index"),
            min_len=15,
        ).drain(stream, str(tmp_path / "ckpt"))

    st1 = run()  # waves 0 and 1
    # compaction between runs must be transparent to later screening
    n = ExactSubstrIndexState.compact(spark, str(tmp_path / "index"))
    assert n["grams"] > 0
    lo, hi = bounds[2]
    pdf.iloc[lo:hi].to_parquet(str(src / "w2.parquet"), index=False)
    st2 = run()  # RESTART: gram index must have survived on disk

    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.dedup_text)
        for r in st2.cleaned().collect()
    }
    assert got == want
    # alerts across both runs = exactly the documents that lost tokens
    # (the alert snapshot is per-process; the on-disk clean output is
    # the durable record)
    alerted = {r.doc_id for r in st1.alerts} | {r.doc_id for r in st2.alerts}
    assert alerted == {
        d for d, (_, n_rem, _) in want.items() if n_rem > 0
    }


def test_arrival_index_redelivery_of_clean_batch_is_idempotent(spark, tmp_path):
    """ADVICE r9 (high): a foreachBatch redelivery — crash AFTER the
    index write but BEFORE the checkpoint commit — re-runs apply_batch
    while the failed attempt's own ``batch=<id>`` dir already sits in
    the index. Reading it back makes the redelivered batch screen
    against itself: every CLEAN document self-matches at similarity
    1.0, gets flagged, and is dropped from the index; the ExactSubstr
    form additionally overwrites ``clean/batch=<id>`` with gutted
    dedup_text. All three arrival states must exclude the current
    batch_id from the index read so a redelivery reproduces the first
    attempt exactly."""
    from stream4flow_spark.streaming.llmingest import (
        ExactSubstrIndexState,
        NeardupIndexState,
        SemanticIndexState,
        WinnowIndexState,
    )

    text = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "other animals watch quietly from the tall grass near the old "
        "stone wall at the edge of the meadow"
    )
    docs = spark.createDataFrame([(0, text)], "doc_id long, text string")

    # --- ExactSubstr: redelivered clean batch must keep its full text
    es = ExactSubstrIndexState(spark, str(tmp_path / "es"), min_len=15)
    es.apply_batch(docs, 0)
    first = es.cleaned().collect()
    assert first[0].n_removed == 0 and first[0].dedup_text == text
    es.apply_batch(docs, 0)  # redelivery
    again = es.cleaned().collect()
    assert [r.asDict() for r in again] == [r.asDict() for r in first]
    assert es.alerts == []
    # and the gram index survived for LATER batches: a real duplicate
    # arriving as batch 1 is still cut against batch 0's grams
    dup = spark.createDataFrame([(1, text)], "doc_id long, text string")
    es.apply_batch(dup, 1)
    assert {r.doc_id for r in es.alerts} == {1}

    # --- MinHash: redelivered clean batch must not self-flag or
    # vanish from the index
    nd = NeardupIndexState(spark, str(tmp_path / "nd"), threshold=0.5)
    nd.apply_batch(docs, 0)
    nd.apply_batch(docs, 0)  # redelivery
    assert nd.alerts == []
    nd.apply_batch(dup, 1)
    assert {(r.id, r.best_match_id) for r in nd.alerts} == {(1, 0)}

    # --- Winnow: redelivered clean batch must not self-flag (jaccard
    # 1.0 against its own failed-attempt index rows) or vanish
    wn = WinnowIndexState(spark, str(tmp_path / "wn"), threshold=0.3)
    wn.apply_batch(docs, 0)
    wn.apply_batch(docs, 0)  # redelivery
    assert wn.alerts == []
    wn.apply_batch(dup, 1)
    assert {(r.id, r.best_match_id) for r in wn.alerts} == {(1, 0)}

    # --- Semantic: same contract on the vector index
    v = [1.0, 0.0, 0.0, 0.0]
    vecs = spark.createDataFrame([(0, v)], "vec_id long, embedding array<double>")
    se = SemanticIndexState(
        spark, str(tmp_path / "se"), num_planes=2, dim=4, num_tables=2,
        threshold=0.5,
    )
    se.apply_batch(vecs, 0)
    se.apply_batch(vecs, 0)  # redelivery
    assert se.alerts == []
    dup_v = spark.createDataFrame(
        [(1, [0.95, 0.05, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    se.apply_batch(dup_v, 1)
    assert {(r.id, r.best_match_id) for r in se.alerts} == {(1, 0)}


def test_stream_exact_substr_bloom_prune_matches_unpruned(spark, tmp_path):
    """r9 verdict item 4: the Bloom prune wired into a streaming
    consumer. An ExactSubstrIndexState with bloom_prefilter set probes
    the persisted gram index through bloom_prune(shards>1) before the
    exact semi-join; output must be document-for-document identical to
    the unpruned state on the same waves (no false negatives through
    the probe), alerts included."""
    import pandas as pd

    from stream4flow_spark.sources.tables import load_table
    from stream4flow_spark.streaming.llmingest import ExactSubstrIndexState
    from tests.conftest import SF_DIR

    pdf = (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .toPandas()
        .sort_values("doc_id")
    )
    half = len(pdf) // 2
    waves = [pdf.iloc[:half], pdf.iloc[half:]]

    def drain(**kwargs):
        st = ExactSubstrIndexState(
            spark, str(tmp_path / f"idx{len(kwargs)}"), min_len=15, **kwargs
        )
        for i, w in enumerate(waves):
            st.apply_batch(spark.createDataFrame(w), i)
        return st

    plain = drain()
    pruned = drain(bloom_prefilter=50_000, bloom_shards=4)
    key = lambda r: (r.doc_id, r.n_tokens, r.n_removed, r.dedup_text)
    assert sorted(map(key, pruned.cleaned().collect())) == sorted(
        map(key, plain.cleaned().collect())
    )
    assert sorted((r.doc_id, r.n_removed) for r in pruned.alerts) == sorted(
        (r.doc_id, r.n_removed) for r in plain.alerts
    )


def test_stream_winnow_screen_matches_batch_incremental(spark, tmp_path):
    """r9 verdict item 3: the winnowing arrival index — the last tier
    missing a streaming twin. A wave's flags must equal the BATCH
    incremental_winnow_neardup of that wave against the corpus indexed
    so far (same k/window/min_shared/threshold), a foreachBatch restart
    must continue from the on-disk index, a flagged doc must NOT join
    the index, compaction must not change the screen, and two
    near-copies arriving in the SAME micro-batch must resolve
    later-vs-earlier instead of both slipping in."""
    import pandas as pd

    from stream4flow_spark.llmdata.dedup import incremental_winnow_neardup
    from stream4flow_spark.streaming.llmingest import WinnowIndexState

    shared = (
        "the quick brown fox jumps over the lazy dog again and again "
        "today in the bright morning sun with a long enough shared run"
    )
    other = (
        "completely unrelated words about spark plans and parquet files "
        "and columnar storage pushdown across executors tonight"
    )
    waves = [
        [(0, "prefix one " + shared + " suffix alpha"), (1, other)],
        [
            (10, "other start " + shared + " different tail"),
            (11, "more unrelated text on shuffle hash joins and very "
                 "wide aggregation buffers in volcano style engines"),
        ],
    ]
    schema = "doc_id long, text string"
    src = tmp_path / "docs"
    src.mkdir()

    def arrive(i, rows=None):
        pd.DataFrame(
            rows or waves[i], columns=["doc_id", "text"]
        ).to_parquet(str(src / f"w{i}.parquet"), index=False)

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        return WinnowIndexState(
            spark,
            str(tmp_path / "index"),
            threshold=0.3,
        ).drain(stream, str(tmp_path / "ckpt"))

    arrive(0)
    st = run()
    assert st.alerts == []  # wave 0 has no near-dups

    arrive(1)
    st = run()  # RESTART: fingerprint/text index must have survived
    got = {r.id: (r.best_match_id, r.best_jaccard) for r in st.alerts}
    corpus = spark.createDataFrame(waves[0], schema)
    delta = spark.createDataFrame(waves[1], schema)
    want = {
        r.doc_id: (r.best_match_id, r.best_jaccard)
        for r in incremental_winnow_neardup(
            corpus, delta, threshold=0.3
        ).collect()
        if r.is_near_dup
    }
    assert got == want and set(got) == {10}

    # compaction between runs must be transparent to later screening
    counts = WinnowIndexState.compact(spark, str(tmp_path / "index"))
    assert counts["fps"] > 0 and counts["texts"] == 3  # 0, 1, 11 kept

    # intra-batch pair + flagged-not-indexed: docs 20 and 21 are copies
    # of the shared passage arriving together. 20 matches doc 0 — the
    # indexed ORIGINAL (10 never joined the index) — while 21's best
    # match is its near-identical same-batch sibling 20 (higher
    # jaccard), the same later-vs-earlier chaining the MinHash twin
    # documents.
    arrive(2, [(20, "fresh head " + shared + " fresh tail"),
               (21, "fresh head " + shared + " fresh tail end")])
    st = run()
    got = {r.id: r.best_match_id for r in st.alerts}
    # durable alerts: wave 1's flag (10 -> 0) survives restart AND the
    # compaction between runs (alerts/ is not a compacted index dir)
    assert got == {10: 0, 20: 0, 21: 20}


def test_compaction_preserves_newest_batch_for_crash_redelivery(spark, tmp_path):
    """The sequence the own-batch exclusion alone can't survive: the
    run CRASHES after batch 1's index write (checkpoint uncommitted),
    an operator compacts "between runs", and the restart REDELIVERS
    batch 1. If compaction folded batch 1's rows into batch=compacted,
    the redelivered batch would screen against its own failed attempt
    (self-match corruption). ``compact`` therefore preserves the
    newest numeric batch dir as itself — redelivery after compaction
    must be idempotent."""
    from stream4flow_spark.streaming.llmingest import NeardupIndexState

    t0 = ("the quick brown fox jumps over the lazy dog again and again "
          "today in the bright morning sun near the old stone wall")
    t1 = ("completely different words appear in this sentence about "
          "spark engines and distributed execution plans tonight")
    st = NeardupIndexState(spark, str(tmp_path / "nd"), threshold=0.5)
    st.apply_batch(
        spark.createDataFrame([(0, t0)], "doc_id long, text string"), 0
    )
    # batch 1 writes its index rows, then the run "crashes" before the
    # checkpoint commit
    b1 = spark.createDataFrame([(1, t1)], "doc_id long, text string")
    st.apply_batch(b1, 1)
    assert st.alerts == []

    NeardupIndexState.compact(spark, str(tmp_path / "nd"))

    # restart redelivers batch 1: no self-flag, index intact
    st2 = NeardupIndexState(spark, str(tmp_path / "nd"), threshold=0.5)
    st2.apply_batch(b1, 1)
    assert st2.alerts == []
    # and both documents are still authoritative for later arrivals
    near0 = t0.replace("today", "tomorrow")
    st2.apply_batch(
        spark.createDataFrame([(2, near0)], "doc_id long, text string"), 2
    )
    assert {(r.id, r.best_match_id) for r in st2.alerts} == {(2, 0)}


def test_auto_compaction_triggers_and_preserves_screening(spark, tmp_path):
    """auto_compact_dirs: once the batch-dir count reaches the
    threshold, apply_batch compacts inline (safe mid-run: the newest
    dir is preserved for redelivery). Screening afterwards is
    unchanged, and the dir count actually shrank."""
    import glob

    from stream4flow_spark.streaming.llmingest import NeardupIndexState

    texts = [
        ("zero words about alpha beta gamma delta epsilon zeta eta "
         "theta iota kappa now", 0),
        ("one sentence on shuffle exchanges broadcast joins and "
         "adaptive query execution plans", 1),
        ("two remarks regarding parquet row groups column chunks and "
         "dictionary encodings tonight", 2),
    ]
    st = NeardupIndexState(
        spark, str(tmp_path / "nd"), threshold=0.5, auto_compact_dirs=3
    )
    for text, b in texts:
        st.apply_batch(
            spark.createDataFrame([(b, text)], "doc_id long, text string"), b
        )
    dirs = glob.glob(str(tmp_path / "nd" / "bands" / "batch=*"))
    # threshold hit at batch 2 → compacted + preserved-newest = 2 dirs
    assert len(dirs) == 2
    assert any("batch=compacted" in d for d in dirs)
    assert st.alerts == []

    # screening against pre-compaction docs still works
    near = texts[0][0].replace("now", "later")
    st.apply_batch(
        spark.createDataFrame([(9, near)], "doc_id long, text string"), 9
    )
    assert {(r.id, r.best_match_id) for r in st.alerts} == {(9, 0)}


def test_neardup_apply_batch_signs_each_document_once(
    spark, tmp_path, monkeypatch
):
    """The screen bands its own persisted signatures: one minhash
    kernel per micro-batch, not one for the bands and one for the
    signature store."""
    import stream4flow_spark.llmdata.dedup as dedup
    from stream4flow_spark.streaming.llmingest import NeardupIndexState

    calls = []
    real = dedup.minhash_table

    def counting(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(dedup, "minhash_table", counting)
    base = ("the quick brown fox jumps over the lazy dog again and again "
            "today in the bright morning sun near the old stone wall")
    st = NeardupIndexState(spark, str(tmp_path / "nd"), threshold=0.5)
    st.apply_batch(
        spark.createDataFrame([(0, base)], "doc_id long, text string"), 0
    )
    assert len(calls) == 1
    st.apply_batch(
        spark.createDataFrame(
            [(1, base.replace("today", "tomorrow"))],
            "doc_id long, text string",
        ),
        1,
    )
    assert len(calls) == 2
    assert {(r.id, r.best_match_id) for r in st.alerts} == {(1, 0)}


def test_compaction_of_wide_bucketed_store_lists_on_driver(
    spark, tmp_path, split_bucket_writes
):
    """A bucketed signature store whose batch dirs each hold more than
    32 ``id_bucket`` children (Spark's parallel partition-discovery
    threshold, past which a read lists through a distributed job)
    compacts to the same row counts, and the compactor's driver-side
    listing scope restores the session's threshold afterwards."""
    import glob
    import os

    from stream4flow_spark.streaming.llmingest import NeardupIndexState

    words = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lambda mu nu xi omicron pi rho sigma tau upsilon").split()
    root = tmp_path / "nd"
    st = NeardupIndexState(spark, str(root), threshold=0.5)
    for b in range(2):
        rows = []
        for i in range(80):
            doc = b * 1000 + i
            rows.append((doc, " ".join(
                f"{w}{doc}" for w in words[i % 7:] + words[: i % 7]
            )))
        st.apply_batch(
            spark.createDataFrame(rows, "doc_id long, text string"), b
        )
    assert st.alerts == []
    fanout = [
        len(glob.glob(os.path.join(d, "id_bucket=*")))
        for d in glob.glob(str(root / "sigs" / "batch=*"))
    ]
    assert len(fanout) == 2 and min(fanout) > 32

    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    prior = spark.conf.get(key)
    spark.conf.set(key, "40")
    try:
        counts = NeardupIndexState.compact(spark, str(root))
        assert spark.conf.get(key) == "40"
    finally:
        spark.conf.set(key, prior)
    # every document indexed once: 32 bands and one signature each
    assert counts == {"bands": 160 * 32, "sigs": 160}
    assert sorted(
        os.path.basename(d) for d in glob.glob(str(root / "sigs" / "batch=*"))
    ) == ["batch=1", "batch=compacted-1"]


def test_neardup_index_ttl_evicts_old_entries(spark, tmp_path):
    """ttl_batches: index rows older than the horizon stop screening —
    a near-copy of a doc indexed ttl_batches ago passes clean (and is
    itself indexed as the new original), while a near-copy within the
    horizon still flags. The same arrival order WITHOUT ttl flags the
    old original, pinning that eviction (not chance) made the
    difference."""
    from stream4flow_spark.streaming.llmingest import NeardupIndexState

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "today in the bright morning sun by the wall")
    near = base.replace("today", "tomorrow")
    near2 = base.replace("today", "yesterday")
    filler1 = ("unrelated sentence one about columnar storage formats and "
               "vectorized readers in modern analytical engines")
    filler2 = ("unrelated sentence two covering shuffle services dynamic "
               "allocation and executor decommissioning at scale")
    schema = "doc_id long, text string"

    def drain(ttl):
        st = NeardupIndexState(
            spark, str(tmp_path / f"ttl{ttl}"), threshold=0.5,
            ttl_batches=ttl,
        )
        for b, (i, t) in enumerate(
            [(0, base), (1, filler1), (2, filler2), (3, near), (4, near2)]
        ):
            st.apply_batch(spark.createDataFrame([(i, t)], schema), b)
        return {r.id: r.best_match_id for r in st.alerts}

    # ttl=2: doc 0 (batch 0) is out of horizon by batch 3 -> doc 3
    # passes clean and becomes the new original; doc 4 (batch 4) is a
    # near-copy WITHIN horizon of doc 3 -> flags against 3, not 0
    assert drain(2) == {4: 3}
    # no ttl: the original never expires -> both copies flag against 0
    assert drain(None) == {3: 0, 4: 0}


def test_neardup_ttl_boundary_and_disk_reclamation(spark, tmp_path):
    """r10 review findings: (a) ttl_batches=1 must keep the IMMEDIATELY
    preceding batch screening (the strict '>' compare silently disabled
    screening entirely at ttl=1); (b) auto-compaction on a TTL'd state
    must RECLAIM expired rows from disk, not copy them forward forever
    — after the horizon advances past a batch, its stamped rows vanish
    from the store."""
    from stream4flow_spark.streaming.llmingest import NeardupIndexState

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "today in the bright morning sun near the stone wall")
    near = base.replace("today", "tomorrow")
    schema = "doc_id long, text string"

    # (a) ttl=1 boundary: batch 0's rows must screen batch 1
    st = NeardupIndexState(
        spark, str(tmp_path / "b"), threshold=0.5, ttl_batches=1
    )
    st.apply_batch(spark.createDataFrame([(0, base)], schema), 0)
    st.apply_batch(spark.createDataFrame([(1, near)], schema), 1)
    assert {(r.id, r.best_match_id) for r in st.alerts} == {(1, 0)}

    # (b) reclamation: 5 unrelated single-doc batches, ttl=2,
    # auto_compact_dirs=3 — compactions at batches 2/3/4 prune rows
    # whose indexed_at fell below the live floor (last_batch - ttl)
    fillers = [
        f"filler document number {i} holding words alpha{i} beta{i} "
        f"gamma{i} delta{i} epsilon{i} zeta{i} eta{i} theta{i}"
        for i in range(5)
    ]
    st2 = NeardupIndexState(
        spark, str(tmp_path / "r"), threshold=0.5,
        ttl_batches=2, auto_compact_dirs=3,
    )
    for i, t in enumerate(fillers):
        st2.apply_batch(spark.createDataFrame([(i, t)], schema), i)
    stamps = {
        r.indexed_at
        for r in spark.read.parquet(str(tmp_path / "r" / "bands")).collect()
    }
    # floor at the last compaction (batch 4) = 4 - 2 = 2: batches 0 and
    # 1 are gone from disk, the live horizon (2, 3, 4) remains
    assert stamps == {2, 3, 4}, stamps


def test_half_written_index_recovers_on_redelivery(spark, tmp_path):
    """r10 review: a crash BETWEEN the two index writes (bands landed,
    sigs did not) must not crash-loop the restarted stream — the
    redelivered batch treats the half-written index as absent and
    overwrites both sides. Covered for the TTL'd form too (the filter
    on the missing side was the original AttributeError site), and for
    every two-store screen: they share one ``_read_index``."""
    import shutil

    from stream4flow_spark.streaming.llmingest import (
        NeardupIndexState,
        SemanticIndexState,
        WinnowIndexState,
    )

    text = ("the quick brown fox jumps over the lazy dog again and again "
            "today in the bright morning sun by the old wall")
    shared = ("the quick brown fox jumps over the lazy dog again and again "
              "today in the bright morning sun with a long enough shared run")
    docs_schema = "doc_id long, text string"
    vecs_schema = "vec_id long, embedding array<double>"
    cases = [
        # (state, its kwargs, the store that never landed, schema,
        #  first arrival, later near-copy of it)
        (NeardupIndexState, {"threshold": 0.5}, "sigs", docs_schema,
         (0, text), (1, text.replace("today", "tomorrow"))),
        (SemanticIndexState,
         {"num_planes": 2, "dim": 8, "num_tables": 8, "threshold": 0.5},
         "vecs", vecs_schema,
         (0, [1.0] + [0.0] * 7), (1, [0.9, 0.1] + [0.0] * 6)),
        (WinnowIndexState, {"threshold": 0.3}, "texts", docs_schema,
         (0, "prefix one " + shared + " suffix alpha"),
         (1, "other start " + shared + " different tail")),
    ]
    for state_cls, kwargs, missing, schema, first, near_row in cases:
        docs = spark.createDataFrame([first], schema)
        for ttl in (None, 2):
            d = tmp_path / f"{missing}-t{ttl}"
            st = state_cls(spark, str(d), ttl_batches=ttl, **kwargs)
            st.apply_batch(docs, 0)
            shutil.rmtree(str(d / missing))  # crash window: never landed
            st.apply_batch(docs, 0)  # redelivery must not raise
            assert st.alerts == []
            # index is whole again: a later near-copy flags against 0
            near = spark.createDataFrame([near_row], schema)
            st.apply_batch(near, 1)
            assert {(r.id, r.best_match_id) for r in st.alerts} == {(1, 0)}


def test_alert_history_survives_restart_and_bounds_driver_memory(
    spark, tmp_path, monkeypatch
):
    """r10 verdict item 3: alerts are a durable per-batch sink, not
    driver state. A FRESH state object over the same state_dir reads
    back every prior batch's alerts; the in-memory snapshot keeps only
    a bounded tail of recent batches, so a year-long continuous
    deployment holds O(tail), not O(lifetime), in the driver."""
    from stream4flow_spark.streaming.llmingest import NeardupIndexState

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "today in the bright morning sun by the harbor wall")
    nears = [base.replace("today", w) for w in ("tomorrow", "yesterday",
                                                "tonight")]
    schema = "doc_id long, text string"
    d = str(tmp_path / "nd")

    monkeypatch.setattr(NeardupIndexState, "ALERTS_TAIL_BATCHES", 2)
    st = NeardupIndexState(spark, d, threshold=0.5)
    st.apply_batch(spark.createDataFrame([(0, base)], schema), 0)
    for b, t in enumerate(nears, start=1):
        st.apply_batch(spark.createDataFrame([(b, t)], schema), b)

    want = {(1, 0), (2, 0), (3, 0)}  # every near-copy flags against 0
    assert {(r.id, r.best_match_id) for r in st.alerts} == want
    # driver memory: only the 2 most recent batches stay resident
    assert set(st._alerts_by_batch) == {2, 3}
    assert {(r.id, r.best_match_id) for r in st.recent_alerts} == {
        (2, 0), (3, 0)
    }

    # restart: a brand-new object over the same dir sees the full
    # durable history without having drained anything itself
    st2 = NeardupIndexState(spark, d, threshold=0.5)
    assert {(r.id, r.best_match_id) for r in st2.alerts} == want
    assert st2.recent_alerts == []


def test_winnow_ttl_boundary_and_disk_reclamation(spark, tmp_path):
    """r10 verdict item 7 (winnow tier): ttl_batches bounds the
    fingerprint/text stores to the recent horizon — an original that
    aged out no longer attracts flags (the later copy becomes the new
    original), ttl=1 keeps the immediately-preceding batch screening,
    and auto-compaction RECLAIMS expired rows from disk instead of
    copying them forward forever."""
    from stream4flow_spark.streaming.llmingest import WinnowIndexState

    shared = ("the quick brown fox jumps over the lazy dog again and "
              "again today in the bright morning sun with a long shared run")
    near = "other start " + shared + " different tail"
    near2 = "second head " + shared + " second tail"
    fillers = [
        f"filler document number {i} holding words alpha{i} beta{i} "
        f"gamma{i} delta{i} epsilon{i} zeta{i} eta{i} theta{i}"
        for i in range(2)
    ]
    schema = "doc_id long, text string"

    def drain(ttl, dirname):
        st = WinnowIndexState(
            spark, str(tmp_path / dirname), threshold=0.3, ttl_batches=ttl
        )
        for b, (i, t) in enumerate(
            [(0, "prefix one " + shared + " suffix alpha"),
             (1, fillers[0]), (2, fillers[1]), (3, near), (4, near2)]
        ):
            st.apply_batch(spark.createDataFrame([(i, t)], schema), b)
        return {r.id: r.best_match_id for r in st.alerts}

    # ttl=2: doc 0 (batch 0) is out of horizon by batch 3 -> doc 3
    # passes clean, becomes the new original; doc 4 flags against 3
    assert drain(2, "t2") == {4: 3}
    # no ttl: the original never expires -> both copies flag against 0
    assert drain(None, "tn") == {3: 0, 4: 0}

    # ttl=1 boundary: batch 0's rows must still screen batch 1
    st = WinnowIndexState(
        spark, str(tmp_path / "b1"), threshold=0.3, ttl_batches=1
    )
    st.apply_batch(
        spark.createDataFrame([(0, "prefix one " + shared + " tail")], schema), 0
    )
    st.apply_batch(spark.createDataFrame([(1, near)], schema), 1)
    assert {(r.id, r.best_match_id) for r in st.alerts} == {(1, 0)}

    # disk reclamation: 5 unrelated single-doc batches, ttl=2,
    # auto_compact_dirs=3 — the last compaction's floor (4 - 2 = 2)
    # prunes batches 0 and 1 from BOTH stores
    more = [
        f"reclaim filler {i} with words kappa{i} lambda{i} mu{i} nu{i} "
        f"xi{i} omicron{i} pi{i} rho{i} sigma{i} tau{i}"
        for i in range(5)
    ]
    st2 = WinnowIndexState(
        spark, str(tmp_path / "r"), threshold=0.3,
        ttl_batches=2, auto_compact_dirs=3,
    )
    for i, t in enumerate(more):
        st2.apply_batch(spark.createDataFrame([(i, t)], schema), i)
    for sub in ("fps", "texts"):
        stamps = {
            r.indexed_at
            for r in spark.read.parquet(str(tmp_path / "r" / sub)).collect()
        }
        assert stamps == {2, 3, 4}, (sub, stamps)


def test_exact_substr_ttl_boundary_and_disk_reclamation(spark, tmp_path):
    """r10 verdict item 7 (ExactSubstr tier): with ttl_batches the gram
    index stops cutting passages whose first copy aged out of the
    horizon — the later copy keeps its text and re-indexes as the new
    first occurrence — while ttl=1 still screens the immediately
    preceding batch, and compaction reclaims expired gram rows."""
    from stream4flow_spark.streaming.llmingest import ExactSubstrIndexState

    passage = " ".join(f"tok{i}" for i in range(20))  # 20 tokens >= min_len
    doc0 = "head0 " + passage + " tail0"
    doc1 = "head1 " + passage + " tail1"
    filler = [
        " ".join(f"f{b}w{i}" for i in range(18)) for b in range(3)
    ]
    schema = "doc_id long, text string"

    def drain(ttl, dirname, gap):
        st = ExactSubstrIndexState(
            spark, str(tmp_path / dirname), min_len=15, ttl_batches=ttl
        )
        st.apply_batch(spark.createDataFrame([(0, doc0)], schema), 0)
        for b in range(gap):
            st.apply_batch(
                spark.createDataFrame([(100 + b, filler[b])], schema), 1 + b
            )
        st.apply_batch(
            spark.createDataFrame([(1, doc1)], schema), 1 + gap
        )
        return {r.doc_id: r.n_removed for r in st.alerts}

    # ttl=2, copy arrives at batch 3: the original's grams expired ->
    # doc 1 passes UNCUT (and its alerts stay empty)
    assert drain(2, "t2", gap=2) == {}
    # unbounded: the copy is cut (alert row with n_removed > 0)
    got = drain(None, "tn", gap=2)
    assert set(got) == {1} and got[1] > 0
    # ttl=1 boundary: copy in the IMMEDIATELY next batch is still cut
    got = drain(1, "b1", gap=0)
    assert set(got) == {1} and got[1] > 0

    # disk reclamation via auto-compaction, ttl=2, auto_compact_dirs=3
    st2 = ExactSubstrIndexState(
        spark, str(tmp_path / "r"), min_len=15,
        ttl_batches=2, auto_compact_dirs=3,
    )
    texts = [
        " ".join(f"r{b}w{i}" for i in range(18)) for b in range(5)
    ]
    for b, t in enumerate(texts):
        st2.apply_batch(spark.createDataFrame([(b, t)], schema), b)
    stamps = {
        r.indexed_at
        for r in spark.read.parquet(str(tmp_path / "r" / "grams")).collect()
    }
    assert stamps == {2, 3, 4}, stamps


def test_stream_two_stage_contamination_matches_exact_path(spark, tmp_path):
    """r10 verdict item 6: the two-stage pipeline — map-side Bloom
    screen quarantines the n_suspect_grams >= threshold sliver, the
    EXACT contamination_counts runs only on that sliver — must flag
    EXACTLY the documents the exact path flags over everything (stage 1
    has no false negatives), while the measured exact-path input drops
    from the full corpus to the sliver."""
    import pandas as pd
    from pyspark.sql import functions as F

    from stream4flow_spark.llmdata.decontaminate import contamination_counts
    from stream4flow_spark.streaming.llmingest import ContaminationScreenState

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    train = docs.filter(F.col("doc_id") % 10 != 0)

    src = tmp_path / "docs"
    src.mkdir()
    pdf = train.toPandas()
    half = len(pdf) // 2
    for i, part in enumerate((pdf.iloc[:half], pdf.iloc[half:])):
        part.to_parquet(str(src / f"w{i}.parquet"), index=False)
    _pin_read_order([src / "w0.parquet", src / "w1.parquet"])

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    st = ContaminationScreenState(
        spark,
        str(tmp_path / "state"),
        bench,
        n=3,
        min_overlap=3,
        expected_grams=20_000,
    ).drain(stream, str(tmp_path / "ckpt"))

    got = {r.doc_id: r.n_contaminated_grams for r in st.alerts}
    want = {
        r.doc_id: r.n_contaminated_grams
        for r in contamination_counts(
            train, bench, n=3, hash_grams=True
        )
        .filter(F.col("n_contaminated_grams") >= 3)
        .collect()
    }
    assert got == want and len(want) > 0

    # measured reduction: the exact stage saw only the suspect sliver,
    # strictly smaller than the corpus, and never lost a true positive
    n_docs = sum(d for d, _ in st.screen_stats.values())
    n_suspects = sum(s for _, s in st.screen_stats.values())
    assert n_docs == train.count()
    assert len(want) <= n_suspects < n_docs, (n_suspects, n_docs)

    # the clean output is exactly the unflagged documents
    assert st.cleaned().count() == n_docs - len(want)


def test_stream_cdc_screen_matches_batch_and_ttl(spark, tmp_path):
    """CDC-on-arrival (CdcIndexState): an id-ordered drain through the
    growing chunk-fp index must reproduce the BATCH cdc_chunk_dedup
    audit row-for-row (the incremental parity property), surviving a
    restart between waves; alerts are the durable duplicated-doc rows;
    and ttl_batches expires the index so an out-of-horizon copy stops
    being blamed."""
    import pandas as pd
    from pyspark.sql import functions as F

    from stream4flow_spark.llmdata.dedup import cdc_chunk_dedup
    from stream4flow_spark.sources.tables import load_table
    from stream4flow_spark.streaming.llmingest import CdcIndexState

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    pdf = docs.orderBy("doc_id").toPandas()
    half = len(pdf) // 2
    src = tmp_path / "docs"
    src.mkdir()
    pdf.iloc[:half].to_parquet(str(src / "w0.parquet"), index=False)

    def run():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        return CdcIndexState(
            spark,
            str(tmp_path / "state"),
            divisor=8,
        ).drain(stream, str(tmp_path / "ckpt"))

    st = run()
    pdf.iloc[half:].to_parquet(str(src / "w1.parquet"), index=False)
    st = run()  # RESTART: fp index must have survived on disk

    got = {
        (r.doc_id, r.n_chunks, r.n_dup_chunks, r.n_dup_tokens)
        for r in st.audited().collect()
    }
    want = {
        (r.doc_id, r.n_chunks, r.n_dup_chunks, r.n_dup_tokens)
        for r in cdc_chunk_dedup(docs, divisor=8).collect()
    }
    assert got == want
    # alerts = exactly the documents with duplicated chunks, durable
    assert {r.doc_id for r in st.alerts} == {
        d for d, _, ndc, _ in want if ndc > 0
    }

    # TTL: a copy arriving past the horizon is NOT blamed (the index
    # expired), and the immediately-next batch still screens (ttl=1)
    text = " ".join(f"tok{i}" for i in range(24))
    schema = "doc_id long, text string"
    st2 = CdcIndexState(spark, str(tmp_path / "ttl"), ttl_batches=1)
    st2.apply_batch(spark.createDataFrame([(0, text)], schema), 0)
    st2.apply_batch(spark.createDataFrame([(1, text)], schema), 1)
    st2.apply_batch(spark.createDataFrame([(2, "filler words only here")], schema), 2)
    st2.apply_batch(spark.createDataFrame([(3, text)], schema), 3)
    flagged = {r.doc_id for r in st2.alerts}
    assert 1 in flagged       # within horizon: blamed
    assert 3 not in flagged   # index expired by batch 3: passes clean


def test_prune_alerts_retains_tail_only(spark, tmp_path):
    """r11 review: the durable alert stream needs a retention path —
    prune_alerts deletes all but the newest keep_last batch dirs (the
    newest always survives, preserving the redelivery-overwrite
    contract) and the alerts property thereafter returns the retained
    tail."""
    from stream4flow_spark.streaming.llmingest import (
        NeardupIndexState,
        _list_fs,
        prune_alerts,
    )

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "today in the bright morning sun beside the low wall")
    nears = [base.replace("today", w) for w in ("tomorrow", "yesterday",
                                                "tonight")]
    schema = "doc_id long, text string"
    d = str(tmp_path / "nd")
    st = NeardupIndexState(spark, d, threshold=0.5)
    st.apply_batch(spark.createDataFrame([(0, base)], schema), 0)
    for b, t in enumerate(nears, start=1):
        st.apply_batch(spark.createDataFrame([(b, t)], schema), b)
    assert {r.id for r in st.alerts} == {1, 2, 3}

    # batch 0 flagged nothing so it never wrote an alerts dir (the
    # r13 clean-batch skip); only batch 1's dir is prunable
    assert prune_alerts(spark, d, keep_last=2) == 1  # batch 1 gone
    assert len(_list_fs(spark, f"{d}/alerts/batch=*")) == 2
    assert {r.id for r in st.alerts} == {2, 3}
    assert prune_alerts(spark, d, keep_last=2) == 0  # idempotent


def test_semantic_ttl_boundary_and_disk_reclamation(spark, tmp_path):
    """r11 verdict item 2: SemanticIndexState was the LAST arrival
    index without horizon bounding — and its per-row state (embedding
    vectors) is the heaviest of the five tiers. Same contract as the
    MinHash/winnow twins: an original that aged out no longer attracts
    flags (the later copy becomes the new original), ttl=1 keeps the
    immediately-preceding batch screening, and auto-compaction RECLAIMS
    expired rows from BOTH stores instead of copying them forward."""
    from stream4flow_spark.streaming.llmingest import SemanticIndexState

    dim, planes, tables = 8, 2, 8
    v0 = [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    near = [0.9, 0.1, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]    # ~v0 (cos .994)
    near2 = [0.95, 0.05, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]  # ~v0 and ~near
    e = [[1.0 if j == i else 0.0 for j in range(dim)] for i in range(dim)]
    schema = "vec_id long, embedding array<double>"

    def drain(ttl, dirname):
        st = SemanticIndexState(
            spark, str(tmp_path / dirname), num_planes=planes, dim=dim,
            num_tables=tables, threshold=0.5, ttl_batches=ttl,
        )
        waves = [(0, v0), (1, e[4]), (2, e[5]), (3, near), (4, near2)]
        for b, (i, v) in enumerate(waves):
            st.apply_batch(spark.createDataFrame([(i, v)], schema), b)
        return {r.id: r.best_match_id for r in st.alerts}

    # ttl=2: vec 0 (batch 0) is out of horizon by batch 3 -> vec 3
    # passes clean, becomes the new original; vec 4 flags against 3
    assert drain(2, "t2") == {4: 3}
    # no ttl: the original never expires; 3 flags against 0 and is NOT
    # indexed, so 4 also flags against 0
    assert drain(None, "tn") == {3: 0, 4: 0}

    # ttl=1 boundary: batch 0's rows must still screen batch 1
    st = SemanticIndexState(
        spark, str(tmp_path / "b1"), num_planes=planes, dim=dim,
        num_tables=tables, threshold=0.5, ttl_batches=1,
    )
    st.apply_batch(spark.createDataFrame([(0, v0)], schema), 0)
    st.apply_batch(spark.createDataFrame([(1, near)], schema), 1)
    assert {(r.id, r.best_match_id) for r in st.alerts} == {(1, 0)}

    # disk reclamation: 5 orthogonal single-vector batches, ttl=2,
    # auto_compact_dirs=3 — the last compaction's floor (4 - 2 = 2)
    # prunes batches 0 and 1 from BOTH stores
    st2 = SemanticIndexState(
        spark, str(tmp_path / "r"), num_planes=planes, dim=dim,
        num_tables=tables, threshold=0.5,
        ttl_batches=2, auto_compact_dirs=3,
    )
    for i in range(5):
        st2.apply_batch(spark.createDataFrame([(i, e[i])], schema), i)
    for sub in ("buckets", "vecs"):
        stamps = {
            r.indexed_at
            for r in spark.read.parquet(str(tmp_path / "r" / sub)).collect()
        }
        assert stamps == {2, 3, 4}, (sub, stamps)


def test_ttl_over_pre_ttl_store_fails_loud_everywhere(spark, tmp_path):
    """r11 verdict item 6: the old behavior — TTL enabled over a store
    written without indexed_at stamps silently treats the WHOLE index
    as expired — meant one accidental flag flip stopped every prior
    document from screening new arrivals, with no error. Every TTL'd
    arrival index must now raise PreTtlIndexError instead."""
    import pytest

    from stream4flow_spark.streaming.llmingest import (
        CdcIndexState,
        ExactSubstrIndexState,
        NeardupIndexState,
        PreTtlIndexError,
        SemanticIndexState,
        WinnowIndexState,
    )

    text = ("the quick brown fox jumps over the lazy dog again and again "
            "today in the bright morning sun near the far wall and gate")
    doc_schema = "doc_id long, text string"
    vec_schema = "vec_id long, embedding array<double>"
    passage = " ".join(f"tok{i}" for i in range(20))

    cases = [
        (NeardupIndexState, {"threshold": 0.5},
         lambda i: spark.createDataFrame([(i, text)], doc_schema)),
        (WinnowIndexState, {"threshold": 0.3},
         lambda i: spark.createDataFrame([(i, text)], doc_schema)),
        (ExactSubstrIndexState, {"min_len": 15},
         lambda i: spark.createDataFrame([(i, passage)], doc_schema)),
        (CdcIndexState, {},
         lambda i: spark.createDataFrame([(i, passage)], doc_schema)),
        (SemanticIndexState, {"num_planes": 2, "dim": 8, "num_tables": 8},
         lambda i: spark.createDataFrame(
             [(i, [float(i == j) for j in range(8)])], vec_schema
         )),
    ]
    for cls, kw, mk in cases:
        d = str(tmp_path / cls.__name__)
        cls(spark, d, **kw).apply_batch(mk(0), 0)  # pre-TTL batch
        st = cls(spark, d, ttl_batches=4, **kw)
        with pytest.raises(PreTtlIndexError, match="backfill_indexed_at"):
            st.apply_batch(mk(1), 1)


def test_backfill_compaction_remediates_pre_ttl_store(spark, tmp_path):
    """The remediation the PreTtlIndexError message promises: a one-time
    compact_*_index(..., backfill_indexed_at=<batch>) stamps the folded
    pre-TTL rows, after which the TTL'd state reads the store and the
    backfilled originals screen new arrivals again. The newest batch
    dir is preserved unstamped (redelivery safety) and sits out the
    screen until the next compaction — the documented one-batch recall
    gap of the migration."""
    from stream4flow_spark.streaming.llmingest import NeardupIndexState

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "today in the bright morning sun beyond the old mill gate")
    near = base.replace("today", "tomorrow")
    filler = ("filler document holding words alpha beta gamma delta "
              "epsilon zeta eta theta iota kappa")
    schema = "doc_id long, text string"
    d = str(tmp_path / "nd")

    st = NeardupIndexState(spark, d, threshold=0.5)  # pre-TTL era
    st.apply_batch(spark.createDataFrame([(0, base)], schema), 0)
    st.apply_batch(spark.createDataFrame([(1, filler)], schema), 1)

    # backfill: folded rows (batch 0) get indexed_at=2; batch 1 is the
    # preserved-newest dir and stays unstamped
    NeardupIndexState.compact(spark, d, backfill_indexed_at=2)

    st2 = NeardupIndexState(spark, d, threshold=0.5, ttl_batches=4)
    st2.apply_batch(spark.createDataFrame([(2, near)], schema), 2)
    assert {(r.id, r.best_match_id) for r in st2.alerts} == {(2, 0)}


def test_alerts_df_accessor_and_collect_guard(spark, tmp_path, monkeypatch):
    """r11 verdict item 5: alerts_df() is the deployment-scale accessor
    — the durable history as a DataFrame, matching the collecting
    property row-for-row on a drained stream — and the property itself
    warns once the durable history outgrows the test-scale collect it
    was built for."""
    import warnings

    from stream4flow_spark.streaming.llmingest import NeardupIndexState

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "today in the bright morning sun across the narrow bridge")
    nears = [base.replace("today", w) for w in ("tomorrow", "yesterday")]
    schema = "doc_id long, text string"
    d = str(tmp_path / "nd")
    st = NeardupIndexState(spark, d, threshold=0.5)
    assert st.alerts_df() is None  # nothing drained yet
    st.apply_batch(spark.createDataFrame([(0, base)], schema), 0)
    for b, t in enumerate(nears, start=1):
        st.apply_batch(spark.createDataFrame([(b, t)], schema), b)

    df = st.alerts_df()
    assert "batch" in df.columns
    got = {(r.id, r.best_match_id) for r in df.collect()}
    assert got == {(r.id, r.best_match_id) for r in st.alerts} == {
        (1, 0), (2, 0)
    }

    # the collecting property warns past the dir budget; alerts_df never
    monkeypatch.setattr(NeardupIndexState, "ALERTS_COLLECT_WARN_DIRS", 1)
    with pytest.warns(ResourceWarning, match="alerts_df"):
        st.alerts
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        st.alerts_df().count()


def test_auto_prune_alerts_bounds_history_and_stays_idempotent(
    spark, tmp_path
):
    """r11 verdict item 7: auto_prune_alerts wires the manual
    prune_alerts into the batch loop — old alert dirs are deleted as
    the stream drains, the newest retained, and a foreachBatch
    redelivery of the newest batch still overwrites (not doubles) its
    own alerts."""
    from stream4flow_spark.streaming.llmingest import (
        NeardupIndexState,
        _list_fs,
    )

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "today in the bright morning sun behind the tall hedge")
    nears = [base.replace("today", w) for w in ("tomorrow", "yesterday",
                                                "tonight")]
    schema = "doc_id long, text string"
    d = str(tmp_path / "nd")
    st = NeardupIndexState(spark, d, threshold=0.5, auto_prune_alerts=2)
    st.apply_batch(spark.createDataFrame([(0, base)], schema), 0)
    for b, t in enumerate(nears, start=1):
        st.apply_batch(spark.createDataFrame([(b, t)], schema), b)

    dirs = _list_fs(spark, f"{d}/alerts/batch=*")
    assert sorted(p.rsplit("batch=", 1)[1] for p in dirs) == ["2", "3"]
    assert {(r.id, r.best_match_id) for r in st.alerts} == {(2, 0), (3, 0)}

    # redelivery of the newest batch: alerts unchanged, still 2 dirs
    st.apply_batch(spark.createDataFrame([(3, nears[2])], schema), 3)
    assert {(r.id, r.best_match_id) for r in st.alerts} == {(2, 0), (3, 0)}
    assert len(_list_fs(spark, f"{d}/alerts/batch=*")) == 2


def test_winnow_verify_fetch_prunes_text_store_scan(
    spark, tmp_path, split_bucket_writes
):
    """r11 verdict item 3: the r10 left-semi bounded what the verify
    TOKENIZES, but the text store was flat parquet, so per-batch verify
    I/O still READ the whole archive. With text_buckets the store is
    hash-partitioned by id_bucket and the fetch filters on the
    candidates' buckets — a LITERAL predicate, so the scan prunes
    STATICALLY at file listing: measured here as the pruned read
    touching exactly the candidate bucket's files, not the archive's,
    while the flags stay identical to the unbucketed layout."""
    import os

    from pyspark.sql import functions as F

    from stream4flow_spark.streaming.llmingest import WinnowIndexState

    shared = ("the quick brown fox jumps over the lazy dog again and "
              "again today in the bright morning sun with a long shared run")
    fillers = [
        f"archive filler number {i} holding words alpha{i} beta{i} "
        f"gamma{i} delta{i} epsilon{i} zeta{i} eta{i} theta{i}"
        for i in range(7)
    ]
    near = "other start " + shared + " different tail"
    schema = "doc_id long, text string"

    def drain(dirname, **kw):
        st = WinnowIndexState(
            spark, str(tmp_path / dirname), threshold=0.3, **kw
        )
        batches = [(0, "prefix one " + shared + " suffix alpha")] + [
            (i + 1, t) for i, t in enumerate(fillers)
        ] + [(100, near)]
        for b, (i, t) in enumerate(batches):
            st.apply_batch(spark.createDataFrame([(i, t)], schema), b)
        return st

    # parity: bucketed and flat layouts flag identically
    st = drain("bk", text_buckets=8)
    flat = drain("flat", text_buckets=None)
    want = {(r.id, r.best_match_id, r.best_jaccard) for r in flat.alerts}
    assert {(r.id, r.best_match_id, r.best_jaccard)
            for r in st.alerts} == want == {(100, 0, flat.alerts[0].best_jaccard)}

    # measured scan bound, via the state's own prune method over its
    # own store read: one candidate (cid=0) -> exactly the files under
    # that id's bucket partition are touched, out of the whole archive
    idx_texts = st._read_prior("texts", batch_id=10_000)
    assert "id_bucket" in idx_texts.columns
    cand = spark.createDataFrame([(100, 0, 3)], "id long, cid long, shared_fps long")
    pruned = st._prune_store_to_candidates(idx_texts, cand, 8)
    read_files = {
        r.f for r in pruned.select(
            F.input_file_name().alias("f")).distinct().collect()
    }
    b0 = spark.range(1).select(
        st._store_bucket(F.lit(0).cast("long"), 8)).first()[0]
    bucket_files, all_files = set(), set()
    for root, _, files in os.walk(str(tmp_path / "bk" / "texts")):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            p = os.path.join(root, fn)
            all_files.add(p)
            if f"id_bucket={b0}" in p:
                bucket_files.add(p)
    assert {f.replace("file://", "") for f in read_files} == bucket_files
    assert len(bucket_files) < len(all_files), (
        "prune test degenerate: every doc hashed into the candidate's "
        "bucket"
    )
    # the pruned plan carries the partition filter (static pruning,
    # not a runtime join filter)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "id_bucket" in plan.split("PartitionFilters", 1)[1][:200]

    # no candidates -> the store read is skipped entirely
    empty = st._prune_store_to_candidates(
        idx_texts, cand.filter(F.lit(False)), 8
    )
    assert empty.count() == 0
    assert empty.select(F.input_file_name()).distinct().count() == 0


def test_sig_and_vec_verify_stores_scan_prune(
    spark, tmp_path, split_bucket_writes
):
    """r12 generalization of the text-store scan bound: the MinHash
    tier's signature store and the semantic tier's vector store (the
    heaviest per-row state of all five) are also verify-side by-id
    fetches, so they get the same id_bucket layout — flags identical to
    the flat layout, and the pruned read touches only the candidate
    bucket's files."""
    import os

    from pyspark.sql import functions as F

    from stream4flow_spark.streaming.llmingest import (
        NeardupIndexState,
        SemanticIndexState,
    )

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "today in the bright morning sun beneath the orchard wall")
    fillers = [
        f"filler document number {i} holding words alpha{i} beta{i} "
        f"gamma{i} delta{i} epsilon{i} zeta{i} eta{i} theta{i}"
        for i in range(5)
    ]
    near = base.replace("today", "tomorrow")
    doc_schema = "doc_id long, text string"

    def drain_nd(dirname, **kw):
        st = NeardupIndexState(spark, str(tmp_path / dirname),
                               threshold=0.5, **kw)
        rows = [(0, base)] + list(enumerate(fillers, start=1)) + [(100, near)]
        for b, (i, t) in enumerate(rows):
            st.apply_batch(spark.createDataFrame([(i, t)], doc_schema), b)
        return st

    st = drain_nd("nd_bk", sig_buckets=8)
    flat = drain_nd("nd_flat", sig_buckets=None)
    assert {(r.id, r.best_match_id, r.est_jaccard) for r in st.alerts} == {
        (r.id, r.best_match_id, r.est_jaccard) for r in flat.alerts
    } == {(100, 0, flat.alerts[0].est_jaccard)}

    dim, planes, tables = 8, 2, 8
    v0 = [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    vnear = [0.9, 0.1, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    e = [[1.0 if j == i else 0.0 for j in range(dim)] for i in range(dim)]
    vec_schema = "vec_id long, embedding array<double>"

    def drain_se(dirname, **kw):
        st = SemanticIndexState(spark, str(tmp_path / dirname),
                                num_planes=planes, dim=dim,
                                num_tables=tables, threshold=0.5, **kw)
        rows = [(0, v0)] + [(i, e[i]) for i in range(2, 6)] + [(100, vnear)]
        for b, (i, v) in enumerate(rows):
            st.apply_batch(spark.createDataFrame([(i, v)], vec_schema), b)
        return st

    se = drain_se("se_bk", vec_buckets=8)
    se_flat = drain_se("se_flat", vec_buckets=None)
    assert {(r.id, r.best_match_id, r.cos) for r in se.alerts} == {
        (r.id, r.best_match_id, r.cos) for r in se_flat.alerts
    } == {(100, 0, se_flat.alerts[0].cos)}

    # measured scan bound for both stores, via the states' own prune
    # over their own store reads (candidate cid = 0)
    cand = spark.createDataFrame([(100, 0)], "id long, cid long")
    for state, sub, n_bk, root in (
        (st, "sigs", 8, tmp_path / "nd_bk" / "sigs"),
        (se, "vecs", 8, tmp_path / "se_bk" / "vecs"),
    ):
        idx = state._read_prior(sub, batch_id=10_000)
        assert "id_bucket" in idx.columns
        pruned = state._prune_store_to_candidates(idx, cand, n_bk)
        read_files = {
            r.f.replace("file://", "")
            for r in pruned.select(
                F.input_file_name().alias("f")).distinct().collect()
        }
        b0 = spark.range(1).select(
            state._store_bucket(F.lit(0).cast("long"), n_bk)).first()[0]
        bucket_files, all_files = set(), set()
        for rt, _, files in os.walk(str(root)):
            for fn in files:
                if fn.endswith(".parquet"):
                    p = os.path.join(rt, fn)
                    all_files.add(p)
                    if f"id_bucket={b0}" in p:
                        bucket_files.add(p)
        assert read_files == bucket_files, sub
        assert len(bucket_files) < len(all_files), sub


def test_auto_compact_guard_counts_in_memory(spark, tmp_path):
    """The auto-compaction guard must not pay an O(dirs) listing every
    batch — that listing is the exact degradation auto_compact_dirs
    exists to bound. It seeds from one listing, increments in memory
    per batch, and re-seeds only after a compaction rewrites the
    layout (cadence itself is pinned by the reclamation tests: stamps
    {2,3,4} after five batches at auto_compact_dirs=3)."""
    from stream4flow_spark.streaming.llmingest import NeardupIndexState

    schema = "doc_id long, text string"
    st = NeardupIndexState(
        spark, str(tmp_path / "nd"), threshold=0.5, auto_compact_dirs=100
    )
    for b in range(3):
        st.apply_batch(
            spark.createDataFrame(
                [(b, f"doc number {b} with words alpha{b} beta{b} "
                     f"gamma{b} delta{b}")], schema
            ),
            b,
        )
    # seeded at 1 on the first batch, then +1 per batch — no re-listing
    assert st._compact_dir_count == 3

    st2 = NeardupIndexState(
        spark, str(tmp_path / "nd2"), threshold=0.5, auto_compact_dirs=2
    )
    for b in range(2):
        st2.apply_batch(
            spark.createDataFrame(
                [(b, f"other doc {b} with words kappa{b} lambda{b} "
                     f"mu{b} nu{b}")], schema
            ),
            b,
        )
    # the second batch hit the threshold, compacted, and reset the
    # counter for a fresh seed
    assert st2._compact_dir_count is None


def test_store_layout_marker_prevents_silent_and_crashing_mismatches(
    spark, tmp_path
):
    """r12 review findings 1+2: the id_bucket layout is a property of
    the STORE — a `<sub>._layout` marker records it at first write.
    (a) A later session configuring a DIFFERENT bucket count raises
    StoreLayoutError instead of silently excluding the candidates'
    true partitions from the verify read (duplicates would pass
    unflagged). (b) A store written before bucketing existed (flat, no
    marker) is adopted as flat with a warning instead of writing a
    mixed layout that crash-loops every later read. (c) A matching
    session reads the marker and continues."""
    import shutil

    from stream4flow_spark.streaming.llmingest import (
        NeardupIndexState,
        StoreLayoutError,
    )

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "today in the bright morning sun along the river path")
    near = base.replace("today", "tomorrow")
    schema = "doc_id long, text string"
    d = str(tmp_path / "nd")

    st = NeardupIndexState(spark, d, threshold=0.5, sig_buckets=8)
    st.apply_batch(spark.createDataFrame([(0, base)], schema), 0)

    # (a) mismatched count fails loud before any read or write
    bad = NeardupIndexState(spark, d, threshold=0.5, sig_buckets=16)
    with pytest.raises(StoreLayoutError, match="sig_buckets=8"):
        bad.apply_batch(spark.createDataFrame([(1, near)], schema), 1)
    # flat-vs-bucketed mismatch is equally loud
    bad2 = NeardupIndexState(spark, d, threshold=0.5, sig_buckets=None)
    with pytest.raises(StoreLayoutError, match="sig_buckets=8"):
        bad2.apply_batch(spark.createDataFrame([(1, near)], schema), 1)

    # (c) matching session continues and screens across the restart
    ok = NeardupIndexState(spark, d, threshold=0.5, sig_buckets=8)
    ok.apply_batch(spark.createDataFrame([(1, near)], schema), 1)
    assert {(r.id, r.best_match_id) for r in ok.alerts} == {(1, 0)}

    # (b) pre-marker FLAT store + bucketed config: adopt flat, warn,
    # and keep screening — no mixed layout, no crash loop
    d2 = str(tmp_path / "legacy")
    legacy = NeardupIndexState(spark, d2, threshold=0.5, sig_buckets=None)
    legacy.apply_batch(spark.createDataFrame([(0, base)], schema), 0)
    import os
    os.remove(os.path.join(d2, "sigs._layout"))  # pre-marker era store
    up = NeardupIndexState(spark, d2, threshold=0.5, sig_buckets=64)
    with pytest.warns(UserWarning, match="predates id_bucket"):
        up.apply_batch(spark.createDataFrame([(1, near)], schema), 1)
    assert {(r.id, r.best_match_id) for r in up.alerts} == {(1, 0)}
    # the adopted layout was recorded: a third session with the
    # (ignored) bucketed config must ALSO read the store fine
    up2 = NeardupIndexState(spark, d2, threshold=0.5, sig_buckets=None)
    up2.apply_batch(spark.createDataFrame([(2, near + " tail")], schema), 2)
    assert {r.id for r in up2.alerts} >= {1, 2}
    shutil.rmtree(d2)


def test_empty_first_batch_does_not_brick_bucketed_store(spark, tmp_path):
    """r12 review finding 4: a bucketed write of an EMPTY micro-batch
    leaves only _SUCCESS (partitionBy emits no schema-bearing part
    file), so a store whose dirs are all empty used to crash schema
    inference on the next batch. The read now treats the all-empty
    store as absent and the stream keeps going."""
    from stream4flow_spark.streaming.llmingest import NeardupIndexState

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "today in the bright morning sun beside the quiet pond")
    near = base.replace("today", "tomorrow")
    schema = "doc_id long, text string"
    st = NeardupIndexState(
        spark, str(tmp_path / "nd"), threshold=0.5, sig_buckets=8
    )
    st.apply_batch(spark.createDataFrame([], schema), 0)  # empty batch
    st.apply_batch(spark.createDataFrame([(1, base)], schema), 1)
    st.apply_batch(spark.createDataFrame([(2, near)], schema), 2)
    assert {(r.id, r.best_match_id) for r in st.alerts} == {(2, 1)}


def test_backfill_migration_gap_closes_at_next_compaction(spark, tmp_path):
    """r12 review finding 3: the dir a backfill compaction preserves
    as-newest stays unstamped, and the next TTL'd fold's min_indexed_at
    filter used to DELETE its NULL rows — making the documented
    'one-fold recall gap' permanent. TTL'd auto-compaction now passes
    backfill_indexed_at=last_batch, so those rows are stamped
    as-if-indexed-now and screen again from the next fold on."""
    from stream4flow_spark.streaming.llmingest import NeardupIndexState

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "today in the bright morning sun over the winter field")
    near = base.replace("today", "tomorrow")
    filler = ("filler words rho sigma tau upsilon phi chi psi omega "
              "plus more padding tokens here")
    schema = "doc_id long, text string"
    d = str(tmp_path / "nd")

    # pre-TTL era: the ORIGINAL lands in the dir that backfill will
    # preserve as-newest (batch 1)
    st = NeardupIndexState(spark, d, threshold=0.5)
    st.apply_batch(spark.createDataFrame([(0, filler)], schema), 0)
    st.apply_batch(spark.createDataFrame([(1, base)], schema), 1)
    NeardupIndexState.compact(spark, d, backfill_indexed_at=2)

    # TTL'd era with a wide horizon and auto-compaction every 3 dirs:
    # batch 2 (filler) triggers nothing; batch 3 triggers the fold that
    # must STAMP batch 1's NULL rows, not delete them; batch 4's
    # near-copy must then flag against the migrated original
    st2 = NeardupIndexState(
        spark, d, threshold=0.5, ttl_batches=50, auto_compact_dirs=3
    )
    st2.apply_batch(
        spark.createDataFrame([(10, filler + " two")], schema), 2
    )
    st2.apply_batch(
        spark.createDataFrame([(11, filler + " three")], schema), 3
    )
    st2.apply_batch(spark.createDataFrame([(2, near)], schema), 4)
    assert (2, 1) in {(r.id, r.best_match_id) for r in st2.alerts}


def test_pre_marker_bucketed_store_trusts_config_and_restamps(
    spark, tmp_path, split_bucket_writes
):
    """The fourth layout-resolution branch: a store written by the
    short pre-marker era WITH id_bucket dirs has no marker to read —
    the configured count produced it, so it is trusted and the marker
    is written, after which a mismatching session fails loud like any
    marked store."""
    import os

    from stream4flow_spark.streaming.llmingest import (
        NeardupIndexState,
        StoreLayoutError,
    )

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "today in the bright morning sun past the harvest barn")
    near = base.replace("today", "tomorrow")
    schema = "doc_id long, text string"
    d = str(tmp_path / "nd")
    st = NeardupIndexState(spark, d, threshold=0.5, sig_buckets=8)
    st.apply_batch(spark.createDataFrame([(0, base)], schema), 0)
    os.remove(os.path.join(d, "sigs._layout"))  # pre-marker era

    re8 = NeardupIndexState(spark, d, threshold=0.5, sig_buckets=8)
    re8.apply_batch(spark.createDataFrame([(1, near)], schema), 1)
    assert {(r.id, r.best_match_id) for r in re8.alerts} == {(1, 0)}
    assert os.path.exists(os.path.join(d, "sigs._layout"))  # restamped

    bad = NeardupIndexState(spark, d, threshold=0.5, sig_buckets=16)
    with pytest.raises(StoreLayoutError, match="sig_buckets=8"):
        bad.apply_batch(spark.createDataFrame([(2, near)], schema), 2)

    # r13 advice: the range check alone is one-directional — a session
    # configuring MORE buckets than the store was written with (8 on
    # disk, 32 configured; max observed id_bucket 7 < 32) passes it and
    # would stamp the wrong count, leaving the verify fetch pruning
    # against the wrong modulus. The sampled re-hash check must catch it.
    os.remove(os.path.join(d, "sigs._layout"))  # pre-marker era again
    wider = NeardupIndexState(spark, d, threshold=0.5, sig_buckets=32)
    with pytest.raises(StoreLayoutError, match="disagree"):
        wider.apply_batch(spark.createDataFrame([(3, near)], schema), 3)
    assert not os.path.exists(os.path.join(d, "sigs._layout"))  # unstamped


def test_screen_params_pinned_to_store(spark, tmp_path):
    """The parameter sibling of the layout marker: index-DEFINING
    parameters (permutation counts, winnow k/window, CDC divisor,
    ExactSubstr gram length, LSH plane family) are recorded at the
    store's first batch — a 'tuned' restart whose fingerprints could
    never match the stored rows fails loud instead of silently going
    blind to the whole prior corpus. A store pinned to a retired hash
    kernel (winnow "rolling", CDC "xxhash") fails the same way before
    the batch reads or writes the index; the same store pinned "md5"
    screens. Read-time knobs (threshold) stay free; a pre-marker store
    adopts the session's values."""
    import json
    import os

    from stream4flow_spark.llmdata.export import _write_side_file
    from stream4flow_spark.streaming.llmingest import (
        CdcIndexState,
        NeardupIndexState,
        ScreenParamsError,
        WinnowIndexState,
    )

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "today in the bright morning sun beyond the cedar grove")
    near = base.replace("today", "tomorrow")
    schema = "doc_id long, text string"

    # (state, built kwargs, restart kwargs, marker override, key)
    cases = [
        (NeardupIndexState, {"num_perm": 64}, {"num_perm": 32}, {},
         "num_perm"),
        (WinnowIndexState, {"k": 16}, {"k": 8}, {}, "k"),
        (CdcIndexState, {"divisor": 8}, {"divisor": 16}, {}, "divisor"),
        (WinnowIndexState, {}, {}, {"hash_mode": "rolling"}, "hash_mode"),
        (CdcIndexState, {}, {}, {"hash_mode": "xxhash"}, "hash_mode"),
    ]
    for i, (cls, built_kw, tuned_kw, pin, key) in enumerate(cases):
        d = str(tmp_path / f"{cls.__name__}{i}")
        marker = f"{d}/_screen_params"
        st = cls(spark, d, **built_kw)
        st.apply_batch(spark.createDataFrame([(0, base)], schema), 0)
        built = json.loads(open(marker).read())
        if pin:
            assert built["hash_mode"] == "md5"
            _write_side_file(spark, marker, json.dumps({**built, **pin}))
        tuned = cls(spark, d, **tuned_kw)
        with pytest.raises(ScreenParamsError, match=key):
            tuned.apply_batch(spark.createDataFrame([(1, near)], schema), 1)
        # refused before the index was touched: no batch-1 dir anywhere
        assert not [
            sub for sub in os.listdir(d)
            if os.path.exists(os.path.join(d, sub, "batch=1"))
        ]
        if pin:
            _write_side_file(spark, marker, json.dumps(built))
        # matching parameters continue fine across the restart
        again = cls(spark, d, **built_kw)
        again.apply_batch(spark.createDataFrame([(1, near)], schema), 1)
        if pin:
            # the md5-pinned store screens: the near copy is flagged
            assert 1 in {r[0] for r in again.alerts}

    # read-time knobs are NOT pinned: a different threshold is fine
    d = str(tmp_path / "thr")
    NeardupIndexState(spark, d, threshold=0.5).apply_batch(
        spark.createDataFrame([(0, base)], schema), 0
    )
    st2 = NeardupIndexState(spark, d, threshold=0.9)
    st2.apply_batch(spark.createDataFrame([(1, near)], schema), 1)

    # pre-marker store: adopt the session's values and stamp
    d = str(tmp_path / "legacy")
    NeardupIndexState(spark, d).apply_batch(
        spark.createDataFrame([(0, base)], schema), 0
    )
    os.remove(os.path.join(d, "_screen_params"))
    st3 = NeardupIndexState(spark, d)
    st3.apply_batch(spark.createDataFrame([(1, near)], schema), 1)
    assert os.path.exists(os.path.join(d, "_screen_params"))
    assert {(r.id, r.best_match_id) for r in st3.alerts} == {(1, 0)}


def test_read_prior_reraises_non_empty_store_analysis_errors():
    """r12 advice (medium): the empty-store leniency in the index read
    and compaction is scoped to the ONE error it documents —
    UNABLE_TO_INFER_SCHEMA from all-empty batch dirs. Every other
    AnalysisException must PROPAGATE and fail the batch instead of
    silently disabling screening (the store would read as absent and
    near-copies would pass unflagged). Unit-level because Spark
    surfaces the realistic corrupt-layout failures as
    SparkRuntimeException/Py4JJavaError (which the except clause never
    caught); the AnalysisException family is what the gate scopes."""
    from pyspark.errors import AnalysisException

    from stream4flow_spark.streaming.llmingest import (
        _raise_unless_empty_store,
    )

    # the documented empty-store error passes the gate (no raise),
    # whether identified by condition or by message fallback
    class _WithCond(AnalysisException):
        def __init__(self, cond, msg):
            super().__init__(message=msg)
            self._cond = cond

        def getCondition(self):
            return self._cond

        def getErrorClass(self):
            return self._cond

    _raise_unless_empty_store(
        _WithCond("UNABLE_TO_INFER_SCHEMA",
                  "[UNABLE_TO_INFER_SCHEMA] Unable to infer schema")
    )
    _raise_unless_empty_store(
        AnalysisException(message="[UNABLE_TO_INFER_SCHEMA] no footer")
    )

    # ANY other condition re-raises — by condition...
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        _raise_unless_empty_store(
            _WithCond("PATH_NOT_FOUND", "[PATH_NOT_FOUND] gone")
        )
    # ...and by message fallback when no condition is attached
    with pytest.raises(AnalysisException, match="UNSUPPORTED"):
        _raise_unless_empty_store(
            AnalysisException(message="[UNSUPPORTED_OPTION] bad option")
        )


def test_compact_reclaims_all_empty_store_dirs(spark, tmp_path):
    """r12 advice: when every batch dir is empty (bucketed empty
    writes), compaction used to report 0 and leave the dirs in place —
    with auto_compact_dirs set, the guard re-triggered (and re-failed
    to shrink) every micro-batch forever. The empty-fold path now
    reclaims the non-newest empty dirs like the normal fold does."""
    import glob
    import os

    from stream4flow_spark.streaming.llmingest import NeardupIndexState

    schema = "doc_id long, text string"
    d = str(tmp_path / "nd")
    st = NeardupIndexState(spark, d, threshold=0.5, sig_buckets=8)
    for b in range(4):  # four all-empty micro-batches accumulate dirs
        st.apply_batch(spark.createDataFrame([], schema), b)
    assert len(glob.glob(os.path.join(d, "sigs", "batch=*"))) == 4
    out = NeardupIndexState.compact(spark, d)
    assert out == {"bands": 0, "sigs": 0}
    # the bucketed sigs store hits the empty-inference path: only the
    # newest dir survives (redelivery safety). The flat bands store's
    # empty writes DO carry schema, so it folds normally (newest +
    # one consolidated dir) — both shrink below any compaction guard.
    left = glob.glob(os.path.join(d, "sigs", "batch=*"))
    assert [os.path.basename(p) for p in left] == ["batch=3"]
    bands_left = sorted(
        os.path.basename(p)
        for p in glob.glob(os.path.join(d, "bands", "batch=*"))
    )
    assert bands_left == ["batch=3", "batch=compacted-1"]
    # and the store still works: a real batch pair screens normally
    base = ("the quick brown fox jumps over the lazy dog again and again "
            "today in the bright morning sun behind the old mill")
    near = base.replace("today", "tomorrow")
    st.apply_batch(spark.createDataFrame([(1, base)], schema), 4)
    st.apply_batch(spark.createDataFrame([(2, near)], schema), 5)
    assert {(r.id, r.best_match_id) for r in st.alerts} == {(2, 1)}


def test_external_compaction_mid_lifetime_keeps_consolidated_index(
    spark, tmp_path
):
    """The r14 per-lifetime store-schema cache must survive a
    module-level compact_*_index call issued while the state object
    lives (an operator compacting out-of-band): the consolidated dir is
    ``batch=compacted-<gen>``, and a cached int-typed ``batch``
    partition column would either fail the partition-value cast or
    NULL it and silently drop the whole consolidated index. The cache
    pins ``batch`` to string, so a near-copy arriving after the
    external compaction still flags against the pre-compaction
    original."""
    from stream4flow_spark.streaming.llmingest import NeardupIndexState

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "today in the bright morning sun behind the old mill")
    near = base.replace("today", "tomorrow")
    schema = "doc_id long, text string"
    d = str(tmp_path / "nd")
    st = NeardupIndexState(spark, d, threshold=0.5, sig_buckets=8)
    st.apply_batch(spark.createDataFrame([(0, base)], schema), 0)
    # batch 1 READS the stores -> caches their schemas for the lifetime
    st.apply_batch(
        spark.createDataFrame(
            [(1, "totally unrelated text about parquet files and "
                 "columnar formats for analytics today")], schema
        ),
        1,
    )
    out = NeardupIndexState.compact(spark, d)  # out-of-band: cache survives
    assert out["sigs"] == 2
    st.apply_batch(spark.createDataFrame([(2, near)], schema), 2)
    assert {(r.id, r.best_match_id) for r in st.alerts} == {(2, 0)}


def test_bucketed_store_writes_and_folds_run_one_task_per_core(
    spark, tmp_path, monkeypatch, split_bucket_writes
):
    """A 64-bucket signature store pays a task per core, not per
    bucket: the per-batch write and the auto-compaction fold each run
    their write stage on min(64, cores) tasks, and every
    ``id_bucket`` dir, the consolidated ones included, still holds
    exactly one parquet file. Each parquet write runs under its own
    job group, and the status tracker gives the task count of the
    group's last (writing) stage."""
    import glob
    import itertools

    from pyspark.sql import DataFrameWriter

    from stream4flow_spark.streaming.llmingest import NeardupIndexState

    sc = spark.sparkContext
    seq = itertools.count()
    groups = []  # (target path, job group), in write order
    parquet = DataFrameWriter.parquet

    def grouped_parquet(self, path, *args, **kwargs):
        # job groups are thread-local, so this also tags the writes
        # _parallel_writes runs on its worker threads
        group = f"write-{next(seq)}"
        groups.append((path, group))
        sc.setJobGroup(group, path)
        try:
            return parquet(self, path, *args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    monkeypatch.setattr(DataFrameWriter, "parquet", grouped_parquet)
    schema = "doc_id long, text string"
    d = str(tmp_path / "nd")
    st = NeardupIndexState(
        spark, d, threshold=0.5, sig_buckets=64, auto_compact_dirs=3
    )
    for b in range(4):  # folds after batches 2 and 3
        docs = [
            (b * 100 + i, " ".join(f"b{b}d{i}w{j}" for j in range(12)))
            for i in range(40)
        ]
        st.apply_batch(spark.createDataFrame(docs, schema), b)
    monkeypatch.undo()
    sc._jsc.sc().listenerBus().waitUntilEmpty()

    tracker = sc.statusTracker()

    def write_stage_tasks(group):
        last_job = tracker.getJobInfo(max(tracker.getJobIdsForGroup(group)))
        return tracker.getStageInfo(max(last_job.stageIds)).numTasks

    cap = min(64, sc.defaultParallelism)
    batch_writes = [
        g for p, g in groups if p.startswith(f"{d}/sigs/batch=")
    ]
    folds = [g for p, g in groups if p == f"{d}/__compact_sigs"]
    assert len(batch_writes) == 4 and len(folds) == 2
    for g in batch_writes:
        assert write_stage_tasks(g) <= cap
    for g in folds:
        # an explicit partition count: AQE cannot coalesce the fold's
        # shuffle to one task that writes every bucket file in turn
        assert write_stage_tasks(g) == cap

    bucket_dirs = glob.glob(f"{d}/sigs/batch=*/id_bucket=*")
    assert any("batch=compacted-2" in p for p in bucket_dirs)
    assert len(bucket_dirs) > cap  # several buckets per task
    for p in bucket_dirs:
        assert len(glob.glob(f"{p}/*.parquet")) == 1, p


@pytest.mark.parametrize("ttl", [None, 10])
def test_auto_compaction_keeps_store_schema_cache(spark, tmp_path, ttl):
    """maybe_compact folds with the state's cached store schemas and
    keeps them: a near-copy of a document that, after the fold, lives
    only in ``batch=compacted-1`` still flags on the next batch, with
    TTL off and on. The store was written by an earlier state object,
    so the folding object opens an existing store."""
    import glob

    from stream4flow_spark.streaming.llmingest import NeardupIndexState

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "today in the bright morning sun beside the stone bridge")
    near = base.replace("today", "tomorrow")
    filler = ("filler words rho sigma tau upsilon phi chi psi omega "
              "plus more padding tokens here")
    schema = "doc_id long, text string"
    d = str(tmp_path / "nd")
    NeardupIndexState(spark, d, threshold=0.5, ttl_batches=ttl).apply_batch(
        spark.createDataFrame([(0, base)], schema), 0
    )
    st = NeardupIndexState(
        spark, d, threshold=0.5, ttl_batches=ttl, auto_compact_dirs=3
    )
    other = ("columnar formats keep parquet row groups small enough "
             "for the reader to skip most of them quickly")
    st.apply_batch(spark.createDataFrame([(1, filler)], schema), 1)
    st.apply_batch(spark.createDataFrame([(2, other)], schema), 2)
    for sub in ("bands", "sigs"):
        dirs = sorted(glob.glob(f"{d}/{sub}/batch=*"))
        assert [p.rsplit("/", 1)[1] for p in dirs] == [
            "batch=2", "batch=compacted-1"
        ]
    ids = {
        r.id for r in spark.read.parquet(f"{d}/sigs/batch=compacted-1")
        .select("id").collect()
    }
    assert ids == {0, 1}
    assert set(st._store_schemas) == {"bands", "sigs"}  # kept by the fold
    st.apply_batch(spark.createDataFrame([(3, near)], schema), 3)
    assert {(r.id, r.best_match_id) for r in st.alerts} == {(3, 0)}


def test_auto_fold_with_cached_schema_stamps_backfill_preserved_dir(
    spark, tmp_path
):
    """A backfill compaction preserves the newest pre-TTL dir
    unstamped. The next auto-compaction folds with the TTL'd state's
    cached (merged) schema, which carries ``indexed_at``, so it stamps
    that dir's rows, and they screen the next batch."""
    import glob

    from stream4flow_spark.streaming.llmingest import NeardupIndexState

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "today in the bright morning sun under the orchard trees")
    near = base.replace("today", "tomorrow")
    filler = ("filler words rho sigma tau upsilon phi chi psi omega "
              "plus more padding tokens here")
    schema = "doc_id long, text string"
    d = str(tmp_path / "nd")
    pre = NeardupIndexState(spark, d, threshold=0.5)
    pre.apply_batch(spark.createDataFrame([(0, filler)], schema), 0)
    pre.apply_batch(spark.createDataFrame([(1, base)], schema), 1)
    NeardupIndexState.compact(spark, d, backfill_indexed_at=2)

    st = NeardupIndexState(
        spark, d, threshold=0.5, ttl_batches=50, auto_compact_dirs=3
    )
    # batch 2 reads (caching the merged schemas), then folds
    # compacted-1 + batch=1 into compacted-2, stamping batch 1's rows
    other = ("columnar formats keep parquet row groups small enough "
             "for the reader to skip most of them quickly")
    st.apply_batch(spark.createDataFrame([(10, other)], schema), 2)
    assert st.alerts == []
    assert sorted(
        p.rsplit("/", 1)[1] for p in glob.glob(f"{d}/sigs/batch=*")
    ) == ["batch=2", "batch=compacted-2"]
    stamps = {
        r.id: r.indexed_at
        for r in spark.read.parquet(f"{d}/sigs/batch=compacted-2")
        .select("id", "indexed_at").collect()
    }
    assert stamps == {0: 2, 1: 2}
    st.apply_batch(spark.createDataFrame([(3, near)], schema), 3)
    assert {(r.id, r.best_match_id) for r in st.alerts} == {(3, 1)}


def test_markers_over_empty_store_adopt_session_values(spark, tmp_path):
    """r12 advice: the param/layout pins are written before the first
    batch's store writes, so a crash inside that first batch leaves
    markers pinning an EMPTY store. A restart with different settings
    must not brick on a phantom pin — nothing is indexed, so the new
    session's values are adopted and re-stamped."""
    import json
    import os

    from stream4flow_spark.streaming.llmingest import NeardupIndexState

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "today in the bright morning sun beneath the tall pines")
    near = base.replace("today", "tomorrow")
    schema = "doc_id long, text string"
    d = str(tmp_path / "nd")

    # simulate the crash window: markers written, no store data landed
    crashed = NeardupIndexState(spark, d, threshold=0.5,
                                num_perm=64, sig_buckets=8)
    crashed._check_screen_params()
    crashed._resolve_store_buckets("sigs", 8)
    assert os.path.exists(os.path.join(d, "_screen_params"))
    assert os.path.exists(os.path.join(d, "sigs._layout"))
    assert not os.path.exists(os.path.join(d, "sigs"))

    # a restart with DIFFERENT index-defining params and layout runs
    # fine: the phantom pins are replaced by this session's values...
    st = NeardupIndexState(spark, d, threshold=0.5,
                           num_perm=32, sig_buckets=16)
    st.apply_batch(spark.createDataFrame([(0, base)], schema), 0)
    st.apply_batch(spark.createDataFrame([(1, near)], schema), 1)
    assert {(r.id, r.best_match_id) for r in st.alerts} == {(1, 0)}
    stamped = json.load(open(os.path.join(d, "_screen_params")))
    assert stamped["num_perm"] == 32
    assert open(os.path.join(d, "sigs._layout")).read().strip() == "16+whole"

    # ...and once data exists the pins protect it again as usual
    from stream4flow_spark.streaming.llmingest import ScreenParamsError

    late = NeardupIndexState(spark, d, threshold=0.5,
                             num_perm=64, sig_buckets=16)
    with pytest.raises(ScreenParamsError, match="num_perm"):
        late.apply_batch(spark.createDataFrame([(2, near)], schema), 2)


def test_pre_marker_bucketed_store_layout_cross_check(spark, tmp_path):
    """r12 advice: the pre-marker bucketed branch used to trust the
    session's bucket count blind. The on-disk id_bucket values are now
    cross-checked before stamping: a count smaller than an observed
    value (pmod never emits >= its modulus) or a flat config over
    bucketed dirs raises StoreLayoutError instead of silently pruning
    the wrong partitions at verify time."""
    import os

    from stream4flow_spark.streaming.llmingest import (
        NeardupIndexState,
        StoreLayoutError,
    )

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "today in the bright morning sun beside the stone bridge")
    near = base.replace("today", "tomorrow")
    schema = "doc_id long, text string"
    d = str(tmp_path / "nd")
    # enough distinct docs that some id_bucket value lands >= 2
    rows = [(i, f"{base} variant {i}") for i in range(12)]
    st = NeardupIndexState(spark, d, threshold=0.5, sig_buckets=8)
    st.apply_batch(spark.createDataFrame(rows, schema), 0)
    os.remove(os.path.join(d, "sigs._layout"))  # marker lost

    # a session configuring FEWER buckets than an observed dir value
    # proves the mismatch and fails loud
    bad = NeardupIndexState(spark, d, threshold=0.5, sig_buckets=2)
    with pytest.raises(StoreLayoutError, match="inconsistent"):
        bad.apply_batch(spark.createDataFrame([(100, near)], schema), 1)

    # so does a flat config over visibly bucketed dirs
    os.path.exists(os.path.join(d, "sigs._layout")) and os.remove(
        os.path.join(d, "sigs._layout")
    )
    flat = NeardupIndexState(spark, d, threshold=0.5, sig_buckets=None)
    with pytest.raises(StoreLayoutError, match="inconsistent"):
        flat.apply_batch(spark.createDataFrame([(100, near)], schema), 1)


def test_clean_batch_skips_alert_write_but_redelivery_overwrites(
    spark, tmp_path
):
    """r12 verdict item 4 (fixed-cost shave): a batch that flags
    nothing no longer pays a write job for an empty alerts dir — the
    dir simply doesn't exist. Correctness guards: (a) the durable
    history and the collecting property still agree; (b) a redelivery
    whose EARLIER attempt wrote alerts still overwrites the dir even
    when the retry flags nothing (threshold is a read-time knob, so a
    restarted session CAN legitimately flag differently)."""
    import os

    from stream4flow_spark.streaming.llmingest import (
        NeardupIndexState,
        _list_fs,
    )

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "today in the bright morning sun beyond the gravel road")
    near = base.replace("today", "tomorrow")
    schema = "doc_id long, text string"
    d = str(tmp_path / "nd")
    st = NeardupIndexState(spark, d, threshold=0.5)
    st.apply_batch(spark.createDataFrame([(0, base)], schema), 0)
    # (a) clean batch: NO alerts dir at all, history still consistent
    assert not _list_fs(spark, f"{d}/alerts/batch=*")
    assert st.alerts == [] and st.recent_alerts == []
    assert st.alerts_df() is None

    st.apply_batch(spark.createDataFrame([(1, near)], schema), 1)
    assert [os.path.basename(p).rsplit("=", 1)[1]
            for p in _list_fs(spark, f"{d}/alerts/batch=*")] == ["1"]
    assert {(r.id, r.best_match_id) for r in st.alerts} == {(1, 0)}

    # (b) redeliver batch 1 under a stricter read-time threshold: the
    # retry flags nothing but the stale dir from the first attempt
    # exists, so it is overwritten (not left lying)
    strict = NeardupIndexState(spark, d, threshold=0.99)
    strict.apply_batch(spark.createDataFrame([(1, near)], schema), 1)
    assert _list_fs(spark, f"{d}/alerts/batch=1")  # dir still there
    assert strict.alerts == []  # ...but now holds the retry's truth


def _near_dup_docs(batch: int, n_docs: int, n_back: int = 0):
    """``n_docs`` documents for micro-batch ``batch``: the first
    ``n_back`` are near-copies of documents of batch ``batch - 1``
    (one word changed), the last is a near-copy of the one before it,
    and the rest are unique."""
    def text(doc_id):
        return " ".join(f"t{doc_id}w{j}" for j in range(20))

    rows = []
    for i in range(n_docs):
        doc = batch * 1000 + i
        if i < n_back:
            t = text((batch - 1) * 1000 + n_docs // 2 + i) + " tail"
        elif i == n_docs - 1:
            t = text(doc - 1) + " tail"
        else:
            t = text(doc)
        rows.append((doc, t))
    return rows


def test_small_bucketed_writes_and_folds_commit_one_file(
    spark, tmp_path, monkeypatch
):
    """A store whose writes stay below Spark's file-open cost commits
    ONE parquet file per per-batch signature write and per fold, all in
    the whole-store dir ``id_bucket=<sig_buckets>``, and flags exactly
    what the flat layout and the split layout flag. Each flat
    ``bands/batch=<n>`` dir holds one parquet file too."""
    import glob

    from pyspark.sql import DataFrameWriter

    from stream4flow_spark.streaming.llmingest import NeardupIndexState

    schema = "doc_id long, text string"
    parquet = DataFrameWriter.parquet
    writes = []  # (signature-store path, its parquet files), in order
    band_files = []  # parquet file count of each bands/batch=<n> write

    def counted_parquet(self, path, *args, **kwargs):
        out = parquet(self, path, *args, **kwargs)
        files = sorted(
            p[len(path):]
            for p in glob.glob(f"{path}/**/*.parquet", recursive=True)
        )
        if "/sigs/batch=" in path or path.endswith("__compact_sigs"):
            writes.append((path, files))
        if "/bands/batch=" in path:
            band_files.append(len(files))
        return out

    monkeypatch.setattr(DataFrameWriter, "parquet", counted_parquet)

    def drain(dirname, **kw):
        writes.clear()
        band_files.clear()
        st = NeardupIndexState(
            spark, str(tmp_path / dirname), threshold=0.5,
            auto_compact_dirs=3, **kw
        )
        for b in range(4):  # folds after batches 2 and 3
            st.apply_batch(spark.createDataFrame(
                _near_dup_docs(b, 100, n_back=5 if b else 0), schema
            ), b)
        return {(r.id, r.best_match_id, r.est_jaccard) for r in st.alerts}

    got = drain("whole")
    assert band_files == [1] * 4
    assert [p.rsplit("/", 1)[1] for p, _ in writes] == [
        "batch=0", "batch=1", "batch=2", "__compact_sigs",
        "batch=3", "__compact_sigs",
    ]
    for path, parts in writes:
        assert len(parts) == 1 and parts[0].startswith("/id_bucket=64/"), (
            path, parts
        )
    assert len(got) == 1 + 3 * 6  # an intra-batch copy + 5 back per batch
    assert drain("flat", sig_buckets=None) == got
    assert band_files == [1] * 4
    with _split_writes():
        assert drain("split") == got
    assert all(len(parts) > 1 for _, parts in writes)
    assert not any("id_bucket=64" in p for _, parts in writes for p in parts)


@pytest.mark.parametrize("ttl", [None, 10])
def test_mixed_split_and_whole_store_screens_like_flat(spark, tmp_path, ttl):
    """A store holding split batch dirs (written past the file-open
    cost) beside whole-store dirs screens and folds exactly like the
    flat layout, with TTL off and on: split batches, then whole
    batches, then a split ``State.compact`` that re-buckets the whole
    rows by id, a whole batch, a whole ``State.compact``, and a last
    batch of near-copies of every earlier batch."""
    import glob

    from pyspark.sql import functions as F

    from stream4flow_spark.streaming.llmingest import NeardupIndexState

    schema = "doc_id long, text string"

    def run(dirname, sig_buckets):
        d = str(tmp_path / dirname)
        st = NeardupIndexState(
            spark, d, threshold=0.5, sig_buckets=sig_buckets,
            ttl_batches=ttl,
        )

        def batch(b, rows):
            st.apply_batch(spark.createDataFrame(rows, schema), b)

        with _split_writes():
            batch(0, _near_dup_docs(0, 8))
            batch(1, _near_dup_docs(1, 8, n_back=2))
        batch(2, _near_dup_docs(2, 8, n_back=2))
        batch(3, _near_dup_docs(3, 8, n_back=2))
        if sig_buckets is not None:
            tails = {
                p.rsplit("=", 1)[1]
                for p in glob.glob(f"{d}/sigs/batch=*/id_bucket=*")
            }
            assert "8" in tails and len(tails) > 1  # whole + split dirs
        with _split_writes():
            folded = [NeardupIndexState.compact(spark, d)]
        if sig_buckets is not None:
            rows = spark.read.parquet(f"{d}/sigs/batch=compacted-1")
            assert rows.filter(
                NeardupIndexState._store_bucket(F.col("id"), sig_buckets)
                != F.col("id_bucket")
            ).count() == 0  # whole-dir rows re-bucketed by id
        batch(4, _near_dup_docs(4, 8, n_back=2))
        folded.append(NeardupIndexState.compact(spark, d))
        if sig_buckets is not None:
            assert [
                p.rsplit("/", 1)[1]
                for p in glob.glob(f"{d}/sigs/batch=compacted-2/id_bucket=*")
            ] == ["id_bucket=8"]
        last = [
            (5000 + b, " ".join(f"t{b * 1000 + 3}w{j}" for j in range(20))
             + " again")
            for b in range(5)
        ]
        batch(5, last)
        return folded, {
            (r.id, r.best_match_id, r.est_jaccard) for r in st.alerts
        }

    folded, flags = run("bk", 8)
    assert (folded, flags) == run("flat", None)
    assert {(i, m) for i, m, _ in flags} >= {
        (5000 + b, b * 1000 + 3) for b in range(5)
    }


def test_pruned_read_touches_candidate_buckets_and_whole_dirs(
    spark, tmp_path
):
    """The pruned verify read of a store mixing split and whole-store
    dirs touches exactly the candidate's bucket files plus the
    whole-store dirs' files, through a static partition filter."""
    import glob

    from pyspark.sql import functions as F

    from stream4flow_spark.streaming.llmingest import NeardupIndexState

    schema = "doc_id long, text string"
    d = str(tmp_path / "nd")
    st = NeardupIndexState(spark, d, threshold=0.5, sig_buckets=8)
    with _split_writes():
        st.apply_batch(spark.createDataFrame(_near_dup_docs(0, 20), schema), 0)
    st.apply_batch(spark.createDataFrame(_near_dup_docs(1, 5), schema), 1)

    idx = st._read_prior("sigs", batch_id=10_000)
    cand = spark.createDataFrame([(5000, 0)], "id long, cid long")
    pruned = st._prune_store_to_candidates(idx, cand, 8)
    read_files = {
        r.f.replace("file://", "")
        for r in pruned.select(F.input_file_name().alias("f"))
        .distinct().collect()
    }
    b0 = spark.range(1).select(
        st._store_bucket(F.lit(0).cast("long"), 8)).first()[0]
    want = {
        p for tail in (b0, 8)
        for p in glob.glob(f"{d}/sigs/batch=*/id_bucket={tail}/*.parquet")
    }
    assert read_files == want
    assert {p.split("/batch=", 1)[1][0] for p in want} == {"0", "1"}
    assert len(want) < len(glob.glob(f"{d}/sigs/batch=*/*/*.parquet"))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "id_bucket" in plan.split("PartitionFilters", 1)[1][:200]


def test_layout_marker_refuses_downgrade_and_restamps_legacy(
    spark, tmp_path
):
    """A bucketed store's marker reads ``<n>+whole``, a form older
    code's ``int()`` parse rejects, so it cannot prune the whole-store
    dir away. A legacy bare ``"<n>"`` marker is re-stamped before the
    first whole-store dir lands (by a screen or by ``State.compact``),
    and still refuses a wrong count. Without a marker, the cross-check
    accepts ``id_bucket == configured`` as the whole-store dir, but a
    32-bucket store's whole dir under a configured 64 still raises."""
    import glob
    import os

    from stream4flow_spark.llmdata.export import _write_side_file
    from stream4flow_spark.streaming.llmingest import (
        NeardupIndexState,
        StoreLayoutError,
    )

    schema = "doc_id long, text string"

    def df(rows):
        return spark.createDataFrame(rows, schema)

    d = str(tmp_path / "nd")
    marker = os.path.join(d, "sigs._layout")
    with _split_writes():
        NeardupIndexState(spark, d, threshold=0.5, sig_buckets=8).apply_batch(
            df(_near_dup_docs(0, 12)), 0
        )
    assert open(marker).read() == "8+whole"
    with pytest.raises(ValueError):
        int(open(marker).read())  # how older code reads a marker

    _write_side_file(spark, marker, "8")  # a legacy marker
    with pytest.raises(StoreLayoutError, match="sig_buckets=8"):
        NeardupIndexState(spark, d, threshold=0.5, sig_buckets=16).apply_batch(
            df(_near_dup_docs(1, 4, n_back=1)), 1
        )
    assert open(marker).read() == "8"
    st = NeardupIndexState(spark, d, threshold=0.5, sig_buckets=8)
    st.apply_batch(df(_near_dup_docs(1, 4, n_back=1)), 1)
    assert open(marker).read() == "8+whole"
    assert glob.glob(f"{d}/sigs/batch=1/id_bucket=8/*.parquet")
    assert (1000, 2) in {(r.id, r.best_match_id) for r in st.alerts}
    _write_side_file(spark, marker, "8")
    NeardupIndexState.compact(spark, d)
    assert open(marker).read() == "8+whole"

    # no marker: a whole-store-only 32-bucket store
    d2 = str(tmp_path / "nd32")
    marker2 = os.path.join(d2, "sigs._layout")
    NeardupIndexState(spark, d2, threshold=0.5, sig_buckets=32).apply_batch(
        df(_near_dup_docs(0, 12)), 0
    )
    assert [p.rsplit("/", 1)[1]
            for p in glob.glob(f"{d2}/sigs/batch=0/id_bucket=*")
            ] == ["id_bucket=32"]
    os.remove(marker2)
    with pytest.raises(StoreLayoutError, match="disagree"):
        NeardupIndexState(spark, d2, threshold=0.5, sig_buckets=64).apply_batch(
            df(_near_dup_docs(1, 4, n_back=1)), 1
        )
    with pytest.raises(StoreLayoutError, match="inconsistent"):
        NeardupIndexState(spark, d2, threshold=0.5, sig_buckets=16).apply_batch(
            df(_near_dup_docs(1, 4, n_back=1)), 1
        )
    assert not os.path.exists(marker2)
    ok = NeardupIndexState(spark, d2, threshold=0.5, sig_buckets=32)
    ok.apply_batch(df(_near_dup_docs(1, 4, n_back=1)), 1)
    assert open(marker2).read() == "32+whole"
    assert (1000, 2) in {(r.id, r.best_match_id) for r in ok.alerts}


def test_read_side_file_round_trips_multi_kb_text(spark, tmp_path):
    """A side file of several KB, multi-byte characters included, reads
    back byte for byte; an absent one reads None."""
    from stream4flow_spark.llmdata.export import _write_side_file
    from stream4flow_spark.streaming.llmingest import _read_side_file

    text = "".join(
        f"{i:05d} ключ→值 {'x' * (i % 17)}\n" for i in range(400)
    )
    assert len(text.encode("utf-8")) > 8000
    path = str(tmp_path / "_side")
    _write_side_file(spark, path, text)
    assert _read_side_file(spark, path) == text
    with open(path, "rb") as f:
        assert f.read() == text.encode("utf-8")
    assert _read_side_file(spark, str(tmp_path / "_absent")) is None


def test_bucket_rows_sizes_a_scan_by_its_file_bytes(spark, tmp_path, monkeypatch):
    """One size rule for the per-batch write and the fold: a frame whose
    optimizer size estimate is below ``_WHOLE_STORE_BYTES`` goes whole
    (one partition, every row in ``id_bucket=<n>``), and at the
    threshold it splits by the bucket function. A parquet scan — what
    the fold hands in — is sized by its files' bytes."""
    from pyspark.sql import functions as F

    from stream4flow_spark.streaming import llmingest

    src = str(tmp_path / "src")
    spark.range(200).selectExpr("id", "id * 7 AS m0").write.parquet(src)
    nbytes = sum(
        os.path.getsize(os.path.join(src, f))
        for f in os.listdir(src) if f.endswith(".parquet")
    )
    state = llmingest._ArrivalIndexState

    monkeypatch.setattr(llmingest, "_WHOLE_STORE_BYTES", nbytes + 1)
    whole = state._bucket_rows(spark, spark.read.parquet(src), 8)
    assert whole.rdd.getNumPartitions() == 1
    assert {r.id_bucket for r in whole.select("id_bucket").collect()} == {8}

    monkeypatch.setattr(llmingest, "_WHOLE_STORE_BYTES", nbytes)
    split = state._bucket_rows(spark, spark.read.parquet(src), 8)
    assert split.rdd.getNumPartitions() == llmingest._bucket_tasks(spark, 8)
    want = spark.range(200).select(
        F.col("id"), state._store_bucket(F.col("id"), 8).alias("b")
    )
    assert {tuple(r) for r in split.select("id", "id_bucket").collect()} == {
        tuple(r) for r in want.collect()
    }
    assert len({r.id_bucket for r in split.select("id_bucket").collect()}) > 1
