"""``sources/tables.py`` pins each table's parquet schema; a pinned
schema must never outlive the file version or the conf it was
inferred under."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from stream4flow_spark.sources.tables import _read_parquet, load_table


def test_rewritten_table_is_read_with_its_new_schema(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").dtypes == [("a", "bigint")]
    # the same path, rewritten with another schema
    pq.write_table(pa.table({"a": ["x", "y"], "b": [0.5, 1.5]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.dtypes == [("a", "string"), ("b", "double")]
    assert sorted(tuple(r) for r in df.collect()) == [("x", 0.5), ("y", 1.5)]


def _outcome(read):
    """The ts column's type, or the error class name if the read fails."""
    try:
        return dict(read().dtypes)["ts"]
    except Exception as e:  # noqa: BLE001 - compare how each read fails
        return type(e).__name__


@pytest.mark.parametrize(
    "conf, ts_type",
    [
        # TIMESTAMP(NANOS): a nanos long, or not readable at all
        ("spark.sql.legacy.parquet.nanosAsLong", pa.timestamp("ns")),
        # TIMESTAMP(MICROS, not UTC-adjusted): timestamp_ntz or timestamp
        ("spark.sql.parquet.inferTimestampNTZ.enabled", pa.timestamp("us")),
    ],
)
def test_events_ts_type_follows_inference_conf(spark, tmp_path, conf, ts_type):
    """Flipping a conf that changes parquet inference must re-infer: the
    pinned read gives what a fresh ``spark.read.parquet`` gives."""
    path = str(tmp_path / "events.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([1_000_000_123_000], ts_type), "event_id": [1]}),
        path,
    )
    old = spark.conf.get(conf, None)
    seen = []
    try:
        for v in ("true", "false", "true"):
            spark.conf.set(conf, v)
            got = _outcome(lambda: _read_parquet(spark, path))
            assert got == _outcome(lambda: spark.read.parquet(path)), (conf, v)
            seen.append(got)
            if got in ("bigint", "timestamp_ntz", "timestamp"):
                assert dict(load_table(spark, str(tmp_path), "events").dtypes)[
                    "ts"
                ] == "timestamp"
    finally:
        if old is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, old)
    # the conf does change this Spark's inference, so a stale pin would show
    assert seen[0] != seen[1] and seen[0] == seen[2]
