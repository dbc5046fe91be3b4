"""Streaming drift maintenance: drained stream == batch operator on the
union of inputs (side counts add exactly; read face shares stage-2
arithmetic), batch-id fence replay safety, and the meta spec pin."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import types as T

from logstash_filter_geoip_spark.operators import drift
from logstash_filter_geoip_spark.streaming import incremental

SPLIT = "2024-06-15 00:00:00"
_B = dt.datetime(2024, 6, 1)   # base side
_C = dt.datetime(2024, 6, 20)  # current side

_SCHEMA = T.StructType([
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("ts", T.TimestampNTZType()),
])


def _paths(tmp_path):
    return {k: str(tmp_path / k) for k in ("in", "state", "ckpt")}


def _write(spark, path, rows):
    spark.createDataFrame(rows, _SCHEMA).coalesce(1) \
         .write.mode("append").parquet(path)


def _run(spark, p, **kw):
    q = incremental.additive_stream(
        spark, incremental.drift_state("ts", SPLIT, **kw), p["in"],
        p["state"], p["ckpt"], _SCHEMA)
    q.awaitTermination()


ROWS_1 = [("a", 10.0, _B)] * 4 + [("b", 20.0, _B)] * 2 + \
         [("a", 10.0, _C)] * 1
ROWS_2 = [("a", 200.0, _C)] * 3 + [("b", None, _C)] * 2 + \
         [(None, 30.0, _B)]


def test_drained_stream_matches_batch_categorical(spark, tmp_path):
    p = _paths(tmp_path)
    _write(spark, p["in"], ROWS_1)
    _run(spark, p, cat_col="event_type")
    _write(spark, p["in"], ROWS_2)
    _run(spark, p, cat_col="event_type")
    got = sorted((tuple(str(v) for v in r) for r in
                  incremental.additive_state_read(spark, "drift", p["state"])
                  .collect()))
    want = sorted((tuple(str(v) for v in r) for r in drift.categorical_drift(
        spark.createDataFrame(ROWS_1 + ROWS_2, _SCHEMA),
        "event_type", "ts", SPLIT).collect()))
    assert got == want
    # state is bounded: one row per category, counts only
    st = spark.read.parquet(os.path.join(p["state"], "counts"))
    assert sorted(st.columns) == ["event_type", "n_base", "n_curr"]
    assert st.count() == 3


def test_drained_stream_matches_batch_value(spark, tmp_path):
    p = _paths(tmp_path)
    kw = dict(value_col="value", lo=0.0, hi=100.0, n_buckets=10)
    _write(spark, p["in"], ROWS_1)
    _run(spark, p, **kw)
    _write(spark, p["in"], ROWS_2)
    _run(spark, p, **kw)
    got = sorted((tuple(str(v) for v in r) for r in
                  incremental.additive_state_read(spark, "drift", p["state"])
                  .collect()))
    want = sorted((tuple(str(v) for v in r) for r in drift.value_drift(
        spark.createDataFrame(ROWS_1 + ROWS_2, _SCHEMA),
        "value", "ts", SPLIT, 0.0, 100.0, 10).collect()))
    assert got == want
    # summary composes over the read face
    s = drift.drift_summary(
        incremental.additive_state_read(spark, "drift", p["state"])
    ).collect()[0]
    assert s["tot_base"] == 7 and s["tot_curr"] == 6


def test_apply_batch_fences_replayed_ids(spark, tmp_path):
    p = _paths(tmp_path)
    counts = os.path.join(p["state"], "counts")
    spec = incremental.drift_state("ts", SPLIT, cat_col="event_type")
    batch = spark.createDataFrame(ROWS_1, _SCHEMA)
    assert incremental.additive_apply_batch(spark, spec, batch, 0, counts)
    once = sorted(tuple(r) for r in spark.read.parquet(counts).collect())
    # replayed id: fenced, state intact
    assert not incremental.additive_apply_batch(spark, spec, batch, 0,
                                                counts)
    assert sorted(tuple(r) for r in
                  spark.read.parquet(counts).collect()) == once
    # next id folds in: counts double
    assert incremental.additive_apply_batch(spark, spec, batch, 1, counts)
    twice = {r[0]: (r[1], r[2])
             for r in spark.read.parquet(counts).collect()}
    for k, nb, nc in once:
        assert twice[k] == (2 * nb, 2 * nc)


def test_spec_pin_and_validation(spark, tmp_path):
    p = _paths(tmp_path)
    _write(spark, p["in"], ROWS_1)
    _run(spark, p, cat_col="event_type")
    # different split -> counters not addable -> raises
    with pytest.raises(ValueError, match="drift state"):
        incremental.additive_stream(
            spark, incremental.drift_state("ts", "2024-06-16 00:00:00",
                                           cat_col="event_type"),
            p["in"], p["state"], str(tmp_path / "ckpt2"), _SCHEMA)
    with pytest.raises(ValueError, match="exactly one"):
        incremental.drift_state("ts", SPLIT, cat_col="a", value_col="b")
    with pytest.raises(ValueError, match="requires lo"):
        incremental.drift_state("ts", SPLIT, value_col="value")
    with pytest.raises(NotImplementedError, match="local"):
        incremental.additive_stream(
            spark, incremental.drift_state("ts", SPLIT, cat_col="x"),
            p["in"], "s3://b/state", p["ckpt"], _SCHEMA)


def test_rolling_drained_stream_matches_batch(spark, tmp_path):
    p = _paths(tmp_path)

    def run(**kw):
        q = incremental.additive_stream(
            spark, incremental.rolling_drift_state("event_type", "ts", **kw),
            p["in"], p["state"], p["ckpt"], _SCHEMA)
        q.awaitTermination()

    _write(spark, p["in"], ROWS_1)
    run()
    _write(spark, p["in"], ROWS_2)
    run()
    got = sorted((tuple(str(v) for v in r) for r in
                  incremental.additive_state_read(spark, "rolling_drift",
                                                  p["state"])
                  .collect()))
    want = sorted((tuple(str(v) for v in r) for r in drift.rolling_drift(
        spark.createDataFrame(ROWS_1 + ROWS_2, _SCHEMA),
        "event_type", "ts", "day").collect()))
    assert got == want
    # state is bounded: one row per (day, category)
    st = spark.read.parquet(os.path.join(p["state"], "counts"))
    assert sorted(st.columns) == ["bucket_ts", "event_type", "n"]
    # spec pin: a different bucket granularity raises
    with pytest.raises(ValueError, match="rolling-drift state"):
        incremental.additive_stream(
            spark, incremental.rolling_drift_state("event_type", "ts",
                                                   bucket="hour"),
            p["in"], p["state"], str(tmp_path / "ck2"), _SCHEMA)


def test_rolling_apply_batch_fence(spark, tmp_path):
    p = _paths(tmp_path)
    counts = os.path.join(p["state"], "counts")
    spec = incremental.rolling_drift_state("event_type", "ts", "day")
    batch = spark.createDataFrame(ROWS_1, _SCHEMA)
    assert incremental.additive_apply_batch(spark, spec, batch, 0, counts)
    once = sorted(tuple(str(v) for v in r)
                  for r in spark.read.parquet(counts).collect())
    assert not incremental.additive_apply_batch(spark, spec, batch, 0,
                                                counts)
    assert sorted(tuple(str(v) for v in r)
                  for r in spark.read.parquet(counts).collect()) == once
