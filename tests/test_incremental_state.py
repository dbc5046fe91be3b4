"""The shared state machinery of streaming/incremental.py: the meta pin is
published atomically, a fenced sketch recovers a swap interrupted between
its two renames, and every face rejects a remote state path before it
writes anything."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import types as T

from logstash_filter_geoip_spark.streaming import incremental


def test_meta_pin_survives_a_kill_mid_write(tmp_path, monkeypatch):
    state = str(tmp_path / "state")
    spec = {"w": 64, "d": 2}

    def torn_dump(obj, f, *args, **kwargs):
        f.write('{"w": ')
        raise OSError("killed mid-write")

    with monkeypatch.context() as m:
        m.setattr(json, "dump", torn_dump)
        with pytest.raises(OSError, match="killed"):
            incremental._meta_guard(state, spec, "cms", "x.")
    assert not os.path.exists(os.path.join(state, "meta.json"))
    # the restart pins normally, and the pin is enforced afterwards
    incremental._meta_guard(state, spec, "cms", "x.")
    with open(os.path.join(state, "meta.json")) as f:
        assert json.load(f) == spec
    with pytest.raises(ValueError, match="cms state"):
        incremental._meta_guard(state, {"w": 128, "d": 2}, "cms", "x.")


def _counters(spark, path):
    return {(r.depth, r.bucket): r.c for r in spark.read.parquet(path)
            .collect()}


def test_fenced_sketch_recovers_crash_between_renames(spark, tmp_path):
    """Batch 1's swap died after parking the live sketch in `.old-sketch`
    and before promoting its `.compact-sketch`: the next apply rolls back
    to the old counters and batch id 0, so the replayed batch 1 lands
    exactly once."""
    sk = str(tmp_path / "state" / "sketch")
    tmp, old = (str(tmp_path / "state" / ".compact-sketch"),
                str(tmp_path / "state" / ".old-sketch"))
    batch = spark.createDataFrame([(1,), (1,), (2,)], "user_id long")
    spec = incremental.cms_state(key_col="user_id", w=64, d=2,
                                 salt="cms-v1", hash_basis="xxhash64")
    assert incremental.additive_apply_batch(spark, spec, batch, 0, sk)
    once = _counters(spark, sk)
    shutil.copytree(sk, tmp)
    with open(os.path.join(tmp, "_commit.json"), "w") as f:
        json.dump({"batch_id": 1}, f)
    os.rename(sk, old)

    assert incremental.additive_apply_batch(spark, spec, batch, 1, sk)
    assert not incremental.additive_apply_batch(spark, spec, batch, 1, sk)
    assert _counters(spark, sk) == {k: 2 * c for k, c in once.items()}
    with open(os.path.join(sk, "_commit.json")) as f:
        assert json.load(f) == {"batch_id": 1}
    assert not os.path.exists(old)
    assert not os.path.exists(tmp)


_SCHEMA = T.StructType([
    T.StructField(c, t) for c, t in [
        ("doc_id", T.LongType()), ("text", T.StringType()),
        ("lang", T.StringType()), ("event_type", T.StringType()),
        ("ts", T.TimestampType()), ("order_id", T.LongType()),
        ("item", T.StringType())]])

_FACES = {
    "rolling_drift": lambda spark, state: incremental.additive_stream(
        spark, incremental.rolling_drift_state("event_type", "ts"), "in",
        state, "ckpt", _SCHEMA),
    "sample": lambda spark, state: incremental.sample_stream(
        spark, "in", state, "ckpt", _SCHEMA, "lang", "doc_id", 5),
    "index": lambda spark, state: incremental.additive_stream(
        spark, incremental.index_state(_SCHEMA), "in", state, "ckpt",
        _SCHEMA),
    "rules": lambda spark, state: incremental.additive_stream(
        spark, incremental.rules_state(_SCHEMA, "order_id", "item"), "in",
        state, "ckpt", _SCHEMA),
}


@pytest.mark.parametrize("face", sorted(_FACES))
def test_remote_state_path_raises_before_writing(spark, tmp_path,
                                                 monkeypatch, face):
    monkeypatch.chdir(tmp_path)
    with pytest.raises(NotImplementedError, match="local paths"):
        _FACES[face](spark, "s3://bucket/state")
    # no meta pin or state directory was created locally for the URL
    assert os.listdir(tmp_path) == []


_SPLIT = "2024-06-15 00:00:00"
_CENTS = [[1024, 1024, 1124, 1024], [924, 1024, 1024, 1124]]
_ALL_SCHEMA = T.StructType([*_SCHEMA.fields, *[
    T.StructField(c, t) for c, t in [
        ("user_id", T.LongType()), ("k", T.StringType()),
        ("v", T.LongType()), ("value", T.DoubleType()),
        ("embedding", T.ArrayType(T.DoubleType()))]]])

# face → (spec, meta.json as the per-face wrappers pinned it before the
# factories took over their defaults, a spec with one parameter changed);
# the literals are the compatibility contract for every existing state
_PINS = {
    "cms": (lambda: incremental.cms_state("user_id"),
            {"w": 1024, "d": 4, "salt": "cms-v1", "hash_basis": "xxhash64"},
            lambda: incremental.cms_state("user_id", w=2048)),
    "qsketch": (lambda: incremental.qsketch_state(("k",), "v"),
                {"keys": ["k"], "value_col": "v", "sub_bits": 5},
                lambda: incremental.qsketch_state(("k",), "v", sub_bits=7)),
    "drift_categorical": (
        lambda: incremental.drift_state("ts", _SPLIT, cat_col="event_type"),
        {"kind": "categorical", "col": "event_type", "ts_col": "ts",
         "split_ts": _SPLIT},
        lambda: incremental.drift_state("ts", "2024-06-16 00:00:00",
                                        cat_col="event_type")),
    "drift_value": (
        lambda: incremental.drift_state("ts", _SPLIT, value_col="value",
                                        lo=0, hi=100, n_buckets=10),
        {"kind": "value", "col": "value", "lo": 0.0, "hi": 100.0,
         "n_buckets": 10, "ts_col": "ts", "split_ts": _SPLIT},
        lambda: incremental.drift_state("ts", _SPLIT, value_col="value",
                                        lo=0, hi=100, n_buckets=20)),
    "rolling_drift": (
        lambda: incremental.rolling_drift_state("event_type", "ts"),
        {"kind": "rolling", "col": "event_type", "ts_col": "ts",
         "bucket": "day"},
        lambda: incremental.rolling_drift_state("event_type", "ts",
                                                bucket="hour")),
    "index": (lambda: incremental.index_state(_ALL_SCHEMA),
              {"kind": "postings_index", "word_re": "[a-z0-9]+",
               "text_col": "text", "id_type": "LongType()"},
              lambda: incremental.index_state(_ALL_SCHEMA, text_col="lang")),
    "rules": (lambda: incremental.rules_state(_ALL_SCHEMA, "order_id",
                                              "item"),
              {"basket_col": "order_id", "item_col": "item",
               "max_basket": 1024, "item_type": "string"},
              lambda: incremental.rules_state(_ALL_SCHEMA, "order_id",
                                              "item", max_basket=3)),
    "cluster": (lambda: incremental.cluster_state(_CENTS),
                {"centroids": _CENTS, "dim": 64, "emb_col": "embedding"},
                lambda: incremental.cluster_state(_CENTS, dim=4)),
    "seasonal": (lambda: incremental.seasonal_state(),
                 {"ts_col": "ts"},
                 lambda: incremental.seasonal_state(ts_col="other_ts")),
}


@pytest.mark.parametrize("face", sorted(_PINS))
def test_existing_meta_pins_resume_and_changed_ones_raise(spark, tmp_path,
                                                          face):
    same, pinned, changed = _PINS[face]
    state, src = str(tmp_path / "state"), str(tmp_path / "in")
    os.makedirs(state)
    os.makedirs(src)
    meta = os.path.join(state, "meta.json")
    with open(meta, "w") as f:
        json.dump(pinned, f)
    with open(meta, "rb") as f:
        written = f.read()
    spec = same()
    assert json.dumps(spec.meta).encode() == written
    incremental.additive_stream(spark, spec, src, state,
                                str(tmp_path / "ckpt"),
                                _ALL_SCHEMA).awaitTermination()
    with open(meta, "rb") as f:
        assert f.read() == written
    with pytest.raises(ValueError, match=f"{spec.face} state"):
        incremental.additive_stream(spark, changed(), src, state,
                                    str(tmp_path / "ckpt2"), _ALL_SCHEMA)
