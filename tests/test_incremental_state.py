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
    """Batch 1's swap died after parking the live sketch in `.old` and
    before promoting its `.compact`: the next apply rolls back to the old
    counters and batch id 0, so the replayed batch 1 lands exactly once."""
    sk = str(tmp_path / "state" / "sketch")
    batch = spark.createDataFrame([(1,), (1,), (2,)], "user_id long")
    kw = dict(key_col="user_id", w=64, d=2, salt="cms-v1",
              hash_basis="xxhash64")
    assert incremental.cms_apply_batch(spark, batch, 0, sk, **kw)
    once = _counters(spark, sk)
    shutil.copytree(sk, sk + ".compact")
    with open(os.path.join(sk + ".compact", "_commit.json"), "w") as f:
        json.dump({"batch_id": 1}, f)
    os.rename(sk, sk + ".old")

    assert incremental.cms_apply_batch(spark, batch, 1, sk, **kw)
    assert not incremental.cms_apply_batch(spark, batch, 1, sk, **kw)
    assert _counters(spark, sk) == {k: 2 * c for k, c in once.items()}
    with open(os.path.join(sk, "_commit.json")) as f:
        assert json.load(f) == {"batch_id": 1}
    assert not os.path.exists(sk + ".old")
    assert not os.path.exists(sk + ".compact")


_SCHEMA = T.StructType([
    T.StructField(c, t) for c, t in [
        ("doc_id", T.LongType()), ("text", T.StringType()),
        ("lang", T.StringType()), ("event_type", T.StringType()),
        ("ts", T.TimestampType()), ("order_id", T.LongType()),
        ("item", T.StringType())]])

_FACES = {
    "rolling_drift": lambda spark, state: incremental.rolling_drift_stream(
        spark, "in", state, "ckpt", _SCHEMA, "event_type", "ts"),
    "sample": lambda spark, state: incremental.sample_stream(
        spark, "in", state, "ckpt", _SCHEMA, "lang", "doc_id", 5),
    "index": lambda spark, state: incremental.index_stream(
        spark, "in", state, "ckpt", _SCHEMA),
    "rules": lambda spark, state: incremental.rules_stream(
        spark, "in", state, "ckpt", _SCHEMA, "order_id", "item"),
}


@pytest.mark.parametrize("face", sorted(_FACES))
def test_remote_state_path_raises_before_writing(spark, tmp_path,
                                                 monkeypatch, face):
    monkeypatch.chdir(tmp_path)
    with pytest.raises(NotImplementedError, match="local paths"):
        _FACES[face](spark, "s3://bucket/state")
    # no meta pin or state directory was created locally for the URL
    assert os.listdir(tmp_path) == []
