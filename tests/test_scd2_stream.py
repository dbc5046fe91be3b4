"""Streaming SCD2 dimension maintenance (streaming/incremental.scd2_stream):
cross-batch version history, replay idempotence, full-snapshot vs CDC
deletion semantics, and the latest-per-key batch collapse."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import types as T

from logstash_filter_geoip_spark.streaming import incremental

SCHEMA = T.StructType([
    T.StructField("k", T.StringType()),
    T.StructField("v", T.LongType()),
    T.StructField("ts", T.TimestampType()),
])


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def _paths(tmp_path):
    return {k: str(tmp_path / k) for k in ("in", "dim", "ckpt")}


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1) \
         .write.mode("append").parquet(path)


def _run(spark, p, **kw):
    q = incremental.scd2_stream(spark, p["in"], p["dim"], p["ckpt"],
                                SCHEMA, keys=("k",), attrs=("v",), **kw)
    q.awaitTermination()


def _dim(spark, p):
    return sorted((r.k, r.v, r.valid_from, r.valid_to)
                  for r in spark.read.parquet(p["dim"]).collect())


_T1, _T2 = _ts("2024-01-01 00:00:00"), _ts("2024-02-01 00:00:00")


def test_scd2_stream_versions_across_batches(spark, tmp_path):
    p = _paths(tmp_path)
    # batch 1 opens k1/k2; k1 carries TWO rows — the later ts wins the
    # within-batch collapse; as_of = the batch's max ts (_T1)
    _write_batch(spark, p["in"], [("k1", 1, _ts("2023-12-30 00:00:00")),
                                  ("k1", 2, _T1),
                                  ("k2", 20, _ts("2023-12-31 00:00:00"))])
    _run(spark, p)
    assert _dim(spark, p) == [("k1", 2, _T1, None), ("k2", 20, _T1, None)]

    # batch 2 (restart, same checkpoint): k1 changes, k2 absent (CDC mode:
    # survives), k3 appears
    _write_batch(spark, p["in"], [("k1", 3, _T2), ("k3", 30, _T2)])
    _run(spark, p)
    assert _dim(spark, p) == [
        ("k1", 2, _T1, _T2), ("k1", 3, _T2, None),
        ("k2", 20, _T1, None), ("k3", 30, _T2, None)]


def test_scd2_stream_replay_is_idempotent(spark, tmp_path):
    """Re-processing the same input with a WIPED checkpoint (the
    worst-case replay: every batch re-applied) converges to the same
    dimension — scd2_merge's no-op-update rule makes the maintenance
    exactly-once without a transactional sink."""
    import shutil
    p = _paths(tmp_path)
    _write_batch(spark, p["in"], [("k1", 1, _T1)])
    _run(spark, p)
    _write_batch(spark, p["in"], [("k1", 5, _T2)])
    _run(spark, p)
    before = _dim(spark, p)
    shutil.rmtree(p["ckpt"])          # force full replay
    _run(spark, p)
    assert _dim(spark, p) == before == [
        ("k1", 1, _T1, _T2), ("k1", 5, _T2, None)]


def test_scd2_stream_full_snapshot_deletes(spark, tmp_path):
    p = _paths(tmp_path)
    _write_batch(spark, p["in"], [("k1", 1, _T1), ("k2", 2, _T1)])
    _run(spark, p, full_snapshot=True)
    # second batch is a complete snapshot WITHOUT k2 -> k2 closes
    _write_batch(spark, p["in"], [("k1", 1, _T2)])
    _run(spark, p, full_snapshot=True)
    assert _dim(spark, p) == [
        ("k1", 1, _T1, None),          # unchanged: no new version
        ("k2", 2, _T1, _T2)]           # deleted: closed at batch time


def test_scd2_stream_matches_batch_merges(spark, tmp_path):
    """Drained stream == the same batches applied via scd2_merge directly
    (the enrich_batch no-drift rule for the SCD2 face)."""
    from logstash_filter_geoip_spark.operators.temporal import scd2_merge
    from pyspark.sql import functions as F

    p = _paths(tmp_path)
    b1 = [("a", 1, _T1), ("b", 2, _T1)]
    b2 = [("a", 9, _T2), ("c", 3, _T2)]
    _write_batch(spark, p["in"], b1)
    _run(spark, p)
    _write_batch(spark, p["in"], b2)
    _run(spark, p)

    empty = spark.createDataFrame(
        [], T.StructType(SCHEMA.fields[:2] + [
            T.StructField("valid_from", T.TimestampType()),
            T.StructField("valid_to", T.TimestampType())]))
    snap1 = spark.createDataFrame(b1, SCHEMA).select("k", "v")
    snap2 = spark.createDataFrame(b2, SCHEMA).select("k", "v")
    want = scd2_merge(
        scd2_merge(empty, snap1, ["k"], ["v"], "2024-01-01 00:00:00",
                   full_snapshot=False),
        snap2, ["k"], ["v"], "2024-02-01 00:00:00", full_snapshot=False)
    assert _dim(spark, p) == sorted(
        (r.k, r.v, r.valid_from, r.valid_to) for r in want.collect())


def test_scd2_stream_recovers_interrupted_dim_swap(spark, tmp_path):
    """A crash inside the dim swap — the live dim parked as `.old-dim`, an
    unverified partial rewrite left in `.compact-dim` — is undone by the
    next drain, which ends equal to an uncrashed run."""
    import os
    crashed, clean = _paths(tmp_path / "crashed"), _paths(tmp_path / "clean")
    for p in (crashed, clean):
        _write_batch(spark, p["in"], [("k1", 1, _T1), ("k2", 2, _T1)])
        _run(spark, p)
    parent = str(tmp_path / "crashed")
    spark.read.parquet(crashed["dim"]).where("k = 'k2'") \
         .write.parquet(os.path.join(parent, ".compact-dim"))
    os.rename(crashed["dim"], os.path.join(parent, ".old-dim"))
    for p in (crashed, clean):
        _write_batch(spark, p["in"], [("k1", 3, _T2)])
        _run(spark, p)
    assert _dim(spark, crashed) == _dim(spark, clean) == [
        ("k1", 1, _T1, _T2), ("k1", 3, _T2, None), ("k2", 2, _T1, None)]
    assert sorted(os.listdir(parent)) == ["ckpt", "dim", "in"]


def test_scd2_stream_remote_dim_path_raises(spark):
    df = spark.createDataFrame([("a", 1, _T1)], SCHEMA)
    with pytest.raises(NotImplementedError, match="local paths"):
        incremental._swap_dir(df, "s3a://bucket/dim")


# ---------------------------------------------------------------------------
# novel-template alerting at ingest
# ---------------------------------------------------------------------------

LOG_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("text", T.StringType()),
])


def test_novel_template_stream(spark, tmp_path):
    """Only first-seen template SHAPES pass; later batches re-alert only on
    genuinely new shapes, surviving a restart."""
    p = {k: str(tmp_path / k) for k in ("in", "out", "ckpt", "state")}

    def write(rows):
        spark.createDataFrame(rows, LOG_SCHEMA).coalesce(1) \
             .write.mode("append").parquet(p["in"])

    def run():
        q = incremental.novel_template_stream(
            spark, p["in"], p["out"], p["ckpt"], p["state"], LOG_SCHEMA)
        q.awaitTermination()

    def alerts():
        import os
        return sorted((r.event_id, r.template) for r in spark.read.parquet(
            os.path.join(p["out"], "data")).collect())

    # batch 1: two lines share a template (different ip/num), one distinct
    write([(1, "timeout from 10.0.0.1 after 30s"),
           (2, "timeout from 10.9.9.9 after 45s"),
           (3, "disk full on /dev/sda1")])
    run()
    a1 = alerts()
    assert [e for e, _ in a1] == [1, 3]       # min-id winner per template
    assert a1[0][1] == "timeout from <ip> after <num>s"

    # batch 2 (restart): a seen shape and a brand-new shape
    write([(10, "timeout from 172.16.0.4 after 9s"),
           (11, "oom killed pid 4242")])
    run()
    assert [e for e, _ in alerts()] == [1, 3, 11]
    # state is hashes only — no template/text column persisted
    assert spark.read.parquet(p["state"]).columns == ["content_h"]


# ---------------------------------------------------------------------------
# streaming count-min sketch maintenance
# ---------------------------------------------------------------------------

_CMS_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
])


def _cms_paths(tmp_path):
    return {k: str(tmp_path / k) for k in ("in", "state", "ckpt")}


def _cms_write(spark, path, ids):
    rows = [(i, _T1) for i in ids]
    spark.createDataFrame(rows, _CMS_SCHEMA).coalesce(1) \
         .write.mode("append").parquet(path)


def _cms_run(spark, p):
    q = incremental.additive_stream(
        spark, incremental.cms_state("user_id"), p["in"], p["state"],
        p["ckpt"], _CMS_SCHEMA)
    q.awaitTermination()


def _sketch_rows(spark, p):
    import os
    return sorted(tuple(r) for r in spark.read.parquet(
        os.path.join(p["state"], "sketch")).collect())


def test_cms_stream_matches_batch_sketch(spark, tmp_path):
    """Drained stream counters == one batch cms_build over everything
    (counters add exactly), and the streamed state estimates correctly."""
    from logstash_filter_geoip_spark.operators import aggregate as agg
    from pyspark.sql import functions as F
    p = _cms_paths(tmp_path)
    _cms_write(spark, p["in"], [1, 1, 2, 3])
    _cms_run(spark, p)
    _cms_write(spark, p["in"], [1, 3, 3, 4])
    _cms_run(spark, p)
    all_rows = spark.createDataFrame(
        [(i, _T1) for i in [1, 1, 2, 3, 1, 3, 3, 4]], _CMS_SCHEMA)
    want = sorted(tuple(r) for r in
                  agg.cms_build(all_rows, "user_id").collect())
    assert _sketch_rows(spark, p) == want
    sk = spark.read.parquet(p["state"] + "/sketch")
    keys = spark.createDataFrame([(1,), (3,), (4,), (99,)], "key long")
    est = {r["key"]: r["est"] for r in
           agg.cms_estimate(sk, keys).collect()}
    assert est[1] >= 3 and est[3] >= 3 and est[4] >= 1
    # 8 total increments: nothing can exceed the stream's row count
    assert all(v <= 8 for v in est.values())


def test_cms_apply_batch_fences_replayed_ids(spark, tmp_path):
    """Crash-replay simulation: re-applying the SAME batch_id is a no-op
    (the fence commits atomically with the counters), while the next id
    folds in. Wiping the CHECKPOINT while keeping state would double-count
    — pinned here so the contract difference vs scd2_stream (idempotent
    merge, checkpoint-free replay) stays explicit."""
    import os
    p = _cms_paths(tmp_path)
    sketch_path = os.path.join(p["state"], "sketch")
    batch = spark.createDataFrame([(1, _T1), (1, _T1), (2, _T1)],
                                  _CMS_SCHEMA)
    spec = incremental.cms_state(key_col="user_id", w=1024, d=4,
                                 salt="cms-v1", hash_basis="xxhash64")
    assert incremental.additive_apply_batch(spark, spec, batch, 0,
                                            sketch_path)
    once = _sketch_rows(spark, p)
    # same batch id replayed after a simulated crash: fenced, state intact
    assert not incremental.additive_apply_batch(spark, spec, batch, 0,
                                                sketch_path)
    assert _sketch_rows(spark, p) == once
    # the NEXT id folds in (counters grow)
    assert incremental.additive_apply_batch(spark, spec, batch, 1,
                                            sketch_path)
    twice = dict(((d_, b), c) for d_, b, c in _sketch_rows(spark, p))
    for (d_, b), c in dict(((x, y), z) for x, y, z in once).items():
        assert twice[(d_, b)] == 2 * c
    # a checkpoint wipe replays id 0 against fenced-at-1 state: NO-OP here
    # (id 0 <= 1) — i.e. after a wipe the fence UNDER-counts re-delivered
    # batches rather than double-counting; either way the checkpoint is
    # part of this operator's state, unlike scd2_stream's
    assert not incremental.additive_apply_batch(spark, spec, batch, 0,
                                                sketch_path)


def test_cms_stream_param_pin_raises(spark, tmp_path):
    p = _cms_paths(tmp_path)
    _cms_write(spark, p["in"], [1, 2])
    _cms_run(spark, p)
    with pytest.raises(ValueError, match="cms state"):
        incremental.additive_stream(
            spark, incremental.cms_state("user_id", w=2048), p["in"],
            p["state"], str(tmp_path / "ckpt2"), _CMS_SCHEMA)
    with pytest.raises(NotImplementedError, match="local"):
        incremental.additive_stream(
            spark, incremental.cms_state("user_id"), p["in"],
            "s3://bucket/state", p["ckpt"], _CMS_SCHEMA)


# ---------------------------------------------------------------------------
# streaming quantile-sketch maintenance
# ---------------------------------------------------------------------------

_QS_SCHEMA = T.StructType([
    T.StructField("k", T.StringType()),
    T.StructField("v", T.LongType()),
])


def _qs_paths(tmp_path):
    return {k: str(tmp_path / k) for k in ("in", "state", "ckpt")}


def _qs_write(spark, path, rows):
    spark.createDataFrame(rows, _QS_SCHEMA).coalesce(1) \
         .write.mode("append").parquet(path)


def _qs_run(spark, p, **kw):
    q = incremental.additive_stream(
        spark, incremental.qsketch_state(("k",), "v", **kw), p["in"],
        p["state"], p["ckpt"], _QS_SCHEMA)
    q.awaitTermination()


def test_qsketch_stream_matches_batch_sketch(spark, tmp_path):
    """Drained stream bucket counters == one batch qsketch_build over
    everything (counters add exactly), so stored-state quantiles equal
    the single-pass answer ROW-IDENTICALLY."""
    from logstash_filter_geoip_spark.operators import aggregate as agg
    p = _qs_paths(tmp_path)
    r1 = [("a", 3), ("a", 700), ("b", 64), ("a", 3)]
    r2 = [("a", 6500), ("b", 64), ("b", 65), ("a", 0)]
    _qs_write(spark, p["in"], r1)
    _qs_run(spark, p)
    _qs_write(spark, p["in"], r2)
    _qs_run(spark, p)
    state = spark.read.parquet(p["state"] + "/sketch")
    want = agg.qsketch_build(
        spark.createDataFrame(r1 + r2, _QS_SCHEMA), ("k",), "v")
    assert sorted(map(tuple, state.collect())) \
        == sorted(map(tuple, want.collect()))
    got_q = sorted(map(tuple, agg.qsketch_quantiles(
        state, ("k",)).collect()))
    want_q = sorted(map(tuple, agg.qsketch_quantiles(
        want, ("k",)).collect()))
    assert got_q == want_q


def test_qsketch_apply_batch_fences_replayed_ids(spark, tmp_path):
    """Same contract as the cms fence: replayed batch_id is a no-op,
    the next id folds in (counters double for identical batches)."""
    import os
    p = _qs_paths(tmp_path)
    sketch_path = os.path.join(p["state"], "sketch")
    batch = spark.createDataFrame([("a", 5), ("a", 5), ("a", 900)],
                                  _QS_SCHEMA)
    spec = incremental.qsketch_state(keys=("k",), value_col="v",
                                     sub_bits=5)
    assert incremental.additive_apply_batch(spark, spec, batch, 0,
                                            sketch_path)
    once = sorted(map(tuple, spark.read.parquet(sketch_path).collect()))
    assert not incremental.additive_apply_batch(spark, spec, batch, 0,
                                                sketch_path)
    assert sorted(map(tuple,
                      spark.read.parquet(sketch_path).collect())) == once
    assert incremental.additive_apply_batch(spark, spec, batch, 1,
                                            sketch_path)
    twice = {(k, b): c for k, b, c in
             spark.read.parquet(sketch_path).collect()}
    for k, b, c in once:
        assert twice[(k, b)] == 2 * c


def test_qsketch_stream_param_pin_raises(spark, tmp_path):
    p = _qs_paths(tmp_path)
    _qs_write(spark, p["in"], [("a", 1)])
    _qs_run(spark, p)
    with pytest.raises(ValueError, match="qsketch state"):
        incremental.additive_stream(
            spark, incremental.qsketch_state(("k",), "v", sub_bits=7),
            p["in"], p["state"], str(tmp_path / "ckpt2"), _QS_SCHEMA)
    with pytest.raises(NotImplementedError, match="local"):
        incremental.additive_stream(
            spark, incremental.qsketch_state(("k",), "v"), p["in"],
            "s3://bucket/state", p["ckpt"], _QS_SCHEMA)
