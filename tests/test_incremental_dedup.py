"""Streaming dedup-at-ingest (streaming/incremental.py): first-seen
semantics across micro-batches and restarts, within-batch determinism,
hash-only state, and compaction."""

from __future__ import annotations

import os

from pyspark.sql import types as T

from logstash_filter_geoip_spark.streaming import incremental

SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
])


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1) \
         .write.mode("append").parquet(path)


def _run(spark, paths):
    q = incremental.dedup_stream(
        spark, paths["in"], paths["out"], paths["ckpt"], paths["state"],
        SCHEMA)
    q.awaitTermination()


def _paths(tmp_path):
    return {k: str(tmp_path / k) for k in ("in", "out", "ckpt", "state")}


def _out_rows(spark, paths):
    return sorted((r["doc_id"], r["text"]) for r in
                  spark.read.parquet(os.path.join(paths["out"], "data"))
                       .collect())


def test_first_seen_across_batches_and_restart(spark, tmp_path):
    p = _paths(tmp_path)
    # batch 1: d0/d1 plus an in-batch duplicate of d0's text under a HIGHER
    # id — the min-id winner must be kept
    _write_batch(spark, p["in"], [(0, "alpha"), (7, "alpha"), (1, "beta")])
    _run(spark, p)
    assert _out_rows(spark, p) == [(0, "alpha"), (1, "beta")]

    # batch 2 (fresh query, same checkpoint/state = restart): repeats of
    # both seen texts plus one genuinely new doc
    _write_batch(spark, p["in"], [(10, "alpha"), (11, "beta"),
                                  (12, "gamma")])
    _run(spark, p)
    assert _out_rows(spark, p) == [(0, "alpha"), (1, "beta"),
                                   (12, "gamma")]

    # state holds hashes only — one per distinct content, no text column
    state = spark.read.parquet(p["state"])
    assert state.columns == ["content_h"]
    assert state.distinct().count() == 3


def test_state_compaction(spark, tmp_path):
    p = _paths(tmp_path)
    _write_batch(spark, p["in"], [(0, "alpha"), (1, "beta")])
    _run(spark, p)
    _write_batch(spark, p["in"], [(2, "gamma")])
    _run(spark, p)
    n = incremental.compact_state(spark, p["state"])
    assert n == 3
    # compaction must not change dedup behavior
    _write_batch(spark, p["in"], [(3, "alpha"), (4, "delta")])
    _run(spark, p)
    assert (0, "alpha") in _out_rows(spark, p)
    assert (3, "alpha") not in _out_rows(spark, p)
    assert (4, "delta") in _out_rows(spark, p)


def test_stream_matches_batch_dedup_on_content(spark, tmp_path):
    """Batch/stream dedup parity (CLAUDE.md invariant family): the stream's
    first-seen output carries exactly the batch exact-dedup content set,
    once each. (Representative IDS legitimately differ: stream keeps
    first-ARRIVAL, batch keeps min id — so parity is on content.)"""
    from logstash_filter_geoip_spark.operators.dedup import exact_dedup
    p = _paths(tmp_path)
    rows1 = [(i, f"t{i % 6}") for i in range(12)]
    rows2 = [(i, f"t{i % 9}") for i in range(12, 30)]
    _write_batch(spark, p["in"], rows1)
    _run(spark, p)
    _write_batch(spark, p["in"], rows2)
    _run(spark, p)
    out = spark.read.parquet(os.path.join(p["out"], "data"))
    batch = exact_dedup(
        spark.createDataFrame(rows1 + rows2, SCHEMA))
    stream_texts = sorted(r["text"] for r in out.collect())
    assert stream_texts == sorted(set(stream_texts))  # no content dup
    assert len(stream_texts) == batch.count()


def test_null_and_separator_safety(spark):
    """Hash encoding: separator, NULL-vs-empty, and NULL-position safety.

    All six rows must hash distinctly: ("ab","c") vs ("a","bc") pins the
    separator; (NULL,NULL) vs ("","") pins NULL != empty (concat_ws would
    collide them by skipping null parts); ("a",NULL) vs (NULL,"a") pins
    position sensitivity. And no hash may be NULL — a NULL join key would
    defeat the LEFT ANTI state join forever."""
    rows = [("ab", "c"), ("a", "bc"), (None, None), ("", ""),
            ("a", None), (None, "a")]
    df = spark.createDataFrame(rows, "x string, y string")
    hs = [r[0] for r in
          df.select(incremental._content_hash(("x", "y"))).collect()]
    assert None not in hs
    assert len(set(hs)) == len(rows)


def test_null_text_stream_batch_parity(spark, tmp_path):
    """A corpus holding BOTH a NULL text and an empty text: the stream's
    distinct-content count must equal batch exact_dedup's group count
    (batch groups NULL via md5(NULL)=NULL as its own group)."""
    from logstash_filter_geoip_spark.operators.dedup import exact_dedup
    p = _paths(tmp_path)
    rows = [(0, None), (1, ""), (2, "x"), (3, None), (4, ""), (5, "x")]
    _write_batch(spark, p["in"], rows)
    _run(spark, p)
    out = spark.read.parquet(os.path.join(p["out"], "data"))
    batch = exact_dedup(spark.createDataFrame(rows, SCHEMA))
    assert out.count() == batch.count() == 3


def test_reserved_column_collision_raises(spark):
    import pytest
    df = spark.createDataFrame([(1, "a", "h")],
                               "doc_id long, text string, content_h string")
    seen = spark.createDataFrame([], incremental.STATE_SCHEMA)
    with pytest.raises(ValueError, match="content_h"):
        incremental.dedup_batch_against_state(df, seen, ("text",), "doc_id")


def test_all_duplicate_batch_writes_nothing(spark, tmp_path):
    """An all-duplicate micro-batch must not append empty part files to
    either the output or the state directory."""
    p = _paths(tmp_path)
    _write_batch(spark, p["in"], [(0, "alpha"), (1, "beta")])
    _run(spark, p)

    def _parts(d):
        return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))

    state_before = _parts(p["state"])
    out_before = _parts(os.path.join(p["out"], "data"))
    _write_batch(spark, p["in"], [(2, "alpha"), (3, "beta")])  # all dups
    _run(spark, p)
    assert _parts(p["state"]) == state_before
    assert _parts(os.path.join(p["out"], "data")) == out_before


def test_compaction_crash_recovery(spark, tmp_path):
    """Simulated crash points in compact_state's directory swap: the live
    seen-set survives either interruption and dedup behavior is unchanged."""
    import shutil
    p = _paths(tmp_path)
    _write_batch(spark, p["in"], [(0, "alpha"), (1, "beta")])
    _run(spark, p)

    old = os.path.join(os.path.dirname(p["state"]), ".old-state")
    tmp = os.path.join(os.path.dirname(p["state"]), ".compact-state")
    # crash BETWEEN the two renames: state gone, .old-state holds the set
    os.rename(p["state"], old)
    assert incremental.compact_state(spark, p["state"]) == 2

    # crash AFTER the swap, before cleanup: stale .old-state + leftover
    # .compact-state
    shutil.copytree(p["state"], old)
    shutil.copytree(p["state"], tmp)
    assert incremental.compact_state(spark, p["state"]) == 2

    _write_batch(spark, p["in"], [(2, "alpha"), (3, "gamma")])
    _run(spark, p)
    assert _out_rows(spark, p) == [(0, "alpha"), (1, "beta"), (3, "gamma")]


def test_compact_remote_path_raises(spark):
    import pytest
    with pytest.raises(NotImplementedError):
        incremental.compact_state(spark, "s3a://bucket/state")
