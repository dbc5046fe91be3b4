"""Streaming exact-k sample maintenance (streaming/incremental.sample_stream):
drained-stream == batch sample_exact_k parity, replay convergence, and the
meta pin that rejects a changed spec."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from logstash_filter_geoip_spark.operators.sampling import sample_exact_k
from logstash_filter_geoip_spark.streaming import incremental

SF = "/root/testdata/sf0.001"

SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("lang", T.StringType()),
    T.StructField("n_chars", T.LongType()),
])

K = 5


def _paths(tmp_path):
    return {k: str(tmp_path / k) for k in ("in", "state", "ckpt")}


def _run(spark, p, **kw):
    q = incremental.sample_stream(spark, p["in"], p["state"], p["ckpt"],
                                  SCHEMA, "lang", "doc_id", K, **kw)
    q.awaitTermination()


def _docs(spark):
    return (spark.read.parquet(f"{SF}/documents.parquet")
                 .select("doc_id", "lang", "n_chars"))


def test_sample_stream_matches_batch(spark, tmp_path):
    p = _paths(tmp_path)
    docs = _docs(spark)
    # feed the corpus in two chunks (several micro-batches each:
    # maxFilesPerTrigger=4 over multi-file writes)
    a = docs.where("doc_id % 2 = 0")
    b = docs.where("doc_id % 2 = 1")
    a.repartition(3).write.mode("append").parquet(p["in"])
    _run(spark, p)

    # after the first prefix: state == batch operator over that prefix
    st = incremental.sample_state_read(spark, p["state"], "lang",
                                       "doc_id", K, "ksample-v1")
    want = sample_exact_k(a, "lang", "doc_id", K)
    got_rows = sorted(tuple(r) for r in st.select(
        "doc_id", "lang", "n_chars", "sample_rank").collect())
    want_rows = sorted(tuple(r) for r in want.select(
        "doc_id", "lang", "n_chars", "sample_rank").collect())
    assert got_rows == want_rows and got_rows

    # drain the rest: state == batch operator over EVERYTHING ingested
    b.repartition(3).write.mode("append").parquet(p["in"])
    _run(spark, p)
    st = incremental.sample_state_read(spark, p["state"], "lang",
                                       "doc_id", K, "ksample-v1")
    want = sample_exact_k(docs, "lang", "doc_id", K)
    got_rows = sorted(tuple(r) for r in st.select(
        "doc_id", "lang", "n_chars", "sample_rank").collect())
    want_rows = sorted(tuple(r) for r in want.select(
        "doc_id", "lang", "n_chars", "sample_rank").collect())
    assert got_rows == want_rows


def test_sample_stream_replay_converges(spark, tmp_path):
    p = _paths(tmp_path)
    docs = _docs(spark).limit(200)
    docs.coalesce(1).write.mode("append").parquet(p["in"])
    _run(spark, p)
    before = sorted(tuple(r) for r in spark.read.parquet(
        p["state"] + "/rows").collect())
    # re-apply the same batch directly (a crash between state swap and
    # checkpoint commit replays it): min-k convergence makes it a no-op
    batch = spark.read.parquet(p["in"])
    incremental.sample_apply_batch(spark, batch, p["state"] + "/rows",
                                   "lang", "doc_id", K, "ksample-v1")
    after = sorted(tuple(r) for r in spark.read.parquet(
        p["state"] + "/rows").collect())
    assert after == before


def test_sample_stream_recovers_interrupted_rows_swap(spark, tmp_path):
    """A crash inside the `rows` swap — the live rows parked as
    `.old-rows`, an unverified partial rewrite left in `.compact-rows` —
    is undone by the next drain, which ends equal to an uncrashed run."""
    import os
    crashed, clean = _paths(tmp_path / "crashed"), _paths(tmp_path / "clean")
    docs = _docs(spark)
    for p in (crashed, clean):
        docs.where("doc_id % 2 = 0").coalesce(1) \
            .write.mode("append").parquet(p["in"])
        _run(spark, p)
    state = crashed["state"]
    spark.read.parquet(os.path.join(state, "rows")).limit(1) \
         .write.parquet(os.path.join(state, ".compact-rows"))
    os.rename(os.path.join(state, "rows"), os.path.join(state, ".old-rows"))
    for p in (crashed, clean):
        docs.where("doc_id % 2 = 1").coalesce(1) \
            .write.mode("append").parquet(p["in"])
        _run(spark, p)

    def sample(p):
        return sorted(tuple(r) for r in incremental.sample_state_read(
            spark, p["state"], "lang", "doc_id", K, "ksample-v1").collect())

    assert sample(crashed) == sample(clean) and sample(clean)
    assert sorted(os.listdir(state)) == ["meta.json", "rows"]


def test_sample_stream_spec_pin_k(spark, tmp_path):
    p = _paths(tmp_path)
    _docs(spark).limit(50).coalesce(1).write.mode("append").parquet(p["in"])
    _run(spark, p)
    with pytest.raises(ValueError, match="different draws"):
        incremental.sample_stream(spark, p["in"], p["state"],
                                  str(tmp_path / "ckpt2"), SCHEMA,
                                  "lang", "doc_id", K + 1)
    # state_read with a changed salt also refuses
    with pytest.raises(ValueError, match="different spec"):
        incremental.sample_state_read(spark, p["state"], "lang",
                                      "doc_id", K, "other-salt")
