"""Streaming inverted-index maintenance (streaming/incremental.index_state):
drained-state BM25 == batch bm25_multi_topk parity over every ingested doc,
the batch-id replay fence, first-wins re-ingestion, NULL/zero-token corpus
accounting, and the tokenizer meta pin."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import types as T

from logstash_filter_geoip_spark.operators.retrieval import (bm25_from_index,
                                                             bm25_multi_topk)
from logstash_filter_geoip_spark.streaming import incremental

SF = "/root/testdata/sf0.001"

SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
])

QUERIES = [(1, "merge"), (1, "vector"), (2, "dup"), (3, "the")]


def _paths(tmp_path):
    return {k: str(tmp_path / k) for k in ("in", "state", "ckpt")}


def _run(spark, p, **kw):
    q = incremental.additive_stream(
        spark, incremental.index_state(SCHEMA, **kw), p["in"], p["state"],
        p["ckpt"], SCHEMA)
    q.awaitTermination()


def _docs(spark):
    return (spark.read.parquet(f"{SF}/documents.parquet")
                 .select("doc_id", "text"))


def _qdf(spark):
    return spark.createDataFrame(QUERIES, "query_id long, term string")


def _topk(spark, postings, doclens, k=10):
    return sorted(tuple(r) for r in bm25_from_index(
        postings, doclens, _qdf(spark), k=k).collect())


def test_index_stream_matches_batch(spark, tmp_path):
    p = _paths(tmp_path)
    docs = _docs(spark)
    a = docs.where("doc_id % 2 = 0")
    b = docs.where("doc_id % 2 = 1")
    a.repartition(3).write.mode("append").parquet(p["in"])
    _run(spark, p)

    post, dld = incremental.additive_state_read(spark, "index", p["state"])
    want = sorted(tuple(r) for r in
                  bm25_multi_topk(a, _qdf(spark), k=10).collect())
    assert _topk(spark, post, dld) == want and want

    b.repartition(3).write.mode("append").parquet(p["in"])
    _run(spark, p)
    post, dld = incremental.additive_state_read(spark, "index", p["state"])
    want = sorted(tuple(r) for r in
                  bm25_multi_topk(docs, _qdf(spark), k=10).collect())
    assert _topk(spark, post, dld) == want


def test_index_replay_fenced_and_first_wins(spark, tmp_path):
    p = _paths(tmp_path)
    docs = _docs(spark).limit(100)
    docs.coalesce(1).write.mode("append").parquet(p["in"])
    _run(spark, p)
    idx = p["state"] + "/index"
    with open(os.path.join(idx, "_commit.json")) as f:
        committed = json.load(f)["batch_id"]
    post, dld = incremental.additive_state_read(spark, "index", p["state"])
    before = _topk(spark, post, dld)
    n_before = post.count() + dld.count()

    # replayed batch id → fenced, state byte-identical
    spec = incremental.index_state(SCHEMA)
    assert incremental.additive_apply_batch(
        spark, spec, docs, committed, idx) is False
    post, dld = incremental.additive_state_read(spark, "index", p["state"])
    assert _topk(spark, post, dld) == before
    assert post.count() + dld.count() == n_before

    # NEW batch id, same doc_ids → admitted set unchanged (first wins:
    # re-publishing a doc must not double its tf/df)
    assert incremental.additive_apply_batch(
        spark, spec, docs, committed + 1, idx) is True
    post, dld = incremental.additive_state_read(spark, "index", p["state"])
    assert _topk(spark, post, dld) == before
    assert post.count() + dld.count() == n_before


def test_index_counts_zero_token_and_null_docs(spark, tmp_path):
    """Zero-token and NULL-text docs have no posting rows but count toward
    N (and NULL dl stays out of sum_dl) — the batch scan's semantics."""
    p = _paths(tmp_path)
    rows = [(1, "the quick brown fox"), (2, "the lazy dog naps"),
            (3, ""), (4, None), (5, "?!---"), (6, "fox dog fox")]
    docs = spark.createDataFrame(rows, SCHEMA)
    docs.coalesce(1).write.mode("append").parquet(p["in"])
    _run(spark, p)
    post, dld = incremental.additive_state_read(spark, "index", p["state"])
    assert dld.count() == 6          # every doc admitted
    assert post.where("doc_id >= 3 and doc_id <= 5").count() == 0
    want = sorted(tuple(r) for r in
                  bm25_multi_topk(docs, _qdf(spark), k=10).collect())
    assert _topk(spark, post, dld) == want and want


def test_index_meta_pin_rejects_changed_tokenizer_column(spark, tmp_path):
    p = _paths(tmp_path)
    _docs(spark).limit(20).coalesce(1).write.mode("append").parquet(p["in"])
    _run(spark, p)
    with pytest.raises(ValueError, match="postings index"):
        incremental.additive_stream(
            spark, incremental.index_state(SCHEMA, text_col="other"),
            p["in"], p["state"], p["ckpt"] + "2", SCHEMA)
