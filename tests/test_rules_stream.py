"""Streaming association-rule maintenance: the counter stage-composition
equality (rules_from_counts ∘ rule_counts == association_rules), drained
stream == batch operator under the basket-atomic contract, batch-id fence
replay safety, and the meta universe pin."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from logstash_filter_geoip_spark.operators import basket
from logstash_filter_geoip_spark.streaming import incremental

_SCHEMA = T.StructType([
    T.StructField("order_id", T.LongType()),
    T.StructField("item", T.StringType()),
])

# whole baskets per file (the basket-atomic contract; maxFilesPerTrigger=1)
BATCH_1 = [(1, "x"), (1, "y"), (1, "z"), (2, "x"), (2, "y"), (3, "x"),
           (1, "x"), (None, "x"), (3, None)]
BATCH_2 = [(4, "y"), (4, "z"), (5, "x"), (5, "z"), (6, "y"), (6, "z"),
           (6, "w")]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _paths(tmp_path):
    return {k: str(tmp_path / k) for k in ("in", "state", "ckpt")}


def _write(spark, path, rows):
    spark.createDataFrame(rows, _SCHEMA).coalesce(1) \
         .write.mode("append").parquet(path)


def _run(spark, p, **kw):
    q = incremental.additive_stream(
        spark, incremental.rules_state(_SCHEMA, "order_id", "item", **kw),
        p["in"], p["state"], p["ckpt"], _SCHEMA)
    q.awaitTermination()


def test_counts_composition_equals_batch_operator(spark):
    """rules_from_counts(rule_counts(df)) is row-identical to
    association_rules(df) — the one-definition stage-2 contract."""
    df = spark.createDataFrame(BATCH_1 + BATCH_2, _SCHEMA)
    composed = basket.rules_from_counts(
        basket.rule_counts(df, "order_id", "item", max_basket=3),
        min_pair_n=1)
    direct = basket.association_rules(df, "order_id", "item",
                                      min_pair_n=1, max_basket=3)
    assert _rows(composed) == _rows(direct)
    assert composed.count() > 0


def test_drained_stream_matches_batch(spark, tmp_path):
    p = _paths(tmp_path)
    _write(spark, p["in"], BATCH_1)
    _run(spark, p, max_basket=3)
    _write(spark, p["in"], BATCH_2)
    _run(spark, p, max_basket=3)
    got = _rows(incremental.additive_state_read(spark, "rules", p["state"],
                                                min_pair_n=1))
    want = _rows(basket.association_rules(
        spark.createDataFrame(BATCH_1 + BATCH_2, _SCHEMA),
        "order_id", "item", min_pair_n=1, max_basket=3))
    assert got == want and len(got) > 0
    # state is the bounded counter relation, not baskets
    st = spark.read.parquet(os.path.join(p["state"], "sketch"))
    assert sorted(st.columns) == ["i1", "i2", "kind", "n"]
    assert st.where("kind = 'B'").count() == 1


def test_replay_fence_is_noop_and_next_id_applies(spark, tmp_path):
    p = _paths(tmp_path)
    df = spark.createDataFrame(BATCH_1, _SCHEMA)
    sk = os.path.join(p["state"], "sketch")
    os.makedirs(p["state"], exist_ok=True)
    spec = incremental.rules_state(_SCHEMA, "order_id", "item", 3)
    incremental._meta_guard(p["state"], spec.meta, spec.face,
                            spec.consequence)
    assert incremental.additive_apply_batch(spark, spec, df, 0, sk) is True
    before = _rows(spark.read.parquet(sk))
    # same batch id replays as a no-op with counters intact
    assert incremental.additive_apply_batch(spark, spec, df, 0, sk) is False
    assert _rows(spark.read.parquet(sk)) == before
    # the next id applies: the total-baskets counter doubles
    assert incremental.additive_apply_batch(spark, spec, df, 1, sk) is True
    after = {r["kind"]: r["n"] for r in spark.read.parquet(sk)
             .where("kind = 'B'").collect()}
    assert after["B"] == 2 * dict(
        (r["kind"], r["n"]) for r in
        spark.createDataFrame(before, ["kind", "i1", "i2", "n"])
        .where("kind = 'B'").collect())["B"]


def test_meta_universe_pin_raises_on_mismatch(spark, tmp_path):
    p = _paths(tmp_path)
    _write(spark, p["in"], BATCH_1)
    _run(spark, p, max_basket=3)
    with pytest.raises(ValueError, match="rules"):
        incremental.additive_stream(
            spark, incremental.rules_state(_SCHEMA, "order_id", "item",
                                           max_basket=4),
            p["in"], p["state"], str(tmp_path / "ckpt2"), _SCHEMA)


def test_state_read_missing_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        incremental.additive_state_read(spark, "rules",
                                        str(tmp_path / "nope"))


def test_split_basket_undercount_is_the_contract_boundary(spark, tmp_path):
    """The documented divergence pinned AS a divergence (the
    semistructured-margins pattern): a basket whose rows straddle two
    micro-batches is counted as two disjoint sub-baskets — its
    cross-batch pair is LOST and the basket total inflates. This is why
    the operator's contract demands basket-atomic ingestion."""
    half_a = [(7, "x")]
    half_b = [(7, "y")]
    p = _paths(tmp_path)
    _write(spark, p["in"], half_a)
    _run(spark, p, max_basket=3)
    _write(spark, p["in"], half_b)
    _run(spark, p, max_basket=3)
    st = spark.read.parquet(os.path.join(p["state"], "sketch"))
    # basket 7 counted twice, its (x, y) pair never observed
    assert {r["kind"]: r["n"] for r in st.collect()}["B"] == 2
    assert st.where("kind = 'P'").count() == 0
    batch = basket.association_rules(
        spark.createDataFrame(half_a + half_b, _SCHEMA),
        "order_id", "item", max_basket=3)
    assert batch.count() == 1 * 2  # the batch operator sees the pair
