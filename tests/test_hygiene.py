"""Semantics + plan contracts for the session-17 hygiene operators
(operators/hygiene.py): retry_collapse, prompt_forks, split_leakage,
seasonal_anomalies, erase_users/erasure_audit. Oracle parity at sf0.01 is
covered by test_oracle_parity (all five are driver queries)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from logstash_filter_geoip_spark.operators import hygiene
from logstash_filter_geoip_spark.plans import checks
from tests.conftest import SF_SMOKE

TS = datetime.datetime


def _t(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string")


# ---------------------------------------------------------------------------
# retry_collapse
# ---------------------------------------------------------------------------


def test_retry_collapse_semantics(spark):
    t = _t(spark, [
        ("c1", 0, "user", "hello"),              # next extends → superseded
        ("c1", 1, "user", "hello world"),        # next is other role → kept
        ("c1", 2, "assistant", "hello world and"),  # next identical → kept
        ("c1", 3, "assistant", "hello world and"),  # next '' not ext → kept
        ("c1", 4, "assistant", ""),              # '' → 'ok' → superseded
        ("c1", 5, "assistant", "ok"),            # next role NULL → kept
        ("c1", 6, None, None),                   # NULL==NULL role, ''→'x'
        ("c1", 7, None, "x"),                    # last turn → never flagged
    ])
    got = {(r.turn_idx, r.cur_len, r.ext_len)
           for r in hygiene.retry_collapse(t).collect()}
    assert got == {(0, 5, 11), (4, 0, 2), (6, 0, 1)}


def test_retry_collapse_prefix_is_strict_and_role_scoped(spark):
    t = _t(spark, [
        ("a", 0, "user", "abc"),
        ("a", 1, "assistant", "abcdef"),   # extension but role differs
        ("b", 0, "user", "abc"),
        ("b", 1, "user", "abd"),           # same role, not a prefix
    ])
    assert hygiene.retry_collapse(t).count() == 0


def test_retry_collapse_plan_one_exchange_no_join(spark):
    from logstash_filter_geoip_spark.sources.transcripts import (
        load_transcripts)
    rc = hygiene.retry_collapse(load_transcripts(spark, SF_SMOKE))
    p = checks.simple_plan(rc)
    # the op's window reuses the transcript derivation's conv_id exchange:
    # ONE Exchange total, no join, no Python
    assert p.count("Exchange") == 1, p
    assert "Join" not in p and "EvalPython" not in p, p


# ---------------------------------------------------------------------------
# prompt_forks
# ---------------------------------------------------------------------------


def test_prompt_forks_semantics(spark):
    t = _t(spark, [
        ("a", 0, "user", "What?"), ("a", 1, "assistant", "A."),
        ("b", 0, "user", "what? "), ("b", 1, "assistant", "B."),
        ("c", 0, "user", "what?"), ("c", 1, "assistant", "a."),
        ("c", 2, "user", "blank reply"), ("c", 3, "assistant", None),
        ("d", 0, "user", "blank reply"), ("d", 1, "assistant", ""),
        ("e", 0, "user", ""), ("e", 1, "assistant", "X"),  # blank prompt out
        ("f", 0, "user", "solo"),                          # no next turn
        ("g", 0, "user", "toolnext"), ("g", 1, "tool", "t"),
    ])
    rows = {r.prompt: r for r in hygiene.prompt_forks(t).collect()}
    assert set(rows) == {"what?", "blank reply"}
    w = rows["what?"]
    # 'A.'/'a.' normalize together; 'b.' differs → 2 distinct replies
    assert (w.n_pairs, w.n_replies, w.n_convs, w.forked) == (3, 2, 3, 1)
    b = rows["blank reply"]
    # NULL reply and '' reply collapse to one distinct value → no fork
    assert (b.n_pairs, b.n_replies, b.n_convs, b.forked) == (2, 1, 2, 0)


# ---------------------------------------------------------------------------
# split_leakage
# ---------------------------------------------------------------------------


def test_split_leakage_matches_components(spark):
    """Every emitted pair IS a jaccard near-dup pair whose docs land in
    different splits, and every such pair is emitted — checked against
    the two component operators independently (driver-side; 500 docs)."""
    from logstash_filter_geoip_spark.operators.dedup import (
        ngram_jaccard_pairs)
    from logstash_filter_geoip_spark.operators.packing import split_assign
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    split_of = {r.doc_id: r.split
                for r in split_assign(docs, weights=hygiene.LEAK_WEIGHTS,
                                      salt=hygiene.LEAK_SALT).collect()}
    pairs = {(r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(docs).collect()}
    expected = {(a, b) for a, b in pairs if split_of[a] != split_of[b]}
    got = hygiene.split_leakage(docs).collect()
    assert {(r.doc_a, r.doc_b) for r in got} == expected
    for r in got:
        assert r.split_a == split_of[r.doc_a]
        assert r.split_b == split_of[r.doc_b]
        assert r.split_a != r.split_b


def test_split_leakage_split_joins_are_merge(spark):
    """The two split-side joins must be SortMergeJoins — the split relation
    is one row per document, data-sized at 100 TB (the session-10
    corpus-derived-join rule); a static-plan broadcast of it OOMs."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    p = checks.simple_plan(hygiene.split_leakage(docs))
    assert p.count("SortMergeJoin") >= 2, p
    # the split relation's md5 bucket expression must not sit under any
    # BroadcastExchange (the jaccard internals may broadcast pair-sized
    # relations — that is their own, separately pinned regime)
    for chunk in p.split("BroadcastExchange")[1:]:
        head = chunk[:600]
        assert "split:" not in head, p


# ---------------------------------------------------------------------------
# seasonal_anomalies
# ---------------------------------------------------------------------------


def _events_from_counts(spark, spec):
    """spec: list of (event_type, day, hour, count) → one row per event."""
    rows = []
    for et, day, hr, n in spec:
        for i in range(n):
            rows.append((et, TS(2024, 1, day, hr, i % 60)))
    return spark.createDataFrame(rows, "event_type string, ts timestamp")


def test_seasonal_anomalies_odd_and_even_medians(spark):
    ev = _events_from_counts(spark, [
        # type A hour 5: daily counts [1,1,1,1,10] → median 1 (base_num 2)
        *[("A", d, 5, 1) for d in range(1, 5)], ("A", 5, 5, 10),
        # type B hour 3: [1,3,5,100] → base_num = 3+5 = 8
        ("B", 1, 3, 1), ("B", 2, 3, 3), ("B", 3, 3, 5), ("B", 4, 3, 100),
        # type C: a single day → never anomalous vs its own median
        ("C", 1, 9, 7),
    ])
    got = {(r.event_type, r.hr, r.day.day): (r.n_events, r.base_num,
                                             r.direction)
           for r in hygiene.seasonal_anomalies(ev).collect()}
    assert got == {
        ("A", 5, 5): (10, 2, "high"),       # 200·10 > 150·2
        ("B", 3, 4): (100, 8, "high"),      # 200·100 > 150·8
        ("B", 3, 1): (1, 8, "low"),         # 200·1 < 50·8
    }


def test_seasonal_anomalies_drops_null_ts(spark):
    ev = spark.createDataFrame(
        [("A", None)] * 50 + [("A", TS(2024, 1, 1, 5))],
        "event_type string, ts timestamp")
    assert hygiene.seasonal_anomalies(ev).count() == 0


def test_seasonal_plan_no_join_bounded_exchanges(spark):
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    p = checks.simple_plan(hygiene.seasonal_anomalies(ev))
    # two-phase daily aggregate + ONE (type, hour) window exchange; the
    # median join-back is a window, never a join (transition_counts rule)
    assert "Join" not in p and "EvalPython" not in p, p
    assert p.count("Exchange") == 2, p
    assert "PushedFilters: [IsNotNull(ts)]" in checks.physical_plan(
        hygiene.seasonal_anomalies(ev)), "ts filter must reach the scan"


# ---------------------------------------------------------------------------
# erasure
# ---------------------------------------------------------------------------


def test_erase_users_keeps_null_ids(spark):
    df = spark.createDataFrame([(1,), (2,), (None,), (3,)], "user_id long")
    kept = {r.user_id for r in hygiene.erase_users(df, (2,)).collect()}
    assert kept == {1, None, 3}
    with pytest.raises(ValueError):
        hygiene.erase_users(df, ())


def test_erase_users_filter_reaches_scan(spark):
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    plan = checks.physical_plan(hygiene.erase_users(ev, (7, 13)))
    assert "Not(In(user_id" in plan, plan


def test_erasure_audit_enumerates_requested_ids(spark):
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    rows = {r.user_id: r for r in hygiene.erasure_audit(ev).collect()}
    assert set(rows) == set(hygiene.ERASE_IDS)
    # the planted-absent id reports 0 with NULL timestamps
    absent = rows[9999]
    assert absent.n_erased == 0
    assert absent.first_ts is None and absent.last_ts is None
    # a present id matches an independent count
    n7 = ev.where(F.col("user_id") == 7).count()
    assert rows[7].n_erased == n7 > 0
    # audit + erase reconcile: erased rows (NULL ids aside) == sum of audit
    n_total = ev.count()
    n_kept = hygiene.erase_users(ev, hygiene.ERASE_IDS).count()
    n_null = ev.where(F.col("user_id").isNull()).count()
    assert n_total - n_kept == sum(r.n_erased for r in rows.values()) - 0
    assert n_kept >= n_null


# ---------------------------------------------------------------------------
# seasonal_state (the streaming face)
# ---------------------------------------------------------------------------


import datetime as dt  # noqa: E402
import os  # noqa: E402

from pyspark.sql import types as T  # noqa: E402

from logstash_filter_geoip_spark.streaming import incremental  # noqa: E402

_SEAS_SCHEMA = T.StructType([
    T.StructField("event_type", T.StringType()),
    T.StructField("ts", T.TimestampNTZType()),
])


def _seas_paths(tmp_path):
    return {k: str(tmp_path / k) for k in ("in", "state", "ckpt")}


def _seas_write(spark, path, rows):
    spark.createDataFrame(rows, _SEAS_SCHEMA).coalesce(1) \
         .write.mode("append").parquet(path)


def _seas_run(spark, p, **kw):
    q = incremental.additive_stream(
        spark, incremental.seasonal_state(**kw), p["in"], p["state"],
        p["ckpt"], _SEAS_SCHEMA)
    q.awaitTermination()


def _seas_rows(day, hr, n, et="A"):
    return [(et, dt.datetime(2024, 3, day, hr, i % 60)) for i in range(n)]


SEAS_1 = (_seas_rows(1, 5, 1) + _seas_rows(2, 5, 1) + _seas_rows(3, 5, 1)
          + [("A", None)])
SEAS_2 = (_seas_rows(4, 5, 1) + _seas_rows(5, 5, 10)
          + _seas_rows(3, 5, 1))  # tops up day 3 across batches


def test_seasonal_drained_stream_matches_batch(spark, tmp_path):
    p = _seas_paths(tmp_path)
    _seas_write(spark, p["in"], SEAS_1)
    _seas_run(spark, p)
    _seas_write(spark, p["in"], SEAS_2)
    _seas_run(spark, p)
    got = sorted(tuple(str(v) for v in r) for r in
                 incremental.additive_state_read(spark, "seasonal",
                                                 p["state"])
                 .collect())
    want = sorted(tuple(str(v) for v in r) for r in
                  hygiene.seasonal_anomalies(
                      spark.createDataFrame(SEAS_1 + SEAS_2, _SEAS_SCHEMA))
                  .collect())
    assert got == want and len(got) > 0
    # state is the bounded daily relation: one row per (type, day, hr),
    # cross-batch cells MERGED by addition (day 3 = 1 + 1)
    st = spark.read.parquet(os.path.join(p["state"], "counts"))
    cells = {(r.event_type, r.day.day, r.hr): r.n_events
             for r in st.collect()}
    assert cells[("A", 3, 5)] == 2
    assert len(cells) == 5  # NULL ts joined no cell


def test_seasonal_replay_fence_and_meta_pin(spark, tmp_path):
    p = _seas_paths(tmp_path)
    _seas_write(spark, p["in"], SEAS_1)
    _seas_run(spark, p)
    counts = os.path.join(p["state"], "counts")
    before = sorted(map(tuple, spark.read.parquet(counts).collect()))
    # same-batch-id replay is a no-op (the fence)
    batch = spark.createDataFrame(SEAS_1, _SEAS_SCHEMA)
    spec = incremental.seasonal_state("ts")
    assert incremental.additive_apply_batch(spark, spec, batch, 0,
                                            counts) is False
    assert sorted(map(tuple,
                      spark.read.parquet(counts).collect())) == before
    # next id doubles the drained cells
    assert incremental.additive_apply_batch(spark, spec, batch, 99,
                                            counts) is True
    doubled = {(r.event_type, r.day.day, r.hr): r.n_events
               for r in spark.read.parquet(counts).collect()}
    assert all(v == 2 for v in doubled.values())
    # a different ts column cannot feed the same state
    with pytest.raises(ValueError):
        incremental.additive_stream(
            spark, incremental.seasonal_state(ts_col="other_ts"), p["in"],
            p["state"], p["ckpt"], _SEAS_SCHEMA)
    with pytest.raises(NotImplementedError):
        incremental.additive_stream(
            spark, incremental.seasonal_state(), p["in"], "s3://x",
            p["ckpt"], _SEAS_SCHEMA)


# ---------------------------------------------------------------------------
# retry_collapse_stream (the stateful streaming face)
# ---------------------------------------------------------------------------


def test_superseded_pairs_pd_mirror(spark):
    import pandas as pd
    pdf = pd.DataFrame({
        "turn_idx": [0, 1, 2, 3, 4],
        "role": ["user", "user", None, None, "user"],
        "text": ["hello", "hello world", None, "x", "x"],
    })
    got = [tuple(r) for r in
           hygiene.superseded_pairs_pd(pdf).itertuples(index=False)]
    # 0→1 extension; 2→3 NULL-role pair with ''→'x'; 3→4 role differs
    assert got == [(0, "user", 5, 11), (2, None, 0, 1)]
    assert len(hygiene.superseded_pairs_pd(pdf.iloc[:1])) == 0
    assert len(hygiene.superseded_pairs_pd(pdf.iloc[:0])) == 0


def test_retry_collapse_stream_matches_batch_across_restart(spark,
                                                            tmp_path):
    """Drained in-order stream == batch retry_collapse row-for-row,
    delivered over TWO query runs split right after a superseded turn —
    the cross-boundary pair exists iff the checkpointed state carries the
    previous turn (the resume contract)."""
    from logstash_filter_geoip_spark.sources.transcripts import (
        load_transcripts)
    from logstash_filter_geoip_spark.streaming.pipeline import (
        retry_collapse_stream)
    t = load_transcripts(spark, SF_SMOKE)
    want = hygiene.retry_collapse(t)
    # split immediately AFTER some superseded turn so its extension
    # arrives in the second run
    cut = want.agg(F.max("turn_idx")).collect()[0][0] + 1
    straddle = want.where(F.col("turn_idx") == cut - 1).count()
    assert straddle > 0
    inp = str(tmp_path / "in_rc")
    out = str(tmp_path / "out_rc")
    ckpt = str(tmp_path / "ckpt_rc")
    t.where(F.col("turn_idx") < cut).repartition(4) \
     .write.mode("overwrite").parquet(inp)
    q = retry_collapse_stream(spark, inp, out, ckpt)
    q.awaitTermination(300)
    t.where(F.col("turn_idx") >= cut).repartition(4) \
     .write.mode("append").parquet(inp)
    q2 = retry_collapse_stream(spark, inp, out, ckpt)
    q2.awaitTermination(300)
    got = spark.read.parquet(out)
    w = want.select(*got.columns)
    assert got.exceptAll(w).count() == 0
    assert w.exceptAll(got).count() == 0
    assert got.count() == want.count() > 0
