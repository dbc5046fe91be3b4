"""Temporal operator tests: asof_join semantics (cross-checked against
pandas.merge_asof, the public reference implementation of as-of joins),
dim_history whole-snapshot versioning, and event-time enrich — the
deterministic generalization of the reference's DatabaseManager database
swap cycle (lib/logstash/filters/geoip.rb:156-171)."""

from __future__ import annotations

from datetime import datetime

import pandas as pd
import pytest
from pyspark.sql import functions as F

from logstash_filter_geoip_spark.config import GeoIPConfig
from logstash_filter_geoip_spark.operators.enrich import enrich
from logstash_filter_geoip_spark.operators.temporal import (
    asof_join, dim_history, snapshot_intervals)
from logstash_filter_geoip_spark.sources.geolite2 import load_dim


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def sides(spark):
    left = spark.createDataFrame(
        [("a", _ts("2024-01-01 00:00:00"), 1),
         ("a", _ts("2024-01-02 12:00:00"), 2),
         ("a", _ts("2024-01-05 00:00:00"), 3),
         ("b", _ts("2024-01-03 00:00:00"), 4),
         ("b", _ts("2024-01-10 00:00:00"), 5),
         ("c", _ts("2024-01-04 00:00:00"), 6),       # key absent from right
         (None, _ts("2024-01-04 00:00:00"), 7)],     # null key never matches
        "k string, ts timestamp, n int")
    right = spark.createDataFrame(
        [("a", _ts("2024-01-02 00:00:00"), 10),
         ("a", _ts("2024-01-04 00:00:00"), 20),
         ("b", _ts("2024-01-01 00:00:00"), 30),
         ("b", _ts("2024-01-06 00:00:00"), 40)],
        "k string, rts timestamp, v int")
    return left, right


def test_asof_backward_matches_merge_asof(spark, sides):
    left, right = sides
    out = asof_join(left, right, on=["k"], left_ts="ts", right_ts="rts")
    got = {r["n"]: r["v"] for r in out.collect()}
    lp = left.where(F.col("k").isNotNull()).toPandas().sort_values("ts")
    rp = right.toPandas().sort_values("rts")
    exp_df = pd.merge_asof(lp, rp, left_on="ts", right_on="rts", by="k")
    exp = {int(r.n): (None if pd.isna(r.v) else int(r.v))
           for r in exp_df.itertuples()}
    exp[7] = None  # the null-key row: never matches (SQL `=` semantics)
    assert got == exp
    # concrete expectations, independent of pandas
    assert got == {1: None, 2: 10, 3: 20, 4: 30, 5: 40, 6: None, 7: None}
    assert out.count() == left.count()  # left join never duplicates


def test_asof_forward_matches_merge_asof(spark, sides):
    left, right = sides
    out = asof_join(left, right, on=["k"], left_ts="ts", right_ts="rts",
                    direction="forward")
    got = {r["n"]: r["v"] for r in out.collect()}
    lp = left.where(F.col("k").isNotNull()).toPandas().sort_values("ts")
    rp = right.toPandas().sort_values("rts")
    exp_df = pd.merge_asof(lp, rp, left_on="ts", right_on="rts", by="k",
                           direction="forward")
    exp = {int(r.n): (None if pd.isna(r.v) else int(r.v))
           for r in exp_df.itertuples()}
    exp[7] = None
    assert got == exp
    assert got == {1: 10, 2: 20, 3: None, 4: 40, 5: None, 6: None, 7: None}


@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_asof_tolerance(spark, sides, direction):
    left, right = sides
    out = asof_join(left, right, on=["k"], left_ts="ts", right_ts="rts",
                    direction=direction, tolerance_s=24 * 3600)
    got = {r["n"]: r["v"] for r in out.collect()}
    lp = left.where(F.col("k").isNotNull()).toPandas().sort_values("ts")
    rp = right.toPandas().sort_values("rts")
    exp_df = pd.merge_asof(lp, rp, left_on="ts", right_on="rts", by="k",
                           direction=direction,
                           tolerance=pd.Timedelta(days=1))
    exp = {int(r.n): (None if pd.isna(r.v) else int(r.v))
           for r in exp_df.itertuples()}
    exp[7] = None
    assert got == exp
    assert out.count() == left.count()  # tolerance nulls, never drops/dups


def test_asof_exact_instant_and_tie_break(spark):
    # exact ts==rts matches (merge_asof allow_exact_matches default);
    # two snapshots at the SAME instant: the tie_break-later one wins it
    left = spark.createDataFrame(
        [("a", _ts("2024-01-02 00:00:00"), 1)], "k string, ts timestamp, n int")
    right = spark.createDataFrame(
        [("a", _ts("2024-01-02 00:00:00"), 1, 100),
         ("a", _ts("2024-01-02 00:00:00"), 2, 200)],
        "k string, rts timestamp, ver int, v int")
    out = asof_join(left, right, on=["k"], left_ts="ts", right_ts="rts",
                    tie_break=("ver",))
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["v"] == 200 and rows[0]["ver"] == 2


def test_asof_inner_drops_unmatched(spark, sides):
    left, right = sides
    out = asof_join(left, right, on=["k"], left_ts="ts", right_ts="rts",
                    how="inner")
    assert sorted(r["n"] for r in out.collect()) == [2, 3, 4, 5]


def test_asof_validation_errors(spark, sides):
    left, right = sides
    with pytest.raises(ValueError, match="at least one key"):
        asof_join(left, right, on=[], left_ts="ts", right_ts="rts")
    with pytest.raises(ValueError, match="missing from a side"):
        asof_join(left, right, on=["nope"], left_ts="ts", right_ts="rts")
    with pytest.raises(ValueError, match="collide"):
        asof_join(left, right.withColumnRenamed("v", "n"),
                  on=["k"], left_ts="ts", right_ts="rts")
    with pytest.raises(ValueError, match="direction"):
        asof_join(left, right, on=["k"], left_ts="ts", right_ts="rts",
                  direction="nearest")
    with pytest.raises(ValueError, match="how"):
        asof_join(left, right, on=["k"], left_ts="ts", right_ts="rts",
                  how="full")


def test_asof_plan_is_broadcast_hash_join(spark, sides):
    left, right = sides
    plan = asof_join(left, right, on=["k"], left_ts="ts",
                     right_ts="rts")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_snapshot_intervals_half_open(spark):
    snaps = spark.createDataFrame(
        [("a", _ts("2024-01-01 00:00:00"), 1),
         ("a", _ts("2024-01-05 00:00:00"), 2)],
        "k string, valid_from timestamp, ver int")
    iv = {r["ver"]: r["valid_to"]
          for r in snapshot_intervals(snaps, ["k"]).collect()}
    assert iv[1] == _ts("2024-01-05 00:00:00") and iv[2] is None
    with pytest.raises(ValueError, match="key"):
        snapshot_intervals(snaps, [])


def _mini_dim_history(spark):
    """Two whole-file City-shaped snapshots over one /24: era 2 drops the
    1.1.1.0/24 network and adds 2.2.2.0/24 — exercising both that a network
    ABSENT from a later snapshot stops matching at the cutover (whole-file
    swap semantics) and that an added one starts matching only from it."""
    dim = load_dim(spark, "City")
    cols = dim.columns

    def row(base, city):
        u32 = sum(int(p) << s for p, s in zip(base.split("."), (24, 16, 8, 0)))
        r = {c: None for c in cols}
        r.update(net_start=u32, net_end=u32 + 255, network=base + "/24",
                 city_name=city, country_iso_code="XX", country_name="Xland",
                 continent_code="XX", latitude=1.0, longitude=2.0)
        return r

    era1 = spark.createDataFrame([row("1.1.1.0", "Oldtown")], dim.schema)
    era2 = spark.createDataFrame([row("2.2.2.0", "Newtown")], dim.schema)
    return dim_history([("2024-01-01 00:00:00", era1),
                        ("2024-01-16 00:00:00", era2)])


def test_event_time_enrich_whole_file_swap(spark):
    hist = _mini_dim_history(spark)
    events = spark.createDataFrame(
        [("c", 0, "1.1.1.9", _ts("2024-01-10 00:00:00")),   # era1: hit old
         ("c", 1, "1.1.1.9", _ts("2024-01-20 00:00:00")),   # era2: old gone
         ("c", 2, "2.2.2.9", _ts("2024-01-10 00:00:00")),   # era1: new absent
         ("c", 3, "2.2.2.9", _ts("2024-01-16 00:00:00")),   # cutover instant
         ("c", 4, "1.1.1.9", _ts("2023-12-25 00:00:00"))],  # before era1
        "conv_id string, turn_idx int, ip_str string, ts timestamp")
    cfg = GeoIPConfig(source="ip_str", target="geoip", database="City",
                      ecs_compatibility=True)
    out = enrich(events, hist, cfg, event_time_col="ts")
    assert out.count() == 5  # J2 holds under the versioned dim
    got = {r["turn_idx"]: (r["geoip"]["geo"]["city_name"]
                           if r["geoip"] and r["geoip"]["geo"] else None,
                           list(r["tags"]))
          for r in out.collect()}
    assert got[0] == ("Oldtown", [])
    assert got[1][0] is None and "_geoip_lookup_failure" in got[1][1]
    assert got[2][0] is None and "_geoip_lookup_failure" in got[2][1]
    assert got[3] == ("Newtown", [])  # valid_from is inclusive
    assert got[4][0] is None  # before the first snapshot: no database yet


def test_event_time_enrich_plan_still_broadcast(spark):
    hist = _mini_dim_history(spark)
    events = spark.createDataFrame(
        [("c", 0, "1.1.1.9", _ts("2024-01-10 00:00:00"))],
        "conv_id string, turn_idx int, ip_str string, ts timestamp")
    cfg = GeoIPConfig(source="ip_str", target="geoip", database="City",
                      ecs_compatibility=True)
    plan = enrich(events, hist, cfg, event_time_col="ts"
                  )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 1
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_dim_history_validation(spark):
    with pytest.raises(ValueError, match="at least one snapshot"):
        dim_history([])


def test_asof_fuzz_vs_merge_asof(spark):
    """Seeded batch-random equivalence vs pandas.merge_asof (the public
    reference implementation), both directions plus tolerance, with
    duplicate left timestamps and tie-broken duplicate right timestamps —
    one Spark DataFrame per direction, per SURVEY §5.2's batch style."""
    import random

    from datetime import timedelta

    rng = random.Random(0xA50F)
    base = _ts("2024-01-01 00:00:00")
    keys = ["a", "b", "c", "d"]
    left_rows = [(rng.choice(keys),
                  base + timedelta(seconds=rng.randrange(0, 100_000, 7)), i)
                 for i in range(300)]
    right_rows = []
    for j in range(60):
        t = base + timedelta(seconds=rng.randrange(0, 100_000, 500))
        right_rows.append((rng.choice(keys), t, j, rng.randrange(1000)))
    left = spark.createDataFrame(left_rows, "k string, ts timestamp, n int")
    right = spark.createDataFrame(
        right_rows, "k string, rts timestamp, ver int, v int")

    lp = pd.DataFrame(left_rows, columns=["k", "ts", "n"]).sort_values("ts")
    rp = pd.DataFrame(right_rows, columns=["k", "rts", "ver", "v"]) \
           .sort_values(["rts", "ver"])

    for direction in ("backward", "forward"):
        for tol in (None, 3600):
            out = asof_join(left, right, on=["k"], left_ts="ts",
                            right_ts="rts", direction=direction,
                            tolerance_s=tol, tie_break=("ver",))
            got = {r["n"]: r["v"] for r in out.collect()}
            kw = {} if tol is None else {
                "tolerance": pd.Timedelta(seconds=tol)}
            exp_df = pd.merge_asof(lp, rp, left_on="ts", right_on="rts",
                                   by="k", direction=direction, **kw)
            exp = {int(r.n): (None if pd.isna(r.v) else int(r.v))
                   for r in exp_df.itertuples()}
            assert got == exp, (direction, tol)
            assert out.count() == len(left_rows)  # never duplicates/drops


def test_streaming_event_time_replay_is_drift_free(spark, tmp_path):
    """The north-star replay contract: with an append-only dim_history and
    event-time enrichment, (1) an era-1 row arriving LATE — after the
    database update — still gets the era-1 enrichment (the wall-clock swap
    would give it era 2), and (2) a full from-scratch replay of the whole
    input reproduces the incremental run's output bit-for-bit."""
    import os

    from logstash_filter_geoip_spark.streaming.pipeline import (
        TRANSCRIPT_SCHEMA, run_stream)

    hist = _mini_dim_history(spark)  # Oldtown era-1, Newtown era-2
    cfg = GeoIPConfig(source="ip_any", target="geoip", database="City",
                      ecs_compatibility=True)
    inp = str(tmp_path / "in")
    out1 = str(tmp_path / "out1")
    ck1 = str(tmp_path / "ck1")

    def rows(*specs):
        return spark.createDataFrame(
            [(c, i, "user", f"ip {ip}", None, _ts(t))
             for c, i, ip, t in specs], TRANSCRIPT_SCHEMA)

    # phase 1: era-1 traffic only
    rows(("c", 0, "1.1.1.9", "2024-01-10 00:00:00"),
         ("c", 1, "2.2.2.9", "2024-01-10 01:00:00")).coalesce(1) \
        .write.mode("append").parquet(inp)
    q = run_stream(spark, inp, out1, ck1, lambda: (hist, None), cfg,
                   event_time_col="ts")
    q.awaitTermination(180)

    # phase 2 (after the "update"): era-2 traffic + a LATE era-1 arrival
    rows(("c", 2, "2.2.2.9", "2024-01-20 00:00:00"),
         ("c", 3, "1.1.1.9", "2024-01-05 00:00:00")).coalesce(1) \
        .write.mode("append").parquet(inp)
    q = run_stream(spark, inp, out1, ck1, lambda: (hist, None), cfg,
                   event_time_col="ts")
    q.awaitTermination(180)

    sinks1 = spark.read.parquet(os.path.join(out1, "sinks"))
    got = {r["turn_idx"]: (r["geoip"]["geo"]["city_name"]
                           if r["geoip"] and r["geoip"]["geo"] else None)
           for r in sinks1.collect()}
    assert got[0] == "Oldtown"     # era-1 row, processed in era 1
    assert got[1] is None          # Newtown net not yet in the database
    assert got[2] == "Newtown"     # era-2 row after the update
    assert got[3] == "Oldtown"     # LATE era-1 arrival: NO drift

    # full replay from scratch: fresh checkpoint + sink, same history
    out2, ck2 = str(tmp_path / "out2"), str(tmp_path / "ck2")
    q = run_stream(spark, inp, out2, ck2, lambda: (hist, None), cfg,
                   event_time_col="ts")
    q.awaitTermination(180)
    sinks2 = spark.read.parquet(os.path.join(out2, "sinks"))
    assert sinks1.exceptAll(sinks2).count() == 0
    assert sinks2.exceptAll(sinks1).count() == 0


# ---------------------------------------------------------------------------
# scd2_merge — type-2 slowly-changing-dimension merge
# ---------------------------------------------------------------------------

_T0, _T1 = "2024-01-01 00:00:00", "2024-02-01 00:00:00"


@pytest.fixture(scope="module")
def scd2_inputs(spark):
    from logstash_filter_geoip_spark.operators.temporal import scd2_merge
    # current history: k1 open (will change), k2 open (unchanged), k3 open
    # (deleted), k5 open with NULL attr (null-safe unchanged), plus one
    # already-closed k1 row that must pass through untouched
    current = spark.createDataFrame(
        [("k1", 10, _ts(_T0), None),
         ("k2", 20, _ts(_T0), None),
         ("k3", 30, _ts(_T0), None),
         ("k5", None, _ts(_T0), None),
         ("k1", 9, _ts("2023-06-01 00:00:00"), _ts(_T0))],
        "k string, v int, valid_from timestamp, valid_to timestamp")
    updates = spark.createDataFrame(
        [("k1", 11), ("k2", 20), ("k4", 40), ("k5", None)],
        "k string, v int")
    out = scd2_merge(current, updates, keys=["k"], attrs=["v"], as_of=_T1)
    return {(r.k, r.v, r.valid_from, r.valid_to) for r in out.collect()}


def test_scd2_all_five_cases(scd2_inputs):
    rows = scd2_inputs
    t0, t1 = _ts(_T0), _ts(_T1)
    assert rows == {
        ("k1", 10, t0, t1),                       # changed: old closed
        ("k1", 11, t1, None),                     # changed: new open
        ("k2", 20, t0, None),                     # unchanged: survives open
        ("k3", 30, t0, t1),                       # deleted: closed
        ("k4", 40, t1, None),                     # new key: opened
        ("k5", None, t0, None),                   # NULL == NULL (eqNullSafe)
        ("k1", 9, _ts("2023-06-01 00:00:00"), t0),  # closed passthrough
    }


def test_scd2_idempotent_on_reapply(spark):
    """Re-merging the SAME snapshot at a later as_of is a no-op on open
    rows (the SCD2 idempotence rule): no new versions appear."""
    from logstash_filter_geoip_spark.operators.temporal import scd2_merge
    current = spark.createDataFrame(
        [("k1", 1, _ts(_T0), None)],
        "k string, v int, valid_from timestamp, valid_to timestamp")
    updates = spark.createDataFrame([("k1", 1)], "k string, v int")
    once = scd2_merge(current, updates, ["k"], ["v"], _T1)
    twice = scd2_merge(once, updates, ["k"], ["v"], "2024-03-01 00:00:00")
    assert twice.count() == 1
    r = twice.collect()[0]
    assert (r.k, r.v, r.valid_from, r.valid_to) == ("k1", 1, _ts(_T0), None)


def test_scd2_validation(spark):
    from logstash_filter_geoip_spark.operators.temporal import scd2_merge
    cur = spark.createDataFrame(
        [("a", 1, _ts(_T0), None)],
        "k string, v int, valid_from timestamp, valid_to timestamp")
    upd = spark.createDataFrame([("a", 1)], "k string, v int")
    with pytest.raises(ValueError, match="key column"):
        scd2_merge(cur, upd, [], ["v"], _T1)
    with pytest.raises(ValueError, match="attribute column"):
        scd2_merge(cur, upd, ["k"], [], _T1)
    with pytest.raises(ValueError, match="missing columns"):
        scd2_merge(cur, upd.drop("v"), ["k"], ["v"], _T1)


def test_scd2_single_join_no_second_scan(spark):
    """Plan shape: the open-row merge is ONE join (full outer) feeding one
    Generate (the bounded explode) — the three row classes never re-scan
    the inputs."""
    from logstash_filter_geoip_spark.operators.temporal import scd2_merge
    cur = spark.createDataFrame(
        [("a", 1, _ts(_T0), None)],
        "k string, v int, valid_from timestamp, valid_to timestamp")
    upd = spark.createDataFrame([("a", 2)], "k string, v int")
    plan = scd2_merge(cur, upd, ["k"], ["v"],
                      _T1)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Join") == 1
    assert plan.count("Generate") == 1


# ---------------------------------------------------------------------------
# resample_fill — fixed-grid densification with forward fill
# ---------------------------------------------------------------------------


def test_resample_fill_gaps_and_forward_fill(spark):
    from logstash_filter_geoip_spark.operators.temporal import resample_fill
    ev = spark.createDataFrame(
        [(1, _ts("2024-01-01 05:00:00"), "a"),
         (1, _ts("2024-01-01 09:00:00"), "b"),   # same bucket: max = b
         (1, _ts("2024-01-04 00:00:00"), "c"),   # 2-day gap before
         (2, _ts("2024-01-10 00:00:00"), "z")],  # singleton key
        "user_id int, ts timestamp, event_type string")
    out = resample_fill(ev, ["user_id"], "ts", "event_type", unit="day")
    rows = {(r.user_id, r.bucket_ts, r.n_events, r.filled_state)
            for r in out.collect()}
    assert rows == {
        (1, _ts("2024-01-01 00:00:00"), 2, "b"),
        (1, _ts("2024-01-02 00:00:00"), 0, "b"),  # gap: carried state
        (1, _ts("2024-01-03 00:00:00"), 0, "b"),
        (1, _ts("2024-01-04 00:00:00"), 1, "c"),
        (2, _ts("2024-01-10 00:00:00"), 1, "z"),
    }


def test_resample_fill_totals_preserved(spark):
    """Densification adds rows but never events: sum(n_events) equals the
    input row count, and every key's grid is contiguous daily."""
    from logstash_filter_geoip_spark.operators.temporal import resample_fill
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = resample_fill(ev, ["user_id"], "ts", "event_type").cache()
    try:
        assert (out.agg(F.sum("n_events")).collect()[0][0] == ev.count())
        gaps = (out.withColumn(
                    "prev", F.lag("bucket_ts").over(
                        __import__("pyspark").sql.Window
                        .partitionBy("user_id").orderBy("bucket_ts")))
                .where(F.col("prev").isNotNull() &
                       (F.col("bucket_ts") !=
                        F.col("prev") + F.expr("INTERVAL 1 DAY"))))
        assert gaps.count() == 0
        assert out.where(F.col("filled_state").isNull()).count() == 0
    finally:
        out.unpersist()


def test_latest_by_key(spark):
    from logstash_filter_geoip_spark.operators.temporal import latest_by_key
    rows = [("u1", 1, _ts("2024-01-01 00:00:00"), "a"),
            ("u1", 2, _ts("2024-01-03 00:00:00"), "b"),   # latest
            ("u1", 3, _ts("2024-01-02 00:00:00"), "c"),
            ("u2", 4, _ts("2024-01-01 00:00:00"), "x"),
            ("u2", 5, _ts("2024-01-01 00:00:00"), "y")]   # tie: min id wins
    df = spark.createDataFrame(
        rows, "k string, id long, ts timestamp, v string")
    got = {(r.k, r.id, r.v) for r in
           latest_by_key(df, ["k"], "ts", tie_break=("id",)).collect()}
    assert got == {("u1", 2, "b"), ("u2", 4, "x")}
    with pytest.raises(ValueError, match="key column"):
        latest_by_key(df, [], "ts")


def test_latest_by_key_plan_prunes_map_side(spark):
    """group_topk's scale shape: a Partial WindowGroupLimit below the
    Exchange prunes each map partition to its local top-1."""
    from logstash_filter_geoip_spark.operators.temporal import latest_by_key
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = latest_by_key(ev, ["user_id"], "ts", tie_break=("event_id",)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("WindowGroupLimit") >= 2   # Partial + Final
    assert "Partial" in plan
