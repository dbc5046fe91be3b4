"""Route fan-out, lineage manifest resume, and the streaming variant."""

from __future__ import annotations

import os

import pandas as pd

from pyspark.sql import functions as F

from logstash_filter_geoip_spark.config import GeoIPConfig
from logstash_filter_geoip_spark.lineage import read_manifest
from logstash_filter_geoip_spark.operators.route import route, read_sink, verify_routing
from logstash_filter_geoip_spark.pipeline import enriched_transcripts
from logstash_filter_geoip_spark.sources.geolite2 import load_dim
from logstash_filter_geoip_spark.sources.transcripts import load_transcripts
from logstash_filter_geoip_spark.streaming.pipeline import run_stream, windowed_stream_agg

SF = "/root/testdata/sf0.001"


def test_route_parity_and_resume(spark, tmp_path):
    base = str(tmp_path / "routed")
    e = enriched_transcripts(spark, SF).drop("geoip")  # sink schema w/o struct ok
    m1 = route(e, base)
    assert m1["status"] == "complete"
    assert m1["total_rows"] == 1000  # north_rule: routed rows == input rows

    # parity check: recomputed per-sink counts == manifest == input count
    v = verify_routing(spark, e, base)
    assert v["ok"], v

    # idempotent resume: same fingerprint → skipped (manifest timestamps equal)
    m2 = route(e, base)
    assert m2["written_at"] == m1["written_at"]

    # per-turn text equality under stable ordering (input_hint invariant)
    t_in = load_transcripts(spark, SF).select("conv_id", "turn_idx", "text")
    t_out = read_sink(spark, base).select("conv_id", "turn_idx", "text")
    diff = t_in.exceptAll(t_out).count() + t_out.exceptAll(t_in).count()
    assert diff == 0


def test_salting_spreads_hot_conv(spark):
    """north_rule skew contract: the hot conv_id's partial aggregation fans
    out over all n_salt buckets instead of pinning one reducer."""
    from pyspark.sql import functions as F
    from logstash_filter_geoip_spark.operators.route import salt_column
    t = load_transcripts(spark, SF)
    n_buckets = (t.where(F.col("conv_id") == "conv-hot")
                  .select(salt_column(32).alias("s"))
                  .distinct().count())
    assert n_buckets >= 28  # 112 turns over 32 buckets → near-full coverage


def test_metrics_written(spark, tmp_path):
    base = str(tmp_path / "routed2")
    e = enriched_transcripts(spark, SF).drop("geoip")
    route(e, base)
    metrics = spark.read.parquet(os.path.join(base, "_metrics"))
    agg = metrics.agg(F.sum("n_rows").alias("n"),
                      F.sum("n_failures").alias("f")).collect()[0]
    assert agg["n"] == 1000 and agg["f"] > 0
    assert read_manifest(base)["total_rows"] == 1000


def _write_stream_input(spark, path):
    t = load_transcripts(spark, SF)
    t.repartition(4).write.mode("overwrite").parquet(path)
    return t.count()


def test_streaming_matches_batch(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    n = _write_stream_input(spark, inp)

    dim = load_dim(spark, "City")
    q = run_stream(spark, inp, out, ckpt, lambda: dim)
    q.awaitTermination(300)
    routed = spark.read.parquet(os.path.join(out, "sinks"))
    assert routed.count() == n

    # restart from checkpoint: no new input → no duplicates (exactly-once)
    q2 = run_stream(spark, inp, out, ckpt, lambda: dim)
    q2.awaitTermination(120)
    assert spark.read.parquet(os.path.join(out, "sinks")).count() == n


def test_streaming_windowed_agg_matches_batch(spark, tmp_path):
    inp = str(tmp_path / "in2")
    out = str(tmp_path / "out2")
    ckpt = str(tmp_path / "ckpt2")
    _write_stream_input(spark, inp)

    # same dims on both sides: the batch default is the VENDORED ingestion
    # (pipeline.enriched_transcripts), so the stream provider must supply
    # the same pair or hits diverge
    from logstash_filter_geoip_spark.sources.geolite2 import vendored_dims
    dims = vendored_dims(spark, "City")
    q = windowed_stream_agg(spark, inp, out, ckpt, lambda: dims)
    q.awaitTermination(300)
    got = spark.read.parquet(out)

    from logstash_filter_geoip_spark.operators.aggregate import turns_per_geo_window
    want = turns_per_geo_window(
        enriched_transcripts(spark, SF), "geoip.geo.country_iso_code")

    # Append-mode watermark contract: every EMITTED row matches the batch
    # result exactly; the only rows missing are tail windows the final
    # watermark (max event time - 1h) had not closed when the stream drained.
    cols = ["window_start", "country_iso_code", "n_turns", "n_failures"]
    extra = got.select(cols).exceptAll(want.select(cols))
    assert extra.count() == 0, extra.collect()[:5]
    missing = want.select(cols).exceptAll(got.select(cols))
    max_ts = enriched_transcripts(spark, SF).agg(F.max("ts")).collect()[0][0]
    import datetime
    cutoff = max_ts - datetime.timedelta(hours=1)
    hour_floor = cutoff.replace(minute=0, second=0, microsecond=0)
    assert all(r["window_start"] >= hour_floor for r in missing.collect())
    assert got.count() >= want.count() - 4


def test_streaming_windowed_agg_counts_custom_failure_tag(spark, tmp_path):
    """A custom tag_on_failure is the failure the stream counts: every
    emitted window's n_failures equals the batch count of rows tagged
    `_custom` in that window (the one failure predicate,
    aggregate.failure_flag)."""
    inp = str(tmp_path / "in_tag")
    out = str(tmp_path / "out_tag")
    ckpt = str(tmp_path / "ckpt_tag")
    _write_stream_input(spark, inp)
    from logstash_filter_geoip_spark.sources.geolite2 import vendored_dims
    cfg = GeoIPConfig(source="ip_any", target="geoip", database="City",
                      ecs_compatibility=True, tag_on_failure=["_custom"])
    dims = vendored_dims(spark, "City")
    q = windowed_stream_agg(spark, inp, out, ckpt, lambda: dims, config=cfg)
    q.awaitTermination(300)
    got = spark.read.parquet(out)

    batch = enriched_transcripts(spark, SF, cfg)
    want = (batch.groupBy(F.date_trunc("hour", "ts").alias("window_start"),
                          F.col("geoip.geo.country_iso_code")
                           .alias("country_iso_code"))
                 .agg(F.sum(F.array_contains("tags", "_custom").cast("int"))
                       .alias("n_failures")))
    cols = ["window_start", "country_iso_code", "n_failures"]
    extra = got.select(cols).exceptAll(want.select(cols))
    assert extra.count() == 0, extra.collect()[:5]
    assert got.agg(F.sum("n_failures")).collect()[0][0] > 0


def test_streaming_hot_db_swap(spark, tmp_path):
    """S4 parity (geoip.rb:156-171): the dimension table re-reads per
    micro-batch — rows processed after a swap see the NEW database without a
    pipeline restart."""
    from pyspark.sql import functions as F2
    inp = str(tmp_path / "in_swap")
    out = str(tmp_path / "out_swap")
    ckpt = str(tmp_path / "ckpt_swap")
    t = load_transcripts(spark, SF)
    t.repartition(8).write.mode("overwrite").parquet(inp)  # 8 files → 2 batches of 4

    dims = {"n": 0}
    old = load_dim(spark, "City")
    new = old.withColumn(
        "city_name",
        F2.when(F2.col("network") == "216.160.83.56/29", F2.lit("SwappedCity"))
          .otherwise(F2.col("city_name")))

    def provider():
        dims["n"] += 1
        return old if dims["n"] <= 1 else new  # swap after the first batch

    q = run_stream(spark, inp, out, ckpt, provider)
    q.awaitTermination(300)
    routed = spark.read.parquet(os.path.join(out, "sinks"))
    names = {r[0] for r in routed.where(F2.col("ip_str") == "216.160.83.58")
             .select("geoip.geo.city_name").distinct().collect()}
    assert dims["n"] >= 2, "expected multiple micro-batches"
    assert names == {"Milton", "SwappedCity"}, names


def test_streaming_hot_v6_db_swap(spark, tmp_path):
    """S4 extends to the v6 leg (VERDICT r2 #6): a provider returning
    (dim, dim_v6) tuples swaps BOTH dimension tables per micro-batch — v6
    rows processed after the swap resolve through the NEW v6 dim."""
    from pyspark.sql import functions as F2
    from logstash_filter_geoip_spark.sources.geolite2 import load_dim_v6
    inp = str(tmp_path / "in_swap6")
    out = str(tmp_path / "out_swap6")
    ckpt = str(tmp_path / "ckpt_swap6")
    t = load_transcripts(spark, SF)
    t.repartition(8).write.mode("overwrite").parquet(inp)  # 2 batches of 4

    dim = load_dim(spark, "City")
    v6_old = load_dim_v6(spark, "City")
    v6_new = v6_old.withColumn(
        "continent_code",
        F2.when(F2.col("network") == "2607:f0d0::/32", F2.lit("X6"))
          .otherwise(F2.col("continent_code")))

    calls = {"n": 0}

    def provider():
        calls["n"] += 1
        return (dim, v6_old if calls["n"] <= 1 else v6_new)

    q = run_stream(spark, inp, out, ckpt, provider)
    q.awaitTermination(300)
    routed = spark.read.parquet(os.path.join(out, "sinks"))
    codes = {r[0] for r in
             routed.where(F2.col("ip6_str") == "2607:f0d0:1002:51::4")
                   .select("geoip.geo.continent_code").distinct().collect()}
    assert calls["n"] >= 2, "expected multiple micro-batches"
    assert codes == {"NA", "X6"}, codes


def test_conv_state_tracker_resumes(spark, tmp_path):
    """applyInPandasWithState: per-conv running state survives a restart —
    new data after restart continues accumulating from the checkpointed
    counts (the stateful-streaming resume contract)."""
    import pyspark.sql.functions as F2
    from logstash_filter_geoip_spark.streaming.pipeline import conv_state_tracker
    inp = str(tmp_path / "in_state")
    out = str(tmp_path / "out_state")
    ckpt = str(tmp_path / "ckpt_state")
    t = load_transcripts(spark, SF)
    first = t.where(F2.col("turn_idx") % 2 == 0)
    second = t.where(F2.col("turn_idx") % 2 == 1)
    first.repartition(4).write.mode("overwrite").parquet(inp)

    dim = load_dim(spark, "City")
    q = conv_state_tracker(spark, inp, out, ckpt, lambda: dim)
    q.awaitTermination(300)
    got1 = (spark.read.parquet(out)
            .groupBy("conv_id").agg(F2.max("n_turns").alias("n")))
    want1 = first.groupBy("conv_id").count()
    assert got1.join(want1, "conv_id") \
        .where(F2.col("n") != F2.col("count")).count() == 0

    # restart with MORE files → state continues from checkpoint
    second.repartition(4).write.mode("append").parquet(inp)
    q2 = conv_state_tracker(spark, inp, out, ckpt, lambda: dim)
    q2.awaitTermination(300)
    got2 = (spark.read.parquet(out)
            .groupBy("conv_id").agg(F2.max("n_turns").alias("n")))
    want2 = t.groupBy("conv_id").count()
    assert got2.join(want2, "conv_id") \
        .where(F2.col("n") != F2.col("count")).count() == 0


def test_streaming_expired_db(spark, tmp_path):
    inp = str(tmp_path / "in3")
    out = str(tmp_path / "out3")
    ckpt = str(tmp_path / "ckpt3")
    n = _write_stream_input(spark, inp)
    q = run_stream(spark, inp, out, ckpt, lambda: None)  # dim gone → expired
    q.awaitTermination(300)
    routed = spark.read.parquet(os.path.join(out, "sinks"))
    expired = routed.where(
        F.array_contains("tags", "_geoip_expired_database")).count()
    assert expired == n


def test_route_single_pass_over_input(spark, tmp_path):
    """VERDICT r1 #10: the fingerprint rides the write via observe() — the
    upstream pipeline must execute EXACTLY once (no persist, no extra scans).
    An accumulator-ticking pandas UDF in the input lineage counts how many
    times each row is computed."""
    from pyspark.sql import types as T
    from logstash_filter_geoip_spark.lineage import input_fingerprint

    acc = spark.sparkContext.accumulator(0)
    # Other suites (dedup localCheckpoints) may legitimately leave persistent
    # RDDs in the shared session — assert route() itself adds none (delta),
    # not a session-global zero (ADVICE r2: order-dependent failure).
    persisted_before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    @F.pandas_udf(T.IntegerType())
    def tick(s: pd.Series) -> pd.Series:
        acc.add(len(s))
        return s

    t = load_transcripts(spark, SF).withColumn(
        "turn_idx", tick(F.col("turn_idx")))
    n = 1000
    base = str(tmp_path / "routed3")
    manifest = route(t, base, resume=False)
    assert manifest["total_rows"] == n
    assert acc.value == n, f"input computed {acc.value / n:.1f}x, want 1x"
    # no persist crutch left behind by route()
    persisted_after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert persisted_after == persisted_before
    # the observe-folded fingerprint equals an independent recompute
    assert manifest["fingerprint"] == input_fingerprint(
        load_transcripts(spark, SF), ["conv_id", "turn_idx"])


def test_per_sink_union_parity(spark, tmp_path):
    """§2.6 unionByName parity: per-sink aggregate outputs, read back sink by
    sink and unioned, must equal the single aggregate over the input."""
    from logstash_filter_geoip_spark.operators import aggregate as agg
    from functools import reduce

    e = enriched_transcripts(spark, SF).drop("geoip")
    base = str(tmp_path / "union_parity")
    route(e, base, resume=False)
    roles = [r["role"] for r in read_sink(spark, base).select("role").distinct().collect()]
    per_sink = [
        agg.routed_row_counts(read_sink(spark, base).where(F.col("role") == role))
        for role in roles
    ]
    unioned = reduce(lambda a, b: a.unionByName(b), per_sink)
    want = agg.routed_row_counts(e)
    assert unioned.exceptAll(want).count() == 0
    assert want.exceptAll(unioned).count() == 0


def test_auto_n_salt_scales_with_input(spark, tmp_path):
    """VERDICT r2 #1: the files-per-sink bound follows the DATA — tiny input
    → n_salt 1 (one ~input-sized file per sink, no per-writer overhead);
    the bound grows linearly once per-sink bytes exceed the file target."""
    from logstash_filter_geoip_spark.operators.route import (
        DEFAULT_N_SALT, auto_n_salt, route)
    t = load_transcripts(spark, SF)
    inp = str(tmp_path / "salt_in")
    t.write.parquet(inp)
    df = spark.read.parquet(inp)
    assert auto_n_salt(df) == 1                       # ~KB input, 256MB target
    sz = sum(os.path.getsize(os.path.join(inp, f)) for f in os.listdir(inp)
             if f.endswith(".parquet"))
    # force a tiny target: n_salt == ceil(per-sink bytes / target)
    import math
    want = math.ceil(sz / 16 / 1024)
    assert auto_n_salt(df, sink_count=16, target_file_bytes=1024) == min(want, 4096)
    # derived (non-parquet-backed) lineage still sizes from the source scan;
    # a source with no file info falls back to the fixed default
    mem = spark.range(10).toDF("x")
    assert auto_n_salt(mem) == DEFAULT_N_SALT
    # end-to-end: auto route writes exactly one file per non-empty sink
    base = str(tmp_path / "salt_out")
    route(df, base, resume=False)
    files = []
    for root, _dirs, fs in os.walk(os.path.join(base, "sinks")):
        files += [f for f in fs if f.endswith(".parquet")]
    n_sinks = df.select("role", "tool").distinct().count()
    assert len(files) == n_sinks, (len(files), n_sinks)


def test_conv_state_last_country_ignores_stale_out_of_order_row(spark, tmp_path):
    """Review r5: last_country must be the country of the latest-seen turn
    THAT HAS a country. A later batch whose newest row has no country but
    which also carries an older out-of-order row with a country must NOT
    regress the state to that older country."""
    import datetime
    from logstash_filter_geoip_spark.streaming.pipeline import (
        TRANSCRIPT_SCHEMA, conv_state_tracker)
    inp = str(tmp_path / "in_ooo")
    out = str(tmp_path / "out_ooo")
    ckpt = str(tmp_path / "ckpt_ooo")
    base = datetime.datetime(2025, 1, 1, 0, 0, 0)

    def rows_df(rows):
        return spark.createDataFrame(
            [(c, i, "user", text, "search", base + datetime.timedelta(seconds=s))
             for c, i, text, s in rows], TRANSCRIPT_SCHEMA)

    dim = load_dim(spark, "City")
    # batch 1: ts=10 hits the Milton golden → last_country US
    rows_df([("cX", 0, "client 216.160.83.58 ok", 10)]) \
        .coalesce(1).write.mode("overwrite").parquet(inp)
    q = conv_state_tracker(spark, inp, out, ckpt, lambda: dim)
    q.awaitTermination(300)

    # batch 2 (restart, appended file): an OLDER out-of-order GB row (ts=5)
    # plus a NEWER row with no IP (ts=20, country null)
    rows_df([("cX", 1, "older 81.2.69.142 hit", 5),
             ("cX", 2, "no ip in this turn", 20)]) \
        .coalesce(1).write.mode("append").parquet(inp)
    q2 = conv_state_tracker(spark, inp, out, ckpt, lambda: dim)
    q2.awaitTermination(300)

    import pyspark.sql.functions as F2
    final = (spark.read.parquet(out).where("conv_id = 'cX'")
             .orderBy(F2.col("n_turns").desc()).limit(1).collect()[0])
    assert final["n_turns"] == 3
    assert final["last_country"] == "US", final


def test_turns_per_geo_window_honors_multiplier(spark):
    """Review r5: a '30 minutes' window must floor to 30-minute buckets
    (previously silently truncated to the bare unit). Cross-checked against
    F.window, the engine's own tumbling-window implementation."""
    from logstash_filter_geoip_spark.operators.aggregate import turns_per_geo_window
    e = enriched_transcripts(spark, SF)
    got = turns_per_geo_window(e, "geoip.geo.country_iso_code",
                               window="30 minutes")
    want = (e.groupBy(F.window("ts", "30 minutes").alias("w"),
                      F.col("geoip.geo.country_iso_code").alias("country_iso_code"))
             .agg(F.count(F.lit(1)).alias("n_turns"))
             .select(F.col("w.start").alias("window_start"),
                     "country_iso_code", "n_turns"))
    cols = ["window_start", "country_iso_code", "n_turns"]
    assert got.select(cols).exceptAll(want).count() == 0
    assert want.exceptAll(got.select(cols)).count() == 0
    # and more than one distinct bucket per hour actually exists in the data
    assert got.select("window_start").distinct().count() \
        > turns_per_geo_window(e, "geoip.geo.country_iso_code") \
            .select("window_start").distinct().count()


def test_streaming_sessions_match_batch(spark, tmp_path):
    """Streaming session_window under a watermark == the batch operator
    (operators/sessions.session_window_agg) for every session the final
    watermark closed; the only missing rows are tail sessions still open
    (or unemittable) when the availableNow stream drained."""
    import datetime

    from logstash_filter_geoip_spark.operators.sessions import (
        session_window_agg)
    from logstash_filter_geoip_spark.streaming.pipeline import (
        session_stream_agg)

    inp = str(tmp_path / "in_sess")
    out = str(tmp_path / "out_sess")
    ckpt = str(tmp_path / "ckpt_sess")
    _write_stream_input(spark, inp)

    q = session_stream_agg(spark, inp, out, ckpt, keys=("conv_id",),
                           gap="30 minutes", watermark="1 hour")
    q.awaitTermination(300)
    got = spark.read.parquet(out)

    t = load_transcripts(spark, SF)
    want = session_window_agg(t, ["conv_id"], "ts", gap="30 minutes")

    cols = ["conv_id", "session_start", "session_end", "n_events"]
    extra = got.select(cols).exceptAll(want.select(cols))
    assert extra.count() == 0, extra.collect()[:5]

    missing = want.select(cols).exceptAll(got.select(cols))
    max_ts = t.agg(F.max("ts")).collect()[0][0]
    cutoff = max_ts - datetime.timedelta(hours=1)
    assert all(r["session_end"] > cutoff for r in missing.collect()), \
        missing.collect()[:5]
    assert got.count() >= want.count() - 8


def test_stream_stream_attribution_matches_batch(spark, tmp_path):
    """Stream-stream interval self-join: the drained streaming attribution
    equals the batch twin row-for-row (same attribution_join definition),
    minus only matches whose join state the final watermark had already
    bounded — with max event time far beyond every interval, that set is
    empty, so equality here is exact."""
    from logstash_filter_geoip_spark.streaming.pipeline import (
        attribution_join, error_attribution_stream)

    inp = str(tmp_path / "in_attr")
    out = str(tmp_path / "out_attr")
    ckpt = str(tmp_path / "ckpt_attr")
    _write_stream_input(spark, inp)

    q = error_attribution_stream(spark, inp, out, ckpt,
                                 max_lag="30 minutes", watermark="1 hour")
    q.awaitTermination(300)
    got = spark.read.parquet(out)

    want = attribution_join(load_transcripts(spark, SF),
                            max_lag="30 minutes")
    assert got.count() > 0
    diff = got.exceptAll(want).count() + want.exceptAll(got).count()
    assert diff == 0

    # restart from checkpoint with no new input: exactly-once, no dupes
    n = got.count()
    q2 = error_attribution_stream(spark, inp, out, ckpt,
                                  max_lag="30 minutes", watermark="1 hour")
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == n


def test_route_json_sink_roundtrip(spark, tmp_path):
    """The sink format is a real parameter: a json route must round-trip
    through verify_routing/read_sink with no caller-side format re-stating
    (read_sink picks the manifest's recorded format)."""
    base = str(tmp_path / "routed_json")
    e = (enriched_transcripts(spark, SF).drop("geoip")
         .select("conv_id", "turn_idx", "role", "tool", "text", "tags"))
    m = route(e, base, fmt="json")
    assert m["status"] == "complete" and m["format"] == "json"
    assert m["total_rows"] == 1000
    v = verify_routing(spark, e, base)
    assert v["ok"], v
    back = read_sink(spark, base)  # no fmt argument on purpose
    assert back.count() == 1000
    t_in = e.select("conv_id", "turn_idx", "text")
    t_out = back.select("conv_id", "turn_idx", "text")
    assert t_in.exceptAll(t_out).count() + t_out.exceptAll(t_in).count() == 0


def test_dq_stream_gate_matches_batch(spark, tmp_path):
    """Drained dq stream == batch dq_quarantine split row-for-row, and the
    per-batch metrics sum to the batch violation counts (no drift between
    the ingest gate and the batch/oracle definitions)."""
    from logstash_filter_geoip_spark.operators import dq
    from logstash_filter_geoip_spark.streaming.pipeline import dq_stream_gate

    ev = spark.read.parquet(f"{SF}/events.parquet")
    in_path = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ev.repartition(3).write.parquet(in_path)

    checks = {n: b() for n, b, _ in dq.EVENT_CHECKS}
    q = dq_stream_gate(spark, in_path, out, str(tmp_path / "ckpt"),
                       ev.schema, checks)
    q.awaitTermination(300)

    batch = dq.dq_quarantine(ev, checks)
    got_pass = spark.read.parquet(os.path.join(out, "data"))
    want_pass = batch.where("passed").drop("violations", "passed")
    assert got_pass.exceptAll(want_pass).count() == 0
    assert want_pass.exceptAll(got_pass).count() == 0

    got_q = (spark.read.parquet(os.path.join(out, "quarantine"))
             .select("event_id", "violations"))
    want_q = batch.where("NOT passed").select("event_id", "violations")
    assert got_q.exceptAll(want_q).count() == 0
    assert want_q.exceptAll(got_q).count() == 0

    # metrics: per-check totals across batches == batch violation counts
    m = spark.read.parquet(os.path.join(out, "metrics"))
    per_check = {r["check"]: r["s"] for r in
                 m.groupBy("check").agg(F.sum("n_violations").alias("s"))
                  .collect()}
    want = {r["check"]: r["n_violations"] for r in
            dq.dq_summary(ev, checks).collect() if r["n_violations"] > 0}
    assert per_check == want
    # each micro-batch stamps its row count once per check; the distinct
    # (batch_id, n_rows) pairs must partition the input exactly
    rows_per_batch = m.select("batch_id", "n_rows").distinct()
    assert rows_per_batch.agg(F.sum("n_rows")).first()[0] == ev.count()
