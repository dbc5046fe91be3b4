"""The two v6 legs of operators.enrich, which enrich picks from its input:
the `index` leg (every non-versioned dim) vs the bucketed range join (the
`bucket` leg, which runs for event-time dims). A one-snapshot
temporal.dim_history valid before every probe reaches the bucket leg with
the same data, so it is the reference the index leg must equal: value
identity on adversarial probes and vendored City, plan shape.

Why the index leg exists (measured, r5 session 11): the bucket join's probe
cost is linear in rows-per-hi-word-bucket; at production-GeoLite2 density
(100k disjoint ranges packed in ONE /16 bucket, 1M probes) bucket
best-of-3 was 38.3 s vs 4.2 s for the index leg — 9.1× — while at the
vendored test-file density the two are within noise (1.71 vs 1.78 s at 1M
turns). The index leg resolves the longest-prefix match with a vectorized
binary search over broadcast sorted range arrays INSIDE the ArrowEvalPython
barrier the plan already pays for key parsing (the honest Spark form of the
reference's RAM-resident mmdb trie, GeoIPFilter.java:173-197), then
equi-joins on the matched row position — same 2-BroadcastHashJoin /
1-Arrow plan shape.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from logstash_filter_geoip_spark.config import GeoIPConfig
from logstash_filter_geoip_spark.operators.enrich import enrich
from logstash_filter_geoip_spark.operators.temporal import dim_history
from logstash_filter_geoip_spark.plans import checks
from logstash_filter_geoip_spark.sources.geolite2 import (SCHEMAS_V6, _row_v6,
                                                          load_dim,
                                                          vendored_dims)

CFG = GeoIPConfig(source="ip", target="geoip", database="Country")


def _adversarial_dim_v6(spark):
    """Disjoint ranges engineered at the LPM edge cases: adjacent ranges, a
    range ending exactly at a hextet boundary, and a SAME-hi-word group of
    narrow (/96) ranges that forces the searchsorted back-walk."""
    rows = [
        _row_v6("2a02:d5c0::/29", "ES", "Spain", "Europe"),
        _row_v6("2a02:d5c8::/29", "FR", "France", "Europe"),  # adjacent
        _row_v6("2001:218::/32", "JP", "Japan", "Asia"),
        # same (hi) word: three /96s under one /64 — back-walk territory
        _row_v6("2001:db8:0:1::/96", "A1", "NetA", "Testland"),
        _row_v6("2001:db8:0:1:0:1::/96", "B2", "NetB", "Testland"),
        _row_v6("2001:db8:0:1:0:2::/96", "C3", "NetC", "Testland"),
    ]
    return spark.createDataFrame(rows, SCHEMAS_V6["Country"])


def _probes(spark):
    rows = [
        ("start", "2a02:d5c0::"),                  # exact range start
        ("end", "2a02:d5c7:ffff:ffff:ffff:ffff:ffff:ffff"),  # exact end
        ("below", "2a02:d5bf:ffff::1"),            # start − 1 → miss
        ("adj", "2a02:d5c8::"),                    # first of adjacent range
        ("above", "2a02:d5d0::"),                  # end + 1 → miss
        ("hit32", "2001:218:abc::1"),
        ("bw0", "2001:db8:0:1::5"),                # /96 group, first
        ("bw1", "2001:db8:0:1:0:1:0:5"),           # /96 group, middle
        ("bw2", "2001:db8:0:1:0:2:ffff:ffff"),     # /96 group, last byte
        ("bwmiss", "2001:db8:0:1:0:3::1"),         # same hi, past the group
        ("bwlow", "2001:db8:0:0:ffff::"),          # same /64-adjacent miss
        ("mapped", "::ffff:8.8.8.8"),              # v4-mapped → v4 leg
        ("mappedhex", "::ffff:808:808"),           # pure-hex mapped spelling
        ("nat64", "64:ff9b::8.8.8.8"),             # embedded quad, v6 leg
        ("v4", "8.8.8.8"),                         # plain v4
        ("bad", "not-an-ip:"),                     # parse failure with ':'
        ("none", None),
        ("loop", "::1"),                           # miss
    ]
    return (spark.createDataFrame(rows, ["probe_id", "ip"])
            .withColumn("ts", F.lit("2024-06-01").cast("timestamp")))


def _bucket_args(dim, dim_v6):
    """The same dims as one-snapshot histories: enrich's bucket leg."""
    return (dim_history([("2024-01-01", dim)]),
            {"dim_v6": dim_history([("2024-01-01", dim_v6)]),
             "event_time_col": "ts"})


def _run(spark, dim_v6, bucket=False):
    dim, kw = load_dim(spark, "Country"), {"dim_v6": dim_v6}
    if bucket:
        dim, kw = _bucket_args(dim, dim_v6)
    out = enrich(_probes(spark), dim, CFG, **kw)
    return sorted(
        out.select("probe_id", "geoip", "tags", "ip_u32", "geoip_hit")
           .collect(),
        key=lambda r: r["probe_id"])


def test_index_equals_bucket_adversarial(spark):
    dim_v6 = _adversarial_dim_v6(spark)
    a = _run(spark, dim_v6, bucket=True)
    b = _run(spark, dim_v6)
    assert a == b
    by_id = {r["probe_id"]: r for r in b}
    # spot-check the back-walk answers against hand-derived truth
    assert by_id["bw0"]["geoip"]["geo"]["country_iso_code"] == "A1"
    assert by_id["bw1"]["geoip"]["geo"]["country_iso_code"] == "B2"
    assert by_id["bw2"]["geoip"]["geo"]["country_iso_code"] == "C3"
    assert not by_id["bwmiss"]["geoip_hit"]
    assert not by_id["bwlow"]["geoip_hit"]
    assert by_id["start"]["geoip_hit"] and by_id["end"]["geoip_hit"]
    assert not by_id["below"]["geoip_hit"] and not by_id["above"]["geoip_hit"]
    assert by_id["adj"]["geoip"]["geo"]["country_iso_code"] == "FR"
    # mapped spellings take the v4 leg on BOTH legs (canonical dotted quad)
    assert by_id["mapped"]["geoip"]["ip"] == "8.8.8.8"
    assert by_id["mappedhex"]["geoip"]["ip"] == "8.8.8.8"


def test_index_equals_bucket_vendored(spark):
    """Full vendored City dims (real .mmdb rows, 200+ in one bucket) over the
    sf0.001 transcripts source — the driver-query shape."""
    from logstash_filter_geoip_spark.functions.parse import parse_transcripts
    from logstash_filter_geoip_spark.sources.transcripts import \
        load_transcripts
    dim, dim_v6 = vendored_dims(spark, "City")
    cfg = GeoIPConfig(source="ip_any", target="geoip", database="City")
    src = parse_transcripts(load_transcripts(spark, "/root/testdata/sf0.001"))
    hist, kw = _bucket_args(dim, dim_v6)
    a = enrich(src, hist, cfg, **kw)
    b = enrich(src, dim, cfg, dim_v6=dim_v6)
    cols = ["conv_id", "turn_idx", "geoip", "tags", "geoip_hit"]
    assert sorted(map(tuple, a.select(*cols).collect())) \
        == sorted(map(tuple, b.select(*cols).collect()))


def test_index_plan_shape(spark):
    """Same contract as the bucket pin: exactly 2 BroadcastHashJoins + 1
    ArrowEvalPython, never a nested loop — and the default v6 leg joins on
    the matched row position (residual-free equi-key)."""
    import re
    dim_v6 = _adversarial_dim_v6(spark)
    e = enrich(_probes(spark), load_dim(spark, "Country"), CFG, dim_v6=dim_v6)
    plan = checks.physical_plan(e)
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 2
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "dim_idx6" in plan  # the positional equi-key is the join key


def test_index_empty_dim_and_guards(spark):
    empty6 = spark.createDataFrame([], SCHEMAS_V6["Country"])
    out = {r["probe_id"]: r for r in _run(spark, empty6)}
    assert not out["hit32"]["geoip_hit"]      # all v6 probes miss
    assert out["v4"]["geoip_hit"]             # v4 leg unaffected


def test_event_time_takes_bucket_leg(spark):
    """Versioned dims overlap in IP space across snapshots — positional LPM
    is ill-defined there, so event-time enrich plans the bucket leg (range
    residual, no positional key) and still hits."""
    dim, kw = _bucket_args(load_dim(spark, "Country"),
                           _adversarial_dim_v6(spark))
    out = enrich(_probes(spark), dim, CFG, **kw)
    plan = checks.physical_plan(out)
    assert "prefix_bucket6" in plan and "dim_idx6" not in plan
    assert out.where(F.col("geoip_hit")).count() > 0
