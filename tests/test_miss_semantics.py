"""The miss-semantics contract — one test per row of the offline-spec matrix
(spec/filters/geoip_offline_spec.rb, FIXTURES.md §4).

Trichotomy: target ABSENT (null struct) vs target {} (all-null fields) vs
enriched, with `_geoip_lookup_failure` appended on every miss and
`_geoip_expired_database` when the database is unhealthy."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logstash_filter_geoip_spark.config import GeoIPConfig
from logstash_filter_geoip_spark.functions.parse import parse_transcripts
from logstash_filter_geoip_spark.operators.enrich import enrich
from logstash_filter_geoip_spark.sources.geolite2 import load_dim

FAIL = "_geoip_lookup_failure"
EXPIRED = "_geoip_expired_database"


def _run_text(spark, text, ecs=True, healthy=True):
    df = spark.createDataFrame([("c1", 0, text)], ["conv_id", "turn_idx", "text"])
    parsed = parse_transcripts(df)
    cfg = GeoIPConfig(source="ip_str", target="geoip", database="City",
                      ecs_compatibility=ecs, healthy=healthy)
    return enrich(parsed, load_dim(spark, "City"), cfg).collect()[0]


def _all_null(struct_row) -> bool:
    d = struct_row.asDict(recursive=True)

    def flat(x):
        for v in x.values():
            if isinstance(v, dict):
                yield from flat(v)
            else:
                yield v
    return all(v is None for v in flat(d))


@pytest.mark.parametrize("text", ["no ip in here", "", "      "])
def test_absent_cases(spark, text):
    # null/blank source → target NOT set at all + failure tag
    # (geoip_offline_spec.rb:11-16,51-59; GeoIPFilter.java:150-167)
    r = _run_text(spark, text)
    assert r["geoip"] is None
    assert r["tags"] == [FAIL]


@pytest.mark.parametrize("text", [
    "unknown 0.0.0.0 ip",          # in no range → AddressNotFound analogue
    "loopback 127.0.0.1",          # private, not in DB
    "octets 999.999.999.999 bad",  # parse failure (InetAddress analogue)
    "abort 198.51.100.7 city row with no lat/lon",  # City abort (P10)
])
def test_empty_object_cases(spark, text):
    # target set to {} + failure tag (geoip_offline_spec.rb:18-23,61-84)
    r = _run_text(spark, text)
    assert r["geoip"] is not None
    assert _all_null(r["geoip"])
    assert r["tags"] == [FAIL]


def test_blank_direct_source_is_absent(spark):
    # P3 with a DIRECT source column (no regex pre-filter): blank/whitespace
    # → target NOT set at all (geoip_offline_spec.rb:51-59)
    df = spark.createDataFrame(
        [("b1", 0, ""), ("b2", 0, "      ")], ["conv_id", "turn_idx", "ip_str"])
    cfg = GeoIPConfig(source="ip_str", target="geoip", database="City")
    for r in enrich(df, load_dim(spark, "City"), cfg).collect():
        assert r["geoip"] is None
        assert r["tags"] == [FAIL]


def test_multi_ip_first_wins(spark):
    # list-source-first-element parity (GeoIPFilter.java:156-157)
    r = _run_text(spark, "multi 8.8.8.8 then 1.128.0.1")
    assert r["geoip"]["ip"] == "8.8.8.8"
    assert r["geoip"]["geo"]["timezone"] == "America/Chicago"
    assert r["tags"] == []


def test_expired_database(spark):
    # unhealthy DB: lookup skipped entirely, expired tag, target untouched
    # (geoip.rb:115; geoip_offline_spec.rb:87-101)
    r = _run_text(spark, "client 216.160.83.58 would hit", healthy=False)
    assert r["geoip"] is None
    assert r["tags"] == [EXPIRED]


def test_tag_on_failure_customizable(spark):
    df = spark.createDataFrame([("c1", 0, "0.0.0.0")], ["conv_id", "turn_idx", "ip_str"])
    cfg = GeoIPConfig(source="ip_str", target="geoip", database="City",
                      tag_on_failure=["_custom_a", "_custom_b"])
    r = enrich(df, load_dim(spark, "City"), cfg).collect()[0]
    assert r["tags"] == ["_custom_a", "_custom_b"]


def test_existing_tags_appended_not_replaced(spark):
    df = spark.createDataFrame(
        [("c1", 0, "0.0.0.0", ["pre"]), ("c2", 0, "8.8.8.8", ["pre"])],
        ["conv_id", "turn_idx", "ip_str", "tags"])
    cfg = GeoIPConfig(source="ip_str", target="geoip", database="City")
    rows = {r["conv_id"]: r for r in
            enrich(df, load_dim(spark, "City"), cfg).collect()}
    assert rows["c1"]["tags"] == ["pre", FAIL]
    assert rows["c2"]["tags"] == ["pre"]


def test_malformed_dim_rows_rejected_at_load(spark):
    # corrupted-record analogue: bad dim data is a LOAD-time error, never a
    # query-time throw (GeoIPFilterTest.java:276-283 inverse)
    from logstash_filter_geoip_spark.sources.geolite2 import validate_dim
    bad = spark.createDataFrame(
        [("x/24", 100, 50, None, None, None, None, None, None, None, None,
          None, None, None, None)],
        load_dim(spark, "City").schema)
    with pytest.raises(ValueError, match="malformed range rows"):
        validate_dim(bad)


@pytest.mark.parametrize("start,end", [(-5, 5), (0, 2**40)])
def test_out_of_uint32_dim_rows_rejected_at_load(spark, start, end):
    # validate_dim refuses what split_malformed quarantines: a bound outside
    # uint32 would explode in ipkeys.explode_buckets at query time (net_end
    # 2^40 → 2^24 bucket rows; a negative start wraps near bucket 2^48)
    from logstash_filter_geoip_spark.sources.geolite2 import (split_malformed,
                                                              validate_dim)
    dim = load_dim(spark, "ASN")
    bad = dim.unionByName(spark.createDataFrame(
        [("bad/24", start, end, 1, "x")], dim.schema))
    assert split_malformed(bad)[1].count() == 1
    with pytest.raises(ValueError, match="1 malformed range rows"):
        validate_dim(bad)


@pytest.mark.parametrize("start_lo,end_lo", [(9, 1), (None, 1)])
def test_malformed_v6_dim_rows_rejected_at_load(spark, start_lo, end_lo):
    # the v6 sibling: a range reversed in its low half (hi words equal) or
    # with a null low word can never match the probe's lexicographic
    # (hi, lo) comparison, so validate_dim_v6 refuses it at load time
    from logstash_filter_geoip_spark.sources.geolite2 import (load_dim_v6,
                                                              validate_dim_v6)
    dim = load_dim_v6(spark, "ASN")
    validate_dim_v6(dim)
    bad = dim.unionByName(spark.createDataFrame(
        [("bad/64", 5, start_lo, 5, end_lo, 1, "x")], dim.schema))
    with pytest.raises(ValueError, match="1 malformed range rows"):
        validate_dim_v6(bad)


def test_unknown_database_registers_then_raises_at_enrich(spark):
    """J4 (Database.java:102-124 + GeoIPFilter.java:195-196): an
    Unknown-typed database REGISTERS fine (config accepts it, empty field
    set), but the moment an event would flow through it the reference throws
    IllegalStateException — our enrich() raises at build time (ADVICE r2:
    the earlier silent no-op also made the output schema inconsistent)."""
    from logstash_filter_geoip_spark.config import GeoIPConfig
    from logstash_filter_geoip_spark.fields import database_from_type_string
    from logstash_filter_geoip_spark.operators.enrich import enrich
    from logstash_filter_geoip_spark.sources.geolite2 import load_dim

    assert database_from_type_string("Acme-Custom-DB") == "Unknown"
    cfg = GeoIPConfig(source="ip_str", target="geoip", database="Unknown")
    df = spark.createDataFrame(
        [("c1", 0, "8.8.8.8", ["pre-tag"]), ("c2", 1, None, [])],
        ["conv_id", "turn_idx", "ip_str", "tags"])
    with pytest.raises(ValueError, match="Unsupported database type"):
        enrich(df, load_dim(spark, "City"), cfg)


def test_array_source_first_element_wins(spark):
    """P2 literal (GeoIPFilter.java:156-163): a List source uses element 0;
    a non-string/non-list source is a register-time error."""
    import pytest
    from pyspark.sql import functions as F
    from logstash_filter_geoip_spark.config import GeoIPConfig
    from logstash_filter_geoip_spark.operators.enrich import enrich
    from logstash_filter_geoip_spark.sources.geolite2 import load_dim

    cfg = GeoIPConfig(source="ips", target="geoip", database="City")
    dim = load_dim(spark, "City")
    df = spark.createDataFrame(
        [("a", ["216.160.83.58", "8.8.8.8"]),   # first (Milton) wins
         ("b", []),                              # empty list → absent
         ("c", None)],                           # null list → absent
        ["row_id", "ips"])
    out = {r["row_id"]: r for r in enrich(df, dim, cfg).collect()}
    assert out["a"]["geoip"]["geo"]["city_name"] == "Milton"
    assert out["a"]["geoip"]["ip"] == "216.160.83.58"
    for k in ("b", "c"):
        assert out[k]["geoip"] is None          # absent, not {}
    bad = spark.createDataFrame([(1, 2)], ["row_id", "ips"])
    with pytest.raises(ValueError, match="expecting string or"):
        enrich(bad, dim, cfg)


def test_invalid_string_ip_matrix_direct_source(spark):
    """The offline spec's direct-source invalid-IP matrix
    (geoip_offline_spec.rb:27-85): '-', 'N/A', comma-separated pair,
    not-in-DB, v6 loopback → target {} + failure tag ('invalid string IP');
    empty / whitespace-only → target ABSENT ('invalid empty IP')."""
    from logstash_filter_geoip_spark.sources.geolite2 import load_dim_v6
    empty_like = ["", "      "]
    string_invalid = ["-", "N/A", "123.45.67.89,61.160.232.222",
                      "0.0.0.0", "::1"]
    rows = [(f"e{i}", v) for i, v in enumerate(empty_like)] + \
           [(f"s{i}", v) for i, v in enumerate(string_invalid)]
    df = spark.createDataFrame(rows, ["probe_id", "ip"])
    cfg = GeoIPConfig(source="ip", target="geoip", database="City",
                      ecs_compatibility=True)
    out = {r["probe_id"]: r for r in enrich(
        df, load_dim(spark, "City"), cfg,
        dim_v6=load_dim_v6(spark, "City")).collect()}
    for i in range(len(empty_like)):
        r = out[f"e{i}"]
        assert r["geoip"] is None, r          # absent, never {}
        assert FAIL in r["tags"]
    for i in range(len(string_invalid)):
        r = out[f"s{i}"]
        assert r["geoip"] is not None, r      # {} — struct present
        assert _all_null(r["geoip"]), r
        assert FAIL in r["tags"]


def test_expired_database_preserves_existing_target(spark):
    """Review r5: the unhealthy path must leave a pre-existing target
    UNTOUCHED (the reference skips the lookup and never nulls event fields,
    geoip.rb:115) while still adding the expired tag, and must emit the
    same diagnostic columns as the healthy path so sink schemas stay
    stable across a hot-swap expiry."""
    cfg = GeoIPConfig(source="ip_str", target="geoip", database="City")
    dim = load_dim(spark, "City")
    df = spark.createDataFrame(
        [("c1", 0, "216.160.83.58")], ["conv_id", "turn_idx", "ip_str"])
    healthy = enrich(df, dim, cfg)
    r0 = healthy.collect()[0]
    assert r0["geoip"]["geo"]["city_name"] == "Milton"

    expired_cfg = GeoIPConfig(source="ip_str", target="geoip",
                              database="City", healthy=False)
    again = enrich(healthy, dim, expired_cfg)
    # schema identical to the healthy output (hot-swap sink consistency):
    # names AND types — a sink keeps one schema across an expiry only if the
    # typed-NULL target equals the struct the healthy path builds
    assert again.columns == healthy.columns
    assert again.schema.simpleString() == healthy.schema.simpleString()
    r = again.collect()[0]
    assert r["geoip"]["geo"]["city_name"] == "Milton"  # untouched
    assert EXPIRED in r["tags"]
    assert r["geoip_hit"] is False and r["ip_u32"] is None

    # absent target: added as typed NULL (schema stability for downstream)
    fresh = enrich(df, dim, expired_cfg)
    assert fresh.columns == healthy.columns
    assert fresh.schema.simpleString() == healthy.schema.simpleString()
    assert fresh.collect()[0]["geoip"] is None
