"""Dim guards: the v6 bucket-replication bounds (VERDICT r4 #4) and the
empty-VALUES emitter error (ADVICE r4).

Only enrich's bucket leg (event-time enrich over a temporal.dim_history)
replicates a v6 dim, once per hi-word /16 bucket a row covers. A row wider
than MAX_V6_BUCKET_SPAN buckets — or a dim whose SUMMED replication exceeds
MAX_V6_DIM_REPLICATION — would balloon that broadcast, so the bucket leg
refuses it LOUDLY (enrich.prepare_dim_v6 → check_v6_rows) over the whole
snapshot union, when enrich builds the plan. The per-row bound admits every
network in the public MaxMind test databases (widest: 4000::/2 in
GeoIP2-Anonymous-IP-Test, span 16384) and rejects /1 and /0; the total
bound catches adversarial dims made of many legal-width wide rows, or of
many snapshots. The index leg replicates nothing and takes any network.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from logstash_filter_geoip_spark.config import GeoIPConfig
from logstash_filter_geoip_spark.operators.enrich import enrich
from logstash_filter_geoip_spark.operators.temporal import dim_history
from logstash_filter_geoip_spark.sources.geolite2 import (
    GOLDEN_ROWS_V6, MAX_V6_BUCKET_SPAN, MAX_V6_DIM_REPLICATION, SCHEMAS_V6,
    VENDORED_MMDB_DIR, _row_v6, _v6_bucket_span, check_v6_rows, load_dim,
    rows_values_sql, validate_dim_v6)

COUNTRY = GeoIPConfig(source="ip", target="geoip", database="Country",
                      ecs_compatibility=True)


def _needs(*names):
    """Skip unless every named MaxMind test database exists: they ship with
    the reference plugin's source tree, which is not always present."""
    missing = [p for p in (os.path.join(VENDORED_MMDB_DIR, n) for n in names)
               if not os.path.exists(p)]
    return pytest.mark.skipif(
        bool(missing),
        reason=f"{', '.join(missing)} absent: reference MaxMind test data "
               "not present")


def test_published_wide_networks_pass():
    # the golden dims (incl. 2800::/5, span 2048) all pass the guard
    for db in ("Anonymous-IP", "City", "Country", "ASN"):
        check_v6_rows(GOLDEN_ROWS_V6[db], db)


def _span_ends(cidr):
    from logstash_filter_geoip_spark.functions.ipkeys import cidr_v6_to_range
    s_hi, _s_lo, e_hi, _e_lo = cidr_v6_to_range(cidr)
    return s_hi, e_hi


def test_span_arithmetic():
    assert _v6_bucket_span(*_span_ends("2800::/5")) == 2048
    assert _v6_bucket_span(*_span_ends("4000::/2")) == 16384
    assert _v6_bucket_span(*_span_ends("8000::/1")) == 32768
    assert _v6_bucket_span(*_span_ends("2001:db8::/32")) == 1


def _probe(spark, ips):
    return spark.createDataFrame(
        [(ip, "2024-01-01 00:00:00") for ip in ips], "ip string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def test_wide_row_raises_at_build(spark):
    wide = _row_v6("8000::/1", "XX", "Wide", "Nowhere")
    with pytest.raises(ValueError, match="spans 32768"):
        check_v6_rows([wide], "test")
    df = spark.createDataFrame([wide], SCHEMAS_V6["Country"])
    validate_dim_v6(df)  # well-formed: the width bound is the bucket leg's
    hist = dim_history([("2020-01-01 00:00:00", df)])
    dim = dim_history([("2020-01-01 00:00:00", load_dim(spark, "Country"))])
    with pytest.raises(ValueError, match="spans 32768"):
        enrich(_probe(spark, ["8000::1"]), dim, COUNTRY, dim_v6=hist,
               event_time_col="ts")


def test_total_replication_cap():
    # 200 legal-width /2 rows sum to 3.2M bucket copies — over the 2M cap
    rows = [_row_v6("4000::/2", "XX", f"W{i}", "Nowhere") for i in range(200)]
    with pytest.raises(ValueError, match="in total"):
        check_v6_rows(rows, "test")


def test_history_replication_cap_at_bucket_leg(spark):
    """The bound holds over what the bucket leg explodes: a history of 33
    snapshots, each one passing check_v6_rows (4 × 16,384 = 65,536 copies),
    unions to 2,162,688 copies — over MAX_V6_DIM_REPLICATION — and
    event-time enrich refuses it while building the plan, before the
    enriched frame is ever run."""
    quarters = [_row_v6(f"{q}::/2", "XX", f"Q{q}", "Nowhere")
                for q in ("0", "4000", "8000", "c000")]
    check_v6_rows(quarters, "one snapshot")
    snap = spark.createDataFrame(quarters, SCHEMAS_V6["Country"])
    hist = dim_history([(f"2020-01-{d:02d} 00:00:00", snap)
                        for d in range(1, 34)])
    assert 33 * 4 * 16384 == 2_162_688 > MAX_V6_DIM_REPLICATION
    dim = dim_history([("2020-01-01 00:00:00", load_dim(spark, "Country"))])
    with pytest.raises(ValueError, match="2162688 bucket rows in total"):
        enrich(_probe(spark, ["2001:db8::1"]), dim, COUNTRY, dim_v6=hist,
               event_time_col="ts")


def test_wide_row_enriches_on_index_leg(spark):
    """The index leg replicates nothing, so a /1 — refused by the bucket
    leg — validates and enriches: a probe inside 8000::/1 is a hit."""
    wide = _row_v6("8000::/1", "XX", "Wide", "Nowhere")
    dim6 = spark.createDataFrame([wide], SCHEMAS_V6["Country"])
    validate_dim_v6(dim6)
    out = enrich(_probe(spark, ["8000::1", "c123::5", "2001:db8::1"]),
                 load_dim(spark, "Country"), COUNTRY, dim_v6=dim6).collect()
    got = {r["ip"]: (r["geoip_hit"], r["geoip"]["geo"]["country_iso_code"])
           for r in out}
    assert got == {"8000::1": (True, "XX"), "c123::5": (True, "XX"),
                   "2001:db8::1": (False, None)}


def test_malformed_v6_range_raises(spark):
    ok = _row_v6("2001:db8::/32", "XX", "OK", "Nowhere")
    swapped = (ok[0], ok[3], ok[4], ok[1], ok[2], *ok[5:])  # start > end
    df = spark.createDataFrame([swapped], SCHEMAS_V6["Country"])
    with pytest.raises(ValueError, match="malformed"):
        validate_dim_v6(df)


@_needs("GeoLite2-City-Test.mmdb", "GeoLite2-Country-Test.mmdb",
        "GeoIP2-Anonymous-IP-Test.mmdb")
def test_mmdb_ingest_guard_bound():
    # every bundled public test database must ingest under the default bound
    from logstash_filter_geoip_spark.sources.geolite2 import mmdb_dim_rows
    base = "/root/reference/src/test/resources/maxmind-test-data"
    for path, db in [(f"{base}/GeoLite2-City-Test.mmdb", "City"),
                     (f"{base}/GeoLite2-Country-Test.mmdb", "Country"),
                     (f"{base}/GeoIP2-Anonymous-IP-Test.mmdb",
                      "Anonymous-IP")]:
        rows4, rows6 = mmdb_dim_rows(path, db)
        assert rows6, path
        assert max(_v6_bucket_span(r[1], r[3])
                   for r in rows6) <= MAX_V6_BUCKET_SPAN


def test_empty_values_sql_raises():
    with pytest.raises(ValueError, match="empty row list"):
        rows_values_sql([], SCHEMAS_V6["Country"], "d6")


ANON_MMDB = ("/root/reference/src/test/resources/maxmind-test-data/"
             "GeoIP2-Anonymous-IP-Test.mmdb")


@_needs("GeoIP2-Anonymous-IP-Test.mmdb")
def test_mmdb_extraction_is_mtime_cached():
    """Per-micro-batch re-selection (sources/manager.py) must not re-walk
    the trie for an unchanged file: same (path, mtime) key → cache
    hit with identical rows."""
    from logstash_filter_geoip_spark.sources.geolite2 import (
        _mmdb_rows_cached, mmdb_dim_rows)
    before = _mmdb_rows_cached.cache_info()
    a = mmdb_dim_rows(ANON_MMDB, "Anonymous-IP")
    b = mmdb_dim_rows(ANON_MMDB, "Anonymous-IP")
    after = _mmdb_rows_cached.cache_info()
    assert a == b
    assert after.hits >= before.hits + 1
