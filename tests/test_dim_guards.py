"""Dim-build guards: the v6 bucket-replication bounds (VERDICT r4 #4) and
the empty-VALUES emitter error (ADVICE r4).

A v6 dimension row wider than MAX_V6_BUCKET_SPAN hi-word /16 buckets — or a
file whose SUMMED replication exceeds MAX_V6_DIM_REPLICATION — would balloon
enrich's broadcast replication; both must fail LOUDLY at dim build
(load_dim_v6 / load_dim_mmdb / validate_dim_v6), never silently at enrich
time. The per-row bound admits every network in the public MaxMind test
databases (widest: 4000::/2 in GeoIP2-Anonymous-IP-Test, span 16384) and
rejects /1 and /0; the total bound catches adversarial files made of many
legal-width wide rows.
"""

from __future__ import annotations

import os

import pytest

from logstash_filter_geoip_spark.sources.geolite2 import (
    MAX_V6_BUCKET_SPAN, SCHEMAS_V6, VENDORED_MMDB_DIR, _row_v6,
    _v6_bucket_span, check_v6_rows, load_dim_v6, rows_values_sql,
    validate_dim_v6)


def _needs(*names):
    """Skip unless every named MaxMind test database exists: they ship with
    the reference plugin's source tree, which is not always present."""
    missing = [p for p in (os.path.join(VENDORED_MMDB_DIR, n) for n in names)
               if not os.path.exists(p)]
    return pytest.mark.skipif(
        bool(missing),
        reason=f"{', '.join(missing)} absent: reference MaxMind test data "
               "not present")


def test_published_wide_networks_pass(spark):
    # the golden dims (incl. 2800::/5, span 2048) all load under the guard
    for db in ("Anonymous-IP", "City", "Country", "ASN"):
        load_dim_v6(spark, db)


def _span_ends(cidr):
    from logstash_filter_geoip_spark.functions.ipkeys import cidr_v6_to_range
    s_hi, _s_lo, e_hi, _e_lo = cidr_v6_to_range(cidr)
    return s_hi, e_hi


def test_span_arithmetic():
    assert _v6_bucket_span(*_span_ends("2800::/5")) == 2048
    assert _v6_bucket_span(*_span_ends("4000::/2")) == 16384
    assert _v6_bucket_span(*_span_ends("8000::/1")) == 32768
    assert _v6_bucket_span(*_span_ends("2001:db8::/32")) == 1


def test_wide_row_raises_at_build(spark):
    wide = _row_v6("8000::/1", "XX", "Wide", "Nowhere")
    with pytest.raises(ValueError, match="spans 32768"):
        check_v6_rows([wide], "test")
    df = spark.createDataFrame([wide], SCHEMAS_V6["Country"])
    with pytest.raises(ValueError, match="spans 32768"):
        validate_dim_v6(df)
    # explicit opt-out remains possible for trusted inputs
    validate_dim_v6(df, max_span=1 << 16)


def test_total_replication_cap():
    # 200 legal-width /2 rows sum to 3.2M bucket copies — over the 2M cap
    rows = [_row_v6("4000::/2", "XX", f"W{i}", "Nowhere") for i in range(200)]
    with pytest.raises(ValueError, match="in total"):
        check_v6_rows(rows, "test")
    check_v6_rows(rows, "test", max_total=1 << 23)


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
def test_mmdb_guard_overrides_reach_ingestion():
    """The guard must be raisable through the public ingestion API (a
    legitimately wide production database must stay loadable) and
    tightenable (so the override path is provably live)."""
    from logstash_filter_geoip_spark.sources.geolite2 import mmdb_dim_rows
    # Anonymous-IP-Test carries 4000::/2 (span 16384): a tightened per-row
    # bound must reject the same file the default bound admits
    with pytest.raises(ValueError, match="spans"):
        mmdb_dim_rows(ANON_MMDB, "Anonymous-IP", max_span=1024)
    rows4, rows6 = mmdb_dim_rows(ANON_MMDB, "Anonymous-IP",
                                 max_span=1 << 16, max_total=1 << 24)
    assert rows6


@_needs("GeoIP2-Anonymous-IP-Test.mmdb")
def test_mmdb_extraction_is_mtime_cached():
    """Per-micro-batch re-selection (sources/manager.py) must not re-walk
    the trie for an unchanged file: same (path, mtime, limits) key → cache
    hit with identical rows."""
    from logstash_filter_geoip_spark.sources.geolite2 import (
        _mmdb_rows_cached, mmdb_dim_rows)
    before = _mmdb_rows_cached.cache_info()
    a = mmdb_dim_rows(ANON_MMDB, "Anonymous-IP")
    b = mmdb_dim_rows(ANON_MMDB, "Anonymous-IP")
    after = _mmdb_rows_cached.cache_info()
    assert a == b
    assert after.hits >= before.hits + 1


@_needs("GeoIP2-Anonymous-IP-Test.mmdb")
def test_select_database_forwards_limits(spark):
    from logstash_filter_geoip_spark.sources.manager import select_database
    with pytest.raises(ValueError, match="spans"):
        select_database(spark, "Anonymous-IP",
                        manager=lambda db: ANON_MMDB, max_span=1024)
    sel = select_database(spark, "Anonymous-IP", manager=lambda db: ANON_MMDB)
    assert sel.kind == "managed" and sel.healthy and sel.dim_v6 is not None
