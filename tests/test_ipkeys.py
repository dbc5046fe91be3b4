from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logstash_filter_geoip_spark.functions import ipkeys


def test_cidr_to_range():
    assert ipkeys.cidr_to_range("12.81.92.0/22") == \
        (12 * 2**24 + 81 * 2**16 + 92 * 256, 12 * 2**24 + 81 * 2**16 + 95 * 256 + 255)
    assert ipkeys.cidr_to_range("0.0.0.0/0") == (0, 2**32 - 1)
    s, e = ipkeys.cidr_to_range("216.160.83.56/29")
    assert e - s == 7


def test_ipv4_uint32_roundtrip(spark):
    df = spark.createDataFrame(
        [("216.160.83.58",), ("0.0.0.0",), ("255.255.255.255",),
         ("999.1.2.3",), (None,), ("1.2.3",), ("a.b.c.d",),
         ("1.2.3.4.5",)], ["ip"])
    out = df.select(
        ipkeys.ipv4_to_uint32(F.col("ip")).alias("u"),
        ipkeys.uint32_to_ipv4(ipkeys.ipv4_to_uint32(F.col("ip"))).alias("rt"),
    ).collect()
    assert out[0]["u"] == 216 * 2**24 + 160 * 2**16 + 83 * 256 + 58
    assert out[0]["rt"] == "216.160.83.58"
    assert out[1]["u"] == 0 and out[2]["u"] == 2**32 - 1
    assert out[3]["u"] is None  # invalid octet → parse failure (P4)
    assert out[4]["u"] is None
    # malformed shapes never throw, they null out (P4/P5 robustness)
    assert out[5]["u"] is None and out[6]["u"] is None and out[7]["u"] is None


def test_bucket_replication(spark):
    from logstash_filter_geoip_spark.sources.geolite2 import load_dim
    dim = load_dim(spark, "ASN")
    exploded = ipkeys.explode_buckets(dim)
    counts = {r["network"]: r["n"] for r in exploded.groupBy("network")
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts["1.128.0.0/11"] == 32  # a /11 covers 2^(16-11)=32 /16 buckets
    assert counts["8.8.8.0/24"] == 1
    assert counts["12.81.92.0/22"] == 1


def test_ipv6_key_and_canonical(spark):
    df = spark.createDataFrame(
        [("2607:f0d0:1002:51::4",), ("::1",), ("garbage",)], ["ip"])
    keyed = df.select(ipkeys.ipv6_key_lpm_udf(None)(F.col("ip")).alias("k"))
    rows = keyed.select(
        "k",
        ipkeys.ipv6_canonical_from_key(F.col("k.ip_hi"),
                                       F.col("k.ip_lo")).alias("c"),
    ).collect()
    # canonical exploded form parity: spec/filters/geoip_ecs_spec.rb:144-159
    assert rows[0]["c"] == "2607:f0d0:1002:51:0:0:0:4"
    assert rows[1]["c"] == "0:0:0:0:0:0:0:1"
    # an invalid literal has a null key; concat_ws would render it as "",
    # which enrich never reads (its v6 leg requires a non-null key)
    assert rows[2]["k"]["ip_hi"] is None and rows[2]["k"]["ip_lo"] is None
    # the parse-only form (no range index) matches no dim row
    assert all(r["k"]["dim_idx"] is None for r in rows)
    # ordering: signed (hi, lo) pairs sort like unsigned 128-bit ints
    k0, k1 = rows[0]["k"], rows[1]["k"]
    assert (k1["ip_hi"], k1["ip_lo"]) < (k0["ip_hi"], k0["ip_lo"])


def test_ipv4_mapped_u32(spark):
    """Key-level mapped detection (ADVICE r3): EVERY spelling whose parsed
    bytes are ::ffff:a.b.c.d yields the quad's uint32 — including
    zero-compression variants and the pure-hex form — mirroring Java's
    convertFromIPv4MappedAddress on the bytes; v4-compatible and near-miss
    prefixes stay null (remain Inet6Address in Java)."""
    u_1234 = 1 * 2**24 + 2 * 2**16 + 3 * 256 + 4
    cases = [
        ("::ffff:1.2.3.4", u_1234),
        ("::FFFF:1.2.3.4", u_1234),
        ("0:0:0:0:0:ffff:1.2.3.4", u_1234),
        ("0::ffff:1.2.3.4", u_1234),            # ADVICE spellings
        ("::0:ffff:1.2.3.4", u_1234),
        ("0:0::ffff:1.2.3.4", u_1234),
        ("::ffff:102:304", u_1234),             # pure-hex mapped form
        ("::ffff:255.255.255.255", 2**32 - 1),
        ("::1.2.3.4", None),                    # v4-compatible, NOT mapped
        ("::fffe:1.2.3.4", None),
        ("64:ff9b::1.2.3.4", None),             # NAT64 → v6 leg
        ("::ffff:999.1.1.1", None),             # invalid octet → parse fail
        ("2a02:d5c0::1", None),
        ("garbage", None),
        (None, None),
    ]
    df = spark.createDataFrame([(c[0],) for c in cases], ["ip"])
    keyed = df.select(ipkeys.ipv6_key_lpm_udf(None)(F.col("ip")).alias("k"))
    hi, lo = F.col("k.ip_hi"), F.col("k.ip_lo")
    out = keyed.select(
        ipkeys.ipv4_mapped_u32(hi, lo).alias("u"),
        ipkeys.uint32_to_ipv4(ipkeys.ipv4_mapped_u32(hi, lo)).alias("q"),
    ).collect()
    assert [r["u"] for r in out] == [c[1] for c in cases]
    assert out[0]["q"] == "1.2.3.4"  # canonical Inet4Address.getHostAddress
