"""Property-based tests (hypothesis) for the pure helpers, plus seeded
batch-random checks through Spark (one DataFrame per test, not per example —
the reference has no property tests; this extends its strategy per
SURVEY §5.2)."""

from __future__ import annotations

import ipaddress
import random
import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from logstash_filter_geoip_spark.functions.grok import compile_grok
from logstash_filter_geoip_spark.functions.ipkeys import (cidr_to_range,
                                                          cidr_v6_to_range)

octet = st.integers(0, 255)


@given(octet, octet, octet, octet, st.integers(0, 32))
@settings(max_examples=200, deadline=None)
def test_cidr_range_matches_ipaddress(a, b, c, d, prefix):
    net = ipaddress.ip_network(f"{a}.{b}.{c}.{d}/{prefix}", strict=False)
    s, e = cidr_to_range(str(net))
    assert s == int(net.network_address) and e == int(net.broadcast_address)
    assert e - s == net.num_addresses - 1
    # /16 bucket replication covers exactly the right bucket span
    assert (e >> 16) - (s >> 16) == max(net.num_addresses >> 16, 1) - 1 \
        or net.num_addresses < 65536


@given(st.integers(0, 2**128 - 1), st.integers(0, 128))
@settings(max_examples=200, deadline=None)
def test_cidr_v6_range_ordering(addr, prefix):
    net = ipaddress.IPv6Network((ipaddress.IPv6Address(addr), prefix),
                                strict=False)
    s_hi, s_lo, e_hi, e_lo = cidr_v6_to_range(str(net))
    # signed pairs order lexicographically like the unsigned 128-bit ints
    assert (s_hi, s_lo) <= (e_hi, e_lo)
    s = int(net.network_address)
    assert ((s >> 64) & (2**64 - 1)) - 2**63 == s_hi
    assert (s & (2**64 - 1)) - 2**63 == s_lo


@given(st.text(alphabet=st.characters(blacklist_categories=("Cs",)),
               max_size=30))
@settings(max_examples=100, deadline=None)
def test_grok_literal_text_roundtrip(literal):
    """Any literal text between grok refs is escaped: the compiled regex
    matches the literal itself."""
    regex, fields = compile_grok(literal)
    assert fields == []
    assert re.search(regex, literal) is not None


@given(st.sampled_from(["IPV4", "INT", "WORD", "UUID", "LOGLEVEL"]),
       st.text(alphabet="abcxyz[](){}.*+?|^$\\", max_size=8))
@settings(max_examples=100, deadline=None)
def test_grok_named_field_compiles(pattern, prefix):
    regex, fields = compile_grok(prefix + "%{" + pattern + ":f}")
    assert fields == ["f"]
    re.compile(regex)  # always a valid regex


def test_random_ipv4_uint32_batch(spark):
    """1000 seeded-random IP-ish strings: Spark ipv4_to_uint32 agrees with
    the Python reference semantics (valid dotted quad → uint32, else null)."""
    from pyspark.sql import functions as F
    from logstash_filter_geoip_spark.functions.ipkeys import ipv4_to_uint32

    rng = random.Random(42)
    cases = []
    for _ in range(1000):
        kind = rng.randrange(4)
        if kind == 0:  # valid
            parts = [rng.randrange(256) for _ in range(4)]
        elif kind == 1:  # invalid octet
            parts = [rng.randrange(256) for _ in range(3)] + [rng.randrange(256, 1000)]
        elif kind == 2:  # 3 segments
            parts = [rng.randrange(1000) for _ in range(3)]
        else:  # 5 segments
            parts = [rng.randrange(1000) for _ in range(5)]
        cases.append(".".join(map(str, parts)))

    def expected(s: str):
        p = s.split(".")
        if len(p) != 4 or any(int(x) > 255 for x in p):
            return None
        return (int(p[0]) << 24) | (int(p[1]) << 16) | (int(p[2]) << 8) | int(p[3])

    df = spark.createDataFrame([(c,) for c in cases], ["ip"])
    got = [r["u"] for r in
           df.select(ipv4_to_uint32(F.col("ip")).alias("u")).collect()]
    assert got == [expected(c) for c in cases]


def test_random_ipv6_keys_batch(spark):
    """500 seeded-random IPv6 addresses: (hi, lo) pairs preserve ordering
    and match Python's ipaddress canonical integer."""
    from pyspark.sql import functions as F
    from logstash_filter_geoip_spark.functions.ipkeys import ipv6_key_lpm_udf

    rng = random.Random(7)
    addrs = [str(ipaddress.IPv6Address(rng.getrandbits(128))) for _ in range(500)]
    df = spark.createDataFrame([(a,) for a in addrs], ["ip"])
    rows = df.select("ip", ipv6_key_lpm_udf(None)(F.col("ip")).alias("k")).collect()
    for r in rows:
        n = int(ipaddress.IPv6Address(r["ip"]))
        assert r["k"]["ip_hi"] == ((n >> 64) & (2**64 - 1)) - 2**63
        assert r["k"]["ip_lo"] == (n & (2**64 - 1)) - 2**63
    # ordering property on the collected sample
    by_int = sorted(rows, key=lambda r: int(ipaddress.IPv6Address(r["ip"])))
    by_key = sorted(rows, key=lambda r: (r["k"]["ip_hi"], r["k"]["ip_lo"]))
    assert [r["ip"] for r in by_int] == [r["ip"] for r in by_key]


@pytest.mark.parametrize("udf", ["ipv6_key_lpm_udf"])
def test_ipv6_key_udf_fuzz_vs_ipaddress(spark, udf):
    """Adversarial fuzz of the Arrow key UDF enrich runs: the (hi, lo) key
    must agree with Python's ipaddress on EVERY string over the [0-9a-f:.]
    alphabet — valid or not — plus structured near-valid, embedded-quad and
    edge forms, in batches that mix valid and invalid values (the float64
    coercion trap). The LPM UDF's dim_idx must equal a brute-force scan of
    the sorted City v6 ranges (batch-random through one DataFrame,
    seeded)."""
    from pyspark.sql import functions as F

    rng = random.Random(1337)
    # '.' in the alphabet: embedded-dotted-quad forms (VERDICT r3 #5) must
    # agree with ipaddress too, so the fuzz hits malformed dot forms as well
    alphabet = "0123456789abcdef:."
    cases = ["".join(rng.choice(alphabet) for _ in range(rng.randrange(1, 46)))
             for _ in range(3000)]
    # salt in structured near-valid forms the uniform fuzz rarely hits
    cases += ["1:2:3:4:5:6:7::", "::2:3:4:5:6:7:8", "1::2:3:4:5:6:7:8",
              "0::", "::0", "1:2:3:4:5:6:7:8:9", "f" * 40,
              "1:2:3:4:5::6:7:8", "1::2::3",
              # embedded-quad forms: mapped, NAT64, v4-compatible,
              # uncompressed, and near-misses (leading zero, >255, 3 octets,
              # 9 groups, quad not last)
              "::ffff:1.2.3.4", "0:0::ffff:1.2.3.4", "64:ff9b::192.0.2.33",
              "::1.2.3.4", "1:2:3:4:5:6:7.8.9.10", "::255.255.255.255",
              "::ffff:01.2.3.4", "::ffff:256.1.1.1", "::ffff:1.2.3",
              "1:2:3:4:5:6:7:1.2.3.4", "::ffff:1.2.3.4:5", "1.2.3.4",
              "0:0:0:0:0:0:1.2.3.4", ":1.2.3.4", "1.2.3.4::",
              "0:0::ffff:216.160.83.58", "::ffff:0.0.0.0",
              "::ffff:999.1.1.1", "2a02:d5c0::1", "garbage",
              # edge inputs: null, blank, bare v4, oversized and non-hex
              # groups, and well-formed literals of every compression shape
              None, "", "8.8.8.8", "12345::", "g::1", "::", "::1",
              "2a02:d5c0::", "2607:f0d0:1002:51::4", "2a02:d5c0:4:5::f",
              "fe80::1", "0:0:0:0:0:0:0:0", "1:::2", "not-an-ip:",
              ":1:2:3:4:5:6:7", "1:2"]
    rng = random.Random(42)
    for _ in range(200):  # random addresses, half with a compressed run
        groups = [format(rng.randrange(0x10000), "x") for _ in range(8)]
        if rng.random() < 0.5:
            i = rng.randrange(1, 7)
            j = rng.randrange(i + 1, 8)
            cases.append(":".join(groups[:i]) + "::" + ":".join(groups[j:]))
        else:
            cases.append(":".join(groups))
    from logstash_filter_geoip_spark.functions.ipkeys import ipv6_key_lpm_udf
    from logstash_filter_geoip_spark.operators.enrich import _index_dim_v6
    from logstash_filter_geoip_spark.sources.geolite2 import load_dim_v6
    bc, _ = _index_dim_v6(load_dim_v6(spark, "City"))
    key, ranges = ipv6_key_lpm_udf(bc), bc.value
    df = spark.createDataFrame([(c,) for c in cases], "ip string")
    out = df.select("ip", key(F.col("ip")).alias("k")).collect()
    mism = []
    for r in out:
        try:
            n = int(ipaddress.IPv6Address(r["ip"]))
            want = (((n >> 64) & (2**64 - 1)) - 2**63,
                    (n & (2**64 - 1)) - 2**63)
        except ValueError:
            want = (None, None)
        hits = [] if want[0] is None else [
            i for i in range(len(ranges["start_hi"]))
            if (ranges["start_hi"][i], ranges["start_lo"][i]) <= want
            <= (ranges["end_hi"][i], ranges["end_lo"][i])]
        want += (hits[0] if hits else None,)
        got = (r["k"]["ip_hi"], r["k"]["ip_lo"], r["k"]["dim_idx"])
        if got != want:
            mism.append((r["ip"], got, want))
    assert len(out) == len(cases)
    assert not mism, mism[:5]


def test_zorder_bulk_fuzz_three_engines(spark):
    """2,000 seeded (x, y) pairs through the Spark Column, the DuckDB SQL
    mirror, and the Python reference — one batch per engine."""
    import duckdb
    from pyspark.sql import functions as F
    from logstash_filter_geoip_spark.operators.layout import (zorder_key,
                                                              zorder_py,
                                                              zorder_sql)
    rng = random.Random(0xC0FFEE)
    cases = [(rng.randrange(0, 65536), rng.randrange(0, 65536))
             for _ in range(2000)]
    py = [zorder_py(x, y) for x, y in cases]
    df = spark.createDataFrame(cases, "x long, y long")
    sp = [r.z for r in df.select(
        zorder_key(F.col("x"), F.col("y")).alias("z")).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (x BIGINT, y BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", cases)
    dk = [r[0] for r in con.execute(
        f"SELECT {zorder_sql('x', 'y')} FROM t").fetchall()]
    assert py == sp == dk


def test_histogram_bucket_bulk_fuzz(spark):
    """2,000 seeded doubles (incl. exact bucket-boundary values) bucketed
    identically by the Spark operator and the DuckDB mirror across three
    (lo, hi, n) shapes."""
    import duckdb
    from logstash_filter_geoip_spark.operators.aggregate import (
        histogram_oracle_sql, value_histogram)
    rng = random.Random(0xBEEF)
    vals = [rng.uniform(-50, 150) for _ in range(1800)]
    # exact boundary hits for every bucket edge of the shapes below
    for lo, hi, n in ((0.0, 100.0, 7), (-10.0, 10.0, 13), (0.5, 2.5, 3)):
        vals += [lo + i * (hi - lo) / n for i in range(n + 1)]
    rows = [("g", v) for v in vals]
    df = spark.createDataFrame(rows, "g string, value double")
    con = duckdb.connect()
    con.execute("CREATE TABLE t (g VARCHAR, value DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    for lo, hi, n in ((0.0, 100.0, 7), (-10.0, 10.0, 13), (0.5, 2.5, 3)):
        got = {(r.bucket_idx, r.n, r.bucket_lo) for r in
               value_histogram(df, ("g",), "value", lo, hi, n).collect()}
        want = {(r[1], r[3], r[2]) for r in con.execute(
            histogram_oracle_sql("t", ("g",), "value", lo, hi, n)).fetchall()}
        assert got == want, (lo, hi, n)


def test_checksum_bulk_fuzz_three_engines(spark):
    """Random unicode-ish strings + NULLs: Spark checksum == DuckDB mirror
    == Python xor fold (framing identical in all three)."""
    import duckdb
    from functools import reduce
    from logstash_filter_geoip_spark.functions.hashing import md5_hash60_py
    from logstash_filter_geoip_spark.operators.dq import (
        checksum_oracle_sql, table_checksum)
    rng = random.Random(0xFEED)
    alphabet = "abc XYZ09_.,;|\x1e\x02\x01~"
    def rand_s():
        if rng.random() < 0.1:
            return None
        return "".join(rng.choice(alphabet) for _ in range(rng.randrange(8)))
    rows = [(rng.randrange(1000), rand_s()) for _ in range(500)]
    df = spark.createDataFrame(rows, "i bigint, s string")
    got = table_checksum(df, ["i", "s"]).collect()[0]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    duck = con.execute(checksum_oracle_sql("t", ["i", "s"])).fetchone()

    def enc(v):
        return "\x01" if v is None else "\x02" + str(v)
    want = reduce(lambda acc, r: acc ^ md5_hash60_py(
        "\x1f".join(enc(v) for v in r)), rows, 0)
    assert got.checksum60 == duck[0] == want
    assert got.n_rows == duck[1] == len(rows)
