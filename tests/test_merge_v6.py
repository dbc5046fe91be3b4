"""F9 target-merge semantics + the IPv6 enrich path."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import types as T

from logstash_filter_geoip_spark.config import GeoIPConfig
from logstash_filter_geoip_spark.operators.enrich import enrich
from logstash_filter_geoip_spark.sources.geolite2 import load_dim, load_dim_v6


def v6_probe_set(spark):
    """Deterministic IPv6 probe rows: goldens, canonicalization case, misses."""
    rows = [
        ("p1", "2a02:d5c0:0:0:0:0:0:0"),      # golden hit (Spain)
        ("p2", "2a02:d5c7:ffff::1"),          # inside /29 (d5c0-d5c7) → hit
        ("p3", "fe80::1"),                    # link-local miss
        ("p4", "2001:218:abc::1"),            # hit (2001:218::/32 → JP)
        ("p5", "::1"),                        # loopback miss
        ("p6", "not-an-ip:"),                 # parse failure (has ':')
        ("p7", None),                         # absent source
        ("p8", "198.51.100.300"),             # invalid v4 → miss
        ("p9", "8.8.8.8"),                    # v4 hit through the SAME call
    ]
    return spark.createDataFrame(rows, ["probe_id", "ip"])


def _pre_target_df(spark):
    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("ip_str", T.StringType()),
        T.StructField("geoip", T.StructType([
            T.StructField("custom_note", T.StringType()),
            T.StructField("ip", T.StringType()),
        ])),
    ])
    rows = [
        ("hit", 0, "216.160.83.58", Row(custom_note="keep-me", ip="pre-ip")),
        ("miss", 0, "0.0.0.0", Row(custom_note="keep-me", ip="pre-ip")),
        ("absent", 0, None, Row(custom_note="keep-me", ip="pre-ip")),
    ]
    return spark.createDataFrame(rows, schema)


def test_target_merge_semantics(spark):
    # parity: GeoIPFilter.java:214-232 + CHANGELOG #98 — merge under target,
    # pre-existing content preserved
    cfg = GeoIPConfig(source="ip_str", target="geoip", database="City",
                      ecs_compatibility=True)
    out = {r["conv_id"]: r for r in
           enrich(_pre_target_df(spark), load_dim(spark, "City"), cfg).collect()}

    hit = out["hit"]["geoip"]
    assert hit["custom_note"] == "keep-me"        # pre-existing survives
    assert hit["ip"] == "216.160.83.58"           # enrich overwrites on hit
    assert hit["geo"]["city_name"] == "Milton"    # new nested fields added

    miss = out["miss"]["geoip"]
    assert miss["custom_note"] == "keep-me"       # miss never clobbers
    assert miss["ip"] == "pre-ip"                 # null enrich → keep existing
    assert miss["geo"]["city_name"] is None

    absent = out["absent"]["geoip"]
    assert absent["custom_note"] == "keep-me"     # absent source → untouched
    assert absent["ip"] == "pre-ip"


def _country_unified(spark):
    cfg = GeoIPConfig(source="ip", target="geoip", database="Country",
                      ecs_compatibility=True)
    return enrich(v6_probe_set(spark), load_dim(spark, "Country"), cfg,
                  dim_v6=load_dim_v6(spark, "Country"))


def test_enrich_ipv6_country_unified(spark):
    """The UNIFIED enrich() resolves both families through one call: the v6
    golden (GeoIPFilterTest.java:99-117) lands through the (hi, lo) leg with
    the full ECS struct, v4 probes keep working through the uint32 leg."""
    rows = {r["probe_id"]: r for r in _country_unified(spark).collect()}

    g = rows["p1"]["geoip"]
    assert (g["geo"]["country_iso_code"], g["geo"]["country_name"],
            g["geo"]["continent_name"]) == ("ES", "Spain", "Europe")
    assert g["ip"] == "2a02:d5c0:0:0:0:0:0:0"
    assert rows["p1"]["tags"] == []

    assert rows["p2"]["geoip"]["geo"]["country_iso_code"] == "ES"  # inside /29
    assert rows["p4"]["geoip"]["geo"]["country_iso_code"] == "JP"  # mmdb row
    assert rows["p9"]["geoip"]["geo"]["country_iso_code"] == "US"  # v4 leg
    assert rows["p9"]["geoip"]["ip"] == "8.8.8.8"

    for miss in ("p3", "p5", "p6", "p8"):
        assert rows[miss]["geoip_hit"] is False
        assert rows[miss]["tags"] == ["_geoip_lookup_failure"]
        assert rows[miss]["geoip"]["geo"]["country_iso_code"] is None
    # absent source (P1): target struct NULL, failure tag still applies to
    # no-lookup rows per reference miss semantics only when a lookup ran —
    # an absent source is tagged too (geoip.rb:124-127 tags any non-hit)
    assert rows["p7"]["geoip"] is None


def test_enrich_ipv6_city_spec_golden(spark):
    """City-path IPv6 normalization (geoip_ecs_spec.rb:143-161): the spec's
    `fields => [continent_code, ip]` projection yields ONLY those two
    attributes; ip is the exploded canonical form."""
    probes = spark.createDataFrame(
        [("s1", "2607:f0d0:1002:51::4")], ["probe_id", "ip"])
    cfg = GeoIPConfig(source="ip", target="geoip", database="City",
                      ecs_compatibility=True,
                      fields=["continent_code", "ip"])
    out = enrich(probes, load_dim(spark, "City"), cfg,
                 dim_v6=load_dim_v6(spark, "City")).collect()[0]
    assert out["geoip_hit"] is True
    assert out["geoip"]["ip"] == "2607:f0d0:1002:51:0:0:0:4"
    assert out["geoip"]["geo"]["continent_code"] == "NA"
    # the fields projection must not emit anything else
    assert set(out["geoip"].asDict()) == {"ip", "geo"}
    assert set(out["geoip"]["geo"].asDict()) == {"continent_code"}


def test_v6_row_count_preserved(spark):
    assert _country_unified(spark).count() == 9


def test_enrich_ipv6_remaining_db_types(spark):
    """IPv6 through ISP / Domain / Enterprise / Anonymous-IP (VERDICT r2 #2):
    the reference feeds ALL seven retrieve paths from one InetAddress
    (GeoIPFilter.java:172-197); each type's v6 dim rows come verbatim from
    the published MaxMind test databases (tests/test_mmdb_dims.py)."""
    probes = spark.createDataFrame(
        [("x1", "2001:0:180::1"),           # Telstra (2001:0:180::/43)
         ("x2", "2607:f0d0:1002:51::4"),    # in 2604::/14 (ASN/ISP Merit)
         ("x3", "64:ff9b::1"),              # miss except Anon 40::/10 empty
         ("x4", "1.128.0.1"),               # v4 leg (ISP golden Telstra)
         ("x5", "2001:0:4ad1:1000::7"),     # Enterprise Chatham v6 twin
         ("x6", "2001:0:102::9"),           # Domain maxmind.com
         ("x7", "2001:0:5102:45aa::1"),     # Anonymous: all six traits true
         ("x8", "2800:0:10::1")],           # Anonymous empty record → hit,
        ["probe_id", "ip"])                 #   all false (ISP: Merit hit)

    def run(db):
        cfg = GeoIPConfig(source="ip", target="geoip", database=db,
                          ecs_compatibility=True)
        return {r["probe_id"]: r for r in enrich(
            probes, load_dim(spark, db), cfg,
            dim_v6=load_dim_v6(spark, db)).collect()}

    isp = run("ISP")
    assert isp["x1"]["geoip"]["mmdb"]["isp"] == "Telstra Internet"
    assert isp["x1"]["geoip"]["as"]["number"] == 1221
    assert isp["x2"]["geoip"]["as"]["number"] == 237         # Merit /14
    assert isp["x2"]["geoip"]["mmdb"]["isp"] is None         # P9: absent attr
    assert isp["x8"]["geoip"]["as"]["number"] == 237         # Merit /19
    assert isp["x4"]["geoip"]["mmdb"]["isp"] == "Telstra Internet"  # v4 golden
    assert isp["x3"]["geoip_hit"] is False

    dom = run("Domain")
    assert dom["x6"]["geoip"]["domain"] == "maxmind.com"
    assert dom["x1"]["geoip_hit"] is False
    assert dom["x3"]["geoip_hit"] is False

    ent = run("Enterprise")
    g = ent["x5"]["geoip"]
    assert g["geo"]["city_name"] == "Chatham"           # v6 twin of the v4
    assert g["geo"]["region_iso_code"] == "US-NY"       # Chatham golden
    assert g["ip"] == "2001:0:4ad1:1000:0:0:0:7"        # canonical exploded
    assert ent["x3"]["geoip_hit"] is False

    anon = run("Anonymous-IP")
    t7 = anon["x7"]["geoip"]["ip_traits"]
    assert all(t7[k] for k in ("hosting_provider", "tor_exit_node",
                               "anonymous_vpn", "anonymous",
                               "public_proxy", "residential_proxy"))
    # empty mmdb record ({}) → a HIT with every trait false, exactly what
    # the GeoIP2 reader returns for these networks
    t8 = anon["x8"]["geoip"]["ip_traits"]
    assert anon["x8"]["geoip_hit"] is True
    assert not any(t8[k] for k in t8.asDict())
    assert anon["x3"]["geoip_hit"] is True              # 40::/10 empty record
    assert anon["x1"]["geoip_hit"] is False             # 2001:0:180 not in DB


def test_ipv4_mapped_form_routes_through_v4_leg(spark):
    """VERDICT r2 #5: '::ffff:a.b.c.d' (and the expanded spelling) must hit
    the v4 trie — Java's InetAddress.getByName coerces the mapped form to an
    Inet4Address (GeoIPFilter.java:172); the canonical output ip is the
    dotted quad (Inet4Address.getHostAddress)."""
    probes = spark.createDataFrame(
        [("m1", "::ffff:216.160.83.58"),            # compressed mapped → Milton
         ("m2", "0:0:0:0:0:ffff:216.160.83.58"),    # expanded mapped → Milton
         ("m3", "::FFFF:8.8.8.8"),                  # case-insensitive
         ("m4", "::ffff:0.0.0.0"),                  # valid form, not in DB
         ("m5", "::ffff:999.1.1.1"),                # invalid octets → miss
         ("m6", "216.160.83.58")],                  # plain v4 control
        ["probe_id", "ip"])
    cfg = GeoIPConfig(source="ip", target="geoip", database="City",
                      ecs_compatibility=True)
    dim = load_dim(spark, "City")

    # WITH the v6 dim attached (the unified default)…
    uni = {r["probe_id"]: r for r in enrich(
        probes, dim, cfg, dim_v6=load_dim_v6(spark, "City")).collect()}
    # …and without (v4-only config): the mapped form is a v4 concern
    v4only = {r["probe_id"]: r for r in enrich(probes, dim, cfg).collect()}

    for rows in (uni, v4only):
        for pid in ("m1", "m2", "m6"):
            assert rows[pid]["geoip"]["geo"]["city_name"] == "Milton", pid
            assert rows[pid]["geoip"]["ip"] == "216.160.83.58", pid
        assert rows["m3"]["geoip"]["ip"] == "8.8.8.8"
        assert rows["m3"]["geoip"]["geo"]["timezone"] == "America/Chicago"
        for pid in ("m4", "m5"):
            assert rows[pid]["geoip_hit"] is False, pid
            assert rows[pid]["geoip"] is not None        # "{}", not absent
            assert rows[pid]["tags"] == ["_geoip_lookup_failure"], pid


def test_embedded_quad_v6_forms_route_through_v6_leg(spark):
    """VERDICT r3 #5: general embedded-dotted-quad v6 literals — NAT64
    ('64:ff9b::a.b.c.d'), v4-compatible ('::a.b.c.d'), uncompressed — parse
    as Inet6Address in Java (GeoIPFilter.java:172) and take the v6 trie;
    additional IPv4-mapped spellings beyond the two standard ones (ADVICE
    r3) still divert to the v4 leg. Canonical output ip is the exploded
    hex-group form (Inet6Address.getHostAddress) for v6, the dotted quad
    for mapped."""
    probes = spark.createDataFrame(
        [("q1", "2607:f0d0::1.2.3.4"),        # embedded quad INSIDE a v6 dim
         ("q2", "64:ff9b::8.8.8.8"),          # NAT64: valid parse, not in DB
         ("q3", "::216.160.83.58"),           # v4-compatible: v6 leg, miss
         ("q4", "0:0::ffff:216.160.83.58"),   # mapped, extra spelling → v4
         ("q5", "::0:ffff:216.160.83.58"),    # mapped, extra spelling → v4
         ("q6", "::ffff:d8a0:533a"),          # mapped, pure-hex form → v4
         ("q7", "64:ff9b::300.1.1.1")],       # invalid octet → parse failure
        ["probe_id", "ip"])
    cfg = GeoIPConfig(source="ip", target="geoip", database="City",
                      ecs_compatibility=True)
    rows = {r["probe_id"]: r for r in enrich(
        probes, load_dim(spark, "City"), cfg,
        dim_v6=load_dim_v6(spark, "City")).collect()}

    # q1: inside 2607:f0d0::/32 → v6 hit, exploded canonical groups
    assert rows["q1"]["geoip_hit"] is True
    assert rows["q1"]["geoip"]["ip"] == "2607:f0d0:0:0:0:0:102:304"
    # q2/q3: valid v6 parse, no dim row → "{}" + failure tag
    for pid in ("q2", "q3"):
        assert rows[pid]["geoip_hit"] is False, pid
        assert rows[pid]["geoip"] is not None, pid
        assert rows[pid]["tags"] == ["_geoip_lookup_failure"], pid
    # q4-q6: every mapped spelling lands on the v4 Milton row
    for pid in ("q4", "q5", "q6"):
        assert rows[pid]["geoip"]["geo"]["city_name"] == "Milton", pid
        assert rows[pid]["geoip"]["ip"] == "216.160.83.58", pid
    # q7: unparseable → miss, never a throw
    assert rows["q7"]["geoip_hit"] is False


def test_enrich_ipv6_asn(spark):
    """IPv6 through the ASN database type — the reference accepts v6 for
    EVERY db type (GeoIPFilter.java:172); ASN v6 rows come verbatim from
    the public GeoLite2-ASN-Test.mmdb (tests/test_mmdb_dims.py)."""
    probes = spark.createDataFrame(
        [("a1", "2001:0:180:1234::1"),     # Telstra /43 → AS1221
         ("a2", "2607:f0d0:1002:51::4"),   # inside 2604::/14 → Merit
         ("a3", "2a02:d5c0::1"),           # not in the ASN v6 dim → miss
         ("a4", "8.8.8.8")],               # v4 leg through the same call
        ["probe_id", "ip"])
    cfg = GeoIPConfig(source="ip", target="geoip", database="ASN",
                      ecs_compatibility=True)
    out = {r["probe_id"]: r for r in enrich(
        probes, load_dim(spark, "ASN"), cfg,
        dim_v6=load_dim_v6(spark, "ASN")).collect()}
    assert out["a1"]["geoip"]["as"]["number"] == 1221
    assert out["a1"]["geoip"]["ip"] == "2001:0:180:1234:0:0:0:1"
    assert out["a2"]["geoip"]["as"]["organization"]["name"] == \
        "Merit Network Inc."
    assert out["a3"]["geoip_hit"] is False
    assert out["a4"]["geoip"]["as"]["number"] == 15169  # v4 golden


def test_chained_enrich_no_duplicate_columns(spark):
    """Review r5: the standard City-then-ASN stack must replace the
    diagnostic columns, not duplicate them."""
    from collections import Counter

    from logstash_filter_geoip_spark.functions.parse import parse_transcripts
    from logstash_filter_geoip_spark.sources.transcripts import load_transcripts
    parsed = parse_transcripts(load_transcripts(spark, "/root/testdata/sf0.001"))
    city = GeoIPConfig(source="ip_str", target="geoip", database="City")
    asn = GeoIPConfig(source="ip_str", target="asn_info", database="ASN")
    e1 = enrich(parsed, load_dim(spark, "City"), city)
    e2 = enrich(e1, load_dim(spark, "ASN"), asn)
    dupes = [c for c, k in Counter(e2.columns).items() if k > 1]
    assert not dupes, dupes
    # both targets populated for a row that hits both DBs
    r = e2.where("ip_str = '216.160.83.58'").limit(1).collect()
    if r:
        assert r[0]["geoip"] is not None and r[0]["asn_info"] is not None
    e2.write.format("noop").mode("overwrite").save()  # writable schema
