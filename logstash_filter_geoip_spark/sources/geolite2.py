"""GeoLite2-style CIDR-range dimension tables (the `.mmdb` stand-in).

The reference opens a MaxMind `.mmdb` binary trie (GeoIPFilter.java:85-96)
keyed by network CIDR. Our set-oriented equivalent is a small dimension
DataFrame per database type, with CIDRs pre-expanded to disjoint inclusive
uint32 ranges [net_start, net_end] — the relational form of the trie.

Golden rows are taken verbatim from the reference's own test assertions
(GeoIPFilterTest.java:57-254, spec/filters/geoip_ecs_spec.rb:29-110,
FIXTURES.md §3) so outputs diff 1:1 against what the plugin asserts.
`synthetic_city_rows` / `synthetic_asn_rows` add deterministic filler under
16.0.0.0/8 and 17.0.0.0/8 (never overlapping the goldens) so benchmarks can
scale the dim to realistic GeoLite2 size (~millions of ranges) without
changing golden behavior.

All seven logical database schemas of Database.java:9-88 are constructible;
City and ASN ship golden data for the default pipeline (mirroring the
reference's vendored GeoLite2-City/ASN, geoip.rb:46,187-199).
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import GeoIPConfig
from ..functions.ipkeys import cidr_to_range, cidr_v6_to_range

# ---------------------------------------------------------------------------
# Schemas
# ---------------------------------------------------------------------------

_BASE = [
    T.StructField("network", T.StringType()),
    T.StructField("net_start", T.LongType()),
    T.StructField("net_end", T.LongType()),
]

CITY_SCHEMA = T.StructType(_BASE + [
    T.StructField("city_name", T.StringType()),
    T.StructField("continent_code", T.StringType()),
    T.StructField("continent_name", T.StringType()),
    T.StructField("country_name", T.StringType()),
    T.StructField("country_iso_code", T.StringType()),
    T.StructField("postal_code", T.StringType()),
    T.StructField("dma_code", T.LongType()),
    T.StructField("region_name", T.StringType()),
    T.StructField("region_code", T.StringType()),
    T.StructField("timezone", T.StringType()),
    T.StructField("latitude", T.DoubleType()),
    T.StructField("longitude", T.DoubleType()),
])

ASN_SCHEMA = T.StructType(_BASE + [
    T.StructField("asn", T.LongType()),
    T.StructField("as_org", T.StringType()),
])

ISP_SCHEMA = T.StructType(_BASE + [
    T.StructField("asn", T.LongType()),
    T.StructField("as_org", T.StringType()),
    T.StructField("isp", T.StringType()),
    T.StructField("organization", T.StringType()),
])

COUNTRY_SCHEMA = T.StructType(_BASE + [
    T.StructField("country_iso_code", T.StringType()),
    T.StructField("country_name", T.StringType()),
    T.StructField("continent_name", T.StringType()),
])

DOMAIN_SCHEMA = T.StructType(_BASE + [
    T.StructField("domain", T.StringType()),
])

ENTERPRISE_SCHEMA = T.StructType(_BASE + [
    T.StructField("city_name", T.StringType()),
    T.StructField("continent_name", T.StringType()),
    T.StructField("country_name", T.StringType()),
    T.StructField("country_iso_code", T.StringType()),
    T.StructField("region_name", T.StringType()),
    T.StructField("region_code", T.StringType()),
    T.StructField("timezone", T.StringType()),
    T.StructField("latitude", T.DoubleType()),
    T.StructField("longitude", T.DoubleType()),
    T.StructField("asn", T.LongType()),
    T.StructField("as_org", T.StringType()),
    T.StructField("hosting_provider", T.BooleanType()),
    T.StructField("tor_exit_node", T.BooleanType()),
    T.StructField("anonymous_vpn", T.BooleanType()),
    T.StructField("anonymous", T.BooleanType()),
    T.StructField("public_proxy", T.BooleanType()),
    T.StructField("residential_proxy", T.BooleanType()),
])

ANONYMOUS_IP_SCHEMA = T.StructType(_BASE + [
    T.StructField("hosting_provider", T.BooleanType()),
    T.StructField("tor_exit_node", T.BooleanType()),
    T.StructField("anonymous_vpn", T.BooleanType()),
    T.StructField("anonymous", T.BooleanType()),
    T.StructField("public_proxy", T.BooleanType()),
    T.StructField("residential_proxy", T.BooleanType()),
])

SCHEMAS: dict[str, T.StructType] = {
    "City": CITY_SCHEMA,
    "ASN": ASN_SCHEMA,
    "ISP": ISP_SCHEMA,
    "Country": COUNTRY_SCHEMA,
    "Domain": DOMAIN_SCHEMA,
    "Enterprise": ENTERPRISE_SCHEMA,
    "Anonymous-IP": ANONYMOUS_IP_SCHEMA,
}

# ---------------------------------------------------------------------------
# Golden rows (values from the reference's test assertions)
# ---------------------------------------------------------------------------


def _row(network: str, *rest):
    s, e = cidr_to_range(network)
    return (network, s, e, *rest)


# GeoIPFilterTest.java:57-81 (216.160.83.58 → Milton) and
# geoip_ecs_spec.rb:29-61 (93.184.216.34 → Norwell), :89-110 (8.8.8.8).
# 198.51.100.0/24 is our city-abort fixture: lat AND lon null →
# empty geoData per GeoIPFilter.java:251-255.
GOLDEN_CITY_ROWS = [
    _row("216.160.83.56/29", "Milton", "NA", "North America", "United States",
         "US", "98354", 819, "Washington", "WA", "America/Los_Angeles",
         47.2513, -122.3149),
    _row("93.184.216.0/24", "Norwell", "NA", "North America", "United States",
         "US", None, 506, "Massachusetts", "MA", None, 42.1596, -70.8217),
    _row("8.8.8.0/24", None, "NA", "North America", "United States", "US",
         None, None, None, None, "America/Chicago", 37.751, -97.822),
    _row("198.51.100.0/24", "Nowhere", "NA", "North America", "United States",
         "US", None, None, None, None, None, None, None),
]

# GeoIPFilterTest.java:143-163, geoip_ecs_spec.rb:63-87.
GOLDEN_ASN_ROWS = [
    _row("12.81.92.0/22", 7018, "AT&T Services"),
    _row("8.8.8.0/24", 15169, "Google LLC"),
    _row("1.128.0.0/11", 1221, "Telstra Pty Ltd"),
]

# GeoIPFilterTest.java:119-141.
GOLDEN_ISP_ROWS = [
    _row("1.128.0.0/11", 1221, "Telstra Pty Ltd", "Telstra Internet",
         "Telstra Internet"),
]

# GeoIPFilterTest.java:99-117 is IPv6 (2a02:d5c0::/29 → Spain); the IPv4
# country table carries the same record shape for the v4 join path.
GOLDEN_COUNTRY_ROWS = [
    _row("216.160.83.56/29", "US", "United States", "North America"),
    _row("8.8.8.0/24", "US", "United States", "North America"),
]

# GeoIPFilterTest.java:165-176.
GOLDEN_DOMAIN_ROWS = [
    _row("1.2.0.0/16", "maxmind.com"),
]

# GeoIPFilterTest.java:178-226 (74.209.24.1).
GOLDEN_ENTERPRISE_ROWS = [
    _row("74.209.16.0/20", "Chatham", "North America", "United States", "US",
         "New York", "NY", "America/New_York", 42.3478, -73.5549,
         14671, "FairPoint Communications",
         False, False, False, False, False, False),
]

# GeoIPFilterTest.java:228-254 (81.2.69.1 → six true traits).
GOLDEN_ANONYMOUS_IP_ROWS = [
    _row("81.2.69.0/24", True, True, True, True, True, True),
]

GOLDEN_ROWS: dict[str, list] = {
    "City": GOLDEN_CITY_ROWS,
    "ASN": GOLDEN_ASN_ROWS,
    "ISP": GOLDEN_ISP_ROWS,
    "Country": GOLDEN_COUNTRY_ROWS,
    "Domain": GOLDEN_DOMAIN_ROWS,
    "Enterprise": GOLDEN_ENTERPRISE_ROWS,
    "Anonymous-IP": GOLDEN_ANONYMOUS_IP_ROWS,
}

# ---------------------------------------------------------------------------
# Deterministic synthetic filler (scale testing; seed-free closed formulas)
# ---------------------------------------------------------------------------

_COUNTRIES = [
    ("US", "United States", "NA", "North America", "America/Chicago"),
    ("DE", "Germany", "EU", "Europe", "Europe/Berlin"),
    ("JP", "Japan", "AS", "Asia", "Asia/Tokyo"),
    ("BR", "Brazil", "SA", "South America", "America/Sao_Paulo"),
    ("AU", "Australia", "OC", "Oceania", "Australia/Sydney"),
]


def synthetic_city_rows(n: int) -> list:
    """n deterministic /24 city rows under 16.0.0.0/8 (disjoint from goldens)."""
    rows = []
    for i in range(n):
        net = f"16.{(i >> 8) % 256}.{i % 256}.0/24" if n <= 65536 else None
        if net is None:
            raise ValueError("synthetic city filler capped at 65536 /24s")
        iso, cname, ccode, cont, tz = _COUNTRIES[i % len(_COUNTRIES)]
        rows.append(_row(net, f"City{i}", ccode, cont, cname, iso,
                         f"{10000 + i % 89999}", None, f"Region{i % 50}",
                         f"R{i % 50}", tz,
                         round(-60 + (i * 7919 % 12000) / 100.0, 4),
                         round(-180 + (i * 104729 % 36000) / 100.0, 4)))
    return rows


def synthetic_asn_rows(n: int) -> list:
    """n deterministic /24 ASN rows under 17.0.0.0/8 (disjoint from goldens)."""
    if n > 65536:
        raise ValueError("synthetic asn filler capped at 65536 /24s")
    return [
        _row(f"17.{(i >> 8) % 256}.{i % 256}.0/24",
             64512 + (i % 1024), f"AS-ORG-{i % 997}")
        for i in range(n)
    ]


# ---------------------------------------------------------------------------
# Builders
# ---------------------------------------------------------------------------


def load_dim(spark: SparkSession, database: str = "City",
             synthetic_n: int = 0) -> DataFrame:
    """Build the dimension DataFrame for a logical database type: the
    golden tables (parity with S2/S3, geoip.rb:187-199). `synthetic_n`
    appends deterministic filler for scale tests.
    """
    rows = GOLDEN_ROWS[database]
    if synthetic_n:
        if database == "City":
            rows = rows + synthetic_city_rows(synthetic_n)
        elif database == "ASN":
            rows = rows + synthetic_asn_rows(synthetic_n)
        else:
            raise ValueError(f"synthetic filler only for City/ASN, not {database}")
    return _local_dim(spark, rows, SCHEMAS[database])


def _malformed_range() -> Column:
    """The one malformed-v4-row predicate: a null or reversed bound, or a
    bound outside uint32. An out-of-range row would otherwise explode in
    ipkeys.explode_buckets (net_end = 2^40 → 2^24 bucket rows; a negative
    start wraps to a bucket near 2^48)."""
    start, end = F.col("net_start"), F.col("net_end")
    return (start.isNull() | end.isNull() | (start > end) | (start < 0)
            | (end > F.lit(2**32 - 1)))


def split_malformed(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Quarantine malformed dimension rows instead of failing the pipeline
    (SURVEY §7.1 M3: the corrupted-record analogue — the reference wraps
    decode errors so the pipeline never throws, GeoIPFilter.java:55-59,
    GeoIPFilterTest.java:276-283). Returns (good, quarantined)."""
    bad = _malformed_range()
    return df.where(~bad), df.where(bad)


def validate_dim(df: DataFrame) -> None:
    """Schema/shape validation, parity with DB validation at
    GeoIPFilter.java:109-119: required key columns must exist; malformed rows
    (the rows split_malformed quarantines) are a hard error at load time,
    never at query time."""
    for col in ("network", "net_start", "net_end"):
        if col not in df.columns:
            raise ValueError(f"dimension table missing required column {col}")
    bad = df.where(_malformed_range()).count()
    if bad:
        raise ValueError(f"dimension table has {bad} malformed range rows")


# ---------------------------------------------------------------------------
# DuckDB oracle emitters — the same rows as an inline VALUES relation, so the
# correctness oracle joins against byte-identical dimension data.
# ---------------------------------------------------------------------------


def _duck_type(dtype: T.DataType) -> str:
    if isinstance(dtype, T.LongType):
        return "BIGINT"
    if isinstance(dtype, T.DoubleType):
        return "DOUBLE"
    if isinstance(dtype, T.BooleanType):
        return "BOOLEAN"
    return "VARCHAR"


def _sql_lit(v, dtype: T.DataType | None = None) -> str:
    if v is None:
        # typed NULL: an all-null column in a VALUES relation would
        # otherwise be typed by DuckDB's default inference (INTEGER), and
        # the oracle result schema would diverge from the Spark column type
        return f"CAST(NULL AS {_duck_type(dtype)})" if dtype is not None \
            else "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, float):
        # explicit DOUBLE: DuckDB would otherwise type the literal DECIMAL
        # and the oracle comparison would see 37.7510 != 37.751
        return f"CAST({v!r} AS DOUBLE)"
    return f"CAST({v!r} AS BIGINT)"


def rows_values_sql(rows: list, schema: T.StructType, alias: str) -> str:
    """`(VALUES (...), ...) AS alias(cols)` emitter shared by every dim."""
    if not rows:
        # '(VALUES\n    \n) AS …' is invalid SQL — fail here with a clear
        # message instead of a confusing DuckDB parse error (ADVICE r4;
        # e.g. an ip_version-4 .mmdb yields zero v6 rows)
        raise ValueError(
            f"rows_values_sql: empty row list for {alias!r} — a VALUES "
            "relation needs at least one row (did the source database have "
            "no networks in this IP family?)")
    cols = ", ".join(f.name for f in schema.fields)
    dtypes = [f.dataType for f in schema.fields]
    values = ",\n    ".join(
        "(" + ", ".join(_sql_lit(v, t) for v, t in zip(r, dtypes)) + ")"
        for r in rows
    )
    return f"(VALUES\n    {values}\n) AS {alias}({cols})"


# ---------------------------------------------------------------------------
# IPv6 dimension tables — same attribute columns as the v4 schemas, keyed by
# (start_hi, start_lo, end_hi, end_lo) signed-64 pairs (128-bit ranges don't
# fit LongType; signed lexicographic order == unsigned 128-bit order after
# the sign-bit flip in ipkeys.cidr_v6_to_range). The reference accepts IPv6
# for every database type through the same mmdb (GeoIPFilter.java:172);
# relationally that is a second range dimension joined through the same
# enrich() operator.
# ---------------------------------------------------------------------------

_V6_BASE = [
    T.StructField("network", T.StringType()),
    T.StructField("start_hi", T.LongType()),
    T.StructField("start_lo", T.LongType()),
    T.StructField("end_hi", T.LongType()),
    T.StructField("end_lo", T.LongType()),
]

# every database type is v6-capable in the reference (InetAddress.getByName
# feeds all seven retrieve paths, GeoIPFilter.java:172-197) — so every v4
# schema has a (hi, lo)-keyed v6 twin
SCHEMAS_V6: dict[str, T.StructType] = {
    db: T.StructType(_V6_BASE + list(SCHEMAS[db].fields[3:]))
    for db in SCHEMAS
}


def _row_v6(network: str, *rest):
    s_hi, s_lo, e_hi, e_lo = cidr_v6_to_range(network)
    return (network, s_hi, s_lo, e_hi, e_lo, *rest)


# Country golden: 2a02:d5c0:: → ES / Spain / Europe
# (GeoIPFilterTest.java:99-117, independently confirmed against the public
# GeoLite2-Country-Test.mmdb via sources/mmdb.py); the other rows are
# VERBATIM native-v6 entries from that same mmdb (re-extraction-verified by
# tests/test_mmdb_dims.py) so misses exist on both sides of the golden range.
GOLDEN_COUNTRY_V6_ROWS = [
    _row_v6("2a02:d5c0::/29", "ES", "Spain", "Europe"),
    _row_v6("2001:218::/32", "JP", "Japan", "Asia"),
    _row_v6("2001:0:432b:9c00::/56", "BT", "Bhutan", "Asia"),
]

# City golden: 2607:f0d0:1002:51::4 under the City DB
# (spec/filters/geoip_ecs_spec.rb:143-161) — the spec asserts
# ip = '2607:f0d0:1002:51:0:0:0:4' (exploded canonical form) and
# continent_code = 'NA'; the remaining attributes are nil in the spec only
# because its `fields` projection requests [continent_code, ip]. The row
# must carry a non-null lat/lon (otherwise the City empty-location abort,
# GeoIPFilter.java:251-255, would blank the whole record); values below the
# asserted pair are conventional US-centroid fillers, marked as such.
GOLDEN_CITY_V6_ROWS = [
    _row_v6("2607:f0d0::/32", None, "NA", "North America", "United States",
            "US", None, None, None, None, None, 37.751, -97.822),
    # VERBATIM from the public GeoLite2-City-Test.mmdb (extracted via
    # sources/mmdb.py, re-extraction-verified): country-level Spain record,
    # no city/postal/region/timezone attributes in the source record
    _row_v6("2a02:d5c0::/29", None, "EU", "Europe", "Spain", "ES",
            None, None, None, None, None, 40.0, -4.0),
]

# v6 rows for the remaining DB types come VERBATIM from the reference
# tree's published MaxMind test databases
# (src/test/resources/maxmind-test-data/*.mmdb — canonical public test
# data), extracted with the pure-Python sources/mmdb.py reader and verified
# by re-extraction in tests/test_mmdb_dims.py. This retires the r2/r3
# marked-filler rows: every attribute value below exists byte-identically
# in the corresponding public .mmdb. Networks were chosen so the corpus v6
# literals exercise hits AND misses per type: 2604::/14 and 2800::/19
# cover corpus cases 16/20 and 17 for ASN/ISP; Domain/Enterprise keep all
# corpus v6 literals as misses; the Anonymous-IP empty-record networks
# ({} in the mmdb → every trait false, still a hit — exactly what the
# GeoIP2 reader returns) cover them with all-false traits.
GOLDEN_ASN_V6_ROWS = [
    _row_v6("2001:0:180::/43", 1221, "Telstra Pty Ltd"),
    _row_v6("2604::/14", 237, "Merit Network Inc."),
    _row_v6("2800::/19", 237, "Merit Network Inc."),
]

GOLDEN_ISP_V6_ROWS = [
    _row_v6("2001:0:180::/43", 1221, "Telstra Pty Ltd", "Telstra Internet",
            "Telstra Internet"),
    _row_v6("2604::/14", 237, "Merit Network Inc.", None, None),
    _row_v6("2800::/19", 237, "Merit Network Inc.", None, None),
]

GOLDEN_DOMAIN_V6_ROWS = [
    _row_v6("2001:0:102::/48", "maxmind.com"),
    _row_v6("2001:0:425c:8000::/49", "speakeasy.net"),
]

# the v6 twin of the v4 Chatham golden (74.209.16.0/20 ↔ 2001:0:4ad1:1000::
# — same record in GeoIP2-Enterprise-Test.mmdb); the modern anonymity
# traits are absent from the source record → false, matching the v4 golden
GOLDEN_ENTERPRISE_V6_ROWS = [
    _row_v6("2001:0:4ad1:1000::/52", "Chatham", "North America",
            "United States", "US", "New York", "NY", "America/New_York",
            42.3478, -73.5549, 14671, "FairPoint Communications",
            False, False, False, False, False, False),
]

# column order: hosting, tor, vpn, anonymous, public_proxy, residential
GOLDEN_ANONYMOUS_IP_V6_ROWS = [
    _row_v6("2001:0:17c:d501::/64", False, True, True, True, False, False),
    _row_v6("2001:0:5102:4500::/56", True, True, True, True, True, True),
    _row_v6("40::/10", False, False, False, False, False, False),
    _row_v6("2400::/6", False, False, False, False, False, False),
    _row_v6("2800::/5", False, False, False, False, False, False),
]

GOLDEN_ROWS_V6: dict[str, list] = {
    "Country": GOLDEN_COUNTRY_V6_ROWS,
    "City": GOLDEN_CITY_V6_ROWS,
    "ASN": GOLDEN_ASN_V6_ROWS,
    "ISP": GOLDEN_ISP_V6_ROWS,
    "Domain": GOLDEN_DOMAIN_V6_ROWS,
    "Enterprise": GOLDEN_ENTERPRISE_V6_ROWS,
    "Anonymous-IP": GOLDEN_ANONYMOUS_IP_V6_ROWS,
}


# Broadcast-explosion guards for the v6 bucket leg (VERDICT r4 #4). Only
# enrich's `bucket` leg (event-time enrich over a temporal.dim_history)
# replicates a v6 dim: enrich.prepare_dim_v6 copies each row once per
# hi-word /16 bucket its range covers, so a wide row balloons the broadcast.
# That leg checks the dim it is about to explode — the whole snapshot union
# — when it builds the plan, before any job over the probe side runs. The
# `index` leg replicates nothing and, like the reference's RAM-resident trie
# (GeoIPFilter.java:173-197), accepts any network. Two bounds, measured
# against REAL published data (the public GeoIP2-Anonymous-IP test database
# carries 2800::/5 — span 2048 — and even 4000::/2 — span 16384):
#   * per-row: spans wider than a /2 (16384 buckets) are rejected — only /1
#     and /0 rows trip it, which no published database contains (a real DB
#     encodes broad coverage as several top-level allocations);
#   * total: the SUMMED replication across all rows is capped, so a history
#     of many snapshots (or many legal-width wide rows) still cannot exceed
#     a bounded broadcast size (2M copies ≈ low-hundreds of MB worst case).
MAX_V6_BUCKET_SPAN = 16384
MAX_V6_DIM_REPLICATION = 1 << 21


def _v6_bucket_span(start_hi: int, end_hi: int) -> int:
    """Hi-word /16 bucket count covered by a signed-64-keyed v6 range —
    driver-side mirror of enrich.prepare_dim_v6's explode width."""
    to_u = 1 << 63
    return ((end_hi + to_u) >> 48) - ((start_hi + to_u) >> 48) + 1


def check_v6_rows(rows: list, source: str) -> None:
    """Loud bucket-replication guard over rows shaped (network, start_hi,
    _, end_hi, ...)."""
    total = 0
    for r in rows:
        span = _v6_bucket_span(r[1], r[3])
        if span > MAX_V6_BUCKET_SPAN:
            raise ValueError(
                f"{source}: v6 network {r[0]!r} spans {span} hi-word /16 "
                f"buckets (> {MAX_V6_BUCKET_SPAN}) — replicating it would "
                "balloon the broadcast dim")
        total += span
    if total > MAX_V6_DIM_REPLICATION:
        raise ValueError(
            f"{source}: v6 dim replicates to {total} bucket rows in total "
            f"(> {MAX_V6_DIM_REPLICATION}) — the broadcast would be "
            "unbounded; shrink the dim")


def validate_dim_v6(df: DataFrame) -> None:
    """validate_dim's v6 counterpart for user-supplied dimension DataFrames:
    required key columns and ordered ranges. One small count over a
    dim-sized relation at load time; the replication bounds are the bucket
    leg's own check (enrich.prepare_dim_v6)."""
    for col in ("network", "start_hi", "start_lo", "end_hi", "end_lo"):
        if col not in df.columns:
            raise ValueError(f"v6 dimension table missing required column {col}")
    bad = df.where(
        "start_hi IS NULL OR end_hi IS NULL OR start_hi > end_hi").count()
    if bad:
        raise ValueError(f"v6 dimension table has {bad} malformed range rows")


def load_dim_v6(spark: SparkSession, database: str = "City") -> DataFrame:
    return _local_dim(spark, GOLDEN_ROWS_V6[database], SCHEMAS_V6[database])


# ---------------------------------------------------------------------------
# Full .mmdb ingestion (S2 end-to-end): build COMPLETE v4 + v6 dimension
# tables for any database type directly from a MaxMind-DB file via the
# pure-Python sources/mmdb.py reader — the migration path for a reference
# user whose databases are .mmdb files. Driver-side, dim-build time only;
# the resulting DataFrames flow through the same enrich() as every dim.
# ---------------------------------------------------------------------------

_ANON_TRAIT_KEYS = ("is_hosting_provider", "is_tor_exit_node",
                    "is_anonymous_vpn", "is_anonymous",
                    "is_public_proxy", "is_residential_proxy")


def _mmdb_attrs(database: str, rec: dict) -> tuple:
    """Map one decoded mmdb record onto the SCHEMAS[database] attribute
    columns — the same field paths the reference's retrieve*GeoData methods
    read (GeoIPFilter.java:236-414: names.en, iso codes, first subdivision,
    location, traits; boolean traits default false like the GeoIP2
    reader)."""
    def _f(v):
        return None if v is None else float(v)

    loc = rec.get("location") or {}
    city = (rec.get("city") or {}).get("names", {}).get("en")
    cont = rec.get("continent") or {}
    ctry = rec.get("country") or {}
    sub = ((rec.get("subdivisions") or [{}])[0])
    if database == "City":
        return (city, cont.get("code"), cont.get("names", {}).get("en"),
                ctry.get("names", {}).get("en"), ctry.get("iso_code"),
                (rec.get("postal") or {}).get("code"), loc.get("metro_code"),
                sub.get("names", {}).get("en"), sub.get("iso_code"),
                loc.get("time_zone"), _f(loc.get("latitude")),
                _f(loc.get("longitude")))
    if database == "Country":
        return (ctry.get("iso_code"), ctry.get("names", {}).get("en"),
                cont.get("names", {}).get("en"))
    if database == "ASN":
        return (rec.get("autonomous_system_number"),
                rec.get("autonomous_system_organization"))
    if database == "ISP":
        return (rec.get("autonomous_system_number"),
                rec.get("autonomous_system_organization"),
                rec.get("isp"), rec.get("organization"))
    if database == "Domain":
        return (rec.get("domain"),)
    if database == "Enterprise":
        tr = rec.get("traits") or {}
        return (city, cont.get("names", {}).get("en"),
                ctry.get("names", {}).get("en"), ctry.get("iso_code"),
                sub.get("names", {}).get("en"), sub.get("iso_code"),
                loc.get("time_zone"), _f(loc.get("latitude")),
                _f(loc.get("longitude")),
                tr.get("autonomous_system_number"),
                tr.get("autonomous_system_organization"),
                *(bool(tr.get(k, False)) for k in _ANON_TRAIT_KEYS))
    if database == "Anonymous-IP":
        return tuple(bool(rec.get(k, False)) for k in _ANON_TRAIT_KEYS)
    raise ValueError(f"unknown database type {database!r}")


@lru_cache(maxsize=16)
def _mmdb_rows_cached(path: str, mtime: float,
                      database: str) -> tuple[tuple, tuple]:
    """mtime-keyed extraction cache: a manager-driven streaming job
    re-selects its database every micro-batch (sources/manager.py), and
    without this each batch would re-walk the whole .mmdb trie on the
    driver. A hot swap still lands immediately — a new path OR a touched
    file changes the key."""
    from .mmdb import networks_cidr

    rows4 = [_row(c, *_mmdb_attrs(database, r))
             for c, r in networks_cidr(path, want_v6=False)]
    rows6 = [_row_v6(c, *_mmdb_attrs(database, r))
             for c, r in networks_cidr(path, want_v6=True)]
    return tuple(rows4), tuple(rows6)


def mmdb_dim_rows(path: str, database: str = "City") -> tuple[list, list]:
    """(v4_rows, v6_rows) in SCHEMAS/SCHEMAS_V6 shape for a .mmdb file.
    Networks come from the trie enumeration (disjoint by construction —
    asserted in tests/test_mmdb_dims.py), so the bucketed range join
    matches each probe IP at most once."""
    import os as _os
    p = _os.path.abspath(path)
    rows4, rows6 = _mmdb_rows_cached(p, _os.path.getmtime(p), database)
    return list(rows4), list(rows6)


def load_dim_mmdb(spark: SparkSession, path: str, database: str = "City"
                  ) -> tuple[DataFrame, DataFrame]:
    """S2 end-to-end from a real .mmdb: returns (dim, dim_v6) ready for
    `enrich(df, dim, cfg, dim_v6=dim_v6)`."""
    return _local_dims(spark, database, *mmdb_dim_rows(path, database))


def _local_dim(spark: SparkSession, rows, schema: T.StructType) -> DataFrame:
    """The one dim constructor: rows → a JVM-local relation (LocalTableScan)
    through an Arrow table typed by `schema`. `createDataFrame(list_of_tuples)`
    plans as a pickled-row `Scan ExistingRDD` that every query over the dim
    re-runs as a Python-fed job of its own."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    cols = list(zip(*rows)) or [()] * len(schema)
    table = pa.Table.from_arrays(cols, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


def _local_dims(spark: SparkSession, database: str, rows4, rows6
                ) -> tuple[DataFrame, DataFrame]:
    return (_local_dim(spark, rows4, SCHEMAS[database]),
            _local_dim(spark, rows6, SCHEMAS_V6[database]))


# ---------------------------------------------------------------------------
# The default dimension source (S3 exact parity, VERDICT r4 #3): the reference
# vendors the GeoLite2 `.mmdb` files THEMSELVES as the default databases
# (geoip.rb:187-199, build.gradle:147-155) — the file is the DB, not a
# hand-mirrored subset. Our stand-in for the vendored files is the public
# MaxMind test-database tree the reference ships for its own specs; when the
# file for a type is present, the default rows are the FULL ingestion of
# that file (mtime-cached, mmdb_dim_rows), with the golden rows as the
# no-file fallback. `dim_rows` is the one resolver: Spark builds the default
# dims from it (vendored_dims) and the DuckDB oracle emits the same rows
# (dim_values_sql), so both engines always probe one source.
# ---------------------------------------------------------------------------

VENDORED_MMDB_DIR = "/root/reference/src/test/resources/maxmind-test-data"
VENDORED_MMDB_FILES = {
    "City": "GeoLite2-City-Test.mmdb",
    "Country": "GeoLite2-Country-Test.mmdb",
    "ASN": "GeoLite2-ASN-Test.mmdb",
    "ISP": "GeoIP2-ISP-Test.mmdb",
    "Domain": "GeoIP2-Domain-Test.mmdb",
    "Enterprise": "GeoIP2-Enterprise-Test.mmdb",
    "Anonymous-IP": "GeoIP2-Anonymous-IP-Test.mmdb",
}


def vendored_mmdb_path(database: str) -> str | None:
    import os
    path = f"{VENDORED_MMDB_DIR}/{VENDORED_MMDB_FILES[database]}"
    return path if os.path.exists(path) else None


def dim_rows(database: str) -> tuple[list, list]:
    """(v4_rows, v6_rows) of a type's DEFAULT database: the vendored file's
    full extraction when it exists, the golden rows otherwise. Callers must
    not mutate the returned lists."""
    path = vendored_mmdb_path(database)
    if path is None:
        return GOLDEN_ROWS[database], GOLDEN_ROWS_V6[database]
    return mmdb_dim_rows(path, database)


def vendored_dims(spark: SparkSession,
                  database: str = "City") -> tuple[DataFrame, DataFrame]:
    """(dim, dim_v6) for the DEFAULT database of a type (`dim_rows`)."""
    return _local_dims(spark, database, *dim_rows(database))


def default_dims(spark: SparkSession,
                 config: GeoIPConfig) -> tuple[DataFrame, DataFrame | None]:
    """(dim, dim_v6) that batch AND stream enrich use when the caller gives
    none (the one batch/stream dim-parity rule): `vendored_dims` of the
    config's database, the v6 dim attached only for the family-agnostic
    `ip_any` source."""
    dim, dim_v6 = vendored_dims(spark, config.database)
    return dim, (dim_v6 if config.source == "ip_any" else None)


def dim_values_sql(database: str) -> tuple[str, str]:
    """(v4 VALUES aliased d, v6 VALUES aliased c6) SQL over `dim_rows` — the
    DuckDB side of the default dims. Wrap in AS MATERIALIZED CTEs: DuckDB
    re-evaluates inline multi-hundred-row VALUES per probe row once any
    attribute is projected (observed: count(*) instant, projection >200 s)."""
    rows4, rows6 = dim_rows(database)
    return (rows_values_sql(rows4, SCHEMAS[database], "d"),
            rows_values_sql(rows6, SCHEMAS_V6[database], "c6"))
