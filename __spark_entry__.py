"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship query (turns per geo bucket per hour + failure
                 counts) over /root/testdata/sf0.001.
queries()      — one callable per implemented operator (SURVEY.md §2).
oracle_sql()   — DuckDB-equivalent SQL per query. The transcripts input is
                 derived deterministically from the `events` view with the
                 SAME SQL in both engines (sources/transcripts.py), so the
                 oracle sees byte-identical input; the GeoLite2-style
                 dimension rows are inlined as VALUES from the same Python
                 constants (sources/geolite2.py).
"""

from __future__ import annotations

from collections.abc import Callable
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logstash_filter_geoip_spark.config import GeoIPConfig
from logstash_filter_geoip_spark.functions.grok import compile_grok, grok_extract
from logstash_filter_geoip_spark.functions.parse import (parse_transcripts,
                                                         source_may_contain_v6)
from logstash_filter_geoip_spark.operators import conversation
from logstash_filter_geoip_spark.operators import aggregate as agg
from logstash_filter_geoip_spark.operators import stats as _stats
from logstash_filter_geoip_spark.operators import (basket, bloomjoin, bpe,
                                                   clustering,
                                                   curation, dedup, drift,
                                                   dq, entity, geo, hygiene,
                                                   layout,
                                                   multimodal, packing,
                                                   relational, retrieval,
                                                   graph, sampling,
                                                   semistructured,
                                                   similarity, text_ops,
                                                   trending, web)
from logstash_filter_geoip_spark.operators.enrich import enrich
from logstash_filter_geoip_spark.pipeline import enriched_transcripts, flagship
from logstash_filter_geoip_spark.sources.geolite2 import (dim_v6_values_sql,
                                                          dim_values_sql,
                                                          vendored_dims,
                                                          vendored_mmdb_path)
from logstash_filter_geoip_spark.sources.transcripts import (TEXT_CASES,
                                                             load_table,
                                                             load_transcripts,
                                                             transcripts_sql)

SF0001 = "/root/testdata/sf0.001"


def _pin_utc(spark: SparkSession) -> None:
    """Queries that OUTPUT timestamps render them in the session timezone;
    the driver gate calls queries() with an externally built bare
    SparkSession, which on a non-UTC host would silently diverge from the
    DuckDB oracle's naive-UTC instants (ADVICE r3). Idempotent on our own
    sessions (session.py already pins UTC)."""
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: turns per country per hour + failure counts at sf0.001."""
    # the flagship's window_start flows through the same date_trunc path
    # as q_geo_window_agg, so a non-UTC session would shift hour boundaries
    _pin_utc(spark)
    return flagship(spark, SF0001)


# ---------------------------------------------------------------------------
# Shared oracle fragments (DuckDB dialect)
# ---------------------------------------------------------------------------

# one definition of each regex: the oracle must scan identically
from logstash_filter_geoip_spark.functions.parse import (ERROR_CODE_RE,
                                                        IPV4_RE, IPV6_RE,
                                                        TOOL_RE)


def _v6_key_rows() -> list[tuple[str, int, int, str, int | None]]:
    """(literal, hi, lo, canonical, mapped_u32) for every IPv6 literal in
    the corpus (embedded-dotted-quad forms included — `ipaddress` parses
    them like Java's getByName).

    The (hi, lo) split and the canonical form are pure arithmetic on the
    parsed 128-bit value — precomputing them driver-side gives DuckDB
    (which has no 128-bit key primitive) an exact mirror of the Spark-side
    ipv6_key_lpm_udf / ipv6_canonical_from_key derivation. mapped_u32 is non-null
    iff the parsed BYTES are ::ffff:a.b.c.d (any textual spelling) — those
    rows take the v4 leg with the dotted quad as canonical ip, mirroring
    Java's convertFromIPv4MappedAddress and ipkeys.ipv4_mapped_u32. The
    corpus is the closed TEXT_CASES set, so the map is complete by
    construction.
    """
    import ipaddress
    import re

    out, seen = [], set()
    for text in TEXT_CASES:
        for m in re.finditer(IPV6_RE, text):
            v = m.group(1)
            if v in seen:
                continue
            seen.add(v)
            try:
                n = int(ipaddress.IPv6Address(v))
            except ValueError:
                continue
            hi = ((n >> 64) & 0xFFFFFFFFFFFFFFFF) - (1 << 63)
            lo = (n & 0xFFFFFFFFFFFFFFFF) - (1 << 63)
            if (n >> 32) == 0xFFFF:
                map_u32 = n & 0xFFFFFFFF
                canon = str(ipaddress.IPv4Address(map_u32))
            else:
                map_u32 = None
                canon = ":".join(format((n >> (112 - 16 * i)) & 0xFFFF, "x")
                                 for i in range(8))
            out.append((v, hi, lo, canon, map_u32))
    assert out, "corpus must contain at least one IPv6 literal"
    return out


def _v6_keys_sql() -> str:
    values = ",\n    ".join(
        "('{}', CAST({} AS BIGINT), CAST({} AS BIGINT), '{}', "
        "CAST({} AS BIGINT))".format(
            v, hi, lo, canon, "NULL" if map_u32 is None else map_u32)
        for v, hi, lo, canon, map_u32 in _v6_key_rows())
    return f"(VALUES\n    {values}\n) AS v(ip6, v6_hi, v6_lo, ip_canon, map_u32)"


# lexicographic (hi, lo) BETWEEN for the v6 range join (alias c6); k6_hi/lo
# are null for v4, mapped, and unparseable rows — no v6 match possible
_V6_RANGE_SQL = """
       (k.k6_hi > c6.start_hi OR (k.k6_hi = c6.start_hi AND k.k6_lo >= c6.start_lo))
   AND (k.k6_hi < c6.end_hi   OR (k.k6_hi = c6.end_hi   AND k.k6_lo <= c6.end_lo))"""

def _unified_join(name: str, db: str, hit_sql: str | None = None,
                  v4_values: str | None = None,
                  v6_values: str | None = None) -> str:
    """One family-agnostic join CTE: v4 leg on the effective uint32 range
    (plain v4 OR an IPv4-mapped v6 literal), v6 leg via the precomputed
    (hi, lo) keys, attributes coalesced v4-first — the SQL mirror of
    enrich(df, dim, cfg, dim_v6=...) with source ip_any. Every database type
    gets one (the reference accepts IPv6 through all seven retrieve paths,
    GeoIPFilter.java:172-197). `v4_values`/`v6_values` override the golden
    VALUES relations (used by the mmdb-ingest query, whose dim rows come
    from the .mmdb extraction both engines share)."""
    from logstash_filter_geoip_spark.sources.geolite2 import SCHEMAS

    attrs = [f.name for f in SCHEMAS[db].fields[3:]]
    coalesced = ",\n         ".join(
        f"COALESCE(d.{a}, c6.{a}) AS {a}" for a in attrs)
    hit = hit_sql or "(d.net_start IS NOT NULL OR c6.start_hi IS NOT NULL)"
    return f"""
{name}_join AS (
  SELECT k.*,
         {coalesced},
         CASE WHEN k.use6 THEN k.ip_canon ELSE k.ip_str END AS ip_val,
         {hit} AS hit
  FROM keyed k
  LEFT JOIN {v4_values or dim_values_sql(db)}
    ON k.ip_u32 BETWEEN d.net_start AND d.net_end
  LEFT JOIN {v6_values or dim_v6_values_sql(db, 'c6')}
    ON {_V6_RANGE_SQL}
),"""


# City empty-location abort (P10) folded into the unified hit
_CITY_HIT_SQL = """((d.net_start IS NOT NULL OR c6.start_hi IS NOT NULL)
          AND NOT (COALESCE(d.latitude, c6.latitude) IS NULL
                   AND COALESCE(d.longitude, c6.longitude) IS NULL))"""


_JOIN_SPECS = [
    ("city", "City", _CITY_HIT_SQL),
    ("country_u", "Country", None),
    ("asn", "ASN", None),
    ("isp", "ISP", None),
    ("domain", "Domain", None),
    ("ent", "Enterprise", None),
    ("anon", "Anonymous-IP", None),
]


def _dim_ctes_and_joins() -> tuple[str, str, str | None]:
    """Per-type dim CTEs + unified join CTEs for the oracle prefix.

    S3 exact parity (VERDICT r4 #3): when the vendored `.mmdb` exists for a
    type, BOTH engines use its full extraction — Spark via vendored_dims,
    the oracle via AS MATERIALIZED VALUES CTEs emitted here (materialized
    because DuckDB re-evaluates inline multi-hundred-row VALUES per probe
    row once an attribute is projected). Golden VALUES remain the no-file
    fallback, inlined as before. Returns (dim_ctes, joins, country_v4) —
    country_v4 is the relation the v4-only country_join probes.
    """
    from logstash_filter_geoip_spark.sources.geolite2 import vendored_dim_sql

    ctes, joins = [], []
    country_v4 = None
    for name, db, hit in _JOIN_SPECS:
        sqls = vendored_dim_sql(db)
        if sqls is None:
            joins.append(_unified_join(name, db, hit))
        else:
            ctes.append(f"{name}_d4 AS MATERIALIZED (SELECT * FROM {sqls[0]})")
            ctes.append(f"{name}_d6 AS MATERIALIZED (SELECT * FROM {sqls[1]})")
            joins.append(_unified_join(name, db, hit,
                                       v4_values=f"{name}_d4 AS d",
                                       v6_values=f"{name}_d6 AS c6"))
            if db == "Country":
                country_v4 = "country_u_d4 AS d"
    dim_ctes = "" if not ctes else ",\n" + ",\n".join(ctes)
    return dim_ctes, "".join(joins), country_v4


def _asof_city_sql() -> str:
    """Oracle body for enrich_asof_city: the SAME City dim rows the Spark
    query enriches with (vendored extraction or golden fallback), stacked
    into two whole-file snapshots (era 2 suffixes city_name — `|| ' (r2)'`
    keeps NULL city names NULL, exactly like Spark's concat), then the
    unified v4+v6 range join with the half-open validity-interval residual
    on each leg — the SQL mirror of enrich(..., event_time_col='ts') over
    operators/temporal.dim_history."""
    from logstash_filter_geoip_spark.sources.geolite2 import (
        SCHEMAS, SCHEMAS_V6, dim_values_sql, dim_v6_values_sql,
        vendored_dim_sql)

    sqls = vendored_dim_sql("City")
    v4rel = "city_d4 AS d" if sqls else dim_values_sql("City")
    v6rel = "city_d6 AS c6" if sqls else dim_v6_values_sql("City", "c6")

    def hist(rel: str, alias: str, cols: list[str]) -> str:
        keep = ", ".join(f"{alias}.{c}" for c in cols)
        v2 = ", ".join(
            f"{alias}.{c} || ' (r2)' AS {c}" if c == "city_name"
            else f"{alias}.{c}" for c in cols)
        return (f"SELECT {keep}, TIMESTAMP '{_ASOF_ERA1}' AS valid_from,\n"
                f"         TIMESTAMP '{_ASOF_CUTOVER}' AS valid_to FROM {rel}\n"
                f"  UNION ALL\n"
                f"  SELECT {v2}, TIMESTAMP '{_ASOF_CUTOVER}' AS valid_from,\n"
                f"         CAST(NULL AS TIMESTAMP) AS valid_to FROM {rel}")

    h4 = hist(v4rel, "d", [f.name for f in SCHEMAS["City"].fields])
    h6 = hist(v6rel, "c6", [f.name for f in SCHEMAS_V6["City"].fields])
    return f"""
, h4 AS MATERIALIZED (
  {h4}
), h6 AS MATERIALIZED (
  {h6}
), asof_city AS (
  SELECT k.*,
         COALESCE(d.city_name, c6.city_name) AS a_city_name,
         COALESCE(d.country_iso_code, c6.country_iso_code) AS a_country_iso,
         CASE WHEN k.use6 THEN k.ip_canon ELSE k.ip_str END AS ip_val,
         ((d.net_start IS NOT NULL OR c6.start_hi IS NOT NULL)
          AND NOT (COALESCE(d.latitude, c6.latitude) IS NULL
                   AND COALESCE(d.longitude, c6.longitude) IS NULL)) AS hit
  FROM keyed k
  LEFT JOIN h4 AS d
    ON k.ip_u32 BETWEEN d.net_start AND d.net_end
   AND k.ts >= d.valid_from AND (d.valid_to IS NULL OR k.ts < d.valid_to)
  LEFT JOIN h6 AS c6
    ON {_V6_RANGE_SQL}
   AND k.ts >= c6.valid_from AND (c6.valid_to IS NULL OR k.ts < c6.valid_to)
)
SELECT conv_id, turn_idx,
       CAST(ts >= TIMESTAMP '{_ASOF_CUTOVER}' AS INTEGER) AS era2,
       CASE WHEN hit THEN ip_val END AS ip,
       CASE WHEN hit THEN a_city_name END AS city_name,
       CASE WHEN hit THEN a_country_iso END AS country_iso_code,
       CASE WHEN hit THEN 0 ELSE 1 END AS is_failure
FROM asof_city
"""


def _oracle_prefix() -> str:
    """WITH transcripts, parsed, keyed — the parse stage in DuckDB SQL.

    All seven *_join CTEs are UNIFIED over both IP families (see
    _unified_join) and probe the SAME dim rows as the Spark queries
    (vendored .mmdb extraction when present — _dim_ctes_and_joins). `use6`
    mirrors the Spark-side ip_any tail-quad preference (parse.py): the v6
    literal wins when the extracted v4 is its trailing embedded quad.
    `ip_u32` is the EFFECTIVE v4 key (plain v4, or the embedded quad of an
    IPv4-mapped literal via the VALUES map); `ip4_u32` stays purely
    ip_str-derived for the explicitly-v4 paths (country_join / city4_join,
    mirroring source='ip_str' configs).
    """
    octet = "CAST(split_part(ip_str, '.', {i}) AS BIGINT)"
    octets = [octet.format(i=i) for i in (1, 2, 3, 4)]
    valid = " AND ".join(f"{o} <= 255" for o in octets)
    u32 = (f"{octets[0]} * 16777216 + {octets[1]} * 65536 + "
           f"{octets[2]} * 256 + {octets[3]}")
    dim_ctes, unified, country_v4 = _dim_ctes_and_joins()
    return f"""
WITH transcripts AS ({transcripts_sql('duckdb')}),
parsed AS (
  SELECT conv_id, turn_idx, role, tool, ts, text,
         nullif(regexp_extract(text, '{IPV4_RE}', 1), '') AS ip_str,
         nullif(regexp_extract(text, '{IPV6_RE}', 1), '') AS ip6_str,
         nullif(regexp_extract(text, '{ERROR_CODE_RE}', 1), '') AS error_code,
         nullif(regexp_extract(text, '{TOOL_RE}', 1), '') AS tool_mention
  FROM transcripts
),
keyed0 AS (
  SELECT p.*, v.v6_hi, v.v6_lo, v.ip_canon, v.map_u32,
         CASE WHEN p.ip_str IS NULL THEN NULL
              WHEN {valid} THEN {u32}
              ELSE NULL END AS ip4_u32
  FROM (SELECT *,
               (ip6_str IS NOT NULL AND
                (ip_str IS NULL OR ends_with(ip6_str, ':' || ip_str))) AS use6
        FROM parsed) p
  LEFT JOIN {_v6_keys_sql()} ON p.use6 AND p.ip6_str = v.ip6
),
keyed AS (
  SELECT *,
         CASE WHEN use6 THEN map_u32 ELSE ip4_u32 END AS ip_u32,
         CASE WHEN use6 AND map_u32 IS NULL THEN v6_hi END AS k6_hi,
         CASE WHEN use6 AND map_u32 IS NULL THEN v6_lo END AS k6_lo
  FROM keyed0
){dim_ctes},{unified}
country_join AS (
  SELECT k.*, d.*, (d.net_start IS NOT NULL) AS hit
  FROM keyed k LEFT JOIN {country_v4 or dim_values_sql('Country')}
    ON k.ip4_u32 BETWEEN d.net_start AND d.net_end
)
"""


# ---------------------------------------------------------------------------
# Spark-side query callables
# ---------------------------------------------------------------------------


def _parsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return parse_transcripts(load_transcripts(spark, sf_dir))


def q_parse_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _parsed(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "tool", "ip_str", "ip6_str",
        "error_code", "tool_mention")


def _enrich_flat(spark: SparkSession, sf_dir: str, database: str,
                 cols: list[tuple[str, str]],
                 source: str = "ip_any", with_v6: bool = True) -> DataFrame:
    """Run enrich for `database`, project flat (alias, struct path) pairs.

    Family-agnostic by default: source ip_any + the database's v6 dim, so
    every DB-type driver query exercises both BroadcastHashJoin legs (the
    reference accepts IPv6 through every type, GeoIPFilter.java:172-197).
    Dims are the DEFAULT vendored-database ingestion (full .mmdb when
    present, golden fallback) — the oracle probes the same rows."""
    cfg = GeoIPConfig(source=source, target="geoip", database=database,
                      ecs_compatibility=True)
    dim, vend_v6 = vendored_dims(spark, database)
    e = enrich(_parsed(spark, sf_dir), dim, cfg,
               dim_v6=vend_v6 if with_v6 else None,
               source_may_contain_v6=source_may_contain_v6(source))
    return e.select(
        "conv_id", "turn_idx",
        *[F.col(path).alias(alias) for alias, path in cols],
        agg.failure_flag().alias("is_failure"))


def q_enrich_city(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = enriched_transcripts(spark, sf_dir)
    return e.select(
        "conv_id", "turn_idx",
        F.col("geoip.ip").alias("ip"),
        F.col("geoip.geo.city_name").alias("city_name"),
        F.col("geoip.geo.country_iso_code").alias("country_iso_code"),
        F.col("geoip.geo.region_iso_code").alias("region_iso_code"),
        F.col("geoip.geo.postal_code").alias("postal_code"),
        F.col("geoip.geo.timezone").alias("timezone"),
        F.col("geoip.mmdb.dma_code").alias("dma_code"),
        F.col("geoip.geo.location.lat").alias("lat"),
        F.col("geoip.geo.location.lon").alias("lon"),
        agg.failure_flag().alias("is_failure"),
    )


def q_enrich_asn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _enrich_flat(spark, sf_dir, "ASN", [
        ("ip", "geoip.ip"), ("asn", "geoip.as.number"),
        ("as_org", "geoip.as.organization.name")])


def q_enrich_legacy_city(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Legacy (ECS-disabled) naming: flat fields, region_code swap,
    country_code3 = 2-letter ISO. Unified v4+v6 source like the ECS path."""
    cfg = GeoIPConfig(source="ip_any", database="City", ecs_compatibility=False)
    parsed = _parsed(spark, sf_dir)
    dim, dim_v6 = vendored_dims(spark, "City")
    e = enrich(parsed, dim, cfg, dim_v6=dim_v6)
    return e.select(
        "conv_id", "turn_idx",
        F.col("geoip.ip").alias("ip"),
        F.col("geoip.city_name").alias("city_name"),
        F.col("geoip.country_code2").alias("country_code2"),
        F.col("geoip.country_code3").alias("country_code3"),
        F.col("geoip.region_code").alias("region_code"),
        F.col("geoip.latitude").alias("latitude"),
        F.col("geoip.longitude").alias("longitude"),
    )


def q_enrich_isp(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _enrich_flat(spark, sf_dir, "ISP", [
        ("ip", "geoip.ip"), ("asn", "geoip.as.number"),
        ("as_org", "geoip.as.organization.name"),
        ("isp", "geoip.mmdb.isp"), ("organization", "geoip.mmdb.organization")])


def q_enrich_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _enrich_flat(spark, sf_dir, "Domain", [("domain", "geoip.domain")])


def q_enrich_enterprise(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _enrich_flat(spark, sf_dir, "Enterprise", [
        ("ip", "geoip.ip"), ("city_name", "geoip.geo.city_name"),
        ("country_iso_code", "geoip.geo.country_iso_code"),
        ("continent_name", "geoip.geo.continent_name"),
        ("region_iso_code", "geoip.geo.region_iso_code"),
        ("lat", "geoip.geo.location.lat"), ("lon", "geoip.geo.location.lon")])


def q_enrich_anonymous(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _enrich_flat(spark, sf_dir, "Anonymous-IP", [
        ("hosting_provider", "geoip.ip_traits.hosting_provider"),
        ("tor_exit_node", "geoip.ip_traits.tor_exit_node"),
        ("anonymous_vpn", "geoip.ip_traits.anonymous_vpn"),
        ("anonymous", "geoip.ip_traits.anonymous"),
        ("public_proxy", "geoip.ip_traits.public_proxy"),
        ("residential_proxy", "geoip.ip_traits.residential_proxy")])


def q_enrich_country_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deliberately v4-only (source ip_str, no v6 dim) — pins the
    single-family configuration alongside the unified enrich_country_v6."""
    return _enrich_flat(spark, sf_dir, "Country", [
        ("ip", "geoip.ip"),
        ("country_iso_code", "geoip.geo.country_iso_code"),
        ("country_name", "geoip.geo.country_name"),
        ("continent_name", "geoip.geo.continent_name")],
        source="ip_str", with_v6=False)


def q_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = enriched_transcripts(spark, sf_dir)
    return agg.routed_row_counts(e)


def q_geo_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # UTC matters here (this query and entry() output timestamps through
    # date_trunc — see _pin_utc)
    _pin_utc(spark)
    e = enriched_transcripts(spark, sf_dir)
    return agg.turns_per_geo_window(e, country_col="geoip.geo.country_iso_code")


def q_failure_by_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = enriched_transcripts(spark, sf_dir)
    return agg.failure_counts_per_sink(e)


def q_miss_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The P1/P3/P5 trichotomy as countable classes: hit / absent / empty.
    Absent means NO IP of either family extracted (the source is ip_any)."""
    e = enriched_transcripts(spark, sf_dir)
    cls = (F.when(F.col("geoip_hit"), F.lit("hit"))
            .when(F.col("ip_any").isNull(), F.lit("absent"))
            .otherwise(F.lit("empty_obj")))
    return e.groupBy(cls.alias("miss_class")).agg(
        F.count(F.lit(1)).alias("n"))


def q_conv_rollup_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_transcripts(spark, sf_dir)
    return agg.salted_conv_rollup(t)


def q_top_convs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k diagnostics (SURVEY §2.6): TakeOrderedAndProject path."""
    t = load_transcripts(spark, sf_dir)
    return (agg.salted_conv_rollup(t)
            .orderBy(F.desc("n_turns"), F.asc("conv_id"))
            .limit(10))


# one grok template shared verbatim (compiled regex) with the oracle
GROK_TEMPLATE = ("client at %{IPV4:client_ip} reported %{ERRORCODE:err} "
                 "via %{TOOLNAME:tname}")
GROK_REGEX, GROK_FIELDS = compile_grok(GROK_TEMPLATE)


def q_grok_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_transcripts(spark, sf_dir)
    return grok_extract(t, GROK_TEMPLATE).select(
        "conv_id", "turn_idx", *GROK_FIELDS)


def q_conv_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return conversation.conv_turn_features(load_transcripts(spark, sf_dir))


@lru_cache(maxsize=1)
def _golden_city_csvs() -> tuple[str, str]:
    """Write the golden City CSVs once per process (repeated gate/test
    invocations used to leak one gl2csv_ tempdir each) and remove the
    directory at exit."""
    import atexit
    import shutil
    import tempfile

    from logstash_filter_geoip_spark.sources.geolite2_csv import \
        write_golden_city_csv

    d = tempfile.mkdtemp(prefix="gl2csv_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return write_golden_city_csv(d)


def q_enrich_city_from_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 end-to-end through the PUBLISHED GeoLite2-CSV layout: golden City
    rows written as Blocks-IPv4 + Locations-en CSVs, ingested via
    geolite2_csv.load_city_csv (vectorized CIDR expansion + broadcast
    geoname join), then the standard enrich. Oracle: same VALUES dim —
    ingestion must be lossless."""
    from logstash_filter_geoip_spark.sources.geolite2_csv import load_city_csv

    blocks, locs = _golden_city_csvs()
    dim = load_city_csv(spark, blocks, locs)
    cfg = GeoIPConfig(source="ip_str", target="geoip", database="City",
                      ecs_compatibility=True)
    e = enrich(_parsed(spark, sf_dir), dim, cfg,
               source_may_contain_v6=source_may_contain_v6(cfg.source))
    return e.select(
        "conv_id", "turn_idx",
        F.col("geoip.ip").alias("ip"),
        F.col("geoip.geo.city_name").alias("city_name"),
        F.col("geoip.geo.country_iso_code").alias("country_iso_code"),
        F.col("geoip.geo.region_iso_code").alias("region_iso_code"),
        F.col("geoip.geo.postal_code").alias("postal_code"),
        F.col("geoip.mmdb.dma_code").alias("dma_code"),
        F.col("geoip.geo.location.lat").alias("lat"),
        F.col("geoip.geo.location.lon").alias("lon"),
        F.col("geoip_hit").alias("hit"))


# the reference tree's canonical public MaxMind test databases
# (geolite2.vendored_mmdb_path) — input for the full-.mmdb ingestion path
# (S2 end-to-end). Guarded: the query/oracle pair registers only when the
# City file exists.


def q_enrich_city_from_mmdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 end-to-end through a REAL .mmdb file: the public
    GeoLite2-City-Test database is read with the pure-Python format reader
    (sources/mmdb.py), its full v4 AND v6 network sets become the two dim
    legs, then the standard unified enrich. Oracle: the SAME extracted rows
    as VALUES — ingestion must be lossless (the enrich_city_from_csv
    pattern, upgraded from CSV to the binary format)."""
    from logstash_filter_geoip_spark.sources.geolite2 import load_dim_mmdb

    dim, dim_v6 = load_dim_mmdb(spark, vendored_mmdb_path("City"), "City")
    cfg = GeoIPConfig(source="ip_any", target="geoip", database="City",
                      ecs_compatibility=True)
    e = enrich(_parsed(spark, sf_dir), dim, cfg, dim_v6=dim_v6)
    return e.select(
        "conv_id", "turn_idx",
        F.col("geoip.ip").alias("ip"),
        F.col("geoip.geo.city_name").alias("city_name"),
        F.col("geoip.geo.country_iso_code").alias("country_iso_code"),
        F.col("geoip.geo.region_iso_code").alias("region_iso_code"),
        F.col("geoip.geo.postal_code").alias("postal_code"),
        F.col("geoip.mmdb.dma_code").alias("dma_code"),
        F.col("geoip.geo.location.lat").alias("lat"),
        F.col("geoip.geo.location.lon").alias("lon"),
        F.col("geoip_hit").alias("hit"))


def _mmdb_city_oracle(prefix: str) -> str:
    """`prefix` is the caller's already-built _oracle_prefix() — rebuilding
    it here re-emitted every vendored dim's multi-hundred-row VALUES string
    a second time per oracle_sql() call."""
    from logstash_filter_geoip_spark.sources.geolite2 import (
        SCHEMAS, SCHEMAS_V6, mmdb_dim_rows, rows_values_sql)

    rows4, rows6 = mmdb_dim_rows(vendored_mmdb_path("City"), "City")
    # MATERIALIZED: with the few-hundred-row VALUES inlined in the join,
    # DuckDB re-evaluates the whole literal relation per probe row once any
    # attribute column is projected (observed: count(*) instant, any
    # projection >200 s); materializing once restores sub-second execution
    join = _unified_join(
        "citym", "City", _CITY_HIT_SQL,
        v4_values="dm AS d", v6_values="c6m AS c6",
    ).strip().rstrip(",")
    return prefix + f"""
, dm AS MATERIALIZED (SELECT * FROM {rows_values_sql(rows4, SCHEMAS["City"], "d")})
, c6m AS MATERIALIZED (SELECT * FROM {rows_values_sql(rows6, SCHEMAS_V6["City"], "c6")})
, {join}
SELECT conv_id, turn_idx,
       CASE WHEN hit THEN ip_val END AS ip,
       CASE WHEN hit THEN city_name END AS city_name,
       CASE WHEN hit THEN country_iso_code END AS country_iso_code,
       CASE WHEN hit AND country_iso_code IS NOT NULL AND region_code IS NOT NULL
            THEN country_iso_code || '-' || region_code END AS region_iso_code,
       CASE WHEN hit THEN postal_code END AS postal_code,
       CASE WHEN hit THEN dma_code END AS dma_code,
       CASE WHEN hit AND latitude IS NOT NULL AND longitude IS NOT NULL
            THEN latitude END AS lat,
       CASE WHEN hit AND latitude IS NOT NULL AND longitude IS NOT NULL
            THEN longitude END AS lon,
       hit
FROM citym_join
"""


def q_enrich_country_v6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Country enrich over the family-agnostic source: one enrich() call,
    both dims — v6 rows (2a02:d5c0::/29 golden, GeoIPFilterTest.java:99-117)
    resolve through the (hi, lo) range leg, v4 rows through uint32."""
    cfg = GeoIPConfig(source="ip_any", target="geoip", database="Country",
                      ecs_compatibility=True)
    dim, dim_v6 = vendored_dims(spark, "Country")
    e = enrich(_parsed(spark, sf_dir), dim, cfg, dim_v6=dim_v6)
    return e.select(
        "conv_id", "turn_idx",
        F.col("geoip.ip").alias("ip"),
        F.col("geoip.geo.country_iso_code").alias("country_iso_code"),
        F.col("geoip.geo.country_name").alias("country_name"),
        F.col("geoip.geo.continent_name").alias("continent_name"),
        agg.failure_flag().alias("is_failure"))


def q_enrich_city_v6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The City IPv6 slice: rows whose extracted IP is v6-only, showing the
    canonical (exploded) ip and the spec-asserted continent_code
    (geoip_ecs_spec.rb:143-161: 2607:f0d0:1002:51::4 →
    '2607:f0d0:1002:51:0:0:0:4' / 'NA')."""
    e = enriched_transcripts(spark, sf_dir)
    return (e.where(F.col("ip_str").isNull() & F.col("ip6_str").isNotNull())
             .select(
                 "conv_id", "turn_idx",
                 F.col("geoip.ip").alias("ip"),
                 F.col("geoip.geo.continent_code").alias("continent_code"),
                 F.col("geoip.geo.country_iso_code").alias("country_iso_code"),
                 F.col("geoip.geo.location.lat").alias("lat"),
                 F.col("geoip.geo.location.lon").alias("lon"),
                 F.col("geoip_hit").alias("hit")))


def q_distinct_ips(spark: SparkSession, sf_dir: str) -> DataFrame:
    return conversation.distinct_ip_stats(_parsed(spark, sf_dir))


# Event-time (versioned-database) enrichment era boundaries: the corpus ts
# domain is Jan 2024 at every sf (driver-generated events), so era 1 covers
# [ERA1, CUTOVER) and era 2 [CUTOVER, ∞) — both populated at every sf.
_ASOF_ERA1 = "2024-01-01 00:00:00"
_ASOF_CUTOVER = "2024-01-16 00:00:00"


def q_asof_tool_config(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic as-of join (operators/temporal.py): each turn joins to the
    latest per-tool config snapshot at or before its ts. Snapshots are
    derived deterministically from the corpus itself (version 1 at the
    tool's min ts, version 2 at its max ts) so both engines build the same
    snapshot relation; the min==max single-instant tool exercises the
    tie-break rule (later version wins the shared instant)."""
    from logstash_filter_geoip_spark.operators.temporal import asof_join
    t = load_transcripts(spark, sf_dir)
    base = (t.where(F.col("tool").isNotNull())
             .groupBy("tool").agg(F.min("ts").alias("mn"),
                                  F.max("ts").alias("mx")))
    snaps = base.select("tool", F.col("mn").alias("cfg_from"),
                        F.lit(1).alias("cfg_version")).unionByName(
        base.select("tool", F.col("mx").alias("cfg_from"),
                    F.lit(2).alias("cfg_version")))
    j = asof_join(t, snaps, on=["tool"], left_ts="ts", right_ts="cfg_from",
                  tie_break=("cfg_version",))
    return j.select("conv_id", "turn_idx", "tool", "cfg_version")


def q_enrich_asof_city(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned-database City enrichment: two whole-file dim snapshots
    (era 2 re-labels every city_name with a ' (r2)' suffix), each event
    joining to the snapshot valid at ITS OWN ts — the deterministic
    event-time generalization of the reference's DatabaseManager update
    cycle (geoip.rb:156-171), making checkpointed replay reproduce the
    original enrichment after a database update."""
    from logstash_filter_geoip_spark.operators.temporal import dim_history

    def rev2(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "city_name", F.concat(F.col("city_name"), F.lit(" (r2)")))

    dim, dim_v6 = vendored_dims(spark, "City")
    hist = dim_history([(_ASOF_ERA1, dim), (_ASOF_CUTOVER, rev2(dim))])
    hist6 = dim_history([(_ASOF_ERA1, dim_v6), (_ASOF_CUTOVER, rev2(dim_v6))])
    cfg = GeoIPConfig(source="ip_any", target="geoip", database="City",
                      ecs_compatibility=True)
    e = enrich(_parsed(spark, sf_dir), hist, cfg, dim_v6=hist6,
               event_time_col="ts")
    cut = F.lit(_ASOF_CUTOVER).cast("timestamp")
    return e.select(
        "conv_id", "turn_idx",
        (F.col("ts") >= cut).cast("int").alias("era2"),
        F.col("geoip.ip").alias("ip"),
        F.col("geoip.geo.city_name").alias("city_name"),
        F.col("geoip.geo.country_iso_code").alias("country_iso_code"),
        agg.failure_flag().alias("is_failure"))


# Sessionization gap: 6h over the synthetic corpus (150 users / 30 days)
# yields a healthy mix of multi-event sessions and singletons at every sf.
_SESSION_GAP_S = 6 * 3600


def q_sessionize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization over the raw events table (operators/
    sessions.py): per-user session ordinals via one lag+running-sum window,
    then per-session rollups — the canonical log-analytics derived table."""
    from logstash_filter_geoip_spark.operators.sessions import session_stats
    _pin_utc(spark)
    return session_stats(load_table(spark, sf_dir, "events"), ["user_id"],
                         "ts", gap_s=_SESSION_GAP_S)


def q_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same sessions through Spark's native session_window aggregate
    (the Structured-Streaming-capable flavor) — bounds are
    [min_ts, max_ts + gap), mirrored arithmetically in the oracle."""
    from logstash_filter_geoip_spark.operators.sessions import (
        session_window_agg)
    _pin_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    return session_window_agg(ev, ["user_id"], "ts",
                              gap=f"{_SESSION_GAP_S} seconds")


def q_event_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group quantiles (type-7 interpolation, bit-identical to
    DuckDB quantile_cont); the approx_percentile scale path is value-locked
    against this in tests/test_sessions_agg.py instead of oracle-hashed."""
    ev = load_table(spark, sf_dir, "events")
    return agg.quantile_stats(ev, ("event_type",), "value")


def q_role_tool_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-tab: turns per role × tool with an EXPLICIT pivot-value list
    (stable schema, no distinct-discovery scan — the 100-TB-safe pivot)."""
    return agg.pivot_counts(load_transcripts(spark, sf_dir), "role", "tool",
                            ("search", "bash", "geoip"))


def q_user_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention over the events table (operators/
    aggregate.cohort_retention): join-free — distinct (user, week), cohort
    via a partition-wide window min, plain count at the final aggregate."""
    _pin_utc(spark)
    return agg.cohort_retention(load_table(spark, sf_dir, "events"), "user_id")


_FUNNEL_STEPS = ("view", "click", "purchase")


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel over the events table (aggregate.funnel_counts):
    users reaching view → click-after-view → purchase-after-click, one
    Exchange + chained partition-wide window mins."""
    return agg.funnel_counts(load_table(spark, sf_dir, "events"), "user_id",
                             "event_type", _FUNNEL_STEPS)


def q_rolling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing 1-day/7-day event counts via event-time RANGE
    frames (aggregate.rolling_window_counts): one Exchange+Sort, one
    Window evaluating both frames."""
    ev = load_table(spark, sf_dir, "events")
    out = agg.rolling_window_counts(ev, "user_id")
    return out.select("event_id", "user_id", "ts", "n_1d", "n_7d")


def q_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-maintenance rollup (aggregate.daily_rollup): per
    (day, event_type) counts + exact distinct users — the same relation
    upsert_daily_rollup() maintains via dynamic partition overwrite."""
    return agg.daily_rollup(load_table(spark, sf_dir, "events"))


def q_error_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time interval self-join: every parsed error turn against the
    same conversation's tool turns in the preceding 30 minutes
    (streaming/pipeline.attribution_join, batch mode — the stream-stream
    variant shares this exact definition)."""
    from logstash_filter_geoip_spark.streaming.pipeline import attribution_join
    return attribution_join(load_transcripts(spark, sf_dir),
                            max_lag="30 minutes")


def q_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score anomaly screen over the events table
    (aggregate.zscore_outliers): rows more than 3 population standard
    deviations from their type's mean — group stats broadcast back, one
    detection scan."""
    ev = load_table(spark, sf_dir, "events")
    out = agg.zscore_outliers(ev, ("event_type",), "value", threshold=3.0)
    return out.select("event_id", "event_type", "value")


def q_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type Tukey-fence (IQR) outlier screen — the robust sibling of
    value_outliers (aggregate.iqr_outliers), exact type-7 quartiles."""
    ev = load_table(spark, sf_dir, "events")
    out = agg.iqr_outliers(ev, ("event_type",), "value", k=1.5)
    return out.select("event_id", "event_type", "value")


def q_rate_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type daily event-rate buckets with integer-rational spike flags
    (aggregate.rate_spikes): a day is a spike iff 4*count > 5*prev_count."""
    _pin_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    return agg.rate_spikes(ev, "event_type", "ts", bucket="day", factor=(5, 4))


# histogram bounds over events.value: [0, 100) × 20 buckets — values above
# 100 exist in the corpus, so the overflow sentinel bucket is exercised
_HIST = dict(lo=0.0, hi=100.0, n_buckets=20)


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type fixed-width value histogram (aggregate.value_histogram):
    one mergeable two-phase aggregate — the deterministic 100-TB
    distribution sketch (shared floor/clamp arithmetic, sentinel
    out-of-range buckets)."""
    ev = load_table(spark, sf_dir, "events")
    return agg.value_histogram(ev, ("event_type",), "value", **_HIST)


def q_distinct_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental distinct-count maintenance (aggregate.distinct_sketches
    + merge): per-day HLL sketches per event_type, merged to per-type
    distinct-user estimates. ORACLE-checked: at gate-scale cardinality the
    DataSketches estimate is in its exact sparse regime (== exact distinct,
    deterministic), so count(DISTINCT) mirrors it value-exactly — at 100 TB
    the same plan answers from stored daily sketch rows without rescans."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", F.col("ts")))
    return agg.distinct_sketch_rollup(ev, ("event_type",), "user_id", "day")


def q_sft_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT prompt/response pair extraction from the multi-turn transcripts
    (conversation.sft_pairs): ONE Exchange — the rollup groups on a
    superset of the window key."""
    return conversation.sft_pairs(load_transcripts(spark, sf_dir))


def q_render_chat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chat-template rendering: one document per conversation with role
    tags (conversation.render_chat) — one Exchange."""
    return conversation.render_chat(load_transcripts(spark, sf_dir))


def q_truncate_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window truncation (conversation.truncate_context): keep
    each conversation's suffix fitting a 24-token budget — one descending
    window, single Exchange; the token rule is loss_mask_spans' rule."""
    return conversation.truncate_context(load_transcripts(spark, sf_dir),
                                         max_tokens=24)


def q_tool_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tool-call chain mining (conversation.tool_chains): ordered non-NULL
    tool sequences per conversation aggregated to (chain, chain_len,
    n_convs) — compiled sorted-struct concat, no HOF."""
    return conversation.tool_chains(load_transcripts(spark, sf_dir))


def q_error_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-burst runs (conversation.error_runs): gaps-and-islands over
    error-code turns, per-conversation max/num/total run stats — all
    windows and aggregates on the one conv_id key."""
    return conversation.error_runs(load_transcripts(spark, sf_dir))


def q_tool_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tool response-latency percentiles (conversation.
    tool_latency_stats): lead-gap micros + exact type-7 percentiles
    (== DuckDB quantile_cont, the quantile_stats contract)."""
    return conversation.tool_latency_stats(load_transcripts(spark, sf_dir))


def q_chat_format_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation chat-format QA (conversation.chat_format_checks):
    empty turns, repeated speakers, orphaned tool turns, misplaced system
    turns, opener/closer flags, composite valid — one window + one
    aggregate, coalesced-to-0 flag totality."""
    return conversation.chat_format_checks(load_transcripts(spark, sf_dir))


def q_canned_replies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canned assistant-reply inventory (conversation.canned_replies):
    normalized reply use counts + distinct-conversation reach + the
    over-represented-response flag."""
    return conversation.canned_replies(load_transcripts(spark, sf_dir))


def q_canned_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation canned-reply share (conversation.canned_share):
    merge-hinted join against the corpus-derived reply inventory, ppm by
    truncating integer division."""
    return conversation.canned_share(load_transcripts(spark, sf_dir))


def q_loss_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT loss-mask spans over the rendered conversations
    (conversation.loss_mask_spans): one window, one Exchange."""
    return conversation.loss_mask_spans(load_transcripts(spark, sf_dir))


def q_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimates (aggregate.cms_build/estimate)
    for a bounded probe key set — fully oracle-exact because the sketch
    hashes with the engine-neutral md5-60 family (estimates are a
    deterministic function of the data in BOTH engines, collisions and
    all; no exact-regime argument needed)."""
    ev = load_table(spark, sf_dir, "events")
    sketch = agg.cms_build(ev, "user_id", hash_basis="md5")
    keys = (ev.where(F.col("user_id") < 25)
              .select(F.col("user_id").alias("key")).distinct())
    return agg.cms_estimate(sketch, keys, hash_basis="md5")


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson-bootstrap CI (operators/stats.bootstrap_ci)
    for mean text length per role — fully oracle-exact: per-(row,
    replicate) weights come from integer md5-60 thresholds, sums are
    exact BIGINT, and the only float op is one final division (identical
    IEEE double in both engines; CI bounds are order-only rank
    selection). One exploded two-phase aggregate (shuffle carries
    |roles| × B rows) + a window over that tiny relation."""
    from logstash_filter_geoip_spark.operators import stats
    t = (load_transcripts(spark, sf_dir)
         .withColumn("text_len", F.length("text"))
         .withColumn("rid", F.concat_ws(
             ":", F.col("conv_id"), F.col("turn_idx").cast("string"))))
    return stats.bootstrap_ci(t, ("role",), "text_len", "rid",
                              hash_basis="md5")


def q_bootstrap_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample bootstrap test (stats.bootstrap_ab): assistant-vs-user
    mean text length with a rank-selected CI of the difference — the
    scale-safe t-test replacement, bit-identical across engines (same
    machinery as bootstrap_ci)."""
    from logstash_filter_geoip_spark.operators import stats
    t = (load_transcripts(spark, sf_dir)
         .withColumn("text_len", F.length("text"))
         .withColumn("rid", F.concat_ws(
             ":", F.col("conv_id"), F.col("turn_idx").cast("string"))))
    return stats.bootstrap_ab(t, "role", "assistant", "user",
                              "text_len", "rid",
                              hash_basis="md5")


def q_failure_rate_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composition query: enrich (two broadcast-join legs) feeding the
    deterministic bootstrap — per-role FAILURE RATE with a CI (a mean of
    0/1 flags IS the rate; the stats.bootstrap_ci integer-value contract).
    The uncertainty layer over the pipeline's flagship metric, end-to-end
    oracle-exact."""
    from logstash_filter_geoip_spark.operators import stats
    e = enriched_transcripts(spark, sf_dir)
    t = (e.withColumn("fl", F.when(F.col("geoip_hit"), F.lit(0))
                             .otherwise(F.lit(1)).cast("long"))
          .withColumn("rid", F.concat_ws(
              ":", F.col("conv_id"), F.col("turn_idx").cast("string"))))
    return stats.bootstrap_ci(t, ("role",), "fl", "rid", hash_basis="md5")


def q_role_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition matrix over per-conversation role sequences
    (conversation.transition_counts) with <start>/<end> absorbing states —
    lag+lead in ONE window (the conv_id exchange is reused from the
    transcripts derivation), compiled array_compact+explode, then a tiny
    two-phase aggregate with the 1-row total broadcast back."""
    return conversation.transition_counts(load_transcripts(spark, sf_dir))


def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (aggregate.qsketch_build/quantiles) over
    per-turn text length by role — fully oracle-exact at ANY scale: the
    HdrHistogram-style log2 bucketing is pure integer arithmetic,
    bit-identical across Spark, DuckDB, and Python (no exact-regime
    argument needed, unlike HLL). Build is one two-phase hash aggregate
    whose shuffle carries ≤~2k buckets per role; the quantile fold never
    rescans the data."""
    t = (load_transcripts(spark, sf_dir)
         .withColumn("text_len", F.length("text")))
    sk = agg.qsketch_build(t, ("role",), "text_len")
    return agg.qsketch_quantiles(sk, ("role",))


def q_scd2_user_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD merge (operators/temporal.scd2_merge): the per-user
    profile dimension (event count + min event_type) as of the first half
    of the corpus, merged with the second-half snapshot at the cutover —
    changed users get a closed row + a new open row, unchanged survive
    open, first-half-only users close (deletion), second-half-only users
    open fresh. Attributes are integer/string only (the float-boundary
    hygiene rule)."""
    from logstash_filter_geoip_spark.operators.temporal import scd2_merge
    _pin_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit(_ASOF_CUTOVER).cast("timestamp")

    def snap(pred) -> DataFrame:
        return (ev.where(pred)
                  .groupBy("user_id")
                  .agg(F.count(F.lit(1)).alias("n_events"),
                       F.min("event_type").alias("first_type")))

    current = (snap(F.col("ts") < cut)
               .withColumn("valid_from",
                           F.lit(_ASOF_ERA1).cast("timestamp"))
               .withColumn("valid_to", F.lit(None).cast("timestamp")))
    updates = snap(F.col("ts") >= cut)
    return scd2_merge(current, updates, keys=["user_id"],
                      attrs=["n_events", "first_type"], as_of=_ASOF_CUTOVER)


def q_resample_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily resample with gap fill (operators/
    temporal.resample_fill): every day from each user's first to last
    active day — zero-filled counts, forward-filled bucket state."""
    _pin_utc(spark)
    from logstash_filter_geoip_spark.operators.temporal import resample_fill
    ev = load_table(spark, sf_dir, "events")
    return resample_fill(ev, ["user_id"], "ts", "event_type", unit="day")


def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type equi-depth (quantile-boundary) histogram
    (aggregate.equidepth_histogram) — the adaptive sibling of
    value_histogram; exact type-7 boundaries."""
    ev = load_table(spark, sf_dir, "events")
    return agg.equidepth_histogram(ev, ("event_type",), "value", n_buckets=8)


def q_salted_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-defused join (relational.salted_join): events (hot key:
    event_type, ~5 values over the whole corpus — the definition of a
    melted reducer) joined to the per-type stats dim with a 16-way salt;
    the result is provably the plain join (the oracle IS the plain join)."""
    from logstash_filter_geoip_spark.operators.relational import salted_join
    ev = load_table(spark, sf_dir, "events")
    dim = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("type_total"))
    out = salted_join(ev, dim, ["event_type"], salt_col="event_id",
                      n_salt=16)
    return out.select("event_id", "event_type", "type_total")


def q_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read CDC compaction (temporal.latest_by_key): the latest
    event per user under a TOTAL order (ts desc, event_id asc) —
    WindowGroupLimit prunes to local top-1 below the Exchange."""
    from logstash_filter_geoip_spark.operators.temporal import latest_by_key
    out = latest_by_key(load_table(spark, sf_dir, "events"), ["user_id"], "ts",
                        tie_break=("event_id",))
    return out.select("user_id", "event_id", "ts", "event_type")


def q_geo_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP over the enriched output: counts + distinct
    conversations at (country, city), (country), and grand-total levels,
    with ANSI GROUPING flags so enrich-miss NULLs stay distinguishable from
    subtotal rows."""
    e = enriched_transcripts(spark, sf_dir)
    base = e.select(
        F.col("geoip.geo.country_iso_code").alias("country_iso_code"),
        F.col("geoip.geo.city_name").alias("city_name"),
        "conv_id")
    return agg.rollup_counts(base, ("country_iso_code", "city_name"),
                             distinct_col="conv_id")


def q_geo_velocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Impossible-travel screen over the enriched output (operators/geo.
    geo_velocity): consecutive located turns of one conversation within 24h,
    flagged when the implied speed exceeds ~1000 km/h — pure-BIGINT
    millidegree cross-multiplication, bit-exact in both engines. Enrich
    misses do not break pairs (the previous LOCATED turn is the reference
    point); both violation classes are populated at sf0.01 (151 of 476)."""
    e = enriched_transcripts(spark, sf_dir)
    hits = e.select(
        "conv_id", "turn_idx", "ts",
        F.col("geoip.geo.location.lat").alias("lat"),
        F.col("geoip.geo.location.lon").alias("lon"),
        F.col("geoip.geo.city_name").alias("city_name"))
    return geo.geo_velocity(hits, carry=("city_name",))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        "parse_extract": q_parse_extract,
        "enrich_city": q_enrich_city,
        "enrich_asn": q_enrich_asn,
        "enrich_legacy_city": q_enrich_legacy_city,
        "enrich_isp": q_enrich_isp,
        "enrich_domain": q_enrich_domain,
        "enrich_enterprise": q_enrich_enterprise,
        "enrich_anonymous": q_enrich_anonymous,
        "enrich_country_v4": q_enrich_country_v4,
        "route_counts": q_route_counts,
        "geo_window_agg": q_geo_window_agg,
        "failure_by_sink": q_failure_by_sink,
        "miss_classes": q_miss_classes,
        "conv_rollup_salted": q_conv_rollup_salted,
        "top_convs": q_top_convs,
        "grok_parse": q_grok_parse,
        "conv_features": q_conv_features,
        "distinct_ips": q_distinct_ips,
        "enrich_country_v6": q_enrich_country_v6,
        "enrich_city_v6": q_enrich_city_v6,
        "enrich_city_from_csv": q_enrich_city_from_csv,
        "asof_tool_config": q_asof_tool_config,
        "enrich_asof_city": q_enrich_asof_city,
        "sessionize_stats": q_sessionize_stats,
        "session_window_native": q_session_window_native,
        "event_quantiles": q_event_quantiles,
        "role_tool_pivot": q_role_tool_pivot,
        "geo_rollup": q_geo_rollup,
        "geo_velocity": q_geo_velocity,
        "user_retention": q_user_retention,
        "event_funnel": q_event_funnel,
        "value_outliers": q_value_outliers,
        "rate_spikes": q_rate_spikes,
        "error_attribution": q_error_attribution,
        "rolling_counts": q_rolling_counts,
        "daily_rollup": q_daily_rollup,
        "scd2_user_profile": q_scd2_user_profile,
        "resample_fill": q_resample_fill,
        "value_histogram": q_value_histogram,
        "distinct_sketch_rollup": q_distinct_sketch_rollup,
        "cms_user_counts": q_cms_user_counts,
        "quantile_sketch": q_quantile_sketch,
        "role_transitions": q_role_transitions,
        "bootstrap_ci": q_bootstrap_ci,
        "bootstrap_ab": q_bootstrap_ab,
        "failure_rate_ci": q_failure_rate_ci,
        "sft_pairs": q_sft_pairs,
        "render_chat": q_render_chat,
        "chat_format_checks": q_chat_format_checks,
        "truncate_context": q_truncate_context,
        "tool_chains": q_tool_chains,
        "tool_latency": q_tool_latency,
        "error_runs": q_error_runs,
        "canned_replies": q_canned_replies,
        "canned_share": q_canned_share,
        "loss_mask": q_loss_mask,
        "latest_by_key": q_latest_by_key,
        "iqr_outliers": q_iqr_outliers,
        "equidepth_histogram": q_equidepth_histogram,
        "salted_join_counts": q_salted_join_counts,
    }
    if vendored_mmdb_path("City"):
        out["enrich_city_from_mmdb"] = q_enrich_city_from_mmdb
    out.update(dedup.queries())
    out.update(similarity.queries())
    out.update(text_ops.queries())
    out.update(multimodal.queries())
    out.update(curation.queries())
    out.update(packing.queries())
    out.update(bpe.queries())
    out.update(sampling.queries())
    out.update(relational.queries())
    out.update(dq.queries())
    out.update(semistructured.queries())
    out.update(retrieval.queries())
    out.update(entity.queries())
    out.update(layout.queries())
    out.update(web.queries())
    out.update(graph.queries())
    out.update(bloomjoin.queries())
    out.update(drift.queries())
    out.update(trending.queries())
    out.update(basket.queries())
    out.update(clustering.queries())
    out.update(hygiene.queries())
    return out


# ---------------------------------------------------------------------------
# Oracles
# ---------------------------------------------------------------------------


def oracle_sql() -> dict[str, str]:
    p = _oracle_prefix()
    out = {
        "parse_extract": p + """
SELECT conv_id, turn_idx, role, tool, ip_str, ip6_str, error_code, tool_mention
FROM parsed
""",
        "enrich_isp": p + """
SELECT conv_id, turn_idx,
       CASE WHEN hit THEN ip_val END AS ip,
       CASE WHEN hit THEN asn END AS asn,
       CASE WHEN hit THEN as_org END AS as_org,
       CASE WHEN hit THEN isp END AS isp,
       CASE WHEN hit THEN organization END AS organization,
       CASE WHEN hit THEN 0 ELSE 1 END AS is_failure
FROM isp_join
""",
        "enrich_domain": p + """
SELECT conv_id, turn_idx,
       CASE WHEN hit THEN domain END AS domain,
       CASE WHEN hit THEN 0 ELSE 1 END AS is_failure
FROM domain_join
""",
        "enrich_enterprise": p + """
SELECT conv_id, turn_idx,
       CASE WHEN hit THEN ip_val END AS ip,
       CASE WHEN hit THEN city_name END AS city_name,
       CASE WHEN hit THEN country_iso_code END AS country_iso_code,
       CASE WHEN hit THEN continent_name END AS continent_name,
       CASE WHEN hit AND country_iso_code IS NOT NULL AND region_code IS NOT NULL
            THEN country_iso_code || '-' || region_code END AS region_iso_code,
       CASE WHEN hit AND latitude IS NOT NULL AND longitude IS NOT NULL
            THEN latitude END AS lat,
       CASE WHEN hit AND latitude IS NOT NULL AND longitude IS NOT NULL
            THEN longitude END AS lon,
       CASE WHEN hit THEN 0 ELSE 1 END AS is_failure
FROM ent_join
""",
        "enrich_anonymous": p + """
SELECT conv_id, turn_idx,
       CASE WHEN hit THEN hosting_provider END AS hosting_provider,
       CASE WHEN hit THEN tor_exit_node END AS tor_exit_node,
       CASE WHEN hit THEN anonymous_vpn END AS anonymous_vpn,
       CASE WHEN hit THEN anonymous END AS anonymous,
       CASE WHEN hit THEN public_proxy END AS public_proxy,
       CASE WHEN hit THEN residential_proxy END AS residential_proxy,
       CASE WHEN hit THEN 0 ELSE 1 END AS is_failure
FROM anon_join
""",
        "enrich_country_v4": p + """
SELECT conv_id, turn_idx,
       CASE WHEN hit THEN ip_str END AS ip,
       CASE WHEN hit THEN country_iso_code END AS country_iso_code,
       CASE WHEN hit THEN country_name END AS country_name,
       CASE WHEN hit THEN continent_name END AS continent_name,
       CASE WHEN hit THEN 0 ELSE 1 END AS is_failure
FROM country_join
""",
        "enrich_city": p + """
SELECT conv_id, turn_idx,
       CASE WHEN hit THEN ip_val END AS ip,
       CASE WHEN hit THEN city_name END AS city_name,
       CASE WHEN hit THEN country_iso_code END AS country_iso_code,
       CASE WHEN hit AND country_iso_code IS NOT NULL AND region_code IS NOT NULL
            THEN country_iso_code || '-' || region_code END AS region_iso_code,
       CASE WHEN hit THEN postal_code END AS postal_code,
       CASE WHEN hit THEN timezone END AS timezone,
       CASE WHEN hit THEN dma_code END AS dma_code,
       CASE WHEN hit AND latitude IS NOT NULL AND longitude IS NOT NULL
            THEN latitude END AS lat,
       CASE WHEN hit AND latitude IS NOT NULL AND longitude IS NOT NULL
            THEN longitude END AS lon,
       CASE WHEN hit THEN 0 ELSE 1 END AS is_failure
FROM city_join
""",
        "enrich_asn": p + """
SELECT conv_id, turn_idx,
       CASE WHEN hit THEN ip_val END AS ip,
       CASE WHEN hit THEN asn END AS asn,
       CASE WHEN hit THEN as_org END AS as_org,
       CASE WHEN hit THEN 0 ELSE 1 END AS is_failure
FROM asn_join
""",
        "enrich_legacy_city": p + """
SELECT conv_id, turn_idx,
       CASE WHEN hit THEN ip_val END AS ip,
       CASE WHEN hit THEN city_name END AS city_name,
       CASE WHEN hit THEN country_iso_code END AS country_code2,
       CASE WHEN hit THEN country_iso_code END AS country_code3,
       CASE WHEN hit THEN region_code END AS region_code,
       CASE WHEN hit THEN latitude END AS latitude,
       CASE WHEN hit THEN longitude END AS longitude
FROM city_join
""",
        "route_counts": p + """
SELECT role, tool, count(*) AS n_rows FROM transcripts GROUP BY role, tool
""",
        # CAST(sum AS BIGINT): DuckDB types sum() as HUGEINT/DECIMAL while
        # Spark returns BIGINT — the r1 hash mismatches came from exactly
        # this (count(*)-only oracles all passed, the two sum() ones failed).
        "geo_window_agg": p + """
SELECT date_trunc('hour', ts) AS window_start,
       CASE WHEN hit THEN country_iso_code END AS country_iso_code,
       count(*) AS n_turns,
       CAST(sum(CASE WHEN hit THEN 0 ELSE 1 END) AS BIGINT) AS n_failures
FROM city_join GROUP BY 1, 2
""",
        "failure_by_sink": p + """
SELECT role, tool, count(*) AS n_turns,
       CAST(sum(CASE WHEN hit THEN 0 ELSE 1 END) AS BIGINT) AS n_failures
FROM city_join GROUP BY role, tool
""",
        "miss_classes": p + """
SELECT CASE WHEN hit THEN 'hit'
            WHEN ip_str IS NULL AND ip6_str IS NULL THEN 'absent'
            ELSE 'empty_obj' END AS miss_class,
       count(*) AS n
FROM city_join GROUP BY 1
""",
        "enrich_country_v6": p + """
SELECT conv_id, turn_idx,
       CASE WHEN hit THEN ip_val END AS ip,
       CASE WHEN hit THEN country_iso_code END AS country_iso_code,
       CASE WHEN hit THEN country_name END AS country_name,
       CASE WHEN hit THEN continent_name END AS continent_name,
       CASE WHEN hit THEN 0 ELSE 1 END AS is_failure
FROM country_u_join
""",
        "enrich_city_from_csv": p + f"""
, city4_join AS (
  SELECT k.*, d.*,
         (d.net_start IS NOT NULL
          AND NOT (d.latitude IS NULL AND d.longitude IS NULL)) AS hit4
  FROM keyed k LEFT JOIN {dim_values_sql('City')}
    ON k.ip4_u32 BETWEEN d.net_start AND d.net_end
)
SELECT conv_id, turn_idx,
       CASE WHEN hit4 THEN ip_str END AS ip,
       CASE WHEN hit4 THEN city_name END AS city_name,
       CASE WHEN hit4 THEN country_iso_code END AS country_iso_code,
       CASE WHEN hit4 AND country_iso_code IS NOT NULL AND region_code IS NOT NULL
            THEN country_iso_code || '-' || region_code END AS region_iso_code,
       CASE WHEN hit4 THEN postal_code END AS postal_code,
       CASE WHEN hit4 THEN dma_code END AS dma_code,
       CASE WHEN hit4 AND latitude IS NOT NULL AND longitude IS NOT NULL
            THEN latitude END AS lat,
       CASE WHEN hit4 AND latitude IS NOT NULL AND longitude IS NOT NULL
            THEN longitude END AS lon,
       hit4 AS hit
FROM city4_join
""",
        "enrich_city_v6": p + """
SELECT conv_id, turn_idx,
       CASE WHEN hit THEN ip_val END AS ip,
       CASE WHEN hit THEN continent_code END AS continent_code,
       CASE WHEN hit THEN country_iso_code END AS country_iso_code,
       CASE WHEN hit AND latitude IS NOT NULL AND longitude IS NOT NULL
            THEN latitude END AS lat,
       CASE WHEN hit AND latitude IS NOT NULL AND longitude IS NOT NULL
            THEN longitude END AS lon,
       hit
FROM city_join
WHERE ip_str IS NULL AND ip6_str IS NOT NULL
""",
        "conv_rollup_salted": p + """
SELECT conv_id, count(*) AS n_turns FROM transcripts GROUP BY conv_id
""",
        "top_convs": p + """
SELECT conv_id, count(*) AS n_turns FROM transcripts GROUP BY conv_id
ORDER BY n_turns DESC, conv_id ASC LIMIT 10
""",
        "grok_parse": p + f"""
SELECT conv_id, turn_idx,
       nullif(regexp_extract(text, '{GROK_REGEX}', 1), '') AS client_ip,
       nullif(regexp_extract(text, '{GROK_REGEX}', 2), '') AS err,
       nullif(regexp_extract(text, '{GROK_REGEX}', 3), '') AS tname
FROM transcripts
""",
        "conv_features": p + """
SELECT conv_id, turn_idx, role,
       lag(role) OVER w AS prev_role,
       lead(role) OVER w AS next_role,
       lag(tool) OVER w AS prev_tool,
       date_diff('microsecond', lag(ts) OVER w, ts) AS gap_us,
       count(*) OVER (PARTITION BY conv_id) AS conv_len,
       CAST(turn_idx = 0 AS INT) AS is_first
FROM transcripts WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
""",
        "distinct_ips": p + """
SELECT count(*) AS n_turns, count(ip_str) AS n_with_ip,
       count(DISTINCT ip_str) AS n_distinct_ips
FROM parsed
""",
        # the SQL mirror of operators/temporal.asof_join: snapshots →
        # half-open intervals via one LEAD window (same (ts, version)
        # tie-break), then a keyed LEFT JOIN with the interval residual
        "asof_tool_config": p + """
, s0 AS (
  SELECT tool, min(ts) AS mn, max(ts) AS mx FROM transcripts
  WHERE tool IS NOT NULL GROUP BY tool
), snaps AS (
  SELECT tool, mn AS cfg_from, 1 AS cfg_version FROM s0
  UNION ALL
  SELECT tool, mx AS cfg_from, 2 AS cfg_version FROM s0
), iv AS (
  SELECT tool, cfg_from, cfg_version,
         LEAD(cfg_from) OVER (PARTITION BY tool
                              ORDER BY cfg_from, cfg_version) AS valid_to
  FROM snaps
)
SELECT t.conv_id, t.turn_idx, t.tool, iv.cfg_version
FROM transcripts t
LEFT JOIN iv ON t.tool = iv.tool AND t.ts >= iv.cfg_from
            AND (iv.valid_to IS NULL OR t.ts < iv.valid_to)
""",
        "enrich_asof_city": p + _asof_city_sql(),
        # lag+running-sum sessionization — ROWS frame in both engines; the
        # boundary rule (gap STRICTLY > threshold starts a session) matches
        # Spark session_window's merge-on-touch
        "sessionize_stats": f"""
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                   > {_SESSION_GAP_S * 1_000_000}
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM flagged
)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx, count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end,
       (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS duration_s
FROM sess GROUP BY user_id, session_idx
""",
        "session_window_native": f"""
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                   > {_SESSION_GAP_S * 1_000_000}
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM flagged
)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL {_SESSION_GAP_S} SECOND AS session_end,
       count(*) AS n_events
FROM sess GROUP BY user_id, session_idx
""",
        # quantile_cont's type-7 linear interpolation == Spark percentile()
        "event_quantiles": """
SELECT event_type,
       quantile_cont(value, 0.5) AS q50,
       quantile_cont(value, 0.9) AS q90,
       quantile_cont(value, 0.99) AS q99,
       count(value) AS n_values
FROM events GROUP BY event_type
""",
        # chained window mins: step k+1's CASE references step k's min, so
        # a null (step never reached) propagates — identical in both engines
        "event_funnel": """
WITH s0 AS (
  SELECT user_id, ts, event_type,
         min(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id) AS t0
  FROM events
), s1 AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND ts >= t0 THEN ts END)
              OVER (PARTITION BY user_id) AS t1
  FROM s0
), s2 AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts >= t1 THEN ts END)
              OVER (PARTITION BY user_id) AS t2
  FROM s1
), pu AS (
  SELECT user_id, max(t0) AS t0, max(t1) AS t1, max(t2) AS t2
  FROM s2 GROUP BY user_id
)
SELECT 0 AS step_idx, 'view' AS step, count(t0) AS n_users FROM pu
UNION ALL
SELECT 1, 'click', count(t1) FROM pu
UNION ALL
SELECT 2, 'purchase', count(t2) FROM pu
""",
        # identical interval RANGE frames in both engines (peers-inclusive)
        "daily_rollup": """
SELECT CAST(ts AS DATE) AS day, event_type,
       count(*) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY 1, 2
""",
        "rolling_counts": """
SELECT event_id, user_id, ts,
       count(*) OVER (PARTITION BY user_id ORDER BY ts
                      RANGE BETWEEN INTERVAL 1 DAYS PRECEDING
                        AND CURRENT ROW) AS n_1d,
       count(*) OVER (PARTITION BY user_id ORDER BY ts
                      RANGE BETWEEN INTERVAL 7 DAYS PRECEDING
                        AND CURRENT ROW) AS n_7d
FROM events
""",
        # interval self-join on the parsed relation — the batch face of the
        # stream-stream attribution join (same column definition point)
        "error_attribution": p + """
SELECT e.conv_id, e.error_code, e.turn_idx AS err_turn, e.ts AS err_ts,
       t.tool, t.turn_idx AS tool_turn, t.ts AS tool_ts
FROM parsed e
JOIN parsed t
  ON e.conv_id = t.conv_id
 AND t.tool IS NOT NULL
 AND t.ts <= e.ts AND e.ts <= t.ts + INTERVAL '30 minutes'
WHERE e.error_code IS NOT NULL
""",
        # group stats then filter — identical two-pass semantics; z itself
        # is never emitted (float summation-order noise), only the verbatim
        # outlier rows, so the hash compares raw parquet values
        "value_outliers": """
WITH s AS (
  SELECT event_type, avg(value) AS mu, stddev_pop(value) AS sd
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value
FROM events e JOIN s USING (event_type)
WHERE abs(e.value - s.mu) > 3 * s.sd
""",
        # quantile_cont == Spark percentile (type-7, bit-identical); the
        # 1.5 literal is exact in binary; verbatim rows only (zscore rule)
        "iqr_outliers": """
WITH s AS (
  SELECT event_type, quantile_cont(value, 0.25) AS q1,
         quantile_cont(value, 0.75) AS q3
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value
FROM events e JOIN s USING (event_type)
WHERE e.value < s.q1 - 1.5 * (s.q3 - s.q1)
   OR e.value > s.q3 + 1.5 * (s.q3 - s.q1)
""",
        # integer-rational spike rule (4*n > 5*prev) — no float boundary
        "rate_spikes": """
WITH c AS (
  -- CAST: DuckDB date_trunc('day') yields DATE, Spark yields a timestamp
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_ts,
         count(*) AS n_events
  FROM events GROUP BY 1, 2
), l AS (
  SELECT *, lag(n_events) OVER (PARTITION BY event_type
                                ORDER BY bucket_ts) AS prev_events
  FROM c
)
SELECT event_type, bucket_ts, n_events, prev_events,
       CASE WHEN prev_events IS NULL THEN 0
            ELSE CAST(4 * n_events > 5 * prev_events AS INT) END AS is_spike
FROM l
""",
        # cohort = min week per user; count(*) == distinct users because the
        # act CTE already deduplicates (user, week) — mirrored in Spark
        "user_retention": """
WITH act AS (
  -- CAST: DuckDB's date_trunc('week') yields DATE; Spark's a TIMESTAMP
  SELECT DISTINCT user_id AS u,
         CAST(date_trunc('week', ts) AS TIMESTAMP) AS period FROM events
), coh AS (
  SELECT u, period, min(period) OVER (PARTITION BY u) AS cohort FROM act
)
SELECT cohort,
       CAST(date_diff('day', cohort, period) // 7 AS INTEGER) AS period_offset,
       count(*) AS n_active
FROM coh GROUP BY cohort, period_offset
""",
        # the SQL mirror of temporal.scd2_merge: one FULL JOIN of the open
        # rows against the snapshot, attr equality via IS NOT DISTINCT FROM
        # (eqNullSafe), three disjoint row classes unioned — closed-old,
        # surviving-open, new-open (at most 2 rows per key, like the
        # Spark side's bounded explode)
        "scd2_user_profile": f"""
WITH s1 AS (
  SELECT user_id, count(*) AS n_events, min(event_type) AS first_type
  FROM events WHERE ts < TIMESTAMP '{_ASOF_CUTOVER}' GROUP BY user_id
), s2 AS (
  SELECT user_id, count(*) AS n_events, min(event_type) AS first_type
  FROM events WHERE ts >= TIMESTAMP '{_ASOF_CUTOVER}' GROUP BY user_id
), j AS (
  SELECT c.user_id AS ck, u.user_id AS uk,
         c.n_events AS cn, c.first_type AS cf,
         u.n_events AS un, u.first_type AS uf,
         (c.n_events IS NOT DISTINCT FROM u.n_events AND
          c.first_type IS NOT DISTINCT FROM u.first_type) AS same
  FROM s1 c FULL JOIN s2 u ON c.user_id = u.user_id
)
SELECT ck AS user_id, cn AS n_events, cf AS first_type,
       TIMESTAMP '{_ASOF_ERA1}' AS valid_from,
       TIMESTAMP '{_ASOF_CUTOVER}' AS valid_to
FROM j WHERE ck IS NOT NULL AND (uk IS NULL OR NOT same)
UNION ALL
SELECT ck, cn, cf, TIMESTAMP '{_ASOF_ERA1}', CAST(NULL AS TIMESTAMP)
FROM j WHERE ck IS NOT NULL AND uk IS NOT NULL AND same
UNION ALL
SELECT uk, un, uf, TIMESTAMP '{_ASOF_CUTOVER}', CAST(NULL AS TIMESTAMP)
FROM j WHERE uk IS NOT NULL AND (ck IS NULL OR NOT same)
""",
        # grid = generate_series per key span (Spark: sequence+explode);
        # last_value IGNORE NULLS == Spark F.last(ignorenulls=True) over
        # the same running frame; CAST(date_trunc): DATE in DuckDB,
        # timestamp in Spark
        "resample_fill": """
WITH b AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_ts,
         count(*) AS n, max(event_type) AS top
  FROM events GROUP BY 1, 2
), span AS (
  SELECT user_id, min(bucket_ts) AS mn, max(bucket_ts) AS mx
  FROM b GROUP BY user_id
), grid AS (
  SELECT user_id,
         unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS bucket_ts
  FROM span
)
SELECT g.user_id, g.bucket_ts,
       CAST(COALESCE(b.n, 0) AS BIGINT) AS n_events,
       last_value(b.top IGNORE NULLS)
         OVER (PARTITION BY g.user_id ORDER BY g.bucket_ts
               ROWS UNBOUNDED PRECEDING) AS filled_state
FROM grid g LEFT JOIN b ON g.user_id = b.user_id
                       AND g.bucket_ts = b.bucket_ts
""",
        "equidepth_histogram": agg.equidepth_oracle_sql(
            "events", ("event_type",), "value", 8),
        # the salted join's oracle IS the plain join — salts are internal
        "salted_join_counts": """
WITH dim AS (
  SELECT event_type, count(*) AS type_total FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type, dim.type_total
FROM events e JOIN dim USING (event_type)
""",
        # row_number under the same total order (ts desc, event_id asc)
        "latest_by_key": """
SELECT user_id, event_id, ts, event_type FROM (
  SELECT user_id, event_id, ts, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id ASC) AS rn
  FROM events
) WHERE rn = 1
""",
        # the IDENTICAL floor/clamp double expression (see
        # aggregate.histogram_oracle_sql — single definition point)
        "value_histogram": agg.histogram_oracle_sql(
            "events", ("event_type",), "value", **_HIST),
        # exact mirror of the sketch rollup — valid because gate-scale
        # cardinality keeps the HLL sketch in its exact sparse regime
        # (see q_distinct_sketch_rollup; merge==direct==exact test-pinned)
        "distinct_sketch_rollup": """
SELECT event_type,
       count(DISTINCT date_trunc('day', ts)) AS n_buckets,
       count(DISTINCT user_id) AS distinct_est
FROM events GROUP BY event_type
""",
        "sft_pairs": p + conversation.sft_pairs_oracle_sql(),
        "render_chat": p + conversation.render_chat_oracle_sql(),
        "chat_format_checks": p + conversation.chat_format_checks_oracle_sql(),
        "truncate_context": p + conversation.truncate_context_oracle_sql(24),
        "tool_chains": p + conversation.tool_chains_oracle_sql(),
        "tool_latency": p + conversation.tool_latency_oracle_sql(),
        "error_runs": p + conversation.error_runs_oracle_sql(),
        "canned_replies": p + conversation.canned_replies_oracle_sql(),
        "canned_share": p + conversation.canned_share_oracle_sql(),
        "loss_mask": p + conversation.loss_mask_oracle_sql(),
        # bit-identical sketch: the md5-60 hash family is engine-neutral,
        # so DuckDB rebuilds the SAME counters and the SAME minima
        "cms_user_counts": agg.cms_oracle_sql(
            "events", "user_id",
            "SELECT DISTINCT user_id AS key FROM events WHERE user_id < 25"),
        # bit-identical sketch #2: log2 bucketing is integer arithmetic,
        # so DuckDB rebuilds the SAME buckets and the SAME rank selections
        "quantile_sketch": p
        + ", tl AS (SELECT role, length(text) AS text_len FROM transcripts)"
        + agg.qsketch_oracle_sql("tl", ("role",), "text_len", lead=","),
        "role_transitions": p + conversation.transition_counts_oracle_sql(),
        # bit-identical bootstrap: integer hash thresholds, BIGINT sums,
        # one shared final division — CI bounds are rank-selected, never
        # float-arithmetic'd
        "bootstrap_ci": p
        + (", tl AS (SELECT role, length(text) AS text_len, conv_id || ':'"
           " || CAST(turn_idx AS VARCHAR) AS rid FROM transcripts)")
        + _stats.bootstrap_ci_oracle_sql("tl", ("role",), "text_len",
                                         "rid", lead=","),
        "bootstrap_ab": p
        + (", tl AS (SELECT role, length(text) AS text_len, conv_id || ':'"
           " || CAST(turn_idx AS VARCHAR) AS rid FROM transcripts)")
        + _stats.bootstrap_ab_oracle_sql("tl", "role", "assistant", "user",
                                         "text_len", "rid", lead=","),
        # the enrich → bootstrap composition: same city_join CTE as
        # failure_by_sink, same bootstrap SQL as bootstrap_ci
        "failure_rate_ci": p
        + (", tl AS (SELECT role, CASE WHEN hit THEN 0 ELSE 1 END AS fl,"
           " conv_id || ':' || CAST(turn_idx AS VARCHAR) AS rid"
           " FROM city_join)")
        + _stats.bootstrap_ci_oracle_sql("tl", ("role",), "fl", "rid",
                                         lead=","),
        # the pivot as conditional aggregation; NULL tool counts in no bucket
        "role_tool_pivot": p + """
SELECT role,
       count(*) FILTER (WHERE tool = 'search') AS search,
       count(*) FILTER (WHERE tool = 'bash') AS bash,
       count(*) FILTER (WHERE tool = 'geoip') AS geoip
FROM transcripts GROUP BY role
""",
        "geo_rollup": p + """
, geo_base AS (
  SELECT CASE WHEN hit THEN country_iso_code END AS country_iso_code,
         CASE WHEN hit THEN city_name END AS city_name,
         conv_id
  FROM city_join
)
SELECT country_iso_code, city_name,
       count(*) AS n_rows,
       count(DISTINCT conv_id) AS n_distinct,
       CAST(GROUPING(country_iso_code) AS INTEGER) AS g_country_iso_code,
       CAST(GROUPING(city_name) AS INTEGER) AS g_city_name
FROM geo_base
GROUP BY ROLLUP (country_iso_code, city_name)
""",
        # impossible-travel: located pairs from the SAME city_join rows the
        # Spark query enriches with; the integer velocity arithmetic is
        # emitted by the one shared definition in operators/geo.py
        "geo_velocity": p + """
, v_hits AS (
  SELECT conv_id, turn_idx, ts, latitude AS lat, longitude AS lon, city_name
  FROM city_join
  WHERE hit AND latitude IS NOT NULL AND longitude IS NOT NULL
)""" + geo.velocity_oracle_cte("v_hits", carry=("city_name",)),
    }
    if vendored_mmdb_path("City"):
        out["enrich_city_from_mmdb"] = _mmdb_city_oracle(p)
    out.update(dedup.oracles())
    out.update(similarity.oracles())
    out.update(text_ops.oracles())
    out.update(multimodal.oracles())
    out.update(curation.oracles())
    out.update(packing.oracles())
    out.update(bpe.oracles())
    out.update(sampling.oracles())
    out.update(relational.oracles())
    out.update(dq.oracles())
    out.update(semistructured.oracles())
    out.update(retrieval.oracles())
    out.update(entity.oracles())
    out.update(layout.oracles())
    out.update(web.oracles())
    out.update(graph.oracles())
    out.update(bloomjoin.oracles())
    out.update(drift.oracles())
    out.update(trending.oracles())
    out.update(basket.oracles())
    out.update(clustering.oracles())
    out.update(hygiene.oracles(p))
    return out
