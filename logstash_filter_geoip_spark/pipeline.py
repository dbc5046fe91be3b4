"""End-to-end parse → enrich → route → aggregate composition.

This is the engine's public API; __spark_entry__.py and bench.py call
through here. The whole flow is one declarative DataFrame DAG — Catalyst
sees scan→project→broadcast-join→project→aggregate and compiles it into two
whole-stage-codegen spans separated only by the aggregate shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .config import GeoIPConfig
from .functions.parse import parse_transcripts, source_may_contain_v6
from .operators import aggregate as agg
from .operators.enrich import enrich
from .sources.geolite2 import default_dims, validate_dim
from .sources.transcripts import load_transcripts


def enriched_transcripts(spark: SparkSession, sf_dir: str,
                         config: GeoIPConfig | None = None) -> DataFrame:
    """transcripts → parse → enrich (the first half of the pipeline).

    The default source is the family-agnostic `ip_any` with both the v4 and
    v6 City dims attached — one enrich stage handles either IP family,
    exactly like the reference's single filter (GeoIPFilter.java:172). The
    dims are geolite2.default_dims, the same pair the stream resolves: the
    FULL vendored-database ingestion (the `.mmdb` file IS the default DB,
    geoip.rb:187-199 — geolite2.dim_rows), golden rows only when no file is
    present.
    """
    config = config or GeoIPConfig(source="ip_any", target="geoip",
                                   database="City", ecs_compatibility=True)
    t = load_transcripts(spark, sf_dir)
    parsed = parse_transcripts(t)
    dim, dim_v6 = default_dims(spark, config)
    validate_dim(dim)
    return enrich(parsed, dim, config, dim_v6=dim_v6,
                  source_may_contain_v6=source_may_contain_v6(config.source))


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 flagship: turns per country per hour + failure counts (SURVEY §7.2)."""
    e = enriched_transcripts(spark, sf_dir)
    return agg.turns_per_geo_window(
        e, country_col="geoip.geo.country_iso_code"
    ).orderBy("window_start", "country_iso_code")
