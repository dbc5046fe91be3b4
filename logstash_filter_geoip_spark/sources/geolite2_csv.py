"""GeoLite2 CSV ingestion: build dimension tables from MaxMind's published
CSV layout (the downloadable companion of the .mmdb the reference vendors).

Public GeoLite2-City-CSV layout (column names are MaxMind's documented
schema):
  * Blocks-IPv4: network, geoname_id, registered_country_geoname_id, ...,
    postal_code, latitude, longitude, ...
  * Locations-en: geoname_id, continent_code, continent_name,
    country_iso_code, country_name, subdivision_1_iso_code,
    subdivision_1_name, city_name, metro_code, time_zone, ...
GeoLite2-ASN-CSV Blocks-IPv4: network, autonomous_system_number,
autonomous_system_organization.

The CIDR→[net_start, net_end] expansion runs as an Arrow-vectorized pandas
UDF over the (small) dimension table — never over the fact side — so a full
GeoLite2 dump (~4M blocks) expands in one distributed pass instead of a
driver loop.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.ipkeys import cidr_to_range


@F.pandas_udf(T.StructType([
    T.StructField("net_start", T.LongType()),
    T.StructField("net_end", T.LongType()),
]))
def cidr_bounds(network: pd.Series) -> pd.DataFrame:
    """Vectorized CIDR→inclusive uint32 bounds through the one v4 CIDR
    parser (ipkeys.cidr_to_range); malformed or non-v4 rows → nulls
    (quarantined downstream by split_malformed, never thrown)."""
    starts, ends = [], []
    for v in network:
        try:
            s, e = cidr_to_range(v)
        except (ValueError, TypeError):
            s = e = None
        starts.append(s)
        ends.append(e)
    # CLAUDE.md Int64 rule: a batch mixing ints and None coerces to float64
    # (53-bit mantissa) — harmless for uint32 today, silent corruption the
    # moment this is extended to 64-bit bounds
    return pd.DataFrame({"net_start": pd.array(starts, dtype="Int64"),
                         "net_end": pd.array(ends, dtype="Int64")})


def load_city_csv(spark: SparkSession, blocks_path: str,
                  locations_path: str) -> DataFrame:
    """GeoLite2-City CSVs → our CITY_SCHEMA dimension DataFrame.

    The blocks↔locations join is a broadcast hash join on geoname_id (the
    locations table is ~120k rows — tiny next to the blocks)."""
    blocks = (spark.read.option("header", True).csv(blocks_path)
              .withColumn("__b", cidr_bounds(F.col("network"))))
    locs = spark.read.option("header", True).csv(locations_path)
    joined = blocks.join(F.broadcast(locs), "geoname_id", "left")
    return joined.select(
        F.col("network"),
        F.col("__b.net_start").alias("net_start"),
        F.col("__b.net_end").alias("net_end"),
        F.col("city_name"),
        F.col("continent_code"),
        F.col("continent_name"),
        F.col("country_name"),
        F.col("country_iso_code"),
        F.col("postal_code"),
        F.col("metro_code").cast("long").alias("dma_code"),
        F.col("subdivision_1_name").alias("region_name"),
        F.col("subdivision_1_iso_code").alias("region_code"),
        F.col("time_zone").alias("timezone"),
        F.col("latitude").cast("double"),
        F.col("longitude").cast("double"),
    )


def write_golden_city_csv(path: str) -> tuple[str, str]:
    """Write the golden City dimension rows in MaxMind's published
    GeoLite2-City-CSV layout (Blocks-IPv4 + Locations-en) — the fixture for
    exercising the CSV ingestion path end-to-end against the same oracle as
    the in-memory dim. Returns (blocks_path, locations_path)."""
    import csv
    import os

    from .geolite2 import GOLDEN_CITY_ROWS

    blocks_path = os.path.join(path, "GeoLite2-City-Blocks-IPv4.csv")
    locs_path = os.path.join(path, "GeoLite2-City-Locations-en.csv")

    def cell(v):
        return "" if v is None else v

    with open(blocks_path, "w", newline="") as fb, \
            open(locs_path, "w", newline="") as fl:
        wb, wl = csv.writer(fb), csv.writer(fl)
        wb.writerow(["network", "geoname_id", "postal_code",
                     "latitude", "longitude"])
        wl.writerow(["geoname_id", "continent_code", "continent_name",
                     "country_iso_code", "country_name",
                     "subdivision_1_iso_code", "subdivision_1_name",
                     "city_name", "metro_code", "time_zone"])
        for i, r in enumerate(GOLDEN_CITY_ROWS):
            (network, _s, _e, city, ccode, cname, country, iso, postal,
             dma, rname, rcode, tz, lat, lon) = r
            wb.writerow([network, i, cell(postal), cell(lat), cell(lon)])
            wl.writerow([i, cell(ccode), cell(cname), cell(iso),
                         cell(country), cell(rcode), cell(rname),
                         cell(city), cell(dma), cell(tz)])
    return blocks_path, locs_path


def load_asn_csv(spark: SparkSession, blocks_path: str) -> DataFrame:
    """GeoLite2-ASN Blocks-IPv4 CSV → our ASN_SCHEMA dimension DataFrame."""
    blocks = (spark.read.option("header", True).csv(blocks_path)
              .withColumn("__b", cidr_bounds(F.col("network"))))
    return blocks.select(
        "network",
        F.col("__b.net_start").alias("net_start"),
        F.col("__b.net_end").alias("net_end"),
        F.col("autonomous_system_number").cast("long").alias("asn"),
        F.col("autonomous_system_organization").alias("as_org"),
    )
