"""Registry + config parity tests (FieldTest.java, DatabaseTest.java,
geoip_ecs_spec.rb target matrix)."""

from __future__ import annotations

import pytest

from logstash_filter_geoip_spark import fields as flds
from logstash_filter_geoip_spark.config import ConfigurationError, GeoIPConfig


def test_28_fields():
    assert len(flds.FIELDS) == 28


@pytest.mark.parametrize("name,ecs,legacy", [
    ("AUTONOMOUS_SYSTEM_NUMBER", "as.number", "asn"),
    ("COUNTRY_CODE2", "geo.country_iso_code", "country_code2"),
    ("COUNTRY_CODE3", "", "country_code3"),
    ("LATITUDE", "geo.location.lat", "latitude"),
    ("NETWORK", "ip_traits.network", "network"),
    ("RESIDENTIAL_PROXY", "ip_traits.residential_proxy", "residential_proxy"),
])
def test_field_names(name, ecs, legacy):
    # parity: Field.java:28-55 / FieldTest.java:27-56
    spec = flds.FIELD_BY_NAME[name]
    assert spec.ecs_path == ecs and spec.legacy_name == legacy


def test_parse_field_case_insensitive():
    # parity: Field.parseField, FieldTest.java:13-24
    assert flds.parse_field("city_NAME").name == "CITY_NAME"
    with pytest.raises(ValueError, match="illegal field value nope"):
        flds.parse_field("nope")


def test_normalize_fragment():
    # parity: FieldTest.java:58-64
    assert flds.normalize_field_reference_fragment("geo.location.lat") \
        == "[geo][location][lat]"


@pytest.mark.parametrize("db,n", [
    ("City", 14), ("Country", 4), ("Domain", 1), ("ASN", 3), ("ISP", 5),
    ("Anonymous-IP", 6), ("Enterprise", 8),
])
def test_default_field_counts(db, n):
    # parity: Database.java:9-88 / DatabaseTest.java:34-127
    assert len(flds.DATABASE_DEFAULTS[db]) == n


def test_city_legacy_region_code_swap():
    # parity: GeoIPFilter.java:128-146
    ecs = flds.default_fields("City", ecs=True)
    legacy = flds.default_fields("City", ecs=False)
    assert "REGION_ISO_CODE" in ecs and "REGION_ISO_CODE" not in legacy
    assert "REGION_CODE" in legacy and "REGION_CODE" not in ecs


@pytest.mark.parametrize("type_str,expected", [
    ("GeoLite2-City", "City"), ("GeoIP2-City-Africa", "City"),
    ("GeoLite2-Country", "Country"), ("GeoIP2-Domain", "Domain"),
    ("GeoLite2-ASN", "ASN"), ("GeoIP2-ISP", "ISP"),
    ("Enterprise", "Enterprise"), ("GeoIP2-Anonymous-IP", "Anonymous-IP"),
    ("something-else", "Unknown"),
])
def test_database_sniff(type_str, expected):
    # parity: Database.fromDatabaseType / DatabaseTest.java:146-162
    assert flds.database_from_type_string(type_str) == expected


# --- target resolution matrix (geoip.rb:129-145, geoip_ecs_spec.rb:166-280) ---

def test_legacy_default_target():
    assert GeoIPConfig(ecs_compatibility=False).target == "geoip"


def test_ecs_auto_derive_from_source():
    assert GeoIPConfig(source="client.ip").target == "client"
    assert GeoIPConfig(source="[host][ip]").target == "host"


def test_ecs_underivable_target_errors():
    with pytest.raises(ConfigurationError):
        GeoIPConfig(source="ip_str", target=None, ecs_compatibility=True)


def test_ecs_noncanonical_target_warns():
    with pytest.warns(UserWarning):
        GeoIPConfig(source="ip_str", target="geo_custom")


def test_unknown_database_errors():
    with pytest.raises(ConfigurationError):
        GeoIPConfig(target="geoip", database="Bogus")


def test_default_database_type_selection():
    # parity: geoip.rb:46,187-199 — no explicit database → vendored default
    assert GeoIPConfig(target="geoip").database == "City"
    assert GeoIPConfig(target="geoip", default_database_type="ASN").database == "ASN"
    assert GeoIPConfig(target="geoip", database="Domain",
                       default_database_type="ASN").database == "Domain"


def test_bad_fields_error_at_register_time():
    with pytest.raises(ValueError, match="illegal field value"):
        GeoIPConfig(target="geoip", fields=["city_name", "wat"])


def test_ecs_fields_without_ecs_name_error_at_register_time():
    # COUNTRY_CODE3 has no ECS name: alone it would build an empty struct<>
    # target (unwritable to parquet), so ECS mode rejects it; legacy mode
    # and a list with at least one ECS-named field still register
    with pytest.raises(ConfigurationError, match="COUNTRY_CODE3"):
        GeoIPConfig(target="geoip", fields=["country_code3"])
    GeoIPConfig(target="geoip", fields=["country_code3"],
                ecs_compatibility=False)
    GeoIPConfig(target="geoip", fields=["country_code3", "city_name"])
