"""The declared target type (operators.enrich._target_type, a pure-Python
walk typed by fields.FieldSpec.dtype) equals the type enrich() builds, for
every database, ECS on and off, the default fields and each single field the
database's dim carries. The expired path casts its NULL target to the
declared type, so a sink keeps one schema across an expiry only if the two
agree. An ECS field list with no ECS name (COUNTRY_CODE3 alone) would build an
empty struct<> target, which config rejects at register time."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from logstash_filter_geoip_spark.config import ConfigurationError, GeoIPConfig
from logstash_filter_geoip_spark.fields import (FIELD_BY_NAME, FIELDS,
                                                SCHEMA_DATABASES)
from logstash_filter_geoip_spark.operators.enrich import _target_type, enrich
from logstash_filter_geoip_spark.sources.geolite2 import SCHEMAS, vendored_dims

# dim columns of the fields that derive their value (no single dim_column)
_NEEDS = {"IP": (), "REGION_ISO_CODE": ("country_iso_code", "region_code"),
          "LOCATION": ("latitude", "longitude")}


def _carried(database: str) -> list[str]:
    cols = set(SCHEMAS[database].fieldNames())
    return [f.name for f in FIELDS
            if set(_NEEDS.get(f.name, (f.dim_column,))) <= cols]


@pytest.mark.parametrize("ecs", [True, False])
@pytest.mark.parametrize("database", sorted(SCHEMA_DATABASES))
def test_declared_type_equals_built_type(spark, database, ecs):
    dim, dim_v6 = vendored_dims(spark, database)
    df = spark.createDataFrame(
        [("8.8.8.8",)], T.StructType([T.StructField("ip", T.StringType())]))
    mismatches = []
    for fields in [None] + [[name] for name in _carried(database)]:
        if ecs and fields and not FIELD_BY_NAME[fields[0]].ecs_path:
            # no ECS name: the target would be struct<>, so config rejects it
            with pytest.raises(ConfigurationError, match="no ECS name"):
                GeoIPConfig(source="ip", target="geoip", database=database,
                            ecs_compatibility=ecs, fields=fields)
            continue
        cfg = GeoIPConfig(source="ip", target="geoip", database=database,
                          ecs_compatibility=ecs, fields=fields)
        built = enrich(df, dim, cfg, dim_v6=dim_v6).schema["geoip"].dataType
        declared = _target_type(cfg)
        if declared.simpleString() != built.simpleString():
            mismatches.append((fields, declared.simpleString(),
                               built.simpleString()))
    assert not mismatches, mismatches
