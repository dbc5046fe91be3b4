"""Both engines read a type's default dimension rows through one resolver,
`geolite2.dim_rows`: Spark builds the default dims from it (vendored_dims)
and the DuckDB oracle emits the same rows (dim_values_sql). Without the
vendored .mmdb tree the resolver returns the golden rows, so here it is
swapped for golden rows whose city names carry a " (v)" suffix — a stand-in
for a vendored extraction — and both engines must probe the swapped rows."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from logstash_filter_geoip_spark.sources import geolite2
from tests.conftest import SF_SMOKE
from tests.test_oracle_parity import _duck, _norm

SUFFIX = " (v)"


def _tag(rows: list, schema) -> list:
    names = schema.fieldNames()
    if "city_name" not in names:
        return rows
    i = names.index("city_name")
    return [r[:i] + (None if r[i] is None else r[i] + SUFFIX,) + r[i + 1:]
            for r in rows]


def _vendored_stand_in(database: str) -> tuple[list, list]:
    return (_tag(geolite2.GOLDEN_ROWS[database], geolite2.SCHEMAS[database]),
            _tag(geolite2.GOLDEN_ROWS_V6[database],
                 geolite2.SCHEMAS_V6[database]))


@pytest.mark.parametrize("name", ["enrich_city", "enrich_asof_city"])
def test_both_engines_probe_dim_rows(spark, monkeypatch, name):
    monkeypatch.setattr(geolite2, "dim_rows", _vendored_stand_in)
    df = entrymod.queries()[name](spark, SF_SMOKE)
    rows = [tuple(r) for r in df.collect()]
    res = _duck(SF_SMOKE).execute(entrymod.oracle_sql()[name])
    duck_cols = [d[0] for d in res.description]
    assert sorted(df.columns) == sorted(duck_cols)
    assert _norm(rows, df.columns) == _norm(res.fetchall(), duck_cols)
    # neither engine fell back to the golden rows
    cities = [r[df.columns.index("city_name")] for r in rows]
    named = [c for c in cities if c is not None]
    assert named and all(SUFFIX in c for c in named), sorted(set(named))
