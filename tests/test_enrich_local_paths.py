"""Enrich keeps Python off the per-query path where no result depends on it:

  * parse's `ip_str` is IPv4-regex output (never a ':'), so `enrich_batch`
    and `run_stream` over it take enrich's v4-only path — no ArrowEvalPython
    — with values identical to the unified (v6-capable) path;
  * the v6 `index`-mode build side and the vendored default dims are
    Arrow-created local relations (LocalTableScan), never a pickled-row
    `Scan ExistingRDD` that each query re-runs as a job of its own.
"""

from __future__ import annotations

import datetime
import os

import pytest

from logstash_filter_geoip_spark.config import GeoIPConfig
from logstash_filter_geoip_spark.functions.parse import (parse_transcripts,
                                                         source_may_contain_v6)
from logstash_filter_geoip_spark.operators.enrich import _index_dim_v6, enrich
from logstash_filter_geoip_spark.pipeline import enriched_transcripts
from logstash_filter_geoip_spark.plans import checks
from logstash_filter_geoip_spark.sources import geolite2
from logstash_filter_geoip_spark.sources.geolite2 import (SCHEMAS, SCHEMAS_V6,
                                                          load_dim,
                                                          load_dim_v6)
from logstash_filter_geoip_spark.streaming.pipeline import (TRANSCRIPT_SCHEMA,
                                                            enrich_batch,
                                                            run_stream)
from tests.conftest import SF_SMOKE

CFG = GeoIPConfig(source="ip_str", target="geoip", database="City",
                  ecs_compatibility=True)

TEXTS = [
    "lookup 216.160.83.58 please",             # valid v4, golden hit
    "bad octet 999.1.1.1 here",                # invalid octet → {} miss
    "   ",                                     # blank → absent
    "no address in this turn",                 # no IP → absent
    "from 2a02:d5c0::1 via 8.8.8.8 today",     # v6 literal plus a v4
]


def _batch(spark):
    ts = datetime.datetime(2024, 1, 1, 12, 0)
    rows = [(f"c{i % 2}", i, "user" if i % 2 else "assistant", t, "search", ts)
            for i, t in enumerate(TEXTS)]
    return spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)


def _rows(df):
    cols = sorted(df.columns)
    return sorted(map(tuple, df.select(*cols).collect()),
                  key=lambda r: r[cols.index("turn_idx")])


def test_only_ip_str_is_v4_only():
    assert not source_may_contain_v6("ip_str")
    for source in ("ip_any", "ip6_str", "ip", "client.ip"):
        assert source_may_contain_v6(source)


def test_enrich_batch_ip_str_plans_no_arrow(spark):
    batch = _batch(spark)
    dim = load_dim(spark, "City")
    fast = enrich_batch(batch, dim, CFG)
    unified = enrich(parse_transcripts(batch), dim, CFG,
                     source_may_contain_v6=True)
    assert "ArrowEvalPython" not in checks.physical_plan(fast)
    assert "ArrowEvalPython" in checks.physical_plan(unified)
    assert _rows(fast) == _rows(unified)
    by_idx = {r["turn_idx"]: r for r in fast.collect()}
    assert by_idx[0]["geoip"]["geo"]["city_name"] == "Milton"
    assert by_idx[1]["geoip"] is not None and not by_idx[1]["geoip_hit"]
    assert by_idx[2]["geoip"] is None and by_idx[3]["geoip"] is None
    assert by_idx[4]["ip_str"] == "8.8.8.8"


def test_enriched_transcripts_ip_str_plans_no_arrow(spark):
    plan = checks.physical_plan(
        enriched_transcripts(spark, SF_SMOKE, config=CFG))
    assert "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_run_stream_ip_str_matches_unified(spark, tmp_path):
    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    batch = _batch(spark)
    batch.repartition(2).write.parquet(inp)
    dim = load_dim(spark, "City")
    q = run_stream(spark, inp, out, ckpt, lambda: (dim, None), CFG)
    q.awaitTermination(300)
    assert q.exception() is None
    sink = spark.read.parquet(os.path.join(out, "sinks"))
    unified = enrich(parse_transcripts(batch), dim, CFG,
                     source_may_contain_v6=True)
    assert _rows(sink) == _rows(unified)


def test_index_build_side_is_local_relation(spark):
    _, build = _index_dim_v6(load_dim_v6(spark, "City"))
    plan = checks.physical_plan(build)
    assert "LocalTableScan" in plan, plan[:2000]
    assert "ExistingRDD" not in plan, plan[:2000]
    # sorted by (start_hi, start_lo), positions 0..n-1
    rows = build.collect()
    assert [r["dim_idx6"] for r in rows] == list(range(len(rows)))
    keys = [(r["__dim6_start_hi"], r["__dim6_start_lo"]) for r in rows]
    assert keys == sorted(keys)


@pytest.mark.parametrize("database", sorted(SCHEMAS))
def test_vendored_dims_are_local_relations(spark, database):
    rows4, rows6 = geolite2.dim_rows(database)
    dim, dim_v6 = geolite2.vendored_dims(spark, database)
    for df, rows, schema in ((dim, rows4, SCHEMAS[database]),
                             (dim_v6, rows6, SCHEMAS_V6[database])):
        plan = checks.physical_plan(df)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
        assert df.schema == schema
        assert df.collect() == spark.createDataFrame(list(rows), schema).collect()
