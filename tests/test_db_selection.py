"""Managed-vs-vendored selection (sources/manager.py) — the offline mirror of
spec/filters/geoip_online_spec.rb:74-110's two `it` blocks plus the
unprovisioned-manager edge the reference encodes in setup_filter(nil).

"event enrichment" here = the Milton golden probe resolving through whichever
database the selection picked (both the managed copy and the vendored file
contain the 216.160.83.56/29 record — same public data).
"""

from __future__ import annotations

import os
import shutil

import pytest

from logstash_filter_geoip_spark.config import GeoIPConfig
from logstash_filter_geoip_spark.operators.enrich import enrich
from logstash_filter_geoip_spark.sources.manager import (
    dim_provider_from_selection, select_database)

VENDORED_CITY = ("/root/reference/src/test/resources/maxmind-test-data/"
                 "GeoLite2-City-Test.mmdb")

# the MaxMind test databases ship with the reference plugin's source tree;
# without it the tests that read the vendored City file cannot run
needs_city_mmdb = pytest.mark.skipif(
    not os.path.exists(VENDORED_CITY),
    reason=f"{VENDORED_CITY} absent: reference MaxMind test data not present")


def _assert_enrichment(spark, sel):
    probes = spark.createDataFrame([("p", "216.160.83.58")], ["pid", "ip"])
    cfg = GeoIPConfig(source="ip", target="geoip", database="City",
                      ecs_compatibility=True)
    row = enrich(probes, sel.dim, cfg, dim_v6=sel.dim_v6).collect()[0]
    assert row["geoip"]["geo"]["city_name"] == "Milton"
    assert row["geoip"]["geo"]["region_iso_code"] == "US-WA"


@needs_city_mmdb
def test_uses_managed_database(spark, tmp_path):
    # online spec: the managed copy lives under the manager's data path and
    # last_db_path must point THERE, not at the vendored file
    managed = tmp_path / "managed" / "GeoLite2-City.mmdb"
    managed.parent.mkdir(parents=True)
    shutil.copy(VENDORED_CITY, managed)
    calls = []

    def manager(database):
        calls.append(database)
        return str(managed)

    sel = select_database(spark, "City", manager=manager)
    assert calls == ["City"]
    assert sel.kind == "managed" and sel.healthy
    assert sel.path is not None and sel.path.startswith(str(tmp_path))
    _assert_enrichment(spark, sel)


@needs_city_mmdb
def test_uses_plugin_vendored_database(spark):
    # online spec else-branch: no manager → the plugin-vendored file
    sel = select_database(spark, "City")
    assert sel.kind == "vendored" and sel.healthy
    assert sel.path is not None and "maxmind-test-data" in sel.path
    _assert_enrichment(spark, sel)


@needs_city_mmdb
def test_explicit_path_without_manager(spark, tmp_path):
    # geoip.rb:194: an explicitly configured `database` beats the vendored
    # default when no manager is present
    explicit = tmp_path / "mine.mmdb"
    shutil.copy(VENDORED_CITY, explicit)
    sel = select_database(spark, "City", explicit_path=str(explicit))
    assert sel.kind == "explicit" and sel.path == str(explicit)
    _assert_enrichment(spark, sel)


def test_unprovisioned_manager_is_unhealthy_not_vendored(spark):
    # setup_filter(nil): a manager that has no path yet makes the filter
    # UNHEALTHY (expired tagging) — it must NOT silently fall back to the
    # vendored file while subscribed to the manager
    sel = select_database(spark, "City", manager=lambda db: None)
    assert sel.kind == "managed" and not sel.healthy
    assert sel.path is None and sel.dim is None
    provider = dim_provider_from_selection(spark, "City",
                                           manager=lambda db: None)
    assert provider() is None  # run_stream then tags _geoip_expired_database


@needs_city_mmdb
def test_streaming_through_selection_hook(spark, tmp_path):
    """End-to-end: run_stream with dim_provider_from_selection — the
    manager serves a managed path for the first micro-batch, then expires
    (None); rows in later batches get the expired tag while earlier rows
    enriched through the managed copy (update_filter's :update/:expire
    actions landing per batch, geoip.rb:160-171)."""
    import os

    from pyspark.sql import functions as F
    from logstash_filter_geoip_spark.sources.transcripts import (
        load_transcripts)
    from logstash_filter_geoip_spark.streaming.pipeline import run_stream

    inp = str(tmp_path / "in_sel")
    out = str(tmp_path / "out_sel")
    ckpt = str(tmp_path / "ckpt_sel")
    load_transcripts(spark, "/root/testdata/sf0.001") \
        .repartition(8).write.mode("overwrite").parquet(inp)

    managed = tmp_path / "managed.mmdb"
    shutil.copy(VENDORED_CITY, managed)
    calls = {"n": 0}

    def manager(database):
        calls["n"] += 1
        return str(managed) if calls["n"] <= 1 else None  # then :expire

    provider = dim_provider_from_selection(spark, "City", manager=manager)
    q = run_stream(spark, inp, out, ckpt, provider)
    q.awaitTermination(300)
    routed = spark.read.parquet(os.path.join(out, "sinks"))
    assert calls["n"] >= 2, "expected multiple micro-batches"
    milton = routed.where(F.col("geoip.geo.city_name") == "Milton").count()
    expired = routed.where(
        F.array_contains("tags", "_geoip_expired_database")).count()
    assert milton > 0, "first batch should enrich through the managed copy"
    assert expired > 0, "post-expiry batches should carry the expired tag"


@needs_city_mmdb
def test_provider_reflects_manager_update_and_expire(spark, tmp_path):
    # update_filter(:update) then (:expire): the provider re-selects per
    # call, so a manager-side swap lands on the next micro-batch
    managed = tmp_path / "GeoLite2-City.mmdb"
    state = {"path": None}

    def manager(database):
        return state["path"]

    provider = dim_provider_from_selection(spark, "City", manager=manager)
    assert provider() is None                      # not yet provisioned
    shutil.copy(VENDORED_CITY, managed)
    state["path"] = str(managed)                   # :update
    dims = provider()
    assert dims is not None and dims[0].count() > 0
    state["path"] = None                           # :expire
    assert provider() is None
