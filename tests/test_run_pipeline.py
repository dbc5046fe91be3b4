"""scripts/run_pipeline.py, the spark-submit job: its body routes with
per-sink parity, and its parse → enrich is pipeline.enriched_transcripts —
the default dims every batch and stream caller uses, and the v4-only
enrich path for parse's `ip_str` source (no ArrowEvalPython)."""

from __future__ import annotations

import importlib.util
import os

from logstash_filter_geoip_spark.plans import checks
from tests.conftest import SF_SMOKE

_SCRIPT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "scripts", "run_pipeline.py")


def _job():
    spec = importlib.util.spec_from_file_location("run_pipeline", _SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_job_body_routes_with_parity_and_plans_no_arrow(spark, tmp_path):
    job = _job()
    args = job.parse_args(["--input", SF_SMOKE,
                           "--output", str(tmp_path / "out")])
    enriched, summary = job.run(spark, args)
    assert summary["routing_parity_ok"]
    assert checks.physical_plan(enriched).count("ArrowEvalPython") == 0
