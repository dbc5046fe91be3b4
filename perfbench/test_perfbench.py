"""Self-tests of the benchmark harness (no Spark session needed).

    python3 -m pytest perfbench/ -q
"""

from __future__ import annotations

import copy
import datetime as dt
import hashlib
import json
import os
import re
import sys
from types import SimpleNamespace

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads as W  # noqa: E402
from logstash_filter_geoip_spark.functions.ipkeys import (  # noqa: E402
    cidr_to_range, cidr_v6_to_range)
from logstash_filter_geoip_spark.sources.geolite2 import (  # noqa: E402
    CITY_SCHEMA, SCHEMAS_V6, check_v6_rows)

NAME = re.compile(r"[A-Za-z0-9_.-]+")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
SMALL = {
    "agg_long_v6": gen.GenSpec(n_turns=3_000, n_files=3, sentences_min=6,
                               sentences_max=11, n_dim4=2_000, n_dim6=500,
                               v6_share=0.5, multi=0.2),
    "write_short_hot": gen.GenSpec(n_turns=3_000, n_files=3, sentences_min=1,
                                   sentences_max=2, n_dim4=256, n_dim6=0,
                                   v6_share=0.0, multi=0.1, n_stream=400,
                                   stream_files=8, hot_rows=8),
}


def _tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            h.update(os.path.relpath(os.path.join(d, f), root).encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


@pytest.fixture(scope="module", params=sorted(SMALL))
def generated(request, tmp_path_factory):
    spec = SMALL[request.param]
    out = tmp_path_factory.mktemp(request.param)
    return request.param, spec, str(out), gen.generate(7, spec, str(out))


def test_generator_is_deterministic(generated, tmp_path):
    _, spec, first, truth = generated
    again = gen.generate(7, spec, str(tmp_path))
    assert again == truth
    assert _tree_digest(str(tmp_path)) == _tree_digest(first)
    other = gen.generate(8, spec, str(tmp_path / "other"))
    assert other["geo_window"] != truth["geo_window"]


def test_generated_dims_follow_the_engine_schemas(generated):
    _, spec, out, _ = generated
    dim4 = pq.read_table(os.path.join(out, "dim4"))
    assert dim4.column_names == [f.name for f in CITY_SCHEMA.fields]
    for r in dim4.slice(0, 50).to_pylist():
        assert cidr_to_range(r["network"]) == (r["net_start"], r["net_end"])
    if spec.n_dim6:
        dim6 = pq.read_table(os.path.join(out, "dim6"))
        assert dim6.column_names == [f.name for f in SCHEMAS_V6["City"].fields]
        rows = dim6.to_pylist()
        for r in rows[:50]:
            assert cidr_v6_to_range(r["network"]) == (
                r["start_hi"], r["start_lo"], r["end_hi"], r["end_lo"])
        # the driver-side part of validate_dim_v6
        check_v6_rows([(r["network"], r["start_hi"], None, r["end_hi"]) for r in rows],
                      "generated")
        assert len({r["network"] for r in rows}) == len(rows)


def test_truth_covers_every_turn_and_every_miss_class(generated):
    _, spec, _, truth = generated
    assert sum(n for *_, n, _ in truth["geo_window"]) == spec.n_turns
    assert sum(truth["routed_rows"].values()) == spec.n_turns
    failed = sum(f for *_, f in truth["failures_per_sink"])
    expected = sum(gen.MISS_SHARES)
    assert abs(failed / spec.n_turns - expected) < 0.03
    if spec.n_stream:
        assert sum(n for n, _ in truth["stream_roles"].values()) == spec.n_stream


def _agg_outcome(truth: dict) -> dict:
    """What a correct agg_long_v6 job collects, rebuilt from the truth."""
    utc = dt.timezone.utc
    return {
        "geo": [{"window_start": dt.datetime.fromtimestamp(w, utc),
                 "country_iso_code": c, "n_turns": n, "n_failures": f}
                for w, c, n, f in truth["geo_window"]],
        "sinks": [{"role": r, "tool": t, "n_turns": n, "n_failures": f}
                  for r, t, n, f in truth["failures_per_sink"]],
    }


def _write_outcome(truth: dict) -> dict:
    manifest = {"sink_counts": dict(truth["routed_rows"]),
                "total_rows": truth["n_turns"], "written_at": 1.0}
    return {"manifest": manifest, "resumed": dict(manifest)}


def test_check_fails_when_one_expected_count_is_perturbed(generated):
    name, _, _, truth = generated
    wl = W.WORKLOADS[name]
    outcome = _agg_outcome(truth) if name == "agg_long_v6" else _write_outcome(truth)
    good = W.Run(1.0, 1.0, outcome, resume_s=1.0)
    assert wl.check(good, truth) == []

    bad = copy.deepcopy(truth)
    if name == "agg_long_v6":
        bad["geo_window"][len(bad["geo_window"]) // 2][2] += 1
    else:
        key = sorted(bad["routed_rows"])[0]
        bad["routed_rows"][key] -= 1
    assert wl.check(good, bad)

    if truth.get("stream_roles"):
        roles = copy.deepcopy(truth["stream_roles"])
        assert wl.check_stream(roles, truth) == []
        roles["user"][1] += 1
        assert wl.check_stream(roles, truth)


def test_metric_names_and_units():
    fake = SimpleNamespace(spec=SMALL["agg_long_v6"], min_jobs=3)
    runs = [W.Run(2.0 + k / 10, 3.0, {}, resume_s=0.5) for k in range(4)]
    m = {"runs": runs, "peak_rss_mb": 900.0, "drains": []}
    metrics, _ = run.end_to_end(fake, m, [9.0, 4.0, 4.2])
    assert set(metrics) == set(run.END_TO_END)
    for table in (metrics, {k: {"unit": u} for k, u in tracing.PER_LAYER.items()}):
        for name, v in table.items():
            assert NAME.fullmatch(name) and len(name) <= 64, name
            assert UNIT.fullmatch(v["unit"]), (name, v["unit"])
    assert not set(run.END_TO_END) & set(tracing.PER_LAYER)


def test_benchmark_json_declares_what_the_harness_emits():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(W.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == tracing.PER_LAYER


def test_tail_percentile():
    xs = [float(k) for k in range(1, 9)]          # 8 samples
    assert run.tail(xs) == (6.0, 75)              # two beyond it
    assert run.tail([3.0, 1.0, 2.0]) == (2.0, 50)  # too few: the median
