"""The benchmark workloads: set-up, one timed job, and the check of
its output against the generator's ground truth.

Engine functions are always called through their module (``parse.``,
``enrich.`` ...) so that the traced run can wrap them from outside. A Spark
action that workload code issues itself goes through ``act(layer, fn)``;
untraced it just calls ``fn``, traced it opens a span and a Spark job group
for ``layer``.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import functions as F

from gen import GenSpec
from hostmon import engine_cpu_s, host_steal_s
from logstash_filter_geoip_spark import session
from logstash_filter_geoip_spark.config import DEFAULT_TAG_ON_FAILURE, GeoIPConfig
from logstash_filter_geoip_spark.functions import parse
from logstash_filter_geoip_spark.operators import aggregate, enrich, route
from logstash_filter_geoip_spark.sources import geolite2
from logstash_filter_geoip_spark.streaming import pipeline

COUNTRY_COL = "geoip.geo.country_iso_code"
FAILURE_TAG = DEFAULT_TAG_ON_FAILURE[0]


def untraced(layer: str, fn):
    return fn()


@dataclass
class Inputs:
    """Paths of one generated input set."""
    root: str

    def path(self, name: str) -> str:
        """name: transcripts | warmup | stream | dim4 | dim6"""
        return os.path.join(self.root, name)


@dataclass
class Engine:
    """A started session with its loaded, validated dims."""
    spark: object
    dim: object
    dim6: object | None
    cfg: GeoIPConfig


@dataclass
class Run:
    """One timed job: its wall, the engine CPU it used, what it produced,
    the wall of re-submitting it on completed state, and the CPU time the
    hypervisor stole from this VM while it ran."""
    wall_s: float
    cpu_s: float
    outcome: dict
    resume_s: float
    steal_s: float = 0.0


def timed(fn):
    """(result, wall s, engine CPU s, host steal s) of one call."""
    c0, s0 = engine_cpu_s(), host_steal_s()
    t0 = time.perf_counter()
    out = fn()
    wall = time.perf_counter() - t0
    return out, wall, engine_cpu_s() - c0, host_steal_s() - s0


def _wall(fn) -> tuple[object, float]:
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _diff(name: str, got, want) -> list[str]:
    if got == want:
        return []
    return [f"{name}: expected {want!r:.300}, got {got!r:.300}"]


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class Workload:
    name = ""
    why = ""
    spec: GenSpec
    min_jobs = 3

    @property
    def uses_v6(self) -> bool:
        return self.spec.n_dim6 > 0

    def config(self) -> GeoIPConfig:
        return GeoIPConfig(source="ip_any", target="geoip", database="City",
                           ecs_compatibility=True)

    def load_dims(self, spark, inputs: Inputs) -> tuple:
        dim = spark.read.parquet(inputs.path("dim4"))
        geolite2.validate_dim(dim)
        if not self.uses_v6:
            return dim, None
        dim6 = spark.read.parquet(inputs.path("dim6"))
        geolite2.validate_dim_v6(dim6)
        return dim, dim6

    def setup(self, inputs: Inputs, conf: dict, scratch: str, act=untraced) -> Engine:
        """Session start + dim load/validate + one warm-up job on the
        warm-up slice (compiles code, starts Python workers, builds the
        dim indexes that the engine memoizes per dim object)."""
        spark = session.get_spark(app="perfbench", master=conf["master"],
                                  shuffle_partitions=conf["partitions"],
                                  extra_conf=conf["spark"])
        spark.sparkContext.setLogLevel("ERROR")
        dim, dim6 = act("sources", lambda: self.load_dims(spark, inputs))
        eng = Engine(spark, dim, dim6, self.config())
        self.run(eng, inputs.path("warmup"), fresh_dir(os.path.join(scratch, "warmup")),
                 act)
        return eng

    def enriched(self, eng: Engine, path: str, v6: bool = True):
        """parse -> enrich; ``v6=False`` drops the whole v6 leg (no dim_v6,
        no Arrow key UDF: enrich's v4-only path)."""
        parsed = parse.parse_transcripts(eng.spark.read.parquet(path))
        if v6 and self.uses_v6:
            return enrich.enrich(parsed, eng.dim, eng.cfg, dim_v6=eng.dim6)
        return enrich.enrich(parsed, eng.dim, eng.cfg, source_may_contain_v6=False)

    def run(self, eng: Engine, path: str, scratch: str, act=untraced) -> Run:
        raise NotImplementedError

    def check(self, run: Run, truth: dict) -> list[str]:
        raise NotImplementedError

    def micro_batches(self, eng: Engine, path: str, scratch: str, truth: dict,
                      act=untraced) -> list:
        """Drain the workload's micro-batch input, if it has one, and check
        its sink; returns the progress of every batch that read rows."""
        return []


class AggLongV6(Workload):
    name = "agg_long_v6"
    why = ("read path: ~480-char prose turns, half v6, 65,536-row v4 and 8,192-row v6 "
           "dims, every miss class; parse, broadcast probe and v6 key UDF; nothing written")
    spec = GenSpec(n_turns=20_000, n_files=8, sentences_min=6, sentences_max=11,
                   n_dim4=65_536, n_dim6=8_192, v6_share=0.5, multi=0.2)

    def aggregates(self, e):
        return (aggregate.turns_per_geo_window(e, COUNTRY_COL),
                aggregate.failure_counts_per_sink(e))

    def run(self, eng, path, scratch, act=untraced):
        def job():
            geo, sinks = self.aggregates(self.enriched(eng, path))
            return {"geo": act("aggregate", geo.collect),
                    "sinks": act("aggregate", sinks.collect)}
        out, wall, cpu, steal = timed(job)
        # no persisted state: a re-submission recomputes, so resume = job
        return Run(wall, cpu, out, resume_s=wall, steal_s=steal)

    def check(self, run, truth):
        geo = sorted(([int(r["window_start"].timestamp()), r["country_iso_code"],
                       r["n_turns"], r["n_failures"]] for r in run.outcome["geo"]),
                     key=lambda g: (g[0], g[1] or ""))
        sinks = sorted([r["role"], r["tool"], r["n_turns"], r["n_failures"]]
                       for r in run.outcome["sinks"])
        return (_diff("turns_per_geo_window", geo, truth["geo_window"])
                + _diff("failure_counts_per_sink", sinks, truth["failures_per_sink"]))


class WriteShortHot(Workload):
    """Both write paths on one input family: ``route()`` of the batch input
    (the timed job, then its resume re-call), and ``run_stream`` draining
    small files of the same generator (the micro-batches)."""
    name = "write_short_hot"
    why = ("write paths: short v4-only turns on 32 hot IPs of a 256-row dim, 1/13 on one "
           "conv_id; route() to 20 role x tool sinks + resume, run_stream of 24 small files")
    spec = GenSpec(n_turns=32_000, n_files=8, sentences_min=1, sentences_max=2,
                   n_dim4=256, n_dim6=0, v6_share=0.0, multi=0.1,
                   n_stream=1_200, stream_files=24, hot_rows=8)
    min_jobs = 4  # a route() job is short and writes files: more samples

    def config(self):
        # ip_str is the IPv4-only regex extraction, so the v4 path of
        # enrich() applies and no Arrow UDF is planned
        return GeoIPConfig(source="ip_str", target="geoip", database="City",
                           ecs_compatibility=True)

    def run(self, eng, path, scratch, act=untraced):
        def write():
            return route.route(self.enriched(eng, path), scratch, resume=True)
        manifest, wall, cpu, steal = timed(write)
        # a re-submission with identical input finds the complete manifest
        again, resume_s = _wall(write)
        return Run(wall, cpu, {"manifest": manifest, "resumed": again}, resume_s=resume_s,
                   steal_s=steal)

    def check(self, run, truth):
        m, again = run.outcome["manifest"], run.outcome["resumed"]
        return (_diff("route sink_counts", m["sink_counts"], truth["routed_rows"])
                + _diff("route total_rows", m["total_rows"], truth["n_turns"])
                + _diff("resume skipped the write", again.get("written_at"),
                        m["written_at"]))

    def check_stream(self, roles: dict, truth: dict) -> list[str]:
        return _diff("stream rows and failures per role", roles, truth["stream_roles"])

    def micro_batches(self, eng, path, scratch, truth, act=untraced):
        out = fresh_dir(os.path.join(scratch, "stream"))
        q = pipeline.run_stream(eng.spark, path, os.path.join(out, "out"),
                                os.path.join(out, "ckpt"), lambda: (eng.dim, eng.dim6),
                                eng.cfg, available_now=True)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        sinks = eng.spark.read.parquet(os.path.join(out, "out", "sinks"))
        roles = act("streaming", lambda: {
            r["role"]: [r["n"], r["f"]] for r in sinks.groupBy("role").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.array_contains("tags", FAILURE_TAG).cast("int")).alias("f"),
            ).collect()})
        bad = self.check_stream(roles, truth)
        if bad:
            raise RuntimeError(bad[0])
        return [p for p in q.recentProgress if p.numInputRows > 0]


WORKLOADS = {w.name: w for w in (AggLongV6(), WriteShortHot())}
