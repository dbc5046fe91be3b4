"""Traced run: per-layer numbers for one workload.

The engine is not changed. Its public functions are wrapped from outside
(module attributes are replaced for the duration of the run): each call
records a span (name, layer, start, end, parent span, run id) and runs
under a Spark job group of its own, so stage metrics read back from the
status REST API can be attributed to the layer whose call issued the job.
Spans are kept in memory and written to ``.perfbench/out`` at the end.

Execution time per layer comes from prefix drains of the same input:
scan -> +parse -> +enrich -> the workload's own actions. Every drain
aggregates over all produced columns; a bare count() would let Catalyst
prune the parse and enrich work away.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import threading
import time
import urllib.request

from pyspark import SparkContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import workloads as W
from logstash_filter_geoip_spark import session
from logstash_filter_geoip_spark.functions import parse
from logstash_filter_geoip_spark.operators import aggregate, enrich, route
from logstash_filter_geoip_spark.plans.checks import physical_plan
from logstash_filter_geoip_spark.sources import geolite2
from logstash_filter_geoip_spark.streaming import pipeline

REPS = 3
ACTION_LAYERS = ("aggregate", "route", "streaming")
STAGE_METRICS = {"executor_cpu_s": "s", "gc_s": "s", "spill_bytes": "bytes",
                 "stages": "count", "tasks": "count"}
PLAN_NODES = {"exchange": "Exchange", "bhj": "BroadcastHashJoin",
              "smj": "SortMergeJoin", "bnlj": "BroadcastNestedLoopJoin",
              "arrow_eval": "ArrowEvalPython"}

# per-layer metric -> unit; every traced run reports all of them, and a
# layer the workload does not call reads 0
PER_LAYER = {
    "session.start_s": "s",
    "sources.dim_build_s": "s", "sources.dim_rows_v4": "rows",
    "sources.dim_rows_v6": "rows", "enrich.broadcast_rows": "rows",
    "parse.build_s": "s", "enrich.build_s": "s", "aggregate.build_s": "s",
    "scan.exec_s": "s", "parse.exec_s": "s", "parse.ip_yield": "ratio",
    "enrich.exec_s": "s", "ipkeys.v6_leg_s": "s", "enrich.v6_rows": "rows",
    "enrich.hit_frac": "ratio", "enrich.miss_absent": "rows",
    "enrich.miss_empty": "rows", "enrich.rows_in": "rows", "enrich.rows_out": "rows",
    "aggregate.exec_s": "s", "aggregate.groups_out": "rows",
    "aggregate.shuffle_read_bytes": "bytes",
    "route.s": "s", "route.write_s": "s", "route.post_write_s": "s",
    "route.files": "count", "route.bytes": "bytes", "route.sinks": "count",
    "route.n_salt": "count", "route.file_rows_max_over_median": "ratio",
    "route.shuffle_write_bytes": "bytes", "route.task_s_max_over_median": "ratio",
    "lineage.fingerprint_s": "s",
    "streaming.batches": "count", "streaming.rows_per_batch": "rows",
    "streaming.add_batch_s_p50": "s", "streaming.planning_s_p50": "s",
    "streaming.get_batch_s_p50": "s", "streaming.wal_commit_s_p50": "s",
    **{f"{layer}.{k}": u for layer in ACTION_LAYERS for k, u in STAGE_METRICS.items()},
    **{f"plan.{k}": "count" for k in (*PLAN_NODES, "single_partition")},
    "trace.overhead_frac": "ratio", "trace.accounted_frac": "ratio",
}


class Tracer:
    """Spans around wrapped engine calls; ``enabled`` switches recording
    (and job groups) on and off without unwrapping."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patched: list[tuple] = []

    def call(self, name: str, layer: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        span = {"id": sid, "name": name, "layer": layer, "run_id": self.run_id,
                "parent": stack[-1]["id"] if stack else None,
                "group": f"{self.run_id}-{sid}", "start": time.time()}
        sc = SparkContext._active_spark_context
        prev = sc.getLocalProperty("spark.jobGroup.id") if sc else None
        if sc:
            sc.setLocalProperty("spark.jobGroup.id", span["group"])
        stack.append(span)
        try:
            out = fn(*args, **kwargs)
            if name == "run_stream":
                span["query_run_id"] = str(out.runId)
            elif name == "auto_n_salt":
                span["value"] = out
            return out
        finally:
            span["end"] = time.time()
            stack.pop()
            if sc and SparkContext._active_spark_context is sc:
                sc.setLocalProperty("spark.jobGroup.id", prev)
            self.spans.append(span)

    def wrap(self, module, attr: str, layer: str) -> None:
        orig = getattr(module, attr)
        self._patched.append((module, attr, orig))
        setattr(module, attr,
                lambda *a, **kw: self.call(attr, layer, orig, *a, **kw))

    def act(self, layer: str, fn):
        return self.call(f"{layer}.action", layer, fn)

    def unwrap(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def named(self, name: str, since: float = 0.0) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["start"] >= since]


def install(tracer: Tracer) -> None:
    """Wrap every public engine call the workloads make, where it is looked
    up: a module that imported a function by name gets its own wrapper."""
    for module, attr, layer in [
        (session, "get_spark", "session"),
        (geolite2, "validate_dim", "sources"), (geolite2, "validate_dim_v6", "sources"),
        (parse, "parse_transcripts", "parse"), (pipeline, "parse_transcripts", "parse"),
        (enrich, "enrich", "enrich"), (pipeline, "enrich", "enrich"),
        (aggregate, "turns_per_geo_window", "aggregate"),
        (aggregate, "failure_counts_per_sink", "aggregate"),
        (route, "route", "route"), (route, "auto_n_salt", "route"),
        (route, "read_sink", "route"), (route, "input_fingerprint", "lineage"),
        (pipeline, "run_stream", "streaming"),
    ]:
        tracer.wrap(module, attr, layer)


# --------------------------------------------------------------------------
# Spark status REST API


def _rest(spark, path: str):
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _settled_jobs(spark) -> list[dict]:
    """All jobs, once the status store has caught up with the scheduler."""
    tracker = spark.sparkContext.statusTracker()
    last = None
    for _ in range(100):
        jobs = _rest(spark, "jobs")
        state = sorted((j["jobId"], j["status"]) for j in jobs)
        if (not tracker.getActiveJobsIds()
                and all(s != "RUNNING" for _, s in state) and state == last):
            return jobs
        last = state
        time.sleep(0.2)
    return jobs


def stage_metrics(spark, jobs: list[dict], stages: dict, groups: set) -> dict:
    ids = {s for j in jobs if j.get("jobGroup") in groups for s in j["stageIds"]}
    mine = [stages[i] for i in sorted(ids) if i in stages]
    total = lambda k: sum(s.get(k, 0) for s in mine)  # noqa: E731
    out = {"executor_cpu_s": total("executorCpuTime") / 1e9,
           "gc_s": total("jvmGcTime") / 1e3,
           "spill_bytes": total("memoryBytesSpilled") + total("diskBytesSpilled"),
           "stages": len(mine), "tasks": total("numTasks"),
           "shuffle_read_bytes": total("shuffleReadBytes"),
           "shuffle_write_bytes": total("shuffleWriteBytes"),
           "task_s_max_over_median": 0.0}
    multi = [s for s in mine if s["numTasks"] > 1]
    if multi:
        top = max(multi, key=lambda s: s["executorRunTime"])
        q = _rest(spark, f"stages/{top['stageId']}/{top['attemptId']}/taskSummary"
                         "?quantiles=0.5,1.0")["executorRunTime"]
        out["task_s_max_over_median"] = q[1] / max(q[0], 1.0)
    return out


# --------------------------------------------------------------------------
# helpers


def drain(df: DataFrame) -> None:
    """Execute ``df`` in full: an aggregate over every produced column."""
    df.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*df.columns))).collect()


def exec_wall(make_df, action=drain, reps: int = REPS) -> float:
    """Median wall of ``action`` on a freshly built DataFrame; the build is
    not timed. A new DataFrame each time, so no shuffle output is reused."""
    walls = []
    for _ in range(reps):
        df = make_df()
        t0 = time.perf_counter()
        action(df)
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def plan_digest(dfs: list[DataFrame]) -> dict:
    """Node counts of the physical plans (the tree part of the formatted
    explain; SinglePartition is an argument, so it is counted everywhere)."""
    out = dict.fromkeys([*PLAN_NODES, "single_partition"], 0)
    for df in dfs:
        text = physical_plan(df)
        tree = text.split("\n\n", 1)[0].splitlines()
        nodes = [ln.lstrip(" +-:").split(" ")[0] for ln in tree]
        for key, node in PLAN_NODES.items():
            out[key] += sum(n == node for n in nodes)
        out["single_partition"] += text.count("SinglePartition")
    return out


def span_s(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def call_s(spans: list[dict]) -> float:
    """Median wall of one call (0 when there was none)."""
    return statistics.median(s["end"] - s["start"] for s in spans) if spans else 0.0


def _output_files(base: str) -> list[str]:
    return [os.path.join(root, f) for root, _, files in os.walk(base)
            for f in files if f.startswith("part-")]


# --------------------------------------------------------------------------


def route_metrics(m: dict, tracer: Tracer, since: float, spark, base: str) -> None:
    """Route timings from the first route() call of each traced job (the
    second is the resume re-call), the write/post-write split at the
    read_sink call, and the shape of the last job's output."""
    calls = tracer.named("route", since)
    writes, resumes = calls[0::2], calls[1::2]
    reads = tracer.named("read_sink", since)
    split = [min(r["start"] for r in reads if w["start"] <= r["start"] <= w["end"])
             for w in writes]
    m["route.s"] = call_s(writes)
    m["route.write_s"] = statistics.median(t - w["start"] for t, w in zip(split, writes))
    m["route.post_write_s"] = statistics.median(w["end"] - t for t, w in zip(split, writes))
    m["lineage.fingerprint_s"] = call_s(
        [f for f in tracer.named("input_fingerprint", since)
         if any(r["start"] <= f["start"] <= r["end"] for r in resumes)])
    m["route.n_salt"] = tracer.named("auto_n_salt", since)[-1]["value"]
    files = _output_files(os.path.join(base, "sinks"))
    m["route.files"] = len(files)
    m["route.bytes"] = sum(os.path.getsize(f) for f in files)
    m["route.sinks"] = len({os.path.dirname(f) for f in files})
    rows = [r["n_rows"] for r in spark.read.parquet(os.path.join(base, "_metrics"))
            .select("n_rows").collect()]
    m["route.file_rows_max_over_median"] = max(rows) / statistics.median(rows)


def stream_metrics(m: dict, progress: list) -> None:
    if not progress:
        return
    dur = lambda k: statistics.median(p.durationMs.get(k, 0) for p in progress) / 1e3  # noqa: E731
    m["streaming.batches"] = len(progress)
    m["streaming.rows_per_batch"] = statistics.median(p.numInputRows for p in progress)
    m["streaming.add_batch_s_p50"] = dur("addBatch")
    m["streaming.planning_s_p50"] = dur("queryPlanning")
    m["streaming.get_batch_s_p50"] = dur("getBatch")
    m["streaming.wal_commit_s_p50"] = dur("walCommit")


def layer_stats(m: dict, wl, eng, path: str) -> None:
    """Row counts per layer, from separate actions outside every timing."""
    m["sources.dim_rows_v4"] = eng.dim.count()
    m["sources.dim_rows_v6"] = eng.dim6.count() if eng.dim6 is not None else 0
    m["enrich.broadcast_rows"] = enrich.prepare_dim(eng.dim).count()
    ip = F.col(eng.cfg.source)
    failed = F.array_contains("tags", W.FAILURE_TAG)
    r = wl.enriched(eng, path).agg(
        F.count(F.lit(1)).alias("rows"),
        F.count(ip).alias("ips"),
        F.sum(ip.contains(":").cast("int")).alias("v6"),
        F.sum((ip.isNotNull() & failed).cast("int")).alias("empty"),
        F.sum((ip.isNotNull() & ~failed).cast("int")).alias("hits"),
    ).collect()[0]
    m["enrich.rows_in"] = eng.spark.read.parquet(path).count()
    m["enrich.rows_out"] = r["rows"]
    m["parse.ip_yield"] = r["ips"] / r["rows"]
    m["enrich.v6_rows"] = r["v6"] or 0
    m["enrich.miss_absent"] = r["rows"] - r["ips"]
    m["enrich.miss_empty"] = r["empty"]
    m["enrich.hit_frac"] = r["hits"] / r["rows"]


def traced_run(wl, inputs, truth: dict, args, work: str) -> tuple[dict, dict]:
    from run import spark_conf, stop_engine
    run_id = f"{wl.name}-{args.seed}-{os.getpid()}"
    tracer = Tracer(run_id)
    install(tracer)
    scratch = os.path.join(work, "scratch")
    path = inputs.path("transcripts")
    eng = None
    m: dict = dict.fromkeys(PER_LAYER, 0)
    errors: list[str] = []
    attempted = 0
    try:
        tracer.enabled = True
        eng = wl.setup(inputs, spark_conf(work, traced=True), scratch, act=tracer.act)
        m["session.start_s"] = span_s(tracer.named("get_spark"))
        m["sources.dim_build_s"] = span_s(tracer.named("sources.action"))

        def job(act):
            nonlocal attempted
            attempted += 1
            run = wl.run(eng, path, W.fresh_dir(os.path.join(scratch, "job")), act)
            bad = wl.check(run, truth)
            errors.extend(bad)
            return run

        # untraced and traced jobs alternate, so drift in the host or in
        # JIT warm-up does not read as tracing overhead
        untraced_s, runs = [], []
        for _ in range(REPS):
            tracer.enabled = False
            untraced_s.append(job(W.untraced).wall_s)
            tracer.enabled = True
            t_job = time.time()
            runs.append(job(tracer.act))
            if len(runs) == 1:
                t_traced = t_job
        progress = []
        if wl.spec.n_stream:
            attempted += 1
            try:
                progress = wl.micro_batches(eng, inputs.path("stream"), scratch, truth,
                                            tracer.act)
            except Exception as e:  # counted as a failed job; the run goes on
                errors.append(f"micro-batches: {e}")
        untraced = statistics.median(untraced_s)
        traced = statistics.median(r.wall_s for r in runs)
        m["trace.overhead_frac"] = 1 - untraced / traced
        named = lambda name: tracer.named(name, t_traced)  # noqa: E731
        m["parse.build_s"] = call_s(named("parse_transcripts"))
        m["enrich.build_s"] = call_s(named("enrich"))
        m["aggregate.build_s"] = (call_s(named("turns_per_geo_window"))
                                  + call_s(named("failure_counts_per_sink")))

        # stage metrics of the traced jobs, by the layer whose call issued them
        jobs = _settled_jobs(eng.spark)
        stages = {s["stageId"]: s for s in _rest(eng.spark, "stages?status=complete")}
        groups = {layer: set() for layer in ACTION_LAYERS}
        for s in tracer.spans:
            if s["start"] >= t_traced and s["layer"] in groups:
                groups[s["layer"]].add(s["group"])
                if "query_run_id" in s:
                    groups["streaming"].add(s["query_run_id"])
        for layer, g in groups.items():
            sm = stage_metrics(eng.spark, jobs, stages, g)
            for k in STAGE_METRICS:
                m[f"{layer}.{k}"] = sm[k]
            if layer == "aggregate":
                m["aggregate.shuffle_read_bytes"] = sm["shuffle_read_bytes"]
            if layer == "route":
                m["route.shuffle_write_bytes"] = sm["shuffle_write_bytes"]
                m["route.task_s_max_over_median"] = sm["task_s_max_over_median"]

        # prefix drains: scan -> +parse -> +enrich -> the workload's actions
        tracer.enabled = False
        spark = eng.spark
        scan = lambda: spark.read.parquet(path)  # noqa: E731
        d_scan = exec_wall(scan)
        d_parse = exec_wall(lambda: parse.parse_transcripts(scan()))
        d_enrich = exec_wall(lambda: wl.enriched(eng, path))
        d_enrich4 = exec_wall(lambda: wl.enriched(eng, path, v6=False))
        m["scan.exec_s"] = d_scan
        m["parse.exec_s"] = d_parse - d_scan
        m["enrich.exec_s"] = d_enrich - d_parse
        m["ipkeys.v6_leg_s"] = d_enrich - d_enrich4 if wl.uses_v6 else 0.0
        builds = m["parse.build_s"] + m["enrich.build_s"] + m["aggregate.build_s"]
        if isinstance(wl, W.AggLongV6):
            geo, sinks = wl.aggregates(wl.enriched(eng, path))
            # each aggregate minus a drain of exactly the enrich columns it reads
            reads = (["ts", W.COUNTRY_COL, "tags"], ["role", "tool", "tags"])
            d_full = d_used = 0.0
            for k in (0, 1):
                d_full += exec_wall(lambda: wl.aggregates(wl.enriched(eng, path))[k],
                                    lambda df: df.collect())
                d_used += exec_wall(lambda: wl.enriched(eng, path).select(*reads[k]))
            m["aggregate.exec_s"] = d_full - d_used
            m["aggregate.groups_out"] = sum(len(runs[-1].outcome[k]) for k in ("geo", "sinks"))
            m["trace.accounted_frac"] = (builds + d_full) / untraced
            plan_dfs = [geo, sinks]
        else:
            route_metrics(m, tracer, t_traced, eng.spark, os.path.join(scratch, "job"))
            stream_metrics(m, progress)
            # the timed job's blocking path: lazy parse and enrich, then route()
            m["trace.accounted_frac"] = (m["parse.build_s"] + m["enrich.build_s"]
                                         + m["route.s"]) / untraced
            plan_dfs = [wl.enriched(eng, path)]
        m.update({f"plan.{k}": v for k, v in plan_digest(plan_dfs).items()})
        layer_stats(m, wl, eng, path)
    finally:
        tracer.enabled = False
        tracer.unwrap()
        if eng is not None:
            stop_engine(eng.spark)
        name = f"{wl.name}-seed{args.seed}-trace1.spans.json"
        with open(os.path.join(os.getcwd(), ".perfbench", "out", name), "w") as f:
            json.dump(tracer.spans, f, indent=0)
    result = {"correct": not errors, "attempted": attempted, "failed": len(errors),
              "metrics": {k: {"value": m[k], "unit": u} for k, u in PER_LAYER.items()}}
    context = {"untraced_job_s": untraced, "traced_job_s": traced, "spans": len(tracer.spans),
               "errors": errors[:3]}
    return result, context
