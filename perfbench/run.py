"""Benchmark entry point.

    python3 perfbench/run.py --workload agg_long_v6 --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --all --seed 1     # every workload, one after another

Run from the repository root. One run generates the workload's inputs from
the seed, sets the engine up several times (the median is ``setup_s``),
times jobs for ``--seconds`` and checks every job's output against the
generator's ground truth. The last stdout line is the result JSON; the line
before it is the run's context (host control probe, sample counts, the
tail percentile used). ``--trace 1`` makes a separate traced run that
reports the per-layer metrics instead (see perfbench/README.md).

Everything the run writes stays under ``.perfbench/`` in the working
directory; the work area is removed at the end, records are kept in
``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "logstash_filter_geoip_spark"
SETUP_REPS = 3
NPROC = len(os.sched_getaffinity(0))
STEAL_FRAC = 0.03  # a timed interval with more steal than this is disturbed
EXTRA_JOBS = 1     # timed jobs a run may add to replace disturbed ones
# samples that must lie above the tail percentile: a run holds 6 micro-batches
# (a batch costs over a second on 4 vCPUs), so 10 beyond would never leave the
# median
TAIL_BEYOND = 2

# end-to-end metric -> unit (every one is reported on every workload)
END_TO_END = {
    "setup_s": "s", "turns_per_s": "turns/s", "job_s": "s", "batch_s_p50": "s",
    "batch_s_tail": "s", "resume_s": "s", "cpu_s_per_mturn": "CPU-s/Mturn",
    "peak_rss_mb": "MB",
}


def tail(xs: list[float]) -> tuple[float, int]:
    """The highest whole percentile (at least the median) that leaves
    TAIL_BEYOND samples above it, by nearest rank; returns (value, pct)."""
    s = sorted(xs)
    pct = max(50, math.floor(100 * (1 - TAIL_BEYOND / len(s))))
    rank = max(1, math.ceil(pct * len(s) / 100))
    return s[rank - 1], pct


def spark_conf(work: str, traced: bool = False) -> dict:
    conf = {
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData -Xms1g",
    }
    if traced:
        conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0"})
    return {"master": f"local[{NPROC}]", "partitions": NPROC, "spark": conf}


def host_control(spark) -> float:
    """Same-window host probe: range -> sha2 -> max (as in bench.py)."""
    from pyspark.sql import functions as F
    ctl = spark.range(1_000_000, numPartitions=8).select(
        F.sha2(F.col("id").cast("string"), 256).alias("h"))
    ctl.agg(F.max("h")).collect()  # compile once
    t0 = time.perf_counter()
    ctl.agg(F.max("h")).collect()
    return time.perf_counter() - t0


def stop_engine(spark) -> None:
    """Stop Spark, then the JVM it runs in (and with it the Python workers),
    and wait until every process this run started has exited."""
    from hostmon import engine_pids
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.monotonic() + 15
    while engine_pids() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in engine_pids():
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def steal_frac(wall_s: float, steal_s: float) -> float:
    """Share of this VM's CPU time that the hypervisor gave to other guests
    during a timed interval (the host is shared)."""
    return steal_s / (wall_s * NPROC)


def undisturbed(run) -> bool:
    return steal_frac(run.wall_s, run.steal_s) <= STEAL_FRAC


def measure(wl, eng, inputs, truth: dict, seconds: float, scratch: str) -> dict:
    """One untimed full-size job; timed jobs until ``seconds``
    have passed and ``wl.min_jobs`` undisturbed ones have run (at most
    EXTRA_JOBS more than that); then the micro-batch drain, once more if it
    was disturbed."""
    from hostmon import MemPeak, host_steal_s
    from workloads import fresh_dir
    runs, errors, attempted, drains = [], [], 0, []
    job_dir = os.path.join(scratch, "job")
    mem = MemPeak().start()
    try:
        # the first full-size job after set-up is still warming up (JIT of
        # the hot loops at full size): run it, but neither time nor check it
        wl.run(eng, inputs.path("transcripts"), fresh_dir(job_dir))
        end = time.perf_counter() + seconds
        while ((time.perf_counter() < end or sum(map(undisturbed, runs)) < wl.min_jobs)
               and attempted < wl.min_jobs + EXTRA_JOBS):
            attempted += 1
            try:
                run = wl.run(eng, inputs.path("transcripts"), fresh_dir(job_dir))
            except Exception:  # a failed job is counted, the run goes on
                errors.append(traceback.format_exc())
                continue
            bad = wl.check(run, truth)
            if bad:
                errors.append("; ".join(bad))
            else:
                runs.append(run)
        while wl.spec.n_stream and len(drains) < 2:
            attempted += 1
            s0, t0 = host_steal_s(), time.perf_counter()
            try:
                progress = wl.micro_batches(eng, inputs.path("stream"), scratch, truth)
            except Exception:
                errors.append(traceback.format_exc())
                break
            drains.append((steal_frac(time.perf_counter() - t0, host_steal_s() - s0),
                           progress))
            if drains[-1][0] <= STEAL_FRAC:
                break
    finally:
        peak = mem.stop()
    return {"runs": runs, "errors": errors, "attempted": attempted, "peak_rss_mb": peak,
            "drains": drains}


def end_to_end(wl, m: dict, setup_s: list[float]) -> tuple[dict, dict]:
    """Metrics over the undisturbed jobs, or the ``wl.min_jobs`` least
    disturbed ones when fewer were undisturbed; batches of the less
    disturbed drain."""
    by_steal = sorted(m["runs"], key=lambda r: steal_frac(r.wall_s, r.steal_s))
    runs = by_steal[:max(wl.min_jobs, sum(map(undisturbed, by_steal)))]
    n_turns = wl.spec.n_turns
    walls = [r.wall_s for r in runs]
    if wl.spec.n_stream:
        progress = min(m["drains"], key=lambda d: d[0])[1]
        batches = [p.durationMs["triggerExecution"] / 1e3 for p in progress]
    else:
        batches = walls
    tail_s, pct = tail(batches)
    job_s = statistics.median(walls)
    values = {
        "setup_s": statistics.median(setup_s),
        "turns_per_s": n_turns / job_s,
        "job_s": job_s,
        "batch_s_p50": statistics.median(batches),
        "batch_s_tail": tail_s,
        "resume_s": statistics.median(r.resume_s for r in runs),
        "cpu_s_per_mturn": statistics.median(r.cpu_s for r in runs) / (n_turns / 1e6),
        "peak_rss_mb": m["peak_rss_mb"],
    }
    context = {"jobs": len(m["runs"]), "jobs_used": len(runs), "batches": len(batches),
               "batch_s_tail_pct": pct, "setup_s_samples": setup_s,
               "job_s_samples": [r.wall_s for r in m["runs"]],
               "job_steal_frac": [steal_frac(r.wall_s, r.steal_s) for r in m["runs"]],
               "drain_steal_frac": [d[0] for d in m["drains"]]}
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}, context


def untraced_run(wl, inputs, truth: dict, args, work: str) -> tuple[dict, dict]:
    conf = spark_conf(work)
    scratch = os.path.join(work, "scratch")
    setup_s, eng = [], None
    try:
        for _ in range(SETUP_REPS):
            if eng is not None:
                eng.spark.stop()
            t0 = time.perf_counter()
            eng = wl.setup(inputs, conf, scratch)
            setup_s.append(time.perf_counter() - t0)
        control_s = host_control(eng.spark)
        t0 = time.perf_counter()
        m = measure(wl, eng, inputs, truth, args.seconds, scratch)
        measure_s = time.perf_counter() - t0
    finally:
        if eng is not None:
            stop_engine(eng.spark)
    ok = m["runs"] and (m["drains"] or not wl.spec.n_stream)
    metrics, context = end_to_end(wl, m, setup_s) if ok else ({}, {})
    context.update(control_s=control_s, measure_s=measure_s, errors=m["errors"][:3])
    result = {"correct": not m["errors"], "attempted": m["attempted"],
              "failed": len(m["errors"]), "metrics": metrics}
    return result, context


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--all", action="store_true", help="run every workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: {PACKAGE}/ not found next to perfbench/; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    if args.all:
        from workloads import WORKLOADS
        code = 0
        for name in WORKLOADS:
            cmd = [sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(args.trace)]
            code |= subprocess.run(cmd, check=False).returncode
        return code

    base = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(base, "work", str(os.getpid()))
    out_dir = os.path.join(base, "out")
    for d in (os.path.join(work, "tmp"), out_dir):
        os.makedirs(d, exist_ok=True)
    # keep pyspark's gateway files and the workers' temp files in the
    # checkout: set before pyspark is first imported
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    try:
        import workloads
        if args.workload not in workloads.WORKLOADS:
            print(f"error: unknown workload {args.workload!r}; choose from "
                  f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
            return 2
        wl = workloads.WORKLOADS[args.workload]
        import gen
        inputs = workloads.Inputs(os.path.join(work, "input"))
        t0 = time.perf_counter()
        truth = gen.generate(args.seed, wl.spec, inputs.root)
        gen_s = time.perf_counter() - t0
        if args.trace:
            import tracing
            result, context = tracing.traced_run(wl, inputs, truth, args, work)
        else:
            result, context = untraced_run(wl, inputs, truth, args, work)
        import pyspark
        context.update(workload=wl.name, seed=args.seed, trace=args.trace,
                       nproc=NPROC, spark=pyspark.__version__,
                       dim_source="generated", gen_s=gen_s,
                       error_frac=result["failed"] / result["attempted"])
        name = f"{wl.name}-seed{args.seed}-trace{args.trace}"
        with open(os.path.join(out_dir, name + ".json"), "w") as f:
            json.dump({"result": result, "context": context}, f, indent=1, default=str)
        print(json.dumps({"context": context}, default=str))
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
