"""Aggregate stage: per-sink windowed aggregates + failure-tag counts.

The reference performs no aggregation (each event independent); these are
mandated by BASELINE.json north_rule — per-sink windowed aggregates (turns
per geo bucket, failure-tag counts) that must exactly match routed-row
counts. All aggregates are plain hash aggregates: Catalyst plans
partial(map-side) + final automatically, so the shuffle moves one row per
(group, partition), not per turn — the at-scale-correct shape (SURVEY.md §2.5).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..config import DEFAULT_TAG_ON_FAILURE
from .route import SINK_KEYS, salt_column


def failure_flag(tags=DEFAULT_TAG_ON_FAILURE) -> Column:
    """1 where the row's `tags` hold any of `tags` (a pipeline's
    tag_on_failure), else 0 — the one failure predicate of every failure
    count, batch and stream. No tags count nothing."""
    if not tags:
        return F.lit(0)
    hit = reduce(lambda a, b: a | b,
                 [F.array_contains(F.col("tags"), t) for t in tags])
    return F.when(hit, F.lit(1)).otherwise(F.lit(0))


_WINDOW_UNIT_SECONDS = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}


def turns_per_geo_window(df: DataFrame, country_col: str,
                         window: str = "1 hour") -> DataFrame:
    """Turns per geo bucket per tumbling window.

    Uses date_trunc / epoch-floor arithmetic (not F.window) so the oracle
    SQL is identical ANSI; for streaming the F.window + watermark variant
    lives in streaming/pipeline.py. A multiplier of 1 keeps the date_trunc
    fast path; any other ('30 minutes', '6 hours') floors the epoch to the
    window width — a bare date_trunc on the unit would silently aggregate
    at the wrong granularity.
    """
    n_str, unit_str = window.split()
    n, unit = int(n_str), unit_str.rstrip("s")  # '30 minutes' -> 30, 'minute'
    if unit not in _WINDOW_UNIT_SECONDS:
        raise ValueError(f"unsupported window unit {unit_str!r}")
    if n == 1:
        start = F.date_trunc(unit, F.col("ts"))
    else:
        width = n * _WINDOW_UNIT_SECONDS[unit]
        epoch = F.unix_timestamp(F.col("ts"))
        start = F.timestamp_seconds((epoch - F.pmod(epoch, F.lit(width)))
                                    .cast("long"))
    return (
        df.groupBy(
            start.alias("window_start"),
            F.col(country_col).alias("country_iso_code"),
        )
        .agg(F.count(F.lit(1)).alias("n_turns"),
             F.sum(failure_flag()).alias("n_failures"))
    )


def failure_counts_per_sink(df: DataFrame) -> DataFrame:
    """Failure-tag counts keyed by sink (route.SINK_KEYS)."""
    return (
        df.groupBy(*SINK_KEYS)
          .agg(F.count(F.lit(1)).alias("n_turns"),
               F.sum(failure_flag()).alias("n_failures"))
    )


def routed_row_counts(df: DataFrame) -> DataFrame:
    """Row count per sink key — the parity check against sink row counts
    (north_rule 'routed-row equality')."""
    return df.groupBy(*SINK_KEYS).agg(F.count(F.lit(1)).alias("n_rows"))


def _quantile_name(q: float) -> str:
    """q50 / q99 for whole percents; q99_9 / q5_5 for fractional ones —
    float-safe (round, not truncate) and collision-checked by the caller."""
    pct = round(q * 100, 4)
    if pct == int(pct):
        return f"q{int(pct):02d}"
    return "q" + str(pct).replace(".", "_")


def quantile_stats(df: DataFrame, keys: tuple[str, ...], value_col: str,
                   qs: tuple[float, ...] = (0.5, 0.9, 0.99),
                   exact: bool = True,
                   accuracy: int = 10000) -> DataFrame:
    """Per-group quantiles of a numeric column.

    exact=True uses Spark's `percentile` (type-7 linear interpolation —
    bit-identical to DuckDB's `quantile_cont`, verified in tests): correct
    but memory-bound per group (the aggregate buffers the group's values),
    so it is the small/medium-cardinality path. exact=False is the 100-TB
    path: `approx_percentile` (a mergeable QuantileSummaries sketch,
    constant memory per group, map-side combinable) with a documented
    rank-error bound of 1/accuracy — value-locked against the exact path in
    tests rather than oracle-hashed.
    """
    if not qs:
        raise ValueError("quantile_stats requires at least one quantile")
    if any(not 0.0 <= q <= 1.0 for q in qs):
        raise ValueError(f"quantiles must be in [0, 1]: {qs}")
    names = [_quantile_name(q) for q in qs]
    if len(set(names)) != len(names):
        raise ValueError(f"quantiles produce colliding column names: {names}")
    pcts = F.lit(list(qs))
    qv = (F.percentile(value_col, pcts) if exact
          else F.approx_percentile(value_col, pcts, F.lit(int(accuracy))))
    out = df.groupBy(*keys).agg(qv.alias("qv"),
                                F.count(value_col).alias("n_values"))
    cols = [*keys,
            *[F.get(F.col("qv"), i).alias(name)
              for i, name in enumerate(names)],
            "n_values"]
    return out.select(*cols)


def bucket_idx_expr(value_col: str, lo: float, hi: float,
                    n_buckets: int):
    """THE fixed-width bucket rule — ``floor(((v - lo) * n) / (hi - lo))``
    in double, left-to-right, clamped to sentinel buckets -1 / n — shared
    by value_histogram and the drift operators. ``bucket_idx_sql`` is its
    token-for-token DuckDB mirror; never substitute ``width_bucket``
    (absent there) or reorder the arithmetic (the embedding_quantize
    tie-breaking lesson)."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1: {n_buckets}")
    if not lo < hi:
        raise ValueError(f"need lo < hi: {lo}, {hi}")
    v = F.col(value_col).cast("double")
    raw = F.floor(((v - F.lit(float(lo))) * F.lit(n_buckets))
                  / (F.lit(float(hi)) - F.lit(float(lo))))
    return (F.when(v < lo, F.lit(-1))
             .when(v >= hi, F.lit(n_buckets))
             .otherwise(raw)).cast("int")


def bucket_idx_sql(value_col: str, lo: float, hi: float,
                   n_buckets: int) -> str:
    """DuckDB mirror of bucket_idx_expr (identical double expression).

    Every bound is CAST to DOUBLE explicitly — DuckDB types bare decimal
    literals DECIMAL and folds (hi - lo) EXACTLY, while Spark computes it
    in IEEE double (e.g. 2.3 - 1.1 = 1.1999999999999997), so without the
    casts buckets diverge for non-exactly-representable bounds (the
    pagerank constant-casting rule)."""
    lo_l = f"CAST({float(lo)} AS DOUBLE)"
    hi_l = f"CAST({float(hi)} AS DOUBLE)"
    n = n_buckets
    raw = f"floor((({value_col} - {lo_l}) * {n}) / ({hi_l} - {lo_l}))"
    return (f"CASE WHEN {value_col} < {lo_l} THEN -1 "
            f"WHEN {value_col} >= {hi_l} THEN {n} "
            f"ELSE CAST({raw} AS INT) END")


def value_histogram(df: DataFrame, keys: tuple[str, ...], value_col: str,
                    lo: float, hi: float, n_buckets: int) -> DataFrame:
    """Per-group fixed-width histogram: one two-phase hash aggregate over
    (keys, bucket_idx). The bucket rule is explicit shared arithmetic —
    ``floor(((v - lo) * n) / (hi - lo))`` evaluated left-to-right in double
    and clamped — NOT ``width_bucket`` (absent from DuckDB; and a shared
    expression is the only way two engines bucket boundary values
    identically — the embedding_quantize lesson). Out-of-range rows land in
    sentinel buckets -1 (v < lo) and n (v >= hi); NULLs bucket as NULL so
    they stay countable. ``bucket_lo`` is derived per bucket from the same
    literals (NULL for the sentinels).

    Constant state per (group, bucket): unlike exact quantiles, the
    histogram is mergeable map-side, so it IS the 100-TB distribution
    sketch — with deterministic, oracle-checkable contents.
    """
    idx = bucket_idx_expr(value_col, lo, hi, n_buckets)
    agg = (df.groupBy(*keys, idx.alias("bucket_idx"))
             .agg(F.count(F.lit(1)).alias("n")))
    span = F.lit(float(hi)) - F.lit(float(lo))
    blo = (F.when((F.col("bucket_idx") >= 0)
                  & (F.col("bucket_idx") < n_buckets),
                  F.lit(float(lo)) + (F.col("bucket_idx") * span)
                  / F.lit(n_buckets))
            .otherwise(F.lit(None).cast("double")))
    return agg.select(*keys, "bucket_idx", blo.alias("bucket_lo"), "n")


def equidepth_histogram(df: DataFrame, keys: tuple[str, ...],
                        value_col: str, n_buckets: int) -> DataFrame:
    """Per-group EQUI-DEPTH histogram: bucket boundaries are the group's
    exact type-7 quantiles (== DuckDB quantile_cont — the quantile_stats
    contract), assignment is ``sum(value > boundary_i)`` — n-1 compiled
    comparisons, shared verbatim with the oracle (a strictly-greater rule;
    boundary ties all land LEFT of the boundary, so counts are only
    approximately equal under heavy ties — inherent to equi-depth).

    Emits (keys..., bucket_idx, n, min_val, max_val) — min/max are raw
    input doubles (hash-safe verbatim values, not computed statistics).

    Scale shape: one group-sized stats relation (exact percentile buffers
    each group — the quantile_stats caveat; swap approx_percentile for
    100-TB per-key domains) broadcast back over one assignment scan + one
    two-phase aggregate on (keys, bucket).
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2: {n_buckets}")
    ks = list(keys)
    pcts = F.lit([i / n_buckets for i in range(1, n_buckets)])
    stats = df.groupBy(*ks).agg(
        F.percentile(value_col, pcts).alias("__bnds"))
    v = F.col(value_col)
    idx = reduce(
        lambda a, i: a + (v > F.get(F.col("__bnds"), i)).cast("int"),
        range(n_buckets - 1), F.lit(0))
    assigned = (df.join(F.broadcast(stats), ks)
                  .select(*ks, v.alias("__v"),
                          F.when(v.isNotNull(), idx).alias("bucket_idx")))
    return (assigned.groupBy(*ks, "bucket_idx")
            .agg(F.count("__v").alias("n"),
                 F.min("__v").alias("min_val"),
                 F.max("__v").alias("max_val")))


def equidepth_oracle_sql(table: str, keys: tuple[str, ...], value_col: str,
                         n_buckets: int) -> str:
    """DuckDB mirror: quantile_cont boundaries + the identical
    strictly-greater comparison sum (DuckDB arrays are 1-based)."""
    ks = ", ".join(keys)
    tks = ", ".join(f"t.{k}" for k in keys)
    pcts = ", ".join(str(i / n_buckets) for i in range(1, n_buckets))
    comp = " + ".join(
        f"CAST(t.{value_col} > b[{i}] AS INT)" for i in range(1, n_buckets))
    return f"""
WITH s AS (
  SELECT {ks}, quantile_cont({value_col}, [{pcts}]) AS b
  FROM {table} GROUP BY {ks}
), a AS (
  SELECT {tks}, t.{value_col} AS v,
         CASE WHEN t.{value_col} IS NOT NULL THEN {comp} END AS bucket_idx
  FROM {table} t JOIN s USING ({ks})
)
SELECT {ks}, bucket_idx, count(v) AS n,
       min(v) AS min_val, max(v) AS max_val
FROM a GROUP BY {ks}, bucket_idx
"""


def histogram_oracle_sql(table: str, keys: tuple[str, ...], value_col: str,
                         lo: float, hi: float, n_buckets: int) -> str:
    """DuckDB mirror of value_histogram: the IDENTICAL double expression,
    token for token (floor/clamp/bucket_lo)."""
    k = "".join(f"{c}, " for c in keys)
    # bounds CAST to DOUBLE — the bucket_idx_sql DECIMAL-folding rule
    lo_l = f"CAST({float(lo)} AS DOUBLE)"
    hi_l = f"CAST({float(hi)} AS DOUBLE)"
    n = n_buckets
    idx = bucket_idx_sql(value_col, lo, hi, n_buckets)
    return f"""
WITH b AS (
  SELECT {k}CAST({idx} AS INT) AS bucket_idx, count(*) AS n
  FROM {table} GROUP BY ALL
)
SELECT {k}bucket_idx,
       CASE WHEN bucket_idx >= 0 AND bucket_idx < {n}
            THEN {lo_l} + (bucket_idx * ({hi_l} - {lo_l})) / {n}
            ELSE CAST(NULL AS DOUBLE) END AS bucket_lo,
       n
FROM b
"""


def rollup_counts(df: DataFrame, dims: tuple[str, ...],
                  distinct_col: str | None = None) -> DataFrame:
    """Hierarchical ROLLUP over `dims`: counts at every prefix level plus
    the grand total, with a `grouping(dim)` flag per dimension so NULL data
    values are distinguishable from subtotal rows (ANSI GROUPING semantics,
    identical in DuckDB). One shuffle: Catalyst expands the rollup into
    grouping sets and plans a single partial+final hash aggregate.
    """
    if not dims:
        raise ValueError("rollup_counts requires at least one dimension")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    if distinct_col is not None:
        aggs.append(F.countDistinct(distinct_col).alias("n_distinct"))
    aggs.extend(F.grouping(d).cast("int").alias(f"g_{d}") for d in dims)
    return df.rollup(*dims).agg(*aggs)


def pivot_counts(df: DataFrame, row_key: str, pivot_col: str,
                 values: tuple[str, ...]) -> DataFrame:
    """Cross-tab counts: one output column per pivot value. `values` is
    REQUIRED (no discovery pass): an explicit list keeps the schema stable
    for the driver contract and skips the extra distinct-scan job Spark
    otherwise runs — at 100 TB a schema that depends on data content is a
    correctness hazard, not a convenience. NULL pivot values fall out of
    every bucket (counted in none, like SQL conditional aggregation).
    """
    if not values:
        raise ValueError("pivot_counts requires explicit pivot values")
    return (df.groupBy(row_key)
              .pivot(pivot_col, list(values))
              .agg(F.count(F.lit(1)))
              .na.fill(0, list(values)))


def cohort_retention(df: DataFrame, user_col: str,
                     unit: str = "week") -> DataFrame:
    """Cohort retention: users grouped by their FIRST activity period
    (`cohort`), counted in every later period they were active
    (`period_offset` = whole periods since the cohort start).

    Join-free shape: (1) distinct (user, period) — one two-phase hash
    aggregate with map-side combine, the only pass over the raw data;
    (2) cohort = partition-wide min over the user partition (one shuffle on
    the user key, no self-join back); (3) final aggregate on
    (cohort, offset) — cohort-count-sized. After step 1 each user carries
    exactly one row per period, and (cohort, offset) is a function of
    (user, period), so a plain count(*) IS the distinct-user count — no
    count(DISTINCT) expand at the widest stage.
    """
    divisor = {"day": 1, "week": 7}.get(unit)
    if divisor is None:
        raise ValueError(f"unit must be 'day' or 'week', got {unit!r}")
    period = F.date_trunc(unit, F.col("ts"))
    active = df.select(F.col(user_col).alias("user"),
                       period.alias("period")).distinct()
    w = Window.partitionBy("user")
    withc = active.withColumn("cohort", F.min("period").over(w))
    offset = (F.datediff(F.col("period"), F.col("cohort"))
              / F.lit(divisor)).cast("int")
    return (withc.groupBy("cohort", offset.alias("period_offset"))
                 .agg(F.count(F.lit(1)).alias("n_active")))


def funnel_counts(df: DataFrame, user_col: str, type_col: str,
                  steps: tuple[str, ...]) -> DataFrame:
    """Ordered-funnel analysis: how many users reached step k, where step
    k+1 must occur AT OR AFTER the user's earliest completion of step k
    (same-instant conversion counts; a user failing step k can never count
    for k+1 — the null propagates through the chained condition).

    One data-sized shuffle total: every per-step earliest-timestamp is a
    partition-wide window min over the SAME user partitioning, so Catalyst
    plans one Exchange + one partition-key Sort followed by k chained
    Window operators (no re-exchange, no re-sort between steps), then a
    partial+final per-user aggregate. No self-joins, no per-step scans of
    the raw data — plan pinned by test_plan_shape::test_funnel_plan.
    """
    if not steps:
        raise ValueError("funnel_counts requires at least one step")
    if len(set(steps)) != len(steps):
        raise ValueError(f"funnel steps must be distinct: {steps}")
    w = Window.partitionBy(user_col)
    cur = df.select(user_col, "ts", type_col)
    for i, s in enumerate(steps):
        cond = F.col(type_col) == s
        if i > 0:
            cond = cond & (F.col("ts") >= F.col(f"__step{i - 1}_ts"))
        cur = cur.withColumn(
            f"__step{i}_ts",
            F.min(F.when(cond, F.col("ts"))).over(w))
    per_user = cur.groupBy(user_col).agg(
        *[F.max(f"__step{i}_ts").alias(f"__s{i}")
          for i in range(len(steps))])
    one = per_user.agg(*[F.count(f"__s{i}").alias(f"__n{i}")
                         for i in range(len(steps))])
    stack = ", ".join(f"{i}, '{s}', __n{i}" for i, s in enumerate(steps))
    return one.selectExpr(
        f"stack({len(steps)}, {stack}) AS (step_idx, step, n_users)")


def zscore_outliers(df: DataFrame, keys: tuple[str, ...], value_col: str,
                    threshold: float = 3.0) -> DataFrame:
    """Per-group z-score outlier detection: rows whose value deviates from
    their group's mean by more than ``threshold`` population standard
    deviations — the standard telemetry anomaly screen.

    Exact global statistics require a second pass by construction; the
    stats relation is GROUP-sized (keys are categorical, bounded), so it
    broadcasts and the detection pass is one codegen scan + broadcast hash
    join — no data-sized shuffle at any size. Emits the input columns
    (z itself is intentionally not emitted: the comparison is robust to
    float summation-order noise, a raw z column's 6th decimal is not).
    """
    ks = list(keys)
    stats = df.groupBy(*ks).agg(
        F.avg(value_col).alias("__mu"),
        F.stddev_pop(value_col).alias("__sd"))
    v = F.col(value_col)
    return (df.join(F.broadcast(stats), ks)
              .where(F.abs(v - F.col("__mu")) > threshold * F.col("__sd"))
              .drop("__mu", "__sd"))


def iqr_outliers(df: DataFrame, keys: tuple[str, ...], value_col: str,
                 k: float = 1.5) -> DataFrame:
    """Per-group Tukey-fence outliers: rows outside
    ``[q1 - k*(q3-q1), q3 + k*(q3-q1)]`` — the robust (quantile-based)
    sibling of zscore_outliers, immune to the outliers inflating the very
    statistic that screens them.

    Exact ``percentile`` quartiles (type-7 — bit-identical to DuckDB
    quantile_cont, the quantile_stats contract) over a GROUP-sized stats
    relation broadcast back; k=1.5 is exact in binary, so the fence
    arithmetic is reproducible across engines. Same float-boundary hygiene
    as zscore: only verbatim input rows are emitted, never the fences.
    Exact quartiles buffer each group's values (the quantile_stats
    caveat) — for 100-TB per-key domains swap approx_percentile and
    accept the rank-error band.
    """
    ks = list(keys)
    stats = df.groupBy(*ks).agg(
        F.percentile(value_col, F.lit(0.25)).alias("__q1"),
        F.percentile(value_col, F.lit(0.75)).alias("__q3"))
    v = F.col(value_col)
    q1, q3 = F.col("__q1"), F.col("__q3")
    fence = F.lit(float(k)) * (q3 - q1)
    return (df.join(F.broadcast(stats), ks)
              .where((v < q1 - fence) | (v > q3 + fence))
              .drop("__q1", "__q3"))


def rate_spikes(df: DataFrame, type_col: str, ts_col: str = "ts",
                bucket: str = "day",
                factor: tuple[int, int] = (5, 4)) -> DataFrame:
    """Per-type event-rate buckets with spike flags: bucket counts by
    (type, date_trunc(bucket, ts)), then flag a bucket iff
    ``den * count > num * previous_count`` with ``factor = (num, den)`` —
    a RATIONAL threshold so the rule is pure integer arithmetic (no float
    boundary can diverge between engines). The first bucket of each type
    has no predecessor and is never a spike.

    Scale: one two-phase hash aggregate (partial counts map-side) shrinks
    the data to bucket granularity BEFORE the lag window, so the Exchange
    and sort operate on the bucket-count relation, not the events.
    """
    num, den = factor
    if num <= 0 or den <= 0:
        raise ValueError(f"factor must be a positive rational: {factor}")
    b = F.date_trunc(bucket, F.col(ts_col)).alias("bucket_ts")
    counts = df.groupBy(F.col(type_col), b).agg(
        F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy(type_col).orderBy("bucket_ts")
    prev = F.lag("n_events").over(w)
    return counts.select(
        type_col, "bucket_ts", "n_events",
        prev.alias("prev_events"),
        F.when(prev.isNull(), F.lit(0))
         .otherwise((F.lit(den) * F.col("n_events") > F.lit(num) * prev)
                    .cast("int")).alias("is_spike"))


def rolling_window_counts(df: DataFrame, key_col: str) -> DataFrame:
    """Per-key rolling event counts over event-time RANGE frames (e.g.
    events in the trailing 1/7 days INCLUSIVE of the current row) — the
    sliding-rate feature a telemetry pipeline derives per entity.

    The frames are true ``RANGE BETWEEN INTERVAL ... PRECEDING`` bounds on
    the timestamp ordering (peers at the same instant count together) —
    expressible only through SQL window syntax (the DataFrame API's
    rangeBetween takes numeric offsets), hence F.expr. All spans share one
    (key, ts) partitioning+sort, so Catalyst plans a single Exchange+Sort
    feeding one Window operator evaluating every frame.
    """
    cols = [
        F.expr(f"count(*) OVER (PARTITION BY {key_col} ORDER BY ts "
               f"RANGE BETWEEN INTERVAL {span} PRECEDING AND CURRENT ROW)")
         .alias(name)
        for name, span in (("n_1d", "1 DAYS"), ("n_7d", "7 DAYS"))]
    # carry the input columns; downstream projection prunes through Window
    return df.select("*", *cols)


def salted_conv_rollup(df: DataFrame) -> DataFrame:
    """Two-phase conv_id rollup with explicit salting (north_rule skew
    handling): partial-aggregate on (conv_id, salt) — the hot key fans out
    over 32 reducers — then final-aggregate on conv_id. At 10^12 turns a
    single hot conv cannot pin one reducer; AQE skew-join is the backstop
    (session.py sets spark.sql.adaptive.*).
    """
    salt = salt_column(32).alias("__salt")
    partial = (
        df.select("conv_id", salt)
          .groupBy("conv_id", "__salt")
          .agg(F.count(F.lit(1)).alias("__partial"))
    )
    return partial.groupBy("conv_id").agg(F.sum("__partial").alias("n_turns"))


def daily_rollup(events: DataFrame, days: list | None = None) -> DataFrame:
    """Per-(day, event_type) counts + exact distinct users — the rollup
    table `upsert_daily_rollup` maintains. `days` narrows recomputation to
    the affected partitions (the filter pushes to the scan)."""
    out = (events.withColumn("day", F.to_date("ts"))
                 .groupBy("day", "event_type")
                 .agg(F.count(F.lit(1)).alias("n_events"),
                      F.count_distinct("user_id").alias("n_users")))
    if days is not None:
        out = out.where(F.col("day").isin([str(d) for d in days]))
    return out


def upsert_daily_rollup(events: DataFrame, path: str,
                        days: list | None = None) -> None:
    """Incremental rollup maintenance via DYNAMIC partition overwrite: only
    the day partitions present in this run's result are atomically
    replaced; every other partition's files are untouched.

    This is the idempotent reprocessing primitive a 100-TB pipeline needs:
    late or corrected data for one day means recomputing ONE partition
    from that day's input slice (partition-pruned scan), never a full-table
    rewrite, and reruns converge to the same table (no append duplicates).
    Static overwrite (the default mode) would DROP the untouched days —
    the option is load-bearing; pinned by test."""
    (daily_rollup(events, days)
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("day")
     .parquet(path))


# ---------------------------------------------------------------------------
# incremental distinct-count maintenance (mergeable HLL sketches)
# ---------------------------------------------------------------------------


def distinct_sketches(df: DataFrame, keys: tuple[str, ...], col: str,
                      bucket_col=None) -> DataFrame:
    """Bucketed mergeable HLL sketches — the STORABLE state of incremental
    distinct counting (Apache DataSketches via Spark's hll_sketch_agg).

    One sketch per (keys, bucket) group, returned as a binary column a
    table can persist (e.g. one row per day). Answering "distinct over any
    bucket range" later is a union over the stored sketches
    (``merge_distinct_sketches``) — NO rescan of the event data, the whole
    point at 100 TB: a day's ingest appends one sketch row per key, and
    any window query folds sketch rows instead of 100 TB of events.

    Scale shape: one two-phase hash aggregate (hll_sketch_agg merges
    partial sketches map-side); state is 2^12 registers ≈ 4 KB per group
    (lgk=12: rel. std err 1.04/sqrt(2^12) ≈ 1.6%).
    """
    gb = [*keys] + ([bucket_col] if bucket_col is not None else [])
    return df.groupBy(*gb).agg(
        F.hll_sketch_agg(col, F.lit(12)).alias("sketch"))


def merge_distinct_sketches(sketches: DataFrame,
                            keys: tuple[str, ...]) -> DataFrame:
    """Fold stored sketches down to per-key estimates: (keys, n_buckets,
    distinct_est). Union is lossless for same-lgk sketches — the merged
    estimate is IDENTICAL to a single-pass sketch over the union of the
    inputs (test-pinned), so incremental maintenance converges to the
    full-recompute answer exactly."""
    return (sketches.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("n_buckets"),
                 F.hll_sketch_estimate(F.hll_union_agg("sketch"))
                  .alias("distinct_est")))


def distinct_sketch_rollup(df: DataFrame, keys: tuple[str, ...], col: str,
                           bucket_col) -> DataFrame:
    """Build bucketed sketches and immediately merge to per-key estimates —
    the one-shot face of the store-then-merge pair above (the driver
    query's shape). At gate scale the estimate sits in the sketch's exact
    (sparse/coupon) regime, so the DuckDB count(DISTINCT) oracle checks it
    value-exactly — the ann_ivf promotion pattern: the approximation only
    appears at cardinalities far beyond the correctness gate's."""
    return merge_distinct_sketches(
        distinct_sketches(df, keys, col, bucket_col), keys)


# ---------------------------------------------------------------------------
# count-min sketch (mergeable frequency state — the HLL's counting sibling)
# ---------------------------------------------------------------------------

CMS_W = 1024
CMS_D = 4
CMS_SALT = "cms-v1"


def _cms_bucket(key_col: str, depth: int, w: int, salt: str,
                hash_basis: str = "xxhash64"):
    framed = F.concat(F.lit(f"cms:{salt}:{depth}:"),
                      F.col(key_col).cast("string"))
    if hash_basis == "xxhash64":
        h = F.xxhash64(framed)  # engine-native, the production default
    elif hash_basis == "md5":
        from logstash_filter_geoip_spark.functions.hashing import md5_hash60
        h = md5_hash60(framed)  # engine-neutral, the oracle basis
    else:
        raise ValueError(f"hash_basis must be 'xxhash64' or 'md5', "
                         f"got {hash_basis!r}")
    return F.pmod(h, F.lit(w)).cast("int")


def _cms_bucket_sql(key_expr: str, depth: int, w: int, salt: str) -> str:
    from logstash_filter_geoip_spark.functions.hashing import md5_hash60_sql
    h = md5_hash60_sql(f"'cms:{salt}:{depth}:' || CAST({key_expr} AS STRING)")
    return f"CAST({h} % {w} AS INT)"


def cms_build(df: DataFrame, key_col: str, w: int = CMS_W, d: int = CMS_D,
              salt: str = CMS_SALT, hash_basis: str = "xxhash64") -> DataFrame:
    """Count-min sketch of a key column's frequencies: (depth, bucket, c)
    counter rows — the STORABLE, mergeable heavy-hitter state (Cormode &
    Muthukrishnan 2005). Estimates overcount only (collisions add, never
    subtract): est(k) ≥ true(k), and est(k) ≤ true(k) + e/w · N with
    probability 1 − e^−d.

    hash_basis follows the repo's simhash/fingerprint convention:
    "xxhash64" (default) is the engine-native production hash (measured
    3.2× cheaper at 2M keys: 2.3 s vs 7.4 s); the DRIVER query passes "md5" — the
    engine-neutral 60-bit family (functions/hashing.py) under which
    estimates are bit-identical across Spark, DuckDB, and Python, making
    the sketch fully oracle-checkable (collisions reproduce identically;
    build and estimate must share the basis — meta-mismatch yields
    garbage minima). Scale: one two-phase hash aggregate; the
    shuffle carries at most d × w counter keys (CONSTANT — 4096 rows at
    the defaults) regardless of input size. NULL keys are skipped (count
    them separately; a NULL is not a key)."""
    rows = df.where(F.col(key_col).isNotNull()).select(
        F.posexplode(F.array(*[
            _cms_bucket(key_col, i, w, salt, hash_basis) for i in range(d)
        ])).alias("depth", "bucket"))
    return rows.groupBy("depth", "bucket").agg(
        F.count(F.lit(1)).alias("c"))


def cms_merge(sketches: DataFrame) -> DataFrame:
    """Union of stored counter relations → one sketch: counters ADD, so
    the merged sketch is exactly the sketch of the concatenated inputs
    (test-pinned) — incremental ingest appends d×w rows per batch and any
    range query folds them."""
    return sketches.groupBy("depth", "bucket").agg(F.sum("c").alias("c"))


def cms_estimate(sketch: DataFrame, keys: DataFrame, w: int = CMS_W,
                 d: int = CMS_D, salt: str = CMS_SALT,
                 hash_basis: str = "xxhash64") -> DataFrame:
    """Point-frequency estimates for a key relation: est = min over the d
    counter rows the key hashes to (absent counter rows read 0). The keys
    side is query-sized; the sketch side is d×w rows — bounded, so its
    broadcast is pinned (never the key relation's)."""
    probes = keys.select(
        "key",
        F.posexplode(F.array(*[
            _cms_bucket("key", i, w, salt, hash_basis) for i in range(d)
        ])).alias("depth", "bucket"))
    return (probes.join(F.broadcast(sketch), ["depth", "bucket"], "left")
                  .groupBy("key")
                  .agg(F.min(F.coalesce("c", F.lit(0).cast("long")))
                        .alias("est")))


def cms_oracle_sql(table: str, key_expr: str, keys_sql: str) -> str:
    """DuckDB mirror of cms_build + cms_estimate over ``table``:
    ``keys_sql`` selects one ``key`` column of probe keys."""
    build_arms = "\n    UNION ALL\n".join(
        f"    SELECT {i} AS depth, "
        f"{_cms_bucket_sql(key_expr, i, CMS_W, CMS_SALT)}"
        f" AS bucket FROM {table} WHERE {key_expr} IS NOT NULL"
        for i in range(CMS_D))
    probe_arms = "\n    UNION ALL\n".join(
        f"    SELECT key, {i} AS depth, "
        f"{_cms_bucket_sql('key', i, CMS_W, CMS_SALT)} AS bucket FROM keys"
        for i in range(CMS_D))
    return f"""
WITH rows_b AS (
{build_arms}
),
sketch AS (
  SELECT depth, bucket, count(*) AS c FROM rows_b GROUP BY depth, bucket
),
keys AS ({keys_sql}),
probes AS (
{probe_arms}
)
SELECT p.key, CAST(min(coalesce(s.c, 0)) AS BIGINT) AS est
FROM probes p
LEFT JOIN sketch s ON s.depth = p.depth AND s.bucket = p.bucket
GROUP BY p.key
"""

# ---------------------------------------------------------------------------
# log2-bucketed quantile sketch (mergeable rank state — the sketch family's
# quantile member, next to HLL distinct and CMS frequency)
# ---------------------------------------------------------------------------

QSKETCH_SUB_BITS = 5  # sub-bucket resolution: rel. lower-bound error ≤ 2⁻⁵


def _qbucket(value: Column, sub_bits: int) -> Column:
    """HdrHistogram-style bucket LOWER BOUND of a non-negative integer:
    keep the top (sub_bits + 1) bits of x, zero the rest. Values below
    2^(sub_bits+1) are their own bucket (EXACT regime); above, the bucket
    spans x/2^sub_bits — relative width ≤ 2^-sub_bits per octave.

    Pure integer arithmetic (bit length via length(bin(x)), then a
    down-up shift pair), bit-identical across Spark, DuckDB, and Python
    (fuzz-pinned in tests/test_qsketch.py) — so the sketch is fully
    oracle-checkable at ANY cardinality, unlike estimate-regime sketches
    (HLL sparse-exact, ann recall locks). Public precedent: HdrHistogram
    (Gil Tene) / DDSketch (Masson et al., VLDB 2019) — this is the
    integer-exact HdrHistogram form, chosen over DDSketch's log-gamma
    buckets precisely because float log boundaries are NOT reproducible
    across engines at ties.

    Negative input raises (HdrHistogram's own contract): the guard is one
    comparison on the happy path."""
    x = value.cast("long")
    width = F.lit(sub_bits + 1)
    s = F.greatest(F.length(F.bin(x)) - width, F.lit(0))
    lo = F.call_function("shiftleft", F.call_function("shiftright", x, s), s)
    return F.when(
        x < 0,
        F.raise_error(F.lit("qsketch: negative value — the log2-bucketed "
                            "sketch is non-negative-only (offset the data "
                            "or sketch |x| per sign)")).cast("long")
    ).otherwise(lo)


def _qbucket_sql(value_expr: str, sub_bits: int) -> str:
    b = sub_bits + 1
    x = f"CAST({value_expr} AS BIGINT)"
    sh = f"(length(bin({x})) - {b})"
    return (f"CASE WHEN length(bin({x})) <= {b} THEN {x} "
            f"ELSE (({x} >> {sh}) << {sh}) END")


def qsketch_build(df: DataFrame, keys: tuple[str, ...], value_col: str,
                  sub_bits: int = QSKETCH_SUB_BITS) -> DataFrame:
    """Mergeable quantile sketch of a non-negative integer column:
    (keys..., bucket, c) counter rows — the STORABLE rank state a table
    persists per ingest batch (one relation per day, say), completing the
    sketch trio: HLL (distinct), CMS (frequency), qsketch (quantiles).

    Scale shape: one two-phase hash aggregate; the shuffle carries at most
    (64 − sub_bits) · 2^sub_bits + 2^(sub_bits+1) ≈ 2k distinct buckets
    per key group — CONSTANT in the input size, like the CMS's d×w rows.
    NULL values are skipped (count them separately; a NULL has no rank)."""
    v = F.col(value_col)
    return (df.where(v.isNotNull())
              .groupBy(*keys, _qbucket(v, sub_bits).alias("bucket"))
              .agg(F.count(F.lit(1)).alias("c")))


def qsketch_merge(sketches: DataFrame,
                  keys: tuple[str, ...]) -> DataFrame:
    """Union of stored sketch relations → one sketch: bucket counters ADD,
    so the merged sketch is exactly the sketch of the concatenated inputs
    (test-pinned) — incremental ingest appends ≤2k rows per key per batch
    and any range query folds stored rows, never the raw events."""
    return (sketches.groupBy(*keys, "bucket")
                    .agg(F.sum("c").alias("c")))


# quantiles as EXACT rationals (num, den): rank arithmetic stays integer,
# so rank selection is bit-identical across engines — never float q*n.
QSKETCH_QS: tuple[tuple[str, int, int], ...] = (
    ("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100))


def qsketch_quantiles(sketch: DataFrame, keys: tuple[str, ...]) -> DataFrame:
    """Quantile estimates from a sketch relation: for each q = num/den the
    answer is the smallest bucket lower bound whose cumulative count
    reaches rank ceil(q·n) (type-1 selection; ceil as integer arithmetic
    (num·n + den − 1) div den). The estimate is the true quantile's bucket
    lower bound: exact below 2^(sub_bits+1), within 2^-sub_bits relative
    above (error-locked in tests/test_qsketch.py).

    Runs entirely over the ≤2k-rows-per-key sketch relation — one window
    pass + one fold; the raw data is never rescanned (the whole point at
    100 TB)."""
    cum_w = Window.partitionBy(*keys).orderBy("bucket")
    tot_w = Window.partitionBy(*keys)
    c = (sketch.withColumn("cum", F.sum("c").over(cum_w))
               .withColumn("n", F.sum("c").over(tot_w)))
    aggs = [F.max("n").alias("n_values")] + [
        F.min(F.when(F.col("cum") >= F.expr(f"({num} * n + {den - 1}) "
                                            f"div {den}"),
                     F.col("bucket"))).alias(name)
        for name, num, den in QSKETCH_QS]
    return c.groupBy(*keys).agg(*aggs)


def qsketch_oracle_sql(table: str, keys: tuple[str, ...], value_expr: str,
                       lead: str = "WITH") -> str:
    """DuckDB mirror of qsketch_build → qsketch_quantiles over ``table``.
    Window sums CAST to BIGINT (DuckDB window sums are HUGEINT); rank
    ceil uses // floor division on (num·n + den − 1) — the same integers
    Spark's `div` produces. ``lead=','`` emits a continuation CTE for
    appending after the transcripts oracle prefix (the CLAUDE.md
    convention for transcript-derived oracles)."""
    ks = ", ".join(keys)
    sel = ", ".join(
        f"min(CASE WHEN cum >= (({num} * n + {den - 1}) // {den}) "
        f"THEN bucket END) AS {name}"
        for name, num, den in QSKETCH_QS)
    return f"""
{lead} b AS (
  SELECT {ks}, {_qbucket_sql(value_expr, QSKETCH_SUB_BITS)} AS bucket,
         count(*) AS c
  FROM {table} WHERE {value_expr} IS NOT NULL
  GROUP BY ALL
), cum AS (
  SELECT {ks}, bucket,
         CAST(sum(c) OVER (PARTITION BY {ks} ORDER BY bucket) AS BIGINT)
             AS cum,
         CAST(sum(c) OVER (PARTITION BY {ks}) AS BIGINT) AS n
  FROM b
)
SELECT {ks}, max(n) AS n_values, {sel}
FROM cum GROUP BY {ks}
"""
