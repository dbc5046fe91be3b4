"""Trend detection over the event stream: multi-granularity CUBE rollups,
integer-exact time-decayed counts, and exact least-squares trend slopes.

The log-pipeline monitoring trio the drift/spike operators don't cover:

  * ``cube_rollup`` — ONE pass producing every (event_type × day)
    granularity at once via CUBE (Spark's Expand: each input row fans out
    to its 4 grouping sets BEFORE the shuffle, partial aggregation still
    applies — one Exchange, not four jobs). ``gid`` (grouping_id)
    disambiguates rolled-up NULLs from genuine NULL values, the standard
    GROUPING semantics both engines share.
  * ``decayed_counts`` — trending score per event_type under a
    power-of-two day-age decay: weight(age) = 2^(H − age) for age ≤ H.
    EXACT integer arithmetic (a bit shift per row, BIGINT sums — never a
    float pow: 0.5^age is not tie-reproducible across engines; the drift
    module's integer-ppm lesson). The reported ``score_num`` is in units
    of 2^-H: consumers divide once at the edge. The age anchor is the
    corpus max day — a 1-row broadcast, parameter-free and scale-correct.
  * ``trend_slopes`` — per-type least-squares slope over (day, daily
    count) emitted as the EXACT integer pair (slope_num, slope_den) =
    (n·Σxy − Σx·Σy, n·Σx² − (Σx)²); the float quotient is the caller's
    one division (the pricing_summary sum+count convention). Day numbers
    are days-since-epoch BIGINTs — x² ≈ 4e8, safely inside BIGINT sums.

Scale shape: every operator is scan → (Expand →) two-phase hash aggregate
on bounded keys (|event types| × |days|); the decay/slope second stage
aggregates the ALREADY-day-level relation (tiny). NULL ts joins no bucket:
decay/slope drop NULL-ts rows explicitly (three-valued; the drift rule),
cube_rollup keeps them as genuine NULL day groups (gid tells them apart).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from logstash_filter_geoip_spark.sources.transcripts import load_table

DECAY_HORIZON_DAYS = 20
_EPOCH = "1970-01-01"


def _day_num(ts_col: str = "ts") -> F.Column:
    """Days since epoch as BIGINT — the one day-number spelling both
    engines share (`CAST(ts AS DATE) - DATE '1970-01-01'` in DuckDB)."""
    return F.datediff(F.to_date(F.col(ts_col)),
                      F.lit(_EPOCH).cast("date")).cast("long")


def cube_rollup(events: DataFrame) -> DataFrame:
    """Counts and exact cent-sums for every grouping set of
    (event_type, day) in one pass. ``gid`` = grouping_id (event_type is
    the high bit, matching GROUPING(event_type, day))."""
    cents = F.round(F.col("value") * 100).cast("long")
    return (events
            .select("event_type",
                    F.date_trunc("day", F.col("ts")).alias("day"),
                    cents.alias("cents"))
            .cube("event_type", "day")
            .agg(F.grouping_id().alias("gid"),
                 F.count(F.lit(1)).alias("n_events"),
                 F.sum("cents").alias("sum_cents")))


def decayed_counts(events: DataFrame,
                   horizon_days: int = DECAY_HORIZON_DAYS) -> DataFrame:
    """Per-type trending score: each event weighs 2^(H − age_days) where
    age is measured from the corpus max day; events older than H (or with
    NULL ts) contribute nothing. Returns (event_type, n_recent,
    score_num) — score = score_num / 2^H."""
    if not 0 <= horizon_days <= 60:
        raise ValueError(f"horizon_days must be in [0, 60]: {horizon_days}")
    days = events.select("event_type", _day_num().alias("d"))
    anchor = days.agg(F.max("d").alias("max_d"))
    aged = (days.crossJoin(F.broadcast(anchor))
                .withColumn("age", F.col("max_d") - F.col("d"))
                .where(F.col("age") <= horizon_days))
    # F.shiftleft takes a literal bit count; the per-row exponent needs the
    # SQL form (both operands columns)
    w = F.expr(f"shiftleft(CAST(1 AS BIGINT), "
               f"CAST({int(horizon_days)} - age AS INT))")
    return (aged.groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n_recent"),
                     F.sum(w).alias("score_num")))


def trend_slopes(events: DataFrame) -> DataFrame:
    """Per-type least-squares slope of daily counts vs day, as the exact
    integer pair (slope_num, slope_den); slope_den > 0 whenever the type
    spans ≥ 2 distinct days (emitted rows are restricted to those —
    single-day types have no trend)."""
    daily = (events.where(F.col("ts").isNotNull())
                   .groupBy("event_type", _day_num().alias("d"))
                   .agg(F.count(F.lit(1)).alias("y")))
    agg = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("d").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("d") * F.col("y")).alias("sxy"),
        F.sum(F.col("d") * F.col("d")).alias("sxx"))
    num = F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (agg.where(F.col("n_days") >= 2)
               .select("event_type", "n_days",
                       num.alias("slope_num"), den.alias("slope_den")))


FLAP_MIN_RUN = 2
FLAP_THRESHOLD = 100.0  # driver-scale state rule: value >= 100 → 'high'


def debounced_transitions(df: DataFrame, entity_cols: list[str],
                          state_col: str,
                          min_run: int = FLAP_MIN_RUN) -> DataFrame:
    """Alert flap suppression — the monitoring dedup: per entity, emit a
    state TRANSITION only when the new state persisted for ≥ ``min_run``
    consecutive observations (shorter runs are flaps and are swallowed;
    a suppressed flap does NOT reset the emitted state, so A→B→A with a
    1-row B emits nothing). Returns (entity..., state, prev_state,
    run_len, run_start) — prev_state NULL on the first emitted run.

    One rule in both engines: rows order by (ts, event_id) (a TOTAL
    order — ts alone ties); NULL-ts rows drop (no engine-shared NULL
    ordering — the rolling_drift lesson); state comparisons are
    null-safe (IS DISTINCT FROM), a NULL state is a real state. Shape:
    change flags + running-sum run ids (the sessionize gaps-and-islands
    machinery) over ONE entity Exchange → a run-level aggregate (bounded
    by run count) → a second window over that already-aggregated
    relation. The first QUALIFYING run always emits (prev_state NULL) —
    a first run shorter than min_run is itself a flap and is suppressed
    like any other (the run_len gate applies before first-row
    selection; code and oracle agree)."""
    if min_run < 1:
        raise ValueError(f"min_run must be >= 1: {min_run}")
    ents = [F.col(c) for c in entity_cols]
    w = Window.partitionBy(*ents).orderBy(F.col("ts"), F.col("event_id"))
    chg = (~F.col(state_col).eqNullSafe(F.lag(state_col).over(w))) \
        | (F.row_number().over(w) == 1)
    runs = (df.where(F.col("ts").isNotNull())
              .withColumn("__chg", chg.cast("long"))
              .withColumn("__run", F.sum("__chg").over(
                  w.rowsBetween(Window.unboundedPreceding,
                                Window.currentRow)))
              .groupBy(*ents, F.col("__run"))
              .agg(F.min(state_col).alias("state"),
                   F.count(F.lit(1)).alias("run_len"),
                   F.min("ts").alias("run_start")))
    wq = Window.partitionBy(*ents).orderBy("__run")
    qual = (runs.where(F.col("run_len") >= min_run)
                .withColumn("prev_state", F.lag("state").over(wq))
                .withColumn("__first", F.row_number().over(wq) == 1))
    return (qual.where(F.col("__first")
                       | ~F.col("state").eqNullSafe(F.col("prev_state")))
                .select(*entity_cols, "state", "prev_state", "run_len",
                        "run_start"))


def debounced_transitions_oracle_sql() -> str:
    """DuckDB mirror over events with the driver-scale state rule
    (value >= FLAP_THRESHOLD → 'high'); same total order, same null-safe
    change flags, same run aggregate + qualifying-run lag."""
    return f"""
WITH flap_states AS (
  SELECT user_id, event_id, ts,
         CASE WHEN value >= {FLAP_THRESHOLD} THEN 'high' ELSE 'normal' END
             AS state
  FROM events WHERE ts IS NOT NULL
),
flap_chg AS (
  SELECT *,
         CASE WHEN row_number() OVER w = 1
                   OR state IS DISTINCT FROM lag(state) OVER w
              THEN 1 ELSE 0 END AS chg
  FROM flap_states
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
flap_runs AS (
  SELECT user_id,
         CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS BIGINT) AS run,
         state, ts
  FROM flap_chg
),
flap_agg AS (
  SELECT user_id, run, min(state) AS state,
         CAST(count(*) AS BIGINT) AS run_len, min(ts) AS run_start
  FROM flap_runs GROUP BY 1, 2
),
flap_qual AS (
  SELECT *, lag(state) OVER wq AS prev_state,
         row_number() OVER wq = 1 AS is_first
  FROM flap_agg WHERE run_len >= {FLAP_MIN_RUN}
  WINDOW wq AS (PARTITION BY user_id ORDER BY run)
)
SELECT user_id, state, prev_state, run_len, run_start
FROM flap_qual
WHERE is_first OR state IS DISTINCT FROM prev_state
"""


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


def _flap_states(events: DataFrame,
                 threshold: float = FLAP_THRESHOLD) -> DataFrame:
    state = (F.when(F.col("value") >= threshold, "high")
              .otherwise("normal"))
    return events.select("user_id", "event_id", "ts",
                         state.alias("state"))


def queries():
    return {
        "cube_rollup": lambda s, d: cube_rollup(load_table(s, d, "events")),
        "decayed_counts": lambda s, d: decayed_counts(
            load_table(s, d, "events")),
        "trend_slopes": lambda s, d: trend_slopes(load_table(s, d, "events")),
        "flap_transitions": lambda s, d: debounced_transitions(
            _flap_states(load_table(s, d, "events")), ["user_id"], "state"),
    }


def oracles() -> dict[str, str]:
    # day buckets CAST to TIMESTAMP (DuckDB date_trunc('day') yields DATE);
    # BIGINT casts on sums (HUGEINT); GROUPING(event_type, day) matches
    # Spark's cube-order grouping_id bit layout.
    return {
        "cube_rollup": """
SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       CAST(GROUPING(event_type, CAST(date_trunc('day', ts) AS TIMESTAMP))
            AS BIGINT) AS gid,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
GROUP BY CUBE (event_type, CAST(date_trunc('day', ts) AS TIMESTAMP))
""",
        "decayed_counts": f"""
WITH dd AS (
  SELECT event_type, CAST(ts AS DATE) - DATE '{_EPOCH}' AS d
  FROM events
),
anchor AS (SELECT max(d) AS max_d FROM dd)
SELECT event_type, count(*) AS n_recent,
       CAST(sum(CAST(1 AS BIGINT)
                << ({DECAY_HORIZON_DAYS} - (max_d - d))) AS BIGINT)
           AS score_num
FROM dd CROSS JOIN anchor
WHERE max_d - d <= {DECAY_HORIZON_DAYS}
GROUP BY event_type
""",
        "trend_slopes": f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) - DATE '{_EPOCH}' AS d,
         CAST(count(*) AS BIGINT) AS y
  FROM events WHERE ts IS NOT NULL
  GROUP BY 1, 2
),
aggd AS (
  SELECT event_type, count(*) AS n_days,
         CAST(sum(d) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(d * y) AS BIGINT) AS sxy,
         CAST(sum(d * d) AS BIGINT) AS sxx
  FROM daily GROUP BY event_type
)
SELECT event_type, n_days,
       n_days * sxy - sx * sy AS slope_num,
       n_days * sxx - sx * sx AS slope_den
FROM aggd WHERE n_days >= 2
""",
        "flap_transitions": debounced_transitions_oracle_sql(),
    }
