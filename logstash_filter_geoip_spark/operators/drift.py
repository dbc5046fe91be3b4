"""Distribution-drift screens between two event-time windows — the
data-quality staple for feed monitoring and training-snapshot curation
(did the event mix / value distribution shift between the baseline
window and the current one?).

Four operators:

  * ``categorical_drift`` — per-category share comparison (event types,
    sources, languages) across one split timestamp: counts and ppm
    shares on each side plus an integer-exact lift flag.
  * ``value_drift`` — the same comparison over fixed-width numeric
    buckets, reusing THE shared histogram bucket rule
    (aggregate.bucket_idx_expr / bucket_idx_sql — single definition,
    both engines).
  * ``drift_summary`` — one row: side totals, number of drifted buckets,
    and the total-variation distance at ppm granularity.
  * ``rolling_drift`` — the no-fixed-split production shape: each
    date_trunc bucket's category share vs the category's previous
    bucket via lag.

Streaming twins live in streaming/incremental.py (the drift_state /
rolling_drift_state faces): stage-1 counts are pure addition, persisted
under the CMS batch-id fence; the read faces apply the SAME stage-2
arithmetic, so drained == batch row-identically.

Exactness contract (the bootstrap/transition_counts discipline): every
comparison is INTEGER arithmetic. Shares are ``count * 1e6 div total``
(truncating integer division — identical in Spark ``div`` and DuckDB
``//`` on non-negative counts), the drift flag is a ppm cross-
multiplication (``ppm_curr * den > ppm_base * num`` — never a float
ratio), and TVD is ``sum(|ppm_base - ppm_curr|) div 2``. No floats
anywhere, so the oracle is bit-exact at any cardinality. Detection
granularity is 1 ppm — shares below that truncate to 0 on both engines
identically.

NULL semantics (both engines, CASE/count semantics): a NULL timestamp
row belongs to NEITHER side (the split predicate is three-valued) but
its bucket row still exists; a NULL category / NULL value groups as the
NULL bucket. An EMPTY side makes that side's shares NULL (nullif-guarded
division — no ANSI divide-by-zero), and flags involving a NULL share are
NULL, never a false positive.

Scale shape (100 TB): one pushed-down scan (ts + bucket columns only) →
two-phase hash aggregate on the bucket key (map-side partial, shuffle
carries ≤ |buckets| rows per partition) → SinglePartition window over
the ALREADY-AGGREGATED ≤ |buckets|+2-row relation for the totals (the
transition_counts shape — never a 1-row-agg join-back that re-derives
the scan). No joins, no Python. The plan is pinned by
tests/test_drift.py.

Reference parity note: the reference (logstash-filter-geoip) has no
drift operator — this extends the training-data-pipeline surface the
task mandates (corpus snapshot monitoring).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from logstash_filter_geoip_spark.operators.aggregate import (bucket_idx_expr,
                                                             bucket_idx_sql)
from logstash_filter_geoip_spark.sources.transcripts import load_table

PPM = 1_000_000


def _check_lift(lift: tuple[int, int]) -> tuple[int, int]:
    num, den = lift
    if not (isinstance(num, int) and isinstance(den, int)):
        raise ValueError(f"lift must be an integer ratio: {lift}")
    if num <= den or den < 1:
        raise ValueError(f"lift must be > 1 as num/den with den >= 1: {lift}")
    return num, den


def side_counts(df: DataFrame, bucket: Column, bucket_name: str,
                ts_col: str, split_ts: str) -> DataFrame:
    """Stage 1 — per-bucket (n_base, n_curr) side counts. PURE ADDITION
    under union+re-aggregation, so this is the mergeable state the
    streaming twin (streaming/incremental.drift_state) persists."""
    # literal cast to the column's OWN type: raw parquet scans surface
    # TIMESTAMP_NTZ and a TIMESTAMP_LTZ literal would not compare (ANSI)
    split = F.lit(split_ts).cast(df.schema[ts_col].dataType)
    ts = F.col(ts_col)
    return (df.groupBy(bucket.alias(bucket_name))
              .agg(F.count(F.when(ts < split, 1)).alias("n_base"),
                   F.count(F.when(ts >= split, 1)).alias("n_curr")))


def with_shares(counted: DataFrame, bucket_name: str,
                lift: tuple[int, int]) -> DataFrame:
    """Stage 2 — ppm shares + lift flag over a (bucket, n_base, n_curr)
    relation (batch and streaming read the SAME arithmetic)."""
    num, den = _check_lift(lift)
    w = Window.partitionBy()
    shared = (counted
              .withColumn("__tb", F.sum("n_base").over(w))
              .withColumn("__tc", F.sum("n_curr").over(w))
              .withColumn("ppm_base",
                          F.expr(f"n_base * {PPM} div nullif(__tb, 0)"))
              .withColumn("ppm_curr",
                          F.expr(f"n_curr * {PPM} div nullif(__tc, 0)")))
    drifted = ((F.col("ppm_curr") * den > F.col("ppm_base") * num)
               | (F.col("ppm_base") * den > F.col("ppm_curr") * num))
    return shared.select(bucket_name, "n_base", "n_curr",
                         "ppm_base", "ppm_curr",
                         drifted.cast("int").alias("drifted"))


def categorical_drift(df: DataFrame, cat_col: str, ts_col: str,
                      split_ts: str,
                      lift: tuple[int, int] = (12, 10)) -> DataFrame:
    """Per-category drift between the two sides of ``split_ts``: a
    category is ``drifted`` when its ppm share moved by more than the
    ``num/den`` lift in either direction (integer cross-multiplication,
    never a float ratio)."""
    return with_shares(
        side_counts(df, F.col(cat_col), cat_col, ts_col, split_ts),
        cat_col, lift)


def value_drift(df: DataFrame, value_col: str, ts_col: str, split_ts: str,
                lo: float, hi: float, n_buckets: int,
                lift: tuple[int, int] = (12, 10)) -> DataFrame:
    """Binned numeric drift: the shared fixed-width histogram bucket rule
    (sentinels -1 / n for out-of-range, NULL bucket for NULL values),
    then the categorical comparison over bucket indexes."""
    bucket = bucket_idx_expr(value_col, lo, hi, n_buckets)
    return with_shares(
        side_counts(df, bucket, "bucket_idx", ts_col, split_ts),
        "bucket_idx", lift)


def drift_summary(buckets: DataFrame) -> DataFrame:
    """One-row rollup of a drift relation (either operator's output):
    side totals, drifted-bucket count, and total-variation distance at
    ppm granularity (``sum(|ppm_base - ppm_curr|) div 2`` — NULL shares
    from an empty side drop out of the sum in both engines)."""
    return buckets.agg(
        F.sum("n_base").alias("tot_base"),
        F.sum("n_curr").alias("tot_curr"),
        F.coalesce(F.sum("drifted"), F.lit(0)).cast("long")
         .alias("n_drifted"),
        F.expr("sum(abs(ppm_base - ppm_curr)) div 2").alias("tvd_ppm"))


# ---------------------------------------------------------------------------
# oracle SQL generators (full DuckDB queries over a named table)
# ---------------------------------------------------------------------------

def _drift_oracle(table: str, bucket_sql: str, bucket_name: str,
                  ts_col: str, split_ts: str,
                  lift: tuple[int, int]) -> str:
    num, den = _check_lift(lift)
    return f"""
WITH drift_b AS (
  SELECT {bucket_sql} AS {bucket_name},
         count(CASE WHEN {ts_col} < TIMESTAMP '{split_ts}' THEN 1 END)
           AS n_base,
         count(CASE WHEN {ts_col} >= TIMESTAMP '{split_ts}' THEN 1 END)
           AS n_curr
  FROM {table} GROUP BY 1
), drift_t AS (
  SELECT *, CAST(sum(n_base) OVER () AS BIGINT) AS tb,
            CAST(sum(n_curr) OVER () AS BIGINT) AS tc
  FROM drift_b
), drift_p AS (
  SELECT {bucket_name}, n_base, n_curr,
         CAST(n_base * {PPM} // nullif(tb, 0) AS BIGINT) AS ppm_base,
         CAST(n_curr * {PPM} // nullif(tc, 0) AS BIGINT) AS ppm_curr
  FROM drift_t
)
SELECT {bucket_name}, n_base, n_curr, ppm_base, ppm_curr,
       CAST(ppm_curr * {den} > ppm_base * {num}
            OR ppm_base * {den} > ppm_curr * {num} AS INT) AS drifted
FROM drift_p
"""


def categorical_drift_oracle_sql(table: str, cat_col: str, ts_col: str,
                                 split_ts: str,
                                 lift: tuple[int, int] = (12, 10)) -> str:
    return _drift_oracle(table, cat_col, cat_col, ts_col, split_ts, lift)


def value_drift_oracle_sql(table: str, value_col: str, ts_col: str,
                           split_ts: str, lo: float, hi: float,
                           n_buckets: int,
                           lift: tuple[int, int] = (12, 10)) -> str:
    bucket = bucket_idx_sql(value_col, lo, hi, n_buckets)
    return _drift_oracle(table, bucket, "bucket_idx", ts_col, split_ts,
                         lift)


def drift_summary_oracle_sql(drift_sql: str) -> str:
    """Wrap a drift oracle query into the one-row summary (identical
    integer arithmetic; window sums CAST to BIGINT — DuckDB HUGEINT)."""
    return f"""
WITH d AS ({drift_sql})
SELECT CAST(sum(n_base) AS BIGINT) AS tot_base,
       CAST(sum(n_curr) AS BIGINT) AS tot_curr,
       CAST(coalesce(sum(drifted), 0) AS BIGINT) AS n_drifted,
       CAST(sum(abs(ppm_base - ppm_curr)) // 2 AS BIGINT) AS tvd_ppm
FROM d
"""


# ---------------------------------------------------------------------------
# driver-contract queries over the events table
# ---------------------------------------------------------------------------

# the events corpus spans 2024-01-01 .. 2024-01-30; split mid-month so
# both sides carry real mass
_SPLIT = "2024-01-16 00:00:00"
_LIFT = (12, 10)
_VHIST = dict(lo=0.0, hi=100.0, n_buckets=20)  # == the value_histogram box


def q_categorical_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type mix drift across the mid-corpus split (1.2x lift
    flag, integer-exact ppm shares)."""
    ev = load_table(spark, sf_dir, "events")
    return categorical_drift(ev, "event_type", "ts", _SPLIT, _LIFT)


def q_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-distribution drift across the same split over the shared
    histogram buckets (sentinel out-of-range buckets exercised — the
    corpus has values above the box)."""
    ev = load_table(spark, sf_dir, "events")
    return value_drift(ev, "value", "ts", _SPLIT, lift=_LIFT, **_VHIST)


def q_drift_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row TVD + drifted-bucket rollup of the value drift."""
    return drift_summary(q_value_drift(spark, sf_dir))


def q_rolling_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day event-type share drift (the no-fixed-split feed
    monitor). Timestamps render in the session timezone — pin UTC so an
    externally built session matches the oracle's naive instants."""
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load_table(spark, sf_dir, "events")
    return rolling_drift(ev, "event_type", "ts", "day", _LIFT)


def queries():
    return {
        "categorical_drift": q_categorical_drift,
        "value_drift": q_value_drift,
        "drift_summary": q_drift_summary,
        "rolling_drift": q_rolling_drift,
    }


def oracles() -> dict[str, str]:
    value_sql = value_drift_oracle_sql("events", "value", "ts", _SPLIT,
                                       lift=_LIFT, **_VHIST)
    return {
        "categorical_drift": categorical_drift_oracle_sql(
            "events", "event_type", "ts", _SPLIT, _LIFT),
        "value_drift": value_sql,
        "drift_summary": drift_summary_oracle_sql(value_sql),
        "rolling_drift": rolling_drift_oracle_sql(
            "events", "event_type", "ts", "day", _LIFT),
    }


def rolling_drift(df: DataFrame, cat_col: str, ts_col: str,
                  bucket: str = "day",
                  lift: tuple[int, int] = (12, 10)) -> DataFrame:
    """Day-over-day (or any date_trunc bucket) categorical drift — the
    production feed-monitor shape with no fixed split: each bucket's
    category share compares to the category's PREVIOUS bucket via lag
    (gaps skip to the last bucket the category appeared in — compose
    with temporal.resample_fill first for a dense calendar). Same
    integer discipline as the split operators: ppm by truncating
    division, flag by cross-multiplication; the first bucket per
    category has NULL prev_ppm and a NULL flag, never a false positive.
    NULL-ts rows are DROPPED (a row with no timestamp has no bucket in a
    time series — and a NULL bucket would order NULLS FIRST in Spark's
    lag chain but NULLS LAST in DuckDB's, fuzz-caught); NULL categories
    still bucket normally.

    Scale shape: one two-phase aggregate on (bucket, category) — the
    Exchange carries the bucket×category relation, not events — then two
    windows over that tiny relation."""
    return rolling_shares(
        rolling_counts_stage(df, cat_col, ts_col, bucket), cat_col, lift)


def rolling_counts_stage(df: DataFrame, cat_col: str, ts_col: str,
                         bucket: str = "day") -> DataFrame:
    """Stage 1 — per-(bucket_ts, category) counts. PURE ADDITION under
    union+re-aggregation: the mergeable state the rolling_drift_state
    face persists (state size = calendar buckets × categories)."""
    day = F.date_trunc(bucket, F.col(ts_col))
    return (df.where(F.col(ts_col).isNotNull())
              .groupBy(day.alias("bucket_ts"), F.col(cat_col))
              .agg(F.count(F.lit(1)).alias("n")))


def rolling_shares(counted: DataFrame, cat_col: str,
                   lift: tuple[int, int]) -> DataFrame:
    """Stage 2 — per-bucket shares + lag comparison over a
    (bucket_ts, category, n) relation (batch and streaming read the SAME
    arithmetic)."""
    num, den = _check_lift(lift)
    w_day = Window.partitionBy("bucket_ts")
    w_cat = Window.partitionBy(cat_col).orderBy("bucket_ts")
    shared = (counted
              .withColumn("__tot", F.sum("n").over(w_day))
              .withColumn("share_ppm",
                          F.expr(f"n * {PPM} div nullif(__tot, 0)"))
              .withColumn("prev_ppm", F.lag("share_ppm").over(w_cat)))
    drifted = ((F.col("share_ppm") * den > F.col("prev_ppm") * num)
               | (F.col("prev_ppm") * den > F.col("share_ppm") * num))
    return shared.select("bucket_ts", cat_col, "n", "share_ppm",
                         "prev_ppm", drifted.cast("int").alias("drifted"))


def rolling_drift_oracle_sql(table: str, cat_col: str, ts_col: str,
                             bucket: str = "day",
                             lift: tuple[int, int] = (12, 10)) -> str:
    """DuckDB mirror: date_trunc CAST to TIMESTAMP (DuckDB yields DATE
    for 'day' — the session-6 rule); window sums CAST to BIGINT."""
    num, den = _check_lift(lift)
    return f"""
WITH rc AS (
  SELECT CAST(date_trunc('{bucket}', {ts_col}) AS TIMESTAMP) AS bucket_ts,
         {cat_col}, count(*) AS n
  FROM {table} WHERE {ts_col} IS NOT NULL GROUP BY 1, 2
), rt AS (
  SELECT *, CAST(sum(n) OVER (PARTITION BY bucket_ts) AS BIGINT) AS tot
  FROM rc
), rp AS (
  SELECT bucket_ts, {cat_col}, n,
         CAST(n * {PPM} // nullif(tot, 0) AS BIGINT) AS share_ppm
  FROM rt
), rl AS (
  SELECT *, lag(share_ppm) OVER (PARTITION BY {cat_col}
                                 ORDER BY bucket_ts) AS prev_ppm
  FROM rp
)
SELECT bucket_ts, {cat_col}, n, share_ppm, prev_ppm,
       CAST(share_ppm * {den} > prev_ppm * {num}
            OR prev_ppm * {den} > share_ppm * {num} AS INT) AS drifted
FROM rl
"""
