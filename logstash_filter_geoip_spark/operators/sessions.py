"""Sessionization: gap-based session assignment and session-level rollups.

The reference's pipeline treats every event independently; sessionization is
the first derived structure a log-analytics consumer builds on top of it
(the reference's Kibana-facing docs group geoip-enriched events by visitor
session). Two implementations share one boundary rule — a NEW session
starts when the gap since the key's previous event EXCEEDS `gap` (ties and
exact-gap touches stay in the same session, matching Spark's native
`session_window` merge-on-touch semantics, so both paths agree):

- `sessionize` / `session_stats`: window-function path — lag() boundary
  flag + running sum gives a per-key session ordinal. ONE shuffle on the
  key; everything after is a hash aggregate on (key, session_idx) that
  reuses the same partitioning (no second exchange at scale). Equal
  timestamps are boundary-safe: their gap is 0 ≤ gap, so the flag is 0 for
  every tie ordering and the running sum is order-independent —
  deterministic without a tiebreak column.
- `session_window_agg`: Spark's native `F.session_window` aggregate — the
  streaming-capable flavor (works under watermarks in Structured
  Streaming); batch output carries the same [min_ts, max_ts + gap) bounds.

Skew note (100 TB): a single hot key serializes its own window partition —
that is inherent to ordered sessionization (the boundary depends on the
previous event). The mitigation at scale is range-bucketing time first
(sessions cannot span a bucket boundary wider than the max session length),
not salting; with the driver corpus's bounded keys the plain window is the
right plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _gap_flag(keys: list[str], ts_col: str, gap_s: int):
    w = Window.partitionBy(*keys).orderBy(ts_col)
    prev = F.lag(ts_col).over(w)
    # interval arithmetic, not unix_micros: valid for BOTH timestamp and
    # timestamp_ntz inputs (raw parquet scans surface ntz)
    gap_exceeded = F.col(ts_col) > prev + F.expr(
        f"INTERVAL {int(gap_s)} SECOND")
    return F.when(prev.isNull() | gap_exceeded,
                  F.lit(1)).otherwise(F.lit(0))


def sessionize(df: DataFrame, keys: list[str], ts_col: str = "ts",
               gap_s: int = 1800) -> DataFrame:
    """Append a per-key session ordinal (1-based): running sum of the
    new-session boundary flag. Null keys COALESCE into one shared window
    partition (SQL GROUP-BY-style null equality) and are sessionized
    together — filter or flag null keys upstream for dirty data; a null
    timestamp sorts first and starts session 1.
    """
    if not keys:
        raise ValueError("sessionize requires at least one key column")
    if gap_s <= 0:
        raise ValueError(f"gap_s must be positive, got {gap_s}")
    w = Window.partitionBy(*keys).orderBy(ts_col) \
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn("session_idx",
                         F.sum(_gap_flag(keys, ts_col, gap_s)).over(w))


def session_stats(df: DataFrame, keys: list[str], ts_col: str = "ts",
                  gap_s: int = 1800) -> DataFrame:
    """Per-session rollup: event count, start/end, duration (whole seconds,
    BIGINT — exact in both engines). The aggregate immediately downstream of
    `sessionize` groups on a superset of the window partition key, so
    Catalyst reuses the exchange — one shuffle total.
    """
    s = sessionize(df, keys, ts_col, gap_s)
    return (s.groupBy(*keys, "session_idx")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.min(ts_col).alias("session_start"),
                  F.max(ts_col).alias("session_end"),
                  # whole seconds, truncated (== floor, diff >= 0); ntz-safe
                  F.timestamp_diff("SECOND", F.min(ts_col), F.max(ts_col))
                  .alias("duration_s")))


def session_window_agg(df: DataFrame, keys: list[str], ts_col: str = "ts",
                       gap: str = "30 minutes") -> DataFrame:
    """Native `F.session_window` aggregate — identical sessions to
    `session_stats` (merge-on-touch), with the window's half-open
    [start, last_event + gap) bounds. This is the operator to lift into
    Structured Streaming (session_window + watermark); the batch plan is a
    single ObjectHashAggregate over the session-window grouping.
    """
    return (df.groupBy(*keys, F.session_window(ts_col, gap).alias("sw"))
              .agg(F.count(F.lit(1)).alias("n_events"))
              .select(*keys,
                      F.col("sw.start").alias("session_start"),
                      F.col("sw.end").alias("session_end"),
                      "n_events"))
