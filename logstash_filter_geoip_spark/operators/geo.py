"""Geo-motion analytics over enriched (GeoIP-located) event streams.

``geo_velocity`` is the classic SIEM "impossible travel" screen the
reference's users build downstream of the geoip filter (the filter itself
stops at enrichment — GeoIPFilter.java:199 returns the located event; the
velocity rule is the canonical consumer of its `geo.location` output):
consecutive located rows of one partition (conversation / user / device)
whose implied ground speed exceeds a threshold are flagged as violations —
a shared credential, a proxy hop, or a spoofed source address.

Exactness contract (the repo-wide integer rule): latitude/longitude are
rounded to MILLIDEGREE integers (~111 m — far below any impossible-travel
threshold), the time delta is whole seconds via ``timestamp_diff`` (ntz-safe,
truncating; the ``ts >= prev_ts`` gate makes truncation == floor), and the
violation predicate is division-free pure-BIGINT cross-multiplication:

    (dlat² + wrap(dlon)²) · 3600² > vmax² · dt_s²

``wrap(dlon) = least(|dlon|, 360000 − |dlon|)`` takes the short way around
the antimeridian. Both engines evaluate the identical integer expression —
bit-exact, no trig, no floats (a haversine would be more "accurate" but sin/
cos/asin are NOT tie-reproducible across engines at the 6dp hash boundary,
and a velocity *screen* needs a bound, not survey-grade geodesy: the planar
millidegree metric is within 2× of great-circle distance everywhere below
±80° latitude, and thresholds are order-of-magnitude knobs).

Overflow audit (BIGINT = 2^63−1 ≈ 9.2e18): dlat, wrap(dlon) ≤ 180_000 mdeg
so dist2 ≤ 6.48e10 and dist2·12_960_000 ≤ 8.4e17 — always safe; the right
side is guarded by the ``vmax · max_gap ≤ 3_037_000_499`` constructor check
(isqrt(2^63−1)), which the defaults clear by 4 orders of magnitude.

Scale shape: one filter → one window (lag over the partition key) → one
projection. Partitioning on the same key as the upstream derivation (e.g.
the transcripts conv_id window) reuses the existing Exchange — the
role_transitions rule; plan-pinned in tests/test_geo.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["geo_velocity", "velocity_oracle_cte", "velocity_pairs_pd",
           "VMAX_MDEG_PER_HR", "MAX_GAP_S"]

# Default threshold: 9000 millidegrees/hour ≈ 9°/h ≈ 1000 km/h — just above
# commercial-flight ground speed, the conventional impossible-travel bar.
VMAX_MDEG_PER_HR = 9000
# Pairs farther apart than this are not comparable (slow travel + long gap
# is always explainable); also bounds the BIGINT arithmetic.
MAX_GAP_S = 86400

# explicit DOUBLE on both sides: a bare 1000.0 literal parses as DECIMAL in
# Spark SQL *and* DuckDB, and a DECIMAL product would round differently
_MDEG_SCALE = 1000.0
_MDEG_SCALE_SQL = "CAST(1000.0 AS DOUBLE)"
_SPH2 = 3600 * 3600             # (seconds per hour)², the unit bridge
_WRAP = 360_000                 # full circle in millidegrees
# floor(sqrt(2^63 - 1)): vmax·dt must stay below this for vmax²·dt² to fit
_MAX_VMAX_GAP = 3_037_000_499


def _check_params(vmax_mdeg_per_hr: int, max_gap_s: int) -> None:
    if vmax_mdeg_per_hr <= 0 or max_gap_s <= 0:
        raise ValueError("vmax_mdeg_per_hr and max_gap_s must be positive, "
                         f"got {vmax_mdeg_per_hr}, {max_gap_s}")
    if vmax_mdeg_per_hr * max_gap_s > _MAX_VMAX_GAP:
        raise ValueError(
            "vmax_mdeg_per_hr * max_gap_s = "
            f"{vmax_mdeg_per_hr * max_gap_s} would overflow BIGINT in the "
            f"squared-speed comparison (limit {_MAX_VMAX_GAP})")


def _mdeg(c: Column) -> Column:
    # round() is HALF_UP in Spark and half-away-from-zero in DuckDB —
    # identical on every input (away from zero both); the product is the
    # same IEEE double in both engines, so the integer is bit-exact.
    return F.round(c * F.lit(_MDEG_SCALE), 0).cast("long")


def geo_velocity(df: DataFrame, vmax_mdeg_per_hr: int = VMAX_MDEG_PER_HR,
                 carry: tuple[str, ...] = ()) -> DataFrame:
    """Impossible-travel screen: one row per consecutive located pair within
    ``MAX_GAP_S``, flagged ``is_violation`` when the implied speed exceeds
    ``vmax_mdeg_per_hr`` (millidegrees/hour; 1000 mdeg ≈ 111 km at the
    equator, so 9000 ≈ 1000 km/h).

    Input rows whose lat/lon are null (enrich misses) are dropped before
    pairing — a miss between two located rows does NOT break the pair (the
    previous *located* row is the reference point, the SIEM convention).
    Pairs with ``ts < prev_ts`` (out-of-order timestamps under the chosen
    ordering) are excluded: a negative delta means clock skew, not travel.
    ``carry`` columns are emitted for both endpoints (``prev_<name>``).
    """
    _check_params(vmax_mdeg_per_hr, MAX_GAP_S)
    lat, lon = F.col("lat"), F.col("lon")
    hits = (df.where(lat.isNotNull() & lon.isNotNull())
              .select("conv_id", "turn_idx", "ts", *carry,
                      _mdeg(lat).alias("lat_mdeg"),
                      _mdeg(lon).alias("lon_mdeg")))
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    lagged = hits.select(
        "conv_id", "turn_idx", "ts", "lat_mdeg", "lon_mdeg", *carry,
        F.lag("turn_idx").over(w).alias("prev_turn_idx"),
        F.lag("ts").over(w).alias("__prev_ts"),
        F.lag("lat_mdeg").over(w).alias("prev_lat_mdeg"),
        F.lag("lon_mdeg").over(w).alias("prev_lon_mdeg"),
        *[F.lag(c).over(w).alias(f"prev_{c}") for c in carry])
    # truncating whole-second delta; ts >= prev_ts gate ⇒ truncation == floor
    dt_s = F.timestamp_diff("SECOND", F.col("__prev_ts"), F.col("ts"))
    gated = (lagged
             .where(F.col("__prev_ts").isNotNull()
                    & (F.col("ts") >= F.col("__prev_ts")))
             .withColumn("dt_s", dt_s)
             .where(F.col("dt_s") <= F.lit(MAX_GAP_S)))
    dlat = F.col("lat_mdeg") - F.col("prev_lat_mdeg")
    adlon = F.abs(F.col("lon_mdeg") - F.col("prev_lon_mdeg"))
    wdlon = F.least(adlon, F.lit(_WRAP) - adlon)
    dist2 = dlat * dlat + wdlon * wdlon
    violated = (dist2 * F.lit(_SPH2)
                > F.lit(vmax_mdeg_per_hr * vmax_mdeg_per_hr)
                * F.col("dt_s") * F.col("dt_s"))
    return (gated
            .withColumn("dist2_mdeg2", dist2)
            .withColumn("is_violation", violated.cast("int"))
            .select("conv_id", "prev_turn_idx", "turn_idx", "dt_s",
                    "dist2_mdeg2", "is_violation",
                    *[c for p in carry for c in (f"prev_{p}", p)]))


def velocity_pairs_pd(pts, vmax_mdeg_per_hr: int = VMAX_MDEG_PER_HR,
                      max_gap_s: int = MAX_GAP_S):
    """Vectorized pandas/numpy mirror of the pair arithmetic for the
    STREAMING stateful operator (streaming/pipeline.geo_velocity_stream):
    ``pts`` is one conversation's located points — columns ``turn_idx``,
    ``ts_ns`` (int64 epoch nanoseconds), ``lat_mdeg``, ``lon_mdeg`` —
    already sorted, with the checkpointed previous point prepended as row
    0 when state exists. Row i pairs with row i−1 under the SAME gates and
    the SAME pure-int64 expression as the Column side (batch==stream
    equality is pinned in tests/test_geo_stream.py); the reference point
    advances on every located row even when the pair itself is excluded
    (out-of-order ts / beyond max_gap) — the batch lag() semantics.

    ``ts >= prev_ts`` gates before the division, so ns floor-division ==
    the Column side's truncating whole-second timestamp_diff."""
    _check_params(vmax_mdeg_per_hr, max_gap_s)
    import numpy as np  # vectorized only — no per-row Python
    import pandas as pd

    idx = pts["turn_idx"].to_numpy()
    ts = pts["ts_ns"].to_numpy()
    lat = pts["lat_mdeg"].to_numpy()
    lon = pts["lon_mdeg"].to_numpy()
    p_idx, p_ts = idx[:-1], ts[:-1]
    c_idx, c_ts = idx[1:], ts[1:]
    dt_s = (c_ts - p_ts) // 1_000_000_000
    dlat = lat[1:] - lat[:-1]
    adlon = np.abs(lon[1:] - lon[:-1])
    wdlon = np.minimum(adlon, _WRAP - adlon)
    dist2 = dlat * dlat + wdlon * wdlon
    keep = (c_ts >= p_ts) & (dt_s <= max_gap_s)
    # mask BEFORE squaring dt: beyond-gap deltas could overflow int64 (the
    # constructor bound only audits dt ≤ max_gap); numpy wraps silently
    dt_k, dist2_k = dt_s[keep], dist2[keep]
    flag = (dist2_k * _SPH2
            > vmax_mdeg_per_hr * vmax_mdeg_per_hr * dt_k * dt_k)
    return pd.DataFrame({
        "prev_turn_idx": p_idx[keep],
        "turn_idx": c_idx[keep],
        "dt_s": dt_k,
        "dist2_mdeg2": dist2_k,
        "is_violation": flag.astype("int32"),
    })


def velocity_oracle_cte(hits_cte: str,
                        vmax_mdeg_per_hr: int = VMAX_MDEG_PER_HR,
                        max_gap_s: int = MAX_GAP_S,
                        carry: tuple[str, ...] = ()) -> str:
    """DuckDB continuation SQL mirroring ``geo_velocity`` over a CTE named
    ``hits_cte`` (already filtered to located rows). Appended after an
    existing WITH prefix — starts with ", name AS (" (the transcripts
    continuation-CTE convention). The arithmetic below is the SAME integer
    expression the Column side builds — change either only here and in
    ``geo_velocity`` together (they share this module so the constants
    can't drift)."""
    _check_params(vmax_mdeg_per_hr, max_gap_s)
    carry_cols = "".join(f", {c}" for c in carry)
    carry_lags = "".join(
        f",\n         lag({c}) OVER w AS prev_{c}" for c in carry)
    carry_out = "".join(f", prev_{c}, {c}" for c in carry)
    vmax2 = vmax_mdeg_per_hr * vmax_mdeg_per_hr
    return f"""
, v_mdeg AS (
  SELECT conv_id, turn_idx, ts{carry_cols},
         CAST(round(lat * {_MDEG_SCALE_SQL}) AS BIGINT) AS lat_mdeg,
         CAST(round(lon * {_MDEG_SCALE_SQL}) AS BIGINT) AS lon_mdeg
  FROM {hits_cte}
), v_lag AS (
  SELECT conv_id, turn_idx, ts, lat_mdeg, lon_mdeg{carry_cols},
         lag(turn_idx) OVER w AS prev_turn_idx,
         lag(ts) OVER w AS prev_ts,
         lag(lat_mdeg) OVER w AS prev_lat_mdeg,
         lag(lon_mdeg) OVER w AS prev_lon_mdeg{carry_lags}
  FROM v_mdeg
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
), v_pairs AS (
  SELECT *,
         (epoch_us(ts) - epoch_us(prev_ts)) // 1000000 AS dt_s,
         lat_mdeg - prev_lat_mdeg AS dlat,
         least(abs(lon_mdeg - prev_lon_mdeg),
               {_WRAP} - abs(lon_mdeg - prev_lon_mdeg)) AS wdlon
  FROM v_lag
  WHERE prev_ts IS NOT NULL AND ts >= prev_ts
), v_out AS (
  SELECT conv_id, prev_turn_idx, turn_idx, dt_s,
         dlat*dlat + wdlon*wdlon AS dist2_mdeg2{carry_out}
  FROM v_pairs
  WHERE dt_s <= {max_gap_s}
)
SELECT conv_id, prev_turn_idx, turn_idx, dt_s, dist2_mdeg2,
       CAST((dist2_mdeg2 * {_SPH2}) > (CAST({vmax2} AS BIGINT) * dt_s * dt_s)
            AS INTEGER) AS is_violation{carry_out}
FROM v_out
"""
