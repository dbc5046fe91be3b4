"""Temporal operators: snapshot→interval conversion, a distributed as-of
join, and versioned-dimension (event-time) database history.

Why this belongs in a geoip engine: the reference's control plane swaps the
.mmdb on a schedule (DatabaseManager via lib/logstash/filters/geoip.rb:156-171,
expiry gate geoip.rb:110-118), so the SAME event enriches differently
depending on WHEN it is processed — replaying a checkpointed stream after a
database update silently drifts from the original run. Event-time
versioning generalizes that contract deterministically: each dimension
snapshot carries its validity interval and every event joins to the
snapshot valid AT ITS OWN `ts`, so resuming/replaying reproduces the
original enrichment bit-for-bit (the north-star's "resumable replay"
without enrichment drift).

Scale shape: the as-of join is expressed as an ordinary equi-join on the
key columns with a validity-interval range residual — snapshots are first
converted to half-open intervals with one `lead()` window over the (small,
snapshot-sized) right side, so the probe side never shuffles more than a
plain keyed join would and Catalyst remains free to pick
BroadcastHashJoin (snapshot dims are broadcast-sized by construction) or a
shuffled join for large right sides. Never a nested-loop join: the equi-key
is always present.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["snapshot_intervals", "asof_join", "dim_history", "scd2_merge",
           "resample_fill", "latest_by_key"]


def snapshot_intervals(snaps: DataFrame, keys: list[str],
                       valid_from: str = "valid_from",
                       valid_to: str = "valid_to",
                       tie_break: tuple[str, ...] = ()) -> DataFrame:
    """Convert per-key snapshot rows into half-open validity intervals:
    ``valid_to = lead(valid_from)`` over the key partition, ordered by
    ``(valid_from, *tie_break)``. The last snapshot per key stays open
    (``valid_to`` null). Two snapshots sharing the same ``valid_from`` need
    a ``tie_break`` column for a deterministic order — the later-ordered
    one wins the instant (the earlier one's interval is empty).

    One window over the snapshot relation (snapshot-count-sized, NOT
    event-sized) — the only shuffle this adds is on the snapshot side.
    """
    if not keys:
        raise ValueError("snapshot_intervals requires at least one key column")
    w = Window.partitionBy(*keys).orderBy(valid_from, *tie_break)
    return snaps.withColumn(valid_to, F.lead(valid_from).over(w))


def asof_join(left: DataFrame, right: DataFrame, on: list[str],
              left_ts: str, right_ts: str = "valid_from",
              how: str = "left", direction: str = "backward",
              tolerance_s: int | None = None,
              tie_break: tuple[str, ...] = ()) -> DataFrame:
    """As-of join: each left row matches AT MOST ONE right row per key —
    backward: the latest right row with ``right_ts <= left_ts``;
    forward: the earliest right row with ``right_ts >= left_ts``
    (pandas ``merge_asof`` semantics, exact matches allowed).

    ``tolerance_s`` (seconds) nulls the match when the chosen row is
    farther than the tolerance — like ``merge_asof(tolerance=...)``, it
    does NOT fall back to the next-farther row.

    Implementation: the right side is converted to disjoint half-open
    validity intervals (one ``lead``/``lag`` window over the right side
    only), then joined with the key equi-condition plus the interval
    containment residual — so at most one right row can satisfy the
    condition and the join never duplicates left rows. The right side is
    broadcast (a BroadcastHashJoin): it is snapshot-sized, e.g.
    config/dimension snapshots.

    Right-side non-key columns must not collide with left columns (raises).
    """
    if not on:
        raise ValueError("asof_join requires at least one key column in `on` "
                         "(keyless as-of would need a nested-loop join)")
    if how not in ("left", "inner"):
        raise ValueError(f"how must be 'left' or 'inner', got {how!r}")
    if direction not in ("backward", "forward"):
        raise ValueError(
            f"direction must be 'backward' or 'forward', got {direction!r}")
    missing = [k for k in on if k not in left.columns or k not in right.columns]
    if missing:
        raise ValueError(f"asof_join key columns missing from a side: {missing}")
    payload = [c for c in right.columns if c not in on]
    collide = [c for c in payload if c in left.columns]
    if collide:
        raise ValueError(
            f"right-side columns collide with left: {collide} — rename them "
            "before joining")

    order = [F.col(right_ts), *[F.col(c) for c in tie_break]]
    w = Window.partitionBy(*on).orderBy(*order)
    if direction == "backward":
        # row valid for left_ts in [ts, next_ts)
        r = right.withColumn("__asof_until", F.lead(right_ts).over(w))
    else:
        # row valid for left_ts in (prev_ts, ts] — at a right-ts tie the
        # FIRST-ordered row matches (the later one's lower bound closes it)
        r = right.withColumn("__asof_until", F.lag(right_ts).over(w))

    lf, rf = left.alias("__l"), F.broadcast(r).alias("__r")
    lts = lf[left_ts]
    rts, until = rf[right_ts], rf["__asof_until"]
    # plain SQL equality: a null key never matches (merge_asof parity — and
    # the ANSI-SQL oracle mirror joins with `=`)
    cond = reduce(lambda a, b: a & b, [lf[k] == rf[k] for k in on])
    if direction == "backward":
        cond = cond & (lts >= rts) & (until.isNull() | (lts < until))
    else:
        cond = cond & (lts <= rts) & (until.isNull() | (lts > until))
    if tolerance_s is not None:
        # interval arithmetic, not unix_micros — valid for timestamp AND
        # timestamp_ntz columns (raw parquet scans surface ntz)
        tol = F.expr(f"INTERVAL {int(tolerance_s)} SECOND")
        cond = cond & ((lts <= rts + tol) if direction == "backward"
                       else (rts <= lts + tol))

    out = lf.join(rf, cond, how)
    return out.select(*[lf[c] for c in left.columns],
                      *[rf[c] for c in payload])


def scd2_merge(current: DataFrame, updates: DataFrame, keys: list[str],
               attrs: list[str], as_of: str,
               full_snapshot: bool = True) -> DataFrame:
    """Type-2 slowly-changing-dimension merge: fold a new full snapshot
    (`updates`: keys + attrs, no validity columns) into a versioned
    dimension history (`current`: keys + attrs + half-open
    ``[valid_from, valid_to)`` intervals, ``valid_to`` NULL = open row).

    This is the ROW-level generalization of ``dim_history``'s whole-file
    swap (the reference replaces the entire .mmdb per update,
    geoip.rb:156-171; a row-versioned dimension applies the same event-time
    contract to incremental feeds):

      * already-closed rows pass through untouched;
      * an open row whose attrs null-safe-equal the update survives open
        (NO new version for a no-op update — the SCD2 idempotence rule);
      * an open row whose attrs changed is closed at ``as_of`` and a new
        open row starts there;
      * an open row missing from the snapshot is closed at ``as_of``
        (deletion) — ONLY under ``full_snapshot=True``; with
        ``full_snapshot=False`` (a partial upsert / CDC batch) absent keys
        survive open untouched;
      * a snapshot key with no open row starts a new open row at ``as_of``.

    Re-merging the SAME snapshot is a no-op (idempotence) — which makes a
    checkpointed streaming replay of an SCD2 maintenance batch safe
    (streaming/incremental.scd2_stream relies on this).

    Keys must be non-null (dimension contract). Scale shape: ONE full-outer
    shuffle equi-join on the keys (both sides dimension-sized; AQE
    broadcasts the smaller side when it fits) followed by a bounded explode
    (at most 2 output rows per key) — never a data-sized broadcast, never a
    second pass over either input.
    """
    if not keys:
        raise ValueError("scd2_merge requires at least one key column")
    if not attrs:
        raise ValueError("scd2_merge requires at least one attribute column")
    for side, df, need in (("current", current, keys + attrs + ["valid_from",
                                                                "valid_to"]),
                           ("updates", updates, keys + attrs)):
        missing = [c for c in need if c not in df.columns]
        if missing:
            raise ValueError(f"scd2_merge: {side} is missing columns "
                             f"{missing}")
    cut = F.lit(as_of).cast("timestamp")
    cur_closed = current.where(F.col("valid_to").isNotNull()) \
                        .select(*keys, *attrs, "valid_from", "valid_to")
    # prefix-rename both sides (fresh expression ids) instead of DataFrame
    # aliases: `current` may share lineage with `updates` (re-merging the
    # output with the same snapshot — the idempotence contract), and
    # alias-qualified column access is ambiguous on a self-referencing join
    c = (current.where(F.col("valid_to").isNull())
                .select(*[F.col(x).alias(f"__c_{x}")
                          for x in [*keys, *attrs, "valid_from"]],
                        F.lit(True).alias("__c")))
    u = (updates.select(*[F.col(x).alias(f"__u_{x}")
                          for x in [*keys, *attrs]],
                        F.lit(True).alias("__u")))
    cond = reduce(lambda a, b: a & b,
                  [F.col(f"__c_{k}") == F.col(f"__u_{k}") for k in keys])
    j = c.join(u, cond, "full_outer")
    same = reduce(lambda a, b: a & b,
                  [F.col(f"__c_{a_}").eqNullSafe(F.col(f"__u_{a_}"))
                   for a_ in attrs])
    has_c, has_u = F.col("__c").isNotNull(), F.col("__u").isNotNull()

    def row(pfx: str, vf: Column, vt: Column) -> Column:
        return F.struct(*[F.col(f"{pfx}{k}").alias(k) for k in keys],
                        *[F.col(f"{pfx}{a_}").alias(a_) for a_ in attrs],
                        vf.alias("valid_from"), vt.alias("valid_to"))

    null_ts = F.lit(None).cast("timestamp")
    changed = has_u & ~same if not full_snapshot else (~has_u | ~same)
    closed_old = F.when(has_c & changed,
                        row("__c_", F.col("__c_valid_from"), cut))
    kept_open = F.when(has_c & ~changed,
                       row("__c_", F.col("__c_valid_from"), null_ts))
    new_open = F.when(has_u & (~has_c | ~same),
                      row("__u_", cut, null_ts))
    merged = (j.select(F.explode(F.array_compact(F.array(
                  closed_old, kept_open, new_open))).alias("__r"))
               .select("__r.*"))
    return merged.unionByName(cur_closed)


def latest_by_key(df: DataFrame, keys: list[str], ts_col: str,
                  tie_break: tuple[str, ...] = ()) -> DataFrame:
    """Merge-on-read CDC compaction: the LATEST row per key by
    ``(ts desc, tie_break asc)`` — the lakehouse primitive that turns an
    append-only change log into a current-state snapshot view (and the
    batch face of scd2_stream's within-batch collapse).

    The order must be TOTAL for a deterministic, cross-engine-reproducible
    result: pass ``tie_break`` whenever two change rows can share a key
    and instant. One Exchange + sort; Spark's WindowGroupLimit rule prunes
    each map partition to its local top-1 BELOW the shuffle, so the
    exchanged volume is O(keys × partitions), not O(change-log rows) —
    exactly the group_topk scale shape.
    """
    if not keys:
        raise ValueError("latest_by_key requires at least one key column")
    w = Window.partitionBy(*keys).orderBy(
        F.col(ts_col).desc(), *[F.col(c).asc() for c in tie_break])
    return (df.withColumn("__rn", F.row_number().over(w))
              .where(F.col("__rn") == 1).drop("__rn"))


def resample_fill(df: DataFrame, keys: list[str], ts_col: str,
                  state_col: str, unit: str = "day") -> DataFrame:
    """Per-key fixed-grid resample with gap fill: bucket events to `unit`,
    aggregate per bucket, then emit EVERY bucket from each key's first to
    last active bucket — count buckets with no events as 0 and forward-fill
    the bucket state (``max(state_col)`` of the bucket, carried across
    gaps) — the standard time-series densification before rate/trend
    analytics (missing buckets otherwise silently vanish from window
    frames).

    Returns (keys..., bucket_ts, n_events, filled_state).

    Scale shape: the only event-sized operation is the first two-phase
    bucket aggregate; the grid explode, the left join, and the forward-fill
    window all run on the bucket relation (|keys| x |buckets| rows —
    orders of magnitude below event count at any realistic grid). The
    per-key grid is bounded by that key's own active span, so one ancient
    key cannot explode the grid of the others.
    """
    if not keys:
        raise ValueError("resample_fill requires at least one key column")
    bucket = F.date_trunc(unit, F.col(ts_col)).alias("bucket_ts")
    b = (df.groupBy(*keys, bucket)
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.max(state_col).alias("__state")))
    span = b.groupBy(*keys).agg(F.min("bucket_ts").alias("__mn"),
                                F.max("bucket_ts").alias("__mx"))
    step = F.expr(f"INTERVAL 1 {unit}")
    grid = span.select(
        *keys,
        F.explode(F.sequence(F.col("__mn"), F.col("__mx"), step))
         .alias("bucket_ts"))
    g = grid.join(b, [*keys, "bucket_ts"], "left")
    w = (Window.partitionBy(*keys).orderBy("bucket_ts")
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return g.select(
        *keys, "bucket_ts",
        F.coalesce(F.col("n_events"), F.lit(0).cast("long"))
         .alias("n_events"),
        F.last("__state", ignorenulls=True).over(w).alias("filled_state"))


def dim_history(snapshots: list[tuple[str, DataFrame]]) -> DataFrame:
    """Stack full dimension snapshots into ONE versioned dimension: snapshot
    i is valid for ``[ts_i, ts_{i+1})`` wholesale, the last one open-ended.
    This is exactly the reference's whole-file swap model (the ENTIRE .mmdb
    is replaced at the update instant — geoip.rb:156-171 — never individual
    rows), so a network absent from a later snapshot correctly STOPS
    matching at that snapshot's instant, and a network added later starts
    matching only from it.

    ``snapshots``: ``(valid_from, dim)`` pairs in ascending timestamp order
    (``valid_from`` is a timestamp literal string or datetime). Returns the
    union with ``valid_from``/``valid_to`` timestamp columns appended —
    feed it to ``enrich(..., event_time_col="ts")``. Driver-side cost is
    one column append per snapshot; the result is still broadcast-sized
    (#snapshots × dim rows).
    """
    if not snapshots:
        raise ValueError("dim_history requires at least one snapshot")
    ts_list = [ts for ts, _ in snapshots]
    parts = []
    for i, (ts, df) in enumerate(snapshots):
        nxt = ts_list[i + 1] if i + 1 < len(ts_list) else None
        parts.append(
            df.withColumn("valid_from", F.lit(ts).cast("timestamp"))
              .withColumn("valid_to", F.lit(nxt).cast("timestamp")))
    return reduce(lambda a, b: a.unionByName(b), parts)
