"""Streaming dedup-at-ingest: keep only first-seen document content across
micro-batches, with the seen-set persisted as a hash-only parquet state
table.

This is the streaming counterpart of ``operators/dedup.py``'s exact dedup
(reference analogue: the filter's per-event enrich loop is stateless, but a
training-data ingest pipeline needs the arriving stream deduplicated
against everything already accepted). The 100-TB shape:

- state is CONTENT HASHES ONLY (md5 hex, 32 bytes/row) — never the text;
- each micro-batch first dedups within itself (window by hash, min id —
  deterministic), then LEFT ANTI joins the state table. Both are
  hash-partitioned shuffles; nothing data-sized is broadcast or collected;
- the state table is append-only per batch; ``compact_state`` rewrites it
  distinct. Compaction swaps the state directory in place (lineage's
  crash-safe swap_dir, as every state rewrite here), so run it only
  while NO dedup stream is writing (between ``availableNow`` drains, or
  after stopping a continuous query) — a concurrent micro-batch's state
  append landing mid-swap would be discarded and its content re-admitted
  later.

Delivery semantics are at-least-once per first-seen content: output is
appended before the state, so a crash between the two writes replays the
batch and may duplicate output rows (never lose them). Exactly-once needs a
transactional table format on both writes — out of scope here, boundary
documented.

`near_dedup_stream` is the NEAR-dup counterpart: the state is the admitted
docs' MinHash signatures + LSH band hashes (operators/dedup.py's exact
band derivation, shared code), a new doc is rejected when a band collision
verifies above the Jaccard threshold via the signature-agreement estimate.
Same at-least-once contract, same compaction story (`near_compact_state`).

The additive faces further down (cms, qsketch, drift, rolling_drift, index,
rules, cluster, seasonal) are exactly-once instead: each public
``<face>_state`` factory builds one :class:`AdditiveState` spec, and one
fenced ``additive_apply_batch`` / ``additive_stream`` /
``additive_state_read`` runs every face.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.errors import AnalysisException

from logstash_filter_geoip_spark.lineage import (is_local, local_only,
                                                 publish_json, recover,
                                                 swap_dir)
from logstash_filter_geoip_spark.streaming.pipeline import foreach_batch_stream

STATE_SCHEMA = T.StructType([T.StructField("content_h", T.StringType())])


def _content_hash(key_cols: tuple[str, ...]):
    # NUL separator so ("ab","c") never collides with ("a","bc"); NULL is
    # encoded as \x01 and values prefixed \x02 so NULL never collides with
    # "" and a NULL in one position never collides with a value shifted
    # into another (concat_ws would otherwise silently SKIP null parts).
    # Encoding instead of propagating batch exact_dedup's md5(NULL)=NULL
    # keeps the anti-join effective: a NULL join key never equals anything,
    # so NULL-content rows would be re-admitted on every batch forever.
    # The induced partition of rows into groups is identical to the batch
    # operator's, which is what the parity invariant is on.
    parts = [
        F.when(F.col(c).isNull(), F.lit("\x01"))
         .otherwise(F.concat(F.lit("\x02"), F.col(c).cast("string")))
        for c in key_cols
    ]
    return F.md5(F.concat_ws("\x00", *parts))


def _swap_dir(df: DataFrame, path: str, batch_id: int | None = None) -> None:
    """Replace the parquet directory `path` with `df`, which may itself
    read `path`, through lineage.swap_dir. A fenced face passes its
    `batch_id`: `_commit.json` is written inside the new directory, so
    data and fence publish in one rename."""
    with swap_dir(path) as tmp:
        df.write.mode("overwrite").parquet(tmp)
        if batch_id is not None:
            publish_json(os.path.join(tmp, "_commit.json"),
                         {"batch_id": batch_id})


def _read_state(spark: SparkSession, path: str,
                schema: T.StructType | None):
    """(state DataFrame, committed batch id) of one state directory, after
    lineage.recover. The id travels INSIDE the swapped directory
    (`_commit.json`, ignored by the parquet reader); unfenced states and a
    state not written yet read -1, the latter as an empty frame of
    `schema` (None with ``schema=None``: inferred once written)."""
    recover(path)
    # local-FS fast path: avoids a noisy WARN + JVM stack in the logs on
    # the very first batch; the exception fallback covers remote stores
    if not is_local(path) or os.path.exists(path):
        committed = -1
        cp = os.path.join(path, "_commit.json")
        if os.path.exists(cp):
            with open(cp) as f:
                committed = json.load(f)["batch_id"]
        reader = spark.read if schema is None else spark.read.schema(schema)
        try:
            return reader.parquet(path), committed
        except AnalysisException:
            pass
    return (None if schema is None
            else spark.createDataFrame([], schema)), -1


def dedup_batch_against_state(batch: DataFrame, seen: DataFrame,
                              key_cols: tuple[str, ...],
                              id_col: str) -> DataFrame:
    """First-seen rows of `batch`: within-batch winner per content hash
    (min id — deterministic under replay), minus anything in `seen`."""
    for reserved in ("content_h", "__rn"):
        if reserved in batch.columns:
            raise ValueError(
                f"input column {reserved!r} collides with a dedup-internal "
                f"column; rename it before dedup_batch_against_state")
    h = batch.withColumn("content_h", _content_hash(key_cols))
    win = Window.partitionBy("content_h").orderBy(id_col)
    first = (h.withColumn("__rn", F.row_number().over(win))
              .where(F.col("__rn") == 1).drop("__rn"))
    return first.join(seen, "content_h", "left_anti")


def dedup_stream(spark: SparkSession, input_path: str, output_path: str,
                 checkpoint_path: str, state_path: str,
                 schema: T.StructType, key_cols: tuple[str, ...] = ("text",),
                 id_col: str = "doc_id", available_now: bool = True):
    """File-source → foreachBatch(first-seen filter → append) with the
    seen-hash state in `state_path`. availableNow drains pending input and
    stops (test/CI mode); omit for a continuous deployment."""
    return foreach_batch_stream(
        spark, input_path, schema, checkpoint_path,
        lambda batch, batch_id: _admit_first_seen(
            spark, batch, output_path, state_path, key_cols, id_col),
        available_now)


def _admit_first_seen(spark: SparkSession, batch: DataFrame,
                      output_path: str, state_path: str,
                      key_cols: tuple[str, ...], id_col: str) -> None:
    """One first-seen micro-batch: append the admitted rows to
    `<output_path>/data`, THEN their hashes to the state (at-least-once)."""
    seen, _ = _read_state(spark, state_path, STATE_SCHEMA)
    fresh = dedup_batch_against_state(batch, seen, key_cols, id_col)
    # two writes need the batch twice; keep it to ONE upstream compute
    fresh = fresh.persist()
    try:
        # all-duplicate batches are common under replay: skip both
        # writes so output/state file counts don't grow by empty parts
        if fresh.isEmpty():
            return
        (fresh.drop("content_h").write.mode("append")
              .parquet(os.path.join(output_path, "data")))
        (fresh.select("content_h").write.mode("append")
              .parquet(state_path))
    finally:
        fresh.unpersist()


def _compact_dir(spark: SparkSession, state_path: str,
                 schema: T.StructType | None) -> int:
    """distinct-rewrite one state directory with a crash-safe swap.
    schema=None reads whatever the directory holds (the near-dup state's
    id type is input-derived, not fixed). A directory that was never
    created (no state written yet) compacts to 0 without touching disk."""
    local_only(state_path)
    state, _ = _read_state(spark, state_path, schema)
    if not os.path.exists(state_path):
        return 0
    seen = state.distinct().persist()
    n = seen.count()
    _swap_dir(seen, state_path)
    seen.unpersist()
    return n


def compact_state(spark: SparkSession, state_path: str) -> int:
    """Rewrite the seen-hash table distinct (drops replay double-appends
    and merges small files). Returns the compacted hash count.

    Must run while no dedup stream is appending to `state_path` (see
    module docstring). Local filesystems only: the swap relies on
    directory renames; on an object store use a transactional table
    format for the state instead."""
    return _compact_dir(spark, state_path, STATE_SCHEMA)


# ---------------------------------------------------------------------------
# near-dup at ingest (MinHash bands + signature-agreement verify)
# ---------------------------------------------------------------------------

def _near_bands_schema(id_type: T.DataType = T.LongType()) -> T.StructType:
    # id type follows the INPUT's id column (string/long/... ids all work
    # through the probe joins) — a fixed LongType here would let a string-id
    # stream write state on batch 1 and crash every later batch at the
    # schema-enforced state scan
    return T.StructType([
        T.StructField("doc_id", id_type),
        T.StructField("band", T.IntegerType()),
        T.StructField("band_hash", T.LongType()),
    ])


def _near_sigs_schema(id_type: T.DataType = T.LongType()) -> T.StructType:
    return T.StructType([
        T.StructField("doc_id", id_type),
        T.StructField("signature", T.ArrayType(T.LongType())),
    ])


def _meta_guard(state_path: str, spec: dict, what: str,
                consequence: str) -> None:
    """The shared pin-or-raise core of every persisted-state guard: pin
    `spec` as meta.json beside a LOCAL state on first use (a remote path
    raises before anything is written), then _check_pin."""
    local_only(state_path)
    os.makedirs(state_path, exist_ok=True)
    mp = os.path.join(state_path, "meta.json")
    if not os.path.exists(mp):
        publish_json(mp, spec)
    _check_pin(state_path, spec, what, consequence)


def _check_pin(state_path: str, spec: dict, what: str,
               consequence: str) -> None:
    """Raise loudly when the pinned meta.json differs from `spec`: resuming
    or reading with changed parameters would silently corrupt additive/
    probed state — each caller states the concrete consequence."""
    saved = _pinned_meta(state_path)
    if saved != spec:
        raise ValueError(
            f"{what} state at {state_path!r} was written with "
            f"{saved}; this call uses {spec} — "
            f"{consequence} Use the original parameters or a fresh "
            "state path.")


def _pinned_meta(state_path: str) -> dict:
    with open(os.path.join(state_path, "meta.json")) as f:
        return json.load(f)


def _near_meta_guard(state_path: str, n_hashes: int, n_bands: int,
                     id_type: str) -> None:
    """Pin (n_hashes, n_bands, id type) beside the near-dup state: bands
    are only comparable under the EXACT hash family that wrote them —
    changed params would silently re-admit every near-dup. Local paths
    only (the compaction contract already pins this state to local FS)."""
    if not is_local(state_path):
        return
    _meta_guard(state_path,
                {"n_hashes": n_hashes, "n_bands": n_bands,
                 "id_type": id_type},
                "near-dup",
                "band hashes would never match and every near-dup would "
                "be silently re-admitted.")


def _sig_agreement(a, b, n_hashes: int):
    """Fraction of agreeing MinHash positions — the standard unbiased
    estimator of Jaccard similarity. n_hashes compiled equality terms
    (the simhash bit-sum pattern), no HOF, no Python."""
    matches = None
    for i in range(n_hashes):
        term = F.when(F.get(a, i) == F.get(b, i), 1).otherwise(0)
        matches = term if matches is None else matches + term
    return matches * F.lit(1.0) / F.lit(n_hashes)


def near_dedup_batch_against_state(batch: DataFrame, state_bands: DataFrame,
                                   state_sigs: DataFrame,
                                   n_hashes: int | None = None,
                                   n_bands: int | None = None,
                                   threshold: float | None = None,
                                   id_col: str = "doc_id",
                                   text_col: str = "text",
                                   return_sigs: bool = False):
    """Rows of `batch` that are NOT near-duplicates of anything already
    admitted (`state_*`) or of a lower-id row in the same batch.

    The probe is the batch LSH shape (operators/dedup.py) re-cut for
    ingest: band buckets generate candidates (equi-join on (band,
    band_hash) — shuffle-partitioned, nothing data-sized broadcast or
    collected), then candidates are verified with the signature-agreement
    Jaccard ESTIMATE instead of exact shingle Jaccard. That is the honest
    100-TB trade: state stores 8·n_hashes bytes per admitted doc (plus
    n_bands 16-byte band rows), never shingle sets — exact re-verification
    would need the full text of every doc ever admitted. At the default
    64 hashes the estimator's std-dev is ≤ 1/16 (√(J(1−J)/64)), so docs
    near the threshold can land either side of it; batch-vs-stream parity
    tests therefore use pairs far from the threshold.

    Within-batch rule: a row is dropped iff its estimate against ANY
    lower-id batch row (kept or not) or ANY state doc clears `threshold`.
    This is slightly more aggressive than connected-components keep-lists
    (a row can be suppressed by a row that was itself suppressed) but is
    deterministic under replay and needs no iteration inside the
    micro-batch. Rows whose text yields no shingles (shorter than the
    shingle width, NULL) carry no signature: they are always admitted and
    add no state — same as the batch LSH operator, which can never emit a
    pair for them; route those through the exact-hash `dedup_stream` if
    short-text dedup matters.

    `return_sigs=True` additionally returns the KEPT rows' signatures
    (materialized from the same single shingle+minhash pass, not
    recomputed) as `(kept, kept_sigs)` — the stream handler writes state
    from these so the dominant tokenize+64-min aggregate runs ONCE per
    micro-batch.
    """
    from logstash_filter_geoip_spark.operators import dedup as D
    n_hashes = D.N_MINHASH if n_hashes is None else n_hashes
    n_bands = D.N_BANDS if n_bands is None else n_bands
    threshold = D.JACCARD_THRESHOLD if threshold is None else threshold

    docs = batch.select(F.col(id_col).alias("doc_id"),
                        F.col(text_col).alias("text"))
    # the signature/band relations are referenced by four joins below;
    # persist so the shingle+minhash aggregation runs once per batch, and
    # materialize the (tiny, id-only) dropped set before releasing them
    sigs_new = D.minhash_signatures(docs, n_hashes).persist()
    bands_new = D.band_rows(sigs_new, n_hashes, n_bands).persist()
    try:
        est = _sig_agreement(F.col("sig_a"), F.col("sig_b"), n_hashes)

        # (a) vs lower-id rows of the same batch
        cand_in = (bands_new.alias("x")
                   .join(bands_new.alias("y"),
                         (F.col("x.band") == F.col("y.band"))
                         & (F.col("x.band_hash") == F.col("y.band_hash"))
                         & (F.col("x.doc_id") < F.col("y.doc_id")))
                   .select(F.col("x.doc_id").alias("doc_lo"),
                           F.col("y.doc_id").alias("doc_hi"))
                   .distinct())
        dropped_in = (cand_in
                      .join(sigs_new.select(F.col("doc_id").alias("doc_lo"),
                                            F.col("signature").alias("sig_a")),
                            "doc_lo")
                      .join(sigs_new.select(F.col("doc_id").alias("doc_hi"),
                                            F.col("signature").alias("sig_b")),
                            "doc_hi")
                      .where(est >= F.lit(threshold))
                      .select(F.col("doc_hi").alias("doc_id")))

        # (b) vs the admitted state (plain shuffle joins: state is
        # data-sized, candidates are collision-sized — AQE picks the
        # physical strategy from real stats)
        cand_st = (bands_new.alias("x")
                   .join(state_bands.alias("s"),
                         (F.col("x.band") == F.col("s.band"))
                         & (F.col("x.band_hash") == F.col("s.band_hash")))
                   .select(F.col("x.doc_id").alias("doc_new"),
                           F.col("s.doc_id").alias("doc_old"))
                   .distinct())
        dropped_st = (cand_st
                      .join(sigs_new.select(F.col("doc_id").alias("doc_new"),
                                            F.col("signature").alias("sig_a")),
                            "doc_new")
                      .join(state_sigs.select(F.col("doc_id").alias("doc_old"),
                                              F.col("signature").alias("sig_b")),
                            "doc_old")
                      .where(est >= F.lit(threshold))
                      .select(F.col("doc_new").alias("doc_id")))

        dropped = (dropped_in.unionByName(dropped_st).distinct()
                   .localCheckpoint(eager=True))
        kept_sigs = None
        if return_sigs:
            # batch-sized, materialized while the cache is still warm so
            # releasing sigs_new can't force a recompute at write time
            kept_sigs = (sigs_new.join(dropped, "doc_id", "left_anti")
                         .localCheckpoint(eager=True))
    finally:
        bands_new.unpersist()
        sigs_new.unpersist()
    kept = batch.join(dropped.withColumnRenamed("doc_id", id_col),
                      id_col, "left_anti")
    return (kept, kept_sigs) if return_sigs else kept


def near_dedup_stream(spark: SparkSession, input_path: str, output_path: str,
                      checkpoint_path: str, state_path: str,
                      schema: T.StructType, text_col: str = "text",
                      id_col: str = "doc_id",
                      n_hashes: int | None = None,
                      n_bands: int | None = None,
                      threshold: float | None = None,
                      available_now: bool = True):
    """File-source → foreachBatch(near-dup filter → append) with the
    admitted docs' MinHash state under `state_path` (two sub-tables:
    `bands/` for the LSH probe, `sigs/` for the verify). Same delivery
    contract as `dedup_stream`: output is appended before state, so a
    crash between the writes replays the batch — at-least-once per
    admitted doc, never a loss; state double-appends are harmless to the
    filter and removed by `near_compact_state`."""
    from logstash_filter_geoip_spark.operators import dedup as D
    nh = D.N_MINHASH if n_hashes is None else n_hashes
    nb = D.N_BANDS if n_bands is None else n_bands
    bands_path = os.path.join(state_path, "bands")
    sigs_path = os.path.join(state_path, "sigs")
    id_type = schema[id_col].dataType

    def handle(batch: DataFrame, batch_id: int) -> None:
        _near_meta_guard(state_path, nh, nb, id_type.simpleString())
        state_bands, _ = _read_state(spark, bands_path,
                                     _near_bands_schema(id_type))
        state_sigs, _ = _read_state(spark, sigs_path,
                                    _near_sigs_schema(id_type))
        kept, ksigs = near_dedup_batch_against_state(
            batch, state_bands, state_sigs, n_hashes=nh, n_bands=nb,
            threshold=threshold, id_col=id_col, text_col=text_col,
            return_sigs=True)
        kept = kept.persist()
        try:
            if kept.isEmpty():
                return
            kept.write.mode("append").parquet(
                os.path.join(output_path, "data"))
            # a kept set of only shingle-free rows carries no signatures:
            # skip the state appends so file counts don't grow by empty
            # parts every trigger (the dedup_stream empty-batch rule)
            if not ksigs.isEmpty():
                ksigs.write.mode("append").parquet(sigs_path)
                D.band_rows(ksigs, nh, nb).write.mode("append") \
                 .parquet(bands_path)
        finally:
            kept.unpersist()

    return foreach_batch_stream(spark, input_path, schema, checkpoint_path,
                                handle, available_now)


def near_compact_state(spark: SparkSession, state_path: str) -> tuple[int, int]:
    """distinct-rewrite both near-dup state tables (replay double-appends,
    small files). Returns (band_rows, sig_rows) after compaction — (0, 0)
    when no state exists yet (e.g. only shingle-free rows admitted so far).
    Same no-concurrent-writer and local-FS contract as `compact_state`.
    schema=None: the state's id type is input-derived (meta.json records
    it), so compaction reads whatever the directories hold."""
    nb = _compact_dir(spark, os.path.join(state_path, "bands"), None)
    ns = _compact_dir(spark, os.path.join(state_path, "sigs"), None)
    return nb, ns


# ---------------------------------------------------------------------------
# SCD2 dimension maintenance at ingest (streaming face of temporal.scd2_merge)
# ---------------------------------------------------------------------------


def _dim_schema(batch: DataFrame, keys: tuple[str, ...],
                attrs: tuple[str, ...]) -> T.StructType:
    by_name = {f.name: f for f in batch.schema.fields}
    fields = [by_name[c] for c in [*keys, *attrs]]
    return T.StructType(fields + [
        T.StructField("valid_from", T.TimestampType()),
        T.StructField("valid_to", T.TimestampType()),
    ])


def scd2_apply_batch(current: DataFrame, batch: DataFrame,
                     keys: tuple[str, ...], attrs: tuple[str, ...],
                     ts_col: str, full_snapshot: bool) -> DataFrame | None:
    """One SCD2 maintenance step: collapse the batch to its LATEST row per
    key (ts desc, attrs as the deterministic tiebreak at equal instants),
    then temporal.scd2_merge at the batch's max event time. Returns None on
    an empty batch (no-op)."""
    from logstash_filter_geoip_spark.operators.temporal import scd2_merge

    top = batch.agg(F.max(ts_col)).collect()[0][0]
    if top is None:
        return None
    w = Window.partitionBy(*keys).orderBy(
        F.col(ts_col).desc(), *[F.col(a).desc() for a in attrs])
    latest = (batch.withColumn("__rn", F.row_number().over(w))
                   .where(F.col("__rn") == 1)
                   .select(*keys, *attrs))
    as_of = top.strftime("%Y-%m-%d %H:%M:%S.%f")
    return scd2_merge(current, latest, list(keys), list(attrs), as_of,
                      full_snapshot=full_snapshot)


def scd2_stream(spark: SparkSession, input_path: str, dim_path: str,
                checkpoint_path: str, schema: T.StructType,
                keys: tuple[str, ...], attrs: tuple[str, ...],
                ts_col: str = "ts", full_snapshot: bool = False,
                available_now: bool = True):
    """Maintain a type-2 versioned dimension from a stream of change rows:
    each micro-batch is collapsed to latest-per-key and folded into the
    parquet dimension at `dim_path` via temporal.scd2_merge (default
    ``full_snapshot=False`` — a CDC/upsert feed never deletes; pass True
    only when every batch is a complete snapshot).

    Replay safety comes from scd2_merge's idempotence, NOT from the write
    protocol: a checkpointed batch re-applied after a crash re-derives the
    same as_of (max event time of the same rows) and merges the same
    attrs, which is a no-op on the already-updated dimension — the swap
    write then rewrites an identical directory. Exactly-once without any
    transactional sink, because the operator itself is a converging merge.
    """
    def handle(batch: DataFrame, batch_id: int) -> None:
        current, _ = _read_state(spark, dim_path,
                                 _dim_schema(batch, keys, attrs))
        merged = scd2_apply_batch(current, batch, keys, attrs, ts_col,
                                  full_snapshot)
        if merged is None:
            return
        _swap_dir(merged, dim_path)

    return foreach_batch_stream(spark, input_path, schema, checkpoint_path,
                                handle, available_now)


# ---------------------------------------------------------------------------
# novel-log-template detection at ingest (first-seen alerting)
# ---------------------------------------------------------------------------


def novel_template_stream(spark: SparkSession, input_path: str,
                          output_path: str, checkpoint_path: str,
                          state_path: str, schema: T.StructType,
                          text_col: str = "text", id_col: str = "event_id",
                          available_now: bool = True):
    """Emit only rows whose LOG TEMPLATE (semistructured.log_template —
    uuids/hex/ips/numbers normalized away) has never been seen before:
    the streaming "new error shape" alert. A template is message identity,
    so the first-seen machinery of dedup_stream applies verbatim — state
    is template hashes only (32 B per distinct template, i.e. tiny
    forever), within-batch winner is the min-id row, replay is
    at-least-once (the dedup_stream contract and compaction story,
    including `compact_state`)."""
    from logstash_filter_geoip_spark.operators.semistructured import \
        log_template

    return foreach_batch_stream(
        spark, input_path, schema, checkpoint_path,
        lambda batch, batch_id: _admit_first_seen(
            spark, batch.withColumn("template",
                                    log_template(F.col(text_col))),
            output_path, state_path, ("template",), id_col),
        available_now)


# ---------------------------------------------------------------------------
# fenced additive state (exactly-once via batch-id fencing)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class AdditiveState:
    """One fenced additive face: state that grows by pure ADDITION, so a
    replayed micro-batch must not be re-applied (unlike the converging
    scd2/sample merges). The generic apply/stream/read below run every
    face the same way: meta pin, batch-id fence, union + merge, and one
    rename swap that publishes the merged state with its fence.

    ``build(batch, prev)`` is stage 1 — the batch's own counters (``prev``
    is the current state or None; index anti-joins it, first-wins).
    ``merge`` folds ``prev ∪ fresh`` back to one row per key; ``read_face``
    is stage 2, the batch operator's arithmetic over the stored counters.
    ``schema`` fixes the state's read schema (None infers it on read)."""
    face: str
    consequence: str
    subdir: str
    meta: dict
    build: Callable[[DataFrame, DataFrame | None], DataFrame]
    merge: Callable[[DataFrame], DataFrame] = lambda union: union
    read_face: Callable[..., DataFrame] = lambda counts: counts
    max_files: int = 4
    schema: T.StructType | None = None


def additive_apply_batch(spark: SparkSession, spec: AdditiveState,
                         batch: DataFrame, batch_id: int, path: str) -> bool:
    """One maintenance step of any additive face into its state directory
    `path` (``<state_path>/<spec.subdir>``); returns False when the batch
    was fenced.

    Every face's merge is pure ADDITION — NOT idempotent — so exactly-once
    cannot lean on the operator like scd2_stream does. Instead the
    committed batch id rides inside the swapped state directory: a crash
    between the swap and Spark's checkpoint commit replays the SAME
    batch_id, the fence sees id <= committed, and the re-application is a
    no-op. (Corollary, pinned by test: wiping the CHECKPOINT while keeping
    the state double-counts — the fence is per-batch-id, so the checkpoint
    is part of an additive face's state, unlike scd2_stream's.)"""
    prev, committed = _read_state(spark, path, spec.schema)
    if batch_id <= committed:
        return False
    fresh = spec.build(batch, prev)
    merged = fresh if prev is None else spec.merge(prev.unionByName(fresh))
    _swap_dir(merged.coalesce(1), path, batch_id)
    return True


def additive_stream(spark: SparkSession, spec: AdditiveState,
                    input_path: str, state_path: str, checkpoint_path: str,
                    schema: T.StructType, available_now: bool = True):
    """Maintain one additive face from a stream: file-source →
    foreachBatch(additive_apply_batch) into ``<state_path>/<spec.subdir>``
    — bounded state however much traffic flows. `spec.meta` is pinned
    beside the state first, so resuming with different parameters raises
    instead of adding incompatible counters. Local state paths only (the
    rename swap); remote state belongs in a transactional table."""
    _meta_guard(state_path, spec.meta, spec.face, spec.consequence)
    path = os.path.join(state_path, spec.subdir)
    return foreach_batch_stream(
        spark, input_path, schema, checkpoint_path,
        lambda batch, batch_id: additive_apply_batch(
            spark, spec, batch, batch_id, path),
        available_now, spec.max_files)


def additive_state_read(spark: SparkSession, face: str, state_path: str,
                        *args, **kw):
    """Stage 2 over a drained state: the face's ``read_face(counts, *args,
    **kw)``, the IDENTICAL arithmetic the batch operator runs — so the
    read is row-identical to the batch operator on the union of every
    ingested input (equality test-pinned per face), answered without
    rescanning events. The spec is rebuilt from the pinned meta.json, so
    the face name (drift, rolling_drift, index, rules, cluster or
    seasonal) and the state path are all a read needs."""
    spec = _SPEC_FROM_META[face](_pinned_meta(state_path))
    counts, _ = _read_state(
        spark, os.path.join(state_path, spec.subdir), schema=None)
    if counts is None:
        raise FileNotFoundError(f"no {spec.face} state at {state_path!r}")
    return spec.read_face(counts, *args, **kw)


def _sum_by(keys: tuple[str, ...], *cols: str):
    """Merge for faces whose counters are plain per-key sums."""
    return lambda union: union.groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in cols])


# ---------------------------------------------------------------------------
# streaming count-min sketch maintenance
# ---------------------------------------------------------------------------

_CMS_SCHEMA = T.StructType([
    T.StructField("depth", T.IntegerType()),
    T.StructField("bucket", T.IntegerType()),
    T.StructField("c", T.LongType()),
])


def cms_state(key_col: str, w: int | None = None, d: int | None = None,
              salt: str = "cms-v1",
              hash_basis: str = "xxhash64") -> AdditiveState:
    """Count-min frequency face: per micro-batch cms_build, counters added
    — constant state (d×w counters), the streaming face of the
    heavy-hitter sketch; estimate with aggregate.cms_estimate over
    ``<state>/sketch``."""
    # counters are only addable under the EXACT bucket hash that wrote
    # them: a changed (w, d, salt, basis) would fold garbage minima
    from logstash_filter_geoip_spark.operators.aggregate import (
        CMS_D, CMS_W, cms_build, cms_merge)
    w = CMS_W if w is None else w
    d = CMS_D if d is None else d
    return AdditiveState(
        "cms", "counters from different bucket hashes cannot be added.",
        "sketch", {"w": w, "d": d, "salt": salt, "hash_basis": hash_basis},
        lambda batch, prev: cms_build(batch, key_col, w, d, salt,
                                      hash_basis),
        cms_merge, schema=_CMS_SCHEMA)


# ---------------------------------------------------------------------------
# streaming quantile-sketch maintenance (the qsketch's streaming face)
# ---------------------------------------------------------------------------


def qsketch_state(keys: tuple[str, ...], value_col: str,
                  sub_bits: int | None = None) -> AdditiveState:
    """Per-key quantile-sketch face: per micro-batch qsketch_build, bucket
    counters added — ≤~2k rows per key, latency percentiles answered any
    time by aggregate.qsketch_quantiles over ``<state>/sketch`` with NO
    event rescan. The state schema is whatever qsketch_build emits,
    inferred on read, so keyed sketches of any key type round-trip."""
    # a different sub_bits silently mixes incompatible bucket grids
    from logstash_filter_geoip_spark.operators.aggregate import (
        QSKETCH_SUB_BITS, qsketch_build, qsketch_merge)
    sub_bits = QSKETCH_SUB_BITS if sub_bits is None else sub_bits
    return AdditiveState(
        "qsketch", "counters from different bucketings cannot be added.",
        "sketch",
        {"keys": list(keys), "value_col": value_col, "sub_bits": sub_bits},
        lambda batch, prev: qsketch_build(batch, keys, value_col, sub_bits),
        lambda union: qsketch_merge(union, keys))


# ---------------------------------------------------------------------------
# streaming distribution-drift maintenance (operators/drift.py's twin)
# ---------------------------------------------------------------------------


def drift_state(ts_col: str, split_ts: str, cat_col: str | None = None,
                value_col: str | None = None, lo: float | None = None,
                hi: float | None = None,
                n_buckets: int | None = None) -> AdditiveState:
    """Distribution-drift face: per micro-batch drift.side_counts, side
    counts added — ≤ |buckets| rows of state, the streaming feed monitor
    over exactly one of cat_col (categorical) or value_col binned by
    lo/hi/n_buckets. Read face: drift.with_shares(counts, lift=(12, 10));
    compose with drift.drift_summary for the TVD rollup."""
    if (cat_col is None) == (value_col is None):
        raise ValueError("exactly one of cat_col / value_col is required")
    if cat_col is not None:
        return _drift_state({"kind": "categorical", "col": cat_col,
                             "ts_col": ts_col, "split_ts": split_ts})
    if lo is None or hi is None or n_buckets is None:
        raise ValueError("value drift requires lo, hi, n_buckets")
    return _drift_state({"kind": "value", "col": value_col, "lo": float(lo),
                         "hi": float(hi), "n_buckets": int(n_buckets),
                         "ts_col": ts_col, "split_ts": split_ts})


def _drift_state(spec: dict) -> AdditiveState:
    # the full bucket rule AND split timestamp are pinned: a different
    # split silently mixes windows, a different binning mixes grids
    from logstash_filter_geoip_spark.operators import drift
    from logstash_filter_geoip_spark.operators.aggregate import \
        bucket_idx_expr
    if spec["kind"] == "categorical":
        bucket, name = F.col(spec["col"]), spec["col"]
    else:
        bucket, name = bucket_idx_expr(spec["col"], spec["lo"], spec["hi"],
                                       spec["n_buckets"]), "bucket_idx"
    return AdditiveState(
        "drift", "side counts from different bucket/split rules cannot "
        "be added.", "counts", spec,
        lambda batch, prev: drift.side_counts(
            batch, bucket, name, spec["ts_col"], spec["split_ts"]),
        _sum_by((name,), "n_base", "n_curr"),
        lambda counts, lift=(12, 10): drift.with_shares(counts, name, lift))


def rolling_drift_state(cat_col: str, ts_col: str,
                        bucket: str = "day") -> AdditiveState:
    """Bucket-over-bucket categorical drift face: per micro-batch
    drift.rolling_counts_stage, per-(bucket_ts, category) counts added —
    calendar buckets × categories rows of state. Read face:
    drift.rolling_shares(counts, lift=(12, 10))."""
    from logstash_filter_geoip_spark.operators import drift
    return AdditiveState(
        "rolling-drift", "counts from different bucket granularities or "
        "category columns cannot be added.", "counts",
        {"kind": "rolling", "col": cat_col, "ts_col": ts_col,
         "bucket": bucket},
        lambda batch, prev: drift.rolling_counts_stage(
            batch, cat_col, ts_col, bucket),
        _sum_by(("bucket_ts", cat_col), "n"),
        lambda counts, lift=(12, 10): drift.rolling_shares(
            counts, cat_col, lift))


# ---------------------------------------------------------------------------
# streaming exact-k sample maintenance (the distributed reservoir at ingest)
# ---------------------------------------------------------------------------


def sample_apply_batch(spark: SparkSession, batch: DataFrame,
                       state_path: str, strata_col: str, key_col: str,
                       k: int, salt: str) -> None:
    """One maintenance step of the deterministic exact-k sample: union the
    persisted kept rows with the batch, exact-row dedup, re-select each
    stratum's k smallest salted hash keys (sampling._sample_rank_key — the
    SAME rule as the batch operator), swap-write the survivors.

    Exactly-once comes from CONVERGENCE, not a fence (the scd2_stream
    contract, unlike CMS addition): min-k is idempotent under re-unioning
    rows it already saw — any replayed row either is in the state or is
    dominated by k smaller keys that are. State is k rows per stratum,
    tiny forever; `key_col` must be a unique row id by contract (replayed
    rows are EXACT duplicates, so the full-row dedup is deterministic)."""
    from logstash_filter_geoip_spark.operators.sampling import \
        _sample_rank_key

    current, _ = _read_state(spark, state_path, batch.schema)
    union = current.unionByName(batch).dropDuplicates()
    rk = _sample_rank_key(key_col, salt)
    w = Window.partitionBy(strata_col).orderBy(rk.asc(), F.col(key_col))
    kept = (union.withColumn("__rn", F.row_number().over(w))
                 .where(F.col("__rn") <= k).drop("__rn"))
    _swap_dir(kept, state_path)


_SAMPLE_CONSEQUENCE = ("rows selected under different specs are different "
                       "draws and cannot be merged.")


def sample_state_read(spark: SparkSession, state_path: str,
                      strata_col: str, key_col: str, k: int,
                      salt: str) -> DataFrame:
    """Read the maintained sample and re-derive ``sample_rank`` (stage 2 on
    read, the additive_state_read convention — the state stores rows only;
    rank is a pure function of the kept set). Row-identical to running
    sampling.sample_exact_k over everything ingested so far."""
    spec = {"kind": "exact_k_sample", "strata_col": strata_col,
            "key_col": key_col, "k": k, "salt": salt}
    _check_pin(state_path, spec, "exact-k sample", _SAMPLE_CONSEQUENCE)
    from logstash_filter_geoip_spark.operators.sampling import \
        _sample_rank_key
    rows, _ = _read_state(spark, os.path.join(state_path, "rows"), None)
    if rows is None:
        raise FileNotFoundError(f"no exact-k sample at {state_path!r}")
    rk = _sample_rank_key(key_col, salt)
    w = Window.partitionBy(strata_col).orderBy(rk.asc(), F.col(key_col))
    return rows.withColumn("sample_rank", F.row_number().over(w))


def sample_stream(spark: SparkSession, input_path: str, state_path: str,
                  checkpoint_path: str, schema: T.StructType,
                  strata_col: str, key_col: str, k: int,
                  salt: str = "ksample-v1", available_now: bool = True):
    """Maintain sampling.sample_exact_k incrementally at ingest: after any
    prefix of the stream, the state holds EXACTLY the rows the batch
    operator would select from everything ingested so far (the drained ==
    batch parity test pins it). The spec is meta-pinned — resuming with a
    different (strata, key, k, salt) raises instead of silently mixing
    two different draws. Local state paths only (the rename swap)."""
    spec = {"kind": "exact_k_sample", "strata_col": strata_col,
            "key_col": key_col, "k": k, "salt": salt}
    rows_path = os.path.join(state_path, "rows")
    _meta_guard(state_path, spec, "exact-k sample", _SAMPLE_CONSEQUENCE)

    def handle(batch: DataFrame, batch_id: int) -> None:
        sample_apply_batch(spark, batch, rows_path, strata_col, key_col,
                           k, salt)

    return foreach_batch_stream(spark, input_path, schema, checkpoint_path,
                                handle, available_now)


# ---------------------------------------------------------------------------
# streaming inverted-index maintenance (retrieval's streaming face)
# ---------------------------------------------------------------------------


def index_state(schema: T.StructType,
                text_col: str = "text") -> AdditiveState:
    """BM25-probeable inverted-index face: per micro-batch tokenize →
    postings under the fence. After any drain,
    ``bm25_from_index(*additive_state_read(spark, "index", state))``
    returns row-for-row what the batch ``bm25_multi_topk`` computes over
    every document ingested so far (pinned by test). Re-ingested doc_ids
    are FIRST-WINS — the batch anti-joins the already-admitted doc set
    (the dedup_stream admission semantic), so re-publishing a doc never
    corrupts df. The `schema`'s doc_id type is pinned with the tokenizer.

    State rows use ONE union schema: posting rows (term, doc_id, dl, tf)
    plus a term-NULL row per admitted doc carrying its dl (NULL for
    NULL-text docs — they count toward N but not sum_dl, mirroring the
    batch scan's F.sum semantics). The read face splits them into
    (postings, doclens).

    Scale note: the swap rewrites the full postings relation per batch —
    at production scale the state belongs in a transactional table with
    appends (the dedup_stream boundary); the fence/meta/first-wins
    semantics carry over unchanged."""
    return _index_state(text_col, str(schema["doc_id"].dataType))


def _index_state(text_col: str, id_type: str) -> AdditiveState:
    # postings built under a different tokenizer/text column are a
    # DIFFERENT index: merging them silently skews df/dl for every query
    from logstash_filter_geoip_spark.functions.ngrams import (WORD_RE,
                                                              word_tokens)
    from logstash_filter_geoip_spark.operators.retrieval import build_postings

    def build(batch: DataFrame, prev: DataFrame | None) -> DataFrame:
        if prev is not None:
            seen = prev.where(F.col("term").isNull()).select("doc_id")
            batch = batch.join(seen, "doc_id", "left_anti")
        post = build_postings(batch, text_col).select(
            "term", "doc_id", F.col("dl").cast("int").alias("dl"),
            F.col("tf").cast("long").alias("tf"))
        dld = batch.select(
            F.lit(None).cast("string").alias("term"), "doc_id",
            F.size(word_tokens(text_col)).alias("dl"),
            F.lit(None).cast("long").alias("tf"))
        return post.unionByName(dld)

    def read_face(state: DataFrame) -> tuple[DataFrame, DataFrame]:
        # doclens holds EVERY admitted doc, so N and sum_dl reproduce the
        # batch scan exactly
        return (state.where(F.col("term").isNotNull())
                     .select("term", "doc_id", "dl", "tf"),
                state.where(F.col("term").isNull()).select("doc_id", "dl"))

    return AdditiveState(
        "postings index", "postings from different tokenizers/columns "
        "cannot be merged.", "index",
        {"kind": "postings_index", "word_re": WORD_RE,
         "text_col": text_col, "id_type": id_type}, build,
        read_face=read_face)


# ---------------------------------------------------------------------------
# streaming association-rule maintenance (operators/basket.py's twin)
# ---------------------------------------------------------------------------


def rules_state(schema: T.StructType, basket_col: str, item_col: str,
                max_basket: int | None = None) -> AdditiveState:
    """Association-rule face: per micro-batch basket.rule_counts, counters
    added — ≤ |items|² pair rows + |items| item rows + 1 total row;
    support/confidence/lift answered any time by the read face
    basket.rules_from_counts(counts, min_pair_n=1) with NO basket rescan.
    max_basket and the `schema`'s item type are pinned.

    Counter addition is valid ONLY under the BASKET-ATOMIC contract:
    every basket arrives wholly within one micro-batch (order-shaped
    ingestion, where an order's lines land together). A basket split
    across batches is counted as two disjoint sub-baskets — its
    cross-batch pairs are silently lost; route such feeds through the
    batch operator over a completed snapshot instead."""
    from logstash_filter_geoip_spark.operators.basket import MAX_BASKET
    return _rules_state(
        basket_col, item_col,
        MAX_BASKET if max_basket is None else max_basket,
        schema[item_col].dataType.simpleString())


def _rules_state(basket_col: str, item_col: str, max_basket: int,
                 item_type: str) -> AdditiveState:
    # a different max_basket silently mixes incompatible universes
    from logstash_filter_geoip_spark.operators.basket import (
        merge_rule_counts, rule_counts, rules_from_counts)
    return AdditiveState(
        "rules", "counters from different basket universes cannot be added.",
        "sketch",
        {"basket_col": basket_col, "item_col": item_col,
         "max_basket": max_basket, "item_type": item_type},
        # cache=False: the operator-internal persists have no unpersist
        # handle here, so a continuous stream would leak one CacheManager
        # entry pair PER MICRO-BATCH; the swap evaluates the plan exactly
        # once and micro-batches are small, so subtree re-execution is the
        # cheaper side of the trade
        lambda batch, prev: rule_counts(batch, basket_col, item_col,
                                        max_basket, cache=False),
        merge_rule_counts, rules_from_counts,
        # one file per trigger: whole baskets per file is the
        # basket-atomic ingestion contract
        max_files=1)


# ---------------------------------------------------------------------------
# streaming cluster-occupancy monitor (the integer k-means streaming face)
# ---------------------------------------------------------------------------


def cluster_state(centroids: list[list[int]], dim: int | None = None,
                  emb_col: str = "embedding") -> AdditiveState:
    """Cluster-occupancy face: per micro-batch clustering.cluster_profile
    — the IDENTICAL fixed-centroid assignment + rollup the batch operator
    runs (one definition, never forked) — with (n_members, inertia) added
    per cid: ≤ k rows of state, the corpus-composition monitor ("which
    topics is the feed drifting toward") answered without rescanning
    vectors. Centroids come from a batch clustering.train_centroids run."""
    # the FULL centroid matrix (k×dim BIGINTs — argument-bounded) is
    # pinned: changed centroids would mix two cluster geometries
    from logstash_filter_geoip_spark.operators.clustering import (
        DIM, cluster_profile)
    dim = DIM if dim is None else dim
    return AdditiveState(
        "cluster", "occupancy counters from different centroid sets cannot "
        "be added.", "sketch",
        {"centroids": [[int(x) for x in c] for c in centroids],
         "dim": dim, "emb_col": emb_col},
        lambda batch, prev: cluster_profile(batch, centroids, dim=dim,
                                            emb_col=emb_col),
        _sum_by(("cid",), "n_members", "inertia"))


# ---------------------------------------------------------------------------
# streaming seasonal-baseline maintenance (hygiene.seasonal_anomalies' twin)
# ---------------------------------------------------------------------------


def seasonal_state(ts_col: str = "ts") -> AdditiveState:
    """Hour-of-day seasonal-baseline face: per micro-batch
    hygiene.seasonal_daily, cell counts added — types × days × 24 rows of
    state (the rolling_drift calendar-sized precedent). Read face:
    hygiene.seasonal_flags(counts), the batch
    operator's median baselines + anomaly flags."""
    # a different ts column silently mixes calendars
    from logstash_filter_geoip_spark.operators import hygiene
    return AdditiveState(
        "seasonal", "daily-hour counts from different ts columns cannot "
        "be added.", "counts", {"ts_col": ts_col},
        lambda batch, prev: hygiene.seasonal_daily(batch, ts_col),
        _sum_by(("event_type", "day", "hr"), "n_events"),
        hygiene.seasonal_flags)


# the faces with a read: face name → its spec rebuilt from the pinned meta
_SPEC_FROM_META: dict[str, Callable[[dict], AdditiveState]] = {
    "drift": _drift_state,
    "rolling_drift": lambda m: rolling_drift_state(m["col"], m["ts_col"],
                                                   m["bucket"]),
    "index": lambda m: _index_state(m["text_col"], m["id_type"]),
    "rules": lambda m: _rules_state(**m),
    "cluster": lambda m: cluster_state(**m),
    "seasonal": lambda m: seasonal_state(**m),
}
