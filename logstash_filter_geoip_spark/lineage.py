"""Per-partition lineage + metrics, and the idempotent-resume manifest.

north_rule: "resumable from checkpoint with per-partition lineage + metrics".

Batch jobs get a manifest JSON next to the output:
  * input fingerprint (row count + order-insensitive content hash computed
    distributed — never a driver-side collect)
  * per-sink row counts, miss counts
  * status per sink → a re-run with the same fingerprint skips completed
    sinks (idempotent replay, the batch analogue of a streaming checkpoint)

Metrics are a small DataFrame keyed by written file (operators/route.py
sink_file_metrics) — rows + failures per sink file — written as parquet
alongside the sinks, so a 100 TB run leaves an auditable trail of exactly
which output partitions hold what, without a second pass over the input.
Streaming jobs use Structured Streaming's own checkpointLocation
(streaming/pipeline.py); this module covers the batch path.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MANIFEST_NAME = "_manifest.json"
METRICS_DIR = "_metrics"


# the columns route() fingerprints its input by
FINGERPRINT_COLS = ("conv_id", "turn_idx")


def fingerprint_aggs(key_cols) -> list[Column]:
    """The fingerprint's two aggregates, its one definition: the row count
    and bit_xor of the key columns' xxhash64. bit_xor is order-insensitive
    and cannot overflow (ANSI-safe); the count stops duplicate-row
    cancellation from hiding a size change. Run as an aggregate
    (input_fingerprint) or folded into a write with df.observe (route)."""
    h = F.xxhash64(*[F.col(c) for c in key_cols])
    return [F.count(F.lit(1)).alias("n"), F.bit_xor(h).alias("hash_xor")]


def fingerprint_of(row) -> dict:
    """The fingerprint dict of a fingerprint_aggs result row."""
    return {"n_rows": int(row["n"]), "hash_xor": int(row["hash_xor"] or 0)}


def input_fingerprint(df: DataFrame, key_cols=None) -> dict:
    """Order-insensitive content fingerprint of `df` (all columns unless
    `key_cols` is given). One distributed aggregate; no collect of data
    rows. At 100 TB this is a single scan with a 2-value result."""
    row = df.agg(*fingerprint_aggs(key_cols or df.columns)).collect()[0]
    return fingerprint_of(row)


def manifest_path(base: str) -> str:
    return os.path.join(base, MANIFEST_NAME)


def read_manifest(base: str) -> dict | None:
    p = manifest_path(base)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def write_manifest(base: str, manifest: dict) -> dict:
    os.makedirs(base, exist_ok=True)
    manifest = dict(manifest)
    manifest["written_at"] = time.time()
    tmp = manifest_path(base) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True, default=str)
    os.replace(tmp, manifest_path(base))  # atomic publish
    return manifest
