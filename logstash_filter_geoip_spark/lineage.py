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

It also owns the one crash-safe publish protocol — `swap_dir`, `recover`,
`publish_json` — that route's manifest and sink compaction and every
streaming state directory go through.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import contextmanager

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
    manifest = {**manifest, "written_at": time.time()}
    publish_json(manifest_path(base), manifest, indent=2, sort_keys=True,
                 default=str)
    return manifest


def publish_json(path: str, obj, **dump_kw) -> None:
    """Write `obj` as JSON to `path` (json.dump formatting `dump_kw`) so
    that a kill mid-dump leaves the previous file or none, never a
    truncated one."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, **dump_kw)
    os.replace(tmp, path)


def is_local(path: str) -> bool:
    """False for a URL: on a remote store a rename is not atomic."""
    return "://" not in path


def local_only(path: str) -> None:
    if not is_local(path):
        raise NotImplementedError(
            f"{path!r}: a directory rename publishes this state, so local "
            "paths only; remote state needs a transactional table format "
            "(Delta/Iceberg MERGE, or append and OPTIMIZE)")


_TMP, _OLD = ".compact-", ".old-"


def _sibling(path: str, prefix: str) -> str:
    parent, leaf = os.path.split(path.rstrip("/"))
    return os.path.join(parent, prefix + leaf)


@contextmanager
def swap_dir(path: str):
    """Replace the directory `path` with what the caller writes into the
    yielded ``.compact-<leaf>`` (which may be read from `path` itself): on
    a clean exit park the live directory as ``.old-<leaf>``, rename the new
    one into place, drop the backup. An exception leaves `path` as it was."""
    local_only(path)
    tmp, old = _sibling(path, _TMP), _sibling(path, _OLD)
    yield tmp
    if os.path.exists(path):
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old)
    else:
        os.rename(tmp, path)


def recover(path: str) -> list[dict]:
    """Undo a crash inside swap_dir(path): restore a parked ``.old-<leaf>``
    whose live directory is missing, drop one beside a live directory,
    drop any ``.compact-<leaf>``. Returns the action audit."""
    tmp, old = _sibling(path, _TMP), _sibling(path, _OLD)
    actions = []
    if os.path.exists(old):
        if os.path.exists(path):
            shutil.rmtree(old)
            actions.append({"action": "dropped_backup", "path": old})
        else:
            os.rename(old, path)
            actions.append({"action": "restored", "path": path})
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
        actions.append({"action": "dropped_tmp", "path": tmp})
    return actions


def interrupted_swaps(root: str) -> list[str]:
    """Every path under `root` with a swap leftover beside it (hidden and
    underscore directories are never descended)."""
    out = set()
    for dirpath, dirs, _files in os.walk(root):
        out |= {os.path.join(dirpath, x.partition("-")[2]) for x in dirs
                if x.startswith((_TMP, _OLD))}
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
    return sorted(out)
