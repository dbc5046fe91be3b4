"""Managed-vs-vendored database selection — the setup-time control plane the
reference wires through DatabaseManager (geoip.rb:187-199 select_database_path,
geoip.rb:156-171 update_filter/fail_filter, exercised by
spec/filters/geoip_online_spec.rb:74-90).

Reference semantics, mirrored exactly:
  * when a manager is AVAILABLE it wins: the filter subscribes and uses the
    path the manager returns (a managed, auto-updated database). A nil
    subscription result means "managed but not yet provisioned" → the filter
    runs UNHEALTHY (every event tagged `_geoip_expired_database`) until the
    manager pushes an `:update` — it does NOT silently fall back to the
    vendored file (setup_filter(nil) → @healthy_database = false).
  * when no manager is available: an explicitly configured database path if
    set, else the plugin-vendored `GeoLite2-<type>.mmdb`.
The selected path is recorded (the spec asserts `last_db_path`).

Spark mapping: a selection produces the (dim, dim_v6) pair for enrich();
`dim_provider_from_selection` re-runs the selection per micro-batch so a
manager-side `:update` (new path) or `:expire` (None) lands on the next
batch — the streaming pipeline's existing hot-swap contract (S4).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .geolite2 import load_dim_mmdb, vendored_dims, vendored_mmdb_path

# a manager is any callable: database_type -> current .mmdb path or None —
# the subscribe_database_path / update surface collapsed to a poll (the
# provider is consulted at setup and once per micro-batch)
Manager = Callable[[str], "str | None"]


@dataclass
class SelectedDatabase:
    """Outcome of setup-time selection: which database the filter will use,
    where it came from, and the ready-to-join dim pair."""
    path: str | None          # last_db_path analogue (None = golden VALUES)
    kind: str                 # "managed" | "explicit" | "vendored"
    healthy: bool             # False → expired tagging until an update
    dim: DataFrame | None
    dim_v6: DataFrame | None


def select_database(spark: SparkSession, database: str = "City",
                    manager: Manager | None = None,
                    explicit_path: str | None = None) -> SelectedDatabase:
    """The select_database_path analogue (geoip.rb:187-199).

    Extraction is mtime-cached (geolite2._mmdb_rows_cached), so per-batch
    re-selection does not re-parse an unchanged file."""
    if manager is not None:
        path = manager(database)
        if path is None:
            # managed-but-unprovisioned: unhealthy, NOT a vendored fallback
            return SelectedDatabase(None, "managed", False, None, None)
        dim, dim_v6 = load_dim_mmdb(spark, path, database)
        return SelectedDatabase(path, "managed", True, dim, dim_v6)
    if explicit_path is not None:
        dim, dim_v6 = load_dim_mmdb(spark, explicit_path, database)
        return SelectedDatabase(explicit_path, "explicit", True, dim, dim_v6)
    path = vendored_mmdb_path(database)
    # vendored_dims handles both cases itself (full cached ingestion when
    # the file exists, golden VALUES stand-in otherwise)
    dim, dim_v6 = vendored_dims(spark, database)
    return SelectedDatabase(path, "vendored", True, dim, dim_v6)


def dim_provider_from_selection(spark: SparkSession, database: str = "City",
                                manager: Manager | None = None,
                                explicit_path: str | None = None):
    """A `dim_provider` for streaming.run_stream that re-runs the selection
    per micro-batch: a manager `:update` (new path) takes effect on the next
    batch, a manager `:expire` (None) flips to expired tagging — exactly
    update_filter's two actions (geoip.rb:160-171)."""
    def provider():
        sel = select_database(spark, database, manager, explicit_path)
        return (sel.dim, sel.dim_v6) if sel.healthy else None
    return provider
