"""Pipeline configuration mirroring the plugin's config surface 1:1.

Parity: lib/logstash/filters/geoip.rb:43-94 (options), :129-145 (target
resolution / ECS auto-derivation), :107-110 (register-time validation).
`cache_size` is accepted but a documented no-op: under a broadcast hash join
the whole dimension table is RAM-resident per executor, which strictly
dominates the reference's 1000-entry LRU (geoip.rb:77-91, SURVEY.md §4.1).
"""

from __future__ import annotations

import warnings
from dataclasses import dataclass, field

from .fields import DATABASE_DEFAULTS, FIELD_BY_NAME, resolve_fields

# ECS allows the geo enrichment under these top-level field sets
# (geoip.rb:98-105).
ECS_TARGETS = {"client", "destination", "host", "observer", "server", "source"}

DEFAULT_TAG_ON_FAILURE = ["_geoip_lookup_failure"]
EXPIRED_TAG = "_geoip_expired_database"


class ConfigurationError(ValueError):
    """Mirror of LogStash::ConfigurationError raised at register time."""


def _strip_brackets(ref: str) -> list[str]:
    """'[client][ip]' or 'client.ip' -> ['client', 'ip']."""
    if "[" in ref:
        return [p for p in ref.replace("]", "").split("[") if p]
    return ref.split(".")


@dataclass
class GeoIPConfig:
    """Everything the plugin's `config :...` block accepts, Spark-shaped.

    source   — column (or dotted path) holding the IP; our parse stage
               produces `ip_str` by default.
    target   — output struct column; resolution rules below.
    fields   — optional projection (case-insensitive names); defaults per DB.
    database — logical dimension type: City/ASN/ISP/Country/Domain/
               Enterprise/Anonymous-IP (the plugin's `database` path +
               `default_database_type`, geoip.rb:46,187-199).
    ecs_compatibility — ECS naming (nested geo/as/mmdb structs) vs legacy flat.
    tag_on_failure — tags appended on lookup failure (geoip.rb:94).
    cache_size — accepted, no-op (see module docstring).
    healthy  — False models the expired/absent database state: lookups are
               skipped entirely and EXPIRED_TAG is appended (geoip.rb:115,
               spec/filters/geoip_offline_spec.rb:87-101).
    """

    source: str = "ip_str"
    target: str | None = None
    fields: list[str] | None = None
    database: str | None = None
    # plugin parity: when no explicit `database` is given, the vendored DB
    # of this type loads (geoip.rb:46,187-199); valid ∈ {City, ASN} in the
    # reference — we accept any schema type for generality
    default_database_type: str = "City"
    ecs_compatibility: bool = True
    tag_on_failure: list[str] = field(default_factory=lambda: list(DEFAULT_TAG_ON_FAILURE))
    cache_size: int = 1000
    healthy: bool = True

    def __post_init__(self) -> None:
        if self.database is None:
            self.database = self.default_database_type
        # 'Unknown' is ACCEPTED at register time (J4, Database.java:102-124:
        # an unrecognized mmdb type still registers, with an empty field
        # set); enrich() then raises at event time, mirroring the reference's
        # IllegalStateException (GeoIPFilter.java:195-196). Only names
        # outside the registry error HERE.
        if self.database not in DATABASE_DEFAULTS:
            raise ConfigurationError(
                f"unknown database {self.database!r}; "
                f"valid: {sorted(DATABASE_DEFAULTS)}")
        # validates names eagerly (register-time errors, F7)
        resolved = resolve_fields(self.fields, self.database,
                                  self.ecs_compatibility)
        # DEPARTURE from the reference, which registers such a config: in
        # ECS mode a field with no ECS path is skipped (COUNTRY_CODE3), so
        # a field list of only those would build an empty struct<> target
        # that no parquet sink can write
        if self.fields and self.ecs_compatibility and \
                not any(FIELD_BY_NAME[f].ecs_path for f in resolved):
            raise ConfigurationError(
                f"fields {resolved} have no ECS name, so the ECS target "
                "would be empty; add a field with an ECS name or set "
                "ecs_compatibility=False")
        self.target = self.resolve_target()

    def resolve_target(self) -> str:
        """Target resolution (geoip.rb:129-145, geoip_ecs_spec.rb:166-280).

        Legacy mode: default 'geoip'. ECS mode with no target: auto-derive by
        stripping a trailing 'ip' segment from the source reference
        ('[client][ip]' -> 'client'); a bare 'ip' source cannot be derived ->
        ConfigurationError. Non-canonical ECS targets warn but are allowed.
        """
        if self.target:
            parts = _strip_brackets(self.target)
            resolved = parts[0] if len(parts) == 1 else ".".join(parts)
        elif not self.ecs_compatibility:
            resolved = "geoip"
        else:
            parts = _strip_brackets(self.source)
            if len(parts) < 2 or parts[-1] != "ip":
                raise ConfigurationError(
                    "GeoIP filter: Unable to determine `target` from the given "
                    f"`source` {self.source!r}; set `target` explicitly "
                    "(parity: geoip.rb:140-145)")
            resolved = ".".join(parts[:-1])
        if self.ecs_compatibility and resolved.split(".")[0] not in ECS_TARGETS \
                and resolved != "geoip":
            warnings.warn(
                f"ECS expects `target` in {sorted(ECS_TARGETS)}, got {resolved!r} "
                "(parity: geoip.rb:135-136)", stacklevel=2)
        return resolved

    @property
    def resolved_fields(self) -> list[str]:
        return resolve_fields(self.fields, self.database, self.ecs_compatibility)
