"""Enrich stage: broadcast bucketed range join + ECS/legacy struct build +
failure tagging — the Spark-native form of the reference's whole hot path
(GeoIPFilter.handleEvent, GeoIPFilter.java:148-234).

Execution shape (SURVEY.md §2.3 J1/J2, §4.2):
  * dimension rows expand CIDR→[net_start, net_end] and replicate per /16
    bucket, so `events.bucket == dim.prefix_bucket` is an equi-key and
    Catalyst plans a BroadcastHashJoin (LeftOuter) with the BETWEEN residual
    as the join condition — never a BroadcastNestedLoopJoin. Verified by
    tests/test_plan_shape.py.
  * left-outer always: a turn never drops or duplicates (ranges disjoint).
  * the v6 leg is chosen from the input, never by an option: an equi-join
    on the row position an in-UDF binary search found (`index`), or, for
    versioned dims (`event_time_col`), the hi-word bucket join with a range
    residual (`bucket`) — see enrich().
  * one lookup per row, like the reference's filter; its LRU cache (J3)
    has no analogue here — the broadcast dim is already RAM-resident per
    executor, and a distinct-IP pre-aggregation measured slower than the
    direct join (BENCH/BASELINE.md).
  * the pipeline is Column expressions inside whole-stage-codegen spans,
    with at most ONE Arrow-vectorized node (none on the v4-only path,
    `source_may_contain_v6=False`): the Arrow key UDF (ipkeys.
    ipv6_key_lpm_udf, parse-only on the bucket leg) that materializes
    the 128-bit (hi, lo) join key (a deliberate barrier — see the inline
    note in enrich(); measured 30× cheaper than the pure-Column parser it
    replaced, whose tree was re-inlined per downstream reference). No
    row-at-a-time Python anywhere.

Miss-semantics trichotomy (P1/P3/P5, spec/filters/geoip_offline_spec.rb):
  * no IP extracted / blank          → target struct NULL ("absent")
  * unparseable IP / not in DB /
    City row with lat+lon both null  → target struct non-null, all fields
                                       null ("{}"); City abort per
                                       GeoIPFilter.java:251-255
  * hit                              → populated struct
Failure rows get `tag_on_failure` appended via array_union
(geoip.rb:124-127); an unhealthy database skips lookup entirely and tags
`_geoip_expired_database` (geoip.rb:115).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import EXPIRED_TAG, GeoIPConfig
from ..fields import FIELD_BY_NAME, FieldSpec
from ..functions.ipkeys import (bucket_of, explode_buckets, ipv4_mapped_u32,
                                ipv4_to_uint32, ipv6_canonical_from_key,
                                ipv6_key_lpm_udf, uint32_to_ipv4, v6_bucket_of)
from ..sources.geolite2 import check_v6_rows

_DIM_PREFIX = "__dim_"
_DIM6_PREFIX = "__dim6_"

def _empty_tags() -> Column:
    # typed empty array so array_union never sees array<null>
    return F.array().cast(T.ArrayType(T.StringType()))


# ---------------------------------------------------------------------------
# Struct assembly
# ---------------------------------------------------------------------------


def _leaf_value(spec: FieldSpec, ip_col: Column, dim) -> Column:
    """The raw Column for one field, before the hit-guard is applied."""
    if spec.name == "IP":
        # canonical form: dotted-quad IPv4 is already canonical (F5)
        return ip_col
    if spec.name == "REGION_ISO_CODE":
        # composite "US-WA" — both parts required (GeoIPFilter.java:666-674)
        iso, reg = dim("country_iso_code"), dim("region_code")
        return F.when(iso.isNotNull() & reg.isNotNull(),
                      F.concat_ws("-", iso, reg))
    if spec.dim_column is not None:
        return dim(spec.dim_column)
    raise AssertionError(f"no value rule for {spec.name}")


def _insert(tree: dict, path: list[str], value: Column) -> None:
    node = tree
    for part in path[:-1]:
        node = node.setdefault(part, {})
    node[path[-1]] = value


def _tree_to_struct(tree: dict) -> Column:
    parts = []
    for name, v in tree.items():
        col = _tree_to_struct(v) if isinstance(v, dict) else v
        parts.append(col.alias(name))
    return F.struct(*parts)


def _field_tree(config: GeoIPConfig, leaf) -> dict:
    """Nested {name: leaf(spec, sub)} tree of the target struct: the one
    home of the ECS/legacy path rules, shared by the Column build
    (build_enrichment_tree) and the declared type (_target_type).

    ECS mode uses the dotted ECS paths (geo.*, as.*, mmdb.*, ip_traits.*)
    and skips country_code3, which has no ECS name (GeoIPFilter.java:
    227-229); legacy uses flat names. ECS geo.location shares its path with
    LATITUDE/LONGITUDE (Field.java:46-47), so LOCATION inserts its lat/lon
    as separate leaves (`sub` "lat"/"lon") that merge within the tree,
    later fields overwriting, mirroring EnumMap write order (SURVEY.md
    §7.4.4); legacy `location` is one composite leaf (`sub` None).
    """
    tree: dict = {}
    for name in config.resolved_fields:
        spec = FIELD_BY_NAME[name]
        if not config.ecs_compatibility:
            _insert(tree, [spec.legacy_name], leaf(spec, None))
        elif spec.name == "LOCATION":
            for sub in ("lat", "lon"):
                _insert(tree, spec.ecs_path.split(".") + [sub], leaf(spec, sub))
        elif spec.ecs_path:
            _insert(tree, spec.ecs_path.split("."), leaf(spec, None))
    return tree


def build_enrichment_tree(config: GeoIPConfig, ip_col: Column,
                          dim_col, hit: Column) -> dict:
    """Nested {path: Column} tree for the target struct (paths:
    _field_tree). Every leaf is guarded by `hit` so a matched-but-aborted
    row and an unmatched row both yield all-null fields (the "{}" state);
    null dim attributes stay null (P9 suppression). Location leaves are
    absent (null) unless BOTH lat and lon are present (F3).
    """
    def leaf(spec: FieldSpec, sub: str | None) -> Column:
        if spec.name != "LOCATION":
            return F.when(hit, _leaf_value(spec, ip_col, dim_col))
        lat, lon = dim_col("latitude"), dim_col("longitude")
        both = hit & lat.isNotNull() & lon.isNotNull()
        if sub is None:
            return F.when(both, F.struct(lat.alias("lat"), lon.alias("lon")))
        return F.when(both, lat if sub == "lat" else lon)
    return _field_tree(config, leaf)


def _target_type(config: GeoIPConfig) -> T.StructType:
    """StructType of the target column: the _field_tree paths typed by
    FieldSpec.dtype. Pure Python (no py4j Column), so it costs nothing on
    every enrich() call, every run_stream micro-batch included."""
    def leaf(spec: FieldSpec, sub: str | None) -> T.DataType:
        return spec.dtype if sub is None else spec.dtype[sub].dataType

    def struct_type(tree: dict) -> T.StructType:
        return T.StructType([
            T.StructField(k, struct_type(v) if isinstance(v, dict) else v)
            for k, v in tree.items()])
    return struct_type(_field_tree(config, leaf))


# ---------------------------------------------------------------------------
# The operator
# ---------------------------------------------------------------------------


def _source_ip(df: DataFrame, source: str) -> Column:
    """Resolve the source reference to ONE IP string Column (P2 literal).

    Parity with GeoIPFilter.handleEvent's source dispatch
    (GeoIPFilter.java:156-163): a String field passes through; a List field
    contributes its FIRST element; any other type is a hard error at
    register time (the reference throws IllegalArgumentException). Dotted
    paths reach into struct columns.
    """
    top = source.split(".")[0]
    if top not in df.columns:
        return F.col(source)  # unresolvable here — let Spark raise
    dtype = df.schema[top].dataType
    for part in source.split(".")[1:]:
        if isinstance(dtype, T.StructType) and part in dtype.fieldNames():
            dtype = dtype[part].dataType
        else:
            return F.col(source)
    if isinstance(dtype, T.StringType):
        return F.col(source)
    if isinstance(dtype, T.ArrayType) and isinstance(dtype.elementType, T.StringType):
        return F.get(F.col(source), 0)
    raise ValueError(
        f"{source} - found {dtype.simpleString()}, expecting string or "
        "array<string> (parity: GeoIPFilter.java:161-163)")


def _memo_on_dim(build):
    """Memoize a dim-prep step ON the dim object (r6): repeated enrich()
    calls against the SAME dim DataFrame were re-building its prepared
    projection (py4j expression trees), re-collecting and re-broadcasting
    its index, per call. Identity-attached, so a hot-swapped dim (a NEW
    DataFrame object) prepares fresh — the dim-swap semantics are
    unchanged; this is reference-data prep, never a result cache. The memo
    hits only while the caller holds the dim object: `vendored_dims` builds
    new DataFrames on every call, so each of its results prepares afresh."""
    attr = f"_memo_{build.__name__}"

    @functools.wraps(build)
    def memoized(dim: DataFrame):
        cached = getattr(dim, attr, None)
        if cached is None:
            cached = build(dim)
            try:
                setattr(dim, attr, cached)
            except AttributeError:  # exotic DataFrame proxies: no memo
                pass
        return cached
    return memoized


@_memo_on_dim
def prepare_dim(dim: DataFrame) -> DataFrame:
    """Bucket-replicate and column-prefix the dimension table (driver-side
    prep over a small table; the result is what gets broadcast)."""
    exploded = explode_buckets(dim)
    return exploded.select(
        F.col("prefix_bucket"),
        *[F.col(c).alias(_DIM_PREFIX + c) for c in dim.columns],
    )


@_memo_on_dim
def prepare_dim_v6(dim_v6: DataFrame) -> DataFrame:
    """v6 counterpart of prepare_dim for the bucket leg: replicate per
    covered hi-word /16 bucket so the v6 range join also probes on an
    equi-key (same BroadcastHashJoin shape as v4, never a nested-loop
    join).

    The one replication guard (geolite2.check_v6_rows) runs here, over the
    relation about to be exploded — for event-time enrich that is the whole
    temporal.dim_history union, so a history whose snapshots each pass but
    whose sum does not is refused before the broadcast is built. One small
    collect of the range bounds per dim object."""
    rows = dim_v6.select("network", "start_hi", "end_hi").collect()
    check_v6_rows([(r[0], r[1], None, r[2]) for r in rows],
                  "enrich bucket leg")
    exploded = dim_v6.withColumn(
        "prefix_bucket6",
        F.explode(F.sequence(v6_bucket_of(F.col("start_hi")),
                             v6_bucket_of(F.col("end_hi")))))
    return exploded.select(
        "prefix_bucket6",
        *[F.col(c).alias(_DIM6_PREFIX + c) for c in dim_v6.columns],
    )


@_memo_on_dim
def _index_dim_v6(dim_v6: DataFrame):
    """Driver-side prep for the v6 ``index`` leg: pull the dim as
    Arrow, sort it by (start_hi, start_lo), broadcast the numpy range
    arrays for the LPM UDF, and hand the same sorted table WITH its row
    position back to the JVM as the equi-join build side (one source of
    truth for the ordering — the UDF's searchsorted position IS the join
    key).

    The build side is an Arrow-created local relation (LocalTableScan), not
    a DataFrame over Python rows: `createDataFrame(list_of_tuples)` plans as
    a pickled-row `Scan ExistingRDD` that every query re-runs as a job of
    its own. Columns stay Arrow end to end — never pandas, which would turn
    nullable longs (dma_code) into float64 (the functions.ipkeys lesson).

    Driver-resident by design: the reference's workers each hold the whole
    .mmdb in RAM (GeoIPFilter.java:173-197); a full production GeoLite2 v6
    file is ~1.5M ranges ≈ ~50 MB of int64 arrays, and nothing is
    replicated, so no width bound applies. Memoized: without it every
    headline bench query paid ~0.4 s re-collecting, re-sorting and
    re-broadcasting the index."""
    import numpy as np
    import pyarrow as pa
    spark = dim_v6.sparkSession
    table = dim_v6.toArrow().sort_by([("start_hi", "ascending"),
                                      ("start_lo", "ascending")])
    arrs = {k: np.asarray(table.column(k).to_numpy(), dtype=np.int64)
            for k in ("start_hi", "start_lo", "end_hi", "end_lo")}
    table = table.append_column(
        "dim_idx6", pa.array(np.arange(table.num_rows, dtype=np.int64)))
    schema = T.StructType(list(dim_v6.schema.fields)
                          + [T.StructField("dim_idx6", T.LongType(), False)])
    indexed = spark.createDataFrame(table, schema)
    dim6_b = indexed.select(
        "dim_idx6", *[F.col(c).alias(_DIM6_PREFIX + c) for c in dim_v6.columns])
    return spark.sparkContext.broadcast(arrs), dim6_b


def enrich(df: DataFrame, dim: DataFrame, config: GeoIPConfig,
           dim_v6: DataFrame | None = None,
           source_may_contain_v6: bool = True,
           event_time_col: str | None = None) -> DataFrame:
    """Left-join `df` (with `config.source` IP string column) against the
    dimension table(s) and append the target struct + failure tags.

    The source column may hold IPv4 OR IPv6 literals — the reference accepts
    both through one filter (InetAddress.getByName, GeoIPFilter.java:172).
    When `dim_v6` is given, v6-shaped values (containing ':') key a second
    bucketed broadcast range join over (hi, lo) signed-64 pairs; the two
    joins are disjoint by construction (a v4 string has no v6 key and vice
    versa), so attributes coalesce into ONE struct-build path — ECS/legacy
    naming, fields projection, target merge, and the City empty-location
    abort all apply identically to both families. The emitted `ip` is the
    canonical form: dotted-quad passthrough for v4, exploded (no '::')
    groups for v6 (F5, geoip_ecs_spec.rb:144-159) — computed from the join
    key with pure Column expressions, no Python.

    Returns df columns + `config.target` struct + updated `tags`.
    Row count is preserved exactly (J2) — asserted in tests.

    `event_time_col` enables versioned-database (event-time) enrichment:
    the dim(s) must carry `valid_from`/`valid_to` timestamp columns (build
    them with `operators.temporal.dim_history`, the whole-file-swap model of
    the reference's DatabaseManager update cycle, geoip.rb:156-171) and each
    row joins only to the snapshot whose half-open validity interval
    contains its event time — so replaying from checkpoint after a database
    update reproduces the ORIGINAL enrichment instead of drifting to the new
    file. A null event time matches no snapshot → ordinary lookup-failure
    tagging. Versions of the same network overlap in IP space but their
    validity intervals are disjoint, so the at-most-one-match/row-count
    contract (J2) is unchanged, as is the physical plan shape (the interval
    predicate is a residual on the same two broadcast-hash legs).

    The v6 leg follows from the input — both forms are ONE
    BroadcastHashJoin + the ONE ArrowEvalPython barrier, value-identical:
      * index (every non-versioned dim): the Arrow key UDF also
        binary-searches the broadcast sorted range arrays
        (functions.ipkeys.ipv6_key_lpm_udf) and the join is an equi-join on
        the matched row index — probe cost O(log n) per v6 value, build side
        NOT bucket-replicated. The bucketed join's probe cost is linear in
        rows-per-bucket, and real dims are bucket-skewed (the vendored test
        files already put 200–1,914 rows in one hi-word bucket; a full
        GeoLite2 is far denser).
      * bucket (`event_time_col` set): hi-word /16 bucket equi-key +
        (hi, lo) range residual. Versioned dims overlap in IP space across
        snapshots, so LPM-by-position is ill-defined there; only the range
        residual (plus the validity interval) can pick the one match.
    """
    if event_time_col is not None:
        if event_time_col not in df.columns:
            raise ValueError(f"event_time_col {event_time_col!r} not in input")
        for name, d_ in (("dim", dim), ("dim_v6", dim_v6)):
            if d_ is not None and not {"valid_from", "valid_to"} <= set(d_.columns):
                raise ValueError(
                    f"event_time_col requires valid_from/valid_to on {name} "
                    "— build the history with operators.temporal.dim_history")
    index6 = dim_v6 is not None and event_time_col is None

    ip_col = _source_ip(df, config.source)
    existing_tags = F.col("tags") if "tags" in df.columns else _empty_tags()

    if config.database == "Unknown":
        # J4: an unrecognized mmdb type REGISTERS with an empty field set
        # (Database.java:102-124) — config accepts it — but at event time the
        # reference throws an uncaught IllegalStateException
        # (GeoIPFilter.java:195-196). Raising here is the runtime-parity
        # choice (ADVICE r2); it also avoids the schema inconsistency a
        # silent no-op created (no target struct / geoip_hit for downstream).
        raise ValueError(
            "Unsupported database type 'Unknown' (parity: "
            "GeoIPFilter.java:195-196 throws IllegalStateException when an "
            "event reaches an UNKNOWN-typed database)")

    if not config.healthy:
        # expired/absent DB: skip lookup, tag every row (P6). The reference
        # skips the lookup entirely and leaves the event's fields alone
        # (geoip.rb:115 tag_unhealthy_filter path), so a PRE-EXISTING
        # target column is left untouched — never nulled. When the target
        # is absent it is added as typed NULL, and the diagnostic columns
        # (ip_u32, geoip_hit) are appended with the healthy path's types,
        # so sinks keep ONE schema across a hot-swap expiry mid-stream.
        out = df.withColumn(
            "tags",
            F.array_union(F.coalesce(existing_tags, _empty_tags()),
                          F.array(F.lit(EXPIRED_TAG))))
        if config.target not in df.columns:
            out = out.withColumn(config.target,
                                 F.lit(None).cast(_target_type(config)))
        return (out.withColumn("ip_u32", F.lit(None).cast("long"))
                   .withColumn("geoip_hit", F.lit(False)))

    if dim_v6 is None and not source_may_contain_v6:
        # v4-only fast path (VERDICT r4 wrong #3): the caller GUARANTEES the
        # source column never holds a ':' (e.g. it came from an IPv4-only
        # regex extraction), so the v6 parse/mapped-key machinery would be
        # dead expressions widening the codegen span — skip building it.
        # Only an explicit opt-in: with the default flag even a
        # v4-dim-only config keeps mapped-spelling ('::ffff:1.2.3.4')
        # parity via the key machinery below.
        map4u = F.lit(None).cast("long")
        is6 = F.lit(False)
        probe = (df.withColumn("__ip_u32", ipv4_to_uint32(ip_col))
                   .withColumn("__bucket", bucket_of(F.col("__ip_u32"))))
    else:
        # Any colon-containing literal parses through the Arrow-vectorized
        # ipv6_key_lpm_udf (Java funnels EVERY textual form through
        # InetAddress.getByName, GeoIPFilter.java:172; Python `ipaddress`
        # accepts the identical grammar — embedded dotted quads
        # '::ffff:a.b.c.d' in any spelling, NAT64 '64:ff9b::a.b.c.d',
        # '::a.b.c.d' — and rejects the same malformed forms, fuzz-locked in
        # tests/test_properties.py). IPv4-MAPPED keys (bytes ::ffff:x) then
        # divert to the v4 leg — Java's byte-level
        # convertFromIPv4MappedAddress.
        #
        # WHY a pandas UDF in the hot path (r5 measurement, reversing the
        # r2 call): the pure-Column parser (regex validate + '::' string
        # surgery + 8× conv) was referenced by the join condition, the
        # mapped-key check, and the canonical-ip build; Catalyst's
        # projection collapse re-inlines the whole parse tree at EVERY
        # reference and codegen's subexpression elimination cannot rescue
        # it (the trees sit inside CASE WHEN branches, which CSE skips).
        # Measured at 1M rows / 285k v6: Column machinery 45 executor-CPU-s
        # vs 1.2 s for the UDF — the ArrowEvalPython node is a hard
        # materialization barrier, so (hi, lo) are computed ONCE and every
        # downstream reference is a cheap long read. The gate ships only
        # ':'-containing values into Arrow (nulls for the v4 majority).
        # The index leg hands the SAME barrier its range index: the binary
        # search rides the pass the plan already pays for, and the matched
        # row position comes out as one more int64 column.
        # The bucket leg and the no-v6-dim path run its parse-only form (no
        # range index, NULL dim_idx).
        if index6:
            bc6, dim6_indexed = _index_dim_v6(dim_v6)
        key_udf = ipv6_key_lpm_udf(bc6 if index6 else None)
        probe = df.withColumn(
            "__k6", key_udf(F.when(ip_col.contains(":"), ip_col)))
        probe = (probe.withColumn("__hi", F.col("__k6.ip_hi"))
                      .withColumn("__lo", F.col("__k6.ip_lo"))
                      .withColumn("__map4_u32",
                                  ipv4_mapped_u32(F.col("__hi"), F.col("__lo"))))
        map4u = F.col("__map4_u32")
        is6 = ip_col.contains(":") & map4u.isNull()
        ip_u32 = F.coalesce(
            map4u, ipv4_to_uint32(F.when(~ip_col.contains(":"), ip_col)))
        probe = probe.withColumn("__ip_u32", ip_u32) \
                     .withColumn("__bucket", bucket_of(F.col("__ip_u32")))

    dim_b = prepare_dim(dim)

    if index6:
        # mapped rows get a NULL match index (null equi-key never matches
        # in the hash join) — the reference looks them up in the v4 trie
        # only, even when the v6 tree has a covering range
        probe = probe.withColumn(
            "__dim_idx", F.when(map4u.isNull(), F.col("__k6.dim_idx")))
    elif dim_v6 is not None:
        # mapped rows get a NULL v6 bucket (null equi-key never matches in
        # the hash join) — the reference looks them up in the v4 trie only
        probe = probe.withColumn(
            "__bucket6", v6_bucket_of(F.when(map4u.isNull(), F.col("__hi"))))

    def d(col: str) -> Column:
        v4 = F.col(_DIM_PREFIX + col)
        if dim_v6 is None or col not in dim_v6.columns:
            return v4
        return F.coalesce(v4, F.col(_DIM6_PREFIX + col))

    def _valid_at(prefix: str) -> Column:
        # half-open snapshot validity interval residual (event-time enrich)
        ts = F.col(event_time_col)
        return ((ts >= F.col(prefix + "valid_from"))
                & (F.col(prefix + "valid_to").isNull()
                   | (ts < F.col(prefix + "valid_to"))))

    cond = (
        (F.col("__bucket") == F.col("prefix_bucket"))
        & (F.col("__ip_u32") >= F.col(_DIM_PREFIX + "net_start"))
        & (F.col("__ip_u32") <= F.col(_DIM_PREFIX + "net_end"))
    )
    if event_time_col is not None:
        cond = cond & _valid_at(_DIM_PREFIX)
    joined = probe.join(F.broadcast(dim_b), cond, "left")

    matched = F.col(_DIM_PREFIX + "net_start").isNotNull()
    # canonical form (F5): the quad for v4 AND for every mapped spelling
    # (Java's Inet4Address.getHostAddress prints '1.2.3.4', never
    # '::ffff:1.2.3.4'); exploded groups for v6 (Inet6Address form)
    canon_v4 = F.coalesce(
        F.when(map4u.isNotNull(), uint32_to_ipv4(map4u)), ip_col)
    canon_ip = canon_v4
    if dim_v6 is not None:
        hi, lo = F.col("__hi"), F.col("__lo")
        s_hi = F.col(_DIM6_PREFIX + "start_hi")
        if index6:
            # the LPM already happened inside the Arrow barrier — pure
            # equi-join on the matched row position, residual-free
            cond6 = F.col("__dim_idx") == F.col("dim_idx6")
            joined = joined.join(F.broadcast(dim6_indexed), cond6, "left")
        else:
            s_lo = F.col(_DIM6_PREFIX + "start_lo")
            e_hi, e_lo = F.col(_DIM6_PREFIX + "end_hi"), F.col(_DIM6_PREFIX + "end_lo")
            ge_start = (hi > s_hi) | ((hi == s_hi) & (lo >= s_lo))
            le_end = (hi < e_hi) | ((hi == e_hi) & (lo <= e_lo))
            cond6 = ((F.col("__bucket6") == F.col("prefix_bucket6"))
                     & ge_start & le_end & _valid_at(_DIM6_PREFIX))
            joined = joined.join(F.broadcast(prepare_dim_v6(dim_v6)), cond6, "left")
        matched = matched | s_hi.isNotNull()
        canon_ip = F.when(is6 & F.col("__hi").isNotNull(),
                          ipv6_canonical_from_key(hi, lo)
                          ).otherwise(canon_v4)

    if config.database == "City":
        # City empty-location abort (P10): both lat AND lon null → miss
        matched = matched & ~(d("latitude").isNull() & d("longitude").isNull())

    tree = build_enrichment_tree(config, canon_ip, d, matched)
    populated = _tree_to_struct(tree)
    target_type = _target_type(config)

    # no IP found OR blank/whitespace source → target absent, not {} —
    # P1 + P3 exactly (GeoIPFilter.java:150-167, geoip_offline_spec.rb:51-59)
    absent = ip_col.isNull() | (F.trim(ip_col) == "")
    target = F.when(absent, F.lit(None).cast(target_type)).otherwise(populated)

    # F9 target merge (GeoIPFilter.java:214-232, CHANGELOG #98): if the
    # target column pre-exists, enrich fields OVERWRITE only where the
    # lookup produced a value; pre-existing content survives misses and
    # null attributes; an absent source leaves the target untouched.
    if config.target in df.columns:
        existing_type = df.schema[config.target].dataType
        if not isinstance(existing_type, T.StructType):
            raise ValueError(
                f"target column {config.target!r} pre-exists with non-struct "
                f"type {existing_type.simpleString()}; cannot merge")
        existing = F.col(config.target)
        merged = _merge_tree(tree, existing, existing_type, absent)
        target = _tree_to_struct(merged)

    failure = ~F.coalesce(matched, F.lit(False))
    fail_tags = F.array(*[F.lit(t) for t in config.tag_on_failure])
    tags = F.when(failure,
                  F.array_union(F.coalesce(existing_tags, _empty_tags()), fail_tags)
                  ).otherwise(F.coalesce(existing_tags, _empty_tags()))

    # exclude prior diagnostics too: chaining enrich calls (City then ASN —
    # the standard logstash stack) must replace ip_u32/geoip_hit, not
    # duplicate the column names
    keep = [c for c in df.columns
            if c not in ("tags", config.target, "ip_u32", "geoip_hit")]
    return joined.select(
        *keep,
        tags.alias("tags"),
        target.alias(config.target),
        F.col("__ip_u32").alias("ip_u32"),
        matched.alias("geoip_hit"),
    )


def _merge_tree(tree: dict, existing: Column,
                existing_type: T.StructType, absent: Column) -> dict:
    """Union-merge an enrichment tree with a pre-existing target struct.

    Per leaf shared by both: coalesce(enrich_value, existing_value) — the
    setField-overwrite-only-when-produced semantics of the reference (null
    enrich values never clobber pre-existing content, P9 + F9). Fields only
    in the existing struct are carried through; fields only in the tree are
    added. Enrich contributions are additionally gated on ~absent, so an
    absent source leaves every pre-existing value untouched while keeping a
    single unified struct type for all rows.
    """
    merged: dict = {}
    existing_fields = {f.name: f for f in existing_type.fields}
    names = list(tree.keys()) + [n for n in existing_fields if n not in tree]
    for name in names:
        enrich_v = tree.get(name)
        exist_f = existing_fields.get(name)
        if enrich_v is None:
            merged[name] = existing[name]
        elif isinstance(enrich_v, dict):
            if exist_f is not None and isinstance(exist_f.dataType, T.StructType):
                merged[name] = _merge_tree(enrich_v, existing[name],
                                           exist_f.dataType, absent)
            else:
                merged[name] = {
                    k: (F.when(~absent, v) if not isinstance(v, dict) else v)
                    for k, v in enrich_v.items()}
        else:
            gated = F.when(~absent, enrich_v)
            if exist_f is not None:
                merged[name] = F.coalesce(gated, existing[name])
            else:
                merged[name] = gated
    return merged
