"""Data-quality expectations — declarative constraint validation in ONE
input pass.

A 100-TB ingest needs schema/constraint gates before anything downstream
trusts the data (the reference's analogue is its dim-side validation:
malformed GeoLite2 rows are quarantined at load, sources/geolite2.py
``split_malformed``; this generalizes the idea to arbitrary row predicates
on the event side).

Two operators, one shared check definition:

  * ``dq_summary`` — per-check violation counts folded into a SINGLE
    two-phase hash aggregate over one scan (conditional sums; no joins, no
    second pass), emitted long-form (one row per check) by exploding a map
    built from the 1-row aggregate. NULL check results count as violations
    (an expectation must be verifiably true). Optional exact
    duplicate-key check: a distinct aggregate over the key column only —
    the shuffle carries distinct keys, not rows (map-side partial dedup);
    at 100 TB pass ``unique_approx=True`` to swap in the mergeable HLL
    sketch (constant state, no key shuffle), same contract as
    conversation.distinct_ip_stats[_approx].
  * ``dq_quarantine`` — per-row failed-check names as an array column plus
    a ``passed`` flag, pure codegen (CASE arms + array_compact; no
    Python, no shuffle) so it composes with route()'s partitioned sink
    fan-out for the quarantine write.

The check list used by the driver queries lives in ``EVENT_CHECKS`` as
(name, spark-Column builder, DuckDB SQL predicate) triples — the ONE place
both engines read; keep the two predicate spellings adjacent so they
cannot drift.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from logstash_filter_geoip_spark.sources.transcripts import load_table

# (name, spark predicate builder, DuckDB SQL predicate) — adjacent on
# purpose: edit both sides of a row together.
EVENT_CHECKS: list[tuple[str, Callable[[], Column], str]] = [
    ("event_id_not_null",
     lambda: F.col("event_id").isNotNull(),
     "event_id IS NOT NULL"),
    ("ts_in_2024",
     lambda: (F.col("ts") >= F.lit("2024-01-01").cast("timestamp_ntz"))
             & (F.col("ts") < F.lit("2025-01-01").cast("timestamp_ntz")),
     "ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2025-01-01'"),
    ("user_id_nonneg",
     lambda: F.col("user_id") >= 0,
     "user_id >= 0"),
    ("known_event_type",
     lambda: F.col("event_type").isin("click", "view", "purchase", "signup"),
     "event_type IN ('click', 'view', 'purchase', 'signup')"),
    ("value_in_range",
     lambda: (F.col("value") >= 0) & (F.col("value") <= 1000),
     "value >= 0 AND value <= 1000"),
    ("props_has_k",
     lambda: F.col("props").like('{"k": %'),
     "props LIKE '{\"k\": %'"),
]


def _violation(cond: Column) -> Column:
    # NULL condition = violation: when(cond, 0) falls through to 1 for
    # both FALSE and NULL, matching SQL CASE semantics in the oracle.
    return F.when(cond, F.lit(0)).otherwise(F.lit(1))


def dq_summary(df: DataFrame, checks: dict[str, Column],
               unique_key: str | None = None,
               unique_approx: bool = False) -> DataFrame:
    """One-pass violation counts, long-form: (check, n_violations, n_rows,
    violation_ppm). ppm is integer floor division — exact in every engine."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    names = list(checks)
    for name in names:
        # coalesce: sum over ZERO rows is NULL; the contract is 0
        aggs.append(F.coalesce(F.sum(_violation(checks[name])), F.lit(0))
                     .alias(name))
    if unique_key is not None:
        dup_name = f"unique_{unique_key}"
        counter = (F.approx_count_distinct(unique_key) if unique_approx
                   else F.count_distinct(F.col(unique_key)))
        # non-null count minus distinct count = surplus duplicate rows
        aggs.append((F.count(F.col(unique_key)) - counter).alias(dup_name))
        names.append(dup_name)
    one = df.agg(*aggs)
    pairs: list[Column] = []
    for name in names:
        pairs.extend([F.lit(name), F.col(name)])
    long = one.select(
        F.col("n_rows"),
        F.explode(F.create_map(*pairs)).alias("check", "n_violations"))
    return long.select(
        "check", "n_violations", "n_rows",
        # nullif: an EMPTY input yields ppm NULL instead of an ANSI
        # divide-by-zero error at runtime
        F.expr("n_violations * 1000000 div nullif(n_rows, 0)")
         .alias("violation_ppm"))


def dq_quarantine(df: DataFrame, checks: dict[str, Column]) -> DataFrame:
    """Append ``violations: array<string>`` (failed check names, declaration
    order) and ``passed``; pure codegen, no shuffle — feed the failing side
    to route() for the quarantine sink."""
    arms = [F.when(cond, F.lit(None).cast("string")).otherwise(F.lit(name))
            for name, cond in checks.items()]
    out = df.withColumn("violations", F.array_compact(F.array(*arms)))
    return out.withColumn("passed", F.size("violations") == 0)


# string/integral/boolean/date values stringify IDENTICALLY in Spark and
# DuckDB; double and timestamp renderings diverge (scientific-notation and
# fraction-trimming margins), so min/max is suppressed for them — the
# profile still counts their nulls and distincts.
_MINMAX_SAFE = ("string", "tinyint", "smallint", "int", "bigint",
                "boolean", "date")


def profile_columns(df: DataFrame, cols: list[str] | None = None,
                    approx: bool = False) -> DataFrame:
    """Column-level data profile in ONE two-phase aggregate pass: per
    column, (col_name, n_rows, n_nulls, n_distinct, min_val, max_val).

    min/max are stringified only for types whose rendering is
    engine-portable (_MINMAX_SAFE); others profile as NULL. ``approx=True``
    swaps exact ``count_distinct`` for the mergeable HLL sketch — the
    100-TB path: exact distinct over k columns makes Spark Expand the scan
    k-fold before the partial aggregate (one pass, k× rows), while the
    sketch keeps the pass un-expanded with constant state per column.

    Long-form output comes from exploding a bounded array of structs built
    on the 1-row aggregate — column-count-sized, never data-sized.
    """
    cols = list(cols) if cols is not None else list(df.columns)
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"profile_columns: missing columns {missing}")
    types = dict(df.dtypes)
    aggs: list[Column] = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append((F.count(F.lit(1)) - F.count(F.col(c)))
                    .alias(f"__nn_{c}"))
        aggs.append((F.approx_count_distinct(c) if approx
                     else F.count_distinct(F.col(c))).alias(f"__nd_{c}"))
        if types[c] in _MINMAX_SAFE:
            aggs.append(F.min(F.col(c)).cast("string").alias(f"__mn_{c}"))
            aggs.append(F.max(F.col(c)).cast("string").alias(f"__mx_{c}"))
    one = df.agg(*aggs)
    null_s = F.lit(None).cast("string")
    rows = [F.struct(
        F.lit(c).alias("col_name"),
        F.col("n_rows").alias("n_rows"),
        F.col(f"__nn_{c}").alias("n_nulls"),
        F.col(f"__nd_{c}").alias("n_distinct"),
        (F.col(f"__mn_{c}") if types[c] in _MINMAX_SAFE else null_s)
            .alias("min_val"),
        (F.col(f"__mx_{c}") if types[c] in _MINMAX_SAFE else null_s)
            .alias("max_val"),
    ) for c in cols]
    return (one.select(F.explode(F.array(*rows)).alias("__p"))
               .select("__p.*"))


def profile_oracle_sql(table: str, spec: list[tuple[str, bool]]) -> str:
    """DuckDB mirror of profile_columns: one aggregate CTE + a bounded
    UNION ALL unpivot. ``spec`` = (column, minmax_safe) pairs — the Spark
    side derives the flag from the schema; tests pin the two in sync."""
    aggs = ["count(*) AS n_rows"]
    for c, mm in spec:
        aggs.append(f"CAST(count(*) - count({c}) AS BIGINT) AS nn_{c}")
        aggs.append(f"CAST(count(DISTINCT {c}) AS BIGINT) AS nd_{c}")
        if mm:
            aggs.append(f"CAST(min({c}) AS VARCHAR) AS mn_{c}")
            aggs.append(f"CAST(max({c}) AS VARCHAR) AS mx_{c}")
    arms = "\n  UNION ALL\n".join(
        f"  SELECT '{c}' AS col_name, n_rows, nn_{c} AS n_nulls, "
        f"nd_{c} AS n_distinct, "
        + (f"mn_{c} AS min_val, mx_{c} AS max_val"
           if mm else "CAST(NULL AS VARCHAR) AS min_val, "
                      "CAST(NULL AS VARCHAR) AS max_val")
        + " FROM agg"
        for c, mm in spec)
    return (f"WITH agg AS (\n  SELECT {', '.join(aggs)} FROM {table}\n)\n"
            f"{arms}\n")


def table_checksum(df: DataFrame, cols: list[str]) -> DataFrame:
    """Order-independent table fingerprint: the bit_xor of a 60-bit md5
    over each row's NUL-framed column encoding, plus the row count — the
    cheap way to assert two 100-TB relations are row-identical (migration
    / replication / backfill validation) without sorting either side.

    bit_xor, NOT sum(hash): xor is associative, commutative, overflow-free
    and self-inverse, so the fingerprint is independent of partitioning
    and row order by construction (CLAUDE.md fold-hygiene rule). Caveat
    (inherent to xor): a row appearing an EVEN number of times cancels
    out — the row count catches pure duplications, and callers needing
    multiset equality can checksum `groupBy(cols).count()` instead.

    The encoding prefixes values (\\x02) and encodes NULL as \\x01 so NULL
    never collides with '' and values never shift across column
    boundaries (the streaming-dedup _content_hash convention, with \\x1f
    as the separator instead of NUL — DuckDB VARCHARs reject NUL bytes).
    Columns must stringify portably (same contract as profile_columns
    min/max).

    One map-side-combinable aggregate — constant state, no shuffle beyond
    the 1-row final merge.
    """
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"table_checksum: missing columns {missing}")
    from logstash_filter_geoip_spark.functions.hashing import md5_hash60
    parts = [
        F.when(F.col(c).isNull(), F.lit("\x01"))
         .otherwise(F.concat(F.lit("\x02"), F.col(c).cast("string")))
        for c in cols
    ]
    h = md5_hash60(F.concat_ws("\x1f", *parts))
    return df.agg(
        F.coalesce(F.bit_xor(h), F.lit(0)).alias("checksum60"),
        F.count(F.lit(1)).alias("n_rows"))


def checksum_oracle_sql(table: str, cols: list[str]) -> str:
    """DuckDB mirror of table_checksum (identical framing + md5-60 +
    xor_agg; coalesce so an empty relation checksums to 0 in both)."""
    from logstash_filter_geoip_spark.functions.hashing import md5_hash60_sql
    parts = ", ".join(
        f"CASE WHEN {c} IS NULL THEN chr(1) "
        f"ELSE chr(2) || CAST({c} AS VARCHAR) END"
        for c in cols)
    h = md5_hash60_sql(f"concat_ws(chr(31), {parts})")
    return (f"SELECT CAST(coalesce(bit_xor({h}), 0) AS BIGINT) "
            f"AS checksum60, count(*) AS n_rows FROM {table}")


def key_skew_stats(df: DataFrame, key_cols: list[str],
                   top_k: int = 10) -> DataFrame:
    """Join/groupBy key skew diagnostics: the top-k heaviest keys with
    their share of the total in parts-per-million — the measurement that
    decides whether a key needs salting or an AQE skew hint BEFORE the
    shuffle burns a day at 100 TB.

    Two bounded aggregates: per-key counts (two-phase, map-side partial),
    then a 1-row total joined back (broadcast — one row), top-k via the
    total (count desc, keys asc) order so the selection is deterministic.
    ppm is integer floor division — exact in every engine.
    """
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1: {top_k}")
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n_rows"))
    total = counts.agg(F.sum("n_rows").alias("__total"))
    out = (counts.join(F.broadcast(total))
                 .select(*key_cols, "n_rows",
                         F.expr("n_rows * 1000000 div nullif(__total, 0)")
                          .alias("share_ppm")))
    order = [F.desc("n_rows"), *[F.asc(c) for c in key_cols]]
    return out.orderBy(*order).limit(top_k)


def snapshot_diff(old: DataFrame, new: DataFrame, keys: list[str],
                  attrs: list[str],
                  include_unchanged: bool = False) -> DataFrame:
    """Row-level reconciliation of two snapshots of the same keyed
    relation: one full-outer shuffle equi-join on the keys, each key
    classed ``inserted`` / ``deleted`` / ``changed`` (null-safe attr
    comparison) / ``unchanged``. Emits (keys..., change_class,
    old_<attr>..., new_<attr>...).

    This is the investigative sibling of ``table_checksum`` (the checksum
    says the tables differ; the diff says WHERE) and the read-only face of
    ``temporal.scd2_merge`` (same join, same row classes — minus the
    validity bookkeeping). ``unchanged`` rows are data-sized, so they are
    excluded unless asked for; the three interesting classes are
    drift-sized.
    """
    if not keys:
        raise ValueError("snapshot_diff requires at least one key column")
    for side, df in (("old", old), ("new", new)):
        missing = [c for c in keys + attrs if c not in df.columns]
        if missing:
            raise ValueError(f"snapshot_diff: {side} is missing columns "
                             f"{missing}")
    from functools import reduce
    o = old.select(*[F.col(c).alias(f"__o_{c}") for c in keys + attrs],
                   F.lit(True).alias("__o"))
    n = new.select(*[F.col(c).alias(f"__n_{c}") for c in keys + attrs],
                   F.lit(True).alias("__n"))
    cond = reduce(lambda a, b: a & b,
                  [F.col(f"__o_{k}") == F.col(f"__n_{k}") for k in keys])
    j = o.join(n, cond, "full_outer")
    same = reduce(lambda a, b: a & b,
                  [F.col(f"__o_{a_}").eqNullSafe(F.col(f"__n_{a_}"))
                   for a_ in attrs]) if attrs else F.lit(True)
    has_o, has_n = F.col("__o").isNotNull(), F.col("__n").isNotNull()
    cls = (F.when(~has_o, F.lit("inserted"))
            .when(~has_n, F.lit("deleted"))
            .when(~same, F.lit("changed"))
            .otherwise(F.lit("unchanged")))
    out = j.select(
        *[F.coalesce(F.col(f"__o_{k}"), F.col(f"__n_{k}")).alias(k)
          for k in keys],
        cls.alias("change_class"),
        *[F.col(f"__o_{a_}").alias(f"old_{a_}") for a_ in attrs],
        *[F.col(f"__n_{a_}").alias(f"new_{a_}") for a_ in attrs])
    if not include_unchanged:
        out = out.where(F.col("change_class") != "unchanged")
    return out


# the events-table profile spec (column, minmax-portable) — must match what
# profile_columns derives from the parquet schema (pinned by test_dq)
EVENT_PROFILE_SPEC: list[tuple[str, bool]] = [
    ("event_id", True),
    ("ts", False),       # timestamp rendering diverges across engines
    ("user_id", True),
    ("event_type", True),
    ("value", False),    # double rendering diverges across engines
    ("props", True),
]


def k_anonymity(df: DataFrame, quasi_cols: list[str], k: int) -> DataFrame:
    """k-anonymity summary over a quasi-identifier column set — the
    re-identification screen a training-data release runs before shipping:
    a row is "at risk" when its quasi-identifier combination is shared by
    fewer than k rows. One row out: (n_rows, n_groups, n_small_groups,
    rows_at_risk, min_group_size); a release gate is
    ``n_small_groups == 0``.

    NULL quasi values form their own group (GROUP BY NULL-key semantics,
    identical in both engines). Empty input yields zeros, never NULLs
    (the dq_summary convention). Scale: one two-phase hash aggregate over
    the scan (shuffle carries distinct quasi combinations) + a 1-row
    final fold — no joins."""
    g = df.groupBy(*quasi_cols).agg(F.count(F.lit(1)).alias("n"))
    zero = F.lit(0).cast("long")
    return g.agg(
        F.coalesce(F.sum("n"), zero).alias("n_rows"),
        F.count(F.lit(1)).alias("n_groups"),
        F.coalesce(F.sum(F.when(F.col("n") < k, 1).otherwise(0)), zero)
         .alias("n_small_groups"),
        F.coalesce(F.sum(F.when(F.col("n") < k, F.col("n")).otherwise(0)),
                   zero).alias("rows_at_risk"),
        F.coalesce(F.min("n"), zero).alias("min_group_size"))


def k_anonymity_flags(df: DataFrame, quasi_cols: list[str],
                      k: int) -> DataFrame:
    """Per-row at-risk flags: each row joined back to its quasi-group
    count (group_size, at_risk) — the row-level face of ``k_anonymity``,
    composing with route() for a suppress/generalize sink.

    The join is NULL-SAFE on every quasi column (eqNullSafe == IS NOT
    DISTINCT FROM): a plain equi-join would silently DROP rows whose
    quasi value is NULL — exactly the rows most likely to be rare. The
    group-count side is corpus-derived → merge-hinted (the session-10
    static-estimate rule)."""
    g = df.groupBy(*quasi_cols).agg(F.count(F.lit(1)).alias("group_size"))
    ren = g.select(*[F.col(c).alias(f"__q_{c}") for c in quasi_cols],
                   "group_size")
    cond = None
    for c in quasi_cols:
        term = F.col(c).eqNullSafe(F.col(f"__q_{c}"))
        cond = term if cond is None else cond & term
    return (df.join(ren.hint("merge"), cond)
              .drop(*[f"__q_{c}" for c in quasi_cols])
              .withColumn("at_risk",
                          (F.col("group_size") < k).cast("int")))


def l_diversity(df: DataFrame, quasi_cols: list[str], sensitive_col: str,
                l: int) -> DataFrame:
    """l-diversity release screen — k-anonymity's stronger sibling
    (Machanavajjhala et al., ICDE 2006): a quasi-identifier group is weak
    when it holds fewer than l DISTINCT sensitive values, even if the
    group itself is large (a 1000-row group whose every row shares one
    diagnosis re-identifies the attribute, not the person). One row out:
    (n_rows, n_groups, n_weak_groups, rows_at_risk,
    min_distinct_sensitive); the release gate is ``n_weak_groups == 0``.

    NULL quasi values form their own group (the k_anonymity rule); NULL
    sensitive values contribute NO diversity (count(DISTINCT) ignores
    NULLs — identical in both engines), so an all-NULL-sensitive group has
    diversity 0 and is always weak. Scale: the distinct is a PRE-GROUP
    ((quasi, sensitive) two-phase aggregate — map-side partial dedup, no
    Expand) followed by a per-quasi fold and a 1-row fold — no joins."""
    pre = (df.groupBy(*quasi_cols, F.col(sensitive_col).alias("__s"))
             .agg(F.count(F.lit(1)).alias("__n")))
    g = pre.groupBy(*quasi_cols).agg(
        F.sum("__n").alias("n"),
        F.count(F.when(F.col("__s").isNotNull(), 1)).alias("d"))
    zero = F.lit(0).cast("long")
    return g.agg(
        F.coalesce(F.sum("n"), zero).alias("n_rows"),
        F.count(F.lit(1)).alias("n_groups"),
        F.coalesce(F.sum(F.when(F.col("d") < l, 1).otherwise(0)), zero)
         .alias("n_weak_groups"),
        F.coalesce(F.sum(F.when(F.col("d") < l, F.col("n")).otherwise(0)),
                   zero).alias("rows_at_risk"),
        F.coalesce(F.min("d"), zero).alias("min_distinct_sensitive"))


def l_diversity_flags(df: DataFrame, quasi_cols: list[str],
                      sensitive_col: str, l: int) -> DataFrame:
    """Per-row weak-group flags (sensitive_diversity, low_diversity) — the
    row-level face of ``l_diversity`` for a suppress/generalize sink,
    joined back NULL-SAFELY on every quasi column (the k_anonymity_flags
    rule: a plain equi-join drops NULL-quasi rows). The diversity side is
    corpus-derived → merge-hinted (the session-10 static-estimate rule)."""
    pre = (df.groupBy(*quasi_cols, F.col(sensitive_col).alias("__s"))
             .agg(F.count(F.lit(1)).alias("__n")))
    g = pre.groupBy(*quasi_cols).agg(
        F.count(F.when(F.col("__s").isNotNull(), 1))
         .alias("sensitive_diversity"))
    ren = g.select(*[F.col(c).alias(f"__q_{c}") for c in quasi_cols],
                   "sensitive_diversity")
    cond = None
    for c in quasi_cols:
        term = F.col(c).eqNullSafe(F.col(f"__q_{c}"))
        cond = term if cond is None else cond & term
    return (df.join(ren.hint("merge"), cond)
              .drop(*[f"__q_{c}" for c in quasi_cols])
              .withColumn("low_diversity",
                          (F.col("sensitive_diversity") < l).cast("int")))


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


def fk_audit(relations: list[tuple[str, DataFrame, str, DataFrame, str]]
             ) -> DataFrame:
    """Referential-integrity audit: one summary row per declared
    (name, child, child_key, parent, parent_key) relation with BOTH
    directions — forward orphans (child keys missing from the parent) and
    reverse coverage (parent keys no child row references). NULL child
    keys are counted separately (a NULL never matches; it is a
    completeness problem, not an orphan — the three-valued rule).

    Scale shape per relation: the child reduces to its per-key count
    relation in ONE scan (the NULL-key group rides the same two-phase
    aggregate, so totals and NULL accounting come from the key-domain
    relation, never a second pass over the rows — persisted, since it
    feeds both the totals fold and the full-outer); the parent reduces to
    its distinct keys; the two meet in ONE full-outer merge-hinted join
    (both sides corpus-derived → the session-10 static-estimate rule) and
    fold to a single row. Totals coalesce to 0 so an empty child cannot
    raise under ANSI (the dq_summary convention)."""
    from functools import reduce

    if not relations:
        raise ValueError("fk_audit: empty relations list — declare at "
                         "least one (name, child, key, parent, key) row")
    outs = []
    for name, child, ckey, parent, pkey in relations:
        ck_all = (child.groupBy(F.col(ckey).alias("k"))
                       .agg(F.count(F.lit(1)).alias("n"))
                       .persist())
        base = ck_all.agg(
            F.coalesce(F.sum("n"), F.lit(0).cast("long")).alias("n_child"),
            F.coalesce(F.sum(F.when(F.col("k").isNull(), F.col("n"))),
                       F.lit(0).cast("long")).alias("n_null_keys"))
        ck = ck_all.where(F.col("k").isNotNull())
        pk = (parent.where(F.col(pkey).isNotNull())
                    .select(F.col(pkey).alias("pk")).distinct())
        j = ck.join(pk.hint("merge"), ck.k == pk.pk, "full_outer")
        side = j.agg(
            F.coalesce(F.sum(F.when(F.col("pk").isNull(), F.col("n"))),
                       F.lit(0).cast("long")).alias("orphan_rows"),
            F.count(F.when(F.col("pk").isNull(), 1)).alias("orphan_keys"),
            F.count(F.when(F.col("k").isNull(), 1)).alias("unref_parents"))
        outs.append(base.crossJoin(side).select(
            F.lit(name).alias("relation"), "n_child", "n_null_keys",
            "orphan_rows", "orphan_keys", "unref_parents"))
    return reduce(lambda a, b: a.unionByName(b), outs)


# the driver's declared FK relations — the ONE spec both engines read
# (events.user_id → customer is deliberately a partial-coverage relation:
# the synthetic event users span only the low custkeys, so unref_parents
# is non-zero at every sf and the reverse direction is non-vacuous)
FK_RELATIONS: list[tuple[str, str, str, str, str]] = [
    ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("events_customer", "events", "user_id", "customer", "c_custkey"),
]


def fk_audit_oracle_sql(
        relations: list[tuple[str, str, str, str, str]]) -> str:
    """DuckDB mirror generated from the same relation spec: identical
    distinct-key full-outer shape, identical NULL-key accounting."""
    parts = []
    for name, child, ckey, parent, pkey in relations:
        parts.append(f"""
SELECT '{name}' AS relation,
       (SELECT count(*) FROM {child}) AS n_child,
       (SELECT count(*) FROM {child} WHERE {ckey} IS NULL) AS n_null_keys,
       CAST(coalesce(sum(CASE WHEN pk IS NULL THEN n END), 0) AS BIGINT)
           AS orphan_rows,
       count(CASE WHEN pk IS NULL THEN 1 END) AS orphan_keys,
       count(CASE WHEN k IS NULL THEN 1 END) AS unref_parents
FROM (SELECT {ckey} AS k, CAST(count(*) AS BIGINT) AS n FROM {child}
      WHERE {ckey} IS NOT NULL GROUP BY 1) fc
FULL JOIN (SELECT DISTINCT {pkey} AS pk FROM {parent}
           WHERE {pkey} IS NOT NULL) fp ON k = pk""")
    return "\nUNION ALL\n".join(parts)


def q_fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity summary for the declared warehouse/event FK
    relations (two clean FKs + the deliberately partial events→customer
    coverage relation)."""
    return fk_audit([(name, load_table(spark, sf_dir, child), ckey,
                      load_table(spark, sf_dir, parent), pkey)
                     for name, child, ckey, parent, pkey in FK_RELATIONS])


def pk_audit(relations: list[tuple[str, DataFrame, list[str]]]
             ) -> DataFrame:
    """Uniqueness (candidate-key) audit — fk_audit's sibling: one summary
    row per declared (name, table, key_cols) with total rows, rows whose
    key has ANY NULL part (a NULL key can't identify a row — counted
    separately, the fk_audit three-valued rule), duplicate key-value
    groups, and the rows trapped in them. A clean candidate key reads
    (n_dup_keys, n_dup_rows) = (0, 0).

    Scale shape per relation: ONE per-key two-phase count (the shuffle
    carries the key domain) folded to a single row — the one-scan
    fk_audit discipline; NULL-part groups are excluded from duplicate
    accounting but counted from the SAME aggregate."""
    from functools import reduce

    if not relations:
        raise ValueError("pk_audit: empty relations list — declare at "
                         "least one (name, table, key_cols) row")
    outs = []
    for name, df, keys in relations:
        if not keys:
            raise ValueError(f"pk_audit: {name!r} declares no key columns")
        null_any = reduce(lambda a, b: a | b,
                          [F.col(k).isNull() for k in keys])
        per_key = (df.groupBy(*keys)
                     .agg(F.count(F.lit(1)).alias("n"),
                          F.max(null_any.cast("long")).alias("has_null")))
        dup = (F.col("has_null") == 0) & (F.col("n") > 1)
        outs.append(per_key.agg(
            F.coalesce(F.sum("n"), F.lit(0).cast("long")).alias("n_rows"),
            F.coalesce(F.sum(F.when(F.col("has_null") == 1, F.col("n"))),
                       F.lit(0).cast("long")).alias("n_null_key_rows"),
            F.count(F.when(dup, 1)).alias("n_dup_keys"),
            F.coalesce(F.sum(F.when(dup, F.col("n"))),
                       F.lit(0).cast("long")).alias("n_dup_rows"),
        ).select(F.lit(name).alias("relation"), "n_rows",
                 "n_null_key_rows", "n_dup_keys", "n_dup_rows"))
    return reduce(lambda a, b: a.unionByName(b), outs)


# the driver's declared candidate keys — the ONE spec both engines read
# (events (user_id, event_type) is a deliberately NON-unique candidate so
# the duplicate arms are non-vacuous at every sf)
PK_RELATIONS: list[tuple[str, str, list[str]]] = [
    ("orders_pk", "orders", ["o_orderkey"]),
    ("customer_pk", "customer", ["c_custkey"]),
    # the synthetic lineitem does NOT keep (orderkey, linenumber) unique —
    # a REAL constraint violation the audit reports (found by this test)
    ("lineitem_pk", "lineitem", ["l_orderkey", "l_linenumber"]),
    ("events_user_type", "events", ["user_id", "event_type"]),
]


def pk_audit_oracle_sql(
        relations: list[tuple[str, str, list[str]]]) -> str:
    """DuckDB mirror generated from the same spec: identical per-key
    aggregate, identical NULL-part and duplicate accounting."""
    parts = []
    for name, table, keys in relations:
        key_list = ", ".join(keys)
        null_any = " OR ".join(f"{k} IS NULL" for k in keys)
        parts.append(f"""
SELECT '{name}' AS relation,
       CAST(coalesce(sum(n), 0) AS BIGINT) AS n_rows,
       CAST(coalesce(sum(CASE WHEN has_null = 1 THEN n END), 0) AS BIGINT)
           AS n_null_key_rows,
       count(CASE WHEN has_null = 0 AND n > 1 THEN 1 END) AS n_dup_keys,
       CAST(coalesce(sum(CASE WHEN has_null = 0 AND n > 1 THEN n END), 0)
            AS BIGINT) AS n_dup_rows
FROM (SELECT {key_list}, CAST(count(*) AS BIGINT) AS n,
             max(CASE WHEN {null_any} THEN 1 ELSE 0 END) AS has_null
      FROM {table} GROUP BY {key_list}) pkc""")
    return "\nUNION ALL\n".join(parts)


def q_pk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniqueness summary for the declared candidate keys (two clean
    warehouse PKs + the deliberately non-unique events
    (user_id, event_type))."""
    return pk_audit([(name, load_table(spark, sf_dir, table), keys)
                     for name, table, keys in PK_RELATIONS])


def _event_checks() -> dict[str, Column]:
    return {name: build() for name, build, _ in EVENT_CHECKS}


def q_dq_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate: every check counted in ONE two-phase
    aggregate pass + an exact duplicate-event_id check (distinct-key
    shuffle only)."""
    ev = load_table(spark, sf_dir, "events")
    return dq_summary(ev, _event_checks(), unique_key="event_id")


def q_dq_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level quarantine labels: failed-check array + passed flag, pure
    codegen projection."""
    ev = load_table(spark, sf_dir, "events")
    return dq_quarantine(ev, _event_checks()) \
        .select("event_id", "violations", "passed")


def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level profile of the events table — nulls, exact distincts,
    portable min/max — in one aggregate pass."""
    ev = load_table(spark, sf_dir, "events")
    return profile_columns(ev, [c for c, _ in EVENT_PROFILE_SPEC])


# the portable-stringification column subset of events (see _MINMAX_SAFE)
_CHECKSUM_COLS = ["event_id", "user_id", "event_type", "props"]


def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent migration fingerprint of the events table
    (portable columns): one mergeable xor aggregate."""
    ev = load_table(spark, sf_dir, "events")
    return table_checksum(ev, _CHECKSUM_COLS)


def q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 heaviest user_id keys with ppm shares — the pre-shuffle skew
    measurement."""
    ev = load_table(spark, sf_dir, "events")
    return key_skew_stats(ev, ["user_id"], top_k=10)


# the snapshot boundary shared with the scd2/asof family (__spark_entry__)
_DIFF_CUT = "2024-01-16 00:00:00"


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level reconciliation of the first-half vs second-half per-user
    profile snapshots (the scd2_user_profile derivation, read-only)."""
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit(_DIFF_CUT).cast("timestamp")

    def snap(pred) -> DataFrame:
        return (ev.where(pred).groupBy("user_id")
                  .agg(F.count(F.lit(1)).alias("n_events"),
                       F.min("event_type").alias("first_type")))

    return snapshot_diff(snap(F.col("ts") < cut), snap(F.col("ts") >= cut),
                         keys=["user_id"], attrs=["n_events", "first_type"])


# quasi-identifier set + threshold for the driver's k-anonymity screen:
# (event_type, event day) yields 150 groups of 47-86 rows at sf0.01, so
# k=60 exercises both classes
_KANON_K = 60
_LDIV_L = 54


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity release screen over (event_type, day) — one two-phase
    aggregate, zeros-not-NULLs on empty input."""
    ev = (load_table(spark, sf_dir, "events")
          .withColumn("day", F.date_trunc("day", F.col("ts"))))
    return k_anonymity(ev, ["event_type", "day"], _KANON_K)


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity screen over (event_type, day) with user_id sensitive —
    l=54 populates both classes at the gate scale (distinct user_ids per
    group span 42–67 at sf0.01). Two stacked two-phase aggregates + a
    1-row fold, no joins."""
    ev = (load_table(spark, sf_dir, "events")
          .withColumn("day", F.date_trunc("day", F.col("ts"))))
    return l_diversity(ev, ["event_type", "day"], "user_id", _LDIV_L)


def queries():
    return {
        "dq_summary": q_dq_summary,
        "dq_quarantine": q_dq_quarantine,
        "profile_columns": q_profile_columns,
        "table_checksum": q_table_checksum,
        "key_skew": q_key_skew,
        "snapshot_diff": q_snapshot_diff,
        "k_anonymity": q_k_anonymity,
        "l_diversity": q_l_diversity,
        "fk_audit": q_fk_audit,
        "pk_audit": q_pk_audit,
    }


def oracles() -> dict[str, str]:
    # CAST(sum AS BIGINT): DuckDB sums to HUGEINT, Spark to BIGINT.
    agg_cols = ",\n         ".join(
        f"CAST(coalesce(sum(CASE WHEN {sql} THEN 0 ELSE 1 END), 0) "
        f"AS BIGINT) AS c_{name}"
        for name, _, sql in EVENT_CHECKS)
    unpivot = "\n  UNION ALL\n".join(
        f"  SELECT '{name}' AS \"check\", c_{name} AS n_violations, n_rows "
        f"FROM agg"
        for name, _, _ in EVENT_CHECKS)
    arms = ",\n        ".join(
        f"CASE WHEN {sql} THEN NULL ELSE '{name}' END"
        for name, _, sql in EVENT_CHECKS)
    return {
        "dq_summary": f"""
WITH agg AS (
  SELECT count(*) AS n_rows,
         CAST(count(event_id) - count(DISTINCT event_id) AS BIGINT)
             AS c_unique_event_id,
         {agg_cols}
  FROM events
), long AS (
{unpivot}
  UNION ALL
  SELECT 'unique_event_id' AS "check", c_unique_event_id AS n_violations,
         n_rows FROM agg
)
SELECT "check", n_violations, n_rows,
       CAST(n_violations * 1000000 // nullif(n_rows, 0) AS BIGINT)
           AS violation_ppm
FROM long
""",
        "dq_quarantine": f"""
SELECT event_id,
       list_filter([
        {arms}
       ], x -> x IS NOT NULL) AS violations,
       len(list_filter([
        {arms}
       ], x -> x IS NOT NULL)) = 0 AS passed
FROM events
""",
        "profile_columns": profile_oracle_sql("events", EVENT_PROFILE_SPEC),
        "table_checksum": checksum_oracle_sql("events", _CHECKSUM_COLS),
        # the scd2 oracle's FULL JOIN with CASE classes, read-only;
        # unchanged rows excluded (data-sized)
        "snapshot_diff": f"""
WITH s1 AS (
  SELECT user_id, count(*) AS n_events, min(event_type) AS first_type
  FROM events WHERE ts < TIMESTAMP '{_DIFF_CUT}' GROUP BY user_id
), s2 AS (
  SELECT user_id, count(*) AS n_events, min(event_type) AS first_type
  FROM events WHERE ts >= TIMESTAMP '{_DIFF_CUT}' GROUP BY user_id
), j AS (
  SELECT COALESCE(o.user_id, n.user_id) AS user_id,
         CASE WHEN o.user_id IS NULL THEN 'inserted'
              WHEN n.user_id IS NULL THEN 'deleted'
              WHEN NOT (o.n_events IS NOT DISTINCT FROM n.n_events
                        AND o.first_type IS NOT DISTINCT FROM n.first_type)
                   THEN 'changed'
              ELSE 'unchanged' END AS change_class,
         o.n_events AS old_n_events, o.first_type AS old_first_type,
         n.n_events AS new_n_events, n.first_type AS new_first_type
  FROM s1 o FULL JOIN s2 n ON o.user_id = n.user_id
)
SELECT * FROM j WHERE change_class <> 'unchanged'
""",
        # k-anonymity: one group pass + a 1-row fold, zeros on empty input
        "k_anonymity": f"""
WITH g AS (
  SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n_rows,
       count(*) AS n_groups,
       CAST(coalesce(sum(CASE WHEN n < {_KANON_K} THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_small_groups,
       CAST(coalesce(sum(CASE WHEN n < {_KANON_K} THEN n ELSE 0 END), 0)
            AS BIGINT) AS rows_at_risk,
       CAST(coalesce(min(n), 0) AS BIGINT) AS min_group_size
FROM g
""",
        # l-diversity: the same fold over DISTINCT-sensitive counts
        # (count DISTINCT ignores NULLs in both engines)
        "l_diversity": f"""
WITH g AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         count(*) AS n, count(DISTINCT user_id) AS d
  FROM events GROUP BY 1, 2
)
SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n_rows,
       count(*) AS n_groups,
       CAST(coalesce(sum(CASE WHEN d < {_LDIV_L} THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_weak_groups,
       CAST(coalesce(sum(CASE WHEN d < {_LDIV_L} THEN n ELSE 0 END), 0)
            AS BIGINT) AS rows_at_risk,
       CAST(coalesce(min(d), 0) AS BIGINT) AS min_distinct_sensitive
FROM g
""",
        # same total order (count desc, key asc); ppm floor division exact
        "key_skew": """
WITH c AS (
  SELECT user_id, count(*) AS n_rows FROM events GROUP BY user_id
), t AS (SELECT sum(n_rows) AS total FROM c)
SELECT user_id, n_rows,
       CAST(n_rows * 1000000 // nullif(total, 0) AS BIGINT) AS share_ppm
FROM c, t
ORDER BY n_rows DESC, user_id ASC
LIMIT 10
""",
        # generated from FK_RELATIONS — the one spec both engines read
        "fk_audit": fk_audit_oracle_sql(FK_RELATIONS),
        "pk_audit": pk_audit_oracle_sql(PK_RELATIONS),
    }
