"""Deterministic Poisson-bootstrap confidence intervals at scale.

The streaming/map-reduce bootstrap (Chamandy et al., "Estimating
Uncertainty for Massive Data Streams", Google 2012 — the public
Poisson-bootstrap-at-scale pattern): instead of resampling n rows B times
(impossible at 100 TB), each row gets an independent Poisson(1) weight per
replicate, and every replicate's weighted aggregate is computed in ONE
pass through a single two-phase hash aggregate whose shuffle carries
|keys| × B rows — constant in the input size.

Everything here is ENGINE-NEUTRAL by construction (the qsketch design
rule): the per-(row, replicate) uniform is the md5-60 hash (bit-identical
in Spark/DuckDB/Python), the Poisson inverse-CDF thresholds are
precomputed 60-bit INTEGERS embedded identically in both engines (never a
float literal — DuckDB types bare decimals DECIMAL and re-rounds), the
weighted sums are exact BIGINTs, and the only floating-point op in the
whole pipeline is the final single division sum/count (one IEEE-double op,
identical everywhere). Replicate-mean quantiles are ORDER-ONLY rank
selection (the qsketch ceil-rational rule) — no float arithmetic — so the
driver query is fully oracle-exact, collisions, ties and all.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_hash60, md5_hash60_sql

BOOTSTRAP_B = 200          # replicates: SE of the 2.5% quantile ~ B^-1/2
BOOTSTRAP_ALPHA = (1, 40)  # 2.5% per tail as an EXACT rational
BOOTSTRAP_SALT = "boot-v1"


def poisson_thresholds() -> list[int]:
    """Cumulative Poisson(1) CDF mapped to 60-bit integer thresholds:
    weight(h) = #{k : t_k <= h} for a uniform 60-bit h. Integer
    comparison only — the float CDF values exist solely HERE, at
    threshold-generation time, shared verbatim by both engines (tail
    mass beyond k = 8 collapses into weight 9; CDF(8) ≈ 1−1.1e−7,
    negligible bias, identical in both engines either way)."""
    cdf, out = 0.0, []
    for k in range(9):
        cdf += math.exp(-1) / math.factorial(k)
        out.append(min(int(round(cdf * (1 << 60))), 1 << 60))
    return out


def _weight_col(h: Column, thresholds: list[int]) -> Column:
    w = F.lit(len(thresholds))
    for k in reversed(range(len(thresholds))):
        w = F.when(h < F.lit(thresholds[k]), F.lit(k)).otherwise(w)
    return w.cast("long")


def _weight_sql(h_expr: str, thresholds: list[int]) -> str:
    arms = " ".join(f"WHEN {h_expr} < {t} THEN {k}"
                    for k, t in enumerate(thresholds))
    return f"CAST(CASE {arms} ELSE {len(thresholds)} END AS BIGINT)"


def _hash60(framed: Column, hash_basis: str) -> Column:
    """Uniform 60-bit hash under the repo's simhash/CMS basis convention:
    "xxhash64" (engine-native, the production default — pmod-folded to
    the 60-bit threshold domain; folding a 64-bit hash by 2^60 keeps it
    uniform) or "md5" (engine-neutral — the DRIVER queries' basis, under
    which the bootstrap is bit-identical across Spark/DuckDB/Python)."""
    if hash_basis == "xxhash64":
        return F.pmod(F.xxhash64(framed), F.lit(1 << 60))
    if hash_basis == "md5":
        return md5_hash60(framed)
    raise ValueError(f"hash_basis must be 'xxhash64' or 'md5', "
                     f"got {hash_basis!r}")


def bootstrap_ci(df: DataFrame, keys: tuple[str, ...], value_col: str,
                 id_col: str, n_replicates: int = BOOTSTRAP_B,
                 hash_basis: str = "xxhash64") -> DataFrame:
    """Per-key mean with a percentile-bootstrap CI:
    (keys..., n_rows, mean, ci_lo, ci_hi) — the uncertainty layer every
    corpus metric (mean quality score, mean doc length, failure rate)
    needs before a go/no-go decision is read off it.

    ``value_col`` must be integer-typed (the weighted sums stay exact
    BIGINT; rates/ratios are integer 0/1 flags — a mean of flags IS the
    rate); ``id_col`` must identify rows uniquely (weights are
    hash-of-id: independent across rows AND reproducible under retries —
    the property that makes the bootstrap deterministic). NULL values are
    skipped (no rank, the qsketch rule).

    Scale shape: explode to B replicates per row (B× map-side CPU — the
    honest cost), then ONE two-phase hash aggregate whose shuffle carries
    |keys| × B rows; the CI selection is a window over that tiny
    relation. Replicates with an empty resample (possible only for
    near-empty groups) drop out and ranks use the per-key replicate
    count actually present — both engines share the rule."""
    thresholds = poisson_thresholds()
    v = F.col(value_col)
    rows = (df.where(v.isNotNull())
              .select(*keys, v.alias("__v"),
                      F.col(id_col).cast("string").alias("__id"))
              .withColumn("__rep", F.explode(
                  F.sequence(F.lit(0), F.lit(n_replicates - 1)))))
    h = _hash60(F.concat_ws(
        ":", F.lit("boot"), F.lit(BOOTSTRAP_SALT),
        F.col("__rep").cast("string"), F.col("__id")), hash_basis)
    w = _weight_col(h, thresholds)
    per_rep = (rows.withColumn("__w", w)
                   .groupBy(*keys, "__rep")
                   .agg(F.sum(F.col("__w") * F.col("__v")).alias("__s"),
                        F.sum("__w").alias("__n"),
                        F.sum(F.when(F.col("__rep") == 0, F.col("__v")))
                         .alias("__s0"),
                        F.count(F.when(F.col("__rep") == 0, 1))
                         .alias("__n0")))
    # point sums via a per-key window BEFORE the null-mean filter: the
    # rep-0 row carries them, and for a near-empty group its own weighted
    # resample can be empty (mean NULL) — filtering first would silently
    # drop the point estimate with it
    key_w = Window.partitionBy(*keys)
    means = (per_rep.withColumn(
                 "__mean", F.col("__s") / F.nullif(F.col("__n"), F.lit(0)))
                    .withColumn("__ps", F.sum("__s0").over(key_w))
                    .withColumn("__pn", F.sum("__n0").over(key_w))
                    .where(F.col("__mean").isNotNull()))
    sel_w = Window.partitionBy(*keys).orderBy("__mean")
    num, den = BOOTSTRAP_ALPHA
    ranked = (means.withColumn("__rn", F.row_number().over(sel_w))
                   .withColumn("__b", F.count(F.lit(1)).over(key_w)))
    lo_rank = F.expr(f"({num} * __b + {den - 1}) div {den}")
    hi_rank = F.expr(f"(({den} - {num}) * __b + {den - 1}) div {den}")
    return (ranked.groupBy(*keys).agg(
        F.max("__pn").alias("n_rows"),
        (F.max("__ps") / F.nullif(F.max("__pn"), F.lit(0))).alias("mean"),
        F.min(F.when(F.col("__rn") >= lo_rank, F.col("__mean")))
         .alias("ci_lo"),
        F.min(F.when(F.col("__rn") >= hi_rank, F.col("__mean")))
         .alias("ci_hi")))


def bootstrap_ci_oracle_sql(table: str, keys: tuple[str, ...], value_expr: str,
                            id_expr: str, n_replicates: int = BOOTSTRAP_B,
                            lead: str = "WITH") -> str:
    """DuckDB mirror of bootstrap_ci over ``table`` — same hash framing,
    same integer thresholds, same rank rationals. ``lead=','`` emits a
    continuation CTE (the transcripts-prefix convention). BIGINT casts on
    every window/group sum (DuckDB sums are HUGEINT)."""
    thresholds = poisson_thresholds()
    ks = ", ".join(keys)
    h = md5_hash60_sql(
        f"'boot:{BOOTSTRAP_SALT}:' || CAST(__rep AS VARCHAR) || ':' "
        f"|| {id_expr}")
    w = _weight_sql("__h", thresholds)
    num, den = BOOTSTRAP_ALPHA
    return f"""
{lead} rows_r AS (
  SELECT {ks}, {value_expr} AS __v, __rep,
         {h} AS __h
  FROM {table}, (SELECT unnest(range({n_replicates})) AS __rep)
  WHERE {value_expr} IS NOT NULL
), wtd AS (
  SELECT {ks}, __rep, {w} AS __w, __v FROM rows_r
), per_rep AS (
  SELECT {ks}, __rep,
         CAST(sum(__w * __v) AS BIGINT) AS __s,
         CAST(sum(__w) AS BIGINT) AS __n,
         CAST(sum(CASE WHEN __rep = 0 THEN __v END) AS BIGINT) AS __s0,
         CAST(count(CASE WHEN __rep = 0 THEN 1 END) AS BIGINT) AS __n0
  FROM wtd GROUP BY ALL
), means AS (
  SELECT {ks},
         CAST(sum(__s0) OVER (PARTITION BY {ks}) AS BIGINT) AS __ps,
         CAST(sum(__n0) OVER (PARTITION BY {ks}) AS BIGINT) AS __pn,
         __s / nullif(__n, 0) AS __mean
  FROM per_rep
), ranked AS (
  SELECT {ks}, __ps, __pn, __mean,
         row_number() OVER (PARTITION BY {ks} ORDER BY __mean) AS __rn,
         CAST(count(*) OVER (PARTITION BY {ks}) AS BIGINT) AS __b
  FROM means WHERE __mean IS NOT NULL
)
SELECT {ks},
       max(__pn) AS n_rows,
       max(__ps) / nullif(max(__pn), 0) AS mean,
       min(CASE WHEN __rn >= ({num} * __b + {den - 1}) // {den}
                THEN __mean END) AS ci_lo,
       min(CASE WHEN __rn >= (({den} - {num}) * __b + {den - 1}) // {den}
                THEN __mean END) AS ci_hi
FROM ranked GROUP BY {ks}
"""


def bootstrap_ab(df: DataFrame, group_col: str, a_label: str, b_label: str,
                 value_col: str, id_col: str, n_replicates: int = BOOTSTRAP_B,
                 hash_basis: str = "xxhash64") -> DataFrame:
    """Two-sample bootstrap test: difference of means between the A and B
    groups with a percentile CI — ONE row out: (n_a, n_b, mean_a, mean_b,
    diff, ci_lo, ci_hi, significant). ``significant`` = the CI excludes
    zero, the scale-safe replacement for a t-test when distributions are
    skewed/heavy-tailed (doc lengths, latencies) and n is too big to
    collect.

    Same engine-neutral machinery as bootstrap_ci (same hash framing, so
    a row's replicate weights are identical in both operators): per
    replicate diff_r = mean_A,r − mean_B,r (two divisions + one
    subtraction — the shared float ops), CI bounds rank-selected over the
    B diffs. Replicates where EITHER side's resample is empty drop out;
    rows outside the two groups are ignored. Scale shape: the exploded
    aggregate's shuffle carries 2 × B rows, everything after is a window
    over ≤ B rows."""
    thresholds = poisson_thresholds()
    v = F.col(value_col)
    g = F.col(group_col)
    rows = (df.where(v.isNotNull() & g.isin(a_label, b_label))
              .select((g == a_label).alias("__is_a"), v.alias("__v"),
                      F.col(id_col).cast("string").alias("__id"))
              .withColumn("__rep", F.explode(
                  F.sequence(F.lit(0), F.lit(n_replicates - 1)))))
    h = _hash60(F.concat_ws(
        ":", F.lit("boot"), F.lit(BOOTSTRAP_SALT),
        F.col("__rep").cast("string"), F.col("__id")), hash_basis)
    w = _weight_col(h, thresholds)
    side = lambda c: F.sum(F.when(F.col("__is_a"), c))  # noqa: E731
    other = lambda c: F.sum(F.when(~F.col("__is_a"), c))  # noqa: E731
    per_rep = (rows.withColumn("__w", w)
                   .groupBy("__rep")
                   .agg(side(F.col("__w") * F.col("__v")).alias("__sa"),
                        side(F.col("__w")).alias("__na"),
                        other(F.col("__w") * F.col("__v")).alias("__sb"),
                        other(F.col("__w")).alias("__nb"),
                        side(F.when(F.col("__rep") == 0, F.col("__v")))
                        .alias("__psa"),
                        F.count(F.when(F.col("__rep") == 0,
                                       F.when(F.col("__is_a"), 1)))
                        .alias("__pna"),
                        other(F.when(F.col("__rep") == 0, F.col("__v")))
                        .alias("__psb"),
                        F.count(F.when(F.col("__rep") == 0,
                                       F.when(~F.col("__is_a"), 1)))
                        .alias("__pnb")))
    all_w = Window.partitionBy()
    diffs = (per_rep.withColumn(
                 "__diff",
                 F.col("__sa") / F.nullif(F.col("__na"), F.lit(0))
                 - F.col("__sb") / F.nullif(F.col("__nb"), F.lit(0)))
                    .withColumn("__tpsa", F.sum("__psa").over(all_w))
                    .withColumn("__tpna", F.sum("__pna").over(all_w))
                    .withColumn("__tpsb", F.sum("__psb").over(all_w))
                    .withColumn("__tpnb", F.sum("__pnb").over(all_w))
                    .where(F.col("__diff").isNotNull()))
    num, den = BOOTSTRAP_ALPHA
    ranked = (diffs.withColumn(
                  "__rn", F.row_number().over(
                      Window.partitionBy().orderBy("__diff")))
                   .withColumn("__b", F.count(F.lit(1)).over(all_w)))
    lo_rank = F.expr(f"({num} * __b + {den - 1}) div {den}")
    hi_rank = F.expr(f"(({den} - {num}) * __b + {den - 1}) div {den}")
    out = ranked.agg(
        F.max("__tpna").alias("n_a"),
        F.max("__tpnb").alias("n_b"),
        (F.max("__tpsa") / F.nullif(F.max("__tpna"), F.lit(0)))
        .alias("mean_a"),
        (F.max("__tpsb") / F.nullif(F.max("__tpnb"), F.lit(0)))
        .alias("mean_b"),
        F.min(F.when(F.col("__rn") >= lo_rank, F.col("__diff")))
         .alias("ci_lo"),
        F.min(F.when(F.col("__rn") >= hi_rank, F.col("__diff")))
         .alias("ci_hi"))
    return out.select(
        "n_a", "n_b", "mean_a", "mean_b",
        (F.col("mean_a") - F.col("mean_b")).alias("diff"),
        "ci_lo", "ci_hi",
        ((F.col("ci_lo") > 0) | (F.col("ci_hi") < 0)).cast("int")
        .alias("significant"))


def bootstrap_ab_oracle_sql(table: str, group_expr: str, a_label: str,
                            b_label: str, value_expr: str, id_expr: str,
                            n_replicates: int = BOOTSTRAP_B,
                            lead: str = "WITH") -> str:
    """DuckDB mirror of bootstrap_ab — identical hash framing, thresholds,
    float-op order (mean_a − mean_b), and rank rationals."""
    thresholds = poisson_thresholds()
    h = md5_hash60_sql(
        f"'boot:{BOOTSTRAP_SALT}:' || CAST(__rep AS VARCHAR) || ':' "
        f"|| {id_expr}")
    w = _weight_sql("__h", thresholds)
    num, den = BOOTSTRAP_ALPHA
    return f"""
{lead} rows_r AS (
  SELECT ({group_expr} = '{a_label}') AS __is_a, {value_expr} AS __v,
         __rep, {h} AS __h
  FROM {table}, (SELECT unnest(range({n_replicates})) AS __rep)
  WHERE {value_expr} IS NOT NULL
    AND {group_expr} IN ('{a_label}', '{b_label}')
), wtd AS (
  SELECT __is_a, __rep, {w} AS __w, __v FROM rows_r
), per_rep AS (
  SELECT __rep,
         CAST(sum(CASE WHEN __is_a THEN __w * __v END) AS BIGINT) AS __sa,
         CAST(sum(CASE WHEN __is_a THEN __w END) AS BIGINT) AS __na,
         CAST(sum(CASE WHEN NOT __is_a THEN __w * __v END) AS BIGINT)
             AS __sb,
         CAST(sum(CASE WHEN NOT __is_a THEN __w END) AS BIGINT) AS __nb,
         CAST(sum(CASE WHEN __rep = 0 AND __is_a THEN __v END) AS BIGINT)
             AS __psa,
         CAST(count(CASE WHEN __rep = 0 AND __is_a THEN 1 END) AS BIGINT)
             AS __pna,
         CAST(sum(CASE WHEN __rep = 0 AND NOT __is_a THEN __v END)
              AS BIGINT) AS __psb,
         CAST(count(CASE WHEN __rep = 0 AND NOT __is_a THEN 1 END)
              AS BIGINT) AS __pnb
  FROM wtd GROUP BY __rep
), diffs AS (
  SELECT __sa / nullif(__na, 0) - __sb / nullif(__nb, 0) AS __diff,
         CAST(sum(__psa) OVER () AS BIGINT) AS __tpsa,
         CAST(sum(__pna) OVER () AS BIGINT) AS __tpna,
         CAST(sum(__psb) OVER () AS BIGINT) AS __tpsb,
         CAST(sum(__pnb) OVER () AS BIGINT) AS __tpnb
  FROM per_rep
), ranked AS (
  SELECT __diff, __tpsa, __tpna, __tpsb, __tpnb,
         row_number() OVER (ORDER BY __diff) AS __rn,
         CAST(count(*) OVER () AS BIGINT) AS __b
  FROM diffs WHERE __diff IS NOT NULL
), folded AS (
  SELECT max(__tpna) AS n_a, max(__tpnb) AS n_b,
         max(__tpsa) / nullif(max(__tpna), 0) AS mean_a,
         max(__tpsb) / nullif(max(__tpnb), 0) AS mean_b,
         min(CASE WHEN __rn >= ({num} * __b + {den - 1}) // {den}
                  THEN __diff END) AS ci_lo,
         min(CASE WHEN __rn >= (({den} - {num}) * __b + {den - 1}) // {den}
                  THEN __diff END) AS ci_hi
  FROM ranked
)
SELECT n_a, n_b, mean_a, mean_b, mean_a - mean_b AS diff, ci_lo, ci_hi,
       CAST(ci_lo > 0 OR ci_hi < 0 AS INTEGER) AS significant
FROM folded
"""
