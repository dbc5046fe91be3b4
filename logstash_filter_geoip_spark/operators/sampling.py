"""Deterministic sampling and per-group selection for training-data
pipelines: stratified hash sampling and grouped top-k document selection.

These extend the training-data-pipeline surface (task mandate) with the two
selection primitives large corpus builds rely on:

  * ``sample_stratified`` — per-stratum Bernoulli sampling with a
    DETERMINISTIC keep rule (a 60-bit md5 of the row key against a
    per-stratum threshold), the standard way to downsample a web corpus by
    language/source while staying reproducible across runs and engines.
    Spark's own ``df.sample``/``sampleBy`` are seed-dependent RNG draws per
    partition split — unreproducible under repartitioning and unverifiable
    cross-engine; the hash rule is stable under any partitioning.
  * ``group_topk`` — top-k rows per group under a total order (quality
    selection per language/domain), the "keep the best k documents per
    bucket" step.

Scale notes (100 TB):
  * sample_stratified is one codegen scan — the rate table is folded into a
    literal CASE expression (strata are categorical, bounded by contract),
    so there is no join and no shuffle; the filter sits directly above the
    parquet scan and column pruning passes through.
  * group_topk is one hash Exchange + sort per group key — and Spark's
    WindowGroupLimit physical rule (rank-limit pushdown) prunes each map
    partition to its local top-k BEFORE the shuffle, so the exchanged data
    is O(k × partitions), not O(rows). The plan is pinned by
    test_plan_shape::test_sampling_plans.

Both have exact DuckDB oracles (the md5 keep rule is the engine-neutral
60-bit family of functions/hashing.py; the top-k tiebreak is total).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from logstash_filter_geoip_spark.functions.hashing import (md5_hash60,
                                                           md5_hash60_sql)
from logstash_filter_geoip_spark.sources.transcripts import load_table

# denominator of every sampling rate: rates are expressed as parts per
# million so the keep rule is pure integer arithmetic in every engine
RATE_DENOM = 1_000_000


def _rate_ppm(rate: float) -> int:
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"sampling rate must be in [0, 1]: {rate}")
    return round(rate * RATE_DENOM)


def sample_stratified(df: DataFrame, strata_col: str, key_col: str,
                      rates: dict[str, float],
                      default_rate: float = 0.0) -> DataFrame:
    """Deterministic per-stratum Bernoulli sample.

    A row is kept iff ``md5_60(key) mod 1e6 < rate[stratum] * 1e6`` — the
    same rule every engine (and every re-run, under any partitioning)
    evaluates identically. Strata missing from ``rates`` use
    ``default_rate``. The hash key should be a stable row identifier.
    """
    ppm = F.lit(_rate_ppm(default_rate))
    for stratum, rate in sorted(rates.items()):
        ppm = F.when(F.col(strata_col) == stratum,
                     F.lit(_rate_ppm(rate))).otherwise(ppm)
    bucket = F.pmod(md5_hash60(F.col(key_col).cast("string")),
                    F.lit(RATE_DENOM))
    return df.where(bucket < ppm)


def sample_oracle_where(strata_col: str, key_col: str,
                        rates: dict[str, float],
                        default_rate: float = 0.0) -> str:
    """DuckDB WHERE fragment computing the identical keep rule (single
    definition point: same rates dict as sample_stratified)."""
    h = md5_hash60_sql(f"CAST({key_col} AS VARCHAR)")
    arms = "".join(
        f" WHEN '{s}' THEN {_rate_ppm(r)}"
        for s, r in sorted(rates.items()))
    return (f"({h}) % {RATE_DENOM} < "
            f"(CASE {strata_col}{arms} ELSE {_rate_ppm(default_rate)} END)")


# ---------------------------------------------------------------------------
# exact-k deterministic sampling (the "reservoir" primitive)
# ---------------------------------------------------------------------------

SAMPLE_K_SALT = "ksample-v1"


def _sample_rank_key(key_col: str, salt: str):
    return md5_hash60(F.concat(F.lit(f"ksample:{salt}:"),
                               F.col(key_col).cast("string")))


def sample_exact_k(df: DataFrame, strata_col: str, key_col: str, k: int,
                   salt: str = SAMPLE_K_SALT) -> DataFrame:
    """Exact-k deterministic uniform sample per stratum — the distributed
    reservoir-sampling replacement.

    Every row gets a salted 60-bit md5 rank key; each stratum keeps its k
    smallest keys ((key-hash, key) is a TOTAL order, so the selected set is
    unique). A pure function of (key, salt): stable under repartitioning,
    reruns, and engines — a sequential reservoir (Vitter's Algorithm R) is
    RNG-order-dependent and unreproducible on a cluster, while hash-rank
    min-k selects an identically-distributed uniform sample. A new salt is
    a fresh independent draw.

    Scale shape: identical to :func:`group_topk` — ONE hash Exchange on the
    stratum with Spark's WindowGroupLimit pruning each map partition to its
    local k before the shuffle, so the exchanged volume is O(k × partitions)
    regardless of stratum sizes. Emits the input columns plus ``sample_rank``
    (1-based within the stratum).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    rk = _sample_rank_key(key_col, salt)
    w = Window.partitionBy(strata_col).orderBy(rk.asc(), F.col(key_col))
    return (df.withColumn("sample_rank", F.row_number().over(w))
              .where(F.col("sample_rank") <= k))


def sample_exact_k_global(df: DataFrame, key_col: str, k: int,
                          salt: str = SAMPLE_K_SALT) -> DataFrame:
    """Exact-k deterministic sample of the WHOLE input (no strata): the
    k smallest salted hash keys via orderBy+limit — Spark plans
    TakeOrderedAndProject (each partition reduces to its local top-k, the
    driver merges k-sized heaps; never a global sort). Same (hash, key)
    total order and reproducibility contract as :func:`sample_exact_k`."""
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    rk = _sample_rank_key(key_col, salt)
    return (df.withColumn("_sample_key", rk)
              .orderBy(F.col("_sample_key").asc(), F.col(key_col))
              .limit(k)
              .drop("_sample_key"))


def sample_exact_k_oracle_sql(strata_col: str, key_col: str, k: int,
                              cols: str) -> str:
    """DuckDB mirror: identical salted rank key, identical total order."""
    h = md5_hash60_sql(
        f"'ksample:{SAMPLE_K_SALT}:' || CAST({key_col} AS VARCHAR)")
    return f"""
SELECT {cols}, sample_rank FROM (
  SELECT {cols},
         CAST(row_number() OVER (PARTITION BY {strata_col}
                                 ORDER BY {h}, {key_col}) AS INT)
           AS sample_rank
  FROM documents
) WHERE sample_rank <= {k}
"""


# ---------------------------------------------------------------------------
# mixture balancing (the training-mixture primitive)
# ---------------------------------------------------------------------------

MIXTURE_SALT = "mixture-v1"
# the driver query's target mixture over the documents table's lang column
# (integer percent weights — the ONE spec both engines read)
MIXTURE_TARGETS = [("en", 50), ("de", 15), ("es", 15), ("fr", 10), ("zh", 10)]


def _mixture_check(targets: list[tuple[str, int]]) -> int:
    if not targets:
        raise ValueError("mixture_sample: empty target list")
    strata = [s for s, _ in targets]
    if len(set(strata)) != len(strata):
        raise ValueError(f"mixture_sample: duplicate strata in {strata}")
    for s, w in targets:
        if not isinstance(w, int) or w <= 0:
            raise ValueError(
                f"mixture_sample: weight for {s!r} must be a positive "
                f"integer (got {w!r}) — float weights would reintroduce "
                f"the engine-divergent division this operator avoids")
    return sum(w for _, w in targets)


def mixture_gap(df: DataFrame, strata_col: str,
                targets: list[tuple[str, int]]) -> DataFrame:
    """Corpus-composition audit vs a target mixture — the report run
    BEFORE mixture_sample decides what to keep: per stratum (stratum,
    n_rows, obs_ppm, target_ppm, gap_ppm) where obs_ppm = n·1e6 div N
    and target_ppm = w·1e6 div W (truncating-div integer shares — the
    drift ppm rule; counts, not micro-units, so n·1e6 is BIGINT-safe to
    ~9e12 rows). gap_ppm = obs − target (negative = under-represented).

    The audit enumerates BOTH sides (the erasure_audit rule): target
    strata absent from the corpus report n_rows 0, observed strata
    outside the target list report target_ppm 0 — a full-outer join of
    the bounded observed aggregate with the len(targets)-bounded literal
    relation. NULL strata count as a real observed stratum (null-safe
    join key)."""
    total_w = _mixture_check(targets)
    spark = df.sparkSession
    tgt = spark.createDataFrame([(s, int(w)) for s, w in targets],
                                f"{strata_col} string, w long")
    obs = (df.groupBy(strata_col)
             .agg(F.count(F.lit(1)).alias("n_rows")))
    tot = F.sum("n_rows").over(Window.partitionBy())
    obs = obs.withColumn("__tot", tot)
    j = obs.join(tgt, obs[strata_col].eqNullSafe(tgt[strata_col]),
                 "full_outer")
    stratum = F.coalesce(obs[strata_col], tgt[strata_col])
    n = F.coalesce(F.col("n_rows"), F.lit(0))
    # __tot is NULL on target-only rows — the corpus total still applies
    totc = F.max("__tot").over(Window.partitionBy())
    obs_ppm = F.expr("__n * 1000000 div nullif(__totc, 0)")
    out = (j.select(stratum.alias("stratum"), n.alias("__n"),
                    F.coalesce(F.col("w"), F.lit(0)).alias("__w"),
                    F.col("__tot"))
            .withColumn("__totc", totc)
            .select(F.col("stratum"),
                    F.col("__n").alias("n_rows"),
                    F.coalesce(obs_ppm, F.lit(0)).alias("obs_ppm"),
                    F.expr(f"__w * 1000000 div {int(total_w)}")
                     .alias("target_ppm")))
    return out.withColumn("gap_ppm",
                          F.col("obs_ppm") - F.col("target_ppm"))


def mixture_gap_oracle_sql(strata_col: str,
                           targets: list[tuple[str, int]]) -> str:
    total_w = sum(w for _, w in targets)
    vals = ", ".join(f"('{s}', {int(w)})" for s, w in targets)
    return f"""
WITH mg_obs AS (
  SELECT {strata_col} AS stratum, CAST(count(*) AS BIGINT) AS n_rows
  FROM documents GROUP BY 1
),
mg_tot AS (SELECT CAST(sum(n_rows) AS BIGINT) AS tot FROM mg_obs),
mg_tgt(stratum, w) AS (VALUES {vals}),
mg_j AS (
  SELECT coalesce(o.stratum, t.stratum) AS stratum,
         coalesce(o.n_rows, 0) AS n_rows,
         coalesce(t.w, 0) AS w
  FROM mg_obs o FULL OUTER JOIN mg_tgt t
    ON o.stratum IS NOT DISTINCT FROM t.stratum
)
SELECT stratum, n_rows,
       CAST(coalesce(n_rows * 1000000 // nullif(tot, 0), 0) AS BIGINT)
           AS obs_ppm,
       CAST(w * 1000000 // {int(total_w)} AS BIGINT) AS target_ppm,
       CAST(coalesce(n_rows * 1000000 // nullif(tot, 0), 0)
            - w * 1000000 // {int(total_w)} AS BIGINT) AS gap_ppm
FROM mg_j, mg_tot
"""


def mixture_sample(df: DataFrame, strata_col: str, key_col: str,
                   targets: list[tuple[str, int]]) -> DataFrame:
    """Largest exact sample matching a target mixture — the domain/language
    REBALANCING step of a training-corpus build ("50% en, 15% de, ..."),
    deterministic and integer-exact.

    Given integer weights ``w_d`` (sum ``W``) and per-stratum populations
    ``n_d``, the maximal feasible total is ``T = min_d(n_d * W // w_d)``
    and each stratum contributes its ``k_d = w_d * T // W`` hash-rank-
    smallest keys (the :func:`sample_exact_k` total order, so the selected
    set is unique, engine-identical, and stable under repartitioning).
    All arithmetic is non-negative integer (Python ``//`` == DuckDB ``//``
    == the floor Spark never needs to take: T and k_d are computed
    driver-side from the collected per-stratum counts — ≤ len(targets)
    rows, bounded by the ARGUMENT list, never data-sized).

    Strata absent from ``targets`` are excluded; a target stratum with NO
    input rows makes the mixture infeasible (T=0 would silently empty the
    sample) — loud ValueError instead.

    Scale shape: one count aggregate (two-phase, ≤ len(targets) groups) +
    one rank window whose Exchange is pruned by WindowGroupLimit to the
    local top-max(k_d) per map partition; the per-stratum refinement CASE
    filters above it without a second Exchange.
    """
    W = _mixture_check(targets)
    strata = [s for s, _ in targets]
    in_scope = df.where(F.col(strata_col).isin(strata))
    counts = {r[0]: r[1]
              for r in in_scope.groupBy(strata_col).count().collect()}
    missing = [s for s in strata if counts.get(s, 0) == 0]
    if missing:
        raise ValueError(
            f"mixture_sample: strata {missing} have no input rows — "
            f"the requested mixture is infeasible (T would be 0)")
    t_total = min(counts[s] * W // w for s, w in targets)
    k_by = {s: w * t_total // W for s, w in targets}
    rk = _sample_rank_key(key_col, MIXTURE_SALT)
    w_win = Window.partitionBy(strata_col).orderBy(rk.asc(), F.col(key_col))
    k_expr = F.lit(None).cast("long")
    for s, _ in targets:
        k_expr = F.when(F.col(strata_col) == s,
                        F.lit(k_by[s])).otherwise(k_expr)
    return (in_scope
            .withColumn("sample_rank", F.row_number().over(w_win))
            .where(F.col("sample_rank") <= F.lit(max(k_by.values())))
            .where(F.col("sample_rank") <= k_expr))


def mixture_oracle_sql(strata_col: str, key_col: str,
                       targets: list[tuple[str, int]], cols: str) -> str:
    """DuckDB mirror: the identical T/k_d integer rule computed in SQL
    (non-negative counts, so ``//`` floors exactly like the Python side),
    the identical salted hash-rank total order. Assumes a FEASIBLE mixture
    (every target stratum populated) — the operator raises otherwise."""
    W = _mixture_check(targets)
    vals = ", ".join(f"('{s}', {w})" for s, w in targets)
    in_list = ", ".join(f"'{s}'" for s, _ in targets)
    h = md5_hash60_sql(
        f"'ksample:{MIXTURE_SALT}:' || CAST({key_col} AS VARCHAR)")
    return f"""
WITH mix_t AS (SELECT * FROM (VALUES {vals}) AS t(stratum, w)),
mix_n AS (
  SELECT {strata_col} AS stratum, count(*) AS n
  FROM documents WHERE {strata_col} IN ({in_list}) GROUP BY 1
),
mix_tot AS (
  SELECT min(n * {W} // w) AS t FROM mix_n JOIN mix_t USING (stratum)
),
mix_k AS (
  SELECT stratum, w * (SELECT t FROM mix_tot) // {W} AS k FROM mix_t
),
mix_r AS (
  SELECT {cols},
         CAST(row_number() OVER (PARTITION BY {strata_col}
                                 ORDER BY {h}, {key_col}) AS INT)
           AS sample_rank
  FROM documents WHERE {strata_col} IN ({in_list})
)
SELECT {cols}, sample_rank
FROM mix_r r JOIN mix_k k ON k.stratum = r.{strata_col}
WHERE r.sample_rank <= k.k
"""


def group_topk(df: DataFrame, group_cols: list[str], order_col: str, k: int,
               tiebreak_col: str) -> DataFrame:
    """Top-k rows per group under (order_col, tiebreak_col) — a TOTAL
    order, so the selected set is unique and cross-engine reproducible.

    Emits the input columns plus ``rank`` (1-based). Spark plans a
    WindowGroupLimit below the Exchange: each map partition keeps only its
    local top-k before shuffling, so the exchanged volume is O(k) per
    partition regardless of group sizes.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    oc = F.col(order_col).desc()
    w = Window.partitionBy(*group_cols).orderBy(oc, F.col(tiebreak_col))
    return (df.withColumn("rank", F.row_number().over(w))
              .where(F.col("rank") <= k))


# ---------------------------------------------------------------------------
# driver-contract queries over the documents table
# ---------------------------------------------------------------------------

_SAMPLE_RATES = {"en": 0.5, "de": 0.25, "zh": 0.0}
_SAMPLE_DEFAULT = 0.1


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-stratified deterministic sample of the documents table:
    keep 50% of en, 25% of de, 0% of zh, 10% of everything else."""
    docs = load_table(spark, sf_dir, "documents")
    out = sample_stratified(docs, "lang", "doc_id",
                            _SAMPLE_RATES, _SAMPLE_DEFAULT)
    return out.select("doc_id", "lang", "source", "n_chars")


def q_group_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 longest documents per (lang, source) bucket, doc_id tiebreak
    — the per-bucket quality-selection step."""
    docs = load_table(spark, sf_dir, "documents")
    out = group_topk(docs, ["lang", "source"], "n_chars", 3, "doc_id")
    return out.select("lang", "source", "rank", "doc_id", "n_chars")


# quality-weighted sampling: keep half the quality-pass docs, 2% of the
# fails — the "don't throw ALL the low-quality data away" curation rule
_QUALITY_RATES = {"1": 0.5, "0": 0.02}


def q_quality_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sampling on a COMPUTED stratum: the text_ops quality
    keep flag (one shared rule) becomes the stratum, so quality-pass and
    quality-fail docs sample at different rates in ONE codegen scan — no
    join, the flag and the keep rule fold into the same projection.
    NULL-text docs (NULL keep) coalesce into the FAIL stratum — they
    sample at the fail rate, never silently at the 0.0 default."""
    from logstash_filter_geoip_spark.operators.text_ops import quality_cols
    d = load_table(spark, sf_dir, "documents").withColumn(
        "stratum",
        F.coalesce(quality_cols("text")["keep"], F.lit(0)).cast("string"))
    out = sample_stratified(d, "stratum", "doc_id", _QUALITY_RATES)
    return out.select("doc_id", "lang", "source", "n_chars",
                      F.col("stratum").cast("int").alias("keep"))


_EXACT_K = 40


def q_sample_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 40 documents per language, selected by the deterministic
    hash-rank min-k rule (the distributed reservoir)."""
    docs = load_table(spark, sf_dir, "documents")
    out = sample_exact_k(docs, "lang", "doc_id", _EXACT_K)
    return out.select("doc_id", "lang", "source", "n_chars", "sample_rank")


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The largest deterministic sample of documents matching the
    50/15/15/10/10 en/de/es/fr/zh target mixture."""
    docs = load_table(spark, sf_dir, "documents")
    out = mixture_sample(docs, "lang", "doc_id", MIXTURE_TARGETS)
    return out.select("doc_id", "lang", "source", "n_chars", "sample_rank")


def queries():
    return {
        "sample_stratified": q_sample_stratified,
        "group_topk": q_group_topk,
        "quality_sample": q_quality_sample,
        "sample_exact_k": q_sample_exact_k,
        "mixture_sample": q_mixture_sample,
        "mixture_gap": lambda s, d: mixture_gap(
            load_table(s, d, "documents"), "lang",
                                                MIXTURE_TARGETS),
    }


def oracles() -> dict[str, str]:
    where = sample_oracle_where("lang", "doc_id",
                                _SAMPLE_RATES, _SAMPLE_DEFAULT)
    # the quality stratum: the text_quality oracle's keep expression,
    # composed as a derived table (the clean_corpus pattern — the
    # composition cannot drift from its piece)
    from logstash_filter_geoip_spark.operators.text_ops import \
        oracles as text_oracles
    q_where = sample_oracle_where("stratum", "doc_id", _QUALITY_RATES)
    # NULL keep (NULL text) coalesces into the fail stratum on BOTH sides
    quality_sql = f"""
WITH q AS ({text_oracles()["text_quality"]})
SELECT d.doc_id, d.lang, d.source, d.n_chars, q.keep
FROM documents d JOIN (
  SELECT doc_id, CAST(coalesce(keep, 0) AS INT) AS keep,
         CAST(coalesce(keep, 0) AS VARCHAR) AS stratum FROM q
) q USING (doc_id)
WHERE {q_where}
"""
    return {
        "mixture_gap": mixture_gap_oracle_sql("lang", MIXTURE_TARGETS),
        "mixture_sample": mixture_oracle_sql(
            "lang", "doc_id", MIXTURE_TARGETS,
            "doc_id, lang, source, n_chars"),
        "sample_exact_k": sample_exact_k_oracle_sql(
            "lang", "doc_id", _EXACT_K, "doc_id, lang, source, n_chars"),
        "quality_sample": quality_sql,
        "sample_stratified": f"""
SELECT doc_id, lang, source, n_chars FROM documents WHERE {where}
""",
        "group_topk": """
SELECT lang, source, rank, doc_id, n_chars FROM (
  SELECT lang, source, doc_id, n_chars,
         CAST(row_number() OVER (PARTITION BY lang, source
                                 ORDER BY n_chars DESC, doc_id) AS INT)
           AS rank
  FROM documents
) WHERE rank <= 3
""",
    }
