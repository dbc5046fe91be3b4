"""Market-basket association rules: directed item→item rules with
integer-exact support / confidence / lift.

The co-occurrence sibling of ``trending`` collocations (those mine
ADJACENT token pairs by position; these mine UNORDERED co-membership in a
basket) and the statistical face of ``graph.triangle_count``'s edge
derivation. The driver query mines brand-affinity rules from the order
baskets.

Semantics (ONE definition, mirrored in the oracle):

* the universe is the distinct (basket, item) relation, NULL baskets and
  NULL items dropped; baskets LARGER than ``max_basket`` items are
  excluded entirely (from n_baskets, item counts, and pairs) — degenerate
  mega-baskets both blow the C(n, 2) pair expansion and carry no rule
  signal;
* each unordered co-occurring pair yields two directed rules; with
  ``n`` kept baskets, ``c_a``/``c_b`` item basket-counts and ``pair_n``
  the pair basket-count:
      support_ppm    = pair_n * 1e6 div n
      confidence_ppm = pair_n * 1e6 div c_ant
      lift_ppm       = pair_n * n * 1e6 div (c_ant * c_cons)
  all truncating INTEGER division (Spark ``div`` == DuckDB ``//`` on
  non-negative counts — the drift-module rule; no floats anywhere, exact
  at any cardinality). lift_ppm > 1e6 reads "co-occur more than
  independence predicts". The ``pair_n * n * 1e6`` product is BIGINT
  arithmetic under ANSI — a corpus big enough to overflow (pair_n * n >
  ~9.2e12) raises loudly rather than wrapping.

Scale shape (100 TB): the pair expansion self-joins on the BASKET key, so
per-basket work is C(size, 2) with size ≤ max_basket — hot items don't
matter (they are values, not keys), hot baskets are excluded by contract.
The shuffle after expansion carries distinct PAIRS (≤ min(Σ C(size, 2),
items²) rows), two-phase aggregated. Item counts and pair counts are
corpus-derived aggregates → every join of them is merge-hinted (the
session-10 static-estimate rule); the one 1-row total relation rides a
crossJoin (dq_summary convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

PPM = 1_000_000
MAX_BASKET = 1024


def _kept_basket_items(df: DataFrame, basket_col: str, item_col: str,
                       max_basket: int, cache: bool, who: str):
    """The ONE universe rule (shared by the batch operator and the
    streaming counter stage): distinct (b, i) with NULLs dropped, baskets
    larger than ``max_basket`` excluded entirely. Returns (bi, kept, bik);
    ``cache`` persists the multiply-referenced relations — projection
    collapse shares no plan subtrees."""
    if max_basket < 2:
        raise ValueError(
            f"{who}: max_basket={max_basket} — baskets below 2 items can "
            f"never form a pair; the smallest sane cap is 2")
    bi = (df.where(F.col(basket_col).isNotNull()
                   & F.col(item_col).isNotNull())
            .select(F.col(basket_col).alias("b"),
                    F.col(item_col).alias("i"))
            .distinct())
    if cache:
        bi = bi.persist()
    kept = (bi.groupBy("b").agg(F.count(F.lit(1)).alias("sz"))
              .where(F.col("sz") <= max_basket))
    bik = bi.join(kept.select("b").hint("merge"), "b")
    if cache:
        bik = bik.persist()
    return bi, kept, bik


def _pair_counts(bik: DataFrame) -> DataFrame:
    """Unordered co-occurrence counts (i1 < i2), UNFILTERED — min_pair_n
    is stage-2's threshold. Self-join on the BASKET key (hot items are
    values, not keys)."""
    left = bik.select("b", F.col("i").alias("i1"))
    right = bik.select("b", F.col("i").alias("i2"))
    return (left.join(right.hint("merge"), "b")
                .where(F.col("i1") < F.col("i2"))
                .groupBy("i1", "i2")
                .agg(F.count(F.lit(1)).alias("pair_n")))


def _stage2(pairs: DataFrame, item_n: DataFrame, total: DataFrame,
            min_pair_n: int) -> DataFrame:
    """The ONE rule-arithmetic definition (batch operator AND streaming
    read face — structural, not just equality-pinned): direction union,
    two merge-hinted item-count joins, the 1-row totals crossJoin, and
    the three truncating-div ppm metrics."""
    pairs = pairs.where(F.col("pair_n") >= min_pair_n)
    rules = pairs.select(F.col("i1").alias("antecedent"),
                         F.col("i2").alias("consequent"), "pair_n") \
                 .unionByName(
        pairs.select(F.col("i2").alias("antecedent"),
                     F.col("i1").alias("consequent"), "pair_n"))
    out = (rules
           .join(item_n.select(F.col("i").alias("antecedent"),
                               F.col("c_i").alias("c_ant")).hint("merge"),
                 "antecedent")
           .join(item_n.select(F.col("i").alias("consequent"),
                               F.col("c_i").alias("c_cons")).hint("merge"),
                 "consequent")
           .crossJoin(total))
    return out.select(
        "antecedent", "consequent", "pair_n",
        F.expr(f"pair_n * {PPM} div n_baskets").alias("support_ppm"),
        F.expr(f"pair_n * {PPM} div c_ant").alias("confidence_ppm"),
        F.expr(f"pair_n * n_baskets * {PPM} div (c_ant * c_cons)")
         .alias("lift_ppm"))


def association_rules(df: DataFrame, basket_col: str, item_col: str,
                      min_pair_n: int = 1,
                      max_basket: int = MAX_BASKET,
                      cache: bool = True) -> DataFrame:
    """(antecedent, consequent, pair_n, support_ppm, confidence_ppm,
    lift_ppm) for every directed rule whose pair count ≥ ``min_pair_n``,
    over baskets of ≤ ``max_basket`` distinct items.

    ``cache=True`` (default) persists the multiply-referenced relations
    (distinct basket-items ×2, kept basket-items ×3, pair counts ×2) —
    projection collapse shares no plan subtrees, so without the barrier
    the whole pair aggregation runs once PER RULE DIRECTION.
    ``cache=False`` keeps the fully declarative plan (plan contract)."""
    _, kept, bik = _kept_basket_items(df, basket_col, item_col,
                                      max_basket, cache,
                                      "association_rules")
    total = kept.agg(F.count(F.lit(1)).alias("n_baskets"))
    item_n = bik.groupBy("i").agg(F.count(F.lit(1)).alias("c_i"))
    pairs = _pair_counts(bik)
    if cache:
        pairs = pairs.persist()
    return _stage2(pairs, item_n, total, min_pair_n)


def rules_oracle_sql(pairs_sql: str, min_pair_n: int = 1,
                     max_basket: int = MAX_BASKET) -> str:
    """DuckDB mirror generated from the same parameters. ``pairs_sql``
    must select (b, i); CTE names are br_-prefixed (the session-13
    collision rule). Counts CAST to BIGINT (DuckDB count is BIGINT but
    the products must stay in checked BIGINT, mirroring ANSI)."""
    return f"""
WITH br_raw AS ({pairs_sql}),
br_bi AS (
  SELECT DISTINCT b, i FROM br_raw WHERE b IS NOT NULL AND i IS NOT NULL
),
br_kept AS (
  SELECT b FROM br_bi GROUP BY b HAVING count(*) <= {max_basket}
),
br_bik AS (SELECT bi.b, bi.i FROM br_bi bi JOIN br_kept k ON k.b = bi.b),
br_total AS (SELECT CAST(count(*) AS BIGINT) AS n_baskets FROM br_kept),
br_item AS (
  SELECT i, CAST(count(*) AS BIGINT) AS c_i FROM br_bik GROUP BY i
),
br_pairs AS (
  SELECT l.i AS i1, r.i AS i2, CAST(count(*) AS BIGINT) AS pair_n
  FROM br_bik l JOIN br_bik r ON l.b = r.b AND l.i < r.i
  GROUP BY 1, 2
  HAVING count(*) >= {min_pair_n}
),
br_rules AS (
  SELECT i1 AS antecedent, i2 AS consequent, pair_n FROM br_pairs
  UNION ALL
  SELECT i2 AS antecedent, i1 AS consequent, pair_n FROM br_pairs
)
SELECT r.antecedent, r.consequent, r.pair_n,
       CAST(r.pair_n * {PPM} // t.n_baskets AS BIGINT) AS support_ppm,
       CAST(r.pair_n * {PPM} // a.c_i AS BIGINT) AS confidence_ppm,
       CAST(r.pair_n * t.n_baskets * {PPM} // (a.c_i * c.c_i) AS BIGINT)
           AS lift_ppm
FROM br_rules r
JOIN br_item a ON a.i = r.antecedent
JOIN br_item c ON c.i = r.consequent
CROSS JOIN br_total t
"""


# ---------------------------------------------------------------------------
# mergeable counter stage (the streaming face's state relation)
# ---------------------------------------------------------------------------


def rule_counts(df: DataFrame, basket_col: str, item_col: str,
                max_basket: int = MAX_BASKET,
                cache: bool = True) -> DataFrame:
    """The association-rule COUNTERS as one mergeable relation of
    (kind, i1, i2, n) rows — kind 'B' (one row: kept-basket total),
    'I' (per-item basket count), 'P' (per-unordered-pair basket count,
    UNFILTERED: min_pair_n is a READ-time threshold, counters must stay
    complete). Counters from disjoint basket sets ADD (groupBy sum) —
    the state `streaming/incremental.rules_state` maintains at ingest
    under the BASKET-ATOMIC contract (every basket arrives wholly within
    one micro-batch; a split basket would undercount its pairs).
    ``rules_from_counts`` applies the SAME ``_stage2`` the batch operator
    uses (structural sharing; the composition is additionally
    equality-pinned)."""
    bi, kept, bik = _kept_basket_items(df, basket_col, item_col,
                                       max_basket, cache, "rule_counts")
    null_i = F.lit(None).cast(bi.schema["i"].dataType)
    total = kept.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("B").alias("kind"), null_i.alias("i1"), null_i.alias("i2"),
        "n")
    item_n = bik.groupBy("i").agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("I").alias("kind"), F.col("i").alias("i1"),
        null_i.alias("i2"), "n")
    pairs = _pair_counts(bik).select(
        F.lit("P").alias("kind"), "i1", "i2",
        F.col("pair_n").alias("n"))
    return total.unionByName(item_n).unionByName(pairs)


def merge_rule_counts(counts: DataFrame) -> DataFrame:
    """Fold counter relations from disjoint basket sets: pure addition."""
    return counts.groupBy("kind", "i1", "i2").agg(F.sum("n").alias("n"))


def rules_from_counts(counts: DataFrame, min_pair_n: int = 1) -> DataFrame:
    """Stage 2 over a stored counter relation — literally ``_stage2``,
    the same function object the batch operator runs; no basket rescans."""
    total = counts.where(F.col("kind") == "B").select(
        F.col("n").alias("n_baskets"))
    item_n = counts.where(F.col("kind") == "I").select(
        F.col("i1").alias("i"), F.col("n").alias("c_i"))
    pairs = counts.where(F.col("kind") == "P").select(
        "i1", "i2", F.col("n").alias("pair_n"))
    return _stage2(pairs, item_n, total, min_pair_n)


# ---------------------------------------------------------------------------
# driver contract: brand-affinity rules over the order baskets
# ---------------------------------------------------------------------------


BRAND_PAIRS_SQL = """
  SELECT l.l_orderkey AS b, p.p_brand AS i
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey"""


def q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand-affinity rules: which brands co-occur in an order beyond
    independence. Bounded output (≤ brands² directed rules)."""
    li = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
               .select("l_orderkey", "l_partkey"))
    part = (spark.read.parquet(f"{sf_dir}/part.parquet")
                 .select("p_partkey", "p_brand"))
    baskets = li.join(part, li.l_partkey == part.p_partkey).select(
        F.col("l_orderkey").alias("basket"), F.col("p_brand").alias("item"))
    return association_rules(baskets, "basket", "item", min_pair_n=2)


def queries():
    return {"basket_rules": q_basket_rules}


def oracles() -> dict[str, str]:
    return {"basket_rules": rules_oracle_sql(BRAND_PAIRS_SQL,
                                             min_pair_n=2)}
