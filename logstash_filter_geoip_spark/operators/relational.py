"""Large-to-large relational joins over the warehouse tables — the shuffle
side of the engine's join story.

Every hot-path join elsewhere in the repo is broadcast by design (the
dimension side is bounded: GeoLite2 dims, group stats, benchmark n-grams).
A 100-TB engine also needs the OTHER regime — two data-sized relations
joined on a shuffle key — so these operators exercise it explicitly in the
classic decision-support shapes (TPC-H Q3/Q4 simplified to the synthetic
tables' columns):

  * ``priority_semi_counts`` — orders LEFT SEMI lineitem: "orders with at
    least one returned lineitem, counted by priority". Semi-join semantics
    (no fan-out, no dedup needed) keyed on the join column both relations
    would be bucketed/partitioned by at scale; integer outputs only.
  * ``ship_priority_topk`` — the bounded customer dimension broadcasts
    into orders, the orders→lineitem leg shuffles on orderkey, revenue
    aggregates per order two-phase, and a TakeOrderedAndProject keeps the
    global top-k without a full sort.
  * ``local_supplier_volume`` — the TPC-H Q5 shape: a MIXED-regime
    six-table join. Only the truly bounded dims broadcast (region 5 rows →
    nation 25 rows, pinned with an explicit hint so the build side never
    flips); customer, supplier, orders, lineitem all join on their natural
    keys in the shuffle regime (customer/supplier are SF-proportional —
    1.5M·SF / 10k·SF rows — so at 100 TB neither fits a broadcast). The
    "local" residual (customer's nation == supplier's nation) rides the
    suppkey equi-join as an extra equality key, never a post-join filter
    over a wider join.
  * ``brand_volume`` — lineitem ⋈ part on partkey with the dim-side
    filter (p_type) applied BEFORE the join so it prunes the build/stream
    side at the scan; part is 1/30 of lineitem (mid-sized dim: AQE
    broadcasts it at small scale, shuffles on partkey at 100 TB).

Scale notes (100 TB): every plan shuffles ONLY on natural join/group keys
(orderkey/custkey/suppkey/partkey — co-partitionable, bucket-join-able at
rest; with storage bucketing the Exchanges vanish), AQE re-plans skewed
partitions, and revenue sums are either ≤ lines-per-order float sums
(inside the oracle's 6-decimal window) or EXACT integer micro-units
(cents × residual-discount-percent as BIGINT — the synthetic prices are
integral cents, so the sum is order-independent and bit-identical across
engines at any scale; a corpus-sized float sum would not be).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from logstash_filter_geoip_spark.sources.transcripts import load_table

_SEGMENT = "BUILDING"
_CUTOFF = "2000-01-01"


def returned_order_priorities(orders: DataFrame,
                              lineitem: DataFrame) -> DataFrame:
    """Orders with ≥1 returned line (l_returnflag = 'R'), counted by
    o_orderpriority — EXISTS via LEFT SEMI, so no fan-out and no distinct."""
    returned = lineitem.where(F.col("l_returnflag") == "R") \
                       .select("l_orderkey")
    return (orders.join(returned,
                        orders.o_orderkey == returned.l_orderkey, "left_semi")
                  .groupBy("o_orderpriority")
                  .agg(F.count(F.lit(1)).alias("n_orders")))


def ship_priority(customer: DataFrame, orders: DataFrame,
                  lineitem: DataFrame) -> DataFrame:
    """Top-10 revenue orders for one market segment with lines shipped
    after the cutoff (TPC-H Q3 shape; total order under (revenue desc,
    orderkey) so the selected set is unique)."""
    cust = customer.where(F.col("c_mktsegment") == _SEGMENT) \
                   .select("c_custkey")
    ords = orders.join(F.broadcast(cust),
                       orders.o_custkey == cust.c_custkey) \
                 .select("o_orderkey", "o_orderdate", "o_orderpriority")
    lines = lineitem.where(
        F.col("l_shipdate") > F.lit(_CUTOFF).cast("timestamp"))
    rev = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
    return (lines.join(ords, lines.l_orderkey == ords.o_orderkey)
                 .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
                 .agg(F.sum(rev).alias("revenue"))
                 .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
                 .limit(10))


_REGION = "ASIA"
_PART_TYPE = "PROMO"


def _revenue_micro() -> F.Column:
    """Line revenue in exact integer micro-units: cents × (100 − discount
    percent). The synthetic prices/discounts are integral at cents/percent
    granularity (asserted by test), so this BIGINT is exact and its sum is
    order-independent — bit-identical in Spark, DuckDB, and Python.

    Headroom: ~1e9 micro-units/row means a BIGINT group sum holds ~9e9
    rows per group (ANSI mode RAISES on overflow rather than wrapping);
    for groups beyond that, sum `_revenue_micro().cast("decimal(38,0)")`
    — Spark decimal sums are exact and order-independent too, at 1e38
    headroom."""
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    pct_keep = F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    return cents * pct_keep


def local_supplier_volume(region: DataFrame, nation: DataFrame,
                          customer: DataFrame, supplier: DataFrame,
                          orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Revenue per nation for one region where the supplying and buying
    nation coincide (TPC-H Q5 shape). Broadcasts ONLY the bounded dims
    (region→nation, ≤25 rows by construction); the four SF-proportional
    relations join on natural keys in whatever regime the optimizer picks
    (SortMergeJoin when data-sized — plan-pinned in both regimes)."""
    nat = (nation.join(F.broadcast(region.where(F.col("r_name") == _REGION)),
                       nation.n_regionkey == region.r_regionkey)
                 .select("n_nationkey", "n_name"))
    cust = (customer.join(F.broadcast(nat),
                          customer.c_nationkey == nat.n_nationkey)
                    .select("c_custkey",
                            F.col("n_nationkey").alias("cust_nationkey")))
    ords = (orders.join(cust, orders.o_custkey == cust.c_custkey)
                  .select("o_orderkey", "cust_nationkey"))
    supp = (supplier.join(F.broadcast(nat),
                          supplier.s_nationkey == nat.n_nationkey)
                    .select("s_suppkey", "n_name",
                            F.col("n_nationkey").alias("supp_nationkey")))
    lines = lineitem.select("l_orderkey", "l_suppkey",
                            _revenue_micro().alias("rev_u"))
    joined = (lines.join(ords, lines.l_orderkey == ords.o_orderkey)
                   # the "local" residual is a second EQUALITY key on the
                   # suppkey join, so it participates in the hash, never a
                   # post-join filter over a wider intermediate
                   .join(supp, (lines.l_suppkey == supp.s_suppkey)
                         & (F.col("cust_nationkey") == F.col("supp_nationkey"))))
    return (joined.groupBy("n_name")
                  .agg(F.sum("rev_u").alias("revenue_u"),
                       F.count(F.lit(1)).alias("n_lines")))


def brand_volume(part: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Shipped quantity and revenue per brand for one part type. The dim
    filter applies BEFORE the join (build-side pruning at the scan); part
    is a mid-sized dimension — broadcast at small scale by AQE, a partkey
    shuffle join at 100 TB."""
    prt = part.where(F.col("p_type") == _PART_TYPE) \
              .select("p_partkey", "p_brand")
    lines = lineitem.select("l_partkey",
                            F.col("l_quantity").cast("long").alias("qty"),
                            _revenue_micro().alias("rev_u"))
    return (lines.join(prt, lines.l_partkey == prt.p_partkey)
                 .groupBy("p_brand")
                 .agg(F.count(F.lit(1)).alias("n_lines"),
                      F.sum("qty").alias("sum_qty"),
                      F.sum("rev_u").alias("revenue_u")))


_Q17_BRAND = "Brand#11"


def small_quantity_revenue(part: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q17 shape: revenue from "small" lineitems of one brand, where
    small = quantity below 20% of that part's average quantity. The
    correlated scalar subquery decorrelates into a per-partkey aggregate
    joined back on the SAME key (the agg reuses the join's partitioning —
    at rest, partkey bucketing makes both Exchanges vanish).

    The 0.2·avg comparison is exact integer cross-multiplication
    (``5·qty·cnt < sum_qty`` — quantities are integral, test-pinned), and
    revenue is the BIGINT micro-unit convention (_revenue_micro), so no
    float reaches the oracle hash. The brand filter prunes the part dim
    BEFORE its join (scan-level pruning; part is mid-sized — AQE broadcast
    at small scale, partkey shuffle at 100 TB — the brand_volume regime).

    The per-part stats come from a WINDOW over the already-partkey-keyed
    join output, not a separate aggregate joined back: the agg+join-back
    formulation re-derives the branded relation on both sides — two
    lineitem scans and three shuffle joins in the no-broadcast regime
    (plan-verified) — where the window rides the join's own partitioning:
    ONE lineitem scan, ONE partkey Exchange, one Sort+Window (plan-pinned).
    """
    from pyspark.sql import Window
    prt = (part.where(F.col("p_brand") == _Q17_BRAND)
               .select("p_partkey", "p_brand"))
    lines = lineitem.select("l_partkey",
                            F.col("l_quantity").cast("long").alias("qty"),
                            _revenue_micro().alias("rev_u"))
    branded = lines.join(prt, lines.l_partkey == prt.p_partkey)
    w = Window.partitionBy("p_partkey")
    small = (branded.select(
                "p_brand", "qty", "rev_u",
                F.sum("qty").over(w).alias("sum_qty"),
                F.count(F.lit(1)).over(w).alias("cnt"))
             .where(F.lit(5) * F.col("qty") * F.col("cnt")
                    < F.col("sum_qty")))
    return small.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_small_lines"),
        F.sum("rev_u").alias("small_revenue_u"))


_Q21_LATE_DAYS = 90


def waiting_suppliers(supplier: DataFrame, nation: DataFrame,
                      orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q21 shape: among finished multi-supplier orders, blame the
    supplier who was the ONLY one to ship late (shipdate more than
    ``_Q21_LATE_DAYS`` past the order date — the synthetic tables carry no
    commit/receipt dates, so the late rule is anchored on o_orderdate).

    The classic EXISTS/NOT-EXISTS double correlation decorrelates into ONE
    per-(order, supplier) aggregate plus per-order window counts — no
    self-joins of lineitem at all:

      * lineitem ⋈ orders shuffles on orderkey; the (orderkey, suppkey)
        aggregate and the orderkey window both REUSE that partitioning
        (HashPartitioning(orderkey) satisfies clustering on the superset
        key and the window key — zero additional Exchanges, plan-pinned).
      * EXISTS(other supplier)        ⇔ n_supp  > 1
      * NOT EXISTS(other late suppl.) ⇔ n_late == 1 AND this one is late
      * nation (bounded, ≤25 rows) broadcasts into supplier; the
        blamed ⋈ supplier join is corpus-derived on both sides at scale →
        merge-hinted (the session-10 static-estimate rule).

    Timestamps compare via INTERVAL arithmetic (never unix_micros — raw
    scans surface TIMESTAMP_NTZ; the session-5 rule)."""
    from pyspark.sql import Window
    ords = orders.where(F.col("o_orderstatus") == "F") \
                 .select("o_orderkey", "o_orderdate")
    lines = lineitem.select("l_orderkey", "l_suppkey", "l_shipdate")
    late = (F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {_Q21_LATE_DAYS} DAY"))
    per_supp = (lines.join(ords, lines.l_orderkey == ords.o_orderkey)
                     .groupBy("o_orderkey", "l_suppkey")
                     .agg(F.max(late.cast("int")).alias("any_late")))
    w = Window.partitionBy("o_orderkey")
    blamed = (per_supp
              .withColumn("n_supp", F.count(F.lit(1)).over(w))
              .withColumn("n_late", F.sum("any_late").over(w))
              .where((F.col("any_late") == 1) & (F.col("n_supp") > 1)
                     & (F.col("n_late") == 1)))
    supp = (supplier.join(F.broadcast(nation),
                          supplier.s_nationkey == nation.n_nationkey)
                    .select("s_suppkey", "s_name", "n_name"))
    return (blamed.join(supp.hint("merge"),
                        blamed.l_suppkey == supp.s_suppkey)
                  .groupBy("s_name", "n_name")
                  .agg(F.count(F.lit(1)).alias("numwait")))


_Q22_DORMANT_SINCE = "2001-01-01 00:00:00"


def idle_rich_customers(customer: DataFrame, orders: DataFrame,
                        nation: DataFrame) -> DataFrame:
    """TPC-H Q22 shape: customers whose balance exceeds the global average
    of positive balances AND who placed no order since ``_Q22_DORMANT_SINCE``
    (every synthetic customer has SOME order, so Q22's "no orders in N
    years" recency rule is the non-vacuous form), summed per nation.

    The scalar subquery reduces to ONE row broadcast back (the bm25
    corpus-stats pattern); the above-average test is exact integer
    cross-multiplication on cents (``bal_cents · n_pos > sum_pos_cents`` —
    no float division reaches the oracle hash, the _revenue_micro
    convention extended to balances); NOT EXISTS is a LEFT ANTI shuffle
    join on custkey — orders is corpus-sized, never broadcast, and the
    recency predicate prunes its scan BEFORE the join."""
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    cust = customer.select("c_custkey", "c_nationkey",
                           cents.alias("bal_cents"))
    pos = cust.where(F.col("bal_cents") > 0).agg(
        F.sum("bal_cents").alias("sum_pos"),
        F.count(F.lit(1)).alias("n_pos"))
    rich = (cust.crossJoin(F.broadcast(pos))
                .where(F.col("bal_cents") * F.col("n_pos")
                       > F.col("sum_pos")))
    recent = orders.where(
        F.col("o_orderdate")
        >= F.lit(_Q22_DORMANT_SINCE).cast("timestamp_ntz")).select("o_custkey")
    idle = rich.join(recent, rich.c_custkey == F.col("o_custkey"),
                     "left_anti")
    return (idle.join(F.broadcast(nation),
                      idle.c_nationkey == nation.n_nationkey)
                .groupBy("n_name")
                .agg(F.count(F.lit(1)).alias("n_cust"),
                     F.sum("bal_cents").alias("sum_bal_cents")))


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


# TPC-H Q15 shape: top supplier(s) by quarterly revenue — the "create view
# revenue0 ... where total = (select max from view)" correlated max,
# decorrelated into a single-partition window max over the ALREADY-
# AGGREGATED per-supplier relation (supplier-count-sized — the
# transition_counts total rule, never a second scan of lineitem)
_Q15_START = "1996-01-01 00:00:00"
_Q15_END = "1996-04-01 00:00:00"


def top_supplier_revenue(supplier: DataFrame,
                         lineitem: DataFrame) -> DataFrame:
    """(s_suppkey, s_name, total_revenue_u) for every supplier achieving
    the MAXIMUM quarterly revenue (exact BIGINT micro-units, so the max
    and its ties are exact — a float revenue would make "equals the max"
    engine-dependent at the ulp).

    Scale shape (r6): the global max is a 1-row ``agg()`` broadcast
    cross-joined back onto the PERSISTED per-supplier aggregate — at 100 TB
    the per-supplier relation is supplier-cardinality (10^8 rows) and the
    former single-partition window funneled it through ONE task. The
    persist guarantees one lineitem derivation (the 1-row agg and the
    filter both read the cache); its lifetime ends with the consuming
    action (pack_sequences cache-lifetime convention)."""
    rev = (lineitem
           .where((F.col("l_shipdate") >= F.lit(_Q15_START).cast("timestamp"))
                  & (F.col("l_shipdate") < F.lit(_Q15_END).cast("timestamp")))
           .groupBy("l_suppkey")
           .agg(F.sum(_revenue_micro()).alias("total_revenue_u"))).persist()
    mx = rev.agg(F.max("total_revenue_u").alias("__mx"))
    best = (rev.crossJoin(F.broadcast(mx))
               .where(F.col("total_revenue_u") == F.col("__mx")))
    # the winner relation is corpus-derived (post-aggregate estimates
    # under-report — the session-10 rule) → merge-hinted, never a static
    # broadcast of an unknown-sized side
    return (supplier.join(
                best.hint("merge").withColumnRenamed("l_suppkey",
                                                     "s_suppkey"),
                "s_suppkey")
            .select("s_suppkey", "s_name", "total_revenue_u"))


# TPC-H Q13 shape: the customer order-count distribution — the LEFT JOIN
# that must keep zero-order customers (an inner join silently drops the
# most interesting bucket)


def customer_order_histogram(customer: DataFrame,
                             orders: DataFrame) -> DataFrame:
    """(c_count, custdist): how many customers placed exactly c_count
    orders, INCLUDING the zero bucket (LEFT JOIN + coalesce 0). Two
    two-phase aggregates; the per-customer count relation is
    corpus-derived → merge-hinted."""
    per_cust = (orders.groupBy(F.col("o_custkey").alias("c_custkey"))
                      .agg(F.count(F.lit(1)).alias("c_count")))
    joined = (customer.select("c_custkey")
                      .join(per_cust.hint("merge"), "c_custkey", "left")
                      .select(F.coalesce("c_count", F.lit(0))
                               .alias("c_count")))
    return joined.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist"))


# TPC-H Q18 shape: large-volume customers — the HAVING-IN subquery
# decorrelated into a qualifying-order aggregate joined back
_Q18_MIN_QTY = 300  # the ONE threshold both engines read


def large_volume_customers(customer: DataFrame, orders: DataFrame,
                           lineitem: DataFrame,
                           min_qty: int = _Q18_MIN_QTY) -> DataFrame:
    """(c_custkey, o_orderkey, o_orderdate, total_qty) for orders whose
    total lineitem quantity exceeds ``min_qty`` — the "orders IN (select
    l_orderkey ... having sum > t)" shape as one aggregate + joins.
    Quantities are integral at the synthetic granularity (pinned by
    test_relational), so the BIGINT sum and the > compare are exact."""
    qual = (lineitem.groupBy("l_orderkey")
                    .agg(F.sum(F.col("l_quantity").cast("long"))
                          .alias("total_qty"))
                    .where(F.col("total_qty") > F.lit(min_qty)))
    return (orders.join(qual.hint("merge")
                            .withColumnRenamed("l_orderkey", "o_orderkey"),
                        "o_orderkey")
                  .join(customer.withColumnRenamed("c_custkey", "o_custkey")
                                .select("o_custkey"),
                        "o_custkey")
                  .select(F.col("o_custkey").alias("c_custkey"),
                          "o_orderkey", "o_orderdate", "total_qty"))


def promo_revenue_share(part: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q14 shape — the conditional-share rollup: per ship month,
    promo-type revenue vs total revenue as the EXACT BIGINT micro-unit
    PAIR — the share itself is the caller's one division (the
    pricing_summary sum+count convention; a ppm cross-multiply
    `promo_u * 1e6` would overflow BIGINT at ~5e4 lines/month of
    micro-unit revenue, so the pair IS the scale-safe contract). The
    part join is the brand_volume regime: a mid-sized dimension — AQE
    broadcast at small scale, a partkey shuffle join at 100 TB; only
    p_partkey/p_type survive the scan (column-pruned). NULL ship dates
    drop (three-valued)."""
    prt = part.select("p_partkey", "p_type")
    j = (lineitem.where(F.col("l_shipdate").isNotNull())
                 .select("l_partkey",
                         F.date_trunc("month", F.col("l_shipdate"))
                          .alias("month"),
                         _revenue_micro().alias("rev_u"))
                 .join(prt, F.col("l_partkey") == F.col("p_partkey")))
    promo = F.when(F.col("p_type") == _PART_TYPE, F.col("rev_u")) \
             .otherwise(F.lit(0))
    return (j.groupBy("month")
             .agg(F.sum(promo).alias("promo_revenue_u"),
                  F.sum("rev_u").alias("total_revenue_u")))


_Q11_FRACTION = (1, 2000)  # keep parts whose revenue > total × 1/2000


def important_parts(lineitem: DataFrame,
                    num: int = _Q11_FRACTION[0],
                    den: int = _Q11_FRACTION[1]) -> DataFrame:
    """TPC-H Q11 shape — the group-vs-GLOBAL-scalar HAVING: parts whose
    revenue exceeds a fraction of the total. The correlated subquery
    decorrelates into a 1-row global ``agg()`` broadcast cross-joined back
    onto the PERSISTED per-part aggregate (r6: the former single-partition
    window funneled the part-cardinality relation — 10^8-10^9 rows at
    100 TB — through ONE task; the persist keeps it one lineitem
    derivation, so this is not the forbidden re-deriving join-back).

    Threshold compare is ``revenue_u > (total_u * num) div den`` —
    truncating integer division on non-negative BIGINT micro-units
    (exact and engine-shared; the mirror ``rev * den > tot * num`` would
    overflow BIGINT at 100-TB totals for den ≫ 1, so the div form with a
    SMALL num is the safe spelling; num/den are validated accordingly).
    Strict >, matching Q11's HAVING."""
    if num < 1 or den < 1 or num > 1000:
        raise ValueError(f"important_parts: need 1 <= num <= 1000 <= den? "
                         f"(num={num}, den={den})")
    per = (lineitem.groupBy("l_partkey")
                   .agg(F.sum(_revenue_micro()).alias("revenue_u"))).persist()
    tot = per.agg(F.sum("revenue_u").alias("__tot"))
    return (per.crossJoin(F.broadcast(tot))
               .where(F.col("revenue_u")
                      > F.expr(f"(__tot * {int(num)}) div {int(den)}"))
               .select("l_partkey", "revenue_u"))


def salted_join(left: DataFrame, right: DataFrame, on: list[str],
                salt_col: str, n_salt: int = 16,
                how: str = "inner") -> DataFrame:
    """Skew-defused equi-join for a LEFT side with hot keys: the left adds
    a deterministic per-row salt (60-bit md5 of ``salt_col`` mod n_salt —
    reproducible under any partitioning, unlike rand()), the right
    REPLICATES each row across all n_salt salt values, and the join runs
    on ``on + [salt]`` — a hot key's rows spread over n_salt reducers
    instead of melting one. Result is EXACTLY the plain join (salts are
    internal; dropped on return).

    This generalizes the repo's ad-hoc salting (salted_conv_rollup's
    aggregate salt; attribution_join's time-bucket second key) to any
    keyed join whose RIGHT side is small-per-key but not broadcast-small
    overall. Cost: the right side shuffles n_salt× its size — worth it
    exactly when one left key would otherwise dominate a reducer (measure
    with dq.key_skew_stats first; AQE's skew-join handles moderate skew
    without it, but only AFTER materializing the skewed shuffle files).
    ``salt_col`` must be a stable, well-distributed left column (a row id).
    """
    from logstash_filter_geoip_spark.functions.hashing import md5_hash60
    if n_salt < 2:
        raise ValueError(f"n_salt must be >= 2: {n_salt}")
    if "__salt" in left.columns or "__salt" in right.columns:
        raise ValueError("__salt column collides; rename it first")
    missing = [c for c in on if c not in left.columns
               or c not in right.columns]
    if missing:
        raise ValueError(f"salted_join: key columns missing: {missing}")
    l = left.withColumn(
        "__salt",
        F.pmod(md5_hash60(F.col(salt_col).cast("string")),
               F.lit(n_salt)).cast("int"))
    # generators can't nest inside a cast — explode the int array directly
    r = right.withColumn(
        "__salt", F.explode(F.lit(list(range(n_salt)))))
    return l.join(r, [*on, "__salt"], how).drop("__salt")


# pricing-summary cutoff: inside the synthetic shipdate domain so the
# filter actually prunes rows at every sf (Q1's DATE '1998-12-01' - 90d)
_PRICING_CUTOFF = "2001-06-30 00:00:00"


def pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1 shape: the full-scan pricing report per (returnflag,
    linestatus) for lines shipped on or before the cutoff.

    All money aggregates are EXACT integers (the _revenue_micro
    convention): base price in cents, disc_price in micro-units
    (cents × pct), charge in 1e-4-cent units (cents × pct × (100+tax%)) —
    corpus-sized float sums would drift past the oracle's 6dp window,
    integers cannot. Averages are NOT emitted; the exact (sum, count)
    pairs are, and any consumer divides — emitting a float quotient of two
    corpus-sized numbers would reintroduce the boundary problem.

    One scan, one two-phase hash aggregate over a bounded key domain
    (|flags| × |statuses|); the cutoff predicate pushes down to the scan.
    Charge headroom: ~1e11/row → BIGINT holds ~9e7 rows/group; beyond
    that cast the term to decimal(38,0) (the _revenue_micro escape hatch).
    """
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    pct_keep = F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    pct_tax = F.lit(100) + F.round(F.col("l_tax") * 100).cast("long")
    return (lineitem
            .where(F.col("l_shipdate")
                   <= F.lit(_PRICING_CUTOFF).cast("timestamp_ntz"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
                 F.sum(cents).alias("sum_base_cents"),
                 F.sum(cents * pct_keep).alias("sum_disc_u"),
                 F.sum(cents * pct_keep * pct_tax).alias("sum_charge_u"),
                 F.sum(F.round(F.col("l_discount") * 100).cast("long"))
                  .alias("sum_disc_pct"),
                 F.count(F.lit(1)).alias("n_lines")))


# chosen non-vacuous in BOTH directions at sf0.001 AND sf0.01
_Q7_NATIONS = ("NATION_18", "NATION_19")


def nation_trade_volume(customer: DataFrame, orders: DataFrame,
                        lineitem: DataFrame, supplier: DataFrame,
                        nation: DataFrame) -> DataFrame:
    """Bilateral trade volume between two nations by ship year (TPC-H Q7
    shape): revenue of lines whose supplier sits in one of the pair and
    whose customer sits in the OTHER, both directions reported. Exact
    BIGINT micro-unit revenue (_revenue_micro). Broadcasts only the
    ≤25-row nation slice; the cross-nation residual is the
    ``supp_nation <> cust_nation`` filter over rows already restricted to
    the pair on BOTH legs — each leg prunes at its own dim join, so the
    intermediate never widens beyond pair-member rows."""
    nat = (nation.where(F.col("n_name").isin(*_Q7_NATIONS))
                 .select("n_nationkey", "n_name"))
    supp = (supplier.join(F.broadcast(nat),
                          supplier.s_nationkey == nat.n_nationkey)
                    .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    cust = (customer.join(F.broadcast(nat),
                          customer.c_nationkey == nat.n_nationkey)
                    .select("c_custkey", F.col("n_name").alias("cust_nation")))
    ords = (orders.join(cust, orders.o_custkey == cust.c_custkey)
                  .select("o_orderkey", "cust_nation"))
    lines = lineitem.select("l_orderkey", "l_suppkey",
                            F.year("l_shipdate").alias("ship_year"),
                            _revenue_micro().alias("rev_u"))
    j = (lines.join(ords, lines.l_orderkey == ords.o_orderkey)
              .join(supp, lines.l_suppkey == supp.s_suppkey)
              .where(F.col("supp_nation") != F.col("cust_nation")))
    return (j.groupBy("supp_nation", "cust_nation", "ship_year")
             .agg(F.sum("rev_u").alias("revenue_u"),
                  F.count(F.lit(1)).alias("n_lines")))


_Q8_NATION = "NATION_3"


def market_share(region: DataFrame, nation: DataFrame, customer: DataFrame,
                 orders: DataFrame, lineitem: DataFrame, supplier: DataFrame,
                 part: DataFrame) -> DataFrame:
    """Market share (TPC-H Q8 shape): within one region's market for one
    part type, the share of revenue supplied by the target nation, per
    order year. ``mkt_share_ppm = target_u * 1e6 div total_u`` —
    truncating integer division on the exact micro-unit sums (the drift
    rule; no float ratio reaches the hash). The ``target_u * 1e6``
    product is checked BIGINT arithmetic under ANSI: annual target
    revenue beyond ~9.2e12 micro-units raises loudly rather than
    wrapping (the association_rules contract; sum in decimal(38,0) and
    divide downstream if a corpus ever hits it)."""
    nat_r = (nation.join(F.broadcast(region.where(
                             F.col("r_name") == _REGION)),
                         nation.n_regionkey == region.r_regionkey)
                   .select("n_nationkey"))
    cust = (customer.join(F.broadcast(nat_r),
                          customer.c_nationkey == nat_r.n_nationkey)
                    .select("c_custkey"))
    ords = (orders.join(cust, orders.o_custkey == cust.c_custkey)
                  .select("o_orderkey",
                          F.year("o_orderdate").alias("order_year")))
    prt = part.where(F.col("p_type") == _PART_TYPE).select("p_partkey")
    supp = (supplier.join(F.broadcast(nation.select("n_nationkey",
                                                    "n_name")),
                          supplier.s_nationkey == F.col("n_nationkey"))
                    .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    lines = lineitem.select("l_orderkey", "l_partkey", "l_suppkey",
                            _revenue_micro().alias("rev_u"))
    j = (lines.join(prt, lines.l_partkey == prt.p_partkey)
              .join(ords, lines.l_orderkey == ords.o_orderkey)
              .join(supp, lines.l_suppkey == supp.s_suppkey))
    per_year = (j.groupBy("order_year")
                 .agg(F.sum("rev_u").alias("total_u"),
                      F.coalesce(
                          F.sum(F.when(F.col("supp_nation") == _Q8_NATION,
                                       F.col("rev_u"))),
                          F.lit(0).cast("long")).alias("target_u")))
    # nullif: an all-zero-revenue year yields a NULL share, never an ANSI
    # divide-by-zero raise (the dq_summary / drift ppm convention)
    return per_year.select(
        "order_year", "target_u", "total_u",
        F.expr("target_u * 1000000 div nullif(total_u, 0)")
         .alias("mkt_share_ppm"))


_Q10_K = 20  # the ONE cut both engines read


def returned_customer_revenue(customer: DataFrame, orders: DataFrame,
                              lineitem: DataFrame,
                              nation: DataFrame) -> DataFrame:
    """Top-k customers by returned-line revenue (TPC-H Q10 shape) — the
    "who is returning the most merchandise" report. The returnflag filter
    prunes lineitem AT THE SCAN (pushed predicate); revenue aggregates
    per customer two-phase on the shuffle; only the ≤25-row nation dim
    broadcasts; the global top-k is a TakeOrderedAndProject under the
    (revenue desc, custkey) total order — no full sort at any scale."""
    lines = (lineitem.where(F.col("l_returnflag") == "R")
                     .select("l_orderkey", _revenue_micro().alias("rev_u")))
    ords = orders.select("o_orderkey", "o_custkey")
    per_cust = (lines.join(ords, lines.l_orderkey == ords.o_orderkey)
                     .groupBy("o_custkey")
                     .agg(F.sum("rev_u").alias("revenue_u"),
                          F.count(F.lit(1)).alias("n_lines")))
    cust = customer.select("c_custkey", "c_name", "c_nationkey")
    out = (per_cust.join(cust, per_cust.o_custkey == cust.c_custkey)
                   .join(F.broadcast(nation.select("n_nationkey", "n_name")),
                         cust.c_nationkey == F.col("n_nationkey")))
    return (out.select("c_custkey", "c_name", "n_name", "revenue_u",
                       "n_lines")
               .orderBy(F.col("revenue_u").desc(), "c_custkey")
               .limit(_Q10_K))


# (brand, min_qty, max_qty, max_size) disjunction arms — ONE spec both
# engines read; each arm is a conjunctive band, the query is their OR
_Q19_ARMS: list[tuple[str, int, int, int]] = [
    ("Brand#11", 1, 11, 15),
    ("Brand#22", 10, 20, 30),
    ("Brand#33", 20, 30, 50),
]


def disjunctive_band_revenue(part: DataFrame,
                             lineitem: DataFrame) -> DataFrame:
    """Revenue under an OR-of-conjunctive-bands predicate (TPC-H Q19
    shape) — per arm AND total, one row per arm plus an __all__ row. The
    pre-join halves of the disjunction are pushed to BOTH scans before
    the partkey join: lineitem keeps rows matching ANY arm's quantity
    band, part keeps rows matching ANY arm's (brand, size) band — the
    OR-predicate-pushdown story the optimizer must get right; the exact
    arm pairing resolves after the join."""
    qty = F.col("l_quantity")
    li_any = None
    p_any = None
    arm_cols = []
    for i, (brand, lo, hi, size) in enumerate(_Q19_ARMS):
        li_arm = (qty >= lo) & (qty <= hi)
        p_arm = (F.col("p_brand") == brand) & (F.col("p_size") <= size)
        li_any = li_arm if li_any is None else (li_any | li_arm)
        p_any = p_arm if p_any is None else (p_any | p_arm)
        arm_cols.append((f"arm_{i}", li_arm & p_arm))
    lines = lineitem.where(li_any).select(
        "l_partkey", "l_quantity", _revenue_micro().alias("rev_u"))
    prt = part.where(p_any).select("p_partkey", "p_brand", "p_size")
    j = lines.join(prt, lines.l_partkey == prt.p_partkey)
    # a row satisfies at most one arm (brands disjoint), so a single
    # first-match label covers the per-arm split in one pass
    label = F.coalesce(*[F.when(c, F.lit(n)) for n, c in arm_cols])
    lab = j.select(label.alias("arm"), "rev_u").where(F.col("arm").isNotNull())
    per_arm = (lab.groupBy("arm")
                  .agg(F.sum("rev_u").alias("revenue_u"),
                       F.count(F.lit(1)).alias("n_lines")))
    total = (lab.agg(F.coalesce(F.sum("rev_u"), F.lit(0).cast("long"))
                      .alias("revenue_u"),
                     F.count(F.lit(1)).alias("n_lines"))
                .select(F.lit("__all__").alias("arm"), "revenue_u",
                        "n_lines"))
    return per_arm.unionByName(total)


def _band_revenue_oracle_sql() -> str:
    """DuckDB mirror generated from the SAME arm spec: identical
    first-match labeling, identical micro-unit arithmetic."""
    label = " ".join(
        f"WHEN l_quantity >= {lo} AND l_quantity <= {hi} "
        f"AND p_brand = '{brand}' AND p_size <= {size} THEN 'arm_{i}'"
        for i, (brand, lo, hi, size) in enumerate(_Q19_ARMS))
    return f"""
WITH bd_lab AS (
  SELECT CASE {label} END AS arm,
         CAST(round(l_extendedprice * 100) AS BIGINT)
         * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_u
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
bd_m AS (SELECT arm, rev_u FROM bd_lab WHERE arm IS NOT NULL)
SELECT arm, CAST(sum(rev_u) AS BIGINT) AS revenue_u,
       count(*) AS n_lines
FROM bd_m GROUP BY arm
UNION ALL
SELECT '__all__' AS arm,
       CAST(coalesce(sum(rev_u), 0) AS BIGINT) AS revenue_u,
       count(*) AS n_lines
FROM bd_m
"""


def q_priority_semi_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-to-large LEFT SEMI join (orders ⋉ returned lineitems) with a
    two-phase priority count — the shuffle-join regime, integer outputs."""
    return returned_order_priorities(load_table(spark, sf_dir, "orders"),
                                     load_table(spark, sf_dir, "lineitem"))


def q_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: broadcast customer filter, orderkey shuffle join,
    per-order revenue, global top-10 via TakeOrderedAndProject."""
    return ship_priority(load_table(spark, sf_dir, "customer"),
                         load_table(spark, sf_dir, "orders"),
                         load_table(spark, sf_dir, "lineitem"))


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-table mixed-regime join — bounded dims broadcast,
    natural-key shuffle joins everywhere else, exact BIGINT revenue."""
    return local_supplier_volume(load_table(spark, sf_dir, "region"),
                                 load_table(spark, sf_dir, "nation"),
                                 load_table(spark, sf_dir, "customer"),
                                 load_table(spark, sf_dir, "supplier"),
                                 load_table(spark, sf_dir, "orders"),
                                 load_table(spark, sf_dir, "lineitem"))


def q_brand_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mid-sized-dimension join (lineitem ⋈ part) with the dim filter pushed
    below the join; per-brand quantity/revenue in exact integer units."""
    return brand_volume(load_table(spark, sf_dir, "part"),
                        load_table(spark, sf_dir, "lineitem"))


def queries():
    return {
        "priority_semi_counts": q_priority_semi_counts,
        "ship_priority": q_ship_priority,
        "local_supplier_volume": q_local_supplier_volume,
        "brand_volume": q_brand_volume,
        "small_qty_revenue": lambda s, d: small_quantity_revenue(
            load_table(s, d, "part"), load_table(s, d, "lineitem")),
        "pricing_summary": lambda s, d: pricing_summary(
            load_table(s, d, "lineitem")),
        "important_parts": lambda s, d: important_parts(
            load_table(s, d, "lineitem")),
        "promo_share": lambda s, d: promo_revenue_share(
            load_table(s, d, "part"), load_table(s, d, "lineitem")),
        "waiting_suppliers": lambda s, d: waiting_suppliers(
            load_table(s, d, "supplier"), load_table(s, d, "nation"),
            load_table(s, d, "orders"), load_table(s, d, "lineitem")),
        "idle_rich_customers": lambda s, d: idle_rich_customers(
            load_table(s, d, "customer"), load_table(s, d, "orders"),
            load_table(s, d, "nation")),
        "nation_trade_volume": lambda s, d: nation_trade_volume(
            load_table(s, d, "customer"), load_table(s, d, "orders"),
            load_table(s, d, "lineitem"), load_table(s, d, "supplier"),
            load_table(s, d, "nation")),
        "market_share": lambda s, d: market_share(
            load_table(s, d, "region"), load_table(s, d, "nation"),
            load_table(s, d, "customer"),
            load_table(s, d, "orders"), load_table(s, d, "lineitem"),
            load_table(s, d, "supplier"), load_table(s, d, "part")),
        "returned_customer_revenue": lambda s, d: returned_customer_revenue(
            load_table(s, d, "customer"), load_table(s, d, "orders"),
            load_table(s, d, "lineitem"), load_table(s, d, "nation")),
        "band_revenue": lambda s, d: disjunctive_band_revenue(
            load_table(s, d, "part"), load_table(s, d, "lineitem")),
        "top_supplier_revenue": lambda s, d: top_supplier_revenue(
            load_table(s, d, "supplier"), load_table(s, d, "lineitem")),
        "customer_order_histogram": lambda s, d: customer_order_histogram(
            load_table(s, d, "customer"), load_table(s, d, "orders")),
        "large_volume_customers": lambda s, d: large_volume_customers(
            load_table(s, d, "customer"), load_table(s, d, "orders"),
            load_table(s, d, "lineitem")),
    }


def oracles() -> dict[str, str]:
    return {
        "priority_semi_counts": """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
""",
        "ship_priority": f"""
SELECT l.l_orderkey AS o_orderkey, o.o_orderdate, o.o_orderpriority,
       sum(l.l_extendedprice * (1.0 - l.l_discount)) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = '{_SEGMENT}'
  AND l.l_shipdate > TIMESTAMP '{_CUTOFF} 00:00:00'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""",
        # CAST(sum AS BIGINT): DuckDB types sum(BIGINT) as HUGEINT while
        # Spark returns BIGINT (same convention as the window aggs).
        "local_supplier_volume": f"""
SELECT n_name,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT)))
            AS BIGINT) AS revenue_u,
       count(*) AS n_lines
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = '{_REGION}'
GROUP BY n_name
""",
        "brand_volume": f"""
SELECT p_brand,
       count(*) AS n_lines,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT)))
            AS BIGINT) AS revenue_u
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_type = '{_PART_TYPE}'
GROUP BY p_brand
""",
        # Q17 shape: the correlated avg decorrelates into a per-partkey
        # aggregate; 0.2*avg as integer cross-multiplication (5*qty*cnt <
        # sum_qty) — quantities are integral (test_relational pins it).
        "small_qty_revenue": f"""
WITH branded AS (
  SELECT p_partkey, p_brand, CAST(l_quantity AS BIGINT) AS qty,
         CAST(round(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_u
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = '{_Q17_BRAND}'
),
pstats AS (
  SELECT p_partkey, CAST(sum(qty) AS BIGINT) AS sum_qty,
         count(*) AS cnt
  FROM branded GROUP BY p_partkey
)
SELECT p_brand, count(*) AS n_small_lines,
       CAST(sum(rev_u) AS BIGINT) AS small_revenue_u
FROM branded b JOIN pstats s USING (p_partkey)
WHERE 5 * b.qty * s.cnt < s.sum_qty
GROUP BY p_brand
""",
        # Q14 shape: conditional promo share per ship month — the exact
        # BIGINT micro-unit PAIR (the share is the caller's division; a
        # ppm cross-multiply overflows at scale — see the operator
        # docstring); month CAST to TIMESTAMP (the DuckDB date_trunc rule)
        "promo_share": f"""
SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS month,
       CAST(sum(CASE WHEN p_type = '{_PART_TYPE}'
                     THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                          * (100 - CAST(round(l_discount * 100) AS BIGINT))
                     ELSE 0 END) AS BIGINT) AS promo_revenue_u,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT)))
            AS BIGINT) AS total_revenue_u
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate IS NOT NULL
GROUP BY 1
""",
        # Q11 shape: the group-vs-global-scalar HAVING, strict >, the
        # same truncating (tot * num) // den threshold (num kept small —
        # the rev*den mirror would overflow at 100-TB totals)
        "important_parts": f"""
WITH q11_per AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(round(l_discount * 100) AS BIGINT)))
              AS BIGINT) AS revenue_u
  FROM lineitem GROUP BY 1
),
q11_tot AS (SELECT CAST(sum(revenue_u) AS BIGINT) AS tot FROM q11_per)
SELECT l_partkey, revenue_u
FROM q11_per, q11_tot
WHERE revenue_u > (tot * {_Q11_FRACTION[0]}) // {_Q11_FRACTION[1]}
""",
        # Q1 shape: every money aggregate in exact integer units (cents /
        # cents×pct / cents×pct×taxpct) — sums are order-independent, so
        # no 6dp float window is involved; averages intentionally absent
        # (exact sum+count pairs instead)
        "pricing_summary": f"""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS sum_base_cents,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT)))
            AS BIGINT) AS sum_disc_u,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT))
                * (100 + CAST(round(l_tax * 100) AS BIGINT)))
            AS BIGINT) AS sum_charge_u,
       CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
           AS sum_disc_pct,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{_PRICING_CUTOFF}'
GROUP BY l_returnflag, l_linestatus
""",
        # Q21 shape: EXISTS/NOT-EXISTS decorrelated into the same
        # per-(order, supplier) aggregate + per-order window counts the
        # Spark plan runs — identical late rule (INTERVAL arithmetic).
        "waiting_suppliers": f"""
WITH per_supp AS (
  SELECT l_orderkey AS o_orderkey, l_suppkey,
         max(CASE WHEN l_shipdate > o_orderdate
                       + INTERVAL {_Q21_LATE_DAYS} DAY
                  THEN 1 ELSE 0 END) AS any_late
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY 1, 2
),
flagged AS (
  SELECT *,
         count(*) OVER (PARTITION BY o_orderkey) AS n_supp,
         CAST(sum(any_late) OVER (PARTITION BY o_orderkey) AS BIGINT)
             AS n_late
  FROM per_supp
)
SELECT s_name, n_name, count(*) AS numwait
FROM flagged
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE any_late = 1 AND n_supp > 1 AND n_late = 1
GROUP BY s_name, n_name
""",
        # Q22 shape: scalar positive-balance average as a 1-row cross
        # join; above-average via integer cents cross-multiplication;
        # NOT EXISTS anti-join on custkey.
        "idle_rich_customers": f"""
WITH cust AS (
  SELECT c_custkey, c_nationkey,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM customer
),
gavg AS (
  SELECT CAST(sum(bal_cents) AS BIGINT) AS sum_pos, count(*) AS n_pos
  FROM cust WHERE bal_cents > 0
)
SELECT n_name, count(*) AS n_cust,
       CAST(sum(bal_cents) AS BIGINT) AS sum_bal_cents
FROM cust
CROSS JOIN gavg
JOIN nation ON c_nationkey = n_nationkey
WHERE bal_cents * n_pos > sum_pos
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '{_Q22_DORMANT_SINCE}')
GROUP BY n_name
""",
        # Q7 shape; CAST(year() AS INT) — DuckDB year() is BIGINT, Spark
        # F.year is INT
        "nation_trade_volume": f"""
SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS ship_year,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT)))
            AS BIGINT) AS revenue_u,
       count(*) AS n_lines
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
WHERE ns.n_name IN ('{_Q7_NATIONS[0]}', '{_Q7_NATIONS[1]}')
  AND nc.n_name IN ('{_Q7_NATIONS[0]}', '{_Q7_NATIONS[1]}')
  AND ns.n_name <> nc.n_name
GROUP BY 1, 2, 3
""",
        # Q8 shape: HUGEINT sums CAST back; the share is the same
        # truncating // on the BIGINT-cast sums as Spark's div
        "market_share": f"""
WITH ms_rev AS (
  SELECT CAST(year(o_orderdate) AS INT) AS order_year,
         CAST(round(l_extendedprice * 100) AS BIGINT)
         * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_u,
         ns.n_name AS supp_nation
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation nc ON c_nationkey = nc.n_nationkey
  JOIN region   ON nc.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ns ON s_nationkey = ns.n_nationkey
  WHERE r_name = '{_REGION}' AND p_type = '{_PART_TYPE}'
),
ms_year AS (
  SELECT order_year,
         CAST(sum(rev_u) AS BIGINT) AS total_u,
         CAST(coalesce(sum(CASE WHEN supp_nation = '{_Q8_NATION}'
                                THEN rev_u END), 0) AS BIGINT) AS target_u
  FROM ms_rev GROUP BY order_year
)
SELECT order_year, target_u, total_u,
       CAST(target_u * 1000000 // nullif(total_u, 0) AS BIGINT)
           AS mkt_share_ppm
FROM ms_year
""",
        "returned_customer_revenue": f"""
SELECT c_custkey, c_name, n_name,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT)))
            AS BIGINT) AS revenue_u,
       count(*) AS n_lines
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY 1, 2, 3
ORDER BY revenue_u DESC, c_custkey
LIMIT {_Q10_K}
""",
        "band_revenue": _band_revenue_oracle_sql(),
        "top_supplier_revenue": f"""
WITH rev AS (
  SELECT l_suppkey,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(round(l_discount * 100) AS BIGINT)))
              AS BIGINT) AS total_revenue_u
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{_Q15_START}'
    AND l_shipdate <  TIMESTAMP '{_Q15_END}'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue_u
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE total_revenue_u = (SELECT max(total_revenue_u) FROM rev)
""",
        "customer_order_histogram": """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c.c_custkey,
         CAST(coalesce(o.n, 0) AS BIGINT) AS c_count
  FROM customer c
  LEFT JOIN (SELECT o_custkey, count(*) AS n
             FROM orders GROUP BY o_custkey) o
    ON o.o_custkey = c.c_custkey
) GROUP BY c_count
""",
        "large_volume_customers": f"""
SELECT o_custkey AS c_custkey, o_orderkey, o_orderdate,
       CAST(q.total_qty AS BIGINT) AS total_qty
FROM orders
JOIN (SELECT l_orderkey,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS BIGINT)) > {_Q18_MIN_QTY}) q
  ON q.l_orderkey = o_orderkey
JOIN customer ON c_custkey = o_custkey
""",
    }
