"""Physical-plan contracts: the plans we designed for are the plans Catalyst
picks (SURVEY.md §4.2, §5.2.5)."""

from __future__ import annotations

from pyspark.sql import functions as F

from logstash_filter_geoip_spark.pipeline import enriched_transcripts, flagship
from logstash_filter_geoip_spark.plans import checks


def test_enrich_is_broadcast_hash_join(spark):
    e = enriched_transcripts(spark, "/root/testdata/sf0.001")
    checks.assert_broadcast_hash_join(e)
    checks.assert_no_cartesian(e)


def test_flagship_no_nested_loop(spark):
    f = flagship(spark, "/root/testdata/sf0.001")
    checks.assert_broadcast_hash_join(f)


def test_scan_prunes_columns(spark):
    # a projection that needs only 3 events columns must not read props/value
    from logstash_filter_geoip_spark.sources.transcripts import load_transcripts
    t = load_transcripts(spark, "/root/testdata/sf0.001")
    slim = t.select("conv_id", "turn_idx", "ts")
    checks.assert_columns_pruned(slim, ["props", "value", "event_type"])


def test_filter_pushdown_reaches_scan(spark):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    q = events.where(F.col("event_id") < 100).select("event_id")
    plan = checks.physical_plan(q)
    assert "PushedFilters" in plan and "LessThan(event_id,100)" in plan


def test_sink_readback_partition_pruning(spark, tmp_path):
    """§4.3 partition pruning: reading one role's sink back scans only that
    partition directory (PartitionFilters on the scan)."""
    from logstash_filter_geoip_spark.operators.route import route, read_sink
    e = enriched_transcripts(spark, "/root/testdata/sf0.001").drop("geoip")
    base = str(tmp_path / "pruned")
    route(e, base)
    back = read_sink(spark, base).where(F.col("role") == "user")
    plan = checks.physical_plan(back)
    assert "PartitionFilters" in plan and "role" in plan
    # count matches exactly one routed partition
    assert back.count() == 250


def test_whole_stage_codegen_covers_enrich(spark):
    # AQE stamps codegen stage ids (*(n) markers) on the final executed plan;
    # the join + struct-build must sit inside one codegen span
    e = enriched_transcripts(spark, "/root/testdata/sf0.001")
    plan = checks.executed_plan(e)
    assert "isFinalPlan=true" in plan
    assert "*(" in plan, plan[:2000]
    # the enrich join itself is codegen'd (starred), not interpreted
    assert any("BroadcastHashJoin" in ln and "*(" in ln
               for ln in plan.splitlines()), plan[:2000]


def test_unified_enrich_has_two_broadcast_legs(spark):
    """The unified v4+v6 enrich must plan as exactly TWO BroadcastHashJoins
    (one per family), never a nested-loop join. The v6 leg's equi-key is the
    LPM row position in the default `index` mode (r5 session 11: binary
    search inside the Arrow barrier, 9.1× at dense-dim density) and the
    hi-word /16 bucket + range residual in `bucket` mode (the event-time
    path) — both satisfy this same shape (see test_v6_lookup_modes)."""
    import re
    e = enriched_transcripts(spark, "/root/testdata/sf0.001")
    plan = checks.physical_plan(e)
    # formatted explain lists each node twice (tree + detail) — count the
    # numbered detail headers
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 2, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # exactly ONE Arrow node — the ipv6_key_lpm_udf materialization barrier
    # (r5: the pure-Column v6 parser was re-inlined per reference by
    # projection collapse, 30× the CPU; the single ArrowEvalPython computes
    # the (hi, lo) key once). Never row-at-a-time Python.
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1, plan[:3000]
    assert "BatchEvalPython" not in plan, (
        "row-at-a-time Python UDF leaked into the enrich plan")


def test_ann_ivf_probe_join_broadcasts(spark):
    """VERDICT r3 #6: the IVF probe-side join must be a BroadcastHashJoin
    (probes are bounded: max_queries × nprobe rows) — a stats regression
    silently flipping it to a SortMergeJoin would shuffle the full assigned
    table at any N. Pinned via F.broadcast(probes) in ivf_topk; asserted
    here so the pin can't be dropped."""
    from logstash_filter_geoip_spark.operators import similarity
    plan = checks.physical_plan(
        similarity.queries()["ann_ivf"](spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_v4_only_enrich_skips_v6_machinery(spark):
    """VERDICT r4 wrong #3: when the source is provably ':'-free (ip_str —
    the IPv4-only regex) and no v6 dim is attached, the v6 parse/mapped-key
    expressions must not appear in the plan (dead expressions widen the
    codegen span); the unified default keeps them."""
    import __spark_entry__ as m
    v4_plan = checks.physical_plan(
        m.q_enrich_country_v4(spark, "/root/testdata/sf0.001"))
    # no v6 key derivation at all: neither the Arrow key UDF nor the
    # mapped-key expressions appear in the v4-only plan
    assert "ArrowEvalPython" not in v4_plan
    assert "ipv6_key_lpm" not in v4_plan
    assert "BroadcastHashJoin" in v4_plan
    unified_plan = checks.physical_plan(
        m.q_enrich_city(spark, "/root/testdata/sf0.001"))
    assert "ArrowEvalPython" in unified_plan


def test_dedup_no_datasized_broadcast(spark):
    """VERDICT r4 #1 (the round's one scale-killer): the dedup verify/prune
    path must never FORCE a broadcast of a data-sized relation. With
    auto-broadcast disabled (so only explicit hints can produce a
    BroadcastExchange), the jaccard plan's ONLY broadcast is the over-cap
    anti-join side — the tiny `df > df_cap` filter on the shingle-frequency
    aggregate — while the per-document `sizes` joins and the inverted-index
    self-join plan as shuffle joins."""
    import re

    from logstash_filter_geoip_spark.operators import dedup
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = checks.simple_plan(dedup.ngram_jaccard_pairs(docs))
        # every hinted broadcast carries the over-cap relation: the
        # LeftAnti prune on the pair-count side and the LeftSemi postings
        # selection feeding the r6 over-cap correction term (subtrees
        # appear once per reference pre-execution; exchange reuse dedups
        # at runtime) — no other broadcast joins
        bhj = [ln for ln in plan.splitlines() if "BroadcastHashJoin" in ln]
        assert bhj and all(("LeftAnti" in j) or ("LeftSemi" in j)
                           for j in bhj), bhj
        assert any("LeftAnti" in j for j in bhj), bhj
        assert len(re.findall(r"BroadcastExchange", plan)) == len(bhj), \
            plan[:4000]
        # the broadcast side is the over-cap set (df > 10000 filter present)
        assert "10000" in plan, plan[:4000]
        # verify stage in isolation: zero broadcast hints anywhere — `sizes`
        # (one row per doc) and the shingle relation go through the shuffle
        cand = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
        vplan = checks.physical_plan(
            dedup.verify_candidate_pairs(cand, dedup._shingles(docs)))
        assert "BroadcastExchange" not in vplan, vplan[:4000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_similarity_plans_are_hof_free(spark):
    """VERDICT r2 #4/#8: no higher-order functions anywhere in the
    similarity suite's plans — HOFs are CodegenFallback (an interpreted
    Project splitting the codegen span; CLAUDE.md rule). The scan cast is a
    plain element-wise Cast and the near-dup verify uses the BLAS pandas
    UDF, so the only Python nodes are the intended Arrow-batched ones.

    Exception: embedding_truncate IS a deliberate sequential HOF fold —
    bit-exact cross-engine summation order is its contract (a numpy/BLAS
    path would sum pairwise and gamble on the oracle's 6dp boundary), and
    it is a narrow projection outside every join/shuffle hot path (see its
    docstring). It is exempt here; everything else stays HOF-free."""
    from logstash_filter_geoip_spark.operators import similarity
    for name, q in similarity.queries().items():
        if name == "embedding_truncate":
            continue
        plan = checks.physical_plan(q(spark, "/root/testdata/sf0.001"))
        for hof in ("transform(", "aggregate(", "forall(", "zip_with(",
                    "exists(", "filter(lambda"):
            assert hof not in plan, (name, hof)


def test_new_aggregate_plan_shapes(spark):
    """Plan contracts for the r5 analytic aggregates: exact quantiles are
    ONE two-phase hash aggregate (one Exchange); the pivot is a single
    conditional aggregate (no per-value scans, no Expand); the rollup is
    one grouping-sets Expand over the standard enrich plan (its single
    ArrowEvalPython barrier and broadcast joins, never a BNLJ)."""
    import __spark_entry__ as em
    from tests.conftest import SF_SMOKE

    def plan(name):
        df = em.queries()[name](spark, SF_SMOKE)
        return df._jdf.queryExecution().executedPlan().toString()

    q = plan("event_quantiles")
    assert q.count("Exchange") == 1 and "EvalPython" not in q

    pv = plan("role_tool_pivot")
    assert pv.count("Expand") == 0 and "EvalPython" not in pv
    assert pv.count("Exchange") <= 2  # derive + one two-phase aggregate

    ru = plan("geo_rollup")
    assert ru.count("Expand") == 1          # ROLLUP grouping sets
    assert ru.count("ArrowEvalPython") == 1  # the enrich v6-key barrier
    assert "BatchEvalPython" not in ru
    assert "NestedLoop" not in ru and "Cartesian" not in ru


def test_funnel_plan(spark):
    """event_funnel is one data-sized Exchange (hash on user_id) feeding k
    CHAINED Window operators with no re-exchange or re-sort between steps,
    then a partial+final per-user aggregate; no joins, no Python."""
    import re

    import __spark_entry__ as em
    from tests.conftest import SF_SMOKE

    df = em.queries()["event_funnel"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") == 3
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert plan.count("Sort") == 1           # one partition-key sort only
    assert "Join" not in plan and "EvalPython" not in plan


def test_sampling_and_outlier_plans(spark):
    """Plan contracts for the r5 selection/anomaly operators:
    sample_stratified is a ZERO-exchange codegen filter directly above the
    scan (the rate table folds into a literal CASE); group_topk gets a
    Partial WindowGroupLimit BELOW its one Exchange (map-side top-k, so
    the shuffle carries O(k) rows per partition); value_outliers probes a
    broadcast stats relation (never a sort-merge join of the data side);
    rate_spikes windows over the post-aggregate bucket relation."""
    import __spark_entry__ as em
    from tests.conftest import SF_SMOKE

    def plan(name):
        df = em.queries()[name](spark, SF_SMOKE)
        return df._jdf.queryExecution().executedPlan().toString()

    s = plan("sample_stratified")
    assert s.count("Exchange") == 0 and "Join" not in s

    t = plan("group_topk")
    assert t.count("Exchange") == 1
    assert "WindowGroupLimit" in t.split("Exchange")[1]  # Partial, map-side

    o = plan("value_outliers")
    assert o.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in o and "NestedLoop" not in o

    r = plan("rate_spikes")
    # the lag window's Sort+Exchange sit ABOVE the count aggregate: the
    # shuffled relation is bucket-sized, not event-sized
    agg_pos = r.index("HashAggregate")
    assert "Window" in r[:agg_pos]
    for p in (s, t, o, r):
        assert "EvalPython" not in p


def test_relational_join_regimes(spark):
    """The relational operators must plan correctly in BOTH join regimes:
    broadcast at small scale (AQE's pick), and — with broadcast disabled,
    standing in for two data-sized relations — SortMergeJoin on the
    natural orderkey, with the explicitly-hinted bounded customer side
    STILL broadcast, and the top-k as TakeOrderedAndProject (no global
    sort)."""
    import __spark_entry__ as em
    from tests.conftest import SF_SMOKE

    qs = em.queries()

    semi = qs["priority_semi_counts"](spark, SF_SMOKE)
    p = semi._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in p and "NestedLoop" not in p

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p2 = qs["priority_semi_counts"](spark, SF_SMOKE) \
            ._jdf.queryExecution().executedPlan().toString()
        assert p2.count("SortMergeJoin") == 1 and "LeftSemi" in p2

        p3 = qs["ship_priority"](spark, SF_SMOKE) \
            ._jdf.queryExecution().executedPlan().toString()
        assert p3.count("SortMergeJoin") == 1      # orderkey leg
        assert p3.count("BroadcastHashJoin") == 1  # hinted customer leg
        assert p3.count("TakeOrderedAndProject") == 1

        # Q5 shape: the three SF-proportional joins (custkey, orderkey,
        # suppkey) all SortMerge; only the bounded region->nation subtree
        # broadcasts (it appears once per leg: customer's and supplier's).
        p4 = qs["local_supplier_volume"](spark, SF_SMOKE) \
            ._jdf.queryExecution().executedPlan().toString()
        assert p4.count("SortMergeJoin") == 3
        assert p4.count("BroadcastHashJoin") == 4
        assert "NestedLoop" not in p4
        # the "local" residual is an SMJ EQUALITY key, not a post-join
        # filter: the suppkey join hashes on (suppkey, nationkey)
        assert "cust_nationkey" in p4.split("SortMergeJoin")[1]

        # mid-sized dim: partkey shuffle join once broadcast is off
        p5 = qs["brand_volume"](spark, SF_SMOKE) \
            ._jdf.queryExecution().executedPlan().toString()
        assert p5.count("SortMergeJoin") == 1
        assert "BroadcastHashJoin" not in p5
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_rolling_counts_plan(spark):
    """Both RANGE-interval frames share one (key, ts) partitioning: a
    single Exchange + Sort + Window; the scan reads only 3 columns."""
    import __spark_entry__ as em
    from tests.conftest import SF_SMOKE

    df = em.queries()["rolling_counts"](spark, SF_SMOKE)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange") == 1 and p.count("Window") == 1
    assert "RangeFrame" in p and "EvalPython" not in p
    assert "ReadSchema: struct<event_id:bigint,ts:timestamp_ntz,user_id:bigint>" in p


def test_session9_join_regimes(spark):
    """Session-9 shuffle-join operators in the no-broadcast regime (standing
    in for 100-TB relation sizes): the substring-span flag join and the
    multi-query BM25 joins must plan as shuffle joins with NO hinted
    broadcast anywhere except their documented 1-row corpus-stats relations;
    Q17's decorrelated aggregate joins back on the same shuffle key."""
    import __spark_entry__ as em
    from tests.conftest import SF_SMOKE

    qs = em.queries()
    # ExactSubstr audit at the DEFAULT broadcast threshold: all three join
    # sides are corpus-derived (gram agg / per-doc stats), so they carry
    # merge hints — a post-aggregate size estimate under the threshold
    # otherwise broadcast the gram relation and OOMed the driver at 1M
    # docs (r5 session 10). Zero broadcasts in ANY regime.
    p0 = qs["dedup_substring_spans"](spark, SF_SMOKE) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in p0, p0[:3000]
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # ExactSubstr audit: gram-hash agg joins back via shuffle, the two
        # per-doc stat joins shuffle on doc_id — zero broadcasts at all
        p = qs["dedup_substring_spans"](spark, SF_SMOKE) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in p, p[:3000]
        assert "NestedLoop" not in p

        # multi-query BM25: the ONLY broadcast is the hinted 1-row corpus
        # stats; term/doc joins are SortMerge; WindowGroupLimit prunes
        p2 = qs["bm25_multi_topk"](spark, SF_SMOKE) \
            ._jdf.queryExecution().executedPlan().toString()
        assert p2.count("BroadcastExchange") == 1, p2[:3000]
        assert p2.count("SortMergeJoin") >= 2
        assert "WindowGroupLimit" in p2
        # the keyless 1-row corpus-stats cross join is the ONLY nested
        # loop (a cross join has no hash key; 1-row build side = O(N))
        assert p2.count("BroadcastNestedLoopJoin") == 1
        assert "CartesianProduct" not in p2

        # Q17: ONE branded SMJ; the per-part stats are a Window riding the
        # join's partkey partitioning (no second lineitem scan, no
        # aggregate joined back)
        p3 = qs["small_qty_revenue"](spark, SF_SMOKE) \
            ._jdf.queryExecution().executedPlan().toString()
        assert p3.count("SortMergeJoin") == 1, p3[:3000]
        assert p3.count("Window") == 1
        assert p3.count("FileScan parquet") == 2  # lineitem + part, once each
        assert "BroadcastExchange" not in p3
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
