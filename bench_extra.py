"""Per-component profiling harness (guide §1: measure first; §1.4 noop
isolation; §1.5 labeled jobs). NOT the graded bench — bench.py stays frozen.

Decomposes every bench.py suite into individually timed components so
optimization work is attributable to one operator, not a 15-query suite.
Mirrors bench.py's setup exactly (same replicated transcripts parquet, same
dims, same scale factor) so component sums are comparable to suite numbers.

Usage:
    python bench_extra.py [name-substring ...]
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, BENCH_SCALE, BENCH_EXTRA_PASSES.
Prints one JSON line: {"components": {name: best_sec}, "passes": N, ...}.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

from pyspark.sql import functions as F

import bench


def components(spark, sf_dir: str, scale_factor: int, workdir: str):
    """name -> zero-arg callable, one per suite component (bench.py order)."""
    from logstash_filter_geoip_spark.config import GeoIPConfig
    from logstash_filter_geoip_spark.functions.parse import parse_transcripts
    from logstash_filter_geoip_spark.operators import aggregate as agg
    from logstash_filter_geoip_spark.operators import (basket, bpe, clustering,
                                                       conversation, curation,
                                                       dedup, dq, drift,
                                                       entity, graph, hygiene,
                                                       layout, packing,
                                                       relational, retrieval,
                                                       sampling, semistructured,
                                                       sessions, similarity,
                                                       stats, temporal,
                                                       text_ops, trending, web)
    from logstash_filter_geoip_spark.operators.enrich import enrich
    from logstash_filter_geoip_spark.operators.route import route
    from logstash_filter_geoip_spark.sources.geolite2 import (load_dim,
                                                              vendored_dims)
    from logstash_filter_geoip_spark.sources.transcripts import load_transcripts
    from logstash_filter_geoip_spark.streaming.pipeline import attribution_join

    cfg = GeoIPConfig(source="ip_any", target="geoip", database="City",
                      ecs_compatibility=True)
    dim = spark.read.parquet(f"{workdir}/dim")
    dim_v6 = vendored_dims(spark, "City")[1]

    def transcripts():
        return spark.read.parquet(f"{workdir}/transcripts")

    def docs():
        return spark.read.parquet(f"{sf_dir}/documents.parquet")

    def ev():
        return spark.read.parquet(f"{sf_dir}/events.parquet")

    def emb():
        return spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def rd(t):
        return spark.read.parquet(f"{sf_dir}/{t}.parquet")

    C = {}

    def add(name, fn):
        C[name] = fn

    # ----- headline -----
    add("headline.parse_enrich_agg", lambda: agg.turns_per_geo_window(
        enrich(parse_transcripts(transcripts()), dim, cfg, dim_v6=dim_v6),
        "geoip.geo.country_iso_code").collect())
    add("headline.parse_only", lambda: parse_transcripts(transcripts())
        .write.format("noop").mode("overwrite").save())
    add("headline.enrich_noop", lambda: enrich(
        parse_transcripts(transcripts()), dim, cfg, dim_v6=dim_v6)
        .write.format("noop").mode("overwrite").save())

    def _route():
        out = tempfile.mkdtemp(prefix="route_", dir=workdir)
        e = enrich(parse_transcripts(transcripts()), dim, cfg, dim_v6=dim_v6)
        route(e.drop("geoip"), out, resume=False)
    add("headline.enrich_route", _route)
    add("headline.failure_by_sink", lambda: agg.failure_counts_per_sink(
        enrich(parse_transcripts(transcripts()), dim, cfg, dim_v6=dim_v6))
        .collect())
    add("headline.conv_rollup_salted",
        lambda: agg.salted_conv_rollup(transcripts()).collect())
    add("headline.dedup_minhash_lsh",
        lambda: dedup.minhash_lsh_pairs(docs()).collect())
    add("headline.ann_brute_force", lambda: similarity.brute_force_topk(
        similarity._emb(spark, sf_dir)).collect())
    add("headline.text_token_counts",
        lambda: text_ops.token_counts(docs()).collect())
    add("headline.text_lang_id", lambda: text_ops.lang_id(docs()).collect())
    add("headline.text_fingerprints",
        lambda: text_ops.fingerprints(docs()).collect())

    # ----- curation suite -----
    add("curation.decontaminate", lambda: curation.decontaminate(
        docs(), docs().where(curation._BENCH_PRED_SQL)).collect())
    add("curation.repetition_stats",
        lambda: curation.repetition_stats(docs()).collect())
    add("curation.vocab_top_tokens",
        lambda: curation.vocab_top_tokens(docs()).collect())
    add("curation.pii_redact", lambda: curation.pii_redact(transcripts())
        .agg(F.sum("n_ip4"), F.sum("n_ip6")).collect())
    add("curation.line_dedup", lambda: curation.line_dedup(docs())
        .agg(F.sum("n_kept"), F.sum(F.length("text_dedup"))).collect())
    add("curation.decontaminate_fuzzy", lambda: curation.decontaminate_fuzzy(
        docs(), docs().where(curation._FUZZY_BENCH_PRED_SQL)).count())
    add("curation.url_normalize", lambda: web.url_normalize(
        web._events_urls(spark, sf_dir)).agg(
        F.count("url_norm"), F.countDistinct("registered_domain")).collect())

    # ----- prep suite -----
    add("prep.pack_sequences",
        lambda: packing.pack_sequences(docs()).collect())
    add("prep.mix_corpus",
        lambda: packing.mix_corpus(docs(), packing.MIX_RATES).count())
    add("prep.bpe_pair_counts", lambda: bpe.pair_counts(docs()).collect())
    add("prep.chunk_documents",
        lambda: packing.chunk_documents(docs()).count())
    add("prep.training_corpus", lambda: packing.training_corpus(
        docs(), docs().where(packing._CURATION_BENCH_SQL)).count())
    add("prep.quantize_embeddings", lambda: similarity.quantize_embeddings(
        emb().select("vec_id", F.col("embedding").cast("array<double>")
                     .alias("emb"))).count())

    # ----- temporal suite -----
    add("temporal.session_stats", lambda: sessions.session_stats(
        transcripts(), ["conv_id"], "ts", gap_s=1800).count())
    add("temporal.session_window_agg", lambda: sessions.session_window_agg(
        transcripts(), ["conv_id"], "ts", gap="30 minutes").count())

    def _asof():
        t = transcripts()
        snaps = (t.where(F.col("tool").isNotNull())
                  .groupBy("tool").agg(F.min("ts").alias("cfg_from"))
                  .withColumn("cfg_version", F.lit(1)))
        temporal.asof_join(t, snaps, on=["tool"], left_ts="ts",
                           right_ts="cfg_from").count()
    add("temporal.asof_join", _asof)
    add("temporal.quantile_stats", lambda: agg.quantile_stats(
        ev(), ("event_type",), "value").collect())

    # ----- analytics suite -----
    add("analytics.funnel_counts", lambda: agg.funnel_counts(
        ev(), "user_id", "event_type", ("view", "click", "purchase"))
        .collect())
    add("analytics.zscore_outliers", lambda: agg.zscore_outliers(
        ev(), ("event_type",), "value").count())
    add("analytics.rate_spikes",
        lambda: agg.rate_spikes(ev(), "event_type").collect())
    add("analytics.rolling_window_counts", lambda: agg.rolling_window_counts(
        ev(), "user_id").agg(F.sum("n_7d")).collect())
    add("analytics.sample_stratified", lambda: sampling.sample_stratified(
        docs(), "lang", "doc_id", {"en": 0.5, "de": 0.25}, 0.1).count())
    add("analytics.group_topk", lambda: sampling.group_topk(
        docs(), ["lang", "source"], "n_chars", 3, "doc_id").collect())
    add("analytics.attribution_join",
        lambda: attribution_join(transcripts()).count())
    add("analytics.returned_order_priorities",
        lambda: relational.returned_order_priorities(
            rd("orders"), rd("lineitem")).collect())
    add("analytics.ship_priority", lambda: relational.ship_priority(
        rd("customer"), rd("orders"), rd("lineitem")).collect())
    add("analytics.local_supplier_volume",
        lambda: relational.local_supplier_volume(
            rd("region"), rd("nation"), rd("customer"), rd("supplier"),
            rd("orders"), rd("lineitem")).collect())
    add("analytics.brand_volume",
        lambda: relational.brand_volume(rd("part"), rd("lineitem")).collect())

    def _dq_summary():
        checks = {n: build() for n, build, _ in dq.EVENT_CHECKS}
        dq.dq_summary(ev(), checks, unique_key="event_id").collect()
    add("analytics.dq_summary", _dq_summary)

    def _dq_quarantine():
        checks = {n: build() for n, build, _ in dq.EVENT_CHECKS}
        dq.dq_quarantine(ev(), checks).where("NOT passed").count()
    add("analytics.dq_quarantine", _dq_quarantine)
    add("analytics.waiting_suppliers", lambda: relational.waiting_suppliers(
        rd("supplier"), rd("nation"), rd("orders"), rd("lineitem")).collect())
    add("analytics.idle_rich_customers",
        lambda: relational.idle_rich_customers(
            rd("customer"), rd("orders"), rd("nation")).collect())
    add("analytics.nation_trade_volume",
        lambda: relational.nation_trade_volume(
            rd("customer"), rd("orders"), rd("lineitem"), rd("supplier"),
            rd("nation")).collect())
    add("analytics.returned_customer_revenue",
        lambda: relational.returned_customer_revenue(
            rd("customer"), rd("orders"), rd("lineitem"), rd("nation"))
        .collect())
    add("analytics.disjunctive_band_revenue",
        lambda: relational.disjunctive_band_revenue(
            rd("part"), rd("lineitem")).collect())
    add("analytics.market_share", lambda: relational.market_share(
        rd("region"), rd("nation"), rd("customer"), rd("orders"),
        rd("lineitem"), rd("supplier"), rd("part")).collect())
    add("analytics.cube_rollup", lambda: trending.cube_rollup(ev()).collect())
    add("analytics.decayed_counts",
        lambda: trending.decayed_counts(ev()).collect())
    add("analytics.trend_slopes",
        lambda: trending.trend_slopes(ev()).collect())

    # ----- retrieval suite -----
    add("retrieval.bm25_topk", lambda: retrieval.bm25_topk(
        docs(), retrieval.DRIVER_TERMS, k=25).collect())
    add("retrieval.bm25_multi_topk", lambda: retrieval.bm25_multi_topk(
        docs(), retrieval._multi_queries_df(spark),
        k=retrieval.MULTI_K).collect())
    add("retrieval.substring_span_stats", lambda: dedup.substring_span_stats(
        docs(), width=dedup.SPAN_W_DRIVER).agg(
        F.sum("n_removed_tokens")).collect())
    add("retrieval.gopher_rules", lambda: text_ops.gopher_rules(docs())
        .agg(F.sum("keep_gopher")).collect())
    add("retrieval.global_shuffle", lambda: packing.global_shuffle(docs())
        .agg(F.max("pos")).collect())
    add("retrieval.small_quantity_revenue",
        lambda: relational.small_quantity_revenue(
            rd("part"), rd("lineitem")).collect())
    add("retrieval.tfidf_top_terms", lambda: retrieval.tfidf_top_terms(docs())
        .agg(F.sum("score")).collect())

    # ----- dimension suite -----
    def _snap(pred):
        return (ev().where(pred).groupBy("user_id")
                .agg(F.count(F.lit(1)).alias("n_events"),
                     F.min("event_type").alias("first_type")))

    _cut = F.lit("2024-01-16 00:00:00").cast("timestamp")

    def _scd2():
        cur = (_snap(F.col("ts") < _cut)
               .withColumn("valid_from",
                           F.lit("2024-01-01 00:00:00").cast("timestamp"))
               .withColumn("valid_to", F.lit(None).cast("timestamp")))
        temporal.scd2_merge(cur, _snap(F.col("ts") >= _cut), ["user_id"],
                            ["n_events", "first_type"],
                            "2024-01-16 00:00:00").count()
    add("dimension.scd2_merge", _scd2)
    add("dimension.resample_fill", lambda: temporal.resample_fill(
        ev(), ["user_id"], "ts", "event_type").agg(
        F.sum("n_events")).collect())
    add("dimension.profile_columns",
        lambda: dq.profile_columns(ev()).collect())
    add("dimension.zorder_key", lambda: ev().select(layout.zorder_key(
        F.pmod(F.col("user_id"), F.lit(65536)),
        F.datediff(F.col("ts").cast("date"),
                   F.lit("2024-01-01").cast("date"))).alias("z"))
        .agg(F.max("z")).collect())
    add("dimension.resolve_entities", lambda: entity.resolve_entities(
        rd("part"), "p_name").count())
    add("dimension.bucketed_join",
        lambda: layout.q_bucketed_join_counts(spark, sf_dir).collect())

    # ----- audit suite -----
    add("audit.table_checksum", lambda: dq.table_checksum(
        ev(), ["event_id", "user_id", "event_type", "props"]).collect())
    add("audit.key_skew_stats",
        lambda: dq.key_skew_stats(ev(), ["user_id"], top_k=10).collect())
    add("audit.distinct_sketch_rollup", lambda: agg.distinct_sketch_rollup(
        ev().withColumn("day", F.date_trunc("day", F.col("ts"))),
        ("event_type",), "user_id", "day").collect())
    add("audit.pagerank", lambda: graph.pagerank(
        graph.domain_edges(spark, sf_dir)).collect())
    add("audit.cms", lambda: agg.cms_estimate(
        agg.cms_build(ev(), "user_id"),
        ev().where(F.col("user_id") < 25)
        .select(F.col("user_id").alias("key")).distinct()).collect())
    add("audit.snapshot_diff", lambda: dq.snapshot_diff(
        _snap(F.col("ts") < _cut), _snap(F.col("ts") >= _cut),
        keys=["user_id"], attrs=["n_events", "first_type"]).count())
    add("audit.latest_by_key", lambda: temporal.latest_by_key(
        ev(), ["user_id"], "ts", tie_break=("event_id",)).agg(
        F.sum("value")).collect())
    add("audit.value_histogram", lambda: agg.value_histogram(
        ev(), ("event_type",), "value", lo=0.0, hi=100.0,
        n_buckets=20).collect())
    add("audit.equidepth_histogram", lambda: agg.equidepth_histogram(
        ev(), ("event_type",), "value", n_buckets=8).collect())
    add("audit.iqr_outliers", lambda: agg.iqr_outliers(
        ev(), ("event_type",), "value", k=1.5).agg(F.sum("value")).collect())

    def _salted():
        e = ev()
        dimj = e.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("type_total"))
        relational.salted_join(e, dimj, ["event_type"], salt_col="event_id",
                               n_salt=16).agg(F.sum("type_total")).collect()
    add("audit.salted_join", _salted)
    add("audit.log_template_counts", lambda: semistructured
        .log_template_counts(transcripts(), "text")
        .agg(F.sum("n_events")).collect())
    add("audit.normalize_text", lambda: text_ops.normalize_text(docs())
        .agg(F.sum(F.length("norm_text")), F.sum("changed")).collect())
    add("audit.truncate_embeddings", lambda: similarity.truncate_embeddings(
        emb(), k=16).agg(F.sum(F.get("tvec", F.lit(0)))).collect())

    # ----- stats suite -----
    def _t_len():
        return transcripts().withColumn("text_len", F.length("text"))
    add("stats.qsketch", lambda: agg.qsketch_quantiles(
        agg.qsketch_build(_t_len(), ("role",), "text_len"),
        ("role",)).collect())
    add("stats.bootstrap_ci", lambda: stats.bootstrap_ci(
        _t_len().withColumn("rid", F.concat_ws(
            ":", "conv_id", F.col("turn_idx").cast("string"))),
        ("role",), "text_len", "rid", n_replicates=50).collect())
    add("stats.transition_counts", lambda: conversation.transition_counts(
        _t_len()).agg(F.sum("n_transitions")).collect())
    add("stats.l_diversity", lambda: dq.l_diversity(
        ev().withColumn("day", F.date_trunc("day", F.col("ts"))),
        ["event_type", "day"], "user_id", 54).collect())
    add("stats.vocab_growth", lambda: curation.vocab_growth(docs()).collect())
    add("stats.collocations", lambda: text_ops.collocations(
        docs(), k=30, min_count=5).collect())

    # ----- qa suite -----
    _split = "2024-01-16 00:00:00"
    add("qa.categorical_drift", lambda: drift.categorical_drift(
        ev(), "event_type", "ts", _split).agg(
        F.sum("drifted"), F.sum("ppm_curr")).collect())
    add("qa.value_drift_summary", lambda: drift.drift_summary(
        drift.value_drift(ev(), "value", "ts", _split, 0.0, 100.0, 20))
        .collect())
    add("qa.rolling_drift", lambda: drift.rolling_drift(
        ev(), "event_type", "ts", "day").agg(
        F.sum("drifted"), F.sum("share_ppm")).collect())
    add("qa.chat_format_checks", lambda: conversation.chat_format_checks(
        transcripts()).agg(F.sum("valid"), F.sum("n_repeat_speaker"))
        .collect())
    add("qa.canned_share", lambda: conversation.canned_share(transcripts())
        .agg(F.sum("canned_ppm"), F.sum("n_canned")).collect())

    # ----- mining suite -----
    add("mining.part_triangles", lambda: graph.q_part_triangles(
        spark, sf_dir).agg(F.sum("n_tri")).collect())
    add("mining.part_core", lambda: graph.q_part_core(spark, sf_dir)
        .agg(F.sum("degree")).collect())
    add("mining.part_communities", lambda: graph.q_part_communities(
        spark, sf_dir).agg(F.count_distinct("label")).collect())
    add("mining.basket_rules",
        lambda: basket.q_basket_rules(spark, sf_dir).collect())
    add("mining.hybrid_topk",
        lambda: retrieval.q_hybrid_topk(spark, sf_dir).collect())
    add("mining.fk_audit", lambda: dq.q_fk_audit(spark, sf_dir).collect())
    add("mining.pk_audit", lambda: dq.q_pk_audit(spark, sf_dir).collect())

    # ----- ml suite -----
    add("ml.kmeans_summary",
        lambda: clustering.kmeans_summary(emb()).collect())
    add("ml.mixture_sample", lambda: sampling.q_mixture_sample(spark, sf_dir)
        .agg(F.sum("sample_rank"), F.count(F.lit(1))).collect())
    add("ml.containment_pairs", lambda: dedup.containment_pairs(docs())
        .agg(F.sum("n_shared"), F.count(F.lit(1))).collect())

    def _pq():
        books = clustering.pq_train(emb())
        clustering.pq_encode(emb(), books).agg(
            *[F.sum(f"code_{s}") for s in range(clustering.PQ_M)]).collect()
        clustering.pq_adc_topk(emb(), books).count()
    add("ml.pq_train_encode_topk", _pq)

    def _pq_train_only():
        clustering.pq_train(emb())
    add("ml.pq_train_only", _pq_train_only)

    # ----- hygiene suite -----
    add("hygiene.retry_collapse", lambda: hygiene.retry_collapse(
        load_transcripts(spark, sf_dir)).agg(
        F.count(F.lit(1)), F.sum("ext_len")).collect())
    add("hygiene.prompt_forks", lambda: hygiene.prompt_forks(
        load_transcripts(spark, sf_dir)).agg(
        F.count(F.lit(1)), F.sum("n_replies")).collect())
    add("hygiene.seasonal_anomalies", lambda: hygiene.seasonal_anomalies(
        ev()).agg(F.count(F.lit(1)), F.sum("n_events")).collect())
    add("hygiene.erasure_audit", lambda: hygiene.erasure_audit(ev()).collect())
    add("hygiene.curriculum_order", lambda: packing.curriculum_order(docs())
        .agg(F.sum("global_pos"), F.count(F.lit(1))).collect())
    add("hygiene.contrastive_triplets",
        lambda: clustering.contrastive_triplets(emb()).agg(
            F.count(F.lit(1)), F.sum("neg_dist2")).collect())

    # ----- enrich variants -----
    # the bucket v6 leg runs only for versioned dims: one-snapshot histories
    # of the same dims put it on the clock
    hist = temporal.dim_history([("2000-01-01", dim)])
    hist_v6 = temporal.dim_history([("2000-01-01", dim_v6)])
    add("extra.enrich_event_time", lambda: agg.turns_per_geo_window(
        enrich(parse_transcripts(transcripts()), hist, cfg, dim_v6=hist_v6,
               event_time_col="ts"),
        "geoip.geo.country_iso_code").collect())

    # ----- operators outside the bench.py suites; per-row outputs drain
    # through aggregates over their computed columns (a bare count() lets
    # Catalyst prune the expressions) -----
    add("extra.sft_pairs", lambda: conversation.sft_pairs(transcripts())
        .agg(F.count(F.lit(1)), F.sum(F.length("response"))).collect())
    add("extra.render_chat", lambda: conversation.render_chat(transcripts())
        .agg(F.count(F.lit(1)), F.sum(F.length("chat_text"))).collect())
    add("extra.loss_mask_spans", lambda: conversation.loss_mask_spans(
        transcripts()).agg(F.sum("tok_end")).collect())
    add("extra.truncate_context", lambda: conversation.truncate_context(
        transcripts(), 24).agg(F.sum("n_tok"), F.count(F.lit(1))).collect())
    add("extra.tool_chains", lambda: conversation.tool_chains(transcripts())
        .agg(F.sum("n_convs"), F.count(F.lit(1))).collect())
    add("extra.error_runs", lambda: conversation.error_runs(transcripts())
        .agg(F.sum("n_error_turns"), F.max("max_error_run")).collect())
    add("extra.canned_replies", lambda: conversation.canned_replies(
        transcripts()).agg(F.sum("canned"), F.sum("n_uses")).collect())

    def _ev_day():
        return ev().withColumn("day", F.date_trunc("day", F.col("ts")))
    add("extra.k_anonymity", lambda: dq.k_anonymity(
        _ev_day(), ["event_type", "day"], 60).collect())
    add("extra.k_anonymity_flags", lambda: dq.k_anonymity_flags(
        _ev_day(), ["event_type", "day"], 60).agg(F.sum("at_risk"))
        .collect())
    add("extra.distinct_sketches", lambda: agg.distinct_sketches(
        _ev_day(), ("event_type",), "user_id", "day").count())
    add("extra.fuzzy_name_pairs", lambda: entity.fuzzy_name_pairs(
        rd("part"), "p_name").count())
    add("extra.split_leakage", lambda: hygiene.split_leakage(docs())
        .agg(F.count(F.lit(1)), F.count_distinct("split_a", "split_b"))
        .collect())

    def _zorder_layout():
        out = tempfile.mkdtemp(prefix="zorder_", dir=workdir)
        layout.zorder_layout(
            ev(), F.pmod(F.col("user_id"), F.lit(65536)),
            F.datediff(F.col("ts").cast("date"),
                       F.lit("2024-01-01").cast("date")),
            n_files=16).write.mode("overwrite").parquet(out)
    add("extra.zorder_layout", _zorder_layout)
    add("extra.pricing_summary", lambda: relational.pricing_summary(
        rd("lineitem")).collect())
    add("extra.build_postings", lambda: retrieval.build_postings(docs())
        .agg(F.count(F.lit(1)), F.sum("tf")).collect())
    add("extra.domain_counts", lambda: web.domain_counts(
        web._events_urls(spark, sf_dir)).collect())

    return C


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    scale_factor = int(os.environ.get("BENCH_SCALE", "10"))
    n_passes = max(1, int(os.environ.get("BENCH_EXTRA_PASSES", "2")))
    filters = sys.argv[1:]

    spark = bench._build_session(cpus)
    workdir = tempfile.mkdtemp(prefix="bench_extra_")
    try:
        bench.materialize_inputs(spark, sf_dir, scale_factor, workdir)
        comps = components(spark, sf_dir, scale_factor, workdir)
        if filters:
            comps = {k: v for k, v in comps.items()
                     if any(f in k for f in filters)}
        timings: dict[str, float] = {}
        for pass_i in range(n_passes):
            for name, fn in comps.items():
                spark.sparkContext.setJobDescription(name)
                t0 = time.perf_counter()
                try:
                    fn()
                    sec = round(time.perf_counter() - t0, 3)
                except Exception as exc:  # record, keep profiling
                    sec = -1.0
                    print(f"# FAIL {name}: {exc}", file=sys.stderr)
                spark.sparkContext.setJobDescription(None)
                if name not in timings or (0 <= sec < timings[name]):
                    timings[name] = sec
        print(json.dumps({
            "metric": "per-component profile",
            "components": dict(sorted(timings.items(),
                                      key=lambda kv: -kv[1])),
            "passes": n_passes, "sf": sf_dir, "cpus": cpus,
            "scale_factor": scale_factor,
        }))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
