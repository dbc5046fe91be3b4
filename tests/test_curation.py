"""Curation-operator semantics + plan contracts (operators/curation.py):
benchmark decontamination, PII redaction, repetition stats, vocab heavy
hitters. Oracle parity at sf0.01 is covered by test_oracle_parity; here we
pin edge semantics on crafted rows and the scale contract (only the
bounded benchmark side is ever broadcast)."""

from __future__ import annotations

import re

from logstash_filter_geoip_spark.operators import curation
from logstash_filter_geoip_spark.plans import checks
from tests.conftest import duck_rows


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_decontaminate_edges(spark):
    docs = _docs(spark, [
        (1, "alpha beta gamma delta epsilon zeta"),   # contains bench 5-gram
        (2, "one two three"),                         # < n tokens
        (3, "totally different words here now okay"), # clean
        (4, ""),                                      # empty
    ])
    bench = _docs(spark, [(100, "alpha beta gamma delta epsilon")])
    out = {r["doc_id"]: r for r in
           curation.decontaminate(docs, bench, n=5).collect()}
    assert out[1]["n_ngrams"] == 2 and out[1]["n_hits"] == 1
    assert out[1]["contaminated"] == 1
    assert out[2]["n_ngrams"] == 0 and out[2]["contaminated"] == 0
    assert out[3]["n_hits"] == 0 and out[3]["contaminated"] == 0
    assert out[4]["n_ngrams"] == 0 and out[4]["contaminated"] == 0


def test_decontaminate_broadcasts_only_bench(spark):
    """Scale contract: the corpus side is NEVER broadcast or shuffled —
    with auto-broadcast off the plan has no BroadcastExchange, no Join and
    no Exchange, because the bounded bench n-gram set ships as a
    SparkContext broadcast into the one Arrow pass."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.where(curation._BENCH_PRED_SQL)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = checks.simple_plan(curation.decontaminate(docs, bench))
        assert "BroadcastExchange" not in plan, plan[:4000]
        assert "Join" not in plan and "Exchange" not in plan, plan[:4000]
        assert plan.count("ArrowEvalPython") == 1, plan[:4000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_pii_redact_spellings(spark):
    rows = [
        ("c", 0, "client at 216.160.83.58 reported E403"),
        ("c", 1, "nat64 64:ff9b::8.8.8.8 seen E640"),
        ("c", 2, "mapped 0:0::ffff:216.160.83.58 ok"),
        ("c", 3, "embedded6 2607:f0d0::1.2.3.4 via browser"),
        ("c", 4, "v6 client 2a02:d5c0:4:5::f seen"),
        ("c", 5, "multi 8.8.8.8 then 1.128.0.1 first wins"),
        ("c", 6, "mail me at a.b+c@example.org please"),
        ("c", 7, "no pii here"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    out = {r["turn_idx"]: r for r in curation.pii_redact(df).collect()}
    assert out[0]["red_text"] == "client at <IP> reported E403"
    assert (out[0]["n_ip4"], out[0]["n_ip6"]) == (1, 0)
    # every v6 spelling — incl. NAT64/mapped/embedded dotted quads — is
    # swallowed whole by the v6 pass; no quad tail leaks to the v4 pass
    for i in (1, 2, 3, 4):
        assert "<IP6>" in out[i]["red_text"] and "." not in re.sub(
            r"E\d+", "", out[i]["red_text"]), out[i]["red_text"]
        assert (out[i]["n_ip6"], out[i]["n_ip4"]) == (1, 0)
    assert out[5]["n_ip4"] == 2 and out[5]["red_text"].count("<IP>") == 2
    assert out[6]["red_text"] == "mail me at <EMAIL> please"
    assert out[6]["n_email"] == 1
    assert out[7]["red_text"] == "no pii here"


def test_repetition_keep_rule(spark):
    docs = _docs(spark, [
        (1, "spam spam spam spam spam"),          # top bigram 4/4 → drop
        (2, "the quick brown fox jumps over it"), # diverse → keep
        (3, "word"),                              # 1 token → no bigrams, keep
        (4, "a b a b a b a b a b"),               # top bigram 5/9 → drop
    ])
    out = {r["doc_id"]: r for r in curation.repetition_stats(docs).collect()}
    assert out[1]["top_bigram_count"] == 4 and out[1]["keep_rep"] == 0
    assert out[1]["n_distinct_tokens"] == 1
    assert out[2]["keep_rep"] == 1
    assert out[3]["n_bigrams"] == 0 and out[3]["keep_rep"] == 1
    assert out[4]["n_bigrams"] == 9 and out[4]["top_bigram_count"] == 5
    assert out[4]["keep_rep"] == 0


def test_clean_corpus_stage_attribution(spark):
    """Each stage of the composed pass rejects exactly the doc crafted to
    fail it, and only that doc; the all-good doc survives with kept=1."""
    good = "the cat and the dog sat quietly near the old stone house"
    docs = _docs(spark, [
        (1, good),                                            # kept
        (2, good),                                            # dup → not canonical
        (3, "the cat and the dog sat 12345 99999 88888 77777 near houses"),
        (4, "the la la de de y y los el en casa bonita"),     # es wins argmax
        (5, "the spam the spam the spam the spam the spam"),  # repetition
        (6, "the quick answer was alpha beta gamma delta epsilon and more "
            "words here"),                                    # contaminated
    ])
    bench = _docs(spark, [(100, "alpha beta gamma delta epsilon zeta")])
    out = {r["doc_id"]: r for r in
           curation.clean_corpus(docs, bench, n=5).collect()}
    assert out[1]["kept"] == 1 and out[1]["is_canonical"] == 1
    # the duplicate loses ONLY canonicalization (min doc_id wins)
    assert out[2]["is_canonical"] == 0 and out[2]["kept"] == 0
    assert (out[2]["keep_q"], out[2]["is_lang"], out[2]["keep_rep"],
            out[2]["contaminated"]) == (1, 1, 1, 0)
    # digit-heavy doc fails ONLY the quality rule (n_digit*4 > n_chars)
    assert out[3]["keep_q"] == 0 and out[3]["kept"] == 0
    assert (out[3]["is_lang"], out[3]["keep_rep"],
            out[3]["contaminated"], out[3]["is_canonical"]) == (1, 1, 0, 1)
    # Spanish-dominant doc fails ONLY language (en stopwords still present)
    assert out[4]["is_lang"] == 0 and out[4]["kept"] == 0
    assert (out[4]["keep_q"], out[4]["keep_rep"],
            out[4]["contaminated"], out[4]["is_canonical"]) == (1, 1, 0, 1)
    # spam doc fails ONLY repetition (top bigram 5/9 > 20%)
    assert out[5]["keep_rep"] == 0 and out[5]["kept"] == 0
    assert (out[5]["keep_q"], out[5]["is_lang"],
            out[5]["contaminated"], out[5]["is_canonical"]) == (1, 1, 0, 1)
    # benchmark-overlapping doc fails ONLY decontamination
    assert out[6]["contaminated"] == 1 and out[6]["kept"] == 0
    assert (out[6]["keep_q"], out[6]["is_lang"], out[6]["keep_rep"],
            out[6]["is_canonical"]) == (1, 1, 1, 1)


def test_clean_corpus_broadcasts_only_bench(spark):
    """Scale contract for the composed pass: with auto-broadcast off there
    is NO BroadcastExchange left at all (r5 session 7: the bench gram set
    ships as a SparkContext broadcast inside the Arrow decontaminate pass,
    and repetition stats lost their join) — the canonicalization and
    reattach joins all shuffle."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.where(curation._BENCH_PRED_SQL)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = checks.simple_plan(curation.clean_corpus(docs, bench))
        assert len(re.findall(r"BroadcastExchange", plan)) == 0, plan[:4000]
        assert "NestedLoop" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_vocab_top_tokens_exact(spark):
    docs = _docs(spark, [
        (1, "apple banana apple"),
        (2, "banana cherry banana apple"),
        (3, "date"),
    ])
    rows = curation.vocab_top_tokens(docs, k=3).collect()
    got = [(r["token"], r["n_occurrences"], r["n_docs"]) for r in rows]
    assert got == [("apple", 3, 2), ("banana", 3, 2), ("cherry", 1, 1)]


def test_gram_array_edges(spark):
    """functions/ngrams.py edge semantics pinned: shorter-than-n docs give
    an EMPTY gram array (not partial windows), a NULL token array is
    coalesced instead of crashing the Scala NGram function, and windows
    are space-joined in order."""
    from logstash_filter_geoip_spark.functions.ngrams import with_gram_array
    from pyspark.sql import functions as F
    df = spark.createDataFrame(
        [(1, ["a", "b", "c", "d"]), (2, ["a", "b"]), (3, None)],
        "id long, tk array<string>")
    rows = {r["id"]: r["grams"] for r in
            with_gram_array(df, "tk", 3).collect()}
    assert rows[1] == ["a b c", "b c d"]
    assert rows[2] == [] and rows[3] == []


def test_repetition_stats_arrow_equals_relational(spark):
    """The Arrow pass must equal the relational DuckDB oracle run over
    the same rows — the real corpus AND crafted rows (empty, single
    token, NULL text, repeated bigrams, unicode-adjacent punctuation)."""
    from logstash_filter_geoip_spark.operators.curation import repetition_stats
    real = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    crafted = spark.createDataFrame(
        [(1, ""), (2, "a"), (3, None), (4, "x y x y x y x y x y"),
         (5, "A.b,c x A.b"), (6, "one two two two three")],
        "doc_id bigint, text string")
    oracle = curation.oracles()["repetition_stats"]
    for df in (real, crafted):
        a = {r["doc_id"]: tuple(r)[1:] for r in
             repetition_stats(df).collect()}
        b = {r[0]: r[1:] for r in duck_rows(oracle, documents=df)}
        assert a == b


def test_repetition_stats_arrow_plan(spark):
    """The hot path is ONE ArrowEvalPython — no explode, no join, no
    Exchange (each doc's grams are colocated in its row by construction)."""
    from logstash_filter_geoip_spark.operators.curation import repetition_stats
    from logstash_filter_geoip_spark.plans.checks import simple_plan
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = simple_plan(repetition_stats(docs))
    assert p.count("ArrowEvalPython") == 1
    assert "Exchange" not in p and "Join" not in p and "Generate" not in p


def test_decontaminate_arrow_equals_relational(spark):
    """The Arrow pass == the relational DuckDB oracle over the same rows,
    real + crafted (NULL/empty/short text; bench member; partial
    overlap). The oracle's bench is the documents meeting
    _BENCH_PRED_SQL, so the crafted bench doc has id 97."""
    from logstash_filter_geoip_spark.operators.curation import decontaminate
    real = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    crafted = spark.createDataFrame(
        [(1, None), (2, ""), (3, "a b c"),
         (97, "alpha beta gamma delta epsilon zeta"),
         (5, "unrelated words only here now forever")],
        "doc_id bigint, text string")
    oracle = curation.oracles()["decontaminate"]
    for df in (real, crafted):
        a = {r["doc_id"]: tuple(r)[1:] for r in decontaminate(
            df, df.where(curation._BENCH_PRED_SQL),
            n=curation.DECONTAM_N).collect()}
        b = {r[0]: r[1:] for r in duck_rows(oracle, documents=df)}
        assert a == b
    # the crafted rows still exercise every branch: a hit, NULL, empty
    assert a[97] == (2, 2, 1) and a[1] == a[2] == (0, 0, 0)


def test_decontaminate_bench_guard(spark, monkeypatch):
    from logstash_filter_geoip_spark.operators import curation
    real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    monkeypatch.setattr(curation, "_MAX_BENCH_GRAMS", 1)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="bounded-bench"):
        curation.decontaminate(real, real.limit(5))


def test_decontaminate_arrow_plan(spark):
    from logstash_filter_geoip_spark.operators.curation import decontaminate
    from logstash_filter_geoip_spark.plans.checks import simple_plan
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = simple_plan(decontaminate(docs, docs.limit(3)))
    assert p.count("ArrowEvalPython") == 1
    assert "Exchange" not in p and "Join" not in p and "Generate" not in p


# ---------------------------------------------------------------------------
# line-level corpus dedup (CCNet/RefinedWeb boilerplate removal)
# ---------------------------------------------------------------------------


def test_line_dedup_drops_boilerplate(spark):
    """Segments appearing in more than max_df docs are removed; survivors
    reassemble in original order; untouched docs round-trip."""
    boiler = "copyright acme corp inc"
    docs = _docs(spark, [
        (1, boiler + " alpha beta gamma delta"),
        (2, boiler + " epsilon zeta eta theta"),
        (3, boiler + " iota kappa lambda mu"),
        (4, "nothing shared here at all ok fine yes"),
    ])
    out = {r["doc_id"]: r for r in
           curation.line_dedup(docs, max_df=2, chunk_tokens=4).collect()}
    for i, tail in [(1, "alpha beta gamma delta"),
                    (2, "epsilon zeta eta theta"),
                    (3, "iota kappa lambda mu")]:
        assert out[i]["n_segments"] == 2 and out[i]["n_kept"] == 1
        assert out[i]["text_dedup"] == tail
    assert out[4]["n_segments"] == 2 and out[4]["n_kept"] == 2
    assert out[4]["text_dedup"] == "nothing shared here at all ok fine yes"


def test_line_dedup_null_and_empty(spark):
    docs = _docs(spark, [(1, None), (2, ""), (3, "just one tiny doc")])
    out = {r["doc_id"]: r for r in
           curation.line_dedup(docs, max_df=2, chunk_tokens=4).collect()}
    for i in (1, 2):
        assert (out[i]["n_segments"], out[i]["n_kept"],
                out[i]["text_dedup"]) == (0, 0, "")
    assert out[3]["text_dedup"] == "just one tiny doc"


def test_line_dedup_reassembly_covers_whole_corpus(spark):
    """With max_df above the corpus size nothing is dropped, so chunk-mode
    reassembly must reproduce every document's whitespace-normalized text
    — order, coverage, and exact-overlap bookkeeping all at once."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = curation.line_dedup(docs, max_df=10**9, chunk_tokens=8)
    joined = {r["doc_id"]: r["text_dedup"] for r in out.collect()}
    for r in docs.collect():
        want = " ".join(r["text"].split()) if r["text"] else ""
        assert joined[r["doc_id"]] == want, r["doc_id"]


def test_line_dedup_regex_segments_match_duckdb(spark):
    """The regex segmentation mode (newline paragraphs, the CCNet unit)
    agrees with a DuckDB string_split_regex mirror on crafted multi-line
    docs — incl. empty-segment filtering and NULL text."""
    import duckdb
    rows = [
        (1, "common header\nunique body one\ncommon footer"),
        (2, "common header\nunique body two\ncommon footer"),
        (3, "common header\nunique body three\ncommon footer"),
        (4, "standalone doc\n\nwith a blank line"),
        (5, None),
        (6, ""),
    ]
    docs = _docs(spark, rows)
    segs = curation.split_segments(docs, unit_re=r"\n+")
    out = curation.line_dedup(docs, max_df=2, joiner="\n", segments=segs)
    got = sorted(tuple(r) for r in out.collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    want = sorted(con.execute(r"""
WITH arr AS (
  SELECT doc_id, string_split_regex(text, '\n+') AS a FROM docs
),
segs AS (
  SELECT doc_id, u.pos AS pos, u.seg AS seg
  FROM (SELECT doc_id,
               unnest([{'pos': i - 1, 'seg': a[i]}
                       for i in range(1, len(a) + 1)]) AS u
        FROM arr) t
  WHERE u.seg <> ''
),
segdf AS (SELECT seg, count(DISTINCT doc_id) AS d FROM segs GROUP BY seg),
kept AS (SELECT s.* FROM segs s JOIN segdf USING (seg) WHERE d <= 2),
tot AS (SELECT doc_id, count(*) AS n_segments FROM segs GROUP BY doc_id),
ragg AS (SELECT doc_id, count(*) AS n_kept,
                string_agg(seg, chr(10) ORDER BY pos) AS text_dedup
         FROM kept GROUP BY doc_id)
SELECT d.doc_id, coalesce(t.n_segments, 0), coalesce(r.n_kept, 0),
       coalesce(r.text_dedup, '')
FROM docs d LEFT JOIN tot t USING (doc_id) LEFT JOIN ragg r USING (doc_id)
""").fetchall())
    assert got == [tuple(w) for w in want]
    # the shared boilerplate lines (3 docs each) are gone from docs 1-3
    by_id = {r[0]: r for r in got}
    assert by_id[1][3] == "unique body one" and by_id[1][1] == 3
    assert by_id[4][3] == "standalone doc\nwith a blank line"


def test_line_dedup_never_broadcasts_corpus_sides(spark):
    """Every join side in line_dedup is corpus-derived (segment df counts,
    per-doc totals, per-doc reassembly) — all merge-hinted, so the plan has
    ZERO BroadcastExchange even at the default broadcast threshold (the
    session-10 static-estimate rule)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = checks.simple_plan(curation.line_dedup(docs))
    assert "BroadcastExchange" not in plan, plan[:4000]
    assert plan.count("SortMergeJoin") >= 3, plan[:4000]


# ---------------------------------------------------------------------------
# fuzzy (MinHash-LSH) benchmark decontamination
# ---------------------------------------------------------------------------


def _exact_cross_pairs(doc_rows, bench_ids, threshold=0.5, k=3):
    """Independent pure-Python exact cross-Jaccard (the value-lock pattern):
    word k-shingles, distinct per doc, all (doc, bench) pairs >= threshold."""
    shingles = {}
    for i, t in doc_rows:
        tk = re.findall("[a-z0-9]+", (t or "").lower())
        shingles[i] = {" ".join(tk[j:j + k]) for j in range(len(tk) - k + 1)}
    out = set()
    for i, si in shingles.items():
        for b in bench_ids:
            sb = shingles.get(b, set())
            inter = len(si & sb)
            if not si or not sb:
                continue
            if inter / (len(si) + len(sb) - inter) >= threshold:
                out.add((i, b, inter, len(si), len(sb)))
    return out


def test_decontaminate_fuzzy_planted(spark):
    base = ("the quick brown fox jumps over the lazy dog while seventeen "
            "astronauts calibrate gravity sensors near the launch gantry "
            "before dawn breaks over mission control")
    near = base.replace("seventeen", "nineteen")
    rows = [(1, base), (2, near),
            (3, "completely unrelated text about cooking pasta with garlic "
                "butter sage and parmesan on a tuesday evening")]
    docs = _docs(spark, rows)
    bench = _docs(spark, [(100, base)])
    got = {(r["doc_id"], r["bench_id"]): r for r in
           curation.decontaminate_fuzzy(docs, bench).collect()}
    want = _exact_cross_pairs(rows + [(100, base)], [100])
    want = {(a, b): (ns, nd, nb) for a, b, ns, nd, nb in want if a != 100}
    assert set(got) == set(want)
    for key, (ns, nd, nb) in want.items():
        r = got[key]
        assert (r["n_shared"], r["n_doc"], r["n_bench"]) == (ns, nd, nb)
    assert (1, 100) in got and (2, 100) in got and (3, 100) not in got


def test_decontaminate_fuzzy_matches_exact_cross(spark):
    """At gate scale band recall is total, so LSH candidates verified with
    exact Jaccard == the exhaustive cross-Jaccard — recomputed here by an
    independent Python fold (never the oracle SQL)."""
    import duckdb
    con = duckdb.connect()
    rows = con.execute("SELECT doc_id, text FROM read_parquet("
                       "'/root/testdata/sf0.01/documents.parquet')").fetchall()
    bench_ids = [i for i, _ in rows if i % 7 == 0]
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    out = curation.decontaminate_fuzzy(
        docs, docs.where(curation._FUZZY_BENCH_PRED_SQL))
    got = {(r["doc_id"], r["bench_id"], r["n_shared"], r["n_doc"],
            r["n_bench"]) for r in out.collect()}
    assert got == _exact_cross_pairs(rows, bench_ids)
    assert any(a != b for a, b, *_ in got)  # non-vacuous: real cross hits


def test_decontaminate_fuzzy_broadcasts_only_bench(spark):
    """Scale contract: with auto-broadcast off, every BroadcastExchange in
    the plan is a bench-derived side (band rows, shingles, sizes — three
    pinned broadcasts); the corpus-derived per-doc size relation goes
    through the merge-hinted shuffle join."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.where(curation._FUZZY_BENCH_PRED_SQL)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = checks.simple_plan(curation.decontaminate_fuzzy(docs, bench))
        n_bx = len(re.findall(r"BroadcastExchange", plan))
        assert 1 <= n_bx <= 3, plan[:4000]
        assert "SortMergeJoin" in plan, plan[:4000]
        assert "NestedLoop" not in plan and "Cartesian" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # at the DEFAULT threshold the merge-hinted candidate-verify join must
    # STILL be a SortMergeJoin: Spark's static post-distinct estimate
    # broadcast the corpus-sized candidate relation at 1M docs and OOMed
    # (session-11 stress) — the hint, not the estimate, decides
    p_default = checks.simple_plan(curation.decontaminate_fuzzy(docs, bench))
    assert "SortMergeJoin" in p_default, p_default[:4000]


# ---------------------------------------------------------------------------
# vocabulary growth (Heaps-law novelty curve)
# ---------------------------------------------------------------------------


def test_vocab_growth_crafted(spark):
    """Known novelty per bucket, NULL text counted as a doc with zero
    tokens, re-seen tokens never counted again."""
    from logstash_filter_geoip_spark.operators.curation import vocab_growth
    rows = [(0, "alpha beta"), (1, "beta gamma"),
            (2, None), (3, "alpha delta"),
            (4, "epsilon epsilon"), (5, "beta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["bucket"]: r for r in vocab_growth(df, bucket_width=2).collect()}
    # bucket 0: docs 0-1 -> tokens alpha beta beta gamma (4 occ, 3 new)
    assert (got[0]["n_docs"], got[0]["n_token_occurrences"],
            got[0]["n_new_tokens"], got[0]["vocab_size"]) == (2, 4, 3, 3)
    # bucket 1: docs 2-3 -> NULL + alpha delta (2 occ, 1 new: delta)
    assert (got[1]["n_docs"], got[1]["n_token_occurrences"],
            got[1]["n_new_tokens"], got[1]["vocab_size"]) == (2, 2, 1, 4)
    # bucket 2: docs 4-5 -> epsilon x2 + beta (3 occ, 1 new: epsilon)
    assert (got[2]["n_docs"], got[2]["n_token_occurrences"],
            got[2]["n_new_tokens"], got[2]["vocab_size"]) == (2, 3, 1, 5)


def test_vocab_growth_converges_to_distinct_vocab(spark):
    """vocab_size is nondecreasing and its final value equals the exact
    distinct-token count of the whole corpus."""
    from logstash_filter_geoip_spark.operators.curation import (_tokens,
                                                                vocab_growth)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    curve = sorted((r["bucket"], r["vocab_size"])
                   for r in vocab_growth(docs, bucket_width=10).collect())
    sizes = [v for _, v in curve]
    assert all(a <= b for a, b in zip(sizes, sizes[1:]))
    from pyspark.sql import functions as F
    distinct = (docs.select(F.explode(_tokens("text")).alias("t"))
                    .select("t").distinct().count())
    assert sizes[-1] == distinct


def test_vocab_growth_plan_single_token_explode(spark):
    """The occurrence side is a NARROW size() projection — only the
    novelty side explodes tokens: exactly ONE Generate in the plan."""
    from logstash_filter_geoip_spark.operators.curation import vocab_growth
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = vocab_growth(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Generate") == 1, plan[:3000]
    assert "Python" not in plan, plan[:3000]
