"""Corpus-curation operators for LLM training-data pipelines: benchmark
decontamination (n-gram overlap), PII redaction, repetition-based quality
stats, and global vocabulary heavy hitters.

These extend the training-data-pipeline surface (task mandate) with the
curation steps published pipelines treat as core: n-gram benchmark
decontamination (the GPT-3 paper's 13-gram rule, parameterized n),
repetition filters in the style of Gopher/MassiveText (duplicate-token and
top-bigram fractions, integerized so the oracle hash is exact), PII
redaction (IP/email scrubbing — the transcript corpus carries IPv4 and
IPv6 literals in every spelling the geoip parser handles), and exact
vocabulary statistics (token frequency + document frequency heavy hitters).

Scale notes (100 TB):
  * decontaminate: the benchmark side is BOUNDED by contract (a benchmark
    suite is small by definition) — its distinct n-grams collect once and
    ship as a SparkContext broadcast into one Arrow pass over the corpus:
    no join, no shuffle, and no data-sized relation is ever broadcast.
  * pii_redact: pure codegen regexp scan, embarrassingly parallel.
  * repetition_stats: one Arrow pass — each document's grams are in its
    own row, so no explode and no shuffle.
  * vocab_top_tokens: the classic vocabulary job — two-phase count on
    token plus an exact distinct-doc count (documented approx alternative:
    approx_count_distinct) and a TakeOrderedAndProject top-k; the full
    vocabulary never collects to the driver.

Everything else is JVM-side; n-gram windows come from the compiled
``pyspark.ml.feature.NGram`` transformer (functions/ngrams.py — the
higher-order transform/slice alternative is CodegenFallback and measured
~8x slower). Each operator has a DuckDB oracle over the same tables.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T

from logstash_filter_geoip_spark.functions.ngrams import (WORD_RE,
                                                          with_gram_array)
from logstash_filter_geoip_spark.functions.ngrams import word_tokens as _tokens
from logstash_filter_geoip_spark.sources.transcripts import (load_table,
                                                             load_transcripts,
                                                             transcripts_sql)

# IPv6 first (embedded dotted-quad as the FIRST alternative — RE2 and Java
# regex are both leftmost-first and neither backtracks into a later
# preference once the first succeeds, verified byte-identical on the full
# spelling matrix incl. NAT64/mapped/compressed forms), then plain IPv4 on
# the v6-redacted text so embedded quads are never double-counted.
IPV6_PII_RE = (r"\b(?:[0-9a-fA-F]{1,4}:){1,7}(?:[0-9a-fA-F]{0,4}:)*"
               r"(?:\d{1,3}(?:\.\d{1,3}){3}|[0-9a-fA-F]{0,4})")
IPV4_PII_RE = r"\b\d{1,3}(?:\.\d{1,3}){3}\b"
EMAIL_PII_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


def bench_ngrams(bench: DataFrame, n: int) -> DataFrame:
    """Distinct word n-grams of a benchmark relation → one `g` column.

    The benchmark is bounded by contract (an eval suite, not a corpus);
    callers broadcast the result.
    """
    toks = bench.select(_tokens("text").alias("tk"))
    return (with_gram_array(toks, "tk", n)
            .select(F.explode("grams").alias("g"))
            .distinct())


# bench_ngrams is bounded by contract (an eval suite, not a corpus); this
# guard makes misuse (passing a corpus as `bench`) fail loudly instead of
# melting the driver on the collect.
_MAX_BENCH_GRAMS = 5_000_000

_DECON_T = T.StructType([
    T.StructField("n_ngrams", T.LongType()),
    T.StructField("n_hits", T.LongType()),
])


def decontaminate(docs: DataFrame, bench: DataFrame, n: int = 5) -> DataFrame:
    """Benchmark decontamination: per document, how many of its word
    n-gram occurrences appear in the benchmark's n-gram set (the GPT-3
    13-gram overlap rule, parameterized n).

    Returns (doc_id, n_ngrams, n_hits, contaminated). Benchmark documents
    themselves count as contaminated (callers exclude by id if desired).

    The bounded benchmark gram set (≤ _MAX_BENCH_GRAMS, loud guard)
    collects once and ships as a SparkContext broadcast into ONE
    ArrowEvalPython pass — no explode, no join, no shuffle; measured 3.6×
    faster at 1M docs than the explode → broadcast-join → two-phase count
    shape the oracle spells (5.8 s vs 20.7 s, r5 session 7). NULL text
    gives 0 n-grams and 0 hits, as the oracle's greatest(NULL, 0) does."""
    rows = bench_ngrams(bench, n).collect()
    if len(rows) > _MAX_BENCH_GRAMS:
        raise ValueError(
            f"decontaminate: {len(rows)} benchmark n-grams exceeds the "
            f"bounded-bench contract ({_MAX_BENCH_GRAMS}); the bench "
            f"side must be an eval suite, not a corpus")
    bc = docs.sparkSession.sparkContext.broadcast({r["g"] for r in rows})
    word_re = WORD_RE

    @F.pandas_udf(_DECON_T)
    def _decon_batch(texts: pd.Series) -> pd.DataFrame:
        import re
        pat = re.compile(word_re)
        gs = bc.value
        n_ngrams, n_hits = [], []
        for t in texts:
            # NULL text mirrors the oracle: greatest(NULL, 0) skips the
            # NULL -> 0 n-grams, 0 hits
            tk = pat.findall(t.lower()) if t is not None else []
            m = max(len(tk) - n + 1, 0)
            n_ngrams.append(m)
            n_hits.append(sum(1 for i in range(m)
                              if " ".join(tk[i:i + n]) in gs))
        return pd.DataFrame({
            "n_ngrams": pd.array(n_ngrams, dtype="Int64"),
            "n_hits": pd.array(n_hits, dtype="Int64")})

    stats = docs.select("doc_id", _decon_batch(F.col("text")).alias("s"))
    return stats.select("doc_id", "s.n_ngrams", "s.n_hits",
                        (F.col("s.n_hits") > 0).cast("int")
                         .alias("contaminated"))


def pii_redact(df: DataFrame) -> DataFrame:
    """Scrub IP literals (v6 first — every spelling the parser handles,
    incl. NAT64/mapped/embedded-quad — then plain v4 on the v6-redacted
    text) and emails; count each category. Pure codegen regexp scan."""
    t = F.col("text")
    r6 = F.regexp_replace(t, IPV6_PII_RE, "<IP6>")
    r46 = F.regexp_replace(r6, IPV4_PII_RE, "<IP>")
    red = F.regexp_replace(r46, EMAIL_PII_RE, "<EMAIL>")
    return df.select(
        "conv_id", "turn_idx",
        red.alias("red_text"),
        F.size(F.regexp_extract_all(r6, F.lit(IPV4_PII_RE), 0)).alias("n_ip4"),
        F.size(F.regexp_extract_all(t, F.lit(IPV6_PII_RE), 0)).alias("n_ip6"),
        F.size(F.regexp_extract_all(r46, F.lit(EMAIL_PII_RE), 0))
         .alias("n_email"))


_REP_STATS_T = T.StructType([
    T.StructField("n_tokens_r", T.LongType()),
    T.StructField("n_distinct_tokens", T.LongType()),
    T.StructField("n_bigrams", T.LongType()),
    T.StructField("n_distinct_bigrams", T.LongType()),
    T.StructField("top_bigram_count", T.LongType()),
])


@F.pandas_udf(_REP_STATS_T)
def _rep_stats_batch(texts: pd.Series) -> pd.DataFrame:
    import re
    from collections import Counter
    # WORD_RE is [a-z0-9]+ — identical semantics in Java regex, Python re,
    # and DuckDB, so all three engines tokenize identically (ASCII corpus
    # invariant is test-enforced)
    pat = re.compile(WORD_RE)
    cols = ("n_tokens_r", "n_distinct_tokens", "n_bigrams",
            "n_distinct_bigrams", "top_bigram_count")
    out: dict[str, list] = {k: [] for k in cols}
    for t in texts:
        if t is None:
            # mirror the oracle: regexp over NULL is NULL
            for k in cols:
                out[k].append(None)
            continue
        tk = pat.findall(t.lower())
        n = len(tk)
        out["n_tokens_r"].append(n)
        out["n_distinct_tokens"].append(len(set(tk)))
        if n >= 2:
            c = Counter(zip(tk, tk[1:]))
            out["n_bigrams"].append(n - 1)
            out["n_distinct_bigrams"].append(len(c))
            out["top_bigram_count"].append(max(c.values()))
        else:
            out["n_bigrams"].append(0)
            out["n_distinct_bigrams"].append(0)
            out["top_bigram_count"].append(0)
    # Int64 (nullable) per repo rule: a batch mixing ints and None must not
    # coerce to float64
    return pd.DataFrame({k: pd.array(v, dtype="Int64")
                         for k, v in out.items()})


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher/MassiveText-style repetition signals, integerized:
    duplicate-token and top-bigram multiplicity per document, plus a keep
    rule in cross-multiplied integer form (top bigram ≤ 20% of bigrams AND
    ≥ 50% distinct tokens — the published thresholds, floats avoided so the
    oracle hash is exact).

    ONE ArrowEvalPython pass — each doc's grams are already colocated in
    its row, so the relational explode→two-hash-agg→join shape the oracle
    spells would shuffle 50M (doc_id, gram) strings for per-row-computable
    stats; the vectorized Counter pass measured 5× faster at 1M docs
    (9.1 s vs 45.5 s, r5 session 7 — the enrich-v6-key precedent: measure
    before "optimizing" back)."""
    stats = docs.select("doc_id",
                        _rep_stats_batch(F.col("text")).alias("s"))
    z = F.lit(0).cast("long")
    nb = F.coalesce(F.col("s.n_bigrams"), z)
    top = F.coalesce(F.col("s.top_bigram_count"), z)
    # NULL text: n_tokens_r is NULL, so keep is NULL — as in the oracle
    # (coalesce only backfills the no-bigram case there; n_tokens_r NULL
    # propagates through the comparison)
    keep = ((top * 5 <= nb)
            & (F.col("s.n_distinct_tokens") * 2
               >= F.col("s.n_tokens_r")))
    # mirror the oracle's output exactly: bigram columns coalesce to 0
    # even when token columns are NULL
    return stats.select(
        "doc_id", "s.n_tokens_r", "s.n_distinct_tokens",
        nb.alias("n_bigrams"),
        F.coalesce(F.col("s.n_distinct_bigrams"), z)
         .alias("n_distinct_bigrams"),
        top.alias("top_bigram_count"),
        keep.cast("int").alias("keep_rep"))


def clean_corpus(docs: DataFrame, bench: DataFrame, n: int = 5) -> DataFrame:
    """The full curation pass a training-data pipeline runs before
    tokenization, composed into ONE plan: quality keep rule + language
    filter + repetition keep rule + exact-dedup canonicalization (min
    doc_id per identical text) + benchmark decontamination.

    Returns one row per document with each stage's verdict and the final
    `kept` flag — the downstream corpus is `where(kept = 1)`.

    Scale shape: the per-row flags (quality, language, md5 fingerprint)
    are computed in a single projection of the scan (text_ops.quality_cols
    / lang_cols — no join for per-row stages); the canonical-id group-by
    shuffles on the fingerprint, repetition and decontamination are
    per-row Arrow passes, and all three reattach by doc_id — sort-merge
    territory at 100 TB, nothing data-sized broadcast.
    """
    from logstash_filter_geoip_spark.operators.text_ops import (lang_cols,
                                                                quality_cols)
    perrow = docs.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("fp"),
        quality_cols()["keep"].alias("keep_q"),
        (lang_cols()["lang_pred"] == "en").cast("int")
         .alias("is_lang"))
    canon = perrow.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    flags = (perrow.join(canon, "fp")
                   .select("doc_id", "keep_q", "is_lang",
                           (F.col("doc_id") == F.col("keep_id")).cast("int")
                            .alias("is_canonical")))
    rep = repetition_stats(docs).select("doc_id", "keep_rep")
    dec = decontaminate(docs, bench, n).select("doc_id", "contaminated")
    kept = ((F.col("keep_q") == 1) & (F.col("is_lang") == 1)
            & (F.col("keep_rep") == 1) & (F.col("contaminated") == 0)
            & (F.col("is_canonical") == 1))
    return (flags.join(rep, "doc_id").join(dec, "doc_id")
                 .select("doc_id", "keep_q", "is_lang", "keep_rep",
                         "contaminated", "is_canonical",
                         kept.cast("int").alias("kept")))


def split_segments(docs: DataFrame, unit_re: str = r"\n+",
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Regex segmentation for ``line_dedup``: (id, pos, seg) rows, empty
    segments dropped on BOTH engines (Spark keeps trailing empties with
    limit=-1, DuckDB's string_split_regex keeps them too — the explicit
    filter is what makes the two agree). NULL text yields no rows.

    The default splits on newlines (CCNet's paragraph unit). Lookbehind is
    NOT allowed in ``unit_re``: DuckDB's regexp engine is RE2."""
    ex = docs.select(
        id_col,
        F.posexplode(F.split(F.col(text_col), unit_re)).alias("pos", "seg"))
    return ex.where(F.col("seg") != "")


def line_dedup(docs: DataFrame, max_df: int = 2, chunk_tokens: int = 8,
               joiner: str = " ",
               segments: DataFrame | None = None) -> DataFrame:
    """Line-level corpus deduplication (CCNet / RefinedWeb style): drop
    every segment that appears in more than ``max_df`` documents
    (boilerplate — headers, nav bars, license blurbs) and reassemble each
    document from its surviving segments in original order.

    Segmentation is pluggable: pass ``segments`` as an (id, pos, seg)
    relation (e.g. from ``split_segments`` for newline-delimited text); the
    default derives deterministic ``chunk_tokens``-token "lines" from
    ``packing.chunk_documents(overlap=0)`` — exact non-overlapping windows,
    the right unit for corpora without newlines (and the oracle composes
    from the chunking oracle, so the two definitions cannot drift).

    Returns (id, n_segments, n_kept, text_dedup); documents with no
    segments (empty/NULL text) come back as (0, 0, '').

    Scale shape (100 TB): one segment explode → one two-phase distinct-doc
    count keyed on the segment (the shuffle carries DISTINCT segments, not
    occurrences), then segment- and doc-keyed shuffle joins — all three
    corpus-derived sides carry ``hint("merge")`` (the session-10 rule:
    never let a static post-aggregate estimate pick broadcast for a
    relation that grows with the corpus). Reassembly is a per-doc
    collect_list + sort_array (compiled, no lambda HOF) — bounded by the
    document's own segment count, never corpus-sized state.
    """
    from logstash_filter_geoip_spark.operators.packing import chunk_documents
    if segments is None:
        segments = (chunk_documents(docs, chunk_tokens, 0)
                    .select("doc_id", F.col("chunk_idx").alias("pos"),
                            F.col("chunk_text").alias("seg")))
    seg_df = segments.groupBy("seg").agg(
        F.countDistinct("doc_id").alias("seg_df"))
    kept = (segments.join(seg_df.hint("merge"), "seg")
                    .where(F.col("seg_df") <= max_df))
    tot = segments.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_segments"))
    ragg = (kept.groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("n_kept"),
                     F.array_join(
                         F.sort_array(F.collect_list(F.struct("pos", "seg")))
                          .getField("seg"), joiner).alias("text_dedup")))
    return (docs.select("doc_id")
                .join(tot.hint("merge"), "doc_id", "left")
                .join(ragg.hint("merge"), "doc_id", "left")
                .select("doc_id",
                        F.coalesce("n_segments", F.lit(0).cast("long"))
                         .alias("n_segments"),
                        F.coalesce("n_kept", F.lit(0).cast("long"))
                         .alias("n_kept"),
                        F.coalesce("text_dedup", F.lit(""))
                         .alias("text_dedup")))


def line_dedup_oracle_sql(max_df: int = 2, chunk_tokens: int = 8) -> str:
    """DuckDB mirror of ``line_dedup`` (chunk-mode segmentation), composed
    verbatim from the chunking oracle — the training_corpus pattern —
    reassembled with line_dedup's default ``' '`` joiner."""
    from logstash_filter_geoip_spark.operators.packing import (
        chunk_documents_oracle_sql)
    chunk_sql = chunk_documents_oracle_sql(chunk_tokens, 0)
    return f"""
WITH segs AS (
  SELECT doc_id, chunk_idx AS pos, chunk_text AS seg FROM ({chunk_sql}) c
),
segdf AS (SELECT seg, count(DISTINCT doc_id) AS seg_df FROM segs GROUP BY seg),
kept AS (
  SELECT s.doc_id, s.pos, s.seg FROM segs s JOIN segdf USING (seg)
  WHERE seg_df <= {max_df}
),
tot AS (SELECT doc_id, count(*) AS n_segments FROM segs GROUP BY doc_id),
ragg AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(seg, ' ' ORDER BY pos) AS text_dedup
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(t.n_segments, 0) AS BIGINT) AS n_segments,
       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
       coalesce(r.text_dedup, '') AS text_dedup
FROM documents d
LEFT JOIN tot t USING (doc_id)
LEFT JOIN ragg r USING (doc_id)
"""


def decontaminate_fuzzy(docs: DataFrame, bench: DataFrame) -> DataFrame:
    """Fuzzy benchmark decontamination: MinHash-LSH near-dup detection of
    corpus documents against a bounded benchmark set (the Llama/FineWeb
    companion to the exact n-gram rule in ``decontaminate`` — catches
    paraphrased or lightly-edited benchmark leakage that exact n-gram
    overlap under-counts).

    Returns one row per (doc_id, bench_id) pair whose EXACT word-shingle
    Jaccard ≥ dedup.JACCARD_THRESHOLD: (doc_id, bench_id, n_shared, n_doc,
    n_bench).
    MinHash bands generate CANDIDATES only; every emitted value is exact
    (the minhash_lsh_pairs contract), so the output is oracle-checkable
    against the exact cross-Jaccard SQL whenever band recall is total —
    the pinned regime at gate scale (all corpus pairs sit at J ≥ 0.9,
    where 16×4 banding misses with P ≈ 4e-8).

    Scale shape (100 TB): the bench side is bounded by contract (an eval
    suite), so its band rows, shingles, and sizes are broadcast; the corpus
    side is ONE shingle pass feeding both the signature aggregate and the
    candidate verify, with the per-doc size relation merge-hinted (never a
    static broadcast of a corpus-derived aggregate). No all-pairs join
    exists anywhere — candidates come only from band-bucket collisions.
    """
    from logstash_filter_geoip_spark.operators import dedup as dd
    bench_docs = bench.select("doc_id", "text")
    sh_d = dd._shingles(docs)
    sh_b = dd._shingles(bench_docs)
    sig_d = dd.minhash_signatures(docs, dd.N_MINHASH, sh=sh_d)
    sig_b = dd.minhash_signatures(bench_docs, dd.N_MINHASH, sh=sh_b)
    bands_d = dd.band_rows(sig_d, dd.N_MINHASH, dd.N_BANDS)
    bands_b = (dd.band_rows(sig_b, dd.N_MINHASH, dd.N_BANDS)
                 .withColumnRenamed("doc_id", "bench_id"))
    cand = (bands_d.join(F.broadcast(bands_b), ["band", "band_hash"])
                   .select("doc_id", "bench_id")
                   .distinct())
    sh_b_ren = (sh_b.select(F.col("doc_id").alias("bench_id"), "shingle"))
    # cand and sh_d both grow with the corpus: pin the verify join to
    # merge — Spark's static post-distinct size estimate broadcast the
    # candidate relation at 1M docs and OOMed (session-11 stress; the
    # session-10 static-estimate rule strikes again)
    shared = (cand.hint("merge").join(sh_d, "doc_id")
                  .join(F.broadcast(sh_b_ren), ["bench_id", "shingle"])
                  .groupBy("doc_id", "bench_id")
                  .agg(F.count(F.lit(1)).alias("n_shared")))
    sizes_d = sh_d.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_doc"))
    sizes_b = (sh_b_ren.groupBy("bench_id")
                       .agg(F.count(F.lit(1)).alias("n_bench")))
    return (shared.join(sizes_d.hint("merge"), "doc_id")
                  .join(F.broadcast(sizes_b), "bench_id")
                  .where(F.col("n_shared") * F.lit(1.0)
                         / (F.col("n_doc") + F.col("n_bench")
                            - F.col("n_shared"))
                         >= F.lit(dd.JACCARD_THRESHOLD))
                  .select("doc_id", "bench_id", "n_shared", "n_doc",
                          "n_bench"))


def vocab_top_tokens(docs: DataFrame, k: int = 50) -> DataFrame:
    """Global vocabulary heavy hitters: top-k tokens by total occurrences
    (ties broken by token, so the result SET is deterministic) with exact
    document frequency. Two-phase aggregates + TakeOrderedAndProject; swap
    countDistinct for approx_count_distinct when exact df is not needed."""
    toks = docs.select("doc_id", _tokens("text").alias("tk"))
    return (toks.select("doc_id", F.explode("tk").alias("token"))
                .groupBy("token")
                .agg(F.count("*").alias("n_occurrences"),
                     F.countDistinct("doc_id").alias("n_docs"))
                .orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
                .limit(k))


VOCAB_BUCKET_WIDTH = 50  # doc_id range per bucket, shared with the oracle


def vocab_growth(docs: DataFrame,
                 bucket_width: int = VOCAB_BUCKET_WIDTH) -> DataFrame:
    """Vocabulary-growth (Heaps-law) curve: per ingest-order bucket
    (doc_id div bucket_width), how many never-seen-before tokens arrive —
    the corpus-saturation signal a curation pipeline reads to decide
    whether more of a source still adds novelty. One row per bucket:
    (bucket, n_docs, n_token_occurrences, n_new_tokens, vocab_size) with
    vocab_size the running distinct-vocabulary total.

    Scale shape: occurrences come from size(token_array) per doc — a
    NARROW per-doc projection, never a token shuffle; only the novelty
    side explodes tokens, pre-aggregated on (bucket, token) map-side, then
    min-bucket per token (shuffle carries distinct tokens), counted per
    first bucket. The two sides join on the BUCKET relation (≤ n_docs /
    bucket_width rows — tiny by construction, broadcast-safe: this is NOT
    the corpus-derived-join rule's case because cardinality is bounded by
    an argument, not the data); cumsum is a window over the same tiny
    relation. NULL text ⇒ zero tokens, still counted in n_docs."""
    if bucket_width < 1:
        raise ValueError(f"bucket_width must be >= 1: {bucket_width}")
    b = F.expr(f"doc_id div {bucket_width}")  # integer div, exact at any id
    toks = docs.select(b.alias("bucket"), _tokens("text").alias("tk"))
    occ = toks.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.coalesce(F.size("tk"), F.lit(0)))
         .alias("n_token_occurrences"))
    first = (toks.select("bucket", F.explode("tk").alias("token"))
                 .groupBy("token").agg(F.min("bucket").alias("bucket"))
                 .groupBy("bucket")
                 .agg(F.count(F.lit(1)).alias("n_new_tokens")))
    cum_w = (Window.orderBy("bucket")
                   .rowsBetween(Window.unboundedPreceding,
                                Window.currentRow))
    return (occ.join(F.broadcast(first), "bucket", "left")
               .withColumn("n_new_tokens",
                           F.coalesce("n_new_tokens", F.lit(0)))
               .withColumn("vocab_size",
                           F.sum("n_new_tokens").over(cum_w)))


def vocab_growth_oracle_sql() -> str:
    """DuckDB mirror of vocab_growth (window sums BIGINT-cast)."""
    return f"""
WITH tk AS (
  SELECT doc_id // {VOCAB_BUCKET_WIDTH} AS bucket,
         regexp_extract_all(lower(text), '{WORD_RE}') AS tk
  FROM documents
), occ AS (
  SELECT bucket, count(*) AS n_docs,
         CAST(sum(coalesce(len(tk), 0)) AS BIGINT) AS n_token_occurrences
  FROM tk GROUP BY bucket
), firsts AS (
  SELECT token, min(bucket) AS bucket
  FROM (SELECT bucket, unnest(tk) AS token FROM tk) GROUP BY token
), news AS (
  SELECT bucket, count(*) AS n_new_tokens FROM firsts GROUP BY bucket
)
SELECT o.bucket, o.n_docs, o.n_token_occurrences,
       coalesce(n.n_new_tokens, 0) AS n_new_tokens,
       CAST(sum(coalesce(n.n_new_tokens, 0))
            OVER (ORDER BY o.bucket) AS BIGINT) AS vocab_size
FROM occ o LEFT JOIN news n ON o.bucket = n.bucket
"""


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

# The driver benchmark subset: doc_id % 97 == 0 AND doc_id < 9700 — at most
# 100 documents at ANY corpus scale, so the broadcast stays bounded.
# (Kept as SQL: Columns cannot be built at import time without an active
# SparkContext.)
_BENCH_PRED_SQL = "doc_id % 97 = 0 AND doc_id < 9700"
DECONTAM_N = 5

# the FUZZY decon driver bench: wider than the exact-decon subset so the
# sf0.01 gate exercises real cross hits (9 corpus docs sit at J >= 0.9 to a
# % 7 bench doc; the % 97 subset intersects none of the planted near-dup
# pairs) — but ABSOLUTELY capped like _BENCH_PRED_SQL (at most 1400 docs at
# ANY corpus scale): the bench side's band rows/shingles/sizes are
# force-broadcast, so a proportional-only predicate would grow the
# broadcast with the corpus and violate the bounded-bench contract.
_FUZZY_BENCH_PRED_SQL = "doc_id % 7 = 0 AND doc_id < 9800"
LINE_DEDUP_W = 8
LINE_DEDUP_MAX_DF = 2


def queries():
    return {
        "decontaminate": lambda s, d: decontaminate(
            load_table(s, d, "documents"),
            load_table(s, d, "documents").where(_BENCH_PRED_SQL),
            n=DECONTAM_N),
        "decontaminate_fuzzy": lambda s, d: decontaminate_fuzzy(
            load_table(s, d, "documents"),
            load_table(s, d, "documents").where(_FUZZY_BENCH_PRED_SQL)),
        "line_dedup": lambda s, d: line_dedup(
            load_table(s, d, "documents"), max_df=LINE_DEDUP_MAX_DF,
            chunk_tokens=LINE_DEDUP_W),
        "pii_redact": lambda s, d: pii_redact(load_transcripts(s, d)),
        "repetition_stats": lambda s, d: repetition_stats(
            load_table(s, d, "documents")),
        "vocab_top_tokens": lambda s, d: vocab_top_tokens(
            load_table(s, d, "documents")),
        "vocab_growth": lambda s, d: vocab_growth(
            load_table(s, d, "documents")),
        "clean_corpus": lambda s, d: clean_corpus(
            load_table(s, d, "documents"),
            load_table(s, d, "documents").where(_BENCH_PRED_SQL),
            n=DECONTAM_N),
    }


def oracles() -> dict[str, str]:
    n = DECONTAM_N
    # DuckDB mirrors: tk[i:i+n-1] is 1-based inclusive slicing; range() is
    # end-exclusive so grams exist only when len(tk) >= n, matching the
    # Spark size guard.
    gram_from = (f"FROM toks, unnest(range(1, greatest(len(tk)-{{n}}+2, 1)))"
                 f" AS r(i)")
    decontam = f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{WORD_RE}') AS tk
  FROM documents
), grams AS (
  SELECT doc_id, array_to_string(tk[i:i+{n}-1], ' ') AS g
  {gram_from.format(n=n)}
), bench AS (
  SELECT DISTINCT g FROM grams WHERE {_BENCH_PRED_SQL}
), hits AS (
  SELECT g2.doc_id, count(*) AS hits
  FROM grams g2 JOIN bench USING (g) GROUP BY g2.doc_id
)
SELECT t.doc_id,
       greatest(len(tk) - {n} + 1, 0) AS n_ngrams,
       coalesce(hits, 0) AS n_hits,
       CAST(coalesce(hits, 0) > 0 AS INT) AS contaminated
FROM toks t LEFT JOIN hits USING (doc_id)
"""
    r6 = f"regexp_replace(text, '{IPV6_PII_RE}', '<IP6>', 'g')"
    r46 = f"regexp_replace({r6}, '{IPV4_PII_RE}', '<IP>', 'g')"
    redact = f"""
WITH transcripts AS ({transcripts_sql('duckdb')})
SELECT conv_id, turn_idx,
       regexp_replace({r46}, '{EMAIL_PII_RE}', '<EMAIL>', 'g') AS red_text,
       len(regexp_extract_all({r6}, '{IPV4_PII_RE}')) AS n_ip4,
       len(regexp_extract_all(text, '{IPV6_PII_RE}')) AS n_ip6,
       len(regexp_extract_all({r46}, '{EMAIL_PII_RE}')) AS n_email
FROM transcripts
"""
    repetition = f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{WORD_RE}') AS tk
  FROM documents
), grams AS (
  SELECT doc_id, array_to_string(tk[i:i+1], ' ') AS g
  {gram_from.format(n=2)}
), bg AS (
  SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g
), bstats AS (
  SELECT doc_id, sum(c) AS nb, count(*) AS ndb, max(c) AS top
  FROM bg GROUP BY doc_id
)
SELECT t.doc_id,
       len(tk) AS n_tokens_r,
       len(list_distinct(tk)) AS n_distinct_tokens,
       CAST(coalesce(nb, 0) AS BIGINT) AS n_bigrams,
       CAST(coalesce(ndb, 0) AS BIGINT) AS n_distinct_bigrams,
       CAST(coalesce(top, 0) AS BIGINT) AS top_bigram_count,
       CAST(coalesce(top, 0) * 5 <= coalesce(nb, 0)
            AND len(list_distinct(tk)) * 2 >= len(tk) AS INT) AS keep_rep
FROM toks t LEFT JOIN bstats USING (doc_id)
"""
    vocab = f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '{WORD_RE}')) AS token
  FROM documents
)
SELECT token, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
FROM toks GROUP BY token
ORDER BY n_occurrences DESC, token ASC LIMIT 50
"""
    # the composed pass reuses the component oracles verbatim as derived
    # tables (DuckDB allows WITH inside a parenthesized subquery), so the
    # composition can never drift from the pieces it is made of
    from logstash_filter_geoip_spark.operators.text_ops import (
        oracles as text_oracles)
    t_or = text_oracles()
    clean = f"""
WITH q AS (SELECT doc_id, keep FROM ({t_or['text_quality']}) tq),
l AS (SELECT doc_id, lang_pred FROM ({t_or['text_lang_id']}) tl),
base AS (SELECT doc_id, md5(text) AS fp FROM documents),
canon AS (SELECT md5(text) AS fp, min(doc_id) AS keep_id
          FROM documents GROUP BY 1),
rep AS (SELECT doc_id, keep_rep FROM ({repetition}) tr),
dec AS (SELECT doc_id, contaminated FROM ({decontam}) td)
SELECT b.doc_id, q.keep AS keep_q,
       CAST(l.lang_pred = 'en' AS INT) AS is_lang,
       rep.keep_rep, dec.contaminated,
       CAST(b.doc_id = c.keep_id AS INT) AS is_canonical,
       CAST(q.keep = 1 AND l.lang_pred = 'en' AND rep.keep_rep = 1
            AND dec.contaminated = 0 AND b.doc_id = c.keep_id AS INT) AS kept
FROM base b JOIN canon c USING (fp)
JOIN q USING (doc_id) JOIN l USING (doc_id)
JOIN rep USING (doc_id) JOIN dec USING (doc_id)
"""
    # fuzzy decon oracle: the EXACT cross-Jaccard between corpus and bench
    # shingle sets (valid because band recall is total at gate scale — the
    # dedup_minhash_lsh promotion pattern; the shingle construction is the
    # same k=3 word-window comprehension as dedup's _JACCARD_CTES).
    # the shingle constants come from dedup — the Spark side shingles via
    # dedup._shingles.
    from logstash_filter_geoip_spark.operators.dedup import (
        JACCARD_THRESHOLD, SHINGLE_K)
    fuzzy = f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{WORD_RE}') AS tk
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                 for i in range(1, len(tk) - {SHINGLE_K - 2})]) AS shingle
  FROM toks
),
sizes AS (SELECT doc_id, count(*) AS n_doc FROM sh GROUP BY doc_id),
bsh AS (SELECT doc_id AS bench_id, shingle FROM sh
        WHERE {_FUZZY_BENCH_PRED_SQL}),
bsizes AS (SELECT bench_id, count(*) AS n_bench FROM bsh GROUP BY bench_id),
shared AS (
  SELECT d.doc_id, b.bench_id, count(*) AS n_shared
  FROM sh d JOIN bsh b USING (shingle) GROUP BY 1, 2
)
SELECT s.doc_id, s.bench_id, s.n_shared, sd.n_doc, bs.n_bench
FROM shared s
JOIN sizes sd ON sd.doc_id = s.doc_id
JOIN bsizes bs USING (bench_id)
WHERE s.n_shared * 1.0 / (sd.n_doc + bs.n_bench - s.n_shared)
      >= {JACCARD_THRESHOLD}
"""
    return {"decontaminate": decontam, "pii_redact": redact,
            "decontaminate_fuzzy": fuzzy,
            "line_dedup": line_dedup_oracle_sql(LINE_DEDUP_MAX_DF,
                                                LINE_DEDUP_W),
            "repetition_stats": repetition, "vocab_top_tokens": vocab,
            "vocab_growth": vocab_growth_oracle_sql(),
            "clean_corpus": clean}
