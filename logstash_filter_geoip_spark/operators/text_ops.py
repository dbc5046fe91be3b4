"""Text-analysis operators over the `documents` table: token counting,
quality scoring, n-gram language ID, and document fingerprinting.

These are the training-data-pipeline extensions (task mandate) — first-class
operators alongside the geoip pipeline. Every operator is expressed with
built-in JVM functions AND has a DuckDB oracle; the fingerprint's driver
query runs the engine-neutral md5 hash family (functions/hashing.py) so the
fold itself is oracle-checked, while the faster xxhash64+crc32 basis stays
the production default (value-locked in tests).

At 100 TB these are embarrassingly parallel scans: no shuffle, full
whole-stage codegen, columns pruned to `doc_id, text` at the parquet reader.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logstash_filter_geoip_spark.functions.hashing import (md5_hash60,
                                                           md5_hash60_sql)
from logstash_filter_geoip_spark.functions.ngrams import (WORD_RE,
                                                          with_gram_array,
                                                          word_tokens)
from logstash_filter_geoip_spark.sources.transcripts import load_table

TOKEN_RE = r"\S+"

# language → stopword alternation (tiny n-gram-ish heuristic; parity-safe
# regex subset for Java regex + RE2)
LANG_STOPWORDS: list[tuple[str, str]] = [
    ("en", r"\b(the|and|of|to|in|is|a)\b"),
    ("es", r"\b(el|la|de|que|y|en|los)\b"),
    ("fr", r"\b(le|la|de|et|les|des|un)\b"),
    ("de", r"\b(der|die|und|das|ist|von|ein)\b"),
]


def token_counts(df: DataFrame) -> DataFrame:
    """Whitespace token count + BPE-ish subword proxy (runs of letters,
    digits, or single punctuation — a cheap upper bound on BPE token count).
    """
    t = F.col("text")
    return df.select(
        "doc_id",
        F.length(t).alias("n_chars"),
        F.size(F.regexp_extract_all(t, F.lit(TOKEN_RE), 0)).alias("n_tokens"),
        F.size(F.regexp_extract_all(t, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0))
         .alias("n_subtokens"),
    )


def quality_cols(text_col: str = "text") -> dict:
    """Output-name → Column map for the quality features — the single
    source shared by quality_scores and composed pipelines
    (curation.clean_corpus computes these in one projection instead of
    joining a separate quality pass)."""
    t = F.col(text_col)
    n_tokens = F.size(F.regexp_extract_all(t, F.lit(TOKEN_RE), 0))
    n_punct = F.size(F.regexp_extract_all(t, F.lit(r"[.,;:!?]"), 0))
    n_digit = F.size(F.regexp_extract_all(t, F.lit(r"[0-9]"), 0))
    n_stop = F.size(F.regexp_extract_all(F.lower(t),
                                         F.lit(LANG_STOPWORDS[0][1]), 0))
    n_chars = F.length(t)
    keep = ((n_tokens >= 5) & (n_chars >= 30) & (n_digit * 4 <= n_chars)
            & (n_stop * 50 >= n_tokens))
    return {"n_chars_q": n_chars, "n_tokens": n_tokens, "n_punct": n_punct,
            "n_digits": n_digit, "n_stopwords": n_stop,
            "keep": keep.cast("int")}


def quality_scores(df: DataFrame) -> DataFrame:
    """Integer-based quality features (ints so the oracle hash is exact):
    char/token/punct/digit/stopword counts and a binary keep flag. The
    stopword leg (task mandate: length/punct/STOPWORD ratios) uses the
    English stopword alternation shared with lang_id; the ratio enters the
    keep rule in cross-multiplied integer form (n_stop * 50 >= n_tokens ≈
    stopword ratio ≥ 2%, a standard natural-text floor) so no float ever
    reaches the oracle hash."""
    return df.select("doc_id", *[c.alias(name) for name, c in
                                 quality_cols().items()])


def lang_cols() -> dict:
    """Output-name → Column map for language ID (shared with composed
    pipelines, same contract as quality_cols)."""
    low = F.lower(F.col("text"))
    scores = {lang: F.size(F.regexp_extract_all(low, F.lit(pat), 0))
              for lang, pat in LANG_STOPWORDS}
    langs = [lang for lang, _ in LANG_STOPWORDS]
    pred = F.lit("unknown")
    # build the argmax CASE from the last language backwards
    for i in range(len(langs) - 1, -1, -1):
        lang = langs[i]
        cond = scores[lang] > 0
        for later in langs[i + 1:]:
            cond = cond & (scores[lang] >= scores[later])
        for earlier in langs[:i]:
            cond = cond & (scores[lang] > scores[earlier])
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    out = {f"s_{lang}": scores[lang] for lang in langs}
    out["lang_pred"] = pred
    return out


def lang_id(df: DataFrame) -> DataFrame:
    """Stopword-hit language ID with deterministic argmax tie-break (declared
    order). Rows with zero hits in every language → 'unknown'."""
    return df.select("doc_id", *[c.alias(name) for name, c in
                                 lang_cols().items()])


def fingerprints(df: DataFrame, hash_basis: str = "native") -> DataFrame:
    """Deterministic document fingerprint: a whole-text hash plus a rolling
    token-fold hash (F.aggregate over a per-token hash — an order-sensitive
    polynomial fold, the set-oriented analogue of a rolling hash).

    hash_basis selects the hash family:
      * "native" (default) — xxhash64 whole-text + crc32 token fold,
        engine-internal and fastest (value-locked by an independent Python
        re-fold in tests).
      * "md5" — the 60-bit md5 family (functions/hashing.py) all three
        engines compute bit-identically, making the whole operator
        oracle-checkable; columns (doc_id, doc_fp60, rolling_fp).
    """
    t = F.col("text")
    toks = word_tokens(t)
    if hash_basis == "md5":
        tok_hash = md5_hash60
        whole = md5_hash60(t).alias("doc_fp60")
    elif hash_basis == "native":
        tok_hash = lambda x: F.crc32(x.cast("binary"))  # noqa: E731
        whole = F.xxhash64(t).alias("xx64")
    else:
        raise ValueError(f"unknown hash_basis {hash_basis!r}")
    # polynomial fold mod a Mersenne prime keeps the accumulator < 2^31 so
    # acc * 1000003 + hash(tok) never overflows long (hash < 2^60, so the
    # sum stays < 2^61 — ANSI-safe, no wraparound in either engine)
    rolling = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, x: F.pmod(acc * F.lit(1000003) + tok_hash(x),
                              F.lit(2147483647)),
    )
    return df.select("doc_id", whole, rolling.alias("rolling_fp"))


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Gopher-style quality rules (Rae et al. 2021, MassiveWeb filtering)
# ---------------------------------------------------------------------------

# count specs shared verbatim by both engines: name → (regex, lowercase?).
# Every downstream rule is an integer cross-multiplied comparison over these
# counts, so no float ever reaches the oracle hash (repo convention).
_GOPHER_COUNTS: dict[str, tuple[str, bool]] = {
    # WORD_RE tokens (the repo-wide tokenizer convention; Gopher's \S+ words
    # differ only on punctuation-glued tokens)
    "n_words": (WORD_RE, True),
    # total chars inside tokens = every [a-z0-9] char (tokens are maximal
    # runs, so per-char counting equals sum of token lengths)
    "n_wordchars": ("[a-z0-9]", True),
    # tokens containing at least one letter
    "n_alpha_words": ("[a-z0-9]*[a-z][a-z0-9]*", True),
    # '#' or ellipsis symbols (Gopher's symbol-to-word screen)
    "n_symbols": (r"#|\.\.\.|…", False),
    # newline count; n_lines = n_newlines + 1
    "n_newlines": (r"\n", False),
    # lines starting with a bullet ([ \t], not \s: Java \s includes \x0B,
    # RE2's does not — the explicit class is engine-neutral)
    "n_bullet_lines": (r"(?m)^[ \t]*[-*•]", False),
    # lines ending in an ellipsis
    "n_ellipsis_lines": (r"(?m)(\.\.\.|…)$", False),
}

# Gopher's "must contain >= 2 of these stop words" screen
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

# rule name → SQL boolean over the count names (dialect-neutral integer
# arithmetic; parsed identically by Spark SQL expr() and DuckDB)
_GOPHER_RULES: dict[str, str] = {
    # 50 <= word count <= 100,000
    "r_word_count": "n_words >= 50 AND n_words <= 100000",
    # mean word length in [3, 10]
    "r_mean_word_len": "n_wordchars >= 3 * n_words AND "
                       "n_wordchars <= 10 * n_words",
    # symbol-to-word ratio <= 0.1
    "r_symbol_ratio": "10 * n_symbols <= n_words",
    # <= 90% of lines start with a bullet
    "r_bullet_lines": "10 * n_bullet_lines <= 9 * (n_newlines + 1)",
    # <= 30% of lines end with an ellipsis
    "r_ellipsis_lines": "10 * n_ellipsis_lines <= 3 * (n_newlines + 1)",
    # >= 80% of words contain an alphabetic character
    "r_alpha_words": "5 * n_alpha_words >= 4 * n_words",
    # >= 2 distinct stop words present
    "r_stop_words": "n_stop_kinds >= 2",
}


def gopher_rules(df: DataFrame) -> DataFrame:
    """Per-document Gopher quality-rule flags (Rae et al. 2021 §A1.1's
    MassiveWeb heuristics): word-count bounds, mean-word-length band,
    symbol-to-word ratio, bullet/ellipsis line screens, alphabetic-word
    ratio, and the stop-word floor, plus ``keep_gopher`` = AND of all.

    One codegen scan — every count is a compiled regexp over the text, every
    rule an integer comparison (`_GOPHER_RULES`, shared verbatim with the
    oracle), no shuffle, no Python. NULL text propagates NULL counts and a
    NULL keep in both engines (the quality_scores convention).
    """
    t = F.col("text")

    def _count(pat: str, lower: bool):
        src = F.lower(t) if lower else t
        return F.size(F.regexp_extract_all(src, F.lit(pat), 0))

    counts = {name: _count(pat, low)
              for name, (pat, low) in _GOPHER_COUNTS.items()}
    counts["n_stop_kinds"] = reduce(
        lambda a, b: a + b,
        [F.regexp_like(F.lower(t), F.lit(rf"\b{w}\b")).cast("int")
         for w in GOPHER_STOPWORDS])
    base = df.select("doc_id",
                     *[c.alias(name) for name, c in counts.items()])
    flags = [F.expr(sql).cast("int").alias(name)
             for name, sql in _GOPHER_RULES.items()]
    flagged = base.select("doc_id", "n_words", "n_stop_kinds", *flags)
    keep = reduce(lambda a, b: a & b,
                  [F.col(name) == 1 for name in _GOPHER_RULES])
    return flagged.withColumn("keep_gopher", keep.cast("int"))


def gopher_rules_oracle() -> str:
    """DuckDB mirror: identical regex counts, identical `_GOPHER_RULES`
    integer comparisons (the SQL strings are shared, not re-derived)."""
    count_exprs = []
    for name, (pat, low) in _GOPHER_COUNTS.items():
        src = "lower(text)" if low else "text"
        count_exprs.append(
            f"len(regexp_extract_all({src}, '{pat}')) AS {name}")
    stop = " + ".join(
        f"CAST(regexp_matches(lower(text), '\\b{w}\\b') AS INT)"
        for w in GOPHER_STOPWORDS)
    count_exprs.append(f"{stop} AS n_stop_kinds")
    flag_exprs = [f"CAST({sql} AS INT) AS {name}"
                  for name, sql in _GOPHER_RULES.items()]
    keep = " AND ".join(f"{name} = 1" for name in _GOPHER_RULES)
    return f"""
WITH gcounts AS (
  SELECT doc_id, {', '.join(count_exprs)} FROM documents
),
gflags AS (
  SELECT doc_id, CAST(n_words AS INT) AS n_words,
         CAST(n_stop_kinds AS INT) AS n_stop_kinds,
         {', '.join(flag_exprs)} FROM gcounts
)
SELECT *, CAST({keep} AS INT) AS keep_gopher FROM gflags
"""


LM_KEEP_AVG_MICRO = -6_500_000  # avg log-prob ≥ -6.5 nats ≈ perplexity 665


def lm_bigram_scores(docs: DataFrame, ref: DataFrame | None = None,
                     keep_avg_micro: int = LM_KEEP_AVG_MICRO) -> DataFrame:
    """CCNet-style language-model quality filtering with a self-trained
    bigram model (the KenLM-perplexity stage of published pipelines,
    re-expressed relationally so it needs no external LM artifact).

    Model: add-one-smoothed bigram LM over the reference corpus (``ref``,
    default: the scored corpus itself — CCNet trains on a clean reference;
    self-scoring is the artifact-free variant, and ``ref`` accepts a clean
    corpus when one exists)::

        P(w2 | w1) = (c(w1 w2) + 1) / (c1(w1) + V)

    with c1(w1) = occurrences of bigrams starting with w1 and V = distinct
    unigram vocabulary of the reference. Each bigram contributes
    ``round(ln(P) * 1e6)`` micro-nats as a BIGINT — integerized so the
    per-document sum is association-free and the oracle hash is exact
    (the repo-wide integerize convention; the only float op is the single
    per-bigram ln, identical in both engines at micro-nat precision).

    Returns (doc_id, n_bigrams, lp_micro_sum, keep_lm) for every input
    row; keep_lm = 1 iff the document has at least one bigram AND its
    average log-prob clears ``keep_avg_micro`` (integer cross-multiplied:
    ``lp_micro_sum >= keep_avg_micro * n_bigrams``).

    Scale shape: two corpus-sized explodes (ref model counts + doc
    scoring), both reduced by two-phase hash aggregates keyed on the gram
    (output is vocab-bounded); the probability lookup is a shuffle join on
    the gram key (the model side is vocab-sized — NOT broadcast: web-scale
    bigram vocabularies are themselves huge); the per-doc rollup reuses a
    doc_id-keyed aggregate. Nothing data-sized touches the driver; V rides
    a one-row broadcast cross join.
    """
    ref = docs if ref is None else ref

    def _bigrams(df):
        toks = df.select("doc_id", word_tokens("text").alias("tk"))
        return (with_gram_array(toks, "tk", 2)
                .select("doc_id", F.explode("grams").alias("g")))

    ref_bg = _bigrams(ref)
    c2 = ref_bg.groupBy("g").agg(F.count(F.lit(1)).alias("c2"))
    c1 = (ref_bg.select(F.get(F.split("g", " "), 0).alias("w1"))
                .groupBy("w1").agg(F.count(F.lit(1)).alias("c1")))
    vocab = (ref.select(F.explode(word_tokens("text")).alias("t"))
                .agg(F.count_distinct("t").alias("v")))

    doc_bg = _bigrams(docs).withColumn(
        "w1", F.get(F.split("g", " "), 0))
    # merge hints pin the documented shuffle join: both model relations are
    # corpus-derived (bigram/unigram vocab) and post-aggregate size
    # estimates under-report — the substring_span_stats OOM lesson (r5
    # session 10); never let a static estimate broadcast a data-sized side
    term = (doc_bg.join(c2.hint("merge"), "g", "left")
                  .join(c1.hint("merge"), "w1", "left")
                  .crossJoin(F.broadcast(vocab))
                  .select(
                      "doc_id",
                      F.round(F.log(
                          (F.coalesce(F.col("c2"), F.lit(0)) + F.lit(1.0))
                          / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v"))
                      ) * F.lit(1_000_000.0), 0).cast("long")
                       .alias("lp_micro")))
    scores = term.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("lp_micro").alias("lp_micro_sum"))
    z = F.lit(0).cast("long")
    n = F.coalesce(F.col("n_bigrams"), z)
    s = F.coalesce(F.col("lp_micro_sum"), z)
    return (docs.select("doc_id").join(scores, "doc_id", "left")
                .select("doc_id", n.alias("n_bigrams"),
                        s.alias("lp_micro_sum"),
                        ((n > 0) & (s >= F.lit(int(keep_avg_micro)) * n))
                         .cast("int").alias("keep_lm")))


def normalize_text(df: DataFrame) -> DataFrame:
    """The standard pre-dedup text canonicalization (CCNet-style): lowercase
    → strip everything but [a-z0-9] and whitespace → collapse whitespace
    runs → trim. Emits (doc_id, norm_text, changed).

    Exact-dedup over ``norm_text`` catches near-copies that differ only in
    case/punctuation/spacing — the cheap normalization layer below MinHash.
    Pure codegen scan (three compiled regexes, no shuffle, no Python).
    ASCII-scoped by design ([a-z0-9] drops non-ASCII letters — the corpus
    invariant; a unicode normalizer needs NFC + \\p{L} classes and loses
    the DuckDB mirror). Oracle note: DuckDB's regexp_replace replaces the
    FIRST match unless passed the 'g' flag — the mirror must carry it
    (Spark's replaces all, flag-free).
    """
    t = F.lower(F.col("text"))
    t = F.regexp_replace(t, r"[^a-z0-9\s]", "")
    t = F.regexp_replace(t, r"\s+", " ")
    norm = F.trim(t)
    return df.select(
        "doc_id", norm.alias("norm_text"),
        (~norm.eqNullSafe(F.col("text"))).cast("int").alias("changed"))


COLLOC_K, COLLOC_MIN_COUNT = 30, 5  # shared with the oracle


def collocations(docs: DataFrame, k: int = COLLOC_K,
                 min_count: int = COLLOC_MIN_COUNT) -> DataFrame:
    """Collocation mining: top-k word bigrams by LIFT (observed bigram
    probability over the independence expectation — the PMI family's
    ratio form, reported raw so no log is needed) with the exact counts
    alongside: (w1, w2, n_pair, n_w1, n_w2, lift). ``min_count`` floors
    n_pair (rare pairs have unboundedly noisy lift — the standard
    collocation guard).

    lift = (n_pair · N · N) / (M · n_w1 · n_w2), evaluated in DOUBLE with
    PINNED left-to-right op order (the embedding_quantize/pagerank rule:
    both engines run the identical IEEE sequence, never an integer
    product that would overflow BIGINT at corpus scale — N² at 10^12
    tokens). Ordering is (lift desc, w1, w2) so the result SET is
    deterministic under float ties.

    Scale shape: bigram and unigram counts are two-phase hash aggregates
    (vocab-bounded output); the pair→word joins are MERGE-hinted (both
    sides corpus-derived vocab relations — the substring_span_stats OOM
    lesson); N and M ride 1-row broadcast cross joins; top-k is a
    TakeOrderedAndProject, never a full sort."""
    toks = docs.select("doc_id", word_tokens("text").alias("tk"))
    uni = toks.select(F.explode("tk").alias("w"))
    c1 = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    n_tot = uni.agg(F.count(F.lit(1)).alias("__n"))
    bg = (with_gram_array(toks, "tk", 2)
          .select(F.explode("grams").alias("g")))
    c2 = (bg.groupBy("g").agg(F.count(F.lit(1)).alias("n_pair"))
            .where(F.col("n_pair") >= min_count)
            .withColumn("w1", F.get(F.split("g", " "), 0))
            .withColumn("w2", F.get(F.split("g", " "), 1)))
    m_tot = bg.agg(F.count(F.lit(1)).alias("__m"))
    out = (c2.join(c1.select(F.col("w").alias("w1"),
                             F.col("c").alias("n_w1")).hint("merge"), "w1")
             .join(c1.select(F.col("w").alias("w2"),
                             F.col("c").alias("n_w2")).hint("merge"), "w2")
             .crossJoin(F.broadcast(n_tot))
             .crossJoin(F.broadcast(m_tot))
             .select("w1", "w2", "n_pair", "n_w1", "n_w2",
                     F.expr("CAST(n_pair AS DOUBLE) * __n * __n"
                            " / (CAST(__m AS DOUBLE) * n_w1 * n_w2)")
                      .alias("lift")))
    return (out.orderBy(F.col("lift").desc(), F.col("w1").asc(),
                        F.col("w2").asc())
               .limit(k))


def collocations_oracle_sql() -> str:
    """DuckDB mirror — identical count SQL and the identical pinned
    double expression for lift."""
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{WORD_RE}') AS tk
  FROM documents
), uni AS (
  SELECT unnest(tk) AS w FROM toks
), c1 AS (
  SELECT w, count(*) AS c FROM uni GROUP BY w
), n_tot AS (SELECT count(*) AS __n FROM uni),
bg AS (
  SELECT tk[i] || ' ' || tk[i + 1] AS g
  FROM toks, unnest(range(1, greatest(len(tk), 1))) AS r(i)
), c2 AS (
  SELECT g, count(*) AS n_pair,
         split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2
  FROM bg GROUP BY g HAVING count(*) >= {COLLOC_MIN_COUNT}
), m_tot AS (SELECT count(*) AS __m FROM bg)
SELECT w1, w2, n_pair, a.c AS n_w1, b.c AS n_w2,
       CAST(n_pair AS DOUBLE) * __n * __n
           / (CAST(__m AS DOUBLE) * a.c * b.c) AS lift
FROM c2
JOIN c1 a ON a.w = c2.w1
JOIN c1 b ON b.w = c2.w2
CROSS JOIN n_tot CROSS JOIN m_tot
ORDER BY lift DESC, w1 ASC, w2 ASC LIMIT {COLLOC_K}
"""


def queries():
    return {
        "text_token_counts": lambda s, d: token_counts(
            load_table(s, d, "documents")),
        "text_quality": lambda s, d: quality_scores(
            load_table(s, d, "documents")),
        "text_lang_id": lambda s, d: lang_id(load_table(s, d, "documents")),
        # driver query runs the md5 family (oracle-checkable end to end);
        # the native xxhash64+crc32 default stays the production path
        "text_fingerprint": lambda s, d: fingerprints(
            load_table(s, d, "documents"),
                                                      hash_basis="md5"),
        "text_lm_score": lambda s, d: lm_bigram_scores(
            load_table(s, d, "documents")),
        "text_gopher_rules": lambda s, d: gopher_rules(
            load_table(s, d, "documents")),
        "text_normalize": lambda s, d: normalize_text(
            load_table(s, d, "documents")),
        "text_collocations": lambda s, d: collocations(
            load_table(s, d, "documents")),
    }


def oracles() -> dict[str, str]:
    lang_scores = ",\n       ".join(
        f"len(regexp_extract_all(lower(text), '{pat}')) AS s_{lang}"
        for lang, pat in LANG_STOPWORDS)
    langs = [lang for lang, _ in LANG_STOPWORDS]
    argmax = "CASE "
    for i, lang in enumerate(langs):
        conds = [f"s_{lang} > 0"]
        conds += [f"s_{lang} >= s_{later}" for later in langs[i + 1:]]
        conds += [f"s_{lang} > s_{earlier}" for earlier in langs[:i]]
        argmax += f"WHEN {' AND '.join(conds)} THEN '{lang}' "
    argmax += "ELSE 'unknown' END"
    return {
        "text_token_counts": r"""
SELECT doc_id, length(text) AS n_chars,
       len(regexp_extract_all(text, '\S+')) AS n_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_subtokens
FROM documents
""",
        "text_quality": r"""
SELECT doc_id, length(text) AS n_chars_q,
       len(regexp_extract_all(text, '\S+')) AS n_tokens,
       len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
       len(regexp_extract_all(text, '[0-9]')) AS n_digits,
       len(regexp_extract_all(lower(text), '""" + LANG_STOPWORDS[0][1] + r"""')) AS n_stopwords,
       CAST(len(regexp_extract_all(text, '\S+')) >= 5
            AND length(text) >= 30
            AND len(regexp_extract_all(text, '[0-9]')) * 4 <= length(text)
            AND len(regexp_extract_all(lower(text), '""" + LANG_STOPWORDS[0][1] + r"""')) * 50
                >= len(regexp_extract_all(text, '\S+'))
            AS INT) AS keep
FROM documents
""",
        "text_lang_id": f"""
SELECT doc_id, {lang_scores},
       {argmax} AS lang_pred
FROM documents
""",
        # mirrors fingerprints(hash_basis="md5") exactly: same tokenizer,
        # same 60-bit md5 hash (hashing.md5_hash60_sql), same polynomial
        # fold mod 2^31-1 via list_reduce (0 prepended as the init value)
        "text_fingerprint": f"""
SELECT doc_id,
       {md5_hash60_sql('text')} AS doc_fp60,
       list_reduce(
         list_prepend(0::BIGINT,
           list_transform(regexp_extract_all(lower(text), '{WORD_RE}'),
                          t -> {md5_hash60_sql('t')})),
         (a, b) -> (a * 1000003 + b) % 2147483647) AS rolling_fp
FROM documents
""",
        # mirrors lm_bigram_scores with ref = the corpus itself: identical
        # tokenizer, add-one bigram model, micro-nat integerization (the
        # single ln is the only float op; round-half-away matches Spark)
        "text_lm_score": f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{WORD_RE}') AS tk
  FROM documents
),
doc_bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(tk)),
                               i -> tk[i] || ' ' || tk[i + 1])) AS g
  FROM toks
),
c2 AS (SELECT g, count(*) AS c2 FROM doc_bg GROUP BY g),
c1 AS (SELECT split_part(g, ' ', 1) AS w1, count(*) AS c1
       FROM doc_bg GROUP BY 1),
vocab AS (SELECT count(DISTINCT t) AS v
          FROM (SELECT unnest(tk) AS t FROM toks)),
terms AS (
  SELECT b.doc_id,
         CAST(round(ln((COALESCE(c2.c2, 0) + 1.0)
                       / (COALESCE(c1.c1, 0) + vocab.v)) * 1000000)
              AS BIGINT) AS lp_micro
  FROM doc_bg b
  LEFT JOIN c2 ON c2.g = b.g
  LEFT JOIN c1 ON c1.w1 = split_part(b.g, ' ', 1)
  CROSS JOIN vocab
),
scores AS (
  SELECT doc_id, count(*) AS n_bigrams, sum(lp_micro) AS lp_micro_sum
  FROM terms GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(s.n_bigrams, 0) AS n_bigrams,
       CAST(COALESCE(s.lp_micro_sum, 0) AS BIGINT) AS lp_micro_sum,
       CAST(COALESCE(s.n_bigrams, 0) > 0
            AND COALESCE(s.lp_micro_sum, 0)
                >= {LM_KEEP_AVG_MICRO} * COALESCE(s.n_bigrams, 0)
            AS INT) AS keep_lm
FROM documents d
LEFT JOIN scores s ON s.doc_id = d.doc_id
""",
        "text_gopher_rules": gopher_rules_oracle(),
        # 'g' flags: DuckDB regexp_replace is first-match-only without them
        "text_normalize": r"""
WITH n AS (
  SELECT doc_id, text,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '',
                                            'g'),
                             '\s+', ' ', 'g')) AS norm_text
  FROM documents
)
SELECT doc_id, norm_text,
       CAST(NOT (norm_text IS NOT DISTINCT FROM text) AS INT) AS changed
FROM n
""",
        "text_collocations": collocations_oracle_sql(),
    }
