"""Full-text retrieval over the `documents` table: BM25 scoring and top-k
search for a bounded query-term set.

This is the lexical complement of the embedding ANN operators
(operators/similarity.py): the same "query against a 100-TB corpus" shape,
but over terms instead of vectors. The design is deliberately scan-shaped:

  * corpus statistics (N, total token count, per-term document frequency)
    reduce through ONE two-phase aggregate to a single row, broadcast back
    via a 1-row crossJoin — never a data-sized shuffle;
  * per-document term frequencies are compiled regexp counts inside the
    scan's codegen span (the query-term set is bounded, like the ≤64-query
    contract of ann_brute_force) — no explode, no Python;
  * the final top-k is TakeOrderedAndProject (per-partition heap + driver
    merge of k·partitions rows), never a global sort.

Scoring is BM25 with Lucene's idf variant (k1=1.2, b=0.75 — the exact
form Elasticsearch ships, the natural pick given the reference plugin's
Elastic lineage; the +1 keeps idf positive where Robertson's original goes
negative for df > N/2)::

    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
    w(t, d) = idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))

integerized per term to micro-units (``round(w * 1e6)`` as BIGINT — the
text_lm_score convention: the single ``ln`` is the only transcendental, and
micro-rounding makes the per-document sum association-free so the oracle
hash is exact). The per-term micro scores are summed in the fixed declared
term order; every other operation is +,-,*,/ on doubles (exactly rounded
IEEE, bit-identical across engines — the embedding_quantize precedent).

Term-frequency convention: ``tf`` counts ``\\b<term>\\b`` matches in
``lower(text)`` — equal to WORD_RE-token equality except when the term
abuts an underscore (``_`` is a regex word char in both Java and RE2; the
tokenizer splits on it). Both engines share the same regex, so parity is
structural; the nuance is documented, not load-bearing.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from logstash_filter_geoip_spark.functions.ngrams import WORD_RE, word_tokens
from logstash_filter_geoip_spark.sources.transcripts import load_table

# each constant is a LITERAL parsed once per engine (never computed in
# Python float arithmetic: 1.2 + 1.0 is not bit-identical to the literal
# 2.2, while both engines' parse of "2.2" is)
BM25_K1 = 1.2
BM25_K1_PLUS_1 = 2.2
BM25_B = 0.75
BM25_ONE_MINUS_B = 0.25
MAX_TERMS = 32

# the driver query's term set (mixed selectivity at sf0.01:
# df(dup)=25, df(merge)≈393, df(vector)≈382 of 500 docs)
DRIVER_TERMS = ["dup", "merge", "vector"]
DRIVER_K = 25


def _check_terms(terms: list[str]) -> list[str]:
    if not terms or len(terms) > MAX_TERMS:
        raise ValueError(
            f"terms must be 1..{MAX_TERMS} entries, got {len(terms)} — "
            "for unbounded query sets build an inverted index instead")
    for t in terms:
        if not re.fullmatch(WORD_RE, t):
            raise ValueError(
                f"term {t!r} is not a lowercase {WORD_RE} token")
    return terms


def bm25_scores(df: DataFrame, terms: list[str]) -> DataFrame:
    """Per-document BM25 micro-unit scores for ``terms`` (every doc with at
    least one matching term). Columns: doc_id, dl, tf_<term>..., score_micro.
    """
    terms = _check_terms(terms)
    low = F.lower(F.col("text"))
    dl = F.size(word_tokens("text"))
    tf_cols = {t: F.size(F.regexp_extract_all(low, F.lit(rf"\b{t}\b"), 0))
               for t in terms}
    base = df.select("doc_id", dl.alias("dl"),
                     *[c.alias(f"tf_{t}") for t, c in tf_cols.items()])
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum("dl").cast("double").alias("sum_dl"),
        *[F.sum((F.col(f"tf_{t}") > 0).cast("int")).cast("double")
          .alias(f"df_{t}") for t in terms])
    scored = base.crossJoin(F.broadcast(stats))
    micro = []
    for t in terms:
        tf = F.col(f"tf_{t}").cast("double")
        dfr = F.col(f"df_{t}")
        # pinned evaluation order — mirrored token-for-token in bm25_sql()
        idf = F.log(F.lit(1.0) + (F.col("n_docs") - dfr + F.lit(0.5))
                    / (dfr + F.lit(0.5)))
        norm = (F.lit(BM25_ONE_MINUS_B)
                + F.lit(BM25_B) * (F.col("dl").cast("double")
                                   * F.col("n_docs") / F.col("sum_dl")))
        w = (idf * (tf * F.lit(BM25_K1_PLUS_1))
             / (tf + F.lit(BM25_K1) * norm))
        micro.append(
            F.when(F.col(f"tf_{t}") > 0,
                   F.round(w * F.lit(1_000_000.0), 0).cast("long"))
             .otherwise(F.lit(0).cast("long")))
    total = micro[0]
    for m in micro[1:]:
        total = total + m
    return (scored.select("doc_id", "dl",
                          *[f"tf_{t}" for t in terms],
                          total.alias("score_micro"))
                  .where(F.col("score_micro") != 0))


def bm25_topk(df: DataFrame, terms: list[str], k: int = 10) -> DataFrame:
    """Top-k documents by BM25 score; total order (score desc, doc_id) so
    the cut is deterministic. orderBy+limit compiles to
    TakeOrderedAndProject — no global sort at any scale."""
    return (bm25_scores(df, terms)
            .orderBy(F.col("score_micro").desc(), "doc_id")
            .limit(k))


def bm25_sql(terms: list[str], k: int) -> str:
    """DuckDB mirror of bm25_topk: identical regex counts, identical pinned
    double expression, identical micro-rounding and fixed-order sum."""
    terms = _check_terms(terms)
    tf_exprs = ", ".join(
        f"len(regexp_extract_all(lower(text), '\\b{t}\\b')) AS tf_{t}"
        for t in terms)
    df_exprs = ", ".join(
        f"CAST(sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS DOUBLE)"
        f" AS df_{t}" for t in terms)
    micro = []
    for t in terms:
        idf = f"ln(1.0 + (n_docs - df_{t} + 0.5) / (df_{t} + 0.5))"
        norm = (f"({BM25_ONE_MINUS_B!r} + {BM25_B!r} * "
                f"(CAST(dl AS DOUBLE) * n_docs / sum_dl))")
        w = (f"{idf} * (CAST(tf_{t} AS DOUBLE) * {BM25_K1_PLUS_1!r}) "
             f"/ (CAST(tf_{t} AS DOUBLE) + {BM25_K1!r} * {norm})")
        micro.append(f"CASE WHEN tf_{t} > 0 THEN "
                     f"CAST(round({w} * 1000000.0) AS BIGINT) "
                     f"ELSE 0 END")
    total = " + ".join(f"({m})" for m in micro)
    tf_out = ", ".join(f"CAST(tf_{t} AS INT) AS tf_{t}" for t in terms)
    return f"""
WITH bmbase AS (
  SELECT doc_id,
         len(regexp_extract_all(lower(text), '{WORD_RE}')) AS dl,
         {tf_exprs}
  FROM documents
),
bmstats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         CAST(sum(dl) AS DOUBLE) AS sum_dl, {df_exprs}
  FROM bmbase
),
bmscored AS (
  SELECT doc_id, CAST(dl AS INT) AS dl, {tf_out},
         {total} AS score_micro
  FROM bmbase CROSS JOIN bmstats
)
SELECT * FROM bmscored WHERE score_micro <> 0
ORDER BY score_micro DESC, doc_id
LIMIT {k}
"""


# ---------------------------------------------------------------------------
# multi-query retrieval (inverted index — the unbounded-query-set path)
# ---------------------------------------------------------------------------

# the driver's query relation, single-sourced for both engines
MULTI_QUERIES: list[tuple[int, str]] = [
    (1, "dup"), (1, "merge"),
    (2, "vector"), (2, "key"),
    (3, "slow"), (3, "fast"), (3, "dup"),
]
MULTI_K = 5


def build_postings(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The inverted index as a relation: one row per (term, doc_id) with
    the term frequency and the document's token length. This is the
    artifact a production deployment materializes ONCE (written
    ``bucketBy(term)`` at rest, the per-query term join needs no shuffle at
    all) and probes per query batch; :func:`bm25_multi_topk` accepts it
    via ``postings=`` so repeated query batches never re-tokenize the
    corpus."""
    toks = docs.select(
        "doc_id",
        word_tokens(text_col)
         .alias("tk"))
    return (toks.select("doc_id", F.size("tk").alias("dl"),
                        F.explode("tk").alias("term"))
                .groupBy("term", "doc_id", "dl")
                .agg(F.count(F.lit(1)).alias("tf")))


def bm25_multi_topk(docs: DataFrame, queries_df: DataFrame, k: int = 10,
                    postings: DataFrame | None = None) -> DataFrame:
    """BM25 top-k per query for a query RELATION (query_id, term) — the
    scale path when the query set is itself data-sized and the bounded-term
    scan of :func:`bm25_topk` no longer applies.

    Shape: tokenize → posting list ``(term, doc_id, dl, tf)`` via ONE
    two-phase aggregate (:func:`build_postings` — pass a materialized one
    via ``postings=`` and the corpus is never re-tokenized; written
    ``bucketBy(term)`` at rest the term joins need no Exchange); per-term
    document frequency is a second agg over the postings (vocab-sized
    output); the query relation joins the postings on ``term`` (shuffle
    join — NEITHER side is broadcast by hand: queries may be data-sized,
    AQE broadcasts when small); document length rides INSIDE the posting
    row, so there is no per-doc join at all; corpus totals ride a 1-row
    broadcast. Per-query top-k is a row_number under a total order —
    Spark's WindowGroupLimit prunes each map partition to its local top-k
    BELOW the Exchange (the group_topk pattern), so the shuffle carries
    O(k · partitions) rows per query, never full score lists.

    tf here is exact token equality (the postings are exploded WORD_RE
    tokens), vs the single-query scan's ``\\b`` regex count — identical
    except for the documented underscore nuance. Duplicate (query, term)
    rows double that term's weight (standard bag-of-words query semantics).
    Scoring is the same pinned Lucene-idf BM25 micro-unit expression as
    bm25_scores; the per-(query, doc) sum is an integer aggregate, so it is
    association-free and oracle-exact.
    """
    tf = postings if postings is not None else build_postings(docs)
    # corpus totals come from the DOCS scan, not the postings: documents
    # with zero tokens have no posting rows but still count toward N
    dld = docs.select("doc_id", F.size(
        word_tokens("text"))
        .alias("dl"))
    return bm25_from_index(tf, dld, queries_df, k=k)


def bm25_from_index(postings: DataFrame, doclens: DataFrame,
                    queries_df: DataFrame, k: int = 10) -> DataFrame:
    """The bm25_multi_topk scoring core over a PREBUILT index: ``postings``
    is the (term, doc_id, dl, tf) relation (:func:`build_postings` or the
    drained streaming index state), ``doclens`` is (doc_id, dl) for EVERY
    corpus document — including zero-token and NULL-text docs, which have
    no posting rows but count toward N (and NULL dl stays out of sum_dl,
    matching the batch scan's F.sum semantics). Same pinned Lucene-idf
    expression, same WindowGroupLimit top-k."""
    ts = postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("dfq"))
    corpus = doclens.agg(F.count(F.lit(1)).cast("double").alias("n_docs"),
                         F.sum("dl").cast("double").alias("sum_dl"))
    q = queries_df.select("query_id", F.lower(F.col("term")).alias("term"))
    joined = (q.join(postings, "term")
               .join(ts, "term")
               .crossJoin(F.broadcast(corpus)))
    # pinned evaluation order — mirrored token-for-token in bm25_multi_sql()
    tfd = F.col("tf").cast("double")
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("dfq") + F.lit(0.5))
                / (F.col("dfq") + F.lit(0.5)))
    norm = (F.lit(BM25_ONE_MINUS_B)
            + F.lit(BM25_B) * (F.col("dl").cast("double")
                               * F.col("n_docs") / F.col("sum_dl")))
    w = (idf * (tfd * F.lit(BM25_K1_PLUS_1))
         / (tfd + F.lit(BM25_K1) * norm))
    w_micro = F.round(w * F.lit(1_000_000.0), 0).cast("long")
    sc = (joined.select("query_id", "doc_id", w_micro.alias("w_micro"))
                .groupBy("query_id", "doc_id")
                .agg(F.count(F.lit(1)).alias("n_terms_hit"),
                     F.sum("w_micro").alias("score_micro")))
    rank = F.row_number().over(
        Window.partitionBy("query_id")
              .orderBy(F.col("score_micro").desc(), "doc_id")).cast("int")
    return (sc.withColumn("rank", rank)
              .where(F.col("rank") <= k))


def bm25_multi_sql(query_rows: list[tuple[int, str]], k: int) -> str:
    """DuckDB mirror of bm25_multi_topk over a VALUES query relation."""
    vals = ", ".join(f"({qid}, '{t}')" for qid, t in query_rows)
    idf = "ln(1.0 + (n_docs - dfq + 0.5) / (dfq + 0.5))"
    norm = (f"({BM25_ONE_MINUS_B!r} + {BM25_B!r} * "
            f"(CAST(dl AS DOUBLE) * n_docs / sum_dl))")
    w = (f"{idf} * (CAST(tf AS DOUBLE) * {BM25_K1_PLUS_1!r}) "
         f"/ (CAST(tf AS DOUBLE) + {BM25_K1!r} * {norm})")
    return f"""
WITH mq(query_id, term) AS (VALUES {vals}),
mtoks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{WORD_RE}') AS tk
  FROM documents
),
mdld AS (SELECT doc_id, len(tk) AS dl FROM mtoks),
mpost AS (SELECT doc_id, unnest(tk) AS term FROM mtoks),
mtf AS (SELECT term, doc_id, count(*) AS tf FROM mpost GROUP BY 1, 2),
mts AS (SELECT term, CAST(count(*) AS DOUBLE) AS dfq FROM mtf GROUP BY 1),
mcorpus AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                   CAST(sum(dl) AS DOUBLE) AS sum_dl
            FROM mdld),
mw AS (
  SELECT q.query_id, t.doc_id,
         CAST(round({w} * 1000000.0) AS BIGINT) AS w_micro
  FROM mq q
  JOIN mtf t USING (term)
  JOIN mts USING (term)
  JOIN mdld d ON d.doc_id = t.doc_id
  CROSS JOIN mcorpus
),
msc AS (
  SELECT query_id, doc_id, count(*) AS n_terms_hit,
         CAST(sum(w_micro) AS BIGINT) AS score_micro
  FROM mw GROUP BY 1, 2
)
SELECT query_id, doc_id, n_terms_hit, score_micro, rank FROM (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY query_id ORDER BY score_micro DESC, doc_id) AS INT) AS rank
  FROM msc
) WHERE rank <= {k}
"""


def _multi_queries_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(MULTI_QUERIES, "query_id long, term string")


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# per-document keyword extraction (TF-IDF top terms)
# ---------------------------------------------------------------------------

# numerator scale of the integer keyword score: tf ≤ dl (thousands) so
# tf * 1e9 stays far inside BIGINT while giving df division 9 digits of
# resolution before truncation
TFIDF_SCALE = 1_000_000_000


def tfidf_top_terms(docs: DataFrame, k: int = 5) -> DataFrame:
    """Top-k characteristic terms per document — the keyword-extraction /
    topic-tagging primitive of corpus curation (near-dup cluster naming,
    facet indexes, quality audits).

    Ranks each document's terms by the INTEGER score
    ``(tf * 1e9) div df`` — monotone increasing in term frequency and
    decreasing in document frequency, i.e. the tf-idf ordering principle
    with a rational surrogate for ``ln(N/df)``. The classic float
    ``tf·ln(N/df)`` cannot be rank-exact across engines (near-equal
    products tie-break on summation noise — the zscore lesson); the
    integer score is bit-identical everywhere, and ties resolve on the
    term itself, keeping the selected set total-order unique.

    Scale shape: the postings relation (:func:`build_postings` — the same
    artifact BM25 probes) reduces per term to document frequency; postings
    ⋈ df is a join of two CORPUS-DERIVED relations — merge-hinted, never
    broadcast (the session-10 size-estimate rule) — and the final per-doc
    top-k is a WindowGroupLimit-pruned row_number, O(k) exchanged per map
    partition.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    postings = build_postings(docs)
    df_rel = (postings.groupBy("term")
                      .agg(F.count(F.lit(1)).alias("df")))
    scored = (postings.join(df_rel.hint("merge"), "term")
              .withColumn("score",
                          F.expr(f"tf * CAST({TFIDF_SCALE} AS BIGINT) div df")))
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(),
                                             F.col("term"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= k)
                  .select("doc_id", "rank", "term",
                          F.col("tf").cast("long").alias("tf"),
                          F.col("df").cast("long").alias("df"), "score"))


def tfidf_sql(k: int) -> str:
    """DuckDB mirror: identical tokenization, integer score, total order."""
    return f"""
WITH kwtoks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{WORD_RE}') AS tk
  FROM documents
),
kwexp AS (SELECT doc_id, unnest(tk) AS term FROM kwtoks),
kwtf AS (
  SELECT doc_id, term, count(*) AS tf FROM kwexp GROUP BY doc_id, term
),
kwdf AS (SELECT term, count(*) AS df FROM kwtf GROUP BY term),
kwscore AS (
  SELECT t.doc_id, t.term, t.tf, d.df,
         (t.tf * CAST({TFIDF_SCALE} AS BIGINT)) // d.df AS score
  FROM kwtf t JOIN kwdf d USING (term)
)
SELECT doc_id, rank, term, tf, df, score FROM (
  SELECT doc_id, term, tf, df, score,
         CAST(row_number() OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, term) AS INT) AS rank
  FROM kwscore
) WHERE rank <= {k}
"""


TFIDF_K = 5


# ---------------------------------------------------------------------------
# hybrid retrieval: reciprocal-rank fusion of the lexical and semantic legs
# ---------------------------------------------------------------------------

RRF_K0 = 60          # the standard RRF damping constant (Cormack et al.)
HYBRID_POOL = 20     # per-leg candidate pool depth
HYBRID_K = 10        # fused cut
HYBRID_QUERY_VEC = 0  # the ANN leg's query vector (in the % QUERY_MOD set)


def rrf_fuse(lex: DataFrame, sem: DataFrame, k0: int = RRF_K0,
             k: int = HYBRID_K) -> DataFrame:
    """Reciprocal-rank fusion of two bounded rank relations — the standard
    hybrid-search combiner (score = Σ 1/(k0 + rank) over the legs a doc
    appears in). Inputs: ``lex`` (doc_id, r_lex) and ``sem`` (doc_id,
    r_sem), each with UNIQUE doc_id (top-k pools by contract — a duplicate
    would fan out the join).

    Exactness: the two-term score is carried as an exact BIGINT rational —
    both legs: num = 2·k0 + r1 + r2, den = (k0+r1)(k0+r2); one leg:
    num = 1, den = k0 + r. ``rrf_score`` is the SINGLE double division
    num/den (one IEEE op — bit-identical across engines; never a sum of
    float terms, whose associativity is engine-ordered). Both inputs are
    k-sized by contract, so every downstream op is bounded — the
    bloomjoin "bounded by the argument" broadcast rule, not a data-sized
    broadcast."""
    j = (lex.select("doc_id", F.col("r_lex").cast("long").alias("r_lex"))
            .join(sem.select("doc_id",
                             F.col("r_sem").cast("long").alias("r_sem")),
                  "doc_id", "full_outer"))
    both = F.col("r_lex").isNotNull() & F.col("r_sem").isNotNull()
    num = F.when(both, F.lit(2 * k0) + F.col("r_lex") + F.col("r_sem")) \
           .otherwise(F.lit(1)).cast("long")
    den = F.when(both, (F.lit(k0) + F.col("r_lex"))
                 * (F.lit(k0) + F.col("r_sem"))) \
           .otherwise(F.lit(k0) + F.coalesce("r_lex", "r_sem")) \
           .cast("long")
    return (j.select("doc_id", "r_lex", "r_sem",
                     num.alias("rrf_num"), den.alias("rrf_den"),
                     (num.cast("double") / den.cast("double"))
                     .alias("rrf_score"))
             .orderBy(F.desc("rrf_score"), "doc_id")
             .limit(k))


def q_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search over the document corpus: the BM25 lexical pool
    (DRIVER_TERMS) fused with the cosine-ANN semantic pool of query vector
    HYBRID_QUERY_VEC, under the embeddings-are-document-vectors linkage
    (vec_id ≡ doc_id in the test corpus). The rank window runs over a
    ≤HYBRID_POOL-row relation — bounded by contract."""
    from pyspark.sql import Window

    from logstash_filter_geoip_spark.operators import similarity

    pool = bm25_topk(load_table(spark, sf_dir, "documents"), DRIVER_TERMS,
                     k=HYBRID_POOL)
    lex = pool.select(
        "doc_id",
        F.row_number().over(
            Window.orderBy(F.desc("score_micro"), "doc_id"))
         .alias("r_lex"))
    sem = (similarity.brute_force_topk(similarity._emb(spark, sf_dir),
                                       k=HYBRID_POOL)
           .where(F.col("query_id") == HYBRID_QUERY_VEC)
           .select(F.col("neighbor_id").alias("doc_id"),
                   F.col("rank").alias("r_sem")))
    return rrf_fuse(lex, sem)


def hybrid_oracle_sql() -> str:
    """DuckDB mirror composed VERBATIM from the two leg oracles (bm25_sql
    at pool depth; similarity.ann_oracle_sql at pool depth, filtered to
    the fusion query vector) — change a leg, the composition follows."""
    from logstash_filter_geoip_spark.operators import similarity

    lex_sql = bm25_sql(DRIVER_TERMS, HYBRID_POOL)
    sem_sql = similarity.ann_oracle_sql(k=HYBRID_POOL)
    return f"""
WITH hy_lex AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id)
              AS BIGINT) AS r_lex
  FROM ({lex_sql}) bm
),
hy_sem AS (
  SELECT neighbor_id AS doc_id, CAST(rank AS BIGINT) AS r_sem
  FROM ({sem_sql}) an
  WHERE query_id = {HYBRID_QUERY_VEC}
),
hy_j AS (
  SELECT coalesce(l.doc_id, s.doc_id) AS doc_id, l.r_lex, s.r_sem
  FROM hy_lex l FULL JOIN hy_sem s ON l.doc_id = s.doc_id
),
hy_sc AS (
  SELECT doc_id, r_lex, r_sem,
         CAST(CASE WHEN r_lex IS NOT NULL AND r_sem IS NOT NULL
                   THEN {2 * RRF_K0} + r_lex + r_sem ELSE 1 END
              AS BIGINT) AS rrf_num,
         CAST(CASE WHEN r_lex IS NOT NULL AND r_sem IS NOT NULL
                   THEN ({RRF_K0} + r_lex) * ({RRF_K0} + r_sem)
                   ELSE {RRF_K0} + coalesce(r_lex, r_sem) END
              AS BIGINT) AS rrf_den
  FROM hy_j
)
SELECT doc_id, r_lex, r_sem, rrf_num, rrf_den,
       CAST(rrf_num AS DOUBLE) / CAST(rrf_den AS DOUBLE) AS rrf_score
FROM hy_sc
ORDER BY rrf_score DESC, doc_id
LIMIT {HYBRID_K}
"""


def queries():
    return {
        "bm25_topk": lambda s, d: bm25_topk(
            load_table(s, d, "documents"), DRIVER_TERMS,
                                            k=DRIVER_K),
        "hybrid_topk": q_hybrid_topk,
        "tfidf_top_terms": lambda s, d: tfidf_top_terms(
            load_table(s, d, "documents"),
                                                        k=TFIDF_K),
        "bm25_multi_topk": lambda s, d: bm25_multi_topk(
            load_table(s, d, "documents"), _multi_queries_df(s), k=MULTI_K),
    }


def oracles() -> dict[str, str]:
    return {
        "bm25_topk": bm25_sql(DRIVER_TERMS, DRIVER_K),
        "bm25_multi_topk": bm25_multi_sql(MULTI_QUERIES, MULTI_K),
        "tfidf_top_terms": tfidf_sql(TFIDF_K),
        "hybrid_topk": hybrid_oracle_sql(),
    }
