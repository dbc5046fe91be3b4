"""Tokenizer-training primitives: distributed word counting and the BPE
merge loop (Sennrich et al. 2016, the standard subword recipe).

The 100-TB shape is the one every production BPE trainer uses: the ONLY
corpus-sized job is a single two-phase word count (map-side partial
aggregation, shuffle bounded by |vocab|, not |corpus|). Everything after —
pair counting and the merge iterations — runs over the distinct-word vocab,
which is orders of magnitude smaller than the corpus and shrinks further
under a min-count prune. ``pair_counts`` keeps that stage distributed and
oracle-checkable; ``bpe_merges`` runs the inherently-sequential merge loop
on the driver over a *bounded, guarded* vocab (the same boundary HF
tokenizers / sentencepiece draw — merges are a strict data dependency
chain, there is nothing to parallelize across iterations).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logstash_filter_geoip_spark.functions.ngrams import WORD_RE, word_tokens
from logstash_filter_geoip_spark.sources.transcripts import load_table


def word_counts(docs: DataFrame, min_count: int = 1) -> DataFrame:
    """Corpus-wide distinct-word frequencies (lowercased WORD_RE tokens).
    One explode + two-phase hash aggregate; the shuffle carries one row per
    distinct word, not per occurrence."""
    toks = docs.select(F.explode(
        word_tokens("text"))
        .alias("word"))
    out = toks.groupBy("word").agg(F.count("*").alias("n"))
    if min_count > 1:
        out = out.where(F.col("n") >= min_count)
    return out


def pair_counts(docs: DataFrame, k: int = 50) -> DataFrame:
    """Adjacent-character-pair frequencies over the corpus — the first BPE
    merge step, fully distributed. Pairs are position-exploded from the
    *vocab* (distinct words weighted by their corpus count), so the explode
    is vocab-sized. Top-k with a deterministic (count desc, pair asc)
    tie-break."""
    w = word_counts(docs)
    return (w.where(F.length("word") >= 2)
             .select("n", "word",
                     F.explode(F.sequence(
                         F.lit(1), F.length("word") - 1)).alias("i"))
             .select("n", F.col("word").substr(F.col("i"), F.lit(2))
                      .alias("pair"))
             .groupBy("pair").agg(F.sum("n").alias("n_occurrences"))
             .orderBy(F.col("n_occurrences").desc(), F.col("pair").asc())
             .limit(k))


# Driver-collect guard for the merge loop's vocab, mirroring
# packing._MAX_BLOCKS: hitting it means min_count/vocab_cap are mis-sized
# for the corpus — fail loudly instead of melting the driver.
_DEFAULT_VOCAB_CAP = 1 << 20


def bpe_merges(docs: DataFrame, n_merges: int = 20,
               vocab_cap: int = _DEFAULT_VOCAB_CAP) -> DataFrame:
    """Full BPE training: one distributed word count, then the sequential
    merge loop on the driver over the bounded vocab.

    Each iteration counts adjacent symbol pairs across the vocab (weighted
    by word frequency), merges the most frequent pair (ties broken by the
    lexicographically smallest pair — fully deterministic), and rewrites the
    affected words. Returns (rank, left, right, merged, pair_count) — rank
    is the merge order, i.e. the tokenizer's merge table.
    """
    if n_merges < 0:
        raise ValueError(f"n_merges must be >= 0, got {n_merges}")
    rows = (word_counts(docs)
            .orderBy(F.col("n").desc(), F.col("word").asc())
            .limit(vocab_cap + 1).collect())
    if len(rows) > vocab_cap:
        raise ValueError(
            f"bpe_merges: vocab exceeds the driver guard ({vocab_cap} "
            f"words); raise min_count or vocab_cap")
    # vocab: symbol-tuple -> corpus count
    vocab = {tuple(r["word"]): r["n"] for r in rows}
    merges = []
    for rank in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, n in vocab.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + n
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (left, right), cnt = best
        merged = left + right
        new_vocab: dict[tuple, int] = {}
        for syms, n in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == left
                        and syms[i + 1] == right):
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + n
        vocab = new_vocab
        merges.append((rank, left, right, merged, cnt))
    spark = docs.sparkSession
    return spark.createDataFrame(
        merges or [],
        "rank int, left string, right string, merged string, pair_count long")


def _apply_merges(word: str, merges: list[tuple[str, str, str]]) -> list[str]:
    """Rewrite one word through the merge table IN RANK ORDER — byte-for-byte
    the training loop's rewrite, so encoding an in-corpus word reproduces
    exactly the symbols training left it with."""
    syms = list(word)
    for left, right, merged in merges:
        if len(syms) < 2:
            break
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                out.append(merged)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def bpe_encode(docs: DataFrame, merges: DataFrame) -> DataFrame:
    """Apply a trained merge table to the corpus: doc → BPE token array.

    The 100-TB shape (what HF/sentencepiece pipelines do on Spark): encode
    each DISTINCT word once — the only Python (an Arrow-batched pandas UDF
    carrying the rank-ordered merge list, bounded by n_merges) runs over the
    vocab, never the corpus — then join the encodings back to the
    position-exploded corpus and reassemble per document in token order.
    Every corpus-sized stage is pure codegen: tokenize+posexplode, the
    word equi-join (vocab side; AQE broadcasts it when it fits), and the
    collect_list/array_sort/flatten reassembly (compiled collection
    functions, not lambda HOFs). Docs with no tokens (NULL/short text)
    come back with an empty array, not a dropped row.

    Returns (doc_id, tokens array<string>, n_tokens int).
    """
    merge_rows = [(r["left"], r["right"], r["merged"])
                  for r in merges.orderBy("rank").collect()]

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def encode_word(words: pd.Series) -> pd.Series:
        return words.map(lambda w: _apply_merges(w, merge_rows))

    toks = docs.select(
        F.col("doc_id"),
        F.posexplode(
            word_tokens("text")
        ).alias("pos", "word"))
    encoded = (toks.select("word").distinct()
               .withColumn("word_toks", encode_word("word")))
    assembled = (
        toks.join(encoded, "word")
            .groupBy("doc_id")
            .agg(F.flatten(
                F.array_sort(F.collect_list(F.struct("pos", "word_toks")))
                 .getField("word_toks")).alias("tokens")))
    return (docs.select("doc_id")
            .join(assembled, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("tokens", F.array().cast("array<string>"))
                     .alias("tokens"))
            .withColumn("n_tokens", F.size("tokens")))


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

PAIR_TOP_K = 50
MERGES_N = 16


def queries():
    return {
        "bpe_pair_counts": lambda s, d: pair_counts(
            load_table(s, d, "documents"), k=PAIR_TOP_K),
        # rows-only by design: the merge loop is inherently iterative (each
        # merge depends on the rewrite of the previous one) — no SQL oracle;
        # correctness is locked by full merge-table equality against an
        # independent regex-based Python BPE (tests/test_mixing_bpe.py).
        "bpe_merges": lambda s, d: bpe_merges(
            load_table(s, d, "documents"), n_merges=MERGES_N),
        # rows-only for the same reason (tokens are a function of the
        # iteratively-trained merge table); locked by independent Python
        # re-encoding of every document in tests/test_mixing_bpe.py.
        "bpe_encode_stats": lambda s, d: q_bpe_encode_stats(s, d),
    }


def q_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the merge table, encode the whole corpus with it, return
    (doc_id, n_tokens) — the tokenize step a packing pipeline runs between
    curation and pack_sequences."""
    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_merges(docs, n_merges=MERGES_N)
    return bpe_encode(docs, merges).select("doc_id", "n_tokens")


def oracles() -> dict[str, str]:
    pairs = f"""
WITH w AS (
  SELECT word, count(*) AS n FROM (
    SELECT unnest(regexp_extract_all(lower(text), '{WORD_RE}')) AS word
    FROM documents)
  GROUP BY word
), p AS (
  SELECT substring(word, i, 2) AS pair, n
  FROM w, unnest(generate_series(1, len(word) - 1)) AS t(i)
  WHERE len(word) >= 2
)
SELECT pair, CAST(sum(n) AS BIGINT) AS n_occurrences
FROM p GROUP BY pair
ORDER BY n_occurrences DESC, pair ASC LIMIT {PAIR_TOP_K}
"""
    return {"bpe_pair_counts": pairs}
