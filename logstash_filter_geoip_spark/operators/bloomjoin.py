"""Bloom-filter semi-join pruning: the canonical big-join scan reducer.

Why a 100-TB engine needs this: the dominant cost of `big JOIN small-ish`
is shuffling the big side; when only a fraction of big-side rows have a
partner, a Bloom filter of the build side's keys — a few KB–MB of bits,
broadcast to every task — rejects most non-matching rows BEFORE the
exchange. No false negatives (a present key always passes), a tunable
false-positive rate (extra rows that still shuffle but drop in the real
join — correctness never depends on the filter). Spark's own optimizer
injects the same construct at runtime (`spark.sql.optimizer.runtime.
bloomFilter.enabled`, InjectRuntimeFilter); this operator makes it an
explicit, storable, mergeable, ENGINE-NEUTRAL relation — usable across
jobs (build once at ingest, prune every downstream join) and checkable
bit-for-bit by the DuckDB oracle.

Representation: `(word INT, bits BIGINT)` rows — word w holds bits
[63w, 63w+63) of the filter. 63 bits per word, NOT 64: every mask is
`1 << (idx % 63)` ≤ 2⁶², always a positive BIGINT, so the identical
shift/or/and arithmetic is exact in Spark (ANSI mode), DuckDB (checked
BIGINT — `1::BIGINT << 63` would overflow), and Python. Absent words are
all-zero (the build aggregate only emits words some key touched); probes
coalesce to 0. Merging two filters built with identical (n_words, k,
salt, basis) is `groupBy(word).agg(bit_or(bits))` — pure union semantics,
same as bloom_union below.

Hash family: k indexes per key via the repo's CMS/simhash convention —
frame `bloom:{salt}:{i}:` + key, hash, pmod into the bit space.
`hash_basis="xxhash64"` (engine-native) is the production default;
`"md5"` is the engine-neutral 60-bit family (functions/hashing.py) the
DRIVER query runs, under which the filter — collisions, false positives
and all — is a bit-identical deterministic function of the data in Spark,
DuckDB, and Python (the cms_build promotion pattern: no probabilistic
argument needed at the correctness gate, the oracle rebuilds the SAME
bits and the SAME verdicts).

Scale shape: build is one explode(k) + two-phase hash aggregate whose
shuffle carries at most n_words counter rows (CONSTANT in the input —
the CMS property). Probe is k BroadcastHashJoins of that ≤n_words-row
relation — the broadcast is bounded by the n_words ARGUMENT, never by
the data (the vocab_growth exception to the corpus-derived-join rule;
enforced by _MAX_WORDS). No shuffle touches the probe side at all: the
pruned relation reaches the downstream join with its partitioning intact.

Sizing (standard Bloom math): false-positive rate ≈ (1 − e^(−k·n/m))^k
with m = 63·n_words bits and n distinct build keys; m ≈ 9.6·n and k = 5
give ≈1%. Size m for the PRODUCTION build-side cardinality — a saturated
filter (n ≫ m) stays correct but passes everything.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logstash_filter_geoip_spark.functions.hashing import (md5_hash60,
                                                           md5_hash60_py,
                                                           md5_hash60_sql)
from logstash_filter_geoip_spark.sources.transcripts import load_table

__all__ = ["bloom_build", "bloom_union", "bloom_might_contain",
           "bloom_prune", "bloom_py", "bloom_probe_py",
           "BLOOM_N_WORDS", "BLOOM_K"]

WORD_BITS = 63            # positive-BIGINT masks in every engine
BLOOM_N_WORDS = 1024      # default: 64,512 bits ≈ 6.7k keys at 1% FP
BLOOM_K = 5
BLOOM_SALT = "bloom-v1"  # hash-frame salt: build and probe must agree
# broadcast bound: 2^22 words = 32 MB of bits — far past any sane filter
_MAX_WORDS = 1 << 22


def _check_params(n_words: int, k: int) -> None:
    if n_words < 1 or k < 1:
        raise ValueError(f"n_words and k must be >= 1, got {n_words}, {k}")
    if n_words > _MAX_WORDS:
        raise ValueError(
            f"n_words = {n_words} exceeds the broadcast bound {_MAX_WORDS} "
            "(the probe plan broadcasts the filter to every task)")


def _framed(key_col: str, i: int, salt: str) -> Column:
    return F.concat(F.lit(f"bloom:{salt}:{i}:"),
                    F.col(key_col).cast("string"))


def _bit_index(key_col: str, i: int, n_words: int, salt: str,
               hash_basis: str) -> Column:
    if hash_basis == "xxhash64":
        h = F.xxhash64(_framed(key_col, i, salt))
    elif hash_basis == "md5":
        h = md5_hash60(_framed(key_col, i, salt))
    else:
        raise ValueError(f"hash_basis must be 'xxhash64' or 'md5', "
                         f"got {hash_basis!r}")
    return F.pmod(h, F.lit(n_words * WORD_BITS)).cast("long")


def _bit_index_sql(key_expr: str, i: int, n_words: int) -> str:
    h = md5_hash60_sql(
        f"'bloom:{BLOOM_SALT}:{i}:' || CAST({key_expr} AS STRING)")
    return f"({h} % {n_words * WORD_BITS})"


def bloom_build(df: DataFrame, key_col: str, n_words: int = BLOOM_N_WORDS,
                k: int = BLOOM_K, hash_basis: str = "xxhash64") -> DataFrame:
    """Bloom filter of a key column as `(word INT, bits BIGINT)` rows —
    the storable, mergeable, broadcast-bounded join-pruning state. NULL
    keys are skipped (a NULL is never a member — the CMS convention)."""
    _check_params(n_words, k)
    idx = F.explode(F.array(*[
        _bit_index(key_col, i, n_words, BLOOM_SALT, hash_basis)
        for i in range(k)])).alias("idx")
    rows = (df.where(F.col(key_col).isNotNull())
              .select(idx)
              .select(F.floor(F.col("idx") / WORD_BITS).cast("int")
                       .alias("word"),
                      F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                             f"CAST(pmod(idx, {WORD_BITS}) AS INT))")
                       .alias("mask")))
    return rows.groupBy("word").agg(F.bit_or("mask").alias("bits"))


def bloom_union(filters: DataFrame) -> DataFrame:
    """Merge filters built with IDENTICAL (n_words, k, salt, basis):
    member-of-union semantics, exactly bit_or per word."""
    return filters.groupBy("word").agg(F.bit_or("bits").alias("bits"))


def bloom_might_contain(probe: DataFrame, bloom: DataFrame, key_col: str,
                        n_words: int = BLOOM_N_WORDS, k: int = BLOOM_K,
                        hash_basis: str = "xxhash64",
                        out_col: str = "bloom_hit") -> DataFrame:
    """Append `out_col` (int 0/1) to `probe`: 1 iff all k bits for the key
    are set. Guaranteed 1 for every key the filter was built over (no
    false negatives); NULL keys get 0. k BroadcastHashJoins of the
    ≤n_words-row filter — the probe side is never shuffled."""
    _check_params(n_words, k)
    hits = []
    out = probe
    for i in range(k):
        w, b, m = f"__bw{i}", f"__bb{i}", f"__bm{i}"
        out = out.withColumn("__bidx", _bit_index(key_col, i, n_words,
                                                  BLOOM_SALT, hash_basis))
        out = (out.withColumn(w, F.floor(F.col("__bidx") / WORD_BITS)
                                  .cast("int"))
                  .withColumn(m, F.expr(
                      f"shiftleft(CAST(1 AS BIGINT), "
                      f"CAST(pmod(__bidx, {WORD_BITS}) AS INT))"))
                  .drop("__bidx"))
        side = F.broadcast(bloom.select(F.col("word").alias(w),
                                        F.col("bits").alias(b)))
        out = out.join(side, w, "left")
        hits.append(F.coalesce(F.col(b), F.lit(0).cast("long"))
                     .bitwiseAND(F.col(m)) == F.col(m))
    verdict = hits[0]
    for h in hits[1:]:
        verdict = verdict & h
    out = out.withColumn(
        out_col,
        F.when(F.col(key_col).isNull(), F.lit(0))
         .otherwise(verdict.cast("int")))
    for i in range(k):
        out = out.drop(f"__bw{i}", f"__bb{i}", f"__bm{i}")
    return out


def bloom_prune(probe: DataFrame, bloom: DataFrame, key_col: str,
                n_words: int = BLOOM_N_WORDS, k: int = BLOOM_K,
                hash_basis: str = "xxhash64") -> DataFrame:
    """Drop probe rows the filter proves absent. Semantics contract: for
    any downstream INNER/SEMI join on `key_col` against the build relation,
    join(bloom_prune(probe)) == join(probe) row-for-row — false positives
    only add rows the join drops anyway; false negatives don't exist."""
    flagged = bloom_might_contain(probe, bloom, key_col, n_words, k,
                                  hash_basis, out_col="__bloom_keep")
    return flagged.where(F.col("__bloom_keep") == 1).drop("__bloom_keep")


# ---------------------------------------------------------------------------
# DuckDB mirror (md5 basis) — identical integer arithmetic
# ---------------------------------------------------------------------------

def bloom_oracle_ctes(build_sql: str, build_key: str, probe_sql: str,
                      probe_key: str, n_words: int = BLOOM_N_WORDS,
                      k: int = BLOOM_K, probe_cols: str = "*",
                      lead: str = ",") -> str:
    """DuckDB CTEs rebuilding the SAME filter and probing it: `b_probed`
    exposes `probe_cols` plus `bloom_hit`. `build_sql`/`probe_sql` are
    full SELECTs; keys are column names within them. ``lead=","`` emits a
    continuation block (appended after an existing WITH prefix — the
    transcripts convention); ``lead="WITH"`` emits a standalone prefix."""
    _check_params(n_words, k)
    if lead not in (",", "WITH"):
        raise ValueError(f'lead must be "," or "WITH", got {lead!r}')
    build_arms = "\n    UNION ALL\n".join(
        f"    SELECT {_bit_index_sql(build_key, i, n_words)} AS idx"
        f" FROM b_build WHERE {build_key} IS NOT NULL"
        for i in range(k))
    probe_idx = ",\n         ".join(
        f"{_bit_index_sql(probe_key, i, n_words)} AS __bidx{i}"
        for i in range(k))
    joins = "\n".join(
        f"LEFT JOIN b_words w{i} ON w{i}.word = p.__bidx{i} // {WORD_BITS}"
        for i in range(k))
    tests = "\n           AND ".join(
        f"(coalesce(w{i}.bits, 0) & (CAST(1 AS BIGINT) "
        f"<< CAST(p.__bidx{i} % {WORD_BITS} AS INT)))"
        f" = (CAST(1 AS BIGINT) << CAST(p.__bidx{i} % {WORD_BITS} AS INT))"
        for i in range(k))
    return f"""
{lead} b_build AS ({build_sql})
, b_words AS (
  SELECT idx // {WORD_BITS} AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(idx % {WORD_BITS} AS INT)) AS bits
  FROM (
{build_arms}
  )
  GROUP BY 1
)
, b_probe AS (
  SELECT {probe_cols},
         {probe_idx}
  FROM ({probe_sql})
)
, b_probed AS (
  SELECT {probe_cols},
         CASE WHEN {probe_key} IS NULL THEN 0
              WHEN {tests}
              THEN 1 ELSE 0 END AS bloom_hit
  FROM b_probe p
{joins}
)"""


# ---------------------------------------------------------------------------
# pure-Python reference (value-lock tests)
# ---------------------------------------------------------------------------

def bloom_py(keys, n_words: int = BLOOM_N_WORDS,
             k: int = BLOOM_K) -> dict[int, int]:
    """md5-basis reference build: {word: bits}."""
    _check_params(n_words, k)
    words: dict[int, int] = {}
    for key in keys:
        if key is None:
            continue
        for i in range(k):
            h = md5_hash60_py(f"bloom:{BLOOM_SALT}:{i}:{key}")
            idx = h % (n_words * WORD_BITS)
            words[idx // WORD_BITS] = (words.get(idx // WORD_BITS, 0)
                                       | (1 << (idx % WORD_BITS)))
    return words


def bloom_probe_py(words: dict[int, int], key, n_words: int = BLOOM_N_WORDS,
                   k: int = BLOOM_K) -> int:
    if key is None:
        return 0
    for i in range(k):
        h = md5_hash60_py(f"bloom:{BLOOM_SALT}:{i}:{key}")
        idx = h % (n_words * WORD_BITS)
        if not (words.get(idx // WORD_BITS, 0) >> (idx % WORD_BITS)) & 1:
            return 0
    return 1


# ---------------------------------------------------------------------------
# driver-contract query over the events table
# ---------------------------------------------------------------------------

# undersized ON PURPOSE (256 words = 16,128 bits vs ~2k build keys at
# sf0.01) so the false-positive class is populated and oracle-checked —
# a right-sized filter would make (bloom_hit=1, is_member=0) empty and the
# FP arithmetic untested. One definition for Spark and the oracle.
_Q_WORDS = 256
_Q_K = 5


def q_bloom_prune_counts(spark, sf_dir: str) -> DataFrame:
    """Join-pruning confusion matrix: build a Bloom filter over the error
    events' ids (md5 basis — the filter, its collisions, and every verdict
    are bit-identical in DuckDB), probe ALL events, and count by
    (bloom_hit, is_member). The no-false-negative guarantee is IN the
    oracle-checked output: the (0, 1) cell must not exist."""
    ev = load_table(spark, sf_dir, "events")
    build = ev.where(F.col("event_type") == "error")
    bloom = bloom_build(build, "event_id", n_words=_Q_WORDS, k=_Q_K,
                        hash_basis="md5")
    probed = bloom_might_contain(ev, bloom, "event_id",
                                 n_words=_Q_WORDS, k=_Q_K,
                                 hash_basis="md5")
    return (probed
            .withColumn("is_member",
                        (F.col("event_type") == "error").cast("int"))
            .groupBy("bloom_hit", "is_member")
            .agg(F.count(F.lit(1)).alias("n_events")))


def queries():
    return {"bloom_prune_counts": q_bloom_prune_counts}


def oracles() -> dict[str, str]:
    ctes = bloom_oracle_ctes(
        build_sql="SELECT event_id FROM events WHERE event_type = 'error'",
        build_key="event_id",
        probe_sql="SELECT event_id, event_type FROM events",
        probe_key="event_id",
        n_words=_Q_WORDS, k=_Q_K,
        probe_cols="event_id, event_type", lead="WITH")
    return {
        "bloom_prune_counts": ctes + """
SELECT bloom_hit, CAST(event_type = 'error' AS INT) AS is_member,
       count(*) AS n_events
FROM b_probed
GROUP BY 1, 2
""",
    }
