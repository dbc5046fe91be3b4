"""Corpus/telemetry hygiene operators — session-17 additions.

Five ops a production log + training-data pipeline runs before anything
else touches the data:

  * ``retry_collapse`` — streaming-retry artifact detection over
    transcripts: a turn is SUPERSEDED when the immediately following turn
    (same conversation, ``turn_idx + 1``) has the same role and its text
    is a strict prefix-extension of this turn's text (a resumed/retried
    generation re-sent with more content; the blank-then-content case —
    '' is a strict prefix of any non-empty text — covers empty retry
    husks). Collapsing those is the transcript analogue of the
    reference's "first element wins" list rule (GeoIPFilter.java:186 —
    one canonical value survives).
  * ``prompt_forks`` — SFT-data consistency: identical normalized user
    prompts answered by ≥2 DISTINCT assistant replies across the corpus
    (label noise for supervised pairs; the dual of ``canned_replies``,
    which finds one reply serving many prompts).
  * ``split_leakage`` — near-duplicate pairs that STRADDLE train/valid/
    test boundaries: composed verbatim from ``ngram_jaccard_pairs`` (the
    exact inverted-index near-dup, dedup.py) × ``split_assign`` (the
    salted-hash split rule, packing.py). Never forked: change either
    component and this follows (the training_corpus composition rule).
  * ``seasonal_anomalies`` — hour-of-day seasonal baseline over the event
    stream: per (event_type, hour) the EXACT median of daily counts as
    the integer rational base_num/2 (rank-selected two middle elements —
    never quantile_cont floats), flagging (type, day, hour) cells whose
    count deviates by more than the ppm-style integer thresholds. All
    comparisons are cross-multiplied BIGINTs (the drift rule: no float
    ratios, ties reproduce in every engine).
  * ``erase_users`` / ``erasure_audit`` — compliance erasure (the
    right-to-be-forgotten sweep): drop every event of a tombstoned user
    id, and report per REQUESTED id what was erased (ids absent from the
    corpus report 0 — the audit must list them, not silently omit).

Scale shapes: the two transcript ops are one window over the existing
conv_id partitioning + a two-phase hash aggregate; split_leakage joins
the pair relation to the corpus-sized split relation with hint("merge")
on the split side (the session-10 corpus-derived-join rule — post-agg
size estimates under-report, and AQE can still pick broadcast from real
runtime stats); seasonal_anomalies is bounded-key aggregates + windows
over (type, hour) with NO join-back (the transition_counts lesson: a
window over the already-aggregated relation never re-derives the
pipeline); erasure is a scan-pushed IN filter (PushedFilters) + a
len(ids)-bounded left join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from logstash_filter_geoip_spark.sources.transcripts import (load_table,
                                                             load_transcripts)

# driver-scale parameters, read by BOTH the Spark queries and the
# generated oracle SQL (single definition point per CLAUDE.md)
LEAK_WEIGHTS: tuple[tuple[str, int], ...] = (
    ("train", 2), ("valid", 1), ("test", 1))
LEAK_SALT = "corpus-v1"
ERASE_IDS: tuple[int, ...] = (7, 13, 42, 9999)  # 9999 is absent on purpose
SEASONAL_OVER_PCT = 50   # high: count > (1 + 50%) × median
SEASONAL_UNDER_PCT = 50  # low:  count < (1 − 50%) × median


# ---------------------------------------------------------------------------
# retry_collapse
# ---------------------------------------------------------------------------


def retry_collapse(t: DataFrame) -> DataFrame:
    """Superseded turns: (conv_id, turn_idx, role, cur_len, ext_len) for
    every turn whose NEXT turn (same conv) has the same role (null-safe —
    two NULL-role rows are the "same role") and strictly extends its text.

    The prefix test is ``startswith`` in both engines — identical under
    UTF-8 (a codepoint-prefix is exactly a byte-prefix; UTF-8 is
    prefix-synchronized), so no ASCII-only caveat applies here. NULL text
    coalesces to '' (the truncate_context totality rule), so a NULL/blank
    turn followed by a same-role non-empty turn IS superseded — that is
    the retry husk this operator exists to find. The ABSENCE of a next
    row is keyed off lead(1) IS NULL (positional sentinel rule), never
    off NULL text.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    cur = F.coalesce(F.col("text"), F.lit(""))
    stepped = t.select(
        "conv_id", "turn_idx", "role",
        cur.alias("__cur"),
        F.lead("role").over(w).alias("__next_role"),
        F.coalesce(F.lead("text").over(w), F.lit("")).alias("__next"),
        F.lead(F.lit(1)).over(w).isNotNull().alias("__has_next"))
    sup = (F.col("__has_next")
           & F.col("role").eqNullSafe(F.col("__next_role"))
           & F.startswith(F.col("__next"), F.col("__cur"))
           & (F.col("__next") != F.col("__cur")))
    return (stepped.where(sup)
                   .select("conv_id", "turn_idx", "role",
                           F.length("__cur").cast("int").alias("cur_len"),
                           F.length("__next").cast("int").alias("ext_len")))


def superseded_pairs_pd(pdf):
    """Pandas mirror of the retry_collapse pair rule over ONE
    conversation's turn_idx-sorted frame (columns turn_idx, role, text) —
    the contract retry_collapse_stream's stateful update shares with the
    batch operator (the geo.velocity_pairs_pd precedent): same-role
    null-safe, strict prefix extension, NULL text coalesced to ''. A
    plain row loop: per-conversation turn counts are bounded and the
    frames arrive inside the Arrow barrier. Batch == stream equality is
    pinned in tests."""
    import pandas as pd
    roles = [r if isinstance(r, str) else None
             for r in pdf["role"].tolist()]
    texts = [t if isinstance(t, str) else ""
             for t in pdf["text"].tolist()]
    idx = pdf["turn_idx"].tolist()
    rows = []
    for i in range(len(idx) - 1):
        cur, nxt = texts[i], texts[i + 1]
        same = roles[i] == roles[i + 1] \
            or (roles[i] is None and roles[i + 1] is None)
        if same and nxt != cur and nxt.startswith(cur):
            rows.append((int(idx[i]), roles[i], len(cur), len(nxt)))
    return pd.DataFrame(rows, columns=["turn_idx", "role",
                                       "cur_len", "ext_len"])


def retry_collapse_oracle_sql() -> str:
    """Continuation CTE (appended after the transcripts prefix)."""
    return """, rc_steps AS (
  SELECT conv_id, turn_idx, role,
         coalesce(text, '') AS cur,
         lead(role) OVER w AS next_role,
         coalesce(lead(text) OVER w, '') AS nxt,
         lead(1) OVER w IS NOT NULL AS has_next
  FROM transcripts
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
)
SELECT conv_id, turn_idx, role,
       CAST(length(cur) AS INT) AS cur_len,
       CAST(length(nxt) AS INT) AS ext_len
FROM rc_steps
WHERE has_next AND role IS NOT DISTINCT FROM next_role
  AND starts_with(nxt, cur) AND nxt <> cur
"""


# ---------------------------------------------------------------------------
# prompt_forks
# ---------------------------------------------------------------------------


def prompt_forks(t: DataFrame) -> DataFrame:
    """Normalized user prompts answered inconsistently: (prompt, n_pairs,
    n_replies, n_convs, forked). A pair is a user turn whose IMMEDIATELY
    following turn is an assistant turn (the sft_pairs adjacency);
    prompt/reply normalize with lower(trim(...)) (the canned_replies
    convention); blank/NULL prompts are excluded, blank/NULL replies
    collapse to '' so they still count as one distinct reply value.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    paired = t.select(
        "conv_id", "role", "text",
        F.lead("role").over(w).alias("__next_role"),
        F.lead("text").over(w).alias("__next_text"))
    prompt = F.lower(F.trim(F.col("text")))
    reply = F.coalesce(F.lower(F.trim(F.col("__next_text"))), F.lit(""))
    pairs = (paired.where((F.col("role") == "user")
                          & (F.col("__next_role") == "assistant")
                          & F.col("text").isNotNull()
                          & (F.trim(F.col("text")) != ""))
                   .select(prompt.alias("prompt"), reply.alias("reply"),
                           "conv_id"))
    return (pairs.groupBy("prompt")
                 .agg(F.count(F.lit(1)).alias("n_pairs"),
                      F.count_distinct("reply").alias("n_replies"),
                      F.count_distinct("conv_id").alias("n_convs"))
                 .select("prompt", "n_pairs", "n_replies", "n_convs",
                         (F.col("n_replies") >= 2).cast("int")
                         .alias("forked")))


def prompt_forks_oracle_sql() -> str:
    return f""", pf_pairs AS (
  SELECT lower(trim(text)) AS prompt,
         coalesce(lower(trim(lead(text) OVER w)), '') AS reply,
         conv_id, role,
         lead(role) OVER w AS next_role,
         text
  FROM transcripts
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
)
SELECT prompt,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT reply) AS BIGINT) AS n_replies,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs,
       CAST(count(DISTINCT reply) >= 2 AS INT) AS forked
FROM pf_pairs
WHERE role = 'user' AND next_role = 'assistant'
  AND text IS NOT NULL AND trim(text) <> ''
GROUP BY prompt
"""


# ---------------------------------------------------------------------------
# split_leakage
# ---------------------------------------------------------------------------


def split_leakage(docs: DataFrame) -> DataFrame:
    """Near-duplicate pairs straddling split boundaries: (doc_a, doc_b,
    n_shared, n_a, n_b, split_a, split_b) where jaccard ≥
    dedup.JACCARD_THRESHOLD and split_a ≠ split_b — the contamination a
    decontaminate-vs-benchmark pass cannot see because both docs live
    INSIDE the corpus.

    Composed verbatim from ngram_jaccard_pairs (exact near-dup) and
    split_assign (the one split rule); both split joins carry
    hint("merge") — the split side is one row per document, data-sized
    at 100 TB (the session-10 corpus-derived-join rule).
    """
    from .dedup import ngram_jaccard_pairs
    from .packing import split_assign
    pairs = ngram_jaccard_pairs(docs)
    splits = split_assign(docs, weights=LEAK_WEIGHTS, salt=LEAK_SALT) \
        .select("doc_id", "split")
    sa = (splits.withColumnRenamed("doc_id", "doc_a")
                .withColumnRenamed("split", "split_a").hint("merge"))
    sb = (splits.withColumnRenamed("doc_id", "doc_b")
                .withColumnRenamed("split", "split_b").hint("merge"))
    return (pairs.join(sa, "doc_a").join(sb, "doc_b")
                 .where(F.col("split_a") != F.col("split_b"))
                 .select("doc_a", "doc_b", "n_shared", "n_a", "n_b",
                         "split_a", "split_b"))


def split_leakage_oracle_sql() -> str:
    """Composed from the jaccard-pair CTEs and split_assign's oracle —
    the two component definitions, never a fork."""
    from .dedup import JACCARD_THRESHOLD, _JACCARD_CTES
    from .packing import split_assign_oracle_sql
    split = split_assign_oracle_sql(LEAK_WEIGHTS, LEAK_SALT)
    return f"""
WITH {_JACCARD_CTES},
leak_pairs AS (
  SELECT s.doc_a, s.doc_b, s.n_shared, sa.n_sh AS n_a, sb.n_sh AS n_b
  FROM shared s
  JOIN sizes sa ON sa.doc_id = s.doc_a
  JOIN sizes sb ON sb.doc_id = s.doc_b
  WHERE s.n_shared * 1.0 / (sa.n_sh + sb.n_sh - s.n_shared)
        >= {JACCARD_THRESHOLD}
),
leak_split AS (SELECT doc_id, split FROM ({split}) ss)
SELECT p.doc_a, p.doc_b, p.n_shared, p.n_a, p.n_b,
       la.split AS split_a, lb.split AS split_b
FROM leak_pairs p
JOIN leak_split la ON la.doc_id = p.doc_a
JOIN leak_split lb ON lb.doc_id = p.doc_b
WHERE la.split <> lb.split
"""


# ---------------------------------------------------------------------------
# seasonal_anomalies
# ---------------------------------------------------------------------------


def seasonal_daily(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Stage 1: (event_type, day, hr, n_events) daily-hour cell counts —
    the ADDITIVE state the streaming face persists (cell counts merge by
    plain summation; state = types × days × 24 rows, the rolling_drift
    calendar-sized precedent). NULL-ts rows drop (three-valued; the
    drift rule)."""
    return (events.where(F.col(ts_col).isNotNull())
                  .groupBy("event_type",
                           F.date_trunc("day", F.col(ts_col)).alias("day"),
                           F.hour(ts_col).cast("int").alias("hr"))
                  .agg(F.count(F.lit(1)).alias("n_events")))


def seasonal_flags(daily: DataFrame) -> DataFrame:
    """Stage 2 (the read face): median baselines + anomaly flags over the
    ALREADY-AGGREGATED daily relation — shared verbatim by the batch
    operator and the seasonal face's additive_state_read, so
    drained-stream == batch is an identity of this one function."""
    wo = Window.partitionBy("event_type", "hr").orderBy("n_events", "day")
    wu = Window.partitionBy("event_type", "hr")
    ranked = (daily.select("event_type", "day", "hr", "n_events")
                   .withColumn("__rn", F.row_number().over(wo))
                   .withColumn("__n", F.count(F.lit(1)).over(wu)))
    pick = (F.col("n_events")
            * ((F.col("__rn") == F.expr("(__n + 1) div 2")).cast("long")
               + (F.col("__rn") == F.expr("(__n + 2) div 2")).cast("long")))
    med = ranked.withColumn("base_num", F.sum(pick).over(wu))
    n, base = F.col("n_events"), F.col("base_num")
    hi = 200 * n > (100 + SEASONAL_OVER_PCT) * base
    lo = 200 * n < (100 - SEASONAL_UNDER_PCT) * base
    return (med.where(hi | lo)
               .select("event_type", "hr", "day", "n_events", "base_num",
                       F.when(hi, "high").otherwise("low")
                        .alias("direction")))


def seasonal_anomalies(events: DataFrame) -> DataFrame:
    """Hour-of-day anomaly cells: (event_type, hr, day, n_events,
    base_num, direction) for every (type, day, hour) whose count
    deviates from that (type, hour)'s median daily count by more than
    SEASONAL_OVER_PCT above / SEASONAL_UNDER_PCT below.

    base_num = 2 × median, held EXACT as the sum of the two rank-selected
    middle elements (equal when n is odd) — the qsketch rank-selection
    discipline, never quantile_cont. Flags cross-multiply BIGINTs:
    high iff 200·n > (100+over)·base_num, low iff 200·n <
    (100−under)·base_num. Plan: two bounded-key aggregates + three
    window functions over ONE (type, hour) exchange, no join-back.
    Composed from seasonal_daily (the additive stage the streaming face
    persists) + seasonal_flags (the shared read face) — one definition
    each, never forked.
    """
    return seasonal_flags(seasonal_daily(events))


def seasonal_anomalies_oracle_sql() -> str:
    # day CAST to TIMESTAMP (DuckDB date_trunc('day') yields DATE); window
    # sums/counts CAST to BIGINT (HUGEINT); CTE names seas_-prefixed (the
    # rolling_drift collision rule).
    return f"""
WITH seas_daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         CAST(hour(ts) AS INT) AS hr, CAST(count(*) AS BIGINT) AS n_events
  FROM events WHERE ts IS NOT NULL
  GROUP BY 1, 2, 3
),
seas_rank AS (
  SELECT *,
         row_number() OVER (PARTITION BY event_type, hr
                            ORDER BY n_events, day) AS rn,
         CAST(count(*) OVER (PARTITION BY event_type, hr) AS BIGINT) AS n
  FROM seas_daily
),
seas_med AS (
  SELECT *,
         CAST(sum(n_events * (CASE WHEN rn = (n + 1) // 2 THEN 1 ELSE 0 END
                            + CASE WHEN rn = (n + 2) // 2 THEN 1 ELSE 0 END))
              OVER (PARTITION BY event_type, hr) AS BIGINT) AS base_num
  FROM seas_rank
)
SELECT event_type, hr, day, n_events, base_num,
       CASE WHEN 200 * n_events > {100 + SEASONAL_OVER_PCT} * base_num
            THEN 'high' ELSE 'low' END AS direction
FROM seas_med
WHERE 200 * n_events > {100 + SEASONAL_OVER_PCT} * base_num
   OR 200 * n_events < {100 - SEASONAL_UNDER_PCT} * base_num
"""


# ---------------------------------------------------------------------------
# erasure
# ---------------------------------------------------------------------------


def erase_users(df: DataFrame, ids: tuple[int, ...],
                id_col: str = "user_id") -> DataFrame:
    """Kept rows after tombstoning `ids`: NULL ids are KEPT (a NULL id is
    not any tombstoned user — three-valued, spelled explicitly because a
    bare NOT IN would drop them). The literal NOT-IN predicate reaches
    the scan (PushedFilters — plan-pinned in tests)."""
    if not ids:
        raise ValueError("erase_users: empty tombstone list")
    col = F.col(id_col)
    return df.where(col.isNull() | ~col.isin(*ids))


def erasure_audit(events: DataFrame) -> DataFrame:
    """Per REQUESTED tombstone id in ERASE_IDS: (user_id, n_erased,
    first_ts, last_ts).
    Ids with no rows report n_erased = 0 with NULL timestamps — the audit
    enumerates the request list, never just the matches (left join FROM
    the len(ids)-bounded literal relation)."""
    spark = events.sparkSession
    ids_df = spark.createDataFrame([(int(i),) for i in ERASE_IDS],
                                   "user_id long")
    hit = (events.where(F.col("user_id").isin(*ERASE_IDS))
                 .groupBy("user_id")
                 .agg(F.count(F.lit(1)).alias("n_erased"),
                      F.min("ts").alias("first_ts"),
                      F.max("ts").alias("last_ts")))
    return (ids_df.join(hit, "user_id", "left")
                  .select("user_id",
                          F.coalesce("n_erased", F.lit(0)).alias("n_erased"),
                          "first_ts", "last_ts"))


def erasure_audit_oracle_sql() -> str:
    vals = ", ".join(f"({int(i)})" for i in ERASE_IDS)
    inlist = ", ".join(str(int(i)) for i in ERASE_IDS)
    return f"""
WITH er_ids(user_id) AS (VALUES {vals}),
er_hit AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_erased,
         min(ts) AS first_ts, max(ts) AS last_ts
  FROM events WHERE user_id IN ({inlist})
  GROUP BY 1
)
SELECT i.user_id, CAST(coalesce(h.n_erased, 0) AS BIGINT) AS n_erased,
       h.first_ts, h.last_ts
FROM er_ids i LEFT JOIN er_hit h ON h.user_id = i.user_id
"""


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


def queries():
    return {
        "retry_collapse": lambda s, d: retry_collapse(load_transcripts(s, d)),
        "prompt_forks": lambda s, d: prompt_forks(load_transcripts(s, d)),
        "split_leakage": lambda s, d: split_leakage(
            load_table(s, d, "documents")),
        "seasonal_anomalies": lambda s, d: seasonal_anomalies(
            load_table(s, d, "events")),
        "erasure_audit": lambda s, d: erasure_audit(
            load_table(s, d, "events")),
    }


def oracles(transcripts_prefix: str) -> dict[str, str]:
    """`transcripts_prefix` is the caller's _oracle_prefix() (the WITH
    transcripts chain); the two transcript ops are continuation CTEs."""
    return {
        "retry_collapse": transcripts_prefix + retry_collapse_oracle_sql(),
        "prompt_forks": transcripts_prefix + prompt_forks_oracle_sql(),
        "split_leakage": split_leakage_oracle_sql(),
        "seasonal_anomalies": seasonal_anomalies_oracle_sql(),
        "erasure_audit": erasure_audit_oracle_sql(),
    }
