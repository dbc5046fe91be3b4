"""Conversation-level window operators (SURVEY §2.6: the stable
(conv_id, turn_idx) ordering contract, input_hint).

All per-conversation windows partition by conv_id and order by turn_idx —
the one ordering the input_hint guarantees. At 10^12 turns a conv_id window
is safe: conversations are small (thousands of turns max), so no single
partition key explodes; the hot-key risk is the shuffle DISTRIBUTION, which
salting handles for aggregates (aggregate.salted_conv_rollup) — windows
that genuinely need full-conversation ordering cannot be salted and rely on
AQE skew handling plus the bounded conversation length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# values each Spark operator shares with its DuckDB oracle twin
START_TOKEN, END_TOKEN = "<start>", "<end>"  # transition sentinels
CANNED_MIN_CONVS = 3
TOOL_CHAIN_SEP = ">"
ERROR_PATTERN = "E[0-9][0-9][0-9]"  # backslash-free: same in both engines
LATENCY_QS = (0.5, 0.95)


def conv_turn_features(t: DataFrame) -> DataFrame:
    """Per-turn conversational features: previous role/tool, seconds since
    the previous turn, position statistics. Pure window functions."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    wall = Window.partitionBy("conv_id")
    prev_ts = F.lag("ts").over(w)
    return t.select(
        "conv_id", "turn_idx", "role",
        F.lag("role").over(w).alias("prev_role"),
        F.lead("role").over(w).alias("next_role"),
        F.lag("tool").over(w).alias("prev_tool"),
        # microsecond diff is exact in both engines (storage unit); SECOND
        # variants disagree on sub-second handling (truncate vs boundaries)
        F.expr("timestampdiff(MICROSECOND, lag(ts) OVER "
               "(PARTITION BY conv_id ORDER BY turn_idx), ts)")
         .cast("long").alias("gap_us"),
        F.count(F.lit(1)).over(wall).alias("conv_len"),
        (F.col("turn_idx") == 0).cast("int").alias("is_first"),
    )


def distinct_ip_stats(parsed: DataFrame) -> DataFrame:
    """Exact distinct-IP cardinality + turn counts (metrics contract,
    SURVEY §2.5)."""
    return parsed.agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.count("ip_str").alias("n_with_ip"),
        F.countDistinct("ip_str").alias("n_distinct_ips"),
    )


def sft_pairs(t: DataFrame) -> DataFrame:
    """Extract SFT prompt/response pairs from multi-turn transcripts — the
    instruction-tuning prep step: each user turn opens a pair; the pair's
    response is the ordered concatenation of the assistant turns that
    follow it (before the next user turn); tool/system turns in between
    are counted but not folded into the response.

    One rule, mirrored in the oracle: pair_idx = running count of
    role='user' over (conv_id ORDER BY turn_idx); rows before the first
    user turn (pair_idx 0) are dropped, and pairs with no assistant turn
    are dropped (no response to learn from).

    Returns (conv_id, pair_idx, prompt, response, n_assistant, n_other).

    Scale shape: the running count is one window over conv_id and the
    per-pair rollup groups on (conv_id, pair_idx) — a SUPERSET of the
    window key, so the whole operator is ONE Exchange (the sessionize plan
    rule, pinned). Ordered concat = collect_list of (turn_idx, text)
    structs + sort_array + array_join (compiled collection functions, no
    lambda HOF); collect_list drops the non-assistant NULLs exactly like
    DuckDB's string_agg."""
    w = (Window.partitionBy("conv_id").orderBy("turn_idx")
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    is_user = (F.col("role") == "user").cast("int")
    base = (t.withColumn("pair_idx", F.sum(is_user).over(w))
             .where(F.col("pair_idx") >= 1))
    asst = F.when(F.col("role") == "assistant",
                  F.struct("turn_idx", "text"))
    out = (base.groupBy("conv_id", "pair_idx")
               .agg(F.max(F.when(F.col("role") == "user", F.col("text")))
                     .alias("prompt"),
                    F.array_join(
                        F.sort_array(F.collect_list(asst)).getField("text"),
                        "\n").alias("response"),
                    F.sum((F.col("role") == "assistant").cast("int"))
                     .alias("n_assistant"),
                    F.sum((~F.col("role").isin("user", "assistant"))
                          .cast("int")).alias("n_other")))
    return out.where(F.col("n_assistant") >= 1)


def sft_pairs_oracle_sql() -> str:
    """DuckDB mirror, as a CONTINUATION of a WITH chain that already
    defines `transcripts` (append to __spark_entry__'s oracle prefix).
    pair_idx is CAST to BIGINT (DuckDB window sums are HUGEINT)."""
    return f""", numbered AS (
  SELECT conv_id, turn_idx, role, text,
         CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END)
           OVER (PARTITION BY conv_id ORDER BY turn_idx) AS BIGINT)
           AS pair_idx
  FROM transcripts
),
g AS (
  SELECT conv_id, pair_idx,
         max(CASE WHEN role = 'user' THEN text END) AS prompt,
         string_agg(CASE WHEN role = 'assistant' THEN text END,
                    chr(10) ORDER BY turn_idx) AS response,
         CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_assistant,
         CAST(sum(CASE WHEN role NOT IN ('user', 'assistant')
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_other
  FROM numbered WHERE pair_idx >= 1
  GROUP BY conv_id, pair_idx
)
SELECT * FROM g WHERE n_assistant >= 1
"""


def render_chat(t: DataFrame) -> DataFrame:
    """Render each conversation into ONE training document with role tags
    (the apply-chat-template step that precedes tokenization):
    ``<|role|>text`` per turn, turn order preserved, NULL text renders as
    the empty string. Returns (conv_id, n_turns, chat_text) — feed the
    result to the document pipeline (chunk_documents / pack_sequences /
    dedup) as-is.

    Scale: one two-phase groupBy(conv_id) — a single Exchange; per-conv
    state is the conversation's own turns (collect_list + sort_array +
    array_join, compiled collection functions, no lambda HOF)."""
    rendered = F.concat(F.lit("<|"), F.col("role"), F.lit("|>"),
                        F.coalesce(F.col("text"), F.lit("")))
    return (t.groupBy("conv_id")
             .agg(F.count(F.lit(1)).alias("n_turns"),
                  F.array_join(
                      F.sort_array(F.collect_list(
                          F.struct(F.col("turn_idx"),
                                   rendered.alias("s")))).getField("s"),
                      "\n").alias("chat_text")))


def render_chat_oracle_sql() -> str:
    """DuckDB mirror, as a continuation of a WITH chain defining
    `transcripts` (the sft_pairs_oracle_sql convention)."""
    return f""", rendered AS (
  SELECT conv_id, turn_idx,
         '<|' || role || '|>' || coalesce(text, '') AS s
  FROM transcripts
)
SELECT conv_id, count(*) AS n_turns,
       string_agg(s, chr(10) ORDER BY turn_idx) AS chat_text
FROM rendered GROUP BY conv_id
"""


def rendered_n_tok():
    """THE rendered-turn token rule — ``<|role|>text`` split on whitespace
    runs (the tag glues to the first word; the '\\n' joiner contributes no
    tokens; NULL text AND NULL role render as '' so the rule is TOTAL —
    a NULL n_tok would silently vanish from window sums and give NULL-role
    rows a position-dependent budget, fuzz-caught). ONE definition shared
    by loss_mask_spans and truncate_context; ``RENDERED_N_TOK_SQL`` is its
    token-for-token DuckDB mirror."""
    rendered = F.concat(F.lit("<|"), F.coalesce(F.col("role"), F.lit("")),
                        F.lit("|>"),
                        F.coalesce(F.col("text"), F.lit("")))
    return F.size(F.regexp_extract_all(rendered, F.lit(r"\S+"), 0))


RENDERED_N_TOK_SQL = (
    r"CAST(len(regexp_extract_all("
    r"'<|' || coalesce(role, '') || '|>' || coalesce(text, ''), "
    r"'\S+')) AS BIGINT)")


def loss_mask_spans(t: DataFrame) -> DataFrame:
    """Per-turn token spans inside the ``render_chat`` document — the SFT
    loss mask: trainers compute loss only on assistant tokens, so each
    turn needs its [tok_start, tok_end) range within the rendered
    conversation plus a ``trainable`` flag (1 for assistant turns).

    Token rule (one definition, mirrored in the oracle): a rendered turn
    ``<|role|>text`` tokenizes as whitespace runs (``\\S+`` — the role tag
    glues to the first word, exactly as a real tokenizer would see the
    rendered string), and the '\\n' joiner contributes no tokens, so
    tok_start = running sum of prior turns' token counts per conversation.
    NULL text renders as '' (the render_chat rule), giving the tag-only
    single token.

    Scale: one projection + ONE window over conv_id — a single Exchange,
    no joins (plan-pinned with the render it masks)."""
    n_tok = rendered_n_tok()
    w = (Window.partitionBy("conv_id").orderBy("turn_idx")
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    base = t.select("conv_id", "turn_idx", "role",
                    n_tok.cast("long").alias("n_tok"))
    return (base.withColumn("tok_end", F.sum("n_tok").over(w))
                .select("conv_id", "turn_idx", "role",
                        (F.col("tok_end") - F.col("n_tok"))
                         .alias("tok_start"),
                        "tok_end",
                        (F.col("role") == "assistant").cast("int")
                         .alias("trainable")))


def loss_mask_oracle_sql() -> str:
    """DuckDB mirror, a continuation CTE over `transcripts` (the
    sft_pairs_oracle_sql convention); window sums CAST to BIGINT."""
    return f""", masked AS (
  SELECT conv_id, turn_idx, role,
         {RENDERED_N_TOK_SQL} AS n_tok
  FROM transcripts
)
SELECT conv_id, turn_idx, role,
       CAST(sum(n_tok) OVER (PARTITION BY conv_id ORDER BY turn_idx)
            AS BIGINT) - n_tok AS tok_start,
       CAST(sum(n_tok) OVER (PARTITION BY conv_id ORDER BY turn_idx)
            AS BIGINT) AS tok_end,
       CAST(role = 'assistant' AS INT) AS trainable
FROM masked
"""


def transition_counts(t: DataFrame) -> DataFrame:
    """Markov transition matrix over per-conversation state sequences —
    the clickstream/session-flow staple (which role follows which, which
    tool hands off to which): (from_state, to_state, n_transitions,
    share_ppm) including ``<start>`` → first-turn and last-turn →
    ``<end>`` absorbing transitions, so every conversation contributes
    exactly (turns + 1) transitions and row flows reconcile (the funnel
    convention: sum over from_state='<start>' == number of conversations
    — test-pinned).

    One rule, mirrored in the oracle: transitions order by turn_idx (the
    input_hint's stable ordering); a NULL state is carried verbatim as a
    NULL from/to value (lag/lead pass it through; only the ABSENCE of a
    neighbouring row maps to the sentinels).

    Scale shape: lag + lead share ONE window over conv_id (single window
    node; the transcripts derivation already partitions by conv_id, so
    the exchange is reused); the two candidate transitions per row are an
    array_compact + explode (compiled collection functions — never a
    filter() HOF, the CodegenFallback rule), then a two-phase hash
    aggregate whose shuffle carries distinct state pairs (≤ |states|²
    rows — tiny), with the 1-row total broadcast back (the key_skew ppm
    shape; floor division, integer-exact in every engine)."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    cur = F.col("role")
    # window functions must be materialized in their own projection before
    # the Generate consumes them (Spark rejects a window expr under explode)
    stepped = t.select(
        cur.alias("__cur"),
        F.lag("role").over(w).alias("__prev"),
        (F.row_number().over(w) == 1).alias("__is_first"),
        F.lead(F.lit(1)).over(w).isNull().alias("__is_last"))
    step = F.struct(
        F.when(F.col("__is_first"), F.lit(START_TOKEN))
         .otherwise(F.col("__prev")).alias("from_state"),
        F.col("__cur").alias("to_state"))
    fin = F.when(F.col("__is_last"),
                 F.struct(F.col("__cur").alias("from_state"),
                          F.lit(END_TOKEN).alias("to_state")))
    pairs = (stepped.select(F.explode(F.array_compact(F.array(step, fin)))
                             .alias("tr"))
                    .select("tr.from_state", "tr.to_state"))
    counts = (pairs.groupBy("from_state", "to_state")
                   .agg(F.count(F.lit(1)).alias("n_transitions")))
    # total via a single-partition window over the ALREADY-AGGREGATED
    # relation (≤ (|states|+1)² rows): unlike the key_skew join-back, this
    # never re-derives the upstream pipeline for the total side (the
    # 1-row-agg + join shape recomputes scan→window→explode→agg twice
    # unless AQE happens to reuse the exchange — measured only partial
    # reuse here), and the SinglePartition exchange moves a tiny relation.
    tot = F.sum("n_transitions").over(Window.partitionBy())
    return (counts.withColumn("__total", tot)
                  .select("from_state", "to_state", "n_transitions",
                          F.expr("n_transitions * 1000000 "
                                 "div nullif(__total, 0)")
                           .alias("share_ppm")))


def transition_counts_oracle_sql() -> str:
    """DuckDB mirror, as a CONTINUATION of a WITH chain defining
    `transcripts`. The sentinel arms key off row position (row_number /
    lead(1)), never off state NULLness — a NULL state stays NULL."""
    return f""", steps AS (
  SELECT CASE WHEN row_number() OVER w = 1 THEN '{START_TOKEN}'
              ELSE lag(role) OVER w END AS from_state,
         role AS to_state,
         CASE WHEN lead(1) OVER w IS NULL THEN 1 ELSE 0 END AS is_last
  FROM transcripts
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
),
trans AS (
  SELECT from_state, to_state FROM steps
  UNION ALL
  SELECT to_state AS from_state, '{END_TOKEN}' AS to_state
  FROM steps WHERE is_last = 1
),
tc AS (
  SELECT from_state, to_state, count(*) AS n_transitions FROM trans
  GROUP BY 1, 2
),
tt AS (SELECT sum(n_transitions) AS total FROM tc)
SELECT from_state, to_state, n_transitions,
       CAST(n_transitions * 1000000 // nullif(total, 0) AS BIGINT)
           AS share_ppm
FROM tc, tt
"""


def chat_format_checks(t: DataFrame) -> DataFrame:
    """Per-conversation chat-format validation — the structural QA gate an
    SFT corpus runs before sft_pairs/render_chat: counts of empty turns,
    repeated-speaker adjacencies (user→user / assistant→assistant),
    orphaned tool turns (a 'tool' turn must follow 'assistant' or 'tool'),
    and misplaced system turns (system only as the opener), plus
    starts_ok (first role is system or user), ends_with_assistant, and a
    composite ``valid`` flag. All flags are CAST(coalesce(cond, false) AS
    INT) so a NULL role degrades to a violation-free 0, never a NULL
    aggregate (CASE totality shared with the oracle).

    Positional rules key off row position (row_number()==1 / lead(1) IS
    NULL — the transition_counts sentinel rule), never role NULLness.

    Scale shape: ONE window over (conv_id, turn_idx) — the transcripts
    derivation already partitions by conv_id so the exchange is reused —
    then one hash aggregate on conv_id. No joins, no Python."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    stepped = t.select(
        "conv_id", "role", "text",
        F.lag("role").over(w).alias("__prev"),
        (F.row_number().over(w) == 1).alias("__first"),
        F.lead(F.lit(1)).over(w).isNull().alias("__last"))

    def b(cond):
        return F.coalesce(cond, F.lit(False)).cast("int")

    # trim-based: a whitespace-only reply contributes zero trainable
    # tokens (the \S+ rule) and must not pass the structural gate —
    # the same exclusion rule canned_replies applies
    empty = b(F.col("text").isNull() | (F.trim(F.col("text")) == ""))
    rep = b((F.col("role") == F.col("__prev"))
            & F.col("role").isin("user", "assistant"))
    orph = b((F.col("role") == "tool")
             & (F.col("__first")
                | ~F.col("__prev").isin("assistant", "tool")))
    msys = b((F.col("role") == "system") & ~F.col("__first"))
    agg = stepped.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(empty).alias("n_empty"),
        F.sum(rep).alias("n_repeat_speaker"),
        F.sum(orph).alias("n_orphan_tool"),
        F.sum(msys).alias("n_misplaced_system"),
        F.max(F.when(F.col("__first"),
                     b(F.col("role").isin("system", "user"))))
         .alias("starts_ok"),
        F.max(F.when(F.col("__last"), b(F.col("role") == "assistant")))
         .alias("ends_with_assistant"))
    valid = ((F.col("n_empty") == 0) & (F.col("n_repeat_speaker") == 0)
             & (F.col("n_orphan_tool") == 0)
             & (F.col("n_misplaced_system") == 0)
             & (F.col("starts_ok") == 1)
             & (F.col("ends_with_assistant") == 1))
    return agg.withColumn("valid", valid.cast("int"))


def chat_format_checks_oracle_sql() -> str:
    """DuckDB mirror, a CONTINUATION of a WITH chain defining
    `transcripts` (sums CAST to BIGINT — DuckDB HUGEINT)."""
    return """, chk AS (
  SELECT conv_id, role, text,
         lag(role) OVER w AS prev,
         (row_number() OVER w = 1) AS is_first,
         (lead(1) OVER w IS NULL) AS is_last
  FROM transcripts
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
), chk_agg AS (
  SELECT conv_id,
         CAST(count(*) AS BIGINT) AS n_turns,
         CAST(sum(CAST(coalesce(text IS NULL OR trim(text) = '', FALSE)
                       AS INT)) AS BIGINT) AS n_empty,
         CAST(sum(CAST(coalesce(role = prev
                                AND role IN ('user', 'assistant'), FALSE)
                       AS INT)) AS BIGINT) AS n_repeat_speaker,
         CAST(sum(CAST(coalesce(role = 'tool'
                                AND (is_first
                                     OR NOT prev IN ('assistant', 'tool')),
                                FALSE) AS INT)) AS BIGINT) AS n_orphan_tool,
         CAST(sum(CAST(coalesce(role = 'system' AND NOT is_first, FALSE)
                       AS INT)) AS BIGINT) AS n_misplaced_system,
         max(CASE WHEN is_first
                  THEN CAST(coalesce(role IN ('system', 'user'), FALSE)
                            AS INT) END) AS starts_ok,
         max(CASE WHEN is_last
                  THEN CAST(coalesce(role = 'assistant', FALSE) AS INT)
             END) AS ends_with_assistant
  FROM chk GROUP BY conv_id
)
SELECT *, CAST(n_empty = 0 AND n_repeat_speaker = 0 AND n_orphan_tool = 0
               AND n_misplaced_system = 0 AND starts_ok = 1
               AND ends_with_assistant = 1 AS INT) AS valid
FROM chk_agg
"""


def canned_replies(t: DataFrame,
                   min_convs: int = CANNED_MIN_CONVS) -> DataFrame:
    """Template/canned-reply inventory: normalized assistant texts
    (lower(trim(text)); empty/NULL replies excluded — they are
    chat_format_checks' n_empty, not templates) with use counts, distinct
    conversations reached, and a ``canned`` flag (reply seen in >=
    min_convs conversations — the SFT over-represented-response screen).

    Scale shape: one filter + two-phase aggregate on the normalized
    reply; the single count(DISTINCT conv_id) plans a partial-distinct
    aggregate (no Expand — only multi-distinct fans out)."""
    if min_convs < 1:
        raise ValueError(f"min_convs must be >= 1: {min_convs}")
    a = t.where((F.col("role") == "assistant") & F.col("text").isNotNull()
                & (F.trim(F.col("text")) != ""))
    g = (a.groupBy(F.lower(F.trim(F.col("text"))).alias("reply"))
          .agg(F.count(F.lit(1)).alias("n_uses"),
               F.countDistinct("conv_id").alias("n_convs")))
    return g.withColumn("canned",
                        (F.col("n_convs") >= min_convs).cast("int"))


def canned_replies_oracle_sql() -> str:
    return f""", canned AS (
  SELECT lower(trim(text)) AS reply,
         CAST(count(*) AS BIGINT) AS n_uses,
         CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs
  FROM transcripts
  WHERE role = 'assistant' AND text IS NOT NULL AND trim(text) <> ''
  GROUP BY 1
)
SELECT reply, n_uses, n_convs,
       CAST(n_convs >= {CANNED_MIN_CONVS} AS INT) AS canned
FROM canned
"""


def canned_share(t: DataFrame,
                 min_convs: int = CANNED_MIN_CONVS) -> DataFrame:
    """Per-conversation canned-reply share: how much of each
    conversation's assistant output is template text (n_assistant counts
    only flaggable — nonempty — replies; ppm by truncating integer
    division, the engine-shared rule).

    Scale shape: the reply inventory is a CORPUS-DERIVED relation —
    explicit ``hint("merge")`` (the session-10 rule: post-aggregate size
    estimates under-report and a static-plan broadcast OOMs at 100 TB),
    joined on the normalized reply, then one conv_id aggregate."""
    flags = canned_replies(t, min_convs).select("reply", "canned")
    a = (t.where((F.col("role") == "assistant") & F.col("text").isNotNull()
                 & (F.trim(F.col("text")) != ""))
          .select("conv_id", F.lower(F.trim(F.col("text"))).alias("reply")))
    j = a.join(flags.hint("merge"), "reply", "left")
    return (j.groupBy("conv_id")
             .agg(F.count(F.lit(1)).alias("n_assistant"),
                  F.sum("canned").alias("n_canned"))
             .withColumn("canned_ppm",
                         F.expr("n_canned * 1000000 "
                                "div nullif(n_assistant, 0)")))


def canned_share_oracle_sql() -> str:
    return f""", replies AS (
  SELECT conv_id, lower(trim(text)) AS reply
  FROM transcripts
  WHERE role = 'assistant' AND text IS NOT NULL AND trim(text) <> ''
), inv AS (
  SELECT reply,
         CAST(count(DISTINCT conv_id) >= {CANNED_MIN_CONVS} AS INT) AS canned
  FROM replies GROUP BY 1
)
SELECT r.conv_id,
       CAST(count(*) AS BIGINT) AS n_assistant,
       CAST(sum(i.canned) AS BIGINT) AS n_canned,
       CAST(sum(i.canned) * 1000000 // nullif(count(*), 0) AS BIGINT)
         AS canned_ppm
FROM replies r LEFT JOIN inv i USING (reply)
GROUP BY r.conv_id
"""


def truncate_context(t: DataFrame, max_tokens: int) -> DataFrame:
    """Context-window truncation — the SFT prep step that keeps the
    SUFFIX of each conversation fitting a token budget (trainers cut
    history from the front, never the most recent exchange): a turn
    survives iff the running token total from the conversation's END
    back through this turn is <= max_tokens.

    Token rule: ``rendered_n_tok()`` — the loss_mask_spans rule, one
    shared definition, so truncation budgets and loss-mask spans count
    identically. A single turn larger than the budget drops its whole
    conversation (nothing fits) — by design.

    Scale shape: one projection + ONE descending window over (conv_id,
    turn_idx) + a filter — single Exchange, no joins."""
    if max_tokens < 1:
        raise ValueError(f"max_tokens must be >= 1: {max_tokens}")
    n_tok = rendered_n_tok()
    w = (Window.partitionBy("conv_id").orderBy(F.col("turn_idx").desc())
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    base = t.select("conv_id", "turn_idx", "role", "text",
                    n_tok.cast("long").alias("n_tok"))
    return (base.withColumn("tokens_from_end", F.sum("n_tok").over(w))
                .where(F.col("tokens_from_end") <= max_tokens))


def truncate_context_oracle_sql(max_tokens: int) -> str:
    """DuckDB mirror (continuation CTE; window sums CAST to BIGINT; the
    ROWS frame is explicit so both engines run the identical frame)."""
    return f""", toks AS (
  SELECT conv_id, turn_idx, role, text,
         {RENDERED_N_TOK_SQL} AS n_tok
  FROM transcripts
)
SELECT conv_id, turn_idx, role, text, n_tok, tokens_from_end
FROM (
  SELECT *, CAST(sum(n_tok) OVER (
              PARTITION BY conv_id ORDER BY turn_idx DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS tokens_from_end
  FROM toks
)
WHERE tokens_from_end <= {max_tokens}
"""


def tool_chains(t: DataFrame) -> DataFrame:
    """Tool-call chain mining — the agent-analytics staple transitions
    can't answer (bigrams lose the full workflow): each conversation's
    ordered non-NULL tool sequence becomes one chain string, then chains
    aggregate to (chain, chain_len, n_convs). NULL-tool turns don't
    break a chain (they are simply not tool calls); conversations with
    no tool turns are absent by definition.

    Ordered concat is the sft_pairs shape — collect_list of (turn_idx,
    tool) structs + sort_array + getField + array_join, all compiled
    collection functions, never a lambda HOF (the CodegenFallback rule).

    Scale shape: one conv_id aggregate (the transcripts derivation
    already partitions by conv_id) + one two-phase aggregate on the
    chain string."""
    chains = (t.where(F.col("tool").isNotNull())
               .groupBy("conv_id")
               .agg(F.array_join(
                        F.sort_array(
                            F.collect_list(F.struct("turn_idx", "tool")))
                         .getField("tool"), TOOL_CHAIN_SEP)
                     .alias("chain"),
                    F.count(F.lit(1)).alias("n_tool_turns")))
    return (chains.groupBy("chain")
                  .agg(F.max("n_tool_turns").alias("chain_len"),
                       F.count(F.lit(1)).alias("n_convs")))


def tool_chains_oracle_sql() -> str:
    """DuckDB mirror (continuation CTE): string_agg ORDER BY turn_idx ==
    the sorted-struct concat; counts CAST to BIGINT."""
    return f""", chains AS (
  SELECT conv_id,
         string_agg(tool, '{TOOL_CHAIN_SEP}' ORDER BY turn_idx) AS chain,
         CAST(count(*) AS BIGINT) AS n_tool_turns
  FROM transcripts WHERE tool IS NOT NULL GROUP BY conv_id
)
SELECT chain, CAST(max(n_tool_turns) AS BIGINT) AS chain_len,
       CAST(count(*) AS BIGINT) AS n_convs
FROM chains GROUP BY chain
"""


def error_runs(t: DataFrame) -> DataFrame:
    """Error-burst detection per conversation — the gaps-and-islands
    pattern: consecutive error turns (text matching ``ERROR_PATTERN``,
    deliberately BACKSLASH-FREE — the web.py shared-regex-spelling rule)
    group into runs via the row_number difference trick, then each
    conversation reports (max_error_run, n_error_runs, n_error_turns).
    NULL text is not an error (coalesced false); conversations with zero
    error turns are absent by definition.

    Scale shape: two windows + two aggregates ALL keyed on conv_id — the
    exchange is planned once and reused down the chain."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    base = t.select(
        "conv_id", "turn_idx",
        F.coalesce(F.col("text").rlike(ERROR_PATTERN), F.lit(False))
         .alias("is_err"),
        F.row_number().over(w).alias("__rn"))
    errs = (base.where(F.col("is_err"))
                .withColumn("__rne", F.row_number().over(w)))
    runs = (errs.groupBy("conv_id",
                         (F.col("__rn") - F.col("__rne")).alias("__isl"))
                .agg(F.count(F.lit(1)).alias("run_len")))
    return (runs.groupBy("conv_id")
                .agg(F.max("run_len").alias("max_error_run"),
                     F.count(F.lit(1)).alias("n_error_runs"),
                     F.sum("run_len").alias("n_error_turns")))


def error_runs_oracle_sql() -> str:
    """DuckDB mirror (continuation CTE): identical row_number-difference
    islands; BIGINT casts on counts/sums."""
    return f""", eflags AS (
  SELECT conv_id, turn_idx,
         coalesce(regexp_matches(text, '{ERROR_PATTERN}'), FALSE)
           AS is_err,
         row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn
  FROM transcripts
), errs AS (
  SELECT conv_id, turn_idx, rn,
         row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rne
  FROM eflags WHERE is_err
), eruns AS (
  SELECT conv_id, rn - rne AS isl, CAST(count(*) AS BIGINT) AS run_len
  FROM errs GROUP BY conv_id, rn - rne
)
SELECT conv_id, CAST(max(run_len) AS BIGINT) AS max_error_run,
       CAST(count(*) AS BIGINT) AS n_error_runs,
       CAST(sum(run_len) AS BIGINT) AS n_error_turns
FROM eruns GROUP BY conv_id
"""


def tool_latency_stats(t: DataFrame) -> DataFrame:
    """Per-tool response-latency percentiles — the operational SLO query:
    a tool-call turn's latency proxy is the microsecond gap to the NEXT
    turn in its conversation (the conv_turn_features gap rule, exact in
    both engines — storage-unit arithmetic); last-turn tool calls have no
    next turn and drop out. Exact type-7 percentiles == DuckDB
    quantile_cont (the quantile_stats contract; swap exact=False for the
    approx sketch at 100-TB per-tool domains).

    Scale shape: ONE window over conv_id (exchange reused from the
    derivation) + one aggregate per tool (bounded key domain)."""
    from logstash_filter_geoip_spark.operators.aggregate import \
        quantile_stats
    lat = (t.withColumn(
               "lat_us",
               F.expr("timestampdiff(MICROSECOND, ts, lead(ts) OVER "
                      "(PARTITION BY conv_id ORDER BY turn_idx))")
                .cast("long"))
            .where(F.col("tool").isNotNull()
                   & F.col("lat_us").isNotNull()))
    return quantile_stats(lat, ("tool",), "lat_us", qs=LATENCY_QS,
                          exact=True)


def tool_latency_oracle_sql() -> str:
    """DuckDB mirror (continuation CTE): identical lead-gap in storage
    micros + quantile_cont (type-7 == Spark percentile)."""
    from logstash_filter_geoip_spark.operators.aggregate import \
        _quantile_name
    sel = ",\n       ".join(
        f"quantile_cont(lat_us, {q}) AS {_quantile_name(q)}"
        for q in LATENCY_QS)
    return f""", lat AS (
  SELECT tool,
         CAST(date_diff('microsecond', ts,
                        lead(ts) OVER (PARTITION BY conv_id
                                       ORDER BY turn_idx)) AS BIGINT)
           AS lat_us
  FROM transcripts
)
SELECT tool, {sel}, count(lat_us) AS n_values
FROM lat WHERE tool IS NOT NULL AND lat_us IS NOT NULL
GROUP BY tool
"""
