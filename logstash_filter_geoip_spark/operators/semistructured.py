"""Semi-structured JSON extraction over event properties.

The reference filter consumes event fields that EARLIER pipeline stages
(the logstash json codec/filter chain) parsed out of raw payloads — an
engine replacing that pipeline needs the parse step itself (the same
boundary functions/grok.py draws for unstructured text; this module is the
structured-payload counterpart). Spark-first: ``from_json`` and
``get_json_object`` are compiled JVM expressions (Jackson inside the
codegen span) — never Python — and both return NULL on malformed input
instead of raising, which is the right 100-TB posture (a poison payload
must not kill a stage; count it, don't crash on it).

Engine-shared semantics (each pinned by the oracle and tests):
  * missing path → NULL; NULL input → NULL;
  * a non-numeric value under a numeric extraction → NULL via ``try_cast``
    (ANSI cast would throw mid-scan);
  * malformed JSON → NULL. Spark's Jackson is lenient by default (it
    accepts single quotes, unquoted keys, leading zeros — all of which
    DuckDB's ``json_valid`` rejects), so every extraction here is gated on
    a STRICT parse (`_STRICT_OPTS`) that rejects those forms too;
  * key histogram: malformed/NULL rows contribute no keys (explode over a
    NULL map emits no rows; DuckDB unnest over NULL likewise).

KNOWN grammar margins where the engines still differ (pinned as
divergences in tests/test_semistructured.py so a silent change is caught;
none is reachable through the driver tables, whose props are well-formed):
  * trailing garbage after a complete value ('{"k":1} x'): Jackson stops
    at the first complete value and ACCEPTS; DuckDB rejects;
  * trailing comma ('{"k":1,}') and bare NaN: DuckDB's yajl ACCEPTS;
    strict Jackson rejects.
Exact grammar intersection would need a shared validator UDF — per-row
Python in a hot scan, the wrong trade (CLAUDE.md no-per-row-Python rule).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from logstash_filter_geoip_spark.sources.transcripts import load_table

# Turn OFF Jackson's non-RFC leniency so the Spark-side NULL set matches
# DuckDB's json_valid on everything except the documented margins above.
_STRICT_OPTS = {
    "allowSingleQuotes": "false",
    "allowUnquotedFieldNames": "false",
    "allowNumericLeadingZeros": "false",
    "allowNonNumericNumbers": "false",
}

_TOP_LEVEL_PATH = re.compile(r"\$\.[A-Za-z0-9_]+\Z")


def json_keys_map(col: Column) -> Column:
    """All top-level fields as map<string,string> (scalar values keep their
    JSON text form); NULL for malformed/NULL input under the strict
    grammar."""
    return F.from_json(col, "map<string,string>", _STRICT_OPTS)


def json_field(col: Column, path: str, dtype: str = "string") -> Column:
    """One JSON-path extraction as a typed column; NULL on malformed JSON
    (strict grammar), missing path, or a value that won't cast. Compiled
    expression — safe in hot scans.

    Top-level scalar paths ('$.name') read straight out of the strict map
    parse — ONE Jackson pass per row. Deeper paths pay a second pass:
    the strict-parse gate plus ``get_json_object`` for the traversal.
    """
    if _TOP_LEVEL_PATH.fullmatch(path):
        # try_element_at: ANSI map access on a missing key raises
        s = F.try_element_at(json_keys_map(col), F.lit(path[2:]))
    else:
        s = F.when(json_keys_map(col).isNotNull(),
                   F.get_json_object(col, path))
    return s if dtype == "string" else s.try_cast(dtype)


def q_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed extraction of props.k + exact per-event-type stats, one scan:
    the JSON parse runs inside the same codegen span as the aggregate's
    map side (integer sums only — no float summation-order noise)."""
    ev = load_table(spark, sf_dir, "events")
    k = json_field(F.col("props"), "$.k", "bigint")
    return (ev.select("event_type", k.alias("k"))
              .groupBy("event_type")
              .agg(F.count(F.lit(1)).alias("n_events"),
                   F.count("k").alias("n_with_k"),
                   F.coalesce(F.sum("k"), F.lit(0)).alias("sum_k"),
                   F.min("k").alias("min_k"),
                   F.max("k").alias("max_k")))


def q_json_key_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema discovery over semi-structured payloads: per top-level key,
    how many events carry it — map parse + explode of the key set, two-phase
    count. At 100 TB this is how you find out what's actually IN `props`
    before declaring a schema."""
    ev = load_table(spark, sf_dir, "events")
    keys = F.map_keys(json_keys_map(F.col("props")))
    return (ev.select(F.explode(keys).alias("key"))
              .groupBy("key")
              .agg(F.count(F.lit(1)).alias("n_events")))


# ---------------------------------------------------------------------------
# log template mining (Drain-style, regex-normalized)
# ---------------------------------------------------------------------------

# (name, pattern, placeholder) — ORDER MATTERS: structured literals must
# collapse before the bare-number rule eats their digits (uuid before hex
# before ip before num). One list consumed by the Column fold, the DuckDB
# SQL fold, and the tests; the regex subset is Java == RE2 (\d, \b,
# alternation-free classes).
TEMPLATE_RULES: list[tuple[str, str, str]] = [
    ("uuid", r"\b[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}"
             r"-[0-9a-f]{12}\b", "<uuid>"),
    ("hex", r"\b0x[0-9a-f]+\b", "<hex>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<ip>"),
    ("num", r"\d+", "<num>"),
]


def log_template(col: Column) -> Column:
    """Normalize a raw log/message line to its TEMPLATE: variable literals
    (uuids, hex ids, IPs, numbers) collapse to typed placeholders, so the
    template is the message's stable identity — the Drain-paper insight,
    expressed as a chain of compiled regexes (pure codegen, no Python, no
    clustering state to maintain)."""
    out = F.lower(col)
    for _, pat, repl in TEMPLATE_RULES:
        out = F.regexp_replace(out, pat, repl)
    return out


def template_sql(expr: str) -> str:
    """DuckDB mirror of log_template ('g' flags — first-match-only
    otherwise)."""
    out = f"lower({expr})"
    for _, pat, repl in TEMPLATE_RULES:
        out = f"regexp_replace({out}, '{pat}', '{repl}', 'g')"
    return out


def log_template_counts(df: DataFrame, text_col: str,
                        min_count: int = 1) -> DataFrame:
    """Per-template event counts — the log-pattern inventory: one codegen
    normalization scan + one two-phase hash aggregate (the shuffle carries
    distinct templates, not lines). ``min_count`` prunes the long tail
    AFTER counting (rare templates are the anomalies; filter the other way
    to find them)."""
    out = (df.select(log_template(F.col(text_col)).alias("template"))
             .groupBy("template")
             .agg(F.count(F.lit(1)).alias("n_events")))
    return out.where(F.col("n_events") >= min_count)


def q_log_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template inventory of the transcripts corpus: every distinct
    message shape with its frequency (IPs/numbers/uuids normalized away)."""
    from logstash_filter_geoip_spark.sources.transcripts import \
        load_transcripts
    return log_template_counts(load_transcripts(spark, sf_dir), "text")


def queries():
    return {
        "json_props_stats": q_json_props_stats,
        "json_key_hist": q_json_key_hist,
        "log_templates": q_log_templates,
    }


def oracles() -> dict[str, str]:
    # json_valid guard: DuckDB's extractors RAISE on malformed JSON where
    # Spark's return NULL — the guard pins the shared NULL semantics.
    return {
        "json_props_stats": """
WITH k AS (
  SELECT event_type,
         TRY_CAST(CASE WHEN props IS NOT NULL AND json_valid(props)
                       THEN json_extract_string(props, '$.k') END
                  AS BIGINT) AS k
  FROM events
)
SELECT event_type,
       count(*) AS n_events,
       count(k) AS n_with_k,
       CAST(coalesce(sum(k), 0) AS BIGINT) AS sum_k,
       min(k) AS min_k,
       max(k) AS max_k
FROM k GROUP BY event_type
""",
        "json_key_hist": """
SELECT key, count(*) AS n_events
FROM (
  SELECT unnest(json_keys(props)) AS key
  FROM events
  WHERE props IS NOT NULL AND json_valid(props)
)
GROUP BY key
""",
        "log_templates": _log_templates_oracle(),
    }


def _log_templates_oracle() -> str:
    from logstash_filter_geoip_spark.sources.transcripts import \
        transcripts_sql
    return f"""
WITH transcripts AS ({transcripts_sql('duckdb')})
SELECT {template_sql('text')} AS template, count(*) AS n_events
FROM transcripts
GROUP BY 1
"""
