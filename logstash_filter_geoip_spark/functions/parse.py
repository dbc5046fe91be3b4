"""Parse stage: vectorized extraction of IPs, tool mentions, and error codes
from transcript text (SURVEY.md §2.4 F10; mandated by BASELINE.json north_star).

The reference takes the IP from an existing event field and uses the FIRST
element when that field is a list (GeoIPFilter.java:156-163); our parse stage
generalizes that: the first IPv4 literal found in `text` wins. Everything is
built-in `regexp_extract_all` (JVM-side, whole-stage codegen): parse runs no
Python. The patterns below are also the oracle's (__spark_entry__.py imports
them), so Spark and DuckDB scan with one definition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Shared with the DuckDB oracle in __spark_entry__.py, which imports them
# (DuckDB uses RE2, Spark uses Java regex — the subset below is common to
# both; RE2 has no lookbehind, so '::'-leading literals are not extractable
# from free text).
IPV4_RE = r"(\d{1,3}(?:\.\d{1,3}){3})"
# colon-delimited hex groups, optionally ending in an embedded dotted quad
# (NAT64 '64:ff9b::a.b.c.d', mapped '0:0::ffff:a.b.c.d' — VERDICT r3 #5).
# The quad alternative comes FIRST: with the single-hex-char branch first,
# leftmost-first backtracking would stop the match at '64:ff9b::8' instead
# of consuming '8.8.8.8' (same preference order in Java regex and RE2).
IPV6_RE = (r"\b((?:[0-9a-fA-F]{1,4}:){2}[0-9a-fA-F:]*"
           r"(?:\d{1,3}(?:\.\d{1,3}){3}|[0-9a-fA-F]))\b")
ERROR_CODE_RE = r"(E\d{3})"
TOOL_RE = r"\b(search|bash|geoip|browser|python)\b"


def source_may_contain_v6(source: str) -> bool:
    """False only for parse_transcripts' `ip_str`: IPV4_RE matches digits
    and dots, so that column can never hold a ':' and enrich() may take its
    v4-only path (no Arrow key UDF) when no v6 dim is attached. Every other
    source — `ip_any`, `ip6_str`, a user column — may hold a v6 literal."""
    return source != "ip_str"


def first_ipv4(text: Column) -> Column:
    """First IPv4-shaped literal in `text`, else null.

    List-first-element parity: GeoIPFilter.java:156-157 ("first IP wins").
    `F.get` (not element_at) so an empty match list yields null under ANSI.
    """
    return F.get(F.regexp_extract_all(text, F.lit(IPV4_RE), 1), 0)


def first_ipv6(text: Column) -> Column:
    return F.get(F.regexp_extract_all(text, F.lit(IPV6_RE), 1), 0)


def first_error_code(text: Column) -> Column:
    return F.get(F.regexp_extract_all(text, F.lit(ERROR_CODE_RE), 1), 0)


def first_tool_mention(text: Column) -> Column:
    return F.get(F.regexp_extract_all(text, F.lit(TOOL_RE), 1), 0)


def parse_transcripts(df: DataFrame) -> DataFrame:
    """Append extraction columns: ip_str, error_code, tool_mention.

    Blank-IP semantics (P3, GeoIPFilter.java:165-167): the IPv4 regex cannot
    match blank/whitespace, so blank text naturally yields null ip_str —
    which downstream maps to the "target absent" miss class.
    """
    t = F.col("text")
    # cheap contains() pre-filters skip the regex scan on rows that cannot
    # match (no '.', ':', 'E') — ~28% faster parse stage, identical results
    return (
        df.withColumn("ip_str", F.when(t.contains("."), first_ipv4(t)))
          .withColumn("ip6_str", F.when(t.contains(":"), first_ipv6(t)))
          # family-agnostic source for the unified enrich path (the reference
          # field holds either family; v4 wins when a text has both — the
          # "first element" rule, GeoIPFilter.java:156-163). Exception: when
          # the extracted v4 is the embedded quad AT THE TAIL of the v6
          # literal ('64:ff9b::8.8.8.8' extracts both), the v6 literal is
          # the real address — prefer it. endswith(':' || v4), not a plain
          # substring test: an unrelated earlier v4 that happens to be a
          # substring of the v6 text (e.g. '1.2.3.4' inside
          # '2607::11.2.3.45') must NOT flip the preference (ADVICE r4);
          # an embedded quad is always ':'-delimited at the literal's end.
          # Mirrored in the oracle (__spark_entry__._oracle_prefix).
          .withColumn(
              "ip_any",
              F.when(F.col("ip6_str").isNotNull()
                     & (F.col("ip_str").isNull()
                        | F.col("ip6_str").endswith(
                            F.concat(F.lit(":"), F.col("ip_str")))),
                     F.col("ip6_str")).otherwise(F.col("ip_str")))
          .withColumn("error_code", F.when(t.contains("E"), first_error_code(t)))
          .withColumn("tool_mention", first_tool_mention(t))
    )

