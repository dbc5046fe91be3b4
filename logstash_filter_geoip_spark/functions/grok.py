"""Grok-pattern support: compile `%{NAME:field}` templates to regexes and
apply them as one vectorized extraction per field.

The reference lives inside the Logstash ecosystem, where the step before
geoip is typically a grok filter that parses the raw line ("grok/regex
parse" per BASELINE.json north_star). This module provides the same
authoring surface on Spark: a grok template compiles to a single Java/RE2-
compatible regex with named groups, and `grok_extract` emits one column per
named capture via built-in `regexp_extract` (JVM, codegen — no Python).

Pattern registry is the standard grok core subset (public syntax; names
match the conventional grok base patterns).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# RE2-safe subset (works in both Spark's Java regex and DuckDB's RE2, so
# oracle queries can share the compiled pattern verbatim).
BASE_PATTERNS: dict[str, str] = {
    "WORD": r"\w+",
    "NOTSPACE": r"\S+",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "INT": r"[+-]?\d+",
    "NUMBER": r"[+-]?\d+(?:\.\d+)?",
    "BASE16NUM": r"(?:0[xX])?[0-9a-fA-F]+",
    "IPV4": r"(?:\d{1,3}\.){3}\d{1,3}",
    "IPV6": r"(?:[0-9a-fA-F]{0,4}:){2,7}[0-9a-fA-F:.]+",
    "HOSTNAME": r"[a-zA-Z0-9][a-zA-Z0-9._-]*",
    "USER": r"[a-zA-Z0-9._-]+",
    "UUID": r"[0-9a-fA-F]{8}-(?:[0-9a-fA-F]{4}-){3}[0-9a-fA-F]{12}",
    "LOGLEVEL": r"(?:TRACE|DEBUG|INFO|NOTICE|WARN(?:ING)?|ERR(?:OR)?|CRIT(?:ICAL)?|FATAL)",
    "TIMESTAMP_ISO8601": r"\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}(?:\.\d+)?(?:Z|[+-]\d{2}:?\d{2})?",
    "HTTPMETHOD": r"(?:GET|POST|PUT|DELETE|HEAD|OPTIONS|PATCH)",
    "ERRORCODE": r"E\d{3}",
    "TOOLNAME": r"(?:search|bash|geoip|browser|python)",
}

_GROK_REF = re.compile(r"%\{(\w+)(?::(\w+))?\}")


class GrokError(ValueError):
    pass


def compile_grok(template: str) -> tuple[str, list[str]]:
    """'client %{IPV4:ip} said %{ERRORCODE:code}' ->
    (regex with one capturing group per named field, [field names]).

    Unnamed references (%{IPV4}) match without capturing. Unknown pattern
    names raise GrokError listing valid names (F7-style error ergonomics).
    """
    fields: list[str] = []

    def sub(m: re.Match) -> str:
        name, field = m.group(1), m.group(2)
        if name not in BASE_PATTERNS:
            raise GrokError(
                f"unknown grok pattern %{{{name}}}; valid: "
                f"{sorted(BASE_PATTERNS)}")
        body = BASE_PATTERNS[name]
        if field:
            if field in fields:
                raise GrokError(f"duplicate grok field {field!r}")
            fields.append(field)
            return f"({body})"
        return f"(?:{body})"

    # escape regex metachars in the literal text BETWEEN grok references
    out: list[str] = []
    last = 0
    for m in _GROK_REF.finditer(template):
        out.append(re.escape(template[last:m.start()]))
        out.append(sub(m))
        last = m.end()
    out.append(re.escape(template[last:]))
    return "".join(out), fields


def grok_extract(df: DataFrame, template: str) -> DataFrame:
    """Append one column per grok field (null when the template or the
    field's group doesn't match). One regexp_extract per field — JVM-side,
    whole-stage codegen, no UDF."""
    regex, fields = compile_grok(template)
    t = F.col("text")
    cols = [
        F.nullif(F.regexp_extract(t, regex, i + 1), F.lit("")).alias(name)
        for i, name in enumerate(fields)
    ]
    return df.select("*", *cols)

