"""Deterministic `transcripts` table derivation.

BASELINE.json's input_hint mandates an Iceberg table
(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp). The sandbox testdata has no transcripts parquet, so we derive
one deterministically from the driver-generated `events` table with
*SQL-expressible* transforms — the exact same CTE runs in Spark (our engine)
and in DuckDB (the correctness oracle), guaranteeing byte-identical input on
both sides without synthesizing external data.

Properties engineered into the text corpus (FIXTURES.md §1, §4):
  * golden hit IPs for City and ASN dims (216.160.83.58, 8.8.8.8,
    12.81.92.1, 1.128.0.1, 93.184.216.34)
  * the whole miss matrix: no-IP text, empty text, unknown IP 0.0.0.0,
    loopback 127.0.0.1, invalid-octet 999.999.999.999, multi-IP first-wins,
    and a City empty-location abort IP (198.51.100.7)
  * a hot conv_id ('conv-hot') holding ~1/13 of rows for skew tests
  * roles/tools cycling over the routing keys; ts spread over many windows
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# event_id % len(TEXT_CASES) → text. Index comments give the expected
# enrich outcome.
TEXT_CASES: list[str] = [
    "client at 216.160.83.58 reported E403 via search",  # 0: City hit (Milton)
    "resolver 8.8.8.8 ok from python",                   # 1: City+ASN hit
    "asn probe 12.81.92.1 fine",                         # 2: ASN hit (AT&T)
    "isp check 1.128.0.1 E500 via bash",                 # 3: ASN/ISP hit (Telstra)
    "edge 93.184.216.34 served page",                    # 4: City hit (Norwell)
    "no address mentioned here",                         # 5: absent (no IP)
    "",                                                  # 6: absent (blank)
    "bogon 0.0.0.0 observed",                            # 7: {} (not in DB)
    "loopback 127.0.0.1 ping E404",                      # 8: {} (not in DB)
    "bad host 999.999.999.999 parse E418",               # 9: {} (invalid octets)
    "multi 8.8.8.8 then 1.128.0.1 first wins",           # 10: first IP wins
    "abort city 198.51.100.7 lat-lon-missing",           # 11: {} (City abort)
    "domain probe 1.2.0.1 lookup",                       # 12: Domain hit
    "enterprise host 74.209.24.1 via python E200",       # 13: Enterprise hit
    "anon exit 81.2.69.1 watched",                       # 14: Anonymous-IP hit
    "v6 client 2a02:d5c0:4:5::f seen E600",              # 15: IPv6 Country hit
    "city6 2607:f0d0:1002:51::4 via browser",            # 16: IPv6 City hit
    "v6 miss 2800:0:10::1 checked",                      # 17: IPv6 {} (not in DB)
    # embedded-dotted-quad forms (VERDICT r3 #5): the quad inside the v6
    # literal also matches the v4 regex — the ip_any containment rule must
    # prefer the v6 literal; '::'-leading spellings are untestable from free
    # text (\b cannot anchor before ':'; RE2 has no lookbehind)
    "nat64 64:ff9b::8.8.8.8 seen E640",                  # 18: v6 {} (NAT64, not in DB)
    "mapped 0:0::ffff:216.160.83.58 ok E641 via bash",   # 19: mapped → v4 City hit
    "embedded6 2607:f0d0::1.2.3.4 via browser",          # 20: IPv6 City hit (quad form)
]

ROLES = ["user", "assistant", "tool", "system"]          # event_id % 4
TOOLS = ["search", "bash", "geoip", None, None]          # event_id % 5
HOT_CONV_MOD = 13                                        # user_id % 13 == 0 → conv-hot


def _case_sql(expr: str, values: list, str_type: str) -> str:
    whens = []
    for i, v in enumerate(values):
        lit = "NULL" if v is None else "'" + str(v).replace("'", "''") + "'"
        whens.append(f"WHEN {i} THEN {lit}")
    return f"CASE {expr} {' '.join(whens)} END"


def transcripts_sql(dialect: str) -> str:
    """The derivation CTE body: SELECT conv_id, turn_idx, role, text, tool, ts
    FROM events. `dialect` ∈ {'spark', 'duckdb'} — only the string cast type
    name differs; every function used (lpad, ||, CASE, row_number) behaves
    identically in both engines (verified by tests/test_oracle_parity.py).
    """
    str_type = "STRING" if dialect == "spark" else "VARCHAR"
    text_case = _case_sql(f"event_id % {len(TEXT_CASES)}", TEXT_CASES, str_type)
    role_case = _case_sql("event_id % 4", ROLES, str_type)
    tool_case = _case_sql("event_id % 5", TOOLS, str_type)
    return f"""
SELECT conv_id,
       CAST(row_number() OVER (PARTITION BY conv_id ORDER BY event_id) - 1 AS INT) AS turn_idx,
       role, text, tool, ts
FROM (
  SELECT event_id, ts,
         CASE WHEN user_id % {HOT_CONV_MOD} = 0 THEN 'conv-hot'
              WHEN length(CAST(user_id AS {str_type})) > 6
                THEN 'conv-' || CAST(user_id AS {str_type})
              ELSE 'conv-' || lpad(CAST(user_id AS {str_type}), 6, '0') END AS conv_id,
         {role_case} AS role,
         {tool_case} AS tool,
         {text_case} AS text
  FROM events
) base
"""


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read the ``name`` table (``<sf_dir>/<name>.parquet``) of a
    scale-factor directory — the loader the driver queries share."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read events parquet → derive the transcripts DataFrame.

    At 100 TB this is `spark.read.format('iceberg').load('db.transcripts')`
    (S1, SURVEY.md §2.1); here the deterministic derivation stands in. The
    parquet scan benefits from pushdown/pruning exactly like an Iceberg scan.
    """
    events = load_table(spark, sf_dir, "events")
    events.createOrReplaceTempView("events")
    return spark.sql(transcripts_sql("spark"))


def read_transcripts(spark: SparkSession, path: str,
                     fmt: str = "parquet") -> DataFrame:
    """Format-agnostic transcripts reader for MATERIALIZED tables: parquet /
    iceberg pass schema-on-read; json / csv apply the fixed transcript
    schema (jsonl is the common log-pipeline interchange format). The
    sandbox derivation path (load_transcripts) is only for the synthetic
    events-derived table."""
    from ..streaming.pipeline import TRANSCRIPT_SCHEMA
    reader = spark.read.format(fmt)
    if fmt in ("json", "csv"):
        reader = reader.schema(TRANSCRIPT_SCHEMA)
        if fmt == "csv":
            reader = reader.option("header", True)
    return reader.load(path)
