"""Web-pipeline URL operators: parse, normalize, registered-domain
extraction, and per-domain aggregation.

A web-scale training-data pipeline (CommonCrawl-style) keys almost
everything on URLs: dedup-by-URL, per-domain quality priors, domain
blocklists, and crawl frontier stats all need a CANONICAL url and a
registered domain (eTLD+1). These operators provide that surface with no
shuffle for the per-row ops and one two-phase aggregate for the domain
rollup.

Engine-shared definitions: every rule here is ONE SQL template rendered
per engine (the ``template_sql``/``hashing`` pattern) — the only
rendering difference is DuckDB's explicit ``'g'`` flag on global
``regexp_replace`` (Spark replaces all occurrences by default). All
regexes are deliberately BACKSLASH-FREE (character classes like ``[0-9]``
/ ``[.]`` instead of ``\\d`` / ``\\.``): Spark SQL string literals treat a
backslash as an escape while DuckDB's do not, so escape-free patterns are
the only strings both parsers read identically.

Grammar notes (documented limits, not bugs): the parser handles
``scheme://host[:port][path][?query][#fragment]`` — userinfo
(``user@host``) is left inside the host field, IPv6 bracket hosts are not
split (both are absent from crawl-pipeline URL canonicalization's hot
path), and the registered-domain rule embeds a REPRESENTATIVE SAMPLE of
two-level public suffixes (co.uk, com.au, …, github.io) as a literal
alternation — production would compile the full Mozilla public-suffix
list into the same shape.

Scale notes (100 TB): ``url_parts`` is a narrow projection inside the
scan's whole-stage-codegen span (plan-pinned: no Exchange, no Python, no
Join); ``url_normalize`` is one ArrowEvalPython pass mirroring the
template decision-for-decision (plan-pinned: no Exchange, no Join);
``domain_counts`` is one two-phase hash aggregate whose shuffle carries
DISTINCT registered domains (web corpora have ~1e7 domains — bounded,
never corpus-sized).
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf annotation resolution
from pyspark.sql import DataFrame, SparkSession, functions as F

# scheme://host[:port][path][?query][#fragment] — groups 1..6, escape-free
URL_RE = ("^([A-Za-z][A-Za-z0-9+.-]*)://([^/:?#]+)(?::([0-9]+))?"
          "([^?#]*)(?:[?]([^#]*))?(?:#(.*))?$")
# tracking params stripped by normalization (the usual suspects)
TRACK_RE = "(?:^|&)(?:utm_[A-Za-z0-9_]+|fbclid|gclid|msclkid)=[^&]*"
IP_HOST_RE = "^[0-9]{1,3}([.][0-9]{1,3}){3}$"
# representative two-level public-suffix sample (see module docstring)
TWO_LEVEL_SUFFIX_RE = ("([^.]+[.](?:co[.]uk|org[.]uk|ac[.]uk|com[.]au"
                       "|co[.]jp|com[.]br|co[.]in|github[.]io))$")
TWO_LABEL_RE = "([^.]+[.][^.]+)$"


def _g(engine: str) -> str:
    """Global-replace flag rendering: Spark regexp_replace is global by
    default, DuckDB needs the explicit 'g'."""
    return ", 'g'" if engine == "duckdb" else ""


def _part_sql(url: str, group: int) -> str:
    return f"regexp_extract({url}, '{URL_RE}', {group})"


def url_part_exprs(url: str, engine: str) -> dict[str, str]:
    """name → SQL expression string for each parsed URL part (NULL when the
    URL does not parse / the part is absent). Rendered per engine; consumed
    by Spark via F.expr and by the oracle verbatim."""
    scheme = f"NULLIF(lower({_part_sql(url, 1)}), '')"
    host = f"NULLIF(lower({_part_sql(url, 2)}), '')"
    return {
        "scheme": scheme,
        "host": host,
        # try_cast (same spelling in Spark and DuckDB): an absurd all-digit
        # port would otherwise raise under Spark's ANSI cast
        "port": f"TRY_CAST(NULLIF({_part_sql(url, 3)}, '') AS INT)",
        "path": f"CASE WHEN {host} IS NULL THEN NULL"
                f" ELSE {_part_sql(url, 4)} END",
        "query": f"CASE WHEN {host} IS NULL THEN NULL"
                 f" ELSE {_part_sql(url, 5)} END",
        "fragment": f"CASE WHEN {host} IS NULL THEN NULL"
                    f" ELSE {_part_sql(url, 6)} END",
    }


def clean_query_sql(query: str, engine: str) -> str:
    """Strip tracking parameters from a query string, then the leading '&'
    a head-of-string removal leaves behind."""
    stripped = f"regexp_replace({query}, '{TRACK_RE}', ''{_g(engine)})"
    return f"regexp_replace({stripped}, '^&', '')"


def url_norm_sql(url: str, engine: str) -> str:
    """Canonical URL: lowercased scheme+host, default ports stripped
    (http:80 / https:443), empty path -> '/', tracking params removed,
    fragment dropped. NULL when the URL does not parse."""
    p = url_part_exprs(url, engine)
    cq = clean_query_sql(p["query"], engine)
    return f"""CASE WHEN {p['scheme']} IS NULL OR {p['host']} IS NULL THEN NULL
ELSE {p['scheme']} || '://' || {p['host']}
  || CASE WHEN {p['port']} IS NULL
            OR ({p['scheme']} = 'http' AND {p['port']} = 80)
            OR ({p['scheme']} = 'https' AND {p['port']} = 443)
          THEN '' ELSE ':' || CAST({p['port']} AS STRING) END
  || CASE WHEN {p['path']} = '' THEN '/' ELSE {p['path']} END
  || CASE WHEN {cq} IS NULL OR {cq} = '' THEN ''
          ELSE '?' || {cq} END
END"""


def registered_domain_sql(host: str) -> str:
    """eTLD+1 from a host: IP-literal hosts pass through; two-level public
    suffixes take three labels; everything else the last two; single-label
    hosts pass through. Engine-neutral (no regexp_replace flags needed)."""
    return f"""CASE WHEN {host} IS NULL THEN NULL
WHEN regexp_extract({host}, '{IP_HOST_RE}', 0) <> '' THEN {host}
WHEN regexp_extract({host}, '{TWO_LEVEL_SUFFIX_RE}', 1) <> ''
     THEN regexp_extract({host}, '{TWO_LEVEL_SUFFIX_RE}', 1)
WHEN regexp_extract({host}, '{TWO_LABEL_RE}', 1) <> ''
     THEN regexp_extract({host}, '{TWO_LABEL_RE}', 1)
ELSE {host} END"""


def url_parts(df: DataFrame) -> DataFrame:
    """Append parsed URL columns (scheme, host, port, path, query,
    fragment) — one codegen projection, NULLs for unparseable rows."""
    exprs = url_part_exprs("url", "spark")
    return df.select(
        "*", *[F.expr(sql).alias(name) for name, sql in exprs.items()])


_INT_MAX = 2_147_483_647  # TRY_CAST(... AS INT) overflow -> NULL, mirrored


def _norm_struct_type():
    from pyspark.sql import types as T
    return T.StructType([T.StructField("url_norm", T.StringType()),
                         T.StructField("registered_domain", T.StringType())])


def _norm_py(url, pat, track, ip_re, suf_re, lab_re):
    """One URL -> (url_norm, registered_domain), mirroring the SQL template
    decision-for-decision (non-participating regex groups map to '' like
    regexp_extract; TRY_CAST INT overflow maps to None)."""
    if url is None:
        return None, None
    m = pat.match(url)
    if m is None:
        return None, None
    g = [x if x is not None else "" for x in m.groups()]
    scheme, host = g[0].lower(), g[1].lower()
    if not scheme or not host:
        return None, None
    port = int(g[2]) if g[2] else None
    if port is not None and port > _INT_MAX:
        port = None
    path, query = g[3], g[4]
    cq = track.sub("", query)
    if cq.startswith("&"):
        cq = cq[1:]
    norm = scheme + "://" + host
    if not (port is None or (scheme == "http" and port == 80)
            or (scheme == "https" and port == 443)):
        norm += f":{port}"
    norm += path if path != "" else "/"
    if cq != "":
        norm += "?" + cq
    if ip_re.search(host):
        dom = host
    else:
        ms = suf_re.search(host)
        if ms:
            dom = ms.group(1)
        else:
            ml = lab_re.search(host)
            dom = ml.group(1) if ml else host
    return norm, dom


def url_normalize(df: DataFrame) -> DataFrame:
    """Append ``url_norm`` (canonical URL) and ``registered_domain`` — the
    unit of web dedup and domain rollups.

    ONE ArrowEvalPython pass with a compiled-regex Python mirror of the
    SQL template the oracle renders (``url_norm_sql`` /
    ``registered_domain_sql``). The declarative form re-references the
    part extractions inside CASE arms, and conditional arms are invisible
    to whole-stage-codegen CSE (the r5 v6-key lesson) — measured 52.2 s vs
    9.1 s per 2M rows on local[32] (5.7×; url_parts, whose six
    extractions are each referenced once, stays pure codegen at 2.5 s)."""
    import re

    url_re, track_re = URL_RE, TRACK_RE
    ip_hre, suf_hre, lab_hre = IP_HOST_RE, TWO_LEVEL_SUFFIX_RE, TWO_LABEL_RE

    @F.pandas_udf(_norm_struct_type())
    def _norm_batch(urls: pd.Series) -> pd.DataFrame:
        pat = re.compile(url_re)
        track = re.compile(track_re)
        ip_re = re.compile(ip_hre)
        suf_re = re.compile(suf_hre)
        lab_re = re.compile(lab_hre)
        norms, doms = [], []
        for u in urls:
            n, d = _norm_py(u, pat, track, ip_re, suf_re, lab_re)
            norms.append(n)
            doms.append(d)
        return pd.DataFrame({"url_norm": norms, "registered_domain": doms})

    out = df.withColumn("__n", _norm_batch(F.col("url")))
    return out.select(*df.columns, "__n.url_norm", "__n.registered_domain")


def domain_counts(df: DataFrame, id_col: str = "user_id") -> DataFrame:
    """Per registered-domain rollup: page (row) count, distinct canonical
    URLs, distinct ids — the crawl-frontier / domain-prior aggregate. One
    two-phase aggregate; swap countDistinct for approx_count_distinct when
    exact uniques are not required at full corpus scale."""
    n = url_normalize(df)
    return (n.where(F.col("registered_domain").isNotNull())
             .groupBy("registered_domain")
             .agg(F.count(F.lit(1)).alias("n_rows"),
                  F.countDistinct("url_norm").alias("n_urls"),
                  F.countDistinct(id_col).alias("n_ids")))


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

# Deterministic URL derivation from the events table — ONE definition both
# engines evaluate (the transcripts pattern): twelve arms covering mixed
# case, default and explicit ports, tracking params at head/middle/tail,
# fragments, IP hosts, a two-level public suffix, an unparseable row, an
# empty path, and a non-http scheme.
URL_CASES_SQL = """CASE CAST(event_id % 12 AS INT)
WHEN 0 THEN 'https://Example.COM/path/a?utm_source=news&id=' || CAST(user_id AS STRING)
WHEN 1 THEN 'http://example.com:80/index.html'
WHEN 2 THEN 'https://example.com:443/a/b?x=1&utm_medium=email'
WHEN 3 THEN 'http://Sub.Example.CO.UK:8080/path?gclid=abc&q=' || CAST(user_id AS STRING)
WHEN 4 THEN 'https://blog.example.org/post/' || CAST(event_id AS STRING) || '#section-2'
WHEN 5 THEN 'http://192.168.0.' || CAST(user_id % 200 AS STRING) || '/admin'
WHEN 6 THEN 'https://cdn.example.net/assets?fbclid=XYZ'
WHEN 7 THEN 'not a url at all ' || CAST(event_id AS STRING)
WHEN 8 THEN 'https://docs.example.com'
WHEN 9 THEN 'ftp://Files.Example.Com/pub/file.txt'
WHEN 10 THEN 'https://EXAMPLE.com/Search?q=' || CAST(user_id AS STRING) || '&utm_campaign=x&page=2'
ELSE 'http://user' || CAST(user_id % 7 AS STRING) || '.github.io/repo?a=1&a=2'
END"""


def _events_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.select("event_id", "user_id", "ts",
                     F.expr(URL_CASES_SQL).alias("url"))


def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = url_normalize(url_parts(_events_urls(spark, sf_dir)))
    return out.select("event_id", "url", "scheme", "host", "port", "path",
                      "query", "fragment", "url_norm", "registered_domain")


def q_domain_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return domain_counts(_events_urls(spark, sf_dir))


def queries():
    return {
        "url_normalize": q_url_normalize,
        "web_domain_counts": q_domain_counts,
    }


def oracles() -> dict[str, str]:
    parts = url_part_exprs("url", "duckdb")
    host = parts["host"]
    base = f"""WITH urls AS (
  SELECT event_id, user_id, {URL_CASES_SQL} AS url FROM events
)"""
    url_normalize_sql = f"""
{base}
SELECT event_id, url,
       {parts['scheme']} AS scheme,
       {parts['host']} AS host,
       {parts['port']} AS port,
       {parts['path']} AS path,
       {parts['query']} AS query,
       {parts['fragment']} AS fragment,
       {url_norm_sql('url', 'duckdb')} AS url_norm,
       {registered_domain_sql(host)} AS registered_domain
FROM urls
"""
    domain_sql = f"""
{base},
norm AS (
  SELECT user_id,
         {url_norm_sql('url', 'duckdb')} AS url_norm,
         {registered_domain_sql(host)} AS registered_domain
  FROM urls
)
SELECT registered_domain, count(*) AS n_rows,
       count(DISTINCT url_norm) AS n_urls,
       count(DISTINCT user_id) AS n_ids
FROM norm WHERE registered_domain IS NOT NULL
GROUP BY registered_domain
"""
    return {"url_normalize": url_normalize_sql,
            "web_domain_counts": domain_sql}
