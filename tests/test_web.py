"""URL operators (operators/web.py): parse/normalize/registered-domain
semantics pinned against Python's urllib.parse (an independent third
engine), the DuckDB rendering of the oracle's SQL template over crafted
and fuzzed rows, crafted normalization expectations, and the plan
contracts. Oracle parity at sf0.01 is covered by test_oracle_parity."""

from __future__ import annotations

from urllib.parse import urlsplit

from logstash_filter_geoip_spark.operators import web
from logstash_filter_geoip_spark.plans import checks
from tests.conftest import duck_rows

VALID = [
    "https://Example.COM/path/a?utm_source=news&id=7",
    "http://example.com:80/index.html",
    "https://example.com:443/a/b?x=1&utm_medium=email",
    "http://Sub.Example.CO.UK:8080/path?gclid=abc&q=3",
    "https://blog.example.org/post/42#section-2",
    "http://192.168.0.17/admin",
    "https://cdn.example.net/assets?fbclid=XYZ",
    "https://docs.example.com",
    "ftp://Files.Example.Com/pub/file.txt",
    "https://EXAMPLE.com/Search?q=5&utm_campaign=x&page=2",
    "http://user3.github.io/repo?a=1&a=2",
    "http://localhost:9999/x",
]
INVALID = ["not a url at all 7", "", "example.com/no-scheme", "http//typo"]


def _df(spark, urls):
    return spark.createDataFrame([(i, u) for i, u in enumerate(urls)],
                                 "event_id long, url string")


def test_url_parts_match_urllib(spark):
    """Every parsed part agrees with urllib.parse.urlsplit on the valid
    matrix (scheme/host lowercased like urlsplit does; '' parts rendered
    as '' and absent optional parts as urlsplit renders them)."""
    rows = {r["url"]: r for r in
            web.url_parts(_df(spark, VALID)).collect()}
    for u in VALID:
        s = urlsplit(u)
        r = rows[u]
        assert r["scheme"] == s.scheme, u
        assert r["host"] == s.hostname, u
        assert r["port"] == s.port, u
        assert r["path"] == s.path, u
        assert r["query"] == s.query, u
        assert r["fragment"] == s.fragment, u


def test_url_parts_invalid_rows_are_null(spark):
    rows = web.url_parts(_df(spark, INVALID)).collect()
    for r in rows:
        for c in ("scheme", "host", "port", "path", "query", "fragment"):
            assert r[c] is None, (r["url"], c)


def test_url_normalize_expectations(spark):
    want = {
        # head-of-query tracking param removed, host lowercased
        VALID[0]: ("https://example.com/path/a?id=7", "example.com"),
        # default ports stripped
        VALID[1]: ("http://example.com/index.html", "example.com"),
        VALID[2]: ("https://example.com/a/b?x=1", "example.com"),
        # explicit non-default port kept; two-level public suffix
        VALID[3]: ("http://sub.example.co.uk:8080/path?q=3",
                   "example.co.uk"),
        # fragment dropped
        VALID[4]: ("https://blog.example.org/post/42", "example.org"),
        # IP host passes through as its own registered domain
        VALID[5]: ("http://192.168.0.17/admin", "192.168.0.17"),
        # all-tracking query -> no '?'
        VALID[6]: ("https://cdn.example.net/assets", "example.net"),
        # empty path -> '/'
        VALID[7]: ("https://docs.example.com/", "example.com"),
        # non-http scheme: no default-port rule applies
        VALID[8]: ("ftp://files.example.com/pub/file.txt", "example.com"),
        # mid-query tracking param removed, neighbours stitched
        VALID[9]: ("https://example.com/Search?q=5&page=2", "example.com"),
        # github.io two-level suffix -> three labels
        VALID[10]: ("http://user3.github.io/repo?a=1&a=2",
                    "user3.github.io"),
        # single-label host passes through
        VALID[11]: ("http://localhost:9999/x", "localhost"),
    }
    rows = {r["url"]: r for r in
            web.url_normalize(_df(spark, VALID)).collect()}
    for u, (norm, dom) in want.items():
        assert rows[u]["url_norm"] == norm, u
        assert rows[u]["registered_domain"] == dom, u
    for r in web.url_normalize(_df(spark, INVALID)).collect():
        assert r["url_norm"] is None and r["registered_domain"] is None


def test_url_normalize_idempotent(spark):
    """Normalizing an already-normalized URL is a fixpoint — the property
    that makes url_norm a safe dedup key."""
    from pyspark.sql import functions as F
    first = web.url_normalize(_df(spark, VALID)).select(
        "event_id", F.col("url_norm").alias("url")).where(
        "url IS NOT NULL")
    again = {r["url"]: r["url_norm"]
             for r in web.url_normalize(first).collect()}
    for u, n in again.items():
        assert n == u, (u, n)


def test_domain_counts(spark):
    df = spark.createDataFrame(
        [(1, "https://A.example.com/x?utm_source=a"),
         (2, "https://a.EXAMPLE.com/x"),          # same url_norm as row 1
         (1, "https://a.example.com/y"),
         (2, "https://other.org/"),
         (3, "garbage")],
        "user_id long, url string")
    rows = {r["registered_domain"]: r for r in
            web.domain_counts(df, id_col="user_id").collect()}
    assert set(rows) == {"example.com", "other.org"}
    r = rows["example.com"]
    assert (r["n_rows"], r["n_urls"], r["n_ids"]) == (3, 2, 2)
    assert (rows["other.org"]["n_rows"], rows["other.org"]["n_urls"]) == (1, 1)


def test_url_ops_plan_contracts(spark):
    """url_parts is a pure-codegen narrow projection (no Exchange/Join/
    Python); url_normalize is exactly ONE ArrowEvalPython barrier (never
    row-at-a-time BatchEvalPython) — the CASE-arm re-references of the
    declarative form are invisible to codegen CSE (measured 52.2 s vs
    9.1 s per 2M rows, see docstring); domain_counts never joins."""
    docs = _df(spark, VALID)
    p = checks.simple_plan(web.url_parts(docs))
    assert "Exchange" not in p and "Join" not in p, p[:3000]
    assert "Python" not in p and "Generate" not in p, p[:3000]
    p = checks.simple_plan(web.url_normalize(docs))
    assert p.count("ArrowEvalPython") == 1, p[:3000]
    assert "BatchEvalPython" not in p and "Exchange" not in p, p[:3000]
    p = checks.simple_plan(web.domain_counts(docs, id_col="event_id"))
    assert "Join" not in p, p[:3000]


def _norm_oracle_sql() -> str:
    """The oracle's url_norm / registered_domain template over a ``urls``
    view of (event_id, url) rows, rendered for DuckDB."""
    host = web.url_part_exprs("url", "duckdb")["host"]
    return (f"SELECT event_id, {web.url_norm_sql('url', 'duckdb')} "
            f"AS url_norm, {web.registered_domain_sql(host)} "
            f"AS registered_domain FROM urls")


def test_url_normalize_arrow_equals_sql(spark):
    """The Arrow pass and the oracle's SQL template (run in DuckDB) must
    be value-identical — on the full driver derivation at sf0.01 AND a
    crafted edge matrix (INT-overflow port, bare '&'-headed tracking
    query, NULL url, uppercase scheme, empty path with port)."""
    real = web._events_urls(spark, "/root/testdata/sf0.01")
    crafted = spark.createDataFrame(
        [(1, "http://h.example.com:99999999999/x"),   # TRY_CAST overflow
         (2, "https://A.B.co.uk:8443/?utm_a=1&utm_b=2"),
         (3, None),
         (4, "HTTPS://UP.example.ORG:443"),
         (5, "http://x.com:65535/p?gclid=1&q=2&fbclid=3&z=4#f")],
        "event_id long, url string")
    for df in (real, crafted):
        a = sorted((r["event_id"], r["url_norm"], r["registered_domain"])
                   for r in web.url_normalize(df).collect())
        b = sorted(duck_rows(_norm_oracle_sql(),
                             urls=df.select("event_id", "url")))
        assert a == b


def test_url_normalize_fuzz_arrow_sql_urllib_agree(spark):
    """Seeded fuzz: 120 generated URLs over randomized scheme/host/port/
    path/query/fragment shapes (plus injected garbage rows) — the Arrow
    pass and the oracle's SQL template in DuckDB must agree exactly on
    every row, and the parsed parts must match urllib.urlsplit on every
    parseable row."""
    import random
    from urllib.parse import urlsplit

    rng = random.Random(20260818)
    schemes = ["http", "https", "HTTP", "ftp", "Https"]
    hosts = ["Example.COM", "a.b.example.co.uk", "x.GitHub.io",
             "192.168.3.9", "localhost", "svc.internal.example.net"]
    paths = ["", "/", "/a/b", "/Search", "/p.q/r"]
    queries = ["", "a=1", "utm_source=x", "a=1&utm_b=2&c=3",
               "utm_a=1&utm_b=2", "q=x&gclid=9", "fbclid=1&z=2"]
    frags = ["", "frag", "sec-2"]
    urls = []
    for i in range(120):
        if i % 17 == 0:
            urls.append(f"garbage line {i} with spaces")
            continue
        port = rng.choice(["", ":80", ":443", ":8080", ":65000"])
        q = rng.choice(queries)
        f_ = rng.choice(frags)
        u = (rng.choice(schemes) + "://" + rng.choice(hosts) + port
             + rng.choice(paths) + ("?" + q if q else "")
             + ("#" + f_ if f_ else ""))
        urls.append(u)
    df = _df(spark, urls)
    a = sorted((r["event_id"], r["url_norm"], r["registered_domain"])
               for r in web.url_normalize(df).collect())
    b = sorted(duck_rows(_norm_oracle_sql(),
                         urls=df.select("event_id", "url")))
    assert a == b
    parts = {r["url"]: r for r in web.url_parts(df).collect()}
    for u in urls:
        s = urlsplit(u) if "://" in u and " " not in u else None
        r = parts[u]
        if s is None or not s.scheme or not s.hostname:
            assert r["host"] is None, u
            continue
        assert r["scheme"] == s.scheme.lower() and r["host"] == s.hostname, u
        assert r["port"] == s.port and r["path"] == s.path, u
        assert r["query"] == s.query and r["fragment"] == s.fragment, u
