"""URL canonicalization (functions/url.py)."""

from __future__ import annotations

import duckdb
import pyspark.sql.functions as F

from rippledb_engine.functions import url as U

CASES = [
    # case noise in scheme+host, default port, fragment, unsorted params
    "HTTPS://WWW.Example.COM:443/Docs/Item7?b=2&a=1#frag",
    # userinfo dropped; http default port; tracking params dropped
    "http://user:pw@Host.org:80/path?utm_source=x&gclid=1&z=9&ref",
    # empty path -> '/'; query of ONLY tracking params vanishes
    "https://site.net?utm_campaign=spring&fbclid=abc",
    # path case PRESERVED; non-default port kept; '&&' runs collapse
    "https://Site.net:8443/CaseSensitive/Path?b=2&&a=1",
    # ref=value is tracking; 'refresh=1' is NOT (needs the (=|$) boundary)
    "http://a.io/p?ref=tw&refresh=1",
    # non-http(s) scheme -> NULL
    "mailto:someone@example.com",
    "ftp://files.example.com/pub/x",
    # relative reference -> NULL
    "/just/a/path?a=1",
    # no query, no fragment, already canonical
    "http://plain.example/x/y",
]

EXPECT = [
    "https://www.example.com/Docs/Item7?a=1&b=2",
    "http://host.org/path?z=9",
    "https://site.net/",
    "https://site.net:8443/CaseSensitive/Path?a=1&b=2",
    "http://a.io/p?refresh=1",
    None,
    None,
    None,
    "http://plain.example/x/y",
]


def _spark_norm(spark, urls):
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "i long, u string"
    )
    rows = df.select(
        U.url_normalize("u").alias("n"), U.url_host("u").alias("h")
    ).orderBy("i").collect()
    return [r["n"] for r in rows], [r["h"] for r in rows]


def _duck_norm(urls):
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, u VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(urls)))
    rows = con.execute(
        f"SELECT {U.url_normalize_sql('u')}, {U.url_host_sql('u')} "
        "FROM t ORDER BY i"
    ).fetchall()
    return [r[0] for r in rows], [r[1] for r in rows]


def test_normalize_expected(spark):
    got, _ = _spark_norm(spark, CASES)
    assert got == EXPECT


def test_duckdb_twin_matches_spark(spark):
    s_norm, s_host = _spark_norm(spark, CASES)
    d_norm, d_host = _duck_norm(CASES)
    assert s_norm == d_norm
    assert s_host == d_host


def test_host_extraction(spark):
    _, hosts = _spark_norm(
        spark,
        [
            "HTTPS://User@Big.Example.COM:443/x",
            "http://h.io:8080/",
            "not-a-url",
        ],
    )
    assert hosts == ["big.example.com", "h.io:8080", ""]


def test_dedup_collapses_variants(spark):
    variants = [
        "https://Example.com/a?x=1&y=2",
        "HTTPS://example.COM:443/a?y=2&x=1#top",
        "https://user@example.com/a?utm_medium=m&x=1&y=2",
    ]
    df = spark.createDataFrame([(u,) for u in variants], "u string")
    n = df.select(U.url_normalize("u").alias("n")).distinct().count()
    assert n == 1
