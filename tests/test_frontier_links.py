"""Link-reference resolution in the crawl frontier (r11 ADVICE fix):
protocol-relative ``//host/path`` links must gain a scheme (not be
glued onto the page host), and scheme-less relative links
(``page.html``, ``./a``, ``?q=1``) must resolve against the host root
instead of being dropped by normalization. The Spark rule and its
DuckDB twin stay byte-identical."""

from __future__ import annotations

import duckdb
import pyspark.sql.functions as F

from rippledb_engine.operators.frontier import (
    extract_frontier_links,
    resolve_link,
    resolve_link_sql,
)

CASES = [
    ("ex.org", "https://other.net/abs"),        # absolute → unchanged
    ("ex.org", "/root-rel?b=2&a=1"),            # root-relative
    ("ex.org", "//cdn.net/asset.js"),           # protocol-relative
    ("ex.org", "page.html"),                    # bare relative
    ("ex.org", "./dir/page.html"),              # dot relative
    ("ex.org", "?q=1"),                         # query-only relative
    ("ex.org", "mailto:a@b.c"),                 # scheme-ful, non-http
    ("ex.org", "javascript:void(0)"),           # scheme-ful, non-http
]

EXPECT_RESOLVED = [
    "https://other.net/abs",
    "https://ex.org/root-rel?b=2&a=1",
    "https://cdn.net/asset.js",
    "https://ex.org/page.html",
    "https://ex.org/dir/page.html",
    "https://ex.org/?q=1",
    "mailto:a@b.c",
    "javascript:void(0)",
]


def test_resolve_link_spark_cases(spark):
    df = spark.createDataFrame(CASES, "src_host string, link string")
    got = [
        r["u"]
        for r in df.select(
            resolve_link("link", "src_host").alias("u")
        ).collect()
    ]
    assert got == EXPECT_RESOLVED


def test_resolve_link_sql_twin_matches():
    con = duckdb.connect()
    vals = ", ".join(f"('{h}', '{l}')" for h, l in CASES)
    rows = con.execute(
        f"SELECT {resolve_link_sql('link', 'src_host')} FROM "
        f"(VALUES {vals}) AS t(src_host, link)"
    ).fetchall()
    assert [r[0] for r in rows] == EXPECT_RESOLVED


def test_extract_frontier_links_keeps_relative_and_protocol_relative(spark):
    html = (
        '<html><body><a href="//cdn.net/a">x</a>'
        "<a href='page.html'>y</a>"
        '<a href="/root">z</a>'
        '<a href="mailto:a@b.c">m</a></body></html>'
    )
    pages = spark.createDataFrame([("ex.org", html)], "host string, html string")
    got = sorted(
        r["url"]
        for r in extract_frontier_links(pages, "host", "html").collect()
    )
    # mailto: dropped by the http(s) gate; everything else resolved
    assert got == [
        "https://cdn.net/a",
        "https://ex.org/page.html",
        "https://ex.org/root",
    ]


def test_frontier_extract_no_malformed_double_slash_hosts(spark):
    # the pre-fix bug: '//host/path' became 'https://src//host/path'
    pages = spark.createDataFrame(
        [("src.org", '<a href="//tgt.org/p">l</a>')], "host string, html string"
    )
    urls = [
        r["url"]
        for r in extract_frontier_links(pages, "host", "html").collect()
    ]
    assert urls == ["https://tgt.org/p"]
    assert not any("src.org//" in u for u in urls)
