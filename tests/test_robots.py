"""robots.txt evaluation (functions/robots.py, RFC 9309, r8)."""

from __future__ import annotations

import duckdb

from rippledb_engine.functions.robots import (
    robots_decisions,
    robots_decisions_sql,
    robots_rules,
    robots_rules_sql,
)


def _decide(spark, hosts, urls):
    hdf = spark.createDataFrame(hosts, "host string, robots string")
    udf = spark.createDataFrame(urls, "host string, path string")
    out = robots_decisions(udf, robots_rules(hdf, "host", "robots"))
    return {(r["host"], r["path"]): (r["allowed"], r["matched_rule"])
            for r in out.collect()}


def test_group_segmentation_and_precedence(spark):
    robots = (
        "# banner\n"
        "Disallow: /orphan\n"          # BEFORE any group: ignored
        "User-agent: googlebot\n"
        "Disallow: /secret\n"           # other product's group: ignored
        "User-agent: yandex\n"
        "User-agent: *\n"               # shared group: * included
        "Allow: /a/deep/ok\n"
        "Disallow: /a/\n"
        "Disallow: /end$\n"
    )
    got = _decide(
        spark,
        [("h", robots)],
        [
            ("h", "/orphan"),      # pre-group rule ignored → allowed
            ("h", "/secret"),      # googlebot-only rule → allowed
            ("h", "/a/deep/ok2"),  # allow (longer) beats disallow
            ("h", "/a/other"),     # disallowed prefix
            ("h", "/end"),         # $-anchored exact
            ("h", "/end/x"),       # past the anchor → allowed
        ],
    )
    assert got[("h", "/orphan")] == (True, None)
    assert got[("h", "/secret")] == (True, None)
    assert got[("h", "/a/deep/ok2")] == (True, "/a/deep/ok")
    assert got[("h", "/a/other")] == (False, "/a/")
    assert got[("h", "/end")] == (False, "/end$")
    assert got[("h", "/end/x")] == (True, None)


def test_allow_wins_length_ties_and_wildcards(spark):
    robots = (
        "User-agent: *\n"
        "Allow: /p/x*\n"     # len 5
        "Disallow: /p/x$\n"  # len 5 — tie: allow wins
        "Disallow: /*.zip\n"
    )
    got = _decide(
        spark,
        [("h", robots)],
        [("h", "/p/x"), ("h", "/dl/file.zip"), ("h", "/dl/file.txt")],
    )
    assert got[("h", "/p/x")][0] is True  # allow wins the 5-vs-5 tie
    assert got[("h", "/dl/file.zip")] == (False, "/*.zip")
    assert got[("h", "/dl/file.txt")][0] is True


def test_empty_disallow_means_allow_everything(spark):
    got = _decide(
        spark,
        [("h", "User-agent: *\nDisallow:\n")],
        [("h", "/anything")],
    )
    assert got[("h", "/anything")] == (True, None)


def test_matches_duckdb_twin(spark):
    hosts = [
        ("h1", "User-agent: *\nAllow: /ok*\nDisallow: /\n"),
        ("h2", "User-agent: bot\nDisallow: /\n"),
    ]
    urls = [
        ("h1", "/ok/yes"), ("h1", "/no"), ("h2", "/free"),
    ]
    hdf = spark.createDataFrame(hosts, "host string, robots string")
    udf = spark.createDataFrame(urls, "host string, path string")
    got = sorted(
        tuple(r)
        for r in robots_decisions(
            udf, robots_rules(hdf, "host", "robots")
        ).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE hosts (host VARCHAR, robots VARCHAR)")
    con.executemany("INSERT INTO hosts VALUES (?, ?)", hosts)
    con.execute("CREATE TABLE urls (host VARCHAR, path VARCHAR)")
    con.executemany("INSERT INTO urls VALUES (?, ?)", urls)
    cte = (
        robots_rules_sql("hosts", "host", "robots")
        + ",\n"
        + robots_decisions_sql("urls")
    )
    want = sorted(
        tuple(w)
        for w in con.execute(
            f"WITH {cte} SELECT host, path, allowed, matched_rule"
            " FROM rb_decisions"
        ).fetchall()
    )
    assert got == want
    # h1: allow-wildcard beats the root disallow for /ok/yes only;
    # h2's group is for another bot → everything allowed
    d = dict(((h, p), (a, m)) for h, p, a, m in got)
    assert d[("h1", "/ok/yes")][0] is True
    assert d[("h1", "/no")] == (False, "/")
    assert d[("h2", "/free")] == (True, None)
