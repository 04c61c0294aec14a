"""HTML → text extraction (functions/html.py)."""

from __future__ import annotations

import duckdb
import pyspark.sql.functions as F

from rippledb_engine.functions import html as H

CASES = [
    # script content dropped whole, even with tags-in-strings inside
    '<p>keep</p><script>if (1 < 2) { x = "<b>no</b>"; }</script><p>tail</p>',
    # style dropped; comment dropped; headings break lines
    "<style>p { color: red }</style><h1>Title</h1><!-- hidden --><p>body</p>",
    # entities: single decode, &amp;lt; stays literal &lt;
    "a &amp; b &lt;tag&gt; &quot;q&quot; &#39;s&#39; &amp;lt; &nbsp;end",
    # attributes, self-closing, uppercase tags, <br> newline
    '<DIV CLASS="x"><A href="u?a=1&amp;b=2">link</A><br/>next</DIV>',
    # whitespace normalization across tags and blank runs
    "<p>  one\t two </p>\n\n<p>three</p>",
    # no markup at all — text passes through trimmed
    "  plain  text  ",
]


def _spark_strip(spark, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    return [
        r["s"]
        for r in df.select(H.strip_html("t").alias("s")).orderBy("i").collect()
    ]


def _duck_strip(texts):
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, t VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(texts)))
    return [
        r[0]
        for r in con.execute(
            f"SELECT {H.strip_html_sql('t')} FROM t ORDER BY i"
        ).fetchall()
    ]


def test_strip_semantics(spark):
    got = _spark_strip(spark, CASES)
    assert got[0] == "keep\ntail"
    assert got[1] == "Title\nbody"
    assert got[2] == "a & b <tag> \"q\" 's' &lt; end"
    assert got[3] == "link\nnext"
    assert got[4] == "one two\nthree"
    assert got[5] == "plain text"


def test_spark_matches_duckdb_byte_for_byte(spark):
    assert _spark_strip(spark, CASES) == _duck_strip(CASES)


def test_block_tag_names_are_boundary_exact(spark):
    cases = [
        # 'brand'/'broken-widget' start with 'br' but are NOT line breaks;
        # '</party>' starts with '/p' but is not a paragraph close
        "<brand>x</brand> y",
        "<broken-widget/>z",
        "a<p>one</p>b</party>c",
        "w<br>v<BR />u",
    ]
    got = _spark_strip(spark, cases)
    assert got[0] == "x y"
    assert got[1] == "z"
    assert got[2] == "a one\nb c"
    assert got[3] == "w\nv\nu"
    assert got == _duck_strip(cases)


def test_block_tag_vertical_tab_parity(spark):
    # \x0B after the tag name: Java's \s includes it but RE2's does not,
    # so the boundary class is spelled out explicitly — byte-for-byte
    # parity must hold even for '</p\x0B...>' (r6 ADVICE)
    cases = ["a</p\x0bclass='x'>b", "q<br\x0b/>r", "plain \x0b text"]
    got = _spark_strip(spark, cases)
    assert got[0] == "a\nb"
    assert got[1] == "q\nr"
    assert got[2] == "plain text"
    assert got == _duck_strip(cases)
