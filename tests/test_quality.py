"""Gopher-style repetition/quality rules (operators/quality.py)."""

from __future__ import annotations

import duckdb
import pytest

from rippledb_engine.operators import quality as Q


def _metrics(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = Q.repetition_metrics(df, "text", "doc_id")
    return {r["id"]: r.asDict() for r in out.collect()}


def test_repeated_phrase_drives_dup5_and_top_fracs(spark):
    # 'one two three four five' ×4 → every 5-gram window repeats; the
    # aligned phrase gram appears 4 times (3 repeated occurrences).
    phrase = "one two three four five"
    m = _metrics(spark, [(1, " ".join([phrase] * 4))])[1]
    assert m["n_words"] == 20
    assert m["word_chars"] == len(phrase.replace(" ", "")) * 4
    # top-1-gram: each word appears 4× — 'three' has most chars (5×4=20).
    assert m["top1_frac"] == pytest.approx(20 / m["word_chars"])
    assert m["dup5_frac"] > Q.MAX_DUP_GRAM_FRAC[5]
    assert m["keep"] is False


def test_short_doc_survives_with_zero_repetition(spark):
    m = _metrics(spark, [(7, "alpha beta")])[7]
    assert m["n_words"] == 2
    # too short for 3- and 5-grams: coverage must coalesce to 0, not null
    assert m["top3_frac"] == 0.0 and m["dup5_frac"] == 0.0
    assert m["keep"] is False  # fails MIN_WORDS, nothing else crashes


def test_every_doc_yields_exactly_one_row(spark):
    rows = [(i, "word " * (i + 1)) for i in range(6)]
    out = _metrics(spark, rows)
    assert sorted(out) == list(range(6))


def test_keep_requires_stopwords_and_alpha(spark):
    # 60 numeric 'words' → alpha_frac 0, no stopwords → dropped even
    # though length bounds pass via mean word length in range.
    text = " ".join(str(100 + i) for i in range(60))
    m = _metrics(spark, [(3, text)])[3]
    assert m["alpha_frac"] == 0.0
    assert m["n_stopwords_distinct"] == 0
    assert m["keep"] is False


def test_spark_matches_duckdb_on_crafted_corpus(spark):
    rows = [
        (1, "the cat sat on the mat and the cat sat on the mat again " * 5),
        (2, "a b c d e f g h i j " * 10),
        (3, "unique words only here nothing repeats at all in this one"),
        (4, "the of and to in is on a " * 12),
    ]
    sdf = Q.repetition_metrics(
        spark.createDataFrame(rows, "doc_id long, text string"), "text", "doc_id"
    ).orderBy("id")
    got = [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    cte = Q.repetition_metrics_sql("docs", "text", "doc_id")
    want = con.execute(
        f"WITH {cte} SELECT id, n_words, word_chars, n_stopwords_distinct, "
        "mean_word_len, alpha_frac, top1_frac, top2_frac, top3_frac, "
        "dup5_frac, keep FROM gopher ORDER BY id"
    ).fetchall()

    assert sdf.columns == [
        "id", "n_words", "word_chars", "n_stopwords_distinct",
        "mean_word_len", "alpha_frac", "top1_frac", "top2_frac",
        "top3_frac", "dup5_frac", "keep",
    ]
    for g, w in zip(got, want, strict=True):
        assert g[:4] == w[:4]
        for a, b in zip(g[4:10], w[4:10], strict=True):
            assert a == pytest.approx(b, rel=1e-12)
        assert g[10] is w[10]
