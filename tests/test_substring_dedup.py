"""Exact-substring dedup runs (operators/dedup.duplicated_substring_runs,
Lee et al. 2021 class, r8)."""

from __future__ import annotations

import duckdb

from rippledb_engine.operators.dedup import (
    duplicated_substring_runs,
    duplicated_substring_runs_sql,
)


def _runs(spark, rows, n=5):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = duplicated_substring_runs(df, "text", "doc_id", n=n)
    return {r["doc_id"]: r.asDict() for r in out.collect()}


def _uniq(prefix, k):
    return " ".join(f"{prefix}{i}" for i in range(k))


def test_planted_cross_doc_substring_found(spark):
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [
        (0, _uniq("a", 6) + " " + shared + " " + _uniq("b", 4)),
        (1, _uniq("c", 3) + " " + shared + " " + _uniq("d", 7)),
        (2, _uniq("e", 20)),  # fully unique: zeros
    ]
    got = _runs(spark, rows)
    # the 8-token shared span = 4 consecutive duplicated 5-windows = one
    # run of 8 tokens in each carrier, nothing else duplicated
    for doc in (0, 1):
        assert got[doc]["n_dup_runs"] == 1, got[doc]
        assert got[doc]["dup_tokens"] == 8
        assert got[doc]["max_run_tokens"] == 8
    assert got[2]["n_dup_runs"] == 0
    assert got[2]["dup_tokens"] == 0
    assert got[2]["dup_frac"] == 0.0
    assert got[0]["dup_frac"] == round(8 / got[0]["n_tokens"], 6)


def test_within_doc_repeat_counts(spark):
    # the paper dedups within-document repeats too: one doc, same 5-gram
    # twice, nothing shared with any other doc
    phrase = "one two three four five"
    rows = [
        (0, phrase + " " + _uniq("x", 6) + " " + phrase),
        (1, _uniq("y", 12)),
    ]
    got = _runs(spark, rows)
    assert got[0]["n_dup_runs"] == 2
    assert got[0]["dup_tokens"] == 10
    assert got[1]["n_dup_runs"] == 0


def test_adjacent_sources_stitch_into_one_maximal_run(spark):
    # doc 0 carries P immediately followed by Q; doc 1 carries P, doc 2
    # carries Q — in doc 0 the two duplicated spans are adjacent and must
    # stitch into ONE maximal run of 10 tokens
    p = "p1 p2 p3 p4 p5"
    q = "q1 q2 q3 q4 q5"
    rows = [
        (0, _uniq("a", 4) + f" {p} {q} " + _uniq("b", 4)),
        (1, _uniq("c", 4) + f" {p} " + _uniq("d", 4)),
        (2, _uniq("e", 4) + f" {q} " + _uniq("f", 4)),
    ]
    got = _runs(spark, rows)
    # doc 0: windows inside p, inside q, AND straddling the p|q seam are
    # duplicated only where both halves repeat — the seam windows occur
    # once, so p and q form separate runs unless the seam itself repeats
    assert got[0]["dup_tokens"] == 10
    assert got[0]["n_dup_runs"] == 2  # seam windows are unique → two runs
    assert got[1]["dup_tokens"] == 5 and got[1]["n_dup_runs"] == 1
    assert got[2]["dup_tokens"] == 5 and got[2]["n_dup_runs"] == 1


def test_short_docs_report_zero_windows(spark):
    rows = [(0, "just four tokens here"), (1, "just four tokens here")]
    got = _runs(spark, rows)  # identical docs but < 5 tokens: no windows
    assert got[0]["n_dup_runs"] == 0 and got[1]["n_dup_runs"] == 0


def test_matches_duckdb_twin_on_fixture(spark):
    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (0, _uniq("a", 5) + " " + shared),
        (1, shared + " " + _uniq("b", 9)),
        (2, _uniq("c", 4)),
        (3, "one two three four five one two three four five"),
    ]
    sdf = duplicated_substring_runs(
        spark.createDataFrame(rows, "doc_id long, text string"),
        "text",
        "doc_id",
        n=5,
    ).orderBy("doc_id")
    got = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    cte = duplicated_substring_runs_sql("docs", "text", "doc_id", n=5)
    want = con.execute(
        f"WITH {cte} SELECT doc_id, n_tokens, n_dup_runs, dup_tokens,"
        " max_run_tokens, dup_frac FROM dsr ORDER BY doc_id"
    ).fetchall()
    assert got == [tuple(w) for w in want]
