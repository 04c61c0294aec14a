"""Redirect-chain resolution (operators/redirects.py, r9)."""

from __future__ import annotations

import duckdb
import pytest

from rippledb_engine.operators.redirects import (
    resolve_redirect_chains,
    resolve_redirect_chains_sql,
)

EDGES = [
    ("a", "b"), ("b", "c"), ("c", "d"),      # 3-hop chain to terminal d
    ("x", "y"), ("y", "x"),                   # 2-loop: both unresolved
    ("f", "t2"), ("f", "t1"),                 # fork: min target wins (t1)
    ("s", "s"),                               # self-redirect only: dropped
    ("p", "q"),                               # 1 hop
]


def _spark_out(spark, edges, max_hops=16):
    df = spark.createDataFrame(edges, "from_url string, to_url string")
    return {
        r["url"]: (r["final_url"], r["n_hops"], r["resolved"])
        for r in resolve_redirect_chains(df, max_hops=max_hops).collect()
    }


def test_chains_loops_forks_and_self_edges(spark):
    got = _spark_out(spark, EDGES)
    assert got["a"] == ("d", 3, True)
    assert got["b"] == ("d", 2, True)
    assert got["c"] == ("d", 1, True)
    assert got["x"] == (None, None, False)   # loop never resolves
    assert got["y"] == (None, None, False)
    assert got["f"] == ("t1", 1, True)       # deterministic min target
    assert got["p"] == ("q", 1, True)
    assert "s" not in got                     # self-redirect-only source
    assert len(got) == 7


def test_hop_bound_marks_overlong_chains_unresolved(spark):
    chain = [(f"n{i}", f"n{i + 1}") for i in range(10)]  # 10-hop chain
    got = _spark_out(spark, chain, max_hops=4)
    assert got["n9"] == ("n10", 1, True)
    assert got["n0"] == (None, None, False)  # needs 10 > 4 hops
    got16 = _spark_out(spark, chain, max_hops=16)
    assert got16["n0"] == ("n10", 10, True)


def test_matches_duckdb_twin(spark):
    got = _spark_out(spark, EDGES, max_hops=5)
    con = duckdb.connect()
    con.execute("CREATE TABLE ed (from_url VARCHAR, to_url VARCHAR)")
    con.executemany("INSERT INTO ed VALUES (?, ?)", EDGES)
    cte = resolve_redirect_chains_sql("ed", "from_url", "to_url", 5)
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(
            f"WITH RECURSIVE {cte} SELECT url, final_url, n_hops, resolved"
            " FROM redirects_resolved"
        ).fetchall()
    }
    assert got == want


def test_max_hops_refusal(spark):
    df = spark.createDataFrame(EDGES, "from_url string, to_url string")
    with pytest.raises(ValueError, match="positive"):
        resolve_redirect_chains(df, max_hops=0)
    with pytest.raises(ValueError, match="positive"):
        resolve_redirect_chains_sql("t", "a", "b", 0)
