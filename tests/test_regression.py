"""Exact least squares (operators/regression.py, r10): twin equality +
the algebra that certifies the fit."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from rippledb_engine.operators.regression import (
    least_squares_3,
    least_squares_3_sql,
)


def _corpus(spark, n=1000):
    rows = [
        (1, i % 50, (i * 7) % 30, 2 + 3 * (i % 50) + (i % 2))
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "one int, x1 int, x2 int, y int")
    con = duckdb.connect()
    con.execute("CREATE TABLE t (one INT, x1 INT, x2 INT, y INT)")
    con.executemany("INSERT INTO t VALUES (?,?,?,?)", rows)
    return df, con


def test_least_squares_matches_twin_and_recovers_planted(spark):
    df, con = _corpus(spark)
    got = sorted(
        map(tuple, least_squares_3(df, ["one", "x1", "x2"], "y").collect())
    )
    cte = least_squares_3_sql("t", ["one", "x1", "x2"], "y")
    want = sorted(
        map(
            tuple,
            con.execute(
                f"WITH {cte} SELECT feature_idx, weight, sse, r2"
                " FROM lsq_fit"
            ).fetchall(),
        )
    )
    assert got == want and len(got) == 3
    w = {r[0]: r[1] for r in got}
    # y = 2 + 3*x1 + bernoulli(1/2) noise: slope exact, intercept
    # absorbs the noise mean, x2 is irrelevant
    assert abs(w[1] - 3.0) < 0.01
    assert abs(w[0] - 2.5) < 0.2
    assert abs(w[2]) < 0.05
    assert got[0][3] > 0.999  # r2


def test_least_squares_exact_fit_is_exact(spark):
    # y EXACTLY linear in the features: SSE 0, R^2 1, exact weights
    rows = [(1, i, 2 * i + 7) for i in range(100)]
    df = spark.createDataFrame(rows, "one int, x int, y int")
    out = {r["feature_idx"]: r for r in least_squares_3(
        df.selectExpr("one", "x", "x * x AS x2", "y"),
        ["one", "x", "x2"], "y",
    ).collect()}
    assert out[0]["weight"] == 7.0 and out[1]["weight"] == 2.0
    assert out[2]["weight"] == 0.0
    assert out[0]["sse"] == 0.0 and out[0]["r2"] == 1.0


def test_least_squares_refusals(spark):
    df = spark.createDataFrame([(1, 1, 1)], "a int, b int, y int")
    with pytest.raises(ValueError, match="exactly 3"):
        least_squares_3(df, ["a", "b"], "y")
    with pytest.raises(ValueError, match="exactly 3"):
        least_squares_3_sql("t", ["a"], "y")
    # perfectly collinear features -> singular, loud
    dup = spark.createDataFrame(
        [(1, i, i, i) for i in range(10)], "one int, a int, b int, y int"
    )
    with pytest.raises(ValueError, match="singular"):
        least_squares_3(dup, ["a", "b", "one"], "y")


def test_least_squares_empty_input_refuses_loudly(spark):
    df = spark.createDataFrame(
        [], "one bigint, x1 bigint, x2 bigint, y bigint"
    )
    with pytest.raises(ValueError, match="empty"):
        least_squares_3(df, ["one", "x1", "x2"], "y")
    # all-filtered is the same loud refusal, not a TypeError
    nz = spark.createDataFrame(
        [(1, 2, 3, 4)], "one bigint, x1 bigint, x2 bigint, y bigint"
    ).where("y < 0")
    with pytest.raises(ValueError, match="empty"):
        least_squares_3(nz, ["one", "x1", "x2"], "y")


def test_least_squares_partially_null_columns_refuse_loudly(spark):
    # ADVICE r11: an entirely-NULL feature 1/2 or label column used to
    # slip past the a00/b0/yy/sy check and surface as a raw TypeError
    # from the max-abs extraction — every column must refuse the same way.
    for null_col in ("x1", "x2", "y"):
        df = spark.createDataFrame(
            [(1, 2, 3, 4), (1, 5, 6, 7)],
            "one bigint, x1 bigint, x2 bigint, y bigint",
        ).withColumn(null_col, F.lit(None).cast("bigint"))
        with pytest.raises(ValueError, match="null"):
            least_squares_3(df, ["one", "x1", "x2"], "y")


def test_least_squares_overflow_guard(spark):
    # n·max|f|² ≥ 2^63 → Spark would wrap silently where DuckDB raises;
    # the fit must refuse instead of diverging from the oracle.
    big = 2**32
    rows = [(1, big, i, i % 7) for i in range(4)]
    df = spark.createDataFrame(
        rows, "one bigint, x1 bigint, x2 bigint, y bigint"
    )
    with pytest.raises(ValueError, match="overflow"):
        least_squares_3(df, ["one", "x1", "x2"], "y")
