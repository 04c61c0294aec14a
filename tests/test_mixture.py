"""Fractional-epoch mixture application (operators/mixture.py)."""

from __future__ import annotations

import duckdb
import pyspark.sql.functions as F

from rippledb_engine.operators import mixture as MX


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, w double")


def test_integer_weights_repeat_exactly(spark):
    out = MX.apply_mixture_epochs(
        _df(spark, [(1, 3.0), (2, 1.0)]), "w", "id"
    ).collect()
    got = {}
    for r in out:
        got.setdefault(r["id"], []).append(r["epoch_idx"])
    assert sorted(got[1]) == [0, 1, 2]
    assert sorted(got[2]) == [0]


def test_zero_weight_drops_row(spark):
    out = MX.apply_mixture_epochs(_df(spark, [(1, 0.0)]), "w", "id").collect()
    assert out == []


def test_fractional_gate_is_deterministic_and_bounded(spark):
    # weight 2.5: every row gets 2 or 3 copies; across many ids the extra
    # copy lands on ~half (hash-gated, not RNG) and re-running is identical
    rows = [(i, 2.5) for i in range(200)]
    a = MX.apply_mixture_epochs(_df(spark, rows), "w", "id")
    counts = {
        r["id"]: r["n"]
        for r in a.groupBy("id").agg(F.count("*").alias("n")).collect()
    }
    assert set(counts.values()) <= {2, 3}
    n3 = sum(1 for v in counts.values() if v == 3)
    assert 60 <= n3 <= 140  # ~100 expected
    b = MX.apply_mixture_epochs(_df(spark, rows), "w", "id")
    counts_b = {
        r["id"]: r["n"]
        for r in b.groupBy("id").agg(F.count("*").alias("n")).collect()
    }
    assert counts == counts_b


def test_copy_counts_match_duckdb_twin(spark):
    rows = [(i, [0.0, 0.4, 1.0, 1.7, 2.5, 3.0][i % 6]) for i in range(60)]
    sdf = MX.apply_mixture_epochs(_df(spark, rows), "w", "id")
    got = {
        r["id"]: r["n"]
        for r in sdf.groupBy("id").agg(F.count("*").alias("n")).collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, w DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    n_expr = MX.mixture_epochs_sql("w", "id")
    want = dict(
        con.execute(
            f"SELECT id, n_copies FROM (SELECT id, {n_expr} FROM t)"
        ).fetchall()
    )
    for i, w in rows:
        assert got.get(i, 0) == want[i], (i, w)


def test_temperature_mixture_weights_flattens_head(spark):
    """r9: α<1 upweights small sources per-row; α=1 is proportional
    (epochs all equal); α=0 is uniform across sources. Budget converts
    p to epochs exactly: sum over sources of epochs·n == budget."""
    from rippledb_engine.operators.mixture import temperature_mixture_weights

    rows = [("big", 400), ("mid", 100), ("small", 4)]
    df = spark.createDataFrame(rows, "src string, n long")

    def weights(alpha):
        return {
            r["source"]: (r["p"], r["epochs"])
            for r in temperature_mixture_weights(
                df, "n", "src", alpha=alpha, budget=504.0
            ).collect()
        }

    w05 = weights(0.5)
    # flattening: small's per-row epoch weight exceeds big's
    assert w05["small"][1] > w05["mid"][1] > w05["big"][1]
    # α=1: proportional sampling = every source at 1 epoch (budget=total)
    w1 = weights(1.0)
    for src in ("big", "mid", "small"):
        assert abs(w1[src][1] - 1.0) < 1e-9, w1
    # α=0: uniform p = 1/3 each
    w0 = weights(0.0)
    assert all(abs(v[0] - round(1 / 3, 6)) < 1e-9 for v in w0.values())
    # budget conservation (within rounding): Σ epochs·n ≈ budget
    got = sum(w05[s][1] * n for s, n in rows)
    assert abs(got - 504.0) < 0.01


def test_temperature_mixture_sql_twin(spark):
    import duckdb

    from rippledb_engine.operators.mixture import (
        temperature_mixture_sql,
        temperature_mixture_weights,
    )

    rows = [("a", 4), ("b", 16), ("c", 64)]  # power-of-2 counts: pow exact
    df = spark.createDataFrame(rows, "src string, n long")
    got = sorted(
        map(tuple, temperature_mixture_weights(
            df, "n", "src", alpha=0.5, budget=100.0
        ).collect())
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE cnt (src VARCHAR, n BIGINT)")
    con.executemany("INSERT INTO cnt VALUES (?, ?)", rows)
    cte = temperature_mixture_sql("cnt", "n", "src", alpha=0.5, budget=100.0)
    want = sorted(
        tuple(r)
        for r in con.execute(
            f"WITH {cte} SELECT source, n_rows, p, epochs FROM temp_mix"
        ).fetchall()
    )
    assert got == want


def test_temperature_mixture_refuses_negative_alpha(spark):
    import pytest

    from rippledb_engine.operators.mixture import (
        temperature_mixture_sql,
        temperature_mixture_weights,
    )

    df = spark.createDataFrame([("a", 1)], "src string, n long")
    with pytest.raises(ValueError, match="non-negative"):
        temperature_mixture_weights(df, "n", "src", alpha=-1.0)
    with pytest.raises(ValueError, match="non-negative"):
        temperature_mixture_sql("t", "n", "src", alpha=-0.1)


def test_epoch_shuffle_reseeds_and_is_deterministic(spark):
    from rippledb_engine.operators.packing import epoch_shuffle_shards

    df = spark.range(200).select(F.col("id").alias("doc_id"))
    a = {r["id"]: (r["shard"], r["pos"])
         for r in epoch_shuffle_shards(df, "doc_id", 4, seed=1).collect()}
    b = {r["id"]: (r["shard"], r["pos"])
         for r in epoch_shuffle_shards(df, "doc_id", 4, seed=1).collect()}
    c = {r["id"]: (r["shard"], r["pos"])
         for r in epoch_shuffle_shards(df, "doc_id", 4, seed=2).collect()}
    assert a == b                       # same seed: identical deal
    assert a != c                       # new seed: a different epoch
    assert len(a) == 200
    # positions are 1..n within each shard, no gaps
    by_shard = {}
    for shard, pos in a.values():
        by_shard.setdefault(shard, []).append(pos)
    assert set(by_shard) == {0, 1, 2, 3}
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    import pytest
    with pytest.raises(ValueError, match="positive"):
        epoch_shuffle_shards(df, "doc_id", 0)
