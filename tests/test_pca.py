"""Distributed PCA (operators/pca.py, r10): DuckDB-twin equality plus
the linear-algebra properties that certify the decomposition."""

from __future__ import annotations

import math

import duckdb
import pytest

from rippledb_engine.operators.pca import (
    covariance_matrix,
    pca_top_component,
    pca_top_component_sql,
    power_iteration_top,
)


def _planted(spark, n=500, noise=True):
    """Variance concentrated along (3,4)/5 in the first two dims; tiny
    deterministic noise elsewhere — a clean dominant eigenpair."""
    rows = []
    for i in range(n):
        t = (i % 100) / 10.0 - 5.0
        rows.append(
            (
                i,
                [
                    3 * t / 5 + (0.01 * (i % 7) if noise else 0.0),
                    4 * t / 5 - (0.01 * (i % 5) if noise else 0.0),
                    (0.05 * (i % 3)) if noise else 0.0,
                    (0.02 * (i % 2)) if noise else 0.0,
                ],
            )
        )
    return rows, spark.createDataFrame(rows, "pid long, vec array<double>")


def test_pca_matches_duckdb_twin(spark):
    rows, df = _planted(spark)
    got = sorted(map(tuple, pca_top_component(df, "vec", 4).collect()))
    con = duckdb.connect()
    con.execute("CREATE TABLE emb (pid BIGINT, vec DOUBLE[])")
    con.executemany("INSERT INTO emb VALUES (?,?)", rows)
    cte = pca_top_component_sql("emb", "vec", "pid", dims=4)
    want = sorted(
        map(
            tuple,
            con.execute(
                f"WITH {cte} SELECT dim, mean, loading, eigenvalue,"
                " residual FROM pca_top"
            ).fetchall(),
        )
    )
    assert got == want and len(got) == 4


def test_pca_recovers_planted_direction_with_certificate(spark):
    _, df = _planted(spark)
    out = {r["dim"]: r for r in pca_top_component(df, "vec", 4).collect()}
    # the planted direction is (0.6, 0.8, ~0, ~0); sign fix makes the
    # largest-|loading| component positive
    assert abs(out[0]["loading"] - 0.6) < 0.01
    assert abs(out[1]["loading"] - 0.8) < 0.01
    assert abs(out[2]["loading"]) < 0.01 and abs(out[3]["loading"]) < 0.01
    # the self-verifying certificate: a converged eigenpair
    assert out[0]["residual"] < 1e-3
    assert out[0]["eigenvalue"] > 5.0  # spread of t over [-5, 4.9)
    # the loadings are (up to rounding) unit-norm
    norm = math.sqrt(sum(out[i]["loading"] ** 2 for i in range(4)))
    assert abs(norm - 1.0) < 1e-3


def test_pca_covariance_is_symmetric_and_centered(spark):
    _, df = _planted(spark)
    cov = {(r["i"], r["j"]): r["cij"] for r in covariance_matrix(df, "vec", 4).collect()}
    assert len(cov) == 16
    for i in range(4):
        for j in range(4):
            assert cov[(i, j)] == cov[(j, i)], (i, j)
        assert cov[(i, i)] >= 0.0


def test_pca_eigenvalue_dominates_total_variance_share(spark):
    _, df = _planted(spark)
    cov = covariance_matrix(df, "vec", 4)
    trace = sum(
        r["cij"] for r in cov.where("i = j").collect()
    )
    top = power_iteration_top(cov, 4).collect()[0]
    # the planted component carries nearly all the variance
    assert top["eigenvalue"] / trace > 0.95
    # eigenvalue can never exceed the trace (PSD matrix)
    assert top["eigenvalue"] <= trace + 1e-6


def test_pca_sign_is_deterministic_under_negation(spark):
    """Flipping every vector's sign flips the covariance not at all —
    the output must be bit-identical (the sign fix is a function of the
    decomposition, not the data orientation)."""
    import pyspark.sql.functions as F

    _, df = _planted(spark, noise=False)
    neg = df.select(
        "pid", F.transform("vec", lambda x: -x).alias("vec")
    )
    a = sorted(map(tuple, pca_top_component(df, "vec", 4).collect()))
    b = [
        (d, -m if m != 0.0 else m, l, e, r)
        for d, m, l, e, r in sorted(
            map(tuple, pca_top_component(neg, "vec", 4).collect())
        )
    ]
    # loadings/eigenvalue/residual identical; means negate
    assert [(d, l, e, r) for d, _, l, e, r in a] == [
        (d, l, e, r) for d, _, l, e, r in b
    ]


def test_pca_iterations_refusal(spark):
    _, df = _planted(spark)
    with pytest.raises(ValueError, match="iterations"):
        power_iteration_top(covariance_matrix(df, "vec", 4), 4, iterations=0)
    with pytest.raises(ValueError, match="iterations"):
        pca_top_component_sql("t", "v", "id", dims=4, iterations=0)


def _planted2(spark, n=500):
    """Two planted orthogonal directions with distinct variances."""
    rows = []
    for i in range(n):
        t = (i % 100) / 10.0 - 5.0
        u = ((i * 37) % 50) / 10.0 - 2.5
        rows.append((i, [3 * t / 5 + 0.01 * (i % 7), 4 * t / 5,
                         u + 0.02 * (i % 3), -u]))
    return rows, spark.createDataFrame(rows, "pid long, vec array<double>")


def test_pca_two_components_match_twin_and_are_orthogonal(spark):
    from rippledb_engine.operators.pca import (
        pca_top_components,
        pca_top_components_sql,
    )

    rows, df = _planted2(spark)
    comps = pca_top_components(df, "vec", 4, n_components=2, iterations=6)
    got = sorted(map(tuple, comps.collect()))
    con = duckdb.connect()
    con.execute("CREATE TABLE emb (pid BIGINT, vec DOUBLE[])")
    con.executemany("INSERT INTO emb VALUES (?,?)", rows)
    cte = pca_top_components_sql("emb", "vec", "pid", dims=4,
                                 n_components=2, iterations=6)
    want = sorted(
        map(
            tuple,
            con.execute(
                f"WITH {cte} SELECT component, dim, loading, eigenvalue,"
                " residual FROM pca_components"
            ).fetchall(),
        )
    )
    assert got == want and len(got) == 8
    by_c = {}
    for c, d, l, e, r in got:
        by_c.setdefault(c, {})[d] = (l, e, r)
    # decreasing eigenvalues; both residuals small
    assert by_c[0][0][1] > by_c[1][0][1]
    assert all(by_c[c][0][2] < 1e-2 for c in (0, 1))
    # deflation recovers the SECOND planted direction (0,0,1,-1)/sqrt2
    assert abs(abs(by_c[1][2][0]) - 0.7071) < 0.01
    assert abs(abs(by_c[1][3][0]) - 0.7071) < 0.01
    # near-orthogonality of the two components
    dot = sum(by_c[0][d][0] * by_c[1][d][0] for d in range(4))
    assert abs(dot) < 0.05


def test_pca_projection_variance_equals_eigenvalue(spark):
    import pyspark.sql.functions as F

    from rippledb_engine.operators.pca import pca_project, pca_top_components

    _, df = _planted2(spark)
    comps = pca_top_components(
        df, "vec", 4, n_components=2, iterations=6
    ).localCheckpoint(eager=True)
    proj = pca_project(df, "vec", "pid", comps, 4)
    pv = {
        r["component"]: r["cv"]
        for r in proj.groupBy("component")
        .agg(
            (
                F.avg(F.col("coord") * F.col("coord"))
                - F.avg("coord") * F.avg("coord")
            ).alias("cv")
        )
        .collect()
    }
    ev = {
        r["component"]: r["eigenvalue"]
        for r in comps.select("component", "eigenvalue").distinct().collect()
    }
    # the variance along a converged eigenvector IS its eigenvalue
    for c in (0, 1):
        assert abs(pv[c] - ev[c]) / ev[c] < 1e-3, (c, pv[c], ev[c])
    # each vector gets one coordinate per component
    assert proj.count() == 2 * df.count()


def test_pca_components_param_refusal(spark):
    from rippledb_engine.operators.pca import (
        pca_top_components,
        pca_top_components_sql,
    )

    _, df = _planted2(spark, n=20)
    with pytest.raises(ValueError, match="n_components"):
        pca_top_components(df, "vec", 4, n_components=0)
    with pytest.raises(ValueError, match="n_components"):
        pca_top_components_sql("t", "v", "id", dims=4, n_components=5)


def test_driver_iteration_matches_distributed_bitexact(spark, monkeypatch):
    """r15: power_iteration_top runs driver-side for d ≤
    PCA_DRIVER_MAX_DIMS. The driver path must be BIT-identical to the
    distributed JVM loop — same fold order, same per-round 6dp rounding
    (_round6_py ≡ F.round), same certificate tail — on real planted
    corpora, including the full deflation sequence."""
    from rippledb_engine.operators import pca as pca_mod
    from rippledb_engine.operators.pca import pca_top_components

    for planted in (_planted, _planted2):
        _, df = planted(spark)
        driver = sorted(
            map(tuple, pca_top_components(df, "vec", 4, n_components=2,
                                          iterations=6).collect())
        )
        monkeypatch.setattr(pca_mod, "PCA_DRIVER_MAX_DIMS", -1)
        dist = sorted(
            map(tuple, pca_top_components(df, "vec", 4, n_components=2,
                                          iterations=6).collect())
        )
        monkeypatch.undo()
        assert driver == dist  # exact float equality, no tolerance


def test_round6_py_matches_jvm_round(spark):
    """_round6_py must replay F.round(x, 6) on DOUBLE bit-for-bit over
    the magnitudes this module produces (|x| ≲ 1e6), including half-up
    boundaries, negatives, and shortest-repr edge cases."""
    import pyspark.sql.functions as F

    from rippledb_engine.operators.pca import _round6_py

    vals = []
    # 6dp half boundaries and near-boundaries, both signs
    for base in (0.0000005, 0.1234565, 0.9999995, 1.0000005, 123.4567895):
        for s in (1.0, -1.0):
            for eps in (0.0, 1e-12, -1e-12, 1e-9, -1e-9):
                vals.append(s * (base + eps))
    # deterministic pseudo-random sweep across magnitudes
    x = 0.5
    for k in range(4000):
        x = (x * 1103515245.0 + 12345.0) % 1.0
        vals.append((x - 0.5) * (10.0 ** (k % 8 - 3)))
    vals.extend([0.0, -0.0, 1.0, -1.0, 1e-7, -1e-7, 5e-7, -5e-7])
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [r["r"] for r in df.select(F.round("x", 6).alias("r")).collect()]
    want = [_round6_py(v) for v in vals]
    assert got == want  # exact equality


def test_power_iteration_ragged_matrix_falls_back(spark):
    """A cov frame that is not dense d×d must keep the distributed
    path's semantics (the driver path refuses and falls back)."""
    from rippledb_engine.operators.pca import (
        _collect_dense_matrix,
        power_iteration_top,
    )

    _, df = _planted(spark)
    cov = covariance_matrix(df, "vec", 4)
    ragged = cov.where("NOT (i = 3 AND j = 3)")
    assert _collect_dense_matrix(ragged, 4) is None
    # still executes (falls back to the distributed loop)
    out = power_iteration_top(ragged, 4, iterations=2).collect()
    assert len(out) == 1
