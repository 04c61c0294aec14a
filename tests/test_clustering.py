"""Lloyd k-means (operators/clustering.py)."""

from __future__ import annotations

import duckdb
import pytest

from rippledb_engine.operators import clustering as KM


def _df(spark, rows):
    return spark.createDataFrame(rows, "vid long, vec array<float>")


def test_separated_blobs_recover_clusters(spark):
    # two tight blobs far apart; init picks vid 0 (blob A) and vid 1
    # (blob B) — one round already assigns perfectly, two stay stable
    a = [[0.0, 0.0], [0.1, 0.0], [0.0, 0.1], [0.1, 0.1]]
    b = [[10.0, 10.0], [10.1, 10.0], [10.0, 10.1], [10.1, 10.1]]
    rows = [(0, a[0]), (1, b[0])] + [
        (i + 2, v) for i, v in enumerate(a[1:] + b[1:])
    ]
    out = KM.kmeans_assignments(_df(spark, rows), "vec", "vid", k=2, iterations=2)
    got = {r["pid"]: r["cid"] for r in out.collect()}
    assert got[0] == 0 and got[1] == 1
    assert [got[i + 2] for i in range(3)] == [0, 0, 0]
    assert [got[i + 5] for i in range(3)] == [1, 1, 1]


def test_every_vector_assigned_exactly_once(spark):
    rows = [(i, [float(i), float(i % 3)]) for i in range(10)]
    out = KM.kmeans_assignments(_df(spark, rows), "vec", "vid", k=3, iterations=3)
    pids = sorted(r["pid"] for r in out.collect())
    assert pids == list(range(10))


def test_rejects_bad_params(spark):
    with pytest.raises(ValueError, match="positive"):
        KM.kmeans_assignments(_df(spark, [(0, [1.0])]), "vec", "vid", k=0)
    with pytest.raises(ValueError, match="positive"):
        KM.kmeans_assignments_sql("t", "v", "i", dims=2, iterations=0)


def test_spark_matches_duckdb_unrolled(spark):
    rows = [
        (i, [float((i * 7 + d * 3) % 11) / 3.0, float((i * 5 + d) % 7) - 2.0])
        for i in range(12)
        for d in [0]
    ]
    sdf = KM.kmeans_assignments(
        _df(spark, rows), "vec", "vid", k=3, iterations=2
    ).orderBy("pid")
    got = [(r["pid"], r["cid"], r["d2"]) for r in sdf.collect()]

    con = duckdb.connect()
    con.execute("CREATE TABLE emb (vid BIGINT, vec FLOAT[])")
    con.executemany("INSERT INTO emb VALUES (?, ?)", rows)
    cte = KM.kmeans_assignments_sql("emb", "vec", "vid", dims=2, k=3, iterations=2)
    want = con.execute(
        f"WITH {cte} SELECT pid, cid, d2 FROM km_final ORDER BY pid"
    ).fetchall()
    for g, w in zip(got, want, strict=True):
        assert g[0] == w[0] and g[1] == w[1]
        assert g[2] == pytest.approx(w[2], rel=1e-12, abs=1e-12)
