"""SemDeDup-style semantic dedup (operators/semdedup.py)."""

from __future__ import annotations

import duckdb

from rippledb_engine.operators import semdedup as SD


def _df(spark, rows):
    return spark.createDataFrame(rows, "vid long, vec array<float>")


def _blobs():
    # two far-apart blobs; inside blob A, vids 0/2/3 are near-identical
    # (pairwise cos ≈ 1) and vid 4 points elsewhere; blob B (1, 5) holds an
    # identical pair. k-means with lowest-id init (vids 0, 1) separates the
    # blobs in one round.
    return [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.0, 0.0, 5.0]),
        (2, [1.0, 0.001, 0.0]),
        (3, [0.999, 0.0, 0.0]),
        (4, [0.0, 1.0, 0.0]),
        (5, [0.0, 0.0, 7.0]),
    ]


def test_planted_duplicates_flagged_keep_lowest_id(spark):
    flags = SD.semantic_dedup_flags(
        _df(spark, _blobs()), "vec", "vid", k=2, iterations=2, threshold=0.99
    )
    got = {r["pid"]: r["is_dup"] for r in flags.collect()}
    # 0 survives (lowest id of the {0,2,3} group); 2 and 3 are removed;
    # 4 is same-cluster but orthogonal (cos 0) — kept; 1 survives and its
    # identical twin 5 is removed.
    assert got == {0: False, 1: False, 2: True, 3: True, 4: False, 5: True}


def test_pairs_are_within_cluster_and_ordered(spark):
    pairs = SD.semantic_dedup_pairs(
        _df(spark, _blobs()), "vec", "vid", k=2, iterations=2, threshold=0.99
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert got == {(0, 2), (0, 3), (2, 3), (1, 5)}
    assert all(r["id_a"] < r["id_b"] for r in pairs)
    assert all(r["cos_sim"] >= 0.99 for r in pairs)


def test_threshold_gates_on_rounded_cosine(spark):
    # cos(0,4) = 0 within blob A: a low threshold admits it, flipping 4
    flags = SD.semantic_dedup_flags(
        _df(spark, _blobs()), "vec", "vid", k=2, iterations=2, threshold=-1.0
    )
    got = {r["pid"]: r["is_dup"] for r in flags.collect()}
    assert got[4] is True  # now has lower-id neighbors 0, 2, 3


def test_spark_matches_duckdb_twin(spark):
    rows = _blobs()
    sdf = SD.semantic_dedup_flags(
        _df(spark, rows), "vec", "vid", k=2, iterations=2, threshold=0.99
    ).orderBy("pid")
    got = [(r["pid"], r["cid"], r["is_dup"]) for r in sdf.collect()]

    con = duckdb.connect()
    con.execute("CREATE TABLE emb (vid BIGINT, vec FLOAT[])")
    con.executemany("INSERT INTO emb VALUES (?, ?)", rows)
    cte = SD.semantic_dedup_sql(
        "emb", "vec", "vid", dims=3, k=2, iterations=2, threshold=0.99
    )
    want = con.execute(
        f"WITH {cte} SELECT pid, cid, is_dup FROM sd_flags ORDER BY pid"
    ).fetchall()
    assert got == [tuple(w) for w in want]


def test_exact_duplicates_always_found_random_corpora(spark):
    # structural guarantee: identical vectors normalize identically, get
    # identical distances, and the id tie-break co-clusters them — so
    # exact-duplicate recall is 1.0 whatever the data looks like
    import random

    for seed in (7, 41, 1913):
        rng = random.Random(seed)
        n, dims = 40, 6
        base = [
            (i, [rng.uniform(-1, 1) for _ in range(dims)]) for i in range(n)
        ]
        twins = [(n + j, list(base[j * 4][1])) for j in range(n // 4)]
        pairs = SD.semantic_dedup_pairs(
            _df(spark, base + twins), "vec", "vid", k=5, threshold=0.999999
        )
        found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        planted = {(j * 4, n + j) for j in range(n // 4)}
        assert planted <= found, (seed, planted - found)
