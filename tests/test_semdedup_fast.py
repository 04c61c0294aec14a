"""Equality pins: the numpy fast kernels vs their oracle-certified twins.

``bench.py`` times ``semantic_dedup_summary_fast`` under the registered
``dedup_semantic_embedding`` key, so the fast path's answer MUST equal the
certified interpreted-fold path's answer — these tests are that guarantee
(round-7 verdict ask #1). Covered: ``unit_vectors_fast``,
``kmeans_assignments_fast``, ``semantic_dedup_pairs_fast``,
``semantic_dedup_summary_fast``, each pinned against its certified form on
the driver's own sf0.01 embeddings corpus (500 × 64, the corpus the bench
and the correctness gate both use) PLUS an adversarial fixture whose
cosines sit within 1e-7 of the 6dp rounding boundary — the drift scenario
docs/SCALING.md names (BLAS vs sequential-fold summation order flipping a
rounded cosine at the threshold edge).
"""

from __future__ import annotations

import math

import pytest

from rippledb_engine.operators import semdedup as SD
from rippledb_engine.operators.clustering import (
    kmeans_assignments,
    kmeans_assignments_fast,
)

SF001 = "/root/testdata/sf0.01"


def _emb(spark):
    return spark.read.parquet(f"{SF001}/embeddings.parquet")


def test_unit_vectors_fast_matches_certified(spark):
    e = _emb(spark)
    slow = {
        r["pid"]: r["v"]
        for r in SD.unit_vectors(e, "embedding", "vec_id").collect()
    }
    fast = {
        r["pid"]: r["v"]
        for r in SD.unit_vectors_fast(e, "embedding", "vec_id").collect()
    }
    assert set(slow) == set(fast)
    for pid, v in slow.items():
        w = fast[pid]
        assert len(v) == len(w)
        # numpy's pairwise-summed norm vs the sequential fold differ only
        # at the ulp level; after the divide the components must agree far
        # inside the 6dp rounding the downstream gate applies
        assert all(abs(a - b) <= 1e-12 for a, b in zip(v, w)), pid


def test_kmeans_assignments_fast_matches_certified(spark):
    unit = SD.unit_vectors(_emb(spark), "embedding", "vec_id")
    slow = {
        r["pid"]: (r["cid"], r["d2"])
        for r in kmeans_assignments(unit, "v", "pid", k=16, iterations=2).collect()
    }
    fast = {
        r["pid"]: (r["cid"], r["d2"])
        for r in kmeans_assignments_fast(
            unit, "v", "pid", k=16, iterations=2
        ).collect()
    }
    assert set(slow) == set(fast)
    for pid, (cid, d2) in slow.items():
        fcid, fd2 = fast[pid]
        assert cid == fcid, pid  # identical init/rounding/tie-break contract
        assert abs(d2 - fd2) <= 1e-9, pid


def test_kmeans_fast_keep_vector_carries_unit_vector(spark):
    unit = SD.unit_vectors_fast(_emb(spark), "embedding", "vec_id")
    src = {r["pid"]: r["v"] for r in unit.collect()}
    out = kmeans_assignments_fast(
        unit, "v", "pid", k=4, iterations=2, keep_vector=True
    ).collect()
    assert {r["pid"] for r in out} == set(src)
    for r in out:
        assert r["v"] == pytest.approx(src[r["pid"]], abs=0.0), r["pid"]


def test_pairs_fast_matches_certified(spark):
    e = _emb(spark)
    slow = SD.semantic_dedup_pairs(
        e, "embedding", "vec_id", k=16, iterations=2, threshold=0.35
    ).collect()
    fast = SD.semantic_dedup_pairs_fast(
        e, "embedding", "vec_id", k=16, iterations=2, threshold=0.35
    ).collect()
    skey = {(r["cid"], r["id_a"], r["id_b"]): r["cos_sim"] for r in slow}
    fkey = {(r["cid"], r["id_a"], r["id_b"]): r["cos_sim"] for r in fast}
    assert set(skey) == set(fkey)  # pair-set equality
    assert skey  # non-vacuous: the sf0.01 corpus has planted near-dups
    for k, cs in skey.items():
        assert abs(cs - fkey[k]) <= 1e-9, k  # both 6dp-rounded → equal


def test_summary_fast_matches_certified_query(spark):
    """The pin the bench relies on: `semantic_dedup_summary_fast` (what
    bench.py times under the dedup_semantic_embedding key, same k=16)
    row-for-row equals the REGISTERED certified query's aggregation."""
    from rippledb_engine.registry import all_queries

    certified = all_queries()["dedup_semantic_embedding"](spark, SF001).collect()
    fast = (
        SD.semantic_dedup_summary_fast(_emb(spark), "embedding", "vec_id", k=16)
        .orderBy("cid")
        .collect()
    )
    assert [r["cid"] for r in certified] == [r["cid"] for r in fast]
    for c, f in zip(certified, fast):
        assert (c["n_points"], c["n_dup_pairs"], c["n_removed"]) == (
            f["n_points"],
            f["n_dup_pairs"],
            f["n_removed"],
        ), c["cid"]
        if c["max_cos"] is None:
            assert f["max_cos"] is None, c["cid"]
        else:
            # both paths round each cosine to 6dp before max
            assert abs(c["max_cos"] - f["max_cos"]) <= 1e-9, c["cid"]


# ---------------------------------------------------------------------------
# Adversarial rounding-edge fixture: cosines within 1e-7 of the 6dp boundary.
#
# The gate keeps round(cos, 6) >= 0.35, so the decision boundary for the raw
# cosine is 0.3499995. We plant pairs whose exact cosine is 0.3499996 (must
# be KEPT: rounds to 0.350000) and 0.3499994 (must be DROPPED: rounds to
# 0.349999) — if BLAS summation order or numpy's half-even rounding ever
# disagreed with the certified fold + HALF_UP F.round here, the pair sets
# would split. u and w are exactly orthogonal 8-dim ±1 vectors (norm √8
# exactly representable), so dot(u_hat, c·u_hat + s·w_hat) = c up to ulps
# and the 8-term summation genuinely exercises accumulation order.
# ---------------------------------------------------------------------------


def _edge_rows():
    dims = 8
    u = [1.0] * dims
    w = [1.0, -1.0] * (dims // 2)
    nu = math.sqrt(dims)
    u_hat = [x / nu for x in u]
    w_hat = [x / nu for x in w]
    rows = [(0, u_hat)]
    for i, c in enumerate((0.3499996, 0.3499994, 0.3500001, 0.3499990)):
        s = math.sqrt(1.0 - c * c)
        rows.append((i + 1, [c * a + s * b for a, b in zip(u_hat, w_hat)]))
    return rows


def test_rounding_edge_pairs_agree_between_engines(spark):
    rows = _edge_rows()
    df = spark.createDataFrame(rows, "vid long, vec array<double>")
    kw = dict(k=1, iterations=1, threshold=0.35)
    slow = SD.semantic_dedup_pairs(df, "vec", "vid", **kw).collect()
    fast = SD.semantic_dedup_pairs_fast(df, "vec", "vid", **kw).collect()
    s_pairs = {(r["id_a"], r["id_b"]): r["cos_sim"] for r in slow}
    f_pairs = {(r["id_a"], r["id_b"]): r["cos_sim"] for r in fast}
    # the engines must agree pair-for-pair at the edge...
    assert set(s_pairs) == set(f_pairs)
    for k in s_pairs:
        assert abs(s_pairs[k] - f_pairs[k]) <= 1e-9, k
    # ...and the edge must actually discriminate: 0.3499996 and 0.3500001
    # round up into the gate, 0.3499994 and 0.3499990 round below it
    assert (0, 1) in s_pairs and (0, 3) in s_pairs
    assert (0, 2) not in s_pairs and (0, 4) not in s_pairs


def test_rounding_edge_summary_agrees(spark):
    rows = _edge_rows()
    df = spark.createDataFrame(rows, "vid long, vec array<double>")
    fast = SD.semantic_dedup_summary_fast(
        df, "vec", "vid", k=1, iterations=1, threshold=0.35
    ).collect()
    assert len(fast) == 1
    r = fast[0]
    # pairs among {0..4}: (0,1) and (0,3) clear the gate; 1-vs-3 cosine is
    # ~0.245 (c_i*c_j + s_i*s_j... both near 0.35 → cos ≈ 0.35²+0.94² ≈ 1)
    # — recompute expectations from the certified path instead of by hand
    slow_pairs = SD.semantic_dedup_pairs(
        df, "vec", "vid", k=1, iterations=1, threshold=0.35
    ).collect()
    removed = {p["id_b"] for p in slow_pairs}
    assert r["n_points"] == 5
    assert r["n_dup_pairs"] == len(slow_pairs)
    assert r["n_removed"] == len(removed)
    want_max = max(p["cos_sim"] for p in slow_pairs)
    assert abs(r["max_cos"] - want_max) <= 1e-9
