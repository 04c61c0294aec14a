"""Deterministic sketches (operators/sketches.py, r10): KMV / HLL
distinct estimation and A-Res weighted sampling — DuckDB-twin equality
plus the properties that make each sketch correct."""

from __future__ import annotations

import duckdb
import pytest

from rippledb_engine.operators import sketches as SK


def _corpus(spark, n=2000, card=97, groups=3):
    rows = [
        (i, f"g{i % groups}", f"tok{i % card}", 1.0 + (i % 5))
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "id long, grp string, v string, wt double")
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, grp VARCHAR, v VARCHAR, wt DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?,?,?,?)", rows)
    return df, con


def test_kmv_matches_duckdb_twin_and_bounds_error(spark):
    df, con = _corpus(spark)
    got = sorted(map(tuple, SK.kmv_distinct_by_group(df, "v", "grp", k=16).collect()))
    want = sorted(
        map(
            tuple,
            con.execute(
                "WITH " + SK.kmv_distinct_by_group_sql("t", "v", "grp", k=16)
                + " SELECT grp, n_exact, n_sketch, kmv_estimate, rel_error"
                " FROM kmv_est"
            ).fetchall(),
        )
    )
    assert got == want
    for _, n_exact, n_sketch, est, rel in got:
        assert n_exact == 97 and n_sketch == 16
        # KMV standard error ~ 1/sqrt(k-2) ≈ 27% at k=16; generous 2x cap
        assert rel < 0.55, (est, rel)


def test_kmv_small_group_falls_back_to_exact(spark):
    rows = [(i, "only", f"v{i % 5}") for i in range(50)]
    df = spark.createDataFrame(rows, "id long, grp string, v string")
    out = SK.kmv_distinct_by_group(df, "v", "grp", k=64).collect()
    assert len(out) == 1
    r = out[0]
    # 5 distinct < k: the sketch IS the set — estimate exact, zero error
    assert (r["n_exact"], r["n_sketch"], r["kmv_estimate"], r["rel_error"]) == (
        5, 5, 5.0, 0.0,
    )


def test_hll_matches_duckdb_twin_and_register_invariants(spark):
    df, con = _corpus(spark)
    got = sorted(map(tuple, SK.hll_distinct_by_group(df, "v", "grp").collect()))
    want = sorted(
        map(
            tuple,
            con.execute(
                "WITH " + SK.hll_distinct_by_group_sql("t", "v", "grp")
                + " SELECT grp, n_exact, n_registers, n_zero_registers,"
                " hll_estimate, rel_error FROM hll_est"
            ).fetchall(),
        )
    )
    assert got == want
    for _, n_exact, n_regs, n_zero, est, rel in got:
        assert n_regs + n_zero == SK.HLL_M
        assert 0 < n_regs <= min(n_exact, SK.HLL_M)
        # HLL-with-linear-counting error at m=256 is ~6.5%; generous cap
        assert rel < 0.2, (est, rel)


def test_hll_linear_counting_branch_on_tiny_cardinality(spark):
    rows = [(i, "g", f"v{i % 4}") for i in range(40)]
    df = spark.createDataFrame(rows, "id long, grp string, v string")
    r = SK.hll_distinct_by_group(df, "v", "grp").collect()[0]
    # 4 distinct: raw estimate << 2.5m with zero registers present →
    # the linear-counting branch m·ln(m/V) must fire and land close
    assert r["n_zero_registers"] >= SK.HLL_M - 4
    assert abs(r["hll_estimate"] - 4.0) < 0.5, r


def test_weighted_sample_matches_twin_and_respects_weights(spark):
    df, con = _corpus(spark)
    got = sorted(
        map(tuple, SK.weighted_sample_by_group(df, "id", "wt", "grp", k=3).collect())
    )
    want = sorted(
        map(
            tuple,
            con.execute(
                "WITH "
                + SK.weighted_sample_by_group_sql("t", "id", "wt", "grp", k=3)
                + " SELECT grp, rank, id, wt, key_ln FROM wres_sample"
            ).fetchall(),
        )
    )
    assert got == want
    ranks = {}
    for grp, rank, _, _, _ in got:
        ranks.setdefault(grp, []).append(rank)
    assert all(sorted(v) == [1, 2, 3] for v in ranks.values())
    # zero/negative weights never sample
    rows = [(1, "g", 0.0), (2, "g", -1.0), (3, "g", 2.0)]
    df2 = spark.createDataFrame(rows, "id long, grp string, wt double")
    out = SK.weighted_sample_by_group(df2, "id", "wt", "grp", k=3).collect()
    assert [r["id"] for r in out] == [3]


def test_weighted_sample_heavy_item_dominates(spark):
    # one item carries ~10^6x the weight of the rest: A-Res must rank it
    # first (its key u^(1/w) → 1 while light items' keys stay tiny)
    rows = [(i, "g", 1.0) for i in range(100)] + [(999, "g", 1_000_000.0)]
    df = spark.createDataFrame(rows, "id long, grp string, wt double")
    out = SK.weighted_sample_by_group(df, "id", "wt", "grp", k=1).collect()
    assert out[0]["id"] == 999


def test_sketch_param_refusals(spark):
    df = spark.createDataFrame([(1, "g", "v", 1.0)], "id long, grp string, v string, wt double")
    with pytest.raises(ValueError, match="k must be"):
        SK.kmv_distinct_by_group(df, "v", "grp", k=1)
    with pytest.raises(ValueError, match="k must be"):
        SK.kmv_distinct_by_group_sql("t", "v", "grp", k=1)
    with pytest.raises(ValueError, match="k must be"):
        SK.weighted_sample_by_group(df, "id", "wt", "grp", k=0)


def test_cms_matches_twin_and_never_underestimates(spark):
    df, con = _corpus(spark, n=5000, card=211)
    probe = spark.createDataFrame(
        [(f"tok{i}",) for i in range(0, 300, 7)], "v string"
    )
    con.execute("CREATE TABLE pr (v VARCHAR)")
    con.executemany(
        "INSERT INTO pr VALUES (?)", [(f"tok{i}",) for i in range(0, 300, 7)]
    )
    got = sorted(
        map(tuple, SK.cms_token_frequency(df, "v", probe, d=3, w=256).collect())
    )
    want = sorted(
        map(
            tuple,
            con.execute(
                "WITH " + SK.cms_token_frequency_sql("t", "v", "pr", d=3, w=256)
                + " SELECT v, n_exact, cms_estimate, overestimate FROM cms_est"
            ).fetchall(),
        )
    )
    assert got == want
    # the CMS guarantee: estimate >= exact, always — and with 211 values
    # in 256 columns some collision mass must show
    assert all(r[3] >= 0 for r in got)
    assert any(r[3] > 0 for r in got)
    # absent probes (tok217...tok294 beyond card=211) report exact 0
    absents = [r for r in got if r[1] == 0]
    assert absents and all(r[2] == r[3] for r in absents)


def test_bloom_matches_twin_no_false_negatives(spark):
    df, con = _corpus(spark)
    mem = spark.createDataFrame([(f"tok{i}",) for i in range(40)], "v string")
    cand = spark.createDataFrame([(f"tok{i}",) for i in range(400)], "v string")
    con.execute("CREATE TABLE mem (v VARCHAR)")
    con.executemany("INSERT INTO mem VALUES (?)", [(f"tok{i}",) for i in range(40)])
    con.execute("CREATE TABLE cand (v VARCHAR)")
    con.executemany("INSERT INTO cand VALUES (?)", [(f"tok{i}",) for i in range(400)])
    got = sorted(
        map(tuple, SK.bloom_membership(mem, cand, "v", m_bits=512, j=3).collect())
    )
    want = sorted(
        map(
            tuple,
            con.execute(
                "WITH " + SK.bloom_membership_sql("mem", "cand", "v", m_bits=512, j=3)
                + " SELECT v, bloom_hit, exact_member, false_positive FROM bloom_res"
            ).fetchall(),
        )
    )
    assert got == want and len(got) == 400
    # Bloom's contract: NO false negatives, ever
    assert not [r for r in got if r[2] and not r[1]]
    # every member hits; the small m plants real false positives
    assert sum(1 for r in got if r[2]) == 40
    assert any(r[3] for r in got)
    # fp flag is exactly hit-and-not-member
    assert all(r[3] == (r[1] and not r[2]) for r in got)


def test_cms_bloom_param_refusals(spark):
    df = spark.createDataFrame([(1, "v")], "id long, v string")
    with pytest.raises(ValueError, match="need d"):
        SK.cms_token_frequency(df, "v", df, d=0)
    with pytest.raises(ValueError, match="need d"):
        SK.cms_token_frequency_sql("t", "v", "p", w=1)
    with pytest.raises(ValueError, match="need m_bits"):
        SK.bloom_membership(df, df, "v", m_bits=1)
    with pytest.raises(ValueError, match="need m_bits"):
        SK.bloom_membership_sql("m", "c", "v", j=0)


def test_sketch_states_merge_to_single_pass(spark):
    """Mergeability — the property that makes a synopsis distributed:
    states built over arbitrary splits of the corpus merge into EXACTLY
    the single-pass state (HLL: per-register max; KMV: k smallest of
    the union; CMS: cell-wise sum), so estimates off merged state are
    identical, not merely close."""
    df, _ = _corpus(spark, n=3000, card=211)
    parts = [
        df.where(df.id % 3 == r).localCheckpoint(eager=True) for r in range(3)
    ]
    # HLL
    whole = sorted(map(tuple, SK.hll_registers(df, "v", "grp").collect()))
    merged_regs = SK.hll_merge_registers(
        *[SK.hll_registers(p, "v", "grp") for p in parts]
    )
    assert sorted(map(tuple, merged_regs.collect())) == whole
    est_w = sorted(
        map(tuple, SK.hll_estimate_from_registers(
            SK.hll_registers(df, "v", "grp")).collect())
    )
    est_m = sorted(map(tuple, SK.hll_estimate_from_registers(merged_regs).collect()))
    assert est_w == est_m
    # merging a state with itself is a no-op (replay safety)
    self_merged = SK.hll_merge_registers(merged_regs, merged_regs)
    assert sorted(map(tuple, self_merged.collect())) == whole
    # KMV
    whole_k = sorted(map(tuple, SK.kmv_state(df, "v", "grp", k=16).collect()))
    merged_k = SK.kmv_merge_states(
        16, *[SK.kmv_state(p, "v", "grp", k=16) for p in parts]
    )
    assert sorted(map(tuple, merged_k.collect())) == whole_k
    assert sorted(
        map(tuple, SK.kmv_merge_states(16, merged_k, merged_k).collect())
    ) == whole_k
    est_w = sorted(map(tuple, SK.kmv_estimate_from_state(
        SK.kmv_state(df, "v", "grp", k=16), 16).collect()))
    est_m = sorted(map(tuple, SK.kmv_estimate_from_state(merged_k, 16).collect()))
    assert est_w == est_m
    # CMS (NOT idempotent — counts add; merge of disjoint splits only)
    whole_c = sorted(map(tuple, SK.cms_table(df, "v", d=3, w=256).collect()))
    merged_c = SK.cms_merge_tables(
        *[SK.cms_table(p, "v", d=3, w=256) for p in parts]
    )
    assert sorted(map(tuple, merged_c.collect())) == whole_c


def test_sketch_states_invariant_under_repartitioning(spark):
    df, _ = _corpus(spark, n=2000, card=97)
    a = sorted(map(tuple, SK.hll_registers(df, "v", "grp").collect()))
    b = sorted(
        map(tuple, SK.hll_registers(df.repartition(7), "v", "grp").collect())
    )
    assert a == b
    c = sorted(map(tuple, SK.cms_table(df, "v", d=2, w=64).collect()))
    e = sorted(map(tuple, SK.cms_table(df.repartition(13), "v", d=2, w=64).collect()))
    assert c == e


def test_hyperball_matches_twin_and_tracks_exact(spark):
    """HyperBall (r10): estimated neighborhood function matches the
    DuckDB register-replay twin within the float-sum tolerance, tracks
    the exact bounded closure on a known graph, and is monotone in t."""
    import duckdb as _dd

    from rippledb_engine.operators.hyperball import (
        exact_neighborhood_function,
        hyperball_neighborhood_function,
        hyperball_sql,
    )

    # chain 0->..->9 plus hub shortcuts from n0
    edges = [(f"n{i}", f"n{i + 1}") for i in range(9)] + [
        ("n0", f"n{k}") for k in (3, 5, 7)
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = sorted(
        map(tuple, hyperball_neighborhood_function(df, rounds=3).collect())
    )
    gote = sorted(
        map(tuple, exact_neighborhood_function(df, rounds=3).collect())
    )
    con = _dd.connect()
    con.execute("CREATE TABLE ed (src VARCHAR, dst VARCHAR)")
    con.executemany("INSERT INTO ed VALUES (?,?)", edges)
    cte = hyperball_sql("ed", rounds=3)
    want = sorted(
        map(
            tuple,
            con.execute(
                f"WITH RECURSIVE {cte} SELECT t, hyperball_sum"
                " FROM hyperball_nf"
            ).fetchall(),
        )
    )
    wante = sorted(
        map(
            tuple,
            con.execute(
                f"WITH RECURSIVE {cte} SELECT t, n_pairs_exact FROM hb_exact"
            ).fetchall(),
        )
    )
    assert gote == wante == [(0, 10), (1, 22), (2, 33), (3, 40)]
    assert all(
        abs(a[1] - b[1]) <= 1e-9 * max(1.0, abs(a[1]))
        for a, b in zip(got, want)
    )
    # estimates track the exact function (m=256 on tiny balls is sharp)
    for (t, est), (_, exact) in zip(got, gote):
        assert abs(est - exact) / exact < 0.05, (t, est, exact)
    # monotone in t (balls only grow)
    assert all(got[i][1] <= got[i + 1][1] for i in range(len(got) - 1))


def test_hyperball_rounds_refusal(spark):
    import pytest as _pt

    from rippledb_engine.operators.hyperball import (
        hyperball_neighborhood_function,
        hyperball_sql,
    )

    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    with _pt.raises(ValueError, match="rounds"):
        hyperball_neighborhood_function(df, rounds=-1)
    with _pt.raises(ValueError, match="rounds"):
        hyperball_sql("e", rounds=-1)


def test_feature_hash_vectors_twin_and_contracts(spark):
    """Feature hashing (r10): DuckDB-twin equality, zero vectors for
    tokenless docs, integer-exact cells, and linearity (k copies of a
    token scale its cell by k)."""
    import duckdb as _dd

    from rippledb_engine.operators.sketches import (
        feature_hash_vectors,
        feature_hash_vectors_sql,
    )

    rows = [
        (0, "apple banana apple"),
        (1, "banana cherry"),
        (2, ""),
        (3, "apple apple apple apple"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], tuple(r["v"]))
        for r in feature_hash_vectors(df, "text", "doc_id", dims=8).collect()
    )
    con = _dd.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?,?)", rows)
    want = sorted(
        (r[0], tuple(r[1]))
        for r in con.execute(
            "WITH "
            + feature_hash_vectors_sql("docs", "text", "doc_id", dims=8)
            + " SELECT doc_id, v FROM hf_vecs"
        ).fetchall()
    )
    assert got == want
    d = dict(got)
    assert d[2] == (0.0,) * 8                       # tokenless → zero vec
    assert all(x == int(x) for v in d.values() for x in v)  # integer cells
    # doc 3 = 4 copies of one token: exactly one cell at ±4
    assert sorted(abs(x) for x in d[3])[-1] == 4.0
    assert sum(1 for x in d[3] if x != 0.0) == 1
    # doc 0 has 2x apple + 1x banana: apple's cell is ±2, banana's ±1
    assert sorted(abs(x) for x in d[0] if x != 0.0) == [1.0, 2.0]
    import pytest as _pt
    with _pt.raises(ValueError, match="dims"):
        feature_hash_vectors(df, "text", "doc_id", dims=0)
