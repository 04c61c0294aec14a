"""Graph analytics operators: degrees + PageRank."""

from __future__ import annotations

import pytest

from rippledb_spark import TripleStore
from rippledb_engine.operators.graph import degrees, pagerank


def test_degrees_counts_named_edges_only(spark):
    st = TripleStore.from_rows(
        spark,
        [
            ("a", "knows", "b"),
            ("a", "knows", "c"),
            ("b", "knows", "c"),
            ("a", "named", "label", "a-literal", "literal", None, None),  # not an edge
        ],
    )
    d = {r["node"]: (r["out_degree"], r["in_degree"]) for r in degrees(st.df).collect()}
    assert d["a"] == (2, 0)
    assert d["b"] == (1, 1)
    assert d["c"] == (0, 2)


def test_pagerank_chain_values(spark):
    edges = spark.createDataFrame([("a", "b"), ("b", "c")], ["src", "dst"])
    r = {x["node"]: x["rank"] for x in pagerank(edges, iterations=30).collect()}
    # closed form for a chain with d=0.85: r(a)=0.15, r(b)=0.15+0.85*0.15,
    # r(c)=0.15+0.85*r(b)
    assert r["a"] == pytest.approx(0.15, abs=1e-9)
    assert r["b"] == pytest.approx(0.15 + 0.85 * 0.15, abs=1e-9)
    assert r["c"] == pytest.approx(0.15 + 0.85 * (0.15 + 0.85 * 0.15), abs=1e-9)


def test_pagerank_sink_and_hub(spark):
    # star: hub -> s1..s3; sinks split the hub's rank
    edges = spark.createDataFrame(
        [("hub", "s1"), ("hub", "s2"), ("hub", "s3")], ["src", "dst"]
    )
    r = {x["node"]: x["rank"] for x in pagerank(edges, iterations=10).collect()}
    assert r["s1"] == r["s2"] == r["s3"]
    assert r["s1"] == pytest.approx(0.15 + 0.85 * (0.15 / 3), abs=1e-9)


def test_ivf_topk_contains_self(spark):
    import pyspark.sql.functions as F

    from rippledb_engine.operators.similarity import ivf_topk
    from rippledb_engine.tables import load

    e = load(spark, "/root/testdata/sf0.001", "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    got = [(r["vec_id"], r["cos_sim"]) for r in ivf_topk(e, qv, k=5, n_clusters=4).collect()]
    # the query vector's own cluster is always probed → self is rank 1
    assert got[0][0] == 0 and got[0][1] == 1.0


def test_connected_components_two_islands(spark):
    from rippledb_engine.operators.graph import connected_components

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], ["src", "dst"]
    )
    comp = {r["node"]: r["comp"] for r in connected_components(edges, iterations=4).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["x"] == comp["y"] == "x"


def test_bfs_reachability_distances(spark):
    from rippledb_engine.operators.graph import bfs_reachability

    # diamond + unreachable island; shortest path wins (s->d is 2 via
    # either arm, not 3), cycle back-edge does not inflate distances
    edges = spark.createDataFrame(
        [("s", "a"), ("s", "b"), ("a", "d"), ("b", "d"), ("d", "s"),
         ("b", "c"), ("c", "d"), ("x", "y")],
        ["src", "dst"],
    )
    got = {r["node"]: r["dist"] for r in bfs_reachability(edges, ["s"], iterations=8).collect()}
    assert got == {"s": 0, "a": 1, "b": 1, "c": 2, "d": 2}


def test_bfs_multi_source(spark):
    from rippledb_engine.operators.graph import bfs_reachability

    edges = spark.createDataFrame([("a", "b"), ("b", "c"), ("z", "c")], ["src", "dst"])
    got = {r["node"]: r["dist"] for r in bfs_reachability(edges, ["a", "z"], iterations=4).collect()}
    assert got == {"a": 0, "z": 0, "b": 1, "c": 1}  # c: min(2 via a, 1 via z)


def test_iterative_ops_reliable_checkpoint_mode(spark, tmp_path):
    """checkpoint_dir switches localCheckpoint → reliable checkpoint();
    results must be identical in both modes and checkpoint files written."""
    import os

    from rippledb_engine.operators.graph import (
        bfs_reachability,
        connected_components,
        pagerank,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("x", "y")], ["src", "dst"]
    )
    ckpt = str(tmp_path / "ckpt")

    pr_local = sorted((r["node"], round(r["rank"], 9)) for r in pagerank(edges, iterations=5).collect())
    pr_rel = sorted(
        (r["node"], round(r["rank"], 9))
        for r in pagerank(edges, iterations=5, checkpoint_dir=ckpt).collect()
    )
    assert pr_local == pr_rel

    cc_local = sorted(map(tuple, connected_components(edges, iterations=4).collect()))
    cc_rel = sorted(
        map(tuple, connected_components(edges, iterations=4, checkpoint_dir=ckpt).collect())
    )
    assert cc_local == cc_rel

    bfs_local = sorted(map(tuple, bfs_reachability(edges, ["a"], iterations=4).collect()))
    bfs_rel = sorted(
        map(tuple, bfs_reachability(edges, ["a"], iterations=4, checkpoint_dir=ckpt).collect())
    )
    assert bfs_local == bfs_rel

    assert os.listdir(ckpt)  # reliable checkpoints actually hit the directory


def test_connected_components_converges_past_small_iteration_default(spark):
    """Long path (diameter 20) + random extra graphs: iterations=None must
    reach the exact fixpoint a union-find computes, where a small fixed
    bound would silently return partial labels (ADVICE r3)."""
    import random

    from rippledb_engine.operators.graph import connected_components

    rng = random.Random(7)
    path = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(20)]
    extra = [
        (f"m{rng.randrange(12):02d}", f"m{rng.randrange(12):02d}") for _ in range(15)
    ]
    edges = path + extra

    # ground truth: union-find
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min label per component
    truth = {}
    for n in parent:
        root = find(n)
        truth.setdefault(root, []).append(n)
    want = {n: min(members) for root, members in truth.items() for n in members}

    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["comp"] for r in connected_components(df).collect()}
    assert got == want

    # an under-provisioned bound really is partial on the path graph —
    # the convergence default is what protects users from this
    partial = {
        r["node"]: r["comp"]
        for r in connected_components(df, iterations=2).collect()
    }
    assert partial != want


def test_triangle_count_k4_plus_pendant(spark):
    from rippledb_engine.operators.graph import triangle_count

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
         ("c", "d"), ("d", "e"), ("b", "a")],  # dup direction + pendant
        ["src", "dst"],
    )
    row = triangle_count(edges).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (5, 7, 4)


def test_triangle_count_triangle_free(spark):
    from rippledb_engine.operators.graph import triangle_count

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], ["src", "dst"]
    )
    assert triangle_count(edges).collect()[0]["n_triangles"] == 0


def test_cooccurrence_edges_projection_and_cap(spark):
    from rippledb_engine.operators.graph import cooccurrence_edges

    df = spark.createDataFrame(
        [("g1", "x"), ("g1", "y"), ("g1", "z"), ("g2", "x"), ("g2", "y"),
         ("g1", "x")],  # dup membership is idempotent
        ["g", "i"],
    )
    full = sorted(map(tuple, cooccurrence_edges(df, "g", "i").collect()))
    assert full == [("x", "y"), ("x", "z"), ("y", "z")]
    capped = sorted(map(tuple, cooccurrence_edges(df, "g", "i", max_group_size=2).collect()))
    assert capped == [("x", "y")]  # g1 (3 items) dropped by the guard


def test_shortest_paths_weighted(spark):
    """Bellman-Ford relaxation: cheaper multi-hop beats expensive direct
    edge; multi-source takes the nearest origin; fixpoint is exact."""
    from rippledb_engine.operators.graph import shortest_paths

    edges = spark.createDataFrame(
        [
            ("a", "b", 1.0),
            ("b", "c", 1.0),
            ("a", "c", 5.0),  # beaten by a→b→c = 2
            ("c", "d", 1.0),
            ("b", "d", 10.0),  # beaten by a→b→c→d = 3
            ("d", "e", 1.0),
            ("x", "y", 2.0),
        ],
        ["src", "dst", "w"],
    )
    got = {r["node"]: r["dist"] for r in shortest_paths(edges, ["a"]).collect()}
    assert got == {"a": 0.0, "b": 1.0, "c": 2.0, "d": 3.0, "e": 4.0}
    multi = {r["node"]: r["dist"] for r in shortest_paths(edges, ["a", "x"]).collect()}
    assert multi["x"] == 0.0 and multi["y"] == 2.0
    assert {k: v for k, v in multi.items() if k not in ("x", "y")} == got


def test_shortest_paths_cycle_terminates(spark):
    from rippledb_engine.operators.graph import shortest_paths

    edges = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0)], ["src", "dst", "w"]
    )
    got = {r["node"]: r["dist"] for r in shortest_paths(edges, ["a"]).collect()}
    assert got == {"a": 0.0, "b": 1.0, "c": 2.0}  # cycle does not relax a below 0


def test_k_core_peels_to_exact_core(spark):
    from rippledb_engine.operators.graph import k_core

    # triangle with a 2-node tail: 2-core = triangle, 3-core = empty
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")],
        ["src", "dst"],
    )
    assert sorted(r["node"] for r in k_core(edges, 2).collect()) == ["a", "b", "c"]
    assert sorted(r["node"] for r in k_core(edges, 1).collect()) == list("abcde")
    assert k_core(edges, 3).count() == 0


def test_k_core_deep_peeling_chain(spark):
    """A long path peels one layer per round from both ends — exercises
    multi-round convergence and the round-budget guard."""
    import pytest as _pytest

    from rippledb_spark.errors import QueryError
    from rippledb_engine.operators.graph import k_core

    chain = [(f"n{i}", f"n{i+1}") for i in range(12)]
    edges = spark.createDataFrame(chain, ["src", "dst"])
    assert k_core(edges, 2).count() == 0  # a path has no 2-core
    with _pytest.raises(QueryError, match="fixpoint"):
        k_core(edges, 2, max_rounds=2)


def test_label_propagation_separates_cliques(spark):
    """Two 4-cliques with one bridge: majority vote keeps each clique on
    its own min label; the bridge endpoints stay with their majority."""
    from rippledb_engine.operators.graph import label_propagation

    def clique(prefix):
        nodes = [f"{prefix}{i}" for i in range(4)]
        return [(a, b) for i, a in enumerate(nodes) for b in nodes[i + 1:]]

    edges = spark.createDataFrame(
        clique("a") + clique("b") + [("a0", "b0")], ["src", "dst"]
    )
    out = {r["node"]: r["label"] for r in label_propagation(edges, rounds=4).collect()}
    assert {out[f"a{i}"] for i in range(4)} == {"a0"}
    assert {out[f"b{i}"] for i in range(4)} == {"b0"}


def test_label_propagation_deterministic(spark):
    from rippledb_engine.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 7 + 3) % 20}") for i in range(20)], ["src", "dst"]
    ).filter("src <> dst")
    a = sorted(map(tuple, label_propagation(edges, rounds=3).collect()))
    b = sorted(map(tuple, label_propagation(edges, rounds=3).collect()))
    assert a == b


def test_personalized_pagerank_localizes_to_seed(spark):
    from rippledb_engine.operators.graph import personalized_pagerank

    edges = spark.createDataFrame(
        [("s", "a"), ("a", "b"), ("b", "s"), ("x", "y")], ["src", "dst"]
    )
    out = {r["node"]: r["rank"] for r in
           personalized_pagerank(edges, ["s"], iterations=8).collect()}
    # the disconnected component gets NO mass
    assert "x" not in out and "y" not in out
    assert set(out) == {"s", "a", "b"}
    assert all(v > 0 for v in out.values())
    # multi-seed: both components now ranked
    out2 = {r["node"] for r in
            personalized_pagerank(edges, ["s", "x"], iterations=8).collect()}
    assert out2 == {"s", "a", "b", "x", "y"}


def test_shortest_paths_refuses_partial_result(spark):
    from rippledb_spark.errors import QueryError
    from rippledb_engine.operators.graph import shortest_paths

    edges = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 1.0), ("c", "d", 1.0), ("d", "e", 1.0)],
        ["src", "dst", "w"],
    )
    with pytest.raises(QueryError, match="fixpoint"):
        shortest_paths(edges, ["a"], max_iterations=2)
    # enough rounds: converges and is complete
    got = {
        r["node"]: r["dist"]
        for r in shortest_paths(edges, ["a"], max_iterations=6).collect()
    }
    assert got["e"] == 4.0


def test_shortest_paths_budget_equal_to_hop_depth(spark):
    """The frontier only provably empties one round AFTER the last
    improvement — a budget equal to the exact hop depth must still
    succeed via the post-budget relaxation check (r6 ADVICE)."""
    from rippledb_engine.operators.graph import shortest_paths

    edges = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 1.0), ("c", "d", 1.0), ("d", "e", 1.0)],
        ["src", "dst", "w"],
    )
    got = {
        r["node"]: r["dist"]
        for r in shortest_paths(edges, ["a"], max_iterations=4).collect()
    }
    assert got == {"a": 0.0, "b": 1.0, "c": 2.0, "d": 3.0, "e": 4.0}


def test_strongly_connected_components(spark):
    from rippledb_engine.operators.graph import strongly_connected_components

    edges = [
        ("a", "b"), ("b", "c"), ("c", "a"),  # 3-cycle
        ("d", "e"), ("e", "d"),              # 2-cycle
        ("f", "a"),                          # feeds the cycle, no return
        ("g", "d"),                          # same
        ("c", "d"),                          # bridge BETWEEN cycles (one way)
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["scc"] for r in
           strongly_connected_components(df).collect()}
    assert got == {
        "a": "a", "b": "a", "c": "a",   # cycle 1 labels by its min node
        "d": "d", "e": "d",             # cycle 2 stays separate (one-way bridge)
        "f": "f", "g": "g",             # acyclic feeders are singletons
    }


def test_scc_handles_self_loops_and_isolated_edges(spark):
    from rippledb_engine.operators.graph import strongly_connected_components

    edges = [("x", "x"), ("x", "y")]  # self-loop dropped; y is a sink
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["scc"] for r in
           strongly_connected_components(df).collect()}
    assert got == {"x": "x", "y": "y"}


def test_dag_longest_path_layers_and_cycle_refusal(spark):
    import pytest

    from rippledb_engine.operators.graph import dag_longest_path_layers

    # diamond + tail: converging paths take the LONGEST, not the first
    edges = [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e"),
             ("f", "c")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["layer"] for r in dag_longest_path_layers(df).collect()}
    assert got == {"a": 0, "f": 0, "b": 1, "c": 1, "d": 2, "e": 3}
    # a cycle must raise, never return a partial layering
    cyc = spark.createDataFrame(
        [("x", "y"), ("y", "z"), ("z", "x")], "src string, dst string"
    )
    with pytest.raises(ValueError, match="cycle"):
        dag_longest_path_layers(cyc, max_iterations=8)


def test_scc_closure_form_raises_on_nonconvergence(spark):
    """r8 ADVICE fix: hitting max_iterations with a live frontier must
    raise, never return components from a partial closure."""
    from rippledb_engine.operators.graph import strongly_connected_components

    # a 6-chain into a 2-cycle needs >2 closure rounds
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f"),
             ("f", "g"), ("g", "f")]
    df = spark.createDataFrame(edges, "src string, dst string")
    with pytest.raises(ValueError, match="did not converge"):
        strongly_connected_components(df, max_iterations=2)
    # and with enough rounds the same graph resolves fine
    got = {r["node"]: r["scc"] for r in
           strongly_connected_components(df, max_iterations=8).collect()}
    assert got["f"] == "f" and got["g"] == "f"


def test_scc_forward_backward_agrees_with_closure_form(spark):
    """r9 (verdict ask #4): the FW-BW coloring variant must produce the
    IDENTICAL deterministic min-node labeling as the closure form."""
    from rippledb_engine.operators.graph import (
        scc_forward_backward,
        strongly_connected_components,
    )

    fixtures = [
        # the closure test's graph: two cycles, one-way bridge, feeders
        [("a", "b"), ("b", "c"), ("c", "a"), ("d", "e"), ("e", "d"),
         ("f", "a"), ("g", "d"), ("c", "d")],
        # self-loop + sink
        [("x", "x"), ("x", "y")],
        # two SCCs sharing no nodes + a pure DAG tail (trim path)
        [("p", "q"), ("q", "p"), ("r", "s"), ("s", "t"), ("t", "r"),
         ("q", "r"), ("t", "u"), ("u", "v")],
    ]
    for edges in fixtures:
        df = spark.createDataFrame(edges, "src string, dst string")
        want = {(r["node"], r["scc"])
                for r in strongly_connected_components(df).collect()}
        got = {(r["node"], r["scc"])
               for r in scc_forward_backward(df).collect()}
        assert got == want, (edges, got, want)


def test_scc_forward_backward_giant_cycle_single_round(spark):
    """A single giant SCC resolves in ONE FW-BW round (F = B = the whole
    color) — the case whose closure would be quadratic."""
    from rippledb_engine.operators.graph import scc_forward_backward

    n = 12
    edges = [(f"n{i:02d}", f"n{(i + 1) % n:02d}") for i in range(n)]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["scc"] for r in
           scc_forward_backward(df, max_rounds=1).collect()}
    assert got == {f"n{i:02d}": "n00" for i in range(n)}


def test_scc_forward_backward_raises_on_bounds(spark):
    from rippledb_engine.operators.graph import scc_forward_backward

    n = 12
    edges = [(f"n{i:02d}", f"n{(i + 1) % n:02d}") for i in range(n)]
    df = spark.createDataFrame(edges, "src string, dst string")
    with pytest.raises(ValueError, match="BFS did not converge"):
        scc_forward_backward(df, max_bfs_iterations=3)


def test_scc_driver_path_matches_distributed(spark):
    """r16: the bounded-graph driver fast path must return the exact
    labels (and the exact non-convergence error) of the distributed
    closure form — compared here on a mixed graph (two cycles, a
    bridge, a tail) by forcing the distributed path via
    driver_max_edges=0."""
    import pytest

    from rippledb_engine.operators.graph import strongly_connected_components

    edges = [
        ("b", "a"), ("a", "b"),            # 2-cycle
        ("c", "d"), ("d", "e"), ("e", "c"),  # 3-cycle
        ("b", "c"),                          # bridge (one-way)
        ("e", "f"), ("f", "g"),              # tail
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    fast = {
        (r["node"], r["scc"])
        for r in strongly_connected_components(df).collect()
    }
    dist = {
        (r["node"], r["scc"])
        for r in strongly_connected_components(
            df, driver_max_edges=0
        ).collect()
    }
    assert fast == dist and len(fast) == 7
    # round-budget semantics identical: 1 round cannot close the 3-cycle
    with pytest.raises(ValueError, match="did not converge"):
        strongly_connected_components(df, max_iterations=1)
