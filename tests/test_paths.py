"""Property paths (plans.paths): parser, evaluator, closure fixpoint,
Sparql integration. Expected answers come from a naive in-Python path
evaluator over the same fixture, so the Spark plans are checked against an
independent implementation (the test_bgp_properties model)."""

from __future__ import annotations

import itertools

import pytest

from rippledb_spark import Sparql, TripleStore
from rippledb_spark.errors import QueryError
from rippledb_spark.plans import paths as P
from rippledb_spark.plans.paths import parse_path, path_pairs

# Cyclic 'next' chain (b→c→d→b) so closures must terminate by fixpoint,
# not by luck; 'alt' and 'child' give alternation/sequence material.
EDGES = [
    ("a", "next", "b"),
    ("b", "next", "c"),
    ("c", "next", "d"),
    ("d", "next", "b"),
    ("a", "alt", "x"),
    ("r", "child", "c1"),
    ("r", "child", "c2"),
    ("c1", "child", "g1"),
    ("x", "label", "lit-x"),
]


@pytest.fixture(scope="module")
def store(spark):
    return TripleStore.from_rows(spark, EDGES)


# -- naive reference evaluator ---------------------------------------------


def naive(expr, edges=EDGES):
    """Set-of-pairs semantics for closure/maybe; bag collapsed to set for
    comparison simplicity where tests need bags they count rows directly."""
    if isinstance(expr, str):
        expr = parse_path(expr)
    nodes = {s for s, _, o in edges} | {o for _, _, o in edges}
    if isinstance(expr, P.Pred):
        return {(s, o) for s, p, o in edges if p == expr.name}
    if isinstance(expr, P.Inv):
        return {(o, s) for s, o in naive(expr.inner, edges)}
    if isinstance(expr, P.Alt):
        out = set()
        for arm in expr.arms:
            out |= naive(arm, edges)
        return out
    if isinstance(expr, P.Seq):
        acc = naive(expr.steps[0], edges)
        for step in expr.steps[1:]:
            nxt = naive(step, edges)
            acc = {(s, d2) for s, d in acc for d1, d2 in nxt if d == d1}
        return acc
    if isinstance(expr, P.Plus):
        base = naive(expr.inner, edges)
        acc = set(base)
        while True:
            grown = {(s, d2) for s, d in acc for d1, d2 in base if d == d1}
            if grown <= acc:
                return acc
            acc |= grown
    if isinstance(expr, P.Star):
        return naive(P.Plus(expr.inner), edges) | {(n, n) for n in nodes}
    if isinstance(expr, P.Maybe):
        return naive(expr.inner, edges) | {(n, n) for n in nodes}
    if isinstance(expr, P.Zero):
        return {(n, n) for n in nodes}
    if isinstance(expr, P.Neg):
        out = set()
        if expr.forward:
            out |= {(s, o) for s, p, o in edges if p not in expr.forward}
        if expr.inverse:
            out |= {(o, s) for s, p, o in edges if p not in expr.inverse}
        return out
    raise AssertionError(expr)


def spark_pairs(store, expr, **kw):
    return {(r["src"], r["dst"]) for r in path_pairs(store.df, expr, **kw).collect()}


# -- parser -----------------------------------------------------------------


def test_parse_precedence_alt_over_seq():
    ast = parse_path("a/b|c")
    assert isinstance(ast, P.Alt)
    assert ast.arms[0] == P.Seq((P.Pred("a"), P.Pred("b")))
    assert ast.arms[1] == P.Pred("c")


def test_parse_inverse_binds_modified_step():
    # SPARQL: '^' applies to the whole PathElt incl. its modifier.
    assert parse_path("^a+") == P.Inv(P.Plus(P.Pred("a")))


def test_parse_parens_and_nested_modifiers():
    assert parse_path("(a|b)+") == P.Plus(P.Alt((P.Pred("a"), P.Pred("b"))))
    assert parse_path("a+?") == P.Maybe(P.Plus(P.Pred("a")))


def test_parse_negated_property_sets():
    assert parse_path("!a") == P.Neg(("a",), ())
    assert parse_path("!(a|^b|c)") == P.Neg(("a", "c"), ("b",))
    assert parse_path("!(^a)") == P.Neg((), ("a",))
    # '!' produces a primary: modifiers and sequence steps compose around it.
    assert parse_path("!(a|b)+") == P.Plus(P.Neg(("a", "b"), ()))
    assert parse_path("x/!y") == P.Seq((P.Pred("x"), P.Neg(("y",), ())))


@pytest.mark.parametrize(
    "bad", ["", "a/", "|a", "(a", "a)", "+", "a//b", "!", "!(a", "!()", "!(a|)"]
)
def test_parse_rejects_malformed(bad):
    with pytest.raises(QueryError):
        parse_path(bad)


# -- evaluator vs naive -----------------------------------------------------


@pytest.mark.parametrize(
    "expr",
    [
        "next",
        "^next",
        "next/next",
        "next|alt",
        "next+",
        "next*",
        "alt?",
        "(next|child)+",
        "^child/child",  # siblings incl. self
        "child/child",
        "alt/label",
        "!next",
        "!(next|alt|label)",
        "!(^next)",
        "!(label|^child)",
        "alt/!child",
    ],
)
def test_path_pairs_match_naive(store, expr):
    assert spark_pairs(store, expr) == naive(expr)


def test_closure_terminates_on_cycle_exact(store):
    # b,c,d form a 3-cycle: closure from the cycle is the full 3×3 grid.
    got = spark_pairs(store, "next+")
    cyc = {"b", "c", "d"}
    assert {(s, d) for s, d in got if s in cyc} == {(s, d) for s in cyc for d in cyc}


def test_seq_bag_semantics_preserved(store):
    # child/^child from r: r has 2 children each pointing back to r → 2 rows
    # for (r, r) plus (c1,c1),(c1,c2),(c2,c1),(c2,c2) pairs via r? No —
    # ^child maps child→parent: (c1→r),(c2→r),(g1→c1). child/^child =
    # {(r,r)×2 via c1,c2; (c1,c1) via g1}. Bag keeps the ×2.
    rows = path_pairs(store.df, "child/^child").collect()
    assert sorted((r["src"], r["dst"]) for r in rows) == [
        ("c1", "c1"),
        ("r", "r"),
        ("r", "r"),
    ]


def test_seeded_closure_restricts_sources(store):
    seeds = store.spark.createDataFrame([("a",)], ["node"])
    got = spark_pairs(store, "next+", srcs=seeds)
    assert got == {(s, d) for s, d in naive("next+") if s == "a"}
    assert got == {("a", "b"), ("a", "c"), ("a", "d")}


def test_seeded_star_zero_length_restricted(store):
    seeds = store.spark.createDataFrame([("a",)], ["node"])
    got = spark_pairs(store, "next*", srcs=seeds)
    assert got == {("a", "a"), ("a", "b"), ("a", "c"), ("a", "d")}


def test_closure_seeded_inside_sequence(store):
    # alt/next* : only x is reachable through alt; x has no next edges →
    # zero-length only.
    assert spark_pairs(store, "alt/next*") == {("a", "x")}
    assert spark_pairs(store, "alt/next+") == set()


def test_max_iterations_caps_expansion(store):
    got = spark_pairs(store, "next+", max_iterations=1)
    # one round: base pairs only (frontier join produced 2-hops but the
    # cap stops before they merge) — at minimum the base must be present.
    assert naive("next") <= got < naive("next+")


# -- Sparql integration -----------------------------------------------------


def test_select_join_path_with_bgp(store):
    q = (
        Sparql()
        .select(["$p", "$end"])
        .filter([["$p", "alt", "$ax"]])
        .path("$p", "next+", "$end")
    )
    rows = {(r["p"], r["end"]) for r in store.select_join(q).collect()}
    assert rows == {("a", "b"), ("a", "c"), ("a", "d")}


def test_select_join_path_only_bound_subject(store):
    q = Sparql().select(["$end"]).path("a", "next+", "$end")
    rows = {r["end"] for r in store.select_join(q).collect()}
    assert rows == {"b", "c", "d"}


def test_select_join_path_bound_object(store):
    q = Sparql().select(["$s"]).path("$s", "next+", "d")
    rows = {r["s"] for r in store.select_join(q).collect()}
    assert rows == {"a", "b", "c", "d"}


def test_select_join_path_bound_ends_named_only(spark):
    """Bound path ends follow pattern_filter's named-only rule: a literal
    whose string equals the bound value must NOT match (the plain-pattern
    convention, graph.rs:1031-1033, extended to paths)."""
    st = TripleStore.from_rows(
        spark,
        [
            ("a", "next", "b"),
            # literal object with the same string as a would-be target
            ("b", "named", "label", "term", "literal", None, None),
            # and a named twin elsewhere so 'term' IS a named node too
            ("term", "next", "z"),
        ],
    )
    # bound object 'zz' absent entirely → no rows
    q0 = Sparql().select(["$s"]).path("$s", "label", "zz")
    assert st.select_join(q0).count() == 0
    # plain pattern with the literal value: named-only rule → no rows
    qp = Sparql().select(["$s"]).filter([["$s", "label2", "no-such"]])
    assert st.select_join(qp).count() == 0

    st2 = TripleStore.from_rows(
        spark,
        [
            ("a", "next", "b"),
            ("b", "named", "label", "only-literal", "literal", None, None),
        ],
    )
    # 'only-literal' never occurs as a named node → bound path object must
    # not match it even though a pair (b, only-literal) exists by value
    q1 = Sparql().select(["$s"]).path("$s", "label", "only-literal")
    assert st2.select_join(q1).count() == 0
    # same for a bound SUBJECT that only exists as a literal
    q2 = Sparql().select(["$o"]).path("only-literal", "^label", "$o")
    assert st2.select_join(q2).count() == 0


def test_select_join_path_same_var_both_ends(store):
    # $x next+ $x → nodes on a cycle.
    q = Sparql().select(["$x"]).path("$x", "next+", "$x")
    rows = {r["x"] for r in store.select_join(q).collect()}
    assert rows == {"b", "c", "d"}


def test_select_join_path_gate_both_bound(store):
    q = Sparql().select(["$p"]).filter([["$p", "alt", "$x"]]).path("a", "next+", "d")
    assert [r["p"] for r in store.select_join(q).collect()] == ["a"]
    q2 = Sparql().select(["$p"]).filter([["$p", "alt", "$x"]]).path("a", "next+", "zz")
    assert store.select_join(q2).count() == 0


def test_get_raises_on_paths(store):
    q = Sparql().select(["$end"]).path("a", "next+", "$end")
    with pytest.raises(QueryError):
        store.get(q)


# -- CONSTRUCT --------------------------------------------------------------


def test_construct_builds_new_graph(store):
    q = Sparql().filter([["$a", "next", "$b"]])
    derived = store.construct(q, [["$b", "prev", "$a"]])
    rows = {(r["s"], r["p"], r["o_value"]) for r in derived.df.collect()}
    assert rows == {
        ("b", "prev", "a"),
        ("c", "prev", "b"),
        ("d", "prev", "c"),
        ("b", "prev", "d"),
    }
    # result is a queryable TripleStore with named-node lift
    assert derived.df.filter("s_kind <> 'named' OR o_kind <> 'named'").count() == 0
    assert derived.pattern("b", "prev", None).count() == 2


def test_construct_set_semantics_and_multi_template(store):
    # r has two children → two solutions, but the constant triple
    # (r, type, parent) must appear once (graph set semantics).
    q = Sparql().filter([["r", "child", "$c"]])
    derived = store.construct(q, [["r", "type", "parent"], ["$c", "childOf", "r"]])
    rows = sorted((r["s"], r["p"], r["o_value"]) for r in derived.df.collect())
    assert rows == [
        ("c1", "childOf", "r"),
        ("c2", "childOf", "r"),
        ("r", "type", "parent"),
    ]


def test_construct_skips_unbound_optional_bindings(store):
    # OPTIONAL leaves $g NULL for c2 (no grandchild) → its template
    # triple is skipped, not emitted with a NULL term.
    q = (
        Sparql()
        .filter([["r", "child", "$c"]])
        .optional([["$c", "child", "$g"]])
    )
    derived = store.construct(q, [["$c", "hasGrandchild", "$g"]])
    rows = {(r["s"], r["p"], r["o_value"]) for r in derived.df.collect()}
    assert rows == {("c1", "hasGrandchild", "g1")}


def test_construct_does_not_mutate_query(store):
    q = Sparql().select(["$a"]).filter([["$a", "next", "$b"]])
    store.construct(q, [["$b", "prev", "$a"]])
    assert q.var_names() == ["a"]


# -- DESCRIBE ---------------------------------------------------------------


def test_describe_subject_and_object_sides(store):
    rows = {(r["s"], r["p"], r["o_value"]) for r in store.describe("b").collect()}
    assert rows == {
        ("a", "next", "b"),
        ("b", "next", "c"),
        ("d", "next", "b"),
    }


def test_describe_excludes_literal_object_matches(spark):
    st = TripleStore.from_rows(
        spark,
        [
            ("n1", "named", "label", "b", "literal", None, None),
            ("b", "p", "c"),
        ],
    )
    rows = {(r["s"], r["p"]) for r in st.describe("b").collect()}
    # the literal "b" is not the node b (named-only bound matching)
    assert rows == {("b", "p")}


# -- randomized cross-check vs the naive evaluator --------------------------


def _random_graph(seed, n_nodes=8, n_edges=18):
    import random

    rng = random.Random(seed)
    preds = ["p", "q"]
    return sorted(
        {
            (f"v{rng.randrange(n_nodes)}", rng.choice(preds), f"v{rng.randrange(n_nodes)}")
            for _ in range(n_edges)
        }
    )


@pytest.mark.parametrize("seed", [7, 23, 99])
@pytest.mark.parametrize("expr", ["p+", "(p|q)+", "p/q*", "^p+/q"])
def test_random_graphs_match_naive(spark, seed, expr):
    edges = _random_graph(seed)
    st = TripleStore.from_rows(spark, edges)
    got = {(r["src"], r["dst"]) for r in path_pairs(st.df, expr).collect()}
    want = naive(expr, edges)
    if any(m in expr for m in "+*?"):
        # closure semantics are set-valued; plain seq/alt keep bags —
        # compare as sets either way (naive is set-based)
        got = set(got)
    assert got == want, f"seed={seed} expr={expr}"


# -- MINUS ------------------------------------------------------------------


def test_minus_removes_matching_solutions(store):
    # all next-edges minus those whose source also has an alt edge (only a)
    q = (
        Sparql()
        .select(["$s", "$o"])
        .filter([["$s", "next", "$o"]])
        .minus([["$s", "alt", "$x"]])
    )
    rows = {(r["s"], r["o"]) for r in store.select_join(q).collect()}
    assert rows == {("b", "c"), ("c", "d"), ("d", "b")}


def test_minus_disjoint_group_removes_nothing(store):
    # MINUS group sharing no variable with the solution → no-op (spec §8.3)
    q = (
        Sparql()
        .select(["$s", "$o"])
        .filter([["$s", "next", "$o"]])
        .minus([["$z", "child", "$w"]])
    )
    assert store.select_join(q).count() == 4


def test_minus_after_optional_sees_extended_vars(store):
    # OPTIONAL binds $g; MINUS on $g then removes the extended rows only.
    q = (
        Sparql()
        .select(["$c", "$g"])
        .filter([["r", "child", "$c"]])
        .optional([["$c", "child", "$g"]])
        .minus([["$g", "child", "$z"]])
    )
    rows = {(r["c"], r["g"]) for r in store.select_join(q).collect()}
    # c1's grandchild g1 has no children → kept; c2 row has NULL g → kept
    # (NULL joins nothing in the anti probe)
    assert rows == {("c1", "g1"), ("c2", None)}


def test_get_raises_on_minus(store):
    q = Sparql().select(["$s"]).filter([["$s", "next", "$o"]]).minus(
        [["$s", "alt", "$x"]]
    )
    with pytest.raises(QueryError):
        store.get(q)


# -- VALUES -----------------------------------------------------------------


def test_values_filters_solutions(store):
    q = (
        Sparql()
        .select(["$s", "$o"])
        .filter([["$s", "next", "$o"]])
        .values(["$s"], [("a",), ("c",)])
    )
    rows = {(r["s"], r["o"]) for r in store.select_join(q).collect()}
    assert rows == {("a", "b"), ("c", "d")}


def test_values_multi_column_and_duplicates(store):
    # duplicate VALUES row multiplies the matching solution (bag join)
    q = (
        Sparql()
        .select(["$s", "$o"])
        .filter([["$s", "next", "$o"]])
        .values(["$s", "$o"], [("a", "b"), ("a", "b"), ("b", "c")])
    )
    rows = sorted((r["s"], r["o"]) for r in store.select_join(q).collect())
    assert rows == [("a", "b"), ("a", "b"), ("b", "c")]


def test_values_undef_matches_anything(store):
    q = (
        Sparql()
        .select(["$s", "$o"])
        .filter([["$s", "next", "$o"]])
        .values(["$s", "$o"], [("a", None), (None, "d")])
    )
    rows = sorted((r["s"], r["o"]) for r in store.select_join(q).collect())
    assert rows == [("a", "b"), ("c", "d")]


def test_values_extends_with_new_variable(store):
    # $label is bound only by VALUES — solutions extend with it
    q = (
        Sparql()
        .select(["$s", "$o", "$label"])
        .filter([["$s", "next", "$o"]])
        .values(["$s", "$label"], [("a", "start"), ("d", "loop")])
    )
    rows = {(r["s"], r["o"], r["label"]) for r in store.select_join(q).collect()}
    assert rows == {("a", "b", "start"), ("d", "b", "loop")}


def test_get_raises_on_values(store):
    q = Sparql().select(["$s"]).filter([["$s", "next", "$o"]]).values(
        ["$s"], [("a",)]
    )
    with pytest.raises(QueryError):
        store.get(q)


# -- real-corpus integration (reference models/) ----------------------------


def test_paths_on_reference_corpus(spark):
    """Property paths over the reference's own published test corpus
    (models/www-2011-complete.rdf — the file its benchmarks load,
    benches/graph_bench.rs:6-15): the swc:isSuperEventOf hierarchy's
    transitive closure matches a driver-side python closure of the same
    edges, and an inverse path round-trips."""
    st = TripleStore.from_rdf(spark, "/root/reference/models/www-2011-complete.rdf")
    SUPER = "<http://data.semanticweb.org/ns/swc/ontology#isSuperEventOf>"

    base = {
        (r["src"], r["dst"]) for r in path_pairs(st.df, SUPER).collect()
    }
    assert len(base) > 100  # the hierarchy is real

    # python closure of the collected base = the spec answer
    want = set(base)
    while True:
        grown = {(s, d2) for s, d in want for d1, d2 in base if d == d1}
        if grown <= want:
            break
        want |= grown
    got = {(r["src"], r["dst"]) for r in path_pairs(st.df, f"{SUPER}+").collect()}
    assert got == want

    # inverse: ^p swaps every pair
    inv = {(r["src"], r["dst"]) for r in path_pairs(st.df, f"^{SUPER}").collect()}
    assert inv == {(d, s) for s, d in base}

    # sequence + inverse on real FOAF data: doc —maker→ person —^maker→ doc
    # (documents sharing an author, incl. self-pairs), checked against the
    # python join of the collected maker edges
    MAKER = "<http://xmlns.com/foaf/0.1/maker>"
    mk = [(r["src"], r["dst"]) for r in path_pairs(st.df, MAKER).collect()]
    coauth = {(r["src"], r["dst"])
              for r in path_pairs(st.df, f"{MAKER}/^{MAKER}").distinct().collect()}
    want_co = {(d1, d2) for d1, a1 in mk for d2, a2 in mk if a1 == a2}
    assert coauth == want_co and len(coauth) > 0


# -- reverse_path / bound-object seeding ------------------------------------


@pytest.mark.parametrize(
    "expr",
    ["next", "^next", "next/next", "next|alt", "next+", "next*", "alt?",
     "(next|child)+", "child/child", "alt/label", "!next", "!(label|^child)"],
)
def test_reverse_path_swaps_pairs(store, expr):
    fwd = naive(expr)
    rev = {(y, x) for x, y in spark_pairs(store, P.reverse_path(expr))}
    assert rev == fwd


def test_bound_object_closure_matches_postfilter(store):
    """.path with only the object bound evaluates the reversed path seeded
    at the object — results must equal the naive forward-and-filter."""
    from rippledb_spark.plans.sparql import Sparql

    for expr, obj in [("next+", "d"), ("child/child", "g1"), ("(next|alt)+", "x")]:
        q = Sparql().select(["$s"]).path("$s", expr, obj)
        got = sorted(r["s"] for r in store.select_join(q).collect())
        want = sorted(s for s, o in naive(expr) if o == obj)
        assert got == want, (expr, obj, got, want)


def test_bound_object_star_zero_length(store):
    from rippledb_spark.plans.sparql import Sparql

    q = Sparql().select(["$s"]).path("$s", "next*", "c")
    got = sorted(r["s"] for r in store.select_join(q).collect())
    # zero-length contributes (c, c); closure contributes a, b, d (cycle)
    assert got == sorted({s for s, o in naive("next*") if o == "c"})


# -- paths inside OPTIONAL / MINUS / EXISTS groups (r5) ---------------------


def test_optional_group_with_path(store):
    df = store.spark  # keep flake quiet
    out = store.sparql(
        "SELECT ?s ?e WHERE { ?s alt ?x . OPTIONAL { ?s next+ ?e } } ORDER BY ?s ?e"
    )
    assert [tuple(r) for r in out.collect()] == [("a", "b"), ("a", "c"), ("a", "d")]
    # no path match → NULL-extended, row kept
    out2 = store.sparql(
        "SELECT ?s ?g WHERE { ?s child ?c . OPTIONAL { ?s alt+ ?g } }"
    )
    assert sorted(set(map(tuple, out2.collect()))) == [("c1", None), ("r", None)]


def test_minus_group_with_path(store):
    out = store.sparql(
        "SELECT ?n WHERE { ?n next ?m . MINUS { a next+ ?n } } ORDER BY ?n"
    )
    # b, c, d are reachable from a via next+ → removed; only a survives
    assert [r["n"] for r in out.collect()] == ["a"]


def test_exists_group_with_path(store):
    out = store.sparql(
        "SELECT ?s WHERE { ?s child ?c . FILTER NOT EXISTS { ?c child+ ?g } }"
    )
    # c1 has a grandchild (g1) via its child → r removed? no: shared var is
    # c; r's children are c1 (has child) and c2 (no child) → the c2 row
    # survives, the c1 row is removed; c1's own child g1 has no children.
    assert sorted((r["s"]) for r in out.collect()) == ["c1", "r"]
    out2 = store.sparql(
        "SELECT ?s WHERE { ?s alt ?x . FILTER EXISTS { ?s next+ ?e } }"
    )
    assert [r["s"] for r in out2.collect()] == ["a"]


# -- r6: path quantifiers p{n} / p{n,m} / p{n,} ------------------------------


def test_parse_quantifiers_desugar():
    assert parse_path("next{2}") == P.Seq((P.Pred("next"), P.Pred("next")))
    assert parse_path("next{1,1}") == P.Pred("next")
    assert parse_path("next{0,1}") == P.Maybe(P.Pred("next"))
    assert parse_path("next{0,}") == P.Star(P.Pred("next"))
    assert parse_path("next{2,}") == P.Seq(
        (P.Pred("next"), P.Pred("next"), P.Star(P.Pred("next")))
    )
    assert parse_path("next{1,3}") == P.Seq(
        (P.Pred("next"), P.Maybe(P.Pred("next")), P.Maybe(P.Pred("next")))
    )
    assert parse_path("next{,2}") == parse_path("next{0,2}")
    assert parse_path("next{0}") == P.Zero()
    # quantifier binds to the parenthesized group / stacks with modifiers
    assert parse_path("(next|alt){2}") == P.Seq(
        (P.Alt((P.Pred("next"), P.Pred("alt"))),) * 2
    )


@pytest.mark.parametrize(
    "bad", ["next{3,2}", "next{", "next{a}", "next{1,2", "next{}", "next{1,,2}"]
)
def test_parse_quantifier_rejects_malformed(bad):
    with pytest.raises(QueryError):
        parse_path(bad)


@pytest.mark.parametrize(
    "expr", ["next{2}", "next{1,2}", "next{2,}", "child{,2}", "(next|child){1,2}"]
)
def test_quantified_pairs_match_naive(store, expr):
    assert spark_pairs(store, expr) == naive(expr)


def test_quantifier_equivalences(store):
    assert spark_pairs(store, "next{1,}") == spark_pairs(store, "next+")
    assert spark_pairs(store, "next{0,}") == spark_pairs(store, "next*")
    assert spark_pairs(store, "next{0,1}") == spark_pairs(store, "next?")


def test_zero_quantifier_is_node_identity(store):
    nodes = {s for s, _, o in EDGES} | {o for _, _, o in EDGES}
    assert spark_pairs(store, "next{0}") == {(n, n) for n in nodes}


def test_quantifier_reverse_path(store):
    got = {(d, s) for s, d in spark_pairs(store, "next{1,2}")}
    from rippledb_spark.plans.paths import reverse_path

    assert spark_pairs(store, reverse_path("next{1,2}")) == got


# -- r6: path parser round-trip (render → parse → same pairs) ---------------

from hypothesis import example, given, settings
from hypothesis import strategies as hst


def _render_path(e) -> str:
    if isinstance(e, P.Pred):
        return e.name
    if isinstance(e, P.Inv):
        return f"^({_render_path(e.inner)})"
    if isinstance(e, P.Seq):
        return "/".join(f"({_render_path(s)})" for s in e.steps)
    if isinstance(e, P.Alt):
        return "|".join(f"({_render_path(a)})" for a in e.arms)
    if isinstance(e, P.Plus):
        return f"({_render_path(e.inner)})+"
    if isinstance(e, P.Star):
        return f"({_render_path(e.inner)})*"
    if isinstance(e, P.Maybe):
        return f"({_render_path(e.inner)})?"
    raise AssertionError(e)


_preds = hst.sampled_from(["next", "alt", "child", "label"])


def _paths_strategy(depth: int):
    base = _preds.map(P.Pred)
    if depth <= 0:
        return base
    sub = _paths_strategy(depth - 1)
    return hst.one_of(
        base,
        sub.map(P.Inv),
        hst.lists(sub, min_size=2, max_size=3).map(lambda l: P.Seq(tuple(l))),
        hst.lists(sub, min_size=2, max_size=3).map(lambda l: P.Alt(tuple(l))),
        sub.map(P.Plus),
        sub.map(P.Maybe),
        # quantifiers render via bounds and must desugar to the same AST
        # the direct constructor builds
        hst.tuples(sub, hst.integers(1, 3), hst.integers(0, 2)).map(
            lambda t: P._repeat(t[0], t[1], t[1] + t[2])
        ),
    )


@settings(max_examples=150, deadline=None)
@given(_paths_strategy(2))
def test_path_parser_roundtrip(expr):
    """Rendering any PathExpr and reparsing yields an AST with identical
    SEMANTICS (compared via the naive evaluator — parenthesization can
    restructure Seq/Alt nesting without changing the relation)."""
    text = _render_path(expr)
    assert naive(parse_path(text)) == naive(expr)


# -- closure-free paths plan as BGP joins (SPARQL 1.1 §18.2.2.4) ------------


def test_closure_free_path_named_only_per_edge(spark):
    """'term' is a literal object of label and a named subject elsewhere.
    The plain pattern ``$s label term`` matches nothing (named-only bound
    values); a closure-free path lowers to the same pattern, so the rule
    holds per edge and the path matches nothing either."""
    st = TripleStore.from_rows(
        spark,
        [
            ("a", "next", "b"),
            ("b", "named", "label", "term", "literal", None, None),
            ("term", "next", "z"),
        ],
    )
    qp = Sparql().select(["$s"]).filter([["$s", "label", "term"]])
    assert st.select_join(qp).count() == 0
    for s, expr, o, var in [
        ("$s", "label", "term", "$s"),
        ("term", "^label", "$o", "$o"),
        ("$s", "next/label", "term", "$s"),
        ("term", "^label/^next", "$o", "$o"),
    ]:
        q = Sparql().select([var]).path(s, expr, o)
        assert st.select_join(q).count() == 0, expr
    # the named twin still answers through its own edges
    q = Sparql().select(["$s"]).path("$s", "label/next", "z")
    assert [r["s"] for r in st.select_join(q).collect()] == ["b"]


def test_closure_free_path_plan_shape(spark, tmp_path):
    """``n0 p/q/r ?r`` plans like the explicit three-pattern BGP: no seed
    relation, no limit-gate, and the same number of joins."""
    TripleStore.from_rows(
        spark,
        [("n0", "p", "n1"), ("n1", "q", "n2"), ("n2", "r", "n3"), ("n2", "r", "n4")],
    ).df.write.parquet(str(tmp_path / "triples"))
    st = TripleStore(spark, spark.read.parquet(str(tmp_path / "triples")))

    def optimized(df) -> str:
        return df._jdf.queryExecution().optimizedPlan().toString()

    path_df = st.sparql("SELECT ?r WHERE { n0 p/q/r ?r }")
    bgp_df = st.sparql("SELECT ?r WHERE { n0 p ?x . ?x q ?y . ?y r ?r }")
    plan = optimized(path_df)
    for node in ("GlobalLimit", "LocalLimit", "LocalRelation"):
        assert node not in plan, plan
    assert plan.count("Join ") == optimized(bgp_df).count("Join ") == 2
    assert sorted(r["r"] for r in path_df.collect()) == ["n3", "n4"]

    assert st.sparql("ASK { n0 p/q n2 }").count() == 1
    assert st.sparql("ASK { n0 p/q n3 }").count() == 0
    assert st.sparql("ASK { n3 ^r/^q n1 }").count() == 1


# Random graphs for the equivalence property: named nodes n0..n3, a blank
# node b0 (subject or object), and literal objects — one of them, "n1",
# shares its string with a named node.
_NAMED_NODES = ["n0", "n1", "n2", "n3"]
_SUBJECTS = [(n, "named") for n in _NAMED_NODES] + [("b0", "blank")]
_OBJECTS = _SUBJECTS + [("n1", "literal"), ("l0", "literal")]

_edges_strategy = hst.lists(
    hst.tuples(
        hst.sampled_from(_SUBJECTS), hst.sampled_from(["p", "q"]), hst.sampled_from(_OBJECTS)
    ),
    min_size=1,
    max_size=10,
)


def _closure_free_strategy(depth: int):
    base = hst.sampled_from(["p", "q"]).map(P.Pred)
    if depth <= 0:
        return base
    sub = _closure_free_strategy(depth - 1)
    return hst.one_of(
        base,
        sub.map(P.Inv),
        hst.lists(sub, min_size=2, max_size=3).map(lambda l: P.Seq(tuple(l))),
    )


def _bgp_translation(expr, s: str, o: str, fresh) -> list[list[str]]:
    """The spec's translation written out: X ^P Y → Y P X, X P1/P2 Y →
    X P1 ?h . ?h P2 Y."""
    if isinstance(expr, P.Pred):
        return [[s, expr.name, o]]
    if isinstance(expr, P.Inv):
        return _bgp_translation(expr.inner, o, s, fresh)
    out, left = [], s
    for i, step in enumerate(expr.steps):
        right = o if i == len(expr.steps) - 1 else f"$h{next(fresh)}"
        out += _bgp_translation(step, left, right, fresh)
        left = right
    return out


def _shape_queries(shape: str, text: str, conds: list, x: str, y: str):
    """(path query, BGP-translation query, projected vars) for one shape;
    ``conds`` is the translation of ``$s PATH $o``."""

    def bgp(mapping):
        return [[mapping.get(u, u) for u in pat] for pat in conds]

    if shape == "free":
        return (Sparql().select(["$s", "$o"]).path("$s", text, "$o"),
                Sparql().select(["$s", "$o"]).filter(bgp({})), ["s", "o"])
    if shape == "bound_s":
        return (Sparql().select(["$o"]).path(x, text, "$o"),
                Sparql().select(["$o"]).filter(bgp({"$s": x})), ["o"])
    if shape == "bound_o":
        return (Sparql().select(["$s"]).path("$s", text, y),
                Sparql().select(["$s"]).filter(bgp({"$o": y})), ["s"])
    if shape == "same":
        return (Sparql().select(["$s"]).path("$s", text, "$s"),
                Sparql().select(["$s"]).filter(bgp({"$o": "$s"})), ["s"])
    if shape == "both":
        gate = [["$a", "p", "$w"]]
        return (Sparql().select(["$a", "$w"]).filter(gate).path(x, text, y),
                Sparql().select(["$a", "$w"]).filter(gate + bgp({"$s": x, "$o": y})),
                ["a", "w"])
    seed = [["$s", "p", "$w"]]
    if shape == "seeded":
        return (Sparql().select(["$s", "$o"]).filter(seed).path("$s", text, "$o"),
                Sparql().select(["$s", "$o"]).filter(seed + bgp({})), ["s", "o"])
    if shape == "optional":
        return (
            Sparql().select(["$s", "$w", "$o"]).filter(seed)
            .optional_group(Sparql().path("$s", text, "$o")),
            Sparql().select(["$s", "$w", "$o"]).filter(seed)
            .optional_group(Sparql().filter(bgp({}))),
            ["s", "w", "o"],
        )
    assert shape == "minus"
    return (
        Sparql().select(["$s", "$w"]).filter(seed).minus_group(Sparql().path("$s", text, "$o")),
        Sparql().select(["$s", "$w"]).filter(seed).minus_group(Sparql().filter(bgp({}))),
        ["s", "w"],
    )


def _naive_rows(shape: str, pairs: set, edges: list, x: str, y: str) -> set:
    seeds = {(s, o) for s, p, o in edges if p == "p"}
    if shape == "free":
        return pairs
    if shape == "bound_s":
        return {(o,) for s, o in pairs if s == x}
    if shape == "bound_o":
        return {(s,) for s, o in pairs if o == y}
    if shape == "same":
        return {(s,) for s, o in pairs if s == o}
    if shape == "both":
        return seeds if (x, y) in pairs else set()
    if shape == "seeded":
        return {(s, o) for s, _ in seeds for s2, o in pairs if s2 == s}
    if shape == "optional":
        return {
            (s, w, o)
            for s, w in seeds
            for o in ({o for s2, o in pairs if s2 == s} or {None})
        }
    return {(s, w) for s, w in seeds if not any(s2 == s for s2, _ in pairs)}


_CHAIN = [
    (("n0", "named"), "p", ("n1", "named")),
    (("n1", "named"), "q", ("n2", "named")),
    (("n2", "named"), "p", ("n1", "literal")),
    (("b0", "blank"), "p", ("n0", "named")),
]


@settings(max_examples=40, deadline=None)
@given(
    _edges_strategy,
    _closure_free_strategy(2),
    hst.sampled_from(
        ["free", "bound_s", "bound_o", "both", "same", "seeded", "optional", "minus"]
    ),
    hst.sampled_from(_NAMED_NODES + ["b0", "l0"]),
    hst.sampled_from(_NAMED_NODES + ["b0", "l0"]),
)
@example(_CHAIN, P.Inv(P.Seq((P.Pred("p"), P.Pred("q")))), "bound_o", "n0", "n0")
@example(_CHAIN, P.Seq((P.Pred("q"), P.Inv(P.Pred("q")))), "same", "n0", "n0")
@example(_CHAIN, P.Seq((P.Pred("p"), P.Pred("p"))), "bound_s", "b0", "n0")
@example(_CHAIN, P.Seq((P.Pred("q"), P.Pred("p"))), "bound_o", "n0", "n1")
@example(_CHAIN, P.Seq((P.Inv(P.Pred("p")), P.Pred("p"))), "optional", "n0", "n0")
@example(_CHAIN, P.Inv(P.Seq((P.Pred("p"), P.Pred("q")))), "both", "n2", "n0")
def test_closure_free_path_equals_bgp_translation(spark, edges, expr, shape, x, y):
    """A closure-free path through select_join returns exactly the bag its
    hand-written BGP translation returns — bound (one or both), free,
    repeated and seeded ends, and paths inside OPTIONAL and MINUS groups —
    and the set the naive evaluator gives wherever the bound ends are pure
    named nodes (never a blank or literal term with the same string)."""
    rows = [(s, sk, p, o, ok, None, None) for (s, sk), p, (o, ok) in edges]
    st = TripleStore.from_rows(spark, rows)
    text = _render_path(expr)
    conds = _bgp_translation(expr, "$s", "$o", itertools.count())
    path_q, bgp_q, cols = _shape_queries(shape, text, conds, x, y)

    def bag(q):
        return sorted(
            (tuple(r[c] for c in cols) for r in st.select_join(q).collect()),
            key=repr,
        )

    got = bag(path_q)
    assert got == bag(bgp_q), (shape, text)

    terms = [s for s, _, _ in edges] + [o for _, _, o in edges]
    impure = {v for v, kind in terms if kind != "named"}
    bound = {"bound_s": {x}, "bound_o": {y}, "both": {x, y}}.get(shape, set())
    if bound & impure:
        return
    value_edges = [(s, p, o) for (s, _), p, (o, _) in edges]
    pairs = naive(expr, value_edges)
    assert set(got) == _naive_rows(shape, pairs, value_edges, x, y), (shape, text)

