"""SPARQL text frontend (plans/text.py): parse → builder → DataFrame,
checked against the equivalent builder-constructed queries."""

from __future__ import annotations

import pytest

from rippledb_spark import Sparql, TripleStore
from rippledb_spark.errors import QueryError
from rippledb_spark.plans.text import parse_sparql

EDGES = [
    ("a", "next", "b"),
    ("b", "next", "c"),
    ("c", "next", "d"),
    ("d", "next", "b"),
    ("a", "alt", "x"),
    ("r", "child", "c1"),
    ("r", "child", "c2"),
    ("c1", "child", "g1"),
    ("a", "named", "label", "node a", "literal", None, None),
]


@pytest.fixture(scope="module")
def store(spark):
    return TripleStore.from_rows(spark, EDGES)


def rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_basic_select(store):
    df = store.sparql("SELECT ?s ?o WHERE { ?s next ?o . }")
    assert rows(df, "s", "o") == [("a", "b"), ("b", "c"), ("c", "d"), ("d", "b")]


def test_select_star_and_join(store):
    df = store.sparql("SELECT * WHERE { ?x next ?y . ?y next ?z . }")
    assert set(df.columns) == {"x", "y", "z"}
    assert ("a", "b", "c") in set(rows(df, "x", "y", "z"))


def test_predicate_and_object_lists(store):
    # ';' shares the subject, ',' shares subject+predicate
    df = store.sparql("SELECT ?o WHERE { a next ?o ; alt ?o2 . }")
    assert rows(df, "o") == [("b",)]
    df2 = store.sparql("SELECT ?s WHERE { ?s next b , c . }")
    # no node points to both b and c → empty; a→b only fails c
    assert df2.count() == 0


def test_property_path_in_predicate_position(store):
    df = store.sparql("SELECT ?e WHERE { a next+ ?e . }")
    assert rows(df, "e") == [("b",), ("c",), ("d",)]
    df2 = store.sparql("SELECT ?g WHERE { r child/child ?g . }")
    assert rows(df2, "g") == [("g1",)]


def test_optional_and_minus(store):
    df = store.sparql(
        "SELECT ?c ?g WHERE { r child ?c . OPTIONAL { ?c child ?g } }"
    )
    assert rows(df, "c", "g") == [("c1", "g1"), ("c2", None)]
    df2 = store.sparql(
        "SELECT ?s ?o WHERE { ?s next ?o . MINUS { ?s alt ?x } }"
    )
    assert rows(df2, "s", "o") == [("b", "c"), ("c", "d"), ("d", "b")]


def test_values_block(store):
    df = store.sparql(
        'SELECT ?s ?o WHERE { ?s next ?o . VALUES (?s) { ("a") ("c") } }'
    )
    assert rows(df, "s", "o") == [("a", "b"), ("c", "d")]
    df2 = store.sparql(
        "SELECT ?s ?o WHERE { ?s next ?o . VALUES (?s ?o) { (a UNDEF) (UNDEF d) } }"
    )
    assert rows(df2, "s", "o") == [("a", "b"), ("c", "d")]


def test_union(store):
    df = store.sparql(
        "SELECT ?s ?o WHERE { { ?s next ?o } UNION { ?s child ?o } }"
    )
    assert len(rows(df, "s", "o")) == 7


def test_modifiers(store):
    df = store.sparql(
        "SELECT DISTINCT ?s WHERE { ?s next ?o . } ORDER BY DESC(?s) LIMIT 2 OFFSET 1"
    )
    assert [r["s"] for r in df.collect()] == ["c", "b"]


def test_prefix_expansion(spark):
    st = TripleStore.from_rows(
        spark,
        [
            ("http://ex/a", "http://xmlns.com/foaf/0.1/knows", "http://ex/b"),
            ("http://ex/a", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
             "http://xmlns.com/foaf/0.1/Person"),
        ],
    )
    df = st.sparql(
        "PREFIX foaf: <http://xmlns.com/foaf/0.1/> "
        "PREFIX ex: <http://ex/> "
        "SELECT ?w WHERE { ex:a foaf:knows ?w . ?x a foaf:Person . }"
    )
    assert [r["w"] for r in df.collect()] == ["http://ex/b"]


def test_prefixed_names_inside_paths(spark):
    st = TripleStore.from_rows(
        spark,
        [
            ("http://ex/a", "http://ex/p", "http://ex/b"),
            ("http://ex/b", "http://ex/p", "http://ex/c"),
        ],
    )
    df = st.sparql(
        "PREFIX ex: <http://ex/> SELECT ?e WHERE { ex:a ex:p+ ?e . }"
    )
    assert sorted(r["e"] for r in df.collect()) == ["http://ex/b", "http://ex/c"]


def test_string_literal_term(store):
    # literal in VALUES binds by string value
    df = store.sparql(
        'SELECT ?s ?v WHERE { ?s label ?v . VALUES (?v) { ("node a") } }'
    )
    assert rows(df, "s", "v") == [("a", "node a")]


def test_compact_trailing_dot(store):
    df = store.sparql("SELECT ?o WHERE { a next ?o. }")
    assert rows(df, "o") == [("b",)]


@pytest.mark.parametrize(
    "bad,msg",
    [
        ("SELECT ?s { ?s next ?o }", "expected 'WHERE'"),
        ("SELECT ?s WHERE { ?s next ?o . FILTER(?zzz = b) }", "unbound"),
        ("SELECT ?s WHERE { ?s next ?o . FILTER(NOSUCH(?s) > 1) }", "unknown function"),
        ("SELECT ?s WHERE { ?s next ?o . FILTER(?o>1&&?s) }", "whitespace"),
        ("SELECT ?s WHERE { ?s next ?o . FILTER REGEX(?o, b) }", "string literal"),
        ("SELECT ?s WHERE { ?s next ?o", "unclosed"),
        ("SELECT ?s WHERE { { ?s next ?o } UNION { ?s child ?o } } LIMIT 2", "UNION"),
        ("PREFIX ex <http://e/> SELECT ?s WHERE { ?s next ?o }", "PREFIX"),
        (
            "SELECT ?s WHERE { SERVICE <http://ex/sparql> { ?s next ?o } }",
            "SERVICE .*not supported",
        ),
    ],
)
def test_errors_are_loud(store, bad, msg):
    with pytest.raises(QueryError, match=msg):
        q = parse_sparql(bad)
        store.select_join(q) if isinstance(q, Sparql) else store.select_union(q)


def test_text_equals_builder(store):
    text = store.sparql(
        "SELECT ?c ?g WHERE { r child ?c . OPTIONAL { ?c child ?g } } ORDER BY ?c"
    )
    built = store.select_join(
        Sparql()
        .select(["$c", "$g"])
        .filter([["r", "child", "$c"]])
        .optional([["$c", "child", "$g"]])
        .order_by(["$c"])
    )
    assert [tuple(r) for r in text.collect()] == [tuple(r) for r in built.collect()]


# -- ASK / CONSTRUCT / DESCRIBE query forms ---------------------------------


def test_text_ask_variable_free(store):
    """The canonical ground ASK: no variables anywhere in the group."""
    assert [r["ask"] for r in store.sparql("ASK { a next b . }").collect()] == [True]
    assert store.sparql("ASK { a next c . }").count() == 0  # edge absent
    # multiple ground patterns: all must hold
    assert store.sparql("ASK { a next b . b next c . }").count() == 1
    assert store.sparql("ASK { a next b . b next zz . }").count() == 0
    # ground property path
    assert store.sparql("ASK { a next+ d . }").count() == 1
    assert store.sparql("ASK { x next+ a . }").count() == 0
    # a literal constant matches the stored literal, and a named node with
    # the same text only the named node
    assert store.sparql('ASK { a label "node a" . }').count() == 1
    assert store.sparql('ASK { a next "b" . }').count() == 0


def test_text_ask(store):
    hit = store.sparql("ASK { a next ?o . }").collect()
    assert [r["ask"] for r in hit] == [True]
    assert store.sparql("ASK WHERE { zz next ?o . }").count() == 0


def test_text_construct(store):
    df = store.sparql(
        "CONSTRUCT { ?o prev ?s . } WHERE { ?s next ?o . }"
    )
    got = {(r["s"], r["p"], r["o_value"]) for r in df.collect()}
    assert got == {
        ("b", "prev", "a"),
        ("c", "prev", "b"),
        ("d", "prev", "c"),
        ("b", "prev", "d"),
    }


def test_text_construct_with_prefixes(spark):
    st = TripleStore.from_rows(
        spark, [("http://ex/a", "http://ex/p", "http://ex/b")]
    )
    df = st.sparql(
        "PREFIX ex: <http://ex/> "
        "CONSTRUCT { ?y ex:q ?x . } WHERE { ?x ex:p ?y . }"
    )
    assert [(r["s"], r["p"], r["o_value"]) for r in df.collect()] == [
        ("http://ex/b", "http://ex/q", "http://ex/a")
    ]


def test_text_describe(store):
    got = {(r["s"], r["p"], r["o_value"]) for r in store.sparql("DESCRIBE b").collect()}
    assert got == {("a", "next", "b"), ("b", "next", "c"), ("d", "next", "b")}


def test_text_form_errors(store):
    with pytest.raises(QueryError, match="needs a WHERE group"):
        store.sparql("DESCRIBE ?x")
    with pytest.raises(QueryError, match="plain triples only"):
        store.sparql("CONSTRUCT { ?s next+ ?o . } WHERE { ?s next ?o . }")
    with pytest.raises(QueryError, match="no solution modifiers"):
        store.sparql("ASK { ?s next ?o . } LIMIT 1")
    with pytest.raises(QueryError, match="SELECT/ASK/CONSTRUCT/DESCRIBE"):
        store.sparql("INSERT { a b c } WHERE { ?s next ?o }")


# -- FILTER expressions (plans.filters) -------------------------------------


def test_filter_comparison_and_regex(store):
    df = store.sparql(
        'SELECT ?s ?o WHERE { ?s next ?o . FILTER(?o != "b" && REGEX(?s, "^[ab]")) }'
    )
    assert rows(df, "s", "o") == [("b", "c")]


def test_filter_numeric_cast_drops_non_numbers(spark):
    st = TripleStore.from_rows(
        spark, [("x", "v", "10"), ("y", "v", "3"), ("z", "v", "n/a")]
    )
    df = st.sparql("SELECT ?s WHERE { ?s v ?n . FILTER(?n >= 4) }")
    # numeric comparison: "3" fails, "n/a" casts to NULL → dropped (the
    # spec's type-error elimination), "10" passes (not lexicographic).
    assert rows(df, "s") == [("x",)]


def test_filter_lexicographic_when_both_strings(store):
    df = store.sparql('SELECT ?s WHERE { ?s next ?o . FILTER(?o < "c") }')
    assert rows(df, "s") == [("a",), ("d",)]


def test_filter_bound_after_optional(store):
    df = store.sparql(
        "SELECT ?c WHERE { r child ?c . OPTIONAL { ?c child ?g } . FILTER(!BOUND(?g)) }"
    )
    assert rows(df, "c") == [("c2",)]


def test_filter_regex_case_flag_and_or(store):
    df = store.sparql(
        'SELECT ?s WHERE { ?s next ?o . FILTER(REGEX(?s, "^A$", "i") || ?o = "d") }'
    )
    assert rows(df, "s") == [("a",), ("c",)]


def test_filter_builder_string_equivalence(store):
    text = store.sparql('SELECT ?s WHERE { ?s next ?o . FILTER(?o != "b") }')
    built = store.select_join(
        Sparql().select(["$s"]).filter([["$s", "next", "$o"]]).filter_expr('?o != "b"')
    )
    assert rows(text, "s") == rows(built, "s")


def test_filter_in_ask_and_union_arms(store):
    assert store.sparql('ASK { ?s next ?o . FILTER(?o = "zzz") }').count() == 0
    assert store.sparql('ASK { ?s next ?o . FILTER(?o = "b") }').count() == 1
    df = store.sparql(
        'SELECT ?s WHERE { { ?s next ?o . FILTER(?o = "b") } UNION '
        '{ ?s child ?o . FILTER(?o = "g1") } }'
    )
    assert rows(df, "s") == [("a",), ("c1",), ("d",)]


# -- grouped / negated property paths in text -------------------------------


def test_text_grouped_path_with_parens(store):
    df = store.sparql("SELECT ?e WHERE { a (next|alt)+ ?e . }")
    assert rows(df, "e") == [("b",), ("c",), ("d",), ("x",)]


def test_text_negated_property_set(store):
    df = store.sparql("SELECT ?o WHERE { a !(next|label) ?o . }")
    assert rows(df, "o") == [("x",)]
    # inverse-only set: pairs are (object, subject) for p ∉ {child}, so
    # 'b !(^child) ?x' finds the nodes pointing INTO b via next.
    df2 = store.sparql("SELECT ?x WHERE { b !(^child) ?x . }")
    assert rows(df2, "x") == [("a",), ("d",)]


def test_text_path_group_then_step(store):
    df = store.sparql("SELECT ?g WHERE { r (child)/child ?g . }")
    assert rows(df, "g") == [("g1",)]


# -- GROUP BY + aggregates (SPARQL §11) -------------------------------------


@pytest.fixture(scope="module")
def agg_store(spark):
    rows = (
        [(f"c{i}", "in_nation", f"n{i % 3}") for i in range(10)]
        + [(f"c{i}", "spent", str(10 * i)) for i in range(10)]
        + [("c3", "spent", "not-a-number")]
    )
    return TripleStore.from_rows(spark, rows)


def test_group_by_count_and_order(agg_store):
    df = agg_store.sparql(
        "SELECT ?nat (COUNT(?c) AS ?n) WHERE { ?c in_nation ?nat } "
        "GROUP BY ?nat ORDER BY ?nat"
    )
    assert [tuple(r) for r in df.collect()] == [("n0", 4), ("n1", 3), ("n2", 3)]


def test_sum_ignores_non_numeric_and_having(agg_store):
    df = agg_store.sparql(
        "SELECT ?nat (SUM(?s) AS ?total) WHERE { ?c in_nation ?nat . ?c spent ?s } "
        "GROUP BY ?nat HAVING(?total > 130) ORDER BY ?nat"
    )
    # n0 = 0+30+60+90 (the 'not-a-number' spent row is NULL → ignored),
    # n1 = 10+40+70 = 120 (dropped by HAVING), n2 = 20+50+80 = 150
    assert [tuple(r) for r in df.collect()] == [("n0", 180.0), ("n2", 150.0)]


def test_global_aggregate_and_count_distinct(agg_store):
    df = agg_store.sparql(
        "SELECT (COUNT(*) AS ?n) (COUNT(DISTINCT ?nat) AS ?nats) "
        "WHERE { ?c in_nation ?nat }"
    )
    assert [tuple(r) for r in df.collect()] == [(10, 3)]


def test_group_concat_sorted_and_sample_min(agg_store):
    df = agg_store.sparql(
        "SELECT ?nat (GROUP_CONCAT(?c) AS ?members) (SAMPLE(?c) AS ?one) "
        "WHERE { ?c in_nation ?nat } GROUP BY ?nat ORDER BY ?nat"
    )
    rows_ = [tuple(r) for r in df.collect()]
    assert rows_[0] == ("n0", "c0 c3 c6 c9", "c0")
    assert rows_[1] == ("n1", "c1 c4 c7", "c1")


def test_builder_aggregate_equivalence(agg_store):
    text = agg_store.sparql(
        "SELECT ?nat (COUNT(?c) AS ?n) WHERE { ?c in_nation ?nat } "
        "GROUP BY ?nat HAVING(?n >= 4) ORDER BY ?nat"
    )
    built = agg_store.select_join(
        Sparql()
        .select(["$nat", "$n"])
        .filter([["$c", "in_nation", "$nat"]])
        .group_by(["$nat"])
        .aggregate("count", "$c", "$n")
        .having_expr("?n >= 4")
        .order_by(["$nat"])
    )
    assert [tuple(r) for r in text.collect()] == [tuple(r) for r in built.collect()]


def test_min_max_are_lexicographic(agg_store):
    df = agg_store.sparql(
        "SELECT (MIN(?s) AS ?lo) (MAX(?s) AS ?hi) WHERE { ?c spent ?s }"
    )
    # string order: '0' < ... < '90' < 'not-a-number'
    assert [tuple(r) for r in df.collect()] == [("0", "not-a-number")]


@pytest.mark.parametrize(
    "bad,msg",
    [
        ("SELECT ?c (COUNT(?c) AS ?n) WHERE { ?c in_nation ?nat } GROUP BY ?nat",
         "GROUP BY variables or"),
        ("SELECT ?nat WHERE { ?c in_nation ?nat } HAVING(?nat > 1)", "HAVING requires"),
        ("SELECT (FOO(?c) AS ?n) WHERE { ?c in_nation ?nat }", "aggregate"),
        ("SELECT (AVG(DISTINCT ?c) AS ?n) WHERE { ?c in_nation ?nat }", "DISTINCT"),
        ("SELECT (SUM(*) AS ?n) WHERE { ?c in_nation ?nat }", "COUNT"),
        ("SELECT (COUNT(?c) AS ?n) WHERE { { ?c a ?x } UNION { ?c a ?y } }", "UNION"),
    ],
)
def test_aggregate_errors_are_loud(agg_store, bad, msg):
    with pytest.raises(QueryError, match=msg):
        agg_store.sparql(bad).collect()


def test_get_rejects_aggregates(agg_store):
    q = (Sparql().select(["$n"]).filter([["$c", "in_nation", "$nat"]])
         .aggregate("count", "$c", "$n"))
    with pytest.raises(QueryError, match="conjunctive-only"):
        agg_store.get(q)


# -- FILTER EXISTS / NOT EXISTS (SPARQL §8.1) -------------------------------


def test_filter_exists_and_not_exists(store):
    df = store.sparql(
        "SELECT ?s WHERE { ?s next ?o . FILTER EXISTS { ?s alt ?x } }"
    )
    assert rows(df, "s") == [("a",)]
    df2 = store.sparql(
        "SELECT ?s WHERE { ?s next ?o . FILTER NOT EXISTS { ?s alt ?x } }"
    )
    assert rows(df2, "s") == [("b",), ("c",), ("d",)]


def test_exists_disjoint_group_is_global_gate(store):
    # the documented EXISTS/MINUS divergence (spec §8.3.3): a group
    # sharing no variable gates ALL solutions on whether it matches
    matching = store.sparql(
        "SELECT ?c WHERE { r child ?c . FILTER EXISTS { a alt ?z } }"
    )
    assert rows(matching, "c") == [("c1",), ("c2",)]
    empty_gate = store.sparql(
        "SELECT ?c WHERE { r child ?c . FILTER EXISTS { a zz ?z } }"
    )
    assert empty_gate.count() == 0
    not_exists_match = store.sparql(
        "SELECT ?c WHERE { r child ?c . FILTER NOT EXISTS { a alt ?z } }"
    )
    assert not_exists_match.count() == 0
    # MINUS on the same disjoint group removes nothing
    minus_same = store.sparql(
        "SELECT ?c WHERE { r child ?c . MINUS { a alt ?z } }"
    )
    assert rows(minus_same, "c") == [("c1",), ("c2",)]


def test_exists_builder_equivalence(store):
    text = store.sparql(
        "SELECT ?s WHERE { ?s next ?o . FILTER NOT EXISTS { ?s alt ?x } }"
    )
    built = store.select_join(
        Sparql().select(["$s"]).filter([["$s", "next", "$o"]])
        .not_exists([["$s", "alt", "$x"]])
    )
    assert rows(text, "s") == rows(built, "s")


def test_select_star_projects_optional_and_values_vars(store):
    # spec §18.2.1: OPTIONAL and VALUES variables are in scope for * —
    # MINUS/EXISTS variables are not
    df = store.sparql("SELECT * WHERE { ?s next ?o . OPTIONAL { ?o alt ?x } }")
    assert df.columns == ["s", "o", "x"]
    df2 = store.sparql('SELECT * WHERE { ?s alt ?o . VALUES (?tag) { ("t1") } }')
    assert df2.columns == ["s", "o", "tag"]
    assert [r["tag"] for r in df2.collect()] == ["t1"]
    df3 = store.sparql("SELECT * WHERE { ?s next ?o . MINUS { ?s zz ?hidden } }")
    assert df3.columns == ["s", "o"]


def test_exists_errors_are_loud(store):
    with pytest.raises(QueryError, match="EXISTS after FILTER NOT"):
        store.sparql("SELECT ?s WHERE { ?s next ?o . FILTER NOT THERE { a alt ?z } }")
    with pytest.raises(QueryError, match="triple, path, and GRAPH patterns only"):
        store.sparql(
            "SELECT ?s WHERE { ?s next ?o . "
            "FILTER EXISTS { OPTIONAL { ?s alt ?x } } }"
        )
    q = Sparql().select(["$s"]).filter([["$s", "next", "$o"]]).exists([["$s", "alt", "$x"]])
    with pytest.raises(QueryError, match="conjunctive-only"):
        store.get(q)


# -- BIND + value expressions (SPARQL §10.1) --------------------------------


@pytest.fixture(scope="module")
def bind_store(spark):
    rows = [(f"c{i}", "in_nation", f"n{i % 3}") for i in range(6)] + [
        (f"c{i}", "spent", str(10 * i)) for i in range(6)
    ]
    return TripleStore.from_rows(spark, rows)


def test_bind_arithmetic_and_if(bind_store):
    df = bind_store.sparql(
        "SELECT ?c ?k ?tier WHERE { ?c spent ?s . BIND(?s * 2 + 1 AS ?k) "
        '. BIND(IF(?s >= 30, "high", "low") AS ?tier) } ORDER BY ?c'
    )
    got = [tuple(r) for r in df.collect()]
    assert got[0] == ("c0", 1.0, "low")
    assert got[5] == ("c5", 101.0, "high")


def test_bind_concat_and_string_funcs(bind_store):
    df = bind_store.sparql(
        'SELECT ?label WHERE { ?c in_nation ?n . '
        'BIND(CONCAT(UCASE(?c), "@", SUBSTR(?n, 2)) AS ?label) } '
        "ORDER BY ?label LIMIT 2"
    )
    assert [r["label"] for r in df.collect()] == ["C0@0", "C1@1"]


def test_bind_feeds_group_by_and_filter(bind_store):
    df = bind_store.sparql(
        'SELECT ?tier (COUNT(?c) AS ?n) WHERE { ?c spent ?s . '
        'BIND(IF(?s >= 30, "high", "low") AS ?tier) } '
        "GROUP BY ?tier ORDER BY ?tier"
    )
    assert [tuple(r) for r in df.collect()] == [("high", 3), ("low", 3)]
    df2 = bind_store.sparql(
        "SELECT ?c WHERE { ?c spent ?s . BIND(?s / 10 AS ?d) . FILTER(?d >= 4) }"
    )
    assert sorted(r["c"] for r in df2.collect()) == ["c4", "c5"]


def test_filter_arithmetic_and_strlen(bind_store):
    df = bind_store.sparql(
        "SELECT ?c WHERE { ?c spent ?s . FILTER((?s + 10) * 2 > 90) } ORDER BY ?c"
    )
    assert [r["c"] for r in df.collect()] == ["c4", "c5"]
    df2 = bind_store.sparql(
        'SELECT ?c WHERE { ?c in_nation ?n . FILTER(STRLEN(?c) = 2 && LCASE(?n) = "n1") }'
    )
    assert sorted(r["c"] for r in df2.collect()) == ["c1", "c4"]


def test_bind_select_star_includes_alias(bind_store):
    df = bind_store.sparql(
        "SELECT * WHERE { ?c spent ?s . BIND(?s + 0 AS ?num) }"
    )
    assert set(df.columns) == {"c", "s", "num"}


def test_bind_builder_equivalence(bind_store):
    text = bind_store.sparql(
        'SELECT ?c ?lab WHERE { ?c in_nation ?n . BIND(CONCAT(?c, "-", ?n) AS ?lab) } ORDER BY ?c'
    )
    built = bind_store.select_join(
        Sparql().select(["$c", "$lab"]).filter([["$c", "in_nation", "$n"]])
        .bind("$lab", 'CONCAT(?c, "-", ?n)').order_by(["$c"])
    )
    assert [tuple(r) for r in text.collect()] == [tuple(r) for r in built.collect()]


def test_bind_errors_are_loud(bind_store):
    with pytest.raises(QueryError, match="rebind"):
        bind_store.sparql("SELECT ?c WHERE { ?c spent ?s . BIND(?s AS ?s) }")
    with pytest.raises(QueryError, match="unbound"):
        bind_store.sparql("SELECT ?c WHERE { ?c spent ?s . BIND(?zz + 1 AS ?k) }")
    with pytest.raises(QueryError, match="conjunctive-only"):
        bind_store.get(Sparql().select(["$c"]).filter([["$c", "spent", "$s"]])
                       .bind("$k", "?s + 1"))


# -- subqueries (SPARQL §12) ------------------------------------------------


def test_subquery_joins_aggregate_back(agg_store):
    df = agg_store.sparql(
        "SELECT ?c ?nat ?n WHERE { ?c in_nation ?nat . "
        "{ SELECT ?nat (COUNT(?m) AS ?n) WHERE { ?m in_nation ?nat } GROUP BY ?nat } "
        "} ORDER BY ?c"
    )
    got = [tuple(r) for r in df.collect()]
    assert got[0] == ("c0", "n0", 4)
    assert got[1] == ("c1", "n1", 3)
    assert len(got) == 10


def test_subquery_as_whole_body_and_inner_modifiers(agg_store):
    df = agg_store.sparql(
        "SELECT ?nat ?n WHERE { "
        "{ SELECT ?nat (COUNT(?m) AS ?n) WHERE { ?m in_nation ?nat } "
        "GROUP BY ?nat ORDER BY ?nat LIMIT 2 } } ORDER BY ?nat"
    )
    assert [tuple(r) for r in df.collect()] == [("n0", 4), ("n1", 3)]


def test_subquery_projection_is_scoped(agg_store):
    # inner ?m is not projected → not visible to the outer group
    with pytest.raises(QueryError, match="not bound"):
        agg_store.sparql(
            "SELECT ?m WHERE { "
            "{ SELECT ?nat WHERE { ?m in_nation ?nat } GROUP BY ?nat } }"
        )


def test_subquery_builder_equivalence(agg_store):
    inner = (
        Sparql().select(["$nat", "$n"]).filter([["$m", "in_nation", "$nat"]])
        .group_by(["$nat"]).aggregate("count", "$m", "$n")
    )
    built = agg_store.select_join(
        Sparql().select(["$c", "$n"]).filter([["$c", "in_nation", "$nat"]])
        .subquery(inner).order_by(["$c"])
    )
    text = agg_store.sparql(
        "SELECT ?c ?n WHERE { ?c in_nation ?nat . "
        "{ SELECT ?nat (COUNT(?m) AS ?n) WHERE { ?m in_nation ?nat } GROUP BY ?nat } "
        "} ORDER BY ?c"
    )
    assert [tuple(r) for r in text.collect()] == [tuple(r) for r in built.collect()]


def test_subquery_errors(agg_store):
    with pytest.raises(QueryError, match="subqueries"):
        agg_store.sparql("SELECT ?c WHERE { ?c in_nation ?n . { ?c in_nation ?n } }")
    with pytest.raises(QueryError, match="conjunctive-only"):
        agg_store.get(
            Sparql().select(["$c"]).filter([["$c", "in_nation", "$n"]])
            .subquery(Sparql().select(["$n"]).filter([["$m", "in_nation", "$n"]]))
        )


def test_construct_where_shortcut(store):
    df = store.sparql("CONSTRUCT WHERE { ?s next ?o . }")
    got = {(r["s"], r["p"], r["o_value"]) for r in df.collect()}
    assert got == {("a", "next", "b"), ("b", "next", "c"),
                   ("c", "next", "d"), ("d", "next", "b")}
    with pytest.raises(QueryError, match="plain triple"):
        store.sparql("CONSTRUCT WHERE { ?s next+ ?o . }")
    with pytest.raises(QueryError, match="empty"):
        store.sparql("CONSTRUCT WHERE { }")


def test_three_arm_union(store):
    df = store.sparql(
        "SELECT ?s ?o WHERE { { ?s next ?o } UNION { ?s child ?o } "
        "UNION { ?s alt ?o } }"
    )
    assert len(rows(df, "s", "o")) == 8  # 4 next + 3 child + 1 alt
    df2 = store.sparql(
        "SELECT ?s ?o WHERE { { a next ?o . BIND(?o AS ?s) } UNION "
        "{ ?s alt ?o } UNION { ?s label ?o } UNION { zz p ?o . BIND(?o AS ?s) } }"
    )
    assert len(rows(df2, "s", "o")) == 3  # bind-arm 1 + alt 1 + label 1 + empty


# ---------------------------------------------------------------------------
# r6: filter-parser edge fixes (ADVICE round 5)
# ---------------------------------------------------------------------------


def test_fused_arithmetic_operand_raises():
    """A digit-leading token with interior arithmetic ('2-1') is NOT a
    number literal; it must refuse loudly like the fused boolean runs do,
    never silently compare lexicographically as a string term."""
    from rippledb_spark.plans.filters import parse_filter_text

    for bad in ("?x > 2-1", "?x > 3*4", "?x = 10/2", "?x < 1+2"):
        with pytest.raises(QueryError, match="separate operators"):
            parse_filter_text(bad)


def test_filter_text_accepts_all_wrapper_forms():
    """parse_filter_text: 'FILTER (e)', 'FILTER e', '(e)', and 'e' all
    parse to the same expression (the docstring says the wrapper is
    optional — the bare 'FILTER e' form previously crashed)."""
    from rippledb_spark.plans.filters import FCmp, FNum, FVar, parse_filter_text

    want = FCmp(op=">", left=FVar(name="x"), right=FNum(value=5.0))
    for form in ("FILTER (?x > 5)", "FILTER ?x > 5", "(?x > 5)", "?x > 5"):
        assert parse_filter_text(form) == want


def test_negative_and_scientific_numbers_still_parse():
    from rippledb_spark.plans.filters import FCmp, FNum, FVar, VArith, parse_filter_text

    assert parse_filter_text("?x > -3") == FCmp(">", FVar("x"), FNum(-3.0))
    assert parse_filter_text("?x > 1e-5") == FCmp(">", FVar("x"), FNum(1e-5))
    # whitespace-separated arithmetic still builds a VArith tree
    got = parse_filter_text("?x > 2 - 1")
    assert got == FCmp(">", FVar("x"), VArith("-", FNum(2.0), FNum(1.0)))


def test_path_quantifiers_in_text_frontend(store):
    """p{n,m} quantifier brackets parse in predicate position; group
    braces (which share the '{' token) are unaffected."""
    got = rows(
        store.sparql("SELECT ?x ?y WHERE { ?x next{1,2} ?y }"), "x", "y"
    )
    one = {(e[0], e[2]) for e in EDGES if e[1] == "next"}
    two = {(a, d) for a, b in one for c, d in one if b == c}
    assert set(got) == one | two
    # non-quantifier braces after a predicate-looking token still group
    assert store.sparql("ASK { b next c }").collect()[0]["ask"] is True


def test_path_quantifier_on_group(store):
    df = store.sparql("SELECT ?x ?y WHERE { ?x (next|alt){2} ?y }")
    rel = {(e[0], e[2]) for e in EDGES if e[1] in ("next", "alt")}
    want = {(a, d) for a, b in rel for c, d in rel if b == c}
    assert set(rows(df, "x", "y")) == want


# ---------------------------------------------------------------------------
# r6: §17.4 builtins + ORDER BY expressions
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def lit_store(spark):
    from rippledb_spark import model

    rows = [
        ("a", "named", "name", "zebra", "literal", None, None),
        ("b", "named", "name", "ox", "literal", None, None),
        ("c", "named", "name", "elephant", "literal", None, None),
        ("a", "named", "score", "10", "literal", None, None),
        ("b", "named", "score", "9.5", "literal", None, None),
        ("c", "named", "score", "oops", "literal", None, None),
    ]
    return TripleStore(spark, spark.createDataFrame(rows, model.TRIPLES_SCHEMA))


def test_string_predicates_filter(lit_store):
    q = 'SELECT ?s WHERE { ?s name ?n FILTER STRSTARTS(?n, "e") }'
    assert rows(lit_store.sparql(q), "s") == [("c",)]
    q = 'SELECT ?s WHERE { ?s name ?n FILTER(CONTAINS(?n, "b") || STRENDS(?n, "x")) }'
    assert rows(lit_store.sparql(q), "s") == [("a",), ("b",)]


def test_xsd_cast_eliminates_malformed(lit_store):
    # 'oops' fails the cast → NULL → row eliminated (spec cast-error rule)
    q = "SELECT ?s WHERE { ?s score ?v FILTER(xsd:double(?v) > 9) }"
    assert rows(lit_store.sparql(q), "s") == [("a",), ("b",)]
    q = "SELECT ?s WHERE { ?s score ?v FILTER(xsd:integer(?v) = 10) }"
    assert rows(lit_store.sparql(q), "s") == [("a",)]  # '9.5' not an integer


def test_strbefore_strafter_replace_coalesce(lit_store):
    q = 'SELECT ?s ?w WHERE { ?s name ?n BIND(STRBEFORE(?n, "x") AS ?w) }'
    assert rows(lit_store.sparql(q), "s", "w") == [("a", ""), ("b", "o"), ("c", "")]
    q = 'SELECT ?s ?w WHERE { ?s name ?n BIND(REPLACE(?n, "e", "3") AS ?w) }'
    assert ("c", "3l3phant") in rows(lit_store.sparql(q), "s", "w")
    # COALESCE over an OPTIONAL-null variable falls back to the name
    q = (
        "SELECT ?s ?w WHERE { ?s name ?n "
        "OPTIONAL { ?s nick ?k } BIND(COALESCE(?k, ?n) AS ?w) }"
    )
    assert rows(lit_store.sparql(q), "s", "w") == [
        ("a", "zebra"), ("b", "ox"), ("c", "elephant"),
    ]


def test_numeric_builtins(lit_store):
    q = "SELECT ?s WHERE { ?s score ?v FILTER(ABS(?v - 11) < 1.1) }"
    assert rows(lit_store.sparql(q), "s") == [("a",)]
    q = "SELECT ?s WHERE { ?s score ?v FILTER(FLOOR(?v) = 9) }"
    assert rows(lit_store.sparql(q), "s") == [("b",)]


def test_order_by_expression(lit_store):
    q = "SELECT ?s ?n WHERE { ?s name ?n } ORDER BY DESC(STRLEN(?n))"
    got = [r["s"] for r in lit_store.sparql(q).collect()]
    assert got == ["c", "a", "b"]  # elephant(8) zebra(5) ox(2)
    # mixed expression + variable keys
    q = "SELECT ?s ?n WHERE { ?s name ?n } ORDER BY STRLEN(?n) ?s"
    assert [r["s"] for r in lit_store.sparql(q).collect()] == ["b", "a", "c"]
    # variable-only ordering unchanged
    q = "SELECT ?s ?n WHERE { ?s name ?n } ORDER BY DESC(?n)"
    assert [r["s"] for r in lit_store.sparql(q).collect()] == ["a", "b", "c"]


def test_order_by_expr_builder(lit_store):
    q = (
        Sparql()
        .select(["$s", "$n"])
        .filter([["$s", "name", "$n"]])
        .order_by_expr("STRLEN(?n)", desc=True)
    )
    assert [r["s"] for r in lit_store.select_join(q).collect()] == ["c", "a", "b"]


def test_new_builtins_arity_errors(lit_store):
    from rippledb_spark.plans.filters import parse_filter_text

    for bad in (
        "STRSTARTS(?x)",
        "ABS(?x, ?y) > 1",
        "REPLACE(?x, \"a\") = \"b\"",
        "xsd:integer(?x, ?y) = 1",
    ):
        with pytest.raises(QueryError):
            parse_filter_text(bad)


def test_filter_in_and_not_in(lit_store):
    q = 'SELECT ?s WHERE { ?s name ?n FILTER(?n IN ("ox", "zebra")) }'
    assert rows(lit_store.sparql(q), "s") == [("a",), ("b",)]
    q = 'SELECT ?s WHERE { ?s name ?n FILTER(?n NOT IN ("ox", "zebra")) }'
    assert rows(lit_store.sparql(q), "s") == [("c",)]
    # empty IN list is false; numeric members coerce
    q = "SELECT ?s WHERE { ?s name ?n FILTER(?n IN ()) }"
    assert rows(lit_store.sparql(q), "s") == []
    q = "SELECT ?s WHERE { ?s score ?v FILTER(?v IN (10, 11)) }"
    assert rows(lit_store.sparql(q), "s") == [("a",)]


def test_group_concat_separator(store):
    q = (
        'SELECT ?s (GROUP_CONCAT(?o; SEPARATOR=", ") AS ?kids) '
        "WHERE { ?s child ?o } GROUP BY ?s"
    )
    assert rows(store.sparql(q), "s", "kids") == [("c1", "g1"), ("r", "c1, c2")]
    # fused and spaced forms both parse; DISTINCT composes
    q2 = (
        'SELECT ?s (GROUP_CONCAT(DISTINCT ?o; SEPARATOR = "|") AS ?kids) '
        "WHERE { ?s child ?o } GROUP BY ?s"
    )
    assert rows(store.sparql(q2), "s", "kids") == [("c1", "g1"), ("r", "c1|c2")]
    # the separator's escapes decode like any SPARQL string
    q_tab = q.replace('", "', r'"\t"')
    assert rows(store.sparql(q_tab), "s", "kids") == [("c1", "g1"), ("r", "c1\tc2")]
    # default separator is ' '; SEPARATOR on other aggregates refuses
    q3 = "SELECT ?s (GROUP_CONCAT(?o) AS ?kids) WHERE { ?s child ?o } GROUP BY ?s"
    assert rows(store.sparql(q3), "s", "kids") == [("c1", "g1"), ("r", "c1 c2")]
    with pytest.raises(QueryError, match="SEPARATOR"):
        store.sparql(
            'SELECT ?s (SUM(?o; SEPARATOR=",") AS ?x) WHERE { ?s child ?o } GROUP BY ?s'
        )


def test_path_quantifier_composes_with_sequence(store):
    """p{n} followed by '/step' keeps collecting the path (the '}' must
    continue into an operator run like ')' does)."""
    got = rows(store.sparql("SELECT ?x ?y WHERE { ?x next{2}/next ?y }"), "x", "y")
    nxt = {(e[0], e[2]) for e in EDGES if e[1] == "next"}
    two = {(a, d) for a, b in nxt for c, d in nxt if b == c}
    want = {(a, d) for a, b in two for c, d in nxt if b == c}
    assert set(got) == want


def test_filter_inside_optional_group(lit_store):
    """A FILTER inside OPTIONAL constrains the group BEFORE the left
    join: a row failing it NULL-extends instead of disappearing."""
    q = (
        "SELECT ?s ?v WHERE { ?s name ?n "
        "OPTIONAL { ?s score ?v FILTER(?v > 9.7) } }"
    )
    assert rows(lit_store.sparql(q), "s", "v") == [
        ("a", "10"), ("b", None), ("c", None),
    ]
    # contrast: the outer-scoped filter DROPS non-matching rows
    q2 = "SELECT ?s ?v WHERE { ?s name ?n . ?s score ?v FILTER(?v > 9.7) }"
    assert rows(lit_store.sparql(q2), "s", "v") == [("a", "10")]


def test_filter_inside_minus_group(lit_store):
    q = "SELECT ?s WHERE { ?s name ?n MINUS { ?s score ?v FILTER(?v > 9.7) } }"
    assert rows(lit_store.sparql(q), "s") == [("b",), ("c",)]


def test_optional_group_builder(lit_store):
    from rippledb_spark.plans.filters import parse_filter_text

    grp = Sparql().filter([["$s", "score", "$v"]])
    grp.filter_expr(parse_filter_text("?v > 9.7"))
    q = Sparql().select(["$s", "$v"]).filter([["$s", "name", "$n"]]).optional_group(grp)
    assert rows(lit_store.select_join(q), "s", "v") == [
        ("a", "10"), ("b", None), ("c", None),
    ]


def test_group_filter_unbound_var_is_loud(lit_store):
    with pytest.raises(QueryError, match="not bound in the group"):
        lit_store.sparql(
            "SELECT ?s WHERE { ?s name ?n OPTIONAL { ?s score ?v FILTER(?zz > 1) } }"
        ).collect()


def test_describe_variable_form(store):
    """DESCRIBE ?v WHERE { group }: union of symmetric descriptions of
    every binding; bound-node DESCRIBE unchanged."""
    df = store.sparql("DESCRIBE ?s WHERE { ?s child ?c }")
    got = sorted((r["s"], r["p"], r["o_value"]) for r in df.collect())
    # describers: r and c1 (both have child edges); description = triples
    # touching either as subject or named object
    want = sorted(
        (s, p, o)
        for (s, p, o, *_rest) in [e[:3] for e in EDGES]
        if s in ("r", "c1") or o in ("r", "c1")
    )
    assert got == want
    with pytest.raises(QueryError, match="not bound"):
        store.sparql("DESCRIBE ?zz WHERE { ?s child ?c }").collect()


def test_hash_builtins(lit_store):
    import hashlib

    q = "SELECT ?s ?h WHERE { ?s name ?n BIND(MD5(?n) AS ?h) }"
    got = dict(rows(lit_store.sparql(q), "s", "h"))
    assert got["a"] == hashlib.md5(b"zebra").hexdigest()
    q2 = 'SELECT ?s WHERE { ?s name ?n FILTER(SHA256(?n) = "%s") }' % (
        hashlib.sha256(b"ox").hexdigest()
    )
    assert rows(lit_store.sparql(q2), "s") == [("b",)]
    with pytest.raises(QueryError, match="exactly one"):
        lit_store.sparql("SELECT ?s WHERE { ?s name ?n FILTER(MD5(?n, ?n) = \"x\") }")


def test_order_by_aggregate_alias_and_expression(store):
    """ORDER BY works over aggregate aliases (plain and inside value
    expressions) — the alias is an ordinary column after aggregation."""
    q = (
        "SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s child ?o } "
        "GROUP BY ?s ORDER BY DESC(?n) ?s"
    )
    assert rows(store.sparql(q), "s", "n") != []
    got = [(r["s"], r["n"]) for r in store.sparql(q).collect()]
    assert got == [("r", 2), ("c1", 1)]
    q2 = (
        "SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s child ?o } "
        "GROUP BY ?s ORDER BY (0 - ?n)"
    )
    assert [(r["s"], r["n"]) for r in store.sparql(q2).collect()] == [
        ("r", 2), ("c1", 1),
    ]
