"""SPARQL 1.1 Update text forms (plans/update.py + TripleStore.update):
parser, all four forms, literal syntax, immutability, loud errors, and
parity of the one evaluator across TripleStore and QuadStore."""

from __future__ import annotations

import gc
import uuid

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from rippledb_spark import QuadStore, TripleStore, model
from rippledb_spark.errors import QueryError
from rippledb_spark.operators._itergc import release_iteration_garbage
from rippledb_spark.plans import bgp
from rippledb_spark.plans.sparql import Val, Var
from rippledb_spark.plans.text import parse_sparql
from rippledb_spark.plans.update import (
    DeleteData,
    DeleteWhere,
    InsertData,
    Modify,
    apply,
    parse_update,
)

EDGES = [("a", "knows", "b"), ("b", "knows", "c"), ("c", "likes", "a")]


@pytest.fixture()
def store(spark):
    return TripleStore.from_rows(spark, EDGES)


def rows(st):
    return sorted(map(tuple, st.df.collect()))


def named(*triples):
    """Hand-written (s, p, o) triples of named nodes as sorted store rows."""
    return sorted((s, "named", p, o, "named", None, None) for s, p, o in triples)


def plan_leaves(df):
    """The leaf nodes (JVM objects) of ``df``'s optimized logical plan."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return [leaves.apply(i) for i in range(leaves.size())]


def jobs_of(spark, action) -> int:
    """Spark jobs ``action()`` runs, counted by a job group of its own."""
    sc = spark.sparkContext
    group = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


# -- parser -----------------------------------------------------------------


def test_parse_forms():
    assert isinstance(parse_update("INSERT DATA { a p b }"), InsertData)
    assert isinstance(parse_update("DELETE DATA { a p b . }"), DeleteData)
    assert isinstance(parse_update("DELETE WHERE { ?x p ?y }"), DeleteWhere)
    m = parse_update("DELETE { ?x p ?y } INSERT { ?x q ?y } WHERE { ?x p ?y }")
    assert isinstance(m, Modify)
    assert m.delete_template == [(Var("x"), Val("p"), Var("y"))]
    assert m.insert_template == [(Var("x"), Val("q"), Var("y"))]


def test_parse_literal_forms():
    form = parse_update(
        'PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> INSERT DATA { '
        's name "Ann"@en . s age "30"^^xsd:int . s note "plain" . s ref _:b1 . }'
    )
    by_pred = {r[2]: r for r in form.rows}
    assert by_pred["name"] == ("s", "named", "name", "Ann", "lang_literal", "en", None)
    assert by_pred["age"][4:] == ("typed_literal", None, "http://www.w3.org/2001/XMLSchema#int")
    assert by_pred["note"][4] == "literal"
    assert by_pred["ref"][3:5] == ("_:b1", "blank")


@pytest.mark.parametrize(
    "bad,msg",
    [
        ("INSERT DATA { ?x p o }", "ground"),
        ('INSERT DATA { "lit" p o }', "literal subjects"),
        ("WITH <g> DELETE WHERE { ?x p ?y }", "single-graph"),
        ("DELETE WHERE { }", "at least one"),
        ("SELECT ?x WHERE { ?x p ?y }", "expected INSERT/DELETE"),
        ("INSERT DATA { a p b } extra", "trailing"),
        ("DELETE { ?x p ?y } WHERE { }", "non-empty WHERE"),
    ],
)
def test_parse_rejects(bad, msg):
    with pytest.raises(QueryError, match=msg):
        parse_update(bad)


# -- evaluation -------------------------------------------------------------


def test_insert_and_delete_data_roundtrip(store):
    st2 = store.update('INSERT DATA { a tag "x" . a knows b . }')  # knows dup: set
    assert st2.count() == 4
    st3 = st2.update('DELETE DATA { a tag "x" . zz p qq . }')  # missing = no-op
    assert rows(st3) == rows(store)


def test_delete_where_removes_matches_with_exact_kinds(store):
    st2 = store.update('INSERT DATA { a note "text" . }')
    st3 = st2.update("DELETE WHERE { ?x knows ?y }")
    assert sorted(r[2] for r in rows(st3)) == ["likes", "note"]
    # the literal survived untouched (kind-exact deletion)
    assert any(r[4] == "literal" for r in rows(st3))


def test_delete_where_joins_shared_vars(store):
    # solutions: x=b, y=c, z=a (the only chain). Per spec DELETE WHERE
    # removes EVERY pattern's instantiation — both (b knows c) and
    # (c likes a); (a knows b) survives (its target likes nothing).
    st2 = store.update("DELETE WHERE { ?x knows ?y . ?y likes ?z }")
    assert sorted(r[:3] for r in rows(st2)) == [("a", "named", "knows")]


def test_modify_renames_predicate(store):
    st2 = store.update("DELETE { ?x knows ?y } INSERT { ?x met ?y } WHERE { ?x knows ?y }")
    assert sorted(r[2] for r in rows(st2)) == ["likes", "met", "met"]
    # original snapshot untouched (immutability)
    assert sorted(r[2] for r in rows(store)) == ["knows", "knows", "likes"]
    # the change feed holds exactly the deleted and the inserted triples
    feed = sorted(
        (r["op"], r["s"], r["p"], r["o_value"]) for r in store.diff(st2).collect()
    )
    assert feed == [
        ("delete", "a", "knows", "b"), ("delete", "b", "knows", "c"),
        ("insert", "a", "met", "b"), ("insert", "b", "met", "c"),
    ]


def test_modify_insert_only_and_delete_only(store):
    st2 = store.update("INSERT { ?y known_by ?x } WHERE { ?x knows ?y }")
    assert st2.count() == 5
    st3 = store.update("DELETE { ?x knows ?y } WHERE { ?x knows ?y . ?y likes ?z }")
    assert sorted(r[2] for r in rows(st3)) == ["knows", "likes"]


def test_modify_rejects_unbound_template_var(store):
    with pytest.raises(QueryError, match="not bound"):
        store.update("DELETE { ?x p ?zz } WHERE { ?x knows ?y }")


def test_update_prefix_expansion(store):
    st2 = store.update(
        "PREFIX ex: <http://ex/> INSERT DATA { ex:s ex:p ex:o }"
    )
    assert ("http://ex/s", "named", "http://ex/p", "http://ex/o", "named", None, None) in rows(st2)


def test_modify_ground_where_gates(store):
    # matching ground WHERE → templates instantiate once
    st2 = store.update('INSERT { a met c } WHERE { a knows b }')
    assert ("a", "named", "met", "c", "named", None, None) in rows(st2)
    # non-matching ground WHERE → whole modify is a no-op
    st3 = store.update('INSERT { a met c } WHERE { a knows zz }')
    assert rows(st3) == rows(store)
    st4 = store.update('DELETE { a knows b } WHERE { zz p qq }')
    assert rows(st4) == rows(store)


# -- snapshot contract of the WHERE forms -----------------------------------

CHAIN = [
    (
        "DELETE WHERE { ?x likes ?y }",
        named(("a", "knows", "b"), ("b", "knows", "c")),
    ),
    (
        "DELETE { ?x knows ?y } INSERT { ?y met ?x } WHERE { ?x knows ?y }",
        named(("b", "met", "a"), ("c", "met", "b")),
    ),
    (
        "DELETE WHERE { c met ?y }",
        named(("b", "met", "a")),
    ),
    (
        "DELETE { ?x met ?y } INSERT { ?x likes ?y . ?y likes ?x } WHERE { ?x met ?y }",
        named(("b", "likes", "a"), ("a", "likes", "b")),
    ),
]


def test_where_chain_lineage_stays_bounded(spark, store):
    """Each WHERE-form snapshot is materialised once: at depth 4 the plan
    is one in-memory relation, not the chain replayed from the base
    store, and counting it costs what counting depth 1 does."""
    snaps = []
    st = store
    for text, want in CHAIN:
        st = st.update(text)
        assert rows(st) == want, text
        snaps.append(st)
    base_rdds = {
        leaf.rdd().id()
        for leaf in plan_leaves(store.df)
        if leaf.nodeName() == "LogicalRDD"
    }
    leaves = plan_leaves(snaps[-1].df)
    assert [leaf.nodeName() for leaf in leaves] == ["LogicalRDD"]
    assert leaves[0].rdd().id() not in base_rdds
    assert jobs_of(spark, snaps[-1].count) == jobs_of(spark, snaps[0].count)


def test_modify_reinserting_a_deleted_triple_keeps_it(store):
    # both templates instantiate against the PRE-update state (SPARQL 1.1
    # Update §3.1.3): the INSERT puts back what the DELETE removed
    st2 = store.update(
        "DELETE { ?x knows ?y } INSERT { ?x knows ?y } WHERE { ?x knows ?y }"
    )
    assert rows(st2) == rows(store)


def test_referenced_snapshot_survives_garbage_release(store):
    st2 = store.update("DELETE WHERE { ?x knows ?y }")
    assert st2.count() == 1
    gc.collect()
    release_iteration_garbage(st2.df)
    assert rows(st2) == named(("c", "likes", "a"))


def test_modify_plans_its_where_group_once(monkeypatch, store):
    # both templates instantiate from one solution frame: the WHERE join
    # is built once, not once for DELETE and again for INSERT
    calls = []
    real = bgp.select_join

    def spy(*args, **kwargs):
        calls.append(args[1])
        return real(*args, **kwargs)

    monkeypatch.setattr(bgp, "select_join", spy)
    text = "DELETE { ?x knows ?y } INSERT { ?x met ?y } WHERE { ?x knows ?y }"
    form = parse_update(text)
    store.update(text)
    assert len(calls) == 1
    # the parsed form's query is planned on a copy, never mutated
    apply(store, form)
    assert form.query.vars == []


# -- term identity -----------------------------------------------------------
# Solutions carry values, not kinds, so a typed literal and a plain literal
# with the same lexical form are one term to the modify form and to joins.
# These pin the defects until terms get exact identity.

XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
TYPED_5 = ("s", model.NAMED, "age", "5", model.TYPED_LITERAL, None, XSD_INT)
PLAIN_5 = ("s", model.NAMED, "lbl", "5", model.LITERAL, None, None)
KINDS = ["triples", "quads"]


def as_store(spark, kind, triples):
    """``triples`` as a TripleStore, or as a QuadStore's default graph."""
    ts = TripleStore.from_rows(spark, triples)
    return ts if kind == "triples" else QuadStore.from_triplestores(spark, default=ts)


def default_rows(st):
    return rows(st if isinstance(st, TripleStore) else st.default_graph())


@pytest.mark.xfail(
    strict=True, raises=AssertionError, reason="modify rewrites a typed literal as an IRI"
)
@pytest.mark.parametrize("kind", KINDS)
def test_modify_keeps_the_typed_literal(spark, kind):
    st = as_store(spark, kind, [TYPED_5])
    out = st.update("DELETE { ?s age ?o } INSERT { ?s age2 ?o } WHERE { ?s age ?o }")
    assert default_rows(out) == [("s", model.NAMED, "age2", *TYPED_5[3:])]


@pytest.mark.xfail(
    strict=True, raises=AssertionError, reason="modify deletes by value, across kinds"
)
@pytest.mark.parametrize("kind", KINDS)
def test_modify_delete_spares_the_plain_literal(spark, kind):
    st = as_store(spark, kind, [TYPED_5, PLAIN_5])
    out = st.update("DELETE { ?s lbl ?o } WHERE { ?s age ?o }")
    assert default_rows(out) == sorted([TYPED_5, PLAIN_5])


@pytest.mark.xfail(
    strict=True, raises=AssertionError, reason="solutions join typed and plain literals"
)
@pytest.mark.parametrize("kind", KINDS)
def test_join_keeps_typed_and_plain_literals_apart(spark, kind):
    st = as_store(spark, kind, [TYPED_5, PLAIN_5])
    assert st.sparql("SELECT ?x ?y WHERE { ?x lbl ?v . ?y age ?v }").count() == 0


@pytest.mark.xfail(
    strict=True, raises=AssertionError, reason="modify deletes a ground literal by value"
)
@pytest.mark.parametrize("kind", KINDS)
def test_modify_delete_of_a_ground_literal_spares_the_iri(spark, kind):
    iri_5 = ("a", model.NAMED, "q", "5", model.NAMED, None, None)
    lit_5 = ("a", model.NAMED, "q", "5", model.LITERAL, None, None)
    gate = ("a", model.NAMED, "p", "b", model.NAMED, None, None)
    st = as_store(spark, kind, [iri_5, lit_5, gate])
    out = st.update('DELETE { a q "5" } WHERE { a p b }')
    assert default_rows(out) == sorted([iri_5, gate])


# Constants are whole terms from the parser to the plan: a literal, an IRI
# and a '$'-string with the same text are three terms.


@pytest.mark.parametrize("kind", KINDS)
def test_literal_constant_finds_the_plain_literal(spark, kind):
    st = as_store(spark, kind, [PLAIN_5])
    assert st.sparql('SELECT ?s WHERE { ?s lbl "5" }').collect() == [("s",)]


@pytest.mark.parametrize("kind", KINDS)
def test_literal_constant_spares_the_iri(spark, kind):
    st = as_store(spark, kind, [("a", model.NAMED, "knows", "5", model.NAMED, None, None)])
    assert st.sparql('SELECT ?s WHERE { ?s knows "5" }').count() == 0


@pytest.mark.parametrize("kind", KINDS)
def test_typed_literal_constant_parses(spark, kind):
    st = as_store(spark, kind, [TYPED_5])
    text = f'SELECT ?s WHERE {{ ?s age "5"^^<{XSD_INT}> }}'
    assert st.sparql(text).collect() == [("s",)]


@pytest.mark.parametrize("kind", KINDS)
def test_template_dollar_literal_is_inserted(spark, kind):
    st = as_store(spark, kind, [("a", model.NAMED, "p", "b", model.NAMED, None, None)])
    out = st.update('INSERT { a q "$x" } WHERE { a p b }')
    assert ("a", "q", "$x") in {(r[0], r[2], r[3]) for r in default_rows(out)}


# one stored row of every kind under the predicate v, all with the text "5"
FIVES = [
    ("s1", model.NAMED, "v", "5", model.NAMED, None, None),
    ("s2", model.NAMED, "v", "_:5", model.BLANK, None, None),
    ("s3", model.NAMED, "v", "5", model.LITERAL, None, None),
    ("s4", model.NAMED, "v", "5", model.LANG_LITERAL, "en", None),
    ("s5", model.NAMED, "v", "5", model.TYPED_LITERAL, None, XSD_INT),
]
FIVE_TEXTS = ["<5>", "_:5", '"5"', '"5"@en', '"5"^^xsd:integer']


@pytest.mark.parametrize("kind", KINDS)
def test_each_kind_of_constant_finds_exactly_its_row(spark, kind):
    st = as_store(spark, kind, FIVES)
    prologue = "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
    for text, row in zip(FIVE_TEXTS, FIVES):
        got = st.sparql(f"{prologue}SELECT ?s WHERE {{ ?s v {text} }}").collect()
        # a query blank node is a non-distinguished variable (§4.1.4)
        want = FIVES if row[4] == model.BLANK else [row]
        assert sorted(got) == [(r[0],) for r in want], text


@pytest.mark.parametrize("kind", KINDS)
def test_delete_where_literal_spares_the_other_kinds(spark, kind):
    st = as_store(spark, kind, FIVES)
    out = st.update('DELETE WHERE { ?s v "5" }')
    assert default_rows(out) == sorted(r for r in FIVES if r[0] != "s3")


@pytest.mark.parametrize("kind", KINDS)
def test_string_escapes_decode_like_the_ntriples_reader(spark, kind, tmp_path):
    nt = tmp_path / "tab.nt"
    nt.write_text('<s> <p> "x\\ty" .\n')
    ts = TripleStore.from_ntriples(spark, str(nt))
    assert rows(ts) == [("s", model.NAMED, "p", "x\ty", model.LITERAL, None, None)]
    st = ts if kind == "triples" else QuadStore.from_triplestores(spark, default=ts)
    assert st.sparql(r'SELECT ?s WHERE { ?s p "x\ty" }').collect() == [("s",)]
    assert st.sparql(r'SELECT ?s WHERE { ?s p ?o FILTER(?o = "x\ty") }').count() == 1
    assert default_rows(st.update(r'DELETE DATA { s p "x\ty" }')) == []


# Random terms of all five kinds, rendered as SPARQL text: each parses to the
# same Val in a SELECT pattern, an INSERT DATA block and a modify template.
_text = st.text(alphabet='ab 5$?"\\{}.@^\n\t', max_size=6)
_name = st.text(alphabet="abcxyz", min_size=1, max_size=4)
_IRI = "http://ex/"
_terms = st.one_of(
    _name.map(lambda n: (Val(_IRI + n), f"<{_IRI}{n}>")),
    _name.map(lambda n: (Val(_IRI + n), f"ex:{n}")),
    _name.map(lambda n: (Val("_:" + n, model.BLANK), f"_:{n}")),
    _text.map(lambda v: (Val(v, model.LITERAL), _quoted(v))),
    st.tuples(_text, _name).map(
        lambda t: (Val(t[0], model.LANG_LITERAL, lang=t[1]), f"{_quoted(t[0])}@{t[1]}")
    ),
    st.tuples(_text, _name, st.booleans()).map(
        lambda t: (
            Val(t[0], model.TYPED_LITERAL, datatype=_IRI + t[1]),
            _quoted(t[0]) + (f"^^ex:{t[1]}" if t[2] else f"^^<{_IRI}{t[1]}>"),
        )
    ),
)


def _quoted(value: str) -> str:
    for char, escape in (("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"), ("\t", "\\t")):
        value = value.replace(char, escape)
    return f'"{value}"'


@settings(max_examples=8, deadline=None)
@given(term=_terms)
@example(term=(Val("x\ty\n", model.LITERAL), '"x\\ty\\n"'))
def test_terms_round_trip_through_every_front_end_form(term):
    want, text = term
    prologue = f"PREFIX ex: <{_IRI}> "
    q = parse_sparql(f"{prologue}SELECT ?s WHERE {{ ?s ex:p {text} }}")
    in_pattern = Var(text) if want.kind == model.BLANK else want  # §4.1.4
    assert q.conds == [(Var("s"), Val(_IRI + "p"), in_pattern)]
    data = parse_update(f"{prologue}INSERT DATA {{ ex:s ex:p {text} . }}")
    assert data.rows == [
        (_IRI + "s", model.NAMED, _IRI + "p", want.value, want.kind, want.lang, want.datatype)
    ]
    m = parse_update(f"{prologue}DELETE {{ ?s ex:p {text} }} WHERE {{ ?s ex:p ?o }}")
    assert m.delete_template == [(Var("s"), Val(_IRI + "p"), want)]


# -- one evaluator: TripleStore and QuadStore agree -----------------------------

_SUBJECTS = [("a", model.NAMED), ("b", model.NAMED), ("_:b1", model.BLANK)]
_OBJECTS = [
    ("a", model.NAMED, None, None),
    ("c", model.NAMED, None, None),
    ("_:b1", model.BLANK, None, None),
    ("5", model.LITERAL, None, None),
    ("5", model.LANG_LITERAL, "en", None),
    ("5", model.TYPED_LITERAL, None, XSD_INT),
]
graphs_st = st.lists(
    st.tuples(
        st.sampled_from(_SUBJECTS),
        st.sampled_from(["p", "q"]),
        st.sampled_from(_OBJECTS),
    ).map(lambda t: (*t[0], t[1], *t[2])),
    min_size=1,
    max_size=6,
    unique=True,
)
_where_triple = st.tuples(
    st.sampled_from(["?x", "a", "b"]),
    st.sampled_from(["p", "q", "?p"]),
    st.sampled_from(["?y", "?x", "a", "c", '"5"']),
).map(" ".join)
_template_triple = st.tuples(
    st.sampled_from(["?x", "a"]),
    st.sampled_from(["p", "r", "?p"]),
    st.sampled_from(["?y", "c", '"5"', "?z"]),  # ?z is never bound
).map(" ".join)


@st.composite
def updates_st(draw):
    where = " . ".join(draw(st.lists(_where_triple, min_size=1, max_size=2)))
    if draw(st.booleans()):
        return f"DELETE WHERE {{ {where} }}"
    dels = draw(st.lists(_template_triple, max_size=2))
    ins = draw(st.lists(_template_triple, min_size=0 if dels else 1, max_size=2))
    text = f"DELETE {{ {' . '.join(dels)} }} " if dels else ""
    text += f"INSERT {{ {' . '.join(ins)} }} " if ins else ""
    return text + f"WHERE {{ {where} }}"


def outcome(update, project):
    """The row set ``project(update())`` gives, or the QueryError it raises."""
    try:
        return set(map(tuple, project(update()).df.collect()))
    except QueryError as e:
        return ("QueryError", str(e))


PARITY = settings(
    max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
GROUND_HIT = [("a", model.NAMED, "p", "c", model.NAMED, None, None)]


@PARITY
@given(triples=graphs_st, text=updates_st())
@example(triples=GROUND_HIT, text="DELETE { a p c } INSERT { a r c } WHERE { a p c }")
@example(triples=GROUND_HIT, text="INSERT { a r c } WHERE { b p c }")
@example(triples=GROUND_HIT, text="DELETE { a p ?z } WHERE { b p c }")
@example(triples=GROUND_HIT, text="INSERT { ?x r ?z } WHERE { ?x p ?y }")
def test_triplestore_and_quadstore_default_graph_agree(spark, triples, text):
    ts = TripleStore.from_rows(spark, triples)
    qs = QuadStore.from_triplestores(spark, default=ts)
    assert outcome(lambda: ts.update(text), lambda s: s) == outcome(
        lambda: qs.update(text), QuadStore.default_graph
    )


@PARITY
@given(g1=graphs_st, g2=graphs_st, text=updates_st())
@example(g1=GROUND_HIT, g2=GROUND_HIT, text="DELETE { a p c } WHERE { a p c }")
def test_with_graph_update_matches_the_graph_alone(spark, g1, g2, text):
    ts1, ts2 = TripleStore.from_rows(spark, g1), TripleStore.from_rows(spark, g2)
    qs = QuadStore.from_triplestores(spark, named={"g:1": ts1, "g:2": ts2})
    want = outcome(lambda: ts1.update(text), lambda s: s)
    untouched = want if isinstance(want, tuple) else set(rows(ts2))
    scoped = lambda: qs.update(f"WITH <g:1> {text}")  # noqa: E731
    assert outcome(scoped, lambda s: s.graph("g:1")) == want
    assert outcome(scoped, lambda s: s.graph("g:2")) == untouched
