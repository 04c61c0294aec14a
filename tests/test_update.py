"""SPARQL 1.1 Update text forms (plans/update.py + TripleStore.update):
parser, all four forms, literal syntax, immutability, loud errors."""

from __future__ import annotations

import gc
import uuid

import pytest

from rippledb_spark import TripleStore
from rippledb_spark.errors import QueryError
from rippledb_spark.operators._itergc import release_iteration_garbage
from rippledb_spark.plans.update import (
    DeleteData,
    DeleteWhere,
    InsertData,
    Modify,
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
    assert m.delete_template == [["$x", "p", "$y"]]
    assert m.insert_template == [["$x", "q", "$y"]]


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
