"""QuadStore dataset tier: GRAPH groups, FROM/FROM NAMED, graph-aware
SPARQL Update, graph management, and the N-Quads format (quadstore.py,
plans/graphs.py, plans/update.py quads mode, sources/nquads.py)."""

from __future__ import annotations

import copy
import functools
import os
import shutil
import tempfile

import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import DataFrame

from rippledb_spark import model
from rippledb_spark.errors import QueryError, SchemaError
from rippledb_spark.quadstore import QuadStore
from rippledb_spark.store import TripleStore

QUADS = [
    # default graph: geography
    (None, "n1", "in_region", "r1"),
    (None, "n2", "in_region", "r1"),
    (None, "n3", "in_region", "r2"),
    # graph g:cust — customer membership
    ("g:cust", "c1", "in_nation", "n1"),
    ("g:cust", "c2", "in_nation", "n1"),
    ("g:cust", "c3", "in_nation", "n3"),
    # graph g:supp — supplier membership
    ("g:supp", "s1", "in_nation", "n1"),
    ("g:supp", "s2", "in_nation", "n2"),
    # literal payload inside a named graph
    model.quad_row("g:cust", "c1", "has_name", "Customer One", o_kind=model.LITERAL),
]


@pytest.fixture(scope="module")
def qs(spark):
    return QuadStore.from_rows(spark, QUADS)


def rows(df, *cols):
    return sorted(
        tuple(r[c] for c in cols) for r in df.collect()
    )


# -- construction / access ---------------------------------------------------


def test_from_rows_shapes(spark):
    with pytest.raises(SchemaError):
        QuadStore.from_rows(spark, [("g", "s", "p")])
    qs2 = QuadStore.from_rows(spark, [("g", "s", "p", "o"), ("g", "s", "p", "o")])
    assert qs2.df.count() == 1  # set semantics on the quad identity


def test_graph_access(qs):
    assert qs.default_graph().df.count() == 3
    assert qs.graph("g:cust").df.count() == 4
    assert rows(qs.graph_names(), "g") == [("g:cust",), ("g:supp",)]


def test_from_triplestores_roundtrip(spark, qs):
    rebuilt = QuadStore.from_triplestores(
        spark,
        default=qs.default_graph(),
        named={"g:cust": qs.graph("g:cust"), "g:supp": qs.graph("g:supp")},
    )
    key = lambda t: tuple("" if v is None else v for v in t)  # noqa: E731
    assert sorted(map(tuple, rebuilt.df.collect()), key=key) == sorted(
        map(tuple, qs.df.collect()), key=key
    )


def test_stats_per_graph(qs):
    st = {r["g"]: r["n_quads"] for r in qs.stats().collect()}
    assert st == {None: 3, "g:cust": 4, "g:supp": 2}


# -- GRAPH patterns ----------------------------------------------------------


def test_graph_iri_scope(qs):
    df = qs.sparql("SELECT ?m ?n WHERE { GRAPH <g:supp> { ?m in_nation ?n } }")
    assert rows(df, "m", "n") == [("s1", "n1"), ("s2", "n2")]


def test_graph_var_binds_graph(qs):
    df = qs.sparql("SELECT ?g ?m WHERE { GRAPH ?g { ?m in_nation n1 } }")
    assert rows(df, "g", "m") == [
        ("g:cust", "c1"),
        ("g:cust", "c2"),
        ("g:supp", "s1"),
    ]


def test_graph_join_with_default(qs):
    # cross-graph join: named-graph members × default-graph geography
    df = qs.sparql(
        "SELECT ?g ?m ?r WHERE { ?n in_region ?r . GRAPH ?g { ?m in_nation ?n } }"
    )
    assert ("g:cust", "c3", "r2") in set(map(tuple, df.collect()))
    assert df.count() == 5  # every member row joins its nation's region


def test_graph_var_aggregate(qs):
    df = qs.sparql(
        "SELECT ?g (COUNT(?m) AS ?cnt) WHERE { GRAPH ?g { ?m in_nation ?n } } "
        "GROUP BY ?g ORDER BY ?g"
    )
    assert rows(df, "g", "cnt") == [("g:cust", 3), ("g:supp", 2)]


def test_graph_group_filter(qs):
    df = qs.sparql(
        'SELECT ?m WHERE { GRAPH ?g { ?m in_nation ?n FILTER(?n != "n1") } }'
    )
    assert rows(df, "m") == [("c3",), ("s2",)]


def test_graph_iri_with_path(qs, spark):
    # paths are allowed under GRAPH <iri> (scope reduces to a filter)
    qs2 = qs.update("INSERT DATA { GRAPH <g:chain> { a next b . b next c } }")
    df = qs2.sparql("SELECT ?x WHERE { GRAPH <g:chain> { a next+ ?x } }")
    assert rows(df, "x") == [("b",), ("c",)]


def test_graph_var_with_path(qs):
    # per-graph closures: one fixpoint over the graph-tagged node space
    qs2 = qs.update(
        "INSERT DATA { GRAPH <g:c1> { a next b . b next c } "
        "GRAPH <g:c2> { a next x . x next a } }"
    )
    df = qs2.sparql("SELECT ?g ?x WHERE { GRAPH ?g { a next+ ?x } }")
    assert rows(df, "g", "x") == [
        ("g:c1", "b"),
        ("g:c1", "c"),
        ("g:c2", "a"),  # the g:c2 cycle reaches back to a; g:c1 must not
        ("g:c2", "x"),
    ]
    # bound object: reverse-seeded per graph
    df = qs2.sparql("SELECT ?g ?s WHERE { GRAPH ?g { ?s next+ a } }")
    assert rows(df, "g", "s") == [("g:c2", "a"), ("g:c2", "x")]
    # ground both ends: the graph variable is the answer
    df = qs2.sparql("SELECT ?g WHERE { GRAPH ?g { a next+ c } }")
    assert rows(df, "g") == [("g:c1",)]
    # path + triple pattern share the graph variable in one group
    df = qs2.sparql("SELECT ?g ?x WHERE { GRAPH ?g { a next ?m . ?m next+ ?x } }")
    assert ("g:c1", "c") in set(map(tuple, df.collect()))


def test_default_graph_does_not_leak_named(qs):
    # plain patterns match the DEFAULT graph only (spec §13.3)
    df = qs.sparql("SELECT ?m WHERE { ?m in_nation ?n }")
    assert df.count() == 0


def test_plain_store_refuses_graph_groups(qs):
    with pytest.raises(QueryError):
        qs.default_graph().sparql("SELECT ?m WHERE { GRAPH ?g { ?m in_nation ?n } }")


def test_ground_modify_gates_on_where(qs):
    # WHERE is ground and does NOT match → the whole modify is a no-op
    same = qs.update(
        "WITH <g:cust> DELETE { c1 in_nation n1 } WHERE { nope in_nation n1 }"
    )
    assert same.graph("g:cust").df.count() == qs.graph("g:cust").df.count()
    # matching ground WHERE → the delete applies
    gone = qs.update(
        "WITH <g:cust> DELETE { c1 in_nation n1 } WHERE { c2 in_nation n1 }"
    )
    assert gone.graph("g:cust").df.count() == qs.graph("g:cust").df.count() - 1
    # same gate for the quad-pattern form
    same2 = qs.update(
        "DELETE { GRAPH <g:cust> { c1 in_nation n1 } } "
        "WHERE { GRAPH <g:supp> { nope in_nation n1 } }"
    )
    assert same2.graph("g:cust").df.count() == qs.graph("g:cust").df.count()


def test_modify_validation_errors(qs):
    with pytest.raises(QueryError, match="not bound"):
        qs.update("WITH <g:cust> DELETE { ?x in_nation n1 } WHERE { ?m in_nation n1 }")
    with pytest.raises(QueryError, match="not bound"):
        qs.update(
            "DELETE { GRAPH ?h { ?m in_nation n1 } } "
            "WHERE { GRAPH <g:cust> { ?m in_nation n1 } }"
        )


def test_using_empties_named_set(qs):
    # USING replaces the dataset (like FROM): GRAPH ?g then matches nothing
    out = qs.update(
        "INSERT { ?m tagged ?g } USING <g:supp> WHERE { GRAPH ?g { ?m in_nation ?n } }"
    )
    assert out.df.count() == qs.df.count()


def test_ask_ground_graph_semantics(qs):
    # ground path inside GRAPH <iri> gates (not silently dropped)
    qs2 = qs.update("INSERT DATA { GRAPH <g:chain2> { a next b . b next c } }")
    assert qs2.sparql("ASK { GRAPH <g:chain2> { a next+ c } }").count() == 1
    assert qs2.sparql("ASK { GRAPH <g:chain2> { c next+ a } }").count() == 0
    # a failing ground default-graph path is not ignored beside GRAPH gates
    assert qs2.sparql(
        "ASK { nope next+ c . GRAPH <g:chain2> { a next b } }"
    ).count() == 0
    # plain TripleStore refuses ground ASK with GRAPH scopes loudly
    with pytest.raises(QueryError):
        qs2.default_graph().sparql("ASK { GRAPH <g:chain2> { a next b } }")


def test_ground_group_constant_filters_gate(qs):
    # a constant-false FILTER inside a ground GRAPH group fails the ASK
    assert qs.sparql(
        'ASK { GRAPH <g:supp> { s2 in_nation n2 . FILTER(1 = 2) } }'
    ).count() == 0
    assert qs.sparql(
        'ASK { GRAPH <g:supp> { s2 in_nation n2 . FILTER(2 = 2) } }'
    ).count() == 1
    # top-level constant filter beside a GRAPH gate
    assert qs.sparql(
        'ASK { n1 in_region r1 . FILTER(1 = 2) . GRAPH <g:supp> { s2 in_nation n2 } }'
    ).count() == 0
    # unbound-variable filter in a ground group refuses loudly
    with pytest.raises(QueryError, match="unbound"):
        qs.sparql('ASK { GRAPH <g:supp> { s2 in_nation n2 . FILTER(?z = 1) } }')


@pytest.mark.parametrize("kind", ["triples", "quads"])
def test_ground_ask_constant_filter(spark, kind):
    # a constant FILTER in a ground ASK is a gate of its own, on both stores
    ts = TripleStore.from_rows(spark, [("a", "p", "b")])
    st = ts if kind == "triples" else QuadStore.from_triplestores(spark, default=ts)
    assert rows(st.sparql("ASK { a p b FILTER(1 = 1) }"), "ask") == [(True,)]
    assert st.sparql("ASK { a p b FILTER(1 = 2) }").count() == 0
    assert st.sparql("ASK { a p c FILTER(1 = 1) }").count() == 0
    with pytest.raises(QueryError, match="FILTER references unbound variables"):
        st.sparql("ASK { a p b FILTER(?z = 1) }")


def test_template_validation_precedes_ground_gate(qs):
    # the unbound template variable errors even when the ground WHERE
    # does not match (a static error must not be data-dependent)
    with pytest.raises(QueryError, match="not bound"):
        qs.update(
            "DELETE { GRAPH <g:cust> { ?x in_nation n1 } } "
            "WHERE { GRAPH <g:cust> { nope in_nation n1 } }"
        )
    with pytest.raises(QueryError, match="not bound"):
        qs.update("WITH <g:cust> DELETE { ?x in_nation n1 } WHERE { nope in_nation n1 }")


def test_builder_graph_rejects_unsupported(spark):
    from rippledb_spark.plans.sparql import Sparql

    g = Sparql()
    g.filter([["$s", "p", "$o"]])
    g.minus([["$s", "bad", "$o"]])
    with pytest.raises(QueryError, match="triple, path, and FILTER"):
        Sparql().graph("g:x", g)


def test_ask_with_graph(qs):
    assert qs.sparql("ASK { GRAPH <g:supp> { s2 in_nation n2 } }").count() == 1
    assert qs.sparql("ASK { GRAPH <g:supp> { s2 in_nation n9 } }").count() == 0
    assert qs.sparql("ASK { GRAPH ?g { ?m in_nation n2 } }").count() == 1


def test_optional_graph_group(qs, spark):
    # OPTIONAL { GRAPH ... }: unmatched default-graph rows NULL-extend
    qs2 = qs.insert([(None, "n9", "in_region", "r1")])
    df = qs2.sparql(
        "SELECT ?n ?m WHERE { ?n in_region ?r . "
        "OPTIONAL { GRAPH <g:cust> { ?m in_nation ?n } } }"
    )
    got = rows(df, "n", "m")
    assert ("n9", None) in got and ("n1", "c1") in got and ("n1", "c2") in got


def test_exists_and_minus_graph_groups(qs, spark):
    qs2 = qs.insert([(None, "n9", "in_region", "r1")])
    has = qs2.sparql(
        "SELECT ?n WHERE { ?n in_region ?r . "
        "FILTER EXISTS { GRAPH ?g { ?m in_nation ?n } } }"
    )
    assert rows(has, "n") == [("n1",), ("n2",), ("n3",)]
    without = qs2.sparql(
        "SELECT ?n WHERE { ?n in_region ?r . "
        "FILTER NOT EXISTS { GRAPH ?g { ?m in_nation ?n } } }"
    )
    assert rows(without, "n") == [("n9",)]
    minus = qs2.sparql(
        "SELECT ?n WHERE { ?n in_region ?r . MINUS { GRAPH ?g { ?m in_nation ?n } } }"
    )
    assert rows(minus, "n") == [("n9",)]


def test_union_with_graph_arms(qs):
    df = qs.sparql(
        "SELECT ?m WHERE { "
        "{ GRAPH <g:cust> { ?m in_nation n1 } } UNION "
        "{ GRAPH <g:supp> { ?m in_nation ?n } } }"
    )
    assert rows(df, "m") == [("c1",), ("c2",), ("s1",), ("s2",)]


def test_construct_over_dataset(qs):
    # WHERE spans graphs; the template materializes one plain RDF graph
    df = qs.sparql(
        "CONSTRUCT { ?m member_of ?r } WHERE { "
        "  ?n in_region ?r . GRAPH ?g { ?m in_nation ?n } }"
    )
    assert df.count() == 5
    got = sorted((r["s"], r["o_value"]) for r in df.collect())
    assert ("c3", "r2") in got and ("s2", "r1") in got
    assert set(r["p"] for r in df.collect()) == {"member_of"}


def test_describe_var_with_graph_group(qs):
    # bindings come from a named graph; the CBD reads the default graph
    df = qs.sparql(
        "DESCRIBE ?n WHERE { GRAPH <g:supp> { ?m in_nation ?n } }"
    )
    assert rows(df, "s", "o_value") == [("n1", "r1"), ("n2", "r1")]


# -- FROM / FROM NAMED -------------------------------------------------------


def test_from_merges_default(qs):
    df = qs.sparql(
        "SELECT ?m ?n FROM <g:cust> FROM <g:supp> WHERE { ?m in_nation ?n }"
    )
    assert df.count() == 5


def test_from_replaces_default(qs):
    # FROM replaces the dataset: the store's own default graph is gone
    df = qs.sparql("SELECT ?n ?r FROM <g:cust> WHERE { ?n in_region ?r }")
    assert df.count() == 0


def test_from_named_restricts_graphs(qs):
    df = qs.sparql(
        "SELECT ?g ?m FROM NAMED <g:supp> WHERE { GRAPH ?g { ?m in_nation ?n } }"
    )
    assert rows(df, "g", "m") == [("g:supp", "s1"), ("g:supp", "s2")]
    # FROM alone empties the named-graph side
    df2 = qs.sparql(
        "SELECT ?g ?m FROM <g:cust> WHERE { GRAPH ?g { ?m in_nation ?n } }"
    )
    assert df2.count() == 0


# -- updates -----------------------------------------------------------------


def test_insert_delete_data_graph_blocks(qs):
    qs2 = qs.update(
        "INSERT DATA { x p y . GRAPH <g:new> { a q b . c q d } }"
    )
    assert qs2.default_graph().df.count() == 4
    assert qs2.graph("g:new").df.count() == 2
    qs3 = qs2.update("DELETE DATA { GRAPH <g:new> { a q b } }")
    assert qs3.graph("g:new").df.count() == 1


def test_with_modify_scopes_graph(qs):
    qs2 = qs.update(
        "WITH <g:cust> DELETE { ?m in_nation n1 } WHERE { ?m in_nation n1 }"
    )
    assert rows(qs2.graph("g:cust").df, "s", "p") == [
        ("c1", "has_name"),
        ("c3", "in_nation"),
    ]
    # the supplier graph's n1 rows are untouched
    assert qs2.graph("g:supp").df.count() == 2


def test_using_overrides_where_graph(qs):
    # read WHERE bindings from g:supp, write into the default graph
    qs2 = qs.update(
        "INSERT { ?m supplier_in ?n } USING <g:supp> WHERE { ?m in_nation ?n }"
    )
    df = qs2.default_graph().sparql("SELECT ?m ?n WHERE { ?m supplier_in ?n }")
    assert rows(df, "m", "n") == [("s1", "n1"), ("s2", "n2")]


def test_clear_drop_scopes(qs):
    assert qs.update("CLEAR GRAPH <g:cust>").graph("g:cust").df.count() == 0
    assert qs.update("CLEAR DEFAULT").default_graph().df.count() == 0
    left = qs.update("DROP NAMED")
    assert left.df.count() == 3 and left.graph_names().count() == 0
    assert qs.update("CLEAR ALL").df.count() == 0
    assert qs.update("CREATE GRAPH <g:zzz>").df.count() == qs.df.count()


def test_move_copy_add(qs):
    moved = qs.update("MOVE GRAPH <g:supp> TO GRAPH <g:cust>")
    assert moved.graph("g:supp").df.count() == 0
    assert moved.graph("g:cust").df.count() == 2  # dst overwritten by src
    copied = qs.update("COPY GRAPH <g:supp> TO GRAPH <g:cust>")
    assert copied.graph("g:supp").df.count() == 2
    assert copied.graph("g:cust").df.count() == 2
    added = qs.update("ADD GRAPH <g:supp> TO GRAPH <g:cust>")
    assert added.graph("g:cust").df.count() == 6
    # DEFAULT operand form
    to_def = qs.update("ADD GRAPH <g:supp> TO DEFAULT")
    assert to_def.default_graph().df.count() == 5


def test_quad_modify_templates(qs):
    # template GRAPH variable bound from the WHERE's GRAPH ?g
    audit = qs.update(
        "INSERT { GRAPH <g:audit> { ?m was_in ?g } } "
        "WHERE { GRAPH ?g { ?m in_nation ?n } }"
    )
    assert rows(audit.graph("g:audit").df, "s", "o_value") == [
        ("c1", "g:cust"),
        ("c2", "g:cust"),
        ("c3", "g:cust"),
        ("s1", "g:supp"),
        ("s2", "g:supp"),
    ]
    # DELETE+INSERT across graphs keyed off a default-graph pattern
    moved = qs.update(
        "DELETE { GRAPH <g:cust> { ?m in_nation ?n } } "
        "INSERT { GRAPH <g:former> { ?m in_nation ?n } } "
        "WHERE { ?n in_region r1 . GRAPH <g:cust> { ?m in_nation ?n } }"
    )
    assert rows(moved.graph("g:former").df, "s") == [("c1",), ("c2",)]
    assert rows(moved.graph("g:cust").df, "s", "p") == [
        ("c1", "has_name"),
        ("c3", "in_nation"),  # n3 is in r2 — untouched
    ]


def test_delete_where_quad_pattern(qs):
    left = qs.update("DELETE WHERE { GRAPH ?g { ?m in_nation n1 } }")
    assert left.graph("g:cust").df.count() == 2  # c3 (n3) + the literal row
    assert left.graph("g:supp").df.count() == 1  # s2 (n2)
    assert left.default_graph().df.count() == 3  # default untouched


def test_with_where_chain_materialises_each_snapshot(qs):
    """Scoped WHERE-form updates return materialised snapshots, like
    TripleStore.update: the depth-3 plan is one in-memory relation."""
    default = [("", "n1", "in_region", "r1"), ("", "n2", "in_region", "r1"),
               ("", "n3", "in_region", "r2")]
    chain = [
        ("WITH <g:cust> DELETE WHERE { c1 ?p ?o }",
         [("g:cust", "c2", "in_nation", "n1"), ("g:cust", "c3", "in_nation", "n3"),
          ("g:supp", "s1", "in_nation", "n1"), ("g:supp", "s2", "in_nation", "n2")]),
        ("WITH <g:cust> DELETE { ?m in_nation n3 } INSERT { ?m moved_to n3 } "
         "WHERE { ?m in_nation n3 }",
         [("g:cust", "c2", "in_nation", "n1"), ("g:cust", "c3", "moved_to", "n3"),
          ("g:supp", "s1", "in_nation", "n1"), ("g:supp", "s2", "in_nation", "n2")]),
        ("WITH <g:supp> DELETE WHERE { ?m in_nation n1 }",
         [("g:cust", "c2", "in_nation", "n1"), ("g:cust", "c3", "moved_to", "n3"),
          ("g:supp", "s2", "in_nation", "n2")]),
    ]
    st, leaves = qs, []
    for text, named in chain:
        st = st.update(text)
        got = sorted((r["g"] or "", r["s"], r["p"], r["o_value"]) for r in st.df.collect())
        assert got == sorted(default + named), text
        plan = st.df._jdf.queryExecution().optimizedPlan().collectLeaves()
        leaves.append([plan.apply(i).nodeName() for i in range(plan.size())])
    assert leaves[0] == leaves[-1] == ["LogicalRDD"]


def test_load_into_graph(qs, tmp_path):
    nt = tmp_path / "inc.nt"
    nt.write_text("<u:a> <u:p> <u:b> .\n<u:a> <u:p> \"lit\" .\n")
    qs2 = qs.update(f"LOAD <file://{nt}> INTO GRAPH <g:inc>")
    assert qs2.graph("g:inc").df.count() == 2
    qs3 = qs.update(f"LOAD <{nt}>")
    assert qs3.default_graph().df.count() == 5


def test_triplestore_update_still_single_graph(spark):
    ts = TripleStore.from_rows(spark, [("a", "p", "b")])
    with pytest.raises(QueryError):
        ts.update("INSERT DATA { GRAPH <g> { a p b } }")
    with pytest.raises(QueryError):
        ts.update("CLEAR ALL")
    with pytest.raises(QueryError):
        ts.update("WITH <g> DELETE { ?s p ?o } WHERE { ?s p ?o }")


def test_quad_insert_remove_set_semantics(qs):
    grown = qs.insert([("g:cust", "c1", "in_nation", "n1")])  # already present
    assert grown.df.count() == qs.df.count()
    shrunk = qs.remove([(None, "n1", "in_region", "r1")])
    assert shrunk.df.count() == qs.df.count() - 1
    noop = qs.remove([("g:nope", "x", "y", "z")])
    assert noop.df.count() == qs.df.count()


def test_set_algebra_and_sql_view(spark, qs):
    other = QuadStore.from_rows(
        spark,
        [("g:cust", "c1", "in_nation", "n1"), ("g:new", "z", "p", "w")],
    )
    assert qs.union(other).df.count() == qs.df.count() + 1
    assert qs.intersect(other).df.count() == 1
    assert qs.difference(other).df.count() == qs.df.count() - 1
    qs.create_view("quads_v")
    n = spark.sql(
        "SELECT COUNT(*) AS n FROM quads_v WHERE g = 'g:cust'"
    ).collect()[0]["n"]
    assert n == 4


def test_quad_format_roundrobin(spark, qs, tmp_path):
    # dataset survives nquads -> trig -> parquet unchanged
    p1, p2, p3 = (str(tmp_path / n) for n in ("a_nq", "b_trig", "c_parq"))
    qs.write_nquads(p1)
    ds1 = QuadStore.from_nquads(spark, p1)
    ds1.write_trig(p2)
    ds2 = QuadStore.from_trig(spark, p2)
    ds2.persist_to(p3)
    ds3 = QuadStore.from_backup(spark, p3)
    key = lambda t: tuple("" if v is None else v for v in t)  # noqa: E731
    assert sorted(map(tuple, ds3.df.collect()), key=key) == sorted(
        map(tuple, qs.df.collect()), key=key
    )


# -- N-Quads -----------------------------------------------------------------


def test_nquads_roundtrip(spark, qs, tmp_path):
    extra = qs.insert(
        [
            model.quad_row(
                "g:lit", "d1", "label", 'esc "q"\t\n\\', o_kind=model.LITERAL
            ),
            model.quad_row(
                "g:lit", "d1", "label", "bonjour", o_kind=model.LANG_LITERAL, o_lang="fr"
            ),
            model.quad_row(
                None, "d2", "age", "7", o_kind=model.TYPED_LITERAL,
                o_datatype="http://www.w3.org/2001/XMLSchema#integer",
            ),
            model.quad_row("g:b", "_:x", "p", "_:y", s_kind=model.BLANK, o_kind=model.BLANK),
        ]
    )
    path = os.path.join(tmp_path, "ds.nq")
    extra.write_nquads(path)
    back = QuadStore.from_nquads(spark, path)
    key = lambda t: tuple("" if v is None else v for v in t)  # noqa: E731
    assert sorted(map(tuple, back.df.collect()), key=key) == sorted(
        map(tuple, extra.df.collect()), key=key
    )


def test_nquads_default_graph_lines_are_triples(spark, qs, tmp_path):
    path = os.path.join(tmp_path, "ds2.nq")
    qs.write_nquads(path)
    lines = [
        ln
        for f in os.listdir(path)
        if f.startswith("part-")
        for ln in open(os.path.join(path, f)).read().splitlines()
        if ln.strip()
    ]
    assert len(lines) == qs.df.count()
    three_term = [ln for ln in lines if ln.count(" ") == 3]
    assert len(three_term) == 3  # the default-graph rows


def test_trig_parse_forms(spark):
    from rippledb_spark.sources.trig import parse_trig

    doc = """
    @prefix ex: <http://ex.org/> .
    ex:n1 ex:in_region ex:r1 .
    GRAPH ex:gA { ex:c1 ex:in_nation ex:n1 ; ex:name "C1"@fr . }
    <http://ex.org/gB> { ex:s1 a ex:Supplier }
    { ex:n2 ex:in_region ex:r1 . }
    _:gc { ex:x ex:p 42 . }
    """
    quads = parse_trig(doc)
    by_graph: dict = {}
    for g, *_ in quads:
        by_graph[g] = by_graph.get(g, 0) + 1
    assert by_graph == {
        None: 2,
        "http://ex.org/gA": 2,
        "http://ex.org/gB": 1,
        "_:tgc": 1,
    }
    # the 'a' keyword expands inside blocks; typed numeric abbreviation kept
    assert any(p.endswith("22-rdf-syntax-ns#type") for _, _, _, p, *_ in quads)
    assert any(o == "42" and k == "typed_literal" for *_, o, k, _l, _d in quads)


def test_trig_errors(spark):
    from rippledb_spark.errors import RdfParseError
    from rippledb_spark.sources.trig import parse_trig

    with pytest.raises(RdfParseError):
        parse_trig("<g> { <a> <p> <b> ")  # unclosed block
    with pytest.raises(RdfParseError):
        parse_trig("<g> { <h> { <a> <p> <b> } }")  # nesting
    with pytest.raises(RdfParseError):
        parse_trig('<g> { @prefix ex: <http://e/> . }')  # directive in block


def test_trig_roundtrip(spark, qs, tmp_path):
    path = os.path.join(tmp_path, "ds.trig")
    qs.write_trig(path)
    back = QuadStore.from_trig(spark, path)
    key = lambda t: tuple("" if v is None else v for v in t)  # noqa: E731
    assert sorted(map(tuple, back.df.collect()), key=key) == sorted(
        map(tuple, qs.df.collect()), key=key
    )


def test_parser_error_surfaces(qs):
    with pytest.raises(QueryError):
        qs.sparql("SELECT ?m WHERE { GRAPH ?g { OPTIONAL { ?m p ?n } } }")
    with pytest.raises(QueryError):
        qs.sparql("SELECT ?m FROM ?g WHERE { ?m p ?n }")
    with pytest.raises(QueryError):
        qs.update("INSERT DATA { GRAPH ?g { a p b } }")
    with pytest.raises(QueryError):
        qs.update("MOVE GRAPH <g:a> TO NAMED")


def test_graph_var_as_path_end(qs):
    # the graph variable reused as a path END constrains subject == label
    # (same semantics as the triple-pattern form GRAPH ?g { ?g ?p ?o })
    qs2 = qs.update(
        "INSERT DATA { GRAPH <a> { a next b . b next c } "
        "GRAPH <g:z> { q next r } }"
    )
    df = qs2.sparql("SELECT ?g ?y WHERE { GRAPH ?g { ?g next+ ?y } }")
    assert rows(df, "g", "y") == [("a", "b"), ("a", "c")]
    # and as the object end
    df = qs2.sparql("SELECT ?g ?s WHERE { GRAPH ?g { ?s next+ ?g } }")
    assert rows(df, "g", "s") == []


def fields(q):
    """A Sparql's attributes, nested groups included, as comparable values."""
    from rippledb_spark.plans.sparql import Sparql

    if isinstance(q, Sparql):
        return {k: fields(v) for k, v in vars(q).items()}
    if isinstance(q, (list, tuple)):
        return type(q)(fields(v) for v in q)
    return q


def test_select_dataset_restores_query_on_lowering_error(qs):
    from rippledb_spark.plans.sparql import Sparql

    bad_inner = Sparql()
    bad_inner.filter([["c1", "in_nation", "n1"]])  # ground — binds nothing
    bad_opt = Sparql()
    bad_opt.graph("g:cust", bad_inner)
    bad_opt.filter_expr("?zz = 1")  # names a variable the group never binds

    outer = Sparql()
    outer.filter([["$n", "in_region", "$r"]])
    outer.graph("g:cust", [["$c", "in_nation", "$n"]])
    outer.optional_group(bad_opt)
    outer.select(["$n", "$r"])
    before = copy.deepcopy(outer)
    with pytest.raises(QueryError, match="not bound in the group"):
        qs.select_dataset(outer)
    # the failed evaluation must not leave planning state behind
    assert fields(outer) == fields(before)
    assert len(outer.optionals) == 1 and isinstance(outer.optionals[0], Sparql)
    # the object is still reusable once the bad group is removed
    outer.optionals = []
    before = copy.deepcopy(outer)
    got = rows(qs.select_dataset(outer), "n", "r")
    assert ("n1", "r1") in got
    assert fields(outer) == fields(before)


def test_graph_scope_prunes_graph_partitions(spark, qs, tmp_path_factory):
    """plans/graphs.py promises GRAPH <iri> is partition-prunable when the
    store is persisted partitioned by g — prove it: the scan's
    PartitionFilters carries the g-equality, so non-matching graph
    directories are never opened (receipt in docs/PLANS.md)."""
    path = str(tmp_path_factory.mktemp("quads") / "by_g")
    qs.persist_to(path, partition_by=("g",))
    restored = QuadStore.from_backup(spark, path)
    df = restored.graph("g:cust").df
    plan = df._jdf.queryExecution().executedPlan().toString()
    flat = plan.replace("#", "").replace("\n", " ")
    assert "PartitionFilters" in flat and "g:cust" in flat
    # the filter is a PARTITION filter, not a post-scan data filter
    assert "(g" in flat.split("PartitionFilters", 1)[1].split("]", 1)[0]
    assert df.count() == 4
    # default persistence stays p-partitioned (bounded fan-out)
    path_p = str(tmp_path_factory.mktemp("quads") / "by_p")
    qs.persist_to(path_p)
    plan_p = (
        QuadStore.from_backup(spark, path_p)
        .df.filter("p = 'in_nation'")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan_p and "in_nation" in plan_p


# -- one store core: TripleStore and QuadStore share _Store -------------------


def test_persist_writes_one_file_per_predicate_directory(spark, tmp_path):
    quads = [(None if i % 2 else "g:x", f"s{i}", f"p{i % 4}", f"o{i}") for i in range(400)]
    spread = QuadStore(spark, QuadStore.from_rows(spark, quads).df.repartition(8))
    per_part = spread.df.rdd.glom().map(lambda part: len({r.p for r in part})).collect()
    assert per_part == [4] * 8  # 8 partitions, each holding every predicate
    spread.persist_to(str(tmp_path / "q"))
    dirs = sorted((tmp_path / "q").glob("p=*"))
    assert [len(list(d.glob("*.parquet"))) for d in dirs] == [1] * 4
    assert QuadStore.from_backup(spark, str(tmp_path / "q")).df.count() == 400
    spread.persist_to(str(tmp_path / "flat"), partition_by=())  # no partition columns
    assert QuadStore.from_backup(spark, str(tmp_path / "flat")).df.count() == 400


XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
_SUBJ = [("a", model.NAMED), ("_:b1", model.BLANK)]
_OBJ = [
    ("5", model.NAMED, None, None),
    ("_:b1", model.BLANK, None, None),
    ("5", model.LITERAL, None, None),
    ("x\ty", model.LITERAL, None, None),
    ("5", model.LANG_LITERAL, "en", None),
    ("5", model.TYPED_LITERAL, None, XSD_INT),
]
triples_st = st.lists(
    st.tuples(st.sampled_from(_SUBJ), st.sampled_from(["p", "q"]), st.sampled_from(_OBJ))
    .map(lambda t: (*t[0], t[1], *t[2])),
    max_size=6,
    unique=True,
)
ALL_KINDS = [("a", model.NAMED, "q", *o) for o in _OBJ]
NOISE = [("a", model.NAMED, "q", "5", model.LITERAL, None, None)]


def core_frame(spark, base, tmp, a, b):
    """Every shared operation over rows ``a`` (the store) and ``b`` (the
    operand) on one scope, as one frame of result rows tagged with
    ``scope`` and ``op``: ``base`` is None for a TripleStore, "default"
    for a QuadStore's default graph, or a named graph's IRI (whose
    dataset also holds NOISE in its default graph)."""
    g = None if base in (None, "default") else base

    def make(triples):
        ts = TripleStore.from_rows(spark, triples)
        if base is None:
            return ts
        if g is None:
            return QuadStore.from_triplestores(spark, default=ts)
        noise = TripleStore.from_rows(spark, NOISE)
        return QuadStore.from_triplestores(spark, default=noise, named={g: ts})

    def lift_df(triples):
        df = spark.createDataFrame(triples, model.TRIPLES_SCHEMA)
        return df if base is None else df.withColumn("g", F.lit(g).cast("string"))

    def project(store):
        return store if base is None else store.graph(g) if g else store.default_graph()

    store, other = make(a), make(b)
    path = f"{tmp}/{str(base).replace(':', '_')}"
    store.persist_to(path)
    lifted = b if base is None else [(g, *t) for t in b]
    outs = {
        "insert_rows": store.insert(lifted),
        "insert_df": store.insert(lift_df(b)),
        "remove_rows": store.remove(lifted),
        "remove_df": store.remove(lift_df(b)),
        "remove_own": store.remove(store.df.filter(F.col("o_kind") == model.LITERAL)),
        "union": store.union(other),
        "intersect": store.intersect(other),
        "difference": store.difference(other),
        "persist": type(store).from_backup(spark, path),
    }
    tagged = [
        project(out).df.withColumn("op", F.lit(name)).withColumn("scope", F.lit(str(base)))
        for name, out in outs.items()
    ]
    return functools.reduce(DataFrame.unionByName, tagged)


# each example runs 27 store operations (about 15 s on 2 CPUs): a few
# random ones beside the pinned cases keep the suite's budget
@settings(max_examples=4, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(a=triples_st, b=triples_st)
@example(a=ALL_KINDS, b=NOISE)
@example(a=ALL_KINDS, b=ALL_KINDS[::2])
@example(a=[], b=ALL_KINDS)
def test_store_core_agrees_across_triples_default_and_named_graph(spark, a, b):
    A, B = set(a), set(b)
    want = {
        "insert_rows": A | B,
        "insert_df": A | B,
        "remove_rows": A - B,
        "remove_df": A - B,
        "remove_own": {t for t in A if t[4] != model.LITERAL},
        "union": A | B,
        "intersect": A & B,
        "difference": A - B,
        "persist": A,
    }
    scopes = [None, "default", "g:x"]
    tmp = tempfile.mkdtemp(prefix="store_core_")
    try:
        frames = [core_frame(spark, base, tmp, a, b) for base in scopes]
        got = {(str(base), op): set() for base in scopes for op in want}
        for r in functools.reduce(DataFrame.unionByName, frames).collect():
            got[r["scope"], r["op"]].add(tuple(r)[:-2])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for base in scopes:
        assert {op: got[str(base), op] for op in want} == want, base
