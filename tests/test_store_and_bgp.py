"""TripleStore (S1, S5-S7, D1-D2, Q13) + BGP semantics (Q2-Q12).

Encodes the reference's fine-print behaviors (SURVEY §2.3) as assertions:
duplicate preservation, named-only value matching, first-pattern
projection, 8-way access-path equivalence, insert/remove value semantics.
"""

from __future__ import annotations

import pytest

from rippledb_spark import Sparql, TripleStore
from rippledb_spark.operators.triple_patterns import pattern_filter
from rippledb_spark.plans.sparql import Val

FIXTURE = [
    # (s, p, o) shorthand → named nodes; 7-tuples for literals
    ("person:alice", "rdf:type", "foaf:Person"),
    ("person:bob", "rdf:type", "foaf:Person"),
    ("person:carol", "rdf:type", "foaf:Person"),
    ("person:alice", "knows", "person:bob"),
    ("person:alice", "knows", "person:carol"),
    ("person:bob", "knows", "person:carol"),
    ("person:carol", "knows", "person:carol"),  # self-loop (graph.rs:605-608 case)
    ("person:alice", "attended", "conf:www2011"),
    ("person:bob", "attended", "conf:www2011"),
    ("person:alice", "named", "label", "literal-alice", "literal", None, None),
    ("person:bob", "named", "label", "literal-alice", "literal", None, None),
    # a value that exists ONLY as a literal — unreachable by bound query value
    ("person:dave", "named", "status", "F", "literal", None, None),
    # lonely predicate (single triple)
    ("person:dave", "solo_pred", "person:alice"),
]


@pytest.fixture(scope="module")
def store(spark):
    return TripleStore.from_rows(spark, FIXTURE)


# -- set semantics / DML ----------------------------------------------------


def test_set_semantics_idempotent_insert(spark, store):
    n = store.count()
    again = store.insert([("person:alice", "knows", "person:bob")])
    assert again.count() == n  # graph.rs:505-508: re-insert is a no-op


def test_insert_new_triple(spark, store):
    n = store.count()
    st2 = store.insert([("person:new", "knows", "person:alice")])
    assert st2.count() == n + 1
    assert store.count() == n  # snapshots are immutable


def test_remove_and_missing_remove_noop(spark, store):
    n = store.count()
    st2 = store.remove([("person:alice", "knows", "person:bob")])
    assert st2.count() == n - 1
    # removing a non-existent triple is a no-op (graph.rs:513-523)
    st3 = st2.remove([("nobody", "never", "nothing")])
    assert st3.count() == n - 1


def test_remove_literal_triple_requires_full_identity(spark, store):
    n = store.count()
    st2 = store.remove(
        [("person:dave", "named", "status", "F", "literal", None, None)]
    )
    assert st2.count() == n - 1


def test_persist_restore_roundtrip(spark, store, tmp_path):
    path = str(tmp_path / "backup")
    store.persist_to(path)
    restored = TripleStore.from_backup(spark, path)
    assert restored.count() == store.count()
    a = sorted(tuple(r) for r in store.df.collect())
    b = sorted(tuple(r) for r in restored.df.collect())
    assert a == b


def test_stats_per_predicate(spark, store):
    stats = {r["p"]: r["n_triples"] for r in store.stats().collect()}
    assert stats["knows"] == 4
    assert stats["solo_pred"] == 1


def test_iter_triples_streams_all(spark, store):
    assert sum(1 for _ in store.iter_triples()) == store.count()


# -- access paths (Q3-Q11): all 8 shapes ≡ declarative filter ---------------


@pytest.mark.parametrize(
    "s,p,o,expected",
    [
        ("person:alice", "knows", "person:bob", 1),  # spo point (Q4)
        (None, "knows", "person:carol", 3),  # _po (Q5)
        ("person:carol", None, "person:carol", 1),  # s_o (Q6)
        ("person:alice", "knows", None, 2),  # sp_ (Q7)
        (None, None, "person:carol", 4),  # __o (Q8): 3 knows + 1 rdf:type? no — knows×3 + solo? count below
        (None, "rdf:type", None, 3),  # _p_ (Q9)
        ("person:alice", None, None, 5),  # s__ (Q10)
        (None, None, None, len(FIXTURE)),  # ___ (Q11)
    ],
)
def test_access_path_counts(store, s, p, o, expected):
    if (s, p, o) == (None, None, "person:carol"):
        # knows: alice→carol, bob→carol, carol→carol = 3; no other object.
        expected = 3
    assert store.pattern(s, p, o).count() == expected


def test_bound_values_match_named_only(store):
    # 'F' exists only as a literal object → bound query value must NOT hit it
    assert store.pattern(None, None, "F").count() == 0
    # 'literal-alice' likewise
    assert store.pattern(None, "label", "literal-alice").count() == 0
    # but unbound object position returns literal rows
    assert store.pattern(None, "label", None).count() == 2


# -- get() semantics (Q2) ---------------------------------------------------


def test_get_single_pattern_projection(store):
    q = Sparql().select(["$who"]).filter([["$who", "attended", "conf:www2011"]])
    got = sorted(r["who"] for r in store.get(q).collect())
    assert got == ["person:alice", "person:bob"]


def test_get_conjunction_semi_join(store):
    q = (
        Sparql()
        .select(["$who"])
        .filter(
            [
                ["$who", "rdf:type", "foaf:Person"],
                ["$who", "attended", "conf:www2011"],
            ]
        )
    )
    got = sorted(r["who"] for r in store.get(q).collect())
    assert got == ["person:alice", "person:bob"]


def test_get_preserves_pattern0_duplicates(store):
    # pattern₀ = [$who knows $x] emits alice twice (two knows edges);
    # the semi-join must NOT dedup (graph.rs:389-402).
    q = (
        Sparql()
        .select(["$who"])
        .filter(
            [
                ["$who", "knows", "$x"],
                ["$who", "attended", "conf:www2011"],
            ]
        )
    )
    got = sorted(r["who"] for r in store.get(q).collect())
    assert got == ["person:alice", "person:alice", "person:bob"]


def test_get_second_pattern_eliminates_everything(store):
    q = (
        Sparql()
        .select(["$who"])
        .filter([["$who", "knows", "$x"], ["$who", "attended", "conf:nope"]])
    )
    assert store.get(q).count() == 0


def test_get_fully_bound_gate_pattern(store):
    # later pattern with no var: global EXISTS gate
    q = (
        Sparql()
        .select(["$who"])
        .filter(
            [
                ["$who", "attended", "conf:www2011"],
                ["person:carol", "knows", "person:carol"],
            ]
        )
    )
    assert store.get(q).count() == 2
    q2 = (
        Sparql()
        .select(["$who"])
        .filter(
            [
                ["$who", "attended", "conf:www2011"],
                ["person:carol", "knows", "person:alice"],  # false gate
            ]
        )
    )
    assert store.get(q2).count() == 0


def test_get_ask_style_zero_vars(store):
    hit = Sparql().filter([["person:alice", "knows", "person:bob"]])
    assert [tuple(r) for r in store.get(hit).collect()] == [(True,)]
    miss = Sparql().filter([["person:alice", "knows", "person:dave"]])
    assert store.get(miss).count() == 0


def test_get_no_conds_empty(store):
    assert store.get(Sparql().select(["$x"])).count() == 0


# -- select_join (multi-var superset) ---------------------------------------


def test_select_join_two_hop(store):
    q = (
        Sparql()
        .select(["$a", "$c"])
        .filter([["$a", "knows", "$b"], ["$b", "knows", "$c"]])
    )
    got = sorted((r["a"], r["c"]) for r in store.select_join(q).collect())
    # alice→bob→carol, alice→carol→carol, bob→carol→carol, carol→carol→carol
    assert got == [
        ("person:alice", "person:carol"),
        ("person:alice", "person:carol"),
        ("person:bob", "person:carol"),
        ("person:carol", "person:carol"),
    ]


def test_select_join_same_var_twice_in_pattern(store):
    q = Sparql().select(["$x"]).filter([["$x", "knows", "$x"]])
    got = [r["x"] for r in store.select_join(q).collect()]
    assert got == ["person:carol"]


def test_select_join_unbound_select_var_raises(store):
    q = Sparql().select(["$zzz"]).filter([["$a", "knows", "$b"]])
    with pytest.raises(ValueError):
        store.select_join(q)


def test_pattern_filter_equals_manual_filter(spark, store):
    import pyspark.sql.functions as F

    manual = store.df.filter(
        (F.col("p") == "knows") & (F.col("o_value") == "person:carol")
        & (F.col("o_kind") == "named")
    )
    auto = pattern_filter(store.df, None, Val("knows"), Val("person:carol"))
    assert sorted(map(tuple, manual.collect())) == sorted(map(tuple, auto.collect()))


def test_select_join_optimize_equivalence(store):
    # reordering is plan-only: optimized and literal-order answers match
    q = (
        Sparql()
        .select(["$a", "$c"])
        .filter([["$a", "knows", "$b"], ["$b", "knows", "$c"],
                 ["$a", "attended", "conf:www2011"]])
    )
    from rippledb_spark.plans import bgp

    opt = sorted(map(tuple, bgp.select_join(store.df, q, optimize=True).collect()))
    lit = sorted(map(tuple, bgp.select_join(store.df, q, optimize=False).collect()))
    assert opt == lit and len(opt) > 0


# -- graph set algebra / SQL view -------------------------------------------


def test_graph_set_algebra(spark):
    a = TripleStore.from_rows(spark, [("x", "p", "y"), ("x", "p", "z")])
    b = TripleStore.from_rows(spark, [("x", "p", "z"), ("w", "p", "x")])
    assert a.union(b).count() == 3
    assert a.intersect(b).count() == 1
    only_a = a.difference(b)
    assert [(r.s, r.o_value) for r in only_a.df.collect()] == [("x", "y")]
    # union is idempotent (set semantics)
    assert a.union(a).count() == a.count()


def test_sql_view_over_store(spark, store):
    store.create_view("t_view")
    n = spark.sql(
        "SELECT COUNT(*) AS n FROM t_view WHERE p = 'knows' AND o_kind = 'named'"
    ).collect()[0]["n"]
    assert n == 4


def test_versioned_persistence(spark, store, tmp_path):
    base = str(tmp_path / "versions")
    assert TripleStore.list_versions(base) == []
    v1 = store.persist_version(base)
    bigger = store.insert([("person:extra", "knows", "person:alice")])
    v2 = bigger.persist_version(base)
    assert (v1, v2) == (1, 2)
    assert TripleStore.list_versions(base) == [1, 2]
    # latest by default; explicit version addressable; history immutable
    assert TripleStore.from_version(spark, base).count() == bigger.count()
    assert TripleStore.from_version(spark, base, 1).count() == store.count()
    import pytest as _pytest
    from rippledb_spark.errors import SchemaError
    with _pytest.raises(SchemaError):
        TripleStore.from_version(spark, base, 99)


def test_persist_to_and_persist_version_write_one_layout(store, tmp_path):
    """One write path: the same predicate directories, each holding the
    same number of data files."""
    store.persist_to(str(tmp_path / "backup"))
    v = store.persist_version(str(tmp_path / "versions"))

    def layout(root):
        return {
            d.name: len(list(d.glob("part-*.parquet")))
            for d in root.iterdir()
            if d.is_dir()
        }

    backup = layout(tmp_path / "backup")
    assert len(backup) == store.df.select("p").distinct().count()
    assert layout(tmp_path / "versions" / f"v{v}") == backup


def test_persisted_slices_are_zstd_and_sorted_on_s_o(spark, tmp_path, snapshot_layout):
    """Both write paths store every column chunk zstd-compressed and each
    predicate slice's rows sorted on (s, o_value)."""
    rows = [(f"s{i % 7}", f"p{i % 3}", f"o{(i * 37) % 101:03d}") for i in range(120, 0, -1)]
    spread = TripleStore(spark, TripleStore.from_rows(spark, rows).df.repartition(4))
    spread.persist_to(str(tmp_path / "backup"))
    v = spread.persist_version(str(tmp_path / "versions"))
    for root in (tmp_path / "backup", tmp_path / "versions" / f"v{v}"):
        files = snapshot_layout(root, ["s", "o_value"])
        assert len(files) == 3
        assert all(codecs == {"ZSTD"} and in_order for codecs, in_order in files)
        assert TripleStore.from_backup(spark, str(root)).count() == spread.count()


# every term kind, in both positions a kind can take
OLD_LAYOUT_ROWS = [
    ("a", "named", "q", "b", "named", None, None),
    ("_:s", "blank", "q", "_:o", "blank", None, None),
    ("a", "named", "q", "5", "literal", None, None),
    ("a", "named", "r", "5", "lang_literal", "en", None),
    ("a", "named", "r", "5", "typed_literal", None, "http://www.w3.org/2001/XMLSchema#integer"),
    ("a", "named", "5", "5", "named", None, None),
]


def test_restore_reads_unsorted_snappy_snapshots(spark, tmp_path):
    """A snapshot written before the writer sorted and used zstd (plain
    partitionBy("p"), snappy, rows as they come) restores row for row
    through from_backup and from_version."""
    df = spark.createDataFrame(OLD_LAYOUT_ROWS, TripleStore.SCHEMA)
    for path in (tmp_path / "backup", tmp_path / "versions" / "v1"):
        df.write.partitionBy("p").option("compression", "snappy").parquet(str(path))
    want = sorted(OLD_LAYOUT_ROWS, key=repr)
    restored = [
        TripleStore.from_backup(spark, str(tmp_path / "backup")),
        TripleStore.from_version(spark, str(tmp_path / "versions")),
    ]
    for st in restored:
        assert sorted(map(tuple, st.df.collect()), key=repr) == want


def test_diff_versions_cdc_feed(spark, store, tmp_path):
    """r11: snapshot diff — the change feed between persisted versions,
    with null-safe identity (lang-tagged/typed literals carry NULLs)."""
    base = str(tmp_path / "vdiff")
    store.persist_version(base)
    v2 = (
        store.remove([("person:alice", "knows", "person:bob")])
        .insert([("person:new", "named", "label", "hi", "literal", "en", None)])
    )
    v2.persist_version(base)
    feed = TripleStore.diff_versions(spark, base, 1, 2)
    rows = {(r["op"], r["s"], r["o_value"]) for r in feed.collect()}
    assert ("delete", "person:alice", "person:bob") in rows
    assert ("insert", "person:new", "hi") in rows
    assert len(rows) == 2  # minimal feed: nothing else changed

    # applying the feed to v1 reproduces v2 EXACTLY (the incremental-
    # consumer safety property)
    v1 = TripleStore.from_version(spark, base, 1)
    applied = v1.apply_diff(feed)
    assert applied.diff(TripleStore.from_version(spark, base, 2)).count() == 0

    # identical snapshots → empty feed
    assert v2.diff(v2).count() == 0


def test_diff_null_columns_are_not_phantom_changes(spark):
    """A triple with NULL o_lang/o_datatype present in both snapshots
    must NOT appear in the feed (the null-safe join contract)."""
    rows = [("s1", "named", "p1", "lit", "literal", None, None)]
    a = TripleStore.from_rows(spark, rows)
    b = TripleStore.from_rows(spark, rows)
    assert a.diff(b).count() == 0
