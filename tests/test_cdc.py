"""CDC apply-changes / SCD2 (operators.cdc) + SPARQL solution modifiers."""

from __future__ import annotations

import pytest

from rippledb_spark import Sparql, TripleStore
from rippledb_spark.errors import QueryError
from rippledb_engine.operators.cdc import apply_changes, apply_changes_guarded, scd2


@pytest.fixture(scope="module")
def snapshot(spark):
    return spark.createDataFrame(
        [(1, "alice", 10.0), (2, "bob", 20.0), (3, "carol", 30.0)],
        ["id", "name", "balance"],
    )


def _changes(spark, rows):
    return spark.createDataFrame(rows, ["id", "name", "balance", "seq", "op"])


def test_apply_changes_latest_wins(spark, snapshot):
    ch = _changes(
        spark,
        [
            (2, "bob2", 21.0, 1, "update"),
            (2, "bob3", 22.0, 2, "update"),  # later seq wins
            (4, "dave", 40.0, 1, "insert"),
        ],
    )
    out = apply_changes(snapshot, ch, ["id"], ["seq"], "op")
    got = {r["id"]: (r["name"], r["balance"]) for r in out.collect()}
    assert got == {
        1: ("alice", 10.0),
        2: ("bob3", 22.0),
        3: ("carol", 30.0),
        4: ("dave", 40.0),
    }


def test_apply_changes_delete_and_reinsert(spark, snapshot):
    ch = _changes(
        spark,
        [
            (1, "x", 0.0, 5, "delete"),  # latest for key 1 → gone
            (3, "x", 0.0, 1, "delete"),
            (3, "carol2", 33.0, 2, "update"),  # delete superseded
        ],
    )
    out = apply_changes(snapshot, ch, ["id"], ["seq"], "op")
    got = {r["id"]: r["name"] for r in out.collect()}
    assert got == {2: "bob", 3: "carol2"}


def test_apply_changes_tiebreaker_total_order(spark, snapshot):
    ch = _changes(
        spark,
        [(2, "first", 1.0, 7, "update"), (2, "second", 2.0, 7, "update")],
    )
    # seq ties broken by the extra sequence column (balance here).
    out = apply_changes(snapshot, ch, ["id"], ["seq", "balance"], "op")
    assert {r["name"] for r in out.filter("id = 2").collect()} == {"second"}


def test_apply_changes_incremental_equals_refold(spark, snapshot):
    rows = [
        (1, "a1", 1.0, 1, "update"),
        (1, "a2", 2.0, 2, "update"),
        (2, "x", 0.0, 3, "delete"),
        (4, "d1", 4.0, 1, "insert"),
        (4, "x", 0.0, 2, "delete"),
        (4, "d2", 5.0, 3, "insert"),
    ]
    all_ch = _changes(spark, rows)
    one_shot = apply_changes(snapshot, all_ch, ["id"], ["seq"], "op")
    mid = apply_changes(
        snapshot, _changes(spark, [r for r in rows if r[3] <= 2]), ["id"], ["seq"], "op"
    )
    two_step = apply_changes(
        mid, _changes(spark, [r for r in rows if r[3] > 2]), ["id"], ["seq"], "op"
    )
    assert sorted(map(tuple, one_shot.collect())) == sorted(
        map(tuple, two_step.collect())
    )


def test_apply_changes_null_op_is_upsert_not_delete(spark, snapshot):
    """A NULL op must upsert (null-safe predicate) — the naive
    `op != 'delete'` filter evaluates to NULL and silently drops the row."""
    ch = spark.createDataFrame(
        [(2, "bob9", 29.0, 9, None)],
        "id long, name string, balance double, seq long, op string",
    )
    out = apply_changes(snapshot, ch, ["id"], ["seq"], "op")
    got = {r["id"]: r["name"] for r in out.collect()}
    assert got[2] == "bob9" and set(got) == {1, 2, 3}


def test_apply_changes_guarded_keeps_newer_stored_row(spark):
    """Cross-batch out-of-order: a straggler with a LOWER sequence than the
    stored row's must not overwrite it; an equal sequence re-applies
    idempotently; a higher one wins."""
    snap = spark.createDataFrame(
        [(1, "new", 1.0, 5), (2, "cur", 2.0, 5), (3, "old", 3.0, 5)],
        ["id", "name", "balance", "seq"],
    )
    ch = spark.createDataFrame(
        [
            (1, "stale", 0.0, 3, "update"),   # lower seq → discarded
            (2, "cur", 2.0, 5, "update"),     # equal seq → idempotent rewrite
            (3, "fresh", 9.0, 7, "update"),   # higher seq → wins
            (4, "late-del", 0.0, 2, "delete"),  # unseen key → delete of absent
        ],
        ["id", "name", "balance", "seq", "op"],
    )
    out = apply_changes_guarded(snap, ch, ["id"], ["seq"], "op")
    got = {r["id"]: (r["name"], r["seq"]) for r in out.collect()}
    assert got == {1: ("new", 5), 2: ("cur", 5), 3: ("fresh", 7)}


def test_apply_changes_guarded_delete_guarded_too(spark):
    """A stale delete (lower seq than stored) must not remove the key."""
    snap = spark.createDataFrame([(1, "keep", 1.0, 5)], ["id", "name", "balance", "seq"])
    ch = spark.createDataFrame(
        [(1, "x", 0.0, 2, "delete")], ["id", "name", "balance", "seq", "op"]
    )
    out = apply_changes_guarded(snap, ch, ["id"], ["seq"], "op")
    assert [r["name"] for r in out.collect()] == ["keep"]


def test_scd2_intervals_and_versions(spark):
    ch = spark.createDataFrame(
        [(1, 100.0, 10), (1, 110.0, 20), (1, 120.0, 30), (2, 50.0, 15)],
        ["id", "price", "seq"],
    )
    out = scd2(ch, ["id"], "seq").orderBy("id", "version").collect()
    assert [(r["id"], r["version"], r["valid_from"], r["valid_to"], r["is_current"])
            for r in out] == [
        (1, 1, 10, 20, False),
        (1, 2, 20, 30, False),
        (1, 3, 30, None, True),
        (2, 1, 15, None, True),
    ]


def test_scd2_asof_probe_unique(spark):
    import pyspark.sql.functions as F

    ch = spark.createDataFrame(
        [(1, 100.0, 10), (1, 110.0, 20), (1, 120.0, 30)], ["id", "price", "seq"]
    )
    hist = scd2(ch, ["id"], "seq")
    t = 25  # half-open [valid_from, valid_to) → exactly one row per key
    probe = hist.filter(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.lit(t) < F.col("valid_to")))
    )
    rows = probe.collect()
    assert len(rows) == 1 and rows[0]["price"] == 110.0


# -- SPARQL solution modifiers ---------------------------------------------

EDGES = [
    ("a", "knows", "b"),
    ("a", "knows", "b"),  # duplicate edge collapses in the set-semantics store
    ("a", "knows", "c"),
    ("b", "knows", "c"),
    ("c", "knows", "a"),
]


@pytest.fixture(scope="module")
def store(spark):
    return TripleStore.from_rows(spark, EDGES)


def test_modifiers_distinct_order_limit_offset(store):
    q = (
        Sparql()
        .select(["$s"])
        .filter([["$s", "knows", "$o"]])
        .distinct()
        .order_by(["-$s"])
        .limit(2, offset=1)
    )
    assert [r["s"] for r in store.select_join(q).collect()] == ["b", "a"]


def test_modifiers_distinct_on_projection_only(store):
    # a knows b and c → two solution rows, one distinct projected row.
    q = Sparql().select(["$s"]).filter([["$s", "knows", "$o"]]).distinct()
    rows = sorted(r["s"] for r in store.select_join(q).collect())
    assert rows == ["a", "b", "c"]


def test_modifiers_order_by_unselected_var_raises(store):
    q = (
        Sparql()
        .select(["$s"])
        .filter([["$s", "knows", "$o"]])
        .order_by(["$o"])
    )
    with pytest.raises(QueryError):
        store.select_join(q)


def test_get_raises_on_modifiers(store):
    q = Sparql().select(["$s"]).filter([["$s", "knows", "$o"]]).distinct()
    with pytest.raises(QueryError):
        store.get(q)
