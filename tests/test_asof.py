"""As-of join operator semantics on a hand-checkable fixture."""

from __future__ import annotations

from datetime import datetime

from rippledb_engine.operators.asof import asof_join


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def test_asof_backward_latest_wins(spark):
    left = spark.createDataFrame(
        [
            (1, 100, _ts("2024-01-01 10:30:00")),
            (2, 100, _ts("2024-01-01 11:30:00")),
            (3, 200, _ts("2024-01-01 10:00:00")),  # no prior right row
            (4, 100, _ts("2024-01-01 10:00:00")),  # exactly equal ts → match
        ],
        ["id", "key", "ts"],
    )
    right = spark.createDataFrame(
        [
            (100, _ts("2024-01-01 10:00:00"), "a"),
            (100, _ts("2024-01-01 11:00:00"), "b"),
            (200, _ts("2024-01-01 12:00:00"), "c"),  # after left row 3
        ],
        ["key", "ts", "val"],
    )
    out = {
        r["id"]: r["val_asof"]
        for r in asof_join(left, right, on="key", left_ts="ts", right_ts="ts").collect()
    }
    assert out[1] == "a"  # 10:30 sees 10:00
    assert out[2] == "b"  # 11:30 sees 11:00 (latest wins)
    assert out[3] is None  # nothing at or before 10:00 for key 200
    assert out[4] == "a"  # equal timestamps match (<= semantics)


def test_asof_matched_row_nulls_stay_null(spark):
    """A NULL column in the MATCHED right row must come back NULL — not be
    backfilled from an older right row (the per-column-last frankenstein)."""
    left = spark.createDataFrame(
        [(1, 100, _ts("2024-01-01 12:00:00"))], ["id", "key", "ts"]
    )
    right = spark.createDataFrame(
        [
            (100, _ts("2024-01-01 10:00:00"), "old-a", "old-b"),
            (100, _ts("2024-01-01 11:00:00"), None, "new-b"),  # the match
        ],
        ["key", "ts", "a", "b"],
    )
    row = asof_join(left, right, on="key", left_ts="ts", right_ts="ts").collect()[0]
    assert row["b_asof"] == "new-b"
    assert row["a_asof"] is None  # NOT "old-a"


def test_asof_preserves_left_rowcount(spark):
    left = spark.createDataFrame(
        [(i, i % 3, _ts("2024-01-01 10:00:00")) for i in range(30)],
        ["id", "key", "ts"],
    )
    right = spark.createDataFrame(
        [(0, _ts("2024-01-01 09:00:00"), 1.5)], ["key", "ts", "v"]
    )
    out = asof_join(left, right, on="key", left_ts="ts", right_ts="ts")
    assert out.count() == 30
    matched = out.filter(out.v_asof.isNotNull()).count()
    assert matched == 10  # only key 0 rows


def test_asof_tolerance_nulls_stale_matches(spark):
    """tolerance_seconds: a right row older than the gap must null out,
    an in-gap one must match, equal-ts still matches (gap 0)."""
    import pyspark.sql.functions as F

    from rippledb_engine.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "k", 100.0), (2, "k", 500.0), (3, "k", 1000.0)],
        ["lid", "k", "lts"],
    )
    right = spark.createDataFrame(
        [(10, "k", 100.0), (20, "k", 450.0)], ["rid", "k", "rts"]
    )
    out = {
        r["lid"]: r["rid_asof"]
        for r in asof_join(
            left, right, on="k", left_ts="lts", right_ts="rts",
            right_cols=["rid"], tolerance_seconds=60.0,
        ).collect()
    }
    assert out == {1: 10, 2: 20, 3: None}  # 1000-450=550 > 60 → stale


def test_asof_forward_direction(spark):
    """forward: earliest right at-or-after; equal ts matches; tolerance
    measures the forward gap."""
    from rippledb_engine.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "k", 100.0), (2, "k", 450.0), (3, "k", 2000.0)], ["lid", "k", "lts"]
    )
    right = spark.createDataFrame(
        [(10, "k", 100.0), (20, "k", 500.0)], ["rid", "k", "rts"]
    )
    out = {
        r["lid"]: r["rid_asof"]
        for r in asof_join(
            left, right, on="k", left_ts="lts", right_ts="rts",
            right_cols=["rid"], direction="forward",
        ).collect()
    }
    assert out == {1: 10, 2: 20, 3: None}  # equal-ts hit, next hit, nothing after

    out_tol = {
        r["lid"]: r["rid_asof"]
        for r in asof_join(
            left, right, on="k", left_ts="lts", right_ts="rts",
            right_cols=["rid"], direction="forward", tolerance_seconds=40.0,
        ).collect()
    }
    assert out_tol == {1: 10, 2: None, 3: None}  # 500-450=50 > 40 → stale


def test_asof_nearest_and_strict(spark):
    from rippledb_engine.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "k", 100.0), (2, "k", 490.0), (3, "k", 300.0)], ["lid", "k", "lts"]
    )
    right = spark.createDataFrame(
        [(10, "k", 100.0), (20, "k", 500.0)], ["rid", "k", "rts"]
    )

    def run(**kw):
        return {
            r["lid"]: r["rid_asof"]
            for r in asof_join(
                left, right, on="k", left_ts="lts", right_ts="rts",
                right_cols=["rid"], **kw,
            ).collect()
        }

    # nearest: 490 is 10 from 500 vs 390 from 100 → forward wins;
    # 300 ties at 200 both ways → backward preferred
    assert run(direction="nearest") == {1: 10, 2: 20, 3: 10}
    # strict (<): the equal-ts right row at 100 is invisible backward
    assert run(allow_exact_matches=False) == {1: None, 2: 10, 3: 10}
    # strict forward (>): lid 1 skips rid 10, takes the next one
    assert run(direction="forward", allow_exact_matches=False) == {
        1: 20, 2: 20, 3: 20,
    }
    # nearest + tolerance: only gaps <= 50 survive
    assert run(direction="nearest", tolerance_seconds=50.0) == {
        1: 10, 2: 20, 3: None,
    }


def test_asof_composite_keys(spark):
    """on=[...] (merge_asof by=[...]): matches partition on the composite
    key — same-key1 rows with different key2 never match."""
    from rippledb_engine.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "a", "x", 100.0), (2, "a", "y", 100.0)], ["lid", "k1", "k2", "lts"]
    )
    right = spark.createDataFrame(
        [(10, "a", "x", 50.0), (20, "a", "z", 40.0)], ["rid", "k1", "k2", "rts"]
    )
    out = {
        r["lid"]: r["rid_asof"]
        for r in asof_join(
            left, right, on=["k1", "k2"], left_ts="lts", right_ts="rts",
            right_cols=["rid"],
        ).collect()
    }
    assert out == {1: 10, 2: None}
