"""CheckpointRotator bookkeeping (operators/_itergc.py, r14): the
deterministic release path must free exactly the superseded blocks —
never the live iterate, never blocks persisted before the rotator
existed — and close() must free pre-loop scratch while keeping the
final result usable."""

from __future__ import annotations

import pyspark.sql.functions as F

from rippledb_engine.operators._itergc import (
    PINNED_RDD_IDS,
    CheckpointRotator,
    persistent_rdd_ids,
    pin_persisted,
    unpersist_rdd_ids,
)


def test_rotate_frees_previous_iterate_only(spark):
    pre = spark.range(10).localCheckpoint(eager=True)  # foreign block
    base = persistent_rdd_ids(spark)
    rot = CheckpointRotator(spark)
    cur = spark.range(5).select(F.col("id").alias("v"))
    seen = []
    for i in range(4):
        cur = rot.rotate(cur.select((F.col("v") + 1).alias("v")))
        now = persistent_rdd_ids(spark)
        # foreign block untouched; at most ONE of my iterates persisted
        assert base <= now
        seen.append(len(now - base))
    assert all(n == 1 for n in seen), seen
    rot.close()
    # final iterate still usable after close
    assert cur.agg(F.sum("v")).collect()[0][0] == 5 * 4 + sum(range(5))
    assert len(persistent_rdd_ids(spark) - base) == 1
    unpersist_rdd_ids(spark, persistent_rdd_ids(spark) - base)
    assert pre.count() == 10  # foreign checkpoint survives everything
    unpersist_rdd_ids(spark, persistent_rdd_ids(spark))


def test_close_frees_preloop_scratch(spark):
    base = persistent_rdd_ids(spark)
    rot = CheckpointRotator(spark)
    feats = spark.range(100).localCheckpoint(eager=True)  # pre-loop scratch
    cur = feats.select(F.col("id").alias("v"))
    for _ in range(3):
        cur = rot.rotate(
            cur.groupBy().agg(F.count(F.lit(1)).alias("v"))
        )
    rot.close()
    live = persistent_rdd_ids(spark) - base
    assert len(live) == 1  # feats freed, final iterate kept
    assert cur.collect()[0][0] == 1
    unpersist_rdd_ids(spark, live)


def test_rotate_multi_frame(spark):
    base = persistent_rdd_ids(spark)
    rot = CheckpointRotator(spark)
    a = spark.range(3)
    b = spark.range(4)
    for _ in range(3):
        a, b = rot.rotate(
            a.select((F.col("id") + 1).alias("id")),
            b.select((F.col("id") + 2).alias("id")),
        )
        assert len(persistent_rdd_ids(spark) - base) == 2
    rot.close()
    assert a.count() == 3 and b.count() == 4
    unpersist_rdd_ids(spark, persistent_rdd_ids(spark) - base)


def test_pin_persisted_survives_sweep(spark):
    """A pinned session-lifetime cache (the triple/quad store lifecycle)
    must survive the per-query block sweep AND stay cached — an unpinned
    JavaRDD.unpersist would set the storage level to NONE so the relation
    never re-caches, silently re-deriving per reference thereafter."""
    base = persistent_rdd_ids(spark)
    df = spark.range(1000).select((F.col("id") * 2).alias("v")).persist()
    try:
        pin_persisted(spark, df)
        pinned = persistent_rdd_ids(spark) - base
        assert pinned and pinned <= PINNED_RDD_IDS
        # the bench's per-query sweep: everything new since `base`
        unpersist_rdd_ids(spark, persistent_rdd_ids(spark) - base)
        assert pinned <= persistent_rdd_ids(spark)  # blocks still live
        assert df.count() == 1000
    finally:
        PINNED_RDD_IDS.difference_update(persistent_rdd_ids(spark) - base)
        unpersist_rdd_ids(spark, persistent_rdd_ids(spark) - base)
