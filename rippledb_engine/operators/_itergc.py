"""Deterministic block release for the engine tier's iterative loops.

The trainers (logistic/softmax GD, unigram hard-EM, OPQ alternation, PCA
power iteration, Lloyd's k-means, HyperBall) end each round with a
``localCheckpoint``. ``CheckpointRotator`` frees the superseded round's
blocks as the loop goes instead of waiting for a driver GC;
``unpersist_rdd_ids`` is the per-query sweep ``bench.py`` runs. Neither
ever frees a cache the RDF store pinned (``PINNED_RDD_IDS``). The loop
configuration and the garbage release are the store's
(:mod:`rippledb_spark.operators._itergc`), re-exported here so every
engine loop imports one module.
"""

from __future__ import annotations

import gc

from pyspark.sql import DataFrame

from rippledb_spark.operators._itergc import (  # noqa: F401
    PINNED_RDD_IDS,
    iteration_conf,
    iteration_partitions,
    persistent_rdd_ids,
    pin_persisted,
    release_iteration_garbage,
)


def unpersist_rdd_ids(spark, ids: set[int]) -> None:
    """Explicitly unpersist the given RDD ids (non-blocking). The public
    handle ``localCheckpoint`` lacks: a checkpointed DataFrame's blocks
    CAN be freed deterministically through the persistent-RDD registry —
    the frame is unusable afterwards, so this must only ever see
    SUPERSEDED frames (a prior iterate, a consumed ephemeral) — never
    the pinned session-lifetime store caches (``PINNED_RDD_IDS``)."""
    ids = ids - PINNED_RDD_IDS
    if not ids:
        return
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for rid in ids:
            rdd = jmap.get(rid)
            if rdd is not None:
                rdd.unpersist(False)
    except Exception:
        pass  # non-JVM-backed session: the context cleaner handles it


class CheckpointRotator:
    """Deterministic block release for per-iteration ``localCheckpoint``
    loops (r14 — the residual behind BENCH_r13's ``steady_state: false``
    respread flags: the r13 gc.collect()+rate-limited System.gc() path
    frees trainer garbage only when a JVM GC happens to run, so
    late-session solo runs still paid 35-45% over the in-pass median).

    Usage::

        rot = CheckpointRotator(df.sparkSession)
        for _ in range(iterations):
            frame = rot.rotate(frame)        # checkpoint + free the
                                             # PREVIOUS round's blocks
        rot.close()                          # free pre-loop scratch
                                             # (keeps the last rotate)

    ``rotate`` eagerly checkpoints its argument(s) and unpersists the
    blocks of the frames IT checkpointed on the previous call — which
    are superseded by construction. ``close`` additionally frees every
    other RDD persisted since the rotator was built (pre-loop feature
    checkpoints) EXCEPT the last rotate's output, which the caller
    returns. Driver-side single-threaded usage only: the created-id
    diff would misattribute blocks persisted concurrently by another
    thread."""

    def __init__(self, spark):
        self._spark = spark
        self._base = persistent_rdd_ids(spark)
        self._live: set[int] = set()  # last rotate's still-needed ids
        self._scratch: set[int] = set()  # everything else created since

    def rotate(self, *dfs: DataFrame):
        before = persistent_rdd_ids(self._spark)
        out = [df.localCheckpoint(eager=True) for df in dfs]
        created = persistent_rdd_ids(self._spark) - before
        # anything persisted since the last rotate that ISN'T this
        # round's checkpoint (e.g. an in-loop eager side-frame) becomes
        # scratch, freed at close; the previous round's frames are
        # superseded NOW
        unpersist_rdd_ids(self._spark, self._live)
        self._scratch |= (before - self._base) - self._live
        self._base = before | created
        self._live = created
        return out[0] if len(out) == 1 else tuple(out)

    def close(self) -> None:
        """Free pre-loop/scratch blocks; the last rotate's output stays."""
        now = persistent_rdd_ids(self._spark)
        self._scratch |= now - self._base
        unpersist_rdd_ids(self._spark, self._scratch - self._live)
        self._scratch = set()
        # the unpersists above cover CHECKPOINT blocks deterministically;
        # per-iteration BROADCASTS (the GD loops broadcast their iterate
        # every round) still need the context cleaner, which needs the
        # Python proxies dropped first — the same cheap collect the r13
        # release path did (the JVM side is then reclaimed by the
        # session's periodic cleaner GC)
        gc.collect()
