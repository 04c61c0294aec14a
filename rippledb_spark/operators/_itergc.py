"""Session helpers for iterative DataFrame loops (the property-path
closure in ``plans/paths.py``).

Each closure round ends with a ``localCheckpoint`` — the idiomatic
lineage-truncation step for a DataFrame loop. Each checkpoint caches an
RDD with no public unpersist handle; the context cleaner only reclaims
them after a *driver* GC, and Python holds the references until
collection. Left alone, a long session that runs many closures
accumulates dead blocks and per-call latency drifts up.
``release_iteration_garbage`` releases them on the way out — one explicit
collection costs ~100 ms and keeps steady-state flat for whatever runs
next in the session.

The derived triple/quad stores persist a cross-query cache; they pin its
blocks (``pin_persisted``) so the per-query block sweeps of the engine
tier (``rippledb_engine.operators._itergc``) never free it.
"""

from __future__ import annotations

import gc
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame


ROWS_PER_PARTITION = 2_000_000


def iteration_partitions(spark, n_rows: int) -> int:
    """Shuffle-partition count for an iterative loop over ``n_rows`` rows:
    cardinality-proportional, floored at defaultParallelism/4 so a small
    graph still spreads over the cluster."""
    floor = max(4, spark.sparkContext.defaultParallelism // 4)
    return max(floor, -(-n_rows // ROWS_PER_PARTITION))


@contextmanager
def iteration_conf(spark, n_rows: int):
    """Tune the session for a fixed-shape iterative loop, restoring on exit.

    Two per-iteration constant factors dominate iterative DataFrame loops
    on small-to-medium state (measured on an sf0.1 pagerank loop: 3.3 s →
    1.8 s for 6 iterations):

    - **AQE off**: adaptive execution re-plans and materializes query
      stages every iteration, but the loop body's shape never changes —
      the re-planning is pure overhead here. (AQE's skew/coalesce wins
      apply to one-shot queries; a loop can size its shuffles once.)
    - **Shuffle partitions sized to the data**: the default partition
      count is sized for the session's general workload; an iteration's
      shuffle state is exactly ``n_rows`` rows, so partitions =
      ``n_rows / ROWS_PER_PARTITION`` (floored at defaultParallelism/4 so
      a small graph still spreads over the cluster). At 100 TB the same
      formula scales the count UP — this is a cardinality rule, not a
      small-cluster constant.

    Session-global confs are mutated for the loop's duration (Spark reads
    them at action time); restored in ``finally``. Callers running
    concurrent queries on the same session during an iterative call would
    see the tuned values.
    """
    conf = spark.conf
    parts = iteration_partitions(spark, n_rows)
    old_aqe = conf.get("spark.sql.adaptive.enabled", "true")
    old_sp = conf.get("spark.sql.shuffle.partitions", "200")
    try:
        conf.set("spark.sql.adaptive.enabled", "false")
        conf.set("spark.sql.shuffle.partitions", str(parts))
        yield
    finally:
        conf.set("spark.sql.adaptive.enabled", old_aqe)
        conf.set("spark.sql.shuffle.partitions", old_sp)


# Minimum spacing between the System.gc() calls WE trigger. The Python
# collect below is cheap (~10-50 ms) and is the load-bearing step: it
# drops the Py4J proxies so the JVM side becomes weakly reachable — after
# that, EITHER our next System.gc() or the session's periodic cleaner GC
# (spark.cleaner.periodicGC.interval = 2min, session.py) reclaims the
# blocks. A full System.gc() on a busy multi-GB heap costs 0.5-2 s, so
# paying it on EVERY loop exit would dominate short queries — the JVM side
# is rate-limited; staleness is bounded by max(this interval, the
# periodic cleaner) either way.
_JVM_GC_MIN_INTERVAL_S = 60.0
_last_jvm_gc = 0.0


def persistent_rdd_ids(spark) -> set[int]:
    """Ids of every RDD currently persisted in the session's block
    manager (the JVM-side registry behind ``localCheckpoint`` blocks)."""
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}
    except Exception:
        return set()  # non-JVM-backed session (e.g. Spark Connect)


# Session-lifetime cache blocks the per-query sweeps must never free.
# The r14 sweep assumed "after the noop write returns, every RDD the
# query persisted is unreachable by construction" — false for the
# derived triple/quad stores, whose persist is a deliberate cross-query
# cache (the reference queries an already-loaded graph). Worse than
# losing the cache: JavaRDD.unpersist sets the storage level to NONE,
# so the relation never RE-caches — after the first sweep every
# reference to the store recomputed the full derivation (measured r15:
# path_quantified_containment 54.7 s, six re-derivations; pinned and
# warm it is ~0.6 s). Stores register their cache ids here via
# ``pin_persisted``; ``unpersist_rdd_ids`` skips them.
PINNED_RDD_IDS: set[int] = set()


def pin_persisted(spark, df) -> None:
    """Materialize ``df``'s (already ``persist()``-ed) cache NOW and pin
    the resulting block-manager ids against the per-query sweeps. Eager
    so the id diff is observable — and so store build cost lands at store
    construction (the reference's Graph::new lifecycle), not smeared over
    whichever query happens to touch the relation first."""
    before = persistent_rdd_ids(spark)
    df.count()
    PINNED_RDD_IDS.update(persistent_rdd_ids(spark) - before)



def release_iteration_garbage(df: DataFrame) -> None:
    """Free the block-manager garbage an iterative loop leaves behind.

    One driver ``gc.collect()`` drops the Python-side references to the
    superseded per-iteration checkpoints (without this, even the JVM's
    periodic GC cannot reclaim them — the proxies pin the JVM objects);
    a rate-limited JVM ``System.gc()`` then lets the context cleaner
    unpersist promptly. The DataFrame argument is only used to reach the
    live session; the *returned* checkpoint stays referenced and is
    untouched.
    """
    global _last_jvm_gc
    gc.collect()
    now = time.monotonic()
    if now - _last_jvm_gc < _JVM_GC_MIN_INTERVAL_S:
        return
    try:
        df.sparkSession._jvm.System.gc()
        _last_jvm_gc = now
    except Exception:
        pass  # non-JVM-backed session (e.g. Spark Connect): cleaner handles it
