"""Testdata table access.

One parquet file per table (TESTDATA.md). Reads are plain
``spark.read.parquet`` so Catalyst gets full pushdown/pruning; at cluster
scale the same call reads a partitioned directory tree unchanged.
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

# The relational tables the derived triples/quads graphs and their DuckDB
# oracles read (queries/triples.TRIPLES_CTE, queries/quads.QUADS_CTE).
TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "orders",
    "lineitem",
]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; have {TABLE_NAMES}")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_SCRATCH_DIRS: set[str] = set()
_SCRATCH_SEQ = itertools.count()


@atexit.register
def _cleanup_scratch() -> None:
    for d in list(_SCRATCH_DIRS):
        shutil.rmtree(d, ignore_errors=True)


def scratch_dir(prefix: str, sf_dir: str) -> str:
    """Process-scoped scratch directory under /tmp for round-trip queries
    (backup migration, JSON-LD export) that write eagerly and read back
    lazily.

    The PID is in the key so concurrent processes (two gates, two
    checkouts) never rmtree each other's scratch between one run's write
    and its lazy read-back, and a process-local sequence number makes
    every CALL unique, so two builds of the same query inside one
    process (two SparkSessions, or one session building the plan twice)
    cannot rmtree each other's dir either. That same
    read-back laziness means the dir cannot be removed at the end of the
    query function — so every dir is registered here and removed at
    interpreter exit (atexit), closing the leak of one corpus-sized
    directory per process."""
    d = os.path.join(
        tempfile.gettempdir(),
        f"{prefix}_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{os.getpid()}_{next(_SCRATCH_SEQ)}",
    )
    shutil.rmtree(d, ignore_errors=True)
    _SCRATCH_DIRS.add(d)
    return d

