"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in the rippledb_spark package; this module is a thin
adapter over rippledb_spark.registry.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: the reference-parity conjunctive BGP
    query (scan → pattern filters → semi-join → project) over the triples
    graph derived from the relational tables."""
    from rippledb_spark.queries.triples import bgp_get_building_in_nation0

    return bgp_get_building_in_nation0(spark, SMOKE_SF_DIR)


def _last_green_round() -> dict[str, int]:
    """The LAST driver round that certified each query green, from the
    driver's own CORRECTNESS_r*.json receipts beside this file. Green =
    a value-hash match, or — only for queries registered WITHOUT an
    oracle — a rows-only pass (an ``err == 'no_oracle'`` row for a query
    that HAS an oracle means the driver never saw the oracle and counts
    as uncertified, matching tools/certification_ledger.py). A red row
    does not advance the round, so the query re-enters the front of the
    window."""
    import glob
    import json
    import re

    from rippledb_spark.registry import registered_defs

    has_oracle = {q.name: q.oracle is not None for q in registered_defs()}
    last: dict[str, int] = {}
    root = os.path.dirname(os.path.abspath(__file__))
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            green = row.get("hash_match") is True or (
                row.get("err") == "no_oracle"
                and row.get("spark_rows") is not None
                and not has_oracle.get(name, True)
            )
            if green:
                last[name] = max(last.get(name, 0), rnd)
    return last


def ordered_defs() -> list:
    """Registry entries in certification-priority order. The driver
    certifies only the FIRST 50 entries of ``queries()`` per round, so
    with more queries registered than that a fixed order would starve the
    tail forever. Three priority bands:

    1. NEVER-CERTIFIED queries — a new query always lands in its first
       round's window (there are at most a handful per round);
    2. HEADLINE queries (registry.HEADLINE — one per RDF-store family)
       whose staleness is ≥ 2 rounds — jumping the recency queue caps
       headline staleness at ~2 in steady state (budget 3,
       registry.STALENESS_BUDGET), so the queries whose wall-times are
       compared round-over-round are also the ones whose CORRECTNESS
       rows stay freshest;
    3. everything else, least-recently-certified first (recency
       rotation: a certified query moves to the back, a failed one
       re-enters the front), bounding long-tail staleness at
       ~ceil(N/window) rounds (budget 6).

    Within a band, ties break on registration order — deterministic
    across checkouts. Scheduling lives HERE (the driver-facing adapter)
    so the library's ``registry.all_queries`` stays deterministic;
    ``tools/certification_ledger.py`` reports per-tier staleness against
    the budgets."""
    from rippledb_spark.registry import registered_defs, tier

    last = _last_green_round()
    cur = max(last.values(), default=0)
    defs = registered_defs()
    index = {q.name: i for i, q in enumerate(defs)}

    def key(q):
        if q.name not in last:
            band = 0
        elif tier(q.name) == "headline" and cur - last[q.name] >= 2:
            band = 1
        else:
            band = 2
        return (band, last.get(q.name, 0), index[q.name])

    return sorted(defs, key=key)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per registered RDF-store query, rotated so the
    least-certified queries land inside the 50-query certification
    window."""
    return {q.name: q.fn for q in ordered_defs()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted → rows-only check)."""
    return {q.name: q.oracle for q in ordered_defs() if q.oracle is not None}
