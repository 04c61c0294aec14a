"""Query registry: the single source of truth wired into ``__spark_entry__.py``.

Each registered query is a named (spark_fn, oracle_sql) pair. The driver runs
the Spark side and the DuckDB oracle side-by-side at sf0.01 and compares
row-count + schema + order-insensitive value hash, so:

- every computed column is aliased identically in both;
- floating-point aggregates are rounded identically in both (fp addition is
  not associative — a 32-way partial agg and DuckDB's single-threaded sum
  differ in the last ulps). Identical rounding is still not sufficient when
  a group's sum lands within an ulp of a rounding boundary: ROUND then
  amplifies the ulp to a full unit-in-last-place of the rounded scale
  (a relational revenue sum hit this at sf0.001). For NEW queries prefer returning
  the RAW sum — the gate's 1e-9 relative tolerance absorbs ulp noise that
  rounding would amplify;
- DuckDB-specific type quirks (HUGEINT sums) are cast back in the SQL.

Queries with ``oracle=None`` get only a rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QueryDef:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str = ""


REGISTRY: dict[str, QueryDef] = {}

# --- tier metadata -----------------------------------------------------------
# HEADLINE is one representative query per RDF-store family: BGP access
# paths and joins, OPTIONAL, property paths (sequence, closure, bounded
# quantifier), SPARQL text aggregation and builtins, GRAPH ?g over the
# quad store, and the serializers. Everything else registered is the LONG
# TAIL: certified on the same oracle gate. The tiers drive certification
# scheduling (__spark_entry__.ordered_defs re-certifies a stale headline
# query ahead of its recency cohort) and the ledger's staleness report
# (tools/certification_ledger.py). Budgets are in certification rounds
# of staleness (current round − last hash-green round).
HEADLINE: tuple[str, ...] = (
    "bgp_get_building_in_nation0",
    "bgp_get_dup_preserving",
    "bgp_join_urgent_building_orders",
    "triples_stats",
    "bgp_optional_order_parts",
    "path_within_closure",
    "sparql_agg_members_per_nation",
    "rdfxml_export_accounting",
    "path_quantified_containment",
    "sparql_builtins_order_expr",
    "sparql_graph_var_membership",
)

_HEADLINE_SET = frozenset(HEADLINE)

STALENESS_BUDGET: dict[str, int] = {"headline": 3, "long_tail": 6}


def tier(name: str) -> str:
    """``"headline"`` (one query per store family) or ``"long_tail"``."""
    return "headline" if name in _HEADLINE_SET else "long_tail"


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QueryDef(name=name, fn=fn, oracle=oracle, doc=fn.__doc__ or "")
        return fn

    return deco


def registered_defs() -> list[QueryDef]:
    """Every registered QueryDef, in registration (import) order —
    deterministic across checkouts and environments. Scheduling concerns
    (the driver's 50-query certification window) live in the driver-facing
    adapter (``__spark_entry__.ordered_defs``), not in the library API."""
    _load_query_modules()
    return list(REGISTRY.values())


def all_queries() -> dict[str, QueryFn]:
    return {q.name: q.fn for q in registered_defs()}


def all_oracles() -> dict[str, str]:
    return {q.name: q.oracle for q in registered_defs() if q.oracle is not None}


_LOADED = False


def _load_query_modules() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    # Import order = registration order = the tiebreak inside the
    # rotation's least-certified-first sort (__spark_entry__.ordered_defs).
    import rippledb_spark.queries.triples  # noqa: F401
    import rippledb_spark.queries.triples2  # noqa: F401
    import rippledb_spark.queries.quads  # noqa: F401

    _LOADED = True
