"""Registry of the engine-tier queries.

Same contract as :mod:`rippledb_spark.registry` — ``fn(spark, sf_dir) ->
DataFrame`` with an optional DuckDB oracle — but a table of its own, so
the RDF store's query set, its certification rotation and its headline
tier never include an engine query.
"""

from __future__ import annotations

from collections.abc import Callable

from rippledb_spark.registry import QueryDef, QueryFn

REGISTRY: dict[str, QueryDef] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QueryDef(name=name, fn=fn, oracle=oracle, doc=fn.__doc__ or "")
        return fn

    return deco


def all_queries() -> dict[str, QueryFn]:
    import rippledb_engine.queries.relational5  # noqa: F401
    import rippledb_engine.queries.pipeline4  # noqa: F401
    import rippledb_engine.queries.pipeline5  # noqa: F401
    import rippledb_engine.queries.pipeline7  # noqa: F401
    import rippledb_engine.queries.pipeline9  # noqa: F401
    import rippledb_engine.queries.pipeline10  # noqa: F401

    return {q.name: q.fn for q in REGISTRY.values()}
