"""BGP planner: Sparql AST → DataFrame plan (reference parity: Q2).

Two evaluators:

- :func:`get` — bit-for-bit the reference's ``Graph::get`` semantics
  (src/datastore/graph.rs:333-413), which are narrower than SPARQL:

  1. single result variable — projection comes from the FIRST pattern's
     variable position only (graph.rs:361-368);
  2. later patterns are EXISTS semi-joins that prune candidates without
     multiplying them (graph.rs:369-403);
  3. duplicates from pattern₀'s multiplicity are PRESERVED (the memo set at
     graph.rs:371-387 dedups probe work, not output);
  4. bound values match only named nodes (graph.rs:1031-1033);
  5. a zero-variable query is ASK-style: 0 or 1 row, column ``ask`` = true
     (the reference's usize::MAX degenerate case, graph.rs:361-368,
     defined cleanly here per SURVEY §2.3 #6).

- :func:`select_join` — the documented multi-variable superset (SURVEY
  §4.2): chained inner equi-joins over shared variables, SPARQL-style
  bag semantics. Its group evaluator is the one SPARQL query planner of
  both stores: a TripleStore is the dataset with no named graphs, and a
  QuadStore's GRAPH groups are planned where they occur, as ordinary
  groups over the named graphs (plans.graphs.select_dataset).

Physical notes: candidate sets are usually small relative to the store, so
each semi-join broadcasts the candidate side when Spark's size estimate
allows; with the triples table partitioned by ``p``, every pattern with a
bound predicate prunes to one partition — the exact analogue of the
reference's per-predicate slice selection.
"""

from __future__ import annotations

import itertools

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from rippledb_spark import model
from rippledb_spark.errors import QueryError
from rippledb_spark.operators.triple_patterns import pattern_filter, position_column
from rippledb_spark.plans.sparql import Sparql, SparqlUnion, Val, Var


def _bounds(cond: tuple) -> tuple[str | None, str | None, str | None]:
    return tuple(u.value if isinstance(u, Val) else None for u in cond)  # type: ignore[return-value]


def _var_positions(cond: tuple) -> list[tuple[int, str]]:
    return [(i, u.name) for i, u in enumerate(cond) if isinstance(u, Var)]


def get(triples: DataFrame, query: Sparql) -> DataFrame:
    """Conjunctive query with graph.rs:333-413 semantics (first-pattern
    projection, EXISTS pruning, duplicate preservation, Named-only values).

    One DELIBERATE deviation from the reference: for a candidate value that
    appears more than once in pattern₀'s output AND fails a later pattern,
    the reference's used_vars_vals memo (graph.rs:371-387) removes only the
    FIRST occurrence — [A, A] with A failing returns [A]. That is a
    reference bug (the memo is meant to skip re-probing, not re-removal);
    this semi-join removes every occurrence of a failing value, returning
    []. All surviving values keep full pattern₀ multiplicity, matching the
    reference on every non-failing path.
    """
    if getattr(query, "optionals", []):
        # get() is the reference-parity conjunctive evaluator
        # (graph.rs:333-413 has no OPTIONAL); silently dropping a group
        # would change semantics behind the caller's back.
        raise QueryError("get() is conjunctive-only; use select_join for OPTIONAL")
    if getattr(query, "paths", []):
        raise QueryError(
            "get() evaluates fixed-shape patterns only; use select_join for paths"
        )
    if getattr(query, "minuses", []):
        raise QueryError("get() is conjunctive-only; use select_join for MINUS")
    if getattr(query, "values_blocks", []):
        raise QueryError("get() is conjunctive-only; use select_join for VALUES")
    if getattr(query, "filters", []):
        raise QueryError("get() is conjunctive-only; use select_join for FILTER")
    if getattr(query, "exists_groups", []):
        raise QueryError("get() is conjunctive-only; use select_join for EXISTS")
    if getattr(query, "binds", []):
        raise QueryError("get() is conjunctive-only; use select_join for BIND")
    if getattr(query, "subqueries", []):
        raise QueryError("get() is conjunctive-only; use select_join for subqueries")
    if (
        getattr(query, "group_vars", [])
        or getattr(query, "aggregates", [])
        or getattr(query, "having", [])
    ):
        raise QueryError("get() is conjunctive-only; use select_join for GROUP BY")
    if (
        getattr(query, "is_distinct", False)
        or getattr(query, "order_keys", [])
        or getattr(query, "row_limit", None) is not None
    ):
        # The reference returns raw candidates in dictionary-id order with
        # full multiplicity (graph.rs:389-402) — honoring modifiers here
        # would silently change the parity surface.
        raise QueryError("get() has no solution modifiers; use select_join")
    if not query.conds:
        # No patterns → no candidates (reference returns empty vec).
        name = query.vars[0].name if query.vars else "result"
        return triples.select(F.col("s").alias(name)).limit(0)

    first = query.conds[0]
    p0 = pattern_filter(triples, *_bounds(first))
    vpos = _var_positions(first)

    if not vpos:
        # ASK-style: every pattern fully bound → 0/1 rows.
        ask = p0.limit(1).select(F.lit(True).alias("ask"))
        for cond in query.conds[1:]:
            ci = pattern_filter(triples, *_bounds(cond)).limit(1).select(F.lit(True).alias("ask"))
            ask = ask.intersect(ci)
        return ask

    pos0, var0 = vpos[0]  # projection: first pattern, first var (graph.rs:361-368)
    cand = p0.select(F.col(position_column(pos0)).alias(var0))

    for cond in query.conds[1:]:
        ci = pattern_filter(triples, *_bounds(cond))
        positions = [(i, v) for i, v in _var_positions(cond) if v == var0]
        if not positions:
            # Pattern without the driving var: global gate — survives iff the
            # pattern matches anything (candidate-independent EXISTS).
            gate = ci.limit(1).select(F.lit(1).alias("__gate"))
            cand = cand.crossJoin(F.broadcast(gate)).drop("__gate")
            continue
        pos, _ = positions[0]
        probe = ci.select(F.col(position_column(pos)).alias(var0))
        # EXISTS semi-join: prunes candidates, preserves pattern₀ multiplicity
        # (graph.rs:369-403).
        cand = cand.join(probe, on=var0, how="left_semi")

    return cand


def predicate_counts(triples: DataFrame) -> dict[str, int]:
    """Per-predicate cardinalities for cost-based pattern ordering.

    One aggregation over the store; the result is small by the vertical-
    partitioning assumption (predicates number in the hundreds, not the
    billions — the same assumption behind the reference's one-K2Tree-per-
    predicate layout, graph.rs:36). Collected to the driver ONCE and
    reused across queries — the analogue of ANALYZE statistics, not a
    per-query collect."""
    return {r["p"]: r["count"] for r in triples.groupBy("p").count().collect()}


def _order_patterns(conds: list, stats: dict[str, int] | None = None) -> list:
    """Selectivity-guided, connectivity-aware pattern order (SURVEY §4.2 —
    the one planning decision Catalyst can't make for us, since the fold
    order fixes the join tree's leaves).

    Without ``stats``: more bound positions → more selective (a (s,p,o)
    point beats a (?,p,?) dump). With ``stats`` (per-predicate counts from
    :func:`predicate_counts`), the estimate sharpens to cardinality-based:
    a pattern's base row count is its predicate's count (total for unbound
    predicates), discounted 100× per additional bound position — so a
    bound-s pattern over a 10-row predicate now correctly beats one over a
    10M-row predicate, which the bound-count heuristic ties. Start with
    the cheapest pattern, then greedily append the cheapest pattern
    CONNECTED to the variables seen so far — keeping the chain connected
    avoids accidental cross-joins that a naive global sort would create."""

    def bound_count(cond) -> int:
        return sum(1 for u in cond if not isinstance(u, Var))

    if stats is None:
        def cost(cond) -> float:
            return -bound_count(cond)
    else:
        total = max(sum(stats.values()), 1)

        def cost(cond) -> float:
            p = cond[1]
            base = stats.get(p.value, 0) if isinstance(p, Val) else total
            extra = bound_count(cond) - (0 if isinstance(p, Var) else 1)
            return base / (100.0 ** extra)

    remaining = list(conds)
    remaining.sort(key=cost)
    ordered = [remaining.pop(0)]
    seen_vars = {u.name for u in ordered[0] if isinstance(u, Var)}
    while remaining:
        connected = [
            c for c in remaining if any(isinstance(u, Var) and u.name in seen_vars for u in c)
        ]
        nxt = min(connected, key=cost) if connected else remaining[0]
        remaining.remove(nxt)
        ordered.append(nxt)
        seen_vars |= {u.name for u in nxt if isinstance(u, Var)}
    return ordered


def select_join(
    triples: DataFrame,
    query: Sparql,
    optimize: bool = True,
    stats: dict[str, int] | None = None,
) -> DataFrame:
    """Multi-variable BGP: inner equi-join chain over shared variables.

    Each pattern projects its variable positions to columns named after the
    variables; patterns sharing variables join on them (bag semantics), and
    the final projection keeps ``query.vars`` order. Patterns sharing no
    variable with the accumulated plan cross-join (rare; kept lazy so
    Catalyst can still broadcast the small side).

    With ``optimize`` (default) patterns are reordered by the selectivity
    heuristic in :func:`_order_patterns`; pass ``stats`` (from
    :func:`predicate_counts`, typically via ``TripleStore.analyze()``) to
    upgrade it to cardinality-based cost ordering. Bag-join results are
    order-independent, so this changes the plan, never the answer. Pass
    optimize=False for the reference's literal textual order.
    """
    return _select(triples, None, query, optimize, stats)


def _select(
    triples: DataFrame,
    named: DataFrame | None,
    query: Sparql,
    optimize: bool,
    stats: dict[str, int] | None,
) -> DataFrame:
    """The SPARQL query evaluator of both stores: the solutions of
    ``query``'s group (:func:`_solve`) over the default graph ``triples``,
    then aggregation, projection and the solution modifiers. ``named`` is
    the named graphs' quads that GRAPH groups match (None for a
    TripleStore, the dataset with no named graphs)."""
    if not (query.conds or query.paths or query.subqueries or query.graph_groups):
        raise QueryError("select_join requires at least one pattern")
    acc = _solve(triples, named, query, optimize, stats)

    # GROUP BY + aggregates (SPARQL §11, engine-tier superset): one
    # hash-aggregate over the solution set — map-side combinable, the
    # same physical shape as any relational groupBy. HAVING is a filter
    # over the aggregated frame (aliases are ordinary columns by then).
    group_vars, aggregates = query.group_vars, query.aggregates
    if group_vars or aggregates:
        from rippledb_spark.plans.filters import to_column

        acc = _aggregate_solutions(acc, group_vars, aggregates)
        for hexpr in query.having:
            _check_bound(hexpr, acc.columns, "HAVING references unbound variables {}")
            acc = acc.filter(to_column(hexpr))
    elif query.having:
        raise QueryError("HAVING requires GROUP BY or aggregates")

    names = query.var_names()
    missing = [n for n in names if n not in acc.columns]
    if missing:
        if group_vars or aggregates:
            raise QueryError(
                f"selected vars {missing} must be GROUP BY variables or "
                f"aggregate aliases (SPARQL §11 projection restriction)"
            )
        raise QueryError(f"selected vars {missing} not bound by any pattern")
    out = acc.select(*names)

    # Solution modifiers (SPARQL §15, engine-tier superset), in spec order:
    # DISTINCT on the projected solutions, then ORDER BY, then OFFSET/LIMIT.
    if query.is_distinct:
        out = out.dropDuplicates()
    order_keys = query.order_keys
    if order_keys:
        from rippledb_spark.plans.filters import filter_vars, value_to_column

        bad = [
            v
            for k, _ in order_keys
            for v in (filter_vars(k) if not isinstance(k, str) else [k])
            if v not in names
        ]
        if bad:
            raise QueryError(f"order_by vars {bad} not in select()")
        cols = [
            (F.col(k) if isinstance(k, str) else value_to_column(k))
            for k, _ in order_keys
        ]
        out = out.orderBy(
            *[c.desc() if d else c.asc() for c, (_, d) in zip(cols, order_keys)]
        )
    if query.row_offset:
        out = out.offset(query.row_offset)
    if query.row_limit is not None:
        out = out.limit(query.row_limit)
    return out


_FILTER_UNBOUND = "FILTER references unbound variables {}"


def _solve(
    triples: DataFrame,
    named: DataFrame | None,
    group: Sparql,
    optimize: bool,
    stats: dict[str, int] | None,
    graph_var: str | None = None,
    filter_msg: str = _FILTER_UNBOUND,
) -> DataFrame:
    """One group's solutions, one column per variable it binds — the
    evaluator of the WHERE group and of every group nested in it.

    A GRAPH group is this same evaluation over the named graphs (SPARQL
    1.1 §13.3), planned where it occurs: ``GRAPH <iri>`` over that
    graph's triples; ``GRAPH ?g`` over all named quads with ``graph_var``
    set, so every triple pattern also projects its ``g`` column as the
    graph variable and the chain joins within one graph, and paths run
    the graph-tagged route (plans.graphs._var_graph_path_plan). An
    OPTIONAL, MINUS or EXISTS group inside it inherits ``graph_var``."""
    acc = None
    if group.conds:
        conds = _order_patterns(group.conds, stats) if optimize else list(group.conds)
        acc = _join_group(triples, conds, graph_var)

    # Nested SELECTs (SPARQL §12): each evaluates bottom-up to its own
    # projected solution set (its aggregates/modifiers are internal), then
    # joins the group on shared variable names — exactly the relational
    # derived-table shape, so Catalyst plans it like any subquery join.
    for sub in group.subqueries:
        acc = _join(acc, _select(triples, named, sub, optimize, stats))

    # GRAPH groups join in like any other solution set (the spec's
    # join-of-multisets).
    for gterm, ggroup in group.graph_groups:
        gvar = gterm.name if isinstance(gterm, Var) else None
        gplan = _solve(_graph_frame(named, gterm), None, ggroup, optimize, stats, gvar)
        acc = _join(acc, gplan)

    # Property-path patterns (SPARQL 1.1 superset): a closure-free path
    # plans as the BGP of its §18.2.2.4 translation; any other evaluates
    # to a plans.paths (src, dst) pair set, renamed/filtered to its
    # variable bindings. Either joins like any other pattern group. A
    # bound subject becomes the closure's seed set (frontier-only
    # expansion).
    acc = _apply_paths(triples, acc, group.paths, graph_var)
    if acc is None:
        raise QueryError("empty pattern group")

    # OPTIONAL groups (SPARQL superset — the reference is conjunctive-only):
    # each group is evaluated as its own plan, then LEFT-OUTER joined onto
    # the required solution on the shared variables; unmatched rows
    # NULL-extend the group's variables.
    for g in group.optionals:
        gplan = _group_plan(triples, named, g, optimize, stats, graph_var)
        acc = _join(acc, gplan, "optional")

    # VALUES blocks (SPARQL §10.2): join the solutions against inline
    # bindings. Rows are grouped by their UNDEF mask — each group joins on
    # its DEFINED columns only (UNDEF is compatible with anything);
    # variables not bound by any pattern extend the solutions.
    for names, vrows in group.values_blocks:
        acc = _values_join(triples.sparkSession, acc, names, vrows)

    # MINUS groups (SPARQL §8.3): drop solutions with a compatible match
    # on the shared variables — a LEFT ANTI join, the same EXISTS engine
    # as get()'s pruning but negated.
    for g in group.minuses:
        gplan = _group_plan(triples, named, g, optimize, stats, graph_var)
        acc = _join(acc, gplan, "minus")

    # BIND extensions (SPARQL §10.1): computed columns over the solution
    # set — available to EXISTS/FILTER/GROUP BY/ORDER BY below. Rebinding
    # is a spec error; unbound references are too.
    for alias, vexpr in group.binds:
        from rippledb_spark.plans.filters import value_to_column

        if alias in acc.columns:
            raise QueryError(f"BIND would rebind already-bound variable ${alias}")
        _check_bound(vexpr, acc.columns, "BIND references unbound variables {}")
        acc = acc.withColumn(alias, value_to_column(vexpr))

    # FILTER EXISTS / NOT EXISTS groups (SPARQL §8.1): a LEFT SEMI / LEFT
    # ANTI join on the shared variables — the same EXISTS engine as get()'s
    # pruning.
    for positive, g in group.exists_groups:
        gplan = _group_plan(triples, named, g, optimize, stats, graph_var)
        acc = _join(acc, gplan, "exists" if positive else "not_exists")

    # FILTER constraints (SPARQL §17, engine-tier superset — plans.filters):
    # applied to the group's full solution set (after OPTIONAL/VALUES/MINUS,
    # per the spec's group scoping), before projection so they may reference
    # non-projected variables. Lowering is an ordinary Catalyst predicate —
    # pushed through the join chain like a hand-written DataFrame.filter.
    for fexpr in group.filters:
        from rippledb_spark.plans.filters import to_column

        _check_bound(fexpr, acc.columns, filter_msg)
        acc = acc.filter(to_column(fexpr))
    return acc


def _group_plan(
    triples: DataFrame,
    named: DataFrame | None,
    group,
    optimize: bool,
    stats: dict[str, int] | None,
    graph_var: str | None,
) -> DataFrame:
    """One OPTIONAL/MINUS/EXISTS group → its solutions. ``group`` is a
    plain pattern list (the conjunctive-only historical form) or a Sparql
    group (patterns, paths, GRAPH scopes, group-scoped FILTERs). A FILTER
    inside the group constrains the GROUP's solutions before the outer
    join — per spec §8 group scoping this differs from filtering
    afterwards (an optional row failing its inner filter NULL-extends
    instead of dropping the required row)."""
    if not isinstance(group, Sparql):
        conds, group = group, Sparql()
        group.conds = list(conds)
    return _solve(
        triples, named, group, optimize, stats, graph_var,
        "group FILTER references variables {} not bound in the group",
    )


def _graph_frame(named: DataFrame | None, gterm) -> DataFrame:
    """The frame a GRAPH group matches in: all named quads for ``GRAPH
    ?g``, one named graph's triples for ``GRAPH <iri>``."""
    if named is None:
        # a single-graph store has no named graphs; evaluating the group
        # against its triples would silently widen the scope to the store
        raise QueryError(
            "query has GRAPH groups; evaluate it over a QuadStore "
            "(plans.graphs.select_dataset), not a single-graph store"
        )
    if isinstance(gterm, Var):
        return named
    return named.filter(F.col("g") == F.lit(gterm.value)).select(*model.TRIPLE_KEY)


def _join(acc: DataFrame | None, plan: DataFrame, kind: str = "join") -> DataFrame:
    """Join ``plan`` into the solutions ``acc`` on their shared variables.

    - ``join`` (patterns, paths, subqueries, GRAPH groups): a 0/1-row gate
      (a ``__gate`` column) broadcast-crossjoins; plans sharing no
      variable cross-join.
    - ``optional``: a LEFT OUTER join; the group must share a variable.
    - ``minus``: a LEFT ANTI join; a group sharing no variable removes
      nothing (spec §8.3) and is skipped.
    - ``exists`` / ``not_exists``: a LEFT SEMI / LEFT ANTI join; a group
      sharing NO variable is a GLOBAL gate (survive iff the group matches
      anything / nothing) — the documented divergence from MINUS (spec
      §8.3.3), expressed as a constant-true join condition so the
      anti/semi forms stay symmetric."""
    if acc is None:
        return plan
    if kind == "join" and "__gate" in plan.columns:
        return acc.crossJoin(F.broadcast(plan)).drop("__gate")
    shared = sorted(set(acc.columns) & set(plan.columns))
    if kind == "join":
        return acc.join(plan, on=shared, how="inner") if shared else acc.crossJoin(plan)
    if kind == "optional":
        if not shared:
            raise QueryError(
                "OPTIONAL group shares no variable with the required patterns "
                "(it must bind at least one of their variables)"
            )
        return acc.join(plan, on=shared, how="left_outer")
    how = "left_semi" if kind == "exists" else "left_anti"
    if shared:
        return acc.join(plan.select(*shared), on=shared, how=how)
    if kind == "minus":
        return acc
    gate = F.broadcast(plan.limit(1).select(F.lit(1).alias("__gate")))
    return acc.join(gate, on=F.lit(True), how=how)


def _check_bound(expr, columns: list[str], msg: str) -> None:
    """Raise ``msg`` (formatted with the names) when a FILTER, BIND or
    HAVING expression references a variable not among ``columns``."""
    from rippledb_spark.plans.filters import filter_vars

    unbound = sorted(v for v in filter_vars(expr) if v not in columns)
    if unbound:
        raise QueryError(msg.format(unbound))


def _apply_paths(
    triples: DataFrame, acc: DataFrame | None, paths: list, graph_var: str | None = None
) -> DataFrame | None:
    """Fold property-path patterns into the accumulated plan: each path
    evaluates to a variable-column plan (:func:`_path_plan`) and joins on
    shared variables; when ``acc`` already binds the path's subject
    variable, those bindings SEED the closure evaluator so closures
    expand only from reachable nodes (the same seeding Seq applies
    internally). Closure-free paths plan as BGP joins and ignore them.
    Under ``GRAPH ?g`` (``graph_var``) each path runs the graph-tagged
    route over the named quads instead."""
    for s_u, expr, o_u in paths:
        if graph_var is not None:
            from rippledb_spark.plans.graphs import _var_graph_path_plan

            plan = _var_graph_path_plan(triples, graph_var, s_u, expr, o_u)
        else:
            seeds = None
            if acc is not None and isinstance(s_u, Var) and s_u.name in acc.columns:
                seeds = acc.select(F.col(s_u.name).alias("node")).distinct()
            plan = _path_plan(triples, s_u, expr, o_u, seeds=seeds)
        acc = _join(acc, plan)
    return acc


def _aggregate_solutions(
    acc: DataFrame, group_vars: list[str], aggregates: list[tuple]
) -> DataFrame:
    """Lower the builder's aggregate specs onto one groupBy().agg().
    Typing rules documented on Sparql.aggregate: SUM/AVG numeric via
    try_cast (non-numbers ignored as NULL), MIN/MAX/SAMPLE lexicographic,
    GROUP_CONCAT sorted for determinism."""
    missing = [v for v in group_vars if v not in acc.columns]
    if missing:
        raise QueryError(f"GROUP BY variables {missing} not bound by any pattern")
    exprs = []
    for agg in aggregates:
        func, var, alias, distinct = agg[0], agg[1], agg[2], agg[3]
        separator = agg[4] if len(agg) > 4 else None
        if var is not None and var not in acc.columns:
            raise QueryError(f"aggregate over unbound variable ${var}")
        col = F.col(var) if var is not None else None
        num = col.try_cast("double") if col is not None else None
        if func == "count":
            if var is None:
                expr = F.count(F.lit(1))
            elif distinct:
                expr = F.count_distinct(col)
            else:
                expr = F.count(col)  # non-NULL count, per spec
        elif func == "sum":
            expr = F.sum_distinct(num) if distinct else F.sum(num)
        elif func == "avg":
            expr = F.avg(num)
        elif func == "min":
            expr = F.min(col)
        elif func == "max":
            expr = F.max(col)
        elif func == "sample":
            expr = F.min(col)  # deterministic 'any value'
        elif func == "group_concat":
            sep = " " if separator is None else separator
            vals = F.collect_set(col) if distinct else F.collect_list(col)
            expr = F.array_join(F.array_sort(vals), sep)
        else:  # pragma: no cover — builder validates
            raise QueryError(f"unknown aggregate {func!r}")
        exprs.append(expr.alias(alias))
    if not exprs:
        # bare GROUP BY with no aggregates: distinct groups
        return acc.select(*group_vars).dropDuplicates()
    return acc.groupBy(*group_vars).agg(*exprs)


def select_union(
    triples: DataFrame,
    query: SparqlUnion,
    optimize: bool = True,
    stats: dict[str, int] | None = None,
) -> DataFrame:
    """SPARQL UNION: bag-union of the arms' solutions (SPARQL superset —
    the reference is conjunctive-only). Arms evaluate independently
    (each its own join plan, so Catalyst optimizes them separately) and
    unionByName concatenates — no shuffle beyond what the arms need.
    All arms must project identical variable sets; N-ary unions arrive
    as left-nested SparqlUnion pairs and evaluate recursively."""
    return _union(triples, None, query, optimize, stats)


def _union(
    triples: DataFrame,
    named: DataFrame | None,
    query: SparqlUnion,
    optimize: bool,
    stats: dict[str, int] | None,
) -> DataFrame:
    lnames, rnames = query.left.var_names(), query.right.var_names()
    if set(lnames) != set(rnames):
        raise QueryError(
            f"UNION arms project different variables: {lnames} vs {rnames}"
        )

    def ev(q) -> DataFrame:
        if isinstance(q, SparqlUnion):
            return _union(triples, named, q, optimize, stats)
        return _select(triples, named, q, optimize, stats)

    return ev(query.left).unionByName(ev(query.right))


def _values_join(spark, acc: DataFrame, names: list[str], rows: list[tuple]) -> DataFrame:
    """Join ``acc`` with a VALUES block. Inline tables are tiny by nature
    (driver-supplied parameter lists), so every group joins broadcast."""
    from collections import defaultdict

    from pyspark.sql import types as T

    groups: dict[tuple, list[tuple]] = defaultdict(list)
    for row in rows:
        groups[tuple(v is not None for v in row)].append(row)

    outs = []
    for mask, rws in groups.items():
        # UNDEF columns the solution already binds add no constraint —
        # drop them from the inline table; UNDEF columns the solution
        # does NOT bind extend it with NULL (spec-compatible).
        keep = [n for n, m in zip(names, mask) if m or n not in acc.columns]
        schema = T.StructType([T.StructField(n, T.StringType()) for n in names])
        vdf = spark.createDataFrame(
            [tuple(None if v is None else str(v) for v in r) for r in rws], schema
        ).select(*keep) if keep else None
        on = [n for n, m in zip(names, mask) if m and n in acc.columns]
        if vdf is None:
            outs.append(acc)  # every column UNDEF-and-bound: row matches all
        elif on:
            outs.append(acc.join(F.broadcast(vdf), on=on, how="inner"))
        else:
            outs.append(acc.crossJoin(F.broadcast(vdf)))
    out = outs[0]
    for nxt in outs[1:]:
        out = out.unionByName(nxt, allowMissingColumns=True)
    return out


def construct(
    triples: DataFrame,
    query: Sparql,
    template: list[list[str]],
    optimize: bool = True,
    stats: dict[str, int] | None = None,
    solver=None,
) -> DataFrame:
    """SPARQL CONSTRUCT (engine-tier superset): instantiate ``template``
    triple patterns once per solution of ``query``, returning a
    triples-schema DataFrame with set semantics (a CONSTRUCT result is an
    RDF graph — W3C SPARQL 1.1 §16.2).

    Terms are lifted as named nodes — the reference's own plain-string
    lift (``triple_into_rdf``, src/lib.rs:17-19) — since solution rows
    carry values, not kinds (the engine-wide flattened-model convention).
    Solutions leaving a template variable unbound (possible under
    OPTIONAL) skip that template pattern for that solution, per spec.
    The plan is the solution join followed by one projection per template
    pattern, one union, and one set-dedup shuffle."""
    from rippledb_spark.plans.sparql import parse_unit

    units = []
    for pat in template:
        if len(pat) != 3:
            raise QueryError(f"template pattern must be [s, p, o], got {pat!r}")
        units.append(tuple(parse_unit(x) for x in pat))

    tmpl_vars = {u.name for t in units for u in t if isinstance(u, Var)}
    # Project every template var (without mutating the caller's query).
    import copy

    q = copy.copy(query)
    q.vars = list(query.vars)
    for v in sorted(tmpl_vars - set(query.var_names())):
        q.vars.append(Var(v))
    # ``solver`` overrides the solution evaluator (a QuadStore's passes its
    # dataset so GRAPH groups in the WHERE resolve against named graphs;
    # the template still materializes plain triples).
    if solver is not None:
        sol = solver(q)
    else:
        sol = select_join(triples, q, optimize=optimize, stats=stats)

    def term(u) -> F.Column:
        return F.col(u.name) if isinstance(u, Var) else F.lit(u.value)

    null_s = F.lit(None).cast("string")
    parts = []
    for s_u, p_u, o_u in units:
        row = sol.select(
            term(s_u).alias("s"),
            F.lit(model.NAMED).alias("s_kind"),
            term(p_u).alias("p"),
            term(o_u).alias("o_value"),
            F.lit(model.NAMED).alias("o_kind"),
            null_s.alias("o_lang"),
            null_s.alias("o_datatype"),
        )
        parts.append(
            row.filter(
                F.col("s").isNotNull()
                & F.col("p").isNotNull()
                & F.col("o_value").isNotNull()
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.dropDuplicates(["s", "p", "o_value"])


def ask_ground(triples: DataFrame, query: Sparql) -> DataFrame:
    """Variable-free ASK (the canonical ``ASK { a next b }`` form): every
    pattern — fixed-shape or path — is fully bound, so each evaluates to a
    0/1-row gate; the ASK holds iff every gate holds. Returns the engine's
    ASK convention: 0 or 1 rows, column ``ask`` = true. An empty group
    matches with one empty solution (SPARQL spec), i.e. ask = true."""
    return _ask_ground(triples, None, query)


def _ask_ground(
    triples: DataFrame, named: DataFrame | None, query: Sparql
) -> DataFrame:
    """:func:`ask_ground` over a dataset — the ground-ASK query form of
    both stores and the ground-WHERE gate of SPARQL UPDATE's modify form.
    Ground patterns and paths gate on ``triples``, each GRAPH group on
    its graphs in ``named``, and a constant FILTER is a gate of its own."""
    if (
        query.optionals
        or query.minuses
        or query.values_blocks
        or query.exists_groups
        or query.binds
        or query.subqueries
    ):
        raise QueryError(
            "ask_ground() evaluates ground patterns, paths, GRAPH groups "
            "and FILTERs only"
        )

    def ask(df: DataFrame) -> DataFrame:
        return df.limit(1).select(F.lit(True).alias("ask"))

    gates: list[DataFrame] = []
    for cond in query.conds:
        if _var_positions(cond):
            raise QueryError(f"ask_ground() requires fully-bound patterns: {cond!r}")
        gates.append(ask(pattern_filter(triples, *_bounds(cond))))
    for s_u, expr, o_u in query.paths:
        if isinstance(s_u, Var) or isinstance(o_u, Var):
            raise QueryError(f"ask_ground() requires fully-bound path ends: {expr!r}")
        gates.append(ask(_path_plan(triples, s_u, expr, o_u)))
    for gterm, group in query.graph_groups:
        gates.append(_ask_ground(_graph_frame(named, gterm), None, group))
    if query.filters or not gates:
        from rippledb_spark.plans.filters import to_column

        one = triples.sparkSession.createDataFrame([(True,)], "ask boolean")
        for fexpr in query.filters:
            _check_bound(fexpr, [], _FILTER_UNBOUND)
            one = one.filter(to_column(fexpr))
        gates.append(one)
    out = gates[0]
    for g in gates[1:]:
        out = out.intersect(g)
    return out


def _named_node_gate(triples: DataFrame, value: str) -> DataFrame:
    """0/1-row gate: does ``value`` denote a NAMED node in the store (it
    appears as some subject, or as an object with o_kind = named)?  Bound
    pattern values match named nodes only (``pattern_filter``'s rule,
    graph.rs:1031-1033); this extends the same rule to the bound ends of
    closure paths, which the fixpoint evaluator compares by string value
    alone. Residual, closure paths only: the check is per-NODE, not
    per-edge — if the same string occurs both as a named node and as a
    literal object on a matched predicate (pathological in RDF), a closure
    ending at the literal twin still matches; exact per-edge kind would
    have to thread o_kind through every closure round. Closure-free paths
    lower to triple patterns (:func:`_lower_path`), where the rule holds
    per edge."""
    return (
        triples.filter(
            (F.col("s") == F.lit(value))
            | (
                (F.col("o_value") == F.lit(value))
                & (F.col("o_kind") == F.lit(model.NAMED))
            )
        )
        .limit(1)
        .select(F.lit(1).alias("__ng"))
    )


def _lower_path(expr, s_u, o_u, fresh) -> list[tuple] | None:
    """SPARQL 1.1 §18.2.2.4 translation of a closure-free path into triple
    patterns: ``X p Y`` is the pattern itself, ``X ^P Y`` is ``Y P X``,
    and ``X P1/P2 Y`` is ``X P1 ?v . ?v P2 Y`` with ``?v`` drawn from
    ``fresh``. None when ``expr`` contains a closure, alternative, negated
    set or zero-length step — those stay on the fixpoint evaluator."""
    from rippledb_spark.plans.paths import Inv, Pred, Seq

    if isinstance(expr, Pred):
        return [(s_u, Val(expr.name), o_u)]
    if isinstance(expr, Inv):
        return _lower_path(expr.inner, o_u, s_u, fresh)
    if isinstance(expr, Seq):
        conds: list[tuple] = []
        left = s_u
        for i, step in enumerate(expr.steps):
            right = o_u if i == len(expr.steps) - 1 else Var(next(fresh))
            lowered = _lower_path(step, left, right, fresh)
            if lowered is None:
                return None
            conds += lowered
            left = right
        return conds
    return None


def _path_plan(
    triples: DataFrame, s_u, expr: str, o_u, seeds: DataFrame | None = None
) -> DataFrame:
    """One property-path pattern → a joinable variable-column plan.

    A closure-free path (predicates, inverses and sequences of them)
    lowers to ordinary triple patterns (:func:`_lower_path`) and plans as
    a BGP join projected to the path's end variables — the same route,
    gates and named-only rule as any other pattern group. Its hidden
    joint variables are prefixed so they never collide with the end
    variables, the only columns the plan keeps.

    Any other path runs the fixpoint evaluator (plans.paths.path_pairs).
    Bound subject (or ``seeds`` — subject bindings already produced by the
    required patterns) seeds the evaluator, so closures expand only from
    it. A bound OBJECT with an unseeded subject evaluates the REVERSED
    path seeded at the object and swaps the pairs back
    (paths.reverse_path) — closures then expand the reachable frontier
    from the bound end instead of materializing the global relation (the
    symmetric optimization; a post-filter on the forward evaluation would
    be a full-closure scan at 100 TB). Both ends bound → a gate row, like
    a fully-bound triple pattern. Bound ends follow the engine's
    named-only matching rule via :func:`_named_node_gate`."""
    from rippledb_spark.plans.paths import parse_path, path_pairs, reverse_path

    ends = list(dict.fromkeys(u.name for u in (s_u, o_u) if isinstance(u, Var)))
    prefix = "__path"
    while any(n.lower().startswith(prefix) for n in ends):
        prefix = "_" + prefix
    path = parse_path(expr)
    conds = _lower_path(path, s_u, o_u, (f"{prefix}{i}" for i in itertools.count()))
    if conds is not None:
        plan = _join_group(triples, _order_patterns(conds))
        if ends:
            return plan.select(*ends)
        return plan.limit(1).select(F.lit(1).alias("__gate"))

    spark = triples.sparkSession
    srcs = seeds
    gates: list[DataFrame] = []
    if isinstance(s_u, Val):
        srcs = spark.createDataFrame([(s_u.value,)], ["node"])
        gates.append(_named_node_gate(triples, s_u.value))
    if isinstance(o_u, Val) and srcs is None:
        dsts = spark.createDataFrame([(o_u.value,)], ["node"])
        pairs = path_pairs(triples, reverse_path(path), srcs=dsts).select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
        gates.append(_named_node_gate(triples, o_u.value))
    else:
        pairs = path_pairs(triples, path, srcs=srcs)
        if isinstance(o_u, Val):
            pairs = pairs.filter(F.col("dst") == F.lit(o_u.value))
            gates.append(_named_node_gate(triples, o_u.value))
    for g in gates:
        pairs = pairs.crossJoin(F.broadcast(g)).drop("__ng")
    if isinstance(s_u, Var) and isinstance(o_u, Var):
        if s_u.name == o_u.name:
            return pairs.filter(F.col("src") == F.col("dst")).select(
                F.col("src").alias(s_u.name)
            )
        return pairs.select(
            F.col("src").alias(s_u.name), F.col("dst").alias(o_u.name)
        )
    if isinstance(s_u, Var):
        return pairs.select(F.col("src").alias(s_u.name))
    if isinstance(o_u, Var):
        return pairs.select(F.col("dst").alias(o_u.name))
    return pairs.limit(1).select(F.lit(1).alias("__gate"))


def _join_group(
    triples: DataFrame, conds: list, graph_var: str | None = None
) -> DataFrame:
    """Inner equi-join chain for one pattern group (shared-variable
    columns join; gates broadcast; disconnected patterns cross-join).
    With ``graph_var`` (``GRAPH ?g``) ``triples`` is the named quads and
    each pattern also projects its ``g`` column as that variable, so the
    chain joins within one graph."""
    if not conds:
        raise QueryError("empty pattern group")
    acc = None
    for cond in conds:
        ci = pattern_filter(triples, *_bounds(cond))
        # Same var twice in one pattern (e.g. [$x, p, $x]), or the graph
        # variable in a pattern position (GRAPH ?g { ?g ?p ?o }) →
        # equality filter.
        cols = {} if graph_var is None else {graph_var: "g"}
        for i, name in _var_positions(cond):
            if name in cols:
                ci = ci.filter(F.col(cols[name]) == F.col(position_column(i)))
            else:
                cols[name] = position_column(i)
        if not cols:
            # Fully-bound pattern acts as a gate (see get()).
            acc = _join(acc, ci.limit(1).select(F.lit(1).alias("__gate")))
            continue
        acc = _join(acc, ci.select(*[F.col(c).alias(n) for n, c in cols.items()]))
    if "__gate" in acc.columns:
        acc = acc.drop("__gate")
    return acc
