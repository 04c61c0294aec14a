"""SPARQL 1.1 dataset evaluation: GRAPH groups + FROM/FROM NAMED over a
quads DataFrame (dataset-tier superset — the reference is single-graph,
src/datastore/graph.rs keeps one K2Tree store with no graph dimension).

A dataset (spec §13) is one DEFAULT graph plus zero or more NAMED graphs.
Here it is one DataFrame in model.QUADS_SCHEMA: ``g`` NULL = default
graph, ``g`` = IRI = that named graph. Evaluation semantics:

- plain patterns in the WHERE group match the DEFAULT graph only;
- ``GRAPH <iri> { group }`` matches inside that one named graph — the
  group gets the FULL single-graph machinery (paths, FILTER) because the
  graph scope reduces to a filter + the ordinary triples evaluator;
- ``GRAPH ?g { group }`` matches inside EVERY named graph, binding ?g —
  each triple pattern scans the named-quads frame keeping ``g`` as an
  ordinary join column, so the per-graph iteration the spec describes
  becomes ONE distributed join chain (no driver-side loop over graphs,
  which is the design that survives a store with millions of graphs);
- ``FROM`` / ``FROM NAMED`` (§13.2) REPLACE the store's dataset: default
  = RDF merge (set union) of the FROM graphs, named set = the FROM NAMED
  IRIs; either list empty ⇒ that side of the dataset is empty, per spec.

Scale shape: graph labels are an ordinary string column — GRAPH <iri>
prunes by an equality predicate (partition-prunable when the store is
persisted partitioned by g or bucketed on it), GRAPH ?g joins carry g as
one more equi-join key. Nothing collects; nothing loops per graph.

Property paths work under both scopes: GRAPH <iri> reduces to a filter +
the single-graph evaluator, and GRAPH ?var evaluates paths over a
GRAPH-TAGGED node space ('<g>\\x00<node>') so one fixpoint run computes
every graph's closure simultaneously — a step can never cross graphs
because both join sides carry the label prefix. Bound path ends seed one
row per graph (frontier-only expansion, same as the single-graph bound-end
optimization). The only refusal left: GRAPH groups do not nest.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from rippledb_spark import model
from rippledb_spark.errors import QueryError
from rippledb_spark.operators.triple_patterns import pattern_filter, position_column
from rippledb_spark.plans import bgp
from rippledb_spark.plans.sparql import Sparql, Val, Var


def dataset_frames(quads: DataFrame, query: Sparql) -> tuple[DataFrame, DataFrame]:
    """(default_triples, named_quads) for the query's dataset: the store's
    own split when no FROM clauses are present, else the §13.2 replacement
    dataset. The FROM default graph is an RDF merge — set union across the
    listed graphs (one dropDuplicates on the triple identity)."""
    from_graphs = list(getattr(query, "from_graphs", []))
    from_named = list(getattr(query, "from_named", []))
    if not from_graphs and not from_named:
        default = quads.filter(F.col("g").isNull()).select(*model.TRIPLE_KEY)
        named = quads.filter(F.col("g").isNotNull())
        return default, named
    if from_graphs:
        default = (
            quads.filter(F.col("g").isin(from_graphs))
            .select(*model.TRIPLE_KEY)
            .dropDuplicates(model.TRIPLE_KEY)
        )
    else:
        default = quads.select(*model.TRIPLE_KEY).limit(0)
    named = (
        quads.filter(F.col("g").isin(from_named) & F.col("g").isNotNull())
        if from_named
        else quads.limit(0)
    )
    return default, named


def _group_all_vars(group: Sparql) -> list[str]:
    seen: list[str] = []
    for cond in group.conds:
        for u in cond:
            if isinstance(u, Var) and u.name not in seen:
                seen.append(u.name)
    for s_u, _, o_u in group.paths:
        for u in (s_u, o_u):
            if isinstance(u, Var) and u.name not in seen:
                seen.append(u.name)
    return seen


def _const_filter_gate(spark, filters: list) -> DataFrame | None:
    """Ground-group FILTERs: with no variables in scope a filter must be
    a constant expression — unbound references raise (matching the
    variable-bearing branch's loud error), constants fold into one 0/1
    gate frame. None when there are no filters."""
    if not filters:
        return None
    from rippledb_spark.plans.filters import filter_vars, to_column

    gate = spark.range(1).select(F.lit(1).alias("__gate"))
    for fexpr in filters:
        unbound = sorted(filter_vars(fexpr))
        if unbound:
            raise QueryError(f"FILTER references unbound variables {unbound}")
        gate = gate.filter(to_column(fexpr))
    return gate


def ask_ground_dataset(
    default: DataFrame, named: DataFrame | None, query: Sparql
) -> DataFrame:
    """Variable-free ASK over a dataset — the ground-ASK query form and
    the ground-WHERE gate of SPARQL UPDATE's modify form: ground patterns
    and paths gate on ``default``, each GRAPH <iri> group on its graph in
    ``named``, constant FILTERs fold in. 0 or 1 rows, column ``ask``."""
    if not query.graph_groups:
        return bgp.ask_ground(default, query)
    if (
        query.optionals
        or query.minuses
        or query.values_blocks
        or query.exists_groups
        or query.binds
        or query.subqueries
    ):
        raise QueryError(
            "ground ASK with GRAPH scopes supports triple, path, and FILTER "
            "patterns only"
        )
    core = Sparql()
    core.conds = list(query.conds)
    core.paths = list(query.paths)
    ask = bgp.ask_ground(default, core) if (core.conds or core.paths) else None
    for gterm, group in query.graph_groups:
        gate = _named_graph_plan(named, gterm.value, group).select(
            F.lit(True).alias("ask")
        )
        ask = gate if ask is None else ask.intersect(gate)
    fg = _const_filter_gate(default.sparkSession, query.filters)
    if fg is not None:
        ask = ask.intersect(fg.limit(1).select(F.lit(True).alias("ask")))
    return ask.limit(1)


def _named_graph_plan(named_quads: DataFrame, iri: str, group: Sparql) -> DataFrame:
    """GRAPH <iri> { group }: the scope is a filter, then the ordinary
    single-graph evaluator runs the whole group (patterns, paths,
    FILTERs). Variable-free groups lower to a 0/1-row gate."""
    triples = named_quads.filter(F.col("g") == F.lit(iri)).select(*model.TRIPLE_KEY)
    names = _group_all_vars(group)
    if not names:
        # ground group: survives iff every pattern AND path matches in the
        # graph (paths with ground ends gate exactly like bgp.ask_ground's)
        gate = None
        for cond in group.conds:
            bounds = tuple(None if isinstance(u, Var) else u.value for u in cond)
            ci = pattern_filter(triples, *bounds).limit(1).select(F.lit(1).alias("__gate"))
            gate = ci if gate is None else gate.intersect(ci)
        for s_u, expr, o_u in group.paths:
            pg = (
                bgp._path_plan(triples, s_u, expr, o_u)
                .limit(1)
                .select(F.lit(1).alias("__gate"))
            )
            gate = pg if gate is None else gate.intersect(pg)
        fg = _const_filter_gate(named_quads.sparkSession, group.filters)
        if fg is not None and gate is not None:
            gate = gate.intersect(fg.limit(1))
        elif fg is not None:
            gate = fg.limit(1)
        if gate is None:
            raise QueryError("GRAPH group is empty")
        return gate
    plan = Sparql()
    plan.conds = list(group.conds)
    plan.paths = list(group.paths)
    plan.filters = list(group.filters)
    plan.select([f"${n}" for n in names])
    return bgp.select_join(triples, plan)


# Separator for the per-graph node space used by path evaluation inside
# GRAPH ?var: NUL cannot appear in IRIs, so '<g>\x00<node>' is collision-
# free for named nodes (a literal containing NUL could alias — documented
# residual, pathological in RDF).
_G_SEP = "\x00"


def _tagged_triples(named_quads: DataFrame) -> DataFrame:
    """Named quads → a TRIPLES-schema frame whose subject/object values
    are prefixed with the graph label: closures over this frame can never
    cross graphs (a step joins dst = src on the TAGGED value, and both
    carry the label), so ONE fixpoint run evaluates every graph's closure
    simultaneously — the distributed form of the spec's per-graph
    iteration, with no driver loop over graphs."""
    tag = lambda c: F.concat(F.col("g"), F.lit(_G_SEP), c)  # noqa: E731
    return named_quads.select(
        tag(F.col("s")).alias("s"),
        F.col("s_kind"),
        F.col("p"),
        tag(F.col("o_value")).alias("o_value"),
        F.col("o_kind"),
        F.col("o_lang"),
        F.col("o_datatype"),
    )


def _named_gate_graphs(named_quads: DataFrame, value: str) -> DataFrame:
    """DataFrame(g) of graphs where ``value`` denotes a NAMED node — the
    per-graph form of bgp._named_node_gate (bound path ends match named
    nodes only, graph.rs:1031-1033)."""
    return (
        named_quads.filter(
            (F.col("s") == F.lit(value))
            | ((F.col("o_value") == F.lit(value)) & (F.col("o_kind") == model.NAMED))
        )
        .select("g")
        .distinct()
    )


def _var_graph_path_plan(
    named_quads: DataFrame, gname: str, s_u, expr: str, o_u
) -> DataFrame:
    """One property-path pattern inside GRAPH ?g → a joinable plan with
    the graph variable column. Bound ends seed per-graph (one seed row
    per graph — closures expand only reachable frontiers, exactly like
    the single-graph bound-end optimization)."""
    from rippledb_spark.plans.paths import path_pairs, reverse_path

    graphs = named_quads.select("g").distinct()
    tagged = _tagged_triples(named_quads)

    def seed_frame(value: str) -> DataFrame:
        return graphs.select(
            F.concat(F.col("g"), F.lit(_G_SEP), F.lit(value)).alias("node")
        )

    gate_gs: list[DataFrame] = []
    if isinstance(s_u, Val):
        pairs = path_pairs(tagged, expr, srcs=seed_frame(s_u.value))
        gate_gs.append(_named_gate_graphs(named_quads, s_u.value))
    elif isinstance(o_u, Val):
        pairs = path_pairs(tagged, reverse_path(expr), srcs=seed_frame(o_u.value)).select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
        gate_gs.append(_named_gate_graphs(named_quads, o_u.value))
    else:
        pairs = path_pairs(tagged, expr)

    untag = lambda c: F.expr(f"substring({c}, instr({c}, chr(0)) + 1)")  # noqa: E731
    out = pairs.select(
        F.substring_index(F.col("src"), _G_SEP, 1).alias(gname),
        untag("src").alias("__ps"),
        untag("dst").alias("__po"),
    )
    if isinstance(o_u, Val):
        out = out.filter(F.col("__po") == F.lit(o_u.value))
    if isinstance(s_u, Val):
        out = out.filter(F.col("__ps") == F.lit(s_u.value))
    for gg in gate_gs:
        out = out.join(gg.withColumnRenamed("g", gname), on=gname, how="left_semi")
    cols = [F.col(gname)]
    if isinstance(s_u, Var):
        if isinstance(o_u, Var) and o_u.name == s_u.name:
            out = out.filter(F.col("__ps") == F.col("__po"))
            if s_u.name == gname:  # GRAPH ?g { ?g path ?g }
                return out.filter(F.col("__ps") == F.col(gname)).select(
                    F.col(gname)
                )
            return out.select(F.col(gname), F.col("__ps").alias(s_u.name))
        if s_u.name == gname:
            # the graph variable as a path end (GRAPH ?g { ?g path ?y }):
            # an equality constraint, not a second same-named column
            out = out.filter(F.col("__ps") == F.col(gname))
        else:
            cols.append(F.col("__ps").alias(s_u.name))
    if isinstance(o_u, Var):
        if o_u.name == gname:
            out = out.filter(F.col("__po") == F.col(gname))
        else:
            cols.append(F.col("__po").alias(o_u.name))
    return out.select(*cols)


def _var_graph_plan(named_quads: DataFrame, gname: str, group: Sparql) -> DataFrame:
    """GRAPH ?g { group }: one join chain over the named-quads frame with
    ``g`` projected as the graph variable on every pattern — the
    distributed form of the spec's per-named-graph evaluation. Property
    paths evaluate over the graph-tagged node space (one fixpoint run for
    ALL graphs — see _tagged_triples)."""
    if not group.conds and not group.paths:
        raise QueryError("GRAPH group is empty")
    conds = bgp._order_patterns(group.conds, None) if group.conds else []
    plans: list[DataFrame] = []
    for cond in conds:
        bounds = tuple(None if isinstance(u, Var) else u.value for u in cond)
        ci = pattern_filter(named_quads, *bounds)
        vpos = [(i, u.name) for i, u in enumerate(cond) if isinstance(u, Var)]
        seen: dict[str, int] = {}
        for i, name in vpos:
            if name == gname:
                # the graph variable also in a pattern position:
                # GRAPH ?g { ?g ?p ?o } constrains value == graph label
                ci = ci.filter(F.col(position_column(i)) == F.col("g"))
            elif name in seen:
                ci = ci.filter(
                    F.col(position_column(seen[name])) == F.col(position_column(i))
                )
            else:
                seen[name] = i
        cols = [F.col("g").alias(gname)]
        cols += [F.col(position_column(i)).alias(n) for n, i in seen.items()]
        plans.append(ci.select(*cols))
    for s_u, expr, o_u in group.paths:
        plans.append(_var_graph_path_plan(named_quads, gname, s_u, expr, o_u))
    acc = plans[0]
    for nxt in plans[1:]:
        shared = sorted(set(acc.columns) & set(nxt.columns))
        # every pattern carries the graph variable, so shared is never empty
        acc = acc.join(nxt, on=shared, how="inner")
    for fexpr in group.filters:
        from rippledb_spark.plans.filters import filter_vars, to_column

        unbound = sorted(v for v in filter_vars(fexpr) if v not in acc.columns)
        if unbound:
            raise QueryError(f"FILTER references unbound variables {unbound}")
        acc = acc.filter(to_column(fexpr))
    return acc


def select_union_dataset(quads: DataFrame, query) -> DataFrame:
    """UNION over the dataset: each arm evaluates with full GRAPH/FROM
    support, then bag-union (bgp.select_union's shape with the dataset
    evaluator substituted for the arms)."""
    from rippledb_spark.plans.sparql import SparqlUnion

    lnames, rnames = query.left.var_names(), query.right.var_names()
    if set(lnames) != set(rnames):
        raise QueryError(
            f"UNION arms project different variables: {lnames} vs {rnames}"
        )

    def ev(q) -> DataFrame:
        if isinstance(q, SparqlUnion):
            return select_union_dataset(quads, q)
        return select_dataset(quads, q)

    return ev(query.left).unionByName(ev(query.right))


def _graph_group_plans(named: DataFrame, graph_groups: list) -> list[DataFrame]:
    plans: list[DataFrame] = []
    for gterm, group in graph_groups:
        if isinstance(gterm, Var):
            plans.append(_var_graph_plan(named, gterm.name, group))
        else:
            plans.append(_named_graph_plan(named, gterm.value, group))
    return plans


def _lower_group(
    default: DataFrame,
    named: DataFrame,
    group,
    optimize: bool,
    stats: dict[str, int] | None,
):
    """Pre-lower an OPTIONAL/MINUS/EXISTS group containing GRAPH scopes
    into one solution DataFrame (select_join uses it as the group plan
    directly). Groups without GRAPH scopes pass through untouched."""
    import copy

    if not isinstance(group, Sparql) or not group.graph_groups:
        return group
    names = _group_all_vars(group)
    for gterm, g2 in group.graph_groups:
        if isinstance(gterm, Var) and gterm.name not in names:
            names.append(gterm.name)
        for n in _group_all_vars(g2):
            if n not in names:
                names.append(n)
    if not names:
        raise QueryError(
            "a GRAPH group inside OPTIONAL/MINUS/EXISTS must bind at "
            "least one variable"
        )
    sub = copy.copy(group)
    sub.vars = []
    sub.graph_groups = []
    sub.prejoined = _graph_group_plans(named, group.graph_groups)
    sub.select([f"${n}" for n in names])
    return bgp.select_join(default, sub, optimize=optimize, stats=stats)


def select_dataset(
    quads: DataFrame,
    query: Sparql,
    optimize: bool = True,
    stats: dict[str, int] | None = None,
) -> DataFrame:
    """Evaluate a SELECT query with GRAPH groups / dataset clauses over a
    quads frame: lower each GRAPH group (top-level, and inside
    OPTIONAL/MINUS/EXISTS) to a pre-evaluated plan, then delegate to the
    single-graph evaluator against the dataset's default graph — GRAPH
    solutions join in as ordinary solution sets (the spec's
    join-of-multisets), so OPTIONAL/FILTER/BIND/aggregates/modifiers all
    behave exactly as in select_join."""
    default, named = dataset_frames(quads, query)
    saved = (
        list(getattr(query, "optionals", [])),
        list(getattr(query, "minuses", [])),
        list(getattr(query, "exists_groups", [])),
    )
    # the whole mutation window sits inside the try: if lowering a later
    # group raises (e.g. "must bind at least one variable"), the finally
    # still restores the query object so it stays reusable
    try:
        query.prejoined = _graph_group_plans(
            named, getattr(query, "graph_groups", [])
        )
        query.optionals = [
            _lower_group(default, named, g, optimize, stats) for g in saved[0]
        ]
        query.minuses = [
            _lower_group(default, named, g, optimize, stats) for g in saved[1]
        ]
        query.exists_groups = [
            (pos, _lower_group(default, named, g, optimize, stats))
            for pos, g in saved[2]
        ]
        return bgp.select_join(default, query, optimize=optimize, stats=stats)
    finally:
        query.prejoined = []
        query.optionals, query.minuses, query.exists_groups = saved
