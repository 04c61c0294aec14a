"""SPARQL 1.1 datasets over a quads DataFrame: the dataset frames a query
runs on, and the graph-tagged path route of ``GRAPH ?g`` (dataset-tier
superset — the reference is single-graph, src/datastore/graph.rs keeps
one K2Tree store with no graph dimension).

A dataset (spec §13) is one DEFAULT graph plus zero or more NAMED graphs.
Here it is one DataFrame in model.QUADS_SCHEMA: ``g`` NULL = default
graph, ``g`` = IRI = that named graph. :func:`dataset_frames` splits it
into the default graph's triples and the named graphs' quads; ``FROM`` /
``FROM NAMED`` (§13.2) REPLACE the store's dataset: default = RDF merge
(set union) of the FROM graphs, named set = the FROM NAMED IRIs; either
list empty ⇒ that side of the dataset is empty, per spec.

GRAPH groups are planned by plans.bgp's group evaluator, where they
occur, as ordinary groups over the named graphs:
``GRAPH <iri>`` filters the named quads to that graph; ``GRAPH ?g`` joins
each triple pattern over all named quads with ``g`` as one more join
column, so the spec's per-graph iteration is ONE distributed join chain
(no driver-side loop over graphs, the design that survives a store with
millions of graphs). Paths inside ``GRAPH ?g`` run
:func:`_var_graph_path_plan` over a GRAPH-TAGGED node space
('<g>\\x00<node>'), so one fixpoint run computes every graph's closure
simultaneously — a step can never cross graphs because both join sides
carry the label prefix.

Scale shape: graph labels are an ordinary string column — GRAPH <iri>
prunes by an equality predicate (partition-prunable when the store is
persisted partitioned by g), GRAPH ?g joins carry g as one more equi-join
key. Nothing collects; nothing loops per graph.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from rippledb_spark import model
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


def _named_gate_graphs(named_quads: DataFrame, u: Val) -> DataFrame:
    """DataFrame(g) of graphs holding the node ``u`` — the per-graph form
    of bgp._named_node_gate (bound closure-path ends)."""
    return bgp._node_rows(named_quads, u).select("g").distinct()


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
        gate_gs.append(_named_gate_graphs(named_quads, s_u))
    elif isinstance(o_u, Val):
        pairs = path_pairs(tagged, reverse_path(expr), srcs=seed_frame(o_u.value)).select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
        gate_gs.append(_named_gate_graphs(named_quads, o_u))
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


def select_dataset(
    quads: DataFrame,
    query: Sparql,
    optimize: bool = True,
    stats: dict[str, int] | None = None,
) -> DataFrame:
    """Evaluate a SELECT query over a quads frame: the query's dataset
    (:func:`dataset_frames`), then plans.bgp's group evaluator, which
    plans each GRAPH group where it occurs — top level or inside
    OPTIONAL/MINUS/EXISTS — so GRAPH solutions join in as ordinary
    solution sets (the spec's join-of-multisets). ``query`` is not
    modified."""
    default, named = dataset_frames(quads, query)
    return bgp._select(default, named, query, optimize, stats)
