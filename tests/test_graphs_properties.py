"""Property-based checks of GRAPH evaluation (plans/bgp.py's group
evaluator, plans/graphs.py's tagged paths).

GRAPH ?var against a naive per-graph loop: the spec (§13.3) says GRAPH ?g
evaluates the group once per named graph with ?g bound to that graph's
IRI; the engine runs it as ONE distributed join chain (and, for paths, ONE
graph-tagged fixpoint). Random tiny datasets × random groups; the naive
loop — evaluate per graph with the SINGLE-graph machinery, union — is
the spec.

Store parity: random query texts give the same answer on a TripleStore,
on a QuadStore holding it as the default graph, and, with every group in
GRAPH <g:x>, on a QuadStore holding it as that named graph.

Spark runs per example, so example counts stay small (the same trade as
test_bgp_properties)."""

from __future__ import annotations

import copy
import random
from collections import Counter

import pytest

from rippledb_spark import model
from rippledb_spark.errors import QueryError
from rippledb_spark.plans import bgp
from rippledb_spark.plans.filters import filter_vars
from rippledb_spark.plans.graphs import select_dataset
from rippledb_spark.plans.sparql import Sparql, parse_unit
from rippledb_spark.quadstore import QuadStore
from rippledb_spark.store import TripleStore

GRAPHS = ["g:A", "g:B", "g:C"]
NODES = ["a", "b", "c", "d"]
PREDS = ["p", "q"]


def _random_quads(rng: random.Random) -> list[tuple]:
    rows = []
    for _ in range(rng.randint(4, 14)):
        g = rng.choice(GRAPHS + [None])
        rows.append(
            model.quad_row(g, rng.choice(NODES), rng.choice(PREDS), rng.choice(NODES))
        )
    return rows


def _random_group(rng: random.Random, fexpr: str | None = None) -> Sparql:
    """1-2 random patterns over ?x/?y and constants, plus FILTER ``fexpr``."""
    pats = []
    for _ in range(rng.randint(1, 2)):
        pat = []
        for pool in (NODES, PREDS, NODES):
            pat.append(rng.choice(["$x", "$y"]) if rng.random() < 0.5 else rng.choice(pool))
        pats.append(pat)
    grp = Sparql()
    grp.filter(pats)
    if fexpr is not None:
        grp.filter_expr(fexpr)
    return grp


def _naive_graph_var(qs: QuadStore, group: Sparql) -> set[tuple]:
    """The spec's per-graph loop: evaluate the group against each named
    graph with select_join, bind ?g to the IRI, union."""
    out: set[tuple] = set()
    names = sorted({u.name for cond in group.conds for u in cond if hasattr(u, "name")})
    for (g,) in qs.graph_names().collect():
        if not names:
            if bgp.ask_ground(qs.graph(g).df, group).count():
                out.add((g,))
            continue
        sub = copy.copy(group)
        sub.vars = []
        sub.select([f"${n}" for n in names])
        for row in qs.graph(g).select_join(sub).collect():
            out.add((g, *[row[n] for n in names]))
    return out


FILTERS = [None, '?x != "a"', "1 = 2", '?y = "b"']


@pytest.mark.parametrize("seed", range(12))
def test_graph_var_matches_per_graph_loop(spark, seed):
    rng = random.Random(7000 + seed)
    qs = QuadStore.from_rows(spark, _random_quads(rng))
    fexpr = FILTERS[seed % len(FILTERS)]
    grp = _random_group(rng, fexpr)
    names = sorted({u.name for cond in grp.conds for u in cond if hasattr(u, "name")})

    q = Sparql()
    q.graph_groups.append((parse_unit("$g"), grp))
    q.select(["$g"] + [f"${n}" for n in names])
    if fexpr is not None and not set(filter_vars(grp.filters[0])) <= set(names):
        with pytest.raises(QueryError, match="unbound"):
            select_dataset(qs.df, q)
        return
    got = {tuple(r) for r in select_dataset(qs.df, q).collect()}
    want = _naive_graph_var(qs, grp)
    assert got == want, f"seed {seed}: {sorted(got)} != {sorted(want)}"


def _naive_graph_path(qs: QuadStore, expr: str) -> set[tuple]:
    from rippledb_spark.plans.paths import path_pairs

    out: set[tuple] = set()
    for (g,) in qs.graph_names().collect():
        for row in path_pairs(qs.graph(g).df, expr).collect():
            out.add((g, row["src"], row["dst"]))
    return out


@pytest.mark.parametrize("seed", range(6))
@pytest.mark.parametrize("expr", ["p+", "p/q", "(p|q)+"])
def test_graph_var_paths_match_per_graph_loop(spark, seed, expr):
    rng = random.Random(9000 + seed)
    qs = QuadStore.from_rows(spark, _random_quads(rng))
    q = Sparql()
    grp = Sparql()
    grp.path("$x", expr, "$y")
    from rippledb_spark.plans.sparql import parse_unit

    q.graph_groups.append((parse_unit("$g"), grp))
    q.select(["$g", "$x", "$y"])
    got = {tuple(r) for r in select_dataset(qs.df, q).collect()}
    want = _naive_graph_path(qs, expr)
    assert got == want, f"seed {seed} {expr}: {sorted(got)} != {sorted(want)}"


# -- one evaluator: a TripleStore, the same graph as a QuadStore's default
# graph, and the same graph as the named graph <g:x> under GRAPH scopes ----

TERMS = {"s": ["a", "b"], "p": ["p", "q"], "o": ["a", "b", "c"]}


def _random_body(rng: random.Random, graph: str | None) -> str:
    """A random group body: 1-2 required patterns, then maybe an OPTIONAL
    (with a group FILTER), a MINUS and a FILTER. Each group is ground with
    probability 1/4; a FILTER mostly tests a variable of its group. With
    ``graph`` every group's patterns sit in ``GRAPH <graph>``; the
    top-level FILTER stays outside, so the scoping (and hence the result)
    is unchanged."""

    def patterns(n: int) -> tuple[str, list[str]]:
        ground = rng.random() < 0.25
        pats = [
            [
                rng.choice(TERMS[k]) if ground or rng.random() < 0.5
                else rng.choice(["?x", "?y", "?z"])
                for k in "spo"
            ]
            for _ in range(n)
        ]
        names = sorted({t for pat in pats for t in pat if t.startswith("?")})
        return " . ".join(" ".join(pat) for pat in pats), names

    def scoped(body: str) -> str:
        return body if graph is None else f"GRAPH <{graph}> {{ {body} }}"

    def fexpr(names: list[str]) -> str:
        v = rng.choice(names or ["?x"])
        return rng.choice(["1 = 1", "1 = 2", f'{v} != "a"', f'{v} = "b"'])

    required, names = patterns(rng.randint(1, 2))
    parts = [scoped(required)]
    if rng.random() < 0.5:
        inner, inner_names = patterns(1)
        if rng.random() < 0.5:
            inner += f" FILTER({fexpr(inner_names)})"
        parts.append(f"OPTIONAL {{ {scoped(inner)} }}")
    if rng.random() < 0.4:
        parts.append(f"MINUS {{ {scoped(patterns(1)[0])} }}")
    if rng.random() < 0.5:
        parts.append(f"FILTER({fexpr(names)})")
    return " ".join(parts)


def _random_text(rng: random.Random, form: str, graph: str | None) -> str:
    if form == "ask":
        return f"ASK {{ {_random_body(rng, graph)} }}"
    head = rng.choice(["*", "?x", "?x ?y"])
    if form == "select":
        return f"SELECT {head} WHERE {{ {_random_body(rng, graph)} }}"
    left, right = _random_body(rng, graph), _random_body(rng, graph)
    return f"SELECT {head} WHERE {{ {{ {left} }} UNION {{ {right} }} }}"


def _outcome(st, text: str, exact: bool):
    """``st.sparql(text)`` as a bag of rows, or the QueryError it raises
    (its message too when ``exact``)."""
    try:
        return Counter(
            tuple(sorted(r.asDict().items())) for r in st.sparql(text).collect()
        )
    except QueryError as e:
        return ("QueryError", str(e) if exact else None)


@pytest.mark.parametrize("seed", range(8))
@pytest.mark.parametrize("form", ["select", "ask", "union"])
def test_stores_agree_on_random_queries(spark, form, seed):
    rng = random.Random(f"{form}-{seed}")
    rows = {
        (rng.choice(TERMS["s"]), rng.choice(TERMS["p"]), rng.choice(TERMS["o"]))
        for _ in range(rng.randint(3, 8))
    }
    ts = TripleStore.from_rows(spark, sorted(rows))
    # the same draws give the plain text and its GRAPH-scoped twin
    state = rng.getstate()
    text = _random_text(rng, form, None)
    rng.setstate(state)
    scoped = _random_text(rng, form, "g:x")

    want = _outcome(ts, text, exact=True)
    as_default = QuadStore.from_triplestores(spark, default=ts)
    assert _outcome(as_default, text, exact=True) == want, text
    as_named = QuadStore.from_triplestores(spark, named={"g:x": ts})
    if isinstance(want, tuple):
        want = ("QueryError", None)
    assert _outcome(as_named, scoped, exact=False) == want, scoped
