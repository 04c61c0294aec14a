"""SPARQL 1.1 property paths over the triples store (engine-tier superset).

The reference's query surface is conjunctive BGP only (src/rdf/query.rs:27-63
has no path operators; src/datastore/graph.rs:333-413 evaluates fixed-shape
patterns), so paths extend the documented superset the way OPTIONAL and UNION
already do. Grammar (the core of W3C SPARQL 1.1 §9.1):

    path     := alt
    alt      := seq ('|' seq)*
    seq      := step ('/' step)*
    step     := '^' step | primary ('+' | '*' | '?')*
    primary  := '(' path ')' | '!' negated | predicate-name
    negated  := negmember | '(' negmember ('|' negmember)* ')'
    negmember:= '^'? predicate-name

Semantics follow the spec's ALP evaluation:

- ``p``        — all (s, o) pairs of predicate ``p`` (bag).
- ``p1/p2``    — relational join on the intermediate node (bag).
- ``p1|p2``    — bag union.
- ``^p``       — inverse: swap src/dst.
- ``p+``       — transitive closure, DISTINCT node pairs (the spec's
                 OneOrMorePath is set-valued precisely so cyclic data
                 terminates).
- ``p*``       — ``p+`` ∪ zero-length pairs, distinct.
- ``p?``       — ``p`` ∪ zero-length pairs, distinct.
- ``!(p1|^p2)`` — negated property set (spec §18.2.2.3): the forward
                 members exclude predicates over (s, o) pairs, the inverse
                 members exclude predicates over swapped (o, s) pairs, and
                 the two parts union. ``!p`` is shorthand for ``!(p)``.

Planner route: in a query, a closure-free path — a predicate, an
inverse, or a sequence of them — does not reach this evaluator.
``plans.bgp._path_plan`` lowers it to ordinary triple patterns under the
spec's §18.2.2.4 translation (``X p/q Y`` ≡ ``X p ?v . ?v q Y``,
``X ^p Y`` ≡ ``Y p X``) and plans it as a BGP join, so bound ends follow
the named-only rule per edge.
Only query paths containing a closure (``+ * ?``), an alternative, a
negated set or a zero-length step run through :func:`path_pairs`.

Zero-length paths: the spec matches every term in the graph; here that is
the store's node universe (distinct ``s`` ∪ ``o_value``) — identical, since
a term "in the graph" is exactly one appearing in some triple. When a
source-seed DataFrame is supplied (the bound-subject case), zero-length
pairs restrict to the seeds, matching the spec's evaluation from a bound
end.

Scale shape: closure is evaluated like :func:`operators.graph.bfs_reachability`
— each round joins ONLY the frontier against the (cached) step relation
(frontier×degree work, never accumulated-pairs×edges), then folds the grown
pairs into the checkpoint-truncated accumulator with a min-aggregate (the
dedup pass is O(accumulated pairs) per round — the standard semi-naive
trade); never per-path enumeration (which diverges on cycles and explodes
on dense graphs). Inside a sequence,
a closure step is seeded with the distinct frontier of the prefix, so
``placed_by/within+`` expands only from reachable nodes instead of
materializing the global closure. Node identity joins on the value column
(the engine-wide flattened-model convention — see plans.bgp.select_join).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from rippledb_spark.errors import QueryError
from rippledb_spark.operators.graph import (
    _iteration_conf,
    _release_iteration_garbage,
    _truncate,
)


# ---------------------------------------------------------------------------
# AST
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Pred:
    name: str


@dataclass(frozen=True)
class Inv:
    inner: "PathExpr"


@dataclass(frozen=True)
class Seq:
    steps: tuple["PathExpr", ...]


@dataclass(frozen=True)
class Alt:
    arms: tuple["PathExpr", ...]


@dataclass(frozen=True)
class Plus:
    inner: "PathExpr"


@dataclass(frozen=True)
class Star:
    inner: "PathExpr"


@dataclass(frozen=True)
class Maybe:
    inner: "PathExpr"


@dataclass(frozen=True)
class Neg:
    """Negated property set: predicates NOT to match. ``forward`` members
    match (s, o); ``inverse`` members (written ``^p``) match (o, s)."""

    forward: tuple[str, ...]
    inverse: tuple[str, ...]


@dataclass(frozen=True)
class Zero:
    """The zero-length relation {(n, n)} — what ``p{0}`` denotes (the
    degenerate quantifier: zero repetitions match only a node to itself,
    like ``p*`` minus all positive-length hops)."""


PathExpr = Pred | Inv | Seq | Alt | Plus | Star | Maybe | Neg | Zero

_TOKEN = re.compile(r"\s*(?:(<[^<>]*>)|([/|^+*?()!{},])|([^/|^+*?(){},!\s]+))")


def _repeat(expr: PathExpr, lo: int, hi: int | None) -> PathExpr:
    """Desugar a quantifier ``expr{lo,hi}`` onto the core AST (SPARQL 1.1
    draft §18.2 path quantifiers — dropped from the final REC but widely
    useful; semantics match the draft's set-based reading):

        p{n}    = p/p/.../p           (n copies)
        p{n,}   = p{n}/p*
        p{n,m}  = p{n}/p?/.../p?      (m-n optional copies)
        p{0}    = the zero-length relation

    Composing ``Maybe`` arms reuses Seq's frontier seeding, so a bounded
    quantifier is exactly m joins against the step relation — never an
    unbounded closure; an open upper bound reuses the Star fixpoint."""
    if lo < 0 or (hi is not None and hi < lo):
        raise QueryError(f"bad path quantifier bounds {{{lo},{hi}}}")
    if hi is None:
        if lo == 0:
            return Star(expr)
        steps = (expr,) * lo + (Star(expr),)
        return Seq(steps)
    if hi == 0:  # lo == 0 too (checked above)
        return Zero()
    steps = (expr,) * lo + (Maybe(expr),) * (hi - lo)
    return steps[0] if len(steps) == 1 else Seq(steps)


def parse_path(text: str) -> PathExpr:
    """Parse the compact path syntax above into a PathExpr."""
    tokens: list[str] = []
    pos = 0
    while pos < len(text):
        m = _TOKEN.match(text, pos)
        if not m or m.end() == pos:
            raise QueryError(f"bad path syntax at offset {pos}: {text!r}")
        if m.group(1) is not None:
            # <iri> — full IRIs contain '/' (and may contain '+' etc.), so
            # SPARQL's angle-bracket form is the way to use them in paths;
            # the brackets are stripped, the IRI becomes one predicate
            # token. Bare names remain fine for bracket-free vocabularies.
            tokens.append(("IRI", m.group(1)[1:-1]))
        else:
            tokens.append(m.group(2) or m.group(3))
        pos = m.end()
    if not tokens:
        raise QueryError("empty path expression")

    idx = 0

    def peek() -> str | None:
        return tokens[idx] if idx < len(tokens) else None

    def take() -> str:
        nonlocal idx
        tok = tokens[idx]
        idx += 1
        return tok

    def parse_alt() -> PathExpr:
        arms = [parse_seq()]
        while peek() == "|":
            take()
            arms.append(parse_seq())
        return arms[0] if len(arms) == 1 else Alt(tuple(arms))

    def parse_seq() -> PathExpr:
        steps = [parse_step()]
        while peek() == "/":
            take()
            steps.append(parse_step())
        return steps[0] if len(steps) == 1 else Seq(tuple(steps))

    def parse_bounds() -> tuple[int, int | None]:
        """'{' already consumed: n} | n,} | n,m} | ,m}"""

        def digits() -> int:
            tok = peek()
            if not (isinstance(tok, str) and tok.isdigit()):
                raise QueryError(f"expected digits in path quantifier of {text!r}")
            return int(take())

        if peek() == ",":  # {,m} = {0,m}
            take()
            lo, hi = 0, digits()
        else:
            lo = digits()
            if peek() == ",":
                take()
                hi = None if peek() == "}" else digits()
            else:
                hi = lo
        if peek() != "}":
            raise QueryError(f"unclosed '{{' in path quantifier of {text!r}")
        take()
        return lo, hi

    def parse_step() -> PathExpr:
        if peek() == "^":
            take()
            return Inv(parse_step())
        expr = parse_primary()
        while peek() in ("+", "*", "?", "{"):
            tok = take()
            if tok == "{":
                expr = _repeat(expr, *parse_bounds())
            else:
                expr = {"+": Plus, "*": Star, "?": Maybe}[tok](expr)
        return expr

    def parse_negmember(fwd: list[str], inv: list[str]) -> None:
        inverse = False
        if peek() == "^":
            take()
            inverse = True
        tok = peek()
        if isinstance(tok, tuple):
            take()
            name = tok[1]
        elif tok is None or tok in "/|^+*?()!{},":
            raise QueryError(
                f"expected predicate in negated property set of {text!r}, got {tok!r}"
            )
        else:
            name = take()
        (inv if inverse else fwd).append(name)

    def parse_negated() -> PathExpr:
        fwd: list[str] = []
        inv: list[str] = []
        if peek() == "(":
            take()
            parse_negmember(fwd, inv)
            while peek() == "|":
                take()
                parse_negmember(fwd, inv)
            if peek() != ")":
                raise QueryError(f"unclosed '(' in negated property set of {text!r}")
            take()
        else:
            parse_negmember(fwd, inv)
        return Neg(tuple(fwd), tuple(inv))

    def parse_primary() -> PathExpr:
        tok = peek()
        if isinstance(tok, tuple):  # ("IRI", value) from <...>
            take()
            return Pred(tok[1])
        if tok == "!":
            take()
            return parse_negated()
        if tok == "(":
            take()
            expr = parse_alt()
            if peek() != ")":
                raise QueryError(f"unclosed '(' in path {text!r}")
            take()
            return expr
        if tok is None or tok in "/|^+*?){},":
            raise QueryError(f"expected predicate or '(' in path {text!r}, got {tok!r}")
        return Pred(take())

    expr = parse_alt()
    if idx != len(tokens):
        raise QueryError(f"trailing tokens in path {text!r}: {tokens[idx:]}")
    return expr


def reverse_path(expr: PathExpr | str) -> PathExpr:
    """The path matching exactly the swapped pairs: (x, y) ∈ expr ⇔
    (y, x) ∈ reverse_path(expr). Used to evaluate a bound-OBJECT path as
    a seeded forward evaluation from the object (closures then expand the
    reachable frontier instead of the global relation — the same
    optimization bound subjects get)."""
    if isinstance(expr, str):
        expr = parse_path(expr)
    if isinstance(expr, Pred):
        return Inv(expr)
    if isinstance(expr, Inv):
        return expr.inner
    if isinstance(expr, Seq):
        return Seq(tuple(reverse_path(s) for s in reversed(expr.steps)))
    if isinstance(expr, Alt):
        return Alt(tuple(reverse_path(a) for a in expr.arms))
    if isinstance(expr, Plus):
        return Plus(reverse_path(expr.inner))
    if isinstance(expr, Star):
        return Star(reverse_path(expr.inner))
    if isinstance(expr, Maybe):
        return Maybe(reverse_path(expr.inner))
    if isinstance(expr, Neg):
        # forward members exclude (s,o) edges → reversed they exclude the
        # swapped pairs, i.e. become inverse members, and vice versa.
        return Neg(expr.inverse, expr.forward)
    if isinstance(expr, Zero):
        return expr  # (n, n) is its own reverse
    raise QueryError(f"unknown path expression {expr!r}")


# ---------------------------------------------------------------------------
# Evaluation
# ---------------------------------------------------------------------------


def _node_universe(triples: DataFrame) -> DataFrame:
    return (
        triples.select(F.col("s").alias("node"))
        .unionByName(triples.select(F.col("o_value").alias("node")))
        .distinct()
    )


def _zero_length(triples: DataFrame, srcs: DataFrame | None) -> DataFrame:
    base = srcs.select("node").distinct() if srcs is not None else _node_universe(triples)
    return base.select(F.col("node").alias("src"), F.col("node").alias("dst"))


def _seed(pairs: DataFrame, srcs: DataFrame | None) -> DataFrame:
    if srcs is None:
        return pairs
    return pairs.join(
        srcs.select("node").distinct(), pairs["src"] == F.col("node"), "left_semi"
    )


def _closure(
    step: DataFrame,
    srcs: DataFrame | None,
    checkpoint_dir: str | None,
    max_iterations: int | None,
) -> DataFrame:
    """Distinct transitive closure of the ``step`` pair relation, optionally
    restricted to sources in ``srcs``. Frontier-only expansion to an exact
    fixpoint (every round's frontier is the pairs not yet seen; empty
    frontier ⇒ converged, no iteration-count guessing)."""
    base = step.select("src", "dst").distinct()
    # The step relation is probed once per round — cache it so round k
    # doesn't recompute the (possibly join-heavy) step plan k times. The
    # count materializes the cache AND sizes the round shuffles
    # (graph._iteration_conf: AQE off + cardinality-derived partitions
    # for the loop's duration). The probed copy is then re-cached
    # HASH-PARTITIONED ON src — the frontier-join key — so every round
    # shuffles only the frontier, never the step relation (see
    # graph.pagerank's e2 rationale).
    base.persist()
    n_base = base.count()
    from rippledb_spark.operators.graph import _iteration_partitions

    repart = base.repartition(
        _iteration_partitions(step.sparkSession, n_base), "src"
    ).persist()
    repart.count()  # materialize from the cached distinct, then drop it
    base.unpersist(blocking=False)
    base = repart
    # Semi-naive evaluation via a first-seen-round column: the accumulated
    # pair set carries the round each pair was first derived in, so the
    # next round's frontier is a FILTER on the accumulator (pairs with
    # r == current round) instead of a growing anti-join — each round
    # ships one join + one min-aggregate, the same union/groupBy/checkpoint
    # shape as operators.graph.bfs_reachability. Fixpoint is exact: when a
    # round adds no first-seen pairs the frontier empties and the loop
    # stops; cyclic data terminates because the distinct pair set is
    # finite and monotone.
    acc = _truncate(
        _seed(base, srcs).distinct().withColumn("r", F.lit(0)), checkpoint_dir
    )
    frontier = acc
    rounds = 0
    with _iteration_conf(step.sparkSession, n_base):
        while True:
            if max_iterations is not None and rounds >= max_iterations:
                break
            rounds += 1
            grown = (
                frontier.alias("f")
                .join(base.alias("b"), F.col("f.dst") == F.col("b.src"))
                .select(
                    F.col("f.src").alias("src"),
                    F.col("b.dst").alias("dst"),
                    F.lit(rounds).alias("r"),
                )
            )
            acc = _truncate(
                acc.unionByName(grown).groupBy("src", "dst").agg(F.min("r").alias("r")),
                checkpoint_dir,
            )
            frontier = acc.filter(F.col("r") == F.lit(rounds))
            if frontier.limit(1).count() == 0:
                break
    base.unpersist(blocking=False)
    out = acc.select("src", "dst")
    _release_iteration_garbage(out)
    return out


def path_pairs(
    triples: DataFrame,
    path: PathExpr | str,
    srcs: DataFrame | None = None,
    checkpoint_dir: str | None = None,
    max_iterations: int | None = None,
) -> DataFrame:
    """Evaluate ``path`` over the store → DataFrame(src, dst).

    ``srcs`` (a DataFrame with a ``node`` column) restricts evaluation to
    paths starting at those nodes — the bound-subject case; closures then
    expand only the reachable frontier instead of the global relation.
    ``max_iterations`` caps closure rounds (None = run to the exact
    fixpoint; closures over finite stores always terminate because the
    distinct pair set is bounded).
    """
    if isinstance(path, str):
        path = parse_path(path)

    def ev(expr: PathExpr, seeds: DataFrame | None) -> DataFrame:
        if isinstance(expr, Pred):
            pairs = triples.filter(F.col("p") == F.lit(expr.name)).select(
                F.col("s").alias("src"), F.col("o_value").alias("dst")
            )
            return _seed(pairs, seeds)
        if isinstance(expr, Inv):
            pairs = ev(expr.inner, None).select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
            return _seed(pairs, seeds)
        if isinstance(expr, Neg):
            # Spec §18.2.2.3: NPS(forward) ∪ inv(NPS(inverse)); each part
            # excludes only its own member list. One predicate-isin filter
            # per part — Catalyst pushes NOT IN to the scan like any other
            # predicate filter.
            parts: list[DataFrame] = []
            if expr.forward:
                parts.append(
                    triples.filter(~F.col("p").isin(list(expr.forward))).select(
                        F.col("s").alias("src"), F.col("o_value").alias("dst")
                    )
                )
            if expr.inverse:
                parts.append(
                    triples.filter(~F.col("p").isin(list(expr.inverse))).select(
                        F.col("o_value").alias("src"), F.col("s").alias("dst")
                    )
                )
            out = parts[0]
            for part in parts[1:]:
                out = out.unionByName(part)
            return _seed(out, seeds)
        if isinstance(expr, Alt):
            out = ev(expr.arms[0], seeds)
            for arm in expr.arms[1:]:
                out = out.unionByName(ev(arm, seeds))
            return out
        if isinstance(expr, Seq):
            acc = ev(expr.steps[0], seeds)
            for step in expr.steps[1:]:
                # Seed closure steps with the prefix's frontier so p+ inside
                # a sequence never materializes the global closure.
                if isinstance(step, (Plus, Star, Maybe)):
                    mid = acc.select(F.col("dst").alias("node")).distinct()
                    nxt = ev(step, mid)
                else:
                    nxt = ev(step, None)
                acc = (
                    acc.alias("l")
                    .join(nxt.alias("r"), F.col("l.dst") == F.col("r.src"))
                    .select(F.col("l.src").alias("src"), F.col("r.dst").alias("dst"))
                )
            return acc
        if isinstance(expr, Plus):
            step = ev(expr.inner, None)
            return _closure(step, seeds, checkpoint_dir, max_iterations)
        if isinstance(expr, Star):
            step = ev(expr.inner, None)
            plus = _closure(step, seeds, checkpoint_dir, max_iterations)
            return plus.unionByName(_zero_length(triples, seeds)).distinct()
        if isinstance(expr, Maybe):
            one = ev(expr.inner, seeds).distinct()
            return one.unionByName(_zero_length(triples, seeds)).distinct()
        if isinstance(expr, Zero):
            return _zero_length(triples, seeds)
        raise QueryError(f"unknown path expression {expr!r}")

    return ev(path, srcs)
