"""Sparql query AST + builder (reference parity: Q1).

Mirrors the reference's ``Sparql`` builder (src/rdf/query.rs:27-63):
``$``-prefixed strings are variables (src/rdf/query.rs:8-25), everything else
is a literal value; ``select`` declares projection variables, ``filter`` adds
basic graph patterns. The reference PANICS on a pattern variable that wasn't
declared in ``select`` (query.rs:50-59); we raise ``ValueError`` instead —
same contract, recoverable.
"""

from __future__ import annotations

from dataclasses import dataclass

from rippledb_spark.errors import QueryError


@dataclass(frozen=True)
class Var:
    name: str  # without the leading '$'


@dataclass(frozen=True)
class Val:
    value: str


QueryUnit = Var | Val


def parse_unit(raw: str) -> QueryUnit:
    """'$x' → Var('x'); anything else → Val (src/rdf/query.rs:8-25)."""
    if raw.startswith("$"):
        name = raw[1:]
        if not name:
            raise QueryError("empty variable name '$'")
        return Var(name)
    return Val(raw)


class Sparql:
    """Builder for conjunctive triple-pattern (BGP) queries.

    >>> q = Sparql().select(["$name"]).filter([
    ...     ["$name", "rdf:type", "foaf:Person"],
    ...     ["$name", "swc:attended", "conf:www2011"],
    ... ])
    """

    def __init__(self, strict: bool = False) -> None:
        # strict=True reproduces the reference's contract exactly: a pattern
        # variable not declared in select() is an error (the reference
        # panics, query.rs:50-59). Default is permissive so the multi-var
        # superset (plans.bgp.select_join) can use non-projected join vars.
        self.strict = strict
        self.vars: list[Var] = []
        self.conds: list[tuple[QueryUnit, QueryUnit, QueryUnit]] = []
        self.optionals: list[list[tuple[QueryUnit, QueryUnit, QueryUnit]]] = []
        self.paths: list[tuple[QueryUnit, str, QueryUnit]] = []
        self.minuses: list[list[tuple[QueryUnit, QueryUnit, QueryUnit]]] = []
        self.values_blocks: list[tuple[list[str], list[tuple]]] = []
        self.filters: list = []  # FilterExpr ASTs (plans.filters)
        self.binds: list[tuple[str, object]] = []  # (alias, ValueExpr)
        # (positive, patterns): FILTER EXISTS / FILTER NOT EXISTS groups
        self.exists_groups: list[tuple[bool, list]] = []
        self.subqueries: list["Sparql"] = []  # nested SELECTs (spec §12)
        # GRAPH groups (SPARQL 1.1 §13.3, dataset-tier): (gterm, group)
        # where gterm is a Var (ranges over named graphs) or a Val (one
        # named graph). Planned where they occur by plans.bgp's group
        # evaluator over a QuadStore's named graphs; a TripleStore has
        # none and refuses them loudly.
        self.graph_groups: list[tuple[QueryUnit, "Sparql"]] = []
        # FROM / FROM NAMED dataset clauses (§13.2): IRIs selecting the
        # query's default graph (RDF merge of from_graphs) and its named
        # graph set. Empty = the store's own dataset.
        self.from_graphs: list[str] = []
        self.from_named: list[str] = []
        self.group_vars: list[str] = []  # GROUP BY variable names
        # (func, var-or-None, alias, distinct) — see aggregate()
        # (func, var, alias, distinct, separator) — separator only for
        # group_concat (spec §11.4.5), None = the engine default ' '
        self.aggregates: list[tuple[str, str | None, str, bool, str | None]] = []
        self.having: list = []  # FilterExpr ASTs over group/alias columns
        self.is_distinct = False
        # (key, descending) — key is a var NAME (str) or a filters.py
        # ValueExpr for ORDER BY expressions (r6)
        self.order_keys: list[tuple] = []
        self.row_limit: int | None = None
        self.row_offset: int = 0

    def select(self, variables: list[str]) -> "Sparql":
        for raw in variables:
            unit = parse_unit(raw)
            if not isinstance(unit, Var):
                raise QueryError(f"select() takes '$var' names, got {raw!r}")
            self.vars.append(unit)
        return self

    def filter(self, patterns: list[list[str]]) -> "Sparql":
        declared = {v.name for v in self.vars}
        for pat in patterns:
            if len(pat) != 3:
                raise QueryError(f"pattern must be [s, p, o], got {pat!r}")
            units = tuple(parse_unit(x) for x in pat)
            if self.strict:
                for u in units:
                    # Undeclared pattern var is an error (reference panics,
                    # query.rs:50-59).
                    if isinstance(u, Var) and u.name not in declared:
                        raise QueryError(
                            f"pattern variable ${u.name} not declared in select()"
                        )
            self.conds.append(units)  # type: ignore[arg-type]
        return self

    def optional(self, patterns: list[list[str]]) -> "Sparql":
        """Add an OPTIONAL group: its patterns left-outer-join onto the
        required BGP — rows keep required bindings and NULL-extend the
        group's variables when the group has no compatible match. An
        engine-tier SPARQL superset: the reference's builder is
        conjunctive-only (query.rs:27-63). Only the multi-var evaluator
        (plans.bgp.select_join) honors optionals; ``get`` raises on them
        (graph.rs parity — it must not silently drop a group)."""
        self.optionals.append(self._pattern_group(patterns))
        return self

    def optional_group(self, group: "Sparql") -> "Sparql":
        """OPTIONAL with a full group (r6): ``group`` is a Sparql carrying
        triple patterns, property paths, and/or group-scoped FILTERs —
        the filter constrains the group BEFORE the left-outer join (spec
        §8 scoping), which differs from filtering the joined result."""
        if not isinstance(group, Sparql):
            raise QueryError("optional_group() takes a Sparql group")
        self.optionals.append(group)
        return self

    def minus_group(self, group: "Sparql") -> "Sparql":
        """MINUS with a full group (r6) — see :meth:`optional_group`."""
        if not isinstance(group, Sparql):
            raise QueryError("minus_group() takes a Sparql group")
        self.minuses.append(group)
        return self

    def minus(self, patterns: list[list[str]]) -> "Sparql":
        """SPARQL MINUS (negation — engine-tier superset like
        :meth:`optional`): remove solutions for which the group has a
        compatible match on the shared variables (a LEFT ANTI join). Per
        spec §8.3, a group sharing NO variable with the solution removes
        nothing. Only the multi-var evaluator honors it; ``get`` raises."""
        self.minuses.append(self._pattern_group(patterns))
        return self

    def _pattern_group(self, patterns: list[list[str]]) -> list:
        group: list[tuple[QueryUnit, QueryUnit, QueryUnit]] = []
        declared = {v.name for v in self.vars}
        for pat in patterns:
            if len(pat) != 3:
                raise QueryError(f"pattern must be [s, p, o], got {pat!r}")
            units = tuple(parse_unit(x) for x in pat)
            if self.strict:
                for u in units:
                    if isinstance(u, Var) and u.name not in declared:
                        raise QueryError(
                            f"pattern variable ${u.name} not declared in select()"
                        )
            group.append(units)  # type: ignore[arg-type]
        return group

    def exists(self, patterns: list[list[str]]) -> "Sparql":
        """SPARQL FILTER EXISTS (spec §8.1 — engine-tier superset): keep
        only solutions for which the group has a compatible match — a
        LEFT SEMI join on the shared variables. Unlike :meth:`minus`, a
        group sharing NO variable acts as a global gate: solutions
        survive iff the group matches anything at all (the two negation
        forms' documented divergence, spec §8.3.3)."""
        self.exists_groups.append((True, self._pattern_group(patterns)))
        return self

    def not_exists(self, patterns: list[list[str]]) -> "Sparql":
        """SPARQL FILTER NOT EXISTS (spec §8.1): drop solutions for which
        the group has a compatible match — a LEFT ANTI join on shared
        variables; with no shared variable, solutions survive iff the
        group matches nothing (contrast minus(), which removes nothing
        then)."""
        self.exists_groups.append((False, self._pattern_group(patterns)))
        return self

    def values(self, variables: list[str], rows: list[tuple | list]) -> "Sparql":
        """SPARQL VALUES (inline data, spec §10.2 — engine-tier superset):
        join the solutions against a literal table of bindings. ``None``
        in a row is the spec's UNDEF — that position matches anything
        (the join for that row constrains only the defined columns).
        The canonical use is parameterizing a query with a driver-side
        list (entity ids, a date batch) without string-building."""
        names = []
        for raw in variables:
            unit = parse_unit(raw)
            if not isinstance(unit, Var):
                raise QueryError(f"values() takes '$var' names, got {raw!r}")
            names.append(unit.name)
        checked = []
        for row in rows:
            if len(row) != len(names):
                raise QueryError(
                    f"values row {row!r} arity != variables {variables!r}"
                )
            checked.append(tuple(row))
        self.values_blocks.append((names, checked))
        return self

    def path(self, s: str, expr: str, o: str) -> "Sparql":
        """Add a property-path pattern (engine-tier SPARQL 1.1 superset,
        like :meth:`optional`): ``s`` and ``o`` are '$var' or bound values,
        ``expr`` is a path expression (``p1/p2``, ``p|q``, ``^p``, ``p+``,
        ``p*``, ``p?`` — grammar in plans.paths). Explicit method rather
        than operator sniffing inside :meth:`filter` because real predicate
        IRIs legitimately contain '/'. Only the multi-var evaluator
        (plans.bgp.select_join) honors paths; ``get`` raises on them
        (graph.rs:333-413 parity — fixed-shape patterns only)."""
        su, ou = parse_unit(s), parse_unit(o)
        if self.strict:
            declared = {v.name for v in self.vars}
            for u in (su, ou):
                if isinstance(u, Var) and u.name not in declared:
                    raise QueryError(
                        f"pattern variable ${u.name} not declared in select()"
                    )
        self.paths.append((su, expr, ou))
        return self

    _AGG_FUNCS = ("count", "sum", "avg", "min", "max", "sample", "group_concat")

    def group_by(self, variables: list[str]) -> "Sparql":
        """SPARQL GROUP BY (spec §11 — engine-tier superset like
        :meth:`optional`): group solutions on these variables before
        aggregation. With aggregates or grouping present, every selected
        variable must be a group variable or an aggregate alias (the
        spec's projection restriction, enforced at plan time)."""
        for raw in variables:
            unit = parse_unit(raw)
            if not isinstance(unit, Var):
                raise QueryError(f"group_by() takes '$var' names, got {raw!r}")
            self.group_vars.append(unit.name)
        return self

    def aggregate(
        self,
        func: str,
        var: str | None = None,
        alias: str = "",
        distinct: bool = False,
        separator: str | None = None,
    ) -> "Sparql":
        """SPARQL aggregate (spec §11.4): ``func`` ∈ COUNT SUM AVG MIN MAX
        SAMPLE GROUP_CONCAT, over variable ``var`` (None = COUNT(*)),
        projected as ``alias``. Typing (the engine stores node values as
        strings): SUM/AVG try_cast to double — a non-numeric value
        becomes NULL and is ignored, the SQL convention both engines
        share; MIN/MAX compare lexicographically (the engine-wide string
        order); SAMPLE is implemented as MIN, a deterministic choice the
        spec's 'any value' contract allows; GROUP_CONCAT concatenates the
        SORTED values (space-separated) so results are reproducible under
        Spark's nondeterministic row order."""
        f = func.lower()
        if f not in self._AGG_FUNCS:
            raise QueryError(f"unknown aggregate {func!r}; one of {self._AGG_FUNCS}")
        if var is None and f != "count":
            raise QueryError(f"{func}(*) is only valid for COUNT")
        if var is not None:
            v = parse_unit(var)
            if not isinstance(v, Var):
                raise QueryError(f"aggregate() takes a '$var' argument, got {var!r}")
            var = v.name
        a = parse_unit(alias)
        if not isinstance(a, Var):
            raise QueryError(f"aggregate() alias must be a '$var' name, got {alias!r}")
        if distinct and f not in ("count", "sum", "group_concat"):
            raise QueryError(
                f"DISTINCT is supported for COUNT/SUM/GROUP_CONCAT, not {func}"
            )
        if separator is not None and f != "group_concat":
            raise QueryError("separator is only valid for GROUP_CONCAT")
        self.aggregates.append((f, var, a.name, distinct, separator))
        return self

    def having_expr(self, expr) -> "Sparql":
        """SPARQL HAVING (spec §11.5): a FILTER over the AGGREGATED
        solutions — same expression subset as :meth:`filter_expr`, with
        aggregate aliases available as variables."""
        if isinstance(expr, str):
            from rippledb_spark.plans.filters import parse_filter_text

            expr = parse_filter_text(expr)
        self.having.append(expr)
        return self

    def subquery(self, sub: "Sparql") -> "Sparql":
        """Nested SELECT (spec §12 — engine-tier superset): evaluate
        ``sub`` independently (its own patterns, aggregates, modifiers)
        and join its PROJECTED variables into this group's solutions on
        the shared names — the canonical per-group-aggregate-then-join
        shape (e.g. each customer with its nation's member count). A
        subquery sharing no variable cross-joins, per the spec's
        join-of-multisets semantics."""
        if not isinstance(sub, Sparql):
            raise QueryError(f"subquery() takes a Sparql query, got {sub!r}")
        if not sub.vars:
            raise QueryError("subqueries must project explicit variables")
        self.subqueries.append(sub)
        return self

    def graph(self, gterm: str, group: "Sparql | list[list[str]]") -> "Sparql":
        """GRAPH block (SPARQL 1.1 §13.3 — dataset-tier superset): match
        ``group`` inside a named graph. ``gterm`` is ``'$g'`` (the group
        joins every named graph, binding the graph IRI to the variable)
        or a graph IRI string (the group evaluates against that one named
        graph only). Evaluated by plans.graphs.select_dataset over a
        QuadStore; plain single-graph evaluation (select_join on a
        TripleStore) refuses queries carrying GRAPH groups loudly rather
        than silently ignoring the graph scope."""
        if isinstance(group, list):
            g = Sparql()
            g.filter(group)
            group = g
        if not isinstance(group, Sparql):
            raise QueryError(f"graph() takes a Sparql group or patterns, got {group!r}")
        if group.graph_groups:
            raise QueryError("GRAPH groups do not nest")
        if (
            group.optionals
            or group.minuses
            or group.values_blocks
            or group.exists_groups
            or group.binds
            or group.subqueries
            or group.aggregates
            or group.group_vars
            or group.having
            or group.from_graphs
            or group.from_named
            or group.order_keys
            or group.is_distinct
            or group.row_limit is not None
            or group.row_offset
        ):
            # GRAPH groups are the triple/path/FILTER subset (the text
            # parser enforces the same)
            raise QueryError(
                "GRAPH groups support triple, path, and FILTER patterns only"
            )
        if not group.conds and not group.paths:
            raise QueryError("GRAPH group is empty")
        self.graph_groups.append((parse_unit(gterm), group))
        return self

    def from_graph(self, iri: str, named: bool = False) -> "Sparql":
        """FROM / FROM NAMED dataset clause (§13.2): restrict the query's
        dataset. Applied by plans.graphs.dataset_frames."""
        (self.from_named if named else self.from_graphs).append(iri)
        return self

    def bind(self, alias: str, expr) -> "Sparql":
        """SPARQL BIND (expr AS ?alias) (spec §10.1 — engine-tier
        superset): extend every solution with a computed value. ``expr``
        is a plans.filters VALUE expression — arithmetic (+ - * /, double
        semantics via try_cast), CONCAT/STR/STRLEN/UCASE/LCASE/SUBSTR,
        IF(condition, then, else) — as an AST or a string
        (``'CONCAT(?name, "-", ?nat)'``). Scope note: binds apply after
        the group's patterns evaluate (the bound variable is available to
        FILTER/EXISTS/GROUP BY/ORDER BY and the projection, but not as a
        join variable for earlier patterns — the common SPARQL uses);
        rebinding an existing variable is an error, per spec."""
        a = parse_unit(alias)
        if not isinstance(a, Var):
            raise QueryError(f"bind() alias must be a '$var' name, got {alias!r}")
        if isinstance(expr, str):
            from rippledb_spark.plans.filters import parse_value_text

            expr = parse_value_text(expr)
        self.binds.append((a.name, expr))
        return self

    def filter_expr(self, expr) -> "Sparql":
        """SPARQL FILTER constraint (engine-tier superset, spec §17 —
        grammar subset in plans.filters): keep only solutions for which
        the expression holds. ``expr`` is a plans.filters AST or a string
        (``"?x > 5 && REGEX(?name, \\"x$\\")"``). Applies to the whole
        group's solutions (after OPTIONAL/VALUES/MINUS, before
        projection), lowering to an ordinary Catalyst predicate — an
        erroring comparison (e.g. numeric cast of a non-number) drops the
        row, matching the spec's type-error elimination."""
        if isinstance(expr, str):
            from rippledb_spark.plans.filters import parse_filter_text

            expr = parse_filter_text(expr)
        self.filters.append(expr)
        return self

    def distinct(self) -> "Sparql":
        """SPARQL DISTINCT solution modifier (engine-tier superset — the
        reference returns raw candidate multiplicity, graph.rs:389-402):
        deduplicate complete solution rows after projection."""
        self.is_distinct = True
        return self

    def order_by(self, keys: list[str]) -> "Sparql":
        """SPARQL ORDER BY: '$var' ascending, '-$var' descending. Applies
        after projection; keys must be selected variables."""
        for raw in keys:
            desc = raw.startswith("-")
            unit = parse_unit(raw[1:] if desc else raw)
            if not isinstance(unit, Var):
                raise QueryError(f"order_by() takes '$var' / '-$var', got {raw!r}")
            self.order_keys.append((unit.name, desc))
        return self

    def order_by_expr(self, expr, desc: bool = False) -> "Sparql":
        """ORDER BY over a VALUE EXPRESSION (spec OrderCondition — r6):
        ``expr`` is a filters.py ValueExpr or its text form (parsed with
        the FILTER/BIND value grammar), e.g.
        ``order_by_expr('STRLEN(?name)', desc=True)``. Expression keys
        compose with plain variable keys in call order."""
        from rippledb_spark.plans.filters import ValueExpr, parse_value
        from rippledb_spark.plans.text import _Tokens

        if isinstance(expr, str):
            t = _Tokens(expr)
            expr = parse_value(t, str)
            if t.peek() is not None:
                raise QueryError(
                    f"trailing tokens in ORDER BY expression: {t.toks[t.i:]}"
                )
        if not isinstance(expr, ValueExpr):
            raise QueryError(f"order_by_expr() takes a value expression, got {expr!r}")
        self.order_keys.append((expr, bool(desc)))
        return self

    def limit(self, n: int, offset: int = 0) -> "Sparql":
        """SPARQL LIMIT/OFFSET. Deterministic only under a total
        order_by — same contract as SQL."""
        if n < 0 or offset < 0:
            raise QueryError("limit/offset must be non-negative")
        self.row_limit = n
        self.row_offset = offset
        return self

    def union(self, other: "Sparql") -> "SparqlUnion":
        """SPARQL UNION (engine-tier superset, like :meth:`optional`):
        bag-union of this query's solutions with ``other``'s. Both arms
        must project the same variables (checked at plan time)."""
        return SparqlUnion(self, other)

    def var_names(self) -> list[str]:
        return [v.name for v in self.vars]


@dataclass(frozen=True)
class SparqlUnion:
    """UNION of BGP queries (evaluated by plans.bgp.select_union). N-ary
    unions are left-nested pairs: ``SparqlUnion(SparqlUnion(a, b), c)``."""

    left: "Sparql | SparqlUnion"
    right: "Sparql | SparqlUnion"

    def var_names(self) -> list[str]:
        return self.left.var_names()
