"""SPARQL text frontend: parse a query string into the Sparql builder.

The reference exposes only the builder API — its ``sparql!`` text macro is
an unimplemented stub (src/rdf/query.rs:74-77) — so this is the engine-tier
completion of that surface: a recursive-descent parser for the SPARQL
subset the engine evaluates, lowering onto :class:`plans.sparql.Sparql`
(and thus :func:`plans.bgp.select_join` / :func:`select_union`).

Supported grammar (W3C SPARQL 1.1 subset)::

    PREFIX pname: <iri>                       -- prologue, any number
    ASK [WHERE] { group }                     -- 0/1 rows, column ask=true
    CONSTRUCT { triples } WHERE { group }     -- derived graph (plain
                                              -- triples in the template;
                                              -- constants keep their kind)
    DESCRIBE <node> | DESCRIBE ?v WHERE {...} -- node / binding-set CBDs
    SELECT [DISTINCT] (?v... | *) WHERE {
        triple blocks:  s p o .               -- ';' predicate lists and
                                              -- ',' object lists supported
        property paths in predicate position: p1/p2, p|q, ^p, p+, p*, p?,
                                              (p|q)+ grouping, !(p|^q)
                                              negated sets, <iri> path atoms
        OPTIONAL { ... }   MINUS { ... }      -- triples AND paths inside
        { ... } UNION { ... }                 -- as the whole group body
        VALUES (?v ...) { (val ...) ... }     -- UNDEF supported
        FILTER ( expr )                       -- comparisons, arithmetic,
                                              -- &&, ||, !, REGEX, BOUND
        FILTER [NOT] EXISTS { trps/paths }    -- §8.1 negation/assertion
        BIND ( value AS ?v )                  -- §10.1 computed extension
        { SELECT ... WHERE { ... } ... }      -- §12 subquery (own
                                              -- aggregates/modifiers)
    }
    GROUP BY ?v...  HAVING ( expr )
    ORDER BY [ASC(expr)|DESC(expr)|?v|func(expr)]...  LIMIT n  OFFSET n

SELECT lists also take aggregate projections ``(COUNT([DISTINCT] ?v | *)
AS ?alias)`` (COUNT/SUM/AVG/MIN/MAX/SAMPLE/GROUP_CONCAT — spec §11).

Terms (one lexer, :func:`_term`, shared with plans.update):
``?var``/``$var``, ``<iri>``, ``prefix:local`` (expanded via the
prologue), ``"lit"``, ``"lit"@lang``, ``"lit"^^<datatype>`` and
``"lit"^^prefix:local`` literals, ``_:name`` blank nodes, and bare tokens
(named nodes kept verbatim, as is an undeclared ``prefix:local``; ``5`` is
the named node ``5``, not a number). In a query pattern a blank node is a
non-distinguished variable (§4.1.4): it matches any term, joins on its
label within the query and is not projected by ``SELECT *``. A CONSTRUCT
template and SPARQL UPDATE (plans.update) keep it a blank node. ``a`` in
predicate position is ``rdf:type``. String escapes (``\\t``, ``\\n``,
``\\uXXXX``, ...) decode through the N-Triples readers' decoder
(``sources.rdfio._unescape_nt``), so a literal loaded from a file is found
by its own escaped text. A constant matches the stored term with the same value,
kind, language tag and datatype; VALUES cells and FILTER/BIND operands
are compared by value. FILTER/BIND expression grammar and typing rules live in
plans.filters (comparisons, + - * / arithmetic, CONCAT/STR/STRLEN/UCASE/
LCASE/SUBSTR/IF, plus the r6 additions: STRSTARTS/STRENDS/CONTAINS,
COALESCE/ABS/ROUND/CEIL/FLOOR, STRBEFORE/STRAFTER/REPLACE, xsd:* casts,
and [NOT] IN lists); anything outside that subset (unknown functions)
raises QueryError rather than mis-parsing.
"""

from __future__ import annotations

import re

from dataclasses import dataclass

from rippledb_spark import model
from rippledb_spark.errors import QueryError
from rippledb_spark.plans.sparql import QueryUnit, Sparql, SparqlUnion, Val, Var
from rippledb_spark.sources.rdfio import _unescape_nt


@dataclass(frozen=True)
class SparqlAsk:
    """ASK form: evaluates to 0/1 rows, column ``ask`` = true (the
    engine's ASK convention — plans.bgp.get's zero-variable branch)."""

    query: Sparql


@dataclass(frozen=True)
class SparqlConstruct:
    """CONSTRUCT form: template patterns + the WHERE query."""

    query: Sparql
    template: list


@dataclass(frozen=True)
class SparqlDescribe:
    """DESCRIBE form: a single bound node, OR (r6) a variable + WHERE
    group whose distinct bindings are all described."""

    node: str | None
    var: str | None = None
    query: Sparql | None = None

_TOKEN = re.compile(
    r"""\s*(?:
        (?P<iri><[^<>\s]*>)
      | (?P<str>"(?:[^"\\]|\\.)*")
      | (?P<var>[?$][A-Za-z_][A-Za-z0-9_]*)
      | (?P<punct>[{}().;,])
      | (?P<word>[^\s{}();,"]+)
    )""",
    re.VERBOSE,
)

_PATH_OPS = set("/|^+*?{")  # { = r6 quantifier brackets p{n,m}
_RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


class _Tokens:
    def __init__(self, text: str) -> None:
        self.toks: list[str] = []
        text = text.strip()
        pos = 0
        while pos < len(text):
            m = _TOKEN.match(text, pos)
            if not m or m.end() == pos:
                raise QueryError(f"bad SPARQL syntax at offset {pos}: {text[pos:pos+30]!r}")
            tok = m.group(0).strip()
            # compact style: 'ex:o.' — the statement terminator binds to
            # the word token; re-emit it as punctuation (names may still
            # contain interior dots)
            if m.group("word") and tok.endswith(".") and len(tok) > 1:
                self.toks.append(tok[:-1])
                tok = "."
            self.toks.append(tok)
            pos = m.end()
        self.i = 0

    def peek(self) -> str | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def take(self) -> str:
        if self.i >= len(self.toks):
            raise QueryError("unexpected end of query")
        tok = self.toks[self.i]
        self.i += 1
        return tok

    def expect(self, want: str) -> None:
        tok = self.take()
        if tok.upper() != want.upper():
            raise QueryError(f"expected {want!r}, got {tok!r}")


def _is_kw(tok: str | None, kw: str) -> bool:
    return tok is not None and tok.upper() == kw.upper()


def _prologue(t: _Tokens) -> dict[str, str]:
    """The PREFIX declarations at the head of a query or update."""
    prefixes: dict[str, str] = {}
    while _is_kw(t.peek(), "PREFIX"):
        t.take()
        pname = t.take()
        if not pname.endswith(":"):
            raise QueryError(f"PREFIX name must end with ':', got {pname!r}")
        iri = t.take()
        if not (iri.startswith("<") and iri.endswith(">")):
            raise QueryError(f"PREFIX expansion must be an <iri>, got {iri!r}")
        prefixes[pname[:-1]] = iri[1:-1]
    return prefixes


def _iri(tok: str, prefixes: dict[str, str]) -> str:
    """The value of an ``<iri>``, a declared ``prefix:local`` or a bare
    token (kept verbatim)."""
    if tok.startswith("<") and tok.endswith(">"):
        return tok[1:-1]
    pfx, sep, local = tok.partition(":")
    return prefixes[pfx] + local if sep and pfx in prefixes else tok


def _term(tok: str, t: _Tokens, prefixes: dict[str, str], verb: bool = False) -> QueryUnit:
    """One term token → a ``Var`` or a constant ``Val``; a string literal
    takes its ``@lang`` / ``^^datatype`` suffix from ``t``. ``verb`` marks
    predicate position, where ``a`` is ``rdf:type``."""
    if tok.startswith("?") or tok.startswith("$"):
        if len(tok) == 1:
            raise QueryError(f"empty variable name {tok!r}")
        return Var(tok[1:])
    if tok.startswith('"'):
        value = _unescape_nt(tok[1:-1])
        nxt = t.peek()
        if nxt is not None and nxt.startswith("@") and len(nxt) > 1:
            t.take()
            return Val(value, model.LANG_LITERAL, lang=nxt[1:])
        if nxt is not None and nxt.startswith("^^") and len(nxt) > 2:
            t.take()
            return Val(value, model.TYPED_LITERAL, datatype=_iri(nxt[2:], prefixes))
        return Val(value, model.LITERAL)
    if tok.startswith("_:"):
        return Val(tok, model.BLANK)
    if verb and tok == "a":
        return Val(_RDF_TYPE)
    return Val(_iri(tok, prefixes))


_AGGS = ("COUNT", "SUM", "AVG", "MIN", "MAX", "SAMPLE", "GROUP_CONCAT")


def _parse_select_list(t: _Tokens) -> tuple[bool, list[str], list[tuple]]:
    """Parse '[DISTINCT] (?v | * | (FUNC([DISTINCT] ?v | *) AS ?alias))...'
    after a SELECT keyword → (distinct, sel_vars, sel_aggs). Shared by the
    top-level SELECT form and nested subqueries (spec §12)."""
    distinct = False
    sel_vars: list[str] = []
    # (func, var-or-None, alias, distinct, separator) from
    # '(FUNC([DISTINCT] ?v [; SEPARATOR="s"] | *) AS ?alias)'
    sel_aggs: list[tuple[str, str | None, str, bool, str | None]] = []
    if _is_kw(t.peek(), "DISTINCT"):
        t.take()
        distinct = True
    while True:
        tok = t.peek()
        if tok is None:
            raise QueryError("unexpected end after SELECT")
        if tok == "*":
            t.take()  # SELECT *: sel_vars stays empty → expand from group
            continue
        if tok.startswith("?") or tok.startswith("$"):
            sel_vars.append("$" + t.take()[1:])
            continue
        if tok == "(":
            # aggregate projection: ( FUNC([DISTINCT] ?v | *) AS ?alias )
            t.take()
            fn = t.take().upper()
            if fn not in _AGGS:
                raise QueryError(
                    f"expected an aggregate ({'/'.join(_AGGS)}) in the "
                    f"SELECT list, got {fn!r}"
                )
            t.expect("(")
            agg_distinct = False
            arg: str | None = None
            sep: str | None = None
            if t.peek() == "*":
                t.take()
            else:
                if _is_kw(t.peek(), "DISTINCT"):
                    t.take()
                    agg_distinct = True
                v = t.take()
                if not (v.startswith("?") or v.startswith("$")):
                    raise QueryError(f"{fn} takes a variable or *, got {v!r}")
                arg = "$" + v[1:]
            if t.peek() == ";":
                # GROUP_CONCAT(?v; SEPARATOR="...") — spec §11.4.5
                t.take()
                w = t.take()
                if w.upper().rstrip("=") != "SEPARATOR":
                    raise QueryError(f"expected SEPARATOR in {fn}, got {w!r}")
                if not w.endswith("="):
                    if t.take() != "=":
                        raise QueryError("expected '=' after SEPARATOR")
                sv = t.take()
                if not (isinstance(sv, str) and sv.startswith('"')):
                    raise QueryError("SEPARATOR takes a string literal")
                sep = _unescape_nt(sv[1:-1])
                if fn != "GROUP_CONCAT":
                    raise QueryError("SEPARATOR is only valid for GROUP_CONCAT")
            t.expect(")")
            t.expect("AS")
            a = t.take()
            if not (a.startswith("?") or a.startswith("$")):
                raise QueryError(f"AS takes a variable alias, got {a!r}")
            t.expect(")")
            sel_aggs.append((fn.lower(), arg, "$" + a[1:], agg_distinct, sep))
            sel_vars.append("$" + a[1:])
            continue
        break
    return distinct, sel_vars, sel_aggs


def parse_sparql(text: str) -> Sparql | SparqlUnion:
    """Parse a SPARQL query string (subset above) into a builder query."""
    t = _Tokens(text)
    prefixes = _prologue(t)

    form = t.take().upper()
    if form not in ("SELECT", "ASK", "CONSTRUCT", "DESCRIBE"):
        raise QueryError(f"expected SELECT/ASK/CONSTRUCT/DESCRIBE, got {form!r}")
    distinct = False
    sel_vars: list[str] = []
    sel_aggs: list[tuple[str, str | None, str, bool]] = []
    if form == "SELECT":
        distinct, sel_vars, sel_aggs = _parse_select_list(t)

    def value(tok: str) -> str:
        """A FILTER/BIND operand's value (operands stay values)."""
        return _iri(tok, prefixes)

    def collect_path(first: str) -> str:
        """Greedily reassemble a property path split across tokens: the
        tokenizer treats '(' and ')' as punctuation, so grouped paths like
        ``(p|q)+`` and negated sets like ``!(p|^q)`` arrive as several
        tokens. Continue while parens are unbalanced, while the collected
        text ends in a binary/prefix operator, or while a bare modifier
        run (+ * ?) follows a closing paren. A plain predicate token
        passes through untouched (no continuation condition fires — the
        next token is the object, never '(' or a bare modifier)."""
        parts = [first]
        while True:
            joined = "".join(parts)
            nxt = t.peek()
            if nxt is None or not isinstance(nxt, str):
                break
            if nxt[0] in "?$\"" and joined.count("(") <= joined.count(")"):
                break  # a variable/string term is never part of a path
            if joined.count("(") > joined.count(")"):
                parts.append(t.take())
                continue
            if joined[-1] in "/|^!(":
                parts.append(t.take())
                continue
            if joined.endswith(")") and nxt and all(c in "+*?" for c in nxt):
                parts.append(t.take())
                continue
            # a ')' or modifier can only end a path PREFIX when the next
            # token continues with an operator run: '(child)/child' splits
            # as '(child)' + '/child', '(a|b)+/c' as '(a|b)' + '+/c'.
            # Plain predicates never end in these chars, so this fires
            # only mid-path.
            if joined[-1] in ")+*?}" and nxt[0] in "/|+*?":
                parts.append(t.take())
                continue
            if nxt == "{":
                # quantifier brackets p{n} / p{n,m} / p{n,} / p{,m}: only
                # consume when the brace run is digits/commas closed by
                # '}' — any other content is a GROUP brace and ends the
                # path (lookahead, no tokens consumed on the group case)
                j = t.i + 1
                body = []
                while j < len(t.toks) and t.toks[j] != "}":
                    body.append(t.toks[j])
                    j += 1
                if (
                    j < len(t.toks)
                    and body
                    and all(b == "," or b.isdigit() for b in body)
                ):
                    parts.append("".join(t.toks[t.i : j + 1]))
                    t.i = j + 1
                    continue
                break
            break
        return "".join(parts)

    def path_expr(tok: str) -> str | None:
        """If the predicate token is a property path, return the path
        expression with prefixed names expanded; else None."""
        if tok.startswith("?") or tok.startswith("$"):
            return None
        if tok[0] not in "(!" and not any(c in tok for c in _PATH_OPS):
            return None
        if tok.startswith("<") and tok.endswith(">") and not any(
            c in _PATH_OPS for c in re.sub(r"<[^<>]*>", "", tok)
        ):
            return None  # a plain <iri> whose ops are all inside brackets
        # expand prefixed names inside the path (outside <...> spans)
        def expand(seg: str) -> str:
            def repl(m: re.Match) -> str:
                word = m.group(0)
                if ":" in word:
                    pfx, local = word.split(":", 1)
                    if pfx in prefixes:
                        return f"<{prefixes[pfx] + local}>"
                return word
            return re.sub(r"[^/|^+*?()<>!{},\s]+", repl, seg)

        out, i = [], 0
        while i < len(tok):
            if tok[i] == "<":
                j = tok.index(">", i)
                out.append(tok[i : j + 1])
                i = j + 1
            else:
                j = tok.find("<", i)
                j = len(tok) if j == -1 else j
                out.append(expand(tok[i:j]))
                i = j
        return "".join(out)

    def node(tok: str, template: bool) -> QueryUnit:
        """A subject/object term. In a pattern a blank node is a
        non-distinguished variable (§4.1.4) named by its label, which no
        ``?var`` can take (VARNAME excludes ':'); a template keeps it."""
        u = _term(tok, t, prefixes)
        if not template and isinstance(u, Val) and u.kind == model.BLANK:
            return Var(tok)
        return u

    def parse_group(q: Sparql, template: bool = False) -> None:
        """Parse statements until the matching '}' (consumed);
        ``template`` marks a CONSTRUCT template."""
        while True:
            tok = t.peek()
            if tok is None:
                raise QueryError("unclosed '{' in group")
            if tok == "}":
                t.take()
                return
            if _is_kw(tok, "SERVICE"):
                # refuse loudly: federated query (spec §28 / SERVICE) calls
                # out to a REMOTE endpoint mid-plan — out of scope for a
                # single-dataset engine, and silently treating it as a local
                # group would return wrong (local-only) answers.
                raise QueryError(
                    "SERVICE (federated query) is not supported: this engine "
                    "evaluates one local dataset; materialize the remote "
                    "graph (from_rdf / N-Quads ingest) and query it as a "
                    "named graph instead"
                )
            if _is_kw(tok, "GRAPH"):
                # GRAPH ?g { group } / GRAPH <iri> { group } (§13.3) —
                # dataset-tier: planned by plans.bgp over a QuadStore's
                # named graphs
                t.take()
                gterm = _term(t.take(), t, prefixes)
                t.expect("{")
                sub = Sparql()
                parse_group(sub)
                q._graph(gterm, sub)
                if t.peek() == ".":
                    t.take()
                continue
            if _is_kw(tok, "OPTIONAL") or _is_kw(tok, "MINUS"):
                kw = t.take().upper()
                t.expect("{")
                sub = Sparql()
                parse_group(sub)
                if (
                    sub.optionals
                    or sub.minuses
                    or sub.values_blocks
                    or sub.exists_groups
                    or sub.binds
                    or sub.subqueries
                ):
                    raise QueryError(
                        f"{kw} groups support triple, path, FILTER, and "
                        f"GRAPH patterns only"
                    )
                if not sub.conds and not sub.paths and not sub.graph_groups:
                    raise QueryError(f"{kw} group is empty")
                (q.optionals if kw == "OPTIONAL" else q.minuses).append(sub)
                if t.peek() == ".":
                    t.take()
                continue
            if _is_kw(tok, "VALUES"):
                t.take()
                t.expect("(")
                names = []
                while t.peek() != ")":
                    v = t.take()
                    if not (v.startswith("?") or v.startswith("$")):
                        raise QueryError(f"VALUES takes variables, got {v!r}")
                    names.append("$" + v[1:])
                t.take()  # ')'
                t.expect("{")
                rows = []
                while t.peek() != "}":
                    t.expect("(")
                    row = []
                    while t.peek() != ")":
                        v = t.take()
                        u = None if _is_kw(v, "UNDEF") else _term(v, t, prefixes)
                        if isinstance(u, Var):
                            raise QueryError(f"VALUES rows take constants, got {v!r}")
                        row.append(None if u is None else u.value)
                    t.take()
                    rows.append(tuple(row))
                t.take()  # '}'
                q.values(names, rows)
                if t.peek() == ".":
                    t.take()
                continue
            if _is_kw(tok, "FILTER"):
                from rippledb_spark.plans.filters import parse_filter

                t.take()
                nxt = t.peek()
                if _is_kw(nxt, "EXISTS") or _is_kw(nxt, "NOT"):
                    positive = True
                    if _is_kw(nxt, "NOT"):
                        t.take()
                        if not _is_kw(t.peek(), "EXISTS"):
                            raise QueryError(
                                f"expected EXISTS after FILTER NOT, got {t.peek()!r}"
                            )
                        positive = False
                    t.take()  # EXISTS
                    t.expect("{")
                    sub = Sparql()
                    parse_group(sub)
                    if (
                        sub.optionals
                        or sub.minuses
                        or sub.values_blocks
                        or sub.filters
                        or sub.exists_groups
                        or sub.binds
                        or sub.subqueries
                    ):
                        raise QueryError(
                            "EXISTS groups support triple, path, and GRAPH "
                            "patterns only"
                        )
                    if not sub.conds and not sub.paths and not sub.graph_groups:
                        raise QueryError("EXISTS group is empty")
                    q.exists_groups.append((positive, sub))
                else:
                    q.filter_expr(parse_filter(t, value))
                if t.peek() == ".":
                    t.take()
                continue
            if tok == "{":
                # nested group: subquery form only ({ SELECT ... }, §12)
                t.take()
                if not _is_kw(t.peek(), "SELECT"):
                    raise QueryError(
                        "nested '{' groups support subqueries "
                        "({ SELECT ... WHERE { ... } }) only"
                    )
                t.take()  # SELECT
                sdistinct, svars, saggs = _parse_select_list(t)
                t.expect("WHERE")
                t.expect("{")
                sub = Sparql()
                parse_group(sub)
                sub.select(svars if svars else [f"${n}" for n in _pattern_vars(sub)])
                for fn, arg, alias, agg_distinct, ssep in saggs:
                    sub.aggregate(fn, arg, alias, agg_distinct, separator=ssep)
                if sdistinct:
                    sub.distinct()
                _apply_modifiers(t, sub, stop="}")
                t.expect("}")  # the subquery's closing brace
                q.subquery(sub)
                if t.peek() == ".":
                    t.take()
                continue
            if _is_kw(tok, "BIND"):
                from rippledb_spark.plans.filters import parse_value

                t.take()
                t.expect("(")
                vexpr = parse_value(t, value)
                t.expect("AS")
                a = t.take()
                if not (a.startswith("?") or a.startswith("$")):
                    raise QueryError(f"BIND ... AS takes a variable, got {a!r}")
                t.expect(")")
                q.bind("$" + a[1:], vexpr)
                if t.peek() == ".":
                    t.take()
                continue
            # triple block: subject, then ';'-separated predicate lists,
            # each with ','-separated object lists
            s = node(t.take(), template)
            while True:
                p_tok = t.take()
                if not (p_tok.startswith("?") or p_tok.startswith("$")):
                    p_tok = collect_path(p_tok)
                path = path_expr(p_tok)
                p = _term(p_tok, t, prefixes, verb=True) if path is None else None
                while True:
                    o = node(t.take(), template)
                    if path is None:
                        q.conds.append((s, p, o))
                    else:
                        q.paths.append((s, path, o))
                    if t.peek() == ",":
                        t.take()
                        continue
                    break
                if t.peek() == ";":
                    t.take()
                    if t.peek() in ("}", ".", None):  # dangling ';'
                        break
                    continue
                break
            if t.peek() == ".":
                t.take()

    if form == "DESCRIBE":
        raw = t.take()
        if raw.startswith("?") or raw.startswith("$"):
            # DESCRIBE ?v WHERE { group } (spec §16.4 variable form, r6)
            if _is_kw(t.peek(), "WHERE"):
                t.take()
            if t.peek() != "{":
                raise QueryError(
                    "DESCRIBE with a variable needs a WHERE group "
                    "(DESCRIBE ?v WHERE { ... }); bare DESCRIBE takes a "
                    "bound node"
                )
            t.take()
            sub = Sparql()
            parse_group(sub)
            if t.peek() is not None:
                raise QueryError(f"trailing tokens after DESCRIBE: {t.toks[t.i:]}")
            sub.select([f"${raw[1:]}"])  # the described variable only
            return SparqlDescribe(None, var=raw[1:], query=sub)
        node = _term(raw, t, prefixes).value
        if t.peek() is not None:
            raise QueryError(f"trailing tokens after DESCRIBE: {t.toks[t.i:]}")
        return SparqlDescribe(node)

    if form == "CONSTRUCT":
        if _is_kw(t.peek(), "WHERE"):
            # CONSTRUCT WHERE { patterns } — the spec's template-equals-
            # pattern shortcut (§16.2.1): the group must be plain triples,
            # which then serve as both the WHERE group and the template.
            t.take()
            t.expect("{")
            q = Sparql()
            parse_group(q)
            if (
                q.paths
                or q.optionals
                or q.minuses
                or q.values_blocks
                or q.filters
                or q.exists_groups
                or q.binds
                or q.subqueries
                or q.graph_groups
            ):
                raise QueryError(
                    "CONSTRUCT WHERE takes plain triple patterns only (§16.2.1)"
                )
            if not q.conds:
                raise QueryError("empty CONSTRUCT WHERE group")
            template = list(q.conds)
            if t.peek() is not None:
                raise QueryError("modifiers after CONSTRUCT are not in the text subset")
            return SparqlConstruct(q, template)
        t.expect("{")
        tq = Sparql()
        parse_group(tq, template=True)
        if (
            tq.paths
            or tq.optionals
            or tq.minuses
            or tq.values_blocks
            or tq.filters
            or tq.exists_groups
            or tq.binds
            or tq.subqueries
            or tq.graph_groups
        ):
            raise QueryError("CONSTRUCT templates take plain triples only")
        template = list(tq.conds)
        if not template:
            raise QueryError("empty CONSTRUCT template")
        t.expect("WHERE")
        t.expect("{")
        q = Sparql()
        parse_group(q)
        if t.peek() is not None:
            raise QueryError("modifiers after CONSTRUCT are not in the text subset")
        return SparqlConstruct(q, template)

    if form == "ASK":
        if _is_kw(t.peek(), "WHERE"):
            t.take()
        t.expect("{")
        q = Sparql()
        parse_group(q)
        if t.peek() is not None:
            raise QueryError("ASK takes no solution modifiers")
        return SparqlAsk(q)

    # FROM / FROM NAMED dataset clauses (§13.2) — dataset-tier: applied
    # by plans.graphs.dataset_frames (a single-graph TripleStore is the
    # dataset with no named graphs, so FROM leaves its default graph empty).
    from_graphs: list[str] = []
    from_named: list[str] = []
    while _is_kw(t.peek(), "FROM"):
        t.take()
        named_from = _is_kw(t.peek(), "NAMED")
        if named_from:
            t.take()
        src = t.take()
        if src.startswith("?") or src.startswith("$"):
            raise QueryError(f"FROM takes an IRI, got variable {src!r}")
        (from_named if named_from else from_graphs).append(_iri(src, prefixes))

    t.expect("WHERE")
    t.expect("{")

    # UNION at the top of the group body: { A } UNION { B } — but a
    # '{ SELECT' is a SUBQUERY group, handled inside parse_group.
    nxt2 = t.toks[t.i + 1] if t.i + 1 < len(t.toks) else None
    if t.peek() == "{" and not _is_kw(nxt2, "SELECT"):
        if sel_aggs:
            raise QueryError("aggregates with UNION are not in the text subset")
        if from_graphs or from_named:
            raise QueryError("FROM with UNION is not in the text subset")
        t.take()
        arms = [Sparql()]
        parse_group(arms[0])
        t.expect("UNION")
        while True:
            t.expect("{")
            arm = Sparql()
            parse_group(arm)
            arms.append(arm)
            if _is_kw(t.peek(), "UNION"):
                t.take()
                continue
            break
        t.expect("}")  # close WHERE
        for arm in arms:
            arm.select(sel_vars or [f"${n}" for n in _pattern_vars(arm)])
        if distinct or t.peek() is not None:
            # per-arm application would silently change semantics
            raise QueryError(
                "DISTINCT/ORDER/LIMIT with UNION is not in the text subset; "
                "apply them on the returned DataFrame"
            )
        # N arms fold into left-nested SparqlUnion pairs (select_union
        # evaluates recursively).
        out = arms[0].union(arms[1])
        for arm in arms[2:]:
            out = SparqlUnion(out, arm)
        return out

    q = Sparql()
    q.from_graphs = from_graphs
    q.from_named = from_named
    parse_group(q)
    q.select(sel_vars if sel_vars else [f"${n}" for n in _pattern_vars(q)])
    for fn, arg, alias, agg_distinct, sep in sel_aggs:
        q.aggregate(fn, arg, alias, agg_distinct, separator=sep)
    if distinct:
        q.distinct()
    _apply_modifiers(t, q)
    if t.peek() is not None:
        raise QueryError(f"trailing tokens: {t.toks[t.i:]}")
    return q


def _pattern_vars(q: Sparql, required: bool = True, blanks: bool = False) -> list[str]:
    """SELECT * expansion: every variable, in first-appearance order.
    ``required=False`` returns [] for a variable-free group instead of
    raising (the ground-ASK caller's case). Blank-node variables (named
    ``_:label``) are not projected unless ``blanks`` asks for them."""
    seen: list[str] = []
    for cond in q.conds:
        for u in cond:
            if isinstance(u, Var) and u.name not in seen:
                seen.append(u.name)
    for s_u, _, o_u in q.paths:
        for u in (s_u, o_u):
            if isinstance(u, Var) and u.name not in seen:
                seen.append(u.name)
    for gterm, group in getattr(q, "graph_groups", []):
        if isinstance(gterm, Var) and gterm.name not in seen:
            seen.append(gterm.name)
        for n in _pattern_vars(group, required=False, blanks=blanks):
            if n not in seen:
                seen.append(n)
    # OPTIONAL variables are in scope per spec §18.2.1 (NULL-extended);
    # MINUS/EXISTS variables are NOT and stay excluded
    for group in getattr(q, "optionals", []):
        for n in _pattern_vars(group, required=False, blanks=blanks):
            if n not in seen:
                seen.append(n)
    for vnames, _rows in getattr(q, "values_blocks", []):
        for v in vnames:
            n = v.lstrip("$?")
            if n not in seen:
                seen.append(n)
    for alias, _ in getattr(q, "binds", []):
        if alias not in seen:
            seen.append(alias)
    for sub in getattr(q, "subqueries", []):
        for n in sub.var_names():
            if n not in seen:
                seen.append(n)
    if not blanks:
        seen = [n for n in seen if not n.startswith("_:")]
    if not seen and required:
        raise QueryError("SELECT * found no variables in the group")
    return seen


def _apply_modifiers(t: _Tokens, q: Sparql, stop: str | None = None) -> None:
    while t.peek() is not None and t.peek() != stop:
        tok = t.take()
        if _is_kw(tok, "GROUP"):
            t.expect("BY")
            gvars = []
            while t.peek() is not None and (
                t.peek().startswith("?") or t.peek().startswith("$")
            ):
                gvars.append("$" + t.take()[1:])
            if not gvars:
                raise QueryError("GROUP BY needs at least one variable")
            q.group_by(gvars)
        elif _is_kw(tok, "HAVING"):
            from rippledb_spark.plans.filters import parse_filter

            # prefixed-name operands are not expanded here (HAVING compares
            # aggregate aliases and group keys, not graph terms)
            q.having_expr(parse_filter(t, str))
        elif _is_kw(tok, "ORDER"):
            t.expect("BY")
            from rippledb_spark.plans.filters import (
                _VALUE_FUNCS,
                FVar,
                parse_value,
            )

            def order_cond() -> bool:
                """Consume ONE OrderCondition; False when none remain.
                Spec forms: ASC/DESC(bracketted expr), bare ?var, a
                bracketted expression, or a builtin-function constraint
                (r6 — expressions, not just variables)."""
                nxt = t.peek()
                if nxt is None or not isinstance(nxt, str):
                    return False
                if _is_kw(nxt, "ASC") or _is_kw(nxt, "DESC"):
                    desc = _is_kw(nxt, "DESC")
                    t.take()
                    t.expect("(")
                    expr = parse_value(t, str)
                    t.expect(")")
                elif nxt.startswith("?") or nxt.startswith("$"):
                    expr, desc = FVar(t.take()[1:]), False
                elif nxt == "(" or nxt.upper() in _VALUE_FUNCS:
                    expr, desc = parse_value(t, str), False
                else:
                    return False
                if isinstance(expr, FVar):
                    q.order_by([("-" if desc else "") + "$" + expr.name])
                else:
                    q.order_by_expr(expr, desc=desc)
                return True

            if not order_cond():
                raise QueryError("ORDER BY needs at least one condition")
            while order_cond():
                pass
        elif _is_kw(tok, "LIMIT"):
            n = int(t.take())
            q.row_limit = n
        elif _is_kw(tok, "OFFSET"):
            q.row_offset = int(t.take())
        else:
            raise QueryError(f"unexpected token after group: {tok!r}")
