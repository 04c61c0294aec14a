"""SPARQL 1.1 Update text forms → store DML (engine-tier superset).

The reference's mutation surface is programmatic insert/remove only
(src/datastore/graph.rs:420-523); this module gives those operations the
standard text form (W3C SPARQL 1.1 Update subset)::

    PREFIX pname: <iri>              -- prologue, any number
    INSERT DATA { ground triples }   -- idempotent set insert (D1)
    DELETE DATA { ground triples }   -- missing = no-op (D2)
    DELETE WHERE { patterns }        -- delete every matching triple
    DELETE { template } INSERT { template } WHERE { group }
                                     -- the modify form (either clause
                                     -- may be omitted, not both)

Triple statements are ``s p o .`` (the final dot optional before ``}``);
literals take ``"lit"``, ``"lit"@lang``, and ``"lit"^^<datatype>`` forms;
``_:name`` terms are blank nodes.

Two modes share the parser and the evaluator. ``parse_update(text)`` is
single-graph like the reference: GRAPH/WITH/USING and graph management
raise QueryError. ``parse_update(text, quads=True)`` adds the
dataset-tier forms::

    INSERT/DELETE DATA { ... GRAPH <iri> { ... } ... }   -- QuadData
    WITH <iri> DELETE/INSERT ... WHERE { ... }           -- scoped modify
    DELETE/INSERT { ... } USING <iri> WHERE { ... }      -- WHERE dataset
    DELETE/INSERT { GRAPH <iri>|?var { ... } ... }
                   WHERE { ... GRAPH <iri>|?var { ... } } -- quad patterns
    CLEAR/DROP  [SILENT] GRAPH <iri> | DEFAULT | NAMED | ALL
    CREATE [SILENT] GRAPH <iri>                          -- validation only
    MOVE/COPY/ADD [SILENT] (GRAPH <iri>|DEFAULT) TO (GRAPH <iri>|DEFAULT)
    LOAD [SILENT] <file> [INTO GRAPH <iri>]              -- .nt/.ttl/.rdf

:func:`apply` evaluates a parsed form against either store:
``TripleStore.update`` parses in the single-graph mode,
``QuadStore.update`` in quads mode, and both hand the form to it. A
TripleStore is the frame with no
``g`` column — its one graph is the default graph, and its delete keys
and inserted rows carry no label — and the single-graph modify form is
the quad-pattern one with every template pattern in the WITH graph.

Semantics notes (the engine's flattened-model conventions, shared with
plans.bgp):

- DELETE WHERE removes the ACTUAL matched triples — each pattern's
  matches are semi-joined against the group's solutions, so kinds/lang/
  datatype are exact, and bound values match named nodes only
  (pattern_filter's rule, graph.rs:1031-1033).
- The modify form plans its WHERE group once; both templates
  instantiate per solution of that one frame. The DELETE template
  removes store rows matching on (g, s, p, o_value) regardless of object
  kind — solutions carry values, not kinds (the same flattening that
  makes CONSTRUCT lift terms as named nodes); the INSERT template lifts
  every instantiated term as a named node (src/lib.rs:17-19). A solution
  leaving a template variable unbound skips that pattern, per spec; a
  template variable the WHERE group never binds is an error, even when
  the WHERE matches nothing. A ground WHERE gates the whole modify
  (bgp.ask_ground): one empty solution if it matches, else
  the store itself comes back.

Scale shape: every form is DataFrame algebra end to end — pattern scans,
semi-joins, one anti-join for deletion, union+dedup for insertion. No
driver-side row loops; DATA forms parse on the driver (they are literal
text) into one small local DataFrame.

A snapshot whose plan reads its parent more than once is materialised
(:func:`materialised`): the WHERE forms — DELETE WHERE, the modify form
and its quad-pattern variant — plan the parent in the matched set or the
solutions and again in the anti-join, so a chain of k lazy snapshots
would re-run every earlier update several times over and grow its plan
geometrically. Checkpointed, each snapshot is computed
once — its shuffle stages when it is built (adaptive execution plans
stage by stage), its last stage by the first action on it, which stores
the rows — and the next update, read or write scans it as one in-memory
relation: jobs and exchanges per operation stay
flat with depth. The price is one copy of each live snapshot in executor
storage (memory, spilling to disk); the context cleaner frees it once the
snapshot is unreferenced (``spark.cleaner.periodicGC.interval``,
session.py). The DATA forms, graph management and LOAD read their parent
once and stay lazy.
"""

from __future__ import annotations

import copy
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from rippledb_spark import model
from rippledb_spark.errors import QueryError
from rippledb_spark.operators.triple_patterns import pattern_filter, position_column
from rippledb_spark.plans import bgp
from rippledb_spark.plans.sparql import Sparql, Val, Var, parse_unit
from rippledb_spark.plans.text import _is_kw, _pattern_vars, _Tokens


@dataclass(frozen=True)
class InsertData:
    rows: list[tuple]


@dataclass(frozen=True)
class DeleteData:
    rows: list[tuple]


@dataclass(frozen=True)
class DeleteWhere:
    query: Sparql
    graph: str | None = None  # WITH graph (quads mode); None = default


@dataclass(frozen=True)
class Modify:
    delete_template: list[list[str]]  # [] = no DELETE clause
    insert_template: list[list[str]]  # [] = no INSERT clause
    query: Sparql
    graph: str | None = None  # WITH graph (quads mode)
    using: str | None = None  # USING graph: overrides WHERE's graph


@dataclass(frozen=True)
class ModifyQuads:
    """The modify form with QUAD patterns (GRAPH blocks in templates
    and/or WHERE — quads mode only). Templates are (g, [s, p, o]) pairs
    where ``g`` is None (the WITH graph, or default), an IRI, or
    ``'$var'``; the WHERE group's GRAPH blocks live in ``query``'s
    graph_groups. Evaluated exactly like :class:`Modify` (module
    docstring), which :func:`apply` lifts to this shape."""

    delete_template: list[tuple]  # [(g, [s,p,o]), ...]; [] = no DELETE
    insert_template: list[tuple]
    query: Sparql
    graph: str | None = None  # WITH graph
    using: str | None = None  # USING graph


@dataclass(frozen=True)
class GraphManage:
    """CLEAR/DROP/CREATE/MOVE/COPY/ADD (quads mode). ``src``/``dst`` are
    graph IRIs or None for DEFAULT; ``scope`` distinguishes the CLEAR/DROP
    target forms (graph | default | named | all)."""

    op: str  # clear|drop|create|move|copy|add
    src: str | None = None
    dst: str | None = None
    scope: str = "graph"


@dataclass(frozen=True)
class Load:
    """LOAD <source> [INTO GRAPH <iri>] (quads mode): bulk-load an RDF
    file (N-Triples/Turtle/RDF-XML by extension) into a graph."""

    source: str
    graph: str | None = None


UpdateForm = (
    InsertData | DeleteData | DeleteWhere | Modify | ModifyQuads | GraphManage | Load
)

_UNSUPPORTED = ("GRAPH", "WITH", "USING", "LOAD", "CLEAR", "DROP", "CREATE", "MOVE", "COPY", "ADD")


def _parse_prefixes(t: _Tokens) -> dict[str, str]:
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


def _expand(tok: str, prefixes: dict[str, str]) -> str:
    if tok.startswith("<") and tok.endswith(">"):
        return tok[1:-1]
    if ":" in tok:
        pfx, local = tok.split(":", 1)
        if pfx in prefixes:
            return prefixes[pfx] + local
    return tok


def _parse_term(t: _Tokens, prefixes: dict[str, str]) -> tuple:
    """One term → (value, kind, lang, datatype) or ('$var', None, ...)
    for variables (kind None marks a variable)."""
    import re as _re

    tok = t.take()
    if tok.startswith("?") or tok.startswith("$"):
        return ("$" + tok[1:], None, None, None)
    if tok.startswith('"'):
        value = _re.sub(r"\\(.)", r"\1", tok[1:-1])
        nxt = t.peek()
        if isinstance(nxt, str) and nxt.startswith("@") and len(nxt) > 1:
            t.take()
            return (value, model.LANG_LITERAL, nxt[1:], None)
        if isinstance(nxt, str) and nxt.startswith("^^") and len(nxt) > 2:
            t.take()
            return (value, model.TYPED_LITERAL, None, _expand(nxt[2:], prefixes))
        return (value, model.LITERAL, None, None)
    value = _expand(tok, prefixes)
    kind = model.BLANK if value.startswith("_:") else model.NAMED
    return (value, kind, None, None)


def _parse_triple_block(
    t: _Tokens,
    prefixes: dict[str, str],
    quads: bool = False,
    graph: str | None = None,
    allow_var_graph: bool = False,
) -> list[tuple]:
    """Parse '{ s p o . ... }' (the opening brace already expected by the
    caller) → list of (g, s_term, p_term, o_term) tuples; ``g`` is None
    outside GRAPH sub-blocks, an IRI inside ``GRAPH <iri> { ... }``, or
    ``'$name'`` inside ``GRAPH ?var { ... }`` (templates/WHERE only —
    ``allow_var_graph``; DATA forms stay ground). In triples mode any
    graph keyword refuses loudly."""
    t.expect("{")
    out: list[tuple] = []
    while True:
        tok = t.peek()
        if tok is None:
            raise QueryError("unclosed '{' in update triple block")
        if tok == "}":
            t.take()
            return out
        if isinstance(tok, str) and _is_kw(tok, "GRAPH") and quads:
            if graph is not None:
                raise QueryError("GRAPH blocks do not nest in QuadData")
            t.take()
            gtok = t.take()
            if gtok.startswith("?") or gtok.startswith("$"):
                if not allow_var_graph:
                    raise QueryError(
                        "QuadData GRAPH takes a ground IRI, not a variable"
                    )
                glabel = "$" + gtok[1:]
            else:
                glabel = _expand(gtok, prefixes)
            out.extend(
                _parse_triple_block(
                    t,
                    prefixes,
                    quads=True,
                    graph=glabel,
                    allow_var_graph=allow_var_graph,
                )
            )
            if t.peek() == ".":
                t.take()
            continue
        if isinstance(tok, str) and tok.upper() in _UNSUPPORTED:
            raise QueryError(
                f"{tok.upper()} is not supported here"
                + ("" if quads else " (single-graph engine; use QuadStore.update)")
            )
        s = _parse_term(t, prefixes)
        p = _parse_term(t, prefixes)
        o = _parse_term(t, prefixes)
        out.append((graph, s, p, o))
        if t.peek() == ".":
            t.take()


def _ground_rows(block: list, what: str, quads: bool = False) -> list[tuple]:
    """Ground (g, s, p, o) term tuples → 7-tuple triple rows, or 8-tuple
    quad rows when ``quads``."""
    rows = []
    for g, s, p, o in block:
        for term in (s, p, o):
            if term[1] is None:
                raise QueryError(f"{what} takes ground triples; got variable {term[0]}")
        if s[1] not in (model.NAMED, model.BLANK):
            raise QueryError(f"literal subjects are not valid RDF: {s[0]!r}")
        row = (s[0], s[1], p[0], o[0], o[1], o[2], o[3])
        rows.append((g, *row) if quads else row)
    return rows


def _quad_patterns(block: list) -> list[tuple]:
    """Term tuples → (g, [s, p, o]) pairs, keeping GRAPH scopes."""
    return [(g, [s[0], p[0], o[0]]) for g, s, p, o in block]


def _where_query(block: list) -> Sparql:
    """A WHERE block (possibly with GRAPH sub-blocks) → Sparql: g=None
    entries are default-graph conds, same-label GRAPH entries fold into
    one graph group each."""
    q = Sparql()
    plain = [[s[0], p[0], o[0]] for g, s, p, o in block if g is None]
    if plain:
        q.filter(plain)
    by_label: dict[str, list[list[str]]] = {}
    for g, s, p, o in block:
        if g is not None:
            by_label.setdefault(g, []).append([s[0], p[0], o[0]])
    for label, pats in by_label.items():
        q.graph(label, pats)
    return q


def _patterns(block: list) -> list[list[str]]:
    """Term tuples → the builder's [s, p, o] string patterns ('$var' or
    plain value — the flattened-model form). WHERE/template groups are
    single-graph (scoped by WITH/USING), so a GRAPH sub-block here is a
    parse error upstream and ``g`` is always None."""
    for g, *_ in block:
        if g is not None:
            raise QueryError(
                "GRAPH blocks are supported in DATA forms only; scope the "
                "modify form with WITH <iri> / USING <iri>"
            )
    return [[s[0], p[0], o[0]] for _, s, p, o in block]


def _graph_target(t: _Tokens, prefixes: dict[str, str], op: str) -> tuple[str | None, str]:
    """One CLEAR/DROP/MOVE/COPY/ADD target → (iri-or-None, scope)."""
    tok = t.take()
    if _is_kw(tok, "GRAPH"):
        return _expand(t.take(), prefixes), "graph"
    if _is_kw(tok, "DEFAULT"):
        return None, "default"
    if _is_kw(tok, "NAMED") and op in ("CLEAR", "DROP"):
        return None, "named"
    if _is_kw(tok, "ALL") and op in ("CLEAR", "DROP"):
        return None, "all"
    if tok.startswith("<") and tok.endswith(">") and op in ("MOVE", "COPY", "ADD"):
        # the GRAPH keyword is optional in MOVE/COPY/ADD operands (§3.2.5)
        return _expand(tok, prefixes), "graph"
    raise QueryError(f"{op} expects GRAPH <iri>/DEFAULT, got {tok!r}")


def parse_update(text: str, quads: bool = False) -> UpdateForm:
    """Parse one SPARQL Update request (subset above). ``quads=True``
    (the QuadStore path) additionally accepts GRAPH blocks in DATA forms,
    the WITH/USING modify scoping, graph management (CLEAR/DROP/CREATE/
    MOVE/COPY/ADD), and LOAD; the TripleStore path keeps refusing those
    loudly."""
    t = _Tokens(text)
    prefixes = _parse_prefixes(t)
    head = t.take().upper()
    with_graph: str | None = None
    if quads and head == "WITH":
        with_graph = _expand(t.take(), prefixes)
        head = t.take().upper()
        if head not in ("DELETE", "INSERT"):
            raise QueryError(f"WITH <iri> expects a DELETE/INSERT form, got {head!r}")
    elif quads and head in ("CLEAR", "DROP", "CREATE"):
        if _is_kw(t.peek(), "SILENT"):
            t.take()
        if head == "CREATE":
            tok = t.take()
            if not _is_kw(tok, "GRAPH"):
                raise QueryError(f"CREATE expects GRAPH <iri>, got {tok!r}")
            form: UpdateForm = GraphManage("create", src=_expand(t.take(), prefixes))
        else:
            iri, scope = _graph_target(t, prefixes, head)
            form = GraphManage(head.lower(), src=iri, scope=scope)
        if t.peek() is not None:
            raise QueryError(f"trailing tokens in update: {t.toks[t.i:]}")
        return form
    elif quads and head in ("MOVE", "COPY", "ADD"):
        if _is_kw(t.peek(), "SILENT"):
            t.take()
        src, _ = _graph_target(t, prefixes, head)
        t.expect("TO")
        dst, _ = _graph_target(t, prefixes, head)
        form = GraphManage(head.lower(), src=src, dst=dst)
        if t.peek() is not None:
            raise QueryError(f"trailing tokens in update: {t.toks[t.i:]}")
        return form
    elif quads and head == "LOAD":
        if _is_kw(t.peek(), "SILENT"):
            t.take()
        source = _expand(t.take(), prefixes)
        graph = None
        if _is_kw(t.peek(), "INTO"):
            t.take()
            tok = t.take()
            if not _is_kw(tok, "GRAPH"):
                raise QueryError(f"LOAD ... INTO expects GRAPH <iri>, got {tok!r}")
            graph = _expand(t.take(), prefixes)
        if t.peek() is not None:
            raise QueryError(f"trailing tokens in update: {t.toks[t.i:]}")
        return Load(source, graph)
    if head in _UNSUPPORTED:
        raise QueryError(
            f"{head} is not supported"
            + ("" if quads else " (single-graph engine; use QuadStore.update)")
        )
    if head == "INSERT" and _is_kw(t.peek(), "DATA"):
        if with_graph is not None:
            raise QueryError("WITH does not apply to DATA forms; use GRAPH blocks")
        t.take()
        form = InsertData(
            _ground_rows(_parse_triple_block(t, prefixes, quads=quads), "INSERT DATA", quads)
        )
    elif head == "DELETE" and _is_kw(t.peek(), "DATA"):
        if with_graph is not None:
            raise QueryError("WITH does not apply to DATA forms; use GRAPH blocks")
        t.take()
        form = DeleteData(
            _ground_rows(_parse_triple_block(t, prefixes, quads=quads), "DELETE DATA", quads)
        )
    elif head == "DELETE" and _is_kw(t.peek(), "WHERE"):
        t.take()
        block = _parse_triple_block(t, prefixes, quads=quads, allow_var_graph=quads)
        if not block:
            raise QueryError("DELETE WHERE needs at least one pattern")
        if any(g is not None for g, *_ in block):
            # DELETE WHERE { QuadPattern } ≡ DELETE {Q} WHERE {Q} (§3.1.3.2)
            form = ModifyQuads(
                _quad_patterns(block), [], _where_query(block), graph=with_graph
            )
        else:
            q = Sparql()
            q.filter(_patterns(block))
            form = DeleteWhere(q, graph=with_graph)
    elif head in ("DELETE", "INSERT"):
        delete_blk: list = []
        insert_blk: list = []
        if head == "DELETE":
            delete_blk = _parse_triple_block(
                t, prefixes, quads=quads, allow_var_graph=quads
            )
            if _is_kw(t.peek(), "INSERT"):
                t.take()
                insert_blk = _parse_triple_block(
                    t, prefixes, quads=quads, allow_var_graph=quads
                )
        else:
            insert_blk = _parse_triple_block(
                t, prefixes, quads=quads, allow_var_graph=quads
            )
        using: str | None = None
        if _is_kw(t.peek(), "USING"):
            if not quads:
                raise QueryError(
                    "USING is not supported (single-graph engine; use QuadStore.update)"
                )
            t.take()
            if _is_kw(t.peek(), "NAMED"):
                raise QueryError("USING NAMED is not supported; use GRAPH groups")
            using = _expand(t.take(), prefixes)
        t.expect("WHERE")
        block = _parse_triple_block(t, prefixes, quads=quads, allow_var_graph=quads)
        if not block:
            raise QueryError("the modify form needs a non-empty WHERE group")
        graphy = any(
            g is not None for g, *_ in (*delete_blk, *insert_blk, *block)
        )
        if graphy:
            form = ModifyQuads(
                _quad_patterns(delete_blk),
                _quad_patterns(insert_blk),
                _where_query(block),
                graph=with_graph,
                using=using,
            )
        else:
            q = Sparql()
            q.filter(_patterns(block))
            form = Modify(
                _patterns(delete_blk), _patterns(insert_blk), q,
                graph=with_graph, using=using,
            )
    else:
        raise QueryError(
            f"expected INSERT/DELETE (optionally DATA/WHERE), got {head!r}"
        )
    if t.peek() is not None:
        raise QueryError(f"trailing tokens in update: {t.toks[t.i:]}")
    return form


# ---------------------------------------------------------------------------
# Evaluation
# ---------------------------------------------------------------------------


def materialised(store):
    """``store`` (a TripleStore or QuadStore) over a lazily local-checkpointed
    copy of its frame: the WHERE-form snapshot contract (module docstring,
    "Scale shape")."""
    return type(store)(store.spark, store.df.localCheckpoint(eager=False))


def _graph_df(store, iri: str | None) -> DataFrame:
    """The triples of graph ``iri`` (None = the default graph). A
    TripleStore's frame has no ``g`` column: it is its one graph."""
    if "g" not in store.df.columns:
        return store.df
    return (store.graph(iri) if iri else store.default_graph()).df


def apply(store, form: UpdateForm):
    """Apply one parsed update to a TripleStore or a QuadStore → a new
    snapshot of the same type (the forms and their semantics are in the
    module docstring).

    Every form is DataFrame algebra: DATA forms are one small local frame
    + union/anti-join; the WHERE forms plan their group once and
    instantiate both templates from that one solution frame; graph
    management is predicate rewrites over the ``g`` column (MOVE =
    retag + drop, never a per-graph loop)."""
    spark, df = store.spark, store.df
    new = type(store)

    if isinstance(form, InsertData):
        return store.insert(form.rows)
    if isinstance(form, DeleteData):
        return store.remove(form.rows)

    if isinstance(form, GraphManage):
        g = F.col("g")
        if form.op == "create":
            # empty graphs are not tracked (module docstring in
            # quadstore.py): CREATE validates and is otherwise a no-op
            return store
        if form.op in ("clear", "drop"):
            if form.scope == "graph":
                return new(spark, df.filter(~g.eqNullSafe(F.lit(form.src))))
            if form.scope == "default":
                return new(spark, df.filter(g.isNotNull()))
            if form.scope == "named":
                return new(spark, df.filter(g.isNull()))
            return new.empty(spark)  # ALL
        # MOVE/COPY/ADD — src/dst None = the default graph
        src_match = g.eqNullSafe(F.lit(form.src))
        dst_lit = F.lit(form.dst).cast("string")
        if form.src == form.dst or (form.src is None and form.dst is None):
            return store  # spec: same-graph MOVE/COPY/ADD is a no-op
        moved = df.filter(src_match).withColumn("g", dst_lit).select(*model.QUAD_KEY)
        if form.op == "add":
            out = df.unionByName(moved)
        elif form.op == "copy":
            out = df.filter(~g.eqNullSafe(dst_lit)).unionByName(moved)
        else:  # move
            out = (
                df.filter(~g.eqNullSafe(dst_lit) & ~src_match).unionByName(moved)
            )
        return new(spark, out.dropDuplicates(model.QUAD_KEY))

    if isinstance(form, Load):
        from rippledb_spark.store import TripleStore

        path = form.source
        for pfx in ("file://", "file:"):
            if path.startswith(pfx):
                path = path[len(pfx):]
                break
        low = path.lower()
        if low.endswith(".nt"):
            ts = TripleStore.from_ntriples(spark, path)
        elif low.endswith(".ttl"):
            ts = TripleStore.from_turtle(spark, path)
        elif low.endswith((".rdf", ".xml", ".owl")):
            ts = TripleStore.from_rdf(spark, path)
        else:
            raise QueryError(f"LOAD cannot infer a format from {form.source!r}")
        add = ts.df.withColumn("g", F.lit(form.graph).cast("string"))
        return store.insert(add)

    quads = "g" in df.columns
    if isinstance(form, DeleteWhere):
        matched = matched_triples(_graph_df(store, form.graph), form.query)
        if quads:
            matched = matched.withColumn("g", F.lit(form.graph).cast("string"))
        return materialised(store.remove(matched))

    if isinstance(form, Modify):
        # single-graph templates: every pattern targets the WITH graph
        form = ModifyQuads(
            [(None, pat) for pat in form.delete_template],
            [(None, pat) for pat in form.insert_template],
            form.query, graph=form.graph, using=form.using,
        )
    if not isinstance(form, ModifyQuads):
        raise QueryError(f"unhandled update form {form!r}")
    if not form.delete_template and not form.insert_template:
        raise QueryError("the modify form needs a DELETE or INSERT clause")
    q = form.query
    names = _pattern_vars(q, required=False)
    # static validation FIRST: an unbound template variable is an error
    # regardless of whether the WHERE happens to match
    for g, pat in form.delete_template + form.insert_template:
        for u in [parse_unit(x) for x in ([g] if g else []) + pat]:
            if isinstance(u, Var) and u.name not in names:
                raise QueryError(
                    f"template variable ${u.name} is not bound by the WHERE group"
                )
    # WHERE dataset: USING overrides WITH overrides the true default.
    # USING behaves like FROM (§3.1.3): it REPLACES the dataset, so with
    # USING given the named-graph set is empty — GRAPH groups in the
    # WHERE then match nothing, exactly like FROM without FROM NAMED.
    default = _graph_df(store, form.using if form.using is not None else form.graph)
    named = None
    if quads:
        named = (
            df.limit(0) if form.using is not None else df.filter(F.col("g").isNotNull())
        )
    if names:
        sol = _solutions(default, q, names, named)
    elif bgp._ask_ground(default, named, q).count() == 0:
        return store  # a ground WHERE that does not match: a no-op
    else:
        sol = spark.range(1).drop("id")  # its one empty solution
    out = store
    if form.delete_template:
        dels = _instantiated(sol, form.delete_template, form.graph, quads)
        cond = (
            (df["s"] == dels["s"])
            & (df["p"] == dels["p"])
            & (df["o_value"] == dels["o_value"])
        )
        if quads:
            cond = df["g"].eqNullSafe(dels["g"]) & cond
        out = new(spark, df.join(dels, on=cond, how="left_anti"))
    if form.insert_template:
        ins = _instantiated(sol, form.insert_template, form.graph, quads)
        null_s = F.lit(None).cast("string")
        out = out.insert(
            ins.select(
                *ins.columns,
                F.lit(model.NAMED).alias("s_kind"),
                F.lit(model.NAMED).alias("o_kind"),
                null_s.alias("o_lang"),
                null_s.alias("o_datatype"),
            )
        )
    return materialised(out)


def _solutions(
    triples: DataFrame, q: Sparql, names: list[str], named: DataFrame | None = None
) -> DataFrame:
    """Solutions of an update's WHERE group projecting ``names``, planned
    on a copy of ``q`` so the parsed form stays as parsed. GRAPH groups
    resolve against ``named`` (quads; None for a TripleStore), plain
    patterns against ``triples``."""
    plan = copy.copy(q)
    plan.vars = []
    plan.select([f"${n}" for n in names])
    if named is None:
        return bgp.select_join(triples, plan)
    return bgp._select(triples, named, plan, True, None)


def matched_triples(triples: DataFrame, q: Sparql) -> DataFrame:
    """Every store row matched by some pattern of ``q`` under its
    solutions — full TRIPLE_KEY rows (exact kinds), the DELETE WHERE
    delete set. Each pattern's scan semi-joins the solution bindings on
    its variable positions."""
    names = _pattern_vars(q, required=False)
    sol = _solutions(triples, q, names) if names else None
    parts: list[DataFrame] = []
    for cond in q.conds:
        bounds = tuple(None if isinstance(u, Var) else u.value for u in cond)
        ci = pattern_filter(triples, *bounds)
        vpos = [(i, u.name) for i, u in enumerate(cond) if isinstance(u, Var)]
        if vpos and sol is not None:
            probe = sol.select(
                *[F.col(n).alias(f"__b{i}") for i, n in vpos]
            ).dropDuplicates()
            cond_expr = None
            for i, _ in vpos:
                eq = F.col(position_column(i)) == F.col(f"__b{i}")
                cond_expr = eq if cond_expr is None else (cond_expr & eq)
            ci = ci.join(probe, on=cond_expr, how="left_semi")
        parts.append(ci.select(*model.TRIPLE_KEY))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.dropDuplicates(model.TRIPLE_KEY)


def _instantiated(
    sol: DataFrame, template: list[tuple], graph: str | None, quads: bool
) -> DataFrame:
    """Quad templates × solutions → distinct (g, s, p, o_value) keys,
    without ``g`` for a triple store. A template's ``g`` of None is
    ``graph`` (the WITH graph; None = the default graph), ``'$var'`` takes
    the solution binding, anything else is a ground label. A row with an
    unbound variable — GRAPH variable included — is skipped, per spec."""
    parts = []
    for g, pat in template:
        units = dict(zip(("s", "p", "o_value"), map(parse_unit, pat)))
        if quads:
            units = {"g": Val(graph) if g is None else parse_unit(g), **units}
        term = lambda u: (  # noqa: E731
            F.col(u.name) if isinstance(u, Var) else F.lit(u.value).cast("string")
        )
        row = sol.select(*[term(u).alias(c) for c, u in units.items()])
        for c, u in units.items():
            if isinstance(u, Var):
                row = row.filter(F.col(c).isNotNull())
        parts.append(row)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.dropDuplicates()
