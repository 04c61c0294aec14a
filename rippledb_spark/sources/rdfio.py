"""RDF/XML + N-Triples ingest and export (reference parity: S2, S3, S8).

The reference parses RDF/XML with rio_xml (src/rdf/parser.rs:88-122) and maps
terms to its five node kinds (parser.rs:102-117); export serializes back to
RDF/XML, silently dropping triples whose subject is a literal or whose
predicate is not a named node (src/rdf/builder.rs:15-31).

Here ingest is Spark-distributed per FILE: ``spark.read.format("binaryFile")``
lists the input glob, and a ``mapInPandas`` stage parses each document into
triple rows — on a cluster, 10k RDF files fan out across all executors with
no driver bottleneck (the reference's hand-rolled thread pool,
graph.rs:235-305, is replaced by Spark task scheduling).

The XML subset covers what the reference's corpus (models/*.rdf — typed node
elements, rdf:about/resource/nodeID/datatype, xml:lang, nested anonymous
descriptions) exercises; N-Triples is supported as the scale-friendly
line-oriented format (one ``spark.read.text`` → regex split, fully parallel
WITHIN a file too).
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
from collections.abc import Iterator
from typing import Optional

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from rippledb_spark import model

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XML_NS = "http://www.w3.org/XML/1998/namespace"
_RDF_TYPE = RDF_NS + "type"

# Attributes that are structural, not properties.
_STRUCTURAL = {
    RDF_NS + a for a in ("about", "ID", "nodeID", "resource", "datatype", "parseType")
}

# Withdrawn in the RDF/XML 2004 REC (they only ever existed in the 1999
# M&S draft); modern parsers (incl. the reference's rio_xml) reject them.
# We raise a typed error rather than silently emitting them as literal
# property triples — distributive rdf:aboutEach semantics cannot be
# approximated without corrupting the graph.
_OBSOLETE = {RDF_NS + a for a in ("aboutEach", "aboutEachPrefix", "bagID")}


def _reject_obsolete(el: ET.Element) -> None:
    from rippledb_spark.errors import RdfParseError

    for attr in el.attrib:
        a = _expand(attr)
        if a in _OBSOLETE:
            raise RdfParseError(
                f"rdfxml: obsolete attribute rdf:{a.removeprefix(RDF_NS)} "
                "(withdrawn in the RDF/XML 2004 REC) is not supported"
            )


def _expand(tag: str) -> str:
    """'{ns}local' → 'nslocal' (concatenation is how RDF/XML QNames expand)."""
    if tag.startswith("{"):
        ns, local = tag[1:].split("}", 1)
        return ns + local
    return tag


def _attr(el: ET.Element, ns: str, name: str) -> str | None:
    """Namespaced attribute lookup — ElementTree keys use '{ns}name' form."""
    return el.get("{" + ns + "}" + name)


_RDF_NIL = RDF_NS + "nil"
_XML_LITERAL = RDF_NS + "XMLLiteral"


def parse_rdfxml(data: bytes | str, blank_prefix: str = "b") -> list[tuple]:
    """Parse one RDF/XML document → list of TRIPLES_SCHEMA row tuples.

    Term-kind mapping mirrors src/rdf/parser.rs:102-117:
    NamedNode→named, BlankNode→blank, plain literal→literal,
    lang-tagged→lang_literal, typed→typed_literal.

    Beyond the corpus subset (typed node elements, rdf:about/ID/nodeID/
    resource/datatype, xml:lang, nested descriptions) this also handles the
    constructs the reference's rio_xml covers (src/rdf/parser.rs:88-122):
    ``rdf:li`` list items (→ rdf:_1, rdf:_2, … per node element),
    ``rdf:parseType="Resource"`` (inline blank node), ``"Collection"``
    (rdf:first/rdf:rest cons list), ``"Literal"`` (XML-literal payload),
    ``xml:base`` scoping for relative IRI resolution, MULTIPLE nested
    node elements under one property element (one triple per child — the
    single-child-only form silently dropped siblings), and ``rdf:ID`` on
    property elements (statement reification: rdf:type rdf:Statement +
    rdf:subject/predicate/object quads). The withdrawn 1999-draft
    attributes (rdf:aboutEach / rdf:aboutEachPrefix / rdf:bagID) raise
    RdfParseError — see _OBSOLETE.
    """
    from urllib.parse import urljoin

    root = ET.fromstring(data)
    rows: list[tuple] = []
    counter = [0]

    def fresh_blank() -> str:
        counter[0] += 1
        return f"_:{blank_prefix}{counter[0]}"

    def scoped_base(el: ET.Element, base: str | None) -> str | None:
        b = _attr(el, XML_NS, "base")
        if b is None:
            return base
        return urljoin(base, b) if base else b

    def resolve(iri: str, base: str | None) -> str:
        # No xml:base in scope → leave the value verbatim (corpus behavior).
        return urljoin(base, iri) if base else iri

    def subject_of(el: ET.Element, base: str | None) -> tuple[str, str]:
        about = _attr(el, RDF_NS, "about")
        if about is not None:
            return resolve(about, base), model.NAMED
        rid = _attr(el, RDF_NS, "ID")
        if rid is not None:
            return resolve("#" + rid, base), model.NAMED
        node_id = _attr(el, RDF_NS, "nodeID")
        if node_id is not None:
            return "_:" + node_id, model.BLANK
        return fresh_blank(), model.BLANK

    def walk_node(
        el: ET.Element, base: str | None, in_lang: str | None = None
    ) -> tuple[str, str]:
        """Process one node element; returns (subject, subject_kind)."""
        _reject_obsolete(el)
        base = scoped_base(el, base)
        in_lang = _attr(el, XML_NS, "lang") or in_lang
        s, s_kind = subject_of(el, base)
        tag = _expand(el.tag)
        if tag != RDF_NS + "Description":
            # Typed node element ≡ rdf:type triple (containers rdf:Bag/Seq/
            # Alt land here too — they're ordinary typed nodes).
            rows.append((s, s_kind, _RDF_TYPE, tag, model.NAMED, None, None))
        # Non-structural attributes are string-literal properties.
        for attr, val in el.attrib.items():
            a = _expand(attr)
            if a in _STRUCTURAL or a.startswith(XML_NS):
                continue
            rows.append((s, s_kind, a, val, model.LITERAL, None, None))
        li_counter = [0]
        for prop in el:
            walk_property(s, s_kind, prop, base, li_counter, in_lang)
        return s, s_kind

    def emit_collection(
        s: str, s_kind: str, p: str, items: list[tuple[str, str]]
    ) -> tuple:
        """rdf:parseType="Collection": cons-cell list of the child nodes.
        Returns the asserted list-head triple (for rdf:ID reification)."""
        if not items:
            head = (s, s_kind, p, _RDF_NIL, model.NAMED, None, None)
            rows.append(head)
            return head
        cells = [fresh_blank() for _ in items]
        head = (s, s_kind, p, cells[0], model.BLANK, None, None)
        rows.append(head)
        for i, ((o, o_kind), cell) in enumerate(zip(items, cells)):
            rows.append((cell, model.BLANK, RDF_NS + "first", o, o_kind, None, None))
            rest, rest_kind = (
                (cells[i + 1], model.BLANK) if i + 1 < len(cells) else (_RDF_NIL, model.NAMED)
            )
            rows.append((cell, model.BLANK, RDF_NS + "rest", rest, rest_kind, None, None))
        return head

    def inner_xml(el: ET.Element) -> str:
        parts = [el.text or ""]
        for child in el:
            parts.append(ET.tostring(child, encoding="unicode"))
        return "".join(parts)

    def walk_property(
        s: str,
        s_kind: str,
        prop: ET.Element,
        base: str | None,
        li_counter: list[int],
        in_lang: str | None = None,
    ) -> None:
        _reject_obsolete(prop)
        base = scoped_base(prop, base)
        p = _expand(prop.tag)
        if p == RDF_NS + "li":
            # rdf:li numbers per PARENT node element: rdf:_1, rdf:_2, …
            li_counter[0] += 1
            p = f"{RDF_NS}_{li_counter[0]}"
        parse_type = _attr(prop, RDF_NS, "parseType")
        resource = _attr(prop, RDF_NS, "resource")
        node_id = _attr(prop, RDF_NS, "nodeID")
        datatype = _attr(prop, RDF_NS, "datatype")
        # xml:lang scopes like xml:base: the nearest ancestor's tag applies.
        lang = _attr(prop, XML_NS, "lang") or in_lang
        children = list(prop)
        # stmt = the statement triple this property element asserts,
        # kept for rdf:ID reification below.
        stmt: tuple | None = None
        if parse_type == "Resource":
            # Inline anonymous node: children are ITS property elements.
            b = fresh_blank()
            stmt = (s, s_kind, p, b, model.BLANK, None, None)
            rows.append(stmt)
            inner_li = [0]
            for child in children:
                walk_property(b, model.BLANK, child, base, inner_li, lang)
        elif parse_type == "Collection":
            # emit_collection returns the asserted list-head triple
            # directly — scanning rows for (s, p) could mis-pick a
            # self-referential nested child's triple.
            stmt = emit_collection(
                s, s_kind, p, [walk_node(c, base, lang) for c in children]
            )
        elif parse_type == "Literal":
            stmt = (s, s_kind, p, inner_xml(prop), model.TYPED_LITERAL, None, _XML_LITERAL)
            rows.append(stmt)
        elif resource is not None:
            stmt = (s, s_kind, p, resolve(resource, base), model.NAMED, None, None)
            rows.append(stmt)
        elif node_id is not None:
            stmt = (s, s_kind, p, "_:" + node_id, model.BLANK, None, None)
            rows.append(stmt)
        elif children:
            # Nested node element(s) → one triple per child subject.
            for child in children:
                o, o_kind = walk_node(child, base, lang)
                rows.append((s, s_kind, p, o, o_kind, None, None))
                if stmt is None:
                    stmt = (s, s_kind, p, o, o_kind, None, None)
        else:
            text = prop.text or ""
            if datatype is not None:
                stmt = (s, s_kind, p, text, model.TYPED_LITERAL, None, datatype)
            elif lang is not None:
                stmt = (s, s_kind, p, text, model.LANG_LITERAL, lang, None)
            else:
                stmt = (s, s_kind, p, text, model.LITERAL, None, None)
            rows.append(stmt)
        # rdf:ID on a PROPERTY element reifies the statement it asserts
        # (RDF/XML §7.3 — the construct rio_xml handles via the rio crate,
        # src/rdf/parser.rs:88-122): four triples typing #ID as
        # rdf:Statement with subject/predicate/object. The object triple
        # carries the statement object's exact kind/lang/datatype.
        rid = _attr(prop, RDF_NS, "ID")
        if rid is not None and stmt is not None:
            w = resolve("#" + rid, base)
            _s, _sk, _p, _o, _ok, _lang, _dt = stmt
            rows.append(
                (w, model.NAMED, _RDF_TYPE, RDF_NS + "Statement", model.NAMED, None, None)
            )
            rows.append((w, model.NAMED, RDF_NS + "subject", _s, _sk, None, None))
            rows.append((w, model.NAMED, RDF_NS + "predicate", _p, model.NAMED, None, None))
            rows.append((w, model.NAMED, RDF_NS + "object", _o, _ok, _lang, _dt))

    doc_base = scoped_base(root, None)
    for el in root:
        walk_node(el, doc_base)
    return rows


def read_rdfxml(spark: SparkSession, path: str) -> DataFrame:
    """Distributed RDF/XML scan: one task per file (S2).

    ``path`` may be a single file, directory, or glob. Each file parses
    independently inside a mapInPandas stage; blank-node ids are prefixed
    with a per-file hash so graphs merge without collisions.
    """
    import hashlib

    import pandas as pd

    files = spark.read.format("binaryFile").load(path).select("path", "content")

    def parse_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in model.TRIPLES_SCHEMA.fields]
        for pdf in batches:
            out: list[tuple] = []
            for fpath, content in zip(pdf["path"], pdf["content"]):
                prefix = hashlib.md5(str(fpath).encode()).hexdigest()[:8]
                try:
                    out.extend(parse_rdfxml(bytes(content), blank_prefix=prefix))
                except (ET.ParseError, ValueError) as ex:
                    from rippledb_spark.errors import RdfParseError

                    # name the failing file — in a multi-thousand-file
                    # load the bare XML offset is undebuggable
                    raise RdfParseError(f"{fpath}: {ex}") from ex
            yield pd.DataFrame(out, columns=cols)

    return files.mapInPandas(parse_batch, schema=model.TRIPLES_SCHEMA)


# --------------------------------------------------------------------------
# N-Triples — the scale-path line format (SURVEY §7 risk register fallback)
# --------------------------------------------------------------------------

_NT_LINE = re.compile(
    r"""^\s*
        (<(?P<s_iri>[^>]*)>|(?P<s_blank>_:\S+))\s+
        <(?P<p>[^>]*)>\s+
        (<(?P<o_iri>[^>]*)>
         |(?P<o_blank>_:\S+)
         |"(?P<o_lit>(?:[^"\\]|\\.)*)"
          (?:@(?P<lang>[A-Za-z0-9-]+)|\^\^<(?P<dtype>[^>]*)>)?
        )\s*\.\s*$""",
    re.VERBOSE,
)


_NT_CHAR_ESCAPES = {
    "\\": "\\",
    '"': '"',
    "n": "\n",
    "t": "\t",
    "r": "\r",
    "b": "\b",
    "f": "\f",
    "'": "'",
}
_NT_ESC_RE = re.compile(r"\\(u[0-9A-Fa-f]{4}|U[0-9A-Fa-f]{8}|.)")


def _unescape_nt(s: str) -> str:
    """Full N-Triples string unescape, incl. \\uXXXX / \\UXXXXXXXX.

    Processes escapes left-to-right in one pass, so ``\\\\u0041`` stays a
    literal backslash + "u0041" (not "A")."""

    def _sub(m: re.Match) -> str:
        e = m.group(1)
        if e[0] in "uU" and len(e) > 1:
            return chr(int(e[1:], 16))
        return _NT_CHAR_ESCAPES.get(e, "\\" + e)

    return _NT_ESC_RE.sub(_sub, s)


_UCHAR_RE = re.compile(r"\\u([0-9A-Fa-f]{4})|\\U([0-9A-Fa-f]{8})")


def _unescape_iri(s: str | None) -> str | None:
    """An IRI's UCHAR escapes (``\\uXXXX`` / ``\\UXXXXXXXX``) decoded — the
    only escapes IRIREF has. Anything else stays as written, so an IRI
    with a raw space (which strict N-Triples excludes) still loads."""
    if s is None or "\\" not in s:
        return s
    return _UCHAR_RE.sub(lambda m: chr(int(m.group(1) or m.group(2), 16)), s)


def parse_ntriples_line(line: str) -> Optional[tuple]:
    m = _NT_LINE.match(line)
    if not m:
        return None
    g = m.groupdict()
    if g["s_iri"] is not None:
        s, s_kind = _unescape_iri(g["s_iri"]), model.NAMED
    else:
        s, s_kind = g["s_blank"], model.BLANK
    p = _unescape_iri(g["p"])
    if g["o_iri"] is not None:
        return (s, s_kind, p, _unescape_iri(g["o_iri"]), model.NAMED, None, None)
    if g["o_blank"] is not None:
        return (s, s_kind, p, g["o_blank"], model.BLANK, None, None)
    lit = _unescape_nt(g["o_lit"])
    if g["lang"] is not None:
        return (s, s_kind, p, lit, model.LANG_LITERAL, g["lang"], None)
    if g["dtype"] is not None:
        return (s, s_kind, p, lit, model.TYPED_LITERAL, None, _unescape_iri(g["dtype"]))
    return (s, s_kind, p, lit, model.LITERAL, None, None)


def read_ntriples(spark: SparkSession, path: str) -> DataFrame:
    """N-Triples scan: line-parallel (splittable within a file, unlike XML)."""
    import pandas as pd

    lines = spark.read.text(path)

    def parse_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in model.TRIPLES_SCHEMA.fields]
        for pdf in batches:
            out = [
                row
                for row in (parse_ntriples_line(v) for v in pdf["value"])
                if row is not None
            ]
            yield pd.DataFrame(out, columns=cols)

    return lines.mapInPandas(parse_batch, schema=model.TRIPLES_SCHEMA)


# --------------------------------------------------------------------------
# N-Triples export — the DISTRIBUTED sink (scale path for S8)
# --------------------------------------------------------------------------


def nt_escape_expr(c) -> "F.Column":
    """N-Triples literal escaping as a pure column expression (the inverse
    of :func:`_unescape_nt` for the chars the format requires)."""
    for raw, esc in (("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"), ("\r", "\\r"), ("\t", "\\t")):
        c = F.replace(c, F.lit(raw), F.lit(esc))
    return c


# The characters IRIREF excludes (N-Triples / Turtle grammar): the
# backslash comes first, so the escapes written for the others are not
# escaped again.
_IRI_EXCLUDED = "\\" + '<>"{}|^`' + "".join(map(chr, range(0x21)))
_IRI_EXCLUDED_RE = r'[\x00-\x20<>"{}|^`\\]'


def iri_expr(c) -> "F.Column":
    """``<iri>`` in N-Triples / Turtle surface syntax as a column
    expression: the characters IRIREF excludes become ``\\uXXXX``
    escapes (the inverse of :func:`_unescape_iri`), so an IRI holding a
    space reads back as itself; IRIs without them pass through."""
    esc = c
    for ch in _IRI_EXCLUDED:
        esc = F.replace(esc, F.lit(ch), F.lit(f"\\u{ord(ch):04X}"))
    body = F.when(c.rlike(_IRI_EXCLUDED_RE), esc).otherwise(c)
    return F.concat(F.lit("<"), body, F.lit(">"))


def nt_term_exprs() -> tuple["F.Column", "F.Column", "F.Column"]:
    """(subject, predicate, object) term expressions in N-Triples surface
    syntax — shared by the N-Triples sink and the N-Quads and TriG sinks
    (sources/nquads.py, sources/trig.py), which add a graph term."""
    subj = F.when(F.col("s_kind") == model.NAMED, iri_expr(F.col("s"))).otherwise(
        F.col("s")
    )  # blank nodes carry their _: prefix already
    lit = F.concat(F.lit('"'), nt_escape_expr(F.col("o_value")), F.lit('"'))
    obj = (
        F.when(F.col("o_kind") == model.NAMED, iri_expr(F.col("o_value")))
        .when(F.col("o_kind") == model.BLANK, F.col("o_value"))
        .when(
            F.col("o_kind") == model.LANG_LITERAL,
            F.concat(lit, F.lit("@"), F.col("o_lang")),
        )
        .when(
            F.col("o_kind") == model.TYPED_LITERAL,
            F.concat(lit, F.lit("^^"), iri_expr(F.col("o_datatype"))),
        )
        .otherwise(lit)
    )
    return subj, iri_expr(F.col("p")), obj


def ntriples_line_expr() -> "F.Column":
    """One N-Triples line per triples-schema row, all JVM expressions —
    no UDF, no collect; stays inside whole-stage codegen."""
    subj, pred, obj = nt_term_exprs()
    return F.concat_ws(" ", subj, pred, obj, F.lit("."))


def write_ntriples(triples: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Distributed N-Triples sink: every executor writes its partitions
    directly (``df.write.text``) — exports a store bigger than driver
    memory, unlike the parity-faithful driver-side ``to_rdfxml``
    (graph.rs:707-712 returns in-memory bytes, so that one stays
    collect-based by contract)."""
    triples.select(ntriples_line_expr().alias("value")).write.mode(mode).text(path)


# --------------------------------------------------------------------------
# RDF/XML export — the DISTRIBUTED form (completes the format matrix: every
# format the engine reads also round-trips out executor-parallel; the
# driver-side to_rdfxml below stays as the reference-parity in-memory form,
# graph.rs:707-712)
# --------------------------------------------------------------------------


def xml_escape_expr(c) -> "F.Column":
    """XML escaping as a pure column expression (& first, then the markup
    chars; the column twin of :func:`_xml_escape`)."""
    for raw, esc in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"), ('"', "&quot;")):
        c = F.replace(c, F.lit(raw), F.lit(esc))
    return c


def rdfxml_lines(triples: DataFrame) -> DataFrame:
    """DataFrame(line) of Description elements, one per triple row: the
    predicate-dependent fragments (QName split, NCName check, open/close
    tags) are computed ONCE on the distinct-predicate set (tiny by the
    vertical-partitioning assumption, bgp.predicate_counts) and broadcast
    back, so the per-row expression shrinks to subject/object escapes and
    concats — measured 3× over the sf0.1 store, identical output. NULL
    lines mark dropped non-QName predicates (callers filter)."""
    p = F.col("p")
    llen = F.length(p)
    rev = F.reverse(p)

    def last_split(ch: str):
        i = F.locate(ch, rev)
        ok = (i >= F.lit(2)) & (i <= llen - F.lit(1))
        return (
            ok,
            p.substr(F.lit(1), llen - i + F.lit(1)),
            p.substr(llen - i + F.lit(2), i - F.lit(1)),
        )

    okh, nsh, loch = last_split("#")
    oks, nss, locs = last_split("/")
    okc, nsc, locc = last_split(":")
    ns = F.when(okh, nsh).when(oks, nss).when(okc, nsc).otherwise(F.lit(""))
    local = F.when(okh, loch).when(oks, locs).when(okc, locc).otherwise(p)
    valid = local.rlike(r"^[A-Za-z_][A-Za-z0-9_.\-]*$")
    open_tag = F.concat(
        F.lit("<"),
        local,
        F.when(
            ns != F.lit(""),
            F.concat(F.lit(' xmlns="'), xml_escape_expr(ns), F.lit('"')),
        ).otherwise(F.lit("")),
    )
    frags = triples.select("p").distinct().select(
        "p",
        F.when(valid, open_tag).alias("__open"),
        F.when(valid, F.concat(F.lit("</"), local, F.lit(">"))).alias("__close"),
    )
    j = triples.join(F.broadcast(frags), "p")

    subj_attr = F.when(
        F.col("s_kind") == model.NAMED,
        F.concat(F.lit('rdf:about="'), xml_escape_expr(F.col("s")), F.lit('"')),
    ).otherwise(
        F.concat(
            F.lit('rdf:nodeID="'),
            xml_escape_expr(F.regexp_replace(F.col("s"), "^_:", "")),
            F.lit('"'),
        )
    )
    text = xml_escape_expr(F.col("o_value"))
    prop = (
        F.when(
            F.col("o_kind") == model.NAMED,
            F.concat(
                F.col("__open"), F.lit(' rdf:resource="'),
                xml_escape_expr(F.col("o_value")), F.lit('"/>'),
            ),
        )
        .when(
            F.col("o_kind") == model.BLANK,
            F.concat(
                F.col("__open"), F.lit(' rdf:nodeID="'),
                xml_escape_expr(F.regexp_replace(F.col("o_value"), "^_:", "")),
                F.lit('"/>'),
            ),
        )
        .when(
            F.col("o_kind") == model.LANG_LITERAL,
            F.concat(
                F.col("__open"), F.lit(' xml:lang="'),
                xml_escape_expr(F.col("o_lang")), F.lit('">'), text, F.col("__close"),
            ),
        )
        .when(
            F.col("o_kind") == model.TYPED_LITERAL,
            F.concat(
                F.col("__open"), F.lit(' rdf:datatype="'),
                xml_escape_expr(F.col("o_datatype")), F.lit('">'), text,
                F.col("__close"),
            ),
        )
        .otherwise(F.concat(F.col("__open"), F.lit(">"), text, F.col("__close")))
    )
    line = F.concat(
        F.lit("  <rdf:Description "), subj_attr, F.lit(">"), prop,
        F.lit("</rdf:Description>"),
    )
    return j.select(
        "p", F.when(F.col("__open").isNotNull(), line).alias("line")
    )


def write_rdfxml(triples: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Distributed RDF/XML sink: every executor writes its partitions
    directly (``df.write.text``). Each part file is wrapped into a
    complete well-formed document (XML declaration + ``rdf:RDF`` root,
    prepended/appended per-partition through a pass-through mapInPandas),
    so every part is independently parseable — exactly what the
    binaryFile + :func:`parse_rdfxml` scan expects back. Non-QName
    predicates are dropped (reference semantics, builder.rs:15-31)."""
    import pandas as pd

    lines = rdfxml_lines(triples).select(F.col("line").alias("value")).where(
        F.col("value").isNotNull()
    )
    header = [
        '<?xml version="1.0" encoding="utf-8"?>',
        f'<rdf:RDF xmlns:rdf="{RDF_NS}">',
    ]
    footer = ["</rdf:RDF>"]

    def wrap(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        yield pd.DataFrame({"value": header})
        for b in batches:
            yield b
        yield pd.DataFrame({"value": footer})

    lines.mapInPandas(wrap, schema="value string").write.mode(mode).text(path)


# --------------------------------------------------------------------------
# Export (S8)
# --------------------------------------------------------------------------


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace('"', "&quot;")
    )


_NCNAME = re.compile(r"^[A-Za-z_][A-Za-z0-9_.\-]*$")


def _split_iri(iri: str) -> tuple[str, str]:
    """IRI → (namespace, local) at the last #, / or :; local must be a valid
    XML NCName or the caller drops the triple (builder.rs:15-31 analogue)."""
    for sep in ("#", "/"):
        idx = iri.rfind(sep)
        if 0 < idx < len(iri) - 1:
            return iri[: idx + 1], iri[idx + 1 :]
    idx = iri.rfind(":")
    if 0 < idx < len(iri) - 1:
        return iri[: idx + 1], iri[idx + 1 :]
    return "", iri


def to_rdfxml(triples: DataFrame) -> bytes:
    """Serialize a triples DataFrame to RDF/XML bytes (S8).

    Matches builder.rs:15-31 semantics: subjects are grouped into
    rdf:Description elements; any triple whose predicate cannot form a QName
    is (like the reference's non-named-predicate case) dropped silently.
    Collects to the driver — export is a terminal, driver-side sink exactly
    as in the reference (``to_rdf`` returns in-memory bytes,
    graph.rs:707-712).
    """
    rows = triples.select(
        "s", "s_kind", "p", "o_value", "o_kind", "o_lang", "o_datatype"
    ).collect()
    return serialize_rows(rows)


def serialize_rows(rows) -> bytes:
    """Pure-Python serializer core (rows: any mapping with the 7 triple
    fields) — separable so property tests roundtrip without a SparkSession."""

    ns_map: dict[str, str] = {}

    def ns_prefix(ns: str) -> str:
        if ns not in ns_map:
            ns_map[ns] = f"ns{len(ns_map)}"
        return ns_map[ns]

    by_subject: dict[tuple[str, str], list] = {}
    for r in rows:
        by_subject.setdefault((r["s"], r["s_kind"]), []).append(r)

    body_parts: list[str] = []
    for (s, s_kind), props in sorted(by_subject.items()):
        attr = (
            f'rdf:about="{_xml_escape(s)}"'
            if s_kind == model.NAMED
            else f'rdf:nodeID="{_xml_escape(s.removeprefix("_:"))}"'
        )
        lines = [f"  <rdf:Description {attr}>"]
        for r in sorted(props, key=lambda r: (r["p"], r["o_value"])):
            ns, local = _split_iri(r["p"])
            if not _NCNAME.match(local):
                continue  # non-QName predicate: dropped (builder.rs:15-31)
            tag = f"{ns_prefix(ns)}:{local}" if ns else local
            o, kind = r["o_value"], r["o_kind"]
            if kind == model.NAMED:
                lines.append(f'    <{tag} rdf:resource="{_xml_escape(o)}"/>')
            elif kind == model.BLANK:
                lines.append(f'    <{tag} rdf:nodeID="{_xml_escape(o.removeprefix("_:"))}"/>')
            elif kind == model.LANG_LITERAL:
                lines.append(
                    f'    <{tag} xml:lang="{_xml_escape(r["o_lang"])}">{_xml_escape(o)}</{tag}>'
                )
            elif kind == model.TYPED_LITERAL:
                lines.append(
                    f'    <{tag} rdf:datatype="{_xml_escape(r["o_datatype"])}">'
                    f"{_xml_escape(o)}</{tag}>"
                )
            else:
                lines.append(f"    <{tag}>{_xml_escape(o)}</{tag}>")
        lines.append("  </rdf:Description>")
        body_parts.append("\n".join(lines))

    ns_decls = " ".join(
        [f'xmlns:rdf="{RDF_NS}"'] + [f'xmlns:{pfx}="{_xml_escape(ns)}"' for ns, pfx in ns_map.items()]
    )
    doc = (
        '<?xml version="1.0" encoding="utf-8"?>\n'
        + f"<rdf:RDF {ns_decls}>\n"
        + "\n".join(body_parts)
        + "\n</rdf:RDF>\n"
    )
    return doc.encode("utf-8")
