"""TriG (RDF 1.1 TriG) in/out — the block-structured quad format: Turtle
syntax plus graph blocks. With N-Quads (sources/nquads.py) this completes
both W3C quad serializations for the dataset tier, the same way
Turtle + N-Triples cover the triple store. Engine-tier throughout (the
reference has no graph dimension, src/datastore/graph.rs).

Supported grammar = the Turtle subset of sources/turtle.py, plus::

    <label> { triples }            -- named graph block
    GRAPH <label> { triples }      -- same, keyword form
    _:b { triples }                -- blank-node graph label
    { triples }                    -- explicit default-graph block
    s p o .                        -- bare statement (default graph)

A graph label may repeat across blocks (the graph is the union — RDF 1.1
TriG §2.2), which is exactly what lets the WRITER stream blocks
per-Arrow-batch without any cross-partition coordination.

Scale shape: the reader is one task per file (TriG, like Turtle, is not
line-splittable); the writer pre-serializes each quad's triple part as a
pure column expression, repartitions by graph label, and only concatenates
block braces inside Arrow batches — no driver collect, no global sort.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from rippledb_spark import model
from rippledb_spark.errors import RdfParseError as ParseError
from rippledb_spark.sources.rdfio import iri_expr, nt_term_exprs
from rippledb_spark.sources.turtle import _Parser, _tokenize


class _TrigParser(_Parser):
    """Turtle parser + graph blocks: statements inherit unchanged (the
    base class appends triple rows to ``self.rows``); this wrapper drains
    them into ``self.quads`` tagged with the enclosing graph label."""

    def __init__(self, tokens: list[tuple[str, str]], blank_prefix: str):
        super().__init__(tokens, blank_prefix)
        self.quads: list[tuple] = []

    def _drain(self, graph: str | None) -> None:
        self.quads.extend((graph, *row) for row in self.rows)
        self.rows.clear()

    def _graph_label(self) -> str:
        kind, val = self.next()
        if kind == "iriref":
            return self.resolve_iri(val)
        if kind == "pname":
            return self.expand_pname(val)
        if kind == "blank":
            return f"_:{self.blank_prefix}{val[2:]}"
        raise ParseError(f"trig: bad graph label {val!r}")

    def _wrapped_block(self, graph: str | None) -> None:
        """'{' already expected next: statements until the matching '}'.
        Inner statements are plain Turtle triples (no nesting)."""
        self.expect_punct("{")
        while True:
            nxt = self.peek()
            if nxt is None:
                raise ParseError("trig: unclosed graph block")
            if nxt[0] == "punct" and nxt[1] == "}":
                self.next()
                break
            if nxt[0] in ("kw_graph",) or (nxt[0] == "punct" and nxt[1] == "{"):
                raise ParseError("trig: graph blocks do not nest")
            self._inner_triples()
        self._drain(graph)

    def _inner_triples(self) -> None:
        """One triples statement inside a block; the final '.' is
        optional before '}' (TriG grammar)."""
        kind, val = self.next()
        if kind == "prefix_kw":
            raise ParseError("trig: directives are not allowed inside graph blocks")
        if kind == "iriref":
            s, sk = self.resolve_iri(val), model.NAMED
        elif kind == "pname":
            s, sk = self.expand_pname(val), model.NAMED
        elif kind == "blank":
            s, sk = f"_:{self.blank_prefix}{val[2:]}", model.BLANK
        elif kind == "punct" and val == "[":
            s, sk, _, _ = self.blank_property_list()
            nxt = self.peek()
            if nxt and nxt[0] == "punct" and nxt[1] in (".", "}"):
                if nxt[1] == ".":
                    self.next()
                return
        elif kind == "punct" and val == "(":
            s, sk, _, _ = self.collection()
        else:
            raise ParseError(f"trig: unexpected subject token {val!r}")
        self.predicate_object_list(s, sk)
        nxt = self.peek()
        if nxt and nxt[0] == "punct" and nxt[1] == ".":
            self.next()
        elif not (nxt and nxt[0] == "punct" and nxt[1] == "}"):
            raise ParseError("trig: expected '.' or '}' after triples")

    def trig_statement(self) -> None:
        nxt = self.peek()
        if nxt is None:
            return
        kind, val = nxt
        if kind == "prefix_kw":
            self.statement()  # directive (base class consumes it fully)
            self._drain(None)
            return
        if kind == "kw_graph":
            self.next()
            label = self._graph_label()
            self._wrapped_block(label)
            return
        if kind == "punct" and val == "{":
            self._wrapped_block(None)  # explicit default-graph block
            return
        if kind in ("iriref", "pname", "blank"):
            # lookahead: `<label> {` is a graph block, else a subject
            save = self.i
            self.next()
            after = self.peek()
            if after and after[0] == "punct" and after[1] == "{":
                self.i = save
                label = self._graph_label()
                self._wrapped_block(label)
                return
            self.i = save
        self.statement()  # bare default-graph triples statement
        self._drain(None)


def parse_trig(data: bytes | str, blank_prefix: str = "t") -> list[tuple]:
    """Parse one TriG document → list of QUADS_SCHEMA row tuples."""
    text = data.decode("utf-8") if isinstance(data, bytes) else data
    p = _TrigParser(_tokenize(text), blank_prefix)
    while p.peek() is not None:
        p.trig_statement()
    return p.quads


def read_trig(spark: SparkSession, path: str) -> DataFrame:
    """Distributed TriG scan: one task per file (read_turtle's shape)."""
    import hashlib

    import pandas as pd

    files = spark.read.format("binaryFile").load(path).select("path", "content")

    def parse_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in model.QUADS_SCHEMA.fields]
        for pdf in batches:
            out: list[tuple] = []
            for fpath, content in zip(pdf["path"], pdf["content"]):
                prefix = hashlib.md5(str(fpath).encode()).hexdigest()[:8]
                try:
                    out.extend(parse_trig(bytes(content), blank_prefix=prefix))
                except ParseError as ex:
                    raise ParseError(f"{fpath}: {ex}") from ex
            yield pd.DataFrame(out, columns=cols)

    return files.mapInPandas(parse_batch, schema=model.QUADS_SCHEMA)


def write_trig(quads: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Distributed TriG sink. Each quad's triple part serializes as a pure
    column expression (full IRIs — always-valid Turtle, no prefix
    coordination across partitions); rows repartition by graph label so a
    graph's blocks cluster, then each Arrow batch emits its labels as
    blocks (labels may repeat across batches — the graph is the union,
    TriG §2.2). Default-graph rows emit as bare statements."""
    import pandas as pd

    subj, pred, obj = nt_term_exprs()
    triple = F.concat_ws(" ", subj, pred, obj)
    gterm = F.when(
        F.col("g").isNull() | F.col("g").startswith("_:"), F.col("g")
    ).otherwise(iri_expr(F.col("g")))
    rows = quads.select(gterm.alias("g"), triple.alias("t")).repartition("g")

    def to_docs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            parts: list[str] = []
            default_mask = pdf["g"].isna()
            for t in pdf.loc[default_mask, "t"]:
                parts.append(f"{t} .")
            for label, grp in pdf.loc[~default_mask].groupby("g", sort=True):
                body = " .\n  ".join(grp["t"])
                parts.append(f"{label} {{\n  {body} .\n}}")
            yield pd.DataFrame({"value": ["\n".join(parts)]} if parts else {"value": []})

    rows.mapInPandas(to_docs, schema="value string").write.mode(mode).text(path)
