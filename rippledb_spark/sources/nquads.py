"""N-Quads in/out — the line-based quad interchange format (W3C N-Quads:
an N-Triples line plus an optional graph-label term before the final dot).

Completes the dataset tier's IO story the same way N-Triples does the
triple store's (sources/rdfio.py:368-434): line-parallel scan (splittable
within a file — the scale property XML formats lack) and a distributed
``df.write.text`` sink built from pure column expressions (no UDF in the
serializer). The reference has no graph dimension at all (single K2Tree
store, src/datastore/graph.rs), so both directions are engine-tier.
"""

from __future__ import annotations

import re
from typing import Optional

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from rippledb_spark import model
from rippledb_spark.sources.rdfio import _unescape_iri, _unescape_nt, iri_expr, nt_term_exprs

# An N-Triples line with an optional graph term (IRI or blank label)
# between the object and the dot.
_NQ_LINE = re.compile(
    r"""^\s*
        (<(?P<s_iri>[^>]*)>|(?P<s_blank>_:\S+))\s+
        <(?P<p>[^>]*)>\s+
        (<(?P<o_iri>[^>]*)>
         |(?P<o_blank>_:\S+)
         |"(?P<o_lit>(?:[^"\\]|\\.)*)"
          (?:@(?P<lang>[A-Za-z0-9-]+)|\^\^<(?P<dtype>[^>]*)>)?
        )
        (?:\s+(<(?P<g_iri>[^>]*)>|(?P<g_blank>_:\S+)))?\s*\.\s*$""",
    re.VERBOSE,
)


def parse_nquads_line(line: str) -> Optional[tuple]:
    """One line → QUADS_SCHEMA row (g=None for 3-term default-graph
    lines), or None for blank/comment/malformed lines (skip semantics,
    like the N-Triples reader)."""
    m = _NQ_LINE.match(line)
    if not m:
        return None
    d = m.groupdict()
    g = _unescape_iri(d["g_iri"]) if d["g_iri"] is not None else d["g_blank"]
    if d["s_iri"] is not None:
        s, s_kind = _unescape_iri(d["s_iri"]), model.NAMED
    else:
        s, s_kind = d["s_blank"], model.BLANK
    p = _unescape_iri(d["p"])
    if d["o_iri"] is not None:
        return (g, s, s_kind, p, _unescape_iri(d["o_iri"]), model.NAMED, None, None)
    if d["o_blank"] is not None:
        return (g, s, s_kind, p, d["o_blank"], model.BLANK, None, None)
    lit = _unescape_nt(d["o_lit"])
    if d["lang"] is not None:
        return (g, s, s_kind, p, lit, model.LANG_LITERAL, d["lang"], None)
    if d["dtype"] is not None:
        return (g, s, s_kind, p, lit, model.TYPED_LITERAL, None, _unescape_iri(d["dtype"]))
    return (g, s, s_kind, p, lit, model.LITERAL, None, None)


def nquads_parse_batch(batches):
    """Arrow kernel: batches of text lines → QUADS_SCHEMA frames
    (malformed/blank lines skipped). Stateless, so it runs per batch on
    the executors."""
    import pandas as pd

    cols = [f.name for f in model.QUADS_SCHEMA.fields]
    for pdf in batches:
        out = [
            row
            for row in (parse_nquads_line(v) for v in pdf["value"])
            if row is not None
        ]
        yield pd.DataFrame(out, columns=cols)


def read_nquads(spark: SparkSession, path: str) -> DataFrame:
    """N-Quads scan: line-parallel, Arrow-batched."""
    lines = spark.read.text(path)
    return lines.mapInPandas(nquads_parse_batch, schema=model.QUADS_SCHEMA)


def nquads_line_expr() -> "F.Column":
    """One N-Quads line per quads-schema row — the N-Triples terms plus
    an optional graph label before the dot. Pure JVM expressions
    (whole-stage codegen), no UDF. concat_ws skips NULLs, so default-graph
    rows (g NULL) collapse to valid 3-term lines."""
    subj, pred, obj = nt_term_exprs()
    gterm = (
        F.when(F.col("g").isNull(), F.lit(None).cast("string"))
        .when(F.col("g").startswith("_:"), F.col("g"))
        .otherwise(iri_expr(F.col("g")))
    )
    return F.concat_ws(" ", subj, pred, obj, gterm, F.lit("."))


def write_nquads(quads: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Distributed N-Quads sink: every executor writes its partitions
    directly — the whole dataset (default + named graphs) in one pass."""
    quads.select(nquads_line_expr().alias("value")).write.mode(mode).text(path)
