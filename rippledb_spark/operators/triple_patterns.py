"""Triple-pattern access paths (reference parity: Q3-Q12).

The reference dispatches 8 ways on which of (s, p, o) are bound
(``get_from_triple``, src/datastore/graph.rs:842-853) to pick a physical
access path over per-predicate K2Tree bitmaps (spo/_po/s_o/sp_/__o/_p_/
s__/___, graph.rs:854-1009). In Spark ALL EIGHT collapse into one
declarative filter — Catalyst's predicate pushdown + partition pruning
(triples persisted ``partitionBy("p")``) recover exactly the same access
paths physically:

- bound p         → partition pruning ≡ selecting the one slice
- bound s and/or o → parquet min/max + dictionary row-group skipping
                     ≡ row/column probes on the bitmap
- nothing bound   → full scan (___, graph.rs:993-1009)

Term identity: a constant matches the stored term with the same value
and kind, and for a language-tagged or typed literal the same tag or
datatype — the reference's dictionary key is the whole ``RdfNode``
(PAPER.md §1.3). The builder's ``$``-strings are named nodes by
construction (``to_named_node``, graph.rs:1031-1033), so a builder query
reaches literals and blank nodes only through variables; the SPARQL text
front end writes literals and blank nodes as constants too.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from rippledb_spark import model
from rippledb_spark.plans.sparql import Val

# pattern position → (value column, kind column or None)
_POS_COLS = {0: ("s", "s_kind"), 1: ("p", None), 2: ("o_value", "o_kind")}


def position_column(pos: int) -> str:
    """Column holding the node value at pattern position 0/1/2."""
    return _POS_COLS[pos][0]


def pattern_condition(s, p, o) -> Column | None:
    """Filter Column for one (s, p, o) pattern of units; a ``Val`` is a
    constant, anything else (a ``Var`` or None) is unconstrained, and None
    comes back when nothing is."""
    conds: list[Column] = []
    for pos, u in enumerate((s, p, o)):
        if not isinstance(u, Val):
            continue
        val_col, kind_col = _POS_COLS[pos]
        c = F.col(val_col) == F.lit(u.value)
        if kind_col is not None:
            c = c & (F.col(kind_col) == F.lit(u.kind))
        elif u.kind != model.NAMED:
            c = F.lit(False)  # predicates are IRIs
        if u.lang is not None:
            c = c & (F.col("o_lang") == F.lit(u.lang))
        if u.datatype is not None:
            c = c & (F.col("o_datatype") == F.lit(u.datatype))
        conds.append(c)
    if not conds:
        return None
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def pattern_filter(triples: DataFrame, s, p, o) -> DataFrame:
    """All 8 access paths of graph.rs:842-853 as one declarative filter."""
    cond = pattern_condition(s, p, o)
    return triples if cond is None else triples.filter(cond)
